package graft

import graft.operators.Similarity.{AnnIndex, Quantizer, QuantizerKind}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The ANN index table the index specs run over: every quantizer, with
  * and without an IVF header (FAISS factory labels).
  */
object AnnTable {
  final case class Row(label: String, kind: QuantizerKind, nlist: Int)

  val rows: Seq[Row] = Seq(
    Row("Flat", Quantizer.Flat, 0), Row("IVF8,Flat", Quantizer.Flat, 8),
    Row("SQ8", Quantizer.SQ8, 0), Row("IVF8,SQ8", Quantizer.SQ8, 8),
    Row("PQ8", Quantizer.PQ, 0), Row("IVF8,PQ8", Quantizer.PQ, 8),
    Row("OPQ8,PQ8", Quantizer.OPQ, 0), Row("OPQ8,IVF8,PQ8", Quantizer.OPQ, 8))

  def train(spark: SparkSession, r: Row, corpus: DataFrame): AnnIndex =
    AnnIndex.train(spark, corpus, r.kind, nlist = r.nlist, m = 8, ksub = 16)

  /** vec_id → (cid, codes) of a code table: bit-level equality of two
    * tables, list placement included.
    */
  def codeMap(idx: AnnIndex): Map[Long, (Option[Int], Seq[Any])] =
    idx.codes.select(col("vec_id"), col("codes"),
        if (idx.centroids.isDefined) col("cid") else lit(null).cast("int").as("cid"))
      .collect()
      .map(r => r.getLong(0) -> (Option(r.get(2)).map(_.asInstanceOf[Int]), r.getSeq[Any](1)))
      .toMap

  /** The flat (no-IVF) scan of `corpus` under `q`'s trained header. */
  def flatOf(q: Quantizer, corpus: DataFrame): AnnIndex =
    AnnIndex(q, None, q.rotate(corpus)
      .select(col("vec_id"), q.encode(col("embedding")).as("codes")))

  /** Structural equality of two trained quantizers (arrays compare by value). */
  def sameHeader(a: Quantizer, b: Quantizer): Boolean = (a, b) match {
    case (Quantizer.Scalar(m1, x1), Quantizer.Scalar(m2, x2)) =>
      m1.toSeq == m2.toSeq && x1.toSeq == x2.toSeq
    case (Quantizer.Product(b1, r1), Quantizer.Product(b2, r2)) =>
      b1.map(_.map(_.toSeq).toSeq).toSeq == b2.map(_.map(_.toSeq).toSeq).toSeq &&
        r1.map(_.map(_.toSeq).toSeq) == r2.map(_.map(_.toSeq).toSeq)
    case _ => a == b
  }
}
