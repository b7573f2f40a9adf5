package graftbench

import scala.collection.mutable

/** Deterministic keys and values for `bench.kv`, all derived from the seed.
  *
  * Partition `i` of a seed maps to a distinct positive bigint (the index
  * rides in the low 20 bits); clustering slot `j` maps to a per-seed int.
  */
object Keys {
  /** SplitMix64 finaliser: a strong 64-bit mix. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mix(parts: Long*): Long = parts.foldLeft(0x5DEECE66DL)((h, p) => mix(h ^ p))

  def partition(seed: Long, i: Int): Long = {
    require(i >= 0 && i < (1 << 20), s"partition index $i out of range")
    (mix(seed, 0x6B) & 0x0000_7FFF_FFF0_0000L) | i.toLong
  }

  def clustering(seed: Long, j: Int): Int = (mix(seed, 0x43) & 0x3FF).toInt + 7 * j

  def value(seed: Long, i: Int, j: Int, gen: Long): String =
    "v" + java.lang.Long.toHexString(mix(seed, i.toLong, j.toLong, gen) & 0xFFFFFFL)

  def number(seed: Long, i: Int, j: Int, gen: Long): Long =
    java.lang.Math.floorMod(mix(seed, i.toLong, j.toLong, gen, 0x4E), 1000000L)

  /** Whether a bulk load with this salt writes row (i, j): all rows without
    * a salt, ~10% with one.
    */
  def inBulk(seed: Long, i: Int, j: Int, salt: Option[Long]): Boolean =
    salt.forall(x => java.lang.Math.floorMod(mix(seed, i.toLong, j.toLong, x), 10L) == 0L)
}

/** The checker's model of `bench.kv (k bigint, c int, v text, n bigint,
  * PRIMARY KEY (k, c))`. Mutations apply in write order, which is also the
  * engine's write-timestamp order, so last-write-wins is replayed exactly:
  * an INSERT grants row liveness, an UPDATE does not, a row tombstone
  * shadows everything written before it, and a cell tombstone hides one
  * cell.
  */
final class KvModel {
  private final class RowState {
    var live = -1L
    var del = -1L
    var vTs = -1L
    var v: String = null
    var nTs = -1L
    var n: java.lang.Long = null

    def visible: Boolean = live > del || (vTs > del && v != null) || (nTs > del && n != null)
    def vOut: String = if (vTs > del) v else null
    def nOut: java.lang.Long = if (nTs > del) n else null
  }

  private val parts = mutable.HashMap.empty[Long, java.util.TreeMap[Int, RowState]]
  private var ts = 0L

  private def row(k: Long, c: Int): RowState = {
    val p = parts.getOrElseUpdate(k, new java.util.TreeMap[Int, RowState]())
    var r = p.get(c)
    if (r == null) { r = new RowState; p.put(c, r) }
    r
  }

  /** Advance the write clock; a bulk load is one tick for all its rows. */
  def tick(): Long = { ts += 1; ts }

  def insert(k: Long, c: Int, v: String, n: Long, t: Long): Unit = {
    val r = row(k, c)
    r.live = t; r.vTs = t; r.v = v; r.nTs = t; r.n = n
  }

  def updateN(k: Long, c: Int, n: Long, t: Long): Unit = {
    val r = row(k, c); r.nTs = t; r.n = n
  }

  def deleteV(k: Long, c: Int, t: Long): Unit = {
    val r = row(k, c); r.vTs = t; r.v = null
  }

  def deleteRow(k: Long, c: Int, t: Long): Unit = row(k, c).del = t

  private def visibleRows(k: Long): Seq[(Int, RowState)] =
    parts.get(k).toSeq.flatMap { p =>
      val it = p.entrySet().iterator()
      val out = mutable.ArrayBuffer.empty[(Int, RowState)]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.visible) out += (e.getKey.intValue -> e.getValue)
      }
      out
    }

  /** `SELECT c, v, n FROM kv WHERE k = ? AND c >= ? LIMIT lim`. */
  def slice(k: Long, cMin: Int, lim: Int): Seq[Seq[Any]] =
    visibleRows(k).filter(_._1 >= cMin).take(lim)
      .map { case (c, r) => Seq[Any](c, r.vOut, r.nOut) }

  /** `SELECT k, count(*), sum(n) FROM kv WHERE k IN (...) GROUP BY k`,
    * sorted by k; `sum` of no values is 0, as in CQL.
    */
  def group(ks: Seq[Long]): Seq[Seq[Any]] =
    ks.distinct.sorted.flatMap { k =>
      val rows = visibleRows(k)
      if (rows.isEmpty) None
      else Some(Seq[Any](k, rows.size.toLong,
        rows.flatMap(r => Option(r._2.nOut)).map(_.longValue).sum))
    }

  /** Logical bytes of the live data: key, clustering and non-null cells. */
  def liveBytes: Long = parts.iterator.map { case (_, p) =>
    var b = 0L
    val it = p.values().iterator()
    while (it.hasNext) {
      val r = it.next()
      if (r.visible) {
        b += 12L
        if (r.vOut != null) b += r.vOut.getBytes("UTF-8").length
        if (r.nOut != null) b += 8L
      }
    }
    b
  }.sum
}

/** Row comparison shared by both CQL workloads. */
object Check {
  def rows(got: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] = got.toSeq.map(_.toSeq)

  /** None when equal, else a one-line description of the first difference. */
  def diff(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    if (got == want) None
    else {
      val i = got.zipAll(want, null, null).indexWhere { case (a, b) => a != b }
      Some(s"$what: ${got.size} rows vs ${want.size} expected; first difference at " +
        s"row $i: got ${got.lift(i).map(_.mkString("(", ", ", ")")).getOrElse("none")}, " +
        s"expected ${want.lift(i).map(_.mkString("(", ", ", ")")).getOrElse("none")}")
    }
}
