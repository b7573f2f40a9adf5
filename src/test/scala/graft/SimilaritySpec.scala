package graft

import graft.functions.VectorMath
import graft.operators.Similarity
import graft.operators.Similarity.{AnnIndex, Quantizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine kernel: orthogonal, identical, opposite") {
    assert(VectorMath.cosineF(Array(1f, 0f), Array(0f, 1f)) === 0.0)
    assert(math.abs(VectorMath.cosineF(Array(1f, 2f), Array(2f, 4f)) - 1.0) < 1e-12)
    assert(math.abs(VectorMath.cosineF(Array(1f, 0f), Array(-1f, 0f)) + 1.0) < 1e-12)
    assert(VectorMath.cosineF(Array(0f, 0f), Array(1f, 1f)) === 0.0)
  }

  test("l2Normalize lands on the unit sphere and makes dot == cosine") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val (unit, norm) = Similarity.l2Normalize(col("embedding"))
    val rows = emb.select(col("vec_id"), unit.as("u"), norm.as("n"),
        col("embedding"))
      .collect()
    rows.foreach { r =>
      val u = r.getSeq[Double](1)
      val unitNorm = math.sqrt(u.map(x => x * x).sum)
      assert(math.abs(unitNorm - 1.0) < 1e-9, s"vec ${r.getLong(0)}: $unitNorm")
      // dot of unit vectors == cosine of the originals
      val e = r.getSeq[Float](3).map(_.toDouble)
      val cos = graft.functions.VectorMath.cosineF(
        r.getSeq[Float](3).toArray, r.getSeq[Float](3).toArray)
      assert(math.abs(cos - 1.0) < 1e-9)
      assert(math.abs(r.getDouble(2) - math.sqrt(e.map(x => x * x).sum)) < 1e-6)
    }
  }

  test("semanticContamination flags corpus vectors at/above the threshold " +
      "max-cosine against any benchmark vector") {
    val bench = Seq((0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(2f, 0f, 0f)),     // identical direction to bench 0 -> 1.0
      (11L, Seq(0f, 0f, 5f)),     // orthogonal to both -> 0.0
      (12L, Seq(1f, 1f, 0f)))     // cos 0.707107 to both
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(corpus, bench, threshold = 0.7)
      .as[(Long, Double)].collect().toMap
    assert(got === Map(10L -> 1.0, 12L -> 0.707107))
  }

  test("brute-force top-k ranks by similarity with id tie-break") {
    val emb = Tables.embeddings(spark, sf)
    val res = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 2), 5)
      .select("query_id", "neighbor_id", "sim", "rnk").collect()
    assert(res.length === 10) // 2 queries x 5
    val byQ = res.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y }, "descending sim")
      assert(!rows.exists(r => r.getLong(1) == r.getLong(0)), "self excluded")
    }
  }

  test("LSH near-dup pairs find planted duplicate vectors") {
    val base = Array.tabulate(64)(i => math.sin(i * 1.7).toFloat)
    val nearDup = base.clone(); nearDup(0) = base(0) + 0.001f
    val far = Array.tabulate(64)(i => math.cos(i * 3.1 + 1).toFloat)
    val df = Seq((1L, base.toSeq), (2L, nearDup.toSeq), (3L, far.toSeq))
      .toDF("vec_id", "emb")
      .select(col("vec_id"), col("emb").cast("array<float>").as("embedding"))
    val pairs = Similarity.embeddingNearDupPairs(df, 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("semDedup keeps the minimum id per planted near-dup group and all " +
      "singletons") {
    val base = Array.tabulate(64)(i => math.sin(i * 1.7).toFloat)
    val dupA = base.clone(); dupA(0) = base(0) + 0.001f
    val dupB = base.clone(); dupB(1) = base(1) + 0.001f
    val far = Array.tabulate(64)(i => math.cos(i * 3.1 + 1).toFloat)
    val df = Seq((5L, base.toSeq), (2L, dupA.toSeq), (9L, dupB.toSeq), (4L, far.toSeq))
      .toDF("vec_id", "emb")
      .select(col("vec_id"), col("emb").cast("array<float>").as("embedding"))
    val kept = Similarity.semDedup(df, 0.99)
      .select("vec_id").as[Long].collect().toSet
    // {5, 2, 9} are one component -> min id 2 survives; 4 is a singleton
    assert(kept === Set(2L, 4L))
  }

  test("LSH top-k recall vs brute force is high on the corpus") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // random-ish corpus → moderate recall is expected and fine; the point
    // is the pipeline shape (codes, chunk join, re-score) and determinism
    assert(recall > 0.2, s"LSH recall $recall")
    val again = Similarity.lshTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(approx === again, "deterministic across runs")
  }

  test("lsh_code is deterministic and sensitive to seed") {
    val emb = Tables.embeddings(spark, sf).limit(8)
    val a = Similarity.withLshCode(emb, 32, 7L).select("lsh_code").as[Long].collect()
    val b = Similarity.withLshCode(emb, 32, 7L).select("lsh_code").as[Long].collect()
    val c = Similarity.withLshCode(emb, 32, 8L).select("lsh_code").as[Long].collect()
    assert(a.toSeq === b.toSeq)
    assert(a.toSeq !== c.toSeq)
  }

  test("IVF with exhaustive probing equals brute force; partial probing is deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def ivf(nprobe: Int, iters: Int = 1) = AnnIndex.train(spark, emb, nlist = 8, iters = iters)
      .search(queries, 10, nprobe = nprobe)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf(8) === exact, "nprobe == nlist must be exact search")
    // extra Lloyd refinement keeps the exhaustive-probe exactness
    assert(ivf(8, iters = 2) === exact)
    val a = ivf(2)
    val b = ivf(2)
    assert(a === b, "deterministic across runs")
    assert(a.size === exact.size)
  }

  test("high-nlist IVF assigns via broadcast join, not centroid literals; still exact at nprobe==nlist") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 2)
    val idx = AnnIndex.train(spark, emb, nlist = 512, iters = 1)
    // above the literal threshold the assignment must not embed a constant
    // per centroid (Janino method/constant-pool cliff) — it joins against
    // the broadcast centroid header instead
    val plan = idx.codes.queryExecution.optimizedPlan.toString
    assert(plan.contains("Join"), "expected broadcast-join assignment above the literal threshold")
    assert(!plan.toLowerCase.contains("greatest"), "no literal-per-centroid greatest() at high nlist")
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val nl = idx.centroids.get.count().toInt
    val exhaustive = idx.search(queries, 10, nprobe = nl)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(exhaustive === exact, "nprobe == nlist must be exact search")
  }

  test("int8 quantization: bounded reconstruction error, exact range") {
    val emb = Tables.embeddings(spark, sf)
    val (q, scale) = Similarity.quantize(col("embedding"))
    val qd = emb.select(col("vec_id"), col("embedding"), q.as("q"), scale.as("s"))
      .withColumn("deq", Similarity.dequantize(col("q"), col("s")))
    // every quantized element fits int8's symmetric range
    val outOfRange = qd.select(explode(col("q")).as("x"))
      .filter(col("x") > 127 || col("x") < -127).count()
    assert(outOfRange === 0L)
    // max |x - x'| <= 0.5/scale per vector (half a quantization step)
    val bad = qd.select(
        array_max(zip_with(col("embedding"), col("deq"),
          (a, b) => abs(a.cast("double") - b.cast("double")))).as("err"),
        (lit(0.5) / col("s")).as("bound"))
      .filter(col("err") > col("bound") + 1e-12).count()
    assert(bad === 0L)
  }

  // ── the index table: every quantizer × {IVF, no IVF} ──────────────────

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.select("query_id", "neighbor_id", "sim", "rnk").collect().map(_.toSeq).toSet

  AnnTable.rows.foreach { r =>
    test(s"ANN index ${r.label}: save/load and append match the fresh build") {
      val emb = Tables.embeddings(spark, sf)
      val queries = emb.filter(col("vec_id") < 4)
      val rest = emb.filter(col("vec_id") % 3 =!= 0)
      val exhaustive = math.max(r.nlist, 1)
      def search(i: AnnIndex, nprobe: Int = 3) =
        rowsOf(i.search(queries, 10, nprobe = nprobe))
      def rerank(i: AnnIndex, nprobe: Int = 3) =
        rowsOf(i.search(queries, 5, nprobe = nprobe, corpus = Some(emb)))
      def codesOnly(i: AnnIndex) = AnnTable.codeMap(i).map { case (id, (_, c)) => id -> c }

      // save → load: headers and codes round-trip bit-exactly, one pruned
      // codes/cid=K directory per list, and the loaded index answers
      // exactly like the fresh one
      val full = AnnTable.train(spark, r, emb)
      val dir = tmp("graft-ann-rt")
      full.save(dir)
      val loaded = AnnIndex.load(spark, dir)
      assert(AnnTable.sameHeader(loaded.quantizer, full.quantizer))
      assert(loaded.centroids.isDefined === (r.nlist > 0))
      assert(AnnTable.codeMap(loaded) === AnnTable.codeMap(full))
      val listDirs = new java.io.File(s"$dir/codes").list().count(_.startsWith("cid="))
      assert(listDirs === r.nlist)
      assert(search(loaded) === search(full) && rerank(loaded) === rerank(full))

      // probing every list removes the pruning: what remains is the flat
      // scan under the same quantizer — brute force itself for Flat
      val flat = AnnTable.flatOf(full.quantizer, emb)
      assert(search(full, exhaustive) === search(flat))
      assert(rerank(full, exhaustive) === rerank(flat))
      if (r.kind == Quantizer.Flat)
        assert(search(flat) === rowsOf(Similarity.bruteForceTopK(emb, queries, 10)))

      // append == rebuild: persist a third of the fresh build, append the
      // rest under the SAVED headers — codes AND list placement bit-equal
      val thirdDir = tmp("graft-ann-third")
      full.copy(codes = full.codes.filter(col("vec_id") % 3 === 0)).save(thirdDir)
      AnnIndex.append(spark, thirdDir, rest)
      val rebuilt = AnnIndex.load(spark, thirdDir)
      assert(AnnTable.codeMap(rebuilt) === AnnTable.codeMap(full))
      assert(rerank(rebuilt) === rerank(full))

      // headers trained on the third only: appended vectors are unseen
      // (SQ8 clamps them), yet codes equal a from-scratch encode of the
      // union and the exhaustive probe equals the flat union scan
      val base = AnnTable.train(spark, r, emb.filter(col("vec_id") % 3 === 0))
      val appDir = tmp("graft-ann-app")
      base.save(appDir)
      AnnIndex.append(spark, appDir, rest)
      val appended = AnnIndex.load(spark, appDir)
      val union = AnnTable.flatOf(base.quantizer, emb)
      assert(codesOnly(appended) === codesOnly(union))
      assert(search(appended, exhaustive) === search(union))
      assert(appended.search(rest.filter(col("vec_id") < 8), 10, nprobe = 2).count() > 0)

      // batch hygiene: bad batches fail by name, before touching the index
      val nullBatch = Seq((99999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
      val e1 = intercept[IllegalArgumentException](AnnIndex.append(spark, appDir, nullBatch))
      assert(e1.getMessage.contains("null embedding"))
      val shortBatch = Seq((9999L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
      val e2 = intercept[IllegalArgumentException](AnnIndex.append(spark, appDir, shortBatch))
      assert(e2.getMessage.contains("dimension"))
      assert(AnnIndex.load(spark, appDir).codes.count() === emb.count())

      // drift sums over a split batch finalize to the one-shot stats
      if (r.nlist > 0) {
        def sorted(df: DataFrame) = df.orderBy("cid").collect().map(_.toSeq).toSeq
        val sums = Seq(0, 1).map(m => full.driftSums(emb.filter(col("vec_id") % 2 === m)))
          .reduce(_ unionByName _)
        assert(sorted(Similarity.driftStatsFinalize(sums)) === sorted(full.driftStats(emb)))
      }
    }
  }

  // ── the per-variant persistence and append cases ───────────────────────

  test("IVF index persists: save/load search == fresh search; lists pruned by cid") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val idx = AnnIndex.train(spark, emb, nlist = 8, iters = 2)
    val dir = tmp("graft-ivf")
    idx.save(dir)
    // the inverted lists are laid out one directory per list id, so a probe
    // scan prunes to the probed lists at the parquet level
    val listDirs = new java.io.File(s"$dir/codes").list().filter(_.startsWith("cid="))
    assert(listDirs.length === 8)
    val fresh = rowsOf(idx.search(queries, 10, nprobe = 3))
    val loaded = rowsOf(AnnIndex.load(spark, dir).search(queries, 10, nprobe = 3))
    assert(loaded === fresh, "a reloaded index answers identically")
    // extra Lloyd refinement keeps the exhaustive-probe exactness
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exhaustive = idx.search(queries, 10, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(exhaustive === exact)
  }

  test("ivfAppend: incrementally appended index answers exactly like one " +
    "covering the union corpus (exhaustive probe == brute force over all)") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") < 400)
    val extra = emb.filter(col("vec_id") >= 400)
    assert(extra.count() > 0, "fixture must cover the append slice")
    val dir = tmp("graft-ivf-append")
    AnnIndex.train(spark, base, nlist = 8).save(dir)
    AnnIndex.append(spark, dir, extra)
    val idx = AnnIndex.load(spark, dir)
    val queries = emb.filter(col("vec_id") < 4)
    // exhaustive probing over the appended index must equal brute force
    // over the UNION — proves appended vectors landed in real lists and
    // score identically to built-in-one-shot members
    val got = rowsOf(idx.search(queries, 10, nprobe = 8))
    val want = rowsOf(Similarity.bruteForceTopK(emb, queries, 10))
    assert(got === want)
    // appended vectors are themselves findable under partial probing
    val fromAppended = idx.search(extra.filter(col("vec_id") < 405), 10, nprobe = 4)
    assert(fromAppended.count() > 0)
    // a wrong-width batch fails loudly before touching the lists
    val badBatch = Seq((9999L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](AnnIndex.append(spark, dir, badBatch))
    assert(ex.getMessage.contains("dimension"))
  }

  test("IVF-OPQ: save/load answers identically; exhaustive probing equals " +
    "the flat OPQ search on the same model") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val idx = AnnIndex.train(spark, emb, Quantizer.OPQ, nlist = 8, m = 8, ksub = 16)
    def rows(i: AnnIndex, nprobe: Int) =
      rowsOf(i.search(queries, 5, nprobe = nprobe, corpus = Some(emb), rerank = 4))
    val fresh = rows(idx, 3)
    val dir = tmp("graft-ivfopq-spec")
    idx.save(dir)
    assert(rows(AnnIndex.load(spark, dir), 3) === fresh && fresh.nonEmpty)
    // probing every list removes the pruning; what remains is exactly the
    // flat OPQ rerank pipeline on the same rotation + codebooks
    assert(rows(idx, 8) === rows(AnnTable.flatOf(idx.quantizer, emb), 8))
  }

  test("IVF-OPQ append: appended index answers identically to the " +
    "from-scratch build; codes stay cid-partitioned; bad batches fail " +
    "before touching the index") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val full = AnnIndex.train(spark, emb, Quantizer.OPQ, nlist = 8, m = 8, ksub = 16)
    val dir = tmp("graft-ivfopq-app")
    // persist only a third, append the rest under the SAVED artifact
    full.copy(codes = full.codes.filter(col("vec_id") % 3 === 0)).save(dir)
    AnnIndex.append(spark, dir, emb.filter(col("vec_id") % 3 =!= 0))
    val idx = AnnIndex.load(spark, dir)
    val listDirs = new java.io.File(s"$dir/codes").list().filter(_.startsWith("cid="))
    assert(listDirs.nonEmpty && listDirs.length <= 8)
    def rows(i: AnnIndex) = rowsOf(i.search(queries, 5, nprobe = 3, corpus = Some(emb), rerank = 4))
    assert(rows(idx) === rows(full) && rows(full).nonEmpty)
    val ex = intercept[IllegalArgumentException](
      AnnIndex.append(spark, dir,
        Seq((9999L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")))
    assert(ex.getMessage.contains("dimension"))
  }

  // ── search arguments are checked once, at the search entry ────────────

  private lazy val argIndex = AnnIndex.train(spark, Tables.embeddings(spark, sf), nlist = 4)
  private def argQueries = Tables.embeddings(spark, sf).filter(col("vec_id") < 2)

  test("search rejects k below 1 by name") {
    val e = intercept[IllegalArgumentException](argIndex.search(argQueries, 0))
    assert(e.getMessage.contains("k must be >= 1"), e.getMessage)
  }

  test("search rejects nprobe below 1 by name, not an empty result") {
    val e = intercept[IllegalArgumentException](argIndex.search(argQueries, 5, nprobe = 0))
    assert(e.getMessage.contains("nprobe must be >= 1"), e.getMessage)
  }

  test("search rejects rerank below 1 by name") {
    val e = intercept[IllegalArgumentException](
      argIndex.search(argQueries, 5, corpus = Some(argQueries), rerank = 0))
    assert(e.getMessage.contains("rerank must be >= 1"), e.getMessage)
  }

  test("knnJoin rejects salt outside 1..4096 by name") {
    Seq(0, 4097).foreach { salt =>
      val e = intercept[IllegalArgumentException](argIndex.knnJoin(argQueries, 5, salt = salt))
      assert(e.getMessage.contains("salt must be in 1..4096"), e.getMessage)
    }
  }

  test("PQ: codes are m small ints, reconstruction is faithful, search is deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val idx = AnnIndex.train(spark, emb, Quantizer.PQ, m = 8, ksub = 16)
    val books = idx.quantizer.asInstanceOf[Quantizer.Product].books
    assert(books.length === 8 && books.head.length === 16 && books.head.head.length === 8)
    val codes = idx.codes
    // one BYTE per code — the 32× compression claim rests on this type
    assert(codes.schema("codes").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false))
    val row = codes.select("codes").as[Seq[Byte]].head()
    assert(row.length === 8 && row.forall(c => c >= 0 && c < 16), s"codes $row")
    // reconstruction correlates with the original (codebooks are useful)
    val fid = emb.join(codes, "vec_id")
      .select(avg(graft.functions.Functions.cosine_sim(
        idx.quantizer.decode(col("codes")), col("embedding"))))
      .as[Double].head()
    assert(fid > 0.5, s"mean reconstruction cosine $fid")
    val queries = emb.filter(col("vec_id") < 4)
    val run1 = idx.search(queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val run2 = idx.search(queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(run1 === run2, "deterministic across runs")
    assert(run1.size === 40) // 4 queries × k=10, self excluded
  }

  test("SQ8: full signed-byte range, per-dim half-step reconstruction " +
    "error, reranked search ~= brute force") {
    val emb = Tables.embeddings(spark, sf)
    val idx = AnnIndex.train(spark, emb, Quantizer.SQ8)
    val p = idx.quantizer.asInstanceOf[Quantizer.Scalar]
    val codes = idx.codes
    // 4x compression: one tinyint per dimension
    assert(codes.select(size(col("codes"))).head().getInt(0) === p.mins.length)
    val spans = p.spans
    val recon = codes.select(col("vec_id"), p.decode(col("codes")).as("deq"))
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
    // |x - x'| <= max span/255/2 + eps (half a quantization bucket)
    val viol = recon.select(explode(
        zip_with(col("embedding"), col("deq"),
          (a, b) => abs(a.cast("double") - b.cast("double")))).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(viol <= spans.map(_.toDouble).max / 255.0 / 2.0 + 1e-9,
      s"max reconstruction error $viol exceeds half a bucket")
    // reranked SQ8 recovers brute-force results almost exactly (the
    // quantizer's half-step error rarely flips a top-10 boundary, and the
    // exact rerank fixes those it does)
    val queries = emb.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = idx.search(queries, 10, corpus = Some(emb))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8+rerank recall $recall")
  }

  test("sq8Train: posexplode-keyed bounds match a plain per-dimension fold " +
    "at dim 1024 (the production-width scale-safe form)") {
    import spark.implicits._
    val dim = 1024
    // deterministic synthetic vectors at a production embedding width
    val vecs = (0L until 40L).map { id =>
      (id, Array.tabulate(dim)(j => (((id * 31 + j * 17) % 97).toFloat - 48f) / 7f))
    }
    val p = AnnIndex.train(spark, vecs.toDF("vec_id", "embedding"), Quantizer.SQ8)
      .quantizer.asInstanceOf[Quantizer.Scalar]
    assert(p.mins.length === dim)
    assert(p.mins.toSeq === Array.tabulate(dim)(j => vecs.map(_._2(j)).min).toSeq)
    assert(p.maxs.toSeq === Array.tabulate(dim)(j => vecs.map(_._2(j)).max).toSeq)
  }

  test("PQ recall vs brute force is meaningful at m=8, ksub=16") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = AnnIndex.train(spark, emb, Quantizer.PQ).search(queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // quantized scoring on a random-ish corpus: the guard is that the code
    // table ranks genuinely near vectors, not exact ordering
    assert(recall > 0.2, s"PQ recall $recall")
  }

  test("recall gate: all four approximate paths reach >= 0.9 of brute force " +
    "at their generous-parameter settings (one table, recorded in SCALE.md)") {
    val emb = Tables.embeddings(spark, sf).cache()
    val queries = emb.filter(col("vec_id") < 8)
    val k = 10
    val exact = Similarity.bruteForceTopK(emb, queries, k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    // generous-but-approximate parameters: none of these degenerate to the
    // exact path (LSH still bands, IVF probes 6 of 8 lists, PQ quantizes
    // 64 dims to m=16 sub-codes, IVF-PQ both prunes and quantizes)
    val recalls = Seq(
      "ann_lsh" -> recallOf(Similarity.lshTopK(emb, queries, k,
        bits = 32, bands = 16)),
      "ann_ivf" -> recallOf(AnnIndex.train(spark, emb, nlist = 8)
        .search(queries, k, nprobe = 6)),
      "ann_pq" -> recallOf(AnnIndex.train(spark, emb, Quantizer.PQ, m = 32, ksub = 32)
        .search(queries, k, corpus = Some(emb), rerank = 8)),
      "ann_ivfpq" -> recallOf(
        AnnIndex.train(spark, emb, Quantizer.PQ, nlist = 8, m = 32, ksub = 32)
          .search(queries, k, nprobe = 7, corpus = Some(emb), rerank = 8)),
      "ann_ivf_sq8" -> recallOf(AnnIndex.train(spark, emb, Quantizer.SQ8, nlist = 8)
        .search(queries, k, nprobe = 7, corpus = Some(emb), rerank = 8)))
    emb.unpersist()
    recalls.foreach { case (name, r) => info(f"$name recall $r%.3f") }
    recalls.foreach { case (name, r) =>
      assert(r >= 0.9, f"$name recall $r%.3f below the 0.9 floor")
    }
  }

  test("clusterBalancedSample caps every cluster, keeps cluster members " +
      "only, and flattens the density skew of the raw corpus") {
    val emb = Tables.embeddings(spark, sf)
    // the graded Lloyd-refined path (the oracle query pins iters=0)
    val (_, assigned) = Similarity.ivfAssign(spark, emb, nlist = 8, iters = 1)
    val kept = Similarity.clusterBalancedSample(assigned, "cid", "vec_id", 5)
      .select("cid", "vec_id", "rnk").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    val sizes = assigned.groupBy("cid").count()
      .as[(Int, Long)].collect().toMap
    val keptBy = kept.groupBy(_._1).view.mapValues(_.length).toMap
    // each cluster yields min(size, perCluster) rows, ranked 1..n
    sizes.foreach { case (cid, n) =>
      assert(keptBy.getOrElse(cid, 0) === math.min(n, 5L).toInt, s"cid=$cid")
    }
    kept.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
    // keepers really belong to the cluster they were sampled from
    val memberOf = assigned.select("vec_id", "cid").as[(Long, Int)]
      .collect().toMap
    kept.foreach { case (cid, id, _) => assert(memberOf(id) === cid) }
    // deterministic: a re-run selects the identical set
    val again = Similarity.clusterBalancedSample(assigned, "cid", "vec_id", 5)
      .select("cid", "vec_id", "rnk").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    assert(again.sortBy(r => (r._1, r._3)).toSeq === kept.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("prototypePrune drops floor(n*frac) most-prototypical rows per cluster") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.prototypePrune(spark, emb, nlist = 8, dropFrac = 0.25)
      .as[(Long, Int, Double, Int, Boolean)].collect()
    assert(out.length === emb.count())
    out.groupBy(_._2).foreach { case (_, members) =>
      val n = members.length
      val dropN = math.floor(n * 0.25).toInt
      // exactly the dropN lowest ranks (most prototypical) are dropped
      assert(members.count(!_._5) === dropN)
      assert(members.filter(!_._5).map(_._4).sorted.toSeq === (1 to dropN))
      // ranks are a 1..n permutation ordered by (sim desc, vec_id)
      assert(members.map(_._4).sorted.toSeq === (1 to n))
      val byRank = members.sortBy(_._4)
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
        case _ => ()
      }
      // dropped rows are at least as prototypical as every kept row
      if (dropN > 0 && dropN < n)
        assert(byRank(dropN - 1)._3 >= byRank.drop(dropN).map(_._3).max)
    }
  }

  test("ivfKnnJoin answers row-identically to ivfSearch on the same " +
    "queries, and the salt knob never changes the result set") {
    val emb = Tables.embeddings(spark, sf)
    val idx = AnnIndex.train(spark, emb, nlist = 8, iters = 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "sim", "rnk")
        .collect().map(_.toSeq).toSet
    val viaSearch = rows(idx.search(emb, k = 5, nprobe = 3))
    val viaJoin = rows(idx.knnJoin(emb, k = 5, nprobe = 3))
    assert(viaJoin === viaSearch && viaJoin.nonEmpty,
      "the join strategy must not change a single row")
    // salt splits lists deterministically; candidates/scores are identical
    val salted = rows(idx.knnJoin(emb, k = 5, nprobe = 3, salt = 5))
    assert(salted === viaSearch)
  }

  test("ivfSq8KnnJoin and its distributed rerank answer row-identically " +
    "to the broadcast SQ8 probe search / rerank on the same queries") {
    val emb = Tables.embeddings(spark, sf)
    val idx = AnnIndex.train(spark, emb, Quantizer.SQ8, nlist = 8, iters = 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "sim", "rnk")
        .collect().map(_.toSeq).toSet
    val viaSearch = rows(idx.search(emb, k = 5, nprobe = 3))
    val viaJoin = rows(idx.knnJoin(emb, k = 5, nprobe = 3, salt = 3))
    assert(viaJoin === viaSearch && viaJoin.nonEmpty)
    val viaRerank = rows(idx.search(emb, k = 4, nprobe = 3,
      corpus = Some(emb), rerank = 3))
    val viaJoinRerank = rows(idx.knnJoin(emb, k = 4, nprobe = 3, salt = 3,
      corpus = Some(emb), rerank = 3))
    assert(viaJoinRerank === viaRerank && viaJoinRerank.nonEmpty)
  }

  test("filtered IVF search: every result satisfies the predicate; " +
    "exhaustive probing equals brute force over the filtered corpus; " +
    "kept attribute columns survive save/load") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-filt-spec").toString
    AnnIndex.train(spark, emb, nlist = 8, iters = 1, keep = Seq("label")).save(dir)
    val got = AnnIndex.load(spark, dir)
      .search(queries, 10, nprobe = 8, predicate = Some(col("label") === 1))
      .select("query_id", "neighbor_id", "sim", "rnk")
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    val rows = got.as[(Long, Long, Double, Int)].collect()
    assert(rows.nonEmpty && rows.forall { case (_, nid, _, _) => labels(nid) == 1 })
    val brute = Similarity.bruteForceTopK(emb.filter(col("label") === 1),
        queries, 10)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rows.toSet === brute)
  }

  test("append carries the index's kept columns: a filtered exhaustive " +
    "search over an appended index equals brute force over the filtered union") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val cut = emb.count() / 3
    val brute = rowsOf(Similarity.bruteForceTopK(emb.filter(col("label") === 1), queries, 10)
      .select("query_id", "neighbor_id", "sim", "rnk"))
    for (nlist <- Seq(8, 0)) {
      val dir = tmp("graft-append-keep")
      AnnIndex.train(spark, emb.filter(col("vec_id") < cut), nlist = nlist,
        keep = Seq("label")).save(dir)
      AnnIndex.append(spark, dir, emb.filter(col("vec_id") >= cut))
      val idx = AnnIndex.load(spark, dir)
      assert(idx.codes.filter(col("label").isNull).count() === 0L, s"nlist=$nlist")
      val got = rowsOf(idx.search(queries, 10, nprobe = 8, predicate = Some(col("label") === 1))
        .select("query_id", "neighbor_id", "sim", "rnk"))
      assert(got === brute, s"nlist=$nlist")
      // a batch without the kept column fails by name, before any write
      val ex = intercept[IllegalArgumentException](
        AnnIndex.append(spark, dir, emb.select("vec_id", "embedding")))
      assert(ex.getMessage.contains("label"))
    }
  }

  test("MRL prefix retrieval: full-prefix degenerates to exact brute " +
    "force; the 16-dim prefix with rerank keeps recall high") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
    assert(pairs(Similarity.mrlTopK(emb, queries, 10, prefixDim = dim)) ===
      pairs(exact))
    // the synthetic embeddings are NOT matryoshka-trained — information
    // spreads uniformly across dims, so prefix-d recall tracks d/dim
    // (the operator's win depends on MRL-trained inputs); half-dim with
    // a deeper rerank is the honest floor this corpus supports
    val approx = pairs(Similarity.mrlTopK(emb, queries, 10, prefixDim = 32,
      rerank = 8))
    val recall = exact.select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet.intersect(approx).size.toDouble / 80
    assert(recall >= 0.8, s"MRL recall $recall")
  }

  test("OPQ rotation is orthogonal (R·Rᵀ ≈ I) and preserves cosine") {
    val emb = Tables.embeddings(spark, sf)
    val q = AnnIndex.train(spark, emb, Quantizer.OPQ, m = 8, ksub = 16).quantizer
    val r = q.rotation.get
    val d = r.length
    for (a <- 0 until d; b <- 0 until d) {
      val dot = (0 until d).map(k => r(a)(k) * r(b)(k)).sum
      val expect = if (a == b) 1.0 else 0.0
      // 6-dp rounding of each entry perturbs the product by ≤ d·1e-6·|R|
      assert(math.abs(dot - expect) < 1e-3, s"RRᵀ($a)($b) = $dot")
    }
    // rotated-space cosine == original cosine up to rounding
    val rot = q.rotate(emb)
    val before = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).take(20)
    val after = rot.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).take(20)
    for (i <- before.indices; j <- i + 1 until before.length) {
      val c0 = VectorMath.cosineF(before(i)._2, before(j)._2)
      val c1 = VectorMath.cosineF(after(i)._2, after(j)._2)
      assert(math.abs(c0 - c1) < 1e-3, s"cosine drifted: $c0 vs $c1")
    }
  }

  test("OPQ beats plain PQ where the subspace split cuts correlated " +
    "directions (the rotation re-axes before the split)") {
    // planted structure: duplicated coordinates land in DIFFERENT
    // subspaces under the identity split, so plain PQ quantizes the same
    // 2D distribution twice while OPQ can rotate the redundancy away
    val n = 512
    val dim = 8
    val rows = (0 until n).map { i =>
      val t = math.sin(i * 0.37) * 10.0
      val u = math.cos(i * 0.83) * 10.0
      val v = math.sin(i * 1.31) * 0.1
      val w = math.cos(i * 2.17) * 0.1
      val base = Array(t, u, v, w, t + 0.01 * v, u + 0.01 * w, v, w)
      // full-rank jitter: a rank-deficient corpus stalls the Procrustes
      // update (by design) and the rotation would stay identity
      (i.toLong, Array.tabulate(dim)(k =>
        (base(k) + math.sin(i * (3.7 + 0.41 * k)) * 0.05).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    def mse(recon: Map[Long, Array[Float]]): Double =
      rows.map { case (id, e) =>
        val r = recon(id)
        e.indices.map(k => math.pow(e(k) - r(k), 2)).sum / dim
      }.sum / n
    def recon(idx: AnnIndex): Map[Long, Array[Float]] =
      idx.codes.select(col("vec_id"), idx.quantizer.decode(col("codes")).as("r"))
        .as[(Long, Array[Float])].collect().toMap
    val pqRecon = recon(AnnIndex.train(spark, df, Quantizer.PQ, m = 4, ksub = 8))
    val opq = AnnIndex.train(spark, df, Quantizer.OPQ, m = 4, ksub = 8, opqIters = 5)
    // reconstruct in rotated space, rotate back via Rᵀ to compare in the
    // original space (orthogonal inverse = transpose)
    val r = opq.quantizer.rotation.get
    val opqRecon = recon(opq).map { case (id, x) =>
      (id, Array.tabulate(dim)(a => (0 until dim).map(k => r(k)(a) * x(k)).sum.toFloat))
    }
    val (pqErr, opqErr) = (mse(pqRecon), mse(opqRecon))
    assert(opqErr < pqErr,
      s"OPQ mse $opqErr should beat PQ mse $pqErr on cross-subspace structure")
  }

  test("mmrRerank: diversification demotes the near-duplicate of the top " +
      "hit; λ = 1 degenerates to pure relevance order") {
    graft.functions.Functions.ensure(spark)
    // doc 2 is a near-duplicate of doc 1 (same direction); doc 3 is
    // orthogonal with lower relevance
    val cands = Seq(
      (0L, 1L, 0.95, Array(1.0f, 0.0f)),
      (0L, 2L, 0.94, Array(1.0f, 0.001f)),
      (0L, 3L, 0.50, Array(0.0f, 1.0f)))
      .toDF("query_id", "doc_id", "rel", "embedding")
    val half = Similarity.mmrRerank(cands, k = 3, lambdaNum = 1, lambdaDen = 2)
      .orderBy("rank").select("doc_id", "mmr").as[(Long, Double)].collect()
    // step 1: doc 1 (rel max). step 2 at λ=1/2: doc 2 scores ≈ .94−1.0 < 0,
    // doc 3 scores .50−0 → doc 3 wins; doc 2 last.
    assert(half.map(_._1).toSeq === Seq(1L, 3L, 2L))
    assert(half(0)._2 === 0.475, "mmr of the first pick is λ·rel exactly")
    // λ = 1: no diversity penalty — pure relevance order
    val pure = Similarity.mmrRerank(cands, k = 3, lambdaNum = 1, lambdaDen = 1)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(pure === Seq(1L, 2L, 3L))
  }

  test("mmrRerank equals a naive integer-greedy reference on seeded random " +
      "pools") {
    graft.functions.Functions.ensure(spark)
    val rnd = new scala.util.Random(7)
    val dim = 8
    val rows = for (q <- 0L until 4L; d <- 0 until 10) yield
      (q, (q * 100 + d), math.floor(rnd.nextDouble() * 1e6) / 1e6,
        Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    val got = Similarity.mmrRerank(
        rows.toDF("query_id", "doc_id", "rel", "embedding"),
        k = 5, lambdaNum = 7, lambdaDen = 10)
      .select("query_id", "doc_id", "mmr", "rank")
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._4) }
    // independent naive greedy re-derived from the spec
    def micro(x: Double): Long = {
      val a = math.floor(math.abs(x) * 1e6 + 0.5).toLong
      if (x < 0) -a else a
    }
    rows.groupBy(_._1).foreach { case (q, pool0) =>
      val pool = pool0.sortBy(_._2).toArray
      var sel = Vector.empty[Int]
      (1 to 5).foreach { rank =>
        val scores = pool.indices.filterNot(sel.contains).map { i =>
          val pen = if (sel.isEmpty) 0L
            else sel.map(j => micro(VectorMath.cosineF(pool(i)._4, pool(j)._4))).max
          (i, 7L * micro(pool(i)._3) - (if (sel.isEmpty) 0L else 3L * pen))
        }
        val best = scores.maxBy { case (i, s) => (s, -pool(i)._2) }
        sel = sel :+ best._1
        val row = got(q)(rank - 1)
        assert(row._2 === pool(best._1)._2,
          s"query $q rank $rank picked ${row._2}, naive ${pool(best._1)._2}")
        assert(row._3 === best._2.toDouble / 1e7)
      }
      // NOTE: mmr scores are NOT monotone down the ranking in general —
      // a negative max-cosine turns the diversity term into a bonus, so
      // a later pick can out-score an earlier one. Only the per-step
      // argmax (checked above) is the contract.
    }
  }

  test("composed-index drift monitors: in-distribution batches read " +
    "clamp_frac 0 / mean_qcos ≈ mean of own reconstructions; an " +
    "out-of-bounds batch clamps every component; counts cover the batch") {
    graft.functions.Functions.ensure(spark)
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
    val n = emb.count()

    // IVF-SQ8: bounds trained on the same batch → nothing clamps
    val sq8 = AnnIndex.train(spark, emb, Quantizer.SQ8, nlist = 4, iters = 1)
    val dIn = sq8.driftStats(emb).as[(Int, Long, Double, Double)].collect()
    assert(dIn.map(_._2).sum === n)
    dIn.foreach { case (cid, _, mc, cf) =>
      assert(cf === 0.0, s"cid $cid clamped in-distribution: $cf")
      assert(mc > 0.0 && mc <= 1.0, s"cid $cid mean_cos $mc")
    }
    // every component of 10×emb sits outside [min,max] trained on emb
    // (bounds are finite and the corpus has no zero components at ×10
    // scale for every dim — construct it explicitly instead of hoping)
    val far = emb.select(col("vec_id"),
      transform(col("embedding"), x => x * lit(10.0f) + lit(100.0f))
        .as("embedding"))
    val dOut = sq8.driftStats(far).as[(Int, Long, Double, Double)].collect()
    assert(dOut.map(_._2).sum === n)
    dOut.foreach { case (cid, _, _, cf) =>
      assert(cf === 1.0, s"cid $cid expected full clamp, got $cf")
    }

    // IVF-PQ: mean_qcos equals the deterministic per-vector recompute
    val pq = AnnIndex.train(spark, emb, Quantizer.PQ, nlist = 4, m = 8, ksub = 8)
    val dPq = pq.driftStats(emb).as[(Int, Long, Double, Double)].collect()
    assert(dPq.map(_._2).sum === n)
    dPq.foreach { case (cid, _, mc, qc) =>
      assert(qc > 0.0 && qc <= 1.0, s"cid $cid mean_qcos $qc")
      assert(mc > 0.0 && mc <= 1.0, s"cid $cid mean_cos $mc")
    }

    // IVF-OPQ: rotated-space stats; a loaded index reports identically
    // to the trained one (the monitor runs off the saved artifact)
    val dir = java.nio.file.Files.createTempDirectory("graft-opq-drift-spec")
    val opq = AnnIndex.train(spark, emb, Quantizer.OPQ, nlist = 4, m = 8, ksub = 8)
    opq.save(dir.toString)
    val loaded = AnnIndex.load(spark, dir.toString)
    val a = opq.driftStats(emb).orderBy("cid").collect().toSeq
    val b = loaded.driftStats(emb).orderBy("cid").collect().toSeq
    assert(a === b)
    assert(a.map(_.getLong(1)).sum === n)

    // a flat index has no lists to drift from
    val e = intercept[IllegalArgumentException](
      AnnIndex.train(spark, emb, Quantizer.SQ8).driftSums(emb))
    assert(e.getMessage.contains("IVF"))
  }
}
