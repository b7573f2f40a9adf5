package graft.operators

import graft.functions.Functions.cosine_sim
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * (`array<float>`).
  *
  * Three paths:
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query set,
  *    score every corpus vector with the codegen'd [[graft.functions.CosineSimilarity]]
  *    kernel, then a map-side partial top-k per input partition before the
  *    per-query merge (never all |corpus| rows through one reducer). Linear
  *    in corpus size; the right answer whenever the query set is small
  *    enough to broadcast (it usually is).
  *  - [[lshTopK]] — scale path: sign-random-projection (hyperplane) codes,
  *    candidate join on code chunks (multi-band), exact re-scoring of
  *    candidates only. Sub-linear candidate volume; recall tunable via
  *    bits/bands.
  *  - [[AnnIndex]] — trained indexes: one [[Quantizer]] (identity, SQ8,
  *    PQ, OPQ), optionally behind an IVF coarse partitioner.
  *
  * Ranking is by similarity rounded to 6dp with vec_id tie-break, making the
  * result set reproducible across engines and runs.
  */
object Similarity {

  /** Run two independent Spark-action-bearing computations concurrently
    * (guide-standard job overlap: the scheduler happily runs several jobs
    * at once; actions are only sequential because driver code calls them
    * sequentially). Used where an index build needs two passes that don't
    * depend on each other (k-means assignment vs quantizer bounds; the
    * centroid-header write vs the lists write) — the second job's tasks
    * back-fill executor slots the first leaves idle between stages.
    */
  private[graft] def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fb = Future(b)
    val ra = a
    (ra, Await.result(fb, Duration.Inf))
  }

  /** Per-query top-k of a (query_id, neighbor_id, sim) relation with
    * BOUNDED memory everywhere: [[graft.functions.TopKRowsAgg]] keeps only
    * k rows per query in each map-side partial buffer (ordering (sim desc,
    * neighbor_id asc) — a total order, so truncation is exact), and the
    * shuffle carries at most k rows × queries per task. The old
    * collect_list form materialized EVERY scored row of a partition per
    * query before slicing — unbounded aggregation memory at corpus scale.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    CqlOps.perPartitionLimitAgg(
      scored.select("query_id", "neighbor_id", "sim"), Seq("query_id"),
      Seq(("sim", true), ("neighbor_id", false)), k, rowNumberCol = "rnk")

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.as("c")
      .crossJoin(broadcast(queries.select(
        col("vec_id").as("query_id"), col("embedding").as("q_emb"))))
      .filter(col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosine_sim(col("c.embedding"), col("q_emb")), 6).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998)
    * — the diversification pass between ANN retrieval and a consumer
    * that wants coverage, not k near-duplicates of the best hit (RAG
    * context assembly, dedup-aware few-shot selection): greedily pick
    *   argmax_c  λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)
    * where S is the already-picked set, until k rows per query.
    *
    * Input is (query_id, doc_id, rel, embedding) — the BOUNDED per-query
    * candidate pool an ANN tier already produced (top-n), so the greedy
    * runs inside `flatMapGroups` per query key: distributed across
    * queries, never a driver collect, O(k·n) pair similarities per query
    * with n bounded by construction (the same bounded-rerank-tail
    * contract as the SQ8/PQ rerank stages).
    *
    * Determinism: λ is a RATIONAL (`lambdaNum`/`lambdaDen`) and the
    * greedy compares EXACT LONGS — rel and each pair cosine (the same
    * [[graft.functions.VectorMath.cosineF]] kernel as `cosine_sim`)
    * quantize to micro-units with half-away-from-zero rounding (the
    * round(x·1e6)-as-BIGINT recipe every fixed-point oracle in this
    * repo uses), and the score is num·relµ − (den−num)·max simµ — no
    * float combination step, so no decimal-rounding boundary can
    * diverge between engines (a λ·rel − (1−λ)·sim double chain round-
    * tripped through 6dp rounding DID diverge at a half boundary; the
    * integer form can't). Ties break doc-ascending — a total order.
    * Output mmr = score / (den·1e6) as one exact-operand IEEE divide.
    * Columns: (query_id, doc_id, rel, mmr, rank) with rank 1..k in
    * selection order.
    */
  def mmrRerank(candidates: DataFrame, k: Int, lambdaNum: Int,
                lambdaDen: Int): DataFrame = {
    require(k >= 1, s"mmrRerank: need k >= 1, got $k")
    require(lambdaDen >= 1 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"mmrRerank: need 0 <= lambdaNum <= lambdaDen, got $lambdaNum/$lambdaDen")
    val num = lambdaNum.toLong
    val muNum = (lambdaDen - lambdaNum).toLong
    val outScale = lambdaDen.toDouble * 1e6
    // half away from zero at micro scale — DuckDB round() / Spark round()
    def micro(x: Double): Long = {
      val a = math.floor(math.abs(x) * 1e6 + 0.5).toLong
      if (x < 0) -a else a
    }
    val ss = candidates.sparkSession
    import ss.implicits._
    val ds = candidates
      .select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("rel").cast("double"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])]
    ds.groupByKey(_._1).flatMapGroups { (q, it) =>
      val cs = it.toArray.sortBy(_._2) // doc-asc scan order: strict > keeps the smallest doc on ties
      val n = cs.length
      val relM = cs.map(c => micro(c._3))
      val taken = new Array[Boolean](n)
      val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double, Int)]
      var rank = 1
      while (rank <= math.min(k, n)) {
        var best = -1
        var bestScore = Long.MinValue
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val score =
              if (sel.isEmpty) num * relM(i)
              else {
                var maxSim = Long.MinValue
                sel.foreach { j =>
                  val s = micro(
                    graft.functions.VectorMath.cosineF(cs(i)._4, cs(j)._4))
                  if (s > maxSim) maxSim = s
                }
                num * relM(i) - muNum * maxSim
              }
            if (score > bestScore) { bestScore = score; best = i }
          }
          i += 1
        }
        taken(best) = true
        sel += best
        out += ((q, cs(best)._2, cs(best)._3, bestScore.toDouble / outScale, rank))
        rank += 1
      }
      out.iterator
    }.toDF("query_id", "doc_id", "rel", "mmr", "rank")
  }

  /** Embedding-space benchmark decontamination — the semantic
    * counterpart of the n-gram pass ([[Pipeline]] contamination):
    * corpus vectors whose max cosine against ANY benchmark vector
    * reaches `threshold` are flagged for removal (paraphrased test-set
    * leakage that k-gram overlap never catches).
    *
    * Shape at scale: the benchmark set is bounded (test sets are small),
    * so it collects to ONE row and ships broadcast as a task constant —
    * the max-similarity fold fuses into the corpus scan; zero shuffles,
    * no corpus-keyed aggregation (contrast the KNN-join shape, which
    * exists for corpus×corpus). Max over 6-dp-rounded sims keeps the
    * flag engine-portable at the threshold boundary.
    */
  def semanticContamination(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double): DataFrame = {
    val bench = benchmark.agg(collect_list(col("embedding")).as("_b"))
    corpus.crossJoin(broadcast(bench))
      .select(col("vec_id"),
        aggregate(col("_b"), lit(-1.0),
          (acc, b) => greatest(acc,
            round(cosine_sim(col("embedding"), b), 6))).as("max_sim"))
      .filter(col("max_sim") >= lit(threshold))
  }

  /** Hyperplane LSH code of every embedding (bits-wide sign code). */
  def withLshCode(df: DataFrame, bits: Int, seed: Long): DataFrame =
    df.withColumn("lsh_code",
      call_function("lsh_code", col("embedding"), lit(bits), lit(seed)))

  /** (vec_id, ci, cv) chunk table — ids only; embeddings never ride the
    * chunk explode (they would duplicate `bands`× into the shuffle).
    */
  private def chunkedIds(df: DataFrame, bits: Int, bands: Int, seed: Long,
                         idAs: String): DataFrame = {
    val chunkBits = bits / bands
    val mask = (1L << chunkBits) - 1
    val chunks = (0 until bands).map { c =>
      struct(lit(c).as("ci"),
        shiftright(col("lsh_code"), c * chunkBits).bitwiseAND(lit(mask)).as("cv"))
    }
    withLshCode(df, bits, seed)
      .select(col("vec_id").as(idAs), explode(array(chunks: _*)).as("ch"))
      .select(col(idAs), col("ch.ci").as("ci"), col("ch.cv").as("cv"))
  }

  /** ANN top-k: candidates = corpus vectors sharing >= 1 of `bands` code
    * chunks with the query. The chunk join and the candidate distinct carry
    * IDS ONLY (fixed-width keys); embeddings join back exactly once for the
    * re-score — at 100 TB the wide column crosses the wire once per vector,
    * not once per band.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 32, bands: Int = 8, seed: Long = 7L): DataFrame = {
    val cands = chunkedIds(corpus, bits, bands, seed, "neighbor_id")
      .join(broadcast(chunkedIds(queries, bits, bands, seed, "query_id")), Seq("ci", "cv"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val scored = cands
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")),
        "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine_sim(col("n_emb"), col("q_emb")), 6).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, LSH-bucketed
    * candidate generation (same chunk trick as [[lshTopK]], corpus vs
    * corpus), exact verification. Candidate join + distinct are id-only;
    * embeddings re-join once per side. Output (a, b, sim), a < b.
    */
  def embeddingNearDupPairs(corpus: DataFrame, threshold: Double,
                            bits: Int = 32, bands: Int = 8, seed: Long = 7L): DataFrame = {
    // one bucket aggregation, not a chunk self-join — the self-join
    // evaluates the lsh_code+explode pipeline once per aliased side (the
    // cost Dedup.lshCandidates' rewrite documents); identical pair set
    val pairs = chunkedIds(corpus, bits, bands, seed, "vec_id")
      .groupBy("ci", "cv")
      .agg(sort_array(collect_set(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Dedup.pairsOf(col("ids"))).as("p"))
      .select(col("p.a"), col("p.b"))
      .distinct()
    val emb = corpus.select(col("vec_id"), col("embedding"))
    pairs
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .select(col("a"), col("b"), round(cosine_sim(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): prune the corpus to one
    * representative per embedding near-duplicate group. Composes
    * [[embeddingNearDupPairs]] (bucketed candidates, id-only pair set)
    * with [[Dedup.dupGroups]] (connected components); the kept
    * representative is the group's minimum id — the paper's "keep one
    * exemplar per cluster-duplicate set" made deterministic. Returns the
    * kept rows of `corpus` unchanged (left-semi join on the id).
    *
    * Shape at scale: everything heavy is inherited — the pair set never
    * materializes embeddings (id-only), components shuffle (id, label)
    * pairs, and the final semi-join is id-keyed. Nothing new accumulates.
    */
  def semDedup(corpus: DataFrame, threshold: Double): DataFrame = {
    val pairs = embeddingNearDupPairs(corpus, threshold)
    val keep = graft.operators.Dedup
      .dupGroups(corpus.select("vec_id"), pairs, "vec_id")
      .filter(col("doc_id") === col("group_id"))
      .select(col("doc_id").as("vec_id"))
    corpus.join(keep, Seq("vec_id"), "left_semi")
  }

  /** How many training vectors to sample per centroid. Production IVF
    * trains k-means on a bounded sample (Faiss defaults to a few dozen
    * vectors per centroid), never the corpus — the Lloyd refinement
    * explodes train×dim rows, which must stay bounded at 100 TB.
    */
  private val trainPerList = 64L

  /** Scaling for the fixed-point Lloyd mean (see [[ivfAssign]]): centroid
    * component sums ride as `round(x * 2^24)` longs, whose addition is
    * order-independent — the reproducibility contract the Verify fixture
    * oracle relies on.
    */
  private[graft] val fixedPointScale: Double = (1L << 24).toDouble

  /** Nearest-centroid id as a pure expression over the embedding: centroids
    * ride along as broadcast literals (nlist × dim floats — tiny), so the
    * full-corpus assignment is a MAP with no join and no shuffle. Ties on
    * similarity break to the lowest cid (max of (sim, -cid)).
    */
  private def nearestCidCol(cents: Seq[(Int, Array[Float])], emb: Column): Column = {
    val scored = cents.map { case (cid, vec) =>
      struct(cosine_sim(emb, typedLit(vec)).as("s"), lit(-cid).as("nc"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    -best.getField("nc")
  }

  /** Above this many lists the literal-expression assignment would embed
    * nlist × dim float constants into one generated method — past Janino's
    * 64 KB method / constant-pool limits long before the 10³-10⁵ lists a
    * 100 TB corpus wants. Assignment then switches to a broadcast join +
    * map-side max_by: same result and tie-break, one row per vector
    * shuffles (vs zero), bounded codegen.
    */
  private val literalAssignMaxLists = 256

  /** Broadcast-join assignment (the same shape the Lloyd training pass
    * uses): nlist scored rows per vector combine map-side via partial
    * max_by, so the shuffle carries one row per corpus vector.
    */
  private def assignByJoin(corpus: DataFrame, centDf: DataFrame,
                           keep: Seq[String] = Nil): DataFrame =
    corpus.crossJoin(broadcast(centDf))
      .select(Seq(col("vec_id"), col("embedding"), col("cid"),
        cosine_sim(col("embedding"), col("centroid")).as("sim")) ++
        keep.map(col): _*)
      .groupBy("vec_id").agg(
        max_by(col("cid"), struct(col("sim"), (-col("cid")).cast("double"))).as("cid"),
        first(col("embedding")).as("embedding") +:
          keep.map(c => first(col(c)).as(c)): _*)
      .select(Seq(col("vec_id"), col("cid"), col("embedding")) ++
        keep.map(col): _*)

  /** IVF (inverted-file) index build: deterministic seeded centroids refined
    * with `iters` Lloyd steps over a bounded SAMPLE of the corpus
    * (~[[trainPerList]] vectors per list), then ONE full-corpus assignment
    * pass against the final centroids as broadcast literals. Centroids live
    * on the driver (nlist × dim floats — tiny) exactly as a production IVF
    * keeps them in the index header; the corpus-sized work is a single
    * shuffle-free map.
    */
  def ivfAssign(spark: SparkSession, corpus: DataFrame, nlist: Int,
                iters: Int = 1, knownCount: Option[Long] = None,
                keep: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val n = knownCount.getOrElse(corpus.count())
    // deterministic sample: every sampleStride-th vec_id
    val sampleStride = math.max(n / (nlist * trainPerList), 1L)
    val train = corpus.filter(col("vec_id") % sampleStride === 0)
    val stride = math.max(n / nlist, 1L)
    // deterministic seeds: every stride-th vec_id, indexed DRIVER-side on
    // the collected (nlist-bounded) header — a no-partition row_number
    // window here was correct but logged the "moving all data to a single
    // partition" WARN every train, burying the one time that warning
    // would matter
    val seedVecs = corpus.filter(col("vec_id") % stride === 0)
      .orderBy("vec_id").limit(nlist)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0))
    var centroids = spark.createDataFrame(
      spark.sparkContext.parallelize(
        seedVecs.zipWithIndex.map { case (v, i) => Row(i, v) }.toSeq, 1),
      StructType(Seq(StructField("cid", IntegerType, nullable = false),
        StructField("centroid", ArrayType(FloatType), nullable = true))))
    (1 to iters).foreach { _ =>
      val assignedT = train.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("embedding"), col("cid"),
          cosine_sim(col("embedding"), col("centroid")).as("sim"))
        // nearest centroid via max_by — aggregates map-side (all nlist rows
        // of a vector sit in its input partition), so only one row per
        // TRAINING vector shuffles
        .groupBy("vec_id").agg(
          max_by(col("cid"), struct(col("sim"), (-col("cid")).cast("double"))).as("cid"),
          first(col("embedding")).as("embedding"))
      // Lloyd refinement: mean of member vectors per list (exploded
      // position aggregation), train-sized only. The mean accumulates in
      // FIXED-POINT (scaled-long) arithmetic: long addition is associative,
      // so the refined centroid is bit-identical whatever partition/merge
      // order a cluster's members arrive in — a double `avg` drifts with
      // reduction order, making the trained index irreproducible across
      // runs and cluster sizes (and un-oracle-able). 2^24 scaling keeps ~7
      // significant digits per component, well inside the float cast that
      // follows. A cell that wins zero training vectors KEEPS its previous
      // centroid (same rule as lloydSubBooks) — dropping it would silently
      // shrink nlist below what the caller asked for.
      val refined = assignedT
        .select(posexplode(col("embedding")).as(Seq("pos", "x")), col("cid"))
        .groupBy("cid", "pos").agg(
          sum(round(col("x").cast("double") * lit(fixedPointScale)).cast("long")).as("sfx"),
          count(lit(1)).as("cnt"))
        .select(col("cid"), col("pos"),
          (col("sfx").cast("double") / col("cnt") / lit(fixedPointScale)).as("m"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cid"), transform(col("ps"), p => p("m").cast("float")).as("centroid"))
      centroids = centroids.as("prev")
        .join(refined.as("nw"), Seq("cid"), "left_outer")
        .select(col("cid"),
          coalesce(col("nw.centroid"), col("prev.centroid")).as("centroid"))
    }
    // materialize the final centroid header driver-side (bounded: nlist×dim)
    val cents = centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    val centDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cents.map { case (cid, v) => Row(cid, v.toSeq) }, 1),
      StructType(Seq(StructField("cid", IntegerType, nullable = false),
        StructField("centroid", ArrayType(FloatType), nullable = true))))
    // spread ONLY the full-corpus assignment input: the per-vector
    // assignment + the encode chained onto it are the compute-heavy map
    // (a single-row-group source reads as ONE split and would serialize
    // them); the count/seed/train passes above stay on the raw scan —
    // spreading those too just re-pays the round-robin shuffle once per
    // bounded pass (measured as a regression, the r17 fact-scan lesson).
    // Assignment is per-row and the sort/limit consumers are above, so
    // results are identical.
    val corpusS = graft.Tables.spread(corpus)
    val assigned =
      if (cents.length <= literalAssignMaxLists)
        corpusS.select(Seq(col("vec_id"),
          nearestCidCol(cents, col("embedding")).as("cid"), col("embedding")) ++
          keep.map(col): _*)
      else assignByJoin(corpusS, centDf, keep)
    (centDf, assigned)
  }

  /** Cluster-balanced downsampling (the DataComp-style diversity cut):
    * keep at most `perCluster` rows per cluster, selected by the
    * deterministic md5 uniform rank over `key` ([[Pipeline.hashUniform]])
    * — the kept set spreads across embedding space instead of following
    * raw-corpus density, and re-runs/backfills agree with no RNG or seed
    * coordination. The cut is the bounded top-k aggregate
    * ([[graft.functions.TopKRowsAgg]]): map-side buffers hold `perCluster`
    * rows per cluster and the shuffle ships the answer, never the cluster.
    * Output: (cid, key, rnk). Compose with [[ivfAssign]] (k-means lists)
    * or any other cluster labeling.
    */
  def clusterBalancedSample(assigned: DataFrame, cid: String, key: String,
                            perCluster: Int): DataFrame =
    CqlOps.perPartitionLimitAgg(
      assigned.select(col(cid), col(key),
        Pipeline.hashUniform(col(key)).as("_u")),
      Seq(cid), Seq(("_u", false), (key, false)), perCluster, "rnk")
      .drop("_u")

  /** Prototype-based data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws": keep-hard pruning beats random subsampling once the
    * corpus is large): assign each vector to its k-means list
    * ([[ivfAssign]] — reproducible fixed-point training), score
    * prototypicality as cosine to the assigned centroid, and mark the
    * most prototypical `dropFrac` of EVERY cluster as dropped — the
    * near-centroid mass is the redundant "easy" data; the kept tail
    * preserves coverage of the embedding space. Complements [[semDedup]]
    * (which removes near-DUPLICATES; this removes near-PROTOTYPES).
    *
    * Scale: assignment is ivfAssign's shuffle-free broadcast map; scoring
    * joins only the nlist-row centroid header (broadcast); the ranking is
    * ONE shuffle on cid with a cluster-local sort — clusters are
    * corpus/nlist-sized by construction, so partitions stay bounded as
    * long as nlist scales with the corpus (the same knob the IVF index
    * already turns). The drop threshold needs every cluster member
    * ranked, so a bounded top-k aggregate can't replace the window here.
    *
    * Deterministic: rank on (6dp-rounded sim DESC, vec_id) — a total
    * order over exactly the values the output carries.
    * Output: (vec_id, cid, proto_sim, rnk, kept);
    * drop count per cluster = floor(cluster_n × dropFrac).
    */
  def prototypePrune(spark: SparkSession, corpus: DataFrame, nlist: Int,
                     dropFrac: Double, iters: Int = 1): DataFrame = {
    val (centDf, assigned) = ivfAssign(spark, corpus, nlist, iters)
    val scored = assigned.join(broadcast(centDf), "cid")
      .select(col("vec_id"), col("cid"),
        round(cosine_sim(col("embedding"), col("centroid")), 6).as("proto_sim"))
    val w = Window.partitionBy("cid").orderBy(desc("proto_sim"), asc("vec_id"))
    scored
      .select(col("vec_id"), col("cid"), col("proto_sim"),
        row_number().over(w).as("rnk"),
        count(lit(1)).over(Window.partitionBy("cid")).as("cluster_n"))
      .withColumn("kept", col("rnk") > floor(col("cluster_n") * lit(dropFrac)))
      .drop("cluster_n")
  }

  /** Symmetric int8 scalar quantization of an embedding column: per-vector
    * scale = 127 / max|x|, elements stored as round-half-up ints — 4× less
    * storage/bandwidth for a 100 TB embedding corpus; [[dequantize]]
    * reconstructs x' = q/scale. floor(x·s + 0.5) keeps the rounding
    * bit-identical across engines (no ties-to-even ambiguity).
    */
  def quantize(embedding: Column): (Column, Column) = {
    val scale = lit(127.0) / greatest(array_max(transform(embedding,
      x => abs(x.cast("double")))), lit(1e-30))
    val q = transform(embedding, x =>
      floor(x.cast("double") * scale + lit(0.5)).cast("int"))
    (q, scale)
  }

  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => (x.cast("double") / scale).cast("float"))

  /** L2 normalization to the unit sphere — the preprocessing step cosine
    * ANN geometry assumes (post-normalization, dot product == cosine, so
    * the scorer can skip the per-pair norm work). Purely per-vector: the
    * squared-sum folds sequentially in ascending index order (double
    * accumulation), so results are deterministic and engine-reproducible;
    * no cross-row float accumulation anywhere. Returns (unit vector,
    * norm). Zero vectors stay zero via the epsilon guard.
    */
  def l2Normalize(embedding: Column): (Column, Column) = {
    val norm = sqrt(aggregate(embedding, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val unit = transform(embedding,
      x => x.cast("double") / greatest(norm, lit(1e-30)))
    (unit, norm)
  }

  /** Per-label centroid table — the class-geometry diagnostic for a
    * labeled embedding corpus (classifier sanity, near-class detection,
    * per-class drift): one posexplode aggregation onto the
    * label×dim-bounded key space, fixed-point long sums
    * (partitioning-independent by integer addition), means rounded
    * HALF_UP to 6 dp. Output: (label, pos, m, n).
    */
  def labelCentroids(corpus: DataFrame, labelCol: String): DataFrame =
    corpus.filter(col("embedding").isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).as("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(round(col("x").cast("double") * lit(fixedPointScale))
        .cast("long")).as("sfx"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        round(col("sfx").cast("double") / col("n") / lit(fixedPointScale), 6)
          .as("m"),
        col("n"))

  /** Pairwise cosine between label centroids (label_a < label_b) — the
    * confusable-class matrix: close centroids mean classes the
    * embedding space barely separates. Products round to integer
    * micros and sum as longs (order-independent), the norms likewise;
    * everything runs on the labels×dim table, never the corpus.
    */
  def centroidAffinity(centroids: DataFrame): DataFrame = {
    def micros(x: Column) = round(x * lit(1e6)).cast("long")
    val n2 = centroids.groupBy(col("label"))
      .agg(sum(micros(col("m") * col("m"))).as("s2"))
    val a = centroids.select(col("label").as("label_a"), col("pos"),
      col("m").as("ma"))
    val b = centroids.select(col("label").as("label_b"), col("pos"),
      col("m").as("mb"))
    a.join(b, "pos").filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(micros(col("ma") * col("mb"))).as("sab"))
      .join(n2.select(col("label").as("label_a"), col("s2").as("saa")), "label_a")
      .join(n2.select(col("label").as("label_b"), col("s2").as("sbb")), "label_b")
      .select(col("label_a"), col("label_b"),
        round(col("sab").cast("double") / lit(1e6) /
          sqrt((col("saa").cast("double") / lit(1e6)) *
            (col("sbb").cast("double") / lit(1e6))), 6).as("sim"))
  }

  /** Matryoshka (MRL) prefix-dimension retrieval: score candidates on
    * the FIRST `prefixDim` coordinates only (matryoshka-trained
    * embeddings front-load their information, so the prefix preserves
    * neighborhood structure), then exact-rerank the bounded candidate
    * set on the full vectors — the adaptive-retrieval shape from
    * Kusupati et al. 2022. The candidate scan reads dim/prefixDim×
    * less arithmetic per row (and a column-pruned store would read
    * proportionally fewer bytes); the rerank touches only
    * queries×k×rerank true vectors via the broadcast candidate join.
    */
  def mrlTopK(corpus: DataFrame, queries: DataFrame, k: Int, prefixDim: Int,
              rerank: Int = 4): DataFrame = {
    require(prefixDim >= 1, s"mrlTopK: prefixDim must be >= 1, got $prefixDim")
    def prefixed(df: DataFrame) =
      df.withColumn("embedding", slice(col("embedding"), 1, prefixDim))
    val cands = bruteForceTopK(prefixed(corpus), prefixed(queries), k * rerank)
      .select("query_id", "neighbor_id")
    rescoreExact(cands, queries, corpus, k)
  }

  // ── ANN indexes: one quantizer, optionally behind an IVF partitioner ──
  //
  // The index-factory composition of Johnson et al. (FAISS): a
  // [[Quantizer]] (identity, SQ8, PQ, or OPQ = rotation then PQ), an
  // optional IVF centroid header (nlist × dim — tiny, broadcastable), and
  // a code table, cid-partitioned on disk under the header so a probe's
  // scan prunes to the probed `codes/cid=K/` directories — a 100 TB corpus
  // search reads only nprobe/nlist of the index. "IVF16,SQ8" is
  // (SQ8, nlist 16); "OPQ8,IVF16,PQ8" is (OPQ, nlist 16, m 8). Train,
  // save/load, append, search, KNN join and drift each have ONE path; the
  // quantizer supplies the only per-variant parts.

  /** Which quantizer [[AnnIndex.train]] fits (the factory token). */
  sealed trait QuantizerKind

  /** A trained quantizer: how the code table stores a vector. Every
    * header is driver-bounded and rides the encode/search plans as
    * broadcast literals.
    */
  sealed trait Quantizer {
    /** (Rotated) `embedding` → the stored code column. */
    private[graft] def encode(emb: Column): Column
    /** Stored codes → the reconstructed (rotated-space) vector. */
    private[graft] def decode(codes: Column): Column
    /** Width of the vectors it encodes; None when it has no header. */
    private[graft] def dim: Option[Int]
    /** The index-specific drift signal over a batch `embedding`. */
    private[graft] def driftSignal: Option[(String, Column)]
    /** OPQ's orthogonal pre-rotation; every other quantizer is axis-aligned. */
    private[graft] def rotation: Option[Array[Array[Double]]] = None
    private[operators] def saveHeader(spark: SparkSession, dir: String): Unit

    /** Replace `embedding` with its rotation (all other columns kept) —
      * the codegen'd `pca_project` kernel with a ZERO mean (a rotation is
      * a PCA transform without the centering): fully distributed,
      * shuffle-free, the dim² weight table shipping once per task.
      */
    private[graft] final def rotate(df: DataFrame): DataFrame = rotation.fold(df) { r =>
      df.withColumn("embedding", call_function("pca_project", col("embedding"),
        lit(Array.fill(r.length)(0.0)), lit(r.flatten), lit(r.length)))
    }
  }

  object Quantizer {
    case object Flat extends QuantizerKind
    case object SQ8 extends QuantizerKind
    case object PQ extends QuantizerKind
    case object OPQ extends QuantizerKind

    /** Raw float vectors: codes ARE the embedding. */
    case object Identity extends Quantizer {
      private[graft] def encode(emb: Column): Column = emb
      private[graft] def decode(codes: Column): Column = codes
      private[graft] def dim: Option[Int] = None
      private[graft] def driftSignal: Option[(String, Column)] = None
      private[operators] def saveHeader(spark: SparkSession, dir: String): Unit = ()
    }

    /** SQ8 (Faiss IndexScalarQuantizer QT_8bit): one byte per DIMENSION
      * via per-dim linear [min, max] buckets — 4× smaller than float32
      * (vs PQ's 32× at much higher reconstruction fidelity), trained by
      * ONE min/max aggregation ([[sq8Train]]) instead of k-means, decode
      * two FMAs per element. The standard first stop when a float corpus
      * stops fitting the page cache but PQ recall is not acceptable.
      * Bounded header (2 × dim floats).
      */
    final case class Scalar(mins: Array[Float], maxs: Array[Float]) extends Quantizer {
      require(mins.length == maxs.length,
        s"sq8: ${mins.length} mins vs ${maxs.length} maxs")
      /** span 0 (constant dimension) encodes to code 0 and decodes to min. */
      private[graft] def spans: Array[Float] = Array.tabulate(mins.length)(i => maxs(i) - mins(i))
      private[graft] def dim: Option[Int] = Some(mins.length)

      /** code_i = round((x_i − min_i) / span_i × 255), stored with a −128
        * offset so the full 0..255 range fits a signed byte (PQ caps at
        * ksub ≤ 128 instead — SQ needs all 8 bits). The arithmetic runs in
        * DOUBLE with an explicit floor(… + 0.5), so the codes are
        * bit-reproducible and the Verify replica can reproduce them
        * exactly. Out-of-range values (vectors unseen at train) clamp.
        */
      private[graft] def encode(emb: Column): Column =
        transform(emb, (x, i) => {
          val mn = element_at(typedLit(mins.toSeq), i + 1).cast("double")
          val span = element_at(typedLit(spans.toSeq), i + 1).cast("double")
          (least(lit(255.0d), greatest(lit(0.0d),
            floor(when(span > 0.0d, (x.cast("double") - mn) / span * 255.0d)
              .otherwise(0.0d) + 0.5d))) - 128.0d).cast("tinyint")
        })

      /** min_i + (code_i + 128) / 255 × span_i, in double, cast float. */
      private[graft] def decode(codes: Column): Column =
        transform(codes, (c, i) => {
          val mn = element_at(typedLit(mins.toSeq), i + 1).cast("double")
          val span = element_at(typedLit(spans.toSeq), i + 1).cast("double")
          (mn + (c.cast("double") + 128.0d) / 255.0d * span).cast("float")
        })

      /** `clamp_frac`: the fraction of a vector's components OUTSIDE the
        * saved per-dimension [min, max] bounds — those clamp at encode and
        * lose fidelity, so a rising clamp_frac means the BOUNDS need
        * retraining even while list balance still looks healthy (the Faiss
        * practice: re-check the scalar quantizer's ranges on every composed
        * index, not just the coarse centroids). Component counts are exact
        * integers, so the fraction is as reproducible as the cosines.
        */
      private[graft] def driftSignal: Option[(String, Column)] = {
        val minsLit = typedLit(mins.toSeq)
        val maxsLit = typedLit(maxs.toSeq)
        Some("clamp_frac" -> size(filter(
            transform(col("embedding"), (x, i) =>
              x < element_at(minsLit, i + 1) || x > element_at(maxsLit, i + 1)),
            b => b)).cast("double") / lit(mins.length.toDouble))
      }

      private[operators] def saveHeader(spark: SparkSession, dir: String): Unit = {
        import spark.implicits._
        val df = mins.indices.map(i => (i, mins(i), maxs(i))).toDF("i", "mn", "mx")
        graft.SchemaCache.noteWrite(s"$dir/params", df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
      }
    }

    /** Product quantization (Jégou, Douze, Schmid 2011), optionally behind
      * OPQ's learned rotation (Ge et al. 2013). `books(j)(c)` is the
      * dsub-wide centroid c of subspace j; codes are m bytes per vector
      * (32× smaller than the floats at dim=64, m=8). Search scores
      * cosine(query, reconstruction): asymmetric-distance ranking without
      * the lookup table. `rotation` (dim×dim, row-major, 6-dp-rounded) is
      * None for plain PQ; with it, lists and codebooks live in rotated space.
      */
    final case class Product(books: Array[Array[Array[Float]]],
                             override val rotation: Option[Array[Array[Double]]] = None)
        extends Quantizer {
      private def m: Int = books.length
      private def dsub: Int = books.head.head.length
      private[graft] def dim: Option[Int] = Some(m * dsub)
      rotation.foreach(r => require(r.length == m * dsub && r.forall(_.length == r.length),
        s"opq rotation must be ${m * dsub}×${m * dsub}, got ${r.map(_.length).toSeq}"))

      /** Per subspace, the nearest codebook centroid as a pure expression
        * (squared L2 folds; ties break to the lowest code) — a single
        * shuffle-free projection with the codebooks as plan literals.
        */
      private[graft] def encode(emb: Column): Column =
        array((0 until m).map { j =>
          val sub = slice(emb, j * dsub + 1, dsub)
          val scored = books(j).zipWithIndex.map { case (cent, c) =>
            struct((-l2SqCol(sub, cent)).as("nd"), lit(-c).as("nc"))
          }
          val best = if (scored.length == 1) scored.head else greatest(scored.toSeq: _*)
          (-best.getField("nc")).cast("tinyint").as(s"c$j")
        }: _*)

      /** Concatenated per-subspace centroids — the decode side of the codes. */
      private[graft] def decode(codes: Column): Column =
        flatten(transform(sequence(lit(0), lit(m - 1)), j =>
          element_at(typedLit(books.map(_.map(_.toSeq).toSeq).toSeq), j + 1)
            .getItem(element_at(codes, j + 1).cast("int"))))

      /** `mean_qcos`: a vector's cosine to its OWN reconstruction under the
        * saved codebooks — sinking fidelity on new data is the
        * codebook-retrain trigger (list balance can stay perfect while the
        * codebooks stop describing the vectors). Encode + decode fuse into
        * the assignment scan.
        */
      private[graft] def driftSignal: Option[(String, Column)] =
        Some("mean_qcos" -> cosine_sim(col("embedding"), decode(encode(col("embedding")))))

      /** One row per (subspace, code) centroid slice, plus the rotation
        * weights — both derive from driver-side state, so the writes overlap.
        */
      private[operators] def saveHeader(spark: SparkSession, dir: String): Unit = {
        import spark.implicits._
        val cb = (for ((book, j) <- books.toSeq.zipWithIndex; (cent, c) <- book.toSeq.zipWithIndex)
          yield (j, c, cent.toSeq)).toDF("j", "c", "centroid").coalesce(1)
        graft.SchemaCache.noteWrite(s"$dir/codebooks", cb.schema)
        inParallel(
          cb.write.mode("overwrite").parquet(s"$dir/codebooks"),
          rotation.foreach { r =>
            val df = (for (k <- r.indices; i <- r.indices) yield (k, i, r(k)(i)))
              .toDF("row_idx", "dim_idx", "weight")
            graft.SchemaCache.noteWrite(s"$dir/rotation", df.schema)
            df.coalesce(1).write.mode("overwrite").parquet(s"$dir/rotation")
          })
        ()
      }
    }

    /** A saved index's header: `params/` is SQ8, `codebooks/` PQ (OPQ with
      * `rotation/`), neither the identity. Parquet round-trips it bit-exactly.
      */
    private[operators] def load(spark: SparkSession, dir: String,
                                has: String => Boolean): Quantizer =
      if (has("params")) {
        val rows = graft.SchemaCache.read(spark, s"$dir/params")
          .select("i", "mn", "mx").collect()
        val mins = new Array[Float](rows.length); val maxs = new Array[Float](rows.length)
        rows.foreach { r => mins(r.getInt(0)) = r.getFloat(1); maxs(r.getInt(0)) = r.getFloat(2) }
        Scalar(mins, maxs)
      } else if (has("codebooks")) {
        val (bookRows, rotRows) = inParallel(
          graft.SchemaCache.read(spark, s"$dir/codebooks").collect()
            .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray)),
          if (has("rotation")) Some(graft.SchemaCache.read(spark, s"$dir/rotation")
            .select("row_idx", "dim_idx", "weight").collect()) else None)
        require(bookRows.nonEmpty, s"no codebook rows under $dir/codebooks")
        val books = Array.tabulate(bookRows.map(_._1).max + 1)(j =>
          bookRows.filter(_._1 == j).sortBy(_._2).map(_._3))
        Product(books, rotRows.map { rows =>
          val d = rows.map(_.getInt(0)).max + 1
          val rot = Array.ofDim[Double](d, d)
          rows.foreach(r => rot(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
          rot
        })
      } else Identity
  }

  /** An ANN index: a quantizer, an optional IVF centroid header, and the
    * code table (vec_id, cid when IVF, kept attribute columns, codes).
    */
  final case class AnnIndex(quantizer: Quantizer, centroids: Option[DataFrame],
                            codes: DataFrame) {

    /** Persist under one layout: `codes/` (partitioned by cid when there
      * is an IVF header), `centroids/`, and the quantizer's header. Same-JVM
      * loads skip footer inference (SchemaCache). The headers derive from
      * driver-side state — independent of the code-table write, so every
      * write overlaps.
      */
    def save(dir: String): Unit = {
      val spark = codes.sparkSession
      // a reused directory must not keep another index's headers: load
      // infers the index shape from which headers exist
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("centroids", "params", "codebooks", "rotation")
        .foreach(h => fs.delete(new Path(dir, h), true))
      inParallel(
        centroids match {
          case Some(c) => saveCentroidsAndLists(c, codes, dir)
          case None =>
            graft.SchemaCache.noteWrite(s"$dir/codes", codes.schema)
            codes.write.mode("overwrite").parquet(s"$dir/codes")
        },
        quantizer.saveHeader(spark, dir))
      ()
    }

    /** Top-k search for a (broadcast-sized) query set. With an IVF
      * header: the nprobe nearest lists per query; the probed cid set
      * (≤ nlist ints) prunes the code scan at the directory level and the
      * bounded route set broadcasts into it, so lists are never shuffled;
      * nprobe == nlist is the flat scan. Without: one shuffle-free map over
      * the code table against the broadcast queries. Codes decode ONCE per
      * row, before the query join.
      *
      * `corpus` adds the exact re-ranking tail (Jégou et al. 2011 §VI,
      * "IVFADC+R"; Faiss IndexRefineFlat): rerank×k candidates per query
      * re-score on their TRUE embeddings, fetched by id.
      *
      * `predicate` (Faiss IDSelector) filters INSIDE the pruned scan,
      * before scoring; on a loaded index it pushes into the parquet read,
      * cutting bytes. Exhaustive probing equals brute force over the
      * matching corpus; a harsh filter under partial probing can empty a
      * probed list — raise nprobe with selectivity.
      */
    def search(queries: DataFrame, k: Int, nprobe: Int = 4,
               corpus: Option[DataFrame] = None, rerank: Int = 4,
               predicate: Option[Column] = None): DataFrame =
      probe(queries, k, nprobe, corpus, rerank, predicate, salt = None)

    /** Distributed KNN JOIN for a corpus-sized query set, which [[search]]
      * cannot take (it broadcasts the routes). Row-identical to [[search]]
      * (spec-pinned): routes and lists join as a plain cid equi-join, and
      * the rerank tail joins without broadcast hints. `salt > 1` splits
      * each list into `salt` sub-lists (`vec_id mod salt`) and replicates
      * each route across them — caps a skewed list's join key at
      * list_size/salt rows; results are salt-invariant.
      */
    def knnJoin(queries: DataFrame, k: Int, nprobe: Int = 4, salt: Int = 1,
                corpus: Option[DataFrame] = None, rerank: Int = 4): DataFrame =
      probe(queries, k, nprobe, corpus, rerank, None, Some(salt))

    /** The one search entry: argument checks, then everything in the
      * quantizer's space (a rotation preserves cosine, and staying in one
      * space keeps the code scan and the rerank bit-consistent).
      */
    private def probe(queries: DataFrame, k: Int, nprobe: Int,
                      corpus: Option[DataFrame], rerank: Int,
                      predicate: Option[Column], salt: Option[Int]): DataFrame = {
      require(k >= 1, s"search: k must be >= 1, got $k")
      require(nprobe >= 1, s"search: nprobe must be >= 1, got $nprobe")
      require(rerank >= 1, s"search: rerank must be >= 1, got $rerank")
      salt.foreach(s => require(s >= 1 && s <= 4096, s"search: salt must be in 1..4096, got $s"))
      require(salt.isEmpty || centroids.nonEmpty,
        "knnJoin: needs an IVF index (the join runs per list)")
      val q = quantizer.rotate(queries)
      def decoded(lists: DataFrame, keys: String*): DataFrame = {
        val kept = predicate.fold(lists)(lists.filter)
        kept.select(keys.map(col) :+ col("vec_id") :+
          quantizer.decode(col("codes")).as("recon"): _*)
      }
      val pairs = centroids match {
        case None =>
          decoded(codes).crossJoin(broadcast(
            q.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))))
        case Some(header) =>
          val (probed, cids) = probeRoutes(header, q, nprobe)
          val lists = decoded(codes.filter(col("cid").isin(cids: _*)), "cid")
          salt match {
            case None => lists.join(broadcast(probed), "cid")
            case Some(s) =>
              val routes =
                if (s == 1) probed.withColumn("_s", lit(0))
                else probed.withColumn("_s", explode(sequence(lit(0), lit(s - 1))))
              lists.withColumn("_s", pmod(col("vec_id"), lit(s.toLong)).cast("int"))
                .join(routes, Seq("cid", "_s"))
          }
      }
      val top = topKPerQuery(pairs
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(cosine_sim(col("recon"), col("q_emb")), 6).as("sim")),
        if (corpus.isDefined) k * rerank else k)
      corpus.fold(top)(c => rescoreExact(top.select("query_id", "neighbor_id"),
        q, quantizer.rotate(c), k, bcast = salt.isEmpty))
    }

    /** Centroid-drift monitor, the retrain trigger for
      * [[AnnIndex.append]]'s steady state, in its STREAMING-accumulator
      * form: per list, a batch's count and DECIMAL(18,6) sums of each
      * vector's 6-dp cosine to its ASSIGNED centroid plus the quantizer's
      * own signal (`clamp_frac` for SQ8, `mean_qcos` for PQ/OPQ), measured
      * in the quantizer's (rotated) space. Shuffle-free assignment, one
      * nlist-keyed aggregation; [[driftStatsFinalize]] divides once over
      * any union of sums frames.
      */
    def driftSums(vecs: DataFrame): DataFrame = {
      require(centroids.nonEmpty, "driftSums: drift is per IVF list; the index has none")
      // batch hygiene runs inside assignBatch: a null embedding would be
      // counted in n while its null cosine drops from the sum, silently
      // deflating mean_cos and triggering spurious retrains
      val (cents, assigned) = assignBatch(centroids.get, vecs, quantizer, "driftSums")
      driftSumsFrom(cents, assigned, quantizer.driftSignal.toSeq)
    }

    /** The one-shot batch monitor: [[driftSums]] finalized to per-list means. */
    def driftStats(vecs: DataFrame): DataFrame = driftStatsFinalize(driftSums(vecs))
  }

  object AnnIndex {

    /** Train an index: the quantizer, plus — when `nlist > 0` — IVF lists
      * (seeded centroids + `iters` Lloyd steps; re-train with higher
      * `iters` to tighten lists as the corpus drifts), then ONE encode
      * projection over the assigned corpus, carrying cid through with no
      * re-join. `m`/`ksub` size PQ/OPQ codebooks and `opqIters` counts the
      * OPQ alternations. `keep` carries attribute columns into the code
      * table so search predicates filter inside the pruned scan.
      */
    def train(spark: SparkSession, corpus: DataFrame,
              quantizer: QuantizerKind = Quantizer.Flat, nlist: Int = 0,
              iters: Int = 1, m: Int = 8, ksub: Int = 16, opqIters: Int = 3,
              keep: Seq[String] = Nil): AnnIndex = {
      require(nlist >= 0, s"train: nlist must be >= 0 (0 = no IVF), got $nlist")
      // the PQ trainers and the IVF assignment share ONE corpus count
      // (each would otherwise scan for it)
      val n = quantizer match {
        case Quantizer.PQ | Quantizer.OPQ => Some(corpus.count())
        case _ => None
      }
      def fit(): Quantizer = quantizer match {
        case Quantizer.Flat => Quantizer.Identity
        case Quantizer.SQ8 => sq8Train(corpus)
        case Quantizer.PQ =>
          Quantizer.Product(lloydSubBooks(pqSample(corpus, m, ksub, n), m, ksub, pqIters))
        case Quantizer.OPQ => opqTrain(corpus, m, ksub, opqIters, n)
      }
      if (nlist == 0) {
        val q = fit()
        // spread before a rotate+encode projection (the plant-spread rule;
        // see ivfAssign) — per-row kernels, so results are identical
        val src = if (q.rotation.isDefined) graft.Tables.spread(corpus) else corpus
        AnnIndex(q, None, encodeTable(q, q.rotate(src), keep))
      } else {
        // OPQ trains first: the IVF lists live in its rotated space. Every
        // other quantizer trains independently of the assignment pass
        // (k-means map vs min/max or codebook sample) — overlap their jobs
        val ((cents, assigned), q) =
          if (quantizer == Quantizer.OPQ) {
            val q = fit()
            (ivfAssign(spark, q.rotate(corpus), nlist, iters, n, keep), q)
          } else inParallel(ivfAssign(spark, corpus, nlist, iters, n, keep), fit())
        AnnIndex(q, Some(cents), encodeTable(q, assigned, "cid" +: keep))
      }
    }

    def load(spark: SparkSession, dir: String): AnnIndex = {
      val has = headers(spark, dir)
      AnnIndex(Quantizer.load(spark, dir, has),
        if (has("centroids")) Some(graft.SchemaCache.read(spark, s"$dir/centroids")) else None,
        graft.SchemaCache.read(spark, s"$dir/codes"))
    }

    /** Incremental ingest into a saved index: assign NEW vectors to its
      * SAVED centroids, encode under its SAVED quantizer (out-of-range SQ8
      * components clamp, the quantizer's standard behavior) and APPEND to
      * the code table — no retrain, no rewrite of existing codes. Appended
      * codes are bit-identical to a from-scratch encode of the union under
      * the same headers, so searches answer exactly alike (spec-pinned).
      * This is the steady-state crawl path: a streaming crawl runs it per
      * micro-batch inside `foreachBatch`, and the index retrains only when
      * [[AnnIndex.driftSums]] says the distribution moved. A batch with a
      * different embedding width (or null embeddings) would land in the
      * table but score nonsense — it fails loudly, on the BATCH scan only,
      * before any index state is touched.
      */
    def append(spark: SparkSession, dir: String, newVecs: DataFrame): Unit = {
      val has = headers(spark, dir)
      val codes = graft.SchemaCache.read(spark, s"$dir/codes")
      // the attribute columns the index was trained to keep ride along
      val keep = codes.columns.toSeq.filterNot(Set("vec_id", "cid", "codes"))
      val missing = keep.filterNot(newVecs.columns.contains)
      require(missing.isEmpty, s"append: the batch lacks kept column(s) ${missing.mkString(", ")}")
      if (has("centroids")) {
        val header = graft.SchemaCache.read(spark, s"$dir/centroids")
        // the quantizer-header read and the batch assignment are
        // independent — overlap them, unless the quantizer rotates (OPQ
        // assigns in rotated space, so its header comes first)
        val (q, (_, assigned)) =
          if (has("rotation")) {
            val q = Quantizer.load(spark, dir, has)
            (q, assignBatch(header, newVecs, q, "append", keep))
          } else inParallel(Quantizer.load(spark, dir, has),
            assignBatch(header, newVecs, Quantizer.Identity, "append", keep))
        clusterByCid(encodeTable(q, assigned, "cid" +: keep))
          .write.mode("append").partitionBy("cid").parquet(s"$dir/codes")
      } else {
        val q = Quantizer.load(spark, dir, has)
        failOnBadEmbeddings(newVecs,
          q.dim.getOrElse(codes.select(size(col("codes"))).head().getInt(0)), "append")
        encodeTable(q, q.rotate(newVecs), keep)
          .write.mode("append").parquet(s"$dir/codes")
      }
    }

    /** Which header directories a saved index has (filesystem metadata,
      * no Spark job).
      */
    private def headers(spark: SparkSession, dir: String): String => Boolean = {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      h => fs.exists(new Path(dir, h))
    }

    private def encodeTable(q: Quantizer, vecs: DataFrame, keep: Seq[String]): DataFrame =
      vecs.select(col("vec_id") +: keep.map(col) :+ q.encode(col("embedding")).as("codes"): _*)
  }

  /** Shared on-disk layout for an IVF index: the centroid header plus the
    * cid-partitioned code table (the pruning structure the probe relies on).
    */
  private def saveCentroidsAndLists(centroids: DataFrame, payload: DataFrame,
                                    dir: String): Unit = {
    // same-JVM loads skip the footer-inference job (SchemaCache)
    graft.SchemaCache.noteWrite(s"$dir/centroids", centroids.schema)
    graft.SchemaCache.noteWrite(s"$dir/codes", payload.schema, Seq("cid"))
    // header and lists land in different directories — overlap the writes
    inParallel(
      centroids.write.mode("overwrite").parquet(s"$dir/centroids"),
      clusterByCid(payload).write.mode("overwrite")
        .partitionBy("cid").parquet(s"$dir/codes"))
    ()
  }

  /** Cluster a cid-partitioned write by its partition key (guide-standard
    * hash distribution before a partitioned write): without it every input
    * partition opens a file in every cid directory — tasks × nlist tiny
    * files whose per-file footer/open cost then dominates the probe-time
    * pruned read. One exchange on cid bounds it to files-per-cid ≈ 1; row
    * content is unchanged. The partition count is pinned to the session's
    * parallelism (scale-adaptive; an unpinned repartition lets AQE coalesce
    * the small shuffle to ONE task, serializing the upstream encode and the
    * write).
    */
  private def clusterByCid(payload: DataFrame): DataFrame =
    payload.repartition(
      payload.sparkSession.sparkContext.defaultParallelism, col("cid"))

  /** Assign a RAW vector batch to a centroid header in the quantizer's
    * space — the ingest-time machinery [[AnnIndex.append]] and the drift
    * monitor share. A rotating quantizer checks the RAW batch first (a
    * wrong-width vector must fail before the rotation kernel ever runs),
    * then assigns the rotated batch without re-checking (width is
    * rotation-invariant, so a second scan could never fire).
    */
  private def assignBatch(centDf: DataFrame, vecs: DataFrame, q: Quantizer, op: String,
                          keep: Seq[String] = Nil): (Seq[(Int, Array[Float])], DataFrame) =
    if (q.rotation.isEmpty) assignToHeader(centDf, vecs, op, keep = keep)
    else {
      failOnBadEmbeddings(vecs, q.dim.get, op)
      assignToHeader(centDf, q.rotate(vecs), op, checked = true, keep)
    }

  /** Assign a vector batch to an in-memory centroid header — the core
    * [[assignBatch]] and every drift monitor share: collect the
    * (bounded) header, fail loudly on a mis-sized batch, then the literal
    * kernel under the codegen cliff / broadcast join above. Returns the
    * sorted header rows alongside the (vec_id, cid, embedding, kept columns) batch.
    * `checked = true` skips the batch hygiene scan — for callers that
    * already validated the RAW batch and then rotated it (width is
    * rotation-invariant, so re-checking would pay a second full pass
    * that can never fire, plus a redundant full-batch rotation).
    */
  private def assignToHeader(centDf: DataFrame, vecs: DataFrame, op: String,
                             checked: Boolean = false, keep: Seq[String] = Nil)
      : (Seq[(Int, Array[Float])], DataFrame) = {
    val cents = centDf.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    if (!checked) failOnBadEmbeddings(vecs, cents.head._2.length, op)
    // spread before the per-vector assignment (and the encode the ingest
    // callers chain onto it) — the plant-spread rule; see ivfAssign
    val vecsS = graft.Tables.spread(vecs)
    val assigned =
      if (cents.length <= literalAssignMaxLists)
        vecsS.select(Seq(col("vec_id"),
          nearestCidCol(cents, col("embedding")).as("cid"), col("embedding")) ++ keep.map(col): _*)
      else assignByJoin(vecsS, centDf, keep)
    (cents, assigned)
  }

  /** Probe routing: the nprobe nearest lists per query, plus the distinct
    * probed-cid set (≤ nlist ints — bounded driver traffic) for
    * directory-level list pruning.
    */
  private def probeRoutes(centroids: DataFrame, queries: DataFrame,
                          nprobe: Int): (DataFrame, Seq[Int]) = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probes = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cid"),
        cosine_sim(col("q_emb"), col("centroid")).as("csim"))
    val wp = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid").asc)
    val probed = probes.withColumn("rn", row_number().over(wp)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cid"))
    (probed, probed.select("cid").distinct().collect().map(_.getInt(0)).toSeq)
  }

  /** Exact-cosine re-score of an id-only candidate set: fetch the true
    * embeddings by id, score against the queries, keep top-k. The
    * candidate set is bounded by construction (|queries| × rerank × k id
    * pairs), so it BROADCASTS into the corpus join — the 100 TB corpus is
    * never shuffled for the re-rank; each scan task filters its rows
    * against the broadcast ids. `bcast = false` is the KNN-join form, where
    * both sides may be corpus-sized: plain equi-joins, AQE decides.
    */
  private def rescoreExact(cands: DataFrame, queries: DataFrame,
                           corpus: DataFrame, k: Int,
                           bcast: Boolean = true): DataFrame = {
    def hint(df: DataFrame) = if (bcast) broadcast(df) else df
    val rescored = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      .join(hint(cands), "neighbor_id")
      .join(hint(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine_sim(col("n_emb"), col("q_emb")), 6).as("sim"))
    topKPerQuery(rescored, k)
  }

  /** Batch-hygiene guard shared by the index-maintenance operators: a
    * null or wrong-width embedding would land in lists / score garbage /
    * bias statistics downstream — fail loudly, on the BATCH scan only
    * (`size(null)` is null, so a bare `=!= dim` filter would let null
    * embeddings slip past).
    */
  private[operators] def failOnBadEmbeddings(vecs: DataFrame, dim: Int, op: String): Unit = {
    val bad = vecs
      .filter(col("embedding").isNull || size(col("embedding")) =!= dim).limit(1)
      .select(col("vec_id"), coalesce(size(col("embedding")), lit(-1)).as("d"))
      .collect()
    if (bad.nonEmpty) {
      val d = bad.head.getInt(1)
      val what = if (d < 0) "a null embedding" else s"dimension $d"
      throw new IllegalArgumentException(
        s"$op: vec_id ${bad.head.getLong(0)} has $what, index expects $dim")
    }
  }

  /** Shared drift-aggregation tail, split into a SUMS stage and a FINALIZE
    * stage so the monitor composes over a stream: cosine of each batch
    * vector to its ASSIGNED centroid plus the quantizer's per-vector
    * `extras`, reduced per list to an exact count and DECIMAL(18,6) sums of
    * the 6-dp per-vector signals. Decimal sums are associative — a
    * foreachBatch crawl appends one sums frame per micro-batch and
    * [[driftStatsFinalize]] divides ONCE over their union, so the
    * accumulated stream stats are bit-equal to the batch monitor over the
    * union of the batches.
    */
  private def driftSumsFrom(cents: Seq[(Int, Array[Float])],
                            assigned: DataFrame,
                            extras: Seq[(String, Column)] = Nil): DataFrame = {
    val centLit = typedLit(cents.map(_._2.toSeq))
    val perVec = assigned.select(
      col("cid") +:
      round(cosine_sim(col("embedding"),
        element_at(centLit, col("cid") + 1)), 6).as("cos") +:
      extras.map { case (nme, c) => round(c, 6).as(nme) }: _*)
    val sums = sum(col("cos").cast("decimal(18,6)")).as("sum_cos") +:
      extras.map { case (nme, _) =>
        sum(col(nme).cast("decimal(18,6)")).as(s"sum_$nme") }
    perVec.groupBy("cid")
      .agg(count(lit(1)).as("n"), sums: _*)
  }

  /** Reduce drift SUMS rows (one or many micro-batches' worth, unioned)
    * to the per-list mean stats: per cid, counts add, decimal sums add
    * losslessly, and each mean divides+rounds ONCE at the end — the house
    * determinism rule, so finalize(union of batch sums) is bit-equal to
    * the one-shot batch monitor. Extra signal columns are discovered from
    * the `sum_<name>` schema, so one finalize serves every quantizer.
    */
  def driftStatsFinalize(sums: DataFrame): DataFrame = {
    val extraNames = sums.columns
      .filter(c => c.startsWith("sum_") && c != "sum_cos")
      .map(_.stripPrefix("sum_")).toSeq
    sums.groupBy("cid")
      .agg(sum(col("n")).as("n"),
        sum(col("sum_cos")).as("_s") +:
          extraNames.map(nme => sum(col(s"sum_$nme")).as(s"_$nme")): _*)
      .select(col("cid") +: col("n") +:
        round(col("_s").cast("double") / col("n"), 6).as("mean_cos") +:
        extraNames.map { nme =>
          round(col(s"_$nme").cast("double") / col("n"), 6).as(nme) }: _*)
  }

  /** Train = exact per-dimension min/max over the corpus scan (no
    * sampling, no iterations — the quantizer is as deterministic as the
    * data), computed as a posexplode + dimension-keyed aggregation: the
    * shuffle carries at most partitions × dim partial rows and the output
    * is the dim-bounded header. The obvious alternative — one agg with
    * 2×dim min/max columns — is fine at fixture widths but bloats codegen
    * and planning quadratically at production embedding widths
    * (1024-4096 → a 2048-8192-column aggregate); min/max are exact and
    * order-independent, so both forms produce identical bounds.
    */
  private def sq8Train(corpus: DataFrame): Quantizer.Scalar = {
    val vecs = corpus.filter(col("embedding").isNotNull)
    val probe = vecs.select(size(col("embedding"))).limit(1).collect()
    require(probe.nonEmpty, "sq8Train: empty corpus (no non-null embeddings)")
    val dim = probe.head.getInt(0)
    // a shorter vector would leave null min/max holes in some dimension —
    // fail loudly like the other index builders. The hygiene scan and the
    // min/max aggregation are independent full passes: overlap their jobs
    // (the bounds are discarded unexhausted when the guard throws)
    val (_, rows) = inParallel(
      failOnBadEmbeddings(vecs, dim, "sq8Train"),
      vecs
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .collect())
    val mins = new Array[Float](dim); val maxs = new Array[Float](dim)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getFloat(1); maxs(r.getInt(0)) = r.getFloat(2)
    }
    Quantizer.Scalar(mins, maxs)
  }

  // ── PQ / OPQ training ──────────────────────────────────────────────────
  //
  // Codebooks train per subspace on a BOUNDED deterministic sample
  // (≤ ksub × pqTrainPerCent vectors — a few hundred KB however big the
  // corpus is), Lloyd-refined driver-side exactly like a production PQ
  // trainer. OPQ (Faiss OPQMatrix / Ge et al., "Optimized Product
  // Quantization", CVPR'13, the non-parametric alternation) learns an
  // ORTHOGONAL rotation R that re-axes the embedding space so the PQ
  // subspace split cuts across the data's correlated directions,
  // alternating
  //   (1) codebooks ← Lloyd on {R·x}   (the shared [[lloydSubBooks]])
  //   (2) R ← argmin_R Σ‖R·xᵢ − x̂ᵢ‖²  (orthogonal Procrustes via SVD of
  //       the cross-moment Σ x̂ᵢ·xᵢᵀ)
  // over the same sample. Everything trains driver-side (moments are
  // dim×dim); the rotation then rides every corpus scan as `pca_project`.
  //
  // Determinism contract (the Verify replica re-derives every step):
  // sample is the vec_id-ordered stride, rotations/reconstructions use
  // the Pca.Transform op order (double accumulate, ascending index,
  // float emit), Lloyd ties break strict-<, empty cells keep their
  // previous centroid, the SVD rides the pinned cyclic-Jacobi spec on
  // MᵀM, and the FINAL rotation rounds HALF_UP to 6 dp before the closing
  // codebook refit — the rounded table IS the artifact, so a saved/loaded
  // model encodes identically.

  private val pqTrainPerCent = 64

  /** Lloyd steps per codebook fit. */
  private val pqIters = 3

  /** The deterministic strided training sample (vec_id order). */
  private def pqSample(corpus: DataFrame, m: Int, ksub: Int,
                       knownCount: Option[Long]): Array[Array[Float]] = {
    // codes are stored as signed bytes; ksub=256 (classic 8-bit PQ) would
    // need an offset encoding — not worth it at embedding dims this small
    require(ksub >= 1 && ksub <= 128, s"PQ: ksub=$ksub must fit a signed byte")
    val n = knownCount.getOrElse(corpus.count())
    val stride = math.max(n / (ksub.toLong * pqTrainPerCent), 1L)
    val sample = corpus.filter(col("vec_id") % stride === 0)
      .orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "PQ: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"PQ: dim $dim not divisible by m=$m")
    sample
  }

  /** Per-subspace Lloyd training over an in-driver sample — the k-means
    * core shared by PQ training and the per-iteration codebook refit in
    * [[opqTrain]]. Deterministic: strided seeding, strict-< tie-breaks,
    * empty cells keep their previous centroid.
    */
  private def lloydSubBooks(sample: Array[Array[Float]], m: Int, ksub: Int,
                            iters: Int): Array[Array[Array[Float]]] = {
    val dsub = sample.head.length / m
    Array.tabulate(m) { j =>
      val subs = sample.map(v => v.slice(j * dsub, (j + 1) * dsub))
      // seed spread across the sample, like the IVF seeding stride
      val seedStride = math.max(subs.length / ksub, 1)
      var cents = Array.tabulate(math.min(ksub, subs.length))(c => subs(c * seedStride).clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Long](cents.length)
        subs.foreach { s =>
          val c = nearestSub(cents, s)
          counts(c) += 1
          var i = 0; while (i < dsub) { sums(c)(i) += s(i); i += 1 }
        }
        cents = Array.tabulate(cents.length) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(dsub)(i => (sums(c)(i) / counts(c)).toFloat)
        }
      }
      cents
    }
  }

  private def nearestSub(cents: Array[Array[Float]], s: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < s.length) { val t = s(i) - cents(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c } // strict < : ties keep lowest c
      c += 1
    }
    best
  }

  /** Squared-L2 between a dsub-slice of the embedding and a centroid
    * literal, as a pure fold expression.
    */
  private def l2SqCol(sub: Column, cent: Array[Float]): Column =
    aggregate(zip_with(sub, typedLit(cent), (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v.cast("double"))

  /** Rotate one sample vector under R — bit-identical to what the
    * `pca_project` kernel does on the cluster with a zero mean (same
    * centering subtract, same double-accumulate order, same float emit),
    * so driver-trained codebooks and cluster-encoded codes agree.
    */
  private def applyRotation(r: Array[Array[Double]], x: Array[Float]): Array[Float] = {
    val d = r.length
    val centered = new Array[Double](d)
    var i = 0
    while (i < d) { centered(i) = x(i).toDouble - 0.0; i += 1 }
    Array.tabulate(d) { k =>
      val row = r(k)
      var s = 0.0
      var j = 0
      while (j < d) { s += row(j) * centered(j); j += 1 }
      s.toFloat
    }
  }

  /** Encode-then-decode one rotated sample vector under the codebooks
    * (per-subspace nearest centroid, concatenated) — the x̂ side of the
    * Procrustes target.
    */
  private def reconstructSample(v: Array[Float],
                                books: Array[Array[Array[Float]]]): Array[Float] = {
    val dsub = books(0)(0).length
    books.zipWithIndex.flatMap { case (book, j) =>
      book(nearestSub(book, v.slice(j * dsub, (j + 1) * dsub)))
    }
  }

  /** Orthogonal Procrustes: the rotation minimizing Σ‖R·xᵢ − yᵢ‖², via
    * SVD of the cross-moment M = Σ yᵢ·xᵢᵀ (R = U·Vᵀ). The SVD rides the
    * shared cyclic-Jacobi solve on MᵀM ([[Pca.jacobiEigInPlace]], pinned
    * spec); None when any singular value underflows 1e-9 — a
    * rank-deficient moment makes further rotation updates numerically
    * arbitrary, so training keeps the current R.
    */
  private def procrustesRotation(xs: Array[Array[Float]],
                                 ys: Array[Array[Float]]): Option[Array[Array[Double]]] = {
    val d = xs.head.length
    val mMat = Array.ofDim[Double](d, d)
    var nIdx = 0
    while (nIdx < xs.length) {
      val x = xs(nIdx); val y = ys(nIdx)
      var i = 0
      while (i < d) {
        val yi = y(i).toDouble
        var j = 0
        while (j < d) { mMat(i)(j) += yi * x(j).toDouble; j += 1 }
        i += 1
      }
      nIdx += 1
    }
    val g = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < d) { s += mMat(k)(i) * mMat(k)(j); k += 1 }
      s
    }
    val v = Pca.jacobiEigInPlace(g) // g := diag(λ) in place
    val sv = Array.tabulate(d)(j => math.sqrt(math.max(g(j)(j), 0.0)))
    if (sv.exists(_ < 1e-9)) None
    else {
      val u = Array.ofDim[Double](d, d) // column j = M·vⱼ / sⱼ
      var j = 0
      while (j < d) {
        var i = 0
        while (i < d) {
          var s = 0.0
          var k = 0
          while (k < d) { s += mMat(i)(k) * v(k)(j); k += 1 }
          u(i)(j) = s / sv(j)
          i += 1
        }
        j += 1
      }
      Some(Array.tabulate(d, d) { (a, b) =>
        var s = 0.0
        var k = 0
        while (k < d) { s += u(a)(k) * v(b)(k); k += 1 }
        s
      })
    }
  }

  /** Train an OPQ quantizer: `opqIters` alternations of codebook refit
    * and Procrustes rotation update over the PQ strided sample, then the
    * 6-dp rounding and a final codebook refit under the ROUNDED rotation
    * (so the persisted artifact and the training state are one thing).
    */
  private def opqTrain(corpus: DataFrame, m: Int, ksub: Int, opqIters: Int,
                       knownCount: Option[Long]): Quantizer.Product = {
    require(opqIters >= 1, s"opqTrain: opqIters=$opqIters must be >= 1")
    val sample = pqSample(corpus, m, ksub, knownCount)
    val dim = sample.head.length
    var r = Array.tabulate(dim, dim)((a, b) => if (a == b) 1.0 else 0.0)
    var it = 0
    var stalled = false
    while (it < opqIters && !stalled) {
      val rot = sample.map(applyRotation(r, _))
      val books = lloydSubBooks(rot, m, ksub, pqIters)
      val recon = rot.map(reconstructSample(_, books))
      procrustesRotation(sample, recon) match {
        case Some(next) => r = next
        case None => stalled = true
      }
      it += 1
    }
    val rounded = r.map(_.map(Pca.round6))
    val rotFinal = sample.map(applyRotation(rounded, _))
    Quantizer.Product(lloydSubBooks(rotFinal, m, ksub, pqIters), Some(rounded))
  }
}
