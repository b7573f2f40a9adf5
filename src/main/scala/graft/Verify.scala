package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — re-dump ONLY those
    // (iteration aid; prior dumps stay valid for unchanged queries). The
    // fixture stage is skipped in filtered mode — run the full gate before
    // committing anything that touches a fixture replica. Unknown names
    // abort loudly: a typo would otherwise skip the re-dump silently and
    // the checker would compare a STALE dump against the new oracle.
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(names.nonEmpty, "verify filter: no query names given")
      require(unknown.isEmpty,
        s"verify filter: unknown queries ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val spark = GraftSession.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Fixtures live in a SIBLING dir, not outDir: the correctness driver
    // enumerates outDir/<name> as query results, and fixture dumps would
    // surface as spurious no_oracle rows (ADVICE r6). Oracle SQL reaches
    // them via the {FIX} placeholder.
    val fixDir = outDir.stripSuffix("/") + ".fixtures"
    // NonFatal only: an OOM/VM error must abort the run — continuing from
    // a heap-exhausted JVM would attribute arbitrary downstream failures
    // to innocent queries
    if (only.isEmpty) {
      try writeFixtures(spark, sfDir, fixDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] fixture stage failed: ${e.getMessage}")
      }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // a stale run-N dump must not survive a run-N+1 failure — the
      // correctness gate would silently PASS on the old results
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) deleteRec(target)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(target.getPath)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{FIX}", fixDir).replace("{OUT}", outDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete(); ()
  }

  /** Reference fixtures for queries whose core function DuckDB cannot
    * express (murmur3 token, v1 timeuuid construction). Values are computed
    * OUTSIDE the Catalyst expressions under test — driver-side through the
    * plain Scala functions that TokenSpec/FunctionsSpec pin to reference
    * vectors — so the DuckDB compare checks the codegen'd expression
    * pipeline against an independent evaluation path — weaker than a true
    * third-party oracle (the fixture generator shares this repo's Scala
    * functions), but those functions are themselves pinned to published
    * reference vectors. Oracle SQL reads them via
    * `parquet_scan('{FIX}/_fixture_*')`; `{FIX}` is substituted with the
    * runtime fixture dir when oracle_sql.json is dumped.
    */
  // ── plain-Scala ANN replication (fixture oracles; deterministic) ────

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  private def collectEmbeddings(spark: SparkSession,
                                sfDir: String): IndexedSeq[(Long, Array[Float])] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1).toIndexedSeq
  }

  /** Nearest IVF centroid: max cosine, ties to the lowest cid (the engine's
    * `max_by(cid, struct(sim, -cid))` / `greatest` tie rule).
    */
  private def nearestCentRef(e: Array[Float], cs: Seq[(Int, Array[Float])]): Int =
    cs.maxBy { case (cid, c) => (graft.functions.VectorMath.cosineF(e, c), -cid) }._1

  /** Strided seeding + one fixed-point Lloyd iteration —
    * `Similarity.ivfAssign`'s exact arithmetic at iters=1 (scaled-long
    * component sums make the distributed mean order-independent, which is
    * what lets this driver-side replica match bit-for-bit).
    */
  private def ivfCentroidsRef(vecs: IndexedSeq[(Long, Array[Float])],
                              nlist: Int): IndexedSeq[(Int, Array[Float])] = {
    val fp = graft.operators.Similarity.fixedPointScale
    val n = vecs.length.toLong
    val sampleStride = math.max(n / (nlist * 64L), 1L)
    val train = vecs.filter(_._1 % sampleStride == 0)
    val stride = math.max(n / nlist, 1L)
    val init: IndexedSeq[(Int, Array[Float])] = vecs.filter(_._1 % stride == 0)
      .take(nlist).zipWithIndex.map { case ((_, e), i) => (i, e) }
    val byCid = train.map { case (_, e) => (nearestCentRef(e, init), e) }.groupBy(_._1)
    init.map { case (cid, prev) =>
      byCid.get(cid) match {
        case Some(members) =>
          val c = Array.tabulate(prev.length) { pos =>
            val sfx = members.iterator.map { case (_, e) =>
              BigDecimal(e(pos).toDouble * fp)
                .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
            }.sum
            ((sfx.toDouble / members.size) / fp).toFloat
          }
          (cid, c)
        case None => (cid, prev)
      }
    }
  }

  /** PQ codebook training — `Similarity.pqSample` + `lloydSubBooks`' exact sequential
    * arithmetic re-derived independently: vec_id-ordered sample, float
    * subtract/square accumulated in double, strict-< ties.
    */
  private def pqTrainRef(vecs: IndexedSeq[(Long, Array[Float])], m: Int,
                         ksub: Int, iters: Int): Array[Array[Array[Float]]] = {
    val n = vecs.length.toLong
    val stride = math.max(n / (ksub.toLong * 64L), 1L)
    lloydRef(vecs.filter(_._1 % stride == 0).map(_._2), m, ksub, iters)
  }

  /** Per-subspace Lloyd over an in-driver sample — the replica's k-means
    * core, shared by the PQ and OPQ trainings (strided seeding, strict-<
    * ties, empty cells keep their previous centroid).
    */
  private def lloydRef(sample: IndexedSeq[Array[Float]], m: Int, ksub: Int,
                       iters: Int): Array[Array[Array[Float]]] = {
    val dsub = sample.head.length / m
    Array.tabulate(m) { j =>
      val subs = sample.map(v => v.slice(j * dsub, (j + 1) * dsub))
      val seedStride = math.max(subs.length / ksub, 1)
      var cents = Array.tabulate(math.min(ksub, subs.length))(c => subs(c * seedStride).clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Long](cents.length)
        subs.foreach { s =>
          val c = nearestSubRef(cents, s, 0)
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

  /** Rotation of one vector under a row-major matrix with a ZERO mean —
    * the `pca_project` kernel's op order exactly (double centering
    * subtract, ascending-index double accumulate, float emit).
    */
  private def rotateZeroMeanRef(r: Array[Array[Double]])(e: Array[Float]): Array[Float] = {
    val d = r.length
    val centered = new Array[Double](d)
    var i = 0
    while (i < d) { centered(i) = e(i).toDouble - 0.0; i += 1 }
    Array.tabulate(d) { k =>
      var s = 0.0
      var j = 0
      while (j < d) { s += r(k)(j) * centered(j); j += 1 }
      s.toFloat
    }
  }

  /** Cyclic-Jacobi symmetric eigensolve, re-derived from the pinned spec
    * in [[graft.operators.Pca]]: diagonalizes `a` in place, returns V
    * (eigenvector j = column j).
    */
  private def jacobiRef(a: Array[Array[Double]]): Array[Array[Double]] = {
    val dim = a.length
    val v = Array.tabulate(dim, dim)((r, c) => if (r == c) 1.0 else 0.0)
    var sweep = 0
    var converged = false
    while (sweep < 100 && !converged) {
      for (p <- 0 until dim - 1; q <- p + 1 until dim) {
        val apq = a(p)(q)
        if (math.abs(apq) > 1e-12) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
          val t =
            if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
            else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (k <- 0 until dim) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq; a(k)(q) = s * akp + c * akq
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq; v(k)(q) = s * vkp + c * vkq
          }
          for (k <- 0 until dim) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk; a(q)(k) = s * apk + c * aqk
          }
        }
      }
      converged = (for (r <- 0 until dim - 1; c <- r + 1 until dim)
        yield a(r)(c) * a(r)(c)).sum < 1e-18
      sweep += 1
    }
    v
  }

  /** Orthogonal Procrustes (R = U·Vᵀ from the SVD of M = Σ yᵢ·xᵢᵀ, the
    * SVD via Jacobi on MᵀM); None when a singular value underflows 1e-9.
    */
  private def procrustesRef(xs: IndexedSeq[Array[Float]],
                            ys: IndexedSeq[Array[Float]]): Option[Array[Array[Double]]] = {
    val d = xs.head.length
    val mMat = Array.ofDim[Double](d, d)
    xs.indices.foreach { n =>
      val x = xs(n); val y = ys(n)
      for (i <- 0 until d; j <- 0 until d)
        mMat(i)(j) += y(i).toDouble * x(j).toDouble
    }
    val g = Array.tabulate(d, d) { (i, j) =>
      (0 until d).map(k => mMat(k)(i) * mMat(k)(j)).sum
    }
    val v = jacobiRef(g)
    val sv = Array.tabulate(d)(j => math.sqrt(math.max(g(j)(j), 0.0)))
    if (sv.exists(_ < 1e-9)) None
    else {
      val u = Array.tabulate(d, d) { (i, j) =>
        (0 until d).map(k => mMat(i)(k) * v(k)(j)).sum / sv(j)
      }
      Some(Array.tabulate(d, d) { (a2, b) =>
        (0 until d).map(k => u(a2)(k) * v(b)(k)).sum
      })
    }
  }

  /** OPQ training replica — `Similarity.opqTrain`'s exact sequence:
    * strided sample, alternation of Lloyd refit and Procrustes update,
    * 6-dp rounding of the final rotation, closing refit under it.
    */
  private def opqTrainRef(vecs: IndexedSeq[(Long, Array[Float])], m: Int,
                          ksub: Int, iters: Int, opqIters: Int)
      : (Array[Array[Double]], Array[Array[Array[Float]]]) = {
    val n = vecs.length.toLong
    val stride = math.max(n / (ksub.toLong * 64L), 1L)
    val sample = vecs.filter(_._1 % stride == 0).map(_._2)
    val dim = sample.head.length
    var r = Array.tabulate(dim, dim)((a, b) => if (a == b) 1.0 else 0.0)
    var it = 0
    var stalled = false
    while (it < opqIters && !stalled) {
      val rot = sample.map(rotateZeroMeanRef(r))
      val books = lloydRef(rot, m, ksub, iters)
      val recon = rot.map(pqReconstructRef(_, books))
      procrustesRef(sample, recon) match {
        case Some(next) => r = next
        case None => stalled = true
      }
      it += 1
    }
    val rounded = r.map(_.map(round6))
    (rounded, lloydRef(sample.map(rotateZeroMeanRef(rounded)), m, ksub, iters))
  }

  /** Nearest sub-centroid by L2²: float subtract/square summed in double,
    * strict `<` so ties keep the lowest code — matching both pqTrain's
    * training loop and pqEncode's `greatest(struct(-d, -c))`.
    */
  private def nearestSubRef(cents: Array[Array[Float]], v: Array[Float],
                            off: Int): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < cents(c).length) {
        val t = v(off + i) - cents(c)(i)
        d += (t * t).toDouble
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Encode then reconstruct: per-subspace nearest code, concatenated
    * centroid slices (pqEncode + pqReconstruct).
    */
  private def pqReconstructRef(e: Array[Float],
                               books: Array[Array[Array[Float]]]): Array[Float] = {
    val dsub = books(0)(0).length
    books.zipWithIndex.flatMap { case (book, j) =>
      book(nearestSubRef(book, e, j * dsub))
    }
  }

  /** Candidate scoring on reconstructions (top k×rerank per query), then
    * the exact re-rank tail on true embeddings (top k) — pqSearchRerank's
    * shape; `probeFilter` restricts candidates to probed lists (IVF-PQ).
    */
  private def annRerankRef(vecs: IndexedSeq[(Long, Array[Float])],
                           recon: IndexedSeq[(Long, Array[Float])],
                           queryMax: Long, k: Int, rerank: Int,
                           probeFilter: Option[Array[Float] => Long => Boolean] = None)
      : IndexedSeq[(Long, Long, Double, Int)] = {
    import graft.functions.VectorMath
    val byId = vecs.toMap
    for {
      (qid, qe) <- vecs.filter(_._1 < queryMax)
      keep = probeFilter.map(_(qe)).getOrElse((_: Long) => true)
      cands = recon.iterator
        .filter { case (nid, _) => nid != qid && keep(nid) }
        .map { case (nid, re) => (nid, round6(VectorMath.cosineF(re, qe))) }
        .toIndexedSeq.sortBy { case (nid, sim) => (-sim, nid) }
        .take(k * rerank)
      ranked = cands
        .map { case (nid, _) => (nid, round6(VectorMath.cosineF(byId(nid), qe))) }
        .sortBy { case (nid, sim) => (-sim, nid) }
        .take(k)
      ((nid, sim), i) <- ranked.zipWithIndex
    } yield (qid, nid, sim, i + 1)
  }

  private def writeFixtures(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Each fixture is isolated: one fixture crashing costs at most the
    // queries whose oracle reads it, never the whole gate. Round 8's gate
    // zeroed because a single analysis error here aborted main() before any
    // query dump or oracle_sql.json was written (VERDICT r8 §wrong 1).
    // A failed fixture must also not leave the PREVIOUS run's dump behind
    // — the oracle would silently compare against stale expectations — so
    // the stale target is deleted before the body runs. NonFatal only:
    // VM errors abort the run (see main).
    def fixture(name: String)(body: => Unit): Unit = {
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) deleteRec(target)
      try body
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] fixture $name failed: ${e.getMessage}")
      }
    }
    // shared by the ANN fixtures below — collected/trained once, lazily so
    // fixture isolation still applies (a failure surfaces inside the first
    // fixture that forces it; later users re-throw the same error, which
    // is correct: their inputs genuinely are unavailable)
    lazy val annVecs = collectEmbeddings(spark, sfDir)
    lazy val annIvfCents = ivfCentroidsRef(annVecs, nlist = 16)
    lazy val annPqBooks = pqTrainRef(annVecs, m = 8, ksub = 16, iters = 3)
    lazy val annPqRecon = annVecs.map { case (id, e) => (id, pqReconstructRef(e, annPqBooks)) }
    // per-method result rows, shared between each method's own fixture and
    // _fixture_annrecall (which derives recall@k from the same replicas)
    lazy val annLshRows: IndexedSeq[(Long, Long, Double, Int)] = {
      // Plain-Scala driver-side re-run of the LSH ANN pipeline — chunked
      // candidate generation over seeded sign-random-projection codes,
      // exact cosine re-score, bounded top-k — mirroring q_ann_lsh's
      // parameters (bits=32, bands=8, seed=7, k=10, queries vec_id<8).
      // Deterministic because the hyperplanes derive from the seed; shares
      // only VectorMath's scalar kernels with the expressions under test,
      // so the distributed plan (band join, distinct, bounded top-k agg)
      // is checked against an independent evaluation path.
      val bits = 32; val bands = 8; val seed = 7L; val k = 10
      val chunkBits = bits / bands
      val mask = (1L << chunkBits) - 1
      val codes = annVecs.map { case (id, e) =>
        (id, e, graft.functions.VectorMath.lshCode(e, bits, seed))
      }
      def chunks(code: Long): Set[(Int, Long)] =
        (0 until bands).map(c => (c, (code >>> (c * chunkBits)) & mask)).toSet
      (for {
        (qid, qe, qc) <- codes.filter(_._1 < 8)
        qch = chunks(qc)
        ranked = codes.iterator
          .filter { case (nid, _, nc) => nid != qid && chunks(nc).exists(qch) }
          .map { case (nid, ne, _) => (nid, round6(graft.functions.VectorMath.cosineF(ne, qe))) }
          .toIndexedSeq.sortBy { case (nid, sim) => (-sim, nid) }
          .take(k)
        ((nid, sim), i) <- ranked.zipWithIndex
      } yield (qid, nid, sim, i + 1)).toIndexedSeq
    }
    lazy val annIvfRows: IndexedSeq[(Long, Long, Double, Int)] = {
      // Plain-Scala driver-side re-run of the WHOLE persistent-IVF path —
      // strided seeding, one Lloyd iteration with the fixed-point mean,
      // full-corpus assignment, probe routing, exact re-score, top-k —
      // with q_ann_ivf's parameters (nlist=16, iters=1, k=10, nprobe=4).
      // Reproducible because ivfAssign accumulates centroid sums as scaled
      // longs (order-independent addition); shares only VectorMath's
      // scalar kernels with the expressions under test.
      import graft.functions.VectorMath
      val k = 10; val nprobe = 4
      val cents = annIvfCents
      val assigned = annVecs.map { case (id, e) => (id, nearestCentRef(e, cents), e) }
      (for {
        (qid, _, qe) <- assigned.filter(_._1 < 8)
        probed = cents
          .map { case (cid, c) => (cid, VectorMath.cosineF(qe, c)) }
          .sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1).toSet
        ranked = assigned.iterator
          .filter { case (nid, ncid, _) => nid != qid && probed(ncid) }
          .map { case (nid, _, ne) => (nid, round6(VectorMath.cosineF(ne, qe))) }
          .toIndexedSeq.sortBy { case (nid, sim) => (-sim, nid) }
          .take(k)
        ((nid, sim), i) <- ranked.zipWithIndex
      } yield (qid, nid, sim, i + 1)).toIndexedSeq
    }
    lazy val annKnnJoinRows: IndexedSeq[(Long, Long, Double, Int)] = {
      // the KNN-JOIN replica: identical probe/candidate/scoring spec to
      // annIvfRows, run for EVERY query (q_ann_knn_join's parameters:
      // nlist=16, iters=1, k=5, nprobe=4; the engine's salt only changes
      // the join strategy, never the result set)
      import graft.functions.VectorMath
      val k = 5; val nprobe = 4
      val cents = annIvfCents
      val assigned = annVecs.map { case (id, e) => (id, nearestCentRef(e, cents), e) }
      (for {
        (qid, _, qe) <- assigned
        probed = cents
          .map { case (cid, c) => (cid, VectorMath.cosineF(qe, c)) }
          .sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1).toSet
        ranked = assigned.iterator
          .filter { case (nid, ncid, _) => nid != qid && probed(ncid) }
          .map { case (nid, _, ne) => (nid, round6(VectorMath.cosineF(ne, qe))) }
          .toIndexedSeq.sortBy { case (nid, sim) => (-sim, nid) }
          .take(k)
        ((nid, sim), i) <- ranked.zipWithIndex
      } yield (qid, nid, sim, i + 1)).toIndexedSeq
    }
    lazy val annPqRows: IndexedSeq[(Long, Long, Double, Int)] =
      annRerankRef(annVecs, annPqRecon, queryMax = 8, k = 10, rerank = 4)
    // OPQ: rotated-space corpus/reconstructions with q_ann_opq's
    // parameters (m=8, ksub=16, iters=3, opqIters=3, k=10, rerank=4) —
    // candidate scoring AND the exact rerank both run in rotated space,
    // mirroring Similarity.AnnIndex.search with an OPQ quantizer and rerank
    lazy val annOpqModel = opqTrainRef(annVecs, m = 8, ksub = 16, iters = 3, opqIters = 3)
    lazy val annOpqRot = annVecs.map { case (id, e) =>
      (id, rotateZeroMeanRef(annOpqModel._1)(e)) }
    lazy val annOpqRows: IndexedSeq[(Long, Long, Double, Int)] = {
      val recon = annOpqRot.map { case (id, e) =>
        (id, pqReconstructRef(e, annOpqModel._2)) }
      annRerankRef(annOpqRot, recon, queryMax = 8, k = 10, rerank = 4)
    }
    // IVF-OPQ: the same rotated-space model, with IVF centroids trained
    // over the ROTATED corpus and the probe filter applied before the
    // rerank — q_ann_ivf_opq's parameters (nlist=16, nprobe=4, rerank=4)
    lazy val annIvfOpqRows: IndexedSeq[(Long, Long, Double, Int)] = {
      val rot = annOpqRot
      val cents = ivfCentroidsRef(rot, nlist = 16)
      val assigned = rot.map { case (id, e) => (id, nearestCentRef(e, cents)) }.toMap
      val recon = rot.map { case (id, e) =>
        (id, pqReconstructRef(e, annOpqModel._2)) }
      annRerankRef(rot, recon, queryMax = 8, k = 10, rerank = 4,
        probeFilter = Some { qe =>
          val probed = cents
            .map { case (cid, c) => (cid, graft.functions.VectorMath.cosineF(qe, c)) }
            .sortBy { case (cid, s) => (-s, cid) }.take(4).map(_._1).toSet
          nid => probed(assigned(nid))
        })
    }
    lazy val annIvfPqRows: IndexedSeq[(Long, Long, Double, Int)] = {
      // IVF centroids via the fixed-point Lloyd step (see annIvfRows), PQ
      // codebooks as in annPqRows, probe-pruned reconstruction scoring,
      // exact re-rank tail — q_ann_ivfpq's parameters (nprobe=4, rerank=4)
      val cents = annIvfCents
      val assigned = annVecs.map { case (id, e) => (id, nearestCentRef(e, cents)) }.toMap
      annRerankRef(annVecs, annPqRecon, queryMax = 8, k = 10, rerank = 4,
        probeFilter = Some { qe =>
          val probed = cents
            .map { case (cid, c) => (cid, graft.functions.VectorMath.cosineF(qe, c)) }
            .sortBy { case (cid, s) => (-s, cid) }.take(4).map(_._1).toSet
          nid => probed(assigned(nid))
        })
    }
    // ── plain-Scala BPE replication (fixture oracles; deterministic) ──
    // Independent re-run of the whole BPE path — histogram via Scala
    // groupMapReduce, merge loop over List symbols with recursive apply,
    // encode via the GPT-2 lowest-rank-bigram loop — structurally
    // different from Tokenizer.trainOnHistogram's array scans and
    // BpeEncode's codegen'd kernel, sharing no code with them.
    lazy val bpeDocs: IndexedSeq[(Long, String)] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect().toIndexedSeq
        .sortBy(_._1).filter(_._2 != null)
    def bpeSymsOf(w: String): List[String] = {
      val b = List.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b += "</w>"
      b.result()
    }
    // iterative, not recursive: a single multi-100k-code-point token
    // (base64 blob in crawled text) would blow the stack on recursion
    def bpeApplyMerge(syms: List[String], l: String, r: String): List[String] = {
      val out = List.newBuilder[String]
      var cur = syms
      while (cur.nonEmpty) cur match {
        case a :: b :: rest if a == l && b == r => out += (a + b); cur = rest
        case a :: rest => out += a; cur = rest
        case Nil => ()
      }
      out.result()
    }
    // same pre-tokenization SPEC as Bpe.preTokenize, re-stated (lowercase,
    // CJK/Thai char isolation, \s+ split) — two evaluations of one spec,
    // like the RE2 oracle chains
    def bpeWords(text: String): Seq[String] =
      text.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("([\\x{0e00}-\\x{0e7f}\\x{3040}-\\x{30ff}\\x{3400}-\\x{4dbf}" +
          "\\x{4e00}-\\x{9fff}\\x{f900}-\\x{faff}])", " $1 ")
        .split("\\s+").toSeq.filter(_.nonEmpty)
    // engine histogram cut orders by Spark string sort = binary UTF-8;
    // Scala's String ordering is UTF-16 code-unit and diverges for
    // supplementary-plane words at the truncation boundary
    def utf8Less(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    def trainMergesRefOnWords(allWords: Seq[String],
                              numMerges: Int): Seq[(Int, String, String, Long)] = {
      val hist = allWords
        .groupMapReduce(identity)(_ => 1L)(_ + _)
        .toSeq.sortWith { case ((w1, f1), (w2, f2)) =>
          f1 > f2 || (f1 == f2 && utf8Less(w1, w2)) }.take(50000)
      var cur = hist.map { case (w, f) => (bpeSymsOf(w), f) }
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var rank = 1
      var stop = false
      while (rank <= numMerges && !stop) {
        val counts = cur.iterator.flatMap { case (syms, f) =>
          syms.sliding(2).collect { case List(a, b) => ((a, b), f) }
        }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
        if (counts.isEmpty) stop = true
        else {
          val ((l, r), f) = counts.minBy { case ((a, b), c) => (-c, a, b) }
          if (f < 2) stop = true
          else {
            out += ((rank, l, r, f))
            cur = cur.map { case (syms, fr) => (bpeApplyMerge(syms, l, r), fr) }
            rank += 1
          }
        }
      }
      out.result()
    }
    def trainMergesRefOn(docs: IndexedSeq[(Long, String)],
                         numMerges: Int): Seq[(Int, String, String, Long)] =
      trainMergesRefOnWords(docs.flatMap(d => bpeWords(d._2)), numMerges)
    lazy val bpeMergesRef: Seq[(Int, String, String, Long)] =
      trainMergesRefOn(bpeDocs, 60)
    // GPT-2-style encoder over the trained merges (lowest-rank bigram
    // loop — the same semantics BpeEncode implements, independently)
    lazy val bpeRankMap: Map[(String, String), Int] =
      bpeMergesRef.map { case (rk, l, r, _) => ((l, r), rk) }.toMap
    def bpeEncodeWordRefWith(rankMap: Map[(String, String), Int])
                            (word: String): List[String] = {
      var syms = bpeSymsOf(word)
      var done = false
      while (!done && syms.lengthCompare(1) > 0) {
        val ranked = syms.sliding(2)
          .collect { case List(a, b) => (a, b) }
          .flatMap(p => rankMap.get(p).map(p -> _)).toList
        if (ranked.isEmpty) done = true
        else {
          val (p, _) = ranked.minBy(_._2)
          syms = bpeApplyMerge(syms, p._1, p._2)
        }
      }
      syms
    }
    def bpeEncodeWordRef(word: String): List[String] =
      bpeEncodeWordRefWith(bpeRankMap)(word)
    fixture("_fixture_bpetrain") {
      bpeMergesRef.toDF("rank", "lhs", "rhs", "pair_freq").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_bpetrain")
    }
    fixture("_fixture_bpeencode") {
      val rows = bpeDocs.map { case (id, text) =>
        val toks = bpeWords(text).flatMap(bpeEncodeWordRef)
        (id, toks.length, toks.take(12).mkString("|"))
      }
      rows.toDF("doc_id", "n_tokens", "head").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_bpeencode")
    }
    fixture("_fixture_bpetruncate") {
      // a FRESH 30-merge training — the oracle for the engine's
      // truncated-merge-list deploy path: greedy BPE's merge order is
      // prefix-stable, so truncating a 60-merge table to 30 must encode
      // exactly like retraining at 30 (checked cross-engine here)
      val rank30 = trainMergesRefOn(bpeDocs, 30)
        .map { case (rk, l, r, _) => ((l, r), rk) }.toMap
      val rows = bpeDocs.map { case (id, text) =>
        val toks = bpeWords(text).flatMap(bpeEncodeWordRefWith(rank30))
        (id, toks.length, toks.take(12).mkString("|"))
      }
      rows.toDF("doc_id", "n_tokens", "head").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_bpetruncate")
    }
    fixture("_fixture_bpecjk") {
      // space-free-script corpus planted from doc_id alone (the SAME
      // derivation as q_bpe_cjk's Column expression: rotate a 12-char Han
      // alphabet by doc_id%12, repeat doc_id%4+2 times, every 3rd doc
      // gains a Latin tail to prove mixed-script handling), trained and
      // encoded through the replica's own merge loop — the whole
      // char-fallback path (isolation → histogram → merges → replay)
      // checked end-to-end against the distributed engine
      val alpha = "的一是不了人我在有他这中"
      val cjkDocs: IndexedSeq[(Long, String)] = bpeDocs.map { case (id, _) =>
        val rot = (id % 12).toInt
        val base = alpha.substring(rot) + alpha.substring(0, rot)
        val reps = (id % 4).toInt + 2
        (id, base * reps + (if (id % 3 == 0) " mixed latin tail" else ""))
      }
      val merges = trainMergesRefOn(cjkDocs, 30)
      val rm = merges.map { case (rk, l, r, _) => ((l, r), rk) }.toMap
      val rows = cjkDocs.map { case (id, text) =>
        val toks = bpeWords(text).flatMap(bpeEncodeWordRefWith(rm))
        (id, toks.length, toks.take(12).mkString("|"))
      }
      rows.toDF("doc_id", "n_tokens", "head").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_bpecjk")
    }
    // independent vocabulary derivation: alphabet via plain code-point
    // iteration over every word (NOT the encode kernel the query's
    // alphabet pass reuses), UTF-8 binary sort, then merge products in
    // rank order with first-string-wins dedup. Shared by the vocab and
    // encode-ids fixtures so the two can't drift apart.
    lazy val bpeVocabRef: Seq[String] = {
      val alphabet = bpeDocs.iterator.flatMap(d => bpeWords(d._2))
        .flatMap(bpeSymsOf).toSeq.distinct
        .sortWith(utf8Less)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      alphabet.foreach(seen += _)
      bpeMergesRef.foreach { case (_, l, r, _) => seen += l + r }
      seen.toSeq
    }
    fixture("_fixture_bpevocab") {
      bpeVocabRef.zipWithIndex.toDF("token", "id").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_bpevocab")
    }
    fixture("_fixture_bpeids") {
      // id-array handoff replica: the shared independent vocab (above),
      // then ids of the independent encoder's tokens
      val idOf = bpeVocabRef.zipWithIndex.toMap
      val rows = bpeDocs.map { case (id, text) =>
        val ids = bpeWords(text).flatMap(bpeEncodeWordRef)
          .map(t => idOf.getOrElse(t, -1))
        (id, ids.length, ids.count(_ == -1), ids.take(12).mkString("|"))
      }
      rows.toDF("doc_id", "n_ids", "n_unk", "head").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_bpeids")
    }
    fixture("_fixture_packrecords") {
      // training-record replica: independent vocab + encoder, per-source
      // doc_id-order packing (the q_pack_bpe budget arithmetic), boundary
      // offsets as a plain scan
      val idOf = bpeVocabRef.zipWithIndex.toMap
      val srcOf = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "source").as[(Long, String)].collect().toMap
      val perDoc = bpeDocs.map { case (id, text) =>
        val ids = bpeWords(text).flatMap(bpeEncodeWordRef)
          .map(t => idOf.getOrElse(t, -1))
        (srcOf(id), id, ids)
      }
      val rows = perDoc.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
        var cum = 0L
        val packedDocs = ds.sortBy(_._2).map { case (_, id, ids) =>
          val p = StrictMath.floor(cum.toDouble / 1024.0).toLong
          cum += ids.length
          (p, id, ids)
        }
        packedDocs.groupBy(_._1).toSeq.map { case (p, inPack) =>
          val inOrder = inPack.sortBy(_._2)
          val allIds = inOrder.flatMap(_._3)
          val bounds = inOrder.scanLeft(0)((acc, d2) => acc + d2._3.length)
          (src, p, inPack.length.toLong, allIds.length.toLong,
            allIds.take(12).mkString("|"), bounds.mkString("|"))
        }
      }.sortBy(r => (r._1, r._2))
      rows.toDF("source", "pack_id", "n_docs", "n_tokens", "ids_head", "boundaries")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_packrecords")
    }
    // ── plain-Scala unigram-LM replication (fixture oracles) ──────────
    // Independent re-run of the Kudo-2018 unigram trainer (seed → EM
    // forward-backward → expected-count prune) and the Viterbi encoder —
    // Vector-slice pieces and immutable-Map probability tables instead of
    // the engine's StringBuilder lattices and java.util.HashMaps, sharing
    // only the pre-tokenization / UTF-8-ordering spec helpers above. The
    // float-op ORDER is part of the spec (words in histogram order,
    // lattice edges end-ascending then start-ascending, logsumexp as
    // max-shift + exp-sum in edge order, M-step totals in UTF-8 piece
    // order, StrictMath throughout), so both sides produce identical
    // doubles.
    def uniCps(word: String): Vector[String] = {
      val s = "▁" + word
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    def uniLse(ts: Seq[Double]): Double =
      if (ts.isEmpty) Double.NegativeInfinity
      else {
        val m = ts.foldLeft(Double.NegativeInfinity)((a, t) => if (t > a) t else a)
        if (m == Double.NegativeInfinity) m
        else m + StrictMath.log(
          ts.foldLeft(0.0)((s, t) => s + StrictMath.exp(t - m)))
      }
    def uniTrainRef(docs: IndexedSeq[(Long, String)], vocabSize: Int,
                    seedSize: Int = 2000, maxLen: Int = 6,
                    emRounds: Int = 2,
                    shrink: Double = 0.75): Seq[(String, Double)] = {
      val hist: Seq[(Vector[String], Long)] =
        docs.iterator.flatMap(d => bpeWords(d._2))
          .toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
          .toSeq.sortWith { case ((w1, f1), (w2, f2)) =>
            f1 > f2 || (f1 == f2 && utf8Less(w1, w2)) }.take(50000)
          .map { case (w, f) => (uniCps(w), f) }
      val counts: Map[String, Long] = hist.iterator.flatMap { case (c, f) =>
        (0 until c.length).iterator.flatMap { j =>
          (j + 1 to math.min(c.length, j + maxLen)).iterator
            .map(i => (c.slice(j, i).mkString, f))
        }
      }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      val (singles, multis) = counts.partition { case (p, _) =>
        p.codePointCount(0, p.length) == 1 }
      val keptMultis = multis.toSeq.sortWith { case ((p1, f1), (p2, f2)) =>
        f1 > f2 || (f1 == f2 && utf8Less(p1, p2)) }
        .take(math.max(0, seedSize - singles.size))
      var vocab: Vector[String] =
        (singles.keysIterator ++ keptMultis.iterator.map(_._1))
          .toVector.sortWith(utf8Less)
      val singleSet = singles.keySet
      var lp: Map[String, Double] = {
        val total = vocab.iterator.map(counts).sum
        val lt = StrictMath.log(total.toDouble)
        vocab.iterator
          .map(p => p -> (StrictMath.log(counts(p).toDouble) - lt)).toMap
      }
      def emStep(): Map[String, Double] = {
        val expected = new java.util.HashMap[String, java.lang.Double]()
        hist.foreach { case (c, f) =>
          val n = c.length
          def pieceOf(j: Int, i: Int): String = c.slice(j, i).mkString
          val alpha = new Array[Double](n + 1)
          (1 to n).foreach { i =>
            alpha(i) = uniLse((math.max(0, i - maxLen) until i).flatMap(j =>
              lp.get(pieceOf(j, i)).map(alpha(j) + _)))
          }
          val beta = new Array[Double](n + 1)
          (n - 1 to 0 by -1).foreach { i =>
            beta(i) = uniLse((i + 1 to math.min(n, i + maxLen)).flatMap(j =>
              lp.get(pieceOf(i, j)).map(_ + beta(j))))
          }
          val z = alpha(n)
          if (z != Double.NegativeInfinity)
            for (i <- 1 to n; j <- math.max(0, i - maxLen) until i) {
              val pc = pieceOf(j, i)
              lp.get(pc).foreach { p =>
                val post = f * StrictMath.exp(alpha(j) + p + beta(i) - z)
                expected.merge(pc, java.lang.Double.valueOf(post), (a, b) =>
                  java.lang.Double.valueOf(a.doubleValue() + b.doubleValue()))
              }
            }
        }
        val e = vocab.iterator.map { p =>
          val v = expected.get(p)
          p -> math.max(if (v == null) 0.0 else v.doubleValue(), 1e-12)
        }.toMap
        val logT = StrictMath.log(
          vocab.foldLeft(0.0)((s, p) => s + e(p)))
        lp = vocab.iterator.map(p => p -> (StrictMath.log(e(p)) - logT)).toMap
        e
      }
      def emPass(): Map[String, Double] =
        (1 until emRounds).foldLeft(emStep())((_, _) => emStep())
      var lastE = emPass()
      var done = vocab.size <= vocabSize
      while (!done) {
        val target = math.max(vocabSize, (vocab.size * shrink).toInt)
        val prunable = vocab.filterNot(singleSet)
        val dropCount = math.min(vocab.size - target, prunable.size)
        if (dropCount <= 0) done = true
        else {
          val dropped = prunable.sortWith { (p1, p2) =>
            val e1 = lastE(p1); val e2 = lastE(p2)
            e1 < e2 || (e1 == e2 && utf8Less(p2, p1))
          }.take(dropCount).toSet
          vocab = vocab.filterNot(dropped)
          lp = lp -- dropped
          lastE = emPass()
          done = vocab.size <= vocabSize
        }
      }
      vocab.map(p => p -> BigDecimal(lp(p))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    lazy val uniTableRef: Seq[(String, Double)] = uniTrainRef(bpeDocs, 200)
    def uniEncodeWordRef(table: Map[String, Double])(word: String): List[String] = {
      val maxCp = table.keysIterator
        .map(p => p.codePointCount(0, p.length)).foldLeft(1)(math.max)
      val c = uniCps(word)
      val n = c.length
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      best(0) = 0.0
      val prev = Array.fill(n + 1)(-1)
      for (i <- 1 to n; j <- math.max(0, i - maxCp) until i) {
        val piece = c.slice(j, i).mkString
        val sc = table.get(piece) match {
          case Some(p) => best(j) + p
          case None if i - j == 1 => best(j) - 20.0
          case None => Double.NegativeInfinity
        }
        if (sc > best(i)) { best(i) = sc; prev(i) = j }
      }
      var out = List.empty[String]
      var pos = n
      while (pos > 0) {
        val j = prev(pos)
        out ::= c.slice(j, pos).mkString
        pos = j
      }
      out
    }
    fixture("_fixture_unigramtrain") {
      uniTableRef.toDF("piece", "log_prob").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_unigramtrain")
    }
    fixture("_fixture_unigramencode") {
      val table = uniTableRef.toMap
      val enc = uniEncodeWordRef(table) _
      val rows = bpeDocs.map { case (id, text) =>
        val toks = bpeWords(text).flatMap(enc)
        (id, toks.length, toks.take(12).mkString("|"))
      }
      rows.toDF("doc_id", "n_tokens", "head").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_unigramencode")
    }
    fixture("_fixture_bpebytes") {
      // byte-level replica: the GPT-2 bytes_to_unicode table re-derived
      // from its published spec, \s+-only pre-tokenization (case kept),
      // the SHARED merge loop over mapped byte-chars, ids under the
      // 256-seeded vocab (zero UNK by construction), and an independent
      // decode (</w> → space, bytes un-mapped) for the round-trip bit
      val b2c: Array[Char] = {
        val printable = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
        val out = new Array[Char](256)
        var n = 0
        (0 until 256).foreach { b =>
          if (printable(b)) out(b) = b.toChar
          else { out(b) = (256 + n).toChar; n += 1 }
        }
        out
      }
      val c2b: Map[Char, Int] = (0 until 256).map(b => b2c(b) -> b).toMap
      def mapW(w: String): String =
        w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .map(b => b2c(b & 0xff)).mkString
      def byteWords(text: String): Seq[String] =
        text.split("\\s+").toSeq.filter(_.nonEmpty).map(mapW)
      val byteDocs = bpeDocs.map { case (id, text) =>
        val tail =
          if (id % 3 == 0) " Grüße 雪"
          else if (id % 3 == 1) " MiXeD CaSe"
          else " plain ascii"
        (id, text + tail)
      }
      val merges = trainMergesRefOnWords(byteDocs.flatMap(d => byteWords(d._2)), 40)
      val rm = merges.map { case (rk, l, r, _) => ((l, r), rk) }.toMap
      val vocab = {
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        (0 until 256).foreach(b => seen += b2c(b).toString)
        seen += "</w>"
        merges.foreach { case (_, l, r, _) => seen += l + r }
        seen.toSeq
      }
      val idOf = vocab.zipWithIndex.toMap
      def decodeToks(toks: Seq[String]): String = {
        val sb = new java.lang.StringBuilder
        toks.zipWithIndex.foreach { case (tk, i) =>
          if (tk.endsWith("</w>")) {
            sb.append(tk, 0, tk.length - 4)
            if (i < toks.length - 1) sb.append(' ')
          } else sb.append(tk)
        }
        val bytes = new java.io.ByteArrayOutputStream
        sb.toString.foreach { c =>
          if (c == ' ') bytes.write(0x20) else bytes.write(c2b(c))
        }
        new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      }
      val rows = byteDocs.map { case (id, text) =>
        val toks = byteWords(text).flatMap(bpeEncodeWordRefWith(rm))
        val ids = toks.map(t => idOf.getOrElse(t, -1))
        val rt = decodeToks(toks) ==
          text.split("\\s+").filter(_.nonEmpty).mkString(" ")
        (id, toks.length, ids.count(_ == -1), ids.take(10).mkString("|"), rt)
      }
      rows.toDF("doc_id", "n_tokens", "n_unk", "head", "roundtrip_ok").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_bpebytes")
    }
    fixture("_fixture_unicjk") {
      // unigram trainer/encoder over the SAME planted Han corpus as
      // _fixture_bpecjk, through the replica's own seed→EM→prune loop
      val alpha = "的一是不了人我在有他这中"
      val cjkDocs: IndexedSeq[(Long, String)] = bpeDocs.map { case (id, _) =>
        val rot = (id % 12).toInt
        val base = alpha.substring(rot) + alpha.substring(0, rot)
        val reps = (id % 4).toInt + 2
        (id, base * reps + (if (id % 3 == 0) " mixed latin tail" else ""))
      }
      val table = uniTrainRef(cjkDocs, 40).toMap
      val enc = uniEncodeWordRef(table) _
      val rows = cjkDocs.map { case (id, text) =>
        val toks = bpeWords(text).flatMap(enc)
        (id, toks.length, toks.take(12).mkString("|"))
      }
      rows.toDF("doc_id", "n_tokens", "head").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_unicjk")
    }
    fixture("_fixture_unigramvocab") {
      // piece → id replica: <unk> 0, then the independent trainer's table
      // order (already canonical UTF-8) at i+1
      val rows = ("<unk>", 0) +:
        uniTableRef.zipWithIndex.map { case ((p, _), i) => (p, i + 1) }
      rows.toDF("piece", "id").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_unigramvocab")
    }
    fixture("_fixture_unigramids") {
      // id-array handoff replica: the independent Viterbi's pieces mapped
      // through the same id assignment; OOV surface forms → 0
      val table = uniTableRef.toMap
      val idOf = uniTableRef.zipWithIndex
        .map { case ((p, _), i) => (p, i + 1) }.toMap
      val enc = uniEncodeWordRef(table) _
      val rows = bpeDocs.map { case (id, text) =>
        val ids = bpeWords(text).flatMap(enc).map(idOf.getOrElse(_, 0))
        (id, ids.length, ids.count(_ == 0), ids.take(12).mkString("|"))
      }
      rows.toDF("doc_id", "n_ids", "n_unk", "head").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_unigramids")
    }
    // ── plain-Scala WordPiece replication (fixture oracles) ───────────
    // Independent re-run of the likelihood-scored merge trainer and the
    // greedy longest-match encoder — List symbols + groupMapReduce
    // counting + a reduce-based selection over an explicit total order,
    // structurally different from Tokenizer.wordpieceTrainOnHistogram's
    // HashMap scans and the codegen'd Wordpiece.Model; shares only the
    // pre-tokenization / UTF-8-ordering spec helpers above.
    def wpSymsOf(w: String): List[String] = {
      val b = List.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val s = new String(Character.toChars(cp))
        b += (if (i == 0) s else "##" + s)
        i += Character.charCount(cp)
      }
      b.result()
    }
    def wpTrainRefOn(docs: IndexedSeq[(Long, String)],
                     numMerges: Int): Seq[String] = {
      val hist = docs.flatMap(d => bpeWords(d._2))
        .groupMapReduce(identity)(_ => 1L)(_ + _)
        .toSeq.sortWith { case ((w1, f1), (w2, f2)) =>
          f1 > f2 || (f1 == f2 && utf8Less(w1, w2)) }.take(50000)
      var cur = hist.map { case (w, f) => (wpSymsOf(w), f) }
      val alphabet = cur.iterator.flatMap(_._1).toSet.toSeq.sortWith(utf8Less)
      val products = Seq.newBuilder[String]
      var rank = 1
      var stop = false
      while (rank <= numMerges && !stop) {
        val symF = cur.iterator.flatMap { case (syms, f) =>
          syms.iterator.map(_ -> f) }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
        val pairF = cur.iterator.flatMap { case (syms, f) =>
          syms.sliding(2).collect { case List(a, b) => ((a, b), f) }
        }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
        if (pairF.isEmpty) stop = true
        else {
          // total order: score = pf/(lf·rf) via exact cross products,
          // then pf desc, then (left, right) UTF-8 asc
          def better(x: ((String, String), Long), y: ((String, String), Long)): Boolean = {
            val ((l1, r1), p1) = x; val ((l2, r2), p2) = y
            val c = (BigInt(p1) * BigInt(symF(l2)) * BigInt(symF(r2)))
              .compare(BigInt(p2) * BigInt(symF(l1)) * BigInt(symF(r1)))
            c > 0 || (c == 0 && (p1 > p2 || (p1 == p2 &&
              (utf8Less(l1, l2) || (l1 == l2 && utf8Less(r1, r2))))))
          }
          val ((l, r), f) = pairF.reduceLeft((a, b) => if (better(b, a)) b else a)
          if (f < 2) stop = true
          else {
            val merged = l + (if (r.startsWith("##")) r.substring(2) else r)
            products += merged
            cur = cur.map { case (syms, fr) =>
              val out = List.newBuilder[String]
              var rest = syms
              while (rest.nonEmpty) rest match {
                case a :: b :: tl if a == l && b == r => out += merged; rest = tl
                case a :: tl => out += a; rest = tl
                case Nil => ()
              }
              (out.result(), fr)
            }
            rank += 1
          }
        }
      }
      ("[UNK]" +: alphabet ++: products.result()).distinct
    }
    lazy val wpVocabRef: Seq[String] = wpTrainRefOn(bpeDocs, 60)
    def wpEncodeWordRef(vocabSet: Set[String])(word: String): List[String] = {
      val cps = {
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < word.length) {
          val cp = word.codePointAt(i)
          b += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        b.result()
      }
      val n = cps.length
      if (n > 100) List("[UNK]")
      else {
        var out = List.empty[String]
        var start = 0
        var bad = false
        while (start < n && !bad) {
          var end = n
          var found: String = null
          while (found == null && end > start) {
            val cand = (if (start > 0) "##" else "") +
              cps.slice(start, end).mkString
            if (vocabSet(cand)) found = cand else end -= 1
          }
          if (found == null) bad = true
          else { out ::= found; start = end }
        }
        if (bad) List("[UNK]") else out.reverse
      }
    }
    fixture("_fixture_wptrain") {
      wpVocabRef.zipWithIndex.toDF("token", "id").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_wptrain")
    }
    fixture("_fixture_wpencode") {
      val enc = wpEncodeWordRef(wpVocabRef.toSet) _
      val rows = bpeDocs.map { case (id, text) =>
        val ws = bpeWords(text)
        val toks = ws.flatMap(enc)
        val rt = toks.mkString(" ").replace(" ##", "") == ws.mkString(" ")
        (id, toks.length, toks.count(_ == "[UNK]"),
          toks.take(12).mkString("|"), rt)
      }
      rows.toDF("doc_id", "n_tokens", "n_unk", "head", "roundtrip_ok")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_wpencode")
    }
    fixture("_fixture_wpids") {
      val enc = wpEncodeWordRef(wpVocabRef.toSet) _
      val idOf = wpVocabRef.zipWithIndex.toMap
      val rows = bpeDocs.map { case (id, text) =>
        val ids = bpeWords(text).flatMap(enc).map(idOf.getOrElse(_, 0))
        (id, ids.length, ids.count(_ == 0), ids.take(12).mkString("|"))
      }
      rows.toDF("doc_id", "n_ids", "n_unk", "head").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_wpids")
    }
    fixture("_fixture_shardappend") {
      // two-batch persistent-shard replica: batch 1 (even doc ids) shards
      // from token 0; batch 2 (odd ids) CONTINUES the cumulative token
      // line where batch 1 stopped — plain-Scala md5 ordering and the
      // same double-division floor as the engine
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(s: String): String =
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val nchars = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "n_chars")
        .collect().map(r => (r.getLong(0), r.get(1) match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
        })).sortBy(_._1)
      def assign(batch: Seq[(Long, Long)], start: Long): (Seq[(Long, Long, Long)], Long) = {
        val order = batch.sortBy { case (id, _) => (md5hex(s"42:$id"), id) }
        var cum = start
        val out = order.map { case (id, n) =>
          val s = StrictMath.floor(cum.toDouble / 5000.0).toLong
          cum += n
          (id, n, s)
        }
        (out, cum)
      }
      val (b1, t1) = assign(nchars.filter(_._1 % 2 == 0).toSeq, 0L)
      val (b2, _) = assign(nchars.filter(_._1 % 2 != 0).toSeq, t1)
      (b1 ++ b2).sortBy(_._1).toDF("doc_id", "n_chars", "shard").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_shardappend")
    }
    fixture("_fixture_tokfertility") {
      // all three tokenizer families' corpus fertility from the
      // independent replicas: exact long sums, one divide per family at
      // the end
      val uniTable = uniTableRef.toMap
      val uniEnc = uniEncodeWordRef(uniTable) _
      val wpEnc = wpEncodeWordRef(wpVocabRef.toSet) _
      var bNt = 0L; var uNt = 0L; var wNt = 0L; var nw = 0L; var nc = 0L
      bpeDocs.foreach { case (_, text) =>
        val ws = bpeWords(text)
        bNt += ws.iterator.map(bpeEncodeWordRef(_).length).sum
        uNt += ws.iterator.map(uniEnc(_).length).sum
        wNt += ws.iterator.map(wpEnc(_).length).sum
        nw += ws.length
        nc += text.codePointCount(0, text.length)
      }
      Seq(
        ("bpe", bNt.toDouble / nw.toDouble, bNt.toDouble * 100.0 / nc.toDouble),
        ("unigram", uNt.toDouble / nw.toDouble, uNt.toDouble * 100.0 / nc.toDouble),
        ("wordpiece", wNt.toDouble / nw.toDouble, wNt.toDouble * 100.0 / nc.toDouble))
        .toDF("family", "tokens_per_word", "tokens_per_100chars").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_tokfertility")
    }
    fixture("_fixture_bpefertility") {
      // per-language corpus fertility under the learned merges: exact
      // integer sums divide once at the end (raw IEEE quotient of
      // identical operands — the house determinism rule)
      val langs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "lang").as[(Long, String)].collect()
        .filter(_._2 != null).toMap
      val perLang = bpeDocs.filter(d => langs.contains(d._1))
        .groupBy(d => langs(d._1)).toSeq.map { case (lang, ds) =>
          var nt = 0L; var nw = 0L; var nc = 0L
          ds.foreach { case (_, text) =>
            val ws = bpeWords(text)
            nt += ws.iterator.map(bpeEncodeWordRef(_).length).sum
            nw += ws.length
            // Spark length() counts code points, not UTF-16 units
            nc += text.codePointCount(0, text.length)
          }
          (lang, ds.length.toLong, nt.toDouble / nw.toDouble,
            nt.toDouble * 100.0 / nc.toDouble)
        }.sortBy(_._1)
      perLang.toDF("lang", "n_docs", "tokens_per_word", "tokens_per_100chars")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_bpefertility")
    }
    fixture("_fixture_tokens") {
      val toks = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey").as[Long].collect().toIndexedSeq
        .map(k => (k, graft.functions.CassandraMurmur3.tokenOfLong(k)))
      toks.toDF("o_orderkey", "tok").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_tokens")
    }
    fixture("_fixture_mixtemp") {
      // Plain-Scala re-run of the α-sampling composition
      // (q_mix_temperature): planted 50/30/20 tiers from doc_id, the
      // temperature-weight formula (same JDK scalar kernels — pow, IEEE
      // double ops — in the SAME pinned order: counts summed in
      // source-name order, 6-dp HALF_UP round), and the fractional-epoch
      // gate replayed with an INDEPENDENT MessageDigest md5 + its own
      // hex-bound arithmetic — nothing from Pipeline's gate machinery is
      // imported, so the salted-gate spec is checked, not echoed.
      val ids = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long].collect().toIndexedSeq.sorted
      def tierOf(id: Long): String =
        if (id % 10 < 5) "big" else if (id % 10 < 8) "mid" else "small"
      val counts = ids.groupBy(tierOf).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      val total = counts.map(_._2).sum.toDouble
      val powed = counts.map { case (s, n) => (s, n, math.pow(n / total, 0.5)) }
      val z = powed.map(_._3).sum
      val w = powed.map { case (s, n, pw) =>
        s -> BigDecimal(pw / z * total / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(s: String): String = {
        md.reset()
        md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"${b & 0xff}%02x").mkString
      }
      def bound(f: Double): String = {
        if (f >= 1.0) "g"
        else {
          val scaled = (f * 4294967296.0).toLong
          if (scaled >= 4294967296L) "g" else f"$scaled%08x"
        }
      }
      val rows = ids.flatMap { id =>
        val src = tierOf(id)
        val ws = w(src)
        val full = math.floor(ws).toLong
        val frac = ws - math.floor(ws)
        val keep = frac > 0.0 && md5hex(s"mix:$id") < bound(frac)
        val epochs = (1L to full) ++ (if (keep) Seq(full + 1L) else Nil)
        epochs.map(e => (id, src, e))
      }
      rows.toDF("doc_id", "psrc", "epoch").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_mixtemp")
    }
    fixture("_fixture_compress") {
      // Plain java.util.zip re-run of the compression-ratio byte counts
      // (q_quality_compress), driver-side and outside any Catalyst
      // machinery — a fresh Deflater per doc with the same parameters the
      // DeflateLen expression pins (level 6, nowrap), so the expression's
      // thread-local reset()/buffer reuse is independently checked. Only
      // the two integer counts land in the fixture; the ratio is derived
      // in SQL so no float crosses the fixture boundary.
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect().toIndexedSeq
        .map { case (id, text) =>
          val bytesOpt = Option(text)
            .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val dl = bytesOpt.map { bytes =>
            val d = new java.util.zip.Deflater(6, true)
            d.setInput(bytes); d.finish()
            val buf = new Array[Byte](8192)
            var n = 0
            while (!d.finished()) n += d.deflate(buf)
            d.end()
            n
          }
          (id, bytesOpt.map(_.length), dl)
        }
      rows.toDF("doc_id", "n_bytes", "deflate_bytes").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_compress")
    }
    fixture("_fixture_simhash") {
      // Plain-Scala re-run of the ENTIRE simhash near-dup pipeline
      // (shingle → distinct-vote simhash → 16-bit pigeonhole candidates →
      // hamming<=3 → exact-Jaccard verify) over the corpus, driver-side.
      // Independent of every Catalyst expression under test
      // (SimHashSig/Murmur64/pairsOf/array_intersect verify); shares only
      // CassandraMurmur3.hashString, which TokenSpec pins to reference
      // vectors. Parameters mirror q_dedup_simhash: k=3, maxHamming=3,
      // threshold=0.7.
      val k = 3
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        // engine path drops null-signature (null-text) rows; mirror it
        .filter(_._2 != null)
      def shingleList(text: String): IndexedSeq[String] = {
        // exact split(lower(text), ' ') semantics: Java limit -1 keeps
        // interior AND trailing empty tokens, like Spark's StringSplit
        val w = text.toLowerCase.split(" ", -1).toIndexedSeq
        (1 to math.max(w.length - (k - 1), 1))
          .map(i => w.slice(i - 1, i - 1 + k).mkString(" "))
      }
      val sigs = docs.map { case (id, text) =>
        val distinctShingles = shingleList(text).distinct
        val votes = new Array[Int](64)
        distinctShingles.foreach { s =>
          val hv = graft.functions.CassandraMurmur3.hashString(s, 0x51c0L)
          (0 until 64).foreach { j =>
            if (((hv >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          }
        }
        val sig = (0 until 64).foldLeft(0L) { (acc, j) =>
          if (votes(j) >= 0) acc | (1L << j) else acc
        }
        val hashedSet = distinctShingles
          .map(s => graft.functions.CassandraMurmur3.hashString(s, 0x51c0L)).toSet
        (id, sig, hashedSet)
      }
      val pairs = for {
        i <- sigs.indices.iterator
        j <- (i + 1) until sigs.length
        (ida, siga, seta) = sigs(i)
        (idb, sigb, setb) = sigs(j)
        (a, sa, sb) = if (ida < idb) (ida, seta, setb) else (idb, setb, seta)
        b = math.max(ida, idb)
        if (0 until 4).exists(c => ((siga >>> (16 * c)) & 0xffffL) == ((sigb >>> (16 * c)) & 0xffffL))
        if java.lang.Long.bitCount(siga ^ sigb) <= 3
        inter = (seta & setb).size
        jac = round6(inter.toDouble / (seta.size + setb.size - inter))
        if jac >= 0.7
      } yield (a, b, jac)
      pairs.toIndexedSeq.toDF("a", "b", "jaccard").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_simhash")
    }
    fixture("_fixture_annlsh") {
      annLshRows.toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annlsh")
    }
    fixture("_fixture_annivf") {
      annIvfRows.toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annivf")
    }
    fixture("_fixture_annknnjoin") {
      annKnnJoinRows.toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annknnjoin")
    }
    fixture("_fixture_annpq") {
      // Plain-Scala re-run of the PQ + exact-rerank pipeline with
      // q_ann_pq's parameters (m=8, ksub=16, iters=3, k=10, rerank=4).
      // Deterministic end-to-end: codebooks train sequentially over the
      // vec_id-ordered sample, encode/score ties break on lowest code.
      annPqRows.toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annpq")
    }
    fixture("_fixture_annopq") {
      // Plain-Scala re-run of the OPQ pipeline (rotation training by
      // Lloyd/Procrustes alternation, rotated-space encode + rerank) —
      // independent Jacobi/SVD from the pinned spec
      annOpqRows.toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annopq")
    }
    fixture("_fixture_annivfopq") {
      annIvfOpqRows.toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annivfopq")
    }
    // Plain-Scala re-run of the SQ8 scalar-quantization + exact-rerank
    // pipeline (q_ann_sq8's parameters: k=10, rerank=4). The quantizer is
    // exact per-dim min/max; codes and reconstructions replay the
    // expression's double-arithmetic order exactly (floor(v + 0.5) clamp,
    // −128 offset, float cast at the end). Shared with _fixture_annrecall.
    lazy val annSq8Recon: IndexedSeq[(Long, Array[Float])] = {
      val dim = annVecs.head._2.length
      val mins = Array.tabulate(dim)(i => annVecs.iterator.map(_._2(i)).min)
      val maxs = Array.tabulate(dim)(i => annVecs.iterator.map(_._2(i)).max)
      val spans = Array.tabulate(dim)(i => maxs(i) - mins(i)) // Float, like Sq8Params
      def codeOf(x: Float, i: Int): Int = {
        val v = if (spans(i) > 0f)
          (x.toDouble - mins(i).toDouble) / spans(i).toDouble * 255.0 else 0.0
        (math.min(255.0, math.max(0.0, math.floor(v + 0.5))) - 128.0).toInt
      }
      def deq(c: Int, i: Int): Float =
        (mins(i).toDouble + (c + 128).toDouble / 255.0 * spans(i).toDouble).toFloat
      annVecs.map { case (id, e) =>
        (id, Array.tabulate(dim)(i => deq(codeOf(e(i), i), i)))
      }
    }
    lazy val annSq8Rows: IndexedSeq[(Long, Long, Double, Int)] =
      annRerankRef(annVecs, annSq8Recon, queryMax = 8, k = 10, rerank = 4)
    // IVF×SQ8: probe-pruned candidates over the SQ8 reconstructions —
    // the IVF-PQ replica's probe filter composed with the SQ8 decode
    // (q_ann_ivf_sq8's parameters: nlist=16, nprobe=4, rerank=4)
    lazy val annIvfSq8Rows: IndexedSeq[(Long, Long, Double, Int)] = {
      val cents = annIvfCents
      val assigned = annVecs.map { case (id, e) => (id, nearestCentRef(e, cents)) }.toMap
      annRerankRef(annVecs, annSq8Recon, queryMax = 8, k = 10, rerank = 4,
        probeFilter = Some { qe =>
          val probed = cents
            .map { case (cid, c) => (cid, graft.functions.VectorMath.cosineF(qe, c)) }
            .sortBy { case (cid, s) => (-s, cid) }.take(4).map(_._1).toSet
          nid => probed(assigned(nid))
        })
    }
    fixture("_fixture_ivfdrift") {
      // drift-stat replica: assign the odd-id half to the replica-trained
      // centroids, mean of 6-dp cosines per list via exact BigDecimal sum
      val cents = annIvfCents
      val rows = annVecs.filter(_._1 % 2 == 1)
        .map { case (_, e) =>
          val cid = nearestCentRef(e, cents)
          val c = cents.find(_._1 == cid).get._2
          (cid, round6(graft.functions.VectorMath.cosineF(e, c)))
        }
        .groupBy(_._1).toSeq
        .map { case (cid, vs) =>
          val s = vs.map(v => BigDecimal(v._2).setScale(6)).sum
          (cid, vs.length.toLong, round6(s.toDouble / vs.length))
        }
        .sortBy(_._1)
      rows.toDF("cid", "n", "mean_cos").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_ivfdrift")
    }
    // ── composed-index drift replicas: the index trains on the EVEN-id
    // half, the odd half plays the ingest epoch (so both the centroid
    // cosine and the quantizer-fidelity signal actually move). Shared
    // deterministic mean: 6-dp per-vector values, exact BigDecimal sums,
    // one divide, 6-dp result — the engine's DECIMAL(18,6) rule.
    lazy val driftEven = annVecs.filter(_._1 % 2 == 0)
    lazy val driftOdd = annVecs.filter(_._1 % 2 == 1)
    lazy val driftCents = ivfCentroidsRef(driftEven, nlist = 16)
    def driftMeans(rows: Seq[(Int, Double, Double)])
        : Seq[(Int, Long, Double, Double)] =
      rows.groupBy(_._1).toSeq.map { case (cid, vs) =>
        val s1 = vs.map(v => BigDecimal(v._2).setScale(6)).sum
        val s2 = vs.map(v => BigDecimal(v._3).setScale(6)).sum
        (cid, vs.length.toLong, round6(s1.toDouble / vs.length),
          round6(s2.toDouble / vs.length))
      }.sortBy(_._1)
    fixture("_fixture_ivfsq8drift") {
      // SQ8 bounds = exact per-dim min/max of the even half; clamp_frac =
      // per-vector fraction of components outside those bounds
      val dim = annVecs.head._2.length
      val mins = Array.tabulate(dim)(i => driftEven.iterator.map(_._2(i)).min)
      val maxs = Array.tabulate(dim)(i => driftEven.iterator.map(_._2(i)).max)
      val rows = driftMeans(driftOdd.map { case (_, e) =>
        val cid = nearestCentRef(e, driftCents)
        val c = driftCents.find(_._1 == cid).get._2
        val oob = e.indices.count(i => e(i) < mins(i) || e(i) > maxs(i))
        (cid, round6(graft.functions.VectorMath.cosineF(e, c)),
          round6(oob.toDouble / dim))
      })
      rows.toDF("cid", "n", "mean_cos", "clamp_frac").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_ivfsq8drift")
    }
    fixture("_fixture_ivfpqdrift") {
      // PQ codebooks train on the even half (q_ann_ivfpq_drift's
      // parameters m=8, ksub=16, iters=3); mean_qcos = cosine of each
      // odd-half vector to its own reconstruction under those codebooks
      val books = pqTrainRef(driftEven, m = 8, ksub = 16, iters = 3)
      val rows = driftMeans(driftOdd.map { case (_, e) =>
        val cid = nearestCentRef(e, driftCents)
        val c = driftCents.find(_._1 == cid).get._2
        (cid, round6(graft.functions.VectorMath.cosineF(e, c)),
          round6(graft.functions.VectorMath.cosineF(e,
            pqReconstructRef(e, books))))
      })
      rows.toDF("cid", "n", "mean_cos", "mean_qcos").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_ivfpqdrift")
    }
    fixture("_fixture_ivfopqdrift") {
      // OPQ model trains on the even half; EVERYTHING measures in
      // rotated space — rotated-corpus centroids, rotated epoch batch,
      // reconstruction under the rotated-space codebooks
      val model = opqTrainRef(driftEven, m = 8, ksub = 16, iters = 3,
        opqIters = 3)
      val rot = rotateZeroMeanRef(model._1)(_)
      val rotEven = driftEven.map { case (id, e) => (id, rot(e)) }
      val cents = ivfCentroidsRef(rotEven, nlist = 16)
      val rows = driftMeans(driftOdd.map { case (_, e0) =>
        val e = rot(e0)
        val cid = nearestCentRef(e, cents)
        val c = cents.find(_._1 == cid).get._2
        (cid, round6(graft.functions.VectorMath.cosineF(e, c)),
          round6(graft.functions.VectorMath.cosineF(e,
            pqReconstructRef(e, model._2))))
      })
      rows.toDF("cid", "n", "mean_cos", "mean_qcos").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_ivfopqdrift")
    }
    fixture("_fixture_audio") {
      // audio-signal replica: re-derive the planted PCM samples from the
      // documents text by the documented LCG formula and re-measure the
      // signals independently (no WAV container round-trip here — the
      // container encode/decode identity is MultimodalSpec's job; the
      // measured values must agree with the engine's decode-then-measure)
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .map { case (id, text0) =>
          val text = Option(text0).getOrElse("")
          val xs = text.map(c =>
            ((((c.toInt * 1103515245 + 12345) >>> 8) & 0xffff) - 32768))
          val n = xs.length
          var sumSq = 0.0; var peak = 0; var silent = 0; var clipped = 0
          xs.foreach { v =>
            val av = math.abs(v)
            sumSq += v.toDouble * v.toDouble
            if (av > peak) peak = av
            if (av < 328) silent += 1
            if (av >= 32440) clipped += 1
          }
          (id, 16000,
            n,
            if (n == 0) 0L else n.toLong * 1000000L / 16000L,
            if (n == 0) 0.0 else round6(math.sqrt(sumSq / n) / 32768.0),
            peak,
            if (n == 0) 0.0 else round6(silent.toDouble / n),
            if (n == 0) 0.0 else round6(clipped.toDouble / n))
        }
      rows.toDF("media_id", "sample_rate", "n_samples", "duration_us",
          "rms", "peak", "silence_ratio", "clipping_ratio").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_audio")
    }
    fixture("_fixture_audiog711") {
      // telephony replica: code bytes re-derived from the planted formula
      // (plantPixel(id + 4·10⁶, i)), expanded by an INDEPENDENT statement
      // of the published ITU G.711 formulas, then the same fixed-order
      // signal pass as _fixture_audio at the 8 kHz telephony rate
      def ulaw(code: Int): Int = {
        val u = (~code) & 0xff
        val t = ((((u & 0x0f) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        if ((u & 0x80) != 0) -t else t
      }
      def alaw(code: Int): Int = {
        val a = code ^ 0x55
        val seg = (a >> 4) & 7
        val t =
          if (seg == 0) ((a & 0x0f) << 4) + 8
          else (((a & 0x0f) << 4) + 0x108) << (seg - 1)
        if ((a & 0x80) != 0) t else -t
      }
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
        .map { case (id, nChars) =>
          val xs = (0 until nChars).map { i =>
            var z = (id + 4000000L) * 0x9E3779B97F4A7C15L +
              i.toLong * 0xBF58476D1CE4E5B9L
            z ^= (z >>> 31); z *= 0x94D049BB133111EBL
            val code = ((z >>> 40) & 0xff).toInt
            if (id % 2 == 1) alaw(code) else ulaw(code)
          }
          val n = xs.length
          var sumSq = 0.0; var peak = 0; var silent = 0; var clipped = 0
          xs.foreach { v =>
            val av = math.abs(v)
            sumSq += v.toDouble * v.toDouble
            if (av > peak) peak = av
            if (av < 328) silent += 1
            if (av >= 32440) clipped += 1
          }
          (id, 8000, n,
            if (n == 0) 0L else n.toLong * 1000000L / 8000L,
            if (n == 0) 0.0 else round6(math.sqrt(sumSq / n) / 32768.0),
            peak,
            if (n == 0) 0.0 else round6(silent.toDouble / n),
            if (n == 0) 0.0 else round6(clipped.toDouble / n))
        }
      rows.toDF("media_id", "sample_rate", "n_samples", "duration_us",
          "rms", "peak", "silence_ratio", "clipping_ratio").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_audiog711")
    }
    fixture("_fixture_audioadpcm") {
      // IMA ADPCM replica: planted samples re-derived from the formula
      // (int16 from plantPixel(id + 5·10⁶, 2i | 2i+1) byte pairs), then
      // quantize∘reconstruct replayed as a pure function per the
      // published IMA tables — predictor re-anchors at each block's
      // first sample, the step index carries across blocks, and the
      // fact-truncation means padding nibbles never surface. NO WAV
      // container or shared codec code anywhere.
      val stepT = Array(
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
        37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
        157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
        544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
        1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
        4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
        12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
        29794, 32767)
      val idxT = Array(-1, -1, -1, -1, 2, 4, 6, 8)
      def pp(a: Long, i: Long): Int = {
        var z = a * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
        z ^= (z >>> 31); z *= 0x94D049BB133111EBL
        ((z >>> 40) & 0xff).toInt
      }
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
        .map { case (id, nChars) =>
          val nSamp = math.max(nChars, 1)
          val samples = Array.tabulate(nSamp)(i =>
            ((pp(id + 5000000L, 2L * i) << 8) | pp(id + 5000000L, 2L * i + 1)).toShort)
          val ba = Seq(256, 64, 32)((id % 3).toInt)
          val spb = (ba - 4) * 2 + 1
          // pure quantize∘reconstruct replay (padding nibbles are cut by
          // fact, so only the first nSamp reconstructions matter)
          val xs = new Array[Int](nSamp)
          var index = 0
          var k = 0
          while (k < nSamp) {
            if (k % spb == 0) xs(k) = samples(k).toInt // block re-anchor
            else {
              val pred = xs(k - 1)
              val step = stepT(index)
              var diff = samples(k).toInt - pred
              var nib = 0
              if (diff < 0) { nib = 8; diff = -diff }
              if (diff >= step) { nib |= 4; diff -= step }
              if (diff >= (step >> 1)) { nib |= 2; diff -= step >> 1 }
              if (diff >= (step >> 2)) nib |= 1
              var d = step >> 3
              if ((nib & 4) != 0) d += step
              if ((nib & 2) != 0) d += step >> 1
              if ((nib & 1) != 0) d += step >> 2
              val p0 = if ((nib & 8) != 0) pred - d else pred + d
              xs(k) = math.max(-32768, math.min(32767, p0))
              index = math.max(0, math.min(88, index + idxT(nib & 7)))
            }
            k += 1
          }
          val n = xs.length
          var sumSq = 0.0; var peak = 0; var silent = 0; var clipped = 0
          xs.foreach { v =>
            val av = math.abs(v)
            sumSq += v.toDouble * v.toDouble
            if (av > peak) peak = av
            if (av < 328) silent += 1
            if (av >= 32440) clipped += 1
          }
          (id, 16000, n, n.toLong * 1000000L / 16000L,
            round6(math.sqrt(sumSq / n) / 32768.0),
            peak,
            round6(silent.toDouble / n),
            round6(clipped.toDouble / n))
        }
      rows.toDF("media_id", "sample_rate", "n_samples", "duration_us",
          "rms", "peak", "silence_ratio", "clipping_ratio").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_audioadpcm")
    }
    // shared by the two subtitle fixtures: cue rows derived STRAIGHT from
    // the document words (groups of four; cue i starts at i·1700 +
    // (id%7)·13 ms for 1400 ms; cue 2 of id%5==0 docs starts 100 ms
    // before cue 1) — no SRT/VTT rendering or parsing anywhere
    lazy val subtitleCueRows: IndexedSeq[(Long, Int, Long, Long, Int, Boolean, String)] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val words = Option(text0).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
          if (words.isEmpty) IndexedSeq.empty
          else {
            val groups = words.grouped(4).toIndexedSeq
            var prevStart = Long.MinValue
            groups.zipWithIndex.map { case (g, i) =>
              val base = i.toLong * 1700 + (id % 7) * 13
              val start = if (i == 2 && id % 5 == 0 && groups.length >= 3)
                1700 + (id % 7) * 13 - 100 else base
              val end = start + 1400
              val ctext0 = if (g.length == 4)
                g.take(2).mkString(" ") + "\n" + g.drop(2).mkString(" ")
              else g.mkString(" ")
              // mirror plantSubtitle's supplementary-character plant
              // (U+1F3AC on cue 0 of id%11==0 tracks)
              val ctext = if (i == 0 && id % 11 == 0) ctext0 + "🎬" else ctext0
              val ord = start >= prevStart
              prevStart = start
              (id, i, start, end, g.length, ord, ctext)
            }
          }
        }
    fixture("_fixture_subtitles") {
      subtitleCueRows.toDF("media_id", "cue_idx", "start_ms", "end_ms",
          "n_words", "in_order", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_subtitles")
    }
    fixture("_fixture_submarkup") {
      // markup replica: re-derive each cue's MARKED text from the plant
      // (voice span on cue 0, per-word <b>/<i>/<c.yellow> by
      // (id+i+j) mod 4, karaoke stamp before word 1 of even cues, &amp;
      // entity on word 0 of id%4==0 docs), then clean with
      // java.util.regex (cleanCueTextRef) — no VTT parse, no Spark regex
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val words = Option(text0).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
          if (words.isEmpty) IndexedSeq.empty
          else {
            val groups = words.grouped(4).toIndexedSeq
            groups.zipWithIndex.map { case (g, i) =>
              val base = i.toLong * 1700 + (id % 7) * 13
              val start = if (i == 2 && id % 5 == 0 && groups.length >= 3)
                1700 + (id % 7) * 13 - 100 else base
              def fmt(ms: Long): String = {
                val h = ms / 3600000; val m = ms / 60000 % 60
                val sec = ms / 1000 % 60; val f = ms % 1000
                f"$h%02d:$m%02d:$sec%02d.$f%03d"
              }
              val marked = g.zipWithIndex.map { case (w0, j) =>
                val w = if (j == 0 && id % 4 == 0) w0 + "&amp;co" else w0
                val core = ((id + i + j) % 4).toInt match {
                  case 0 => s"<b>$w</b>"
                  case 1 => s"<i>$w</i>"
                  case 2 => s"<c.yellow>$w</c>"
                  case _ => w
                }
                val karaoke = if (j == 1 && i % 2 == 0) s"<${fmt(start + 200)}>" else ""
                val voice = if (i == 0 && j == 0) s"<v Speaker${id % 3}>" else ""
                voice + karaoke + core
              }.mkString(" ")
              val clean = graft.operators.Subtitles.cleanCueTextRef(marked)
              (id, i, clean, clean.split(" ").length)
            }
          }
        }
      rows.toDF("media_id", "cue_idx", "clean_text", "clean_words").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_submarkup")
    }
    fixture("_fixture_ass") {
      // ASS replica: rows straight from the document words — groups of
      // four with '{'/'}'/'\' normalized to ',', centisecond timing
      // (i·1700 + (id%7)·10 for 1400 ms; cue 2 of id%5==0 docs 100 ms
      // before cue 1), visible text = the normalized words joined by
      // single spaces. No ASS render or parse anywhere here.
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val words = Option(text0).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
            .map(_.map(c => if (c == '{' || c == '}' || c == '\\') ',' else c))
          if (words.isEmpty) IndexedSeq.empty
          else {
            val groups = words.grouped(4).toIndexedSeq
            var prevStart = Long.MinValue
            groups.zipWithIndex.map { case (g, i) =>
              val base = i.toLong * 1700 + (id % 7) * 10
              val start = if (i == 2 && id % 5 == 0 && groups.length >= 3)
                1700 + (id % 7) * 10 - 100 else base
              val ord = start >= prevStart
              prevStart = start
              (id, i, start, start + 1400, g.length, ord, g.mkString(" "))
            }
          }
        }
      rows.toDF("media_id", "cue_idx", "start_ms", "end_ms", "n_words",
          "in_order", "clean_text").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_ass")
    }
    fixture("_fixture_subquality") {
      // caption-QA replica over the SAME derived cue rows: per track,
      // counts/span/out-of-order/overlap (prev end vs start in cue
      // order) and reading speed — chars are the rendered cue text's
      // (two-line cues count their newline), cue_ms the sum of spans
      val rows = subtitleCueRows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (id, cs0) =>
          val cs = cs0.sortBy(_._2)
          val nCues = cs.size.toLong
          val span = cs.map(_._4).max - cs.map(_._3).min
          val outOfOrder = cs.count(!_._6).toLong
          val overlaps = cs.sliding(2).count {
            case Seq(a, b) => b._3 < a._4
            case _ => false
          }.toLong
          // code POINTS, not UTF-16 units — the engine counts with Spark
          // length() (code points); the 🎬 plant desyncs any unit slip
          val totalChars =
            cs.map(c => c._7.codePointCount(0, c._7.length).toLong).sum
          val cueMs = cs.map(c => c._4 - c._3).sum
          val cps = BigDecimal(totalChars * 1000.0 / cueMs)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (id, nCues, span, outOfOrder, overlaps, totalChars, cueMs, cps)
        }
      rows.toDF("media_id", "n_cues", "span_ms", "out_of_order", "overlap_cues",
          "total_chars", "cue_ms", "chars_per_sec").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_subquality")
    }
    fixture("_fixture_subframes") {
      // cue→frame pairs on the 4 fps sampled timeline: 250 ms per frame,
      // clip length 40 + id%23; first = ceil(start_ms/250), last =
      // ceil(end_ms/250) − 1 clipped to n−1 (exact integer ceil)
      val rows = subtitleCueRows.flatMap { case (id, i, start, end, _, _, ctext) =>
        val n = 40 + (id % 23)
        val first = math.max(0L, (start + 249) / 250)
        val last = math.min(n - 1, (end + 249) / 250 - 1)
        (first to last).map(f => (id, i, f, start, end, ctext))
      }
      rows.toDF("media_id", "cue_idx", "frame_idx", "start_ms", "end_ms",
          "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_subframes")
    }
    // ---- MP4 container-tier replicas: per-track metadata, sample-table
    // rows and the curation gate re-derived STRAIGHT from the plant
    // formulas (Mp4.plantParams scaladoc is the spec) — no ISO-BMFF
    // round trip anywhere in this block. Integer-division conventions
    // (duration_ms, bitrate) are pinned toward zero on both engines.
    lazy val mp4Docs: IndexedSeq[(Long, Int)] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "n_chars").as[(Long, Long)].collect()
        .sortBy(_._1).map { case (id, nc) => (id, math.max(nc, 0L).toInt) }
        .toIndexedSeq
    def mp4VideoSizes(id: Long, nf: Int): IndexedSeq[Long] =
      (0 until nf).map(s => 600L + (id * 31 + s * 97) % 1400)
    def mp4AudioSizes(id: Long, nf: Int): IndexedSeq[Long] =
      (0 until nf).map(s => 200L + (id * 13 + s * 53) % 300)
    fixture("_fixture_mp4meta") {
      val rows = mp4Docs.flatMap { case (id, nc) =>
        val w = 320 + (id % 5).toInt * 64
        val h = 180 + (id % 4).toInt * 90
        val nf = 24 + nc % 96
        val vSizes = mp4VideoSizes(id, nf)
        val durV = nf.toLong * 3600 * 1000 / 90000
        // mvhd duration in movie timescale 1000 = max over tracks of
        // mediaDur·1000/trackTs; video (40·nf) always dominates audio
        // (⌊1024·nf/48⌋ ≈ 21.3·nf)
        val movieMs = durV
        val k = 6 + (id % 5).toInt
        val nSync = ((nf + k - 1) / k).toLong
        val nChV = (3 + (nf - 15 + 7) / 8).toLong // chunks 5,5,5 then 8s (nf ≥ 24)
        val video = (id, "isom", movieMs, 1L, "vide", "avc1", w, h, 0, 0,
          90000L, durV, nf.toLong, nChV, nSync, vSizes.sum)
        val audio = if (id % 2 == 0) {
          val aSizes = mp4AudioSizes(id, nf)
          val durA = nf.toLong * 1024 * 1000 / 48000
          Seq((id, "isom", movieMs, 2L, "soun", "mp4a", 0, 0,
            1 + ((id / 2) % 2).toInt, 48000, 48000L, durA, nf.toLong,
            ((nf + 9) / 10).toLong, nf.toLong, aSizes.sum))
        } else Nil
        video +: audio
      }
      rows.toDF("media_id", "brand", "movie_duration_ms", "track_id",
          "handler", "codec", "width", "height", "channels", "sample_rate",
          "timescale", "duration_ms", "n_samples", "n_chunks", "n_sync",
          "total_bytes").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_mp4meta")
    }
    fixture("_fixture_mp4frag") {
      // fragmented-layout replica: same dims/video sizes; fragment length
      // k = 8 + id%5 gives n_chunks = ceil(nf/k) truns per track; video
      // sync = one leading keyframe per fragment, audio all-sync via
      // trex default flags; audio uniform 256 bytes; brand iso5; movie
      // duration from mehd (= the video track's ms, always the max)
      val rows = mp4Docs.flatMap { case (id, nc) =>
        val w = 320 + (id % 5).toInt * 64
        val h = 180 + (id % 4).toInt * 90
        val nf = 24 + nc % 96
        val k = 8 + (id % 5).toInt
        val nFrags = ((nf + k - 1) / k).toLong
        val durV = nf.toLong * 3600 * 1000 / 90000
        val video = (id, "iso5", durV, 1L, "vide", "avc1", w, h, 0, 0,
          90000L, durV, nf.toLong, nFrags, nFrags, mp4VideoSizes(id, nf).sum)
        val audio = if (id % 2 == 0) {
          val durA = nf.toLong * 1024 * 1000 / 48000
          Seq((id, "iso5", durV, 2L, "soun", "mp4a", 0, 0,
            1 + ((id / 2) % 2).toInt, 48000, 48000L, durA, nf.toLong,
            nFrags, nf.toLong, 256L * nf))
        } else Nil
        video +: audio
      }
      rows.toDF("media_id", "brand", "movie_duration_ms", "track_id",
          "handler", "codec", "width", "height", "channels", "sample_rate",
          "timescale", "duration_ms", "n_samples", "n_chunks", "n_sync",
          "total_bytes").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_mp4frag")
    }
    fixture("_fixture_mp4samples") {
      // sample-table replica (q_mp4_sample_table's bound: doc_id < 150):
      // chunk index from the stsc runs ([(1,5),(4,8)] video, 10/chunk
      // audio), rel offsets as size cumsums (video samples lie first in
      // mdat), dts = s·delta, sync every 6+id%5 video samples (audio has
      // no stss → all sync)
      val rows = mp4Docs.filter(_._1 < 150).flatMap { case (id, nc) =>
        val nf = 24 + nc % 96
        val k = 6 + (id % 5).toInt
        val vSizes = mp4VideoSizes(id, nf)
        val vOff = vSizes.scanLeft(0L)(_ + _)
        val video = (0 until nf).map { s =>
          val chunk = if (s < 15) s / 5 + 1 else 4 + (s - 15) / 8
          (id, 1L, s + 1L, chunk.toLong, vOff(s), vSizes(s), s * 3600L,
            s % k == 0)
        }
        val audio = if (id % 2 == 0) {
          val aSizes = mp4AudioSizes(id, nf)
          val aOff = aSizes.scanLeft(vSizes.sum)(_ + _)
          (0 until nf).map { s =>
            (id, 2L, s + 1L, (s / 10 + 1).toLong, aOff(s), aSizes(s),
              s * 1024L, true)
          }
        } else IndexedSeq.empty
        video ++ audio
      }
      rows.toDF("media_id", "track_id", "sample_idx", "chunk_idx",
          "rel_offset", "size", "dts", "is_sync").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_mp4samples")
    }
    fixture("_fixture_mp4gate") {
      // curation-gate replica (q_mp4_gate's thresholds: duration in
      // [1500, 600000] ms, ≥384×270, bitrate ≤ 10 Mbps); bitrate is
      // total·8000/duration with the quotient truncated toward zero on
      // both engines
      val rows = mp4Docs.map { case (id, nc) =>
        val w = 320 + (id % 5).toInt * 64
        val h = 180 + (id % 4).toInt * 90
        val nf = 24 + nc % 96
        val hasAudio = id % 2 == 0
        val durV = nf.toLong * 3600 * 1000 / 90000
        val total = mp4VideoSizes(id, nf).sum +
          (if (hasAudio) mp4AudioSizes(id, nf).sum else 0L)
        val bitrate = total * 8 * 1000 / durV
        val keep = durV >= 1500 && durV <= 600000 && w >= 384 && h >= 270 &&
          bitrate <= 10000000L
        (id, if (hasAudio) 2L else 1L, if (hasAudio) 1 else 0, "avc1",
          w, h, durV, total, bitrate, keep)
      }
      rows.toDF("media_id", "n_tracks", "has_audio", "video_codec", "width",
          "height", "duration_ms", "total_bytes", "bitrate_bps", "keep")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_mp4gate")
    }
    fixture("_fixture_epub") {
      // EPUB replica: chapter text from the word plant alone — chapters
      // of 20 words; extraction = "ch<k> Chapter <k> & <words>" (the
      // <title> text, the planted heading with its decoded &amp;, then
      // the paragraph words, whitespace-collapsed by htmlToText)
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val words = Option(text0).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
          words.grouped(20).zipWithIndex.map { case (cw, k) =>
            val txt = s"ch$k Chapter $k & " + cw.mkString(" ")
            (id, k, s"ch$k.xhtml", txt, 4 + cw.length)
          }
        }
      rows.toDF("doc_id", "chapter_idx", "href", "text", "n_words").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_epub")
    }
    fixture("_fixture_mp3meta") {
      // MP3 frame-walk replica: lengths from the PUBLIC Layer III
      // tables (ISO 11172-3 / 13818-3), stepping arithmetic inlined —
      // no container round trip. Plant: nf = 40 + nc%200 frames;
      // MPEG-2 on id%5==0; CBR idx 9 on even ids, VBR cycling
      // 5 + 2·((id+f)%5) on odd; padding f%3==0; channel mode id%4;
      // ID3v2 of 10 + 57 + id%100 bytes on id%3==0. Wild-data shapes:
      // a Xing/Info header frame on id%4==1 and an ID3v1 TAG trailer
      // on id%6==2, both EXCLUDED from the audio stats by contract.
      val brM1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
      val brM2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
      val modes = Array("stereo", "joint_stereo", "dual_channel", "mono")
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "n_chars").as[(Long, Long)].collect()
        .sortBy(_._1).toIndexedSeq
        .map { case (id, nc0) =>
          val nc = math.max(nc0, 0L).toInt
          val nf = 40 + nc % 200
          val mpeg1 = id % 5 != 0
          val sr = if (mpeg1) 44100 else 22050
          val spf = if (mpeg1) 1152L else 576L
          var audio = 0L
          var vbr = false
          val seen = scala.collection.mutable.Set.empty[Int]
          (0 until nf).foreach { f =>
            val bi = if (id % 2 == 0) 9 else 5 + 2 * ((id + f) % 5).toInt
            seen += bi
            val kbps = (if (mpeg1) brM1 else brM2)(bi)
            audio += (if (mpeg1) 144000 else 72000) * kbps / sr +
              (if (f % 3 == 0) 1 else 0)
          }
          vbr = seen.size > 1
          val durMs = nf.toLong * spf * 1000 / sr
          (id, if (mpeg1) 1 else 2, sr, modes((id % 4).toInt), nf.toLong,
            durMs, audio, audio * 8 / durMs, vbr,
            if (id % 3 == 0) 10L + 57 + id % 100 else 0L,
            id % 4 == 1, id % 6 == 2,
            if (id % 3 == 0) s"song$id" else "",
            if (id % 3 == 0) s"band${id % 8}" else "")
        }
      rows.toDF("media_id", "mpeg_version", "sample_rate", "channel_mode",
          "n_frames", "duration_ms", "audio_bytes", "bitrate_kbps", "is_vbr",
          "id3_bytes", "has_xing", "has_id3v1", "title", "artist").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_mp3meta")
    }
    fixture("_fixture_tiff") {
      // TIFF replica: plant formulas only (dims 24+id%9 × 16+id%7;
      // channels 1/3/4 by id%3; sample i = (i·31 + i/7 + id·13)%256;
      // II on even ids; compression by id%3: packbits/none/lzw; strips
      // of 5+id%4 rows) — no TIFF round trip anywhere here
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long].collect().sorted.toIndexedSeq
        .map { id =>
          val w = 24 + (id % 9).toInt; val h = 16 + (id % 7).toInt
          val ch = Array(1, 3, 4)((id % 3).toInt)
          val px = Array.tabulate(w * h * ch)(i =>
            ((i * 31 + i / 7 + id * 13) % 256).toByte)
          val rps = 5 + (id % 4).toInt
          (id, if (id % 2 == 0) "II" else "MM",
            (id % 3).toInt match {
              case 0 => "packbits"; case 1 => "none"; case _ => "lzw"
            },
            (h + rps - 1) / rps, 1 + (id % 3).toInt, w, h, ch,
            java.security.MessageDigest.getInstance("MD5")
              .digest(px).map("%02x".format(_)).mkString)
        }
      rows.toDF("media_id", "byte_order", "compression", "n_strips",
          "n_pages", "width", "height", "channels", "pixel_md5").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_tiff")
    }
    fixture("_fixture_avifmeta") {
      // AVIF replica: plant formulas only (brand avif; dims
      // 100+(id%40)·8 × 80+(id%30)·8; av1C except id%5==1; a second
      // ispe on id%4==0) — no ISO-BMFF round trip anywhere here
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long].collect().sorted.toIndexedSeq
        .map { id =>
          (id, "avif", 100 + (id % 40).toInt * 8, 80 + (id % 30).toInt * 8,
            if (id % 4 == 0) 2 else 1, id % 5 != 1)
        }
      rows.toDF("media_id", "brand", "width", "height", "n_ispe",
          "has_av1c").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_avifmeta")
    }
    fixture("_fixture_webmmeta") {
      // WebM replica: plant formulas only (webm DocType, matroska on
      // id%7==0; 1 ms ticks so duration_ms = 5000 + nc%9000; video
      // V_VP9/VP8/AV1 by id%3 at 320+(id%5)·64 × 180+(id%4)·90; audio
      // A_OPUS/A_VORBIS on even ids) — no EBML round trip anywhere here
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "n_chars").as[(Long, Long)].collect()
        .sortBy(_._1).toIndexedSeq
        .flatMap { case (id, nc0) =>
          val nc = math.max(nc0, 0L)
          val doc = if (id % 7 == 0) "matroska" else "webm"
          val durMs = 5000 + nc % 9000
          val apps = ("graft-webm", s"writer${id % 4}")
          val vcodec = (id % 3) match {
            case 1 => "V_VP8"; case 2 => "V_AV1"; case _ => "V_VP9"
          }
          val w = 320 + (id % 5).toInt * 64
          val h = 180 + (id % 4).toInt * 90
          val video = (id, doc, 1000000L, durMs, apps._1, apps._2,
            1L, "video", vcodec, w, h, 0, 0)
          val audio = if (id % 2 == 0)
            Seq((id, doc, 1000000L, durMs, apps._1, apps._2, 2L, "audio",
              if (id % 6 == 0) "A_VORBIS" else "A_OPUS", 0, 0,
              1 + ((id / 2) % 2).toInt, 48000))
          else Nil
          Seq(video) ++ audio
        }
      rows.toDF("media_id", "doc_type", "timescale_ns", "duration_ms",
          "muxing_app", "writing_app", "track_number", "track_type", "codec",
          "width", "height", "channels", "sample_rate").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_webmmeta")
    }
    fixture("_fixture_oggmeta") {
      // Ogg replica: plant formulas only (Opus on even ids with the
      // 48 kHz granule clock and preskip excluded, Vorbis on odd at the
      // media rate; rate 48000/44100/32000 by id%3; samples
      // 96000 + nc·17; pages 2 + 3 + id%4; tags TITLE/ARTIST + ENCODER
      // on id%3==0) — no Ogg round trip anywhere here
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "n_chars").as[(Long, Long)].collect()
        .sortBy(_._1).toIndexedSeq
        .map { case (id, nc0) =>
          val nc = math.max(nc0, 0L)
          val opus = id % 2 == 0
          val sr = Array(48000, 44100, 32000)((id % 3).toInt)
          val total = 96000L + nc * 17
          val durMs = if (opus) total * 1000L / 48000L else total * 1000L / sr
          (id, if (opus) "opus" else "vorbis", 1 + (id % 2).toInt, sr, durMs,
            2L + 3 + id % 4, if (id % 3 == 0) 3 else 2, "graft-ogg",
            s"doc$id", s"corpus${id % 5}")
        }
      rows.toDF("media_id", "codec", "channels", "sample_rate", "duration_ms",
          "n_pages", "n_comments", "vendor", "title", "artist").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_oggmeta")
    }
    fixture("_fixture_flacmeta") {
      // FLAC replica: plant formulas only (samplerate 32000 + (id%3)·8000,
      // channels 1 + id%2, bps 24 on id%3==0 else 16, samples
      // 100000 + nc·31, tags TITLE/ARTIST + GENRE on even ids)
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "n_chars").as[(Long, Long)].collect()
        .sortBy(_._1).toIndexedSeq
        .map { case (id, nc0) =>
          val nc = math.max(nc0, 0L)
          val sr = 32000 + (id % 3).toInt * 8000
          val total = 100000L + nc * 31
          (id, sr, 1 + (id % 2).toInt, if (id % 3 == 0) 24 else 16,
            total, total * 1000 / sr, 4096, 4096,
            if (id % 2 == 0) 3 else 2, "graft-flac", s"doc$id", s"corpus${id % 7}")
        }
      rows.toDF("media_id", "sample_rate", "channels", "bits_per_sample",
          "total_samples", "duration_ms", "min_block", "max_block",
          "n_comments", "vendor", "title", "artist").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_flacmeta")
    }
    // ---- archive tier replicas: member names/sizes/CRCs re-derived
    // from the word plant (three members: words 0,3,6,… / 1,4,7,… /
    // 2,5,8,… as src/part0.txt, src/part1.txt, README.md; zip on even
    // ids with README stored and the rest deflated, ustar tar on
    // id%4==1, tar.gz on id%4==3).
    // CRC-32 and the deflated size come from the same JDK primitives
    // the writer uses — the oracle pins the CONTAINER walk, not zlib.
    lazy val archiveMemberRows: IndexedSeq[(Long, Int, String, String)] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val words = Option(text0).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
          if (words.isEmpty) IndexedSeq.empty
          else {
            val parts = (0 until 3).map { k =>
              words.zipWithIndex.collect { case (w, i) if i % 3 == k => w }
                .mkString(" ")
            }
            Seq("src/part0.txt" -> parts(0), "src/part1.txt" -> parts(1),
              "README.md" -> parts(2)).filter(_._2.nonEmpty)
              .zipWithIndex.map { case ((nm, c), i) => (id, i, nm, c) }
          }
        }
    fixture("_fixture_archent") {
      val rows = archiveMemberRows.map { case (id, i, nm, c) =>
        val bytes = c.getBytes("UTF-8")
        val zip = id % 2 == 0
        val crc = if (zip) {
          val k = new java.util.zip.CRC32(); k.update(bytes); k.getValue
        } else -1L
        val deflated = zip && nm != "README.md"
        val comp =
          if (!zip || !deflated) bytes.length.toLong
          else {
            val d = new java.util.zip.Deflater(
              java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
            d.setInput(bytes); d.finish()
            val o = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            while (!d.finished()) o.write(buf, 0, d.deflate(buf))
            d.end(); o.size().toLong
          }
        val fmt = if (zip) "zip" else if (id % 4 == 1) "tar" else "tgz"
        (id, fmt, i, nm, bytes.length.toLong, comp,
          if (!zip) "tar" else if (deflated) "deflate" else "store", crc)
      }
      rows.toDF("doc_id", "format", "entry_idx", "name", "n_bytes",
          "compressed_bytes", "method", "crc32").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_archent")
    }
    fixture("_fixture_archtext") {
      val rows = archiveMemberRows.map { case (id, _, nm, c) =>
        val words = { val t = c.trim; if (t.isEmpty) 0 else t.split("\\s+").length }
        (id, nm, c, words, c.codePointCount(0, c.length))
      }.sortBy(r => (r._1, r._2))
      rows.toDF("doc_id", "name", "text", "n_words", "n_chars").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_archtext")
    }
    fixture("_fixture_docx") {
      // DOCX replica: text straight from the document words — paragraphs
      // of 6 joined by single spaces, paragraphs joined by '\n' (the
      // plantDocx contract) — no DOCX/zip round trip anywhere here
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val words = Option(text0).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
          if (words.isEmpty) None
          else {
            val text = words.grouped(6).map(_.mkString(" ")).mkString("\n")
            Some((id, text, words.length, text.codePointCount(0, text.length)))
          }
        }
      rows.toDF("doc_id", "text", "n_words", "n_chars").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_docx")
    }
    fixture("_fixture_markdown") {
      // markdown-extraction replica: the expected text IS the normalized
      // word stream (metachars → ',' anywhere, '-'/'+' word-initial —
      // plantMarkdown's pinned convention, inlined here independently)
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val words = Option(text0).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
            .map { w =>
              val c = w.map(ch => if ("*_`#>|![]()".indexOf(ch) >= 0) ',' else ch)
              val d =
                if (c.nonEmpty && (c(0) == '-' || c(0) == '+')) ',' + c.substring(1)
                else c
              // all-digit word + final '.' would read as an ordered-list
              // marker at line start — neutralized to ',' like the metachars
              if (d.length >= 2 && d.last == '.' &&
                  d.init.forall(ch => ch >= '0' && ch <= '9')) d.init + ","
              else d
            }
          if (words.isEmpty) None
          else Some((id, words.mkString(" "), words.length))
        }
      rows.toDF("doc_id", "text", "n_words").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_markdown")
    }
    // ---- PDF tier replicas: page text re-derived STRAIGHT from the
    // document words (groups of 12 per page, lines of 4 joined with \n;
    // chars above U+00FF replaced with '?' — the plantPdf normalization)
    // with NO PDF round trip anywhere in this block.
    lazy val pdfPageRows: IndexedSeq[(Long, Int, String, Int)] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val words = Option(text0).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
            .map(_.map(c => if (c > 0xFF) '?' else c))
          words.grouped(12).zipWithIndex.map { case (pw, i) =>
            val ptxt = pw.grouped(4).map(_.mkString(" ")).mkString("\n")
            (id, i, ptxt, pw.length)
          }
        }
    fixture("_fixture_pdfpages") {
      pdfPageRows.toDF("doc_id", "page_idx", "text", "n_words").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_pdfpages")
    }
    fixture("_fixture_pdfstats") {
      // chars via String.length — equal to code points here because the
      // plant normalization caps every char at U+00FF; producer per the
      // plant (" r2" suffix marks the id%13 incremental-update files)
      val rows = pdfPageRows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (id, ps) =>
          val producer = if (id % 13 == 0) s"graft-pdf $id r2" else s"graft-pdf $id"
          (id, ps.length.toLong, ps.map(_._4.toLong).sum,
            ps.map(_._3.length.toLong).sum, ps.map(_._4).max.toLong, producer)
        }
      rows.toDF("doc_id", "n_pages", "total_words", "total_chars",
          "max_page_words", "producer").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_pdfstats")
    }
    fixture("_fixture_audiowin") {
      // per-window replica (q_multimodal_audio_window_feats' parameters:
      // first 40 docs, 25 ms windows / 10 ms hop at 16 kHz → 400/160)
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .filter(_._1 < 40).sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val xs = Option(text0).getOrElse("").map(c =>
            ((((c.toInt * 1103515245 + 12345) >>> 8) & 0xffff) - 32768))
          val (win, hop) = (400, 160)
          if (xs.length < win) Seq.empty
          else (0 to (xs.length - win) / hop).map { wi =>
            val s0 = wi * hop
            val slice = xs.slice(s0, s0 + win)
            var sumSq = 0.0
            slice.foreach(v => sumSq += v.toDouble * v.toDouble)
            val signs = slice.map(v => Integer.signum(v)).filter(_ != 0)
            val zc = signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
            (id, wi.toLong, s0.toLong, (s0 + win).toLong,
              round6(math.sqrt(sumSq / win) / 32768.0),
              slice.map(math.abs).max,
              zc,
              round6(slice.count(v => math.abs(v) < 328).toDouble / win),
              round6(slice.count(v => math.abs(v) >= 32440).toDouble / win))
          }
        }
      rows.toDF("media_id", "window_idx", "start_sample", "end_sample",
          "rms", "peak", "zero_crossings", "silence_ratio", "clipping_ratio")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_audiowin")
    }
    // independent radix-2 FFT written from the pinned spec in
    // Multimodal.fftInPlace's doc comment — bit-reversal via
    // Integer.reverse index math instead of the engine's carry walk
    // (same permutation), for-comprehension butterflies (same
    // arithmetic order) → bit-identical doubles by construction.
    // Shared by the spectral-feature and fingerprint replicas.
    def fftRef(re: Array[Double], im: Array[Double]): Unit = {
      val n = re.length
      val bits = Integer.numberOfTrailingZeros(n)
      for (i <- 0 until n) {
        val j = Integer.reverse(i) >>> (32 - bits)
        if (i < j) {
          val tr = re(i); re(i) = re(j); re(j) = tr
          val ti = im(i); im(i) = im(j); im(j) = ti
        }
      }
      var len = 2
      while (len <= n) {
        for (s <- 0 until n by len; k <- 0 until len / 2) {
          val ang = -2.0 * math.Pi * k / len
          val wr = math.cos(ang); val wi = math.sin(ang)
          val b = s + k + len / 2
          val tr = wr * re(b) - wi * im(b)
          val ti = wr * im(b) + wi * re(b)
          re(b) = re(s + k) - tr; im(b) = im(s + k) - ti
          re(s + k) += tr; im(s + k) += ti
        }
        len <<= 1
      }
    }
    // planted samples → per-window 32-band energies (bins 1..N/2 of the
    // next-pow2 spectrum, N/64 ascending bins per band) — the
    // fingerprint replica's spectral stage
    def bandsRef(xs: Array[Int], s0: Int, win: Int, fftN: Int): Array[Double] = {
      val re = new Array[Double](fftN); val im = new Array[Double](fftN)
      for (i <- 0 until win) re(i) = xs(s0 + i) / 32768.0
      fftRef(re, im)
      val pb = fftN / 2 / 32
      Array.tabulate(32) { m =>
        var s = 0.0
        for (k <- (1 + m * pb) until (1 + (m + 1) * pb)) s += re(k) * re(k) + im(k) * im(k)
        s
      }
    }
    // per-clip Haitsma–Kalker fingerprints from planted samples (bit m =
    // sign of the band double difference vs the previous window)
    def fpsRef(xs: Array[Int], win: Int, hop: Int, fftN: Int): Seq[(Long, Long)] =
      if (xs.length < win) Seq.empty
      else {
        val nWin = (xs.length - win) / hop + 1
        val bands = (0 until nWin).map(wi => bandsRef(xs, wi * hop, win, fftN))
        (1 until nWin).map { wi =>
          var fp = 0L
          for (m <- 0 until 31)
            if ((bands(wi)(m) - bands(wi)(m + 1)) -
                (bands(wi - 1)(m) - bands(wi - 1)(m + 1)) > 0) fp |= (1L << m)
          (wi.toLong, fp)
        }
      }
    fixture("_fixture_audiofft") {
      // spectral replica (q_multimodal_audio_fft's parameters: first 40
      // docs, 25 ms/10 ms at 16 kHz → win 400, hop 160, fft 512)
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .filter(_._1 < 40).sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          val xs = Option(text0).getOrElse("").map(c =>
            ((((c.toInt * 1103515245 + 12345) >>> 8) & 0xffff) - 32768))
          val (win, hop, fftN, rate) = (400, 160, 512, 16000)
          if (xs.length < win) Seq.empty
          else (0 to (xs.length - win) / hop).map { wi =>
            val s0 = wi * hop
            val re = new Array[Double](fftN); val im = new Array[Double](fftN)
            for (i <- 0 until win) re(i) = xs(s0 + i) / 32768.0
            fftRef(re, im)
            // bins 0..N/2 ascending; centroid/flatness exclude DC
            var magSum = 0.0; var magW = 0.0; var pSum = 0.0
            var logSum = 0.0; var epsSum = 0.0
            for (k <- 0 to fftN / 2) {
              val p = re(k) * re(k) + im(k) * im(k)
              pSum += p
              if (k >= 1) {
                val m = math.sqrt(p)
                magSum += m; magW += (k.toDouble * rate / fftN) * m
                logSum += math.log(p + 1e-12); epsSum += p + 1e-12
              }
            }
            val centroid = if (magSum == 0.0) 0.0 else magW / magSum
            var rolloff = 0.0
            if (pSum > 0.0) {
              val target = 0.85 * pSum
              var acc = 0.0; var kk = 0; var found = false
              while (kk <= fftN / 2 && !found) {
                acc += re(kk) * re(kk) + im(kk) * im(kk)
                if (acc >= target) { rolloff = kk.toDouble * rate / fftN; found = true }
                kk += 1
              }
            }
            val flat = math.exp(logSum / (fftN / 2)) / (epsSum / (fftN / 2))
            (id, wi.toLong, s0.toLong, (s0 + win).toLong, fftN,
              round6(centroid), round6(rolloff), round6(flat))
          }
        }
      rows.toDF("media_id", "window_idx", "start_sample", "end_sample",
          "fft_n", "spectral_centroid_hz", "spectral_rolloff_hz",
          "spectral_flatness").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_audiofft")
    }
    // planted LCG samples for the fingerprint replicas (same formula as
    // _fixture_audio)
    def plantedSamples(text0: String): Array[Int] =
      Option(text0).getOrElse("").toCharArray.map(c =>
        ((((c.toInt * 1103515245 + 12345) >>> 8) & 0xffff) - 32768))
    fixture("_fixture_audiofp") {
      // 16 ms/8 ms at 16 kHz → win 256, hop 128, fft 256
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .filter(_._1 < 200).sortBy(_._1).toIndexedSeq
        .flatMap { case (id, text0) =>
          fpsRef(plantedSamples(text0), 256, 128, 256)
            .map { case (wi, fp) => (id, wi, fp) }
        }
      rows.toDF("media_id", "window_idx", "fingerprint").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_audiofp")
    }
    fixture("_fixture_audiodups") {
      // q_dedup_audio's corpus: first 200 docs + an amplitude-scaled copy
      // (samples × 9 / 10, toward-zero, id + 10^7) of every other one;
      // pairs by brute force — clips sharing >= 2 equal (window_idx,
      // fingerprint) positions
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .filter(_._1 < 200).sortBy(_._1).toIndexedSeq
      val clips =
        docs.map { case (id, t0) => (id, plantedSamples(t0)) } ++
        docs.filter(_._1 % 2 == 0).map { case (id, t0) =>
          (id + 10000000L,
            plantedSamples(t0).map(v => (v.toShort * 9 / 10).toShort.toInt))
        }
      val fps = clips.map { case (id, xs) =>
        (id, fpsRef(xs, 256, 128, 256).toSet) }
        .sortBy(_._1)
      val pairs = for {
        i <- fps.indices; j <- (i + 1) until fps.size
        m = (fps(i)._2 & fps(j)._2).size if m >= 2
      } yield (fps(i)._1, fps(j)._1, m.toLong)
      pairs.toDF("a", "b", "matched_windows").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_audiodups")
    }
    fixture("_fixture_videodups") {
      // q_dedup_video's corpus: base clips + a +3-brightness variant for
      // each 5th doc; frame pHashes by the pinned chain (stride 2), then
      // brute-force frame pairing at hamming <= 3 across DIFFERENT clips
      // with both-side distinct-matched counts
      val metaRows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
      def framePx(id: Long, f: Int, w: Int, h: Int, shift: Int): Array[Byte] =
        Array.tabulate(w * h * 3) { i =>
          var z = (id * 1000003L + f) * 0x9E3779B97F4A7C15L +
            i.toLong * 0xBF58476D1CE4E5B9L
          z ^= (z >>> 31); z *= 0x94D049BB133111EBL
          math.min(255, ((z >>> 40) & 0xff).toInt + shift).toByte
        }
      def clipHashes(vid: Long, base: Long, nChars: Int, shift: Int)
        : (Long, IndexedSeq[(Int, Long)]) = {
        val w = 4 + (base % 9).toInt; val h = 3 + (nChars % 7)
        val nf = (base % 5 + 2).toInt
        (vid, (0 until nf by 2).map(f =>
          (f, pHashRef(w, h, framePx(base, f, w, h, shift)))))
      }
      val clips =
        metaRows.map { case (id, nc) => clipHashes(id, id, nc, 0) } ++
        metaRows.filter(_._1 % 5 == 0).map { case (id, nc) =>
          clipHashes(id + 10000000L, id, nc, 3)
        }
      val sorted = clips.sortBy(_._1)
      val rows = for {
        i <- sorted.indices; j <- (i + 1) until sorted.size
        (va, fa) = sorted(i); (vb, fb) = sorted(j)
        hits = for {
          (fia, ha) <- fa; (fib, hb) <- fb
          if java.lang.Long.bitCount(ha ^ hb) <= 3
        } yield (fia, fib)
        if hits.nonEmpty
        ma = hits.map(_._1).distinct.size.toLong
        mb = hits.map(_._2).distinct.size.toLong
        if ma >= 1 && mb >= 1
      } yield (va, vb, ma, mb, fa.size, fb.size)
      rows.toDF("a", "b", "matched_a", "matched_b", "n_a", "n_b").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_videodups")
    }
    fixture("_fixture_audiors") {
      // resample replica (q_multimodal_audio_resample's parameters:
      // 16000 → 11025): exact rational positions k·src/target, linear
      // interpolation, floor(v+0.5) round, short clamp — then the same
      // signal measures as _fixture_audio over the converted samples
      val (src, tgt) = (16000, 11025)
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).toIndexedSeq
        .map { case (id, text0) =>
          val xs = Option(text0).getOrElse("").map(c =>
            ((((c.toInt * 1103515245 + 12345) >>> 8) & 0xffff) - 32768))
          val n = xs.length
          val nOut = (n.toLong * tgt / src).toInt
          val out = IndexedSeq.tabulate(nOut) { k =>
            val num = k.toLong * src
            val i0 = (num / tgt).toInt
            val frac = (num % tgt).toDouble / tgt
            val x0 = xs(i0).toDouble
            val x1 = xs(math.min(i0 + 1, n - 1)).toDouble
            val v = math.floor(x0 + (x1 - x0) * frac + 0.5)
            math.max(-32768.0, math.min(32767.0, v)).toInt
          }
          var sumSq = 0.0; var peak = 0; var silent = 0; var clipped = 0
          out.foreach { v =>
            val av = math.abs(v)
            sumSq += v.toDouble * v.toDouble
            if (av > peak) peak = av
            if (av < 328) silent += 1
            if (av >= 32440) clipped += 1
          }
          (id, tgt, nOut,
            if (nOut == 0) 0L else nOut.toLong * 1000000L / tgt,
            if (nOut == 0) 0.0 else round6(math.sqrt(sumSq / nOut) / 32768.0),
            peak,
            if (nOut == 0) 0.0 else round6(silent.toDouble / nOut),
            if (nOut == 0) 0.0 else round6(clipped.toDouble / nOut))
        }
      rows.toDF("media_id", "sample_rate", "n_samples", "duration_us",
          "rms", "peak", "silence_ratio", "clipping_ratio").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_audiors")
    }
    // ── image replicas: re-derive the planted pixels from the documented
    // formulas (splitmix mix of (doc_id, index); dims 4+(id%29) ×
    // 3+(n_chars%23); RGB) and re-measure independently — NO PNG round
    // trip here, so oracle agreement proves the engine's encode∘decode
    // (all five rotating scanline filters) is the identity
    def imgPlant(spark: SparkSession): IndexedSeq[(Long, Int, Int, Array[Byte])] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
        .map { case (id, nChars) =>
          val w = 4 + (id % 29).toInt; val h = 3 + (nChars % 23)
          val px = Array.tabulate(w * h * 3) { i =>
            var z = id * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
            z ^= (z >>> 31); z *= 0x94D049BB133111EBL
            ((z >>> 40) & 0xff).toByte
          }
          (id, w, h, px)
        }
    // the pinned feature arithmetic (row-major accumulation, 6-dp LAST):
    // (mean_r, mean_g, mean_b, var_r, var_g, var_b, luma_mean, edge_density);
    // ch == 1 broadcasts the one gray channel into all three slots (the
    // engine's documented contract)
    def imgStats(w: Int, h: Int, px: Array[Byte], ch: Int = 3): Array[Double] = {
      val n = w * h
      val sum = new Array[Double](3); val sumSq = new Array[Double](3)
      var lumaSum = 0.0
      val luma = new Array[Int](n)
      var i = 0
      while (i < n) {
        def at(slot: Int) = if (ch == 1) px(i) & 0xff else px(i * ch + slot) & 0xff
        val r = at(0); val g = at(1); val b = at(2)
        sum(0) += r; sum(1) += g; sum(2) += b
        sumSq(0) += r.toDouble * r; sumSq(1) += g.toDouble * g; sumSq(2) += b.toDouble * b
        val lm = 299 * r + 587 * g + 114 * b
        luma(i) = lm; lumaSum += lm / 1000.0
        i += 1
      }
      var edges = 0L
      if (w > 2 && h > 2)
        for (y <- 1 until h - 1; x <- 1 until w - 1) {
          val gx = math.abs(luma(y * w + x + 1) - luma(y * w + x - 1))
          val gy = math.abs(luma((y + 1) * w + x) - luma((y - 1) * w + x))
          if (gx + gy > 32000) edges += 1
        }
      val interior = (w - 2).toLong * (h - 2).toLong
      Array(round6(sum(0) / n), round6(sum(1) / n), round6(sum(2) / n),
        round6(sumSq(0) / n - (sum(0) / n) * (sum(0) / n)),
        round6(sumSq(1) / n - (sum(1) / n) * (sum(1) / n)),
        round6(sumSq(2) / n - (sum(2) / n) * (sum(2) / n)),
        round6(lumaSum / n),
        if (interior <= 0) 0.0 else round6(edges.toDouble / interior))
    }
    // ---- WebP replicas: route/dims/pixels re-derived from the plant
    // formulas (Webp.plantRoute/plantDims/plantArgb scaladoc is the
    // spec) with NO WebP round trip anywhere in this block.
    def webpDims(id: Long) = (20 + (id % 9).toInt, 14 + (id % 7).toInt)
    def webpAlpha(id: Long) = id % 7 != 0 && id % 4 == 0
    def webpPixels(id: Long): Array[Int] = {
      val (w, h) = webpDims(id)
      if (id % 7 == 0) {
        val n = 2 + (id % 15).toInt
        val pal = Array.tabulate(n)(c =>
          0xff000000 | (((c * 37 + id) % 256).toInt << 16) |
            (((c * 91 + 3 * id) % 256).toInt << 8) | ((c * 53 + 7 * id) % 256).toInt)
        Array.tabulate(w * h)(i => pal(((i * 7 + i / w + id) % n).toInt))
      } else {
        val alpha = id % 4 == 0
        Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          val r = ((x * 7 + y * 3 + id) % 256).toInt
          val g = ((x * 3 + y * 11 + id * 5) % 256).toInt
          val b = ((x * 13 + y * 5 + id * 7) % 256).toInt
          val a = if (alpha && (x + y + id) % 3 == 0) 200 + (x % 55) else 255
          (a << 24) | (r << 16) | (g << 8) | b
        }
      }
    }
    fixture("_fixture_webpmeta") {
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long].collect().sorted.toIndexedSeq
        .map { id =>
          val (w, h) = webpDims(id)
          if (id % 11 == 5)
            (id, "vp8", w, h, false, false, 1L, false, false)
          else if (id % 11 == 7)
            (id, "vp8x+anim", w, h, webpAlpha(id), true, 2L + id % 3, false, false)
          else if (id % 9 == 4)
            (id, "vp8x+vp8l", w, h, webpAlpha(id), false, 1L, true, false)
          else
            (id, "vp8l", w, h, webpAlpha(id), false, 1L, false, false)
        }
      rows.toDF("media_id", "format", "width", "height", "has_alpha",
          "is_animated", "n_frames", "has_exif", "has_icc").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_webpmeta")
    }
    fixture("_fixture_webppx") {
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long].collect().sorted.toIndexedSeq
        .filter(id => id % 11 != 5 && id % 11 != 7)
        .map { id =>
          val (w, h) = webpDims(id)
          val argb = webpPixels(id)
          val ch = if (webpAlpha(id)) 4 else 3
          val px = new Array[Byte](w * h * ch)
          argb.zipWithIndex.foreach { case (p, i) =>
            px(i * ch) = ((p >> 16) & 0xff).toByte
            px(i * ch + 1) = ((p >> 8) & 0xff).toByte
            px(i * ch + 2) = (p & 0xff).toByte
            if (ch == 4) px(i * ch + 3) = ((p >>> 24) & 0xff).toByte
          }
          (id, w, h, ch, java.security.MessageDigest.getInstance("MD5")
            .digest(px).map("%02x".format(_)).mkString)
        }
      rows.toDF("media_id", "width", "height", "channels", "pixel_md5").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_webppx")
    }
    fixture("_fixture_webpvideo") {
      // animated-WebP replica: per-frame pixels straight from the plant
      // formulas (canvas = webpDims; nf = 2 + id%4; frame f pixel
      // gradients with the 11f/7f/3f shifts; µs/frame = first duration
      // (30 + (id%5)·10 ms) ·1000) — no WebP round trip anywhere here
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long].collect().sorted.toIndexedSeq
        .flatMap { id =>
          val (w, h) = webpDims(id)
          val nf = 2 + (id % 4).toInt
          val uspf = (30 + (id % 5).toInt * 10) * 1000
          (0 until nf).map { f =>
            val rgb = new Array[Byte](w * h * 3)
            var i = 0
            while (i < w * h) {
              val x = i % w; val y = i / w
              rgb(i * 3) = (((x * 7 + y * 3 + id + 11 * f) % 256) & 0xff).toByte
              rgb(i * 3 + 1) = (((x * 3 + y * 11 + id * 5 + 7 * f) % 256) & 0xff).toByte
              rgb(i * 3 + 2) = (((x * 13 + y * 5 + id * 7 + 3 * f) % 256) & 0xff).toByte
              i += 1
            }
            (id, f, w, h, uspf, java.security.MessageDigest.getInstance("MD5")
              .digest(rgb).map("%02x".format(_)).mkString)
          }
        }
      rows.toDF("media_id", "frame_idx", "width", "height", "us_per_frame",
          "pixel_md5").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_webpvideo")
    }
    fixture("_fixture_imgfeat") {
      val rows = imgPlant(spark).map { case (id, w, h, px) =>
        val f = imgStats(w, h, px)
        (id, s"img/${id % 3}", w, h, 3,
          f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
      }
      rows.toDF("media_id", "kind", "width", "height", "channels",
          "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b",
          "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_imgfeat")
    }
    fixture("_fixture_imgpng") {
      val rows = imgPlant(spark).map { case (id, w, h, px) =>
        (id, w, h, java.security.MessageDigest.getInstance("MD5")
          .digest(px).map("%02x".format(_)).mkString)
      }
      rows.toDF("media_id", "width", "height", "pixel_md5").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_imgpng")
    }
    fixture("_fixture_imgresize") {
      // q_multimodal_resize's parameters: fit 16×16 box, bilinear with
      // half-pixel centers, round half-up, clamp — independent replica
      val rows = imgPlant(spark).map { case (id, w, h, px) =>
        val scale = math.min(math.min(16.0 / w, 16.0 / h), 1.0)
        val tw = math.max(1, math.floor(w * scale).toInt)
        val th = math.max(1, math.floor(h * scale).toInt)
        val out =
          if (tw == w && th == h) px
          else Array.tabulate(tw * th * 3) { oi =>
            val c = oi % 3; val opix = oi / 3
            val ox = opix % tw; val oy = opix / tw
            val sy = (oy + 0.5) * h / th - 0.5
            val y0 = math.max(0, math.min(h - 1, math.floor(sy).toInt))
            val y1 = math.min(h - 1, y0 + 1)
            val fy = math.max(0.0, sy - y0)
            val sx = (ox + 0.5) * w / tw - 0.5
            val x0 = math.max(0, math.min(w - 1, math.floor(sx).toInt))
            val x1 = math.min(w - 1, x0 + 1)
            val fx = math.max(0.0, sx - x0)
            def at(yy: Int, xx: Int) = px((yy * w + xx) * 3 + c) & 0xff
            val top = at(y0, x0) + (at(y0, x1) - at(y0, x0)) * fx
            val bot = at(y1, x0) + (at(y1, x1) - at(y1, x0)) * fx
            val v = math.floor(top + (bot - top) * fy + 0.5)
            math.max(0.0, math.min(255.0, v)).toInt.toByte
          }
        val f = imgStats(tw, th, out)
        (id, tw, th, f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
      }
      rows.toDF("media_id", "width", "height", "mean_r", "mean_g", "mean_b",
          "var_r", "var_g", "var_b", "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_imgresize")
    }
    // pinned pHash replica — the chain in Multimodal.imagePHash's doc
    // comment re-derived with no engine code: integer gray, half-pixel
    // bilinear to 32×32 (explicit per-pixel tabulate, not the engine's
    // resize), separable DCT-II rows-then-columns in ascending order,
    // 63-AC median (sorted element 31), bit u·8+v, DC bit 0
    def pHashRef(w: Int, h: Int, px: Array[Byte]): Long = {
      val gray = Array.tabulate(w * h) { i =>
        val r = px(i * 3) & 0xff; val g = px(i * 3 + 1) & 0xff
        val b = px(i * 3 + 2) & 0xff
        math.min(255, (299 * r + 587 * g + 114 * b + 500) / 1000)
      }
      val small = Array.tabulate(32 * 32) { oi =>
        val ox = oi % 32; val oy = oi / 32
        val sy = (oy + 0.5) * h / 32 - 0.5
        val y0 = math.max(0, math.min(h - 1, math.floor(sy).toInt))
        val y1 = math.min(h - 1, y0 + 1)
        val fy = math.max(0.0, sy - y0)
        val sx = (ox + 0.5) * w / 32 - 0.5
        val x0 = math.max(0, math.min(w - 1, math.floor(sx).toInt))
        val x1 = math.min(w - 1, x0 + 1)
        val fx = math.max(0.0, sx - x0)
        val top = gray(y0 * w + x0) + (gray(y0 * w + x1) - gray(y0 * w + x0)) * fx
        val bot = gray(y1 * w + x0) + (gray(y1 * w + x1) - gray(y1 * w + x0)) * fx
        val v = math.floor(top + (bot - top) * fy + 0.5)
        math.max(0.0, math.min(255.0, v)).toInt
      }
      val rowPass = Array.tabulate(32, 8) { (y, u) =>
        var s = 0.0
        for (x <- 0 until 32)
          s += small(y * 32 + x) * math.cos((2 * x + 1) * u * math.Pi / 64)
        s
      }
      val coef = Array.tabulate(8, 8) { (u, v) =>
        var s = 0.0
        for (y <- 0 until 32)
          s += rowPass(y)(u) * math.cos((2 * y + 1) * v * math.Pi / 64)
        s
      }
      val flat = Array.tabulate(64)(k => coef(k / 8)(k % 8))
      val median = flat.indices.filter(_ != 0).map(flat).sorted.apply(31)
      (1 until 64).foldLeft(0L)((acc, k) =>
        if (flat(k) > median) acc | (1L << k) else acc)
    }
    fixture("_fixture_phash") {
      val rows = imgPlant(spark).map { case (id, w, h, px) =>
        (id, pHashRef(w, h, px))
      }
      rows.toDF("media_id", "phash").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_phash")
    }
    fixture("_fixture_phashpairs") {
      // q_dedup_phash's corpus: every base image plus a +3-clamped
      // brightness variant for each 5th doc (id + 10^7); pairs by BRUTE
      // FORCE at hamming ≤ 3 — the engine's pigeonhole join must find
      // exactly these (exactness of the chunk cover, not approximation)
      val base = imgPlant(spark).map { case (id, w, h, px) => (id, pHashRef(w, h, px)) }
      val vars = imgPlant(spark).filter(_._1 % 5 == 0).map { case (id, w, h, px) =>
        val shifted = px.map(p => math.min(255, (p & 0xff) + 3).toByte)
        (id + 10000000L, pHashRef(w, h, shifted))
      }
      val all = (base ++ vars).sortBy(_._1)
      val pairs = for {
        i <- all.indices; j <- (i + 1) until all.size
        d = java.lang.Long.bitCount(all(i)._2 ^ all(j)._2) if d <= 3
      } yield (all(i)._1, all(j)._1, d)
      pairs.toDF("a", "b", "hamming").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_phashpairs")
    }
    fixture("_fixture_phashgroups") {
      // union-find over the SAME brute-force pair derivation as
      // _fixture_phashpairs; label = component minimum id
      val base = imgPlant(spark).map { case (id, w, h, px) => (id, pHashRef(w, h, px)) }
      val vars = imgPlant(spark).filter(_._1 % 5 == 0).map { case (id, w, h, px) =>
        val shifted = px.map(p => math.min(255, (p & 0xff) + 3).toByte)
        (id + 10000000L, pHashRef(w, h, shifted))
      }
      val all = (base ++ vars).sortBy(_._1)
      val parent = scala.collection.mutable.Map(all.map(a => a._1 -> a._1): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      for {
        i <- all.indices; j <- (i + 1) until all.size
        if java.lang.Long.bitCount(all(i)._2 ^ all(j)._2) <= 3
      } {
        val (ra, rb) = (find(all(i)._1), find(all(j)._1))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = all.map(a => (a._1, find(a._1)))
      rows.toDF("media_id", "group_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_phashgroups")
    }
    // ── JPEG replica: decode∘encode re-derived as a pure pixel→pixel
    // function per Jpeg.scala's pinned determinism contract — color
    // convert, optional 4:2:0 downsample, MCU-grid padding, FDCT →
    // quantize (Annex-K tables under IJG quality scaling) → dequantize →
    // IDCT per 8×8 block, replication upsample, convert back. NO entropy
    // coding and NO markers here, so oracle agreement proves the engine's
    // Huffman/DRI/marker layer is the identity on quantized coefficients.
    val jBaseL = Array(
      16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
      14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
      18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
      49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99)
    val jBaseC = Array(
      17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
      24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99)
    def jpegRoundTripRef(w: Int, h: Int, ch: Int, px: Array[Byte],
                         quality: Int, subsample: Boolean): Array[Byte] = {
      def clamp(v: Int) = math.max(0, math.min(255, v))
      val scale = if (quality < 50) 5000 / quality else 200 - 2 * quality
      def qt(base: Array[Int]) =
        base.map(b => math.max(1, math.min(255, (b * scale + 50) / 100)))
      val qL = qt(jBaseL); val qC = qt(jBaseC)
      val n = w * h
      val yP = new Array[Int](n)
      val cbP = new Array[Int](n); val crP = new Array[Int](n)
      var i = 0
      while (i < n) {
        if (ch == 1) yP(i) = px(i) & 0xff
        else {
          val r = px(i * 3) & 0xff; val g = px(i * 3 + 1) & 0xff; val b = px(i * 3 + 2) & 0xff
          yP(i) = clamp(math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5).toInt)
          cbP(i) = clamp(math.floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5).toInt)
          crP(i) = clamp(math.floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5).toInt)
        }
        i += 1
      }
      val sub = subsample && ch == 3
      def down(src: Array[Int]): (Array[Int], Int, Int) = {
        val cw = (w + 1) / 2; val chh = (h + 1) / 2
        val out = new Array[Int](cw * chh)
        var cy = 0
        while (cy < chh) {
          var cx = 0
          while (cx < cw) {
            val x0 = 2 * cx; val x1 = math.min(2 * cx + 1, w - 1)
            val y0 = 2 * cy; val y1 = math.min(2 * cy + 1, h - 1)
            out(cy * cw + cx) = (src(y0 * w + x0) + src(y0 * w + x1) +
              src(y1 * w + x0) + src(y1 * w + x1) + 2) / 4
            cx += 1
          }
          cy += 1
        }
        (out, cw, chh)
      }
      // (plane, pw, ph, hf, vf, quant)
      val comps: Seq[(Array[Int], Int, Int, Int, Int, Array[Int])] =
        if (ch == 1) Seq((yP, w, h, 1, 1, qL))
        else if (!sub) Seq((yP, w, h, 1, 1, qL), (cbP, w, h, 1, 1, qC), (crP, w, h, 1, 1, qC))
        else {
          val (cb, cw, chh) = down(cbP); val (cr, _, _) = down(crP)
          Seq((yP, w, h, 2, 2, qL), (cb, cw, chh, 1, 1, qC), (cr, cw, chh, 1, 1, qC))
        }
      val hMax = comps.map(_._4).max; val vMax = comps.map(_._5).max
      val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
      val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
      val outPlanes = comps.map { case (plane, pw, ph, hf, vf, q) =>
        val padW = mcusX * hf * 8; val padH = mcusY * vf * 8
        val out = new Array[Int](padW * padH)
        var bR = 0
        while (bR < padH / 8) {
          var bC = 0
          while (bC < padW / 8) {
            val coefs = new Array[Int](64)
            var v = 0
            while (v < 8) {
              var u = 0
              while (u < 8) {
                var sum = 0.0
                var y = 0
                while (y < 8) {
                  val cy = math.cos((2 * y + 1) * v * math.Pi / 16)
                  var x = 0
                  while (x < 8) {
                    val s = plane(math.min(bR * 8 + y, ph - 1) * pw +
                      math.min(bC * 8 + x, pw - 1)) - 128
                    sum += s * cy * math.cos((2 * x + 1) * u * math.Pi / 16)
                    x += 1
                  }
                  y += 1
                }
                val au = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
                val av = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
                val c = 0.25 * au * av * sum
                coefs(v * 8 + u) = math.floor(c / q(v * 8 + u) + 0.5).toInt
                u += 1
              }
              v += 1
            }
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                var sum = 0.0
                var vv = 0
                while (vv < 8) {
                  val cy = math.cos((2 * y + 1) * vv * math.Pi / 16)
                  var u = 0
                  while (u < 8) {
                    val au = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
                    val av = if (vv == 0) 1.0 / math.sqrt(2.0) else 1.0
                    val dq = coefs(vv * 8 + u).toDouble * q(vv * 8 + u)
                    sum += 0.25 * au * av * dq * math.cos((2 * x + 1) * u * math.Pi / 16) * cy
                    u += 1
                  }
                  vv += 1
                }
                out((bR * 8 + y) * padW + bC * 8 + x) = clamp(math.floor(sum + 128.5).toInt)
                x += 1
              }
              y += 1
            }
            bC += 1
          }
          bR += 1
        }
        (out, padW, hf, vf)
      }
      val outPx = new Array[Byte](w * h * ch)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          if (ch == 1) outPx(y * w + x) = outPlanes(0)._1(y * outPlanes(0)._2 + x).toByte
          else {
            def samp(ci: Int): Int = {
              val (pl, padW, hf, vf) = outPlanes(ci)
              pl((y * vf / vMax) * padW + (x * hf / hMax))
            }
            val yv = samp(0); val cb = samp(1); val cr = samp(2)
            val o = (y * w + x) * 3
            outPx(o) = clamp(math.floor(yv + 1.402 * (cr - 128) + 0.5).toInt).toByte
            outPx(o + 1) = clamp(math.floor(
              yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt).toByte
            outPx(o + 2) = clamp(math.floor(yv + 1.772 * (cb - 128) + 0.5).toInt).toByte
          }
          x += 1
        }
        y += 1
      }
      outPx
    }
    // the planted JPEG parameters (Multimodal.jpegPlantParams spec):
    // gray for id%3==0 else RGB; 4:2:0 when id%3==2; quality 35+(id%13)·5;
    // (the restart interval affects only the wire, never the pixels)
    def jpegPlant(spark: SparkSession): IndexedSeq[(Long, Int, Int, Int, Array[Byte])] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
        .map { case (id, nChars) =>
          val w = 4 + (id % 29).toInt; val h = 3 + (nChars % 23)
          val ch = if (id % 3 == 0) 1 else 3
          val px = Array.tabulate(w * h * ch) { i =>
            var z = id * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
            z ^= (z >>> 31); z *= 0x94D049BB133111EBL
            ((z >>> 40) & 0xff).toByte
          }
          val quality = 35 + (id % 13).toInt * 5
          val decoded = jpegRoundTripRef(w, h, ch, px, quality, subsample = id % 3 == 2)
          (id, w, h, ch, decoded)
        }
    fixture("_fixture_jpegfeat") {
      val rows = jpegPlant(spark).map { case (id, w, h, ch, px) =>
        val f = imgStats(w, h, px, ch)
        (id, s"jpg/${id % 3}", w, h, ch,
          f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
      }
      rows.toDF("media_id", "kind", "width", "height", "channels",
          "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b",
          "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_jpegfeat")
    }
    fixture("_fixture_jpegpix") {
      val rows = jpegPlant(spark).map { case (id, w, h, ch, px) =>
        (id, w, h, ch, java.security.MessageDigest.getInstance("MD5")
          .digest(px).map("%02x".format(_)).mkString)
      }
      rows.toDF("media_id", "width", "height", "channels", "pixel_md5").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_jpegpix")
    }
    fixture("_fixture_phashcross") {
      // q_dedup_phash_cross's corpus: PNG originals ∪ JPEG twins of the
      // SAME planted RGB pixels (quality 90, 4:4:4, id + 10^7); pairs by
      // brute force at hamming ≤ 10 WITHIN a (width, height) block —
      // the blocked pigeonhole join must find exactly these (codec
      // twins always share decoded dims; the block key is what keeps
      // the radius-10 join linear at scale)
      val base = imgPlant(spark).map { case (id, w, h, px) =>
        (id, w, h, pHashRef(w, h, px)) }
      val twins = imgPlant(spark).map { case (id, w, h, px) =>
        val jpx = jpegRoundTripRef(w, h, 3, px, 90, subsample = false)
        (id + 10000000L, w, h, pHashRef(w, h, jpx))
      }
      // WebP lossless twins (id%6==1, id + 2·10^7): byte-identical
      // pixels, so the hash is the BASE hash — no WebP round trip here
      val webpTwins = imgPlant(spark)
        .filter { case (id, _, _, _) => id % 6 == 1 }
        .map { case (id, w, h, px) => (id + 20000000L, w, h, pHashRef(w, h, px)) }
      val all = (base ++ twins ++ webpTwins).sortBy(_._1)
      val pairs = for {
        i <- all.indices; j <- (i + 1) until all.size
        if all(i)._2 == all(j)._2 && all(i)._3 == all(j)._3
        d = java.lang.Long.bitCount(all(i)._4 ^ all(j)._4) if d <= 10
      } yield (all(i)._1, all(j)._1, d)
      pairs.toDF("a", "b", "hamming").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_phashcross")
    }
    fixture("_fixture_videodupscross") {
      // q_dedup_video_cross's corpus: base clips + an MJPEG q95 twin for
      // each 5th doc (id + 2·10⁷). The twin's frames pass through the
      // closed-form JPEG round trip (jpegRoundTripRef == the engine's
      // decode∘encode on pixels, proven by the MJPEG feature gate)
      // before the pinned pHash — so the pair set is exact by
      // construction, whatever q95 does to individual hash bits
      val metaRows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
      def framePx(id: Long, f: Int, w: Int, h: Int): Array[Byte] =
        Array.tabulate(w * h * 3) { i =>
          var z = (id * 1000003L + f) * 0x9E3779B97F4A7C15L +
            i.toLong * 0xBF58476D1CE4E5B9L
          z ^= (z >>> 31); z *= 0x94D049BB133111EBL
          ((z >>> 40) & 0xff).toByte
        }
      def clipHashes(vid: Long, base: Long, nChars: Int, mjpeg: Boolean)
        : (Long, Int, Int, IndexedSeq[(Int, Long)]) = {
        val w = 4 + (base % 9).toInt; val h = 3 + (nChars % 7)
        val nf = (base % 5 + 2).toInt
        (vid, w, h, (0 until nf by 2).map { f =>
          val px = framePx(base, f, w, h)
          val seen = if (mjpeg) jpegRoundTripRef(w, h, 3, px, 95, subsample = false) else px
          (f, pHashRef(w, h, seen))
        })
      }
      val clips =
        metaRows.map { case (id, nc) => clipHashes(id, id, nc, mjpeg = false) } ++
        metaRows.filter(_._1 % 5 == 0).map { case (id, nc) =>
          clipHashes(id + 20000000L, id, nc, mjpeg = true)
        }
      val sorted = clips.sortBy(_._1)
      // pairs require equal frame dims — the blocking key the engine's
      // radius-10 join uses (codec twins always share them)
      val rows = for {
        i <- sorted.indices; j <- (i + 1) until sorted.size
        (va, wa, ha0, fa) = sorted(i); (vb, wb, hb0, fb) = sorted(j)
        if wa == wb && ha0 == hb0
        hits = for {
          (fia, ha) <- fa; (fib, hb) <- fb
          if java.lang.Long.bitCount(ha ^ hb) <= 10
        } yield (fia, fib)
        if hits.nonEmpty
        ma = hits.map(_._1).distinct.size.toLong
        mb = hits.map(_._2).distinct.size.toLong
        if ma >= 1 && mb >= 1
      } yield (va, vb, ma, mb, fa.size, fb.size)
      rows.toDF("a", "b", "matched_a", "matched_b", "n_a", "n_b").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_videodupscross")
    }
    // ── GIF replicas: GIF is lossless on palette indices, so the replica
    // replays palette lookup + the pinned composition contract (canvas =
    // background color; draw non-transparent indices; snapshot; dispose
    // 0/1 keep, 2 rect→background, 3 restore-previous) straight from the
    // planted formulas — no GIF round trip. Agreement proves LZW,
    // sub-block framing, interlace and the composition state machine.
    def gifPalette(id: Long): (Int, Array[Byte], Int) = {
      val ps = Seq(4, 16, 64, 256)((id % 4).toInt)
      def pp(a: Long, i: Long): Int = {
        var z = a * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
        z ^= (z >>> 31); z *= 0x94D049BB133111EBL
        ((z >>> 40) & 0xff).toInt
      }
      val pal = Array.tabulate(ps * 3)(k => pp(id + 9000000L, k).toByte)
      (ps, pal, pp(id + 13, 0) % ps)
    }
    fixture("_fixture_giffeat") {
      def pp(a: Long, i: Long): Int = {
        var z = a * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
        z ^= (z >>> 31); z *= 0x94D049BB133111EBL
        ((z >>> 40) & 0xff).toInt
      }
      val rows = imgPlant(spark).map { case (id, w, h, _) =>
        val (ps, pal, bg) = gifPalette(id)
        val trans = if (id % 3 == 1) pp(id + 77, 0) % ps else -1
        val rgb = Array.tabulate(w * h * 3) { k =>
          val i = k / 3; val c = k % 3
          val idx0 = pp(id, i) % ps
          val idx = if (idx0 == trans) bg else idx0
          pal(idx * 3 + c)
        }
        val f = imgStats(w, h, rgb)
        (id, s"gif/${id % 3}", w, h, 3,
          f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
      }
      rows.toDF("media_id", "kind", "width", "height", "channels",
          "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b",
          "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_giffeat")
    }
    // Animated-GIF composition replica rows (shared by _fixture_gifvideo
    // and the mixed video fixture): canvas, draw, snap, dispose replayed
    // from the planted formulas.
    lazy val gifVideoRows: Seq[(Long, Int, Int, Int, Int, Double, Double,
        Double, Double, Double, Double, Double, Double)] = {
      def pp(a: Long, i: Long): Int = {
        var z = a * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
        z ^= (z >>> 31); z *= 0x94D049BB133111EBL
        ((z >>> 40) & 0xff).toInt
      }
      imgPlant(spark).flatMap { case (id, w, h, _) =>
        val (ps, pal, bg) = gifPalette(id)
        val n = 2 + (id % 4).toInt
        val canvas = new Array[Byte](w * h * 3)
        var i = 0
        while (i < w * h) {
          canvas(i * 3) = pal(bg * 3); canvas(i * 3 + 1) = pal(bg * 3 + 1)
          canvas(i * 3 + 2) = pal(bg * 3 + 2)
          i += 1
        }
        (0 until n).map { f =>
          val (left, top) =
            if (f == 0) (0, 0)
            else (f % math.max(w / 2, 1), f % math.max(h / 2, 1))
          val fw = w - left; val fh = h - top
          val trans = if ((id + f) % 3 == 0) pp(id + f, 7) % ps else -1
          val disposal = ((id + f) % 4).toInt
          val saved = if (disposal == 3) canvas.clone() else null
          for (y <- 0 until fh; x <- 0 until fw) {
            val idx = pp(id * 31 + f, y * fw + x) % ps
            if (idx != trans) {
              val o = ((top + y) * w + left + x) * 3
              canvas(o) = pal(idx * 3); canvas(o + 1) = pal(idx * 3 + 1)
              canvas(o + 2) = pal(idx * 3 + 2)
            }
          }
          val snap = canvas.clone()
          disposal match {
            case 2 =>
              for (y <- 0 until fh; x <- 0 until fw) {
                val o = ((top + y) * w + left + x) * 3
                canvas(o) = pal(bg * 3); canvas(o + 1) = pal(bg * 3 + 1)
                canvas(o + 2) = pal(bg * 3 + 2)
              }
            case 3 => System.arraycopy(saved, 0, canvas, 0, canvas.length)
            case _ => ()
          }
          val st = imgStats(w, h, snap)
          (id, f, w, h, n,
            st(0), st(1), st(2), st(3), st(4), st(5), st(6), st(7))
        }
      }
    }
    fixture("_fixture_gifvideo") {
      gifVideoRows.toDF("media_id", "frame_idx", "width", "height", "n_frames",
          "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b",
          "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_gifvideo")
    }
    fixture("_fixture_orient") {
      // EXIF-orientation replica: closed-form JPEG round trip (quality
      // 80, 4:4:4) then the pinned inverse maps — output (x, y) reads
      // input (per orientation o): 2 (W−1−x, y) · 3 (W−1−x, H−1−y) ·
      // 4 (x, H−1−y) · 5 (y, x) · 6 (y, H−1−x) · 7 (W−1−y, H−1−x) ·
      // 8 (W−1−y, x); 5-8 swap the output dims
      val rows = imgPlant(spark).map { case (id, w, h, px) =>
        val o = 1 + (id % 8).toInt
        val jpx = jpegRoundTripRef(w, h, 3, px, 80, subsample = false)
        val swap = o >= 5
        val ow = if (swap) h else w
        val oh = if (swap) w else h
        val oriented =
          if (o == 1) jpx
          else Array.tabulate(ow * oh * 3) { k =>
            val c = k % 3; val p = k / 3
            val x = p % ow; val y = p / ow
            val (sx, sy) = o match {
              case 2 => (w - 1 - x, y)
              case 3 => (w - 1 - x, h - 1 - y)
              case 4 => (x, h - 1 - y)
              case 5 => (y, x)
              case 6 => (y, h - 1 - x)
              case 7 => (w - 1 - y, h - 1 - x)
              case 8 => (w - 1 - y, x)
            }
            jpx((sy * w + sx) * 3 + c)
          }
        (id, o, ow, oh, java.security.MessageDigest.getInstance("MD5")
          .digest(oriented).map("%02x".format(_)).mkString)
      }
      rows.toDF("media_id", "orientation", "width", "height", "pixel_md5")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_orient")
    }
    fixture("_fixture_bmpfeat") {
      // BMP replica (q_multimodal_bmp): lossless container, so the
      // expected pixels are the planted formula itself for the 24-bit
      // variants (id % 3 in {0, 1} — row order is the CODEC's concern,
      // the decoded output is top-down either way) and one palette
      // lookup for the 8-bit variant (palette bytes pp(id + 7e6, k),
      // indices pp(id, p) mod size) — no BMP round trip anywhere
      def pp(a: Long, i: Long): Int = {
        var z = a * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
        z ^= (z >>> 31); z *= 0x94D049BB133111EBL
        ((z >>> 40) & 0xff).toInt
      }
      val rows = imgPlant(spark).map { case (id, w, h, px) =>
        val rgb = if (id % 3 != 2) px
        else {
          val ps = Seq(4, 16, 64, 256)((id % 4).toInt)
          val pal = Array.tabulate(ps * 3)(k => pp(id + 7000000L, k).toByte)
          Array.tabulate(w * h * 3) { k =>
            pal((pp(id, k / 3) % ps) * 3 + k % 3)
          }
        }
        val f = imgStats(w, h, rgb)
        (id, s"bmp/${id % 3}", w, h, 3,
          f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
      }
      rows.toDF("media_id", "kind", "width", "height", "channels",
          "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b",
          "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_bmpfeat")
    }
    fixture("_fixture_mixedfeat") {
      // the mixed-container corpus (q_multimodal_mixed): per id % 4 pick
      // the PNG / JPEG / GIF / BMP replica row — assembled from the SAME
      // per-container derivations the dedicated fixtures use, so the
      // oracle gates the payload-sniffing dispatch itself
      def pp(a: Long, i: Long): Int = {
        var z = a * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
        z ^= (z >>> 31); z *= 0x94D049BB133111EBL
        ((z >>> 40) & 0xff).toInt
      }
      val jpegById = jpegPlant(spark).map(r => r._1 -> r).toMap
      val rows = imgPlant(spark).map { case (id, w, h, px) =>
        (id % 4).toInt match {
          case 0 =>
            val f = imgStats(w, h, px)
            (id, s"img/${id % 3}", w, h, 3,
              f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
          case 1 =>
            val (_, jw, jh, ch, jpx) = jpegById(id)
            val f = imgStats(jw, jh, jpx, ch)
            (id, s"jpg/${id % 3}", jw, jh, ch,
              f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
          case 2 =>
            val (ps, pal, bg) = gifPalette(id)
            val trans = if (id % 3 == 1) pp(id + 77, 0) % ps else -1
            val rgb = Array.tabulate(w * h * 3) { k =>
              val i = k / 3; val c = k % 3
              val idx0 = pp(id, i) % ps
              val idx = if (idx0 == trans) bg else idx0
              pal(idx * 3 + c)
            }
            val f = imgStats(w, h, rgb)
            (id, s"gif/${id % 3}", w, h, 3,
              f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
          case _ =>
            val rgb = if (id % 3 != 2) px
            else {
              val ps = Seq(4, 16, 64, 256)((id % 4).toInt)
              val pal = Array.tabulate(ps * 3)(k => pp(id + 7000000L, k).toByte)
              Array.tabulate(w * h * 3) { k =>
                pal((pp(id, k / 3) % ps) * 3 + k % 3)
              }
            }
            val f = imgStats(w, h, rgb)
            (id, s"bmp/${id % 3}", w, h, 3,
              f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
        }
      }
      rows.toDF("media_id", "kind", "width", "height", "channels",
          "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b",
          "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_mixedfeat")
    }
    fixture("_fixture_videoqual") {
      // per-clip quality replica: exact integer luma-millis accumulation
      // per the videoQuality spec; corpus = base + frozen (id%7, +2·10^7,
      // every frame = frame 0) + black (id%11, +3·10^7)
      val metaRows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
      def lumaFrame(px: Array[Byte], n: Int): Array[Int] =
        Array.tabulate(n)(i => 299 * (px(i * 3) & 0xff) +
          587 * (px(i * 3 + 1) & 0xff) + 114 * (px(i * 3 + 2) & 0xff))
      def measure(vid: Long, w: Int, h: Int,
                  frames: IndexedSeq[Array[Byte]]) = {
        val n = w * h; val nf = frames.size
        val lums = frames.map(f => lumaFrame(f, n))
        val sums = lums.map(_.map(_.toLong).sum)
        val lumaTotal = sums.sum
        val black = sums.count(_ < 16000L * n)
        val mads = (1 until nf).map(fi =>
          (0 until n).map(i => math.abs(lums(fi)(i) - lums(fi - 1)(i)).toLong).sum)
        (vid, w, h, nf,
          if (nf == 0) 0.0 else round6(lumaTotal / (1000.0 * n * nf)),
          if (nf == 0) 0.0 else round6(black.toDouble / nf),
          if (nf < 2) 0.0 else round6(mads.count(_ < 2000L * n).toDouble / (nf - 1)),
          if (nf < 2) 0.0 else round6(mads.sum / (1000.0 * n) / (nf - 1)))
      }
      def plantF(id: Long, f: Int, w: Int, h: Int): Array[Byte] =
        Array.tabulate(w * h * 3) { i =>
          var z = (id * 1000003L + f) * 0x9E3779B97F4A7C15L +
            i.toLong * 0xBF58476D1CE4E5B9L
          z ^= (z >>> 31); z *= 0x94D049BB133111EBL
          ((z >>> 40) & 0xff).toByte
        }
      val rows = metaRows.flatMap { case (id, nc) =>
        val w = 4 + (id % 9).toInt; val h = 3 + (nc % 7)
        val nf = (id % 5 + 2).toInt
        val base = measure(id, w, h, (0 until nf).map(f => plantF(id, f, w, h)))
        val extra =
          (if (id % 7 == 0)
            Seq(measure(id + 20000000L, w, h,
              IndexedSeq.fill(nf)(plantF(id, 0, w, h)))) else Nil) ++
          (if (id % 11 == 0)
            Seq(measure(id + 30000000L, w, h,
              IndexedSeq.fill(nf)(new Array[Byte](w * h * 3)))) else Nil)
        base +: extra
      }
      rows.toDF("media_id", "width", "height", "n_frames", "luma_mean",
          "black_frame_ratio", "still_ratio", "motion_mean").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_videoqual")
    }
    fixture("_fixture_videofeat") {
      // video replica: re-derive every sampled frame's pixels from the
      // documented formulas (frame folds into the splitmix key; dims
      // 4+(id%9) × 3+(nChars%7); 2..6 frames; stride 2) and re-measure
      // with the pinned statistics — NO AVI round-trip here, so oracle
      // agreement proves the engine's encode∘decode is the identity
      // across the bottom-up/BGR/padded DIB storage convention
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
        .flatMap { case (id, nChars) =>
          val w = 4 + (id % 9).toInt; val h = 3 + (nChars % 7)
          val nf = (id % 5 + 2).toInt
          (0 until nf by 2).map { f =>
            val px = Array.tabulate(w * h * 3) { i =>
              var z = (id * 1000003L + f) * 0x9E3779B97F4A7C15L +
                i.toLong * 0xBF58476D1CE4E5B9L
              z ^= (z >>> 31); z *= 0x94D049BB133111EBL
              ((z >>> 40) & 0xff).toByte
            }
            val st = imgStats(w, h, px)
            (id, f, w, h, nf,
              st(0), st(1), st(2), st(3), st(4), st(5), st(6), st(7))
          }
        }
      rows.toDF("media_id", "frame_idx", "width", "height", "n_frames",
          "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b",
          "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_videofeat")
    }
    // MJPEG replica rows (shared by _fixture_mjpegfeat and the mixed
    // video fixture): the same planted frames as the videofeat fixture
    // (splitmix over id·1000003+f), but each frame passes through the
    // closed-form JPEG round trip (jpegRoundTripRef — color convert →
    // MCU pad → FDCT → quant → dequant → IDCT → upsample, NO entropy
    // coding) before the pinned statistics. quality 55+(id%5)·10,
    // 4:2:0 on even ids (Multimodal.mjpegPlantParams); stride 1.
    lazy val mjpegFeatRows: IndexedSeq[(Long, Int, Int, Int, Int, Double,
        Double, Double, Double, Double, Double, Double, Double)] =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
        .flatMap { case (id, nChars) =>
          val w = 4 + (id % 9).toInt; val h = 3 + (nChars % 7)
          val nf = (id % 5 + 2).toInt
          val quality = 55 + (id % 5).toInt * 10
          val sub = id % 2 == 0
          (0 until nf).map { f =>
            val px = Array.tabulate(w * h * 3) { i =>
              var z = (id * 1000003L + f) * 0x9E3779B97F4A7C15L +
                i.toLong * 0xBF58476D1CE4E5B9L
              z ^= (z >>> 31); z *= 0x94D049BB133111EBL
              ((z >>> 40) & 0xff).toByte
            }
            val rt = jpegRoundTripRef(w, h, 3, px, quality, sub)
            val st = imgStats(w, h, rt)
            (id, f, w, h, nf,
              st(0), st(1), st(2), st(3), st(4), st(5), st(6), st(7))
          }
        }
    fixture("_fixture_mjpegfeat") {
      mjpegFeatRows.toDF("media_id", "frame_idx", "width", "height", "n_frames",
          "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b",
          "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_mjpegfeat")
    }
    fixture("_fixture_videomixed") {
      // the mixed-container VIDEO corpus (q_multimodal_video_mixed): per
      // id % 3 pick the raw-AVI / MJPEG / animated-GIF replica rows —
      // the same per-container derivations the dedicated fixtures use
      // (raw rows re-derived at stride 1; the videofeat fixture's own
      // stride-2 rows stay untouched), so the oracle gates the
      // decodeVideo dispatch itself
      val rawRows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int"))
        .as[(Long, Int)].collect().sortBy(_._1).toIndexedSeq
        .filter(_._1 % 3 == 0)
        .flatMap { case (id, nChars) =>
          val w = 4 + (id % 9).toInt; val h = 3 + (nChars % 7)
          val nf = (id % 5 + 2).toInt
          (0 until nf).map { f =>
            val px = Array.tabulate(w * h * 3) { i =>
              var z = (id * 1000003L + f) * 0x9E3779B97F4A7C15L +
                i.toLong * 0xBF58476D1CE4E5B9L
              z ^= (z >>> 31); z *= 0x94D049BB133111EBL
              ((z >>> 40) & 0xff).toByte
            }
            val st = imgStats(w, h, px)
            (id, f, w, h, nf,
              st(0), st(1), st(2), st(3), st(4), st(5), st(6), st(7))
          }
        }
      val rows = (rawRows ++
        mjpegFeatRows.filter(_._1 % 3 == 1) ++
        gifVideoRows.filter(_._1 % 3 == 2)).sortBy(r => (r._1, r._2))
      rows.toDF("media_id", "frame_idx", "width", "height", "n_frames",
          "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b",
          "luma_mean", "edge_density").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_videomixed")
    }
    fixture("_fixture_annsq8") {
      annSq8Rows.toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annsq8")
    }
    fixture("_fixture_annivfpq") {
      annIvfPqRows.toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annivfpq")
    }
    fixture("_fixture_annivfsq8") {
      annIvfSq8Rows.toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annivfsq8")
    }
    // ── plain-Scala PCA replication (fixture oracles) ─────────────────
    // Independent re-run of the moments→covariance→Jacobi→sign/round
    // spec (operators/Pca.scala object doc): fixed-point long moments
    // (one Math.round per per-row term — partitioning-independent by
    // integer addition), covariance decode g/2^24/n − μᵢμⱼ, cyclic
    // Jacobi with the documented rotation/op order, eigenvalue-desc
    // selection, largest-|weight|-positive sign, 6-dp rounding. Shares
    // only VectorMath.cosineF with the engine.
    def pcaTrainRef(vecs: IndexedSeq[(Long, Array[Float])], outDim: Int,
                    whiten: Boolean)
        : (Array[Double], Array[Double], Array[Array[Double]]) = {
      val dim = vecs.head._2.length
      val n = vecs.length.toDouble
      val scale = (1L << 24).toDouble
      val sums = new Array[Long](dim)
      val gram = Array.ofDim[Long](dim, dim) // full square; engine keeps tri
      vecs.foreach { case (_, e) =>
        var i = 0
        while (i < dim) {
          val xi = e(i).toDouble
          sums(i) += Math.round(xi * scale)
          var j = i
          while (j < dim) {
            gram(i)(j) += Math.round(xi * e(j).toDouble * scale)
            j += 1
          }
          i += 1
        }
      }
      val mean = sums.map(s => s.toDouble / scale / n)
      val a = Array.tabulate(dim, dim) { (i, j) =>
        val g = if (i <= j) gram(i)(j) else gram(j)(i)
        g.toDouble / scale / n - mean(i) * mean(j)
      }
      val v = Array.tabulate(dim, dim)((r, c) => if (r == c) 1.0 else 0.0)
      var sweep = 0
      var converged = false
      while (sweep < 100 && !converged) {
        for (p <- 0 until dim - 1; q <- p + 1 until dim) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-12) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            for (k <- 0 until dim) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq; a(k)(q) = s * akp + c * akq
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq; v(k)(q) = s * vkp + c * vkq
            }
            for (k <- 0 until dim) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk; a(q)(k) = s * apk + c * aqk
            }
          }
        }
        converged = (for (r <- 0 until dim - 1; c <- r + 1 until dim)
          yield a(r)(c) * a(r)(c)).sum < 1e-18
        sweep += 1
      }
      val order = (0 until dim).sortBy(j => (-a(j)(j), j)).take(outDim)
      val eig = order.map(j => a(j)(j)).toArray
      val comps = order.zipWithIndex.map { case (j, k) =>
        val vec = (0 until dim).map(r => v(r)(j)).toArray
        val m = vec.indices.maxBy(r => (math.abs(vec(r)), -r))
        val signed = if (vec(m) < 0) vec.map(x => -x) else vec
        val scaled = if (whiten) {
          val w = math.sqrt(math.max(eig(k), 1e-12))
          signed.map(_ / w)
        } else signed
        scaled.map(round6)
      }.toArray
      (mean.map(round6), eig.map(round6), comps)
    }
    def pcaProjectRef(mean: Array[Double], comps: Array[Array[Double]])
                     (e: Array[Float]): Array[Float] =
      comps.map { row =>
        var s = 0.0
        var i = 0
        while (i < row.length) { s += row(i) * (e(i).toDouble - mean(i)); i += 1 }
        s.toFloat
      }
    def annPcaRows(outDim: Int, whiten: Boolean)
        : IndexedSeq[(Long, Long, Double, Int)] = {
      import graft.functions.VectorMath
      val (mean, _, comps) = pcaTrainRef(annVecs, outDim, whiten)
      val proj = annVecs.map { case (id, e) => (id, pcaProjectRef(mean, comps)(e)) }
      for {
        (qid, qe) <- proj.filter(_._1 < 8)
        ranked = proj.iterator
          .filter(_._1 != qid)
          .map { case (nid, ne) => (nid, round6(VectorMath.cosineF(ne, qe))) }
          .toIndexedSeq.sortBy { case (nid, sim) => (-sim, nid) }
          .take(10)
        ((nid, sim), i) <- ranked.zipWithIndex
      } yield (qid, nid, sim, i + 1)
    }
    fixture("_fixture_pcatrain") {
      val (mean, eig, comps) = pcaTrainRef(annVecs, outDim = 8, whiten = false)
      val rows = for {
        k <- comps.indices
        i <- mean.indices
      } yield (k, i, comps(k)(i), eig(k), mean(i))
      rows.toDF("component", "dim_idx", "weight", "eigenvalue", "mean")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_pcatrain")
    }
    fixture("_fixture_annpca") {
      annPcaRows(16, whiten = false)
        .toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annpca")
    }
    fixture("_fixture_annpcawhiten") {
      annPcaRows(16, whiten = true)
        .toDF("query_id", "neighbor_id", "sim", "rnk").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annpcawhiten")
    }
    fixture("_fixture_annrecall") {
      // recall@k of each approximate method against the exhaustive
      // baseline, derived from the SAME plain-Scala replicas the per-method
      // fixtures write — q_ann_recall turns the approximate/exact quality
      // trade into a regression-guarded number
      import graft.functions.VectorMath
      val exact = (for {
        (qid, qe) <- annVecs.filter(_._1 < 8)
        ranked = annVecs.iterator
          .filter(_._1 != qid)
          .map { case (nid, ne) => (nid, round6(VectorMath.cosineF(ne, qe))) }
          .toIndexedSeq.sortBy { case (nid, sim) => (-sim, nid) }
          .take(10)
        (nid, _) <- ranked
      } yield (qid, nid)).toSet
      val total = exact.size.toLong
      def recallOf(rows: IndexedSeq[(Long, Long, Double, Int)]): (Long, Long, Double) = {
        val matched = rows.iterator.map(r => (r._1, r._2)).toSet.count(exact).toLong
        (matched, total, round6(matched.toDouble / total))
      }
      Seq("ivf" -> recallOf(annIvfRows),
          "ivf_opq" -> recallOf(annIvfOpqRows),
          "ivf_sq8" -> recallOf(annIvfSq8Rows),
          "ivfpq" -> recallOf(annIvfPqRows),
          "lsh" -> recallOf(annLshRows),
          "opq" -> recallOf(annOpqRows),
          "pca" -> recallOf(annPcaRows(16, whiten = false)),
          "pq" -> recallOf(annPqRows),
          "sq8" -> recallOf(annSq8Rows))
        .map { case (m, (a, b, r)) => (m, a, b, r) }
        .toDF("method", "matched", "total", "recall").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_annrecall")
    }
    // replica-side fixed-point/hashing helpers shared by BOTH trained-model
    // fixtures (sharing loses no independence from the code under test —
    // they are the replica's own arithmetic; diverging copies would let
    // the two fixtures silently disagree about the same contract)
    // scaled-long encode: round(x·2^24) HALF_UP on the double product,
    // matching the engine's round(col * lit(fixedPointScale))
    val repFp = graft.operators.Similarity.fixedPointScale
    def repFpl(x: Double): Long =
      BigDecimal(x * repFp).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    def repFeatOf(w: String, dim: Int): Int = {
      val h = graft.functions.CassandraMurmur3.hashString(w, 0x9e37L)
      (((h % dim) + dim) % dim).toInt
    }
    fixture("_fixture_qualitymodel") {
      // plain-Scala re-run of the hashed-BoW logistic-regression
      // train+score path (q_quality_model's parameters: dim=1024,
      // iters=24, lr=3.0, momentum 0.9, label = doc contains 'spark').
      // Shares only the murmur64 scalar kernel (TokenSpec-pinned) with
      // the expressions under test; L2-normalized margins, fixed-point
      // gradients and the momentum recurrence re-derive independently.
      val dim = 1024; val iters = 24; val lr = 3.0; val beta = 0.9
      val fp = repFp
      def fpl(x: Double): Long = repFpl(x)
      def featOf(w: String): Int = repFeatOf(w, dim)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect()
        .toIndexedSeq.sortBy(_._1).filter(_._2 != null)
      val byDoc = docs.map { case (id, text) =>
        val ws = bpeWords(text)
        // distinct feature ids; Spark's array_distinct keeps first-seen
        // order but the margin is an order-free sum
        val fs = ws.map(featOf).distinct
        val y = if (ws.contains("spark")) 1.0 else 0.0
        (id, y, fs, math.sqrt(fs.length.toDouble))
      }
      val trainable = byDoc.filter(_._3.nonEmpty)
      val nDocs = trainable.length.toDouble
      val w = new Array[Double](dim)
      val v = new Array[Double](dim)
      for (_ <- 1 to iters) {
        val wFp = w.map(fpl)
        val grad = new Array[Long](dim)
        trainable.foreach { case (_, y, fs, sm) =>
          val mfp = fs.iterator.map(wFp(_)).sum
          val p = 1.0 / (1.0 + StrictMath.exp(-(mfp.toDouble / fp / sm)))
          fs.foreach { f => grad(f) += fpl((p - y) / sm) }
        }
        var f = 0
        while (f < dim) {
          v(f) = beta * v(f) + (grad(f).toDouble / fp) / nDocs
          w(f) = w(f) - lr * v(f)
          f += 1
        }
      }
      val wFp = w.map(fpl)
      val rows = byDoc.map { case (id, y, fs, sm) =>
        val mfp = fs.iterator.map(wFp(_)).sum
        val margin = if (fs.nonEmpty) mfp.toDouble / fp / sm else 0.0
        val p = round6(1.0 / (1.0 + StrictMath.exp(-margin)))
        (id, y.toInt, p, if (p >= 0.5) 1 else 0)
      }
      rows.toDF("doc_id", "y", "p", "pred").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_qualitymodel")
    }
    fixture("_fixture_multiclass") {
      // plain-Scala re-run of the multiclass softmax train+predict path
      // (q_multiclass_model's parameters: dim=512, iters=12, lr=3.0,
      // momentum 0.9; label c(doc_id%3), marker word mk<k> appended).
      // Shares only the murmur64 scalar kernel with the expressions under
      // test; the K-margin sums, fixed-order softmax, (f,k) gradient
      // reduce and momentum recurrence all re-derive independently.
      val dim = 512; val iters = 12; val lr = 3.0; val beta = 0.9
      val fp = repFp
      def fpl(x: Double): Long = repFpl(x)
      def featOf(w: String): Int = repFeatOf(w, dim)
      val classes = Seq("c0", "c1", "c2")
      val k = classes.length
      val byDoc = bpeDocs.map { case (id, text) =>
        val y = (id % 3).toInt
        val fs = bpeWords(text + " mk" + y).map(featOf).distinct
        (id, y, fs, math.sqrt(fs.length.toDouble))
      }
      val nDocs = byDoc.length.toDouble // marker word => never token-less
      val w = Array.fill(k)(new Array[Double](dim))
      val v = Array.fill(k)(new Array[Double](dim))
      def softmax(mfps: Seq[Long], sm: Double): Seq[Double] = {
        val zs = mfps.map(_.toDouble / fp / sm)
        val zmax = zs.max
        val exps = zs.map(z => StrictMath.exp(z - zmax))
        val denom = exps.reduce(_ + _) // left fold, class order — like the SQL
        exps.map(_ / denom)
      }
      for (_ <- 1 to iters) {
        val wFp = w.map(_.map(fpl))
        val grad = Array.fill(k)(new Array[Long](dim))
        byDoc.foreach { case (_, y, fs, sm) =>
          val mfps = (0 until k).map(ki => fs.iterator.map(wFp(ki)(_)).sum)
          val ps = softmax(mfps, sm)
          (0 until k).foreach { ki =>
            val gg = fpl((ps(ki) - (if (y == ki) 1.0 else 0.0)) / sm)
            fs.foreach { f => grad(ki)(f) += gg }
          }
        }
        (0 until k).foreach { ki =>
          var f = 0
          while (f < dim) {
            v(ki)(f) = beta * v(ki)(f) + (grad(ki)(f).toDouble / fp) / nDocs
            w(ki)(f) = w(ki)(f) - lr * v(ki)(f)
            f += 1
          }
        }
      }
      val wFp = w.map(_.map(fpl))
      val rows = byDoc.map { case (id, _, fs, sm) =>
        val mfps = (0 until k).map(ki => fs.iterator.map(wFp(ki)(_)).sum)
        // argmax on EXACT integer margins, ties to the lowest class index
        val pred = classes(mfps.zipWithIndex.maxBy { case (m, i) => (m, -i) }._2)
        val ps = softmax(mfps, sm).map(round6)
        (id, pred, ps(0), ps(1), ps(2))
      }
      rows.toDF("doc_id", "pred", "p0", "p1", "p2").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_multiclass")
    }
    fixture("_fixture_clusterprune") {
      // prototype-prune replica: same centroids as the IVF fixtures
      // (nlist=16, iters=1), cosine-to-centroid prototypicality, per-
      // cluster rank on (rounded sim desc, vec_id), floor(n×0.25) dropped
      val cents = annIvfCents
      val centById = cents.toMap
      val rows = annVecs
        .map { case (id, e) =>
          val cid = nearestCentRef(e, cents)
          (id, cid, round6(graft.functions.VectorMath.cosineF(e, centById(cid))))
        }
        .groupBy(_._2).iterator.flatMap { case (_, members) =>
          val ranked = members.sortBy { case (id, _, sim) => (-sim, id) }
          val dropN = math.floor(ranked.size * 0.25).toInt
          ranked.zipWithIndex.map { case ((id, cid, sim), i) =>
            (id, cid, sim, i + 1, i + 1 > dropN)
          }
        }.toIndexedSeq.sortBy(_._1)
      rows.toDF("vec_id", "cid", "proto_sim", "rnk", "kept").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_clusterprune")
    }
    fixture("_fixture_pagerank") {
      // Host-graph PageRank replica: q_host_pagerank's planted outlink
      // derivation (page host doc_id%13; outlinks at +4 and *3+5 mod 13;
      // every fifth doc links a sink host that never links out) is
      // re-derived here from the doc_ids alone, then ranked by an
      // independent plain-Scala synchronous PageRank using the SAME
      // fixed-point contribution arithmetic (per-edge scaled-long
      // HALF_UP round, long sums) as WebCuration.pageRank — shares no
      // code with the operator under test.
      val ids = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id")).as[Long].collect()
      val edges = scala.collection.mutable.LinkedHashSet[(String, String)]()
      for (id <- ids) {
        val src = s"site${id % 13}.example.com"
        val dsts = Seq(
          s"site${(id + 4) % 13}.example.com",
          s"site${(id * 3 + 5) % 13}.example.com") ++
          (if (id % 5 == 0) Seq(s"sink${id % 3}.example.org") else Nil)
        for (dst <- dsts if dst != src) edges += ((src, dst))
      }
      val scale = (1L << 24).toDouble
      def fp(v: Double): Long =
        BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSeq.distinct.sorted
      val n = nodes.size
      val outDeg = edges.toSeq.groupBy(_._1).map { case (s0, es) => (s0, es.size.toLong) }
      val dangling = nodes.filterNot(outDeg.contains)
      val damping = 0.85
      val base = (1.0 - damping) / n
      var ranks: Map[String, Double] = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 0 until 10) {
        val contribs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        for ((s0, d0) <- edges)
          contribs(d0) += fp(ranks(s0) / outDeg(s0) * scale)
        val dmass = dangling.iterator.map(h => fp(ranks(h) * scale)).sum
        val dterm = dmass.toDouble / scale / n
        ranks = nodes.map(h =>
          h -> (base + damping * (contribs(h).toDouble / scale + dterm))).toMap
      }
      nodes.map(h => (h, round6(ranks(h)))).toDF("host", "pagerank")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_fixture_pagerank")
    }
    fixture("_fixture_pagerank_w") {
      // Weighted-PageRank replica over the planted graph WITH
      // multiplicities (#docs producing each (src, dst) edge): the same
      // independent fixed-point arithmetic as _fixture_pagerank but each
      // contribution is rank·w/W(src).
      val ids = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id")).as[Long].collect()
      val wts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      for (id <- ids) {
        val src = s"site${id % 13}.example.com"
        val dsts = Seq(
          s"site${(id + 4) % 13}.example.com",
          s"site${(id * 3 + 5) % 13}.example.com") ++
          (if (id % 5 == 0) Seq(s"sink${id % 3}.example.org") else Nil)
        for (dst <- dsts if dst != src) wts((src, dst)) += 1L
      }
      val scale = (1L << 24).toDouble
      def fp(v: Double): Long =
        BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val edges = wts.keySet.toSeq
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val n = nodes.size
      val wsum = edges.groupBy(_._1)
        .map { case (s0, es) => s0 -> es.map(wts).sum }
      val dangling = nodes.filterNot(wsum.contains)
      val damping = 0.85
      val base = (1.0 - damping) / n
      var ranks: Map[String, Double] = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 0 until 10) {
        val contribs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        for (e @ (s0, d0) <- edges)
          contribs(d0) += fp(ranks(s0) * wts(e) / wsum(s0) * scale)
        val dmass = dangling.iterator.map(h => fp(ranks(h) * scale)).sum
        val dterm = dmass.toDouble / scale / n
        ranks = nodes.map(h =>
          h -> (base + damping * (contribs(h).toDouble / scale + dterm))).toMap
      }
      nodes.map(h => (h, round6(ranks(h)))).toDF("host", "pagerank")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_fixture_pagerank_w")
    }
    fixture("_fixture_ppr") {
      // Personalized-PageRank replica over the planted host graph
      // (seeds: site0 + site7): p uniform over present seeds, rank
      // initialized to p, rank' = 0.15·p + 0.85·(inflow + dmass·p) —
      // the same independent fixed-point arithmetic as
      // _fixture_pagerank with the seed-teleport terms.
      val ids = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id")).as[Long].collect()
      val edges = scala.collection.mutable.LinkedHashSet[(String, String)]()
      for (id <- ids) {
        val src = s"site${id % 13}.example.com"
        val dsts = Seq(
          s"site${(id + 4) % 13}.example.com",
          s"site${(id * 3 + 5) % 13}.example.com") ++
          (if (id % 5 == 0) Seq(s"sink${id % 3}.example.org") else Nil)
        for (dst <- dsts if dst != src) edges += ((src, dst))
      }
      val scale = (1L << 24).toDouble
      def fp(v: Double): Long =
        BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSeq.distinct.sorted
      val seeds = Seq("site0.example.com", "site7.example.com")
        .filter(nodes.contains)
      val p: Map[String, Double] =
        nodes.map(h => h -> (if (seeds.contains(h)) 1.0 / seeds.size else 0.0)).toMap
      val outDeg = edges.toSeq.groupBy(_._1).map { case (s0, es) => (s0, es.size.toLong) }
      val dangling = nodes.filterNot(outDeg.contains)
      val damping = 0.85
      var ranks: Map[String, Double] = p
      for (_ <- 0 until 10) {
        val contribs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        for ((s0, d0) <- edges)
          contribs(d0) += fp(ranks(s0) / outDeg(s0) * scale)
        val dmass = dangling.iterator.map(h => fp(ranks(h) * scale)).sum
        ranks = nodes.map(h =>
          h -> ((1.0 - damping) * p(h) + damping *
            (contribs(h).toDouble / scale + dmass.toDouble / scale * p(h)))).toMap
      }
      nodes.map(h => (h, round6(ranks(h)))).toDF("host", "rank")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_fixture_ppr")
    }
    fixture("_fixture_hits") {
      // HITS replica over the same planted host graph as
      // _fixture_pagerank (re-derived independently from doc_ids):
      // synchronous mutual iteration, per-edge scaled-long HALF_UP
      // contributions, exact long L1 totals, the single double division
      // per node — mirrors WebCuration.hits' arithmetic while sharing no
      // code with it.
      val ids = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id")).as[Long].collect()
      val edges = scala.collection.mutable.LinkedHashSet[(String, String)]()
      for (id <- ids) {
        val src = s"site${id % 13}.example.com"
        val dsts = Seq(
          s"site${(id + 4) % 13}.example.com",
          s"site${(id * 3 + 5) % 13}.example.com") ++
          (if (id % 5 == 0) Seq(s"sink${id % 3}.example.org") else Nil)
        for (dst <- dsts if dst != src) edges += ((src, dst))
      }
      val scale = (1L << 24).toDouble
      def fp(v: Double): Long =
        BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSeq.distinct.sorted
      val n = nodes.size
      var hub: Map[String, Double] = nodes.map(_ -> 1.0 / n).toMap
      var auth: Map[String, Double] = hub
      for (_ <- 0 until 10) {
        val ac = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        for ((s0, d0) <- edges) ac(d0) += fp(hub(s0) * scale)
        val at = ac.values.sum
        auth = nodes.map(h => h -> ac(h).toDouble / at.toDouble).toMap
        val hc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        for ((s0, d0) <- edges) hc(s0) += fp(auth(d0) * scale)
        val ht = hc.values.sum
        hub = nodes.map(h => h -> hc(h).toDouble / ht.toDouble).toMap
      }
      nodes.map(h => (h, round6(hub(h)), round6(auth(h))))
        .toDF("host", "hub", "authority")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_fixture_hits")
    }
    fixture("_fixture_timeuuid") {
      // input prep (ms derivation) is shared with q_timeuuid_bounds; the
      // operators under test (MinTimeUuid/TimeUuidMillis codegen) are not.
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
        .filter(col("user_id") < 5)
      // epoch millis (the unit min_timeuuid takes), derived adaptively from
      // whatever physical ts type the current testdata generation carries
      val ev = ev0
        .select(col("event_id"), Tables.tsEpochMs(ev0).cast("long").as("ms"))
        .as[(Long, Long)].collect().toIndexedSeq
        .map { case (id, ms) =>
          val u = graft.functions.TimeUuid.minTimeUuid(ms)
          (id, u, graft.functions.TimeUuid.unixMillisOf(u))
        }
      ev.toDF("event_id", "u", "u_millis").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_fixture_timeuuid")
    }
  }
}
