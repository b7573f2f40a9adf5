package graftbench

import java.io.File

/** Harness entry point, launched by `run.py` with the built classpath.
  *
  * {{{
  * graftbench.Main --workload cql_read|cql_write|analytics --seed N
  *                 --seconds S --trace 0|1 --out DIR --cache DIR [--plant 1]
  * graftbench.Main --describe cql_read|cql_write --seed N   (op plan, no Spark)
  * graftbench.Main --list-metrics                           (metric catalogue)
  * }}}
  *
  * A run writes `DIR/result.json` (metrics of its mode, attempted/failed
  * counts, mismatches); a traced run also writes `DIR/spans.jsonl` and
  * `DIR/summary.json`. `run.py` adds the analytics output checks and prints
  * the final result line.
  */
object Main {
  val workloads = Seq("cql_read", "cql_write", "analytics")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--list-metrics")) return println(listMetrics)
    opts.get("describe").foreach { w => return println(describe(w, opts("seed").toLong)) }

    val workload = opts("workload")
    require(workloads.contains(workload), s"unknown workload $workload (${workloads.mkString(", ")})")
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = new File(opts("out"))
    out.mkdirs()
    val spark = graft.GraftSession.builder("graftbench")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Functions.ensure(spark)
    try {
      val r = new Run(spark, workload, opts("seed").toLong, opts("seconds").toInt, traced, out,
        new File(opts("cache")), plant = opts.get("plant").contains("1"))
      r.mark("setup")
      if (workload == "analytics") AnalyticsWorkload.run(r) else CqlWorkload.run(r)
      r.mark("report")
      val values =
        if (traced) {
          val res = r.tracer.finish()
          Report.writeSpans(new File(out, "spans.jsonl"), workload, res)
          val summary = Report.summary(r, res)
          Report.writeJson(new File(out, "summary.json"), summary)
          System.err.println(s"[graftbench] trace summary ${Report.obj(summary)}")
          Report.perLayer(r, res)
        } else Report.endToEnd(r)
      Report.writeJson(new File(out, "result.json"), Seq(
        "workload" -> Report.str(workload),
        "attempted" -> r.attempted.toString,
        "failed" -> r.failed.toString,
        "mismatches" -> r.mismatches.map(Report.str).mkString("[", ", ", "]"),
        "metrics" -> Report.obj(Metrics.forMode(traced).map { s =>
          s.name -> Report.obj(Seq("value" -> Report.num(values(s.name)), "unit" -> Report.str(s.unit)))
        }),
        "notes" -> Report.obj(r.metrics.toSeq.filterNot(m => values.contains(m._1))
          .map { case (k, v) => k -> Report.num(v) }),
        // every latency the run recorded, in ms and in order: sample counts
        // and within-run trends for whoever reads the result
        "latencies_ms" -> Report.obj(r.series.toSeq.map { case (k, xs) =>
          k -> xs.map(x => Report.num(math.rint(x * 10) / 10)).mkString("[", ", ", "]")
        })))
    } finally spark.stop()
  }

  def listMetrics: String = {
    def arr(xs: Seq[Metrics.Spec]) =
      xs.map(s => Report.obj(Seq("name" -> Report.str(s.name), "unit" -> Report.str(s.unit))))
        .mkString("[", ", ", "]")
    Report.obj(Seq("end_to_end" -> arr(Metrics.endToEnd), "per_layer" -> arr(Metrics.perLayer)))
  }

  /** A CQL workload's op plan for a seed: the kinds of its first 1,200
    * timed ops, its first 200 statement texts and its fixed policy. The
    * harness tests compare these across seeds.
    */
  def describe(workload: String, seed: Long): String = {
    val plan = workload match {
      case "cql_read" => new ReadPlan(seed, CqlWorkload.readParts)
      case "cql_write" => new WritePlan(seed, CqlWorkload.writeParts)
      case other => throw new IllegalArgumentException(s"no op plan for $other")
    }
    val ops = plan.take(1200).toSeq
    def texts = ops.collect { case o if o.kind.startsWith("read") || o.kind.startsWith("write") => Op.text(o) }
    Report.obj(Seq(
      "workload" -> Report.str(workload),
      "kinds" -> ops.map(o => Report.str(o.kind)).mkString("[", ", ", "]"),
      "texts" -> texts.take(200).map(Report.str).mkString("[", ", ", "]"),
      "policy" -> Report.obj(Seq(
        "read_every" -> WritePlan.readEvery.toString,
        "flush_every" -> WritePlan.flushEvery.toString,
        "compact_every" -> WritePlan.compactEvery.toString,
        "min_compactions" -> WritePlan.minCompactions.toString,
        "read_parts" -> CqlWorkload.readParts.toString,
        "write_parts" -> CqlWorkload.writeParts.toString,
        "tail_writes" -> CqlWorkload.tailWrites.toString))))
  }
}
