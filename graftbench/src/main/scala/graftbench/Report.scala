package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graftbench.Tracer.Span

/** Turns a finished run into its metrics, the span log and the summary. */
object Report {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  /** A JSON number with every digit the double carries. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def writeJson(f: File, fields: Seq[(String, String)]): Unit =
    Files.write(f.toPath, (obj(fields) + "\n").getBytes(UTF_8))

  /** The untraced run's metrics (the `end_to_end` list). */
  def endToEnd(r: Run): Map[String, Double] = Map(
    "setup_s" -> r.metrics.getOrElse("setup_s", 0.0),
    "ops_per_s" -> r.metrics.getOrElse("ops_per_s", 0.0),
    "read_p50_ms" -> Stats.pct(r.values("read"), 0.5),
    "read_p90_ms" -> Stats.pct(r.values("read"), 0.9),
    "peak_rss_mb" -> Stats.peakRssMb())

  /** The traced run's metrics (the `per_layer` list); 0 where the workload
    * never reaches a layer.
    */
  def perLayer(r: Run, res: Tracer.Result): Map[String, Double] = {
    val timed = res.roots.filterNot(_.op.startsWith("setup"))
    val setup = res.roots.filter(_.op.startsWith("setup"))
    def desc(s: Span): Seq[Span] = res.childrenOf(s).flatMap(c => c +: desc(c))
    def named(roots: Seq[Span], name: String): Seq[Span] = roots.flatMap(desc).filter(_.name == name)
    def meanMs(spans: Seq[Span]): Double = Stats.mean(spans.map(_.durNs / 1e6))
    def total(roots: Seq[Span])(f: Tracer.Counters => Long): Double =
      roots.flatMap(desc).map(s => f(res.counters(s))).sum.toDouble
    def gapMs(s: Span): Double = math.max(0.0, s.durNs / 1e6 - res.counters(s).coveredMs)

    val reads = timed.filter(_.name.startsWith("read."))
    val perRead = (f: Tracer.Counters => Long) => if (reads.isEmpty) 0.0 else total(reads)(f) / reads.size
    val returned = r.samples.get("returned").map(_.sum).getOrElse(0.0)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("write_p50_ms") = Stats.pct(r.values("write"), 0.5)
    m("write_p90_ms") = Stats.pct(r.values("write"), 0.9)
    m("flush_p50_ms") = Stats.pct(r.values("flush"), 0.5)
    m("compact_p50_ms") = Stats.pct(r.values("compact"), 0.5)
    m("write_amp") = r.metrics.getOrElse("write_amp", 0.0)
    m("space_amp") = r.metrics.getOrElse("space_amp", 0.0)
    m("pass_s") = r.metrics.getOrElse("pass_s", 0.0)
    m("cql.parse_ms") = meanMs(named(res.roots, "cql.parse"))
    m("cql.prepare_ms") = meanMs(named(setup, "cql.prepare"))
    m("cql.lower_ms") = meanMs(named(reads, "cql.lower"))
    m("cql.lower_jobs") = Stats.mean(named(reads, "cql.lower").map(s => res.counters(s).jobs.toDouble))
    m("cql.write_ms") = meanMs(named(res.roots, "cql.write"))
    m("spark.plan_ms") = meanMs(named(reads, "spark.plan"))
    m("spark.exec_ms") = meanMs(named(reads, "spark.exec"))
    m("spark.jobs_per_read") = perRead(_.jobs)
    m("spark.stages_per_read") = perRead(_.stages)
    m("spark.tasks_per_read") = perRead(_.tasks)
    m("spark.task_cpu_ms_per_read") = perRead(_.cpuNs) / 1e6
    m("spark.gc_ms_per_read") = perRead(_.gcMs)
    m("spark.driver_gap_ms_per_read") =
      if (reads.isEmpty) 0.0 else named(reads, "spark.exec").map(gapMs).sum / reads.size
    m("spark.rows_scanned_per_row_returned") =
      if (returned <= 0) 0.0 else total(reads)(_.recordsIn) / returned
    m("cql.storage.read_fanin") = Stats.mean(r.samples.get("fanin").map(_.toSeq).getOrElse(Nil))
    m("cql.storage.flush_ms") = meanMs(named(res.roots, "cql.storage.flush"))
    m("cql.storage.compact_ms") = meanMs(named(res.roots, "cql.storage.compact"))
    m("cql.storage.bulk_insert_ms") = meanMs(named(setup, "cql.storage.bulk_insert"))
    m("cql.storage.attach_ms") = meanMs(named(setup, "cql.storage.attach"))
    Seq("cql.storage.bytes_written", "cql.storage.files_written", "cql.storage.compact_bytes_rewritten")
      .foreach(k => m(k) = r.metrics.getOrElse(k, 0.0))
    Metrics.headline.foreach { q =>
      val runs = timed.filter(_.name == q)
      m(s"$q.build_ms") = meanMs(named(runs, "q.build"))
      m(s"$q.plan_ms") = meanMs(named(runs, "q.plan"))
      m(s"$q.exec_ms") = meanMs(named(runs, "q.exec"))
      m(s"$q.jobs") = if (runs.isEmpty) 0.0 else total(runs)(_.jobs) / runs.size
    }
    val queries = timed.filter(s => Metrics.headline.contains(s.name))
    // traced query runs, in passes' worth (each query counts once a pass)
    val passes = math.max(1.0, queries.size.toDouble) / Metrics.headline.size
    m("spark.driver_gap_s") = queries.map { q =>
      math.max(0.0, q.durNs / 1e6 - desc(q).map(res.counters(_).coveredMs).sum)
    }.sum / 1000.0 / passes
    m("spark.task_cpu_s") = total(queries)(_.cpuNs) / 1e9 / passes
    m("spark.gc_s") = total(queries)(_.gcMs) / 1000.0 / passes
    m("spark.shuffle_bytes") = total(queries)(_.shuffleBytes) / passes
    m("spark.spill_bytes") = total(queries)(_.spillBytes) / passes
    m.toMap
  }

  /** Every span as one JSONL record, with its Spark counters. */
  def writeSpans(f: File, workload: String, res: Tracer.Result): Unit = {
    val w = Files.newBufferedWriter(f.toPath, UTF_8)
    try res.spans.foreach { s =>
      val c = res.counters(s)
      w.write(obj(Seq(
        "workload" -> str(workload), "op" -> str(s.op), "span" -> s.id.toString,
        "name" -> str(s.name), "parent" -> s.parent.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_ns" -> res.selfNs(s).toString, "jobs" -> c.jobs.toString,
        "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "task_cpu_ns" -> c.cpuNs.toString, "gc_ms" -> c.gcMs.toString,
        "shuffle_bytes" -> c.shuffleBytes.toString, "spill_bytes" -> c.spillBytes.toString,
        "records_in" -> c.recordsIn.toString, "job_covered_ms" -> c.coveredMs.toString)))
      w.write("\n")
    } finally w.close()
  }

  /** Self time per layer, the ±5% reconciliation of each timed op's layer
    * spans against its wall time, and the tracing overhead.
    */
  def summary(r: Run, res: Tracer.Result): Seq[(String, String)] = {
    val timed = res.roots.filterNot(_.op.startsWith("setup"))
    def desc(s: Span): Seq[Span] = res.childrenOf(s).flatMap(c => c +: desc(c))
    val wallNs = timed.map(_.durNs).sum.toDouble
    val layers = timed.flatMap(desc).groupBy(_.name).toSeq
      .map { case (name, ss) => name -> ss.map(res.selfNs).sum }
    val harnessNs = timed.map(res.selfNs).sum
    val selfTimes = (layers :+ ("harness" -> harnessNs)).sortBy(-_._2)
    val within = timed.count(s => s.durNs > 0 && res.selfNs(s).toDouble / s.durNs <= 0.05)
    val (tr, un) = (r.values("read@traced"), r.values("read@untraced"))
    val overhead =
      if (tr.isEmpty || un.isEmpty) None else Some(Stats.median(tr) / Stats.median(un) - 1.0)
    Seq(
      "workload" -> str(r.workload),
      "ops_traced" -> timed.size.toString,
      "layer_self_ms" -> obj(selfTimes.map { case (n, ns) => n -> num(ns / 1e6) }),
      "layer_share_of_wall" -> num(if (wallNs > 0) 1.0 - harnessNs / wallNs else 0.0),
      "ops_reconciled_within_5pct" -> within.toString,
      "read_p50_ms_traced" -> num(Stats.median(tr)),
      "read_p50_ms_untraced" -> num(Stats.median(un)),
      "tracing_overhead" -> overhead.map(num).getOrElse("null"))
  }
}
