package graftbench

/** The metric catalogue: every name the harness can print, with its unit.
  *
  * `endToEnd` is what an untraced run (`--trace 0`) prints and `perLayer`
  * what a traced run (`--trace 1`) prints; `BENCHMARK.json` lists exactly
  * these names (the harness tests compare the two). Every workload prints
  * every name of its mode: a layer a workload never reaches reads 0.
  */
object Metrics {
  final case class Spec(name: String, unit: String)

  /** Metrics a user of the system sees, defined for all three workloads.
    * `read_*` are SELECT latencies on the CQL workloads and headline-query
    * latencies on `analytics` (every analytics query is a read).
    */
  val endToEnd: Seq[Spec] = Seq(
    Spec("setup_s", "s"),
    Spec("ops_per_s", "ops/s"),
    Spec("read_p50_ms", "ms"),
    Spec("read_p90_ms", "ms"),
    Spec("peak_rss_mb", "MB"))

  /** The headline queries of `analytics`, in `graft.Bench` order. */
  def headline: Seq[String] = graft.Bench.headline

  val perLayer: Seq[Spec] = Seq(
    // workload-level figures that only some workloads have
    Spec("write_p50_ms", "ms"),
    Spec("write_p90_ms", "ms"),
    Spec("flush_p50_ms", "ms"),
    Spec("compact_p50_ms", "ms"),
    Spec("write_amp", "bytes/byte"),
    Spec("space_amp", "bytes/byte"),
    Spec("pass_s", "s"),
    // cql: statement text → AST → DataFrame
    Spec("cql.parse_ms", "ms"),
    Spec("cql.prepare_ms", "ms"),
    Spec("cql.lower_ms", "ms"),
    Spec("cql.lower_jobs", "count"),
    Spec("cql.write_ms", "ms"),
    // spark: Catalyst planning and execution of CQL reads
    Spec("spark.plan_ms", "ms"),
    Spec("spark.exec_ms", "ms"),
    Spec("spark.jobs_per_read", "count"),
    Spec("spark.stages_per_read", "count"),
    Spec("spark.tasks_per_read", "count"),
    Spec("spark.task_cpu_ms_per_read", "ms"),
    Spec("spark.gc_ms_per_read", "ms"),
    Spec("spark.driver_gap_ms_per_read", "ms"),
    Spec("spark.rows_scanned_per_row_returned", "ratio"),
    // cql storage: checkpoint + segments + tail
    Spec("cql.storage.read_fanin", "count"),
    Spec("cql.storage.flush_ms", "ms"),
    Spec("cql.storage.compact_ms", "ms"),
    Spec("cql.storage.bulk_insert_ms", "ms"),
    Spec("cql.storage.attach_ms", "ms"),
    Spec("cql.storage.bytes_written", "bytes"),
    Spec("cql.storage.files_written", "count"),
    Spec("cql.storage.compact_bytes_rewritten", "bytes"),
  ) ++ headline.flatMap(q => Seq(
    Spec(s"$q.build_ms", "ms"),
    Spec(s"$q.plan_ms", "ms"),
    Spec(s"$q.exec_ms", "ms"),
    Spec(s"$q.jobs", "count"))) ++ Seq(
    // analytics pass totals (mean per timed pass)
    Spec("spark.driver_gap_s", "s"),
    Spec("spark.task_cpu_s", "s"),
    Spec("spark.gc_s", "s"),
    Spec("spark.shuffle_bytes", "bytes"),
    Spec("spark.spill_bytes", "bytes"))

  def forMode(traced: Boolean): Seq[Spec] = if (traced) perLayer else endToEnd
}
