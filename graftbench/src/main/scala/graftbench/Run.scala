package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run's shared state: arguments, the session, the tracer,
  * the checker's tallies and the recorded latencies.
  */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Int, val traced: Boolean, val outDir: File,
                val cacheDir: File, val plant: Boolean) {
  val tracer = new Tracer(spark.sparkContext, traced)

  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  private var planted = false

  /** Latencies in ms by series name (e.g. `read`, `write`, `flush`). */
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def record(name: String, ns: Long): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += ns / 1e6
  def values(name: String): Seq[Double] = series.get(name).map(_.toSeq).getOrElse(Nil)

  /** Raw per-op samples (not latencies), e.g. read fan-in. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  /** Check a result (its op is already counted in `attempted`); the first
    * checked read of a `--plant` run has one value altered first, to prove
    * the checker catches it.
    */
  def check(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Unit = {
    val seen =
      if (plant && !planted && got.nonEmpty) {
        planted = true
        got.updated(0, got.head.updated(0, "planted"))
      } else got
    Check.diff(what, seen, want).foreach(fail)
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (mismatches.size < 20) mismatches += msg
    System.err.println(s"[graftbench] MISMATCH $msg")
  }

  /** Whether op `opIndex` is traced: in a traced run, blocks of `block`
    * ops alternate between traced and untraced.
    */
  def traceBlock(opIndex: Long, block: Int): Boolean =
    traced && (opIndex / block) % 2 == 0

  val metrics = mutable.LinkedHashMap.empty[String, Double]

  /** Note the JVM's uptime (s) when a phase of the run starts. */
  def mark(phase: String): Unit =
    metrics(s"at.$phase") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

object Stats {
  /** Linear-interpolation percentile (q in [0, 1]); 0 for no values. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident set of this JVM (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** What the storage engine wrote: a snapshot of every file under a root,
  * diffed after each flush or compaction.
  */
final class StorageTally(root: File) {
  private var seen: Map[String, (Long, Long)] = snapshot()
  var bytesWritten = 0L
  var filesWritten = 0L

  /** Non-hidden regular files (checksums and markers excluded). */
  private def snapshot(): Map[String, (Long, Long)] = {
    val out = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      Option(f.listFiles()).foreach(_.foreach { c =>
        if (c.isDirectory) walk(c)
        else if (!c.getName.startsWith(".") && !c.getName.startsWith("_"))
          out += c.getPath -> ((c.length(), c.lastModified()))
      })
    walk(root)
    out.result()
  }

  /** Account files that appeared or changed since the last call; returns
    * the bytes of those under a path containing `under` (if given).
    */
  def update(under: String = "\u0000"): Long = {
    val now = snapshot()
    var inPath = 0L
    now.foreach { case (p, st) =>
      if (!seen.get(p).contains(st)) {
        bytesWritten += st._1
        filesWritten += 1
        if (p.contains(under)) inPath += st._1
      }
    }
    seen = now
    inPath
  }

  def totalBytes: Long = snapshot().valuesIterator.map(_._1).sum
}
