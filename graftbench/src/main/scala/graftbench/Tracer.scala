package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans around every call the harness makes into a layer, plus a
  * SparkListener that attributes jobs, stages, tasks, CPU, GC, shuffle and
  * input records to the exact span that started them.
  *
  * An op is the root span; its phases (`cql.lower`, `spark.plan`, ...) are
  * children. Before each phase the harness tags the Spark jobs it starts
  * with `setJobGroup("<op>:<span>")`; jobs whose group is missing or stale
  * (started from a pooled thread that inherited an older group) fall back
  * to the phase whose wall interval contains their submission time.
  *
  * Untraced ops run their bodies directly: no span, no job group. In a
  * traced run ops alternate in blocks between traced and untraced, with the
  * listener detached for untraced blocks, so the run measures its own
  * overhead.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  // pre-sized: growing the buffer inside a sub-millisecond op would show as
  // harness time in that op's span
  private val spans = new mutable.ArrayBuffer[Span](1 << 16)
  private var stack: List[Span] = Nil
  private val listener = new JobListener
  private var attached = false

  /** Whether the op being run right now records spans. */
  def tracing: Boolean = stack.nonEmpty

  /** Whether ops run now are traced (the current block's mode). */
  def active: Boolean = attached

  /** Attach or detach the listener; drains queued events first so a
    * detach never drops the events of the ops that ran before it.
    */
  def setTracing(on: Boolean): Unit = if (enabled && on != attached) {
    org.apache.spark.BenchBus.drain(sc)
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    attached = on
  }

  /** Run one op; returns its result and wall time in ns. Traced only when
    * tracing is on for the current block.
    */
  def op[A](opId: String, kind: String)(body: => A): (A, Long) = {
    if (!attached) {
      val t0 = System.nanoTime()
      val r = body
      (r, System.nanoTime() - t0)
    } else {
      val s = open(kind, opId, parent = -1)
      stack = List(s)
      try {
        val r = body
        (r, close(s))
      } finally stack = Nil
    }
  }

  /** A phase of the current op: a child span whose Spark jobs are tagged. */
  def phase[A](name: String)(body: => A): A = stack match {
    case Nil => body
    case parent :: _ =>
      val s = open(name, parent.op, parent.id)
      sc.setJobGroup(s"${s.op}:${s.id}", name, interruptOnCancel = false)
      stack = s :: stack
      try body
      finally {
        sc.clearJobGroup()
        close(s)
        stack = stack.tail
      }
  }

  private def open(name: String, op: String, parent: Int): Span = {
    val s = Span(spans.size, name, parent, op, System.nanoTime(), System.currentTimeMillis())
    spans += s
    s
  }

  private def close(s: Span): Long = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    s.endNs - s.startNs
  }

  /** Finish: drain the bus, attribute every job to a span and return the
    * per-span Spark counters.
    */
  def finish(): Result = {
    setTracing(false)
    val byGroup = spans.map(s => s"${s.op}:${s.id}" -> s).toMap
    val counters = mutable.HashMap.empty[Int, Counters]
    // phases only: root spans never carry a job group
    val phaseSpans = spans.filter(_.parent >= 0).sortBy(_.startMs)
    def byTime(ms: Long): Option[Span] =
      phaseSpans.filter(s => s.startMs <= ms && ms <= s.endMs).lastOption
    listener.jobs.values.foreach { j =>
      val owner = j.group.flatMap(byGroup.get)
        .filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .orElse(byTime(j.startMs))
      owner.foreach { s =>
        val c = counters.getOrElseUpdate(s.id, new Counters)
        c.jobs += 1
        c.stages += j.stagesRun
        c.tasks += j.tasks
        c.cpuNs += j.cpuNs
        c.gcMs += j.gcMs
        c.shuffleBytes += j.shuffleBytes
        c.spillBytes += j.spillBytes
        c.recordsIn += j.recordsIn
        c.intervals += ((math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      }
    }
    Result(spans.toSeq, counters.toMap)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: String,
                        startNs: Long, startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    def durNs: Long = endNs - startNs
  }

  final class Counters {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, shuffleBytes, spillBytes, recordsIn = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Milliseconds of the span covered by at least one of its jobs. */
    def coveredMs: Long = {
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      intervals.filter(i => i._2 >= i._1).sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      covered
    }
  }

  final case class Result(spans: Seq[Span], counters: Map[Int, Counters]) {
    private lazy val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

    def childrenOf(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
    def roots: Seq[Span] = childrenOf(Span(-1, "", -1, "", 0L, 0L))
    def selfNs(s: Span): Long = s.durNs - childrenOf(s).map(_.durNs).sum
    def counters(s: Span): Counters = counters.getOrElse(s.id, new Counters)
  }

  /** One job as the listener saw it. */
  final class Job(val group: Option[String], val startMs: Long) {
    var endMs: Long = startMs
    var stagesRun, tasks = 0L
    var cpuNs, gcMs, shuffleBytes, spillBytes, recordsIn = 0L
  }

  /** Collects jobs and their task metrics; read only after the bus drains. */
  final class JobListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Job]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val j = new Job(group, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.recordsIn += m.inputMetrics.recordsRead
        }
      }
    }
  }
}
