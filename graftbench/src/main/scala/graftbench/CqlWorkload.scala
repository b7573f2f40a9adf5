package graftbench

import java.io.File

import graft.cql.{CqlEngine, CqlParser, PreparedStatements}
import org.apache.spark.sql.DataFrame

import scala.util.control.NonFatal

/** `cql_read` and `cql_write`: a CQL table in a stored layout, driven by
  * one client thread in a closed loop, every read checked against
  * [[KvModel]].
  *
  *  - `cql_read`: 30k rows (5,000 partitions × 6 clustering rows) stored as
  *    one checkpoint, a bulk segment (~10% of rows), a segment flushed from
  *    50 statements, and a 50-statement tail; timed ops are prepared slice
  *    reads, prepared GROUP BY reads and prepared writes (9:9:2). No flush
  *    or compaction runs while timed.
  *  - `cql_write`: a 12k-row checkpoint (2,000 partitions); timed ops are
  *    distinct statement texts (INSERT, UPDATE, row and cell DELETE) under
  *    the fixed [[WritePlan]] flush/compact/read policy.
  */
object CqlWorkload {
  val readParts = 5000
  val writeParts = 2000
  val setupReps = 4
  val tailWrites = 50
  val warmReads = 6
  val keyspaceDdl =
    "CREATE KEYSPACE IF NOT EXISTS bench WITH replication = {'class': 'SimpleStrategy', 'replication_factor': 1}"
  val tableDdl = s"CREATE TABLE ${Op.Tbl} (k bigint, c int, v text, n bigint, PRIMARY KEY (k, c))"

  /** A layout under construction or ready: its storage root, the engine
    * serving it, the model mirroring it and what its storage wrote.
    */
  final class Layout(val root: File, val parts: Int) {
    val model = new KvModel
    val tally = new StorageTally(root)
    var engine: CqlEngine = _
    var ps: PreparedStatements = _
    var ids = Map.empty[String, String]
    var tail = 0L
    /** Logical bytes of every row and statement written. */
    var userBytes = 0L
    var compactBytes = 0L
    def tableDir: Option[File] = Option(root.listFiles()).flatMap(_.find(_.isDirectory))
  }

  def run(r: Run): Unit = {
    val read = r.workload == "cql_read"
    val reps = (0 until setupReps).map { rep =>
      val t0 = System.nanoTime()
      val l = setup(r, read, rep)
      val s = (System.nanoTime() - t0) / 1e9
      r.metrics(s"setup.rep$rep") = s
      (l, s)
    }
    // the first set-up runs on cold code paths: it warms up, it is not counted
    r.metrics("setup_s") = Stats.median(reps.drop(1).map(_._2))
    val l = reps.last._1
    r.mark("warmup")
    // warm-up: checked reads of existing rows until the read path's JIT settles
    val warm = new ReadPlan(r.seed, l.parts, salt = 0x3A).filter(_.kind.startsWith("read"))
    warm.take(warmReads).zipWithIndex.foreach { case (op, i) =>
      exec(r, l, op, s"setup.warm$i", prepared = read)
    }
    r.mark("timed")
    if (read) timed(r, l, new ReadPlan(r.seed, l.parts), prepared = true, minCompactions = 0)
    else timed(r, l, new WritePlan(r.seed, l.parts), prepared = false, WritePlan.minCompactions)
    // storage figures cover the last set-up and the timed phase
    r.metrics("space_amp") = l.tally.totalBytes.toDouble / math.max(1L, l.model.liveBytes)
    r.metrics("write_amp") = l.tally.bytesWritten.toDouble / math.max(1L, l.userBytes)
    r.metrics("cql.storage.bytes_written") = l.tally.bytesWritten
    r.metrics("cql.storage.files_written") = l.tally.filesWritten
    r.metrics("cql.storage.compact_bytes_rewritten") = l.compactBytes
  }

  /** One set-up into a fresh storage root: create the table, bulk-load and
    * compact it; for `cql_read` add a bulk segment and a segment flushed
    * from statements; re-attach the root from a fresh engine (a restart);
    * for `cql_read` write the statement tail and prepare the statements.
    */
  private def setup(r: Run, read: Boolean, rep: Int): Layout = {
    r.tracer.setTracing(r.traced)
    val l = new Layout(new File(r.outDir, s"storage-$rep"), if (read) readParts else writeParts)
    def step[A](name: String, layer: String)(body: => A): A =
      r.tracer.op(s"setup$rep.$name", "setup")(r.tracer.phase(layer)(body))._1
    l.engine = new CqlEngine(r.spark)
    step("attach0", "cql.storage.attach")(l.engine.attachStorage(l.root.getPath))
    l.engine.execute(keyspaceDdl)
    l.engine.execute(tableDdl)
    step("bulk0", "cql.storage.bulk_insert")(bulk(r, l, gen = 0, salt = None))
    exec(r, l, Op.Compact, s"setup$rep.compact", prepared = false)
    val writes = new WriteGen(r.seed, 0x7A, l.parts, newPartitionShare = 0.0)
    if (read) {
      step("bulk1", "cql.storage.bulk_insert")(bulk(r, l, gen = 1, salt = Some(0xB)))
      (0 until tailWrites).foreach(i => exec(r, l, writes.next(), s"setup$rep.seg$i", prepared = false))
      exec(r, l, Op.Flush, s"setup$rep.flush", prepared = false)
    }
    l.engine = new CqlEngine(r.spark)
    step("attach", "cql.storage.attach")(l.engine.attachStorage(l.root.getPath))
    l.engine.execute(keyspaceDdl)
    l.ps = new PreparedStatements(l.engine)
    if (read) {
      (0 until tailWrites).foreach(i => exec(r, l, writes.next(), s"setup$rep.tail$i", prepared = false))
      l.ids = Op.preparedText.map { case (kind, text) =>
        kind -> step(s"prepare.$kind", "cql.prepare")(l.ps.prepare(text)).id
      }
    }
    l
  }

  /** Bulk-load partitions [0, parts) × 6 clustering rows at generation
    * `gen`; with a salt, only the ~10% of rows it selects.
    */
  private def bulk(r: Run, l: Layout, gen: Int, salt: Option[Long]): Unit = {
    val seed = r.seed
    val g = gen.toLong
    import r.spark.implicits._
    val df = r.spark.range(0L, l.parts * 6L).flatMap { id =>
      val i = (id / 6).toInt
      val j = (id % 6).toInt
      if (Keys.inBulk(seed, i, j, salt))
        Some((Keys.partition(seed, i), Keys.clustering(seed, j), Keys.value(seed, i, j, g),
          Keys.number(seed, i, j, g)))
      else None
    }.toDF("k", "c", "v", "n")
    l.engine.bulkInsert(Op.Tbl, df)
    l.tally.update()
    val ts = l.model.tick()
    for (i <- 0 until l.parts; j <- 0 until 6 if Keys.inBulk(seed, i, j, salt)) {
      val v = Keys.value(seed, i, j, g)
      l.model.insert(Keys.partition(seed, i), Keys.clustering(seed, j), v, Keys.number(seed, i, j, g), ts)
      l.userBytes += 20L + v.length
    }
  }

  /** The closed loop: until `--seconds` is spent and at least
    * `minCompactions` compactions ran (capped at 6× the seconds).
    */
  private def timed(r: Run, l: Layout, plan: Iterator[Op], prepared: Boolean,
                    minCompactions: Int): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + r.seconds * 1000000000L
    val cap = t0 + 6L * r.seconds * 1000000000L
    var i = 0L
    var compactions = 0
    def now = System.nanoTime()
    while ((now < deadline || compactions < minCompactions) && now < cap) {
      r.tracer.setTracing(r.traceBlock(i, 4))
      val op = plan.next()
      exec(r, l, op, s"op$i", prepared)
      if (op == Op.Compact) compactions += 1
      i += 1
    }
    r.metrics("ops_per_s") = i / ((now - t0) / 1e9)
    r.metrics("compactions") = compactions
  }

  /** Run one op through the engine, record its latency and check it.
    * Read and write latencies count only for timed ops (not `setup*`).
    */
  private def exec(r: Run, l: Layout, op: Op, opId: String, prepared: Boolean): Unit = {
    val t = r.tracer
    val e = l.engine
    r.attempted += 1
    try op match {
      case Op.Flush =>
        val (_, ns) = t.op(opId, op.kind)(t.phase("cql.storage.flush")(e.flush(Op.Tbl)))
        r.record("flush", ns)
        l.tail = 0
        l.tally.update()
      case Op.Compact =>
        val (_, ns) = t.op(opId, op.kind)(t.phase("cql.storage.compact")(e.compact(Op.Tbl)))
        r.record("compact", ns)
        l.tail = 0
        l.compactBytes += l.tally.update(s"${File.separator}checkpoint${File.separator}")
      case _: Op.Slice | _: Op.Group =>
        val traced = t.active
        val fanin = if (traced) readFanin(l) else 0
        val (rows, ns) = t.op(opId, op.kind) {
          def lower(): DataFrame =
            if (prepared) l.ps.execute(l.ids(op.kind), Op.binds(op): _*)
            else if (t.tracing) e.run(t.phase("cql.parse")(CqlParser.parse(Op.text(op))))
            else e.execute(Op.text(op))
          if (t.tracing) {
            val df = t.phase("cql.lower")(lower())
            t.phase("spark.plan")(df.queryExecution.executedPlan)
            t.phase("spark.exec")(df.collect())
          } else lower().collect()
        }
        if (!opId.startsWith("setup")) {
          r.record("read", ns)
          r.record(if (traced) "read@traced" else "read@untraced", ns)
          if (traced) {
            r.sample("returned", rows.length.toDouble)
            r.sample("fanin", fanin.toDouble)
          }
        }
        val got = Check.rows(rows)
        r.check(s"$opId ${Op.text(op)}",
          if (op.kind == "read.group") got.sortBy(_.head.asInstanceOf[Long]) else got,
          Op.expected(l.model, op))
      case w =>
        val (_, ns) = t.op(opId, w.kind) {
          if (prepared) t.phase("cql.write")(l.ps.execute(l.ids(w.kind), Op.binds(w): _*))
          else if (t.tracing) {
            val stmt = t.phase("cql.parse")(CqlParser.parse(Op.text(w)))
            t.phase("cql.write")(e.run(stmt))
          } else e.execute(Op.text(w))
        }
        Op.applyTo(l.model, w)
        l.tail += 1
        l.userBytes += w.logicalBytes
        if (!opId.startsWith("setup")) r.record("write", ns)
    } catch {
      case NonFatal(ex) => r.fail(s"$opId ${op.kind} threw ${ex.getClass.getName}: ${ex.getMessage}")
    }
  }

  /** Inputs a read merges: checkpoint + segment files + a non-empty tail. */
  private def readFanin(l: Layout): Int = l.tableDir.map { d =>
    val ck = if (new File(d, "checkpoint").isDirectory) 1 else 0
    val segs = Option(new File(d, "segments").listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    ck + segs + (if (l.tail > 0) 1 else 0)
  }.getOrElse(0)
}
