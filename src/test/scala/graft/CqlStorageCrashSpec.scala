package graft.cql

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.io.File
import java.nio.file.{Files, Path}

/** Crash consistency of the CQL storage layout (`cql/Storage.scala`): the
  * process dies after each durable step of flush, bulkInsert, compact (CDC
  * off and on), TRUNCATE and DROP; a fresh engine re-attached to the root
  * must see exactly the state before the operation or the state after it.
  * The crash is an exception thrown from the engine's storage step seam;
  * the crashed engine is abandoned, as a dead process would be.
  */
class CqlStorageCrashSpec extends SparkSpec {

  private object Crash extends RuntimeException("injected crash")

  /** Two tables: regular cells with write timestamps, and counters. */
  private val ddl = Seq(
    "CREATE TABLE kv (k int, c int, v text, PRIMARY KEY (k, c))",
    "CREATE TABLE cnt (k int PRIMARY KEY, n counter)")

  private def writes(round: Int): Seq[String] = (1 to 3).flatMap { k =>
    Seq(s"INSERT INTO kv (k, c, v) VALUES ($k, $round, 'r$round-k$k')",
      s"UPDATE kv SET v = 'u$round' WHERE k = $k AND c = 0",
      s"UPDATE cnt SET n = n + ${round * 10 + k} WHERE k = $k")
  } :+ s"DELETE FROM kv WHERE k = 3 AND c = ${round - 1}"

  /** Durable history: a flushed segment, a checkpoint absorbing it, then
    * one more segment; the tail writes are replayed by each engine.
    */
  private def build(root: File, cdc: Boolean): Unit = {
    val e = engine(root, cdc)
    ddl.foreach(e.execute)
    writes(1).foreach(e.execute); Seq("kv", "cnt").foreach(e.flush)
    writes(2).foreach(e.execute); Seq("kv", "cnt").foreach(e.compact)
    writes(3).foreach(e.execute); Seq("kv", "cnt").foreach(e.flush)
  }
  private val tail = writes(4)

  private def engine(root: File, cdc: Boolean): CqlEngine = {
    val e = new CqlEngine(spark)
    e.attachStorage(root.getPath)
    e.cdcEnabled = cdc
    e
  }

  private def copy(from: File): File = {
    val to = Files.createTempDirectory("graft-crash").toFile
    Files.walk(from.toPath).forEach { (p: Path) =>
      val t = to.toPath.resolve(from.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    to
  }

  private val reads = Map(
    "kv" -> "SELECT k, c, v, WRITETIME(v) FROM kv", "cnt" -> "SELECT k, n FROM cnt")

  /** What a fresh engine sees of one table: its rows (None once dropped)
    * and the mutation records kept in live segments plus the CDC archive.
    */
  private type State = Map[String, (Option[Set[Seq[Any]]], Long)]

  /** The state a fresh engine attached to `root` sees, and whether later
    * writes then still win: a plain write over every stored timestamp, and
    * a counter delta landing once on the recovered sum.
    */
  private def check(root: File): (State, Option[String]) = {
    val e = engine(root, cdc = false)
    val s: State = reads.map { case (t, q) =>
      val rows =
        try Some(e.execute(q).collect().map(_.toSeq).toSet)
        catch { case ex: RuntimeException if ex.getMessage.contains("unconfigured table") => None }
      t -> (rows, mutationRecords(root, t))
    }
    val later = scala.util.Try {
      s("kv")._1.foreach { _ =>
        e.execute("INSERT INTO kv (k, c, v) VALUES (1, 1, 'later')")
        assert(e.execute("SELECT v FROM kv WHERE k = 1 AND c = 1").collect()
          .map(_.getString(0)).toSeq === Seq("later"))
      }
      s("cnt")._1.foreach { rows =>
        val before = rows.collectFirst { case Seq(1, n: Long) => n }.getOrElse(0L)
        e.execute("UPDATE cnt SET n = n + 1000 WHERE k = 1")
        assert(e.execute("SELECT n FROM cnt WHERE k = 1").collect().head.getLong(0) ===
          before + 1000L)
      }
    }
    (s, later.failed.toOption.map(ex => s"a later write lost: ${ex.getMessage}"))
  }

  /** Mutation records in a table's live segments and CDC archive; every
    * record of this history is distinct, so a duplicate archive shows.
    */
  private def mutationRecords(root: File, table: String): Long = {
    val dir = new File(root, table)
    val files = Seq("segments", "cdc").flatMap(d =>
      Option(new File(dir, d).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")))
    if (files.isEmpty) 0L
    else {
      import org.apache.spark.sql.functions.{count, count_distinct, col, lit}
      val r = spark.read.parquet(files.map(_.getPath): _*)
        .agg(count(lit(1)), count_distinct(col("k"), col("_op"), col("_ts"))).head()
      assert(r.getLong(1) === r.getLong(0), s"$table: a mutation record is stored twice")
      r.getLong(0)
    }
  }

  /** How the table directories differ from what their manifests allow:
    * the manifest, its listed segments with their checksums, the live
    * checkpoint generation and `cdc/`; stray files and missing ones.
    */
  private def layoutDiff(root: File): Seq[String] = reads.keys.toSeq.sorted.flatMap { t =>
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val dir = new File(root, t)
    def names(d: File) = Option(d.listFiles()).toSeq.flatten.map(_.getName)
    val found = names(dir).flatMap {
      case d @ ("segments" | "checkpoint") => names(new File(dir, d)).map(n => s"$d/$n")
      case n => Seq(n)
    }.toSet - "cdc"
    val listed = Option(new File(dir, "manifest.json")).filter(_.isFile).map { f =>
      val m = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(f.toPath), "UTF-8"))
      Set("manifest.json") ++ (m \ "segments").extract[Seq[String]]
        .flatMap(s => Seq(s"segments/$s", s"segments/.$s.crc")) ++
        (m \ "checkpoint").extractOpt[Long].map(g => s"checkpoint/$g")
    }.getOrElse(Set.empty)
    ((found -- listed).toSeq.map(n => s"$t/$n") ++
      (listed -- found).toSeq.map(n => s"$t/$n missing")).sorted
  }

  /** Replay the tail on a copy of `base` and run `op`, crashing after
    * durable step `crashAt` (0 = no crash); returns the root and the
    * number of durable steps the operation took.
    */
  private def run(base: File, cdc: Boolean, op: CqlEngine => Unit, crashAt: Int): (File, Int) = {
    val root = copy(base)
    val e = engine(root, cdc)
    tail.foreach(e.execute)
    var steps = 0
    e.storageStep = { _ =>
      steps += 1
      if (steps == crashAt) throw Crash
    }
    if (crashAt == 0) op(e) else assert(crashed(intercept[RuntimeException](op(e))))
    (root, steps)
  }

  private def crashed(ex: Throwable): Boolean =
    ex != null && (ex.eq(Crash) || crashed(ex.getCause))

  /** The durable history and the state before any operation, per CDC mode. */
  private val bases = scala.collection.mutable.Map.empty[Boolean, (File, State)]

  private def crashEverywhere(name: String, cdc: Boolean)(op: CqlEngine => Unit): Unit =
    test(s"crash after every durable step of $name leaves the state before or after it") {
      val (base, pre) = bases.getOrElseUpdate(cdc, {
        val base = Files.createTempDirectory("graft-crash-base").toFile
        build(base, cdc)
        val (pre, later) = check(copy(base))
        assert(later.isEmpty, later)
        (base, pre)
      })
      val (postRoot, steps) = run(base, cdc, op, crashAt = 0)
      val diff = layoutDiff(postRoot)
      assert(diff.isEmpty, s"$name: table directories differ from their manifests: $diff")
      val (post, later) = check(postRoot)
      assert(later.isEmpty, later)
      assert(steps > 0 && reads.keys.exists(t => pre(t) != post(t)),
        s"$name must change durable state")
      val bad = (1 to steps).flatMap { k =>
        val (got, later) = check(run(base, cdc, op, crashAt = k)._1)
        reads.keys.filterNot(t => got(t) == pre(t) || got(t) == post(t)).map(t =>
          s"$t after step $k of $steps: ${got(t)}; before ${pre(t)}; after ${post(t)}") ++
          later.map(l => s"after step $k of $steps: $l")
      }
      assert(bad.isEmpty, bad.mkString("\n"))
    }

  crashEverywhere("flush", cdc = false)(e => Seq("kv", "cnt").foreach(e.flush))
  crashEverywhere("bulkInsert", cdc = false) { e =>
    import spark.implicits._
    e.bulkInsert("kv", Seq((7, 1, "bulk"), (1, 0, "bulk")).toDF("k", "c", "v"))
  }
  crashEverywhere("compact", cdc = false)(e => Seq("kv", "cnt").foreach(e.compact))
  crashEverywhere("compact with CDC archiving", cdc = true)(e => Seq("kv", "cnt").foreach(e.compact))
  crashEverywhere("TRUNCATE", cdc = false)(e => Seq("kv", "cnt").foreach(t => e.execute(s"TRUNCATE $t")))
  crashEverywhere("DROP TABLE", cdc = false)(e => Seq("kv", "cnt").foreach(t => e.execute(s"DROP TABLE $t")))

  test("removals owed by a compaction or TRUNCATE run once: data written after " +
    "the restart that finished them survives the next restarts") {
    for (op <- Seq("compact", "truncate")) {
      val root = Files.createTempDirectory("graft-owed").toFile
      val e = engine(root, cdc = false)
      ddl.foreach(e.execute)
      writes(1).foreach(e.execute); e.flush("kv")
      writes(2).foreach(e.execute)
      if (op == "compact") e.compact("kv") else e.execute("TRUNCATE kv")
      val e2 = engine(root, cdc = false)
      e2.execute("INSERT INTO kv (k, c, v) VALUES (9, 9, 'after')"); e2.flush("kv")
      e2.execute("INSERT INTO kv (k, c, v) VALUES (9, 8, 'after')"); e2.flush("kv")
      val e3 = engine(root, cdc = false)
      assert(e3.execute("SELECT c FROM kv WHERE k = 9").collect().map(_.getInt(0)).toSet ===
        Set(8, 9), op)
    }
  }

  test("the manifest round-trips the schema: nested types, column kinds, " +
    "clustering order, default TTL and dropped columns survive a restart") {
    val root = Files.createTempDirectory("graft-schema").toFile
    val e = engine(root, cdc = false)
    e.execute("CREATE TYPE pt (x int, tag text)")
    e.execute("CREATE TABLE sch (k int, c int, s text static, v text, l list<int>, " +
      "st set<text>, m map<text, frozen<tuple<int, text>>>, p frozen<pt>, d duration, " +
      "gone int, PRIMARY KEY (k, c)) WITH CLUSTERING ORDER BY (c DESC) AND default_time_to_live = 60")
    e.execute("ALTER TABLE sch DROP gone")
    e.execute("INSERT INTO sch (k, c, s, v, l, st, m, p, d) VALUES (1, 1, 's', 'v', [1, 2], " +
      "{'a'}, {'x': (7, 'y')}, {x: 3, tag: 't'}, 12h30m) USING TTL 0")
    e.execute("INSERT INTO sch (k, c, v) VALUES (1, 2, 'w') USING TTL 0")
    e.flush("sch")
    val q = "SELECT k, c, s, v, l, st, m, p, d FROM sch"
    val cols = "SELECT column_name, kind, position, type FROM system_schema.columns " +
      "WHERE keyspace_name = 'graft' AND table_name = 'sch'"
    def rows(x: CqlEngine, s: String) = x.execute(s).collect().map(_.toSeq).toSeq
    val e2 = engine(root, cdc = false)
    assert(rows(e2, q) === rows(e, q)) // clustering DESC: c = 2 first
    assert(rows(e2, cols).toSet === rows(e, cols).toSet)
    e2.nowMicros = 1000L * 1000000L
    e2.execute("INSERT INTO sch (k, c, v) VALUES (2, 1, 'x') USING TIMESTAMP " + (1000L * 1000000L))
    assert(rows(e2, "SELECT ttl(v) FROM sch WHERE k = 2") === Seq(Seq(60)))
    val ex = intercept[RuntimeException](e2.execute("ALTER TABLE sch ADD gone int"))
    assert(ex.getMessage.contains("previously dropped"))
  }

  test("restart clock: a plain write after restart beats a future USING TIMESTAMP " +
    "write alike after compact and after flush") {
    def winner(persist: CqlEngine => Unit): String = {
      val root = Files.createTempDirectory("graft-clock").toFile
      val e = engine(root, cdc = false)
      e.execute("CREATE TABLE rc (k int PRIMARY KEY, v text)")
      e.execute("INSERT INTO rc (k, v) VALUES (1, 'future') USING TIMESTAMP 5000000000")
      persist(e)
      val e2 = engine(root, cdc = false)
      e2.execute("INSERT INTO rc (k, v) VALUES (1, 'plain')")
      e2.execute("SELECT v FROM rc WHERE k = 1").collect().head.getString(0)
    }
    assert(winner(_.compact("rc")) === winner(_.flush("rc")))
    assert(winner(_.compact("rc")) === "plain")
  }

  test("attachStorage reads manifests only: it launches no Spark job") {
    val root = Files.createTempDirectory("graft-attach").toFile
    val e = engine(root, cdc = false)
    ddl.foreach(e.execute)
    writes(1).foreach(e.execute); Seq("kv", "cnt").foreach(e.compact)
    writes(2).foreach(e.execute); Seq("kv", "cnt").foreach(e.flush)
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val group = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group == "attach-marker") marker.countDown() else seen.add(String.valueOf(group))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("attach-probe", "attach")
      val e2 = engine(root, cdc = false)
      // the listener bus is ordered: once the marker job is seen, every
      // job the attach started has been seen too
      sc.setJobGroup("attach-marker", "marker")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(!seen.contains("attach-probe"), "attachStorage launched a Spark job")
      assert(e2.execute("SELECT k, n FROM cnt").count() === 3L)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
