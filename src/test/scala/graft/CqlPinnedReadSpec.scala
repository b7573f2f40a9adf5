package graft.cql

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** A read whose WHERE binds the full partition key runs its reconcile in one
  * task: one Spark job, no exchange. It must return exactly the rows of the
  * general read, keep the partition key in every stored scan, and fall back
  * to the exchange shape for tables with statics or inputs larger than
  * Spark's smallest file split.
  */
class CqlPinnedReadSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def tmpRoot(): String = Files.createTempDirectory("graft-pinned").toFile.getPath

  /** Rows as comparable values; collections as Scala collections. */
  private def values(r: Row, names: Seq[String]): Seq[Any] = names.map(n => r.getAs[Any](n) match {
    case s: scala.collection.Seq[_] => s.toList
    case m: scala.collection.Map[_, _] => m.toMap
    case v => v
  })

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => values(r, df.columns.toSeq))

  /** The unpinned `read(t)` rows with key `k` in `ks`, in clustering order. */
  private def expected(e: CqlEngine, t: String, ks: Set[Int], names: Seq[String]): Seq[Seq[Any]] =
    e.read(t).collect().toSeq.filter(r => ks(r.getAs[Int]("k")))
      .sortBy(r => (r.getAs[Int]("k"), r.getAs[Int]("c"))).map(values(_, names))

  private def exchanges(df: DataFrame): Seq[Exchange] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case x: Exchange => x }
  }

  /** (root path, PushedFilters) of every parquet scan in the plan. */
  private def scans(df: DataFrame): Seq[(String, String)] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
      (s.relation.location.rootPaths.map(_.toUri.getPath).mkString(","), s.metadata("PushedFilters"))
    }

  test("pinned reads return the rows of the unpinned read over random histories") {
    val rowCols = Seq("k", "c", "v", "l", "st", "m")
    (0 until 4).foreach { i =>
      val (stmts0, cuts) = CqlReconcileSpec.historyGen(Gen.Parameters.default, Seed(0x9149L + i)).get
      // the pinned shape needs a table without statics
      val stmts = stmts0.map(st => if (st.contains(" s = ") || st.contains("(k, s)")) "" else st)
      val e = new CqlEngine(spark)
      e.attachStorage(tmpRoot())
      e.execute("CREATE TABLE pl (k int, c int, v int, l list<int>, st set<int>, " +
        "m map<int, int>, PRIMARY KEY (k, c))")
      e.execute("CREATE TABLE pc (k int, c int, n counter, PRIMARY KEY (k, c))")
      stmts.zipWithIndex.foreach { case (st, j) =>
        if (st.nonEmpty) e.execute(st)
        cuts.get(j).foreach { kind =>
          Seq("pl", "pc").foreach(t => if (kind == "flush") e.flush(t) else e.compact(t))
        }
      }
      val history = stmts.zipWithIndex.filter(_._1.nonEmpty)
        .map { case (st, j) => st + cuts.get(j).fold("")(" -- " + _) }.mkString("\n")
      def check(q: String, want: Seq[Seq[Any]], ordered: Boolean): Unit = {
        val got = rowsOf(e.execute(q))
        if (ordered) assert(got === want, s"$q in history $i:\n$history")
        else assert(got.toSet === want.toSet && got.length === want.length, s"$q in history $i:\n$history")
      }
      val sel = "SELECT k, c, v, l, st, m FROM pl"
      (1 to 3).foreach { k =>
        val part = expected(e, "pl", Set(k), rowCols)
        val eq = e.execute(s"SELECT k, c, v, l, st, m, WRITETIME(v) FROM pl WHERE k = $k")
        assert(exchanges(eq).isEmpty, eq.queryExecution.executedPlan)
        assert(rowsOf(eq).toSet === expected(e, "pl", Set(k), rowCols :+ "_wt_v").toSet,
          s"k = $k in history $i:\n$history")
        check(s"$sel WHERE k = $k AND c >= 2", part.filter(_(1).asInstanceOf[Int] >= 2), ordered = true)
        check(s"$sel WHERE k = $k LIMIT 2", part.take(2), ordered = true)
        check(s"$sel WHERE k = $k ORDER BY c DESC", part.reverse, ordered = true)
        check(s"SELECT k, c, n FROM pc WHERE k = $k", expected(e, "pc", Set(k), Seq("k", "c", "n")),
          ordered = true)
      }
      val both = expected(e, "pl", Set(1, 2), rowCols)
      check(s"$sel WHERE k IN (1, 2)", both, ordered = false)
      check(s"$sel WHERE k IN (1, 2) PER PARTITION LIMIT 1",
        both.groupBy(_.head).values.map(_.head).toSeq, ordered = false)
      check("SELECT k, count(*), max(v) FROM pl WHERE k IN (1, 2, 3) GROUP BY k",
        both.groupBy(_.head).toSeq.sortBy(_._1.asInstanceOf[Int]).map { case (k, rs) =>
          val vs = rs.flatMap(r => Option(r(2)).map(_.asInstanceOf[Int]))
          Seq(k, rs.length.toLong, vs.maxOption.map(Int.box).orNull)
        }, ordered = true)
    }
  }

  /** A bench-shaped table: checkpoint, segment and tail, no statics. */
  private def layered(root: String, t: String, statics: Boolean = false): CqlEngine = {
    import spark.implicits._
    val e = new CqlEngine(spark)
    e.attachStorage(root)
    e.execute(s"CREATE TABLE $t (k bigint, c int, v text${if (statics) ", s text static" else ""}, " +
      "PRIMARY KEY (k, c))")
    e.bulkInsert(t, (0 until 600).map(i => (i / 6L, i % 6, s"v$i")).toDF("k", "c", "v"))
    e.compact(t)
    (0 until 20).foreach(i => e.execute(s"UPDATE $t SET v = 'seg$i' WHERE k = ${i * 5} AND c = 1"))
    e.flush(t)
    (0 until 20).foreach(i => e.execute(s"INSERT INTO $t (k, c, v) VALUES (${i * 5}, 7, 'tail$i')"))
    e.execute(s"DELETE FROM $t WHERE k = 40 AND c = 2")
    e
  }

  /** Spark jobs a statement's collect starts, counted through a job group. */
  private def jobsOf(df: DataFrame): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "pinned-read" => jobs.incrementAndGet()
          case "pinned-marker" => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pinned-read", "read")
      df.collect()
      // the listener bus is ordered: once the marker job is seen, every job
      // of the read has been seen too
      sc.setJobGroup("pinned-marker", "marker")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a pinned slice and a pinned group read run one job with no exchange, " +
    "and every stored scan keeps the partition key") {
    val e = layered(tmpRoot(), "pj")
    val ps = new PreparedStatements(e)
    val slice = ps.prepare("SELECT k, c, v FROM pj WHERE k = ? AND c >= ? LIMIT 5").id
    val group = ps.prepare("SELECT k, count(*), max(v) FROM pj WHERE k IN (?, ?, ?) GROUP BY k").id
    val all = e.read("pj").collect().toSeq
    def part(ks: Set[Long]) = all.filter(r => ks(r.getAs[Long]("k")))
    // once to warm the plans, then counted
    Seq(0, 1).foreach { _ =>
      val s = ps.execute(slice, 40L, 1)
      val g = ps.execute(group, 40L, 45L, 50L)
      assert(jobsOf(s) === 1)
      assert(jobsOf(g) === 1)
      assert(exchanges(s).isEmpty, s.queryExecution.executedPlan)
      assert(exchanges(g).isEmpty, g.queryExecution.executedPlan)
      assert(rowsOf(s) === part(Set(40L)).filter(_.getAs[Int]("c") >= 1).sortBy(_.getAs[Int]("c"))
        .take(5).map(values(_, Seq("k", "c", "v"))))
      assert(rowsOf(g).map(_.take(2)) === Seq(40L, 45L, 50L).map(k => Seq(k, part(Set(k)).length.toLong)))
      Seq(s -> "EqualTo(k,40)", g -> "In(k, [40,45,50])").foreach { case (df, key) =>
        val stored = scans(df).filter(p => p._1.contains("/checkpoint/") || p._1.contains("/segments/"))
        assert(stored.exists(_._1.contains("/checkpoint/")) && stored.exists(_._1.contains("/segments/")),
          scans(df))
        stored.foreach { case (path, pushed) => assert(pushed.contains(key), s"$path: $pushed") }
      }
    }
  }

  test("a table with a static column, or with inputs over the smallest file split, keeps the exchange") {
    def sameRows(e: CqlEngine, t: String): Seq[Exchange] = {
      val df = e.execute(s"SELECT k, c, v FROM $t WHERE k = 40")
      val want = e.read(t).collect().toSeq.filter(_.getAs[Long]("k") == 40L)
        .map(values(_, Seq("k", "c", "v")))
      assert(rowsOf(df).toSet === want.toSet && want.length === 6)
      exchanges(df)
    }
    assert(sameRows(layered(tmpRoot(), "ps", statics = true), "ps").nonEmpty)
    val e = layered(tmpRoot(), "pw")
    assert(sameRows(e, "pw").isEmpty)
    // either bound of the smallest split Spark's file-scan rule makes
    Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes").foreach { key =>
      val saved = spark.conf.get(key)
      spark.conf.set(key, "4096")
      try assert(sameRows(e, "pw").nonEmpty, key)
      finally spark.conf.set(key, saved)
      assert(sameRows(e, "pw").isEmpty, key)
    }
  }

  test("empty checkpoint tombstone parts are not scanned") {
    val root = tmpRoot()
    val e = layered(root, "pe")
    def parts(e: CqlEngine): Set[String] =
      scans(e.execute("SELECT k, c, v FROM pe WHERE k = 5")).map(p => new File(p._1).getName).toSet
    // the empty parts are still written
    Seq("pdel", "ranges").foreach(p => assert(new File(Storage.checkpointPart(root, "pe", p)).isDirectory))
    assert(!parts(e).contains("pdel") && !parts(e).contains("ranges"), parts(e))
    e.execute("DELETE FROM pe WHERE k = 5")
    e.execute("DELETE FROM pe WHERE k = 5 AND c >= 3")
    e.execute("DELETE FROM pe WHERE k = 10 AND c >= 3")
    e.compact("pe")
    assert(Set("rows", "pdel", "ranges").subsetOf(parts(e)), parts(e))
    assert(e.execute("SELECT k, c, v FROM pe WHERE k = 5").collect().isEmpty)
    assert(e.execute("SELECT c FROM pe WHERE k = 10").collect().map(_.getInt(0)).sorted.toSeq === Seq(0, 1, 2))
    // a manifest without row counts reads every part
    e.execute("INSERT INTO pe (k, c, v) VALUES (5, 1, 'back')")
    e.compact("pe")
    val manifest = new File(new File(root, "pe"), "manifest.json")
    val json = new String(Files.readAllBytes(manifest.toPath), UTF_8)
    assert(json.contains("\"partRows\""))
    Files.write(manifest.toPath, json.replaceAll(",\"partRows\":\\{[^}]*\\}", "").getBytes(UTF_8))
    val e2 = new CqlEngine(spark)
    e2.attachStorage(root)
    assert(Set("rows", "pdel", "ranges").subsetOf(parts(e2)), parts(e2))
    assert(e2.execute("SELECT k, c, v FROM pe WHERE k = 5").collect().map(_.toSeq).toSeq ===
      Seq(Seq(5L, 1, "back")))
  }
}
