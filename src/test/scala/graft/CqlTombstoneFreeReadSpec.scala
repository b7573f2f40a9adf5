package graft.cql

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** A table state that holds no partition or range tombstone, in its
  * checkpoint, its segments or its tail, reconciles without the tombstone
  * window: no marker rows, no shadow step. It must read exactly what the
  * window shape reads, and any such tombstone, stored or not, brings the
  * window back.
  */
class CqlTombstoneFreeReadSpec extends CqlReadProbes {
  import CqlReconcileSpec.historyGen

  private def tmpRoot(): String = Files.createTempDirectory("graft-tombfree").toFile.getPath

  private def hashExchanges(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case x: ShuffleExchangeExec if x.outputPartitioning.isInstanceOf[HashPartitioning] => x
    }.length
  }

  test("a tombstone-free pinned slice and group read plan no window, run one job " +
    "and keep the partition key in every stored scan") {
    val e = layered(tmpRoot(), "fj")
    val ps = new PreparedStatements(e)
    val slice = ps.prepare("SELECT k, c, v FROM fj WHERE k = ? AND c >= ? LIMIT 5").id
    val group = ps.prepare("SELECT k, count(*), max(v) FROM fj WHERE k IN (?, ?, ?) GROUP BY k").id
    val all = e.read("fj").collect().toSeq
    def part(ks: Set[Long]) = all.filter(r => ks(r.getAs[Long]("k")))
    assert(all.length === 619)
    // once to warm the plans, then counted
    Seq(0, 1).foreach { _ =>
      val s = ps.execute(slice, 40L, 1)
      val g = ps.execute(group, 40L, 45L, 50L)
      assert(windows(s).isEmpty, s.queryExecution.executedPlan)
      assert(windows(g).isEmpty, g.queryExecution.executedPlan)
      assert(jobsOf(s) === 1)
      assert(jobsOf(g) === 1)
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
    // over the smallest split the read is not pinned: the fold and the
    // GROUP BY still share one exchange on the partition key
    val saved = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "4096")
    try {
      val g = ps.execute(group, 40L, 45L, 50L)
      assert(windows(g).isEmpty, g.queryExecution.executedPlan)
      assert(hashExchanges(g) === 1, g.queryExecution.executedPlan)
      assert(rowsOf(g).map(_.take(2)) === Seq(40L, 45L, 50L).map(k => Seq(k, part(Set(k)).length.toLong)))
    } finally spark.conf.set("spark.sql.files.openCostInBytes", saved)
  }

  test("histories without partition or range deletes read the same in both shapes " +
    "and the same as a storage-less engine") {
    val ddl = Seq(
      "CREATE TABLE pl (k int, c int, s int static, v int, l list<int>, st set<int>, " +
        "m map<int, int>, PRIMARY KEY (k, c))",
      "CREATE TABLE pc (k int, c int, n counter, PRIMARY KEY (k, c))")
    val reads = Seq("SELECT k, c, s, v, l, st, m, WRITETIME(v) FROM pl", "SELECT k, c, n FROM pc")
    // a partition DELETE of a key no statement writes forces the window
    val unread = Seq("DELETE FROM pl WHERE k = 9", "DELETE FROM pc WHERE k = 9")
    (0 until 4).foreach { i =>
      val (stmts0, cuts) = historyGen(Gen.Parameters.default, Seed(0x5EC0L + i)).get
      // row deletes bind the full clustering; partition and range deletes go
      val stmts = stmts0.map(st => if (st.startsWith("DELETE FROM") && !st.contains("AND c = ")) "" else st)
      val whole = new CqlEngine(spark)
      val free = new CqlEngine(spark)
      val windowed = new CqlEngine(spark)
      free.attachStorage(tmpRoot())
      windowed.attachStorage(tmpRoot())
      val engines = Seq(whole, free, windowed)
      ddl.foreach(d => engines.foreach(_.execute(d)))
      unread.foreach(windowed.execute)
      stmts.zipWithIndex.foreach { case (st, j) =>
        if (st.nonEmpty) engines.foreach(_.execute(st))
        cuts.get(j).foreach { kind =>
          Seq(free, windowed).foreach(e =>
            Seq("pl", "pc").foreach(t => if (kind == "flush") e.flush(t) else e.compact(t)))
        }
      }
      val history = stmts.zipWithIndex.filter(_._1.nonEmpty)
        .map { case (st, j) => st + cuts.get(j).fold("")(" -- " + _) }.mkString("\n")
      reads.foreach { q =>
        val Seq(w, f, x) = engines.map(e => e.execute(q).collect().map(_.toSeq).toSet)
        assert(f === w, s"$q, tombstone-free, in history $i:\n$history")
        assert(x === w, s"$q, with the window, in history $i:\n$history")
      }
      assert(windows(free.execute(reads.head)).isEmpty, s"history $i")
      assert(windows(windowed.execute(reads.head)).nonEmpty, s"history $i")
    }
  }

  test("a partition delete and a range delete bring the window back through flush and compact") {
    import spark.implicits._
    Seq("DELETE FROM fd WHERE k = 5", "DELETE FROM fd WHERE k = 5 AND c >= 3").foreach { d =>
      val e = new CqlEngine(spark)
      val mirror = new CqlEngine(spark)
      e.attachStorage(tmpRoot())
      Seq(e, mirror).foreach { x =>
        x.execute("CREATE TABLE fd (k int, c int, v text, PRIMARY KEY (k, c))")
        x.bulkInsert("fd", (0 until 60).map(i => (i / 6, i % 6, s"v$i")).toDF("k", "c", "v"))
      }
      e.compact("fd")
      def check(step: String, window: Boolean): Unit =
        Seq("SELECT k, c, v FROM fd", "SELECT k, c, v FROM fd WHERE k = 5").foreach { q =>
          val df = e.execute(q)
          assert(windows(df).nonEmpty === window, s"$q after $d, $step: ${df.queryExecution.executedPlan}")
          assert(rowsOf(df).toSet === rowsOf(mirror.execute(q)).toSet, s"$q after $d, $step")
        }
      check("compact", window = false)
      Seq(e, mirror).foreach(_.execute(d))
      check("the delete", window = true)
      e.flush("fd")
      check("flush", window = true)
      e.compact("fd")
      check("compact", window = true)
      Seq(e, mirror).foreach(_.execute("INSERT INTO fd (k, c, v) VALUES (5, 4, 'back')"))
      check("an insert", window = true)
      assert(rowsOf(e.execute("SELECT c FROM fd WHERE k = 5")).flatten ===
        (if (d.contains("c >=")) Seq(0, 1, 2, 4) else Seq(4)))
    }
  }

  test("a manifest without segment tombstone records reads through the window") {
    val root = tmpRoot()
    val e = layered(root, "fm")
    val q = "SELECT k, c, v FROM fm WHERE k = 40"
    assert(windows(e.execute(q)).isEmpty)
    val manifest = new File(new File(root, "fm"), "manifest.json")
    val json = new String(Files.readAllBytes(manifest.toPath), UTF_8)
    assert(json.contains("\"segmentTombstones\":{\""), json)
    // the tail is not durable: what re-attaches is checkpoint and segments
    e.flush("fm")
    val want = rowsOf(e.execute(q))
    Files.write(manifest.toPath, new String(Files.readAllBytes(manifest.toPath), UTF_8)
      .replaceAll(",\"segmentTombstones\":\\{[^}]*\\}", "").getBytes(UTF_8))
    val e2 = new CqlEngine(spark)
    e2.attachStorage(root)
    val df = e2.execute(q)
    assert(windows(df).nonEmpty, df.queryExecution.executedPlan)
    assert(rowsOf(df) === want)
    // a compaction records the state tombstone-free again
    e2.compact("fm")
    assert(windows(e2.execute(q)).isEmpty)
    assert(rowsOf(e2.execute(q)) === want)
  }

  test("a cell and a collection op written at the smallest timestamp read the same in both shapes") {
    val e = new CqlEngine(spark)
    e.attachStorage(tmpRoot())
    e.execute("CREATE TABLE fs (k int, c int, v int, st set<int>, PRIMARY KEY (k, c))")
    e.execute("INSERT INTO fs (k, c, v) VALUES (1, 1, 7) USING TIMESTAMP -9223372036854775808")
    e.execute("UPDATE fs USING TIMESTAMP -9223372036854775808 SET st = st + {3} WHERE k = 1 AND c = 2")
    val q = "SELECT k, c, v, st FROM fs"
    // a cell at the smallest timestamp is never live; a collection op is
    val want = Seq(Seq(1, 2, null, List(3)))
    Seq("the tail", "compact").foreach { at =>
      if (at == "compact") e.compact("fs")
      assert(windows(e.execute(q)).isEmpty, at)
      assert(rowsOf(e.execute(q)) === want, at)
    }
    e.execute("DELETE FROM fs WHERE k = 9")
    assert(windows(e.execute(q)).nonEmpty)
    assert(rowsOf(e.execute(q)) === want)
  }
}
