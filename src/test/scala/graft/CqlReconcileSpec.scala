package graft.cql

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.Files

/** The read-path reconcile: one fold over the checkpoint's state rows and
  * the segments' and tail's mutations. What a history reads must not depend
  * on where flush and compaction cut it, and a partition-key filter must
  * reach the stored files below the fold.
  */
class CqlReconcileSpec extends SparkSpec {
  import CqlReconcileSpec._

  private val ddl = Seq(
    "CREATE TABLE pl (k int, c int, s int static, v int, l list<int>, st set<int>, " +
      "m map<int, int>, PRIMARY KEY (k, c))",
    "CREATE TABLE pc (k int, c int, n counter, PRIMARY KEY (k, c))")

  // every column of `pl` (its `SELECT *`) and the write time of v
  private val reads = Seq("SELECT k, c, s, v, l, st, m, WRITETIME(v) FROM pl", "SELECT k, c, n FROM pc")

  private def results(e: CqlEngine): Seq[Set[Seq[Any]]] =
    reads.map(q => e.execute(q).collect().map(_.toSeq).toSet)

  test("a history reads the same wherever flush and compaction cut it into " +
    "checkpoint, segments and tail") {
    var layered = 0
    (0 until 4).foreach { i =>
      val (stmts, cuts) = historyGen(Gen.Parameters.default, Seed(0x5EC0L + i)).get
      val whole = new CqlEngine(spark)
      val cut = new CqlEngine(spark)
      cut.attachStorage(Files.createTempDirectory("graft-placement").toFile.getPath)
      ddl.foreach { d => whole.execute(d); cut.execute(d) }
      stmts.zipWithIndex.foreach { case (st, j) =>
        whole.execute(st); cut.execute(st)
        cuts.get(j).foreach { kind =>
          Seq("pl", "pc").foreach(t => if (kind == "flush") cut.flush(t) else cut.compact(t))
        }
      }
      // a checkpoint, then a segment, then a tail
      if (cuts.toSeq.sorted.map(_._2).dropWhile(_ != "compact").contains("flush")) layered += 1
      val history = stmts.zipWithIndex
        .map { case (st, j) => st + cuts.get(j).fold("")(" -- " + _) }.mkString("\n")
      reads.zip(results(whole).zip(results(cut))).foreach { case (q, (w, c)) =>
        assert(c === w, s"$q differs after the cuts of history $i:\n$history")
      }
    }
    assert(layered >= 2, s"only $layered histories had a checkpoint, segments and a tail")
  }

  test("a partition-key filter on a stored table reaches the checkpoint and " +
    "segment scans, with no full-outer join") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-plan").toFile.getPath
    val e = new CqlEngine(spark)
    e.attachStorage(root)
    e.execute("CREATE TABLE pg (k bigint, c int, v text, PRIMARY KEY (k, c))")
    e.bulkInsert("pg", (0 until 600).map(i => (i / 6L, i % 6, s"v$i")).toDF("k", "c", "v"))
    e.compact("pg")
    (0 until 20).foreach(i => e.execute(s"UPDATE pg SET v = 'seg$i' WHERE k = ${i * 5} AND c = 1"))
    e.flush("pg")
    (0 until 20).foreach(i => e.execute(s"INSERT INTO pg (k, c, v) VALUES (${i * 5}, 7, 'tail$i')"))
    e.execute("DELETE FROM pg WHERE k = 40 AND c = 2")

    val df = e.read("pg").filter(col("k") === 40L)
    assert(!df.queryExecution.executedPlan.toString.contains("FullOuter"),
      df.queryExecution.executedPlan.toString)
    val ckRows = Storage.checkpointPart(root, "pg", "rows")
    val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
      (s.relation.location.rootPaths.map(_.toUri.getPath).mkString(","), s.metadata("PushedFilters"))
    }
    val stored = scans.filter { case (paths, _) => paths.contains(ckRows) || paths.contains("/segments/") }
    assert(stored.exists(_._1.contains(ckRows)) && stored.exists(_._1.contains("/segments/")), scans)
    stored.foreach { case (paths, pushed) =>
      assert(pushed.contains("EqualTo(k,40)"), s"$paths: $pushed")
    }
    val filteredAfter = e.read("pg").collect().filter(_.getAs[Long]("k") == 40L)
    assert(filteredAfter.length === 6)
    assert(df.collect().map(_.toSeq).toSet === filteredAfter.map(_.toSeq).toSet)
  }
}

/** The history generator, shared with [[CqlPinnedReadSpec]]. */
object CqlReconcileSpec {
  /** One statement; `i` is its place in the history. Scalar writes and
    * deletes draw timestamps that often collide; collection writes get
    * distinct ones that never equal a scalar one. TTLs outlive the run
    * (the engine clock stays at 0).
    */
  def statement(i: Int): Gen[String] = {
    val x = Gen.chooseNum(0, 9)
    for {
      k <- Gen.chooseNum(1, 2); c <- Gen.chooseNum(1, 3); a <- x; b <- x
      slot <- Gen.chooseNum(1, 20)
      ttl <- Gen.oneOf("", " AND TTL 100000")
      scalarTs = s"USING TIMESTAMP ${slot * 100}"
      collTs = s"USING TIMESTAMP ${slot * 100 + 1 + i}"
      scalar = scalarTs + ttl
      coll = collTs + ttl
      row = s"WHERE k = $k AND c = $c"
      st <- Gen.frequency(
        3 -> s"INSERT INTO pl (k, c, v) VALUES ($k, $c, $a) $scalar",
        3 -> s"UPDATE pl $scalar SET v = $a $row",
        2 -> s"UPDATE pl $scalar SET s = $a WHERE k = $k",
        1 -> s"INSERT INTO pl (k, s) VALUES ($k, $a) $scalar",
        1 -> s"DELETE v FROM pl $scalarTs $row",
        1 -> s"DELETE FROM pl $scalarTs $row",
        1 -> s"DELETE FROM pl $scalarTs WHERE k = $k AND c >= $c",
        1 -> s"DELETE FROM pl $scalarTs WHERE k = $k",
        2 -> s"INSERT INTO pl (k, c, v, l, st, m) VALUES ($k, $c, $a, [$a], {$a}, {$a: $b}) $coll",
        2 -> s"UPDATE pl $coll SET l = l + [$a] $row",
        1 -> s"UPDATE pl $coll SET l = [$a, $b] $row",
        2 -> s"UPDATE pl $coll SET st = st + {$a} $row",
        1 -> s"UPDATE pl $coll SET st = st - {$a} $row",
        2 -> s"UPDATE pl $coll SET m[$a] = $b $row",
        1 -> s"DELETE m[$a] FROM pl $collTs $row",
        1 -> s"DELETE l FROM pl $collTs $row",
        // counters take the session clock, which only rises
        4 -> s"UPDATE pc SET n = n + ${a - 4} $row",
        1 -> s"DELETE FROM pc $row",
        1 -> s"DELETE FROM pc WHERE k = $k AND c >= $c",
        1 -> s"DELETE FROM pc WHERE k = $k")
    } yield st
  }

  /** A history and where it is cut: after statement `i`, flush or compact. */
  val historyGen: Gen[(Seq[String], Map[Int, String])] = for {
    n <- Gen.chooseNum(20, 32)
    stmts <- Gen.sequence[List[String], String]((0 until n).map(statement))
    cutAt <- Gen.listOfN(3, Gen.chooseNum(0, n - 2))
    kinds <- Gen.listOfN(3, Gen.frequency(3 -> "flush", 2 -> "compact"))
  } yield (stmts, cutAt.zip(kinds).toMap)
}
