package graft.cql

import graft.SparkSpec
import graft.functions.BindParam
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Bind values stay out of generated code (`functions/BindParams.scala`):
  * prepared reads with fresh values compile no new classes, return the rows
  * of the same statements run unprepared, and scans still receive real
  * literals; queries whose literals Spark matches outside filters read the
  * same as before the rule.
  */
class CqlPreparedCodegenSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sliceText = "SELECT c, v, n FROM kv WHERE k = ? AND c >= ? LIMIT 5"
  private val groupText = "SELECT k, count(*), sum(n) FROM kv WHERE k IN (?, ?, ?) GROUP BY k"

  /** A stored table shaped like the benchmark's: a checkpoint, a bulk
    * segment, a segment flushed from statements, and a statement tail. Its
    * layout repeats every 50 partitions, so reads of `k` and `k + 50` plan
    * alike and differ only in their bind values.
    */
  private lazy val engine: CqlEngine = {
    import spark.implicits._
    val e = new CqlEngine(spark)
    e.attachStorage(Files.createTempDirectory("graft-codegen").toFile.getPath)
    e.execute("CREATE TABLE kv (k bigint, c int, v text, n bigint, PRIMARY KEY (k, c))")
    e.bulkInsert("kv", (0 until 900).map(i => (i / 6L, i % 6, s"v$i", i.toLong)).toDF("k", "c", "v", "n"))
    e.compact("kv")
    val keys = (0 until 150).map(_.toLong)
    e.bulkInsert("kv", keys.filter(_ % 50 % 7 == 0).map(k => (k, 6, s"b$k", 1000L + k)).toDF("k", "c", "v", "n"))
    keys.filter(_ % 50 % 5 == 0).foreach(k => e.execute(s"UPDATE kv SET n = ${2000 + k} WHERE k = $k AND c = 1"))
    e.flush("kv")
    keys.filter(_ % 50 % 3 == 0).foreach(k => e.execute(s"INSERT INTO kv (k, c, v, n) VALUES ($k, 7, 't$k', ${3000 + k})"))
    e
  }
  private lazy val ps = new PreparedStatements(engine)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  // ten slice and five group reads over the first 50 partitions, shifted by `shift`
  private def slices(shift: Long): Seq[Seq[Any]] = (0 until 10).map(j => Seq(1L + 4 * j + shift, j % 6))
  private def groups(shift: Long): Seq[Seq[Any]] =
    (0 until 5).map(j => Seq(2L * j, 2L * j + 15, 2L * j + 31).map(_ + shift))

  test("prepared reads with fresh bind values compile no new classes and return " +
    "the rows of the same statements run unprepared") {
    val slice = ps.prepare(sliceText).id
    val group = ps.prepare(groupText).id
    // a plan shape compiles once; which sources hold rows of the key decides
    // it (the optimizer folds the tail's filter, and adaptive execution
    // drops empty stages), so the warm-up covers the shapes of the same
    // layout 50 partitions lower
    slices(0).foreach(b => ps.execute(slice, b: _*).collect())
    groups(0).foreach(b => ps.execute(group, b: _*).collect())
    val (sliceBinds, groupBinds) = (slices(50) ++ slices(100), groups(50) ++ groups(100))
    val before = compiles
    val sliceRows = sliceBinds.map(b => rows(ps.execute(slice, b: _*)))
    val groupRows = groupBinds.map(b => rows(ps.execute(group, b: _*)))
    assert(compiles - before === 0L)

    sliceBinds.zip(sliceRows).foreach { case (Seq(k, c), got) =>
      assert(got === rows(engine.execute(s"SELECT c, v, n FROM kv WHERE k = $k AND c >= $c LIMIT 5")))
    }
    groupBinds.zip(groupRows).foreach { case (ks, got) =>
      assert(got === rows(engine.execute(
        s"SELECT k, count(*), sum(n) FROM kv WHERE k IN (${ks.mkString(", ")}) GROUP BY k")))
    }
    assert(sliceRows.forall(_.nonEmpty) && groupRows.forall(_.size === 3))
  }

  test("without adaptive execution, prepared reads with fresh bind values compile no new classes") {
    val slice = ps.prepare(sliceText).id
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      slices(0).take(5).foreach(b => ps.execute(slice, b: _*).collect())
      val before = compiles
      slices(50).take(5).foreach(b => ps.execute(slice, b: _*).collect())
      assert(compiles - before === 0L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("the checkpoint and segment scans still push the bound key down as a literal") {
    val df = ps.execute(ps.prepare(sliceText).id, 40L, 1)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    val stored = scans.filter(s => s.relation.location.rootPaths.exists { p =>
      val path = p.toUri.getPath
      path.contains("/checkpoint/") || path.contains("/segments/")
    })
    assert(stored.exists(_.relation.location.rootPaths.exists(_.toUri.getPath.contains("/checkpoint/"))) &&
      stored.exists(_.relation.location.rootPaths.exists(_.toUri.getPath.contains("/segments/"))), scans)
    stored.foreach { s =>
      assert(s.metadata("PushedFilters").contains("EqualTo(k,40)"), s.metadata)
      assert(s.dataFilters.exists(_.exists { case Literal(40L, _) => true; case _ => false }), s.dataFilters)
    }
    val conditions = collect(plan) { case f: FilterExec => f.condition }
    assert(conditions.exists(_.exists(_ == BindParam(40L, org.apache.spark.sql.types.LongType))), conditions)
  }

  test("window frames, date filters and IN lists of more than 10 ints read the same " +
    "through the rule") {
    // a range, not a local relation: its filters are planned as FilterExec
    val data = (0 until 40).map(i => (i, i % 3))
    val df = spark.range(40).select(col("id").cast("int").as("id"), (col("id") % 3).cast("int").as("g"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int")).as("d"))

    val w = Window.partitionBy("g").orderBy("id").rowsBetween(-2, 0)
    val windowed = df.filter(col("id") > 5).withColumn("s", sum("id").over(w))
      .select("id", "s").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expectWindow = data.filter(_._1 > 5).groupBy(_._2).values.flatMap { xs =>
      val ids = xs.map(_._1).sorted
      ids.indices.map(j => ids(j) -> ids.slice(math.max(0, j - 2), j + 1).map(_.toLong).sum)
    }.toMap
    assert(windowed === expectWindow)

    val dated = df.filter(col("d") >= lit(java.sql.Date.valueOf("2020-01-15")))
    assert(dated.collect().map(_.getInt(0)).sorted.toSeq === (14 until 40))

    val in = (1 to 23 by 2)
    val inDf = df.filter(col("id").isin(in: _*))
    assert(inDf.collect().map(_.getInt(0)).sorted.toSeq === in)
    val inSets = collect(inDf.queryExecution.executedPlan) { case f: FilterExec => f.condition }
      .flatMap(_.collect { case s: InSet => s })
    assert(inSets.nonEmpty, inDf.queryExecution.executedPlan)
    assert(df.filter(col("d") === lit(java.sql.Date.valueOf("2020-01-03"))).collect().toSeq ===
      Seq(Row(2, 2, java.sql.Date.valueOf("2020-01-03"))))
  }
}
