package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** `analytics`: rotated passes over the 20 `graft.Bench` headline queries,
  * each fully materialised with a `noop` write (the `graft.Bench` method,
  * without its contention sentinel).
  *
  * The tables are generated once per checkout and cached (see
  * [[AnalyticsData]]); each set-up copies them to a fresh directory and
  * loads every table through graft's loader. The first pass runs each query once with
  * its output written as parquet for the checker (DuckDB oracle or a
  * committed digest, see `checks.py`); it is outside the timed passes and
  * doubles as the JIT/codegen warm-up. The timed passes then run within
  * `--seconds` (at least one), each rotated 7 queries further than the last.
  * The seed changes nothing here: the tables are fixed, and so is the query
  * order, because the order decides which queries pay JIT and GC costs (with
  * a seed-picked order, `read_p50_ms` differed by ~20% between two seeds).
  */
object AnalyticsWorkload {
  val setupReps = 4

  def run(r: Run): Unit = {
    val names = Metrics.headline
    val master = AnalyticsData.cached(r.spark, r.cacheDir)
    val reps = (0 until setupReps).map { rep =>
      val dir = new File(r.outDir, s"tables-$rep")
      copyTree(master.toPath, dir.toPath)
      val t0 = System.nanoTime()
      graft.Tables.all.foreach(name => graft.Tables(r.spark, dir.getPath, name).count())
      val s = (System.nanoTime() - t0) / 1e9
      r.metrics(s"setup.rep$rep") = s
      (dir, s)
    }
    // the first set-up runs on cold code paths: it warms up, it is not counted
    r.metrics("setup_s") = Stats.median(reps.drop(1).map(_._2))
    val dir = reps.last._1.getPath

    // check pass (also the warm-up): outputs land in <out>/outputs/<query>
    r.mark("check")
    val outputs = new File(r.outDir, "outputs")
    names.foreach { q =>
      r.attempted += 1
      try graft.SparkEntry.queries(q)(r.spark, dir).write.mode("overwrite")
        .parquet(new File(outputs, q).getPath)
      catch { case NonFatal(e) => r.fail(s"$q threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (q, sql) =>
      names.contains(q) && !sql.contains("{FIX}")
    }
    Report.writeJson(new File(r.outDir, "oracle_sql.json"),
      oracles.toSeq.sortBy(_._1).map { case (q, sql) => q -> Report.str(sql) })
    Report.writeJson(new File(r.outDir, "check.json"), Seq(
      "tables" -> Report.str(dir), "outputs" -> Report.str(outputs.getPath),
      "queries" -> names.map(Report.str).mkString("[", ",", "]")))

    // timed passes: another pass starts only while the time left holds one
    // as long as the last. A traced run runs at least two and traces half
    // the queries of each pass, the other half in the next, so every query
    // is timed both traced and untraced at the same point of the run.
    r.mark("timed")
    val t = r.tracer
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + r.seconds * 1000000000L
    var p = 0
    def fits = passes.isEmpty || System.nanoTime() + passes.last * 1e9 <= deadline
    while (fits || (r.traced && p < 2)) {
      val order = rotate(names, 7 * (p + 1))
      val passStart = System.nanoTime()
      order.foreach { q =>
        t.setTracing(r.traceBlock(names.indexOf(q) + p.toLong, 1))
        r.attempted += 1
        try {
          val (_, ns) = t.op(s"pass$p.$q", q) {
            if (t.tracing) {
              val df = t.phase("q.build")(graft.SparkEntry.queries(q)(r.spark, dir))
              val qe = df.queryExecution
              t.phase("q.plan")(qe.executedPlan)
              t.phase("q.exec")(SQLExecution.withNewExecutionId(qe, Some(q))(
                qe.toRdd.foreach(_ => ())))
            } else
              graft.SparkEntry.queries(q)(r.spark, dir).write.format("noop")
                .mode("overwrite").save()
          }
          r.record("read", ns)
          r.record(if (t.active) "read@traced" else "read@untraced", ns)
        } catch { case NonFatal(e) => r.fail(s"$q threw ${e.getClass.getName}: ${e.getMessage}") }
      }
      passes += (System.nanoTime() - passStart) / 1e9
      p += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    r.metrics("ops_per_s") = p * names.size / wall
    r.metrics("pass_s") = Stats.median(passes.toSeq)
    r.metrics("passes") = p
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val paths = java.nio.file.Files.walk(from)
    try paths.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally paths.close()
  }

  private def rotate[A](xs: Seq[A], by: Int): Seq[A] = {
    val k = java.lang.Math.floorMod(by, xs.size)
    xs.drop(k) ++ xs.take(k)
  }
}

/** The analytics tables, generated by Spark from fixed hash expressions: the
  * same bytes on every run, so query outputs can be checked against a
  * committed digest. Row counts and column types follow the sf0.01 tables
  * of TESTDATA.md; values are synthetic.
  */
object AnalyticsData {
  val rows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 1500L, "supplier" -> 100L,
    "part" -> 2000L, "orders" -> 15000L, "lineitem" -> 60000L,
    "events" -> 10000L, "documents" -> 500L, "embeddings" -> 500L)

  private def h(salt: Int): Column = xxhash64(col("id"), lit(salt))
  private def u(salt: Int, m: Long): Column = pmod(h(salt), lit(m))
  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(salt, xs.size.toLong) + 1).cast(IntegerType))
  private def money(salt: Int, lo: Double, hi: Double): Column =
    (u(salt, ((hi - lo) * 100).toLong) / 100.0 + lit(lo)).cast(DoubleType)
  private def day(salt: Int, from: String, days: Long): Column =
    date_add(lit(from).cast(DateType), u(salt, days).cast(IntegerType)).cast(TimestampNTZType)

  private val vocab = Seq("a", "the", "data", "spark", "query", "table", "row", "column",
    "key", "value", "part", "order", "line", "customer", "scan", "filter", "join", "agg",
    "group", "sort", "hash", "merge", "window", "stream", "batch", "vector", "fast",
    "slow", "big", "small")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def range(name: String) = spark.range(0L, rows(name), 1L, 4)
    val id = col("id")
    Seq(
      "region" -> range("region").select(id.cast(IntegerType).as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast(IntegerType)).as("r_name")),
      "nation" -> range("nation").select(id.cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), id.cast(StringType)).as("n_name"),
        pmod(id, lit(5L)).cast(IntegerType).as("n_regionkey")),
      "customer" -> range("customer").select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        u(1, 25).cast(IntegerType).as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
        pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "supplier" -> range("supplier").select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        u(4, 25).cast(IntegerType).as("s_nationkey"), money(5, -999.99, 9999.99).as("s_acctbal")),
      "part" -> range("part").select(id.as("p_partkey"),
        concat(pick(6, Seq("small", "large", "red", "blue", "hot", "cold")), lit(" "),
          pick(7, Seq("ring", "bolt", "gear", "widget", "gizmo", "nut"))).as("p_name"),
        concat(lit("Brand#"), (u(8, 25) + 1).cast(StringType)).as("p_brand"),
        pick(9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
        (u(10, 50) + 1).cast(IntegerType).as("p_size"),
        (lit(900.0) + pmod(id, lit(1000L)) / 10.0).as("p_retailprice")),
      "orders" -> range("orders").select(id.as("o_orderkey"), u(11, 1500).as("o_custkey"),
        pick(12, Seq("O", "F", "P")).as("o_orderstatus"), money(13, 900.0, 450000.0).as("o_totalprice"),
        day(14, "1995-01-01", 2400).as("o_orderdate"),
        pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range("lineitem").select(u(16, 15000).as("l_orderkey"),
        u(17, 2000).as("l_partkey"), u(18, 100).as("l_suppkey"),
        (u(19, 7) + 1).cast(IntegerType).as("l_linenumber"),
        (u(20, 50) + 1).cast(DoubleType).as("l_quantity"), money(21, 900.0, 100000.0).as("l_extendedprice"),
        (u(22, 11) / 100.0).as("l_discount"), (u(23, 9) / 100.0).as("l_tax"),
        pick(24, Seq("A", "N", "R")).as("l_returnflag"), pick(25, Seq("O", "F")).as("l_linestatus"),
        day(26, "1995-01-02", 2500).as("l_shipdate")),
      "events" -> range("events").select(id.as("event_id"),
        // 2024-01-01 plus up to 30 days, in µs (the session zone is UTC)
        timestamp_micros(lit(1704067200000000L) + u(27, 30L * 86400L * 1000000L))
          .cast(TimestampNTZType).as("ts"),
        u(28, 150).as("user_id"),
        pick(29, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
        money(30, 0.01, 490.02).as("value"),
        concat(lit("{\"k\": "), u(31, 100).cast(StringType), lit("}")).as("props")),
      "documents" -> {
        // every 20th document repeats an earlier one's text (dedup has work)
        val src = when(pmod(id, lit(20L)) === 7L, id - 3L).otherwise(id)
        val words = transform(sequence(lit(0), (pmod(xxhash64(src, lit(32)), lit(60L)) + 8).cast(IntegerType)),
          p => element_at(array(vocab.map(lit): _*),
            (pmod(xxhash64(src, p, lit(33)), lit(vocab.size.toLong)) + 1).cast(IntegerType)))
        range("documents").select(id.as("doc_id"), array_join(words, " ").as("text"),
          pick(34, Seq("en", "de", "fr", "es", "zh")).as("lang"),
          concat(lit("src"), u(35, 20).cast(StringType)).as("source"))
          .withColumn("n_chars", length(col("text")).cast(LongType))
      },
      "embeddings" -> range("embeddings").select(id.as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(xxhash64(id, d, lit(36)), lit(20001L)) - 10000L) / 30000.0).cast(FloatType)).as("embedding"),
        u(37, 10).cast(IntegerType).as("label")))
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each). */
  def generate(spark: SparkSession, dir: String): Unit =
    tables(spark).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  /** The generated tables under `cache` (`run.py` keys the directory on this
    * file's contents), generating them on first use.
    */
  def cached(spark: SparkSession, cache: File): File = {
    val dir = new File(cache, "tables")
    if (!new File(dir, "_READY").isFile) {
      val tmp = new File(cache, s"tables-tmp-${ProcessHandle.current().pid()}")
      generate(spark, tmp.getPath)
      java.nio.file.Files.createFile(new File(tmp, "_READY").toPath)
      if (!tmp.renameTo(dir)) throw new java.io.IOException(s"could not move $tmp to $dir")
    }
    dir
  }
}
