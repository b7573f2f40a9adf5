package graft

import graft.streaming.MutationStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** File stream sources need a directory of log segments. */
  lazy val logDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-log")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("segment-000.parquet"))
    dir.toString
  }

  test("windowed counts over the CDC stream match the batch aggregate") {
    val stream = MutationStream.eventStream(spark, logDir)
    val q = MutationStream.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_counts")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT event_type, sum(n) AS n FROM win_counts GROUP BY event_type")
        .as[(String, Long)].collect().toMap
      val batch = Tables.events(spark, sf).groupBy("event_type").count()
        .as[(String, Long)].collect().toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("materialized-view maintenance upserts LWW-compacted batches, deletes flagged") {
    var total = 0L
    var deletes = 0L
    val stream = MutationStream.eventStream(spark, logDir)
    val q = MutationStream.maintainView(stream, Seq("user_id"),
      (batch, _) => {
        total += batch.count()
        deletes += batch.filter(col("_deleted")).count()
      }).start()
    try {
      q.processAllAvailable()
      // each micro-batch compacts to <= 1 row per user (15 users at sf0.001);
      // with maxFilesPerTrigger the log replays in >=1 batches
      assert(total >= 1)
      val users = Tables.events(spark, sf).select("user_id").distinct().count()
      assert(total <= users * 10, "per-batch compaction bounded by users x batches")
      // delete markers REACH the sink (a MERGE needs them to remove keys):
      // the fixture has 'error' mutations, so some batch's winner is one
      assert(deletes > 0, "no flagged delete ever reached the upsert sink")
    } finally q.stop()
  }

  test("engine CDC stream survives compaction (cdc_raw archiving)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val e = new graft.cql.CqlEngine(spark)
    e.attachStorage(dir)
    e.cdcEnabled = true
    e.execute("CREATE TABLE cdc1 (k int PRIMARY KEY, v int)")
    for (k <- 1 to 10) e.execute(s"INSERT INTO cdc1 (k, v) VALUES ($k, $k)")
    e.flush("cdc1")
    for (k <- 11 to 15) e.execute(s"INSERT INTO cdc1 (k, v) VALUES ($k, $k)")
    // compact consumes segments + tail; with CDC on they archive, not drop
    e.compact("cdc1")
    for (k <- 16 to 20) e.execute(s"INSERT INTO cdc1 (k, v) VALUES ($k, $k)")
    e.flush("cdc1")
    val stream = MutationStream.engineCdc(spark, dir, "cdc1", e.mutationSchema("cdc1"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("cdc_out").start()
    try {
      q.processAllAvailable()
      // the full mutation history is visible: pre-compact (archived) and
      // post-compact segments
      assert(spark.sql("SELECT count(*) FROM cdc_out").collect().head.getLong(0) === 20L)
      assert(spark.sql("SELECT count(DISTINCT k) FROM cdc_out").collect().head.getLong(0) === 20L)
    } finally q.stop()
  }

  test("engineCdc and bootstrapEngineView resolve qualified ks.table storage paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cdcq").toString
    val e = new graft.cql.CqlEngine(spark)
    e.attachStorage(dir)
    e.cdcEnabled = true
    e.execute("CREATE KEYSPACE cks WITH replication = {'class': 'SimpleStrategy'}")
    e.execute("CREATE TABLE cks.qt (k int PRIMARY KEY, v int)")
    for (k <- 1 to 8) e.execute(s"INSERT INTO cks.qt (k, v) VALUES ($k, $k)")
    e.flush("cks.qt")
    // the catalog-resolving overload maps cks.qt -> the ks-qualified
    // storage directory (MutationStream.scala engineCdc(engine, ...))
    val stream = MutationStream.engineCdc(spark, e, dir, "cks.qt")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("cdcq_out").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM cdcq_out").collect().head.getLong(0) === 8L)
    } finally q.stop()
    // bootstrap over the same qualified table: snapshot + tail = table
    e.compact("cks.qt")
    e.execute("UPDATE cks.qt SET v = 99 WHERE k = 2")
    e.execute("DELETE FROM cks.qt WHERE k = 3")
    e.flush("cks.qt")
    val state = scala.collection.mutable.Map.empty[Int, Int]
    val q2 = MutationStream.bootstrapEngineView(spark, e, dir, "cks.qt", Seq("k"),
      (batch, _) => batch.select("k", "v", "_op").collect().foreach { r =>
        if (Set("delrow", "delpart").contains(r.getString(2))) state.remove(r.getInt(0))
        else state(r.getInt(0)) = r.getInt(1)
      }).start()
    try {
      q2.processAllAvailable()
      val expected = e.execute("SELECT k, v FROM cks.qt").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(state.toMap === expected)
      assert(expected(2) === 99 && !expected.contains(3))
    } finally q2.stop()
  }

  test("bootstrapEngineView: checkpoint snapshot + post-compact tail = table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-boot").toString
    val e = new graft.cql.CqlEngine(spark)
    e.attachStorage(dir)
    e.execute("CREATE TABLE bt1 (k int PRIMARY KEY, v int)")
    for (k <- 1 to 5) e.execute(s"INSERT INTO bt1 (k, v) VALUES ($k, ${k * 10})")
    // absorb history into the checkpoint; segments dir now holds only what
    // comes after
    e.compact("bt1")
    e.execute("UPDATE bt1 SET v = 222 WHERE k = 2")
    e.execute("INSERT INTO bt1 (k, v) VALUES (6, 60)")
    e.execute("DELETE FROM bt1 WHERE k = 3")
    e.flush("bt1")
    // a view store applying the sink contract: latest record per key,
    // delete records remove
    val state = scala.collection.mutable.Map.empty[Int, Int]
    val q = MutationStream.bootstrapEngineView(spark, e, dir, "bt1", Seq("k"),
      (batch, _) => batch.select("k", "v", "_op").collect().foreach { r =>
        if (Set("delrow", "delpart").contains(r.getString(2))) state.remove(r.getInt(0))
        else state(r.getInt(0)) = r.getInt(1)
      }).start()
    try {
      q.processAllAvailable()
      val expected = e.execute("SELECT k, v FROM bt1").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(state.toMap === expected)
      assert(expected === Map(1 -> 10, 2 -> 222, 4 -> 40, 5 -> 50, 6 -> 60))
    } finally q.stop()
  }

  test("bootstrapEngineView: same-timestamp delete beats the write in the view") {
    val dir = java.nio.file.Files.createTempDirectory("graft-boot-tie").toString
    val e = new graft.cql.CqlEngine(spark)
    e.attachStorage(dir)
    e.execute("CREATE TABLE bt2 (k int PRIMARY KEY, v int)")
    e.execute("INSERT INTO bt2 (k, v) VALUES (1, 10)")
    e.execute("INSERT INTO bt2 (k, v) VALUES (2, 20)")
    e.compact("bt2")
    // write + delete of k=1 carry the SAME timestamp: engine reconciliation
    // (and Cassandra's) resolves ties deletes-first, so the view must too
    e.execute("INSERT INTO bt2 (k, v) VALUES (1, 11) USING TIMESTAMP 777000")
    e.execute("DELETE FROM bt2 USING TIMESTAMP 777000 WHERE k = 1")
    e.flush("bt2")
    val state = scala.collection.mutable.Map.empty[Int, Int]
    val q = MutationStream.bootstrapEngineView(spark, e, dir, "bt2", Seq("k"),
      (batch, _) => batch.select("k", "v", "_op").collect().foreach { r =>
        if (Set("delrow", "delpart").contains(r.getString(2))) state.remove(r.getInt(0))
        else state(r.getInt(0)) = r.getInt(1)
      }).start()
    try {
      q.processAllAvailable()
      val engineRows = e.execute("SELECT k, v FROM bt2").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(engineRows === Map(2 -> 20)) // delete won the tie on read path
      assert(state.toMap === engineRows)  // ...and in the streamed view
    } finally q.stop()
  }

  test("session windows partition each user's events and preserve totals") {
    val stream = MutationStream.eventStream(spark, logDir)
    val q = MutationStream.sessionCounts(stream, gap = "30 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_counts")
      .start()
    try {
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT user_id, sum(n) AS n, count(*) AS sessions FROM sess_counts GROUP BY user_id")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val batch = Tables.events(spark, sf).groupBy("user_id").count()
        .as[(Long, Long)].collect().toMap
      // every event lands in exactly one session; sessions per user >= 1
      assert(out.view.mapValues(_._1).toMap === batch)
      assert(out.values.forall(_._2 >= 1))
      // sessions never overlap per user: starts are strictly increasing and
      // separated by at least the gap from the previous end
      val overlaps = spark.sql(
        """SELECT count(*) FROM (
          |  SELECT user_id, session_window.start AS s,
          |         lag(session_window.end) OVER (PARTITION BY user_id ORDER BY session_window.start) AS prev_end
          |  FROM sess_counts) WHERE prev_end IS NOT NULL AND s < prev_end""".stripMargin)
        .collect().head.getLong(0)
      assert(overlaps === 0L)
    } finally q.stop()
  }

  test("streaming LWW keeps the LATEST record per key (not the first-arriving)") {
    import spark.implicits._
    val stream = MutationStream.eventStream(spark, logDir)
    val q = MutationStream.lwwStream(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("lww_out")
      .start()
    try {
      q.processAllAvailable()
      // the newest mutation per key must have reached the output — the old
      // dropDuplicates form emitted the FIRST-arriving record and silently
      // dropped every newer one from later micro-batches
      // normalize ts to epoch µs so the compare is physical-type-agnostic
      // (long nanos vs timestamp — see Tables.tsEpochUs)
      val lwwOut = spark.table("lww_out")
      val got = lwwOut
        .groupBy("user_id", "event_type")
        .agg(max(Tables.tsEpochUs(lwwOut)).as("us"))
        .as[(Long, String, Long)].collect().toSet
      val ev = Tables.events(spark, sf)
      val want = ev
        .groupBy("user_id", "event_type").agg(max(Tables.tsEpochUs(ev)).as("us"))
        .as[(Long, String, Long)].collect().toSet
      assert(got === want)
    } finally q.stop()
  }

  test("streaming content dedup emits one row per digest, bounded by the " +
    "watermark (dropDuplicatesWithinWatermark)") {
    import spark.implicits._
    val docsDir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    // 3 distinct texts, each written twice (second copy differs only in id)
    val now = new java.sql.Timestamp(1700000000000L)
    Seq(
      (1L, "alpha beta", now), (2L, "alpha beta", now),
      (3L, "gamma delta", now), (4L, "gamma delta", now),
      (5L, "epsilon", now), (6L, "epsilon", now)
    ).toDF("doc_id", "text", "ts")
      .write.mode("overwrite").parquet(docsDir)
    val schema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    val q = MutationStream.dedupStream(stream, "ts", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out")
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("sdedup_out")
      assert(out.count() === 3)
      assert(out.select("text").as[String].collect().toSet ===
        Set("alpha beta", "gamma delta", "epsilon"))
    } finally q.stop()
  }

  test("streaming ingest dedup: foreachBatch over a streaming crawl with " +
    "the persistent LSH index accumulates exactly the batch pair set") {
    import spark.implicits._
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val crawl = all.filter(col("doc_id") % 2 === 1)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-slshidx").toString
    Dedup.lshIndexBuild(corpus, "doc_id", "text", 3).save(idxDir)
    val idx = Dedup.lshIndexLoad(spark, idxDir)
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-scrawl").toString
    crawl.write.mode("overwrite").parquet(crawlDir)
    val found = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long)]())
    val q = spark.readStream.schema(crawl.schema).parquet(crawlDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // each micro-batch is a plain batch frame — the graded batch
        // operator runs unchanged against the static index
        Dedup.ingestAgainstLshIndex(batch, idx, "doc_id", "text", 3, 0.7)
          .select("new_id", "corpus_id").as[(Long, Long)].collect()
          .foreach(found.add)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val expected = Dedup.crossCorpusNearDups(crawl, corpus, "doc_id", "text", 3, 0.7)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(found.size === expected.size) // no pair found twice across batches
    import scala.jdk.CollectionConverters._
    assert(found.asScala.toSet === expected && expected.nonEmpty)
  }

  test("streaming-native LSH ingest: watermark + append mode over an " +
    "unbounded crawl matches the batch cross-corpus pair set") {
    import spark.implicits._
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val crawl = all.filter(col("doc_id") % 2 === 1)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-wlshidx").toString
    Dedup.lshIndexBuild(corpus, "doc_id", "text", 3).save(idxDir)
    val idx = Dedup.lshIndexLoad(spark, idxDir)
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-wcrawl").toString
    // event-time arrival stamps; several files force several micro-batches
    crawl.withColumn("arrived",
        org.apache.spark.sql.functions.timestamp_micros(lit(1700000000000000L) + col("doc_id")))
      .repartition(4)
      .write.mode("overwrite").parquet(crawlDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(crawlDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(crawlDir)
    val q = Dedup.ingestAgainstLshIndexStream(
        stream, idx, "doc_id", "text", "arrived", 3, 0.7)
      .writeStream.outputMode("append") // the point: NOT complete/foreachBatch
      .format("memory").queryName("wlsh_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("wlsh_out")
      .select("new_id", "corpus_id").as[(Long, Long)].collect()
    val expected = Dedup.crossCorpusNearDups(crawl, corpus, "doc_id", "text", 3, 0.7)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got.length === got.toSet.size, "watermarked dedup: no pair emitted twice")
    assert(got.toSet === expected && expected.nonEmpty)
  }

  test("full streaming curation DAG composes append-mode: quality gate → " +
    "watermarked exact dedup → LSH near-dup ingest, one unbounded query") {
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    import graft.streaming.MutationStream
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-curidx").toString
    Dedup.lshIndexBuild(corpus, "doc_id", "text", 3).save(idxDir)
    val idx = Dedup.lshIndexLoad(spark, idxDir)
    // crawl = odd docs, then each re-crawled under a new id in LATER files
    // (the file source orders by modification time, so originals arrive
    // first and the exact-dup tier must drop every re-crawl)
    val crawl0 = all.filter(col("doc_id") % 2 === 1)
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-curcrawl").toString
    crawl0.withColumn("arrived",
        timestamp_micros(lit(1700000000000000L) + col("doc_id")))
      .coalesce(1).write.mode("overwrite").parquet(crawlDir)
    Thread.sleep(1100) // distinct mtime second for deterministic ordering
    crawl0.withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("arrived",
        timestamp_micros(lit(1700000002000000L) + col("doc_id")))
      .coalesce(1).write.mode("append").parquet(crawlDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(crawlDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(crawlDir)
    // stage 1: stateless quality gate; stage 2: watermark-bounded exact
    // content dedup; stage 3: stream-static LSH near-dup report against
    // the saved corpus index — ALL in one append-mode streaming query
    val gated = stream.filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
    val deduped = MutationStream.dedupStream(gated, "arrived", "text")
    val q = Dedup.ingestAgainstLshIndexStream(
        deduped, idx, "doc_id", "text", "arrived", 3, 0.7,
        watermarkDelay = None) // dedupStream already watermarked 'arrived'
      .writeStream.outputMode("append")
      .format("memory").queryName("cur_dag_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    // batch reference: same three stages composed on static frames
    val gatedB = crawl0.filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
    val expected = Dedup.crossCorpusNearDups(gatedB, corpus, "doc_id", "text", 3, 0.7)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    val got = spark.table("cur_dag_out")
      .select("new_id", "corpus_id").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "no pair emitted twice")
    // exact-dup suppression means only FIRST-arriving copies (original ids,
    // which have the earlier event times) reach the near-dup tier
    assert(got.toSet === expected && expected.nonEmpty,
      "streaming DAG must match the batch composition on first-arriving docs")
  }

  test("curation DAG restarts from its checkpoint: source offsets, dedup " +
    "state and sink exactly-once all survive a stop/restart") {
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    import graft.streaming.MutationStream
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-rcidx").toString
    Dedup.lshIndexBuild(corpus, "doc_id", "text", 3).save(idxDir)
    val idx = Dedup.lshIndexLoad(spark, idxDir)
    val crawl0 = all.filter(col("doc_id") % 2 === 1)
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-rccrawl").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-rcout").toString
    val cpDir = java.nio.file.Files.createTempDirectory("graft-rccp").toString
    crawl0.withColumn("arrived",
        timestamp_micros(lit(1700000000000000L) + col("doc_id")))
      .coalesce(1).write.mode("overwrite").parquet(crawlDir)

    // a 100 TB ingest WILL be killed mid-run; the whole DAG (stateless
    // gate → stateful watermarked dedup → stream-static LSH join) must
    // resume from its checkpoint with a durable sink, not a memory table
    def startDag() = {
      val stream = spark.readStream
        .schema(spark.read.parquet(crawlDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(crawlDir)
      val gated = stream.filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
      val deduped = MutationStream.dedupStream(gated, "arrived", "text")
      Dedup.ingestAgainstLshIndexStream(
          deduped, idx, "doc_id", "text", "arrived", 3, 0.7,
          watermarkDelay = None)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cpDir)
        .format("parquet").option("path", outDir)
        .start()
    }
    val q1 = startDag()
    try q1.processAllAvailable() finally q1.stop()

    // the query is DOWN while every original re-arrives under a new id
    // with a later event time — classic crawler re-fetch
    crawl0.withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("arrived",
        timestamp_micros(lit(1700000002000000L) + col("doc_id")))
      .coalesce(1).write.mode("append").parquet(crawlDir)

    val q2 = startDag()
    try q2.processAllAvailable() finally q2.stop()

    // recovery contract, all three layers at once:
    //  - source offsets recovered → the first file is not reprocessed
    //    (a replay would duplicate pairs into the append sink)
    //  - dedup state recovered → every re-crawl's digest is still in the
    //    state store, so nothing with a +100000 id reaches the LSH tier
    //  - sink exactly-once → output equals the batch composition exactly
    val gatedB = crawl0.filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
    val expected = Dedup.crossCorpusNearDups(gatedB, corpus, "doc_id", "text", 3, 0.7)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    val got = spark.read.parquet(outDir)
      .select("new_id", "corpus_id").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "a replayed batch would duplicate pairs")
    assert(!got.exists(_._1 >= 100000L),
      "a re-crawl surviving dedup means the state store did not recover")
    assert(got.toSet === expected && expected.nonEmpty,
      "restarted DAG must end at exactly the batch composition")
  }

  test("curation tier is streaming-safe: hash-gate sampling and the " +
    "quality keep-verdict run stateless under readStream and match batch") {
    import spark.implicits._
    import graft.operators.{Pipeline, TextAnalysis}
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-scur").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text")
    docs.write.mode("overwrite").parquet(dir)
    def curate(df: org.apache.spark.sql.DataFrame) =
      df.filter(TextAnalysis.qualityScore(col("text")) >= 0.5 &&
          Pipeline.hashGate(col("doc_id"), 0.5))
        .select("doc_id", "source")
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = curate(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("scur_out")
      .start()
    try {
      q.processAllAvailable()
      // the stateless md5 gate + per-row quality verdict commute with
      // micro-batching: streaming output == batch output, row for row
      val streamed = spark.table("scur_out")
        .as[(Long, String)].collect().toSet
      val batch = curate(docs).as[(Long, String)].collect().toSet
      assert(streamed === batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming heavy-hitter candidates: the MG aggregate runs under " +
    "complete-mode streaming and keeps its superset guarantee") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, col, explode}
    graft.functions.Functions.ensure(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-shh").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = stream
      .select(explode(graft.operators.Dedup.shingles(col("text"), 2)).as("gram"))
      .agg(call_function("freq_items_agg", col("gram"), org.apache.spark.sql.functions.lit(2048)).as("cands"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("shh_out")
      .start()
    try {
      q.processAllAvailable()
      val cands = spark.table("shh_out").as[Seq[String]].head().toSet
      // every gram above n/(k+1) in the batch truth must be a candidate
      val counts = docs
        .select(explode(graft.operators.Dedup.shingles(col("text"), 2)).as("g"))
        .groupBy("g").count().as[(String, Long)].collect()
      val n = counts.map(_._2).sum
      val must = counts.filter(_._2 > n / 2049.0).map(_._1).toSet
      assert(must.nonEmpty && must.subsetOf(cands))
    } finally q.stop()
  }

  AnnTable.rows.foreach { r =>
    test(s"streaming ANN ingest ${r.label}: micro-batch appends equal the full build") {
      import spark.implicits._
      import graft.operators.Similarity.AnnIndex
      import org.apache.spark.sql.functions.col
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
        .select("vec_id", "embedding")
      // headers train once on the full corpus (the steady-state artifact);
      // a quarter is persisted, the crawl streams in the rest
      val full = AnnTable.train(spark, r, emb)
      val dir = java.nio.file.Files.createTempDirectory("graft-sann").toString
      full.copy(codes = full.codes.filter(col("vec_id") % 4 === 0)).save(dir)
      val crawl = emb.filter(col("vec_id") % 4 =!= 0)
      val crawlDir = java.nio.file.Files.createTempDirectory("graft-sanncrawl").toString
      // several files => several micro-batches with maxFilesPerTrigger=1
      crawl.repartition(3).write.mode("overwrite").parquet(crawlDir)
      val q = spark.readStream.schema(crawl.schema)
        .option("maxFilesPerTrigger", 1).parquet(crawlDir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // the graded incremental-ingest operator runs unchanged per batch
          AnnIndex.append(spark, dir, batch)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      // a FRESH load (restart) sees the streamed-in code table: codes and
      // list placement bit-equal to the full build, searches identical
      val idx = AnnIndex.load(spark, dir)
      assert(AnnTable.codeMap(idx) === AnnTable.codeMap(full))
      val queries = emb.filter(col("vec_id") < 4)
      def rows(i: AnnIndex) =
        i.search(queries, 10, nprobe = math.max(r.nlist, 1), corpus = Some(emb))
          .select("query_id", "neighbor_id", "sim", "rnk")
          .as[(Long, Long, Double, Int)].collect().toSet
      assert(rows(idx) === rows(full) && rows(full).nonEmpty,
        "the restarted index must answer searches identically")
      if (r.kind == graft.operators.Similarity.Quantizer.Flat && r.nlist > 0) {
        // exhaustive probe over the streamed-in index == brute force
        val want = graft.operators.Similarity.bruteForceTopK(emb, queries, 10)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .as[(Long, Long, Double, Int)].collect().toSet
        val got = idx.search(queries, 10, nprobe = r.nlist)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .as[(Long, Long, Double, Int)].collect().toSet
        assert(got === want)
      }
    }
  }

  test("streaming BM25 ingest: foreachBatch bm25IndexAppend per micro-batch " +
    "— the appended index searches bit-equal to from-scratch over the union") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    graft.functions.Functions.ensure(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
    val base = docs.filter(col("doc_id") % 4 === 0)
    val crawl = docs.filter(col("doc_id") % 4 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sbm25").toString
    TextAnalysis.bm25IndexBuild(base, "doc_id", "text", buckets = 8).save(dir)
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-sbm25crawl").toString
    crawl.repartition(3).write.mode("overwrite").parquet(crawlDir)
    val q = spark.readStream.schema(crawl.schema)
      .option("maxFilesPerTrigger", 1).parquet(crawlDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // each micro-batch appends into the saved index — the graded
        // incremental-ingest operator runs unchanged per batch (batch doc
        // ids are disjoint by construction, the operator's contract)
        TextAnalysis.bm25IndexAppend(spark, dir, batch, "doc_id", "text")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val queries = Seq(1L -> Seq("spark", "scan"), 2L -> Seq("hash", "join"))
    val got = TextAnalysis.bm25SearchIndex(
        TextAnalysis.bm25IndexLoad(spark, dir), queries, 5)
      .collect().map(_.toSeq).toSet
    val want = TextAnalysis.bm25TopK(docs, "doc_id", "text", queries, 5)
      .collect().map(_.toSeq).toSet
    assert(got === want && got.nonEmpty,
      "streamed-in BM25 index must answer exactly like a from-scratch build")
  }

  test("streaming drift monitors: per-micro-batch DriftSums accumulate to " +
    "stats bit-equal to the batch monitor over the union, for every " +
    "composed tier (IVF-SQ8 clamp_frac, IVF-PQ and IVF-OPQ mean_qcos)") {
    import graft.operators.Similarity
    import graft.operators.Similarity.{AnnIndex, Quantizer}
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 4 === 0)
    val crawl = emb.filter(col("vec_id") % 4 =!= 0)
    // train each composed index once on the base slice (the steady-state
    // artifact a crawl appends to); drift measures the crawl against it
    val sq8 = AnnIndex.train(spark, base, Quantizer.SQ8, nlist = 4)
    val pq = AnnIndex.train(spark, base, Quantizer.PQ, nlist = 4, m = 4, ksub = 8)
    val opq = AnnIndex.train(spark, base, Quantizer.OPQ, nlist = 4, m = 4, ksub = 8,
      opqIters = 1)
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-sdrift").toString
    crawl.repartition(3).write.mode("overwrite").parquet(crawlDir)
    def key(r: org.apache.spark.sql.Row): Int = r.getInt(0)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(key).map(_.toSeq).toSeq
    for ((label, idx) <- Seq("ivf-sq8" -> sq8, "ivf-pq" -> pq, "ivf-opq" -> opq)) {
      val sumsDir = java.nio.file.Files.createTempDirectory(s"graft-dsums").toString
      var batches = 0
      val q = spark.readStream.schema(crawl.schema)
        .option("maxFilesPerTrigger", 1).parquet(crawlDir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // the accumulator a steady-state crawl would keep: one bounded
          // (≤ nlist rows) sums frame appended per micro-batch
          idx.driftSums(batch).write.mode("append").parquet(sumsDir)
          batches += 1
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(batches >= 2, s"$label: want multiple micro-batches, got $batches")
      val streamed = sorted(
        Similarity.driftStatsFinalize(spark.read.parquet(sumsDir)))
      val oneShot = sorted(idx.driftStats(crawl))
      assert(streamed === oneShot,
        s"$label: accumulated stream drift stats must equal the batch call")
    }
  }

  test("streaming image-dedup ingest: phashPairsIncremental per " +
    "micro-batch finds each near-dup pair exactly once (in the epoch " +
    "its later member arrives) and the union equals the one-shot join") {
    import graft.operators.{Multimodal, Png}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
    val media = Multimodal.mediaFromDocuments(spark, docs)
    // brightness variants of every 5th image → guaranteed near-dups that
    // land in a DIFFERENT micro-batch than their originals sometimes
    val variants = docs
      .select(col("doc_id"), org.apache.spark.sql.functions
        .coalesce(col("n_chars"), org.apache.spark.sql.functions.lit(0)).cast("int"))
      .as[(Long, Int)].filter((t: (Long, Int)) => t._1 % 5 == 0)
      .map { case (id, nChars) =>
        val (w, h) = Multimodal.plantDims(id, nChars)
        val px = Array.tabulate(w * h * 3)(i =>
          math.min(255, Multimodal.plantPixel(id, i) + 3).toByte)
        Multimodal.MediaItem(id + 900L, s"img/${id % 3}",
          Png.encode(w, h, 3, px), w, h, 1, 16000)
      }
    val corpus = media.union(variants)
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-simg").toString
    corpus.toDF().repartition(3).write.mode("overwrite").parquet(crawlDir)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-simgstate").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("graft-simgpairs").toString
    // seed an empty hash table so epoch 0 reads a valid relation
    Multimodal.imagePHash(spark, corpus.limit(0))
      .write.mode("overwrite").parquet(stateDir)
    val q = spark.readStream.schema(corpus.toDF().schema)
      .option("maxFilesPerTrigger", 1).parquet(crawlDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val h = Multimodal.imagePHash(spark, batch.as[Multimodal.MediaItem])
          .localCheckpoint()
        val acc = spark.read.parquet(stateDir)
        // pairs involving THIS batch only; then the batch joins the state
        Multimodal.phashPairsIncremental(acc, h, maxHamming = 3)
          .write.mode("append").parquet(pairsDir)
        h.write.mode("append").parquet(stateDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val streamed = pairSet(spark.read.parquet(pairsDir))
    // exactly once: no pair may appear in two epochs' outputs
    assert(streamed.length === streamed.distinct.length,
      "a pair surfaced in more than one epoch")
    val oneShot = pairSet(Multimodal.phashPairs(
      Multimodal.imagePHash(spark, corpus), maxHamming = 3))
    assert(streamed.toSet === oneShot.toSet && oneShot.nonEmpty)
  }

  test("classifier-gated curation DAG recovers from its checkpoint: the " +
    "trained-model gate composes with stateful dedup, stop/restart " +
    "exactly-once") {
    import spark.implicits._
    import graft.streaming.MutationStream
    import org.apache.spark.sql.functions.{col, lit, md5, lower, min, timestamp_micros}
    graft.functions.Functions.ensure(spark)
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
      .withColumn("y_b", org.apache.spark.sql.functions.array_contains(
        graft.operators.Tokenizer.preTokens(col("text")), "spark"))
    // train on the even half (the bounded sample), stream the odd half
    val w = graft.operators.QualityModel.train(
      all.filter(col("doc_id") % 2 === 0), "doc_id", "text", "y_b",
      dim = 256, iters = 4)
    val crawl0 = all.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-qmcrawl").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-qmout").toString
    val cpDir = java.nio.file.Files.createTempDirectory("graft-qmcp").toString
    crawl0.withColumn("arrived",
        timestamp_micros(lit(1700000000000000L) + col("doc_id")))
      .coalesce(1).write.mode("overwrite").parquet(crawlDir)
    val thresh = 0.35
    def startDag() = {
      val stream = spark.readStream
        .schema(spark.read.parquet(crawlDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(crawlDir)
      val gated = stream.filter(
        graft.operators.QualityModel.score(col("text"), w, 256) >= thresh)
      MutationStream.dedupStream(gated, "arrived", "text")
        .select("doc_id", "text")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cpDir)
        .format("parquet").option("path", outDir)
        .start()
    }
    val q1 = startDag()
    try q1.processAllAvailable() finally q1.stop()
    // while the query is down, every original re-arrives under a new id
    // with a later event time (crawler re-fetch); the recovered dedup
    // state must still drop all of them, and the recovered source offsets
    // must not replay file one into the append sink
    crawl0.withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("arrived",
        timestamp_micros(lit(1700000002000000L) + col("doc_id")))
      .coalesce(1).write.mode("append").parquet(crawlDir)
    val q2 = startDag()
    try q2.processAllAvailable() finally q2.stop()
    // batch composition: gate, then first-arrival-per-digest (arrived
    // increases with doc_id, so min doc_id per digest)
    val gatedB = crawl0.filter(
      graft.operators.QualityModel.score(col("text"), w, 256) >= thresh)
    val expected = gatedB.withColumn("_h", md5(lower(col("text"))))
      .groupBy("_h").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    val got = spark.read.parquet(outDir).select("doc_id").as[Long].collect()
    assert(got.length === got.toSet.size, "a replayed batch would duplicate rows")
    assert(!got.exists(_ >= 100000L),
      "a re-crawl surviving dedup means the state store did not recover")
    assert(got.toSet === expected && expected.nonEmpty,
      "restarted classifier-gated DAG must end at exactly the batch composition")
  }

  test("trained multiclass model routes a stream statelessly: streaming " +
    "predictions are identical to batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    graft.functions.Functions.ensure(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
      .withColumn("label", concat(lit("c"), (col("doc_id") % 3).cast("string")))
      .withColumn("ptext", concat(col("text"), lit(" mk"),
        (col("doc_id") % 3).cast("string")))
    val m = graft.operators.MulticlassModel.train(
      docs, "doc_id", "ptext", "label", dim = 256, iters = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-smc").toString
    docs.select("doc_id", "ptext").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(docs.select("doc_id", "ptext").schema).parquet(dir)
    val q = stream
      .select(col("doc_id"),
        graft.operators.MulticlassModel.predict(col("ptext"), m).as("pred"))
      .writeStream.outputMode("append")
      .format("memory").queryName("smc_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("smc_out").as[(Long, String)].collect().toMap
      val batch = docs.select(col("doc_id"),
          graft.operators.MulticlassModel.predict(col("ptext"), m).as("pred"))
        .as[(Long, String)].collect().toMap
      assert(streamed === batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization: streamed sessions equal the " +
    "batch Sessionize output, per-key ordinals included") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, ntile}
    import graft.streaming.SessionStream
    import graft.operators.Sessionize
    val gapUs = 7200000000L
    val ev = Tables.events(spark, sf)
    val us = Tables.tsEpochUs(ev)
    // 4 event-time-ordered arrival slices, landed and processed one at a
    // time: per-key arrival order matches event-time order (the watermark
    // contract a production log with bounded disorder provides)
    val sliced = ev.withColumn("_slice", ntile(4).over(
      org.apache.spark.sql.expressions.Window.orderBy(us, col("event_id"))))
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-log").toString
    sliced.filter(col("_slice") === 1).drop("_slice")
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = MutationStream.eventStream(spark, dir)
    val q = SessionStream.sessions(
        stream.withColumn("ts_us", Tables.tsEpochUs(stream)), gapUs,
        watermarkDelay = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_state_out")
      .start()
    try {
      q.processAllAvailable()
      for (i <- 2 to 4) {
        sliced.filter(col("_slice") === i).drop("_slice")
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      // before the flush sentinel: only CLOSED sessions have been emitted
      val batch = Sessionize.sessions(ev, "user_id", Tables.tsEpochUs(ev),
          "event_id", gapUs)
        .select("user_id", "session_seq", "n_events", "start_us", "end_us",
          "duration_us")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      val closed = spark.table("sess_state_out")
        .as[(Long, Long, Long, Long, Long, Long)].collect()
      assert(closed.length === closed.toSet.size, "a session emitted twice")
      assert(closed.toSet.subsetOf(batch))
      // sentinel far past every end+gap: the event-time timeout closes and
      // emits every key's final open session
      val sentinel = ev.orderBy(col("ts").desc).limit(1)
        .withColumn("user_id", lit(-1L))
        .withColumn("ts",
          if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
            col("ts") + lit(86400000000000L * 1000) // +1000 days of nanos
          else col("ts") + org.apache.spark.sql.functions.expr("INTERVAL 1000 DAYS"))
      sentinel.coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val flushed = spark.table("sess_state_out").filter(col("user_id") >= 0)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
      assert(flushed.length === flushed.toSet.size)
      assert(flushed.toSet === batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming transitions: pairs emit exactly once across ordered " +
    "arrival slices and match the batch lead-window pairs after the flush") {
    import graft.streaming.TransitionStream
    val ev = Tables.events(spark, sf)
    val us = Tables.tsEpochUs(ev)
    val sliced = ev.withColumn("_slice", ntile(4).over(
      org.apache.spark.sql.expressions.Window.orderBy(us, col("event_id"))))
    val dir = java.nio.file.Files.createTempDirectory("graft-trans-log").toString
    sliced.filter(col("_slice") === 1).drop("_slice")
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = MutationStream.eventStream(spark, dir)
    val q = TransitionStream.pairs(
        stream.withColumn("ts_us", Tables.tsEpochUs(stream)),
        watermarkDelay = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("trans_out")
      .start()
    try {
      q.processAllAvailable()
      for (i <- 2 to 4) {
        sliced.filter(col("_slice") === i).drop("_slice")
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val expected = ev.select(col("user_id"), col("event_id"),
          us.as("ts_us"), col("event_type"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .select(col("user_id"), col("from_type"),
          col("event_type").as("to_type"), col("ts_us"), col("event_id"))
        .as[(Long, String, String, Long, Long)].collect().toSet
      val mid = spark.table("trans_out")
        .as[(Long, String, String, Long, Long)].collect()
      assert(mid.length === mid.toSet.size, "a pair emitted twice")
      assert(mid.toSet.subsetOf(expected))
      // watermark sentinel far past every event: drains every buffer
      val sentinel = ev.orderBy(col("ts").desc).limit(1)
        .withColumn("user_id", lit(-1L))
        .withColumn("ts",
          if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
            col("ts") + lit(86400000000000L * 1000)
          else col("ts") + org.apache.spark.sql.functions.expr("INTERVAL 1000 DAYS"))
      sentinel.coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val flushed = spark.table("trans_out").filter(col("user_id") >= 0)
        .as[(Long, String, String, Long, Long)].collect()
      assert(flushed.length === flushed.toSet.size)
      assert(flushed.toSet === expected && expected.nonEmpty)
      // aggregated counts cross-check the batch operator
      val streamCounts = spark.table("trans_out").filter(col("user_id") >= 0)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect().toSet
      val batchCounts = graft.operators.Sessionize.transitions(
          ev, "user_id", us, "event_id", "event_type")
        .select("from_type", "to_type", "n")
        .as[(String, String, Long)].collect().toSet
      assert(streamCounts === batchCounts)
    } finally q.stop()
  }

  test("streaming transitions buffer within-watermark disorder: random " +
    "arrival order still yields the exact batch pair set") {
    import graft.streaming.TransitionStream
    val ev = Tables.events(spark, sf).filter(col("user_id") < 10)
    val us = Tables.tsEpochUs(ev)
    // slices by event_id — arrival order unrelated to event time; the
    // 60-day watermark exceeds the log's span, so nothing is ever late
    // and everything must buffer until the sentinel drains it
    val dir = java.nio.file.Files.createTempDirectory("graft-trans-ooo").toString
    val q = {
      val s0 = ev.filter(col("event_id") % 3 === 0)
      s0.coalesce(1).write.mode("append").parquet(dir)
      val stream = MutationStream.eventStream(spark, dir)
      TransitionStream.pairs(
          stream.withColumn("ts_us", Tables.tsEpochUs(stream)),
          watermarkDelay = "60 days")
        .writeStream.outputMode("append")
        .format("memory").queryName("trans_ooo_out")
        .start()
    }
    try {
      q.processAllAvailable()
      for (r <- Seq(1, 2)) {
        ev.filter(col("event_id") % 3 === r)
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      val sentinel = ev.orderBy(col("ts").desc).limit(1)
        .withColumn("user_id", lit(-1L))
        .withColumn("ts",
          if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
            col("ts") + lit(86400000000000L * 1000)
          else col("ts") + org.apache.spark.sql.functions.expr("INTERVAL 1000 DAYS"))
      sentinel.coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val expected = ev.select(col("user_id"), col("event_id"),
          us.as("ts_us"), col("event_type"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .select(col("user_id"), col("from_type"),
          col("event_type").as("to_type"), col("ts_us"), col("event_id"))
        .as[(Long, String, String, Long, Long)].collect().toSet
      val got = spark.table("trans_ooo_out").filter(col("user_id") >= 0)
        .as[(Long, String, String, Long, Long)].collect()
      assert(got.length === got.toSet.size, "a pair emitted twice")
      assert(got.toSet === expected && expected.nonEmpty,
        "disordered arrival must still chain pairs in event-time order")
    } finally q.stop()
  }

  test("trained quality-model scores a stream statelessly: streaming " +
    "inference is bit-equal to batch scoring") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    graft.functions.Functions.ensure(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
      .withColumn("y_b", org.apache.spark.sql.functions.array_contains(
        graft.operators.Tokenizer.preTokens(col("text")), "spark"))
    // train once on the batch table (the production shape: train on a
    // bounded sample, score the firehose)
    val w = graft.operators.QualityModel.train(
      docs, "doc_id", "text", "y_b", dim = 256, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-sqm").toString
    docs.select("doc_id", "text").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(docs.select("doc_id", "text").schema).parquet(dir)
    val q = stream
      .select(col("doc_id"),
        graft.operators.QualityModel.score(col("text"), w, 256).as("p"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sqm_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sqm_out").as[(Long, Double)].collect().toMap
      val batch = docs.select(col("doc_id"),
          graft.operators.QualityModel.score(col("text"), w, 256).as("p"))
        .as[(Long, Double)].collect().toMap
      // the scan-fused fold is stateless and strict_exp is bit-stable, so
      // micro-batching cannot change a single bit
      assert(streamed === batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming shard ingest: foreachBatch appendShardedCorpus per " +
    "micro-batch — every batch continues the cumulative token line, " +
    "existing partitions never rewrite, manifest/meta reconcile at the end") {
    import graft.operators.Pipeline
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "n_chars")
      .withColumn("n_chars", col("n_chars").cast("long"))
    val base = docs.filter(col("doc_id") % 4 === 0)
    val crawl = docs.filter(col("doc_id") % 4 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sshard").toString
    Pipeline.saveShardedCorpus(base, col("doc_id"), 13, col("n_chars"), 3000, dir)
    val baseAssign = spark.read.parquet(s"$dir/data")
      .select(col("doc_id"), col("shard").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-sshardcrawl").toString
    crawl.repartition(3).write.mode("overwrite").parquet(crawlDir)
    val q = spark.readStream.schema(crawl.schema)
      .option("maxFilesPerTrigger", 1).parquet(crawlDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Pipeline.appendShardedCorpus(spark, dir, batch,
          col("doc_id"), col("n_chars"))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val after = spark.read.parquet(s"$dir/data")
      .select(col("doc_id"), col("n_chars"), col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // nothing lost, nothing duplicated, base assignment untouched
    assert(after.map(_._1).sorted.toSeq ===
      docs.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(after.filter(r => baseAssign.contains(r._1))
      .map(r => r._1 -> r._3).toMap === baseAssign)
    // manifest reconciles with doc-level truth; meta holds the corpus total
    val m = spark.table(s"parquet.`$dir/manifest`")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val truth = after.groupBy(_._3).map { case (s, rs) =>
      s -> (rs.length.toLong, rs.map(_._2).sum) }
    assert(m === truth)
    assert(spark.read.parquet(s"$dir/meta").select("total_tokens")
      .head().getLong(0) === after.map(_._2).sum)
    // shard ids stay dense: the cumulative line never skips a shard
    assert(m.keySet === (0L to m.keySet.max).toSet)
  }

  test("streaming novelty gate: per-micro-batch ngramNovelty against a " +
    "static reference equals the batch run over the union — the ingest " +
    "filter 'only train on sufficiently new docs' streams as-is") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Pipeline
    graft.functions.Functions.ensure(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
    val reference = docs.filter(col("doc_id") % 4 === 0)
    val crawl = docs.filter(col("doc_id") % 4 =!= 0)
    val crawlDir = java.nio.file.Files.createTempDirectory("graft-snov").toString
    crawl.repartition(3).write.mode("overwrite").parquet(crawlDir)
    val outDir = java.nio.file.Files.createTempDirectory("graft-snovout").toString
    // per-doc novelty is a pure function of (doc, reference): batching
    // cannot change it, so the streamed gate IS the batch gate
    val q = spark.readStream.schema(crawl.schema)
      .option("maxFilesPerTrigger", 1).parquet(crawlDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Pipeline.ngramNovelty(batch, reference, "doc_id", "text", 3)
          .filter(col("novelty") >= 0.5)
          .write.mode("append").parquet(outDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outDir).collect().map(_.toSeq).toSet
    val want = Pipeline.ngramNovelty(crawl, reference, "doc_id", "text", 3)
      .filter(col("novelty") >= 0.5).collect().map(_.toSeq).toSet
    assert(got === want && got.nonEmpty,
      "streamed novelty-gated ingest must keep exactly the batch gate's docs")
    // the gate actually gates on this corpus: some docs fell below 0.5
    assert(want.size < crawl.count())
  }
}
