package graft.streaming

import graft.operators.CqlOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming surface: the reference's streaming-adjacent features
  * (SURVEY §2.10) re-expressed on Spark.
  *
  *  - CDC (`db/commitlog/CommitLogSegmentManagerCDC.java`): the mutation log
  *    IS a stream — `readStream` over the append-only event/mutation parquet.
  *  - Materialized views (`db/view/ViewUpdateGenerator.java`): incremental
  *    LWW upsert of a re-keyed projection via `foreachBatch`.
  *  - Windowed aggregation with watermarks: the Spark-native extension
  *    surface (tumbling windows over event time).
  */
object MutationStream {

  // `ts` has shipped as both long nanos (TIMESTAMP(NANOS) parquet under
  // nanosAsLong) and a micros timestamp across testdata generations; the
  // stream schema adapts by peeking at the landed files, and a derived
  // event-time timestamp column `ts_ts` is added for watermarks/windows.
  def eventSchema(tsType: org.apache.spark.sql.types.DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** CDC source: stream of mutations from the append-only log directory.
    * readStream needs a declared schema; `ts`'s physical type is taken from
    * the files already in the log. For a dir that is still EMPTY at stream
    * construction (the normal CDC startup order: open the stream, then
    * mutations land) the peek cannot know what layout will arrive — pass
    * `emptyDirTsType` to pin it (e.g. LongType for a nanos-parquet writer);
    * the default matches the current testdata generation (micros
    * TIMESTAMP_NTZ).
    */
  def eventStream(spark: SparkSession, dir: String,
                  emptyDirTsType: DataType = TimestampNTZType): DataFrame = {
    val tsType = scala.util.Try(spark.read.parquet(dir).schema("ts").dataType)
      .getOrElse(emptyDirTsType)
    val raw = spark.readStream.schema(eventSchema(tsType))
      .option("maxFilesPerTrigger", "4")
      .parquet(dir)
    raw.withColumn("ts_ts", graft.Tables.tsAsTimestamp(raw))
  }

  /** Tumbling-window per-type counts with a watermark (late data dropped
    * after 10 minutes of event time).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_ts", "10 minutes")
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Session-window aggregation (native Structured Streaming extra): events
    * group into per-user sessions that close after `gap` of event-time
    * silence; watermark bounds the session state.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts_ts", "10 minutes")
      .groupBy(session_window(col("ts_ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Materialized-view maintenance: each micro-batch is LWW-compacted
    * (newest mutation per key wins) and handed to `upsert` WITH deletes
    * flagged `_deleted` — the sink's MERGE removes matched keys where the
    * flag is set (dropping deletes upstream would leave stale pre-delete
    * rows in the view forever). `upsert` receives (batchDf, batchId) —
    * production sinks MERGE into the view table; tests collect into memory.
    */
  def maintainView(events: DataFrame, keys: Seq[String],
                   upsert: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val compacted = CqlOps.compactLogForMerge(
          batch.toDF(), keys, col("ts"), Seq(col("event_id")),
          col("event_type") === "error")
        upsert(compacted, id)
      }

  /** Streaming LWW: the LATEST record per (user_id, event_type) as a
    * running aggregation (`max_by` over (ts, event_id); update mode).
    * dropDuplicates would keep the FIRST-arriving record — the opposite of
    * last-write-wins. State is one row per live key — ∝ key cardinality,
    * not history; an unwindowed per-key aggregation cannot be evicted by a
    * watermark, so key-unbounded streams should window the aggregation or
    * rely on the downstream batch LWW over the landed log.
    */
  def lwwStream(events: DataFrame): DataFrame = {
    val payload = struct(events.columns.map(col): _*)
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(payload, struct(col("ts"), col("event_id"))).as("_r"))
      .select(col("_r.*"))
  }

  /** Streaming exact content dedup — the streaming analog of
    * [[graft.operators.Dedup.exact]]: drop records whose content digest
    * was already emitted, with the dedup state BOUNDED by the watermark
    * (`dropDuplicatesWithinWatermark`; a plain dropDuplicates would grow
    * state with every distinct document ever seen — unbounded on an
    * ingest stream). Duplicates arriving later than the watermark delay
    * re-emit: at 100 TB/day ingest that is the right trade — bounded
    * state, and the batch dedup (digest group over the landed corpus)
    * catches stragglers downstream.
    */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  watermark: String = "1 hour"): DataFrame =
    docs.withColumn("_h", md5(lower(col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")

  /** CDC over a [[graft.cql.CqlEngine]] table's own mutation log: streams
    * the durable segments PLUS the compaction-archived `cdc/` directory
    * (reference `CommitLogSegmentManagerCDC` keeps consumed segments in
    * cdc_raw until drained), so a compact() between micro-batches never
    * loses mutations. Schema = `engine.mutationSchema(table)`; every record
    * carries `_op`/`_ts`/`_ttl` plus per-column cell values.
    */
  def engineCdc(spark: SparkSession, storageDir: String, table: String,
                schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4")
      // glob over live segments and the compaction archive
      .parquet(graft.cql.Storage.cdcPath(storageDir, table))

  /** [[engineCdc]] resolving the table through the engine's catalog — use
    * this form for tables outside the default keyspace (their storage
    * directories carry the `ks.table` canonical name).
    */
  def engineCdc(spark: SparkSession, engine: graft.cql.CqlEngine,
                storageDir: String, table: String): DataFrame =
    engineCdc(spark, storageDir, engine.canonicalName(table),
      engine.mutationSchema(table))

  /** Snapshot-then-follow bootstrap of a downstream view over an engine
    * table — the scale shape for standing up a NEW consumer against a table
    * with history: one batch upsert of the COMPACTED checkpoint state
    * (`batchId = -1`), then a micro-batched LWW stream over the
    * post-checkpoint segment files only (no replay of absorbed history).
    *
    * Contract: call right after `engine.compact(table)` with CDC mode off —
    * the segments directory then contains exactly the post-checkpoint
    * mutations, so snapshot ∪ stream = the table, with no double-count.
    * Per-batch reconciliation is row-granularity LWW: the sink receives the
    * LATEST mutation record per primary key (including `delrow`/`delpart`
    * records, so it can remove keys) — cell-granularity merge stays the
    * engine's job at read time.
    */
  def bootstrapEngineView(spark: SparkSession, engine: graft.cql.CqlEngine,
                          storageDir: String, table: String, keys: Seq[String],
                          upsert: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // snapshot rows carry the same `_op` marker shape as tail records
    upsert(engine.execute(s"SELECT * FROM $table").withColumn("_op", lit("insert")), -1L)
    val tail = spark.readStream.schema(engine.mutationSchema(table))
      .option("maxFilesPerTrigger", "4")
      .parquet(graft.cql.Storage.segmentsPath(storageDir, engine.canonicalName(table)))
    tail.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // timestamp ties: deletes beat writes (the engine's — and
        // Cassandra's — tomb-over-cell reconciliation), so rank delete ops
        // explicitly rather than relying on lexicographic _op order (which
        // would sort 'update' above 'delrow' and lose a same-ts delete).
        // Residual write-vs-write ties (same _ts, both non-delete) fall to
        // lexicographic _op desc — arbitrary but DETERMINISTIC. The engine's
        // cell-level reconciliation breaks such ties by VALUE (Cells
        // .reconcile), which a row-granular view cannot reproduce without
        // per-cell history; same-ts same-key writes are already undefined
        // order in the reference unless values are compared.
        val opRank = when(col("_op").isin("delpart", "delrow"), 1).otherwise(0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col("_ts").desc, opRank.desc, col("_op").desc)
        val latest = batch.toDF()
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
        upsert(latest, id)
      }
  }
}
