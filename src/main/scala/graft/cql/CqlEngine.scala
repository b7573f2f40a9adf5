package graft.cql

import graft.cql.Ast._
import graft.functions.{Functions => F}
import graft.operators.CqlOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CQL-compat execution engine: statement → validated plan → DataFrame.
  *
  * Write path: every INSERT/UPDATE/DELETE appends one mutation record to the
  * table's append-only log (here an in-memory buffer; at scale the identical
  * record shape lands in parquet log segments — see streaming/MutationStream
  * for the CDC view). NO read-before-write, matching the reference
  * (`cql3/statements/ModificationStatement.java:445-478`).
  *
  * Read path: the log is reconciled per CELL at query time exactly as
  * `Cells.reconcile` (`db/rows/Cells.java:115-160`) merges memtable/sstable
  * versions: highest timestamp wins, on a tie a tombstone beats a live cell,
  * then the higher value wins. Row/partition tombstones shadow cells with
  * ts <= deletion ts (`db/DeletionTime.java`); INSERT grants primary-key
  * liveness while UPDATE does not (`db/LivenessInfo.java`), so an UPDATE'd
  * row with all cells deleted vanishes while an INSERT'd one survives; TTL'd
  * cells turn into tombstones at expiry (`cql3/Attributes.java`).
  * One hash aggregation per read (plus one for statics) — on a cluster this
  * is the LWW compaction job shape, bucketable by token(pk).
  */
class CqlEngine(val spark: SparkSession) {

  F.ensure(spark)

  final case class InvalidRequest(msg: String) extends RuntimeException(msg)

  // ── catalog (≈ system_schema) ─────────────────────────────────────────
  private val tables = scala.collection.mutable.LinkedHashMap.empty[String, TableDef]
  /** user-defined types (CREATE TYPE; system_schema.types). */
  private val udts = scala.collection.mutable.LinkedHashMap.empty[String, CqlUdt]
  /** materialized views (CREATE MATERIALIZED VIEW) — views derive from the
    * base table's reconcile at read time, so base mutations and deletes
    * reflect immediately (the maintenance the reference does at write time
    * via ViewUpdateGenerator falls out of the log-reconcile design; the
    * streaming incremental form lives in streaming/MutationStream).
    * Session-scoped (not persisted by attachStorage).
    */
  private val views = scala.collection.mutable.LinkedHashMap.empty[String, CreateView]
  /** per-view table params set via ALTER MATERIALIZED VIEW ... WITH
    * (AlterViewStatement.java swaps TableParams; stored here for
    * introspection — read-path semantics don't depend on them).
    */
  private val viewOptions = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, String]]
  /** CREATE FUNCTION / CREATE AGGREGATE registries (system_schema.functions/
    * aggregates analog). Function bodies are Spark SQL expressions.
    */
  private val udfs = scala.collection.mutable.LinkedHashMap.empty[String, CreateFunction]
  private val udas = scala.collection.mutable.LinkedHashMap.empty[String, CreateAggregate]
  /** A table's in-memory mutation tail (the memtable analog). Every change
    * replaces its rows and draws a fresh `gen` from one engine-wide counter,
    * so a `gen` names one content for the engine's life: a DROP and
    * re-CREATE under the same name never repeats one.
    */
  private final class Tail {
    private var current = Vector.empty[Row]
    private var stamp = nextTailGen()
    def rows: Vector[Row] = current
    def gen: Long = stamp
    def update(f: Vector[Row] => Vector[Row]): Unit = { current = f(current); stamp = nextTailGen() }
    def clear(): Unit = update(_ => Vector.empty)
  }
  private var tailGens = 0L
  private def nextTailGen(): Long = { tailGens += 1; tailGens }
  private val logs = scala.collection.mutable.LinkedHashMap.empty[String, Tail]
  /** What a table's reconciled read is built from: schema, the manifest's
    * checkpoint and segments, the tail's generation, the clock and the
    * session's smallest file split ([[pinBytes]]). What is derived from a
    * read is kept with these and reused while they match.
    */
  private type ReadInputs = (TableDef, Option[java.io.File], Seq[java.io.File], Long, Long, Long)
  private def readInputs(name: String): ReadInputs = (table(name), storage.flatMap(_.checkpoint(name)),
    storage.toSeq.flatMap(_.segmentFiles(name)), logs(name).gen, nowMicros, pinBytes)
  /** Reconciled, analysed base plans, keyed by table and whether the read
    * asked for the pinned shape: a read adds only its filter, sort and limit.
    */
  private val readPlans = scala.collection.mutable.HashMap.empty[(String, Boolean), (ReadInputs, DataFrame)]
  /** system.size_estimates rows. The Spark/Cassandra connector reads
    * size_estimates during input-split planning, so serving it must not
    * scan every table per query; the reference refreshes estimates
    * out-of-band (db/SizeEstimatesRecorder.java runs at flush). Here each
    * table's estimate row is recomputed lazily on read, and only when its
    * read inputs moved since the last computation — cold tables answer
    * from the cache indefinitely.
    */
  private val sizeEstCache = scala.collection.mutable.HashMap.empty[String, (ReadInputs, Row)]
  private def dropReadCaches(name: String): Unit = {
    sizeEstCache.remove(name)
    Seq(false, true).foreach(pinned => readPlans.remove((name, pinned)))
  }
  /** One registered secondary index (statements/schema/CreateIndexStatement
    * .java; schema/IndexMetadata.java). `targets` are (column, kind) with
    * kind ∈ simple|keys|values|entries|full; `custom` + `className` model
    * CREATE CUSTOM INDEX ... USING (SASI-style indexes serve LIKE).
    */
  final case class IndexDef(name: String, table: String,
                            targets: Seq[(String, String)],
                            custom: Boolean, className: Option[String],
                            options: Map[String, String])

  /** index name → definition (names are unique per keyspace, like the
    * reference's Indexes registry). Frozen-ness is erased in this type
    * model (Ast.scala CqlType scaladoc), so full() is accepted on any
    * collection and the frozen-only validations don't apply.
    */
  private val indexDefs = scala.collection.mutable.LinkedHashMap.empty[String, IndexDef]

  private def tableIndexes(tbl: String): Iterable[IndexDef] =
    indexDefs.values.filter(_.table == tbl)

  /** Estimated mean rows per indexed term, snapshotted at index BUILD time
    * (Index.getEstimatedResultRows; SASIIndex.java:227-229 divides row
    * count by term count). Candidate indexes rank ascending by this —
    * fewest estimated rows = most selective wins
    * (SecondaryIndexManager.getBestIndexFor:1047-1052) — with creation
    * order as the tie-break. 0.0 (empty table at build) ties everything,
    * so DDL-before-data flows keep the deterministic creation-order pick.
    * Deviation (documented): the reference re-estimates from live sstable
    * metadata per query; this snapshot is not refreshed by later writes.
    */
  private val indexStats = scala.collection.mutable.Map.empty[String, Double]

  /** Mean rows per term for one index: total analyzed terms / distinct
    * analyzed terms over the CURRENT table data. The term stream matches
    * what the index's analyzer would store — tokenized indexes count word
    * terms, case-normalizing ones count lowered values, everything else
    * counts raw values (JSON surrogate so non-orderable types count too).
    */
  private def computeIndexStat(d: IndexDef): Double = {
    val hasData = logs.get(d.table).exists(_.rows.nonEmpty) || storage.exists(_.holdsData(d.table))
    if (!hasData) return 0.0
    val c = d.targets.head._1
    val cd = table(d.table).column(c).get
    val base = readCanonical(d.table).select(col(c)).filter(col(c).isNotNull)
    val terms =
      if (d.custom && sasiTokenizing(d) && cd.tpe == CqlText) {
        val lc = sasiTokenLowercase(d)
        base.select(explode(filter(
          split(if (lc) lower(col(c)) else col(c), sasiSplitPattern(d)),
          t => length(t) > 0)).as("_t"))
      } else if (d.custom && sasiCaseInsensitive(d) && cd.tpe == CqlText)
        base.select(lower(col(c)).as("_t"))
      else base.select(to_json(struct(col(c))).as("_t"))
    val r = terms.agg(count(lit(1)).as("n"), countDistinct(col("_t")).as("d")).head()
    val (n, dist) = (r.getLong(0), r.getLong(1))
    if (dist == 0L) 0.0 else n.toDouble / dist
  }

  /** Rank servable candidates: most selective first, creation order as the
    * tie-break (candidates arrive in creation order and sortBy is stable).
    */
  private def rankBySelectivity(candidates: Seq[IndexDef]): Seq[IndexDef] =
    if (candidates.lengthCompare(1) <= 0) candidates
    else candidates.sortBy(d => indexStats.getOrElse(d.name, 0.0))

  /** Is there a PLAIN (non-custom) index on (tbl, column) with one of these
    * target kinds? Custom (SASI) serving goes through the mode-aware rules
    * at the call sites — a tokenized SASI index must not pass as a simple
    * EQ index.
    */
  private def hasIndex(tbl: String, c: String, kinds: Set[String]): Boolean =
    tableIndexes(tbl).exists(d =>
      !d.custom && d.targets.exists(t => t._1 == c && kinds(t._2)))

  /** SASI custom-index option resolution (sasi/conf/IndexMode.java:134-194):
    * mode defaults to PREFIX; analyzed defaults to true when an
    * analyzer_class is present; literal-ness defaults to the column being
    * text/ascii unless 'is_literal' overrides.
    */
  private def sasiMode(d: IndexDef): String =
    d.options.getOrElse("mode", "PREFIX").toUpperCase
  private def sasiAnalyzed(d: IndexDef): Boolean =
    d.options.get("analyzed").map(_.equalsIgnoreCase("true"))
      .getOrElse(d.options.contains("analyzer_class"))
  private def sasiLiteral(d: IndexDef, tpe: CqlType): Boolean =
    d.options.get("is_literal").map(_.equalsIgnoreCase("true"))
      .getOrElse(tpe == CqlText || tpe == CqlAscii)
  /** The index's analyzer normalizes case (NonTokenizingOptions:104-138:
    * case_sensitive=false, normalize_lowercase or normalize_uppercase) —
    * both indexed terms and query terms pass through the analyzer
    * (NonTokenizingAnalyzer.java:91), so LIKE served by such an index
    * matches case-insensitively.
    */
  private def sasiCaseInsensitive(d: IndexDef): Boolean =
    d.options.get("case_sensitive").exists(_.equalsIgnoreCase("false")) ||
    d.options.get("normalize_lowercase").exists(_.equalsIgnoreCase("true")) ||
    d.options.get("normalize_uppercase").exists(_.equalsIgnoreCase("true"))

  /** Is this analyzed index TOKENIZING? IndexMode.getAnalyzer:74-86: an
    * analyzed index with no analyzer_class defaults to StandardAnalyzer on
    * text/ascii; explicit StandardAnalyzer and DelimiterAnalyzer classes
    * tokenize (both return isTokenizing=true); the NonTokenizingAnalyzer
    * only case-normalizes the whole value.
    */
  private def sasiTokenizing(d: IndexDef): Boolean =
    sasiAnalyzed(d) && d.options.get("analyzer_class").forall(c =>
      c.endsWith("StandardAnalyzer") || c.endsWith("DelimiterAnalyzer"))

  /** Term-split regex for a tokenizing index: DelimiterAnalyzer splits on
    * its single configured character (default ',' —
    * DelimiterTokenizingOptions:42, empty tokens skipped per
    * DelimiterAnalyzer.java:95-98); StandardAnalyzer splits on word
    * boundaries.
    */
  private def sasiSplitPattern(d: IndexDef): String =
    if (d.options.get("analyzer_class").exists(_.endsWith("DelimiterAnalyzer")))
      java.util.regex.Pattern.quote(d.options.getOrElse("delimiter", ","))
    else sasiTokenSplit
  /** StandardTokenizerOptions: lowercase normalization is opt-in. */
  private def sasiTokenLowercase(d: IndexDef): Boolean =
    d.options.get("tokenization_normalize_lowercase").exists(_.equalsIgnoreCase("true"))
  /** Word-split approximating the reference's JFlex standard tokenizer
    * (StandardAnalyzer.java:42, StandardTokenizerImpl grammar): runs of
    * Unicode letters/digits are terms, everything else splits. (Optional
    * stemming/stop-word filters are out of scope — documented.)
    */
  private val sasiTokenSplit = "[^\\p{L}\\p{N}]+"

  /** Keyspaces (CREATE KEYSPACE / USE). The default keyspace's tables keep
    * UNQUALIFIED catalog keys (back-compat with storage layouts and every
    * pre-keyspace caller); other keyspaces key as `ks.table`.
    */
  private val keyspaces =
    scala.collection.mutable.LinkedHashSet("graft", "system", "system_schema")
  val defaultKeyspace = "graft"
  var currentKeyspace: String = defaultKeyspace

  /** Canonical catalog key of a possibly-qualified table name (public for
    * consumers that build storage paths, e.g. streaming CDC).
    */
  def canonicalName(n: String): String = canon(n)

  /** Canonical catalog key of a possibly-qualified table name. */
  private def canon(n: String): String = {
    val full = if (n.contains('.')) n else s"$currentKeyspace.$n"
    if (full.startsWith(defaultKeyspace + ".")) full.drop(defaultKeyspace.length + 1)
    else full
  }

  /** (keyspace, bare table name) of a canonical catalog key. */
  private def splitName(key: String): (String, String) = {
    val i = key.indexOf('.')
    if (i < 0) (defaultKeyspace, key) else (key.take(i), key.drop(i + 1))
  }

  /** Resolve an optionally ks-qualified schema-object name (type/function/
    * aggregate — `Parser.g` userTypeName/functionName accept `ks.name`).
    * Types, functions and aggregates live in per-keyspace registries in
    * the reference; here the registries are unqualified (canon-once
    * design), so a qualified name resolves by its bare part after the
    * keyspace is validated. Returns (keyspace-for-messages, bare name).
    */
  private def schemaObjectName(n: String): (String, String) = {
    val i = n.indexOf('.')
    if (i < 0) (currentKeyspace, n)
    else {
      val ks = n.take(i)
      if (!keyspaces.contains(ks))
        throw InvalidRequest(s"Keyspace '$ks' does not exist")
      (ks, n.drop(i + 1))
    }
  }

  /** DROP ... IF EXISTS variant: an unknown keyspace is a no-op (None),
    * not an error — DropTypeStatement/DropFunctionStatement.apply return
    * the schema unchanged when the keyspace is missing under IF EXISTS.
    */
  private def schemaObjectNameIfExists(n: String, ifExists: Boolean): Option[(String, String)] = {
    val i = n.indexOf('.')
    if (ifExists && i >= 0 && !keyspaces.contains(n.take(i))) None
    else Some(schemaObjectName(n))
  }

  /** Canonical per-keyspace registry key `ks.name` for a type/function/
    * aggregate — the reference keeps these per-keyspace in system_schema
    * (SchemaKeyspace.java types/functions/aggregates tables), so the same
    * bare name may exist independently in two keyspaces.
    */
  private def objKey(n: String): String = {
    val (ks, bare) = schemaObjectName(n)
    s"$ks.$bare"
  }

  /** [[objKey]] that yields None instead of throwing on an unknown
    * keyspace qualifier — for use in match GUARDS, where an unknown name
    * must fall through to the site's own "Unknown function" error.
    */
  private def objKeyOpt(n: String): Option[String] = {
    val i = n.indexOf('.')
    if (i >= 0 && !keyspaces.contains(n.take(i))) None else Some(objKey(n))
  }

  /** Spark temp functions cannot be keyspace-qualified, so the registered
    * name mangles the canonical key's dot. Call sites go through this
    * mapping; CQL-side names never see it.
    */
  private def sparkFnName(key: String): String = key.replace(".", "__")

  /** User types are keyspace-local: a statement in keyspace A cannot embed
    * a type of keyspace B (CQL3Type.java:753-762, CASSANDRA-6643).
    */
  private def requireSameKeyspaceTypes(ks: String, types: Seq[CqlType]): Unit = {
    def udtsIn(t: CqlType): Seq[CqlUdt] = t match {
      case u: CqlUdt => u +: u.fields.flatMap(f => udtsIn(f._2))
      case CqlList(e) => udtsIn(e)
      case CqlSet(e) => udtsIn(e)
      case CqlMap(k, v) => udtsIn(k) ++ udtsIn(v)
      case CqlTuple(es) => es.flatMap(udtsIn)
      case _ => Seq.empty
    }
    types.flatMap(udtsIn).foreach { u =>
      val uks = splitName(u.typeName)._1
      if (uks != ks)
        throw InvalidRequest(s"Statement on keyspace $ks cannot refer to a " +
          s"user type in keyspace $uks; user types can only be used in the " +
          "keyspace they are defined in")
    }
  }

  private def requireKeyspace(key: String): Unit = {
    val ks = splitName(key)._1
    if (!keyspaces.contains(ks))
      throw InvalidRequest(s"Keyspace '$ks' does not exist")
  }

  /** Prepared counter deltas arrive as collection-op payloads — the parser
    * cannot type a bind marker in `c = c + ?` / `c += ?`, so it emits the
    * collection form (Parser.g shorthandColumnOperation does the same and
    * Operation.Addition re-types against the column later). Once the table
    * is known, rewrite them into the counter-delta literal the execution
    * and batch-classification paths expect.
    */
  private def normalizeCounterOps(u: Update): Update =
    tables.get(u.table).fold(u) { td =>
      u.copy(assignments = u.assignments.map {
        case (c, CollectionOpLit(op, inner))
            if td.column(c).exists(_.tpe == CqlCounter) &&
               (op == "addappend" || op == "remove") =>
          val d = coerce(inner, CqlBigint, c).asInstanceOf[Long]
          (c, CounterDeltaLit(if (op == "remove") -d else d))
        case other => other
      })
    }

  /** Rewrite a statement's table references to canonical catalog keys. */
  private def canonStmt(s: Statement): Statement = s match {
    case c: CreateTable => c.copy(table = c.table.copy(name = canon(c.table.name)))
    case i: Insert => i.copy(table = canon(i.table))
    case ij: InsertJson => ij.copy(table = canon(ij.table))
    case u: Update => normalizeCounterOps(u.copy(table = canon(u.table)))
    case d: Delete => d.copy(table = canon(d.table))
    case sel: Select => sel.copy(table = canon(sel.table))
    case t: Truncate => t.copy(name = canon(t.name))
    case dt: DropTable => dt.copy(name = canon(dt.name))
    case dv: DropView => dv.copy(name = canon(dv.name))
    case av: AlterView => av.copy(name = canon(av.name))
    case at: AlterTable => at.copy(name = canon(at.name))
    case ci: CreateIndex => ci.copy(table = canon(ci.table))
    case cv: CreateView => cv.copy(name = canon(cv.name), baseTable = canon(cv.baseTable))
    case b: Batch => b.copy(statements = b.statements.map(canonStmt))
    case other => other
  }

  /** Monotonic client-timestamp micros (QueryOptions default behavior). */
  private var tsCounter: Long = 1000L
  private def nextTs(): Long = { tsCounter += 1; tsCounter }

  /** "now" for TTL expiry — settable for tests. */
  var nowMicros: Long = 0L

  /** Optional durable storage: checkpoint + parquet mutation-log segments
    * under one manifest per table (see [[Storage]]).
    */
  private var storage: Option[Storage] = None

  /** Called after every durable storage step with its name: a crash-injection point. */
  private[cql] var storageStep: String => Unit = _ => ()

  /** Attach a storage root; loads any tables previously persisted there. */
  def attachStorage(dir: String): Unit = {
    val st = new Storage(dir, s => storageStep(s))
    storage = Some(st)
    readPlans.clear()
    st.attach().foreach { m =>
      tables(m.schema.name) = m.schema
      logs.getOrElseUpdate(m.schema.name, new Tail)
      // client timestamps must stay monotonic across engine restarts
      tsCounter = math.max(tsCounter, m.maxTs)
    }
  }

  private def attached: Storage = storage.getOrElse(
    throw InvalidRequest("no storage attached — call attachStorage first"))

  /** The clock a commit persists: the session clock or the tail's largest `_ts`. */
  private def commitTs(name: String): Long = {
    val i = logSchema(table(name)).fieldIndex("_ts")
    logs(name).rows.foldLeft(tsCounter)((m, r) => math.max(m, r.getLong(i)))
  }

  private def tailDf(name: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(logs(name).rows: _*), logSchema(table(name)))

  /** Write the in-memory tail as one segment file into `dir`. */
  private def writeTail(name: String)(dir: String): Unit =
    tailDf(name).coalesce(1).write.mode("append").parquet(dir)

  /** Flush a table's in-memory mutation tail to an immutable parquet
    * segment (commit-log-segment analog); the buffer is cleared and reads
    * merge segments + tail transparently.
    */
  def flush(name0: String): Unit = {
    val name = canon(name0)
    val store = attached
    val td = mutableTable(name)
    val added = if (logs(name).rows.isEmpty) Nil else store.writeSegments(name)(writeTail(name))
    store.append(td, added, commitTs(name))
    logs(name).clear()
  }

  /** Bulk-load a DataFrame as INSERT mutations — the scale-path mutation
    * sink (the reference's sstable bulk loader shape, vs. per-row INSERT
    * statements through the parser). Columns are matched BY NAME; absent
    * columns stay unwritten. Every row in one call shares one write
    * timestamp (pass `timestamp` to pin it), like a bulk-loaded sstable
    * generation. With storage attached the mutations are written directly
    * as a parquet log segment — fully distributed, never through the
    * driver; otherwise they land in the in-memory tail.
    */
  def bulkInsert(name0: String, df: DataFrame, timestamp: Option[Long] = None,
                 ttl: Option[Long] = None, timestampCol: Option[String] = None): Unit = {
    val name = canon(name0)
    val td = mutableTable(name)
    // absent TTL → the table's default_time_to_live, like statement inserts
    val effTtl = ttl.getOrElse(td.defaultTtl)
    val present = df.columns.toSet -- timestampCol
    td.partitionKey.foreach { c =>
      if (!present(c.name))
        throw InvalidRequest(s"Some partition key parts are missing: ${c.name}")
    }
    val writesRegular = td.regulars.exists(c => present(c.name))
    if (writesRegular) td.clustering.foreach { c =>
      if (!present(c.name))
        throw InvalidRequest(s"Some clustering keys are missing: ${c.name}")
    }
    if (td.regulars.exists(c => c.tpe == CqlCounter && present(c.name)))
      throw InvalidRequest("INSERT statements are not allowed on counter tables, use UPDATE instead")
    val ts = timestamp.getOrElse(nextTs())
    def in(c: ColumnDef): Column = {
      val base = (if (present(c.name)) df(c.name) else lit(null)).cast(sparkType(c.tpe))
      // normalize collection values like the literal-insert coerce path:
      // sets sort + dedup, maps sort by key
      val v = c.tpe match {
        case _: CqlSet => array_sort(array_distinct(base))
        case _: CqlMap => map_from_entries(array_sort(map_entries(base)))
        case _ => base
      }
      v.as(c.name)
    }
    val keys = td.primaryKey.map(in)
    val cells = (td.statics ++ td.regulars).flatMap { c =>
      val base = Seq(in(c), lit(present(c.name)).as(c.name + "__set"))
      if (isCollection(c.tpe)) base :+ lit("set").as(c.name + "__op") else base
    }
    val ranges =
      if (td.clustering.isEmpty) Nil
      else td.clustering.flatMap(c => Seq(
        lit(null).cast(sparkType(c.tpe)).as(c.name + "__rlo"),
        lit(null).cast(sparkType(c.tpe)).as(c.name + "__rhi"))) ++ Seq(
        lit(true).as("_rloi"), lit(true).as("_rhii"))
    // per-row event-time write timestamps (µs) via timestampCol — the bulk
    // analog of per-statement USING TIMESTAMP
    val tsCol = timestampCol.map(c => df(c).cast(LongType)).getOrElse(lit(ts))
    val mdf0 = df.select(keys ++ cells ++ ranges ++ Seq(
      lit("insert").as("_op"), tsCol.as("_ts"), lit(effTtl).as("_ttl")): _*)
    // event-time generations observe max(_ts) in the SAME pass as the write
    // (one scan, and the max is of what was actually written even when df
    // is non-deterministic) instead of a second full aggregation action
    val obs = timestampCol.map(_ => org.apache.spark.sql.Observation())
    val mdf = obs.map(o => mdf0.observe(o, max(col("_ts")).as("max_ts"))).getOrElse(mdf0)
    val added = storage match {
      case Some(st) => st.writeSegments(name)(mdf.write.mode("append").parquet(_))
      case None => logs(name).update(_ ++ mdf.collect()); Nil
    }
    // keep the session clock ahead of event-time bulk generations: a later
    // statement write must out-timestamp what was just loaded (mirrors the
    // attachStorage max_ts recalibration), else it silently loses LWW
    val maxWritten: Option[Long] = obs match {
      case Some(o) => o.get.get("max_ts").flatMap(Option(_)).map(_.asInstanceOf[Long])
      case None => Some(ts)
    }
    maxWritten.foreach(m => tsCounter = math.max(tsCounter, m))
    storage.foreach(_.append(td, added, tsCounter))
  }

  def sparkType(t: CqlType): DataType = t match {
    case CqlInt => IntegerType
    case CqlBigint => LongType
    case CqlSmallint => ShortType
    case CqlTinyint => ByteType
    case CqlText | CqlAscii => StringType
    case CqlDouble => DoubleType
    case CqlFloat => FloatType
    case CqlBoolean => BooleanType
    case CqlDecimal => DecimalType(38, 18)
    case CqlVarint => DecimalType(38, 0)
    case CqlTimestamp => TimestampType
    case CqlDate => DateType
    case CqlTime => LongType
    case CqlUuid | CqlTimeuuid => StringType
    case CqlBlob => BinaryType
    case CqlInet => StringType
    case CqlDuration => StructType(Seq(
      StructField("months", IntegerType), StructField("days", IntegerType),
      StructField("nanos", LongType)))
    case CqlCounter => LongType
    case CqlList(e) => ArrayType(sparkType(e))
    case CqlSet(e) => ArrayType(sparkType(e))
    case CqlMap(k, v) => MapType(sparkType(k), sparkType(v))
    // tuples get positional field names; struct comparison in Spark is
    // field-ordered = the reference's lexicographic tuple compare
    case CqlTuple(es) => StructType(es.zipWithIndex.map {
      case (t0, i) => StructField(s"f$i", sparkType(t0))
    })
    case CqlUdt(_, fields) => StructType(fields.map {
      case (f, t0) => StructField(f, sparkType(t0))
    })
  }

  private def logSchema(td: TableDef): StructType = {
    val keys = td.primaryKey.map(c => StructField(c.name, sparkType(c.tpe)))
    val cells = (td.statics ++ td.regulars).flatMap { c =>
      val base = Seq(StructField(c.name, sparkType(c.tpe)),
        StructField(c.name + "__set", BooleanType, nullable = false))
      if (isCollection(c.tpe)) base :+ StructField(c.name + "__op", StringType) else base
    }
    // range-tombstone bounds (delrange op): per clustering column a lo/hi
    // value (null = unbounded from that component on) + end inclusivity
    val ranges =
      if (td.clustering.isEmpty) Nil
      else td.clustering.flatMap(c => Seq(
        StructField(c.name + "__rlo", sparkType(c.tpe)),
        StructField(c.name + "__rhi", sparkType(c.tpe)))) ++ Seq(
        StructField("_rloi", BooleanType), StructField("_rhii", BooleanType))
    StructType(keys ++ cells ++ ranges ++ Seq(
      StructField("_op", StringType, nullable = false),
      StructField("_ts", LongType, nullable = false),
      StructField("_ttl", LongType, nullable = false)))
  }

  def isCollection(t: CqlType): Boolean = t match {
    case _: CqlList | _: CqlSet | _: CqlMap => true
    case _ => false
  }

  /** Resolve a SET assignment on a collection column to (op, payload)
    * (cql3/Lists.java append/prepend, Sets.java add/remove, Maps.java
    * put/delete-key — multi-cell semantics, no read-before-write).
    */
  private def collectionAssign(cd: ColumnDef, l: Literal): (String, Any) = (l, cd.tpe) match {
    // list index ops (Lists.java:408-460 SetterByIndex/DiscarderByIndex):
    // the op string carries the index; bounds check happens read-before-write
    // in executeUpdate, the element substitution folds at read time
    case (CollectionOpLit("put", MapLit(Seq((k, value)))), t: CqlList) =>
      val idx = coerce(k, CqlInt, cd.name) match {
        case i: Int => i
        case other => throw InvalidRequest(s"Invalid list index $other for column ${cd.name}")
      }
      if (value == NullLit) (s"delidx:$idx", Seq.empty[Any])
      else (s"setidx:$idx", Seq(coerce(value, t.elem, cd.name)))
    case (CollectionOpLit("delkey", SetLit(Seq(k))), t: CqlList) =>
      val idx = coerce(k, CqlInt, cd.name).asInstanceOf[Int]
      (s"delidx:$idx", Seq.empty[Any])
    case (CollectionOpLit("addappend", pl), t: CqlList) => ("append", coerce(pl, t, cd.name))
    case (CollectionOpLit("prepend", pl), t: CqlList) => ("prepend", coerce(pl, t, cd.name))
    case (CollectionOpLit("addappend", pl), t: CqlSet) => ("add", coerce(pl, t, cd.name))
    case (CollectionOpLit("addappend", pl), t: CqlMap) => ("put", coerce(pl, t, cd.name))
    case (CollectionOpLit("put", pl), t: CqlMap) => ("put", coerce(pl, t, cd.name))
    case (CollectionOpLit("remove", pl), t: CqlList) =>
      ("remove", coerce(pl, CqlList(t.elem), cd.name))
    case (CollectionOpLit("remove", pl), t: CqlSet) =>
      ("remove", coerce(pl, CqlSet(t.elem), cd.name))
    case (CollectionOpLit("remove", SetLit(ks)), t: CqlMap) =>
      ("delkey", coerce(MapLit(ks.map(_ -> NullLit)), t, cd.name))
    case (CollectionOpLit("delkey", SetLit(ks)), t: CqlMap) =>
      ("delkey", coerce(MapLit(ks.map(_ -> NullLit)), t, cd.name))
    case (CollectionOpLit(op, _), t) =>
      throw InvalidRequest(s"Invalid operation $op for column ${cd.name} of type ${t.name}")
    case (lit, t) => ("set", coerce(lit, t, cd.name))
  }

  def table(name: String): TableDef =
    tables.getOrElse(name, virtualDefs.getOrElse(name,
      throw InvalidRequest(s"unconfigured table $name")))

  /** table() + reject mutations addressed at a materialized view or a
    * virtual table.
    */
  private def mutableTable(name: String): TableDef = {
    if (views.contains(name))
      throw InvalidRequest(s"Cannot directly modify a materialised view")
    if (virtualDefs.contains(name))
      throw InvalidRequest(s"Modification is not supported by table $name")
    table(name)
  }

  // ── virtual tables (db/virtual/SystemViewsKeyspace.java) ──────────────
  /** Introspection views over the engine catalog, matching the reference's
    * system_schema layout (`schema/SchemaKeyspace.java`).
    */
  private val virtualDefs: Map[String, TableDef] = Map(
    "system.local" -> TableDef("system.local", Seq(
      ColumnDef("key", CqlText, PartitionKey),
      ColumnDef("cluster_name", CqlText, Regular),
      ColumnDef("partitioner", CqlText, Regular),
      ColumnDef("release_version", CqlText, Regular)), Seq.empty),
    "system_schema.keyspaces" -> TableDef("system_schema.keyspaces", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey)), Seq.empty),
    "system_schema.tables" -> TableDef("system_schema.tables", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("table_name", CqlText, Clustering)), Seq(false)),
    "system_schema.columns" -> TableDef("system_schema.columns", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("table_name", CqlText, Clustering),
      ColumnDef("column_name", CqlText, Clustering),
      ColumnDef("kind", CqlText, Regular),
      ColumnDef("position", CqlInt, Regular),
      ColumnDef("type", CqlText, Regular)), Seq(false, false)),
    "system_schema.types" -> TableDef("system_schema.types", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("type_name", CqlText, Clustering),
      ColumnDef("field_names", CqlList(CqlText), Regular),
      ColumnDef("field_types", CqlList(CqlText), Regular)), Seq(false)),
    "system_schema.indexes" -> TableDef("system_schema.indexes", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("table_name", CqlText, Clustering),
      ColumnDef("index_name", CqlText, Clustering),
      ColumnDef("kind", CqlText, Regular),
      ColumnDef("options", CqlMap(CqlText, CqlText), Regular)), Seq(false, false)),
    // system.peers: topology the drivers query at connect — EMPTY on a
    // single-node ring, exactly like the reference with no peers
    // (db/SystemKeyspace.java Peers table)
    "system.peers" -> TableDef("system.peers", Seq(
      ColumnDef("peer", CqlText, PartitionKey),
      ColumnDef("data_center", CqlText, Regular),
      ColumnDef("rack", CqlText, Regular),
      ColumnDef("release_version", CqlText, Regular)), Seq.empty),
    // system.peers_v2 (SystemKeyspace.java PeersV2): the non-deprecated
    // peers table 4.x drivers query first at connect; single-node ring =
    // present and empty, like system.peers
    "system.peers_v2" -> TableDef("system.peers_v2", Seq(
      ColumnDef("peer", CqlInet, PartitionKey),
      ColumnDef("peer_port", CqlInt, Clustering),
      ColumnDef("data_center", CqlText, Regular),
      ColumnDef("host_id", CqlUuid, Regular),
      ColumnDef("preferred_ip", CqlInet, Regular),
      ColumnDef("preferred_port", CqlInt, Regular),
      ColumnDef("rack", CqlText, Regular),
      ColumnDef("release_version", CqlText, Regular),
      ColumnDef("native_address", CqlInet, Regular),
      ColumnDef("native_port", CqlInt, Regular),
      ColumnDef("schema_version", CqlUuid, Regular),
      ColumnDef("tokens", CqlSet(CqlText), Regular)), Seq(false)),
    // system.built_views (SystemKeyspace.java BuiltViews): which MVs have
    // finished building — served from the live view registry (engine MVs
    // are derivation-based, so a created view is built by definition)
    "system.built_views" -> TableDef("system.built_views", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("view_name", CqlText, Clustering),
      ColumnDef("status_replicated", CqlBoolean, Regular)), Seq(false)),
    // system.compaction_history (SystemKeyspace.java CompactionHistory):
    // one row per compact() with measured input/output bytes
    "system.compaction_history" -> TableDef("system.compaction_history", Seq(
      ColumnDef("id", CqlUuid, PartitionKey),
      ColumnDef("bytes_in", CqlBigint, Regular),
      ColumnDef("bytes_out", CqlBigint, Regular),
      ColumnDef("columnfamily_name", CqlText, Regular),
      ColumnDef("compacted_at", CqlTimestamp, Regular),
      ColumnDef("keyspace_name", CqlText, Regular),
      ColumnDef("rows_merged", CqlMap(CqlInt, CqlBigint), Regular)), Seq.empty),
    // system.prepared_statements: the reference PERSISTS the prepared
    // cache as a real system table (db/SystemKeyspace.java:108,299 —
    // prepared_id blob PK, logged_keyspace, query_string) so driver
    // tooling can introspect it; served here from the live prepare
    // registry
    "system.prepared_statements" -> TableDef("system.prepared_statements", Seq(
      ColumnDef("prepared_id", CqlBlob, PartitionKey),
      ColumnDef("logged_keyspace", CqlText, Regular),
      ColumnDef("query_string", CqlText, Regular)), Seq.empty),
    // system.size_estimates: what the Cassandra Spark connector reads to
    // plan input splits (db/SystemKeyspace.java:240-251); served from live
    // table data as one full-token-range row per table
    "system.size_estimates" -> TableDef("system.size_estimates", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("table_name", CqlText, Clustering),
      ColumnDef("range_start", CqlText, Clustering),
      ColumnDef("range_end", CqlText, Clustering),
      ColumnDef("mean_partition_size", CqlBigint, Regular),
      ColumnDef("partitions_count", CqlBigint, Regular)), Seq(false, false, false)),
    "system_schema.views" -> TableDef("system_schema.views", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("view_name", CqlText, Clustering),
      ColumnDef("base_table_name", CqlText, Regular)), Seq(false)),
    // SchemaKeyspace.java Functions/Aggregates layouts (argument_types in
    // the clustering key like the reference; served flattened)
    "system_schema.functions" -> TableDef("system_schema.functions", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("function_name", CqlText, Clustering),
      ColumnDef("argument_types", CqlList(CqlText), Regular),
      ColumnDef("argument_names", CqlList(CqlText), Regular),
      ColumnDef("body", CqlText, Regular),
      ColumnDef("language", CqlText, Regular),
      ColumnDef("return_type", CqlText, Regular),
      ColumnDef("called_on_null_input", CqlBoolean, Regular)), Seq(false)),
    "system_schema.aggregates" -> TableDef("system_schema.aggregates", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("aggregate_name", CqlText, Clustering),
      ColumnDef("argument_types", CqlList(CqlText), Regular),
      ColumnDef("final_func", CqlText, Regular),
      ColumnDef("initcond", CqlText, Regular),
      ColumnDef("return_type", CqlText, Regular),
      ColumnDef("state_func", CqlText, Regular),
      ColumnDef("state_type", CqlText, Regular)), Seq(false)),
    // system_views.* (SystemViewsKeyspace.java:30-38) — the reference's
    // node-introspection keyspace, served here from the LIVE Spark session
    // and engine state (never canned rows): settings = session SQL config,
    // clients = this driver connection, caches = block-manager storage +
    // the engine's in-memory log tails, thread_pools = the task scheduler,
    // sstable_tasks = per-table progress toward the next auto-compaction.
    "system_views.settings" -> TableDef("system_views.settings", Seq(
      ColumnDef("name", CqlText, PartitionKey),
      ColumnDef("value", CqlText, Regular)), Seq.empty),
    "system_views.clients" -> TableDef("system_views.clients", Seq(
      ColumnDef("address", CqlText, PartitionKey),
      ColumnDef("port", CqlInt, Clustering),
      ColumnDef("hostname", CqlText, Regular),
      ColumnDef("username", CqlText, Regular),
      ColumnDef("connection_stage", CqlText, Regular),
      ColumnDef("protocol_version", CqlInt, Regular),
      ColumnDef("driver_name", CqlText, Regular),
      ColumnDef("driver_version", CqlText, Regular),
      ColumnDef("request_count", CqlBigint, Regular),
      ColumnDef("ssl_enabled", CqlBoolean, Regular)), Seq(false)),
    "system_views.caches" -> TableDef("system_views.caches", Seq(
      ColumnDef("name", CqlText, PartitionKey),
      ColumnDef("capacity_bytes", CqlBigint, Regular),
      ColumnDef("entry_count", CqlInt, Regular),
      ColumnDef("size_bytes", CqlBigint, Regular),
      ColumnDef("request_count", CqlBigint, Regular),
      ColumnDef("hit_count", CqlBigint, Regular),
      ColumnDef("hit_ratio", CqlDouble, Regular)), Seq.empty),
    "system_views.thread_pools" -> TableDef("system_views.thread_pools", Seq(
      ColumnDef("name", CqlText, PartitionKey),
      ColumnDef("active_tasks", CqlInt, Regular),
      ColumnDef("active_tasks_limit", CqlInt, Regular),
      ColumnDef("pending_tasks", CqlInt, Regular),
      ColumnDef("completed_tasks", CqlBigint, Regular),
      ColumnDef("blocked_tasks", CqlInt, Regular),
      ColumnDef("blocked_tasks_all_time", CqlBigint, Regular)), Seq.empty),
    "system_views.sstable_tasks" -> TableDef("system_views.sstable_tasks", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("table_name", CqlText, Clustering),
      ColumnDef("task_id", CqlText, Clustering),
      ColumnDef("kind", CqlText, Regular),
      ColumnDef("progress", CqlBigint, Regular),
      ColumnDef("total", CqlBigint, Regular),
      ColumnDef("unit", CqlText, Regular)), Seq(false, false)),
    // system_virtual_schema (db/virtual/VirtualSchemaKeyspace.java:33-152):
    // the self-description of the VIRTUAL keyspaces — 4.0 drivers read it
    // at connect to discover virtual tables. Only registry keyspaces
    // appear (system_views + system_virtual_schema itself), exactly like
    // VirtualKeyspaceRegistry; system/system_schema are node-local tables,
    // not registry entries.
    "system_virtual_schema.keyspaces" -> TableDef("system_virtual_schema.keyspaces", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey)), Seq.empty),
    "system_virtual_schema.tables" -> TableDef("system_virtual_schema.tables", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("table_name", CqlText, Clustering),
      ColumnDef("comment", CqlText, Regular)), Seq(false)),
    "system_virtual_schema.columns" -> TableDef("system_virtual_schema.columns", Seq(
      ColumnDef("keyspace_name", CqlText, PartitionKey),
      ColumnDef("table_name", CqlText, Clustering),
      ColumnDef("column_name", CqlText, Clustering),
      ColumnDef("clustering_order", CqlText, Regular),
      ColumnDef("column_name_bytes", CqlBlob, Regular),
      ColumnDef("kind", CqlText, Regular),
      ColumnDef("position", CqlInt, Regular),
      ColumnDef("type", CqlText, Regular)), Seq(false, false)))

  /** Virtual-registry keyspaces served by system_virtual_schema (the
    * reference's VirtualKeyspaceRegistry holds exactly these two).
    */
  private val virtualRegistryKs = Seq("system_views", "system_virtual_schema")
  private def virtualRegistryDefs: Seq[TableDef] =
    virtualDefs.values.toSeq
      .filter(td => virtualRegistryKs.contains(splitName(td.name)._1))
      .sortBy(_.name)
  /** Reference table comments (each *Table.java's .comment(...); absent =
    * the TableParams default "").
    */
  private val virtualComments = Map(
    "system_views.settings" -> "current settings",
    "system_views.clients" -> "currently connected clients",
    "system_views.caches" -> "system caches",
    "system_views.sstable_tasks" -> "current sstable tasks",
    "system_virtual_schema.keyspaces" -> "virtual keyspace definitions",
    "system_virtual_schema.tables" -> "virtual table definitions",
    "system_virtual_schema.columns" -> "virtual column definitions")

  private val keyspace = "graft"

  private def virtualDf(name: String): Option[DataFrame] = {
    def mk(td: TableDef, data: Seq[Row]): DataFrame = {
      // read()-compatible shape: value columns plus null shadow columns
      val base = StructType(td.columns.map(c => StructField(c.name, sparkType(c.tpe))))
      val df = spark.createDataFrame(java.util.Arrays.asList(data: _*), base)
      (td.regulars ++ td.statics).foldLeft(df) { (d, c) =>
        d.withColumn("_wt_" + c.name, lit(null).cast(LongType))
          .withColumn("_ttlr_" + c.name, lit(null).cast(IntegerType))
      }
    }
    name match {
      case "system.local" => Some(mk(virtualDefs(name), Seq(
        Row("local", keyspace, "graft.functions.CassandraMurmur3", "4.1-graft"))))
      case "system_schema.keyspaces" => Some(mk(virtualDefs(name),
        keyspaces.toSeq.map(Row(_))))
      case "system_schema.tables" => Some(mk(virtualDefs(name),
        tables.keys.filterNot(virtualDefs.contains).toSeq.map { t =>
          val (ks, tn) = splitName(t); Row(ks, tn)
        }))
      case "system_schema.columns" => Some(mk(virtualDefs(name),
        tables.values.filterNot(t => virtualDefs.contains(t.name)).toSeq.flatMap { td =>
          td.columns.map { c =>
            val kind = c.kind match {
              case PartitionKey => "partition_key"
              case Clustering => "clustering"
              case Static => "static"
              case Regular => "regular"
            }
            val pos = c.kind match {
              case PartitionKey => td.partitionKey.indexWhere(_.name == c.name)
              case Clustering => td.clustering.indexWhere(_.name == c.name)
              case _ => -1
            }
            val (ks, tn) = splitName(td.name)
            Row(ks, tn, c.name, kind, pos, c.tpe.name)
          }
        }))
      case "system_schema.types" => Some(mk(virtualDefs(name),
        udts.values.toSeq.map { u =>
          val (ks, tn) = splitName(u.typeName)
          Row(ks, tn, u.fields.map(_._1), u.fields.map(_._2.name))
        }))
      case "system_schema.indexes" => Some(mk(virtualDefs(name),
        indexDefs.values.toSeq.map { d =>
          val (ks, tn) = splitName(d.table)
          // SchemaKeyspace.java indexes layout: kind COMPOSITES|CUSTOM,
          // options carries target (+ class_name for custom)
          val target = d.targets.map {
            case (c, "simple") => c
            case (c, k) => s"$k($c)"
          }.mkString(", ")
          val opts = d.options ++ Map("target" -> target) ++
            d.className.map("class_name" -> _)
          Row(ks, tn, d.name, if (d.custom) "CUSTOM" else "COMPOSITES", opts)
        }))
      case "system.peers" => Some(mk(virtualDefs(name), Seq.empty))
      case "system.peers_v2" => Some(mk(virtualDefs(name), Seq.empty))
      case "system.built_views" => Some(mk(virtualDefs(name),
        views.keys.toSeq.sorted.map { v =>
          val (ks, vn) = splitName(v)
          Row(ks, vn, true)
        }))
      case "system.compaction_history" =>
        // the reference table carries default_time_to_live = 7 days
        // ("week-long compaction history") — records also expire at each
        // compact() append, so the buffer is bounded even if never read
        pruneCompactionHistory()
        Some(mk(virtualDefs(name), compactionHistory.toSeq))
      case "system.prepared_statements" =>
        val rows = preparedRegistry.synchronized {
          import scala.jdk.CollectionConverters._
          preparedRegistry.entrySet().asScala.toSeq.map { e =>
            val idBytes = e.getKey.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray
            Row(idBytes, e.getValue._1, e.getValue._2)
          }
        }
        Some(mk(virtualDefs(name), rows))
      case "system.size_estimates" =>
        // one full-token-range row per table: rows and approx-distinct
        // partition keys from the live data, partition size from the
        // schema's default column widths. Recompute only for tables whose
        // read inputs moved since the last read (split-planning clients
        // poll this table — see sizeEstCache scaladoc); everything else
        // answers from the cached row.
        val rows = tables.keys.toSeq.sorted
          .filterNot(t => virtualDefs.contains(t) || views.contains(t))
          .map { t =>
            val inputs = readInputs(t)
            sizeEstCache.get(t) match {
              case Some((in, row)) if in == inputs => row
              case _ =>
                val td = tables(t)
                val (ks, tn) = splitName(t)
                val data = read(t)
                val pk = td.partitionKey.map(c => col(c.name))
                val agg = data.agg(count(lit(1)).as("n"),
                  approx_count_distinct(struct(pk: _*)).as("parts")).head()
                val n = agg.getLong(0)
                val parts = agg.getLong(1)
                val rowWidth = td.columns.map(c => sparkType(c.tpe).defaultSize.toLong).sum
                val meanSize = if (parts == 0L) 0L else rowWidth * n / parts
                val row = Row(ks, tn, Long.MinValue.toString, Long.MaxValue.toString,
                  meanSize, parts)
                sizeEstCache(t) = (inputs, row)
                row
            }
          }
        Some(mk(virtualDefs(name), rows))
      case "system_schema.views" => Some(mk(virtualDefs(name),
        views.values.toSeq.map { v =>
          val (ks, vn) = splitName(v.name)
          Row(ks, vn, splitName(v.baseTable)._2)
        }))
      case "system_schema.functions" => Some(mk(virtualDefs(name),
        udfs.values.toSeq.map { f =>
          val (ks, fn) = splitName(f.name)
          Row(ks, fn, f.args.map(_._2.name), f.args.map(_._1), f.body,
            f.language, f.returns.name, !f.returnsNullOnNull)
        }))
      case "system_schema.aggregates" => Some(mk(virtualDefs(name),
        udas.values.toSeq.map { a =>
          val (ks, an) = splitName(a.name)
          Row(ks, an, a.argTypes.map(_.name), a.finalFunc.map(splitName(_)._2).orNull,
            a.initCond.map(_.toString).orNull, udfs.get(a.finalFunc.getOrElse(""))
              .map(_.returns.name).getOrElse(a.stype.name),
            splitName(a.sfunc)._2, a.stype.name)
        }))
      case "system_views.settings" =>
        // SettingsTable.java — node config as (name, value); here the live
        // session SQL config (runtime-mutable entries included), sorted
        Some(mk(virtualDefs(name),
          spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }))
      case "system_views.clients" =>
        // ClientsTable.java — connected clients; the Spark analog is this
        // driver connection with the engine's live statement counter
        val sc = spark.sparkContext
        val host = sc.getConf.get("spark.driver.host", "127.0.0.1")
        val port = sc.getConf.getInt("spark.driver.port", 0)
        Some(mk(virtualDefs(name), Seq(Row(
          host, port, java.net.InetAddress.getLocalHost.getHostName,
          sc.sparkUser, "READY", 5, "graft", sc.version,
          statementCount, false))))
      case "system_views.caches" =>
        // CachesTable.java — cache occupancy; served from the live block
        // manager (cached RDD/table blocks) and the engine's in-memory
        // mutation-log tails. Hit counters aren't tracked → null, like the
        // reference's NaN-when-unmeasured ratio.
        val sc = spark.sparkContext
        val storage = sc.getRDDStorageInfo
        val maxMem = sc.getExecutorMemoryStatus.values.map(_._1).sum
        val tailRows = logs.values.map(_.rows.size.toLong).sum
        Some(mk(virtualDefs(name), Seq(
          Row("block_manager_storage", maxMem,
            storage.map(_.numCachedPartitions).sum,
            storage.map(s => s.memSize + s.diskSize).sum, null, null, null),
          Row("mutation_log_tails", autoFlushRows.toLong * tables.size,
            tailRows.toInt, null, null, null, null))))
      case "system_views.thread_pools" =>
        // ThreadPoolsTable.java — executor pool gauges; the Spark analog is
        // the task scheduler, read from the public status tracker
        val t = spark.sparkContext.statusTracker
        val active = t.getExecutorInfos.map(_.numRunningTasks()).sum
        val stages = t.getActiveStageIds.flatMap(id => t.getStageInfo(id))
        val pending = stages.map(s =>
          math.max(0, s.numTasks - s.numActiveTasks - s.numCompletedTasks)).sum
        Some(mk(virtualDefs(name), Seq(Row(
          "task-scheduler", active, spark.sparkContext.defaultParallelism,
          pending, TaskCounter.completed(spark.sparkContext), 0, 0L))))
      case "system_views.sstable_tasks" =>
        // SSTableTasksTable.java — in-flight compactions; the engine's
        // analog is each storage-attached table's progress toward its next
        // auto-flush compaction (tail rows vs the flush threshold)
        Some(mk(virtualDefs(name),
          if (storage.isEmpty) Seq.empty
          else logs.toSeq.sortBy(_._1).collect {
            case (tbl, tail) if !virtualDefs.contains(tbl) =>
              val (ks, tn) = splitName(tbl)
              Row(ks, tn, "pending-flush", "compaction",
                tail.rows.size.toLong, autoFlushRows.toLong, "rows")
          }))
      case "system_virtual_schema.keyspaces" =>
        Some(mk(virtualDefs(name), virtualRegistryKs.sorted.map(Row(_))))
      case "system_virtual_schema.tables" =>
        Some(mk(virtualDefs(name), virtualRegistryDefs.map { td =>
          val (ks, tn) = splitName(td.name)
          Row(ks, tn, virtualComments.getOrElse(td.name, ""))
        }))
      case "system_virtual_schema.columns" =>
        // VirtualSchemaKeyspace.java:139-146 row shape: clustering_order
        // none/asc/desc, raw name bytes, lowercase kind, position within
        // its key (-1 otherwise), CQL type name
        Some(mk(virtualDefs(name), virtualRegistryDefs.flatMap { td =>
          val (ks, tn) = splitName(td.name)
          td.columns.map { c =>
            val kind = c.kind match {
              case PartitionKey => "partition_key"
              case Clustering => "clustering"
              case Static => "static"
              case Regular => "regular"
            }
            val pos = c.kind match {
              case PartitionKey => td.partitionKey.indexWhere(_.name == c.name)
              case Clustering => td.clustering.indexWhere(_.name == c.name)
              case _ => -1
            }
            val order = c.kind match {
              case Clustering =>
                val ci = td.clustering.indexWhere(_.name == c.name)
                if (td.clusteringDesc.lift(ci).getOrElse(false)) "desc" else "asc"
              case _ => "none"
            }
            Row(ks, tn, c.name, order,
              c.name.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              kind, pos, c.tpe.name)
          }
        }))
      case _ => None
    }
  }

  /** CREATE MATERIALIZED VIEW validation (reference
    * `cql3/statements/schema/CreateViewStatement.java`): view PK ⊇ base PK,
    * at most one extra column, every view-PK column IS NOT NULL-restricted.
    */
  private def createView(v: CreateView): DataFrame = {
    requireKeyspace(v.name)
    if (tables.contains(v.name) || views.contains(v.name)) {
      if (!v.ifNotExists) throw InvalidRequest(s"Materialized view ${v.name} already exists")
      return emptyResult
    }
    if (views.contains(v.baseTable))
      throw InvalidRequest("Materialized views cannot be created against other materialized views")
    val base = table(v.baseTable)
    val basePk = base.primaryKey.map(_.name)
    val viewPk = v.partitionKey ++ v.clustering
    val missing = basePk.filterNot(viewPk.contains)
    if (missing.nonEmpty)
      throw InvalidRequest(
        s"Cannot create Materialized View ${v.name} without primary key columns from base ${v.baseTable} (${missing.mkString(", ")})")
    val extra = viewPk.filterNot(basePk.contains)
    if (extra.length > 1)
      throw InvalidRequest(
        s"Cannot include more than one non-primary key column '${extra.mkString(", ")}' in materialized view primary key")
    viewPk.foreach { c =>
      if (base.column(c).isEmpty) throw InvalidRequest(s"Undefined column name $c")
      val restrictedNonNull = v.where.exists {
        case IsNotNull(`c`) => true
        case Rel(`c`, "=", _) => true
        case _ => false
      }
      if (!restrictedNonNull)
        throw InvalidRequest(s"Primary key column '$c' is required to be filtered by 'IS NOT NULL'")
    }
    val selCols: Seq[String] =
      if (v.selectors.contains(Star)) base.columns.map(_.name)
      else (viewPk ++ v.selectors.collect { case ExprSel(ColRef(n), _) => n }).distinct
    val defs = selCols.map { n =>
      val cd = base.column(n).getOrElse(throw InvalidRequest(s"Undefined column name $n"))
      val kind =
        if (v.partitionKey.contains(n)) PartitionKey
        else if (v.clustering.contains(n)) Clustering
        else Regular
      ColumnDef(n, cd.tpe, kind)
    }
    val ordered = v.partitionKey.map(n => defs.find(_.name == n).get) ++
      v.clustering.map(n => defs.find(_.name == n).get) ++
      defs.filterNot(c => viewPk.contains(c.name))
    views(v.name) = v
    tables(v.name) = TableDef(v.name, ordered, v.clusteringDesc)
    emptyResult
  }

  /** View read = base reconcile → WHERE filter → re-keyed projection. */
  private def readView(v: CreateView): DataFrame = {
    val base = table(v.baseTable)
    var df = readCanonical(v.baseTable)
    val filters = v.where.map {
      case IsNotNull(c) => col(c).isNotNull
      case Rel(c, op, value) =>
        val cd = base.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        val l = litValue(coerce(value, cd.tpe, c), cd.tpe)
        op match {
          case "=" => col(c) === l
          case "<" => col(c) < l
          case "<=" => col(c) <= l
          case ">" => col(c) > l
          case ">=" => col(c) >= l
          case other => throw InvalidRequest(s"Unsupported operator $other in materialized view WHERE")
        }
      case In(c, vs) =>
        val cd = base.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        col(c).isin(vs.map(coerce(_, cd.tpe, c)): _*)
      case other => throw InvalidRequest(s"Unsupported restriction in materialized view WHERE: $other")
    }
    if (filters.nonEmpty) df = df.filter(filters.reduce(_ && _))
    val td = tables(v.name)
    val shadows = td.columns.filter(c => c.kind == Regular || c.kind == Static)
      .flatMap(c => Seq("_wt_" + c.name, "_ttlr_" + c.name,
        "_wtl_" + c.name, "_ttlrl_" + c.name))
      .filter(df.columns.contains)
    df.select((td.columns.map(_.name) ++ shadows).distinct.map(col): _*)
  }

  // ── statement execution ───────────────────────────────────────────────
  def execute(cql: String): DataFrame = {
    statementCount += 1
    run(CqlParser.parse(cql, parseUdts))
  }

  // served by system_views.clients as request_count, like the reference's
  // per-connection counter (db/virtual/ClientsTable.java); prepared
  // executions count too (Prepared.execute calls noteStatement)
  private var statementCount: Long = 0L
  private[cql] def noteStatement(): Unit = statementCount += 1

  // system.prepared_statements backing: every prepare registers its
  // (id → logged keyspace, query string) here; insertion-ordered for
  // deterministic introspection reads
  private val preparedRegistry =
    new java.util.LinkedHashMap[String, (String, String)]()
  private[cql] def notePrepared(id: String, ks: String, query: String): Unit =
    preparedRegistry.synchronized { preparedRegistry.put(id, (ks, query)); () }

  /** Type-resolution map for the parser: every type under its canonical
    * `ks.name` key, plus bare-name aliases for the CURRENT keyspace (an
    * unqualified type name resolves there, like the reference's
    * per-keyspace Types lookup).
    */
  private def parseUdts: Map[String, CqlUdt] =
    udts.toMap ++ udts.collect {
      case (k, u) if k.startsWith(currentKeyspace + ".") =>
        k.drop(currentKeyspace.length + 1) -> u
    }

  /** Run with unqualified-name resolution pinned to `ks`: prepared
    * statements resolve against the keyspace current at PREPARE time
    * (QueryProcessor.java:460-490), whatever the session keyspace is now.
    * A USE statement still switches the session keyspace.
    */
  private[cql] def runPinned(ks: String, stmt: Statement): DataFrame = stmt match {
    case _: UseKeyspace => run(stmt)
    case _ =>
      val saved = currentKeyspace
      currentKeyspace = ks
      try run(stmt)
      finally if (currentKeyspace == ks) currentKeyspace = saved
  }

  def run(stmt0: Statement): DataFrame = canonStmt(stmt0) match {
    case CreateKeyspace(n, ifNotExists) =>
      if (keyspaces.contains(n)) {
        if (!ifNotExists) throw InvalidRequest(s"Keyspace $n already exists")
      } else keyspaces += n
      emptyResult
    case AlterKeyspace(n) =>
      if (!keyspaces.contains(n)) throw InvalidRequest(s"Keyspace '$n' does not exist")
      emptyResult
    case UseKeyspace(n) =>
      if (!keyspaces.contains(n)) throw InvalidRequest(s"Keyspace '$n' does not exist")
      currentKeyspace = n
      emptyResult
    case DropKeyspace(n, ifExists) =>
      if (n == "system" || n == "system_schema")
        throw InvalidRequest(s"Cannot drop system keyspace $n")
      if (!keyspaces.contains(n)) {
        if (!ifExists) throw InvalidRequest(s"Keyspace '$n' does not exist")
      } else {
        keyspaces -= n
        val doomed = tables.keys.filter(splitName(_)._1 == n).toList
        doomed.foreach { t =>
          tables.remove(t); logs.remove(t); dropReadCaches(t); storage.foreach(_.drop(t))
          indexDefs.filterInPlace { (nm, d) =>
            if (d.table == t) indexStats.remove(nm)
            d.table != t
          }
        }
        views.keys.filter(splitName(_)._1 == n).toList.foreach { v =>
          views.remove(v); viewOptions.remove(v)
        }
        // the keyspace's schema objects go with it (DropKeyspaceStatement
        // drops the whole keyspace subtree of system_schema)
        udts.filterInPlace((k, _) => splitName(k)._1 != n)
        udas.filterInPlace((k, _) => splitName(k)._1 != n)
        udfs.filterInPlace { (k, _) =>
          val gone = splitName(k)._1 == n
          if (gone) spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS ${sparkFnName(k)}")
          !gone
        }
        if (currentKeyspace == n) currentKeyspace = defaultKeyspace
      }
      emptyResult
    case CreateType(u, ifNotExists) =>
      val tkey = objKey(u.typeName)
      requireSameKeyspaceTypes(splitName(tkey)._1, u.fields.map(_._2))
      if (udts.contains(tkey)) {
        if (!ifNotExists) throw InvalidRequest(s"A user type of name $tkey already exists")
      } else udts(tkey) = u.copy(typeName = tkey) // embedded refs carry ks.name
      emptyResult
    case at: AlterType => executeAlterType(at)
    case CreateTable(td, ifNotExists) =>
      requireKeyspace(td.name)
      requireSameKeyspaceTypes(splitName(td.name)._1, td.columns.map(_.tpe))
      // durations are not comparable: never a PK part, set element or map
      // key (DurationType.isCompatibleWith → false for ordered positions)
      td.primaryKey.find(_.tpe == CqlDuration).foreach(c =>
        throw InvalidRequest(s"duration type is not supported for PRIMARY KEY column '${c.name}'"))
      td.columns.map(_.tpe).foreach {
        case CqlSet(CqlDuration) | CqlMap(CqlDuration, _) =>
          throw InvalidRequest("Durations are not allowed as set elements or map keys")
        case _ =>
      }
      if (tables.contains(td.name)) {
        if (!ifNotExists) throw InvalidRequest(s"Table ${td.name} already exists")
      } else {
        tables(td.name) = td
        logs(td.name) = new Tail
      }
      emptyResult
    case v: CreateView => createView(v)
    case f: CreateFunction =>
      val fkey = objKey(f.name)
      if (udfs.contains(fkey) && !f.orReplace) {
        if (!f.ifNotExists) throw InvalidRequest(s"Function $fkey already exists")
      } else {
        // LANGUAGE spark/sql: the body IS a Spark SQL expression.
        // LANGUAGE java: expression-and-statement-shaped bodies (single
        // return, local declarations, if/else — the reference validation
        // suite's shapes) translate through JavaUdfShim into equivalent
        // Spark SQL; anything larger is rejected with the reference's
        // compile-error text (JavaBasedUDFunction.java:351,360). Either way
        // the registered function inlines at analysis time into whole-stage
        // codegen instead of interpreting per row.
        val exprBody = f.language match {
          case "spark" | "sql" => f.body
          case "java" =>
            try JavaUdfShim.translate(f.body, f.args)
            catch { case JavaUdfShim.Untranslatable(detail) =>
              throw InvalidRequest(
                s"Could not compile function '$fkey' from Java source: $detail")
            }
          case other => throw InvalidRequest(s"Unsupported language '$other' " +
            "(this engine accepts LANGUAGE spark — a Spark SQL expression over " +
            "the arguments — or LANGUAGE java limited to declarations, if/else " +
            "and return statements)")
        }
        val argDdl = f.args.map { case (n, t) => s"$n ${sparkType(t).sql}" }.mkString(", ")
        val ret = sparkType(f.returns).sql
        val body =
          if (f.returnsNullOnNull && f.args.nonEmpty)
            s"CASE WHEN ${f.args.map(a => s"${a._1} IS NULL").mkString(" OR ")} " +
              s"THEN NULL ELSE CAST(($exprBody) AS $ret) END"
          else s"CAST(($exprBody) AS $ret)"
        spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION ${sparkFnName(fkey)}($argDdl) RETURNS $ret RETURN $body")
        // keep the ORIGINAL language/body for introspection (the reference
        // returns the source the client created) and carry the translated
        // Spark SQL separately — UDA lowering substitutes exprBody into
        // aggregate() lambdas, which must never see raw Java source
        udfs(fkey) = f.copy(name = fkey, sparkBody = Some(exprBody))
      }
      emptyResult
    case a: CreateAggregate =>
      val akey = objKey(a.name)
      if (udas.contains(akey) && !a.orReplace) {
        if (!a.ifNotExists) throw InvalidRequest(s"Aggregate $akey already exists")
      } else {
        // SFUNC/FINALFUNC resolve in the aggregate's keyspace unless
        // qualified (UDAggregate resolves against its own keyspace)
        val sfKey = objKeyOpt(a.sfunc).filter(udfs.contains).getOrElse(
          throw InvalidRequest(s"Unknown SFUNC ${a.sfunc}"))
        val sf = udfs(sfKey)
        // state-function arguments = state type prepended to the aggregate
        // argument list (CreateAggregateStatement.java:110-115)
        if (sf.args.length != 1 + a.argTypes.length)
          throw InvalidRequest(s"SFUNC ${a.sfunc} must take (state" +
            a.argTypes.map(t => s", ${t.name}").mkString + ") arguments")
        val ffKey = a.finalFunc.map { fn =>
          val k = objKeyOpt(fn).filter(udfs.contains).getOrElse(
            throw InvalidRequest(s"Unknown FINALFUNC $fn"))
          if (udfs(k).args.length != 1)
            throw InvalidRequest(s"FINALFUNC $fn must take a single state argument")
          k
        }
        udas(akey) = a.copy(name = akey, sfunc = sfKey, finalFunc = ffKey)
      }
      emptyResult
    case DropView(n) =>
      if (!views.contains(n)) throw InvalidRequest(s"Materialized view $n doesn't exist")
      views.remove(n); tables.remove(n); viewOptions.remove(n); dropReadCaches(n); emptyResult
    case AlterView(n, opts) =>
      // AlterViewStatement.java:44-75 — view must exist; gc_grace_seconds=0
      // and any default_time_to_live are rejected (view rows must expire
      // with their base rows); remaining params are stored.
      if (!views.contains(n)) throw InvalidRequest(s"Materialized view $n doesn't exist")
      def intOpt(o: String): Option[Long] = opts.collectFirst { case (`o`, IntLit(v)) => v }
      if (intOpt("gc_grace_seconds").contains(0L))
        throw InvalidRequest(
          "Cannot alter gc_grace_seconds of a materialized view to 0, since this " +
            "value is used to TTL undelivered updates. Setting gc_grace_seconds too " +
            "low might cause undelivered updates to expire before being replayed.")
      if (intOpt("default_time_to_live").exists(_ > 0))
        throw InvalidRequest(
          "Cannot set or alter default_time_to_live for a materialized view. " +
            "Data in a materialized view always expire at the same time than " +
            "the corresponding data in the parent table.")
      viewOptions(n) = viewOptions.getOrElse(n, Map.empty) ++
        opts.map { case (k, v) => k -> v.toString }
      emptyResult
    case DropType(n0, ifExists) =>
      schemaObjectNameIfExists(n0, ifExists).foreach { case (tks, n) =>
      val key = s"$tks.$n"
      if (!udts.contains(key)) {
        if (!ifExists) throw InvalidRequest(s"Type '$tks.$n' doesn't exist")
      } else {
        // still-in-use checks, DropTypeStatement.java:58-110: a type cannot
        // be dropped while functions/aggregates, other user types, or
        // tables still reference it (nested references included).
        val byFns = (udfs.values.collect {
          case f if f.args.exists(a => typeRefs(a._2, key)) || typeRefs(f.returns, key) => f.name
        } ++ udas.values.collect {
          case a if a.argTypes.exists(typeRefs(_, key)) || typeRefs(a.stype, key) => a.name
        }).toSeq.distinct
        if (byFns.nonEmpty)
          throw InvalidRequest(s"Cannot drop user type '$tks.$n' " +
            s"as it is still used by functions ${byFns.mkString(", ")}")
        val byTypes = udts.values.collect {
          case u if u.typeName != key && u.fields.exists(f => typeRefs(f._2, key)) => u.typeName
        }.toSeq
        if (byTypes.nonEmpty)
          throw InvalidRequest(s"Cannot drop user type '$tks.$n' " +
            s"as it is still used by user types ${byTypes.mkString(", ")}")
        val byTables = tables.values.collect {
          case t if t.columns.exists(c => typeRefs(c.tpe, key)) => t.name
        }.toSeq
        if (byTables.nonEmpty)
          throw InvalidRequest(s"Cannot drop user type '$tks.$n' " +
            s"as it is still used by tables ${byTables.mkString(", ")}")
        udts.remove(key)
      }
      }
      emptyResult
    case DropFunction(n0, argTypes, ifExists) =>
      // DropFunctionStatement.java:66-120 — unknown name/signature is an
      // error unless IF EXISTS; refused while an aggregate references it.
      schemaObjectNameIfExists(n0, ifExists).foreach { case (fks, n) =>
      val key = s"$fks.$n"
      val sig = argTypes.map(ts => s"$n(${ts.map(_.name).mkString(", ")})").getOrElse(n)
      udfs.get(key) match {
        case None =>
          if (!ifExists) throw InvalidRequest(s"Function '$fks.$sig' doesn't exist")
        case Some(f) if argTypes.exists(_.map(_.name) != f.args.map(_._2.name)) =>
          if (!ifExists) throw InvalidRequest(s"Function '$fks.$sig' doesn't exist")
        case Some(_) =>
          val deps = udas.values
            .filter(a => a.sfunc == key || a.finalFunc.contains(key)).map(_.name).toSeq
          if (deps.nonEmpty)
            throw InvalidRequest(s"Function '$fks.$sig' is still " +
              s"referenced by aggregates ${deps.mkString(", ")}")
          udfs.remove(key)
          spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS ${sparkFnName(key)}")
      }
      }
      emptyResult
    case DropAggregate(n0, argTypes, ifExists) =>
      // DropAggregateStatement.java:68-115
      schemaObjectNameIfExists(n0, ifExists).foreach { case (aks, n) =>
      val key = s"$aks.$n"
      val sig = argTypes.map(ts => s"$n(${ts.map(_.name).mkString(", ")})").getOrElse(n)
      udas.get(key) match {
        case None =>
          if (!ifExists) throw InvalidRequest(s"Aggregate '$aks.$sig' doesn't exist")
        case Some(a) if argTypes.exists(_.map(_.name) != a.argTypes.map(_.name)) =>
          if (!ifExists) throw InvalidRequest(s"Aggregate '$aks.$sig' doesn't exist")
        case Some(_) => udas.remove(key)
      }
      }
      emptyResult
    case AlterTable(n, adds, drops, renames, withDttl, withGc) =>
      val td = mutableTable(n)
      if ((withDttl.nonEmpty || withGc.nonEmpty) &&
          adds.isEmpty && drops.isEmpty && renames.isEmpty) {
        tables(n) = td.copy(
          defaultTtl = withDttl.getOrElse(td.defaultTtl),
          gcGraceSeconds = withGc.getOrElse(td.gcGraceSeconds))
        return emptyResult
      }
      if (renames.nonEmpty) {
        // RENAME is PRIMARY-KEY-only in the reference (regular cells are
        // addressed by name on disk); here durable segments/checkpoints are
        // also by-name, so renames only apply before any flush
        renames.foreach { case (from, to) =>
          val cd = td.column(from).getOrElse(
            throw InvalidRequest(s"Undefined column name $from"))
          if (cd.kind != PartitionKey && cd.kind != Clustering)
            throw InvalidRequest(s"Cannot rename non PRIMARY KEY part $from")
          if (td.column(to).isDefined)
            throw InvalidRequest(s"Cannot rename to $to: a column of that name already exists")
        }
        if (views.values.exists(_.baseTable == n))
          throw InvalidRequest("Cannot rename columns of a table with materialized views")
        if (storage.exists(_.holdsData(n)))
          throw InvalidRequest(
            s"Cannot rename columns of $n: durable log segments address columns by name")
        val rmap = renames.toMap
        tables(n) = td.copy(columns = td.columns.map(c =>
          c.copy(name = rmap.getOrElse(c.name, c.name))))
        return emptyResult
      }
      adds.foreach { case (c, _) =>
        if (td.column(c).isDefined)
          throw InvalidRequest(s"Invalid column name $c because it conflicts with an existing column")
        // durable segments address cells BY NAME: re-adding a dropped name
        // would resurrect its pre-drop values (the reference hides them via
        // per-column drop timestamps; this engine refuses instead)
        if (td.dropped.contains(c))
          throw InvalidRequest(
            s"Cannot re-add previously dropped column $c (dropped cells would resurrect)")
      }
      drops.foreach { c =>
        val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        if (cd.kind == PartitionKey || cd.kind == Clustering)
          throw InvalidRequest(s"Cannot drop PRIMARY KEY part $c")
      }
      val newTd = TableDef(n,
        td.columns.filterNot(c => drops.contains(c.name)) ++
          adds.map { case (c, t) => ColumnDef(c, t, Regular) },
        td.clusteringDesc, td.defaultTtl,
        dropped = (td.dropped ++ drops).distinct,
        gcGraceSeconds = td.gcGraceSeconds)
      // re-shape the in-memory tail to the new record layout; durable
      // segments and checkpoints re-project BY NAME on read, so added
      // columns surface as null and dropped columns vanish without rewrite
      val oldIdx = logSchema(td).fieldNames.zipWithIndex.toMap
      val newFields = logSchema(newTd).fieldNames
      logs(n).update(_.map { r =>
        Row.fromSeq(newFields.map { f =>
          oldIdx.get(f).map(r.get).getOrElse(
            if (f.endsWith("__set")) false else null)
        }.toSeq)
      })
      tables(n) = newTd
      emptyResult
    case DropTable(n) =>
      if (views.contains(n))
        throw InvalidRequest(s"Cannot use DROP TABLE on Materialized View (use DROP MATERIALIZED VIEW)")
      if (virtualDefs.contains(n))
        throw InvalidRequest(s"Cannot DROP virtual table $n")
      val dependents = views.values.filter(_.baseTable == n).map(_.name)
      if (dependents.nonEmpty)
        throw InvalidRequest(
          s"Cannot drop table when materialized views still depend on it (${dependents.mkString(", ")})")
      tables.remove(n); logs.remove(n); dropReadCaches(n)
      indexDefs.filterInPlace { (nm, d) =>
        if (d.table == n) indexStats.remove(nm)
        d.table != n
      }
      storage.foreach(_.drop(n))
      emptyResult
    case Truncate(n) =>
      val td = mutableTable(n)
      // durable segments and checkpoints are data too (TruncateStatement
      // discards sstables); the schema survives
      storage.foreach(_.truncate(td, commitTs(n)))
      logs(n).clear()
      emptyResult
    case InsertJson(tbl, js, defaultUnset, ttl, ts) =>
      val td = table(tbl)
      val parsed = try {
        org.json4s.jackson.JsonMethods.parse(js)
      } catch { case e: Exception => throw InvalidRequest(s"Could not decode JSON string: ${e.getMessage}") }
      import org.json4s._
      val fields = parsed match {
        case JObject(fs) => fs
        case _ => throw InvalidRequest("INSERT JSON expects a JSON object")
      }
      val (cols, vals) = fields.map { case (k, jv) =>
        val lit: Literal = jv match {
          case JInt(n) => IntLit(n.toLong)
          case JLong(n) => IntLit(n)
          case JDouble(d) => DoubleLit(d)
          case JDecimal(d) => DoubleLit(d.toDouble)
          case JString(v) => StringLit(v)
          case JBool(b) => BoolLit(b)
          case JNull => NullLit
          case other => throw InvalidRequest(s"Unsupported JSON value for column $k: $other")
        }
        (k.toLowerCase, lit)
      }.unzip
      // DEFAULT NULL (the reference default): every omitted non-PK column is
      // written null — a cell tombstone — so the JSON row fully replaces the
      // stored row; DEFAULT UNSET leaves omitted columns untouched
      // (Json.java / UpdateStatement.ParsedInsertJson)
      val omitted =
        if (defaultUnset) Nil
        else (td.statics ++ td.regulars).map(_.name)
          .filterNot(cols.contains).filterNot(c => td.column(c).exists(_.tpe == CqlCounter))
      run(Insert(tbl, cols ++ omitted, vals ++ omitted.map(_ => NullLit), ttl, ts))
    case i: Insert if i.ifNotExists => executeLwtInsert(i)
    case i: Insert => executeInsert(i); emptyResult
    case u: Update if u.condition.nonEmpty =>
      // static-only updates address the PARTITION — same carve-out as the
      // CAS-batch path (UpdateStatement; the static row is the CAS target)
      val staticOnly = u.assignments.nonEmpty && u.assignments.forall {
        case (c, _) => tables.get(u.table).exists(_.column(c).exists(_.kind == Static))
      }
      executeLwt(u.table, u.where, u.condition.get, () => executeUpdate(u),
        staticOnly = staticOnly)
    case u: Update => executeUpdate(u); emptyResult
    case dl: Delete if dl.condition.nonEmpty => executeLwt(dl.table, dl.where, dl.condition.get, () => executeDelete(dl))
    case dl: Delete => executeDelete(dl); emptyResult
    case s: Select => executeSelect(s)
    case ci: CreateIndex => executeCreateIndex(ci)
    case DropIndex(n0, ifExists) =>
      // accept an optional keyspace qualifier (Parser.g indexName)
      val n = if (n0.contains('.')) splitName(n0)._2 else n0
      if (indexDefs.remove(n).isEmpty && !ifExists)
        throw InvalidRequest(s"Index '$n' could not be found")
      indexStats.remove(n)
      emptyResult
    case Batch(stmts) =>
      // atomic batch: buffer all mutations, append together, one shared
      // default timestamp (BatchStatement.java:243-248)
      val batchTs = nextTs()
      val staged = stmts.map {
        case i: Insert => i.copy(timestamp = Some(i.timestamp.getOrElse(batchTs)))
        // counter updates never take a timestamp (deltas sum regardless);
        // a COUNTER batch leaves them unstamped
        case u: Update if u.assignments.exists(_._2.isInstanceOf[CounterDeltaLit]) => u
        case u: Update => u.copy(timestamp = Some(u.timestamp.getOrElse(batchTs)))
        case d: Delete => d.copy(timestamp = Some(d.timestamp.getOrElse(batchTs)))
        case other => throw InvalidRequest(s"illegal statement in batch: $other")
      }
      def condOf(s: Statement): Option[LwtCondition] = s match {
        case i: Insert => if (i.ifNotExists) Some(IfNotExists) else None
        case u: Update => u.condition
        case d: Delete => d.condition
        case _ => None
      }
      if (staged.exists(condOf(_).nonEmpty)) executeBatchLwt(staged, condOf)
      else { staged.foreach(run); emptyResult }
  }

  /** Conditional batch (BatchStatement with conditions / CAS batch): every
    * statement must address ONE partition of one table; all conditions
    * evaluate against the same pre-state, and the whole batch applies only
    * if every condition holds (`StorageProxy.cas` over the batched
    * `CQL3CasRequest`).
    */
  private def executeBatchLwt(staged: Seq[Statement],
                              condOf: Statement => Option[LwtCondition]): DataFrame =
    this.synchronized {
      def tblOf(s: Statement): String = s match {
        case i: Insert => i.table
        case u: Update => u.table
        case d: Delete => d.table
        case other => throw InvalidRequest(s"illegal statement in batch: $other")
      }
      val tbls = staged.map(tblOf).distinct
      if (tbls.length != 1)
        throw InvalidRequest("Batch with conditions cannot span multiple tables")
      // counter mutations are commutative deltas with no CAS semantics
      if (staged.exists {
        case u: Update => u.assignments.exists(_._2.isInstanceOf[CounterDeltaLit])
        case _ => false
      }) throw InvalidRequest("Cannot include a counter statement in a conditional batch")
      val td = table(tbls.head)
      // per-statement primary-key values; partition key must agree
      def keysOf(s: Statement): Map[String, Any] = s match {
        case i: Insert =>
          i.columns.zip(i.values).collect {
            case (c, v) if td.column(c).exists(cd =>
              cd.kind == PartitionKey || cd.kind == Clustering) =>
              c -> coerce(v, td.column(c).get.tpe, c)
          }.toMap
        case u: Update =>
          // static-only updates address the PARTITION — no clustering
          // required (UpdateStatement; the static row is the CAS target)
          val staticOnly = u.assignments.nonEmpty && u.assignments.forall {
            case (c, _) => td.column(c).exists(_.kind == Static)
          }
          mutationKeys(td, u.where,
            requireCk = td.clustering.nonEmpty && !staticOnly)._1
        case d: Delete =>
          // a conditioned DELETE must address exactly one row — all PRIMARY
          // KEY columns EQ-restricted (CQL3CasRequest.addConditions requires
          // a fully-bound clustering); unconditioned deletes in a CAS batch
          // may be partition/RANGE deletes (addRangeDeletion), so only
          // their EQ-bound keys participate in the single-partition check
          // and any range relations pass through to the delete lowering
          if (condOf(d).nonEmpty)
            mutationKeys(td, d.where, requireCk = td.clustering.nonEmpty)._1
          else d.where.collect {
            case Rel(c, "=", v) if td.column(c).exists(cd =>
              cd.kind == PartitionKey || cd.kind == Clustering) =>
              c -> coerce(v, td.column(c).get.tpe, c)
          }.toMap
      }
      val allKeys = staged.map(keysOf)
      val pkNames = td.partitionKey.map(_.name)
      val pkVals = allKeys.map(k => pkNames.map(k.get))
      if (pkVals.distinct.length != 1 || pkVals.head.exists(_.isEmpty))
        throw InvalidRequest("Batch with conditions cannot span multiple partitions")
      // one partition read; each condition evaluates on ITS clustering row
      val partRows = readCanonical(td.name, pinned = true).filter(
        pkNames.zip(pkVals.head.map(_.get)).map { case (c, v) => col(c) === lit(v) }
          .reduce(_ && _)).collect()
      // partition rows in clustering order (CLUSTERING ORDER aware; the
      // null-clustering statics-only row sorts first, like the reference's
      // static row preceding all clusterings)
      def cmpVal(x: Any, y: Any, c: ColumnDef): Int =
        if (x == null && y == null) 0 else if (x == null) -1 else if (y == null) 1
        else CqlValues.compareValues(x, y, c.tpe)
      val partRowsOrdered = partRows.sortWith { (a, b) =>
        td.clustering.zip(td.clusteringDesc).iterator.map { case (c, desc) =>
          val cmp = cmpVal(a.getAs[Any](c.name), b.getAs[Any](c.name), c)
          if (desc) -cmp else cmp
        }.find(_ != 0).getOrElse(0) < 0
      }
      def rowsFor(keys: Map[String, Any]): Array[Row] =
        if (td.clustering.nonEmpty && !td.clustering.exists(c => keys.contains(c.name)))
          // static-only addressing: the reference reads (and a failed CAS
          // therefore reports) only the FIRST live row of the partition —
          // enough to tell a live partition without static content from a
          // missing one (CQL3CasRequest.readCommand:191-200 limit-1 slice)
          partRowsOrdered.take(1)
        else partRows.filter(r => td.clustering.forall { c =>
          keys.get(c.name).forall(v =>
            r.getAs[Any](c.name) != null &&
              CqlValues.compareValues(r.getAs[Any](c.name), v, c.tpe) == 0)
        })
      val ok = staged.zip(allKeys).forall { case (s, keys) =>
        condOf(s).forall(evalCondition(td, _, rowsFor(keys)))
      }
      if (ok) staged.foreach {
        // conditions were checked batch-wide; strip them so run() applies
        // the mutations unconditionally
        case i: Insert => executeInsert(i.copy(ifNotExists = false))
        case u: Update => executeUpdate(u.copy(condition = None))
        case d: Delete => executeDelete(d.copy(condition = None))
        case _ => ()
      }
      // a failed CAS reports the current row of every CONDITIONED statement
      val involved = staged.zip(allKeys)
        .filter { case (s, _) => condOf(s).nonEmpty }
        .flatMap { case (_, keys) => rowsFor(keys) }.distinct.toArray
      mkLwtResult(td, ok, involved)
    }

  /** LWT: serialized read-check-write (reference goes through Paxos,
    * StorageProxy.cas; single-JVM engine serializes trivially). Returns the
    * reference-shaped result: `[applied]` plus current values on failure.
    */
  private def executeLwt(tbl: String, where: Seq[Relation], cond: LwtCondition,
                         apply: () => Unit, staticOnly: Boolean = false): DataFrame =
    this.synchronized {
    import spark.implicits._
    val td = table(tbl)
    val (keys, _) = mutationKeys(td, where,
      requireCk = td.clustering.nonEmpty && !staticOnly)
    val current = readCanonical(tbl, pinned = true).filter(
      td.primaryKey.filter(c => keys.contains(c.name))
        .map(c => col(c.name) === lit(keys(c.name))).reduce(_ && _))
    val rows =
      if (td.clustering.nonEmpty && !td.clustering.forall(c => keys.contains(c.name))) {
        // static-only addressing: the reference's limit-1 first-live-row
        // slice in clustering order (CQL3CasRequest.readCommand:191-200)
        val ord = td.clustering.zip(td.clusteringDesc).map { case (c, desc) =>
          val oc = orderCol(td, c.name)
          if (desc) oc.desc else oc.asc
        }
        current.orderBy(ord: _*).limit(1).collect()
      } else current.collect()
    val ok = evalCondition(td, cond, rows)
    if (ok) apply()
    mkLwtResult(td, ok, rows)
  }

  /** One LWT condition against the addressed row(s) (ColumnCondition). */
  private def evalCondition(td: TableDef, cond: LwtCondition,
                            rows: Array[Row]): Boolean = {
    cond match {
      case IfExists => rows.nonEmpty
      case IfNotExists => rows.isEmpty
      case IfColumns(conds) => rows.nonEmpty && conds.forall { case (lhs, op, vs) =>
        val cn = lhs.column
        val cd = td.column(cn).getOrElse(throw InvalidRequest(s"Undefined column name $cn"))
        val colCur = rows.head.getAs[Any](cn)
        // resolve the compared value + its type for the lhs shape: whole
        // column, collection element (m['k'] / l[i]), or UDT field
        // (ColumnCondition element/field access)
        val (cur, cmpT) = lhs match {
          case CondCol(_) => (colCur, cd.tpe)
          case CondElem(c, key) => cd.tpe match {
            case CqlMap(kT, vT) =>
              val k = coerce(key, kT, c)
              val m = colCur.asInstanceOf[scala.collection.Map[Any, Any]]
              (if (m == null) null else m.getOrElse(k, null), vT)
            case CqlList(eT) =>
              val i = key match {
                case IntLit(x) => x.toInt
                case other => throw InvalidRequest(s"Invalid list index $other on $c")
              }
              val l = colCur.asInstanceOf[scala.collection.Seq[Any]]
              (if (l == null || i < 0 || i >= l.length) null else l(i), eT)
            case other => throw InvalidRequest(
              s"Invalid element access on ${other.name} column $c")
          }
          case CondField(c, f) => cd.tpe match {
            case CqlUdt(tn, fields) =>
              val idx = fields.indexWhere(_._1 == f)
              if (idx < 0) throw InvalidRequest(s"Unknown field '$f' in user defined type $tn")
              val r = colCur.asInstanceOf[org.apache.spark.sql.Row]
              (if (r == null) null else r.get(idx), fields(idx)._2)
            case other => throw InvalidRequest(
              s"Invalid field selection on ${other.name} column $c")
          }
        }
        // ColumnCondition.Bound.compareWithOperator: null operands satisfy
        // only (in)equality; ranges with a null side are never satisfied.
        // IN = any list element satisfies equality.
        def one(wLit: Literal, cop: String): Boolean = {
          val want = coerce(wLit, cmpT, cn)
          (cur, want) match {
            case (null, w) => if (cop == "=") w == null else if (cop == "!=") w != null else false
            case (_, null) => cop == "!="
            case (cu, w) if isCollection(cmpT) =>
              if (cop != "=" && cop != "!=")
                throw InvalidRequest(s"Invalid comparison on collection column $cn")
              val eq = normalizeColl(cu) == normalizeColl(w)
              if (cop == "=") eq else !eq
            case (cu, w) =>
              val n = CqlValues.compareValues(cu, w, cmpT)
              cop match {
                case "=" => n == 0
                case "!=" => n != 0
                case "<" => n < 0
                case "<=" => n <= 0
                case ">" => n > 0
                case ">=" => n >= 0
                case other => throw InvalidRequest(s"Invalid condition operator $other")
              }
          }
        }
        if (op == "in") vs.exists(one(_, "=")) else one(vs.head, op)
      }
    }
  }

  private def normalizeColl(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.toList
    case m: scala.collection.Map[_, _] => m.toMap
    case other => other
  }

  /** Reference-shaped CAS result (`CQL3CasRequest`/`StorageProxy.cas`):
    * `[applied]` alone on success; `[applied]=false` plus the live row's
    * current column values on a failed condition.
    */
  private def mkLwtResult(td: TableDef, applied: Boolean, rows: Array[Row]): DataFrame = {
    import spark.implicits._
    if (applied || rows.isEmpty) Seq(applied).toDF("[applied]")
    else {
      // one result row per current row involved in the failed CAS (a
      // conditional BATCH reports every conditioned clustering row)
      val schema = StructType(StructField("[applied]", BooleanType, nullable = false) +:
        td.columns.map(c => StructField(c.name, sparkType(c.tpe))))
      val out = rows.map(r =>
        Row.fromSeq((false: Any) +: td.columns.map(c => r.getAs[Any](c.name))))
      spark.createDataFrame(java.util.Arrays.asList(out.toSeq: _*), schema)
    }
  }

  private def executeLwtInsert(i: Insert): DataFrame = this.synchronized {
    val td = table(i.table)
    val pairs = i.columns.zip(i.values)
    val vals = pairs.map { case (c, l) =>
      c -> coerce(l, td.column(c).getOrElse(
        throw InvalidRequest(s"Undefined column name $c")).tpe, c)
    }.toMap
    // a static-only INSERT ... IF NOT EXISTS addresses the partition (the
    // static row is the CAS target) — the reference applies it when the
    // limit-1 partition read comes back empty
    def kindOf(c: String) = td.column(c).map(_.kind)
    val staticOnly = pairs.exists(p => kindOf(p._1).contains(Static)) &&
      !pairs.exists(p => kindOf(p._1).contains(Regular)) &&
      !pairs.exists(p => kindOf(p._1).contains(Clustering))
    val keyCols = if (staticOnly) td.partitionKey else td.primaryKey
    val keyFilter = keyCols.map(c => col(c.name) === lit(vals.getOrElse(c.name,
      throw InvalidRequest(s"Some primary key parts are missing: ${c.name}")))).reduce(_ && _)
    val rows = readCanonical(i.table, pinned = true).filter(keyFilter).limit(1).collect()
    if (rows.isEmpty) executeInsert(i.copy(ifNotExists = false))
    mkLwtResult(td, rows.isEmpty, rows)
  }

  private def emptyResult: DataFrame = spark.emptyDataFrame

  private def coerce(lit: Literal, tpe: CqlType, col: String): Any = (lit, tpe) match {
    case (NullLit, _) => null
    case (FnLit(f, args), t) => coerce(evalFnLit(f, args), t, col)
    case (IntLit(v), CqlInt) => v.toInt
    case (IntLit(v), CqlBigint) => v
    case (IntLit(v), CqlSmallint) =>
      if (v < Short.MinValue || v > Short.MaxValue)
        throw InvalidRequest(s"Unable to make short from '$v'")
      v.toShort
    case (IntLit(v), CqlTinyint) =>
      if (v < Byte.MinValue || v > Byte.MaxValue)
        throw InvalidRequest(s"Unable to make tinyint from '$v'")
      v.toByte
    case (IntLit(v), CqlDouble) => v.toDouble
    case (IntLit(v), CqlFloat) => v.toFloat
    case (DoubleLit(v), CqlDouble) => v
    case (DoubleLit(v), CqlFloat) => v.toFloat
    // decimal/varint carry exact values at the fixed Spark scale (38,18)/(38,0)
    case (IntLit(v), CqlDecimal) => java.math.BigDecimal.valueOf(v).setScale(18)
    case (DoubleLit(v), CqlDecimal) =>
      new java.math.BigDecimal(v.toString).setScale(18, java.math.RoundingMode.HALF_UP)
    case (IntLit(v), CqlVarint) => java.math.BigDecimal.valueOf(v)
    case (StringLit(v), CqlText) => v
    case (StringLit(v), CqlAscii) => vv(CqlValues.validateAscii(v, col))
    case (BoolLit(v), CqlBoolean) => v
    // timestamp: quoted date string or epoch-millis integer
    // (TimestampSerializer); date/time/uuid/inet per their serializers
    case (StringLit(v), CqlTimestamp) => vv(CqlValues.timestampOf(CqlValues.parseTimestampMillis(v)))
    case (IntLit(v), CqlTimestamp) => CqlValues.timestampOf(v)
    case (StringLit(v), CqlDate) => vv(CqlValues.parseDate(v))
    case (StringLit(v), CqlTime) => vv(CqlValues.parseTimeNanos(v))
    case (IntLit(v), CqlTime) =>
      if (v < 0L || v >= 86400000000000L)
        throw InvalidRequest(s"Invalid time value $v (nanos of day)")
      v
    case (UuidLit(v), CqlUuid) => v
    case (StringLit(v), CqlUuid) => vv(CqlValues.parseUuid(v))
    case (UuidLit(v), CqlTimeuuid) => vv(CqlValues.parseTimeUuid(v))
    case (StringLit(v), CqlTimeuuid) => vv(CqlValues.parseTimeUuid(v))
    case (BlobLit(b), CqlBlob) => b
    case (StringLit(v), CqlBlob) => vv(CqlValues.parseBlob(v))
    case (DurationLit(mo, d, n), CqlDuration) => Row(mo, d, n)
    case (StringLit(v), CqlDuration) =>
      CqlValues.parseDuration(v).map { case (mo, d, n) => Row(mo, d, n) }
        .getOrElse(throw InvalidRequest(s"Unable to convert '$v' to a duration"))
    case (StringLit(v), CqlInet) => vv(CqlValues.parseInet(v))
    case (CounterDeltaLit(d), CqlCounter) => d
    case (_, CqlCounter) =>
      throw InvalidRequest(s"Cannot set the value of counter column $col (counters can only be incremented/decremented)")
    case (CounterDeltaLit(_), t) =>
      throw InvalidRequest(s"Invalid operation for non counter column $col of type ${t.name}")
    case (ListLit(items), CqlList(e)) => items.map(coerce(_, e, col))
    // sets are kept in the element type's comparator order, deduped
    // (SetType element comparator — numerics numerically, NOT by toString)
    case (SetLit(items), CqlSet(e)) =>
      CqlValues.sortedSet(items.map(coerce(_, e, col)), e)
    case (ListLit(items), CqlSet(e)) =>
      CqlValues.sortedSet(items.map(coerce(_, e, col)), e)
    case (MapLit(pairs), CqlMap(k, v)) =>
      val ord = CqlValues.elemOrdering(k)
      scala.collection.immutable.ListMap(pairs.map { case (kk, vv) =>
        coerce(kk, k, col) -> coerce(vv, v, col)
      }.sortWith((a, b) => ord.compare(a._1, b._1) < 0): _*)
    case (SetLit(items), CqlMap(_, _)) if items.isEmpty =>
      scala.collection.immutable.ListMap.empty[Any, Any]
    case (TupleLit(items), CqlTuple(es)) =>
      if (items.length > es.length)
        throw InvalidRequest(s"Invalid tuple literal for $col: too many elements (expected ${es.length})")
      // missing trailing elements read back null (TupleType allows shorter)
      Row.fromSeq(es.zipWithIndex.map { case (t0, i) =>
        if (i < items.length) coerce(items(i), t0, col) else null
      })
    case (UdtLit(fs), CqlUdt(tn, fields)) =>
      val declared = fields.map(_._1)
      fs.foreach { case (f, _) =>
        if (!declared.contains(f))
          throw InvalidRequest(s"Unknown field '$f' in value of user defined type $tn")
      }
      val byName = fs.toMap
      Row.fromSeq(fields.map { case (f, t0) =>
        byName.get(f).map(coerce(_, t0, s"$col.$f")).orNull
      })
    case (l, t) => throw InvalidRequest(s"Invalid ${l.value} for column $col of type ${t.name}")
  }

  /** Literal column for a coerced value; struct types (tuple/UDT) build a
    * field-named struct literal so EqualTo's type check passes.
    */
  private def litValue(v: Any, tpe: CqlType): Column = (v, tpe) match {
    case (r: Row, t) =>
      val st = sparkType(t).asInstanceOf[StructType]
      struct(r.toSeq.zip(st.fields).map { case (fv, sf) =>
        lit(fv).cast(sf.dataType).as(sf.name)
      }: _*)
    // collection literals (whole-value EQ against a full()-indexed or
    // filtered collection column): element-wise literal arrays/maps
    case (s: Seq[_], CqlList(et)) =>
      array(s.map(e => litValue(e, et)): _*).cast(sparkType(tpe))
    case (s: Seq[_], CqlSet(et)) =>
      array(s.map(e => litValue(e, et)): _*).cast(sparkType(tpe))
    case (m: Map[_, _], CqlMap(kt, vt)) =>
      map(m.toSeq.flatMap { case (k, vv) =>
        Seq(litValue(k, kt), litValue(vv, vt)) }: _*).cast(sparkType(tpe))
    case (other, _) => lit(other)
  }

  /** Parameter-name → replacement substitution in a SQL body (word-bounded,
    * case-insensitive).
    */
  private def substParams(body: String, subs: Seq[(String, String)]): String = {
    // simultaneous single-pass substitution: sequential replaceAll would
    // rescan earlier replacements, so a parameter named like a fragment of
    // a replacement target (e.g. an sfunc arg `x` vs the fold lambda's
    // `x._v0`) corrupts the body. Longest name first so an overlapping
    // shorter name can't shadow it in the alternation.
    if (subs.isEmpty) return body
    val byName = subs.map { case (k, v) => k.toLowerCase -> v }.toMap
    val pattern = ("(?i)\\b(" + subs.map(_._1).sortBy(-_.length)
      .map(java.util.regex.Pattern.quote).mkString("|") + ")\\b").r
    pattern.replaceAllIn(body, m =>
      java.util.regex.Matcher.quoteReplacement(byName(m.group(1).toLowerCase)))
  }

  /** SQL literal rendering for INITCOND values. */
  private def sqlLit(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Array[Byte] => "X'" + b.map("%02x".format(_)).mkString + "'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case d: java.sql.Date => s"DATE '$d'"
    case other => String.valueOf(other)
  }

  /** Run a CqlValues parser, rethrowing as InvalidRequest. */
  private def vv(f: => Any): Any =
    try f
    catch { case e: CqlValues.ValueException => throw InvalidRequest(e.msg) }

  /** Constant function terms (now-family per TimeFcts, uuid per UuidFcts):
    * evaluated once per statement, then coerced like any literal.
    */
  private def evalFnLit(f: String, args: Seq[Literal]): Literal = {
    def argMs: Long = args match {
      case Seq(StringLit(s)) => vv(CqlValues.parseTimestampMillis(s)).asInstanceOf[Long]
      case Seq(IntLit(ms)) => ms
      case other => throw InvalidRequest(s"Invalid arguments $other for function $f")
    }
    f match {
      case "now" | "currenttimeuuid" =>
        UuidLit(nextNowTimeUuid())
      case "currenttimestamp" => IntLit(nowMs)
      case "currentdate" => StringLit(java.time.Instant.ofEpochMilli(nowMs)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString)
      case "currenttime" => IntLit(java.time.Instant.ofEpochMilli(nowMs)
        .atZone(java.time.ZoneOffset.UTC).toLocalTime.toNanoOfDay)
      case "mintimeuuid" => UuidLit(graft.functions.TimeUuid.minTimeUuid(argMs))
      case "maxtimeuuid" => UuidLit(graft.functions.TimeUuid.maxTimeUuid(argMs))
      case "uuid" => UuidLit(graft.functions.TimeUuid.randomUuid())
      case "tounixtimestamp" | "unixtimestampof" => args match {
        case Seq(UuidLit(u)) => IntLit(graft.functions.TimeUuid.unixMillisOf(u))
        case _ => IntLit(argMs)
      }
      case "totimestamp" | "dateof" => args match {
        case Seq(UuidLit(u)) => IntLit(graft.functions.TimeUuid.unixMillisOf(u))
        case _ => IntLit(argMs)
      }
      case other => throw InvalidRequest(s"Unknown function '$other'")
    }
  }

  /** Auto-flush the in-memory tail to a parquet segment once it exceeds
    * this many records (requires attached storage). Bounds driver memory:
    * durable segments are the primary log at scale, the tail is a
    * memtable-sized buffer.
    */
  var autoFlushRows: Int = 50000

  /** CDC mode (CommitLogSegmentManagerCDC): when on, compact() ARCHIVES
    * consumed segments into `<table>/cdc/` instead of deleting them, so a
    * streaming consumer (`MutationStream.engineCdc`) can still drain the
    * full mutation history; consumers truncate `cdc/` when done, like the
    * reference's cdc_raw contract.
    */
  var cdcEnabled: Boolean = false

  /** Public mutation-record schema of a table's log (for CDC consumers). */
  def mutationSchema(name: String): StructType = logSchema(table(canon(name)))

  private def appendMutation(name: String, row: Row): Unit = {
    logs(name).update(_ :+ row)
    if (storage.isDefined && logs(name).rows.size >= autoFlushRows) flush(name)
  }

  private def mutationRow(td: TableDef, keyVals: Map[String, Any],
                          cellVals: Map[String, Any], setCols: Set[String],
                          op: String, ts: Long, ttl: Long,
                          collOps: Map[String, String] = Map.empty,
                          rangeLo: Map[String, Any] = Map.empty,
                          rangeHi: Map[String, Any] = Map.empty,
                          rangeIncl: (Boolean, Boolean) = (true, true)): Row = {
    val keyPart = td.primaryKey.map(c => keyVals.getOrElse(c.name, null))
    val cellPart = (td.statics ++ td.regulars).flatMap { c =>
      val base = Seq(cellVals.getOrElse(c.name, null), setCols.contains(c.name))
      if (isCollection(c.tpe)) base :+ collOps.getOrElse(c.name, "set") else base
    }
    val rangePart =
      if (td.clustering.isEmpty) Nil
      else td.clustering.flatMap(c =>
        Seq(rangeLo.getOrElse(c.name, null), rangeHi.getOrElse(c.name, null))) ++
        Seq(rangeIncl._1, rangeIncl._2)
    Row.fromSeq(keyPart ++ cellPart ++ rangePart ++ Seq(op, ts, ttl))
  }

  private def executeInsert(i: Insert): Unit = {
    val td = mutableTable(i.table)
    val pairs = i.columns.zip(i.values)
    pairs.foreach { case (c, _) =>
      val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
      if (cd.tpe == CqlCounter)
        throw InvalidRequest("INSERT statements are not allowed on counter tables, use UPDATE instead")
    }
    val vals = pairs.map { case (c, l) => c -> coerce(l, td.column(c).get.tpe, c) }.toMap
    td.partitionKey.foreach { c =>
      if (!vals.contains(c.name) || vals(c.name) == null)
        throw InvalidRequest(s"Some partition key parts are missing: ${c.name}")
    }
    // clustering must be fully bound UNLESS the insert is static-only
    // (>=1 static, no regular, no clustering column — such inserts address
    // the partition's static row); a bare-pk insert is an error, like the
    // reference (UpdateStatement.java)
    val writesRegular = pairs.exists { case (c, _) => td.column(c).exists(_.kind == Regular) }
    val writesStatic = pairs.exists { case (c, _) => td.column(c).exists(_.kind == Static) }
    val writesClustering = pairs.exists { case (c, _) => td.column(c).exists(_.kind == Clustering) }
    val staticOnlyInsert = writesStatic && !writesRegular && !writesClustering
    if (!staticOnlyInsert) td.clustering.foreach { c =>
      if (!vals.contains(c.name) || vals(c.name) == null)
        throw InvalidRequest(s"Some clustering keys are missing: ${c.name}")
    }
    if (td.regulars.exists(c => c.tpe == CqlCounter && vals.contains(c.name)))
      throw InvalidRequest("INSERT statements are not allowed on counter tables, use UPDATE instead")
    val setCells = (td.statics ++ td.regulars).map(_.name).filter(vals.contains).toSet
    appendMutation(i.table, mutationRow(td, vals, vals, setCells, "insert",
      i.timestamp.getOrElse(nextTs()), i.ttl.getOrElse(td.defaultTtl)))
  }

  /** WHERE of a mutation must bind the full primary key with EQ. */
  private def mutationKeys(td: TableDef, where: Seq[Relation],
                           requireCk: Boolean): (Map[String, Any], Boolean) = {
    val eqs = where.map {
      case Rel(c, "=", v) =>
        val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        if (cd.kind != PartitionKey && cd.kind != Clustering)
          throw InvalidRequest(s"Non PRIMARY KEY columns found in where clause: $c")
        val coerced = coerce(v, cd.tpe, c)
        if (coerced == null)
          throw InvalidRequest(s"Invalid null value for ${
            if (cd.kind == PartitionKey) "partition key" else "clustering"} part $c")
        c -> coerced
      case other => throw InvalidRequest(s"Invalid restriction in DML WHERE: $other")
    }.toMap
    td.partitionKey.foreach { c =>
      if (!eqs.contains(c.name))
        throw InvalidRequest(s"Some partition key parts are missing: ${c.name}")
    }
    val fullCk = td.clustering.forall(c => eqs.contains(c.name))
    if (requireCk && !fullCk)
      throw InvalidRequest("Some clustering keys are missing")
    (eqs, fullCk)
  }

  /** IN restrictions in DML WHERE expand to the cartesian set of EQ-bound
    * mutations, all sharing the statement's timestamp
    * (StatementRestrictions multi-key updates/deletes).
    */
  private def expandIn(where: Seq[Relation]): Seq[Seq[Relation]] =
    where.foldLeft(Seq(Seq.empty[Relation])) { (acc, rel) =>
      rel match {
        case In(c, vs) => for { w <- acc; v <- vs } yield w :+ Rel(c, "=", v)
        case other => acc.map(_ :+ other)
      }
    }

  private def executeUpdate(u: Update): Unit = {
    if (u.where.exists(_.isInstanceOf[In])) {
      val ts = Some(u.timestamp.getOrElse(nextTs()))
      expandIn(u.where).foreach(w => executeUpdate(u.copy(where = w, timestamp = ts)))
      return
    }
    val td = mutableTable(u.table)
    val hasRegular = u.assignments.exists { case (c, _) =>
      td.column(c).exists(_.kind == Regular)
    }
    val (keys, _) = mutationKeys(td, u.where, requireCk = hasRegular && td.clustering.nonEmpty)
    val resolved = u.assignments.map { case (c, l) =>
      val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
      if (cd.kind == PartitionKey || cd.kind == Clustering)
        throw InvalidRequest(s"PRIMARY KEY part $c found in SET part")
      if (isCollection(cd.tpe)) {
        val (op, v) = collectionAssign(cd, l)
        (c, v, Some(op))
      } else (c, coerce(l, cd.tpe, c), None)
    }
    // counter mutations take neither TTL nor a custom timestamp
    // (ModificationStatement counter validation)
    if (u.assignments.exists(_._2.isInstanceOf[CounterDeltaLit]) &&
        (u.ttl.nonEmpty || u.timestamp.nonEmpty))
      throw InvalidRequest("Cannot provide custom timestamp or TTL for counter updates")
    val vals = resolved.map { case (c, v, _) => c -> v }.toMap
    val collOps = resolved.collect { case (c, _, Some(op)) => c -> op }.toMap
    // list index ops are THE read-before-write op (Lists.java:408): read the
    // current list to bounds-check before appending the mutation
    val idxOps = resolved.collect {
      case (c, _, Some(op)) if op.startsWith("setidx:") || op.startsWith("delidx:") =>
        (c, op.substring(op.indexOf(':') + 1).toInt)
    }
    if (idxOps.nonEmpty) {
      val keyFilter = td.primaryKey.map(c => col(c.name) === lit(keys(c.name))).reduce(_ && _)
      val row = readCanonical(u.table, pinned = true).filter(keyFilter)
        .select(idxOps.map { case (c, _) => size(col(c)).as(c) }: _*)
        .collect().headOption
      idxOps.foreach { case (c, i) =>
        val sz = row.map(_.getAs[Int](c)).getOrElse(-1)
        if (sz < 0)
          throw InvalidRequest("Attempted to set an element on a list which is null")
        if (i < 0 || i >= sz)
          throw InvalidRequest(s"List index $i out of bound, list has size $sz")
      }
    }
    appendMutation(u.table, mutationRow(td, keys, vals, vals.keySet, "update",
      u.timestamp.getOrElse(nextTs()), u.ttl.getOrElse(td.defaultTtl), collOps))
  }

  private def executeDelete(d: Delete): Unit = {
    if (d.where.exists(_.isInstanceOf[In])) {
      val ts = Some(d.timestamp.getOrElse(nextTs()))
      expandIn(d.where).foreach(w => executeDelete(d.copy(where = w, timestamp = ts)))
      return
    }
    val td = mutableTable(d.table)
    // clustering RANGE delete → range tombstone (DeleteStatement slice
    // deletions; db/rows/RangeTombstoneMarker): pk fully EQ-bound, a
    // clustering prefix EQ-bound, range relations on the next column
    val rangeRels = d.where.collect {
      case r @ Rel(_, op, _) if op != "=" => r
    }
    val multiRels = d.where.collect { case m: MultiColRel => m }
    if (rangeRels.nonEmpty || multiRels.nonEmpty) {
      if (d.columns.nonEmpty)
        throw InvalidRequest("Range deletions are not supported for specific columns")
      val eqs = d.where.collect { case Rel(c, "=", v) =>
        val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        if (cd.kind != PartitionKey && cd.kind != Clustering)
          throw InvalidRequest(s"Non PRIMARY KEY columns found in where clause: $c")
        c -> coerce(v, cd.tpe, c)
      }.toMap
      td.partitionKey.foreach { c =>
        if (!eqs.contains(c.name))
          throw InvalidRequest(s"Some partition key parts are missing: ${c.name}")
      }
      val ckNames = td.clustering.map(_.name)
      val prefix = ckNames.takeWhile(eqs.contains)
      if (td.clustering.isEmpty || prefix.length >= ckNames.length)
        throw InvalidRequest("Invalid range deletion (no free clustering column)")
      val ranged = ckNames(prefix.length)
      // an EQ restriction on a clustering column AFTER the ranged one would be
      // silently unbounded by the tombstone — the reference rejects it
      // (restrictions/ClusteringColumnRestrictions: preceding column restricted
      // by a non-EQ relation)
      eqs.keys.filter(ckNames.contains).foreach { c =>
        if (!prefix.contains(c))
          throw InvalidRequest(
            s"""PRIMARY KEY column "$c" cannot be restricted (preceding column "$ranged" is restricted by a non-EQ relation)""")
      }
      rangeRels.foreach { r =>
        if (r.column != ranged)
          throw InvalidRequest(
            s"Range deletions must restrict the clustering column following the EQ prefix, got ${r.column}")
      }
      var loMap = Map.empty[String, Any]
      var hiMap = Map.empty[String, Any]
      var loi = true; var hii = true
      rangeRels.foreach { r =>
        val v = coerce(r.value, td.column(ranged).get.tpe, ranged)
        r.op match {
          case ">" => loMap = Map(ranged -> v); loi = false
          case ">=" => loMap = Map(ranged -> v); loi = true
          case "<" => hiMap = Map(ranged -> v); hii = false
          case "<=" => hiMap = Map(ranged -> v); hii = true
          case other => throw InvalidRequest(s"unsupported range-delete operator $other")
        }
      }
      // multi-column tuple bounds: (c1, c2) > (v1, v2) — the columns must
      // start at the first free clustering position
      multiRels.foreach { m =>
        if (ckNames.slice(prefix.length, prefix.length + m.columns.length) != m.columns)
          throw InvalidRequest(
            s"Multi-column range deletions must restrict the clustering columns following the EQ prefix, got ${m.columns.mkString(", ")}")
        val vals = m.columns.zip(m.values).map { case (c, v) =>
          c -> coerce(v, td.column(c).get.tpe, c)
        }
        m.op match {
          case ">" => loMap = vals.toMap; loi = false
          case ">=" => loMap = vals.toMap; loi = true
          case "<" => hiMap = vals.toMap; hii = false
          case "<=" => hiMap = vals.toMap; hii = true
          case "=" => loMap = vals.toMap; hiMap = vals.toMap; loi = true; hii = true
        }
      }
      val prefixVals = prefix.map(c => c -> eqs(c)).toMap
      loMap = prefixVals ++ loMap
      hiMap = prefixVals ++ hiMap
      appendMutation(d.table, mutationRow(td, eqs, Map.empty, Set.empty, "delrange",
        d.timestamp.getOrElse(nextTs()), 0L,
        rangeLo = loMap, rangeHi = hiMap, rangeIncl = (loi, hii)))
      return
    }
    // a column-list delete of ONLY static columns addresses the partition —
    // no clustering required (DeleteStatement: static cell tombstones live
    // on the static row)
    val staticOnlyDelete = d.columns.nonEmpty && d.columns.forall(c =>
      td.column(c).exists(_.kind == Static))
    val (keys, fullCk) = mutationKeys(td, d.where,
      requireCk = d.columns.nonEmpty && !staticOnlyDelete)
    val ts = d.timestamp.getOrElse(nextTs())
    if (d.columns.nonEmpty) {
      // cell tombstones = writes of null
      d.columns.foreach { c =>
        val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        if (cd.kind != Regular && cd.kind != Static)
          throw InvalidRequest(s"Invalid identifier $c for deletion (should not be a PRIMARY KEY part)")
      }
      appendMutation(d.table, mutationRow(td, keys, Map.empty, d.columns.toSet, "update", ts, 0L))
    } else {
      val op = if (td.clustering.nonEmpty && !fullCk) "delpart" else "delrow"
      appendMutation(d.table, mutationRow(td, keys, Map.empty, Set.empty, op, ts, 0L))
    }
  }

  // ── read path: per-cell reconcile as an algebraic state aggregation ───
  // Every piece of the reconcile is a semigroup over state rows:
  //  - scalar cell: max over (ts, tomb, value, ttl) structs
  //  - counter: (sum of deltas, max delta ts)
  //  - collection: concat of timestamped op entries (folded at finalize)
  //  - row deletion / liveness: max ts
  // A mutation is a one-row state and a compacted CHECKPOINT persists the
  // folded state, so a read unions the checkpoint's state rows with the
  // states of the post-checkpoint tail, shadows them once and folds them in
  // one groupBy — every source through the same rule, like the reference's
  // memtable + sstable merge (`db/rows/Cells.java` reconcile; reads never
  // replay the full commit log).

  private def cellStruct(c: ColumnDef): Column = {
    // tombstone if explicit null write or expired TTL at aggregation time
    // (finalize re-checks expiry so checkpointed cells still expire later)
    val isSet = col(c.name + "__set")
    val expired = col("_ttl") > 0L && (col("_ts") + col("_ttl") * 1000000L) <= lit(nowMicros)
    val tomb = when(col(c.name).isNull || expired, 1).otherwise(0)
    when(isSet && col("_op").isin("insert", "update"),
      struct(col("_ts").as("ts"), tomb.as("tomb"), col(c.name).as("v"), col("_ttl").as("ttl")))
  }

  /** State columns of the reconcile aggregation for (cols, withLiveness). */
  private def stateSchema(td: TableDef, keys: Seq[ColumnDef], cols: Seq[ColumnDef],
                          withLiveness: Boolean): StructType = {
    val keyFields = keys.map(c => StructField(c.name, sparkType(c.tpe)))
    val stateFields = cols.flatMap { c =>
      if (isCollection(c.tpe))
        Seq(StructField("_muts_" + c.name, ArrayType(StructType(Seq(
          StructField("ts", LongType), StructField("prio", IntegerType),
          StructField("op", StringType), StructField("v", sparkType(c.tpe)),
          StructField("ttl", LongType))))))
      else if (c.tpe == CqlCounter)
        Seq(StructField("_csum_" + c.name, LongType), StructField("_cts_" + c.name, LongType))
      else
        Seq(StructField("_cell_" + c.name, StructType(Seq(
          StructField("ts", LongType), StructField("tomb", IntegerType),
          StructField("v", sparkType(c.tpe)), StructField("ttl", LongType)))))
    }
    val tailFields = StructField("_del_ts", LongType) +:
      (if (withLiveness) Seq(StructField("_live", StructType(Seq(
        StructField("ts", LongType), StructField("ttl", LongType))))) else Nil)
    StructType(keyFields ++ stateFields ++ tailFields)
  }

  /** One state row per mutation record: the projections [[foldState]] folds.
    * A partition deletion is a marker row with its `_pd` watermark and a
    * range deletion one with its `rangeBounds` as `_rt`; `_mark` is set on
    * markers only.
    */
  private def mutationState(df: DataFrame, keys: Seq[String], cols: Seq[ColumnDef],
                            withLiveness: Boolean, rangeBounds: Option[Column]): DataFrame = {
    val cells = cols.flatMap { c =>
      val isSet = col(c.name + "__set")
      if (isCollection(c.tpe)) {
        // multi-cell collections: the timestamped op (folded in finalize).
        // Entries keep their TTL so expiry re-evaluates at read.
        val expired = col("_ttl") > 0L &&
          (col("_ts") + col("_ttl") * 1000000L) <= lit(nowMicros)
        val opc = when(col("_op") === "delrow", lit("clear"))
          .otherwise(coalesce(col(c.name + "__op"), lit("set")))
        val relevant = (col("_op").isin("insert", "update") && isSet && !expired) ||
          col("_op") === "delrow"
        Seq(when(relevant, array(struct(col("_ts").as("ts"),
          when(col("_op") === "delrow", 1).otherwise(0).as("prio"),
          opc.as("op"), col(c.name).as("v"),
          col("_ttl").as("ttl")))).as("_muts_" + c.name))
      } else if (c.tpe == CqlCounter) {
        // counter read = sum of update deltas (CounterColumnType); the
        // newest delta ts doubles as the cell's writetime
        val delta = isSet && col("_op") === "update"
        Seq(when(delta, col(c.name)).as("_csum_" + c.name),
          when(delta, col("_ts")).as("_cts_" + c.name))
      } else Seq(cellStruct(c).as("_cell_" + c.name))
    }
    val del = when(col("_op") === "delrow", col("_ts")).as("_del_ts")
    val live = when(col("_op") === "insert",
      struct(col("_ts").as("ts"), col("_ttl").as("ttl"))).as("_live")
    val marks = Seq(when(col("_op") === "delpart", col("_ts")).as("_pd")) ++
      rangeBounds.map(r => when(col("_op") === "delrange", r).as("_rt")) :+
      when(col("_op").isin("delpart", "delrange"), true).as("_mark")
    df.select((keys.map(col) ++ cells ++ Seq(del) ++ (if (withLiveness) Seq(live) else Nil) ++
      marks): _*)
  }

  /** groupBy(keys) → one state row per key: `Cells.reconcile` over state rows. */
  private def foldState(state: DataFrame, keys: Seq[String], cols: Seq[ColumnDef],
                        withLiveness: Boolean): DataFrame = {
    val cellAggs = cols.flatMap { c =>
      if (isCollection(c.tpe)) {
        val m = "_muts_" + c.name
        Seq(flatten(collect_list(col(m))).as(m))
      } else if (c.tpe == CqlCounter)
        Seq(sum(col("_csum_" + c.name)).as("_csum_" + c.name),
          max(col("_cts_" + c.name)).as("_cts_" + c.name))
      else {
        val cell = col("_cell_" + c.name)
        // MapType is not orderable in Spark; order by a JSON surrogate of
        // the value for the reconcile tie-break instead (Cells.reconcile
        // compares serialized bytes — same deterministic value-tie winner)
        if (hasMapValue(c.tpe)) {
          val ordKey = when(cell.isNotNull,
            struct(cell("ts"), cell("tomb"), to_json(cell("v")), cell("ttl")))
          Seq(max_by(cell, ordKey).as("_cell_" + c.name))
        } else Seq(max(cell).as("_cell_" + c.name))
      }
    }
    val aggs = cellAggs ++ Seq(max(col("_del_ts")).as("_del_ts")) ++
      (if (withLiveness) Seq(max(col("_live")).as("_live")) else Nil)
    state.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def hasMapValue(t: CqlType): Boolean = t match {
    case _: CqlMap => true
    case CqlTuple(es) => es.exists(hasMapValue)
    case CqlUdt(_, fs) => fs.exists(f => hasMapValue(f._2))
    case _ => false
  }

  /** Shadow a state relation by a per-row deletion watermark: everything
    * with ts <= the watermark is dead (DeletionTime).
    */
  private def shadowState(states: DataFrame, p: Column, keys: Seq[String],
                          cols: Seq[ColumnDef], withLiveness: Boolean): DataFrame = {
    val shadowed = cols.flatMap { c =>
      if (isCollection(c.tpe)) {
        val m = col("_muts_" + c.name)
        Seq(when(m.isNull, m).otherwise(filter(m, e => e("ts") > p)).as("_muts_" + c.name))
      } else if (c.tpe == CqlCounter) {
        val ct = col("_cts_" + c.name)
        Seq(when(ct > p, col("_csum_" + c.name)).as("_csum_" + c.name),
          when(ct > p, ct).as("_cts_" + c.name))
      } else {
        val cell = col("_cell_" + c.name)
        Seq(when(cell.isNotNull && cell("ts") > p, cell).as("_cell_" + c.name))
      }
    }
    val delC = Seq(when(col("_del_ts") > p, col("_del_ts")).as("_del_ts"))
    val liveC = if (withLiveness)
      Seq(when(col("_live").isNotNull && col("_live")("ts") > p, col("_live")).as("_live"))
    else Nil
    states.select((keys.map(col) ++ shadowed ++ delC ++ liveC): _*)
  }

  /** timeuuid clustering values order by their embedded-time sort key. */
  private def orderValue(cd: ColumnDef, v: Column): Column =
    if (cd.tpe == CqlTimeuuid) call_function("timeuuid_sort_key", v) else v

  /** row-clustering ∈ [lo, hi] of a range-tombstone struct `r` (fields
    * `<ck>__rlo`/`<ck>__rhi`, `_rloi`/`_rhii`): lexicographic against the
    * bound components, a null component meaning unbounded from there.
    */
  private def withinRange(td: TableDef, r: Column): Column = {
    def side(suffix: String, incl: Column, gt: Boolean): Column = {
      def cmp(i: Int): Column =
        if (i >= td.clustering.length) incl
        else {
          val c = td.clustering(i)
          val b = r(c.name + suffix)
          val rowV = orderValue(c, col(c.name))
          val bV = orderValue(c, b)
          when(b.isNull, incl)
            .otherwise(
              when(if (gt) rowV > bV else rowV < bV, lit(true))
                .when(if (gt) rowV < bV else rowV > bV, lit(false))
                .otherwise(cmp(i + 1)))
        }
      cmp(0)
    }
    side("__rlo", r("_rloi"), gt = true) && side("__rhi", r("_rhii"), gt = false)
  }

  /** State → live values + `_wt_`/`_ttlr_` shadow columns + `_row_live`. */
  private def finalizeState(g: DataFrame, keys: Seq[String], cols: Seq[ColumnDef],
                            withLiveness: Boolean): DataFrame = {
    val delTs = coalesce(col("_del_ts"), lit(Long.MinValue))
    def cellExpired(cell: Column): Column =
      cell("ttl") > 0L && (cell("ts") + cell("ttl") * 1000000L) <= lit(nowMicros)
    def cellLive(cell: Column): Column =
      cell.isNotNull && cell("tomb") === 0 && cell("ts") > delTs && !cellExpired(cell)
    def collSorted(c: ColumnDef): Column = {
      val unexpired = filter(col("_muts_" + c.name),
        m => !(m("ttl") > 0L && (m("ts") + m("ttl") * 1000000L) <= lit(nowMicros)))
      array_sort(unexpired, (l, r) =>
        when(l("ts") < r("ts"), -1).when(l("ts") > r("ts"), 1)
          .otherwise(l("prio") - r("prio")).cast("int"))
    }
    def collValue(c: ColumnDef): Column = {
      val sorted = collSorted(c)
      val sparkT = sparkType(c.tpe)
      val folded = aggregate(sorted, lit(null).cast(sparkT), (acc, m) => {
        val v = m("v"); val op = m("op")
        val cleared = op === "clear" || (op === "set" && v.isNull)
        c.tpe match {
          case _: CqlList =>
            // index ops carry the index in the op string ("setidx:3")
            val opName = substring_index(op, ":", 1)
            val opIdx = substring_index(op, ":", -1).cast("int")
            when(cleared, lit(null).cast(sparkT))
              .when(op === "set", v)
              .when(opName === "append", when(acc.isNull, v).otherwise(concat(acc, v)))
              .when(opName === "prepend", when(acc.isNull, v).otherwise(concat(v, acc)))
              .when(opName === "remove",
                filter(coalesce(acc, v), e => !array_contains(v, e)))
              .when(opName === "setidx",
                transform(acc, (el, j) => when(j === opIdx, element_at(v, 1)).otherwise(el)))
              .when(opName === "delidx", filter(acc, (el, j) => j =!= opIdx))
              .otherwise(acc)
          case _: CqlSet =>
            when(cleared, lit(null).cast(sparkT))
              .when(op === "set", v)
              .when(op === "add", array_sort(array_distinct(
                when(acc.isNull, v).otherwise(concat(acc, v)))))
              .when(op === "remove",
                filter(coalesce(acc, v), e => !array_contains(v, e)))
              .otherwise(acc)
          case _: CqlMap =>
            when(cleared, lit(null).cast(sparkT))
              .when(op === "set", v)
              .when(op === "put", when(acc.isNull, v).otherwise(map_concat(acc, v)))
              .when(op === "delkey", when(acc.isNull, acc).otherwise(
                map_filter(acc, (k, _) => !array_contains(map_keys(v), k))))
              .otherwise(acc)
          case _ => acc
        }
      })
      // empty collections read back as null (CQL convention)
      when(folded.isNotNull && size(folded) > 0, folded)
    }
    /** Per-element cell metadata fold for sets/maps: element (or map key) →
      * (writetime µs, ttl) of the mutation that last wrote it — the state
      * behind multi-cell writetime()/ttl() list selectors (CASSANDRA-8877
      * forward-port; the 4.0 reference rejects these selectors).
      */
    def collMeta(c: ColumnDef): Column = {
      val keyT = c.tpe match {
        case CqlSet(e) => sparkType(e)
        case CqlMap(k, _) => sparkType(k)
        case other => throw new IllegalStateException(s"collMeta on ${other.name}")
      }
      val metaT = MapType(keyT, StructType(Seq(
        StructField("ts", LongType), StructField("ttl", LongType))))
      aggregate(collSorted(c), lit(null).cast(metaT), (acc, m) => {
        val v = m("v"); val op = m("op")
        val cleared = op === "clear" || (op === "set" && v.isNull)
        val ks = c.tpe match {
          case _: CqlSet => v
          case _ => map_keys(v)
        }
        val entries = map_from_entries(transform(ks,
          k => struct(k, struct(m("ts").as("ts"), m("ttl").as("ttl")))))
        val upsertOp = c.tpe match {
          case _: CqlSet => lit("add")
          case _ => lit("put")
        }
        when(cleared, lit(null).cast(metaT))
          .when(op === "set", entries)
          .when(op === upsertOp, when(acc.isNull, entries).otherwise(
            map_concat(map_filter(acc, (k, _) => !array_contains(ks, k)), entries)))
          .when(op === (c.tpe match { case _: CqlSet => lit("remove"); case _ => lit("delkey") }),
            when(acc.isNull, acc).otherwise(
              map_filter(acc, (k, _) => !array_contains(ks, k))))
          .otherwise(acc)
      })
    }
    /** Per-POSITION cell metadata fold for lists (WritetimeOrTTLSelector:
      * the reference returns one writetime/ttl per list cell): re-runs the
      * value fold over (element, ts, ttl) triples so every surviving
      * element keeps the stamp of the mutation that wrote it — append/
      * prepend stamp the new elements, setidx re-stamps one position,
      * remove/delidx drop positions, set re-stamps everything.
      */
    def listMeta(c: ColumnDef): Column = {
      val eT = c.tpe match {
        case CqlList(e) => sparkType(e)
        case other => throw new IllegalStateException(s"listMeta on ${other.name}")
      }
      val zT = ArrayType(StructType(Seq(StructField("e", eT),
        StructField("ts", LongType), StructField("ttl", LongType))))
      val folded = aggregate(collSorted(c), lit(null).cast(zT), (acc, m) => {
        val v = m("v"); val op = m("op")
        val cleared = op === "clear" || (op === "set" && v.isNull)
        val zipped = transform(v, e =>
          struct(e.as("e"), m("ts").as("ts"), m("ttl").as("ttl")))
        val opName = substring_index(op, ":", 1)
        val opIdx = substring_index(op, ":", -1).cast("int")
        when(cleared, lit(null).cast(zT))
          .when(op === "set", zipped)
          .when(opName === "append", when(acc.isNull, zipped).otherwise(concat(acc, zipped)))
          .when(opName === "prepend", when(acc.isNull, zipped).otherwise(concat(zipped, acc)))
          .when(opName === "remove",
            filter(coalesce(acc, zipped), p => !array_contains(v, p("e"))))
          .when(opName === "setidx", transform(acc, (p, j) =>
            when(j === opIdx,
              struct(element_at(v, 1).as("e"), m("ts").as("ts"), m("ttl").as("ttl")))
              .otherwise(p)))
          .when(opName === "delidx", filter(acc, (p, j) => j =!= opIdx))
          .otherwise(acc)
      })
      when(folded.isNotNull && size(folded) > 0, folded)
    }
    /** collection columns whose element/key admits Spark equality (maps
      * can't) — only these carry writetime/ttl list shadows.
      */
    def hasElemMeta(c: ColumnDef): Boolean = c.tpe match {
      case CqlList(e) => !hasMapValue(e)
      case CqlSet(e) => !hasMapValue(e)
      case CqlMap(k, _) => !hasMapValue(k)
      case _ => false
    }
    val valueCols = cols.map { c =>
      if (isCollection(c.tpe)) {
        collValue(c).as(c.name)
      } else if (c.tpe == CqlCounter)
        when(col("_cts_" + c.name) > delTs, col("_csum_" + c.name)).as(c.name)
      else {
        val cell = col("_cell_" + c.name)
        when(cellLive(cell), cell("v")).as(c.name)
      }
    }
    val wtCols = cols.map { c =>
      if (isCollection(c.tpe))
        lit(null).cast("long").as("_wt_" + c.name)
      else if (c.tpe == CqlCounter)
        when(col("_cts_" + c.name) > delTs, col("_cts_" + c.name)).as("_wt_" + c.name)
      else {
        val cell = col("_cell_" + c.name)
        when(cellLive(cell), cell("ts")).as("_wt_" + c.name)
      }
    }
    val ttlCols = cols.map { c =>
      if (isCollection(c.tpe) || c.tpe == CqlCounter)
        lit(null).cast("int").as("_ttlr_" + c.name)
      else {
        val cell = col("_cell_" + c.name)
        when(cellLive(cell) && cell("ttl") > 0,
          ceil((cell("ts") + cell("ttl") * 1000000L - lit(nowMicros)) / 1000000.0).cast("int"))
          .as("_ttlr_" + c.name)
      }
    }
    // per-element writetime/ttl lists, ordered like the collection
    // iterates (lists by position; set elements in order; map keys sorted)
    def remTtl(ts: Column, ttl: Column): Column =
      when(ttl > 0L, ceil((ts + ttl * 1000000L - lit(nowMicros)) / 1000000.0).cast("int"))
    val metaCols = cols.filter(hasElemMeta).flatMap { c =>
      c.tpe match {
        case _: CqlList =>
          val zipped = listMeta(c)
          val wtl = when(zipped.isNotNull, transform(zipped, p => p("ts")))
          val ttll = when(zipped.isNotNull,
            transform(zipped, p => remTtl(p("ts"), p("ttl"))))
          Seq(wtl.as("_wtl_" + c.name), ttll.as("_ttlrl_" + c.name))
        case _ =>
          val meta = collMeta(c)
          val value = collValue(c)
          val iterKeys = c.tpe match {
            case _: CqlSet => value
            case _ => sort_array(map_keys(value))
          }
          def entry(k: Column): Column = element_at(meta, k)
          val wtl = when(value.isNotNull, transform(iterKeys, k => entry(k)("ts")))
          val ttll = when(value.isNotNull,
            transform(iterKeys, k => remTtl(entry(k)("ts"), entry(k)("ttl"))))
          Seq(wtl.as("_wtl_" + c.name), ttll.as("_ttlrl_" + c.name))
      }
    }
    val liveCol =
      if (withLiveness) {
        val lv = col("_live")
        val liveOk = lv.isNotNull && lv("ts") > delTs &&
          (lv("ttl") === 0L || (lv("ts") + lv("ttl") * 1000000L) > lit(nowMicros))
        Seq(liveOk.as("_row_live"))
      } else Seq(lit(false).as("_row_live"))
    g.select((keys.map(col) ++ valueCols ++ wtCols ++ ttlCols ++ metaCols ++ liveCol): _*)
  }

  /** pk + per-ck lo/hi bounds + inclusivity + ts — the persisted shape of
    * range tombstones.
    */
  private def rangeSchema(td: TableDef): StructType =
    StructType(td.partitionKey.map(c => StructField(c.name, sparkType(c.tpe))) ++
      td.clustering.flatMap(c => Seq(
        StructField(c.name + "__rlo", sparkType(c.tpe)),
        StructField(c.name + "__rhi", sparkType(c.tpe)))) ++
      Seq(StructField("_rloi", BooleanType), StructField("_rhii", BooleanType),
        StructField("_ts", LongType)))

  /** A table's mutation log: its listed segments, then the in-memory tail. */
  private def mutationLog(name: String): DataFrame = {
    val tail = tailDf(name)
    storage.map(_.segmentFiles(name)).filter(_.nonEmpty)
      .map(fs => spark.read.schema(tail.schema).parquet(fs.map(_.getPath): _*).unionByName(tail))
      .getOrElse(tail)
  }

  /** `part` of the live checkpoint, if it may hold rows ([[Storage.checkpointPart]]). */
  private def checkpointPart(name: String, part: String, schema: StructType): Option[DataFrame] =
    storage.flatMap(_.checkpointPart(name, part)).map(f => spark.read.schema(schema).parquet(f.getPath))

  /** pk + the partition-deletion watermark: the persisted shape of pdel. */
  private def pdelSchema(td: TableDef): StructType =
    StructType(td.partitionKey.map(c => StructField(c.name, sparkType(c.tpe))) :+
      StructField("_pdel", LongType))

  /** Reconciled (rowState, staticsState) over checkpoint + segments + tail,
    * the single source for both read() and compact(). Partition deletions
    * and range tombstones, stored or logged, join the state rows as marker
    * rows (`_mark`); one window on the partition key gives each state row
    * its partition's deletion watermark and range list. A partition-key
    * filter passes that window into every scan, and the fold reuses its
    * distribution. `pinned` coalesces the union to one partition first, so
    * the reconcile of a pinned read runs in one task.
    */
  private def fullState(name: String, pinned: Boolean): (DataFrame, Option[DataFrame]) = {
    val td = table(name)
    val pk = td.partitionKey.map(_.name)
    val log = mutationLog(name)
    val pdelMarks = checkpointPart(name, "pdel", pdelSchema(td)).map(
      _.select(pk.map(col) ++ Seq(col("_pdel").as("_pd"), lit(true).as("_mark")): _*))
    val rangeMarks = if (td.clustering.isEmpty) None else checkpointPart(name, "ranges", rangeSchema(td))
      .map(_.select(pk.map(col) ++ Seq(rangeStruct(td).as("_rt"), lit(true).as("_mark")): _*))

    // each mutation is a one-row state: with the checkpoint's state rows it
    // is shadowed once, then folded by one groupBy
    def reconcile(part: String, keyDefs: Seq[ColumnDef], cols: Seq[ColumnDef], ops: Seq[String],
                  withLiveness: Boolean, withRanges: Boolean): DataFrame = {
      val keys = keyDefs.map(_.name)
      val markOps = "delpart" +: (if (withRanges) Seq("delrange") else Nil)
      val muts = mutationState(log.filter(col("_op").isin(ops ++ markOps: _*)), keys, cols,
        withLiveness, Option.when(withRanges)(rangeStruct(td)))
      val stored = checkpointPart(name, part, stateSchema(td, keyDefs, cols, withLiveness)).toSeq ++
        pdelMarks ++ rangeMarks.filter(_ => withRanges)
      val all = stored.foldLeft(muts)(_.unionByName(_, allowMissingColumns = true))
      // partition deletions (max delete ts per pk) and range tombstones (the
      // max ts of those matching the row's clustering; RangeTombstoneMarker
      // semantics) shadow through one watermark. The window sorts by the
      // full key, the order the fold below needs.
      val w = Window.partitionBy(pk.map(col): _*).orderBy(keys.drop(pk.length).map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val windowed = (if (pinned) all.coalesce(1) else all)
        .select(col("*") +: (max(col("_pd")).over(w).as("_pdw") +:
          (if (withRanges) Seq(collect_list(col("_rt")).over(w).as("_rts")) else Nil)): _*)
        .filter(col("_mark").isNull)
      val rangeTs =
        if (withRanges) array_max(transform(filter(col("_rts"), withinRange(td, _)), _("_ts")))
        else lit(null)
      // a column, so the watermark is computed once per row, not per shadowed column
      val shadowed = shadowState(
        windowed.withColumn("_shadow", coalesce(greatest(col("_pdw"), rangeTs), lit(Long.MinValue))),
        col("_shadow"), keys, cols, withLiveness)
      // a row deletion shadows each counter state of its row before the
      // sum, wherever the deletion and the deltas are stored: a counter
      // update reads the current value, and the row tombstone shadows it
      val counters = cols.filter(_.tpe == CqlCounter)
      val byRowDel =
        if (counters.isEmpty || !ops.contains("delrow")) shadowed
        else {
          val rowDel = coalesce(max(col("_del_ts")).over(Window.partitionBy(keys.map(col): _*)),
            lit(Long.MinValue))
          shadowed.withColumns(counters.flatMap { c =>
            val after = col("_cts_" + c.name) > rowDel
            Seq("_csum_" + c.name -> when(after, col("_csum_" + c.name)),
              "_cts_" + c.name -> when(after, col("_cts_" + c.name)))
          }.toMap)
        }
      foldState(byRowDel, keys, cols, withLiveness)
    }
    val rowState = reconcile("rows", td.primaryKey, td.regulars,
      Seq("insert", "update", "delrow"), withLiveness = true, withRanges = td.clustering.nonEmpty)
    val staticState = if (td.statics.isEmpty) None
      else Some(reconcile("statics", td.partitionKey, td.statics,
        Seq("insert", "update"), withLiveness = false, withRanges = false))
    (rowState, staticState)
  }

  /** The range bounds of a range tombstone, the struct [[withinRange]] reads. */
  private def rangeStruct(td: TableDef): Column =
    struct(rangeSchema(td).fields.drop(td.partitionKey.length).map(f => col(f.name)).toSeq: _*)

  /** Reconciled live rows of a table with shadow columns `_wt_<c>` (cell
    * writetime µs) and `_ttlr_<c>` (remaining ttl seconds), folded from the
    * checkpoint's state rows and every logged mutation after it.
    */
  def read(name0: String): DataFrame = readCanonical(canon(name0))

  /** [[read]] on an already-canonical catalog key (internal call sites —
    * statement names canonicalize exactly once in [[run]]). A table's
    * reconciled plan is reused while its inputs stay the same ([[readPlans]]).
    * `pinned` marks a read whose filter binds the full partition key; it
    * gets the one-task shape where [[pinnable]].
    */
  private[cql] def readCanonical(name: String, pinned: Boolean = false): DataFrame = {
    views.get(name).foreach(v => return readView(v))
    virtualDf(name).foreach(v => return v)
    val inputs = readInputs(name)
    readPlans.get((name, pinned)).collect { case (in, df) if in == inputs => df }.getOrElse {
      val df = reconciled(name, inputs._1, pinned && pinnable(inputs))
      readPlans((name, pinned)) = (inputs, df)
      df
    }
  }

  /** A pinned read runs in one task only where that cannot become a serial
    * full scan: the table has no statics (their join stops the key filter
    * above the scans), and its listed stored inputs total at most
    * [[pinBytes]], so the one task reads no more than Spark's split rule
    * hands any task of a parallel scan.
    */
  private def pinnable(inputs: ReadInputs): Boolean = inputs._1.statics.isEmpty &&
    (inputs._2.toSeq ++ inputs._3).map(dirBytes).sum <= inputs._6

  /** The smallest split Spark's file-scan rule makes,
    * min(maxPartitionBytes, max(openCostInBytes, bytes / cores)), at any
    * input size and core count: min(maxPartitionBytes, openCostInBytes),
    * 4 MB by default. On 4 cores one task measured faster than the exchange
    * shape up to 16 MB of inputs and slower from 64 MB.
    */
  private def pinBytes: Long = {
    val conf = spark.sessionState.conf
    math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
  }

  /** The reconciled live rows of a table, built from its current inputs. */
  private def reconciled(name: String, td: TableDef, pinned: Boolean): DataFrame = {
    val pk = td.partitionKey.map(_.name)
    val rowKeys = td.primaryKey.map(_.name)
    val (rowState, staticState) = fullState(name, pinned)
    val rows = finalizeState(rowState, rowKeys, td.regulars, withLiveness = true)
      .withColumn("_any_cell",
        td.regulars.map(c => col(c.name).isNotNull).foldLeft(lit(false))(_ || _))
      .filter(col("_row_live") || col("_any_cell"))
      // a REGULAR row can never have null clustering (mutations bind the
      // full clustering): a null-clustering entry is a static-only insert's
      // liveness marker, whose visibility the statics join below decides —
      // without this, a static insert shows a phantom row NEXT TO the
      // partition's live regular rows (StaticColumnsTest merges instead)
      .filter(td.clustering.map(c => col(c.name).isNotNull).foldLeft(lit(true))(_ && _))
      .drop("_row_live", "_any_cell")

    staticState match {
      case None => rows
      case Some(st) =>
        // statics reconcile per PARTITION; a statics-only partition still
        // yields one (null-clustering) row on unrestricted reads
        // (SelectStatement.java:807-850)
        val statics = finalizeState(st, pk, td.statics, withLiveness = false)
          .withColumn("_any_static",
            td.statics.map(c => col(c.name).isNotNull).foldLeft(lit(false))(_ || _))
          .filter(col("_any_static"))
          .drop("_row_live", "_any_static")
        rows.join(statics, pk, "full_outer")
    }
  }

  /** Compact a table: persist the merged reconcile state as the new
    * checkpoint, then drop the consumed segments + tail. Reads after this
    * aggregate only post-compact mutations (the reference's
    * compacted-sstables + memtable read shape). Collection op-lists are
    * pruned to the suffix after their last full overwrite (set/clear).
    */
  def compact(name0: String): Unit = {
    val name = canon(name0)
    val store = attached
    val td = mutableTable(name)
    val (rowState0, staticState) = fullState(name, pinned = false)
    val (pdel, rangeTombs) = persistedTombstones(name, td)
    // prune collection op-lists: everything before the last set/clear is
    // overwritten by the fold anyway
    def pruneColls(df: DataFrame, cols: Seq[ColumnDef]): DataFrame =
      cols.filter(c => isCollection(c.tpe)).foldLeft(df) {
        (d, c) => d.withColumn("_muts_" + c.name, pruneMuts(col("_muts_" + c.name)))
      }
    val rowStatePruned = pruneColls(rowState0, td.regulars)
    // Physical tombstone/expiry purge, the reference's purge-evaluator rule
    // (db/compaction CompactionController.getPurgeEvaluator,
    // db/DeletionTime.java, CASSANDRA-14092): compaction here consumes
    // EVERY older input in one pass, so any tombstone older than gc_grace
    // no longer shadows anything still in storage and is physically
    // dropped — row tombstones (_del_ts), explicit null-write cells
    // (tomb != 0), collection clears/element-removes, partition-deletion
    // watermarks and range tombstones alike. Fully TTL-expired cells purge
    // once expiry itself is gc_grace old. Until gc_grace elapses every
    // tombstone stays checkpointed and keeps shadowing late USING
    // TIMESTAMP writes, exactly like the reference; after the purge a
    // sufficiently old late write can resurrect — the documented
    // Cassandra gc_grace contract. (The reference gates on the cell's
    // localDeletionTime; mutations here are stamped on the same µs
    // timeline as [[nowMicros]], so the write timestamp plays that role.)
    // Data SHADOWED by a retained row tombstone (cell ts <= _del_ts) is
    // dropped regardless of grace: its timestamp can never exceed the
    // tombstone's again, so it is dead forever.
    val graceMicros = td.gcGraceSeconds * 1000000L
    val tombCutoff = nowMicros - graceMicros // write-ts <= cutoff ⇒ past grace
    def purgeState(df: DataFrame, keys: Seq[String], cols: Seq[ColumnDef],
                   withLiveness: Boolean): DataFrame = {
      val delTs = coalesce(col("_del_ts"), lit(Long.MinValue))
      def ttlPurged(ts: Column, ttl: Column): Column =
        ttl > 0L && (ts + ttl * 1000000L + lit(graceMicros)) <= lit(nowMicros)
      val purged = cols.flatMap { c =>
        if (isCollection(c.tpe)) {
          val m = col("_muts_" + c.name)
          // entries strictly below the row tombstone are dead forever (the
          // clear marker AT _del_ts stays while the tombstone stays — the
          // fold relies on it); then drop the longest purgeable PREFIX of
          // the sorted list: tombstone ops past grace shadow nothing ahead
          // of them once nothing remains behind them
          val shadowDropped = when(m.isNull, m)
            .otherwise(filter(m, e => e("ts") >= delTs))
          Seq(purgeMutsPrefix(shadowDropped, tombCutoff).as("_muts_" + c.name))
        } else if (c.tpe == CqlCounter) {
          val ct = col("_cts_" + c.name)
          Seq(when(ct > delTs, col("_csum_" + c.name)).as("_csum_" + c.name),
            when(ct > delTs, ct).as("_cts_" + c.name))
        } else {
          // tomb may be 0 on an expired cell that was still live when an
          // earlier compact aggregated it — the expiry clause covers it;
          // explicit null-write tombstones carry ttl=0, the tomb clause
          // covers them
          val cell = col("_cell_" + c.name)
          val dead = cell("ts") <= delTs ||
            ttlPurged(cell("ts"), cell("ttl")) ||
            (cell("tomb") =!= 0 && cell("ts") <= lit(tombCutoff))
          Seq(when(cell.isNotNull && !dead, cell).as("_cell_" + c.name))
        }
      }
      val delPurged = Seq(when(col("_del_ts") > lit(tombCutoff), col("_del_ts")).as("_del_ts"))
      val livePurged = if (withLiveness) {
        val lv = col("_live")
        val dead = lv("ts") <= delTs || ttlPurged(lv("ts"), lv("ttl"))
        Seq(when(lv.isNotNull && !dead, lv).as("_live"))
      } else Nil
      val projected = df.select(
        (keys.map(col) ++ purged ++ delPurged ++ livePurged): _*)
      // a row whose entire state purged away carries no information —
      // physically drop it (this is what shrinks the checkpoint)
      val anyState = cols.map { c =>
        if (isCollection(c.tpe)) {
          val m = col("_muts_" + c.name)
          m.isNotNull && size(m) > 0
        } else if (c.tpe == CqlCounter) col("_csum_" + c.name).isNotNull
        else col("_cell_" + c.name).isNotNull
      } ++ Seq(col("_del_ts").isNotNull) ++
        (if (withLiveness) Seq(col("_live").isNotNull) else Nil)
      projected.filter(anyState.reduce(_ || _))
    }
    val rowKeys = td.primaryKey.map(_.name)
    val pkNames = td.partitionKey.map(_.name)
    val rowState = purgeState(rowStatePruned, rowKeys, td.regulars, withLiveness = true)
    val staticsPurged = staticState.map(st =>
      purgeState(pruneColls(st, td.statics), pkNames, td.statics, withLiveness = false))
    val pdelPurged = pdel.filter(col("_pdel") > lit(tombCutoff))
    val rangesPurged = rangeTombs.map(_.filter(col("_ts") > lit(tombCutoff)))
    // history inputs measured before the consumed artifacts disappear
    val consumed = store.checkpoint(name).toSeq ++ store.segmentFiles(name)
    val histBytesIn = consumed.map(dirBytes).sum
    val histInputs = consumed.size + (if (logs(name).rows.nonEmpty) 1 else 0)
    // with CDC on, the tail lands as a segment too, so consumers see every record
    val cdcTail =
      if (cdcEnabled && logs(name).rows.nonEmpty) store.writeSegments(name)(writeTail(name)) else Nil
    // range tombstones persist like the pdel watermark: out-of-order
    // writes below an absorbed range must stay dead after compaction
    // (both purge past gc_grace like any other tombstone)
    val parts = Seq("rows" -> rowState) ++ staticsPurged.map("statics" -> _) ++
      Seq("pdel" -> pdelPurged) ++ rangesPurged.map("ranges" -> _)
    // every part is written, empty or not; the manifest records its rows
    // so that reads skip the empty ones
    val partRows = store.compact(td, commitTs(name), archive = cdcEnabled, cdcTail) { ck =>
      parts.map { case (part, df) =>
        val n = org.apache.spark.sql.Observation()
        df.observe(n, count(lit(1)).as("n")).write.parquet(new java.io.File(ck, part).getPath)
        part -> n.get("n").asInstanceOf[Long]
      }.toMap
    }
    logs(name).clear()
    val ck = store.checkpoint(name).get
    // system.compaction_history record (SystemKeyspace.java
    // CompactionHistory): every output row went through one
    // histInputs-way merge, so rows_merged carries {inputs -> output
    // rows} — the reference histograms per-partition input counts from
    // its merge listener, which this single-map merge doesn't observe
    val (ksH, tnH) = splitName(name)
    // prune on APPEND too, not just on read: an engine that compacts
    // frequently but never queries the table must not accumulate rows
    // without bound
    pruneCompactionHistory()
    compactionHistory += Row(
      java.util.UUID.randomUUID().toString,
      histBytesIn, dirBytes(ck), tnH,
      new java.sql.Timestamp(System.currentTimeMillis()), ksH,
      Map(histInputs -> partRows("rows")))
  }

  /** The tombstones a compaction persists: the partition-deletion
    * watermark per pk, and the range tombstones above it (a range at or
    * below pdel shadows nothing pdel does not).
    */
  private def persistedTombstones(name: String, td: TableDef): (DataFrame, Option[DataFrame]) = {
    val pk = td.partitionKey.map(_.name)
    val log = mutationLog(name)
    val logPdel = log.filter(col("_op") === "delpart").select(pk.map(col) :+ col("_ts").as("_pdel"): _*)
    val pdel = checkpointPart(name, "pdel", pdelSchema(td)).fold(logPdel)(logPdel.unionByName)
      .groupBy(pk.map(col): _*).agg(max(col("_pdel")).as("_pdel"))
    val ranges = if (td.clustering.isEmpty) None else {
      val logRanges = log.filter(col("_op") === "delrange")
        .select(rangeSchema(td).fields.map(f => col(f.name)).toSeq: _*)
        .join(pdel, pk, "left").filter(col("_pdel").isNull || col("_ts") > col("_pdel")).drop("_pdel")
      Some(checkpointPart(name, "ranges", rangeSchema(td)).fold(logRanges)(logRanges.unionByName))
    }
    (pdel, ranges)
  }

  /** Expire compaction-history records past the reference table's 7-day
    * default TTL ("week-long compaction history").
    */
  private def pruneCompactionHistory(): Unit = {
    val cutoff = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    compactionHistory.filterInPlace(
      _.getAs[java.sql.Timestamp](4).getTime >= cutoff)
  }

  /** Recursive on-disk byte count (compaction-history accounting). */
  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  private val compactionHistory = scala.collection.mutable.ArrayBuffer.empty[Row]

  /** Drop the longest PREFIX of a (sorted) op-list made of pure tombstone
    * ops — clear / null set / element removes — written at or before the
    * gc_grace cutoff. A tombstone op only shadows entries BEHIND it in the
    * fold, so once nothing precedes it and it is grace-old, dropping it is
    * the reference's tombstone purge for collection cells. Ops after the
    * first survivor are kept verbatim (they may still shadow it).
    */
  private def purgeMutsPrefix(m: Column, cutoffMicros: Long): Column = {
    def purgeable(e: Column): Column = {
      val opName = substring_index(e("op"), ":", 1)
      (opName.isin("clear", "remove", "delkey", "delidx") ||
        (opName === "set" && e("v").isNull)) && e("ts") <= lit(cutoffMicros)
    }
    val flags = transform(m, e => when(purgeable(e), 1).otherwise(0))
    val firstKeep = array_position(flags, 0) // 1-based; 0 ⇒ all purgeable
    val start = when(firstKeep === 0L, lit(1)).otherwise(firstKeep.cast("int"))
    val len = when(firstKeep === 0L, lit(0)).otherwise(size(m))
    when(m.isNull, m).otherwise(slice(m, start, len))
  }

  /** Drop op-list entries overwritten by a later set/clear. */
  private def pruneMuts(m: Column): Column = {
    val sorted = array_sort(m, (l, r) =>
      when(l("ts") < r("ts"), -1).when(l("ts") > r("ts"), 1)
        .otherwise(l("prio") - r("prio")).cast("int"))
    val n = size(sorted)
    val overwriteAt = zip_with(sorted, sequence(lit(0), greatest(n - 1, lit(0))),
      (e, i) => when(substring_index(e("op"), ":", 1).isin("set", "clear"), i))
    val from = coalesce(array_max(overwriteAt), lit(0))
    when(m.isNull || n === 0, m).otherwise(slice(sorted, from + 1, n))
  }

  // ── SELECT lowering + restriction validation ──────────────────────────
  /** Does this type reference (contain) the named UDT anywhere? */
  private def referencesUdt(t: CqlType, name: String): Boolean = t match {
    case u: CqlUdt => u.typeName == name || u.fields.exists(f => referencesUdt(f._2, name))
    case CqlList(e) => referencesUdt(e, name)
    case CqlSet(e) => referencesUdt(e, name)
    case CqlMap(k, v) => referencesUdt(k, name) || referencesUdt(v, name)
    case CqlTuple(es) => es.exists(referencesUdt(_, name))
    case _ => false
  }

  /** Replace every embedded copy of UDT `name` with its new definition. */
  /** Does `t` reference user type `tn`, possibly nested through
    * collections/tuples/other UDTs? (Types/Tables.referencingUserType
    * analog, schema/Types.java.)
    */
  private def typeRefs(t: CqlType, tn: String): Boolean = t match {
    case u: CqlUdt => u.typeName == tn || u.fields.exists(f => typeRefs(f._2, tn))
    case CqlList(e) => typeRefs(e, tn)
    case CqlSet(e) => typeRefs(e, tn)
    case CqlMap(k, v) => typeRefs(k, tn) || typeRefs(v, tn)
    case CqlTuple(es) => es.exists(typeRefs(_, tn))
    case _ => false
  }

  private def rewriteUdt(t: CqlType, name: String, nu: CqlUdt): CqlType = t match {
    case u: CqlUdt if u.typeName == name => nu
    case u: CqlUdt => u.copy(fields = u.fields.map { case (f, ft) => (f, rewriteUdt(ft, name, nu)) })
    case CqlList(e) => CqlList(rewriteUdt(e, name, nu))
    case CqlSet(e) => CqlSet(rewriteUdt(e, name, nu))
    case CqlMap(k, v) => CqlMap(rewriteUdt(k, name, nu), rewriteUdt(v, name, nu))
    case CqlTuple(es) => CqlTuple(es.map(rewriteUdt(_, name, nu)))
    case other => other
  }

  /** Reshape an in-memory tail value from the old type to the widened one:
    * UDT structs gain trailing null fields by NAME (renames never reach
    * here — they're positional and leave values untouched).
    */
  private def widenValue(v: Any, o: CqlType, n: CqlType): Any =
    if (v == null) null else (o, n) match {
      case (ou: CqlUdt, nu: CqlUdt) =>
        val r = v.asInstanceOf[Row]
        val byName = ou.fields.zip(r.toSeq).map { case ((f, ft), fv) => f -> (ft, fv) }.toMap
        Row.fromSeq(nu.fields.map { case (f, ft) =>
          byName.get(f) match {
            case Some((oft, fv)) => widenValue(fv, oft, ft)
            case None => null
          }
        })
      case (CqlList(oe), CqlList(ne)) =>
        v.asInstanceOf[scala.collection.Seq[Any]].map(widenValue(_, oe, ne)).toSeq
      case (CqlSet(oe), CqlSet(ne)) =>
        v.asInstanceOf[scala.collection.Seq[Any]].map(widenValue(_, oe, ne)).toSeq
      case (CqlMap(ok, ov), CqlMap(nk, nv)) =>
        v.asInstanceOf[scala.collection.Map[Any, Any]].map { case (k, vv) =>
          widenValue(k, ok, nk) -> widenValue(vv, ov, nv) }.toMap
      case (CqlTuple(oes), CqlTuple(nes)) =>
        Row.fromSeq(v.asInstanceOf[Row].toSeq.zip(oes).zip(nes).map {
          case ((fv, oe), ne) => widenValue(fv, oe, ne) })
      case _ => v
    }

  /** ALTER TYPE ADD/RENAME (statements/schema/AlterTypeStatement.java):
    * rewrites the type registry and every table column embedding the type.
    * ADD widens stored structs BY NAME at read time — parquet fills the
    * missing trailing field with null (schema evolution), the in-memory
    * tail is reshaped here. RENAME is metadata-only in the reference
    * (positional serialization), but our durable parquet addresses struct
    * fields by name, so renames are refused once a using table has flushed
    * (same rule as ALTER TABLE RENAME). ALTER field type is rejected
    * (:165-175: "Altering field types is no longer supported").
    */
  private def executeAlterType(at: AlterType): DataFrame = {
    val tn = objKey(at.name)
    val old = udts.getOrElse(tn, throw InvalidRequest(s"Type $tn doesn't exist"))
    if (at.alterField)
      throw InvalidRequest("Altering field types is no longer supported")
    val nu: CqlUdt = at.add match {
      case Some((f, ft)) =>
        if (old.fields.exists(_._1 == f))
          throw InvalidRequest(
            s"Cannot add field $f to type $tn: a field with name $f already exists")
        if (ft == CqlDuration || referencesUdt(ft, tn))
          throw InvalidRequest(
            if (ft == CqlDuration) s"Cannot add field $f of type duration to type $tn"
            else s"Cannot add new field $f of type ${ft.name} to user type $tn as it would create a circular reference")
        old.copy(fields = old.fields :+ (f -> ft))
      case None =>
        val rmap = at.renames.toMap
        rmap.keys.foreach(f => if (!old.fields.exists(_._1 == f))
          throw InvalidRequest(s"Unkown field $f in user type $tn"))
        val newFields = old.fields.map { case (f, ft) => (rmap.getOrElse(f, f), ft) }
        val names = newFields.map(_._1)
        names.foreach(nm => if (names.count(_ == nm) > 1)
          throw InvalidRequest(s"Duplicate field name $nm in type $tn"))
        old.copy(fields = newFields)
    }
    val users = tables.keys.filter(t => !virtualDefs.contains(t) &&
      tables(t).columns.exists(c => referencesUdt(c.tpe, tn))).toList
    if (at.renames.nonEmpty) users.find(t => storage.exists(_.holdsData(t))).foreach { t =>
      throw InvalidRequest(
        s"Cannot rename fields of type $tn: durable log segments of $t address fields by name")
    }
    udts(tn) = nu
    // other registered UDTs embedding this one carry structural copies
    udts.keys.toList.foreach { k =>
      if (k != tn) udts(k) = rewriteUdt(udts(k), tn, nu).asInstanceOf[CqlUdt]
    }
    users.foreach { t =>
      val td = tables(t)
      val newTd = td.copy(columns = td.columns.map(c =>
        if (referencesUdt(c.tpe, tn)) c.copy(tpe = rewriteUdt(c.tpe, tn, nu)) else c))
      // reshape in-memory tail values for ADD (nested structs gain fields);
      // renames are positional, values unchanged
      if (at.add.nonEmpty && logs.contains(t) && logs(t).rows.nonEmpty) {
        val colTypes = td.columns.map(c => c.name -> c.tpe).toMap
        val newColTypes = newTd.columns.map(c => c.name -> c.tpe).toMap
        val fieldNames = logSchema(td).fieldNames
        logs(t).update(_.map { r =>
          Row.fromSeq(fieldNames.zip(r.toSeq).map { case (fn, v) =>
            (colTypes.get(fn), newColTypes.get(fn)) match {
              case (Some(ot), Some(nt)) if referencesUdt(ot, tn) => widenValue(v, ot, nt)
              case _ => v
            }
          }.toSeq)
        })
      }
      tables(t) = newTd
    }
    emptyResult
  }

  /** CREATE [CUSTOM] INDEX — validation order and messages follow
    * statements/schema/CreateIndexStatement.java:90-190; simple targets on
    * collection columns are corrected to values() like IndexTarget.Raw
    * .prepare (statements/schema/IndexTarget.java:81-91). Frozen-ness is
    * erased in this type model, so the frozen-only/full-only checks don't
    * apply: full() is accepted on any collection (serves whole-value EQ).
    */
  private def executeCreateIndex(ci: CreateIndex): DataFrame = {
    val tbl = ci.table
    if (views.contains(tbl))
      throw InvalidRequest("Secondary indexes on materialized views aren't supported")
    if (virtualDefs.contains(tbl))
      throw InvalidRequest(s"Secondary indexes are not supported on virtual tables")
    val td = table(tbl)
    if (td.columns.exists(_.tpe == CqlCounter))
      throw InvalidRequest("Secondary indexes on counter tables aren't supported")
    if (ci.custom && ci.usingClass.isEmpty)
      throw InvalidRequest("CUSTOM index requires specifying the index class")
    if (!ci.custom && ci.usingClass.nonEmpty)
      throw InvalidRequest("Cannot specify index class for a non-CUSTOM index")
    if (ci.targets.isEmpty)
      throw InvalidRequest("Index created with no target columns")
    if (ci.targets.length > 1 && !ci.custom)
      throw InvalidRequest("Only CUSTOM indexes support multiple columns")
    def containsDuration(tp: CqlType): Boolean = tp match {
      case CqlDuration => true
      case CqlList(e) => containsDuration(e)
      case CqlSet(e) => containsDuration(e)
      case CqlMap(k, v) => containsDuration(k) || containsDuration(v)
      case CqlTuple(es) => es.exists(containsDuration)
      case u: CqlUdt => u.fields.exists(f => containsDuration(f._2))
      case _ => false
    }
    val resolved = ci.targets.map { t =>
      val cd = td.column(t.column).getOrElse(
        throw InvalidRequest(s"Undefined column name ${t.column}"))
      cd.tpe match {
        case CqlDuration =>
          throw InvalidRequest("Secondary indexes are not supported on duration columns")
        case tp @ (_: CqlList | _: CqlSet | _: CqlMap) if containsDuration(tp) =>
          throw InvalidRequest("Secondary indexes are not supported on collections containing durations")
        case tp: CqlTuple if containsDuration(tp) =>
          throw InvalidRequest("Secondary indexes are not supported on tuples containing durations")
        case tp: CqlUdt if containsDuration(tp) =>
          throw InvalidRequest("Secondary indexes are not supported on UDTs containing durations")
        case _ => ()
      }
      if (cd.kind == PartitionKey && td.partitionKey.length == 1)
        throw InvalidRequest(s"Cannot create secondary index on the only partition key column ${t.column}")
      val isColl = cd.tpe match {
        case _: CqlList | _: CqlSet | _: CqlMap => true
        case _ => false
      }
      val isMap = cd.tpe.isInstanceOf[CqlMap]
      val kind = if (t.kind == "simple" && isColl) "values" else t.kind
      kind match {
        case "keys" | "entries" if !isMap =>
          throw InvalidRequest(s"Cannot create index on $kind of column ${t.column} with non-map type")
        case "values" if !isColl =>
          throw InvalidRequest(s"Cannot create values() index on ${t.column}. Non-collection columns only support simple indexes")
        case "full" if !isColl =>
          throw InvalidRequest("full() indexes can only be created on frozen collections")
        case _ => ()
      }
      (t.column, kind)
    }
    // SASI option validation (SASIIndex.java:140-165, IndexMode.getMode):
    // complex (multi-cell collection) targets are unsupported; mode must be
    // a known one; SPARSE is numeric-only and analyzer-free
    if (ci.custom) {
      resolved.foreach { case (cn, _) =>
        td.column(cn).map(_.tpe).foreach {
          case _: CqlList | _: CqlSet | _: CqlMap =>
            throw InvalidRequest("complex columns are not yet supported by SASI")
          case _ => ()
        }
      }
      val mode = ci.options.getOrElse("mode", "PREFIX").toUpperCase
      if (!Set("PREFIX", "CONTAINS", "SPARSE")(mode))
        throw InvalidRequest(s"Incorrect index mode: ${ci.options.getOrElse("mode", "")}")
      // NonTokenizingOptions.buildFromMap:108-111 — case_sensitive is an
      // alias of the normalize options and cannot be combined with them
      if (ci.options.contains("case_sensitive") &&
          (ci.options.contains("normalize_lowercase") ||
           ci.options.contains("normalize_uppercase")))
        throw InvalidRequest("case_sensitive option cannot be specified together " +
          "with either normalize_lowercase or normalize_uppercase")
      if (mode == "SPARSE") {
        val probe = IndexDef("", tbl, resolved, custom = true, ci.usingClass, ci.options)
        if (resolved.exists(t => sasiLiteral(probe, td.column(t._1).get.tpe)))
          throw InvalidRequest("SPARSE mode is only supported on non-literal columns.")
        if (sasiAnalyzed(probe))
          throw InvalidRequest("SPARSE mode doesn't support analyzers.")
      }
      // DelimiterTokenizingOptions:58-64: the delimiter is one character
      ci.options.get("delimiter").filter(_.length != 1).foreach(v =>
        throw InvalidRequest(s"Only single character delimiters supported, was $v"))
    }
    // generateIndexName: <table>_<firstColumn>_idx, disambiguated by suffix
    val name = ci.indexName.getOrElse {
      val base = s"${splitName(tbl)._2}_${resolved.head._1}_idx"
      if (!indexDefs.contains(base)) base
      else {
        var i = 1
        while (indexDefs.contains(s"${base}_$i")) i += 1
        s"${base}_$i"
      }
    }
    if (indexDefs.contains(name)) {
      if (!ci.ifNotExists) throw InvalidRequest(s"Index '$name' already exists")
    } else indexDefs.values.find(d =>
      // duplicate = same kind + same options incl. target
      // (IndexMetadata.equalsWithoutName:196-200 — two indexes on one
      // column with different analyzer options are NOT duplicates)
      d.table == tbl && d.targets == resolved && d.custom == ci.custom &&
        d.className == ci.usingClass && d.options == ci.options) match {
      case Some(dup) =>
        if (!ci.ifNotExists)
          throw InvalidRequest(s"Index $name is a duplicate of existing index ${dup.name}")
      case None =>
        val d = IndexDef(name, tbl, resolved, ci.custom, ci.usingClass, ci.options)
        indexDefs(name) = d
        // index build scans the base data once; the selectivity estimate
        // snapshots here (getEstimatedResultRows analog)
        indexStats(name) = computeIndexStat(d)
    }
    emptyResult
  }

  private def executeSelect(s: Select): DataFrame = {
    val td = table(s.table)

    // validate + apply WHERE (StatementRestrictions.java:195-271)
    val restricted = scala.collection.mutable.Map.empty[String, String] // col -> kind of restriction
    var filters = Vector.empty[Column]
    var needsFiltering = false
    // ONE restriction is index-served (IndexRegistry.getBestIndexFor);
    // everything further needs filtering. Which restriction an index can
    // serve depends on its target kind: simple → EQ, entries → m[k]=v,
    // values → CONTAINS, keys → CONTAINS KEY, full → whole-collection EQ,
    // custom (SASI) → LIKE/EQ plus numeric ranges, gated by index mode.
    var indexBudget = 1
    val indexServedCols = scala.collection.mutable.Set.empty[String]
    s.where.foreach {
      case Rel(c, op, v) =>
        val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        if (op == "!=") throw InvalidRequest("Unsupported '!=' relation")
        restricted(c) = if (op == "=") "eq" else "range"
        // whole-value EQ on a collection column is served by a full()
        // index; scalar EQ by a simple or custom index. A SASI custom
        // index additionally serves inequality RANGES on non-literal
        // (numeric) columns in PREFIX or SPARSE mode
        // (sasi/conf/ColumnIndex.java:219-229: tokenized indexes drop only
        // EQ and CONTAINS-mode PREFIX serving; RANGE is gated on
        // literal-ness alone, so an analyzed numeric index still serves
        // ranges — ADVICE r6).
        val eqKinds = cd.tpe match {
          case _: CqlList | _: CqlSet | _: CqlMap => Set("full")
          case _ => Set("simple")
        }
        val customServes = tableIndexes(s.table).exists { d =>
          d.custom && d.targets.exists(_._1 == c) && {
            if (op == "=") !sasiAnalyzed(d)
            else Set("PREFIX", "SPARSE")(sasiMode(d)) &&
              !sasiLiteral(d, cd.tpe)
          }
        }
        val indexServed = indexBudget > 0 &&
          ((op == "=" && hasIndex(s.table, c, eqKinds)) || customServes)
        if (indexServed) { indexBudget -= 1; indexServedCols += c }
        if ((cd.kind == Regular || cd.kind == Static) && !indexServed) needsFiltering = true
        if (cd.kind == PartitionKey && op != "=") needsFiltering = true
        // timeuuid ranges compare via the embedded-time sort key
        // (TimeUUIDType comparator), not uuid-string order
        val coerced = coerce(v, cd.tpe, c)
        val (lhs, lcol) =
          if (cd.tpe == CqlTimeuuid && op != "=")
            (F.timeuuid_sort_key(col(c)),
              lit(graft.functions.TimeUuid.sortKey(coerced.toString)))
          else (col(c), litValue(coerced, cd.tpe))
        filters :+= (op match {
          case "=" =>
            // Spark disallows EqualTo on MapType (maps are unorderable):
            // whole-map equality compares the key-sorted entry arrays —
            // the full()-index EQ the reference serves on frozen maps
            if (cd.tpe.isInstanceOf[CqlMap])
              sort_array(map_entries(lhs)) === sort_array(map_entries(lcol))
            else lhs === lcol
          case "<" => lhs < lcol
          case "<=" => lhs <= lcol
          case ">" => lhs > lcol
          case ">=" => lhs >= lcol
        })
      case In(c, vs) =>
        val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        restricted(c) = "eq"
        if (cd.kind == Regular || cd.kind == Static) needsFiltering = true
        filters :+= col(c).isin(vs.map(v => coerce(v, cd.tpe, c)): _*)
      case MultiColRel(cols0, op, values) =>
        // lexicographic relation over a clustering prefix
        // (MultiColumnRelation.java; lowered to the per-column DNF so the
        // leading column's range reaches parquet stats)
        val cds = cols0.map(c => td.column(c).getOrElse(
          throw InvalidRequest(s"Undefined column name $c")))
        if (!cds.forall(_.kind == Clustering))
          throw InvalidRequest(
            s"Multi-column relations can only be applied to clustering columns but was applied to: ${cols0.mkString(", ")}")
        val ckOrder = td.clustering.map(_.name)
        val start = ckOrder.indexOf(cols0.head)
        if (start < 0 || ckOrder.slice(start, start + cols0.length) != cols0)
          throw InvalidRequest(
            s"Clustering columns must appear in the PRIMARY KEY order in multi-column relations: ${cols0.mkString(", ")}")
        // a range over the tuple is ONE range on the clustering prefix: only
        // the leading column registers as range-restricted (the prefix rule
        // must not see the trailing columns as independent ranges)
        if (op == "=") cols0.foreach(c => restricted(c) = "eq")
        else restricted(cols0.head) = "range"
        val pairs = cds.zip(values).map { case (cd, v) =>
          val coerced = coerce(v, cd.tpe, cd.name)
          if (cd.tpe == CqlTimeuuid)
            (F.timeuuid_sort_key(col(cd.name)),
              lit(graft.functions.TimeUuid.sortKey(coerced.toString)))
          else (col(cd.name), lit(coerced))
        }
        filters :+= (if (op == "=") pairs.map(p => p._1 === p._2).reduce(_ && _)
          else CqlOps.tupleCompare(pairs.map(_._1), pairs.map(_._2), op))
      case IsNotNull(c) =>
        throw InvalidRequest(
          s"Unsupported restriction: IS NOT NULL is only supported in materialized view creation ($c)")
      case MapEntryEq(c, key, v) =>
        val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        cd.tpe match {
          case CqlMap(kt, vt) =>
            // served by an entries() index (SecondaryIndexOnMapEntriesTest:
            // a single v[k] = x needs no ALLOW FILTERING; a second
            // restriction exhausts the budget and does)
            val indexServed = indexBudget > 0 && hasIndex(s.table, c, Set("entries"))
            if (indexServed) { indexBudget -= 1; indexServedCols += c }
            else needsFiltering = true
            restricted(c) = "entry"
            filters :+= (element_at(col(c), lit(coerce(key, kt, c))) === lit(coerce(v, vt, c)))
          case _ => throw InvalidRequest(
            s"Map-entry equality predicates are only supported on map columns, got $c")
        }
      case Like(c, pat) =>
        val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        if (cd.tpe != CqlText)
          throw InvalidRequest(s"LIKE is allowed only on text columns, got $c of type ${cd.tpe.name}")
        // Classify into LIKE_PREFIX/SUFFIX/CONTAINS/MATCHES by the wildcard
        // positions and trim them from the term
        // (SingleColumnRestriction.java:741-779 makeSpecific).
        val likeOp =
          if (pat.endsWith("%")) { if (pat.startsWith("%")) "contains" else "prefix" }
          else if (pat.startsWith("%")) "suffix"
          else "match"
        if (pat.stripPrefix("%").stripSuffix("%").isEmpty)
          throw InvalidRequest("LIKE value can't be empty.")
        // A SASI custom index serves only the ops its mode supports:
        // PREFIX (default) → prefix/match; CONTAINS → all four when not
        // tokenized; SPARSE → no LIKE op (sasi/conf/IndexMode.java:196-200,
        // sasi/disk/OnDiskIndexBuilder.java:52-56). An index that exists on
        // the column but can't serve the op is a hard error even with
        // ALLOW FILTERING (SASIIndexTest prefix-mode '%U' case); with NO
        // index this engine still accepts LIKE under ALLOW FILTERING — a
        // documented superset of the reference, which requires an index for
        // any LIKE (StatementRestrictions.java:174-183).
        val candidates = tableIndexes(s.table).filter(d => d.custom && d.targets.exists(_._1 == c))
        val servable = candidates.filter { d =>
          sasiMode(d) match {
            case "PREFIX" => likeOp == "prefix" || likeOp == "match"
            // tokenized CONTAINS loses PREFIX serving
            // (ColumnIndex.supports:226)
            case "CONTAINS" => likeOp != "prefix" || !sasiAnalyzed(d)
            case _ => false
          }
        }
        if (candidates.nonEmpty && servable.isEmpty)
          throw InvalidRequest(s"$c LIKE '$pat' is only supported on properly indexed columns")
        val indexServed = indexBudget > 0 && servable.nonEmpty
        if (indexServed) { indexBudget -= 1; indexServedCols += c }
        else needsFiltering = true
        restricted(c) = "like"
        // a case-normalizing analyzer on the serving index makes the match
        // case-insensitive (both sides pass through the analyzer). When
        // several custom indexes could serve, the most selective by the
        // build-time estimate serves, creation order breaking ties
        // (SecondaryIndexManager.getBestIndexFor:1047-1052).
        // Locale.ROOT pairs with Spark's locale-independent lower().
        // The trimmed TERM matches literally — CQL LIKE has no '_'
        // wildcard and treats inner '%' as a plain character
        // (LikeRestriction only strips the leading/trailing '%'), so the
        // match lowers to startswith/endswith/contains/= rather than
        // Spark's SQL-LIKE pattern language.
        val term = pat.stripPrefix("%").stripSuffix("%")
        val servingIdx =
          if (indexServed) rankBySelectivity(servable.toSeq).headOption else None
        filters :+= (servingIdx match {
          case Some(d) if sasiTokenizing(d) =>
            // TOKENIZED matching (Expression.validateStringValue:272-308 +
            // Operation.analyzeGroup:288-338): BOTH sides pass the
            // analyzer. The stored value becomes a term stream and the op
            // applies PER TERM (any term matching suffices); the query
            // term itself tokenizes too, each token an OR'd expression —
            // LIKE 'Jean-Claude' on an analyzed PREFIX index hits the
            // terms [Jean, Claude] (SASIIndexTest analyzed-prefix cases).
            val lc = sasiTokenLowercase(d)
            val splitPat = sasiSplitPattern(d)
            val vTerms = filter(
              split(if (lc) lower(col(c)) else col(c), splitPat),
              t => length(t) > 0)
            val qTokens0 = term.split(splitPat).filter(_.nonEmpty).toSeq
            val qTokens =
              if (lc) qTokens0.map(_.toLowerCase(java.util.Locale.ROOT)) else qTokens0
            def termMatch(q: String): Column = exists(vTerms, t => likeOp match {
              case "prefix" => t.startsWith(lit(q))
              case "suffix" => t.endsWith(lit(q))
              case "contains" => t.contains(lit(q))
              case _ => t === lit(q)
            })
            // an all-punctuation term yields no tokens — no expression to
            // satisfy, no rows (the reference's analyzer emits nothing)
            if (qTokens.isEmpty) lit(false)
            else qTokens.map(termMatch).reduce(_ || _)
          case _ =>
            val (lhs, needle) =
              if (servingIdx.exists(sasiCaseInsensitive))
                (lower(col(c)), term.toLowerCase(java.util.Locale.ROOT))
              else (col(c), term)
            likeOp match {
              case "prefix" => lhs.startsWith(needle)
              case "suffix" => lhs.endsWith(needle)
              case "contains" => lhs.contains(needle)
              case _ => lhs === needle
            }
        })
      case Contains(c, v, isKey) =>
        val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
        // CONTAINS is served by a values() index (the default target of
        // CREATE INDEX on a collection), CONTAINS KEY by a keys() index
        // (index/internal/composites/CollectionKeyIndex.java / CollectionValueIndex.java)
        val indexServed = indexBudget > 0 &&
          hasIndex(s.table, c, if (isKey) Set("keys") else Set("values"))
        if (indexServed) { indexBudget -= 1; indexServedCols += c }
        else needsFiltering = true
        restricted(c) = "contains"
        filters :+= (cd.tpe match {
          case CqlList(e) if !isKey => array_contains(col(c), coerce(v, e, c))
          case CqlSet(e) if !isKey => array_contains(col(c), coerce(v, e, c))
          case CqlMap(k, _) if isKey => array_contains(map_keys(col(c)), coerce(v, k, c))
          case CqlMap(_, vv) if !isKey => array_contains(map_values(col(c)), coerce(v, vv, c))
          case _ => throw InvalidRequest(
            s"Cannot use CONTAINS on non-collection column $c")
        })
      case TokenRel(cols0, op, v) =>
        if (cols0 != td.partitionKey.map(_.name))
          throw InvalidRequest(
            s"The token function arguments must be in the partition key order: ${td.partitionKey.map(_.name).mkString(", ")}")
        val tokIns = cols0.map(c => tokenInput(td.column(c).get))
        val tok =
          if (tokIns.length == 1) F.cassandra_token(tokIns.head)
          else call_function("cassandra_token", tokIns: _*)
        val lcol = lit(v.value)
        filters :+= (op match {
          case "=" => tok === lcol
          case "<" => tok < lcol
          case "<=" => tok <= lcol
          case ">" => tok > lcol
          case ">=" => tok >= lcol
          case other => throw InvalidRequest(s"unsupported token operator $other")
        })
    }
    // partition key: all-or-nothing EQ addressing — except a component
    // served by its own 2i (a composite-pk component CAN be indexed;
    // CreateIndexStatement only rejects the ONLY pk column)
    val pkNames = td.partitionKey.map(_.name)
    val pkRestricted = pkNames.count(restricted.contains)
    if (pkNames.exists(c => restricted.contains(c) && !indexServedCols(c)) &&
        pkRestricted < pkNames.length)
      needsFiltering = true
    // clustering prefix rule: a clustering column may be restricted only if
    // all previous clustering columns have EQ restrictions; clustering
    // restrictions without full partition addressing are also filtering —
    // both waived for a restriction served by an index on that column
    // (SecondaryIndexTest: an indexed clustering column is queryable alone)
    val ckNames = td.clustering.map(_.name)
    var prevEq = true
    ckNames.foreach { c =>
      if (restricted.contains(c) && !prevEq && !indexServedCols(c)) needsFiltering = true
      prevEq = prevEq && restricted.get(c).contains("eq")
    }
    if (ckNames.exists(c => restricted.contains(c) && !indexServedCols(c)) &&
        pkRestricted < pkNames.length)
      needsFiltering = true
    if (needsFiltering && !s.allowFiltering)
      throw InvalidRequest(
        "Cannot execute this query as it might involve data filtering and thus may have unpredictable performance. " +
          "If you want to execute this query despite the performance unpredictability, use ALLOW FILTERING")
    // a partition key bound by `=` or IN, not by an index, pins the read
    var df = readCanonical(s.table,
      pinned = pkNames.forall(c => restricted.get(c).contains("eq") && !indexServedCols(c)))
    if (filters.nonEmpty) df = df.filter(filters.reduce(_ && _))

    // ORDER BY validation (SelectStatement.java:1105-1109,1213-1251)
    if (s.orderBy.nonEmpty) {
      val names = s.orderBy.map(_._1)
      if (!names.zipWithIndex.forall { case (n, i) => ckNames.lift(i).contains(n) })
        throw InvalidRequest(
          s"Order by is currently only supported on the clustered columns of the PRIMARY KEY, got ${names.mkString(", ")}")
      val dirs = s.orderBy.map(_._2).zip(td.clusteringDesc.take(s.orderBy.length))
        .map { case (desc, natDesc) => desc != natDesc }
      if (dirs.distinct.length > 1)
        throw InvalidRequest("Unsupported order by relation")
      if (!pkNames.forall(restricted.get(_).contains("eq")))
        throw InvalidRequest(
          "ORDER BY is only supported when the partition key is restricted by an EQ or an IN.")
    }

    val clusterSort: Seq[Column] = td.clustering.map(_.name).zipAll(td.clusteringDesc, "", false)
      .collect { case (n, desc) if n.nonEmpty =>
        if (desc) orderCol(td, n).desc else orderCol(td, n).asc }

    // DISTINCT (only pk + statics selectable; SelectStatement.java:1111-1134)
    if (s.distinct) {
      if (s.perPartitionLimit.nonEmpty)
        throw InvalidRequest("PER PARTITION LIMIT is not allowed with SELECT DISTINCT queries")
      val sel = s.selectors.collect { case ExprSel(ColRef(n), _) => n }
      val legal = (td.partitionKey ++ td.statics).map(_.name).toSet
      // an UNRESTRICTED distinct must request every partition key column —
      // statics alone are only addressable within named partitions
      // (SelectStatement.validateDistinctSelection)
      val pkRestricted = pkNames.forall(c => restricted.get(c).contains("eq"))
      if (!pkRestricted && !s.selectors.contains(Star) &&
          !pkNames.forall(sel.contains))
        throw InvalidRequest(
          "SELECT DISTINCT queries must request all the partition key columns")
      if (s.selectors.contains(Star) || sel.forall(legal.contains)) {
        val cols = if (s.selectors.contains(Star)) pkNames else sel
        var out = df.select(cols.map(col): _*).distinct()
          .orderBy(cols.filter(pkNames.contains).map(orderCol(td, _)): _*)
        s.limit.foreach(n => out = out.limit(checkLimit(n)))
        return out
      } else throw InvalidRequest(
        "SELECT DISTINCT queries must only request partition key columns and/or static columns")
    }

    val hasAgg = s.selectors.exists {
      case ExprSel(e, _) => containsAgg(e)
      case _ => false
    }
    if (hasAgg && s.selectors.contains(Star))
      throw InvalidRequest("Cannot mix * with aggregate functions")

    // GROUP BY validation: pk-prefix, gaps only when EQ-restricted
    // (SelectStatement.java:1145-1191); floor() buckets only on the last
    // element over a temporal column (4.1 GroupByTimeRange rules)
    if (s.groupBy.nonEmpty) {
      val pkAll = (pkNames ++ ckNames)
      var idx = 0
      s.groupBy.foreach { g =>
        if (!pkAll.contains(g.column))
          throw InvalidRequest(s"Group by is currently only supported on the columns of the PRIMARY KEY, got ${g.column}")
        var found = false
        while (!found && idx < pkAll.length) {
          if (pkAll(idx) == g.column) found = true
          else if (restricted.get(pkAll(idx)).contains("eq")) idx += 1
          else throw InvalidRequest(s"Group by currently only support groups of columns following their declared order in the PRIMARY KEY")
        }
        if (!found) throw InvalidRequest(s"Group by currently only support groups of columns following their declared order in the PRIMARY KEY")
        idx += 1
      }
      s.groupBy.dropRight(1).foreach { g =>
        if (g.floorDur.nonEmpty)
          throw InvalidRequest("Functions are only supported on the last element of the GROUP BY clause")
      }
    }

    if (hasAgg || s.groupBy.nonEmpty) {
      // aggregate-everything collapses partitions, so a per-partition
      // limit is meaningless without GROUP BY
      // (SelectStatement.getDataLimits; SelectLimitTest:154-155)
      if (s.groupBy.isEmpty && s.perPartitionLimit.nonEmpty)
        throw InvalidRequest("PER PARTITION LIMIT is not allowed with aggregate queries.")
      // grouping columns come through the groupBy itself; everything else is
      // an aggregate expression. The final select restores selector order.
      // floor()-bucketed keys materialize as derived __floor_<col> columns.
      val plainGroupNames = s.groupBy.collect { case GroupByEl(n, None, _) => n }
      var dfg = df
      val keyCols: Seq[String] = s.groupBy.map { g =>
        g.floorDur match {
          case Some(d) =>
            val kn = s"__floor_${g.column}"
            dfg = dfg.withColumn(kn, floorColumn(td, g.column, d, g.floorStart))
            kn
          case None => g.column
        }
      }
      def floorSelMatches(args: Seq[SelExpr], g: GroupByEl): Boolean = args match {
        case Seq(ColRef(n), LitRef(d)) =>
          n == g.column && g.floorDur.contains(d) && g.floorStart.isEmpty
        case Seq(ColRef(n), LitRef(d), LitRef(st)) =>
          n == g.column && g.floorDur.contains(d) && g.floorStart.contains(st)
        case _ => false
      }
      def groupKeyOf(sel: Selector): Option[String] = sel match {
        case ExprSel(ColRef(n), _)
            if s.groupBy.exists(g => g.column == n && g.floorDur.isEmpty) => Some(n)
        case ExprSel(FnCall("floor", args), _) =>
          s.groupBy.find(g => g.floorDur.nonEmpty && floorSelMatches(args, g))
            .map(g => s"__floor_${g.column}")
        case _ => None
      }
      // ORDER BY in the reversed clustering order reverses the READ the
      // groups form over (SelectGroupByTest:329-342): the "first row" of
      // each group, the group output order, and which groups a
      // per-partition limit keeps all follow the reversed iteration.
      val readReversed = s.orderBy.nonEmpty &&
        s.orderBy.head._2 != td.clusteringDesc.headOption.getOrElse(false)
      def natDescOf(cn: String): Boolean =
        td.clustering.map(_.name).zipAll(td.clusteringDesc, "", false)
          .collectFirst { case (nm, dsc) if nm == cn => dsc }.getOrElse(false)
      val aggCols = s.selectors.zipWithIndex.collect {
        case (sel @ ExprSel(e, _), i) if groupKeyOf(sel).isEmpty =>
          lowerAggExpr(td, e, s.groupBy.map(_.column), readReversed)
            .as(aggOutName(sel, i))
      }
      // grouped CLUSTERING key columns in the read-iteration direction
      // (floor() buckets inherit their source column's direction; a
      // reversed ORDER BY read flips it) — used both as the order the PPL
      // group cap walks and as trailing ORDER BY tie-breaks
      def clusteringGroupOrder(exclude: Set[String]): Seq[Column] =
        s.groupBy.zip(keyCols).collect {
          case (g, kn) if !pkNames.contains(kn) && !exclude.contains(g.column) =>
            val desc = natDescOf(g.column) != readReversed
            val c = if (g.floorDur.nonEmpty) col(kn) else orderCol(td, kn)
            if (desc) c.desc else c.asc
        }
      val keyOrder: Seq[Column] =
        if (s.orderBy.nonEmpty) {
          // explicit ORDER BY sorts group rows by the ORDER BY COLUMNS
          // THEMSELVES across all partitions — group keys where grouped,
          // the group's first-row value where only selected — then stable
          // input (ring) order (SelectStatement.orderResults;
          // SelectGroupByTest:401-415: IN (1,2,4) GROUP BY a, b ORDER BY
          // b DESC, c DESC interleaves (4,8),(2,4),(1,4),(2,2),(1,2) —
          // the b=4 tie breaks on the first-row c, 3 before 2)
          def orderVal(cn: String, c: Column): Column =
            if (td.column(cn).exists(_.tpe == CqlTimeuuid))
              F.timeuuid_sort_key(c)
            else c
          val obCols = s.orderBy.flatMap { case (cn, wantDesc) =>
            val value: Option[Column] =
              if (s.groupBy.exists(g => g.column == cn)) {
                val gi = s.groupBy.indexWhere(_.column == cn)
                val kn = keyCols(gi)
                // a floor() bucket column holds the bucket value, not the
                // source type — never re-wrap it in timeuuid_sort_key
                Some(if (s.groupBy(gi).floorDur.nonEmpty) col(kn)
                     else orderVal(cn, col(kn)))
              }
              else s.selectors.zipWithIndex.collectFirst {
                case (sel @ ExprSel(ColRef(n), _), i) if n == cn =>
                  orderVal(cn, col(aggOutName(sel, i)))
              }
            value.map(c => if (wantDesc) c.desc else c.asc)
          }
          // ring-order tie-break needs the pk columns in the grouped frame;
          // when they are EQ-restricted instead, the partition is unique
          // and no tie-break is needed
          val pkTies =
            if (pkNames.forall(keyCols.contains)) ringOrder(td, pkNames)
            else Seq.empty
          // grouped clustering columns NOT named in ORDER BY still decide
          // ties within a partition, in the reversed-read direction — the
          // grouped analog of the plain path's restPart
          obCols ++ pkTies ++ clusteringGroupOrder(s.orderBy.map(_._1).toSet)
        } else s.groupBy.zip(keyCols).map { case (g, kn) =>
          if (g.floorDur.isEmpty) orderCol(td, kn) else col(kn).asc
        }
      var out =
        if (s.groupBy.nonEmpty && aggCols.nonEmpty)
          dfg.groupBy(keyCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        else if (s.groupBy.nonEmpty)
          dfg.select(keyCols.map(col): _*).distinct()
        else dfg.agg(aggCols.head, aggCols.tail: _*)
      // PER PARTITION LIMIT under GROUP BY caps the number of GROUPS per
      // partition (DataLimits group-aware per-partition counting); it runs
      // BEFORE the final sort — its row_number window repartitions by pk,
      // which would destroy an already-applied cross-partition ORDER BY
      s.perPartitionLimit.foreach { n =>
        // EQ-restricted partition-key columns count as implicitly grouped
        // (same gap rule the GROUP BY validation above applies); being
        // constant, the remaining grouped pk columns partition equivalently
        if (!pkNames.forall(c => keyCols.contains(c) || restricted.get(c).contains("eq")))
          throw InvalidRequest(
            "PER PARTITION LIMIT with GROUP BY requires grouping by the full partition key")
        val pkPresent = pkNames.filter(keyCols.contains)
        // which groups survive follows clustering order (DESC clustering
        // yields the LAST groups), like the row-level PPL path
        val restOrder = clusteringGroupOrder(Set.empty)
        val w = Window.partitionBy(pkPresent.map(col): _*)
          .orderBy((if (restOrder.nonEmpty) restOrder else Seq(lit(1).asc)): _*)
        out = out.withColumn("_gn", row_number().over(w))
          .filter(col("_gn") <= checkLimit(n)).drop("_gn")
      }
      if (s.groupBy.nonEmpty) out = out.orderBy(keyOrder: _*)
      out = out.select(s.selectors.zipWithIndex.map {
        case (sel: ExprSel, i) => groupKeyOf(sel) match {
          case Some(kn) => col(kn).as(aggOutName(sel, i))
          case None => col(aggOutName(sel, i))
        }
        case (sel, i) => col(aggOutName(sel, i))
      }: _*)
      s.limit.foreach(n => out = out.limit(checkLimit(n)))
      return if (s.json) jsonWrap(td, s, out) else out
    }

    // plain row select: default order = pk, then clustering order
    var out = df
    s.perPartitionLimit.foreach { n =>
      val limit = checkLimit(n)
      // ORDER BY in the fully-reversed clustering order reverses the READ,
      // and per-partition limits apply to the reversed iteration
      // (SelectStatement isReversed + DataLimits): PPL 2 under ORDER BY
      // c DESC keeps the 2 LARGEST c, not the 2 smallest.
      val pplReversed = s.orderBy.nonEmpty &&
        s.orderBy.head._2 != td.clusteringDesc.headOption.getOrElse(false)
      val cl = td.clustering.map(_.name).zipAll(td.clusteringDesc, "", false)
        .collect { case (cn, desc) if cn.nonEmpty =>
          (cn, if (pplReversed) !desc else desc) }
      if (cl.isEmpty) {
        // no clustering columns → one row per partition; the (validated
        // strictly positive) limit keeps it — nothing to do
      } else if (limit > 1024) {
        // huge limits degrade the bounded buffer (O(limit) insert,
        // limit-row spill units) below the window's sort — fall back
        val sort = cl.map { case (cn, desc) =>
          if (desc) orderCol(td, cn).desc else orderCol(td, cn).asc }
        out = CqlOps.perPartitionLimit(out, pkNames, sort, limit).drop("rn")
      } else {
        // bounded top-k aggregate, not a rank window: the map-side partial
        // buffer keeps ≤ limit rows per partition key, so wide partitions
        // (the data model this engine exists for) never shuffle whole
        // (TopKRowsAgg; equality with the window form proven in
        // CqlOpsSpec). timeuuid clustering orders by the embedded-time
        // sort key — added as a transient payload column for the
        // ordinal-addressed compare.
        var base = out
        val skCols = scala.collection.mutable.ArrayBuffer.empty[String]
        val clustering = cl.map { case (cn, desc) =>
          if (td.column(cn).exists(_.tpe == CqlTimeuuid)) {
            val sk = s"_sk_$cn"
            base = base.withColumn(sk, F.timeuuid_sort_key(col(cn)))
            skCols += sk
            (sk, desc)
          } else (cn, desc)
        }
        out = CqlOps.perPartitionLimitAgg(base, pkNames, clustering, limit)
          .drop("rn").drop(skCols.toSeq: _*)
      }
    }
    val sortCols: Seq[Column] =
      if (s.orderBy.nonEmpty) {
        val reversed = s.orderBy.head._2 != td.clusteringDesc.headOption.getOrElse(false)
        // explicit ORDER BY sorts across ALL selected partitions by the
        // ORDER BY columns only (SelectStatement.orderResults;
        // SelectOrderByTest testOrderByForInClause: IN over 3 partitions
        // interleaves rows by clustering, not pk-first); ties keep the
        // coordinator's stable fetch order = ring/token order (reproduced
        // bit-exactly by cassandra_token), then the remaining clustering
        // columns in the reversed-read direction within each partition.
        val listed = s.orderBy.map(_._1).toSet
        val (obPart, restPart) = td.clustering.map(_.name)
          .zipAll(td.clusteringDesc, "", false)
          .collect { case (n, desc) if n.nonEmpty =>
            val effDesc = if (reversed) !desc else desc
            (n, if (effDesc) orderCol(td, n).desc else orderCol(td, n).asc)
          }.partition { case (n, _) => listed.contains(n) }
        obPart.map(_._2) ++ ringOrder(td, pkNames) ++ restPart.map(_._2)
      } else pkNames.map(orderCol(td, _).asc) ++ clusterSort
    out = out.orderBy(sortCols: _*)

    val projected = out.select(s.selectors.flatMap(lowerRowSelector(td, _)): _*)
    var res = projected
    s.limit.foreach(n => res = res.limit(checkLimit(n)))
    if (s.json) res = jsonWrap(td, s, res)
    res
  }

  /** SELECT JSON projection (applied to plain AND aggregate selects): renders
    * each column in its CQL toJson form (Json.java) — timestamps as
    * "yyyy-mm-dd HH:mm:ss.SSSZ" strings, time as the literal form, blobs as
    * 0x-hex — not Spark's default JSON encoding.
    */
  private def jsonWrap(td: TableDef, s: Select, res: DataFrame): DataFrame = {
    val outTypes: Seq[Option[CqlType]] = s.selectors.flatMap {
      case Star => td.cqlOrder.map(c => Some(c.tpe))
      case ExprSel(e2, _) => Seq(exprType(td, e2))
    }
    val jsonCols = res.columns.zip(outTypes).map { case (n, t) =>
      (t match {
        case Some(CqlTimestamp) => date_format(col(n), "yyyy-MM-dd HH:mm:ss.SSS'Z'")
        case Some(CqlTime) => timeText(col(n))
        case Some(CqlBlob) => concat(lit("0x"), lower(hex(col(n))))
        case _ => col(n)
      }).as(n)
    }
    res.select(to_json(struct(jsonCols: _*)).as("[json]"))
  }

  /** Coordinator fetch-order (ring) tie-break: the bit-exact murmur3 token
    * first, then the pk values. For partition-key types the token
    * expression doesn't serialize (decimal/varint/...), the token term is
    * dropped and ring order degrades to pk-VALUE order — a documented
    * deviation preferred over refusing the ORDER BY outright.
    */
  private def ringOrder(td: TableDef, pkNames: Seq[String]): Seq[Column] = {
    val tok =
      try Some(call_function("cassandra_token", td.partitionKey.map(tokenInput): _*))
      catch {
        case e: InvalidRequest =>
          // a map pk can neither token nor sort in Spark — keep the
          // targeted token error rather than an opaque analysis failure
          if (td.partitionKey.exists(_.tpe.isInstanceOf[CqlMap])) throw e
          None
      }
    tok.map(_.asc).toSeq ++ pkNames.map(orderCol(td, _).asc)
  }

  /** Column pre-serialized to the type's CQL wire bytes where the token
    * expression doesn't natively cover the Spark type — the Murmur3
    * partitioner hashes the marshal serialization (8-byte millis for
    * timestamps, 16-byte uuids, 2^31-centered day counts, ...).
    */
  private def tokenInput(cd: ColumnDef): Column = cd.tpe match {
    case CqlInt | CqlBigint | CqlText | CqlAscii | CqlBlob => col(cd.name)
    case CqlTimestamp => call_function("bigint_as_blob", unix_millis(col(cd.name)))
    case CqlTime | CqlCounter => call_function("bigint_as_blob", col(cd.name))
    case CqlSmallint => call_function("smallint_as_blob", col(cd.name))
    case CqlTinyint => call_function("tinyint_as_blob", col(cd.name))
    case CqlDouble => call_function("double_as_blob", col(cd.name))
    case CqlFloat => call_function("float_as_blob", col(cd.name))
    case CqlBoolean => call_function("boolean_as_blob", col(cd.name))
    case CqlUuid | CqlTimeuuid => call_function("uuid_as_blob", col(cd.name))
    case CqlDate => call_function("date_as_blob", unix_date(col(cd.name)))
    case other => throw InvalidRequest(s"token() is not supported on type ${other.name}")
  }

  private def isTemporal(t: Option[CqlType]): Boolean =
    t.contains(CqlTimestamp) || t.contains(CqlDate)

  /** nanos-of-day → CQL time literal text (TimeSerializer format). */
  private def timeText(n: Column): Column =
    format_string("%02d:%02d:%02d.%09d",
      (n / lit(3600000000000L)).cast("long"),
      (n / lit(60000000000L)).cast("long") % 60,
      (n / lit(1000000000L)).cast("long") % 60, n % lit(1000000000L))

  /** duration struct → calendar interval (nanos narrow to micros). */
  private def durInterval(d: Column): Column =
    make_interval(lit(0), d("months"), lit(0), d("days"), lit(0), lit(0),
      d("nanos").cast("decimal(38,9)") / lit(1000000000L))

  /** Sort expression honoring the column type's comparator: timeuuid orders
    * by embedded time (sort key), everything else by its Spark-native order.
    */
  private def orderCol(td: TableDef, n: String): Column =
    if (td.column(n).exists(_.tpe == CqlTimeuuid)) F.timeuuid_sort_key(col(n)) else col(n)

  private def aggOutName(sel: Selector, idx: Int): String = sel match {
    case ExprSel(e, alias) => alias.getOrElse(exprName(e))
    case Star => s"_sel_$idx"
  }

  private def checkLimit(l: Literal): Int = l match {
    case IntLit(n) =>
      if (n <= 0) throw InvalidRequest("LIMIT must be strictly positive")
      n.toInt
    case BindMarker(i) => throw InvalidRequest(s"unbound marker $i in LIMIT")
    case other => throw InvalidRequest(s"Invalid limit ${other.value}")
  }

  private def lowerRowSelector(td: TableDef, sel: Selector): Seq[Column] = sel match {
    case Star => td.cqlOrder.map(c => col(c.name))
    case ExprSel(e, alias) =>
      if (containsAgg(e)) throw InvalidRequest("aggregate in non-aggregate select")
      Seq(lowerExpr(td, e, null).as(alias.getOrElse(exprName(e))))
  }

  private def requireCell(td: TableDef, c: String, fn: String): Unit = {
    val cd = td.column(c).getOrElse(throw InvalidRequest(s"Undefined column name $c"))
    if (cd.kind == PartitionKey || cd.kind == Clustering)
      throw InvalidRequest(s"Cannot use selection function $fn on PRIMARY KEY part $c")
    cd.tpe match {
      // multi-cell collections get per-element list selectors
      // (CASSANDRA-8877 / WritetimeOrTTLSelector); map-valued elements
      // have no cell-metadata shadow (no Spark equality)
      case CqlSet(e) if hasMapValue(e) =>
        throw InvalidRequest(s"Cannot use selection function $fn on sets of maps")
      case CqlMap(k, _) if hasMapValue(k) =>
        throw InvalidRequest(s"Cannot use selection function $fn on map-keyed maps")
      case CqlList(e) if hasMapValue(e) =>
        throw InvalidRequest(s"Cannot use selection function $fn on lists of maps")
      case _ => ()
    }
  }

  // ── selection expression lowering ─────────────────────────────────────
  private val aggFnNames = Set("count", "sum", "avg", "min", "max")

  private def containsAgg(e: SelExpr): Boolean = e match {
    case FnCall(f, args) => aggFnNames.contains(f) ||
      objKeyOpt(f).exists(udas.contains) || args.exists(containsAgg)
    case CastCall(x, _) => containsAgg(x)
    case Arith(_, l, r) => containsAgg(l) || containsAgg(r)
    case Neg(x) => containsAgg(x)
    case CollectionCtor(_, items) => items.exists(containsAgg)
    case MapCtor(ps) => ps.exists { case (k, v) => containsAgg(k) || containsAgg(v) }
    case _ => false
  }

  /** Deterministic output name mirroring the reference's generated selector
    * names where the old surface had them (`system_max_a`, `count`, ...).
    */
  private def exprName(e: SelExpr): String = e match {
    case ColRef(n) => n
    case LitRef(l) => String.valueOf(l.value)
    case StarRef => "*"
    case FnCall("count", Seq(StarRef)) => "count"
    case FnCall(f, args) => s"system_${f}_${args.map(exprName).mkString("_")}"
    case CastCall(x, t) => s"cast_${exprName(x)}_as_${t.name.replaceAll("[<>, ]", "_")}"
    case Arith(op, l, r) =>
      val o = op match {
        case "+" => "plus"; case "-" => "minus"; case "*" => "times"
        case "/" => "div"; case "%" => "mod"
      }
      s"${exprName(l)}_${o}_${exprName(r)}"
    case Neg(x) => s"neg_${exprName(x)}"
    case ElementRef(n, k) => s"$n[${k.value}]"
    case FieldRef(n, f) => s"$n.$f"
    case SliceRef(n, f, t) =>
      s"$n[${f.map(x => String.valueOf(x.value)).getOrElse("")}..${t.map(x => String.valueOf(x.value)).getOrElse("")}]"
    case CollectionCtor(k, items) => s"${k}_${items.map(exprName).mkString("_")}"
    case MapCtor(ps) => s"map_${ps.map(p => exprName(p._1)).mkString("_")}"
  }

  /** CQL numeric type promotion for arithmetic (OperationFcts.java:36-185):
    * decimal > double > float > varint > bigint > int > smallint > tinyint.
    */
  private def promote(a: CqlType, b: CqlType): CqlType = {
    def rank(t: CqlType): Int = t match {
      case CqlTinyint => 0; case CqlSmallint => 1; case CqlInt => 2
      case CqlBigint | CqlCounter | CqlTime => 3; case CqlVarint => 4
      case CqlFloat => 5; case CqlDouble => 6; case CqlDecimal => 7
      case _ => -1
    }
    if (rank(a) < 0 || rank(b) < 0)
      throw InvalidRequest(s"Invalid arithmetic between ${a.name} and ${b.name}")
    if (rank(a) >= rank(b)) a else b
  }

  private def exprType(td: TableDef, e: SelExpr): Option[CqlType] = e match {
    case ColRef(n) => td.column(n).map(_.tpe)
    case LitRef(IntLit(v)) => Some(if (v.isValidInt) CqlInt else CqlBigint)
    case LitRef(DoubleLit(_)) => Some(CqlDouble)
    case LitRef(StringLit(_)) => Some(CqlText)
    case LitRef(BoolLit(_)) => Some(CqlBoolean)
    case LitRef(UuidLit(_)) => Some(CqlUuid)
    case LitRef(BlobLit(_)) => Some(CqlBlob)
    case LitRef(DurationLit(_, _, _)) => Some(CqlDuration)
    case LitRef(_) | StarRef => None
    case CastCall(_, t) => Some(t)
    case Neg(x) => exprType(td, x)
    case Arith(_, l, r) if isTemporal(exprType(td, l)) && exprType(td, r).contains(CqlDuration) =>
      exprType(td, l)
    case Arith(_, l, r) if exprType(td, l).contains(CqlDuration) && isTemporal(exprType(td, r)) =>
      exprType(td, r)
    case Arith(_, l, r) =>
      for { a <- exprType(td, l); b <- exprType(td, r) } yield promote(a, b)
    case ElementRef(n, _) => td.column(n).map(_.tpe).collect {
      case CqlMap(_, v) => v
      case CqlList(el) => el
    }
    case FieldRef(n, f) => td.column(n).map(_.tpe).collect {
      case CqlUdt(_, fields) => fields.collectFirst { case (`f`, t) => t }
    }.flatten
    case SliceRef(n, _, _) => td.column(n).map(_.tpe)
    case CollectionCtor(_, _) | MapCtor(_) => None
    case FnCall(f, args) => f match {
      case "writetime" => args.headOption.flatMap(exprType(td, _)) match {
        case Some(CqlList(_) | CqlSet(_) | CqlMap(_, _)) => Some(CqlList(CqlBigint))
        case _ => Some(CqlBigint)
      }
      case "count" | "tounixtimestamp" | "unixtimestampof" | "token" => Some(CqlBigint)
      case "sum" | "min" | "max" | "avg" => args.headOption.flatMap(exprType(td, _))
      case "ttl" => args.headOption.flatMap(exprType(td, _)) match {
        case Some(CqlList(_) | CqlSet(_) | CqlMap(_, _)) => Some(CqlList(CqlInt))
        case _ => Some(CqlInt)
      }
      case "now" | "currenttimeuuid" | "mintimeuuid" | "maxtimeuuid" => Some(CqlTimeuuid)
      case "floor" => args.headOption.flatMap(exprType(td, _)).map {
        case CqlDate => CqlDate
        case CqlTime => CqlTime
        case _ => CqlTimestamp
      }
      case "currenttimestamp" | "totimestamp" | "dateof" => Some(CqlTimestamp)
      case "currentdate" | "todate" => Some(CqlDate)
      case "currenttime" => Some(CqlTime)
      case "uuid" => Some(CqlUuid)
      case other => objKeyOpt(other).flatMap(k => udfs.get(k).map(_.returns)
        .orElse(udas.get(k).map(u =>
          u.finalFunc.flatMap(udfs.get).map(_.returns).getOrElse(u.stype))))
    }
  }

  /** Statement-evaluation-time millis ("now"); pinned by tests via
    * [[nowMicros]] (reference: now()-family functions evaluate once per
    * statement — cql3/functions/TimeFcts).
    */
  private def nowMs: Long =
    if (nowMicros > 0) nowMicros / 1000 else System.currentTimeMillis()

  /** Monotonic 100ns-tick counter behind now()/currenttimeuuid(): repeated
    * calls within the same millisecond advance one tick each, so every call
    * yields a DISTINCT v1 uuid (the reference guarantees per-call uniqueness
    * via UUIDGen's clock-seq/node + tick counter). Stays test-pinnable: the
    * first call at a pinned [[nowMicros]] embeds exactly that millisecond,
    * and up to 10,000 calls/ms stay inside it.
    */
  private var lastNowTicks: Long = 0L
  private def nextNowTimeUuid(): String = {
    val base = graft.functions.TimeUuid.ticksAtMillis(nowMs)
    val ticks = if (base > lastNowTicks) base else lastNowTicks + 1
    lastNowTicks = ticks
    graft.functions.TimeUuid.fromTicks(ticks, graft.functions.TimeUuid.GeneratedClockSeqAndNode)
  }

  /** Millis-since-epoch column of a timestamp/timeuuid/date-typed arg
    * (shared by the TimeFcts conversions).
    */
  private def millisOf(td: TableDef, e: SelExpr, lower: SelExpr => Column): Column = {
    val c = lower(e)
    exprType(td, e) match {
      case Some(CqlTimestamp) => unix_millis(c)
      case Some(CqlTimeuuid) => F.timeuuid_unix_millis(c)
      case Some(CqlDate) => unix_date(c).cast("long") * lit(86400000L)
      case Some(CqlBigint) | Some(CqlInt) => c.cast("long")
      case Some(CqlText) => e match {
        case LitRef(StringLit(s0)) => lit(vv(CqlValues.parseTimestampMillis(s0)))
        case _ => throw InvalidRequest("cannot interpret text column as timestamp")
      }
      case other => throw InvalidRequest(s"Invalid temporal argument of type ${other.map(_.name).getOrElse("?")}")
    }
  }

  /** floor(col, duration[, start]) — time-bucket floor (Cassandra 4.1
    * CASSANDRA-11871, TimeFcts floor family; forward-port — the reference
    * snapshot predates 4.1). Precise durations bucket as
    * `start + floor((v-start)/d)*d`, computed with pmod so values before
    * `start` still floor mathematically (the reference errors per-row there
    * — documented narrowing). Month durations bucket on calendar months from
    * the epoch; mixing months with day/sub-day parts is rejected.
    */
  private def floorColumn(td: TableDef, cn: String, dur: Literal,
                          start: Option[Literal]): Column = {
    val cd = td.column(cn).getOrElse(throw InvalidRequest(s"Undefined column name $cn"))
    val (months, days, nanos) = dur match {
      case DurationLit(mo, d, n) => (mo, d, n)
      // bound markers deliver durations as strings ("12h", "1mo")
      case StringLit(s0) => CqlValues.parseDuration(s0).getOrElse(
        throw InvalidRequest(s"Invalid duration '$s0' in floor()"))
      case other => throw InvalidRequest(s"floor() expects a duration literal, got $other")
    }
    if (months < 0 || days < 0 || nanos < 0)
      throw InvalidRequest("Negative durations are not allowed in floor()")
    cd.tpe match {
      case CqlTime =>
        if (months != 0 || days != 0)
          throw InvalidRequest("floor() on a time column requires a sub-day duration")
        if (start.nonEmpty)
          throw InvalidRequest("floor() on a time column does not accept a custom start")
        if (nanos <= 0) throw InvalidRequest("floor() duration must be positive")
        col(cn) - pmod(col(cn), lit(nanos))
      case t @ (CqlTimestamp | CqlDate | CqlTimeuuid) =>
        val ms: Column = t match {
          case CqlTimestamp => unix_millis(col(cn))
          case CqlDate => unix_date(col(cn)).cast("long") * lit(86400000L)
          case _ => F.timeuuid_unix_millis(col(cn))
        }
        val startMs: Long = start.map {
          case IntLit(v) => v
          case StringLit(s0) => vv(CqlValues.parseTimestampMillis(s0)).asInstanceOf[Long]
          case UuidLit(u) => graft.functions.TimeUuid.unixMillisOf(u)
          case other => throw InvalidRequest(s"Invalid floor() start ${other.value}")
        }.getOrElse(0L)
        if (months > 0) {
          if (days != 0 || nanos != 0)
            throw InvalidRequest("floor() durations mixing months with days/sub-day parts are not supported")
          if (startMs != 0L)
            throw InvalidRequest("floor() month durations do not accept a custom start")
          val tc = timestamp_millis(ms)
          val monthsSince = (year(tc) - lit(1970)) * lit(12) + month(tc) - lit(1)
          val bm = monthsSince - pmod(monthsSince, lit(months))
          val y = lit(1970) + ((bm - pmod(bm, lit(12))) / lit(12)).cast("int")
          val mo = pmod(bm, lit(12)) + lit(1)
          val res = to_timestamp(make_date(y, mo, lit(1)))
          if (t == CqlDate) res.cast(DateType) else res
        } else {
          val dm = days * 86400000L + nanos / 1000000L
          if (dm <= 0) throw InvalidRequest("floor() duration must be at least 1 millisecond")
          val floored = ms - pmod(ms - lit(startMs), lit(dm))
          if (t == CqlDate) timestamp_millis(floored).cast(DateType)
          else timestamp_millis(floored)
        }
      case other => throw InvalidRequest(s"floor() is not supported on type ${other.name}")
    }
  }

  /** Lower one expression node; `rec` lowers children (scalar or aggregate
    * context — the shared scalar-function dispatch stays identical).
    */
  private def lowerExpr(td: TableDef, e: SelExpr, rec0: SelExpr => Column): Column = {
    val rec: SelExpr => Column = if (rec0 == null) lowerExpr(td, _, null) else rec0
    e match {
      case ColRef(n) =>
        if (td.column(n).isEmpty) throw InvalidRequest(s"Undefined column name $n")
        col(n)
      case LitRef(IntLit(v)) => if (v.isValidInt) lit(v.toInt) else lit(v)
      case LitRef(DurationLit(mo, d, n)) =>
        struct(lit(mo).as("months"), lit(d).as("days"), lit(n).as("nanos"))
      case LitRef(NullLit) => lit(null)
      case LitRef(BindMarker(i)) => throw InvalidRequest(s"unbound marker $i")
      case LitRef(l) => lit(l.value)
      case StarRef => throw InvalidRequest("* is only valid in count(*)")
      case ElementRef(n, key) =>
        val cd = td.column(n).getOrElse(throw InvalidRequest(s"Undefined column name $n"))
        cd.tpe match {
          case CqlMap(k, _) => element_at(col(n), lit(coerce(key, k, n)))
          case CqlList(_) =>
            // CQL list indexes are 0-based; Spark element_at is 1-based
            element_at(col(n), lit(key.value.asInstanceOf[Long].toInt + 1))
          case other => throw InvalidRequest(s"Invalid element selection on $n of type ${other.name}")
        }
      case SliceRef(n, fromK, toK) =>
        // key/element-range sub-collection (ElementsSelector slice); empty
        // results read back null like every CQL collection
        val cd = td.column(n).getOrElse(throw InvalidRequest(s"Undefined column name $n"))
        def bounds(t: CqlType, x: Column): Column = {
          val lo = fromK.map(l => x >= lit(coerce(l, t, n))).getOrElse(lit(true))
          val hi = toK.map(l => x <= lit(coerce(l, t, n))).getOrElse(lit(true))
          lo && hi
        }
        val sliced = cd.tpe match {
          case CqlMap(k, _) => map_filter(col(n), (key, _) => bounds(k, key))
          case CqlSet(e) => filter(col(n), el => bounds(e, el))
          case other => throw InvalidRequest(
            s"Invalid slice selection on $n of type ${other.name} (only set/map)")
        }
        when(size(sliced) > 0, sliced)
      case FieldRef(n, f) =>
        val cd = td.column(n).getOrElse(throw InvalidRequest(s"Undefined column name $n"))
        cd.tpe match {
          case CqlUdt(tn, fields) =>
            if (!fields.exists(_._1 == f))
              throw InvalidRequest(s"Unknown field '$f' in user defined type $tn")
            col(n).getField(f)
          case other => throw InvalidRequest(
            s"Invalid field selection: $n of type ${other.name} is not a user type")
        }
      // collection/tuple constructors in selection (ListSelector/
      // SetSelector/MapSelector/TupleSelector): sets sort+dedup like stored
      // sets, tuples take positional struct fields like stored tuples
      case CollectionCtor("list", items) => array(items.map(rec): _*)
      case CollectionCtor("set", items) =>
        array_sort(array_distinct(array(items.map(rec): _*)))
      case CollectionCtor("tuple", items) =>
        struct(items.zipWithIndex.map { case (it, i) => rec(it).as(s"f$i") }: _*)
      case CollectionCtor(k, _) => throw InvalidRequest(s"unknown constructor $k")
      case MapCtor(pairs) =>
        map(pairs.flatMap { case (k, v) => Seq(rec(k), rec(v)) }: _*)
      case CastCall(x, t @ (CqlText | CqlAscii)) =>
        // cast-to-text produces the CQL literal form (CastAsTextFunction →
        // serializer.toCQLLiteral), not Spark's default rendering, where
        // the two differ
        exprType(td, x) match {
          case Some(CqlTimestamp) =>
            date_format(rec(x), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
          case Some(CqlTime) => timeText(rec(x))
          case Some(CqlDecimal) =>
            // our decimals carry a fixed scale of 18; the CQL literal drops
            // the zero tail (BigDecimal.toPlainString of the exact value)
            regexp_replace(regexp_replace(rec(x).cast(sparkType(t)),
              lit("(\\.\\d*?)0+$"), lit("$1")), lit("\\.$"), lit(""))
          case _ => rec(x).cast(sparkType(t))
        }
      case CastCall(x, t) => rec(x).cast(sparkType(t))
      case Neg(x) => -rec(x)
      case Arith(op @ ("+" | "-"), l, r)
          if isTemporal(exprType(td, l)) && exprType(td, r).contains(CqlDuration) =>
        // ts ± duration (OperationFcts temporal arithmetic): months/days go
        // through a calendar interval so month lengths are honored; nanos
        // narrow to micros (documented in SURVEY §1.2)
        val iv = durInterval(rec(r))
        val base = rec(l)
        val res = if (op == "+") base.cast(TimestampType) + iv else base.cast(TimestampType) - iv
        if (exprType(td, l).contains(CqlDate)) res.cast(DateType) else res
      case Arith("+", l, r)
          if exprType(td, l).contains(CqlDuration) && isTemporal(exprType(td, r)) =>
        val res = rec(r).cast(TimestampType) + durInterval(rec(l))
        if (exprType(td, r).contains(CqlDate)) res.cast(DateType) else res
      case Arith(op, l, r) =>
        val (lc, rc) = (rec(l), rec(r))
        val rt = for { a <- exprType(td, l); b <- exprType(td, r) } yield promote(a, b)
        val integral = rt.exists {
          case CqlTinyint | CqlSmallint | CqlInt | CqlBigint | CqlCounter | CqlTime => true
          case _ => false
        }
        val raw = op match {
          case "+" => lc + rc
          case "-" => lc - rc
          case "*" => lc * rc
          case "%" => lc % rc
          // CQL integer division truncates toward zero in the operand type
          case "/" if integral => call_function("cql_div", lc, rc)
          case "/" => lc / rc
        }
        rt.map(t => raw.cast(sparkType(t))).getOrElse(raw)
      // ── engine-resolved selectors ──
      // multi-cell collection writetime/ttl return per-element LISTS
      // (CASSANDRA-8877 forward-port; lists are position-keyed through the
      // zipped listMeta fold)
      case FnCall("writetime", Seq(ColRef(c))) =>
        requireCell(td, c, "writetime")
        td.column(c).map(_.tpe) match {
          case Some(CqlList(_) | CqlSet(_) | CqlMap(_, _)) => col("_wtl_" + c)
          case _ => col("_wt_" + c)
        }
      case FnCall("ttl", Seq(ColRef(c))) =>
        requireCell(td, c, "ttl")
        td.column(c).map(_.tpe) match {
          case Some(CqlList(_) | CqlSet(_) | CqlMap(_, _)) => col("_ttlrl_" + c)
          case _ => col("_ttlr_" + c)
        }
      case FnCall("token", args) if args.nonEmpty =>
        val ins = args.map {
          case ColRef(cn) => tokenInput(td.column(cn).getOrElse(
            throw InvalidRequest(s"Undefined column name $cn")))
          case other => rec(other)
        }
        if (ins.length == 1) F.cassandra_token(ins.head)
        else call_function("cassandra_token", ins: _*)
      // ── TimeFcts (reference cql3/functions/TimeFcts.java) ──
      case FnCall("now", Seq()) | FnCall("currenttimeuuid", Seq()) =>
        lit(nextNowTimeUuid())
      case FnCall("currenttimestamp", Seq()) => lit(CqlValues.timestampOf(nowMs))
      case FnCall("currentdate", Seq()) =>
        lit(java.sql.Date.valueOf(java.time.Instant.ofEpochMilli(nowMs)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate))
      case FnCall("currenttime", Seq()) =>
        lit(java.time.Instant.ofEpochMilli(nowMs).atZone(java.time.ZoneOffset.UTC)
          .toLocalTime.toNanoOfDay)
      case FnCall("totimestamp", Seq(a)) => timestamp_millis(millisOf(td, a, rec))
      case FnCall("dateof", Seq(a)) => timestamp_millis(millisOf(td, a, rec))
      case FnCall("todate", Seq(a)) => timestamp_millis(millisOf(td, a, rec)).cast(DateType)
      case FnCall("tounixtimestamp", Seq(a)) => millisOf(td, a, rec)
      case FnCall("unixtimestampof", Seq(a)) => millisOf(td, a, rec)
      case FnCall("mintimeuuid", Seq(a)) => F.min_timeuuid(millisOf(td, a, rec))
      case FnCall("maxtimeuuid", Seq(a)) => F.max_timeuuid(millisOf(td, a, rec))
      case FnCall("floor", ColRef(n) +: rest) if rest.nonEmpty =>
        val (d, st) = rest match {
          case Seq(LitRef(dl)) => (dl, None)
          case Seq(LitRef(dl), LitRef(sl)) => (dl, Some(sl))
          case _ => throw InvalidRequest("Invalid arguments to floor()")
        }
        floorColumn(td, n, d, st)
      case FnCall("uuid", Seq()) => call_function("uuid_v4")
      // blob conversion family (BytesConversionFcts) — CQL camelCase names
      // map onto the registered snake_case udfs
      case FnCall(BlobFn(sparkFn), args) => call_function(sparkFn, args.map(rec): _*)
      case FnCall(f, _) if aggFnNames.contains(f) ||
          objKeyOpt(f).exists(udas.contains) =>
        throw InvalidRequest(s"aggregate function $f in scalar context")
      case FnCall(f, args) if objKeyOpt(f).exists(udfs.contains) =>
        val fkey = objKey(f)
        val fd = udfs(fkey)
        if (args.length != fd.args.length)
          throw InvalidRequest(s"Invalid number of arguments for function $f " +
            s"(expected ${fd.args.length}, got ${args.length})")
        // column arguments must match the declared signature exactly —
        // CQL function resolution has no implicit numeric widening
        // (FunctionResolver.java:163); literals stay lenient (they are
        // assigned by receiver context, like everywhere else in CQL)
        args.zip(fd.args).foreach {
          case (ColRef(n), (_, declared)) =>
            td.column(n).map(_.tpe).foreach { actual =>
              if (actual.name != declared.name)
                throw InvalidRequest(s"Invalid call to function $f, none of its " +
                  s"type signatures match (known type signatures: $fkey : " +
                  s"(${fd.args.map(_._2.name).mkString(", ")}) -> ${fd.returns.name})")
            }
          case _ => ()
        }
        call_function(sparkFnName(fkey), args.map(rec): _*)
      case FnCall(f, _) => throw InvalidRequest(s"Unknown function '$f'")
    }
  }

  /** CQL camelCase → registered snake_case blob-conversion names. */
  private object BlobFn {
    private val all: Map[String, String] = (Seq("int", "bigint", "double",
      "float", "boolean", "text").flatMap { t =>
        Seq(s"${t}asblob" -> s"${t}_as_blob", s"blobas$t" -> s"blob_as_$t")
      }).toMap
    def unapply(name: String): Option[String] = all.get(name)
  }

  /** CQL-typed aggregates (AggregateFcts.java): sum keeps the argument type
    * (wrapping), avg over integer types truncates, count is bigint, empty
    * input sums/avgs are 0 (not null). Non-aggregated columns return the
    * first row in clustering order (min_by over the clustering struct).
    * Scalar functions and arithmetic compose over aggregates
    * (e.g. max(a) - min(a), todate(max(ts))).
    */
  private def lowerAggExpr(td: TableDef, e: SelExpr, groupBy: Seq[String],
                           reversed: Boolean = false): Column = {
    // "first row" = first in SELECTION order; a DESC-clustered table's
    // first row is the max of the clustering struct (single-direction
    // tables only — mixed ASC/DESC clustering falls back to ascending).
    // A reversed ORDER BY read flips which end is "first".
    lazy val allDesc = td.clustering.nonEmpty && td.clusteringDesc.nonEmpty &&
      td.clusteringDesc.forall(identity)
    lazy val firstRowOrd =
      if (td.clustering.nonEmpty) struct(td.clustering.map(c => orderCol(td, c.name)): _*)
      else struct(td.partitionKey.map(c => orderCol(td, c.name)): _*)
    def firstBy(v: Column): Column =
      if (allDesc != reversed) max_by(v, firstRowOrd) else min_by(v, firstRowOrd)
    // AbstractFunctionSelector.java:52 — aggregation of aggregation is
    // not supported; arithmetic OVER aggregates (max(a) - min(a)) is fine,
    // so the guard sits only on aggregate ARGUMENT positions
    def noNestedAgg(a: SelExpr): SelExpr = {
      if (containsAgg(a))
        throw InvalidRequest(
          "aggregate functions cannot be used as arguments of aggregate functions")
      a
    }
    def rec(x: SelExpr): Column = x match {
      case FnCall("count", Seq(StarRef)) => count(lit(1))
      case FnCall("count", Seq(a0)) => count(lowerExpr(td, noNestedAgg(a0), null))
      case FnCall("sum", Seq(a0)) =>
        val a = noNestedAgg(a0)
        val s = coalesce(sum(lowerExpr(td, a, null)), lit(0))
        exprType(td, a).map(t => s.cast(sparkType(t))).getOrElse(s)
      case FnCall("avg", Seq(a0)) =>
        val a = noNestedAgg(a0)
        val c = lowerExpr(td, a, null)
        val t = exprType(td, a)
        val raw = t match {
          case Some(CqlInt | CqlBigint | CqlSmallint | CqlTinyint | CqlCounter) =>
            // integer avg truncates TOWARD ZERO (AggregateFcts Java division
            // semantics) — floor would round negative averages down
            call_function("cql_div", coalesce(sum(c), lit(0)), greatest(count(c), lit(1)))
          case _ => coalesce(avg(c), lit(0.0))
        }
        t.map(tt => raw.cast(sparkType(tt))).getOrElse(raw)
      case FnCall("min", Seq(a0)) =>
        val a = noNestedAgg(a0)
        val c = lowerExpr(td, a, null)
        // timeuuids order by embedded time, not by their string form
        // (TimeUUIDType comparator; AggregateFcts min/max use the type's)
        if (exprType(td, a).contains(CqlTimeuuid))
          min_by(c, call_function("timeuuid_sort_key", c))
        else min(c)
      case FnCall("max", Seq(a0)) =>
        val a = noNestedAgg(a0)
        val c = lowerExpr(td, a, null)
        if (exprType(td, a).contains(CqlTimeuuid))
          max_by(c, call_function("timeuuid_sort_key", c))
        else max(c)
      case FnCall(f, args) if objKeyOpt(f).exists(udas.contains) =>
        // user aggregate = fold of the SFUNC body over values in clustering
        // order (UDAggregate.java:44-120). The body is a SQL expression, so
        // it textually inlines into an aggregate() lambda — all codegen, no
        // per-row interpretation.
        val u = udas(objKey(f))
        val cns: Seq[String] = args.map {
          case ColRef(n) =>
            if (td.column(n).isEmpty) throw InvalidRequest(s"Undefined column name $n")
            n
          case other => throw InvalidRequest(
            s"User aggregate $f takes column arguments, got $other")
        }
        if (cns.length != u.argTypes.length)
          throw InvalidRequest(s"Invalid number of arguments for user aggregate $f: " +
            s"expected ${u.argTypes.length}, got ${cns.length}")
        // exact signature match on column arguments, like scalar UDFs
        // (FunctionResolver.java:163 — no implicit widening)
        cns.zip(u.argTypes).foreach { case (n, declared) =>
          td.column(n).map(_.tpe).foreach { actual =>
            if (actual.name != declared.name)
              throw InvalidRequest(s"Invalid call to function $f, none of its " +
                s"type signatures match (known type signatures: ${objKey(f)} : " +
                s"(${u.argTypes.map(_.name).mkString(", ")}) -> ${u.stype.name})")
          }
        }
        val sf = udfs(u.sfunc)
        val stateSql = sparkType(u.stype).sql
        val init = u.initCond.map(l => sqlLit(coerce(l, u.stype, f))).getOrElse("NULL")
        // fold order = the rows' SELECTION order: clustering columns in
        // their declared directions (DESC tables fold descending), each
        // flipped when a reversed ORDER BY read flips the iteration —
        // same rule as firstBy above
        val ordSpecs =
          if (td.clustering.nonEmpty)
            td.clustering.map(_.name).zipAll(td.clusteringDesc, "", false)
              .collect { case (n, desc) if n.nonEmpty => n -> (desc != reversed) }
          else td.partitionKey.map(_.name -> false)
        val cmp = ordSpecs.map { case (n, desc) =>
          val (lt, gt) = if (desc) (1, -1) else (-1, 1)
          s"WHEN l.$n < r.$n THEN $lt WHEN l.$n > r.$n THEN $gt"
        }.mkString(" ")
        val valAliases = cns.indices.map(i => s"_v$i")
        val valFields = cns.zip(valAliases).map { case (c, a) => s"$c AS $a" }
        val collected =
          s"array_sort(collect_list(struct(${ordSpecs.map(_._1).mkString(", ")}, " +
            s"${valFields.mkString(", ")})), (l, r) -> CASE $cmp ELSE 0 END)"
        val rawBody = substParams(sf.exprBody,
          (sf.args(0)._1 -> "acc") +:
            valAliases.zipWithIndex.map { case (a, i) => sf.args(i + 1)._1 -> s"x.$a" })
        // RETURNS NULL ON NULL INPUT sfunc: a null in ANY argument skips
        // the call, leaving the state unchanged (UDAggregate contract)
        val anyNull = valAliases.map(a => s"x.$a IS NULL").mkString(" OR ")
        val sBody =
          if (sf.returnsNullOnNull)
            s"CASE WHEN $anyNull THEN acc ELSE CAST(($rawBody) AS $stateSql) END"
          else s"CAST(($rawBody) AS $stateSql)"
        val finBody = u.finalFunc.map { fn =>
          val ff = udfs(fn)
          s"CAST((${substParams(ff.exprBody, Seq(ff.args(0)._1 -> "acc"))}) AS ${sparkType(ff.returns).sql})"
        }.getOrElse("acc")
        expr(s"aggregate($collected, CAST($init AS $stateSql), (acc, x) -> $sBody, acc -> $finBody)")
      case ColRef(n) if groupBy.contains(n) => first(col(n))
      case ColRef(n) =>
        // first-row-in-clustering-order semantics for mixed selects
        if (td.column(n).isEmpty) throw InvalidRequest(s"Undefined column name $n")
        firstBy(col(n))
      case ElementRef(_, _) | FieldRef(_, _) | SliceRef(_, _, _) |
           FnCall("writetime", _) | FnCall("ttl", _) =>
        firstBy(lowerExpr(td, x, null))
      case other => lowerExpr(td, other, rec)
    }
    rec(e)
  }
}

/** App-wide completed-task counter behind `system_views.thread_pools`
  * (the reference's ThreadPoolsTable "completed" gauge,
  * `db/virtual/ThreadPoolsTable.java`): the public SparkStatusTracker has
  * no all-time counter, so one listener per application accumulates it.
  */
private[cql] object TaskCounter {
  private val completedCount = new java.util.concurrent.atomic.AtomicLong
  private val registeredApps =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  def completed(sc: org.apache.spark.SparkContext): Long = {
    if (registeredApps.add(sc.applicationId)) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          completedCount.incrementAndGet(); ()
        }
      })
    }
    completedCount.get()
  }
}
