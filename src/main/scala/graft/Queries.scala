package graft

import graft.functions.{Functions => F, Uda}
import graft.operators._
import graft.operators.Similarity.{AnnIndex, Quantizer}
import graft.sources.{Archives, Docx, Epub}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType, StructField, StructType}

/** The operator inventory (SURVEY §2) as named queries over the driver's
  * parquet tables, each paired (where SQL-expressible) with a DuckDB oracle.
  *
  * Cross-engine determinism rules used throughout:
  *  - money/value aggregates go through DECIMAL(18,2) (exact) and are cast
  *    to DOUBLE at the end — identical bits in both engines;
  *  - every LIMIT/top-k query carries a total-order tie-break;
  *  - double ratios are computed with the same association order and
  *    rounded to 6dp in both engines;
  *  - never ROUND a double quotient for a hash-compared column: when the
  *    quotient lands within an ulp of a .5e-6 boundary, the JVM
  *    (HALF_UP on the exact binary value) and DuckDB
  *    (shortest-representation rounding) disagree by 1e-6. Round/decimal
  *    the OPERANDS, then emit the raw IEEE quotient — identical operands
  *    divide to identical bits in every engine (bitten once at sf0.1,
  *    q_quality_bigram_lp doc 1417: sum -34.144135 / 10).
  */
object Queries {

  final case class QueryDef(name: String, oracle: Option[String],
                            impl: (SparkSession, String) => DataFrame)

  private def prep(spark: SparkSession): Unit = {
    F.ensure(spark); Uda.register(spark)
  }

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private def sumD(c: Column): Column = sum(dec2(c)).cast("double")

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** Engine with durable storage attached (fresh temp dir per query run):
    * `bulkInsert` writes distributed parquet log segments and reads merge
    * checkpoint ∪ segments ∪ tail — the 100 TB shape — instead of the
    * storage-less driver-tail fallback. The oracle gate therefore proves
    * the durable path end-to-end.
    */
  private val storedDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val storedDirsHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      storedDirs.forEach { d =>
        try {
          import java.nio.file._
          Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }
    }))

  /** Temp dir reaped at JVM exit — bench/correctness runs re-invoke each
    * query several times; don't leak per-run dirs in /tmp.
    */
  /** Shared oracle for q_hybrid_rrf and q_hybrid_indexed: the indexed
    * path is bit-equal to the from-scratch one (index-build equivalence
    * + exhaustive IVF probe == brute force), so one SQL gates both.
    */
  private val hybridRrfOracle: String =
    """WITH q(query_id, term) AS (VALUES
                (CAST(0 AS BIGINT), 'hash'), (0, 'join'),
                (1, 'fast'), (1, 'scan'), (1, 'filter'),
                (2, 'customer'), (2, 'order'), (2, 'data')),
              toks AS (
                SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
                       unnest(string_split(lower(text), ' ')) AS term
                FROM documents
              ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(len(string_split(lower(text), ' '))) AS DOUBLE) / count(*) AS avgdl
                FROM documents
              ), tf AS (
                SELECT query_id, doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM toks JOIN q USING (term) GROUP BY 1, 2, 3
              ), dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
              ), scored AS (
                SELECT query_id, doc_id,
                       CAST(round(
                         (ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                                   / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                          * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))))
                         / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                            ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
                             CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))),
                         6) AS DECIMAL(18,6)) AS s
                FROM tf JOIN dfreq USING (term) CROSS JOIN stats
              ), bagg AS (
                SELECT query_id, doc_id, CAST(sum(s) AS DOUBLE) AS score
                FROM scored GROUP BY 1, 2
              ), sr AS (
                SELECT query_id, doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS INTEGER) AS rank
                FROM bagg QUALIFY rank <= 10
              ), e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              qv AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 3),
              sc AS (SELECT query_id, e.vec_id AS doc_id,
                            round(list_dot_product(e.emb, qe) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(qe, qe))), 6) AS sim
                     FROM e, qv WHERE e.vec_id <> query_id),
              ar AS (SELECT query_id, doc_id,
                            CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, doc_id) AS INTEGER) AS rank
                     FROM sc QUALIFY rank <= 10),
              fused AS (
                SELECT COALESCE(s.query_id, a.query_id) AS query_id,
                       COALESCE(s.doc_id, a.doc_id) AS doc_id,
                       (COALESCE(CAST(1 AS DOUBLE) / (60 + s.rank), CAST(0 AS DOUBLE)) +
                        COALESCE(CAST(1 AS DOUBLE) / (60 + a.rank), CAST(0 AS DOUBLE))) AS rrf
                FROM sr s FULL OUTER JOIN ar a
                  ON s.query_id = a.query_id AND s.doc_id = a.doc_id
              ), fr AS (
                SELECT query_id, doc_id, rrf,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
                FROM fused
              )
              SELECT query_id, doc_id, rrf, rank FROM fr
              WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Shared oracle for q_bm25_search and q_bm25_merge: a merge of two
    * disjoint-shard indexes stores every quantity the all-at-once union
    * build stores (postings union, df added term-wise, stats re-derived
    * from summed longs), so the from-scratch whole-corpus BM25 chain
    * gates both. Every float step is double-double in BOTH engines
    * (explicit CASTs — a bare 0.5/1.2 literal is DECIMAL in DuckDB);
    * constants combine INSIDE the expression; per-term scores round 6dp
    * and sum as DECIMAL(18,6).
    */
  private val bm25SearchOracle: String =
    """WITH q(query_id, term) AS (VALUES
                (CAST(0 AS BIGINT), 'hash'), (0, 'join'),
                (1, 'fast'), (1, 'scan'), (1, 'filter'),
                (2, 'customer'), (2, 'order'), (2, 'data')),
              toks AS (
                SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
                       unnest(string_split(lower(text), ' ')) AS term
                FROM documents
              ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(len(string_split(lower(text), ' '))) AS DOUBLE) / count(*) AS avgdl
                FROM documents
              ), tf AS (
                SELECT query_id, doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM toks JOIN q USING (term) GROUP BY 1, 2, 3
              ), dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
              ), scored AS (
                SELECT query_id, doc_id,
                       CAST(round(
                         (ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                                   / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                          * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))))
                         / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                            ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
                             CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))),
                         6) AS DECIMAL(18,6)) AS s
                FROM tf JOIN dfreq USING (term) CROSS JOIN stats
              ), agg AS (
                SELECT query_id, doc_id, CAST(sum(s) AS DOUBLE) AS score
                FROM scored GROUP BY 1, 2
              ), r AS (
                SELECT query_id, doc_id, score,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS INTEGER) AS rank
                FROM agg
              )
              SELECT query_id, doc_id, score, rank FROM r
              WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Shared oracle for q_phrase_search and q_phrase_merge: positional
    * postings carry no corpus-wide state, so a merge of disjoint-shard
    * indexes is row-identical to the never-sharded build — one SQL gates
    * both. Positions restate via the zipped generate_series unnest.
    */
  private val phraseSearchOracle: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text),' ') AS w
                         FROM documents),
              p AS (SELECT doc_id,
                           unnest(generate_series(1, len(w))) AS pos,
                           unnest(w) AS term
                    FROM t),
              a AS (SELECT doc_id, pos FROM p WHERE term = 'slow'),
              b AS (SELECT doc_id, pos - 1 AS pos FROM p WHERE term = 'hash'),
              c AS (SELECT doc_id, pos - 2 AS pos FROM p WHERE term = 'batch')
              SELECT a.doc_id, count(*) AS n_matches
              FROM a JOIN b USING (doc_id, pos) JOIN c USING (doc_id, pos)
              GROUP BY 1 ORDER BY doc_id"""

  /** Generated oracle for q_retrieval_mmr: the greedy MMR selection
    * unrolled to `k` CTE stages (greedy argmax has no closed SQL form —
    * recursive CTEs can't aggregate over the recursive table, so the
    * loop is stated step by step). cand = per-query top-`nCand`
    * candidates by 6dp cosine, each carrying its EXACT micro-unit
    * relevance relm = round(rel·1e6) AS BIGINT; pairs carry micro-unit
    * cosines the same way; step 1 picks argmax num·relm, step i argmax
    * num·relm − (den−num)·max(simm) — pure BIGINT scores, doc-asc ties,
    * the identical total order the engine's integer greedy walks (a
    * float λ-combination diverged from the JVM at a 6dp half boundary;
    * integers can't). mmr = score / (den·1e6), one exact-operand IEEE
    * divide.
    */
  private def mmrOracle(nQueries: Int, nCand: Int, k: Int,
                        lambdaNum: Int, lambdaDen: Int): String = {
    val cosRaw = (a: String, b: String) =>
      s"list_dot_product($a.emb, $b.emb) / " +
        s"(sqrt(list_dot_product($a.emb, $a.emb)) * sqrt(list_dot_product($b.emb, $b.emb)))"
    val num = lambdaNum
    val mu = lambdaDen - lambdaNum
    val outScale = s"CAST(${lambdaDen} AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              qv AS (SELECT vec_id AS query_id, emb FROM e WHERE vec_id < $nQueries),
              sc AS (SELECT query_id, ce.vec_id AS doc_id, ce.emb,
                            round(${cosRaw("ce", "qv")}, 6) AS rel
                     FROM e ce, qv WHERE ce.vec_id <> query_id),
              cand AS (SELECT query_id, doc_id, emb, rel,
                              CAST(round(rel * 1000000) AS BIGINT) AS relm
                       FROM (
                         SELECT *, row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, doc_id) AS rnk FROM sc)
                       WHERE rnk <= $nCand),
              pairs AS (SELECT ca.query_id, ca.doc_id AS da, cb.doc_id AS db,
                               CAST(round((${cosRaw("ca", "cb")}) * 1000000) AS BIGINT) AS simm
                        FROM cand ca JOIN cand cb ON ca.query_id = cb.query_id
                          AND ca.doc_id <> cb.doc_id),
              s1 AS (SELECT query_id, doc_id, rel,
                            CAST($num * relm AS DOUBLE) / ($outScale) AS mmr,
                            1 AS rank
                     FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY relm DESC, doc_id) AS rr FROM cand)
                     WHERE rr = 1),
              sel1 AS (SELECT query_id, doc_id FROM s1)"""
    for (i <- 2 to k) {
      val p = i - 1
      sb ++= s""",
              m$i AS (SELECT c.query_id, c.doc_id, c.rel,
                             $num * c.relm - $mu * max(p.simm) AS score
                      FROM cand c
                      JOIN sel$p sl ON sl.query_id = c.query_id
                      JOIN pairs p ON p.query_id = c.query_id
                        AND p.da = c.doc_id AND p.db = sl.doc_id
                      WHERE NOT EXISTS (SELECT 1 FROM sel$p x
                                        WHERE x.query_id = c.query_id
                                          AND x.doc_id = c.doc_id)
                      GROUP BY c.query_id, c.doc_id, c.rel, c.relm),
              s$i AS (SELECT query_id, doc_id, rel,
                             CAST(score AS DOUBLE) / ($outScale) AS mmr,
                             $i AS rank
                      FROM (
                        SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id) AS rr FROM m$i)
                      WHERE rr = 1),
              sel$i AS (SELECT query_id, doc_id FROM sel$p
                        UNION ALL SELECT query_id, doc_id FROM s$i)"""
    }
    sb ++= (1 to k).map(i =>
      s"SELECT query_id, doc_id, rel, mmr, CAST(rank AS INTEGER) AS rank FROM s$i")
      .mkString("\n              ", "\n              UNION ALL ", "")
    sb ++= "\n              ORDER BY query_id, rank"
    sb.toString
  }

  /** Planted link-graph pages shared by q_host_pagerank / q_link_prior:
    * page host doc_id%13, outlinks at +4 (www-prefixed mirror form,
    * exercising normalization) and *3+5 mod 13 (self-loop at residue 4,
    * exercising the drop), plus a never-linking-out sink host on every
    * fifth doc (exercising the dangling-mass term). The Verify replica
    * (_fixture_pagerank) re-derives the same graph from doc_ids alone.
    */
  private def plantedLinkPages(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    Tables.spread(t(s, d, "documents")).select(
      did,
      concat(lit("https://site"), (did % 13).cast("string"),
        lit(".example.com/p/"), did.cast("string")).as("url"),
      when(did % 5 === 0, array(
          concat(lit("http://www.site"), ((did + 4) % 13).cast("string"),
            lit(".example.com/a")),
          concat(lit("https://site"), ((did * 3 + 5) % 13).cast("string"),
            lit(".example.com/b/"), did.cast("string")),
          concat(lit("https://sink"), (did % 3).cast("string"),
            lit(".example.org/x"))))
        .otherwise(array(
          concat(lit("http://www.site"), ((did + 4) % 13).cast("string"),
            lit(".example.com/a")),
          concat(lit("https://site"), ((did * 3 + 5) % 13).cast("string"),
            lit(".example.com/b/"), did.cast("string"))))
        .as("links"))
  }

  private def tmpDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    storedDirsHook
    storedDirs.add(dir.toFile)
    dir
  }

  private def storedEngine(s: SparkSession): graft.cql.CqlEngine = {
    val e = new graft.cql.CqlEngine(s)
    e.attachStorage(tmpDir("graft-qeng").toString)
    e
  }

  val all: Seq[QueryDef] = Seq(

    // ── §2.1 sources/scans ──────────────────────────────────────────────
    QueryDef("q_single_partition",
      // SinglePartitionReadCommand: WHERE pk = ? in clustering order
      // (SelectStatement.java:508-528)
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag, l_linestatus
              FROM lineitem WHERE l_orderkey = 7 ORDER BY l_linenumber"""),
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey") === 7)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_linestatus")
        .orderBy("l_linenumber")),

    QueryDef("q_partition_in",
      // multi-partition IN fan-out (StorageProxy.java:1692 concatenation)
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              WHERE l_orderkey IN (1,2,3,5,7) ORDER BY l_orderkey, l_linenumber"""),
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey").isin(1, 2, 3, 5, 7))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    QueryDef("q_clustering_slice",
      // ClusteringIndexSliceFilter (db/filter/ClusteringIndexSliceFilter.java)
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              WHERE l_orderkey = 3 AND l_linenumber > 1 AND l_linenumber <= 5
              ORDER BY l_linenumber"""),
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey") === 3 && col("l_linenumber") > 1 && col("l_linenumber") <= 5)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_linenumber")),

    QueryDef("q_clustering_names",
      // ClusteringIndexNamesFilter: exact clustering rows
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              WHERE l_orderkey IN (1,2,3,5,7) AND l_linenumber IN (1,3)
              ORDER BY l_orderkey, l_linenumber"""),
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey").isin(1, 2, 3, 5, 7) && col("l_linenumber").isin(1, 3))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    QueryDef("q_multicol_tuple",
      // MultiColumnRelation lexicographic ranges, lowered to the DNF that
      // pushes the leading column to parquet stats (cql3/MultiColumnRelation.java)
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
              WHERE ((l_orderkey > 5) OR (l_orderkey = 5 AND l_linenumber >= 2))
                AND ((l_orderkey < 9) OR (l_orderkey = 9 AND l_linenumber < 3))
              ORDER BY l_orderkey, l_linenumber"""),
      (s, d) => {
        val li = t(s, d, "lineitem")
        val ck = Seq(col("l_orderkey"), col("l_linenumber"))
        li.filter(CqlOps.tupleCompare(ck, Seq(lit(5), lit(2)), ">=") &&
            CqlOps.tupleCompare(ck, Seq(lit(9), lit(3)), "<"))
          .select("l_orderkey", "l_linenumber")
          .orderBy("l_orderkey", "l_linenumber")
      }),

    QueryDef("q_token_range",
      // token-range scan (TokenRelation; dht/Murmur3Partitioner.java) —
      // murmur3 is not expressible in DuckDB, so the oracle compares against
      // a fixture of driver-side-computed tokens written by Verify (the
      // Scala function is pinned to reference vectors in TokenSpec; this
      // check pins the codegen'd expression + range pipeline to it).
      Some("""SELECT o_orderkey, tok
              FROM parquet_scan('{FIX}/_fixture_tokens/*.parquet')
              WHERE tok > -4611686018427387904 AND tok <= 0
              ORDER BY tok, o_orderkey LIMIT 100"""),
      (s, d) => {
        prep(s)
        t(s, d, "orders").select(col("o_orderkey"),
            F.cassandra_token(col("o_orderkey")).as("tok"))
          .filter(col("tok") > lit(-4611686018427387904L) && col("tok") <= lit(0L))
          .orderBy("tok", "o_orderkey")
          .limit(100)
      }),

    QueryDef("q_distinct_partitions",
      // SELECT DISTINCT pk (SelectStatement.java:598-608)
      Some("SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey"),
      (s, d) => CqlOps.distinctPartitions(t(s, d, "orders"), Seq("o_custkey"))
        .orderBy("o_custkey")),

    // ── §2.5/2.6 windows, limits, sorts ─────────────────────────────────
    QueryDef("q_per_partition_limit",
      // PER PARTITION LIMIT n (DataLimits.java:632-1041)
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, rn FROM (
                SELECT l_orderkey, l_linenumber, l_quantity,
                       CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS INTEGER) AS rn
                FROM lineitem) t
              WHERE rn <= 2 ORDER BY l_orderkey, l_linenumber"""),
      (s, d) => {
        // bounded top-k aggregate, not a rank window: the map-side partial
        // buffer keeps ≤2 rows per key, so the shuffle carries the answer,
        // not the table (TopKRowsAgg; ~20% faster at sf0.1, and the gap is
        // partition-width-proportional — the window form ships every
        // clustering row of a partition to one reducer first)
        prep(s)
        CqlOps.perPartitionLimitAgg(
            t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
            Seq("l_orderkey"), Seq("l_linenumber" -> false, "l_quantity" -> false), 2)
          .select("l_orderkey", "l_linenumber", "l_quantity", "rn")
          .orderBy("l_orderkey", "l_linenumber")
      }),

    QueryDef("q_orderby_limit",
      // top-k = ORDER BY + LIMIT (TakeOrderedAndProject)
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
      (s, d) => t(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    QueryDef("q_static_first",
      // static-column emulation: per-partition first_value attached to every
      // row (SelectStatement.java:807-850)
      Some("""SELECT o_orderkey, o_custkey, static_prio FROM (
                SELECT o_orderkey, o_custkey,
                       first_value(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS static_prio
                FROM orders) t
              ORDER BY o_orderkey LIMIT 500"""),
      (s, d) => CqlOps.withStatic(t(s, d, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate").asc, col("o_orderkey").asc),
          col("o_orderpriority"), "static_prio")
        .select("o_orderkey", "o_custkey", "static_prio")
        .orderBy("o_orderkey")
        .limit(500)),

    QueryDef("q_window_running",
      // running aggregate window (native surface)
      Some("""SELECT user_id, event_id,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS running
              FROM events WHERE user_id < 10 ORDER BY user_id, event_id"""),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        t(s, d, "events").filter(col("user_id") < 10)
          .select(col("user_id"), col("event_id"),
            sum(dec2(col("value"))).over(w).cast("double").as("running"))
          .orderBy("user_id", "event_id")
      }),

    // ── §2.4 aggregation ────────────────────────────────────────────────
    QueryDef("q_agg_global",
      // aggregate-everything (AggregationSpecification.java:30-44)
      Some("""SELECT count(*) AS cnt, count(l_returnflag) AS cnt_flag,
                     CAST(min(l_quantity) AS DOUBLE) AS min_qty, CAST(max(l_quantity) AS DOUBLE) AS max_qty,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                     min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
              FROM lineitem"""),
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"), count(col("l_returnflag")).as("cnt_flag"),
        min(col("l_quantity")).cast("double").as("min_qty"),
        max(col("l_quantity")).cast("double").as("max_qty"),
        sumD(col("l_quantity")).as("sum_qty"),
        min(col("l_shipdate")).as("min_ship"), max(col("l_shipdate")).as("max_ship"))),

    QueryDef("q_group_pk_prefix",
      // GROUP BY partition-key prefix (SelectStatement.java:1145-1191)
      Some("""SELECT l_orderkey, count(*) AS cnt,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                     CAST(max(l_extendedprice) AS DOUBLE) AS max_price
              FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""),
      (s, d) => t(s, d, "lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("cnt"), sumD(col("l_quantity")).as("sum_qty"),
          max(col("l_extendedprice")).cast("double").as("max_price"))
        .orderBy("l_orderkey")),

    QueryDef("q_group_mixed_first",
      // CQL mixed aggregate + plain column = first row in clustering order
      // (AggregationTest.java:182-198). The synthetic lineitem has duplicate
      // (l_orderkey, l_linenumber) pairs, so "first" uses a deterministic
      // total clustering order.
      Some("""SELECT l_orderkey, first_flag, cnt FROM (
                SELECT l_orderkey, l_returnflag AS first_flag,
                       count(*) OVER (PARTITION BY l_orderkey) AS cnt,
                       row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_returnflag, l_partkey, l_suppkey, l_extendedprice) AS rn
                FROM lineitem) t
              WHERE rn = 1 ORDER BY l_orderkey"""),
      (s, d) => {
        val w = Window.partitionBy("l_orderkey")
          .orderBy(col("l_linenumber"), col("l_returnflag"), col("l_partkey"),
            col("l_suppkey"), col("l_extendedprice"))
        t(s, d, "lineitem")
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("l_orderkey")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_orderkey"), col("l_returnflag").as("first_flag"), col("cnt"))
          .orderBy("l_orderkey")
      }),

    QueryDef("q_agg_typed",
      // CQL-typed sum/avg: sum(int)→int, avg(int) truncates
      // (AggregateFcts.java:128-723)
      Some("""SELECT l_returnflag, CAST(sum(l_linenumber) AS INTEGER) AS sum_ln,
                     CAST(floor(sum(l_linenumber) * 1.0 / count(*)) AS INTEGER) AS avg_ln
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(sum(col("l_linenumber")).cast("int").as("sum_ln"),
          floor(sum(col("l_linenumber")) * lit(1.0) / count(lit(1))).cast("int").as("avg_ln"))
        .orderBy("l_returnflag")),

    QueryDef("q_agg_countdistinct",
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps
              FROM lineitem"""),
      (s, d) => t(s, d, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))),

    QueryDef("q_group_having",
      Some("""SELECT l_orderkey, count(*) AS cnt FROM lineitem
              GROUP BY l_orderkey HAVING count(*) >= 5 ORDER BY l_orderkey"""),
      (s, d) => t(s, d, "lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 5)
        .orderBy("l_orderkey")),

    QueryDef("q_rollup",
      // grouping-sets surface (native extension; CQL has none)
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status, count(*) AS cnt
              FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY flag, status"""),
      (s, d) => t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("cnt"))
        .orderBy("flag", "status")),

    QueryDef("q_uda_fold",
      // UDA via typed Aggregator (UDAggregate.java fold semantics)
      Some("""SELECT event_type, CAST(sum(k * k) AS BIGINT) AS sum_sq, count(*) AS n FROM (
                SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) t
              GROUP BY event_type ORDER BY event_type"""),
      (s, d) => {
        prep(s)
        t(s, d, "events")
          .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy("event_type")
          .agg(call_function("uda_sum_sq", col("k")).as("sum_sq"), count(lit(1)).as("n"))
          .orderBy("event_type")
      }),

    // ── §2.2 projection/filter/predicates ───────────────────────────────
    QueryDef("q_select_arith",
      // selection arithmetic (OperationFcts.java) with exact decimal math
      Some("""SELECT l_orderkey, l_linenumber,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_price,
                     l_linenumber % 3 AS m3, -l_linenumber AS neg_ln
              FROM lineitem WHERE l_orderkey = 7 ORDER BY l_linenumber"""),
      (s, d) => t(s, d, "lineitem").filter(col("l_orderkey") === 7)
        .select(col("l_orderkey"), col("l_linenumber"),
          (dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("disc_price"),
          (col("l_linenumber") % 3).as("m3"),
          (-col("l_linenumber")).as("neg_ln"))
        .orderBy("l_linenumber")),

    QueryDef("q_cql_arith",
      // selection arithmetic + cast through the FULL CQL engine path
      // (parser → analyzer → mutation log → reconcile → selection exprs);
      // DuckDB reproduces from the same parquet rows. Spark's double→int
      // cast truncates; totalprice > 0 so floor == trunc in the oracle.
      Some("""SELECT o_orderkey, o_totalprice * 2 + 1 AS tp2,
                     o_orderkey % 7 AS m7, CAST(floor(o_totalprice) AS INTEGER) AS tp_int
              FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_ord (o_orderkey bigint PRIMARY KEY, o_totalprice double)")
        e.bulkInsert("cql_ord", t(s, d, "orders").filter(col("o_orderkey") < 500)
          .select("o_orderkey", "o_totalprice"))
        e.execute("SELECT o_orderkey, o_totalprice * 2 + 1 AS tp2, " +
          "o_orderkey % 7 AS m7, cast(o_totalprice AS int) AS tp_int FROM cql_ord")
      }),

    QueryDef("q_cql_timestamp",
      // timestamp column + TimeFcts conversions through CqlEngine.execute
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, epoch_ms(o_orderdate) AS ms
              FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_odate (o_orderkey bigint PRIMARY KEY, o_orderdate timestamp)")
        // parquet timestamp[ms] reads as TIMESTAMP_NTZ; session tz is UTC,
        // so the cast to ltz preserves the instant DuckDB's epoch_ms sees
        e.bulkInsert("cql_odate", t(s, d, "orders").filter(col("o_orderkey") < 300)
          .select(col("o_orderkey"), col("o_orderdate").cast("timestamp").as("o_orderdate")))
        e.execute("SELECT o_orderkey, todate(o_orderdate) AS d, " +
          "tounixtimestamp(o_orderdate) AS ms FROM cql_odate")
      }),

    QueryDef("q_cql_group",
      // GROUP BY pk-prefix + typed aggregates through the engine; money
      // sums routed through decimal inside CQL (cast matrix) for
      // cross-engine exactness
      // oracle money sum at DECIMAL(18,2): DuckDB's cast to scale 18 would
      // expand the double's binary tail, Spark's uses shortest-repr — at
      // scale 2 both land on the exact cents value
      Some("""SELECT o_custkey, count(*) AS cnt,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                     CAST(max(o_totalprice) AS DOUBLE) AS top
              FROM orders WHERE o_orderkey < 2000 GROUP BY o_custkey ORDER BY o_custkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_og (o_custkey bigint, o_orderkey bigint, o_totalprice double, PRIMARY KEY (o_custkey, o_orderkey))")
        e.bulkInsert("cql_og", t(s, d, "orders").filter(col("o_orderkey") < 2000)
          .select("o_custkey", "o_orderkey", "o_totalprice"))
        e.execute("SELECT o_custkey, count(*) AS cnt, " +
          "cast(sum(cast(o_totalprice AS decimal)) AS double) AS total, " +
          "max(o_totalprice) AS top FROM cql_og GROUP BY o_custkey")
      }),

    QueryDef("q_cql_ppl",
      // PER PARTITION LIMIT through the engine clustering order
      Some("""SELECT o_custkey, o_orderkey FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
                FROM orders WHERE o_orderkey < 2000) t
              WHERE rn <= 2 ORDER BY o_custkey, o_orderkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_op (o_custkey bigint, o_orderkey bigint, PRIMARY KEY (o_custkey, o_orderkey))")
        e.bulkInsert("cql_op", t(s, d, "orders").filter(col("o_orderkey") < 2000)
          .select("o_custkey", "o_orderkey"))
        e.execute("SELECT o_custkey, o_orderkey FROM cql_op PER PARTITION LIMIT 2")
      }),

    QueryDef("q_cql_writetime",
      // writetime() through the engine, with USING TIMESTAMP carrying the
      // source event time in micros
      Some("""SELECT o_orderkey, epoch_us(o_orderdate) AS wt FROM orders
              WHERE o_orderkey < 400 ORDER BY o_orderkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_wt (o_orderkey bigint PRIMARY KEY, o_totalprice double)")
        e.bulkInsert("cql_wt", t(s, d, "orders").filter(col("o_orderkey") < 400)
          .select(col("o_orderkey"), col("o_totalprice"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("us")),
          timestampCol = Some("us"))
        e.execute("SELECT o_orderkey, writetime(o_totalprice) AS wt FROM cql_wt")
      }),

    QueryDef("q_cql_range_delete",
      // clustering range delete (range tombstone) through the engine: the
      // busiest customer's high orders vanish; DuckDB reproduces with an
      // anti-predicate against the same deterministic key
      Some("""WITH victim AS (SELECT min(o_custkey) AS vk FROM orders WHERE o_orderkey < 2000)
              SELECT o_custkey, o_orderkey FROM orders, victim
              WHERE o_orderkey < 2000 AND NOT (o_custkey = vk AND o_orderkey > 1000)
              ORDER BY o_custkey, o_orderkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_rd (o_custkey bigint, o_orderkey bigint, PRIMARY KEY (o_custkey, o_orderkey))")
        val src = t(s, d, "orders").filter(col("o_orderkey") < 2000)
          .select("o_custkey", "o_orderkey")
        e.bulkInsert("cql_rd", src)
        val victim = src.agg(min(col("o_custkey"))).head().getLong(0)
        e.execute(s"DELETE FROM cql_rd WHERE o_custkey = $victim AND o_orderkey > 1000")
        e.execute("SELECT o_custkey, o_orderkey FROM cql_rd")
      }),

    QueryDef("q_cql_purge_compact",
      // explicit tombstones purge past gc_grace at compact (round 8;
      // CompactionController purge evaluator): partition-delete five
      // victims, compact with gc_grace 0 and the clock past every
      // mutation — reads stay anti-filtered AND the pdel watermark store
      // is physically empty (guarded by the require below)
      Some("""WITH victims AS (
                SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey < 1500
                ORDER BY o_custkey LIMIT 5)
              SELECT o_custkey, o_orderkey FROM orders
              WHERE o_orderkey < 1500
                AND o_custkey NOT IN (SELECT o_custkey FROM victims)
              ORDER BY o_custkey, o_orderkey"""),
      (s, d) => {
        val dir = tmpDir("graft-purge").toString
        val e = new graft.cql.CqlEngine(s)
        e.attachStorage(dir)
        e.execute("CREATE TABLE cql_pg (o_custkey bigint, o_orderkey bigint, " +
          "PRIMARY KEY (o_custkey, o_orderkey)) WITH gc_grace_seconds = 0")
        val src = t(s, d, "orders").filter(col("o_orderkey") < 1500)
          .select("o_custkey", "o_orderkey")
        e.bulkInsert("cql_pg", src)
        val victims = src.select("o_custkey").distinct().orderBy("o_custkey")
          .limit(5).collect().map(_.getLong(0))
        victims.foreach(v => e.execute(s"DELETE FROM cql_pg WHERE o_custkey = $v"))
        e.nowMicros = 1000000000000L // past every mutation ts; grace is 0
        e.compact("cql_pg")
        val pdel = s.read.parquet(graft.cql.Storage.checkpointPart(dir, "cql_pg", "pdel"))
        require(pdel.count() == 0,
          "gc_grace-expired partition tombstones must purge physically at compact")
        e.execute("SELECT o_custkey, o_orderkey FROM cql_pg")
      }),

    QueryDef("q_cql_like_tokenized",
      // tokenized SASI term matching (round 8; Expression
      // .validateStringValue, Operation.analyzeGroup): LIKE '<term>' on a
      // StandardAnalyzer CONTAINS index equals ANY case-normalized word
      // token — the full-text hit whole-value matching cannot produce.
      // DuckDB reproduces with the same split regex.
      Some("""SELECT doc_id FROM documents
              WHERE list_contains(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), 'window')
              ORDER BY doc_id"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_tok (doc_id bigint PRIMARY KEY, text text)")
        e.bulkInsert("cql_tok", t(s, d, "documents").select("doc_id", "text"))
        e.execute("CREATE CUSTOM INDEX cql_tok_t ON cql_tok (text) " +
          "USING 'org.apache.cassandra.index.sasi.SASIIndex' WITH OPTIONS = " +
          "{'mode': 'CONTAINS', 'analyzer_class': " +
          "'org.apache.cassandra.index.sasi.analyzer.StandardAnalyzer', " +
          "'analyzed': 'true', 'tokenization_normalize_lowercase': 'true'}")
        e.execute("SELECT doc_id FROM cql_tok WHERE text LIKE 'WINDOW'")
      }),

    QueryDef("q_cql_mv",
      // CREATE MATERIALIZED VIEW re-keyed batch read through the engine:
      // orders re-keyed by (o_custkey, o_orderkey), low-key slice
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM orders
              WHERE o_orderkey < 400 AND o_custkey IS NOT NULL
              ORDER BY o_custkey, o_orderkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_ord_mv (o_orderkey bigint PRIMARY KEY, o_custkey bigint, o_totalprice double)")
        e.bulkInsert("cql_ord_mv", t(s, d, "orders").filter(col("o_orderkey") < 400)
          .select("o_orderkey", "o_custkey", "o_totalprice"))
        e.execute("CREATE MATERIALIZED VIEW cql_by_cust AS SELECT * FROM cql_ord_mv " +
          "WHERE o_custkey IS NOT NULL AND o_orderkey IS NOT NULL " +
          "PRIMARY KEY (o_custkey, o_orderkey)")
        e.execute("SELECT o_custkey, o_orderkey, o_totalprice FROM cql_by_cust")
      }),

    QueryDef("q_cql_in",
      // multi-partition IN fan-out through the engine (StorageProxy
      // concatenation): post-IN rows come back in (pk, ck) order
      // BETWEEN 1 AND 100, not <= 100: the IN list starts at 1, and the
      // driver's corpus DOES mint o_custkey = 0 at some scales (11 such
      // rows at sf0.001 made the old oracle read 1021 vs the engine's
      // correct 1010)
      Some("""SELECT o_custkey, o_orderkey FROM orders
              WHERE o_orderkey < 2000 AND o_custkey BETWEEN 1 AND 100
              ORDER BY o_custkey, o_orderkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_in (o_custkey bigint, o_orderkey bigint, PRIMARY KEY (o_custkey, o_orderkey))")
        e.bulkInsert("cql_in", t(s, d, "orders").filter(col("o_orderkey") < 2000)
          .select("o_custkey", "o_orderkey"))
        e.execute("SELECT o_custkey, o_orderkey FROM cql_in WHERE o_custkey IN (" +
          (1L to 100L).mkString(", ") + ")")
      }),

    QueryDef("q_cql_orderby_desc",
      // reversed read through the engine (ORDER BY ck DESC, single pk)
      Some("""WITH victim AS (
                SELECT o_custkey AS vk FROM orders WHERE o_orderkey < 20000
                GROUP BY o_custkey ORDER BY count(*) DESC, o_custkey LIMIT 1)
              SELECT o_orderkey FROM orders, victim
              WHERE o_orderkey < 20000 AND o_custkey = vk
              ORDER BY o_orderkey DESC"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_od (o_custkey bigint, o_orderkey bigint, PRIMARY KEY (o_custkey, o_orderkey))")
        val src = t(s, d, "orders").filter(col("o_orderkey") < 20000)
          .select("o_custkey", "o_orderkey")
        e.bulkInsert("cql_od", src)
        // the busiest customer, deterministic tie-break on the key
        val victim = src.groupBy("o_custkey").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("o_custkey").asc).head().getLong(0)
        e.execute(s"SELECT o_orderkey FROM cql_od WHERE o_custkey = $victim ORDER BY o_orderkey DESC")
      }),

    QueryDef("q_cql_distinct",
      // SELECT DISTINCT pk through the engine (one row per partition)
      Some("""SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey < 2000
              ORDER BY o_custkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_dk (o_custkey bigint, o_orderkey bigint, PRIMARY KEY (o_custkey, o_orderkey))")
        e.bulkInsert("cql_dk", t(s, d, "orders").filter(col("o_orderkey") < 2000)
          .select("o_custkey", "o_orderkey"))
        e.execute("SELECT DISTINCT o_custkey FROM cql_dk")
      }),

    QueryDef("q_cql_like",
      // SASI-style LIKE prefix/contains through the engine parser+filter
      Some("""SELECT p_partkey, p_type FROM part
              WHERE p_type LIKE 'ECO%' OR p_name LIKE '%bolt%'
              ORDER BY p_partkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_pt (p_partkey bigint PRIMARY KEY, p_type text, p_name text)")
        e.bulkInsert("cql_pt", t(s, d, "part").select("p_partkey", "p_type", "p_name"))
        val a = e.execute("SELECT p_partkey, p_type FROM cql_pt WHERE p_type LIKE 'ECO%' ALLOW FILTERING")
        val b = e.execute("SELECT p_partkey, p_type FROM cql_pt WHERE p_name LIKE '%bolt%' ALLOW FILTERING")
        a.union(b).distinct().orderBy("p_partkey")
      }),

    QueryDef("q_cql_index",
      // entries() secondary index serves m[k]=v WITHOUT ALLOW FILTERING
      // through the durable engine path (CreateIndexStatement.java;
      // index/internal/composites/CollectionEntryIndex.java) — the whole
      // create-table → bulk-load → create-index → index-served-select
      // pipeline under the oracle gate
      Some("""SELECT event_id, user_id FROM events
              WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) = 3
                AND user_id < 50
              ORDER BY event_id"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_ix (event_id bigint PRIMARY KEY, user_id bigint, m map<text, int>)")
        // extract ONLY $.k (get_json_object = DuckDB json_extract_string):
        // a whole-map from_json would null the entire map if any OTHER
        // props value were non-integer (ADVICE r6). event_id is unique in
        // the fixture, so the PRIMARY KEY collapses nothing the oracle keeps.
        e.bulkInsert("cql_ix", t(s, d, "events").filter(col("user_id") < 50)
          .select(col("event_id"), col("user_id"),
            map(lit("k"), get_json_object(col("props"), "$.k").cast("int")).as("m")))
        e.execute("CREATE INDEX ON cql_ix (entries(m))")
        // no ALLOW FILTERING: the entries() index serves the restriction
        e.execute("SELECT event_id, user_id FROM cql_ix WHERE m['k'] = 3")
          .orderBy("event_id")
      }),

    QueryDef("q_cql_coll_writetime",
      // per-element writetime() list on a multi-cell set through the engine
      // (CASSANDRA-8877 forward-port): bulk-loaded with per-row event-time
      // stamps, every element of a row's set carries that row's timestamp
      Some("""SELECT p_partkey,
                     array_to_string(list_transform(list_sort(list_distinct(string_split(p_name, ' '))),
                       x -> CAST(p_partkey * 1000 + 17 AS VARCHAR)), ',') AS wt
              FROM part WHERE p_partkey < 500 ORDER BY p_partkey"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_cw (p_partkey bigint PRIMARY KEY, words set<text>)")
        e.bulkInsert("cql_cw", t(s, d, "part").filter(col("p_partkey") < 500)
          .select(col("p_partkey"),
            array_distinct(split(col("p_name"), " ")).as("words"),
            (col("p_partkey") * 1000 + 17).as("us")),
          timestampCol = Some("us"))
        e.execute("SELECT p_partkey, writetime(words) AS wt FROM cql_cw")
          .select(col("p_partkey"), concat_ws(",", col("wt")).as("wt"))
          .orderBy("p_partkey")
      }),

    QueryDef("q_cql_floor_month",
      // GROUP BY floor(date, 1mo) time-bucketing through the engine
      // (Cassandra 4.1 CASSANDRA-11871 forward-port); calendar-month
      // buckets == DuckDB date_trunc('month')
      Some("""SELECT CAST(o_custkey % 8 AS INTEGER) AS k,
                     date_trunc('month', CAST(o_orderdate AS DATE)) AS bucket,
                     count(*) AS n,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              FROM orders WHERE o_orderkey < 3000
              GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_flm (k int, d date, o_orderkey bigint, o_totalprice double, PRIMARY KEY (k, d, o_orderkey))")
        e.bulkInsert("cql_flm", t(s, d, "orders").filter(col("o_orderkey") < 3000)
          .select((col("o_custkey") % 8).cast("int").as("k"),
            col("o_orderdate").cast("timestamp").cast("date").as("d"),
            col("o_orderkey"), col("o_totalprice")))
        e.execute("SELECT k, floor(d, 1mo) AS bucket, count(*) AS n, " +
          "cast(sum(cast(o_totalprice AS decimal)) AS double) AS total " +
          "FROM cql_flm GROUP BY k, floor(d, 1mo)")
      }),

    QueryDef("q_cql_floor_week",
      // precise-duration floor: epoch-anchored 7-day grid over a date
      // clustering column; DuckDB reproduces with day arithmetic from epoch
      Some("""SELECT CAST(o_custkey % 8 AS INTEGER) AS k,
                     DATE '1970-01-01' + CAST((datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7) * 7 AS INTEGER) AS bucket,
                     count(*) AS n
              FROM orders WHERE o_orderkey < 3000
              GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, d) => {
        val e = storedEngine(s)
        e.execute("CREATE TABLE cql_flw (k int, d date, o_orderkey bigint, PRIMARY KEY (k, d, o_orderkey))")
        e.bulkInsert("cql_flw", t(s, d, "orders").filter(col("o_orderkey") < 3000)
          .select((col("o_custkey") % 8).cast("int").as("k"),
            col("o_orderdate").cast("timestamp").cast("date").as("d"),
            col("o_orderkey")))
        e.execute("SELECT k, floor(d, 7d) AS bucket, count(*) AS n " +
          "FROM cql_flw GROUP BY k, floor(d, 7d)")
      }),

    QueryDef("q_contains",
      // CONTAINS on a collection column (RowFilter.java:625-680)
      Some("""SELECT p_partkey, p_name FROM part
              WHERE list_contains(string_split(p_name, ' '), 'widget') ORDER BY p_partkey"""),
      (s, d) => t(s, d, "part")
        .filter(array_contains(split(col("p_name"), " "), "widget"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")),

    QueryDef("q_like",
      // SASI LIKE prefix/suffix/contains (index/sasi/plan/Expression.java:50-160)
      Some("""SELECT p_partkey, p_name, p_type FROM part
              WHERE p_type LIKE 'ECO%' OR p_type LIKE '%MO' OR p_name LIKE '%bolt%'
              ORDER BY p_partkey"""),
      (s, d) => t(s, d, "part")
        .filter(col("p_type").like("ECO%") || col("p_type").like("%MO") ||
          col("p_name").like("%bolt%"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")),

    QueryDef("q_json_extract",
      // fromJson/toJson surface (cql3/Json.java) over the events props
      // column — ONE from_json parse into a pruned struct feeds both the
      // filter and the projection (get_json_object would re-parse per use)
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 95
              ORDER BY event_id"""),
      (s, d) => {
        val kSchema = StructType(Seq(StructField("k", IntegerType)))
        Tables.spread(t(s, d, "events"))
          .withColumn("_p", from_json(col("props"), kSchema))
          .filter(col("_p")("k") >= 95)
          .select(col("event_id"), col("_p")("k").as("k"))
          .orderBy("event_id")
      }),

    QueryDef("q_map_element",
      // map element selection m['k'] (ElementsSelector.java): element_at
      // over a map built from ONLY $.k — a whole-map from_json would null
      // the entire map if any OTHER props value were non-integer (the
      // q_cql_index / ADVICE r6 hazard), diverging from the oracle's
      // single-path extraction
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
              FROM events WHERE event_type = 'click' AND user_id < 20 ORDER BY event_id"""),
      (s, d) => t(s, d, "events")
        .filter(col("event_type") === "click" && col("user_id") < 20)
        .select(col("event_id"),
          element_at(map(lit("k"), get_json_object(col("props"), "$.k").cast("int")),
            lit("k")).as("k_val"))
        .orderBy("event_id")),

    QueryDef("q_writetime",
      // writetime(c) shadow column = mutation timestamp in µs
      // (selection/WritetimeOrTTLSelector.java)
      Some("""SELECT event_id, epoch_us(ts) AS writetime_v FROM events
              WHERE user_id = 7 ORDER BY event_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        ev.filter(col("user_id") === 7)
          .select(col("event_id"), Tables.tsEpochUs(ev).as("writetime_v"))
          .orderBy("event_id")
      }),

    QueryDef("q_ttl_expiry",
      // TTL semantics: rows expire at write-ts + ttl; remaining ttl in
      // seconds (cql3/Attributes.java, LivenessInfo) — ttl=10d, now=2024-01-20
      Some("""SELECT event_id, user_id,
                     CAST(floor((epoch_us(ts) + 864000000000 - 1705708800000000) / 1000000.0) AS BIGINT) AS ttl_remaining_s
              FROM events
              WHERE epoch_us(ts) + 864000000000 > 1705708800000000 AND user_id < 10
              ORDER BY event_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val rem = Tables.tsEpochUs(ev) + lit(864000000000L) - lit(1705708800000000L)
        ev.filter(rem > 0 && col("user_id") < 10)
          .select(col("event_id"), col("user_id"),
            floor(rem / lit(1000000.0)).cast("long").as("ttl_remaining_s"))
          .orderBy("event_id")
      }),

    // ── LWW / mutation-log semantics (§1.1, §2.1 sinks) ────────────────
    QueryDef("q_lww_compact",
      // last-write-wins per row key (Cells.reconcile, db/rows/Cells.java:115)
      Some("""SELECT user_id, event_type, event_id, value FROM (
                SELECT user_id, event_type, event_id, value,
                       row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t
              WHERE rn = 1 ORDER BY user_id, event_type"""),
      (s, d) => CqlOps.lwwLatest(t(s, d, "events"), Seq("user_id", "event_type"),
          Seq(col("ts").desc, col("event_id").desc))
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")),

    QueryDef("q_mutation_compact",
      // LWW + tombstones: winning delete removes the row (DeletionTime)
      Some("""SELECT user_id, event_id, value FROM (
                SELECT user_id, event_id, value, event_type,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, CAST(event_type = 'error' AS INTEGER) DESC, event_id DESC) AS rn
                FROM events) t
              WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"""),
      (s, d) => CqlOps.compactLog(t(s, d, "events"), Seq("user_id"), col("ts"),
          Seq(col("event_id")), col("event_type") === "error")
        .select("user_id", "event_id", "value")
        .orderBy("user_id")),

    QueryDef("q_counter_sum",
      // counter reads = sum of deltas (CounterColumnType)
      Some("""SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total, count(*) AS n
              FROM events WHERE event_type = 'purchase' GROUP BY user_id ORDER BY user_id"""),
      (s, d) => t(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sumD(col("value")).as("total"), count(lit(1)).as("n"))
        .orderBy("user_id")),

    QueryDef("q_mv_projection",
      // materialized-view re-keyed projection (ViewUpdateGenerator); batch
      // form — incremental maintenance lives in streaming/MutationStream
      Some("""SELECT event_type, user_id, event_id, value FROM events
              WHERE event_type IN ('click', 'purchase')
              ORDER BY event_type, ts, event_id LIMIT 300"""),
      (s, d) => t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .orderBy(col("event_type").asc, col("ts").asc, col("event_id").asc)
        .select("event_type", "user_id", "event_id", "value")
        .limit(300)),

    // ── §2.3 joins (native surface) ────────────────────────────────────
    QueryDef("q_join_broadcast",
      Some("""SELECT p_brand, count(*) AS cnt,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_brand ORDER BY p_brand"""),
      (s, d) => t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), sumD(col("l_quantity")).as("qty"))
        .orderBy("p_brand")),

    QueryDef("q_join_multiway",
      // TPC-H Q5-shaped multiway join: dims broadcast, facts shuffle once
      Some("""SELECT n_name,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                     count(*) AS n_rows
              FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
              GROUP BY n_name ORDER BY n_name"""),
      (s, d) => {
        val cust = t(s, d, "customer"); val ord = t(s, d, "orders")
        val li = t(s, d, "lineitem"); val supp = t(s, d, "supplier")
        val nat = t(s, d, "nation"); val reg = t(s, d, "region")
        cust.join(ord, col("c_custkey") === col("o_custkey"))
          .join(li, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA" && col("c_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_rows"))
          .orderBy("n_name")
      }),

    QueryDef("q_semi_join",
      // secondary-index-style semi-join (CassandraIndexSearcher lowering)
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
              ORDER BY c_custkey"""),
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    QueryDef("q_anti_join",
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
              ORDER BY c_custkey"""),
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // ── §2.7 set ops (native surface) ──────────────────────────────────
    QueryDef("q_union",
      Some("""SELECT id FROM (SELECT o_custkey AS id FROM orders
              UNION SELECT c_custkey AS id FROM customer) t ORDER BY id"""),
      (s, d) => t(s, d, "orders").select(col("o_custkey").as("id"))
        .union(t(s, d, "customer").select(col("c_custkey").as("id")))
        .distinct()
        .orderBy("id")),

    QueryDef("q_window_lead_lag",
      // lead/lag window functions (native surface)
      Some("""SELECT user_id, event_id,
                     lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
                     lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_v
              FROM events WHERE user_id < 5 ORDER BY user_id, event_id"""),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, d, "events").filter(col("user_id") < 5)
          .select(col("user_id"), col("event_id"),
            lag(col("value"), 1).over(w).as("prev_v"),
            lead(col("value"), 1).over(w).as("next_v"))
          .orderBy("user_id", "event_id")
      }),

    QueryDef("q_group_composite",
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              FROM lineitem GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus"""),
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sumD(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")),

    QueryDef("q_case_when",
      Some("""SELECT event_id,
                     CASE WHEN value >= 150 THEN 'high' WHEN value >= 75 THEN 'mid' ELSE 'low' END AS band
              FROM events WHERE user_id < 5 ORDER BY event_id"""),
      (s, d) => t(s, d, "events").filter(col("user_id") < 5)
        .select(col("event_id"),
          when(col("value") >= 150, "high").when(col("value") >= 75, "mid")
            .otherwise("low").as("band"))
        .orderBy("event_id")),

    QueryDef("q_string_funcs",
      Some("""SELECT p_partkey, upper(p_name) AS u, substr(p_name, 1, 4) AS s4,
                     CAST(length(p_name) AS INTEGER) AS ln, concat(p_brand, ':', p_type) AS bt
              FROM part ORDER BY p_partkey"""),
      (s, d) => t(s, d, "part").select(col("p_partkey"),
          upper(col("p_name")).as("u"), substring(col("p_name"), 1, 4).as("s4"),
          length(col("p_name")).as("ln"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("bt"))
        .orderBy("p_partkey")),

    QueryDef("q_date_funcs",
      Some("""SELECT CAST(year(l_shipdate) AS INTEGER) AS y, CAST(month(l_shipdate) AS INTEGER) AS m,
                     count(*) AS cnt FROM lineitem GROUP BY 1, 2 ORDER BY y, m"""),
      (s, d) => t(s, d, "lineitem")
        .groupBy(year(col("l_shipdate")).as("y"), month(col("l_shipdate")).as("m"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("y", "m")),

    // ── extensions: dedup ──────────────────────────────────────────────
    QueryDef("q_dedup_exact",
      Some("""SELECT md5(lower(text)) AS h, count(*) AS cnt, min(doc_id) AS canonical_id
              FROM documents GROUP BY 1 ORDER BY h"""),
      (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text").orderBy("h")),

    QueryDef("q_dedup_ngram_jaccard", Some(jaccardDfOracle),
      (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.7)
        .orderBy("a", "b")),

    QueryDef("q_dedup_minhash_lsh",
      // MinHash+LSH with exact verification: same contract as the exact
      // n-gram query (recall at 16 bands × 4 rows is 1 - ~4e-8 at j>=0.9),
      // but bucket-join scalable. Oracle: the exact all-pairs SQL.
      Some(jaccardOracle),
      (s, d) => {
        prep(s)
        Dedup.minhashLsh(t(s, d, "documents"), "doc_id", "text", 3, 0.7)
          .orderBy("a", "b")
      }),

    QueryDef("q_dedup_cross_corpus",
      // incremental-ingest dedup: near-dups BETWEEN the odd-id "new crawl"
      // and the even-id "existing corpus" only, oriented new -> corpus.
      // Oracle: the exact all-pairs jaccard SQL restricted to cross-parity
      // pairs (LSH recall contract identical to q_dedup_minhash_lsh).
      Some("""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
              sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))])) AS s FROM d),
              sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
              j AS (SELECT p.a, p.b, round(p.c * 1.0 / (sx.n + sy.n - p.c), 6) AS jaccard
                    FROM p JOIN sz sx ON p.a = sx.doc_id JOIN sz sy ON p.b = sy.doc_id
                    WHERE round(p.c * 1.0 / (sx.n + sy.n - p.c), 6) >= 0.7)
              SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS new_id,
                     CASE WHEN a % 2 = 1 THEN b ELSE a END AS corpus_id, jaccard
              FROM j WHERE (a % 2) <> (b % 2) ORDER BY new_id, corpus_id"""),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        Dedup.crossCorpusNearDups(
            docs.filter(col("doc_id") % 2 === 1),
            docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", 3, 0.7)
          .orderBy("new_id", "corpus_id")
      }),

    QueryDef("q_dedup_lsh_index",
      // the SAME cross-corpus contract served through the persistent LSH
      // index: build + save the even-id corpus's buckets/shingle-sets,
      // reload, then ingest the odd-id crawl against the loaded index —
      // only the crawl is sketched; the corpus side is the stored parquet.
      // Oracle: identical to q_dedup_cross_corpus (bit-equal output is the
      // index's whole point)
      Some("""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
              sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))])) AS s FROM d),
              sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
              j AS (SELECT p.a, p.b, round(p.c * 1.0 / (sx.n + sy.n - p.c), 6) AS jaccard
                    FROM p JOIN sz sx ON p.a = sx.doc_id JOIN sz sy ON p.b = sy.doc_id
                    WHERE round(p.c * 1.0 / (sx.n + sy.n - p.c), 6) >= 0.7)
              SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS new_id,
                     CASE WHEN a % 2 = 1 THEN b ELSE a END AS corpus_id, jaccard
              FROM j WHERE (a % 2) <> (b % 2) ORDER BY new_id, corpus_id"""),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        val dir = tmpDir("graft-lshidx")
        Dedup.lshIndexBuild(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", 3).save(dir.toString)
        Dedup.ingestAgainstLshIndex(docs.filter(col("doc_id") % 2 === 1),
            Dedup.lshIndexLoad(s, dir.toString), "doc_id", "text", 3, 0.7)
          .orderBy("new_id", "corpus_id")
      }),

    QueryDef("q_dedup_bloom_ingest",
      // exact-match tier of incremental ingest: a crawl of re-crawled pages
      // (even doc_id % 4 == 0, identical text under a fresh id) + genuinely
      // new pages (odd ids) deduped against the even-id corpus. The Bloom
      // prefilter keeps bloom-negative docs map-side; only positives reach
      // the verification anti-join, so the result is EXACTLY the digest
      // anti-join the oracle computes (fpp never leaks into the answer).
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
              crawl AS (SELECT doc_id + 100000 AS doc_id, source, text FROM documents WHERE doc_id % 4 = 0
                        UNION ALL SELECT doc_id, source, text FROM documents WHERE doc_id % 2 = 1)
              SELECT c.doc_id, c.source FROM crawl c
              WHERE NOT EXISTS (SELECT 1 FROM corpus k WHERE lower(k.text) = lower(c.text))
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        val crawl = docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("source"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 2 === 1)
            .select("doc_id", "source", "text"))
        Dedup.bloomIngestDedup(crawl, docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", 5000L, 0.03)
          .select("doc_id", "source").orderBy("doc_id")
      }),

    QueryDef("q_dedup_groups",
      // pairs → canonical duplicate GROUPS: connected components by
      // min-label propagation (Dedup.dupGroups); the oracle computes the
      // same components as a DuckDB recursive transitive closure
      Some(dupGroupsOracle),
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.dupGroups(docs.select("doc_id"),
            Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.7))
          .orderBy("doc_id")
      }),

    QueryDef("q_dedup_keep_best",
      // quality-aware near-dup survivor selection: per connected
      // component keep the LONGEST member (n_chars desc, id tie-break)
      // instead of the min-id convention — the curation refinement that
      // keeps the fullest rendition of a near-dup cluster. One join +
      // one max-of-struct per group over the dupGroups labels. Oracle:
      // the recursive-closure groups (shared derivation) with a rank
      // window picking the same survivor.
      Some(s"""WITH g AS (SELECT * FROM (
                 ${dupGroupsOracle.replace("ORDER BY doc_id", "")}) gg),
               s AS (SELECT doc_id, n_chars FROM documents),
               j AS (SELECT g.group_id, g.doc_id, s.n_chars,
                            row_number() OVER (PARTITION BY g.group_id
                              ORDER BY s.n_chars DESC, g.doc_id) AS rn,
                            count(*) OVER (PARTITION BY g.group_id) AS n_members
                     FROM g JOIN s ON g.doc_id = s.doc_id)
               SELECT group_id, doc_id, CAST(n_chars AS BIGINT) AS score,
                      n_members
               FROM j WHERE rn = 1 ORDER BY group_id"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val labels = Dedup.dupGroups(docs.select("doc_id"),
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.7))
        Dedup.keepBestPerGroup(labels,
            docs.select(col("doc_id"), col("n_chars").as("score")))
          .select(col("group_id"), col("doc_id"), col("score"),
            col("n_members"))
          .orderBy("group_id")
      }),

    QueryDef("q_dedup_spans",
      // exact-substring dedup (Lee et al. 2021 ExactSubstr): 8-token
      // windows occurring >= 2 times anywhere in the corpus, merged into
      // maximal per-document spans. The oracle replays the same window
      // fingerprint + gaps-and-islands merge in DuckDB.
      Some("""WITH toks AS (
                SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
              ), win AS (
                SELECT doc_id, i AS s, i + 7 AS e,
                       md5(array_to_string(t[i:i+7], ' ')) AS fp
                FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
                WHERE len(t) >= 8
              ), dupfp AS (
                SELECT fp FROM win GROUP BY fp HAVING count(*) >= 2
              ), hits AS (
                SELECT w.doc_id, w.s, w.e FROM win w JOIN dupfp d USING (fp)
              ), isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s - 1
                            THEN 0 ELSE 1 END AS flag
                FROM hits
              ), grp AS (
                SELECT doc_id, s, e,
                       sum(flag) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM isl
              )
              SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
                     CAST(count(*) AS BIGINT) AS dup_windows
              FROM grp GROUP BY doc_id, island ORDER BY doc_id, span_start"""),
      (s, d) => Dedup.duplicatedSpans(t(s, d, "documents"), "doc_id", "text", 8)
        .orderBy("doc_id", "span_start")),

    QueryDef("q_dedup_spans_remove",
      // the REMOVAL step of ExactSubstr dedup: drop every token inside a
      // duplicated span, rejoin the survivors (canonical lowercase token
      // stream for all docs; fully-duplicated docs come back empty). The
      // oracle replays the span chain then anti-filters token positions.
      Some("""WITH toks AS (
                SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
              ), win AS (
                SELECT doc_id, i AS s, i + 7 AS e,
                       md5(array_to_string(t[i:i+7], ' ')) AS fp
                FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
                WHERE len(t) >= 8
              ), dupfp AS (
                SELECT fp FROM win GROUP BY fp HAVING count(*) >= 2
              ), hits AS (
                SELECT w.doc_id, w.s, w.e FROM win w JOIN dupfp d USING (fp)
              ), isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s - 1
                            THEN 0 ELSE 1 END AS flag
                FROM hits
              ), grp AS (
                SELECT doc_id, s, e,
                       sum(flag) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM isl
              ), spans AS (
                SELECT doc_id, min(s) AS span_start, max(e) AS span_end
                FROM grp GROUP BY doc_id, island
              ), tok_i AS (
                SELECT doc_id, t[i] AS tok, i
                FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
              ), kept AS (
                SELECT ti.doc_id, ti.tok, ti.i FROM tok_i ti
                WHERE NOT EXISTS (SELECT 1 FROM spans s
                  WHERE s.doc_id = ti.doc_id
                    AND ti.i BETWEEN s.span_start AND s.span_end)
              )
              SELECT t.doc_id,
                     coalesce((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
                               FROM kept k WHERE k.doc_id = t.doc_id), '') AS clean_text
              FROM toks t ORDER BY t.doc_id"""),
      (s, d) => Dedup.removeDuplicatedSpans(t(s, d, "documents"), "doc_id", "text", 8)
        .orderBy("doc_id")),

    QueryDef("q_dedup_spans_winnow",
      // winnowed exact-substring spans (Schleimer et al. 2003 / MOSS
      // selection): only the leftmost-minimum md5 of each sliding group of
      // 4 window hashes is fingerprinted — ~2.6x fewer shuffled windows on
      // this corpus with the alignment-free >= w+s-1 detection guarantee.
      // The oracle replays selection + merge with DuckDB list comprehensions.
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text),' ') AS t FROM documents),
              h AS (SELECT doc_id,
                      [md5(array_to_string(t[i:i+7],' ')) for i in range(1, len(t) - 6)] AS hs
                    FROM toks WHERE len(t) >= 8),
              selpos AS (SELECT doc_id, hs,
                      list_distinct([j - 1 + list_position(hs[j:j+3], list_aggregate(hs[j:j+3], 'min'))
                                     for j in range(1, greatest(len(hs)-3, 1)+1)]) AS sel
                    FROM h),
              win AS (SELECT doc_id, CAST(u.s0 AS BIGINT) AS s, CAST(u.s0 AS BIGINT) + 7 AS e, hs[u.s0] AS fp
                      FROM selpos, UNNEST(sel) AS u(s0)),
              dupfp AS (SELECT fp FROM win GROUP BY fp HAVING count(*) >= 2),
              hits AS (SELECT w.doc_id, w.s, w.e FROM win w JOIN dupfp d USING (fp)),
              isl AS (SELECT doc_id, s, e,
                      CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s - 1
                           THEN 0 ELSE 1 END AS flag FROM hits),
              grp AS (SELECT doc_id, s, e,
                      sum(flag) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM isl)
              SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
                     CAST(count(*) AS BIGINT) AS dup_windows
              FROM grp GROUP BY doc_id, island ORDER BY doc_id, span_start"""),
      (s, d) => {
        prep(s)
        Dedup.winnowedSpans(t(s, d, "documents"), "doc_id", "text", 8, 4)
          .orderBy("doc_id", "span_start")
      }),

    QueryDef("q_dedup_simhash",
      // SimHash is not DuckDB-expressible, so the oracle compares against a
      // Verify-written fixture: a plain-Scala driver-side re-run of the
      // whole pipeline (shingle → distinct-vote simhash → pigeonhole →
      // hamming<=3 → exact-Jaccard verify), independent of the Catalyst
      // expressions under test (see Verify.writeFixtures).
      Some("""SELECT a, b, jaccard
              FROM parquet_scan('{FIX}/_fixture_simhash/*.parquet')
              ORDER BY a, b"""),
      (s, d) => {
        prep(s)
        Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", 3, 3, 0.7)
          .orderBy("a", "b")
      }),

    QueryDef("q_dedup_embedding",
      // embedding near-dup pairs at cosine>=0.9 (empty on this corpus — the
      // pipeline still runs end-to-end; recall checked on planted vectors in
      // SimilaritySpec)
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              p AS (SELECT a.vec_id AS a, b.vec_id AS b,
                           round(list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
                    FROM e a JOIN e b ON a.vec_id < b.vec_id)
              SELECT a, b, sim FROM p WHERE sim >= 0.9 ORDER BY a, b"""),
      (s, d) => {
        prep(s)
        Similarity.embeddingNearDupPairs(t(s, d, "embeddings"), 0.9).orderBy("a", "b")
      }),

    QueryDef("q_semdedup",
      // SemDeDup (Abbas et al. 2023): corpus pruned to one representative
      // (minimum id) per embedding near-duplicate component. The oracle is
      // exact all-pairs cosine + a recursive transitive closure; this
      // corpus has no near-dups at 0.9 so the prune is a no-op here —
      // the planted-vector pruning semantics are pinned in SimilaritySpec.
      Some("""WITH RECURSIVE
              e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              p AS (SELECT a.vec_id AS a, b.vec_id AS b FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
                    WHERE round(list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.9),
              e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
              reach(a, b) AS (SELECT vec_id, vec_id FROM e0 UNION
                              SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
              grp AS (SELECT a AS vec_id, min(b) AS group_id FROM reach GROUP BY a)
              SELECT em.vec_id, em.label FROM embeddings em
              JOIN grp ON em.vec_id = grp.vec_id AND grp.group_id = grp.vec_id
              ORDER BY em.vec_id"""),
      (s, d) => {
        prep(s)
        Similarity.semDedup(t(s, d, "embeddings"), 0.9)
          .select("vec_id", "label").orderBy("vec_id")
      }),

    QueryDef("q_cluster_prune",
      // prototype-based pruning (Sorscher 2022): k-means lists via the
      // reproducible fixed-point IVF training (same centroids as
      // q_ann_ivf), cosine-to-centroid prototypicality, floor(n×0.25)
      // most-prototypical rows of each cluster marked dropped. Broadcast
      // header join + one cid shuffle; the oracle compares against a
      // Verify-written plain-Scala replica sharing only the Lloyd-mean
      // arithmetic contract.
      Some("""SELECT vec_id, cid, proto_sim, rnk, kept
              FROM parquet_scan('{FIX}/_fixture_clusterprune/*.parquet')
              ORDER BY vec_id"""),
      (s, d) => {
        prep(s)
        Similarity.prototypePrune(s, t(s, d, "embeddings"), nlist = 16,
            dropFrac = 0.25, iters = 1)
          .orderBy("vec_id")
      }),

    // ── extensions: corpus curation (sampling / decontamination / mix) ──
    QueryDef("q_sample_stratified",
      // deterministic md5-gate stratified sampling: per-source keep
      // fractions as a codegen'd predicate fused into the scan — re-runs
      // and backfills select identical rows with no RNG/seed coordination
      // (Pipeline.stratifiedSample; bounds are 8-hex-digit md5 prefixes)
      Some("""SELECT doc_id, source FROM documents
              WHERE md5(CAST(doc_id AS VARCHAR)) <
                CASE source WHEN 'src0' THEN '80000000'
                            WHEN 'src1' THEN '40000000'
                            ELSE '19999999' END
              ORDER BY doc_id"""),
      (s, d) => Pipeline.stratifiedSample(t(s, d, "documents"), "source",
          col("doc_id"), Seq("src0" -> 0.5, "src1" -> 0.25), 0.1)
        .select("doc_id", "source").orderBy("doc_id")),

    QueryDef("q_sample_weighted",
      // quality-PROPORTIONAL sampling (DCLM-style soft filter): each doc
      // keeps with probability = its quality score — better docs survive
      // more often but nothing is hard-cut. hashUniform's 60-bit md5
      // variate against the same rounded score formula q_text_stats pins.
      Some("""SELECT doc_id, source FROM documents
              WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
                    < CAST(ceil(round(least(1.0, len(string_split(lower(text),' ')) * 1.0 / 100.0) * 0.4
                         + (len(list_filter(string_split(lower(text),' '), x -> list_contains(['the','and','of','to','a','in','is'], x))) * 1.0 / len(string_split(lower(text),' '))) * 0.3
                         + (1.0 - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1.0 / length(text)) * 0.3, 6) * 1152921504606846976.0) AS BIGINT)
              ORDER BY doc_id"""),
      (s, d) => Pipeline.weightedSample(Tables.spread(t(s, d, "documents")),
          col("doc_id"), TextAnalysis.qualityScore(col("text")))
        .select("doc_id", "source").orderBy("doc_id")),

    QueryDef("q_sample_reservoir",
      // exact-k weighted sampling WITHOUT replacement per source (the
      // Efraimidis–Spirakis A-ES reservoir): 20 docs per source with
      // inclusion proportional to n_chars (token-budget-proportional
      // selection) — unlike the Bernoulli q_sample_weighted the output
      // size is exact. Deterministic: u = (md5-prefix + 1)/2^60, key =
      // ln(u)/w compared in the log domain, id tie-break; the cut is
      // the bounded top-k aggregate (≤ 20 rows per source through the
      // shuffle). Identical formula in the oracle's rank window.
      Some("""WITH w AS (SELECT doc_id, source,
                     CAST(n_chars AS DOUBLE) AS wt,
                     (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) + 1) / 1152921504606846976.0 AS u
              FROM documents),
              r AS (SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source
                       ORDER BY ln(u)/wt DESC, doc_id) AS rn
                    FROM w WHERE wt > 0)
              SELECT source, doc_id, CAST(rn AS INTEGER) AS rn
              FROM r WHERE rn <= 20 ORDER BY source, rn"""),
      (s, d) => Pipeline.weightedReservoir(
          Tables.spread(t(s, d, "documents")), "doc_id",
          col("n_chars").cast("double"), 20, groupCols = Seq("source"))
        .select(col("source"), col("doc_id"), col("rn").cast("int").as("rn"))
        .orderBy("source", "rn")),

    QueryDef("q_split_fractions",
      // deterministic 80/10/10 train/val/test assignment: one codegen'd
      // CASE over the shared md5-uniform variate — a doc's split never
      // changes across re-runs or corpus growth (Pipeline.splitByHash)
      Some("""SELECT doc_id,
                     CASE WHEN m < CAST(ceil(0.8 * 1152921504606846976.0) AS BIGINT) THEN 'train'
                          WHEN m < CAST(ceil(0.9 * 1152921504606846976.0) AS BIGINT) THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT doc_id, CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS m
                    FROM documents) ORDER BY doc_id"""),
      (s, d) => Pipeline.splitByHash(t(s, d, "documents"), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.9), "test")
        .select("doc_id", "split").orderBy("doc_id")),

    QueryDef("q_budget_cap",
      // per-source token-budget enforcement: keep each source's maximal
      // hash-ordered prefix within an 800-token budget — the mixture-spec
      // cap, deterministic with no RNG (Pipeline.capTokenBudget)
      Some("""WITH t AS (SELECT doc_id, source,
                               len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
                               CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) / 1152921504606846976.0 AS u
                        FROM documents),
              c AS (SELECT doc_id, source, sum(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id) AS cum FROM t)
              SELECT doc_id, source, CAST(cum AS BIGINT) AS cum_tokens
              FROM c WHERE cum <= 800 ORDER BY doc_id"""),
      (s, d) => Pipeline.capTokenBudget(t(s, d, "documents"), "source",
          col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long"), 800L)
        .select("doc_id", "source", "cum_tokens").orderBy("doc_id")),

    QueryDef("q_decontaminate",
      // benchmark decontamination: drop corpus docs sharing any 3-word-gram
      // with the eval slice (doc_id % 97 == 0). The gram set of the (small)
      // benchmark is broadcast; the corpus is filtered map-side
      // (Pipeline.decontaminate; 3-grams are fixture-scaled — a real
      // pipeline uses 8-13-gram overlap, same plan shape)
      Some("""WITH bench AS (SELECT doc_id, string_split(lower(text), ' ') w
                             FROM documents WHERE doc_id % 97 = 0),
              bgrams AS (SELECT DISTINCT array_to_string(w[i:i+2], ' ') g
                         FROM bench, UNNEST(range(1, greatest(len(w)-2, 1)+1)) t(i)),
              corpus AS (SELECT doc_id, source, string_split(lower(text), ' ') w
                         FROM documents WHERE doc_id % 97 <> 0),
              bad AS (SELECT DISTINCT doc_id
                      FROM (SELECT doc_id, array_to_string(w[i:i+2], ' ') g
                            FROM corpus, UNNEST(range(1, greatest(len(w)-2, 1)+1)) t(i))
                      WHERE g IN (SELECT g FROM bgrams))
              SELECT doc_id, source FROM corpus
              WHERE doc_id NOT IN (SELECT doc_id FROM bad)
              ORDER BY doc_id"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.decontaminate(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 3)
          .select("doc_id", "source").orderBy("doc_id")
      }),

    QueryDef("q_contamination_report",
      // per-doc benchmark-overlap FRACTION (threshold-style contamination
      // reporting, vs q_decontaminate's binary drop): distinct 3-gram
      // count, contaminated count, fraction — benchmark grams broadcast,
      // counted inside the per-doc aggregate the gram explode feeds
      Some("""WITH bench AS (SELECT string_split(lower(text), ' ') w FROM documents WHERE doc_id % 97 = 0),
              bg AS (SELECT DISTINCT array_to_string(w[i:i+2], ' ') g
                     FROM bench, UNNEST(range(1, greatest(len(w)-2, 1)+1)) t(i)),
              cg AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2],' ') for i in range(1, greatest(len(w)-2, 1)+1)])) AS g
                     FROM (SELECT doc_id, string_split(lower(text),' ') w FROM documents WHERE doc_id % 97 <> 0))
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN g IN (SELECT g FROM bg) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
                     round(sum(CASE WHEN g IN (SELECT g FROM bg) THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS frac
              FROM cg GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.contaminationReport(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0),
            "doc_id", "text", 3)
          .orderBy("doc_id")
      }),

    QueryDef("q_ngram_novelty",
      // per-doc 3-gram novelty against a CORPUS-SIZED reference (the
      // previous crawl epoch — here every 5th doc): the fraction of a
      // doc's distinct grams never seen before. Low novelty = redundant
      // with what the model already trained on (repeat-budget data
      // valuation); the reference joins on the GRAM KEY (co-partitioned
      // shuffle equi-join — the scale path where the benchmark
      // broadcast of q_contamination_report would OOM).
      Some("""WITH ref AS (SELECT string_split(lower(text), ' ') w FROM documents WHERE doc_id % 5 = 0),
              rg AS (SELECT DISTINCT array_to_string(w[i:i+2], ' ') g
                     FROM ref, UNNEST(range(1, greatest(len(w)-2, 1)+1)) t(i)),
              cg AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2],' ') for i in range(1, greatest(len(w)-2, 1)+1)])) AS g
                     FROM (SELECT doc_id, string_split(lower(text),' ') w FROM documents WHERE doc_id % 5 <> 0))
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN g IN (SELECT g FROM rg) THEN 0 ELSE 1 END) AS BIGINT) AS n_novel,
                     round(sum(CASE WHEN g IN (SELECT g FROM rg) THEN 0 ELSE 1 END) * 1.0 / count(*), 6) AS novelty
              FROM cg GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.ngramNovelty(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "doc_id", "text", 3)
          .orderBy("doc_id")
      }),

    QueryDef("q_mix_weighted",
      // mixture weighting by integer epoch counts: src0 ×3, src1 ×2,
      // everything else ×1 — the map-side explode that data-mixing recipes
      // use to upsample high-quality sources (Pipeline.mixEpochs)
      Some("""SELECT doc_id, source, epoch
              FROM documents,
                   UNNEST(range(1, (CASE source WHEN 'src0' THEN 3
                                                WHEN 'src1' THEN 2
                                                ELSE 1 END) + 1)) t(epoch)
              ORDER BY doc_id, epoch"""),
      (s, d) => Pipeline.mixEpochs(t(s, d, "documents"), "source",
          Seq("src0" -> 3, "src1" -> 2))
        .select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")),

    QueryDef("q_mix_fractional",
      // FRACTIONAL mixture weights (DoReMi/LLaMA-style "2.5 epochs of
      // src0"): floor(w) full copies + an extra epoch holding an md5
      // hash-gated frac(w) sample — src0 ×2.5, src1 ×0.25, rest ×1.
      // The gate key is salted ('mix:') so the draw is independent of the
      // samplers/splits sharing the raw md5(id) variate
      // (Pipeline.mixEpochsFractional; bounds are 8-hex md5 prefixes)
      Some("""WITH w AS (SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                                 ELSE 1 END AS n_full,
                     CASE source WHEN 'src0' THEN '80000000'
                                 WHEN 'src1' THEN '40000000'
                                 ELSE '00000000' END AS bound
              FROM documents)
              SELECT doc_id, source, epoch
              FROM w, UNNEST(range(1, n_full + 1 +
                     CASE WHEN md5('mix:' || CAST(doc_id AS VARCHAR)) < bound
                          THEN 1 ELSE 0 END)) t(epoch)
              ORDER BY doc_id, epoch"""),
      (s, d) => Pipeline.mixEpochsFractional(t(s, d, "documents"), "source",
          col("doc_id"), Seq("src0" -> 2.5, "src1" -> 0.25))
        .select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")),

    QueryDef("q_mix_temperature",
      // temperature-scaled mixture (α-sampling, α=0.5) composed end to
      // end: planted 50/30/20 source tiers → K-row count header →
      // Pipeline.temperatureEpochs → fractional-epoch explode. The big
      // tier lands w≈0.83 (<1: docs hash-gate DOWN to zero epochs), the
      // tail w≈1.31 (>1: every doc + a 31% extra epoch) — both sides of
      // the α curve in one oracle. Fixture oracle: the md5 gate bound for
      // data-dependent fractions and the pinned FP summation order are
      // not portably SQL-expressible (independent MessageDigest + weight
      // replica in Verify).
      Some("""SELECT doc_id, psrc, epoch
              FROM parquet_scan('{FIX}/_fixture_mixtemp/*.parquet')
              ORDER BY doc_id, epoch"""),
      (s, d) => {
        val docs = t(s, d, "documents").withColumn("psrc",
          when(col("doc_id") % 10 < 5, "big")
            .when(col("doc_id") % 10 < 8, "mid").otherwise("small"))
        val counts = docs.groupBy("psrc").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        val w = Pipeline.temperatureEpochs(counts, 0.5)
        Pipeline.mixEpochsFractional(docs, "psrc", col("doc_id"), w)
          .select("doc_id", "psrc", "epoch").orderBy("doc_id", "epoch")
      }),

    QueryDef("q_pack_sequences",
      // budget-chunked sequence packing: per-source prefix-sum windows
      // assign docs to consecutive ~2000-char packs — the tokenizer-feed
      // step; one window shuffle on source, no global order
      // (Pipeline.packSequences)
      Some("""SELECT doc_id, source,
                     CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                                    ROWS UNBOUNDED PRECEDING) - n_chars)
                                / 2000.0) AS BIGINT) AS pack_id
              FROM documents ORDER BY doc_id"""),
      (s, d) => Pipeline.packSequences(t(s, d, "documents"), "source", "doc_id",
          col("n_chars"), 2000)
        .select("doc_id", "source", "pack_id").orderBy("doc_id")),

    QueryDef("q_pack_bpe",
      // packing by LEARNED-tokenizer token counts — the actual
      // tokenizer-feed composition (train merges -> codegen-fused encode
      // -> budget-chunked packs of <= 1024 tokens). Same single window
      // shuffle as q_pack_sequences; the token counts fuse into the scan.
      // The oracle windows over the independently-replicated encode
      // fixture joined back to the corpus.
      Some("""WITH tok AS (SELECT doc_id, n_tokens
                           FROM parquet_scan('{FIX}/_fixture_bpeencode/*.parquet'))
              SELECT d.doc_id, d.source,
                     CAST(floor((sum(t.n_tokens) OVER (PARTITION BY d.source ORDER BY d.doc_id
                                                       ROWS UNBOUNDED PRECEDING) - t.n_tokens)
                                / 1024.0) AS BIGINT) AS pack_id
              FROM documents d JOIN tok t ON d.doc_id = t.doc_id
              ORDER BY d.doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents")).filter(col("text").isNotNull)
        val merges = Tokenizer.bpeTrain(docs, "text", 60)
        val withToks = docs.withColumn("n_tokens",
          size(Tokenizer.encode(col("text"), merges)).cast("long"))
        Pipeline.packSequences(withToks, "source", "doc_id", col("n_tokens"), 1024)
          .select("doc_id", "source", "pack_id").orderBy("doc_id")
      }),

    QueryDef("q_length_quantiles",
      // sequence-length distribution per source — the analytic that sizes
      // packing budgets and max-sequence-length cuts. EXACT interpolated
      // percentiles (Spark `percentile` == DuckDB `quantile_cont`, both
      // linear interpolation at rank (n-1)p), rounded 6dp against float
      // artifacts; one partial->final agg, sort state bounded per source
      Some("""SELECT source,
                     round(quantile_cont(n_chars, 0.5),  6) AS p50,
                     round(quantile_cont(n_chars, 0.9),  6) AS p90,
                     round(quantile_cont(n_chars, 0.99), 6) AS p99,
                     CAST(min(n_chars) AS BIGINT) AS min_chars,
                     CAST(max(n_chars) AS BIGINT) AS max_chars
              FROM documents GROUP BY source ORDER BY source"""),
      (s, d) => t(s, d, "documents")
        .groupBy("source")
        .agg(
          round(expr("percentile(n_chars, 0.5D)"), 6).as("p50"),
          round(expr("percentile(n_chars, 0.9D)"), 6).as("p90"),
          round(expr("percentile(n_chars, 0.99D)"), 6).as("p99"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("source")),

    QueryDef("q_quality_keep_rate",
      // "keep the best 25%" stated directly: the gate threshold is the
      // exact interpolated 75th percentile of the score (the
      // quantile_cont/percentile parity q_length_quantiles pins),
      // computed in one global agg and broadcast back over the scan —
      // no hand-tuned absolute threshold to rot between crawl epochs.
      // Ties at the threshold keep everything equal to it.
      Some("""WITH t AS (SELECT quantile_cont(n_chars, 0.75) AS thr
                         FROM documents)
              SELECT doc_id, n_chars, round(thr, 6) AS thr
              FROM documents, t WHERE n_chars >= thr
              ORDER BY doc_id"""),
      (s, d) => Quality.gateAtKeepRate(
          t(s, d, "documents").select("doc_id", "n_chars"),
          "n_chars", keepRate = 0.25)
        .orderBy("doc_id")),

    QueryDef("q_pack_shuffled",
      // shuffle-then-pack: the training-order shape — docs pack in
      // DETERMINISTIC md5 hash order within each source (content-addressed
      // shuffle; no RNG, no global sort), then chunk into ~2000-char packs.
      // Same single window shuffle as q_pack_sequences, just keyed on the
      // hash order column
      Some("""WITH sh AS (SELECT doc_id, source, n_chars,
                     md5('s7:' || CAST(doc_id AS VARCHAR)) AS sk
              FROM documents)
              SELECT doc_id, source,
                     CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY sk
                                                    ROWS UNBOUNDED PRECEDING) - n_chars)
                                / 2000.0) AS BIGINT) AS pack_id
              FROM sh ORDER BY doc_id"""),
      (s, d) => Pipeline.packSequences(
          t(s, d, "documents")
            .withColumn("sk", md5(concat(lit("s7:"), col("doc_id").cast("string")))),
          "source", "sk", col("n_chars"), 2000)
        .select("doc_id", "source", "pack_id").orderBy("doc_id")),

    QueryDef("q_shuffle_ordinal",
      // seeded GLOBAL corpus shuffle with each row's 0-based position —
      // the training-order checkpoint coordinate (where q_pack_shuffled
      // orders within a source, this is the whole-corpus permutation).
      // Two-level prefix sum: order-aligned md5-prefix buckets, ONE hash
      // shuffle on 256 uniform keys + a bounded 256-row offset header —
      // no single-partition window, no RangePartitioner sampling
      // (Pipeline.shuffledOrdinal)
      Some("""SELECT doc_id,
                     row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
                                        doc_id) - 1 AS pos
              FROM documents ORDER BY doc_id"""),
      (s, d) => Pipeline.shuffledOrdinal(t(s, d, "documents"), col("doc_id"), 42)
        .select("doc_id", "pos").orderBy("doc_id")),

    QueryDef("q_shard_budget",
      // token-budget shard assignment over the seeded-shuffled order —
      // the GLOBAL form of q_pack_sequences: shard i covers the docs
      // whose cumulative size starts in [i·5000, (i+1)·5000). Same
      // two-level prefix sum as q_shuffle_ordinal with per-bucket token
      // sums as the bounded header (Pipeline.assignShardsByBudget)
      Some("""SELECT doc_id, n_chars,
                     CAST(floor((sum(n_chars) OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
                                                    ROWS UNBOUNDED PRECEDING) - n_chars)
                                / 5000.0) AS BIGINT) AS shard
              FROM documents ORDER BY doc_id"""),
      (s, d) => Pipeline.assignShardsByBudget(t(s, d, "documents"),
          col("doc_id"), 42, col("n_chars"), 5000)
        .select("doc_id", "n_chars", "shard").orderBy("doc_id")),

    QueryDef("q_shard_manifest",
      // shard-level manifest (shard → docs + tokens): the sidecar a data
      // loader reads next to the shard files. One shard-keyed aggregation
      // over the assignment — manifest rows, not corpus rows, come back
      // (Pipeline.shardManifest)
      Some("""WITH a AS (SELECT doc_id, n_chars,
                     CAST(floor((sum(n_chars) OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
                                                    ROWS UNBOUNDED PRECEDING) - n_chars)
                                / 5000.0) AS BIGINT) AS shard
              FROM documents)
              SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_tokens
              FROM a GROUP BY shard ORDER BY shard"""),
      (s, d) => Pipeline.shardManifest(
          Pipeline.assignShardsByBudget(t(s, d, "documents"),
            col("doc_id"), 42, col("n_chars"), 5000),
          col("n_chars"))
        .orderBy("shard")),

    QueryDef("q_shard_append",
      // the persistent-corpus steady-state path: save a sharded corpus
      // (partitioned data + manifest + meta), APPEND a second batch —
      // which continues the cumulative token line, topping up the last
      // partial shard before opening new ones, with zero rewrite of
      // existing partitions — and read the directory back. The oracle is
      // an independent plain-Scala replica of the two-batch cumulative
      // sharding (Pipeline.saveShardedCorpus / appendShardedCorpus)
      Some("""SELECT doc_id, n_chars, shard
              FROM parquet_scan('{FIX}/_fixture_shardappend/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val dir = tmpDir("graft-shards")
        Pipeline.saveShardedCorpus(docs.filter(col("doc_id") % 2 === 0),
          col("doc_id"), 42, col("n_chars"), 5000, dir.toString)
        Pipeline.appendShardedCorpus(s, dir.toString,
          docs.filter(col("doc_id") % 2 =!= 0), col("doc_id"), col("n_chars"))
        s.read.parquet(s"$dir/data")
          // the shard partition directory reads back via partition-value
          // inference (int for small ids) — pin the contract types
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            col("shard").cast("long").as("shard"))
          .orderBy("doc_id")
      }),

    QueryDef("q_pack_emit",
      // pack EMISSION: concatenate each pack's docs in doc order into one
      // training record (the step after q_pack_sequences assigns ids).
      // One hash agg on (source, pack_id); per-group state is bounded by
      // the pack budget (Pipeline.emitPacked).
      Some("""WITH p AS (SELECT doc_id, source, text,
                     CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                                    ROWS UNBOUNDED PRECEDING) - n_chars)
                                / 2000.0) AS BIGINT) AS pack_id
              FROM documents)
              SELECT source, pack_id, count(*) AS n_docs,
                     string_agg(text, ' ' ORDER BY doc_id) AS pack_text
              FROM p GROUP BY source, pack_id ORDER BY source, pack_id"""),
      (s, d) => Pipeline.emitPacked(
          Pipeline.packSequences(t(s, d, "documents"), "source", "doc_id",
            col("n_chars"), 2000),
          "source", "doc_id", "text")
        .orderBy("source", "pack_id")),

    QueryDef("q_pack_records",
      // the END of the tokenizer feed: BPE-id packs emitted as training
      // RECORDS — concatenated id stream + doc-boundary offsets per pack
      // (the Megatron .bin/.idx shape; boundaries reset attention across
      // packed docs). Train → encode-to-ids → budget-pack → one bounded
      // (source, pack) aggregation. Oracle = independent replica of the
      // whole chain (vocab, encoder, packing, boundary scan).
      Some("""SELECT source, pack_id, n_docs, n_tokens, ids_head, boundaries
              FROM parquet_scan('{FIX}/_fixture_packrecords/*.parquet')
              ORDER BY source, pack_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents")).filter(col("text").isNotNull)
        val (merges, vocabDf) = Tokenizer.bpeTrainWithVocab(docs, "text", 60)
        val vocab = vocabDf
          .orderBy("id").collect().map(_.getString(0)).toSeq
        val withIds = docs
          .withColumn("ids", Tokenizer.encodeIds(col("text"), merges, vocab))
          .withColumn("n_tokens", size(col("ids")).cast("long"))
        val packed = Pipeline.packSequences(withIds, "source", "doc_id",
          col("n_tokens"), 1024)
        Pipeline.emitPackedIds(packed, "source", "doc_id", "ids")
          .select(col("source"), col("pack_id"), col("n_docs"),
            size(col("token_ids")).cast("long").as("n_tokens"),
            concat_ws("|", slice(col("token_ids"), 1, 12)).as("ids_head"),
            concat_ws("|", col("boundaries")).as("boundaries"))
          .orderBy("source", "pack_id")
      }),

    QueryDef("q_pipeline_e2e",
      // the four curation stages COMPOSED as one DAG, the way a real
      // pipeline runs them: quality keep-filter → exact-dedup prune
      // (canonical id per digest) → deterministic stratified sample →
      // budget-chunked packing. Every stage reuses its graded operator;
      // the oracle chains the same stage fragments as CTEs.
      Some("""WITH d AS (SELECT doc_id, source, n_chars, text, string_split(lower(text),' ') AS w, length(text) AS nc FROM documents),
              g2 AS (SELECT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, greatest(len(w), 2))]) AS g FROM d),
              c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1,2),
              s2 AS (SELECT doc_id, sum(CASE WHEN cnt>1 THEN cnt*length(g) ELSE 0 END) AS dup2 FROM c2 GROUP BY 1),
              q AS (SELECT d.doc_id, len(d.w) AS nw, s2.dup2 * 1.0 / d.nc AS dupf,
                      round(least(1.0, len(d.w) * 1.0 / 100.0) * 0.4
                        + (len(list_filter(d.w, x -> list_contains(['the','and','of','to','a','in','is'], x))) * 1.0 / len(d.w)) * 0.3
                        + (1.0 - length(regexp_replace(lower(d.text), '[a-z0-9 ]', '', 'g')) * 1.0 / d.nc) * 0.3, 6) AS qual
                    FROM d JOIN s2 USING (doc_id)),
              kept AS (SELECT d.doc_id, d.source, d.n_chars, d.text FROM d JOIN q USING (doc_id)
                       WHERE q.nw >= 30 AND q.nw <= 70 AND q.dupf < 0.2 AND q.qual >= 0.45),
              canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(lower(text))),
              dd AS (SELECT k.doc_id, k.source, k.n_chars FROM kept k JOIN canon USING (doc_id)),
              samp AS (SELECT doc_id, source, n_chars FROM dd
                       WHERE md5(CAST(doc_id AS VARCHAR)) <
                         CASE source WHEN 'src0' THEN '80000000'
                                     WHEN 'src1' THEN '40000000'
                                     ELSE '19999999' END)
              SELECT doc_id, source,
                     CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                                    ROWS UNBOUNDED PRECEDING) - n_chars)
                                / 2000.0) AS BIGINT) AS pack_id
              FROM samp ORDER BY doc_id"""),
      (s, d) => {
        val nw = size(TextAnalysis.words(col("text")))
        val nc = length(col("text"))
        val dupf = Quality.ngramRunStats(col("text"), 2).getField("dup_chars") * lit(1.0) / nc
        val qual = TextAnalysis.qualityScore(col("text"))
        val kept = Tables.spread(t(s, d, "documents"))
          .filter(nw >= 30 && nw <= 70 && dupf < 0.2 && qual >= 0.45)
        val canon = Dedup.exact(kept, "doc_id", "text")
          .select(col("canonical_id").as("doc_id"))
        val dd = kept.join(canon, Seq("doc_id"), "left_semi")
        val sampled = Pipeline.stratifiedSample(dd, "source", col("doc_id"),
          Seq("src0" -> 0.5, "src1" -> 0.25), 0.1)
        Pipeline.packSequences(sampled, "source", "doc_id", col("n_chars"), 2000)
          .select("doc_id", "source", "pack_id").orderBy("doc_id")
      }),

    QueryDef("q_zorder",
      // Morton z-values over (l_partkey, l_suppkey) — the 2-d clustering
      // key under Layout.zorderRepartition (Delta OPTIMIZE ZORDER shape;
      // LayoutSpec demonstrates the file-pruning win with footer
      // min/max). The oracle restates the interleaving as the identical
      // shift/mask chain; grouping by z totals every row's value.
      Some {
        val terms = (0 until 16).flatMap(i => Seq(
          s"(((l_partkey >> $i) & 1) << ${2 * i})",
          s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
        s"""SELECT ($terms) AS z, count(*) AS n
            FROM lineitem GROUP BY 1 ORDER BY z"""
      },
      (s, d) => {
        prep(s)
        t(s, d, "lineitem")
          .select(call_function("z_value",
            col("l_partkey"), col("l_suppkey"), lit(16)).as("z"))
          .groupBy("z").agg(count(lit(1)).as("n"))
          .orderBy("z")
      }),

    QueryDef("q_zorder_nd",
      // N-dimensional Morton z-values (Delta's OPTIMIZE ZORDER takes 3-4
      // columns, not 2): bit i·3+k of z is dimension k's bit i — the
      // generalized z_value kernel over (l_partkey, l_suppkey,
      // l_linenumber) at 10 bits/dim (bits×dims ≤ 63). The oracle
      // restates the 3-way shift/mask chain term by term; LayoutSpec
      // demonstrates 3-d box pruning against real footer statistics.
      Some {
        val terms = (0 until 10).flatMap(i => Seq(
          s"(((l_partkey >> $i) & 1) << ${3 * i})",
          s"(((l_suppkey >> $i) & 1) << ${3 * i + 1})",
          s"(((l_linenumber >> $i) & 1) << ${3 * i + 2})")).mkString(" | ")
        s"""SELECT ($terms) AS z, count(*) AS n
            FROM lineitem GROUP BY 1 ORDER BY z"""
      },
      (s, d) => {
        prep(s)
        t(s, d, "lineitem")
          .select(call_function("z_value", col("l_partkey"),
            col("l_suppkey"), col("l_linenumber"), lit(10)).as("z"))
          .groupBy("z").agg(count(lit(1)).as("n"))
          .orderBy("z")
      }),

    QueryDef("q_curation_funnel",
      // the FUNNEL REPORT over q_pipeline_e2e's stages — what survives
      // quality → exact-dedup → stratified sampling, per source (the
      // data card every curation run publishes). Stage verdicts compute
      // as CUMULATIVE boolean flags in one DAG — one digest-keyed window
      // for the canonical-id verdict, one source aggregation; no
      // per-stage jobs, no re-scans.
      Some("""WITH d AS (SELECT doc_id, source, text, string_split(lower(text),' ') AS w, length(text) AS nc FROM documents),
              g2 AS (SELECT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, greatest(len(w), 2))]) AS g FROM d),
              c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1,2),
              s2 AS (SELECT doc_id, sum(CASE WHEN cnt>1 THEN cnt*length(g) ELSE 0 END) AS dup2 FROM c2 GROUP BY 1),
              q AS (SELECT d.doc_id, len(d.w) AS nw, s2.dup2 * 1.0 / d.nc AS dupf,
                      round(least(1.0, len(d.w) * 1.0 / 100.0) * 0.4
                        + (len(list_filter(d.w, x -> list_contains(['the','and','of','to','a','in','is'], x))) * 1.0 / len(d.w)) * 0.3
                        + (1.0 - length(regexp_replace(lower(d.text), '[a-z0-9 ]', '', 'g')) * 1.0 / d.nc) * 0.3, 6) AS qual
                    FROM d JOIN s2 USING (doc_id)),
              f AS (SELECT d.doc_id, d.source, d.text,
                      COALESCE(q.nw >= 30 AND q.nw <= 70 AND q.dupf < 0.2 AND q.qual >= 0.45, false) AS pass_q
                    FROM d LEFT JOIN q USING (doc_id)),
              f2 AS (SELECT *, pass_q AND doc_id = min(CASE WHEN pass_q THEN doc_id END)
                       OVER (PARTITION BY md5(lower(text))) AS pass_d FROM f),
              f3 AS (SELECT *, pass_d AND md5(CAST(doc_id AS VARCHAR)) <
                       (CASE source WHEN 'src0' THEN '80000000'
                                    WHEN 'src1' THEN '40000000'
                                    ELSE '19999999' END) AS pass_s FROM f2)
              SELECT source, count(*) AS n_raw,
                     CAST(sum(CAST(pass_q AS INT)) AS BIGINT) AS n_quality,
                     CAST(sum(CAST(pass_d AS INT)) AS BIGINT) AS n_dedup,
                     CAST(sum(CAST(pass_s AS INT)) AS BIGINT) AS n_sampled
              FROM f3 GROUP BY source ORDER BY source"""),
      (s, d) => {
        val nw = size(TextAnalysis.words(col("text")))
        val nc = length(col("text"))
        val dupf = Quality.ngramRunStats(col("text"), 2).getField("dup_chars") * lit(1.0) / nc
        val qual = TextAnalysis.qualityScore(col("text"))
        val passQ = coalesce(nw >= 30 && nw <= 70 && dupf < 0.2 && qual >= 0.45,
          lit(false))
        val wD = Window.partitionBy(md5(lower(col("text"))))
        val gate = when(col("source") === "src0", Pipeline.hashGate(col("doc_id"), 0.5))
          .when(col("source") === "src1", Pipeline.hashGate(col("doc_id"), 0.25))
          .otherwise(Pipeline.hashGate(col("doc_id"), 0.1))
        Tables.spread(t(s, d, "documents"))
          .withColumn("pass_q", passQ)
          .withColumn("pass_d", col("pass_q") &&
            col("doc_id") === min(when(col("pass_q"), col("doc_id"))).over(wD))
          .withColumn("pass_s", col("pass_d") && gate)
          .groupBy("source")
          .agg(count(lit(1)).as("n_raw"),
            sum(col("pass_q").cast("long")).as("n_quality"),
            sum(col("pass_d").cast("long")).as("n_dedup"),
            sum(col("pass_s").cast("long")).as("n_sampled"))
          .orderBy("source")
      }),

    QueryDef("q_feed_e2e",
      // corpus → TRAINING RECORDS end-to-end: quality gate → exact-dedup
      // prune → content-addressed shuffle order → budget packing → pack
      // emission. Extends q_pipeline_e2e's pack-id DAG to the emitted
      // feed; one corpus scan, one dedup agg, one window shuffle, one
      // (source, pack) agg that reuses the window's partitioning.
      Some("""WITH q AS (SELECT doc_id, source, n_chars, text FROM documents
                     WHERE round(least(1.0, len(string_split(lower(text),' ')) * 1.0 / 100.0) * 0.4
                       + (len(list_filter(string_split(lower(text),' '), x -> list_contains(['the','and','of','to','a','in','is'], x))) * 1.0 / len(string_split(lower(text),' '))) * 0.3
                       + (1.0 - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1.0 / length(text)) * 0.3, 6) >= 0.5),
              canon AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(lower(text))),
              dd AS (SELECT k.* FROM q k JOIN canon USING (doc_id)),
              sh AS (SELECT doc_id, source, n_chars, text,
                       md5('s7:' || CAST(doc_id AS VARCHAR)) AS sk FROM dd),
              p AS (SELECT doc_id, source, text,
                       CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY sk
                                                      ROWS UNBOUNDED PRECEDING) - n_chars)
                                  / 2000.0) AS BIGINT) AS pack_id
                    FROM sh)
              SELECT source, pack_id, count(*) AS n_docs,
                     string_agg(text, ' ' ORDER BY doc_id) AS pack_text
              FROM p GROUP BY source, pack_id ORDER BY source, pack_id"""),
      (s, d) => {
        val q = Tables.spread(t(s, d, "documents"))
          .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        val canon = Dedup.exact(q, "doc_id", "text")
          .select(col("canonical_id").as("doc_id"))
        val dd = q.join(canon, Seq("doc_id"), "left_semi")
        val packed = Pipeline.packSequences(
          dd.withColumn("sk", md5(concat(lit("s7:"), col("doc_id").cast("string")))),
          "source", "sk", col("n_chars"), 2000)
        Pipeline.emitPacked(packed, "source", "doc_id", "text")
          .orderBy("source", "pack_id")
      }),

    QueryDef("q_ingest_e2e",
      // the incremental-ingest tier COMPOSED as one DAG: crawl (re-crawled
      // pages under fresh ids + genuinely new pages) → Bloom-prefiltered
      // exact dedup vs the corpus → cross-corpus near-dup drop (LSH with
      // the same recall contract as q_dedup_cross_corpus) → deterministic
      // 90/10 train/val tagging. Every stage reuses its graded operator;
      // the oracle chains the exact-SQL stage fragments. After exact dedup
      // all surviving crawl ids are odd, so the cross-parity orientation
      // of the near-dup oracle carries over unchanged.
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
              crawl AS (SELECT doc_id + 100000 AS doc_id, source, text FROM documents WHERE doc_id % 4 = 0
                        UNION ALL SELECT doc_id, source, text FROM documents WHERE doc_id % 2 = 1),
              ek AS (SELECT c.* FROM crawl c WHERE NOT EXISTS (SELECT 1 FROM corpus k WHERE lower(k.text) = lower(c.text))),
              u AS (SELECT doc_id, text FROM ek UNION ALL SELECT doc_id, text FROM corpus),
              d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM u),
              sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))])) AS s FROM d),
              sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
              j AS (SELECT p.a, p.b FROM p JOIN sz sx ON p.a = sx.doc_id JOIN sz sy ON p.b = sy.doc_id
                    WHERE round(p.c * 1.0 / (sx.n + sy.n - p.c), 6) >= 0.7),
              dup_new AS (SELECT DISTINCT CASE WHEN a % 2 = 1 THEN a ELSE b END AS doc_id
                          FROM j WHERE (a % 2) <> (b % 2)),
              surv AS (SELECT doc_id, source FROM ek WHERE doc_id NOT IN (SELECT doc_id FROM dup_new))
              SELECT doc_id, source,
                     CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
                               < CAST(ceil(0.9 * 1152921504606846976.0) AS BIGINT)
                          THEN 'train' ELSE 'val' END AS split
              FROM surv ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") % 2 === 0)
        val crawl = docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("source"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 2 === 1)
            .select("doc_id", "source", "text"))
        // the exact-dedup output feeds four downstream subplans (LSH
        // union, candidate rescan, new-side tagging, final anti-join);
        // Spark reuses exchanges, not arbitrary subtrees, so materialize
        // the stage once — the single-JVM stand-in for the durable
        // stage-output write a production pipeline does here anyway
        val exactKept = Dedup.bloomIngestDedup(crawl, corpus, "doc_id", "text",
          5000L, 0.03).localCheckpoint()
        val dupNew = Dedup.crossCorpusNearDups(exactKept, corpus,
            "doc_id", "text", 3, 0.7)
          .select(col("new_id").as("doc_id")).distinct()
        val surv = exactKept.join(dupNew, Seq("doc_id"), "left_anti")
        Pipeline.splitByHash(surv, col("doc_id"), Seq("train" -> 0.9), "val")
          .select("doc_id", "source", "split").orderBy("doc_id")
      }),

    // ── extensions: similarity search ──────────────────────────────────
    QueryDef("q_ann_topk",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
              sc AS (SELECT query_id, e.vec_id AS neighbor_id,
                            round(list_dot_product(e.emb, qe) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(qe, qe))), 6) AS sim
                     FROM e, q WHERE e.vec_id <> query_id),
              r AS (SELECT query_id, neighbor_id, sim,
                           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                    FROM sc)
              SELECT query_id, neighbor_id, sim, CAST(rnk AS INTEGER) AS rnk FROM r WHERE rnk <= 10
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 10)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_retrieval_mmr",
      // MMR-diversified retrieval (Carbonell & Goldstein 1998): per
      // query, greedily pick 5 of the top-12 ANN candidates maximizing
      // λ·rel − (1−λ)·max-sim-to-selected (λ = 0.7) — the
      // diversification pass between ANN and a consumer that wants
      // coverage, not five near-duplicates of the best hit. The greedy
      // runs per-query inside flatMapGroups over the BOUNDED candidate
      // pool, comparing exact micro-unit LONG scores (λ = 7/10 as a
      // rational); the oracle unrolls the same integer selection to
      // five CTE stages with doc-asc ties — the identical total order.
      Some(mmrOracle(nQueries = 3, nCand = 12, k = 5,
        lambdaNum = 7, lambdaDen = 10)),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val cands = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 12)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("sim").as("rel"))
          .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        Similarity.mmrRerank(cands, k = 5, lambdaNum = 7, lambdaDen = 10)
          .orderBy("query_id", "rank")
      }),

    QueryDef("q_label_centroids",
      // per-label mean embedding (the class-geometry table classifier
      // diagnostics and per-class drift read): one posexplode
      // aggregation onto the 10-label × 64-dim key space, fixed-point
      // long sums, 6-dp means — the identical round/sum/divide chain in
      // both engines.
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
                         FROM embeddings
                         WHERE embedding IS NOT NULL AND label IS NOT NULL),
              p AS (SELECT label,
                           unnest(generate_series(1, len(emb))) - 1 AS pos,
                           unnest(emb) AS x
                    FROM e)
              SELECT label, CAST(pos AS INTEGER) AS pos,
                     round(CAST(sum(CAST(round(x * 16777216) AS BIGINT)) AS DOUBLE)
                           / count(*) / 16777216, 6) AS m,
                     count(*) AS n
              FROM p GROUP BY 1, 2 ORDER BY label, pos"""),
      (s, d) => Similarity.labelCentroids(t(s, d, "embeddings"), "label")
        .orderBy("label", "pos")),

    QueryDef("q_centroid_affinity",
      // the confusable-class matrix: pairwise cosine between label
      // centroids (close centroids = classes the space barely
      // separates). Products and norms round to integer micros and sum
      // as longs; everything runs on the labels×dim table, never the
      // corpus.
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
                         FROM embeddings
                         WHERE embedding IS NOT NULL AND label IS NOT NULL),
              p AS (SELECT label,
                           unnest(generate_series(1, len(emb))) - 1 AS pos,
                           unnest(emb) AS x
                    FROM e),
              cent AS (SELECT label, pos,
                              round(CAST(sum(CAST(round(x * 16777216) AS BIGINT)) AS DOUBLE)
                                    / count(*) / 16777216, 6) AS m
                       FROM p GROUP BY 1, 2),
              n2 AS (SELECT label,
                            sum(CAST(round(m * m * 1000000) AS BIGINT)) AS s2
                     FROM cent GROUP BY 1),
              ab AS (SELECT a.label AS label_a, b.label AS label_b,
                            sum(CAST(round(a.m * b.m * 1000000) AS BIGINT)) AS sab
                     FROM cent a JOIN cent b
                       ON a.pos = b.pos AND a.label < b.label
                     GROUP BY 1, 2)
              SELECT label_a, label_b,
                     round(CAST(sab AS DOUBLE) / 1000000 /
                       sqrt((CAST(na.s2 AS DOUBLE) / 1000000) *
                            (CAST(nb.s2 AS DOUBLE) / 1000000)), 6) AS sim
              FROM ab
              JOIN n2 na ON na.label = ab.label_a
              JOIN n2 nb ON nb.label = ab.label_b
              ORDER BY label_a, label_b"""),
      (s, d) => Similarity.centroidAffinity(
          Similarity.labelCentroids(t(s, d, "embeddings"), "label"))
        .orderBy("label_a", "label_b")),

    QueryDef("q_ann_filtered",
      // attribute-filtered vector search (the Faiss IDSelector shape):
      // top-10 neighbors among label=1 vectors only. The predicate
      // evaluates inside the cid-pruned LOADED list scan — it pushes
      // into the parquet read (PushedFilters, plan-guarded), so a
      // selective filter cuts bytes, not just scored rows. Probing is
      // exhaustive here, which makes the composition exactly brute
      // force over the filtered corpus — hence a DIRECT DuckDB oracle
      // (queries stay unfiltered; only neighbors are).
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
              sc AS (SELECT query_id, e.vec_id AS neighbor_id,
                            round(list_dot_product(e.emb, qe) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(qe, qe))), 6) AS sim
                     FROM e, q WHERE e.vec_id <> query_id AND e.label = 1),
              r AS (SELECT query_id, neighbor_id, sim,
                           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                    FROM sc)
              SELECT query_id, neighbor_id, sim, CAST(rnk AS INTEGER) AS rnk
              FROM r WHERE rnk <= 10
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivf-filt")
        AnnIndex.train(s, emb, nlist = 16, iters = 1,
          keep = Seq("label")).save(dir.toString)
        AnnIndex.load(s, dir.toString).search(emb.filter(col("vec_id") < 8), 10,
            nprobe = 16, predicate = Some(col("label") === 1))
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_mrl",
      // Matryoshka prefix-dimension retrieval (Kusupati et al. 2022):
      // candidates score on the first 16 of 64 coordinates (4× less
      // scan arithmetic; a column-pruned store reads proportionally
      // fewer bytes), then the bounded candidate set exact-reranks on
      // the full vectors through the broadcast join. Unlike the trained
      // ANN tiers this has no training state, so the oracle is DIRECT
      // DuckDB SQL: prefix-slice cosine top-40, full-cosine rerank to
      // top-10, identical tie-breaks.
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              p AS (SELECT vec_id, emb[1:16] AS pe, emb FROM e),
              q AS (SELECT vec_id AS query_id, pe AS qpe, emb AS qe
                    FROM p WHERE vec_id < 8),
              sc AS (SELECT query_id, p.vec_id AS neighbor_id,
                            round(list_dot_product(p.pe, qpe) / (sqrt(list_dot_product(p.pe, p.pe)) * sqrt(list_dot_product(qpe, qpe))), 6) AS psim
                     FROM p, q WHERE p.vec_id <> query_id),
              cand AS (SELECT query_id, neighbor_id,
                              row_number() OVER (PARTITION BY query_id ORDER BY psim DESC, neighbor_id) AS prnk
                       FROM sc),
              re AS (SELECT c.query_id, c.neighbor_id,
                            round(list_dot_product(n.emb, q.qe) / (sqrt(list_dot_product(n.emb, n.emb)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS sim
                     FROM cand c
                     JOIN e n ON n.vec_id = c.neighbor_id
                     JOIN q ON q.query_id = c.query_id
                     WHERE c.prnk <= 40),
              r AS (SELECT query_id, neighbor_id, sim,
                           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                    FROM re)
              SELECT query_id, neighbor_id, sim, CAST(rnk AS INTEGER) AS rnk
              FROM r WHERE rnk <= 10
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        Similarity.mrlTopK(emb, emb.filter(col("vec_id") < 8), 10,
            prefixDim = 16, rerank = 4)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_contamination_semantic",
      // embedding-space benchmark decontamination (the semantic
      // counterpart of n-gram q_contamination): corpus vectors whose max
      // cosine against any benchmark vector (vec_id < 8 stands in for
      // the test set) reaches 0.3 flag for removal. The benchmark ships
      // as ONE broadcast row and the max fold fuses into the corpus
      // scan — zero shuffles.
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                         FROM embeddings),
              q AS (SELECT emb AS qe FROM e WHERE vec_id < 8),
              c AS (SELECT vec_id, emb FROM e WHERE vec_id >= 8),
              s AS (SELECT c.vec_id,
                           max(round(list_dot_product(c.emb, qe) /
                             (sqrt(list_dot_product(c.emb, c.emb)) *
                              sqrt(list_dot_product(qe, qe))), 6)) AS max_sim
                    FROM c, q GROUP BY 1)
              SELECT vec_id, max_sim FROM s
              WHERE max_sim >= CAST(0.3 AS DOUBLE) ORDER BY vec_id"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        Similarity.semanticContamination(
            emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8),
            threshold = 0.3)
          .orderBy("vec_id")
      }),

    QueryDef("q_ann_lsh",
      // LSH-bucketed ANN (scale path). Approximate vs brute force but
      // DETERMINISTIC (seeded hyperplanes), so the oracle compares against
      // a Verify-written fixture: a plain-Scala driver-side re-run of
      // chunk candidates + exact re-score + top-k (see Verify.writeFixtures)
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annlsh/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), 10)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_knn_join",
      // distributed KNN JOIN: top-k neighbors for EVERY vector of a
      // corpus-sized query set (batch retrieval / cross-corpus SemDeDup
      // shape). Same probes/candidates/scoring as q_ann_ivf but the
      // probe routes stay DISTRIBUTED — a plain (cid, salt) equi-join
      // against the cid-partitioned lists instead of a broadcast, with
      // deterministic salt-2 list splitting (results salt-invariant).
      // Oracle = the independent IVF replica run over every query.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annknnjoin/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-knnj")
        AnnIndex.train(s, emb, nlist = 16, iters = 1).save(dir.toString)
        AnnIndex.load(s, dir.toString).knnJoin(emb, k = 5, nprobe = 4, salt = 2)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_ivf",
      // IVF probe search over the PERSISTENT index (scale path): train on a
      // sample, save the cid-partitioned lists, probe through the loaded
      // index so the graded scan is the partition-pruned lists/cid=K/ read
      // — the actual 100 TB shape. Approximate vs brute force but
      // REPRODUCIBLE (fixed-point Lloyd means, strided seeds), so the
      // oracle compares against a Verify-written plain-Scala re-run of the
      // whole train/assign/probe/rescore path (see Verify.writeFixtures);
      // exactness at nprobe == nlist additionally asserted in
      // SimilaritySpec and oracle-checked via q_ann_ivf_exhaustive.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annivf/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivf")
        AnnIndex.train(s, emb, nlist = 16, iters = 1).save(dir.toString)
        AnnIndex.load(s, dir.toString).search(emb.filter(col("vec_id") < 8), 10)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_ivf_exhaustive",
      // the SAME persistent-IVF machinery as q_ann_ivf but probing every
      // list (nprobe == nlist): distances inside probed lists are exact, so
      // an exhaustive probe must reproduce brute force bit-for-bit — which
      // IS SQL-expressible. This puts the whole train/save/load/probe path
      // under the DuckDB hash gate; only the recall trade of partial
      // probing remains spec-gated.
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
              sc AS (SELECT query_id, e.vec_id AS neighbor_id,
                            round(list_dot_product(e.emb, qe) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(qe, qe))), 6) AS sim
                     FROM e, q WHERE e.vec_id <> query_id),
              r AS (SELECT query_id, neighbor_id, sim,
                           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                    FROM sc)
              SELECT query_id, neighbor_id, sim, CAST(rnk AS INTEGER) AS rnk FROM r WHERE rnk <= 10
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivf-ex")
        AnnIndex.train(s, emb, nlist = 16, iters = 1).save(dir.toString)
        AnnIndex.load(s, dir.toString)
          .search(emb.filter(col("vec_id") < 8), 10, nprobe = 16)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_ivf_append",
      // the INCREMENTAL-ingest IVF path: train+save on the first 400
      // vectors, append the rest against the saved centroids (no
      // retrain — the steady-state crawl shape), then probe every list of
      // the appended index. Exhaustive probing is exact, so the result
      // must equal brute force over the UNION corpus bit-for-bit — which
      // is SQL-expressible, putting append placement + scoring under the
      // DuckDB hash gate.
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
              sc AS (SELECT query_id, e.vec_id AS neighbor_id,
                            round(list_dot_product(e.emb, qe) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(qe, qe))), 6) AS sim
                     FROM e, q WHERE e.vec_id <> query_id),
              r AS (SELECT query_id, neighbor_id, sim,
                           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                    FROM sc)
              SELECT query_id, neighbor_id, sim, CAST(rnk AS INTEGER) AS rnk FROM r WHERE rnk <= 10
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivf-app")
        AnnIndex.train(s, emb.filter(col("vec_id") < 400), nlist = 16, iters = 1)
          .save(dir.toString)
        AnnIndex.append(s, dir.toString, emb.filter(col("vec_id") >= 400))
        AnnIndex.load(s, dir.toString)
          .search(emb.filter(col("vec_id") < 8), 10, nprobe = 16)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_sample_clustered",
      // cluster-balanced sampling (DataComp-style diversity cut): k-means
      // assignment with seeds-as-centroids (iters=0 — the Lloyd-refined
      // variant is spec-gated; seeded assignment is SQL-expressible), then
      // at most 8 keepers per cluster by the deterministic md5-uniform
      // rank. Assignment ties mirror max_by's (sim desc, cid asc) rule.
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, emb AS cent
                    FROM e WHERE vec_id % greatest(CAST((SELECT count(*) // 16 FROM e) AS BIGINT), 1) = 0
                    ORDER BY vec_id LIMIT 16),
              a AS (SELECT e.vec_id, c.cid,
                           list_dot_product(e.emb, c.cent) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cent, c.cent))) AS sim
                    FROM e CROSS JOIN c),
              b AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM a) WHERE rn = 1),
              u AS (SELECT cid, vec_id, CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT) / 1152921504606846976.0 AS _u FROM b),
              r AS (SELECT cid, vec_id, row_number() OVER (PARTITION BY cid ORDER BY _u, vec_id) AS rnk FROM u)
              SELECT cid, vec_id, CAST(rnk AS INTEGER) AS rnk FROM r WHERE rnk <= 8 ORDER BY cid, rnk"""),
      (s, d) => {
        prep(s)
        val (_, assigned) = Similarity.ivfAssign(s, t(s, d, "embeddings"),
          nlist = 16, iters = 0)
        Similarity.clusterBalancedSample(assigned, "cid", "vec_id", 8)
          .orderBy("cid", "rnk")
      }),

    QueryDef("q_ann_ivfpq",
      // IVF-PQ (Faiss IndexIVFPQ shape): probe prunes to nprobe/nlist of
      // the code table, which is itself 32× smaller than the floats — the
      // savings multiply. Approximate vs brute force but REPRODUCIBLE
      // (fixed-point Lloyd means + driver-side sequential PQ training), so
      // the oracle compares against a Verify-written plain-Scala re-run of
      // the whole train/encode/probe/rescore/rerank path; save/load
      // equivalence and exhaustive-probe == pure-PQ asserted in
      // SimilaritySpec.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annivfpq/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivfpq")
        AnnIndex.train(s, emb, Quantizer.PQ, nlist = 16, m = 8, ksub = 16)
          .save(dir.toString)
        // exact re-rank tail (Jégou 2011 §VI): candidates come off the
        // pruned code table, only rerank×k true vectors are touched
        AnnIndex.load(s, dir.toString).search(emb.filter(col("vec_id") < 8), 10,
            nprobe = 4, corpus = Some(emb), rerank = 4)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_pq",
      // product-quantization ANN (memory-bound scale path): codebooks train
      // on a bounded sample, the corpus is scanned as the 32×-smaller code
      // table, scoring is cosine(query, reconstruction) in one shuffle-free
      // map. Deterministic end-to-end → oracle-checked against a
      // Verify-written plain-Scala re-run (train/encode/score/rerank);
      // recall + compression asserted in SimilaritySpec.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annpq/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        // exact re-rank tail: the code-table scan proposes 4×k candidates,
        // only those fetch true embeddings (Faiss IndexRefineFlat shape)
        AnnIndex.train(s, emb, Quantizer.PQ, m = 8, ksub = 16)
          .search(emb.filter(col("vec_id") < 8), 10, corpus = Some(emb))
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_ivf_drift",
      // centroid-drift monitor — the measurement behind "retrain only
      // when drift demands it": per-list count + mean cosine of a vector
      // batch to its assigned centroid (here the odd-id half as a stand-in
      // ingest epoch against an index trained on everything). Broadcast
      // assignment, one nlist-keyed agg; 6-dp rounds + DECIMAL sums make
      // the stats engine-reproducible → plain-Scala fixture oracle.
      Some("""SELECT cid, n, mean_cos
              FROM parquet_scan('{FIX}/_fixture_ivfdrift/*.parquet')
              ORDER BY cid"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivf-drift")
        AnnIndex.train(s, emb, nlist = 16, iters = 1).save(dir.toString)
        AnnIndex.load(s, dir.toString).driftStats(emb.filter(col("vec_id") % 2 === 1))
          .orderBy("cid")
      }),

    QueryDef("q_ann_ivf_sq8_drift",
      // drift monitor for the COMPOSED index a steady-state crawl
      // actually appends to (AnnIndex.append): index trains on the even-id
      // half only, the odd half plays the ingest epoch — so both signals
      // move: per-list mean cosine to the assigned centroid AND
      // clamp_frac, the mean fraction of components outside the saved
      // per-dim [min,max] bounds (those clamp at encode and lose
      // fidelity — the quantizer-retrain trigger centroid cosine can't
      // see). Shuffle-free assignment + one nlist-keyed agg; exact
      // counts + 6-dp/DECIMAL means → plain-Scala fixture oracle.
      Some("""SELECT cid, n, mean_cos, clamp_frac
              FROM parquet_scan('{FIX}/_fixture_ivfsq8drift/*.parquet')
              ORDER BY cid"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivfsq8-drift")
        AnnIndex.train(s, emb.filter(col("vec_id") % 2 === 0), Quantizer.SQ8,
            nlist = 16, iters = 1)
          .save(dir.toString)
        AnnIndex.load(s, dir.toString).driftStats(emb.filter(col("vec_id") % 2 === 1))
          .orderBy("cid")
      }),

    QueryDef("q_ann_drift_stream",
      // the STREAMING face of the drift monitor, inside the oracle gate:
      // the odd-id ingest epoch splits into three deterministic
      // micro-batches (vec_id mod 6 ∈ {1, 3, 5}); each contributes one
      // bounded driftSums frame (exact counts + associative
      // DECIMAL sums) and driftStatsFinalize divides ONCE over their
      // union. The oracle is the SAME fixture as q_ann_ivf_sq8_drift —
      // accumulated stream stats must be BIT-EQUAL to the one-shot batch
      // monitor, the composition guarantee StreamingSpec also proves
      // over a live foreachBatch crawl.
      Some("""SELECT cid, n, mean_cos, clamp_frac
              FROM parquet_scan('{FIX}/_fixture_ivfsq8drift/*.parquet')
              ORDER BY cid"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-drift-stream")
        AnnIndex.train(s, emb.filter(col("vec_id") % 2 === 0), Quantizer.SQ8,
            nlist = 16, iters = 1)
          .save(dir.toString)
        val idx = AnnIndex.load(s, dir.toString)
        val sums = Seq(1, 3, 5).map(m =>
            idx.driftSums(emb.filter(col("vec_id") % 6 === m)))
          .reduce(_ unionByName _)
        Similarity.driftStatsFinalize(sums).orderBy("cid")
      }),

    QueryDef("q_ann_ivfpq_drift",
      // drift monitor for the IVF×PQ composition: same even/odd split;
      // the PQ-specific signal is mean_qcos — each epoch vector's cosine
      // to its OWN reconstruction under the SAVED codebooks. Sinking
      // reconstruction fidelity on new data is the codebook-retrain
      // trigger even while list balance stays healthy. Encode+decode
      // fuse into the assignment scan (no shuffle, no join).
      Some("""SELECT cid, n, mean_cos, mean_qcos
              FROM parquet_scan('{FIX}/_fixture_ivfpqdrift/*.parquet')
              ORDER BY cid"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivfpq-drift")
        AnnIndex.train(s, emb.filter(col("vec_id") % 2 === 0), Quantizer.PQ,
            nlist = 16, m = 8, ksub = 16)
          .save(dir.toString)
        AnnIndex.load(s, dir.toString).driftStats(emb.filter(col("vec_id") % 2 === 1))
          .orderBy("cid")
      }),

    QueryDef("q_ann_ivf_opq_drift",
      // drift monitor for the OPQ-rotated composition, measured in
      // ROTATED space — where the saved centroids and codebooks actually
      // live (raw-space drift against rotated headers would read noise).
      // The epoch batch rotates under the SAVED rotation, then the same
      // two signals as q_ann_ivfpq_drift.
      Some("""SELECT cid, n, mean_cos, mean_qcos
              FROM parquet_scan('{FIX}/_fixture_ivfopqdrift/*.parquet')
              ORDER BY cid"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivfopq-drift")
        AnnIndex.train(s, emb.filter(col("vec_id") % 2 === 0), Quantizer.OPQ,
            nlist = 16, m = 8, ksub = 16)
          .save(dir.toString)
        AnnIndex.load(s, dir.toString).driftStats(emb.filter(col("vec_id") % 2 === 1))
          .orderBy("cid")
      }),

    QueryDef("q_ann_sq8",
      // scalar-quantization ANN (Faiss QT_8bit): one byte per DIMENSION
      // via exact per-dim min/max buckets — the 4× compression tier
      // between float32 and PQ's 32×, trained by ONE aggregation, decode
      // two FMAs per element. Code scan proposes 4×k candidates, true
      // embeddings re-rank (IndexRefineFlat shape). Bit-deterministic
      // (double arithmetic, floor(v+0.5)) → oracle-checked against the
      // plain-Scala replica.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annsq8/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        AnnIndex.train(s, emb, Quantizer.SQ8)
          .search(emb.filter(col("vec_id") < 8), 10, corpus = Some(emb))
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_sq8_append",
      // the SQ8 steady-state path: save the bounds + a base code table,
      // append the rest of the corpus (encode under SAVED bounds,
      // append-only — no retrain, no rewrite), search through the LOADED
      // index. Bounds train on the full corpus here, so the appended
      // index must answer bit-identically to the from-scratch replica —
      // the same oracle as q_ann_sq8, which is the point.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annsq8/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val full = AnnIndex.train(s, emb, Quantizer.SQ8)
        val dir = tmpDir("graft-sq8-app")
        full.copy(codes = full.codes.filter(col("vec_id") % 3 === 0)).save(dir.toString)
        AnnIndex.append(s, dir.toString, emb.filter(col("vec_id") % 3 =!= 0))
        AnnIndex.load(s, dir.toString)
          .search(emb.filter(col("vec_id") < 8), 10, corpus = Some(emb))
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_ivf_sq8",
      // IVF×SQ8 (Faiss IndexIVFScalarQuantizer): the inverted lists store
      // SQ8 codes, so a probe reads nprobe/nlist of a table that is
      // itself 4× smaller than the floats at much higher fidelity than
      // PQ — the production shape the flat q_ann_sq8 scan lacks at
      // 100 TB. Save→append→load exercises the steady-state artifact:
      // a third of the corpus lands via AnnIndex.append (assigned to SAVED
      // centroids, encoded under SAVED bounds) and must answer
      // bit-identically to a from-scratch build — the same plain-Scala
      // replica oracle either way, which is the point. Probe-pruned code
      // scan + exact re-rank tail; partition pruning plan-guarded in
      // PlanSpec.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annivfsq8/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivfsq8")
        val full = AnnIndex.train(s, emb, Quantizer.SQ8, nlist = 16, iters = 1)
        full.copy(codes = full.codes.filter(col("vec_id") % 3 === 0)).save(dir.toString)
        AnnIndex.append(s, dir.toString, emb.filter(col("vec_id") % 3 =!= 0))
        AnnIndex.load(s, dir.toString).search(emb.filter(col("vec_id") < 8), 10,
            nprobe = 4, corpus = Some(emb), rerank = 4)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_pca_train",
      // PCA projection training over the embedding corpus (the Faiss
      // PCAMatrix pre-transform tier): ONE gram_matrix_agg pass — count,
      // per-dim sums, and the full upper-triangular Gram matrix as
      // fixed-point longs in a single map-side-merged buffer, no
      // posexplode, no shuffle wider than one dim-bounded buffer per
      // partition — then the cyclic-Jacobi eigensolve driver-side. The
      // fixed-point moments make the trained table bit-reproducible, so
      // the oracle is a Verify-written independent replica of the whole
      // moments→covariance→Jacobi→sign/round path.
      Some("""SELECT component, dim_idx, weight, eigenvalue, mean
              FROM parquet_scan('{FIX}/_fixture_pcatrain/*.parquet')
              ORDER BY component, dim_idx"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val m = Pca.pcaTrain(emb, outDim = 8)
        Pca.modelDf(s, m).orderBy("component", "dim_idx")
      }),

    QueryDef("q_ann_pca",
      // ANN in PCA-reduced space: corpus and queries project through the
      // trained 16-dim transform (codegen'd pca_project fused into each
      // scan — the 4× shorter vectors are what a reduced-dimension index
      // would store), then the brute-force cosine top-k runs in the
      // reduced space. Save→load exercises the model artifact: the
      // search runs through a LOADED model and must answer identically
      // to the freshly-trained one (6-dp parquet round-trip). Replica
      // re-trains and re-projects independently.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annpca/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-pca")
        Pca.savePca(s, Pca.pcaTrain(emb, outDim = 16), dir.toString)
        val m = Pca.loadPca(s, dir.toString)
        val proj = Pca.pcaProject(emb, m)
        Similarity.bruteForceTopK(proj, proj.filter(col("vec_id") < 8), 10)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_pca_whiten",
      // the WHITENED variant (components scaled by 1/√λ — cosine in
      // whitened space is Mahalanobis-normalized similarity, the form
      // retrieval stacks use when embedding dimensions carry very
      // unequal variance). Same one-pass training, same reduced-space
      // search; the ranking differs from q_ann_pca exactly where
      // variance inequality matters, which is what the paired fixtures
      // pin.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annpcawhiten/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val m = Pca.pcaTrain(emb, outDim = 16, whiten = true)
        val proj = Pca.pcaProject(emb, m)
        Similarity.bruteForceTopK(proj, proj.filter(col("vec_id") < 8), 10)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_ivf_opq",
      // the full Faiss `OPQ,IVF,PQ` composition: the trained rotation
      // re-axes the space, IVF probes prune the scan to nprobe/nlist of
      // the code table, and the PQ codes shrink what remains 32× — the
      // savings multiply, which is the production geometry for
      // billion-vector corpora. Centroids/lists/codebooks all live in
      // rotated space; queries rotate once (broadcast-sized) and the
      // rerank runs on the rotated corpus. Save→load exercises the
      // one-directory artifact (rotation + centroids + cid-partitioned
      // codes + codebooks). Oracle = the Verify replica's rotated-space
      // probe/rescore/rerank.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annivfopq/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-ivfopq")
        AnnIndex.train(s, emb, Quantizer.OPQ, nlist = 16, m = 8, ksub = 16)
          .save(dir.toString)
        AnnIndex.load(s, dir.toString).search(emb.filter(col("vec_id") < 8), 10,
            nprobe = 4, corpus = Some(emb), rerank = 4)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_ivf_opq_append",
      // the composed index's steady-state ingest: persist a third of the
      // codes, append the rest under the SAVED artifact (rotation →
      // assignment → encode, no retrain), search the loaded result. The
      // oracle is the SAME from-scratch replica fixture as
      // q_ann_ivf_opq — append-then-load must be indistinguishable from
      // a full build, which is exactly the incremental-ingest contract.
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annivfopq/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val full = AnnIndex.train(s, emb, Quantizer.OPQ, nlist = 16, m = 8, ksub = 16)
        val dir = tmpDir("graft-ivfopq-app")
        full.copy(codes = full.codes.filter(col("vec_id") % 3 === 0)).save(dir.toString)
        AnnIndex.append(s, dir.toString, emb.filter(col("vec_id") % 3 =!= 0))
        AnnIndex.load(s, dir.toString).search(emb.filter(col("vec_id") < 8), 10,
            nprobe = 4, corpus = Some(emb), rerank = 4)
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_opq",
      // OPQ — rotation-optimized PQ (Faiss OPQMatrix / Ge et al.
      // CVPR'13): an orthogonal rotation trained by Lloyd/Procrustes
      // alternation over the bounded PQ training sample re-axes the space
      // before the subspace split, then encode/search ride the exact PQ
      // plan shapes with the rotation fused into each scan as the
      // codegen'd pca_project kernel (zero mean). Save→load exercises
      // the one-directory artifact (6-dp rotation + codebooks + codes):
      // the search runs through a LOADED index and must answer identically.
      // Oracle = Verify's independent replica (own Jacobi/SVD from the
      // pinned spec, own Lloyd, own rotation arithmetic).
      Some("""SELECT query_id, neighbor_id, sim, rnk
              FROM parquet_scan('{FIX}/_fixture_annopq/*.parquet')
              ORDER BY query_id, rnk"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val dir = tmpDir("graft-opq")
        AnnIndex.train(s, emb, Quantizer.OPQ, m = 8, ksub = 16, opqIters = 3)
          .save(dir.toString)
        AnnIndex.load(s, dir.toString)
          .search(emb.filter(col("vec_id") < 8), 10, corpus = Some(emb))
          .select("query_id", "neighbor_id", "sim", "rnk")
          .orderBy("query_id", "rnk")
      }),

    QueryDef("q_ann_recall",
      // recall@10 of every approximate ANN method against the exhaustive
      // brute-force baseline — the approximate/exact quality trade as one
      // regression-guarded number per method. Each method is reproducible
      // (seeded hyperplanes, fixed-point IVF Lloyd means, sequential PQ
      // training), so the oracle compares against a Verify fixture derived
      // from the SAME plain-Scala replicas that gate q_ann_{lsh,ivf,
      // ivfpq,pq}. The recall joins are id-pair sets of size queries×k —
      // driver-trivial at any corpus scale; the heavy lifting stays in the
      // underlying bucketed/pruned searches.
      Some("""SELECT method, matched, total, recall
              FROM parquet_scan('{FIX}/_fixture_annrecall/*.parquet')
              ORDER BY method"""),
      (s, d) => {
        prep(s)
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 8)
        val exact = Similarity.bruteForceTopK(emb, queries, 10)
          .select("query_id", "neighbor_id")
        def recallRow(method: String, approx: DataFrame): DataFrame =
          approx.select("query_id", "neighbor_id")
            .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).as("matched"))
            .crossJoin(exact.agg(count(lit(1)).as("total")))
            .select(lit(method).as("method"), col("matched"), col("total"),
              round(col("matched") / col("total"), 6).as("recall"))
        val lsh = Similarity.lshTopK(emb, queries, 10)
        // one saved index per method, searched through its LOADED form
        def saved(name: String, kind: Similarity.QuantizerKind, nlist: Int) = {
          val dir = tmpDir(s"graft-$name-rec").toString
          AnnIndex.train(s, emb, kind, nlist = nlist, iters = 1).save(dir)
          AnnIndex.load(s, dir)
        }
        val ivf = saved("ivf", Quantizer.Flat, 16).search(queries, 10)
        val ivfpq = saved("ivfpq", Quantizer.PQ, 16)
          .search(queries, 10, nprobe = 4, corpus = Some(emb), rerank = 4)
        val pq = AnnIndex.train(s, emb, Quantizer.PQ)
          .search(queries, 10, corpus = Some(emb))
        val sq8 = AnnIndex.train(s, emb, Quantizer.SQ8)
          .search(queries, 10, corpus = Some(emb))
        val ivfSq8 = saved("ivfsq8", Quantizer.SQ8, 16)
          .search(queries, 10, nprobe = 4, corpus = Some(emb), rerank = 4)
        val pm = Pca.pcaTrain(emb, outDim = 16)
        val pemb = Pca.pcaProject(emb, pm)
        val pca = Similarity.bruteForceTopK(pemb,
          pemb.filter(col("vec_id") < 8), 10)
        val opq = AnnIndex.train(s, emb, Quantizer.OPQ)
          .search(queries, 10, corpus = Some(emb))
        val ivfOpq = AnnIndex.train(s, emb, Quantizer.OPQ, nlist = 16)
          .search(queries, 10, corpus = Some(emb))
        recallRow("ivf", ivf)
          .union(recallRow("ivf_opq", ivfOpq))
          .union(recallRow("ivf_sq8", ivfSq8))
          .union(recallRow("ivfpq", ivfpq))
          .union(recallRow("lsh", lsh))
          .union(recallRow("opq", opq))
          .union(recallRow("pca", pca))
          .union(recallRow("pq", pq))
          .union(recallRow("sq8", sq8))
          .orderBy("method")
      }),

    QueryDef("q_multimodal_frames",
      // frame-sampling fan-out: every stride-th frame index per video,
      // exploded map-side with no payload duplication before slicing
      // (Multimodal.sampleFrames; decode stubbed, fan-out shape real)
      Some("""SELECT doc_id AS media_id,
                     CAST(doc_id % 30 + 1 AS INTEGER) AS frames,
                     CAST(f AS INTEGER) AS frame_idx,
                     concat(CAST(doc_id AS VARCHAR), ':', CAST(f AS VARCHAR)) AS frame_key
              FROM documents, UNNEST(range(0, CAST(doc_id % 30 + 1 AS BIGINT), 4)) t(f)
              ORDER BY media_id, frame_idx"""),
      (s, d) => Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(s, t(s, d, "documents")).toDF, 4)
        .orderBy("media_id", "frame_idx")),

    QueryDef("q_multimodal_audio",
      // the audio tier is STUB-FREE: planted full-range PCM samples (one
      // per text char, LCG-scrambled) wrap in a real RIFF/WAVE container,
      // a real chunk-walking parser decodes them back, and the standard
      // curation signals (duration µs, normalized RMS, peak, silence and
      // clipping ratios) compute in one fixed-order pass per clip —
      // engine-reproducible, so the oracle is a plain-Scala replica of
      // the whole plant→encode→decode→measure chain.
      Some("""SELECT media_id, sample_rate, n_samples, duration_us, rms,
                     peak, silence_ratio, clipping_ratio
              FROM parquet_scan('{FIX}/_fixture_audio/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val audio = Multimodal.audioFromDocuments(s, t(s, d, "documents"))
        Multimodal.audioFeatures(s, audio).toDF().orderBy("media_id")
      }),

    QueryDef("q_multimodal_audio_g711",
      // TELEPHONY audio (call recordings): 8 kHz G.711 streams — µ-law
      // for even ids, A-law for odd, planted so all 256 code points of
      // both companding laws occur — decode through the pinned ITU
      // expansion formulas inside the same WAV chunk walk, then the same
      // one-pass curation signals. The replica re-derives code→sample
      // from the published formulas (anchors: µ 0x00 → −32124, A 0x2A →
      // −32256) with no container round trip; javax.sound interop in
      // MultimodalSpec pins the formulas to the JDK's own G.711 tables.
      Some("""SELECT media_id, sample_rate, n_samples, duration_us, rms,
                     peak, silence_ratio, clipping_ratio
              FROM parquet_scan('{FIX}/_fixture_audiog711/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val audio = Multimodal.g711AudioFromDocuments(s, t(s, d, "documents"))
        Multimodal.audioFeatures(s, audio).toDF().orderBy("media_id")
      }),

    QueryDef("q_multimodal_audio_adpcm",
      // 4-bit IMA/DVI ADPCM (voice mail, game audio): planted full-scale
      // noise compresses 4:1 through the real block-structured encoder
      // (block align 256/64/32 by id — multi-block clips, partial final
      // blocks, fact-chunk truncation), the chunk walk decodes it back
      // through the published step/index tables, then the same one-pass
      // curation signals. The replica replays quantize∘reconstruct as a
      // pure sample→sample function (predictor re-anchored per block,
      // step index carried across) with NO container round trip, so
      // agreement pins the nibble packing, block layout and fact
      // truncation end to end.
      Some("""SELECT media_id, sample_rate, n_samples, duration_us, rms,
                     peak, silence_ratio, clipping_ratio
              FROM parquet_scan('{FIX}/_fixture_audioadpcm/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val audio = Multimodal.imaAdpcmAudioFromDocuments(s, t(s, d, "documents"))
        Multimodal.audioFeatures(s, audio).toDF().orderBy("media_id")
      }),

    QueryDef("q_subtitles_parse",
      // caption tracks — the TEXT side of the video tier: planted cues
      // render as REAL SubRip (even ids) and WebVTT (odd ids — with a
      // NOTE block, a cue identifier, a settings suffix and the
      // optional-hours short timestamps), the sniffing parser reads
      // them back, and the out-of-order plant (cue 2 of id%5==0 docs)
      // drives the in_order curation flag. The replica derives cue rows
      // straight from the document words with NO SRT/VTT round trip, so
      // agreement proves format∘parse is the identity on both wire
      // formats.
      Some("""SELECT media_id, cue_idx, start_ms, end_ms, n_words,
                     in_order, text
              FROM parquet_scan('{FIX}/_fixture_subtitles/*.parquet')
              ORDER BY media_id, cue_idx"""),
      (s, d) => {
        val subs = Subtitles.subtitlesFromDocuments(s, t(s, d, "documents"))
        Subtitles.parseCues(s, subs).toDF().orderBy("media_id", "cue_idx")
      }),

    QueryDef("q_subtitles_markup",
      // cue-markup stripping — caption tracks carry voice spans, style
      // tags, karaoke timestamps and entities that must not leak into
      // training text: planted VTT cues with deterministic markup
      // (plantMarkedSubtitle sweeps <v>, <b>/<i>/<c.cls>, <mm:ss.mmm>,
      // &amp;) parse back and clean through the codegen'd
      // regexp_replace chain. The replica re-derives marked text from
      // the plant and cleans with java.util.regex — agreement pins
      // Spark's codegen regex path against Java semantics, plus the
      // parse round trip underneath.
      Some("""SELECT media_id, cue_idx, clean_text, clean_words
              FROM parquet_scan('{FIX}/_fixture_submarkup/*.parquet')
              ORDER BY media_id, cue_idx"""),
      (s, d) => {
        import s.implicits._
        val subs = Tables.spread(t(s, d, "documents").select(col("doc_id"), col("text")))
          .as[(Long, String)].flatMap { case (id, tx) =>
            Subtitles.plantMarkedSubtitle(id, tx).map(Subtitles.SubtitleItem(id, _))
          }
        Subtitles.parseCues(s, subs).toDF()
          .select(col("media_id"), col("cue_idx"),
            Subtitles.cleanCueText(col("text")).as("clean_text"))
          .withColumn("clean_words", size(split(col("clean_text"), " ")))
          .orderBy("media_id", "cue_idx")
      }),

    QueryDef("q_subtitles_ass",
      // ASS/SSA — the fansub/anime-corpus caption format: planted
      // [Script Info]/[Events] sections with a Format-ordered Dialogue
      // grid, centisecond H:MM:SS.cc timestamps, {\i1}/{\b1} style
      // overrides, \N line breaks, a skipped Comment: event and the
      // out-of-order cue plant. The sniffing parser routes by the
      // ini-style section header, parses into the same Cue schema, and
      // cleanCueText strips the override blocks — the replica derives
      // rows straight from the document words with NO ASS round trip.
      Some("""SELECT media_id, cue_idx, start_ms, end_ms, n_words,
                     in_order, clean_text
              FROM parquet_scan('{FIX}/_fixture_ass/*.parquet')
              ORDER BY media_id, cue_idx"""),
      (s, d) => {
        val subs = Subtitles.assFromDocuments(s, t(s, d, "documents"))
        Subtitles.parseCues(s, subs).toDF()
          .select(col("media_id"), col("cue_idx"), col("start_ms"),
            col("end_ms"), col("n_words"), col("in_order"),
            Subtitles.cleanCueText(col("text")).as("clean_text"))
          .orderBy("media_id", "cue_idx")
      }),

    QueryDef("q_subtitles_quality",
      // per-track caption QA — the gate before trusting a caption track
      // for video-text pairs: cue count, covered span, out-of-order and
      // overlapping cues (the planted out-of-order cue on id%5==0 docs
      // produces exactly one of each), and reading speed in chars/sec
      // (autogenerated junk runs far above human subtitling rates). One
      // media_id key shuffle reused by the lag window and the
      // aggregation. The replica re-derives every signal from the
      // planted cue formulas.
      Some("""SELECT media_id, n_cues, span_ms, out_of_order, overlap_cues,
                     total_chars, cue_ms, chars_per_sec
              FROM parquet_scan('{FIX}/_fixture_subquality/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val subs = Subtitles.subtitlesFromDocuments(s, t(s, d, "documents"))
        Subtitles.cueQualityStats(Subtitles.parseCues(s, subs).toDF())
          .orderBy("media_id")
      }),

    QueryDef("q_subtitle_frame_pairs",
      // (frame, caption) pair generation for video-text training: cues
      // align to a 4 fps sampled-frame timeline (250 ms/frame, clip
      // length 40 + id%23 frames) by pure interval arithmetic — one
      // broadcastable metadata join + one sequence() generator, the
      // video payload never touched. The replica replays the same
      // ceil/clip arithmetic per cue in plain Scala.
      Some("""SELECT media_id, cue_idx, frame_idx, start_ms, end_ms, text
              FROM parquet_scan('{FIX}/_fixture_subframes/*.parquet')
              ORDER BY media_id, cue_idx, frame_idx"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val subs = Subtitles.subtitlesFromDocuments(s, docs)
        val cues = Subtitles.parseCues(s, subs).toDF()
        val clips = docs.select(col("doc_id").as("media_id"),
          (lit(40) + pmod(col("doc_id"), lit(23))).cast("int").as("n_frames"))
        Subtitles.cueFramePairs(cues, clips, 250000)
          .orderBy("media_id", "cue_idx", "frame_idx")
      }),

    QueryDef("q_multimodal_mp4",
      // MP4/ISO-BMFF container metadata — the box walk a crawl runs
      // before spending decode cycles: planted two-track containers
      // (avc1 video + mp4a audio on even ids) in REAL ISO-BMFF wire
      // forms (version-0/1 full boxes by id%7, co64 by id%9, largesize
      // mdat by id%11), the strict moov descent reads back per-track
      // codec/dims/timescale/duration and the stsc/stco/stsz/stss
      // aggregates. The replica re-derives every field from the plant
      // formulas with NO container round trip, so agreement proves
      // encode∘parse is the identity across all planted wire forms.
      Some("""SELECT media_id, brand, movie_duration_ms, track_id, handler,
                     codec, width, height, channels, sample_rate, timescale,
                     duration_ms, n_samples, n_chunks, n_sync, total_bytes
              FROM parquet_scan('{FIX}/_fixture_mp4meta/*.parquet')
              ORDER BY media_id, track_id"""),
      (s, d) => {
        val media = Mp4.mp4FromDocuments(s, t(s, d, "documents"))
        Mp4.trackMeta(s, media).toDF().orderBy("media_id", "track_id")
      }),

    QueryDef("q_mp4_fragmented",
      // fMP4/DASH — the layout streaming video actually ships: the SAME
      // planted dims/sizes as q_multimodal_mp4 re-laid as moof/traf/trun
      // fragments (empty stbls, mvex/trex defaults, mehd movie duration,
      // per-sample video sizes + first-sample-flags keyframes, audio
      // carried entirely by trex defaults), read back through the
      // fragment walk into the SAME TrackMetaRow schema. The replica
      // re-derives totals from the plant formulas with no container
      // round trip, so agreement proves the fragment accumulation
      // (counts, durations, bytes, truns, sync flags) end to end.
      Some("""SELECT media_id, brand, movie_duration_ms, track_id, handler,
                     codec, width, height, channels, sample_rate, timescale,
                     duration_ms, n_samples, n_chunks, n_sync, total_bytes
              FROM parquet_scan('{FIX}/_fixture_mp4frag/*.parquet')
              ORDER BY media_id, track_id"""),
      (s, d) => {
        val media = Mp4.fmp4FromDocuments(s, t(s, d, "documents"))
        Mp4.trackMeta(s, media).toDF().orderBy("media_id", "track_id")
      }),

    QueryDef("q_mp4_sample_table",
      // the sample-table expansion — stsc run-length × chunk offsets ×
      // per-sample sizes × stts deltas × stss sync flags resolved into
      // one row per sample: the index a frame-level consumer needs to
      // fetch exactly one sample's bytes without demuxing. Offsets are
      // mdat-relative so the oracle pins LAYOUT, not header size. The
      // replica replays the chunk/cumsum/ceil arithmetic in plain Scala
      // from the plant formulas. Bounded to doc_id < 150 — the full
      // corpus would dump ~50k rows of identical code paths.
      Some("""SELECT media_id, track_id, sample_idx, chunk_idx, rel_offset,
                     size, dts, is_sync
              FROM parquet_scan('{FIX}/_fixture_mp4samples/*.parquet')
              ORDER BY media_id, track_id, sample_idx"""),
      (s, d) => {
        val media = Mp4.mp4FromDocuments(s,
          t(s, d, "documents").filter(col("doc_id") < 150))
        Mp4.sampleRows(s, media).toDF()
          .orderBy("media_id", "track_id", "sample_idx")
      }),

    QueryDef("q_mp4_gate",
      // container-level curation — the decision a 100 TB crawl makes
      // from moov alone (a few KB per clip; the mdat payload is never
      // decoded): duration window, resolution floor, bitrate cap, and
      // an audio-presence flag for AV-pair eligibility. One media_id
      // key shuffle over the metadata rows. The replica replays the
      // same thresholds over plant-derived metadata.
      Some("""SELECT media_id, n_tracks, has_audio, video_codec, width,
                     height, duration_ms, total_bytes, bitrate_bps, keep
              FROM parquet_scan('{FIX}/_fixture_mp4gate/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Mp4.mp4FromDocuments(s, t(s, d, "documents"))
        Mp4.curationGate(Mp4.trackMeta(s, media).toDF(),
          minDurationMs = 1500, maxDurationMs = 600000,
          minWidth = 384, minHeight = 270, maxBitrateBps = 10000000L)
          .orderBy("media_id")
      }),

    QueryDef("q_docx_extract",
      // DOCX — the #3 document source after HTML/PDF, and a pure
      // composition of shipped parts: Archives.Zip walks the OPC
      // container (CRC-verified), then the Epub-style anchored-regexp
      // discipline reads word/document.xml — w:t runs concatenate
      // VERBATIM (the plant splits every word into its own run with
      // leading-space text, so re-spacing would double up), w:tab reads
      // as a space, entities decode, paragraphs join with newlines.
      // The replica derives text straight from the document words with
      // NO DOCX round trip.
      Some("""SELECT doc_id, text, n_words, n_chars
              FROM parquet_scan('{FIX}/_fixture_docx/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        val docx = Docx.docxFromDocuments(s, t(s, d, "documents"))
        Docx.extractDocs(s, docx).orderBy("doc_id")
      }),

    QueryDef("q_multimodal_tiff",
      // TIFF — the scanned-document raster format (archives, digitized
      // books: the image-side complement of the PDF tier): planted
      // baseline strip-organized files across BOTH byte orders,
      // gray/RGB/RGBA, uncompressed, PackBits AND LZW (early-change,
      // ± the horizontal-differencing predictor), multi-strip splits —
      // multi-page IFD chains (the scanned-book shape) — the first page
      // decodes byte-exactly (MD5 vs the planted samples) with the
      // metadata face and page count in the same row. The replica is
      // plant formulas only — no TIFF round trip.
      Some("""SELECT media_id, byte_order, compression, n_strips, n_pages,
                     width, height, channels, pixel_md5
              FROM parquet_scan('{FIX}/_fixture_tiff/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Tiff.tiffFromDocuments(s, t(s, d, "documents"))
        Tiff.tiffDigest(s, media).orderBy("media_id")
      }),

    QueryDef("q_avif_meta",
      // AVIF/HEIF stills — the #4-and-rising image format, sharing the
      // ISO-BMFF framing the MP4 tier already walks: brand gate, dims
      // from the meta→iprp→ipco→ispe property, av1C presence (decode
      // routes out by codec name, the H.264 posture), mdat never read.
      // The replica is plant formulas only.
      Some("""SELECT media_id, brand, width, height, n_ispe, has_av1c
              FROM parquet_scan('{FIX}/_fixture_avifmeta/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Mp4.avifFromDocuments(s, t(s, d, "documents"))
        Mp4.avifMetaRows(s, media).orderBy("media_id")
      }),

    QueryDef("q_webm_meta",
      // WebM/Matroska — the remaining major video transport after
      // MP4/AVI (the YouTube-era crawl format): planted EBML skeletons
      // (vint framing, 4- AND 8-byte Duration floats, V_VP9/VP8/AV1 +
      // A_OPUS/VORBIS tracks, a junk Cluster the walk steps over by
      // size) parse to per-track metadata rows — header bytes only,
      // media payloads never read. The replica is plant formulas only.
      Some("""SELECT media_id, doc_type, timescale_ns, duration_ms,
                     muxing_app, writing_app, track_number, track_type,
                     codec, width, height, channels, sample_rate
              FROM parquet_scan('{FIX}/_fixture_webmmeta/*.parquet')
              ORDER BY media_id, track_number"""),
      (s, d) => {
        val media = Webm.webmFromDocuments(s, t(s, d, "documents"))
        Webm.webmMeta(s, media).orderBy("media_id", "track_number")
      }),

    QueryDef("q_epub_extract",
      // EPUB — the ebook corpus format, and the tier-composition proof:
      // planted books (stored-mimetype-first zip skeleton,
      // container.xml→OPF→spine resolution, XHTML chapters with tags
      // and entities) walk through the Archives zip reader and extract
      // through the SAME codegen htmlToText column the crawl HTML path
      // uses. The replica derives chapter text from the word plant with
      // no zip/XML round trip, so agreement proves the whole
      // composition — container, spine order, CRC'd extraction, tag
      // stripping, entity decoding — end to end.
      Some("""SELECT doc_id, chapter_idx, href, text, n_words
              FROM parquet_scan('{FIX}/_fixture_epub/*.parquet')
              ORDER BY doc_id, chapter_idx"""),
      (s, d) => {
        val epubs = Epub.epubsFromDocuments(s, t(s, d, "documents"))
        Epub.chapterText(s, epubs).orderBy("doc_id", "chapter_idx")
      }),

    QueryDef("q_audio_mp3_meta",
      // MP3 — the biggest non-MP4 audio transport: planted Layer III
      // streams (MPEG-1 and MPEG-2, CBR and VBR bitrate cycles, padding
      // bits, all four channel modes, syncsafe ID3v2 tags) walk frame to
      // frame by the length arithmetic — headers only, payload bytes
      // never read. Wild-data shapes are planted too: a leading
      // Xing/Info VBR header frame (id%4==1) and a trailing ID3v1 TAG
      // block (id%6==2), both recognized and EXCLUDED from the audio
      // stats. The replica re-derives frame lengths from the
      // public bitrate/samplerate tables with no container round trip,
      // so agreement pins the header bit layout, the stepping
      // arithmetic, duration and exact average bitrate end to end.
      Some("""SELECT media_id, mpeg_version, sample_rate, channel_mode,
                     n_frames, duration_ms, audio_bytes, bitrate_kbps,
                     is_vbr, id3_bytes, has_xing, has_id3v1, title, artist
              FROM parquet_scan('{FIX}/_fixture_mp3meta/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = AudioContainers.mp3FromDocuments(s, t(s, d, "documents"))
        AudioContainers.mp3Meta(s, media).orderBy("media_id")
      }),

    QueryDef("q_audio_flac_meta",
      // FLAC — the lossless transport: planted header stacks (fLaC
      // magic, STREAMINFO bit packing — 20-bit samplerate, 36-bit
      // sample count — and Vorbis comments whose lengths are
      // LITTLE-endian inside the big-endian container, the spec's
      // classic trap) parse back to sample rate, channels, bits,
      // duration and TITLE/ARTIST tags. The replica is plant formulas
      // only, so agreement pins the bit layout and the endianness flip.
      Some("""SELECT media_id, sample_rate, channels, bits_per_sample,
                     total_samples, duration_ms, min_block, max_block,
                     n_comments, vendor, title, artist
              FROM parquet_scan('{FIX}/_fixture_flacmeta/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = AudioContainers.flacFromDocuments(s, t(s, d, "documents"))
        AudioContainers.flacMeta(s, media).orderBy("media_id")
      }),

    QueryDef("q_audio_ogg_meta",
      // Ogg — the remaining major audio transport after MP4/MP3/FLAC:
      // planted Opus (even ids) and Vorbis (odd) streams with real page
      // framing — capture pattern, segment lacing, per-page CRC-32
      // (0x04c11db7 UNreflected, not the zlib CRC), BOS/EOS flags —
      // parse back to codec/channels/rate/duration/tags. The Opus
      // granule clock is ALWAYS 48 kHz and preskip samples are warm-up,
      // not audio: the duration arithmetic pins both traps. The replica
      // is plant formulas only — no Ogg round trip.
      Some("""SELECT media_id, codec, channels, sample_rate, duration_ms,
                     n_pages, n_comments, vendor, title, artist
              FROM parquet_scan('{FIX}/_fixture_oggmeta/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = AudioContainers.oggFromDocuments(s, t(s, d, "documents"))
        AudioContainers.oggMeta(s, media).orderBy("media_id")
      }),

    QueryDef("q_archive_entries",
      // archive CATALOG — how code corpora arrive (one archive per
      // repo): planted zip (even ids — central-directory walk, stored
      // AND deflated members, EOCD found through the tail scan) and
      // ustar tar (odd ids — 512-byte octal headers, checksum verified)
      // enumerate WITHOUT touching content bytes; at 100 TB the catalog
      // is KBs against GB archives and decides what gets extracted.
      // The replica re-derives names/sizes/CRCs from the word plant
      // (CRC-32 and deflate via the same JDK primitives the writer
      // uses — the oracle pins the CONTAINER walk, not zlib).
      Some("""SELECT doc_id, format, entry_idx, name, n_bytes,
                     compressed_bytes, method, crc32
              FROM parquet_scan('{FIX}/_fixture_archent/*.parquet')
              ORDER BY doc_id, entry_idx"""),
      (s, d) => {
        val arch = Archives.archivesFromDocuments(s, t(s, d, "documents"))
        Archives.entriesOf(s, arch).orderBy("doc_id", "entry_idx")
      }),

    QueryDef("q_archive_text",
      // archive EXTRACTION — local-header walk + inflate with BOTH the
      // declared size and the CRC-32 verified per member (a corrupt
      // member must fail loudly, never feed garbage text downstream);
      // tar members copy out by header arithmetic. The replica derives
      // each member's text straight from the word plant, so agreement
      // proves encode∘extract is the identity across stored, deflated
      // and tar members.
      Some("""SELECT doc_id, name, text, n_words, n_chars
              FROM parquet_scan('{FIX}/_fixture_archtext/*.parquet')
              ORDER BY doc_id, name"""),
      (s, d) => {
        val arch = Archives.archivesFromDocuments(s, t(s, d, "documents"))
        Archives.extractText(s, arch).orderBy("doc_id", "name")
      }),

    QueryDef("q_markdown_extract",
      // Markdown→text — READMEs/docs/forums are the other big non-HTML
      // text source: planted markdown (headings, blockquotes, lists,
      // nested emphasis forms, inline/reference links, images, inline
      // code, fenced code blocks with info strings, tables, rules,
      // link-definition lines) extracts through the codegen'd
      // regexp_replace chain. The replica is the normalized word stream
      // itself — extraction must be the IDENTITY on content words while
      // every URL and structural line vanishes, so any marker leaking
      // or any word eaten hash-mismatches.
      Some("""SELECT doc_id, text, n_words
              FROM parquet_scan('{FIX}/_fixture_markdown/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val md = Tables.spread(t(s, d, "documents").select(col("doc_id"), col("text")))
          .as[(Long, String)].flatMap { case (id, tx) =>
            TextAnalysis.plantMarkdown(id, tx).map(m => (id, m))
          }.toDF("doc_id", "md")
        md.select(col("doc_id"),
            TextAnalysis.markdownToText(col("md")).as("text"))
          .withColumn("n_words", size(split(col("text"), " ")))
          .orderBy("doc_id")
      }),

    QueryDef("q_pdf_extract",
      // PDF text extraction — after HTML, the biggest non-HTML document
      // source an LLM pipeline ingests: planted classic PDFs (real xref
      // tables, FlateDecode streams on even ids, indirect /Length on
      // id%7, nested page trees on id%9, octal-escaped and hex string
      // forms on id%3/id%5) parse back through the startxref→xref→
      // catalog→page-tree walk and the BT/ET text operators (all four
      // show ops). The replica derives page text from the document
      // words with NO PDF round trip, so agreement proves encode∘
      // extract is the identity across every planted wire form.
      Some("""SELECT doc_id, page_idx, text, n_words
              FROM parquet_scan('{FIX}/_fixture_pdfpages/*.parquet')
              ORDER BY doc_id, page_idx"""),
      (s, d) => {
        val pdfs = Pdf.pdfFromDocuments(s, t(s, d, "documents"))
        Pdf.extractPages(s, pdfs).toDF().orderBy("doc_id", "page_idx")
      }),

    QueryDef("q_pdf_stats",
      // per-document curation stats over the extraction (page count,
      // words, chars, /Info producer — the gate row a text pipeline
      // keeps or drops a crawl PDF on). The producer resolves through
      // the NEWEST xref section, so the id%13 incremental-update plant
      // (a real save-in-place trailer with /Prev) only matches the
      // oracle if the /Prev chain walk prefers newer sections — the
      // update path sits inside the gate. ONE parse per payload and one
      // doc_id-keyed shuffle (the producer rides the page rows).
      Some("""SELECT doc_id, n_pages, total_words, total_chars,
                     max_page_words, producer
              FROM parquet_scan('{FIX}/_fixture_pdfstats/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        val pdfs = Pdf.pdfFromDocuments(s, t(s, d, "documents"))
        Pdf.docStats(s, pdfs).orderBy("doc_id")
      }),

    QueryDef("q_multimodal_audio_window_feats",
      // per-WINDOW signals over the real decode (what a speech pipeline
      // gates on): decode once per clip, one row per 25 ms/10 ms hop
      // with fixed-order RMS, peak, zero crossings (sign flips, zeros
      // signless), silence/clipping ratios. Engine-reproducible counts
      // and pinned float order → plain-Scala replica oracle. Bounded to
      // the first 40 docs — the full corpus would dump ~130k rows of
      // identical code paths into the correctness artifact.
      Some("""SELECT media_id, window_idx, start_sample, end_sample, rms,
                     peak, zero_crossings, silence_ratio, clipping_ratio
              FROM parquet_scan('{FIX}/_fixture_audiowin/*.parquet')
              ORDER BY media_id, window_idx"""),
      (s, d) => {
        val audio = Multimodal.audioFromDocuments(s,
          t(s, d, "documents").filter(col("doc_id") < 40))
        Multimodal.audioWindowFeatures(s, audio, 25, 10).toDF()
          .orderBy("media_id", "window_idx")
      }),

    QueryDef("q_multimodal_audio_fft",
      // per-window SPECTRAL signals (speech/music/noise separation —
      // what real audio curation gates on): each 25 ms/10 ms window
      // zero-pads to 512, runs the pinned-order radix-2 FFT
      // (Multimodal.fftInPlace's doc comment is the bit-exact spec),
      // and measures centroid/rolloff(0.85)/flatness over bins 0..N/2.
      // The replica re-implements the pinned algorithm from the spec
      // with no shared code, so agreement pins the whole chain
      // plant→encode→decode→window→FFT→measure. Bounded to the first
      // 40 docs like the time-domain window query.
      Some("""SELECT media_id, window_idx, start_sample, end_sample,
                     fft_n, spectral_centroid_hz, spectral_rolloff_hz,
                     spectral_flatness
              FROM parquet_scan('{FIX}/_fixture_audiofft/*.parquet')
              ORDER BY media_id, window_idx"""),
      (s, d) => {
        val audio = Multimodal.audioFromDocuments(s,
          t(s, d, "documents").filter(col("doc_id") < 40))
        Multimodal.audioSpectralFeatures(s, audio, 25, 10).toDF()
          .orderBy("media_id", "window_idx")
      }),

    QueryDef("q_multimodal_audio_resample",
      // rate conversion through the REAL linear resampler (16 kHz →
      // 11025 Hz — a non-divisor target, so the fractional interpolation
      // path actually runs), then the signal pass over the converted
      // clips. Exact integer positions + one order-fixed float op per
      // sample keep the payloads bit-reproducible → the oracle replays
      // plant→resample→measure in plain Scala.
      Some("""SELECT media_id, sample_rate, n_samples, duration_us, rms,
                     peak, silence_ratio, clipping_ratio
              FROM parquet_scan('{FIX}/_fixture_audiors/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val audio = Multimodal.audioFromDocuments(s, t(s, d, "documents"))
        Multimodal.audioFeatures(s,
            Multimodal.audioResample(s, audio, 11025)).toDF()
          .orderBy("media_id")
      }),

    QueryDef("q_multimodal_audio_windows",
      // speech-style framing fan-out (25 ms windows, 10 ms hop at 16 kHz
      // → 400/160 samples): pure metadata arithmetic on the sample count
      // derived from the WAV layout — the payload column is never read.
      // Clips shorter than one window yield no rows; integral `div`
      // keeps hop indices exact.
      Some("""WITH d AS (SELECT doc_id AS media_id, length(text) AS n FROM documents),
              w AS (SELECT media_id, n, unnest(range(0, (n - 400) // 160 + 1)) AS wi
                    FROM d WHERE n >= 400)
              SELECT media_id, CAST(n AS BIGINT) AS n_samples,
                     CAST(wi AS BIGINT) AS window_idx,
                     CAST(wi * 160 AS BIGINT) AS start_sample,
                     CAST(wi * 160 + 400 AS BIGINT) AS end_sample
              FROM w ORDER BY media_id, window_idx"""),
      (s, d) => {
        val audio = Multimodal.audioFromDocuments(s, t(s, d, "documents"))
        Multimodal.audioWindows(audio.toDF(), 25, 10)
          .orderBy("media_id", "window_idx")
      }),

    // ── extensions: text analysis ──────────────────────────────────────
    QueryDef("q_text_stats",
      Some("""SELECT doc_id,
                     CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_words,
                     CAST(length(text) AS INTEGER) AS n_chars_m,
                     CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
                     round(least(1.0, len(string_split(lower(text), ' ')) * 1.0 / 100.0) * 0.4
                           + (len(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','and','of','to','a','in','is'], x))) * 1.0 / len(string_split(lower(text), ' '))) * 0.3
                           + (1.0 - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1.0 / length(text)) * 0.3, 6) AS quality
              FROM documents ORDER BY doc_id"""),
      (s, d) => Tables.spread(t(s, d, "documents")).select(col("doc_id"),
          size(TextAnalysis.words(col("text"))).as("n_words"),
          length(col("text")).as("n_chars_m"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    QueryDef("q_text_langid", Some(langIdOracle),
      (s, d) => Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    QueryDef("q_text_fingerprint",
      Some("""SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '))), ' ')) AS fp
              FROM documents ORDER BY doc_id"""),
      (s, d) => Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    QueryDef("q_fuzzy_match",
      // typo-tolerant vocabulary matching (SymSpell deletion
      // neighborhoods): candidates from an equi-join on {self} ∪
      // {1-deletion} variant sets — never a vocabulary cross join — then
      // an exact Levenshtein verify. 'haxh' (substitution), 'joinn'
      // (insertion), 'custommer' (insertion) and exact 'hash' all land on
      // corpus vocabulary.
      Some("""WITH qs(q) AS (VALUES ('haxh'), ('joinn'), ('custommer'), ('hash')),
              qv AS (
                SELECT q, q AS variant FROM qs
                UNION
                SELECT q, substr(q, 1, CAST(i AS INTEGER) - 1) ||
                          substr(q, CAST(i AS INTEGER) + 1) AS variant
                FROM qs, UNNEST(range(1, len(q) + 1)) u(i)
              ), vocab AS (
                SELECT term, count(*) AS tf_corpus FROM (
                  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
                GROUP BY 1
              ), vv AS (
                SELECT term, tf_corpus, term AS variant FROM vocab
                UNION
                SELECT term, tf_corpus,
                       substr(term, 1, CAST(i AS INTEGER) - 1) ||
                       substr(term, CAST(i AS INTEGER) + 1) AS variant
                FROM vocab, UNNEST(range(1, len(term) + 1)) u(i)
              ), cand AS (
                SELECT DISTINCT q, term, tf_corpus FROM vv JOIN qv USING (variant)
              )
              SELECT q, term, CAST(levenshtein(q, term) AS INTEGER) AS dist, tf_corpus
              FROM cand WHERE levenshtein(q, term) <= 1
              ORDER BY q, term"""),
      (s, d) => {
        prep(s)
        TextAnalysis.fuzzyTermMatch(t(s, d, "documents"), "text",
          Seq("haxh", "joinn", "custommer", "hash"))
          .orderBy("q", "term")
      }),

    QueryDef("q_fuzzy_match2",
      // radius-2 SymSpell: candidates from {self} ∪ {deletions to depth
      // 2} on both sides ('hsah' transposition, 'joinnn' double
      // insertion, 'filtre' transposed suffix — all Levenshtein-2 from
      // vocabulary), verified by an exact Levenshtein <= 2 pass. The
      // oracle rebuilds both 2-deletion closures recursively in SQL.
      Some("""WITH qs(q) AS (VALUES ('hsah'), ('joinnn'), ('filtre'), ('hash')),
              qv1 AS (
                SELECT q, substr(q, 1, CAST(i AS INTEGER) - 1) ||
                          substr(q, CAST(i AS INTEGER) + 1) AS variant
                FROM qs, UNNEST(range(1, len(q) + 1)) u(i)
              ), qv AS (
                SELECT q, q AS variant FROM qs
                UNION SELECT q, variant FROM qv1
                UNION
                SELECT q, substr(variant, 1, CAST(i AS INTEGER) - 1) ||
                          substr(variant, CAST(i AS INTEGER) + 1) AS variant
                FROM qv1, UNNEST(range(1, len(variant) + 1)) u(i)
              ), vocab AS (
                SELECT term, count(*) AS tf_corpus FROM (
                  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
                GROUP BY 1
              ), vv1 AS (
                SELECT term, tf_corpus,
                       substr(term, 1, CAST(i AS INTEGER) - 1) ||
                       substr(term, CAST(i AS INTEGER) + 1) AS variant
                FROM vocab, UNNEST(range(1, len(term) + 1)) u(i)
              ), vv AS (
                SELECT term, tf_corpus, term AS variant FROM vocab
                UNION SELECT term, tf_corpus, variant FROM vv1
                UNION
                SELECT term, tf_corpus,
                       substr(variant, 1, CAST(i AS INTEGER) - 1) ||
                       substr(variant, CAST(i AS INTEGER) + 1) AS variant
                FROM vv1, UNNEST(range(1, len(variant) + 1)) u(i)
              ), cand AS (
                SELECT DISTINCT q, term, tf_corpus FROM vv JOIN qv USING (variant)
              )
              SELECT q, term, CAST(levenshtein(q, term) AS INTEGER) AS dist, tf_corpus
              FROM cand WHERE levenshtein(q, term) <= 2
              ORDER BY q, term"""),
      (s, d) => {
        prep(s)
        TextAnalysis.fuzzyTermMatch(t(s, d, "documents"), "text",
          Seq("hsah", "joinnn", "filtre", "hash"), maxEdits = 2)
          .orderBy("q", "term")
      }),

    QueryDef("q_text_nfc",
      // Unicode NFC normalization (native codegen'd expression ==
      // DuckDB's nfc_normalize — both implement Unicode canonical
      // composition). The corpus is ASCII, so decomposed sequences
      // ("e" + U+0301) are planted per row; the md5 over the normalized
      // text is the dedup-key the pipeline wants: canonically-equal texts
      // hash equal after NFC, byte-different before.
      Some("""WITH p AS (
                SELECT doc_id,
                       text || ' caf' || 'e' || chr(769) || ' r' || 'e' || chr(769) ||
                         'sume' || chr(769) AS ptext
                FROM documents
              )
              SELECT doc_id, nfc_normalize(ptext) AS norm,
                     md5(nfc_normalize(ptext)) AS nkey
              FROM p ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        // DECOMPOSED plants (e + combining acute U+0301, raw in this
        // literal) so the expression's composition step is what the hash
        // gate exercises; DuckDB builds the same bytes via chr(769)
        val planted = concat(col("text"),
          lit(" café résumé"))
        t(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.nfcNormalize(planted).as("norm"),
            md5(TextAnalysis.nfcNormalize(planted)).as("nkey"))
          .orderBy("doc_id")
      }),

    QueryDef("q_html_extract",
      // HTML → text for raw WARC response records (the lexical layer the
      // WET conversion applies): script/style/comment blocks drop, tags
      // become word boundaries, entities decode one level (&amp; last),
      // whitespace collapses. Every pattern is RE2-compatible, so the
      // oracle runs the IDENTICAL specification in DuckDB over the same
      // planted markup — two engines, one spec.
      Some("""WITH p AS (
                SELECT doc_id,
                       '<html><head><script type="text/javascript">var x = 1 < 2;</script>' ||
                       '<style>.a { color: red }</style></head><body><!-- nav -->' ||
                       '<h1>Title &amp; More</h1><p>' || text ||
                       '</p><div class="x">tail &lt;kept&gt;&nbsp;&#39;q&#39; &amp;lt;once</div></body></html>'
                       AS html
                FROM documents WHERE text IS NOT NULL
              )
              SELECT doc_id,
                     trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(html,
                                 '<script[^>]*>.*?</script\s*>', ' ', 'gis'),
                               '<style[^>]*>.*?</style\s*>', ' ', 'gis'),
                             '<!--.*?-->', ' ', 'gs'),
                           '<[^>]+>', ' ', 'gs'),
                         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '),
                         '&amp;', '&'),
                       '\s+', ' ', 'g')) AS extracted
              FROM p ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        t(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            TextAnalysis.htmlToText(plantedHtml(col("text"))).as("extracted"))
          .orderBy("doc_id")
      }),

    QueryDef("q_boilerplate_blocks",
      // jusText-style block-level content classification: the planted
      // page wraps each doc's text in a body paragraph between a
      // link-dense nav list, a too-short paragraph, and a link-dense
      // footer — the engine splits rendering blocks, measures per-block
      // anchor-text share, and flags content as (link_density <= 0.33
      // AND n_chars >= 25) on the 6-dp-rounded density. Two engines,
      // one RE2-compatible spec (the q_html_extract arrangement).
      Some("""WITH p AS (
                SELECT doc_id,
                       '<div class="nav"><ul><li><a href="/h">Home</a></li>' ||
                       '<li><a href="/a">About us t' || CAST(doc_id % 7 AS VARCHAR) ||
                       '</a></li></ul></div><p>' || text ||
                       '</p><p>Short.</p><footer><a href="/c">contact</a> | ' ||
                       '<a href="/p">privacy</a></footer>' AS html
                FROM documents WHERE text IS NOT NULL
              ), b AS (
                SELECT doc_id,
                       unnest(generate_series(1, len(regexp_split_to_array(html,
                         '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|blockquote|pre|section|article|aside|nav|footer|header|main|figure|figcaption|form|fieldset|br|hr)[^>]*>')))) AS block_idx,
                       unnest(regexp_split_to_array(html,
                         '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|blockquote|pre|section|article|aside|nav|footer|header|main|figure|figcaption|form|fieldset|br|hr)[^>]*>')) AS blk
                FROM p
              ), s AS (
                SELECT doc_id, block_idx,
                       trim(regexp_replace(regexp_replace(blk,
                         '(?s)<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS text,
                       CAST(coalesce(list_sum(list_transform(
                         regexp_extract_all(blk, '(?is)<a [^>]*>([^<]*)</a>', 1),
                         a -> len(trim(regexp_replace(a, '\s+', ' ', 'g'))))), 0)
                         AS BIGINT) AS link_chars
                FROM b
              )
              SELECT doc_id, block_idx, text,
                     CAST(len(text) AS BIGINT) AS n_chars, link_chars,
                     round(CAST(link_chars AS DOUBLE) / len(text), 6) AS link_density,
                     (round(CAST(link_chars AS DOUBLE) / len(text), 6)
                        <= CAST(0.33 AS DOUBLE)
                      AND len(text) >= 25) AS is_content
              FROM s WHERE len(text) > 0
              ORDER BY doc_id, block_idx"""),
      (s, d) => {
        prep(s)
        val pages = t(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), concat(
            lit("<div class=\"nav\"><ul><li><a href=\"/h\">Home</a></li>" +
              "<li><a href=\"/a\">About us t"),
            (col("doc_id") % 7).cast("string"),
            lit("</a></li></ul></div><p>"), col("text"),
            lit("</p><p>Short.</p><footer><a href=\"/c\">contact</a> | " +
              "<a href=\"/p\">privacy</a></footer>")).as("html"))
        TextAnalysis.htmlBlockSignals(pages, "doc_id", "html")
          .orderBy("doc_id", "block_idx")
      }),

    QueryDef("q_text_normalize",
      // corpus text normalization: lowercase, URL/email placeholders,
      // control-char strip, whitespace collapse — byte-identical regexp
      // chain in both engines
      Some("""SELECT doc_id,
                     trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(text),
                       'https?://[^\s]+', '<url>', 'g'),
                       '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
                       '[\x00-\x1f]', ' ', 'g'),
                       ' {2,}', ' ', 'g')) AS norm
              FROM documents ORDER BY doc_id"""),
      (s, d) => Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("norm"))
        .orderBy("doc_id")),

    QueryDef("q_tfidf_topterms",
      // TF-IDF keyword extraction: top-5 terms per doc, ranked on the
      // 6-dp-rounded score with term-ascending tie-break (ln bit-parity
      // between DuckDB and the JVM verified over every N/df operand).
      // Spark side cuts per-doc via the bounded TopKRowsAgg, not a window.
      Some("""WITH terms AS (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
              ), tf AS (
                SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
              ), dfreq AS (
                SELECT term, count(*) AS df FROM tf GROUP BY 1
              ), n AS (SELECT count(*) AS n_docs FROM documents),
              scored AS (
                SELECT doc_id, term,
                       round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
              ), ranked AS (
                SELECT doc_id, term, score,
                       CAST(row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS INTEGER) AS rank
                FROM scored
              )
              SELECT doc_id, term, score, rank FROM ranked
              WHERE rank <= 5 ORDER BY doc_id, rank"""),
      (s, d) => {
        prep(s)
        TextAnalysis.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", 5)
          .orderBy("doc_id", "rank")
      }),

    QueryDef("q_bm25_search",
      // BM25 keyword retrieval: top-10 docs for three keyword queries.
      // Float determinism pinned in the shared bm25SearchOracle (explicit
      // double CASTs, constants combined inside the expression, 6dp
      // per-term rounding, DECIMAL(18,6) summation).
      Some(bm25SearchOracle),
      (s, d) => {
        prep(s)
        TextAnalysis.bm25TopK(t(s, d, "documents"), "doc_id", "text",
          Seq(0L -> Seq("hash", "join"), 1L -> Seq("fast", "scan", "filter"),
            2L -> Seq("customer", "order", "data")), 10)
          .orderBy("query_id", "rank")
      }),

    QueryDef("q_bm25_merge",
      // the shard-then-merge index build a 100 TB corpus runs: each half
      // of the corpus (doc_id parity) builds its BM25 index independently
      // — zero cross-shard shuffle — then bm25IndexMerge combines the two
      // directories (postings union under the shared bucket partitioning,
      // df added term-wise over the disjoint doc sets, stats re-derived
      // from summed exact longs). Every stored quantity equals the
      // all-at-once union build's, so the oracle is q_bm25_search's
      // whole-corpus SQL verbatim: the merged index must answer
      // bit-identically to an index that never was sharded.
      Some(bm25SearchOracle),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        val terms = Seq(0L -> Seq("hash", "join"),
          1L -> Seq("fast", "scan", "filter"),
          2L -> Seq("customer", "order", "data"))
        val dirA = tmpDir("graft-bm25-sharda").toString
        val dirB = tmpDir("graft-bm25-shardb").toString
        val dirM = tmpDir("graft-bm25-merged").toString
        // the two shard builds are independent — overlap their jobs
        Similarity.inParallel(
          TextAnalysis.bm25IndexBuild(docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", buckets = 16).save(dirA),
          TextAnalysis.bm25IndexBuild(docs.filter(col("doc_id") % 2 === 1),
            "doc_id", "text", buckets = 16).save(dirB))
        TextAnalysis.bm25IndexMerge(s, dirA, dirB, dirM)
        TextAnalysis.bm25SearchIndex(TextAnalysis.bm25IndexLoad(s, dirM),
            terms, 10)
          .orderBy("query_id", "rank")
      }),

    QueryDef("q_hard_negatives",
      // hard-negative mining (DPR/contrastive retrieval-training prep):
      // per query, the strongest BM25 candidates that are NOT the known
      // positive, re-ranked 1..5. Positives here are each query's top-1
      // retrieval (the "gold" doc), so the oracle is the q_bm25_search
      // chain with ranks 2..6 shifted down by one — an independent
      // statement of the expected RESULT; the engine runs the general
      // anti-join + bounded re-rank (TextAnalysis.hardNegatives).
      Some("""WITH q(query_id, term) AS (VALUES
                (CAST(0 AS BIGINT), 'hash'), (0, 'join'),
                (1, 'fast'), (1, 'scan'), (1, 'filter'),
                (2, 'customer'), (2, 'order'), (2, 'data')),
              toks AS (
                SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
                       unnest(string_split(lower(text), ' ')) AS term
                FROM documents
              ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(len(string_split(lower(text), ' '))) AS DOUBLE) / count(*) AS avgdl
                FROM documents
              ), tf AS (
                SELECT query_id, doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM toks JOIN q USING (term) GROUP BY 1, 2, 3
              ), dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
              ), scored AS (
                SELECT query_id, doc_id,
                       CAST(round(
                         (ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                                   / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                          * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))))
                         / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                            ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
                             CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))),
                         6) AS DECIMAL(18,6)) AS s
                FROM tf JOIN dfreq USING (term) CROSS JOIN stats
              ), agg AS (
                SELECT query_id, doc_id, CAST(sum(s) AS DOUBLE) AS score
                FROM scored GROUP BY 1, 2
              ), r AS (
                SELECT query_id, doc_id, score,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS INTEGER) AS rank
                FROM agg
              )
              SELECT query_id, doc_id, score,
                     CAST(rank - 1 AS INTEGER) AS neg_rank
              FROM r WHERE rank >= 2 AND rank <= 6
              ORDER BY query_id, neg_rank"""),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        val qs = Seq(0L -> Seq("hash", "join"), 1L -> Seq("fast", "scan", "filter"),
          2L -> Seq("customer", "order", "data"))
        val positives = TextAnalysis.bm25TopK(docs, "doc_id", "text", qs, 1)
          .select("query_id", "doc_id")
        TextAnalysis.hardNegatives(docs, "doc_id", "text", qs, positives,
          k = 11, kneg = 5)
          .orderBy("query_id", "neg_rank")
      }),

    QueryDef("q_retrieval_eval",
      // retrieval-quality metrics (trec_eval core set) of the BM25 run
      // at k=10 against content-derived binary qrels: a doc is relevant
      // iff it contains EVERY term of the query (boolean-AND relevance —
      // derivable identically in both engines from the same
      // tokenization) AND sits in the doc_id%3==0 slice, so the run has
      // genuine misses and the partial-relevance paths (cum/rank AP
      // terms, first-hit RR, nDCG < 1) are exercised on real data.
      // Exercises hits/P@k/R@k/MRR/MAP/nDCG with the fixed-point
      // micro-sum recipe; the oracle restates the full BM25 chain + the
      // qrels derivation + every metric formula in SQL.
      Some("""WITH q(query_id, term) AS (VALUES
                (CAST(0 AS BIGINT), 'hash'), (0, 'join'),
                (1, 'fast'), (1, 'scan'), (1, 'filter'),
                (2, 'customer'), (2, 'order'), (2, 'data')),
              toks AS (
                SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
                       unnest(string_split(lower(text), ' ')) AS term
                FROM documents
              ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(len(string_split(lower(text), ' '))) AS DOUBLE) / count(*) AS avgdl
                FROM documents
              ), tf AS (
                SELECT query_id, doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM toks JOIN q USING (term) GROUP BY 1, 2, 3
              ), dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
              ), scored AS (
                SELECT query_id, doc_id,
                       CAST(round(
                         (ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                                   / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                          * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))))
                         / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                            ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
                             CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))),
                         6) AS DECIMAL(18,6)) AS s
                FROM tf JOIN dfreq USING (term) CROSS JOIN stats
              ), agg AS (
                SELECT query_id, doc_id, CAST(sum(s) AS DOUBLE) AS score
                FROM scored GROUP BY 1, 2
              ), run AS (
                SELECT query_id, doc_id, rank FROM (
                  SELECT query_id, doc_id,
                         CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS INTEGER) AS rank
                  FROM agg) WHERE rank <= 10
              ), qsize AS (
                SELECT query_id, count(DISTINCT term) AS n_q FROM q GROUP BY 1
              ), qr AS (
                SELECT d.query_id, d.doc_id FROM (
                  SELECT q.query_id, t.doc_id, count(DISTINCT q.term) AS nt
                  FROM (SELECT DISTINCT doc_id, term FROM toks) t
                  JOIN q ON t.term = q.term GROUP BY 1, 2) d
                JOIN qsize USING (query_id)
                WHERE d.nt = qsize.n_q AND d.doc_id % 3 = 0
              ), nrel AS (
                SELECT query_id, count(*) AS n_rel FROM qr GROUP BY 1
              ), cumd AS (
                SELECT r.query_id, r.rank,
                       CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel,
                       sum(CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                         OVER (PARTITION BY r.query_id ORDER BY r.rank) AS cum
                FROM run r LEFT JOIN qr
                  ON r.query_id = qr.query_id AND r.doc_id = qr.doc_id
              ), per AS (
                SELECT query_id,
                       CAST(sum(rel) AS BIGINT) AS hits,
                       min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
                       sum(CASE WHEN rel = 1 THEN CAST(round(
                         CAST(cum AS DOUBLE) / rank * 1e6) AS BIGINT)
                         ELSE 0 END) AS ap_sum,
                       sum(CASE WHEN rel = 1 THEN CAST(round(
                         ln(CAST(2 AS DOUBLE)) / ln(CAST(rank AS DOUBLE) + 1.0) * 1e6) AS BIGINT)
                         ELSE 0 END) AS dcg_sum
                FROM cumd GROUP BY 1
              ), iterms AS (
                SELECT i, CAST(round(ln(CAST(2 AS DOUBLE)) /
                  ln(CAST(i AS DOUBLE) + 1.0) * 1e6) AS BIGINT) AS t
                FROM generate_series(1, 10) AS g(i)
              ), idcgt AS (
                SELECT a.i AS m, sum(b.t) AS idcg
                FROM iterms a JOIN iterms b ON b.i <= a.i GROUP BY 1
              )
              SELECT p.query_id,
                     COALESCE(n.n_rel, 0) AS n_rel,
                     p.hits,
                     round(CAST(p.hits AS DOUBLE) / CAST(10 AS DOUBLE), 6) AS prec_k,
                     CASE WHEN n.n_rel > 0
                       THEN round(CAST(p.hits AS DOUBLE) / n.n_rel, 6)
                       ELSE CAST(0 AS DOUBLE) END AS recall_k,
                     COALESCE(round(CAST(1 AS DOUBLE) / p.first_rel, 6),
                       CAST(0 AS DOUBLE)) AS rr,
                     CASE WHEN n.n_rel > 0
                       THEN round(CAST(p.ap_sum AS DOUBLE) /
                         (CAST(least(n.n_rel, 10) AS DOUBLE) * 1e6), 6)
                       ELSE CAST(0 AS DOUBLE) END AS ap,
                     CASE WHEN n.n_rel > 0
                       THEN round(CAST(p.dcg_sum AS DOUBLE) /
                         CAST(it.idcg AS DOUBLE), 6)
                       ELSE CAST(0 AS DOUBLE) END AS ndcg
              FROM per p LEFT JOIN nrel n USING (query_id)
              LEFT JOIN idcgt it ON it.m = least(n.n_rel, 10)
              ORDER BY query_id"""),
      (s, d) => {
        prep(s)
        import s.implicits._
        val docs = t(s, d, "documents")
        val qs = Seq(0L -> Seq("hash", "join"), 1L -> Seq("fast", "scan", "filter"),
          2L -> Seq("customer", "order", "data"))
        val qdf = qs.flatMap { case (q, ts) => ts.distinct.map(t0 => (q, t0)) }
          .toDF("query_id", "term")
        val qsize = qs.map { case (q, ts) => (q, ts.distinct.size.toLong) }
          .toDF("query_id", "n_q")
        val qrels = docs.select(col("doc_id"),
            explode(array_distinct(TextAnalysis.words(col("text")))).as("term"))
          .join(broadcast(qdf), "term")
          .groupBy("query_id", "doc_id").agg(count(lit(1)).as("nt"))
          .join(broadcast(qsize), "query_id")
          .filter(col("nt") === col("n_q") && col("doc_id") % 3 === 0)
          .select("query_id", "doc_id")
        val run = TextAnalysis.bm25TopK(docs, "doc_id", "text", qs, 10)
        TextAnalysis.retrievalEval(run, qrels, 10).orderBy("query_id")
      }),

    QueryDef("q_bm25_index",
      // the PERSISTENT inverted-index path (scale shape): build the
      // term-bucket-partitioned postings once, save, load, search — the
      // graded scan reads only the query terms' bucket=K/ partitions
      // (plan-guarded), at any corpus size. Results must be bit-identical
      // to the from-scratch q_bm25_search, so the oracle is the same SQL.
      Some("""WITH q(query_id, term) AS (VALUES
                (CAST(0 AS BIGINT), 'hash'), (0, 'join'),
                (1, 'fast'), (1, 'scan'), (1, 'filter'),
                (2, 'customer'), (2, 'order'), (2, 'data')),
              toks AS (
                SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
                       unnest(string_split(lower(text), ' ')) AS term
                FROM documents
              ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(len(string_split(lower(text), ' '))) AS DOUBLE) / count(*) AS avgdl
                FROM documents
              ), tf AS (
                SELECT query_id, doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM toks JOIN q USING (term) GROUP BY 1, 2, 3
              ), dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
              ), scored AS (
                SELECT query_id, doc_id,
                       CAST(round(
                         (ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                                   / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                          * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))))
                         / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                            ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
                             CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))),
                         6) AS DECIMAL(18,6)) AS s
                FROM tf JOIN dfreq USING (term) CROSS JOIN stats
              ), agg AS (
                SELECT query_id, doc_id, CAST(sum(s) AS DOUBLE) AS score
                FROM scored GROUP BY 1, 2
              ), r AS (
                SELECT query_id, doc_id, score,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS INTEGER) AS rank
                FROM agg
              )
              SELECT query_id, doc_id, score, rank FROM r
              WHERE rank <= 10 ORDER BY query_id, rank"""),
      (s, d) => {
        prep(s)
        val dir = tmpDir("graft-bm25")
        TextAnalysis.bm25IndexBuild(t(s, d, "documents"), "doc_id", "text", buckets = 16)
          .save(dir.toString)
        val idx = TextAnalysis.bm25IndexLoad(s, dir.toString)
        TextAnalysis.bm25SearchIndex(idx,
          Seq(0L -> Seq("hash", "join"), 1L -> Seq("fast", "scan", "filter"),
            2L -> Seq("customer", "order", "data")), 10)
          .orderBy("query_id", "rank")
      }),

    QueryDef("q_phrase_search",
      // exact token-phrase search over the PERSISTENT positional
      // inverted index (save → load → search): docs containing
      // "slow hash batch" as consecutive tokens, with per-doc occurrence
      // counts. The phrase's 3 posting lists prune to their bucket=K/
      // partitions and join pairwise on (doc_id, pos − offset) — the
      // feature BM25's bag-of-words scoring can't express. Oracle shared
      // with q_phrase_merge (phraseSearchOracle).
      Some(phraseSearchOracle),
      (s, d) => {
        prep(s)
        val dir = tmpDir("graft-posidx").toString
        TextAnalysis.positionalIndexSave(
          TextAnalysis.positionalIndexBuild(t(s, d, "documents"),
            "doc_id", "text", buckets = 16), dir)
        TextAnalysis.phraseSearch(TextAnalysis.positionalIndexLoad(s, dir),
            Seq("slow", "hash", "batch"))
          .orderBy("doc_id")
      }),

    QueryDef("q_phrase_merge",
      // the positional twin of q_bm25_merge: each doc-parity shard builds
      // its positional index independently, positionalIndexMerge unions
      // the bucket partitions (postings carry no corpus-wide state — the
      // merge is purely additive, no recompute), and the merged index
      // must answer the q_phrase_search phrase row-identically to an
      // index that never was sharded — the oracle is that SQL verbatim.
      Some(phraseSearchOracle),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        val dirA = tmpDir("graft-pos-sharda").toString
        val dirB = tmpDir("graft-pos-shardb").toString
        val dirM = tmpDir("graft-pos-merged").toString
        // the two shard builds are independent — overlap their jobs
        Similarity.inParallel(
          TextAnalysis.positionalIndexSave(
            TextAnalysis.positionalIndexBuild(docs.filter(col("doc_id") % 2 === 0),
              "doc_id", "text", buckets = 16), dirA),
          TextAnalysis.positionalIndexSave(
            TextAnalysis.positionalIndexBuild(docs.filter(col("doc_id") % 2 === 1),
              "doc_id", "text", buckets = 16), dirB))
        TextAnalysis.positionalIndexMerge(s, dirA, dirB, dirM)
        TextAnalysis.phraseSearch(TextAnalysis.positionalIndexLoad(s, dirM),
            Seq("slow", "hash", "batch"))
          .orderBy("doc_id")
      }),

    QueryDef("q_collocations",
      // top-20 PMI collocations within a 3-token window, min co-count 5
      // — the multi-word-expression discovery analytic. Exact long
      // counts feed ln terms in pinned left-to-right order; positions
      // pair through one co-partitioned (doc, pos) equi-join (offsets
      // explode keys only, never a per-doc cross product). The oracle
      // restates the identical derivation: windowed self-join,
      // canonical least/greatest pair, same PMI operand order.
      Some("""WITH tt AS (SELECT doc_id, string_split(lower(text),' ') AS w
                          FROM documents),
              p0 AS (SELECT doc_id,
                            unnest(generate_series(1, len(w))) AS pos,
                            unnest(w) AS term
                     FROM tt),
              p AS (SELECT * FROM p0 WHERE term <> ''),
              pr AS (SELECT least(a.term, b.term) AS term_a,
                            greatest(a.term, b.term) AS term_b
                     FROM p a JOIN p b ON a.doc_id = b.doc_id
                       AND b.pos BETWEEN a.pos + 1 AND a.pos + 3
                     WHERE a.term <> b.term),
              nab AS (SELECT term_a, term_b, count(*) AS n_ab
                      FROM pr GROUP BY 1, 2),
              na AS (SELECT term, count(*) AS n FROM p GROUP BY 1),
              tot AS (SELECT (SELECT sum(n_ab) FROM nab) AS t,
                             (SELECT sum(n) FROM na) AS m)
              SELECT term_a, term_b, n_ab,
                     round(ln(CAST(n_ab AS DOUBLE)) + ln(CAST(m AS DOUBLE))
                         + ln(CAST(m AS DOUBLE)) - ln(CAST(t AS DOUBLE))
                         - ln(CAST(naa.n AS DOUBLE)) - ln(CAST(nb.n AS DOUBLE)),
                       6) AS pmi
              FROM nab
              JOIN na naa ON naa.term = nab.term_a
              JOIN na nb ON nb.term = nab.term_b
              CROSS JOIN tot
              WHERE n_ab >= 5
              ORDER BY pmi DESC, term_a, term_b LIMIT 20"""),
      (s, d) => TextAnalysis.collocations(t(s, d, "documents"),
        "doc_id", "text", window = 3, minCount = 5L, k = 20)),

    QueryDef("q_collocations_pruned",
      // the scale rung over q_collocations (its ScaleProof curve is the
      // steepest in the set — exact pair counting grows with observed
      // pair volume): prune the position stream to the top-30 terms
      // (count-desc, term-asc deterministic cut) BEFORE the offset
      // explode + pair join, so the quadratic stage sees only the head
      // of the Zipf curve. Per-term counts stay exact (whole terms drop,
      // never occurrences of kept ones); PMI is over the pruned event
      // space — n_a/n_b/M/T all count kept-term events — and the oracle
      // states the identical pruned derivation.
      Some("""WITH tt AS (SELECT doc_id, string_split(lower(text),' ') AS w
                          FROM documents),
              p0 AS (SELECT doc_id,
                            unnest(generate_series(1, len(w))) AS pos,
                            unnest(w) AS term
                     FROM tt),
              pq AS (SELECT * FROM p0 WHERE term <> ''),
              nall AS (SELECT term, count(*) AS n FROM pq GROUP BY 1),
              kept AS (SELECT term, n FROM (
                         SELECT term, n, row_number() OVER
                             (ORDER BY n DESC, term) AS r FROM nall)
                       WHERE r <= 30),
              p AS (SELECT pq.doc_id, pq.pos, pq.term
                    FROM pq JOIN kept ON pq.term = kept.term),
              pr AS (SELECT least(a.term, b.term) AS term_a,
                            greatest(a.term, b.term) AS term_b
                     FROM p a JOIN p b ON a.doc_id = b.doc_id
                       AND b.pos BETWEEN a.pos + 1 AND a.pos + 3
                     WHERE a.term <> b.term),
              nab AS (SELECT term_a, term_b, count(*) AS n_ab
                      FROM pr GROUP BY 1, 2),
              tot AS (SELECT (SELECT sum(n_ab) FROM nab) AS t,
                             (SELECT sum(n) FROM kept) AS m)
              SELECT term_a, term_b, n_ab,
                     round(ln(CAST(n_ab AS DOUBLE)) + ln(CAST(m AS DOUBLE))
                         + ln(CAST(m AS DOUBLE)) - ln(CAST(t AS DOUBLE))
                         - ln(CAST(naa.n AS DOUBLE)) - ln(CAST(nb.n AS DOUBLE)),
                       6) AS pmi
              FROM nab
              JOIN kept naa ON naa.term = nab.term_a
              JOIN kept nb ON nb.term = nab.term_b
              CROSS JOIN tot
              WHERE n_ab >= 5
              ORDER BY pmi DESC, term_a, term_b LIMIT 20"""),
      (s, d) => TextAnalysis.collocationsPruned(t(s, d, "documents"),
        "doc_id", "text", window = 3, minCount = 5L, k = 20, topVocab = 30)),

    QueryDef("q_proximity_search",
      // NEAR/4 pair-proximity over the persistent positional index
      // (save → load → search): docs where 'slow' and 'batch' co-occur
      // within 4 tokens, with min distance and qualifying-pair count —
      // looser than the exact phrase, stronger than bag-of-words. Two
      // bucket-pruned posting reads, per-doc pair join bounded by
      // tf_a × tf_b. Positions are 0-based engine-side and 1-based in
      // the oracle's unnest — distances are shift-invariant.
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text),' ') AS w
                         FROM documents),
              p AS (SELECT doc_id,
                           unnest(generate_series(1, len(w))) AS pos,
                           unnest(w) AS term
                    FROM t),
              a AS (SELECT doc_id, pos FROM p WHERE term = 'slow'),
              b AS (SELECT doc_id, pos FROM p WHERE term = 'batch')
              SELECT a.doc_id AS doc_id,
                     CAST(min(abs(a.pos - b.pos)) AS INTEGER) AS min_dist,
                     count(*) AS n_pairs
              FROM a JOIN b ON a.doc_id = b.doc_id
                AND abs(a.pos - b.pos) <= 4
              GROUP BY a.doc_id ORDER BY a.doc_id"""),
      (s, d) => {
        prep(s)
        val dir = tmpDir("graft-proxidx").toString
        TextAnalysis.positionalIndexSave(
          TextAnalysis.positionalIndexBuild(t(s, d, "documents"),
            "doc_id", "text", buckets = 16), dir)
        TextAnalysis.proximitySearch(
            TextAnalysis.positionalIndexLoad(s, dir), "slow", "batch", 4)
          .orderBy("doc_id")
      }),

    QueryDef("q_hybrid_rrf",
      // hybrid retrieval: reciprocal-rank fusion of the BM25 keyword
      // ranking with the exhaustive embedding-cosine ranking (Cormack et
      // al. 2009, c=60) — shared id space (vec_id == doc_id), score =
      // sum of 1/(60+rank) contributions in fixed left-to-right order,
      // both operands bit-identical across engines.
      Some(hybridRrfOracle),
      (s, d) => {
        prep(s)
        val sparse = TextAnalysis.bm25TopK(t(s, d, "documents"), "doc_id", "text",
          Seq(0L -> Seq("hash", "join"), 1L -> Seq("fast", "scan", "filter"),
            2L -> Seq("customer", "order", "data")), 10)
          .select(col("query_id"), col("doc_id"), col("rank"))
        val emb = t(s, d, "embeddings")
        val dense = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk").as("rank"))
        TextAnalysis.rrfFuse(sparse, dense, "query_id", "doc_id", "rank", 10)
          .orderBy("query_id", "rank")
      }),

    QueryDef("q_hybrid_indexed",
      // the PRODUCTION hybrid path: both retrieval sides run off saved,
      // partition-pruned disk indexes — BM25 from the bucket-partitioned
      // inverted index, dense from the cid-partitioned IVF index probed
      // exhaustively — then rank-fuse. Both sides are bit-equal to their
      // from-scratch forms (index-build equivalence + exhaustive probe ==
      // brute force), so the oracle is q_hybrid_rrf's SQL verbatim: the
      // whole two-index composition lands under the same hash gate.
      Some(hybridRrfOracle),
      (s, d) => {
        prep(s)
        val terms = Seq(0L -> Seq("hash", "join"), 1L -> Seq("fast", "scan", "filter"),
          2L -> Seq("customer", "order", "data"))
        val bmDir = tmpDir("graft-hyb-bm25")
        val emb = t(s, d, "embeddings")
        val ivfDir = tmpDir("graft-hyb-ivf")
        // the sparse and dense index builds are independent — overlap them
        Similarity.inParallel(
          TextAnalysis.bm25IndexBuild(t(s, d, "documents"), "doc_id", "text",
            buckets = 16).save(bmDir.toString),
          AnnIndex.train(s, emb, nlist = 16, iters = 1).save(ivfDir.toString))
        val sparse = TextAnalysis.bm25SearchIndex(
            TextAnalysis.bm25IndexLoad(s, bmDir.toString), terms, 10)
          .select(col("query_id"), col("doc_id"), col("rank"))
        val dense = AnnIndex.load(s, ivfDir.toString)
          .search(emb.filter(col("vec_id") < 3), 10, nprobe = 16)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk").as("rank"))
        TextAnalysis.rrfFuse(sparse, dense, "query_id", "doc_id", "rank", 10)
          .orderBy("query_id", "rank")
      }),

    QueryDef("q_vocab_bigrams",
      // vocabulary induction / BPE merge-candidate ranking: the corpus's
      // top-100 adjacent-token pairs. One partial->final hash agg + a
      // bounded TakeOrderedAndProject cut; cnt-desc/gram-asc tie-break
      // makes the selected set engine-deterministic
      // (TextAnalysis.topNgrams)
      Some("""WITH toks AS (
                SELECT string_split(lower(text), ' ') AS t FROM documents
              ), g AS (
                SELECT t[i] || ' ' || t[i + 1] AS gram
                FROM toks, UNNEST(range(1, len(t))) u(i)
                WHERE len(t) >= 2
              )
              SELECT gram, count(*) AS cnt FROM g GROUP BY gram
              ORDER BY cnt DESC, gram LIMIT 100"""),
      (s, d) => TextAnalysis.topNgrams(t(s, d, "documents"), "text", 2, 100)),

    QueryDef("q_vocab_heavy",
      // exact heavy hitters via a bounded-memory Misra-Gries candidate
      // pass + exact verify count (TextAnalysis.heavyHitters): all bigrams
      // with count >= 40. The sketch keys on 1024 counters per task, the
      // exact pass on the broadcast candidate set — never the corpus
      // vocabulary. Output is exact, so the oracle is a plain HAVING.
      Some("""WITH toks AS (
                SELECT string_split(lower(text), ' ') AS t FROM documents
              ), g AS (
                SELECT t[i] || ' ' || t[i + 1] AS gram
                FROM toks, UNNEST(range(1, len(t))) u(i)
                WHERE len(t) >= 2
              )
              SELECT gram, count(*) AS cnt FROM g GROUP BY gram
              HAVING count(*) >= 40 ORDER BY cnt DESC, gram"""),
      (s, d) => {
        prep(s)
        TextAnalysis.heavyHitters(t(s, d, "documents"), "text", 2,
          sketchK = 1024, threshold = 40L)
      }),

    QueryDef("q_vocab_coverage",
      // vocabulary coverage / OOV analytics — "does the tokenizer built
      // on corpus A still fit corpus B": the vocabulary is the train
      // split's words at frequency >= 3 (docs with doc_id % 3 <> 0), and
      // every held-out doc (doc_id % 3 = 0) reports token count, OOV
      // count, and 6dp OOV rate. One term-keyed vocab aggregation, one
      // co-partitioned left join on the term key, one doc-keyed reduce —
      // the drift early-warning a frozen tokenizer needs before
      // fertility degrades on a new crawl.
      Some("""WITH tr AS (SELECT unnest(string_split(lower(text), ' ')) AS word
                          FROM documents WHERE doc_id % 3 <> 0),
              v AS (SELECT word FROM (
                      SELECT word, count(*) AS f FROM tr
                      WHERE word <> '' GROUP BY 1)
                    WHERE f >= 3),
              ev AS (SELECT doc_id,
                            unnest(string_split(lower(text), ' ')) AS word
                     FROM documents WHERE doc_id % 3 = 0),
              j AS (SELECT doc_id, ev.word, v.word AS iv
                    FROM ev LEFT JOIN v ON ev.word = v.word
                    WHERE ev.word <> '')
              SELECT doc_id, count(*) AS n_tokens,
                     CAST(sum(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                     round(CAST(sum(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                           / CAST(count(*) AS DOUBLE), 6) AS oov_rate
              FROM j GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        TextAnalysis.vocabCoverage(docs.filter(col("doc_id") % 3 =!= 0),
            docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", minFreq = 3L)
          .orderBy("doc_id")
      }),

    QueryDef("q_text_chunks",
      // overlapping word-window chunking (context-length-bounded training
      // corpora): starts at 0, 16, 32, … while start < |words|, 32-word
      // windows; chunk fan-out happens inside the scan stage
      Some("""SELECT d.doc_id, gs.i AS chunk_idx,
                     array_to_string(list_slice(string_split(lower(d.text), ' '), gs.i*16+1, gs.i*16+32), ' ') AS chunk
              FROM documents d,
                   LATERAL (SELECT unnest(range(0, greatest(CAST(ceil(len(string_split(lower(d.text), ' ')) / 16.0) AS BIGINT), 1))) AS i) gs
              ORDER BY doc_id, chunk_idx"""),
      (s, d) => Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          explode(TextAnalysis.chunks(col("text"), window = 32, stride = 16)).as("c"))
        .select(col("doc_id"), col("c.idx").cast("long").as("chunk_idx"), col("c.chunk").as("chunk"))
        .orderBy("doc_id", "chunk_idx")),

    QueryDef("q_text_sentences",
      // sentence segmentation — the boundary layer under alignment /
      // sentence-dedup / citation chunking: split after terminal
      // punctuation + whitespace (separator injection, RE2-compatible —
      // no lookbehind — so both engines state the identical lexical
      // spec), trim, drop empties, index 0-based. Scan-fused regexp +
      // one posexplode; the only shuffle is the oracle sort.
      Some("""WITH s AS (SELECT doc_id,
                     list_filter(list_transform(
                       string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)),
                       x -> trim(x)), x -> x <> '') AS fs
              FROM documents),
              e AS (SELECT doc_id,
                           unnest(generate_series(1, len(fs))) - 1 AS sent_idx,
                           unnest(fs) AS sentence
                    FROM s)
              SELECT doc_id, CAST(sent_idx AS INTEGER) AS sent_idx, sentence,
                     CAST(len(sentence) AS BIGINT) AS n_chars
              FROM e ORDER BY doc_id, sent_idx"""),
      (s, d) => Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.sentenceSplit(col("text")))
            .as(Seq("sent_idx", "sentence")))
        .select(col("doc_id"), col("sent_idx"), col("sentence"),
          length(col("sentence")).cast("long").as("n_chars"))
        .orderBy("doc_id", "sent_idx")),

    QueryDef("q_dedup_sentences",
      // sentence-level cross-doc dedup (the RefinedWeb/CCNet line-dedup
      // move): two boilerplate sentences stamped onto EVERY page
      // ("subscribe…", "visit our sponsor…") exceed the doc-frequency
      // cap and vanish from every doc; each page rebuilds from its
      // surviving sentences in original order. Sentence-keyed
      // distinct-doc count + sentence-keyed flag join + doc-keyed
      // rebuild; the oracle restates the identical derivation with
      // string_agg ORDER BY sent_idx.
      Some("""WITH pages AS (SELECT doc_id,
                     text || '. Subscribe to our newsletter today. Visit our sponsor now.' AS page
              FROM documents),
              s0 AS (SELECT doc_id,
                            list_filter(list_transform(
                              string_split(regexp_replace(page, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)),
                              x -> trim(x)), x -> x <> '') AS fs
                     FROM pages),
              sents AS (SELECT doc_id,
                               unnest(generate_series(1, len(fs))) - 1 AS sent_idx,
                               unnest(fs) AS sentence
                        FROM s0),
              common AS (SELECT sentence FROM (
                           SELECT sentence, count(DISTINCT doc_id) AS df
                           FROM sents GROUP BY 1)
                         WHERE df > 5)
              SELECT doc_id,
                     coalesce(string_agg(CASE WHEN sentence NOT IN (SELECT sentence FROM common)
                                              THEN sentence END, ' ' ORDER BY sent_idx), '') AS clean_text,
                     CAST(sum(CASE WHEN sentence NOT IN (SELECT sentence FROM common)
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                     CAST(sum(CASE WHEN sentence IN (SELECT sentence FROM common)
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
              FROM sents GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val pages = Tables.spread(t(s, d, "documents")).select(col("doc_id"),
          concat(col("text"),
            lit(". Subscribe to our newsletter today. Visit our sponsor now."))
            .as("page"))
        Dedup.dedupSentences(pages, "doc_id", "page", maxDocFreq = 5L)
          .orderBy("doc_id")
      }),

    QueryDef("q_bpe_train",
      // LEARNED BPE merge table over the corpus (Sennrich 2016, the
      // GPT-2 trainer shape): one distributed word-histogram shuffle over
      // the raw text — the only pass that touches the corpus — then the
      // inherently-sequential merge loop on the bounded top-V histogram
      // driver-side, exactly how HF tokenizers/SentencePiece split the
      // work. Exact integer counts + lexicographic tie-break make the
      // table reproducible; the oracle compares against a Verify-written
      // independent replica of the whole histogram+merge path.
      Some("""SELECT rank, lhs, rhs, pair_freq
              FROM parquet_scan('{FIX}/_fixture_bpetrain/*.parquet')
              ORDER BY rank"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        Tokenizer.mergesDf(s, Tokenizer.bpeTrain(docs, "text", 60))
          .orderBy("rank")
      }),

    QueryDef("q_bpe_truncate",
      // vocabulary truncation as artifact surgery: greedy BPE's merge
      // order is PREFIX-STABLE, so cutting the trained 60-merge table to
      // its first 30 merges encodes exactly like retraining at 30 — a
      // deploy-time vocab-size sweep costs zero retraining passes over
      // the corpus. The oracle proves the property cross-engine: the
      // fixture replica trains 30 merges FROM SCRATCH while the engine
      // truncates its 60-merge table (TokenizerSpec pins the same
      // equality engine-side on the merge tables themselves).
      Some("""SELECT doc_id, n_tokens, head
              FROM parquet_scan('{FIX}/_fixture_bpetruncate/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val merges = Tokenizer.bpeTrain(docs, "text", 60).take(30)
        val toks = Tokenizer.encode(col("text"), merges)
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(toks).as("n_tokens"),
            concat_ws("|", slice(toks, 1, 12)).as("head"))
          .orderBy("doc_id")
      }),

    QueryDef("q_bpe_encode",
      // tokenize the corpus under the learned merge table: the encode is
      // a codegen-fused scan expression (BpeEncode) with a per-thread
      // word memo — fully distributed, no shuffle; only the tiny merge
      // table ships to tasks. n_tokens is the number a packing/budget
      // pipeline consumes; head pins the actual segmentation.
      Some("""SELECT doc_id, n_tokens, head
              FROM parquet_scan('{FIX}/_fixture_bpeencode/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val merges = Tokenizer.bpeTrain(docs, "text", 60)
        val toks = Tokenizer.encode(col("text"), merges)
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(toks).as("n_tokens"),
            concat_ws("|", slice(toks, 1, 12)).as("head"))
          .orderBy("doc_id")
      }),

    QueryDef("q_bpe_cjk",
      // space-free-script (CJK) tokenization: the corpus carries no
      // whitespace word boundaries, so preTokens falls back to character
      // isolation (WordPiece tokenize_chinese_chars — per-character
      // tokens, the BERT convention) — without the fallback the trainer
      // would see ONE unique giant word per document, whose pair counts
      // never reach the freq-2 training floor, and learn nothing.
      // The planted corpus derives from doc_id alone (rotated 12-char
      // Han alphabet, repeated; every 3rd doc gains a Latin tail to pin
      // mixed-script behavior) — the SAME derivation in the Verify
      // replica, which trains and encodes through its own merge loop.
      // Train histogram + codegen-fused encode, unchanged shapes.
      Some("""SELECT doc_id, n_tokens, head
              FROM parquet_scan('{FIX}/_fixture_bpecjk/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val alpha = "的一是不了人我在有他这中"
        val rot = (col("doc_id") % 12).cast("int")
        val ptext = concat(
          call_function("repeat",
            concat(lit(alpha).substr(rot + lit(1), lit(12) - rot),
              lit(alpha).substr(lit(1), rot)),
            (col("doc_id") % 4 + 2).cast("int")),
          when(col("doc_id") % 3 === 0, lit(" mixed latin tail"))
            .otherwise(lit("")))
        val docs = Tables.spread(t(s, d, "documents"))
          .filter(col("text").isNotNull)
          .withColumn("ptext", ptext)
        val merges = Tokenizer.bpeTrain(docs, "ptext", 30)
        val toks = Tokenizer.encode(col("ptext"), merges)
        docs.select(col("doc_id"),
            size(toks).as("n_tokens"),
            concat_ws("|", slice(toks, 1, 12)).as("head"))
          .orderBy("doc_id")
      }),

    QueryDef("q_gopher_cjk",
      // Gopher word signals made honest on space-free scripts: the same
      // planted Han corpus as q_bpe_cjk (plus stopword tails and '#'
      // plants), segmented by wordsSegmented — every Han character is
      // one (alphabetic) word, so n_words/alpha_frac/stop_hits carry
      // signal instead of reading one giant non-alpha word per doc.
      // Same regexp chain in DuckDB — two engines, one spec. Scan-fused,
      // zero shuffles beyond the oracle sort.
      Some(gopherCjkOracle),
      (s, d) => {
        prep(s)
        val alpha = "的一是不了人我在有他这中"
        val rot = (col("doc_id") % 12).cast("int")
        val ptext = concat(
          call_function("repeat",
            concat(lit(alpha).substr(rot + lit(1), lit(12) - rot),
              lit(alpha).substr(lit(1), rot)),
            (col("doc_id") % 4 + 2).cast("int")),
          when(col("doc_id") % 3 === 0, lit(" and with that")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(" #")).otherwise(lit("")))
        val docs = Tables.spread(t(s, d, "documents"))
          .filter(col("text").isNotNull)
          .withColumn("ptext", ptext)
        val sig = Quality.gopherWordSignalsOf(col("ptext"),
          TextAnalysis.wordsSegmented(col("ptext")))
        docs.select(col("doc_id"),
            sig.getField("n_words").as("n_words"),
            sig.getField("mean_word_len").as("mean_word_len"),
            sig.getField("symbol_ratio").as("symbol_ratio"),
            sig.getField("alpha_frac").as("alpha_frac"),
            sig.getField("stop_hits").as("stop_hits"))
          .orderBy("doc_id")
      }),

    QueryDef("q_langid_cjk",
      // language-ID on space-free text: the zh stopword list is single
      // characters (的是了在我), which the whitespace split can never
      // surface from unspaced Chinese — segmented words make them
      // countable, so Han docs route zh while the planted every-5th
      // English doc still routes en. Same segmentation + argmax chain in
      // DuckDB.
      Some(langIdCjkOracle),
      (s, d) => {
        prep(s)
        val alpha = "的一是不了人我在有他这中"
        val rot = (col("doc_id") % 12).cast("int")
        val han = call_function("repeat",
          concat(lit(alpha).substr(rot + lit(1), lit(12) - rot),
            lit(alpha).substr(lit(1), rot)),
          (col("doc_id") % 4 + 2).cast("int"))
        val ptext = when(col("doc_id") % 5 === 0,
            lit("the cat and the dog is in a tree of leaves"))
          .otherwise(concat(han,
            when(col("doc_id") % 3 === 0, lit(" the and is")).otherwise(lit(""))))
        Tables.spread(t(s, d, "documents"))
          .filter(col("text").isNotNull)
          .withColumn("ptext", ptext)
          .select(col("doc_id"),
            TextAnalysis.langIdOf(
              TextAnalysis.wordsSegmented(col("ptext"))).as("lang_pred"))
          .orderBy("doc_id")
      }),

    QueryDef("q_quality_encoding",
      // encoding-sanity curation signals (ftfy/CCNet preprocessing tier)
      // over a corpus with planted decode damage: every 3rd doc gets a
      // U+FFFD replacement char, every 4th a C0 control spill, every 5th
      // a Latin-1 double-decode ("cafÃ© nÃ£o"). Scan-fused struct
      // expression, RE2-safe classes — two engines, one spec.
      Some(encodingOracle),
      (s, d) => {
        prep(s)
        val ptext = concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("�")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("\u0001\u0002")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" cafÃ© nÃ£o")).otherwise(lit("")))
        val sig = Quality.encodingSignals(col("ptext"))
        Tables.spread(t(s, d, "documents")).filter(col("text").isNotNull)
          .withColumn("ptext", ptext)
          .select(col("doc_id"),
            sig.getField("n_chars").as("n_chars"),
            sig.getField("replacement_hits").as("replacement_hits"),
            sig.getField("replacement_frac").as("replacement_frac"),
            sig.getField("ctrl_hits").as("ctrl_hits"),
            sig.getField("ctrl_frac").as("ctrl_frac"),
            sig.getField("mojibake_hits").as("mojibake_hits"),
            sig.getField("clean").as("clean"))
          .orderBy("doc_id")
      }),

    QueryDef("q_sketch_gates",
      // sketch telemetry with exactness gates: HLL++ distinct (rsd 2%)
      // and percentile_approx (accuracy 10k) verified per group against
      // the exact answers. The 100 TB corpus-report shape is sketch-only
      // — one pass, constant mergeable state per group, no distinct
      // shuffle, no full sort — and this gate pins both sketches inside
      // their published error bounds (3×rsd; ±0.02 quantile band) at
      // test scale so an implementation change can't silently blow them.
      Some(sketchOracle),
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("exact_distinct"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("_hll"),
          round(expr("percentile(l_extendedprice, 0.5D)"), 6).as("p50_exact"),
          expr("percentile_approx(l_extendedprice, 0.5D, 10000)").as("_pa"),
          expr("percentile(l_extendedprice, 0.48D)").as("_lo"),
          expr("percentile(l_extendedprice, 0.52D)").as("_hi"))
        .select(col("l_returnflag"), col("exact_distinct"), col("p50_exact"),
          (abs(col("_hll") - col("exact_distinct"))
            <= col("exact_distinct") * 0.06).as("hll_ok"),
          (col("_pa") >= col("_lo") && col("_pa") <= col("_hi")).as("pa_ok"))
        .orderBy("l_returnflag")),

    QueryDef("q_sessionize",
      // gap-based sessionization over the event log (2 h inactivity gap):
      // the clickstream/telemetry operator engagement features and
      // per-session corpus sampling hang off. One hash shuffle on
      // user_id — the boundary lag, the running session number, and the
      // per-session aggregate all reuse the same partitioning
      // (plan-guarded in PlanSpec). Deterministic under replay: total
      // order (ts_us, event_id) inside each key.
      Some(sessionizeOracle),
      (s, d) => {
        val ev = t(s, d, "events")
        Sessionize.sessions(ev, "user_id", Tables.tsEpochUs(ev), "event_id",
            gapUs = 7200000000L)
          .orderBy("user_id", "session_seq")
      }),

    QueryDef("q_event_funnel",
      // ordered-funnel conversion over the event log: users who viewed,
      // then clicked strictly after their first view, then purchased
      // strictly after that first qualifying click. The stream thins to
      // the event_id%7 slice so per-user sequences are sparse enough for
      // genuine step drop-off (the full log has every user doing
      // everything). Per step: one type-filtered scan aggregated on
      // user_id joined to the previous KEY-BOUNDED level
      // (localCheckpoint'd — the report's union branches read
      // materialized levels, not a recomputed prefix chain). The oracle
      // restates the same strictly-after min chain as correlated CTEs.
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type
                         FROM events WHERE event_id % 7 = 0),
              s1 AS (SELECT user_id, min(ts_us) AS t FROM e
                     WHERE event_type = 'view' GROUP BY 1),
              s2 AS (SELECT e.user_id, min(e.ts_us) AS t
                     FROM e JOIN s1 ON e.user_id = s1.user_id AND e.ts_us > s1.t
                     WHERE e.event_type = 'click' GROUP BY 1),
              s3 AS (SELECT e.user_id, min(e.ts_us) AS t
                     FROM e JOIN s2 ON e.user_id = s2.user_id AND e.ts_us > s2.t
                     WHERE e.event_type = 'purchase' GROUP BY 1)
              SELECT 1 AS step, 'view' AS event_type,
                     (SELECT count(*) FROM s1) AS users
              UNION ALL
              SELECT 2, 'click', (SELECT count(*) FROM s2)
              UNION ALL
              SELECT 3, 'purchase', (SELECT count(*) FROM s3)
              ORDER BY step"""),
      (s, d) => {
        val ev = t(s, d, "events")
        Sessionize.funnel(ev.filter(col("event_id") % 7 === 0), "user_id",
            Tables.tsEpochUs(ev), "event_type",
            Seq("view", "click", "purchase"))
          .orderBy("step")
      }),

    QueryDef("q_event_funnel_window",
      // the same ordered funnel under a CONVERSION WINDOW: each step
      // counts only within 7 days of the previous step's completion
      // (the "convert within N days" product form — unbounded funnels
      // overstate conversion on long logs). Same level-chain shape; the
      // oracle adds the identical bound to each correlated CTE.
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type
                         FROM events WHERE event_id % 7 = 0),
              s1 AS (SELECT user_id, min(ts_us) AS t FROM e
                     WHERE event_type = 'view' GROUP BY 1),
              s2 AS (SELECT e.user_id, min(e.ts_us) AS t
                     FROM e JOIN s1 ON e.user_id = s1.user_id
                       AND e.ts_us > s1.t AND e.ts_us - s1.t <= 604800000000
                     WHERE e.event_type = 'click' GROUP BY 1),
              s3 AS (SELECT e.user_id, min(e.ts_us) AS t
                     FROM e JOIN s2 ON e.user_id = s2.user_id
                       AND e.ts_us > s2.t AND e.ts_us - s2.t <= 604800000000
                     WHERE e.event_type = 'purchase' GROUP BY 1)
              SELECT 1 AS step, 'view' AS event_type,
                     (SELECT count(*) FROM s1) AS users
              UNION ALL
              SELECT 2, 'click', (SELECT count(*) FROM s2)
              UNION ALL
              SELECT 3, 'purchase', (SELECT count(*) FROM s3)
              ORDER BY step"""),
      (s, d) => {
        val ev = t(s, d, "events")
        Sessionize.funnel(ev.filter(col("event_id") % 7 === 0), "user_id",
            Tables.tsEpochUs(ev), "event_type",
            Seq("view", "click", "purchase"),
            maxStepGapUs = Some(604800000000L))
          .orderBy("step")
      }),

    QueryDef("q_retention",
      // daily cohort retention over the sparse event_id%7 slice (the
      // full log has every user active every day — no decay to measure):
      // users bucket by first active day, then count per (cohort, day
      // offset). Both engines run the identical floor(ts_us/86400e6)
      // double-division bucket spec; activity dedupes to (user, day)
      // before any join, the cohort table is key-bounded, and the final
      // count groups on the tiny (cohort, offset) space.
      Some("""WITH act AS (
                SELECT DISTINCT user_id,
                       CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
                         AS BIGINT) AS w
                FROM events WHERE event_id % 7 = 0
              ), c AS (
                SELECT user_id, min(w) AS c FROM act GROUP BY 1
              )
              SELECT c.c AS cohort, a.w - c.c AS period_offset,
                     count(*) AS users
              FROM act a JOIN c ON a.user_id = c.user_id
              GROUP BY 1, 2 ORDER BY cohort, period_offset"""),
      (s, d) => {
        val ev = t(s, d, "events")
        Sessionize.retention(ev.filter(col("event_id") % 7 === 0), "user_id",
            Tables.tsEpochUs(ev), bucketUs = 86400000000L)
          .orderBy("cohort", "period_offset")
      }),

    QueryDef("q_active_users",
      // rolling active users — DAU (win=1) and WAU (win=7) per day in
      // one pass over the sparse event_id%7 slice (the full log has all
      // users active daily — nothing to measure). Activity dedupes to
      // (user, day) FIRST, each activity row explodes to the window
      // buckets it covers, dedupes again, and counts per (day, window);
      // output restricts to days with actual activity. Identical
      // floor(ts/bucket) spec in both engines.
      Some("""WITH act AS (
                SELECT DISTINCT user_id,
                       CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
                         AS BIGINT) AS d
                FROM events WHERE event_id % 7 = 0
              ), days AS (SELECT DISTINCT d AS b FROM act),
              w(win) AS (VALUES (1), (7)),
              e0 AS (
                SELECT win, user_id,
                       d + unnest(generate_series(0, CAST(win - 1 AS BIGINT))) AS b
                FROM act CROSS JOIN w
              ), ex AS (SELECT DISTINCT win, user_id, b FROM e0)
              SELECT b AS bucket, win, count(*) AS active
              FROM ex JOIN days USING (b)
              GROUP BY 1, 2 ORDER BY bucket, win"""),
      (s, d) => {
        val ev = t(s, d, "events")
        Sessionize.activeUsers(ev.filter(col("event_id") % 7 === 0),
            "user_id", Tables.tsEpochUs(ev), bucketUs = 86400000000L,
            windows = Seq(1, 7))
          .orderBy("bucket", "win")
      }),

    QueryDef("q_asof_join",
      // as-of join (time-series state attach): every purchase picks up
      // the user's most recent prior-or-simultaneous view (price-at-
      // trade-time semantics). NOT a range join and not a per-key
      // collect: both sides union into one stream, one hash shuffle on
      // the key sorts (ts, side, id), and a running last(payload)
      // window carries each state forward — zero Join operators in the
      // plan (plan-guarded). DuckDB restates it with its native
      // ASOF LEFT JOIN, an independent implementation of the same
      // semantics; the right side pre-aggregates to unique (key, ts) so
      // the most-recent pick is unambiguous in both engines.
      Some("""WITH states AS (
                SELECT user_id, epoch_us(ts) AS state_ts_us,
                       max(value) AS state_value
                FROM events WHERE event_type = 'view'
                GROUP BY user_id, epoch_us(ts)),
              purchases AS (
                SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
                FROM events WHERE event_type = 'purchase')
              SELECT p.event_id, p.user_id, p.ts_us, p.value,
                     s.state_ts_us AS asof_state_ts_us,
                     s.state_value AS asof_state_value
              FROM purchases p ASOF LEFT JOIN states s
                ON p.user_id = s.user_id AND p.ts_us >= s.state_ts_us
              ORDER BY p.event_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            Tables.tsEpochUs(ev).as("ts_us"), col("value"))
        val states = ev.filter(col("event_type") === "view")
          .select(col("user_id"), Tables.tsEpochUs(ev).as("state_ts_us"),
            col("value"))
          .groupBy("user_id", "state_ts_us")
          .agg(max("value").as("state_value"))
        Joins.asofJoin(purchases, states, "user_id", "ts_us", "state_ts_us",
            Seq("state_ts_us", "state_value"))
          .orderBy("event_id")
      }),

    QueryDef("q_range_join",
      // range (interval-containment) join: error events land in the
      // session windows of the same user that contain them. A naive
      // theta-join is a per-key cross product; here sessions explode to
      // the one-week buckets they cover (keys+bounds only) and each point
      // lives in exactly ONE bucket, so the match is a co-partitioned
      // EQUI-join on (user, bucket) + the containment filter — no
      // BroadcastNestedLoop, no cartesian (plan-guarded). Sessions come
      // from the sparse event_id%7 slice with a 7-day gap (the sparse
      // slice under the 2 h gap degenerates to single-instant windows
      // that contain nothing); the points are errors OUTSIDE the slice.
      // The oracle restates containment as a plain inequality join over
      // the identical session derivation.
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
                         FROM events WHERE event_id % 7 = 0),
              l AS (SELECT user_id, event_id, ts_us,
                  CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) <= 604800000000 THEN 0 ELSE 1 END AS new_sess
                FROM e),
              a AS (SELECT user_id, ts_us,
                  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                FROM l),
              sess AS (SELECT user_id, session_seq,
                              min(ts_us) AS start_us, max(ts_us) AS end_us
                       FROM a GROUP BY 1, 2),
              pts AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                      FROM events
                      WHERE event_type = 'error' AND event_id % 7 <> 0)
              SELECT p.event_id, p.user_id, p.ts_us,
                     s.session_seq AS iv_session_seq,
                     s.start_us AS iv_start_us, s.end_us AS iv_end_us
              FROM pts p JOIN sess s ON p.user_id = s.user_id
                AND p.ts_us BETWEEN s.start_us AND s.end_us
              ORDER BY p.event_id, iv_session_seq"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val sess = Sessionize.sessions(ev.filter(col("event_id") % 7 === 0),
            "user_id", Tables.tsEpochUs(ev), "event_id", gapUs = 604800000000L)
          .select("user_id", "session_seq", "start_us", "end_us")
        val pts = ev
          .filter(col("event_type") === "error" && col("event_id") % 7 =!= 0)
          .select(col("event_id"), col("user_id"),
            Tables.tsEpochUs(ev).as("ts_us"))
        Joins.rangeJoin(pts, sess, Seq("user_id"), "ts_us",
            "start_us", "end_us", bucketWidth = 604800000000L,
            attach = Seq("session_seq", "start_us", "end_us"))
          .orderBy("event_id", "iv_session_seq")
      }),

    QueryDef("q_salted_join",
      // skew-salted fact⋈dim equi-join — the explicit hot-key treatment
      // (one orderkey holding >1 task's worth of lineitems against a
      // non-broadcastable orders side): fact rows spread across 8
      // deterministic salt sub-keys, the dimension replicates ×8, the
      // join runs on (key, salt) — and the RESULT is exactly the plain
      // inner join's, which is what the oracle states (salt changes
      // placement, never membership).
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
                     o.o_custkey, o.o_orderstatus
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              ORDER BY l.l_orderkey, l.l_linenumber, l.l_quantity"""),
      (s, d) => {
        val dim = t(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_custkey"), col("o_orderstatus"))
        Joins.saltedJoin(t(s, d, "lineitem"), dim, Seq("l_orderkey"),
            salt = 8, saltExpr = col("l_partkey"))
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "o_custkey", "o_orderstatus")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity")
      }),

    QueryDef("q_decay_score",
      // exponentially-decayed per-user engagement (7-day half-life,
      // scored as of the log's max event time — deterministic, no
      // wall clock): each event contributes value·2^(−age/halfLife),
      // terms rounded to integer micros and summed as longs so the
      // hash is partitioning-independent, one division at the end.
      // One partial→final aggregation on the key.
      Some("""WITH t AS (SELECT (SELECT max(epoch_us(ts)) FROM events) AS t_ref)
              SELECT user_id, count(*) AS n_events,
                     round(CAST(sum(CAST(round(value * pow(2.0,
                         -CAST(t_ref - epoch_us(ts) AS DOUBLE) / 604800000000.0)
                         * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6)
                       AS decay_score
              FROM events CROSS JOIN t
              WHERE epoch_us(ts) <= t_ref
              GROUP BY user_id ORDER BY user_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val asOf = ev.agg(max(Tables.tsEpochUs(ev))).head.getLong(0)
        Sessionize.decayScore(ev, "user_id", Tables.tsEpochUs(ev),
            col("value"), halfLifeUs = 604800000000L, asOfUs = asOf)
          .orderBy("user_id")
      }),

    QueryDef("q_event_transitions",
      // first-order Markov next-step matrix over the event log: for each
      // consecutive event pair inside a user's (ts, event_id)-ordered
      // stream, the (from, to) count and per-from transition probability
      // — the path analytic next to funnels. One key shuffle for the
      // lead window (id/ts/type projected, no payload), then the pair
      // aggregate reduces onto the |types|² space and the probability
      // normalization windows over that tiny table, never the log.
      Some("""WITH ordered AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id) AS to_type
                FROM events)
              SELECT from_type, to_type, count(*) AS n,
                     round(count(*) * 1.0 /
                       sum(count(*)) OVER (PARTITION BY from_type), 6) AS p
              FROM ordered WHERE to_type IS NOT NULL
              GROUP BY from_type, to_type
              ORDER BY from_type, to_type"""),
      (s, d) => {
        val ev = t(s, d, "events")
        Sessionize.transitions(ev, "user_id", Tables.tsEpochUs(ev),
            "event_id", "event_type")
          .orderBy("from_type", "to_type")
      }),

    QueryDef("q_bpe_fertility",
      // tokenizer-quality analytic teams actually track: per-language
      // corpus fertility (tokens/word, tokens/100 chars) under the
      // learned merge table. Exact long sums aggregate per language
      // (map-side partial), dividing ONCE at the end — no rounding,
      // identical operands divide to identical bits. Merges train on the
      // same corpus as q_bpe_train.
      Some("""SELECT lang, n_docs, tokens_per_word, tokens_per_100chars
              FROM parquet_scan('{FIX}/_fixture_bpefertility/*.parquet')
              ORDER BY lang"""),
      (s, d) => {
        prep(s)
        val all = Tables.spread(t(s, d, "documents"))
        val merges = Tokenizer.bpeTrain(all, "text", 60)
        val toks = Tokenizer.encode(col("text"), merges)
        all.filter(col("text").isNotNull && col("lang").isNotNull)
          .select(col("lang"), size(toks).cast("long").as("nt"),
            size(Tokenizer.preTokens(col("text"))).cast("long").as("nw"),
            length(col("text")).cast("long").as("nc"))
          .groupBy("lang").agg(count(lit(1)).as("n_docs"),
            sum(col("nt")).as("snt"), sum(col("nw")).as("snw"),
            sum(col("nc")).as("snc"))
          .select(col("lang"), col("n_docs"),
            (col("snt").cast("double") / col("snw").cast("double"))
              .as("tokens_per_word"),
            (col("snt").cast("double") * lit(100.0) / col("snc").cast("double"))
              .as("tokens_per_100chars"))
          .orderBy("lang")
      }),

    QueryDef("q_multiclass_model",
      // TRAINED multiclass softmax classifier (the fastText-supervised /
      // DoReMi domain-tagger shape): K margins from one did-keyed
      // fixed-point aggregation per pass, softmax in fixed class order,
      // one (f,k)-keyed gradient reduce — bit-reproducible like the
      // binary QualityModel, so the whole train+predict+probability path
      // oracle-checks against an independent plain-Scala replica. Labels
      // planted (doc_id mod 3) with a class marker word so the task is
      // genuinely learnable on the synthetic corpus.
      Some("""SELECT doc_id, pred, p0, p1, p2
              FROM parquet_scan('{FIX}/_fixture_multiclass/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
          .filter(col("text").isNotNull)
          .withColumn("label", concat(lit("c"), (col("doc_id") % 3).cast("string")))
          .withColumn("ptext", concat(col("text"), lit(" mk"),
            (col("doc_id") % 3).cast("string")))
        val m = MulticlassModel.train(docs, "doc_id", "ptext", "label",
          dim = 512, iters = 12)
        // fused kernel: pred + all probabilities from ONE margins fold per
        // row (bit-identical to the separate predict/scores kernels)
        val cl = MulticlassModel.classify(col("ptext"), m)
        val ps = cl.getField("ps")
        docs.select(col("doc_id"),
            cl.getField("pred").as("pred"),
            round(element_at(ps, 1), 6).as("p0"),
            round(element_at(ps, 2), 6).as("p1"),
            round(element_at(ps, 3), 6).as("p2"))
          .orderBy("doc_id")
      }),

    QueryDef("q_classifier_eval",
      // the per-class classification report a classifier-gated curation
      // decision reads before the gate ships: planted truth c(doc_id%3),
      // planted predictions that err on every 10th doc and ABSTAIN
      // (null — the model's no-evidence answer) on every 17th, so the
      // report exercises fp≠fn asymmetry and the abstention cost (fn
      // without fp). Per-class tp/fp/fn from two class-keyed aggs + one
      // outer join; __macro__ = fixed-point mean of the 6dp per-class
      // metrics, __micro__ = pooled counts. The oracle restates the
      // whole derivation.
      Some("""WITH p AS (
                SELECT concat('c', CAST(doc_id % 3 AS VARCHAR)) AS y,
                       CASE WHEN doc_id % 17 = 0 THEN NULL
                            ELSE concat('c', CAST((doc_id +
                              CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) % 3 AS VARCHAR))
                       END AS pred
                FROM documents),
              byl AS (SELECT y AS label, count(*) AS support,
                             CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT) AS tp
                      FROM p GROUP BY 1),
              byp AS (SELECT pred AS label, count(*) AS predn
                      FROM p WHERE pred IS NOT NULL GROUP BY 1),
              pc AS (SELECT coalesce(byl.label, byp.label) AS label,
                            coalesce(support, 0) AS support,
                            coalesce(tp, 0) AS tp,
                            coalesce(predn, 0) - coalesce(tp, 0) AS fp,
                            coalesce(support, 0) - coalesce(tp, 0) AS fn
                     FROM byl FULL JOIN byp ON byl.label = byp.label),
              pm AS (SELECT label, support, tp, fp, fn,
                            CASE WHEN tp + fp > 0
                                 THEN round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
                                 ELSE 0.0 END AS precision,
                            CASE WHEN tp + fn > 0
                                 THEN round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
                                 ELSE 0.0 END AS recall
                     FROM pc),
              pf AS (SELECT label, support, tp, fp, fn, precision, recall,
                            CASE WHEN precision + recall > 0
                                 THEN round(CAST(2.0 AS DOUBLE) * precision * recall
                                            / (precision + recall), 6)
                                 ELSE 0.0 END AS f1
                     FROM pm),
              mac AS (SELECT '__macro__' AS label,
                             CAST(sum(support) AS BIGINT) AS support,
                             CAST(sum(tp) AS BIGINT) AS tp,
                             CAST(sum(fp) AS BIGINT) AS fp,
                             CAST(sum(fn) AS BIGINT) AS fn,
                             round(CAST(sum(CAST(round(precision * 1000000) AS BIGINT)) AS DOUBLE)
                                   / CAST(count(*) AS DOUBLE) / 1000000, 6) AS precision,
                             round(CAST(sum(CAST(round(recall * 1000000) AS BIGINT)) AS DOUBLE)
                                   / CAST(count(*) AS DOUBLE) / 1000000, 6) AS recall,
                             round(CAST(sum(CAST(round(f1 * 1000000) AS BIGINT)) AS DOUBLE)
                                   / CAST(count(*) AS DOUBLE) / 1000000, 6) AS f1
                      FROM pf),
              mict AS (SELECT CAST(sum(support) AS BIGINT) AS support,
                              CAST(sum(tp) AS BIGINT) AS tp,
                              CAST(sum(fp) AS BIGINT) AS fp,
                              CAST(sum(fn) AS BIGINT) AS fn
                       FROM pf),
              micp AS (SELECT '__micro__' AS label, support, tp, fp, fn,
                              CASE WHEN tp + fp > 0
                                   THEN round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
                                   ELSE 0.0 END AS precision,
                              CASE WHEN tp + fn > 0
                                   THEN round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
                                   ELSE 0.0 END AS recall
                       FROM mict),
              mic AS (SELECT label, support, tp, fp, fn, precision, recall,
                             CASE WHEN precision + recall > 0
                                  THEN round(CAST(2.0 AS DOUBLE) * precision * recall
                                             / (precision + recall), 6)
                                  ELSE 0.0 END AS f1
                      FROM micp)
              SELECT label, support, tp, fp, fn, precision, recall, f1 FROM pf
              UNION ALL SELECT * FROM mac
              UNION ALL SELECT * FROM mic
              ORDER BY label"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        val pairs = t(s, d, "documents").select(
          concat(lit("c"), (did % 3).cast("string")).as("y"),
          when(did % 17 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("c"),
              ((did + when(did % 10 === 0, 1L).otherwise(0L)) % 3)
                .cast("string"))).as("pred"))
        MulticlassModel.classificationReport(pairs, "y", "pred")
          .orderBy("label")
      }),

    QueryDef("q_domain_remix",
      // the DoReMi-style composition the classifier exists for: predicted
      // domains feed fractional mixture reweighting toward a TARGET
      // distribution (c0 50% / c1 30% / c2 20%): w_c = target_c × N /
      // count_c, then floor(w) full epochs + an md5-hash-gated frac(w)
      // epoch per doc. The only corpus-sized work is the scan-fused
      // predict and the explode; counts are a K-row collect. Oracle:
      // the fixture predictions + the same weight arithmetic and gate
      // formula (truncated 2^32 hex bound) in SQL.
      Some("""WITH pr AS (SELECT doc_id, pred
                          FROM parquet_scan('{FIX}/_fixture_multiclass/*.parquet')),
              cnt AS (SELECT pred, count(*) AS c FROM pr GROUP BY pred),
              tot AS (SELECT count(*) AS n FROM pr),
              wt AS (SELECT pred,
                       (CAST(CASE pred WHEN 'c0' THEN 0.5 WHEN 'c1' THEN 0.3
                             ELSE 0.2 END AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(c AS DOUBLE) AS w
                     FROM cnt, tot),
              ep AS (SELECT pr.doc_id, pr.pred,
                       CAST(floor(w) AS BIGINT) AS n_full, w - floor(w) AS frac
                     FROM pr JOIN wt USING (pred)),
              g AS (SELECT doc_id, pred, n_full,
                       CASE WHEN frac > 0 AND md5('mix:' || CAST(doc_id AS VARCHAR)) <
                         CASE WHEN floor(frac * 4294967296.0) >= 4294967296.0 THEN 'g'
                              ELSE lpad(lower(to_hex(CAST(floor(frac * 4294967296.0) AS BIGINT))), 8, '0') END
                       THEN 1 ELSE 0 END AS extra
                     FROM ep)
              SELECT doc_id, pred, epoch
              FROM g, UNNEST(range(1, n_full + extra + 1)) t(epoch)
              ORDER BY doc_id, epoch"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
          .filter(col("text").isNotNull)
          .withColumn("label", concat(lit("c"), (col("doc_id") % 3).cast("string")))
          .withColumn("ptext", concat(col("text"), lit(" mk"),
            (col("doc_id") % 3).cast("string")))
        val m = MulticlassModel.train(docs, "doc_id", "ptext", "label",
          dim = 512, iters = 12)
        // cache: the scan-fused predict feeds BOTH the K-row count collect
        // and the epoch explode — without it the corpus scan runs twice
        val preds = docs.select(col("doc_id"),
          MulticlassModel.predict(col("ptext"), m).as("pred")).cache()
        val target = Map("c0" -> 0.5, "c1" -> 0.3, "c2" -> 0.2)
        val counts = preds.groupBy("pred").count().collect()
        val n = counts.map(_.getLong(1)).sum
        val weights = counts
          .map(r => r.getString(0) ->
            (target(r.getString(0)) * n.toDouble / r.getLong(1)))
          .toSeq.sortBy(_._1)
        // the result is tiny (doc_id, pred, epoch); localCheckpoint
        // materializes it eagerly THROUGH the cache so preds can unpersist
        // here instead of leaking a corpus-sized cached DataFrame into the
        // shared bench/verify session (its own blocks are ContextCleaner-
        // reclaimed once the result is dropped, unlike CacheManager entries)
        val out = Pipeline.mixEpochsFractional(preds, "pred", col("doc_id"), weights)
          .select("doc_id", "pred", "epoch").orderBy("doc_id", "epoch")
          .localCheckpoint()
        preds.unpersist()
        out
      }),

    QueryDef("q_bpe_roundtrip",
      // encode∘decode identity audit over the whole corpus: decode (a
      // codegen'd inverse kernel — trailing </w> markers become word
      // boundaries) must reproduce the whitespace-normalized lowercased
      // text for EVERY document, token count attached so the oracle also
      // pins that the comparison ran over real segmentations. The
      // expectation side (concat_ws over preTokens) shares no code with
      // the BPE merge/unmerge path, so a lossy merge replay can't
      // self-confirm. Scan-fused, zero shuffles.
      Some("""SELECT doc_id, CAST(1 AS BOOLEAN) AS roundtrip_ok
              FROM documents WHERE text IS NOT NULL ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val merges = Tokenizer.bpeTrain(docs, "text", 60)
        val toks = Tokenizer.encode(col("text"), merges)
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            (Tokenizer.decode(toks) ===
              concat_ws(" ", Tokenizer.preTokens(col("text"))))
              .as("roundtrip_ok"))
          .orderBy("doc_id")
      }),

    QueryDef("q_unigram_train",
      // LEARNED unigram-LM piece table (Kudo 2018, the SentencePiece
      // unigram model — the second major tokenizer family next to BPE):
      // the same single distributed word-histogram shuffle is the only
      // corpus pass; seeding, EM forward-backward, and expected-count
      // pruning run on the bounded histogram driver-side with a pinned
      // float-op order (StrictMath, canonical UTF-8 piece order), so the
      // table reproduces bit-exactly. The oracle is a Verify-written
      // independent replica of the whole seed+EM+prune path.
      Some("""SELECT piece, log_prob
              FROM parquet_scan('{FIX}/_fixture_unigramtrain/*.parquet')
              ORDER BY piece"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        Tokenizer.piecesDf(s,
            Tokenizer.unigramTrain(docs, "text", vocabSize = 200))
          .orderBy("piece")
      }),

    QueryDef("q_unigram_encode",
      // tokenize the corpus under the trained piece table: Viterbi
      // maximum-likelihood segmentation as a codegen-fused scan
      // expression (UnigramEncode) with a per-thread word memo — fully
      // distributed, no shuffle; only the piece table ships to tasks.
      // Same output shape as q_bpe_encode so the two tokenizer families'
      // fertility compares like-for-like.
      Some("""SELECT doc_id, n_tokens, head
              FROM parquet_scan('{FIX}/_fixture_unigramencode/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val pieces = Tokenizer.unigramTrain(docs, "text", vocabSize = 200)
        val toks = Tokenizer.unigramEncode(col("text"), pieces)
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(toks).as("n_tokens"),
            concat_ws("|", slice(toks, 1, 12)).as("head"))
          .orderBy("doc_id")
      }),

    QueryDef("q_unigram_roundtrip",
      // encode∘decode identity audit, unigram edition: concatenating the
      // Viterbi pieces and turning ▁ markers into word boundaries must
      // reproduce the whitespace-normalized lowercased text for EVERY
      // document — including out-of-vocabulary code points, which emit
      // their own surface form (not an <unk> sentinel) precisely so this
      // identity holds corpus-wide. The expectation side (concat_ws over
      // preTokens) shares no code with the Viterbi path. Scan-fused,
      // zero shuffles; decode is built-in string ops (translate + trim).
      Some("""SELECT doc_id, CAST(1 AS BOOLEAN) AS roundtrip_ok
              FROM documents WHERE text IS NOT NULL ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val pieces = Tokenizer.unigramTrain(docs, "text", vocabSize = 200)
        val toks = Tokenizer.unigramEncode(col("text"), pieces)
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            (Tokenizer.unigramDecode(toks) ===
              concat_ws(" ", Tokenizer.preTokens(col("text"))))
              .as("roundtrip_ok"))
          .orderBy("doc_id")
      }),

    QueryDef("q_bpe_bytes",
      // BYTE-LEVEL BPE (the GPT-2/tiktoken mode, the third tokenizer
      // mode next to char-BPE and unigram): corpus lowers to UTF-8 bytes
      // through the published bytes_to_unicode bijection — case
      // PRESERVED, every script uniform, and ids can never be <unk>
      // because the 256 byte symbols seed the vocabulary. The planted
      // tails force mixed case, Latin-1 accents, and Han through the
      // pipeline; n_unk pins the zero-UNK guarantee and roundtrip_ok the
      // byte-exact decode. Replica re-derives the byte table and runs
      // its own histogram/merge/encode loop.
      Some("""SELECT doc_id, n_tokens, n_unk, head, roundtrip_ok
              FROM parquet_scan('{FIX}/_fixture_bpebytes/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val tail = when(col("doc_id") % 3 === 0, lit(" Grüße 雪"))
          .when(col("doc_id") % 3 === 1, lit(" MiXeD CaSe"))
          .otherwise(lit(" plain ascii"))
        val docs = Tables.spread(t(s, d, "documents"))
          .filter(col("text").isNotNull)
          .withColumn("ptext", concat(col("text"), tail))
        val merges = Tokenizer.bpeTrainBytes(docs, "ptext", 40)
        val toks = Tokenizer.encodeBytes(col("ptext"), merges)
        val vmap = typedLit(Tokenizer.byteVocabulary(merges).zipWithIndex.toMap)
        val ids = transform(toks, tk => coalesce(element_at(vmap, tk), lit(-1)))
        docs.select(col("doc_id"),
            size(toks).as("n_tokens"),
            size(filter(ids, i => i === -1)).as("n_unk"),
            concat_ws("|", slice(ids, 1, 10)).as("head"),
            (Tokenizer.decodeBytes(toks) ===
              trim(regexp_replace(col("ptext"), "\\s+", " ")))
              .as("roundtrip_ok"))
          .orderBy("doc_id")
      }),

    QueryDef("q_unigram_cjk",
      // space-free-script (CJK) coverage for the SECOND tokenizer family:
      // the same planted Han corpus as q_bpe_cjk (rotated 12-char
      // alphabet, mixed-script tails) through the unigram EM trainer and
      // Viterbi encode — character isolation feeds the lattice per-char
      // pieces, EM then lifts multi-char pieces out of the histogram.
      // Replica trains/encodes through its own seed→EM→prune loop.
      Some("""SELECT doc_id, n_tokens, head
              FROM parquet_scan('{FIX}/_fixture_unicjk/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val alpha = "的一是不了人我在有他这中"
        val rot = (col("doc_id") % 12).cast("int")
        val ptext = concat(
          call_function("repeat",
            concat(lit(alpha).substr(rot + lit(1), lit(12) - rot),
              lit(alpha).substr(lit(1), rot)),
            (col("doc_id") % 4 + 2).cast("int")),
          when(col("doc_id") % 3 === 0, lit(" mixed latin tail"))
            .otherwise(lit("")))
        val docs = Tables.spread(t(s, d, "documents"))
          .filter(col("text").isNotNull)
          .withColumn("ptext", ptext)
        val pieces = Tokenizer.unigramTrain(docs, "ptext", vocabSize = 40)
        val toks = Tokenizer.unigramEncode(col("ptext"), pieces)
        docs.select(col("doc_id"),
            size(toks).as("n_tokens"),
            concat_ws("|", slice(toks, 1, 12)).as("head"))
          .orderBy("doc_id")
      }),

    QueryDef("q_unigram_vocab",
      // piece → id vocabulary export, unigram edition (the SentencePiece
      // convention: <unk> = 0, then table order = UTF-8 piece order). A
      // driver-side transform of the bounded trained table — the oracle
      // is the independent trainer replica with the same id assignment.
      Some("""SELECT piece, id
              FROM parquet_scan('{FIX}/_fixture_unigramvocab/*.parquet')
              ORDER BY id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val pieces = Tokenizer.unigramTrain(docs, "text", vocabSize = 200)
        Tokenizer.unigramVocabulary(s, pieces).orderBy("id")
      }),

    QueryDef("q_unigram_encode_ids",
      // the id-array handoff, unigram edition: Viterbi straight to
      // vocabulary ids (array<int> per doc), codegen-fused in the scan.
      // n_unk counts id-0 emissions — nonzero exactly where the corpus
      // carries code points the piece table never saw; the head sample
      // pins actual id assignment.
      Some("""SELECT doc_id, n_ids, n_unk, head
              FROM parquet_scan('{FIX}/_fixture_unigramids/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val pieces = Tokenizer.unigramTrain(docs, "text", vocabSize = 200)
        val ids = Tokenizer.unigramEncodeIds(col("text"), pieces)
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(ids).as("n_ids"),
            size(filter(ids, i => i === 0)).as("n_unk"),
            concat_ws("|", slice(ids, 1, 12)).as("head"))
          .orderBy("doc_id")
      }),

    QueryDef("q_wordpiece_train",
      // LEARNED WordPiece vocabulary (Schuster & Nakajima 2012, the BERT
      // tokenizer — the THIRD tokenizer family next to BPE and unigram):
      // the same single distributed word-histogram shuffle is the only
      // corpus pass; the likelihood-scored merge loop (score =
      // pair_freq/(left_freq·right_freq), compared by exact BigInt
      // cross-multiplication — no float ratio ever forms) runs on the
      // bounded histogram driver-side. The oracle is a Verify-written
      // independent replica of the whole score-merge path.
      Some("""SELECT token, id
              FROM parquet_scan('{FIX}/_fixture_wptrain/*.parquet')
              ORDER BY id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val vocab = Tokenizer.wordpieceTrain(docs, "text", numMerges = 60)
        Tokenizer.wordpieceVocabulary(s, vocab).orderBy("id")
      }),

    QueryDef("q_wordpiece_encode",
      // tokenize the corpus under the trained vocabulary: greedy
      // longest-match-first (BERT's WordpieceTokenizer) as a
      // codegen-fused scan expression with a per-thread word memo —
      // fully distributed, no shuffle; only the vocab ships to tasks.
      // n_unk counts [UNK] emissions (whole-word, BERT's is_bad
      // contract); roundtrip_ok pins decode∘encode == the normalized
      // text exactly where no [UNK] fired — engine and replica must
      // agree on the boolean row-for-row.
      Some("""SELECT doc_id, n_tokens, n_unk, head, roundtrip_ok
              FROM parquet_scan('{FIX}/_fixture_wpencode/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val vocab = Tokenizer.wordpieceTrain(docs, "text", numMerges = 60)
        val toks = Tokenizer.wordpieceEncode(col("text"), vocab)
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(toks).as("n_tokens"),
            size(filter(toks, tk => tk === "[UNK]")).as("n_unk"),
            concat_ws("|", slice(toks, 1, 12)).as("head"),
            (Tokenizer.wordpieceDecode(toks) ===
              concat_ws(" ", Tokenizer.preTokens(col("text"))))
              .as("roundtrip_ok"))
          .orderBy("doc_id")
      }),

    QueryDef("q_wordpiece_encode_ids",
      // the id-array handoff, WordPiece edition: greedy match straight
      // to vocabulary ids (array<int> per doc, position = id — the
      // vocab.txt line-number convention), codegen-fused in the scan.
      // n_unk counts id-0 emissions ([UNK] rides at position 0 by the
      // trainer's export); the head sample pins actual id assignment.
      Some("""SELECT doc_id, n_ids, n_unk, head
              FROM parquet_scan('{FIX}/_fixture_wpids/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val vocab = Tokenizer.wordpieceTrain(docs, "text", numMerges = 60)
        val ids = Tokenizer.wordpieceEncodeIds(col("text"), vocab)
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(ids).as("n_ids"),
            size(filter(ids, i => i === 0)).as("n_unk"),
            concat_ws("|", slice(ids, 1, 12)).as("head"))
          .orderBy("doc_id")
      }),

    QueryDef("q_tokenizer_fertility",
      // the THREE learned-tokenizer families side by side on the SAME
      // corpus — the like-for-like fertility comparison (tokens/word,
      // tokens/100 chars) a tokenizer-selection analysis runs. Exact
      // long sums per family (map-side partial), each family divides
      // ONCE at the end; the union is three one-row aggregates.
      Some("""SELECT family, tokens_per_word, tokens_per_100chars
              FROM parquet_scan('{FIX}/_fixture_tokfertility/*.parquet')
              ORDER BY family"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val merges = Tokenizer.bpeTrain(docs, "text", 60)
        val pieces = Tokenizer.unigramTrain(docs, "text", vocabSize = 200)
        val wpVocab = Tokenizer.wordpieceTrain(docs, "text", numMerges = 60)
        def fert(name: String, toks: Column) =
          docs.filter(col("text").isNotNull)
            .select(size(toks).cast("long").as("nt"),
              size(Tokenizer.preTokens(col("text"))).cast("long").as("nw"),
              length(col("text")).cast("long").as("nc"))
            .agg(sum(col("nt")).as("snt"), sum(col("nw")).as("snw"),
              sum(col("nc")).as("snc"))
            .select(lit(name).as("family"),
              (col("snt").cast("double") / col("snw").cast("double"))
                .as("tokens_per_word"),
              (col("snt").cast("double") * lit(100.0) / col("snc").cast("double"))
                .as("tokens_per_100chars"))
        fert("bpe", Tokenizer.encode(col("text"), merges))
          .unionByName(fert("unigram",
            Tokenizer.unigramEncode(col("text"), pieces)))
          .unionByName(fert("wordpiece",
            Tokenizer.wordpieceEncode(col("text"), wpVocab)))
          .orderBy("family")
      }),

    QueryDef("q_bpe_vocab",
      // token → id vocabulary export (the artifact a training stack loads
      // next to the merges): corpus alphabet in UTF-8 binary order, then
      // merge products in training-rank order, first surface string wins.
      // The oracle is an independent plain-Scala replica of the whole
      // derivation (alphabet via code-point iteration, not the encode
      // kernel).
      Some("""SELECT token, id
              FROM parquet_scan('{FIX}/_fixture_bpevocab/*.parquet')
              ORDER BY id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        Tokenizer.bpeTrainWithVocab(docs, "text", 60)._2.orderBy("id")
      }),

    QueryDef("q_bpe_encode_ids",
      // the id-array handoff: tokenize the corpus straight to vocabulary
      // ids (array<int> per doc — what a training stack's data loader
      // reads), codegen-fused like the token encode. n_unk pins that the
      // training corpus has no out-of-vocabulary tokens (the vocab was
      // derived from it); the head sample pins actual id assignment.
      Some("""SELECT doc_id, n_ids, n_unk, head
              FROM parquet_scan('{FIX}/_fixture_bpeids/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
        val (merges, vocabDf) = Tokenizer.bpeTrainWithVocab(docs, "text", 60)
        val vocab = vocabDf
          .orderBy("id").collect().map(_.getString(0)).toSeq
        val ids = Tokenizer.encodeIds(col("text"), merges, vocab)
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(ids).as("n_ids"),
            size(filter(ids, i => i === -1)).as("n_unk"),
            concat_ws("|", slice(ids, 1, 12)).as("head"))
          .orderBy("doc_id")
      }),

    QueryDef("q_quality_model",
      // TRAINED document classifier (the fastText-linear/FineWeb-Edu
      // shape): logistic regression over hashed bag-of-words, full-batch
      // gradient descent with fixed-point (scaled-long) margin/gradient
      // accumulation — order-independent, so the learned weights are
      // bit-reproducible and the whole train+score path sits inside the
      // oracle gate. Demonstrated distilling a topic-presence rule (doc
      // mentions 'spark' — the corpus' lang column is independent of its
      // synthetic text, so it is unlearnable by construction); scoring
      // is a shuffle-free codegen-fused fold. Oracle = Verify-written
      // plain-Scala re-run of the identical arithmetic.
      Some("""SELECT doc_id, y, p, pred
              FROM parquet_scan('{FIX}/_fixture_qualitymodel/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val docs = Tables.spread(t(s, d, "documents"))
          .filter(col("text").isNotNull)
          .withColumn("y_b",
            array_contains(Tokenizer.preTokens(col("text")), "spark"))
        val w = QualityModel.train(docs, "doc_id", "text", "y_b",
          dim = 1024, iters = 24, lr = 3.0)
        docs.select(col("doc_id"), col("y_b").cast("int").as("y"),
            round(QualityModel.score(col("text"), w, 1024), 6).as("p"))
          .withColumn("pred", (col("p") >= 0.5).cast("int"))
          .orderBy("doc_id")
      }),

    QueryDef("q_quality_repetition",
      // Gopher repetition signals (Rae et al. 2021 §A1.1): top/duplicate
      // n-gram character fractions + duplicate-line fractions over
      // synthetic 8-word lines (corpus has no newlines). All per-row
      // sorted-run-length folds inside the scan — zero shuffles.
      Some(repetitionOracle),
      (s, d) => {
        val nc = length(col("text"))
        val lines = transform(TextAnalysis.chunks(col("text"), 8, 8), c => c.getField("chunk"))
        val s2 = Quality.ngramRunStats(col("text"), 2)
        val s3 = Quality.ngramRunStats(col("text"), 3)
        val ls = Quality.lineRunStats(lines)
        Tables.spread(t(s, d, "documents")).select(col("doc_id"),
            round(s2.getField("top_chars") * lit(1.0) / nc, 6).as("top2gram_char_frac"),
            round(s2.getField("dup_chars") * lit(1.0) / nc, 6).as("dup2gram_char_frac"),
            round(s3.getField("dup_chars") * lit(1.0) / nc, 6).as("dup3gram_char_frac"),
            Quality.duplicateLineFrac(lines).as("dup_line_frac"),
            round(ls.getField("dup_chars") * lit(1.0) / Quality.lineCharTotal(lines), 6)
              .as("dup_line_char_frac"))
          .orderBy("doc_id")
      }),

    QueryDef("q_quality_filter",
      // the composed keep/drop verdict a curation pipeline runs: word-count
      // bounds + repetition + quality score, each failure carrying its
      // reason tag (concat_ws skips the null non-failures in both engines).
      // Still one shuffle-free projection over the scan.
      Some(qualityFilterOracle),
      (s, d) => {
        val nw = size(TextAnalysis.words(col("text")))
        val nc = length(col("text"))
        val dupf = Quality.ngramRunStats(col("text"), 2).getField("dup_chars") * lit(1.0) / nc
        val qual = TextAnalysis.qualityScore(col("text"))
        val reasons = concat_ws(",",
          when(nw < 30, lit("too_short")),
          when(nw > 70, lit("too_long")),
          when(dupf >= 0.2, lit("repetitive")),
          when(qual < 0.45, lit("low_quality")))
        Tables.spread(t(s, d, "documents")).select(col("doc_id"),
            (reasons === "").as("keep"), reasons.as("reasons"))
          .orderBy("doc_id")
      }),

    QueryDef("q_quality_gopher",
      // the FULL Gopher rule set (Rae et al. 2021 §A1.1) beyond the
      // repetition signals: word count, mean word length, symbol ratio,
      // alphabetic-word fraction, required-stop-word count, bullet/ellipsis
      // line fractions, composed into the published keep/drop thresholds.
      // The corpus is clean word soup, so the query plants each rule's
      // failure material keyed off doc_id — the SAME derivation in the
      // oracle: '#' runs (%4), numeric words (%5), the required stop words
      // (%2; odd docs keep the corpus's natural <2 hits), per-line bullets
      // (%3, first doc_id%10 lines) and ellipses (%7, every third line).
      // Still one shuffle-free projection fused into the scan.
      Some(gopherOracle),
      (s, d) => {
        val ptext = concat(col("text"),
          when(col("doc_id") % 4 === 0,
            call_function("repeat", lit(" #"), (col("doc_id") % 9 + 1).cast("int")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            call_function("repeat", lit(" 12345"), (col("doc_id") % 30).cast("int")))
            .otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit(" and with that")).otherwise(lit("")))
        val lines0 = transform(TextAnalysis.chunks(col("ptext"), 8, 8),
          c => c.getField("chunk"))
        val lines = transform(col("lines0"), (l0, i) => {
          val b = when(col("doc_id") % 3 === 0 && i < col("doc_id") % 10,
            concat(lit("- "), l0)).otherwise(l0)
          when(col("doc_id") % 7 === 0 && (i + col("doc_id")) % 3 === 0,
            concat(b, lit("..."))).otherwise(b)
        })
        val reasons = Quality.gopherReasons(col("ws"), col("lsig"))
        Tables.spread(t(s, d, "documents"))
          .withColumn("ptext", ptext)
          .withColumn("lines0", lines0)
          .withColumn("lines", lines)
          .withColumn("ws", Quality.gopherWordSignals(col("ptext")))
          .withColumn("lsig", Quality.gopherLineSignals(col("lines")))
          .select(col("doc_id"),
            col("ws.n_words").as("n_words"),
            col("ws.mean_word_len").as("mean_word_len"),
            col("ws.symbol_ratio").as("symbol_ratio"),
            col("ws.alpha_frac").as("alpha_frac"),
            col("ws.stop_hits").as("stop_hits"),
            col("lsig.n_lines").as("n_lines"),
            col("lsig.bullet_frac").as("bullet_frac"),
            col("lsig.ellipsis_frac").as("ellipsis_frac"),
            (reasons === "").as("keep"), reasons.as("reasons"))
          .orderBy("doc_id")
      }),

    QueryDef("q_url_domains",
      // URL extraction + registered-domain normalization (the key C4-style
      // URL dedup and RefinedWeb domain filtering group on). The corpus
      // carries no URLs, so the query plants one per doc (+ a www-prefixed
      // mirror on every third) keyed off doc_id — the SAME derivation in
      // the oracle — then extracts, normalizes, and aggregates per domain.
      // Scan-fused regexps + one partial->final hash agg on the (tiny)
      // domain key space.
      Some(urlDomainsOracle),
      (s, d) => {
        val ptext = concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 13).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" ref http://www.mirror"), (col("doc_id") % 7).cast("string"),
              lit(".org/x?q=1")))
            .otherwise(lit("")))
        Tables.spread(t(s, d, "documents")).withColumn("ptext", ptext)
          .select(col("doc_id"),
            explode(WebCuration.extractUrls(col("ptext"))).as("url"))
          .select(col("doc_id"),
            WebCuration.domainOf(WebCuration.hostOf(col("url"))).as("domain"))
          .groupBy("domain")
          .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_urls"))
          .orderBy("domain")
      }),

    QueryDef("q_domain_cap",
      // per-domain document cap (RefinedWeb-style domain balancing): keep
      // at most 10 docs per planted domain, survivors chosen by the shared
      // 60-bit md5 variate (deterministic, content-unbiased). The cap is
      // the bounded top-k aggregate — the shuffle ships <= 10 rows per
      // domain, never the corpus; the oracle is the equivalent rank
      // window over the same integer variate.
      Some(domainCapOracle),
      (s, d) => {
        prep(s)
        val url = concat(lit("https://site"), (col("doc_id") % 13).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"))
        val docs = Tables.spread(t(s, d, "documents"))
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            WebCuration.domainOf(WebCuration.hostOf(col("url"))).as("domain"))
        WebCuration.capPerDomain(docs, "domain", "doc_id", 10)
          .select(col("domain"), col("doc_id"), col("rn"))
          .orderBy("domain", "rn")
      }),

    QueryDef("q_url_blocklist",
      // UT1-style domain-blocklist filtering (the RefinedWeb/FineWeb
      // curation step): drop every document whose planted source host
      // falls under a blocked domain at ANY suffix depth —
      // `site3.com` blocks `deep.sub.site3.com` too, and matching is
      // case-insensitive (the `Site…` variant plants that). Candidate
      // ids ride one column-pruned scan with the blocklist broadcast
      // into it; the survivors are a left-anti join against the small
      // blocked-id set (plan-guarded). The oracle restates suffix
      // matching as exact-or-dot-suffix predicates per entry.
      Some("""WITH hosts AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0
                              THEN concat('deep.sub.site', CAST(doc_id % 13 AS VARCHAR), '.com')
                            WHEN doc_id % 3 = 1
                              THEN concat('Site', CAST(doc_id % 13 AS VARCHAR), '.com')
                            ELSE concat('site', CAST(doc_id % 13 AS VARCHAR), '.com')
                       END AS host
                FROM documents)
              SELECT doc_id, host FROM hosts
              WHERE NOT (lower(host) = 'site3.com' OR lower(host) LIKE '%.site3.com'
                     OR lower(host) = 'site7.com' OR lower(host) LIKE '%.site7.com'
                     OR lower(host) = 'deep.sub.site1.com'
                     OR lower(host) LIKE '%.deep.sub.site1.com'
                     OR lower(host) = 'unused.example'
                     OR lower(host) LIKE '%.unused.example')
              ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val host = when(col("doc_id") % 3 === 0,
            concat(lit("deep.sub.site"), (col("doc_id") % 13).cast("string"),
              lit(".com")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("Site"), (col("doc_id") % 13).cast("string"), lit(".com")))
          .otherwise(concat(lit("site"), (col("doc_id") % 13).cast("string"),
            lit(".com")))
        val docs = Tables.spread(t(s, d, "documents"))
          .select(col("doc_id"), host.as("host"))
        val blocklist = Seq("site3.com", "site7.com", "deep.sub.site1.com",
          "unused.example").toDF("domain")
        WebCuration.urlBlocklistFilter(docs, "host", "doc_id", blocklist)
          .select("doc_id", "host").orderBy("doc_id")
      }),

    QueryDef("q_host_pagerank",
      // host-level link-graph PageRank — the seed/harvest-quality prior
      // web-curation stacks attach to every crawled page. The corpus
      // carries no links, so the query plants a page URL plus 2-3
      // outlinks per doc keyed off doc_id (a www-prefixed mirror host
      // exercises normalization; every fifth doc links a `sink` host
      // that never links out, exercising the dangling-mass term), builds
      // the deduped host edge table, and runs 10 synchronous iterations.
      // DETERMINISTIC (fixed-point per-edge contributions, long sums),
      // so the oracle is a Verify-written fixture: an independent
      // plain-Scala PageRank over the same planted derivation.
      Some("""SELECT host, pagerank
              FROM parquet_scan('{FIX}/_fixture_pagerank/*.parquet')
              ORDER BY host"""),
      (s, d) => {
        prep(s)
        WebCuration.pageRank(
            WebCuration.hostEdges(plantedLinkPages(s, d), "url", "links"),
            iters = 10)
          .select(col("host"), col("rank").as("pagerank"))
          .orderBy("host")
      }),

    QueryDef("q_robots_filter",
      // crawl politeness end-to-end: per-host robots.txt content parses
      // to wildcard-agent Allow/Disallow prefix rules (scan-fused
      // split + multiline extraction, no UDF), then URLs filter by
      // longest-prefix match with Allow winning ties. Planted: three
      // hosts share a robots body whose wildcard section disallows
      // /priv but allows back /priv/ok (the precedence case); a fourth
      // host has only a named-agent section, so everything on it
      // survives. The oracle restates the parsed rules' semantics —
      // a parse bug surfaces as wrong survivors.
      Some("""WITH urls AS (SELECT doc_id,
                     concat('site', CAST(doc_id % 4 AS VARCHAR), '.test') AS host,
                     CASE doc_id % 3
                       WHEN 0 THEN concat('/p/', CAST(doc_id AS VARCHAR))
                       WHEN 1 THEN concat('/priv/', CAST(doc_id AS VARCHAR))
                       ELSE concat('/priv/ok/', CAST(doc_id AS VARCHAR))
                     END AS path
                FROM documents)
              SELECT doc_id, concat('https://', host, path) AS url
              FROM urls
              WHERE host = 'site3.test' OR doc_id % 3 <> 1
              ORDER BY doc_id"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        val host = concat(lit("site"), (did % 4).cast("string"), lit(".test"))
        val path = when(did % 3 === 0, concat(lit("/p/"), did.cast("string")))
          .when(did % 3 === 1, concat(lit("/priv/"), did.cast("string")))
          .otherwise(concat(lit("/priv/ok/"), did.cast("string")))
        val urls = Tables.spread(t(s, d, "documents"))
          .select(did, concat(lit("https://"), host, path).as("url"))
        val wildcardBody = "User-agent: crawler9\nDisallow: /\n\n" +
          "USER-AGENT: *\nDisallow: /priv\nAllow: /priv/ok\n"
        val namedOnlyBody = "User-agent: crawler9\nDisallow: /\n"
        val robots = urls
          .select(WebCuration.hostOf(col("url")).as("host")).distinct()
          .withColumn("content",
            when(col("host") === "site3.test", lit(namedOnlyBody))
              .otherwise(lit(wildcardBody)))
        val rules = WebCuration.robotsRules(robots, "host", "content")
        WebCuration.robotsFilter(urls, "doc_id", "url", rules)
          .orderBy("doc_id")
      }),

    QueryDef("q_host_components",
      // weakly-connected components over a planted multi-island host
      // graph (4 five-host link rings + 3 isolated hosts — the
      // PageRank graph is a single component, so this query plants its
      // own): mirror/site clusters are what host-level dedup and
      // crawl-frontier partitioning group on. Runs the generic
      // min-label CC operator (hop + pointer-jump per round, O(log
      // diameter) rounds, three narrow id-keyed shuffles each —
      // Dedup.dupGroups, shared with near-dup grouping; labels are
      // host STRINGS, ordered lexicographically). The oracle computes
      // the same components as a DuckDB recursive-CTE reachability
      // closure — an independent algorithm (transitive closure, fine at
      // the planted graph's size) agreeing on every label.
      Some("""WITH RECURSIVE pages AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                              THEN concat('iso', CAST(doc_id % 3 AS VARCHAR), '.test')
                            ELSE concat('c', CAST(doc_id % 4 AS VARCHAR), 'n',
                                        CAST(doc_id % 5 AS VARCHAR), '.test')
                       END AS host,
                       CASE WHEN doc_id % 7 = 0 THEN NULL
                            ELSE concat('c', CAST(doc_id % 4 AS VARCHAR), 'n',
                                        CAST((doc_id + 1) % 5 AS VARCHAR), '.test')
                       END AS dst
                FROM documents),
              nodes AS (SELECT DISTINCT host FROM pages
                        UNION SELECT DISTINCT dst FROM pages WHERE dst IS NOT NULL),
              edges AS (SELECT DISTINCT host AS a, dst AS b FROM pages
                        WHERE dst IS NOT NULL AND dst <> host
                        UNION
                        SELECT DISTINCT dst AS a, host AS b FROM pages
                        WHERE dst IS NOT NULL AND dst <> host),
              reach(n, m) AS (
                SELECT host, host FROM nodes
                UNION
                SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
              SELECT n AS host, min(m) AS component
              FROM reach GROUP BY n ORDER BY host"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        val hostCol = when(did % 7 === 0,
            concat(lit("iso"), (did % 3).cast("string"), lit(".test")))
          .otherwise(concat(lit("c"), (did % 4).cast("string"), lit("n"),
            (did % 5).cast("string"), lit(".test")))
        val dstHost = concat(lit("c"), (did % 4).cast("string"), lit("n"),
          ((did + 1) % 5).cast("string"), lit(".test"))
        val pages = Tables.spread(t(s, d, "documents")).select(did,
          concat(lit("https://"), hostCol, lit("/p/"), did.cast("string"))
            .as("url"),
          when(did % 7 === 0, array().cast("array<string>"))
            .otherwise(array(concat(lit("https://"), dstHost, lit("/x"))))
            .as("links"))
        val edges = WebCuration.hostEdges(pages, "url", "links")
        val nodes = pages
          .select(WebCuration.domainOf(WebCuration.hostOf(col("url"))).as("host"))
          .union(edges.select(col("dst").as("host"))).distinct()
        Dedup.dupGroups(nodes,
            edges.select(col("src").as("a"), col("dst").as("b")), id = "host")
          .select(col("doc_id").as("host"), col("group_id").as("component"))
          .orderBy("host")
      }),

    QueryDef("q_label_propagation",
      // semi-supervised LPA over the multi-island host graph: one seed
      // host per ring (c{m}n0 → cat{m}) classifies its whole 5-host
      // ring in 2 synchronous rounds (majority of labeled neighbors,
      // ties to the smallest label, seeds clamped). Per round: one
      // edge×labels join + a keyed count + a min_by winner — all
      // node/edge-bounded. The oracle unrolls the same two rounds as
      // CTEs with the identical mode/tie/clamp rules.
      Some("""WITH pages AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                              THEN concat('iso', CAST(doc_id % 3 AS VARCHAR), '.test')
                            ELSE concat('c', CAST(doc_id % 4 AS VARCHAR), 'n',
                                        CAST(doc_id % 5 AS VARCHAR), '.test')
                       END AS host,
                       CASE WHEN doc_id % 7 = 0 THEN NULL
                            ELSE concat('c', CAST(doc_id % 4 AS VARCHAR), 'n',
                                        CAST((doc_id + 1) % 5 AS VARCHAR), '.test')
                       END AS dst
                FROM documents),
              edges0 AS (SELECT DISTINCT host AS a, dst AS b FROM pages
                         WHERE dst IS NOT NULL AND dst <> host
                         UNION
                         SELECT DISTINCT dst AS a, host AS b FROM pages
                         WHERE dst IS NOT NULL AND dst <> host),
              nodes AS (SELECT DISTINCT a AS host FROM edges0),
              seeds(host, label) AS (VALUES
                ('c0n0.test', 'cat0'), ('c1n0.test', 'cat1'),
                ('c2n0.test', 'cat2'), ('c3n0.test', 'cat3')),
              r0 AS (SELECT n.host, s.label
                     FROM nodes n LEFT JOIN seeds s USING (host)),
              w1 AS (SELECT e.a, p.label AS nl, count(*) AS c
                     FROM edges0 e JOIN r0 p ON p.host = e.b
                     WHERE p.label IS NOT NULL GROUP BY 1, 2),
              b1 AS (SELECT a, nl AS prop FROM (
                       SELECT a, nl, row_number() OVER (PARTITION BY a
                         ORDER BY c DESC, nl) AS rn FROM w1) WHERE rn = 1),
              r1 AS (SELECT n.host, COALESCE(s.label, b.prop, p.label) AS label
                     FROM nodes n LEFT JOIN seeds s USING (host)
                     LEFT JOIN r0 p ON p.host = n.host
                     LEFT JOIN b1 b ON b.a = n.host),
              w2 AS (SELECT e.a, p.label AS nl, count(*) AS c
                     FROM edges0 e JOIN r1 p ON p.host = e.b
                     WHERE p.label IS NOT NULL GROUP BY 1, 2),
              b2 AS (SELECT a, nl AS prop FROM (
                       SELECT a, nl, row_number() OVER (PARTITION BY a
                         ORDER BY c DESC, nl) AS rn FROM w2) WHERE rn = 1),
              r2 AS (SELECT n.host, COALESCE(s.label, b.prop, p.label) AS label
                     FROM nodes n LEFT JOIN seeds s USING (host)
                     LEFT JOIN r1 p ON p.host = n.host
                     LEFT JOIN b2 b ON b.a = n.host)
              SELECT host, label FROM r2 ORDER BY host"""),
      (s, d) => {
        prep(s)
        import s.implicits._
        val did = col("doc_id")
        val hostCol = when(did % 7 === 0,
            concat(lit("iso"), (did % 3).cast("string"), lit(".test")))
          .otherwise(concat(lit("c"), (did % 4).cast("string"), lit("n"),
            (did % 5).cast("string"), lit(".test")))
        val dstHost = concat(lit("c"), (did % 4).cast("string"), lit("n"),
          ((did + 1) % 5).cast("string"), lit(".test"))
        val pages = Tables.spread(t(s, d, "documents")).select(did,
          concat(lit("https://"), hostCol, lit("/p/"), did.cast("string"))
            .as("url"),
          when(did % 7 === 0, array().cast("array<string>"))
            .otherwise(array(concat(lit("https://"), dstHost, lit("/x"))))
            .as("links"))
        val seeds = Seq(("c0n0.test", "cat0"), ("c1n0.test", "cat1"),
          ("c2n0.test", "cat2"), ("c3n0.test", "cat3")).toDF("host", "label")
        WebCuration.labelPropagation(
            WebCuration.hostEdges(pages, "url", "links"), seeds, iters = 2)
          .orderBy("host")
      }),

    QueryDef("q_host_pagerank_weighted",
      // WEIGHTED PageRank over the same planted graph: rank splits
      // across out-edges by multiplicity (#docs of src linking dst)
      // instead of uniformly — the harvest-rank refinement. Oracle = an
      // independent replica fixture carrying the same multiplicities.
      Some("""SELECT host, pagerank
              FROM parquet_scan('{FIX}/_fixture_pagerank_w/*.parquet')
              ORDER BY host"""),
      (s, d) => {
        prep(s)
        WebCuration.pageRankWeighted(
            WebCuration.hostEdgesWeighted(plantedLinkPages(s, d),
              "url", "links"),
            "weight", iters = 10)
          .select(col("host"), col("rank").as("pagerank"))
          .orderBy("host")
      }),

    QueryDef("q_host_ppr",
      // personalized PageRank over the planted host graph with site0 +
      // site7 as the topic seeds: rank measures link proximity to the
      // seed set (Haveliwala's topic-sensitive form) — the crawl-
      // prioritization / seed-expansion prior. Teleport and dangling
      // mass return to the seeds, rank initializes to the seed
      // distribution; same fixed-point recipe as q_host_pagerank.
      // Oracle = an independent plain-Scala replica fixture.
      Some("""SELECT host, rank
              FROM parquet_scan('{FIX}/_fixture_ppr/*.parquet')
              ORDER BY host"""),
      (s, d) => {
        prep(s)
        import s.implicits._
        val seeds = Seq("site0.example.com", "site7.example.com").toDF("host")
        WebCuration.pageRankPersonalized(
            WebCuration.hostEdges(plantedLinkPages(s, d), "url", "links"),
            seeds, iters = 10)
          .orderBy("host")
      }),

    QueryDef("q_host_hits",
      // HITS hubs-and-authorities over the same planted host graph as
      // q_host_pagerank — the companion link metric separating
      // directory-like hosts (hubs) from content hosts (authorities).
      // Deterministic fixed-point mutual iteration; the oracle is an
      // independent plain-Scala replica fixture over the same planted
      // derivation.
      Some("""SELECT host, hub, authority
              FROM parquet_scan('{FIX}/_fixture_hits/*.parquet')
              ORDER BY host"""),
      (s, d) => {
        prep(s)
        WebCuration.hits(
            WebCuration.hostEdges(plantedLinkPages(s, d), "url", "links"),
            iters = 10)
          .orderBy("host")
      }),

    QueryDef("q_host_triangles",
      // per-host triangle counts + local clustering coefficient — the
      // graph-density spam signal (link farms are near-cliques, organic
      // hub neighborhoods are sparse). Planted graph: overlapping
      // mod-9 h-ring with ±1/±2 chords (every consecutive triple closes
      // a triangle → 3 per node, degree 4, coefficient 0.5) plus
      // pendant p/q pairs on every 7th doc (degree 1 → coefficient 0.0
      // by the <2-degree definition). The engine enumerates via the
      // degree-ordered compact-forward wedge join (per-source fan-out
      // bounded O(√m)); the oracle closes triangles with the naive
      // a<b<c three-way self-join — independent algorithms agreeing on
      // every corner count.
      Some("""WITH pages AS (
                SELECT CASE WHEN doc_id % 7 = 0
                            THEN concat('p', CAST(doc_id % 3 AS VARCHAR), '.test')
                            ELSE concat('h', CAST(doc_id % 9 AS VARCHAR), '.test')
                       END AS src,
                       CASE WHEN doc_id % 7 = 0
                            THEN concat('q', CAST(doc_id % 3 AS VARCHAR), '.test')
                            ELSE concat('h', CAST((doc_id + 1 + doc_id % 2) % 9 AS VARCHAR), '.test')
                       END AS dst
                FROM documents),
              und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                      FROM pages WHERE src <> dst),
              deg AS (SELECT v, count(*) AS degree FROM (
                        SELECT a AS v FROM und UNION ALL SELECT b FROM und)
                      GROUP BY 1),
              tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                      FROM und e1
                      JOIN und e2 ON e2.a = e1.b
                      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
              tc AS (SELECT v, count(*) AS t FROM (
                       SELECT x AS v FROM tri
                       UNION ALL SELECT y FROM tri
                       UNION ALL SELECT z FROM tri)
                     GROUP BY 1)
              SELECT deg.v AS host, deg.degree,
                     CAST(coalesce(tc.t, 0) AS BIGINT) AS triangles,
                     CASE WHEN deg.degree >= 2
                          THEN round(CAST(coalesce(tc.t, 0) * 2 AS DOUBLE)
                               / CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 6)
                          ELSE 0.0 END AS clustering
              FROM deg LEFT JOIN tc ON tc.v = deg.v
              ORDER BY host"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        val edges = t(s, d, "documents").select(
          when(did % 7 === 0,
              concat(lit("p"), (did % 3).cast("string"), lit(".test")))
            .otherwise(concat(lit("h"), (did % 9).cast("string"), lit(".test")))
            .as("src"),
          when(did % 7 === 0,
              concat(lit("q"), (did % 3).cast("string"), lit(".test")))
            .otherwise(concat(lit("h"),
              ((did + 1 + did % 2) % 9).cast("string"), lit(".test")))
            .as("dst"))
        WebCuration.triangleStats(edges).orderBy("host")
      }),

    QueryDef("q_link_reciprocity",
      // per-host link reciprocity — the link-exchange signal (organic
      // linking is one-way; "you link me, I link you" schemes push the
      // ratio toward 1). Planted directed graph: a 10-host forward ring,
      // plus reverse edges only where the source residue < 4 — so hosts
      // carry mixed out-degrees (1 or 2) and reciprocity 0.5/1.0. The
      // engine's reverse check is one co-partitioned self-semi-join on
      // the flipped key; the oracle restates it as a join-count.
      Some("""WITH raw AS (
                SELECT concat('g', CAST(doc_id % 10 AS VARCHAR), '.test') AS src,
                       concat('g', CAST((doc_id + 1) % 10 AS VARCHAR), '.test') AS dst
                FROM documents
                UNION ALL
                SELECT concat('g', CAST((doc_id + 1) % 10 AS VARCHAR), '.test') AS src,
                       concat('g', CAST(doc_id % 10 AS VARCHAR), '.test') AS dst
                FROM documents WHERE doc_id % 10 < 4),
              e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
              r AS (SELECT e.src, count(*) AS cnt
                    FROM e JOIN e re ON e.src = re.dst AND e.dst = re.src
                    GROUP BY e.src),
              d AS (SELECT src, count(*) AS out_degree FROM e GROUP BY src)
              SELECT d.src AS host, d.out_degree,
                     CAST(coalesce(r.cnt, 0) AS BIGINT) AS reciprocal,
                     round(CAST(coalesce(r.cnt, 0) AS DOUBLE)
                           / CAST(d.out_degree AS DOUBLE), 6) AS reciprocity
              FROM d LEFT JOIN r ON r.src = d.src
              ORDER BY host"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        def g(c: org.apache.spark.sql.Column) =
          concat(lit("g"), (c % 10).cast("string"), lit(".test"))
        val docs = t(s, d, "documents")
        val fwd = docs.select(g(did).as("src"), g(did + 1).as("dst"))
        val rev = docs.filter(did % 10 < 4)
          .select(g(did + 1).as("src"), g(did).as("dst"))
        WebCuration.linkReciprocity(fwd.unionByName(rev)).orderBy("host")
      }),

    QueryDef("q_host_kcore",
      // k-core decomposition (coreness) — the cohesion signal separating
      // densely interlinked communities / link farms (high core) from
      // tree-like organic periphery. Planted graph with KNOWN coreness:
      // the mod-9 h-ring with ±1/±2 chords is 4-regular (whole graph =
      // its own 4-core → coreness 4), the s square is a 4-cycle
      // (coreness 2), p–q pendant pairs peel first (coreness 1). The
      // engine runs the Matula-Beck peel (node-bounded degree agg +
      // semi-join rounds); the oracle states the expected coreness per
      // planted family independently — result-level agreement, no shared
      // algorithm.
      Some("""WITH pages AS (
                SELECT CASE WHEN doc_id % 11 = 0
                            THEN concat('s', CAST(doc_id % 4 AS VARCHAR), '.test')
                            WHEN doc_id % 7 = 0
                            THEN concat('p', CAST(doc_id % 3 AS VARCHAR), '.test')
                            ELSE concat('h', CAST(doc_id % 9 AS VARCHAR), '.test')
                       END AS src,
                       CASE WHEN doc_id % 11 = 0
                            THEN concat('s', CAST((doc_id + 1) % 4 AS VARCHAR), '.test')
                            WHEN doc_id % 7 = 0
                            THEN concat('q', CAST(doc_id % 3 AS VARCHAR), '.test')
                            ELSE concat('h', CAST((doc_id + 1 + doc_id % 2) % 9 AS VARCHAR), '.test')
                       END AS dst
                FROM documents),
              und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                      FROM pages WHERE src <> dst),
              nodes AS (SELECT a AS host FROM und UNION SELECT b FROM und)
              SELECT host,
                     CAST(CASE WHEN host LIKE 'h%' THEN 4
                               WHEN host LIKE 's%' THEN 2
                               ELSE 1 END AS BIGINT) AS coreness
              FROM nodes ORDER BY host"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        val edges = t(s, d, "documents").select(
          when(did % 11 === 0,
              concat(lit("s"), (did % 4).cast("string"), lit(".test")))
            .when(did % 7 === 0,
              concat(lit("p"), (did % 3).cast("string"), lit(".test")))
            .otherwise(concat(lit("h"), (did % 9).cast("string"), lit(".test")))
            .as("src"),
          when(did % 11 === 0,
              concat(lit("s"), ((did + 1) % 4).cast("string"), lit(".test")))
            .when(did % 7 === 0,
              concat(lit("q"), (did % 3).cast("string"), lit(".test")))
            .otherwise(concat(lit("h"),
              ((did + 1 + did % 2) % 9).cast("string"), lit(".test")))
            .as("dst"))
        WebCuration.kCore(edges).orderBy("host")
      }),

    QueryDef("q_link_prior",
      // the reason the host ranks exist: the node-bounded PageRank table
      // joins back onto the corpus as a per-page quality prior — a
      // BROADCAST join on the planted page host, so attaching the prior
      // to 100 TB of pages costs one corpus scan and zero shuffles. The
      // oracle re-derives each doc's host and joins the independent
      // PageRank replica fixture.
      Some("""SELECT d.doc_id,
                     'site' || CAST(d.doc_id % 13 AS VARCHAR) || '.example.com' AS host,
                     f.pagerank
              FROM documents d
              JOIN parquet_scan('{FIX}/_fixture_pagerank/*.parquet') f
                ON f.host = 'site' || CAST(d.doc_id % 13 AS VARCHAR) || '.example.com'
              ORDER BY d.doc_id"""),
      (s, d) => {
        prep(s)
        val ranks = WebCuration.pageRank(
            WebCuration.hostEdges(plantedLinkPages(s, d), "url", "links"),
            iters = 10)
          .select(col("host"), col("rank").as("pagerank"))
        Tables.spread(t(s, d, "documents"))
          .select(col("doc_id"),
            WebCuration.domainOf(WebCuration.hostOf(
              concat(lit("https://site"), (col("doc_id") % 13).cast("string"),
                lit(".example.com/p/"), col("doc_id").cast("string")))).as("host"))
          .join(broadcast(ranks), "host")
          .select(col("doc_id"), col("host"), col("pagerank"))
          .orderBy("doc_id")
      }),

    QueryDef("q_anchor_text",
      // incoming anchor-text aggregation per target host (the
      // query-log-substitute signal retrieval/curation stacks build from
      // a crawl): planted per-doc HTML carries two cross-host <a> links
      // with doc_id-keyed anchor tokens, a relative href (no host —
      // dropped), and a self-link at residue 4 (dropped). The engine
      // runs the real regex-pair extraction + host normalization +
      // tokenization chain; the oracle derives the expected (host, term)
      // stream independently from doc_id arithmetic — no shared regex.
      Some("""WITH d AS (SELECT doc_id FROM documents),
              links AS (
                SELECT 'site' || CAST((doc_id + 4) % 13 AS VARCHAR)
                         || '.example.com' AS host, 'alpha' AS term FROM d
                UNION ALL
                SELECT 'site' || CAST((doc_id + 4) % 13 AS VARCHAR)
                         || '.example.com',
                       't' || CAST(doc_id % 7 AS VARCHAR) FROM d
                UNION ALL
                SELECT 'site' || CAST((doc_id * 3 + 5) % 13 AS VARCHAR)
                         || '.example.com', 'beta'
                FROM d WHERE (doc_id * 3 + 5) % 13 <> doc_id % 13
                UNION ALL
                SELECT 'site' || CAST((doc_id * 3 + 5) % 13 AS VARCHAR)
                         || '.example.com', 'link'
                FROM d WHERE (doc_id * 3 + 5) % 13 <> doc_id % 13
                UNION ALL
                SELECT 'site' || CAST((doc_id * 3 + 5) % 13 AS VARCHAR)
                         || '.example.com',
                       't' || CAST(doc_id % 5 AS VARCHAR)
                FROM d WHERE (doc_id * 3 + 5) % 13 <> doc_id % 13
              )
              SELECT host, term, count(*) AS cnt
              FROM links GROUP BY 1, 2 ORDER BY host, term"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        val pages = Tables.spread(t(s, d, "documents")).select(
          did,
          concat(lit("https://site"), (did % 13).cast("string"),
            lit(".example.com/p/"), did.cast("string")).as("url"),
          concat(
            lit("<p>intro</p><a href=\"https://site"),
            ((did + 4) % 13).cast("string"),
            lit(".example.com/a\">alpha t"), (did % 7).cast("string"),
            lit("</a><p>mid</p><a class=\"x\" href=\"https://site"),
            ((did * 3 + 5) % 13).cast("string"),
            lit(".example.com/b\">beta link t"), (did % 5).cast("string"),
            lit("</a><a href=\"/rel\">skip me</a>")).as("html"))
        WebCuration.anchorTermEdges(pages, "url", "html")
          .groupBy(col("dst").as("host"), col("term"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("host", "term")
      }),

    QueryDef("q_anchor_topk",
      // per-host anchor-term PROFILE: the top-3 incoming anchor terms per
      // target host by count — the keyword summary retrieval/curation
      // attaches to a host. The cut is the bounded TopKRowsAgg (<= 3 rows
      // per host through the shuffle), never a rank window; ties break
      // term-ascending so the selected set is engine-reproducible. Same
      // planted link derivation as q_anchor_text; the oracle ranks the
      // independently-derived counts with a window.
      Some("""WITH d AS (SELECT doc_id FROM documents),
              links AS (
                SELECT 'site' || CAST((doc_id + 4) % 13 AS VARCHAR)
                         || '.example.com' AS host, 'alpha' AS term FROM d
                UNION ALL
                SELECT 'site' || CAST((doc_id + 4) % 13 AS VARCHAR)
                         || '.example.com',
                       't' || CAST(doc_id % 7 AS VARCHAR) FROM d
                UNION ALL
                SELECT 'site' || CAST((doc_id * 3 + 5) % 13 AS VARCHAR)
                         || '.example.com', 'beta'
                FROM d WHERE (doc_id * 3 + 5) % 13 <> doc_id % 13
                UNION ALL
                SELECT 'site' || CAST((doc_id * 3 + 5) % 13 AS VARCHAR)
                         || '.example.com', 'link'
                FROM d WHERE (doc_id * 3 + 5) % 13 <> doc_id % 13
                UNION ALL
                SELECT 'site' || CAST((doc_id * 3 + 5) % 13 AS VARCHAR)
                         || '.example.com',
                       't' || CAST(doc_id % 5 AS VARCHAR)
                FROM d WHERE (doc_id * 3 + 5) % 13 <> doc_id % 13
              ), c AS (
                SELECT host, term, count(*) AS cnt FROM links GROUP BY 1, 2
              ), r AS (
                SELECT host, term, cnt,
                       CAST(row_number() OVER (PARTITION BY host
                            ORDER BY cnt DESC, term) AS INTEGER) AS rnk
                FROM c
              )
              SELECT host, term, cnt, rnk FROM r WHERE rnk <= 3
              ORDER BY host, rnk"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        val pages = Tables.spread(t(s, d, "documents")).select(
          did,
          concat(lit("https://site"), (did % 13).cast("string"),
            lit(".example.com/p/"), did.cast("string")).as("url"),
          concat(
            lit("<p>intro</p><a href=\"https://site"),
            ((did + 4) % 13).cast("string"),
            lit(".example.com/a\">alpha t"), (did % 7).cast("string"),
            lit("</a><p>mid</p><a class=\"x\" href=\"https://site"),
            ((did * 3 + 5) % 13).cast("string"),
            lit(".example.com/b\">beta link t"), (did % 5).cast("string"),
            lit("</a><a href=\"/rel\">skip me</a>")).as("html"))
        val counts = WebCuration.anchorTermEdges(pages, "url", "html")
          .groupBy(col("dst").as("host"), col("term"))
          .agg(count(lit(1)).as("cnt"))
        CqlOps.perPartitionLimitAgg(counts, Seq("host"),
            Seq(("cnt", true), ("term", false)), 3, rowNumberCol = "rnk")
          .select(col("host"), col("term"), col("cnt"), col("rnk"))
          .orderBy("host", "rnk")
      }),

    QueryDef("q_host_quality",
      // RefinedWeb-style HOST-level filtering: per-page quality scores
      // aggregate per planted host (text perturbed by a host-keyed
      // punctuation tail so host means genuinely spread, 0.50-0.56 at
      // sf0.01) and the keep/drop verdict lands on hosts, not pages —
      // host-bounded state for a corpus-sized effect. Fixed-point mean
      // (micro-rounded per-doc scores summed as longs, one division),
      // keep compares the 6-dp-rounded mean at 0.52.
      Some("""WITH d AS (
                SELECT 'site' || CAST(doc_id % 13 AS VARCHAR)
                         || '.example.com' AS host,
                       text || repeat(' @@@@@', CAST(doc_id % 13 AS INT) * 2) AS ptext
                FROM documents
              ), s AS (
                SELECT host,
                       CAST(round(round(
                         least(1.0, len(string_split(lower(ptext),' ')) * 1.0 / 100.0) * 0.4
                         + (len(list_filter(string_split(lower(ptext),' '),
                             x -> list_contains(['the','and','of','to','a','in','is'], x)))
                            * 1.0 / len(string_split(lower(ptext),' '))) * 0.3
                         + (1.0 - length(regexp_replace(lower(ptext), '[a-z0-9 ]', '', 'g'))
                            * 1.0 / length(ptext)) * 0.3, 6) * 1e6) AS BIGINT) AS s
                FROM d
              )
              SELECT host, count(*) AS n_docs,
                     round(CAST(sum(s) AS DOUBLE)
                       / (CAST(count(*) AS DOUBLE) * 1e6), 6) AS mean_score,
                     round(CAST(sum(s) AS DOUBLE)
                       / (CAST(count(*) AS DOUBLE) * 1e6), 6)
                       >= CAST(0.52 AS DOUBLE) AS keep
              FROM s GROUP BY 1 ORDER BY host"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        val docs = Tables.spread(t(s, d, "documents")).select(
          concat(lit("site"), (did % 13).cast("string"),
            lit(".example.com")).as("host"),
          TextAnalysis.qualityScore(concat(col("text"),
            call_function("repeat", lit(" @@@@@"),
              ((did % 13) * 2).cast("int")))).as("q"))
        WebCuration.hostQualityStats(docs, "host", "q", minMean = 0.52)
          .orderBy("host")
      }),

    QueryDef("q_snapshot_diff",
      // crawl-snapshot diff — the incremental-ingest decision table: the
      // new snapshot (planted: every doc except the doc_id%11==4 slice)
      // full-outer-joins the standing corpus (every doc except the
      // doc_id%7==3 slice, with the %5==0 slice's content digest mutated)
      // on URL, classifying new / changed / unchanged / gone. Only
      // (url, digest) pairs reach the join; payloads never move.
      Some("""WITH s AS (
                SELECT 'https://site' || CAST(doc_id % 13 AS VARCHAR)
                         || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                       md5(text) AS dg
                FROM documents WHERE doc_id % 11 <> 4
              ), c AS (
                SELECT 'https://site' || CAST(doc_id % 13 AS VARCHAR)
                         || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                       CASE WHEN doc_id % 5 = 0 THEN md5(text || 'v2')
                            ELSE md5(text) END AS dg
                FROM documents WHERE doc_id % 7 <> 3
              ), d AS (
                SELECT CASE WHEN c.url IS NULL THEN 'new'
                            WHEN s.url IS NULL THEN 'gone'
                            WHEN s.dg = c.dg THEN 'unchanged'
                            ELSE 'changed' END AS status
                FROM s FULL OUTER JOIN c ON s.url = c.url
              )
              SELECT status, count(*) AS n FROM d
              GROUP BY 1 ORDER BY status"""),
      (s, d) => {
        prep(s)
        val did = col("doc_id")
        val url = concat(lit("https://site"), (did % 13).cast("string"),
          lit(".example.com/p/"), did.cast("string"))
        val docs = Tables.spread(t(s, d, "documents"))
        val snap = docs.filter(did % 11 =!= 4)
          .select(url.as("url"), md5(col("text")).as("dg"))
        val corp = docs.filter(did % 7 =!= 3)
          .select(url.as("url"),
            when(did % 5 === 0, md5(concat(col("text"), lit("v2"))))
              .otherwise(md5(col("text"))).as("dg"))
        WebCuration.snapshotDiff(snap, corp, "url", "dg")
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status")
      }),

    QueryDef("q_corpus_divergence",
      // one-row distribution-shift summary (the number a drift monitor
      // pages on): JS divergence plus both KL directions between the
      // full corpus's doc_id%6 group distribution and an even-ids
      // slice. The slice only contains even groups, so KL(a||b) is
      // INFINITE → null (the "a group vanished" alarm), KL(b||a) is
      // finite, and JS stays finite by construction — every zero path
      // exercised. ln terms round to integer micros and sum as longs
      // (the retrievalEval fixed-point arrangement) over the 6-dp
      // share table, so both engines sum identical operands.
      Some("""WITH a AS (SELECT doc_id % 6 AS g FROM documents),
              b AS (SELECT doc_id % 6 AS g FROM documents WHERE doc_id % 2 = 0),
              ca AS (SELECT g, count(*) AS n_a FROM a GROUP BY 1),
              cb AS (SELECT g, count(*) AS n_b FROM b GROUP BY 1),
              t AS (SELECT (SELECT count(*) FROM a) AS ta,
                           (SELECT count(*) FROM b) AS tb),
              j AS (SELECT COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
                    FROM ca FULL OUTER JOIN cb ON ca.g = cb.g),
              sh AS (SELECT
                       CASE WHEN ta > 0 THEN round(CAST(n_a AS DOUBLE) / ta, 6)
                            ELSE CAST(0 AS DOUBLE) END AS p,
                       CASE WHEN tb > 0 THEN round(CAST(n_b AS DOUBLE) / tb, 6)
                            ELSE CAST(0 AS DOUBLE) END AS q
                     FROM j CROSS JOIN t),
              terms AS (SELECT
                CAST(round((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END) * 1000000) AS BIGINT)
                + CAST(round((CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0 END) * 1000000) AS BIGINT) AS jt,
                CAST(round((CASE WHEN p > 0 AND q > 0 THEN p * ln(p / q) ELSE 0 END) * 1000000) AS BIGINT) AS kab,
                CAST(round((CASE WHEN q > 0 AND p > 0 THEN q * ln(q / p) ELSE 0 END) * 1000000) AS BIGINT) AS kba,
                CASE WHEN p > 0 AND q = 0 THEN 1 ELSE 0 END AS iab,
                CASE WHEN q > 0 AND p = 0 THEN 1 ELSE 0 END AS iba
                FROM sh)
              SELECT count(*) AS n_groups,
                     round(CAST(sum(jt) AS DOUBLE) / 2000000, 6) AS js,
                     CASE WHEN max(iab) = 1 THEN NULL
                          ELSE round(CAST(sum(kab) AS DOUBLE) / 1000000, 6)
                     END AS kl_ab,
                     CASE WHEN max(iba) = 1 THEN NULL
                          ELSE round(CAST(sum(kba) AS DOUBLE) / 1000000, 6)
                     END AS kl_ba
              FROM terms"""),
      (s, d) => {
        val docs = Tables.spread(t(s, d, "documents"))
          .withColumn("g", col("doc_id") % 6)
        Pipeline.corpusDivergence(docs,
          docs.filter(col("doc_id") % 2 === 0), "g")
      }),

    QueryDef("q_corpus_drift",
      // corpus-drift report between two snapshots (the pre-training
      // "did the new crawl shift" monitor): per language, each half's
      // doc count, corpus share, and absolute share delta — full-outer
      // so appearing/vanishing groups surface. Group-bounded joins, two
      // 1-row totals broadcast.
      Some("""WITH a AS (SELECT lang FROM documents WHERE doc_id % 2 = 0),
              b AS (SELECT lang FROM documents WHERE doc_id % 2 = 1),
              ca AS (SELECT lang, count(*) AS n_a FROM a GROUP BY 1),
              cb AS (SELECT lang, count(*) AS n_b FROM b GROUP BY 1),
              t AS (SELECT (SELECT count(*) FROM a) AS ta,
                           (SELECT count(*) FROM b) AS tb),
              j AS (SELECT COALESCE(ca.lang, cb.lang) AS lang,
                           COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
                    FROM ca FULL OUTER JOIN cb ON ca.lang = cb.lang)
              SELECT lang, n_a, n_b,
                     CASE WHEN ta > 0
                       THEN round(CAST(n_a AS DOUBLE) / ta, 6)
                       ELSE CAST(0 AS DOUBLE) END AS share_a,
                     CASE WHEN tb > 0
                       THEN round(CAST(n_b AS DOUBLE) / tb, 6)
                       ELSE CAST(0 AS DOUBLE) END AS share_b,
                     round(abs(
                       CASE WHEN ta > 0
                         THEN round(CAST(n_a AS DOUBLE) / ta, 6)
                         ELSE CAST(0 AS DOUBLE) END -
                       CASE WHEN tb > 0
                         THEN round(CAST(n_b AS DOUBLE) / tb, 6)
                         ELSE CAST(0 AS DOUBLE) END), 6) AS share_delta
              FROM j CROSS JOIN t ORDER BY lang"""),
      (s, d) => {
        val docs = Tables.spread(t(s, d, "documents"))
        Pipeline.corpusDrift(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1), "lang")
          .orderBy("lang")
      }),

    QueryDef("q_quality_reference_lp",
      // CCNet's ACTUAL arrangement: the bigram LM trains on a reference
      // corpus (source='src0' standing in for Wikipedia) and the whole
      // crawl is scored by how reference-like it reads — the left-join
      // backoff paths (unseen bigram, unseen leading word) that the
      // self-trained q_quality_bigram_lp never exercises
      // (Quality.bigramLogProbAgainst).
      Some(referenceLpOracle),
      (s, d) => Quality.bigramLogProbAgainst(
          t(s, d, "documents").filter(col("source") === "src0"),
          t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    QueryDef("q_ccnet_reference_e2e",
      // the complete CCNet pipeline as published: bigram LM trained on
      // the reference corpus (src0), every doc scored by
      // reference-likelihood, then per-language head/middle/tail
      // terciles — the composition of q_quality_reference_lp and
      // q_ccnet_buckets, which is exactly how Wenzek et al. run it.
      Some("""WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS w FROM documents),
              ref AS (SELECT string_split(lower(text),' ') AS w FROM documents WHERE source = 'src0'),
              u AS (SELECT unnest(w) AS w1 FROM ref),
              uc AS (SELECT w1, count(*) AS c1 FROM u GROUP BY 1),
              v AS (SELECT count(*) AS v FROM uc),
              rp AS (SELECT unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS bg
                     FROM ref WHERE len(w) >= 2),
              bc AS (SELECT bg, count(*) AS c2 FROM rp GROUP BY 1),
              pr AS (SELECT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS bg
                     FROM d WHERE len(w) >= 2),
              lp AS (SELECT pr.doc_id,
                  CAST(round(ln((coalesce(bc.c2, 0) + 0.5) / (coalesce(uc.c1, 0) + 0.5 * v.v)), 6) AS DECIMAL(18,6)) AS lp
                FROM pr LEFT JOIN bc USING (bg)
                        LEFT JOIN uc ON uc.w1 = split_part(pr.bg, ' ', 1), v),
              sm AS (SELECT doc_id, sum(lp) AS slp, count(*) AS n FROM lp GROUP BY 1),
              scored AS (SELECT sm.doc_id, d2.lang, CAST(slp AS DOUBLE) / n AS score
                         FROM sm JOIN (SELECT doc_id, lang FROM documents) d2 USING (doc_id)),
              thr AS (SELECT lang,
                             round(quantile_cont(score, 0.3333333333333333), 6) AS t_lo,
                             round(quantile_cont(score, 0.6666666666666666), 6) AS t_hi
                      FROM scored GROUP BY lang)
              SELECT sc.doc_id, sc.lang, round(sc.score, 6) AS score,
                     CASE WHEN round(sc.score, 6) >= t.t_hi THEN 'head'
                          WHEN round(sc.score, 6) >= t.t_lo THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM scored sc JOIN thr t ON sc.lang IS NOT DISTINCT FROM t.lang
              ORDER BY sc.doc_id"""),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        val scored = Quality.bigramLogProbAgainst(
            docs.filter(col("source") === "src0"), docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("mean_lp").as("score"))
        Quality.ccnetBuckets(scored, "lang", "score")
          .select(col("doc_id"), col("lang"),
            round(col("score"), 6).as("score"), col("bucket"))
          .orderBy("doc_id")
      }),

    QueryDef("q_ccnet_kn_e2e",
      // the CCNet composition upgraded to the KN scorer: trigram
      // Kneser-Ney LM trained on src0, every doc scored by
      // reference-likelihood, per-language head/middle/tail terciles —
      // q_kn_reference_lp feeding q_ccnet_buckets' tail.
      Some(knCcnetOracle),
      (s, d) => {
        prep(s)
        val docs = t(s, d, "documents")
        val scored = Quality.knTrigramLogProbAgainst(
            docs.filter(col("source") === "src0"), docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("mean_lp").as("score"))
        // score ships UNROUNDED (unlike the bigram e2e): KN scores land on
        // 6-dp rounding boundaries where Spark's exact-BigDecimal round and
        // DuckDB's float-multiply round disagree by one last digit — the
        // raw double is the value both engines agree on bit-for-bit
        Quality.ccnetBuckets(scored, "lang", "score")
          .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
          .orderBy("doc_id")
      }),

    QueryDef("q_quality_bigram_lp",
      // bigram-LM document score (Quality.bigramLogProb, the CCNet/KenLM
      // perplexity-filter ladder's next rung above q_quality_unigram_lp):
      // mean conditional log-prob under corpus bigram stats, add-0.5
      // smoothing. Decimal-summed per doc so hashes are partition-stable.
      Some(bigramLpOracle),
      (s, d) => Quality.bigramLogProb(
          Tables.spread(t(s, d, "documents")), "doc_id", "text")
        .orderBy("doc_id")),

    QueryDef("q_quality_kn_lp",
      // interpolated Kneser-Ney trigram LM score (Chen & Goodman 1999,
      // D=0.75, add-0.5 unigram floor) — the smoothing family CCNet's
      // KenLM scorer uses, one order above q_quality_bigram_lp.
      // Continuation counts (N1+) reward words seen in many contexts,
      // separating templated boilerplate from prose. Self-trained: the
      // observed-trigram path dominates.
      Some(knSelfLpOracle),
      (s, d) => Quality.knTrigramLogProb(
          Tables.spread(t(s, d, "documents")), "doc_id", "text")
        .orderBy("doc_id")),

    QueryDef("q_kn_reference_lp",
      // the same KN scorer trained on the src0 slice only — the CCNet
      // arrangement (LM on the reference corpus, crawl scored by how
      // target-like it reads). Exercises every backoff rung the
      // self-trained path never hits: unseen trigram, context seen with
      // zero continuations (document-edge bigrams → full-order backoff
      // instead of p=0), unseen middle word, OOV tail word on the add-α
      // unigram floor.
      Some(knRefLpOracle),
      (s, d) => Quality.knTrigramLogProbAgainst(
          t(s, d, "documents").filter(col("source") === "src0"),
          Tables.spread(t(s, d, "documents")), "doc_id", "text")
        .orderBy("doc_id")),

    QueryDef("q_web_e2e",
      // the web-curation stages COMPOSED as one DAG, the way a crawl
      // pipeline runs them: Gopher word-signal keep-filter → exact-dedup
      // prune (canonical id per digest) → per-domain cap (10, md5-variate
      // order) → per-domain report. Every stage reuses its graded
      // operator; the oracle chains the same stage fragments as CTEs.
      // One scan + one digest agg + one bounded domain-keyed top-k agg +
      // one domain-keyed report agg — no corpus self-joins.
      Some(webE2eOracle),
      (s, d) => {
        prep(s)
        val url = concat(lit("https://site"), (col("doc_id") % 13).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"))
        val base = Tables.spread(t(s, d, "documents"))
          .withColumn("domain", WebCuration.domainOf(WebCuration.hostOf(url)))
          .withColumn("ws", Quality.gopherWordSignals(col("text")))
          .filter(col("ws.n_words") >= 50 && col("ws.alpha_frac") >= 0.8 &&
            col("ws.mean_word_len").between(3.0, 10.0))
        val canon = Dedup.exact(base, "doc_id", "text")
          .select(col("canonical_id").as("doc_id"))
        val dd = base.join(canon, Seq("doc_id"), "left_semi")
        val capped = WebCuration.capPerDomain(
          dd.select("doc_id", "domain", "n_chars"), "domain", "doc_id", 10)
        capped.groupBy("domain")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
            min(col("doc_id")).as("first_doc"))
          .orderBy("domain")
      }),

    QueryDef("q_web_html_e2e",
      // the RAW-crawl composition q_web_e2e's WET path skips: planted
      // HTML responses → htmlToText extraction → Gopher keep-filter over
      // the EXTRACTED text → exact-dedup prune → per-domain cap → report.
      // Every stage reuses its graded operator; the oracle prepends the
      // q_html_extract extraction CTE to the same stage chain. One scan
      // (extraction fused) + one digest agg + bounded domain top-k +
      // report agg — no corpus self-joins.
      Some(webHtmlE2eOracle),
      (s, d) => {
        prep(s)
        val url = concat(lit("https://site"), (col("doc_id") % 13).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"))
        val base = Tables.spread(t(s, d, "documents"))
          .filter(col("text").isNotNull)
          .withColumn("xtext", TextAnalysis.htmlToText(plantedHtml(col("text"))))
          .withColumn("n_chars", length(col("xtext")).cast("long"))
          .withColumn("domain", WebCuration.domainOf(WebCuration.hostOf(url)))
          .withColumn("ws", Quality.gopherWordSignals(col("xtext")))
          .filter(col("ws.n_words") >= 50 && col("ws.alpha_frac") >= 0.8 &&
            col("ws.mean_word_len").between(3.0, 10.0))
        val canon = Dedup.exact(base, "doc_id", "xtext")
          .select(col("canonical_id").as("doc_id"))
        val dd = base.join(canon, Seq("doc_id"), "left_semi")
        val capped = WebCuration.capPerDomain(
          dd.select("doc_id", "domain", "n_chars"), "domain", "doc_id", 10)
        capped.groupBy("domain")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
            min(col("doc_id")).as("first_doc"))
          .orderBy("domain")
      }),

    QueryDef("q_dedup_url",
      // C4-style URL dedup (Raffel et al. §2.2 keep one page per URL):
      // normalize the planted URL to its registered domain + path, keep
      // the HIGHEST doc_id per normalized URL (the newest-crawl rule).
      // Planting maps ~3 docs onto each URL (doc_id % 167); the cap is
      // the bounded top-k aggregate with n=1 — map-side buffers hold one
      // row per URL, the shuffle ships one survivor per key.
      Some("""WITH p AS (SELECT doc_id,
                  'site' || CAST((doc_id % 167) % 13 AS VARCHAR) || '.example.com/p/' || CAST(doc_id % 167 AS VARCHAR) AS url
                FROM documents),
              r AS (SELECT url, doc_id,
                  row_number() OVER (PARTITION BY url ORDER BY doc_id DESC) AS rn FROM p)
              SELECT url, doc_id AS kept_doc FROM r WHERE rn = 1 ORDER BY url"""),
      (s, d) => {
        prep(s)
        val raw = concat(lit("https://www.site"), ((col("doc_id") % 167) % 13).cast("string"),
          lit(".example.com/p/"), (col("doc_id") % 167).cast("string"))
        val docs = Tables.spread(t(s, d, "documents"))
          .select(col("doc_id"),
            concat(WebCuration.domainOf(WebCuration.hostOf(raw)),
              regexp_extract(raw, "https?://[^/]+(/[^\\s]*)", 1)).as("url"))
        CqlOps.perPartitionLimitAgg(docs, Seq("url"),
            Seq(("doc_id", true)), 1)
          .select(col("url"), col("doc_id").as("kept_doc"))
          .orderBy("url")
      }),

    QueryDef("q_dsir_select",
      // DSIR importance weighting (Xie et al. 2023): hashed-bigram bag
      // distributions for the target (source='src0') vs the whole corpus,
      // per-doc log importance ratio, keep = more-target-like-than-corpus
      // (log_ratio > 0 — no global pass). 64 md5 buckets; bucket ratios
      // round to 6dp and the per-doc sum runs in DECIMAL(18,6), so the
      // weights are partitioning-independent and engine-bit-equal.
      Some(dsirOracle),
      (s, d) => {
        val docs = Tables.spread(t(s, d, "documents"))
        val scored = Pipeline.dsirLogRatio(docs,
          docs.filter(col("source") === "src0"), "doc_id", "text", 64)
        scored.select(col("doc_id"), col("log_ratio"),
            (col("log_ratio") > 0).as("keep"))
          .orderBy("doc_id")
      }),

    QueryDef("q_profile",
      // column-level data profiling (the Deequ/SUMMARY-style dataset
      // audit): one aggregation pass over the event log produces every
      // column's row/null/distinct counts, numeric min/max/mean
      // (DECIMAL-routed sum, ONE division by the non-null count), and
      // lexicographic string bounds; the single result row explodes into
      // the per-column report. exactDistinct audit mode here so DuckDB
      // can restate it verbatim; the default approximate mode
      // (approx_count_distinct) keeps the pass partial-aggregable at
      // 100 TB (spec-checked against exact). ts profiles as the resolved
      // epoch-µs long — the operator stays layout-agnostic.
      Some(profileOracle(Seq(
        ("event_id", "num"), ("event_type", "str"), ("props", "str"),
        ("ts_us", "num"), ("user_id", "num"), ("value", "num")))),
      (s, d) => {
        val ev = t(s, d, "events")
        val prepped = ev.select(col("event_id"), Tables.tsEpochUs(ev).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        Profile.profile(prepped,
            Seq("event_id", "ts_us", "user_id", "event_type", "value", "props"),
            exactDistinct = true)
          .orderBy("col_name")
      }),

    QueryDef("q_profile_neg",
      // the NEGATIVE non-integral sum case, kept out of the bench
      // headline's q_profile (one extra exact-distinct column would
      // shift its timing for pure oracle-coverage reasons): (0 − value)
      // sums to a negative fractional decimal, so this query is what
      // pins the TOWARD-ZERO quotient convention — Spark's `div`
      // truncates while a bare hugeint `//` floors, and the two double
      // reconstructions then differ (see profileOracle's sign case).
      Some(profileOracle(Seq(("value", "num"), ("neg_value", "num")))),
      (s, d) => {
        val ev = t(s, d, "events")
        val prepped = ev.select(col("value"),
          (lit(0) - col("value")).as("neg_value"))
        Profile.profile(prepped, Seq("value", "neg_value"),
            exactDistinct = true)
          .orderBy("col_name")
      }),

    QueryDef("q_corpus_report",
      // per-(source, lang) corpus analytics: doc counts, exact char/token
      // totals, and a mean computed as one division over exact long sums
      // (never a float avg — order-independent by construction)
      Some("""SELECT source, lang, count(*) AS n_docs,
                     CAST(sum(n_chars) AS BIGINT) AS total_chars,
                     round(sum(n_chars) * 1.0 / count(*), 6) AS avg_chars,
                     CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
              FROM documents GROUP BY 1, 2 ORDER BY source, lang"""),
      (s, d) => t(s, d, "documents")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          round(sum(col("n_chars")) * lit(1.0) / count(lit(1)), 6).as("avg_chars"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"))
        .orderBy("source", "lang")),

    QueryDef("q_quality_unigram_lp",
      // CCNet-style perplexity proxy: mean token log-prob under corpus
      // unigram frequencies. Per-token ln p is rounded then summed as
      // DECIMAL(18,6) in BOTH engines — exact and summation-order-
      // independent — so the hash compare is immune to partition order.
      Some("""WITH terms AS (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
              ), freq AS (
                SELECT term, count(*) AS tf_corpus FROM terms GROUP BY 1
              ), total AS (SELECT sum(tf_corpus) AS t_total FROM freq),
              lp AS (
                SELECT doc_id,
                       CAST(round(ln(CAST(tf_corpus AS DOUBLE) / t_total), 6) AS DECIMAL(18,6)) AS lp
                FROM terms JOIN freq USING (term) CROSS JOIN total
              )
              SELECT doc_id,
                     round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob,
                     count(*) AS n_tok
              FROM lp GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => Quality.unigramLogProb(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    QueryDef("q_ccnet_buckets",
      // CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
      // §4.3): per-language LM-score terciles tag each doc head (most
      // probable third) / middle / tail. Thresholds are exact interpolated
      // quantiles (percentile == quantile_cont, the q_length_quantiles
      // parity) rounded 6dp; the score rounds 6dp before the >= compare so
      // the band can't flip on a sub-ulp disagreement.
      Some("""WITH terms AS (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
              ), freq AS (
                SELECT term, count(*) AS tf_corpus FROM terms GROUP BY 1
              ), total AS (SELECT sum(tf_corpus) AS t_total FROM freq),
              lp AS (
                SELECT doc_id,
                       CAST(round(ln(CAST(tf_corpus AS DOUBLE) / t_total), 6) AS DECIMAL(18,6)) AS lp
                FROM terms JOIN freq USING (term) CROSS JOIN total
              ), scored AS (
                SELECT l.doc_id, d.lang,
                       round(CAST(sum(l.lp) AS DOUBLE) / count(*), 6) AS mean_logprob
                FROM lp l JOIN documents d USING (doc_id)
                GROUP BY l.doc_id, d.lang
              ), thr AS (
                SELECT lang,
                       round(quantile_cont(mean_logprob, 0.3333333333333333), 6) AS t_lo,
                       round(quantile_cont(mean_logprob, 0.6666666666666666), 6) AS t_hi
                FROM scored GROUP BY lang
              )
              SELECT s.doc_id, s.lang, s.mean_logprob,
                     CASE WHEN round(s.mean_logprob, 6) >= t.t_hi THEN 'head'
                          WHEN round(s.mean_logprob, 6) >= t.t_lo THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM scored s JOIN thr t ON s.lang IS NOT DISTINCT FROM t.lang
              ORDER BY s.doc_id"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val scored = Quality.unigramLogProb(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select("doc_id", "lang", "mean_logprob")
        Quality.ccnetBuckets(scored, "lang", "mean_logprob")
          .select("doc_id", "lang", "mean_logprob", "bucket")
          .orderBy("doc_id")
      }),

    QueryDef("q_quality_compress",
      // compression-ratio quality signal: deflate_len(text)/octet_length —
      // repetitive spam compresses far below natural prose. DEFLATE has no
      // SQL formulation, so the integer byte counts come from a
      // Verify-written fixture (a plain java.util.zip re-run outside any
      // Catalyst machinery); the ratio is the raw IEEE quotient of those
      // exact ints in both engines (never a rounded quotient — see the
      // determinism rules above).
      Some("""SELECT doc_id, n_bytes, deflate_bytes,
                     CASE WHEN n_bytes = 0 THEN 0.0
                          ELSE CAST(deflate_bytes AS DOUBLE) / n_bytes END AS ratio
              FROM parquet_scan('{FIX}/_fixture_compress/*.parquet')
              ORDER BY doc_id"""),
      (s, d) => Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          F.deflate_len(col("text")).as("deflate_bytes"),
          TextAnalysis.compressionRatio(col("text")).as("ratio"))
        .orderBy("doc_id")),

    QueryDef("q_pii_redact",
      // regex PII detect + redact. The corpus carries no PII, so the query
      // plants deterministic emails/IPs/phones keyed off doc_id — the SAME
      // derivation in both engines — and the operator under test counts and
      // redacts them. Patterns are RE2-and-Java-compatible.
      Some(piiOracle),
      (s, d) => {
        val ptext = concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" host 192.168."), (col("doc_id") % 256).cast("string"),
              lit("."), ((col("doc_id") * 7) % 256).cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" tel +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")))
        val cnt = Quality.piiCounts(col("ptext"))
        Tables.spread(t(s, d, "documents")).withColumn("ptext", ptext)
          .select(col("doc_id"),
            cnt.getField("n_emails").as("n_emails"),
            cnt.getField("n_ipv4").as("n_ipv4"),
            cnt.getField("n_phones").as("n_phones"),
            Quality.piiRedact(col("ptext")).as("redacted"))
          .orderBy("doc_id")
      }),

    QueryDef("q_clean_lines",
      // C4-style line filtering (Raffel et al. 2020 §2.2) over the same
      // synthetic 8-word lines: keep lines with >= 8 words and no
      // blacklisted word; per-row filter() fused into the scan.
      Some(cleanLinesOracle),
      (s, d) => {
        val lines = transform(TextAnalysis.chunks(col("text"), 8, 8), c => c.getField("chunk"))
        val kept = Quality.cleanLines(lines, 8, Seq("slow", "big"))
        Tables.spread(t(s, d, "documents")).select(col("doc_id"),
            size(lines).as("n_lines"), size(kept).as("n_kept"),
            array_join(kept, " ").as("cleaned"))
          .orderBy("doc_id")
      }),

    QueryDef("q_boilerplate_lines",
      // CCNet-style corpus-wide boilerplate removal: a line (8-word chunk,
      // same line convention as q_clean_lines) occurring in >= 3 distinct
      // documents is dropped from every document. The boilerplate set is a
      // single-row broadcast; the drop is a per-row filter in a second
      // scan (Quality.removeBoilerplateLines).
      Some("""WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS w FROM documents),
              l AS (SELECT doc_id, [array_to_string(list_slice(w, i*8+1, i*8+8),' ') for i in range(0, greatest(CAST(ceil(len(w)/8.0) AS BIGINT),1))] AS ls FROM d),
              c AS (SELECT line FROM (SELECT DISTINCT doc_id, unnest(ls) AS line FROM l) GROUP BY line HAVING count(*) >= 3),
              b AS (SELECT coalesce(list(line), []) AS boiler FROM c)
              SELECT doc_id, CAST(len(ls) AS INTEGER) AS n_lines,
                     CAST(len(list_filter(ls, x -> list_contains(boiler, x))) AS INTEGER) AS n_dropped,
                     coalesce(array_to_string(list_filter(ls, x -> NOT list_contains(boiler, x)), ' '), '') AS cleaned
              FROM l CROSS JOIN b ORDER BY doc_id"""),
      (s, d) => {
        val lines = transform(TextAnalysis.chunks(col("text"), 8, 8),
          c => c.getField("chunk"))
        Quality.removeBoilerplateLines(Tables.spread(t(s, d, "documents")),
            "doc_id", lines, 3)
          .orderBy("doc_id")
      }),

    QueryDef("q_embed_quantize",
      // symmetric int8 scalar quantization of the embedding corpus (4x
      // smaller at 100 TB); floor(x*s + 0.5) rounding is engine-identical.
      // Arrays stringify for the oracle compare.
      Some("""SELECT vec_id,
                     array_to_string(list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / greatest(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30)) + 0.5) AS INTEGER)), ',') AS q,
                     round(127.0 / greatest(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30), 6) AS scale
              FROM embeddings ORDER BY vec_id"""),
      (s, d) => {
        val (q, scale) = Similarity.quantize(col("embedding"))
        t(s, d, "embeddings")
          .select(col("vec_id"), concat_ws(",", q).as("q"), round(scale, 6).as("scale"))
          .orderBy("vec_id")
      }),

    QueryDef("q_embed_normalize",
      // L2 normalization to the unit sphere (post-normalize, dot == cosine
      // so ANN scoring drops the per-pair norms). Unit components ship as
      // round-half-up micros (integer stringify — engine-identical, no
      // float formatting ambiguity); the norm compares as a 6dp double
      // (Similarity.l2Normalize; per-vector sequential fold, no cross-row
      // float accumulation)
      Some("""WITH n AS (SELECT vec_id, embedding,
                     sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
              FROM embeddings)
              SELECT vec_id,
                     array_to_string(list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) / greatest(norm, 1e-30) * 1000000.0 + 0.5) AS BIGINT)), ',') AS unit_micro,
                     round(norm, 6) AS norm
              FROM n ORDER BY vec_id"""),
      (s, d) => {
        val (unit, norm) = Similarity.l2Normalize(col("embedding"))
        t(s, d, "embeddings")
          .select(col("vec_id"),
            concat_ws(",", transform(unit,
              x => floor(x * lit(1000000.0) + lit(0.5)).cast("long"))).as("unit_micro"),
            round(norm, 6).as("norm"))
          .orderBy("vec_id")
      }),

    QueryDef("q_timeuuid_bounds",
      // mintimeuuid/maxtimeuuid boundary pattern (TimeFcts.java:69-91) —
      // uuid construction has no DuckDB equivalent, so the oracle compares
      // against a Verify-written fixture computed driver-side via
      // TimeUuid.minTimeUuid/unixMillisOf (pinned to reference vectors in
      // FunctionsSpec); the check pins the codegen'd expressions to it.
      Some("""SELECT event_id, u, u_millis
              FROM parquet_scan('{FIX}/_fixture_timeuuid/*.parquet')
              ORDER BY event_id LIMIT 200"""),
      (s, d) => {
        prep(s)
        // min_timeuuid takes epoch MILLIS; derive schema-adaptively
        val ev = t(s, d, "events")
        val ms = Tables.tsEpochMs(ev)
        ev.filter(col("user_id") < 5)
          .select(col("event_id"), F.min_timeuuid(ms).as("u"))
          .withColumn("u_millis", F.timeuuid_unix_millis(col("u")))
          .orderBy("event_id")
          .limit(200)
      }),

    // ── extensions: multimodal plumbing ────────────────────────────────
    QueryDef("q_multimodal_features",
      // the image tier is STUB-FREE (the audio precedent, zero
      // libraries): planted RGB noise pixels wrap in a REAL PNG container
      // whose scanline filter rotates through all five types, a real
      // CRC-verifying decoder (operators/Png.scala) defilters them back,
      // and real pixel statistics (per-channel mean/variance, BT.601
      // luma, edge density) compute in fixed order — the oracle is a
      // plain-Scala replica of plant→measure that never touches PNG, so
      // agreement proves encode∘decode is the identity on every filter
      // path
      Some("""SELECT media_id, kind, width, height, channels, mean_r,
                     mean_g, mean_b, var_r, var_g, var_b, luma_mean,
                     edge_density
              FROM parquet_scan('{FIX}/_fixture_imgfeat/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Multimodal.mediaFromDocuments(s, t(s, d, "documents"))
        Multimodal.extractFeatures(s, media).toDF()
          .drop("n_bytes") // payload size depends on DEFLATE, not pixels
          .orderBy("media_id")
      }),

    QueryDef("q_multimodal_image_png",
      // byte-exact decode pinning: MD5 over the decoded pixel array vs
      // the replica's MD5 over the PLANTED pixels (feature means could
      // mask compensating byte errors; a digest can't)
      Some("""SELECT media_id, width, height, pixel_md5
              FROM parquet_scan('{FIX}/_fixture_imgpng/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Multimodal.mediaFromDocuments(s, t(s, d, "documents"))
        import s.implicits._
        media.map { m =>
          val img = graft.operators.Png.decode(m.payload)
          (m.media_id, img.width, img.height,
            java.security.MessageDigest.getInstance("MD5")
              .digest(img.pixels).map("%02x".format(_)).mkString)
        }.toDF("media_id", "width", "height", "pixel_md5")
          .orderBy("media_id")
      }),

    QueryDef("q_multimodal_resize",
      // REAL aspect-fit resize: PNG decode → bilinear on actual pixels →
      // canonical re-encode, then the feature pass over the resized
      // payloads. The replica replays plant→fit→bilinear→measure in
      // plain Scala with no PNG round-trip, so the oracle covers the
      // interpolation arithmetic AND both container directions
      Some("""SELECT media_id, width, height, mean_r, mean_g, mean_b,
                     var_r, var_g, var_b, luma_mean, edge_density
              FROM parquet_scan('{FIX}/_fixture_imgresize/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Multimodal.mediaFromDocuments(s, t(s, d, "documents"))
        val resized = Multimodal.resize(s, media, 16, 16)
        import s.implicits._
        Multimodal.extractFeatures(s, resized.map(r =>
            Multimodal.MediaItem(r.media_id, r.kind, r.payload,
              r.width, r.height, 1, 16000)))
          .toDF()
          .select(col("media_id"), col("width"), col("height"),
            col("mean_r"), col("mean_g"), col("mean_b"),
            col("var_r"), col("var_g"), col("var_b"),
            col("luma_mean"), col("edge_density"))
          .orderBy("media_id")
      }),

    QueryDef("q_multimodal_phash",
      // DCT perceptual hash over the real decode (pHash family): gray →
      // 32×32 bilinear → pinned separable DCT-II → 63-AC-median bits.
      // The replica replays the pinned chain from plant with no PNG
      // round-trip, so agreement pins gray/resize/DCT/median/bit layout.
      Some("""SELECT media_id, phash
              FROM parquet_scan('{FIX}/_fixture_phash/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Multimodal.mediaFromDocuments(s, t(s, d, "documents"))
        Multimodal.imagePHash(s, media).orderBy("media_id")
      }),

    QueryDef("q_dedup_phash",
      // IMAGE near-dup detection — the visual SimHash: the corpus is the
      // base images plus a brightness-shifted variant (+3 clamped) for
      // every 5th doc, hashes pair through the exact pigeonhole chunk
      // join (maxHamming+1 chunks ⇒ any pair within distance shares one),
      // hamming filters inside the bounded buckets. The replica hashes
      // the same planted corpus and takes ALL pairs ≤ 3 by brute force —
      // agreement proves the pigeonhole recall is exact, not approximate.
      Some("""SELECT a, b, hamming
              FROM parquet_scan('{FIX}/_fixture_phashpairs/*.parquet')
              ORDER BY a, b"""),
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val media = Multimodal.mediaFromDocuments(s, docs)
        val variants = Tables.spread(docs
          .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int")))
          .as[(Long, Int)].filter((t: (Long, Int)) => t._1 % 5 == 0)
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val (w, h) = Multimodal.plantDims(id, nChars)
              val px = Array.tabulate(w * h * 3)(i =>
                math.min(255, Multimodal.plantPixel(id, i) + 3).toByte)
              Multimodal.MediaItem(id + 10000000L, s"img/${id % 3}",
                graft.operators.Png.encode(w, h, 3, px), w, h, 1, 16000)
            }
          }
        val hashes = Multimodal.imagePHash(s, media.union(variants))
        Multimodal.phashPairs(hashes, maxHamming = 3).orderBy("a", "b")
      }),

    QueryDef("q_dedup_phash_groups",
      // image dedup END-TO-END: hash → pigeonhole pair join → connected
      // components (the generic Dedup.dupGroups pointer-jumping CC — the
      // same operator the text paths use) → min-id canonical label per
      // image. The replica union-finds the brute-force pair set, so
      // agreement pins the whole composition, not just the pair stage.
      Some("""SELECT media_id, group_id
              FROM parquet_scan('{FIX}/_fixture_phashgroups/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val media = Multimodal.mediaFromDocuments(s, docs)
        val variants = Tables.spread(docs
          .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int")))
          .as[(Long, Int)].filter((t: (Long, Int)) => t._1 % 5 == 0)
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val (w, h) = Multimodal.plantDims(id, nChars)
              val px = Array.tabulate(w * h * 3)(i =>
                math.min(255, Multimodal.plantPixel(id, i) + 3).toByte)
              Multimodal.MediaItem(id + 10000000L, s"img/${id % 3}",
                graft.operators.Png.encode(w, h, 3, px), w, h, 1, 16000)
            }
          }
        val hashes = Multimodal.imagePHash(s, media.union(variants))
        val pairs = Multimodal.phashPairs(hashes, maxHamming = 3)
        Dedup.dupGroups(hashes.select(col("media_id")), pairs, id = "media_id")
          .select(col("doc_id").as("media_id"), col("group_id"))
          .orderBy("media_id")
      }),

    QueryDef("q_multimodal_jpeg",
      // the SECOND image container goes stub-free: the same planted noise
      // pixels wrapped in a REAL baseline JPEG (T.81 Huffman, pinned
      // FDCT/IDCT, per-id gray/4:4:4/4:2:0, quality 35..95, DRI/RST on
      // every 4th id), decoded by the real marker-walking decoder via the
      // container sniff, then the SAME pixel-statistics pass as PNG. The
      // replica re-derives decode∘encode as a pure pixel→pixel function
      // (color convert → pad → FDCT → quant → dequant → IDCT → upsample)
      // with NO entropy coding — agreement proves the Huffman/marker
      // round trip is the identity on quantized coefficients.
      Some("""SELECT media_id, kind, width, height, channels, mean_r,
                     mean_g, mean_b, var_r, var_g, var_b, luma_mean,
                     edge_density
              FROM parquet_scan('{FIX}/_fixture_jpegfeat/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Multimodal.jpegMediaFromDocuments(s, t(s, d, "documents"))
        Multimodal.extractFeatures(s, media).toDF()
          .drop("n_bytes")
          .orderBy("media_id")
      }),

    QueryDef("q_webp_meta",
      // WebP container metadata — the decide-before-decode row for the
      // web's #3 image format: planted lossy VP8 (keyframe header dims),
      // bare VP8L (14-bit dims + alpha hint), static VP8X (flags, canvas,
      // EXIF) and animated VP8X (ANMF frame count) all walk the RIFF
      // chunks — header bytes only, map-only plan. The replica is route
      // formulas only.
      Some("""SELECT media_id, format, width, height, has_alpha,
                     is_animated, n_frames, has_exif, has_icc
              FROM parquet_scan('{FIX}/_fixture_webpmeta/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Webp.webpFromDocuments(s, t(s, d, "documents"))
        Webp.webpMeta(s, media).orderBy("media_id")
      }),

    QueryDef("q_multimodal_webp",
      // byte-exact VP8L lossless decode pinning (the
      // q_multimodal_image_png discipline): planted gradients and
      // palettes run through every encoder mode — color cache, LZ77
      // against distance 1 and the row stride (the 2D distance-map
      // head), subtract-green, palette bundling at every width — and
      // MD5 over the decoded interleaved pixels must equal the
      // replica's MD5 over the PLANTED pixels (no WebP round trip on
      // the oracle side). Lossy/animated routes are metadata-only and
      // excluded here.
      Some("""SELECT media_id, width, height, channels, pixel_md5
              FROM parquet_scan('{FIX}/_fixture_webppx/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val docs = t(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(11)) =!= 5 &&
            pmod(col("doc_id"), lit(11)) =!= 7)
        val media = Webp.webpFromDocuments(s, docs)
        Webp.webpPixelDigest(s, media).orderBy("media_id")
      }),

    QueryDef("q_multimodal_webp_video",
      // animated WebP as a VIDEO source, through the container-blind
      // decodeVideo dispatch (RIFF..WEBP vs RIFF..AVI vs GIF8): planted
      // full-canvas ANMF frames each carry their own VP8L chunk; every
      // frame decodes byte-exactly (MD5 vs the planted pixels) and
      // µs/frame comes from the first ANMF duration, the GIF
      // convention. The replica is plant formulas only.
      Some("""SELECT media_id, frame_idx, width, height, us_per_frame,
                     pixel_md5
              FROM parquet_scan('{FIX}/_fixture_webpvideo/*.parquet')
              ORDER BY media_id, frame_idx"""),
      (s, d) => {
        val media = Webp.animWebpFromDocuments(s, t(s, d, "documents"))
        Webp.animFrameDigest(s, media).orderBy("media_id", "frame_idx")
      }),

    QueryDef("q_multimodal_image_jpeg",
      // byte-exact JPEG decode pinning (the q_multimodal_image_png
      // analog): MD5 over the decoded pixel array vs the replica's MD5
      // over its closed-form round-trip pixels — feature means could mask
      // compensating byte errors; a digest can't
      Some("""SELECT media_id, width, height, channels, pixel_md5
              FROM parquet_scan('{FIX}/_fixture_jpegpix/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Multimodal.jpegMediaFromDocuments(s, t(s, d, "documents"))
        import s.implicits._
        media.map { m =>
          val img = Multimodal.decodeImage(m.payload)
          (m.media_id, img.width, img.height, img.channels,
            java.security.MessageDigest.getInstance("MD5")
              .digest(img.pixels).map("%02x".format(_)).mkString)
        }.toDF("media_id", "width", "height", "channels", "pixel_md5")
          .orderBy("media_id")
      }),

    QueryDef("q_dedup_phash_cross",
      // CROSS-CONTAINER near-dup detection — the real crawl case: the
      // same image saved once as PNG and once as JPEG (quality 90, 4:4:4,
      // id + 10^7) must pair up. One hash pass over the mixed-container
      // corpus (decodeImage sniffs per payload), then the exact
      // pigeonhole hamming join at the measured cross-container radius,
      // BLOCKED on decoded (width, height): radius 10 leaves only ~6-bit
      // chunk keys, so the unblocked join grows quadratically (ScaleProof
      // measured 17× on 10× data) — codec twins always share dims, and
      // the block key restores the linear curve. A WebP LOSSLESS twin
      // (id%6==1 docs, id + 2·10^7) joins the corpus through the same
      // container-sniffed decode — byte-identical pixels, so it pairs
      // with its PNG original at hamming 0. Replica: brute-force pairs
      // over pHashRef(planted) ∪ pHashRef(closed-form JPEG round trip)
      // ∪ pHashRef(planted, webp ids) within dims blocks — recall
      // exactness, not approximation.
      Some("""SELECT a, b, hamming
              FROM parquet_scan('{FIX}/_fixture_phashcross/*.parquet')
              ORDER BY a, b"""),
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val media = Multimodal.mediaFromDocuments(s, docs)
        val jpegTwins = Tables.spread(docs
          .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int")))
          .as[(Long, Int)].mapPartitions { it =>
            it.map { case (id, nChars) =>
              val (w, h) = Multimodal.plantDims(id, nChars)
              val px = new Array[Byte](w * h * 3)
              var i = 0
              while (i < px.length) { px(i) = Multimodal.plantPixel(id, i).toByte; i += 1 }
              Multimodal.MediaItem(id + 10000000L, s"jpg/${id % 3}",
                Jpeg.encode(w, h, 3, px, quality = 90), w, h, 1, 16000)
            }
          }
        val webpTwins = Tables.spread(docs
          .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int")))
          .as[(Long, Int)].filter((t: (Long, Int)) => t._1 % 6 == 1)
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val (w, h) = Multimodal.plantDims(id, nChars)
              val argb = Array.tabulate(w * h) { p =>
                val r = Multimodal.plantPixel(id, p * 3L) & 0xff
                val g = Multimodal.plantPixel(id, p * 3L + 1) & 0xff
                val b = Multimodal.plantPixel(id, p * 3L + 2) & 0xff
                0xff000000 | (r << 16) | (g << 8) | b
              }
              Multimodal.MediaItem(id + 20000000L, s"webp/${id % 3}",
                Webp.encodeLossless(w, h, argb, Webp.EncodeOpts(lz77 = true)),
                w, h, 1, 16000)
            }
          }
        val hashes = Multimodal.imagePHashDims(s,
          media.union(jpegTwins).union(webpTwins))
        Multimodal.phashPairsBlocked(hashes, maxHamming = 10,
          blockCols = Seq("width", "height")).orderBy("a", "b")
      }),

    QueryDef("q_dedup_video",
      // VIDEO near-dup detection: per-sampled-frame pHash over the real
      // AVI decode, frame-level pigeonhole pair join, clip pairs where
      // BOTH sides match ≥ 1 sampled frame. Corpus = base clips plus a
      // +3-brightness variant (every 5th doc, id + 10^7) — the variant's
      // frames land within hamming 3 of the originals while independent
      // noise clips stay ~32 apart. Replica: brute-force frame pairing
      // over the planted pixels, no AVI/PNG round-trip.
      Some("""SELECT a, b, matched_a, matched_b, n_a, n_b
              FROM parquet_scan('{FIX}/_fixture_videodups/*.parquet')
              ORDER BY a, b"""),
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val media = Multimodal.videoFromDocuments(s, docs)
        val variants = Tables.spread(docs
          .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int")))
          .as[(Long, Int)].filter((t: (Long, Int)) => t._1 % 5 == 0)
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val (w, h, nf) = Multimodal.plantVideoDims(id, nChars)
              val frames = (0 until nf).map { f =>
                Array.tabulate(w * h * 3)(i =>
                  math.min(255, Multimodal.plantFramePixel(id, f, i) + 3).toByte)
              }
              Multimodal.MediaItem(id + 10000000L, s"vid/${id % 3}",
                graft.operators.Avi.encode(w, h, 40000, frames), w, h, nf, 0)
            }
          }
        val hashes = Multimodal.videoPHashes(s, media.union(variants), stride = 2)
        Multimodal.videoNearDups(hashes, maxHamming = 3, minMatched = 1)
          .orderBy("a", "b")
      }),

    QueryDef("q_dedup_video_cross",
      // CROSS-CODEC video near-dup: the same clip stored raw (AVI/DIB)
      // and as an MJPEG q95 re-encode (every 5th doc, id + 2·10⁷) must
      // pair through the one mixed-corpus pHash pass — the dedup gate a
      // crawl needs when the same footage arrives through different
      // capture stacks. Radius 10 (the image tier's cross-container
      // setting — lossy twins sit a few bits apart, independent noise
      // ~32). Deterministic either way: the replica's variant hashes run
      // the closed-form JPEG round trip (the exact decode∘encode pixel
      // function) before the pinned pHash chain, so the oracle is exact
      // regardless of how many bits q95 moves.
      Some("""SELECT a, b, matched_a, matched_b, n_a, n_b
              FROM parquet_scan('{FIX}/_fixture_videodupscross/*.parquet')
              ORDER BY a, b"""),
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val media = Multimodal.videoFromDocuments(s, docs)
        val variants = Tables.spread(docs
          .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int")))
          .as[(Long, Int)].filter((t: (Long, Int)) => t._1 % 5 == 0)
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val (w, h, nf) = Multimodal.plantVideoDims(id, nChars)
              val frames = (0 until nf).map { f =>
                Array.tabulate(w * h * 3)(i =>
                  Multimodal.plantFramePixel(id, f, i).toByte)
              }
              Multimodal.MediaItem(id + 20000000L, s"vid/${id % 3}",
                graft.operators.Avi.encodeMjpeg(w, h, 40000, frames,
                  quality = 95, subsample = false), w, h, nf, 0)
            }
          }
        val hashes = Multimodal.videoPHashes(s, media.union(variants), stride = 2)
        Multimodal.videoNearDups(hashes, maxHamming = 10, minMatched = 1,
            blockCols = Seq("width", "height"))
          .orderBy("a", "b")
      }),

    QueryDef("q_multimodal_audio_fp",
      // Haitsma–Kalker fingerprints over the pinned FFT: 32 band
      // energies per 16 ms/8 ms window (256 samples at 16 kHz — the
      // planted clips top out near 560 samples, so the 25 ms frame would
      // leave almost no 2-window clips), bit = sign of the band-energy
      // double difference vs the previous window (amplitude scaling
      // cancels). First 200 docs; replica re-derives bands from the
      // spec FFT.
      Some("""SELECT media_id, window_idx, fingerprint
              FROM parquet_scan('{FIX}/_fixture_audiofp/*.parquet')
              ORDER BY media_id, window_idx"""),
      (s, d) => {
        val audio = Multimodal.audioFromDocuments(s,
          t(s, d, "documents").filter(col("doc_id") < 200))
        Multimodal.audioFingerprints(s, audio, 16, 8)
          .orderBy("media_id", "window_idx")
      }),

    QueryDef("q_dedup_audio",
      // AUDIO near-dup detection: clips pair when ≥ 2 time-aligned
      // windows carry EQUAL fingerprints. Corpus = first 200 docs plus
      // an amplitude-scaled copy of every other one (samples × 9 / 10,
      // integer truncation, id + 10^7) — the sign construction makes the
      // scaled copy fingerprint (almost everywhere) identically, while
      // unrelated clips share no aligned window. Replica: plant → scale
      // → fingerprint → brute-force count per pair.
      Some("""SELECT a, b, matched_windows
              FROM parquet_scan('{FIX}/_fixture_audiodups/*.parquet')
              ORDER BY a, b"""),
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").filter(col("doc_id") < 200)
        val audio = Multimodal.audioFromDocuments(s, docs)
        val variants = Tables.spread(docs.select(col("doc_id"), col("text")))
          .as[(Long, String)].filter((t: (Long, String)) => t._1 % 2 == 0)
          .map { case (id, text0) =>
            val xs = Option(text0).getOrElse("").toCharArray
              .map(c => ((Multimodal.sampleOfChar(c) * 9) / 10).toShort)
            Multimodal.AudioItem(id + 10000000L,
              Multimodal.wavFromSamples(xs, 16000), 16000)
          }
        val fps = Multimodal.audioFingerprints(s, audio.union(variants), 16, 8)
        Multimodal.audioNearDups(fps, minMatched = 2).orderBy("a", "b")
      }),

    QueryDef("q_multimodal_video_quality",
      // video curation gates over the real decode: black-clip and
      // still-clip detection plus motion level, all integer luma-millis
      // accumulation with one division at the end. Corpus = base noise
      // clips (never black/still) + a frozen-frame variant for every 7th
      // doc (still_ratio 1, motion 0) + an all-black clip for every 11th
      // (black 1, still 1) — both gate classes actually fire inside the
      // oracle. Replica replays plant→measure with no AVI round-trip.
      Some("""SELECT media_id, width, height, n_frames, luma_mean,
                     black_frame_ratio, still_ratio, motion_mean
              FROM parquet_scan('{FIX}/_fixture_videoqual/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val media = Multimodal.videoFromDocuments(s, docs)
        val metaDs = Tables.spread(docs
          .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int")))
          .as[(Long, Int)]
        val stills = metaDs.filter((t: (Long, Int)) => t._1 % 7 == 0)
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val (w, h, nf) = Multimodal.plantVideoDims(id, nChars)
              val f0 = Array.tabulate(w * h * 3)(i =>
                Multimodal.plantFramePixel(id, 0, i).toByte)
              Multimodal.MediaItem(id + 20000000L, s"vid/${id % 3}",
                graft.operators.Avi.encode(w, h, 40000, Seq.fill(nf)(f0)),
                w, h, nf, 0)
            }
          }
        val blacks = metaDs.filter((t: (Long, Int)) => t._1 % 11 == 0)
          .mapPartitions { it =>
            it.map { case (id, nChars) =>
              val (w, h, nf) = Multimodal.plantVideoDims(id, nChars)
              Multimodal.MediaItem(id + 30000000L, s"vid/${id % 3}",
                graft.operators.Avi.encode(w, h, 40000,
                  Seq.fill(nf)(new Array[Byte](w * h * 3))),
                w, h, nf, 0)
            }
          }
        Multimodal.videoQuality(s, media.union(stills).union(blacks))
          .toDF().orderBy("media_id")
      }),

    QueryDef("q_multimodal_video",
      // the VIDEO tier is STUB-FREE too: planted RGB frames wrap in a
      // REAL uncompressed AVI (bottom-up BGR padded DIB scanlines — the
      // storage unswizzle is on the decode path of every clip), the real
      // chunk-walking decoder recovers them, every 2nd frame samples out,
      // and the pinned pixel-statistics pass measures the actual frame
      // bytes. The replica replays plant→sample→measure with no AVI round
      // trip, so agreement proves encode∘decode is the identity across
      // the padding/flip/channel-swap storage convention.
      Some("""SELECT media_id, frame_idx, width, height, n_frames, mean_r,
                     mean_g, mean_b, var_r, var_g, var_b, luma_mean,
                     edge_density
              FROM parquet_scan('{FIX}/_fixture_videofeat/*.parquet')
              ORDER BY media_id, frame_idx"""),
      (s, d) => {
        val media = Multimodal.videoFromDocuments(s, t(s, d, "documents"))
        Multimodal.videoFrameFeatures(s, media, 2).toDF()
          .orderBy("media_id", "frame_idx")
      }),

    QueryDef("q_multimodal_gif",
      // the THIRD image container: planted palette indices in a REAL
      // GIF89a (LZW with sub-block framing, palette sizes 4..256,
      // interlace every 5th id, a transparent index every 3rd — those
      // pixels show the background color on a first frame), decoded
      // through the container sniff into the SAME feature pass. The
      // replica replays palette-lookup + background/transparency in plain
      // Scala with no GIF round trip — GIF is lossless, so agreement is
      // EXACT and proves LZW/interlace/framing end to end.
      Some("""SELECT media_id, kind, width, height, channels, mean_r,
                     mean_g, mean_b, var_r, var_g, var_b, luma_mean,
                     edge_density
              FROM parquet_scan('{FIX}/_fixture_giffeat/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Multimodal.gifMediaFromDocuments(s, t(s, d, "documents"))
        Multimodal.extractFeatures(s, media).toDF()
          .drop("n_bytes")
          .orderBy("media_id")
      }),

    QueryDef("q_multimodal_bmp",
      // the FOURTH image container: planted pixels in a REAL BMP —
      // doc_id % 3 sweeps 24-bit bottom-up / 24-bit top-down (negative
      // biHeight) / 8-bit palettized (sizes 4..256, both row orders) —
      // decoded through the container sniff into the SAME feature pass.
      // BMP is lossless, so the replica is the planted formula (or one
      // palette lookup) with no BMP round trip: agreement is EXACT and
      // proves the row-order/BGR/palette storage walk end to end.
      Some("""SELECT media_id, kind, width, height, channels, mean_r,
                     mean_g, mean_b, var_r, var_g, var_b, luma_mean,
                     edge_density
              FROM parquet_scan('{FIX}/_fixture_bmpfeat/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val media = Multimodal.bmpMediaFromDocuments(s, t(s, d, "documents"))
        Multimodal.extractFeatures(s, media).toDF()
          .drop("n_bytes")
          .orderBy("media_id")
      }),

    QueryDef("q_multimodal_mixed",
      // the real crawl shape: ONE media table whose payloads mix all
      // FOUR containers (PNG for id%4=0, JPEG for id%4=1, GIF for
      // id%4=2, BMP for id%4=3), flowing through ONE feature scan —
      // decodeImage dispatches per payload, no per-container branches in
      // the query. The replica assembles the same rows from the four
      // per-container replicas, so the oracle gates the dispatch itself.
      Some("""SELECT media_id, kind, width, height, channels, mean_r,
                     mean_g, mean_b, var_r, var_g, var_b, luma_mean,
                     edge_density
              FROM parquet_scan('{FIX}/_fixture_mixedfeat/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val media = Multimodal.mediaFromDocuments(s, docs.filter(col("doc_id") % 4 === 0))
          .union(Multimodal.jpegMediaFromDocuments(s, docs.filter(col("doc_id") % 4 === 1)))
          .union(Multimodal.gifMediaFromDocuments(s, docs.filter(col("doc_id") % 4 === 2)))
          .union(Multimodal.bmpMediaFromDocuments(s, docs.filter(col("doc_id") % 4 === 3)))
        Multimodal.extractFeatures(s, media).toDF()
          .drop("n_bytes")
          .orderBy("media_id")
      }),

    QueryDef("q_multimodal_orient",
      // EXIF orientation end to end — the transform a crawl pipeline must
      // apply before features/hashing (a rotated phone photo otherwise
      // near-dups with nothing): planted JPEGs carry a real APP1/TIFF
      // segment (orientation 1 + id%8, all eight codes), the parser reads
      // it back, and the pinned inverse-map transform re-orients the
      // decoded pixels. MD5 pinning over the ORIENTED pixels: the replica
      // applies the same inverse maps to its closed-form JPEG round-trip
      // pixels with no container anywhere.
      Some("""SELECT media_id, orientation, width, height, pixel_md5
              FROM parquet_scan('{FIX}/_fixture_orient/*.parquet')
              ORDER BY media_id"""),
      (s, d) => {
        import s.implicits._
        Tables.spread(t(s, d, "documents")
          .select(col("doc_id"), coalesce(col("n_chars"), lit(0)).cast("int")))
          .as[(Long, Int)].mapPartitions { it =>
            it.map { case (id, nChars) =>
              val (w, h) = Multimodal.plantDims(id, nChars)
              val px = new Array[Byte](w * h * 3)
              var i = 0
              while (i < px.length) { px(i) = Multimodal.plantPixel(id, i).toByte; i += 1 }
              val payload = Jpeg.encode(w, h, 3, px, quality = 80,
                exifOrientation = 1 + (id % 8).toInt)
              val o = Jpeg.exifOrientation(payload)
              val img = Multimodal.orientImage(Multimodal.decodeImage(payload), o)
              (id, o, img.width, img.height,
                java.security.MessageDigest.getInstance("MD5")
                  .digest(img.pixels).map("%02x".format(_)).mkString)
            }
          }.toDF("media_id", "orientation", "width", "height", "pixel_md5")
          .orderBy("media_id")
      }),

    QueryDef("q_multimodal_gif_video",
      // ANIMATED GIF as a video source: multi-frame clips with sub-rect
      // draws, all four disposal methods and per-frame transparency
      // compose into full RGB frames (the pinned contract in Gif.scala),
      // then flow through the SAME per-frame feature operator the AVI
      // tier uses (decodeVideo sniffs the container). The replica replays
      // the composition from the planted formulas — canvas, draw, snap,
      // dispose — with no GIF round trip; agreement pins the whole
      // disposal/transparency state machine.
      Some("""SELECT media_id, frame_idx, width, height, n_frames, mean_r,
                     mean_g, mean_b, var_r, var_g, var_b, luma_mean,
                     edge_density
              FROM parquet_scan('{FIX}/_fixture_gifvideo/*.parquet')
              ORDER BY media_id, frame_idx"""),
      (s, d) => {
        val media = Multimodal.gifVideoFromDocuments(s, t(s, d, "documents"))
        Multimodal.videoFrameFeatures(s, media, 1).toDF()
          .orderBy("media_id", "frame_idx")
      }),

    QueryDef("q_multimodal_mjpeg",
      // MJPEG-in-AVI — the webcam/capture-card format, and the first
      // COMPRESSED video path: the same planted frames as q_multimodal
      // _video wrap per-frame in baseline JPEGs inside '00dc' chunks
      // (quality 55..95, 4:2:0 on even ids — mjpegPlantParams), the RIFF
      // walk dispatches on biCompression, and every frame feeds the
      // unchanged feature pass. The replica re-derives each frame's
      // decode∘encode as the closed-form pixel function (the same
      // jpegRoundTripRef the image tier pins — NO entropy coding), so
      // agreement proves the container dispatch AND that the Huffman/
      // marker layer stays the identity on quantized coefficients when
      // streamed frame-per-chunk.
      Some("""SELECT media_id, frame_idx, width, height, n_frames, mean_r,
                     mean_g, mean_b, var_r, var_g, var_b, luma_mean,
                     edge_density
              FROM parquet_scan('{FIX}/_fixture_mjpegfeat/*.parquet')
              ORDER BY media_id, frame_idx"""),
      (s, d) => {
        val media = Multimodal.mjpegVideoFromDocuments(s, t(s, d, "documents"))
        Multimodal.videoFrameFeatures(s, media, 1).toDF()
          .orderBy("media_id", "frame_idx")
      }),

    QueryDef("q_multimodal_video_mixed",
      // the real crawl shape for VIDEO: one media table whose payloads
      // mix all three clip containers (raw AVI for id%3=0, MJPEG for
      // id%3=1, animated GIF for id%3=2), flowing through ONE frame
      // feature scan — decodeVideo/decodeVideoStrided dispatch per
      // payload (RIFF biCompression for the AVI pair, GIF8 for
      // animations), no per-container branches in the query. The
      // replica assembles rows from the three per-container derivations
      // (planted formula / closed-form JPEG round trip / composition
      // replay), so the oracle gates the video dispatch itself.
      Some("""SELECT media_id, frame_idx, width, height, n_frames, mean_r,
                     mean_g, mean_b, var_r, var_g, var_b, luma_mean,
                     edge_density
              FROM parquet_scan('{FIX}/_fixture_videomixed/*.parquet')
              ORDER BY media_id, frame_idx"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val media = Multimodal.videoFromDocuments(s, docs.filter(col("doc_id") % 3 === 0))
          .union(Multimodal.mjpegVideoFromDocuments(s, docs.filter(col("doc_id") % 3 === 1)))
          .union(Multimodal.gifVideoFromDocuments(s, docs.filter(col("doc_id") % 3 === 2)))
        Multimodal.videoFrameFeatures(s, media, 1).toDF()
          .orderBy("media_id", "frame_idx")
      })
  )

  /** DuckDB restatement of Profile.profile over the events table for the
    * given (column, kind) list. mean = qi + rem/n with qi the exact
    * TOWARD-ZERO integral quotient and rem the exact small remainder —
    * casting the raw epoch-µs-scale decimal SUM to double hits DuckDB's
    * non-correctly-rounded conversion (one-ulp off at sf0.001); qi < 2^53
    * and a small rem make every double op correctly rounded in both
    * engines. Spark's `div` truncates toward zero, DuckDB's hugeint `//`
    * floors — for a NEGATIVE non-integral sum they differ by 1, so the
    * oracle wraps `//` in a sign case (toward-zero(toward-zero(s)/n) =
    * toward-zero(s/n) for n > 0, so trunc-then-divide matches div on the
    * full decimal).
    */
  private def profileOracle(cols: Seq[(String, String)]): String =
    cols.map { case (c, k) =>
      val src = if (c == "ts_us") "epoch_us(ts)"
                else if (c == "neg_value") "(0 - value)" else c
      val sumE = s"sum(CAST($src AS DECIMAL(38,6)))"
      val qiT = s"CAST(trunc($sumE) AS HUGEINT)"
      val cntH = s"CAST(count($src) AS HUGEINT)"
      val qiE = s"(CASE WHEN $qiT >= 0 THEN $qiT // $cntH " +
        s"ELSE -((-($qiT)) // $cntH) END)"
      val numCols =
        if (k == "num")
          s"""CAST(min($src) AS DOUBLE) AS num_min,
              CAST(max($src) AS DOUBLE) AS num_max,
              CASE WHEN count($src) > 0 THEN
                CAST($qiE AS DOUBLE) +
                CAST($sumE - CAST($qiE AS DECIMAL(38,6)) * count($src) AS DOUBLE)
                  / count($src) END AS num_avg,
              CAST(NULL AS VARCHAR) AS str_min,
              CAST(NULL AS VARCHAR) AS str_max"""
        else
          s"""CAST(NULL AS DOUBLE) AS num_min,
              CAST(NULL AS DOUBLE) AS num_max,
              CAST(NULL AS DOUBLE) AS num_avg,
              min($src) AS str_min, max($src) AS str_max"""
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
                 count(*) - count($src) AS n_nulls,
                 count(DISTINCT $src) AS n_distinct,
                 $numCols
          FROM events"""
    }.mkString("", " UNION ALL ", " ORDER BY col_name")

  private lazy val jaccardOracle: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))])) AS s FROM d),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
      |j AS (SELECT p.a, p.b, round(p.c * 1.0 / (sx.n + sy.n - p.c), 6) AS jaccard
      |      FROM p JOIN sz sx ON p.a = sx.doc_id JOIN sz sy ON p.b = sy.doc_id)
      |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.7 ORDER BY a, b""".stripMargin

  /** [[jaccardOracle]] with the exact path's documented document-frequency
    * cutoff mirrored relationally: candidate pairs must share at least one
    * shingle with df <= maxShingleDf (Dedup.ngramJaccardPairs), while the
    * jaccard itself still counts ALL shingles. On corpora where no shingle
    * crosses the cutoff (every driver SF) this is value-identical to the
    * uncut oracle.
    */
  private lazy val jaccardDfOracle: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))])) AS s FROM d),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 5000),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |         FROM sh x JOIN rare ON x.s = rare.s JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id),
      |p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
      |j AS (SELECT p.a, p.b, round(p.c * 1.0 / (sx.n + sy.n - p.c), 6) AS jaccard
      |      FROM p JOIN cand ON p.a = cand.a AND p.b = cand.b
      |      JOIN sz sx ON p.a = sx.doc_id JOIN sz sy ON p.b = sy.doc_id)
      |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.7 ORDER BY a, b""".stripMargin

  private lazy val dupGroupsOracle: String =
    """WITH RECURSIVE
      |d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-1, 2))])) AS s FROM d),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 5000),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |         FROM sh x JOIN rare ON x.s = rare.s JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id),
      |p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT p.a, p.b FROM p JOIN cand ON p.a = cand.a AND p.b = cand.b
      |          JOIN sz sx ON p.a = sx.doc_id JOIN sz sy ON p.b = sy.doc_id
      |          WHERE round(p.c * 1.0 / (sx.n + sy.n - p.c), 6) >= 0.7),
      |e AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      |reach(a, b) AS (SELECT doc_id, doc_id FROM d UNION
      |                SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
      |SELECT a AS doc_id, min(b) AS group_id FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** Gopher repetition signals: the per-doc n-gram/line frequency tables
    * the Spark side folds inside the row are computed relationally here
    * (unnest → group → max/sum) — an independent formulation of the same
    * definition. N-gram construction mirrors jaccardOracle's clamped
    * comprehension (= Dedup.shingles).
    */
  private lazy val repetitionOracle: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS w, length(text) AS nc FROM documents),
      |g2 AS (SELECT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, greatest(len(w), 2))]) AS g FROM d),
      |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1,2),
      |s2 AS (SELECT doc_id, max(cnt*length(g)) AS top2,
      |              sum(CASE WHEN cnt>1 THEN cnt*length(g) ELSE 0 END) AS dup2 FROM c2 GROUP BY 1),
      |g3 AS (SELECT doc_id, unnest([array_to_string(w[i:i+2],' ') for i in range(1, greatest(len(w)-1, 2))]) AS g FROM d),
      |c3 AS (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1,2),
      |s3 AS (SELECT doc_id, sum(CASE WHEN cnt>1 THEN cnt*length(g) ELSE 0 END) AS dup3 FROM c3 GROUP BY 1),
      |lx AS (SELECT doc_id, unnest([array_to_string(list_slice(w, i*8+1, i*8+8),' ') for i in range(0, greatest(CAST(ceil(len(w)/8.0) AS BIGINT),1))]) AS l FROM d),
      |lc AS (SELECT doc_id, l, count(*) AS cnt, length(l) AS ln FROM lx GROUP BY 1,2),
      |lstat AS (SELECT doc_id, sum(cnt*ln) AS total_chars,
      |                 sum(CASE WHEN cnt>1 THEN cnt*ln ELSE 0 END) AS dup_chars,
      |                 count(*) AS n_distinct, sum(cnt) AS n_lines FROM lc GROUP BY 1)
      |SELECT d.doc_id, round(s2.top2 * 1.0 / d.nc, 6) AS top2gram_char_frac,
      |       round(s2.dup2 * 1.0 / d.nc, 6) AS dup2gram_char_frac,
      |       round(s3.dup3 * 1.0 / d.nc, 6) AS dup3gram_char_frac,
      |       round((lstat.n_lines - lstat.n_distinct) * 1.0 / lstat.n_lines, 6) AS dup_line_frac,
      |       round(lstat.dup_chars * 1.0 / lstat.total_chars, 6) AS dup_line_char_frac
      |FROM d JOIN s2 USING (doc_id) JOIN s3 USING (doc_id) JOIN lstat USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Composed curation verdict — reuses q_text_stats's quality fragment and
    * the repetition CTEs, relationally (the independent formulation of the
    * per-row folds).
    */
  private lazy val qualityFilterOracle: String =
    """WITH d AS (SELECT doc_id, text, string_split(lower(text),' ') AS w, length(text) AS nc FROM documents),
      |g2 AS (SELECT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, greatest(len(w), 2))]) AS g FROM d),
      |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1,2),
      |s2 AS (SELECT doc_id, sum(CASE WHEN cnt>1 THEN cnt*length(g) ELSE 0 END) AS dup2 FROM c2 GROUP BY 1),
      |q AS (SELECT d.doc_id, len(d.w) AS nw, s2.dup2 * 1.0 / d.nc AS dupf,
      |        round(least(1.0, len(d.w) * 1.0 / 100.0) * 0.4
      |          + (len(list_filter(d.w, x -> list_contains(['the','and','of','to','a','in','is'], x))) * 1.0 / len(d.w)) * 0.3
      |          + (1.0 - length(regexp_replace(lower(d.text), '[a-z0-9 ]', '', 'g')) * 1.0 / d.nc) * 0.3, 6) AS qual
      |      FROM d JOIN s2 USING (doc_id)),
      |r AS (SELECT doc_id, concat_ws(',',
      |        CASE WHEN nw < 30 THEN 'too_short' END,
      |        CASE WHEN nw > 70 THEN 'too_long' END,
      |        CASE WHEN dupf >= 0.2 THEN 'repetitive' END,
      |        CASE WHEN qual < 0.45 THEN 'low_quality' END) AS reasons FROM q)
      |SELECT doc_id, reasons = '' AS keep, reasons FROM r ORDER BY doc_id""".stripMargin

  private lazy val gopherOracle: String =
    """WITH p AS (
      |  SELECT doc_id, lower(text ||
      |    CASE WHEN doc_id % 4 = 0 THEN repeat(' #', CAST(doc_id % 9 + 1 AS INTEGER)) ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN repeat(' 12345', CAST(doc_id % 30 AS INTEGER)) ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0 THEN ' and with that' ELSE '' END) AS ptext
      |  FROM documents),
      |w AS (SELECT doc_id, ptext, string_split(ptext, ' ') AS pw FROM p),
      |l0 AS (SELECT doc_id, ptext, pw,
      |  [array_to_string(list_slice(pw, i*8+1, i*8+8), ' ') for i in range(0, greatest(CAST(ceil(len(pw)/8.0) AS BIGINT), 1))] AS ls0
      |  FROM w),
      |l1 AS (SELECT doc_id, ptext, pw,
      |  [CASE WHEN doc_id % 7 = 0 AND (i + doc_id) % 3 = 0
      |        THEN (CASE WHEN doc_id % 3 = 0 AND i < doc_id % 10 THEN '- ' || ls0[i+1] ELSE ls0[i+1] END) || '...'
      |        ELSE (CASE WHEN doc_id % 3 = 0 AND i < doc_id % 10 THEN '- ' || ls0[i+1] ELSE ls0[i+1] END) END
      |   for i in range(0, len(ls0))] AS ls
      |  FROM l0),
      |sig AS (SELECT doc_id,
      |  CAST(len(pw) AS INTEGER) AS n_words,
      |  round(list_sum(list_transform(pw, x -> length(x))) * 1.0 / len(pw), 6) AS mean_word_len,
      |  round((len(regexp_extract_all(ptext, '#')) + len(regexp_extract_all(ptext, '\.\.\.'))) * 1.0 / len(pw), 6) AS symbol_ratio,
      |  round(len(list_filter(pw, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(pw), 6) AS alpha_frac,
      |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(pw, s))) AS INTEGER) AS stop_hits,
      |  CAST(len(ls) AS INTEGER) AS n_lines,
      |  round(len(list_filter(ls, x -> starts_with(x, '- ') OR starts_with(x, '• '))) * 1.0 / len(ls), 6) AS bullet_frac,
      |  round(len(list_filter(ls, x -> ends_with(x, '...'))) * 1.0 / len(ls), 6) AS ellipsis_frac
      |  FROM l1),
      |r AS (SELECT *, concat_ws(',',
      |    CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count' END,
      |    CASE WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'word_len' END,
      |    CASE WHEN symbol_ratio > 0.1 THEN 'symbols' END,
      |    CASE WHEN alpha_frac < 0.8 THEN 'non_alpha' END,
      |    CASE WHEN stop_hits < 2 THEN 'stop_words' END,
      |    CASE WHEN bullet_frac > 0.9 THEN 'bullets' END,
      |    CASE WHEN ellipsis_frac > 0.3 THEN 'ellipses' END) AS reasons
      |  FROM sig)
      |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, stop_hits,
      |       n_lines, bullet_frac, ellipsis_frac, reasons = '' AS keep, reasons
      |FROM r ORDER BY doc_id""".stripMargin

  private lazy val urlDomainsOracle: String =
    """WITH p AS (SELECT doc_id, text || ' see https://site' || CAST(doc_id % 13 AS VARCHAR)
      |    || '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
      |  CASE WHEN doc_id % 3 = 0 THEN ' ref http://www.mirror' || CAST(doc_id % 7 AS VARCHAR) || '.org/x?q=1' ELSE '' END AS ptext
      |  FROM documents),
      |u AS (SELECT doc_id, unnest(regexp_extract_all(ptext, 'https?://[^\s]+')) AS url FROM p),
      |d AS (SELECT doc_id, regexp_replace(lower(regexp_extract(url, 'https?://([^/\s]+)', 1)), '^www\.', '') AS domain FROM u)
      |SELECT domain, count(DISTINCT doc_id) AS n_docs, count(*) AS n_urls
      |FROM d GROUP BY domain ORDER BY domain""".stripMargin

  private lazy val domainCapOracle: String =
    """WITH p AS (SELECT doc_id,
      |    regexp_replace(lower(regexp_extract('https://site' || CAST(doc_id % 13 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR),
      |      'https?://([^/\s]+)', 1)), '^www\.', '') AS domain
      |  FROM documents),
      |o AS (SELECT doc_id, domain,
      |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS m FROM p),
      |r AS (SELECT domain, doc_id,
      |    CAST(row_number() OVER (PARTITION BY domain ORDER BY m, doc_id) AS INTEGER) AS rn FROM o)
      |SELECT domain, doc_id, rn FROM r WHERE rn <= 10 ORDER BY domain, rn""".stripMargin

  private lazy val bigramLpOracle: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS w FROM documents),
      |u AS (SELECT unnest(w) AS w1 FROM d),
      |uc AS (SELECT w1, count(*) AS c1 FROM u GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM uc),
      |pr AS (SELECT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS bg
      |       FROM d WHERE len(w) >= 2),
      |bc AS (SELECT bg, count(*) AS c2 FROM pr GROUP BY 1),
      |lp AS (SELECT pr.doc_id,
      |    CAST(round(ln((bc.c2 + 0.5) / (uc.c1 + 0.5 * v.v)), 6) AS DECIMAL(18,6)) AS lp
      |  FROM pr JOIN bc USING (bg) JOIN uc ON uc.w1 = split_part(pr.bg, ' ', 1), v),
      |s AS (SELECT doc_id, sum(lp) AS slp, count(*) AS n_bigrams FROM lp GROUP BY 1)
      |SELECT doc_id, CAST(slp AS DOUBLE) / n_bigrams AS mean_lp, n_bigrams
      |FROM s ORDER BY doc_id""".stripMargin

  private lazy val referenceLpOracle: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS w FROM documents),
      |ref AS (SELECT string_split(lower(text),' ') AS w FROM documents WHERE source = 'src0'),
      |u AS (SELECT unnest(w) AS w1 FROM ref),
      |uc AS (SELECT w1, count(*) AS c1 FROM u GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM uc),
      |rp AS (SELECT unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS bg
      |       FROM ref WHERE len(w) >= 2),
      |bc AS (SELECT bg, count(*) AS c2 FROM rp GROUP BY 1),
      |pr AS (SELECT doc_id, unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS bg
      |       FROM d WHERE len(w) >= 2),
      |lp AS (SELECT pr.doc_id,
      |    CAST(round(ln((coalesce(bc.c2, 0) + 0.5) / (coalesce(uc.c1, 0) + 0.5 * v.v)), 6) AS DECIMAL(18,6)) AS lp
      |  FROM pr LEFT JOIN bc USING (bg)
      |          LEFT JOIN uc ON uc.w1 = split_part(pr.bg, ' ', 1), v),
      |s AS (SELECT doc_id, sum(lp) AS slp, count(*) AS n_bigrams FROM lp GROUP BY 1)
      |SELECT doc_id, CAST(slp AS DOUBLE) / n_bigrams AS mean_lp, n_bigrams
      |FROM s ORDER BY doc_id""".stripMargin

  /** Interpolated-KN trigram oracle (q_quality_kn_lp /
    * q_kn_reference_lp): the SAME count tables and double-expression
    * shapes as `Quality.knTrigramLogProbAgainst`, restated for DuckDB —
    * two engines, one spec (ln/round parity per the bigram precedent).
    */
  private def knLpCore(refWhere: String): String =
    s"""WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS w FROM documents),
      |ref AS (SELECT string_split(lower(text),' ') AS w FROM documents$refWhere),
      |rtg AS (SELECT unnest([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) AS tg
      |        FROM ref WHERE len(w) >= 3),
      |t3 AS (SELECT tg, count(*) AS c3 FROM rtg GROUP BY 1),
      |tt AS (SELECT tg, c3,
      |    array_to_string((string_split(tg,' '))[1:2],' ') AS bg12,
      |    array_to_string((string_split(tg,' '))[2:3],' ') AS bg23,
      |    (string_split(tg,' '))[2] AS w2
      |  FROM t3),
      |rbg AS (SELECT unnest([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) AS bg
      |        FROM ref WHERE len(w) >= 2),
      |bt AS (SELECT bg, c2tok,
      |    (string_split(bg,' '))[1] AS bw1, (string_split(bg,' '))[2] AS bw2
      |  FROM (SELECT bg, count(*) AS c2tok FROM rbg GROUP BY 1)),
      |cx AS (SELECT coalesce(f.bg12, b.bg) AS bg12, f.f12, b.c2tok
      |       FROM (SELECT bg12, count(*) AS f12 FROM tt GROUP BY 1) f
      |       FULL JOIN bt b ON b.bg = f.bg12),
      |cb AS (SELECT bg23, count(*) AS cb FROM tt GROUP BY 1),
      |w2s AS (SELECT coalesce(m.w2, f.w2) AS w2, m.mc, f.fw2
      |        FROM (SELECT w2, count(*) AS mc FROM tt GROUP BY 1) m
      |        FULL JOIN (SELECT bw1 AS w2, count(*) AS fw2 FROM bt GROUP BY 1) f
      |          ON m.w2 = f.w2),
      |cu AS (SELECT bw2 AS w3, count(*) AS cu FROM bt GROUP BY 1),
      |tot AS (SELECT (SELECT count(*) FROM bt) AS tc,
      |               (SELECT count(DISTINCT x) FROM (SELECT unnest(w) AS x FROM ref)) AS v),
      |pr AS (SELECT doc_id, unnest([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) AS tg
      |       FROM d WHERE len(w) >= 3),
      |ks AS (SELECT doc_id, tg,
      |    array_to_string((string_split(tg,' '))[1:2],' ') AS bg12,
      |    array_to_string((string_split(tg,' '))[2:3],' ') AS bg23,
      |    (string_split(tg,' '))[2] AS w2,
      |    (string_split(tg,' '))[3] AS w3
      |  FROM pr),
      |j AS (SELECT ks.doc_id,
      |    coalesce(t3.c3, 0) AS c3, coalesce(cx.c2tok, 0) AS c2,
      |    coalesce(cx.f12, 0) AS f12, coalesce(cb.cb, 0) AS cbv,
      |    coalesce(w2s.mc, 0) AS mc, coalesce(w2s.fw2, 0) AS fw2,
      |    coalesce(cu.cu, 0) AS cuv, tot.tc, tot.v
      |  FROM ks LEFT JOIN t3 USING (tg)
      |          LEFT JOIN cx ON cx.bg12 = ks.bg12
      |          LEFT JOIN cb ON cb.bg23 = ks.bg23
      |          LEFT JOIN w2s ON w2s.w2 = ks.w2
      |          LEFT JOIN cu ON cu.w3 = ks.w3, tot),
      |p1t AS (SELECT *, (cuv + 0.5) / (tc + 0.5 * (v + 1)) AS p1 FROM j),
      |p2t AS (SELECT *, CASE WHEN mc > 0
      |          THEN (greatest(cbv - 0.75, 0.0) + 0.75 * fw2 * p1) / mc
      |          ELSE p1 END AS p2 FROM p1t),
      |lp AS (SELECT doc_id, CAST(round(ln(CASE WHEN c2 > 0 AND f12 > 0
      |          THEN (greatest(c3 - 0.75, 0.0) + 0.75 * f12 * p2) / c2
      |          ELSE p2 END), 6) AS DECIMAL(18,6)) AS lp FROM p2t),
      |s AS (SELECT doc_id, sum(lp) AS slp, count(*) AS n_trigrams FROM lp GROUP BY 1)""".stripMargin

  private def knLpOracle(refWhere: String): String =
    knLpCore(refWhere) +
      "\nSELECT doc_id, CAST(slp AS DOUBLE) / n_trigrams AS mean_lp, n_trigrams" +
      "\nFROM s ORDER BY doc_id"

  private lazy val knSelfLpOracle: String = knLpOracle("")
  private lazy val knRefLpOracle: String = knLpOracle(" WHERE source = 'src0'")

  /** q_ccnet_kn_e2e: the KN score flowing into the per-language tercile
    * bucketing — the same composition tail as q_ccnet_reference_e2e.
    */
  private lazy val knCcnetOracle: String =
    knLpCore(" WHERE source = 'src0'") + """,
      |scored AS (SELECT s.doc_id, d2.lang, CAST(slp AS DOUBLE) / n_trigrams AS score
      |           FROM s JOIN (SELECT doc_id, lang FROM documents) d2 USING (doc_id)),
      |thr AS (SELECT lang,
      |               round(quantile_cont(score, 0.3333333333333333), 6) AS t_lo,
      |               round(quantile_cont(score, 0.6666666666666666), 6) AS t_hi
      |        FROM scored GROUP BY lang)
      |SELECT sc.doc_id, sc.lang, sc.score AS score,
      |       CASE WHEN round(sc.score, 6) >= t.t_hi THEN 'head'
      |            WHEN round(sc.score, 6) >= t.t_lo THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM scored sc JOIN thr t ON sc.lang IS NOT DISTINCT FROM t.lang
      |ORDER BY sc.doc_id""".stripMargin

  private lazy val webE2eOracle: String =
    """WITH d AS (SELECT doc_id, n_chars, text, string_split(lower(text),' ') AS w FROM documents),
      |sig AS (SELECT doc_id, n_chars, text, len(w) AS nw,
      |    round(list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w), 6) AS mwl,
      |    round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(w), 6) AS af
      |  FROM d),
      |kept AS (SELECT doc_id, n_chars, text FROM sig
      |         WHERE nw >= 50 AND af >= 0.8 AND mwl BETWEEN 3.0 AND 10.0),
      |canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(lower(text))),
      |dd AS (SELECT k.doc_id, k.n_chars FROM kept k JOIN canon USING (doc_id)),
      |dom AS (SELECT doc_id, n_chars,
      |    regexp_replace(lower(regexp_extract('https://site' || CAST(doc_id % 13 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR),
      |      'https?://([^/\s]+)', 1)), '^www\.', '') AS domain
      |  FROM dd),
      |rk AS (SELECT domain, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY domain
      |      ORDER BY CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rn
      |  FROM dom),
      |cap AS (SELECT * FROM rk WHERE rn <= 10)
      |SELECT domain, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       min(doc_id) AS first_doc
      |FROM cap GROUP BY domain ORDER BY domain""".stripMargin

  /** The planted HTML wrapper shared by q_html_extract and
    * q_web_html_e2e (their SQL oracles duplicate it by design — two
    * engines, one spec — but the Scala sides must not drift apart).
    */
  private def plantedHtml(text: Column): Column = concat(
    lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>" +
      "<style>.a { color: red }</style></head><body><!-- nav -->" +
      "<h1>Title &amp; More</h1><p>"),
    text,
    lit("</p><div class=\"x\">tail &lt;kept&gt;&nbsp;&#39;q&#39; &amp;lt;once</div></body></html>"))

  private lazy val webHtmlE2eOracle: String =
    """WITH p AS (SELECT doc_id,
      |    '<html><head><script type="text/javascript">var x = 1 < 2;</script>' ||
      |    '<style>.a { color: red }</style></head><body><!-- nav -->' ||
      |    '<h1>Title &amp; More</h1><p>' || text ||
      |    '</p><div class="x">tail &lt;kept&gt;&nbsp;&#39;q&#39; &amp;lt;once</div></body></html>' AS html
      |  FROM documents WHERE text IS NOT NULL),
      |x AS (SELECT doc_id,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(replace(replace(
      |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      |          '<script[^>]*>.*?</script\s*>', ' ', 'gis'),
      |          '<style[^>]*>.*?</style\s*>', ' ', 'gis'),
      |          '<!--.*?-->', ' ', 'gs'),
      |          '<[^>]+>', ' ', 'gs'),
      |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |        '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '),
      |        '&amp;', '&'),
      |      '\s+', ' ', 'g')) AS text
      |  FROM p),
      |d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, text,
      |    string_split(lower(text),' ') AS w FROM x),
      |sig AS (SELECT doc_id, n_chars, text, len(w) AS nw,
      |    round(list_sum(list_transform(w, x2 -> length(x2))) * 1.0 / len(w), 6) AS mwl,
      |    round(len(list_filter(w, x2 -> regexp_matches(x2, '[a-z]'))) * 1.0 / len(w), 6) AS af
      |  FROM d),
      |kept AS (SELECT doc_id, n_chars, text FROM sig
      |         WHERE nw >= 50 AND af >= 0.8 AND mwl BETWEEN 3.0 AND 10.0),
      |canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(lower(text))),
      |dd AS (SELECT k.doc_id, k.n_chars FROM kept k JOIN canon USING (doc_id)),
      |dom AS (SELECT doc_id, n_chars,
      |    regexp_replace(lower(regexp_extract('https://site' || CAST(doc_id % 13 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR),
      |      'https?://([^/\s]+)', 1)), '^www\.', '') AS domain
      |  FROM dd),
      |rk AS (SELECT domain, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY domain
      |      ORDER BY CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rn
      |  FROM dom),
      |cap AS (SELECT * FROM rk WHERE rn <= 10)
      |SELECT domain, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       min(doc_id) AS first_doc
      |FROM cap GROUP BY domain ORDER BY domain""".stripMargin

  private lazy val dsirOracle: String =
    """WITH d AS (SELECT doc_id, source, string_split(lower(text),' ') AS w FROM documents),
      |g AS (SELECT doc_id, source, unnest([array_to_string(w[i:i+1],' ') for i in range(1, greatest(len(w), 2))]) AS gram FROM d),
      |bb AS (SELECT doc_id, source, CAST(concat('0x', substring(md5(gram),1,15)) AS BIGINT) % 64 AS b FROM g),
      |tc AS (SELECT b, count(*) AS c FROM bb WHERE source = 'src0' GROUP BY b),
      |cc AS (SELECT b, count(*) AS c FROM bb GROUP BY b),
      |tt AS (SELECT sum(c) AS t FROM tc),
      |ct AS (SELECT sum(c) AS t FROM cc),
      |lr AS (SELECT r.b,
      |    CAST(round(ln((coalesce(tc.c, 0) + 1.0) / (tt.t + 64.0))
      |             - ln((coalesce(cc.c, 0) + 1.0) / (ct.t + 64.0)), 6) AS DECIMAL(18,6)) AS v
      |  FROM range(0, 64) r(b) LEFT JOIN tc ON tc.b = r.b LEFT JOIN cc ON cc.b = r.b, tt, ct),
      |s AS (SELECT bb.doc_id, sum(lr.v) AS s FROM bb JOIN lr ON lr.b = bb.b GROUP BY 1)
      |SELECT doc_id, CAST(s AS DOUBLE) AS log_ratio, s > 0 AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  private lazy val piiOracle: String = {
    // the SAME pattern strings the Spark side compiles (RE2-and-Java
    // compatible by construction) — an edit there is an edit here
    val email = Quality.EmailRe
    val ip = Quality.Ipv4Re
    val phone = Quality.PhoneRe
    s"""WITH p AS (SELECT doc_id, text ||
       |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
       |  CASE WHEN doc_id % 5 = 0 THEN ' host 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id*7) % 256 AS VARCHAR) ELSE '' END ||
       |  CASE WHEN doc_id % 7 = 0 THEN ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS ptext
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(ptext, '$email')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(ptext, '$ip')) AS INTEGER) AS n_ipv4,
       |  CAST(len(regexp_extract_all(ptext, '$phone')) AS INTEGER) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(ptext, '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS redacted
       |FROM p ORDER BY doc_id""".stripMargin
  }

  private lazy val cleanLinesOracle: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS w FROM documents),
      |l AS (SELECT doc_id, [array_to_string(list_slice(w, i*8+1, i*8+8),' ') for i in range(0, greatest(CAST(ceil(len(w)/8.0) AS BIGINT),1))] AS ls FROM d),
      |k AS (SELECT doc_id, ls, list_filter(ls, x -> len(string_split(x,' ')) >= 8 AND NOT list_has_any(string_split(x,' '), ['slow','big'])) AS kept FROM l)
      |SELECT doc_id, CAST(len(ls) AS INTEGER) AS n_lines, CAST(len(kept) AS INTEGER) AS n_kept,
      |       coalesce(array_to_string(kept, ' '), '') AS cleaned
      |FROM k ORDER BY doc_id""".stripMargin

  /** The CJK isolation class — the SAME spec as Bpe.CjkCharClass /
    * wordsSegmented, re-stated for DuckDB (two engines, one spec).
    */
  private lazy val cjkClassSql: String =
    "[\\x{0e00}-\\x{0e7f}\\x{3040}-\\x{30ff}\\x{3400}-\\x{4dbf}" +
      "\\x{4e00}-\\x{9fff}\\x{f900}-\\x{faff}]"

  /** doc_id-derived planted Han text (rotation + repeat) — the SAME
    * derivation as the Scala sides of q_gopher_cjk / q_langid_cjk.
    */
  private lazy val hanSql: String =
    "repeat(substring('的一是不了人我在有他这中', CAST(doc_id % 12 AS INTEGER) + 1, " +
      "12 - CAST(doc_id % 12 AS INTEGER)) || " +
      "substring('的一是不了人我在有他这中', 1, CAST(doc_id % 12 AS INTEGER)), " +
      "CAST(doc_id % 4 + 2 AS INTEGER))"

  private lazy val gopherCjkOracle: String =
    s"""WITH p AS (SELECT doc_id, $hanSql ||
      |      CASE WHEN doc_id % 3 = 0 THEN ' and with that' ELSE '' END ||
      |      CASE WHEN doc_id % 4 = 0 THEN ' #' ELSE '' END AS ptext
      |    FROM documents WHERE text IS NOT NULL),
      |w AS (SELECT doc_id, ptext,
      |    list_filter(string_split_regex(
      |      regexp_replace(lower(ptext), '($cjkClassSql)', ' \\1 ', 'g'),
      |      '\\s+'), x -> x <> '') AS pw
      |  FROM p)
      |SELECT doc_id,
      |  CAST(len(pw) AS INTEGER) AS n_words,
      |  round(list_sum(list_transform(pw, x -> length(x))) * 1.0 / len(pw), 6) AS mean_word_len,
      |  round((len(regexp_extract_all(ptext, '#')) + len(regexp_extract_all(ptext, '\\.\\.\\.'))) * 1.0 / len(pw), 6) AS symbol_ratio,
      |  round(len(list_filter(pw, x -> regexp_matches(x, '[a-z]|$cjkClassSql'))) * 1.0 / len(pw), 6) AS alpha_frac,
      |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(pw, s))) AS INTEGER) AS stop_hits
      |FROM w ORDER BY doc_id""".stripMargin

  private lazy val encodingOracle: String =
    """WITH p AS (SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN '�' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN chr(1) || chr(2) ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' cafÃ© nÃ£o' ELSE '' END AS ptext
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT doc_id,
      |  CAST(length(ptext) AS INTEGER) AS n_chars,
      |  CAST(len(regexp_extract_all(ptext, '�')) AS INTEGER) AS replacement_hits,
      |  round(len(regexp_extract_all(ptext, '�')) * 1.0 / greatest(length(ptext), 1), 6) AS replacement_frac,
      |  CAST(len(regexp_extract_all(ptext, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS INTEGER) AS ctrl_hits,
      |  round(len(regexp_extract_all(ptext, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) * 1.0 / greatest(length(ptext), 1), 6) AS ctrl_frac,
      |  CAST(len(regexp_extract_all(ptext, '[ÃÂâ][\x{0080}-\x{00bf}]')) AS INTEGER) AS mojibake_hits,
      |  (len(regexp_extract_all(ptext, '�')) = 0
      |    AND len(regexp_extract_all(ptext, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) = 0
      |    AND len(regexp_extract_all(ptext, '[ÃÂâ][\x{0080}-\x{00bf}]')) = 0) AS clean
      |FROM p ORDER BY doc_id""".stripMargin

  private lazy val sketchOracle: String =
    """SELECT l_returnflag,
      |       count(DISTINCT l_orderkey) AS exact_distinct,
      |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
      |       TRUE AS hll_ok, TRUE AS pa_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private lazy val sessionizeOracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |l AS (SELECT user_id, event_id, ts_us,
      |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) <= 7200000000 THEN 0 ELSE 1 END AS new_sess
      |  FROM e),
      |a AS (SELECT user_id, event_id, ts_us,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM l)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |       min(ts_us) AS start_us, max(ts_us) AS end_us,
      |       max(ts_us) - min(ts_us) AS duration_us
      |FROM a GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin

  private lazy val langIdCjkOracle: String =
    s"""WITH base AS (SELECT doc_id, $hanSql AS han
      |    FROM documents WHERE text IS NOT NULL),
      |p AS (SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN 'the cat and the dog is in a tree of leaves'
      |         ELSE han || CASE WHEN doc_id % 3 = 0 THEN ' the and is' ELSE '' END END AS ptext
      |  FROM base),
      |w AS (SELECT doc_id,
      |    list_filter(string_split_regex(
      |      regexp_replace(lower(ptext), '($cjkClassSql)', ' \\1 ', 'g'),
      |      '\\s+'), x -> x <> '') AS pw
      |  FROM p),
      |c AS (SELECT doc_id,
      |  len(list_filter(pw, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS c_en,
      |  len(list_filter(pw, x -> list_contains(['el','la','de','que','y','los'], x))) AS c_es,
      |  len(list_filter(pw, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS c_de,
      |  len(list_filter(pw, x -> list_contains(['le','les','et','des','une','est'], x))) AS c_fr,
      |  len(list_filter(pw, x -> list_contains(['的','是','了','在','我'], x))) AS c_zh
      | FROM w)
      |SELECT doc_id, CASE
      |  WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
      |  WHEN c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
      |  WHEN c_de >= c_fr AND c_de >= c_zh THEN 'de'
      |  WHEN c_fr >= c_zh THEN 'fr'
      |  ELSE 'zh' END AS lang_pred
      |FROM c ORDER BY doc_id""".stripMargin

  private lazy val langIdOracle: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |c AS (SELECT doc_id,
      |  len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS c_en,
      |  len(list_filter(w, x -> list_contains(['el','la','de','que','y','los'], x))) AS c_es,
      |  len(list_filter(w, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS c_de,
      |  len(list_filter(w, x -> list_contains(['le','les','et','des','une','est'], x))) AS c_fr,
      |  len(list_filter(w, x -> list_contains(['的','是','了','在','我'], x))) AS c_zh
      | FROM t)
      |SELECT doc_id, CASE
      |  WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
      |  WHEN c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
      |  WHEN c_de >= c_fr AND c_de >= c_zh THEN 'de'
      |  WHEN c_fr >= c_zh THEN 'fr'
      |  ELSE 'zh' END AS lang_pred
      |FROM c ORDER BY doc_id""".stripMargin

  lazy val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
