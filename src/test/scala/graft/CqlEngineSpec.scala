package graft

import graft.cql.CqlEngine
import org.apache.spark.sql.Row

/** CQLTester-style goldens (reference harness
  * `test/unit/.../cql3/CQLTester.java:653-927`); cases mined from
  * `cql3/validation/operations` and `entities/StaticColumnsTest.java`,
  * `TTLTest.java`. `rows()` compares content ignoring order unless noted.
  */
class CqlEngineSpec extends SparkSpec {

  def mkEngine: CqlEngine = new CqlEngine(spark)

  def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  def rowsInOrder(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  def assertInvalid(e: CqlEngine, cql: String, msgPart: String): Unit = {
    val ex = intercept[RuntimeException](e.execute(cql).collect())
    assert(ex.getMessage.contains(msgPart), s"got: ${ex.getMessage}")
  }

  test("insert + single-partition select in clustering order") {
    val e = mkEngine
    e.execute("CREATE TABLE t1 (a int, b int, c int, PRIMARY KEY (a, b))")
    for (a <- 0 until 3; b <- 0 until 4)
      e.execute(s"INSERT INTO t1 (a, b, c) VALUES ($a, $b, ${a * 10 + b})")
    assert(rowsInOrder(e.execute("SELECT b, c FROM t1 WHERE a = 1")) ===
      Seq(Seq(0, 10), Seq(1, 11), Seq(2, 12), Seq(3, 13)))
    assert(rowsInOrder(e.execute("SELECT b FROM t1 WHERE a = 1 AND b > 1")) ===
      Seq(Seq(2), Seq(3)))
    assert(rowsInOrder(e.execute("SELECT b FROM t1 WHERE a = 1 ORDER BY b DESC")) ===
      Seq(Seq(3), Seq(2), Seq(1), Seq(0)))
  }

  test("upsert semantics: newest write wins per cell") {
    val e = mkEngine
    e.execute("CREATE TABLE t2 (k int PRIMARY KEY, v int, w text)")
    e.execute("INSERT INTO t2 (k, v, w) VALUES (1, 10, 'x')")
    e.execute("UPDATE t2 SET v = 20 WHERE k = 1")
    assert(rows(e.execute("SELECT k, v, w FROM t2")) === Set(Seq(1, 20, "x")))
    // explicit timestamps: older write loses even if applied later
    e.execute("UPDATE t2 USING TIMESTAMP 1 SET v = 5 WHERE k = 1")
    assert(rows(e.execute("SELECT v FROM t2")) === Set(Seq(20)))
  }

  test("INSERT grants row liveness, UPDATE does not (CASSANDRA classic)") {
    val e = mkEngine
    e.execute("CREATE TABLE t3 (k int PRIMARY KEY, v int)")
    e.execute("INSERT INTO t3 (k, v) VALUES (1, 1)")
    e.execute("UPDATE t3 SET v = 2 WHERE k = 2")
    e.execute("DELETE v FROM t3 WHERE k = 1")
    e.execute("DELETE v FROM t3 WHERE k = 2")
    // k=1 was INSERTed → row survives with null v; k=2 only UPDATEd → gone
    assert(rows(e.execute("SELECT k, v FROM t3")) === Set(Seq(1, null)))
  }

  test("row, cell, and partition tombstones") {
    val e = mkEngine
    e.execute("CREATE TABLE t4 (a int, b int, c int, PRIMARY KEY (a, b))")
    for (b <- 0 until 3) e.execute(s"INSERT INTO t4 (a, b, c) VALUES (1, $b, $b)")
    for (b <- 0 until 3) e.execute(s"INSERT INTO t4 (a, b, c) VALUES (2, $b, $b)")
    e.execute("DELETE FROM t4 WHERE a = 1 AND b = 1")        // row tombstone
    e.execute("DELETE c FROM t4 WHERE a = 1 AND b = 2")      // cell tombstone
    e.execute("DELETE FROM t4 WHERE a = 2")                  // partition tombstone
    assert(rows(e.execute("SELECT a, b, c FROM t4")) ===
      Set(Seq(1, 0, 0), Seq(1, 2, null)))
    // re-insert into deleted partition revives it
    e.execute("INSERT INTO t4 (a, b, c) VALUES (2, 9, 9)")
    assert(rows(e.execute("SELECT a, b, c FROM t4 WHERE a = 2")) === Set(Seq(2, 9, 9)))
  }

  test("per-partition limit and limit (SelectLimitTest.testPerPartitionLimit)") {
    val e = mkEngine
    e.execute("CREATE TABLE t5 (a int, b int, c int, PRIMARY KEY (a, b))")
    for (a <- 0 until 5; b <- 0 until 5)
      e.execute(s"INSERT INTO t5 (a, b, c) VALUES ($a, $b, $b)")
    assert(e.execute("SELECT * FROM t5 PER PARTITION LIMIT 2").count() === 10)
    assert(e.execute("SELECT * FROM t5 PER PARTITION LIMIT 2 LIMIT 6").count() === 6)
    assert(rowsInOrder(e.execute("SELECT b FROM t5 WHERE a = 3 PER PARTITION LIMIT 2")) ===
      Seq(Seq(0), Seq(1)))
    // ORDER BY in reversed clustering order reverses the READ, and the
    // per-partition limit applies to the reversed iteration (SelectStatement
    // isReversed + DataLimits): the 2 LARGEST b, reported descending
    assert(rowsInOrder(e.execute(
      "SELECT b FROM t5 WHERE a = 3 ORDER BY b DESC PER PARTITION LIMIT 2")) ===
      Seq(Seq(4), Seq(3)))
    assertInvalid(e, "SELECT * FROM t5 LIMIT 0", "LIMIT must be strictly positive")
    // PPL composes with GROUP BY (groups per partition) but is rejected
    // with DISTINCT and with aggregate-everything (SelectLimitTest:150-155)
    assertInvalid(e, "SELECT DISTINCT a FROM t5 PER PARTITION LIMIT 3",
      "PER PARTITION LIMIT is not allowed with SELECT DISTINCT queries")
    assertInvalid(e, "SELECT COUNT(*) FROM t5 PER PARTITION LIMIT 3",
      "PER PARTITION LIMIT is not allowed with aggregate queries.")
    // no clustering columns → one row per partition; PPL is a no-op, not
    // an unordered-window error
    e.execute("CREATE TABLE t5b (k int PRIMARY KEY, v int)")
    e.execute("INSERT INTO t5b (k, v) VALUES (1, 10)")
    e.execute("INSERT INTO t5b (k, v) VALUES (2, 20)")
    assert(e.execute("SELECT * FROM t5b PER PARTITION LIMIT 1").count() === 2)
  }

  test("IN + ORDER BY interleaves rows by clustering across partitions " +
    "(SelectOrderByTest.testOrderByForInClause:258-284; " +
    "SelectLimitTest.testPerPartitionLimit:124-128)") {
    val e = mkEngine
    e.execute("CREATE TABLE inob (my_id text, col1 int, value text, PRIMARY KEY (my_id, col1))")
    e.execute("INSERT INTO inob (my_id, col1, value) VALUES ('key1', 1, 'a')")
    e.execute("INSERT INTO inob (my_id, col1, value) VALUES ('key2', 3, 'c')")
    e.execute("INSERT INTO inob (my_id, col1, value) VALUES ('key3', 2, 'b')")
    e.execute("INSERT INTO inob (my_id, col1, value) VALUES ('key4', 4, 'd')")
    // rows come back sorted by the CLUSTERING column across partitions,
    // not grouped per partition key
    assert(rowsInOrder(e.execute(
      "SELECT my_id, col1 FROM inob WHERE my_id IN ('key1', 'key2', 'key3') ORDER BY col1")) ===
      Seq(Seq("key1", 1), Seq("key3", 2), Seq("key2", 3)))
    assert(rowsInOrder(e.execute(
      "SELECT col1 FROM inob WHERE my_id IN ('key1', 'key2', 'key3') ORDER BY col1 LIMIT 2")) ===
      Seq(Seq(1), Seq(2)))
    // PPL under the reversed multi-partition read: largest b per
    // partition, interleaved by b DESC with ring-order ties — the
    // reference's literal expected rows
    e.execute("CREATE TABLE inppl (a int, b int, c int, PRIMARY KEY (a, b))")
    for (a <- 0 until 5; b <- 0 until 5)
      e.execute(s"INSERT INTO inppl (a, b, c) VALUES ($a, $b, $b)")
    assert(rowsInOrder(e.execute(
      "SELECT a, b, c FROM inppl WHERE a IN (3, 2) ORDER BY b DESC PER PARTITION LIMIT 2")) ===
      Seq(Seq(2, 4, 4), Seq(3, 4, 4), Seq(2, 3, 3), Seq(3, 3, 3)))
  }

  test("GROUP BY under a reversed ORDER BY read: first-row selection, group " +
    "output order and PPL group choice all follow the reversed iteration " +
    "(SelectGroupByTest.testGroupByWithoutPaging:329-342)") {
    val e = mkEngine
    e.execute("CREATE TABLE gbr (a int, b int, c int, d int, e int, PRIMARY KEY (a, b, c, d))")
    Seq((1, 2, 1, 3, 6), (1, 2, 2, 6, 12), (1, 3, 2, 12, 24), (1, 4, 2, 12, 24),
        (1, 4, 2, 6, 12), (2, 2, 3, 3, 6), (2, 4, 3, 6, 12), (3, 3, 2, 12, 24),
        (4, 8, 2, 12, 24)).foreach { case (a, b, c, d, ee) =>
      e.execute(s"INSERT INTO gbr (a, b, c, d, e) VALUES ($a, $b, $c, $d, $ee)")
    }
    // the reference test's deletes (lines 42-43)
    e.execute("DELETE FROM gbr WHERE a = 1 AND b = 3 AND c = 2 AND d = 12")
    e.execute("DELETE FROM gbr WHERE a = 3")
    // the reference's literal expected rows
    assert(rowsInOrder(e.execute(
      "SELECT a, b, e, count(b), max(e) FROM gbr WHERE a = 1 GROUP BY a, b, c ORDER BY b DESC, c DESC")) ===
      Seq(Seq(1, 4, 24, 2L, 24), Seq(1, 2, 12, 1L, 12), Seq(1, 2, 6, 1L, 6)))
    assert(rowsInOrder(e.execute(
      "SELECT a, b, e, count(b), max(e) FROM gbr WHERE a = 1 GROUP BY a, b, c ORDER BY b DESC, c DESC PER PARTITION LIMIT 1")) ===
      Seq(Seq(1, 4, 24, 2L, 24)))
    assert(rowsInOrder(e.execute(
      "SELECT a, b, e, count(b), max(e) FROM gbr WHERE a = 1 GROUP BY a, b, c ORDER BY b DESC, c DESC LIMIT 2")) ===
      Seq(Seq(1, 4, 24, 2L, 24), Seq(1, 2, 12, 1L, 12)))
    // multi-partition IN: group rows interleave by the clustering group
    // keys DESC across partitions, ring-order ties (lines 401-415)
    assert(rowsInOrder(e.execute(
      "SELECT a, b, c, count(b), max(e) FROM gbr WHERE a IN (1, 2, 4) GROUP BY a, b ORDER BY b DESC, c DESC")) ===
      Seq(Seq(4, 8, 2, 1L, 24), Seq(2, 4, 3, 1L, 12), Seq(1, 4, 2, 2L, 24),
        Seq(2, 2, 3, 1L, 6), Seq(1, 2, 2, 2L, 12)))
    assert(rowsInOrder(e.execute(
      "SELECT a, b, c, d FROM gbr WHERE a IN (1, 2, 4) GROUP BY a, b ORDER BY b DESC, c DESC LIMIT 3")) ===
      Seq(Seq(4, 8, 2, 12), Seq(2, 4, 3, 6), Seq(1, 4, 2, 12)))
    // range query + GROUP BY + ORDER BY stays rejected (lines 199-201)
    assertInvalid(e,
      "SELECT a, b, c, count(b), max(e) FROM gbr GROUP BY a, b ORDER BY b DESC, c DESC",
      "ORDER BY is only supported when the partition key is restricted")
  }

  test("aggregates: CQL-typed results, empty-table behavior (AggregationTest)") {
    val e = mkEngine
    e.execute("CREATE TABLE t6 (a int, b int, c double, PRIMARY KEY (a, b))")
    // empty: count=0, sum=0, min/max/avg defined as 0/null per CQL
    val empty = e.execute("SELECT count(*), sum(b), avg(b) FROM t6").head()
    assert(empty.getLong(0) === 0L)
    assert(empty.getInt(1) === 0)
    assert(empty.getInt(2) === 0)
    e.execute("INSERT INTO t6 (a, b, c) VALUES (1, 1, 11.5)")
    e.execute("INSERT INTO t6 (a, b, c) VALUES (1, 2, 1.0)")
    e.execute("INSERT INTO t6 (a, b, c) VALUES (2, 4, 2.0)")
    val r = e.execute(
      "SELECT count(*), sum(b), avg(b), min(b), max(b), sum(c) FROM t6").head()
    assert(r.toSeq === Seq(3L, 7, 2, 1, 4, 14.5)) // avg(int) truncates: 7/3 = 2
    // group by partition key; mixed plain column = first row in clustering order
    assert(rowsInOrder(e.execute("SELECT a, c, count(*) FROM t6 GROUP BY a")) ===
      Seq(Seq(1, 11.5, 2L), Seq(2, 2.0, 1L)))
    // PER PARTITION LIMIT with GROUP BY caps GROUPS per partition
    assert(rowsInOrder(e.execute(
      "SELECT a, b, count(*) FROM t6 GROUP BY a, b PER PARTITION LIMIT 1")) ===
      Seq(Seq(1, 1, 1L), Seq(2, 4, 1L)))
    // aggregate-everything + PPL is the reference's dedicated error, not
    // the GROUP-BY-shape one (SelectLimitTest:154-155)
    assertInvalid(e, "SELECT count(*) FROM t6 PER PARTITION LIMIT 1",
      "PER PARTITION LIMIT is not allowed with aggregate queries.")
  }

  test("writetime and ttl selectors with USING TIMESTAMP/TTL (TTLTest)") {
    val e = mkEngine
    e.execute("CREATE TABLE t7 (k int PRIMARY KEY, v int)")
    e.execute("INSERT INTO t7 (k, v) VALUES (1, 10) USING TIMESTAMP 12345")
    assert(rows(e.execute("SELECT k, writetime(v) FROM t7")) === Set(Seq(1, 12345L)))
    assert(rows(e.execute("SELECT ttl(v) FROM t7")) === Set(Seq(null)))
    e.nowMicros = 0L
    e.execute("INSERT INTO t7 (k, v) VALUES (2, 20) USING TTL 100 AND TIMESTAMP 50000000")
    val ttlRow = e.execute("SELECT ttl(v) FROM t7 WHERE k = 2").head()
    assert(ttlRow.getInt(0) === 150) // (50s write + 100s ttl - now 0) = 150s left
    // advance time past expiry: the cell is gone; INSERT liveness also expired
    e.nowMicros = 200L * 1000000L
    assert(e.execute("SELECT k, v FROM t7 WHERE k = 2").count() === 0)
    assert(rows(e.execute("SELECT k, v FROM t7 WHERE k = 1")) === Set(Seq(1, 10)))
    assertInvalid(e, "SELECT writetime(k) FROM t7",
      "Cannot use selection function writetime on PRIMARY KEY part k")
  }

  test("static columns (StaticColumnsTest)") {
    val e = mkEngine
    e.execute("CREATE TABLE t8 (k int, c int, v int, s int static, PRIMARY KEY (k, c))")
    e.execute("INSERT INTO t8 (k, c, v, s) VALUES (1, 1, 10, 100)")
    e.execute("INSERT INTO t8 (k, c, v) VALUES (1, 2, 20)")
    // static value returned with every row of the partition
    assert(rows(e.execute("SELECT k, c, s FROM t8")) ===
      Set(Seq(1, 1, 100), Seq(1, 2, 100)))
    // statics-only partition yields a null-clustering row
    e.execute("UPDATE t8 SET s = 200 WHERE k = 2")
    assert(rows(e.execute("SELECT k, c, s FROM t8 WHERE k = 2 ALLOW FILTERING")) ===
      Set(Seq(2, null, 200)))
    // DISTINCT over pk + static
    assert(rows(e.execute("SELECT DISTINCT k, s FROM t8")) ===
      Set(Seq(1, 100), Seq(2, 200)))
  }

  test("ALLOW FILTERING validation (StatementRestrictions)") {
    val e = mkEngine
    e.execute("CREATE TABLE t9 (a int, b int, c int, d int, PRIMARY KEY (a, b, c))")
    e.execute("INSERT INTO t9 (a, b, c, d) VALUES (1, 2, 3, 4)")
    assertInvalid(e, "SELECT * FROM t9 WHERE d = 4", "ALLOW FILTERING")
    assertInvalid(e, "SELECT * FROM t9 WHERE a = 1 AND c = 3", "ALLOW FILTERING")
    assertInvalid(e, "SELECT * FROM t9 WHERE b = 2", "ALLOW FILTERING")
    assert(rows(e.execute("SELECT d FROM t9 WHERE d = 4 ALLOW FILTERING")) === Set(Seq(4)))
    assert(rows(e.execute("SELECT d FROM t9 WHERE a = 1 AND b = 2 AND c = 3")) === Set(Seq(4)))
    // clustering slice on first clustering column is fine without filtering
    assert(e.execute("SELECT * FROM t9 WHERE a = 1 AND b > 0").count() === 1)
  }

  test("ORDER BY validation (SelectOrderByTest)") {
    val e = mkEngine
    e.execute("CREATE TABLE t10 (a int, b int, c int, v int, PRIMARY KEY (a, b, c))")
    for (b <- 0 until 2; c <- 0 until 2)
      e.execute(s"INSERT INTO t10 (a, b, c, v) VALUES (1, $b, $c, ${b * 10 + c})")
    assert(rowsInOrder(e.execute(
      "SELECT v FROM t10 WHERE a = 1 ORDER BY b DESC, c DESC")) ===
      Seq(Seq(11), Seq(10), Seq(1), Seq(0)))
    assertInvalid(e, "SELECT * FROM t10 WHERE a = 1 ORDER BY c",
      "Order by is currently only supported on the clustered columns")
    assertInvalid(e, "SELECT * FROM t10 WHERE a = 1 ORDER BY b ASC, c DESC",
      "Unsupported order by relation")
    assertInvalid(e, "SELECT * FROM t10 ORDER BY b",
      "ORDER BY is only supported when the partition key is restricted")
  }

  test("token-range restriction uses the real partitioner token") {
    val e = mkEngine
    e.execute("CREATE TABLE t11 (k bigint PRIMARY KEY, v int)")
    for (k <- 0 until 20) e.execute(s"INSERT INTO t11 (k, v) VALUES ($k, $k)")
    val all = e.execute("SELECT token(k), k FROM t11").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mid = all.map(_._1).sorted.apply(10)
    val got = rows(e.execute(s"SELECT k FROM t11 WHERE token(k) > $mid"))
    val want = all.filter(_._1 > mid).map(r => Seq[Any](r._2)).toSet
    assert(got === want)
    assert(got.size === 9)
  }

  test("SELECT JSON output") {
    val e = mkEngine
    e.execute("CREATE TABLE t12 (k int PRIMARY KEY, v text)")
    e.execute("INSERT INTO t12 (k, v) VALUES (1, 'hi')")
    val json = e.execute("SELECT JSON k, v FROM t12").head().getString(0)
    assert(json.contains("\"k\":1") && json.contains("\"v\":\"hi\""))
    // SELECT JSON applies to aggregate selects too (JsonTest countJson)
    val aggDf = e.execute("SELECT JSON count(*) FROM t12")
    assert(aggDf.columns.toSeq === Seq("[json]"))
    assert(aggDf.head().getString(0).contains("1"))
    val grpDf = e.execute("SELECT JSON k, count(*) FROM t12 GROUP BY k")
    assert(grpDf.columns.toSeq === Seq("[json]"))
    assert(grpDf.head().getString(0).contains("\"k\":1"))
  }

  test("TRUNCATE and composite partition keys") {
    val e = mkEngine
    e.execute("CREATE TABLE t13 (a int, b int, c int, d int, PRIMARY KEY ((a, b), c))")
    e.execute("INSERT INTO t13 (a, b, c, d) VALUES (1, 2, 3, 4)")
    assertInvalid(e, "SELECT * FROM t13 WHERE a = 1", "ALLOW FILTERING")
    assert(rows(e.execute("SELECT d FROM t13 WHERE a = 1 AND b = 2")) === Set(Seq(4)))
    e.execute("TRUNCATE t13")
    assert(e.execute("SELECT * FROM t13").count() === 0)
  }

  test("LWT: IF NOT EXISTS / IF EXISTS / IF col = val (InsertUpdateIfConditionTest)") {
    val e = mkEngine
    e.execute("CREATE TABLE t14 (k int PRIMARY KEY, v int)")
    assert(e.execute("INSERT INTO t14 (k, v) VALUES (1, 10) IF NOT EXISTS")
      .head().getBoolean(0) === true)
    assert(e.execute("INSERT INTO t14 (k, v) VALUES (1, 99) IF NOT EXISTS")
      .head().getBoolean(0) === false)
    assert(rows(e.execute("SELECT v FROM t14")) === Set(Seq(10)))
    assert(e.execute("UPDATE t14 SET v = 20 WHERE k = 1 IF v = 10")
      .head().getBoolean(0) === true)
    assert(e.execute("UPDATE t14 SET v = 30 WHERE k = 1 IF v = 10")
      .head().getBoolean(0) === false)
    assert(rows(e.execute("SELECT v FROM t14")) === Set(Seq(20)))
    assert(e.execute("DELETE FROM t14 WHERE k = 1 IF EXISTS").head().getBoolean(0) === true)
    assert(e.execute("DELETE FROM t14 WHERE k = 1 IF EXISTS").head().getBoolean(0) === false)
    assert(e.execute("SELECT * FROM t14").count() === 0)
  }

  test("LWT: element, UDT-field and IN conditions (ColumnCondition access)") {
    val e = mkEngine
    e.execute("CREATE TYPE cfg (mode text, level int)")
    e.execute("CREATE TABLE t14b (k int PRIMARY KEY, m map<text, int>, l list<int>, u frozen<cfg>, v int)")
    e.execute("INSERT INTO t14b (k, m, l, u, v) VALUES (1, {'a': 1, 'b': 2}, [10, 20], {mode: 'on', level: 3}, 7)")
    // map element conditions
    assert(e.execute("UPDATE t14b SET v = 8 WHERE k = 1 IF m['a'] = 1").head().getBoolean(0))
    assert(!e.execute("UPDATE t14b SET v = 9 WHERE k = 1 IF m['a'] = 2").head().getBoolean(0))
    // missing key compares as null: only = null / != x satisfy
    assert(!e.execute("UPDATE t14b SET v = 9 WHERE k = 1 IF m['zz'] = 1").head().getBoolean(0))
    assert(e.execute("UPDATE t14b SET v = 9 WHERE k = 1 IF m['zz'] != 1").head().getBoolean(0))
    // list index conditions (0-based), out-of-bounds = null
    assert(e.execute("UPDATE t14b SET v = 10 WHERE k = 1 IF l[1] = 20").head().getBoolean(0))
    assert(!e.execute("UPDATE t14b SET v = 11 WHERE k = 1 IF l[5] = 20").head().getBoolean(0))
    // UDT field conditions, including range ops on the field type
    assert(e.execute("UPDATE t14b SET v = 12 WHERE k = 1 IF u.mode = 'on'").head().getBoolean(0))
    assert(e.execute("UPDATE t14b SET v = 13 WHERE k = 1 IF u.level >= 3").head().getBoolean(0))
    assert(!e.execute("UPDATE t14b SET v = 14 WHERE k = 1 IF u.level > 3").head().getBoolean(0))
    // IN conditions: any listed value satisfies
    assert(e.execute("UPDATE t14b SET v = 15 WHERE k = 1 IF v IN (12, 13)").head().getBoolean(0))
    assert(!e.execute("UPDATE t14b SET v = 16 WHERE k = 1 IF v IN (1, 2)").head().getBoolean(0))
    assert(rows(e.execute("SELECT v FROM t14b")) === Set(Seq(15)))
    // element condition on a non-collection column is rejected
    assertInvalid(e, "UPDATE t14b SET v = 0 WHERE k = 1 IF v['x'] = 1", "Invalid element access")
  }

  test("BATCH applies mutations atomically with a shared timestamp") {
    val e = mkEngine
    e.execute("CREATE TABLE t15 (k int, c int, v int, PRIMARY KEY (k, c))")
    e.execute(
      """BEGIN BATCH
        |  INSERT INTO t15 (k, c, v) VALUES (1, 1, 10);
        |  INSERT INTO t15 (k, c, v) VALUES (1, 2, 20);
        |  UPDATE t15 SET v = 11 WHERE k = 1 AND c = 1;
        |APPLY BATCH""".stripMargin)
    // same default ts for the whole batch: UPDATE ties with INSERT on ts, so
    // cell reconcile keeps the higher value (11 > 10) — reference tie rule
    assert(rows(e.execute("SELECT c, v FROM t15 WHERE k = 1")) ===
      Set(Seq(1, 11), Seq(2, 20)))
  }

  test("conditional BATCH: all-or-nothing against one partition's pre-state") {
    val e = mkEngine
    e.execute("CREATE TABLE t15b (k int, c int, v int, PRIMARY KEY (k, c))")
    e.execute("INSERT INTO t15b (k, c, v) VALUES (1, 1, 10)")
    e.execute("INSERT INTO t15b (k, c, v) VALUES (1, 2, 20)")
    // both conditions hold → both mutations apply
    assert(e.execute(
      """BEGIN BATCH
        |  UPDATE t15b SET v = 11 WHERE k = 1 AND c = 1 IF v = 10;
        |  UPDATE t15b SET v = 21 WHERE k = 1 AND c = 2 IF v = 20;
        |APPLY BATCH""".stripMargin).head().getBoolean(0) === true)
    assert(rows(e.execute("SELECT c, v FROM t15b WHERE k = 1")) ===
      Set(Seq(1, 11), Seq(2, 21)))
    // ONE failing condition rejects the WHOLE batch (including the
    // unconditional statement); the result reports every conditioned
    // row's current values
    val failed = e.execute(
      """BEGIN BATCH
        |  UPDATE t15b SET v = 99 WHERE k = 1 AND c = 1 IF v = 11;
        |  UPDATE t15b SET v = 22 WHERE k = 1 AND c = 2 IF v = 20;
        |APPLY BATCH""".stripMargin).collect()
    assert(failed.forall(!_.getBoolean(0)))
    assert(failed.map(r => (r.getAs[Int]("c"), r.getAs[Int]("v"))).toSet ===
      Set((1, 11), (2, 21)))
    assert(rows(e.execute("SELECT c, v FROM t15b WHERE k = 1")) ===
      Set(Seq(1, 11), Seq(2, 21)))
    // IF NOT EXISTS inside a batch checks its own clustering row
    assert(e.execute(
      """BEGIN BATCH
        |  INSERT INTO t15b (k, c, v) VALUES (1, 3, 30) IF NOT EXISTS;
        |  UPDATE t15b SET v = 12 WHERE k = 1 AND c = 1 IF v = 11;
        |APPLY BATCH""".stripMargin).head().getBoolean(0) === true)
    assert(rows(e.execute("SELECT c, v FROM t15b WHERE k = 1")) ===
      Set(Seq(1, 12), Seq(2, 21), Seq(3, 30)))
    // conditions across partitions are rejected
    assertInvalid(e,
      """BEGIN BATCH
        |  UPDATE t15b SET v = 0 WHERE k = 1 AND c = 1 IF v = 12;
        |  UPDATE t15b SET v = 0 WHERE k = 2 AND c = 1 IF v = 1;
        |APPLY BATCH""".stripMargin, "multiple partitions")
    // counters have no CAS semantics
    e.execute("CREATE TABLE t15c (k int PRIMARY KEY, n counter)")
    assertInvalid(e,
      """BEGIN BATCH
        |  UPDATE t15c SET n = n + 1 WHERE k = 1 IF EXISTS;
        |APPLY BATCH""".stripMargin, "counter statement in a conditional batch")
  }

  test("secondary index allows EQ on a regular column without ALLOW FILTERING") {
    val e = mkEngine
    e.execute("CREATE TABLE t16 (k int PRIMARY KEY, v int, w int)")
    for (k <- 0 until 10) e.execute(s"INSERT INTO t16 (k, v, w) VALUES ($k, ${k % 3}, $k)")
    assertInvalid(e, "SELECT k FROM t16 WHERE v = 1", "ALLOW FILTERING")
    e.execute("CREATE INDEX ON t16 (v)")
    assert(rows(e.execute("SELECT k FROM t16 WHERE v = 1")) ===
      Set(Seq(1), Seq(4), Seq(7)))
    // a second non-indexed restriction still needs filtering
    assertInvalid(e, "SELECT k FROM t16 WHERE v = 1 AND w = 4", "ALLOW FILTERING")
    assert(rows(e.execute("SELECT k FROM t16 WHERE v = 1 AND w = 4 ALLOW FILTERING")) ===
      Set(Seq(4)))
  }

  test("collections: frozen list/set/map, CONTAINS, element selection (CollectionsTest)") {
    val e = mkEngine
    e.execute("CREATE TABLE t17 (k int PRIMARY KEY, l list<int>, st set<text>, m map<text, int>)")
    e.execute("INSERT INTO t17 (k, l, st, m) VALUES (1, [3, 1, 3], {'b', 'a', 'b'}, {'x': 1, 'y': 2})")
    e.execute("INSERT INTO t17 (k, l, st, m) VALUES (2, [9], {'c'}, {'x': 9})")
    // lists keep order/dups; sets are sorted + deduped
    val r = e.execute("SELECT l, st FROM t17 WHERE k = 1").head()
    assert(r.getSeq[Int](0) === Seq(3, 1, 3))
    assert(r.getSeq[String](1) === Seq("a", "b"))
    // CONTAINS / CONTAINS KEY need ALLOW FILTERING, then work
    assertInvalid(e, "SELECT k FROM t17 WHERE st CONTAINS 'a'", "ALLOW FILTERING")
    assert(rows(e.execute("SELECT k FROM t17 WHERE st CONTAINS 'a' ALLOW FILTERING")) ===
      Set(Seq(1)))
    assert(rows(e.execute("SELECT k FROM t17 WHERE m CONTAINS KEY 'y' ALLOW FILTERING")) ===
      Set(Seq(1)))
    assert(rows(e.execute("SELECT k FROM t17 WHERE m CONTAINS 9 ALLOW FILTERING")) ===
      Set(Seq(2)))
    assert(rows(e.execute("SELECT k FROM t17 WHERE l CONTAINS 3 ALLOW FILTERING")) ===
      Set(Seq(1)))
    // element selection: map by key, list by 0-based index
    assert(rows(e.execute("SELECT m['y'] FROM t17 WHERE k = 1")) === Set(Seq(2)))
    assert(rows(e.execute("SELECT l[0] FROM t17 WHERE k = 1")) === Set(Seq(3)))
    // frozen full-replacement write semantics
    e.execute("UPDATE t17 SET m = {'z': 7} WHERE k = 1")
    assert(rows(e.execute("SELECT m['z'], m['x'] FROM t17 WHERE k = 1")) ===
      Set(Seq(7, null)))
  }

  test("token restriction over a composite partition key") {
    val e = mkEngine
    e.execute("CREATE TABLE t18 (a bigint, b int, v int, PRIMARY KEY ((a, b)))")
    e.execute("INSERT INTO t18 (a, b, v) VALUES (1, 2, 42)")
    e.execute("INSERT INTO t18 (a, b, v) VALUES (3, 4, 43)")
    // token(1,2) = -5927342534679261077 (vector cross-checked in TokenSpec)
    assert(rows(e.execute(
      "SELECT v FROM t18 WHERE token(a, b) = -5927342534679261077")) === Set(Seq(42)))
    assertInvalid(e, "SELECT v FROM t18 WHERE token(b, a) = 0",
      "token function arguments must be in the partition key order")
  }

  test("counter columns: delta sums, validation (CountersTest)") {
    val e = mkEngine
    e.execute("CREATE TABLE t19 (k int PRIMARY KEY, c counter)")
    e.execute("UPDATE t19 SET c = c + 5 WHERE k = 1")
    e.execute("UPDATE t19 SET c = c + 3 WHERE k = 1")
    e.execute("UPDATE t19 SET c = c - 2 WHERE k = 1")
    e.execute("UPDATE t19 SET c = c + 7 WHERE k = 2")
    assert(rows(e.execute("SELECT k, c FROM t19")) === Set(Seq(1, 6L), Seq(2, 7L)))
    // aggregate over counters reads as bigint
    assert(e.execute("SELECT sum(c) FROM t19").head().getLong(0) === 13L)
    assertInvalid(e, "UPDATE t19 SET c = 5 WHERE k = 1",
      "Cannot set the value of counter column")
    assertInvalid(e, "INSERT INTO t19 (k, c) VALUES (3, 1)",
      "INSERT statements are not allowed on counter tables")
    // delete removes the counter row
    e.execute("DELETE FROM t19 WHERE k = 1")
    assert(rows(e.execute("SELECT k, c FROM t19")) === Set(Seq(2, 7L)))
  }

  test("a row DELETE shadows the counter deltas before it, wherever flush and compaction fall") {
    // no cut, then a flush or a compaction after each statement
    val placements = Seq(None) ++ (0 until 3).flatMap(i => Seq(Some(i -> "flush"), Some(i -> "compact")))
    placements.foreach { cut =>
      val e = mkEngine
      e.attachStorage(java.nio.file.Files.createTempDirectory("graft-cql-counter").toString)
      e.execute("CREATE TABLE t19d (k int, c int, n counter, PRIMARY KEY (k, c))")
      Seq("UPDATE t19d SET n = n + 5 WHERE k = 1 AND c = 1",
        "DELETE FROM t19d WHERE k = 1 AND c = 1",
        "UPDATE t19d SET n = n + 7 WHERE k = 1 AND c = 1").zipWithIndex.foreach { case (st, i) =>
        e.execute(st)
        cut.filter(_._1 == i).foreach(c => if (c._2 == "flush") e.flush("t19d") else e.compact("t19d"))
      }
      assert(rows(e.execute("SELECT k, c, n FROM t19d")) === Set(Seq(1, 1, 7L)), s"cut: $cut")
    }
  }

  test("LIKE: SASI prefix/suffix/contains semantics") {
    val e = mkEngine
    e.execute("CREATE TABLE t20 (k int PRIMARY KEY, v text)")
    e.execute("INSERT INTO t20 (k, v) VALUES (1, 'apple pie')")
    e.execute("INSERT INTO t20 (k, v) VALUES (2, 'crab apple')")
    e.execute("INSERT INTO t20 (k, v) VALUES (3, 'cherry')")
    assertInvalid(e, "SELECT k FROM t20 WHERE v LIKE 'apple%'", "ALLOW FILTERING")
    assert(rows(e.execute("SELECT k FROM t20 WHERE v LIKE 'apple%' ALLOW FILTERING")) ===
      Set(Seq(1)))
    assert(rows(e.execute("SELECT k FROM t20 WHERE v LIKE '%apple' ALLOW FILTERING")) ===
      Set(Seq(2)))
    assert(rows(e.execute("SELECT k FROM t20 WHERE v LIKE '%app%' ALLOW FILTERING")) ===
      Set(Seq(1), Seq(2)))
    // a SASI custom index serves LIKE without filtering; a plain 2i
    // does NOT (SASIIndex.java is the only LIKE-capable index)
    e.execute("CREATE INDEX ON t20 (v)")
    assertInvalid(e, "SELECT k FROM t20 WHERE v LIKE 'che%'", "ALLOW FILTERING")
    e.execute("CREATE CUSTOM INDEX t20_v_sasi ON t20 (v) " +
      "USING 'org.apache.cassandra.index.sasi.SASIIndex' WITH OPTIONS = {'mode': 'CONTAINS'}")
    assert(rows(e.execute("SELECT k FROM t20 WHERE v LIKE 'che%'")) === Set(Seq(3)))
  }

  test("INSERT JSON round-trips through SELECT JSON (JsonTest)") {
    val e = mkEngine
    e.execute("CREATE TABLE t21 (k int PRIMARY KEY, v text, d double)")
    e.execute("""INSERT INTO t21 JSON '{"k": 1, "v": "hi", "d": 2.5}'""")
    assert(rows(e.execute("SELECT k, v, d FROM t21")) === Set(Seq(1, "hi", 2.5)))
    val js = e.execute("SELECT JSON k, v, d FROM t21").head().getString(0)
    assert(js.contains("\"k\":1") && js.contains("\"v\":\"hi\"") && js.contains("\"d\":2.5"))
    assertInvalid(e, "INSERT INTO t21 JSON 'not json'", "Could not decode JSON string")
    // DEFAULT NULL is the default: omitted columns are deleted by the new row
    e.execute("""INSERT INTO t21 JSON '{"k": 1, "v": "replaced"}'""")
    assert(rows(e.execute("SELECT v, d FROM t21 WHERE k = 1")) === Set(Seq("replaced", null)))
    // DEFAULT UNSET leaves omitted columns untouched
    e.execute("""INSERT INTO t21 JSON '{"k": 1, "d": 9.5}' DEFAULT UNSET""")
    assert(rows(e.execute("SELECT v, d FROM t21 WHERE k = 1")) === Set(Seq("replaced", 9.5)))
  }

  test("multi-cell collections: append/prepend/add/remove/put/delkey (CollectionsTest)") {
    val e = mkEngine
    e.execute("CREATE TABLE t22 (k int PRIMARY KEY, l list<int>, st set<text>, m map<text, int>)")
    e.execute("INSERT INTO t22 (k, l, st, m) VALUES (1, [1, 2], {'a'}, {'x': 1})")
    e.execute("UPDATE t22 SET l = l + [3, 2] WHERE k = 1")     // append (dups kept)
    e.execute("UPDATE t22 SET l = [0] + l WHERE k = 1")        // prepend
    e.execute("UPDATE t22 SET st = st + {'c', 'b'} WHERE k = 1")
    e.execute("UPDATE t22 SET st = st - {'a'} WHERE k = 1")
    e.execute("UPDATE t22 SET m = m + {'y': 2} WHERE k = 1")
    e.execute("UPDATE t22 SET m['x'] = 9 WHERE k = 1")          // element put wins
    val r = e.execute("SELECT l, st, m FROM t22 WHERE k = 1").head()
    assert(r.getSeq[Int](0) === Seq(0, 1, 2, 3, 2))
    assert(r.getSeq[String](1) === Seq("b", "c"))
    assert(r.getMap[String, Int](2).toMap === Map("x" -> 9, "y" -> 2))
    // list remove drops ALL occurrences, keeps order
    e.execute("UPDATE t22 SET l = l - [2] WHERE k = 1")
    assert(e.execute("SELECT l FROM t22 WHERE k = 1").head().getSeq[Int](0) === Seq(0, 1, 3))
    // map key delete
    e.execute("DELETE m['x'] FROM t22 WHERE k = 1")
    assert(e.execute("SELECT m FROM t22 WHERE k = 1").head()
      .getMap[String, Int](0).toMap === Map("y" -> 2))
    // += / -= shorthand (Parser.g shorthandColumnOperation)
    e.execute("UPDATE t22 SET l += [8] WHERE k = 1")
    e.execute("UPDATE t22 SET l -= [0] WHERE k = 1")
    assert(e.execute("SELECT l FROM t22 WHERE k = 1").head().getSeq[Int](0) === Seq(1, 3, 8))
    e.execute("UPDATE t22 SET m += {'z': 5} WHERE k = 1")
    assert(e.execute("SELECT m FROM t22 WHERE k = 1").head()
      .getMap[String, Int](0).toMap === Map("y" -> 2, "z" -> 5))
    // per-field writes on (frozen) UDT columns are rejected
    assertInvalid(e, "UPDATE t22 SET m.x = 1 WHERE k = 1", "frozen UDT")
    // full replacement clears prior elements; empty collection reads as null
    e.execute("UPDATE t22 SET st = {'z'} WHERE k = 1")
    assert(e.execute("SELECT st FROM t22 WHERE k = 1").head().getSeq[String](0) === Seq("z"))
    e.execute("UPDATE t22 SET st = st - {'z'} WHERE k = 1")
    assert(e.execute("SELECT st FROM t22 WHERE k = 1").head().isNullAt(0))
    // writetime on multi-cell LISTS returns a per-position list
    // (CqlCollWritetimeSpec covers the stamp semantics)
    assert(e.execute("SELECT writetime(l) FROM t22").count() === 1)
    // out-of-order timestamps: older append lands in timestamp order
    e.execute("CREATE TABLE t23 (k int PRIMARY KEY, l list<int>)")
    e.execute("INSERT INTO t23 (k, l) VALUES (1, [5]) USING TIMESTAMP 100")
    e.execute("UPDATE t23 USING TIMESTAMP 300 SET l = l + [7] WHERE k = 1")
    e.execute("UPDATE t23 USING TIMESTAMP 200 SET l = l + [6] WHERE k = 1")
    assert(e.execute("SELECT l FROM t23 WHERE k = 1").head().getSeq[Int](0) === Seq(5, 6, 7))
  }

  test("prepared statements: digest cache + positional binds (QueryProcessor)") {
    val e = mkEngine
    val ps = new graft.cql.PreparedStatements(e)
    e.execute("CREATE TABLE t24 (k int, c int, v text, PRIMARY KEY (k, c))")
    val ins = ps.prepare("INSERT INTO t24 (k, c, v) VALUES (?, ?, ?)")
    for (i <- 0 until 5) ps.execute(ins.id, 1, i, s"v$i")
    val sel = ps.prepare("SELECT v FROM t24 WHERE k = ? AND c >= ? LIMIT 2")
    assert(rowsInOrder(ps.execute(sel.id, 1, 2)) === Seq(Seq("v2"), Seq("v3")))
    // same CQL string → same cached id
    assert(ps.prepare("INSERT INTO t24 (k, c, v) VALUES (?, ?, ?)").id === ins.id)
    // wrong arity rejected
    val ex = intercept[RuntimeException](ps.execute(sel.id, 1))
    assert(ex.getMessage.contains("Invalid amount of bind variables"))
    // unknown id rejected
    val ex2 = intercept[RuntimeException](ps.execute("deadbeef", 1))
    assert(ex2.getMessage.contains("Prepared query with ID"))
  }

  test("durable mutation-log segments: flush, merge, reopen (commit-log analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cql-store").toString
    val e = mkEngine
    e.attachStorage(dir)
    e.execute("CREATE TABLE t25 (k int, c int, v text, PRIMARY KEY (k, c))")
    e.execute("INSERT INTO t25 (k, c, v) VALUES (1, 1, 'a')")
    e.execute("INSERT INTO t25 (k, c, v) VALUES (1, 2, 'b')")
    e.flush("t25")                                     // segment 1
    e.execute("UPDATE t25 SET v = 'a2' WHERE k = 1 AND c = 1")
    e.execute("DELETE FROM t25 WHERE k = 1 AND c = 2") // tail mutations
    // reads merge flushed segments with the in-memory tail
    assert(rows(e.execute("SELECT k, c, v FROM t25")) === Set(Seq(1, 1, "a2")))
    e.flush("t25")                                     // segment 2
    assert(rows(e.execute("SELECT k, c, v FROM t25")) === Set(Seq(1, 1, "a2")))
    // a brand-new engine over the same storage sees schema + data
    val e2 = mkEngine
    e2.attachStorage(dir)
    assert(rows(e2.execute("SELECT k, c, v FROM t25")) === Set(Seq(1, 1, "a2")))
    // and LWW keeps working across the storage boundary
    e2.execute("UPDATE t25 USING TIMESTAMP 1 SET v = 'stale' WHERE k = 1 AND c = 1")
    assert(rows(e2.execute("SELECT v FROM t25")) === Set(Seq("a2")))
  }

  test("conditional BATCH: conditioned DELETE must bind the full primary key") {
    val e = mkEngine
    e.execute("CREATE TABLE t26 (k int, c int, v int, PRIMARY KEY (k, c))")
    e.execute("INSERT INTO t26 (k, c, v) VALUES (1, 1, 10)")
    e.execute("INSERT INTO t26 (k, c, v) VALUES (1, 2, 20)")
    // a conditioned DELETE without its clustering key would match every row
    // in the partition — the reference requires the full PRIMARY KEY to be
    // EQ-restricted for IF conditions (CQL3CasRequest.addConditions)
    assertInvalid(e,
      """BEGIN BATCH
        |  DELETE FROM t26 WHERE k = 1 IF v = 10;
        |APPLY BATCH""".stripMargin, "clustering keys are missing")
    // fully-bound conditioned delete addresses exactly its row
    assert(e.execute(
      """BEGIN BATCH
        |  DELETE FROM t26 WHERE k = 1 AND c = 2 IF v = 20;
        |APPLY BATCH""".stripMargin).head().getBoolean(0))
    assert(rows(e.execute("SELECT c, v FROM t26")) === Set(Seq(1, 10)))
    // an UNconditioned partition delete in a CAS batch is still legal
    // (CQL3CasRequest.addRangeDeletion)
    assert(e.execute(
      """BEGIN BATCH
        |  UPDATE t26 SET v = 11 WHERE k = 1 AND c = 1 IF v = 10;
        |  DELETE FROM t26 WHERE k = 1;
        |APPLY BATCH""".stripMargin).head().getBoolean(0))
    // shared batch timestamp: the partition delete ties the update and wins
    assert(e.execute("SELECT * FROM t26").count() === 0)
  }

  test("PER PARTITION LIMIT + GROUP BY: EQ-restricted pk implicitly grouped, DESC clustering order") {
    val e = mkEngine
    e.execute("CREATE TABLE t27 (a int, b int, v int, PRIMARY KEY (a, b)) " +
      "WITH CLUSTERING ORDER BY (b DESC)")
    for (a <- 0 until 2; b <- 0 until 3)
      e.execute(s"INSERT INTO t27 (a, b, v) VALUES ($a, $b, 1)")
    // partition key EQ-restricted in WHERE and skipped in GROUP BY — the
    // same gap rule the plain GROUP BY validation allows
    assert(rows(e.execute(
      "SELECT b, count(*) FROM t27 WHERE a = 1 GROUP BY b PER PARTITION LIMIT 2")) ===
      Set(Seq(2, 1L), Seq(1, 1L)))
    // DESC clustering: the FIRST groups per partition follow clustering
    // order, so b = 2 and b = 1 survive (not b = 0 and b = 1)
    assert(rows(e.execute(
      "SELECT a, b, count(*) FROM t27 GROUP BY a, b PER PARTITION LIMIT 2"))
      .map(r => (r(0), r(1))) ===
      Set((0, 2), (0, 1), (1, 2), (1, 1)))
  }

  test("failed static-only CAS reports the partition's FIRST live row only") {
    // CQL3CasRequest.readCommand:191-200: with only static conditions the
    // read is a limit-1 slice over the partition (first live row in
    // clustering order), so that's what a failed CAS reports — not every
    // row of the partition
    val e = mkEngine
    e.execute("CREATE TABLE t29 (k int, c int, s int static, v int, PRIMARY KEY (k, c))")
    for (c <- 1 to 3) e.execute(s"INSERT INTO t29 (k, c, v) VALUES (1, $c, ${c * 10})")
    e.execute("UPDATE t29 SET s = 5 WHERE k = 1")
    val res = e.execute(
      """BEGIN BATCH
        |  UPDATE t29 SET s = 9 WHERE k = 1 IF s = 99;
        |APPLY BATCH""".stripMargin).collect()
    assert(!res.head.getBoolean(0))
    assert(res.length === 1, s"one reported row, got ${res.length}")
    assert(res.head.getAs[Int]("c") === 1, "first row in clustering order")
    // DESC clustering: the first live row is the HIGHEST clustering value
    e.execute("CREATE TABLE t29d (k int, c int, s int static, v int, " +
      "PRIMARY KEY (k, c)) WITH CLUSTERING ORDER BY (c DESC)")
    for (c <- 1 to 3) e.execute(s"INSERT INTO t29d (k, c, v) VALUES (1, $c, $c)")
    val resD = e.execute(
      """BEGIN BATCH
        |  UPDATE t29d SET s = 9 WHERE k = 1 IF s = 99;
        |APPLY BATCH""".stripMargin).collect()
    assert(!resD.head.getBoolean(0) && resD.length === 1)
    assert(resD.head.getAs[Int]("c") === 3, "DESC clustering reads c=3 first")
    // an applying static CAS still applies
    val ok = e.execute(
      """BEGIN BATCH
        |  UPDATE t29 SET s = 7 WHERE k = 1 IF s = 5;
        |APPLY BATCH""".stripMargin).collect()
    assert(ok.head.getBoolean(0))
    assert(e.execute("SELECT s FROM t29 WHERE k = 1 LIMIT 1").collect()
      .head.getInt(0) === 7)
  }

  test("PER PARTITION LIMIT + GROUP BY floor() follows the source clustering direction") {
    val e = mkEngine
    e.execute("CREATE TABLE t28 (k int, t timestamp, v int, PRIMARY KEY (k, t)) " +
      "WITH CLUSTERING ORDER BY (t DESC)")
    for (k <- 0 until 2; h <- Seq(1, 5, 13, 18, 25))
      e.execute(f"INSERT INTO t28 (k, t, v) VALUES ($k, '2020-01-0${h / 24 + 1}%d ${h % 24}%02d:00:00Z', 1)")
    // 12h buckets per partition: 00:00, 12:00 (day 1), 00:00 (day 2); a
    // DESC clustering read visits the HIGHEST buckets first, so PPL 2
    // keeps day-2 00:00 and day-1 12:00 — not the two lowest
    val got = rows(e.execute(
      "SELECT k, floor(t, 12h) AS bucket, count(*) AS n " +
        "FROM t28 GROUP BY k, floor(t, 12h) PER PARTITION LIMIT 2"))
      .map(r => (r(0), r(1).asInstanceOf[java.sql.Timestamp].toInstant.toString))
    assert(got === Set(
      (0, "2020-01-02T00:00:00Z"), (0, "2020-01-01T12:00:00Z"),
      (1, "2020-01-02T00:00:00Z"), (1, "2020-01-01T12:00:00Z")))
  }

  test("composite pk: EQ + IN with multi-column ORDER BY and LIMIT " +
    "(SelectOrderByTest.testOrderByForInClause:324-375 golden rows)") {
    val e = mkEngine
    e.execute("CREATE TABLE cob (pk1 int, pk2 int, c1 int, c2 int, v text, " +
      "PRIMARY KEY ((pk1, pk2), c1, c2))")
    Seq((1, 1, 4, 4, "A"), (1, 2, 1, 2, "B"), (1, 3, 3, 3, "C"), (1, 1, 4, 1, "D"))
      .foreach { case (p1, p2, c1, c2, v) =>
        e.execute(s"INSERT INTO cob (pk1, pk2, c1, c2, v) VALUES ($p1, $p2, $c1, $c2, '$v')")
      }
    assert(rowsInOrder(e.execute(
      "SELECT v, ttl(v), c1, c2 FROM cob WHERE pk1 = 1 AND pk2 IN (1, 2) ORDER BY c1, c2")) ===
      Seq(Seq("B", null, 1, 2), Seq("D", null, 4, 1), Seq("A", null, 4, 4)))
    assert(rowsInOrder(e.execute(
      "SELECT v FROM cob WHERE pk1 = 1 AND pk2 IN (1, 2) ORDER BY c1, c2 LIMIT 2")) ===
      Seq(Seq("B"), Seq("D")))
    assert(rowsInOrder(e.execute(
      "SELECT v FROM cob WHERE pk1 = 1 AND pk2 IN (1, 2) ORDER BY c1 DESC, c2 DESC")) ===
      Seq(Seq("A"), Seq("D"), Seq("B")))
    assert(rowsInOrder(e.execute(
      "SELECT v FROM cob WHERE pk1 = 1 AND pk2 IN (1, 2) ORDER BY c1 DESC, c2 DESC LIMIT 2")) ===
      Seq(Seq("A"), Seq("D")))
  }

  test("IN + ORDER BY over a static-only partition: null clustering sorts " +
    "first ASC / last DESC (SelectOrderByTest.testOrderByForInClauseWithNullValue)") {
    val e = mkEngine
    e.execute("CREATE TABLE sob (a int, b int, c int, s int static, d int, PRIMARY KEY (a, b, c))")
    Seq((1, 1, 1, 1), (1, 1, 2, 1), (2, 2, 1, 1), (2, 2, 2, 1)).foreach { case (a, b, c, d) =>
      e.execute(s"INSERT INTO sob (a, b, c, d) VALUES ($a, $b, $c, $d)")
    }
    e.execute("UPDATE sob SET s = 1 WHERE a = 1")
    e.execute("UPDATE sob SET s = 2 WHERE a = 2")
    e.execute("UPDATE sob SET s = 3 WHERE a = 3")
    assert(rowsInOrder(e.execute(
      "SELECT a, b, c, d, s FROM sob WHERE a IN (1, 2, 3) ORDER BY b DESC")) ===
      Seq(Seq(2, 2, 2, 1, 2), Seq(2, 2, 1, 1, 2), Seq(1, 1, 2, 1, 1),
        Seq(1, 1, 1, 1, 1), Seq(3, null, null, null, 3)))
    assert(rowsInOrder(e.execute(
      "SELECT a, b, c, d, s FROM sob WHERE a IN (1, 2, 3) ORDER BY b ASC, c ASC")) ===
      Seq(Seq(3, null, null, null, 3), Seq(1, 1, 1, 1, 1), Seq(1, 1, 2, 1, 1),
        Seq(2, 2, 1, 1, 2), Seq(2, 2, 2, 1, 2)))
  }

  test("ORDER BY works on pk types the token expression cannot serialize (decimal pk)") {
    // ring-order tie-break degrades to pk-value order for such types
    // instead of refusing the query (documented deviation in ringOrder)
    val e = mkEngine
    e.execute("CREATE TABLE dpk (k decimal, c int, v int, PRIMARY KEY (k, c))")
    e.execute("INSERT INTO dpk (k, c, v) VALUES (1.5, 2, 20)")
    e.execute("INSERT INTO dpk (k, c, v) VALUES (1.5, 1, 10)")
    assert(rowsInOrder(e.execute("SELECT c, v FROM dpk WHERE k = 1.5 ORDER BY c DESC")) ===
      Seq(Seq(2, 20), Seq(1, 10)))
  }

  test("grouped ORDER BY: trailing grouped clustering columns tie-break in the reversed-read direction") {
    // groups (1,2,1) and (1,2,2) tie on ORDER BY b DESC; the reversed read
    // emits them c DESC — the grouped analog of the plain path's restPart
    val e = mkEngine
    e.execute("CREATE TABLE gtt (a int, b int, c int, v int, PRIMARY KEY (a, b, c))")
    Seq((1, 2, 1, 10), (1, 2, 2, 20), (1, 3, 1, 30)).foreach { case (a, b, c, v) =>
      e.execute(s"INSERT INTO gtt (a, b, c, v) VALUES ($a, $b, $c, $v)")
    }
    assert(rowsInOrder(e.execute(
      "SELECT a, b, c, count(*) FROM gtt WHERE a = 1 GROUP BY a, b, c ORDER BY b DESC")) ===
      Seq(Seq(1, 3, 1, 1L), Seq(1, 2, 2, 1L), Seq(1, 2, 1, 1L)))
  }

  test("GROUP BY + ORDER BY + PER PARTITION LIMIT keeps the cross-partition sort after the group cap") {
    // the group-PPL window repartitions by pk; the final sort must run
    // AFTER it or rows come back in hash-partition order
    val e = mkEngine
    e.execute("CREATE TABLE gpo (a int, b int, c int, PRIMARY KEY (a, b))")
    Seq((1, 1), (1, 3), (2, 2), (2, 4), (4, 5), (4, 8)).foreach { case (a, b) =>
      e.execute(s"INSERT INTO gpo (a, b, c) VALUES ($a, $b, $b)")
    }
    // reversed read keeps the HIGHEST b group per partition; output
    // interleaves those by b DESC across partitions
    assert(rowsInOrder(e.execute(
      "SELECT a, b, count(b) FROM gpo WHERE a IN (1, 2, 4) " +
        "GROUP BY a, b ORDER BY b DESC PER PARTITION LIMIT 1")) ===
      Seq(Seq(4, 8, 1L), Seq(2, 4, 1L), Seq(1, 3, 1L)))
  }

  test("ORDER BY a floor-grouped timeuuid clustering sorts by the bucket value") {
    // the group key holds the BUCKET (a timestamp), not the source
    // timeuuid — it must not be re-wrapped in timeuuid_sort_key
    val e = mkEngine
    e.execute("CREATE TABLE ftu (k int, tu timeuuid, v int, PRIMARY KEY (k, tu))")
    for (ms <- Seq(1000L, 3601000L, 7201000L)) // three distinct 1h buckets
      e.execute(s"INSERT INTO ftu (k, tu, v) VALUES (1, " +
        s"${graft.functions.TimeUuid.minTimeUuid(ms)}, 1)")
    val got = rowsInOrder(e.execute(
      "SELECT floor(tu, 1h) AS bucket, count(*) AS n FROM ftu " +
        "WHERE k = 1 GROUP BY k, floor(tu, 1h) ORDER BY tu DESC"))
      .map(r => (r(0).asInstanceOf[java.sql.Timestamp].toInstant.toString, r(1)))
    assert(got === Seq(("1970-01-01T02:00:00Z", 1L),
      ("1970-01-01T01:00:00Z", 1L), ("1970-01-01T00:00:00Z", 1L)))
  }
}
