package graft

import graft.cql.CqlEngine

/** Compaction checkpoint: `compact(table)` persists the reconcile STATE;
  * reads afterwards aggregate only the post-compact tail and must be
  * indistinguishable from the full-log reconcile (the reference's
  * compacted-sstables + memtable read shape, `db/compaction`).
  */
class CqlCompactSpec extends SparkSpec {

  def mkEngine(dir: String): CqlEngine = {
    val e = new CqlEngine(spark)
    e.attachStorage(dir)
    e
  }

  /** A part (rows, pdel, ...) of the table's live checkpoint generation. */
  def livePart(dir: String, table: String, part: String): String =
    graft.cql.Storage.checkpointPart(dir, table, part)

  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-compact").toString

  def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case m: scala.collection.Map[_, _] => m.toMap
      case v => v
    }).toSet

  test("read-after-compact equals full-log reconcile (LWW + tombstones)") {
    val e = mkEngine(tmpDir())
    e.execute("CREATE TABLE ct1 (a int, b int, c int, PRIMARY KEY (a, b))")
    for (a <- 0 until 3; b <- 0 until 3)
      e.execute(s"INSERT INTO ct1 (a, b, c) VALUES ($a, $b, ${a * 10 + b})")
    e.execute("UPDATE ct1 SET c = 99 WHERE a = 0 AND b = 0")
    e.execute("DELETE FROM ct1 WHERE a = 1 AND b = 1")   // row tombstone
    e.execute("DELETE c FROM ct1 WHERE a = 1 AND b = 2") // cell tombstone
    e.execute("DELETE FROM ct1 WHERE a = 2")             // partition tombstone
    val before = rows(e.execute("SELECT a, b, c FROM ct1"))
    e.compact("ct1")
    assert(rows(e.execute("SELECT a, b, c FROM ct1")) === before)
    // post-compact writes reconcile against the checkpoint
    e.execute("UPDATE ct1 SET c = 7 WHERE a = 0 AND b = 1")
    e.execute("INSERT INTO ct1 (a, b, c) VALUES (2, 5, 5)") // revive deleted partition
    e.execute("DELETE FROM ct1 WHERE a = 0 AND b = 0")      // delete checkpointed row
    assert(rows(e.execute("SELECT a, b, c FROM ct1")) ===
      Set(Seq(0, 1, 7), Seq(0, 2, 2), Seq(1, 0, 10), Seq(1, 2, null), Seq(2, 5, 5)))
    // out-of-order write below the checkpointed partition tombstone stays dead
    e.execute("INSERT INTO ct1 (a, b, c) VALUES (2, 6, 6) USING TIMESTAMP 1")
    assert(!rows(e.execute("SELECT a, b, c FROM ct1")).contains(Seq(2, 6, 6)))
  }

  test("collections, counters and statics survive compaction") {
    val e = mkEngine(tmpDir())
    e.execute("CREATE TABLE ct2 (k int, c int, s text static, l list<int>, st set<int>, m map<text, int>, PRIMARY KEY (k, c))")
    e.execute("INSERT INTO ct2 (k, c, s, l, st, m) VALUES (1, 1, 'stat', [1, 2], {5, 3}, {'a': 1})")
    e.execute("UPDATE ct2 SET l = l + [3], st = st + {9}, m['b'] = 2 WHERE k = 1 AND c = 1")
    val before = rows(e.execute("SELECT k, c, s, l, st, m FROM ct2"))
    e.compact("ct2")
    assert(rows(e.execute("SELECT k, c, s, l, st, m FROM ct2")) === before)
    // collection ops after compact fold onto the checkpointed op list
    e.execute("UPDATE ct2 SET l[0] = 100, st = st - {3}, m['a'] = 11 WHERE k = 1 AND c = 1")
    val after = rows(e.execute("SELECT l, st, m FROM ct2"))
    assert(after === Set(Seq(List(100, 2, 3), List(5, 9), Map("a" -> 11, "b" -> 2))))
    // counters keep summing across the checkpoint
    e.execute("CREATE TABLE ct3 (k int PRIMARY KEY, n counter)")
    e.execute("UPDATE ct3 SET n = n + 5 WHERE k = 1")
    e.compact("ct3")
    e.execute("UPDATE ct3 SET n = n + 2 WHERE k = 1")
    assert(rows(e.execute("SELECT k, n FROM ct3")) === Set(Seq(1, 7L)))
  }

  test("TTL'd cells expire after the checkpoint was written") {
    val e = mkEngine(tmpDir())
    e.nowMicros = 1000000L
    e.execute("CREATE TABLE ct4 (k int PRIMARY KEY, v int, w int)")
    e.execute("INSERT INTO ct4 (k, v, w) VALUES (1, 1, 1)")
    e.execute("UPDATE ct4 USING TTL 10 SET w = 2 WHERE k = 1")
    e.compact("ct4")
    assert(rows(e.execute("SELECT k, v, w FROM ct4")) === Set(Seq(1, 1, 2)))
    // advance past expiry: the checkpointed cell must die at read time
    e.nowMicros += 11000000L
    assert(rows(e.execute("SELECT k, v, w FROM ct4")) === Set(Seq(1, 1, null)))
  }

  test("compact physically purges fully TTL-expired rows once gc_grace passes " +
    "(CompactionController purge evaluator; CASSANDRA-14092 expiration handling)") {
    val dir = tmpDir()
    val e = mkEngine(dir)
    e.nowMicros = 1000000L
    e.execute("CREATE TABLE ct6 (k int PRIMARY KEY, v int) WITH gc_grace_seconds = 0")
    for (k <- 1 to 4) e.execute(s"INSERT INTO ct6 (k, v) VALUES ($k, $k) USING TTL 10")
    e.execute("INSERT INTO ct6 (k, v) VALUES (5, 5)") // no TTL — survives
    e.compact("ct6")
    // nothing expired yet: all five rows checkpointed
    assert(spark.read.parquet(livePart(dir, "ct6", "rows")).count() === 5)
    e.nowMicros += 11000000L
    // reads already hide the expired rows...
    assert(rows(e.execute("SELECT k, v FROM ct6")) === Set(Seq(5, 5)))
    e.compact("ct6")
    // ...and with gc_grace elapsed (0 here) a compact physically drops them
    assert(spark.read.parquet(livePart(dir, "ct6", "rows")).count() === 1)
    assert(rows(e.execute("SELECT k, v FROM ct6")) === Set(Seq(5, 5)))
    // an explicit DELETE's tombstone purges too once past gc_grace (0
    // here): with every older input consumed by the compaction it shadows
    // nothing still in storage (CompactionController purge evaluator)
    e.execute("DELETE FROM ct6 WHERE k = 5")
    e.compact("ct6")
    assert(spark.read.parquet(livePart(dir, "ct6", "rows")).count() === 0)
    assert(e.execute("SELECT k, v FROM ct6").count() === 0)
  }

  test("explicit tombstones purge only after gc_grace; pre-grace they keep " +
    "shadowing late USING TIMESTAMP writes (CompactionController purge evaluator)") {
    val dir = tmpDir()
    val e = mkEngine(dir)
    e.nowMicros = 1000000L
    e.execute("CREATE TABLE tp1 (k int, c int, v int, PRIMARY KEY (k, c)) WITH gc_grace_seconds = 5")
    e.execute("INSERT INTO tp1 (k, c, v) VALUES (1, 1, 1)")
    e.execute("INSERT INTO tp1 (k, c, v) VALUES (2, 1, 2)")
    e.execute("DELETE FROM tp1 WHERE k = 1 AND c = 1") // row tombstone
    e.execute("DELETE v FROM tp1 WHERE k = 2 AND c = 1") // cell tombstone
    e.compact("tp1")
    // PRE-grace: both tombstones checkpointed; the row-deleted row kept
    // only for its _del_ts (shadowed cells are already dropped), and a
    // late old-timestamp write stays dead
    assert(spark.read.parquet(livePart(dir, "tp1", "rows")).count() === 2)
    e.execute("INSERT INTO tp1 (k, c, v) VALUES (1, 1, 9) USING TIMESTAMP 1")
    assert(!rows(e.execute("SELECT k, c, v FROM tp1")).contains(Seq(1, 1, 9)))
    // POST-grace: both tombstones physically purge; the cell-tombstoned
    // row loses the cell but keeps its live primary key row
    e.nowMicros += 10000000L
    e.compact("tp1")
    assert(spark.read.parquet(livePart(dir, "tp1", "rows")).count() === 1)
    assert(rows(e.execute("SELECT k, c, v FROM tp1")) === Set(Seq(2, 1, null)))
    // the purge is the documented Cassandra gc_grace contract: a
    // sufficiently old late write CAN now resurrect
    e.execute("INSERT INTO tp1 (k, c, v) VALUES (1, 1, 9) USING TIMESTAMP 1")
    assert(rows(e.execute("SELECT k, c, v FROM tp1")).contains(Seq(1, 1, 9)))
  }

  test("partition-deletion watermarks and range tombstones purge past gc_grace") {
    val dir = tmpDir()
    val e = mkEngine(dir)
    e.nowMicros = 1000000L
    e.execute("CREATE TABLE tp2 (k int, c int, v int, PRIMARY KEY (k, c)) WITH gc_grace_seconds = 5")
    for (c <- 1 to 3) e.execute(s"INSERT INTO tp2 (k, c, v) VALUES (1, $c, $c)")
    for (c <- 1 to 3) e.execute(s"INSERT INTO tp2 (k, c, v) VALUES (2, $c, $c)")
    e.execute("DELETE FROM tp2 WHERE k = 1")           // partition tombstone
    e.execute("DELETE FROM tp2 WHERE k = 2 AND c > 1") // range tombstone
    e.compact("tp2")
    // pre-grace: watermark + range rows persisted, shadowed data dropped
    assert(spark.read.parquet(livePart(dir, "tp2", "pdel")).count() === 1)
    assert(spark.read.parquet(livePart(dir, "tp2", "ranges")).count() === 1)
    assert(rows(e.execute("SELECT k, c, v FROM tp2")) === Set(Seq(2, 1, 1)))
    e.nowMicros += 10000000L
    e.compact("tp2")
    // post-grace: both tombstone stores physically empty, reads unchanged
    assert(spark.read.parquet(livePart(dir, "tp2", "pdel")).count() === 0)
    assert(spark.read.parquet(livePart(dir, "tp2", "ranges")).count() === 0)
    assert(rows(e.execute("SELECT k, c, v FROM tp2")) === Set(Seq(2, 1, 1)))
  }

  test("collection tombstones (clears and element removes) purge past gc_grace") {
    val dir = tmpDir()
    val e = mkEngine(dir)
    e.nowMicros = 1000000L
    e.execute("CREATE TABLE tp3 (k int PRIMARY KEY, st set<int>, m map<text,int>) WITH gc_grace_seconds = 5")
    e.execute("INSERT INTO tp3 (k, st, m) VALUES (1, {1, 2}, {'a': 1})")
    e.execute("DELETE FROM tp3 WHERE k = 1") // row delete → clear markers
    e.execute("INSERT INTO tp3 (k, st) VALUES (2, {1, 2})")
    e.execute("UPDATE tp3 SET st = st - {1} WHERE k = 2") // element remove
    e.compact("tp3")
    // pre-grace: row 1 is held alive purely by its tombstones
    assert(spark.read.parquet(livePart(dir, "tp3", "rows")).count() === 2)
    e.nowMicros += 10000000L
    e.compact("tp3")
    // post-grace: row 1's clear markers and del_ts purge → the row drops;
    // row 2's remove-op prefix... the remove follows the surviving add, so
    // only grace-old PREFIX tombstones purge — the add stays, remove stays
    // behind it only if something precedes it
    val ck = spark.read.parquet(livePart(dir, "tp3", "rows"))
    assert(ck.count() === 1)
    assert(rows(e.execute("SELECT k, st FROM tp3")) === Set(Seq(2, List(2))))
    // after another grace window with no new writes the state is stable
    e.nowMicros += 10000000L
    e.compact("tp3")
    assert(rows(e.execute("SELECT k, st FROM tp3")) === Set(Seq(2, List(2))))
  }

  test("gc_grace window delays the physical purge (default 10 days; ALTER shortens)") {
    val dir = tmpDir()
    val e = mkEngine(dir)
    e.nowMicros = 1000000L
    // default gc_grace_seconds = 864000 (TableParams.DEFAULT_GC_GRACE_SECONDS)
    e.execute("CREATE TABLE ct7 (k int PRIMARY KEY, v int)")
    e.execute("INSERT INTO ct7 (k, v) VALUES (1, 1) USING TTL 10")
    e.nowMicros += 11000000L // expired, but well inside gc_grace
    e.compact("ct7")
    // hidden from reads, still physically present (it must shadow late writes)
    assert(e.execute("SELECT k FROM ct7").count() === 0)
    assert(spark.read.parquet(livePart(dir, "ct7", "rows")).count() === 1)
    // a late write BELOW the expired cell's timestamp stays shadowed
    e.execute("INSERT INTO ct7 (k, v) VALUES (1, 9) USING TIMESTAMP 1")
    assert(e.execute("SELECT k FROM ct7").count() === 0)
    // shorten the window and advance past it: the next compact purges
    e.execute("ALTER TABLE ct7 WITH gc_grace_seconds = 5")
    e.nowMicros += 10000000L
    e.compact("ct7")
    assert(spark.read.parquet(livePart(dir, "ct7", "rows")).count() === 0)
  }

  test("TRUNCATE and DROP discard durable data — nothing resurrects on restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drop").toString
    val e = new CqlEngine(spark)
    e.attachStorage(dir)
    e.execute("CREATE TABLE dr1 (k int PRIMARY KEY, v int)")
    for (k <- 1 to 5) e.execute(s"INSERT INTO dr1 (k, v) VALUES ($k, $k)")
    e.flush("dr1")
    e.execute("INSERT INTO dr1 (k, v) VALUES (6, 6)")
    e.compact("dr1")
    // TRUNCATE removes checkpointed + segment rows, not just the tail
    e.execute("TRUNCATE dr1")
    assert(e.execute("SELECT * FROM dr1").count() === 0)
    e.execute("INSERT INTO dr1 (k, v) VALUES (9, 9)")
    assert(e.execute("SELECT k FROM dr1").collect().map(_.getInt(0)).toSeq === Seq(9))
    // DROP removes the durable table entirely: a fresh engine on the same
    // storage must not see it
    e.execute("DROP TABLE dr1")
    val e2 = new CqlEngine(spark)
    e2.attachStorage(dir)
    val ex = intercept[RuntimeException](e2.execute("SELECT * FROM dr1"))
    assert(ex.getMessage.contains("unconfigured table"))
  }

  test("checkpoint + segments + tail survive an engine restart") {
    val dir = tmpDir()
    val e = mkEngine(dir)
    e.execute("CREATE TABLE ct5 (k int PRIMARY KEY, v text)")
    e.execute("INSERT INTO ct5 (k, v) VALUES (1, 'ckpt')")
    e.compact("ct5")
    e.execute("INSERT INTO ct5 (k, v) VALUES (2, 'segment')")
    e.flush("ct5")
    e.execute("INSERT INTO ct5 (k, v) VALUES (3, 'tail')")
    e.flush("ct5")
    val e2 = mkEngine(dir)
    assert(rows(e2.execute("SELECT k, v FROM ct5")) ===
      Set(Seq(1, "ckpt"), Seq(2, "segment"), Seq(3, "tail")))
    // restart keeps timestamps monotonic: a new write beats the old one
    e2.execute("INSERT INTO ct5 (k, v) VALUES (1, 'newer')")
    assert(rows(e2.execute("SELECT v FROM ct5 WHERE k = 1")) === Set(Seq("newer")))
  }

  test("system.compaction_history records each compact with measured " +
    "bytes and the merge-width row count (SystemKeyspace.java layout)") {
    val e = mkEngine(tmpDir())
    e.execute("CREATE TABLE ch1 (k int PRIMARY KEY, v text)")
    (1 to 5).foreach(i => e.execute(s"INSERT INTO ch1 (k, v) VALUES ($i, 'v$i')"))
    assert(e.execute("SELECT id FROM system.compaction_history").collect().isEmpty)
    e.compact("ch1")
    val h1 = e.execute("SELECT keyspace_name, columnfamily_name, bytes_in, " +
      "bytes_out, rows_merged FROM system.compaction_history").collect()
    assert(h1.length === 1)
    assert(h1.head.getString(0) === "graft" && h1.head.getString(1) === "ch1")
    assert(h1.head.getLong(3) > 0L, "checkpoint bytes_out")
    val merged = h1.head.getMap[Int, Long](4)
    // one input (the in-memory tail), five output rows
    assert(merged === Map(1 -> 5L), merged)
    // second compact consumes the first checkpoint + the new tail: 2-way
    e.execute("INSERT INTO ch1 (k, v) VALUES (6, 'v6')")
    e.compact("ch1")
    val h2 = e.execute("SELECT rows_merged, bytes_in FROM system.compaction_history")
      .collect()
    assert(h2.length === 2)
    assert(h2.map(_.getMap[Int, Long](0)).toSet === Set(Map(1 -> 5L), Map(2 -> 6L)))
    assert(h2.exists(_.getLong(1) > 0L), "second compact measured input bytes")
  }
}
