package graft.cql

import graft.SparkSpec

import java.io.File
import java.nio.file.{Files, Path}

/** A table's reconciled read plan is reused while its inputs stay the same
  * (`CqlEngine.readCanonical`). After every kind of change, one long-lived
  * engine must read what a fresh engine reads from a copy of the same
  * durable state plus the same tail.
  */
class CqlReadCacheSpec extends SparkSpec {

  // a bulk load commits the schema, so replaying the DDL must be a no-op then
  private val ddl = "CREATE TABLE IF NOT EXISTS t (k int, c int, v int, PRIMARY KEY (k, c))"

  /** One engine, its storage root, and the statements a fresh engine must
    * replay on a copy of the root to hold the same tail and schema.
    */
  private final class Subject {
    val root: File = Files.createTempDirectory("graft-readcache").toFile
    val e = new CqlEngine(spark)
    e.attachStorage(root.getPath)
    private val replay = scala.collection.mutable.ArrayBuffer.empty[String]
    private var ts = 1000L

    /** Run a statement; each `%ts` stands for the next write timestamp. */
    def run(cql: String): Unit = {
      val s = "%ts".r.replaceAllIn(cql, _ => { ts += 10; s"USING TIMESTAMP $ts" })
      e.execute(s)
      replay += s
    }
    /** Flush, compact or TRUNCATE: the schema and tail are now durable. */
    def durable(op: CqlEngine => Unit): Unit = { op(e); replay.clear() }

    def read(on: CqlEngine): Set[Seq[Any]] =
      on.execute("SELECT * FROM t").collect().map(_.toSeq).toSet

    /** The long-lived engine reads what a fresh one reads. */
    def check(step: String): Unit = {
      val fresh = new CqlEngine(spark)
      fresh.attachStorage(copy(root).getPath)
      fresh.nowMicros = e.nowMicros
      replay.foreach(fresh.execute)
      val (got, want) = (read(e), read(fresh))
      assert(got === want, s"after $step")
      // unchanged inputs reuse the plan
      assert(e.read("t") eq e.read("t"), s"after $step")
    }
  }

  private def copy(from: File): File = {
    val to = Files.createTempDirectory("graft-readcache-copy").toFile
    Files.walk(from.toPath).forEach { (p: Path) =>
      val t = to.toPath.resolve(from.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    to
  }

  private def bulk(s: Subject, from: Int): Unit = {
    import spark.implicits._
    s.e.bulkInsert("t", (from until from + 30).map(i => (i / 5, i % 5, i)).toDF("k", "c", "v"))
  }

  test("writes, flush, compact and bulk loads are read through on the same engine") {
    val s = new Subject
    s.run(ddl)
    bulk(s, 0)
    s.check("bulkInsert into an empty tail")
    s.run("INSERT INTO t (k, c, v) VALUES (1, 7, 70) %ts"); s.check("INSERT")
    s.run("UPDATE t %ts SET v = 71 WHERE k = 1 AND c = 7"); s.check("UPDATE")
    s.run("DELETE v FROM t %ts WHERE k = 1 AND c = 1"); s.check("cell DELETE")
    s.run("DELETE FROM t %ts WHERE k = 2 AND c = 2"); s.check("row DELETE")
    s.run("DELETE FROM t %ts WHERE k = 3 AND c >= 3"); s.check("range DELETE")
    s.run("DELETE FROM t %ts WHERE k = 4"); s.check("partition DELETE")
    s.run("BEGIN BATCH INSERT INTO t (k, c, v) VALUES (5, 8, 80) %ts; " +
      "UPDATE t %ts SET v = 81 WHERE k = 1 AND c = 7; APPLY BATCH")
    s.check("BATCH")
    s.durable(_.flush("t")); s.check("flush")
    s.run("INSERT INTO t (k, c, v) VALUES (6, 9, 90) %ts")
    s.durable(_.compact("t")); s.check("compact")
    s.run("INSERT INTO t (k, c, v) VALUES (0, 9, 91) %ts")
    bulk(s, 100); s.check("bulkInsert with a tail")
    s.run("INSERT INTO t (k, c, v) VALUES (7, 1, 92) %ts AND TTL 10")
    s.e.nowMicros = 1000L; s.check("TTL before expiry")
    s.e.nowMicros = 60000000L; s.check("TTL after expiry")
  }

  test("TRUNCATE, DROP and re-CREATE, ALTER TABLE and re-attach are read through") {
    val s = new Subject
    s.run(ddl)
    bulk(s, 0)
    s.run("INSERT INTO t (k, c, v) VALUES (1, 7, 70) %ts"); s.check("INSERT")
    s.durable(_.execute("TRUNCATE t")); s.check("TRUNCATE")
    s.run("INSERT INTO t (k, c, v) VALUES (1, 8, 80) %ts"); s.check("INSERT after TRUNCATE")
    s.durable(_.flush("t"))
    s.e.execute("DROP TABLE t"); s.run(ddl); s.check("DROP and re-CREATE")
    s.run("INSERT INTO t (k, c, v) VALUES (2, 1, 21) %ts"); s.check("INSERT after re-CREATE")
    s.durable(_.flush("t"))
    s.run("ALTER TABLE t ADD w int"); s.check("ALTER TABLE ADD")
    s.run("UPDATE t %ts SET w = 5 WHERE k = 2 AND c = 1"); s.check("UPDATE of the added column")
    s.run("ALTER TABLE t DROP w"); s.check("ALTER TABLE DROP")
    s.durable(_.flush("t"))
    s.run("INSERT INTO t (k, c, v) VALUES (3, 1, 31) %ts")
    s.e.attachStorage(s.root.getPath); s.check("re-attachStorage")
  }

  test("a compaction that crashes at a storage step, then is retried, is read through") {
    val s = new Subject
    s.run(ddl)
    bulk(s, 0)
    s.durable(_.flush("t"))
    s.run("INSERT INTO t (k, c, v) VALUES (1, 7, 70) %ts")
    s.run("DELETE FROM t %ts WHERE k = 2 AND c = 2")
    s.check("the tail")
    s.e.storageStep = step => if (step == "commit") throw new RuntimeException("injected crash")
    assertThrows[RuntimeException](s.e.compact("t"))
    s.e.storageStep = _ => ()
    s.check("a compaction crashed after its commit")
    s.durable(_.compact("t")); s.check("the retried compaction")
  }
}
