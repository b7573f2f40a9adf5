package graft.cql

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

/** What the CQL read specs inspect of a read: its rows, its executed plan's
  * exchanges and windows, its parquet scans and its Spark jobs.
  */
trait CqlReadProbes extends SparkSpec with AdaptiveSparkPlanHelper {

  /** A bench-shaped table without partition or range tombstones: a
    * checkpoint, a bulk segment, a flushed segment and a tail.
    */
  def layered(root: String, t: String, statics: Boolean = false): CqlEngine = {
    import spark.implicits._
    val e = new CqlEngine(spark)
    e.attachStorage(root)
    e.execute(s"CREATE TABLE $t (k bigint, c int, v text${if (statics) ", s text static" else ""}, " +
      "PRIMARY KEY (k, c))")
    e.bulkInsert(t, (0 until 600).map(i => (i / 6L, i % 6, s"v$i")).toDF("k", "c", "v"))
    e.compact(t)
    e.bulkInsert(t, (540 until 600).map(i => (i / 6L, i % 6, s"b$i")).toDF("k", "c", "v"))
    (0 until 20).foreach(i => e.execute(s"UPDATE $t SET v = 'seg$i' WHERE k = ${i * 5} AND c = 1"))
    e.flush(t)
    (0 until 20).foreach(i => e.execute(s"INSERT INTO $t (k, c, v) VALUES (${i * 5}, 7, 'tail$i')"))
    e.execute(s"DELETE FROM $t WHERE k = 40 AND c = 2")
    e
  }

  /** Rows as comparable values; collections as Scala collections. */
  def values(r: Row, names: Seq[String]): Seq[Any] = names.map(n => r.getAs[Any](n) match {
    case s: scala.collection.Seq[_] => s.toList
    case m: scala.collection.Map[_, _] => m.toMap
    case v => v
  })

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => values(r, df.columns.toSeq))

  def exchanges(df: DataFrame): Seq[Exchange] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case x: Exchange => x }
  }

  def windows(df: DataFrame): Seq[WindowExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case w: WindowExec => w }
  }

  /** (root path, PushedFilters) of every parquet scan in the plan. */
  def scans(df: DataFrame): Seq[(String, String)] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
      (s.relation.location.rootPaths.map(_.toUri.getPath).mkString(","), s.metadata("PushedFilters"))
    }

  /** Spark jobs a statement's collect starts, counted through a job group. */
  def jobsOf(df: DataFrame): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "pinned-read" => jobs.incrementAndGet()
          case "pinned-marker" => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pinned-read", "read")
      df.collect()
      // the listener bus is ordered: once the marker job is seen, every job
      // of the read has been seen too
      sc.setJobGroup("pinned-marker", "marker")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
