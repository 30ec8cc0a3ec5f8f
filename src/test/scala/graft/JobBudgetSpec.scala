package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{PositionDeletes, Snapshots}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Job-budget regression gate for the snapshot format's read and DML
  * paths: at test scale wall time is noise, but the number of Spark jobs
  * an operation starts is exact. Jobs are counted per job group (a
  * thread-local property Spark copies onto every job the calling thread
  * submits), with the listener bus drained before the count is read.
  * Lower is always acceptable.
  */
class JobBudgetSpec extends SparkTestBase {

  import spark.implicits._

  private def sc = spark.sparkContext

  /** `body`'s result and the number of jobs it started. */
  private def jobs[A](body: => A): (A, Int) = {
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      TestBus.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def agg(df: DataFrame): Seq[(String, Long)] =
    df.groupBy("st").count().as[(String, Long)].collect().sortBy(_._1).toSeq

  /** A table of two data files (a seeded one and an append), as the
    * benchmark's DML round starts.
    */
  private def table(name: String): String = {
    val t = Files.createTempDirectory(s"jobbudget-$name").toString + "/t"
    Snapshots.commit((1L to 20000L).map(i => (i, if (i % 3 == 0) "F" else "O", i * 2))
      .toDF("id", "st", "v").coalesce(1), t)
    Snapshots.commit((30001L to 30500L).map(i => (i, "P", i)).toDF("id", "st", "v")
      .coalesce(1), t)
    t
  }

  test("resolving a read of a table with a deletion vector starts no job") {
    val t = table("resolve")
    Snapshots.deleteWhereMor(spark, t, col("id") % 7 === 0)
    assert(Snapshots.deleteFiles(spark, t).nonEmpty)
    assert(jobs(Snapshots.read(spark, t))._2 === 0)
    // also cold: the sidecar's summary is read on the driver
    PositionDeletes.summaryMemo.removeWhere(_ => true)
    assert(jobs(Snapshots.read(spark, t))._2 === 0)
  }

  test("a read through a MOR delete or an equality upsert runs the jobs of a plain read") {
    val t = table("reads")
    val (plainRows, plain) = jobs(agg(Snapshots.read(spark, t)))
    Snapshots.deleteWhereMor(spark, t, col("id") <= 5000L && col("st") === "F")
    val (morRows, mor) = jobs(agg(Snapshots.read(spark, t)))
    assert(mor === plain, "MOR read")
    assert(morRows.map(_._2).sum === plainRows.map(_._2).sum - 1666L)
    Snapshots.upsertEq(spark, t,
      (1L to 2000L).map(i => (i, "U", -i)).toDF("id", "st", "v"), Seq("id"))
    val (eqRows, eq) = jobs(agg(Snapshots.read(spark, t)))
    assert(eq === plain, "eq read")
    assert(eqRows.find(_._1 == "U").map(_._2) === Some(2000L))
  }

  test("a MOR delete runs at most 2 jobs, a merge over its sidecar at most 8") {
    val t = table("dml")
    Snapshots.deleteWhereMor(spark, t, col("id") % 11 === 0)
    val (_, del) = jobs(Snapshots.deleteWhereMor(spark, t, col("id") % 13 === 0))
    assert(del <= 2, s"MOR delete ran $del jobs")
    val updates = ((1L to 1500L) ++ (40001L to 40500L)).map(i => (i, "M", i)).toDF("id", "st", "v")
    val (_, merge) = jobs(Snapshots.merge(spark, t, updates, "id"))
    assert(merge <= 8, s"merge ran $merge jobs")
  }
}
