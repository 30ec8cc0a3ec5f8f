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

  test("a MOR delete runs at most 2 jobs, a merge over its sidecar at most 6") {
    val t = table("dml")
    Snapshots.deleteWhereMor(spark, t, col("id") % 11 === 0)
    val (_, del) = jobs(Snapshots.deleteWhereMor(spark, t, col("id") % 13 === 0))
    assert(del <= 2, s"MOR delete ran $del jobs")
    val updates = ((1L to 1500L) ++ (40001L to 40500L)).map(i => (i, "M", i)).toDF("id", "st", "v")
    val (v, merge) = jobs(Snapshots.merge(spark, t, updates, "id"))
    assert(merge <= 6, s"merge ran $merge jobs")
    // merge-on-read: one sidecar more, no data file removed
    assert(Snapshots.deleteFiles(spark, t).size === 3)
    assert(Snapshots.dataFiles(spark, t, Some(v - 1)).toSet
      .subsetOf(Snapshots.dataFiles(spark, t).toSet))
  }

  // Feed budgets. Which carried files a changed sidecar reaches is
  // decided on the driver (position: the sidecars' referenced files;
  // equality: add-version scope and stats), so a feed runs only the
  // jobs of its diff.

  test("a per-step MOR-delete feed runs at most 1 job") {
    val t = table("feedmor")
    Snapshots.deleteWhereMor(spark, t, col("id") % 11 === 0)
    val v = Snapshots.deleteWhereMor(spark, t, col("id") % 13 === 0)
    val (rows, n) = jobs(Snapshots.changeFeed(spark, t, v - 1, v).collect())
    assert(rows.length ===
      ((1L to 20000L) ++ (30001L to 30500L)).count(i => i % 13 == 0 && i % 11 != 0))
    assert(n <= 1, s"MOR-delete feed ran $n jobs")
  }

  test("a per-step equality-upsert feed runs at most 2 jobs") {
    val t = table("feedeq")
    val v = Snapshots.upsertEq(spark, t,
      (1L to 2000L).map(i => (i, "U", -i)).toDF("id", "st", "v"), Seq("id"))
    val (rows, n) = jobs(Snapshots.changeFeedByVersion(spark, t, v - 1, v).collect())
    assert(rows.length === 4000)
    assert(n <= 2, s"upsert feed ran $n jobs")
  }

  test("a per-step merge feed runs at most 2 jobs") {
    val t = table("feedmerge")
    Snapshots.deleteWhereMor(spark, t, col("id") % 7 === 0)
    // 1..1000 hit the seeded file (every 7th already deleted), 40001..
    // 40200 are new keys
    val v = Snapshots.merge(spark, t,
      ((1L to 1000L) ++ (40001L to 40200L)).map(i => (i, "M", i)).toDF("id", "st", "v"), "id")
    val (rows, n) = jobs(Snapshots.changeFeed(spark, t, v - 1, v)
      .select("id", "_change_type").as[(Long, String)].collect())
    val replaced = (1L to 1000L).filter(_ % 7 != 0)
    assert(rows.filter(_._2 == "delete").map(_._1).sorted.toSeq === replaced)
    assert(rows.filter(_._2 == "insert").map(_._1).sorted.toSeq ===
      (1L to 1000L) ++ (40001L to 40200L))
    assert(n <= 2, s"merge feed ran $n jobs")
  }

  test("an endpoint feed across append, MOR delete, merge and upsert runs at most 2 jobs") {
    val t = table("feedmix")
    val from = Snapshots.versions(spark, t).last
    Snapshots.commit((50001L to 50500L).map(i => (i, "A", i)).toDF("id", "st", "v")
      .coalesce(1), t)
    Snapshots.deleteWhereMor(spark, t, col("id") % 7 === 0 && col("st") === "O")
    Snapshots.merge(spark, t,
      ((1L to 1000L) ++ (40001L to 40200L)).map(i => (i, "M", i)).toDF("id", "st", "v"), "id")
    val to = Snapshots.upsertEq(spark, t,
      (19001L to 21000L).map(i => (i, "U", -i)).toDF("id", "st", "v"), Seq("id"))
    val (rows, n) = jobs(Snapshots.changeFeed(spark, t, from, to).collect())
    assert(rows.nonEmpty)
    assert(n <= 2, s"endpoint feed ran $n jobs")
  }

  // Maintenance budgets. maintain plans its folds on the driver and
  // rewrites their union once; the equality probe runs only over files
  // the rewrite does not already take.

  test("maintain on the benchmark round's shape runs at most 1 job") {
    val t = table("maintainmix")
    Snapshots.deleteWhereMor(spark, t, col("id") % 7 === 0 && col("st") === "O")
    Snapshots.merge(spark, t,
      ((1L to 1000L) ++ (40001L to 40200L)).map(i => (i, "M", i)).toDF("id", "st", "v"), "id")
    Snapshots.upsertEq(spark, t,
      (19001L to 21000L).map(i => (i, "U", -i)).toDF("id", "st", "v"), Seq("id"))
    // an equality sidecar, two deletion vectors and a small-file tail
    assert(Snapshots.eqDeleteFiles(spark, t).size === 1)
    assert(Snapshots.deleteFiles(spark, t).size === 2)
    assert(Snapshots.dataFiles(spark, t).size >= 4)
    val want = agg(Snapshots.read(spark, t))
    val before = Snapshots.versions(spark, t).last
    val (actions, n) = jobs(Snapshots.maintain(spark, t))
    assert(actions.map(_._1) === Seq("purge_eq_deletes", "rewrite_small_files"))
    assert(actions.map(_._3).toSet === Set(before + 1))
    assert(Snapshots.versions(spark, t).last === before + 1)
    assert(Snapshots.eqDeleteFiles(spark, t).isEmpty && Snapshots.deleteFiles(spark, t).isEmpty)
    assert(agg(Snapshots.read(spark, t)) === want)
    assert(n <= 1, s"maintain ran $n jobs")
  }

  test("an equality-only maintain over a file at the target runs at most 3 jobs, its probe included") {
    val t = table("maintaineq")
    Snapshots.upsertEq(spark, t,
      (1L to 2000L).map(i => (i, "U", -i)).toDF("id", "st", "v"), Seq("id"))
    val f = new org.apache.hadoop.fs.Path(t).getFileSystem(sc.hadoopConfiguration)
    val sizes = Snapshots.dataFiles(spark, t).map(p =>
      p -> f.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sortBy(_._2)
    // only the seeded file reaches the target: it is no small-file
    // candidate, so only the probe (2 jobs) can put it in the rewrite
    val target = sizes.last._2
    val want = agg(Snapshots.read(spark, t))
    val (actions, n) = jobs(Snapshots.maintain(spark, t, targetBytes = target))
    assert(actions.map(_._1) === Seq("purge_eq_deletes"))
    assert(!Snapshots.dataFiles(spark, t).contains(sizes.last._1))
    assert(Snapshots.dataFiles(spark, t).toSet.intersect(sizes.map(_._1).toSet) ===
      sizes.init.map(_._1).toSet)
    assert(agg(Snapshots.read(spark, t)) === want)
    assert(n <= 3, s"equality-only maintain ran $n jobs")
  }
}
