package graft

import java.nio.file.Files

import graft.sources.Snapshots

/** Lost-claim outcomes of every manifest writer. Each case arms
  * [[RaceFsHook]] so a rival `manifest-v<N>` appears the instant the
  * writer stages its claim for version N — a real lost race, not a
  * pre-occupied version the writer would simply step over — and pins
  * the writer's documented outcome:
  *
  *  - head-replacing publishes (commit, bucketed commit, RTAS,
  *    restore) and the rebase publish (merge) retry onto N+1;
  *  - CTAS, whose table must not exist, fails with TableAlreadyExists;
  *  - the one-shot claims fail loudly: fork ("concurrently created")
  *    and fastForward, which rolls its moved dirs back to the branch.
  */
class ManifestRaceSpec extends SparkTestBase {

  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.race.impl", classOf[RaceFs].getName)

  private val root = Files.createTempDirectory("race").toString
  private val cat = s"racecat${System.nanoTime()}"
  spark.conf.set(s"spark.sql.catalog.$cat",
    classOf[graft.sources.v2.SnapshotCatalog].getName)
  spark.conf.set(s"spark.sql.catalog.$cat.warehouse", s"race:$root/wh")

  private def df(ids: Range) =
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)

  private def rows(t: String, asOf: Option[Long] = None): Seq[(Long, String)] =
    Snapshots.read(spark, t, asOf).select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq

  private def expected(ids: Range*): Seq[(Long, String)] =
    ids.flatten.map(i => (i.toLong, s"v$i")).sortBy(_._1)

  private def dirs(path: String): Set[String] = {
    val d = new java.io.File(new org.apache.hadoop.fs.Path(path).toUri.getPath)
    Option(d.listFiles).toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet
  }

  /** Run `op` against `t` with the next claim under `claimDir` lost. */
  private def losing[A](claimDir: String)(op: => A): A = {
    RaceFsHook.arm(claimDir)
    try op finally RaceFsHook.disable()
  }

  /** Writers that retry onto the next version: (name, setup, op, rows
    * the head must hold after the retry). The rival claims v(head+1)
    * with the head's own entries, so the writer lands at head+2.
    */
  private val retrying: Seq[(String, String => Unit, String => Long, Seq[(Long, String)])] = Seq(
    ("commit", t => Snapshots.commit(df(1 to 4), t): Unit,
      t => Snapshots.commit(df(5 to 8), t), expected(1 to 8)),
    ("commitBucketed",
      t => Snapshots.commitBucketed(df(1 to 4), t, "id", 2): Unit,
      t => Snapshots.commitBucketed(df(5 to 8), t, "id", 2), expected(1 to 8)),
    ("restore", { t =>
        Snapshots.commit(df(1 to 4), t)
        Snapshots.commit(df(5 to 8), t): Unit
      }, t => Snapshots.restore(spark, t, 1L), expected(1 to 4)),
    ("merge (rebase publish)", t => Snapshots.commit(df(1 to 4), t): Unit,
      t => Snapshots.merge(spark, t, Seq((2L, "v2"), (9L, "v9")).toDF("id", "v"), "id"),
      expected(1 to 4, 9 to 9)))

  retrying.foreach { case (name, setup, op, want) =>
    test(s"$name loses the manifest claim and retries onto the next version") {
      val t = s"race:$root/${name.takeWhile(_ != ' ')}"
      setup(t)
      val head = Snapshots.versions(spark, t).last
      val v = losing(t)(op(t))
      assert(RaceFsHook.occupied === Some(head + 1))
      assert(v === head + 2)
      assert(Snapshots.versions(spark, t).last === head + 2)
      assert(rows(t) === want)
      // the rival's version stays intact in history
      assert(rows(t, Some(head + 1)) === rows(t, Some(head)))
    }
  }

  test("RTAS loses the manifest claim and retries onto the next version") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.rtas AS SELECT id, concat('v', id) AS v " +
      "FROM range(1, 5)")
    val t = s"race:$root/wh/ns/rtas"
    losing(t)(spark.sql(s"CREATE OR REPLACE TABLE $cat.ns.rtas AS " +
      "SELECT id, concat('v', id) AS v FROM range(10, 13)"))
    assert(RaceFsHook.occupied === Some(2L))
    assert(Snapshots.versions(spark, t) === Seq(1L, 2L, 3L))
    assert(rows(t) === expected(10 to 12))
    assert(rows(t, Some(2L)) === expected(1 to 4))
  }

  test("CTAS losing the manifest claim fails with TableAlreadyExists") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    val t = s"race:$root/wh/ns/ctas"
    val e = intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException](
      losing(t)(spark.sql(s"CREATE TABLE $cat.ns.ctas AS " +
        "SELECT id, concat('v', id) AS v FROM range(1, 5)")))
    assert(e.getMessage.contains("ctas"))
    assert(RaceFsHook.occupied === Some(1L))
    // the winner's v1 is all there is; the loser's staged files are gone
    assert(Snapshots.versions(spark, t) === Seq(1L))
    assert(dirs(s"$t/data").isEmpty)
  }

  test("fork losing its v1 claim fails loudly and registers no branch") {
    val p = s"race:$root/forkparent"
    Snapshots.commit(df(1 to 4), p)
    val b = s"race:$root/forkbranch"
    val e = intercept[IllegalStateException](
      losing(b)(Snapshots.fork(spark, p, b)))
    assert(e.getMessage.contains("concurrently created"))
    assert(Snapshots.branches(spark, p).isEmpty)
  }

  test("fastForward losing its claim fails loudly and rolls the moved dirs back") {
    val p = s"race:$root/ffparent"
    Snapshots.commit(df(1 to 4), p)
    val parentDirs = dirs(s"$p/data")
    val b = s"race:$root/ffbranch"
    Snapshots.fork(spark, p, b)
    Snapshots.commit(df(5 to 8), b)
    val branchDirs = dirs(s"$b/data")
    val e = intercept[IllegalStateException](
      losing(p)(Snapshots.fastForward(spark, p, b)))
    assert(e.getMessage.contains("advanced during fast-forward"))
    assert(RaceFsHook.occupied === Some(2L))
    // the staged dirs are back under the branch, which still reads its
    // staged rows; the parent holds only its own files and the rival
    assert(dirs(s"$b/data") === branchDirs && dirs(s"$p/data") === parentDirs)
    assert(rows(b) === expected(1 to 8))
    assert(Snapshots.versions(spark, p) === Seq(1L, 2L))
    assert(rows(p) === expected(1 to 4))
  }
}
