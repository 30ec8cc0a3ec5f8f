package graft

import java.nio.file.Files

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** SQL row-level DML (UPDATE / MERGE INTO / subquery DELETE) on catalog
  * snapshot tables, planned by Spark as group-based copy-on-write
  * ReplaceData over `SnapshotRowLevelOperation` (RowLevelOps.scala).
  * Pins: result correctness, file-granular COW (untouched files carry
  * verbatim), time travel across DML, the change feed across an UPDATE,
  * MERGE cardinality enforcement, and the opt-in runtime group filter.
  */
class SqlRowLevelSpec extends SparkTestBase {

  private lazy val wh = {
    val dir = Files.createTempDirectory("graftrlwh").toString
    spark.conf.set("spark.sql.catalog.rl_cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.rl_cat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rl_cat.ns")
    dir
  }

  private var n = 0
  /** Fresh table with two single-file commits of disjoint id ranges:
    * ids 1-4 (file A), ids 100-103 (file B). Returns (sqlName, path).
    */
  private def freshTable(): (String, String) = {
    wh
    n += 1
    val name = s"t$n"
    spark.sql(s"DROP TABLE IF EXISTS rl_cat.ns.$name")
    spark.sql(s"CREATE TABLE rl_cat.ns.$name (id BIGINT, grp STRING, v BIGINT)")
    spark.sql(s"INSERT INTO rl_cat.ns.$name " +
      "SELECT id, grp, v FROM VALUES (1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40) " +
      "AS x(id, grp, v) ORDER BY id")
    spark.sql(s"INSERT INTO rl_cat.ns.$name " +
      "SELECT id, grp, v FROM VALUES (100,'c',1000),(101,'c',1010),(102,'d',1020),(103,'d',1030) " +
      "AS x(id, grp, v) ORDER BY id")
    (s"rl_cat.ns.$name", s"$wh/ns/$name")
  }

  private def rows(t: String): Seq[(Long, String, Long)] =
    spark.sql(s"SELECT * FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  test("UPDATE rewrites only files that can contain a match; others carry verbatim") {
    val (t, path) = freshTable()
    val before = Snapshots.dataFiles(spark, path, None)
    val vBefore = Snapshots.versions(spark, path).last
    spark.sql(s"UPDATE $t SET v = v + 5 WHERE id <= 4 AND grp = 'a'")
    assert(rows(t) === Seq((1L, "a", 15L), (2L, "a", 25L), (3L, "b", 30L),
      (4L, "b", 40L), (100L, "c", 1000L), (101L, "c", 1010L),
      (102L, "d", 1020L), (103L, "d", 1030L)))
    // file B (ids 100-103) is outside the id range: stats pruning keeps
    // it out of the rewrite and it survives by PATH in the new manifest
    val after = Snapshots.dataFiles(spark, path, None)
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.size === 1, s"expected exactly file B carried, got $carried")
    // time travel: the pre-update version still reads original values
    assert(spark.sql(s"SELECT sum(v) FROM $t VERSION AS OF $vBefore")
      .head().getLong(0) === 4160L)
    assert(spark.sql(s"SELECT sum(v) FROM $t").head().getLong(0) === 4170L)
  }

  test("UPDATE copies rows whose condition is NULL, unchanged") {
    val (t, path) = freshTable()
    spark.sql(s"INSERT INTO $t VALUES (50, NULL, 500)")
    spark.sql(s"UPDATE $t SET v = 0 WHERE grp = 'a' OR grp IS NULL AND id < 0")
    // grp NULL row: cond is NULL -> not updated, but lives in a file the
    // rewrite may touch -> must be copied with its original values
    assert(rows(t).contains((50L, null, 500L)))
    assert(rows(t).take(2) === Seq((1L, "a", 0L), (2L, "a", 0L)))
  }

  test("UPDATE matching nothing statically is a no-op commit") {
    val (t, path) = freshTable()
    val versions = Snapshots.versions(spark, path)
    spark.sql(s"UPDATE $t SET v = 0 WHERE id > 100000")
    assert(Snapshots.versions(spark, path) === versions,
      "an update whose predicate prunes every file must not publish a version")
    assert(spark.sql(s"SELECT sum(v) FROM $t").head().getLong(0) === 4160L)
  }

  test("MERGE INTO: matched update, matched delete, not-matched insert") {
    val (t, _) = freshTable()
    spark.sql(
      s"""MERGE INTO $t USING (
         |  SELECT * FROM VALUES (2, 'up', CAST(999 AS BIGINT)),
         |                       (3, 'xx', CAST(0 AS BIGINT)),
         |                       (200, 'new', CAST(7 AS BIGINT))
         |    AS s(id, grp, v)) AS s
         |ON $t.id = s.id
         |WHEN MATCHED AND s.grp = 'xx' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(t) === Seq((1L, "a", 10L), (2L, "up", 999L), (4L, "b", 40L),
      (100L, "c", 1000L), (101L, "c", 1010L), (102L, "d", 1020L),
      (103L, "d", 1030L), (200L, "new", 7L)))
  }

  test("MERGE enforces source-match cardinality") {
    val (t, _) = freshTable()
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $t USING (
           |  SELECT * FROM VALUES (1, 'x', CAST(1 AS BIGINT)),
           |                       (1, 'y', CAST(2 AS BIGINT)) AS s(id, grp, v)) AS s
           |ON $t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(e.getMessage.contains("MERGE_CARDINALITY_VIOLATION"))
    // the aborted write must not have published
    assert(rows(t).head === ((1L, "a", 10L)))
  }

  test("DELETE with a subquery predicate routes through the COW rewrite") {
    val (t, path) = freshTable()
    spark.sql(s"DELETE FROM $t WHERE id IN (SELECT id FROM $t WHERE v >= 1020)")
    assert(rows(t).map(_._1) === Seq(1L, 2L, 3L, 4L, 100L, 101L))
    // file A (ids 1-4, no v >= 1020) carried verbatim — the rewrite only
    // touched the file containing matches
    val after = Snapshots.dataFiles(spark, path, None)
    assert(after.size === 2)
  }

  test("change feed across SQL UPDATE: delete+insert pairs for changed rows only") {
    val (t, path) = freshTable()
    val vBefore = Snapshots.versions(spark, path).last
    spark.sql(s"UPDATE $t SET v = v * 2 WHERE id = 2")
    val vAfter = Snapshots.versions(spark, path).last
    val feed = Snapshots.changeFeed(spark, path, vBefore, vAfter)
      .select("_change_type", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // copied rows of the rewritten file cancel; only the changed row
    // surfaces, as its delete+insert pair
    assert(feed === Set(("delete", 2L, 20L), ("insert", 2L, 40L)))
  }

  test("opt-in runtime group filter keeps MERGE from rewriting unmatched files") {
    val (t, path) = freshTable()
    val before = Snapshots.dataFiles(spark, path, None)
    spark.conf.set("graft.snapshot.runtimeGroupFilterColumns", "id")
    try {
      spark.sql(
        s"""MERGE INTO $t USING (
           |  SELECT 2 AS id, 'rg' AS grp, CAST(7 AS BIGINT) AS v) AS s
           |ON $t.id = s.id
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    } finally spark.conf.unset("graft.snapshot.runtimeGroupFilterColumns")
    assert(rows(t).take(2) === Seq((1L, "a", 10L), (2L, "rg", 7L)))
    // the id=2 key only reaches file A: file B must carry by path
    val after = Snapshots.dataFiles(spark, path, None)
    assert(before.toSet.intersect(after.toSet).size === 1,
      "runtime group filter should have kept file B out of the rewrite")

    // control: with Spark's row-level group filter off, the same MERGE
    // shape rewrites every file
    val (t2, path2) = freshTable()
    val before2 = Snapshots.dataFiles(spark, path2, None)
    val groupFilter = "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
    spark.conf.set(groupFilter, "false")
    try spark.sql(
      s"""MERGE INTO $t2 USING (
         |  SELECT 2 AS id, 'rg' AS grp, CAST(7 AS BIGINT) AS v) AS s
         |ON $t2.id = s.id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally spark.conf.unset(groupFilter)
    val after2 = Snapshots.dataFiles(spark, path2, None)
    assert(before2.toSet.intersect(after2.toSet).isEmpty,
      "with the group filter off a MERGE is a full COW rewrite")
  }

  test("auto runtime group filter: default-on for a broadcast-size MERGE source") {
    // no conf set at all: AutoRuntimeGroupFilter reads the merge's
    // equi-join key (id) off the ReplaceData plan, sees the one-row
    // source fits the broadcast threshold, and advertises it — file B
    // (ids 100-103) must carry by path
    val (t, path) = freshTable()
    val before = Snapshots.dataFiles(spark, path, None)
    spark.sql(
      s"""MERGE INTO $t USING (
         |  SELECT 2 AS id, 'auto' AS grp, CAST(9 AS BIGINT) AS v) AS s
         |ON $t.id = s.id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(t).take(2) === Seq((1L, "a", 10L), (2L, "auto", 9L)))
    val after = Snapshots.dataFiles(spark, path, None)
    assert(before.toSet.intersect(after.toSet).size === 1,
      "auto runtime group filter should have kept file B out of the rewrite")
  }

  test("auto runtime group filter: source above the broadcast threshold keeps full COW") {
    // the guard: with the broadcast threshold disabled, the source
    // never "fits", so the rule must not advertise keys and the MERGE
    // stays the full-COW shape (no extra subquery pass, no driver
    // collect of a table-spanning match set)
    val (t, path) = freshTable()
    val before = Snapshots.dataFiles(spark, path, None)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try spark.sql(
      s"""MERGE INTO $t USING (
         |  SELECT 2 AS id, 'big' AS grp, CAST(9 AS BIGINT) AS v) AS s
         |ON $t.id = s.id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(rows(t).take(2) === Seq((1L, "a", 10L), (2L, "big", 9L)))
    val after = Snapshots.dataFiles(spark, path, None)
    assert(before.toSet.intersect(after.toSet).isEmpty,
      "above the broadcast threshold the MERGE must stay a full COW rewrite")
  }

  test("concurrent append between DML read and publish rebases, serial-equivalent") {
    val (t, path) = freshTable()
    // simulate the interleaving at the commit layer: the UPDATE pins the
    // current version, an append lands, then the UPDATE publishes — the
    // rebase must keep the appended file
    val pinned = Snapshots.versions(spark, path).last
    val hit = Snapshots.dataFiles(spark, path, Some(pinned))
      .filter(_ => true).take(1)
    import spark.implicits._
    Snapshots.commit(Seq((500L, "zz", 5L)).toDF("id", "grp", "v"), path)
    val (newFiles, _) = {
      val df = Seq((1L, "a", 11L)).toDF("id", "grp", "v")
      val dir = s"$path/data/rebase-test"
      df.write.parquet(dir)
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      (fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(_.getPath.toString).toSeq, dir)
    }
    val v = Snapshots.replaceFiles(spark, path, pinned,
      hit.toSet, newFiles, "sql-update-test", Nil)
    // both the replacement AND the interleaved append are visible
    val got = Snapshots.read(spark, path, Some(v))
      .select("id").as[Long].collect().toSet
    assert(got.contains(500L), "interleaved append must survive the rebase")
    assert(got.contains(1L))
  }
}
