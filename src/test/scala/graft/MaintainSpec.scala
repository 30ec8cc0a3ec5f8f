package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** `CALL cat.system.maintain(table)` — the measured-threshold autopilot
  * (round-10 verdict #5). Pins the decision matrix per table state and
  * the idempotent no-op on a maintained table.
  */
class MaintainSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val wh: String = {
    val w = java.nio.file.Files.createTempDirectory("mntwh").toString
    spark.conf.set("spark.sql.catalog.mnt_cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.mnt_cat.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mnt_cat.ns")
    w
  }

  private def actions(t: String, minInputFiles: Int = 4): Seq[(String, Long)] =
    spark.sql(s"CALL mnt_cat.system.maintain(table => 'ns.$t', " +
        s"min_input_files => $minInputFiles)")
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq

  test("clean table: maintain is a zero-action no-op") {
    wh
    spark.sql("CREATE TABLE mnt_cat.ns.clean AS SELECT * FROM VALUES (1L, 10L) AS v(id, v)")
    assert(actions("clean").isEmpty)
  }

  test("outstanding equality sidecars: purge_eq first, then idempotent") {
    wh
    val t = s"$wh/ns/eqm"
    Snapshots.commit((1L to 50L).map(i => (i, i * 10L)).toDF("id", "v"), t)
    Snapshots.upsertEq(spark, t, Seq((1L, 111L), (2L, 222L)).toDF("id", "v"), Seq("id"))
    val a = actions("eqm")
    assert(a.map(_._1).contains("purge_eq_deletes"), a.toString)
    assert(Snapshots.eqDeleteFiles(spark, t).isEmpty)
    // state preserved
    val got = Snapshots.read(spark, t).filter(col("id") <= 2)
      .select("v").as[Long].collect().sorted.toSeq
    assert(got === Seq(111L, 222L))
    assert(actions("eqm").isEmpty) // second pass: nothing to do
  }

  test("position sidecars: purge only past half the decoded-envelope threshold") {
    wh
    val t = s"$wh/ns/posm"
    // one file, so no small-file tail folds the sidecar's file away
    Snapshots.commit((1L to 1000L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), t)
    Snapshots.deleteWhereMor(spark, t, col("id") <= 3)
    // tiny sidecar, default threshold: the read tax is join-shaped here
    // (round-9 curve) — maintain deliberately leaves it alone
    assert(!actions("posm").map(_._1).contains("purge_deletes"))
    assert(Snapshots.deleteFiles(spark, t).nonEmpty)
    // force the threshold under the sidecar: now it folds
    try {
      spark.conf.set("graft.snapshot.deleteBroadcastBytes", "16")
      val a = actions("posm")
      assert(a.map(_._1).contains("purge_deletes"), a.toString)
    } finally spark.conf.unset("graft.snapshot.deleteBroadcastBytes")
    assert(Snapshots.deleteFiles(spark, t).isEmpty)
    assert(Snapshots.read(spark, t).count() === 997L)
    assert(actions("posm").isEmpty)
  }

  test("small-file tail: bin-pack fires at min_input_files, then no-op") {
    wh
    val t = s"$wh/ns/smalls"
    // 6 tiny commits = 6 small files
    (1 to 6).foreach(i => Snapshots.commit(Seq((i.toLong, i * 10L)).toDF("id", "v"), t))
    assert(Snapshots.dataFiles(spark, t).size >= 6)
    val a = actions("smalls")
    assert(a.map(_._1) === Seq("rewrite_small_files"), a.toString)
    assert(Snapshots.dataFiles(spark, t).size < 6)
    assert(Snapshots.read(spark, t).count() === 6L)
    assert(actions("smalls").isEmpty) // folded result is below min_input_files
  }

  test("clustering drift vs declared order: re-sort past the disorder threshold, then no-op") {
    wh
    val t = s"$wh/ns/drift"
    // every commit spans the FULL id range -> total range overlap
    (1 to 3).foreach { k =>
      Snapshots.commit((1L to 1000L).map(i => (i, k.toLong)).toDF("id", "v")
        .repartition(2), t)
    }
    Snapshots.setSortSpec(spark, t, Seq("id"))
    // min_input_files high: the small-file fold must not preempt the
    // drift measurement (bin-packing overlapping smalls ALSO fixes
    // disorder — this test pins the re-sort route specifically)
    val a = actions("drift", minInputFiles = 999)
    assert(a.map(_._1).contains("compact_resort"), a.toString)
    assert(Snapshots.read(spark, t).count() === 3000L)
    // re-clustered: per-file ranges disjoint, second pass is silent
    assert(actions("drift", minInputFiles = 999).isEmpty)
  }

  test("stacked state applies in order: purge_eq -> purge -> bin-pack") {
    wh
    val t = s"$wh/ns/stack"
    (1 to 5).foreach(i => Snapshots.commit(
      ((i * 100L) to (i * 100L + 50L)).map(j => (j, j)).toDF("id", "v"), t))
    Snapshots.deleteWhereMor(spark, t, col("id") % 10 === 3)
    assert(Snapshots.deleteFiles(spark, t).nonEmpty)
    Snapshots.upsertEq(spark, t, Seq((100L, -1L)).toDF("id", "v"), Seq("id"))
    val want = Snapshots.read(spark, t).as[(Long, Long)].collect().sorted.toSeq
    val before = Snapshots.versions(spark, t).last
    val a = try {
      spark.conf.set("graft.snapshot.deleteBroadcastBytes", "16")
      actions("stack")
    } finally spark.conf.unset("graft.snapshot.deleteBroadcastBytes")
    // every fold fired, in the matrix's order, and all three rode one
    // published version
    assert(a.map(_._1) === Seq("purge_eq_deletes", "purge_deletes", "rewrite_small_files"))
    assert(a.map(_._2).toSet === Set(before + 1))
    assert(Snapshots.versions(spark, t).last === before + 1)
    assert(Snapshots.isMaintenanceCommit(spark, t, before + 1))
    assert(Snapshots.eqDeleteFiles(spark, t).isEmpty && Snapshots.deleteFiles(spark, t).isEmpty)
    assert(Snapshots.dataFiles(spark, t).size === 1)
    assert(Snapshots.read(spark, t).as[(Long, Long)].collect().sorted.toSeq === want)
    assert(Snapshots.changeFeed(spark, t, before, before + 1).isEmpty)
    assert(actions("stack").isEmpty)
  }

  test("declared retention: expiry fires past policy, tags and branch heads survive, second pass no-op") {
    wh
    import graft.sources.Snapshots
    val path = s"$wh/ns/ret"
    spark.sql("CREATE TABLE mnt_cat.ns.ret AS SELECT * FROM VALUES (1L, 10L) AS v(id, v)")
    (2L to 6L).foreach(i =>
      spark.sql(s"INSERT INTO mnt_cat.ns.ret VALUES ($i, ${i * 10})"))
    assert(Snapshots.versions(spark, path).length === 6)
    // tag v2 and fork a branch at the head: both must survive expiry
    Snapshots.tag(spark, path, "audited", 2L)
    Snapshots.fork(spark, path, s"$wh/ns/ret_br")
    // NO policy declared: maintain never expires (opt-in contract) —
    // it may still bin-pack the 6 tiny commits (a new version, no
    // history lost)
    assert(!actions("ret").exists(_._1 == "expire_history"))
    assert(Snapshots.versions(spark, path).length >= 6)
    spark.sql("CALL mnt_cat.system.set_retention(table => 'ns.ret', " +
      "keep_versions => 2)")
    val a = actions("ret")
    assert(a.exists(_._1 == "expire_history"), s"got $a")
    val vs = Snapshots.versions(spark, path)
    // kept: the last two (policy) + v2 (tagged); everything else gone
    assert(vs.length === 3 && vs.head === 2L, s"got $vs")
    // tagged version still readable; branch (cut at v6) still readable
    assert(Snapshots.read(spark, path, Some(2L)).count() === 2L)
    assert(Snapshots.read(spark, s"$wh/ns/ret_br").count() === 6L)
    // second pass: nothing to expire
    assert(!actions("ret").exists(_._1 == "expire_history"))
    // a days-based policy with a huge window keeps everything
    spark.sql("CALL mnt_cat.system.set_retention(table => 'ns.ret', " +
      "keep_versions => 1, keep_days => 365)")
    assert(!actions("ret").exists(_._1 == "expire_history"))
    // clearing the policy (both NULL) disables expiry again
    spark.sql("CALL mnt_cat.system.set_retention(table => 'ns.ret')")
    assert(Snapshots.retention(spark, path).isEmpty)
  }
}
