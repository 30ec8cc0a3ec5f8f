package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Long-lived named branches (round-10 verdict #4): multi-commit branch
  * histories, keep-alive publish (stage → publish → keep staging under
  * one name), branch-targeted reads/writes (`.option("branch", b)`,
  * `VERSION AS OF '<branch>'`), parent vacuum keeping branch-referenced
  * files alive, per-branch retention, and concurrent-writer refusals.
  */
class BranchSpec extends SparkTestBase {

  import spark.implicits._

  private def freshParent(tag: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"br$tag").toString
    val t = s"$root/main_t"
    Snapshots.commit((1L to 10L).map(i => (i, i * 10L)).toDF("id", "v"), t)
    t
  }
  private def ids(t: String, asOf: Option[Long] = None): Seq[Long] =
    Snapshots.read(spark, t, asOf).select("id").as[Long].collect().sorted.toSeq

  test("multi-commit branch; keep-alive publish; re-publish under one name") {
    val t = freshParent("multi")
    val b = s"${new java.io.File(t).getParent}/audit"
    Snapshots.fork(spark, t, b)
    assert(Snapshots.branches(spark, t).map(_._1) === Seq("audit"))
    // MULTI-COMMIT history on the branch
    Snapshots.commit(Seq((100L, 1000L)).toDF("id", "v"), b)
    Snapshots.commit(Seq((101L, 1010L)).toDF("id", "v"), b)
    assert(Snapshots.versions(spark, b) === Seq(1L, 2L, 3L))
    assert(ids(b) === ((1L to 10L) ++ Seq(100L, 101L)))
    assert(ids(t) === (1L to 10L)) // parent untouched until publish
    // keep-alive publish: parent advances, branch re-bases in place
    val v = Snapshots.fastForward(spark, t, b, dropBranch = false)
    assert(ids(t) === ((1L to 10L) ++ Seq(100L, 101L)))
    assert(Snapshots.versions(spark, t).last === v)
    assert(Snapshots.branches(spark, t).map(_._1) === Seq("audit"))
    // the re-based branch reads the published state and keeps working
    assert(ids(b) === ((1L to 10L) ++ Seq(100L, 101L)))
    Snapshots.commit(Seq((102L, 1020L)).toDF("id", "v"), b)
    val v2 = Snapshots.fastForward(spark, t, b, dropBranch = false)
    assert(v2 === v + 1)
    assert(ids(t) === ((1L to 10L) ++ Seq(100L, 101L, 102L)))
    // and dropping deregisters
    Snapshots.drop(spark, b)
    assert(Snapshots.branches(spark, t).isEmpty)
  }

  test("branch-targeted reads and writes: .option(branch) and VERSION AS OF '<branch>'") {
    val t = freshParent("opt")
    val b = s"${new java.io.File(t).getParent}/dev"
    Snapshots.fork(spark, t, b)
    // write THROUGH the parent path + branch option
    Seq((200L, 2000L)).toDF("id", "v").write.format("graft-snapshot")
      .option("path", t).option("branch", "dev").mode("append").save()
    assert(ids(b).contains(200L))
    assert(!ids(t).contains(200L))
    // read through the option
    val viaOpt = spark.read.format("graft-snapshot")
      .option("path", t).option("branch", "dev").load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaOpt === ids(b))
    // and through SQL VERSION AS OF on a catalog ident
    val wh = new java.io.File(t).getParent
    spark.conf.set("spark.sql.catalog.br_cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.br_cat.warehouse", wh)
    val viaSql = spark.sql("SELECT id FROM br_cat.main_t VERSION AS OF 'dev'")
      .as[Long].collect().sorted.toSeq
    assert(viaSql === ids(b))
    // the branches METADATA TABLE lists the registered refs + heads
    val meta = spark.sql("SELECT name, head_version FROM br_cat.main_t.branches")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(meta === Seq(("dev", Snapshots.versions(spark, b).last)))
    // a TAG with the same name would win; an unknown name stays loud
    val e = intercept[Exception](
      spark.sql("SELECT id FROM br_cat.main_t VERSION AS OF 'nosuch'").collect())
    assert(e.getMessage.contains("no tag"), e.getMessage)
    // branch option on a name that is not registered is loud too
    val e2 = intercept[Exception](spark.read.format("graft-snapshot")
      .option("path", t).option("branch", "nosuch").load())
    assert(e2.getMessage.contains("no registered branch"), e2.getMessage)
    // renaming a parent under a live branch refuses (refs hold absolute
    // paths in both directions — a rename would strand them)
    val rn = intercept[Exception](
      spark.sql("ALTER TABLE br_cat.main_t RENAME TO main_renamed"))
    assert(rn.getMessage.contains("registered"), rn.getMessage)
    Snapshots.drop(spark, b)
    // with the branch gone, the rename proceeds (and back)
    spark.sql("ALTER TABLE br_cat.main_t RENAME TO main_renamed")
    assert(spark.sql("SELECT count(*) FROM br_cat.main_renamed").head.getLong(0) >= 10L)
    spark.sql("ALTER TABLE br_cat.main_renamed RENAME TO main_t")
  }

  test("parent vacuum and gc keep branch-referenced files alive; per-branch retention") {
    val t = freshParent("vac")
    val b = s"${new java.io.File(t).getParent}/keepme"
    Snapshots.fork(spark, t, b)
    // parent REPLACES its content: the old files are now referenced
    // ONLY by the branch head
    Snapshots.commit(Seq((900L, 9000L)).toDF("id", "v"), t, overwrite = true)
    Snapshots.vacuum(spark, t, keepVersions = 1)
    // the branch must still read the pre-overwrite rows
    assert(ids(b) === (1L to 10L))
    assert(ids(t) === Seq(900L))
    // gc with zero grace must also spare them
    Snapshots.gc(spark, t, graceMs = 0L)
    assert(ids(b) === (1L to 10L))
    // drop the branch: the same vacuum now reclaims the orphaned files
    Snapshots.drop(spark, b)
    // (files were only held by the branch ref; a fresh commit + vacuum
    // expires the overwrite version that still listed nothing of them —
    // they are already unreferenced, gc sweeps them)
    val dataRoot = new org.apache.hadoop.fs.Path(s"$t/data")
    val fsys = dataRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fsys.listStatus(dataRoot).length
    Snapshots.gc(spark, t, graceMs = 0L)
    val after = fsys.listStatus(dataRoot).length
    assert(after <= before)
    assert(ids(t) === Seq(900L)) // parent intact
    // per-branch retention: the branch's own vacuum works independently
    val b2 = s"${new java.io.File(t).getParent}/ret"
    Snapshots.fork(spark, t, b2)
    Snapshots.commit(Seq((1L, 1L)).toDF("id", "v"), b2)
    Snapshots.commit(Seq((2L, 2L)).toDF("id", "v"), b2)
    assert(Snapshots.vacuum(spark, b2, keepVersions = 1) >= 0)
    assert(Snapshots.versions(spark, b2).length === 1)
    assert(ids(b2) === Seq(1L, 2L, 900L))
    Snapshots.drop(spark, b2)
  }

  test("concurrent parent/branch writers: parent advance refuses the publish; re-fork recovers") {
    val t = freshParent("conc")
    val b = s"${new java.io.File(t).getParent}/race"
    Snapshots.fork(spark, t, b)
    Snapshots.commit(Seq((300L, 3000L)).toDF("id", "v"), b)
    // a concurrent PARENT append lands before the publish
    Snapshots.commit(Seq((400L, 4000L)).toDF("id", "v"), t)
    val e = intercept[Exception](
      Snapshots.fastForward(spark, t, b, dropBranch = false))
    assert(e.getMessage.contains("advanced since fork"), e.getMessage)
    // the branch is intact and inspectable after the refusal
    assert(ids(b).contains(300L))
    // recover: re-fork from the new head, restage, publish
    Snapshots.drop(spark, b)
    Snapshots.fork(spark, t, b)
    Snapshots.commit(Seq((301L, 3010L)).toDF("id", "v"), b)
    Snapshots.fastForward(spark, t, b, dropBranch = false)
    assert(ids(t) === ((1L to 10L) ++ Seq(301L, 400L)))
    Snapshots.drop(spark, b)
  }

  test("branch-staged MOR delete over branch-staged data publishes") {
    val t = freshParent("mor")
    Snapshots.deleteWhereMor(spark, t, col("id") === 2L) // a parent sidecar the fork carries
    val b = s"${new java.io.File(t).getParent}/stage"
    Snapshots.fork(spark, t, b)
    Snapshots.commit((11L to 20L).map(i => (i, i * 10L)).toDF("id", "v"), b)
    // one sidecar over branch-staged data, one over fork-carried parent
    // data, one over both
    Snapshots.deleteWhereMor(spark, b, col("id") === 15L)
    Snapshots.deleteWhereMor(spark, b, col("id") === 5L)
    Snapshots.deleteWhereMor(spark, b, col("id").isin(3L, 12L))
    val staged = ids(b)
    assert(staged === ((1L to 20L).filterNot(Set(2L, 3L, 5L, 12L, 15L))))
    val history = Snapshots.versions(spark, t).map(v => v -> ids(t, Some(v)))
    // a staged dir name the parent already holds refuses before anything moves
    val stagedDir = new java.io.File(s"$b/data").listFiles().head.getName
    val clash = new java.io.File(s"$t/data/$stagedDir")
    assert(clash.mkdirs())
    val e = intercept[IllegalArgumentException](Snapshots.fastForward(spark, t, b))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(ids(b) === staged)
    assert(clash.delete())
    val v = Snapshots.fastForward(spark, t, b, dropBranch = false)
    // every parent version reads as before, the published one as the branch did
    assert(Snapshots.versions(spark, t).map(w => w -> ids(t, Some(w))) ===
      (history :+ (v -> staged)))
    assert(ids(b) === staged)
    assert(Snapshots.changeFeed(spark, t, v - 1, v).as[(Long, Long, String)].collect()
      .map(r => (r._1, r._3)).sorted.toSeq ===
      Seq((3L, "delete"), (5L, "delete")) ++
        (11L to 20L).filterNot(Set(12L, 15L)).map(_ -> "insert"))
    Snapshots.drop(spark, b)
  }
}
