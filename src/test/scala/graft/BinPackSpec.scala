package graft

import java.nio.file.Files

import graft.sources.{PositionDeletes, Snapshots}
import org.apache.spark.sql.functions._

/** Selective small-files compaction (`Snapshots.binPack`, SQL
  * `CALL rewrite_small_files`): fold only the sub-target files, carry
  * everything else by path — the continuous-ingest maintenance
  * primitive whose cost is proportional to the SMALL tail, not the
  * table.
  */
class BinPackSpec extends SparkTestBase {

  private def freshDir(): String =
    Files.createTempDirectory("graft-binpack").toString + "/t"

  test("folds only the small tail; the large file carries by path") {
    val path = freshDir()
    import spark.implicits._
    // one LARGE commit (stays), six tiny ones (fold)
    Snapshots.commit(
      (0 until 20000).map(i => (i.toLong, s"payload-$i" * 8))
        .toDF("k", "v").coalesce(1), path)
    (0 until 6).foreach { i =>
      Snapshots.commit(Seq((100000L + i, s"tiny-$i")).toDF("k", "v"), path)
    }
    val before = Snapshots.dataFiles(spark, path, None)
    assert(before.size === 7)
    val large = before.map(f => f -> new java.io.File(
      new org.apache.hadoop.fs.Path(f).toUri.getPath).length())
      .maxBy(_._2)._1

    // target between the tiny files (~1 KB) and the 20k-row file
    val v = Snapshots.binPack(spark, path, targetBytes = 64L << 10)
    val after = Snapshots.dataFiles(spark, path, None)
    assert(after.contains(large), "the large file must carry by path")
    assert(after.size < before.size, "smalls must fold")
    // rows identical across the rewrite
    assert(Snapshots.read(spark, path).count() === 20006L)
    assert(Snapshots.read(spark, path)
      .filter(col("k") >= 100000L).count() === 6L)
    // second run: the folded result is a single small file per group —
    // below minInputFiles, so nothing new publishes
    assert(Snapshots.binPack(spark, path, targetBytes = 64L << 10) === v)
  }

  test("bucketed tables fold within each bucket and stay fully tagged") {
    val path = freshDir()
    import spark.implicits._
    // several tiny bucketed commits: each spreads rows over 4 buckets,
    // so every bucket accumulates small files
    (0 until 4).foreach { i =>
      Snapshots.commitBucketed(
        (0 until 40).map(j => ((i * 40 + j).toLong, j.toLong))
          .toDF("k", "v"), path, "k", 4)
    }
    val before = Snapshots.dataFiles(spark, path, None)
    Snapshots.binPack(spark, path, targetBytes = 64L << 20)
    val after = Snapshots.dataFiles(spark, path, None)
    assert(after.size < before.size)
    assert(after.forall(f => Snapshots.bucketOfPath(f).isDefined),
      "every replacement file must keep its bucket tag")
    assert(Snapshots.read(spark, path).count() === 160L)
    // per-bucket fold: the packed file set has at most one small file
    // per bucket (plus any pre-existing large ones — none here)
    val perBucket = after.groupBy(f => Snapshots.bucketOfPath(f).get)
    assert(perBucket.values.forall(_.size <= 2),
      s"buckets should fold to ~1 file each, got ${perBucket.view.mapValues(_.size).toMap}")
  }

  test("binPack after RENAME COLUMN: replacements are id-stamped and id-matched reads survive") {
    val wh = Files.createTempDirectory("graft-binpack-ren").toString
    val cat = "graft_binpack_ren_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CREATE TABLE $cat.m.rn AS SELECT * FROM VALUES " +
      "(1L, 10L), (2L, 20L) AS v(id, v)")
    spark.sql(s"INSERT INTO $cat.m.rn VALUES (3L, 30L)")
    spark.sql(s"ALTER TABLE $cat.m.rn RENAME COLUMN v TO amount")
    val path = s"$wh/m/rn"
    val before = Snapshots.dataFiles(spark, path, None)
    assert(before.size >= 2)
    // fold the (all-small) files — the replacement is written POST-rename
    val v = Snapshots.binPack(spark, path, targetBytes = 64L << 20)
    val after = Snapshots.dataFiles(spark, path, None)
    assert(after.size < before.size, "smalls must fold")
    // id-matched reads of the binPacked table must keep working: the
    // replacement files must carry footer field ids (the all-files-
    // stamped invariant RENAME relies on), under the CURRENT names
    assert(spark.sql(s"SELECT id, amount FROM $cat.m.rn ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(Snapshots.read(spark, path).agg(sum("amount")).head.getLong(0) === 60L)
    // a FURTHER rename after the binPack still resolves the packed file
    // by id — the direct proof its footer was stamped
    spark.sql(s"ALTER TABLE $cat.m.rn RENAME COLUMN amount TO price")
    assert(spark.sql(s"SELECT sum(price) FROM $cat.m.rn").head.getLong(0) === 60L)
    assert(v > 0)
  }

  test("CALL rewrite_small_files drives it from SQL") {
    val wh = Files.createTempDirectory("graft-binpack-sql").toString
    val cat = "graft_binpack_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CREATE TABLE $cat.m.sp (k BIGINT)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $cat.m.sp VALUES ($i)")
    }
    val nBefore = Snapshots.dataFiles(spark, s"$wh/m/sp", None).size
    val v = spark.sql(s"CALL $cat.system.rewrite_small_files('m.sp')")
      .collect().head.getLong(0)
    assert(v > 0)
    val nAfter = Snapshots.dataFiles(spark, s"$wh/m/sp", None).size
    assert(nAfter < nBefore)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.m.sp")
      .collect().head.getLong(0) === 4L)
  }

  test("a folded file's deletion vector drops; one that still kills rows of a carried file stays") {
    val path = freshDir()
    import spark.implicits._
    // one LARGE file (carries) and four small ones (fold)
    Snapshots.commit((0L until 20000L).map(i => (i, s"payload-$i" * 8))
      .toDF("k", "v").coalesce(1), path)
    (0 until 4).foreach(i => Snapshots.commit(
      ((100000L + i * 10) until (100000L + i * 10 + 10)).map(k => (k, s"s$k"))
        .toDF("k", "v").coalesce(1), path))
    // a deletion vector over one small file only, then one over the
    // large file and a small one
    Snapshots.deleteWhereMor(spark, path, col("k").between(100000L, 100003L))
    Snapshots.deleteWhereMor(spark, path, col("k") === 7L || col("k") === 100015L)
    val Seq(smallOnly, mixed) = Snapshots.deleteFiles(spark, path)
    assert(Seq(smallOnly, mixed).forall(PositionDeletes.isDvSidecar(spark, _)))
    val want = Snapshots.read(spark, path).as[(Long, String)].collect().sorted.toSeq
    assert(want.size === 20040 - 6)
    val v = Snapshots.binPack(spark, path, targetBytes = 64L << 10)
    assert(Snapshots.dataFiles(spark, path).size === 2)
    assert(Snapshots.deleteFiles(spark, path) === Seq(mixed))
    assert(Snapshots.read(spark, path).as[(Long, String)].collect().sorted.toSeq === want)
    // every per-step feed equals the naive diff of two reads
    val vs = Snapshots.versions(spark, path)
    assert(vs.last === v)
    def multiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    vs.zip(vs.tail).foreach { case (a, b) =>
      assert(multiset(Snapshots.changeFeed(spark, path, a, b)) ===
        multiset(NaiveFeed(spark, path, a, b)), s"feed $a..$b")
    }
    assert(Snapshots.changeFeed(spark, path, v - 1, v).isEmpty)
    // a purge drops the remaining line with the large file's rewrite
    Snapshots.purgeDeletes(spark, path)
    assert(Snapshots.deleteFiles(spark, path).isEmpty)
    assert(Snapshots.read(spark, path).as[(Long, String)].collect().sorted.toSeq === want)
  }
}
