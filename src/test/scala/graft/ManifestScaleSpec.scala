package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Pins the round-8 manifest-envelope work:
  *  - the driver-side manifest algebra is file-COUNT linear and stays
  *    usable at a 10⁵-entry manifest (the 100 TB @ 128 MB/file shape is
  *    ~10⁶; 10⁵ in-spec keeps the suite fast while exercising the same
  *    code paths: parse, history, restore, vacuum reference-counting);
  *  - deleteWhere's touched-file split (per-partition path sets
  *    unioned on the driver) rewrites exactly the files holding a match.
  */
class ManifestScaleSpec extends SparkTestBase {

  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"mscale-$tag").toString + "/t"

  test("10^5-entry manifest: metadata ops stay fast and reference-count correctly") {
    val t = freshDir("big")
    // one real committed version (the schema/read anchor)...
    Snapshots.commit(Seq(1L, 2L, 3L).toDF("id"), t)
    // ...then a synthetic v2 whose manifest lists 100k entries: the
    // real files plus 10^5 - real fake paths (metadata ops never open
    // data files, so the paths only need to be well-formed)
    val real = Snapshots.dataFiles(spark, t)
    val fakes = (0 until (100000 - real.size)).map(i =>
      s"file:$t/data/ffffffff-0000-0000-0000-000000000000/part-$i-fake.snappy.parquet")
    val f = new java.io.File(s"$t/manifest-v2.json")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f))
    try {
      w.write("v2 synthetic-100k\n")
      (real ++ fakes).foreach { p => w.write(p); w.write("\n") }
    } finally w.close()
    val t0 = System.nanoTime()
    val hist = Snapshots.history(spark, t).collect()
    assert(hist.map(_.getInt(2)).toSeq.sorted === Seq(real.size, 100000))
    // roll BACK over the 100k version (manifest algebra, no data touch)
    Snapshots.restore(spark, t, 1L)
    assert(Snapshots.versions(spark, t) === Seq(1L, 2L, 3L))
    // vacuum reference-counts across 2×10^5 entries and sweeps the 10^5
    // now-dead synthetic paths (missing-file deletes are no-ops); the
    // real files survive through v3's reference
    Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(Snapshots.versions(spark, t) === Seq(3L))
    assert(Snapshots.read(spark, t).as[Long].collect().sorted === Array(1L, 2L, 3L))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 30.0, f"manifest algebra over 10^5 entries took $sec%.1f s")
  }

  test("deleteWhere rewrites exactly the files holding a match") {
    val t = freshDir("deletewhere")
    Snapshots.commit((1L to 400L).toDF("id").withColumn("v", col("id") % 17)
      .repartition(8), t)
    val files = Snapshots.dataFiles(spark, t)
    def ids(f: String): Set[Long] = spark.read.parquet(f).select("id").as[Long].collect().toSet
    val holding7 = files.filter(ids(_).contains(7L))
    assert(holding7.size === 1)
    Snapshots.deleteWhere(spark, t, col("id") === 7L)
    // the file holding id 7 is the only one rewritten; the rest carry
    val after = Snapshots.dataFiles(spark, t)
    assert(after.toSet.intersect(files.toSet) === files.toSet - holding7.head)
    assert(after.size === files.size)
    Snapshots.deleteWhere(spark, t, col("id") % 5 === 0)
    val rows = Snapshots.read(spark, t).orderBy("id", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === (1L to 400L).filter(i => i % 5 != 0 && i != 7L).map(i => (i, i % 17)))
    assert(Snapshots.versions(spark, t) === Seq(1L, 2L, 3L))
  }
}
