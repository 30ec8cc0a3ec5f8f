package graft

import java.nio.file.Files

import graft.sources.{FileStats, Snapshots}
import org.apache.spark.sql.functions._

/** Manifest-level data skipping: footer-derived per-file ranges must
  * prune exactly the files a predicate cannot match — and NEVER a file
  * it could (equality with the unpruned read is the gate on every
  * case). Skipping is an optimization: files without stats survive.
  */
class FileStatsSpec extends SparkTestBase {

  import spark.implicits._

  private def tbl(tag: String) =
    Files.createTempDirectory(s"fstats$tag").resolve("t").toString

  /** 1000 ids range-partitioned into 8 files → tight disjoint ranges. */
  private def rangeTable(): String = {
    val t = tbl("range")
    Snapshots.commit((1L to 1000L).toDF("id")
      .withColumn("price", col("id") * 1.5)
      .withColumn("name", concat(lit("n"), format_string("%04d", col("id"))))
      .repartitionByRange(8, col("id")), t)
    t
  }

  private def files(t: String) = Snapshots.dataFiles(spark, t, None)

  test("point and range predicates prune to the files whose ranges can match") {
    val t = rangeTable()
    val all = files(t)
    assert(all.size === 8)
    // a point lookup touches exactly one range file
    assert(FileStats.prune(spark, t, all, col("id") === 500L).size === 1)
    // a half-open range keeps only the upper files
    val hi = FileStats.prune(spark, t, all, col("id") > 875L)
    assert(hi.size <= 2 && hi.nonEmpty, s"kept ${hi.size} of 8")
    // fractional column, integral literal — cross-domain compare
    assert(FileStats.prune(spark, t, all, col("price") < 150).size === 1)
    // string ranges prune too
    assert(FileStats.prune(spark, t, all, col("name") === "n0001").size === 1)
    // AND narrows, OR widens
    assert(FileStats.prune(spark, t, all,
      col("id") > 875L && col("id") === 1L).isEmpty)
    assert(FileStats.prune(spark, t, all,
      col("id") === 1L || col("id") === 1000L).size === 2)
    // IN enumerates
    assert(FileStats.prune(spark, t, all,
      col("id").isin(1L, 2L, 3L)).size === 1)
  }

  test("readWhere equals read+filter on every predicate shape") {
    val t = rangeTable()
    val preds = Seq(
      col("id") === 500L, col("id") > 875L, col("id") <= 125L,
      col("price") < 150, col("price") >= 1400.0,
      col("name") === "n0777", lit(750L) < col("id"),
      col("id") > 100L && col("id") < 110L,
      col("id") === 1L || col("name") === "n1000",
      col("id").isin(5L, 505L, 995L),
      // shapes the pruner does NOT understand — must still be correct
      col("id") % 7 === 0, abs(col("price") - 600.0) < 1.0)
    for (p <- preds) {
      val pruned = Snapshots.readWhere(spark, t, p)
        .select("id").as[Long].collect().sorted.toSeq
      val full = Snapshots.read(spark, t).filter(p)
        .select("id").as[Long].collect().sorted.toSeq
      assert(pruned === full, s"pruned read diverged for $p")
    }
  }

  test("skipping survives the DML cycle: merge and compact keep stats with the files") {
    val t = rangeTable()
    // upsert one low-range key: only that file rewrites; the new file
    // gets fresh stats, carried files keep theirs
    Snapshots.merge(spark, t,
      Seq((50L, 77.0, "n0050x")).toDF("id", "price", "name"), "id")
    val all2 = files(t)
    // the merge may split the rewrite into a couple of part files whose
    // ranges both cover the key — range pruning keeps them and drops
    // the other ~7; the invariant is "few survive", not "exactly one"
    val hit = FileStats.prune(spark, t, all2, col("id") === 50L)
    assert(hit.size <= 2 && hit.size < all2.size,
      s"post-merge point lookup kept ${hit.size} of ${all2.size}")
    assert(Snapshots.readWhere(spark, t, col("id") === 50L)
      .select("name").as[String].head() === "n0050x")
    // high range untouched by the merge still prunes to one file
    assert(FileStats.prune(spark, t, all2, col("id") === 999L).size === 1)
    // compaction rewrites wholesale via round-robin repartition, so the
    // compacted files each span the full id range — a point lookup
    // legitimately keeps both, and stats must still be present (the
    // equality gate, not the count, is the invariant here)
    Snapshots.compact(spark, t, numFiles = 2)
    val all3 = files(t)
    assert(all3.size === 2)
    assert(Snapshots.readWhere(spark, t, col("id") === 999L).count() === 1)
    assert(FileStats.load(spark, t).keySet.intersect(all3.toSet)
      .size === 2, "compacted files carry no stats")
  }

  test("files without stats always survive; NULL semantics prune correctly") {
    val t = tbl("nulls")
    Snapshots.commit(Seq((1L, Some("a")), (2L, Some("b"))).toDF("id", "v"), t)
    Snapshots.commit(Seq((3L, None: Option[String]),
      (4L, None: Option[String])).toDF("id", "v"), t) // v all NULL
    val all = files(t)
    // the all-NULL-v file cannot match a comparison on v
    val cmp = FileStats.prune(spark, t, all, col("v") === "a")
    assert(cmp.size < all.size, "all-NULL file was not pruned")
    // but must match IS NULL; the no-nulls file must not
    val isNull = FileStats.prune(spark, t, all, col("v").isNull)
    assert(isNull.size < all.size, "no-NULL file survived IS NULL")
    assert(Snapshots.readWhere(spark, t, col("v").isNull).count() === 2)
    // wipe the sidecars: everything survives, reads stay correct
    val f = new org.apache.hadoop.fs.Path(s"$t/stats")
    f.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(f, true)
    assert(FileStats.prune(spark, t, all, col("v") === "a").size === all.size)
    assert(Snapshots.readWhere(spark, t, col("v") === "a").count() === 1)
  }

  test("q87's quarter read opens a strict subset of the table's files") {
    run("q87_snapshot_pruned_read", sf001).collect() // force the build
    val root = graft.operators.Incremental.snapRoot(spark, sf001, "snappr")
    val all = Snapshots.dataFiles(spark, root, None)
    val lo = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1995-04-01 00:00:00")
    val kept = FileStats.prune(spark, root, all,
      col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
    // 16 date-ranged files over ~7 years; one quarter touches a few
    assert(kept.nonEmpty && kept.size < all.size / 2,
      s"quarter read kept ${kept.size} of ${all.size} files")
  }

  test("z-order clustering makes 2-D stats pruning effective") {
    // The layout half of the skipping story: per-file min/max ranges
    // only prune what the WRITE clustered. A round-robin layout spreads
    // every (x, y) region across every file — a selective 2-D box
    // predicate keeps all files. Z-ordering the same rows
    // (range-partition + sort by the Morton code) gives each file a
    // compact z-range, so the identical box opens a fraction of the
    // table — Delta/Iceberg OPTIMIZE ZORDER, expressed as plain Spark
    // repartitioning against the manifest's footer stats.
    import graft.functions.ZOrder
    val df = spark.range(4096).select(
      (col("id") * 2654435761L % 256).as("x"),
      ((col("id") * 40503L + 17) % 256).as("y"))
    val box = col("x") < 64 && col("y") < 64 // 1/16 of the key space
    val tR = tbl("zrand")
    Snapshots.commit(df.repartition(16), tR)
    val tZ = tbl("zord")
    val zkey = ZOrder.zorder2(col("x"), col("y"))
    Snapshots.commit(
      df.repartitionByRange(16, zkey).sortWithinPartitions(zkey), tZ)
    val keptR = FileStats.prune(spark, tR, files(tR), box).size
    val keptZ = FileStats.prune(spark, tZ, files(tZ), box).size
    assert(keptR === 16, s"round-robin layout should defeat pruning, kept $keptR")
    // the box is the lowest 1/16 of z-space (top two bits of both dims
    // zero) — with 16 z-range files it lives in ~1 file (range-boundary
    // sampling can smear it into a couple)
    assert(keptZ <= 3, s"z-ordered layout kept $keptZ of 16 files")
    // skipping stays an optimization: both layouts return identical rows
    val expect = df.filter(box).count()
    assert(Snapshots.readWhere(spark, tZ, box).count() === expect)
    assert(Snapshots.readWhere(spark, tR, box).count() === expect)
  }

  test("an all-NULL row group inside a file must not poison the file's range") {
    val t = tbl("nullrg")
    // one file, several row groups (tiny block size), column c all-NULL
    // in the leading row groups (sorted: nulls first) and valued later.
    // The merged file range must be the VALUED range — a null-poisoned
    // merge would read back as allNulls=true and wrongly prune the file.
    val df = (1L to 20000L).toDF("id")
      .withColumn("c", when(col("id") <= 10000L, lit(null).cast("long"))
        .otherwise(col("id")))
      .orderBy("id").coalesce(1)
    val dataDir = s"${Files.createTempDirectory("nullrgdata")}/d"
    df.write.option("parquet.block.size", "16384")
      .option("parquet.page.size", "4096").parquet(dataDir)
    val file = new java.io.File(dataDir).listFiles()
      .filter(_.getName.startsWith("part-")).head.toString
    // fixture sanity: the file really has >1 row group and at least one
    // with zero non-null c values — otherwise this test proves nothing
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        spark.sparkContext.hadoopConfiguration))
    val blocks = try footer.getFooter.getBlocks finally footer.close()
    assert(blocks.size() > 1, s"need multiple row groups, got ${blocks.size()}")
    import scala.jdk.CollectionConverters._
    val allNullRg = blocks.asScala.exists(_.getColumns.asScala
      .exists(cc => cc.getPath.toDotString == "c" &&
        cc.getStatistics != null && !cc.getStatistics.hasNonNullValue))
    assert(allNullRg, "need at least one all-NULL row group for column c")
    // route the file through the stats sidecar via a snapshot commit of
    // the same frame/layout
    val snap = tbl("nullrgsnap")
    Snapshots.commit(spark.read.parquet(dataDir).orderBy("id").coalesce(1), snap)
    // equality gates: a valued-range predicate and IsNotNull must both
    // still see the valued rows (zero results = the poisoned-prune bug)
    assert(Snapshots.readWhere(spark, snap, col("c") === 15000L).count() === 1)
    assert(Snapshots.readWhere(spark, snap, col("c").isNotNull).count() === 10000)
  }

  test("a truncating cast never prunes files whose post-cast values match") {
    val t = tbl("cast")
    // price is double in [1.5, 1500.0]; each file spans a narrow range
    Snapshots.commit((1L to 1000L).toDF("id")
      .withColumn("price", col("id") * 1.5)
      .repartitionByRange(8, col("id")), t)
    // CAST(price AS INT) = 10 matches prices in [10.0, 11.0) — rows with
    // price 10.5 exist (id=7). Unwrapping the narrowing cast would test
    // 10 against per-file double ranges and could prune the matching
    // file; the fix keeps cast-wrapped attributes conservative unless
    // the cast is a lossless up-cast.
    val got = Snapshots.readWhere(spark, t,
      col("price").cast("int") === 10).count()
    val want = Snapshots.read(spark, t)
      .filter(col("price").cast("int") === 10).count()
    assert(want > 0 && got === want)
    // lossless up-cast still prunes: long id compared as bigint
    FileStats.lastSourcePrune = None
    assert(Snapshots.readWhere(spark, t,
      col("id").cast("long") === 500L).count() === 1)
  }

  test("timestamp and date domains prune") {
    val t = tbl("time")
    val d = Seq.tabulate(100)(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i / 4 + 1}%02d 00:00:00"),
        java.sql.Date.valueOf(f"2024-02-${i / 4 + 1}%02d")))
      .toDF("id", "ts", "day")
    Snapshots.commit(d.repartitionByRange(5, col("id")), t)
    val all = files(t)
    val p = FileStats.prune(spark, t, all,
      col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-21 00:00:00")))
    assert(p.size < all.size, s"timestamp range kept all ${all.size}")
    val pd = FileStats.prune(spark, t, all,
      col("day") === lit(java.sql.Date.valueOf("2024-02-03")))
    assert(pd.size < all.size, s"date point kept all ${all.size}")
    // equality with the unpruned read
    val a = Snapshots.readWhere(spark, t,
      col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-21 00:00:00")))
      .count()
    val b = Snapshots.read(spark, t)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-21 00:00:00")))
      .count()
    assert(a === b)
  }
}
