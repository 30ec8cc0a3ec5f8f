package graft

import java.nio.file.Files

import graft.sources.{BloomSkip, FileStats, Snapshots}
import org.apache.spark.sql.functions._

/** Bloom-assisted manifest skipping: parquet-native blooms written by
  * the stock writer options, probed after range pruning for point
  * predicates on spec'd columns. The fixture is deliberately
  * range-HOSTILE: every commit spans the full key domain (keys are
  * striped mod N), so min/max ranges overlap completely and only the
  * bloom can cut files.
  */
class BloomSkipSpec extends SparkTestBase {

  private def freshDir(): String =
    Files.createTempDirectory("graft-bloom").toString + "/t"

  /** N commits, each holding keys ≡ i (mod files) over [0, total) —
    * every file's [min,max] covers ~the whole domain.
    */
  private def buildStriped(path: String, files: Int = 8,
      total: Int = 8000): Unit = {
    import spark.implicits._
    Snapshots.setBloomSpec(spark, path, Map("k" -> 2000L, "s" -> 2000L))
    (0 until files).foreach { i =>
      val rows = (0 until total).filter(_ % files == i)
        .map(k => (k.toLong, s"name-$k", k * 10L))
      Snapshots.commit(rows.toDF("k", "s", "v").coalesce(1), path)
    }
  }

  test("point lookup prunes to ~one file where ranges keep everything") {
    val path = freshDir()
    buildStriped(path)
    // ranges fully overlap: FileStats alone keeps all 8
    val all = Snapshots.dataFiles(spark, path, None)
    assert(all.size === 8)

    BloomSkip.lastBloomPrune = None
    val got = Snapshots.readWhere(spark, path, col("k") === 4444L)
      .select("k", "s", "v").collect()
    assert(got.toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      === Seq((4444L, "name-4444", 44440L)))
    val (kept, tot) = BloomSkip.lastBloomPrune.get
    assert(tot === 8, "bloom probe should see the 8 range survivors")
    // 1 true file + up to 1-2 false positives at 1% fpp; never all 8
    assert(kept <= 3, s"bloom should cut the candidate set, kept $kept/8")
  }

  test("string-column bloom prunes too, and misses return empty not wrong") {
    val path = freshDir()
    buildStriped(path)
    BloomSkip.lastBloomPrune = None
    val hit = Snapshots.readWhere(spark, path, col("s") === "name-123")
      .select("k").collect().map(_.getLong(0)).toSeq
    assert(hit === Seq(123L))
    assert(BloomSkip.lastBloomPrune.get._1 <= 3)
    // absent key: bloom may keep a false-positive file; the row filter
    // still yields zero rows
    val miss = Snapshots.readWhere(spark, path, col("s") === "name-99999")
      .collect()
    assert(miss.isEmpty)
  }

  test("IN list probes all values; conjunct on an un-spec'd column is ignored") {
    val path = freshDir()
    buildStriped(path)
    val keys = Seq(10L, 11L, 12L) // three adjacent keys = three stripes
    BloomSkip.lastBloomPrune = None
    val got = Snapshots.readWhere(spark, path,
        col("k").isin(keys: _*) && col("v") >= 0L)
      .select("k").collect().map(_.getLong(0)).toSorted
    assert(got.toSeq === keys)
    val (kept, _) = BloomSkip.lastBloomPrune.get
    assert(kept >= 3 && kept <= 5, s"expected ~3 stripe files, kept $kept")
  }

  test("a >10-value list arrives as InSet after optimization and still probes") {
    val path = freshDir()
    buildStriped(path)
    // 12 keys > inSetConversionThreshold(10): the optimizer rewrites
    // the In to InSet — the probe walker must handle both shapes
    val keys = (0L until 12L).map(_ * 667L + 1L)
    BloomSkip.lastBloomPrune = None
    val got = Snapshots.readWhere(spark, path, col("k").isin(keys: _*))
      .select("k").collect().map(_.getLong(0)).toSorted
    assert(got.toSeq === keys.sorted)
    assert(BloomSkip.lastBloomPrune.nonEmpty,
      "bloom layer must engage on the InSet shape")
  }

  test("files written before the spec never prune (conservative keep)") {
    val path = freshDir()
    import spark.implicits._
    // two commits BEFORE the spec, two after
    Snapshots.commit(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "s", "v"), path)
    Snapshots.commit(Seq((3L, "c", 3L)).toDF("k", "s", "v"), path)
    Snapshots.setBloomSpec(spark, path, Map("k" -> 100L))
    Snapshots.commit(Seq((4L, "d", 4L)).toDF("k", "s", "v"), path)
    Snapshots.commit(Seq((5L, "e", 5L)).toDF("k", "s", "v"), path)
    BloomSkip.lastBloomPrune = None
    val got = Snapshots.readWhere(spark, path, col("k") === 1L)
      .select("s").collect().map(_.getString(0)).toSeq
    assert(got === Seq("a"))
    // pre-spec files have no bloom -> kept; the two post-spec files
    // reject k=1 -> dropped. Range pruning already cuts disjoint-range
    // commits here, so assert on CORRECTNESS + the seam's conservatism:
    BloomSkip.lastBloomPrune.foreach { case (kept, tot) =>
      assert(kept >= 1 && kept <= tot)
    }
  }

  test("distributed probe route keeps exactly the driver route's files") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In, Literal}
    import org.apache.spark.sql.types.LongType
    val path = freshDir()
    buildStriped(path)
    val files = Snapshots.dataFiles(spark, path, None)
    val k = AttributeReference("k", LongType)()
    Seq(Seq(EqualTo(k, Literal(777L))),
        Seq(In(k, Seq(Literal(5L), Literal(6L), Literal(9000L))))).foreach { exprs =>
      val driver = BloomSkip.prune(spark, path, files, exprs)
      // a threshold of 0 sends every candidate through the Spark job
      val dist = BloomSkip.prune(spark, path, files, exprs, distributedThreshold = 0)
      assert(dist === driver, s"driver and distributed bloom probes must agree on $exprs")
      assert(driver.nonEmpty && driver.size < files.size, s"$exprs kept $driver")
    }
  }

  test("SQL UPDATE on a point key rewrites only bloom-hit files") {
    val path = freshDir()
    buildStriped(path, files = 6, total = 600)
    val cat = "graft_bloom_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      new java.io.File(path).getParent)
    val before = Snapshots.dataFiles(spark, path, None)
    spark.sql(s"UPDATE $cat.t SET v = -1 WHERE k = 300")
    val after = Snapshots.dataFiles(spark, path, None)
    val carried = before.toSet.intersect(after.toSet).size
    // ranges overlap across all 6 files; only the bloom keeps the
    // rewrite from touching every file
    assert(carried >= 3,
      s"bloom static pruning should carry most files, carried $carried/6")
    val got = Snapshots.read(spark, path).filter(col("k") === 300L)
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(-1L))
  }

  test("dropBloomSpec: later writes carry no bloom, existing blooms keep pruning") {
    val path = freshDir()
    buildStriped(path, files = 4, total = 400)
    Snapshots.dropBloomSpec(spark, path)
    import spark.implicits._
    Snapshots.commit(Seq((9999L, "x", 0L)).toDF("k", "s", "v"), path)
    // spec gone -> BloomSkip no-ops entirely (spec is the read gate)
    BloomSkip.lastBloomPrune = None
    val got = Snapshots.readWhere(spark, path, col("k") === 9999L)
      .select("s").collect().map(_.getString(0)).toSeq
    assert(got === Seq("x"))
    assert(BloomSkip.lastBloomPrune.isEmpty,
      "without a spec the bloom layer must not engage")
  }

  test("CALL set_bloom / drop_bloom drive the spec from SQL") {
    val wh = Files.createTempDirectory("graft-bloom-sql").toString
    val cat = "graft_bloomsql_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CREATE TABLE $cat.m.bt (k BIGINT, v BIGINT)")
    val n = spark.sql(s"CALL $cat.system.set_bloom('m.bt', 'k:5000')")
      .collect().head.getInt(0)
    assert(n === 1)
    assert(Snapshots.bloomSpec(spark, s"$wh/m/bt") === Map("k" -> 5000L))
    // post-spec INSERT carries the bloom; a point read engages the layer
    spark.sql(s"INSERT INTO $cat.m.bt SELECT id, id * 2 FROM range(1000)")
    BloomSkip.lastBloomPrune = None
    val got = Snapshots.readWhere(spark, s"$wh/m/bt", col("k") === 77L)
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(154L))
    assert(BloomSkip.lastBloomPrune.nonEmpty)
    spark.sql(s"CALL $cat.system.drop_bloom('m.bt')")
    assert(Snapshots.bloomSpec(spark, s"$wh/m/bt").isEmpty)
  }

  private implicit class SortLongs(xs: Array[Long]) {
    def toSorted: Array[Long] = { val c = xs.clone(); java.util.Arrays.sort(c); c }
  }
}
