package graft

import java.nio.file.Files

import graft.sources.{FileStats, Snapshots}
import org.apache.spark.sql.functions._

/** Declared write sort order (`Snapshots.setSortSpec` — the Iceberg
  * WRITE ORDERED BY shape): every write range-clusters rows before the
  * files land, so FileStats range pruning has power by construction —
  * no caller-side ORDER BY discipline, no after-the-fact rewrite.
  */
class WriteOrderSpec extends SparkTestBase {

  private def freshDir(): String =
    Files.createTempDirectory("graft-order").toString + "/t"

  /** AQE rightly coalesces these tiny range shuffles into ONE
    * partition (at real scale its 64 MB advisory keeps files plural);
    * disable coalescing so the test observes the multi-file shape.
    */
  private def noCoalesce[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  test("unordered commits land range-clustered; a range scan prunes") {
    val path = freshDir()
    import spark.implicits._
    Snapshots.setSortSpec(spark, path, Seq("k"))
    // three commits of SCRAMBLED keys (hash order): without the spec
    // every file would span the whole domain
    noCoalesce { (0 until 3).foreach { i =>
      val rows = (0 until 900).map(j => (j * 3 + i).toLong)
        .sortBy(k => k.hashCode * 2654435761L) // deliberate scramble
        .map(k => (k, k * 10L))
      Snapshots.commit(rows.toDF("k", "v").repartition(4), path)
    } }
    // per commit, files must carry DISJOINT key ranges
    val stats = FileStats.load(spark, path)
    val all = Snapshots.dataFiles(spark, path, None)
    assert(all.size > 3, "each commit should write multiple ranged files")
    // a narrow range query opens at most one file per commit
    val got = Snapshots.readWhere(spark, path,
        col("k") >= 100L && col("k") <= 140L)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (100L to 140L).toSeq)
    val kept = FileStats.prune(spark, path, all,
      col("k") >= 100L && col("k") <= 140L).size
    assert(kept <= 3, s"range scan should open <=1 file per commit, got $kept")
    // and the per-file ranges really are tight: no file spans > ~1/4
    // of a commit's 2700-wide domain
    val widths = stats.values.flatMap(_.get("k")).map { r =>
      (r.max, r.min) match {
        case (Some(mx: Long), Some(mn: Long)) => mx - mn
        case _ => Long.MaxValue
      }
    }
    assert(widths.forall(_ <= 1400L),
      s"files should be range-tight, widths ${widths.toSeq.sorted.reverse.take(3)}")
  }

  test("a frame missing the sort column passes through untouched") {
    val path = freshDir()
    import spark.implicits._
    Snapshots.setSortSpec(spark, path, Seq("nope"))
    Snapshots.commit(Seq((1L, 2L)).toDF("k", "v"), path)
    val got = Snapshots.read(spark, path).collect()
    assert(got.length === 1)
  }

  test("DML rewrite keeps the declared clustering (RequiresDistributionAndOrdering)") {
    val path = freshDir()
    import spark.implicits._
    Snapshots.setSortSpec(spark, path, Seq("k"))
    val rows = (0 until 2000).map(j => (j.toLong, j.toLong))
      .sortBy(_._1.hashCode * 40503)
    Snapshots.commit(rows.toDF("k", "v").repartition(4), path)
    val cat = "graft_order_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      new java.io.File(path).getParent)
    // full-scatter UPDATE: every file is rewritten; the replacement
    // files must come back range-clustered, not in scan order
    noCoalesce {
      spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k % 2 = 0"): Unit
    }
    val after = Snapshots.dataFiles(spark, path, None)
    assert(after.size > 1, "rewrite should produce multiple ranged files")
    val stats = FileStats.load(spark, path)
    val ranges = after.flatMap(f =>
      stats.get(f)
        .flatMap(_.get("k"))).map(r =>
      (r.min.get.asInstanceOf[Long], r.max.get.asInstanceOf[Long]))
    val sortedR = ranges.sortBy(_._1)
    sortedR.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"rewritten files overlap: $sortedR")
      case _ => ()
    }
    val got = Snapshots.read(spark, path)
      .filter(col("k") === 10L).select("v").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(11L))
  }

  test("bucketed commits keep bucket routing and add the in-bucket sort") {
    val path = freshDir()
    import spark.implicits._
    Snapshots.setSortSpec(spark, path, Seq("k"))
    val rows = (0 until 1000).map(j => (j.toLong, j.toLong))
      .sortBy(_._1.hashCode * 40503)
    Snapshots.commitBucketed(rows.toDF("k", "v"), path, "k", 4)
    val files = Snapshots.dataFiles(spark, path, None)
    assert(files.forall(f => Snapshots.bucketOfPath(f).isDefined),
      "all files must stay bucket-tagged under a sort spec")
    assert(Snapshots.read(spark, path).count() === 1000L)
  }

  test("compaction re-clusters a sort-spec'd table (declared order wins there)") {
    val path = freshDir()
    import spark.implicits._
    Snapshots.setSortSpec(spark, path, Seq("k"))
    // scrambled tiny commits, then compact: the replacement files must
    // come back range-disjoint (compact is a rewrite like any append —
    // unlike z-order, it has no layout of its own to protect)
    noCoalesce {
      (0 until 3).foreach { i =>
        val rows = (0 until 600).map(j => (j * 3 + i).toLong)
          .sortBy(k => k.hashCode * 2654435761L).map(k => (k, k))
        Snapshots.commit(rows.toDF("k", "v").repartition(3), path)
      }
      Snapshots.compact(spark, path, numFiles = 4): Unit
    }
    val after = Snapshots.dataFiles(spark, path, None)
    val stats = FileStats.load(spark, path)
    val ranges = after.flatMap(f =>
      stats.get(f)
        .flatMap(_.get("k"))).map(r =>
      (r.min.get.asInstanceOf[Long], r.max.get.asInstanceOf[Long]))
      .sortBy(_._1)
    assert(ranges.size > 1, "compaction of a sorted table should emit ranged files")
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"compacted files overlap: $ranges")
      case _ => ()
    }
  }

  test("a declared order does not clobber the z-order rewrite's Morton layout") {
    val path = freshDir()
    import spark.implicits._
    // declared order on k; the table's USERS then z-order by (x, y) —
    // the rewrite's 2-D clustering must survive the declared 1-D order
    Snapshots.setSortSpec(spark, path, Seq("k"))
    val rows = (0 until 4000).map { i =>
      val x = (i * 2654435761L % 1000).toLong
      val y = (i * 40503L % 1000).toLong
      (i.toLong, x, y)
    }
    noCoalesce {
      Snapshots.commit(rows.toDF("k", "x", "y").repartition(4), path)
      Snapshots.optimizeZOrder(spark, path, "x", "y", numFiles = 8): Unit
    }
    // a 2-D box predicate must prune: a k-sorted (clobbered) layout
    // would leave every file spanning the full x/y domain
    val all = Snapshots.dataFiles(spark, path, None)
    val kept = FileStats.prune(spark, path, all,
      col("x") >= 0L && col("x") < 250L && col("y") >= 0L && col("y") < 250L)
    assert(kept.size < all.size,
      s"z-order box pruning must survive a declared sort order " +
        s"(kept ${kept.size}/${all.size})")
  }

  test("TBLPROPERTIES declare the layout at DDL time (CREATE + CTAS + RTAS retire)") {
    val wh = Files.createTempDirectory("graft-order-ddl").toString
    val cat = "graft_orderddl_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    // plain CREATE
    spark.sql(s"CREATE TABLE $cat.m.dt (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('write.order' = 'k', 'bloom.k' = '10000')")
    assert(Snapshots.sortSpec(spark, s"$wh/m/dt") === Seq("k"))
    assert(Snapshots.bloomSpec(spark, s"$wh/m/dt") === Map("k" -> 10000L))
    // a typo'd column fails the DDL loudly, not silently-never-clusters
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.m.bad (k BIGINT) " +
        "TBLPROPERTIES ('write.order' = 'nope')")
    }
    assert(e.getMessage.contains("nope"))
    // CTAS carries the properties; the specs install at commit
    spark.sql(s"CREATE TABLE $cat.m.ct TBLPROPERTIES ('write.order' = 'id') " +
      "AS SELECT id FROM range(10)")
    assert(Snapshots.sortSpec(spark, s"$wh/m/ct") === Seq("id"))
    // RTAS without the property retires it (layout follows the new
    // definition wholesale, like the bucket spec)
    spark.sql(s"REPLACE TABLE $cat.m.ct AS SELECT id FROM range(5)")
    assert(Snapshots.sortSpec(spark, s"$wh/m/ct").isEmpty)
  }

  test("CALL set_write_order / drop_write_order drive the spec from SQL") {
    val wh = Files.createTempDirectory("graft-order-sql").toString
    val cat = "graft_ordersql_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CREATE TABLE $cat.m.ot (k BIGINT, v BIGINT)")
    val n = spark.sql(s"CALL $cat.system.set_write_order('m.ot', 'k')")
      .collect().head.getInt(0)
    assert(n === 1)
    assert(Snapshots.sortSpec(spark, s"$wh/m/ot") === Seq("k"))
    spark.sql(s"INSERT INTO $cat.m.ot " +
      "SELECT CAST(hash(id) % 1000 AS BIGINT), id FROM range(2000)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.m.ot")
      .collect().head.getLong(0) === 2000L)
    spark.sql(s"CALL $cat.system.drop_write_order('m.ot')")
    assert(Snapshots.sortSpec(spark, s"$wh/m/ot").isEmpty)
  }
}
