package graft

import java.nio.file.Files

import graft.sources.{PositionDeletes, Snapshots}
import org.apache.spark.sql.functions.col

/** `Snapshots.merge` is merge-on-read: matched rows die by position in a
  * deletion-vector sidecar and the update rows append. Pins what that
  * adds to the table's life: sidecars stacking over one file, merges
  * after MOR deletes, the maintenance ops folding merge sidecars, and a
  * table root whose path URL-encodes. Every read and feed is checked
  * against a model or against [[NaiveFeed]].
  */
class MorMergeSpec extends SparkTestBase {

  import spark.implicits._

  private def freshTable(tag: String, under: String = ""): String =
    Files.createTempDirectory(s"mormerge-$tag").toString + under + "/t"

  private def rows(t: String, asOf: Option[Long] = None): Seq[(Long, String)] =
    Snapshots.read(spark, t, asOf).select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Every per-step feed, the endpoint feed and the per-commit feed
    * equal the naive diff of whole snapshot reads.
    */
  private def assertFeedsExact(t: String): Unit = {
    val vs = Snapshots.versions(spark, t)
    for ((a, b) <- vs.zip(vs.tail))
      assert(sorted(Snapshots.changeFeed(spark, t, a, b)) === sorted(NaiveFeed(spark, t, a, b)),
        s"feed v$a -> v$b")
    assert(sorted(Snapshots.changeFeed(spark, t, vs.head, vs.last)) ===
      sorted(NaiveFeed(spark, t, vs.head, vs.last)), "endpoint feed")
    assert(sorted(Snapshots.changeFeedByVersion(spark, t, vs.head, vs.last)) ===
      sorted(NaiveFeed.byVersion(spark, t, vs.head, vs.last)), "per-commit feed")
  }

  private def seed(t: String): Unit = {
    Snapshots.commit((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    Snapshots.commit((101L to 120L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
  }

  test("two merges hitting one file stack two sidecars; reads and feeds stay exact") {
    val t = freshTable("stack")
    seed(t)
    val first = Snapshots.dataFiles(spark, t, Some(1L)).head
    Snapshots.merge(spark, t, Seq((3L, "m1"), (5L, "m1"), (200L, "n1")).toDF("id", "v"), "id")
    // the second merge replaces a row the first one appended (5) and one
    // more row of the seeded file (7)
    Snapshots.merge(spark, t, Seq((5L, "m2"), (7L, "m2")).toDF("id", "v"), "id")
    val sidecars = Snapshots.deleteFiles(spark, t)
    assert(sidecars.size === 2)
    assert(sidecars.map(PositionDeletes.summary(spark, _).perFile.keySet)
      .count(_.contains(first)) === 2, "both sidecars name the seeded file")
    val model = ((1L to 40L) ++ (101L to 120L)).map(i => i -> s"v$i").toMap ++
      Map(3L -> "m1", 5L -> "m2", 7L -> "m2", 200L -> "n1")
    assert(rows(t) === model.toSeq.sortBy(_._1))
    assert(Snapshots.read(spark, t).count() === model.size)
    assertFeedsExact(t)
  }

  test("a merge key an earlier MOR delete removed is inserted, not resurrected") {
    val t = freshTable("deleted")
    seed(t)
    Snapshots.deleteWhereMor(spark, t, col("id").between(10L, 12L))
    val v = Snapshots.merge(spark, t, Seq((11L, "back"), (13L, "m")).toDF("id", "v"), "id")
    val now = rows(t)
    assert(now.count(_._1 == 11L) === 1 && now.contains((11L, "back")))
    assert(!now.exists(_._1 == 10L) && !now.exists(_._1 == 12L))
    assert(now.contains((13L, "m")) && !now.contains((13L, "v13")))
    // the deleted row is not killed twice: the merge's sidecar holds
    // only the live match (13)
    val mergeSidecar = Snapshots.deleteFiles(spark, t, Some(v))
      .filterNot(Snapshots.deleteFiles(spark, t, Some(v - 1)).toSet)
    assert(mergeSidecar.map(PositionDeletes.summary(spark, _).positions).sum === 1L)
    // the merge step feeds 11 as a plain insert and 13 as a pair
    assert(sorted(Snapshots.changeFeed(spark, t, v - 1, v)) ===
      Seq("11|back|insert", "13|m|insert", "13|v13|delete"))
    assertFeedsExact(t)
  }

  test("maintain, purgeDeletes and compact fold merge sidecars and keep the rows") {
    def merged(tag: String): (String, Seq[(Long, String)]) = {
      val t = freshTable(tag)
      seed(t)
      Snapshots.merge(spark, t, Seq((2L, "a"), (102L, "b"), (300L, "c")).toDF("id", "v"), "id")
      Snapshots.merge(spark, t, Seq((4L, "d"), (2L, "e")).toDF("id", "v"), "id")
      assert(Snapshots.deleteFiles(spark, t).size === 2)
      (t, rows(t))
    }
    def noLiveSidecar(t: String): Unit = {
      val live = Snapshots.dataFiles(spark, t).toSet
      assert(PositionDeletes.referencedDataFiles(spark, Snapshots.deleteFiles(spark, t))
        .forall(f => !live(f)), s"a sidecar still kills rows of a live file under $t")
    }
    val (a, wantA) = merged("maintain")
    // maintain folds position sidecars once they near the delete bound;
    // a zero bound makes these two qualify
    spark.conf.set("graft.snapshot.deleteBroadcastBytes", "0")
    val actions = try Snapshots.maintain(spark, a)
      finally spark.conf.unset("graft.snapshot.deleteBroadcastBytes")
    assert(actions.map(_._1).contains("purge_deletes"))
    assert(rows(a) === wantA)
    noLiveSidecar(a)
    val (b, wantB) = merged("purge")
    Snapshots.purgeDeletes(spark, b)
    assert(rows(b) === wantB && Snapshots.deleteFiles(spark, b).isEmpty)
    val (c, wantC) = merged("compact")
    Snapshots.compact(spark, c)
    assert(rows(c) === wantC)
    noLiveSidecar(c)
    Seq(a, b, c).foreach(assertFeedsExact)
  }

  test("a date key (no JVM-exact equality) matches through the semi-join") {
    val t = freshTable("datekey")
    val day = (i: Long) => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    Snapshots.commit((0L to 29L).map(i => (day(i), s"v$i")).toDF("d", "v").coalesce(1), t)
    Snapshots.merge(spark, t, Seq((day(3), "m"), (day(40), "n")).toDF("d", "v"), "d")
    val got = Snapshots.read(spark, t).as[(java.sql.Date, String)].collect()
      .map(r => (r._1.toString, r._2)).sorted.toSeq
    assert(got === ((0L to 29L).filter(_ != 3L).map(i => (day(i).toString, s"v$i")) ++
      Seq((day(3).toString, "m"), (day(40).toString, "n"))).sorted)
    assert(Snapshots.deleteFiles(spark, t).map(PositionDeletes.summary(spark, _).positions)
      === Seq(1L))
    assertFeedsExact(t)
  }

  test("merge under a root whose path contains a space") {
    val t = freshTable("space", under = "/ware house")
    assert(t.contains(" "))
    seed(t)
    Snapshots.deleteWhereMor(spark, t, col("id") === 1L)
    Snapshots.merge(spark, t, Seq((2L, "m"), (101L, "m"), (500L, "n")).toDF("id", "v"), "id")
    val want = ((3L to 40L) ++ (102L to 120L)).map(i => (i, s"v$i")) ++
      Seq((2L, "m"), (101L, "m"), (500L, "n"))
    assert(rows(t) === want.sortBy(_._1))
    // the merge's sidecar records both hit files, each by its
    // root-relative entry, and resolves them to the manifest's files
    val sidecar = Snapshots.deleteFiles(spark, t).last
    val s = PositionDeletes.summary(spark, sidecar)
    assert(s.perFile.keySet === Snapshots.dataFiles(spark, t, Some(1L)).toSet ++
      Snapshots.dataFiles(spark, t, Some(2L)).toSet)
    assert(s.recorded.forall(e => e.startsWith("data/") && !e.contains("ware")))
    // a second merge stacks over the first one's sidecar and rows
    Snapshots.merge(spark, t, Seq((2L, "again"), (3L, "again")).toDF("id", "v"), "id")
    assert(rows(t).filter(r => r._1 == 2L || r._1 == 3L) === Seq((2L, "again"), (3L, "again")))
    assertFeedsExact(t)
  }
}
