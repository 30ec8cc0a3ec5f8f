package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{FooterSchemas, PositionDeletes, Snapshots}
import graft.sources.v2.RowIdentityScan
import org.apache.spark.sql.functions.col

/** [[graft.Memo]]: the bound holds under overfill without losing
  * answers, racing loaders of one key agree, a failed load leaves
  * nothing, and DROP / RENAME leave no registered memo holding an entry
  * under the freed table root (RENAME moving the whole table, sidecars
  * and history included).
  */
class MemoSpec extends SparkTestBase {

  import spark.implicits._

  test("a memo filled to 10x its bound stays bounded and answers correctly") {
    val loads = new AtomicInteger
    val m = Memo[Int, String](64)(_ => Nil)
    def value(i: Int) = m(i) { loads.incrementAndGet(); s"v$i" }
    (0 until 640).foreach { i =>
      assert(value(i) === s"v$i")
      assert(m.size <= 64)
      // partial eviction: a full memo drops about 1/8, never everything
      if (i >= 64) assert(m.size > 64 - 64 / 8)
    }
    assert(loads.get === 640)
    assert(m.misses.sum === 640 && m.hits.sum === 0)
    assert(m.evictions.sum === 640 - m.size)
    // the survivors of the last drop still hit
    val resident = (0 until 640).filter(m.contains)
    assert(resident.size === m.size)
    resident.foreach(i => assert(value(i) === s"v$i"))
    assert(m.hits.sum === resident.size && loads.get === 640)
    (0 until 640).foreach(i => assert(value(i) === s"v$i"))
    assert(m.size <= 64)
  }

  test("threads asking for one key all get the same value") {
    val n = 8
    val m = Memo[String, AnyRef](16)(_ => Nil)
    val barrier = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val ask = new Callable[AnyRef] {
        override def call(): AnyRef = {
          barrier.await(10, TimeUnit.SECONDS)
          m("k") { Thread.sleep(20); new Object }
        }
      }
      val got = (1 to n).map(_ => pool.submit(ask)).map(_.get(30, TimeUnit.SECONDS))
      assert(got.forall(_ eq got.head))
      assert(m.size === 1 && m.hits.sum + m.misses.sum === n)
    } finally pool.shutdown()
  }

  test("a throwing loader leaves no entry") {
    val m = Memo[String, String](16)(_ => Nil)
    intercept[IllegalStateException](m("k")(throw new IllegalStateException("boom")))
    assert(!m.contains("k") && m.size === 0)
    assert(m("k")("ok") === "ok")
    assert(m.get("k") === Some("ok"))
  }

  private lazy val wh = {
    val dir = Files.createTempDirectory("graftmemo").toString
    spark.conf.set("spark.sql.catalog.memo_cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.memo_cat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS memo_cat.ns")
    dir
  }

  /** The engine's memos, each filled by [[populate]]. */
  private def engineMemos: Seq[(String, Memo[_, _])] = Seq(
    "footer schemas" -> FooterSchemas.memo,
    "sidecar summaries" -> PositionDeletes.summaryMemo,
    "delete side" -> PositionDeletes.sideMemo,
    "add versions" -> Snapshots.addVMemo,
    "eq key sets" -> Snapshots.eqKeySetMemo,
    "delta scan routes" -> RowIdentityScan.routes)

  /** A catalog table with an append, a MOR delete (DV sidecar), a
    * merge-on-read UPDATE, an equality upsert, a read (also one above
    * the delete bound, whose anti-join memoizes its delete side) and a
    * change feed behind it: every engine memo holds entries under its
    * root.
    */
  private def populate(name: String): String = {
    wh
    spark.sql(s"CREATE TABLE memo_cat.ns.$name (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.update.mode' = 'merge-on-read')")
    val t = s"$wh/ns/$name"
    spark.sql(s"INSERT INTO memo_cat.ns.$name VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    Snapshots.deleteWhereMor(spark, t, col("id") === 2L)
    spark.sql(s"UPDATE memo_cat.ns.$name SET v = 'u' WHERE id = 3")
    Snapshots.upsertEq(spark, t, Seq((4L, "E")).toDF("id", "v"), Seq("id"))
    assert(Snapshots.read(spark, t).select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq === Seq((1L, "a"), (3L, "u"), (4L, "E")))
    try {
      spark.conf.set("graft.snapshot.deleteBroadcastBytes", "0")
      assert(Snapshots.read(spark, t).count() === 3L)
    } finally spark.conf.unset("graft.snapshot.deleteBroadcastBytes")
    assert(Snapshots.changeFeed(spark, t, 2L, Snapshots.versions(spark, t).last)
      .count() === 5L)
    val root = Memo.normPath(t)
    engineMemos.foreach { case (what, m) =>
      assert(m.holdsUnder(root), s"$what memo holds no entry of the table")
    }
    t
  }

  private def assertNoneUnder(t: String): Unit = {
    val root = Memo.normPath(t)
    assert(Memo.registered.forall(!_.holdsUnder(root)))
  }

  test("after DROP no registered memo holds an entry under the dropped root") {
    val t = populate("dropped")
    Snapshots.drop(spark, t)
    assertNoneUnder(t)
  }

  test("after RENAME no registered memo holds an entry under the source root") {
    val t = populate("renamed")
    // a MOR sidecar, a SQL merge-on-read sidecar, an equality sidecar and
    // the whole history move with the directory: every version and every
    // per-step feed reads the same at the new root
    def multiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def snapshot(path: String): Seq[Seq[String]] = {
      val vs = Snapshots.versions(spark, path)
      vs.map(v => multiset(Snapshots.read(spark, path, Some(v)))) ++
        vs.zip(vs.tail).map { case (a, b) => multiset(Snapshots.changeFeed(spark, path, a, b)) } :+
        multiset(Snapshots.changeFeedByVersion(spark, path, vs.head, vs.last))
    }
    // stats pruning skips the files whose id range excludes 1
    def pruned(path: String): (Int, Int) = {
      val files = Snapshots.dataFiles(spark, path)
      (graft.sources.FileStats.prune(spark, path, files, col("id") === 1L).size, files.size)
    }
    assert(Snapshots.deleteFiles(spark, t).nonEmpty && Snapshots.eqDeleteFiles(spark, t).nonEmpty)
    val before = snapshot(t)
    val (kept, total) = pruned(t)
    assert(kept >= 1 && kept < total, s"kept $kept of $total")
    spark.sql("ALTER TABLE memo_cat.ns.renamed RENAME TO ns.renamed_to")
    assertNoneUnder(t)
    val moved = s"$wh/ns/renamed_to"
    assert(snapshot(moved) === before)
    assert(pruned(moved) === ((kept, total)))
    assert(spark.sql("SELECT id, v FROM memo_cat.ns.renamed_to").as[(Long, String)]
      .collect().sortBy(_._1).toSeq === Seq((1L, "a"), (3L, "u"), (4L, "E")))
  }
}
