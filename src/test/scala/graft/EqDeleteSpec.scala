package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Equality deletes (Iceberg v2's second delete form) — the streaming
  * upsert shape: `Snapshots.upsertEq` commits a batch as appended files
  * plus a key-set sidecar scoped to the pre-commit version, with ZERO
  * target reads. Pins: upsert semantics (replace + insert), scope
  * exemption (a batch never deletes its own rows; later appends are
  * exempt), stacking, composition with position deletes, purge folding
  * (hit-files-only rewrite), time travel, exactly-once tokens, the
  * refusal surface (rewriting ops, feeds, vacuum, fork), and the V2/SQL
  * read path.
  */
class EqDeleteSpec extends SparkTestBase {

  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"eq-$tag").toString + "/t"

  private def rows(t: String): Seq[(Long, String)] =
    Snapshots.read(spark, t).select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq

  private def base(t: String): Unit =
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v"), t): Unit

  test("upsertEq replaces matched keys and appends new ones — zero rewrites") {
    val t = freshDir("basic")
    base(t)
    val before = Snapshots.dataFiles(spark, t).toSet
    val v = Snapshots.upsertEq(spark, t,
      Seq((2L, "B!"), (9L, "i")).toDF("id", "v"), Seq("id"))
    assert(v === 2L)
    assert(before.subsetOf(Snapshots.dataFiles(spark, t).toSet))
    assert(Snapshots.eqDeleteFiles(spark, t).map(_._1) === Seq(1L)) // scope
    assert(rows(t) === Seq((1L, "a"), (2L, "B!"), (3L, "c"), (4L, "d"), (9L, "i")))
    // time travel: v1 unaffected
    assert(Snapshots.read(spark, t, Some(1L)).count() === 4L)
  }

  test("stacked upserts: the LATEST batch wins; earlier upserted rows subtract") {
    val t = freshDir("stack")
    base(t)
    Snapshots.upsertEq(spark, t, Seq((2L, "x1")).toDF("id", "v"), Seq("id"))
    Snapshots.upsertEq(spark, t, Seq((2L, "x2"), (3L, "y2")).toDF("id", "v"), Seq("id"))
    assert(rows(t) === Seq((1L, "a"), (2L, "x2"), (3L, "y2"), (4L, "d")))
    // intermediate state is time-travelable
    assert(Snapshots.read(spark, t, Some(2L)).filter(col("id") === 2)
      .select("v").as[String].head() === "x1")
  }

  test("scope exemption: a plain append AFTER the upsert keeps matching keys") {
    val t = freshDir("exempt")
    base(t)
    Snapshots.upsertEq(spark, t, Seq((2L, "up")).toDF("id", "v"), Seq("id"))
    // appended later: addVersion > scope, so the key-2 row survives
    Snapshots.commit(Seq((2L, "late")).toDF("id", "v"), t)
    val got = rows(t).filter(_._1 == 2L).map(_._2).sorted
    assert(got === Seq("late", "up"))
  }

  test("input contract: NULL keys, duplicate keys, changed key sets refuse") {
    val t = freshDir("contract")
    base(t)
    val nullKey = intercept[IllegalArgumentException] {
      Snapshots.upsertEq(spark, t,
        Seq((Option.empty[Long], "n")).toDF("id", "v"), Seq("id"))
    }
    assert(nullKey.getMessage.contains("NULL key"))
    val dup = intercept[IllegalArgumentException] {
      Snapshots.upsertEq(spark, t,
        Seq((5L, "p"), (5L, "q")).toDF("id", "v"), Seq("id"))
    }
    assert(dup.getMessage.contains("duplicate key"))
    Snapshots.upsertEq(spark, t, Seq((1L, "u")).toDF("id", "v"), Seq("id"))
    val keyChange = intercept[IllegalArgumentException] {
      Snapshots.upsertEq(spark, t, Seq((2L, "w")).toDF("id", "v"), Seq("v"))
    }
    assert(keyChange.getMessage.contains("purge before changing the key set"))
  }

  test("exactly-once: a replayed token returns the committed version, writes nothing") {
    val t = freshDir("token")
    base(t)
    val v1 = Snapshots.upsertEq(spark, t, Seq((1L, "u")).toDF("id", "v"),
      Seq("id"), token = Some("batch-7"))
    val files = Snapshots.dataFiles(spark, t).toSet
    val v2 = Snapshots.upsertEq(spark, t, Seq((1L, "DIFFERENT")).toDF("id", "v"),
      Seq("id"), token = Some("batch-7"))
    assert(v1 === v2)
    assert(Snapshots.dataFiles(spark, t).toSet === files)
    assert(rows(t).find(_._1 == 1L).get._2 === "u")
  }

  test("purgeEqDeletes folds: only key-hit files rewrite, answer unchanged") {
    val t = freshDir("purge")
    // two files with disjoint key ranges
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    Snapshots.commit(Seq((100L, "x"), (101L, "y")).toDF("id", "v"), t)
    Snapshots.upsertEq(spark, t, Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    val pre = rows(t)
    val beforeFiles = Snapshots.dataFiles(spark, t)
    val v = Snapshots.purgeEqDeletes(spark, t)
    assert(Snapshots.eqDeleteFiles(spark, t).isEmpty)
    assert(rows(t) === pre)
    val after = Snapshots.dataFiles(spark, t).toSet
    // exactly ONE prior file contains the matched key (id=2) and
    // rewrites; every other file — the 100/101 ones and the upsert's
    // own (outside the scope) — carries by path
    val carried = beforeFiles.toSet.intersect(after)
    assert(carried.size === beforeFiles.size - 1,
      s"expected exactly one rewritten file, before=$beforeFiles after=$after")
    assert((after -- carried).nonEmpty)
    // purge is maintenance: re-running is a no-op
    assert(Snapshots.purgeEqDeletes(spark, t) === v)
  }

  test("no-match purge drops the E lines without rewriting anything") {
    val t = freshDir("purgenm")
    base(t)
    // inserts only — no existing key matches
    Snapshots.upsertEq(spark, t, Seq((50L, "new")).toDF("id", "v"), Seq("id"))
    val files = Snapshots.dataFiles(spark, t).toSet
    Snapshots.purgeEqDeletes(spark, t)
    assert(Snapshots.eqDeleteFiles(spark, t).isEmpty)
    assert(Snapshots.dataFiles(spark, t).toSet === files)
    assert(rows(t).map(_._1) === Seq(1L, 2L, 3L, 4L, 50L))
  }

  test("composes with position deletes: MOR delete, then upsert, both apply") {
    val t = freshDir("compose")
    base(t)
    Snapshots.deleteWhereMor(spark, t, col("id") === 3)
    Snapshots.upsertEq(spark, t, Seq((4L, "D!")).toDF("id", "v"), Seq("id"))
    assert(rows(t) === Seq((1L, "a"), (2L, "b"), (4L, "D!")))
    // purge folds both sidecar kinds (position deletes targeting the
    // rewritten files turn stale-harmless; the eq lines drop)
    Snapshots.purgeEqDeletes(spark, t)
    assert(rows(t) === Seq((1L, "a"), (2L, "b"), (4L, "D!")))
    assert(Snapshots.eqDeleteFiles(spark, t).isEmpty)
  }

  test("compact folds equality deletes like a purge") {
    val t = freshDir("compactfold")
    base(t)
    Snapshots.upsertEq(spark, t, Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    Snapshots.compact(spark, t, numFiles = 1)
    assert(Snapshots.eqDeleteFiles(spark, t).isEmpty)
    assert(rows(t) === Seq((1L, "A"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("restore across an upsert reproduces each side exactly") {
    val t = freshDir("restore")
    base(t)                                                        // v1
    Snapshots.upsertEq(spark, t, Seq((1L, "A")).toDF("id", "v"), Seq("id")) // v2
    Snapshots.restore(spark, t, 1L)                                // v3
    assert(rows(t) === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    Snapshots.restore(spark, t, 2L)                                // v4
    assert(rows(t) === Seq((1L, "A"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(Snapshots.eqDeleteFiles(spark, t).map(_._1) === Seq(1L))
  }

  test("rewriting ops, feeds, vacuum, and fork refuse while eq deletes are outstanding") {
    val t = freshDir("refuse")
    base(t)
    Snapshots.upsertEq(spark, t, Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    def refused(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(refused(Snapshots.deleteWhere(spark, t, col("id") === 1))
      .contains("equality deletes"))
    assert(refused(Snapshots.deleteWhereMor(spark, t, col("id") === 1))
      .contains("equality deletes"))
    assert(refused(Snapshots.merge(spark, t,
      Seq((1L, "m")).toDF("id", "v"), "id")).contains("equality deletes"))
    assert(refused(Snapshots.binPack(spark, t)).contains("equality deletes"))
    assert(refused(Snapshots.purgeDeletes(spark, t)).contains("equality deletes"))
    assert(refused(Snapshots.vacuum(spark, t)).contains("equality deletes"))
    assert(refused(Snapshots.fork(spark, t, freshDir("refuse-br")))
      .contains("equality deletes"))
    assert(refused(Snapshots.changes(spark, t, 1L, 2L))
      .contains("equality-delete"))
    // and after a purge, the same ops proceed
    Snapshots.purgeEqDeletes(spark, t)
    Snapshots.deleteWhere(spark, t, col("id") === 4)
    assert(rows(t).map(_._1) === Seq(1L, 2L, 3L))
  }

  test("changeFeed across an upsert: batch rows insert, pre-images delete") {
    val t = freshDir("feed")
    base(t)                                                  // v1: 4 rows
    Snapshots.upsertEq(spark, t,
      Seq((2L, "B!"), (9L, "i")).toDF("id", "v"), Seq("id")) // v2
    def feed(from: Long, to: Long) =
      Snapshots.changeFeed(spark, t, from, to)
        .select("id", "v", "_change_type").as[(Long, String, String)]
        .collect().toSet
    val f12 = feed(1L, 2L)
    assert(f12 === Set((2L, "B!", "insert"), (9L, "i", "insert"),
      (2L, "b", "delete")))
    // across upsert + purge: same net feed (the purge cancels
    // algebraically — rewritten hit files resolve on both sides)
    Snapshots.purgeEqDeletes(spark, t)                       // v3
    assert(feed(1L, 3L) === f12)
    // the pure-purge step is maintenance: empty feed
    assert(Snapshots.changeFeed(spark, t, 2L, 3L).isEmpty)
  }

  test("changeFeed across stacked upserts: LWW endpoints, intermediates cancel") {
    val t = freshDir("feedstack")
    base(t)
    Snapshots.upsertEq(spark, t, Seq((2L, "x1")).toDF("id", "v"), Seq("id"))
    Snapshots.upsertEq(spark, t,
      Seq((2L, "x2"), (3L, "y2")).toDF("id", "v"), Seq("id"))
    // v1 -> v3 is endpoint-to-endpoint: x1 (alive only at v2) cancels —
    // its file arrives on the add side already subtracted by batch 2's
    // sidecar; only the true endpoint diff surfaces
    val f = Snapshots.changeFeed(spark, t, 1L, 3L)
      .select("id", "v", "_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(f === Set((2L, "b", "delete"), (3L, "c", "delete"),
      (2L, "x2", "insert"), (3L, "y2", "insert")))
    // a CDF mirror reproduces the table: v1 rows minus deletes plus inserts
    val v1 = Snapshots.read(spark, t, Some(1L)).select("id", "v")
      .as[(Long, String)].collect().toSet
    val mirror = v1 -- f.filter(_._3 == "delete").map(c => (c._1, c._2)) ++
      f.filter(_._3 == "insert").map(c => (c._1, c._2))
    assert(mirror === rows(t).toSet)
  }

  test("streaming readChangeFeed crosses an upsert commit as delete+insert pairs") {
    import org.apache.spark.sql.functions.col
    val t = freshDir("feedstream")
    base(t)
    val q = spark.readStream.format("graft-snapshot").option("path", t)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("eq_cdf")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("eqcdfck").toString)
      .start()
    q.processAllAvailable() // initial snapshot: 4 inserts
    assert(spark.table("eq_cdf").count() === 4)
    Snapshots.upsertEq(spark, t,
      Seq((2L, "B"), (9L, "i")).toDF("id", "v"), Seq("id"))
    q.processAllAvailable()
    q.stop()
    val changes = spark.table("eq_cdf")
      .filter(col("_change_type") === "delete" || col("v").isin("B", "i"))
      .select("id", "v", "_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(changes === Set((2L, "b", "delete"), (2L, "B", "insert"),
      (9L, "i", "insert")))
  }

  test("pruned purge probe (IN-list over FileStats) ≡ unpruned; hit set stays key-range") {
    def mk(tag: String): String = {
      val t = freshDir(tag)
      Snapshots.setSortSpec(spark, t, Seq("id"))
      Snapshots.commit(spark.range(0, 1000)
        .selectExpr("id", "CAST(id AS STRING) AS v")
        .repartitionByRange(8, col("id")), t)
      Snapshots.upsertEq(spark, t,
        spark.range(900, 950).selectExpr("id", "'up' AS v"), Seq("id"))
      t
    }
    val t1 = mk("prune1")
    val before1 = Snapshots.dataFiles(spark, t1).toSet
    // force the prune path despite the small fixture (the floor exists
    // because the walk only pays off past ~64 candidates)
    spark.conf.set("graft.snapshot.eqProbeMinCandidates", "0")
    try Snapshots.purgeEqDeletes(spark, t1)
    finally spark.conf.unset("graft.snapshot.eqProbeMinCandidates")
    val t2 = mk("prune2")
    val before2 = Snapshots.dataFiles(spark, t2).toSet
    spark.conf.set("graft.snapshot.eqProbeInListMaxKeys", "0")
    try Snapshots.purgeEqDeletes(spark, t2)
    finally spark.conf.unset("graft.snapshot.eqProbeInListMaxKeys")
    def state(t: String) = Snapshots.read(spark, t).select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(state(t1) === state(t2))
    assert(state(t1).count(_._2 == "up") === 50)
    // both routes rewrite the same files: only the key-range tail was
    // hit, the range-clustered head carries by path on both
    assert((before1 intersect Snapshots.dataFiles(spark, t1).toSet).size ===
      (before2 intersect Snapshots.dataFiles(spark, t2).toSet).size)
    assert((before1 intersect Snapshots.dataFiles(spark, t1).toSet).nonEmpty)
  }

  test("vacuum after purge reference-counts eq sidecars out; gc spares live ones") {
    val t = freshDir("lifecycle")
    base(t)
    Snapshots.upsertEq(spark, t, Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    // gc with zero grace: the sidecar is REFERENCED — must survive
    Snapshots.gc(spark, t, graceMs = 0)
    assert(rows(t).find(_._1 == 1L).get._2 === "A")
    Snapshots.purgeEqDeletes(spark, t)   // v3: no E lines
    val reclaimed = Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(reclaimed > 0) // the expired sidecar + replaced files died
    assert(rows(t) === Seq((1L, "A"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("SQL/V2 read path resolves outstanding eq deletes via the rewrite") {
    val t = freshDir("v2")
    base(t)
    Snapshots.upsertEq(spark, t,
      Seq((2L, "B"), (7L, "new")).toDF("id", "v"), Seq("id"))
    val df = spark.read.format("graft-snapshot").load(t)
    assert(df.count() === 5L) // NOT the footer count (6) — agg gate off
    assert(df.filter(col("id") === 2).select("v").as[String].head() === "B")
    // time travel through the V2 option route
    assert(spark.read.format("graft-snapshot").option("asOf", "1")
      .load(t).count() === 4L)
  }

  test("SQL lifecycle: CALL upsert_eq / .delete_files kinds / CALL purge_eq_deletes") {
    val dir = java.nio.file.Files.createTempDirectory("eqwh").toString
    spark.conf.set("spark.sql.catalog.eq_cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.eq_cat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS eq_cat.ns")
    spark.sql("CREATE TABLE eq_cat.ns.e1 (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO eq_cat.ns.e1 SELECT id, id * 2 FROM range(100)")
    val filesBefore = Snapshots.dataFiles(spark, s"$dir/ns/e1").toSet
    // the CDC batch arrives as a view; one CALL commits it O(batch)
    spark.range(0, 10).selectExpr("id * 10 AS id", "CAST(999 AS BIGINT) AS v")
      .createOrReplaceTempView("eq_updates")
    val v = spark.sql("CALL eq_cat.system.upsert_eq(table => 'ns.e1', " +
      "source => 'eq_updates', keys => 'id', token => 'b1')")
      .head().getLong(0)
    // zero rewrites; exactly-once on the token
    assert(filesBefore.subsetOf(Snapshots.dataFiles(spark, s"$dir/ns/e1").toSet))
    assert(spark.sql("CALL eq_cat.system.upsert_eq(table => 'ns.e1', " +
      "source => 'eq_updates', keys => 'id', token => 'b1')")
      .head().getLong(0) === v)
    // live view: 100 base rows, 10 replaced (ids 0,10,..,90)
    assert(spark.sql("SELECT count(*) FROM eq_cat.ns.e1").head().getLong(0) === 100L)
    assert(spark.sql("SELECT sum(v) FROM eq_cat.ns.e1 WHERE id % 10 = 0 AND id < 100")
      .head().getLong(0) === 9990L)
    // metadata table reports the sidecar as kind=equality with its scope
    val df = spark.sql("SELECT kind, positions, scope " +
      "FROM eq_cat.ns.e1.delete_files").collect()
    assert(df.length === 1 && df.head.getString(0) === "equality" &&
      df.head.getLong(1) === 10L && df.head.getLong(2) === v - 1)
    // purge folds it; answer unchanged; sidecar gone
    spark.sql("CALL eq_cat.system.purge_eq_deletes(table => 'ns.e1')")
    assert(Snapshots.eqDeleteFiles(spark, s"$dir/ns/e1").isEmpty)
    assert(spark.sql("SELECT count(*) FROM eq_cat.ns.e1.delete_files")
      .head().getLong(0) === 0L)
    assert(spark.sql("SELECT sum(v) FROM eq_cat.ns.e1").head().getLong(0) ===
      (0L until 100L).filter(_ % 10 != 0).map(_ * 2).sum + 10L * 999L)
  }

  test("streaming upsertEqSink: zero-probe CDC commits, LWW across batches, purgeEvery folds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = freshDir("sink")
    val ck = java.nio.file.Files.createTempDirectory("equpsck").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    // (key, seq, value): in-batch dup of key 1 — highest seq wins
    mem.addData((1L, 10L, "a"), (2L, 10L, "b"), (1L, 11L, "a2"))
    val q1 = streaming.Streams.upsertEqSink(
      mem.toDF().toDF("k", "seq", "v"), t, Seq("k"), "seq", ck)
    q1.processAllAvailable(); q1.stop()
    val filesAfterB1 = Snapshots.dataFiles(spark, t).toSet
    assert(Snapshots.eqDeleteFiles(spark, t).size === 1)
    // batch 2 (new sink, same checkpoint): cross-batch upsert + insert;
    // purgeEvery=2 folds both sidecars after this batch
    mem.addData((2L, 20L, "b2"), (3L, 20L, "c"))
    val q2 = streaming.Streams.upsertEqSink(
      mem.toDF().toDF("k", "seq", "v"), t, Seq("k"), "seq", ck,
      purgeEvery = 2)
    q2.processAllAvailable(); q2.stop()
    def state() = Snapshots.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(state() === Set((1L, "a2"), (2L, "b2"), (3L, "c")))
    // the purge folded every sidecar; pre-purge batch-1 files carried
    // into batch 2's commit untouched (zero-probe, zero-rewrite)
    assert(Snapshots.eqDeleteFiles(spark, t).isEmpty)
    val preP = Snapshots.versions(spark, t).last - 1
    assert(filesAfterB1.subsetOf(
      Snapshots.dataFiles(spark, t, Some(preP)).toSet))
    // time travel: the sidecars-outstanding version resolves the same
    assert(Snapshots.read(spark, t, Some(preP))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet === state())
  }

  test("upsertEq on an ALTER-evolved table: declared schema governs the contract") {
    val t = freshDir("evolve")
    base(t)
    // ALTER TABLE ADD COLUMNS (score DOUBLE): metadata-only override
    val evolved = Snapshots.read(spark, t).schema
      .add("score", org.apache.spark.sql.types.DoubleType)
    Snapshots.declareSchema(spark, t, evolved)
    // a CDC batch carrying the evolved shape commits; old files read
    // the added column as typed NULLs, batch rows carry real values
    Snapshots.upsertEq(spark, t,
      Seq((2L, "B", 0.9), (9L, "i", 0.5)).toDF("id", "v", "score"),
      Seq("id"))
    val got = Snapshots.read(spark, t).select("id", "v", "score")
      .as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a", None), (2L, "B", Some(0.9)),
      (3L, "c", None), (4L, "d", None), (9L, "i", Some(0.5))))
    // the purge folds through the declared schema too
    Snapshots.purgeEqDeletes(spark, t)
    assert(Snapshots.read(spark, t).select("id", "v", "score")
      .as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq === got)
    // a batch in the PRE-evolution shape refuses loudly (the declared
    // schema IS the committed schema now)
    val ex = intercept[IllegalArgumentException](Snapshots.upsertEq(spark, t,
      Seq((3L, "x")).toDF("id", "v"), Seq("id")))
    assert(ex.getMessage.contains("schema"))
  }

  test("hammer: concurrent upsertEq writers + an appender converge to the serial schedule") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    try {
      (0 until 6).foreach { trial =>
        val t = freshDir(s"hammer$trial")
        Snapshots.commit((0L until 300L).toDF("id")
          .withColumn("v", lit("base")), t)
        val start = new CountDownLatch(1)
        val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        val tasks = (0 until 3).map { k =>
          pool.submit(new Runnable {
            def run(): Unit = try {
              start.await()
              (1 to 2).foreach { i =>
                // thread-disjoint keys: serial-schedule convergence is
                // deterministic under ANY interleaving; each batch also
                // inserts one brand-new key
                val b = ((k * 100) until (k * 100 + 30)).map(id =>
                    (id.toLong, s"t$k-b$i"))
                  .toDF("id", "v")
                  .union(Seq((1000L + k * 10 + i, s"new-t$k-b$i"))
                    .toDF("id", "v"))
                Snapshots.upsertEq(spark, t, b, Seq("id")): Unit
              }
            } catch { case e: Throwable => fails.add(e) }
          })
        } :+ pool.submit(new Runnable {
          def run(): Unit = try {
            start.await()
            Snapshots.commit((2000L until 2040L).toDF("id")
              .withColumn("v", lit("app")), t): Unit
          } catch { case e: Throwable => fails.add(e) }
        })
        start.countDown()
        tasks.foreach(_.get(120, TimeUnit.SECONDS))
        assert(fails.isEmpty, s"trial $trial writers failed: ${fails.peek()}")
        def state() = Snapshots.read(spark, t).select("id", "v")
          .as[(Long, String)].collect().toMap
        val got = state()
        // every upserted key carries its thread's LAST batch value
        // (scopes serialize: the later commit's sidecar covers the
        // earlier one's files); inserted + appended keys land once;
        // untouched base keys stay
        (0 until 3).foreach { k =>
          ((k * 100) until (k * 100 + 30)).foreach(id =>
            assert(got(id.toLong) === s"t$k-b2", s"trial $trial key $id"))
          (1 to 2).foreach(i =>
            assert(got(1000L + k * 10 + i) === s"new-t$k-b$i"))
        }
        assert((250L until 290L).forall(got(_) == "base"))
        assert((2000L until 2040L).forall(got(_) == "app"))
        assert(got.size === 300 + 6 + 40, s"trial $trial size ${got.size}")
        // versions contiguous; purge folds and preserves the answer
        val vs = Snapshots.versions(spark, t)
        assert(vs === (vs.head to vs.last))
        Snapshots.purgeEqDeletes(spark, t)
        assert(state() === got)
      }
    } finally pool.shutdownNow()
  }

  test("eq feed fast path == generic EXCEPT ALL algebra on upsert steps") {
    // the fast path reduces an upsert step to inserts = batch ∖ killed,
    // deletes = killed ∖ batch; the generic path diffs the two fully
    // resolved views. They must agree — INCLUDING the cancellation case
    // where a batch row's FULL VALUE equals the pre-image it replaces
    // (the EXCEPT ALL pair then emits nothing for that row).
    val t = freshDir("eqfast")
    Snapshots.commit((1L to 60L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(3), t)                                          // v1
    Snapshots.deleteWhereMor(spark, t, col("id") > 55)             // v2
    // batch replaces keys 1-5 — key 3 with an IDENTICAL row value
    // (cancellation), others changed — and inserts fresh keys 101-102
    Snapshots.upsertEq(spark, t,
      (Seq((3L, "v3")) ++ Seq(1L, 2L, 4L, 5L).map(i => (i, s"up$i")) ++
        Seq((101L, "n1"), (102L, "n2"))).toDF("id", "v"), Seq("id")) // v3
    // stacked: second upsert overlaps the first (key 2) and key 10
    Snapshots.upsertEq(spark, t,
      Seq((2L, "up2b"), (10L, "up10")).toDF("id", "v"), Seq("id"))  // v4
    def feedRows(from: Long, to: Long, fast: Boolean) = {
      spark.conf.set("graft.snapshot.feedFastPath", fast.toString)
      try Snapshots.changeFeedByVersion(spark, t, from, to)
        .select("_commit_version", "_change_type", "id", "v")
        .as[(Long, String, Long, String)].collect().sorted.toSeq
      finally spark.conf.unset("graft.snapshot.feedFastPath")
    }
    for ((f, s) <- Seq((2L, 3L), (3L, 4L), (1L, 4L))) {
      assert(feedRows(f, s, fast = true) === feedRows(f, s, fast = false),
        s"range v$f->v$s")
    }
    // the cancellation row never surfaces; a replaced row surfaces as
    // its delete+insert pair
    val step = feedRows(2L, 3L, fast = true)
    assert(!step.exists(r => r._3 == 3L))
    assert(step.count(r => r._3 == 1L) === 2)
    // endpoint CHANGE FEED (non-adjacent range collapses the chain)
    // agrees too
    def endpoint(fast: Boolean) = {
      spark.conf.set("graft.snapshot.feedFastPath", fast.toString)
      try Snapshots.changeFeed(spark, t, 1L, 4L)
        .select("_change_type", "id", "v")
        .as[(String, Long, String)].collect().sorted.toSeq
      finally spark.conf.unset("graft.snapshot.feedFastPath")
    }
    assert(endpoint(fast = true) === endpoint(fast = false))
  }

  test("changeFeedByVersion is the audit view: intermediates attributed, not canceled") {
    val t = freshDir("audit")
    base(t)                                                          // v1
    Snapshots.upsertEq(spark, t, Seq((2L, "mid")).toDF("id", "v"), Seq("id")) // v2
    Snapshots.upsertEq(spark, t, Seq((2L, "fin")).toDF("id", "v"), Seq("id")) // v3
    val byV = Snapshots.changeFeedByVersion(spark, t, 1L, 3L)
      .select("_commit_version", "id", "v", "_change_type")
      .as[(Long, Long, String, String)].collect().toSet
    assert(byV === Set((2L, 2L, "b", "delete"), (2L, 2L, "mid", "insert"),
      (3L, 2L, "mid", "delete"), (3L, 2L, "fin", "insert")))
    // the endpoint feed cancels the intermediate state
    val ep = Snapshots.changeFeed(spark, t, 1L, 3L)
      .select("id", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(ep === Set((2L, "b", "delete"), (2L, "fin", "insert")))
    // a purge step contributes nothing to the audit view either
    Snapshots.purgeEqDeletes(spark, t)                               // v4
    assert(Snapshots.changeFeedByVersion(spark, t, 3L, 4L).isEmpty)
    // plan-size envelope: over-wide ranges refuse with the window hint
    spark.conf.set("graft.snapshot.feedMaxCommits", "2")
    try {
      val ex = intercept[IllegalArgumentException](
        Snapshots.changeFeedByVersion(spark, t, 1L, 4L))
      assert(ex.getMessage.contains("windows"))
    } finally spark.conf.unset("graft.snapshot.feedMaxCommits")
  }

  test("feed crosses a purge boundary where the KEY SET changed (mixed-key probe)") {
    val t = freshDir("mixedkeys")
    Snapshots.commit(Seq((1L, "x", 10.0), (2L, "x", 20.0), (3L, "y", 30.0))
      .toDF("id", "grp", "m"), t)                                    // v1
    Snapshots.upsertEq(spark, t,
      Seq((2L, "x", 99.0)).toDF("id", "grp", "m"), Seq("id"))        // v2
    Snapshots.purgeEqDeletes(spark, t)                               // v3
    Snapshots.upsertEq(spark, t,
      Seq((3L, "y", 77.0)).toDF("id", "grp", "m"), Seq("id", "grp")) // v4
    // the range's changed-sidecar set mixes key sets ['id'] and
    // ['id','grp'] — legal across the purge; the probe groups by key
    // set instead of blowing up on a mismatched union
    val f = Snapshots.changeFeed(spark, t, 2L, 4L)
      .select("id", "grp", "m", "_change_type")
      .as[(Long, String, Double, String)].collect().toSet
    assert(f === Set((3L, "y", 30.0, "delete"), (3L, "y", 77.0, "insert")))
    // per-commit view attributes each upsert; the purge step is silent
    val byV = Snapshots.changeFeedByVersion(spark, t, 1L, 4L)
      .select("_commit_version", "id", "m", "_change_type")
      .as[(Long, Long, Double, String)].collect().toSet
    assert(byV === Set((2L, 2L, 20.0, "delete"), (2L, 2L, 99.0, "insert"),
      (4L, 3L, 30.0, "delete"), (4L, 3L, 77.0, "insert")))
  }

  test("composite keys: two-column equality subtraction") {
    val t = freshDir("composite")
    Snapshots.commit(Seq((1L, "x", 10.0), (1L, "y", 20.0), (2L, "x", 30.0))
      .toDF("id", "grp", "m"), t)
    Snapshots.upsertEq(spark, t,
      Seq((1L, "y", 99.0)).toDF("id", "grp", "m"), Seq("id", "grp"))
    val got = Snapshots.read(spark, t).select("id", "grp", "m")
      .as[(Long, String, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq((1L, "x", 10.0), (1L, "y", 99.0), (2L, "x", 30.0)))
  }

  /** A table history: what it commits at a path, its live rows after,
    * and its change feed from v1 to its last version.
    */
  private case class History(build: String => Unit, rows: Seq[(Long, String)],
      feed: Set[(Long, String, String)])

  test("DROP + re-CREATE at the same path never serves a stale add-version memo") {
    // each history follows the one it is paired with. `reupserted`
    // reproduces `upserted`'s version NUMBERS (1, 2) — a memo keyed only
    // on (table, version, versions-hash) would serve the DEAD table's
    // file→add-version map, under which the new upsert's own data file
    // falls back to add-version 0 (in scope for its own sidecar) and the
    // upserted row silently vanishes (round-8 review finding: addVMemo
    // never invalidated by drop). `morDeleted` then follows a table with
    // the same versions, and `morThenUpserted` follows a MOR-deleted
    // table whose sidecar memos it must not be served.
    val upserted = History(t => {
        base(t)
        Snapshots.upsertEq(spark, t, Seq((2L, "B!")).toDF("id", "v"), Seq("id"))
      },
      Seq((1L, "a"), (2L, "B!"), (3L, "c"), (4L, "d")),
      Set((2L, "b", "delete"), (2L, "B!", "insert")))
    val morDeleted = History(t => {
        Snapshots.commit(Seq((1L, "m1"), (2L, "m2"), (3L, "m3")).toDF("id", "v"), t)
        Snapshots.deleteWhereMor(spark, t, col("id") === 2L)
      },
      Seq((1L, "m1"), (3L, "m3")),
      Set((2L, "m2", "delete")))
    val morThenUpserted = History(t => {
        Snapshots.commit(Seq((1L, "p1"), (2L, "p2"), (3L, "p3")).toDF("id", "v"), t)
        Snapshots.deleteWhereMor(spark, t, col("id") === 3L)
        Snapshots.upsertEq(spark, t, Seq((1L, "P!")).toDF("id", "v"), Seq("id"))
      },
      Seq((1L, "P!"), (2L, "p2")),
      Set((3L, "p3", "delete"), (1L, "p1", "delete"), (1L, "P!", "insert")))
    val reupserted = History(t => {
        Snapshots.commit(Seq((1L, "n1"), (2L, "n2")).toDF("id", "v"), t)
        Snapshots.upsertEq(spark, t, Seq((2L, "UP")).toDF("id", "v"), Seq("id"))
      },
      Seq((1L, "n1"), (2L, "UP")),
      Set((2L, "n2", "delete"), (2L, "UP", "insert")))
    val t = freshDir("recreate")
    Seq(upserted, reupserted, morDeleted, morThenUpserted).zipWithIndex.foreach {
      case (h, i) =>
        // same path, different files
        Snapshots.drop(spark, t)
        h.build(t)
        // these reads fill the add-version, sidecar and probe memos
        assert(rows(t) === h.rows,
          s"history $i: the table must resolve its own files, not a dead table's")
        val feed = Snapshots.changeFeed(spark, t, 1L, Snapshots.versions(spark, t).last)
          .select("id", "v", "_change_type").as[(Long, String, String)].collect()
        assert(feed.toSet === h.feed && feed.length === h.feed.size, s"history $i")
    }
  }
}
