package graft

import graft.sources.{PositionDeletes, Snapshots}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Snapshot-table contract: atomic manifest publish, snapshot-isolated
  * reads, time travel, append vs overwrite, and the optimistic version
  * race (the rename lock).
  */
class SnapshotsSpec extends SparkTestBase {

  import spark.implicits._

  private def tbl(): String =
    Files.createTempDirectory("snap").resolve("t").toString

  private def sinkToken(ck: String, batchId: Long): String = {
    val app = java.security.MessageDigest.getInstance("MD5")
      .digest(ck.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"graft-snapshotSink-$app-$batchId"
  }

  test("append commits accumulate; overwrite replaces; time travel reads both") {
    val t = tbl()
    val v1 = Snapshots.commit((1 to 10).toDF("x"), t)
    val v2 = Snapshots.commit((11 to 15).toDF("x"), t)
    assert(v1 === 1L && v2 === 2L)
    assert(Snapshots.read(spark, t).count() === 15)
    assert(Snapshots.read(spark, t, asOf = Some(1L)).count() === 10)
    val v3 = Snapshots.commit((100 to 101).toDF("x"), t, overwrite = true)
    assert(v3 === 3L)
    assert(Snapshots.read(spark, t).select(sum("x")).head().getLong(0) === 201L)
    // earlier snapshots still intact after the overwrite
    assert(Snapshots.read(spark, t, asOf = Some(2L)).count() === 15)
    assert(Snapshots.versions(spark, t) === Seq(1L, 2L, 3L))
  }

  test("a pinned reader never sees a commit that lands after planning") {
    val t = tbl()
    Snapshots.commit((1 to 10).toDF("x"), t)
    val pinned = Snapshots.read(spark, t) // plan-time file set
    Snapshots.commit((11 to 20).toDF("x"), t)
    assert(pinned.count() === 10)
    assert(Snapshots.read(spark, t).count() === 20)
  }

  test("losing the version race retries onto the next version, no row loss") {
    val t = tbl()
    Snapshots.commit((1 to 5).toDF("x"), t)
    // occupy version 2 the way a racing winner would: publish a valid
    // manifest carrying v1's files (rename-onto-existing must then fail
    // for our writer, forcing the retry path to v3)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Files = scala.io.Source.fromInputStream(
      fs.open(new org.apache.hadoop.fs.Path(s"$t/manifest-v1.json")), "UTF-8")
      .mkString
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$t/manifest-v2.json"), false)
    out.write(("v2" + v1Files.dropWhile(_ != '\n')).getBytes("UTF-8")); out.close()
    val v = Snapshots.commit((6 to 9).toDF("x"), t)
    assert(v === 3L)
    assert(Snapshots.read(spark, t).count() === 9)
    assert(Snapshots.read(spark, t, asOf = Some(2L)).count() === 5)
  }

  test("tokened commits are idempotent: a replay returns the old version") {
    val t = tbl()
    val v1 = Snapshots.commit((1 to 5).toDF("x"), t, token = Some("batch-0"))
    val v2 = Snapshots.commit((6 to 8).toDF("x"), t, token = Some("batch-1"))
    // replayed micro-batch: same token, would-be-different data is NOT
    // committed — the first commit won
    val replay = Snapshots.commit((900 to 999).toDF("x"), t, token = Some("batch-1"))
    assert((v1, v2, replay) === ((1L, 2L, 2L)))
    assert(Snapshots.versions(spark, t) === Seq(1L, 2L))
    assert(Snapshots.read(spark, t).count() === 8)
  }

  test("compaction shrinks the file count, keeps rows and history") {
    val t = tbl()
    (1 to 6).foreach(i => Snapshots.commit(
      Seq((i.toLong, s"r$i")).toDF("id", "s").repartition(2), t))
    val filesBefore = Snapshots.read(spark, t).inputFiles.length
    assert(filesBefore >= 6)
    val v = Snapshots.compact(spark, t)
    assert(v === 7L)
    assert(Snapshots.read(spark, t).inputFiles.length === 1)
    assert(Snapshots.read(spark, t).count() === 6)
    assert(Snapshots.read(spark, t).select(sum("id")).head().getLong(0) === 21L)
    // pre-compaction snapshot still time-travels
    assert(Snapshots.read(spark, t, asOf = Some(6L)).inputFiles.length === filesBefore)
    // compacting an unchanged table is a no-op (token pins the source)
    assert(Snapshots.compact(spark, t) === 7L)
  }

  test("optimizeZOrder keeps rows/history, makes 2-D box pruning bite, no-ops when current") {
    import graft.sources.FileStats
    val t = tbl()
    // hashed scatter in both dims + a NULL row in each dim: the
    // round-robin commit spreads every (x, y) region across all files
    val df = spark.range(4096).select(
      (col("id") * 2654435761L % 997).as("x"),
      ((col("id") * 40503L + 17) % 1013).as("y"))
      .union(Seq[(java.lang.Long, java.lang.Long)]((null, 5L), (7L, null))
        .toDF("x", "y"))
    Snapshots.commit(df.repartition(16), t)
    val before = Snapshots.dataFiles(spark, t)
    val box = col("x") < 249 && col("y") < 253 // ~1/16 of the key space
    assert(FileStats.prune(spark, t, before, box).size === before.size,
      "round-robin layout should defeat pruning")
    val expect = df.filter(box).count()
    val v = Snapshots.optimizeZOrder(spark, t, "x", "y", numFiles = 16)
    assert(v === 2L)
    val after = Snapshots.dataFiles(spark, t)
    assert(after.size === 16)
    // rows preserved exactly, NULL-dim rows included
    assert(Snapshots.read(spark, t).count() === 4098L)
    assert(Snapshots.read(spark, t).select(sum("x")).head().getLong(0) ===
      df.agg(sum("x")).head().getLong(0))
    // the same box now opens a small fraction of the table
    val kept = FileStats.prune(spark, t, after, box).size
    assert(kept <= 4, s"z-ordered layout kept $kept of 16 files")
    assert(Snapshots.readWhere(spark, t, box).count() === expect)
    // pre-optimize snapshot still time-travels to the old layout
    assert(Snapshots.read(spark, t, asOf = Some(1L)).inputFiles.length === 16)
    // same clustering on an unchanged table is a no-op…
    assert(Snapshots.optimizeZOrder(spark, t, "x", "y") === 2L)
    // …but different columns re-cluster (new version)
    assert(Snapshots.optimizeZOrder(spark, t, "y", "x") === 3L)
    // history() reads the story back as driver-side metadata
    val h = Snapshots.history(spark, t).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(h(0).isNullAt(1), "plain commits carry no token")
    assert(h(1).getString(1) === "zorder-of-v1:x,y")
    assert(h(2).getString(1) === "zorder-of-v2:y,x")
    assert(h.forall(_.getInt(2) > 0))
  }

  test("streaming snapshotSink: one version per batch, replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val t = tbl()
    val ck = Files.createTempDirectory("snapck").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Int]
    mem.addData(1, 2, 3)
    val q1 = streaming.Streams.snapshotSink(mem.toDF(), t, ck)
    q1.processAllAvailable(); q1.stop()
    mem.addData(4, 5)
    val q2 = streaming.Streams.snapshotSink(mem.toDF(), t, ck)
    q2.processAllAvailable(); q2.stop()
    assert(Snapshots.read(spark, t).count() === 5)
    // simulate the crash-after-commit-before-checkpoint replay of batch 1
    // (the sink's token pairs the batch id with the checkpoint digest —
    // bare batch ids collide across checkpoints)
    val v = Snapshots.commit((99 to 100).toDF("value"), t,
      token = Some(sinkToken(ck, 1L)))
    assert(v === Snapshots.versions(spark, t).last)
    assert(Snapshots.read(spark, t).count() === 5)
  }

  test("two snapshotSink streams on one table: batch ids never collide across checkpoints") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = tbl()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // both streams' FIRST batch is batch 0 — a bare batch-N token would
    // make the second stream's batch 0 a "replay" of the first's and
    // silently swallow it (permanent data loss)
    val m1 = MemoryStream[Int]; m1.addData(1, 2, 3)
    val q1 = streaming.Streams.snapshotSink(m1.toDF(), t,
      Files.createTempDirectory("ckA").toString)
    q1.processAllAvailable(); q1.stop()
    val m2 = MemoryStream[Int]; m2.addData(10, 20)
    val q2 = streaming.Streams.snapshotSink(m2.toDF(), t,
      Files.createTempDirectory("ckB").toString)
    q2.processAllAvailable(); q2.stop()
    assert(Snapshots.read(spark, t).count() === 5)
    assert(Snapshots.versions(spark, t) === Seq(1L, 2L))
  }

  test("streaming commits drive an incremental CDC consumer exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = tbl()
    val ck = Files.createTempDirectory("cdcck").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Int]
    // downstream consumer: after each commit, reads ONLY the delta
    // (changes since the last version it saw) — the end-to-end
    // exactly-once chain: stream -> atomic snapshot publish -> CDC read
    var seenVersion = 0L
    val consumed = scala.collection.mutable.ArrayBuffer.empty[Int]
    def consume(): Unit = {
      val latest = Snapshots.versions(spark, t).last
      if (latest > seenVersion) {
        val delta =
          if (seenVersion == 0L) Snapshots.read(spark, t, asOf = Some(latest))
          else Snapshots.changes(spark, t, seenVersion, latest)
        consumed ++= delta.as[Int].collect()
        seenVersion = latest
      }
    }
    mem.addData(1, 2, 3)
    val q1 = streaming.Streams.snapshotSink(mem.toDF(), t, ck)
    q1.processAllAvailable(); q1.stop()
    consume()
    mem.addData(4, 5)
    mem.addData(6)
    val q2 = streaming.Streams.snapshotSink(mem.toDF(), t, ck)
    q2.processAllAvailable(); q2.stop()
    consume()
    // a replayed batch commits nothing new -> the consumer sees no delta
    Snapshots.commit((1 to 3).toDF("value"), t, token = Some(sinkToken(ck, 0L)))
    consume()
    assert(consumed.sorted.toSeq === Seq(1, 2, 3, 4, 5, 6),
      s"CDC consumer must see every row exactly once, got $consumed")
  }

  test("vacuum expires history, keeps shared files, deletes orphans") {
    val t = tbl()
    Snapshots.commit((1 to 4).toDF("x"), t)               // v1
    Snapshots.commit((5 to 6).toDF("x"), t)               // v2 = v1 files + new
    Snapshots.commit((10 to 11).toDF("x"), t, overwrite = true) // v3 drops all
    val deleted = Snapshots.vacuum(spark, t, keepVersions = 2)
    // v1 expired; its files survive because v2 still references them
    assert(deleted === 0)
    assert(Snapshots.versions(spark, t) === Seq(2L, 3L))
    assert(Snapshots.read(spark, t, asOf = Some(2L)).count() === 6)
    intercept[IllegalArgumentException](Snapshots.read(spark, t, asOf = Some(1L)))
    // expiring v2 must delete its files (v3 overwrote, nothing shares them)
    assert(Snapshots.vacuum(spark, t, keepVersions = 1) > 0)
    assert(Snapshots.read(spark, t).select(sum("x")).head().getLong(0) === 21L)
  }

  test("mergeSchema read unions evolved schemas; old files read null") {
    val t = tbl()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    Snapshots.commit(Seq((2L, "b", 9.5)).toDF("id", "s", "score"), t)
    val merged = Snapshots.read(spark, t, mergeSchema = true)
    assert(merged.columns.sorted.toSeq === Seq("id", "s", "score"))
    assert(merged.count() === 2)
    assert(merged.filter(col("score").isNull).select("id").head().getLong(0) === 1L)
  }

  test("changes() reads exactly the appended files; refuses rewritten history") {
    val t = tbl()
    Snapshots.commit((1 to 10).toDF("x"), t)
    Snapshots.commit((11 to 13).toDF("x"), t)
    val cdc = Snapshots.changes(spark, t, from = 1L, to = 2L)
    assert(cdc.orderBy("x").as[Int].collect().toSeq === Seq(11, 12, 13))
    // file-granular proof: the CDC scan's file set excludes v1's files
    val scanned = cdc.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    val v1Only = Snapshots.read(spark, t, asOf = Some(1L))
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanned !== v1Only)
    // overwrite breaks the append-only contract -> loud failure
    Snapshots.commit((100 to 101).toDF("x"), t, overwrite = true)
    intercept[IllegalArgumentException](Snapshots.changes(spark, t, 2L, 3L))
    // identical versions -> empty feed with the table's schema
    assert(Snapshots.changes(spark, t, 3L, 3L).count() === 0)
  }

  test("changeFeed diffs across DML; updates pair; carried files never read") {
    val t = tbl()
    // 8 range-partitioned files so DML touches a strict file subset
    Snapshots.commit((1 to 800).map(_.toLong).toDF("id")
      .withColumn("v", col("id") * 10)
      .repartitionByRange(8, col("id")), t)
    // v2: update id 5 (in-range rewrite), insert id 900
    Snapshots.merge(spark, t,
      Seq((5L, 999L), (900L, 9000L)).toDF("id", "v"), "id")
    // v3: delete ids 200..250
    Snapshots.deleteWhere(spark, t, col("id").between(200, 250))
    val feed = Snapshots.changeFeed(spark, t, from = 1L, to = 3L)
    val rows = feed.orderBy("_change_type", "id")
      .as[(Long, Long, String)].collect().toSeq
    val deletes = rows.filter(_._3 == "delete").map(r => (r._1, r._2))
    val inserts = rows.filter(_._3 == "insert").map(r => (r._1, r._2))
    // update id=5 surfaces as its delete+insert pair; deleted range as
    // deletes only; brand-new id=900 as an insert only
    assert(inserts === Seq((5L, 999L), (900L, 9000L)))
    assert(deletes === (Seq((5L, 50L)) ++ (200L to 250L).map(i => (i, i * 10))))
    // feed equals the brute-force two-snapshot multiset diff
    val s1 = Snapshots.read(spark, t, asOf = Some(1L))
    val s3 = Snapshots.read(spark, t, asOf = Some(3L))
    assert(s3.exceptAll(s1).count() === inserts.size)
    assert(s1.exceptAll(s3).count() === deletes.size)
    // carried files cancel algebraically AND are never opened, unless
    // the merge's sidecar kills rows in one (its pre-image of id 5 is
    // read from there): the feed's input files are the manifests'
    // symmetric difference plus that one file
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val m1 = Snapshots.dataFiles(spark, t, Some(1L)).map(norm).toSet
    val m3 = Snapshots.dataFiles(spark, t, Some(3L)).map(norm).toSet
    val killedIn = PositionDeletes.referencedDataFiles(spark,
      Snapshots.deleteFiles(spark, t, Some(3L))).map(norm).toSet
    val touched = (m1 diff m3) ++ (m3 diff m1) ++ (killedIn intersect m3)
    val carried = (m1 intersect m3) diff killedIn
    assert(carried.nonEmpty) // the layout really leaves untouched carried files
    val in = feed.inputFiles.map(norm).toSet
    assert(in.nonEmpty && in.subsetOf(touched))
    // append-only ranges agree with the fast-path changes()
    val v4 = Snapshots.commit(Seq((1000L, 1L)).toDF("id", "v"), t)
    val fastRows = Snapshots.changes(spark, t, 3L, v4)
      .as[(Long, Long)].collect().toSet
    val feedRows = Snapshots.changeFeed(spark, t, 3L, v4)
    assert(feedRows.select("_change_type").distinct()
      .as[String].collect().toSeq === Seq("insert"))
    assert(feedRows.select("id", "v").as[(Long, Long)].collect().toSet === fastRows)
    // identical versions -> empty feed
    assert(Snapshots.changeFeed(spark, t, v4, v4).count() === 0)
  }

  test("TIMESTAMP AS OF resolves by publish time; V2 option agrees") {
    val t = tbl()
    Snapshots.commit((1 to 10).toDF("x"), t)
    Thread.sleep(50) // distinct manifest mtimes at ms resolution
    Snapshots.commit((11 to 15).toDF("x"), t)
    val times = Snapshots.history(spark, t)
      .select("version", "committed_at").as[(Long, java.sql.Timestamp)]
      .collect().toMap
    // between the commits -> v1; at/after the last -> v2 (Iceberg's
    // newest-at-or-before rule); before the first -> loud failure
    val mid = times(1L).getTime + (times(2L).getTime - times(1L).getTime) / 2
    assert(Snapshots.versionAsOfTimestamp(spark, t, mid) === 1L)
    assert(Snapshots.versionAsOfTimestamp(spark, t, times(2L).getTime) === 2L)
    assert(Snapshots.versionAsOfTimestamp(spark, t,
      System.currentTimeMillis() + 60000) === 2L)
    intercept[IllegalArgumentException](
      Snapshots.versionAsOfTimestamp(spark, t, times(1L).getTime - 1))
    // the V2 read surface: epoch-millis and SQL-timestamp forms, and
    // the both-options ambiguity is rejected
    assert(spark.read.format("graft-snapshot").option("path", t)
      .option("asOfTimestamp", mid.toString).load().count() === 10)
    assert(spark.read.format("graft-snapshot").option("path", t)
      .option("asOfTimestamp",
        new java.sql.Timestamp(times(2L).getTime).toString)
      .load().count() === 15)
    intercept[Exception](spark.read.format("graft-snapshot").option("path", t)
      .option("asOf", "1").option("asOfTimestamp", mid.toString)
      .load().count())
  }

  test("merge rejects a schema-mismatched updates frame even when no key matches") {
    val t = tbl()
    Snapshots.commit(Seq((1L, 10L)).toDF("id", "v"), t)
    // keys match nothing -> hit-empty path: without the up-front check
    // the mismatched frame would commit verbatim, silently mixing two
    // physical layouts in one manifest
    val e = intercept[IllegalArgumentException](
      Snapshots.merge(spark, t, Seq((99L, "x")).toDF("id", "other"), "id"))
    assert(e.getMessage.contains("committed schema"), e.getMessage)
    assert(Snapshots.versions(spark, t) === Seq(1L)) // nothing published
  }

  test("deleteWhere on a zero-file snapshot is a no-op, not a crash") {
    val t = tbl()
    // a manifest listing zero files (header only) — the state an
    // empty-commit/delete-everything history can leave behind
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(t))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$t/manifest-v1.json"), false)
    out.write("v1".getBytes("UTF-8")); out.close()
    assert(Snapshots.dataFiles(spark, t, Some(1L)).isEmpty)
    assert(Snapshots.deleteWhere(spark, t, col("x") > 0) === 1L)
    assert(Snapshots.versions(spark, t) === Seq(1L))
  }

  test("z-order keeps NULL-dimension rows clustered FIRST, not at the max") {
    val t = tbl()
    // x NULL for ids 1..50: least()'s null-skipping would z-place them
    // at 65535, interleaving NULLs into the top-x files and widening
    // those files' ranges — the exact pruning this rewrite exists for
    Snapshots.commit((1L to 800L).toDF("id")
      .withColumn("x", when(col("id") <= 50L, lit(null).cast("long"))
        .otherwise(col("id")))
      .withColumn("y", col("id") % 100)
      .repartition(8), t)
    Snapshots.optimizeZOrder(spark, t, "x", "y", numFiles = 8)
    assert(Snapshots.read(spark, t).count() === 800) // NULLs preserved
    assert(Snapshots.read(spark, t).filter(col("x").isNull).count() === 50)
    // a top-x box read must not open the file(s) holding the NULL rows:
    // every file whose stats show an x range reaching the top quartile
    // must carry ZERO nulls in x (NULLs clustered first, away from it)
    // restrict to the CURRENT manifest: the sidecar keeps stats for
    // every version's files, including v1's pre-optimize layout
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val current = Snapshots.dataFiles(spark, t).map(norm).toSet
    val stats = graft.sources.FileStats.load(spark, t)
      .filter { case (f, _) => current(norm(f)) }
    val topFiles = stats.filter { case (_, cols) =>
      cols.get("x").exists(_.max.exists(_.asInstanceOf[Long] > 600L))
    }
    assert(topFiles.nonEmpty)
    assert(topFiles.forall { case (_, cols) => !cols("x").hasNulls },
      s"top-x files carry NULLs: ${topFiles.keys}")
  }

  test("restore rolls back metadata-only; history survives; feed reports the undo") {
    val t = tbl()
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    Snapshots.commit((1L to 100L).toDF("id").withColumn("v", col("id"))
      .repartitionByRange(4, col("id")), t)
    Snapshots.deleteWhere(spark, t, col("id") > 90L) // v2: the "accident"
    Snapshots.commit(Seq((200L, 2L)).toDF("id", "v"), t) // v3: post-accident append
    val r = Snapshots.restore(spark, t, 1L)
    assert(r === 4L)
    // rows are exactly v1's; the rolled-past versions stay readable
    assert(Snapshots.read(spark, t).select(sum("id")).head().getLong(0) ===
      (1L to 100L).sum)
    assert(Snapshots.read(spark, t, asOf = Some(2L)).count() === 90)
    assert(Snapshots.read(spark, t, asOf = Some(3L)).count() === 91)
    // metadata-only: the restored manifest references v1's files verbatim
    assert(Snapshots.dataFiles(spark, t, Some(4L)).map(norm).toSet ===
      Snapshots.dataFiles(spark, t, Some(1L)).map(norm).toSet)
    // the feed across the restore reports exactly what the undo changed:
    // the 10 deleted rows return, the interleaved append drops out
    val feed = Snapshots.changeFeed(spark, t, 3L, 4L)
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(feed === ((91L to 100L).map(i => (i, i, "insert")) :+
      (200L, 2L, "delete")).sorted)
    // replay over the same head is idempotent; restore-to-head is a no-op
    assert(Snapshots.restore(spark, t, 1L) === 4L)
    assert(Snapshots.history(spark, t).filter(col("version") === 4L)
      .select("token").head().getString(0).startsWith("restore-of-v1"))
    // vacuum keeps the restored version fully readable (its files are
    // referenced by the surviving manifest chain)
    Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(Snapshots.read(spark, t).count() === 100)
  }

  test("restore losing the version race retries; the published manifest is still v's") {
    val t = tbl()
    Snapshots.commit((1 to 10).toDF("x"), t)
    Snapshots.commit((11 to 15).toDF("x"), t)
    // occupy v3 the way a racing winner would (the rename-lock test's
    // shape): restore must lose at 3, re-read the head, publish at 4
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v2Files = scala.io.Source.fromInputStream(
      fs.open(new org.apache.hadoop.fs.Path(s"$t/manifest-v2.json")), "UTF-8")
      .mkString
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$t/manifest-v3.json"), false)
    out.write(("v3" + v2Files.dropWhile(_ != '\n')).getBytes("UTF-8")); out.close()
    assert(Snapshots.restore(spark, t, 1L) === 4L)
    assert(Snapshots.read(spark, t).count() === 10)
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    assert(Snapshots.dataFiles(spark, t, Some(4L)).map(norm).toSet ===
      Snapshots.dataFiles(spark, t, Some(1L)).map(norm).toSet)
  }

  test("changeFeed skips row-preserving maintenance without reading data") {
    val t = tbl()
    Snapshots.commit((1L to 200L).toDF("id").withColumn("v", col("id"))
      .repartitionByRange(8, col("id")), t)
    Snapshots.compact(spark, t, numFiles = 2)                  // v2
    Snapshots.optimizeZOrder(spark, t, "id", "v", numFiles = 2) // v3
    // the whole range is consecutive maintenance rewrites: empty by the
    // rebase contract, and the short-circuit proves it WITHOUT the
    // O(moved-bytes) diff — zero data files in the plan
    val feed = Snapshots.changeFeed(spark, t, 1L, 3L)
    assert(feed.count() === 0)
    assert(feed.inputFiles.isEmpty)
    // a DML commit inside the range disables the skip; the diff still
    // nets out to exactly that commit's rows across the compaction
    Snapshots.commit(Seq((900L, 9L)).toDF("id", "v"), t) // v4
    Snapshots.compact(spark, t, numFiles = 1)            // v5
    val feed2 = Snapshots.changeFeed(spark, t, 3L, 5L)
    assert(feed2.as[(Long, Long, String)].collect().toSeq ===
      Seq((900L, 9L, "insert")))
  }

  test("changeFeed refuses a type-changing evolution instead of casting rows away") {
    val t = tbl()
    Snapshots.commit(Seq((1L, "abc")).toDF("id", "v"), t)
    // overwrite evolves v: STRING -> BIGINT; a silent cast would turn
    // the delete event's 'abc' into NULL (or cancel a real pair)
    Snapshots.commit(Seq((1L, 5L)).toDF("id", "v"), t, overwrite = true)
    val e = intercept[IllegalStateException](
      Snapshots.changeFeed(spark, t, 1L, 2L).collect())
    assert(e.getMessage.contains("changed type"), e.getMessage)
  }

  test("changeFeed aligns evolved schemas: absent columns read as NULL") {
    val t = tbl()
    Snapshots.commit((1 to 4).map(_.toLong).toDF("id"), t)
    // schema-evolving append: the new file carries an extra column
    Snapshots.commit(Seq((5L, "e")).toDF("id", "tag"), t)
    // overwrite drops back to the narrow schema: v2's files all removed
    Snapshots.commit(Seq(9L).toDF("id"), t, overwrite = true)
    val feed = Snapshots.changeFeed(spark, t, from = 2L, to = 3L)
    val got = feed.select("id", "tag", "_change_type")
      .as[(Long, Option[String], String)].collect().toSet
    // removed side carries tag (NULL for v1-era files), added side
    // lacks it entirely -> typed NULL; the diff still row-matches
    assert(got === Set((9L, None, "insert"), (5L, Some("e"), "delete")) ++
      (1L to 4L).map(i => (i, None, "delete")))
  }

  test("merge() is merge-on-read: every file carries, one sidecar names the hit file") {
    val t = tbl()
    // 8 range-partitioned files over ids 1..800
    Snapshots.commit((1 to 800).map(_.toLong).toDF("id")
      .withColumn("v", col("id") * 10)
      .repartitionByRange(8, col("id")), t)
    val before = Snapshots.read(spark, t, asOf = Some(1L))
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // update 3 keys in one range + insert 2 new keys
    val updates = Seq((5L, -1L), (6L, -2L), (7L, -3L), (9001L, 1L), (9002L, 2L))
      .toDF("id", "v")
    val v = Snapshots.merge(spark, t, updates, "id")
    assert(v === 2L)
    val after = Snapshots.read(spark, t)
    assert(after.count() === 802)
    assert(after.filter(col("id") === 5L).select("v").head().getLong(0) === -1L)
    assert(after.filter(col("id") === 800L).select("v").head().getLong(0) === 8000L)
    // MOR proof at file granularity: v2 carries all 8 of v1's data files
    // and adds the update rows' file; one deletion-vector sidecar names
    // exactly the file holding ids 5..7, with exactly those 3 positions
    val v1 = Snapshots.dataFiles(spark, t, Some(1L))
    val v2 = Snapshots.dataFiles(spark, t, Some(2L))
    assert(v1.size === 8 && v1.toSet.subsetOf(v2.toSet), "every v1 file carries")
    val hitFile = v1.filter(f =>
      spark.read.parquet(f).filter(col("id") === 5L).count() > 0)
    val sidecars = Snapshots.deleteFiles(spark, t)
    assert(sidecars.size === 1)
    assert(PositionDeletes.isDvSidecar(spark, sidecars.head))
    assert(PositionDeletes.summary(spark, sidecars.head).perFile ===
      Map(hitFile.head -> 3L))
    assert(before.nonEmpty)
    // MERGE is undefined when two source rows target one key — refuse
    // loudly rather than writing both
    val ex = intercept[IllegalArgumentException](
      Snapshots.merge(spark, t, Seq((1L, 1L), (1L, 2L)).toDF("id", "v"), "id"))
    assert(ex.getMessage.contains("duplicate"))
    // a merge that matches no key commits only its rows, with no sidecar
    val v3 = Snapshots.merge(spark, t, Seq((9100L, 7L)).toDF("id", "v"), "id")
    assert(Snapshots.deleteFiles(spark, t, Some(v3)) === sidecars)
    assert(Snapshots.dataFiles(spark, t, Some(v3)).size === v2.size + 1)
  }

  test("streaming mergeSink converges to latest state per key; replay is state-idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = tbl()
    val ck = Files.createTempDirectory("mergeck").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    // (key, seq, value): in-batch dup of key 1 — highest seq wins
    mem.addData((1L, 10L, "a"), (2L, 10L, "b"), (1L, 11L, "a2"))
    val q1 = streaming.Streams.mergeSink(
      mem.toDF().toDF("k", "seq", "v"), t, "k", "seq", ck)
    q1.processAllAvailable(); q1.stop()
    mem.addData((2L, 20L, "b2"), (3L, 20L, "c")) // cross-batch upsert + insert
    val q2 = streaming.Streams.mergeSink(
      mem.toDF().toDF("k", "seq", "v"), t, "k", "seq", ck)
    q2.processAllAvailable(); q2.stop()
    def state() = Snapshots.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(state() === Set((1L, "a2"), (2L, "b2"), (3L, "c")))
    // simulated replay of batch 1: same merge applied again maps the
    // table to the same state (upsert algebra, not tokens)
    Snapshots.merge(spark, t,
      Seq((2L, 20L, "b2"), (3L, 20L, "c")).toDF("k", "seq", "v"), "k")
    assert(state() === Set((1L, "a2"), (2L, "b2"), (3L, "c")))
  }

  test("deleteWhere() is copy-on-write: untouched files carry, history intact") {
    val t = tbl()
    Snapshots.commit((1 to 800).map(_.toLong).toDF("id")
      .repartitionByRange(8, col("id")), t)
    val v = Snapshots.deleteWhere(spark, t, col("id") >= 701L)
    assert(v === 2L)
    assert(Snapshots.read(spark, t).count() === 700)
    assert(Snapshots.read(spark, t).filter(col("id") >= 701L).count() === 0)
    // time travel still sees the deleted rows
    assert(Snapshots.read(spark, t, asOf = Some(1L)).count() === 800)
    // COW proof: the delete hit one range file; 7 of 8 carry verbatim
    def files(ver: Long) = {
      val fs = new org.apache.hadoop.fs.Path(t)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$t/manifest-v$ver.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().drop(1).toSet
      finally in.close()
    }
    assert(files(1L).intersect(files(2L)).size === 7)
    // deleting nothing publishes a version with the identical file set
    val v3 = Snapshots.deleteWhere(spark, t, col("id") > 10000L)
    assert(files(v3) === files(2L))
  }

  test("deleteWhere keeps NULL-predicate rows regardless of file layout") {
    val t = tbl()
    // file 1 mixes a NULL with a matching row; file 2 is NULL-only —
    // SQL DELETE WHERE c > 5 must keep BOTH nulls (a bare !pred would
    // drop the null only in the rewritten file)
    val df = Seq((1L, Some(10L)), (2L, None: Option[Long]))
      .toDF("id", "c").repartition(1)
      .unionByName(Seq((3L, None: Option[Long])).toDF("id", "c").repartition(1))
    Snapshots.commit(df, t)
    Snapshots.deleteWhere(spark, t, col("c") > 5L)
    val kept = Snapshots.read(spark, t).select("id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L, 3L))
  }

  test("gc() reclaims crash orphans past the grace period, never live or fresh files") {
    val t = tbl()
    Snapshots.commit((1 to 10).toDF("x"), t)
    // simulate a writer that crashed between data write and publish
    (11 to 12).toDF("x").write.parquet(s"$t/data/orphan-run")
    // nothing is old enough yet -> the in-flight grace protects it
    assert(Snapshots.gc(spark, t) === 0)
    // with a zero grace the orphan goes; the committed files survive
    val n = Snapshots.gc(spark, t, graceMs = 0L)
    assert(n >= 1, "orphaned part files must be reclaimed")
    assert(Snapshots.read(spark, t).count() === 10)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t/data/orphan-run")))
    // idempotent
    assert(Snapshots.gc(spark, t, graceMs = 0L) === 0)
    // the mid-write crash shape: only _temporary task files, NO
    // top-level part- files — must still be reclaimed
    val tmpDir = new org.apache.hadoop.fs.Path(s"$t/data/died-mid-write/_temporary/0")
    fs.mkdirs(tmpDir)
    val out = fs.create(new org.apache.hadoop.fs.Path(tmpDir, "part-00000"), true)
    out.write("x".getBytes); out.close()
    assert(Snapshots.gc(spark, t, graceMs = 0L) >= 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t/data/died-mid-write")))
    assert(Snapshots.read(spark, t).count() === 10)
  }

  test("parquet pushdown survives the manifest indirection") {
    val t = tbl()
    Snapshots.commit((1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "s"), t)
    val df = Snapshots.read(spark, t).filter(col("id") === 7L)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,7)]"), scan)
    assert(df.count() === 1)
  }
}
