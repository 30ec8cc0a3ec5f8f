package graft

import java.nio.file.{Files, Paths}

import graft.SourceLint.{codeLines, sites}
import graft.sources.{Snapshots, TablePaths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

/** [[TablePaths]], the one spelling of a table's recorded paths: every
  * writer records files under the table root root-relative (manifest
  * lines, position-sidecar rows, stats keys), the resolve and relativize
  * calls stay at the seams, a table written before the rule (absolute
  * lines and rows) still reads, feeds and MOR-deletes exactly like its
  * relative twin, and RENAME refuses such a table loudly instead of
  * stranding its absolute lines.
  */
class TablePathsSpec extends SparkTestBase {

  import spark.implicits._

  test("resolve and relativize are called only at the seams") {
    val Resolve = """\.resolve\b""".r
    assert(codeLines.collect { case (f, d, l) if Resolve.findFirstIn(l).isDefined => s"$f:$d" }
      .toSet === Set("Snapshots.scala:manifest", "PositionDeletes.scala:summary",
        "DeltaRowLevelOps.scala:names", "FileStats.scala:loadDetail", "FileStats.scala:carry",
        "FileStats.scala:record", "TablePaths.scala:movedTo"))
    assert(sites(".relativize(") === Set("Snapshots.scala:writeManifestBody",
      "DeltaRowLevelOps.scala:toBatch", "FileStats.scala:record", "FileStats.scala:carry"))
    assert(sites(".relativizeId(") === Set("Snapshots.scala:positionSidecar"))
  }

  test("normPath names table roots only, never a data file or sidecar") {
    assert(sites("normPath(") === Set("Memo.scala:normPath", "Memo.scala:dependsOn",
      "Memo.scala:invalidateTable", "ScaleFixture.scala:build",
      "MaterializedViews.scala:registerOnBase", "Snapshots.scala:fileAddVersions",
      "Snapshots.scala:writeBranchRef", "Snapshots.scala:fork", "Snapshots.scala:fastForward",
      "DeltaRowLevelOps.scala:recordRoute", "DeltaRowLevelOps.scala:routeFor"))
  }

  private lazy val wh = {
    val dir = Files.createTempDirectory("graftpaths").toString + "/ware house"
    spark.conf.set("spark.sql.catalog.tp_cat", classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.tp_cat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tp_cat.ns")
    dir
  }

  private def fsOf(p: String) = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def text(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  private def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String) = new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** The recorded path of a manifest body line. */
  private def lineEntry(l: String): String =
    if (l.startsWith("D ")) l.drop(2)
    else if (l.startsWith("E ")) l.drop(2).dropWhile(_ != ' ').drop(1)
    else l

  /** Every path `t` records — each retained manifest's lines, each
    * referenced position sidecar's rows, each stats key — with where it
    * was found.
    */
  private def recorded(t: String): Seq[(String, String)] = {
    val vs = Snapshots.versions(spark, t)
    val manifests = vs.flatMap(v => text(s"$t/manifest-v$v.json").linesIterator.drop(1)
      .filter(_.nonEmpty).map(l => s"manifest v$v" -> lineEntry(l)))
    val sidecars = vs.flatMap(v => Snapshots.deleteFiles(spark, t, Some(v))).distinct
      .flatMap(sc => spark.read.parquet(sc).select("file_path").as[String].collect()
        .map(s"sidecar $sc" -> _))
    val statsDir = new java.io.File(s"$t/stats")
    val stats = Option(statsDir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("stats-"))
      .flatMap(f => text(f.getPath).linesIterator.filter(_.nonEmpty)
        .map(l => s"stats ${f.getName}" -> unb64(l.split("\t", -1)(0))))
    manifests ++ sidecars ++ stats
  }

  /** Recorded paths of `t` that name its own root, in either spelling. */
  private def namingOwnRoot(t: String): Seq[(String, String)] = {
    val root = fsOf(t).makeQualified(new Path(t))
    val spellings = Seq(root.toUri.getPath, root.toUri.getRawPath)
    recorded(t).filter { case (_, e) => spellings.exists(s => e.contains(s + "/")) }
  }

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Every version's rows and every per-step and whole-range feed. */
  private def surfaces(t: String): Seq[Seq[String]] = {
    val vs = Snapshots.versions(spark, t)
    vs.map(v => multiset(Snapshots.read(spark, t, Some(v)))) ++
      vs.zip(vs.tail).map { case (a, b) => multiset(Snapshots.changeFeed(spark, t, a, b)) } :+
      multiset(Snapshots.changeFeed(spark, t, vs.head, vs.last))
  }

  test("a freshly written table holds no absolute path under its own root") {
    val name = "fresh"
    val q = s"tp_cat.ns.$name"
    val t = s"$wh/ns/$name"
    spark.sql(s"CREATE TABLE $q (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $q SELECT id, id * 10 FROM range(0, 40)")
    Snapshots.commit((40L until 80L).map(i => (i, i * 10)).toDF("id", "v").repartition(4), t)
    // SQL copy-on-write DML
    spark.sql(s"UPDATE $q SET v = v + 1 WHERE id < 5")
    spark.sql(s"DELETE FROM $q WHERE id = 7")
    spark.sql(s"MERGE INTO $q USING (SELECT * FROM VALUES (8L, 0L), (900L, 9L) AS s(id, v)) s " +
      s"ON $q.id = s.id WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    Snapshots.merge(spark, t, Seq((10L, -1L), (901L, 1L)).toDF("id", "v"), "id")
    // MOR deletes in both sidecar layouts
    Snapshots.deleteWhereMor(spark, t, col("id") === 20L)
    V1Sidecar.deleteWhere(spark, t, col("id") === 21L)
    // SQL merge-on-read DML
    spark.sql(s"ALTER TABLE $q SET TBLPROPERTIES ('write.update.mode' = 'merge-on-read', " +
      "'write.delete.mode' = 'merge-on-read', 'write.merge.mode' = 'merge-on-read')")
    spark.sql(s"UPDATE $q SET v = 0 WHERE id = 30")
    spark.sql(s"DELETE FROM $q WHERE id = 31")
    spark.sql(s"MERGE INTO $q USING (SELECT * FROM VALUES (32L, 5L), (902L, 2L) AS s(id, v)) s " +
      s"ON $q.id = s.id WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    Snapshots.upsertEq(spark, t, Seq((50L, 5L), (903L, 3L)).toDF("id", "v"), Seq("id"))
    assert(namingOwnRoot(t).isEmpty)
    // maintenance: maintain (equality purge, bin-pack), bin-pack, compact
    assert(Snapshots.maintain(spark, t, targetBytes = 1L << 20, minInputFiles = 2).nonEmpty)
    Snapshots.deleteWhereMor(spark, t, col("id") === 60L)
    Snapshots.binPack(spark, t, targetBytes = 1L << 20)
    Snapshots.compact(spark, t, 2)
    // fork + fast-forward, with a staged MOR delete over staged data
    val b = s"$wh/ns/${name}_branch"
    Snapshots.fork(spark, t, b)
    Snapshots.commit(Seq((1000L, 1L), (1001L, 2L)).toDF("id", "v"), b)
    Snapshots.deleteWhereMor(spark, b, col("id") === 1000L)
    assert(namingOwnRoot(b).isEmpty)
    Snapshots.fastForward(spark, t, b)
    val found = namingOwnRoot(t)
    assert(found.isEmpty, found.take(5))
    // the recorded surfaces were all exercised
    val where = recorded(t).map(_._1.takeWhile(_ != ' ')).toSet
    assert(where === Set("manifest", "sidecar", "stats"))
    val ids = Snapshots.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids.contains(1001L) && !ids.contains(1000L) && !ids.contains(60L) &&
      !ids.contains(20L) && !ids.contains(31L) && ids.contains(903L))
  }

  /** Rewrite the table at `t` in place into the format written before
    * the relative rule: absolute manifest lines, sidecar rows in the
    * `_metadata.file_path` spelling, stats keyed by scheme-free
    * absolute paths.
    */
  private def makeLegacy(t: String): Unit = {
    val fs = fsOf(t)
    val root = fs.makeQualified(new Path(t)).toString
    def abs(e: String): String =
      if (e.startsWith("/") || e.contains(":")) e else s"$root/$e"
    val absId = udf((e: String) => TablePaths.fileId(abs(e)))
    val sidecars = Snapshots.versions(spark, t)
      .flatMap(v => Snapshots.deleteFiles(spark, t, Some(v))).distinct.map { sc =>
        val out = s"$t/deletes/${java.util.UUID.randomUUID}"
        spark.read.parquet(sc).withColumn("file_path", absId(col("file_path")))
          .coalesce(1).write.parquet(out)
        val part = fs.listStatus(new Path(out)).map(_.getPath.getName).find(_.startsWith("part-")).get
        sc.stripPrefix(root + "/") -> s"$out/$part".stripPrefix(t + "/")
      }.toMap
    def rewrite(file: String)(line: String => String): Unit = {
      val lines = text(file).linesIterator.toSeq
      Files.write(Paths.get(file), lines.map(line).mkString("", "\n", "\n").getBytes("UTF-8"))
      val f = new java.io.File(file)
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    }
    Snapshots.versions(spark, t).foreach { v =>
      val lines = text(s"$t/manifest-v$v.json").linesIterator.toSeq
      rewrite(s"$t/manifest-v$v.json") { l =>
        if (l == lines.head || l.isEmpty) l
        else if (l.startsWith("D ")) "D " + abs(sidecars(lineEntry(l)))
        else l.dropRight(lineEntry(l).length) + abs(lineEntry(l))
      }
    }
    Option(new java.io.File(s"$t/stats").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("stats-")).foreach(f => rewrite(f.getPath) { l =>
        val cols = l.split("\t", -1)
        if (cols.length > 1) cols(0) = b64(new Path(abs(unb64(cols(0)))).toUri.getPath)
        cols.mkString("\t")
      })
    Memo.invalidateTable(t)
  }

  /** Copy of the directory tree at `src` to `dst`. */
  private def copyTree(src: String, dst: String): Unit =
    Files.walk(Paths.get(src)).forEach { p =>
      val to = Paths.get(dst).resolve(Paths.get(src).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }

  test("a legacy table with absolute lines reads, feeds and MOR-deletes identically") {
    val base = Files.createTempDirectory("graftlegacy").toString
    val t = s"$base/rel"
    Snapshots.commit((1L to 60L).map(i => (i, i % 7)).toDF("id", "v").repartition(3), t)
    Snapshots.deleteWhereMor(spark, t, col("v") === 3L)
    Snapshots.merge(spark, t, Seq((4L, 40L), (100L, 1L)).toDF("id", "v"), "id")
    Snapshots.upsertEq(spark, t, Seq((5L, 50L), (101L, 2L)).toDF("id", "v"), Seq("id"))
    Snapshots.commit(Seq((200L, 6L)).toDF("id", "v"), t)
    val legacy = s"$base/abs"
    copyTree(t, legacy)
    makeLegacy(legacy)
    assert(namingOwnRoot(legacy).map(_._1.takeWhile(_ != ' ')).toSet ===
      Set("manifest", "sidecar", "stats"))
    assert(surfaces(legacy) === surfaces(t))
    assert(multiset(Snapshots.readWhere(spark, legacy, col("id") < 10L)) ===
      multiset(Snapshots.readWhere(spark, t, col("id") < 10L)))
    Seq(t, legacy).foreach { p =>
      Snapshots.purgeEqDeletes(spark, p)
      Snapshots.deleteWhereMor(spark, p, col("id") % 5 === 0L)
    }
    assert(surfaces(legacy) === surfaces(t))
  }

  test("RENAME of a table holding absolute lines under its root refuses, naming the versions") {
    val q = "tp_cat.ns.leg"
    val t = s"$wh/ns/leg"
    spark.sql(s"CREATE TABLE $q (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $q SELECT id, id FROM range(0, 20)")
    Snapshots.deleteWhereMor(spark, t, col("id") === 3L)
    makeLegacy(t)
    val vs = Snapshots.versions(spark, t)
    val before = multiset(spark.sql(s"SELECT * FROM $q"))
    val e = intercept[IllegalArgumentException](spark.sql(s"ALTER TABLE $q RENAME TO ns.leg2"))
    assert(e.getMessage.contains(s"version(s) ${vs.mkString(", ")}"), e.getMessage)
    assert(multiset(spark.sql(s"SELECT * FROM $q")) === before)
    // a rewrite and an expiry leave nothing to strand
    Snapshots.compact(spark, t, 1)
    Snapshots.vacuum(spark, t, keepVersions = 1)
    spark.sql(s"ALTER TABLE $q RENAME TO ns.leg2")
    assert(multiset(spark.sql("SELECT * FROM tp_cat.ns.leg2")) === before)
  }
}
