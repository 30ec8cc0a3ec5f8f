package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Pins the round-8 WAP/schema-evolution hardening — each test fails on
  * a revert of the corresponding fix:
  *  - fast-forward carries a branch-side declared schema to the parent
  *    (with type-conflict refusal), including on the no-op path;
  *  - the fork token embeds the parent's identity and fast-forward
  *    refuses a foreign parent;
  *  - a failed rename mid-relocation rolls already-moved dirs back;
  *  - merge/deleteWhere project onto the declared schema (a predicate
  *    over an ALTER-added column is typed NULLs, not AnalysisException).
  */
class WapHardeningSpec extends SparkTestBase {

  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"waph-$tag").toString + "/t"

  private val idNote =
    new StructType().add("id", LongType).add("note", StringType)

  test("fast-forward carries a branch-side ALTER to the parent (mixed-shape publish reads deterministically)") {
    val parent = freshDir("carry")
    val branch = parent + "-b"
    Snapshots.commit((1L to 10L).toDF("id"), parent)
    Snapshots.fork(spark, parent, branch)
    // ALTER TABLE ADD COLUMNS on the branch, then stage new-shape rows
    Snapshots.declareSchema(spark, branch, idNote)
    Snapshots.commit(Seq((11L, "audited")).toDF("id", "note"), branch)
    Snapshots.fastForward(spark, parent, branch)
    // without the carry, the parent mixes old- and new-shape files with
    // no override and footer inference nondeterministically drops `note`
    assert(Snapshots.declaredSchema(spark, parent) === Some(idNote),
      "publish must carry the branch's declared schema to the parent")
    val rows = Snapshots.read(spark, parent).orderBy("id").collect()
    assert(rows.length === 11)
    assert(rows.map(_.schema.fieldNames.toSeq).distinct === Seq(Seq("id", "note")))
    assert(rows.take(10).forall(_.isNullAt(1)), "pre-ALTER rows read as typed NULLs")
    assert(rows.last.getString(1) === "audited")
  }

  test("no-op fast-forward still publishes a branch-only ALTER (metadata-only, no version bump)") {
    val parent = freshDir("noopalter")
    val branch = parent + "-b"
    Snapshots.commit((1L to 5L).toDF("id"), parent)
    Snapshots.fork(spark, parent, branch)
    Snapshots.declareSchema(spark, branch, idNote)
    val v = Snapshots.fastForward(spark, parent, branch)
    assert(v === 1L)
    assert(Snapshots.versions(spark, parent) === Seq(1L),
      "ALTER alone never bumps versions — publish stays a no-op commit")
    assert(Snapshots.declaredSchema(spark, parent) === Some(idNote))
    assert(Snapshots.read(spark, parent).columns.toSeq === Seq("id", "note"))
  }

  test("fast-forward refuses a same-name type conflict between branch and parent declared schemas") {
    val parent = freshDir("conflict")
    val branch = parent + "-b"
    Snapshots.commit((1L to 5L).toDF("id"), parent)
    Snapshots.fork(spark, parent, branch)
    Snapshots.declareSchema(spark, branch, idNote)
    Snapshots.commit(Seq((6L, "x")).toDF("id", "note"), branch)
    // the parent's ALTER diverged: same column name, different type
    Snapshots.declareSchema(spark, parent,
      new StructType().add("id", LongType).add("note", LongType))
    val e = intercept[IllegalStateException] {
      Snapshots.fastForward(spark, parent, branch)
    }
    assert(e.getMessage.contains("diverged"))
    // refused BEFORE anything moved: parent head, schema, branch intact
    assert(Snapshots.versions(spark, parent) === Seq(1L))
    assert(Snapshots.declaredSchema(spark, parent).get.fields(1).dataType === LongType)
    assert(Snapshots.read(spark, branch).count() === 6)
  }

  test("divergent-but-compatible ALTERs union by name, parent order first") {
    val parent = freshDir("union")
    val branch = parent + "-b"
    Snapshots.commit((1L to 5L).toDF("id"), parent)
    Snapshots.fork(spark, parent, branch)
    Snapshots.declareSchema(spark, branch, idNote)
    Snapshots.commit(Seq((6L, "x")).toDF("id", "note"), branch)
    Snapshots.declareSchema(spark, parent,
      new StructType().add("id", LongType).add("score", LongType))
    Snapshots.fastForward(spark, parent, branch)
    assert(Snapshots.declaredSchema(spark, parent).map(_.fieldNames.toSeq) ===
      Some(Seq("id", "score", "note")))
    val got = Snapshots.read(spark, parent).orderBy("id").collect()
    assert(got.length === 6 && got.last.getString(2) === "x" && got.last.isNullAt(1))
  }

  test("fork token embeds the parent identity; fast-forward into a foreign parent refuses") {
    val parentA = freshDir("ident-a")
    val parentB = freshDir("ident-b")
    val branch = parentA + "-b"
    Snapshots.commit((1L to 10L).toDF("id"), parentA)
    // a look-alike table whose head ALSO sits at the fork-point version
    Snapshots.commit((1L to 10L).toDF("id"), parentB)
    Snapshots.fork(spark, parentA, branch)
    Snapshots.commit((11L to 20L).toDF("id"), branch)
    assert(Snapshots.forkParent(spark, branch) ===
      Some(new org.apache.hadoop.fs.Path(parentA).toUri.getPath))
    val e = intercept[IllegalArgumentException] {
      Snapshots.fastForward(spark, parentB, branch)
    }
    assert(e.getMessage.contains("foreign parent"))
    // nothing moved, nothing published: B unharmed, branch intact
    assert(Snapshots.versions(spark, parentB) === Seq(1L))
    assert(Snapshots.read(spark, parentB).count() === 10)
    assert(Snapshots.read(spark, branch).count() === 20)
    // the RIGHT parent still publishes
    assert(Snapshots.fastForward(spark, parentA, branch) === 2L)
    assert(Snapshots.read(spark, parentA).count() === 20)
  }

  test("a failed rename mid-relocation rolls already-moved staged dirs back under the branch") {
    val parent = freshDir("rollback")
    val branch = parent + "-b"
    Snapshots.commit((1L to 10L).toDF("id"), parent)
    Snapshots.fork(spark, parent, branch)
    // two staged commits -> two branch-local data dirs, relocated in
    // manifest order
    Snapshots.commit((11L to 20L).toDF("id"), branch)
    Snapshots.commit((21L to 30L).toDF("id"), branch)
    val bData = new java.io.File(s"$branch/data")
    val dirs = bData.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length === 2)
    // simulate a mid-loop failure: the SECOND dir (in manifest order)
    // vanishes, so its rename fails after the first already moved
    val manifest = scala.io.Source.fromFile(
      s"$branch/manifest-v3.json").getLines().drop(1).toSeq
    // branch-LOCAL dirs only: the root-relative lines (fork-point lines
    // reference the parent's data dirs by absolute path and are never
    // relocated)
    val ordered = manifest.filter(_.startsWith("data/"))
      .map(_.stripPrefix("data/").takeWhile(_ != '/')).distinct
    assert(ordered.length === 2)
    val victim = new java.io.File(s"$branch/data/${ordered(1)}")
    assert(victim.exists())
    org.apache.commons.io.FileUtils.deleteDirectory(victim)
    // local FS surfaces the missing source as FileNotFoundException;
    // HDFS-style filesystems return false and hit the require — the
    // rollback path covers both (NonFatal catch)
    val e = intercept[Exception] {
      Snapshots.fastForward(spark, parent, branch)
    }
    assert(e.isInstanceOf[java.io.FileNotFoundException] ||
      e.getMessage.contains("failed to move staged data dir"), e.toString)
    // the first dir was rolled back under the branch; the parent holds
    // no staged dirs and published nothing
    assert(new java.io.File(s"$branch/data/${ordered(0)}").exists(),
      "already-moved dir must be rolled back on a failed rename")
    val pData = new java.io.File(s"$parent/data").listFiles()
    assert(pData == null ||
      !pData.exists(d => ordered.contains(d.getName)),
      "no staged dir may remain under the parent after a failed publish")
    assert(Snapshots.versions(spark, parent) === Seq(1L))
    assert(Snapshots.read(spark, parent).count() === 10)
  }

  test("deleteWhere over an ALTER-added column: typed NULLs, not AnalysisException") {
    val t = freshDir("dmldel")
    Snapshots.commit((1L to 10L).toDF("id"), t)
    Snapshots.declareSchema(spark, t, idNote)
    // predicate matches nothing (note is NULL on every physical file)
    Snapshots.deleteWhere(spark, t, col("note") === "x")
    assert(Snapshots.read(spark, t).count() === 10)
    // and the NULL-ness itself is predicable
    Snapshots.deleteWhere(spark, t, col("note").isNull && col("id") <= 3)
    assert(Snapshots.read(spark, t).as[(Long, String)].collect().map(_._1).sorted
      === (4L to 10L).toArray)
  }

  test("merge on an ALTER-evolved table accepts evolved-shape updates") {
    val t = freshDir("dmlmerge")
    Snapshots.commit((1L to 10L).toDF("id").withColumn("v", col("id")), t)
    Snapshots.declareSchema(spark, t, new StructType()
      .add("id", LongType).add("v", LongType).add("note", StringType))
    // updates carry the table's DECLARED shape (the committed shape of
    // an altered table IS the declared schema)
    Snapshots.merge(spark, t,
      Seq((5L, 50L, "upd"), (11L, 110L, "ins")).toDF("id", "v", "note"), "id")
    val rows = Snapshots.read(spark, t).orderBy("id").collect()
    assert(rows.length === 11)
    assert(rows(4).getLong(1) === 50L && rows(4).getString(2) === "upd")
    assert(rows(0).isNullAt(2), "untouched rows keep typed-NULL note")
    assert(rows(10).getLong(0) === 11L && rows(10).getString(2) === "ins")
  }
}
