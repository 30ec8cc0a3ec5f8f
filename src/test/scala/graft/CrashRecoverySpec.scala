package graft

import java.nio.file.Files

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Kill-mid-commit recovery, property-swept across commit types: for
  * EVERY control-plane filesystem mutation a commit performs, inject a
  * crash right there (and at every later write — a dead process stops
  * writing entirely, so in-process failure handlers cannot quietly
  * repair state) and assert the snapshot format's ACID story:
  *
  *  1. the table READS after any crash point — either the old version
  *     or the new one, never a torn state;
  *  2. a RETRY of the operation (the next session's move) heals the
  *     table to exactly the clean-run end state.
  *
  * The sweep advances the allowed-mutation budget one step at a time
  * until the operation completes with budget left over, so every
  * prefix of the mutation sequence is exercised — every manifest
  * writer (append, a first bucketed commit with its spec claim,
  * CTAS/RTAS, restore, fork+fastForward, and the rebase publishes:
  * equality-delete upsert, MOR delete, merge, purge, compact and
  * maintain's fused fold), a side-file replace, vacuum and gc. Data-job
  * staging churn (`_temporary`/`_SUCCESS`) is excluded from the budget:
  * Spark's committer owns those crash windows, and a crash anywhere in
  * them is equivalent to the budget point at the job boundary (no
  * manifest referenced anything yet).
  */
class CrashRecoverySpec extends SparkTestBase {

  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.crash.impl", classOf[CrashFs].getName)

  private def df(ids: Range) =
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)

  /** Full observable state: committed versions + live rows (none
    * before the table's first commit).
    */
  private def stateOf(root: String): (Seq[Long], Seq[(Long, String)]) = {
    val vs = Snapshots.versions(spark, root)
    (vs, if (vs.isEmpty) Nil
      else Snapshots.read(spark, root).select("id", "v").as[(Long, String)]
        .collect().sortBy(_._1).toSeq)
  }

  /** Sweep crash points over `op` on a fresh `build`-built table per
    * point. Returns the number of distinct crash points exercised.
    */
  private def sweep(tag: String, maxSteps: Int = 80,
      finalCheck: String => Unit = _ => ())(build: String => Unit)(
      op: String => Unit): Int =
    sweepBy[(Seq[Long], Seq[(Long, String)])](tag, maxSteps, finalCheck,
      stateOf, _ => Set.empty)(build)(op)

  /** [[sweep]] over a custom observed state: `transient(before)` names
    * the states a crash may additionally leave mid-operation (a side-
    * file replace's delete-then-claim gap) — a retry must still heal
    * them to the clean-run end state.
    */
  private def sweepBy[S](tag: String, maxSteps: Int,
      finalCheck: String => Unit, observe: String => S,
      transient: S => Set[S])(build: String => Unit)(
      op: String => Unit): Int = {
    val parent = Files.createTempDirectory(s"crash-$tag").toString
    // clean reference run pins the expected end state (versions are
    // deterministic across identical builds; rows likewise)
    val ref = s"crash:$parent/ref"
    build(ref)
    op(ref)
    val after = observe(ref)
    val filter = (p: String) =>
      p.contains(parent) && !p.contains("_temporary") && !p.contains("_SUCCESS")
    var k = 0
    var completed = false
    var crashPoints = 0
    while (!completed && k <= maxSteps) {
      val root = s"crash:$parent/t$k"
      CrashFsHook.disable()
      build(root)
      val before = observe(root)
      CrashFsHook.arm(k, filter)
      // a fired hook counts as a crash point even when the op RETURNED:
      // best-effort walks (gc) swallow per-dir IO failures by design,
      // and the mutations after the injection were still all blocked —
      // exactly the state a real crash leaves
      val threw =
        try { op(root); false }
        catch {
          case _: Throwable if CrashFsHook.fired => true
          case t: Throwable => CrashFsHook.disable(); throw t
        }
      val crashed = threw || CrashFsHook.fired
      CrashFsHook.disable()
      if (crashed) crashPoints += 1 else completed = true
      // invariant 1: never a torn read — old state or new state
      val now = observe(root)
      assert(now == before || now == after || transient(before)(now),
        s"$tag crash@$k: torn state\n  before=$before\n  after=$after\n  now=$now")
      // invariant 2: retry heals to the clean-run end state
      if (now != after) {
        op(root)
        val healed = observe(root)
        assert(healed == after, s"$tag crash@$k: retry did not heal\n" +
          s"  healed=$healed\n  after=$after")
      }
      finalCheck(root)
      k += 1
    }
    assert(completed,
      s"$tag: op still crashing after $maxSteps budget steps — widen maxSteps")
    crashPoints
  }

  test("append commit survives a crash at every control-plane step") {
    val pts = sweep("append")(r => Snapshots.commit(df(1 to 4), r): Unit) {
      r => Snapshots.commit(df(5 to 8), r): Unit
    }
    assert(pts > 0)
  }

  test("equality-delete upsert survives a crash at every step") {
    val pts = sweep("upserteq")(r => Snapshots.commit(df(1 to 4), r): Unit) {
      r => Snapshots.upsertEq(spark, r,
        Seq((2L, "B!"), (9L, "i")).toDF("id", "v"), Seq("id")): Unit
    }
    assert(pts > 0)
  }

  test("MOR delete (position-delta commit) survives a crash at every step") {
    val pts = sweep("mordel")(r => Snapshots.commit(df(1 to 4), r): Unit) {
      r => Snapshots.deleteWhereMor(spark, r, col("id") >= 3): Unit
    }
    assert(pts > 0)
  }

  test("purgeDeletes survives a crash at every step") {
    val pts = sweep("purge") { r =>
      Snapshots.commit(df(1 to 4), r)
      Snapshots.deleteWhereMor(spark, r, col("id") === 2): Unit
    } { r => Snapshots.purgeDeletes(spark, r): Unit }
    assert(pts > 0)
  }

  test("compact survives a crash at every step") {
    val pts = sweep("compact") { r =>
      Snapshots.commit(df(1 to 4), r)
      Snapshots.commit(df(5 to 8), r): Unit
    } { r => Snapshots.compact(spark, r, 1): Unit }
    assert(pts > 0)
  }

  /** After a crashed op and its retry: gc reclaims every write root no
    * manifest references, so each dir left under data/, deletes/ and
    * eqdeletes/ holds a file some version lists.
    */
  private def noOrphanDirs(r: String): Unit = {
    Snapshots.gc(spark, r, graceMs = -60000L): Unit
    val referenced = Snapshots.versions(spark, r).flatMap(v =>
      Snapshots.dataFiles(spark, r, Some(v)) ++ Snapshots.deleteFiles(spark, r, Some(v)) ++
        Snapshots.eqDeleteFiles(spark, r, Some(v)).map(_._2))
    val f = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("data", "deletes", "eqdeletes").map(new org.apache.hadoop.fs.Path(r, _))
      .filter(f.exists).flatMap(f.listStatus(_)).map(_.getPath.toString)
      .foreach(d => assert(referenced.exists(_.startsWith(d + "/")), s"orphaned $d under $r"))
  }

  test("maintain (one fused fold commit) survives a crash at every step") {
    // an equality sidecar, a deletion vector and a small-file tail: the
    // three folds publish as one version, so a crash leaves the old
    // head or the folded one, and gc reclaims a crashed attempt's dir
    val pts = sweep("maintain", finalCheck = noOrphanDirs) { r =>
      Snapshots.commit(df(1 to 4), r)
      Snapshots.commit(df(5 to 8), r)
      Snapshots.deleteWhereMor(spark, r, col("id") === 2)
      Snapshots.upsertEq(spark, r, Seq((6L, "F!"), (9L, "i")).toDF("id", "v"), Seq("id")): Unit
    } { r =>
      val before = Snapshots.versions(spark, r).last
      val a = Snapshots.maintain(spark, r, minInputFiles = 2)
      assert(a.map(_._3).toSet.subsetOf(Set(before + 1)), s"$a over v$before")
    }
    assert(pts > 0)
  }

  test("restore survives a crash at every step") {
    val pts = sweep("restore") { r =>
      Snapshots.commit(df(1 to 4), r)
      Snapshots.commit(df(5 to 8), r): Unit
    } { r => Snapshots.restore(spark, r, 1L): Unit }
    assert(pts > 0)
  }

  test("fork + fastForward (WAP publish) survives a crash at every step") {
    // each attempt forks a FRESH branch (the documented recovery story:
    // a crashed publish is retried by re-fork + re-stage — the parent
    // table must stay intact through every crash point regardless)
    val attempt = new java.util.concurrent.atomic.AtomicInteger()
    val pts = sweep("wap", maxSteps = 120)(
      r => Snapshots.commit(df(1 to 4), r): Unit) { r =>
      val b = s"$r-branch${attempt.incrementAndGet()}"
      Snapshots.fork(spark, r, b)
      Snapshots.commit(df(5 to 8), b)
      Snapshots.fastForward(spark, r, b): Unit
    }
    assert(pts > 0)
  }

  test("merge (rebase publish with a conflict check) survives a crash at every step") {
    // the merge writes two dirs, the update rows under data/ and the
    // deletion vector under deletes/, and a crash can strand either: once
    // the retry has published, gc reclaims every dir no manifest
    // references, and exactly one sidecar dir (the published one) stays
    def bothReclaimed(r: String): Unit = {
      noOrphanDirs(r)
      val deletes = new org.apache.hadoop.fs.Path(r, "deletes")
      val dirs = deletes.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(deletes).map(_.getPath.toString).toSeq
      assert(dirs.size === 1, s"sidecar dirs under $r: $dirs")
    }
    val pts = sweep("merge", finalCheck = bothReclaimed)(
      r => Snapshots.commit(df(1 to 4), r): Unit) {
      r => Snapshots.merge(spark, r,
        Seq((2L, "B!"), (9L, "i")).toDF("id", "v"), "id"): Unit
    }
    assert(pts > 0)
  }

  /** A snapshot catalog whose warehouse is the sweep's crash-scheme
    * parent dir, so `<cat>.<name>` resolves to the sweep's table root.
    */
  private def catalogOf(root: String): String = {
    val parent = new org.apache.hadoop.fs.Path(root).getParent.toString
    val cat = s"crashcat${math.abs(parent.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", parent)
    s"$cat.${new org.apache.hadoop.fs.Path(root).getName}"
  }

  test("CTAS (staged create publish) survives a crash at every step") {
    val pts = sweep("ctas")(_ => ()) { r =>
      spark.sql(s"CREATE TABLE ${catalogOf(r)} AS SELECT /*+ COALESCE(1) */ " +
        "id, concat('v', id) AS v FROM range(1, 5)"): Unit
    }
    assert(pts > 0)
  }

  test("RTAS (staged replace publish) survives a crash at every step") {
    val pts = sweep("rtas")(r => Snapshots.commit(df(1 to 4), r): Unit) { r =>
      spark.sql(s"CREATE OR REPLACE TABLE ${catalogOf(r)} AS SELECT " +
        "/*+ COALESCE(1) */ id, concat('v', id) AS v FROM range(10, 13)"): Unit
    }
    assert(pts > 0)
  }

  test("a first commitBucketed (bucketspec claim + retire) survives a crash at every step") {
    // a crash after the spec claim leaves the spec without a manifest
    // (its retire-on-failure delete is blocked like every later write);
    // the retry must accept that same-spec leftover and publish
    val pts = sweep("bucketed", finalCheck = r =>
        assert(Snapshots.bucketSpec(spark, r) === Some(("id", 2)))
      )(_ => ()) {
      r => Snapshots.commitBucketed(df(1 to 4), r, "id", 2): Unit
    }
    assert(pts > 0)
  }

  test("a side-file replace (setSortSpec) survives a crash at every step") {
    def observe(r: String) = (stateOf(r), Snapshots.sortSpec(spark, r))
    val pts = sweepBy[((Seq[Long], Seq[(Long, String)]), Seq[String])](
        "sortspec", 80, _ => (), observe,
        // the replace deletes the old spec before claiming the new one:
        // a crash in between reads as no declared order (writes then
        // land unclustered — never a torn spec) until the retry
        before => Set((before._1, Nil)))(
      r => {
        Snapshots.commit(df(1 to 4), r)
        Snapshots.setSortSpec(spark, r, Seq("v"))
      }) { r => Snapshots.setSortSpec(spark, r, Seq("id")) }
    assert(pts > 0)
  }

  test("vacuum survives a crash at every step: head always readable, retry completes expiry") {
    // vacuum needs its own invariants: a crash mid-expiry legitimately
    // leaves a SUBSET of the old manifests (and possibly expired
    // versions whose files are already gone — vacuumed history has no
    // read contract), so full state equality is wrong. What must hold
    // at every crash point: the LATEST version reads exactly the same
    // rows, it is never expired itself, and a retry finishes the expiry
    // to exactly the clean-run end state.
    val parent = Files.createTempDirectory("crash-vacuum").toString
    def build(r: String): Unit = {
      Snapshots.commit(df(1 to 4), r)
      Snapshots.commit(df(5 to 8), r)
      Snapshots.compact(spark, r, 1): Unit // v3: v1/v2 files become expirable
    }
    def headRows(r: String): Seq[(Long, String)] =
      Snapshots.read(spark, r).select("id", "v").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
    val ref = s"crash:$parent/ref"
    build(ref)
    Snapshots.vacuum(spark, ref, keepVersions = 1)
    val afterRows = headRows(ref)
    val afterVersions = Snapshots.versions(spark, ref)
    assert(afterVersions === Seq(3L))
    val filter = (p: String) =>
      p.contains(parent) && !p.contains("_temporary") && !p.contains("_SUCCESS")
    var k = 0
    var completed = false
    var crashPoints = 0
    while (!completed && k <= 80) {
      val root = s"crash:$parent/t$k"
      CrashFsHook.disable()
      build(root)
      CrashFsHook.arm(k, filter)
      val threw =
        try { Snapshots.vacuum(spark, root, keepVersions = 1); false }
        catch {
          case _: Throwable if CrashFsHook.fired => true
          case t: Throwable => CrashFsHook.disable(); throw t
        }
      val crashed = threw || CrashFsHook.fired
      CrashFsHook.disable()
      if (crashed) crashPoints += 1 else completed = true
      val vs = Snapshots.versions(spark, root)
      assert(vs.nonEmpty && vs.last == 3L && vs.toSet.subsetOf(Set(1L, 2L, 3L)),
        s"vacuum crash@$k: latest version lost or alien versions appeared: $vs")
      assert(headRows(root) === afterRows,
        s"vacuum crash@$k: the latest snapshot's rows changed")
      Snapshots.vacuum(spark, root, keepVersions = 1) // retry
      assert(Snapshots.versions(spark, root) === afterVersions,
        s"vacuum crash@$k: retry did not finish the expiry")
      assert(headRows(root) === afterRows)
      k += 1
    }
    assert(completed && crashPoints > 0)
  }

  test("gc survives a crash at every step and a retry reclaims the orphan") {
    // negative grace puts the cutoff in the future (a freshly-written
    // orphan would otherwise sit INSIDE the default grace window); the
    // finalCheck reruns gc crash-free and pins that the orphan is gone
    // at EVERY crash point — a swallowed mid-sweep failure may defer
    // reclaim, never lose it
    def orphanGone(r: String): Unit = {
      Snapshots.gc(spark, r, graceMs = -60000L): Unit
      val f = new org.apache.hadoop.fs.Path(r)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$r/data/orphan-dir")),
        s"orphan not reclaimed under $r")
    }
    val pts = sweep("gc", finalCheck = orphanGone) { r =>
      Snapshots.commit(df(1 to 4), r)
      // an orphan write root: the aborted-writer shape gc reclaims
      df(90 to 93).write.parquet(s"$r/data/orphan-dir")
    } { r => Snapshots.gc(spark, r, graceMs = -60000L): Unit }
    assert(pts > 0)
  }
}
