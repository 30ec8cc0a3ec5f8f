package graft

import java.nio.file.Files

import graft.sources.{PositionDeletes, Snapshots}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The small-delete-file route (sidecars read on the driver, applied as
  * scan predicates) against its oracle, the anti-join route (forced by
  * setting `graft.snapshot.deleteBroadcastBytes` and
  * `eqDeleteBroadcastBytes` to 0, with the add-version map joined
  * instead of inlined by `addVMapLiteralMaxFiles` 0). Each generated
  * history mixes appends, MOR deletes in both sidecar layouts (stacked
  * on one file, spread over several, leaving others untouched; the v1
  * layout written by [[V1Sidecar]]), copy-on-write deletes (which
  * retire the sidecars of the files they rewrite), equality upserts on
  * a long, a string and a composite key over data rows with NULL keys,
  * merges, both purges, maintains (some forced to
  * fold position sidecars) and restores; every read surface must
  * return the same multiset under both routes, and on each route every
  * change feed must equal the naive diff of two whole snapshot reads
  * ([[NaiveFeed]]), which shares none of its algebra.
  * Each history is also drawn a table root: a plain one, or one whose
  * path URL-encodes (a space, a literal `%41`), so the recorded paths
  * and `_metadata.file_path` spell it differently.
  */
class DeleteRouteEquivalenceSpec extends SparkTestBase {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  /** Table roots a history is drawn under, by the catalog holding them. */
  private val Roots = Seq("route_cat" -> "plain", "route_cat_sp" -> "a b",
    "route_cat_pct" -> "c%41d")

  private lazy val warehouses: Map[String, String] = Roots.map { case (cat, dir) =>
    val wh = Files.createTempDirectory("graftroutes").toString + "/" + dir
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    cat -> wh
  }.toMap

  private val Bounds = Seq("graft.snapshot.deleteBroadcastBytes",
    "graft.snapshot.eqDeleteBroadcastBytes", "graft.snapshot.addVMapLiteralMaxFiles")

  private def antiJoinRoute[A](body: => A): A =
    try { Bounds.foreach(spark.conf.set(_, "0")); body }
    finally Bounds.foreach(spark.conf.unset)

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def planOf(df: DataFrame): String = df.queryExecution.optimizedPlan.toString

  // ---- generated histories ----

  import DeleteRouteEquivalenceSpec._

  private val k1: Gen[java.lang.Long] =
    Gen.frequency(9 -> Gen.chooseNum(0L, 40L).map(java.lang.Long.valueOf), 1 -> Gen.const(null))
  private val k2: Gen[String] = Gen.frequency(9 -> Gen.oneOf("a", "b", "c", "d"), 1 -> Gen.const(null))
  private val row: Gen[(java.lang.Long, String, Long)] =
    Gen.zip(k1, k2, Gen.chooseNum(0L, 1000L))

  private val append: Gen[Op] = for {
    n <- Gen.chooseNum(20, 80); rows <- Gen.listOfN(n, row); files <- Gen.chooseNum(1, 3)
  } yield Append(rows, files)

  private val morDelete: Gen[Op] = for {
    mod <- Gen.chooseNum(2, 5); rem <- Gen.chooseNum(0, 1); maxK <- Gen.chooseNum(10L, 40L)
    v1 <- Gen.oneOf(true, false)
  } yield MorDelete(mod, rem, maxK, v1)

  private val cowDelete: Gen[Op] = for {
    mod <- Gen.chooseNum(3, 7); maxK <- Gen.chooseNum(5L, 40L)
  } yield CowDelete(mod, maxK)

  /** NULL- and duplicate-free on `keys` (upsertEq's and merge's contract). */
  private def keyedRows(keys: Seq[String]): Gen[Rows] = for {
    n <- Gen.chooseNum(1, 12); rows <- Gen.listOfN(n, Gen.zip(
      Gen.chooseNum(0L, 45L).map(java.lang.Long.valueOf), Gen.oneOf("a", "b", "c", "d", "e"),
      Gen.chooseNum(2000L, 3000L)))
  } yield rows.groupBy(r => keys.map(Map("k1" -> r._1, "k2" -> r._2))).values.map(_.head).toSeq

  private val upsert: Gen[Op] = for {
    keys <- Gen.oneOf(Seq("k1"), Seq("k2"), Seq("k1", "k2")); rows <- keyedRows(keys)
  } yield Upsert(keys, rows)

  private val merge: Gen[Op] = keyedRows(Seq("k1")).map(Merge)

  /** Which earlier commit a restore undoes (see `play`). */
  private val restore: Gen[Op] = Gen.chooseNum(1, 4).map(Restore)

  /** A maintain over a small-file threshold of 2-4 files; some force
    * the position fold by a delete bound of 16 bytes.
    */
  private val maintain: Gen[Op] = for {
    minInputFiles <- Gen.chooseNum(2, 4); foldPositions <- Gen.oneOf(true, false)
  } yield Maintain(minInputFiles, foldPositions)

  private val op: Gen[Op] = Gen.frequency(3 -> append, 4 -> morDelete, 4 -> upsert,
    2 -> merge, 1 -> Gen.const(PurgeDeletes), 1 -> Gen.const(PurgeEq), 1 -> restore,
    2 -> maintain, 2 -> cowDelete)

  /** Half the histories end by undoing their latest sidecar commit, so
    * the final step brings the rows it killed back to life.
    */
  private val history: Gen[Seq[Op]] = for {
    first <- append; n <- Gen.chooseNum(4, 7); rest <- Gen.listOfN(n, op)
    undo <- Gen.oneOf(Seq.empty[Op], Seq(Restore(1)))
  } yield (first +: rest) ++ undo

  private def frame(rows: Rows): DataFrame =
    rows.toDF("k1", "k2", "v")

  /** Copy-on-write deletes that rewrote a file a sidecar referenced. */
  private var retiringDeletes = 0

  /** Apply `ops` to the table `name` of catalog `cat`; returns its path.
    * Ops whose contract refuses outstanding equality deletes (a MOR or
    * copy-on-write delete, a merge) or a different key set (an upsert)
    * purge them first.
    */
  private def play(cat: String, name: String, ops: Seq[Op]): String = {
    val t = s"${warehouses(cat)}/ns/$name"
    spark.sql(s"CREATE TABLE $cat.ns.$name (k1 BIGINT, k2 STRING, v BIGINT)")
    def eqKeys: Option[Set[String]] = Snapshots.eqDeleteFiles(spark, t).headOption.map(_ =>
      spark.read.parquet(Snapshots.eqDeleteFiles(spark, t).head._2).columns.toSet)
    ops.foreach {
      case Append(rows, files) => Snapshots.commit(frame(rows).repartition(files), t)
      case MorDelete(mod, rem, maxK, v1) =>
        if (eqKeys.nonEmpty) Snapshots.purgeEqDeletes(spark, t)
        val p = col("v") % mod === rem && (col("k1") <= maxK || col("k1").isNull)
        if (v1) V1Sidecar.deleteWhere(spark, t, p) else Snapshots.deleteWhereMor(spark, t, p)
      case CowDelete(mod, maxK) =>
        if (eqKeys.nonEmpty) Snapshots.purgeEqDeletes(spark, t)
        val referenced = PositionDeletes.referencedDataFiles(spark,
          Snapshots.deleteFiles(spark, t)).toSet.intersect(Snapshots.dataFiles(spark, t).toSet)
        Snapshots.deleteWhere(spark, t, col("v") % mod === 1 && col("k1") <= maxK)
        if (!referenced.subsetOf(Snapshots.dataFiles(spark, t).toSet)) retiringDeletes += 1
      case Upsert(keys, rows) =>
        if (eqKeys.exists(_ != keys.toSet)) Snapshots.purgeEqDeletes(spark, t)
        Snapshots.upsertEq(spark, t, frame(rows), keys)
      case Merge(rows) =>
        if (eqKeys.nonEmpty) Snapshots.purgeEqDeletes(spark, t)
        Snapshots.merge(spark, t, frame(rows), "k1")
      case PurgeDeletes =>
        if (eqKeys.nonEmpty) Snapshots.purgeEqDeletes(spark, t)
        Snapshots.purgeDeletes(spark, t)
      case PurgeEq => Snapshots.purgeEqDeletes(spark, t)
      case Maintain(minInputFiles, foldPositions) =>
        val bound = "graft.snapshot.deleteBroadcastBytes"
        try {
          if (foldPositions) spark.conf.set(bound, "16")
          Snapshots.maintain(spark, t, minInputFiles = minInputFiles)
        } finally spark.conf.unset(bound)
      case Restore(back) =>
        // undo the back-th latest commit that added a sidecar (the
        // oldest, when there are fewer), so the rows its sidecar killed
        // come back; with none, go back `back` versions, never to v1,
        // the CREATE TABLE's empty file
        val vs = Snapshots.versions(spark, t)
        val sidecars = vs.map(v => Snapshots.deleteFiles(spark, t, Some(v)).size +
          Snapshots.eqDeleteFiles(spark, t, Some(v)).size)
        val undo = vs.indices.drop(1).filter(i => sidecars(i) > sidecars(i - 1)).reverse
        Snapshots.restore(spark, t, undo.lift(back - 1).orElse(undo.lastOption)
          .map(i => vs(i - 1)).getOrElse(vs(math.max(1, vs.size - 1 - back))))
    }
    t
  }

  /** Every read surface of `t`, as multisets. */
  private def surfaces(name: String, t: String): Seq[(String, Seq[String])] = {
    val vs = Snapshots.versions(spark, t)
    val first = vs.head
    vs.map(v => s"read v$v" -> multiset(Snapshots.read(spark, t, Some(v)))) ++
    Seq("read" -> multiset(Snapshots.read(spark, t)),
      "readWhere" -> multiset(Snapshots.readWhere(spark, t, col("v") % 3 =!= 0)),
      "sql" -> multiset(spark.sql(s"SELECT * FROM $name")),
      "sql where" -> multiset(spark.sql(s"SELECT k2, v FROM $name WHERE k1 < 20")),
      "feed" -> multiset(Snapshots.changeFeed(spark, t, first, vs.last))) ++
      vs.sliding(2).collect { case Seq(a, b) =>
        s"feed $a..$b" -> multiset(Snapshots.changeFeed(spark, t, a, b)) }
  }

  /** Every change feed of `t` that differs from the naive diff of its
    * two snapshots: the whole range, each step, and the whole-range
    * per-commit feed against the per-step naive diffs.
    */
  private def feedsOffNaive(t: String): Seq[String] = {
    val vs = Snapshots.versions(spark, t)
    val pairs = (vs.head, vs.last) +: vs.zip(vs.tail)
    pairs.collect { case (a, b) if multiset(Snapshots.changeFeed(spark, t, a, b)) !=
        multiset(NaiveFeed(spark, t, a, b)) => s"changeFeed $a..$b" } ++
      Seq(s"changeFeedByVersion ${vs.head}..${vs.last}").filter { _ =>
        val cols = Seq("_commit_version", "_change_type", "k1", "k2", "v").map(col)
        multiset(Snapshots.changeFeedByVersion(spark, t, vs.head, vs.last).select(cols: _*)) !=
          multiset(NaiveFeed.byVersion(spark, t, vs.head, vs.last).select(cols: _*))
      }
  }

  test("every read surface agrees between the scan-predicate and the anti-join route") {
    // a seed whose six histories cover every op kind, run copy-on-write
    // deletes over files a sidecar references and end with both sidecar
    // kinds outstanding (the coverage asserts below)
    val histories = samples(history, 6, 4594L)
    val cats = samples(Gen.oneOf(Roots.map(_._1)), 6, 4202L)
    assert(cats.toSet === Roots.map(_._1).toSet)
    // the sample covers every op kind and ends with both kinds outstanding
    val kinds = histories.flatten.map(_.getClass.getSimpleName).toSet
    assert(kinds === Set("Append", "MorDelete", "CowDelete", "Upsert", "Merge", "PurgeDeletes$",
      "PurgeEq$", "Restore", "Maintain"))
    assert(histories.flatten.collect { case m: Maintain => m.foldPositions }.toSet ===
      Set(true, false))
    assert(histories.flatten.collect { case d: MorDelete => d.v1 }.toSet === Set(true, false))
    var outstanding = (0, 0)
    histories.zipWithIndex.foreach { case (ops, i) =>
      val name = s"${cats(i)}.ns.h$i"
      val t = play(cats(i), s"h$i", ops)
      // a position sidecar counts while it references a live file: a
      // restore can carry one whose files it undid
      val live = Snapshots.dataFiles(spark, t).toSet
      val dels = Snapshots.deleteFiles(spark, t).filter(d =>
        PositionDeletes.referencedDataFiles(spark, Seq(d)).exists(live))
      val eqs = Snapshots.eqDeleteFiles(spark, t)
      outstanding = (outstanding._1 + dels.size.sign, outstanding._2 + eqs.size.sign)
      val predicate = surfaces(name, t)
      val oracle = antiJoinRoute(surfaces(name, t))
      predicate.zip(oracle).foreach { case ((what, got), (_, want)) =>
        assert(got === want, s"history $i under ${cats(i)} ($ops): $what differs")
      }
      assert(feedsOffNaive(t).isEmpty, s"history $i under ${cats(i)} ($ops), predicate route")
      assert(antiJoinRoute(feedsOffNaive(t)).isEmpty,
        s"history $i under ${cats(i)} ($ops), anti-join route")
      // each route really ran: the default read plans the predicates,
      // the forced one none
      val plan = planOf(Snapshots.read(spark, t))
      if (dels.nonEmpty) assert(plan.contains("position_deleted"), s"history $i: $plan")
      if (eqs.nonEmpty) assert(plan.contains("eq_key_deleted"), s"history $i: $plan")
      val forced = antiJoinRoute(planOf(Snapshots.read(spark, t)))
      assert(!forced.contains("position_deleted") && !forced.contains("eq_key_deleted"))
    }
    assert(outstanding._1 >= 2 && outstanding._2 >= 2, s"histories ending with sidecars: $outstanding")
    assert(retiringDeletes > 0, "no copy-on-write delete rewrote a file a sidecar referenced")
  }

  test("a double key takes the anti-join: -0.0 and NaN match as SQL equality says") {
    val t = Files.createTempDirectory("graftroutes-double").toString + "/t"
    val nan = Double.NaN
    Snapshots.commit(Seq[(java.lang.Double, Long)]((0.0, 1L), (-0.0, 2L), (nan, 3L), (1.5, 4L),
      (null, 5L)).toDF("d", "v"), t)
    Snapshots.upsertEq(spark, t, Seq((-0.0, 10L), (nan, 30L)).toDF("d", "v"), Seq("d"))
    def rows(): Seq[String] = multiset(Snapshots.read(spark, t))
    val got = rows()
    // SQL join equality normalizes -0.0 to 0.0 and NaN to one NaN: both
    // zeros and the NaN row are replaced
    assert(got === Seq("-0.0|10", "1.5|4", "NaN|30", "null|5"))
    assert(antiJoinRoute(rows()) === got)
    assert(!planOf(Snapshots.read(spark, t)).contains("eq_key_deleted"))
    assert(multiset(Snapshots.changeFeed(spark, t, 1L, 2L)) ===
      antiJoinRoute(multiset(Snapshots.changeFeed(spark, t, 1L, 2L))))
  }

  test("a v1 sidecar small on disk but over the bound decoded takes the anti-join") {
    val t = Files.createTempDirectory("graftroutes-v1").toString + "/t"
    Snapshots.commit((1L to 20000L).toDF("id").coalesce(1), t)
    V1Sidecar.deleteWhere(spark, t, col("id") % 2 === 0)
    val Seq(sidecar) = Snapshots.deleteFiles(spark, t)
    val f = new org.apache.hadoop.fs.Path(sidecar)
    val onDisk = f.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(f).getLen
    // 10k positions decode to ~160 KB; on disk they are a few bytes each
    val bound = 10000L * 16 - 1
    assert(onDisk < bound, s"sidecar is $onDisk bytes on disk")
    try {
      spark.conf.set("graft.snapshot.deleteBroadcastBytes", bound.toString)
      assert(graft.sources.PositionDeletes.exceedsBroadcast(spark, Seq(sidecar)))
      val read = Snapshots.read(spark, t)
      assert(!planOf(read).contains("position_deleted"))
      assert(read.count() === 10000L)
    } finally spark.conf.unset("graft.snapshot.deleteBroadcastBytes")
    assert(planOf(Snapshots.read(spark, t)).contains("position_deleted"))
    assert(Snapshots.read(spark, t).as[Long].collect().sorted.toSeq ===
      (1L to 20000L by 2).toSeq)
  }
}

object DeleteRouteEquivalenceSpec {
  private type Rows = Seq[(java.lang.Long, String, Long)]
  private sealed trait Op
  private final case class Append(rows: Rows, files: Int) extends Op
  private final case class MorDelete(mod: Int, rem: Int, maxK: Long, v1: Boolean) extends Op
  private final case class CowDelete(mod: Int, maxK: Long) extends Op
  private final case class Upsert(keys: Seq[String], rows: Rows) extends Op
  private final case class Merge(rows: Rows) extends Op
  private case object PurgeDeletes extends Op
  private case object PurgeEq extends Op
  private final case class Restore(back: Int) extends Op
  private final case class Maintain(minInputFiles: Int, foldPositions: Boolean) extends Op
}
