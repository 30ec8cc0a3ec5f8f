package graft

import java.nio.file.Files

import graft.sources.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The small-delete-file route (sidecars read on the driver, applied as
  * scan predicates) against its oracle, the anti-join route (forced by
  * setting `graft.snapshot.deleteBroadcastBytes` and
  * `eqDeleteBroadcastBytes` to 0). Each generated history mixes appends,
  * MOR deletes in both sidecar layouts (stacked on one file, spread over
  * several, leaving others untouched), equality upserts on a long, a
  * string and a composite key over data rows with NULL keys, merges and
  * both purges; every read surface must return the same multiset under
  * both routes.
  */
class DeleteRouteEquivalenceSpec extends SparkTestBase {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private lazy val wh = {
    val dir = Files.createTempDirectory("graftroutes").toString
    spark.conf.set("spark.sql.catalog.route_cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.route_cat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS route_cat.ns")
    dir
  }

  private val Bounds = Seq("graft.snapshot.deleteBroadcastBytes",
    "graft.snapshot.eqDeleteBroadcastBytes")

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

  private val op: Gen[Op] = Gen.frequency(3 -> append, 4 -> morDelete, 4 -> upsert,
    2 -> merge, 1 -> Gen.const(PurgeDeletes), 1 -> Gen.const(PurgeEq))

  private val history: Gen[Seq[Op]] = for {
    first <- append; n <- Gen.chooseNum(4, 7); rest <- Gen.listOfN(n, op)
  } yield first +: rest

  private def frame(rows: Rows): DataFrame =
    rows.toDF("k1", "k2", "v")

  /** Apply `ops` to the catalog table `name`; returns its path. Ops whose
    * contract refuses outstanding equality deletes (a MOR delete, a
    * merge) or a different key set (an upsert) purge them first.
    */
  private def play(name: String, ops: Seq[Op]): String = {
    wh
    spark.sql(s"CREATE TABLE route_cat.ns.$name (k1 BIGINT, k2 STRING, v BIGINT)")
    val t = s"$wh/ns/$name"
    def eqKeys: Option[Set[String]] = Snapshots.eqDeleteFiles(spark, t).headOption.map(_ =>
      spark.read.parquet(Snapshots.eqDeleteFiles(spark, t).head._2).columns.toSet)
    ops.foreach {
      case Append(rows, files) => Snapshots.commit(frame(rows).repartition(files), t)
      case MorDelete(mod, rem, maxK, v1) =>
        if (eqKeys.nonEmpty) Snapshots.purgeEqDeletes(spark, t)
        try {
          spark.conf.set("graft.snapshot.deleteVectorWrite", (!v1).toString)
          Snapshots.deleteWhereMor(spark, t,
            col("v") % mod === rem && (col("k1") <= maxK || col("k1").isNull))
        } finally spark.conf.unset("graft.snapshot.deleteVectorWrite")
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
      "sql" -> multiset(spark.sql(s"SELECT * FROM route_cat.ns.$name")),
      "sql where" -> multiset(spark.sql(s"SELECT k2, v FROM route_cat.ns.$name WHERE k1 < 20")),
      "feed" -> multiset(Snapshots.changeFeed(spark, t, first, vs.last))) ++
      vs.sliding(2).collect { case Seq(a, b) =>
        s"feed $a..$b" -> multiset(Snapshots.changeFeed(spark, t, a, b)) }
  }

  test("every read surface agrees between the scan-predicate and the anti-join route") {
    val histories = samples(history, 6, 4100L)
    // the sample covers every op kind and ends with both kinds outstanding
    val kinds = histories.flatten.map(_.getClass.getSimpleName).toSet
    assert(kinds === Set("Append", "MorDelete", "Upsert", "Merge", "PurgeDeletes$", "PurgeEq$"))
    assert(histories.flatten.collect { case d: MorDelete => d.v1 }.toSet === Set(true, false))
    var outstanding = (0, 0)
    histories.zipWithIndex.foreach { case (ops, i) =>
      val name = s"h$i"
      val t = play(name, ops)
      val dels = Snapshots.deleteFiles(spark, t)
      val eqs = Snapshots.eqDeleteFiles(spark, t)
      outstanding = (outstanding._1 + dels.size.sign, outstanding._2 + eqs.size.sign)
      val predicate = surfaces(name, t)
      val oracle = antiJoinRoute(surfaces(name, t))
      predicate.zip(oracle).foreach { case ((what, got), (_, want)) =>
        assert(got === want, s"history $i ($ops): $what differs")
      }
      // each route really ran: the default read plans the predicates,
      // the forced one none
      val plan = planOf(Snapshots.read(spark, t))
      if (dels.nonEmpty) assert(plan.contains("position_deleted"), s"history $i: $plan")
      if (eqs.nonEmpty) assert(plan.contains("eq_key_deleted"), s"history $i: $plan")
      val forced = antiJoinRoute(planOf(Snapshots.read(spark, t)))
      assert(!forced.contains("position_deleted") && !forced.contains("eq_key_deleted"))
    }
    assert(outstanding._1 >= 2 && outstanding._2 >= 2, s"histories ending with sidecars: $outstanding")
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
    try {
      spark.conf.set("graft.snapshot.deleteVectorWrite", "false")
      Snapshots.deleteWhereMor(spark, t, col("id") % 2 === 0)
    } finally spark.conf.unset("graft.snapshot.deleteVectorWrite")
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
  private final case class Upsert(keys: Seq[String], rows: Rows) extends Op
  private final case class Merge(rows: Rows) extends Op
  private case object PurgeDeletes extends Op
  private case object PurgeEq extends Op
}
