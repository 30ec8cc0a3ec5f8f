package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DECLARATIVE INCREMENTAL MATERIALIZED VIEWS over the change feed —
  * what the reference's dbt incremental model declares
  * (magic_shop/models/marts/fct_orders.sql:9-16: `unique_key`,
  * delete+insert, lookback) done with exact CDC instead of a lookback
  * heuristic: the MV is a snapshot table holding a grouped aggregate of
  * a base snapshot table, and `refresh` folds ONLY the base's row-level
  * change feed since the last refreshed version into the stored groups.
  *
  * Scale posture: a refresh costs the FEED (∝ files the intervening DML
  * touched — see [[Snapshots.changeFeed]]'s cancellation algebra, NOT ∝
  * base size) plus one overwrite of the MV itself (∝ MV size — the
  * aggregate, orders of magnitude smaller than the base). The feed is
  * valid across arbitrary DML — append, COW/MOR delete, merge, upsert,
  * compaction (row-preserving commits contribute nothing) — so the MV
  * never goes stale-wrong, and a refresh whose `from` version has been
  * vacuumed away falls back to a full recompute instead of failing.
  *
  * INCREMENTALIZABLE CONTRACT (refused loudly at create): aggregates
  * must be decomposable under insert AND delete deltas — `count`,
  * `sum`, `avg` (kept as sum+count). `min`/`max`/`count distinct` are
  * NOT (a delete of the current extremum needs a rescan of the group);
  * joins/windows are out of the single-table MV's scope. The filter is
  * any deterministic row-local predicate; grouping keys are base
  * columns. Exactly-once: each refresh commits with a
  * `mv-refresh-of-v<N>` token, so the refreshed-through version is
  * ATOMIC with the MV state (crash-replay re-commits idempotently) and
  * is read back from the token, never from a driftable sidecar.
  */
object MaterializedViews {

  /** One aggregate: `op` ∈ count|sum|avg, over `column` ("*" for
    * count(*)), emitted as `alias`.
    */
  final case class AggDef(op: String, column: String, alias: String)

  final case class MvDef(base: String, filter: Option[String],
      groupBy: Seq[String], aggs: Seq[AggDef])

  private val Incrementalizable = Set("count", "sum", "avg")

  // internal state columns (never emitted by read()):
  // __mv_rows      — live row count per group (0 → group drops)
  // __mv_s_<alias> — running sum for sum/avg
  // __mv_n_<alias> — running non-null count for sum (NULL-when-empty
  //                  semantics) and avg (the divisor)
  private val RowsCol = "__mv_rows"
  private def sCol(a: String) = s"__mv_s_$a"
  private def nCol(a: String) = s"__mv_n_$a"

  private def defPath(mv: String) = new Path(s"$mv/mvdef.json")

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }
  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'u' if i + 5 < s.length =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o => b += o; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  private def render(d: MvDef): String = {
    val f = d.filter.map(x => s""""${esc(x)}"""").getOrElse("null")
    s"""{"base":"${esc(d.base)}","filter":$f,""" +
      s""""groupBy":[${d.groupBy.map(g => s""""${esc(g)}"""").mkString(",")}],""" +
      s""""aggs":[${d.aggs.map(a =>
        s"""{"op":"${a.op}","column":"${esc(a.column)}","alias":"${esc(a.alias)}"}""")
        .mkString(",")}]}"""
  }

  private[sources] def parseDef(txt: String): MvDef = {
    // a quoted JSON string, tolerating escaped quotes inside
    val qs = "\"((?:[^\"\\\\]|\\\\.)*)\""
    val base = (s""""base"\\s*:\\s*$qs""").r.findFirstMatchIn(txt)
      .map(m => unesc(m.group(1))).getOrElse(
        throw new IllegalStateException(s"mvdef missing base: $txt"))
    val filter = (s""""filter"\\s*:\\s*$qs""").r.findFirstMatchIn(txt)
      .map(m => unesc(m.group(1)))
    val groupBy = """"groupBy"\s*:\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    val groups = qs.r.findAllMatchIn(groupBy)
      .map(m => unesc(m.group(1))).toSeq
    val aggRe =
      (s""""op"\\s*:\\s*$qs\\s*,\\s*"column"\\s*:\\s*$qs\\s*,\\s*"alias"\\s*:\\s*$qs""").r
    val aggs = aggRe.findAllMatchIn(txt).map(m =>
      AggDef(unesc(m.group(1)), unesc(m.group(2)), unesc(m.group(3)))).toSeq
    MvDef(base, filter, groups, aggs)
  }

  def loadDef(spark: SparkSession, mv: String): MvDef = {
    val txt = Snapshots.readSide(fs(spark, mv), defPath(mv))
    require(txt.isDefined, s"$mv is not a materialized view (no mvdef.json)")
    parseDef(txt.get)
  }

  /** CREATE: validate the incrementalizable contract, persist the
    * definition (exclusive — a second create fails), run the initial
    * full compute at the base's current head, and REGISTER the view on
    * its base (a `ref-mv-<name>` ref, the branch-ref pattern) so
    * `maintain(base)` auto-refreshes it. Returns the MV's v1.
    */
  def create(spark: SparkSession, mv: String, base: String,
      groupBy: Seq[String], aggs: Seq[AggDef],
      filter: Option[String] = None): Long = {
    require(groupBy.nonEmpty,
      "materialized views need at least one grouping column " +
        "(global aggregates are a one-row query, not a view)")
    require(aggs.nonEmpty, "materialized views need at least one aggregate")
    aggs.foreach { a =>
      require(Incrementalizable.contains(a.op),
        s"aggregate ${a.op}(${a.column}) is not incrementalizable under " +
          "the change feed (a delete can invalidate it without a group " +
          s"rescan) — supported: ${Incrementalizable.toSeq.sorted.mkString(", ")}")
      require(a.op == "count" || a.column != "*",
        s"${a.op}(*) is not a thing; name a column")
    }
    val dups = (groupBy ++ aggs.map(_.alias)).groupBy(identity)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(dups.isEmpty, s"duplicate output columns: ${dups.mkString(", ")}")
    val baseVs = Snapshots.versions(spark, base)
    require(baseVs.nonEmpty, s"no committed snapshot in $base")
    val sch = Snapshots.read(spark, base).schema.fieldNames.toSet
    (groupBy ++ aggs.map(_.column).filter(_ != "*")).foreach(c =>
      require(sch.contains(c), s"$c is not a column of $base"))
    Snapshots.requireRefName(new Path(mv).getName)
    val d = MvDef(base, filter, groupBy, aggs)
    if (!Snapshots.writeSide(fs(spark, mv), defPath(mv), render(d)))
      throw new IllegalStateException(s"materialized view $mv already exists")
    val head = baseVs.last
    val v = Snapshots.commit(
      fullState(spark, d, head), mv, overwrite = false,
      token = Some(s"mv-refresh-of-v$head"))
    registerOnBase(spark, base, mv)
    v
  }

  /** REFRESH: fold the base's change feed since the last refreshed
    * version into the stored groups; a no-op when the base hasn't
    * moved. Falls back to a full recompute when the last refreshed
    * version has been vacuumed out of the base's history. Returns the
    * MV version serving the base's head.
    */
  def refresh(spark: SparkSession, mv: String): Long = {
    val d = loadDef(spark, mv)
    val last = refreshedThrough(spark, mv)
    val baseVs = Snapshots.versions(spark, d.base)
    require(baseVs.nonEmpty, s"base ${d.base} has no committed snapshot")
    val head = baseVs.last
    if (head == last) return Snapshots.versions(spark, mv).last
    if (!baseVs.contains(last))
      // history expired under us (vacuum) — the feed cannot start at
      // `last`; recompute wholesale rather than fail (still one
      // overwrite of the MV)
      return Snapshots.commit(fullState(spark, d, head), mv,
        overwrite = true, token = Some(s"mv-refresh-of-v$head"))
    val feed = prepared(Snapshots.changeFeed(spark, d.base, last, head), d)
    val signed = feed.withColumn("__mv_sign",
      when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)))
    val delta = signed.groupBy(d.groupBy.map(col): _*).agg(
      sum(col("__mv_sign")).as(RowsCol),
      aggDeltaCols(d): _*)
    val state = Snapshots.read(spark, mv)
    // null-safe join keys: a NULL grouping value is a real group
    val joinCond = d.groupBy.map(g =>
      state(g) <=> delta(g)).reduce(_ && _)
    val merged = state.join(delta, joinCond, "full_outer")
      .select(
        d.groupBy.map(g => coalesce(state(g), delta(g)).as(g)) ++
          Seq((coalesce(state(RowsCol), lit(0L)) +
            coalesce(delta(RowsCol), lit(0L))).as(RowsCol)) ++
          d.aggs.flatMap { a =>
            val s = coalesce(state(sCol(a.alias)), lit(0).cast(
              state.schema(sCol(a.alias)).dataType)) +
              coalesce(delta(sCol(a.alias)), lit(0).cast(
                state.schema(sCol(a.alias)).dataType))
            val n = coalesce(state(nCol(a.alias)), lit(0L)) +
              coalesce(delta(nCol(a.alias)), lit(0L))
            Seq(s.as(sCol(a.alias)), n.as(nCol(a.alias)))
          }: _*)
      .filter(col(RowsCol) > 0L)
    Snapshots.commit(merged, mv, overwrite = true,
      token = Some(s"mv-refresh-of-v$head"))
  }

  /** The MV's served result: grouping columns + aliased aggregates,
    * internal state columns resolved (sum → NULL when no non-null
    * values; avg → sum/n).
    */
  def read(spark: SparkSession, mv: String): DataFrame = {
    val d = loadDef(spark, mv)
    val st = Snapshots.read(spark, mv)
    st.select(d.groupBy.map(col) ++ d.aggs.map { a =>
      a.op match {
        case "count" => col(nCol(a.alias)).as(a.alias)
        case "sum" =>
          when(col(nCol(a.alias)) > 0L, col(sCol(a.alias)))
            .otherwise(lit(null)).as(a.alias)
        case "avg" =>
          when(col(nCol(a.alias)) > 0L,
            col(sCol(a.alias)) / col(nCol(a.alias)))
            .otherwise(lit(null)).as(a.alias)
      }
    }: _*)
  }

  /** The base version the MV currently reflects — parsed from the head
    * commit's `mv-refresh-of-v<N>` token (atomic with the state).
    */
  def refreshedThrough(spark: SparkSession, mv: String): Long = {
    val vs = Snapshots.versions(spark, mv)
    require(vs.nonEmpty, s"$mv has no committed state")
    Snapshots.commitToken(spark, mv, vs.last) match {
      case Some(t) if t.startsWith("mv-refresh-of-v") =>
        t.stripPrefix("mv-refresh-of-v").toLong
      case other => throw new IllegalStateException(
        s"$mv head commit carries no mv-refresh token (got $other) — " +
          "not a materialized view, or its table was written directly")
    }
  }

  /** Full recompute of the internal state at base version `v`. */
  private def fullState(spark: SparkSession, d: MvDef, v: Long): DataFrame = {
    val rows = prepared(Snapshots.read(spark, d.base, Some(v)), d)
      .withColumn("__mv_sign", lit(1L))
    rows.groupBy(d.groupBy.map(col): _*)
      .agg(sum(col("__mv_sign")).as(RowsCol), aggDeltaCols(d): _*)
  }

  /** Filter + projection shared by full compute and delta compute. */
  private def prepared(df: DataFrame, d: MvDef): DataFrame =
    d.filter.map(f => df.filter(expr(f))).getOrElse(df)

  /** Signed per-group accumulators: every agg keeps a sum column and a
    * non-null-count column, both linear in the ±1 row sign — which is
    * exactly why count/sum/avg are incrementalizable and min/max isn't.
    */
  private def aggDeltaCols(d: MvDef): Seq[Column] =
    d.aggs.flatMap { a =>
      a.op match {
        case "count" if a.column == "*" =>
          Seq(sum(col("__mv_sign")).as(sCol(a.alias)),
            sum(col("__mv_sign")).as(nCol(a.alias)))
        case "count" =>
          Seq(sum(when(col(a.column).isNotNull, col("__mv_sign"))
              .otherwise(lit(0L))).as(sCol(a.alias)),
            sum(when(col(a.column).isNotNull, col("__mv_sign"))
              .otherwise(lit(0L))).as(nCol(a.alias)))
        case _ => // sum | avg
          Seq(sum(when(col(a.column).isNotNull,
              col(a.column) * col("__mv_sign")).otherwise(lit(null)))
            .as(sCol(a.alias)),
            sum(when(col(a.column).isNotNull, col("__mv_sign"))
              .otherwise(lit(0L))).as(nCol(a.alias)))
      }
    }

  // ---- registration on the base (maintain()'s auto-refresh hook) ----

  private def mvRefPath(base: String, name: String) =
    new Path(s"$base/ref-mv-$name.txt")
  private val MvRefRe = "ref-mv-(.+)\\.txt".r

  private def registerOnBase(spark: SparkSession, base: String,
      mv: String): Unit = {
    val name = new Path(mv).getName
    require(Snapshots.writeSide(fs(spark, base), mvRefPath(base, name),
      new Path(mv).toUri.getPath, replace = true),
      s"failed to register materialized view $name on $base")
  }

  /** (name, path) of every MV registered on `base` that still exists
    * (stale refs for dropped views are tolerated and skipped).
    */
  def registered(spark: SparkSession, base: String): Seq[(String, String)] = {
    val f = fs(spark, base)
    val root = new Path(base)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq.flatMap(_.getPath.getName match {
      case MvRefRe(n) =>
        Snapshots.readSide(f, mvRefPath(base, n)).map(_.trim)
          .filter(p => fs(spark, p).exists(defPath(p))).map(n -> _)
      case _ => None
    }).sortBy(_._1)
  }

  /** Drop the MV and deregister it from its base. */
  def drop(spark: SparkSession, mv: String): Unit = {
    val name = new Path(mv).getName
    try {
      val d = loadDef(spark, mv)
      fs(spark, d.base).delete(mvRefPath(d.base, name), false): Unit
    } catch { case scala.util.control.NonFatal(_) => () }
    Snapshots.drop(spark, mv)
  }
}
