package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** TRANSFORM (hidden) partitioning — Iceberg's partition-spec shape:
  * `PARTITIONED BY (months(order_ts))` declares a physical LAYOUT, not
  * a query column. Queries keep filtering the SOURCE column; the engine
  * derives file-level pruning from it. The reference partitions its
  * fact marts exactly this way (`toYYYYMM(order_ts)` in
  * clickhouse/magic_shop/models/marts/fct_orders.sql:15 and the daily
  * KPI date partitions in revenue_analysis/main.ipynb:290-301).
  *
  * Spark-first realization: a transform spec is CLUSTERING metadata.
  * Every write range-partitions rows on the transform value (then the
  * declared sort order within it), so each landed file covers one — or
  * at a range boundary two — transform values, and the existing
  * [[FileStats]] min/max footer ranges on the SOURCE column subsume
  * partition pruning: a predicate on the source column prunes files
  * regardless of WHICH spec epoch wrote them. That is precisely
  * Iceberg's evolution semantics (old files keep their old layout,
  * pruning works per epoch) without per-file spec bookkeeping — the
  * stats ARE the per-file metadata, and they never lie about a file's
  * actual contents the way a declared-but-violated spec could.
  *
  * The spec file is APPEND-ONLY epochs (`partitionspec`, one line per
  * epoch); the last line is the current spec, `none` retires. Files
  * written under ANY epoch remain correct forever — evolution changes
  * only how FUTURE writes cluster.
  */
private[graft] object PartitionSpecs {

  /** One spec epoch. `arg` is truncate's width; None elsewhere. */
  final case class Spec(epoch: Int, transform: String, column: String,
      arg: Option[Int]) {
    def describe: String = arg match {
      case Some(n) => s"$transform($n, $column)"
      case None if transform == "identity" => column
      case None => s"$transform($column)"
    }
  }

  /** Transform names, matching Spark's connector-expression names for
    * `PARTITIONED BY`. `none` is the retirement sentinel.
    */
  val TimeTransforms = Set("years", "months", "days", "hours")
  val AllTransforms: Set[String] =
    TimeTransforms ++ Set("truncate", "identity")

  private def specPath(table: String) = new Path(s"$table/partitionspec")

  private def fs(spark: SparkSession, table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All epochs, ascending (empty = never partitioned). A `none` epoch
    * participates (it records the retirement point in history).
    */
  def epochs(spark: SparkSession, table: String): Seq[Spec] = {
    val txt = Snapshots.readSide(fs(spark, table), specPath(table)).getOrElse("")
    txt.linesIterator.filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(e, t, c, a) => Spec(e.toInt, t, c, Some(a.toInt))
        case Array(e, t, c) => Spec(e.toInt, t, c, None)
        case Array(e, t) if t == "none" => Spec(e.toInt, t, "", None)
        case other => throw new IllegalStateException(
          s"malformed partitionspec line '${other.mkString("\t")}' in $table")
      }
    }.toSeq
  }

  /** The spec future writes cluster under (None = unpartitioned, either
    * never declared or retired by a `none` epoch).
    */
  def current(spark: SparkSession, table: String): Option[Spec] =
    epochs(spark, table).lastOption.filter(_.transform != "none")

  /** Append a new spec epoch (SPEC EVOLUTION — Iceberg's
    * `update_partition_spec` shape). Metadata-only: no file rewrites;
    * files written under earlier epochs keep their layout and stay
    * prunable through their footer stats. Validates the transform/type
    * pairing against `schema` when one is supplied. Returns the new
    * epoch number. Concurrent evolutions race loudly (whole-file
    * atomic publish), matching the other layout specs.
    */
  def evolve(spark: SparkSession, table: String, transform: String,
      column: String, arg: Option[Int] = None,
      schema: Option[StructType] = None): Int = {
    require(AllTransforms.contains(transform) || transform == "none",
      s"unknown partition transform '$transform' " +
        s"(supported: ${AllTransforms.toSeq.sorted.mkString(", ")}, none)")
    if (transform != "none") {
      schema.foreach(s => validate(transform, column, arg, s))
      require(transform != "truncate" || arg.exists(_ > 0),
        s"truncate needs a positive width, got $arg")
    }
    val prior = epochs(spark, table)
    val epoch = prior.lastOption.map(_.epoch + 1).getOrElse(1)
    val line =
      if (transform == "none") s"$epoch\tnone"
      else s"$epoch\t$transform\t$column${arg.map("\t" + _).getOrElse("")}"
    val body = (prior.map(render) :+ line).mkString("\n") + "\n"
    if (!Snapshots.writeSide(fs(spark, table), specPath(table), body, replace = true))
      throw new IllegalStateException(
        s"concurrent partition-spec update on $table")
    epoch
  }

  private def render(s: Spec): String =
    if (s.transform == "none") s"${s.epoch}\tnone"
    else s"${s.epoch}\t${s.transform}\t${s.column}" +
      s.arg.map("\t" + _).getOrElse("")

  /** Transform/type pairing rules (checked at DDL/evolve time so a
    * violating spec can never brick later writes).
    */
  def validate(transform: String, column: String, arg: Option[Int],
      schema: StructType): Unit = {
    val fld = schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"partition transform column $column is not a column " +
          s"(have: ${schema.fieldNames.mkString(", ")})"))
    transform match {
      case t if TimeTransforms(t) =>
        require(fld.dataType == TimestampType || fld.dataType == DateType ||
            fld.dataType == TimestampNTZType,
          s"$t($column) needs a timestamp/date column, got ${fld.dataType}")
      case "truncate" =>
        require(arg.exists(_ > 0), s"truncate needs a positive width")
        fld.dataType match {
          case StringType | ByteType | ShortType | IntegerType | LongType => ()
          case other => throw new IllegalArgumentException(
            s"truncate($column) needs a string or integral column, got $other")
        }
      case "identity" => ()
      case other =>
        throw new IllegalArgumentException(s"unknown transform $other")
    }
  }

  /** The transform's clustering expression over `df`, or None when the
    * source column is absent from this write's schema (conservative
    * pass-through, matching the declared sort order's rule).
    */
  def transformColumn(spec: Spec, df: DataFrame): Option[Column] = {
    import org.apache.spark.sql.functions._
    if (!df.schema.fieldNames.contains(spec.column)) return None
    val c = org.apache.spark.sql.functions.col(spec.column)
    Some(spec.transform match {
      case "years" => year(c)
      case "months" => year(c) * 12 + month(c)
      case "days" => to_date(c)
      case "hours" => date_trunc("HOUR", c)
      case "identity" => c
      case "truncate" =>
        df.schema.fields.find(_.name == spec.column).get.dataType match {
          case StringType => substring(c, 1, spec.arg.get)
          // floor-to-width, negative-safe (pmod, not %)
          case _ => c - pmod(c, lit(spec.arg.get.toLong))
        }
      case other =>
        throw new IllegalStateException(s"unknown transform $other")
    })
  }
}
