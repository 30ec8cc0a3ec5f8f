package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-first loaders for the driver-provided star schema
  * (`/root/testdata/sf*` — see TESTDATA.md). Parquet carries its own
  * schema, so no inference pass is needed; loaders are thin and lazy.
  *
  * At 100 TB these would be catalog tables (partitioned/bucketed); the
  * single-parquet layout is the test harness's. All queries take the
  * directory as a parameter so the same code runs at any scale factor.
  */
object Tables {
  val starTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The driver has shipped events.parquet in two physical layouts across
    // rounds: TIMESTAMP(NANOS) (rejected by Spark's reader unless read as
    // long — rebuild a µs TimestampType with documented ns→µs truncation,
    // SURVEY §1.2) and plain timestamp[us] (arrives as TIMESTAMP_NTZ; cast
    // to session-TZ TimestampType — the session is pinned to UTC, so the
    // wall-clock values are identical to the nanos path). Dispatch on the
    // schema the reader actually produced so both layouts load the same.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all star-schema tables as temp views for spark.sql paths. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    starTables.foreach(t => load(spark, dir, t).createOrReplaceTempView(t))

  /** Collision-resistant hex digest of a data dir — the suffix for
    * session-global names (temp views, catalog names, scratch roots)
    * that must not alias across data dirs: hashCode collisions (or
    * abs(Int.MinValue) < 0) would silently bind one dir's query to
    * another dir's data.
    */
  def dirKey(dir: String, n: Int = 8): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(n)

  /** On-disk bytes of the named tables under `dir` — the input-size
    * signal seam builds derive their shuffle width from (data-adaptive
    * partitioning, never a core-count constant). Unstat-able tables
    * contribute 0 (the derived width then errs small, which AQE
    * coalescing would have produced anyway).
    */
  def bytesOf(spark: SparkSession, dir: String, names: String*): Long =
    names.map { n =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$n.parquet")
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case scala.util.control.NonFatal(_) => 0L }
    }.sum

  /** Compressed input bytes per seam shuffle partition: 2 MB
    * compressed ≈ 6-10 MB in flight — small enough that compute-heavy
    * per-round scans over the checkpointed seam still parallelize, the
    * measured optimum for the q67 rounds at sf0.1.
    */
  private val SeamShuffleTargetBytes = 2L << 20

  /** The widest seam shuffle. */
  private val SeamMaxShufflePartitions = 8192L

  /** Shuffle width for a seam over `bytes` of compressed input: one
    * partition per [[SeamShuffleTargetBytes]], at least 1, at most
    * [[SeamMaxShufflePartitions]]. Grows with the DATA — sf0.1's graph
    * seam gets ~7, the 64× tier ~400, a cluster-scale input thousands —
    * instead of pinning the session's core-count width onto
    * kilobyte-scale shuffles (fewer, larger partitions).
    */
  def seamShuffleWidth(bytes: Long): Int =
    math.max(1L, math.min(SeamMaxShufflePartitions,
      (bytes + SeamShuffleTargetBytes - 1) / SeamShuffleTargetBytes)).toInt
}
