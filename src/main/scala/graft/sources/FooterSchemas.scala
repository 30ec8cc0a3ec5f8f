package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet schema resolution for the snapshot format's
  * INTERNAL reads.
  *
  * Every schema-less `spark.read.parquet(...)` pays a Spark JOB for
  * footer inference (Spark 4 reads footers through a distributed pass
  * even for one file), and the DML/feed machinery plans dozens of such
  * reads per operation — at sf0.1 the measured cost is ~0.15 s of pure
  * job overhead each, the single largest component of commit/feed
  * latency (DmlProfile: 5-6 inference jobs per change-feed plan). The
  * files involved are the engine's OWN immutable outputs, so their
  * schemas can be read once, driver-side, from the footer — the same
  * per-file loop a commit's stats collection already does — and served
  * from a [[graft.Memo]].
  *
  * Exactness: [[of]] reproduces what Spark's inference returns for a
  * single file — the footer's serialized Spark schema when present
  * (Spark-written files always carry
  * `org.apache.spark.sql.parquet.row.metadata`), else the parquet →
  * Spark conversion under the session's own conf flags. [[uniform]]
  * only short-circuits a multi-file read when EVERY file resolves to
  * the SAME schema, where merge-vs-first-file semantics cannot differ;
  * any disagreement (or unreadable footer) falls back to Spark's own
  * inference path, preserving its semantics bit-for-bit.
  */
object FooterSchemas {
  private[graft] val memo = graft.Memo[String, StructType](65536)(Seq(_))

  private def fromMetadata(spark: SparkSession,
      md: org.apache.parquet.hadoop.metadata.FileMetaData): StructType = {
    val json = md.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    val fromJson =
      if (json == null) None
      else scala.util.Try(
        DataType.fromJson(json).asInstanceOf[StructType]).toOption
    fromJson.getOrElse(
      org.apache.spark.sql.GraftShim.footerSchema(spark, md.getSchema))
  }

  /** Seed the memo from a footer the caller ALREADY holds open — the
    * commit-time stats loop reads every fresh file's footer anyway, so
    * the first read of a new commit never pays the footer round-trip
    * twice. Never throws (seeding is a pure optimization).
    */
  private[sources] def seed(spark: SparkSession, file: String,
      md: org.apache.parquet.hadoop.metadata.FileMetaData): Unit =
    try memo.put(file, fromMetadata(spark, md))
    catch { case scala.util.control.NonFatal(_) => () }

  /** Open a parquet file's footer on the driver. The options come from
    * `conf`: the one-argument `ParquetFileReader.open` builds its codec
    * factory on a fresh Hadoop `Configuration`, which re-parses the
    * default resources (~10 ms a call, more than the footer read).
    */
  private[graft] def open(conf: org.apache.hadoop.conf.Configuration,
      file: String): ParquetFileReader = {
    val path = new Path(file)
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())
  }

  /** Per-file inferred schema, driver-side, memoized (data/sidecar
    * files are immutable and their UUID-dir paths never reused).
    */
  def of(spark: SparkSession, file: String): StructType = memo(file) {
    val reader = open(spark.sparkContext.hadoopConfiguration, file)
    try fromMetadata(spark, reader.getFooter.getFileMetaData)
    finally reader.close()
  }

  /** Above this many UN-memoized footers, [[uniform]] declines and the
    * caller uses Spark's own distributed inference: a cold driver-side
    * walk of 10⁵–10⁶ footers is serial O(n) round-trips on an object
    * store — slower than the one inference job it would replace. The
    * common internal reads (DML probes, feed steps, sidecars) touch
    * few files or hit the memo and stay on the driver path.
    */
  private val MaxDriverReads = 4096

  /** The schema every file in `files` agrees on — None when any two
    * differ, any footer fails to read driver-side, or more footers than
    * the driver-read cap would need a cold open (the caller then falls
    * back to Spark's own distributed inference).
    */
  def uniform(spark: SparkSession, files: Seq[String]): Option[StructType] =
    try {
      if (files.isEmpty) None
      else {
        val missing = files.filterNot(memo.contains)
        if (missing.size > MaxDriverReads) return None
        // parallel cold opens: footer round-trips dominate on remote
        // storage, and they are independent — a bounded pool fetches
        // them concurrently into the memo (any failure → fallback)
        if (missing.size > 4) {
          val pool = java.util.concurrent.Executors
            .newFixedThreadPool(math.min(16, missing.size))
          try {
            import scala.jdk.CollectionConverters._
            pool.invokeAll(missing.map(f =>
              new java.util.concurrent.Callable[Unit] {
                override def call(): Unit = { of(spark, f); () }
              }).asJava).asScala.foreach(_.get())
          } finally pool.shutdown()
        }
        val first = of(spark, files.head)
        if (files.tail.forall(of(spark, _) == first)) Some(first) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
