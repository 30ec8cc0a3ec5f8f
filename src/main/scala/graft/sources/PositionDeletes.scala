package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Position-delete sidecars: the MERGE-ON-READ half of the snapshot
  * format's DML (the copy-on-write half is `Snapshots.deleteWhere`).
  *
  * A MOR delete never rewrites a data file. It writes a small parquet
  * sidecar of `(file_path, pos)` pairs — the absolute data-file path and
  * the row's ordinal within that file, both taken from Spark's parquet
  * `_metadata` columns — and publishes a manifest whose `D `-prefixed
  * lines reference the sidecar. Readers subtract the positions with an
  * anti-join that touches ONLY the data files the sidecars name; every
  * other file reads exactly as before. At 100 TB this is the difference
  * between a 0.1%-selective DELETE costing ~0.1% of the table (COW
  * rewrite of every touched file) and costing a few MB of sidecar
  * writes: commit cost ∝ matched rows, not ∝ touched-file bytes. The
  * read-side tax is one broadcast anti-join over the touched files
  * until a purge/compaction folds the deletes back in (Iceberg's
  * position-delete / Delta's deletion-vector shape).
  *
  * Positions are stable because data files are immutable: every path in
  * a manifest is written once and only ever dropped, never modified —
  * the same invariant time travel already rides on.
  */
private[graft] object PositionDeletes {

  /** Sidecar schema (Iceberg's position-delete column names). */
  val FileCol = "file_path"
  val PosCol = "pos"
  val schema: StructType = new StructType()
    .add(FileCol, StringType, nullable = false)
    .add(PosCol, LongType, nullable = false)

  /** Internal column names the live-read anti-join threads through a
    * data scan. Double-underscored to stay out of user schemas; the
    * reader refuses a table whose data columns collide.
    */
  val MetaFile = "__gd_file"
  val MetaPos = "__gd_pos"

  /** True when the sidecar at `path` is a v2 DELETION VECTOR file (one
    * row per data file, positions roaring/RLE-encoded in a binary
    * column — [[DeleteVectors]]) rather than the v1 one-row-per-
    * position layout. Dispatch is the footer schema; memoized like the
    * equality-sidecar key sets (sidecar files are immutable, and the
    * change feed probes per micro-batch).
    */
  private[graft] val kindMemo = graft.Memo[String, Boolean](4096)(Seq(_))

  private[graft] def isDvSidecar(spark: SparkSession, path: String): Boolean =
    kindMemo(path) {
      // driver-side footer read — a schema-less spark.read pays a job
      scala.util.Try(FooterSchemas.of(spark, path).fieldNames.toSeq)
        .getOrElse(spark.read.parquet(path).schema.fieldNames.toSeq)
        .contains(DeleteVectors.DvCol)
    }

  /** Exact decoded cardinality of a v2 DV sidecar: Σ of its `card`
    * column — one row per touched data file, written by the encoder
    * (the sidecar knows precisely how many positions it holds, so the
    * routing estimate never trusts the COMPRESSED byte size, which a
    * RUN container understates by 100-1000×). Metadata-class read,
    * memoized: sidecar files are immutable.
    */
  private[graft] val cardMemo = graft.Memo[String, Long](4096)(Seq(_))

  private def dvCardinality(spark: SparkSession, path: String): Long =
    cardMemo(path) {
      import org.apache.spark.sql.functions.sum
      spark.read
        .schema(new StructType().add(DeleteVectors.CardCol, LongType, nullable = false))
        .parquet(path)
        .agg(sum(col(DeleteVectors.CardCol))).head.getLong(0)
    }

  /** ~bytes one decoded (file, pos) row costs on the broadcast/driver
    * route: an 8 B ordinal plus per-row object/path-reference overhead.
    */
  private val DecodedRowBytes = 16L

  /** Estimated DECODED bytes of the delete side across `deleteFiles`,
    * saturating at Long.MaxValue; an unstat-able or unreadable sidecar
    * returns Long.MaxValue outright (the conservative route — many
    * failures can never overflow the sum back below a threshold).
    * v1 sidecars estimate by file length (their on-disk rows ARE the
    * decoded rows, within compression noise); v2 deletion vectors use
    * the sidecar's exact per-file `card` column × ~16 B — the
    * compressed byte length is NOT a proxy there (a broad range delete
    * records millions of contiguous positions in a few-KB RUN
    * container, exactly the shape that must take the task route).
    */
  private[graft] def decodedBytesEstimate(spark: SparkSession, table: String,
      deleteFiles: Seq[String]): Long = {
    val f = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var bytes = 0L
    deleteFiles.foreach { p =>
      val len =
        try {
          if (isDvSidecar(spark, p))
            math.multiplyExact(math.max(dvCardinality(spark, p), 0L), DecodedRowBytes)
          else math.max(f.getFileStatus(new Path(p)).getLen, 0L)
        } catch {
          case _: ArithmeticException => return Long.MaxValue
          case scala.util.control.NonFatal(_) => return Long.MaxValue
        }
      bytes = try math.addExact(bytes, len)
        catch { case _: ArithmeticException => return Long.MaxValue }
    }
    bytes
  }

  /** The delete-side frame over `deleteFiles` — (\_\_dd_file, \_\_dd_pos)
    * pairs whichever sidecar layout(s) recorded them: v1 rows pass
    * through, v2 deletion vectors decode DISTRIBUTED (each task expands
    * its files' bitmaps; memory ∝ one file's deletions). Broadcast when
    * the decoded side is small (the common case — a selective delete's
    * positions are a few MB even on a huge table); above the threshold
    * the anti-join falls back to a shuffle join; correctness is
    * identical.
    */
  // memo of the delete-side FRAME per (session, sorted sidecar list,
  // routing decision): sidecar files are immutable, so the plan is
  // stable; serving the SAME DataFrame object to every consumer lets
  // Spark's exchange reuse collapse repeated broadcasts of one sidecar
  // list inside a single query (the per-commit feed resolves the same
  // sidecars on both sides of a step pair). The routing bit is in the
  // key so a conf flip (tests toggle deleteBroadcastBytes) rebuilds.
  private[graft] val sideMemo =
    graft.Memo[(SparkSession, Seq[String], Boolean), DataFrame](1024)(_._2)

  def deleteSide(spark: SparkSession, table: String,
      deleteFiles: Seq[String]): DataFrame = {
    val route = exceedsBroadcast(spark, table, deleteFiles)
    sideMemo((spark, deleteFiles.sorted, route)) {
      buildDeleteSide(spark, deleteFiles, route)
    }
  }

  private def buildDeleteSide(spark: SparkSession,
      deleteFiles: Seq[String], exceeds: Boolean): DataFrame = {
    val (dvFiles, v1Files) = deleteFiles.partition(isDvSidecar(spark, _))
    val v1 = if (v1Files.isEmpty) None
      else Some(spark.read.schema(schema).parquet(v1Files: _*)
        .select(col(FileCol).as("__dd_file"), col(PosCol).as("__dd_pos")))
    val v2 = if (dvFiles.isEmpty) None
      else {
        import spark.implicits._
        Some(spark.read.schema(DeleteVectors.schema).parquet(dvFiles: _*)
          .select(col(FileCol), col(DeleteVectors.DvCol))
          .as[(String, Array[Byte])]
          .flatMap { case (f, b) =>
            DeleteVectors.decode(b).iterator.map(p => (f, p)) }
          .toDF("__dd_file", "__dd_pos"))
      }
    val df = (v1, v2) match {
      case (Some(a), Some(b)) => a.union(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        import spark.implicits._
        spark.emptyDataset[(String, Long)].toDF("__dd_file", "__dd_pos")
    }
    if (exceeds) df else broadcast(df)
  }

  /** True when the sidecars' estimated DECODED bytes exceed the
    * broadcast/driver threshold (`graft.snapshot.deleteBroadcastBytes`,
    * 64 MB default) — the shared routing decision of the read path's
    * anti-join (broadcast vs shuffle) and the delta-DML scan's delete
    * application (driver-built ordinal arrays vs task-side sidecar
    * reads). An unstat-able sidecar forces the conservative route
    * outright (the estimate saturates to Long.MaxValue).
    */
  private[graft] def exceedsBroadcast(spark: SparkSession, table: String,
      deleteFiles: Seq[String]): Boolean = {
    val threshold = spark.conf
      .get("graft.snapshot.deleteBroadcastBytes", (64L << 20).toString).toLong
    decodedBytesEstimate(spark, table, deleteFiles) > threshold
  }

  /** Distinct data-file paths the sidecars reference — the set of files
    * whose reads need the anti-join. Driver-side, bounded by the count
    * of files ever touched by an unpurged delete (metadata-class, like
    * the manifest itself).
    */
  // memo: sidecar files are immutable (UUID-dir paths, never rewritten
  // in place), so the referenced-file set of a given sidecar LIST is
  // stable for the life of the JVM; the read path resolves it on EVERY
  // read of a table with outstanding sidecars and the feed walk once
  // per step, each a full (small) Spark job whose ~0.2 s is pure
  // overhead on repeat plans.
  private[graft] val refFilesMemo = graft.Memo[Seq[String], Seq[String]](4096)(identity)

  def referencedDataFiles(spark: SparkSession,
      deleteFiles: Seq[String]): Seq[String] =
    if (deleteFiles.isEmpty) Seq.empty
    else refFilesMemo(deleteFiles.sorted) {
      // file_path-only projection reads BOTH sidecar layouts (v1 rows
      // and v2 deletion vectors share the column) without decoding
      spark.read
        .schema(new StructType().add(FileCol, StringType, nullable = false))
        .parquet(deleteFiles: _*)
        .select(FileCol).distinct().collect().map(_.getString(0)).toSeq
    }

  /** Append the `_metadata`-derived (file, pos) identity columns to a
    * parquet scan — the left side of the anti-join.
    */
  def withRowIdentity(scan: DataFrame): DataFrame = {
    require(!scan.columns.contains(MetaFile) && !scan.columns.contains(MetaPos),
      s"data schema must not contain reserved columns $MetaFile/$MetaPos")
    scan.select(col("*"),
      col("_metadata.file_path").as(MetaFile),
      col("_metadata.row_index").as(MetaPos))
  }

  /** Subtract deleted positions from a scan that carries the identity
    * columns. Keeps the identity columns when `keepIdentity` (the MOR
    * delete's own probe needs them); drops them otherwise.
    */
  def subtract(withIdentity: DataFrame, deletes: DataFrame,
      keepIdentity: Boolean = false): DataFrame = {
    val joined = withIdentity.join(deletes,
      withIdentity(MetaFile) === deletes("__dd_file") &&
        withIdentity(MetaPos) === deletes("__dd_pos"),
      "left_anti")
    if (keepIdentity) joined else joined.drop(MetaFile, MetaPos)
  }

  /** Keep exactly the scan rows whose (file, pos) identity the delete
    * side records — the change feed's fast path for a pure MOR-delete
    * step (the deleted pre-images, one semi-join instead of a
    * two-sided EXCEPT ALL). Drops the identity columns.
    */
  def matched(withIdentity: DataFrame, deletes: DataFrame): DataFrame =
    withIdentity.join(deletes,
      withIdentity(MetaFile) === deletes("__dd_file") &&
        withIdentity(MetaPos) === deletes("__dd_pos"),
      "left_semi")
      .drop(MetaFile, MetaPos)
}
