package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Position-delete sidecars: the MERGE-ON-READ half of the snapshot
  * format's DML (the copy-on-write half is `Snapshots.deleteWhere`).
  *
  * A MOR delete never rewrites a data file. It writes a small parquet
  * sidecar of `(file_path, pos)` pairs — the absolute data-file path and
  * the row's ordinal within that file, both taken from Spark's parquet
  * `_metadata` columns — and publishes a manifest whose `D `-prefixed
  * lines reference the sidecar. Readers subtract the positions from
  * ONLY the data files the sidecars name; every other file reads
  * exactly as before. At 100 TB this is the difference between a
  * 0.1%-selective DELETE costing ~0.1% of the table (COW rewrite of
  * every touched file) and costing a few MB of sidecar writes: commit
  * cost ∝ matched rows, not ∝ touched-file bytes. The read-side tax,
  * until a purge/compaction folds the deletes back in (Iceberg's
  * position-delete / Delta's deletion-vector shape), is:
  *  - while the decoded positions fit `graft.snapshot.deleteBroadcastBytes`:
  *    a driver read of the sidecars (no Spark job) and one membership
  *    predicate on the touched files' scan ([[PositionDeleted]]);
  *  - above it, or when the driver read cannot serve a sidecar: a
  *    shuffle anti-join against the distributed delete side.
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

  /** Internal column names the live read threads through a data scan.
    * Double-underscored to stay out of user schemas; the reader refuses
    * a table whose data columns collide.
    */
  val MetaFile = "__gd_file"
  val MetaPos = "__gd_pos"

  /** Read a sidecar on the driver with parquet-mr: `body` gets the open
    * reader (footer: layout, row count) and [[eachRow]] streams its
    * columns. One file open, no Spark job.
    */
  private[graft] def readOnDriver[A](spark: SparkSession, file: String)(
      body: ParquetFileReader => A): A = {
    val reader = FooterSchemas.open(spark.sparkContext.hadoopConfiguration, file)
    try body(reader) finally reader.close()
  }

  /** Every row of the top-level `columns` of an open file, as a Group
    * whose field i is `columns(i)` (an absent optional value has
    * repetition count 0).
    */
  private[graft] def eachRow(reader: ParquetFileReader, columns: Seq[String])(
      f: Group => Unit): Unit = {
    val fileSchema = reader.getFooter.getFileMetaData.getSchema
    val projection = new MessageType(fileSchema.getName,
      columns.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*)
    reader.setRequestedSchema(projection)
    val io = new ColumnIOFactory().getColumnIO(projection, fileSchema)
    var pages = reader.readNextRowGroup()
    while (pages != null) {
      val records = io.getRecordReader(pages, new GroupRecordConverter(projection))
      var i = 0L
      while (i < pages.getRowCount) { f(records.read()); i += 1 }
      pages = reader.readNextRowGroup()
    }
  }

  /** What one sidecar holds, short of its positions: its layout (v2
    * DELETION VECTOR, one row per data file — [[DeleteVectors]] — or
    * the v1 one-row-per-position layout), its decoded position count,
    * and how many positions it records per data file, keyed by the raw
    * `file_path` spelling it recorded.
    */
  private[graft] final case class Summary(dv: Boolean, positions: Long,
      perFile: Map[String, Long])

  /** The one memo of sidecar metadata. Sidecars are immutable under
    * UUID dirs, so the path is a sound key; entries hold counts, never
    * positions.
    */
  private[graft] val summaryMemo = graft.Memo[String, Summary](4096)(Seq(_))

  /** One driver pass over a sidecar: the footer gives the layout and the
    * row count, then the `file_path` column (v2: with `card`, the
    * vector's exact cardinality written by the encoder) gives the
    * per-file counts. A v2 sidecar's COMPRESSED size is no proxy for
    * its decoded size (a RUN container understates it 100-1000×), and a
    * v1 sidecar's on-disk ~4 B/position understates the ~16 B decoded
    * row, so routing trusts these counts only.
    */
  private[graft] def summary(spark: SparkSession, path: String): Summary =
    summaryMemo(path) {
      readOnDriver(spark, path) { reader =>
        val dv = reader.getFooter.getFileMetaData.getSchema.containsField(DeleteVectors.DvCol)
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        if (dv) eachRow(reader, Seq(FileCol, DeleteVectors.CardCol)) { g =>
          val f = g.getString(0, 0)
          counts(f) = counts.getOrElse(f, 0L) + g.getLong(1, 0)
        }
        else eachRow(reader, Seq(FileCol)) { g =>
          val f = g.getString(0, 0)
          counts(f) = counts.getOrElse(f, 0L) + 1L
        }
        Summary(dv, if (dv) counts.values.sum else reader.getRecordCount, counts.toMap)
      }
    }

  private[graft] def isDvSidecar(spark: SparkSession, path: String): Boolean =
    summary(spark, path).dv

  /** ~bytes one decoded (file, pos) row costs on the driver route: an
    * 8 B ordinal plus per-row object/path-reference overhead.
    */
  private val DecodedRowBytes = 16L

  /** Estimated DECODED bytes of the delete side across `deleteFiles`
    * (positions × ~16 B), saturating at Long.MaxValue; an unreadable
    * sidecar returns Long.MaxValue outright (the conservative route —
    * many failures can never overflow the sum back below a threshold).
    */
  private[graft] def decodedBytesEstimate(spark: SparkSession,
      deleteFiles: Seq[String]): Long = {
    var bytes = 0L
    deleteFiles.foreach { p =>
      try bytes = math.addExact(bytes,
        math.multiplyExact(math.max(summary(spark, p).positions, 0L), DecodedRowBytes))
      catch {
        case _: ArithmeticException => return Long.MaxValue
        case scala.util.control.NonFatal(_) => return Long.MaxValue
      }
    }
    bytes
  }

  /** True when the sidecars' estimated DECODED bytes exceed
    * `graft.snapshot.deleteBroadcastBytes` (64 MB default) — the shared
    * routing decision of the read path (scan predicate vs anti-join)
    * and the delta-DML scan (driver-built ordinal arrays vs task-side
    * sidecar reads).
    */
  private[graft] def exceedsBroadcast(spark: SparkSession,
      deleteFiles: Seq[String]): Boolean = {
    val threshold = spark.conf
      .get("graft.snapshot.deleteBroadcastBytes", (64L << 20).toString).toLong
    decodedBytesEstimate(spark, deleteFiles) > threshold
  }

  /** The deleted positions of `deleteFiles`, read on the driver — None
    * above the bound or when a sidecar cannot be read there (the caller
    * then takes the anti-join). v1 positions are grouped per file and
    * re-encoded as deletion vectors, so the set ships compact either
    * way.
    */
  private[graft] def positionSet(spark: SparkSession,
      deleteFiles: Seq[String]): Option[PositionSet] =
    if (exceedsBroadcast(spark, deleteFiles)) None
    else try {
      val dvs = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Array[Byte]]]
      def add(f: String, dv: Array[Byte]): Unit =
        dvs.getOrElseUpdate(f, scala.collection.mutable.ArrayBuffer.empty) += dv
      deleteFiles.foreach { p =>
        if (isDvSidecar(spark, p))
          readOnDriver(spark, p)(eachRow(_, Seq(FileCol, DeleteVectors.DvCol)) { g =>
            add(g.getString(0, 0), g.getBinary(1, 0).getBytes) })
        else {
          val byFile = scala.collection.mutable.HashMap
            .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
          readOnDriver(spark, p)(eachRow(_, Seq(FileCol, PosCol)) { g =>
            byFile.getOrElseUpdate(g.getString(0, 0),
              new scala.collection.mutable.ArrayBuilder.ofLong) += g.getLong(1, 0)
          })
          byFile.foreach { case (f, b) => add(f, DeleteVectors.encode(b.result())) }
        }
      }
      Some(new PositionSet(deleteFiles.sorted, dvs.map { case (f, b) => f -> b.toArray }.toMap))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The delete-side frame over `deleteFiles` for the above-bound route —
    * (\_\_dd_file, \_\_dd_pos) pairs whichever sidecar layout(s) recorded
    * them: v1 rows pass through, v2 deletion vectors decode DISTRIBUTED
    * (each task expands its files' bitmaps; memory ∝ one file's
    * deletions), and the anti-join shuffles.
    */
  // memo of the delete-side FRAME per (session, sorted sidecar list):
  // sidecar files are immutable, so the plan is stable; serving the
  // SAME DataFrame object to every consumer lets Spark's exchange reuse
  // collapse repeated shuffles of one sidecar list inside a single
  // query (the per-commit feed resolves the same sidecars on both sides
  // of a step pair).
  private[graft] val sideMemo =
    graft.Memo[(SparkSession, Seq[String]), DataFrame](1024)(_._2)

  private def deleteSide(spark: SparkSession, deleteFiles: Seq[String]): DataFrame =
    sideMemo((spark, deleteFiles.sorted)) {
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
      (v1 ++ v2).reduceOption(_ union _).getOrElse {
        import spark.implicits._
        spark.emptyDataset[(String, Long)].toDF("__dd_file", "__dd_pos")
      }
    }

  /** Distinct data-file paths the sidecars reference — the set of files
    * whose reads need the delete applied. From the sidecar summaries:
    * driver-side, bounded by the count of files ever touched by an
    * unpurged delete (metadata-class, like the manifest itself).
    */
  def referencedDataFiles(spark: SparkSession,
      deleteFiles: Seq[String]): Seq[String] =
    deleteFiles.flatMap(summary(spark, _).perFile.keys).distinct

  /** Append the `_metadata`-derived (file, pos) identity columns to a
    * parquet scan — the input of [[live]] and [[matched]].
    */
  def withRowIdentity(scan: DataFrame): DataFrame = {
    require(!scan.columns.contains(MetaFile) && !scan.columns.contains(MetaPos),
      s"data schema must not contain reserved columns $MetaFile/$MetaPos")
    scan.select(col("*"),
      col("_metadata.file_path").as(MetaFile),
      col("_metadata.row_index").as(MetaPos))
  }

  private def deleted(set: PositionSet): Column =
    GraftShim.column(PositionDeleted(
      GraftShim.expression(col(MetaFile)), GraftShim.expression(col(MetaPos)), set))

  private def joinCond(withIdentity: DataFrame, deletes: DataFrame): Column =
    withIdentity(MetaFile) === deletes("__dd_file") &&
      withIdentity(MetaPos) === deletes("__dd_pos")

  /** The rows of a scan carrying the identity columns that
    * `deleteFiles` do NOT delete: a scan predicate within the bound, an
    * anti-join above it. Keeps the identity columns when `keepIdentity`
    * (the MOR delete's own probe records them); drops them otherwise.
    */
  def live(spark: SparkSession, withIdentity: DataFrame,
      deleteFiles: Seq[String], keepIdentity: Boolean = false): DataFrame = {
    val kept = positionSet(spark, deleteFiles) match {
      case Some(set) => withIdentity.filter(!deleted(set))
      case None =>
        val side = deleteSide(spark, deleteFiles)
        withIdentity.join(side, joinCond(withIdentity, side), "left_anti")
    }
    if (keepIdentity) kept else kept.drop(MetaFile, MetaPos)
  }

  /** Exactly the scan rows whose (file, pos) identity `deleteFiles`
    * record — the change feed's fast path for a pure MOR-delete step
    * (the deleted pre-images): a scan predicate within the bound, a
    * semi-join above it. Drops the identity columns.
    */
  def matched(spark: SparkSession, withIdentity: DataFrame,
      deleteFiles: Seq[String]): DataFrame =
    (positionSet(spark, deleteFiles) match {
      case Some(set) => withIdentity.filter(deleted(set))
      case None =>
        val side = deleteSide(spark, deleteFiles)
        withIdentity.join(side, joinCond(withIdentity, side), "left_semi")
    }).drop(MetaFile, MetaPos)
}
