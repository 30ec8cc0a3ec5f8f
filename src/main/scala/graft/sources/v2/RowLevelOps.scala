package graft.sources.v2

import java.util.UUID

import graft.sources.{FileStats, Snapshots}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations for the snapshot
  * table format — what makes SQL `UPDATE`, `MERGE INTO`, and
  * subquery-predicate `DELETE` work natively on catalog tables:
  *
  * {{{
  *   UPDATE cat.ns.t SET price = price * 1.1 WHERE region = 'EU'
  *   MERGE INTO cat.ns.t USING src ON t.id = src.id
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM cat.ns.t WHERE id IN (SELECT id FROM tombstones)
  * }}}
  *
  * Spark's own rewrite rules (RewriteUpdateTable / RewriteMergeIntoTable /
  * RewriteDeleteFromTable) plan these as a group-based ReplaceData: read
  * every row of the AFFECTED groups, apply the change, write the groups
  * back. This connector's group is the data FILE — the same COW unit as
  * [[Snapshots.merge]]/[[Snapshots.deleteWhere]] — so the contract is:
  * whatever files the row-level scan reads are exactly the files the
  * write replaces, atomically, under the optimistic append-rebase commit.
  *
  * Scale posture (the three prunings that keep a 100 TB UPDATE from
  * rewriting 100 TB):
  *  1. STATIC group pruning — the command's condition is pushed to the
  *     scan builder (group granularity only, per the group-based
  *     contract) and [[FileStats]] drops every candidate file whose
  *     footer ranges cannot contain a matching row. Untouched files
  *     carry into the new manifest verbatim.
  *  2. RUNTIME group pruning (default-on when safe) — for MERGE, the
  *     condition joins against the source, so nothing is statically
  *     pushable. When the scan advertises key columns as runtime
  *     filter attributes, Spark's RowLevelOperationRuntimeGroupFiltering
  *     computes the DISTINCT matching key values (a DPP-style
  *     subquery = the source's join keys for an upsert-shaped MERGE)
  *     and FileStats prunes candidates by value — the same key-range
  *     file skipping [[Snapshots.merge]] does with its probe. The
  *     subquery materializes those distinct values on the driver:
  *     right for selective upserts, wrong for a MERGE whose match set
  *     is the table — so [[AutoRuntimeGroupFilter]] advertises the
  *     merge's own equi-join keys automatically exactly when the
  *     SOURCE fits the broadcast threshold, and
  *     `graft.snapshot.runtimeGroupFilterColumns=<k1,k2>` remains the
  *     explicit override (it wins outright — the user asserted
  *     selectivity). `graft.snapshot.runtimeGroupFilterAuto=false`
  *     restores the round-6 opt-in-only behavior. An IN list larger
  *     than `graft.snapshot.runtimeGroupFilterMaxKeys` (default 64k)
  *     collapses to its [min,max] bounds before file pruning — O(1)
  *     per file instead of O(keys), keeping full pruning power on
  *     range-clustered layouts.
  *  3. Row filtering NEVER happens below the group level — a pushed
  *     condition must not drop non-matching rows from an affected file
  *     (they are copied, not deleted), so the inner parquet scan gets
  *     no filters and `pushedFilters` reports none.
  *
  * The write is a genuine distributed V2 batch write: each executor
  * task streams its partition's InternalRows through Spark's own
  * ParquetWriteSupport into one data file under the table (no driver
  * data path, no empty files for empty partitions), and the driver-side
  * commit publishes the manifest swap (removed = files the scan read,
  * added = files the tasks wrote) through [[Snapshots.replaceFiles]].
  * Task retries write attempt-unique file names; losers are reclaimed
  * by abort or, after a crash, by `Snapshots.gc` (no manifest ever
  * references them). Reference intent: the reference's dbt-style
  * incremental updates (lab07-dbt) re-expressed as transactional SQL
  * DML on the lakehouse table.
  */
private[v2] final class SnapshotRowLevelOperation(
    val path: String, cmd: Command,
    resolveTable: () => ResolvedSnapshot) extends RowLevelOperation {

  // Pinned once per operation: the scan's candidate resolution, the
  // runtime filter, and the write's commit all speak about the same
  // snapshot version. `scanFiles` is what the scan will actually read
  // after every pruning — the exact group set the commit replaces.
  @volatile private var pinned: ResolvedSnapshot = null
  @volatile private[v2] var scanFiles: Seq[String] = Nil

  // Set by AutoRuntimeGroupFilter (pre-CBO) when this MERGE's source
  // fits the broadcast threshold: the target-side equi-join key
  // columns to advertise as runtime filter attributes. Empty = the
  // guard said full COW (or the rule never ran — same safe default).
  @volatile private[v2] var autoKeyCols: Seq[String] = Nil

  private[v2] def pin(): ResolvedSnapshot = {
    if (pinned == null) pinned = resolveTable()
    pinned
  }

  private[v2] def applyRuntimeFilter(exprs: Seq[Expression]): Unit =
    if (exprs.nonEmpty) {
      val spark = SparkSession.active
      val maxKeys = spark.conf
        .get("graft.snapshot.runtimeGroupFilterMaxKeys", "65536").toInt
      // an oversized IN would cost O(keys) per candidate file in
      // FileStats.mayMatch; its [min,max] hull is O(1) per file and
      // keeps full pruning power on range-clustered layouts
      val shaped = exprs.map {
        case in @ In(a, vs) if vs.length > maxKeys &&
            vs.forall(_.isInstanceOf[Literal]) =>
          try {
            val ord = org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(vs.head.dataType)
            val values = vs.map(_.asInstanceOf[Literal].value)
            val lo = Literal(values.min(ord), vs.head.dataType)
            val hi = Literal(values.max(ord), vs.head.dataType)
            org.apache.spark.sql.catalyst.expressions.And(
              org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(a, lo),
              org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(a, hi))
          } catch { case scala.util.control.NonFatal(_) => in }
        case e => e
      }
      scanFiles = FileStats.pruneResolved(spark, path, scanFiles, shaped)
    }

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RowLevelScanBuilder(this, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        def toBatch0: BatchWrite = {
          val committed = pin().table.schema
          def sig(s: StructType) =
            s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
          require(sig(committed) == sig(info.schema),
            s"graft-snapshot $path: row-level ${cmd} write schema " +
              s"${info.schema} does not match committed schema $committed")
          new SnapshotReplaceBatchWrite(SnapshotRowLevelOperation.this,
            info.schema)
        }
        val desc = s"graft-snapshot sql-${cmd.toString.toLowerCase} $path"
        // a declared write sort order (Snapshots.setSortSpec) holds
        // through DML rewrites: ask Spark for a range distribution +
        // in-partition sort on the sort columns, so the files a COW
        // UPDATE/MERGE/DELETE writes back stay as prunable as the ones
        // it replaced. This is the stock V2 contract — Spark plans the
        // shuffle/sort, AQE sizes it.
        val sortCols = Snapshots.sortSpec(SparkSession.active, path)
          .filter(c => info.schema.fieldNames.contains(c))
        if (sortCols.isEmpty) new Write {
          override def toBatch: BatchWrite = toBatch0
          override def description: String = desc
        } else new Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
          private val orders = sortCols.map(c =>
            Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.ordered(orders)
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] = orders
          override def toBatch: BatchWrite = toBatch0
          override def description: String = s"$desc ordered by ${sortCols.mkString(",")}"
        }
      }
    }

  override def description: String =
    s"graft-snapshot ${cmd} $path"
}

/** Scan builder for the row-level read. Pushed filters are used at
  * GROUP granularity only (FileStats file pruning); every filter is
  * returned as residual and none is forwarded to parquet — an affected
  * file's non-matching rows must be READ and COPIED, so dropping them
  * at row-group level would lose data.
  */
private[v2] final class RowLevelScanBuilder(op: SnapshotRowLevelOperation,
    options: CaseInsensitiveStringMap) extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var groupFilters: Seq[Expression] = Nil
  private var required: Option[StructType] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    groupFilters = filters
    filters // all residual: group-granularity pruning only
  }

  override def pushedFilters: Array[Predicate] = Array.empty

  override def pruneColumns(s: StructType): Unit = required = Some(s)

  override def build(): Scan = {
    val spark = SparkSession.active
    val resolved = op.pin()
    // the group-replacement read does not apply position-delete
    // sidecars: rewriting a delete-bearing file would resurrect its
    // subtracted rows into the replacement. Refuse loudly; folding the
    // deletes in first makes the op safe (the translatable-DELETE fast
    // path and the Scala-API merge/deleteWhere stay available on MOR
    // tables — both run on the live view).
    require(resolved.deletes.isEmpty,
      s"graft-snapshot ${resolved.path}: SQL UPDATE/MERGE INTO (and " +
        "subquery DELETE) require no outstanding position deletes — run " +
        "CALL <catalog>.system.purge_deletes first (or Snapshots.purgeDeletes)")
    // a COW group rewrite under an outstanding equality delete would
    // move rows into files outside every scope — resurrection
    require(resolved.eqDeletes.isEmpty,
      s"graft-snapshot ${resolved.path}: SQL UPDATE/MERGE INTO (and " +
        "subquery DELETE) require no outstanding equality deletes — run " +
        "CALL <catalog>.system.purge_eq_deletes first (or Snapshots.purgeEqDeletes)")
    op.scanFiles = FileStats.pruneResolved(
      spark, resolved.path, resolved.files, groupFilters)
    val explicit = spark.conf
      .get("graft.snapshot.runtimeGroupFilterColumns", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val auto =
      if (explicit.nonEmpty) Nil // explicit opt-in wins outright
      else if (spark.conf
          .get("graft.snapshot.runtimeGroupFilterAuto", "true").toBoolean)
        op.autoKeyCols
      else Nil
    val keyCols = (explicit ++ auto).distinct
      .filter(c => resolved.table.schema.fieldNames.contains(c))
    if (keyCols.isEmpty)
      new RowLevelScan(op, required, options)
    else
      new RowLevelScan(op, required, options)
        with SupportsRuntimeV2Filtering {
        override def filterAttributes(): Array[NamedReference] =
          keyCols.map(Expressions.column).toArray
        override def filter(predicates: Array[Predicate]): Unit =
          op.applyRuntimeFilter(predicates.toSeq.flatMap(
            RowLevelScan.toCatalyst(_, op.pin().table.schema)))
      }
  }
}

/** The row-level Scan: delegates wholesale to Spark's parquet scan over
  * the op's current file set. `toBatch` rebuilds the inner scan on each
  * call — Spark re-plans partitions after a runtime filter lands, and
  * the rebuild picks up the pruned file list.
  */
private[v2] class RowLevelScan(op: SnapshotRowLevelOperation,
    required: Option[StructType], options: CaseInsensitiveStringMap)
    extends Scan {

  private def fullSchema: StructType = op.pin().table.schema

  override def readSchema(): StructType = required.getOrElse(fullSchema)

  override def toBatch: Batch = {
    val spark = SparkSession.active
    // user-specified schema: a pruned candidate list may be empty (the
    // condition provably matches nothing) or, on an evolved table, miss
    // columns other files carry — the committed schema governs either way
    val t = ParquetTable(s"graft-snapshot:${op.path} rowlevel",
      spark, options, op.scanFiles.toList, Some(fullSchema),
      classOf[ParquetFileFormat])
    val b = t.newScanBuilder(options)
    (b, required) match {
      case (m: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns,
          Some(s)) => m.pruneColumns(s)
      case _ => ()
    }
    b.build().toBatch
  }

  override def description: String =
    s"graft-snapshot rowlevel ${op.path} (${op.scanFiles.size} files)"
}

private[v2] object RowLevelScan {
  /** Translate the runtime group-filter predicates Spark hands to
    * `SupportsRuntimeV2Filtering.filter` (IN / = over the advertised
    * attributes) into the catalyst shapes [[FileStats]] prunes with.
    * Anything unrecognized is skipped — pruning is a pure optimization.
    */
  private[v2] def toCatalyst(p: Predicate, schema: StructType): Option[Expression] = {
    def attr(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[AttributeReference] = e match {
      case fr: NamedReference if fr.fieldNames.length == 1 =>
        schema.find(_.name == fr.fieldNames.head)
          .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
      case _ => None
    }
    p.name() match {
      case "IN" =>
        val children = p.children()
        for (a <- children.headOption.flatMap(attr)) yield {
          val lits = children.tail.toSeq.collect {
            case lv: org.apache.spark.sql.connector.expressions.Literal[_] =>
              Literal(lv.value, lv.dataType)
          }
          In(a, lits)
        }
      case "=" if p.children().length == 2 =>
        val cs = p.children()
        (attr(cs(0)), cs(1)) match {
          case (Some(a),
              lv: org.apache.spark.sql.connector.expressions.Literal[_]) =>
            Some(EqualTo(a, Literal(lv.value, lv.dataType)))
          case _ => None
        }
      case _ => None
    }
  }
}

/** The distributed COW write: tasks write parquet, the driver publishes
  * the group swap. `removed` is read from the op at COMMIT time — after
  * any runtime filter has pruned the scan — so the replaced set always
  * equals the set actually read.
  */
private[v2] final class SnapshotReplaceBatchWrite(
    op: SnapshotRowLevelOperation, writeSchema: StructType) extends BatchWrite {

  private val dataDir = s"${op.path}/data/${UUID.randomUUID}"

  private def norm(p: String): String = new Path(p).toUri.getPath

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // DML-rewritten files carry the table's field-id assignment like
    // every other write (the invariant RENAME/DROP COLUMN rides on)
    new SnapshotParquetWriterFactory(dataDir,
      graft.sources.FieldIds.load(SparkSession.active, op.path)
        .map(graft.sources.FieldIds.attach(_, writeSchema))
        .getOrElse(writeSchema).json,
      SnapshotReplaceBatchWrite.parquetWriteConf() ++
        // DML-rewritten files keep the table's parquet-native blooms
        // (resolved on the driver; stock per-column parquet keys)
        Snapshots.bloomWriteOptions(SparkSession.active, op.path))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val added = messages.iterator.collect {
      case m: SnapshotFilesMessage => m.files
    }.flatten.toSeq.sorted
    val removed = op.scanFiles
    if (removed.isEmpty && added.isEmpty) return // statically proven no-op
    // A replace that WROTE nothing and whose read files hold zero rows
    // is a pure no-op: publishing it would only drop zero-row files —
    // including the schema-anchor file an empty table's CREATE commits,
    // leaving the manifest unreadable. Footer record counts are a cheap
    // driver-side read and only consulted on this empty-write edge.
    if (added.isEmpty && removedRowCount(spark, removed) == 0L) return
    FileStats.record(spark, op.path, added)
    Snapshots.replaceFiles(spark, op.path, op.pin().version,
      removed.map(norm).toSet, added,
      s"sql-${op.command.toString.toLowerCase}", Seq(new Path(dataDir)))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val d = new Path(dataDir)
    d.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      .delete(d, true)
    ()
  }

  /** Total parquet record count of `files` from footers; an unreadable
    * footer counts as non-zero so the commit conservatively publishes.
    */
  private def removedRowCount(spark: SparkSession, files: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.iterator.map { f =>
      try {
        val r = graft.sources.FooterSchemas.open(conf, f)
        try r.getRecordCount finally r.close()
      } catch { case scala.util.control.NonFatal(_) => 1L }
    }.sum
  }
}

private[v2] object SnapshotReplaceBatchWrite {
  /** Everything ParquetWriteSupport's init asserts on, captured from the
    * live session's SQLConf on the driver so V2-written files are
    * byte-compatible with the `df.write.parquet` files the rest of the
    * format produces (same legacy-format, timestamp, rebase, field-id
    * and compression choices).
    */
  private[v2] def parquetWriteConf(): Map[String, String] = {
    val c = SQLConf.get
    Map(
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key ->
        c.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key ->
        c.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString,
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key ->
        c.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key ->
        c.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key ->
        c.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
        c.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString,
      "parquet.write.support.class" -> classOf[ParquetWriteSupport].getName,
      "parquet.compression" ->
        c.getConf(SQLConf.PARQUET_COMPRESSION).toUpperCase)
  }
}

private[v2] final case class SnapshotFilesMessage(files: Seq[String])
    extends WriterCommitMessage

private[v2] final class SnapshotParquetWriterFactory(dir: String,
    schemaJson: String, conf: Map[String, String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapshotParquetWriter(dir, schemaJson, conf, partitionId, taskId)
}

/** One parquet file per non-empty task, written through Spark's own
  * ParquetWriteSupport (vectorizable layout, session-consistent
  * encodings). The writer is created on the first row, so empty
  * partitions contribute no file. File names embed partition AND task
  * id: a speculative or retried attempt writes a distinct file, and
  * only the committed attempt's path reaches the driver.
  */
private[v2] final class SnapshotParquetWriter(dir: String, schemaJson: String,
    conf: Map[String, String], partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private var writer: ParquetOutputWriter = null
  private var path: String = null
  // group-based ReplaceData prepends RowDeltaUtils.OPERATION_COLUMN (an
  // int op code) to every row; Spark only strips it for connectors that
  // request metadata attributes (DataAndMetadataWritingSparkTask), so
  // this writer applies the same leading-column projection itself.
  private var opProj: org.apache.spark.sql.catalyst.ProjectingInternalRow = null
  private var shaped = false

  private def ensure(): Unit = if (writer == null) {
    val hconf = new Configuration()
    conf.foreach { case (k, v) => hconf.set(k, v) }
    ParquetWriteSupport.setSchema(schema, hconf)
    path = f"$dir/part-$partitionId%05d-$taskId-${UUID.randomUUID}.snappy.parquet"
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-rowlevel", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    writer = new ParquetOutputWriter(path,
      new TaskAttemptContextImpl(hconf, attempt))
  }

  override def write(row: InternalRow): Unit = {
    ensure()
    if (!shaped) {
      shaped = true
      if (row.numFields == schema.length + 1)
        opProj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
          schema, 1 to schema.length)
      else require(row.numFields == schema.length,
        s"row-level write row has ${row.numFields} fields for " +
          s"${schema.length}-column schema")
    }
    if (opProj == null) writer.write(row)
    else {
      val op = row.getInt(0)
      require(op == org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_OPERATION ||
        op == org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_WITH_METADATA_OPERATION,
        s"group-based replace-data write expects WRITE rows only, got op code $op")
      opProj.project(row)
      writer.write(opProj)
    }
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); writer = null }
    SnapshotFilesMessage(Option(path).toSeq)
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    if (path != null) {
      val p = new Path(path)
      p.getFileSystem(new Configuration()).delete(p, false)
      ()
    }
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}
