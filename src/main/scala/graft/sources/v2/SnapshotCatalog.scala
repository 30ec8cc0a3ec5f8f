package graft.sources.v2

import java.util

import graft.sources.Snapshots
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark V2 `TableCatalog` over the snapshot table format — the piece
  * that makes the whole format SQL-NATIVE. With
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.v2.SnapshotCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * plain SQL drives the table lifecycle end to end:
  *
  * {{{
  *   CREATE TABLE graft.ns.t (id BIGINT, v BIGINT)
  *   INSERT INTO graft.ns.t VALUES (1, 10)          -- tokenless commit
  *   INSERT OVERWRITE graft.ns.t SELECT ...          -- replace-publish
  *   SELECT * FROM graft.ns.t                        -- latest snapshot
  *   SELECT * FROM graft.ns.t VERSION AS OF 2        -- time travel
  *   SELECT * FROM graft.ns.t TIMESTAMP AS OF '...'  -- publish-time travel
  *   DROP TABLE graft.ns.t
  * }}}
  *
  * An identifier `ns….t` maps to the directory `warehouse/ns…/t`; the
  * catalog holds NO state of its own (the manifest chain in each table
  * directory is the single source of truth), so any number of sessions
  * and catalogs over one warehouse see the same committed versions —
  * exactly the property the optimistic manifest publish provides.
  * Reads resolve through the same [[SnapshotProvider]] plumbing as
  * `spark.read.format("graft-snapshot")` (manifest-level data skipping
  * included), and writes ride the V1Write fallback into
  * `Snapshots.commit` — one commit protocol under every surface.
  * `VERSION AS OF` / `TIMESTAMP AS OF` resolve through the same
  * version pinning as the reader options (timestamps via
  * [[Snapshots.versionAsOfTimestamp]], Iceberg's newest-at-or-before).
  *
  * Schema evolution is METADATA-ONLY across the whole ALTER surface a
  * lakehouse user reaches for: ADD COLUMNS, lossless type widening,
  * and — via per-field ids ([[graft.sources.FieldIds]]) — RENAME and
  * DROP COLUMN. Type narrowing goes through overwrite commits (loud,
  * not silent). Partition transforms other than `bucket(n, col)` are
  * refused (layout is the snapshot format's own:
  * range/z-order rewrites). `PARTITIONED BY (bucket(n, col))` IS
  * supported — it creates a bucketed table whose co-bucketed joins
  * plan as storage-partitioned (zero-exchange) joins, with the
  * catalog's `bucket` V2 function as the compatibility anchor.
  */
class SnapshotCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  /** COLUMN DEFAULT VALUES (Iceberg-v3 / Delta shape): declaring the
    * capability makes Spark route `DEFAULT <expr>` through CREATE/ALTER
    * — the catalog persists them as the standard field-metadata pair
    * (CURRENT_DEFAULT: applied by Spark to INSERTs that omit the
    * column; EXISTS_DEFAULT: the folded literal Spark's parquet readers
    * substitute for columns MISSING FROM A FILE). An ALTER ADD ...
    * DEFAULT is therefore metadata-only at any table size: files
    * predating the column serve the initial default, files written
    * after it serve their stored values — including explicit NULLs,
    * which a lazy `coalesce` would corrupt. Reference intent: the
    * staging layer's `ifNull(..., 'Unknown')` backfill
    * (stg_customers.sql:7) without a per-read projection.
    */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE)

  /** The catalog's V2 functions: just `bucket` — what Spark resolves a
    * bucketed table's reported `bucket(n, col)` transform against, the
    * compatibility anchor of storage-partitioned joins (and callable
    * from SQL as `<cat>.bucket(n, key)` to inspect row routing).
    */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") BucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** `CALL <cat>.system.<proc>(...)` — table maintenance from SQL
    * (compact / optimize_zorder / restore / vacuum / gc / history),
    * delegating to [[graft.sources.Snapshots]]; see SnapshotProcedures.
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(SnapshotProcedures.Namespace))
      throw new RuntimeException(
        s"graft-snapshot: no procedure namespace ${ident.namespace().mkString(".")}")
    SnapshotProcedures.load(ident.name(), warehouse).getOrElse(
      throw new RuntimeException(
        s"graft-snapshot: unknown procedure ${ident.name()}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(SnapshotProcedures.Namespace))
      SnapshotProcedures.list()
    else Array.empty

  override def name(): String = catalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  private def spark: SparkSession = SparkSession.active

  // identifier parts become filesystem path segments — a '/' or '..'
  // inside a (backtick-quoted) part would traverse OUT of the warehouse
  // (DROP TABLE could then delete arbitrary directories) or alias two
  // identifiers to one directory
  private def validPart(part: String): String = {
    require(part.nonEmpty && part != "." && part != ".." &&
      !part.contains("/") && !part.contains("\\"),
      s"invalid identifier segment '$part' (path separators and " +
        "'..' are not allowed)")
    part
  }

  private def tablePath(ident: Identifier): String =
    ((ident.namespace() :+ ident.name()).map(validPart))
      .mkString(s"$warehouse/", "/", "")

  private def nsPath(namespace: Array[String]): Path =
    new Path((warehouse +: namespace.map(validPart).toSeq).mkString("/"))

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isTable(path: String): Boolean =
    Snapshots.versions(spark, path).nonEmpty

  override def tableExists(ident: Identifier): Boolean =
    isTable(tablePath(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => isTable((warehouse +: namespace :+ n).mkString("/")))
      .map(Identifier.of(namespace, _))
  }

  /** Resolve through the provider so catalog reads share the memoized
    * manifest resolution + pruning scan builder with the format path.
    */
  private def load(ident: Identifier, extra: Map[String, String]): Table = {
    val path = tablePath(ident)
    promoteRenameStage(new Path(path)) // heal a crash mid-rename (no-op otherwise)
    // `VERSION AS OF '<name>'`: immutable TAGS win the name; otherwise a
    // registered long-lived BRANCH resolves to its own table at head —
    // the Iceberg branch-read surface through plain SQL
    extra.get("asOfTag").foreach { t =>
      if (isTable(path) && Snapshots.tagVersion(spark, path, t).isEmpty)
        Snapshots.branchPathOf(spark, path, t).foreach { bp =>
          val p2 = new SnapshotProvider
          import scala.jdk.CollectionConverters._
          val opts = new CaseInsensitiveStringMap(
            (Map("path" -> bp) ++ (extra - "asOfTag")).asJava)
          return p2.getTable(p2.inferSchema(opts), Array.empty,
            new util.HashMap[String, String](opts))
        }
    }
    if (!isTable(path)) {
      // Iceberg-style METADATA TABLES: `SELECT * FROM cat.ns.t.history`
      // parses as ident(ns=[ns,t], name=history) — when that path is
      // not a real table but its PARENT is, serve the parent's
      // metadata as a read-only table. A real table always wins the
      // name (checked above), so no data table can be shadowed.
      val ns = ident.namespace()
      if (ns.nonEmpty && MetadataKinds.contains(ident.name())) {
        val parentPath = tablePath(Identifier.of(ns.init, ns.last))
        if (isTable(parentPath))
          return metadataTable(parentPath, ident.name(), extra)
      }
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    }
    val p = new SnapshotProvider
    import scala.jdk.CollectionConverters._
    val opts = new CaseInsensitiveStringMap(
      (Map("path" -> path) ++ extra).asJava)
    p.getTable(p.inferSchema(opts), Array.empty,
      new util.HashMap[String, String](opts))
  }

  private val MetadataKinds =
    Set("history", "files", "tags", "delete_files", "branches",
      "partition_specs", "materialized_views", "retention")

  /** Read-only metadata tables over a snapshot table's manifest state
    * (the Iceberg `db.t.history` surface):
    *
    *  - `t.history` — version, commit token, file count per version
    *  - `t.files`   — current data files with bucket tag, exact row
    *    count (stats sidecar) and on-disk size
    *  - `t.tags`    — immutable named refs
    *  - `t.branches` — registered long-lived branches + heads
    *  - `t.delete_files` — outstanding MOR sidecars, both forms
    *  - `t.partition_specs` — hidden-partitioning epoch ledger
    *  - `t.materialized_views` — registered views + staleness
    *  - `t.retention` — the declared history-retention policy
    *
    * Driver-materialized ([[org.apache.spark.sql.connector.read.LocalScan]]):
    * bounded by FILE/VERSION count, never row count — the same
    * envelope as every manifest-algebra operation (PLANS.md posture
    * index), and the rows are recomputed at scan-build time so each
    * query sees the current state.
    */
  private def metadataTable(parentPath: String, kind: String,
      extra: Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    // history and tags are whole-table ledgers: an AS OF against them
    // has no single honest meaning, so it is refused rather than
    // silently ignored (files supports VERSION AS OF — see below)
    if (kind != "files" && kind != "delete_files" && extra.nonEmpty)
      throw new IllegalArgumentException(
        s"graft-snapshot $parentPath.$kind: time travel is not " +
          "supported on this metadata table")
    new org.apache.spark.sql.connector.catalog.Table
        with org.apache.spark.sql.connector.catalog.SupportsRead {
      import org.apache.spark.sql.connector.catalog.TableCapability
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
      import org.apache.spark.unsafe.types.UTF8String

      override def name(): String = s"graft-snapshot:$parentPath.$kind"

      override def schema(): StructType = kind match {
        case "history" => new StructType()
          .add("version", LongType).add("token", StringType)
          .add("n_files", IntegerType)
        case "files" => new StructType()
          .add("path", StringType).add("bucket", IntegerType)
          .add("rows", LongType).add("size_bytes", LongType)
        case "tags" => new StructType()
          .add("name", StringType).add("version", LongType)
        case "branches" => new StructType()
          .add("name", StringType).add("path", StringType)
          .add("head_version", LongType)
        case "delete_files" => new StructType()
          .add("path", StringType).add("positions", LongType)
          .add("size_bytes", LongType).add("kind", StringType)
          .add("scope", LongType)
        case "partition_specs" => new StructType()
          .add("epoch", IntegerType).add("transform", StringType)
          .add("source_column", StringType).add("arg", IntegerType)
          .add("is_current", org.apache.spark.sql.types.BooleanType)
        case "materialized_views" => new StructType()
          .add("name", StringType).add("path", StringType)
          .add("refreshed_through", LongType).add("base_head", LongType)
          .add("stale", org.apache.spark.sql.types.BooleanType)
        case "retention" => new StructType()
          .add("keep_versions", IntegerType).add("keep_days", IntegerType)
      }

      override def capabilities(): util.Set[TableCapability] =
        java.util.Set.of(TableCapability.BATCH_READ)

      override def newScanBuilder(options: CaseInsensitiveStringMap)
          : org.apache.spark.sql.connector.read.ScanBuilder = () =>
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = schema()
          override def description(): String = name()
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
            import org.apache.spark.sql.catalyst.InternalRow
            val sp = SparkSession.active
            kind match {
              case "history" =>
                Snapshots.history(sp, parentPath)
                  .select("version", "token", "n_files").collect().map { r =>
                    InternalRow.fromSeq(Seq(r.getLong(0),
                      if (r.isNullAt(1)) null
                      else UTF8String.fromString(r.getString(1)),
                      r.getInt(2)))
                  }
              case "tags" =>
                Snapshots.tags(sp, parentPath).toSeq.sortBy(_._1).map {
                  case (n, v) =>
                    InternalRow.fromSeq(Seq(UTF8String.fromString(n), v))
                }.toArray
              case "branches" =>
                // registered long-lived branches and their current heads
                // (a stale ref whose table is gone reports head NULL)
                Snapshots.branches(sp, parentPath).map { case (n, p) =>
                  InternalRow.fromSeq(Seq(UTF8String.fromString(n),
                    UTF8String.fromString(p),
                    Snapshots.versions(sp, p).lastOption
                      .map(Long.box).orNull))
                }.toArray
              case "partition_specs" =>
                // the hidden-partitioning epoch ledger; the last
                // non-`none` epoch (if last overall) is current
                val eps = graft.sources.PartitionSpecs.epochs(sp, parentPath)
                val cur = graft.sources.PartitionSpecs.current(sp, parentPath)
                eps.map { s =>
                  InternalRow.fromSeq(Seq(s.epoch,
                    UTF8String.fromString(s.transform),
                    if (s.column.isEmpty) null
                    else UTF8String.fromString(s.column),
                    s.arg.map(Int.box).orNull,
                    Boolean.box(cur.contains(s))))
                }.toArray
              case "materialized_views" =>
                // registered incremental views + their staleness vs
                // this table's head
                val head = Snapshots.versions(sp, parentPath).lastOption
                graft.sources.MaterializedViews.registered(sp, parentPath)
                  .map { case (n, p) =>
                    val through = scala.util.Try(graft.sources
                      .MaterializedViews.refreshedThrough(sp, p)).toOption
                    InternalRow.fromSeq(Seq(UTF8String.fromString(n),
                      UTF8String.fromString(p),
                      through.map(Long.box).orNull,
                      head.map(Long.box).orNull,
                      Boolean.box(through != head)))
                  }.toArray
              case "retention" =>
                Snapshots.retention(sp, parentPath).toArray.map {
                  case (kv, kd) => InternalRow.fromSeq(Seq(
                    kv.map(Int.box).orNull, kd.map(Int.box).orNull))
                }
              case "files" | "delete_files" =>
                // time travel: `t.files VERSION AS OF <v|'tag'>` lists
                // THAT version's file set — serving HEAD under an asOf
                // would be a silent wrong answer. TIMESTAMP AS OF is
                // refused loudly (the mapping is a data-table concern).
                val asOf: Option[Long] = extra.get("asOf").map(_.toLong)
                  .orElse(extra.get("asOfTag").map { t =>
                    Snapshots.tags(sp, parentPath).toMap.getOrElse(t,
                      throw new IllegalArgumentException(
                        s"graft-snapshot $parentPath: no tag '$t'"))
                  })
                if (extra.contains("asOfTimestamp"))
                  throw new IllegalArgumentException(
                    s"graft-snapshot $parentPath.$kind: TIMESTAMP AS OF " +
                      "is not supported on metadata tables; use " +
                      "VERSION AS OF <version|'tag'>")
                if (kind == "delete_files") {
                  // outstanding merge-on-read sidecars of the version,
                  // BOTH delete forms: path, recorded rows (footer
                  // count — a position-sidecar row IS one deleted
                  // position; an equality-sidecar row is one keyed
                  // subtraction), on-disk size, kind, and (equality
                  // only) the version scope the keys subtract under
                  val fsys = new Path(parentPath).getFileSystem(
                    sp.sparkContext.hadoopConfiguration)
                  def info(p: String, position: Boolean): (Long, Long) =
                    try {
                      val st = fsys.getFileStatus(new Path(p))
                      // a position sidecar reports its decoded position
                      // count (v1: one row per position; v2: the deletion
                      // vectors' recorded cardinality sum)
                      val n =
                        if (position) graft.sources.PositionDeletes.summary(sp, p).positions
                        else sp.read.parquet(p).count()
                      (n, st.getLen)
                    } catch {
                      case scala.util.control.NonFatal(_) => (-1L, -1L)
                    }
                  val pos = Snapshots.deleteFiles(sp, parentPath, asOf).map { p =>
                    val (n, size) = info(p, position = true)
                    InternalRow.fromSeq(Seq(UTF8String.fromString(p), n, size,
                      UTF8String.fromString("position"), null))
                  }
                  val eqs = Snapshots.eqDeleteFiles(sp, parentPath, asOf).map {
                    case (scope, p) =>
                      val (n, size) = info(p, position = false)
                      InternalRow.fromSeq(Seq(UTF8String.fromString(p), n, size,
                        UTF8String.fromString("equality"), scope))
                  }
                  return (pos ++ eqs).toArray
                }
                val detail = graft.sources.FileStats.loadDetail(sp, parentPath)
                val fsys = new Path(parentPath).getFileSystem(
                  sp.sparkContext.hadoopConfiguration)
                Snapshots.dataFiles(sp, parentPath, asOf).map { f =>
                  val norm = new Path(f).toUri.getPath
                  val nRows: Any = detail.get(norm)
                    .flatMap(_.values.headOption).map(d => Long.box(d.rows)).orNull
                  val size: Long =
                    try fsys.getFileStatus(new Path(f)).getLen
                    catch { case scala.util.control.NonFatal(_) => -1L }
                  InternalRow.fromSeq(Seq(UTF8String.fromString(f),
                    Snapshots.bucketOfPath(f).map(Int.box).orNull, nRows, size))
                }.toArray
            }
          }
        }
    }
  }

  override def loadTable(ident: Identifier): Table = load(ident, Map.empty)

  /** `VERSION AS OF <v>` — a numeric literal is a version, anything
    * else resolves through the table's immutable tag refs (tag names
    * are forbidden from being all-digits, so the dispatch is
    * unambiguous): `SELECT ... FROM t VERSION AS OF 'audited'`.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Map(
      (if (version.nonEmpty && version.forall(_.isDigit)) "asOf" else "asOfTag")
        -> version))

  /** `TIMESTAMP AS OF <ts>` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, Map("asOfTimestamp" -> (timestamp / 1000L).toString))

  /** Supported layout transforms for `PARTITIONED BY`:
    *  - `bucket(n, col)` on a BIGINT column — hash-bucketed layout
    *    (storage-partitioned joins);
    *  - ONE hidden-partitioning transform — `years|months|days|hours
    *    (ts)`, `truncate(n, col)`, or a bare column (identity) — a
    *    clustering spec ([[graft.sources.PartitionSpecs]]): writes
    *    range-cluster on the transform value and reads prune through
    *    footer stats on the SOURCE column, the reference's
    *    `toYYYYMM(order_ts)` mart layout without a partition column
    *    in the schema.
    * Combinations are refused (one layout owner per table).
    */
  private def layoutOf(partitions: Array[Transform], schema: StructType)
      : (Option[(String, Int)], Option[(String, String, Option[Int])]) =
    partitions.toSeq match {
      case Seq(t) if t.name != "bucket" &&
          graft.sources.PartitionSpecs.AllTransforms.contains(t.name) =>
        val refs = t.references()
        require(refs.length == 1 && refs.head.fieldNames.length == 1,
          s"partition transform must reference one top-level column, got $t")
        val c = refs.head.fieldNames.head
        val arg = t.arguments().collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.dataType == org.apache.spark.sql.types.IntegerType =>
            l.value.asInstanceOf[Int]
        }.headOption
        graft.sources.PartitionSpecs.validate(t.name, c, arg, schema)
        (None, Some((t.name, c, arg)))
      case other => (bucketTransformOf(other.toArray, schema), None)
    }

  private def bucketTransformOf(partitions: Array[Transform],
      schema: StructType): Option[(String, Int)] = partitions.toSeq match {
    case Seq() => None
    case Seq(bt) if bt.name == "bucket" =>
      val refs = bt.references()
      val ns = bt.arguments().collect {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.dataType == org.apache.spark.sql.types.IntegerType =>
          l.value.asInstanceOf[Int]
      }
      require(refs.length == 1 && refs.head.fieldNames.length == 1 &&
          ns.length == 1,
        s"bucket transform must be bucket(n, <one top-level column>), got $bt")
      val c = refs.head.fieldNames.head
      require(schema.fields.exists(f => f.name == c &&
          f.dataType == org.apache.spark.sql.types.LongType),
        s"bucket column $c must be an existing BIGINT column")
      // the writer validates n > 0 too, but the DDL route must fail at
      // CREATE time — a persisted bucket(0) spec would brick every
      // subsequent INSERT (and h % 0 divides by zero in BucketFunction)
      require(ns.head > 0,
        s"bucket(n, $c): numBuckets must be positive, got ${ns.head}")
      Some((c, ns.head))
    case other => throw new IllegalArgumentException(
      "graft-snapshot tables support PARTITIONED BY with ONE layout " +
        "transform: bucket(n, col), years/months/days/hours(ts), " +
        "truncate(n, col), or a bare column (identity). " +
        s"Got: ${other.mkString(", ")}")
  }

  /** Declared layout specs from TBLPROPERTIES — the DDL-time spelling
    * of `Snapshots.setSortSpec` / `setBloomSpec` (CALL procedures are
    * the post-hoc spelling):
    *
    * {{{
    *   CREATE TABLE t (...) TBLPROPERTIES (
    *     'write.order' = 'k1,k2',      -- range-cluster every write
    *     'bloom.k1'    = '50000')      -- parquet-native blooms, NDV
    * }}}
    *
    * Installed AFTER the create publishes (a lost CREATE race installs
    * nothing), validated against the declared schema so a typo fails
    * the DDL loudly instead of silently never clustering.
    */
  private def installDeclaredSpecs(path: String, schema: StructType,
      properties: util.Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    val props = properties.asScala
    props.get("write.order").foreach { v =>
      val cols = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val missing = cols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"write.order columns not in schema: ${missing.mkString(", ")}")
      Snapshots.setSortSpec(spark, path, cols)
    }
    val blooms = props.collect {
      case (k, v) if k.startsWith("bloom.") && k.length > 6 =>
        val c = k.substring(6)
        require(schema.fieldNames.contains(c),
          s"bloom column not in schema: $c")
        c -> v.trim.toLong
    }.toMap
    if (blooms.nonEmpty) Snapshots.setBloomSpec(spark, path, blooms)
    // DML routing per command: 'merge-on-read' = position-delete
    // sidecars + appended rows (delta write), 'copy-on-write' (default)
    // = touched-file rewrites
    Snapshots.DmlKinds.foreach { kind =>
      props.get(s"write.$kind.mode").foreach(
        Snapshots.setDmlMode(spark, path, kind, _))
    }
    // history retention policy (maintain()'s expiry step): keep at
    // least N versions AND everything younger than T days
    val rv = props.get("retention.versions").map(_.trim.toInt)
    val rd = props.get("retention.days").map(_.trim.toInt)
    if (rv.nonEmpty || rd.nonEmpty)
      Snapshots.setRetention(spark, path, rv, rd)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val (bucketed, partSpec) = layoutOf(partitions, schema)
    val path = tablePath(ident)
    if (isTable(path))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    // v1 = one empty parquet file carrying the schema: the committed
    // footer IS the table's schema record (no sidecar metadata to drift).
    // Staged + create-exclusive publish, NOT a raw commit: commit() has
    // no create exclusivity, so two racing CREATE TABLEs could both
    // succeed and stack two schemas into one manifest chain —
    // publishStaged(replace = false) makes the loser fail LOUDLY at
    // publish time, and its staged file is reclaimed.
    // a bucketed table's schema anchor must itself carry a bucket tag,
    // or the all-files-tagged guard would disable the key-grouped scan
    // for the table's whole life (appends carry the anchor forever);
    // it is empty, so bucket 0 is as true as any. Stats recording is
    // deferred past the move: the sidecar keys by absolute path, so a
    // pre-move record would be a permanent dead line parsed by every
    // FileStats load for the table's life.
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .repartition(1)
    val (files0, dataDir) = Snapshots.stageData(empty, path,
      recordStats = bucketed.isEmpty)
    var createdSpec = false
    val files = bucketed match {
      case Some((c, n)) =>
        createdSpec = Snapshots.ensureBucketSpec(spark, path, c, n)
        val bdir = new Path(dataDir, s"${Snapshots.BucketDir}=0")
        fs.mkdirs(bdir)
        val moved = files0.map { fp =>
          val src = new Path(fp)
          val dst = new Path(bdir, src.getName)
          require(fs.rename(src, dst), s"failed to stage $src as $dst")
          dst.toString
        }
        graft.sources.FileStats.record(spark, path, moved)
        moved
      case None => files0
    }
    try Snapshots.publishStaged(spark, path, files, replace = false,
      orCreate = false)
    catch { case e: Throwable =>
      fs.delete(dataDir, true)
      // losing the CREATE race must not contaminate the winner's table
      // with this loser's layout (or leave a spec on a table that was
      // never created)
      if (createdSpec) Snapshots.dropBucketSpec(spark, path)
      e match {
        case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException =>
          throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
            Seq(catalogName) ++ ident.namespace() :+ ident.name())
        case other => throw other
      }
    }
    // the hidden-partitioning spec installs after the exclusive publish
    // (epoch 1): the CREATE's own anchor file is empty, so clustering
    // starts with the first INSERT, like the declared write order
    partSpec.foreach { case (t, c, a) =>
      graft.sources.PartitionSpecs.evolve(spark, path, t, c, a,
        Some(schema)): Unit
    }
    // a CREATE with column DEFAULTs must persist them declaratively —
    // the anchor footer alone is not the contract the INSERT resolver
    // and the file-missing-column reader consult
    val curKey = org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
    val exKey = org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY
    if (schema.fields.exists(f =>
        f.metadata.contains(curKey) || f.metadata.contains(exKey)))
      Snapshots.declareSchema(spark, path, schema)
    installDeclaredSpecs(path, schema, properties)
    loadTable(ident)
  }

  // ---- StagingTableCatalog: ATOMIC CTAS / RTAS ----
  // The staged write lands its data files under the table root but no
  // manifest references them until commitStagedChanges publishes — a
  // failed or aborted CTAS leaves no visible table, and REPLACE TABLE
  // AS SELECT swaps the file set in one atomic manifest publish (old
  // versions stay time-travelable, like every overwrite).

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], replace: Boolean, orCreate: Boolean,
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    // same DDL surface as plain CREATE: bucket(n, col) or nothing. A
    // REPLACE's layout follows the new definition wholesale — no
    // transform on a formerly-bucketed table retires the old spec
    // (commitStagedChanges), exactly as it replaces the old schema.
    // TBLPROPERTIES layout specs (write.order / bloom.*) install at
    // commit, after the publish: the CTAS's OWN files land as the
    // SELECT produced them; every write after the create clusters.
    new StagedSnapshotTable(tablePath(ident), schema,
      layoutOf(partitions, schema), replace, orCreate, properties)

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    staged(ident, info.schema(), info.partitions(), replace = false,
      orCreate = false, info.properties())
  }

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    staged(ident, info.schema(), info.partitions(), replace = true,
      orCreate = false, info.properties())
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, info.schema(), info.partitions(), replace = true,
      orCreate = true, info.properties())

  /** Metadata-only schema evolution: ALTER TABLE ... ADD COLUMNS, plus
    * ALTER COLUMN ... TYPE when the change is a LOSSLESS WIDENING
    * (int-family upcasts, float→double, decimal precision growth at
    * the same scale). Both land in the small `schema.json` override —
    * readers project every file onto it by name (absent columns =
    * typed NULLs; narrower physical columns upcast at scan time —
    * Spark 4's parquet readers widen INT32→INT64 etc. natively), so
    * zero data is rewritten at any table size. Renames/drops/
    * narrowings are refused: without per-field ids a rename cannot
    * remap old footers soundly (Iceberg's reason for ids), and a
    * narrowing is lossy; those evolutions go through overwrite
    * commits, which retire the override. Reference intent: the staging
    * layer's cast-and-conform regime (models/staging/stg_orders.sql:4-9)
    * without the per-read cast.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!isTable(path))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    import org.apache.spark.sql.types._
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
    // ALTER TABLE SET/UNSET TBLPROPERTIES for the declared DML routing
    // — metadata-only, like the DDL-time spelling
    val dmlModeProps = Snapshots.DmlKinds.map(k => s"write.$k.mode" -> k).toMap
    changes.foreach {
      case s: TableChange.SetProperty if dmlModeProps.contains(s.property) =>
        Snapshots.setDmlMode(spark, path, dmlModeProps(s.property), s.value)
      case r: TableChange.RemoveProperty if dmlModeProps.contains(r.property) =>
        Snapshots.setDmlMode(spark, path, dmlModeProps(r.property),
          Snapshots.CowMode)
      case p @ (_: TableChange.SetProperty | _: TableChange.RemoveProperty) =>
        // a silently-swallowed property is a lie to the DDL author
        throw new UnsupportedOperationException(
          s"graft-snapshot: unsupported table property change ($p) — " +
            "'write.{delete,update,merge}.mode' are the ALTER-able " +
            "properties; layout specs (write.order / bloom.*) change via " +
            "CALL procedures")
      case _ => ()
    }
    val schemaChanges = changes.filter {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => false
      case _ => true
    }
    if (schemaChanges.isEmpty) return loadTable(ident)
    val adds = schemaChanges.collect { case a: TableChange.AddColumn =>
      require(a.fieldNames.length == 1,
        "graft-snapshot: ADD COLUMNS supports top-level columns only")
      require(a.isNullable,
        "graft-snapshot: added columns must be nullable (existing files " +
          "have no values for them)")
      a
    }
    val widenings = schemaChanges.collect { case u: TableChange.UpdateColumnType =>
      require(u.fieldNames.length == 1,
        "graft-snapshot: ALTER COLUMN TYPE supports top-level columns only")
      u
    }
    val renames = schemaChanges.collect { case r: TableChange.RenameColumn =>
      require(r.fieldNames.length == 1,
        "graft-snapshot: RENAME COLUMN supports top-level columns only")
      r
    }
    val drops = schemaChanges.collect { case d: TableChange.DeleteColumn =>
      require(d.fieldNames.length == 1,
        "graft-snapshot: DROP COLUMN supports top-level columns only")
      d
    }
    val defaultUpdates = schemaChanges.collect {
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1,
          "graft-snapshot: ALTER COLUMN SET DEFAULT supports top-level " +
            "columns only")
        u
    }
    schemaChanges.foreach {
      case _: TableChange.AddColumn | _: TableChange.UpdateColumnType |
           _: TableChange.RenameColumn | _: TableChange.DeleteColumn |
           _: TableChange.UpdateColumnDefaultValue => ()
      case other => throw new UnsupportedOperationException(
        s"graft-snapshot: unsupported ALTER ($other) — ADD COLUMNS, " +
          "lossless type WIDENING, RENAME COLUMN, DROP COLUMN, " +
          "SET/DROP DEFAULT, and write.delete.mode TBLPROPERTIES are " +
          "the metadata-sound ALTERs here; narrowings go through " +
          "overwrite commits (INSERT OVERWRITE with the new shape)")
    }
    val current = loadTable(ident).columns()
    val base = Snapshots.declaredSchema(spark, path).getOrElse {
      current.foldLeft(new org.apache.spark.sql.types.StructType()) { (s, c) =>
        s.add(c.name(), c.dataType(), c.nullable(),
          Option(c.comment()).getOrElse(""))
      }
    }
    val widened = widenings.foldLeft(base) { (s, u) =>
      val name = u.fieldNames.head
      val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"no such column $name")
      val f = s.fields(idx)
      // the bucket column's hash routes writes AND storage-partitioned
      // joins; the hash is type-sensitive, so ANY type change on it
      // would silently split keys across buckets — checked first so
      // the refusal names the real reason
      require(!Snapshots.bucketSpec(spark, path).exists(_._1 == f.name),
        s"graft-snapshot: cannot change the type of bucket column " +
          s"${f.name} — the bucket hash is type-sensitive; rebucket via " +
          "CREATE ... AS SELECT")
      require(widens(f.dataType, u.newDataType),
        s"graft-snapshot: ALTER COLUMN $name TYPE " +
          s"${f.dataType.simpleString} -> ${u.newDataType.simpleString} is " +
          "not a lossless widening (int-family up, float->double, decimal " +
          "precision growth at the same scale); use INSERT OVERWRITE")
      new org.apache.spark.sql.types.StructType(
        s.fields.updated(idx, f.copy(dataType = u.newDataType)))
    }
    val added = adds.foldLeft(widened) { (s, a) =>
      require(!s.fieldNames.map(_.toLowerCase).contains(
        a.fieldNames.head.toLowerCase),
        s"column ${a.fieldNames.head} already exists")
      // DEFAULT on an added column: CURRENT_DEFAULT carries the
      // declared SQL (future INSERTs), EXISTS_DEFAULT the folded
      // literal (files that predate the column substitute it at read —
      // Spark's parquet readers apply it natively for file-missing
      // columns, so explicit NULLs written after the ALTER stay NULL)
      val md = Option(a.defaultValue()) match {
        case Some(d) =>
          val lit = Option(d.getValue).getOrElse(
            throw new UnsupportedOperationException(
              s"graft-snapshot: DEFAULT for ${a.fieldNames.head} does " +
                "not fold to a literal — only constant defaults are " +
                "metadata-sound for existing files"))
          val litSql = org.apache.spark.sql.catalyst.expressions
            .Literal(lit.value, lit.dataType).sql
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
              Option(d.getSql).getOrElse(litSql))
            .putString(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
              litSql)
            .build()
        case None => org.apache.spark.sql.types.Metadata.empty
      }
      StructType(s.fields :+ org.apache.spark.sql.types.StructField(
        a.fieldNames.head, a.dataType, nullable = true, md)
        .withComment(Option(a.comment).getOrElse("")))
    }
    // SET/DROP DEFAULT: changes ONLY what future INSERTs fill in
    // (CURRENT_DEFAULT); the initial default old files read
    // (EXISTS_DEFAULT) is immutable once declared — rewriting history's
    // meaning is exactly what defaults must never do
    val evolved = defaultUpdates.foldLeft(added) { (s, u) =>
      val name = u.fieldNames.head
      val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"no such column $name")
      val f = s.fields(idx)
      val curKey = org.apache.spark.sql.catalyst.util
        .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      val newSql = Option(u.newCurrentDefault()).map(_.getSql)
        .orElse(Option(u.newDefaultValue()).filter(_.nonEmpty))
      val md = newSql match {
        case Some(sql) => mb.putString(curKey, sql).build()
        case None => mb.remove(curKey).build()
      }
      StructType(s.fields.updated(idx, f.copy(metadata = md)))
    }

    // ---- RENAME / DROP COLUMN: metadata-only via per-field ids ----
    // A name is a label; the field ID assigned at write time is the
    // identity (Iceberg's reason for ids). Old footers resolve by id
    // under the new name, a dropped column's id is never reused, zero
    // data rewrites at any table size. Sound ONLY when every live file
    // was stamped — guaranteed for tables whose id state has existed
    // since birth, re-establishable for legacy tables at any full
    // rewrite (INSERT OVERWRITE, whole-table compact).
    var renamedDropped = evolved
    if (renames.nonEmpty || drops.nonEmpty) {
      graft.sources.FieldIds.load(spark, path).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-snapshot $path: RENAME/DROP COLUMN need the table's " +
            "per-field id assignment, which this table predates — adopt " +
            "ids with a full rewrite first (INSERT OVERWRITE, or CALL " +
            "compact), then retry"))
      // id-state mutations are COLLECTED and applied in one CAS
      // (FieldIds.mutate re-applies them to the winner's state on a
      // lost publish race — a concurrent schema-extending append can
      // never be silently overwritten by this ALTER)
      val idOps = scala.collection.mutable.ArrayBuffer
        .empty[graft.sources.FieldIds.State => graft.sources.FieldIds.State]
      require(Snapshots.eqDeleteFiles(spark, path).isEmpty,
        s"graft-snapshot $path: RENAME/DROP COLUMN refuse under " +
          "outstanding equality-delete sidecars (their keys match by " +
          "column NAME) — CALL purge_eq_deletes first")
      val bucketCol = Snapshots.bucketSpec(spark, path).map(_._1)
      val sortCols = Snapshots.sortSpec(spark, path)
      val bloomCols = Snapshots.bloomSpec(spark, path).keySet
      val partCol = graft.sources.PartitionSpecs.current(spark, path)
        .map(_.column)
      def requireUnreferenced(name: String, what: String): Unit = {
        require(!partCol.contains(name),
          s"graft-snapshot: cannot $what partition-transform column " +
            s"$name — the current partition spec clusters by it; evolve " +
            "the spec first (CALL evolve_partition_spec with another " +
            "column, or 'none'), then retry")
        require(!bucketCol.contains(name),
          s"graft-snapshot: cannot $what bucket column $name — the " +
            "bucket layout routes by it; rebucket via CREATE ... AS SELECT")
        require(!sortCols.contains(name),
          s"graft-snapshot: cannot $what declared sort column $name — " +
            "clear the write order first (CALL drop_write_order), then " +
            "re-declare it under the new shape")
        require(!bloomCols.contains(name),
          s"graft-snapshot: cannot $what bloom-indexed column $name — " +
            "drop the bloom spec first (CALL drop_bloom), then re-declare")
      }
      renames.foreach { r =>
        val from = r.fieldNames.head
        val to = r.newName
        val idx = renamedDropped.fieldNames.indexWhere(_.equalsIgnoreCase(from))
        require(idx >= 0, s"no such column $from")
        val exact = renamedDropped.fields(idx).name
        requireUnreferenced(exact, s"rename")
        require(!renamedDropped.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column $to already exists")
        require(!to.startsWith("__gr_") && !to.startsWith("__gd_") &&
            !to.startsWith("__ge_") && !to.startsWith("__dd_"),
          s"graft-snapshot: $to is a reserved internal column prefix")
        idOps += (st => graft.sources.FieldIds.rename(st, exact, to))
        renamedDropped = StructType(renamedDropped.fields.updated(idx,
          renamedDropped.fields(idx).copy(name = to)))
      }
      drops.foreach { d =>
        val name = d.fieldNames.head
        val idx = renamedDropped.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        if (idx < 0) {
          if (!d.ifExists) throw new IllegalArgumentException(
            s"no such column $name")
        } else {
          val exact = renamedDropped.fields(idx).name
          requireUnreferenced(exact, s"drop")
          require(renamedDropped.fields.length > 1,
            s"graft-snapshot: cannot drop the only column $exact")
          idOps += (st => graft.sources.FieldIds.drop(st, exact))
          renamedDropped = StructType(
            renamedDropped.fields.patch(idx, Nil, 1))
        }
      }
      graft.sources.FieldIds.mutate(spark, path, opt =>
        idOps.foldLeft(opt.getOrElse(throw new IllegalStateException(
          s"graft-snapshot $path: field-id state vanished mid-ALTER")))(
          (s, op) => op(s))): Unit
    }
    // declare with the id assignment attached whenever the table has
    // one (extends it for ALTER-ADDed names) — the declared schema is
    // then self-contained: readers id-match old footers from it alone
    val declared = graft.sources.FieldIds.load(spark, path) match {
      case Some(st) =>
        graft.sources.FieldIds.extendAndAttach(spark, path, st,
          renamedDropped)._2
      case None => renamedDropped
    }
    Snapshots.declareSchema(spark, path, declared)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = tablePath(ident)
    val existed = isTable(path)
    if (existed) Snapshots.drop(spark, path)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val src = new Path(tablePath(oldIdent))
    val dst = new Path(tablePath(newIdent))
    if (!isTable(src.toString))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ oldIdent.namespace() :+ oldIdent.name())
    require(!fs.exists(dst), s"rename target $dst already exists")
    // branch refs and fork tokens hold ABSOLUTE paths in both
    // directions (parent ref -> branch dir, branch token -> parent);
    // renaming under a live branch would strand both sides. Loud
    // refusal with the remedy beats a dangling branch.
    val liveBranches = Snapshots.branches(spark, src.toString)
      .filter { case (_, bp) => Snapshots.versions(spark, bp).nonEmpty }
    require(liveBranches.isEmpty,
      s"graft-snapshot: cannot rename $src — it has registered " +
        s"branch(es) ${liveBranches.map(_._1).mkString(", ")}; publish or " +
        "drop them first (fast_forward / DROP on the branch table)")
    // position-delete sidecars hold ABSOLUTE data-file paths in their
    // rows, out of the manifest rewrite's reach: after the move every
    // retained version that references one would silently serve its
    // deleted rows again. Refuse until purge + vacuum have folded them.
    val srcVersions = Snapshots.versions(spark, src.toString)
    val withDeletes = srcVersions
      .filter(v => Snapshots.manifestDeletes(spark, src.toString, v).nonEmpty)
    require(withDeletes.isEmpty,
      s"graft-snapshot: cannot rename $src — version(s) " +
        s"${withDeletes.mkString(", ")} reference position-delete sidecars; " +
        "fold them first (CALL purge_deletes, then vacuum — vacuum expires " +
        "the versions that reference the sidecars, so time travel to them " +
        "is lost)")
    fs.mkdirs(dst.getParent)
    // Manifests (and the stats sidecars' path keys) hold ABSOLUTE file
    // paths, so a rename must rewrite them against the new root. The
    // rewrite is staged BEFORE the directory move, under
    // <src>/_rename_stage (readers ignore it — manifests resolve by
    // the strict manifest-v<N>.json name, stats by the stats- prefix):
    //  * a crash before the move leaves the source table fully intact
    //    (a stale stage is rebuilt on retry);
    //  * the move carries the complete stage along atomically;
    //  * promotion after the move is idempotent, and a crash mid-
    //    promotion SELF-HEALS — load() promotes any remaining staged
    //    files before resolving (the staged content is already correct
    //    for the new root).
    // Promotion restores each manifest's commit-time mtime (recorded in
    // the stage) and replaces through the FileSystem so checksum
    // sidecars (.crc) never go stale.
    val stage = new Path(src, RenameStageDir)
    fs.delete(stage, true)
    fs.mkdirs(stage)
    val srcRoot = src.toUri.getPath
    val dstRoot = dst.toUri.getPath
    def readText(pth: Path): String = Snapshots.readSide(fs, pth).getOrElse(
      throw new java.io.FileNotFoundException(s"$pth vanished during rename"))
    def writeText(pth: Path, text: String): Unit =
      require(Snapshots.writeSide(fs, pth, text, replace = true),
        s"concurrent rename of $src")
    val mtimes = new StringBuilder
    srcVersions.foreach { v =>
      val mf = new Path(s"$src/manifest-v$v.json")
      // each manifest's mtime IS its commit time (TIMESTAMP AS OF
      // resolves on it) — record it in the stage so promotion can
      // restore it even after a crash-and-heal
      mtimes.append(s"manifest-v$v.json\t${fs.getFileStatus(mf).getModificationTime}\n")
      writeText(new Path(stage, s"manifest-v$v.json"),
        readText(mf).replace(srcRoot, dstRoot))
    }
    writeText(new Path(stage, "mtimes.tsv"), mtimes.toString)
    // stats sidecars key each line by b64(absolute path): without the
    // rewrite, every pre-rename file would silently stop pruning forever
    // (stats lookups miss, 'files without stats always survive')
    val statsDir = new Path(src, "stats")
    if (fs.exists(statsDir)) {
      import graft.sources.FileStats.{b64, unb64}
      fs.listStatus(statsDir).filter(_.getPath.getName.startsWith("stats-"))
        .foreach { st =>
          val moved = readText(st.getPath).split("\n", -1).map { line =>
            if (line.isEmpty) line
            else {
              val f = line.split("\t", -1)
              if (f.nonEmpty && f(0).nonEmpty)
                f(0) = b64(unb64(f(0)).replace(srcRoot, dstRoot))
              f.mkString("\t")
            }
          }.mkString("\n")
          writeText(new Path(stage, st.getPath.getName), moved)
        }
    }
    require(fs.rename(src, dst), s"rename $src -> $dst failed")
    // the source path may be re-created later with the same version
    // numbers — its cached metadata memos must not survive the rename
    graft.Memo.invalidateTable(src.toString)
    promoteRenameStage(dst)
  }

  private val RenameStageDir = "_rename_stage"

  /** Promote a rename's staged manifest/stats rewrites over the live
    * files — idempotent, re-entrant, and called from load() so a crash
    * mid-promotion heals on the table's next access.
    */
  private def promoteRenameStage(table: Path): Unit = {
    val stage = new Path(table, RenameStageDir)
    if (!fs.exists(stage)) return
    val mtimeFile = new Path(stage, "mtimes.tsv")
    val mtimes: Map[String, Long] =
      Snapshots.readSide(fs, mtimeFile).toSeq.flatMap(_.split("\n").filter(_.nonEmpty))
        .map { line =>
          val Array(n, t) = line.split("\t", 2)
          n -> t.toLong
        }.toMap
    // hidden names are the side-file writer's in-flight tmp files
    fs.listStatus(stage).map(_.getPath.getName)
      .filter(n => n != "mtimes.tsv" && !n.startsWith(".")).foreach { name =>
      val staged = new Path(stage, name)
      val target =
        if (name.startsWith("manifest-")) new Path(table, name)
        else new Path(new Path(table, "stats"), name)
      // delete through the FileSystem first — it removes the stale
      // checksum sidecar (.crc) a raw nio replace would leave behind
      // (LocalFileSystem then fails every read with ChecksumException).
      // A crash between delete and move heals on the next load: the
      // staged file is still here and the move simply succeeds.
      fs.delete(target, false)
      if (fs.getScheme == "file")
        java.nio.file.Files.move(
          java.nio.file.Paths.get(staged.toUri.getPath),
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else require(fs.rename(staged, target),
        s"rename promotion failed for $name")
      mtimes.get(name).foreach(t => fs.setTimes(target, t, -1))
    }
    fs.delete(stage, true)
  }

  /** The in-flight side of an atomic CTAS/RTAS: collects the query's
    * output as staged data files (same distributed parquet write as
    * every commit), then publishes them as one manifest on
    * `commitStagedChanges` — create fails if the table appeared in the
    * meantime (never overwrites a race winner), replace publishes an
    * overwrite version with history intact. Abort reclaims the staged
    * directory; nothing was ever visible.
    */
  private class StagedSnapshotTable(path: String, tableSchema: StructType,
      layout: (Option[(String, Int)], Option[(String, String, Option[Int])]),
      replace: Boolean, orCreate: Boolean,
      tblProps: util.Map[String, String])
      extends org.apache.spark.sql.connector.catalog.StagedTable
      with org.apache.spark.sql.connector.catalog.SupportsWrite {

    import org.apache.spark.sql.connector.catalog.TableCapability

    private val (bucketed, partSpec) = layout

    @volatile private var stagedFiles: Seq[String] = Seq.empty
    @volatile private var reclaim: Seq[Path] = Seq.empty

    override def name(): String = s"graft-snapshot:$path (staged)"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] = {
      import scala.jdk.CollectionConverters._
      Set(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE).asJava
    }

    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      new org.apache.spark.sql.connector.write.WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate {
        // RTAS plans a truncate-write; the staged replace already
        // replaces wholesale, so the flag needs no extra handling
        override def truncate() = this
        override def build(): org.apache.spark.sql.connector.write.Write =
          new org.apache.spark.sql.connector.write.V1Write {
            override def toInsertableRelation
                : org.apache.spark.sql.sources.InsertableRelation =
              (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
                val (files, dir) = bucketed match {
                  case Some((c, n)) =>
                    Snapshots.stageDataBucketed(data, path, c, n)
                  case None => Snapshots.stageData(data, path)
                }
                stagedFiles = files
                reclaim = reclaim :+ dir
              }
          }
      }

    override def commitStagedChanges(): Unit = {
      val sp = SparkSession.active
      // an empty CTAS source stages zero files; publish one empty
      // schema-bearing file so the created table still has a schema
      // (bucket-tagged when the definition is bucketed, or the
      // all-files-tagged gate would never report the grouping)
      if (stagedFiles.isEmpty) {
        val empty = sp.createDataFrame(
          sp.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
          .repartition(1)
        val (files, dir) = bucketed match {
          case Some((c, n)) => Snapshots.stageDataBucketed(empty, path, c, n)
          case None         => Snapshots.stageData(empty, path)
        }
        stagedFiles = files
        reclaim = reclaim :+ dir
      }
      try Snapshots.publishStaged(sp, path, stagedFiles, replace, orCreate): Unit
      catch { case e: Throwable => abortStagedChanges(); throw e }
      // the layout follows the staged definition wholesale, exactly
      // like the schema: REPLACE retires a formerly-bucketed table's
      // spec when the new definition has no transform (the staged
      // files are unbucketed — a surviving spec would advertise a
      // phantom layout and re-route the next INSERT into a mixed
      // manifest), and installs the new spec when it does. The spec
      // lands AFTER the publish: a reader in the window sees tagged
      // files without a spec and degrades to an ordinary scan.
      bucketed match {
        case Some((c, n)) =>
          if (replace) Snapshots.dropBucketSpec(sp, path)
          Snapshots.ensureBucketSpec(sp, path, c, n): Unit
        case None =>
          if (replace) Snapshots.dropBucketSpec(sp, path)
      }
      // hidden-partitioning spec follows the staged definition the same
      // way: install the declared transform (skipping a no-op re-
      // declare), or append a retirement epoch on a REPLACE without one
      partSpec match {
        case Some((t, c, a)) =>
          val cur = graft.sources.PartitionSpecs.current(sp, path)
          if (!cur.exists(s => s.transform == t && s.column == c && s.arg == a))
            graft.sources.PartitionSpecs.evolve(sp, path, t, c, a,
              Some(tableSchema)): Unit
        case None =>
          if (replace &&
              graft.sources.PartitionSpecs.current(sp, path).isDefined)
            graft.sources.PartitionSpecs.evolve(sp, path, "none", ""): Unit
      }
      // layout specs follow the staged definition wholesale, like the
      // bucket spec: REPLACE retires what the new definition doesn't
      // re-declare, then the declared TBLPROPERTIES install
      if (replace) {
        Snapshots.dropSortSpec(sp, path)
        Snapshots.dropBloomSpec(sp, path)
      }
      installDeclaredSpecs(path, tableSchema, tblProps)
    }

    override def abortStagedChanges(): Unit = {
      val f = new Path(path)
        .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      reclaim.foreach(f.delete(_, true))
    }
  }

  // ---- SupportsNamespaces: namespaces are plain directories ----

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      // a table committed directly at the root (empty namespace) must
      // not double-report as a namespace — same filter as the scoped
      // overload
      .filterNot(st => isTable(st.getPath.toString))
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory)
      .filterNot(st => isTable(st.getPath.toString))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        Seq(catalogName) ++ namespace)
    new util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(nsPath(namespace)): Unit
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft-snapshot namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    require(!isTable(dir.toString),
      s"${namespace.mkString(".")} is a table, not a namespace — " +
        "use DROP TABLE")
    if (!fs.exists(dir)) false
    else {
      require(cascade || fs.listStatus(dir).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(dir, true)
    }
  }
}
