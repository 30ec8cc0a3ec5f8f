package graft.sources.v2

import java.util

import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 surface for the [[graft.sources.Snapshots]] table
  * format, making snapshot reads, time travel, and writes SQL-reachable:
  *
  * {{{
  *   spark.read.format("graft-snapshot")
  *     .option("path", table).option("asOf", 2).load()
  *   spark.read.format("graft-snapshot")          // TIMESTAMP AS OF
  *     .option("path", table).option("asOfTimestamp", "2026-08-14 12:00:00").load()
  *   df.write.format("graft-snapshot")
  *     .option("path", table).mode("append").save()   // Snapshots.commit
  *   df.write.format("graft-snapshot")
  *     .option("path", table).mode("overwrite").save() // replace-publish
  * }}}
  *
  * READ: the provider does exactly one format-specific thing — resolve
  * the requested version's manifest to its immutable data-file list —
  * and then hands that list to Spark's OWN parquet table implementation.
  * Everything a 100 TB scan needs (predicate pushdown to row-group
  * stats, column pruning, split planning, vectorized reading) is the
  * stock parquet path, visible as `PushedFilters`/`ReadSchema` in
  * explain; snapshot isolation holds because the file list is pinned
  * at table-resolution time, exactly like [[Snapshots.read]].
  *
  * WRITE: the `V1Write` fallback (the same bridge Spark's own JDBC v2
  * source uses). The executors still write parquet fully distributed —
  * `Snapshots.commit` runs a normal `df.write.parquet` into a private
  * data dir — and only the manifest publish is driver-side, which is
  * exactly the transactional design: an atomic rename of one small
  * manifest file, never a data move. append → `Snapshots.commit(df)`;
  * overwrite (`SupportsTruncate`) → an overwrite commit that replaces
  * the file set while keeping every older version readable (time travel
  * across the overwrite keeps working). Concurrency is the commit
  * protocol's optimistic version race, hammered by SnapshotHammerSpec.
  *
  * STREAMING WRITE: `writeStream.format("graft-snapshot")` routes to
  * [[SnapshotStreamSink]] (the provider's V1 sink — the table
  * deliberately does not advertise STREAMING_WRITE, because the V1
  * sink is where the tokened exactly-once protocol plugs in). Each
  * micro-batch commits with token `stream:<checkpoint>:<batchId>`;
  * a crash-replayed batch finds its token in the manifest history and
  * publishes nothing. Append mode → a version per batch; Complete
  * mode → an overwrite version per batch; Update is rejected.
  *
  * Registered under the short name `graft-snapshot` via the standard
  * `DataSourceRegister` service loader.
  */
class SnapshotProvider extends org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft-snapshot"

  /** `readStream.format("graft-snapshot")` — the table AS a stream (the
    * Delta/Iceberg incremental-consumer shape): the first micro-batch is
    * the full snapshot current at query start, and every manifest
    * version committed after that arrives as one micro-batch containing
    * exactly the APPENDED files (the changes() file diff — no anti-join,
    * no history rescan; at 100 TB a consumer reads only what landed).
    * Offsets are manifest versions, checkpointed by the engine, so a
    * restarted query resumes at the exact version it committed —
    * exactly-once rows end to end when paired with the tokened sink.
    * Overwrite/compaction commits are NOT representable as appended rows;
    * the source fails loudly rather than misreport them (same contract
    * as changes()).
    */
  private def flag(parameters: Map[String, String], name: String): Boolean =
    parameters.get(name).orElse(parameters.get(name.toLowerCase))
      .exists(_.toBoolean)

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-snapshot streaming reads always use the committed schema; drop .schema(...)")
    require(!(flag(parameters, "readChangeFeed") &&
        flag(parameters, "skipChangeCommits")),
      "graft-snapshot: readChangeFeed already represents change commits " +
        "as delete+insert rows; drop skipChangeCommits")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot source requires .option(\"path\", <table dir>)"))
    val base = Snapshots.read(sqlContext.sparkSession, path).schema
    (shortName(),
      if (flag(parameters, "readChangeFeed"))
        base.add("_change_type", org.apache.spark.sql.types.StringType,
          nullable = false)
      else base)
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val cdf = flag(parameters, "readChangeFeed")
    val skip = flag(parameters, "skipChangeCommits")
    require(!(cdf && skip),
      "graft-snapshot: readChangeFeed already represents change commits " +
        "as delete+insert rows; drop skipChangeCommits")
    // Delta's flag, same semantics, default TRUE: a checkpointed offset
    // that vacuum expired refuses loudly unless the user opts into
    // resuming from the oldest retained version (gap commits lost)
    val fodl = parameters.get("failOnDataLoss")
      .orElse(parameters.get("failondataloss")).forall(_.toBoolean)
    if (cdf)
      new SnapshotChangeFeedSource(sqlContext.sparkSession, parameters("path"),
        failOnDataLoss = fodl)
    else
      new SnapshotStreamSource(sqlContext.sparkSession, parameters("path"),
        skipChangeCommits = skip, failOnDataLoss = fodl)
  }

  /** `writeStream.format("graft-snapshot")`: the table advertises no
    * STREAMING_WRITE capability, so Spark falls back to this V1 sink —
    * which is exactly where the exactly-once story lives. Each
    * micro-batch commits through the TOKENED snapshot protocol
    * (`stream:<checkpoint>:<batchId>`), so a replayed batch after a
    * crash restart finds its token already published and becomes a
    * no-op: at-least-once delivery in, exactly-once table versions out.
    * Append mode appends a version per batch (strict schema — a batch
    * can never mix a second physical layout into a manifest); Complete
    * mode publishes each batch as an overwrite commit (history stays
    * time-travelable). Update mode has no sane mapping onto an
    * append-only manifest and is rejected at query start.
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    require(outputMode != OutputMode.Update(),
      "graft-snapshot sink supports Append (a snapshot version per batch) " +
        "and Complete (an overwrite version per batch); Update has no " +
        "mapping onto an append-only manifest")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot sink requires .option(\"path\", <table dir>)"))
    // the token namespace binds to the CHECKPOINT: a restarted query
    // (same checkpoint) replays into the same tokens — dedup; an
    // unrelated query (different checkpoint) never collides. Without a
    // checkpoint there is no replay, so a per-instance namespace only
    // has to avoid cross-query collisions.
    val ns = parameters.getOrElse("checkpointLocation",
      s"nockpt-${java.util.UUID.randomUUID()}")
    new SnapshotStreamSink(path, ns, outputMode == OutputMode.Complete())
  }

  /** True so the WRITE path hands us the incoming frame's schema
    * directly (first commit to a fresh table has no manifest to infer
    * from). On the read path a user-supplied schema is REJECTED at
    * first scan unless it equals the committed one (newScanBuilder's
    * require) — snapshot reads always use the committed schema; appends
    * to an existing table are validated against it at write time.
    */
  override def supportsExternalMetadata(): Boolean = true

  /** Spark calls inferSchema then getTable on the SAME provider
    * instance; resolving twice would double the manifest+footer I/O
    * and — with `asOf` unset — could pin a DIFFERENT version if a
    * commit lands between the two calls. Memoized per option set so
    * one load() resolves exactly once.
    */
  @volatile private var cached: (Map[String, String], ResolvedSnapshot) = null

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val base = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot requires .option(\"path\", <table dir>)"))
    // `.option("branch", name)` targets a registered long-lived branch
    // of the table — reads AND writes resolve to the branch's own
    // directory (registered at fork; see Snapshots branch refs)
    Option(options.get("branch")) match {
      case Some(b) => Snapshots.branchPathOf(SparkSession.active, base, b)
        .getOrElse(throw new IllegalArgumentException(
          s"graft-snapshot: no registered branch '$b' on $base"))
      case None => base
    }
  }

  private def resolve(options: CaseInsensitiveStringMap): ResolvedSnapshot = {
    import scala.jdk.CollectionConverters._
    val key = options.asCaseSensitiveMap().asScala.toMap
    val c = cached
    if (c != null && c._1 == key) return c._2
    val path = pathOf(options)
    val asOf = Option(options.get("asOf")).map(_.toLong)
    // TIMESTAMP AS OF: resolved against manifest publish times
    // (Snapshots.versionAsOfTimestamp — Iceberg's snapshot-at-time
    // rule); accepts "yyyy-MM-dd HH:mm:ss[.fff]" or epoch millis
    val asOfTs = Option(options.get("asOfTimestamp")).map { s =>
      val millis =
        try s.toLong
        catch { case _: NumberFormatException =>
          java.sql.Timestamp.valueOf(s).getTime }
      Snapshots.versionAsOfTimestamp(SparkSession.active, path, millis)
    }
    // named-ref time travel: .option("asOfTag", name) resolves through
    // the table's immutable tag refs (Snapshots.tag)
    val asOfTag = Option(options.get("asOfTag")).map { n =>
      Snapshots.tagVersion(SparkSession.active, path, n).getOrElse(
        throw new IllegalArgumentException(
          s"graft-snapshot: no tag '$n' on $path"))
    }
    require(Seq(asOf, asOfTs, asOfTag).count(_.isDefined) <= 1,
      "graft-snapshot: set at most one of asOf, asOfTimestamp, asOfTag")
    val spark = SparkSession.active
    // resolve "latest" to a CONCRETE version now, so the pinned file
    // list and the table name agree forever after
    val version = asOf.orElse(asOfTs).orElse(asOfTag).getOrElse(
      Snapshots.versions(spark, path).lastOption.getOrElse(
        throw new IllegalArgumentException(s"no committed snapshot in $path")))
    val files = Snapshots.dataFiles(spark, path, Some(version))
    require(files.nonEmpty, s"snapshot v$version of $path lists no data files")
    // ALTER-extended tables read under their declared superset schema
    // (absent columns = typed NULLs; parquet resolves by name)
    val declared = Snapshots.declaredSchema(spark, path)
    val t0 = ParquetTable(s"graft-snapshot:$path@v$version",
      spark, options, files, declared, classOf[ParquetFileFormat])
    // footer inference copies field ids into the schema; ids only enter
    // a read schema from the DECLARED override (FieldIds.strip scaladoc)
    val t =
      if (declared.isDefined ||
          !graft.sources.FieldIds.hasIds(t0.schema)) t0
      else ParquetTable(s"graft-snapshot:$path@v$version",
        spark, options, files,
        Some(graft.sources.FieldIds.strip(t0.schema)),
        classOf[ParquetFileFormat])
    val r = ResolvedSnapshot(path, version, files, t,
      Snapshots.deleteFiles(spark, path, Some(version)),
      Snapshots.eqDeleteFiles(spark, path, Some(version)))
    cached = (key, r)
    r
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // A FRESH table has no schema to infer, but it is a legitimate
    // streaming-write target — Spark's DataStreamWriter resolves the
    // table (inferSchema + getTable) BEFORE it can fall back to the V1
    // sink, so throwing here would make `writeStream` unusable on first
    // contact. Return the empty schema for a fresh, un-pinned table; a
    // READ of one still fails loudly, at first scan (resolve's
    // no-committed-snapshot error), instead of at load().
    val path = pathOf(options)
    if (options.get("asOf") == null &&
        Snapshots.versions(SparkSession.active, path).isEmpty) new StructType()
    else resolve(options).table.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = pathOf(options)
    // Resolution is DEFERRED to the first scan: the read path always
    // passes the inferSchema result (already resolved + memoized), and
    // a pure write to an existing table must not pay manifest + footer
    // I/O it never uses — Snapshots.commit takes the frame as-is. A
    // fresh-table write reaches here with the frame's schema thanks to
    // supportsExternalMetadata.
    new SnapshotTable(path, schema, () => resolve(options))
  }
}

/** The streaming sink behind `writeStream.format("graft-snapshot")`.
  *
  * addBatch receives a frame bound to the micro-batch's incremental
  * execution; it is detached by re-wrapping the batch's own InternalRow
  * RDD as a standalone frame (the same rows, no re-read of the source),
  * then committed through the tokened snapshot protocol. The executors
  * write the parquet data files fully distributed inside
  * `Snapshots.commit`; only the manifest publish is driver-side.
  * Exactly-once: the token embeds the checkpoint namespace and batchId,
  * so a replay is answered from the manifest history without writing.
  */
private[v2] class SnapshotStreamSink(path: String, tokenNamespace: String,
    complete: Boolean) extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val token = s"stream:$tokenNamespace:$batchId"
    val rdd = org.apache.spark.sql.GraftShim.toRdd(data).map(_.copy())
    val batchDf = org.apache.spark.sql.GraftShim
      .internalCreateDataFrame(spark, rdd, data.schema)
    // commit() re-checks the token under the version race; strict
    // append schema revalidates inside the optimistic lock so a batch
    // can never extend a manifest whose layout changed underneath it
    Snapshots.commit(batchDf, path, overwrite = complete,
      token = Some(token), strictAppendSchema = !complete)
    ()
  }
}

/** The streaming source behind `readStream.format("graft-snapshot")`.
  *
  * Offset = committed manifest version (a monotone long). getBatch
  * resolves the FILE DIFF between the two offsets' manifests and hands
  * the file list to the stock parquet relation re-tagged as streaming —
  * pushdown, pruning and the vectorized reader all intact, and the read
  * cost of a micro-batch is proportional to the files that version
  * appended, never the table. A `None` start (fresh query) reads the
  * full end-version snapshot as the initial batch.
  *
  * Non-append versions (merge/delete/overwrite/compaction/z-order)
  * fail the stream loudly by default — streaming a rewrite's files
  * would re-deliver every carried row. With
  * `.option("skipChangeCommits", "true")` (Delta's flag, same
  * semantics) the source instead walks the version chain pairwise,
  * streams exactly the files each APPEND step added, and contributes
  * nothing for change commits — appends interleaved with maintenance
  * keep flowing. An appended file later compacted away in the same
  * poll window still streams from its original (retained) version.
  */
/** The vacuum-vs-lagging-reader contract both streaming sources share:
  * a resuming stream whose checkpointed offset `from` is no longer a
  * retained version cannot reconstruct the commits between the
  * checkpoint and the oldest retained manifest (vacuum is prefix
  * expiry, so "from missing" means exactly that gap). Default: refuse
  * loudly, naming the remedy — Delta's `failOnDataLoss` story. With
  * `failOnDataLoss=false` the stream resumes from the OLDEST retained
  * version and the gap's commits are accepted as lost (they are
  * baseline state from the stream's point of view — NOT re-delivered,
  * NOT silently merged into later diffs).
  */
private[v2] object StreamRetention {
  def baseline(spark: SparkSession, path: String, from: Long, to: Long,
      failOnDataLoss: Boolean): Long = {
    val retained = Snapshots.versions(spark, path)
    if (from == to || retained.contains(from)) from
    else if (!failOnDataLoss) retained.headOption.filter(_ <= to).getOrElse(to)
    else throw new IllegalStateException(
      s"graft-snapshot stream $path: checkpointed offset v$from was " +
        s"vacuumed (retained: ${retained.mkString(", ")}) — the commits " +
        "between the checkpoint and the oldest retained version are " +
        "unrecoverable. Restart the stream with a fresh checkpoint " +
        "(re-reads the current snapshot), or set " +
        ".option(\"failOnDataLoss\", \"false\") to resume from the oldest " +
        "retained version, accepting the gap as lost")
  }

  /** The END-offset twin: a restart REPLAYS the last checkpointed batch
    * (the V1 Source recovery contract), and if vacuum expired that
    * batch's end version its frame cannot be reconstructed. True =
    * retained, serve normally; false (only under failOnDataLoss=false)
    * = serve an empty frame — safe when the sink committed the batch,
    * and the accepted loss when it did not; default refuses loudly.
    */
  def endRetained(spark: SparkSession, path: String, to: Long,
      failOnDataLoss: Boolean): Boolean = {
    val retained = Snapshots.versions(spark, path)
    if (retained.contains(to)) true
    else if (!failOnDataLoss) false
    else throw new IllegalStateException(
      s"graft-snapshot stream $path: checkpointed batch end v$to was " +
        s"vacuumed (retained: ${retained.mkString(", ")}) — the replayed " +
        "batch cannot be reconstructed. Restart the stream with a fresh " +
        "checkpoint, or set .option(\"failOnDataLoss\", \"false\") to " +
        "serve it empty (data loss only if the sink never committed it)")
  }
}

private[v2] class SnapshotStreamSource(spark: SparkSession, path: String,
    skipChangeCommits: Boolean = false, failOnDataLoss: Boolean = true)
    extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.Offset
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  override val schema: StructType = Snapshots.read(spark, path).schema

  private def ver(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other         => other.json.toLong // SerializedOffset after restart
  }

  override def getOffset: Option[Offset] =
    Snapshots.versions(spark, path).lastOption.map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): org.apache.spark.sql.DataFrame = {
    val to = ver(end)
    if (!StreamRetention.endRetained(spark, path, to, failOnDataLoss))
      return org.apache.spark.sql.GraftShim.internalCreateStreamingDataFrame(
        spark, spark.sparkContext
          .emptyRDD[org.apache.spark.sql.catalyst.InternalRow], schema)
    // the INITIAL batch is the snapshot's resolved view: outstanding
    // merge-on-read sidecars subtract their positions (Snapshots.read),
    // re-tagged streaming via the InternalRow RDD route because the
    // anti-join plan is not a bare relation asStreamingScan can re-tag
    if (start.isEmpty &&
        (Snapshots.deleteFiles(spark, path, Some(to)).nonEmpty ||
          Snapshots.eqDeleteFiles(spark, path, Some(to)).nonEmpty)) {
      val live = Snapshots.read(spark, path, Some(to))
        .select(schema.fieldNames.map(org.apache.spark.sql.functions.col)
          .toIndexedSeq: _*)
      return org.apache.spark.sql.GraftShim.internalCreateStreamingDataFrame(
        spark, org.apache.spark.sql.GraftShim.toRdd(live).map(_.copy()), schema)
    }
    val files = start match {
      case None => Snapshots.dataFiles(spark, path, Some(to))
      case Some(s) =>
        val from = StreamRetention.baseline(spark, path, ver(s), to, failOnDataLoss)
        // walk the retained version chain pairwise: each step is an
        // append (before ⊆ after — stream exactly its appended files)
        // or a change commit (a rewrite replaced files: those rows are
        // not an append and silently streaming them would re-deliver
        // every carried row — same refusal contract as
        // Snapshots.changes(), unless skipChangeCommits opts out).
        // One manifest read per version: the per-pair before/after
        // lists come from this map, not re-reads (a catch-up batch
        // over a long history pays N reads, not 2N).
        val chain = from +: Snapshots.versions(spark, path)
          .filter(v => v > from && v <= to)
        val filesOf = chain.map(v =>
          v -> Snapshots.dataFiles(spark, path, Some(v))).toMap
        val deletesOf = chain.map(v =>
          v -> Snapshots.deleteFiles(spark, path, Some(v))).toMap
        val eqOf = chain.map(v =>
          v -> Snapshots.eqDeleteFiles(spark, path, Some(v))).toMap
        chain.sliding(2).flatMap {
          case Seq(a, b) =>
            // normalized paths (the changeFeed/compact convention):
            // manifests can carry differently-qualified forms of one
            // file, and a raw-string compare would make a pure append
            // look non-append-only and kill the stream spuriously
            def norm(p: String): String =
              new org.apache.hadoop.fs.Path(p).toUri.getPath
            val before = filesOf(a).map(norm).toSet
            val after = filesOf(b)
            // a MERGE-ON-READ delete (either sidecar kind) changes no
            // data file, but it is a change commit all the same —
            // streaming the step as "zero appended files" would
            // silently drop the deletion, so the sidecar sets must
            // match for the append fast path too. An upsertEq step
            // fails BOTH checks (it adds files AND an E line), so its
            // appended rows never stream as a plain append.
            if (before.subsetOf(after.map(norm).toSet) &&
                deletesOf(a).map(norm).toSet == deletesOf(b).map(norm).toSet &&
                eqOf(a).map(e => (e._1, norm(e._2))).toSet ==
                  eqOf(b).map(e => (e._1, norm(e._2))).toSet)
              after.filterNot(f => before(norm(f)))
            // a ROW-PRESERVING maintenance rewrite (compact / z-order /
            // bin-pack / either purge, identified by its commit token)
            // moved rows between files without changing any — the step
            // streams nothing, and earlier appends' ORIGINAL files stay
            // readable because their manifests are retained. A mid-
            // stream compaction no longer kills every incremental
            // consumer.
            else if (Snapshots.isMaintenanceCommit(spark, path, b))
              Seq.empty
            else if (skipChangeCommits) Seq.empty
            else throw new IllegalStateException(
              s"graft-snapshot stream $path: history v$a -> v$b is not " +
                "append-only (an overwrite, merge, delete, or compaction " +
                "landed); restart the stream from the current snapshot, or " +
                "set .option(\"skipChangeCommits\", \"true\") to stream " +
                "appends only")
          case _ => Seq.empty // single-element chain: nothing new
        }.toSeq
    }
    if (files.isEmpty) // a version that appended zero files (empty commit)
      org.apache.spark.sql.GraftShim.internalCreateStreamingDataFrame(
        spark, spark.sparkContext
          .emptyRDD[org.apache.spark.sql.catalyst.InternalRow], schema)
    else // re-tag the relation first: a select would wrap it in a Project
      // pinned to the source's schema (the committed shape at query
      // start): strict appends can't diverge from it, and on an
      // ALTER-evolved table renamed columns resolve by field id while
      // added ones null-fill — a raw footer read would speak old names
      org.apache.spark.sql.GraftShim
        .asStreamingScan(spark.read.schema(schema).parquet(files: _*))
        .select(schema.fieldNames.map(org.apache.spark.sql.functions.col)
          .toIndexedSeq: _*)
  }

  override def stop(): Unit = ()
}

/** `readStream.format("graft-snapshot").option("readChangeFeed", true)`
  * — the table's CHANGE FEED as a stream (Delta CDF's streaming shape).
  * The initial micro-batch is the full snapshot tagged `insert`; every
  * later version arrives as its per-commit [[Snapshots.changeFeed]]
  * diff — an append as insert rows, a merge as delete+insert pairs, a
  * delete as delete rows — so a downstream consumer can maintain a
  * mirror (or an aggregate) under arbitrary DML, where the plain
  * source must refuse or skip rewrites. Versions inside one poll
  * window are diffed PAIRWISE and unioned, so a row inserted then
  * deleted between polls still surfaces as both events, not as
  * nothing (per-commit granularity, Delta's contract).
  *
  * The per-step diff reads only each commit's removed/added files
  * (carried files cancel — changeFeed's contract), so the stream's
  * cost tracks what each commit touched, never table size. Each batch
  * plan is re-tagged streaming via its InternalRow RDD — computed
  * distributed and lazily when the micro-batch executes (rows copied:
  * the scan reuses row objects).
  */
private[v2] class SnapshotChangeFeedSource(spark: SparkSession, path: String,
    failOnDataLoss: Boolean = true)
    extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.Offset
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset
  import org.apache.spark.sql.functions.{col, lit}

  override val schema: StructType = Snapshots.read(spark, path).schema
    .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)

  private def ver(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other         => other.json.toLong
  }

  override def getOffset: Option[Offset] =
    Snapshots.versions(spark, path).lastOption.map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): org.apache.spark.sql.DataFrame = {
    val to = ver(end)
    val feed: Option[org.apache.spark.sql.DataFrame] = start match {
      case _ if !StreamRetention.endRetained(spark, path, to, failOnDataLoss) =>
        None // vacuumed replayed batch, accepted under failOnDataLoss=false
      case None =>
        Some(Snapshots.read(spark, path, Some(to))
          .withColumn("_change_type", lit("insert")))
      case Some(s) =>
        val from = StreamRetention.baseline(spark, path, ver(s), to, failOnDataLoss)
        val chain = from +: Snapshots.versions(spark, path)
          .filter(v => v > from && v <= to)
        // one manifest read per version (not two per adjacent pair):
        // the per-step diffs run on precomputed file lists
        def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
        val filesOf = chain.map(v =>
          v -> Snapshots.dataFiles(spark, path, Some(v))).toMap
        val deletesOf = chain.map(v =>
          v -> Snapshots.deleteFiles(spark, path, Some(v))).toMap
        val eqOf = chain.map(v =>
          v -> Snapshots.eqDeleteFiles(spark, path, Some(v))).toMap
        chain.sliding(2).flatMap {
          // a compaction/z-order/purge step is row-preserving by the
          // rebase contract — skip the O(moved-bytes) diff that would
          // prove its feed empty (the +1 check is defensive against any
          // future non-prefix retention hiding a DML commit in the gap)
          case Seq(a, b) if b == a + 1 &&
              Snapshots.isMaintenanceCommit(spark, path, b) => None
          case Seq(a, b) =>
            // an equality-delete upsert inside the step feeds through
            // the keyed diff: batch rows as inserts, replaced
            // pre-images as deletes (diffFeed's eq-aware probe)
            val beforeN = filesOf(a).map(norm).toSet
            val afterN  = filesOf(b).map(norm).toSet
            Some(Snapshots.diffFeed(spark, path, b,
              removed = filesOf(a).filterNot(p => afterN(norm(p))),
              added   = filesOf(b).filterNot(p => beforeN(norm(p))),
              fromDeletes = deletesOf(a), toDeletes = deletesOf(b),
              carried = filesOf(a).filter(p => afterN(norm(p))),
              fromEqDeletes = eqOf(a), toEqDeletes = eqOf(b)))
          case _ => None
        }.reduceOption(_ unionByName _)
    }
    feed match {
      case Some(df) =>
        val ordered = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
        // the RDD is lazy — the diff executes distributed when the
        // micro-batch runs; copy because the scan reuses row objects
        org.apache.spark.sql.GraftShim.internalCreateStreamingDataFrame(
          spark, org.apache.spark.sql.GraftShim.toRdd(ordered).map(_.copy()),
          schema)
      case None =>
        org.apache.spark.sql.GraftShim.internalCreateStreamingDataFrame(
          spark, spark.sparkContext
            .emptyRDD[org.apache.spark.sql.catalyst.InternalRow], schema)
    }
  }

  override def stop(): Unit = ()
}

/** Everything a pinned snapshot read needs: the concrete version, its
  * immutable file list (for manifest-level data skipping), and the
  * stock parquet table over those files.
  */
private[v2] final case class ResolvedSnapshot(path: String, version: Long,
    files: Seq[String], table: ParquetTable,
    deletes: Seq[String] = Nil,
    eqDeletes: Seq[(Long, String)] = Nil)

/** The scan builder that makes MANIFEST-LEVEL data skipping automatic
  * for `spark.read.format("graft-snapshot")`: the filters Catalyst
  * pushes down are used to prune the pinned file list against the
  * footer-derived per-file ranges ([[graft.sources.FileStats]]) BEFORE
  * the parquet scan is built — the selective query never opens the
  * files it cannot match. Everything else (row-group pruning inside
  * surviving files, column pruning, vectorized read) delegates
  * wholesale to Spark's own parquet builder; this wrapper claims no
  * filter as handled, so row-level semantics are exactly the stock
  * path's.
  *
  * Two further scan-time shortcuts ride the same sidecar stats:
  *
  *  - METADATA-ONLY AGGREGATES ([[SupportsPushDownAggregates]]): an
  *    unfiltered, ungrouped `COUNT(*)` / `COUNT(col)` / `MIN` / `MAX`
  *    over exactly-countable columns is answered from the footer
  *    counters without opening a single data file — on a 100 TB table
  *    the query is a stats-sidecar read (see [[MetadataAgg]] for the
  *    exactness rules that gate it).
  *  - RUNTIME FILE SKIPPING ([[SnapshotReadScan]]): the built scan
  *    advertises its stats-covered columns for dynamic pruning, so a
  *    join against a selective dimension drops fact FILES at runtime
  *    with the keys Spark harvests from the broadcast side.
  */
private[v2] class PruningScanBuilder(resolved: ResolvedSnapshot,
    options: CaseInsensitiveStringMap) extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.catalyst.expressions.Expression

  // the full-table inner builder mirrors pushdown responses (which
  // filters parquet accepts is independent of the file list); file
  // sources speak the CATALYST pushdown dialect, so this wrapper does
  // too — the same resolved expressions feed both parquet's row-group
  // pruning and the manifest-level file pruning
  private val mirror = resolved.table.newScanBuilder(options)
  private var catalystFilters: Seq[Expression] = Nil
  private var required: Option[StructType] = None
  private var metadataAgg: Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    catalystFilters = filters
    mirror match {
      case m: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        m.pushFilters(filters)
      case _ => filters
    }
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    mirror match {
      case m: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        m.pushedFilters
      case _ => Array.empty
    }

  // the ORIGINAL pruned schema when it references the row-identity
  // metadata columns (__gr_file/__gr_pos) — those route to the
  // identity-producing scan; the inner parquet builder only ever sees
  // data columns
  private var identityRequested: Option[StructType] = None

  override def pruneColumns(s: StructType): Unit = {
    val dataOnly =
      if (s.fields.exists(f => RowIdentity.isIdentity(f.name))) {
        identityRequested = Some(s)
        StructType(s.fields.filterNot(f => RowIdentity.isIdentity(f.name)))
      } else s
    required = Some(dataOnly)
    mirror match {
      case m: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
        m.pruneColumns(dataOnly)
      case _ => ()
    }
  }

  // Complete vs partial makes no difference to the produced row — one
  // row of exact totals survives a final agg unchanged (sum of one
  // count, min of one min) — but claiming COMPLETE lets Spark drop the
  // agg node entirely.
  // outstanding merge-on-read sidecars: the footer counters include the
  // position-subtracted rows, so a metadata-only answer would overcount
  // — the gate is correctness, not a missed optimization (a purge or
  // compaction restores it)
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (resolved.deletes.isEmpty && resolved.eqDeletes.isEmpty)
      metadataAgg = MetadataAgg.tryEvaluate(
        SparkSession.active, resolved, catalystFilters, agg)
    metadataAgg.isDefined
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (metadataAgg.isEmpty && resolved.deletes.isEmpty &&
        resolved.eqDeletes.isEmpty)
      metadataAgg = MetadataAgg.tryEvaluate(
        SparkSession.active, resolved, catalystFilters, agg)
    metadataAgg.isDefined
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    // a query referencing the row-identity metadata columns takes the
    // identity-producing scan: filters still prune files through the
    // stats (then re-apply row-level above — none were claimed), and
    // outstanding sidecars are subtracted natively (position-aware by
    // construction), so this path needs no live-view rewrite
    identityRequested.foreach { out =>
      // position-aware by construction, but EQUALITY subtraction is a
      // keyed join this scan cannot express — purge first
      require(resolved.eqDeletes.isEmpty,
        s"graft-snapshot ${resolved.path}: row-identity column reads " +
          "require no outstanding equality deletes — run " +
          "Snapshots.purgeEqDeletes (CALL purge_eq_deletes) first")
      val kept = graft.sources.FileStats.pruneResolved(
        SparkSession.active, resolved.path, resolved.files, catalystFilters)
      return new RowIdentityScan(resolved.path, resolved.table.schema, out,
        kept, resolved.deletes, RowIdentity.translatable(catalystFilters))
    }
    // a snapshot with outstanding sidecars (either kind) is readable
    // ONLY through the live-view rewrite (graft.plans.MorDeleteRewrite,
    // registered by GraftPlannerExtensions at analysis time) — a plan
    // that still carries this relation at scan-build time would read
    // deleted rows back. Failing loudly beats silent resurrection.
    require(resolved.deletes.isEmpty && resolved.eqDeletes.isEmpty,
      s"graft-snapshot ${resolved.path} v${resolved.version} has " +
        s"${resolved.deletes.size} position-delete and " +
        s"${resolved.eqDeletes.size} equality-delete sidecar(s) outstanding; " +
        "reads require spark.sql.extensions=graft.plans.GraftPlannerExtensions " +
        "(the merge-on-read rewrite), or fold the deletes in with " +
        "Snapshots.purgeDeletes/purgeEqDeletes/compact")
    metadataAgg match {
      case Some((schema, row)) =>
        new MetadataAggScan(resolved.path, resolved.version, schema, row)
      case None =>
        val kept = graft.sources.FileStats.pruneResolved(
          SparkSession.active, resolved.path, resolved.files, catalystFilters)
        new SnapshotReadScan(resolved, options, catalystFilters, required, kept)
    }
  }
}

/** One pre-aggregated row computed entirely from the stats sidecar —
  * planned by Spark as a driver-local scan (`LocalTableScanExec`); the
  * data files are never opened.
  */
private[v2] final class MetadataAggScan(path: String, version: Long,
    aggSchema: StructType, row: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = Array(row)
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft-snapshot metadata-agg $path v$version"
}

/** The plain-read snapshot scan: delegates the actual reading to
  * Spark's parquet scan over the statically-pruned file list, and adds
  * the two scan-level contracts the delegation alone cannot provide:
  *
  *  - [[SupportsRuntimeV2Filtering]] — Spark's dynamic pruning hands
  *    join-key predicates (IN/= harvested from a broadcast build side)
  *    to `filter` AFTER planning; the file list shrinks against the
  *    manifest stats and `toBatch` rebuilds the parquet scan over the
  *    survivors, so a selective dim-filtered join never opens
  *    non-matching fact files. Stock parquet can only do this for
  *    hive-style partition columns; the sidecar ranges extend it to
  *    every stats-covered column.
  *  - [[SupportsReportStatistics]] — sizeInBytes delegates to the
  *    parquet scan (post static prune); numRows is the EXACT footer
  *    row-count sum when the scan is unfiltered and every pinned file
  *    has stats, giving the optimizer real cardinality instead of a
  *    size-derived guess.
  *
  * Equality is (table version, kept files, pushed filters, projection)
  * so AQE exchange reuse keeps working across identical subplans —
  * runtime-pruned state deliberately does not participate (Spark
  * mutates the scan after planning; reuse decisions predate that).
  */
private[v2] final class SnapshotReadScan(
    private val resolved: ResolvedSnapshot,
    options: CaseInsensitiveStringMap,
    private val catalystFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    private val required: Option[StructType],
    private val staticKept: Seq[String])
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.internal.connector.SupportsMetadata {

  import org.apache.spark.sql.connector.read.Scan

  @volatile private var files: Seq[String] = staticKept

  private def buildInner(spark: SparkSession, fs0: Seq[String]): Scan = {
    val t =
      if (fs0.size == resolved.files.size) resolved.table
      else ParquetTable(
        s"${resolved.table.name}:skip${resolved.files.size - fs0.size}",
        spark, options,
        // an empty file list breaks ParquetTable's schema inference —
        // keep one file; its row groups are then pruned by parquet
        if (fs0.isEmpty) resolved.files.take(1) else fs0,
        None, classOf[ParquetFileFormat])
    val b = t.newScanBuilder(options)
    b match {
      case m: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        m.pushFilters(catalystFilters): Unit
      case _ => ()
    }
    (b, required) match {
      case (m: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns,
          Some(s)) => m.pruneColumns(s)
      case _ => ()
    }
    b.build()
  }

  @volatile private var inner: Scan = buildInner(SparkSession.active, files)

  override def readSchema(): StructType = inner.readSchema()

  /** Bucket layout this scan can REPORT: present only when the session
    * opted into v2 bucketing, the table has a bucket spec, the bucket
    * column survives projection pruning (Spark resolves the reported
    * transform against the scan OUTPUT — an unresolvable column would
    * fail the query, same trap as filterAttributes), and EVERY kept
    * file carries a bucket tag (maintenance rewrites — compact /
    * z-order / COW DML — write untagged files, after which the scan
    * degrades gracefully to an ordinary one). The third element is the
    * sorted distinct bucket ids present, which must equal the batch's
    * partition grouping exactly.
    */
  private val bucketed: Option[(String, Int, Seq[Int])] = {
    val spark = SparkSession.active
    if (!spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean) None
    else Snapshots.bucketSpec(spark, resolved.path).flatMap { case (c, n) =>
      if (!readSchema().fieldNames.contains(c) || staticKept.isEmpty) None
      else {
        val tags = staticKept.map(Snapshots.bucketOfPath)
        if (tags.exists(_.isEmpty)) None
        else Some((c, n, tags.flatten.distinct.sorted))
      }
    }
  }

  /** Storage-partitioned joins: a bucketed table's scan groups its
    * files per bucket id and reports `KeyGroupedPartitioning(bucket(n,
    * col))`; two co-bucketed snapshot tables equi-joined on their
    * bucket columns then plan with ZERO exchanges (sorts stay local).
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketed match {
      case Some((c, n, bs)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)),
          bs.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Rebuilt on every call: Spark re-plans partitions after a runtime
    * filter lands, and the rebuild picks up the pruned file list.
    */
  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    inner = buildInner(SparkSession.active, files)
    val b = inner.toBatch
    // the expected bucket list is pinned from the STATIC file set:
    // runtime pruning may empty a bucket, and the batch must still
    // produce that partition (empty) to honor the reported grouping
    bucketed match {
      case Some((_, _, bs)) => new BucketedBatch(b, bs)
      case None             => b
    }
  }

  // only columns surviving projection pruning: Spark resolves these
  // against the scan's OUTPUT, and an unresolvable advertised column
  // fails the query rather than skipping the optimization
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val out = readSchema().fieldNames.toSet
    MetadataAgg.statsColumns(resolved.table.schema)
      .filter(out.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // a KeyGrouped-reporting scan pinned its partition count and
    // values at planning time; runtime pruning still runs (a selective
    // dim-filtered join against a bucketed fact on a NON-bucket key is
    // exactly the workload it exists for) — BucketedBatch re-emits an
    // empty partition for any bucket the prune fully emptied, so the
    // reported grouping survives file skipping
    val exprs = predicates.toSeq
      .flatMap(RowLevelScan.toCatalyst(_, resolved.table.schema))
    if (exprs.nonEmpty) {
      val spark = SparkSession.active
      // preserve the STATIC-prune test seam: pruneResolved records
      // into lastSourcePrune; the runtime prune reports separately
      val saved = graft.sources.FileStats.lastSourcePrune
      val before = files.size
      files = graft.sources.FileStats.pruneResolved(
        spark, resolved.path, files, exprs)
      graft.sources.FileStats.lastRuntimePrune = Some((files.size, before))
      graft.sources.FileStats.lastSourcePrune = saved
    }
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val base = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => null
    }
    val exact: java.util.OptionalLong =
      if (catalystFilters.nonEmpty) java.util.OptionalLong.empty()
      else MetadataAgg.exactRowCount(SparkSession.active, resolved.path, files)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (base != null) base.sizeInBytes() else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        if (exact.isPresent) exact
        else if (base != null) base.numRows() else java.util.OptionalLong.empty()
    }
  }

  // explain legibility: keep the inner parquet scan's description and
  // metadata (PushedFilters / ReadSchema lines) visible, with the
  // snapshot identity and file-skipping state prefixed
  override def description(): String =
    s"graft-snapshot ${resolved.path} v${resolved.version} " +
      s"(${files.size}/${resolved.files.size} files) ${inner.description()}"

  override def getMetaData(): Map[String, String] = {
    val base = inner match {
      case m: org.apache.spark.sql.internal.connector.SupportsMetadata =>
        m.getMetaData()
      case _ => Map.empty[String, String]
    }
    base + ("SnapshotFiles" -> s"${files.size}/${resolved.files.size}",
      "SnapshotVersion" -> resolved.version.toString)
  }

  override def equals(o: Any): Boolean = o match {
    case s: SnapshotReadScan =>
      s.resolved.path == resolved.path &&
        s.resolved.version == resolved.version &&
        s.staticKept == staticKept &&
        s.catalystFilters.map(_.canonicalized) == catalystFilters.map(_.canonicalized) &&
        s.required == required
    case _ => false
  }

  override def hashCode(): Int =
    (resolved.path, resolved.version, staticKept, required).hashCode()
}

/** One input partition per bucket: all of a bucket's files as one
  * task, keyed for Spark's key-grouped planning. Reading delegates to
  * the parquet reader factory via the wrapped [[FilePartition]].
  */
private[v2] final case class BucketedFilePartition(index: Int,
    asFilePartition: org.apache.spark.sql.execution.datasources.FilePartition,
    bucket: Int)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
  override def preferredLocations(): Array[String] =
    asFilePartition.preferredLocations()
}

private[v2] final class BucketedReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  private def unwrap(p: org.apache.spark.sql.connector.read.InputPartition) =
    p.asInstanceOf[BucketedFilePartition].asFilePartition
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.supportColumnarReads(unwrap(p))
}

/** Regroups the parquet batch's split-planned partitions into exactly
  * one [[BucketedFilePartition]] per EXPECTED bucket id — the partition
  * count, values, and ordering [[SnapshotReadScan.outputPartitioning]]
  * promised at plan time. `expected` is pinned from the static file
  * set: a runtime file skip may empty a bucket entirely, and the batch
  * re-emits it as an empty partition rather than breaking the reported
  * grouping. Coarser than parquet's size-based splits (a bucket is one
  * task); that is the storage-partitioned-join contract, and the trade
  * a co-located shuffle-free join makes by design.
  */
private[v2] final class BucketedBatch(
    inner: org.apache.spark.sql.connector.read.Batch,
    expected: Seq[Int])
    extends org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.execution.datasources.FilePartition

  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val files = inner.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"bucketed snapshot scan expected FilePartitions, got $other")
    }
    val grouped = files.groupBy { pf =>
      Snapshots.bucketOfPath(pf.filePath.toString).getOrElse(
        throw new IllegalStateException(
          s"bucketed snapshot scan found an untagged file ${pf.filePath}"))
    }
    val stray = grouped.keySet -- expected.toSet
    require(stray.isEmpty,
      s"bucketed snapshot scan planned buckets $stray outside the " +
        s"reported grouping $expected")
    val none = Array.empty[org.apache.spark.sql.execution.datasources.PartitionedFile]
    expected.sorted.zipWithIndex.map { case (b, i) =>
      BucketedFilePartition(i, FilePartition(i, grouped.getOrElse(b, none)), b)
        : org.apache.spark.sql.connector.read.InputPartition
    }.toArray
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new BucketedReaderFactory(inner.createReaderFactory())
}

private[graft] class SnapshotTable(path: String, tableSchema: StructType,
    resolveTable: () => ResolvedSnapshot) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** SQL `UPDATE` / `MERGE INTO` / subquery-predicate `DELETE`: Spark's
    * rewrite rules plan these per the table's declared per-command mode
    * ([[Snapshots.dmlMode]]): copy-on-write (default) as a group-based
    * ReplaceData over [[SnapshotRowLevelOperation]] (group = data file;
    * only files that can contain a matching row rewrite — see
    * RowLevelOps.scala); merge-on-read as a position-delta WriteDelta
    * over [[SnapshotDeltaOperation]] (matched rows → sidecar,
    * updated/inserted rows → appended files; no rewrite — see
    * DeltaRowLevelOps.scala). Simple translatable DELETEs still take
    * the [[deleteWhere]] fast path via Spark's metadata-only-delete
    * optimization, which itself routes by mode.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      import org.apache.spark.sql.connector.write.RowLevelOperation.Command
      val kind = info.command() match {
        case Command.DELETE => "delete"
        case Command.UPDATE => "update"
        case Command.MERGE => "merge"
      }
      if (Snapshots.dmlMode(SparkSession.active, path, kind) == Snapshots.MorMode)
        new SnapshotDeltaOperation(path, info.command(), resolveTable)
      else
        new SnapshotRowLevelOperation(path, info.command(), resolveTable)
    }

  /** Row-identity metadata columns (`__gr_file`, `__gr_pos` — Iceberg's
    * `_file`/`_pos` shape): resolvable in any query over the table and
    * the row-ID contract of the merge-on-read delta write. Produced by
    * [[RowIdentityScan]] when referenced; hidden from `SELECT *`. A
    * (pathological) user schema that claims the names shadows them.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (tableSchema.fieldNames.exists(RowIdentity.isIdentity)) Array.empty
    else RowIdentity.columns

  /** `SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED` surface: the table's
    * declared layout and lifecycle specs, recomputed per call from
    * their sidecars (a handful of metadata-class reads — the same
    * envelope as resolving the table at all), so what SHOW prints is
    * always what the NEXT write/maintain actually does.
    */
  override def properties(): java.util.Map[String, String] = {
    val sp = SparkSession.active
    val m = new java.util.HashMap[String, String]()
    Snapshots.bucketSpec(sp, path).foreach { case (c, n) =>
      m.put("bucket.column", c); m.put("bucket.count", n.toString)
    }
    val sort = Snapshots.sortSpec(sp, path)
    if (sort.nonEmpty) m.put("write.order", sort.mkString(","))
    Snapshots.DmlKinds.foreach { k =>
      val mode = Snapshots.dmlMode(sp, path, k)
      if (mode != Snapshots.CowMode) m.put(s"write.$k.mode", mode)
    }
    graft.sources.PartitionSpecs.current(sp, path).foreach(s =>
      m.put("partition.spec", s.describe))
    Snapshots.retention(sp, path).foreach { case (kv, kd) =>
      kv.foreach(n => m.put("retention.versions", n.toString))
      kd.foreach(d => m.put("retention.days", d.toString))
    }
    Snapshots.bloomSpec(sp, path).foreach { case (c, n) =>
      m.put(s"bloom.$c", n.toString)
    }
    m
  }

  override def name(): String = s"graft-snapshot:$path"

  /** (table path, pinned version) iff that version carries outstanding
    * position-delete sidecars — the merge-on-read rewrite's trigger
    * (graft.plans.MorDeleteRewrite). Rides the memoized resolution, so
    * the per-analysis cost on sidecar-free tables is a cached field
    * read, not manifest I/O.
    */
  private[graft] def morState: Option[(String, Long)] = {
    val r = resolveTable()
    // either sidecar kind routes the read through the live-view rewrite
    // (Snapshots.read resolves both: position deletes + scoped equality
    // deletes)
    if (r.deletes.nonEmpty || r.eqDeletes.nonEmpty) Some((r.path, r.version))
    else None
  }

  /** A bucketed table advertises its layout (`bucket(n, col)`) — shown
    * by DESCRIBE and resolved by Spark against the catalog's `bucket`
    * function for storage-partitioned join planning. Resolved once per
    * table instance (analysis calls this repeatedly, and each read is
    * an object-store round trip); a Table is loaded per query, so the
    * cache has query lifetime — same policy as the resolveTable cache.
    */
  private lazy val cachedPartitioning: Array[Transform] =
    Snapshots.bucketSpec(SparkSession.active, path)
      .map { case (c, n) =>
        Array[Transform](
          org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c))
      }
      .getOrElse(Array.empty)

  override def partitioning(): Array[Transform] = cachedPartitioning

  /** `DELETE FROM <catalog table> WHERE …` — Spark hands the predicate
    * as source Filters; translatable shapes route into the COW
    * [[Snapshots.deleteWhere]] (only files containing a matching row
    * rewrite). `canDeleteWhere` refuses untranslatable predicates so
    * Spark errors loudly instead of a silent wrong delete. SQL's
    * delete-semantics quirk (rows where the predicate is NULL survive)
    * is deleteWhere's own contract. `TRUNCATE TABLE` arrives as
    * deleteWhere(AlwaysTrue) via the interface default.
    */
  private def toColumn(f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case StringContains(a, v)     => Some(col(a).contains(v))
      case AlwaysTrue()             => Some(lit(true))
      case AlwaysFalse()            => Some(lit(false))
      case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
      case Or(l, r)  => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
      case Not(c)    => toColumn(c).map(not)
      case _         => None
    }
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(toColumn(_).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = SparkSession.active
    val pred = filters.flatMap(toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // 'write.delete.mode' = 'merge-on-read' routes to the position-
    // delete sidecar path (commit cost ∝ matched rows); the default
    // stays copy-on-write (files containing matches rewrite). Both run
    // on the live view, so they stack in any order.
    if (Snapshots.deleteMode(spark, path) == Snapshots.MorMode)
      Snapshots.deleteWhereMor(spark, path, pred): Unit
    else
      Snapshots.deleteWhere(spark, path, pred): Unit
  }

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] = {
    import scala.jdk.CollectionConverters._
    // BATCH_WRITE gates DataFrameWriter's non-catalog V2 route; the
    // V1_BATCH_WRITE capability + V1Write build then selects the V1
    // fallback exec, which is where the commit protocol plugs in.
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val resolved = resolveTable()
    // the relation's output (what the provider reported at load time) and
    // the committed file schema must agree, or pruning would request
    // columns by names the files don't carry and read silent nulls: a
    // user-supplied .schema(...) that differs from the committed one is
    // rejected loudly here, at first scan
    require(resolved.table.schema == tableSchema,
      s"graft-snapshot $path: supplied read schema $tableSchema does not " +
        s"match the committed schema ${resolved.table.schema}; drop .schema(...) — " +
        "snapshot reads always use the committed schema")
    new PruningScanBuilder(resolved, options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val spark = data.sparkSession
              val wantsReplace = replace || overwrite
              // APPEND to an existing table validates against the
              // COMMITTED schema (the table reports the incoming frame's
              // own schema to Spark, so AppendData's byName resolution is
              // vacuous): field sets must match exactly by name+type, and
              // columns are realigned to committed order so the parquet
              // files in one manifest never mix layouts. Overwrite may
              // evolve the schema — it replaces the file set wholesale.
              // This pre-check gives the FRIENDLY error and realigns
              // columns; the race-free guarantee is commit's own
              // strictAppendSchema re-validation inside the optimistic
              // lock, against the manifest version actually extended (a
              // concurrent schema-evolving overwrite between here and
              // the publish fails the commit instead of mixing layouts).
              val out =
                if (wantsReplace) data
                else Snapshots.versions(spark, path).lastOption.map { _ =>
                  val committed = Snapshots.read(spark, path).schema
                  val got = data.schema
                  def sig(s: StructType) =
                    s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
                  require(sig(committed) == sig(got),
                    s"graft-snapshot $path: append schema $got does not match " +
                      s"committed schema $committed (append cannot evolve the " +
                      "schema; use mode(\"overwrite\") to replace it)")
                  data.select(committed.fieldNames.map(data(_)).toIndexedSeq: _*)
                }.getOrElse(data)
              // a bucketed table's INSERTs keep the bucket layout: every
              // commit through any surface routes rows by the same spec,
              // or storage-partitioned joins would silently degrade.
              // An OVERWRITE whose schema evolved past the bucket column
              // (dropped/renamed/retyped) retires the layout instead —
              // overwrite replaces the file set wholesale, so it may
              // replace the layout too; this is also the route OUT of
              // bucketing (there is no ALTER TABLE). Appends still fail
              // loudly: an append cannot evolve anything.
              Snapshots.bucketSpec(spark, path) match {
                case Some((c, n)) if out.schema.fields.exists(f =>
                    f.name == c &&
                      f.dataType == org.apache.spark.sql.types.LongType) =>
                  Snapshots.commitBucketed(out, path, c, n,
                    overwrite = wantsReplace): Unit
                case Some((c, _)) if wantsReplace =>
                  // commit first, drop after: a failure leaves the old
                  // layout intact; in the window between the two a scan
                  // sees a spec with untagged files and degrades
                  Snapshots.commit(out, path, overwrite = true): Unit
                  Snapshots.dropBucketSpec(spark, path)
                case Some((c, n)) =>
                  Snapshots.commitBucketed(out, path, c, n): Unit // loud require
                case None =>
                  Snapshots.commit(out, path, overwrite = wantsReplace,
                    strictAppendSchema = !wantsReplace): Unit
              }
              ()
            }
          }
      }
    }
}

/** Exactness rules for metadata-only aggregates over a snapshot table.
  *
  * The stats sidecar ([[graft.sources.FileStats]]) records, per data
  * file and top-level column, the parquet FOOTER's row count, null
  * count, and min/max. Pruning only needs those to be conservative;
  * answering an aggregate needs them to be EXACT, so the evaluator
  * declines anything outside the provably-exact core:
  *
  *  - only unfiltered, ungrouped aggregates (a pushed filter changes
  *    the matching row set; footer counters describe whole files);
  *  - every pinned file must carry sidecar lines (a file written
  *    before stats collection, or whose footer read failed, makes
  *    counts unknowable);
  *  - `COUNT(*)` from row counts; `COUNT(col)` additionally needs the
  *    column's null count known in every file (−1 = some row group
  *    did not record it → decline);
  *  - `MIN`/`MAX` only for integral/date/timestamp columns: their
  *    INT32/INT64 footer endpoints are exact by format. Float/double
  *    footers are NaN-blind and string/binary stats may be truncated
  *    by the writer — both stay on the scan path;
  *  - `SUM`/`AVG`/distinct aggregates have no footer counterpart →
  *    scan path.
  *
  * Everything declined falls back to the ordinary pruned parquet scan;
  * the pushdown is a pure shortcut, never a semantics change.
  */
private[v2] object MetadataAgg {
  import graft.sources.FileStats
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._

  /** Top-level columns whose type lands in a stats domain — the ones
    * the sidecar can ever have ranges for, hence the ones a runtime
    * join-key filter can prune files with.
    */
  def statsColumns(schema: StructType): Array[String] =
    schema.fields.collect {
      case f if tagOf(f.dataType).isDefined => f.name
    }

  private def tagOf(dt: DataType): Option[Char] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some('I')
    case FloatType | DoubleType                        => Some('F')
    case StringType                                    => Some('S')
    case DateType                                      => Some('D')
    case TimestampType | TimestampNTZType              => Some('T')
    case _                                             => None
  }

  /** Exact total row count of `files` when every one has sidecar
    * stats; empty otherwise. Feeds [[SnapshotReadScan]]'s reported
    * statistics.
    */
  def exactRowCount(spark: SparkSession, table: String,
      files: Seq[String]): java.util.OptionalLong = {
    val detail = FileStats.loadDetail(spark, table)
    val normed = files.map(FileStats.norm)
    if (normed.forall(detail.contains))
      java.util.OptionalLong.of(
        normed.map(f => detail(f).values.headOption.map(_.rows).getOrElse(0L)).sum)
    else java.util.OptionalLong.empty()
  }

  /** The aggregation's exact answer as (schema, single row), or None
    * when any part falls outside the exact core.
    */
  def tryEvaluate(spark: SparkSession, resolved: ResolvedSnapshot,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      agg: Aggregation): Option[(StructType, InternalRow)] = {
    if (filters.nonEmpty || agg.groupByExpressions.nonEmpty) return None
    val funcs = agg.aggregateExpressions.toSeq
    if (funcs.isEmpty) return None
    val schema = resolved.table.schema
    val detail = FileStats.loadDetail(spark, resolved.path)
    val normed = resolved.files.map(FileStats.norm)
    if (!normed.forall(detail.contains)) return None
    val perFile = normed.map(detail)

    def single(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case fr: NamedReference if fr.fieldNames.length == 1 =>
          Some(fr.fieldNames.head)
        case _ => None
      }

    // every line of a file carries the same footer row count
    def fileRows(m: Map[String, FileStats.ColDetail]): Long =
      m.values.headOption.map(_.rows).getOrElse(0L)
    lazy val totalRows: Long = perFile.map(fileRows).sum
    // a zero-row file (schema anchor) contributes nothing to any
    // aggregate and need not carry per-column lines
    lazy val nonEmpty = perFile.filter(fileRows(_) > 0)

    def countCol(name: String): Option[Long] = {
      val cols = nonEmpty.map(_.get(name))
      if (cols.forall(c => c.isDefined && c.get.nulls >= 0))
        Some(cols.map(c => c.get.rows - c.get.nulls).sum)
      else None
    }

    def minMax(name: String, isMin: Boolean): Option[(DataType, Any)] =
      schema.fields.find(_.name == name).flatMap { f =>
        val tagOpt = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => Some('I')
          case DateType                                      => Some('D')
          case TimestampType | TimestampNTZType              => Some('T')
          case _                                             => None
        }
        tagOpt.flatMap { tag =>
          val cols = nonEmpty.map(_.get(name))
          // a file missing the column's line (schema evolution,
          // footer-stats gap) or carrying a different physical tag
          // makes the endpoint unknowable
          if (cols.exists(c => c.isEmpty || c.get.range.tag != tag)) None
          else {
            val endpoints = cols.flatMap { c =>
              (if (isMin) c.get.range.min else c.get.range.max)
                .map(_.asInstanceOf[Long]) // I/D/T domains are Long
            }
            val v: Any =
              if (endpoints.isEmpty) null // zero rows or all-NULL: SQL MIN/MAX is NULL
              else {
                val m = if (isMin) endpoints.min else endpoints.max
                f.dataType match {
                  case ByteType              => m.toByte
                  case ShortType             => m.toShort
                  case IntegerType | DateType => m.toInt
                  case _                     => m
                }
              }
            Some((f.dataType, v))
          }
        }
      }

    val results: Seq[Option[(StructField, Any)]] = funcs.zipWithIndex.map {
      case (_: CountStar, i) =>
        Some((StructField(s"agg_$i", LongType, nullable = false),
          totalRows: Any))
      case (c: Count, i) if !c.isDistinct =>
        single(c.column).flatMap(countCol)
          .map(v => (StructField(s"agg_$i", LongType, nullable = false), v: Any))
      case (m: Min, i) =>
        single(m.column).flatMap(minMax(_, isMin = true))
          .map { case (dt, v) => (StructField(s"agg_$i", dt), v) }
      case (m: Max, i) =>
        single(m.column).flatMap(minMax(_, isMin = false))
          .map { case (dt, v) => (StructField(s"agg_$i", dt), v) }
      case _ => None
    }
    if (results.exists(_.isEmpty)) None
    else Some((StructType(results.map(_.get._1)),
      new GenericInternalRow(results.map(_.get._2).toArray)))
  }
}
