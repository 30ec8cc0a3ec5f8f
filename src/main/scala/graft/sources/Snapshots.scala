package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Memo.normPath

/** Minimal snapshot-isolated table format over plain parquet — the
  * manifest-pointer pattern (Iceberg/Delta's core idea, reduced to its
  * load-bearing parts) for sinks that need atomic publish, readers
  * that never see half-written data, and time travel:
  *
  * The complete on-disk layout of a table:
  *
  *   manifest-v<N>.json        snapshot N: header `v<N>[ <token>]`, then
  *                             one line per data file, `D <path>` per
  *                             position-delete and `E <scope> <path>`
  *                             per equality-delete sidecar
  *   data/<uuid>/part-*.parquet  immutable data files (bucketed commits
  *                             nest them under `__graft_bucket=<i>/`)
  *   deletes/<uuid>/…          position-delete sidecars ([[PositionDeletes]])
  *   eqdeletes/<uuid>/…        equality-delete sidecars ([[upsertEq]])
  *   stats/stats-<uuid>.tsv    append-only footer stats ([[FileStats]])
  *   bucketspec, sortspec, partitionspec, schema.json,
  *   deletemode, updatemode, mergemode
  *                             layout side files a [[fork]] carries
  *                             (`CarriedSideFiles`)
  *   bloomspec, retention      side files that stay with the table
  *   fieldids-v<N>.json        field-id state, CAS-versioned ([[FieldIds]])
  *   ref-tag-<name>.txt        a tag's version
  *   ref-branch-<name>.txt     a registered branch's path
  *   ref-mv-<name>.txt         a registered materialized view's path
  *   mvdef.json                the definition, on a materialized view
  *   .<file>.<uuid>.tmp        an in-flight write (never read)
  *
  * Every recorded path — manifest lines, position-sidecar rows, stats
  * keys — is relative to the table root for a file under it
  * (`data/<uuid>/part-….parquet`) and absolute for a file outside it (a
  * fork's parent files, and lines written before the relative rule,
  * which resolve to themselves); [[TablePaths]] owns the spelling. So a
  * table's directory moves as a whole: RENAME is one directory move.
  *
  * Every manifest goes through one writer ([[claimManifest]]) and every
  * side file through one reader/writer pair ([[readSide]] /
  * [[writeSide]]): the content lands in a hidden tmp file, then one
  * atomic no-overwrite claim publishes it. A commit writes its data
  * files first (invisible — readers only follow manifests), then claims
  * `manifest-v<N>`. The claim doubles as the optimistic-concurrency
  * lock: two writers racing to the same version cannot both win it,
  * and the loser retries against the next version number.
  *
  * Scale posture: the manifest is one small driver-side JSON per
  * version (file listing comes from the manifest, never from object-
  * store LIST); data reads are ordinary parquet scans, so pushdown,
  * pruning, and split planning are untouched. Readers pin a version at
  * plan time — a concurrent commit cannot change a running query's
  * file set (snapshot isolation).
  */
object Snapshots {

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val ManifestRe = "manifest-v([0-9]+)\\.json".r

  /** Atomically publish `tmp` as `dst`, failing iff `dst` already
    * exists — the optimistic-concurrency claim every commit rides on.
    * HDFS/object-store rename carries no-overwrite semantics, but POSIX
    * rename(2) silently REPLACES the destination: two local writers
    * could both "win" the same version and the later rename would
    * overwrite the earlier manifest, orphaning its rows (the round-4
    * concurrency hammer caught this as a lost merge). On `file:` paths
    * the version is claimed with a hard link instead — link(2) fails
    * with EEXIST atomically — and the tmp name is dropped after.
    */
  private def publishAtomic(f: FileSystem, tmp: Path, dst: Path): Boolean =
    if (f.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        // only "dst already exists" means a lost race; a vanished table
        // dir or tmp file is a real error and must surface as itself
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else f.rename(tmp, dst)

  /** The one write protocol of the format: stream `dst`'s content into
    * a hidden `.<name>.<uuid>.tmp` beside it, then claim `dst` with
    * [[publishAtomic]]; a lost claim deletes the tmp file. `replace`
    * deletes the current `dst` first — a concurrent writer racing into
    * that gap makes this claim fail (loudly, at the caller) instead of
    * silently overwriting, on `file:` and HDFS alike. Both seams below
    * ride it.
    */
  private def claimFile(f: FileSystem, dst: Path, replace: Boolean)(
      write: java.io.OutputStream => Unit): Boolean = {
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = new java.io.BufferedOutputStream(f.create(tmp, false), 1 << 16)
    try write(out) finally out.close()
    if (replace) f.delete(dst, false)
    publishAtomic(f, tmp, dst) || { f.delete(tmp, false); false }
  }

  /** SIDE-FILE SEAM, write half: publish a small table property file
    * (specs, refs, declared schema, field ids, MV definitions) whole.
    * False when another writer holds `dst` — the caller decides whether
    * that is a lost create race or a concurrent replace.
    */
  private[sources] def writeSide(f: FileSystem, dst: Path, body: String,
      replace: Boolean = false): Boolean =
    claimFile(f, dst, replace)(_.write(body.getBytes("UTF-8")))

  /** SIDE-FILE SEAM, read half: a side file's whole text, None when the
    * file does not exist.
    */
  private[sources] def readSide(f: FileSystem, p: Path): Option[String] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  /** Committed versions, ascending (empty for a fresh table). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val f = fs(spark, table)
    val dir = new Path(table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case ManifestRe(v) => Some(v.toLong)
      case _             => None
    }).sorted
  }

  private def manifestPath(table: String, v: Long): Path =
    new Path(s"$table/manifest-v$v.json")

  private def manifestText(spark: SparkSession, table: String, v: Long): String = {
    val in = fs(spark, table).open(manifestPath(table, v))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  // manifest body: one file entry per line after the header line
  // "v<N>[ <token>]" — deliberately line-oriented, no JSON lib. Entries
  // follow [[TablePaths]]: a file under the table root is written
  // root-relative, one outside it (a fork's parent files) absolute, and
  // an absolute line (every line written before the relative rule)
  // resolves to itself. A line
  // prefixed "D " references a POSITION-DELETE sidecar (merge-on-read
  // DELETE, see [[PositionDeletes]]); a line prefixed "E <scope> "
  // references an EQUALITY-DELETE sidecar (streaming upsert,
  // [[upsertEq]]) whose key rows subtract from every data file ADDED AT
  // OR BEFORE version `scope` (files appended later — including the
  // upsert's own — are exempt; Iceberg's sequence-number semantics).
  // Bare lines are data files. Old manifests carry neither prefix and
  // parse unchanged.
  private val DeleteLinePrefix = "D "
  private val EqLinePrefix = "E "

  /** The one manifest reader: version `v`'s token and every line kind,
    * from one read of the file, each entry resolved to its qualified
    * path ([[TablePaths.resolve]]).
    */
  private def manifest(spark: SparkSession, table: String, v: Long): Manifest =
    manifestEntries(spark, table, v, TablePaths(spark, table).resolve)

  /** Version `v`'s lines with `entry` applied to each recorded path. */
  private def manifestEntries(spark: SparkSession, table: String, v: Long,
      entry: String => String): Manifest = {
    val lines = manifestText(spark, table, v).linesIterator
    val token = if (lines.hasNext) lines.next().split(' ').lift(1) else None
    val body = lines.filter(_.nonEmpty).toVector
    Manifest(token,
      body.collect { case l if !l.startsWith(DeleteLinePrefix) &&
          !l.startsWith(EqLinePrefix) => entry(l) },
      body.collect { case l if l.startsWith(DeleteLinePrefix) =>
        entry(l.drop(DeleteLinePrefix.length)) },
      body.collect { case l if l.startsWith(EqLinePrefix) =>
        val rest = l.drop(EqLinePrefix.length)
        val sp = rest.indexOf(' ')
        (rest.take(sp).toLong, entry(rest.drop(sp + 1)))
      })
  }

  /** The retained versions of `table` that record an ABSOLUTE path
    * under its own root — in a manifest line or in a referenced
    * position sidecar's rows (lines written before the relative rule).
    * A directory move would strand them, so RENAME refuses while any
    * exist.
    */
  private[graft] def absoluteUnderRoot(spark: SparkSession,
      table: String): Seq[Long] = {
    val tp = TablePaths(spark, table)
    versions(spark, table).filter { v =>
      val m = manifestEntries(spark, table, v, identity)
      (m.files ++ m.deletes ++ m.eqDeletes.map(_._2)).exists(tp.absoluteUnderRoot) ||
        manifest(spark, table, v).deletes.exists(PositionDeletes.recordsAbsoluteUnder(spark, _, tp))
    }
  }

  private def manifestFiles(spark: SparkSession, table: String, v: Long): Seq[String] =
    manifest(spark, table, v).files

  private[graft] def manifestDeletes(spark: SparkSession, table: String,
      v: Long): Seq[String] =
    manifest(spark, table, v).deletes

  private def manifestEqDeletes(spark: SparkSession, table: String,
      v: Long): Seq[(Long, String)] =
    manifest(spark, table, v).eqDeletes

  /** The (scope, path) equality-delete sidecars the snapshot AS OF
    * `asOf` references — empty except between an [[upsertEq]] and the
    * next [[purgeEqDeletes]].
    */
  def eqDeleteFiles(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Seq[(Long, String)] = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    manifestEqDeletes(spark, table, v)
  }

  /** Refusal gate for operations that have no sound semantics while
    * EQUALITY deletes are outstanding (their subtraction is keyed and
    * version-scoped, so file-granular rewrites and diffs cannot reason
    * about them the way they do about position sidecars). Each caller
    * is an explicit decision, not an oversight — fold the deletes in
    * with [[purgeEqDeletes]] and the operation proceeds.
    */
  private def requireNoEqDeletes(spark: SparkSession, table: String,
      op: String, v: Long): Unit =
    require(manifestEqDeletes(spark, table, v).isEmpty,
      s"$op on $table requires no outstanding equality deletes — run " +
        "Snapshots.purgeEqDeletes (SQL: CALL <catalog>.system.purge_eq_deletes) first")

  /** The position-delete sidecar files the snapshot AS OF `asOf`
    * (default: latest) references — empty on tables whose DML has been
    * copy-on-write only (or since the last purge/compaction).
    */
  def deleteFiles(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Seq[String] = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    manifestDeletes(spark, table, v)
  }

  /** The commit token of version `v` (None for plain commits) — the one
    * reader of the manifest header. Reads the first line only: replay
    * checks walk every version's header, never its file list.
    */
  def commitToken(spark: SparkSession, table: String, v: Long): Option[String] = {
    val in = fs(spark, table).open(manifestPath(table, v))
    val header =
      try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    Option(header).flatMap(_.split(' ').lift(1))
  }

  /** True iff version `v` is a ROW-PRESERVING maintenance rewrite
    * (compaction, z-order, a purge, bin-packing or [[maintain]]'s
    * fused fold): by the append-rebase publish contract its
    * manifest carries exactly the head's rows in a new physical layout,
    * so a change-feed step across it is empty by construction — callers
    * skip the O(moved-bytes) diff that would prove it.
    */
  def isMaintenanceCommit(spark: SparkSession, table: String, v: Long): Boolean =
    isMaintenanceToken(commitToken(spark, table, v))

  private def isMaintenanceToken(token: Option[String]): Boolean =
    token.exists(t =>
      t.startsWith("compact-of-v") || t.startsWith("zorder-of-v") ||
        t.startsWith("purge-of-v") || t.startsWith("purge-eq-of-v") ||
        t.startsWith("binpack-of-v") || t.startsWith("maintain-of-v"))

  /** The version already committed under `token`, if any — the replay
    * check behind exactly-once streaming publish.
    */
  def committedVersionFor(spark: SparkSession, table: String, token: String): Option[Long] =
    versions(spark, table).find(commitToken(spark, table, _).contains(token))

  /** Table history (DESCRIBE HISTORY), one row per still-retained
    * version, ascending: version, the commit token (None for plain
    * commits; `compact-of-v…`/`zorder-of-v…`/`stream:…` tokens identify
    * maintenance and streaming commits), manifest file count, and the
    * manifest's publish time. Driver-side metadata only — one small
    * manifest read per version, never a data-file touch — so it stays
    * cheap on a table whose data is 100 TB.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    val f = fs(spark, table)
    val rows = versions(spark, table).map { v =>
      val st = f.getFileStatus(manifestPath(table, v))
      (v, commitToken(spark, table, v).orNull, manifestFiles(spark, table, v).size,
        new java.sql.Timestamp(st.getModificationTime))
    }
    import spark.implicits._
    rows.toDF("version", "token", "n_files", "committed_at")
  }

  /** Commit `df` as the next snapshot. `overwrite = false` appends to
    * the current snapshot's file set; `true` replaces it. Returns the
    * committed version. Retries (up to 5×) when another writer wins the
    * version race; data files written here stay referenced by OUR
    * manifest only, so a lost race never duplicates or orphans rows in
    * any published snapshot.
    *
    * `token` makes the commit idempotent: if any manifest already
    * carries it, that version is returned and nothing is written — the
    * exactly-once contract a replayed streaming micro-batch needs.
    */
  def commit(df0: DataFrame, table: String, overwrite: Boolean = false,
      token: Option[String] = None,
      strictAppendSchema: Boolean = false): Long = {
    val spark = df0.sparkSession
    token.foreach(t => committedVersionFor(spark, table, t)
      .foreach(v => return v))
    val (df, postPublish) = stampFieldIds(df0, table, overwrite)
    val f = fs(spark, table)
    val dataDir = new Path(s"$table/data/${java.util.UUID.randomUUID}")
    applySortSpec(df, table).write
      .options(bloomWriteOptions(spark, table)).parquet(dataDir.toString)
    // match on the file NAME, not the full path: a table rooted under a
    // directory containing "part-" would otherwise sweep _SUCCESS into
    // the manifest (gc's startsWith convention)
    val newFiles = f.listStatus(dataDir).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    FileStats.record(spark, table, newFiles) // footer-derived skipping stats
    val v = publishNewFiles(spark, table, newFiles, overwrite, token,
      if (strictAppendSchema) Some(df.schema) else None, dataDir)
    postPublish()
    v
  }

  /** Stamp the table's field-id assignment ([[FieldIds]]) onto an
    * outgoing frame so its parquet footers carry per-field ids — the
    * write half of metadata-only RENAME/DROP COLUMN. State is created
    * at table birth (first commit / catalog CREATE); a table that
    * predates field ids ADOPTS them at any FULL-rewrite point — an
    * overwrite commit or a whole-table [[compact]] — because those
    * replace every live file with freshly-stamped ones. Append-only
    * legacy tables stay unstamped (and renames refuse on them).
    *
    * Returns the stamped frame plus a POST-PUBLISH hook for the state
    * changes that are UNSAFE to persist before the new file set is
    * durable: a full rewrite's prune of retired names (persisting it
    * first would retire ids of still-live columns if the overwrite then
    * failed — a later re-add + rename could then silently mis-read old
    * stamped files), and a birth/adoption init (a state file claiming
    * the all-files-stamped invariant must not outlive a failed
    * overwrite whose old unstamped files survive). Fresh-id EXTENSIONS
    * persist eagerly — a burned id on a failed write is harmless, the
    * cursor never reuses it.
    */
  private def stampFieldIds(df: DataFrame, table: String,
      fullRewrite: Boolean): (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    val noop = () => ()
    FieldIds.load(spark, table) match {
      case Some(st) =>
        val stamped = FieldIds.stamp(spark, table, st, df)
        if (!fullRewrite) (stamped, noop)
        else {
          // a full rewrite REPLACES the column set: retire exactly the
          // names THIS rewrite dropped (cursor untouched, so a later
          // re-add gets a fresh id and can never alias the retired
          // column's bytes in time-travelable files); names a
          // concurrent ALTER adds meanwhile are left alone
          val retire = st.fields.keySet -- df.schema.fieldNames
          if (retire.isEmpty) (stamped, noop)
          else (stamped, () => FieldIds.mutate(spark, table, opt =>
            opt.map(c => FieldIds.State(c.next, c.fields -- retire))
              .getOrElse(FieldIds.State(st.next, st.fields -- retire))): Unit)
        }
      case None if fullRewrite || versions(spark, table).isEmpty =>
        val fresh = FieldIds.State(df.schema.fields.length + 1,
          df.schema.fields.zipWithIndex.map { case (f, i) =>
            f.name -> (i + 1) }.toMap)
        (FieldIds.stampWith(fresh, df),
          () => FieldIds.mutate(spark, table, cur => cur.getOrElse(fresh)): Unit)
      case None => (df, noop)
    }
  }

  /** One manifest's content: the header's optional commit token, then
    * its data-file, position-delete and equality-delete lines.
    */
  private final case class Manifest(token: Option[String],
      files: Seq[String], deletes: Seq[String] = Nil,
      eqDeletes: Seq[(Long, String)] = Nil)

  /** The one manifest header writer: `v<N>[ <token>]` (tokens are single
    * words — [[commitToken]] splits the header on spaces).
    */
  private def manifestHeader(v: Long, token: Option[String]): String =
    s"v$v${token.map(" " + _).getOrElse("")}"

  /** Stream a manifest body (header line + one line per entry, each
    * path recorded through [[TablePaths.relativize]]): at 10⁶ entries a
    * mkString would materialize a second ~100 MB copy of the list the
    * driver already holds.
    */
  private def writeManifestBody(out: java.io.OutputStream, v: Long,
      m: Manifest, tp: TablePaths): Unit = {
    def line(l: String): Unit = out.write((l + "\n").getBytes("UTF-8"))
    line(manifestHeader(v, m.token))
    m.files.foreach(p => line(tp.relativize(p)))
    m.deletes.foreach(p => line(DeleteLinePrefix + tp.relativize(p)))
    m.eqDeletes.foreach { case (scope, p) =>
      line(s"$EqLinePrefix$scope ${tp.relativize(p)}") }
  }

  /** MANIFEST SEAM: the only writer of `manifest-v<N>`. Claims version
    * `v` of `table` with `m` — false when another writer already holds
    * it (the optimistic lock every commit rides on).
    */
  private def claimManifest(f: FileSystem, table: String, v: Long,
      m: Manifest): Boolean =
    claimFile(f, manifestPath(table, v), replace = false)(
      writeManifestBody(_, v, m, TablePaths(f, table)))

  /** The claim-head+1 loop of the head-replacing publishes ([[commit]],
    * CTAS/RTAS, [[restore]]): `next` sees the committed versions and
    * either answers outright (Left: a token replay or a no-op) or
    * returns the manifest to claim at head+1; a lost claim re-reads the
    * head and asks again, up to 5 times. `won` runs once after a win.
    */
  private def claimNext(spark: SparkSession, table: String, op: String,
      won: Seq[Long] => Unit = _ => ())(
      next: Seq[Long] => Either[Long, Manifest]): Long = {
    val f = fs(spark, table)
    var attempt = 0
    while (attempt < 5) {
      val prev = versions(spark, table)
      next(prev) match {
        case Left(done) => return done
        case Right(m) =>
          val v = prev.lastOption.getOrElse(0L) + 1
          if (claimManifest(f, table, v, m)) { won(prev); return v }
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"$op lost the version race 5 times on $table")
  }

  /** The optimistic append/overwrite publish shared by [[commit]] and
    * [[commitBucketed]]: already-written `newFiles` become the next
    * manifest version (base + new on append, new alone on overwrite),
    * with the token replay check and the in-lock strict-append schema
    * validation.
    */
  private def publishNewFiles(spark: SparkSession, table: String,
      newFiles: Seq[String], overwrite: Boolean, token: Option[String],
      strictSchema: Option[org.apache.spark.sql.types.StructType],
      dataDir: Path): Long =
    // a schema-evolving OVERWRITE re-bases the shape on its new files —
    // retire any ALTER override (same route as bucketspec)
    claimNext(spark, table, "snapshot commit", won = prev =>
        if (overwrite && prev.nonEmpty) retireDeclaredSchema(spark, table)) { prev =>
      // re-check under the race: the same token may have just won
      token.flatMap(committedVersionFor(spark, table, _)).toLeft {
        // an append CARRIES the base version's position-delete sidecars
        // (the deleted rows stay deleted) and its equality-delete lines
        // with their ORIGINAL scopes (the appended files' add-version is
        // v > every scope, so new rows are exempt by construction); an
        // overwrite replaces the row set wholesale, sidecars included
        val carry = !overwrite && prev.nonEmpty
        val base = if (carry) manifestFiles(spark, table, prev.last) else Seq.empty
        // strict appends validate against the manifest version BEING
        // EXTENDED, inside the optimistic lock: a caller-side pre-check is
        // inherently racy (a schema-evolving overwrite can land between
        // check and publish, mixing two physical layouts in one manifest).
        // Here, if publish succeeds at prev.last + 1, no other commit
        // landed after this validation — exactly the invariant the check
        // protects. Footer-only driver read; the retry path is rare.
        strictSchema.foreach { want =>
          if (base.nonEmpty) {
            // an ALTER-extended table's committed shape IS the declared
            // schema (old footers legitimately lack the added columns)
            val committed = declaredSchema(spark, table)
              .orElse(FooterSchemas.uniform(spark, base))
              .getOrElse(
                spark.read.option("mergeSchema", "true").parquet(base: _*).schema)
            if (!sameColumns(committed, want)) {
              // no orphaned layout-mismatched files
              fs(spark, table).delete(dataDir, true)
              throw new IllegalStateException(
                s"graft-snapshot $table: append schema $want does not " +
                  s"match the schema $committed of manifest v${prev.last} at " +
                  "commit time (a concurrent overwrite may have evolved the " +
                  "table; re-read and retry the append)")
            }
          }
        }
        Manifest(token, base ++ newFiles,
          if (carry) manifestDeletes(spark, table, prev.last) else Nil,
          if (carry) manifestEqDeletes(spark, table, prev.last) else Nil)
      }
    }

  /** Directory-name prefix that carries a data file's bucket id (the
    * hive-style layout `.../__graft_bucket=<i>/part-*.parquet` written
    * by [[commitBucketed]]); readers parse it back for
    * storage-partitioned joins.
    */
  private[graft] val BucketDir = "__graft_bucket"

  /** The table's bucket layout, if any: (column, numBuckets). */
  def bucketSpec(spark: SparkSession, table: String): Option[(String, Int)] =
    readSide(fs(spark, table), new Path(s"$table/bucketspec"))
      .flatMap(_.trim.split("\t") match {
        case Array(c, n) => Some((c, n.toInt))
        case _           => None
      })

  /** Persist-or-validate the table's bucket spec. The spec is written
    * to a tmp file and claimed with the same atomic no-overwrite
    * publish every manifest uses — a crash mid-write can never leave a
    * torn `bucketspec` that blocks all future bucketed commits (the
    * pre-fix create+write path could). The loser of a concurrent
    * first-writer race re-reads and validates; a mismatching spec
    * always fails loudly. Returns true when THIS call created the
    * spec, so a failed commit can retire it instead of leaking a
    * routing change out of an operation that never published.
    */
  private[graft] def ensureBucketSpec(spark: SparkSession, table: String,
      column: String, n: Int): Boolean = {
    val f = fs(spark, table)
    bucketSpec(spark, table) match {
      case Some((c, m)) =>
        require(c == column && m == n,
          s"$table is bucketed by ($c, $m); cannot commit with ($column, $n)")
        false
      case None =>
        if (writeSide(f, new Path(s"$table/bucketspec"), s"$column\t$n")) true
        else {
          val got = bucketSpec(spark, table)
          require(got.contains((column, n)),
            s"$table bucket spec race: committed $got, attempted ($column, $n)")
          false
        }
    }
  }

  /** Retire the table's bucket layout: subsequent commits route
    * unbucketed and scans degrade to ordinary parquet scans (already
    * the behavior whenever any manifest file is untagged). Used by
    * schema-evolving overwrites/RTAS that drop the bucket column, and
    * by failed first-bucketed-commits cleaning up their own spec.
    */
  private[graft] def dropBucketSpec(spark: SparkSession, table: String): Unit = {
    fs(spark, table).delete(new Path(s"$table/bucketspec"), false): Unit
  }

  /** The table's bloom-skipping spec: column → expected per-file NDV
    * (sizes the parquet-native bloom at write). Empty map = no spec.
    * See [[BloomSkip]] for the read-side contract.
    */
  def bloomSpec(spark: SparkSession, table: String): Map[String, Long] =
    readSide(fs(spark, table), new Path(s"$table/bloomspec")).toSeq
      .flatMap(_.split("\n").map(_.trim).filter(_.nonEmpty).flatMap {
        _.split("\t") match {
          case Array(c, n) => scala.util.Try(c -> n.toLong).toOption
          case _           => None
        }
      }).toMap

  /** Install (or replace) the table's bloom spec. Applies to files
    * written AFTER the call — existing files carry no bloom and simply
    * never bloom-prune (conservative keep), exactly like pre-stats
    * history under [[FileStats]]. An admin-level operation: concurrent
    * replacement races fail loudly rather than interleave.
    */
  def setBloomSpec(spark: SparkSession, table: String,
      cols: Map[String, Long]): Unit = {
    require(cols.nonEmpty, "empty bloom spec; use dropBloomSpec to retire")
    cols.foreach { case (c, n) =>
      require(n > 0, s"bloom NDV for $c must be positive, got $n")
    }
    if (!writeSide(fs(spark, table), new Path(s"$table/bloomspec"),
        cols.toSeq.sortBy(_._1).map { case (c, n) => s"$c\t$n" }.mkString("\n"),
        replace = true))
      throw new IllegalStateException(s"concurrent bloomspec update on $table")
  }

  /** Retire the bloom spec: later writes carry no blooms; files that
    * already have them keep pruning until rewritten.
    */
  def dropBloomSpec(spark: SparkSession, table: String): Unit =
    fs(spark, table).delete(new Path(s"$table/bloomspec"), false): Unit

  /** Parquet writer options materializing the bloom spec — stock
    * parquet per-column keys, understood by both the DataFrame writer
    * and the DML task writer's job Configuration.
    */
  private[sources] def bloomWriteOptions(spark: SparkSession,
      table: String): Map[String, String] =
    bloomSpec(spark, table).flatMap { case (c, n) =>
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> n.toString)
    }

  /** The table's declared write sort order, if any — the Iceberg
    * `WRITE ORDERED BY` shape. Every subsequent write range-clusters
    * rows on these columns BEFORE the parquet files land, so
    * [[FileStats]] range pruning has power by construction instead of
    * by caller discipline (ad-hoc `ORDER BY` on inserts) or after-the-
    * fact rewrites (`optimizeZOrder`). At 100 TB clustering is where
    * file skipping comes from: unordered ingestion makes every file
    * span the key domain and a selective scan opens all of them.
    */
  def sortSpec(spark: SparkSession, table: String): Seq[String] =
    readSide(fs(spark, table), new Path(s"$table/sortspec")).map(_.trim)
      .filter(_.nonEmpty).toSeq.flatMap(_.split("\t"))

  /** Install (or replace) the declared write sort order. Applies to
    * writes AFTER the call; existing files keep their layout until
    * rewritten (compact / z-order / DML). Columns absent from a write's
    * schema skip the clustering for that write (conservative no-op).
    */
  def setSortSpec(spark: SparkSession, table: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "empty sort spec; use dropSortSpec to retire")
    if (!writeSide(fs(spark, table), new Path(s"$table/sortspec"),
        cols.mkString("\t"), replace = true))
      throw new IllegalStateException(s"concurrent sortspec update on $table")
  }

  /** Retire the declared write sort order (later writes land as-is). */
  def dropSortSpec(spark: SparkSession, table: String): Unit =
    fs(spark, table).delete(new Path(s"$table/sortspec"), false): Unit

  /** Declared HISTORY RETENTION policy — (keepVersions, keepDays), each
    * optional: keep at least N versions AND everything younger than T
    * days (manifest publish time). [[maintain]] expires past it; with
    * no policy declared, maintain never expires history (expiry is an
    * irreversible data deletion — it must be opted into, never a
    * default). Tagged versions and registered branch heads survive any
    * policy ([[vacuum]]'s standing rule). A streaming reader lagging
    * behind an expired offset hits the vacuumed-offset contract:
    * failOnDataLoss=true (default) fails loudly, =false resumes from
    * the oldest retained version — set keepDays past the longest
    * consumer outage you intend to tolerate.
    */
  def retention(spark: SparkSession,
      table: String): Option[(Option[Int], Option[Int])] =
    readSide(fs(spark, table), new Path(s"$table/retention")).map { txt =>
      val kv = txt.linesIterator.flatMap(_.split('=') match {
        case Array(k, v) => Some(k.trim -> v.trim.toInt)
        case _ => None
      }).toMap
      (kv.get("versions"), kv.get("days"))
    }

  def setRetention(spark: SparkSession, table: String,
      keepVersions: Option[Int], keepDays: Option[Int]): Unit = {
    require(keepVersions.nonEmpty || keepDays.nonEmpty,
      "retention needs versions and/or days; use dropRetention to retire")
    keepVersions.foreach(n => require(n >= 1,
      s"retention.versions must keep at least the head, got $n"))
    keepDays.foreach(d => require(d >= 0, s"retention.days negative: $d"))
    val body = keepVersions.map(n => s"versions=$n").toSeq ++
      keepDays.map(d => s"days=$d")
    if (!writeSide(fs(spark, table), new Path(s"$table/retention"),
        body.mkString("\n"), replace = true))
      throw new IllegalStateException(s"concurrent retention update on $table")
  }

  def dropRetention(spark: SparkSession, table: String): Unit =
    fs(spark, table).delete(new Path(s"$table/retention"), false): Unit

  /** The table's declared DELETE routing — `copy-on-write` (default:
    * files containing matches rewrite, [[deleteWhere]]) or
    * `merge-on-read` (position-delete sidecars, [[deleteWhereMor]]).
    * SQL `DELETE FROM` on a catalog table consults this; the Scala API
    * does not (a Scala delete picks its method, and [[merge]] is always
    * merge-on-read). Declared via
    * TBLPROPERTIES ('write.delete.mode') at DDL time or ALTER TABLE SET
    * TBLPROPERTIES after.
    */
  val CowMode = "copy-on-write"
  val MorMode = "merge-on-read"

  /** Per-command DML routing kinds (Iceberg's property family):
    * `delete` gates plain `DELETE FROM` AND the subquery-DELETE
    * row-level plan; `update`/`merge` gate SQL UPDATE / MERGE INTO. In
    * merge-on-read mode the command plans as a position-delta write
    * (sidecar + appended rows, [[graft.sources.v2.SnapshotDeltaOperation]]);
    * copy-on-write (default) keeps the group-based file rewrite.
    */
  val DmlKinds: Seq[String] = Seq("delete", "update", "merge")

  private def modeFile(table: String, kind: String): Path = {
    require(DmlKinds.contains(kind), s"unknown DML kind '$kind'")
    new Path(s"$table/${kind}mode")
  }

  def dmlMode(spark: SparkSession, table: String, kind: String): String =
    if (readSide(fs(spark, table), modeFile(table, kind)).exists(_.trim == MorMode))
      MorMode
    else CowMode

  def setDmlMode(spark: SparkSession, table: String, kind: String,
      mode: String): Unit = {
    require(mode == CowMode || mode == MorMode,
      s"write.$kind.mode must be '$CowMode' or '$MorMode', got '$mode'")
    val f = fs(spark, table)
    val p = modeFile(table, kind)
    if (mode == CowMode) f.delete(p, false): Unit // default = no file
    else if (!writeSide(f, p, mode, replace = true))
      throw new IllegalStateException(s"concurrent ${kind}mode update on $table")
  }

  def deleteMode(spark: SparkSession, table: String): String =
    dmlMode(spark, table, "delete")

  def setDeleteMode(spark: SparkSession, table: String, mode: String): Unit =
    setDmlMode(spark, table, "delete", mode)

  /** Apply the table's declared layout to an outgoing frame: the
    * PARTITION TRANSFORM's clustering value first (hidden partitioning
    * — [[PartitionSpecs]]), then the declared sort order within it;
    * range-repartition on the combined keys (disjoint per-file key
    * ranges — what makes the resulting footers PRUNABLE) + in-partition
    * sort (row-group locality within each file). A frame missing any
    * sort column skips the sort keys; one missing the transform column
    * skips the transform (conservative pass-through). Bucketed writes
    * keep their bucket routing and get only the in-partition sort — the
    * bucket IS the distribution there.
    */
  private def applySortSpec(df: DataFrame, table: String,
      bucketed: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = sortSpec(df.sparkSession, table)
    val sortCols =
      if (cols.isEmpty || !cols.forall(df.schema.fieldNames.contains)) Nil
      else cols.map(col)
    val partCol = PartitionSpecs.current(df.sparkSession, table)
      .flatMap(PartitionSpecs.transformColumn(_, df))
    val keys = partCol.toSeq ++ sortCols
    if (keys.isEmpty) df
    // bucketed: prefix the sort with the bucket tag, so the dynamic-
    // partition writer's required ordering (partition col first) is
    // already satisfied — otherwise it re-sorts by the partition col
    // alone and the secondary clustering is lost
    else if (bucketed) df.sortWithinPartitions(col(BucketDir) +: keys: _*)
    // a PARTITION TRANSFORM pins the partition count explicitly: an
    // explicit-N range exchange is user-specified, so AQE cannot
    // coalesce it away and collapse the value-aligned file boundaries
    // the layout promises (range boundaries land ON transform values,
    // so non-empty partitions ≈ distinct values, not N — a small write
    // still lands few files). Plain sort-order writes keep the adaptive
    // count (coalescing small clustered writes is pure win there).
    else if (partCol.isDefined)
      df.repartitionByRange(
          df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
        .sortWithinPartitions(keys: _*)
    else df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
  }

  /** Bucket id a file path carries, if the file sits in a
    * [[BucketDir]] directory.
    */
  private[graft] def bucketOfPath(path: String): Option[Int] = {
    val parent = new Path(path).getParent
    if (parent == null) None
    else parent.getName match {
      case s if s.startsWith(BucketDir + "=") =>
        scala.util.Try(s.substring(BucketDir.length + 1).toInt).toOption
      case _ => None
    }
  }

  /** Commit `df` BUCKETED by `column` (must be LongType) into `n`
    * hash buckets — the storage layout that makes two co-bucketed
    * snapshot tables join WITHOUT A SHUFFLE (Spark's storage-partitioned
    * join): every row lands in the file group of
    * `pmod(murmur3(key), n)`, recorded as a hive-style
    * `__graft_bucket=<i>` directory per commit, and the V2 scan reports
    * the grouping as `KeyGroupedPartitioning(bucket(n, column))` so
    * EnsureRequirements drops both exchanges of an equi-join on the
    * bucket column. The row router is Spark's own `hash()` (Murmur3,
    * seed 42) — exactly what the catalog's SQL-visible `bucket`
    * function computes, so a future shuffle-one-side plan stays
    * consistent.
    *
    * The first bucketed commit persists the spec (`bucketspec`,
    * exclusive create — concurrent first-writers race safely); every
    * later bucketed commit must match it. Appends validate the
    * committed schema strictly: a bucketed manifest must never mix
    * layouts. Maintenance rewrites (compact / z-order / COW DML) write
    * un-bucketed files; the read path then degrades gracefully to an
    * ordinary scan (grouping is reported only while EVERY manifest
    * file carries a bucket tag).
    */
  def commitBucketed(df0: DataFrame, table: String, column: String, n: Int,
      overwrite: Boolean = false, token: Option[String] = None): Long = {
    require(n > 0, s"numBuckets must be positive, got $n")
    val spark = df0.sparkSession
    token.foreach(t => committedVersionFor(spark, table, t)
      .foreach(v => return v))
    val (df, postPublish) = stampFieldIds(df0, table, overwrite)
    require(df.schema.fields.exists(fl => fl.name == column &&
        fl.dataType == org.apache.spark.sql.types.LongType),
      s"bucket column $column must be an existing BIGINT column of $df")
    val f = fs(spark, table)
    val createdSpec = ensureBucketSpec(spark, table, column, n)
    try {
      import org.apache.spark.sql.functions.{col, hash, lit, pmod}
      val dataDir = new Path(s"$table/data/${java.util.UUID.randomUUID}")
      applySortSpec(df.withColumn(BucketDir, pmod(hash(col(column)), lit(n)))
          .repartition(n, col(BucketDir)), table, bucketed = true)
        .write.options(bloomWriteOptions(spark, table))
        .partitionBy(BucketDir).parquet(dataDir.toString)
      var newFiles = f.listStatus(dataDir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(BucketDir + "="))
        .flatMap(d => f.listStatus(d.getPath).toSeq)
        .filter(_.getPath.getName.startsWith("part-"))
        .map(_.getPath.toString).sorted
      // a zero-row input emits NO files from the dynamic-partition
      // write (unlike commit()'s plain write, which always emits one
      // schema-carrying file) — publishing an empty manifest would
      // brick every read at the latest version, so anchor the schema
      // with one empty bucket-0 file, exactly like catalog CREATE does
      if (newFiles.isEmpty) {
        val anchorDir = new Path(dataDir, s"$BucketDir=0")
        df.limit(0).repartition(1).write.parquet(anchorDir.toString)
        newFiles = f.listStatus(anchorDir).toSeq
          .filter(_.getPath.getName.startsWith("part-"))
          .map(_.getPath.toString).sorted
      }
      FileStats.record(spark, table, newFiles)
      val v = publishNewFiles(spark, table, newFiles, overwrite, token,
        Some(df.schema), dataDir)
      postPublish()
      v
    } catch {
      case e: Throwable =>
        // a commit that never published must not leave the table's
        // write routing flipped to bucketed as a side effect — retire
        // the spec THIS call created (a concurrent same-spec committer
        // that slips through the window degrades gracefully: its files
        // are tagged but unreported, and its next commit re-creates
        // the spec)
        if (createdSpec) dropBucketSpec(spark, table)
        throw e
    }
  }

  /** Stage data files for an atomic CTAS/RTAS: written under the table
    * root but referenced by NO manifest until [[publishStaged]] — a
    * reader cannot observe a half-created table, and an abort reclaims
    * the directory with nothing to undo.
    */
  private[sources] def stageData(df: DataFrame, table: String,
      recordStats: Boolean = true): (Seq[String], Path) =
    writeData(df, table, recordStats)

  /** Stage data files BUCKETED by `column` into `n` hash buckets — the
    * CTAS/RTAS counterpart of [[commitBucketed]]'s data write: rows
    * route by `pmod(murmur3(key), n)` into `__graft_bucket=<i>`
    * directories, referenced by no manifest until the staged publish.
    * A zero-row source stages one empty bucket-0 schema anchor so the
    * created table is readable AND every manifest file stays
    * bucket-tagged (the all-files-tagged gate for key-grouped scans).
    * The caller persists the bucket spec at publish time.
    */
  private[sources] def stageDataBucketed(df0: DataFrame, table: String,
      column: String, n: Int): (Seq[String], Path) = {
    require(n > 0, s"numBuckets must be positive, got $n")
    // eager hook for the same reason as writeData: only birth init can
    // fire here, harmless on a fresh CTAS dir
    val (df, postStage) = stampFieldIds(df0, table, fullRewrite = false)
    postStage()
    require(df.schema.fields.exists(fl => fl.name == column &&
        fl.dataType == org.apache.spark.sql.types.LongType),
      s"bucket column $column must be an existing BIGINT column")
    val spark = df.sparkSession
    val f = fs(spark, table)
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val dataDir = new Path(s"$table/data/${java.util.UUID.randomUUID}")
    applySortSpec(df.withColumn(BucketDir, pmod(hash(col(column)), lit(n)))
        .repartition(n, col(BucketDir)), table, bucketed = true)
      .write.options(bloomWriteOptions(spark, table))
      .partitionBy(BucketDir).parquet(dataDir.toString)
    var newFiles = f.listStatus(dataDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(BucketDir + "="))
      .flatMap(d => f.listStatus(d.getPath).toSeq)
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    if (newFiles.isEmpty) {
      val anchorDir = new Path(dataDir, s"$BucketDir=0")
      df.limit(0).repartition(1).write.parquet(anchorDir.toString)
      newFiles = f.listStatus(anchorDir).toSeq
        .filter(_.getPath.getName.startsWith("part-"))
        .map(_.getPath.toString).sorted
    }
    FileStats.record(spark, table, newFiles)
    (newFiles, dataDir)
  }

  /** Publish staged files as the table's next snapshot — the commit
    * step of atomic CTAS (`replace = false`: the table must still not
    * exist at publish time; losing the create race to a concurrent
    * CREATE fails with TableAlreadyExists, never overwrites) and
    * atomic RTAS (`replace = true`: an overwrite version at head+1;
    * without `orCreate` the table must exist, REPLACE TABLE's
    * contract). The caller reclaims staged files on failure.
    */
  private[sources] def publishStaged(spark: SparkSession, table: String,
      files: Seq[String], replace: Boolean, orCreate: Boolean): Long =
    // RTAS re-bases the table's shape on the replacement files: a stale
    // ALTER override must not ghost columns onto them
    claimNext(spark, table, "staged publish", won = prev =>
        if (replace && prev.nonEmpty) retireDeclaredSchema(spark, table)) { prev =>
      if (!replace && prev.nonEmpty)
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
          Seq(table))
      if (replace && !orCreate && prev.isEmpty)
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          Seq(table))
      Right(Manifest(None, files))
    }

  /** RESTORE TO VERSION AS OF `v` (Delta's RESTORE): publish version
    * `v`'s file list as a NEW version at head+1. Metadata-only — the
    * restored manifest references `v`'s immutable data files, nothing
    * is rewritten or copied, so undoing a bad delete on a 100 TB table
    * costs one manifest write. History is preserved: the versions
    * being rolled past stay time-travelable (and a change feed across
    * the restore reports exactly the rows it brought back or dropped).
    * Restoring to the current head is a no-op. The token pins (target,
    * head) so a replayed restore over the same head returns the same
    * version, while a later restore to the same target after new
    * commits legitimately re-publishes. A lost version race retries
    * against the new head (the file list is `v`'s either way — restore
    * REPLACES the current set by definition, so there is nothing to
    * rebase; interleaved commits stay in history, un-restored).
    */
  def restore(spark: SparkSession, table: String, v: Long): Long =
    claimNext(spark, table, "restore") { vs =>
      require(vs.contains(v), s"version $v not in $vs")
      val head = vs.last
      // semantic no-op: the head already carries exactly v's file AND
      // sidecar sets (v == head, or a restore to v already landed) —
      // re-issuing the restore after a success or a crash publishes
      // nothing. Otherwise v's data, position (D) and equality (E)
      // lines restore verbatim: E scopes are absolute versions <= v over
      // exactly v's file set, so the restored view is v's resolved view
      // bit-for-bit.
      val (m, h) = (manifest(spark, table, v), manifest(spark, table, head))
      val token = s"restore-of-v$v-over-v$head"
      if (h.files.toSet == m.files.toSet && h.deletes.toSet == m.deletes.toSet &&
          h.eqDeletes.toSet == m.eqDeletes.toSet) Left(head)
      else committedVersionFor(spark, table, token).toLeft(m.copy(token = Some(token)))
    }

  /** Transactional small-file compaction: rewrite the CURRENT snapshot
    * into `numFiles` files and publish as a new (overwrite) version —
    * rows unchanged, history intact, readers of older versions
    * unaffected. The token pins the source version, so re-running
    * compaction against an unchanged table is a no-op. A concurrent
    * append REBASES into the compacted manifest (appended files carry
    * alongside the compacted ones — the overwrite-commit path would
    * instead have silently dropped an append that won the version race).
    */
  def compact(spark: SparkSession, table: String, numFiles: Int = 1): Long = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"nothing to compact in $table")
    val src = vs.last
    // latest version already is a compaction → nothing new to fold
    if (commitToken(spark, table, src).exists(_.startsWith("compact-of-"))) src
    else {
      val srcFiles = manifestFiles(spark, table, src)
      // a whole-table compaction rewrites EVERY live file, so it is a
      // field-id ADOPTION point for tables that predate the assignment
      // (writeData stamps once state exists) — after it, metadata-only
      // RENAME/DROP COLUMN become available
      val adopting = FieldIds.load(spark, table).isEmpty
      if (adopting)
        FieldIds.init(spark, table, read(spark, table, Some(src)).schema): Unit
      try {
        // read() resolves outstanding MOR deletes, so the rewrite
        // materializes the live rows; the folded-in sidecars drop from
        // the published manifest (compaction doubles as a delete purge)
        val (newFiles, dataDir) = writeData(
          read(spark, table, Some(src)).repartition(numFiles), table)
        // EVERY src file rewrites through the fully-resolved read(), so
        // position AND equality sidecars fold in and their lines drop —
        // compaction doubles as both purges
        publishRebase(spark, table, src, srcFiles, srcFiles.toSet,
          newFiles, "compact", Seq(dataDir), token = Some(s"compact-of-v$src"),
          removedEq = manifestEqDeletes(spark, table, src).map(_._2).toSet)
      } catch {
        // the ADOPTION init must not outlive a failed rewrite: the old
        // unstamped files stayed live, so a surviving state file would
        // claim an all-files-stamped invariant they violate (and a
        // later RENAME would be honored unsoundly)
        case scala.util.control.NonFatal(e) =>
          if (adopting) FieldIds.deleteState(spark, table)
          throw e
      }
    }
  }

  /** Selective small-files compaction (Iceberg's rewrite_data_files
    * bin-packing shape): fold only the files BELOW `targetBytes` into
    * ~target-sized replacements and carry everything else by path.
    * This is the continuous-ingest maintenance primitive — streaming
    * appends and frequent micro-commits shed small files constantly,
    * and at 100 TB the whole-table [[compact]] is a full rewrite while
    * this touches exactly the small tail (cost ∝ small-file bytes).
    * The tail is [[smallTail]]'s and the rewrite [[foldRewrite]]'s: the
    * folded files read through their live view, and the position
    * sidecars that referenced only folded (or dead) files drop.
    *
    * Concurrent appends rebase in; anything that REMOVED a chosen file
    * (DML, another maintenance op) or deleted rows of one aborts loudly
    * and reclaims. Returns the new version, or the current one when
    * there was nothing to fold.
    */
  def binPack(spark: SparkSession, table: String,
      targetBytes: Long = DefaultTargetBytes, minInputFiles: Int = 2): Long = {
    require(targetBytes > 0 && minInputFiles >= 2,
      s"binPack needs targetBytes > 0 and minInputFiles >= 2")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"nothing to bin-pack in $table")
    val src = vs.last
    requireNoEqDeletes(spark, table, "binPack", src)
    val smalls = smallTail(spark, table, manifestFiles(spark, table, src),
      targetBytes, minInputFiles)
    if (smalls.isEmpty) src
    else foldRewrite(spark, table, src, smalls.toSet, targetBytes,
      "binpack", s"binpack-of-v$src")
  }

  /** The default size a maintenance rewrite packs its outputs to. */
  private val DefaultTargetBytes = 128L << 20

  /** The small-file tail of `files`: those under `targetBytes`, when at
    * least `minInputFiles` of them share a group. An unbucketed table is
    * one group; a bucketed one groups by bucket tag (a bucket with fewer
    * smalls carries, and so do untagged files). Sizes come from one
    * driver listing; a file that cannot be stat-ed is not small.
    */
  private def smallTail(spark: SparkSession, table: String, files: Seq[String],
      targetBytes: Long, minInputFiles: Int): Seq[String] = {
    val f = fs(spark, table)
    val smalls = files.filter { p =>
      try f.getFileStatus(new Path(p)).getLen < targetBytes
      catch { case scala.util.control.NonFatal(_) => false }
    }
    bucketSpec(spark, table) match {
      case Some(_) =>
        smalls.groupBy(bucketOfPath).toSeq.sortBy(_._1).collect {
          case (Some(_), g) if g.size >= minInputFiles => g }.flatten
      case None if smalls.size >= minInputFiles => smalls
      case None => Nil
    }
  }

  /** The one maintenance rewrite behind [[maintain]], [[purgeEqDeletes]],
    * [[purgeDeletes]] and [[binPack]]: the files `fold` of version
    * `src` read once through the fully resolved view (position and
    * equality sidecars applied, as [[read]] resolves them), bin-packed
    * to ceil(bytes / targetBytes) outputs — per bucket on a bucketed
    * table, each group under its own bucket directory so the layout
    * stays fully tagged — and published as ONE append-rebase commit
    * under `token`. The commit drops every equality line (each caller
    * folds every file a key hits, or has none outstanding) and, by
    * [[publishRebase]]'s retire rule, every position line whose
    * referenced files are all folded or no longer live; an empty `fold`
    * publishes only those drops. The rewrite is row-preserving, so
    * `token` must be a maintenance token.
    *
    * The folded files read TABLE-AWARE and write id-stamped (through
    * [[writeData]]): after a RENAME/DROP they resolve by id onto the
    * declared names, and the replacements keep FieldIds' all-files-
    * stamped invariant. A declared order re-clusters them, like every
    * write.
    */
  private def foldRewrite(spark: SparkSession, table: String, src: Long,
      fold: Set[String], targetBytes: Long, op: String, token: String): Long = {
    val m = manifest(spark, table, src)
    val members = m.files.filter(fold)
    val groups: Seq[(Option[Int], Seq[String])] =
      if (bucketSpec(spark, table).isEmpty) Seq((None, members))
      else members.groupBy(bucketOfPath).toSeq.sortBy(_._1)
    val f = fs(spark, table)
    val dataDir = new Path(s"$table/data/${java.util.UUID.randomUUID}")
    val reader = readTableFiles(spark, table, _: Seq[String])
    val added = groups.filter(_._2.nonEmpty).flatMap { case (bucket, files) =>
      val bytes = files.map { p =>
        try f.getFileStatus(new Path(p)).getLen
        catch { case scala.util.control.NonFatal(_) => 0L }
      }.sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val resolved =
        if (m.eqDeletes.isEmpty) liveView(spark, table, files, m.deletes, reader)
        else applyEqDeletes(spark, table, src, files, m.deletes, m.eqDeletes, reader)
      // bucket-tagged files carry no bucket COLUMN (it lives in the
      // path), so writing a bucket's rows under the same tag directory
      // preserves the layout exactly
      writeData(resolved.coalesce(n), table, recordStats = false,
        dir = Some(bucket.fold(dataDir)(b => new Path(dataDir, s"$BucketDir=$b"))))._1
    }
    FileStats.record(spark, table, added)
    publishRebase(spark, table, src, m.files, members.toSet, added, op, Seq(dataDir),
      token = Some(token), removedEq = m.eqDeletes.map(_._2).toSet)
  }

  /** Transactional OPTIMIZE ZORDER BY (xCol, yCol): rewrite the CURRENT
    * snapshot with rows clustered along the 2-D Morton curve and publish
    * as a new version — rows unchanged, history intact (the same
    * contract as `compact`, which this is the multi-dimensional layout
    * sibling of). Each dimension is linearly scaled into the 16-bit
    * z-domain by its own snapshot-wide min/max (one aggregate — no
    * second pass over the data beyond the rewrite itself), so arbitrary
    * numeric ranges cluster; the rewrite's footer stats (harvested by
    * `writeData` like every write) then give each file a compact range
    * in BOTH dimensions, which is what makes `readWhere`'s manifest
    * pruning effective for 2-D box predicates (FileStatsSpec pins the
    * effect). NULLs in either dimension sort first and are preserved.
    * Re-running with the same columns against an unchanged table is a
    * no-op; a concurrent append REBASES into the optimized manifest.
    */
  def optimizeZOrder(spark: SparkSession, table: String,
      xCol: String, yCol: String, numFiles: Int = 8): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, floor, least, lit, max, min, when}
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"nothing to optimize in $table")
    val src = vs.last
    // latest version already is this clustering → nothing new to lay out
    if (commitToken(spark, table, src).exists(t => t.startsWith("zorder-of-v") &&
        t.endsWith(s":$xCol,$yCol"))) src
    else {
      val df = read(spark, table, Some(src))
      val r = df.agg(
        min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
        min(col(yCol)).cast("double"), max(col(yCol)).cast("double")).head()
      def scale(c: String, i: Int) = {
        // all-NULL dimension (or empty table): span degenerates to 1 so
        // the curve reduces to a sort on the other dimension
        val lo = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
        val hi = if (r.isNullAt(i + 1)) lo + 1.0 else r.getDouble(i + 1)
        val span = if (hi > lo) hi - lo else 1.0
        // NULL must stay NULL through the clamp: Spark's least() SKIPS
        // nulls, so a bare least(floor(NULL…), 65535) would z-place
        // NULL rows at the TOP of the dimension — widening every
        // NULL-holding file's range to the max and defeating exactly
        // the pruning this rewrite exists to create. The explicit
        // when-guard keeps zkey NULL so coalesce(…, -1) clusters NULLs
        // first, per the contract above.
        when(col(c).isNull, lit(null).cast("long")).otherwise(
          least(floor((col(c).cast("double") - lit(lo)) / lit(span) * 65536),
            lit(65535L)).cast("long"))
      }
      // NULL in either dim → NULL key → clusters first under range
      // partitioning; coalesce keeps the key sortable rather than lost
      val zkey = coalesce(
        graft.functions.ZOrder.zorder2(scale(xCol, 0), scale(yCol, 2)),
        lit(-1L))
      val srcFiles = manifestFiles(spark, table, src)
      // the Morton layout IS this rewrite's point: a declared write
      // order must not re-cluster it away
      val (newFiles, dataDir) = writeData(
        df.repartitionByRange(numFiles, zkey).sortWithinPartitions(zkey),
        table, applyDeclaredSort = false)
      // df came from read() = the resolved live view; the folded-in
      // sidecars drop with the files they referenced
      publishRebase(spark, table, src, srcFiles, srcFiles.toSet,
        newFiles, "zorder", Seq(dataDir),
        token = Some(s"zorder-of-v$src:$xCol,$yCol"),
        removedEq = manifestEqDeletes(spark, table, src).map(_._2).toSet)
    }
  }

  /** Resolve TIMESTAMP AS OF: the newest committed version whose
    * manifest was published at or before `tsMillis` (Iceberg's
    * snapshot-at-time semantics). Driver-side metadata only — one
    * file-status per retained version, no data touch. Fails loudly when
    * the timestamp precedes the first retained commit (after a vacuum
    * the earliest answerable time moves forward — silently returning
    * the oldest survivor would misattribute rows to a version that
    * did not exist yet).
    */
  def versionAsOfTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): Long = {
    val f = fs(spark, table)
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val at = vs.filter(v =>
      f.getFileStatus(new Path(s"$table/manifest-v$v.json"))
        .getModificationTime <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis precedes the first retained commit of $table")
    at.max
  }

  /** The data files the snapshot AS OF `asOf` (default: latest)
    * references — the manifest-resolution step connectors build on
    * (the DataSourceV2 provider resolves here, then hands the list to
    * Spark's parquet scan so pushdown/pruning are untouched).
    */
  def dataFiles(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Seq[String] = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    manifestFiles(spark, table, v)
  }

  /** One manifest read resolving every line kind — the shared first
    * step of every read path (data files, position-delete sidecars,
    * equality-delete sidecars with their scopes).
    */
  private[sources] def resolvedLists(spark: SparkSession, table: String,
      asOf: Option[Long]): (Long, Seq[String], Seq[String], Seq[(Long, String)]) = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val m = manifest(spark, table, v)
    (v, m.files, m.deletes, m.eqDeletes)
  }

  /** Schema-less parquet read of the engine's OWN immutable files,
    * without the inference JOB when every footer agrees: Spark 4 runs a
    * distributed footer pass per schema-less `spark.read.parquet`, and
    * the DML/feed machinery plans several such reads per operation —
    * measured at ~0.15 s of pure job overhead each (DmlProfile). The
    * driver-side footer memo ([[FooterSchemas]]) serves the schema
    * instead; files that DISAGREE (a mid-history schema evolution) fall
    * back to Spark's own inference, preserving its merge/first-file
    * semantics exactly. Inference-boundary rule: field ids only ever
    * enter a read schema from the DECLARED override, so the resolved
    * schema is stripped either way — see [[FieldIds.strip]].
    */
  private def readInferred(spark: SparkSession, files: Seq[String],
      mergeSchema: Boolean = false): DataFrame =
    FooterSchemas.uniform(spark, files) match {
      case Some(s) => spark.read.schema(FieldIds.strip(s)).parquet(files: _*)
      case None =>
        val raw = spark.read
          .option("mergeSchema", mergeSchema.toString).parquet(files: _*)
        if (!FieldIds.hasIds(raw.schema)) raw
        else spark.read.option("mergeSchema", mergeSchema.toString)
          .schema(FieldIds.strip(raw.schema)).parquet(files: _*)
    }

  /** Read a snapshot (latest, or AS OF `asOf`). The file list is pinned
    * here, at plan time — concurrent commits are invisible.
    * `mergeSchema` unions the footers' schemas when commits evolved the
    * schema (added columns read as null in older files).
    */
  def read(spark: SparkSession, table: String, asOf: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val (v, files, dels, eqs) = resolvedLists(spark, table, asOf)
    def reader(fs0: Seq[String]): DataFrame = declaredSchema(spark, table) match {
      // ALTER-extended table: project every file onto the declared
      // superset schema by name (absent columns = typed NULLs)
      case Some(sch) => spark.read.schema(sch).parquet(fs0: _*)
      case None => readInferred(spark, fs0, mergeSchema)
    }
    if (files.isEmpty) spark.emptyDataFrame
    else if (eqs.isEmpty) liveView(spark, table, files, dels, reader)
    else applyEqDeletes(spark, table, v, files, dels, eqs, reader)
  }

  // reserved internal column names of the equality-delete resolution
  private val EqFileCol = "__ge_file"
  private val EqAddVCol = "__ge_addv"
  private val EqScopeCol = "__ge_scope"

  /** Per-file ADD VERSION (the version whose manifest first references
    * the file) for every file in version `v`'s manifest — the quantity
    * equality-delete scopes compare against. Driver-side walk of the
    * retained manifests up to `v` (manifest-scale, not data-scale); a
    * file already present in the OLDEST retained manifest maps to that
    * version, which is exact while history is un-vacuumed — and vacuum
    * refuses to run under an outstanding equality delete precisely so
    * this derivation stays exact.
    */
  // memo for fileAddVersions: manifests are immutable once published,
  // and ANY history mutation (commit, vacuum's prefix expiry, restore)
  // changes the retained-version list, so (table, v, versions) is
  // a sound key — EXCEPT across a DROP + re-CREATE at the same path,
  // which reproduces the same version NUMBERS (1..N) with new content.
  // Two guards close that (round-8 review finding): the key carries the
  // manifest FILE's identity (mtime+len — a recreated manifest is a new
  // write), and [[drop]]/renameTable invalidate the table's entries
  // in-JVM. The versions Seq itself is in the key (not its Int hash) so
  // a hash collision can never alias two histories. A per-commit CDC
  // window walk would otherwise be steps x history manifest reads
  // (review finding, round 8).
  private[graft] val addVMemo = graft.Memo[
    (String, Long, Seq[Long], (Long, Long)), Map[String, Long]](64)(k => Seq(k._1))

  /** Memo of each equality sidecar's sorted key-column names. Sidecar
    * files are immutable and live under UUID dirs, so the path is a
    * sound key. Saves a driver footer read per sidecar per probe — the
    * streaming CDF source and changeFeedByVersion probe per
    * step/micro-batch (round-8 review finding).
    */
  private[graft] val eqKeySetMemo = graft.Memo[String, Seq[String]](4096)(Seq(_))

  private def eqSidecarKeys(spark: SparkSession, path: String): Seq[String] =
    eqKeySetMemo(path) {
      // driver-side footer read — a schema-less spark.read pays a job
      scala.util.Try(FooterSchemas.of(spark, path).fieldNames.toSeq)
        .getOrElse(spark.read.parquet(path).schema.fieldNames.toSeq).sorted
    }

  private def fileAddVersions(spark: SparkSession, table: String,
      v: Long): Map[String, Long] = {
    val vs = versions(spark, table)
    val st = fs(spark, table).getFileStatus(new Path(s"$table/manifest-v$v.json"))
    addVMemo((table, v, vs, (st.getModificationTime, st.getLen))) {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      vs.filter(_ <= v).sorted.foreach { w =>
        manifestFiles(spark, table, w).foreach { p =>
          if (!m.contains(p)) m(p) = w
        }
      }
      // only the latest history state of a table can be live: any
      // commit / vacuum / restore changed `vs`, so drop this table's
      // entries (under any spelling of its path) under other version
      // lists (a long-lived streaming-CDF JVM probing per micro-batch
      // would otherwise accrete one dead full-size Map per commit)
      val n = normPath(table)
      addVMemo.removeWhere(k => k._3 != vs && normPath(k._1) == n)
      m.toMap
    }
  }

  /** The key-column names every outstanding equality sidecar uses —
    * one shared set by [[upsertEq]]'s contract (validated at commit, so
    * the read path stays a single anti-join).
    */
  private def eqKeyColumns(spark: SparkSession,
      eqs: Seq[(Long, String)]): Seq[String] =
    eqSidecarKeys(spark, eqs.head._2)

  /** Resolve the EQUALITY-DELETE view: rows of files ADDED AT OR BEFORE
    * an outstanding sidecar's scope whose key columns match one of its
    * key rows are subtracted; files appended after every scope read
    * clean. The data side carries its file's add-version (a
    * file→version map over `_metadata.file_path`). While the sidecars
    * fit `graft.snapshot.eqDeleteBroadcastBytes` and the keys have
    * JVM-exact equality, the key rows are read on the driver and the
    * subtraction is one predicate on the scan ([[eqKeySet]]); otherwise
    * it is one anti-join against the union of sidecars with their
    * scopes, broadcast within the bound. Position deletes are applied
    * first (the two forms compose).
    */
  private def applyEqDeletes(spark: SparkSession, table: String, v: Long,
      files: Seq[String], dels: Seq[String], eqs: Seq[(Long, String)],
      reader: Seq[String] => DataFrame): DataFrame = {
    val addV = fileAddVersions(spark, table, v)
    val maxScope = eqs.map(_._1).max
    // unknown files (never in a retained manifest — impossible outside
    // corruption) fall conservatively IN scope
    val (affected, clean) =
      files.partition(p => addV.getOrElse(p, 0L) <= maxScope)
    if (affected.isEmpty) return liveView(spark, table, files, dels, reader)
    val sample = reader(affected.take(1))
    require(!sample.columns.exists(c =>
        c == EqFileCol || c == EqAddVCol || c == EqScopeCol),
      s"data schema must not contain reserved columns $EqFileCol/$EqAddVCol/$EqScopeCol")
    val keys = eqKeyColumns(spark, eqs)
    require(keys.forall(sample.columns.contains),
      s"equality-delete keys $keys not all present in the table schema")
    val withV = withAddVersions(spark, table,
      liveView(spark, table, affected, dels, reader, fileColumn = Some(EqFileCol)),
      EqFileCol, affected, addV)
    val resolved = eqRows(spark, withV, eqs, deleted = false).drop(EqFileCol, EqAddVCol)
    if (clean.isEmpty) resolved
    else liveView(spark, table, clean, dels, reader).unionByName(resolved)
  }

  /** The rows of `view` (carrying [[EqAddVCol]]) that `eqs` delete, or
    * with `deleted = false` the rows they keep: the scan predicate when
    * the key rows fit on the driver ([[eqKeySet]]), otherwise a join
    * against the sidecars with their scopes, broadcast within the bound.
    */
  private def eqRows(spark: SparkSession, view: DataFrame,
      eqs: Seq[(Long, String)], deleted: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val keys = eqKeyColumns(spark, eqs)
    eqKeySet(spark, eqs, keys, view.schema) match {
      case Some(set) =>
        view.filter(if (deleted) eqKeyDeleted(keys, set) else !eqKeyDeleted(keys, set))
      case None =>
        val eqFrame = eqSideFrame(spark, eqs)
        val eqSide = if (eqFits(spark, eqs)) broadcast(eqFrame) else eqFrame
        view.join(eqSide, eqJoinCond(view, eqSide, keys),
          if (deleted) "left_semi" else "left_anti")
    }
  }

  /** The union of the equality sidecars with their scopes — the delete
    * side of the anti-join route.
    */
  private def eqSideFrame(spark: SparkSession, eqs: Seq[(Long, String)]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    eqs.map { case (scope, p) =>
      readInferred(spark, Seq(p)).withColumn(EqScopeCol, lit(scope)) }
      .reduce(_ unionByName _)
  }

  private def eqJoinCond(data: DataFrame, side: DataFrame,
      keys: Seq[String]): org.apache.spark.sql.Column =
    keys.map(k => data(k) === side(k)).reduce(_ && _) &&
      data(EqAddVCol) <= side(EqScopeCol)

  /** True when the equality sidecars' bytes on disk fit
    * `graft.snapshot.eqDeleteBroadcastBytes` (64 MB default). An
    * unstat-able sidecar counts as over.
    */
  private def eqFits(spark: SparkSession, eqs: Seq[(Long, String)]): Boolean = {
    val threshold = spark.conf
      .get("graft.snapshot.eqDeleteBroadcastBytes", (64L << 20).toString).toLong
    var bytes = 0L
    eqs.foreach { case (_, p) =>
      val len =
        try new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(new Path(p)).getLen
        catch { case scala.util.control.NonFatal(_) => return false }
      bytes += len
      if (bytes > threshold) return false
    }
    true
  }

  /** The key rows of `eqs`, read on the driver (no Spark job), each
    * with the largest scope any sidecar gives it — the scan-predicate
    * route of the equality delete. None, so the caller keeps the
    * anti-join, when the sidecars exceed the bound, when a key's type
    * differs between `dataSchema` and a sidecar or lacks JVM-exact
    * equality ([[EqKeySet.supports]]), or when a sidecar cannot be read
    * there. Key rows with a NULL component are dropped: they match
    * nothing in the join either.
    */
  private def eqKeySet(spark: SparkSession, eqs: Seq[(Long, String)],
      keys: Seq[String], dataSchema: org.apache.spark.sql.types.StructType)
      : Option[EqKeySet] = {
    val fields = keys.flatMap(k => dataSchema.find(_.name == k))
    if (fields.size != keys.size || !fields.forall(f => EqKeySet.supports(f.dataType)) ||
        !eqFits(spark, eqs)) return None
    try {
      val sideSchemas = eqs.map { case (_, p) => FooterSchemas.of(spark, p) }
      if (!sideSchemas.forall(s => fields.forall(f =>
          s.find(_.name == f.name).exists(_.dataType == f.dataType)))) return None
      val types = fields.map(_.dataType)
      val scopes = new java.util.HashMap[Any, java.lang.Long]()
      eqs.foreach { case (scope, p) =>
        PositionDeletes.readOnDriver(spark, p)(PositionDeletes.eachRow(_, keys) { g =>
          val parts = types.indices.map(i => EqKeySet.value(types(i), g, i))
          if (!parts.contains(null)) {
            val key: Any = if (parts.size == 1) parts.head else parts.toList
            val had = scopes.get(key)
            if (had == null || had.longValue < scope) scopes.put(key, scope)
          }
        })
      }
      Some(new EqKeySet(eqs.sortBy(e => (e._2, e._1)), scopes.size,
        spark.sparkContext.broadcast(scopes)))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[EqKeyDeleted]] over the `keys` columns and an add-version column
    * (the scanned file's, or a constant below every scope when the
    * scope test is vacuous).
    */
  private def eqKeyDeleted(keys: Seq[String], set: EqKeySet,
      addV: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.col(EqAddVCol)): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftShim
    GraftShim.column(EqKeyDeleted(
      (keys.map(org.apache.spark.sql.functions.col) :+ addV).map(GraftShim.expression), set))
  }

  /** `base`, a scan of `files` whose `fileCol` holds each row's
    * `_metadata.file_path`, with that file's ADD VERSION
    * ([[EqAddVCol]]) — the input of every equality-scope comparison.
    * The add-version map is driver-held; under
    * `graft.snapshot.addVMapLiteralMaxFiles` entries it attaches as a
    * MAP-LITERAL lookup (one projection, zero extra exchanges — the
    * former per-read broadcast of a tiny file→version frame was a whole
    * AQE stage job of pure overhead), above it as the broadcast join (a
    * map literal over 10⁵ files would bloat the plan).
    */
  private def withAddVersions(spark: SparkSession, table: String,
      base: DataFrame, fileCol: String, files: Seq[String],
      addV: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, element_at, typedLit}
    val entries = files.map(p => TablePaths.fileId(p) -> addV(p))
    val cap = spark.conf
      .get("graft.snapshot.addVMapLiteralMaxFiles", "4096").toInt
    if (entries.size <= cap)
      base.withColumn(EqAddVCol,
        element_at(typedLit(entries.toMap), col(fileCol)))
    else {
      import spark.implicits._
      base.join(broadcast(entries.toDF(fileCol, EqAddVCol)), Seq(fileCol))
    }
  }

  /** Resolve the MERGE-ON-READ view of `files`: data files untouched by
    * any position-delete sidecar read exactly as before (the hot path —
    * zero overhead when `dels` is empty or names other files); files
    * the sidecars reference read with their deleted positions
    * subtracted on (`_metadata.file_path`, `_metadata.row_index`) by
    * [[PositionDeletes.live]]: a predicate on their scan while the
    * decoded positions fit `graft.snapshot.deleteBroadcastBytes` (the
    * sidecars are read on the driver, no job), a shuffle anti-join
    * above it. `fileColumn` optionally retains each row's source path
    * (the DML probes need it) — taken from the same `_metadata` column
    * on BOTH branches so path formats always agree.
    */
  private def liveView(spark: SparkSession, table: String,
      files: Seq[String], dels: Seq[String],
      reader: Seq[String] => DataFrame,
      fileColumn: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    def withFile(df: DataFrame): DataFrame = fileColumn match {
      case Some(c) => df.select(col("*"), col("_metadata.file_path").as(c))
      case None => df
    }
    if (dels.isEmpty) withFile(reader(files))
    else {
      val touched = PositionDeletes.referencedDataFiles(spark, dels).toSet
      val (hit, plain) = files.partition(touched)
      if (hit.isEmpty) withFile(reader(files))
      else {
        val resolved0 = PositionDeletes.live(spark,
          PositionDeletes.withRowIdentity(reader(hit)), dels,
          keepIdentity = fileColumn.isDefined)
        val resolved = fileColumn match {
          case Some(c) => resolved0
            .withColumnRenamed(PositionDeletes.MetaFile, c)
            .drop(PositionDeletes.MetaPos)
          case None => resolved0
        }
        if (plain.isEmpty) resolved
        else withFile(reader(plain)).unionByName(resolved)
      }
    }
  }

  /** Selective read with MANIFEST-LEVEL data skipping: the version's
    * file list is pruned against `predicate` using the footer-derived
    * per-file column ranges ([[FileStats]]) BEFORE the scan, so a
    * selective query on a huge table opens only the files whose ranges
    * can match — the Delta/Iceberg stats-pruning shape, one level above
    * parquet's own row-group pruning (which still applies inside the
    * surviving files). The predicate is then applied row-level as
    * usual; skipping is an optimization, never a correctness
    * dependency (files without stats always survive).
    */
  def readWhere(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column,
      asOf: Option[Long] = None): DataFrame = {
    val (v, files, dels, eqs) = resolvedLists(spark, table, asOf)
    val kept = FileStats.prune(spark, table, files, predicate)
    if (kept.isEmpty) read(spark, table, asOf).filter(predicate).limit(0)
    else if (eqs.isEmpty) liveView(spark, table, kept, dels,
      fs0 => readInferred(spark, fs0)).filter(predicate)
    // file pruning and equality subtraction commute: pruning keeps
    // whole files, the subtraction removes rows within them
    else applyEqDeletes(spark, table, v, kept, dels, eqs,
      fs0 => readInferred(spark, fs0)).filter(predicate)
  }

  /** The committed versions `from`..`to` of `table`, ascending: the
    * chain every feed walks. Both bounds must be retained.
    */
  private def chainOf(spark: SparkSession, table: String, from: Long,
      to: Long): Seq[Long] = {
    val vs = versions(spark, table)
    require(vs.contains(from) && vs.contains(to) && from <= to,
      s"need committed versions $from <= $to in $vs")
    vs.filter(v => v >= from && v <= to)
  }

  /** One step of the version walk, `from` -> `to`: the data files the
    * step removed, added and carried, both
    * ends' position and equality sidecar lists, and whether `to` is a
    * row-preserving maintenance commit (compact / z-order / bin-pack /
    * either purge, by its commit token).
    */
  private[sources] final case class Step(from: Long, to: Long,
      maintenance: Boolean,
      removed: Seq[String], added: Seq[String], carried: Seq[String],
      fromDeletes: Seq[String], toDeletes: Seq[String],
      fromEqDeletes: Seq[(Long, String)], toEqDeletes: Seq[(Long, String)]) {
    def deletesOnlyFrom: Seq[String] = onlyIn(fromDeletes, toDeletes)
    def deletesOnlyTo: Seq[String] = onlyIn(toDeletes, fromDeletes)
    def eqOnlyFrom: Seq[(Long, String)] = onlyIn(fromEqDeletes, toEqDeletes)
    def eqOnlyTo: Seq[(Long, String)] = onlyIn(toEqDeletes, fromEqDeletes)
    def deletesChanged: Boolean = deletesOnlyFrom.nonEmpty || deletesOnlyTo.nonEmpty
    def eqChanged: Boolean = eqOnlyFrom.nonEmpty || eqOnlyTo.nonEmpty
    /** No data file removed and no sidecar changed: the step only appended. */
    def appendOnly: Boolean = removed.isEmpty && !deletesChanged && !eqChanged
  }

  private def onlyIn[A](xs: Seq[A], ys: Seq[A]): Seq[A] = xs.filterNot(ys.toSet)

  /** THE VERSION-STEP WALK: each adjacent pair of `chain` as a [[Step]],
    * every manifest read once. [[changes]], [[changeFeed]] (one
    * from -> to step), [[changeFeedByVersion]] and both streaming
    * sources consume it, each with its own skip policy.
    */
  private[sources] def steps(spark: SparkSession, table: String,
      chain: Seq[Long]): Seq[Step] = {
    val ms = chain.distinct.map(v => v -> manifest(spark, table, v)).toMap
    val sets = ms.map { case (v, m) => v -> m.files.toSet }
    chain.sliding(2).collect { case Seq(a, b) =>
      val (ma, mb) = (ms(a), ms(b))
      Step(a, b, isMaintenanceToken(mb.token),
        removed = ma.files.filterNot(sets(b)),
        added = mb.files.filterNot(sets(a)),
        carried = ma.files.filter(sets(b)),
        ma.deletes, mb.deletes, ma.eqDeletes, mb.eqDeletes)
    }.toSeq
  }

  /** File-granular change-data-feed: the rows ADDED between committed
    * versions `from` and `to`, read directly from the data files each
    * APPEND step introduced. No anti-join, no full-table diff — at
    * 100 TB the CDC read touches only the appended files (Delta/
    * Iceberg's incremental-read shape for append-only history).
    *
    * The history is walked PER STEP, so row-preserving MAINTENANCE
    * commits (compact / z-order / bin-pack / either purge, identified
    * by their commit tokens) no longer blind the feed: they contribute
    * zero rows, and an append's ORIGINAL files stay readable even after
    * a later compaction rewrote them away — the manifests in [from, to]
    * are retained (the range validated against live versions), and
    * vacuum never reclaims a file a retained manifest references. A
    * step that CHANGES rows — overwrite, COW DML, MOR delete or merge,
    * equality upsert — still refuses loudly rather than silently misreporting;
    * that's [[changeFeed]]'s job.
    */
  def changes(spark: SparkSession, table: String, from: Long, to: Long): DataFrame = {
    val added = steps(spark, table, chainOf(spark, table, from, to)).flatMap { s =>
      if (s.appendOnly) s.added
      else if (s.maintenance) Seq.empty
      else if (s.deletesChanged)
        throw new IllegalArgumentException(
          s"history v${s.from} -> v${s.to} includes a merge-on-read DELETE or " +
            "MERGE — not append-only; use changeFeed")
      else if (s.eqChanged)
        throw new IllegalArgumentException(
          s"history v${s.from} -> v${s.to} includes an equality-delete upsert — " +
            "not append-only; use changeFeed (it feeds the upsert as " +
            "insert + pre-image delete pairs)")
      else throw new IllegalArgumentException(
        s"history v${s.from} -> v${s.to} is not append-only (files were removed)")
    }
    // read() carries the empty-manifest guard (an empty-DataFrame commit
    // lists no files, and zero-path spark.read.parquet cannot infer schema)
    if (added.isEmpty) read(spark, table, Some(to)).limit(0)
    // table-aware read: an ALTER-evolved table's committed shape is its
    // declared schema — renamed columns resolve by field id, added ones
    // null-fill — so the feed always speaks the CURRENT names
    else readTableFiles(spark, table, added)
  }

  /** Project `df` onto `fields` (name + type), filling columns it does
    * not carry with typed NULLs — the alignment step that lets the
    * change feed diff two snapshots whose schemas evolved between the
    * versions (a column only one side carries reads as NULL on the
    * other, Delta CDF's convention). Columns PRESENT on both sides must
    * already agree in type — the caller rejects type-changing evolution
    * loudly, because a silent cast would null rows out (or cancel a
    * real change pair) instead of reporting it.
    */
  private def alignTo(df: DataFrame,
      fields: Seq[org.apache.spark.sql.types.StructField]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    df.select(fields.map { fl =>
      if (df.columns.contains(fl.name)) col(fl.name).as(fl.name)
      else lit(null).cast(fl.dataType).as(fl.name)
    }: _*)
  }

  /** Row-level CHANGE FEED between committed versions `from` and `to`,
    * valid across ARBITRARY DML history — append, merge, delete,
    * overwrite, compaction, z-order, MERGE-ON-READ sidecars of BOTH
    * forms (position and equality) — where `changes` (the append-only
    * fast path) refuses. Emits the snapshot-to-snapshot multiset diff
    * with a `_change_type` column: `insert` for rows present at `to`
    * but not `from`, `delete` for the reverse; an update surfaces as
    * its delete+insert pair (the format tracks files, not row
    * identities — same contract as Delta CDF without per-commit change
    * files). An equality-delete UPSERT feeds its exact CDC semantics:
    * batch rows as inserts, the replaced pre-images as deletes.
    *
    * The algebra, one for every step shape. Split the data files into
    * R (removed), A (added) and C (carried). A carried file holds the
    * same physical rows at both ends; only their liveness can differ,
    * and only if a sidecar in the symmetric difference of the two ends'
    * sidecar sets reaches it — the TOUCHED files T ⊆ C (position: the
    * changed sidecars' referenced files; equality: the in-scope carried
    * files the sidecar keys can reach by stats, [[eqReach]]). With
    *   gone = the from-live rows of T that a sidecar only at `to` kills,
    *   back = the to-live rows of T that a sidecar only at `from` kills,
    * and U the rows live at both ends,
    *   live(from) = U ⊎ live_from(R) ⊎ gone,
    *   live(to)   = U ⊎ live_to(A) ⊎ back,
    * so U cancels in the multiset difference and the feed is the
    * tagged diff of live_to(A) ⊎ back against live_from(R) ⊎ gone.
    * Position kills match the row identity (`_metadata.file_path`,
    * `row_index`), equality kills the key and the file's add-version,
    * through the same predicate and anti-join routes as a read. When
    * one side is empty by its file and sidecar lists, the other is
    * tagged directly, with no aggregation: a MOR delete step is its
    * killed pre-images, a restore across one the rows it brings back.
    * Untouched carried files are never read, so a small DML on a large
    * table costs the files it touched: a merge (merge-on-read) feeds its
    * killed pre-images against its appended rows; only a copy-on-write
    * rewrite (SQL COW DML, [[deleteWhere]]) enters the diff whole (R
    * and A).
    */
  def changeFeed(spark: SparkSession, table: String, from: Long,
      to: Long): DataFrame = {
    val chain = chainOf(spark, table, from, to)
    // a range covered entirely by consecutive maintenance rewrites
    // (compact/z-order) is row-preserving end to end — skip the
    // O(moved-bytes) diff that would prove the feed empty. The gap
    // check is defensive: today vacuum only expires a PREFIX of
    // history (retained versions are always contiguous), but a future
    // non-prefix retention policy must not turn this skip into a
    // silently swallowed DML commit.
    if (chain.size > 1 && chain.last - chain.head == chain.size - 1 &&
        chain.tail.forall(isMaintenanceCommit(spark, table, _)))
      emptyFeed(spark, table, to)
    else diffFeed(spark, table, steps(spark, table, Seq(from, to)).head)
  }

  /** PER-COMMIT change feed (Delta's `table_changes` shape): the union
    * of each step's row-level diff between `from` and `to`, every row
    * tagged with the `_commit_version` that produced it. Unlike
    * [[changeFeed]] (endpoint algebra — an insert-then-delete inside
    * the range cancels), this is the AUDIT view: intermediate states
    * surface, attributed to their commits. Maintenance steps
    * (compact / z-order / either purge) are row-preserving and skip.
    * Cost: the sum of the steps' touched files — exactly what the
    * streaming CDF source pays walking the same chain.
    */
  def changeFeedByVersion(spark: SparkSession, table: String, from: Long,
      to: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val chain = chainOf(spark, table, from, to)
    // plan-size envelope: one unioned subplan per step — a poll-window
    // range (the streaming source's shape) is fine, a whole-history
    // walk is a driver-plan explosion. Consume wide ranges in windows.
    val maxCommits = spark.conf
      .get("graft.snapshot.feedMaxCommits", "256").toInt
    require(chain.size - 1 <= maxCommits,
      s"changeFeedByVersion v$from -> v$to spans ${chain.size - 1} " +
        s"commits (> $maxCommits) — consume the range in windows, or " +
        "raise graft.snapshot.feedMaxCommits")
    stepFeeds(spark, table, chain)
      .map { case (v, df) => df.withColumn("_commit_version", lit(v)) }
      .reduceOption(_ unionByName _)
      .getOrElse(emptyFeed(spark, table, to)
        .withColumn("_commit_version", lit(to)).limit(0))
  }

  /** Each step of `chain` with its feed, tagged by the step's version —
    * what [[changeFeedByVersion]] and the streaming change-feed source
    * union. A maintenance step directly after its parent is
    * row-preserving and skipped (the +1 check is defensive against a
    * future non-prefix retention hiding a DML commit in the gap).
    */
  private[sources] def stepFeeds(spark: SparkSession, table: String,
      chain: Seq[Long]): Seq[(Long, DataFrame)] =
    steps(spark, table, chain).collect {
      case s if !(s.maintenance && s.to == s.from + 1) =>
        s.to -> diffFeed(spark, table, s)
    }

  /** Empty feed frame carrying the `to`-snapshot's schema (+ tag). */
  private def emptyFeed(spark: SparkSession, table: String,
      to: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    read(spark, table, Some(to)).limit(0)
      .withColumn("_change_type", lit("insert")).limit(0)
  }

  /** The feed of one [[Step]]: the [[changeFeed]] algebra. */
  private def diffFeed(spark: SparkSession, table: String, s: Step): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val changedDeletes = s.deletesOnlyFrom ++ s.deletesOnlyTo
    val affected =
      if (changedDeletes.isEmpty || s.carried.isEmpty) Seq.empty[String]
      else {
        s.carried.filter(PositionDeletes.referencedDataFiles(spark, changedDeletes).toSet)
      }
    // equality: every carried file the changed sidecars can reach by
    // stats goes straight into the kill filter, which is exact
    val affectedEq = eqReach(spark, table, s.to,
      s.carried.filterNot(affected.toSet), s.eqOnlyFrom ++ s.eqOnlyTo)
    val touched = affected ++ affectedEq
    // add-versions resolve at `to` for both ends: a file's add version
    // is its first manifest appearance, the same from either end
    def resolved(files: Seq[String], dels: Seq[String],
        eqs: Seq[(Long, String)]): DataFrame =
      // table-aware read (not raw readFiles): across a RENAME COLUMN
      // both endpoints' files project onto the declared id-mapped
      // schema, so the diff compares rows under one set of names
      // instead of mis-aligning two epochs' physical labels
      if (eqs.isEmpty)
        liveView(spark, table, files, dels, readTableFiles(spark, table, _))
      else applyEqDeletes(spark, table, s.to, files, dels, eqs,
        readTableFiles(spark, table, _))
    def side(files: Seq[String], dels: Seq[String], eqs: Seq[(Long, String)],
        killDels: Seq[String], killEqs: Seq[(Long, String)]): Option[DataFrame] =
      (Option.when(files.nonEmpty)(resolved(files, dels, eqs)) ++
        Option.when(touched.nonEmpty && (killDels.nonEmpty || killEqs.nonEmpty))(
          flipped(spark, table, s.to, touched, dels, eqs, killDels, killEqs)))
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
    val remDf = side(s.removed, s.fromDeletes, s.fromEqDeletes,
      s.deletesOnlyTo, s.eqOnlyTo)
    val addDf = side(s.added, s.toDeletes, s.toEqDeletes,
      s.deletesOnlyFrom, s.eqOnlyFrom)
    (remDf, addDf) match {
      case (None, None) =>
        // untouched range (from == to, or pure-metadata history): empty
        // feed with the to-snapshot's schema
        emptyFeed(spark, table, s.to)
      case _ =>
        // union schema in to-side order; absent columns NULL-fill, but
        // a column present on BOTH sides with a changed type is
        // rejected loudly — casting the from-side would null rows out
        // (or cancel a real change pair) instead of reporting it
        val addS = addDf.map(_.schema.fields.toSeq).getOrElse(Seq.empty)
        val remS = remDf.map(_.schema.fields.toSeq).getOrElse(Seq.empty)
        for (f <- remS; g <- addS if g.name == f.name && g.dataType != f.dataType)
          throw new IllegalStateException(
            s"changeFeed on $table: column '${f.name}' changed type " +
              s"${f.dataType.simpleString} -> ${g.dataType.simpleString} " +
              "across the range; a row-level diff across a type-changing " +
              "evolution is not well-defined — read the two snapshots " +
              "directly instead")
        val union = addS ++ remS.filterNot(f => addS.exists(_.name == f.name))
        (remDf.map(alignTo(_, union)), addDf.map(alignTo(_, union))) match {
          case (Some(r), Some(a)) => diffTagged(a, r)
          case (None, Some(a)) => a.withColumn("_change_type", lit("insert"))
          case (Some(r), None) => r.withColumn("_change_type", lit("delete"))
          case _ => throw new IllegalStateException("unreachable")
        }
    }
  }

  /** The rows of `files`' live view under (`dels`, `eqs`) that the
    * position sidecars `killDels` or the equality sidecars `killEqs`
    * subtract: a touched carried file's liveness flip (the feed's
    * `gone` and `back`). A row both would subtract counts once.
    */
  private def flipped(spark: SparkSession, table: String, v: Long,
      files: Seq[String], dels: Seq[String], eqs: Seq[(Long, String)],
      killDels: Seq[String], killEqs: Seq[(Long, String)]): DataFrame = {
    import PositionDeletes.{MetaFile, MetaPos}
    val scan = PositionDeletes.withRowIdentity(readTableFiles(spark, table, files))
    val withV =
      if (eqs.isEmpty && killEqs.isEmpty) scan
      else withAddVersions(spark, table, scan, MetaFile, files,
        fileAddVersions(spark, table, v))
    val posLive =
      if (dels.isEmpty) withV
      else PositionDeletes.live(spark, withV, dels, keepIdentity = true)
    val live = if (eqs.isEmpty) posLive else eqRows(spark, posLive, eqs, deleted = false)
    val byPos = Option.when(killDels.nonEmpty)(
      PositionDeletes.matched(spark, live, killDels))
    val byEq = Option.when(killEqs.nonEmpty)(eqRows(spark,
      if (killDels.isEmpty) live
      else PositionDeletes.live(spark, live, killDels, keepIdentity = true),
      killEqs, deleted = true))
    (byPos ++ byEq).map(_.drop(MetaFile, MetaPos, EqAddVCol)).reduce(_ unionByName _)
  }

  /** The two-sided EXCEPT ALL of the feed algebra in ONE aggregation:
    * `a.exceptAll(r) tagged insert ∪ r.exceptAll(a) tagged delete`,
    * computed as one ±1-signed union + one group-by over all columns +
    * one replicate — where the exceptAll PAIR plans each side's
    * resolved-view subtree TWICE (Spark rewrites every exceptAll to its
    * own union + aggregate + generate), i.e. four scans of the touched
    * files and two aggregation exchanges. Identical multiset semantics:
    * per distinct row value, net = count(a) − count(r); net > 0 emits
    * net inserts (= exceptAll's max(na−nr, 0) copies), net < 0 emits
    * −net deletes, net = 0 cancels. Group-by null-handling matches
    * exceptAll's (NULLs compare equal). Guide §2.3/§2.4: half the
    * scans, one exchange instead of two.
    */
  private def diffTagged(a: DataFrame, r: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{abs, col, explode, lit, sequence, sum, when}
    val cols = a.columns.toSeq
    val Side = "__gf_side"
    val Net = "__gf_net"
    // a data column colliding with the internal names (or the tag) must
    // not silently mis-group — keep the reference pair for that shape
    if (cols.exists(c => c == Side || c == Net || c == "_change_type"))
      return a.exceptAll(r).withColumn("_change_type", lit("insert"))
        .unionByName(r.exceptAll(a).withColumn("_change_type", lit("delete")))
    a.withColumn(Side, lit(1L))
      .unionByName(r.withColumn(Side, lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col(Side)).as(Net))
      .filter(col(Net) =!= 0L)
      .withColumn("_change_type",
        when(col(Net) > 0L, lit("insert")).otherwise(lit("delete")))
      // sequence (long-domain) rather than array_repeat(int): a
      // >2³¹ multiplicity fails LOUDLY instead of wrapping the cast
      .withColumn(Side, explode(sequence(lit(1L), abs(col(Net)))))
      .select((cols.map(col) :+ col("_change_type")): _*)
  }

  /** True when `a` and `b` carry the same columns — names and types,
    * in any order (parquet resolves by name): the schema contract of
    * every write into a committed table.
    */
  private[graft] def sameColumns(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): Boolean = {
    def sig(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    sig(a) == sig(b)
  }

  /** Read data files for a rewrite/probe with mergeSchema: on an
    * evolved table a single footer's schema would silently drop (or
    * fail on) columns other files carry.
    */
  private def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    readInferred(spark, files, mergeSchema = true)

  /** Table-aware rewrite/probe read: an ALTER-extended table's shape IS
    * its declared schema, so merge/deleteWhere must project onto it —
    * footer inference alone would throw on a predicate over an
    * ALTER-added column until some file physically carries it, while
    * every other read path already serves it as typed NULLs.
    */
  private def readTableFiles(spark: SparkSession, table: String,
      files: Seq[String]): DataFrame =
    declaredSchema(spark, table) match {
      case Some(s) => spark.read.schema(s).parquet(files: _*)
      case None => readFiles(spark, files)
    }

  /** Group-replacement commit for the SQL row-level write path (UPDATE /
    * MERGE INTO / subquery DELETE, which Spark plans as a group-based
    * ReplaceData over the V2 table): swap the files the rewrite read for
    * the files it wrote, against the snapshot pinned at `src`, under the
    * same optimistic append-rebase as merge/deleteWhere. An interleaved
    * plain append rebases freely — the result equals the serial
    * DML-then-append schedule; a concurrent writer that removed one of
    * the replaced files aborts (it rewrote rows this writer read).
    */
  private[graft] def replaceFiles(spark: SparkSession, table: String,
      src: Long, removed: Set[String], added: Seq[String], op: String,
      reclaimOnAbort: Seq[Path]): Long =
    publishRebase(spark, table, src, manifestFiles(spark, table, src),
      removed, added, op, reclaimOnAbort)

  /** Delta (merge-on-read) commit for the SQL row-level write path
    * (UPDATE / MERGE INTO / subquery DELETE on a `merge-on-read`-mode
    * table, planned by Spark as a WriteDelta over the V2 table): carry
    * every prior file, append the new data files, reference the new
    * position-delete sidecars. Same serializable contract as
    * [[deleteWhereMor]]: a concurrent writer that rewrote any file the
    * new positions target aborts this commit (the positions would be
    * stale); benign interleaved appends and disjoint MOR deletes rebase
    * freely.
    */
  private[graft] def publishDelta(spark: SparkSession, table: String,
      src: Long, dataFiles: Seq[String], sidecars: Seq[String], op: String,
      reclaimOnAbort: Seq[Path]): Long = {
    publishRebase(spark, table, src, manifestFiles(spark, table, src),
      Set.empty, dataFiles, op, reclaimOnAbort, addedDeletes = sidecars,
      requireDataPresent = PositionDeletes.referencedDataFiles(spark, sidecars).toSet)
  }

  /** Optimistic publish with append-rebase (the Delta/Iceberg conflict-
    * resolution shape): attempt at `src`+1; when a concurrent commit
    * wins the version race, re-read the head and REBASE — the expensive
    * data work is never redone, only the manifest metadata:
    *  - a file this writer removes has itself been removed → a
    *    concurrent writer rewrote rows this writer read: true conflict,
    *    reclaim the new data files and abort (the caller re-reads);
    *  - `conflictsWith(appendedFiles)` (op-specific: merge checks the
    *    interleaved appends for its own update keys) → abort likewise;
    *  - otherwise the interleaved commits were benign appends: publish
    *    (head files − removed + added) at head+1, with the head's
    *    position-delete (`D`) lines minus those that reference no
    *    published file, plus `addedDeletes`. That retire rule is the one
    *    place a rewrite's stale sidecars leave the manifest.
    * Without the rebase, a merge whose data pass is slower than the
    * table's commit cadence loses EVERY race and starves — the
    * metadata-only retry makes the contention window microseconds.
    * Shared by every file-rewriting and delta commit (merge, the
    * deletes, purges, compaction, the SQL row-level writes) — one rebase
    * loop claiming through [[claimManifest]], one cleanup contract: data
    * files this writer created are reclaimed on abort (no manifest
    * references them; vacuum could never free them).
    */
  private def publishRebase(spark: SparkSession, table: String, src: Long,
      srcFiles: Seq[String], removed: Set[String], added: Seq[String],
      op: String, reclaimOnAbort: Seq[Path], token: Option[String] = None,
      conflictsWith: Seq[String] => Boolean = _ => false,
      addedDeletes: Seq[String] = Nil,
      requireDataPresent: Set[String] = Set.empty,
      removedEq: Set[String] = Set.empty,
      addedEqDeletes: Seq[String] = Nil): Long = {
    val f = fs(spark, table)
    val srcSet = srcFiles.toSet
    val srcDeletes = manifestDeletes(spark, table, src).toSet
    def abort(msg: String): Nothing = {
      reclaimOnAbort.foreach(f.delete(_, true))
      throw new IllegalStateException(msg)
    }
    var base = src
    var attempt = 0
    while (attempt < 20) {
      // idempotence under races: the same token may have just won
      token.foreach(t => committedVersionFor(spark, table, t).foreach { w =>
        reclaimOnAbort.foreach(f.delete(_, true)); return w })
      val cur = manifestFiles(spark, table, base)
      val curSet = cur.toSet
      if (!removed.subsetOf(curSet))
        abort(s"concurrent writer removed files read by $op on $table")
      // a MOR delete's positions are keyed by data-file path: if a
      // concurrent writer rewrote one of the files this delete targets,
      // its entries would silently become no-ops for already-replaced
      // rows — abort and let the caller recompute against the new head
      if (!requireDataPresent.subsetOf(curSet))
        abort(s"concurrent writer rewrote files targeted by $op on $table")
      if (base != src &&
          conflictsWith(cur.filterNot(srcSet)))
        abort(s"concurrent append touches rows read by $op on $table")
      val curDeletes = manifestDeletes(spark, table, base)
      // a file-REWRITING op (`removed` nonempty) read its victims at
      // `src` and replaces them resolved against src's delete set: an
      // interleaved MOR delete whose positions target one of those
      // victims would be silently dropped by the replacement — abort
      // iff such an interleave exists (reading the few new sidecars is
      // metadata-class). MOR deletes interleaved on OTHER files rebase
      // freely, as do two concurrent MOR deletes (their sidecars union).
      if (base != src && removed.nonEmpty) {
        val newDeletes = curDeletes.filterNot(srcDeletes)
        if (newDeletes.nonEmpty &&
            PositionDeletes.referencedDataFiles(spark, newDeletes).exists(removed))
          abort(s"concurrent MOR delete targets files rewritten by $op on $table")
      }
      val fileList = cur.filterNot(removed) ++ added
      // a `D` line retires once none of the files it references is
      // published: every rewrite reads its files through the live view,
      // so their deleted rows are already gone (sidecar summaries are
      // memoized — no job)
      val published = fileList.toSet
      val deleteList = curDeletes.filter(d =>
        PositionDeletes.referencedDataFiles(spark, Seq(d)).exists(published)) ++
        addedDeletes
      val v = base + 1
      // a NEW equality delete's scope is pinned at publish time to the
      // version it lands over: after a rebase past interleaved appends,
      // those appended files fall INSIDE the scope — exactly the serial
      // upsert-after-append schedule the rebase claims equivalence to
      val curEq = manifestEqDeletes(spark, table, base)
      // a file REWRITE moves rows into files whose add-version escapes
      // every outstanding equality-delete scope — the subtracted rows
      // would resurrect. Rewriting ops refuse up front; this guards the
      // INTERLEAVED case (an upsertEq landing mid-rebase).
      if (removed.nonEmpty && curEq.exists { case (_, p) => !removedEq(p) })
        abort(s"$op rewrites files while equality deletes are outstanding " +
          s"on $table — run purgeEqDeletes first")
      val eqList = curEq.filterNot { case (_, p) => removedEq(p) } ++
        addedEqDeletes.map(p => (v - 1, p))
      if (claimManifest(f, table, v, Manifest(token, fileList, deleteList, eqList)))
        return v
      base = versions(spark, table).lastOption.getOrElse(base)
      attempt += 1
    }
    abort(s"$op starved after $attempt rebase attempts on $table")
  }

  /** Write `df` as new data files under the table (in `dir`, or a
    * fresh directory under `data/`), returning their paths (sorted) and
    * the directory for loss-reclaim.
    */
  private def writeData(df0: DataFrame, table: String,
      recordStats: Boolean = true,
      applyDeclaredSort: Boolean = true,
      dir: Option[Path] = None): (Seq[String], Path) = {
    // the post-publish hook runs EAGERLY here: the only state change
    // this path can produce is the CTAS/stageData birth init (every
    // other caller requires committed versions, where the hook is a
    // no-op), and a birth init on a fresh table dir is harmless even if
    // the staged publish later aborts — no old files exist for the
    // all-files-stamped invariant to misjudge
    val (df, postPublish) = stampFieldIds(df0, table, fullRewrite = false)
    postPublish()
    val dataDir = dir.getOrElse(new Path(s"$table/data/${java.util.UUID.randomUUID}"))
    // applyDeclaredSort=false is for callers that ALREADY arranged an
    // explicit layout the declared order must not clobber (the z-order
    // rewrite's Morton clustering); everything else — appends, CTAS,
    // compaction — takes the table's declared clustering here
    (if (applyDeclaredSort) applySortSpec(df, table) else df).write
      .options(bloomWriteOptions(df.sparkSession, table))
      .parquet(dataDir.toString)
    val f = fs(df.sparkSession, table)
    // file-NAME prefix match, like commit (a "part-" in the table path
    // must not sweep _SUCCESS into the manifest)
    val files = f.listStatus(dataDir).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    // footer-derived skipping stats ride along with every write (a few
    // KB per file, no data re-read); see FileStats. A caller that moves
    // the files before publish (bucketed CREATE's anchor) suppresses
    // this and records once under the final paths — the sidecar is
    // append-only, so a pre-move record would be a permanent dead line.
    if (recordStats) FileStats.record(df.sparkSession, table, files)
    (files, dataDir)
  }

  /** MERGE (upsert) into the latest snapshot by `key`, MERGE-ON-READ:
    * rows whose key matches an update row are replaced, update keys
    * absent from the table are inserted, and no data file is rewritten.
    * The matched rows' positions become one deletion-vector sidecar
    * ([[positionSidecar]], [[deleteWhereMor]]'s writer) and the update
    * rows append as new data files, so the commit costs the probe scan
    * of the key-range files plus the batch, and the step's change feed
    * is the killed pre-images against the appended rows. The sidecars
    * pile up one per merge until [[maintain]], [[purgeDeletes]] or
    * [[compact]] folds them.
    *
    * Publishes with append-rebase: a concurrent writer that rewrote a
    * hit file, or an interleaved append carrying one of the update keys,
    * aborts the merge (the caller retries against the new snapshot);
    * other appends and disjoint MOR deletes rebase freely.
    */
  def merge(spark: SparkSession, table: String, updates: DataFrame, key: String): Long = {
    import org.apache.spark.sql.{GraftShim, Row}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, collect_list, count, lit, max, min, sum, when}
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    // one materialization serves the dup-check, the bounds, the probe,
    // and the append (updates would otherwise recompute per action —
    // 4x the source cost per mergeSink micro-batch). A caller that
    // already checkpointed (mergeSink does) is not re-materialized.
    val u = org.apache.spark.sql.GraftShim.logicalPlan(updates) match {
      case _: org.apache.spark.sql.execution.LogicalRDD => updates
      case _ => updates.localCheckpoint()
    }
    // one aggregation answers both input-contract checks — a NULL key
    // can never match a table row (rejecting loudly beats silently
    // inserting an unmatchable row), and MERGE is undefined when two
    // source rows target one key (Delta/Iceberg's "multiple source rows
    // matched") — AND gives the key bounds the probe prunes by and the
    // key list it matches against. The coalesce keeps the global fold in
    // the grouping's reduce task (no second exchange, so 2 jobs), and
    // the keys reach the driver once, the envelope a broadcast of them
    // already had.
    val contract = u.groupBy(col(key)).agg(count(lit(1)).as("n")).coalesce(1)
      .agg(
        coalesce(sum(when(col(key).isNull, col("n"))), lit(0L)).as("nulls"),
        count(when(col(key).isNotNull && col("n") > 1, lit(1))).as("dups"),
        min(col(key)).as("lo"), max(col(key)).as("hi"), collect_list(col(key)))
      .head()
    require(contract.getLong(0) == 0,
      s"merge updates contain ${contract.getLong(0)} NULL value(s) of key " +
        s"'$key' — NULL never matches; filter or assign keys upstream")
    require(contract.getLong(1) == 0,
      s"merge updates contain ${contract.getLong(1)} duplicate value(s) of key '$key'")
    val src = vs.last
    requireNoEqDeletes(spark, table, "merge (merge-on-read upsert)", src)
    val files = manifestFiles(spark, table, src)
    // schema contract up front: MERGE carries the table's shape. The
    // update rows append verbatim, so a mismatched frame would silently
    // mix two physical layouts in one manifest — the exact corruption
    // strictAppendSchema blocks on the append path.
    if (files.nonEmpty) {
      val committed = readTableFiles(spark, table, files).schema
      require(sameColumns(committed, u.schema),
        s"merge updates schema ${u.schema} does not match the table's " +
          s"committed schema $committed")
    }
    // the probe runs on the LIVE view (a row an unpurged MOR delete
    // already subtracted must not be killed twice) restricted to the
    // updates' key range: manifest stats skip files whose recorded key
    // range cannot overlap (conservative: files without stats survive),
    // parquet row-group stats the rest
    val inRange = col(key).between(lit(contract.get(2)), lit(contract.get(3)))
    val candidates =
      if (files.isEmpty || contract.isNullAt(2)) Seq.empty[String]
      else FileStats.prune(spark, table, files, inRange)
    val dels = manifestDeletes(spark, table, src)
    // the key match: an in-scan set predicate (no job) when the key
    // type has JVM-exact equality ([[EqKeySet.supports]]), else a
    // broadcast semi-join of the key list
    val keyList = contract.getSeq[Any](4)
    val keySchema = u.select(col(key)).schema
    def matching(df: DataFrame): DataFrame =
      if (EqKeySet.supports(keySchema.head.dataType))
        df.filter(GraftShim.column(InSet(GraftShim.expression(col(key)),
          keyList.map(CatalystTypeConverters.convertToCatalyst).toSet)))
      else df.join(broadcast(spark.createDataFrame(
        java.util.Arrays.asList(keyList.map(Row(_)): _*), keySchema)), Seq(key), "left_semi")
    val killed = positionSidecar(spark, table, candidates, dels)(
      df => matching(df.filter(inRange)))
    // every update row appends (replacements and inserts look identical
    // from here); the matched pre-images die by position
    val (newFiles, dataDir) = writeData(u, table)
    // rebase conflict test: an interleaved append carrying one of OUR
    // update keys would coexist with the merged row (duplicate key) —
    // that interleaving must abort; appends of other keys rebase freely
    def appendsConflict(appended: Seq[String]): Boolean =
      appended.nonEmpty && !contract.isNullAt(2) &&
        matching(readTableFiles(spark, table, appended).filter(inRange))
          .limit(1).count() > 0
    val (sidecars, hit, delDir) = killed match {
      case Some((sc, h, d)) => (sc, h, Seq(d))
      case None => (Seq.empty[String], Seq.empty[String], Seq.empty[Path])
    }
    // a concurrent writer that rewrote a hit file aborts: the positions
    // would no longer name the rows this merge replaces
    publishRebase(spark, table, src, files, Set.empty, newFiles,
      "merge", dataDir +: delDir, conflictsWith = appendsConflict,
      addedDeletes = sidecars, requireDataPresent = hit.toSet)
  }

  /** Copy-on-write DELETE: publish a new snapshot without the rows
    * matching `predicate`. Only files that CONTAIN a matching row are
    * rewritten (the probe is a filtered scan — parquet row-group stats
    * prune files the predicate cannot touch); every other file carries
    * into the new manifest verbatim. Completes the DML triad with
    * commit (INSERT) and merge (UPSERT). Same optimistic single-attempt
    * publish as merge: a concurrent commit aborts the delete and the
    * caller retries against the new snapshot.
    */
  def deleteWhere(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val src = vs.last
    requireNoEqDeletes(spark, table, "deleteWhere (copy-on-write DELETE)", src)
    val files = manifestFiles(spark, table, src)
    // a zero-file snapshot (empty-DataFrame commit) has nothing to
    // delete; readFiles on an empty list cannot infer a schema, so
    // short-circuit the no-op (TRUNCATE on an empty table lands here)
    if (files.isEmpty) return src
    // probe and rewrite on the LIVE view: a file whose only matches
    // were already MOR-deleted must not rewrite, and a rewrite must
    // not resurrect subtracted rows
    val dels = manifestDeletes(spark, table, src)
    // manifest-level skipping before the probe scan, like deleteWhereMor
    // and merge: only stats-possible files open (conservative — files
    // without stats, or predicate shapes the evaluator does not
    // recognize, survive into the scan)
    val candidates = FileStats.prune(spark, table, files, predicate)
    // the hit files: each probe partition dedups the `_metadata.file_path`
    // of its matching rows and the driver unions the sets. A distinct()
    // would add an exchange, a whole extra AQE stage job; a file's rows
    // are scan-contiguous, so the per-partition sets sum to ~O(touched
    // files). Driver-memory envelope, stated once for the whole manifest
    // algebra: every table operation holds the CURRENT FILE LIST on the
    // driver (the manifest is a driver-written file — ~150 B/path, so a
    // 100 TB table at 128 MB/file is ~10⁶ entries ≈ 150 MB; file-COUNT
    // linear, never row linear); the probe adds only the touched paths.
    val hit =
      if (candidates.isEmpty) Seq.empty[String]
      else {
        import spark.implicits._
        val touched = liveView(spark, table, candidates, dels,
            readTableFiles(spark, table, _), fileColumn = Some("__file"))
          .filter(predicate).select(col("__file")).as[String]
          .mapPartitions(it => it.toSet.iterator)
          .collect().toSet
        candidates.filter(f => touched(TablePaths.fileId(f)))
      }
    val (newFiles, reclaim) =
      if (hit.isEmpty) (Seq.empty[String], Seq.empty[Path])
      else {
        // SQL DELETE keeps rows where the predicate is NULL — a bare
        // !predicate would drop them (NOT NULL = NULL filters out), and
        // only in rewritten files, making survival layout-dependent
        val (nf, dir) = writeData(
          liveView(spark, table, hit, dels, readTableFiles(spark, table, _))
            .filter(not(coalesce(predicate, lit(false)))), table)
        (nf, Seq(dir))
      }
    // appends interleaved with the delete rebase freely: rows committed
    // after the delete's read survive it under the append-after-delete
    // serialization — exactly what a serial schedule would produce
    publishRebase(spark, table, src, files, hit.toSet, newFiles,
      "delete", reclaim)
  }

  /** MERGE-ON-READ DELETE: publish a new snapshot in which the rows
    * matching `predicate` are subtracted by POSITION, without rewriting
    * a single data file. The matched rows' (file, row-ordinal)
    * identities are written to a small parquet sidecar and the new
    * manifest references it alongside the untouched data files; reads
    * of this and later versions subtract the positions from exactly the
    * touched files ([[PositionDeletes.live]]: a scan predicate while the
    * positions fit the delete bound, an anti-join above it).
    *
    * Scale posture (the reason this exists next to the COW
    * [[deleteWhere]]): COW's commit cost is ∝ the BYTES of every file
    * containing a match — a 0.1%-selective delete spread across a
    * 100 TB table rewrites most of it. MOR's commit cost is ∝ the
    * MATCHED ROWS (a few MB of sidecar) plus the probe scan, and the
    * probe prunes through the manifest stats like any selective read.
    * The read-side tax accrues per unpurged delete; [[purgeDeletes]]
    * (or any compaction) folds the sidecars back into plain files.
    * Same SQL NULL semantics as deleteWhere: rows where the predicate
    * is NULL survive. Serializable like every publish here — a
    * concurrent writer that REWROTE a targeted file aborts this commit
    * (the positions would have gone stale), concurrent appends and
    * disjoint MOR deletes rebase freely.
    */
  def deleteWhereMor(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val src = vs.last
    requireNoEqDeletes(spark, table, "deleteWhereMor (position-delete DELETE)", src)
    val files = manifestFiles(spark, table, src)
    if (files.isEmpty) return src
    // manifest-level skipping bounds the probe like any selective read:
    // files whose stats cannot match never open (conservative — files
    // without stats survive)
    val candidates = FileStats.prune(spark, table, files, predicate)
    // SQL delete semantics: predicate NULL = survive, so only TRUE rows
    // are recorded
    positionSidecar(spark, table, candidates, manifestDeletes(spark, table, src))(
      _.filter(coalesce(predicate, lit(false)))) match {
      case None => src // nothing matched: no version bump
      case Some((sidecars, touched, delDir)) =>
        publishRebase(spark, table, src, files, Set.empty, Seq.empty,
          "mor-delete", Seq(delDir), addedDeletes = sidecars,
          requireDataPresent = touched.toSet)
    }
  }

  /** Record the rows `matching` keeps of `candidates`' live view under
    * `dels` as ONE position sidecar under `deletes/<uuid>` — the writer
    * of both Scala merge-on-read DMLs ([[deleteWhereMor]], [[merge]]).
    * The probe runs on the LIVE view, so already-deleted positions never
    * enter a second sidecar, and each row is recorded under its file's
    * entry ([[TablePaths.relativizeId]] of `_metadata.file_path`).
    * Returns the sidecar files, the data files they reference and the
    * dir to reclaim if the publish aborts; None, with nothing left on
    * disk, when no row matched.
    */
  private def positionSidecar(spark: SparkSession, table: String,
      candidates: Seq[String], dels: Seq[String])(
      matching: DataFrame => DataFrame): Option[(Seq[String], Seq[String], Path)] = {
    import org.apache.spark.sql.functions.{col, udf}
    if (candidates.isEmpty) return None
    val scan = PositionDeletes.withRowIdentity(readTableFiles(spark, table, candidates))
    val live = if (dels.isEmpty) scan
      else PositionDeletes.live(spark, scan, dels, keepIdentity = true)
    val tp = TablePaths(spark, table)
    val entry = udf((id: String) => tp.relativizeId(id))
    val matched = matching(live)
      .select(entry(col(PositionDeletes.MetaFile)).as(PositionDeletes.FileCol),
        col(PositionDeletes.MetaPos).as(PositionDeletes.PosCol))
    // ONE pass, 2 jobs: encode + write the sidecar straight off the
    // probe scan, in the DELETION-VECTOR layout: one row per touched
    // data file, its positions roaring/RLE-encoded ([[DeleteVectors]]),
    // ~2 B/position where the v1 one-row-per-position layout measured
    // ~4 B plus a path string per row; the per-file groupBy holds one
    // FILE's positions per task. v1 sidecars of older tables still read
    // (dispatch is the footer schema).
    import spark.implicits._
    val f = fs(spark, table)
    val delDir = new Path(s"$table/deletes/${java.util.UUID.randomUUID}")
    matched.as[(String, Long)].groupByKey(_._1)
      .mapGroups { (file, it) =>
        val arr = it.map(_._2).toArray
        (file, arr.length.toLong, DeleteVectors.encode(arr))
      }
      .toDF(PositionDeletes.FileCol, DeleteVectors.CardCol,
        DeleteVectors.DvCol)
      .coalesce(1).write.parquet(delDir.toString)
    val sidecars = f.listStatus(delDir).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    // the touched files read back from the sidecar on the driver (no
    // job), filling the summary memo the first read needs
    val touched = PositionDeletes.referencedDataFiles(spark, sidecars)
    if (touched.isEmpty) { f.delete(delDir, true); None }
    else Some((sidecars, touched, delDir))
  }

  /** The most batch rows one [[upsertEq]] data file holds. */
  private val UpsertEqRowsPerFile = 1L << 18

  /** STREAMING-UPSERT commit via EQUALITY DELETES (Iceberg v2's second
    * delete form — the Flink-CDC-into-Iceberg shape): replace any
    * existing row whose `keys` match a batch row and append the batch,
    * in ONE commit whose cost is ∝ THE BATCH ALONE. No target probe,
    * no file read, no rewrite: the batch appends as new data files and
    * its key set lands as an equality-delete sidecar whose SCOPE is
    * the pre-commit version — rows of files added at or before the
    * scope with a matching key are subtracted at read time; the
    * batch's own files (and everything appended later) are exempt by
    * construction. This is the op that makes continuous CDC ingest
    * into a 100 TB table O(batch) per commit where [[merge]] pays a
    * probe of the key-range files every batch; the deferred cost is
    * the read-side anti-join, capped by [[purgeEqDeletes]] (or any
    * compaction) exactly like position deletes.
    *
    * Contract: `keys` non-empty and present in the batch; no NULL and
    * no duplicate key values in one batch (the [[merge]] contract);
    * every outstanding sidecar of the table shares the same key set
    * (the read path stays one anti-join); the batch carries the
    * table's committed schema. `token` gives exactly-once replay for
    * streaming. Serializable: interleaved appends/upserts rebase (the
    * scope is pinned at publish, so the serial schedule's semantics
    * hold); an interleaved file REWRITE aborts this commit.
    */
  def upsertEq(spark: SparkSession, table: String, updates: DataFrame,
      keys: Seq[String], token: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, struct, sum, when}
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table — commit a " +
      "schema-bearing version first (CREATE TABLE / Snapshots.commit)")
    token.foreach(t => committedVersionFor(spark, table, t).foreach(v => return v))
    require(keys.nonEmpty, "upsertEq needs at least one key column")
    val missing = keys.filterNot(updates.columns.contains)
    require(missing.isEmpty, s"upsertEq keys not in batch: $missing")
    require(!updates.columns.exists(c =>
        c == EqFileCol || c == EqAddVCol || c == EqScopeCol),
      s"batch schema must not contain reserved columns $EqFileCol/$EqAddVCol/$EqScopeCol")
    val src = vs.last
    // one shared key set across all outstanding sidecars
    val existing = manifestEqDeletes(spark, table, src)
    if (existing.nonEmpty) {
      val have = eqKeyColumns(spark, existing)
      require(have == keys.sorted,
        s"outstanding equality deletes key on $have; this batch keys on " +
          s"${keys.sorted} — purge before changing the key set")
    }
    val u = org.apache.spark.sql.GraftShim.logicalPlan(updates) match {
      case _: org.apache.spark.sql.execution.LogicalRDD => updates
      case _ => updates.localCheckpoint()
    }
    // merge's input contract, on the composite key
    val k = struct(keys.map(col): _*)
    val contract = u.groupBy(k.as("__k"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.max(
          when(keys.map(col(_).isNull).reduce(_ || _), 1).otherwise(0))
          .as("hasnull"))
      .agg(
        coalesce(sum(when(col("hasnull") === 1, col("n"))), lit(0L)).as("nulls"),
        count(when(col("n") > 1, lit(1))).as("dups"),
        coalesce(sum(col("n")), lit(0L)).as("total"))
      .head()
    require(contract.getLong(0) == 0,
      s"upsertEq batch contains ${contract.getLong(0)} NULL key value(s) — " +
        "NULL never matches; filter or assign keys upstream")
    require(contract.getLong(1) == 0,
      s"upsertEq batch contains ${contract.getLong(1)} duplicate key value(s)")
    // schema contract (merge's): the batch carries the table's shape
    val files = manifestFiles(spark, table, src)
    if (files.nonEmpty) {
      val committed = readTableFiles(spark, table, files).schema
      require(sameColumns(committed, u.schema),
        s"upsertEq batch schema ${u.schema} does not match the table's " +
          s"committed schema $committed")
    }
    val f = fs(spark, table)
    // CDC batches are small relative to the shuffle width that produced
    // them — one file per upstream partition would accrete near-empty
    // files EVERY commit, and at a CDC stream's commit rate the file
    // count (manifest size, footer reads, purge probes) becomes the
    // real 100 TB cost. Bound the batch's file count by its rows (the
    // contract scan already counted them); binPack still owns the tail.
    val nFiles = math.max(1L, math.min(u.rdd.getNumPartitions.toLong,
      (contract.getLong(2) + UpsertEqRowsPerFile - 1) / UpsertEqRowsPerFile)).toInt
    val uw = if (nFiles < u.rdd.getNumPartitions) u.coalesce(nFiles) else u
    val (newFiles, dataDir) = writeData(uw, table)
    val eqDir = new Path(s"$table/eqdeletes/${java.util.UUID.randomUUID}")
    // the batch's key set IS the delete — tiny (one row per batch row)
    u.select(keys.map(col): _*).coalesce(1).write.parquet(eqDir.toString)
    val sidecars = f.listStatus(eqDir).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    // interleaved appends rebase (the publish-time scope covers them —
    // the serial upsert-after-append schedule); an interleaved REWRITE
    // would let rows escape the scope, so their absence is required
    publishRebase(spark, table, src, files, Set.empty, newFiles,
      "upsert-eq", Seq(dataDir, eqDir), token = token,
      addedEqDeletes = sidecars, requireDataPresent = files.toSet)
  }

  /** `eqs` grouped by key set. Sidecars in one feed range can carry
    * DIFFERENT key sets — legal when the range spans a purge boundary
    * (upsertEq's shared-key invariant holds per VERSION, not per range):
    * a blind union of their frames would throw on mismatched columns and
    * key on the wrong set, so each group is handled on its own.
    */
  private def eqGroups(spark: SparkSession,
      eqs: Seq[(Long, String)]): Seq[Seq[(Long, String)]] =
    eqs.groupBy(e => eqSidecarKeys(spark, e._2)).values.toSeq

  /** The files among `candidates` that the equality sidecars `eqs` can
    * reach: added at or before some sidecar's scope and, per key set,
    * kept by an IN list of the sidecar keys through [[FileStats]] ranges
    * and blooms. Driver-side only — the keys are read there, no job — so
    * it is a superset of the files a key actually hits: the change
    * feed's kill filter is exact over it, and [[purgeEqDeletes]]' probe
    * narrows it to its rewrite set.
    */
  private def eqReach(spark: SparkSession, table: String, v: Long,
      candidates: Seq[String], eqs: Seq[(Long, String)]): Seq[String] =
    if (eqs.isEmpty || candidates.isEmpty) Nil
    else eqGroups(spark, eqs).flatMap(eqReachOneKeySet(spark, table, v, candidates, _)).distinct

  /** Fewer in-scope files than this skip [[eqReach]]'s stats walk: it
    * costs more than it saves.
    */
  private val EqProbeMinCandidates = 64

  /** The longest per-column key list [[eqReach]] prunes with. */
  private val EqProbeInListMaxKeys = 65536

  private def eqReachOneKeySet(spark: SparkSession, table: String, v: Long,
      candidates: Seq[String], eqs: Seq[(Long, String)]): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val addV = fileAddVersions(spark, table, v)
    val maxScope = eqs.map(_._1).max
    // unknown files (never in a retained manifest) fall IN scope
    val inScope = candidates.filter(p => addV.getOrElse(p, 0L) <= maxScope)
    // STATS-PRUNED reach: while the key sets fit the IN-list cap, an IN
    // predicate per key column prunes the in-scope files through
    // FileStats ranges + blooms before any row is read — on a
    // write-ordered (or bloom-specced) table only the key-range files
    // survive. Per-column lists are conservative for composite keys (a
    // file must contain SOME value of EACH column to possibly match);
    // an oversized or NULL-bearing list, a key type the driver read does
    // not decode exactly, or any failure keeps every in-scope file. Below
    // the candidate floor the stats walk costs more than it saves.
    if (inScope.size < EqProbeMinCandidates || !eqFits(spark, eqs)) inScope
    else try {
      val keys = eqKeyColumns(spark, eqs)
      val vals = keys.map(_ => scala.collection.mutable.HashSet.empty[Any])
      eqs.foreach { case (_, p) =>
        val sch = FooterSchemas.of(spark, p)
        val types = keys.map(k => sch(k).dataType)
        if (!types.forall(EqKeySet.supports)) return inScope
        PositionDeletes.readOnDriver(spark, p)(PositionDeletes.eachRow(_, keys) { g =>
          types.indices.foreach(i => vals(i) += org.apache.spark.sql.catalyst
            .CatalystTypeConverters.convertToScala(EqKeySet.value(types(i), g, i), types(i)))
        })
      }
      keys.zip(vals).foldLeft(inScope) { case (cand, (k, vs)) =>
        if (cand.isEmpty || vs.size > EqProbeInListMaxKeys || vs.contains(null)) cand
        else FileStats.prune(spark, table, cand, col(k).isin(vs.toSeq: _*))
      }
    } catch { case scala.util.control.NonFatal(_) => inScope }
  }

  /** The files among `candidates` whose LIVE rows match a key of `eqs`
    * under that key's version scope — [[purgeEqDeletes]]' rewrite set:
    * one scan of the reachable files ([[eqReach]]), position deletes
    * resolved first so dead rows cannot hit.
    */
  private def eqHitFiles(spark: SparkSession, table: String, v: Long,
      candidates: Seq[String], dels: Seq[String],
      eqs: Seq[(Long, String)]): Seq[String] = {
    import org.apache.spark.sql.functions.broadcast
    if (eqs.isEmpty || candidates.isEmpty) return Nil
    val addV = fileAddVersions(spark, table, v)
    eqGroups(spark, eqs).flatMap { g =>
      val reach = eqReachOneKeySet(spark, table, v, candidates, g)
      if (reach.isEmpty) Nil
      else {
        val keys = eqKeyColumns(spark, g)
        val withV = withAddVersions(spark, table,
          liveView(spark, table, reach, dels, readTableFiles(spark, table, _),
            fileColumn = Some(EqFileCol)),
          EqFileCol, reach, addV)
        val hits = eqKeySet(spark, g, keys, withV.schema) match {
          case Some(set) => withV.filter(eqKeyDeleted(keys, set))
          case None =>
            val eqFrame = eqSideFrame(spark, g)
            withV.join(broadcast(eqFrame), eqJoinCond(withV, eqFrame, keys), "left_semi")
        }
        val hitIds = hits
          .select(EqFileCol).distinct().collect().map(_.getString(0)).toSet
        reach.filter(p => hitIds(TablePaths.fileId(p)))
      }
    }.distinct
  }

  /** Fold outstanding EQUALITY deletes back into plain data files: an
    * exact probe finds the in-scope files that CONTAIN a matching key;
    * only those rewrite ([[foldRewrite]], fully resolved, so position
    * deletes targeting them fold too); every other file carries by
    * path, and the published manifest has no `E ` lines. Keys that
    * match nothing (already purged rows, inserts-only upserts) rewrite
    * nothing and only drop the lines. No-op when none are outstanding.
    * The maintenance op that caps the upsert stream's read-side tax —
    * cost ∝ the bytes of key-hit files, batched across every upsert
    * since the last purge.
    */
  def purgeEqDeletes(spark: SparkSession, table: String): Long = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val src = vs.last
    val m = manifest(spark, table, src)
    if (m.eqDeletes.isEmpty) src
    else foldRewrite(spark, table, src,
      eqHitFiles(spark, table, src, m.files, m.deletes, m.eqDeletes).toSet,
      DefaultTargetBytes, "purge-eq", s"purge-eq-of-v$src")
  }

  /** Fold outstanding POSITION deletes back into plain data files: the
    * live files the sidecars reference rewrite through their live view
    * ([[foldRewrite]]) and every sidecar line drops; entries for files
    * a later rewrite already replaced match nothing and rewrite
    * nothing. No-op when none are outstanding.
    */
  def purgeDeletes(spark: SparkSession, table: String): Long = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val src = vs.last
    requireNoEqDeletes(spark, table, "purgeDeletes", src)
    val m = manifest(spark, table, src)
    if (m.deletes.isEmpty) src
    else foldRewrite(spark, table, src,
      m.files.filter(PositionDeletes.referencedDataFiles(spark, m.deletes).toSet).toSet,
      DefaultTargetBytes, "purge-deletes", s"purge-of-v$src")
  }

  /** Reclaim ORPHANED data files: files under `<table>/data/` that no
    * manifest (any version) references — the residue of a writer that
    * crashed between its data write and its manifest publish, which
    * vacuum can never free (vacuum reference-counts over manifests;
    * these files are in none). Only orphans older than `graceMs` are
    * deleted, so an IN-FLIGHT writer's not-yet-published files survive
    * (the same modification-time grace Iceberg's orphan cleanup uses).
    * Returns the number of files deleted.
    */
  def gc(spark: SparkSession, table: String,
      graceMs: Long = 24L * 3600 * 1000): Int = {
    val f = fs(spark, table)
    // orphan sweep covers every write root: data files, position-delete
    // sidecars, and equality-delete sidecars (any writer that crashed
    // between its sidecar write and its publish leaves the same shape)
    val roots = Seq(new Path(s"$table/data"), new Path(s"$table/deletes"),
      new Path(s"$table/eqdeletes")).filter(f.exists)
    if (roots.isEmpty) return 0
    val referenced = versions(spark, table)
      .flatMap(v => manifestFiles(spark, table, v) ++
        manifestDeletes(spark, table, v) ++
        manifestEqDeletes(spark, table, v).map(_._2)).toSet ++
      branchHeadRefs(spark, table) // registered branches hold references
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    roots.flatMap(f.listStatus(_)).foreach { dir =>
      // a dir can vanish between the listing and the walk (a concurrent
      // writer finalizing its commit moves _temporary/ contents away) —
      // skip whatever cannot be listed THIS pass, the next gc sees the
      // settled state. Local FS surfaces the race as FileNotFound OR as
      // a RuntimeException from the permission-probe shell-out.
      try {
      val parts = f.listStatus(dir.getPath).filter(
        _.getPath.getName.startsWith("part-"))
      val orphaned = parts.filter(st =>
        !referenced.contains(st.getPath.toString) &&
          st.getModificationTime < cutoff)
      orphaned.foreach { st =>
        if (f.delete(st.getPath, false)) deleted += 1
      }
      // sweep the dir when nothing referenced remains (markers only)
      if (parts.length == orphaned.length && parts.nonEmpty)
        f.delete(dir.getPath, true): Unit
      // the most common crash residue has NO top-level part- files at
      // all (died mid-write: only _temporary/ task attempts inside) —
      // reclaim the whole dir when nothing in it is referenced and
      // it is past the grace period
      if (parts.isEmpty) {
        val prefix = dir.getPath.toString + "/"
        val dirReferenced = referenced.exists(_.startsWith(prefix))
        if (!dirReferenced) {
          // grace-gate on the NEWEST nested file, not the parent dir's
          // mtime: task attempts landing under _temporary/ do not refresh
          // the top dir, so a writer whose data write outlives graceMs
          // would otherwise be deleted mid-write
          val it = f.listFiles(dir.getPath, true)
          var n = 0
          var newest = dir.getModificationTime
          while (it.hasNext) {
            val st = it.next(); n += 1
            newest = math.max(newest, st.getModificationTime)
          }
          if (newest < cutoff && f.delete(dir.getPath, true)) deleted += n
        }
      }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    deleted
  }

  /** Expire history: drop all but the last `keepVersions` manifests and
    * delete data files no surviving manifest references. Time travel to
    * expired versions fails from then on; the surviving snapshots are
    * untouched (their files are never deleted — reference counting is
    * over the manifest chain, not file age). Returns the number of data
    * files deleted.
    */
  def vacuum(spark: SparkSession, table: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val f = fs(spark, table)
    val vs = versions(spark, table)
    // a data file's ADD VERSION (what equality-delete scopes compare
    // against) is derived by walking retained manifests — expiring
    // history under an outstanding scope would shift first-sighting
    // versions forward and silently exempt in-scope files. Purge, then
    // vacuum (the maintenance pairing the upsert stream runs anyway).
    if (vs.nonEmpty) requireNoEqDeletes(spark, table, "vacuum", vs.last)
    // TAGGED versions never expire: a tag is a named promise that the
    // version stays readable (and its files alive) until the tag is
    // gone — Iceberg's ref-retention rule
    val tagged = tags(spark, table).map(_._2).toSet
    val (expireCand, keepTail) = vs.splitAt(math.max(0, vs.length - keepVersions))
    val expire = expireCand.filterNot(tagged)
    val keep = keepTail ++ expireCand.filter(tagged)
    if (expire.isEmpty) return 0
    // reference-count DATA FILES and BOTH sidecar kinds alike: a
    // sidecar referenced only by expired manifests is as dead as a data
    // file, and a live one must survive (dropping it would resurrect
    // deleted rows)
    def refs(v: Long): Seq[String] =
      manifestFiles(spark, table, v) ++ manifestDeletes(spark, table, v) ++
        manifestEqDeletes(spark, table, v).map(_._2)
    // registered branch HEADS hold references into this table by
    // absolute path (a fork copies no data) — their files are as live
    // as a tagged version's
    val live = keep.flatMap(refs).toSet ++ branchHeadRefs(spark, table)
    val dead = expire.flatMap(refs).filterNot(live).toSet
    dead.foreach(p => f.delete(new Path(p), false))
    expire.foreach(v => f.delete(new Path(s"$table/manifest-v$v.json"), false))
    // sweep now-empty data/sidecar dirs (cosmetic; correctness never
    // lists them)
    Seq(new Path(s"$table/data"), new Path(s"$table/deletes"),
      new Path(s"$table/eqdeletes")).foreach { root =>
      if (f.exists(root)) f.listStatus(root).foreach { st =>
        if (f.listStatus(st.getPath).forall(_.getPath.getName.startsWith("_")))
          f.delete(st.getPath, true)
      }
    }
    dead.size
  }

  // -------------------------------------------------------------------
  // Declared schema: metadata-only ALTER TABLE ADD COLUMNS. The table's
  // schema normally lives in the data files' footers; an ALTER writes a
  // small `schema.json` override, and readers project every file onto
  // it BY NAME (columns absent from a file read as typed NULLs — the
  // standard parquet superset-schema read, zero data rewritten at any
  // table size). No file present = exactly the old behavior, so only
  // altered tables take this path. Adds are the ONLY metadata-sound
  // evolution without per-field ids (Iceberg's rename/drop need ids to
  // remap old footers); everything else still goes through overwrite
  // commits, which RETIRE the override (the new shape governs).

  private def schemaPath(table: String) = new Path(s"$table/schema.json")

  /** The side files a [[fork]] carries to its branch, so branch writes
    * route, cluster and resolve like the parent's (field ids carry
    * through [[FieldIds.copyTo]]'s CAS instead).
    */
  private val CarriedSideFiles: Seq[String] =
    Seq("bucketspec", "schema.json", "partitionspec", "sortspec") ++
      DmlKinds.map(k => s"${k}mode")

  /** The declared (ALTER-extended) schema, if any. When it carries
    * field ids (any post-rename/drop declaration does), Spark's parquet
    * id-matching is switched on for the session here — the single
    * chokepoint every read path resolves the override through — so old
    * footers written under historical column names resolve by id.
    */
  def declaredSchema(spark: SparkSession,
      table: String): Option[org.apache.spark.sql.types.StructType] = {
    readSide(fs(spark, table), schemaPath(table)).map { txt =>
      val sch = org.apache.spark.sql.types.DataType.fromJson(txt)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      if (FieldIds.hasIds(sch)) FieldIds.enableRead(spark)
      sch
    }
  }

  /** Install/replace the declared schema (ALTER TABLE's commit): a
    * side-file replace, so a concurrent ALTER racing into the replace
    * window fails loudly instead of silently winning or losing.
    */
  private[graft] def declareSchema(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    require(writeSide(fs(spark, table), schemaPath(table), schema.json,
      replace = true), s"failed to publish declared schema for $table")

  /** Retire the override — a schema-evolving OVERWRITE re-bases the
    * table's shape on its new files, exactly like the bucket-spec
    * retirement route.
    */
  private[sources] def retireDeclaredSchema(spark: SparkSession,
      table: String): Unit = {
    val f = fs(spark, table)
    f.delete(schemaPath(table), false): Unit
  }

  // -------------------------------------------------------------------
  // Named refs and write-audit-publish (WAP): immutable TAGS over the
  // version chain, and metadata-only table FORKS that stage writes for
  // audit before a single-commit FAST-FORWARD into the parent — the
  // Iceberg wap.branch workflow expressed over this manifest format.
  // A fork never copies data (its first manifest references the
  // parent's files by absolute path), so forking a 100 TB table is one
  // small-file write; fast-forward moves only the branch's OWN new
  // data directories (per-directory renames, no byte copy) and
  // publishes one manifest.

  private def tagPath(table: String, name: String) =
    new Path(s"$table/ref-tag-$name.txt")

  private val TagFileRe = "ref-tag-(.+)\\.txt".r

  private[sources] def requireRefName(name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.') &&
      !name.forall(_.isDigit),
      s"invalid ref name '$name' (letters/digits/._- and not all-digits " +
        "— an all-digit name would be ambiguous with VERSION AS OF <n>)")

  /** Create an immutable named tag at committed version `v` (CREATE
    * TAG). Metadata-only: one small ref file, atomic create —
    * re-tagging the SAME version is an idempotent no-op, re-tagging a
    * different one fails (tags never move; use a new name). Tagged
    * versions are protected from [[vacuum]] expiry, which transitively
    * protects their data files from deletion.
    */
  def tag(spark: SparkSession, table: String, name: String, v: Long): Unit = {
    requireRefName(name)
    val vs = versions(spark, table)
    require(vs.contains(v), s"version $v not in $vs")
    tagVersion(spark, table, name) match {
      case Some(`v`) => ()
      case Some(w) => throw new IllegalStateException(
        s"tag '$name' already points at v$w (tags are immutable)")
      case None =>
        if (!writeSide(fs(spark, table), tagPath(table, name), s"$v\n")) {
          // lost a create race: accept iff the winner tagged the same v
          if (!tagVersion(spark, table, name).contains(v))
            throw new IllegalStateException(
              s"tag '$name' was concurrently created at a different version")
        }
    }
  }

  /** The version tag `name` points at, if the tag exists. */
  def tagVersion(spark: SparkSession, table: String, name: String): Option[Long] =
    readSide(fs(spark, table), tagPath(table, name)).map(_.trim.toLong)

  /** All tags of the table, (name, version), name-ascending. */
  def tags(spark: SparkSession, table: String): Seq[(String, Long)] = {
    val f = fs(spark, table)
    val dir = new Path(table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case TagFileRe(n) => tagVersion(spark, table, n).map(n -> _)
      case _ => None
    }).sortBy(_._1)
  }

  // ---- long-lived NAMED BRANCHES over the fork mechanism ------------
  // A branch is a fork directory REGISTERED in its parent under
  // `ref-branch-<name>.txt` (name = the branch dir's basename). The ref
  // makes the branch a first-class part of the parent's lifecycle:
  //  * reads resolve it by name (`.option("branch", b)` on the format,
  //    `VERSION AS OF '<branch>'` through the catalog);
  //  * the parent's vacuum/gc treat every registered branch HEAD's
  //    file references as live (a branch references parent files by
  //    absolute path — expiring them under it would break the branch);
  //  * fast_forward with keepBranch re-bases the branch onto the new
  //    parent head in place, so stage -> publish -> keep staging cycles
  //    run under one stable name (multi-publish, not one-shot WAP).
  // Per-branch retention stays the branch table's own vacuum.

  private def branchRefPath(table: String, name: String) =
    new Path(s"$table/ref-branch-$name.txt")

  private val BranchFileRe = "ref-branch-(.+)\\.txt".r

  /** Registered branches of `table`: (name, branch table path). */
  def branches(spark: SparkSession, table: String): Seq[(String, String)] = {
    val f = fs(spark, table)
    val root = new Path(table)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case BranchFileRe(name) => readSide(f, st.getPath).map(p => name -> p.trim)
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** The registered branch path for `name`, if the branch still exists
    * (a stale ref whose directory is gone resolves to None).
    */
  def branchPathOf(spark: SparkSession, table: String,
      name: String): Option[String] =
    branches(spark, table).collectFirst {
      case (n, p) if n == name && versions(spark, p).nonEmpty => p
    }

  private def writeBranchRef(spark: SparkSession, parent: String,
      branch: String): Unit = {
    val name = new Path(branch).getName
    requireRefName(name)
    require(writeSide(fs(spark, parent), branchRefPath(parent, name),
      normPath(branch), replace = true),
      s"failed to register branch $name on $parent")
  }

  private def removeBranchRef(spark: SparkSession, parent: String,
      branch: String): Unit = {
    val name = new Path(branch).getName
    fs(spark, parent).delete(branchRefPath(parent, name), false): Unit
  }

  /** File references every registered branch's HEAD holds — the
    * cross-table keep set the parent's vacuum/gc must honor. Stale refs
    * (dropped branch dirs) contribute nothing.
    */
  private def branchHeadRefs(spark: SparkSession, table: String): Set[String] =
    branches(spark, table).flatMap { case (_, bp) =>
      versions(spark, bp).lastOption.toSeq.flatMap { v =>
        manifestFiles(spark, bp, v) ++ manifestDeletes(spark, bp, v) ++
          manifestEqDeletes(spark, bp, v).map(_._2)
      }
    }.toSet

  /** Fork the parent's head into a NEW table at `branch` (the WAP
    * staging branch) — metadata-only at any data size: the branch's
    * first manifest references the parent's data files by absolute
    * path, the stats sidecars are copied (KBs) so manifest pruning
    * keeps working on the branch, and the bucket layout carries so
    * writes route identically. Every table operation (commit/merge/
    * deleteWhere/DML/audit reads) then works on the branch unchanged,
    * invisible to parent readers, until [[fastForward]] publishes it.
    *
    * Lifecycle contract: while a fork is open, do not [[vacuum]]/[[gc]]
    * the parent below the fork point (the branch references those
    * files by path). [[fastForward]]'s head-must-equal-fork-point rule
    * makes a parent advance impossible to miss; expiry discipline is
    * the operator's, exactly as in Iceberg's WAP.
    */
  def fork(spark: SparkSession, parent: String, branch: String): Long = {
    // the branch registers under its basename, so validate it BEFORE
    // any filesystem work — failing after the branch dir is created
    // and published would leave an unregistered (vacuum-unprotected)
    // fork on disk
    requireRefName(new Path(branch).getName)
    val pvs = versions(spark, parent)
    require(pvs.nonEmpty, s"no committed snapshot in $parent")
    require(versions(spark, branch).isEmpty,
      s"fork target $branch already has commits")
    require(normPath(parent) != normPath(branch),
      "fork target must be a different directory")
    // equality-delete scopes are PARENT version numbers; a branch's
    // versions restart at 1, so carried scopes would misclassify every
    // branch-staged file. Purge first — the fork then carries plain
    // files (+ position sidecars, which are version-free).
    requireNoEqDeletes(spark, parent, "fork", pvs.last)
    val head = pvs.last
    val files = manifestFiles(spark, parent, head)
    val f = fs(spark, branch)
    f.mkdirs(new Path(branch))
    val pf = fs(spark, parent)
    // the layout side files carry verbatim, the stats sidecars (KBs)
    // keyed by the parent files' absolute paths
    CarriedSideFiles.foreach { name =>
      readSide(pf, new Path(s"$parent/$name")).foreach(body =>
        writeSide(f, new Path(s"$branch/$name"), body, replace = true))
    }
    FileStats.carry(spark, parent, branch)
    // the field-id assignment forks with the table: branch writes stamp
    // the SAME ids as the parent's files, so a fast-forward publishes
    // id-consistent footers (branch-side ALTERs extend the branch copy;
    // fastForward adopts them back via FieldIds.syncFromCarried)
    FieldIds.copyTo(spark, parent, branch)
    // the token embeds the PARENT'S IDENTITY, not just its version:
    // fast_forward against the wrong parent whose head happens to equal
    // the fork point would otherwise publish foreign absolute paths into
    // that parent's manifest — and its vacuum would later delete another
    // table's data files. Scheme-free normalized path, URI-encoded:
    // tokens are single-word (commitToken splits the header on spaces,
    // and a root may hold one). Outstanding
    // position-delete sidecars carry by path like the data files.
    if (!claimManifest(f, branch, 1L, Manifest(
        Some(s"fork-of-v$head@${new Path(normPath(parent)).toUri.getRawPath}"), files,
        manifestDeletes(spark, parent, head))))
      throw new IllegalStateException(s"fork target $branch was concurrently created")
    // register the branch on its parent: reads resolve it by name and
    // the parent's vacuum/gc keep its head's references alive
    writeBranchRef(spark, parent, branch)
    1L
  }

  /** The parent version a fork was cut from (its v1 token), if `branch`
    * is a fork. Tolerates both token shapes: `fork-of-v<N>` (pre-parent-
    * identity) and `fork-of-v<N>@<parent-path>`.
    */
  def forkPoint(spark: SparkSession, branch: String): Option[Long] =
    if (versions(spark, branch).isEmpty) None
    else commitToken(spark, branch, 1L).collect {
      case t if t.startsWith("fork-of-v") =>
        t.stripPrefix("fork-of-v").takeWhile(_ != '@').toLong
    }

  /** The parent table a fork was cut from (scheme-free path, recorded
    * URI-encoded: a token is one word), when the
    * fork token recorded it.
    */
  def forkParent(spark: SparkSession, branch: String): Option[String] =
    if (versions(spark, branch).isEmpty) None
    else commitToken(spark, branch, 1L).collect {
      case t if t.startsWith("fork-of-v") && t.contains('@') =>
        new java.net.URI(t.dropWhile(_ != '@').drop(1)).getPath
    }

  /** PUBLISH a fork: make the branch's head the parent's next version
    * in ONE commit (the WAP "publish" step). The branch's own data
    * directories are RENAMED under the parent (no byte copy — the
    * parent stays self-contained so its gc/vacuum lifecycle owns every
    * file it references), their footer stats re-recorded under the
    * parent, and the published manifest is the branch head's file list
    * — its branch-relative entries name the moved files under the
    * parent unchanged ([[TablePaths]]). Conflict rule: the parent head must
    * still be the fork point — if the parent advanced, this fails
    * loudly and the caller re-forks and re-stages (rebase-by-redo, the
    * same discipline as a lost optimistic commit). The branch is
    * dropped on success (`dropBranch=false` keeps it for inspection,
    * but its manifests then reference moved paths).
    */
  def fastForward(spark: SparkSession, parent: String, branch: String,
      dropBranch: Boolean = true): Long = {
    val fp = forkPoint(spark, branch).getOrElse(throw new IllegalArgumentException(
      s"$branch is not a fork (no fork-of-v token on its v1)"))
    // identity check: the fork token records WHICH parent it was cut
    // from — publishing into a different table whose head merely equals
    // the fork point would splice foreign absolute paths into that
    // table's manifest (and its vacuum would later delete the other
    // table's data). Validated before any dir is moved.
    forkParent(spark, branch).foreach { rec =>
      require(rec == normPath(parent),
        s"$branch was forked from $rec, not from ${normPath(parent)} — " +
          "fast-forward refuses to publish into a foreign parent")
    }
    val pvs = versions(spark, parent)
    require(pvs.nonEmpty && pvs.last == fp,
      s"parent advanced since fork (head v${pvs.lastOption.getOrElse(-1L)} != " +
        s"fork point v$fp) — re-fork and re-stage")
    // declared-schema carry: an ALTER TABLE ADD COLUMNS run ON THE
    // BRANCH must reach the parent with the publish — otherwise the
    // published manifest mixes old-shape and new-shape files with no
    // override and footer inference nondeterministically drops the
    // added columns. Adds are unioned (parent column order first);
    // a same-name type conflict has no metadata-sound resolution and
    // refuses loudly before anything moves.
    val pSch = declaredSchema(spark, parent)
    val carried: Option[org.apache.spark.sql.types.StructType] =
      (declaredSchema(spark, branch), pSch) match {
        case (None, _) => None
        case (Some(b), None) => Some(b)
        case (Some(b), Some(p)) if b == p => None
        case (Some(b), Some(p)) =>
          for (pf <- p.fields; bf <- b.fields
               if bf.name == pf.name && bf.dataType != pf.dataType)
            throw new IllegalStateException(
              s"fast-forward $branch -> $parent: column '${pf.name}' is " +
                s"${pf.dataType.simpleString} on the parent but " +
                s"${bf.dataType.simpleString} on the branch — declared " +
                "schemas diverged incompatibly; resolve before publishing")
          Some(org.apache.spark.sql.types.StructType(
            p.fields ++ b.fields.filterNot(bf => p.fieldNames.contains(bf.name))))
      }
    // adopt branch-assigned field ids BEFORE anything moves: branch-added
    // columns keep the identity their staged files were stamped with, and
    // an id claimed by DIFFERENT names on the two sides (a branch-side
    // rename racing a parent-side one) refuses loudly while the parent is
    // still untouched. Adopted-but-unpublished entries are harmless —
    // they only reserve ids.
    carried.foreach { c =>
      FieldIds.load(spark, parent).foreach(
        FieldIds.syncFromCarried(spark, parent, _, c): Unit)
    }
    // restore the parent's pre-publish override when a carried declare
    // must be undone (lost race / failed rename)
    def restoreParentSchema(): Unit = if (carried.isDefined) pSch match {
      case Some(p) => declareSchema(spark, parent, p)
      case None => retireDeclaredSchema(spark, parent)
    }
    val bHead = versions(spark, branch).last
    // equality-delete scopes are BRANCH version numbers; published into
    // the parent's numbering they would misclassify files. Purge on the
    // branch, then publish (position sidecars are version-free and carry).
    requireNoEqDeletes(spark, branch, "fast-forward (branch side)", bHead)
    val bFiles = manifestFiles(spark, branch, bHead)
    val bDels = manifestDeletes(spark, branch, bHead)
    // semantic no-op: nothing was staged (branch head still carries
    // exactly the fork point's file AND sidecar sets) — publish
    // nothing, like restore-to-head; the branch is still consumed per
    // the contract. A branch-side ALTER is still metadata the parent
    // must inherit (ALTER alone never bumps versions, so this stays a
    // no-op commit).
    if (bFiles.toSet == manifestFiles(spark, parent, fp).toSet &&
        bDels.toSet == manifestDeletes(spark, parent, fp).toSet) {
      carried.foreach(declareSchema(spark, parent, _))
      if (dropBranch) drop(spark, branch)
      return fp
    }
    val f = fs(spark, parent)
    // the branch's OWN files are recorded branch-relative
    // (`data/<uuid>/…`, `deletes/<uuid>/…`): each staged dir moves under
    // the parent with its name, so the same relative entry names the
    // moved file there, and a staged sidecar's relative rows follow the
    // staged data files they target
    val (bTp, pTp) = (TablePaths(spark, branch), TablePaths(spark, parent))
    val dirs = (bFiles ++ bDels).flatMap(bTp.within)
      .map(_.split('/').take(2).mkString("/")).distinct
    // a UUID-named dir colliding with one of the parent's is practically
    // impossible; refuse rather than merge into a foreign dir
    dirs.foreach(d => require(!f.exists(new Path(s"$parent/$d")),
      s"fast-forward $branch -> $parent: staged dir $d already exists in the parent"))
    dirs.map(_.takeWhile(_ != '/')).distinct.foreach(d => f.mkdirs(new Path(s"$parent/$d")))
    // every successfully relocated dir is tracked so a FAILED rename
    // mid-loop (or a concurrent fast-forward racing the same branch)
    // rolls the already-moved dirs back under the branch — without it a
    // partial move leaves the branch's manifests referencing relocated
    // paths with no published parent version and no healing path
    val relocated = scala.collection.mutable.ArrayBuffer.empty[String]
    def rollbackDirs(): Unit =
      relocated.reverseIterator.foreach { d =>
        // best effort — an unmovable dir is left for the parent's gc,
        // which sees it as unreferenced
        try f.rename(new Path(s"$parent/$d"), new Path(s"$branch/$d")): Unit
        catch { case scala.util.control.NonFatal(_) => () }
      }
    try dirs.foreach { d =>
      require(f.rename(new Path(s"$branch/$d"), new Path(s"$parent/$d")),
        s"failed to move staged ${d.replaceFirst("/", " dir ")} into $parent")
      relocated += d
    } catch { case scala.util.control.NonFatal(e) =>
      rollbackDirs()
      throw e
    }
    val newFiles = bFiles.map(bTp.movedTo(pTp))
    val newDels = bDels.map(bTp.movedTo(pTp))
    // a carried branch-side ALTER must be visible BEFORE the manifest
    // that first mixes old- and new-shape files is readable (the brief
    // declare-without-commit window is additive-only: readers see the
    // added columns as typed NULLs)
    carried.foreach(declareSchema(spark, parent, _))
    val next = fp + 1
    if (!claimManifest(f, parent, next, Manifest(Some(s"wap-of-v$bHead"),
        newFiles, newDels))) {
      // a concurrent commit won v(next): undo the carried declare and
      // roll the staged dirs back under the branch so the branch stays
      // inspectable and a re-fork + re-stage starts clean
      restoreParentSchema()
      rollbackDirs()
      throw new IllegalStateException(
        s"parent $parent advanced during fast-forward (lost v$next) — re-fork")
    }
    // stats for the moved files are recorded only AFTER the publish
    // succeeded: the sidecar is append-only, so recording before a lost
    // race would permanently append dead lines for rolled-back paths
    // (readers tolerate missing stats conservatively — worst case one
    // un-pruned read between publish and this record)
    FileStats.record(spark, parent, bFiles.filter(bTp.within(_).isDefined).map(bTp.movedTo(pTp)))
    if (dropBranch) drop(spark, branch)
    else {
      // LONG-LIVED branch: re-base it onto the published head in place
      // (its staged dirs just moved into the parent, so its old
      // manifests are dead) — the name and ref survive and the next
      // stage -> publish cycle continues from the new state
      drop(spark, branch)
      fork(spark, parent, branch): Unit
    }
    next
  }

  /** The clustering disorder above which [[maintain]] re-sorts. */
  private val MaxDisorder = 0.5

  /** AUTOMATED MAINTENANCE POLICY — `CALL cat.system.maintain(table)`:
    * inspect the manifest state and apply the maintenance the measured
    * economics (PLANS.md curves) say the table needs, in order. The
    * autopilot a 100 TB operator runs on a schedule instead of watching
    * four knobs per table. Decision matrix (each step's threshold cites
    * its curve):
    *
    * Steps 1-3 are FOLDS. Each picks its files at the head by its own
    * rule, and their union is read once through the fully resolved
    * view, bin-packed to ceil(bytes/target) outputs (per bucket) and
    * published as ONE row-preserving commit ([[foldRewrite]], the
    * rewrite of Iceberg's `rewrite_data_files`, which applies delete
    * files while it bin-packs). The commit drops every equality line
    * and every position line whose files are all rewritten or dead.
    *
    *  1. EQUALITY sidecars outstanding → fold the files a key hits
    *     (`purgeEqDeletes`' set). They add a keyed scoped anti-join to
    *     every read AND block vacuum / rename / fork (the add-version
    *     derivation must stay exact), so any outstanding set is worth
    *     folding (round-8 eq-upsert economics: cost ∝ key-HIT files
    *     only). The hit probe scans only the reachable files steps 2-3
    *     do not already rewrite — none when every file is small.
    *  2. POSITION sidecars past the envelope → fold the files they
    *     reference (`purgeDeletes`' set) when the estimated DECODED
    *     delete side exceeds half `graft.snapshot.deleteBroadcastBytes`.
    *     Below that the read tax is join-shaped, not volume-shaped
    *     (round-9/10 read-tax curve: ~2.4× flat once ANY sidecar
    *     exists, near-linear growth after), so folding tiny sidecars
    *     buys little; past half the threshold the broadcast envelope (a
    *     memory cap, not a latency knob) is approaching and the cost is
    *     still ∝ touched files.
    *  3. SMALL-FILE tail → fold it (`binPack`'s set) when at least
    *     `minInputFiles` files sit under `targetBytes` (cost ∝
    *     small-file bytes only — the continuous-ingest primitive).
    *  4. CLUSTERING DRIFT vs the declared write order → full re-sort
    *     `compact` into ceil(bytes/target) files when the DISORDER of
    *     the first declared sort column exceeds [[MaxDisorder]] (0.5):
    *     disorder = fraction of files (sorted by range min) whose range
    *     overlaps the next file's — 0 on a freshly clustered table,
    *     ~1 on round-robin ingest. Threshold at 0.5 because the SPJ/pruning crossover
    *     (PLANS.md) shows range-pruning pays once files are mostly
    *     disjoint; a full re-sort is the one data-∝-table-bytes action
    *     here, so it fires only on real drift.
    *
    * Returns one (action, detail, version) row per action taken — the
    * folds that fired (`purge_eq_deletes`, `purge_deletes`,
    * `rewrite_small_files`, in that order) all carry the one version
    * their rewrite published; an already-maintained table returns NO
    * rows (idempotence is the spec-pinned contract).
    */
  def maintain(spark: SparkSession, table: String,
      targetBytes: Long = DefaultTargetBytes,
      minInputFiles: Int = 4): Seq[(String, String, Long)] = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val actions = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    // 1-3. the folds, planned at the head: the small-file tail and the
    // position fold first, so the equality probe skips their files
    val src = vs.last
    val m = manifest(spark, table, src)
    val smalls = smallTail(spark, table, m.files, targetBytes, minInputFiles)
    // the position fold's threshold is the SAME estimate the read path
    // routes on (PositionDeletes.decodedBytesEstimate: v1 by footer row
    // count, v2 by the sidecar's exact per-file `card` column,
    // saturating to Long.MaxValue on any read failure so a failure
    // FORCES the fold rather than silently skipping it)
    val decoded = PositionDeletes.decodedBytesEstimate(spark, m.deletes)
    val threshold = spark.conf
      .get("graft.snapshot.deleteBroadcastBytes", (64L << 20).toString).toLong
    // decoded > threshold/2, written overflow-free (decoded saturates)
    val foldPositions = m.deletes.nonEmpty && decoded > threshold / 2
    val positionHits =
      if (foldPositions) m.files.filter(PositionDeletes.referencedDataFiles(spark, m.deletes).toSet)
      else Nil
    val taken = (smalls ++ positionHits).toSet
    val eqHits = eqHitFiles(spark, table, src, m.files.filterNot(taken), m.deletes, m.eqDeletes)
    val folds = Seq(
      ("purge_eq_deletes", m.eqDeletes.nonEmpty, s"${m.eqDeletes.size} sidecar(s) folded"),
      ("purge_deletes", foldPositions,
        s"${m.deletes.size} sidecar(s), ~$decoded decoded bytes folded"),
      ("rewrite_small_files", smalls.nonEmpty, s"${smalls.size} small file(s)"))
      .filter(_._2)
    if (folds.nonEmpty) {
      val v = foldRewrite(spark, table, src, taken ++ eqHits, targetBytes,
        "maintain", s"maintain-of-v$src")
      actions ++= folds.map { case (action, _, detail) => (action, detail, v) }
    }
    // 4. clustering drift vs the declared write order (or, absent one,
    // the partition transform's source column — transform clustering is
    // what the spec promises future reads, so drift against it is the
    // same measured signal)
    sortSpec(spark, table).headOption
      .orElse(PartitionSpecs.current(spark, table).map(_.column))
      .foreach { sortCol =>
      val files = dataFiles(spark, table)
      if (files.length > 1) {
        val stats = FileStats.load(spark, table)
        val ranges = files.flatMap(p =>
          stats.get(p).flatMap(_.get(sortCol))
            .filter(r => r.min.isDefined && r.max.isDefined))
        // only judge drift when every file carries a range — partial
        // stats would understate overlap and misfire either way
        if (ranges.length == files.length) {
          val tag = ranges.head.tag
          val sorted = ranges.sortWith((a, b) =>
            FileStats.cmp(tag, a.min.get, b.min.get) < 0)
          val overlaps = sorted.sliding(2).count {
            case Seq(a, b) => FileStats.cmp(tag, b.min.get, a.max.get) <= 0
            case _ => false
          }
          val disorder = overlaps.toDouble / (files.length - 1)
          if (disorder > MaxDisorder) {
            val f = fs(spark, table)
            val totalBytes = files.map { p =>
              try f.getFileStatus(new Path(p)).getLen
              catch { case scala.util.control.NonFatal(_) => 0L }
            }.sum
            val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
            val before = versions(spark, table).last
            // the rewrite re-clusters through writeData's declared-order
            // range partition (disjoint per-file ranges), so the next
            // maintain reads disorder 0 — idempotence. compact's own
            // already-compacted guard can decline; never report a no-op.
            val v = compact(spark, table, n)
            if (v != before)
              actions += (("compact_resort",
                f"disorder $disorder%.2f over '$sortCol' re-clustered by declared order", v))
          }
        }
      }
    }
    // 5. STALE MATERIALIZED VIEWS registered on this table → refresh.
    // Cost ∝ the feed since each view's last refresh plus the view's
    // own size (never ∝ this table) — see MaterializedViews. Runs LAST:
    // steps 1-4 may commit maintenance versions, and one refresh after
    // them folds everything (maintenance commits are row-preserving, so
    // they add nothing to the feed anyway).
    MaterializedViews.registered(spark, table).foreach { case (name, mvPath) =>
      val head = versions(spark, table).last
      if (MaterializedViews.refreshedThrough(spark, mvPath) != head) {
        val v = MaterializedViews.refresh(spark, mvPath)
        actions += (("refresh_mv", s"$name caught up to base v$head", v))
      }
    }
    // 6. DECLARED RETENTION → expire history. Opt-in only (expiry is an
    // irreversible deletion; no policy, no expiry): keep at least
    // `versions` AND everything younger than `days` (manifest publish
    // time). Runs LAST — after the MV refreshes above consumed their
    // feeds (expiring a view's refresh mark first would force its
    // full-recompute fallback), and after steps 1-4 possibly appended
    // maintenance versions (which are then subject to the same policy
    // on the NEXT pass — never expiring the head they just published).
    // Tags and registered branch heads survive per vacuum's standing
    // rule; lagging streams hit the vacuumed-offset failOnDataLoss
    // contract, so size `days` past the longest consumer outage.
    retention(spark, table).foreach { case (keepV, keepD) =>
      val vs2 = versions(spark, table)
      val f = fs(spark, table)
      val now = System.currentTimeMillis()
      val youngEnough = keepD.map { d =>
        val cutoff = now - d.toLong * 24L * 3600 * 1000
        vs2.count { v =>
          try f.getFileStatus(new Path(s"$table/manifest-v$v.json"))
            .getModificationTime >= cutoff
          catch { case scala.util.control.NonFatal(_) => true }
        }
      }.getOrElse(0)
      val keep = math.max(math.max(keepV.getOrElse(1), 1), youngEnough)
      if (vs2.length > keep) {
        val reclaimed = vacuum(spark, table, keep)
        val after = versions(spark, table)
        // all-tagged candidates expire nothing: no action row (the
        // idempotent-second-pass contract reports real work only)
        if (after.length < vs2.length)
          actions += (("expire_history",
            s"${vs2.length - after.length} version(s) expired past " +
              s"policy(versions=${keepV.getOrElse(1)}" +
              keepD.map(d => s", days=$d").getOrElse("") +
              s"), $reclaimed file(s) reclaimed", after.last))
      }
    }
    actions.toSeq
  }

  /** Drop the whole table — manifests, data, history. Fails loudly if
    * the filesystem could not remove the root (a silent partial delete
    * followed by a rebuild is the table-corruption class the q81
    * idempotency guard exists to prevent). A nonexistent table is a
    * successful no-op.
    */
  def drop(spark: SparkSession, table: String): Unit = {
    val f = fs(spark, table)
    val root = new Path(table)
    if (f.exists(root)) {
      // a registered BRANCH deregisters from its parent on drop, so the
      // parent's vacuum/gc stop holding its references alive (stale
      // refs are tolerated everywhere, this just tidies eagerly)
      try forkParent(spark, table).foreach(p =>
        removeBranchRef(spark, p, table))
      catch { case scala.util.control.NonFatal(_) => () }
      require(f.delete(root, true), s"failed to drop snapshot table $table")
    }
    graft.Memo.invalidateTable(table)
  }
}
