package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** Per-field ID assignment — the metadata that makes ALTER TABLE
  * RENAME/DROP COLUMN sound as METADATA-ONLY operations (Iceberg's
  * reason for field ids: a name is a label, an id is an identity).
  *
  * The table-root sidecar `fieldids.json` holds `{"next":N,
  * "fields":{"name":id,...}}` — the CURRENT logical name of every
  * column and its immutable id, plus a never-reused allocation cursor.
  * Every data write stamps the assignment into the outgoing schema as
  * `parquet.field.id` field metadata, which Spark's parquet writer
  * persists into the footers (`spark.sql.parquet.fieldId.write.enabled`,
  * default on). A rename re-labels the map key and re-declares the
  * schema override; a drop removes the entry WITHOUT lowering `next`,
  * so a re-added name gets a fresh id and the dropped column's bytes in
  * old files can never resurrect under it. Readers pass the id-carrying
  * declared schema to the stock parquet reader with
  * `spark.sql.parquet.fieldId.read.enabled` — files written under any
  * historical name resolve by id, zero data rewritten at any table
  * size.
  *
  * SOUNDNESS INVARIANT: renames/drops are only honored when the state
  * file has existed since every live data file was written (created at
  * table birth, or at a full-rewrite adoption point — an overwrite
  * commit or a full compaction, both of which replace the entire file
  * set with freshly-stamped files). A reader asked to id-match a file
  * whose footer carries no ids fails LOUDLY (Spark's own refusal), so
  * a violated invariant can never produce silent nulls.
  *
  * Reference intent: the staging layer's wholesale re-labeling
  * (models/staging/stg_customers.sql:3-9 renames every source column)
  * without a per-read projection or a data rewrite.
  */
private[graft] object FieldIds {

  /** Spark's parquet field-id metadata key (ParquetUtils.FIELD_ID_METADATA_KEY). */
  val MetaKey = "parquet.field.id"

  final case class State(next: Int, fields: Map[String, Int]) {
    def idOf(name: String): Option[Int] = fields.get(name)
  }

  // state lives in VERSIONED files published by atomic create —
  // fieldids-v{N}.json — so every mutation is a compare-and-swap on N:
  // two concurrent schema-extending writers can never both win the same
  // slot and allocate one id to two different names (the silent-alias
  // class a last-writer-wins overwrite permits). The unversioned
  // fieldids.json is the legacy layout, read as version 0 and
  // superseded by the first CAS publish.
  private def legacyPath(table: String) = new Path(s"$table/fieldids.json")
  private def versionedPath(table: String, v: Long) =
    new Path(s"$table/fieldids-v$v.json")
  private val VersionedRe = "fieldids-v(\\d+)\\.json".r

  private def fs(spark: SparkSession, table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // serialization is hand-rolled like the manifest: names escape quote/
  // backslash/control chars so a pathological column name cannot break
  // the file
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

  def load(spark: SparkSession, table: String): Option[State] =
    loadWithVersion(spark, table)._1

  /** Current state plus the storage version it was read at (0 = legacy
    * file or no state) — the CAS token [[mutate]] publishes against.
    */
  private def loadWithVersion(spark: SparkSession,
      table: String): (Option[State], Long) = {
    val f = fs(spark, table)
    val root = new Path(table)
    val latest =
      try f.listStatus(root).iterator.flatMap(st => st.getPath.getName match {
        case VersionedRe(n) => Some(n.toLong)
        case _ => None
      }).foldLeft(0L)(math.max)
      catch { case _: java.io.FileNotFoundException => 0L }
    val p = if (latest > 0) versionedPath(table, latest) else legacyPath(table)
    Snapshots.readSide(f, p) match {
      case Some(txt) => (Some(parse(txt)), latest)
      case None => (None, 0L)
    }
  }

  private[sources] def parse(txt: String): State = {
    val next = """"next"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"fieldids.json missing next: $txt"))
    // entries are "<escaped name>":<id> inside the fields object; the
    // regex tolerates escaped quotes inside the name
    val body = """"fields"\s*:\s*\{(.*)\}""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*(\d+)""".r
    State(next, entry.findAllMatchIn(body)
      .map(m => unesc(m.group(1)) -> m.group(2).toInt).toMap)
  }

  private[sources] def render(st: State): String =
    s"""{"next":${st.next},"fields":{""" +
      st.fields.toSeq.sortBy(_._2)
        .map { case (n, i) => s""""${esc(n)}":$i""" }.mkString(",") + "}}"

  /** Attempt to publish `st` as storage version `v` — an ATOMIC CREATE
    * through the side-file seam ([[Snapshots.writeSide]]), so exactly
    * one of two racers wins the slot. Returns false on a lost race.
    */
  private def casPublish(spark: SparkSession, table: String, v: Long,
      st: State): Boolean =
    Snapshots.writeSide(fs(spark, table), versionedPath(table, v), render(st))

  /** Atomically transform the table's field-id state: load the latest,
    * apply `f`, publish at the next storage version via atomic create;
    * a lost race reloads and RE-APPLIES `f` to the winner's state — the
    * read-modify-write is serializable, never last-writer-wins. `f`
    * receives None when the table has no state yet. A no-op transform
    * (f returns the loaded state) publishes nothing.
    */
  def mutate(spark: SparkSession, table: String,
      f: Option[State] => State): State = {
    var attempt = 0
    while (attempt < 64) {
      val (cur, ver) = loadWithVersion(spark, table)
      val next = f(cur)
      if (cur.contains(next)) return next
      if (casPublish(spark, table, ver + 1, next)) return next
      attempt += 1
      // jittered backoff: under N-writer contention exactly one CAS
      // wins per round, so a loser needs up to N rounds — spacing the
      // retries out keeps the losers from thundering on every slot
      Thread.sleep(
        java.util.concurrent.ThreadLocalRandom.current().nextLong(1L, 10L * attempt))
    }
    throw new IllegalStateException(
      s"graft-snapshot $table: lost 64 straight field-id publish races")
  }

  /** Drop the table's field-id state entirely — the ROLLBACK hook for
    * an adoption point whose full rewrite failed after init (leaving
    * the state in place would claim an all-files-stamped invariant the
    * surviving old files violate).
    */
  private[graft] def deleteState(spark: SparkSession, table: String): Unit = {
    val f = fs(spark, table)
    f.delete(legacyPath(table), false)
    try f.listStatus(new Path(table)).foreach { st =>
      st.getPath.getName match {
        case VersionedRe(_) => f.delete(st.getPath, false): Unit
        case _ => ()
      }
    } catch { case _: java.io.FileNotFoundException => () }
  }

  /** Assign ids 1..n for `schema` and persist — the table-birth hook
    * (and the full-rewrite adoption hook: an overwrite commit or a
    * full compaction replaces every file with freshly-stamped ones, so
    * initializing there re-establishes the invariant). Idempotent AND
    * race-safe: an existing state wins outright.
    */
  def init(spark: SparkSession, table: String, schema: StructType): State =
    mutate(spark, table, cur => cur.getOrElse(
      State(schema.fields.length + 1,
        schema.fields.zipWithIndex.map { case (f, i) => f.name -> (i + 1) }.toMap)))

  /** Extend the state with fresh ids for names in `schema` it does not
    * map (a CAS [[mutate]] when anything changed — two concurrent
    * schema-extending writers can never allocate one id to two names),
    * and return the schema with the id metadata attached. The single
    * write-side chokepoint: appends see no new names (strict schema),
    * overwrites/ALTER ADD extend.
    */
  def extendAndAttach(spark: SparkSession, table: String, st: State,
      schema: StructType): (State, StructType) = {
    def extend(base: State): State = {
      var cur = base
      schema.fields.foreach { f =>
        if (!cur.fields.contains(f.name))
          cur = State(cur.next + 1, cur.fields + (f.name -> cur.next))
      }
      cur
    }
    val cur =
      if (schema.fields.forall(f => st.fields.contains(f.name))) st
      else mutate(spark, table, opt => extend(opt.getOrElse(st)))
    (cur, attach(cur, schema))
  }

  /** Copy the latest state of `from` to `to` (the fork hook: branch
    * writes stamp the parent's ids). No-op when `from` has none.
    */
  private[graft] def copyTo(spark: SparkSession, from: String,
      to: String): Unit =
    load(spark, from).foreach(st => mutate(spark, to, _ => st): Unit)

  /** `schema` with each mapped field's id in its metadata (unmapped
    * fields — internal columns like the bucket tag — pass through).
    */
  def attach(st: State, schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      st.idOf(f.name) match {
        case Some(id) => f.copy(metadata = withId(f.metadata, id))
        case None => f
      }
    })

  private def withId(m: Metadata, id: Int): Metadata =
    new MetadataBuilder().withMetadata(m).putLong(MetaKey, id.toLong).build()

  /** True when any field carries an id — the read-side dispatch. */
  def hasIds(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(MetaKey))

  /** `schema` with every field-id annotation removed. Applied at every
    * FOOTER-INFERENCE boundary: Spark's parquet schema conversion
    * copies footer ids into the inferred StructType's metadata, and
    * with id-matching enabled session-wide an inferred id-carrying
    * schema would then REQUIRE ids of every file — breaking reads of
    * tables that mix stamped files with externally-written ones. The
    * contract is: ids reach a read schema ONLY from the declared
    * schema, where the all-files-stamped invariant holds.
    */
  def strip(schema: StructType): StructType =
    if (!hasIds(schema)) schema
    else StructType(schema.fields.map { f =>
      if (!f.metadata.contains(MetaKey)) f
      else f.copy(metadata = withoutId(f.metadata))
    })

  // Metadata is an immutable json-backed map with no remove — filter
  // through its json form (json4s ships inside Spark)
  private def withoutId(m: Metadata): Metadata = {
    import org.json4s.JObject
    val jm = org.json4s.jackson.JsonMethods
    jm.parse(m.json) match {
      case o: JObject =>
        Metadata.fromJson(jm.compact(jm.render(
          JObject(o.obj.filterNot(_._1 == MetaKey)))))
      case _ => m
    }
  }

  /** Stamp the assignment onto an outgoing frame (a metadata-only
    * projection — stays inside whole-stage codegen). Extends the state
    * for unmapped names first, so the footer a file is born with always
    * matches the persisted assignment.
    */
  def stamp(spark: SparkSession, table: String, st: State,
      df: DataFrame): DataFrame = {
    val (cur, _) = extendAndAttach(spark, table, st, df.schema)
    stampWith(cur, df)
  }

  /** Stamp from a state held IN MEMORY, persisting nothing — the
    * table-birth / legacy-adoption path, where the state file must not
    * exist until the freshly-stamped file set is durably published.
    */
  private[graft] def stampWith(st: State, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(df.schema.fields.map { f =>
      st.idOf(f.name) match {
        case Some(id) => col(f.name).as(f.name, withId(f.metadata, id))
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Enable Spark's parquet id-matching on this session (idempotent;
    * harmless for schemas without ids — those keep name matching).
    */
  def enableRead(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** RENAME COLUMN in the state: same id, new label. */
  def rename(st: State, from: String, to: String): State = {
    val id = st.fields.getOrElse(from,
      throw new IllegalArgumentException(s"no field-id entry for $from"))
    State(st.next, st.fields - from + (to -> id))
  }

  /** DROP COLUMN in the state: entry removed, cursor NOT lowered —
    * a later re-add of the name gets a fresh id (no resurrection).
    */
  def drop(st: State, name: String): State =
    State(st.next, st.fields - name)

  /** Adopt a carried (fast-forward) schema's id metadata into the
    * parent's state: branch-assigned ids for branch-added columns keep
    * their identity (branch files were stamped with them), and the
    * cursor advances past every adopted id. Refuses an id claimed by
    * DIFFERENT names on the two sides — concurrent ALTERs diverged and
    * an id-matched read would alias two columns.
    */
  def syncFromCarried(spark: SparkSession, table: String, st: State,
      carried: StructType): State =
    mutate(spark, table, opt => {
      var cur = opt.getOrElse(st)
      carried.fields.foreach { f =>
        if (f.metadata.contains(MetaKey)) {
          val id = f.metadata.getLong(MetaKey).toInt
          cur.fields.find { case (n, i) => i == id && n != f.name }.foreach {
            case (other, _) => throw new IllegalStateException(
              s"graft-snapshot $table: field id $id is '$other' on the " +
                s"parent but '${f.name}' on the branch — concurrent ALTERs " +
                "diverged; re-create the branch from the current parent")
          }
          if (!cur.fields.contains(f.name))
            cur = State(math.max(cur.next, id + 1), cur.fields + (f.name -> id))
        }
      }
      cur
    })
}
