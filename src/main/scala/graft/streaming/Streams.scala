package graft.streaming

import graft.functions.AvroCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-streaming operator layer (SURVEY §2.9).
  *
  * Sources are passed in as streaming DataFrames so the identical plan
  * runs from Kafka in production and from MemoryStream / the file source
  * in tests (the spark-sql-kafka jar is absent in this environment —
  * SURVEY S16). Every builder is a pure DataFrame→DataFrame transform;
  * sinks are separate so checkpointing stays caller-controlled.
  */
object Streams {

  /** T6/A7: streaming word count (socket word count,
    * lab06-avro-streaming/socket_streaming.py:17-18). Complete-mode state
    * grows with vocabulary — see windowedCounts for the bounded variant.
    */
  def wordCount(lines: DataFrame): DataFrame =
    lines.select(explode(split(col("value"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").count()

  /** T3/T4: Avro-decode the `value` column, star-expand, keep whatever
    * source-metadata columns the input carries (topic/partition/offset on
    * Kafka). Ref: spark_kafka_foreachbatch.py:51-75.
    */
  def decodeAvro(raw: DataFrame, schemaJson: String): DataFrame = {
    val meta = raw.columns.filter(_ != "value").map(col)
    raw.select(AvroCodec.from_avro(col("value"), schemaJson).as("data") +: meta: _*)
      .select(col("data.*") +: meta: _*)
  }

  /** Checkpoint-identity digest for commit tokens (Delta's txnAppId
    * shape): batch ids are only unique PER CHECKPOINT, so every tokened
    * sink pairs them with this digest — a second sink (or a restarted
    * one on a fresh checkpoint) must not have its batch 0 silently
    * swallowed by another checkpoint's batch-0 token.
    */
  private def checkpointApp(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  /** T5/S19: foreachBatch parquet sink — per-batch `batch_id` +
    * `ingest_ts` enrichment, append partitioned by batch_id. AT-LEAST-
    * ONCE across crash replay: the parquet append is not transactional,
    * so a batch whose append finished but whose offset commit did not
    * re-appends on restart (its batch_id partition then holds the rows
    * twice). [[snapshotSink]] is the exactly-once upgrade. Ref:
    * spark_kafka_foreachbatch.py:79-98.
    */
  def foreachBatchParquetSink(df: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .withColumn("batch_id", lit(batchId))
          .withColumn("ingest_ts", current_timestamp())
          .write.mode("append").partitionBy("batch_id").parquet(outDir)
      }
      .start()

  /** T7: idempotent file-stream ingest — the lab05 Airflow DAG
    * (dags/fuel_ingest_dag.py:92-208) re-expressed Spark-native: the file
    * source + checkpoint replaces the filename watermark, per-batch
    * dropDuplicates(key) + append replaces ON CONFLICT DO NOTHING for
    * every NORMALLY processed batch (the file source never re-serves a
    * processed file). Crash replay is AT-LEAST-ONCE: a batch that
    * appended but did not reach its offset commit re-appends on restart
    * — dropDuplicates is batch-local. [[upsertAppendSink]] adds the
    * cross-batch conflict check; [[snapshotSink]] is transactional.
    */
  def fileIngest(spark: SparkSession, srcDir: String, schema: StructType,
      key: String, outDir: String, checkpointDir: String): StreamingQuery = {
    val src = SourceFactory.open(spark,
        SourceFactory.Dir(srcDir, schema, maxFilesPerTrigger = 10)) // T1 bound
      .withColumn("source_file", input_file_name()) // F15 metadata col
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.dropDuplicates(key).write.mode("append").parquet(outDir)
      }
      .start()
  }

  /** Exactly-once streaming publish into a [[graft.sources.Snapshots]]
    * table: each micro-batch commits as one atomic snapshot version,
    * tokened by batchId — a replayed batch (crash after commit, before
    * checkpoint) finds its token in the manifest chain and is a no-op,
    * so readers see every batch exactly once, always at a consistent
    * snapshot boundary. This is the transactional upgrade of the plain
    * foreachBatch parquet sink: no partial files ever visible, and the
    * sink doubles as a time-travel log of the stream's batches. The
    * token pairs the batch id with the checkpoint digest
    * ([[checkpointApp]]) — a bare batch-N token would collide across
    * checkpoints and silently swallow another stream's batch N as a
    * "replay".
    */
  def snapshotSink(df: DataFrame, table: String,
      checkpointDir: String): StreamingQuery = {
    val app = checkpointApp(checkpointDir)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Snapshots.commit(batch, table,
          token = Some(s"graft-snapshotSink-$app-$batchId")): Unit
      }
      .start()
  }

  /** Streaming UPSERT into a [[graft.sources.Snapshots]] table: each
    * micro-batch merges by `key`, the row with the highest `seqCol`
    * per key winning — the streaming-CDC-in shape (a change feed
    * applied to a lakehouse table). The explicit sequence column is
    * the Delta APPLY CHANGES contract: "latest" must be an event-time
    * or change-sequence ordering the DATA carries; partition-layout
    * order (monotonically_increasing_id) is neither deterministic
    * across recomputation nor arrival order. Ties on (key, seqCol)
    * break on the remaining columns for a deterministic winner.
    *
    * The sequence contract holds ACROSS batches too: an incoming row
    * whose `seqCol` is below what the table already carries for its
    * key is stale (a late-arriving change) and is skipped, never
    * applied — otherwise an out-of-order micro-batch would roll a key
    * back to an older value. The probe for current sequence numbers
    * is a key-semi-joined scan of the snapshot (row-group min/max
    * stats prune it to the files the batch could touch — the same
    * pruning merge itself uses).
    *
    * Merge-on-read: each merge writes a deletion vector for the
    * matched rows and appends the batch, rewriting no file (the
    * vectors pile up until maintenance folds them). Replay safety comes from upsert algebra, not
    * tokens: re-merging the same batch maps the table to the same
    * state (equal sequence numbers re-apply idempotently; an extra
    * no-op version in history, never a wrong row).
    */
  def mergeSink(df: DataFrame, table: String, key: String, seqCol: String,
      checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}
        import org.apache.spark.sql.expressions.Window
        val tieBreak = batch.columns.filterNot(c => c == key || c == seqCol)
          .map(col).toSeq
        // a NULL key can never match a table row and merge() rejects it
        // loudly — in a STREAMING sink that refusal would be a poison
        // pill (every restart replays the same batch and dies), so the
        // sink applies merge's own "filter upstream" prescription here
        val latest = batch.filter(col(key).isNotNull)
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col(key))
              .orderBy((col(seqCol).desc +: tieBreak.map(_.desc)): _*)))
          .filter(col("__rn") === 1).drop("__rn")
          .localCheckpoint()
        val snaps = graft.sources.Snapshots
        // ALWAYS take the merge path: a bare first-batch commit is unsafe
        // when two writers race on an empty table (commit's retry loop
        // would append the loser's full batch on top of the winner's,
        // duplicating keys merge would have collapsed). The empty seed is
        // token-idempotent, so racing seeders converge on one version.
        if (snaps.versions(batch.sparkSession, table).isEmpty)
          snaps.commit(latest.limit(0), table,
            token = Some("graft-mergeSink-seed")): Unit
        val bounds = latest.agg(
          org.apache.spark.sql.functions.min(col(key)),
          org.apache.spark.sql.functions.max(col(key))).head()
        // a lost optimistic race re-probes against the NEW snapshot and
        // retries — merge's contract is "the caller retries"; a transient
        // lock conflict must not kill the streaming query
        var attempt = 0
        var done = bounds.isNullAt(0) // batch had no non-null keys
        while (!done && attempt < 5) {
          // drop stale rows: the table's current sequence per touched key
          // beats a lower incoming one. The key-range filter is what the
          // parquet row-group stats prune on (a bare semi-join pushes no
          // filter); the semi-join then trims range-survivors.
          val curSeq = snaps.read(batch.sparkSession, table)
            .filter(col(key).between(lit(bounds.get(0)), lit(bounds.get(1))))
            .join(broadcast(latest.select(col(key))), Seq(key), "left_semi")
            .select(col(key), col(seqCol).as("__cur_seq"))
          val fresh = latest.join(broadcast(curSeq), Seq(key), "left")
            .filter(col("__cur_seq").isNull || col(seqCol) >= col("__cur_seq"))
            .drop("__cur_seq")
            .localCheckpoint()
          if (fresh.isEmpty) done = true
          else try {
            snaps.merge(batch.sparkSession, table, fresh, key)
            done = true
          } catch {
            case _: IllegalStateException => attempt += 1
          }
        }
        if (!done) throw new IllegalStateException(
          s"mergeSink lost the merge race $attempt times on $table")
      }
      .start()

  /** Streaming CDC upserts via EQUALITY DELETES — the ZERO-PROBE twin
    * of [[mergeSink]] (Flink's upsert-into-Iceberg shape): each
    * micro-batch commits as appended data files plus a key-set sidecar
    * in one tokened publish with NO read of the target, so commit cost
    * is the batch alone where mergeSink pays a key-range probe of the
    * table every batch — the O(batch) shape continuous CDC into a
    * 100 TB table needs. The trade is read-side: every outstanding
    * sidecar adds one scoped anti-join until a purge or compaction
    * folds it, so `purgeEvery` (0 = never) runs
    * [[graft.sources.Snapshots.purgeEqDeletes]] every N batches —
    * commits stay O(batch), the read tax stays bounded, and the purge
    * touches only key-HIT files. Cross-batch ordering is positional
    * (a later batch beats an earlier one — upsertEq's version scope IS
    * last-writer-wins), matching the in-order delivery a CDC source
    * provides per checkpoint; within a batch the highest `seqCol` row
    * survives, satisfying upsertEq's unique-key contract. NULL-keyed
    * rows are filtered (mergeSink's poison-pill rule: a refusal would
    * replay forever). Exactly-once via checkpoint-scoped batch tokens;
    * a lost optimistic race against a concurrent file rewrite retries
    * against the new snapshot.
    */
  def upsertEqSink(df: DataFrame, table: String, keys: Seq[String],
      seqCol: String, checkpointDir: String,
      purgeEvery: Int = 0): StreamingQuery = {
    val app = checkpointApp(checkpointDir)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.{col, row_number}
        import org.apache.spark.sql.expressions.Window
        val tieBreak = batch.columns
          .filterNot(c => keys.contains(c) || c == seqCol).map(col).toSeq
        val latest = batch.filter(keys.map(col(_).isNotNull).reduce(_ && _))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(keys.map(col): _*)
              .orderBy((col(seqCol).desc +: tieBreak.map(_.desc)): _*)))
          .filter(col("__rn") === 1).drop("__rn")
          .localCheckpoint()
        val snaps = graft.sources.Snapshots
        // token-idempotent empty seed (mergeSink's racing-seeders rule)
        if (snaps.versions(batch.sparkSession, table).isEmpty)
          snaps.commit(latest.limit(0), table,
            token = Some("graft-upsertEqSink-seed")): Unit
        if (!latest.isEmpty) {
          var attempt = 0
          var done = false
          while (!done) try {
            snaps.upsertEq(batch.sparkSession, table, latest, keys,
              token = Some(s"graft-upsertEqSink-$app-$batchId")): Unit
            done = true
          } catch {
            // a concurrent REWRITE (compaction/purge) aborted the
            // publish; re-resolve and retry — appends rebase inside
            // upsertEq itself and never land here
            case _: IllegalStateException if attempt < 5 => attempt += 1
          }
        }
        if (purgeEvery > 0 && (batchId + 1) % purgeEvery == 0)
          snaps.purgeEqDeletes(batch.sparkSession, table): Unit
      }
      .start()
  }

  /** Streaming DEDUP ingest into a [[graft.sources.Snapshots]] table:
    * each micro-batch is deduplicated within itself (exact text hash)
    * and against everything already committed — exact via fingerprint,
    * near-dup via MinHash band collision + signature agreement — before
    * the survivors append transactionally (see
    * [[graft.operators.Dedup.ingestBatch]] for the index shape and
    * scale posture). The continuous form of the corpus-intake pipeline:
    * the table only ever accumulates novel documents.
    *
    * The commit token pairs the batch id with a digest of the
    * CHECKPOINT location (Delta's txnAppId shape): batch ids are only
    * unique per checkpoint, so a second sink on a fresh checkpoint
    * must not have its batch 0 swallowed by the first sink's batch-0
    * token.
    */
  def dedupSink(df: DataFrame, table: String,
      checkpointDir: String): StreamingQuery = {
    val app = checkpointApp(checkpointDir)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.ingestBatch(table, batch,
          s"graft-dedupSink-$app-$batchId")
      }
      .start()
  }

  /** Streaming IVF-index ingest into a [[graft.sources.Snapshots]]
    * postings table: each micro-batch of vectors — columns
    * (vec_id, v: array<double>, nrm) — is assigned to its nearest
    * centroid from the FROZEN broadcast quantizer and appended
    * transactionally (see [[graft.operators.Similarity.ivfIngest]] for
    * the scale posture). The continuous form of ANN-index maintenance:
    * searches stay cell-probed while ingest runs, and a replayed
    * micro-batch commits exactly once via the same checkpoint-digest
    * token shape as [[dedupSink]].
    */
  def ivfSink(df: DataFrame, table: String, centroids: DataFrame,
      checkpointDir: String): StreamingQuery = {
    val app = checkpointApp(checkpointDir)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity.ivfIngest(table, batch, centroids,
          s"graft-ivfSink-$app-$batchId")
      }
      .start()
  }

  /** S21/T7: the `INSERT … ON CONFLICT (key) DO NOTHING` sink without a
    * transactional store (dags/fuel_ingest_dag.py:169-182): per batch,
    * dedup within the batch, then anti-join against the keys already in
    * the sink before appending.
    *
    * The sink is laid out partitioned by `__bucket` = hash(key) mod
    * nBuckets — a stable key-hash bucket — so the conflict check reads
    * only the partitions the current batch's keys can possibly collide
    * with: the batch's bucket set (≤ nBuckets integers, a bounded
    * driver-side set) becomes a partition-pruning `isin` filter instead
    * of a full sink rescan per micro-batch. Only a genuinely missing
    * sink counts as "first batch"; any other read failure propagates —
    * silently treating it as empty would append duplicate keys and break
    * the ON CONFLICT DO NOTHING contract.
    *
    * The bucket count is part of the sink's physical contract: pruning
    * with a different modulus than the one the sink was written with
    * would prune the WRONG partitions and silently re-admit existing
    * keys. The count is persisted in a `_graft_buckets` sidecar on first
    * write (underscore prefix → invisible to parquet scans) and
    * validated every batch; a populated sink without the sidecar (e.g.
    * written by an incompatible layout) fails loudly rather than
    * guessing.
    */
  def upsertAppendSink(df: DataFrame, key: String, outDir: String,
      checkpointDir: String, nBuckets: Int = 64): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fresh = batch.dropDuplicates(key)
          .withColumn("__bucket", pmod(xxhash64(col(key)), lit(nBuckets)).cast("int"))
        val buckets = fresh.select("__bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val outPath = new org.apache.hadoop.fs.Path(outDir)
        val metaPath = new org.apache.hadoop.fs.Path(outDir, "_graft_buckets")
        val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // only a genuinely absent/empty sink means "first batch"
        val sinkHasData = fs.exists(outPath) && fs.listStatus(outPath)
          .exists { st =>
            val n = st.getPath.getName
            // partition dirs are data; _SUCCESS/_graft_buckets/.crc are not
            n.startsWith("__bucket=") ||
              !(n.startsWith("_") || n.startsWith("."))
          }
        val existingKeys =
          if (!sinkHasData) fresh.select(col(key).as("__sunk")).limit(0)
          else {
            require(fs.exists(metaPath),
              s"upsert sink $outDir has data but no _graft_buckets sidecar; " +
                "refusing to prune with an unverified bucket layout")
            val written = {
              val in = fs.open(metaPath)
              try scala.io.Source.fromInputStream(in).mkString.trim.toInt
              finally in.close()
            }
            require(written == nBuckets,
              s"upsert sink $outDir was written with nBuckets=$written, " +
                s"got $nBuckets — pruning would miss existing keys")
            spark.read.parquet(outDir)
              .filter(col("__bucket").isin(buckets: _*)) // partition pruning
              .select(col(key).as("__sunk"))
          }
        // sidecar FIRST: a crash between a first data append and a
        // later sidecar write would brick the sink (data present, no
        // layout record -> the require above fails every restart). A
        // crash after the sidecar but before data is harmless: the next
        // batch still sees an empty sink and the sidecar already
        // records the layout it will write.
        if (!fs.exists(metaPath)) {
          val out = fs.create(metaPath, true)
          try out.write(nBuckets.toString.getBytes("UTF-8"))
          finally out.close()
        }
        fresh.join(existingKeys, col(key) === col("__sunk"), "left_anti")
          .write.mode("append").partitionBy("__bucket").parquet(outDir)
      }
      .start()

  /** Stream-stream interval join: match right-side events to left-side
    * events within [0, withinSecs] after the left event, both sides
    * watermarked so join state is pruned (the full "absent from
    * reference" streaming surface — SURVEY §2.9 note).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      withinSecs: Int, watermark: String,
      joinType: String = "inner"): DataFrame = {
    // explicit aliases: same-named columns on both streams (the common
    // same-schema stream-stream case, e.g. two Kafka topics both with
    // `key`/`ts`) would otherwise be ambiguous references
    val l = left.withWatermark(leftTs, watermark).alias("__l")
    val r = right.withWatermark(rightTs, watermark).alias("__r")
    // with left_outer, unmatched left rows emit null-padded once the
    // watermark closes their interval — state stays bounded either way
    l.join(r, expr(
      s"""__l.$leftKey = __r.$rightKey AND __r.$rightTs >= __l.$leftTs AND
         |__r.$rightTs <= __l.$leftTs + interval $withinSecs seconds""".stripMargin),
      joinType)
  }

  /** Stream-static enrichment: join a stream against a broadcast
    * dimension table (the streaming analog of the flagship's J4 joins —
    * dims ship to every task, no stream-side shuffle).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left")

  /** S20: console sink in complete mode (the socket word-count's sink). */
  def consoleSink(df: DataFrame, mode: String = "complete"): StreamingQuery =
    df.writeStream.outputMode(mode).format("console").start()

  /** Streaming sessionization — q26's gap-based sessions as a stream:
    * built-in `session_window` (dynamic gap-merged windows) + watermark,
    * so session state finalizes and is pruned as event time advances.
    * The batch q26 window formulation and this agree on session
    * boundaries for the same gap.
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermark: String, valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(valueCol).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup — d1's semantics on an unbounded stream:
    * `dropDuplicatesWithinWatermark` keeps the first arrival per key and
    * discards re-deliveries until the watermark passes, after which key
    * state is dropped. This is the only dedup that is BOTH correct under
    * at-least-once sources AND bounded in state at 100 TB/day — an
    * unwatermarked dropDuplicates grows state forever. Callers pass the
    * already-hashed key column (e.g. md5(text)), never raw payloads.
    */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** The idiomatic upgrade of T6's unbounded state (SURVEY §2.9 "absent
    * from reference"): event-time watermark + tumbling window counts.
    * Append mode, state pruned by the watermark — bounded at any scale.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowLen: String, watermark: String,
      valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol), col("n"),
        col("total_value"))
}
