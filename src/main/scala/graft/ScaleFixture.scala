package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of the driver's star-schema fixture — the
  * scale-stress tier: correctness is proven at sf0.01 by the oracle
  * gate; THIS answers "does the plan still behave one decade up?"
  * (`Bench` runs the expensive queries on the scaled copy and reports a
  * per-query ratio against the base run in the same JVM).
  *
  * Each replica `i` is a DISJOINT shard of the original data graph:
  * every 64-bit key moves by `i * Stride`, so foreign keys stay
  * consistent within a replica and never collide across replicas.
  * Join/group cardinalities therefore scale exactly linearly — what a
  * bigger TPC-H SF does, without needing dbgen.
  *
  * Two tables need more than key-shifting, because replicating CONTENT
  * verbatim would add cross-replica near-duplicates and grow pair-wise
  * workloads (LSH near-dup, kNN) quadratically in the factor — the
  * scale-up would then measure the workload's blow-up, not the engine:
  *
  *  - documents: replica i > 0 applies a token bijection (word →
  *    word_i). Intra-replica structure (exact dup groups, shingle sets
  *    up to renaming, Jaccard values) is EXACTLY the base's; cross-
  *    replica token overlap is zero.
  *  - embeddings: replica i applies a SIGNED permutation — circular
  *    shift by (i mod dim) composed with a per-replica deterministic
  *    ±1 sign pattern. A signed permutation matrix is orthogonal, so
  *    intra-replica inner products (kNN ordering, cluster geometry,
  *    norms) are preserved exactly; cross-replica cosines decohere to
  *    chance. The sign pattern is what lifts the old factor-32 bound:
  *    a bare shift is periodic in the vector dim (64), so replicas i
  *    and i+64 would carry IDENTICAL vectors — with 2^dim sign
  *    patterns keyed by replica id, no two replicas alias at any
  *    factor the key stride admits.
  *
  * nation/region stay fixed — they are constant at every TPC-H scale
  * factor by spec.
  */
object ScaleFixture {

  /** Key stride between replicas: far above any source key, far below
    * Long overflow at any plausible factor (1024 × 2^40 < 2^51).
    */
  val Stride: Long = 1L << 40

  /** Bump when the generated CONTENT changes (e.g. the embedding
    * transform): the reuse marker embeds it, so scratch fixtures from
    * an older generator rebuild instead of being silently reused.
    * gen3: every replica (including 0) suffixes tokens — see the
    * documents transform note.
    */
  val GenVersion: Int = 3

  /** The expensive tail of the registry — the queries worth re-running
    * at 10×: the round-3 bench top-5, the graph and sketch set, and one
    * representative per dedup/ANN family whose 100× posture claims a
    * banded/bucketed (never all-pairs) plan. Ordered cheap-first so the
    * time budget truncates from the expensive end.
    */
  val heavyQueries: Seq[String] = Seq(
    "q1_agg", "q26_sessionize", "d1_dedup_exact", "s3_ann_lsh",
    "s4_ann_ivf", "s14_ivf_ingest", "q71_merge_upsert", "q73_kmv_setops",
    "d15_incremental_dedup", "t7_surprisal", "q77_skew_inflow",
    "d3_minhash_lsh", "d5_dedup_clusters", "p7_ngram_decontam",
    "d19_substring_dedup", "q79_interpolate", "s15_kmeans_refine",
    "q64_basket_pairs", "q65_order_gaps",
    "q72_bfs_levels", "s9_covariance", "s13_ivf_pq", "q67_pagerank",
    "s10_semantic_clusters", "d6_simhash_pairs")

  /** The two-point scaling-curve subset — run again at factor 32 for
    * the second-decade ratio. One representative per scale-critical family:
    * the linear-by-nature full scan (q1), the restructured sketch audit
    * (q73), MOR merge (q71), covariance explode (s9), in-row pair gen
    * (q64), banded hamming join (d6), the two graph iterators (q72,
    * q67), IVF+PQ (s13), and LSH-pair connected components (s10).
    * Cheap-first so a tight budget truncates from the expensive end.
    */
  val curveQueries: Seq[String] = Seq(
    "q1_agg", "q71_merge_upsert", "s13_ivf_pq", "q73_kmv_setops",
    "q72_bfs_levels", "d6_simhash_pairs", "q67_pagerank",
    "q64_basket_pairs", "s9_covariance", "s10_semantic_clusters")

  /** The third curve point (factor 64 by default) — the 100× predictor
    * wants three decades. Round 7 widened the set from the original 4
    * carry-queries to the 10 heaviest scaling stories: the honest-linear
    * full scan (q1), sessionization (q26), the restructured sketch audit
    * (q73), the iterated graph broadcast (q67 — the round-5 weak grade),
    * covariance + surprisal + kmeans (s9/t7/s15 — the round-6 steady-
    * state-caveat rows, now measured by the in-loop 3-rep minimum),
    * banded hamming pairs (d6), the linear-by-design substring
    * fingerprint (d19), and the in-row pair generator (q64).
    * Cheap-first (by measured 32× warm) for budget truncation.
    */
  val thirdDecadeQueries: Seq[String] = Seq(
    "q1_agg", "q26_sessionize", "q73_kmv_setops", "q67_pagerank",
    "s9_covariance", "t7_surprisal", "d6_simhash_pairs",
    "s15_kmeans_refine", "d19_substring_dedup", "q64_basket_pairs")

  private def replicate(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))

  private def shard(c: String): Column =
    col(c) + col("__r").cast("long") * Stride

  /** Build (or reuse) the scaled fixture at `dstDir`. Idempotent: a
    * marker records (src, factor); a matching marker skips the build,
    * anything else rebuilds from scratch.
    */
  def build(spark: SparkSession, srcDir: String, dstDir: String,
      factor: Int): Unit = {
    // the cap is now the key stride's (1024 × 2^40 < 2^51 — no Long
    // overflow); the old factor-32 embedding-aliasing bound is gone
    // since replicas carry distinct sign patterns (scaladoc above)
    require(factor >= 1 && factor <= 1024, s"factor $factor out of range (1..1024)")
    // dstDir is recursively DELETED on rebuild — a swapped or duplicated
    // argument must never be able to erase the driver-provided source
    // (nor may dst live under src, where the stamp walk would see the
    // fixture and endlessly self-invalidate)
    locally {
      val srcP = Memo.normPath(srcDir).stripSuffix("/")
      val dstP = Memo.normPath(dstDir).stripSuffix("/")
      require(srcP != dstP && !srcP.startsWith(dstP + "/") &&
        !dstP.startsWith(srcP + "/"),
        s"dstDir '$dstDir' overlaps srcDir '$srcDir' — refusing to delete")
    }
    val fs = new Path(dstDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$dstDir/_GRAFT_SCALE_OK")
    // the marker binds to the SOURCE's max mtime too: the driver
    // regenerates /root/testdata between rounds (round-5 lesson — the
    // events physical layout changed), and a fixture built from the old
    // fixture must not be silently reused against the new one
    val srcFs = new Path(srcDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the stamp walks the full tree and hashes every (path, mtime, len):
    // a directory-shaped parquet whose files are rewritten IN PLACE can
    // leave the parent dir's mtime unchanged, so a max-of-top-level
    // stamp would silently reuse a stale fixture
    def walk(p: Path): Iterator[String] = {
      val st = srcFs.getFileStatus(p)
      if (st.isDirectory)
        srcFs.listStatus(p).iterator.flatMap(s => walk(s.getPath))
      else Iterator(s"${Memo.normPath(p.toString)}|${st.getModificationTime}|${st.getLen}")
    }
    val srcStamp = {
      val md = java.security.MessageDigest.getInstance("MD5")
      walk(new Path(srcDir)).toSeq.sorted
        .foreach(line => md.update((line + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    // GenVersion invalidates fixtures built by an older generator (the
    // sign-pattern change would otherwise silently reuse shift-only
    // embeddings from a previous round's scratch dir)
    val want = s"$srcDir|$factor|$srcStamp|gen$GenVersion"
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      if (got == want) return
    }
    fs.delete(new Path(dstDir), true)
    // when events.parquet carries TIMESTAMP(NANOS) (old fixture layout),
    // read it as int64 and write it back as int64 so Tables.load's ns→µs
    // rebuild works on the copy; with the timestamp[us] layout the conf
    // is inert and the column copies through as-is
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def out(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dstDir/$t.parquet")

    out(src("region"), "region")
    out(src("nation"), "nation")
    out(replicate(src("customer"), factor)
      .withColumn("c_custkey", shard("c_custkey")).drop("__r"), "customer")
    out(replicate(src("supplier"), factor)
      .withColumn("s_suppkey", shard("s_suppkey")).drop("__r"), "supplier")
    out(replicate(src("part"), factor)
      .withColumn("p_partkey", shard("p_partkey")).drop("__r"), "part")
    out(replicate(src("orders"), factor)
      .withColumn("o_orderkey", shard("o_orderkey"))
      .withColumn("o_custkey", shard("o_custkey")).drop("__r"), "orders")
    out(replicate(src("lineitem"), factor)
      .withColumn("l_orderkey", shard("l_orderkey"))
      .withColumn("l_partkey", shard("l_partkey"))
      .withColumn("l_suppkey", shard("l_suppkey")).drop("__r"), "lineitem")
    out(replicate(src("events"), factor)
      .withColumn("event_id", shard("event_id"))
      .withColumn("user_id", shard("user_id")).drop("__r"), "events")
    out(replicate(src("documents"), factor)
      .withColumn("doc_id", shard("doc_id"))
      // EVERY replica (including 0) suffixes w -> w_i: with replica 0
      // verbatim, a base token that already ends in _<digits> could
      // equal another replica's renamed token ("alpha_2" vs replica 2's
      // "alpha") and reintroduce exactly the cross-replica pair overlap
      // the bijection exists to exclude. With all replicas suffixed the
      // trailing _<int> parses uniquely, so replicas never share a
      // token; intra-replica structure is still the base's up to
      // renaming (the invariant the ratios rely on).
      .withColumn("text",
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit("_"), col("__r"))), " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__r"), "documents")
    out(replicate(src("embeddings"), factor)
      .withColumn("vec_id", shard("vec_id"))
      .withColumn("__s", pmod(col("__r"), size(col("embedding"))))
      .withColumn("embedding", concat(
        slice(col("embedding"), col("__s") + 1,
          size(col("embedding")) - col("__s")),
        slice(col("embedding"), lit(1), col("__s"))))
      // per-replica ±1 sign pattern (murmur3 of replica id × position —
      // bench-fixture determinism, no cross-engine portability needed):
      // composes with the shift into a signed permutation, orthogonal,
      // and distinct for every replica — replica 0 stays the base verbatim
      .withColumn("embedding", when(col("__r") === 0, col("embedding"))
        .otherwise(transform(col("embedding"), (x, j) =>
          when(pmod(hash(lit("sfsign"), col("__r"), j), lit(2)) === 0, x)
            .otherwise(negate(x)))))
      .drop("__r", "__s"), "embeddings")

    val outStream = fs.create(marker, true)
    try outStream.write(want.getBytes("UTF-8")) finally outStream.close()
  }

  /** Stable scratch location for a (src, factor) pair. */
  def defaultDst(srcDir: String, factor: Int): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-scale-" +
      s"${Tables.dirKey(srcDir, 12)}-x$factor"

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val dstDir = if (args.length > 2) args(2) else defaultDst(srcDir, factor)
    val spark = Sessions.local(cpus = 8, appName = "scale-fixture")
    build(spark, srcDir, dstDir, factor)
    Tables.starTables.foreach { t =>
      println(s"SCALED $t ${spark.read.parquet(s"$dstDir/$t.parquet").count()}")
    }
    spark.stop()
  }
}
