package graft.operators

import graft.{Intermediates, QuerySpec, Tables}
import graft.functions.VecOps.vec_dot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * Brute-force cosine top-k is the correctness baseline: broadcast the
  * small query side, per-row norms precomputed once, dot products through
  * the native DotProduct expression (tight primitive loop — the
  * functions._ HOF form interprets lambdas per element and is ~10×
  * slower on the all-pairs path). The LSH-bucketed variant is the scale
  * path: candidates come only from same-bucket rows, so the quadratic
  * term drops to bucket-local work — at 100 TB the bucket join shuffles
  * on a short integer key instead of materializing the cross product.
  *
  * Cosine formula is dot(a,b)/(sqrt(dot(a,a))·sqrt(dot(b,b))) with
  * left-to-right folds — bit-identical to the DuckDB oracle's
  * list_dot_product/sqrt composition.
  */
object Similarity {

  private def dvec(c: Column): Column = transform(c, x => x.cast("double"))

  /** The s5-proven int8 quantization: round(x · 127/mx) per element, with
    * the zero-vector guard (mx = 0 → all-zero, matching the oracles'
    * nullif/COALESCE — 127/0 would be NULL in DuckDB but Inf→NaN here).
    * THE single copy of the formula every quantizing operator (s5, s6,
    * s8, s9, s11–s15) shares with its oracle — a change here is a change
    * to all of them together, which is the point.
    */
  private def int8Quant(v: Column, mx: Column, to: String): Column =
    transform(v, x => round(x * when(mx === 0, lit(0.0))
      .otherwise(lit(127.0) / mx), 0).cast(to))

  private val cosineSql =
    "list_dot_product(%s, %s) / (sqrt(list_dot_product(%s, %s)) * sqrt(list_dot_product(%s, %s)))"

  /** vectors with precomputed norm: (vec_id, v: array<double>, nrm). */
  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), dvec(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))

  /** The shared deterministic seed rule — first `n` rows by
    * (md5(vec_id), vec_id): the codebook sample s4/s13/s14/s15 all use,
    * mirrored by each oracle's `ORDER BY md5(CAST(vec_id AS VARCHAR)),
    * vec_id LIMIT n` CTE.
    */
  private def seedSample(df: DataFrame, n: Int): DataFrame =
    df.withColumn("ord", md5(col("vec_id").cast("string")))
      .orderBy("ord", "vec_id").limit(n).drop("ord")

  /** Nearest-centroid assignment (argmax cosine, cid ASC tie-break)
    * against a broadcast codebook of (cid, cv, cn), as a map-side-
    * combinable MAX-of-struct — ONE row per vector crosses the shuffle
    * instead of |centroids| window-sorted candidates. `-cid` inverts
    * the tie-break inside the single max; (cc, cid) is unique per
    * group, so the carried (v, nrm) payload never participates in the
    * ordering. Input `e` needs (vec_id, v, nrm); returns
    * (vec_id, v, nrm, cell). Shared by s4 / s13 / ivfIngest (s14).
    */
  private[operators] def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(broadcast(cents), lit(true))
      .withColumn("cc", vec_dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .groupBy("vec_id")
      .agg(max(struct(round(col("cc"), 6).as("r"), (-col("cid")).as("nc"),
        col("cid"), col("v"), col("nrm"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.nrm").as("nrm"),
        col("m.cid").as("cell"))

  /** Brute-force cosine top-5 neighbors for query vectors vec_id < 10. */
  val sKnn: QuerySpec = QuerySpec.sql(
    "s1_knn_cosine",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
       |         ${cosineSql.format("q.qv", "e.v", "q.qv", "q.qv", "e.v", "e.v")} AS c
       |  FROM q JOIN e ON e.vec_id <> q.qid
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank,
       |         c
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, ROUND(c, 4) AS cosine
       |FROM ranked WHERE rank <= 5""".stripMargin) { (s, dir) =>
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy("query_id").orderBy(round(col("c"), 6).desc, col("neighbor_id"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("c"), 4).as("cosine"))
  }

  /** s2 LSH parameters: 16 bands × 10 planes, 1-bit multi-probe.
    * Measured on the testdata (md5-deterministic, so measurable offline):
    * candidates ≈ 18% of all pairs with recall 0.79/0.85 (sf0.01/sf0.1)
    * at the threshold-edge pairs this synthetic corpus has (all its
    * qualifying pairs sit at cos 0.45–0.6, the hardest regime for SRP
    * LSH); at production near-dup thresholds (cos ≥ 0.8) the same
    * parameters give recall > 0.99. Exposed for the recall spec.
    */
  private[operators] val S2Bands = 16
  private[operators] val S2PlanesPerBand = 10

  /** Target per-band bucket occupancy for s2 — the base corpus's
    * occupancy at [[S2PlanesPerBand]] bits (2000 vectors / 2^10 codes).
    * The band bit-width scales as ceil(log2(n / occupancy)): with a
    * FIXED width, bucket occupancy is linear in n, so candidate pairs —
    * and the verify join and the pair shuffle behind them — grow
    * QUADRATICALLY (the widened 32x bench tier measured it: the
    * cross-replica random-collision term n²/2^10 alone reached ~10^9
    * candidates, spilled the sort to disk-full, and never finished).
    * Holding occupancy constant keeps candidates linear in n — the
    * standard LSH parameterization at corpus scale. The oracle SFs
    * (500 / 2000 vectors) both land exactly at the reference width 10,
    * so the fixed-width oracle SQL stays bit-identical there; recall at
    * a given cosine threshold is then governed by the band COUNT, which
    * a production deployment tunes independently (more tables, not
    * fatter buckets).
    */
  private[operators] val S2TargetOccupancy = 2L

  private[operators] def s2BitsFor(n: Long): Int = {
    val buckets = math.max(1L, n / S2TargetOccupancy)
    val ceilLog2 =
      if (buckets <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.max(S2PlanesPerBand, ceilLog2)
  }

  /** Embedding-cosine near-duplicate pairs (cos >= 0.45) via sign-random-
    * projection LSH with 1-bit multi-probe — the scale path as the
    * registered plan: a pair is a candidate iff some band's codes differ
    * by ≤ 1 bit (probe side emits the code plus its 10 one-bit flips;
    * exact side emits the code; equi-join on (band, code) — a shuffle on
    * short integer keys, never a cross product), then candidates are
    * verified with the exact cosine. The md5-derived hyperplanes make the
    * bucketing reproducible in the oracle, which mirrors it band for
    * band. The all-pairs form survives only as the recall verifier in
    * DedupSimilaritySpec (`sNearDupAllPairs`).
    */
  /** s2's oracle CTE chain ending in `pr(vec_a, vec_b, c)` — LSH
    * candidates with their exact cosine — shared verbatim between the
    * s2 pair oracle and the s10 cluster oracle so both gates grade the
    * same candidate set.
    */
  private lazy val s2PairCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |planes AS (
       |  SELECT p, list_transform(generate_series(0, 63), i ->
       |    (CAST(('0x' || substring(md5('s2:' || p || ':' || i), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0) AS w
       |  FROM generate_series(0, ${S2Bands * S2PlanesPerBand - 1}) AS t(p)
       |), bits AS (
       |  SELECT e.vec_id, p.p,
       |         CASE WHEN list_dot_product(e.v, p.w) > 0
       |              THEN CAST(1 AS BIGINT) << (p.p % $S2PlanesPerBand) ELSE 0 END AS bit
       |  FROM e CROSS JOIN planes p
       |), codes AS (
       |  SELECT vec_id, p // $S2PlanesPerBand AS band, CAST(SUM(bit) AS BIGINT) AS code
       |  FROM bits GROUP BY vec_id, p // $S2PlanesPerBand
       |), probes AS (
       |  SELECT vec_id, band,
       |         CAST(xor(code, CASE WHEN k = 0 THEN 0
       |                             ELSE CAST(1 AS BIGINT) << (k - 1) END) AS BIGINT) AS pk
       |  FROM codes CROSS JOIN generate_series(0, $S2PlanesPerBand) AS g(k)
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM probes a JOIN codes b
       |    ON a.band = b.band AND a.pk = b.code AND a.vec_id < b.vec_id
       |), pr AS (
       |  SELECT vec_a, vec_b,
       |         ${cosineSql.format("ea.v", "eb.v", "ea.v", "ea.v", "eb.v", "eb.v")} AS c
       |  FROM cand
       |  JOIN e ea ON ea.vec_id = vec_a
       |  JOIN e eb ON eb.vec_id = vec_b
       |)""".stripMargin

  val sNearDup: QuerySpec = QuerySpec.sql(
    "s2_cosine_neardup",
    s"""WITH $s2PairCtes
       |SELECT vec_a, vec_b, ROUND(c, 4) AS cosine
       |FROM pr WHERE c >= 0.45""".stripMargin) { (s, dir) =>
    val e = vecs(s, dir)
    // band bit-width scales with corpus size (s2BitsFor scaladoc) —
    // constant bucket occupancy keeps the candidate set linear in n;
    // at the oracle SFs this IS the reference width 10
    val planesPerBand = s2BitsFor(e.count())
    val weights = planeWeights(S2Bands * planesPerBand, 64, seed = "s2")
    // all 16 band codes (the packed sign bits each) in ONE native row
    // pass — see SrpBandCodes for why the 160-expression composition
    // is a codegen trap. Slim (vec_id, band, code) relation,
    // materialized once for both join sides.
    val codes = e.select(col("vec_id"),
        posexplode(graft.functions.SrpCodes.srp_band_codes(
          col("v"), weights, planesPerBand)).as(Seq("band", "code")))
      .localCheckpoint()
    val flips = col("code") +: (0 until planesPerBand)
      .map(k => col("code").bitwiseXOR(lit(1L << k)))
    val probes = codes.select(col("vec_id"), col("band"),
      explode(array(flips: _*)).as("pk"))
    // shuffled-hash, not sort-merge: band buckets are skewed and SMJ
    // streams each equal-key group through its spillable row buffer
    // (the d6 lesson — measured 22× there on the 10× fixture). The hint
    // sits on CODES so the hash relation builds from the small side —
    // probes is (planesPerBand+1)× larger
    val cand = probes.as("a")
      .join(codes.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.pk") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val c = vec_dot(col("va"), col("vb")) / (col("na") * col("nb"))
    cand
      .join(e.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na")),
        col("vec_a") === col("ia"))
      .join(e.select(col("vec_id").as("ib"), col("v").as("vb"), col("nrm").as("nb")),
        col("vec_b") === col("ib"))
      .filter(c >= 0.45)
      .select(col("vec_a"), col("vec_b"), round(c, 4).as("cosine"))
  }

  /** The all-pairs form of s2 — test-only recall oracle (not registered:
    * its plan is the O(n²) nested-loop join the registered query exists
    * to avoid).
    */
  private[graft] def sNearDupAllPairs(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (vec_dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("c"))
      .filter(col("c") >= 0.45)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 4).as("cosine"))
  }

  /** Deterministic hyperplane weights for sign-random-projection LSH:
    * w(p)(i) = (h32("[seed:]p:i") % 2001 - 1000) / 1000 — md5-derived so
    * any engine can reproduce the bucketing. Materialized driver-side as
    * literals (they are constants; computing md5 per row per dim was
    * pure waste). `seed` gives independent plane families per operator.
    */
  private def planeWeights(nPlanes: Int, dim: Int, seed: String = ""): Array[Array[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, i) =>
      val key = if (seed.isEmpty) s"$p:$i" else s"$seed:$p:$i"
      val hex = digest.digest(key.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L).toDouble / 1000.0
    }
  }

  /** Sign-random-projection LSH bucketing — the ANN scale path. The
    * md5-derived hyperplane weights make even this approximate search
    * exactly reproducible in the oracle: identical buckets, identical
    * within-bucket top-5.
    */
  val sAnnLsh: QuerySpec = QuerySpec.sql(
    "s3_ann_lsh",
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), eb AS (
       |  SELECT vec_id, v,
       |         CAST(list_sum(list_transform(generate_series(0, 7), p ->
       |           CASE WHEN list_dot_product(v,
       |             list_transform(generate_series(0, 63), i ->
       |               (CAST(('0x' || substring(md5(p || ':' || i), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0)) > 0
       |           THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM e
       |), q AS (
       |  SELECT vec_id AS qid, v AS qv, bucket AS qb FROM eb WHERE vec_id < 10
       |), scored AS (
       |  SELECT q.qid AS query_id, eb.vec_id AS neighbor_id,
       |         ${cosineSql.format("q.qv", "eb.v", "q.qv", "q.qv", "eb.v", "eb.v")} AS c
       |  FROM q JOIN eb ON eb.bucket = q.qb AND eb.vec_id <> q.qid
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank,
       |         c
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, ROUND(c, 4) AS cosine
       |FROM ranked WHERE rank <= 5""".stripMargin) { (s, dir) =>
    val nPlanes = 8
    val weights = planeWeights(nPlanes, 64)
    val e = vecs(s, dir)
    // one band of 8 sign bits via the native SRP pass (see SrpBandCodes)
    val bucket = element_at(
      graft.functions.SrpCodes.srp_band_codes(col("v"), weights, nPlanes), 1)
    val eb = e.withColumn("bucket", bucket)
    val q = eb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("bucket").as("qb"))
    val w = Window.partitionBy("query_id").orderBy(round(col("c"), 6).desc, col("neighbor_id"))
    eb.join(broadcast(q), col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("c"), 4).as("cosine"))
  }

  /** IVF-style ANN: deterministic coarse centroids (the 16 vectors with
    * the smallest md5(vec_id) — hash-ordered, so any engine picks the
    * same ones), assign every vector to its nearest centroid (one
    * broadcast pass), then search only the query's cell. The inverted-
    * file layout is the standard scale path when LSH recall is too
    * layout-sensitive: at 100 TB the cell assignment partitions the
    * corpus so each query touches ~1/K of it. Deterministic end-to-end →
    * full oracle; recall vs s1 additionally asserted in tests.
    */
  val sAnnIvf: QuerySpec = QuerySpec.sql(
    "s4_ann_ivf",
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
       |), ac AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |         ${cosineSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} AS cc
       |  FROM e CROSS JOIN cents c
       |), assigned AS (
       |  SELECT vec_id, v, cid AS cell FROM (
       |    SELECT vec_id, v, cid,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |                              ORDER BY ROUND(cc, 6) DESC, cid) AS rn
       |    FROM ac) WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS qid, v AS qv, cell AS qcell FROM assigned WHERE vec_id < 10
       |), scored AS (
       |  SELECT q.qid AS query_id, a.vec_id AS neighbor_id,
       |         ${cosineSql.format("q.qv", "a.v", "q.qv", "q.qv", "a.v", "a.v")} AS c
       |  FROM q JOIN assigned a ON a.cell = q.qcell AND a.vec_id <> q.qid
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank,
       |         c
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, ROUND(c, 4) AS cosine
       |FROM ranked WHERE rank <= 5""".stripMargin) { (s, dir) =>
    val e = vecs(s, dir)
    val cents = seedSample(e, 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(e, cents)
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("cell").as("qcell"))
    val w = Window.partitionBy("query_id").orderBy(round(col("c"), 6).desc, col("neighbor_id"))
    assigned.join(broadcast(q), col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("c"), 4).as("cosine"))
  }

  /** Symmetric int8 quantization per vector (embedding compression for
    * storage/transfer at scale): scale = 127 / max|x|; checksum column
    * keeps the oracle array-free. Row-level deterministic arithmetic.
    */
  val sQuantize: QuerySpec = QuerySpec.sql(
    "s5_quantize_int8",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (SELECT vec_id, v,
      |        list_max(list_transform(v, x -> abs(x))) AS mx FROM e)
      |SELECT vec_id,
      |       CAST(list_sum(list_transform(v,
      |         x -> COALESCE(CAST(round(x * (127.0 / nullif(mx, 0)), 0) AS BIGINT), 0))) AS BIGINT) AS qsum,
      |       CAST(list_max(list_transform(v,
      |         x -> COALESCE(CAST(round(x * (127.0 / nullif(mx, 0)), 0) AS BIGINT), 0))) AS BIGINT) AS qmax
      |FROM m""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), dvec(col("embedding")).as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
    val quant = int8Quant(col("v"), col("mx"), "long")
    e.select(col("vec_id"),
      aggregate(quant, lit(0L), (a, x) => a + x).as("qsum"),
      array_max(quant).as("qmax"))
  }

  /** Per-cluster centroids over int8-quantized embeddings — the codebook
    * refresh step of an IVF index build. Quantizing first (s5's exact
    * per-vector formula) makes the per-dimension sums INTEGER, so the
    * aggregation is order-independent and engine-exact — a float centroid
    * sum would be non-deterministic under distributed summation order.
    * Shape: posexplode to (label, dim) keys, one map-side-combined
    * shuffle bounded by |labels| × dim, not corpus size.
    */
  val sCentroid: QuerySpec = QuerySpec.sql(
    "s6_centroid_int8",
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
      |q AS (SELECT label, list_transform(v,
      |        x -> COALESCE(CAST(round(x * (127.0 / nullif(mx, 0)), 0) AS BIGINT), 0)) AS qv FROM m),
      |x AS (SELECT label, unnest(generate_series(1, len(qv))) AS pos1, qv FROM q)
      |SELECT label, CAST(pos1 - 1 AS BIGINT) AS pos,
      |       CAST(SUM(qv[pos1]) AS BIGINT) AS qsum, COUNT(*) AS n
      |FROM x GROUP BY label, pos1""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
      .select(col("label"), dvec(col("embedding")).as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qv", int8Quant(col("v"), col("mx"), "long"))
    e.select(col("label"), posexplode(col("qv")).as(Seq("pos", "qval")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(sum("qval").as("qsum"), count(lit(1)).as("n"))
  }

  /** ANN recall audit: per query, how many of the exact top-5 (s1) the
    * LSH search (s3) recovered — the metric that decides whether the
    * approximate index is trustworthy before it replaces the exact scan.
    * Composes the two registered operators directly (same code paths the
    * driver grades) and joins their outputs on (query, neighbor); the
    * audit relation is queries×k rows, so the join cost is the two
    * searches themselves. Integer basis points.
    */
  val sAnnRecall: QuerySpec = QuerySpec.sql(
    "s7_ann_recall",
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
       |         ${cosineSql.format("q.qv", "e.v", "q.qv", "q.qv", "e.v", "e.v")} AS c
       |  FROM q JOIN e ON e.vec_id <> q.qid
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank
       |    FROM scored) WHERE rank <= 5
       |), eb AS (
       |  SELECT vec_id, v,
       |         CAST(list_sum(list_transform(generate_series(0, 7), p ->
       |           CASE WHEN list_dot_product(v,
       |             list_transform(generate_series(0, 63), i ->
       |               (CAST(('0x' || substring(md5(p || ':' || i), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0)) > 0
       |           THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM e
       |), q3 AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM eb WHERE vec_id < 10),
       |scored3 AS (
       |  SELECT q3.qid AS query_id, eb.vec_id AS neighbor_id,
       |         ${cosineSql.format("q3.qv", "eb.v", "q3.qv", "q3.qv", "eb.v", "eb.v")} AS c
       |  FROM q3 JOIN eb ON eb.bucket = q3.qb AND eb.vec_id <> q3.qid
       |), ann AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank
       |    FROM scored3) WHERE rank <= 5
       |)
       |SELECT x.query_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_exact,
       |       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       |       CAST(COUNT(a.neighbor_id) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
       |FROM exact x LEFT JOIN ann a
       |  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |GROUP BY 1""".stripMargin) { (s, dir) =>
    val exact = Intermediates.of(sKnn)(s, dir).select("query_id", "neighbor_id")
    val ann = Intermediates.of(sAnnLsh)(s, dir)
      .select(col("query_id").as("a_qid"), col("neighbor_id").as("a_nid"))
    exact.join(ann,
        col("query_id") === col("a_qid") && col("neighbor_id") === col("a_nid"),
        "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), count(col("a_nid")).as("n_hit"))
      .selectExpr("query_id", "n_exact", "n_hit",
        "n_hit * 10000L div n_exact AS recall_bp")
  }

  /** Quantization-error audit: on the exact top-5 pairs (s1), the cosine
    * recomputed from the int8-quantized vectors (s5's exact formula)
    * next to the full-precision cosine. Per-vector scale factors cancel
    * in the cosine, so the quantized dot products are INTEGER arithmetic
    * — only the final divide/sqrt/round touch floats, in the identical
    * op sequence both engines run. Verdict for the index designer: how
    * much ranking signal 8-bit storage costs.
    */
  val sQuantError: QuerySpec = QuerySpec.sql(
    "s8_quant_error",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
       |         ${cosineSql.format("q.qv", "e.v", "q.qv", "q.qv", "e.v", "e.v")} AS c
       |  FROM q JOIN e ON e.vec_id <> q.qid
       |), pairs AS (
       |  SELECT query_id, neighbor_id, c FROM (
       |    SELECT query_id, neighbor_id, c,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank
       |    FROM scored) WHERE rank <= 5
       |), quant AS (
       |  SELECT vec_id, list_transform(v,
       |    x -> COALESCE(CAST(round(x * (127.0 / nullif(list_max(list_transform(v, y -> abs(y))), 0)), 0) AS DOUBLE), 0)) AS qv
       |  FROM e
       |)
       |SELECT p.query_id, p.neighbor_id,
       |       ROUND(p.c, 4) AS cos_exact,
       |       ROUND(${cosineSql.format("a.qv", "b.qv", "a.qv", "a.qv", "b.qv", "b.qv")}, 4) AS cos_q,
       |       ROUND(abs(p.c - ${cosineSql.format("a.qv", "b.qv", "a.qv", "a.qv", "b.qv", "b.qv")}), 4) AS err
       |FROM pairs p
       |JOIN quant a ON a.vec_id = p.query_id
       |JOIN quant b ON b.vec_id = p.neighbor_id""".stripMargin) { (s, dir) =>
    val pairs = Intermediates.of(sKnn)(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    // re-derive the unrounded exact cosine for the err arithmetic (s1
    // rounds its output; the oracle differences the raw doubles)
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("p_qid"), col("v").as("pqv"), col("nrm").as("pqn"))
    val exact = pairs
      .join(broadcast(q), col("query_id") === col("p_qid"))
      .join(e.select(col("vec_id"), col("v"), col("nrm")),
        col("neighbor_id") === col("vec_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vec_dot(col("pqv"), col("v")) / (col("pqn") * col("nrm"))).as("c"))
    val quant = Tables.embeddings(s, dir)
      .select(col("vec_id"), dvec(col("embedding")).as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id"), int8Quant(col("v"), col("mx"), "double").as("qv"))
    val cosQ = vec_dot(col("a_qv"), col("b_qv")) /
      (sqrt(vec_dot(col("a_qv"), col("a_qv"))) * sqrt(vec_dot(col("b_qv"), col("b_qv"))))
    exact
      .join(quant.select(col("vec_id").as("a_id"), col("qv").as("a_qv")),
        col("query_id") === col("a_id"))
      .join(quant.select(col("vec_id").as("b_id"), col("qv").as("b_qv")),
        col("neighbor_id") === col("b_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("c"), 4).as("cos_exact"),
        round(cosQ, 4).as("cos_q"),
        round(abs(col("c") - cosQ), 4).as("err"))
  }

  /** Covariance matrix over int8-quantized embeddings — the PCA/whitening
    * prep a production ANN index builds before choosing projection dims.
    * Quantizing first (s5's scheme) makes every aggregate INTEGER, so the
    * covariance numerator n·Σxy − Σx·Σy is exact and order-independent in
    * both engines (the q43 dispersion recipe, lifted to the matrix case).
    *
    * Scale shape: double posexplode (no self-join — generators compose
    * row-locally), upper triangle only, then ONE shuffle keyed on (i, j)
    * — bounded by dim² = 4096 groups with map-side partial aggregation,
    * independent of corpus size. Width budget: |q| ≤ 127 so Σxy ≤
    * 16129·n — BIGINT-safe to n ≈ 5.7·10¹⁴ vectors; beyond that the same
    * shape runs on DECIMAL.
    */
  val sCovariance: QuerySpec = QuerySpec.sql(
    "s9_covariance",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
      |q AS (SELECT vec_id, list_transform(v,
      |        x -> COALESCE(CAST(round(x * (127.0 / nullif(mx, 0)), 0) AS BIGINT), 0)) AS qv FROM m),
      |xi AS (SELECT vec_id, qv, unnest(generate_series(1, len(qv))) AS i1 FROM q),
      |xij AS (SELECT vec_id, qv, i1, qv[i1] AS qi,
      |               unnest(generate_series(1, len(qv))) AS j1 FROM xi)
      |SELECT CAST(i1 - 1 AS BIGINT) AS i, CAST(j1 - 1 AS BIGINT) AS j,
      |       COUNT(*) AS n,
      |       CAST(SUM(qi * qv[j1]) AS BIGINT) AS sum_xy,
      |       CAST(SUM(qi) AS BIGINT) AS sum_x,
      |       CAST(SUM(qv[j1]) AS BIGINT) AS sum_y,
      |       CAST(COUNT(*) * SUM(qi * qv[j1]) - SUM(qi) * SUM(qv[j1]) AS BIGINT) AS cov_num
      |FROM xij WHERE j1 >= i1
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    import graft.functions.CovarianceAgg
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), dvec(col("embedding")).as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id"), int8Quant(col("v"), col("mx"), "long").as("qv"))
    // one-pass typed Aggregator (CovarianceAgg scaladoc): per-partition
    // primitive-loop partials, a ~17 KB buffer across the shuffle, and a
    // constant-size (2,080-row) Generate at the end — replaces the
    // double-posexplode that materialized dim²/2 rows per vector
    q.agg(CovarianceAgg.cov_matrix(64)(col("qv")).as("c"))
      // a global typed agg emits one row even over ZERO input rows;
      // the oracle's GROUP BY (and the replaced explode+groupBy shape)
      // emit nothing — drop the empty-input row before the explode
      .where(col("c.n") > 0)
      .select(col("c.n").as("n"), col("c.sx").as("sx"),
        explode(col("c.pairs")).as("p"))
      .select(col("p.i").cast("long").as("i"), col("p.j").cast("long").as("j"),
        col("n"), col("p.sxy").as("sum_xy"),
        element_at(col("sx"), col("p.i") + 1).as("sum_x"),
        element_at(col("sx"), col("p.j") + 1).as("sum_y"))
      .withColumn("cov_num",
        col("n") * col("sum_xy") - col("sum_x") * col("sum_y"))
  }

  /** SemDeDup-style semantic clustering: connected components over the
    * s2 embedding near-dup pairs (cos ≥ 0.45) — each vector labelled
    * with the smallest vec_id reachable through near-dup edges, the
    * keep-one-per-group reduction for embedding-level dedup. The pair
    * generation is s2's banded LSH equi-join (shared through the
    * materialize-once registry, never recomputed), and the clustering is
    * ConnectedComponents.labels — the same alternating large-star/
    * small-star rounds as d5 (O(log² n); min-label propagation was
    * abandoned at the 10× tier), no driver-side union-find. The
    * oracle is a recursive-CTE transitive closure over the identical
    * candidate-pair SQL (`s2PairCtes`, shared string).
    */
  val sSemClusters: QuerySpec = QuerySpec.sql(
    "s10_semantic_clusters",
    s"""WITH RECURSIVE $s2PairCtes,
       |pairs AS (SELECT vec_a, vec_b FROM pr WHERE c >= 0.45),
       |edges AS (
       |  SELECT vec_a AS s, vec_b AS t FROM pairs
       |  UNION ALL SELECT vec_b, vec_a FROM pairs
       |), reach(s, t) AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s
       |)
       |SELECT s AS vec_id, least(s, MIN(t)) AS cluster_id
       |FROM reach GROUP BY s""".stripMargin) { (s, dir) =>
    val pairs = Intermediates.of(sNearDup)(s, dir).select("vec_a", "vec_b")
    ConnectedComponents.labels(pairs, "vec_a", "vec_b")
      .select(col("id").as("vec_id"), col("label").as("cluster_id"))
      .orderBy("cluster_id", "vec_id")
  }

  /** s11: product-quantization codes — each 64-dim embedding split into
    * 4 subvectors whose int8-quantized mean (s5's exact integer formula)
    * indexes a 16-level uniform codebook; the 4 nibble codes pack into
    * one BIGINT. All arithmetic after the (bit-exact, s5-proven)
    * quantization is integer — closed-form code assignment, no float
    * centroids, so the oracle matches exactly. This is the memory-bound
    * ANN scale path: 64 floats (256 B) compress to one 2-byte code word;
    * a 100 TB embedding corpus becomes a ~1 TB code table that scans at
    * memory bandwidth, with the codebook a broadcast constant.
    */
  /** Shared PQ code frame (vec_id, codes[4]) — the exact integer
    * formula, consumed by s11 (packing), s12 (flat code search), and
    * s13 (IVF-probed code search).
    */
  private def pqCodeFrame(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qv", int8Quant(col("v"), col("mx"), "long"))
      .withColumn("sub", expr("size(qv) div 4"))
      .withColumn("codes", expr(
        """transform(sequence(0, 3), j ->
          |  least(((aggregate(slice(qv, j*sub+1, sub), 0L, (a, x) -> a + x)
          |          + 127*sub) * 16) div (254*sub), 15L))""".stripMargin))
      .select("vec_id", "codes")

  /** The PQ-code CTE chain — the ONE copy the s11/s12/s13 oracles all
    * interpolate, so the formula cannot diverge between them.
    */
  private val pqCodesSql =
    """e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m2 AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e2),
      |q2 AS (SELECT vec_id, list_transform(v,
      |        x -> COALESCE(CAST(round(x * (127.0 / nullif(mx, 0)), 0) AS BIGINT), 0)) AS qv FROM m2),
      |s2 AS (SELECT vec_id, len(qv) // 4 AS sub, qv FROM q2),
      |codes AS (SELECT vec_id, list_transform(generate_series(0, 3),
      |        j -> least((list_sum(qv[j*sub+1 : j*sub+sub]) + 127*sub) * 16
      |                   // (254*sub), 15)) AS codes
      |      FROM s2)""".stripMargin

  val sPqCodes: QuerySpec = QuerySpec.sql(
    "s11_pq_codes",
    s"""WITH $pqCodesSql
       |SELECT vec_id,
       |       CAST(codes[1] + codes[2]*16 + codes[3]*256 + codes[4]*4096
       |            AS BIGINT) AS pq_code
       |FROM codes""".stripMargin) { (s, dir) =>
    // the shared pqCodeFrame — s11/s12/s13 must pack/search the SAME
    // code formula, so none of them inlines its own copy
    pqCodeFrame(s, dir)
      .select(col("vec_id"),
        expr("codes[0] + codes[1]*16 + codes[2]*256 + codes[3]*4096")
          .cast("long").as("pq_code"))
  }

  /** s12: kNN search IN PQ-CODE SPACE — the query path that justifies
    * s11's compression: neighbors ranked by symmetric integer distance
    * between 4-nibble code words (Σ (qc_j − cc_j)²), so the scan
    * touches 2-byte codes instead of 256-byte vectors — the
    * memory-bandwidth-bound shape that makes billion-vector search
    * feasible. All-integer distance ⇒ exact oracle, fully tie-broken
    * ranking. The query side is a handful of rows broadcast against
    * the code table (same intentional tiny loop join as s1).
    */
  val sPqKnn: QuerySpec = QuerySpec.sql(
    "s12_pq_knn",
    s"""WITH $pqCodesSql,
       |qs AS (SELECT vec_id AS qid, codes AS qc FROM codes WHERE vec_id < 5),
       |scored AS (
       |  SELECT qs.qid, c.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, 4),
       |           j -> (qs.qc[j] - c.codes[j]) * (qs.qc[j] - c.codes[j]))) AS BIGINT) AS dist
       |  FROM qs JOIN codes c ON c.vec_id <> qs.qid
       |), ranked AS (
       |  SELECT qid, neighbor_id, dist,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT qid, neighbor_id, dist, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5""".stripMargin) { (s, dir) =>
    val codes = pqCodeFrame(s, dir)
    val queries = codes.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("codes").as("qc"))
    codes.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("qc"), col("codes"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist"), col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("neighbor_id"), col("dist"),
        col("rank").cast("long").as("rank"))
  }

  /** s13: IVF + PQ — the billion-scale index composition: s4's cell
    * assignment partitions the corpus (each query probes ~1/K of it)
    * and s12's 2-byte integer code distance ranks WITHIN the probed
    * cell — so the per-query scan is (corpus/K) code words, the shape
    * real vector databases run (FAISS IVFPQ). Deterministic sampled
    * centroids + integer code distance keep the full chain under the
    * exact oracle.
    */
  val sIvfPq: QuerySpec = QuerySpec.sql(
    "s13_ivf_pq",
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
       |), ac AS (
       |  SELECT e.vec_id, c.cid,
       |         ${cosineSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} AS cc
       |  FROM e CROSS JOIN cents c
       |), assigned AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |                              ORDER BY ROUND(cc, 6) DESC, cid) AS rn
       |    FROM ac) WHERE rn = 1
       |), $pqCodesSql,
       |base AS (
       |  SELECT a.vec_id, a.cell, c.codes FROM assigned a
       |  JOIN codes c ON c.vec_id = a.vec_id
       |), qs AS (
       |  SELECT vec_id AS qid, cell AS qcell, codes AS qc FROM base WHERE vec_id < 10
       |), scored AS (
       |  SELECT qs.qid, b.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, 4),
       |           j -> (qs.qc[j] - b.codes[j]) * (qs.qc[j] - b.codes[j]))) AS BIGINT) AS dist
       |  FROM qs JOIN base b ON b.cell = qs.qcell AND b.vec_id <> qs.qid
       |), ranked AS (
       |  SELECT qid, neighbor_id, dist,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT qid, neighbor_id, dist, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5""".stripMargin) { (s, dir) =>
    val e = vecs(s, dir)
    val cents = seedSample(e, 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(e, cents).select(col("vec_id"), col("cell"))
    val base = assigned.join(pqCodeFrame(s, dir), "vec_id")
      .localCheckpoint() // feeds the query side and the probed scan
    val qs = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("cell").as("qcell"),
        col("codes").as("qc"))
    base.join(broadcast(qs),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("qc"), col("codes"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist"), col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("neighbor_id"), col("dist"),
        col("rank").cast("long").as("rank"))
  }

  /** IVF index ingest core (the foreachBatch body of
    * [[graft.streaming.Streams.ivfSink]], callable directly on a static
    * batch): assign each batch vector to its nearest FROZEN centroid —
    * the production pattern: the coarse quantizer is trained offline and
    * held fixed while ingest runs online, so assignment is a per-row
    * argmax against a broadcast 16-row table — and transactionally
    * append (cell, vec_id, v, nrm) postings to the snapshot table. The
    * commit carries the batch token, so a replayed micro-batch (crash
    * before the engine committed offsets) re-commits exactly once.
    *
    * Scale shape: ingest cost is (batch size) × (centroid count) with
    * ZERO reads of the existing index — the postings table is append-
    * only and the corpus is never rescanned, so continuous ingest at
    * 100 TB costs the same per batch on day 1000 as on day 1. Searches
    * (s14's probe) read only the probed cell's postings.
    *
    * `batch` columns: (vec_id, v: array<double>, nrm);
    * `centroids` columns: (cid, cv: array<double>, cn).
    */
  def ivfIngest(table: String, batch: DataFrame, centroids: DataFrame,
      token: String): Unit = {
    val assigned = assignCells(batch, centroids)
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"))
    graft.sources.Snapshots.commit(assigned, table, token = Some(token)): Unit
  }

  /** s14: incremental IVF index ingest under the oracle gate — the ANN
    * analog of d14's streaming dedup: the base corpus (vec_id % 5 ≠ 4)
    * trains the quantizer and lands as ingest 0, the batch half arrives
    * as ingest 1 against the FROZEN centroids, both through the real
    * [[ivfIngest]] snapshot-append path; the cell-probed top-5 search
    * then runs over the committed postings. The oracle recomputes the
    * whole thing closed-form from the raw table (centroids from base,
    * assign all, probe), so a wrong frozen-quantizer assignment, a
    * posting row that doesn't round-trip the snapshot parquet, or a
    * replay that double-commits all fail the hash compare — the
    * "incremental == recompute" identity for the ANN family.
    */
  val sIvfIngest: QuerySpec = QuerySpec.sql(
    "s14_ivf_ingest",
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 5 <> 4
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
       |), ac AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |         ${cosineSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} AS cc
       |  FROM e CROSS JOIN cents c
       |), assigned AS (
       |  SELECT vec_id, v, cid AS cell FROM (
       |    SELECT vec_id, v, cid,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |                              ORDER BY ROUND(cc, 6) DESC, cid) AS rn
       |    FROM ac) WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS qid, v AS qv, cell AS qcell FROM assigned WHERE vec_id < 10
       |), scored AS (
       |  SELECT q.qid AS query_id, a.vec_id AS neighbor_id,
       |         ${cosineSql.format("q.qv", "a.v", "q.qv", "q.qv", "a.v", "a.v")} AS c
       |  FROM q JOIN assigned a ON a.cell = q.qcell AND a.vec_id <> q.qid
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank,
       |         c
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, ROUND(c, 4) AS cosine
       |FROM ranked WHERE rank <= 5""".stripMargin) { (s, dir) =>
    val root = Incremental.snapRoot(s, dir, "ivf")
    Incremental.ensureBuilt(s, root, 2) {
      val e = vecs(s, dir)
      val base = e.filter(col("vec_id") % 5 =!= 4)
      val cents = seedSample(base, 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
        .localCheckpoint() // freeze the quantizer across both ingests
      ivfIngest(root, base, cents, "s14-seed")
      ivfIngest(root, e.filter(col("vec_id") % 5 === 4), cents, "s14-ingest1")
    }
    val assigned = graft.sources.Snapshots.read(s, root)
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("cell").as("qcell"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("c"), 6).desc, col("neighbor_id"))
    assigned.join(broadcast(q), col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("c"), 4).as("cosine"))
  }

  /** s15: one exact Lloyd refinement of the IVF coarse quantizer — the
    * TRAINING step s4/s13/s14 assume has already happened offline, run
    * as a distributed Spark job: assign the int8-quantized corpus (s5's
    * exact per-vector formula) to the 16 seed centroids, recompute each
    * centroid as the element-wise integer mean of its members, then
    * re-assign — emitting per cell its population before and after the
    * step, the refined-centroid checksum, and how far the centroid
    * moved. Quantizing FIRST makes every sum integer, so assignment
    * distances, means (`div` truncation pinned on both engines), and
    * shifts are order-independent and engine-exact — the reason real
    * k-means-at-scale implementations accumulate in integers or fixed
    * point: a float centroid sum would be nondeterministic under
    * distributed summation order, and two runs of the same job would
    * train different codebooks.
    *
    * Scale shape: each assignment pass is a PROJECTION — the 16-row
    * codebook is packed into one broadcast array row and the argmin is
    * an in-row fold over its 16 entries, so assignment moves zero rows
    * and holds zero aggregation state at any corpus size. The mean is
    * ONE map-side-combined shuffle on (cell, dim) — 16×64 final groups
    * — and every later join is on the 16-row cell key. Iterating to
    * convergence repeats this plan with flat lineage; no step touches
    * pairs of corpus rows.
    */
  val sKmeansRefine: QuerySpec = QuerySpec.sql(
    "s15_kmeans_refine",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
      |q AS (SELECT vec_id, list_transform(v,
      |        x -> COALESCE(CAST(round(x * (127.0 / nullif(mx, 0)), 0) AS BIGINT), 0)) AS qv FROM m),
      |cents AS (
      |  SELECT vec_id AS cid, qv AS cqv FROM q
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
      |), a0p AS (
      |  SELECT q.vec_id, q.qv, c.cid,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           i -> (q.qv[i] - c.cqv[i]) * (q.qv[i] - c.cqv[i]))) AS BIGINT) AS d
      |  FROM q CROSS JOIN cents c
      |), a0 AS (
      |  SELECT vec_id, qv, cid FROM (
      |    SELECT vec_id, qv, cid,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a0p) WHERE rn = 1
      |), dims AS (
      |  SELECT cid, unnest(generate_series(1, 64)) AS p, qv FROM a0
      |), comp AS (
      |  SELECT cid, p, CAST(CAST(SUM(qv[p]) AS BIGINT) // COUNT(*) AS BIGINT) AS rv
      |  FROM dims GROUP BY cid, p
      |), refined0 AS (
      |  SELECT cid, list(rv ORDER BY p) AS rqv FROM comp GROUP BY cid
      |), refined AS (
      |  -- a cell no point chose keeps its seed centroid (standard Lloyd
      |  -- empty-cluster handling) instead of silently vanishing
      |  SELECT c.cid, COALESCE(r0.rqv, c.cqv) AS rqv
      |  FROM cents c LEFT JOIN refined0 r0 ON r0.cid = c.cid
      |), a1p AS (
      |  SELECT q.vec_id, r.cid,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           i -> (q.qv[i] - r.rqv[i]) * (q.qv[i] - r.rqv[i]))) AS BIGINT) AS d
      |  FROM q CROSS JOIN refined r
      |), a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a1p) WHERE rn = 1
      |), n0 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_before FROM a0 GROUP BY cid),
      |n1 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_after FROM a1 GROUP BY cid)
      |SELECT c.cid,
      |       COALESCE(n0.n_before, 0) AS n_before,
      |       COALESCE(n1.n_after, 0) AS n_after,
      |       CAST(list_sum(r.rqv) AS BIGINT) AS centroid_sum,
      |       CAST(list_sum(list_transform(generate_series(1, 64),
      |         i -> (c.cqv[i] - r.rqv[i]) * (c.cqv[i] - r.rqv[i]))) AS BIGINT) AS shift_sq
      |FROM cents c
      |JOIN refined r ON r.cid = c.cid
      |LEFT JOIN n0 ON n0.cid = c.cid
      |LEFT JOIN n1 ON n1.cid = c.cid""".stripMargin) { (s, dir) =>
    val sqDist = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), dvec(col("embedding")).as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id"), int8Quant(col("v"), col("mx"), "long").as("qv"))
      .localCheckpoint() // feeds both assignment passes
    // IN-ROW argmin over the packed 16-entry codebook: the whole
    // assignment is a projection — zero exchanges, zero aggregation
    // state. The previous min(struct(d, cid, qv)) shape was map-side
    // combined but the array payload forced a SORT-based aggregate over
    // corpus × 16 rows on the second pass (measured e₃ 1.32 at the 64×
    // tier — the spill of that sort was the entire superlinear
    // residue). A fold over 16 array elements per row is
    // order-independent (min by (d, cid), ties to the lower cid), so
    // collect_list's nondeterministic packing order cannot change the
    // result.
    // NOT localCheckpoint'd: measured 15× SLOWER at the 64× tier with
    // the 1-row packed frame checkpointed (73 s vs 4.9 s warm, QBench
    // 3-rep) — keep the pack as an inline aggregate subtree. Its
    // exchange nodes are 16-row/1-row moves; plan-node count is paid,
    // data movement is not.
    def packed(cents: DataFrame, cv: String): DataFrame =
      cents.agg(collect_list(struct(col("cid"), col(cv).as("c"))).as("cs"))
    def assign(centsPacked: DataFrame): DataFrame =
      q.join(broadcast(centsPacked), lit(true))
        .withColumn("m", aggregate(col("cs"),
          struct(lit(Long.MaxValue).as("d"), lit(Long.MaxValue).as("cid")),
          (acc, c) => {
            val d = sqDist(col("qv"), c.getField("c"))
            val better = (d < acc.getField("d")) ||
              (d === acc.getField("d") && c.getField("cid") < acc.getField("cid"))
            when(better, struct(d.as("d"), c.getField("cid").as("cid")))
              .otherwise(acc)
          }))
        .select(col("vec_id"), col("qv"), col("m.cid").as("cid"))
    val cents = seedSample(q, 16)
      .select(col("vec_id").as("cid"), col("qv").as("cqv"))
      .localCheckpoint() // frozen seed codebook: assignment + shift
    // a0 is a pure map over the q checkpoint — recomputing it for the
    // mean and the count costs two linear scans, cheaper at every tier
    // than materializing a second corpus-sized checkpoint
    val a0 = assign(packed(cents, "cqv"))
    val refined0 = a0
      .select(col("cid"), posexplode(col("qv")).as(Seq("p", "qval")))
      .groupBy("cid", "p")
      .agg(sum("qval").as("qsum"), count(lit(1)).as("n"))
      // integer div (truncating, = DuckDB //): exact at any corpus size,
      // where a double-division mean would lose bits past 2^53
      .selectExpr("cid", "p", "qsum div n AS rv")
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("p"), col("rv")))),
        x => x.getField("rv")).as("rqv0"))
    // empty-cluster handling: a cell nobody chose keeps its seed centroid
    val refined = cents.join(refined0, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("rqv0"), col("cqv")).as("rqv"))
    val n0 = a0.groupBy("cid").agg(count(lit(1)).as("n_before"))
    val n1 = assign(packed(refined, "rqv")).groupBy("cid")
      .agg(count(lit(1)).as("n_after"))
    cents.join(refined, "cid")
      .join(n0, Seq("cid"), "left")
      .join(n1, Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        aggregate(col("rqv"), lit(0L), _ + _).as("centroid_sum"),
        sqDist(col("cqv"), col("rqv")).as("shift_sq"))
  }

  /** s16: the index-choice recall MATRIX — s7's audit widened to every
    * approximate index the engine ships: per query, recall@5 against
    * the exact scan for LSH (s3), IVF (s4), and IVF+PQ (s13), in one
    * relation — the table an operator actually reads before deciding
    * which index a workload gets. Composes the REGISTERED operators
    * through the materialize-once seam (the driver grades the same
    * frames), joins on (query, neighbor), integer basis points. The
    * audit relation is queries×k rows per index, so the matrix costs
    * the searches themselves.
    */
  val sIndexRecall: QuerySpec = QuerySpec.sql(
    "s16_index_recall",
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
       |         ${cosineSql.format("q.qv", "e.v", "q.qv", "q.qv", "e.v", "e.v")} AS c
       |  FROM q JOIN e ON e.vec_id <> q.qid
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank
       |    FROM scored) WHERE rank <= 5
       |), eb AS (
       |  SELECT vec_id, v,
       |         CAST(list_sum(list_transform(generate_series(0, 7), p ->
       |           CASE WHEN list_dot_product(v,
       |             list_transform(generate_series(0, 63), i ->
       |               (CAST(('0x' || substring(md5(p || ':' || i), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0)) > 0
       |           THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM e
       |), q3 AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM eb WHERE vec_id < 10),
       |scored3 AS (
       |  SELECT q3.qid AS query_id, eb.vec_id AS neighbor_id,
       |         ${cosineSql.format("q3.qv", "eb.v", "q3.qv", "q3.qv", "eb.v", "eb.v")} AS c
       |  FROM q3 JOIN eb ON eb.bucket = q3.qb AND eb.vec_id <> q3.qid
       |), ann3 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank
       |    FROM scored3) WHERE rank <= 5
       |), cents AS (
       |  SELECT vec_id AS cid, v AS cv FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
       |), ac AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |         ${cosineSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} AS cc
       |  FROM e CROSS JOIN cents c
       |), assigned AS (
       |  SELECT vec_id, v, cid AS cell FROM (
       |    SELECT vec_id, v, cid,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |                              ORDER BY ROUND(cc, 6) DESC, cid) AS rn
       |    FROM ac) WHERE rn = 1
       |), q4 AS (
       |  SELECT vec_id AS qid, v AS qv, cell AS qcell FROM assigned WHERE vec_id < 10
       |), scored4 AS (
       |  SELECT q4.qid AS query_id, a.vec_id AS neighbor_id,
       |         ${cosineSql.format("q4.qv", "a.v", "q4.qv", "q4.qv", "a.v", "a.v")} AS c
       |  FROM q4 JOIN assigned a ON a.cell = q4.qcell AND a.vec_id <> q4.qid
       |), ann4 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY ROUND(c, 6) DESC, neighbor_id) AS rank
       |    FROM scored4) WHERE rank <= 5
       |), $pqCodesSql,
       |base AS (
       |  SELECT a.vec_id, a.cell, c.codes FROM assigned a
       |  JOIN codes c ON c.vec_id = a.vec_id
       |), qs AS (
       |  SELECT vec_id AS qid, cell AS qcell, codes AS qc FROM base WHERE vec_id < 10
       |), scored13 AS (
       |  SELECT qs.qid AS query_id, b.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, 4),
       |           j -> (qs.qc[j] - b.codes[j]) * (qs.qc[j] - b.codes[j]))) AS BIGINT) AS dist
       |  FROM qs JOIN base b ON b.cell = qs.qcell AND b.vec_id <> qs.qid
       |), ann13 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |    FROM scored13) WHERE rank <= 5
       |), hits AS (
       |  SELECT x.query_id, 'lsh' AS idx,
       |         COUNT(*) AS ne, COUNT(a.neighbor_id) AS nh
       |  FROM exact x LEFT JOIN ann3 a
       |    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |  GROUP BY 1
       |  UNION ALL
       |  SELECT x.query_id, 'ivf' AS idx, COUNT(*), COUNT(a.neighbor_id)
       |  FROM exact x LEFT JOIN ann4 a
       |    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |  GROUP BY 1
       |  UNION ALL
       |  SELECT x.query_id, 'ivfpq' AS idx, COUNT(*), COUNT(a.neighbor_id)
       |  FROM exact x LEFT JOIN ann13 a
       |    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |  GROUP BY 1
       |)
       |SELECT query_id, idx,
       |       CAST(ne AS BIGINT) AS n_exact, CAST(nh AS BIGINT) AS n_hit,
       |       CAST(nh * 10000 // ne AS BIGINT) AS recall_bp
       |FROM hits""".stripMargin) { (s, dir) =>
    val exact = Intermediates.of(sKnn)(s, dir).select("query_id", "neighbor_id")
    def recallOf(ann: DataFrame, label: String): DataFrame =
      exact.join(
          ann.select(col("query_id").as("aq"), col("neighbor_id").as("an")),
          col("query_id") === col("aq") && col("neighbor_id") === col("an"),
          "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"), count(col("an")).as("n_hit"))
        .select(col("query_id"), lit(label).as("idx"), col("n_exact"),
          col("n_hit"), expr("n_hit * 10000L div n_exact AS recall_bp"))
    recallOf(Intermediates.of(sAnnLsh)(s, dir)
        .select("query_id", "neighbor_id"), "lsh")
      .unionByName(recallOf(Intermediates.of(sAnnIvf)(s, dir)
        .select("query_id", "neighbor_id"), "ivf"))
      .unionByName(recallOf(Intermediates.of(sIvfPq)(s, dir)
        .select(col("qid").as("query_id"), col("neighbor_id")), "ivfpq"))
  }

  val all: Seq[QuerySpec] =
    Seq(sKnn.memo, sNearDup.memo, sAnnLsh.memo, sAnnIvf.memo, sQuantize, sCentroid,
      sAnnRecall, sQuantError, sCovariance, sSemClusters, sPqCodes, sPqKnn,
      sIvfPq.memo, sIvfIngest, sKmeansRefine, sIndexRecall)
}
