package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytic-window operator family beyond the q7/q17 basics: lag deltas,
  * ntile bucketing, RANGE-interval frames, INTERSECT, above-group-average
  * filtering. Reference intent: the lab02/lab04 notebook KPI analyses
  * (revenue_analysis/main.ipynb trend cells) generalized to the window
  * shapes any warehouse user expects.
  *
  * Money arithmetic follows the house determinism rule (QuerySpec doc):
  * sums in DECIMAL(18,4) — order-independent and identical across
  * engines — cast to double only at the output boundary.
  */
object Analytic {

  /** Day-over-day revenue delta via lag(). The window is ordered by date
    * with no partition: its cardinality is the DATE DOMAIN (a few
    * thousand rows after the pre-aggregation), not the fact-table row
    * count, so the single-partition sort is bounded at any corpus scale —
    * the orders scan itself aggregates map-side before the shuffle.
    */
  val qLagDelta: QuerySpec = QuerySpec.sql(
    "q35_lag_delta",
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM orders GROUP BY 1
      |)
      |SELECT d, CAST(rev AS DOUBLE) AS rev,
      |       CAST(LAG(rev) OVER (ORDER BY d) AS DOUBLE) AS prev_rev,
      |       CAST(rev - LAG(rev) OVER (ORDER BY d) AS DOUBLE) AS delta
      |FROM d""".stripMargin) { (s, dir) =>
    val w = Window.orderBy("d")
    Tables.orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .withColumn("prev", lag("rev", 1).over(w))
      .select(col("d"), col("rev").cast("double").as("rev"),
        col("prev").cast("double").as("prev_rev"),
        (col("rev") - col("prev")).cast("double").as("delta"))
  }

  /** NTILE(4) wealth quartiles over customers, fully tie-broken
    * (acctbal DESC, custkey) so both engines assign identical buckets.
    * NTILE needs a total order, but NOT a single-partition window: the
    * plan is [[GlobalRank.ntile]]'s two-pass global row number (range
    * partition → local row_number → broadcast offsets) plus the
    * closed-form NTILE bucket from (row, n) — exact NTILE semantics
    * with every wide stage distributed.
    */
  val qNtile: QuerySpec = QuerySpec.sql(
    "q36_ntile",
    """SELECT c_custkey, c_acctbal,
      |       NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile
      |FROM customer""".stripMargin) { (s, dir) =>
    GlobalRank.ntile(
      Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal")),
      Seq(col("c_acctbal").desc, col("c_custkey")), 4, "quartile")
  }

  /** INTERSECT (distinct set semantics): nations present on BOTH the
    * customer and supplier side. Plan: two pre-aggregated distinct sets
    * then a hash semi-intersection — key width is the nation domain.
    */
  val qIntersect: QuerySpec = QuerySpec.sql(
    "q37_intersect",
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
  }

  /** Customers above their nation's average balance — the correlated
    * scalar-subquery shape, executed as a broadcast join against the
    * 25-row per-nation aggregate. The comparison avoids division AND
    * doubles: `bal * n > sum` in DECIMAL is exact in both engines,
    * whereas comparing against a computed double average could flip
    * boundary rows.
    */
  val qAboveAvg: QuerySpec = QuerySpec.sql(
    "q38_above_nation_avg",
    """WITH n AS (
      |  SELECT c_nationkey AS nk, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s
      |  FROM customer GROUP BY 1
      |)
      |SELECT c_custkey, c_nationkey, c_acctbal
      |FROM customer JOIN n ON c_nationkey = nk
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir)
    val perNation = c.groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast("decimal(18,2)")).as("s"))
    c.join(broadcast(perNation), col("c_nationkey") === col("nk"))
      .filter(col("c_acctbal").cast("decimal(18,2)") * col("n") > col("s"))
      .select("c_custkey", "c_nationkey", "c_acctbal")
  }

  /** Trailing-30-day revenue per customer via a RANGE frame keyed on an
    * integer day number (epoch days) — the value-based frame q7's ROWS
    * frame cannot express (gaps in the date series must widen the frame,
    * not shift it). Pre-aggregates to one row per (customer, day) before
    * the window, so frame evaluation touches the day domain per customer,
    * and both the aggregation and the window shuffle on o_custkey —
    * one exchange, reused.
    */
  val qRangeFrame: QuerySpec = QuerySpec.sql(
    "q39_range_frame_30d",
    """WITH d AS (
      |  SELECT o_custkey,
      |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT o_custkey, day,
      |       CAST(SUM(rev) OVER (PARTITION BY o_custkey ORDER BY day
      |         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_30d
      |FROM d""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-29, 0)
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
          .cast("long").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .select(col("o_custkey"), col("day"),
        sum("rev").over(w).cast("double").as("rev_30d"))
  }

  /** Strict ordered funnel over the event stream: first signup, first
    * view AFTER that signup, first purchase AFTER that view, per user.
    * Three conditional-min aggregations chained by user_id equi-joins —
    * every shuffle keys on user_id so AQE coalesces them onto one
    * exchange footprint; each events scan pushes its event_type filter
    * into the parquet reader. Timestamps flow as epoch-µs longs (the
    * house rule for cross-engine time arithmetic).
    */
  val qFunnel: QuerySpec = QuerySpec.sql(
    "q40_funnel",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s AS (SELECT user_id, MIN(us) AS signup_us FROM e
      |      WHERE event_type = 'signup' GROUP BY 1),
      |v AS (SELECT e.user_id, MIN(us) AS view_us FROM e JOIN s USING (user_id)
      |      WHERE event_type = 'view' AND us > signup_us GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(us) AS purchase_us FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'purchase' AND us > view_us GROUP BY 1)
      |SELECT s.user_id, s.signup_us, v.view_us, p.purchase_us
      |FROM s LEFT JOIN v USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val signup = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("signup_us"))
    val view = e.filter(col("event_type") === "view")
      .join(signup, "user_id").filter(col("us") > col("signup_us"))
      .groupBy("user_id").agg(min("us").as("view_us"))
    val purchase = e.filter(col("event_type") === "purchase")
      .join(view, "user_id").filter(col("us") > col("view_us"))
      .groupBy("user_id").agg(min("us").as("purchase_us"))
    signup.join(view, Seq("user_id"), "left")
      .join(purchase, Seq("user_id"), "left")
      .select("user_id", "signup_us", "view_us", "purchase_us")
  }

  /** Weekly cohort retention: users grouped by their first-activity week,
    * counted once per (cohort, week-offset) cell. Day/week numbers are
    * floor-divided epoch-µs — pure integer arithmetic, engine-exact.
    * Two shuffles (first-day agg, cohort-cell count-distinct), both on
    * bounded keys once the per-user reduction lands.
    */
  val qCohort: QuerySpec = QuerySpec.sql(
    "q41_cohort_retention",
    """WITH e AS (SELECT user_id,
      |             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS first_day FROM e GROUP BY 1),
      |r AS (SELECT e.user_id, CAST(f.first_day // 7 AS BIGINT) AS cohort_week,
      |             CAST((e.day - f.first_day) // 7 AS BIGINT) AS week_offset
      |      FROM e JOIN f USING (user_id))
      |SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_users
      |FROM r GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .selectExpr("user_id", "unix_micros(ts) div 86400000000 AS day")
    val first = ev.groupBy("user_id").agg(min("day").as("first_day"))
    ev.join(first, "user_id")
      .selectExpr("user_id", "first_day div 7 AS cohort_week",
        "(day - first_day) div 7 AS week_offset")
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** Top-3 orders per customer through the CUSTOM physical operator
    * (plans.TopKPerKey: bounded partial/final heaps, ≤ partitions×k rows
    * per key through the exchange — vs the window route's full per-key
    * sort). Registered under the oracle gate so the operator's results,
    * not just its plan shape, are hash-verified against the SQL
    * row_number formulation. Order is a (totalprice, orderkey) struct —
    * the native-ordering tie-break that makes top-k a total order.
    */
  val qTopKPerKey: QuerySpec = QuerySpec.sql(
    "q42_topk_per_key",
    """WITH r AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      |  FROM orders
      |)
      |SELECT o_custkey, o_orderkey, o_totalprice FROM r WHERE rn <= 3""".stripMargin) { (s, dir) =>
    import graft.plans.TopKPerKey
    // TopKPerKeyStrategy registration is Sessions.tune's job (or
    // .withExtensions(GraftPlannerExtensions)) — mutating
    // experimental.extraStrategies here would be a racy read-modify-write
    // of shared session state inside query construction.
    val withOrd = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("ord", struct(col("o_totalprice"), col("o_orderkey")))
    TopKPerKey(withOrd, Seq("o_custkey"), "ord", 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** Dispersion statistics without FP nondeterminism: the variance
    * numerator n·Σx² − (Σx)² is computed ENTIRELY in decimal — exact and
    * order-independent in both engines — then converted to double for
    * the single final division/sqrt, which is one identical IEEE op
    * sequence on identical inputs, rounded to 2 dp (the INT128→double
    * and BigDecimal→double casts round the 38-digit numerator one ULP
    * apart — observed — so the output keeps the house aggregate-double
    * rounding). Deriving the variance from double partials diverges
    * further, and a naive var_pop() over doubles isn't even stable run
    * to run at scale.
    * Width budget (documented invariant of the casts actually used):
    * per group, |Σx| < 10^14 (the DECIMAL(18,4) cast of s) and
    * Σx² < 10^18 (the DECIMAL(26,8) cast of sq) — e.g. 10^9 rows of
    * |x| ≤ 10^4 hold comfortably; beyond it the cast overflows LOUDLY
    * under the session's ANSI mode rather than silently nulling.
    * (The oracle casts to DECIMAL(19+) where DuckDB needs to leave
    * INT64 physical storage; Spark stays at (18,4) — both exact, and
    * exact values are what the hash compares.)
    */
  val qDispersion: QuerySpec = QuerySpec.sql(
    "q43_dispersion",
    """WITH a AS (
      |  SELECT c_nationkey, COUNT(*) AS n,
      |         SUM(CAST(c_acctbal AS DECIMAL(14,4))) AS s,
      |         SUM(CAST(c_acctbal AS DECIMAL(14,4)) * CAST(c_acctbal AS DECIMAL(14,4))) AS sq
      |  FROM customer GROUP BY 1
      |), b AS (
      |  SELECT c_nationkey, n,
      |         CAST(n AS DECIMAL(10,0)) * CAST(sq AS DECIMAL(26,8))
      |           - CAST(s AS DECIMAL(19,4)) * CAST(s AS DECIMAL(19,4)) AS num
      |  FROM a
      |)
      |SELECT c_nationkey, n,
      |       round(CAST(num AS DOUBLE) / (n * n), 2) AS var_pop,
      |       round(sqrt(CAST(num AS DOUBLE) / (n * n)), 2) AS std_pop
      |FROM b""".stripMargin) { (s, dir) =>
    val bal = col("c_acctbal").cast("decimal(14,4)")
    Tables.customer(s, dir)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), sum(bal).as("s"), sum(bal * bal).as("sq"))
      .selectExpr("c_nationkey", "n",
        """round(CAST(CAST(n AS DECIMAL(10,0)) * CAST(sq AS DECIMAL(26,8))
          |  - CAST(s AS DECIMAL(18,4)) * CAST(s AS DECIMAL(18,4)) AS DOUBLE)
          |  / (n * n), 2) AS var_pop""".stripMargin,
        """round(sqrt(CAST(CAST(n AS DECIMAL(10,0)) * CAST(sq AS DECIMAL(26,8))
          |  - CAST(s AS DECIMAL(18,4)) * CAST(s AS DECIMAL(18,4)) AS DOUBLE)
          |  / (n * n)), 2) AS std_pop""".stripMargin)
  }

  /** GROUPING SETS in its general form — the custom set list
    * {(status), (priority), ()} that neither ROLLUP (q18) nor CUBE
    * (q27) can express (no (status, priority) cell). Same expand +
    * partial/final aggregate machinery underneath.
    */
  val qGroupingSets: QuerySpec = QuerySpec.sql(
    "q44_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
  }

  /** first_value / last_value / nth_value over the full-partition frame
    * (UNBOUNDED PRECEDING → UNBOUNDED FOLLOWING — last_value under the
    * default frame is the famous wrong-answer trap), reduced to one row
    * per customer. Fully tie-broken ordering; nth_value(2) is null for
    * single-order customers in both engines.
    */
  val qFirstLast: QuerySpec = QuerySpec.sql(
    "q45_first_last",
    """WITH w AS (
      |  SELECT o_custkey,
      |         FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
      |         LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
      |         NTH_VALUE(o_totalprice, 2) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders
      |)
      |SELECT o_custkey, first_price, second_price, last_price
      |FROM w WHERE rn = 1""".stripMargin) { (s, dir) =>
    val order = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(col("o_custkey"),
        first("o_totalprice").over(full).as("first_price"),
        last("o_totalprice").over(full).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(full).as("second_price"),
        row_number().over(order).as("rn"))
      .filter(col("rn") === 1)
      .select("o_custkey", "first_price", "second_price", "last_price")
  }

  /** INTERSECT ALL — multiset semantics: a user appears min(#views,
    * #clicks) times, not once (q37 is the distinct form). Spark plans
    * this as a counted aggregate + generate, not a row-by-row loop.
    */
  val qIntersectAll: QuerySpec = QuerySpec.sql(
    "q46_intersect_all",
    """SELECT user_id FROM events WHERE event_type = 'view'
      |INTERSECT ALL
      |SELECT user_id FROM events WHERE event_type = 'click'""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    e.filter(col("event_type") === "view").select("user_id")
      .intersectAll(e.filter(col("event_type") === "click").select("user_id"))
  }

  /** EXCEPT ALL — multiset difference: a user keeps
    * max(0, #views − #clicks) copies (q28 is the distinct form). */
  val qExceptAll: QuerySpec = QuerySpec.sql(
    "q47_except_all",
    """SELECT user_id FROM events WHERE event_type = 'view'
      |EXCEPT ALL
      |SELECT user_id FROM events WHERE event_type = 'click'""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    e.filter(col("event_type") === "view").select("user_id")
      .exceptAll(e.filter(col("event_type") === "click").select("user_id"))
  }

  /** K-minimum-values distinct sketch — the deterministic alternative to
    * HLL for cross-engine pipelines: engine-native HLLs (Spark's HLL++,
    * DuckDB's approx_count_distinct) can never agree bit-for-bit, but
    * KMV over the portable md5 hash gives the SAME estimate on any
    * engine, any cluster size, any run. Estimator: with h uniform on
    * [0, 2^32), est = (k−1)·2^32 / kth_min — all integer arithmetic.
    * Scale shape: the per-group k-th order statistic flows through a
    * (group, hash)-distinct then one rank window per group; at 100 TB
    * the sketch state per group is k hashes, mergeable across partitions.
    */
  val qKmvSketch: QuerySpec = QuerySpec.sql(
    "q48_kmv_distinct",
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      |  FROM events WHERE user_id IS NOT NULL
      |), r AS (
      |  SELECT event_type, h,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM h
      |), x AS (
      |  SELECT event_type,
      |         MAX(CASE WHEN rn = 16 THEN h END) AS kth_min,
      |         COUNT(*) AS n_hashes
      |  FROM r GROUP BY 1
      |),
      |d AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
      |  FROM events GROUP BY 1
      |)
      |SELECT d.event_type, x.kth_min,
      |       CAST(CASE WHEN x.n_hashes >= 16 THEN 15 * 4294967296 // x.kth_min
      |                 ELSE x.n_hashes END AS BIGINT) AS est_distinct,
      |       d.exact_distinct
      |FROM d JOIN x USING (event_type)""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    val kth = kmvHashes(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("h")))
      .groupBy("event_type")
      .agg(max(when(col("rn") === 16, col("h"))).as("kth_min"),
        count(lit(1)).as("n_hashes"))
    val exact = e.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_distinct"))
    exact.join(kth, "event_type")
      .selectExpr("event_type", "kth_min",
        // a type with fewer than k distinct hashes has no 16th minimum:
        // its sketch IS the exact hash set, so fall back to its size
        // (the q73 sub-k rule) instead of silently dropping the type
        """CASE WHEN n_hashes >= 16 THEN 15L * 4294967296L div kth_min
          |     ELSE n_hashes END AS est_distinct""".stripMargin,
        "exact_distinct")
  }

  /** Calendar-dimension derivation over the distinct order dates — the
    * scalar date-function surface (§2.8) beyond predicates: year,
    * quarter, ISO week, ISO year, day-of-week, day-of-year. The
    * cross-engine numbering traps are mapped explicitly: Spark's
    * dayofweek is 1=Sunday vs DuckDB's 0=Sunday (shift by one), and ISO
    * year comes from the Thursday-of-the-week trick in BOTH engines
    * (year(d + 3 − weekday_mon0)) rather than trusting either engine's
    * week-year function.
    */
  val qCalendar: QuerySpec = QuerySpec.sql(
    "q49_calendar",
    """WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
      |SELECT d,
      |       CAST(year(d) AS INTEGER) AS y,
      |       CAST(quarter(d) AS INTEGER) AS q,
      |       CAST(week(d) AS INTEGER) AS iso_week,
      |       CAST(year(d + CAST(3 - (isodow(d) - 1) AS INTEGER)) AS INTEGER) AS iso_year,
      |       CAST(dayofweek(d) AS INTEGER) AS dow_sun0,
      |       CAST(dayofyear(d) AS INTEGER) AS doy
      |FROM d""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderdate").cast("date").as("d")).distinct()
      .select(col("d"),
        year(col("d")).as("y"),
        quarter(col("d")).as("q"),
        weekofyear(col("d")).as("iso_week"),
        year(date_add(col("d"), lit(3) - weekday(col("d")))).as("iso_year"),
        (dayofweek(col("d")) - 1).as("dow_sun0"),
        dayofyear(col("d")).as("doy"))
  }

  /** Gaps-and-islands: consecutive-day activity streaks per user. The
    * classic trick — day minus row_number over (user, day-order) is
    * constant within a run of consecutive days — turns streak detection
    * into two hash aggregations; everything after the distinct-day
    * reduction is per-user arithmetic on epoch-day longs. All shuffles
    * key on user_id (bounded width, naturally uniform).
    */
  val qStreaks: QuerySpec = QuerySpec.sql(
    "q50_streaks",
    """WITH d AS (
      |  SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events
      |), g AS (
      |  SELECT user_id, day,
      |         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d
      |), s AS (
      |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len, MIN(day) AS start_day
      |  FROM g GROUP BY 1, 2
      |)
      |SELECT user_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |       CAST(MAX(len) AS BIGINT) AS max_len,
      |       CAST(MIN(start_day) AS BIGINT) AS first_day
      |FROM s GROUP BY 1""".stripMargin) { (s, dir) =>
    val days = Tables.events(s, dir)
      .selectExpr("user_id", "unix_micros(ts) div 86400000000 AS day")
      .distinct()
    days
      .withColumn("grp", col("day") - row_number().over(
        Window.partitionBy("user_id").orderBy("day")))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("start_day"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_streaks"), max("len").as("max_len"),
        min("start_day").as("first_day"))
  }

  /** percent_rank / cume_dist per nation over account balances. Both are
    * exact rational functions of integer rank and partition count, so the
    * IEEE double each engine computes is bit-identical (same operands,
    * same ops); floor() before the ×10000 cast because DuckDB's
    * double→BIGINT cast rounds while Spark's truncates.
    */
  val qPercentRank: QuerySpec = QuerySpec.sql(
    "q51_percent_rank",
    """SELECT c_custkey, c_nationkey,
      |       CAST(floor(percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) * 10000) AS BIGINT) AS pr_bp,
      |       CAST(floor(cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) * 10000) AS BIGINT) AS cd_bp
      |FROM customer""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        floor(percent_rank().over(w) * 10000).cast("long").as("pr_bp"),
        floor(cume_dist().over(w) * 10000).cast("long").as("cd_bp"))
  }

  /** Latest-event snapshot per user (the CDC/compaction pattern: reduce a
    * change log to current state). row_number DESC with an event_id
    * tie-break keyed on user_id — one shuffle, and the TopKRewrite rule
    * is free to collapse it into the bounded-heap operator.
    */
  val qLatestEvent: QuerySpec = QuerySpec.sql(
    "q52_latest_event",
    """WITH e AS (
      |  SELECT user_id, event_type, value, CAST(epoch_us(ts) AS BIGINT) AS us, event_id,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events
      |)
      |SELECT user_id, event_type, value, us, event_id FROM e WHERE rn = 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "value", "us", "event_id")
  }

  /** UNION DISTINCT (completing the set-op family alongside UNION ALL /
    * INTERSECT [ALL] / EXCEPT [ALL]): customers reachable either as
    * open-order holders or as F-order holders, deduplicated — one
    * hash-distinct over the concatenated branches.
    */
  val qUnionDistinct: QuerySpec = QuerySpec.sql(
    "q53_union_distinct",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |UNION
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "O").select("o_custkey")
      .union(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
      .distinct()
  }

  /** Correlated EXISTS with a row-level inequality inside the subquery:
    * orders containing at least one lineitem discounted beyond its tax
    * rate. The inequality is between the subquery's own columns, so it
    * filters before the semi-join — the join itself stays a plain
    * equi-semi-join on the order key.
    */
  val qLateOrders: QuerySpec = QuerySpec.sql(
    "q54_discount_anomaly",
    """SELECT o_orderkey, o_custkey, o_orderstatus
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_discount > l.l_tax)""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir)
          .filter(col("l_discount") > col("l_tax"))
          .select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
  }

  /** Recursive CTE (Spark 4's WITH RECURSIVE): walk a derived key
    * hierarchy (parent = key div 10 — a tree rooted at 0 with
    * log10-bounded depth) to each node's depth and root-branch id. Each
    * recursion step is one equi-join on the frontier, so total work is
    * rows × depth — the scale-sane recursion shape (frontiers shrink,
    * never enumerate paths).
    */
  val qRecursiveDepth: QuerySpec = QuerySpec.sql(
    "q55_recursive_depth",
    """WITH RECURSIVE chain AS (
      |  SELECT c_custkey AS node, c_custkey AS anc, 0 AS depth FROM customer
      |  UNION ALL
      |  SELECT node, anc // 10 AS anc, depth + 1 FROM chain WHERE anc >= 10
      |)
      |SELECT node,
      |       CAST(MAX(depth) AS BIGINT) AS depth_to_top,
      |       CAST(MIN(CASE WHEN anc < 10 THEN anc END) AS BIGINT) AS top_branch
      |FROM chain GROUP BY 1""".stripMargin) { (s, dir) =>
    // dir-keyed view name: a fixed name is shared session state — two
    // dirs constructing concurrently would bind one query to the other
    // dir's table (the q42 read-modify-write hazard)
    val vCust = s"g_rec_customer_${Tables.dirKey(dir)}"
    Tables.customer(s, dir).createOrReplaceTempView(vCust)
    s.sql(
      s"""WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS node, c_custkey AS anc, 0 AS depth FROM $vCust
        |  UNION ALL
        |  SELECT node, anc div 10 AS anc, depth + 1 FROM chain WHERE anc >= 10
        |)
        |SELECT node,
        |       CAST(MAX(depth) AS BIGINT) AS depth_to_top,
        |       CAST(MIN(CASE WHEN anc < 10 THEN anc END) AS BIGINT) AS top_branch
        |FROM chain GROUP BY node""".stripMargin)
  }

  /** Pearson correlation per group by the q43 recipe: every sum is an
    * exact decimal (n·Σxy − ΣxΣy etc. have no FP noise), then ONE double
    * op sequence (cast, divide, sqrt, round) that is bit-identical
    * across engines. Groups here are bounded; at corpus scale the same
    * shape runs per bounded key (per group the casts hold |Σx| < 10^14
    * and Σx²/Σxy < 10^18 — the q43 width budget; overflow is loud under
    * ANSI, never a silent null).
    */
  val qCorrelation: QuerySpec = QuerySpec.sql(
    "q57_correlation",
    """WITH a AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |         SUM(CAST(l_quantity AS DECIMAL(14,4))) AS sx,
      |         -- 19 digits forces int128 physical in DuckDB: the per-row
      |         -- y*y product overflows an int64-backed DECIMAL(18)
      |         SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
      |         SUM(CAST(l_quantity AS DECIMAL(14,4)) * CAST(l_quantity AS DECIMAL(14,4))) AS sxx,
      |         SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
      |         SUM(CAST(l_quantity AS DECIMAL(14,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT l_returnflag, n,
      |       round(CAST(CAST(n AS DECIMAL(10,0)) * CAST(sxy AS DECIMAL(26,8))
      |               - CAST(sx AS DECIMAL(19,4)) * CAST(sy AS DECIMAL(19,4)) AS DOUBLE)
      |         / sqrt(CAST(CAST(n AS DECIMAL(10,0)) * CAST(sxx AS DECIMAL(26,8))
      |                  - CAST(sx AS DECIMAL(19,4)) * CAST(sx AS DECIMAL(19,4)) AS DOUBLE)
      |              * CAST(CAST(n AS DECIMAL(10,0)) * CAST(syy AS DECIMAL(26,8))
      |                  - CAST(sy AS DECIMAL(19,4)) * CAST(sy AS DECIMAL(19,4)) AS DOUBLE)), 4) AS corr_r
      |FROM a""".stripMargin) { (s, dir) =>
    val x = col("l_quantity").cast("decimal(14,4)")
    val y = col("l_extendedprice").cast("decimal(18,4)")
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .selectExpr("l_returnflag", "n",
        // (18,4), not the oracle's (19,4): a (19,4)x(19,4) product is
        // precision 39, which Spark silently ROUNDS to (38,7) — the
        // q43 width note; DuckDB needs 19 only to force int128 storage
        """round(CAST(CAST(n AS DECIMAL(10,0)) * CAST(sxy AS DECIMAL(26,8))
          |    - CAST(sx AS DECIMAL(18,4)) * CAST(sy AS DECIMAL(18,4)) AS DOUBLE)
          |  / sqrt(CAST(CAST(n AS DECIMAL(10,0)) * CAST(sxx AS DECIMAL(26,8))
          |       - CAST(sx AS DECIMAL(18,4)) * CAST(sx AS DECIMAL(18,4)) AS DOUBLE)
          |     * CAST(CAST(n AS DECIMAL(10,0)) * CAST(syy AS DECIMAL(26,8))
          |       - CAST(sy AS DECIMAL(18,4)) * CAST(sy AS DECIMAL(18,4)) AS DOUBLE)), 4) AS corr_r""".stripMargin)
  }

  /** Native batch session_window (the built-in SessionWindow operator —
    * a different code path than q26's manual lag/sum sessionization):
    * merge events into sessions closed by a 30-minute silence. Spark's
    * merge rule is `gap >= 30min starts a new session` (window end is
    * exclusive), which the oracle mirrors with the >= boundary; session
    * end is last event + gap by definition.
    */
  val qSessionWindow: QuerySpec = QuerySpec.sql(
    "q58_session_window",
    """WITH t AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events
      |), flagged AS (
      |  SELECT user_id, us,
      |         CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |               OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM t
      |), sessions AS (
      |  SELECT user_id, us,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM flagged
      |)
      |SELECT user_id,
      |       CAST(MIN(us) AS BIGINT) AS session_start_us,
      |       CAST(MAX(us) + 1800000000 AS BIGINT) AS session_end_us,
      |       COUNT(*) AS n_events
      |FROM sessions GROUP BY user_id, session_no""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))
  }

  /** Aggregate FILTER clause (the SQL-standard conditional-aggregation
    * syntax, supported by both engines' parsers): one pass over customer
    * computing per-nation totals alongside filtered sub-counts — the
    * declarative form of the when/otherwise pattern q12 builds by hand.
    */
  val qFilteredAgg: QuerySpec = QuerySpec.sql(
    "q59_filtered_agg",
    """SELECT c_nationkey,
      |       COUNT(*) AS n,
      |       COUNT(*) FILTER (WHERE c_acctbal > 5000) AS n_rich,
      |       COUNT(*) FILTER (WHERE c_acctbal < 0) AS n_debt,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(14,4))) FILTER (WHERE c_mktsegment = 'BUILDING') AS DOUBLE) AS building_bal
      |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
    val vCust = s"g_f_customer_${Tables.dirKey(dir)}" // dir-keyed (q55 note)
    Tables.customer(s, dir).createOrReplaceTempView(vCust)
    s.sql(
      s"""SELECT c_nationkey,
        |       COUNT(*) AS n,
        |       COUNT(*) FILTER (WHERE c_acctbal > 5000) AS n_rich,
        |       COUNT(*) FILTER (WHERE c_acctbal < 0) AS n_debt,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(14,4))) FILTER (WHERE c_mktsegment = 'BUILDING') AS DOUBLE) AS building_bal
        |FROM $vCust GROUP BY 1""".stripMargin)
  }

  /** Correlated LATERAL derived table: for each nation, its top customer
    * by (balance, key) from a lateral subquery — the per-row-subquery
    * SQL surface Catalyst decorrelates into a join rather than executing
    * per nation.
    */
  val qLateral: QuerySpec = QuerySpec.sql(
    "q60_lateral",
    """SELECT n.n_nationkey, n.n_name, t.c_custkey AS top_custkey, t.bal
      |FROM nation n,
      |LATERAL (SELECT c_custkey, c_acctbal AS bal FROM customer c
      |         WHERE c.c_nationkey = n.n_nationkey
      |         ORDER BY c_acctbal DESC, c_custkey LIMIT 1) t""".stripMargin) { (s, dir) =>
    val k = Tables.dirKey(dir) // dir-keyed views (q55 note)
    val vNation = s"g_l_nation_$k"; val vCust = s"g_l_customer_$k"
    Tables.nation(s, dir).createOrReplaceTempView(vNation)
    Tables.customer(s, dir).createOrReplaceTempView(vCust)
    s.sql(
      s"""SELECT n.n_nationkey, n.n_name, t.c_custkey AS top_custkey, t.bal
        |FROM $vNation n,
        |LATERAL (SELECT c_custkey, c_acctbal AS bal FROM $vCust c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 1) t""".stripMargin)
  }

  /** Skewed-key shuffle join — the AQE skew-split benchmark fixture.
    * l_returnflag has 3 values, so a shuffle join on it lands a third of
    * the fact table in each of 3 partitions while the rest sit empty:
    * textbook partition skew. The SHUFFLE_MERGE hint pins the
    * sort-merge-join shape that AQE's OptimizeSkewedJoin protects
    * (splitting oversized partitions into advisory-sized chunks at
    * runtime — proven plan-level in ScaleSpec on this very query). A
    * 3-row totals side would of course broadcast by default (q3's
    * shape); the hint models the general case where the aggregated side
    * is itself large (per-user/per-day totals at 100 TB) and broadcast
    * is not an option. Results are hint-independent, so the oracle is
    * plain SQL.
    *
    * The downstream aggregation is keyed on l_linestatus — deliberately
    * NOT the join key: an agg on the join key would reuse the join's
    * partitioning, and AQE (correctly) refuses to skew-split a join
    * whose output partitioning a downstream operator depends on. Keying
    * the agg differently inserts its own exchange, leaving the join free
    * to split — the shape a real skewed enrich-then-rollup pipeline has.
    */
  val qSkewJoin: QuerySpec = QuerySpec.sql(
    "q61_skew_join",
    """WITH ft AS (
      |  SELECT l_returnflag,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS flag_qty
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT l.l_linestatus,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(SUM(CAST(l_quantity AS BIGINT) * 10000 // ft.flag_qty) AS BIGINT) AS wshare_sum
      |FROM lineitem l JOIN ft USING (l_returnflag)
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    // l_quantity is integral by construction, so the BIGINT cast is
    // exact in both engines (DuckDB rounds, Spark truncates — moot here)
    val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
      col("l_linestatus"), col("l_quantity").cast("long").as("qty"))
    // materialized like a precomputed dim (3 rows): AQE's skew handler
    // only matches a join whose children are sorts over direct shuffle
    // stages — an inline aggregate under the right sort would disqualify
    // the join from splitting
    val ft = li.groupBy("l_returnflag").agg(sum("qty").as("flag_qty"))
      .localCheckpoint()
    li.hint("SHUFFLE_MERGE").join(ft, "l_returnflag")
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        sum(expr("qty * 10000L div flag_qty")).as("wshare_sum"))
  }

  /** Z-order (Morton) clustering key over (custkey, orderkey) — the
    * multi-dimensional data-layout primitive (OPTIMIZE ZORDER): rows
    * sorted by the interleaved code are co-located in BOTH dimensions,
    * so file min/max statistics prune either predicate. The registered
    * query histograms the code space (top-8-bit buckets) with per-bucket
    * extremes — every output value covers the full interleave, so a
    * single wrong bit anywhere fails the oracle hash. The identical
    * mask-spread formula (multiply-as-shift, & |) runs in both engines;
    * see functions.ZOrder for the clustered-write locality spec.
    */
  val qZOrder: QuerySpec = QuerySpec.sql(
    "q62_zorder",
    s"""WITH b AS (SELECT o_custkey % 65536 AS x, o_orderkey % 65536 AS y FROM orders),
       |${graft.functions.ZOrder.zorderSqlCtes("b")}
       |SELECT CAST(z // 16777216 AS BIGINT) AS bucket,
       |       COUNT(*) AS n,
       |       CAST(MIN(z) AS BIGINT) AS zmin,
       |       CAST(MAX(z) AS BIGINT) AS zmax
       |FROM zz GROUP BY 1""".stripMargin) { (s, dir) =>
    import graft.functions.ZOrder
    Tables.orders(s, dir)
      .select(ZOrder.zorder2(col("o_custkey") % 65536,
        col("o_orderkey") % 65536).as("z"))
      .groupBy(expr("z div 16777216").as("bucket"))
      .agg(count(lit(1)).as("n"), min("z").as("zmin"), max("z").as("zmax"))
  }

  /** Bloom filter built by the custom BloomAgg TypedImperativeAggregate
    * over one nation's customer keys — the explicit semi-join filter: at
    * 100 TB you build this over the selective dimension (executors merge
    * `words` longs, never keys), broadcast it, and probe the fact scan
    * (ScaleSpec's optimizer-injected runtime bloom is the automatic
    * twin). md5-derived positions make the bit array BIT-REPRODUCIBLE:
    * the oracle computes the identical words with SQL bit_or — possible
    * precisely because OR-merge is order- and topology-independent.
    * DuckDB refuses `1 << 63`, hence the sign-bit CASE.
    */
  val qBloom: QuerySpec = QuerySpec.sql(
    "q63_bloom_filter",
    """WITH keys AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer WHERE c_nationkey = 7
      |), pos AS (
      |  SELECT CAST(('0x' || substring(md5('bloom:' || i || ':' || k), 1, 8)) AS BIGINT) % 1024 AS p
      |  FROM keys CROSS JOIN generate_series(0, 2) AS g(i)
      |), w AS (
      |  SELECT p // 64 AS word_idx,
      |         bit_or(CASE WHEN p % 64 = 63 THEN CAST(-9223372036854775808 AS BIGINT)
      |                     ELSE CAST(1 AS BIGINT) << CAST(p % 64 AS INTEGER) END) AS word_bits
      |  FROM pos GROUP BY 1
      |)
      |SELECT CAST(s.i AS BIGINT) AS word_idx,
      |       CAST(COALESCE(w.word_bits, 0) AS BIGINT) AS word_bits,
      |       CAST(bit_count(COALESCE(w.word_bits, 0)) AS BIGINT) AS n_set
      |FROM generate_series(0, 15) AS s(i) LEFT JOIN w ON w.word_idx = s.i""".stripMargin) { (s, dir) =>
    import graft.functions.BloomAgg
    Tables.customer(s, dir).filter(col("c_nationkey") === 7)
      .select(col("c_custkey").cast("string").as("k"))
      .agg(BloomAgg.bloom_build(col("k"), words = 16, hashes = 3).as("bf"))
      .select(posexplode(col("bf")).as(Seq("word_idx", "word_bits")))
      .selectExpr("CAST(word_idx AS BIGINT) AS word_idx", "word_bits",
        "CAST(bit_count(word_bits) AS BIGINT) AS n_set")
  }

  /** Market-basket co-occurrence: support counts for part pairs bought
    * in the same order — the classic affinity query. One shuffle
    * gathers each order's basket (baskets are bounded — a handful of
    * parts — so collect_set rows stay tiny at any corpus size), the
    * C(k,2) pairs are generated INSIDE the row by codegen'd array
    * functions (no self-join, no second scan), pair counting gets
    * map-side partial aggregation, and the top-100 is a
    * TakeOrderedAndProject, not a global sort. The oracle keeps the
    * equivalent self-join formulation.
    */
  val qBasketPairs: QuerySpec = QuerySpec.sql(
    "q64_basket_pairs",
    """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |         COUNT(*) AS support
      |  FROM i a JOIN i b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |)
      |SELECT part_a, part_b, support
      |FROM p ORDER BY support DESC, part_a, part_b LIMIT 100""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)),
          |            y -> struct(x AS part_a, y AS part_b))))""".stripMargin))
        .as("p"))
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  /** Gaps-and-islands over the order-key sequence: consecutive runs of
    * present keys (key minus global row number is constant within a
    * run). The global row number is [[GlobalRank]]'s two-pass rank —
    * sequence-completeness auditing with no single-partition window.
    */
  val qOrderGaps: QuerySpec = QuerySpec.sql(
    "q65_order_gaps",
    """WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders),
      |g AS (SELECT k, k - ROW_NUMBER() OVER (ORDER BY k) AS grp FROM k)
      |SELECT MIN(k) AS island_start, MAX(k) AS island_end,
      |       COUNT(*) AS n_keys
      |FROM g GROUP BY grp""".stripMargin) { (s, dir) =>
    val k = Tables.orders(s, dir).select(col("o_orderkey").as("k")).distinct()
    GlobalRank.rowNumber(k, Seq(col("k")), "rn")
      .withColumn("grp", col("k") - col("rn"))
      .groupBy("grp")
      .agg(min("k").as("island_start"), max("k").as("island_end"),
        count(lit(1)).as("n_keys"))
      .select("island_start", "island_end", "n_keys")
  }

  /** Median absolute deviation of extended price per return flag —
    * robust dispersion. Both medians are exact rank-based
    * percentile_disc picks (q33's decomposition); the deviation is one
    * IEEE subtraction on identical operands in either engine (no
    * summation, so no ordering noise). Each window shares the same
    * per-flag partitioning — one key's worth of shuffles.
    */
  val qMad: QuerySpec = QuerySpec.sql(
    "q66_mad",
    """WITH x AS (SELECT l_returnflag AS f, l_extendedprice AS x FROM lineitem),
      |r1 AS (
      |  SELECT f, x, ROW_NUMBER() OVER (PARTITION BY f ORDER BY x) AS rn,
      |         COUNT(*) OVER (PARTITION BY f) AS n
      |  FROM x
      |), med AS (
      |  SELECT f, MAX(CASE WHEN rn = (n + 1) // 2 THEN x END) AS med
      |  FROM r1 GROUP BY f
      |), d AS (
      |  SELECT x.f, med.med, abs(x.x - med.med) AS dev
      |  FROM x JOIN med ON x.f = med.f
      |), r2 AS (
      |  SELECT f, med, dev, ROW_NUMBER() OVER (PARTITION BY f ORDER BY dev) AS rn,
      |         COUNT(*) OVER (PARTITION BY f) AS n
      |  FROM d
      |)
      |SELECT f AS l_returnflag, CAST(MAX(med) AS DOUBLE) AS median_price,
      |       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS DOUBLE) AS mad
      |FROM r2 GROUP BY f""".stripMargin) { (s, dir) =>
    val x = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("f"), col("l_extendedprice").as("x"))
    val byF = Window.partitionBy("f")
    val med = x
      .withColumn("rn", row_number().over(byF.orderBy("x")))
      .withColumn("n", count(lit(1)).over(byF))
      .groupBy("f")
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("x"))).as("med"))
    x.join(med, "f")
      .select(col("f"), col("med"), abs(col("x") - col("med")).as("dev"))
      .withColumn("rn", row_number().over(byF.orderBy("dev")))
      .withColumn("n", count(lit(1)).over(byF))
      .groupBy("f")
      .agg(max("med").cast("double").as("median_price"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("dev")))
          .cast("double").as("mad"))
      .withColumnRenamed("f", "l_returnflag")
  }

  /** Weighted PageRank (5 iterations, damping 0.85) over the
    * customer↔supplier purchase graph (edge weight = lineitem count,
    * symmetrized). Each iteration is one equi-join on the source key +
    * one aggregation on the destination key — ranks never leave the
    * cluster, the edge/share relation is materialized once
    * (`localCheckpoint`) and re-joined per round, and lineage stays
    * flat, the same bounded-round shape as [[ConnectedComponents]].
    * Floating arithmetic is shaped identically in both engines
    * (`r * (w / wout)`, parenthesized), so after 5 rounds the results
    * agree far inside the ROUND(…, 2) ppm output grid.
    */
  val qPageRank: QuerySpec = QuerySpec.sql(
    "q67_pagerank", {
      val iters = (1 to 5).map { k =>
        s"""p$k AS (
           |  SELECT e.dst AS node, 0.15 / nn.n + 0.85 * SUM(p.r * (e.w / d.wout)) AS r
           |  FROM e JOIN p${k - 1} p ON p.node = e.src
           |         JOIN deg d ON d.src = e.src CROSS JOIN nn
           |  GROUP BY e.dst, nn.n
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH edges AS (
         |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
         |         CAST(COUNT(*) AS DOUBLE) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |), e AS (
         |  SELECT src, dst, w FROM edges
         |  UNION ALL SELECT dst, src, w FROM edges
         |), deg AS (SELECT src, SUM(w) AS wout FROM e GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |p0 AS (SELECT src AS node, 1.0 / nn.n AS r FROM deg CROSS JOIN nn),
         |$iters
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |       CAST(node // 2 AS BIGINT) AS key,
         |       ROUND(r * 1000000, 2) AS rank_ppm
         |FROM p5""".stripMargin
    }) { (s, dir) =>
    // out-degree share as a window over the shared edge frame (one
    // shuffle by src — no separate degree join), checkpointed ONCE: the
    // expensive base (lineitem⋈orders + pair agg) would otherwise
    // re-run for the node count and every round. localCheckpoint keeps
    // round lineage flat — the same bounded-round shape as
    // ConnectedComponents. (A persist() chain was measured equal on
    // wall-clock but embeds all prior rounds' cached plans in the final
    // plan tree, which megabyte-bloats every explain/lint pass — flat
    // lineage wins.)
    // pre-partitioned by dst ONCE: every round's contribution aggregation
    // then reuses the hash(dst) partitioning — zero per-round exchanges,
    // and each dst lives in exactly one partition so the per-task
    // aggregation maps hold |V| entries TOTAL, not |V| per task (the 32
    // concurrent full-|V| maps were the measured block-manager pressure
    // at the 32× tier, PLANS.md round-5)
    // materialize-once via the Intermediates seam: the share window and
    // the dst repartition are the expensive fixed cost; warm runs enter
    // the rounds directly (the same seam every composed operator uses)
    val ew = purchaseEdgesShareDst(s, dir)
    // one materialized node list serves both the count and the initial
    // rank vector (two separate distincts would each shuffle all |E|);
    // cached for the same reason as ew — and so repeated runs leave no
    // superseded checkpoint residents behind
    val nodes = graft.Intermediates.cachedWithConf(s, dir, "purchase_nodes",
      graphSeamConf(s, dir)) {
      ew.select(col("src").as("node")).distinct()
    }
    // ONE collect serves both the node count and the initial rank map
    // (a separate count() was a redundant full job over the checkpoint)
    val nodeRows = nodes.collect()
    val n = nodeRows.length.toLong
    // The rank vector is an EXPLICIT driver-held broadcast, destroyed
    // the moment the round consuming it materializes. The previous
    // shape (broadcast() join + per-round localCheckpoint) left five
    // rank broadcast relations AND five superseded checkpoint RDDs
    // resident in the block manager for the query's lifetime — alongside
    // the ~1 GB edge checkpoint at the 32× tier that pressure spilled
    // the aggregation maps and bent the scaling curve superlinear
    // (PLANS.md round-5/6 notes). Residency is now: the edge checkpoint
    // + exactly ONE |V|-sized broadcast at any instant. Scale envelope
    // is unchanged — a broadcast-hash join collects |V| to the driver
    // too; past executor-broadcast limits (~10^7 nodes) both shapes
    // flip to a co-partitioned shuffle join. The factor-32 tier
    // measured those alternatives (PLANS.md round-5): shuffled-hash
    // OOM'd the 8 GB harness; explicit repartition+checkpoint ran 1.4×
    // slower. Per-round work stays one |E| scan + one dst aggregation
    // (the map-side partial folds each partition to ≤|V| rows).
    val sc = s.sparkContext
    import graft.functions.LongDoubleHash
    var rank: LongDoubleHash = {
      val m = LongDoubleHash.ofSize(nodeRows.length)
      nodeRows.foreach(row => m.put(row.getLong(0), 1.0 / n))
      m
    }
    // TIER-GATE TRACE (round-10 verdict #3): with `graft.pagerank.traceDir`
    // set, every iteration's FULL rank vector dumps as raw (node, r)
    // parquet. tools/tier_gate.py then verifies the whole chain in
    // DuckDB WITHOUT recursion — each R_k is one join+aggregation away
    // from the engine's own R_{k-1}, so by induction from the uniform
    // R_0 the final vector is verified EXACTLY at tier scales where the
    // recursive-CTE oracle is infeasible (it spilled >27 GB at 10×).
    val traceDir = s.conf.getOption("graft.pagerank.traceDir")
      .orElse(sys.env.get("GRAFT_PAGERANK_TRACE"))
    def trace(k: Int, rows: Array[org.apache.spark.sql.Row]): Unit =
      traceDir.foreach { d =>
        import s.implicits._
        rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
          .toDF("node", "r").coalesce(1)
          .write.mode("overwrite").parquet(s"$d/r$k")
      }
    var out: DataFrame = null
    for (i <- 1 to 5) {
      val bc = sc.broadcast(rank)
      val look = udf((src: Long) => bc.value.get(src, 0.0))
      val next = ew
        .select(col("dst"), (look(col("src")) * col("share")).as("contrib"))
        .groupBy("dst")
        .agg(sum("contrib").as("inflow"))
        .select(col("dst").as("node"),
          (lit(0.15 / n) + lit(0.85) * col("inflow")).as("r"))
      if (i < 5) {
        // collect IS this round's materialization (what localCheckpoint
        // did, without leaving a block-manager resident behind)
        val rows = next.collect()
        trace(i, rows)
        val m = LongDoubleHash.ofSize(rows.length)
        rows.foreach(row => m.put(row.getLong(0), row.getDouble(1)))
        rank = m
      } else {
        // final round stays a DataFrame; eager checkpoint pins the
        // result so the last broadcast can be released immediately too
        out = next.localCheckpoint()
        traceDir.foreach { d =>
          out.select("node", "r").coalesce(1)
            .write.mode("overwrite").parquet(s"$d/r5")
        }
      }
      bc.destroy()
    }
    out.select(
      when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")).as("kind"),
      expr("node div 2").cast("long").as("key"),
      round(col("r") * 1000000, 2).as("rank_ppm"))
  }

  /** Shared bipartite purchase graph (customer·2 ↔ supplier·2+1,
    * edge weight = lineitem count), both directions. NOT cached on its
    * own: the one materialized form of this graph is
    * [[purchaseEdgesShareDst]] — holding both the raw and the derived
    * relation resident (~1.5 GB each at the 32× tier) was exactly the
    * heap that the tier's later queries then OOM'd against.
    */
  /** Per-type distinct KMV hash relation (event_type, h) — q48 and q73
    * previously each scanned and shuffled the full events table to build
    * byte-identical copies; one pass through the materialize-once seam
    * serves both. NULL user_ids are excluded in BOTH engines: Spark's
    * window sorts NULLS FIRST while DuckDB's sorts NULLS LAST, so a NULL
    * hash would occupy a sketch slot on one side only.
    */
  private def kmvHashes(s: SparkSession, dir: String): DataFrame =
    graft.Intermediates.cached(s, dir, "kmv_type_hashes") {
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .select(col("event_type"),
          graft.functions.Portable.h32(col("user_id").cast("string")).as("h"))
        .distinct()
    }

  private def purchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    edges.union(
      edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  /** THE materialized purchase-graph relation (src, dst, share),
    * hash-partitioned by dst — one copy serves every graph consumer:
    * q67 uses all three columns and the dst partitioning (zero
    * per-round exchanges); q72 projects (src, dst). Materialized once
    * per (session, dir) through the Intermediates seam.
    */
  /** DATA-SIZED shuffle width for the purchase-graph seam: its inputs
    * are lineitem+orders, and sizing the seam's shuffles (join, pair
    * agg, share window, dst repartition) by the session's core-count
    * `spark.sql.shuffle.partitions` made the 8-core bench BEAT the
    * 32-core one at sf0.1 (PERF_r11 scaling 0.55 — ~25 MB spread over
    * 32 tiny tasks per stage is scheduling, not compute). Round-12
    * PagerankProfile at 32 cores: seam 8.3 s → 4.4 s, rounds 0.55 →
    * 0.30 s each at the data-derived width. The width grows with the
    * input (Tables.seamShuffleWidth), so tier/cluster scales get wider,
    * not narrower, plans.
    */
  private def graphSeamConf(s: SparkSession, dir: String): Map[String, String] =
    Map("spark.sql.shuffle.partitions" -> Tables.seamShuffleWidth(
      Tables.bytesOf(s, dir, "lineitem", "orders")).toString)

  private def purchaseEdgesShareDst(s: SparkSession, dir: String): DataFrame =
    graft.Intermediates.cachedWithConf(s, dir, "purchase_edges_share_dst",
      graphSeamConf(s, dir)) {
      purchaseEdges(s, dir)
        .select(col("src"), col("dst"),
          (col("w") / sum("w").over(Window.partitionBy("src"))).as("share"))
        .repartition(col("dst"))
    }

  /** One weighted-contribution round (the PageRank inner loop) over a
    * DELIBERATELY power-law graph: ~30% of every edge points at one hot
    * vertex (the reference's generator skews country the same way,
    * revenue_analysis/generate_data_json.py:62-64 — q67/q72 run on
    * TPC-H-uniform keys, so this is the graph family's skew-torture
    * entry). The plan's skew posture: the rank join keys on the UNIFORM
    * src side (and broadcasts the rank vector), so the hot dst key only
    * ever meets an aggregation, where map-side partial aggregation
    * collapses it to one row per input partition — no reduce task
    * receives the hot vertex's raw edge list. SkewGraphSpec pins that
    * with executed-plan metrics; the oracle pins the exact arithmetic.
    */
  val qSkewInflow: QuerySpec = QuerySpec.sql(
    "q77_skew_inflow",
    """WITH edges AS (
      |  SELECT l_orderkey % 50000 AS src,
      |         CASE WHEN l_partkey % 10 < 3 THEN 0 ELSE l_partkey % 1000 + 1 END AS dst,
      |         CAST(l_quantity AS DECIMAL(18,4)) AS w
      |  FROM lineitem
      |), ranks AS (
      |  SELECT src, CAST(1.0 AS DOUBLE) / COUNT(*) AS r FROM edges GROUP BY src
      |)
      |SELECT e.dst AS node, CAST(COUNT(*) AS BIGINT) AS n_in,
      |       ROUND(CAST(SUM(CAST(e.w AS DOUBLE) * r.r) AS DOUBLE), 2) AS inflow
      |FROM edges e JOIN ranks r ON e.src = r.src
      |GROUP BY e.dst""".stripMargin) { (s, dir) =>
    val edges = Tables.lineitem(s, dir).select(
      (col("l_orderkey") % 50000).as("src"),
      when(col("l_partkey") % 10 < 3, lit(0L))
        .otherwise(col("l_partkey") % 1000 + 1).as("dst"),
      col("l_quantity").cast("decimal(18,4)").as("w"))
    val ranks = edges.groupBy("src")
      .agg((lit(1.0) / count(lit(1))).as("r"))
    edges.join(broadcast(ranks), "src")
      .groupBy("dst")
      .agg(count(lit(1)).as("n_in"),
        round(sum(col("w").cast("double") * col("r")), 2).as("inflow"))
      .select(col("dst").as("node"), col("n_in"), col("inflow"))
  }

  /** q73: KMV sketch SET OPERATIONS — for every pair of event types,
    * estimate the distinct-user count of their UNION by merging the two
    * per-type KMV sketches (union-merge = distinct-union the hash sets,
    * keep the k smallest — the defining property that makes KMV usable
    * at 100 TB: per-segment sketches are tiny and merge losslessly, so
    * the union estimate never rescans events), alongside the exact
    * answer for the accuracy audit. All md5-hash determinism, integer
    * estimator (same as q48's). The pair fan-out joins the SKETCH
    * relation (k·|types| rows), never the fact table.
    */
  val qKmvSetOps: QuerySpec = QuerySpec.sql(
    "q73_kmv_setops",
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      |  FROM events WHERE user_id IS NOT NULL
      |), r AS (
      |  SELECT event_type, h,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM h
      |), sk AS (SELECT event_type, h FROM r WHERE rn <= 16),
      |types AS (SELECT DISTINCT event_type FROM events),
      |pairs AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb
      |  FROM types a JOIN types b ON a.event_type < b.event_type
      |), uh AS (
      |  SELECT p.ta, p.tb, s.h FROM pairs p JOIN sk s ON s.event_type = p.ta
      |  UNION
      |  SELECT p.ta, p.tb, s.h FROM pairs p JOIN sk s ON s.event_type = p.tb
      |), m AS (
      |  SELECT ta, tb, h,
      |         ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
      |  FROM uh
      |), kth AS (
      |  SELECT ta, tb, MAX(rn) AS sz,
      |         MAX(CASE WHEN rn = 16 THEN h END) AS kth_min
      |  FROM m GROUP BY 1, 2
      |), eu AS (
      |  SELECT p.ta, p.tb, e.user_id FROM pairs p JOIN events e ON e.event_type = p.ta
      |  UNION
      |  SELECT p.ta, p.tb, e.user_id FROM pairs p JOIN events e ON e.event_type = p.tb
      |), ex AS (
      |  SELECT ta, tb, COUNT(DISTINCT user_id) AS exact_union FROM eu GROUP BY 1, 2
      |)
      |SELECT ex.ta, ex.tb, CAST(COALESCE(kth.kth_min, 0) AS BIGINT) AS kth_min,
      |       CAST(CASE WHEN kth.sz < 16 THEN kth.sz
      |            ELSE 15 * 4294967296 // kth.kth_min END AS BIGINT) AS est_union,
      |       ex.exact_union
      |FROM ex JOIN kth ON ex.ta = kth.ta AND ex.tb = kth.tb""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    // the shared NULL-guarded KMV hash relation (q48 builds the same
    // bytes — one scan+shuffle through the seam serves both)
    val sk = kmvHashes(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("h")))
      .filter(col("rn") <= 16)
      .select("event_type", "h")
      .localCheckpoint() // tiny (k·|types| rows); feeds both pair joins
    // the pair fan-out enumerates event types from ALL events, matching
    // the oracle's `types` CTE: the sketch relation is NULL-guarded, so
    // a type whose user_ids are all NULL exists in the universe with an
    // empty sketch — deriving `types` from `sk` would silently drop its
    // pairs on this side only. Checkpointed like sk/du: `pairs` is
    // referenced three times (both tagJoin sides + the exact audit),
    // and each reference would otherwise re-run two single-column
    // events scans through the self-join — with the checkpoint the
    // registered plan re-reads raw events ZERO times (the three build
    // scans — hashes, types, du — each run exactly once; PlanLintSpec
    // pins the zero).
    val types = e.select("event_type").distinct().localCheckpoint()
    val pairs = types.as("a").join(types.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
    def tagJoin(side: org.apache.spark.sql.DataFrame, key: String,
        value: String): org.apache.spark.sql.DataFrame =
      pairs.join(side, pairs("ta") === side(key))
        .select(col("ta"), col("tb"), col(value))
        .unionByName(pairs.join(side, pairs("tb") === side(key))
          .select(col("ta"), col("tb"), col(value)))
        .distinct() // KMV union-merge: distinct hash set of both sketches
    // a merged sketch with fewer than k hashes IS the exact union set —
    // fall back to its size instead of silently dropping the pair
    val kth = tagJoin(sk, "event_type", "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("ta", "tb").orderBy("h")))
      .groupBy("ta", "tb")
      .agg(max("rn").as("sz"),
        max(when(col("rn") === 16, col("h"))).as("kth_min"))
    // Exact audit by inclusion–exclusion: |A∪B| = |A| + |B| − |A∩B| over
    // the per-type DISTINCT user relation, built from ONE pass over
    // events. The old shape fanned the raw fact table out per type-pair
    // before a pair-keyed COUNT(DISTINCT) — formally linear (constant
    // pair count) but the measured worst scaler at 10× data (13.1×).
    // Here the fact table is scanned once; the self-join runs on the
    // distinct relation where a user with t types contributes C(t,2)
    // rows (t = |event types|, a small constant), and the per-type
    // sizes are a broadcast-sized |types|-row aggregate.
    // NULL user_ids are excluded up front: COUNT(DISTINCT) (the oracle
    // and the shape this replaced) never counts NULLs, but count(lit(1))
    // over the distinct relation would — and the intersection join can
    // never match a NULL, so a NULL row would inflate every union size
    val du = e.select("event_type", "user_id")
      .where(col("user_id").isNotNull).distinct()
      .localCheckpoint() // one shuffle; feeds sizes + both join sides
    val sizes = du.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = du.as("ia").join(du.as("ib"),
        col("ia.user_id") === col("ib.user_id") &&
          col("ia.event_type") < col("ib.event_type"))
      .groupBy(col("ia.event_type").as("ta"), col("ib.event_type").as("tb"))
      .agg(count(lit(1)).as("n_both"))
    // left joins + coalesce(0): a type with only NULL user_ids has no
    // row in `sizes` (its COUNT(DISTINCT user_id) is 0 in the oracle),
    // but its pairs must still appear in the exact audit
    val exact = pairs
      .join(broadcast(sizes.select(col("event_type").as("ta"), col("n").as("na"))), Seq("ta"), "left")
      .join(broadcast(sizes.select(col("event_type").as("tb"), col("n").as("nb"))), Seq("tb"), "left")
      .join(inter, Seq("ta", "tb"), "left")
      .select(col("ta"), col("tb"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L)) -
          coalesce(col("n_both"), lit(0L))).as("exact_union"))
    exact.join(kth, Seq("ta", "tb"))
      .selectExpr("ta", "tb",
        "CAST(coalesce(kth_min, 0) AS BIGINT) AS kth_min",
        """CAST(CASE WHEN sz < 16 THEN sz
          |     ELSE 15 * 4294967296 div kth_min END AS BIGINT) AS est_union""".stripMargin,
        "exact_union")
  }

  /** q75: multi-touch conversion attribution — each purchase credited
    * to the user's FIRST and LAST non-purchase touch before it, in one
    * per-user window pass (IGNORE NULLS first/last over the preceding
    * frame — no self-join, no per-conversion subquery; the q29 as-of
    * lesson applied to attribution). Conversion counts and DECIMAL-
    * exact revenue by (first_touch, last_touch) path.
    */
  val qAttribution: QuerySpec = QuerySpec.sql(
    "q75_attribution",
    """WITH w AS (
      |  SELECT user_id, ts, event_type, value,
      |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
      |    FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch
      |  FROM events
      |)
      |SELECT COALESCE(first_touch, 'none') AS first_touch,
      |       COALESCE(last_touch, 'none') AS last_touch,
      |       COUNT(*) AS n_conversions,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM w WHERE event_type = 'purchase'
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val frame = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(frame))
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(frame))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("first_touch"), lit("none")).as("first_touch"),
        coalesce(col("last_touch"), lit("none")).as("last_touch"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** q74: histogram-sketch quantiles — per order priority, p50/p90/p99
    * from a fixed-width bin histogram (the MERGEABLE quantile sketch: a
    * bin count vector combines across partitions/days/segments by
    * addition, so at 100 TB each segment ships |bins| integers and the
    * quantile never re-sorts history), with the exact per-group
    * percentile riding along as the accuracy audit. The sketch path's
    * windows run over |bins| rows per group; only the audit sorts rows.
    */
  val qHistQuantiles: QuerySpec = QuerySpec.sql(
    "q74_hist_quantiles",
    """WITH h AS (
      |  SELECT o_orderpriority AS pri,
      |         CAST(floor(o_totalprice) AS BIGINT) // 5000 AS bin, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2
      |), c AS (
      |  SELECT pri, bin, n,
      |         SUM(n) OVER (PARTITION BY pri ORDER BY bin) AS cum,
      |         SUM(n) OVER (PARTITION BY pri) AS tot
      |  FROM h
      |), a AS (
      |  SELECT pri,
      |    CAST(MIN(CASE WHEN cum * 100 >= tot * 50 THEN bin END) * 5000 AS BIGINT) AS approx_p50,
      |    CAST(MIN(CASE WHEN cum * 100 >= tot * 90 THEN bin END) * 5000 AS BIGINT) AS approx_p90,
      |    CAST(MIN(CASE WHEN cum * 100 >= tot * 99 THEN bin END) * 5000 AS BIGINT) AS approx_p99
      |  FROM c GROUP BY 1
      |), r AS (
      |  SELECT o_orderpriority AS pri, o_totalprice AS v,
      |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice, o_orderkey) AS rn,
      |         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders
      |), e AS (
      |  SELECT pri,
      |    MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS exact_p50,
      |    MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN v END) AS exact_p90,
      |    MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN v END) AS exact_p99
      |  FROM r GROUP BY 1
      |)
      |SELECT a.pri, approx_p50, approx_p90, approx_p99,
      |       exact_p50, exact_p90, exact_p99
      |FROM a JOIN e USING (pri)""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    // floor() then cast on BOTH engines: a bare CAST(double AS BIGINT)
    // truncates in Spark but rounds-to-nearest in DuckDB — rows near a
    // bin edge would land in different bins
    val h = o.groupBy(col("o_orderpriority").as("pri"),
        expr("CAST(floor(o_totalprice) AS BIGINT) div 5000").as("bin"))
      .agg(count(lit(1)).as("n"))
    val c = h
      .withColumn("cum", sum("n").over(
        Window.partitionBy("pri").orderBy("bin")))
      .withColumn("tot", sum("n").over(Window.partitionBy("pri")))
    val approx = c.groupBy("pri").agg(
      (min(when(col("cum") * 100 >= col("tot") * 50, col("bin"))) * 5000)
        .cast("long").as("approx_p50"),
      (min(when(col("cum") * 100 >= col("tot") * 90, col("bin"))) * 5000)
        .cast("long").as("approx_p90"),
      (min(when(col("cum") * 100 >= col("tot") * 99, col("bin"))) * 5000)
        .cast("long").as("approx_p99"))
    val r = o.select(col("o_orderpriority").as("pri"),
        col("o_totalprice").as("v"), col("o_orderkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("pri").orderBy(col("v"), col("o_orderkey"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("pri")))
    val exact = r.groupBy("pri").agg(
      max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("v"))).as("exact_p50"),
      max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("v"))).as("exact_p90"),
      max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("v"))).as("exact_p99"))
    approx.join(exact, "pri")
  }

  /** q72: BFS levels from the lowest-key customer over the same
    * bipartite purchase graph as q67 — bounded-round frontier expansion
    * (4 hops), the distributed BFS shape: each round is one equi-join of
    * the CURRENT frontier against the edge list plus an anti-join
    * against the visited set, so per-round work is proportional to the
    * frontier, never the graph. Min-level semantics make the pruning
    * invisible to the oracle (a pruned rediscovery could only have a
    * larger level). localCheckpoint per round keeps lineage flat.
    */
  val qBfsLevels: QuerySpec = QuerySpec.sql(
    "q72_bfs_levels", {
      val rounds = (1 to 4).map { k =>
        s"""r$k AS (
           |  SELECT DISTINCT e.dst AS node, $k AS lvl
           |  FROM e JOIN r${k - 1} f ON e.src = f.node
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH edges AS (
         |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |), e AS (
         |  SELECT src, dst FROM edges
         |  UNION ALL SELECT dst, src FROM edges
         |), r0 AS (
         |  SELECT MIN(o_custkey) * 2 AS node, 0 AS lvl FROM orders
         |), $rounds, levels AS (
         |  SELECT * FROM r0 UNION ALL SELECT * FROM r1
         |  UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
         |  UNION ALL SELECT * FROM r4
         |)
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |       CAST(node // 2 AS BIGINT) AS key,
         |       CAST(MIN(lvl) AS BIGINT) AS level
         |FROM levels GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
    val e = purchaseEdgesShareDst(s, dir).select("src", "dst")
    val src = Tables.orders(s, dir)
      .agg(min(col("o_custkey") * 2).as("node"))
      .select(col("node"), lit(0).as("lvl"))
    var visited = src.localCheckpoint()
    var frontier = visited
    for (k <- 1 to 4) {
      frontier = e.join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(k).as("lvl"))
        .localCheckpoint()
      // visited stays a lazy union of the (already-checkpointed) round
      // frontiers: materializing it each round was one extra job and one
      // superseded block-manager resident per hop for a frame whose
      // lineage is already flat
      visited = visited.unionByName(frontier)
    }
    visited.groupBy(
      when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")).as("kind"),
      expr("node div 2").cast("long").as("key"))
      .agg(min("lvl").cast("long").as("level"))
  }

  /** The snapshot table format under the ORACLE gate (not just specs):
    * documents are committed as two snapshot versions (even doc_ids,
    * then the odd append), and the query aggregates BOTH the latest
    * read and the time-traveled v1 read — so manifest resolution,
    * pinned file lists, and time travel all have to produce exactly the
    * rows the oracle derives from the raw table. The build is
    * per-(session, dir) idempotent; reads are ordinary pushdown-capable
    * parquet scans behind the manifest.
    */
  val qSnapshotRoundtrip: QuerySpec = QuerySpec.sql(
    "q68_snapshot_roundtrip",
    """WITH l AS (
      |  SELECT lang, COUNT(*) AS n_latest,
      |         CAST(SUM(n_chars) AS BIGINT) AS chars_latest
      |  FROM documents GROUP BY lang
      |), v AS (
      |  SELECT lang, COUNT(*) AS n_v1 FROM documents
      |  WHERE doc_id % 2 = 0 GROUP BY lang
      |)
      |SELECT l.lang, n_latest, chars_latest, n_v1
      |FROM l JOIN v ON l.lang = v.lang""".stripMargin) { (s, dir) =>
    import graft.sources.Snapshots
    val root = Incremental.evenOddDocsTable(s, dir)
    val latest = Snapshots.read(s, root).groupBy("lang")
      .agg(count(lit(1)).as("n_latest"), sum("n_chars").as("chars_latest"))
    val v1 = Snapshots.read(s, root, asOf = Some(1L)).groupBy("lang")
      .agg(count(lit(1)).as("n_v1"))
    latest.join(v1, "lang")
  }

  /** Snapshot reads through the DataSourceV2 surface: the SAME committed
    * table q68 time-travels programmatically, read here as
    * `format("graft-snapshot").option("asOf", 1)` — the provider resolves
    * the manifest and delegates to the stock parquet scan, so the
    * n_chars filter is pushed to row-group stats and the projection is
    * pruned to two columns (SnapshotV2Spec pins both in the plan).
    */
  val qSnapshotV2: QuerySpec = QuerySpec.sql(
    "q78_snapshot_v2",
    """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE doc_id % 2 = 0 AND n_chars > 200
      |GROUP BY lang""".stripMargin) { (s, dir) =>
    val root = Incremental.evenOddDocsTable(s, dir)
    s.read.format("graft-snapshot")
      .option("path", root).option("asOf", 1)
      .load()
      .filter(col("n_chars") > 200)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
  }

  /** The DataSourceV2 WRITE path under the oracle gate: the table is
    * built exclusively through `df.write.format("graft-snapshot")` —
    * two appends (even then odd order keys) and one OVERWRITE (the
    * high-value subset) — then read back via the same format, latest
    * and time-traveled to the pre-overwrite version. The oracle
    * re-derives both result sets from the raw orders table, so the
    * append commit, the replacing overwrite commit, and cross-overwrite
    * time travel all have to reproduce exactly the rows SQL says. The
    * build is per-(session, dir) idempotent (version-count guard, same
    * pattern as q68's table).
    */
  val qSnapshotV2Write: QuerySpec = QuerySpec.sql(
    "q81_snapshot_v2_write",
    """WITH hi AS (
      |  SELECT o_orderstatus, COUNT(*) AS n_hi,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev_hi
      |  FROM orders WHERE o_totalprice > 150000 GROUP BY o_orderstatus
      |), full_set AS (
      |  SELECT o_orderstatus, COUNT(*) AS n_all
      |  FROM orders GROUP BY o_orderstatus
      |)
      |SELECT hi.o_orderstatus, n_hi, rev_hi, n_all
      |FROM hi JOIN full_set ON hi.o_orderstatus = full_set.o_orderstatus""".stripMargin) { (s, dir) =>
    import graft.sources.Snapshots
    val root = Incremental.snapRoot(s, dir, "snapv2w")
    // ensureBuilt serializes the check-drop-rebuild (concurrent
    // construction must not interleave the three writes) and wipes any
    // PARTIAL build — replaying all three writes on top of a half-built
    // table would double the even keys in v2+ and corrupt the asOf-2
    // read for the rest of the session
    Incremental.ensureBuilt(s, root, 3) {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      o.filter(col("o_orderkey") % 2 === 0)
        .write.format("graft-snapshot").option("path", root)
        .mode("append").save()
      o.filter(col("o_orderkey") % 2 === 1)
        .write.format("graft-snapshot").option("path", root)
        .mode("append").save()
      o.filter(col("o_totalprice") > 150000)
        .write.format("graft-snapshot").option("path", root)
        .mode("overwrite").save()
    }
    val hi = s.read.format("graft-snapshot").option("path", root).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_hi"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("rev_hi"))
    val all = s.read.format("graft-snapshot").option("path", root)
      .option("asOf", 2).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_all"))
    hi.join(all, "o_orderstatus")
  }

  /** q82: tumbling event-time window aggregation — `window(ts, 1h)`,
    * the Structured Streaming grouping primitive in its batch form (one
    * query shape serves both: the same expression under `readStream`
    * is the canonical watermarked streaming agg, spec-pinned in
    * StreamingSpec). Buckets are emitted as epoch seconds so the hash
    * gate compares integers, not timestamp formatting. One shuffle on
    * (bucket, type); partial aggregation bounds what crosses the wire
    * to |buckets|·|types| per task regardless of input size.
    */
  val qTumblingWindow: QuerySpec = QuerySpec.sql(
    "q82_tumbling_window",
    // floor division, NOT DuckDB's truncate-toward-zero `//`: Spark's
    // window() floors, so a pre-epoch timestamp would land one bucket
    // apart between the engines under bare `//`
    """SELECT ((epoch_us(ts) // 3600000000)
      |        - CASE WHEN epoch_us(ts) < 0 AND epoch_us(ts) % 3600000000 <> 0
      |               THEN 1 ELSE 0 END) * 3600 AS bucket_start,
      |       event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM events
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("revenue"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n"), col("revenue"))
  }

  /** q83: hopping (sliding) event-time window — `window(ts, 1h, 30m)`:
    * every event contributes to exactly two overlapping buckets. The
    * oracle makes the duplication explicit (UNION ALL of the two
    * candidate starts per event — for slide s and duration 2s the
    * windows containing t start at ⌊t/s⌋·s and ⌊t/s⌋·s − s), so the
    * hash gate proves Spark's window fan-out places every row in both
    * and only both buckets.
    */
  val qHoppingWindow: QuerySpec = QuerySpec.sql(
    "q83_hopping_window",
    """WITH t AS (
      |  -- floor division (Spark's window() semantics), not `//`'s
      |  -- truncation: see q82
      |  SELECT ((epoch_us(ts) // 1800000000)
      |          - CASE WHEN epoch_us(ts) < 0 AND epoch_us(ts) % 1800000000 <> 0
      |                 THEN 1 ELSE 0 END) * 1800 AS b,
      |         event_type, value
      |  FROM events
      |), cand AS (
      |  SELECT b AS bucket_start, event_type, value FROM t
      |  UNION ALL
      |  SELECT b - 1800 AS bucket_start, event_type, value FROM t
      |)
      |SELECT bucket_start, event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM cand GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("revenue"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n"), col("revenue"))
  }

  /** Metadata-only aggregates under the ORACLE gate: the snapshot
    * table is built from events with a DERIVED nullable key (every 7th
    * user NULLed) across two appends, and the whole result —
    * `COUNT(*)`, `COUNT(col)` over the nullable column, `MIN`/`MAX`
    * over bigint and timestamp — is answered from the stats sidecar's
    * footer counters as a driver-local scan
    * ([[graft.sources.v2.MetadataAgg]]; SnapshotScanStatsSpec pins the
    * LocalTableScan plan shape). The oracle re-derives every number
    * from the raw events table, so the footer row counts, null counts,
    * and INT64 endpoints must be EXACT, not merely conservative. At
    * 100 TB this query class never opens a data file.
    */
  val qMetadataAgg: QuerySpec = QuerySpec.sql(
    "q96_metadata_agg",
    """WITH t AS (
      |  SELECT event_id,
      |         CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS uid,
      |         ts
      |  FROM events
      |)
      |SELECT COUNT(*) AS n_rows,
      |       CAST(COUNT(uid) AS BIGINT) AS n_uid,
      |       MIN(event_id) AS min_eid, MAX(event_id) AS max_eid,
      |       epoch_us(MIN(ts)) AS min_ts_us,
      |       epoch_us(MAX(ts)) AS max_ts_us
      |FROM t""".stripMargin) { (s, dir) =>
    val root = Incremental.snapRoot(s, dir, "metaagg")
    Incremental.ensureBuilt(s, root, 2) {
      val e = Tables.events(s, dir).select(
        col("event_id"),
        when(col("user_id") % 7 =!= 0, col("user_id")).as("uid"),
        col("ts"))
      e.filter(col("event_id") % 2 === 0)
        .write.format("graft-snapshot").option("path", root)
        .mode("append").save()
      e.filter(col("event_id") % 2 === 1)
        .write.format("graft-snapshot").option("path", root)
        .mode("append").save()
    }
    s.read.format("graft-snapshot").option("path", root).load()
      .agg(count(lit(1)).as("n_rows"), count(col("uid")).as("n_uid"),
        min(col("event_id")).as("min_eid"), max(col("event_id")).as("max_eid"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .select(col("n_rows"), col("n_uid"), col("min_eid"), col("max_eid"),
        unix_micros(col("min_ts")).as("min_ts_us"),
        unix_micros(col("max_ts")).as("max_ts_us"))
  }

  /** Storage-partitioned join under the ORACLE gate: orders and
    * lineitem are committed as CO-BUCKETED snapshot tables
    * (`Snapshots.commitBucketed`, bucket(8, orderkey) — Spark's own
    * murmur3 row routing), registered in a V2 catalog, and the
    * fact-fact equi-join on the bucket key plans with ZERO join
    * exchanges (the scans report `KeyGroupedPartitioning`; the `merge`
    * hint keeps the broadcast heuristic out of the way;
    * BucketedJoinSpec pins the exchange-free plan). The oracle
    * re-derives the per-status revenue from the raw tables, so the
    * bucketed write path must lose or duplicate nothing. At 100 TB
    * this join moves ZERO fact bytes across the network.
    */
  val qBucketedJoin: QuerySpec = QuerySpec.sql(
    "q97_bucketed_join",
    """SELECT o.o_orderstatus,
      |       COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderstatus""".stripMargin) { (s, dir) =>
    import graft.sources.Snapshots
    val wh = Incremental.snapRoot(s, dir, "spjwh")
    val cat = s"spjcat_${Tables.dirKey(dir, 8)}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val oT = s"$wh/ns/o"
    val lT = s"$wh/ns/l"
    Incremental.ensureBuilt(s, oT, 1) {
      Snapshots.commitBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderstatus"),
        oT, "o_orderkey", 8)
    }
    Incremental.ensureBuilt(s, lT, 1) {
      Snapshots.commitBucketed(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        lT, "l_orderkey", 8)
    }
    val o = s.table(s"$cat.ns.o").hint("merge")
    val l = s.table(s"$cat.ns.l")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  val all: Seq[QuerySpec] =
    Seq(qLagDelta, qNtile, qIntersect, qAboveAvg, qRangeFrame,
      qFunnel, qCohort, qTopKPerKey, qDispersion, qGroupingSets,
      qFirstLast, qIntersectAll, qExceptAll, qKmvSketch, qCalendar,
      qStreaks, qPercentRank, qLatestEvent, qUnionDistinct, qLateOrders,
      qRecursiveDepth, qCorrelation, qSessionWindow, qFilteredAgg,
      qLateral, qSkewJoin, qZOrder, qBloom, qBasketPairs, qOrderGaps, qMad,
      qPageRank, qSnapshotRoundtrip, qBfsLevels, qKmvSetOps, qHistQuantiles,
      qAttribution, qSkewInflow, qSnapshotV2, qSnapshotV2Write,
      qTumblingWindow, qHoppingWindow, qMetadataAgg, qBucketedJoin)
}
