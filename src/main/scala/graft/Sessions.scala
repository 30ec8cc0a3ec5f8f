package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults chosen for correctness parity with the external DuckDB oracle
  * (UTC session time zone, ANSI off to match permissive reference behavior)
  * and for the local[32] test harness (32 shuffle partitions, AQE on).
  * On a real cluster the same builder applies — only master/memory change.
  * Reference behavior mirrored: revenue_analysis/main.ipynb:36-61 (local
  * master, explicit parallelism, Arrow flag — moot on the JVM).
  */
object Sessions {
  def local(cpus: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // build-time extensions: pre-CBO rules (AutoRuntimeGroupFilter)
      // can only be injected at session construction — tune()'s
      // post-construction experimental hooks run too late in the
      // optimizer for anything that must precede scan planning
      .config("spark.sql.extensions", "graft.plans.GraftPlannerExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** S14: point the session's default filesystem at an HDFS (or any
    * Hadoop-compatible) namenode — the mini-lab `fs.defaultFS` setup
    * (mini-lab-hdfs+spark-local/spark.ipynb:15-58). Local paths keep
    * working via explicit `file://` URIs.
    */
  def withDefaultFs(spark: SparkSession, uri: String): SparkSession = {
    spark.sparkContext.hadoopConfiguration.set("fs.defaultFS", uri)
    spark
  }

  /** Apply graft defaults to an externally-built session (driver-owned
    * sessions in Verify/Bench): runtime-settable confs plus the graft
    * planner/optimizer hooks (experimental.* is the post-construction
    * registration point; builder-owned sessions would use
    * .withExtensions(new plans.GraftPlannerExtensions)).
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // INT96 (the Spark default) is deprecated AND carries no usable
    // footer min/max — written timestamps would be invisible to
    // FileStats data skipping
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // storage-partitioned joins over bucketed snapshot tables: lets a
    // scan's reported KeyGroupedPartitioning eliminate join exchanges;
    // affects only scans that report one (bucketed snapshot tables)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // one-side shuffle: a bucketed × UNBUCKETED join shuffles only the
    // unbucketed side, hashed by the catalog's own bucket function, so
    // the (large) bucketed fact never moves — at 100 TB that halves
    // the join's network cost even when the other input isn't a
    // snapshot table. Affects only plans with a KeyGrouped side —
    // i.e. only tables someone deliberately bucketed, which is the
    // signal the fact is shuffle-dominant. Measured economics
    // (PLANS.md round-7): at sf0.1 the eliminated
    // shuffle is SMALLER than the fixed bucket-parallelism + sort
    // cost (1.58 s vs 0.86 s warm), so bucketing itself stays opt-in
    // per table; once a table IS bucketed, keeping its side pinned is
    // strictly less data moved.
    spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    if (!spark.experimental.extraStrategies.contains(plans.TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.TopKPerKeyStrategy
    if (!spark.experimental.extraOptimizations.contains(plans.SemiJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.SemiJoinRewrite
    functions.SqlFunctions.register(spark)
    spark
  }
}
