package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components by alternating LARGE-STAR /
  * SMALL-STAR rounds (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) — the algorithm Spark-scale graph
  * libraries use, converging in O(log² n) rounds regardless of
  * component shape.
  *
  * Round-4's 10× scale tier showed why the usual min-label propagation
  * is not the 100 TB shape: propagation needs O(longest path) rounds,
  * and a chain-shaped near-dup cluster outran the cap the moment the
  * corpus grew. (A pointer-jumping variant was measured here too: its
  * per-round label self-join converges slowly on general graphs AND
  * trips a Spark 4 planner edge — `Dataset.checkpoint` copies the
  * parent plan's ESTIMATED statistics into the checkpointed node, so
  * self-joining a checkpointed frame per round squares `sizeInBytes`
  * until planning itself grinds in BigInteger arithmetic.)
  *
  * State is an edge list in canonical child>parent orientation:
  *  - large-star: every strictly-larger neighbor of u re-hangs onto
  *    min(Γ(u) ∪ u) — long tails collapse toward minima;
  *  - small-star: every smaller neighbor (and u itself) hangs onto
  *    the group minimum — stars flatten.
  * Both preserve connectivity; star forests are exactly their fixed
  * points. Convergence is checked exactly (one aggregate + one
  * semi-join per round): the edge list is a star forest iff every
  * child has one parent and no parent is itself a child.
  */
object ConnectedComponents {

  /** Labels every id that appears in `pairs` (two id columns, one row
    * per undirected edge) with the minimum id reachable from it.
    * Returns (id, label).
    */
  def labels(pairs: DataFrame, idA: String, idB: String,
      maxRounds: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    val members = pairs.select(col(idA).as("id"))
      .union(pairs.select(col(idB).as("id"))).distinct().localCheckpoint()
    var e = pairs
      .select(col(idA).as("x"), col(idB).as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
      .distinct().localCheckpoint()
    // free a superseded round's localCheckpoint once its successor is
    // materialized — checkpoint blocks sit in the protected storage
    // fraction, so 10-30 resident edge-list copies would squeeze
    // execution memory at exactly the graph sizes this class exists for
    // (the q67 residency-hygiene lesson)
    def free(df: DataFrame): Unit =
      org.apache.spark.sql.GraftShim.logicalPlan(df) match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          try lr.rdd.unpersist(blocking = false)
          catch { case _: IllegalStateException => () }
        case _ => ()
      }
    // one count over the checkpointed edges replaces the old isEmpty
    // probe (same single job) AND sizes every round's shuffles by the
    // DATA: the loop's window/distinct exchanges over a kilobyte-scale
    // edge list at the session's core-count width were per-task
    // scheduling, not compute (the q67 seam lesson; guide §2.2/§2.6).
    // ~16 raw bytes per (u,v) edge; the width grows with |E|, so tier
    // and cluster scales get wider, never narrower, rounds.
    val edges0 = e.count()
    var converged = edges0 == 0L
    val widthConf = "spark.sql.shuffle.partitions"
    val prevWidth = spark.conf.getOption(widthConf)
    if (!converged) spark.conf.set(widthConf,
      graft.Tables.seamShuffleWidth(edges0 * 16L).toString)
    var i = 0
    try {
      while (i < maxRounds && !converged) {
        // large-star over the symmetric neighborhood
        val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        // no dedup between the stars: the small-star min is
        // duplicate-insensitive and the final distinct canonicalizes, so
        // the intermediate distinct bought one whole exchange per round
        // for nothing — pre-dedup volume here is one row per symmetric
        // edge with v > u, i.e. ~|e|, the same order the window already
        // buffers per partition key
        val ls = sym
          .withColumn("m", least(min("v").over(Window.partitionBy("u")), col("u")))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        // small-star over the canonical (child > parent) orientation
        val withM = ls.withColumn("m", min("v").over(Window.partitionBy("u")))
        val prev = e
        e = withM.filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(withM.select(col("u"), col("m").as("v")))
          .distinct()
          .localCheckpoint() // eager: prev is dead once this returns
        free(prev)
        i += 1
        // exact star-forest test — one parent per child, no parent is a
        // child — fused into ONE aggregation job (was an agg+countDistinct
        // job plus a two-distinct semi-join job): per id, t = total
        // appearances, c = appearances as child; then |e| = Σc,
        // #children = #{c>0}, and "a parent is a child" ⇔ c>0 ∧ t>c.
        val r = e.select(col("u"), lit(1L).as("c"))
          .union(e.select(col("v").as("u"), lit(0L).as("c")))
          .groupBy("u").agg(count(lit(1)).as("t"), sum("c").as("c"))
          .agg(sum("c").as("n"),
            count(when(col("c") > 0, lit(1))).as("nu"),
            count(when(col("c") > 0 && col("t") > col("c"), lit(1))).as("mixed"))
          .head()
        converged = !r.isNullAt(0) && r.getLong(0) == r.getLong(1) &&
          r.getLong(2) == 0L
      }
    } finally prevWidth.fold(spark.conf.unset(widthConf))(v =>
      spark.conf.set(widthConf, v))
    if (!converged) throw new IllegalStateException(
      s"large/small-star did not converge within $maxRounds rounds")
    members.join(e.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }
}
