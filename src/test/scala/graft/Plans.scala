package graft

/** Plan auditor: prints formatted physical plans for the headline queries
  * so scan pushdown / broadcast choices / codegen spans can be reviewed
  * (run: sbt "Test/runMain graft.Plans [queryName ...]").
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(cpus = 8, appName = "graft-plans")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q3_revenue_by_nation", "q6_top_customers",
        "q21_daily_kpi", "d3_minhash_lsh", "d6_simhash_pairs",
        "s1_knn_cosine", "s2_cosine_neardup", "q29_asof_join",
        "q30_range_join", "p5_sequence_packing")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
