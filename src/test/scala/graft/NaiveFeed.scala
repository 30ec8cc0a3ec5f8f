package graft

import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The change-feed reference that shares nothing with the feed's
  * algebra: the multiset difference of two whole snapshot reads.
  */
object NaiveFeed {

  /** `read(b) ∖ read(a)` tagged insert, plus `read(a) ∖ read(b)` tagged delete. */
  def apply(spark: SparkSession, t: String, a: Long, b: Long): DataFrame = {
    val (ra, rb) = (Snapshots.read(spark, t, Some(a)), Snapshots.read(spark, t, Some(b)))
    rb.exceptAll(ra).withColumn("_change_type", lit("insert"))
      .unionByName(ra.exceptAll(rb).withColumn("_change_type", lit("delete")))
  }

  /** The naive diff of every step from `a` to `b`, each tagged with its
    * step's `_commit_version`.
    */
  def byVersion(spark: SparkSession, t: String, a: Long, b: Long): DataFrame = {
    val vs = Snapshots.versions(spark, t).filter(v => v >= a && v <= b)
    vs.zip(vs.tail).map { case (x, y) =>
      apply(spark, t, x, y).withColumn("_commit_version", lit(y))
    }.reduce(_ unionByName _)
  }
}
