package graft

import graft.sources.{PositionDeletes, Snapshots, TablePaths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, udf}

/** Writes a merge-on-read DELETE in the v1 position-sidecar layout, one
  * `(file_path, pos)` row per deleted row, which tables written before
  * deletion vectors still carry. The engine writes only deletion
  * vectors, so the specs that read the v1 layout make it here: the rows
  * of the head's live view that `predicate` matches (NULL survives, as
  * in SQL) are recorded root-relative under a fresh `deletes/<uuid>` and
  * published through [[Snapshots.publishDelta]].
  */
object V1Sidecar {

  /** The new version, or the head when no row matched. */
  def deleteWhere(spark: SparkSession, table: String, predicate: Column): Long = {
    import PositionDeletes.{FileCol, MetaFile, MetaPos, PosCol}
    val src = Snapshots.versions(spark, table).last
    val files = Snapshots.dataFiles(spark, table, Some(src))
    val dels = Snapshots.deleteFiles(spark, table, Some(src))
    val scan = PositionDeletes.withRowIdentity(spark.read.parquet(files: _*))
    val live = if (dels.isEmpty) scan
      else PositionDeletes.live(spark, scan, dels, keepIdentity = true)
    val tp = TablePaths(spark, table)
    val entry = udf((id: String) => tp.relativizeId(id))
    val dir = new Path(s"$table/deletes/${java.util.UUID.randomUUID}")
    live.filter(coalesce(predicate, lit(false)))
      .select(entry(col(MetaFile)).as(FileCol), col(MetaPos).as(PosCol))
      .coalesce(1).write.parquet(dir.toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecars = fs.listStatus(dir).toSeq.map(_.getPath.toString)
      .filter(_.split('/').last.startsWith("part-")).sorted
    if (PositionDeletes.referencedDataFiles(spark, sidecars).isEmpty) {
      fs.delete(dir, true)
      src
    } else Snapshots.publishDelta(spark, table, src, Nil, sidecars, "mor-delete", Seq(dir))
  }
}
