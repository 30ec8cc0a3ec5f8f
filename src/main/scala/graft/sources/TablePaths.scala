package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one spelling of the file references a snapshot table records —
  * manifest lines, position-sidecar `file_path` rows and [[FileStats]]
  * keys alike (Delta's `add.path` rule):
  *  - a file under the table's root is recorded RELATIVE to the root
  *    (`data/<uuid>/part-….parquet`);
  *  - a file outside it (a fork's parent files) is recorded as its
  *    qualified absolute path, and an absolute entry — including every
  *    line written before the relative rule — resolves to itself.
  *
  * Writers [[relativize]]; the manifest parser, the sidecar reader and
  * the stats loader [[resolve]] each entry once, to the qualified Hadoop
  * path string every in-memory file list carries, so two lists compare
  * by plain string equality. A scan names each row's file by its
  * `_metadata.file_path` — the URI-encoded spelling of that path
  * ([[TablePaths.fileId]]) — so the delete predicates and the
  * add-version map key on [[idOf]].
  *
  * Because nothing under the root records the root, RENAME is a
  * directory move and a fast-forward moves a branch's staged dirs
  * without rewriting an entry.
  */
final class TablePaths private (private val rootStr: String) extends Serializable {
  @transient private lazy val root = new Path(rootStr)
  private val prefix = rootStr.stripSuffix("/") + "/"
  private val idPrefix = TablePaths.fileId(rootStr).stripSuffix("/") + "/"

  /** The qualified path of a recorded `entry`. */
  def resolve(entry: String): String =
    if (TablePaths.isAbsolute(entry)) qualify(entry) else prefix + entry

  /** The entry to record for `path` (any spelling): root-relative under
    * the root, the qualified absolute path elsewhere.
    */
  def relativize(path: String): String =
    within(path).getOrElse(qualify(path))

  /** `path`'s root-relative entry when it lies under the root. */
  def within(path: String): Option[String] =
    if (path.startsWith(prefix)) Some(path.substring(prefix.length))
    else {
      val q = qualify(path)
      Option.when(q.startsWith(prefix))(q.substring(prefix.length))
    }

  /** Where `path` lands when this root's entries are read under
    * `target` — a fast-forward moves the branch's staged dirs into the
    * parent by name, so its relative entries carry over unchanged.
    */
  def movedTo(target: TablePaths)(path: String): String =
    within(path).map(target.resolve).getOrElse(path)

  /** The entry to record for a scan row's `_metadata.file_path`. */
  def relativizeId(id: String): String =
    if (id.startsWith(idPrefix) && id.indexOf('%', idPrefix.length) < 0)
      id.substring(idPrefix.length)
    else relativize(new Path(new java.net.URI(id)).toString)

  /** The `_metadata.file_path` a scan reports for a recorded `entry`. */
  def idOf(entry: String): String =
    if (!TablePaths.isAbsolute(entry) && TablePaths.uriPlain(entry)) idPrefix + entry
    else TablePaths.fileId(resolve(entry))

  /** True when `entry` is recorded absolute yet lies under the root: a
    * line a directory move would strand.
    */
  def absoluteUnderRoot(entry: String): Boolean =
    TablePaths.isAbsolute(entry) && qualify(entry).startsWith(prefix)

  private def qualify(p: String): String =
    new Path(p).makeQualified(root.toUri, root).toString

  override def equals(o: Any): Boolean = o match {
    case t: TablePaths => t.rootStr == rootStr
    case _ => false
  }
  override def hashCode: Int = rootStr.hashCode
}

object TablePaths {

  /** The spelling of `table`'s own files. */
  def apply(fs: FileSystem, table: String): TablePaths =
    new TablePaths(fs.makeQualified(new Path(table)).toString)

  def apply(spark: SparkSession, table: String): TablePaths =
    apply(new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration), table)

  /** The spelling of a position sidecar's rows: relative to the table
    * whose `deletes/<uuid>/` directory holds it. A fork reads its
    * parent's sidecars, and a fast-forward moves a branch's sidecars
    * into the parent, under the same rule.
    */
  def ofSidecar(spark: SparkSession, sidecar: String): TablePaths =
    apply(spark, new Path(sidecar).getParent.getParent.getParent.toString)

  /** `_metadata.file_path` of a resolved path: its URI spelling. */
  def fileId(path: String): String = new Path(path).toUri.toString

  private def isAbsolute(entry: String): Boolean =
    entry.startsWith("/") || {
      val colon = entry.indexOf(':')
      val slash = entry.indexOf('/')
      colon > 0 && (slash < 0 || colon < slash)
    }

  /** True when URI-encoding leaves `s` unchanged (ASCII path characters
    * that need no escape).
    */
  private def uriPlain(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || "-_.!~*'();:@&=+$,/".indexOf(c) >= 0)) return false
      i += 1
    }
    true
  }
}
