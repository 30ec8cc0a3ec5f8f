package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with an in-process `setPermission`.
  *
  * Without `libhadoop` (NativeIO unavailable), `RawLocalFileSystem`
  * sets a permission by starting a `chmod` process, and it sets one on
  * every file it creates (a plain `create` passes the umasked default),
  * on the `.crc` file written beside it and on every directory `mkdirs`
  * makes: 12 to 23 processes per snapshot write, 2 ms each. This sets
  * the nine rwx bits with `Files.setPosixFilePermissions`, the same
  * `chmod` call on the same bits, following symlinks as `chmod` does.
  * A mode with any other bit (sticky), or a platform without a POSIX
  * attribute view, takes Hadoop's own path.
  */
class GraftRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !GraftLocalFs.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, GraftLocalFs.rwx(mode))
  }
}

/** The `file:` FileSystem: Hadoop's `LocalFileSystem` (`.crc` files
  * written, verified on read) over [[GraftRawLocalFs]].
  */
class GraftLocalFs extends LocalFileSystem(new GraftRawLocalFs)

/** The `file:` AbstractFileSystem (FileContext, which Structured
  * Streaming checkpoints use): Hadoop's `LocalFs` — a `ChecksumFs` over
  * `RawLocalFs` — with [[GraftRawLocalFs]] as the delegate.
  */
class GraftLocalAfs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalAfs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[GraftRawLocalFs]].
  */
class GraftRawLocalAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFs, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object GraftLocalFs {
  /** The Hadoop keys that make both entry points resolve `file:` here.
    * `FileSystem.get` caches one instance per scheme whatever the conf,
    * so they must be in the SparkContext's conf before the first local
    * filesystem is created: [[graft.Sessions.local]] sets them as
    * `spark.hadoop.*` builder configs.
    */
  val HadoopConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[GraftLocalFs].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalAfs].getName)

  private[sources] val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission's declaration order is the rwx bits high to low
  private val bits = PosixFilePermission.values.toSeq

  private[graft] def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((p, i) <- bits.zipWithIndex if (mode & (0x100 >> i)) != 0) set.add(p)
    set
  }
}
