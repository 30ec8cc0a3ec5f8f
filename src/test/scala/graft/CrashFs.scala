package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The injected-crash sentinel. An IOException so every layer treats it
  * as the infrastructure failure it models, not a logic bug.
  */
final class CrashInjected(msg: String)
    extends java.io.IOException(s"injected crash at mutation: $msg")

/** Crash-point controller for [[CrashFs]] (JVM-global — local-mode
  * executors are threads of this JVM, so task-side mutations tick the
  * same budget). `arm(k, filter)` allows k matching mutations and
  * throws [[CrashInjected]] on every matching mutation after them —
  * the crash model: once the process "died", NO later write succeeds,
  * so in-process failure handlers cannot quietly repair the state and
  * recovery must come from the next session's read/retry.
  */
object CrashFsHook {
  @volatile private var armed = false
  @volatile private var filter: String => Boolean = _ => true
  @volatile var fired = false
  private val remaining = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)

  def arm(allowed: Int, pathFilter: String => Boolean): Unit = {
    fired = false
    filter = pathFilter
    remaining.set(allowed)
    armed = true
  }

  def disable(): Unit = {
    armed = false
    fired = false
  }

  private[graft] def tick(p: Path): Unit =
    if (armed && filter(p.toString) && remaining.getAndDecrement() <= 0) {
      fired = true
      throw new CrashInjected(p.toString)
    }
}

/** The raw local filesystem mounted under a test-only `scheme:` —
  * the shared base of the fault-injection filesystems below. Extends
  * RawLocalFileSystem (no checksum sidecars) so a test sees exactly the
  * table format's own step sequence.
  */
abstract class SchemeLocalFs(scheme: String) extends RawLocalFileSystem {
  override def getScheme: String = scheme
  override def getUri: URI = URI.create(s"$scheme:///")

  // RawLocal's File conversion rejects any scheme but "file" (it feeds
  // path.toUri straight into java.io.File on some list paths); strip
  // the test scheme before delegating
  override def pathToFile(path: Path): java.io.File =
    super.pathToFile(
      if (path.toUri.getScheme == null) path else new Path(path.toUri.getPath))

  // RawLocal's lazily-loaded permissions do `new java.io.File(uri)` on
  // the status's own (test-scheme) path when a LocatedFileStatus asks
  // for them — materialize plain statuses eagerly instead (callers here
  // only consume length/mtime/path)
  override def listLocatedStatus(f: Path)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    val it = listStatus(f).iterator.map { st =>
      val plain = new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
        st.getReplication, st.getBlockSize, st.getModificationTime,
        st.getAccessTime, FsPermission.getFileDefault, "", "", st.getPath)
      new org.apache.hadoop.fs.LocatedFileStatus(plain,
        if (st.isFile) getFileBlockLocations(st, 0, st.getLen) else null)
    }
    new org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] {
      override def hasNext: Boolean = it.hasNext
      override def next(): org.apache.hadoop.fs.LocatedFileStatus = it.next()
    }
  }
}

/** A local filesystem under the `crash:` scheme whose MUTATIONS
  * (create / rename / delete / mkdirs) tick [[CrashFsHook]]'s budget —
  * the fault-injection seam of the crash-recovery property test. Reads
  * never tick: a dead process stops writing, not observing.
  */
final class CrashFs extends SchemeLocalFs("crash") {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFsHook.tick(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  // RawLocal's permission-less create does not route through the one
  // above; the format's own `f.create(path, overwrite)` lands here
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFsHook.tick(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFsHook.tick(dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFsHook.tick(p)
    super.delete(p, recursive)
  }

  override def mkdirs(p: Path): Boolean = {
    CrashFsHook.tick(p)
    super.mkdirs(p)
  }
}

/** Lost-race controller for [[RaceFs]]: `arm(dir)` makes the NEXT
  * manifest claim staged under `dir` lose — the instant the writer
  * creates its tmp manifest for version N, a rival `manifest-v<N>.json`
  * appears (carrying version N-1's entries, or none for N = 1), exactly
  * what a concurrent writer winning the version would leave. With a
  * `rival` the version is won by that writer instead, run right there
  * (a real concurrent commit: an append, a compaction). One shot.
  */
object RaceFsHook {
  @volatile private var armedDir: Option[String] = None
  @volatile private var rival: Option[() => Unit] = None
  @volatile var occupied: Option[Long] = None

  private val TmpManifest = """\.manifest-v([0-9]+)\.json\..+\.tmp""".r

  def arm(dir: String, rivalWriter: Option[() => Unit] = None): Unit = {
    occupied = None
    rival = rivalWriter
    armedDir = Some(new Path(dir).toUri.getPath)
  }

  def disable(): Unit = { armedDir = None; rival = None }

  private[graft] def staged(p: Path): Unit = (armedDir, p.getName) match {
    case (Some(d), TmpManifest(n)) if p.getParent.toUri.getPath == d =>
      armedDir = None
      val v = n.toLong
      rival match {
        case Some(writer) =>
          rival = None
          writer()
        case None =>
          val prev = java.nio.file.Paths.get(d, s"manifest-v${v - 1}.json")
          val entries =
            if (java.nio.file.Files.exists(prev)) {
              val t = new String(java.nio.file.Files.readAllBytes(prev), "UTF-8")
              t.dropWhile(_ != '\n')
            } else "\n"
          java.nio.file.Files.write(java.nio.file.Paths.get(d, s"manifest-v$v.json"),
            s"v$v$entries".getBytes("UTF-8"))
      }
      occupied = Some(v)
    case _ => ()
  }
}

/** A local filesystem under the `race:` scheme with HDFS's no-overwrite
  * rename (the claim's non-`file:` branch) and the [[RaceFsHook]] lost-
  * race injection on tmp-manifest creation.
  */
final class RaceFs extends SchemeLocalFs("race") {
  // the format creates its tmp files through RawLocal's permission-less
  // create
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    RaceFsHook.staged(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean =
    if (exists(dst) && getFileStatus(dst).isFile) false else super.rename(src, dst)
}
