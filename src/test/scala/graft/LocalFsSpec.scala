package graft

import java.io.{IOException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.sources.{GraftLocalAfs, GraftLocalFs, GraftRawLocalFs, Snapshots}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** [[GraftLocalFs]], the `file:` filesystem whose `setPermission` is a
  * system call, against Hadoop's own local filesystem (which, without
  * `libhadoop`, forks `chmod`) as the reference: the same bits for every
  * rwx mode and for the umasked create/mkdirs defaults, Hadoop's path
  * for a sticky mode, the same failure on a missing path, checksums
  * still verified on read, and the session resolving `file:` to it.
  */
class LocalFsSpec extends SparkTestBase {

  private val local = URI.create("file:///")

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(local, new Configuration()); fs }

  private def perms(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  private def hPath(p: JPath): Path = new Path(p.toUri)

  test("every rwx mode sets the bits Hadoop's chmod sets") {
    val hadoop = init(new RawLocalFileSystem)
    val graft = init(new GraftRawLocalFs)
    val dir = Files.createTempDirectory("graftfs")
    val (ref, ours) = (Files.createFile(dir.resolve("ref")), Files.createFile(dir.resolve("ours")))
    for (m <- 0 until 512) {
      // start both from the complement, so a no-op cannot pass
      val other = GraftLocalFs.rwx(~m & 0x1ff)
      Files.setPosixFilePermissions(ref, other)
      Files.setPosixFilePermissions(ours, other)
      hadoop.setPermission(hPath(ref), new FsPermission(m.toShort))
      graft.setPermission(hPath(ours), new FsPermission(m.toShort))
      assert(perms(ours) === perms(ref), f"mode $m%03o")
      assert(mode(ours) === mode(ref), f"mode $m%03o")
    }
  }

  test("umasked create and mkdirs defaults match Hadoop's, through FileSystem and FileContext") {
    val conf = new Configuration()
    val sides = Seq[(String, (Path, Path) => Unit)](
      "ref" -> fsCreate(init(new LocalFileSystem)),
      "ours" -> fsCreate(init(new GraftLocalFs)),
      "fcref" -> fcCreate(FileContext.getLocalFSFileContext(conf)),
      "fcours" -> fcCreate(FileContext.getFileContext(new GraftLocalAfs(local, conf), conf)))
    val dir = Files.createTempDirectory("graftfs")
    for ((side, create) <- sides) create(hPath(dir.resolve(s"$side.bin")), hPath(dir.resolve(s"$side/a/b")))
    for ((ref, ours) <- Seq("ref" -> "ours", "fcref" -> "fcours");
         p <- Seq(".bin", "", "/a", "/a/b")) {
      val (r, o) = (dir.resolve(s"$ref$p"), dir.resolve(s"$ours$p"))
      assert(perms(o) === perms(r), s"$ours$p")
      assert(mode(o) === mode(r), s"$ours$p")
      // the checksum file written beside each created file
      if (p == ".bin") assert(perms(dir.resolve(s".$ours.bin.crc")) === perms(dir.resolve(s".$ref.bin.crc")))
    }
  }

  private def fsCreate(fs: FileSystem)(file: Path, dirs: Path): Unit = {
    fs.create(file).close()
    assert(fs.mkdirs(dirs))
  }

  private def fcCreate(fc: FileContext)(file: Path, dirs: Path): Unit = {
    fc.create(file, java.util.EnumSet.of(CreateFlag.CREATE)).close()
    fc.mkdir(dirs, FsPermission.getDirDefault, true)
  }

  test("a sticky mode takes Hadoop's path, which keeps the sticky bit") {
    val dir = Files.createTempDirectory("graftfs")
    init(new GraftRawLocalFs).setPermission(hPath(dir), new FsPermission("1755"))
    assert((mode(dir) & 0xfff) === Integer.parseInt("1755", 8))
  }

  test("a missing path fails with an IOException, as Hadoop's does") {
    val missing = hPath(Files.createTempDirectory("graftfs").resolve("missing"))
    val perm = new FsPermission("644")
    intercept[IOException](init(new RawLocalFileSystem).setPermission(missing, perm))
    intercept[IOException](init(new GraftRawLocalFs).setPermission(missing, perm))
  }

  test("a byte flipped in a committed data file fails the read with a ChecksumException") {
    import spark.implicits._
    val t = Files.createTempDirectory("graftfs").resolve("t").toString
    Snapshots.commit((0 until 5000).map(i => (i, s"row-$i")).toDF("id", "name").coalesce(1), t)
    val file = new java.io.File(new URI(Snapshots.dataFiles(spark, t).head))
    assert(new java.io.File(file.getParent, s".${file.getName}.crc").exists)
    val raf = new RandomAccessFile(file, "rw")
    try {
      val at = raf.length / 2
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0xff)
    } finally raf.close()
    val e = intercept[Exception](Snapshots.read(spark, t).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("the session resolves file: to the graft filesystems for both Hadoop entry points") {
    val conf = spark.sparkContext.hadoopConfiguration
    for (c <- Seq(conf, spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.newInstance(local, c)
      try assert(fs.isInstanceOf[GraftLocalFs]) finally fs.close()
      assert(FileContext.getFileContext(local, c).getDefaultFileSystem.isInstanceOf[GraftLocalAfs])
    }
  }
}
