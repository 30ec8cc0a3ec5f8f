package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint that keeps the snapshot format's publish path single:
  * every `manifest-v<N>` is written by `Snapshots.claimManifest` and
  * every table side file by `Snapshots.writeSide`, both riding the one
  * tmp-write/claim, `Snapshots.claimFile`. A hand-rolled tmp file or
  * claim anywhere else in `src/main` fails here: move it onto a seam.
  */
class PublishPathLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** (file name, enclosing def, code line) for every non-comment line. */
  private lazy val codeLines: Seq[(String, String, String)] =
    Files.walk(mainRoot).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .flatMap { (p: Path) =>
        var enclosing = "<top>"
        Files.readAllLines(p).asScala.toSeq.flatMap { line =>
          val t = line.trim
          DefRe.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
          if (t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) None
          else Some((p.getFileName.toString, enclosing, line))
        }
      }

  private val DefRe = """\bdef\s+([A-Za-z0-9_]+)""".r

  /** Sites matching `pattern`, as "file:def" strings. */
  private def sites(pattern: String): Set[String] =
    codeLines.collect { case (f, d, l) if l.contains(pattern) => s"$f:$d" }.toSet

  test("the source tree is where the lint looks") {
    assert(Files.isRegularFile(mainRoot.resolve("graft/sources/Snapshots.scala")))
    assert(codeLines.size > 10000)
  }

  test("publishAtomic is called only by the shared claim") {
    assert(sites("publishAtomic(") ===
      Set("Snapshots.scala:publishAtomic", "Snapshots.scala:claimFile"))
  }

  test("no tmp path is built outside the shared claim") {
    assert(sites(".tmp\"") === Set("Snapshots.scala:claimFile"))
    assert(sites(".manifest-v").isEmpty)
  }

  test("only the two seams write through the shared claim") {
    assert(sites("claimFile(") === Set("Snapshots.scala:claimFile",
      "Snapshots.scala:claimManifest", "Snapshots.scala:writeSide"))
    assert(sites("writeManifestBody(") ===
      Set("Snapshots.scala:writeManifestBody", "Snapshots.scala:claimManifest"))
  }
}
