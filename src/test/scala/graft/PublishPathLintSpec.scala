package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceLint.{codeLines, mainRoot, sites}

/** Source lint that keeps the snapshot format's publish path single:
  * every `manifest-v<N>` is written by `Snapshots.claimManifest` and
  * every table side file by `Snapshots.writeSide`, both riding the one
  * tmp-write/claim, `Snapshots.claimFile`. A hand-rolled tmp file or
  * claim anywhere else in `src/main` fails here: move it onto a seam.
  */
class PublishPathLintSpec extends AnyFunSuite {

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
