package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceLint.codeLines

/** Source lint that pins the `graft.*` settings `src/main` reads. Each
  * setting multiplies the configurations the tests and the benchmark
  * must cover, so a new one needs a deliberate edit here. A value only
  * a test varies is a constant; a branch only a test selects is reached
  * through the test's input.
  */
class KnobLintSpec extends AnyFunSuite {

  /** A setting key as a whole string literal: `graft.<area>.<name>`. */
  private val KeyRe = """"(graft\.[a-z]+\.[a-z][A-Za-z0-9]*)"""".r

  test("src/main reads exactly the seven graft.* settings") {
    val keys = codeLines.flatMap { case (_, _, l) => KeyRe.findAllMatchIn(l).map(_.group(1)) }
    assert(keys.toSet === Set(
      "graft.snapshot.runtimeGroupFilterColumns",
      "graft.snapshot.deleteBroadcastBytes",
      "graft.snapshot.eqDeleteBroadcastBytes",
      "graft.snapshot.addVMapLiteralMaxFiles",
      "graft.snapshot.feedMaxCommits",
      "graft.snapshot.procedureMaxRows",
      "graft.pagerank.traceDir"))
  }
}
