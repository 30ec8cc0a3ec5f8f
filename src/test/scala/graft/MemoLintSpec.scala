package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceLint.{codeLines, sites}

/** Source lint that keeps every driver-side metadata cache on
  * [[graft.Memo]]: one bound policy, and one table-scoped invalidation
  * that DROP and RENAME reach through `Memo.invalidateTable`. A
  * hand-rolled concurrent map or clear-all eviction elsewhere in
  * `src/main` fails here: build a `Memo` instead. Memo keys and
  * invalidation compare paths through `Memo.normPath`, so it is also
  * the one path normalizer.
  */
class MemoLintSpec extends AnyFunSuite {

  /** The session checkpoint registry and the scratch-table build locks
    * are not caches (evicting a held lock would let two builders race).
    */
  private val MapOwners = Set("Memo.scala", "Intermediates.scala", "Incremental.scala")

  test("no concurrent map is built outside Memo and the two registries") {
    val maps = (sites("ConcurrentHashMap") ++ sites("TrieMap"))
      .filterNot(s => MapOwners(s.takeWhile(_ != ':')))
    assert(maps.isEmpty)
  }

  test("no size-check clear-all eviction") {
    val ClearAll = """\.size\s*>=?\s*[^)]*\)\s*[A-Za-z0-9_.]*\.clear\(\)""".r
    val hits = codeLines.collect {
      case (f, d, l) if ClearAll.findFirstIn(l).isDefined => s"$f:$d"
    }
    assert(hits.isEmpty)
  }

  test("paths are normalized only by Memo.normPath") {
    // a java.nio path is built from the scheme-free path too
    val hits = codeLines.collect {
      case (f, d, l) if l.contains(".toUri.getPath") && !l.contains("Paths.get(") => s"$f:$d"
    }
    assert(hits.toSet === Set("Memo.scala:normPath"))
  }

  test("only DROP and RENAME invalidate, through the one table-scoped call") {
    assert(sites("Memo.invalidateTable(") ===
      Set("Snapshots.scala:drop", "SnapshotCatalog.scala:renameTable"))
    assert(sites("def invalidate").map(_.takeWhile(_ != ':')) === Set("Memo.scala"))
  }
}
