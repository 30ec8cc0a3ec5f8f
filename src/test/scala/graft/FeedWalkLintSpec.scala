package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceLint.sites

/** Source lint that keeps the version-step walk single: every change
  * feed and both streaming sources consume `Snapshots.steps`, which
  * reads each manifest once and pairs adjacent versions, and every
  * feed goes through the one algebra, `Snapshots.diffFeed`. A
  * hand-rolled pair walk or manifest read elsewhere fails here: consume
  * the walker instead.
  */
class FeedWalkLintSpec extends AnyFunSuite {

  test("diffFeed is called only by the walker's consumers") {
    assert(sites("diffFeed(") === Set("Snapshots.scala:diffFeed",
      "Snapshots.scala:changeFeed", "Snapshots.scala:stepFeeds"))
  }

  test("the streaming sources read no manifest list themselves") {
    for (call <- Seq("dataFiles(", "deleteFiles(", "eqDeleteFiles("))
      assert(sites(call).filter(_.startsWith("SnapshotSource.scala:")).isEmpty, call)
  }

  test("adjacent versions are paired only by the walker") {
    // maintain's pairing is over sorted file stats, not versions
    assert(sites(".sliding(2)") === Set("Snapshots.scala:steps", "Snapshots.scala:maintain"))
  }
}
