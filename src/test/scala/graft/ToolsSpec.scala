package graft

import graft.tools.BoundedMemo
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side cache plumbing: LRU order, eviction callbacks, and
  * fatal-error transparency.
  */
class ToolsSpec extends AnyFunSuite {

  test("no raw broadcast( hints outside GuardedBroadcast (registry audit)") {
    val hints = graft.tools.PlanAudit.rawBroadcastHints()
    assert(hints.isEmpty,
      s"route these through GuardedBroadcast.maybe: ${hints.mkString(", ")}")
  }

  test("no raw Window.orderBy( partition-less windows in main (registry audit)") {
    val hits = graft.tools.PlanAudit.rawGlobalWindows()
    assert(hits.isEmpty,
      "partition-less windows single-task-sort their input — use " +
        s"BoundedWindow.ordered or ExactRank: ${hits.mkString(", ")}")
  }

  test("no stray build dirs inside the source WORKTREE (hygiene audit)") {
    val stray = graft.tools.PlanAudit.strayBuildDirs()
    assert(stray.isEmpty,
      "build-artifact dirs inside src/ are untracked (git-invisible) " +
        "leak vectors — delete them and fix the working directory of " +
        s"whatever created them: ${stray.mkString(", ")}")
  }

  test("BoundedMemo evicts least-recently-USED, not first-inserted") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo = new BoundedMemo[Int, String](2, evicted += _)
    memo.getOrElseUpdate(1, "a")
    memo.getOrElseUpdate(2, "b")
    memo.getOrElseUpdate(1, fail("hit must not rebuild")) // refresh 1
    memo.getOrElseUpdate(3, "c") // cap 2: evict 2 (LRU), keep hot 1
    assert(evicted.toSeq == Seq("b"))
    assert(memo.getOrElseUpdate(1, fail("1 must survive")) == "a")
    assert(memo.size == 2)
  }

  test("invalidateStale wipes only exact-tag entries, including the stats cache") {
    import java.nio.file.{Files, Paths}
    val spark = GraftSession.local("2")
    val root = Files.createTempDirectory("pstore_test").toString
    def mkDir(name: String): Unit = {
      val p = Paths.get(root, name)
      Files.createDirectories(p)
      Files.write(p.resolve("_SUCCESS"), Array.emptyByteArray)
    }
    // data_sf1 is stale; data_sf10 (a TAG-PREFIX sibling) must survive
    mkDir("data_sf1"); mkDir("data_sf1_sbuckets"); mkDir("data_sf10")
    Files.write(Paths.get(root, "stats_data_sf1.tsv"), "a\t1\n".getBytes)
    Files.write(Paths.get(root, "stats_data_sf10.tsv"), "b\t2\n".getBytes)
    Files.write(Paths.get(root, "data_sf1.version"), "0".getBytes)
    Files.write(Paths.get(root, "data_sf10.version"), "0".getBytes)
    graft.queries.BgpQueries.invalidateStale(spark, "data_sf1", Nil, root)
    assert(!Files.exists(Paths.get(root, "data_sf1")))
    assert(!Files.exists(Paths.get(root, "data_sf1_sbuckets")))
    assert(!Files.exists(Paths.get(root, "stats_data_sf1.tsv")),
      "the measured-cost cache must invalidate with the layouts")
    assert(Files.exists(Paths.get(root, "data_sf10")))
    assert(Files.exists(Paths.get(root, "data_sf10/_SUCCESS")))
    assert(Files.exists(Paths.get(root, "stats_data_sf10.tsv")))
    // marker rewritten to the current format version → second call is a no-op
    assert(Files.exists(Paths.get(root, "data_sf1.version")))
    mkDir("data_sf1")
    graft.queries.BgpQueries.invalidateStale(spark, "data_sf1", Nil, root)
    assert(Files.exists(Paths.get(root, "data_sf1")))
  }

  test("PlanCapture reports every failed capture (main exits non-zero on them)") {
    val spark = GraftSession.local("2")
    val out = java.nio.file.Files.createTempDirectory("plans_test")
    val failed = graft.tools.PlanCapture.capture(spark,
      "/root/testdata/sf0.001", out.toString, "t",
      Seq("no_such_query", "q01_pricing_summary"))
    assert(failed == Seq("no_such_query"))
    assert(java.nio.file.Files.exists(out.resolve("q01_pricing_summary_t.txt")))
  }

  test("BoundedMemo eviction swallows NonFatal but not fatal errors") {
    val memo = new BoundedMemo[Int, String](1,
      v => if (v == "boom") throw new RuntimeException("nonfatal")
      else if (v == "oom") throw new OutOfMemoryError("fatal"))
    memo.getOrElseUpdate(1, "boom")
    memo.getOrElseUpdate(2, "ok") // evicts "boom": swallowed
    assert(memo.size == 1)
    memo.getOrElseUpdate(3, "oom")
    intercept[OutOfMemoryError] {
      memo.getOrElseUpdate(4, "next") // evicting "oom" must propagate
    }
  }
}
