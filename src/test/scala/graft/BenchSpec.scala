package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bench protocol accounting: a crashing headline query must surface
  * as an error with a -1 time — NEVER as a fast-looking phantom rep
  * that leaves the artifact healthy (the r6-verdict bench fix).
  */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("2")

  test("timeQueries records failures per query instead of swallowing them") {
    val good = GQuery("good", (s, _) => s.range(10).toDF(), None)
    val bad = GQuery("bad",
      (_, _) => throw new IllegalStateException("boom: deliberate"), None)
    val res = Bench.timeQueries(spark, "unused", Seq(good, bad), reps = 2)
    val g = res.find(_.name == "good").get
    assert(g.error.isEmpty && g.minSec >= 0.0 && g.maxSec >= g.minSec)
    val b = res.find(_.name == "bad").get
    assert(b.minSec == -1.0 && b.maxSec == -1.0)
    assert(b.error.exists(_.contains("boom")))
  }

  test("a mid-rep failure keeps the successful reps' timing AND the error") {
    var calls = 0
    val flaky = GQuery("flaky", (s, _) => {
      calls += 1
      if (calls == 1) throw new RuntimeException("first rep fails")
      s.range(5).toDF()
    }, None)
    val r = Bench.timeQueries(spark, "unused", Seq(flaky), reps = 3).head
    assert(r.minSec >= 0.0, "surviving reps must still time")
    assert(r.error.exists(_.contains("first rep fails")),
      "the failure must still be recorded")
  }

  test("cache.flag derives from the corpus age unless the operator sets it") {
    assert(Bench.cacheFlag(None, 0L) == "fresh")
    assert(Bench.cacheFlag(None, 3599L) == "fresh")
    assert(Bench.cacheFlag(None, 3600L) == "aged")
    assert(Bench.cacheFlag(None, -1L) == "unspecified")
    assert(Bench.cacheFlag(Some("cold"), 10L) == "cold")
  }

  test("jstr escapes quotes and control characters for the JSON artifact") {
    assert(Bench.jstr("a\"b\\c\nd") == "\"a\\\"b\\\\c\\u000ad\"")
  }
}
