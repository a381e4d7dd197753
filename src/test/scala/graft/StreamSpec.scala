package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming specs: the StreamOps transforms the registry
  * also runs over batch tables, driven through MemoryStream and file
  * micro-batches with watermark advancement, so state handling (not
  * just the expression logic) is exercised.
  */
class StreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long, typ: String = "click",
      v: Double = 1.0): Event = Event(id, ts(t), user, typ, v)

  test("attributionJoin joins two streams within the interval (symmetric state)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val vs = MemoryStream[Event]
    val cs = MemoryStream[Event]
    val q = StreamOps.attributionJoin(vs.toDF(), cs.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      vs.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view"),
        ev(2, "2024-01-01 10:00:00", 2, "view"))
      cs.addData(
        // user 1: one click inside the hour, one outside
        ev(10, "2024-01-01 10:30:00", 1, "click"),
        ev(11, "2024-01-01 12:30:00", 1, "click"),
        // user 3: click with no view
        ev(12, "2024-01-01 10:15:00", 3, "click"))
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select($"user_id", $"view_id", $"click_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((1L, 1L, 10L)))
    } finally q.stop()
  }

  test("attributionJoin leftOuter emits unmatched views after the watermark closes them") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val vs = MemoryStream[Event]
    val cs = MemoryStream[Event]
    val q = StreamOps.attributionJoin(vs.toDF(), cs.toDF(),
        joinType = "leftOuter")
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    try {
      vs.addData(ev(1, "2024-01-01 10:00:00", 1, "view"))
      cs.addData(ev(10, "2024-01-01 10:30:00", 2, "click"))
      q.processAllAvailable()
      // push BOTH watermarks far past vts + window + allowed so the
      // unmatched view's join window provably closed
      vs.addData(ev(2, "2024-01-01 20:00:00", 9, "view"))
      cs.addData(ev(11, "2024-01-01 20:00:00", 9, "click"))
      q.processAllAvailable()
      val rows = spark.table("attrib_outer")
        .select($"view_id", $"click_id")
        .as[(Long, Option[Long])].collect().toSet
      assert(rows.contains((1L, None)),
        s"expected the null-extended view after watermark close, got $rows")
    } finally q.stop()
  }

  test("file-source stream end-to-end equals the batch window aggregate") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batchDf = graft.Tables.t(spark, dir, "events")
    // the file stream source wants a directory; stage the fixture file
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stageDir.resolve("events.parquet"))
    // stream sees the RAW file schema (ts = epoch-nanos long), then the
    // same normalization the batch loader applies
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = graft.Tables.normalizeEvents(
      spark.readStream.schema(rawSchema).format("parquet")
        .load(stageDir.toString))
    // hourly counts per event type; the watermark lets the stream
    // finalize windows and is a no-op over the batch table
    def hourly(events: org.apache.spark.sql.DataFrame) = events
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").getField("start").as("win_start"),
        $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = hourly(stream)
      .writeStream.format("memory").queryName("file_windows")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.table("file_windows")
        .select($"win_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      val batch = hourly(batchDf)
        .select($"win_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("encodedIngestSink: streaming turtle feeds an encoded store " +
      "that answers like the batch encode") {
    import graft.bgp.{BgpPlanner, TripleStore}
    val tmp = java.nio.file.Files.createTempDirectory("graft-encst")
      .toString
    // two dump files landing over two micro-batches: shared vocabulary
    // across batches exercises the anti-join (no duplicate dict rows)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/in/a.ttl"),
      "ex:a ex:knows ex:b .\nex:b ex:name \"B\" .\n".getBytes("UTF-8"))
    val pmap = Map("ex" -> "http://x.org/")
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    def runOnce(): Unit = {
      val q = graft.sources.TurtleIO.turtleStream(spark, s"$tmp/in", pmap)
        .writeStream
        .foreachBatch(StreamOps.encodedIngestSink(s"$tmp/store"))
        .option("checkpointLocation", s"$tmp/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    runOnce()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/in/b.ttl"),
      "ex:c ex:knows ex:b .\nex:b ex:age 4 .\n".getBytes("UTF-8"))
    runOnce()
    // each batch released its dictionary-delta checkpoint once written
    assert(spark.sparkContext.getPersistentRDDs.size <= persisted0,
      "a micro-batch left checkpoint blocks behind")
    val st = TripleStore.fromEncodedIngest(spark, s"$tmp/store")
    assert(st.encoded && !st.sequential)
    // the loaded encoded store decodes query results exactly like the
    // in-memory batch encode of the same graph
    val got = BgpPlanner.query(st,
      "select ?x ?y where { ?x <http://x.org/knows> ?y }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("http://x.org/a", "http://x.org/b"),
      ("http://x.org/c", "http://x.org/b")))
    // typed-literal spelling survives the encode/decode round trip
    val age = BgpPlanner.query(st,
      "select ?a where { <http://x.org/b> <http://x.org/age> ?a }")
      .collect().map(_.getString(0)).toSet
    assert(age == Set(
      "\"4\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
    // shared vocabulary never duplicates dict rows across batches
    val dict = spark.read.parquet(s"$tmp/store/dict")
    assert(dict.count() == dict.select("id").distinct().count())
    // the collision audit runs per micro-batch (hashDictDelta is the
    // sink's audit seam): a standing row occupying the batch term's
    // hash id under a DIFFERENT lexical value fails the batch loudly
    import spark.implicits._
    val standingForged = Seq("termB").toDF("value")
      .select(org.apache.spark.sql.functions.xxhash64($"value").as("id"),
        lit("OTHER").as("value"), lit(null: String).as("dt"),
        lit(null: String).as("lang"))
    val e = intercept[IllegalStateException](
      graft.bgp.TripleStore.hashDictDelta(standingForged,
        Seq("termB").toDF("value")))
    assert(e.getMessage.contains("collision"))
  }
}
