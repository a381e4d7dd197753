package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming surface: the operators the registry runs that
  * also run unchanged under `readStream`.
  *
  * The reference is strictly batch request/response (SURVEY.md §2.9,
  * Main.c:44-194). Each transform here takes a DataFrame from either
  * engine (`readStream`, a MemoryStream in tests, or a batch scan), so
  * the registry query that runs it over the batch table (q135 for
  * [[attributionJoin]], q355 for [[encodedIngestSink]]) and the
  * streaming path stay one implementation.
  */
object StreamOps {

  /** Input shape of the event stream (matches events.parquet
    * post-normalization).
    */
  final case class Event(
      event_id: Long,
      ts: java.sql.Timestamp,
      user_id: Long,
      event_type: String,
      value: Double)

  /** Stream-STREAM interval join (click attribution): each view joins
    * the clicks of the same user landing in `(vts, vts + window]` —
    * both sides are unbounded streams, so this exercises Spark's
    * symmetric-hash-join state store. The watermarks plus the time-range
    * conjunct give the state store an eviction bound on BOTH sides: a
    * buffered view can be dropped once the click watermark passes
    * `vts + window`, a buffered click once the view watermark passes
    * its `cts` (Structured Streaming derives these bounds from the
    * join condition — state is O(in-flight window), not O(stream)).
    * `joinType` "inner" emits matches as they arrive; "leftOuter"
    * additionally emits null-extended views once their window is
    * provably closed by the watermark.
    */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
      window: String = "1 hour", allowed: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("vts"))
      .withWatermark("vts", allowed)
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", allowed)
    v.join(c,
      expr(s"user_id = cu AND cts > vts AND cts <= vts + interval $window"),
      joinType)
      .select(col("user_id"), col("view_id"), col("vts"),
        col("click_id"), col("cts"))
  }

  /** Streaming load into the ENCODED store layout — the >10⁹-term
    * regime's ingest path, closing the gap where a streaming Turtle /
    * N-Triples load landed only the string-form layout and an encoded
    * store needed a batch re-encode afterwards. Per micro-batch of
    * parsed `(s, p, o)` string triples:
    *
    *  1. the batch VOCABULARY (s, o, and predicate names — predicate
    *     ids must decode at the result edge like any term) grows the
    *     standing on-disk dictionary via the delta-scoped audited
    *     growth ([[graft.bgp.TripleStore.hashDictDelta]] — O(batch)
    *     per micro-batch, intra-batch and batch-vs-standing collision
    *     audits fail the batch loudly, exactly like the update arm);
    *  2. the hash-encoded rows append to `<root>/triples` partitioned
    *     by `(p, batch_id)` — the store's vertical layout, with the
    *     batch_id sub-partition + dynamic partition overwrite making
    *     replays overwrite themselves (effectively-once). The dict append is
    *     likewise batch_id-partitioned: a replayed batch's new-term
    *     set recomputes as empty (its terms already stand), so no
    *     partition is touched and no duplicate dict rows land.
    *
    * Each batch's dictionary delta is checkpointed once (for its audit
    * and its write) and released after the write, so a long-running
    * stream keeps no checkpoint blocks behind it.
    *
    * Compose with `foreachBatch`; load the result with
    * [[graft.bgp.TripleStore.fromEncodedIngest]]. Batches apply
    * serially (Structured Streaming's contract), so the
    * standing-dict read in step 1 always sees every prior batch.
    */
  def encodedIngestSink(root: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      val dictPath = s"$root/dict"
      val fs = new org.apache.hadoop.fs.Path(dictPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val standing =
        if (fs.exists(new org.apache.hadoop.fs.Path(dictPath)))
          spark.read.parquet(dictPath)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("dt",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("lang",
              org.apache.spark.sql.types.StringType))))
      val vocab = batch.select(col("s").as("value"))
        .unionByName(batch.select(col("o").as("value")))
        .unionByName(batch.select(col("p").as("value")))
      val delta = graft.bgp.TripleStore.hashDictDelta(standing, vocab)
      // dict: APPEND (overwrite would conflict with its own standing
      // read) — replay-safe because a replayed batch's anti-join vs
      // the standing dict recomputes its delta as empty. The delta's
      // checkpoint blocks go once it is written, so a long stream
      // holds none of them.
      try delta.withColumn("batch_id", lit(batchId))
        .write.mode("append").partitionBy("batch_id").parquet(dictPath)
      finally graft.bgp.TripleStore.releaseCheckpoints(delta)
      // triples: dynamic overwrite of this batch's own (p, batch_id)
      // sub-partitions, so a replayed batch overwrites itself
      val prev = spark.conf
        .getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try batch.select(xxhash64(col("s")).as("s"), col("p"),
          xxhash64(col("o")).as("o"))
        .distinct() // within-batch duplicate statements collapse here;
        // cross-batch duplicates collapse at load (fromEncodedIngest's
        // per-slice distinct) — RDF graphs are sets
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").partitionBy("p", "batch_id")
        .parquet(s"$root/triples")
      finally prev match {
        case Some(v) => spark.conf
          .set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf
          .unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
}
