package graft

import graft.scale.SignatureStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the persisted dedup signature index: the probe reads
  * SIGNATURES (never documents), appends are delta-grain and
  * monolithic-equivalent, the log compacts into a fresh version, and
  * two writers on one index never interleave.
  */
class SignatureStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"sigstore_$tag").toFile
    d.deleteOnExit()
    new java.io.File(d, "idx").getAbsolutePath
  }

  /** A tiny corpus with one exact-dup pair, one near-dup pair, and
    * unrelated docs — enough to light every verdict arm.
    */
  private def corpus(ids: Seq[Long], base: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"$base doc number $i with shared leading tokens " +
      s"alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
  }

  test("probe plan reads signatures, not documents") {
    import spark.implicits._
    val path = tmpDir("plan")
    SignatureStore.write(corpus(1L to 40L, "corpus"), path)
    // batch comes from MEMORY (a LocalRelation): any file scan in the
    // probe plan can only be the index — assert every parquet scan
    // location sits under the index path
    val batch = Seq((900L,
      "corpus doc number 7 with shared leading tokens alpha beta gamma " +
        "delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val out = SignatureStore.probe(spark, path, batch)
    // sparkPlan (pre-AQE): the adaptive wrapper hides scan nodes from
    // a plain collect before execution
    val scans = out.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.nonEmpty, "probe must read the persisted index")
    scans.foreach(p => assert(p.contains(new java.io.File(path).getName),
      s"probe scanned a non-index file: $p"))
    // and the verdicts fire: doc 900 is a near-copy of doc 7
    val row = out.collect().head
    assert(row.getAs[Boolean]("drop"))
  }

  test("append is delta-grain and equals a monolithic build") {
    val path1 = tmpDir("mono")
    val path2 = tmpDir("incr")
    val all = corpus(1L to 30L, "seed")
    SignatureStore.write(all, path1)
    SignatureStore.write(corpus(1L to 20L, "seed"), path2)
    SignatureStore.append(corpus(21L to 30L, "seed"), path2)
    // delta-grain: still version 0, with seq=0 batches pending
    assert(SignatureStore.currentVersion(spark, path2).contains(0))
    val deltaDir = new java.io.File(s"$path2/v0/delta/minhash/seq=0")
    assert(deltaDir.exists(), "append must land as a seq= delta batch")
    val batch = corpus(500L to 502L, "seed")
      .withColumn("text", concat(col("text"), lit(" tail")))
    val a = SignatureStore.probe(spark, path1, batch).collect()
      .map(_.toSeq).sortBy(_.head.toString)
    val b = SignatureStore.probe(spark, path2, batch).collect()
      .map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == b.toSeq,
      "appended index must be verdict-identical to a monolithic build")
  }

  test("the delta log compacts into a fresh version past CompactAppends") {
    val path = tmpDir("compact")
    SignatureStore.write(corpus(1L to 10L, "c"), path)
    (0 until SignatureStore.CompactAppends).foreach { i =>
      SignatureStore.append(
        corpus((100L + i * 10) to (100L + i * 10 + 4), "c"), path)
    }
    // the final append crossed the threshold: a new full version with
    // an empty log
    assert(SignatureStore.currentVersion(spark, path).contains(1))
    assert(!new java.io.File(s"$path/v1/delta/minhash").exists(),
      "compaction must reset the delta log")
    // all appended docs present in the compacted signature base
    val n = SignatureStore.load(spark, path).fps.count()
    assert(n == 10 + SignatureStore.CompactAppends * 5)
  }

  test("streaming sink grows the index effectively-once; equals a monolithic build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pathS = tmpDir("stream")
    val pathM = tmpDir("streamMono")
    // a foreachBatch sink keyed by the micro-batch id: at-least-once
    // replay reclaims the batch's own slot
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (batch, batchId) =>
        SignatureStore.append(batch, pathS, token = Some(s"stream-$batchId"))
    SignatureStore.write(corpus(1L to 15L, "s doc").limit(0), pathS)
    // two micro-batches over MemoryStream
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(sink)
      .start()
    try {
      src.addData((1L to 10L).map(i =>
        (i, s"s doc number $i alpha beta gamma delta epsilon zeta")): _*)
      q.processAllAvailable()
      src.addData((11L to 15L).map(i =>
        (i, s"s doc number $i alpha beta gamma delta epsilon zeta")): _*)
      q.processAllAvailable()
    } finally q.stop()
    SignatureStore.write(corpus(1L to 15L, "s doc").limit(0), pathM)
    // monolithic twin over the same 15 docs (one append = one batch)
    val all = (1L to 15L).map(i =>
      (i, s"s doc number $i alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    SignatureStore.append(all, pathM)
    val batch = Seq((900L,
      "s doc number 3 alpha beta gamma delta epsilon zeta tail"))
      .toDF("doc_id", "text")
    val a = SignatureStore.probe(spark, pathS, batch).collect().map(_.toSeq)
    val b = SignatureStore.probe(spark, pathM, batch).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq,
      "stream-grown index must be verdict-identical to a monolithic one")
    // replay: re-running a committed micro-batch must overwrite its own
    // slot, not duplicate rows (the at-least-once → effectively-once pin)
    val before = SignatureStore.load(spark, pathS).fps.count()
    sink((11L to 15L).map(i =>
      (i, s"s doc number $i alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text"), 1L)
    assert(SignatureStore.load(spark, pathS).fps.count() == before,
      "a replayed batch duplicated signature rows")
  }

  test("two writers on one index cannot interleave (create-exclusive claims)") {
    val path = tmpDir("race")
    SignatureStore.write(corpus(1L to 10L, "w"), path)
    // simulate a concurrent writer that already claimed v1
    val claim = new java.io.File(s"$path/v1.claim")
    claim.getParentFile.mkdirs()
    assert(claim.createNewFile())
    val e = intercept[IllegalArgumentException](
      SignatureStore.compact(spark, path))
    assert(e.getMessage.contains("claimed"))
    // and a poisoned VERSION pointer race fails loudly too: move the
    // pointer forward under a writer that thinks it owns v2
    assert(new java.io.File(s"$path/v1.claim").delete())
    SignatureStore.compact(spark, path) // legal: makes v1
    assert(SignatureStore.currentVersion(spark, path).contains(1))
  }
}
