package graftbench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.bgp.{BgpPlanner, Sparql, SparqlServer, TripleStore}
import org.apache.spark.sql.SparkSession

/** One workload: a set-up from empty, and ops run against what the
  * set-up left live. `run` returns a thunk for the answer so the digest
  * is computed outside the timed region.
  */
trait Workload {
  /** Builds everything the ops need from empty, under `dir`; each call
    * replaces the previous set-up. Returns the directory holding the
    * store layout it wrote.
    */
  def setup(dir: Path): Path
  def run(op: Op, tr: Tracer): () => Answer
  /** Layer metrics this workload measures itself, over the traced ops. */
  def layerMetrics(tr: Tracer, traced: Seq[OpWindow]): Map[String, Double] =
    Map.empty
  def afterOp(op: Op, tr: Tracer): Unit = ()
  def close(): Unit = ()
}

object Workload {
  /** Parquet files and bytes under `dir`. */
  def layout(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  /** The registry query an op names (`registry:<name>`), if any. */
  def registryName(op: Op): Option[String] =
    Some(op.text).filter(_.startsWith("registry:")).map(_.drop(9))

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** BGP SELECTs through `Sparql.parse` and `BgpPlanner.plan` over the
  * string store in the engine's persisted primary layout (predicate-
  * partitioned, subject-bucketed) plus its object-bucketed secondary,
  * and registry queries (`SparkEntry.queries`, ops whose text is
  * `registry:<name>`), each `GQuery.fn` built and its DataFrame collected.
  */
final class BgpWorkload(spark: SparkSession, corpus: String) extends Workload {
  private var store: TripleStore = _
  private var setups = 0
  private val registry = graft.SparkEntry.queries

  def setup(dir: Path): Path = {
    setups += 1
    val spo = dir.resolve("spo").toString
    val ops = dir.resolve("ops").toString
    val (spoT, opsT) = (s"bench_spo_$setups", s"bench_ops_$setups")
    TripleStore.writePartitionedBucketed(
      TripleStore.fromStarSchema(spark, corpus), spo, spoT)
    val base = TripleStore.fromBucketedTable(spark, spo, spoT)
    TripleStore.writePartitionedBucketed(base, ops, opsT, bucketCol = "o")
    store = base.copy(oBucketed = Some(TripleStore.registerPartitionedBucketed(
      spark, ops, opsT, idType = "STRING", bucketCol = "o")))
    // first touch: file listing, footers and the page cache
    store.unionView.count()
    dir
  }

  def run(op: Op, tr: Tracer): () => Answer =
    Workload.registryName(op) match {
      case Some(name) =>
        val df = tr.span("queries.build")(registry(name)(spark, corpus))
        val rows = tr.span("queries.exec")(df.collect())
        () => Ops.digestRows(df.columns.toSeq, rows)
      case None =>
        val q = tr.span("bgp.parse")(Sparql.parse(op.text))
        val df = tr.span("bgp.plan")(BgpPlanner.plan(store, q))
        val rows = tr.span("bgp.exec")(df.collect())
        () => Ops.digestRows(df.columns.toSeq, rows)
    }

  /** Runs a registry op once and writes its answer where run.py's
    * oracle check reads it.
    */
  def dump(name: String, out: Path): Answer = {
    val df = registry(name)(spark, corpus)
    val rows = df.collect()
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(out.resolve(name).toString)
    Ops.digestRows(df.columns.toSeq, rows)
  }

}

/** `SparqlServer.serve` with a persisted dataset, driven over loopback
  * HTTP by one closed-loop client: BGP SELECT reads and SPARQL Update
  * writes that append delta batches and, every
  * `TripleStore.CompactDeltaBatches` batches, compact into a new version.
  */
final class ServeWorkload(spark: SparkSession, corpus: String)
    extends Workload {
  private var handle: SparqlServer.Handle = _
  private var dataset: Path = _
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  // traced-phase bookkeeping (filled by afterOp while tracing)
  private var lastVersion = -1
  private val compactionOps = scala.collection.mutable.Set.empty[Int]
  private val seen = scala.collection.mutable.Map.empty[String, Long]
  private var bytesWritten = 0L
  private var tripleBytes = 0L
  private val deltaAtRead = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(dir: Path): Path = {
    if (handle != null) handle.stop()
    dataset = dir.resolve("dataset")
    val ds = dataset.toString
    TripleStore.writeDatasetVersioned(TripleStore.fromStarSchema(spark, corpus), ds)
    val st = TripleStore.fromDatasetParquet(spark, ds)
    st.unionView.count()
    handle = SparqlServer.serve(st, persistDir = Some(ds))
    dataset
  }

  def run(op: Op, tr: Tracer): () => Answer = op.kind match {
    case "update" =>
      val req = HttpRequest.newBuilder(java.net.URI.create(handle.endpoint))
        .header("Content-Type", "application/sparql-update")
        .POST(HttpRequest.BodyPublishers.ofString(op.text)).build()
      val resp = tr.span("serve.http")(
        client.send(req, HttpResponse.BodyHandlers.ofString()))
      if (resp.statusCode / 100 != 2)
        throw new IllegalStateException(
          s"update returned HTTP ${resp.statusCode}: ${resp.body.take(200)}")
      () => Ops.digest(Seq.empty, Seq.empty)
    case _ =>
      val url = handle.endpoint + "?query=" +
        URLEncoder.encode(op.text, UTF_8)
      val req = HttpRequest.newBuilder(java.net.URI.create(url))
        .header("Accept", "application/sparql-results+json").GET().build()
      val resp = tr.span("serve.http")(
        client.send(req, HttpResponse.BodyHandlers.ofString()))
      if (resp.statusCode / 100 != 2)
        throw new IllegalStateException(
          s"query returned HTTP ${resp.statusCode}: ${resp.body.take(200)}")
      () => {
        val root = json.readTree(resp.body)
        val vars = root.get("head").get("vars").elements().asScala
          .map(_.asText).toSeq
        val rows = root.get("results").get("bindings").elements().asScala
          .map(b => vars.map(v => Option(b.get(v)).map(_.get("value").asText)
            .getOrElse("NULL"))).toSeq
        Ops.digest(vars, rows)
      }
  }

  /** Warms the update path with `n` delta batches that insert and
    * delete a triple no read touches, so the dataset's content is
    * unchanged; run.py picks `n` so that the timed phase's last update
    * is the one that compacts.
    */
  def warmUpdates(n: Int, tr: Tracer): Unit =
    (0 until n).foreach { i =>
      val verb = if (i % 2 == 0) "INSERT" else "DELETE"
      run(Op(-1 - i, "update", "warmup", "warmup|0",
        s"$verb DATA { <bench:warmup> tag \"w\" }"), tr)()
    }

  /** While tracing: version flips (compactions), new bytes on disk, and
    * the delta batches a read sees. Untimed; runs between ops.
    */
  override def afterOp(op: Op, tr: Tracer): Unit = if (tr.enabled) {
    val ds = dataset.toString
    if (op.kind == "update") {
      val v = TripleStore.currentVersion(spark, ds).getOrElse(0)
      if (lastVersion >= 0 && v != lastVersion) compactionOps += op.idx
      lastVersion = v
      Files.walk(dataset).iterator().asScala
        .filter(Files.isRegularFile(_)).foreach { p =>
          val k = p.toString
          if (!seen.contains(k)) {
            val n = Files.size(p)
            seen(k) = n
            bytesWritten += n
          }
        }
      tripleBytes += op.key.split('|').lift(1).map(_.toLong).getOrElse(0L)
    } else {
      val root = Paths.get(TripleStore.datasetRoot(spark, ds)
        .replaceFirst("^file:", ""))
      val delta = root.resolve("delta").resolve("default")
      deltaAtRead += (if (!Files.isDirectory(delta)) 0.0
        else Files.list(delta).iterator().asScala
          .count(_.getFileName.toString.matches("seq=\\d+")).toDouble)
    }
  }

  /** Starts the traced phase's bookkeeping from the dataset as it stands. */
  def beginTrace(): Unit = {
    lastVersion = TripleStore.currentVersion(spark, dataset.toString)
      .getOrElse(0)
    Files.walk(dataset).iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(p => seen(p.toString) = Files.size(p))
  }

  /** The server's dispatcher thread, which evaluates every request. */
  lazy val serverThread: Thread =
    Thread.getAllStackTraces.keySet.asScala
      .find(_.getName.startsWith("HTTP-Dispatcher"))
      .getOrElse(throw new IllegalStateException("no HTTP dispatcher thread"))

  def classify(st: Array[StackTraceElement]): Seq[String] = {
    def has(cls: String, method: String) =
      st.exists(e => e.getClassName == cls && e.getMethodName.contains(method))
    val out = Seq.newBuilder[String]
    if (has("graft.bgp.TripleStore$", "writeDatasetVersioned")) out += "compaction"
    if (has("graft.bgp.TripleStore$", "writeBackDelta")) out += "writeback"
    if (has("graft.bgp.TripleStore$", "fromDatasetParquet")) out += "reload"
    if (has("graft.bgp.SparqlUpdate$", "applyWithDelta")) out += "update_apply"
    if (has("graft.bgp.SparqlServer$", "solutions")) {
      out += "read_eval"
      st.iterator.map { e =>
        val c = e.getClassName
        if (c == "org.apache.spark.sql.classic.Dataset" ||
            c == "org.apache.spark.sql.Dataset") "read_exec"
        else if (c == "graft.bgp.Sparql$") "read_parse"
        else if (c == "graft.bgp.BgpPlanner$") "read_plan"
        else null
      }.find(_ != null).foreach(out += _)
    }
    out.result()
  }

  override def layerMetrics(tr: Tracer,
      traced: Seq[OpWindow]): Map[String, Double] = {
    val updates = traced.filter(_.op.kind == "update")
    val reads = traced.filter(_.op.kind != "update")
    def perUpdate(cat: String): Double = {
      val s = tr.sampled(cat)
      Workload.mean(updates.map(w => s.getOrElse(w.op.idx, 0.0)))
    }
    // sampled every 5 ms, so a per-read mean, not a median
    def perRead(cat: String): Double = {
      val s = tr.sampled(cat)
      Workload.mean(reads.map(w => s.getOrElse(w.op.idx, 0.0)))
    }
    val eval = tr.sampled("read_eval")
    val compS = tr.sampled("compaction")
    Map(
      "bgp.update_apply_s" -> perUpdate("update_apply"),
      "bgp.writeback_s" -> perUpdate("writeback"),
      "bgp.reload_s" -> perUpdate("reload"),
      "bgp.compactions" -> compactionOps.size.toDouble,
      "bgp.compaction_s" -> Workload.mean(
        compactionOps.toSeq.map(i => compS.getOrElse(i, 0.0))),
      "bgp.write_amplification" ->
        (if (tripleBytes == 0) 0.0 else bytesWritten.toDouble / tripleBytes),
      "bgp.delta_batches_at_read" -> Workload.mean(deltaAtRead),
      "bgp.server_overhead_s" -> Workload.median(reads.map(w =>
        w.wallS - eval.getOrElse(w.op.idx, 0.0))),
      "bgp.parse_s" -> perRead("read_parse"),
      "bgp.plan_s" -> perRead("read_plan"),
      "bgp.exec_s" -> perRead("read_exec"),
      "bgp.plan_share" -> {
        val planned = perRead("read_parse") + perRead("read_plan")
        planned / math.max(1e-9, planned + perRead("read_exec"))
      })
  }

  override def close(): Unit = if (handle != null) handle.stop()
}
