package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF vector index — the similarity-search sibling of
  * [[SignatureStore]]: coarse cells, their centroids, and the
  * cell-bucketed vector assignments live as a versioned parquet
  * artifact a query batch PROBES, instead of re-deriving centroids
  * from the corpus per run (q117's inline spelling).
  *
  * Layout:
  * {{{
  *   <path>/VERSION              — current version pointer
  *   <path>/v<n>/assignments/label=<c>/ — (vec_id, v, nrm) PER CELL
  *   <path>/v<n>/centroids       — (label, i, cx) componentwise sums
  *   <path>/v<n>/cnorms          — (label, cnrm)
  *   <path>/v<n>/delta/assignments/seq=<k>/label=<c>/ — append batches
  *   <path>/v<n>/delta/centroids/seq=<k>/ — per-batch partial sums
  *   <path>/v<n>/delta/seq=<k>.lock — slot claims ([[DeltaLog]])
  *   <path>/v<n>/COMPACTED       — compaction manifest ([[DeltaLog]])
  * }}}
  *
  * Scale design — the probe is the point:
  *  - `assignments` is parquet PARTITIONED BY the cell label (base AND
  *    every delta batch), so a probe reads exactly its probed cells'
  *    directories (partition pruning — VectorIndexSpec pins
  *    `PartitionFilters` on the scan and that no non-index file is
  *    touched). At 100 TB with nlist cells, a (queries × nprobe)
  *    search reads nprobe/nlist of the corpus, never all of it.
  *  - [[append]] writes BATCH-sized delta batches under create-
  *    exclusive `seq=` claims — a daily embedding batch costs the
  *    batch, not an O(corpus) rebuild (the [[SignatureStore]] growth
  *    arc applied to the IVF artifact). Centroid deltas are per-batch
  *    PARTIAL integer sums, re-aggregated at load (exact — no float
  *    drift, no division). Past [[CompactAppends]] complete batches
  *    the log compacts into a fresh full version, lost-update-safe
  *    against concurrent appenders via the [[DeltaLog]] manifest +
  *    carry protocol.
  *  - cell ranking runs against the PERSISTED centroids (nlist × dim
  *    rows — index metadata, not corpus data); the probe-cell set is
  *    (queries × nprobe)-sized, collected under a loud bound
  *    ([[MaxProbeCells]]) because the label list must be LITERAL for
  *    partition pruning to engage.
  *  - scoring joins the pruned assignments scan against the
  *    guarded-broadcast query set; the only shuffle is the
  *    top-k-per-query rank over candidate rows.
  *  - [[occupancy]] is the maintenance report: per-cell balance and
  *    drift at nlist-row grain, which shows when cells skew — the
  *    guaranteed failure mode of a frozen ANN layout under growth.
  *
  * Exactness: vectors quantize with the SimilarityQueries spelling
  * (floor(x·10⁴ + ½) per element — float→double exact, integer dot
  * products order-independent), centroids are componentwise integer
  * SUMS (no division — cosine is scale-invariant, so the un-normalized
  * sum ranks cells identically to the mean and stays exact), and ties
  * break (score DESC, label/cid ASC) — bit-identical to the q117
  * in-line spelling, which is exactly what q390's oracle replays; a
  * delta-grown index re-aggregates the same integer sums, so q392's
  * append arm shares q390's oracle verbatim.
  */
object VectorIndex {

  /** Bump when the quantization/centroid spelling or the on-disk layout
    * changes — [[ensure]] rebuilds a mismatched index. 2: delta batches
    * commit by rename ([[DeltaLog.commit]]); a version-1 root may hold a
    * crashed append's `seq=` directory, so it is rebuilt, not read.
    */
  val FormatVersion = 2

  /** Retained versions (readers pinned to the old version finish). */
  val KeepVersions = 2

  /** Bound on the probe-cell literal list (queries × nprobe distinct
    * labels). Cells are index metadata — a probe set past this is a
    * mis-tuned search, failed loudly instead of un-pruning the scan.
    */
  val MaxProbeCells = 256

  /** Delta batches before the log compacts into a fresh full version. */
  val CompactAppends = 8

  private val Families = Seq("assignments", "centroids")

  def currentVersion(spark: SparkSession, path: String): Option[Int] =
    VersionedRoot.currentVersion(spark, path)

  def listVersions(spark: SparkSession, path: String): Seq[Int] =
    VersionedRoot.listVersions(spark, path)

  /** 4-decimal integer quantization + integer norm (the
    * SimilarityQueries oracle contract).
    */
  private def quantize(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 10000 + 0.5) as bigint))")
          .as("v"))
      .withColumn("nrm",
        expr("aggregate(transform(v, x -> x * x), cast(0 as bigint), (a, x) -> a + x)"))

  private def centroidSums(q: DataFrame): DataFrame =
    q.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i")).agg(sum(col("x")).as("cx"))

  /** Cell-partitioned assignments write; an EMPTY relation falls back
    * to a flat schema-bearing file (a dynamic-partition write of zero
    * rows leaves an unreadable directory), so a bootstrap-empty index
    * still loads.
    */
  private def writeAssignments(fs: org.apache.hadoop.fs.FileSystem,
      q: DataFrame, dest: String): Unit = {
    q.select(col("vec_id"), col("v"), col("nrm"), col("label"))
      .write.mode("overwrite").partitionBy("label").parquet(dest)
    val hasCells = fs.listStatus(new org.apache.hadoop.fs.Path(dest))
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("label="))
    if (!hasCells)
      q.select(col("vec_id"), col("v"), col("nrm"), col("label"))
        .limit(0).write.mode("overwrite").parquet(dest)
  }

  /** Write `emb` (vec_id, embedding: array<float>, label) as the NEXT
    * full version: cell-partitioned assignments + centroid sums.
    */
  def write(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val n = VersionedRoot.currentVersion(spark, path).map(_ + 1).getOrElse(0)
    VersionedRoot.claimVersion(spark, path, n)
    val q = quantize(emb)
    writeVersion(fs, q, centroidSums(q), s"$path/v$n")
    VersionedRoot.flipPointer(spark, path, n, KeepVersions)
    val mp = new org.apache.hadoop.fs.Path(s"$path/FORMAT")
    val out = fs.create(mp, true)
    try out.write(FormatVersion.toString.getBytes("UTF-8"))
    finally out.close()
  }

  private def writeVersion(fs: org.apache.hadoop.fs.FileSystem,
      q: DataFrame, cs: DataFrame, root: String): Unit = {
    writeAssignments(fs, q, s"$root/assignments")
    val csP = GuardedBroadcast.pin(cs)
    csP.write.mode("overwrite").parquet(s"$root/centroids")
    csP.groupBy(col("label")).agg(sum(col("cx") * col("cx")).as("cnrm"))
      .write.mode("overwrite").parquet(s"$root/cnorms")
  }

  /** Build iff absent or format-stale (the pstore pattern). A
    * format-stale root rebuilds AS THE NEXT VERSION and flips the
    * pointer — never deleted under a live reader ([[SignatureStore
    * .ensure]]'s contract); only a root with no completed version is
    * cleared in place.
    */
  def ensure(emb: => DataFrame, path: String, spark: SparkSession): Unit = {
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val marker = VersionedRoot.readSmall(fs,
      new org.apache.hadoop.fs.Path(s"$path/FORMAT"))
    val cur = VersionedRoot.currentVersion(spark, path)
    val fresh = cur.isDefined && marker.contains(FormatVersion.toString)
    if (!fresh) {
      if (cur.isEmpty)
        fs.delete(new org.apache.hadoop.fs.Path(path), true)
      write(emb, path)
    }
  }

  // ---- incremental arm ----

  /** Append one embedding batch (vec_id, embedding, label) as a
    * delta-grain `seq=` batch under the current version root: the
    * cell-partitioned assignment rows plus the batch's PARTIAL
    * centroid sums (re-aggregated exactly at load). Bytes written
    * scale with the batch — the O(corpus) rebuild a daily embedding
    * drop used to pay is gone. Slot claims, replay tokens, the
    * append-vs-compaction manifest check, and the carry protocol are
    * [[SignatureStore.append]]'s contract verbatim (via [[DeltaLog]]);
    * the same tokened-replay retention caveat applies.
    *
    * Unlabeled batches: [[assign]] labels a batch against the
    * persisted centroids first (q211's incremental-assignment
    * arithmetic) — `append(assign(spark, path, batch), path)`.
    */
  def append(emb: DataFrame, path: String,
      token: Option[String] = None): Unit = {
    val q = quantize(emb)
    appendBatch(emb.sparkSession, path, q, centroidSums(q), token)
  }

  private def appendBatch(spark: SparkSession, path: String,
      q: DataFrame, cs: DataFrame, token: Option[String]): Unit = {
    val root = VersionedRoot.root(spark, path, "vector index")
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    if (token.exists(t =>
        DeltaLog.tokenAbsorbedElsewhere(spark, path, root, t)))
      return
    val k = DeltaLog.claimSlot(fs, root, DeltaLog.slots(fs, root).next, token)
    DeltaLog.commit(fs, root, "assignments", k)(tmp =>
      writeAssignments(fs, q, tmp.toString))
    DeltaLog.commit(fs, root, "centroids", k)(tmp =>
      cs.coalesce(1).write.mode("overwrite").parquet(tmp.toString))
    val newRoot = VersionedRoot.root(spark, path, "vector index")
    if (newRoot != root) {
      val oldVer = DeltaLog.verOf(root)
      DeltaLog.absorbedByCompaction(spark, path, oldVer, k) match {
        case Some(false) => carryBatch(spark, path, root, oldVer, k)
        case _ => () // absorbed, or superseded by a full rebuild
      }
    } else if (DeltaLog.completeSeqs(fs, root, Families).size >=
        CompactAppends)
      compact(spark, path)
  }

  private def carryBatch(spark: SparkSession, path: String,
      oldRoot: String, oldVer: Int, k: Int): Unit =
    appendBatch(spark, path,
      spark.read.parquet(DeltaLog.batchDir(oldRoot, "assignments", k))
        .select(col("vec_id"), col("v"), col("nrm"), col("label")),
      spark.read.parquet(DeltaLog.batchDir(oldRoot, "centroids", k))
        .select(col("label"), col("i"), col("cx")),
      Some(s"carry-v$oldVer-$k"))

  /** Compact base + pending deltas into a fresh full version —
    * assignments re-partitioned by cell, centroid partials folded into
    * exact totals; reads only the INDEX. [[SignatureStore.compact]]'s
    * snapshot/manifest/rescue discipline verbatim.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val oldVer = VersionedRoot.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no vector index at $path"))
    val oldRoot = s"$path/v$oldVer"
    val snap = DeltaLog.completeSeqs(fs, oldRoot, Families)
    val asn = loadAssignments(spark, oldRoot, snap)
    val cs = mergedCentroids(spark, oldRoot, snap)
    val n = oldVer + 1
    VersionedRoot.claimVersion(spark, path, n)
    writeVersion(fs, asn, cs, s"$path/v$n")
    DeltaLog.writeCompacted(fs, s"$path/v$n", oldVer, snap)
    VersionedRoot.flipPointer(spark, path, n, KeepVersions)
    DeltaLog.completeSeqs(fs, oldRoot, Families).filterNot(snap.contains)
      .foreach(k => carryBatch(spark, path, oldRoot, oldVer, k))
  }

  // ---- loads ----

  private def loadAssignments(spark: SparkSession, root: String,
      seqs: Seq[Int]): DataFrame = {
    val cols = Seq("vec_id", "v", "nrm", "label").map(col)
    val base = spark.read.parquet(s"$root/assignments").select(cols: _*)
    if (seqs.isEmpty) base
    else base.unionByName(spark.read.parquet(
        seqs.map(DeltaLog.batchDir(root, "assignments", _)): _*)
      .select(cols: _*))
  }

  /** Exact merged centroid sums: base + per-batch partials. The
    * re-aggregation is nlist × dim grain — index metadata.
    */
  private def mergedCentroids(spark: SparkSession, root: String,
      seqs: Seq[Int]): DataFrame = {
    val cols = Seq("label", "i", "cx").map(col)
    val base = spark.read.parquet(s"$root/centroids").select(cols: _*)
    if (seqs.isEmpty) base
    else base.unionByName(spark.read.parquet(
        seqs.map(DeltaLog.batchDir(root, "centroids", _)): _*)
      .select(cols: _*))
      .groupBy(col("label"), col("i")).agg(sum(col("cx")).as("cx"))
  }

  /** (label, cv: ordered component array, cnrm) — centroid vectors as
    * broadcastable arrays, derived from the merged sums.
    */
  private def centroidArrays(cs: DataFrame): DataFrame =
    cs.groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)")
        .as("cv"))
      .withColumn("cnrm",
        expr("aggregate(transform(cv, x -> x * x), cast(0 as bigint), (a, x) -> a + x)"))

  // ---- the probe ----

  /** Top-`k` same-index neighbors for `queries` (qid, qv: array<long>,
    * qn) over the `nprobe` best cells per query. Cell ranking and
    * scoring reproduce q117's arithmetic exactly; the assignments
    * scan prunes to the probed cells' partitions (base and delta
    * alike — both are label-partitioned).
    */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      nprobe: Int = 2, k: Int = 3): DataFrame = {
    val root = VersionedRoot.root(spark, path, "vector index")
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val seqs = DeltaLog.completeSeqs(fs, root, Families)
    val cs = mergedCentroids(spark, root, seqs)
    val csn = cs.groupBy(col("label"))
      .agg(sum(col("cx") * col("cx")).as("cnrm"))
    val qs = GuardedBroadcast.pin(queries)
    // cell ranking: query × centroid dots at (query × dim) grain —
    // the centroid side is index METADATA (nlist × dim rows)
    val qflat = qs.select(col("qid"), col("qn"),
      posexplode(col("qv")).as(Seq("i", "x")))
    val pd = qflat.join(cs, Seq("i"))
      .groupBy(col("qid"), col("label"))
      .agg(sum(col("x") * col("cx")).as("cdot"))
    val ps = pd
      .join(GuardedBroadcast.maybe(qs.select(col("qid"), col("qn"))),
        Seq("qid"))
      .join(GuardedBroadcast.maybe(csn), Seq("label"))
      .select(col("qid"), col("label"),
        (col("cdot").cast("double") /
          (sqrt(col("qn").cast("double")) * sqrt(col("cnrm").cast("double"))))
          .as("cscore"))
    val pw = Window.partitionBy(col("qid"))
      .orderBy(col("cscore").desc, col("label").asc)
    val probes = ps.withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe).select(col("qid"), col("label"))
    val probesP = GuardedBroadcast.pin(probes)
    // LITERAL probe-cell list → partition pruning on the assignments
    // scan; bounded loudly (see MaxProbeCells)
    val cells = probesP.select(col("label")).distinct()
      .limit(MaxProbeCells + 1).collect().map(_.get(0))
    require(cells.length <= MaxProbeCells,
      s"probe set spans more than $MaxProbeCells cells — a probe list " +
        "must stay index-metadata-sized for the pruned scan")
    val cand = loadAssignments(spark, root, seqs)
      .filter(col("label").isin(cells.toSeq: _*))
    val scored = cand
      .join(GuardedBroadcast.maybe(probesP.join(qs, Seq("qid"))),
        Seq("label"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (expr("dot_i64(qv, v)").cast("double") /
          (sqrt(col("qn").cast("double")) * sqrt(col("nrm").cast("double"))))
          .as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // ---- maintenance ----

  /** Label a raw batch (vec_id, embedding) against the PERSISTED
    * centroids — nearest cell by cosine, ties label ASC (q211's
    * incremental-assignment arithmetic, against the index instead of
    * an inline clustering). Returns (vec_id, embedding, label), ready
    * for [[append]]. Centroid side is broadcast metadata; the batch is
    * never shuffled against the corpus.
    */
  def assign(spark: SparkSession, path: String, emb: DataFrame)
      : DataFrame = {
    val root = VersionedRoot.root(spark, path, "vector index")
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val seqs = DeltaLog.completeSeqs(fs, root, Families)
    val cArr = centroidArrays(mergedCentroids(spark, root, seqs))
    val q = quantize(emb.withColumn("label", lit(0)))
      .select(col("vec_id"), col("v"), col("nrm"))
    val scored = q.crossJoin(GuardedBroadcast.maybe(cArr))
      .select(col("vec_id"), col("label"),
        (expr("dot_i64(v, cv)").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
          .as("score"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("label").asc)
    emb.join(
      scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .select(col("vec_id"), col("label")),
      Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("label"))
  }

  /** Per-cell occupancy/drift report over the persisted index —
    * nlist-row output: member count, occupancy share (‰ of the index),
    * and mean member→own-centroid cosine in exact micro units
    * (per-member floor(cos·10⁶) — IEEE-deterministic per row, integer
    * aggregation after, so the report replays bit-identically in an
    * oracle). A growing corpus skews cells silently; this report
    * shows it.
    */
  def occupancy(spark: SparkSession, path: String): DataFrame = {
    val root = VersionedRoot.root(spark, path, "vector index")
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val seqs = DeltaLog.completeSeqs(fs, root, Families)
    val asn = loadAssignments(spark, root, seqs)
    val cArr = centroidArrays(mergedCentroids(spark, root, seqs))
    val per = asn.join(GuardedBroadcast.maybe(cArr), Seq("label"))
      .select(col("label"),
        floor(expr("dot_i64(v, cv)").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double")))
          * 1e6).cast("long").as("cos_micro"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("cos_micro")).as("sum_cos_micro"))
    val tot = per.agg(sum(col("n_members")).as("n_total"))
    per.crossJoin(GuardedBroadcast.maybe(tot))
      .select(col("label"), col("n_members"),
        expr("n_members * 1000 div n_total").as("share_permille"),
        expr("sum_cos_micro div n_members").as("avg_cos_micro"))
  }
}
