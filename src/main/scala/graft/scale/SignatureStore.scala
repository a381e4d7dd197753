package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted dedup signature index — the "standing index" the
  * incremental dedup contract (q162/q369) promises: the corpus-side MinHash
  * signatures, SimHash fingerprints, df-capped shingle bands, and
  * exact-dup fingerprints live as a versioned parquet artifact that a
  * daily ingest batch PROBES, instead of recomputing O(corpus)
  * signatures from raw text per run (SURVEY.md §7.1.8; the reference
  * has no dedup surface — this is pipeline-extension territory).
  *
  * Layout (the [[VersionedRoot]] + [[DeltaLog]] protocol):
  * {{{
  *   <path>/VERSION            — current version pointer (int)
  *   <path>/v<n>/minhash       — (doc_id, j, h)   16 rows/doc
  *   <path>/v<n>/simhash       — (doc_id, simhash) 1 row/doc
  *   <path>/v<n>/bands         — (doc_id, k)      distinct 5-gram keys
  *   <path>/v<n>/fps           — (doc_id, fp)     exact md5
  *   <path>/v<n>/counts_mh     — (j, h, bn)       LSH bucket counts
  *   <path>/v<n>/counts_sh     — (b, bv, bn)      SimHash band counts
  *   <path>/v<n>/counts_band   — (k, df)          shingle doc-freqs
  *   <path>/v<n>/delta/<fam>/seq=<k>/ — append batches (op-sized)
  * }}}
  *
  * Scale design:
  *  - [[append]] writes BATCH-sized delta files (one `seq=` batch per
  *    family per call, claimed via a create-exclusive lock so two
  *    ingest jobs on one index never interleave a sequence number);
  *    bytes written scale with the batch, never the corpus. Past
  *    [[CompactAppends]] batches the log compacts into a fresh full
  *    version — FROM THE LOADED INDEX, never from raw text.
  *  - [[probe]] is batch-sized end to end: batch signatures are
  *    computed from the batch documents only; every corpus-side
  *    relation is read FROM THE INDEX (ScaleSpec pins that the probe
  *    plan's file scans touch only the index path). Candidate joins
  *    put the batch side behind [[GuardedBroadcast]], so the index is
  *    scanned, never shuffled. Bucket caps use index counts + batch
  *    partials, so the cap arithmetic matches the monolithic q45/q46/
  *    q369 spelling exactly.
  *  - Signature spellings are IDENTICAL to `queries/DedupQueries` (md5-
  *    derived 32-bit minhash permutations, 60-bit md5 SimHash, xxhash64
  *    shingle keys, md5 exact fingerprints), so a DuckDB oracle can
  *    recompute the index content from the documents relation and the
  *    verdicts hash-match.
  */
object SignatureStore {

  /** Same caps as DedupQueries — one constant spelling per repo rule
    * would be nicer, but the caps are part of each module's oracle
    * contract; keep them equal by value and pinned by tests.
    */
  val MaxLshBucket = 64
  val MaxShingleDocFreq = 64
  val MinHashPerms = 16

  /** Delta batches before the log compacts into a fresh full version. */
  val CompactAppends = 8

  /** Retained versions (snapshot isolation for concurrent readers). */
  val KeepVersions = 2

  /** Bump when any signature spelling or the on-disk layout changes —
    * [[ensure]] rebuilds a mismatched index instead of serving stale
    * signatures. 2: delta batches commit by rename
    * ([[DeltaLog.commit]]), so a `seq=` directory counts as committed
    * without a `_SUCCESS` marker — a version-1 root may hold a crashed
    * append's `seq=` directory, so it is rebuilt, not read.
    */
  val FormatVersion = 2

  private val SigFamilies = Seq("minhash", "simhash", "bands", "fps")
  private val CountFamilies = Seq("counts_mh", "counts_sh", "counts_band")

  /** The loaded index: signature relations plus bucket/doc-freq counts
    * (base ∪ pending delta batches, counts re-aggregated).
    */
  final case class Sigs(minhash: DataFrame, simhash: DataFrame,
      bands: DataFrame, fps: DataFrame, countsMh: DataFrame,
      countsSh: DataFrame, countsBand: DataFrame)

  // ---- signature computation (DedupQueries spellings) ----

  /** First 8 md5 hex chars of `e` as an unsigned 32-bit value in a Long. */
  private def h32(e: Column): Column =
    conv(substring(md5(e.cast("binary")), 1, 8), 16, 10).cast("long")

  /** Distinct (doc_id, 5-token shingle) rows; docs under 5 tokens have
    * no shingles (and thus never near-dup — same as DedupQueries).
    */
  private def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, size(w) - 4), i -> array_join(slice(w, i, 5), ' '))"))
          .as("s"))
      .distinct()

  /** (minhash, simhash, bands, fps) from a (doc_id, text) relation.
    * `sh` is the shared persisted shingle subtree — the caller
    * unpersists it after materializing (write/append) or pins it
    * (probe).
    */
  private def signatures(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sh = shingleRows(docs)
    val mh = sh
      .select(col("doc_id"), col("s"),
        explode(sequence(lit(0), lit(MinHashPerms - 1))).as("j"))
      .select(col("doc_id"), col("j"),
        h32(concat(col("j").cast("string"), lit(":"), col("s"))).as("h"))
      .groupBy(col("doc_id"), col("j")).agg(min(col("h")).as("h"))
    val bits = sh.select(col("doc_id"),
      conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
        .cast("long").as("h"))
    val bitCols = (0 until 60).map { b =>
      when(sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1) > 0,
        lit(1L << b)).otherwise(lit(0L))
    }
    val sim = bits.groupBy(col("doc_id"))
      .agg(bitCols.reduce(_ + _).as("simhash"))
    val bands = sh.select(col("doc_id"), xxhash64(col("s")).as("k")).distinct()
    val fps = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("fp"))
    (sh, mh, sim, bands, fps)
  }

  /** 15-bit SimHash LSH bands of a (doc_id, simhash) relation. */
  private def simBands(sim: DataFrame): DataFrame =
    sim.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bv",
        expr("shiftright(simhash, cast(b * 15 as int)) & 32767"))

  private def mhCounts(mh: DataFrame): DataFrame =
    mh.groupBy(col("j"), col("h")).agg(count(lit(1)).as("bn"))
  private def shCounts(sim: DataFrame): DataFrame =
    simBands(sim).groupBy(col("b"), col("bv")).agg(count(lit(1)).as("bn"))
  private def bandCounts(bands: DataFrame): DataFrame =
    bands.groupBy(col("k")).agg(count(lit(1)).as("df"))

  // ---- versioned-root plumbing (shared: [[VersionedRoot]]) ----

  def currentVersion(spark: SparkSession, path: String): Option[Int] =
    VersionedRoot.currentVersion(spark, path)

  def listVersions(spark: SparkSession, path: String): Seq[Int] =
    VersionedRoot.listVersions(spark, path)

  // ---- write / append / load ----

  /** Write `docs`' signatures as the NEXT full version of the index at
    * `path` (bootstraps v0 when absent). The v<n> directory is claimed
    * create-exclusively first, so a concurrent writer fails loudly
    * instead of interleaving files.
    */
  def write(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val n = currentVersion(spark, path).map(_ + 1).getOrElse(0)
    VersionedRoot.claimVersion(spark, path, n)
    val (sh, mh, sim, bands, fps) = signatures(docs)
    val shP = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      writeSigs(Sigs(mh, sim, bands, fps,
        mhCounts(mh), shCounts(sim), bandCounts(bands)), s"$path/v$n")
      VersionedRoot.flipPointer(spark, path, n, KeepVersions)
      writeMarker(fs, path)
    } finally { shP.unpersist(); () }
  }

  private def writeSigs(sigs: Sigs, root: String): Unit = {
    sigs.minhash.write.mode("overwrite").parquet(s"$root/minhash")
    sigs.simhash.write.mode("overwrite").parquet(s"$root/simhash")
    sigs.bands.write.mode("overwrite").parquet(s"$root/bands")
    sigs.fps.write.mode("overwrite").parquet(s"$root/fps")
    sigs.countsMh.write.mode("overwrite").parquet(s"$root/counts_mh")
    sigs.countsSh.write.mode("overwrite").parquet(s"$root/counts_sh")
    sigs.countsBand.write.mode("overwrite").parquet(s"$root/counts_band")
  }

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/FORMAT")
    val out = fs.create(mp, true)
    try out.write(FormatVersion.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Append one ingest batch's signatures as delta-grain `seq=` parquet
    * batches under the current version root: bytes written scale with
    * the BATCH. Sequence numbers are claimed create-exclusively
    * (`seq=<k>.lock`), so concurrent appenders serialize instead of
    * clobbering. Past [[CompactAppends]] COMPLETE pending batches
    * (counted as actual `seq=` directories, not the claimed slot
    * number — crash-abandoned locks don't skew the trigger), the
    * merged index compacts into a fresh full version — computed from
    * the LOADED index (signature grain), never from raw text.
    *
    * Append racing compaction is lost-update-safe: compaction records
    * the exact `seq=` batches it merged in the new version's
    * `COMPACTED` manifest, and an appender that finds the pointer
    * moved while it was writing checks that manifest — a batch the
    * compaction missed is CARRIED FORWARD into the new root (at
    * signature grain, under a deterministic `carry-` token so the
    * compactor's own rescue pass and the appender's re-check stay
    * idempotent against each other).
    *
    * Tokened replay caveat: a token is recognized only while the
    * version root whose lock recorded it is RETAINED ([[KeepVersions]]).
    * A micro-batch replayed after its token has aged out of the
    * retained set (≥ KeepVersions compactions later) appends again as
    * a duplicate — Structured Streaming's serial batches make that
    * window unreachable in practice, but a days-late manual replay is
    * on the operator.
    */
  def append(docs: DataFrame, path: String,
      token: Option[String] = None): Unit = {
    val (sh, mh, sim, bands, fps) = signatures(docs)
    val shP = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try appendSigs(docs.sparkSession, path,
      Seq("minhash" -> mh, "simhash" -> sim, "bands" -> bands,
        "fps" -> fps, "counts_mh" -> mhCounts(mh),
        "counts_sh" -> shCounts(sim), "counts_band" -> bandCounts(bands)),
      token)
    finally { shP.unpersist(); () }
  }

  private def allFamilies: Seq[String] = SigFamilies ++ CountFamilies

  /** The append engine: claims a slot (reclaiming by `token` on
    * replay), writes the family batches, then re-checks the pointer —
    * see [[append]] for the race contract.
    */
  private def appendSigs(spark: SparkSession, path: String,
      fams: Seq[(String, DataFrame)], token: Option[String]): Unit = {
    val root = VersionedRoot.root(spark, path, "signature index")
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    // a token already absorbed into a RETAINED OLDER version (the
    // crash-after-compaction replay): the batch's rows live in the
    // compacted base — appending again would duplicate them; no-op
    if (token.exists(t =>
        DeltaLog.tokenAbsorbedElsewhere(spark, path, root, t)))
      return
    val k = DeltaLog.claimSlot(fs, root, DeltaLog.slots(fs, root).next, token)
    fams.foreach { case (fam, df) =>
      // op-sized batches: one file per family per append — a wide
      // fan-out would only pad the log with empty part files
      DeltaLog.commit(fs, root, fam, k)(tmp =>
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString))
    }
    // pointer re-check: a compaction may have flipped while this
    // batch was writing; if its manifest misses seq k, carry forward
    val newRoot = VersionedRoot.root(spark, path, "signature index")
    if (newRoot != root) {
      val oldVer = DeltaLog.verOf(root)
      DeltaLog.absorbedByCompaction(spark, path, oldVer, k) match {
        case Some(false) => carryBatch(spark, path, root, oldVer, k)
        case _ => () // absorbed, or superseded by a full rebuild
      }
    } else if (DeltaLog.completeSeqs(fs, root, allFamilies).size >=
        CompactAppends)
      compact(spark, path)
  }

  /** Re-append a compaction-missed delta batch (signature grain — the
    * per-family parquet of seq `k` under `oldRoot/delta`) into the
    * CURRENT root, under the deterministic carry token that keeps the
    * compactor's rescue pass and the appender's own re-check
    * idempotent against each other.
    */
  private def carryBatch(spark: SparkSession, path: String,
      oldRoot: String, oldVer: Int, k: Int): Unit = {
    def fam(name: String, cols: Seq[String]): DataFrame =
      spark.read.parquet(DeltaLog.batchDir(oldRoot, name, k))
        .select(cols.map(col): _*)
    appendSigs(spark, path, Seq(
      "minhash" -> fam("minhash", Seq("doc_id", "j", "h")),
      "simhash" -> fam("simhash", Seq("doc_id", "simhash")),
      "bands" -> fam("bands", Seq("doc_id", "k")),
      "fps" -> fam("fps", Seq("doc_id", "fp")),
      "counts_mh" -> fam("counts_mh", Seq("j", "h", "bn")),
      "counts_sh" -> fam("counts_sh", Seq("b", "bv", "bn")),
      "counts_band" -> fam("counts_band", Seq("k", "df"))),
      Some(s"carry-v$oldVer-$k"))
  }

  /** Compact base + pending deltas into a fresh full version. Reads
    * only the index (signature grain); the delta log resets because
    * the new version root starts with an empty log.
    *
    * Lost-update safety (the append race): the compaction SNAPSHOTS
    * the complete `seq=` batches first, merges exactly those, records
    * them in the new version's `COMPACTED` manifest, and after the
    * pointer flip RESCUES any batch that completed in the old root
    * behind its back (appenders still mid-write at rescue time see the
    * moved pointer themselves and carry forward — [[appendSigs]]; the
    * shared `carry-` token keeps the two paths idempotent).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val oldVer = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no signature index at $path"))
    val oldRoot = s"$path/v$oldVer"
    val snap = DeltaLog.completeSeqs(fs, oldRoot, allFamilies)
    val sigs = loadFrom(spark, oldRoot, snap)
    val n = oldVer + 1
    VersionedRoot.claimVersion(spark, path, n)
    writeSigs(sigs, s"$path/v$n")
    DeltaLog.writeCompacted(fs, s"$path/v$n", oldVer, snap)
    VersionedRoot.flipPointer(spark, path, n, KeepVersions)
    // rescue pass: batches that completed in the old root after the
    // snapshot but before the flip belong to appenders that observed
    // the OLD pointer when they finished — nobody else would carry them
    DeltaLog.completeSeqs(fs, oldRoot, allFamilies).filterNot(snap.contains)
      .foreach(k => carryBatch(spark, path, oldRoot, oldVer, k))
  }

  /** Cold-load the index at `path`: per signature family,
    * base ∪ COMPLETE pending delta batches (a mid-write appender's
    * partial batch is never served); count tables re-aggregate base +
    * batch partials (`groupBy` — map-side combined, count-grain).
    */
  def load(spark: SparkSession, path: String): Sigs = {
    val root = VersionedRoot.root(spark, path, "signature index")
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    loadFrom(spark, root, DeltaLog.completeSeqs(fs, root, allFamilies))
  }

  /** [[load]] pinned to an explicit delta-batch snapshot — the
    * compaction reads exactly the batches its `COMPACTED` manifest
    * will record, so a batch appended mid-compaction is never half
    * merged.
    */
  private def loadFrom(spark: SparkSession, root: String,
      seqs: Seq[Int]): Sigs = {
    def fam(name: String, cols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$root/$name")
        .select(cols.map(col): _*)
      if (seqs.isEmpty) base
      else base.unionByName(
        spark.read.parquet(
            seqs.map(DeltaLog.batchDir(root, name, _)): _*)
          .select(cols.map(col): _*))
    }
    Sigs(
      minhash = fam("minhash", Seq("doc_id", "j", "h")),
      simhash = fam("simhash", Seq("doc_id", "simhash")),
      bands = fam("bands", Seq("doc_id", "k")),
      fps = fam("fps", Seq("doc_id", "fp")),
      countsMh = fam("counts_mh", Seq("j", "h", "bn"))
        .groupBy(col("j"), col("h")).agg(sum(col("bn")).as("bn")),
      countsSh = fam("counts_sh", Seq("b", "bv", "bn"))
        .groupBy(col("b"), col("bv")).agg(sum(col("bn")).as("bn")),
      countsBand = fam("counts_band", Seq("k", "df"))
        .groupBy(col("k")).agg(sum(col("df")).as("df")))
  }

  /** Build the index iff absent or format-stale (the pstore pattern:
    * a database-load cost paid once per dataset, reused by every later
    * session). A format-stale root is REBUILT AS THE NEXT VERSION and
    * the pointer flipped — never deleted under a live reader: a
    * process probing the old version keeps resolving intact files
    * until retention GC, the snapshot-isolation contract the versioned
    * roots exist for. Only a root that never completed a version (no
    * VERSION pointer — crashed bootstrap debris, unreadable by
    * definition) is cleared in place.
    */
  def ensure(docs: => DataFrame, path: String,
      spark: SparkSession): Unit = {
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val marker = VersionedRoot.readSmall(fs, new org.apache.hadoop.fs.Path(s"$path/FORMAT"))
    val cur = currentVersion(spark, path)
    val fresh = cur.isDefined && marker.contains(FormatVersion.toString)
    if (!fresh) {
      if (cur.isEmpty)
        fs.delete(new org.apache.hadoop.fs.Path(path), true)
      write(docs, path)
    }
  }

  // ---- the probe ----

  /** Probe `batch` (doc_id, text) against the standing index: per
    * batch document, exact / MinHash / SimHash / banded-Jaccard
    * duplicate verdicts against the CORPUS THE INDEX REPRESENTS.
    *
    * Verdict semantics match the monolithic spellings exactly:
    *  - exact_dup — md5(text) collides with an index fingerprint;
    *  - mh_dup    — ≥ 8 of 16 minhash permutations agree with some
    *                corpus doc sharing an under-cap (j, h) bucket
    *                (est. Jaccard ≥ 0.5, q369);
    *  - sh_dup    — Hamming ≤ 6 against some corpus doc sharing an
    *                under-cap 15-bit SimHash band (q369);
    *  - band_dup  — ≥ 3 shared df-capped shingle keys with corpus
    *                docs (q162's near-dup arm);
    *  - drop      — any of the above.
    *
    * Bucket caps are computed on index counts + batch partials, so a
    * bucket's combined population decides exclusion — identical
    * arithmetic to computing over corpus ∪ batch monolithically, but
    * the probe only ever LOOKS UP the buckets the batch touches: the
    * corpus-side cost is index scans (batch side guarded-broadcast),
    * never an index shuffle, and never a document read.
    */
  def probe(spark: SparkSession, path: String, batch: DataFrame)
      : DataFrame = {
    val idx = load(spark, path)
    val (sh, mh0, sim0, bands0, fps0) = signatures(batch)
    // the batch signature subtrees are each referenced 2-3 times in
    // one probe plan: pin them (bounded memo, evict-unpersists)
    val shP = GuardedBroadcast.pin(sh)
    void(shP)
    val mh = GuardedBroadcast.pin(mh0)
    val sim = GuardedBroadcast.pin(sim0)
    val bands = GuardedBroadcast.pin(bands0)
    val fps = GuardedBroadcast.pin(fps0)
    val batchIds = GuardedBroadcast.pin(batch.select(col("doc_id")))

    // exact arm: batch fp ∈ index fps
    val exact = fps.as("b")
      .join(idx.fps.as("c"), col("b.fp") === col("c.fp"), "left_semi")
      .select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("exact_dup"))

    // minhash arm — combined bucket counts via index lookup
    val bMhCnt = mh.groupBy(col("j"), col("h")).agg(count(lit(1)).as("bbn"))
    val mhIdxCnt = idx.countsMh
      .join(GuardedBroadcast.maybe(bMhCnt.select(col("j"), col("h"))),
        Seq("j", "h"), "left_semi")
    val mhOver = bMhCnt.join(mhIdxCnt, Seq("j", "h"), "left")
      .select(col("j"), col("h"),
        (col("bbn") + coalesce(col("bn"), lit(0L))).as("tot"))
      .filter(col("tot") > MaxLshBucket).select(col("j"), col("h"))
    val mhB = mh.join(GuardedBroadcast.maybe(mhOver), Seq("j", "h"),
      "left_anti")
    val mhCand = idx.minhash.as("c")
      .join(GuardedBroadcast.maybe(mhB).as("b"),
        col("b.j") === col("c.j") && col("b.h") === col("c.h"))
      .select(col("b.doc_id").as("d1"), col("c.doc_id").as("d2"))
      .distinct()
    val mhDup = idx.minhash.as("y")
      .join(GuardedBroadcast.maybe(mhCand), col("y.doc_id") === col("d2"))
      .join(GuardedBroadcast.maybe(mh).as("x"),
        col("x.doc_id") === col("d1") && col("x.j") === col("y.j"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(when(col("x.h") === col("y.h"), 1).otherwise(0)).as("agree"))
      .filter(col("agree") >= MinHashPerms / 2)
      .select(col("d1").as("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("mh_dup"))

    // simhash arm — bands derived from the 1-row-per-doc fingerprints
    val bShBands = simBands(sim)
    val bShCnt = bShBands.groupBy(col("b"), col("bv"))
      .agg(count(lit(1)).as("bbn"))
    val shIdxCnt = idx.countsSh
      .join(GuardedBroadcast.maybe(bShCnt.select(col("b"), col("bv"))),
        Seq("b", "bv"), "left_semi")
    val shOver = bShCnt.join(shIdxCnt, Seq("b", "bv"), "left")
      .select(col("b"), col("bv"),
        (col("bbn") + coalesce(col("bn"), lit(0L))).as("tot"))
      .filter(col("tot") > MaxLshBucket).select(col("b"), col("bv"))
    val bShB = bShBands.join(GuardedBroadcast.maybe(shOver),
      Seq("b", "bv"), "left_anti")
    val shDup = simBands(idx.simhash).as("y")
      .join(GuardedBroadcast.maybe(bShB).as("x"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv"))
      .select(col("x.doc_id").as("doc_id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("long").as("hd"))
      .filter(col("hd") <= 6)
      .select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("sh_dup"))

    // banded-Jaccard arm (q162): ≥ 3 shared df-capped shingle keys.
    // df cap on combined doc frequency, same lookup shape as above.
    val bBandCnt = bands.groupBy(col("k")).agg(count(lit(1)).as("bdf"))
    val bandIdxCnt = idx.countsBand
      .join(GuardedBroadcast.maybe(bBandCnt.select(col("k"))),
        Seq("k"), "left_semi")
    val bandOver = bBandCnt.join(bandIdxCnt, Seq("k"), "left")
      .select(col("k"),
        (col("bdf") + coalesce(col("df"), lit(0L))).as("tot"))
      .filter(col("tot") > MaxShingleDocFreq).select(col("k"))
    val bandsB = bands.join(GuardedBroadcast.maybe(bandOver), Seq("k"),
      "left_anti")
    val bandDup = idx.bands.as("c")
      .join(GuardedBroadcast.maybe(bandsB).as("b"), col("b.k") === col("c.k"))
      .groupBy(col("b.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
      .select(col("doc_id"), lit(true).as("band_dup"))

    batchIds
      .join(exact, Seq("doc_id"), "left")
      .join(mhDup, Seq("doc_id"), "left")
      .join(shDup, Seq("doc_id"), "left")
      .join(bandDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("mh_dup"), lit(false)).as("mh_dup"),
        coalesce(col("sh_dup"), lit(false)).as("sh_dup"),
        coalesce(col("band_dup"), lit(false)).as("band_dup"),
        (coalesce(col("exact_dup"), lit(false)) ||
          coalesce(col("mh_dup"), lit(false)) ||
          coalesce(col("sh_dup"), lit(false)) ||
          coalesce(col("band_dup"), lit(false))).as("drop"))
  }

  private def void(a: Any): Unit = ()
}
