package graft.scale

import org.apache.spark.sql.SparkSession

/** Shared delta-log machinery for every versioned root — TripleStore
  * datasets and the `scale/` artifacts ([[SignatureStore]],
  * [[VectorIndex]]): `seq=<k>` append batches per family under a
  * version root, create-exclusive `seq=<k>.lock` slot claims carrying
  * an idempotency token, the one commit rule, the one slot listing,
  * and the compaction manifest (`COMPACTED`) that makes
  * append-vs-compaction races lost-update-safe — an appender that
  * finds the pointer moved consults the manifest and carries its batch
  * forward iff the compaction missed it.
  *
  * The commit rule: a family's batch is written into
  * `delta/<fam>/.tmp-<k>` (hidden from Spark's file listing) and
  * committed by renaming it to `seq=<k>`, so a batch is COMMITTED
  * exactly when its `seq=<k>` directory exists. Whether a reader needs
  * the batch committed in every family is the artifact's rule: the
  * scale stores read a seq only once all their families committed it
  * ([[Slots.complete]]); a dataset reads each log on its own.
  *
  * (The reference's only persisted incremental artifact is the
  * append-grain stats cache — `PlanCostEstimator.cpp:1053-1085`
  * appends measurements and never recomputes the table; this object
  * is that discipline generalized to multi-family parquet batches.)
  */
private[graft] object DeltaLog {

  /** One listing of a version root's `delta/`: per family (each
    * subdirectory), the seqs of its committed batches (`seq=<k>`) and
    * of its uncommitted leftovers (`.tmp-<k>`), and the seqs of the
    * claimed slots (`seq=<k>.lock` files).
    */
  final case class Slots(committed: Map[String, Set[Int]],
      uncommitted: Map[String, Set[Int]], locks: Set[Int]) {
    /** Seqs committed in at least one family. */
    def anyCommitted: Set[Int] = committed.values.flatten.toSet

    /** Seqs committed in every one of `families`, ascending. */
    def complete(families: Seq[String]): Seq[Int] =
      families.map(committed.getOrElse(_, Set.empty[Int]))
        .reduce(_ intersect _).toSeq.sorted

    /** One past every committed batch and claimed slot — where the
      * next append starts looking ([[claimSlot]] arbitrates).
      */
    def next: Int = (anyCommitted ++ locks).maxOption.fold(0)(_ + 1)
  }

  /** The [[Slots]] of version root `root`: one listing of `delta/` and
    * one per family directory; no data read.
    */
  def slots(fs: org.apache.hadoop.fs.FileSystem, root: String): Slots = {
    val dp = new org.apache.hadoop.fs.Path(s"$root/delta")
    if (!fs.exists(dp)) return Slots(Map.empty, Map.empty, Set.empty)
    def seqOf(name: String, pre: String, post: String): Option[Int] =
      if (name.startsWith(pre) && name.endsWith(post))
        name.stripPrefix(pre).stripSuffix(post).toIntOption
      else None
    val (dirs, files) = fs.listStatus(dp).toSeq.partition(_.isDirectory)
    val fams = dirs.map { st =>
      st.getPath.getName ->
        fs.listStatus(st.getPath).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    }
    Slots(
      fams.map { case (f, ns) => f -> ns.flatMap(seqOf(_, "seq=", "")).toSet }.toMap,
      fams.map { case (f, ns) => f -> ns.flatMap(seqOf(_, ".tmp-", "")).toSet }
        .filter(_._2.nonEmpty).toMap,
      files.flatMap(st => seqOf(st.getPath.getName, "seq=", ".lock")).toSet)
  }

  /** The directory of family `fam`'s batch `k` under `root`. */
  def batchDir(root: String, fam: String, k: Int): String =
    s"$root/delta/$fam/seq=$k"

  /** The claim file of slot `k` under `root`. */
  def lockPath(root: String, k: Int): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$root/delta/seq=$k.lock")

  /** Commit family `fam`'s batch `k` under `root`: `write` fills the
    * hidden `.tmp-<k>` directory, which is then renamed to `seq=<k>`
    * (a replayed slot replaces its own earlier batch).
    */
  def commit(fs: org.apache.hadoop.fs.FileSystem, root: String, fam: String,
      k: Int)(write: org.apache.hadoop.fs.Path => Unit): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$root/delta/$fam/.tmp-$k")
    fs.delete(tmp, true)
    write(tmp)
    val target = new org.apache.hadoop.fs.Path(batchDir(root, fam, k))
    fs.delete(target, true)
    require(fs.rename(tmp, target), s"delta batch commit $target failed")
  }

  /** Seqs whose batch is COMPLETE under `root` — committed in every one
    * of `families` — so a mid-write or crashed append is excluded from
    * compaction snapshots, loads, and the compaction trigger.
    */
  def completeSeqs(fs: org.apache.hadoop.fs.FileSystem, root: String,
      families: Seq[String]): Seq[Int] =
    slots(fs, root).complete(families)

  /** The seq slot whose lock file carries token `t` under `root`. */
  def tokenLockIn(fs: org.apache.hadoop.fs.FileSystem, r: String,
      t: String): Option[Int] =
    slots(fs, r).locks.find(k =>
      VersionedRoot.readSmall(fs, lockPath(r, k)).contains(t))

  /** Whether `token` was already claimed under a RETAINED version root
    * other than `root` — the crash-after-compaction replay: the
    * batch's rows live in the compacted base, so appending again would
    * duplicate them.
    */
  def tokenAbsorbedElsewhere(spark: SparkSession, path: String,
      root: String, token: String): Boolean = {
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    VersionedRoot.listVersions(spark, path)
      .map(v => s"$path/v$v").filter(_ != root)
      .exists(r => tokenLockIn(fs, r, token).isDefined)
  }

  /** Claim an append slot under `root`: reclaim the slot whose lock
    * already carries `token` (replay overwrites its own batch —
    * effectively-once), else walk forward from `next` until a
    * create-exclusive lock wins.
    */
  def claimSlot(fs: org.apache.hadoop.fs.FileSystem, root: String,
      next: Int, token: Option[String]): Int = {
    val reclaimed = token.flatMap(t => tokenLockIn(fs, root, t))
    reclaimed.getOrElse {
      var k = next
      var tries = 0
      while (!VersionedRoot.claim(fs, lockPath(root, k), token.getOrElse(""))) {
        k += 1
        tries += 1
        require(tries < 10000, s"could not claim an append slot under $root")
      }
      k
    }
  }

  /** Record the exact batches a compaction merged, in the NEW version
    * root: first line `from=v<oldVer>`, then one merged seq per line.
    */
  def writeCompacted(fs: org.apache.hadoop.fs.FileSystem, newRoot: String,
      fromVer: Int, seqs: Seq[Int]): Unit = {
    val mp = new org.apache.hadoop.fs.Path(s"$newRoot/COMPACTED")
    val out = fs.create(mp, true)
    try out.write((s"from=v$fromVer" +: seqs.map(_.toString))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Whether seq `k` of version `oldVer` was merged by a later
    * compaction: Some(true/false) when a retained later version's
    * `COMPACTED` manifest answers, None when no manifest chains back
    * to `oldVer` — a full rebuild superseded the root, and the batch's
    * content is re-derivable from the authoritative inputs, so callers
    * treat None as absorbed.
    */
  def absorbedByCompaction(spark: SparkSession, path: String,
      oldVer: Int, k: Int): Option[Boolean] = {
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    VersionedRoot.listVersions(spark, path)
      .filter(_ > oldVer).sorted.collectFirst {
        Function.unlift { (v: Int) =>
          VersionedRoot.readSmall(fs,
            new org.apache.hadoop.fs.Path(s"$path/v$v/COMPACTED"))
            .filter(_.linesIterator.next() == s"from=v$oldVer")
            .map(_.linesIterator.drop(1)
              .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
              .contains(k))
        }
      }
  }

  /** The version number encoded in a `.../v<n>` root path. */
  def verOf(root: String): Int =
    root.substring(root.lastIndexOf("/v") + 2).toInt
}
