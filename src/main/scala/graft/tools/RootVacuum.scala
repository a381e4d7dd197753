package graft.tools

import org.apache.spark.sql.SparkSession
import graft.scale.{DeltaLog, VersionedRoot}

/** Vacuum / inspect for the versioned artifact roots (TripleStore
  * datasets, SignatureStore, VectorIndex — all three go through one
  * protocol, [[VersionedRoot]] + [[DeltaLog]]): lists every version,
  * claim, committed delta batch, uncommitted batch leftover, and slot
  * lock with its status and bytes, and REAPS the debris crashed
  * writers leak — an orphaned `v<n>.claim` otherwise blocks version
  * `n` forever (claimVersion fails loudly on it), and dangling
  * `seq=<k>.lock` files and `.tmp-<k>` leftovers accumulate without
  * bound. The lakehouse `VACUUM` the retention story was missing.
  *
  * One commit rule decides what is live ([[DeltaLog.commit]]): a
  * family's batch is committed when its `seq=<k>` directory exists,
  * and a seq committed in ANY family is live data — a dataset writes
  * only the logs an op touched, so a rule that needs every family
  * would call a dataset's batches partial and reap them.
  *
  * Reaping is conservative by construction:
  *  - only versions AHEAD of the pointer (crashed before their flip)
  *    are candidates — retained versions behind the pointer belong to
  *    pinned readers and are flipPointer's GC to collect;
  *  - in the current version's delta log, only locks that no family
  *    committed (`dangling`) and uncommitted `.tmp-<k>` leftovers are
  *    candidates — a committed batch is never touched;
  *  - everything reaped must be older than `olderThanMs` (file mtime),
  *    so a writer mid-flight is never swept out from under its claim;
  *  - a holder (an expired version stripped to the units a retained
  *    version's manifest names) is never touched: flipPointer's GC
  *    deletes it once no retained manifest names it.
  */
object RootVacuum {

  final case class Entry(kind: String, name: String, status: String,
      bytes: Long)

  private def sizeOf(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(p)) 0L
    else fs.getContentSummary(p).getLength

  /** Inventory of a versioned root: one [[Entry]] per version
    * (current / retained / orphaned), per stripped holder (`holder`,
    * with the bytes of its named units), per claim (held / orphaned), and
    * in the current version's delta log per committed batch
    * (`delta_batch`, complete), per uncommitted leftover (`delta_tmp`
    * `<fam>/.tmp-<k>`, uncommitted), and per slot lock (held /
    * dangling). Filesystem-metadata-sized — never reads data.
    */
  def inspectEntries(spark: SparkSession, path: String): Seq[Entry] = {
    val (fs, p) = VersionedRoot.fsOf(spark, path)
    if (!fs.exists(p)) return Nil
    val cur = VersionedRoot.currentVersion(spark, path)
    val versions = VersionedRoot.listVersions(spark, path)
    val claims = fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("v") &&
        st.getPath.getName.endsWith(".claim"))
      .flatMap(st => scala.util.Try(st.getPath.getName
        .stripPrefix("v").stripSuffix(".claim").toInt).toOption)
      .sorted
    val vEntries = versions.map { v =>
      val status =
        if (cur.contains(v)) "current"
        else if (cur.exists(v < _)) "retained"
        else "orphaned" // ahead of the pointer: crashed before flip
      Entry("version", s"v$v", status,
        sizeOf(fs, new org.apache.hadoop.fs.Path(s"$path/v$v")))
    }
    val hEntries = VersionedRoot.listHolders(spark, path).map(v =>
      Entry("holder", s"v$v", "held",
        sizeOf(fs, new org.apache.hadoop.fs.Path(s"$path/v$v"))))
    val cEntries = claims.map { v =>
      val status =
        if (cur.forall(v <= _) || versions.contains(v)) "held"
        else "orphaned"
      Entry("claim", s"v$v", status, 0L)
    }
    val deltaEntries = cur.map(v => s"$path/v$v").toSeq.flatMap { root =>
      val slots = DeltaLog.slots(fs, root)
      def bytes(rel: String) =
        sizeOf(fs, new org.apache.hadoop.fs.Path(s"$root/delta/$rel"))
      val batches = slots.anyCommitted.toSeq.sorted.map { k =>
        Entry("delta_batch", s"seq=$k", "complete",
          slots.committed.collect {
            case (f, ks) if ks(k) => bytes(s"$f/seq=$k")
          }.sum)
      }
      val tmps = slots.uncommitted.toSeq.sortBy(_._1).flatMap { case (f, ks) =>
        ks.toSeq.sorted.map(k =>
          Entry("delta_tmp", s"$f/.tmp-$k", "uncommitted", bytes(s"$f/.tmp-$k")))
      }
      val locks = slots.locks.toSeq.sorted.map { k =>
        Entry("lock", s"seq=$k",
          if (slots.anyCommitted(k)) "held" else "dangling", 0L)
      }
      batches ++ tmps ++ locks
    }
    vEntries ++ hEntries ++ cEntries ++ deltaEntries
  }

  /** Reap crashed-writer debris older than `olderThanMs`: orphaned
    * ahead-of-pointer versions with their claims, orphaned claims with
    * no version directory, and in the current version's delta log the
    * dangling slot locks and uncommitted `.tmp-<k>` leftovers. Returns
    * the reaped paths. Current and retained versions, held claims,
    * held locks and committed batches are never touched.
    */
  def reap(spark: SparkSession, path: String,
      olderThanMs: Long = 3600L * 1000): Seq[String] = {
    val (fs, p) = VersionedRoot.fsOf(spark, path)
    if (!fs.exists(p)) return Nil
    val now = System.currentTimeMillis()
    val reaped = Seq.newBuilder[String]
    // delete `rel` under `path` if it is older than the guard
    def rm(rel: String, recursive: Boolean): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(s"$path/$rel")
      val old = scala.util.Try(
        now - fs.getFileStatus(hp).getModificationTime >= olderThanMs)
        .getOrElse(false)
      val gone = old && fs.delete(hp, recursive)
      if (gone) reaped += hp.toString
      gone
    }
    val delta = VersionedRoot.currentVersion(spark, path).map(v => s"v$v/delta")
    inspectEntries(spark, path).foreach {
      case Entry("version", name, "orphaned", _) =>
        // its claim is older than the version directory it guards
        if (rm(name, recursive = true)) rm(s"$name.claim", recursive = false)
      case Entry("claim", name, "orphaned", _) =>
        rm(s"$name.claim", recursive = false)
      case Entry("lock", name, "dangling", _) =>
        delta.foreach(d => rm(s"$d/$name.lock", recursive = false))
      case Entry("delta_tmp", name, "uncommitted", _) =>
        delta.foreach(d => rm(s"$d/$name", recursive = true))
      case _ => ()
    }
    reaped.result()
  }
}
