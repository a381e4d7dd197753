package graft.scale

import org.apache.spark.sql.SparkSession

/** The one versioned-root protocol, for every versioned artifact —
  * TripleStore datasets ([[graft.bgp.TripleStore.writeDatasetVersioned]])
  * and the `scale/` indexes ([[SignatureStore]], [[VectorIndex]]): a
  * `VERSION` pointer file selects the current `v<n>` directory, new
  * versions are CLAIMED create-exclusively before anything writes (two
  * JVMs can never interleave files in one version), the pointer flip
  * re-checks its precondition and aborts loudly on a lost race, and
  * old versions garbage-collect past a retention bound so pinned
  * readers finish on intact files. The delta batches under a version
  * root are [[DeltaLog]]'s.
  */
private[graft] object VersionedRoot {

  def fsOf(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def readSmall(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](64)
        val n = in.read(bytes)
        Some(new String(bytes, 0, math.max(n, 0), "UTF-8").trim)
      } finally in.close()
    }

  def currentVersion(spark: SparkSession, path: String): Option[Int] = {
    val (fs, _) = fsOf(spark, path)
    val vp = new org.apache.hadoop.fs.Path(s"$path/VERSION")
    def read(): Option[Int] =
      readSmall(fs, vp).flatMap(s => scala.util.Try(s.toInt).toOption)
    read().orElse {
      // pointer absent but version dirs exist: a writer may be
      // mid-flip on an FS where the overwrite-rename fallback (delete
      // + rename) left a sub-millisecond empty window — retry briefly
      // before concluding the root is genuinely unversioned
      if (fs.exists(new org.apache.hadoop.fs.Path(path)) &&
          listVersions(spark, path).nonEmpty) {
        var out: Option[Int] = None
        var tries = 0
        while (out.isEmpty && tries < 5) {
          Thread.sleep(20)
          out = read()
          tries += 1
        }
        out
      } else None
    }
  }

  def listVersions(spark: SparkSession, path: String): Seq[Int] = {
    val (fs, p) = fsOf(spark, path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("v"))
        scala.util.Try(n.drop(1).toInt).toOption
      else None
    }.sorted
  }

  /** Create-exclusive claim: atomically wins or returns false;
    * `content` (an idempotency token) lands in the claim file so a
    * replayed writer can recognize its own slot.
    */
  def claim(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, content: String = ""): Boolean =
    try {
      val out = fs.create(path, false)
      try { if (content.nonEmpty) out.write(content.getBytes("UTF-8")) }
      finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  /** The current version root, loudly absent-aware. */
  def root(spark: SparkSession, path: String, what: String): String =
    currentVersion(spark, path) match {
      case Some(n) => s"$path/v$n"
      case None => throw new IllegalArgumentException(
        s"no $what at $path (no VERSION pointer)")
    }

  /** Claim version `n` before writing it — the loser fails loudly. */
  def claimVersion(spark: SparkSession, path: String, n: Int): Unit = {
    val (fs, _) = fsOf(spark, path)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    require(claim(fs, new org.apache.hadoop.fs.Path(s"$path/v$n.claim")),
      s"version v$n of $path is already claimed by another writer")
  }

  /** Flip the VERSION pointer to `n`, failing LOUDLY on a lost race
    * (the pointer must still read n-1, or be absent for n == 0), and
    * garbage-collect versions past `keepVersions`.
    */
  def flipPointer(spark: SparkSession, path: String, n: Int,
      keepVersions: Int): Unit = {
    val (fs, _) = fsOf(spark, path)
    val vp = new org.apache.hadoop.fs.Path(s"$path/VERSION")
    val cur = readSmall(fs, vp).flatMap(s => scala.util.Try(s.toInt).toOption)
    require(cur.forall(_ == n - 1),
      s"VERSION pointer at $path moved to $cur while writing v$n — " +
        "concurrent writer won the race; this write is aborted")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.VERSION.tmp")
    val out = fs.create(tmp, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    // atomic overwrite-rename where the FS supports it (local/HDFS via
    // FileContext) — a concurrent reader then never observes a missing
    // pointer; the delete+rename fallback is covered by the bounded
    // retry in currentVersion
    val overwrote = scala.util.Try {
      org.apache.hadoop.fs.FileContext
        .getFileContext(vp.toUri, fs.getConf)
        .rename(tmp, vp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }.isSuccess
    if (!overwrote) {
      fs.delete(vp, false)
      require(fs.rename(tmp, vp), s"VERSION pointer flip to $n failed")
    }
    (0 to n - keepVersions).foreach { m =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/v$m"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/v$m.claim"), false)
    }
  }
}
