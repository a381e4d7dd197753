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
  *
  * A version may carry some of its units (a dataset's `default/p=<pred>`
  * partitions, its `quads` tree, its `dict` directory) by reference
  * instead of writing them again: its `MANIFEST` maps each carried unit
  * to the `v<m>` directory that holds it, flattened (the holder always
  * holds the files itself). A version with no manifest holds every unit
  * it has. The garbage collection keeps what a retained version's
  * manifest names: an expired version so named is stripped down to its
  * named units and marked a holder (`HOLDER`), which is storage, not a
  * version ([[listVersions]] leaves it out).
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

  /** The versions under `path`, ascending: every `v<n>` directory but
    * the stripped holders ([[listHolders]]).
    */
  def listVersions(spark: SparkSession, path: String): Seq[Int] =
    versionDirs(spark, path).collect { case (n, false) => n }

  /** The stripped holders under `path`, ascending: expired versions kept
    * only for the units a retained version's manifest names.
    */
  def listHolders(spark: SparkSession, path: String): Seq[Int] =
    versionDirs(spark, path).collect { case (n, true) => n }

  /** Every `v<n>` directory under `path`, ascending, with whether it is
    * a stripped holder.
    */
  private def versionDirs(spark: SparkSession,
      path: String): Seq[(Int, Boolean)] = {
    val (fs, p) = fsOf(spark, path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("v"))
        n.drop(1).toIntOption.map(_ ->
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, HolderMark)))
      else None
    }.sorted
  }

  private val ManifestFile = "MANIFEST"
  private val HolderMark = "HOLDER"

  /** The units version root `root` carries, each mapped to the version
    * whose directory holds it; empty when `root` has no manifest.
    */
  def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Map[String, Int] = {
    val mp = new org.apache.hadoop.fs.Path(s"$root/$ManifestFile")
    if (!fs.exists(mp)) Map.empty
    else {
      val in = fs.open(mp)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      // one line per unit: `v<m> <unit>` (a unit name may hold spaces)
      text.linesIterator.filter(_.nonEmpty).map { line =>
        val at = line.indexOf(' ')
        line.substring(at + 1) -> line.substring(1, at).toInt
      }.toMap
    }
  }

  /** Write version root `root`'s manifest: every unit it carries, with
    * the version holding it. Nothing is written when nothing is carried.
    */
  def writeManifest(fs: org.apache.hadoop.fs.FileSystem, root: String,
      carried: Map[String, Int]): Unit =
    if (carried.nonEmpty) {
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/$ManifestFile"), true)
      try out.write(carried.toSeq.sortBy(_._1)
        .map { case (unit, m) => s"v$m $unit\n" }.mkString.getBytes("UTF-8"))
      finally out.close()
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
    * garbage-collect versions past `keepVersions`: an expired version
    * that no retained version's manifest names is deleted; one that is
    * named is marked a holder and stripped of every other file (its
    * delta log, manifest and unnamed partitions).
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
    val named: Map[Int, Set[String]] = (n - keepVersions + 1 to n)
      .flatMap(v => readManifest(fs, s"$path/v$v"))
      .groupMap(_._2)(_._1).map { case (m, units) => m -> units.toSet }
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
      val name = st.getPath.getName
      val m = if (!name.startsWith("v")) None
        else if (st.isDirectory) name.drop(1).toIntOption
        else name.drop(1).stripSuffix(".claim").toIntOption
          .filter(_ => name.endsWith(".claim"))
      m.filter(_ <= n - keepVersions).foreach { m =>
        named.get(m) match {
          case Some(units) if st.isDirectory =>
            // marked first: a crash mid-strip leaves a holder, never a
            // version missing files
            fs.create(new org.apache.hadoop.fs.Path(st.getPath, HolderMark), true)
              .close()
            strip(fs, st.getPath, "", units)
          case _ => fs.delete(st.getPath, true)
        }
      }
    }
  }

  /** Delete everything under `dir` (at `rel` below its version root)
    * that is neither one of `units` nor on the way to one, nor the
    * holder mark.
    */
  private def strip(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, rel: String, units: Set[String]): Unit =
    fs.listStatus(dir).foreach { st =>
      val r = if (rel.isEmpty) st.getPath.getName else s"$rel/${st.getPath.getName}"
      if (units(r) || r == HolderMark) ()
      else if (st.isDirectory && units.exists(_.startsWith(s"$r/")))
        strip(fs, st.getPath, r, units)
      else fs.delete(st.getPath, true)
    }
}
