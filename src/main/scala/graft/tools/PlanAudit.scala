package graft.tools

/** Ad-hoc audit: which registry queries plan a native RangeJoin/AsOfJoin,
  * plus a source-level scan for raw `broadcast(` hints — every
  * broadcast in query code must route through GuardedBroadcast.maybe
  * so a broken "this is small" assumption degrades to a shuffle join
  * instead of an executor OOM. [[rawBroadcastHints]] returns the
  * offending file:line list (empty = clean); ToolsSpec pins it, and
  * the other source audits here, empty.
  */
object PlanAudit {

  /** `file:line` for every line `hit` flags in the main sources under
    * `root`, outside the files named in `exempt` and this auditor (its
    * docs name every pattern).
    */
  private def scan(root: String, exempt: String*)(
      hit: String => Boolean): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val skip = exempt.toSet + "PlanAudit.scala"
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !skip(p.getFileName.toString))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if hit(line) => s"$p:${i + 1}"
        }
      }.toSeq
  }

  /** `file:line` for every raw broadcast( hint in main sources outside
    * the guard itself.
    */
  def rawBroadcastHints(root: String = "src/main/scala/graft"): Seq[String] =
    // strip the guard's own qualified calls before matching
    scan(root, "GuardedBroadcast.scala")(_.replace("GuardedBroadcast.maybe(", "")
      .matches(".*\\bbroadcast\\(.*"))

  /** `file:line` for every raw `Window.orderBy(` (the accidental
    * partition-less window form — Spark plans it as a single-task
    * global sort) in main sources. Bounded relations go through
    * BoundedWindow.ordered, data-grain ranking through ExactRank;
    * ToolsSpec pins this empty and EntrySpec plan-walks the registry
    * for any empty-spec window that slips through another spelling.
    */
  def rawGlobalWindows(root: String = "src/main/scala/graft"): Seq[String] =
    scan(root, "BoundedWindow.scala")(_.contains("Window.orderBy("))

  /** `file:line` for every versioned-root protocol step taken outside
    * `scale/VersionedRoot` and `scale/DeltaLog` — building a `VERSION`
    * pointer path or a `MANIFEST` path, or a create-exclusive
    * `create(…, false)` — in main sources. Every versioned artifact
    * claims, flips, commits and carries units through those two, so
    * their rules cannot drift apart again; ToolsSpec pins this empty.
    */
  def rawVersionedRootIo(root: String = "src/main/scala/graft"): Seq[String] =
    scan(root, "VersionedRoot.scala", "DeltaLog.scala")(line =>
      line.matches(".*[/\"](VERSION|MANIFEST)\".*") ||
        line.matches(".*\\bcreate\\(.*,\\s*false\\s*\\).*"))

  /** Build-artifact / scratch directories sitting inside the SOURCE
    * tree (an sbt run with the wrong cwd drops `target/` + a
    * `project/` cache next to the code — untracked, so git-based leak
    * checks never see them, but their logs can carry environment
    * details and any `find`-based tooling picks them up). The
    * WORKTREE is the audit surface here, deliberately not the git
    * index.
    */
  def strayBuildDirs(root: String = "src"): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val junk = Set("target", "project", ".bloop", ".metals",
      "spark-warehouse", "metastore_db")
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        junk(p.getFileName.toString))
      .map(_.toString).toSeq
  }

  def main(args: Array[String]): Unit = {
    val hints = rawBroadcastHints()
    if (hints.nonEmpty)
      println(s"[audit] RAW broadcast( hints (route through " +
        s"GuardedBroadcast.maybe): ${hints.mkString(", ")}")
    else println("[audit] no raw broadcast( hints outside GuardedBroadcast")
    val spark = graft.GraftSession.local("8")
    val dir = "/root/testdata/sf0.001"
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val tags = Seq(
          if (plan.contains("RangeJoin")) Some("RangeJoin") else None,
          if (plan.contains("AsOfJoin")) Some("AsOfJoin") else None).flatten
        if (tags.nonEmpty) println(s"[audit] $name: ${tags.mkString(",")}")
      } catch { case e: Throwable =>
        println(s"[audit] $name: ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
