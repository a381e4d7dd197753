package graft.tools

/** Source audits over the main tree.
  *
  * Each source audit returns the offending `file:line` list (empty =
  * clean); ToolsSpec pins every one of them empty, and [[main]] runs
  * them all and exits 1 on any hit. [[rawBroadcastHints]], for one,
  * keeps every broadcast in query code behind GuardedBroadcast.maybe,
  * so a broken "this is small" assumption degrades to a shuffle join
  * instead of an executor OOM.
  */
object PlanAudit {

  /** The `.scala` files under `root`, outside the files named in
    * `exempt` and this auditor (its docs and allowlist name every
    * pattern).
    */
  private def sources(root: String,
      exempt: String*): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val skip = exempt.toSet + "PlanAudit.scala"
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !skip(p.getFileName.toString))
      .toSeq
  }

  /** `file:line` for every line `hit` flags in the main sources under
    * `root`, outside the files named in `exempt` and this auditor.
    */
  private def scan(root: String, exempt: String*)(
      hit: String => Boolean): Seq[String] = {
    import scala.jdk.CollectionConverters._
    sources(root, exempt: _*).flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if hit(line) => s"$p:${i + 1}"
      }
    }
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

  /** `file:line` for every raw HTTP transport built in main sources
    * outside its one home: an `HttpServer.create(` outside
    * `bgp/SparqlServer`, or an `HttpClient.newBuilder(` /
    * `HttpClient.newHttpClient(` outside `bgp/SparqlHttp`. The server
    * there runs with TCP_NODELAY and the client there is one pooled
    * instance; a second server or a client per call would bring back
    * the delayed-ACK stall or a selector thread per request.
    */
  def rawHttpTransport(root: String = "src/main/scala/graft"): Seq[String] =
    scan(root, "SparqlServer.scala")(_.contains("HttpServer.create(")) ++
      scan(root, "SparqlHttp.scala")(line =>
        line.contains("HttpClient.newBuilder(") ||
          line.contains("HttpClient.newHttpClient("))

  /** `file:line` for every Spark listener registered under `root`
    * outside `tools/Profile` — an `addSparkListener(` or a
    * `listenerManager.register(` in code, not in comments or string
    * literals. How many jobs, stages and shuffle bytes a run took has
    * one answer, [[Profile.of]]; ToolsSpec pins this empty over the
    * main and the test sources.
    */
  def rawSparkListeners(root: String = "src/main/scala/graft"): Seq[String] =
    sources(root, "Profile.scala").flatMap { p =>
      codeLines(p, strings = false).zipWithIndex.collect {
        case ((code, _), i) if code.contains("addSparkListener(") ||
            code.contains("listenerManager.register(") => s"$p:${i + 1}"
      }
    }

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

  /** Public defs in main that tests use as support APIs, though no main
    * line calls them, each with the reason it stays.
    */
  val UncalledAllowed: Map[String, String] = Map(
    "SparkEntry.entry" -> "the driver's smoke entry point (EntrySpec)",
    "BgpPlanner.analyze" ->
      "the query graph BgpSpec and LubmSpec assert join shapes on",
    "CatalogStats.registerAndAnalyze" ->
      "registers and analyzes the fixture tables CostStatsSpec reads")

  /** `file:line Object.name` for every public `def` declared directly
    * in an `object` under `root` whose name no main line uses, outside
    * comments and outside `allowed` (keyed `Object.name`). A use is the
    * name as a word on any line of `root` or `callers` (the benchmark
    * harness is an entry point) that does not define it. `main`,
    * `apply` and `unapply` are entry points or called implicitly;
    * `override`s are called through their parent. Code that only its
    * own spec calls cannot build up unnoticed.
    */
  def uncalledPublicDefs(root: String = "src/main/scala",
      callers: Seq[String] = Seq("perfbench/src"),
      allowed: Map[String, String] = UncalledAllowed): Seq[String] = {
    val definition = ("""\s*((?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?""" +
      """|final|override|implicit|@\w+)\s+)*)def\s+(\w+).*""").r
    val definedName = """\bdef\s+\w+""".r
    val word = """[A-Za-z_]\w*""".r
    val uses = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (root +: callers).flatMap(sources(_)).foreach(p => codeLines(p).foreach {
      case (code, _) =>
        word.findAllIn(definedName.replaceAllIn(code, "")).foreach(uses(_) += 1)
    })
    members(root).collect {
      case Member(at, "object", obj, definition(mods, name), _)
          if !Seq("private", "protected", "override").exists(mods.contains) &&
            !Set("main", "apply", "unapply")(name) && uses(name) == 0 &&
            !allowed.contains(s"$obj.$name") =>
        s"$at $obj.$name"
    }
  }

  /** Module-level caches outside `scale/Derived`, each with the reason it stays. */
  val ModuleCachesAllowed: Map[String, String] = Map(
    "ServiceRegistry.stores" ->
      "user registrations, not derived state: evicting one would break resolve")

  /** `file:line Object.name` for every `val` declared directly in an
    * `object` under `root` whose initializer builds a mutable map or
    * memo (`ConcurrentHashMap`, `TrieMap`, `mutable.*Map`,
    * `BoundedMemo`), outside `scale/Derived` (the one memo for derived
    * state) and `allowed`. Class members are per-instance state.
    */
  def moduleCaches(root: String = "src/main/scala",
      allowed: Map[String, String] = ModuleCachesAllowed): Seq[String] = {
    val value = ("""\s*(?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?""" +
      """|final|override|implicit|lazy|@\w+)\s+)*val\s+(\w+)[^=]*=(.*)""").r
    val cache = ("""\s*(?:new\s+)?[\w.]*\b""" +
      """(?:BoundedMemo|ConcurrentHashMap|TrieMap|mutable\.\w*Map)\b.*""").r
    members(root, "Derived.scala").collect {
      case Member(at, "object", obj, value(name, init), next)
          if cache.matches(if (init.trim.isEmpty) next else init) &&
            !allowed.contains(s"$obj.$name") =>
        s"$at $obj.$name"
    }
  }

  /** A line one indent step (two spaces) inside a template (`object`,
    * `class` or `trait`): `file:line`, the template's kind and name, and
    * the line's code and next non-blank code line, comments removed.
    */
  private final case class Member(at: String, kind: String, owner: String,
      code: String, next: String)

  /** Every [[Member]] in the sources under `root`, outside `exempt`. */
  private def members(root: String, exempt: String*): Seq[Member] = {
    val template = ("""\s*(?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?""" +
      """|final|sealed|abstract|case|implicit)\s+)*(object|class|trait)\s+(\w+).*""").r
    sources(root, exempt: _*).flatMap { p =>
      val lines = codeLines(p)
      // (indent, kind, name) of the templates open here, innermost first
      var open = List.empty[(Int, String, String)]
      lines.zipWithIndex.flatMap {
        case ((code, continued), i) if !continued && code.trim.nonEmpty =>
          val indent = code.indexWhere(!_.isWhitespace)
          if (!code.trim.startsWith(".") && !code.trim.startsWith(")"))
            open = open.dropWhile(_._1 >= indent)
          val member = open.headOption.collect {
            case (at, kind, owner) if at == indent - 2 =>
              Member(s"$p:${i + 1}", kind, owner, code, lines.iterator.drop(i + 1)
                .map(_._1).find(_.trim.nonEmpty).getOrElse(""))
          }
          code match {
            case template(kind, name) => open = (indent, kind, name) :: open
            case _ => ()
          }
          member
        case _ => None
      }
    }
  }

  /** Each line of `p` with its comments removed, paired with whether
    * it starts inside a triple-quoted string or a block comment. String
    * contents stay unless `strings` is false (the quotes always stay): a
    * name spelled in a string is a use.
    */
  private def codeLines(p: java.nio.file.Path,
      strings: Boolean = true): Seq[(String, Boolean)] = {
    import scala.jdk.CollectionConverters._
    val tq = "\"\"\""
    var inBlock = false
    var inTq = false
    java.nio.file.Files.readAllLines(p).asScala.toSeq.map { line =>
      val continued = inBlock || inTq
      val out = new StringBuilder
      var inQ = false
      var j = 0
      while (j < line.length) {
        if (inBlock) {
          val k = line.indexOf("*/", j)
          if (k < 0) j = line.length else { inBlock = false; j = k + 2 }
        } else if (inTq) {
          val k = line.indexOf(tq, j)
          val end = if (k < 0) line.length else k + 3
          if (strings) out ++= line.substring(j, end) else if (k >= 0) out ++= tq
          inTq = k < 0
          j = end
        } else if (inQ) {
          val c = line(j)
          val step = if (c == '\\') 2 else 1
          if (strings || c == '"') out ++= line.substring(j, math.min(j + step, line.length))
          inQ = c != '"'
          j += step
        } else if (line.startsWith(tq, j)) {
          out ++= tq; inTq = true; j += 3
        } else if (line.startsWith("'\"'", j)) {
          out ++= "'\"'"; j += 3
        } else if (line(j) == '"') {
          out += '"'; inQ = true; j += 1
        } else if (line.startsWith("//", j)) j = line.length
        else if (line.startsWith("/*", j)) { inBlock = true; j += 2 }
        else { out += line(j); j += 1 }
      }
      (out.result(), continued)
    }
  }

  /** Runs every source audit and prints its hits. Exits 1 when any
    * audit has a hit.
    */
  def main(args: Array[String]): Unit = {
    val audits = Seq(
      "rawBroadcastHints" -> rawBroadcastHints(),
      "rawGlobalWindows" -> rawGlobalWindows(),
      "rawVersionedRootIo" -> rawVersionedRootIo(),
      "rawHttpTransport" -> rawHttpTransport(),
      "rawSparkListeners" -> rawSparkListeners(),
      "strayBuildDirs" -> strayBuildDirs(),
      "uncalledPublicDefs" -> uncalledPublicDefs(),
      "moduleCaches" -> moduleCaches())
    audits.foreach {
      case (name, Seq()) => println(s"[audit] $name: clean")
      case (name, hits) => hits.foreach(h => println(s"[audit] $name: $h"))
    }
    if (audits.exists(_._2.nonEmpty)) sys.exit(1)
  }
}
