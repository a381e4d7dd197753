package graft

import graft.scale.Derived
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Source audits, and the derived-state memo's plumbing: LRU order
  * per kind, release on eviction, and fatal-error transparency.
  */
class ToolsSpec extends AnyFunSuite {

  test("no raw broadcast( hints outside GuardedBroadcast (registry audit)") {
    val hints = graft.tools.PlanAudit.rawBroadcastHints()
    assert(hints.isEmpty,
      s"route these through GuardedBroadcast.maybe: ${hints.mkString(", ")}")
  }

  test("no raw Window.orderBy( partition-less windows in main (registry audit)") {
    val hits = graft.tools.PlanAudit.rawGlobalWindows()
    assert(hits.isEmpty,
      "partition-less windows single-task-sort their input — use " +
        s"BoundedWindow.ordered or ExactRank: ${hits.mkString(", ")}")
  }

  test("no versioned-root protocol step outside VersionedRoot and DeltaLog (source audit)") {
    val hits = graft.tools.PlanAudit.rawVersionedRootIo()
    assert(hits.isEmpty,
      "claim, flip and commit through scale/VersionedRoot and " +
        s"scale/DeltaLog: ${hits.mkString(", ")}")
    // the audit sees both shapes it forbids
    val dir = java.nio.file.Files.createTempDirectory("audit_test")
    java.nio.file.Files.write(dir.resolve("Rogue.scala"), Seq(
      "val vp = new Path(s\"$path/VERSION\")",
      "fs.create(new Path(s\"$root/v1.claim\"), false).close()",
      "fs.create(tmp, true)").mkString("\n").getBytes)
    assert(graft.tools.PlanAudit.rawVersionedRootIo(dir.toString).map(
      _.split(':').last) == Seq("1", "2"))
  }

  test("the versioned-root audit also flags a MANIFEST path built outside VersionedRoot") {
    assert(graft.tools.PlanAudit.rawVersionedRootIo().isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("audit_manifest")
    java.nio.file.Files.write(dir.resolve("Carrier.scala"), Seq(
      "val mp = new Path(s\"$root/MANIFEST\")",
      "val units = readManifest(fs, root)").mkString("\n").getBytes)
    assert(graft.tools.PlanAudit.rawVersionedRootIo(dir.toString).map(
      _.split(':').last) == Seq("1"))
  }

  test("no raw HTTP server or client outside SparqlServer and SparqlHttp (source audit)") {
    val hits = graft.tools.PlanAudit.rawHttpTransport()
    assert(hits.isEmpty,
      "serve through bgp/SparqlServer and fetch through bgp/SparqlHttp: " +
        hits.mkString(", "))
    // each home is exempt for its own kind only
    val dir = java.nio.file.Files.createTempDirectory("audit_http")
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(dir.resolve(name), lines.mkString("\n").getBytes)
    write("Rogue.scala",
      "val s = HttpServer.create(new InetSocketAddress(0), 0)",
      "val c = java.net.http.HttpClient.newBuilder().build()",
      "val d = HttpClient.newHttpClient()",
      "val r = HttpRequest.newBuilder(uri)")
    write("SparqlServer.scala",
      "val server = HttpServer.create(addr, 0)",
      "val c = HttpClient.newBuilder().build()")
    write("SparqlHttp.scala",
      "private lazy val client = HttpClient.newBuilder().build()",
      "val s = HttpServer.create(addr, 0)")
    assert(graft.tools.PlanAudit.rawHttpTransport(dir.toString)
      .map(h => h.split('/').last).sorted ==
      Seq("Rogue.scala:1", "Rogue.scala:2", "Rogue.scala:3",
        "SparqlHttp.scala:2", "SparqlServer.scala:2"))
  }

  test("no Spark listener registered outside tools/Profile (source audit)") {
    val hits = Seq("src/main/scala/graft", "src/test/scala/graft")
      .flatMap(graft.tools.PlanAudit.rawSparkListeners)
    assert(hits.isEmpty, s"measure through graft.tools.Profile.of: ${hits.mkString(", ")}")
    // code only: a comment or a string literal naming the call is no hit
    val dir = java.nio.file.Files.createTempDirectory("audit_listeners")
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(dir.resolve(name), lines.mkString("\n").getBytes)
    write("Rogue.scala",
      "spark.sparkContext.addSparkListener(listener)",
      "s2.listenerManager.register(executions)",
      "// spark.sparkContext.addSparkListener(listener)",
      "val doc = \"addSparkListener(\" + s\"listenerManager.register($x)\"",
      "spark.sparkContext.removeSparkListener(listener)")
    write("Profile.scala", "spark.sparkContext.addSparkListener(listener)")
    assert(graft.tools.PlanAudit.rawSparkListeners(dir.toString)
      .map(h => h.split('/').last) == Seq("Rogue.scala:1", "Rogue.scala:2"))
  }

  test("no public def in main that only its own spec calls (caller audit)") {
    val hits = graft.tools.PlanAudit.uncalledPublicDefs()
    assert(hits.isEmpty,
      "delete these with the tests that cover only them, give them a " +
        "main caller, or allowlist them with a reason in " +
        s"PlanAudit.UncalledAllowed: ${hits.mkString(", ")}")
  }

  test("the caller audit flags an uncalled def, not a called or allowlisted one") {
    val dir = java.nio.file.Files.createTempDirectory("audit_callers")
    java.nio.file.Files.write(dir.resolve("Rogue.scala"), Seq(
      "object Rogue {",
      "  /** names orphan and kept, but comments are no use */",
      "  def orphan(x: Int): Int = x + 1",
      "  def used(x: Int): Int = x * 2 // orphan",
      "  def kept(): Unit = ()",
      "  private def hidden(): Int = used(1)",
      "  def main(args: Array[String]): Unit = ()",
      "}",
      "class Host {",
      "  def inClass(): Int = 0",
      "  def nested(): Int = { def inner = 1; inner }",
      "}").mkString("\n").getBytes)
    def audit(allowed: Map[String, String]): Seq[String] =
      graft.tools.PlanAudit.uncalledPublicDefs(dir.toString, Nil, allowed)
        .map(_.split(' ').last)
    assert(audit(Map("Rogue.kept" -> "a support API")) == Seq("Rogue.orphan"))
    assert(audit(Map.empty) == Seq("Rogue.orphan", "Rogue.kept"))
  }

  test("no stray build dirs inside the source WORKTREE (hygiene audit)") {
    val stray = graft.tools.PlanAudit.strayBuildDirs()
    assert(stray.isEmpty,
      "build-artifact dirs inside src/ are untracked (git-invisible) " +
        "leak vectors — delete them and fix the working directory of " +
        s"whatever created them: ${stray.mkString(", ")}")
  }

  test("no module-level mutable caches outside scale/Derived (source audit)") {
    val hits = graft.tools.PlanAudit.moduleCaches()
    assert(hits.isEmpty,
      "keep derived state in scale/Derived under one of its kinds, or " +
        "allowlist the map with a reason in PlanAudit.ModuleCachesAllowed: " +
        hits.mkString(", "))
  }

  test("the module-cache audit flags object maps only, outside its allowlist and Derived") {
    val dir = java.nio.file.Files.createTempDirectory("audit_caches")
    java.nio.file.Files.write(dir.resolve("Rogue.scala"), Seq(
      "object Rogue {",
      "  private val memo =",
      "    new graft.tools.BoundedMemo[String, Int](4)",
      "  val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int]",
      "  private[graft] val byName: TrieMap[String, Int] = TrieMap.empty",
      "  val kept = new java.util.concurrent.ConcurrentHashMap[String, Int]()",
      "  val names = Map(\"a\" -> 1) // mutable.Map",
      "  def local(): Int = { val m = mutable.Map.empty[Int, Int]; m.size }",
      "}",
      "class Host {",
      "  private val perInstance = new java.util.concurrent.ConcurrentHashMap[String, Int]()",
      "}").mkString("\n").getBytes)
    java.nio.file.Files.write(dir.resolve("Derived.scala"), Seq(
      "object Derived {",
      "  private val entries = scala.collection.mutable.LinkedHashMap.empty[Any, Any]",
      "}").mkString("\n").getBytes)
    def audit(allowed: Map[String, String]): Seq[String] =
      graft.tools.PlanAudit.moduleCaches(dir.toString, allowed).map(_.split(' ').last)
    assert(audit(Map("Rogue.kept" -> "a registration table")) ==
      Seq("Rogue.memo", "Rogue.seen", "Rogue.byName"))
    assert(audit(Map.empty) == Seq("Rogue.memo", "Rogue.seen", "Rogue.byName", "Rogue.kept"))
  }

  /** A private memo over one session: every kind capped at `cap`, each
    * released value recorded by `release`.
    */
  private def memo(cap: Int)(onRelease: Any => Unit): (Derived, SparkSession) =
    (new Derived(_ => cap) { override def release(v: Any): Unit = onRelease(v) },
      GraftSession.local("2"))

  test("Derived evicts a kind's least-recently-USED entry, not its first-inserted") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Any]
    val (m, s) = memo(2)(evicted += _)
    val k = Derived.Dataset
    m(s, k, 1)("a")
    m(s, k, 2)("b")
    m[String](s, k, 1)(fail("hit must not rebuild")) // refresh 1
    m(s, k, 3)("c") // cap 2: evict 2 (LRU), keep hot 1
    assert(evicted.toSeq == Seq("b"))
    assert(m[String](s, k, 1)(fail("1 must survive")) == "a")
    assert(m.size(k) == 2)
  }

  test("Derived: churn in one kind never evicts another kind's entry") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Any]
    val (m, s) = memo(2)(evicted += _)
    m(s, Derived.Plan, "orders")("plan")
    m(s, Derived.Guard, "pinned")("guard")
    (1 to 10).foreach(i => m(s, Derived.Dataset, i)(s"d$i"))
    assert(evicted.toSeq == (1 to 8).map(i => s"d$i"))
    assert(m[String](s, Derived.Plan, "orders")(fail("plan entry evicted")) == "plan")
    assert(m[String](s, Derived.Guard, "pinned")(fail("guard entry evicted")) == "guard")
    assert(Seq(Derived.Plan, Derived.Guard, Derived.Dataset).map(m.size) == Seq(1, 1, 2))
    // the same key under another kind is another entry
    assert(m(s, Derived.Plan, 10)("plan10") == "plan10")
    m.clear()
    assert(Seq(Derived.Plan, Derived.Guard, Derived.Dataset).map(m.size) == Seq(0, 0, 0))
    assert(evicted.toSet == (1 to 10).map(i => s"d$i").toSet ++ Set("plan", "guard", "plan10"))
  }

  test("invalidateStale wipes only exact-tag entries, including the stats cache") {
    import java.nio.file.{Files, Paths}
    val spark = GraftSession.local("2")
    val root = Files.createTempDirectory("pstore_test").toString
    def mkDir(name: String): Unit = {
      val p = Paths.get(root, name)
      Files.createDirectories(p)
      Files.write(p.resolve("_SUCCESS"), Array.emptyByteArray)
    }
    // data_sf1 is stale; data_sf10 (a TAG-PREFIX sibling) must survive
    mkDir("data_sf1"); mkDir("data_sf1_sbuckets"); mkDir("data_sf10")
    Files.write(Paths.get(root, "stats_data_sf1.tsv"), "a\t1\n".getBytes)
    Files.write(Paths.get(root, "stats_data_sf10.tsv"), "b\t2\n".getBytes)
    Files.write(Paths.get(root, "data_sf1.version"), "0".getBytes)
    Files.write(Paths.get(root, "data_sf10.version"), "0".getBytes)
    graft.queries.BgpQueries.invalidateStale(spark, "data_sf1", Nil, root)
    assert(!Files.exists(Paths.get(root, "data_sf1")))
    assert(!Files.exists(Paths.get(root, "data_sf1_sbuckets")))
    assert(!Files.exists(Paths.get(root, "stats_data_sf1.tsv")),
      "the measured-cost cache must invalidate with the layouts")
    assert(Files.exists(Paths.get(root, "data_sf10")))
    assert(Files.exists(Paths.get(root, "data_sf10/_SUCCESS")))
    assert(Files.exists(Paths.get(root, "stats_data_sf10.tsv")))
    // marker rewritten to the current format version → second call is a no-op
    assert(Files.exists(Paths.get(root, "data_sf1.version")))
    mkDir("data_sf1")
    graft.queries.BgpQueries.invalidateStale(spark, "data_sf1", Nil, root)
    assert(Files.exists(Paths.get(root, "data_sf1")))
  }

  test("Profile reports every failed query (main exits non-zero on them)") {
    val spark = GraftSession.local("2")
    val out = java.nio.file.Files.createTempDirectory("plans_test")
    val failed = graft.tools.Profile.run(spark, "/root/testdata/sf0.001",
      Seq("no_such_query", "q01_pricing_summary"), reps = 1, Some(out.toString))
    assert(failed == Seq("no_such_query"))
    val plan = java.nio.file.Files.readString(out.resolve("q01_pricing_summary.txt"))
    assert(plan.contains("== Final Plan ==") && plan.contains("isFinalPlan=true"), plan)
    assert(!java.nio.file.Files.exists(out.resolve("no_such_query.txt")))
  }

  test("Profile counts jobs, stages, shuffle bytes and the last execution") {
    import graft.tools.Profile
    val spark = GraftSession.local("2")
    val (rows, one) = Profile.of(spark)(spark.range(10).collect())
    assert(rows.length == 10 && one.jobs == 1, s"jobs ${one.jobs}")
    assert(one.executed.isDefined)
    val (n, shuffled) = Profile.of(spark)(spark.range(100).repartition(4).count())
    assert(n == 100)
    assert(shuffled.stages >= 2 && shuffled.shuffleWriteBytes > 0,
      s"stages ${shuffled.stages}, shuffle bytes ${shuffled.shuffleWriteBytes}")
  }

  test("Derived eviction swallows NonFatal but not fatal errors") {
    val (m, s) = memo(1)(v =>
      if (v == "boom") throw new RuntimeException("nonfatal")
      else if (v == "oom") throw new OutOfMemoryError("fatal"))
    val k = Derived.Dataset
    m(s, k, 1)("boom")
    m(s, k, 2)("ok") // evicts "boom": swallowed
    assert(m.size(k) == 1)
    m(s, k, 3)("oom")
    intercept[OutOfMemoryError] {
      m(s, k, 4)("next") // evicting "oom" must propagate
    }
  }

  test("RootVacuum keeps a dataset's driver-written delta batches and reaps only debris") {
    import java.nio.file.{Files, Paths}
    import graft.bgp.{BgpPlanner, SparqlUpdate, TripleStore}
    import graft.tools.RootVacuum
    val spark = GraftSession.local("2")
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vac-ds").toString
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(
      Seq(("t:1", "name", "one")).toDF("s", "p", "o")), dir)
    // a served endpoint's write-back: a default-graph batch, then a
    // quads batch, each written on the driver (no `_SUCCESS` marker)
    for (op <- Seq("""INSERT DATA { <t:2> <name> "two" }""",
        """INSERT DATA { GRAPH <g:1> { <t:3> <name> "three" } }""")) {
      val prev = TripleStore.fromDatasetParquet(spark, dir)
      val (next, deltas) = SparqlUpdate.applyAllWithDelta(spark, prev, op)
      TripleStore.writeBackDelta(prev, next, dir, deltas)
    }
    val delta = Paths.get(dir, "v0", "delta")
    assert(Files.exists(delta.resolve("default/seq=0")))
    assert(Files.exists(delta.resolve("quads/seq=1")))
    assert(!Files.exists(delta.resolve("default/seq=0/_SUCCESS")))
    def answers: (Set[String], Set[String]) = {
      val st = TripleStore.fromDatasetParquet(spark, dir)
      (BgpPlanner.query(st, "select ?s ?v where { ?s name ?v }")
        .collect().map(_.mkString("|")).toSet,
        BgpPlanner.query(st, "select ?g ?s where { GRAPH ?g { ?s name ?v } }")
          .select("g", "s").collect().map(_.mkString("|")).toSet)
    }
    val before = answers
    assert(before == (Set("t:1|one", "t:2|two"), Set("g:1|t:3")))
    def entries(kind: String) = RootVacuum.inspectEntries(spark, dir)
      .filter(_.kind == kind).map(e => (e.name, e.status))
    assert(entries("delta_batch") == Seq(("seq=0", "complete"), ("seq=1", "complete")))
    assert(entries("lock") == Seq(("seq=0", "held"), ("seq=1", "held")))
    assert(RootVacuum.reap(spark, dir, olderThanMs = 0).isEmpty)
    assert(answers == before)
    // a slot claimed by a writer that died before committing, and a
    // batch written but never renamed into place: both are debris
    assert(delta.resolve("seq=7.lock").toFile.createNewFile())
    Files.createDirectories(delta.resolve("default/.tmp-2"))
    Files.write(delta.resolve("default/.tmp-2/part-0.parquet"), Array[Byte](1))
    assert(entries("lock").contains(("seq=7", "dangling")))
    assert(entries("delta_tmp") == Seq(("default/.tmp-2", "uncommitted")))
    assert(RootVacuum.reap(spark, dir, olderThanMs = 0).map(_.split("/delta/").last)
      .sorted == Seq("default/.tmp-2", "seq=7.lock"))
    assert(!Files.exists(delta.resolve("seq=7.lock")))
    assert(!Files.exists(delta.resolve("default/.tmp-2")))
    assert(answers == before)
  }

  test("RootVacuum labels a stripped holder, never reaps it, and reaps an orphan's units") {
    import java.nio.file.{Files, Paths}
    import graft.bgp.{BgpPlanner, SparqlUpdate, TripleStore}
    import graft.scale.VersionedRoot
    import graft.tools.RootVacuum
    val spark = GraftSession.local("2")
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vac-holder").toString
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(Seq(
      ("t:1", "name", "one"), ("t:1", "size", "s1")).toDF("s", "p", "o")), dir)
    // two flips that each rewrite only `size`: v2 still carries v0's
    // `name`, so v0 expires into a holder of that one partition
    for (v <- Seq("s2", "s3")) {
      val cur = TripleStore.fromDatasetParquet(spark, dir)
      TripleStore.writeDatasetVersioned(SparqlUpdate.applyAll(spark, cur,
        s"""INSERT DATA { <t:2> <size> "$v" }"""), dir)
    }
    def entries = RootVacuum.inspectEntries(spark, dir)
      .map(e => (e.kind, e.name, e.status))
    val holder = RootVacuum.inspectEntries(spark, dir).filter(_.kind == "holder")
    val named = Paths.get(dir, "v0", "default", "p=name")
    assert(holder.map(e => (e.name, e.status)) == Seq(("v0", "held")))
    // the bytes of the named partition (its data files, and at most the
    // checksums and the holder mark beside them)
    def bytes(p: java.nio.file.Path, hidden: Boolean): Long = Files.walk(p)
      .filter(f => Files.isRegularFile(f) &&
        (hidden || !f.getFileName.toString.startsWith(".")))
      .mapToLong(Files.size(_)).sum
    assert(holder.head.bytes >= bytes(named, hidden = false) &&
      holder.head.bytes <= bytes(Paths.get(dir, "v0"), hidden = true))
    assert(!Files.exists(Paths.get(dir, "v0", "default", "p=size")))
    // a version written but never flipped, with units of its own
    VersionedRoot.claimVersion(spark, dir, 3)
    TripleStore.writeDataset(TripleStore.fromTriples(
      Seq(("t:9", "name", "nine")).toDF("s", "p", "o")), s"$dir/v3")
    assert(entries.contains(("version", "v3", "orphaned")))
    val reaped = RootVacuum.reap(spark, dir, olderThanMs = 0)
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
    assert(reaped.sorted == Seq("v3", "v3.claim"))
    assert(!Files.exists(Paths.get(dir, "v3")) && Files.isDirectory(named))
    assert(entries.filter(_._1 != "claim").toSet == Set(("version", "v1", "retained"),
      ("version", "v2", "current"), ("holder", "v0", "held")))
    assert(BgpPlanner.query(TripleStore.fromDatasetParquet(spark, dir),
      "select ?s ?v where { ?s name ?v }").collect().map(_.getString(0)).toSeq ==
      Seq("t:1"))
  }

  test("RootVacuum's age guard keeps a young dangling lock and a young orphaned claim") {
    import java.nio.file.{Files, Paths}
    import graft.scale.VersionedRoot
    import graft.tools.RootVacuum
    val spark = GraftSession.local("2")
    val dir = Files.createTempDirectory("graft-vac-age").toString
    VersionedRoot.claimVersion(spark, dir, 0)
    Files.createDirectories(Paths.get(dir, "v0", "delta"))
    VersionedRoot.flipPointer(spark, dir, 0, keepVersions = 2)
    val lock = Paths.get(dir, "v0", "delta", "seq=0.lock")
    val claim = Paths.get(dir, "v3.claim")
    assert(lock.toFile.createNewFile() && claim.toFile.createNewFile())
    assert(RootVacuum.inspectEntries(spark, dir).map(e => (e.kind, e.name, e.status))
      .toSet == Set(("version", "v0", "current"), ("claim", "v0", "held"),
        ("claim", "v3", "orphaned"), ("lock", "seq=0", "dangling")))
    assert(RootVacuum.reap(spark, dir).isEmpty)
    assert(Files.exists(lock) && Files.exists(claim))
    assert(RootVacuum.reap(spark, dir, olderThanMs = 0).size == 2)
    assert(!Files.exists(lock) && !Files.exists(claim))
  }
}
