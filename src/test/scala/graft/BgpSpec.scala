package graft

import graft.bgp._
import graft.bgp.Sparql._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BgpSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  def tinyStore: TripleStore = TripleStore.fromTriples(
    Seq(
      ("prof:0", "worksFor", "dept:0"),
      ("prof:1", "worksFor", "dept:0"),
      ("prof:2", "worksFor", "dept:1"),
      ("prof:0", "name", "FullProfessor0"),
      ("prof:1", "name", "FullProfessor1"),
      ("prof:0", "email", "p0@u.edu"),
      ("prof:1", "email", "p1@u.edu"),
      ("stud:0", "memberOf", "dept:0"),
      ("stud:0", "advisor", "prof:0")
    ).toDF("s", "p", "o"))

  test("encode fails loudly on a dictionary id collision (birthday-bound audit)") {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    // test-only id fn: hash mod 2 — guaranteed collisions on the tiny
    // vocabulary. The audit must name colliding lexical forms, not
    // return a store that silently joins distinct terms as one.
    val e = intercept[IllegalStateException](
      TripleStore.encode(tinyStore, v => pmod(xxhash64(v), lit(2L))))
    assert(e.getMessage.contains("collision"))
    assert(e.getMessage.contains(" vs "))
    // and the production hash passes the audit on the same store
    assert(TripleStore.encode(tinyStore).encoded)
  }

  test("sequential dictionary: dense ids, probe-resolved constants, differential results") {
    val seq = TripleStore.encodeSequential(tinyStore, bands = 8)
    assert(seq.encoded && seq.sequential)
    // dense 1..N, collision-free by construction
    val ids = seq.dict.get.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.head == 1L && ids.last == ids.length.toLong &&
      ids.distinct.length == ids.length)
    // differential vs the string store across the core surface
    val qs = Seq(
      "select ?p ?d where { ?p worksFor ?d . ?p name ?n }",
      "select ?p where { ?p worksFor dept:0 . OPTIONAL { ?s advisor ?p } }",
      "select ?p where { ?p worksFor ?d MINUS { ?p email \"p0@u.edu\" } }",
      "select ?p where { ?p worksFor ?d . FILTER (?d = dept:1) }")
    for (q <- qs) {
      val want = BgpPlanner.query(tinyStore, q).collect().map(_.toSeq).toSet
      val got = BgpPlanner.query(seq, q).collect().map(_.toSeq).toSet
      assert(got == want, q)
    }
    // a constant the dict has never seen matches nothing (id-0 probe)
    assert(BgpPlanner.query(seq,
      "select ?p where { ?p worksFor dept:404 }").count() == 0)
    // surfaces that re-encode computed columns ride the value→id dict
    // join (round 9): updates work on the dense-id store, with new
    // terms taking ids past max(id)
    val upd = SparqlUpdate.applyAll(spark, seq,
      "INSERT DATA { <prof:9> worksFor <dept:2> }")
    assert(upd.sequential)
    assert(BgpPlanner.query(upd,
      "select ?p where { ?p worksFor dept:2 }")
      .collect().map(_.getString(0)).toSeq == Seq("prof:9"))
    // dense invariant survives the growth: ids stay 1..N distinct
    val grownIds = upd.dict.get.select("id").collect()
      .map(_.getLong(0)).sorted
    assert(grownIds.head == 1L &&
      grownIds.last == grownIds.length.toLong &&
      grownIds.distinct.length == grownIds.length)
  }

  test("100-constant VALUES plans with one batched dict scan, not per-constant probe jobs") {
    def mkq(n: Int) = "select ?p where { ?p worksFor ?d . VALUES ?d { " +
      (0 until n).map(i => s"dept:$i").mkString(" ") + " } }"
    // plan-time Spark jobs issued while planning `q` on a FRESH
    // sequential store (fresh: the store-level constant cache must
    // start cold both times for the counts to compare)
    def planJobs(n: Int): (Long, org.apache.spark.sql.DataFrame) = {
      val seq = TripleStore.encodeSequential(tinyStore, bands = 8)
      seq.dict.get.count() // materialize the store outside the count
      seq.slices.values.foreach(_.count())
      val jobs = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.sql.graftshim.GraftShim.waitListeners(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        val d = BgpPlanner.query(seq, mkq(n))
        org.apache.spark.sql.graftshim.GraftShim.waitListeners(spark)
        (jobs.get(), d)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (base, _) = planJobs(2)
    val (wide, df) = planJobs(100)
    // before the batch prime the 100-constant plan issued ~98 more
    // jobs than the 2-constant one (one take(1) dict probe per
    // constant); primed, both resolve their whole set in one isin scan
    assert(wide <= base + 2,
      s"plan-time jobs: $wide vs $base for 2 constants — constant " +
        "priming regressed to per-constant probes")
    assert(df.collect().map(_.getString(0)).toSet ==
      Set("prof:0", "prof:1", "prof:2"))
  }

  test("sequential store carries updates, SERVICE, subqueries, and multi-var VALUES") {
    val seq = TripleStore.encodeSequential(tinyStore, bands = 8)
    // DELETE/INSERT with a computed (BIND) template var: the inserted
    // term gets a fresh dense id and decodes on read-back
    val st = SparqlUpdate.applyAll(spark, seq,
      """INSERT { ?p label ?l } WHERE {
        | ?p name ?n . BIND (CONCAT(?n, "!") AS ?l) }""".stripMargin)
    assert(BgpPlanner.query(st, "select ?l where { ?p label ?l }")
      .collect().map(_.getString(0)).toSet ==
      Set("FullProfessor0!", "FullProfessor1!"))
    // DELETE WHERE on the sequential store
    val st2 = SparqlUpdate.applyAll(spark, seq,
      "DELETE WHERE { ?p email ?e }")
    assert(BgpPlanner.query(st2, "select ?p ?e where { ?p email ?e }")
      .count() == 0)
    // SERVICE federation with the sequential store as the OUTER store
    ServiceRegistry.register("graft://depts9", TripleStore.fromTriples(
      Seq(("dept:0", "deptname", "Mathematics"),
        ("dept:1", "deptname", "Physics")).toDF("s", "p", "o")))
    assert(BgpPlanner.query(seq,
      """select ?p ?dn where { ?p worksFor ?d .
        | SERVICE <graft://depts9> { ?d deptname ?dn } }""".stripMargin)
      .collect().map(r => (r.getString(1), r.getString(0))).toSet ==
      Set(("prof:0", "Mathematics"), ("prof:1", "Mathematics"),
        ("prof:2", "Physics")))
    // subquery: aggregate joins back into the outer solution
    val subQ =
      """select ?d ?n where {
        | ?p worksFor ?d .
        | { select ?d (count(?q) as ?n) where { ?q worksFor ?d }
        |   group by ?d } }""".stripMargin
    assert(BgpPlanner.query(seq, subQ).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      BgpPlanner.query(tinyStore, subQ).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet)
    // multi-var VALUES restricts via the dict join (unknown rows drop)
    val mv =
      """select ?p ?d where { ?p worksFor ?d .
        | VALUES (?p ?d) { (prof:0 dept:0) (prof:7 dept:7) } }"""
        .stripMargin
    assert(BgpPlanner.query(seq, mv).collect()
      .map(r => (r.getString(1), r.getString(0))).toSet ==
      Set(("prof:0", "dept:0")))
    // MINUS over a lexical (service-only) column re-enters id space
    // through the dict — the r8 guard is now a working path
    val minusQ =
      """select ?p ?d ?dn where {
        | ?p worksFor ?x .
        | SERVICE <graft://depts9> { ?d deptname ?dn }
        | MINUS { ?z worksFor ?d } }""".stripMargin
    assert(BgpPlanner.query(seq, minusQ).count() ==
      BgpPlanner.query(tinyStore, minusQ).count())
  }

  test("encoded-insert collision audit fails loudly through the delta path") {
    import org.apache.spark.sql.functions._
    val enc = TripleStore.encode(tinyStore)
    // poison the standing dict: the id of the about-to-be-inserted term
    // already maps to a DIFFERENT lexical value — the delta-scoped
    // audit (one id-probe join, not a vocabulary groupBy) must refuse
    val poisoned = enc.copy(dict = Some(enc.dict.get.unionByName(
      spark.range(1).select(xxhash64(lit("prof:9")).as("id"),
        lit("someone-else").as("value"),
        lit(null).cast("string").as("dt"),
        lit(null).cast("string").as("lang")))))
    val e = intercept[IllegalStateException](SparqlUpdate.applyAll(
      spark, poisoned, "INSERT DATA { <prof:9> worksFor <dept:2> }"))
    assert(e.getMessage.contains("collision"))
    // the non-colliding insert on the clean store still passes
    assert(SparqlUpdate.applyAll(spark, enc,
      "INSERT DATA { <prof:9> worksFor <dept:2> }").encoded)
  }

  test("sequential store persists and reloads with the right id regime") {
    // the `sequential` flag is session state, not file state: the
    // reload path re-derives it from the dict's dense-id signature,
    // because attaching a dense dict as hash-id would silently resolve
    // every query constant to the wrong id
    val seq = TripleStore.encodeSequential(tinyStore, bands = 8)
    val dir = java.nio.file.Files.createTempDirectory("seqstore").toString
    TripleStore.writePartitioned(seq, s"$dir/enc")
    TripleStore.writeDict(seq.dict.get, s"$dir/dict", "graft_test_seqdict")
    val dict = TripleStore.registerDict(spark, s"$dir/dict", "graft_test_seqdict")
    assert(TripleStore.isSequentialDict(dict))
    assert(!TripleStore.isSequentialDict(TripleStore.encode(tinyStore).dict.get))
    val reloaded = TripleStore.fromPartitionedParquet(spark, s"$dir/enc")
      .copy(dict = Some(dict),
        sequential = TripleStore.isSequentialDict(dict))
    val q = "select ?p ?d where { ?p worksFor ?d . FILTER (?d = dept:0) }"
    assert(BgpPlanner.query(reloaded, q).collect().map(_.toSeq).toSet ==
      BgpPlanner.query(tinyStore, q).collect().map(_.toSeq).toSet)
  }

  test("SPARQL Update: INSERT DATA is set-semantic and creates new slices") {
    val st0 = tinyStore
    val upd = SparqlUpdate.applyAll(spark, st0,
      """INSERT DATA { <prof:9> worksFor <dept:2> .
        | <prof:9> name "FullProfessor9" } ;
        |INSERT DATA { <prof:9> worksFor <dept:2> . <prof:0> likes <prof:9> }"""
        .stripMargin)
    def rows(st: TripleStore, q: String) =
      BgpPlanner.query(st, q).collect().map(_.toSeq).toSet
    // the re-inserted triple is a no-op (RDF graphs are sets)
    assert(upd.slices("worksFor").filter("s = 'prof:9'").count() == 1)
    // the new predicate got its own slice and is queryable
    assert(rows(upd, "select ?x where { prof:0 likes ?x }") ==
      Set(Seq("prof:9")))
    assert(rows(upd, "select ?n where { ?p worksFor dept:2 . ?p name ?n }") ==
      Set(Seq("FullProfessor9")))
    // the source store is untouched (functional update)
    assert(st0.slices("worksFor").filter("s = 'prof:9'").count() == 0)
    // a default-graph update must leave NAMED graphs standing (§3.1
    // scope): quads are graph data, not a derived layout
    import spark.implicits._
    val withQuads = tinyStore.copy(quads = Some(
      Seq(("g:x", "prof:0", "name", "FullProfessor0")).toDF("g", "s", "p", "o")))
    val upd2 = SparqlUpdate.applyAll(spark, withQuads,
      "INSERT DATA { <prof:9> worksFor <dept:2> } ; " +
        "DELETE DATA { <prof:0> worksFor <dept:0> }")
    assert(upd2.quads.isDefined && upd2.quads.get.count() == 1)
  }

  test("SPARQL Update: DELETE DATA removes exactly the named triples") {
    val upd = SparqlUpdate.applyAll(spark, tinyStore,
      """DELETE DATA { <prof:0> worksFor <dept:0> .
        | <prof:7> worksFor <dept:0> . <stud:0> ghost <dept:9> }""".stripMargin)
    assert(upd.slices("worksFor").count() == 2) // prof:1, prof:2 remain
    // absent triple and absent predicate: both no-ops, no new slices
    assert(!upd.slices.contains("ghost"))
  }

  test("SPARQL Update: DELETE WHERE instantiates every pattern per solution") {
    // remove dept:0 workers AND their names in one group
    val upd = SparqlUpdate.applyAll(spark, tinyStore,
      "DELETE WHERE { ?p worksFor <dept:0> . ?p name ?n }")
    // prof:0/prof:1 (dept:0 + named) lose both triples; prof:2 stays
    assert(upd.slices("worksFor").collect().map(_.getString(0)).toSeq ==
      Seq("prof:2"))
    assert(upd.slices("name").count() == 0)
    // emails were not in the template → untouched
    assert(upd.slices("email").count() == 2)
  }

  test("SPARQL Update on the ENCODED store: id-space apply + dict growth") {
    val enc = TripleStore.encode(tinyStore)
    val upd = SparqlUpdate.applyAll(spark, enc,
      """INSERT DATA { <prof:9> name "FullProfessor9" } ;
        |DELETE WHERE { ?p worksFor <dept:0> }""".stripMargin)
    assert(upd.encoded)
    def rows(q: String) =
      BgpPlanner.query(upd, q).collect().map(_.toSeq).toSet
    // the inserted term decodes through the grown dict
    assert(rows("select ?n where { prof:9 name ?n }") ==
      Set(Seq("FullProfessor9")))
    // the deletion matched in id space
    assert(rows("select ?p where { ?p worksFor ?d }") == Set(Seq("prof:2")))
  }

  test("SPARQL Update: DELETE/INSERT WHERE migrates edges in one op") {
    val upd = SparqlUpdate.applyAll(spark, tinyStore,
      """DELETE { ?p worksFor ?d } INSERT { ?d employs ?p }
        |WHERE { ?p worksFor ?d }""".stripMargin)
    assert(upd.slices("worksFor").count() == 0)
    val employs = upd.slices("employs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(employs == Set(("dept:0", "prof:0"), ("dept:0", "prof:1"),
      ("dept:1", "prof:2")))
    // deletes bind against the ORIGINAL store even when the insert
    // writes to a slice the where-group reads — and an unbound
    // template var is rejected at parse time
    intercept[IllegalArgumentException](SparqlUpdate.parse(
      "DELETE { ?p worksFor ?x } WHERE { ?p worksFor ?d }"))
  }

  test("SPARQL Update: CLEAR / ADD / COPY / MOVE graph management") {
    import spark.implicits._
    def quadStore(enc: Boolean): TripleStore = {
      val base = if (enc) TripleStore.encode(tinyStore) else tinyStore
      // quad values reuse the tinyStore vocabulary so the encoded
      // store's dict can decode them (quadsFor's invariant)
      val q = Seq(("g:a", "prof:0", "name", "FullProfessor0"),
        ("g:a", "prof:1", "name", "FullProfessor1"),
        ("g:b", "prof:2", "name", "p1@u.edu")).toDF("g", "s", "p", "o")
      base.copy(quads = Some(
        if (enc) q.select(org.apache.spark.sql.functions.xxhash64($"g").as("g"),
          org.apache.spark.sql.functions.xxhash64($"s").as("s"), $"p",
          org.apache.spark.sql.functions.xxhash64($"o").as("o"))
        else q))
    }
    for (enc <- Seq(false, true)) {
      val st = quadStore(enc)
      def names(st2: TripleStore, g: String) =
        BgpPlanner.query(st2,
          s"select ?nm where { GRAPH <$g> { ?p name ?nm } }")
          .collect().map(_.getString(0)).toSet
      // MOVE: source emptied, target replaced; the minted graph name
      // decodes on the encoded store (dict growth)
      val moved = SparqlUpdate.applyAll(spark, st,
        "MOVE GRAPH <g:a> TO GRAPH <g:arch>")
      assert(names(moved, "g:arch") ==
        Set("FullProfessor0", "FullProfessor1"), s"enc=$enc")
      assert(names(moved, "g:a").isEmpty, s"enc=$enc")
      // ADD unions with set semantics (re-adding changes nothing)
      val added = SparqlUpdate.applyAll(spark, moved,
        "ADD GRAPH <g:b> TO GRAPH <g:arch> ; ADD GRAPH <g:b> TO GRAPH <g:arch>")
      assert(names(added, "g:arch") ==
        Set("FullProfessor0", "FullProfessor1", "p1@u.edu"), s"enc=$enc")
      assert(added.quads.get.count() == 4, s"enc=$enc") // 3 + 1 copy
      // COPY replaces the target outright
      val copied = SparqlUpdate.applyAll(spark, added,
        "COPY GRAPH <g:b> TO GRAPH <g:arch>")
      assert(names(copied, "g:arch") == Set("p1@u.edu"), s"enc=$enc")
      // CLEAR GRAPH drops one graph; CLEAR DEFAULT empties the slices
      // but leaves named graphs standing
      val cleared = SparqlUpdate.applyAll(spark, copied,
        "CLEAR GRAPH <g:b> ; CLEAR DEFAULT")
      assert(names(cleared, "g:arch") == Set("p1@u.edu"), s"enc=$enc")
      assert(names(cleared, "g:b").isEmpty, s"enc=$enc")
      assert(cleared.slices("name").count() == 0, s"enc=$enc")
    }
  }

  test("SPARQL Update: LOAD ingests an N-Triples file into a named graph") {
    val dir = java.nio.file.Files.createTempDirectory("upd_load")
    val nt = dir.resolve("data.nt")
    java.nio.file.Files.writeString(nt,
      "<prof:9> <name> \"FullProfessor0\" .\n" +
        "<prof:9> <name> \"FullProfessor0\" .\n" + // dup line: set semantics
        "<prof:8> <name> \"FullProfessor1\" .\n")
    for (enc <- Seq(false, true)) {
      val base = if (enc) TripleStore.encode(tinyStore) else tinyStore
      val upd = SparqlUpdate.applyAll(spark, base,
        s"LOAD <$nt> INTO GRAPH <g:loaded>")
      val got = BgpPlanner.query(upd,
        "select ?p ?nm where { GRAPH <g:loaded> { ?p name ?nm } }")
        .select("p", "nm").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("prof:9", "FullProfessor0"),
        ("prof:8", "FullProfessor1")), s"enc=$enc")
      // loaded SUBJECTS are new vocabulary: on the encoded store they
      // decode only because LOAD grew the dict
      assert(upd.quads.get.count() == 2, s"enc=$enc")
    }
  }

  test("SPARQL Update: ground DELETE WHERE degenerates to DELETE DATA") {
    val ops = SparqlUpdate.parse(
      "DELETE WHERE { <prof:0> worksFor <dept:0> }")
    assert(ops == Seq(SparqlUpdate.DeleteData(
      Seq(("prof:0", "worksFor", "dept:0")))))
    intercept[IllegalArgumentException](
      SparqlUpdate.parse("INSERT DATA { ?v worksFor <dept:0> }"))
    // DEFAULT is a legal §3.2.5 endpoint since round 8; a malformed
    // target still rejects
    assert(SparqlUpdate.parse("COPY DEFAULT TO GRAPH <g>") ==
      Seq(SparqlUpdate.GraphOp("COPY", None, Some("g"))))
    intercept[IllegalArgumentException](
      SparqlUpdate.parse("COPY DEFAULT TO NOWHERE"))
  }

  test("SERVICE federates to a registered store on both encodings") {
    import spark.implicits._
    // the "remote" endpoint: department metadata the main store lacks
    ServiceRegistry.register("graft://depts", TripleStore.fromTriples(
      Seq(("dept:0", "deptname", "Mathematics"),
        ("dept:1", "deptname", "Physics"),
        ("dept:9", "deptname", "Unstaffed")).toDF("s", "p", "o")))
    val q =
      """select ?p ?dn where {
        | ?p worksFor ?d .
        | SERVICE <graft://depts> { ?d deptname ?dn } }""".stripMargin
    for (st <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
      val rows = BgpPlanner.query(st, q).select("p", "dn").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(
        ("prof:0", "Mathematics"), ("prof:1", "Mathematics"),
        ("prof:2", "Physics")), s"encoded=${st.encoded}")
    }
    // service-ONLY values (dept names) never entered the encoded
    // store's dictionary — the lexical path above is what made the
    // encoded run return them verbatim. An unregistered endpoint
    // fails loudly:
    intercept[IllegalArgumentException](BgpPlanner.query(tinyStore,
      "select ?x where { SERVICE <graft://nowhere> { ?x deptname ?y } }"))
  }

  test("SERVICE bodies are full groups: FILTER and OPTIONAL inside the block") {
    import spark.implicits._
    ServiceRegistry.register("graft://depts4", TripleStore.fromTriples(
      Seq(("dept:0", "deptname", "Mathematics"),
        ("dept:1", "deptname", "Physics"),
        ("dept:0", "head", "prof:0")).toDF("s", "p", "o")))
    for (st <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
      // FILTER evaluates REMOTELY, inside the block's own plan
      val f = BgpPlanner.query(st,
        """select ?p ?dn where {
          | ?p worksFor ?d .
          | SERVICE <graft://depts4> { ?d deptname ?dn .
          |   FILTER (?dn = "Physics") } }""".stripMargin)
        .select("p").collect().map(_.getString(0)).toSet
      assert(f == Set("prof:2"), s"encoded=${st.encoded}")
      // OPTIONAL inside the block: unmatched heads come back unbound
      val o = BgpPlanner.query(st,
        """select ?d ?h where {
          | ?p worksFor ?d .
          | SERVICE <graft://depts4> { ?d deptname ?dn .
          |   OPTIONAL { ?d head ?h } } }""".stripMargin)
        .select("d", "h").distinct().collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(o == Set(("dept:0", Some("prof:0")), ("dept:1", None)),
        s"encoded=${st.encoded}")
    }
  }

  test("SERVICE SILENT turns endpoint failure into the empty solution (§2.3)") {
    // outer patterns pass through unrestricted when the SILENT block's
    // endpoint is unreachable…
    val q =
      """select ?p ?d where {
        | ?p worksFor ?d .
        | SERVICE SILENT <graft://unreachable> { ?d deptname ?dn } }"""
        .stripMargin
    for (st <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
      assert(BgpPlanner.query(st, q).count() == 3, s"encoded=${st.encoded}")
    }
    // …a standalone SILENT block degenerates to the single empty
    // solution: one row, all projected vars unbound
    val alone = BgpPlanner.query(tinyStore,
      "select ?x ?y where { SERVICE SILENT <graft://unreachable> { ?x deptname ?y } }")
      .collect()
    assert(alone.length == 1 && alone.head.isNullAt(0) && alone.head.isNullAt(1))
    // non-SILENT still fails loudly
    intercept[IllegalArgumentException](BgpPlanner.query(tinyStore,
      "select ?x where { SERVICE <graft://unreachable> { ?x deptname ?y } }"))
  }

  test("federated SERVICE runs as a bound join: remote scans are seed-restricted") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    ServiceRegistry.register("graft://depts3", TripleStore.fromTriples(
      Seq(("dept:0", "deptname", "Mathematics"),
        ("dept:1", "deptname", "Physics"),
        ("dept:9", "deptname", "Unstaffed")).toDF("s", "p", "o")))
    val df = BgpPlanner.query(tinyStore,
      """select ?p ?dn where {
        | ?p worksFor ?d .
        | SERVICE <graft://depts3> { ?d deptname ?dn } }""".stripMargin)
    // the remote deptname scan must semi-join the outer ?d bindings
    // BEFORE the block's result joins back — the VALUES-injection
    // plan shape (no full remote materialization)
    val semis = df.queryExecution.optimizedPlan.collect {
      case j @ Join(_, _, LeftSemi, _, _) => j
    }
    assert(semis.nonEmpty, "expected a bound-join LeftSemi restriction " +
      "on the service-side scan:\n" + df.queryExecution.optimizedPlan)
    // and the result is unchanged
    assert(df.select("p", "dn").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("prof:0", "Mathematics"), ("prof:1", "Mathematics"),
        ("prof:2", "Physics")))
    // ENCODED remote endpoint: the seed re-encodes into the remote's
    // id space (xxhash64 of the decoded bindings) and the restriction
    // still holds; with an encoded OUTER store the seed additionally
    // decodes through the outer dict first
    ServiceRegistry.register("graft://depts3enc", TripleStore.encode(
      TripleStore.fromTriples(
        Seq(("dept:0", "deptname", "Mathematics"),
          ("dept:1", "deptname", "Physics"),
          ("dept:9", "deptname", "Unstaffed")).toDF("s", "p", "o"))))
    for (st <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
      val df2 = BgpPlanner.query(st,
        """select ?p ?dn where {
          | ?p worksFor ?d .
          | SERVICE <graft://depts3enc> { ?d deptname ?dn } }""".stripMargin)
      assert(df2.queryExecution.optimizedPlan.collect {
        case j @ Join(_, _, LeftSemi, _, _) => j
      }.nonEmpty, s"encoded remote seed missing, outer=${st.encoded}")
      assert(df2.select("p", "dn").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet ==
        Set(("prof:0", "Mathematics"), ("prof:1", "Mathematics"),
          ("prof:2", "Physics")), s"outer encoded=${st.encoded}")
    }
  }

  /** A raw JDK `HttpServer` on an ephemeral port whose `/sparql`
    * context answers every request with `handler`, and its endpoint
    * URL. It turns TCP_NODELAY on first, as the engine's session does:
    * the JDK reads the switch once per JVM, at its first `HttpServer`,
    * so a mock started before any session would leave every later
    * server in this JVM stalling on delayed ACKs.
    */
  private def mockEndpoint(handler: com.sun.net.httpserver.HttpExchange => Unit)
      : (com.sun.net.httpserver.HttpServer, String) = {
    GraftSession.tcpNoDelay()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/sparql", ex => handler(ex))
    server.start()
    (server, s"http://localhost:${server.getAddress.getPort}/sparql")
  }

  test("SERVICE over HTTP speaks the SPARQL protocol with VALUES bound-join injection") {
    val received = new java.util.concurrent.atomic.AtomicReference[String]("")
    val method = new java.util.concurrent.atomic.AtomicReference[String]("")
    val (server, ep) = mockEndpoint { ex =>
      method.set(ex.getRequestMethod)
      val raw =
        if (ex.getRequestMethod == "POST")
          new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        else ex.getRequestURI.getRawQuery
      received.set(java.net.URLDecoder.decode(
        raw.stripPrefix("query="), "UTF-8"))
      val json =
        """{"head":{"vars":["d","dn"]},"results":{"bindings":[
          |{"d":{"type":"uri","value":"dept:0"},
          | "dn":{"type":"literal","value":"Mathematics"}},
          |{"d":{"type":"uri","value":"dept:1"},
          | "dn":{"type":"literal","value":"Physics"}}]}}""".stripMargin
      val b = json.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type",
        "application/sparql-results+json")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    try {
      for (st <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
        val rows = BgpPlanner.query(st,
          s"""select ?p ?dn where {
             | ?p worksFor ?d .
             | SERVICE <$ep> { ?d deptname ?dn } }""".stripMargin)
          .select("p", "dn").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        assert(rows == Set(
          ("prof:0", "Mathematics"), ("prof:1", "Mathematics"),
          ("prof:2", "Physics")), s"encoded=${st.encoded}")
        // the request that went over the wire carries the block AND the
        // outer bindings as a VALUES clause — the bound join is in the
        // protocol, not just the local plan
        val sent = received.get
        assert(sent.contains("deptname"), sent)
        assert(sent.contains("VALUES (?d)"), sent)
        assert(sent.contains("<dept:0>") && sent.contains("<dept:1>"), sent)
      }
      assert(method.get == "GET") // small binding sets ride GET
      // a WIDE binding set exceeds the GET URL cap and rides the
      // protocol's POST arm (§2.1.2) with the same VALUES injection
      import spark.implicits._
      val wide = TripleStore.fromTriples(
        (0 until 400).map(i => (s"prof:$i", "worksFor", s"dept:$i"))
          .toDF("s", "p", "o"))
      BgpPlanner.query(wide,
        s"select ?p ?dn where { ?p worksFor ?d . " +
          s"SERVICE <$ep> { ?d deptname ?dn } }").count()
      assert(method.get == "POST", received.get.take(100))
      assert(received.get.contains("VALUES (?d)"))
      // SILENT on a dead endpoint: outer solutions pass through
      assert(BgpPlanner.query(tinyStore,
        "select ?p ?d where { ?p worksFor ?d . " +
          "SERVICE SILENT <http://localhost:9/sparql> { ?d deptname ?x } }")
        .count() == 3)
      // non-SILENT on a dead endpoint fails loudly
      intercept[Exception](BgpPlanner.query(tinyStore,
        "select ?p where { ?p worksFor ?d . " +
          "SERVICE <http://localhost:9/sparql> { ?d deptname ?x } }")
        .count())
    } finally server.stop(0)
  }

  test("SERVICE-only vars survive MINUS / NOT EXISTS / VALUES on the encoded store") {
    import spark.implicits._
    // remote binds ?d AND a service-only ?dn; the negations share ?d
    // with the service block ONLY (no outer pattern binds ?d to the
    // planner's eye inside the negation) — on the encoded store the
    // sub-relations are id-space and the service columns are lexical,
    // so the join must hash the lexical side or silently no-op
    ServiceRegistry.register("graft://depts2", TripleStore.fromTriples(
      Seq(("dept:0", "deptname", "Mathematics"),
        ("dept:1", "deptname", "Physics")).toDF("s", "p", "o")))
    val base =
      """select ?p ?d ?dn where {
        | ?p worksFor ?x .
        | SERVICE <graft://depts2> { ?d deptname ?dn } """.stripMargin
    for (st <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
      // MINUS removes dept:0 solutions (stud:0 is a member of dept:0)
      val m = BgpPlanner.query(st,
          base + "MINUS { stud:0 memberOf ?d } }")
        .select("d").distinct().collect().map(_.getString(0)).toSet
      assert(m == Set("dept:1"), s"MINUS encoded=${st.encoded}")
      // NOT EXISTS: same shape through the semi/anti path
      val ne = BgpPlanner.query(st,
          base + "FILTER NOT EXISTS { stud:0 memberOf ?d } }")
        .select("d").distinct().collect().map(_.getString(0)).toSet
      assert(ne == Set("dept:1"), s"NOT EXISTS encoded=${st.encoded}")
      // multi-var VALUES restricting a service-only lexical var joins
      // on the literal, not a mismatched hash
      val vt = BgpPlanner.query(st,
          base + "VALUES (?dn) { (\"Physics\") } }")
        .select("d", "dn").distinct().collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(vt == Set(("dept:1", "Physics")), s"VALUES encoded=${st.encoded}")
    }
  }

  test("encoded INSERT DATA: a NEW predicate decodes under a variable-predicate read") {
    val upd = SparqlUpdate.applyAll(spark, TripleStore.encode(tinyStore),
      "INSERT DATA { <prof:9> mentors <stud:0> }")
    // ?p at the predicate position binds xxhash64('mentors') from the
    // union view and must decode through the grown dict — before the
    // fix the dict grew only s/o terms and ?p decoded to NULL
    val rows = BgpPlanner.query(upd,
        "select ?p ?o where { prof:9 ?p ?o }")
      .collect().map(r => (r.getAs[String]("p"), r.getAs[String]("o"))).toSet
    assert(rows == Set(("mentors", "stud:0")))
    // same through the Modify path: the insert template's predicate is
    // new vocabulary
    val upd2 = SparqlUpdate.applyAll(spark, TripleStore.encode(tinyStore),
      "INSERT { ?d staffs ?p } WHERE { ?p worksFor ?d }")
    val rows2 = BgpPlanner.query(upd2,
        "select ?q where { dept:1 ?q prof:2 }")
      .collect().map(_.getString(0)).toSet
    assert(rows2 == Set("staffs"))
  }

  test("GRAPH-scoped DATA updates target the quads relation (both encodings)") {
    for (enc <- Seq(false, true)) {
      val base = if (enc) TripleStore.encode(tinyStore) else tinyStore
      val st = SparqlUpdate.applyAll(spark, base,
        """INSERT DATA { GRAPH <g:a> { <prof:5> role "dean" .
          |  <prof:6> role "chair" } <prof:5> likes <prof:6> } ;
          |DELETE DATA { GRAPH <g:a> { <prof:6> role "chair" } }"""
          .stripMargin)
      def rows(q: String) =
        BgpPlanner.query(st, q).collect().map(_.toSeq).toSet
      // named-graph triples live in quads; the re-read decodes the
      // inserted vocabulary (incl. the graph name) on the encoded store
      assert(rows("select ?p ?r where { GRAPH <g:a> { ?p role ?r } }") ==
        Set(Seq("prof:5", "dean")), s"encoded=$enc")
      // the mixed DATA block's unscoped triple landed in the default
      // graph's slices, not the quads
      assert(rows("select ?x where { prof:5 likes ?x }") ==
        Set(Seq("prof:6")), s"encoded=$enc")
    }
  }

  test("GRAPH-scoped templates, WITH, and USING scope §3.1.3 updates") {
    def rows(st: TripleStore, q: String) =
      BgpPlanner.query(st, q).select("p", "d").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    // archive the default graph's worksFor edges into a named graph
    val st1 = SparqlUpdate.applyAll(spark, tinyStore,
      "INSERT { GRAPH <g:arch> { ?p worksFor ?d } } WHERE { ?p worksFor ?d }")
    assert(rows(st1,
      "select ?p ?d where { GRAPH <g:arch> { ?p worksFor ?d } }") ==
      Set(("prof:0", "dept:0"), ("prof:1", "dept:0"),
        ("prof:2", "dept:1")))
    // USING: the WHERE group reads the named graph; the unscoped insert
    // template writes the DEFAULT graph
    val st2 = SparqlUpdate.applyAll(spark, st1,
      "INSERT { ?d staff ?p } USING <g:arch> WHERE { ?p worksFor ?d }")
    assert(rows(st2, "select ?d ?p where { ?d staff ?p }") ==
      Set(("prof:0", "dept:0"), ("prof:1", "dept:0"),
        ("prof:2", "dept:1")))
    // WITH: both the template and the WHERE scope to the graph — this
    // empties g:arch without touching the default worksFor slice
    val st3 = SparqlUpdate.applyAll(spark, st1,
      "WITH <g:arch> DELETE { ?p worksFor ?d } WHERE { ?p worksFor ?d }")
    assert(BgpPlanner.query(st3,
      "select ?p where { GRAPH <g:arch> { ?p worksFor ?d } }").count() == 0)
    assert(BgpPlanner.query(st3,
      "select ?p where { ?p worksFor ?d }").count() == 3)
    // rejection: templates with unbalanced GRAPH nesting fail loudly
    intercept[IllegalArgumentException](SparqlUpdate.parse(
      "INSERT { GRAPH <g:x> { ?p worksFor ?d } WHERE { ?p worksFor ?d }"))
    // WITH pairs with DELETE/INSERT templates, not DELETE WHERE
    intercept[IllegalArgumentException](SparqlUpdate.parse(
      "WITH <g:x> DELETE WHERE { ?p worksFor ?d }"))
  }

  test("update WHERE is a full query group: FILTER, OPTIONAL, GRAPH, USING NAMED") {
    // FILTER restricts which solutions the templates instantiate under
    val st1 = SparqlUpdate.applyAll(spark, tinyStore,
      "DELETE { ?p worksFor ?d } WHERE { ?p worksFor ?d . FILTER (?d = dept:0) }")
    assert(st1.slices("worksFor").collect().map(_.getString(0)).toSeq ==
      Seq("prof:2"))
    // OPTIONAL: a solution leaving a template var unbound instantiates
    // NOTHING for that triple — no null-subject rows sneak into slices
    val st2 = SparqlUpdate.applyAll(spark, tinyStore,
      """INSERT { ?p hasadvisee ?s }
        |WHERE { ?p worksFor ?d . OPTIONAL { ?s advisor ?p } }"""
        .stripMargin)
    assert(st2.slices("hasadvisee").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("prof:0", "stud:0")))
    // GRAPH block inside update WHERE + USING NAMED restricting it
    val seeded = SparqlUpdate.applyAll(spark, tinyStore,
      """INSERT DATA { GRAPH <g:a> { <prof:0> title "chair" }
        | GRAPH <g:b> { <prof:1> title "dean" } }""".stripMargin)
    val st3 = SparqlUpdate.applyAll(spark, seeded,
      "INSERT { ?p titled ?t } USING NAMED <g:a> WHERE { GRAPH ?g { ?p title ?t } }")
    assert(st3.slices("titled").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("prof:0", "chair")))
    // and with both graphs in the named set, both solutions instantiate
    val st4 = SparqlUpdate.applyAll(spark, seeded,
      "INSERT { ?p titled ?t } USING NAMED <g:a> USING NAMED <g:b> " +
        "WHERE { GRAPH ?g { ?p title ?t } }")
    assert(st4.slices("titled").count() == 2)
  }

  test("DELETE WHERE supports the quad form (GRAPH blocks as match + template)") {
    val seeded = SparqlUpdate.applyAll(spark, tinyStore,
      """INSERT DATA { GRAPH <g:a> { <prof:0> role "dean" .
        |  <prof:1> role "chair" } GRAPH <g:b> { <prof:0> role "dean" } }"""
        .stripMargin)
    // variable quad pattern: matches and removes inside g:a ONLY
    val st1 = SparqlUpdate.applyAll(spark, seeded,
      "DELETE WHERE { GRAPH <g:a> { ?p role ?r } }")
    assert(BgpPlanner.query(st1,
      "select ?p where { GRAPH <g:a> { ?p role ?r } }").count() == 0)
    assert(BgpPlanner.query(st1,
      "select ?p where { GRAPH <g:b> { ?p role ?r } }").count() == 1)
    // ground quad form degenerates to DeleteDataGraph
    val st2 = SparqlUpdate.applyAll(spark, seeded,
      "DELETE WHERE { GRAPH <g:a> { <prof:1> role \"chair\" } }")
    assert(BgpPlanner.query(st2,
      "select ?p where { GRAPH <g:a> { ?p role ?r } }")
      .collect().map(_.getString(0)).toSet == Set("prof:0"))
    // mixed: the default-graph pattern and the quad pattern delete
    // together under one WHERE binding (?p joins across both)
    val st3 = SparqlUpdate.applyAll(spark, seeded,
      "DELETE WHERE { ?p worksFor ?d . GRAPH <g:a> { ?p role ?r } }")
    assert(BgpPlanner.query(st3,
      "select ?p where { GRAPH <g:a> { ?p role ?r } }").count() == 0)
    // prof:0/prof:1 lose worksFor (they had g:a roles); prof:2 keeps
    assert(BgpPlanner.query(st3,
      "select ?p where { ?p worksFor ?d }")
      .collect().map(_.getString(0)).toSet == Set("prof:2"))
  }

  test("CREATE / DROP GRAPH follow §3.2.2-3 with no empty-graph bookkeeping") {
    val st1 = SparqlUpdate.applyAll(spark, tinyStore,
      "INSERT DATA { GRAPH <g:a> { <prof:5> role \"dean\" } }")
    // DROP removes the graph's quads; a repeat DROP without SILENT is
    // the spec's no-such-graph conflict
    val st2 = SparqlUpdate.applyAll(spark, st1, "DROP GRAPH <g:a>")
    assert(BgpPlanner.query(st2,
      "select ?p where { GRAPH <g:a> { ?p role ?r } }").count() == 0)
    val e1 = intercept[IllegalStateException](
      SparqlUpdate.applyAll(spark, st2, "DROP GRAPH <g:a>"))
    assert(e1.getMessage.contains("no such graph"))
    SparqlUpdate.applyAll(spark, st2, "DROP SILENT GRAPH <g:a>") // no-op
    // CREATE of an existing (non-empty) graph conflicts; SILENT and
    // fresh names pass (as validated no-ops — no empty-graph records)
    val e2 = intercept[IllegalStateException](
      SparqlUpdate.applyAll(spark, st1, "CREATE GRAPH <g:a>"))
    assert(e2.getMessage.contains("already exists"))
    SparqlUpdate.applyAll(spark, st1, "CREATE SILENT GRAPH <g:a>")
    SparqlUpdate.applyAll(spark, st1, "CREATE GRAPH <g:fresh>")
    // DROP DEFAULT empties the default graph, named graphs stand (§3.2.3)
    val st4 = SparqlUpdate.applyAll(spark, st1, "DROP DEFAULT")
    assert(BgpPlanner.query(st4, "select ?p where { ?p worksFor ?d }")
      .count() == 0)
    assert(BgpPlanner.query(st4,
      "select ?p where { GRAPH <g:a> { ?p role ?r } }").count() == 1)
  }

  test("ADD/COPY/MOVE cross the DEFAULT boundary in both directions (§3.2.5)") {
    def count(st: TripleStore, q: String) = BgpPlanner.query(st, q).count()
    // DEFAULT → named graph: MOVE archives the whole default graph
    val archived = SparqlUpdate.applyAll(spark, tinyStore,
      "MOVE DEFAULT TO GRAPH <g:arch>")
    assert(count(archived, "select ?p where { ?p worksFor ?d }") == 0)
    assert(count(archived,
      "select ?p where { GRAPH <g:arch> { ?p worksFor ?d } }") == 3)
    assert(count(archived,
      "select ?p where { GRAPH <g:arch> { ?p email ?e } }") == 2)
    // named graph → DEFAULT: ADD merges the archive back (set
    // semantics — re-adding over the empty default restores counts)
    val restored = SparqlUpdate.applyAll(spark, archived,
      "ADD GRAPH <g:arch> TO DEFAULT")
    assert(count(restored, "select ?p where { ?p worksFor ?d }") == 3)
    // and the archive still stands (ADD never drops the source)
    assert(count(restored,
      "select ?p where { GRAPH <g:arch> { ?p worksFor ?d } }") == 3)
    // COPY GRAPH TO DEFAULT replaces the default graph's content
    val replaced = SparqlUpdate.applyAll(spark, restored,
      """INSERT DATA { GRAPH <g:tiny> { <x:1> note "only" } } ;
        |COPY GRAPH <g:tiny> TO DEFAULT""".stripMargin)
    assert(count(replaced, "select ?p where { ?p worksFor ?d }") == 0)
    assert(count(replaced, "select ?n where { x:1 note ?n }") == 1)
    // same source and target: no-op
    assert(count(SparqlUpdate.applyAll(spark, restored,
      "MOVE DEFAULT TO DEFAULT"),
      "select ?p where { ?p worksFor ?d }") == 3)
  }

  test("FROM / FROM NAMED dataset clauses scope the query (§13.2, both encodings)") {
    for (enc <- Seq(false, true)) {
      val base = if (enc) TripleStore.encode(tinyStore) else tinyStore
      val st = SparqlUpdate.applyAll(spark, base,
        """INSERT DATA { GRAPH <g:a> { <prof:0> worksFor <dept:0> }
          | GRAPH <g:b> { <prof:9> worksFor <dept:9> } }""".stripMargin)
      def rows(q: String) =
        BgpPlanner.query(st, q).collect().map(_.toSeq).toSet
      // FROM replaces the default graph — the store's own slices are
      // NOT part of the dataset (prof:1/prof:2 disappear)
      assert(rows("select ?p FROM <g:b> where { ?p worksFor ?d }") ==
        Set(Seq("prof:9")), s"encoded=$enc")
      assert(rows(
        "select ?p FROM <g:a> FROM <g:b> where { ?p worksFor ?d }") ==
        Set(Seq("prof:0"), Seq("prof:9")), s"encoded=$enc")
      // FROM-only ⇒ no named graphs: a GRAPH block matches nothing
      assert(rows(
        "select ?p FROM <g:a> where { GRAPH ?g { ?p worksFor ?d } }")
        .isEmpty, s"encoded=$enc")
      // FROM NAMED restricts which graphs GRAPH ranges over…
      assert(BgpPlanner.query(st, "select ?p ?g FROM NAMED <g:a> where " +
        "{ GRAPH ?g { ?p worksFor ?d } }").select("p", "g").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet ==
        Set(("prof:0", "g:a")), s"encoded=$enc")
      // …including constant graph terms outside the set
      assert(rows("select ?p FROM NAMED <g:a> where " +
        "{ GRAPH <g:b> { ?p worksFor ?d } }").isEmpty, s"encoded=$enc")
      // FROM NAMED-only ⇒ the default graph is EMPTY
      assert(rows("select ?p FROM NAMED <g:a> where { ?p worksFor ?d }")
        .isEmpty, s"encoded=$enc")
    }
  }

  test("update text parsing is quote-aware (dots, semicolons, escapes in literals)") {
    val upd = SparqlUpdate.applyAll(spark, tinyStore,
      """INSERT DATA { <prof:9> motto "a . b ; c" .
        | <prof:9> quip "say \"hi\" . now" }""".stripMargin)
    def rows(q: String) =
      BgpPlanner.query(upd, q).collect().map(_.toSeq).toSet
    assert(upd.slices("motto").count() == 1)
    assert(rows("select ?m where { prof:9 motto ?m }") ==
      Set(Seq("a . b ; c")))
    // the escaped quote unescapes to a raw quote in the stored lexical
    assert(rows("select ?m where { prof:9 quip ?m }") ==
      Set(Seq("say \"hi\" . now")))
    // an IRI containing a dot never splits a triple
    val upd2 = SparqlUpdate.applyAll(spark, tinyStore,
      "INSERT DATA { <http://u.edu/p9> homepage <http://u.edu/p9/index.html> }")
    assert(upd2.slices("homepage").count() == 1)
  }

  test("parser handles the reference grammar (vars, URIs, literals)") {
    val q = Sparql.parse(
      """select ?A ?B where { ?A <http://x#worksFor> <http://dept0> . ?A name ?B }""")
    assert(q.select == Seq("A", "B"))
    assert(q.patterns.length == 2)
    assert(q.patterns.head.p == Const("http://x#worksFor"))
    assert(q.patterns.head.s == Var("A"))
  }

  test("parser rejects malformed queries") {
    intercept[IllegalArgumentException](Sparql.parse("select ?A where { ?A b }"))
    intercept[IllegalArgumentException](Sparql.parse("where { ?A b c }"))
    intercept[IllegalArgumentException](Sparql.parse("select ?Z where { ?A b c }"))
  }

  test("typed literals, language tags, and blank nodes tokenize (RDF 1.1)") {
    // typed literal: canonical decorated form, xsd: expands without a
    // PREFIX declaration; xsd:string collapses to the plain lexical
    val q = Sparql.parse(
      """select ?a where { ?a age "5"^^xsd:integer . ?a tag "x"@EN .
        | ?a name "n"^^xsd:string }""".stripMargin)
    assert(q.patterns(0).o ==
      Const("\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
    // language tags canonicalize lowercase (BCP 47 case-insensitivity)
    assert(q.patterns(1).o == Const("\"x\"@en"))
    assert(q.patterns(2).o == Const("n"))
    // a full-IRI datatype stays as written
    val q2 = Sparql.parse(
      """select ?a where { ?a v "p"^^<http://ex/t> }""")
    assert(q2.patterns.head.o == Const("\"p\"^^<http://ex/t>"))
  }

  test("a pattern blank node is a query-scoped, non-projected variable") {
    val q = Sparql.parse(
      "select ?a where { ?a advisor _:x . _:x worksFor dept:0 }")
    // both _:x occurrences desugar to the SAME reserved variable,
    // joining the two patterns without being selectable
    val bnodeVars = q.patterns.flatMap(_.vars)
      .filter(_.startsWith(Sparql.BNodeVarPrefix)).distinct
    assert(bnodeVars == Seq(Sparql.BNodeVarPrefix + "x"))
    // SELECT * projects user vars only
    val qStar = Sparql.parse("select * where { ?a advisor _:x }")
    assert(qStar.select == Seq("a"))
    // the reserved prefix is rejected as a user variable
    intercept[IllegalArgumentException](Sparql.parse(
      s"select ?${Sparql.BNodeVarPrefix}x where { ?${Sparql.BNodeVarPrefix}x b c }"))
    // and the blank-node join evaluates: stud:0's advisor prof:0
    // works for dept:0
    val rows = BgpPlanner.plan(tinyStore, q).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("stud:0"))
  }

  test("numeric-typed FILTER literals drive numeric comparison; " +
      "equality stays canonical") {
    val q = Sparql.parse(
      """select ?a where { ?a age ?n . FILTER (?n < "750"^^xsd:integer) }""")
    val f = q.filters.flatMap(_.disjuncts.flatten).head
    assert(f.numeric && f.value == "750" && f.op == "<")
    // equality keeps the decorated canonical (id-space on encoded)
    val qe = Sparql.parse(
      """select ?a where { ?a age ?n . FILTER (?n = "5"^^xsd:integer) }""")
    val fe = qe.filters.flatMap(_.disjuncts.flatten).head
    assert(!fe.numeric &&
      fe.value == "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>")
  }

  test("LANG and DATATYPE filters parse and evaluate over both encodings") {
    import org.apache.spark.sql.functions.col
    val data = Seq(
      ("b:1", "label", "\"five\"@en"),
      ("b:2", "label", "\"five\"@de"),
      ("b:3", "label", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("b:4", "label", "plain")
    ).toDF("s", "p", "o")
    val plain = TripleStore.fromTriples(data)
    val lang = Sparql.parse(
      """select ?s where { ?s label ?l . FILTER (LANG(?l) = "de") }""")
    val dt = Sparql.parse(
      """select ?s where { ?s label ?l .
        | FILTER (DATATYPE(?l) = xsd:integer) }""".stripMargin)
    val noTag = Sparql.parse(
      """select ?s where { ?s label ?l . FILTER (LANG(?l) = "") }""")
    for (store <- Seq(plain, TripleStore.encode(plain))) {
      def run(q: Sparql.BgpQuery) = BgpPlanner.plan(store, q)
        .select(col("s")).collect().map(_.getString(0)).toSeq.sorted
      assert(run(lang) == Seq("b:2"), s"encoded=${store.encoded}")
      assert(run(dt) == Seq("b:3"), s"encoded=${store.encoded}")
      // the spec's LANG("") selects untagged terms — typed AND plain
      assert(run(noTag) == Seq("b:3", "b:4"), s"encoded=${store.encoded}")
    }
  }

  test("LANGMATCHES ranges, STR comparisons, and typed ORDER BY " +
      "evaluate over both encodings") {
    import org.apache.spark.sql.functions.col
    val data = Seq(
      ("b:1", "v", "\"alpha\"@fr"),
      ("b:2", "v", "\"beta\"@fr-be"),
      ("b:3", "v", "\"gamma\"@de"),
      ("b:4", "v", "\"9\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("b:5", "v", "\"10\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("b:6", "v", "plain")
    ).toDF("s", "p", "o")
    val plain = TripleStore.fromTriples(data)
    val fr = Sparql.parse(
      """select ?s where { ?s v ?l . FILTER langMatches(LANG(?l), "fr") }""")
    val any = Sparql.parse(
      """select ?s where { ?s v ?l . FILTER langMatches(LANG(?l), "*") }""")
    val strGe = Sparql.parse(
      """select ?s where { ?s v ?l . FILTER (STR(?l) >= "b") }""")
    // typed numerics order by value: 9 < 10 even though "9" > "10"
    val ord = Sparql.parse(
      """select ?s where { ?s v ?l . FILTER (DATATYPE(?l) = xsd:integer) }
        |order by desc(?l) limit 1""".stripMargin)
    for (store <- Seq(plain, TripleStore.encode(plain))) {
      def run(q: Sparql.BgpQuery) = BgpPlanner.plan(store, q)
        .select(col("s")).collect().map(_.getString(0)).toSeq.sorted
      assert(run(fr) == Seq("b:1", "b:2"), s"encoded=${store.encoded}")
      assert(run(any) == Seq("b:1", "b:2", "b:3"), s"encoded=${store.encoded}")
      // STR strips decoration: beta, gamma, plain >= "b"; alpha, 10, 9 not
      assert(run(strGe) == Seq("b:2", "b:3", "b:6"), s"encoded=${store.encoded}")
      assert(run(ord) == Seq("b:5"), s"encoded=${store.encoded}")
    }
  }

  test("VALUES blocks accept typed and language-tagged literals") {
    val q = Sparql.parse(
      """select ?s where { ?s v ?o .
        | VALUES ?o { "5"^^xsd:integer "x"@EN plain } }""".stripMargin)
    assert(q.values == Seq("o" -> Seq(
      "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>", "\"x\"@en",
      "plain")))
    val qt = Sparql.parse(
      """select ?a ?b where { ?s v ?a . ?s v ?b .
        | VALUES (?a ?b) { ("1"^^xsd:integer "y"@fr) } }""".stripMargin)
    assert(qt.valuesTables == Seq((Seq("a", "b"), Seq(Seq(
      "\"1\"^^<http://www.w3.org/2001/XMLSchema#integer>", "\"y\"@fr")))))
  }

  test("NOT IN, isBlank, and sameTerm filters parse and evaluate") {
    import org.apache.spark.sql.functions.col
    val data = Seq(
      ("_:b0", "v", "x"), ("n:1", "v", "y"), ("n:2", "v", "z")
    ).toDF("s", "p", "o")
    val store = TripleStore.fromTriples(data)
    // NOT IN = all-different conjunct
    val ni = Sparql.parse(
      """select ?s where { ?s v ?o . FILTER (?o NOT IN ("x", "z")) }""")
    assert(BgpPlanner.plan(store, ni).collect().map(_.getString(0)).toSeq
      == Seq("n:1"))
    // isBlank selects data blank nodes; !isBlank the rest
    val ib = Sparql.parse(
      "select ?o where { ?s v ?o . FILTER (isBlank(?s)) }")
    assert(BgpPlanner.plan(store, ib).collect().map(_.getString(0)).toSeq
      == Seq("x"))
    val nib = Sparql.parse(
      "select ?o where { ?s v ?o . FILTER (!isBlank(?s)) }")
    assert(BgpPlanner.plan(store, nib)
      .collect().map(_.getString(0)).toSeq.sorted == Seq("y", "z"))
    // sameTerm is equality under the canonical spelling
    val st = Sparql.parse(
      """select ?a where { ?a v ?x . ?a v ?y .
        | FILTER sameTerm(?x, ?y) }""".stripMargin)
    val f = st.filters.flatMap(_.disjuncts.flatten).head
    assert(f.op == "=" && f.rhsVar && f.variable == "x" && f.value == "y")
    assert(BgpPlanner.plan(store, st).select(col("a")).collect().length == 3)
  }

  test("STRLEN filter parses into a composite strlen op") {
    val q = Sparql.parse(
      """select ?a where { ?a name ?n . FILTER (STRLEN(?n) >= 12) }""")
    val f = q.filters.flatMap(_.disjuncts.flatten)
      .find(_.op.startsWith("strlen")).get
    assert(f.op == "strlen>=" && f.value == "12" && f.variable == "n")
  }

  test("REGEX flags desugar to an inline prefix; unsupported flags error") {
    val q = Sparql.parse(
      """select ?a where { ?a name ?n . FILTER regex(?n, "x[0-9]", "i") }""")
    val rx = q.filters.flatMap(_.disjuncts.flatten).find(_.op == "regex").get
    assert(rx.value == "(?i)x[0-9]")
    intercept[IllegalArgumentException](Sparql.parse(
      """select ?a where { ?a name ?n . FILTER regex(?n, "x", "q") }"""))
  }

  test("query graph identifies join vertices by degree (ref QueryPlanner.c:226-239)") {
    // LUBM Q4 shape: star on ?A
    val q = Sparql.parse(
      """select ?A ?B where { ?A worksFor dept0 . ?A name ?B . ?A email ?C }""")
    val g = BgpPlanner.analyze(q)
    assert(g.joinVertices == Set(Var("A")))
    assert(g.degree(Var("A")) == 3)
    // all three patterns have exactly one join-vertex endpoint ⇒ exclusive
    assert(g.exclusive(Var("A")).length == 3)
    assert(g.shared.isEmpty)
  }

  test("star BGP joins on the shared variable, bag semantics") {
    val out = BgpPlanner.query(tinyStore,
      """select ?A ?N ?E where { ?A worksFor dept:0 . ?A name ?N . ?A email ?E }""")
    assert(out.columns.toSeq == Seq("A", "E", "N")) // lexicographic canon
    val rows = out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      ("prof:0", "p0@u.edu", "FullProfessor0"),
      ("prof:1", "p1@u.edu", "FullProfessor1")))
  }

  test("multi-hop BGP (chain across two join vertices)") {
    val out = BgpPlanner.query(tinyStore,
      """select ?S ?P where { ?S advisor ?P . ?P worksFor dept:0 . ?S memberOf dept:0 }""")
    // columns canonicalized lexicographically: (P, S)
    assert(out.columns.toSeq == Seq("P", "S"))
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("prof:0", "stud:0")))
  }

  test("empty-result BGP short-circuits to 0 rows (ref entry point C)") {
    val out = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor dept:99 . ?A name ?N }""")
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("A"))
  }

  test("repeated variable in one pattern means positional equality") {
    val st = TripleStore.fromTriples(Seq(
      ("a", "loves", "a"), ("a", "loves", "b")).toDF("s", "p", "o"))
    val out = BgpPlanner.query(st, "select ?X where { ?X loves ?X }")
    assert(out.collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("variable predicate is supported") {
    val out = BgpPlanner.query(tinyStore,
      "select ?P where { prof:0 ?P dept:0 }")
    assert(out.collect().map(_.getString(0)).toSeq == Seq("worksFor"))
  }

  test("dictionary-encoded store gives identical results to string store") {
    val enc = TripleStore.encode(tinyStore)
    val q = """select ?A ?N where { ?A worksFor dept:0 . ?A name ?N }"""
    val a = BgpPlanner.query(tinyStore, q).collect().map(_.toSeq).toSet
    val b = BgpPlanner.query(enc, q).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("OPTIONAL block left-joins: unmatched side yields null") {
    val out = BgpPlanner.query(tinyStore,
      """select ?A ?E where { ?A worksFor ?D . OPTIONAL { ?A email ?E } }""")
    val rows = out.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // prof:2 works for dept:1 but has no email triple
    assert(rows == Set(
      ("prof:0", "p0@u.edu"), ("prof:1", "p1@u.edu"), ("prof:2", null)))
  }

  test("FILTER restricts post-join (equality and ordering)") {
    val eq = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor dept:0 . ?A name ?N . FILTER (?N = "FullProfessor1") }""")
    assert(eq.collect().map(_.getString(0)).toSeq == Seq("prof:1"))
    val ord = BgpPlanner.query(tinyStore,
      """select ?A ?N where { ?A name ?N . FILTER (?N > "FullProfessor0") }""")
    assert(ord.collect().map(_.getString(1)).toSet == Set("FullProfessor1"))
  }

  test("block-scoped FILTERs parse with their block, never hoist to top level") {
    val m = Sparql.parse(
      """select ?A where { ?A worksFor ?D . MINUS { ?A email ?E . FILTER (?E = "x") } }""")
    assert(m.filters.isEmpty && m.minusFilters.head.length == 1)
    val u = Sparql.parse(
      """select ?A where { { ?A worksFor ?D . FILTER (?A = "prof:0") } UNION { ?A memberOf ?D } }""")
    assert(u.filters.isEmpty && u.unionFilters.head.head.length == 1 &&
      u.unionFilters.head(1).isEmpty)
    // a scoped-filter var unbound in its own block is rejected
    intercept[IllegalArgumentException](Sparql.parse(
      """select ?A where { ?A worksFor ?D . MINUS { ?A email ?E . FILTER (?D = "x") } }"""))
    // a top-level FILTER alongside an OPTIONAL still parses
    val ok = Sparql.parse(
      """select ?A ?E where { ?A worksFor ?D . OPTIONAL { ?A email ?E } . FILTER (?A = "prof:0") }""")
    assert(ok.filters.length == 1 && ok.optionals.length == 1)
    assert(ok.optionalFilters == Seq(Nil))
  }

  test("MINUS-scoped FILTER restricts which solutions remove") {
    // MINUS of everyone with an email EXCEPT p1's — removes only prof:0
    val out = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D .
        | MINUS { ?A email ?E . FILTER (?E != "p1@u.edu") } }""".stripMargin)
    assert(out.collect().map(_.getString(0)).toSet == Set("prof:1", "prof:2"))
  }

  test("UNION branch-scoped FILTER restricts only its branch") {
    val out = BgpPlanner.query(tinyStore,
      """select ?A ?N where {
        | { ?A name ?N . FILTER (?N = "FullProfessor0") }
        | UNION
        | { ?A name ?N } }""".stripMargin)
    // branch 1 contributes only prof:0; branch 2 everyone — bag union
    val names = out.collect().map(_.getString(1)).toSeq.sorted
    assert(names.count(_ == "FullProfessor0") == 2 &&
      names.count(_ == "FullProfessor1") == 1)
  }

  test("OPTIONAL-scoped FILTER nulls the block, never drops the outer row") {
    val q = Sparql.parse(
      """select ?A ?E where { ?A worksFor ?D . OPTIONAL { ?A email ?E . FILTER (?E != "p0@u.edu") } }""")
    assert(q.optionals.length == 1 && q.optionalFilters.head.length == 1)
    assert(q.filters.isEmpty, "block filter must not hoist to top level")
    val out = BgpPlanner.query(tinyStore,
      """select ?A ?E where { ?A worksFor ?D . OPTIONAL { ?A email ?E . FILTER (?E != "p0@u.edu") } }""")
    val rows = out.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // prof:0's email fails the scoped filter -> null binding, row kept
    // (a hoisted filter would DROP prof:0 and prof:2 entirely)
    assert(rows == Set(
      ("prof:0", null), ("prof:1", "p1@u.edu"), ("prof:2", null)))
    // a filter var unbound inside the block is rejected
    intercept[IllegalArgumentException](Sparql.parse(
      """select ?A ?E where { ?A worksFor ?D . OPTIONAL { ?A email ?E . FILTER (?D = "x") } }"""))
  }

  test("FILTER [NOT] EXISTS: correlated semi/anti; var-disjoint differs from MINUS") {
    // correlated: profs with/without an email triple
    val yes = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D . FILTER EXISTS { ?A email ?E } }""")
    assert(yes.collect().map(_.getString(0)).toSet == Set("prof:0", "prof:1"))
    val no = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D . FILTER NOT EXISTS { ?A email ?E } }""")
    assert(no.collect().map(_.getString(0)).toSet == Set("prof:2"))
    // var-disjoint: NOT EXISTS over any matching block drops EVERYTHING
    // — the same block as MINUS would remove nothing (SPARQL §8.1.1 vs
    // §8.3)
    val dropAll = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D . FILTER NOT EXISTS { ?X email ?Y } }""")
    assert(dropAll.count() == 0)
    val minusKeeps = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D . MINUS { ?X email ?Y } }""")
    assert(minusKeeps.count() > 0)
  }

  test("GROUP_CONCAT/SAMPLE aggregates and HAVING modifier") {
    val out = BgpPlanner.query(tinyStore,
      """select ?D (count(?A) as ?n) (group_concat(?A) as ?who)
        |  (sample(?A) as ?one) where {
        | ?A worksFor ?D }
        |group by ?D having (?n >= 2)""".stripMargin)
    // dept:0 has prof:0+prof:1; dept:1 (1 prof) fails HAVING
    val rows = out.collect()
    assert(rows.length == 1)
    val r = rows.head
    // columns sort lexicographically: D, n, one, who
    assert(r.getString(0) == "dept:0" && r.getLong(1) == 2L &&
      r.getString(2) == "prof:0" && r.getString(3) == "prof:0 prof:1")
    // HAVING on a non-alias is rejected
    intercept[IllegalArgumentException](Sparql.parse(
      """select ?D (count(?A) as ?n) where { ?A worksFor ?D }
        |group by ?D having (?X >= 2)""".stripMargin))
  }

  test("counted path repetition p{n} / p{n,m} composes bounded hops") {
    val chain = TripleStore.fromTriples(Seq(
      ("a", "next", "b"), ("b", "next", "c"), ("c", "next", "d")
    ).toDF("s", "p", "o"))
    def rows(q: String): Set[(String, String)] =
      BgpPlanner.query(chain, q).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows("select ?x ?y where { ?x next{2} ?y }") ==
      Set(("a", "c"), ("b", "d")))
    assert(rows("select ?x ?y where { ?x next{2,3} ?y }") ==
      Set(("a", "c"), ("b", "d"), ("a", "d")))
    // zero-hop lower bound adds identity over the slice's vertex set
    assert(rows("select ?x ?y where { ?x next{0,1} ?y }") ==
      Set("a", "b", "c", "d").map(v => (v, v)) ++
        Set(("a", "b"), ("b", "c"), ("c", "d")))
    intercept[IllegalArgumentException](
      Sparql.parse("select ?x ?y where { ?x next{3,2} ?y }"))
    intercept[IllegalArgumentException](
      Sparql.parse("select ?x ?y where { ?x next{1,99} ?y }"))
  }

  test("FILTER regex restricts by Java-compatible pattern") {
    val out = BgpPlanner.query(tinyStore,
      """select ?A ?N where { ?A name ?N . FILTER regex(?N, "Professor[01]") }""")
    assert(out.collect().map(_.getString(1)).toSet ==
      Set("FullProfessor0", "FullProfessor1"))
    val none = BgpPlanner.query(tinyStore,
      """select ?A ?N where { ?A name ?N . FILTER regex(?N, "^Assistant") }""")
    assert(none.count() == 0)
  }

  test("FILTER equality works on the dictionary-encoded store") {
    val enc = TripleStore.encode(tinyStore)
    val out = BgpPlanner.query(enc,
      """select ?A where { ?A worksFor dept:0 . ?A name ?N . FILTER (?N != "FullProfessor1") }""")
    assert(out.collect().map(_.getString(0)).toSeq == Seq("prof:0"))
  }

  test("SELECT DISTINCT collapses duplicate bindings") {
    val bag = BgpPlanner.query(tinyStore,
      "select ?D where { ?A worksFor ?D }")
    val set = BgpPlanner.query(tinyStore,
      "select distinct ?D where { ?A worksFor ?D }")
    assert(bag.count() == 3 && set.count() == 2)
  }

  test("property path p+ evaluates the predicate's transitive closure") {
    import spark.implicits._
    val st = TripleStore.fromTriples(Seq(
      ("a", "next", "b"), ("b", "next", "c"), ("c", "next", "d"),
      ("a", "name", "A")
    ).toDF("s", "p", "o"))
    val out = BgpPlanner.query(st, "select ?X where { a next+ ?X }")
    assert(out.collect().map(_.getString(0)).toSet == Set("b", "c", "d"))
    // plain (non-path) predicate still single-hop
    val one = BgpPlanner.query(st, "select ?X where { a next ?X }")
    assert(one.collect().map(_.getString(0)).toSet == Set("b"))
    // + is predicate-position only
    intercept[IllegalArgumentException](
      Sparql.parse("select ?X where { a+ next ?X }"))
  }

  test("disconnected BGP components produce a cross product") {
    val out = BgpPlanner.query(tinyStore,
      "select ?A ?S where { ?A worksFor dept:1 . ?S memberOf dept:0 }")
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("prof:2", "stud:0")))
  }

  test("UNION groups are bag unions of branch sub-chains") {
    val out = BgpPlanner.query(tinyStore,
      """select ?X where {
        | { ?X worksFor dept:0 } UNION { ?X memberOf dept:0 } }""".stripMargin)
    assert(out.collect().map(_.getString(0)).toSet ==
      Set("prof:0", "prof:1", "stud:0"))
    // bag semantics: a binding in both branches appears twice
    val dup = BgpPlanner.query(tinyStore,
      """select ?X where {
        | { ?X worksFor dept:0 } UNION { ?X worksFor dept:0 } }""".stripMargin)
    assert(dup.count() == 4)
    // a UNION group joins the main chain on shared variables
    val joined = BgpPlanner.query(tinyStore,
      """select ?X ?N where { ?X name ?N .
        | { ?X worksFor dept:0 } UNION { ?X memberOf dept:0 } }""".stripMargin)
    // columns canonicalize lexicographically: (N, X)
    assert(joined.columns.toSeq == Seq("N", "X"))
    assert(joined.collect().map(_.getString(0)).toSet ==
      Set("FullProfessor0", "FullProfessor1"))
    // branches must bind the same variables
    intercept[IllegalArgumentException](Sparql.parse(
      "select ?X where { { ?X worksFor dept:0 } UNION { ?Y memberOf dept:0 } }"))
  }

  test("property path p* adds identity over the slice's vertex set") {
    val st = TripleStore.fromTriples(Seq(
      ("a", "next", "b"), ("b", "next", "c")
    ).toDF("s", "p", "o"))
    val out = BgpPlanner.query(st, "select ?X where { a next* ?X }")
    assert(out.collect().map(_.getString(0)).toSet == Set("a", "b", "c"))
    intercept[IllegalArgumentException](
      Sparql.parse("select ?X where { a* next ?X }"))
  }

  test("MINUS removes bindings matching the block; dom-disjoint removes nothing") {
    val out = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor dept:0 .
        | MINUS { ?S advisor ?A } }""".stripMargin)
    // prof:0 advises stud:0 → removed; prof:1 stays
    assert(out.collect().map(_.getString(0)).toSet == Set("prof:1"))
    // a MINUS block sharing no variable is dom-disjoint → no-op
    val disjoint = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor dept:0 .
        | MINUS { ?S memberOf dept:0 } }""".stripMargin)
    assert(disjoint.count() == 2)
    // MINUS vars don't bind: selecting one is an error
    intercept[IllegalArgumentException](Sparql.parse(
      "select ?S where { ?A worksFor dept:0 . MINUS { ?S advisor ?A } }"))
  }

  test("ORDER BY / LIMIT / OFFSET slice the sorted solution") {
    val out = BgpPlanner.query(tinyStore,
      "select ?A ?N where { ?A name ?N } ORDER BY DESC(?N) LIMIT 1")
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("prof:1", "FullProfessor1")))
    val page2 = BgpPlanner.query(tinyStore,
      "select ?A where { ?A worksFor ?D } ORDER BY ?A LIMIT 1 OFFSET 1")
    assert(page2.collect().map(_.getString(0)).toSeq == Seq("prof:1"))
    // ORDER BY key need not be selected (and survives projection)
    val byName = BgpPlanner.query(tinyStore,
      "select ?A where { ?A name ?N } ORDER BY DESC(?N) LIMIT 1")
    assert(byName.columns.toSeq == Seq("A"))
    assert(byName.collect().map(_.getString(0)).toSeq == Seq("prof:1"))
    // ...but DISTINCT projection eliminates it → error
    intercept[IllegalArgumentException](Sparql.parse(
      "select distinct ?A where { ?A name ?N } ORDER BY ?N"))
    intercept[IllegalArgumentException](Sparql.parse(
      "select ?A where { ?A name ?N } ORDER BY ?Q"))
  }

  test("aggregates group and fold bindings (COUNT/MIN/global)") {
    val out = BgpPlanner.query(tinyStore,
      """select ?D (count(?P) as ?n) where { ?P worksFor ?D } group by ?D""")
    assert(out.columns.toSeq == Seq("D", "n"))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("dept:0", 2L), ("dept:1", 1L)))
    val mins = BgpPlanner.query(tinyStore,
      """select ?D (min(?P) as ?first) where { ?P worksFor ?D } group by ?D""")
    assert(mins.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("dept:0", "prof:0"), ("dept:1", "prof:2")))
    // global aggregate: no GROUP BY, COUNT(*)
    val total = BgpPlanner.query(tinyStore,
      "select (count(*) as ?n) where { ?P worksFor ?D }")
    assert(total.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // plain SELECT var must be a group key; GROUP BY needs an aggregate
    intercept[IllegalArgumentException](Sparql.parse(
      "select ?P (count(?D) as ?n) where { ?P worksFor ?D } group by ?D"))
    intercept[IllegalArgumentException](Sparql.parse(
      "select ?P where { ?P worksFor ?D } group by ?P"))
  }

  test("compound FILTER: && and || with SPARQL precedence") {
    val or = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D .
        | FILTER (?D = dept:1 || ?A = prof:0) }""".stripMargin)
    assert(or.collect().map(_.getString(0)).toSet == Set("prof:0", "prof:2"))
    val andOr = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D . ?A name ?N .
        | FILTER (?D = dept:0 && ?N = FullProfessor1 || ?A = prof:0) }""".stripMargin)
    assert(andOr.collect().map(_.getString(0)).toSet == Set("prof:0", "prof:1"))
  }

  test("zero-or-one path p? matches one step plus identity") {
    val out = BgpPlanner.query(tinyStore,
      "select ?X ?Y where { ?X advisor? ?Y }")
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("stud:0", "prof:0"), ("stud:0", "stud:0"), ("prof:0", "prof:0")))
  }

  test("sequence path p1/p2 chains hops through a fresh intermediate") {
    val out = BgpPlanner.query(tinyStore,
      "select ?S ?D where { ?S advisor/worksFor ?D }")
    assert(out.collect().map(r =>
        (r.getAs[String]("S"), r.getAs[String]("D"))).toSet ==
      Set(("stud:0", "dept:0")))
    // steps may themselves be path forms: advisor/worksFor? adds the
    // zero-step identity on the second hop
    val opt = BgpPlanner.query(tinyStore,
      "select ?S ?D where { ?S advisor/worksFor? ?D }")
    assert(opt.collect().map(r =>
        (r.getAs[String]("S"), r.getAs[String]("D"))).toSet ==
      Set(("stud:0", "prof:0"), ("stud:0", "dept:0")))
  }

  test("sequence-path intermediates are hidden from SELECT * and reserved") {
    val q = Sparql.parse("select * where { ?S advisor/worksFor ?D }")
    assert(q.select == Seq("D", "S"))
    assert(q.patterns.length == 2)
    intercept[IllegalArgumentException] {
      Sparql.parse("select ?_sq0 where { ?_sq0 advisor ?X }")
    }
  }

  test("sequence paths in UNION branches union on visible vars only") {
    val out = BgpPlanner.query(tinyStore,
      """select ?S ?D where {
        | { ?S advisor/worksFor ?D } UNION { ?S memberOf ?D } }""".stripMargin)
    // bag union: stud:0→dept:0 arrives via both branches
    val rows = out.collect().map(r =>
      (r.getAs[String]("S"), r.getAs[String]("D"))).toSeq
    assert(rows.sorted == Seq(("stud:0", "dept:0"), ("stud:0", "dept:0")))
  }

  test("negated property set matches every predicate except those listed") {
    val out = BgpPlanner.query(tinyStore,
      "select ?S ?O where { ?S !(name|email) ?O }")
    assert(out.collect().map(r =>
        (r.getAs[String]("S"), r.getAs[String]("O"))).toSet ==
      Set(("prof:0", "dept:0"), ("prof:1", "dept:0"), ("prof:2", "dept:1"),
        ("stud:0", "dept:0"), ("stud:0", "prof:0")))
  }

  test("BIND projects concat/strlen/arithmetic; later BINDs see earlier aliases") {
    val out = BgpPlanner.query(tinyStore,
      """select ?A ?T ?L2 where { ?A name ?N .
        | BIND (concat(?N, "!") AS ?T) .
        | BIND (strlen(?N) AS ?L) .
        | BIND (?L * 2 AS ?L2) .
        | FILTER (?L2 > 0) }""".stripMargin)
    assert(out.collect().map(r => (r.getAs[String]("A"), r.getAs[String]("T"),
        r.getAs[Double]("L2"))).toSet ==
      Set(("prof:0", "FullProfessor0!", 28.0), ("prof:1", "FullProfessor1!", 28.0)))
  }

  test("BIND term builtins: ENCODE_FOR_URI repairs, STR, STRLANG, STRDT") {
    import spark.implicits._
    // the three form-encoding deltas all at once, plus an input '+'
    // (which must arrive %2B, never be mistaken for a repaired space)
    val st = TripleStore.fromTriples(Seq(
      ("t:1", "v", "a b+c*d~e/f")).toDF("s", "p", "o"))
    val out = BgpPlanner.query(st,
      """select ?e ?g ?d ?s2 where { ?x v ?val .
        | BIND (encode_for_uri(?val) AS ?e) .
        | BIND (strlang(?val, "FR") AS ?g) .
        | BIND (strdt(?val, xsd:token) AS ?d) .
        | BIND (str(?g) AS ?s2) }""".stripMargin).collect().head
    assert(out.getAs[String]("e") == "a%20b%2Bc%2Ad~e%2Ff")
    assert(out.getAs[String]("g") == "\"a b+c*d~e/f\"@fr")
    assert(out.getAs[String]("d") ==
      "\"a b+c*d~e/f\"^^<http://www.w3.org/2001/XMLSchema#token>")
    assert(out.getAs[String]("s2") == "a b+c*d~e/f")
    // STRDT(x, xsd:string) emits the STORE's canonical spelling — the
    // BARE lexical (canonTyped collapses xsd:string) — so its output
    // joins/compares equal to stored simple literals
    val str = BgpPlanner.query(st,
      """select ?d2 where { ?x v ?val .
        | BIND (strdt(?val, xsd:string) AS ?d2) }""".stripMargin)
      .collect().head
    assert(str.getAs[String]("d2") == "a b+c*d~e/f",
      "xsd:string STRDT must be the bare canonical lexical")
  }

  test("TZ is a type error (unbound) on non-dateTime; wide/negative years") {
    import spark.implicits._
    val st = TripleStore.fromTriples(Seq(
      ("t:1", "v", "\"2001-02-03T04:05:06+05:30\"^^<http://www.w3.org/2001/XMLSchema#dateTime>"),
      ("t:2", "v", "\"2001-02-03T04:05:06\"^^<http://www.w3.org/2001/XMLSchema#dateTime>"),
      ("t:3", "v", "not a date"),
      ("t:4", "v", "\"-0450-06-01T00:00:00Z\"^^<http://www.w3.org/2001/XMLSchema#dateTime>"),
      ("t:5", "v", "\"12025-01-02T00:00:00Z\"^^<http://www.w3.org/2001/XMLSchema#dateTime>"))
      .toDF("s", "p", "o"))
    val out = BgpPlanner.query(st,
      """select ?x ?tz ?y where { ?x v ?val .
        | BIND (tz(?val) AS ?tz) .
        | BIND (year(?val) AS ?y) }""".stripMargin).collect()
      .map(r => r.getAs[String]("x") ->
        ((Option(r.getAs[String]("tz")), Option(r.get(r.fieldIndex("y"))))))
      .toMap
    // offset, "" for a timezone-LESS dateTime (bound, distinct from
    // the type-error null), null for a non-dateTime
    assert(out("t:1")._1.contains("+05:30"))
    assert(out("t:2")._1.contains(""))
    assert(out("t:3")._1.isEmpty, "TZ on a non-dateTime must be unbound")
    // negative and 5-digit years extract through the widened anchor
    assert(out("t:4")._2.contains(-450L))
    assert(out("t:5")._2.contains(12025L))
    assert(out("t:3")._2.isEmpty)
  }

  test("BIND string functions: UCASE/LCASE/SUBSTR/REPLACE/IF") {
    val out = BgpPlanner.query(tinyStore,
      """select ?A ?U ?L ?P ?R ?C where { ?A name ?N .
        | BIND (ucase(?N) AS ?U) .
        | BIND (lcase(?N) AS ?L) .
        | BIND (substr(?N, 1, 4) AS ?P) .
        | BIND (replace(?N, "Full", "Assoc") AS ?R) .
        | BIND (if(?N = "FullProfessor0", "zero", "other") AS ?C) }""".stripMargin)
    assert(out.collect().map(r => (r.getAs[String]("A"), r.getAs[String]("U"),
        r.getAs[String]("L"), r.getAs[String]("P"), r.getAs[String]("R"),
        r.getAs[String]("C"))).toSet ==
      Set(
        ("prof:0", "FULLPROFESSOR0", "fullprofessor0", "Full", "AssocProfessor0", "zero"),
        ("prof:1", "FULLPROFESSOR1", "fullprofessor1", "Full", "AssocProfessor1", "other")))
    // numeric IF over a previously-bound alias; SUBSTR without a length
    val num = BgpPlanner.query(tinyStore,
      """select ?A ?S ?T where { ?A name ?N .
        | BIND (strlen(?N) AS ?Len) .
        | BIND (if(?Len > 10, "long", "short") AS ?S) .
        | BIND (substr(?N, 5) AS ?T) }""".stripMargin)
    assert(num.collect().map(r => (r.getAs[String]("S"), r.getAs[String]("T")))
      .toSet == Set(("long", "Professor0"), ("long", "Professor1")))
  }

  test("GROUP_CONCAT parses an explicit SEPARATOR and rejects it elsewhere") {
    val q = Sparql.parse(
      """select ?D (group_concat(?P; separator="|") as ?ps)
        |where { ?P worksFor ?D } group by ?D""".stripMargin)
    assert(q.aggregates.head.sep.contains("|"))
    val out = BgpPlanner.query(tinyStore,
      """select ?D (group_concat(?P; separator="|") as ?ps)
        |where { ?P worksFor ?D } group by ?D""".stripMargin)
    assert(out.collect().map(r =>
      (r.getAs[String]("D"), r.getAs[String]("ps"))).toSet ==
      Set(("dept:0", "prof:0|prof:1"), ("dept:1", "prof:2")))
    intercept[IllegalArgumentException](Sparql.parse(
      """select ?D (count(?P; separator="|") as ?n)
        |where { ?P worksFor ?D } group by ?D""".stripMargin))
  }

  test("FILTER STRSTARTS/STRENDS/CONTAINS and IN-lists") {
    val starts = BgpPlanner.query(tinyStore,
      """select ?A ?N where { ?A name ?N . FILTER (STRSTARTS(?N, "FullP")) }""")
    assert(starts.collect().map(_.getAs[String]("A")).toSet ==
      Set("prof:0", "prof:1"))
    val ends = BgpPlanner.query(tinyStore,
      """select ?A where { ?A name ?N . FILTER STRENDS(?N, "0") }""")
    assert(ends.collect().map(_.getAs[String]("A")).toSet == Set("prof:0"))
    val contains = BgpPlanner.query(tinyStore,
      """select ?A where { ?A name ?N . FILTER (CONTAINS(?N, "Professor")) }""")
    assert(contains.collect().map(_.getAs[String]("A")).toSet ==
      Set("prof:0", "prof:1"))
    // IN desugars to an equality disjunct per element
    val in = Sparql.parse(
      """select ?A where { ?A name ?N . FILTER (?N IN ("FullProfessor0", "x")) }""")
    assert(in.filters.head.disjuncts.map(_.head.value).toSet ==
      Set("FullProfessor0", "x"))
    val inOut = BgpPlanner.query(tinyStore,
      """select ?A where { ?A name ?N . FILTER (?N IN ("FullProfessor0", "x")) }""")
    assert(inOut.collect().map(_.getAs[String]("A")).toSet == Set("prof:0"))
  }

  test("BIND validation: fresh alias, bound refs, supported expressions") {
    intercept[IllegalArgumentException](Sparql.parse(
      """select ?A where { ?A name ?N . BIND (strlen(?N) AS ?N) }"""))
    intercept[IllegalArgumentException](Sparql.parse(
      """select ?A where { ?A name ?N . BIND (strlen(?Z) AS ?L) }"""))
    // md5/sha256 became supported BIND functions; sha1 remains outside
    // the surface (no DuckDB twin to oracle it against)
    intercept[IllegalArgumentException](Sparql.parse(
      """select ?A where { ?A name ?N . BIND (sha1(?N) AS ?H) }"""))
  }

  test("sub-SELECT aggregates bottom-up and joins the outer solution") {
    val out = BgpPlanner.query(tinyStore,
      """select ?D ?n where { ?S memberOf ?D .
        | { select ?D (count(?P) as ?n) where { ?P worksFor ?D } group by ?D } }""".stripMargin)
    assert(out.collect().map(r =>
        (r.getAs[String]("D"), r.getAs[Long]("n"))).toSeq == Seq(("dept:0", 2L)))
    // subquery-only body is a valid group pattern
    val solo = BgpPlanner.query(tinyStore,
      """select ?n where { { select (count(?P) as ?n) where { ?P worksFor ?D } } }""")
    assert(solo.collect().map(_.getAs[Long]("n")).toSeq == Seq(3L))
  }

  test("BOUND filters and COALESCE defaults over OPTIONAL nulls") {
    // profs without email: prof:2 (negation by failure)
    val unbound = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D .
        | OPTIONAL { ?A email ?E } . FILTER (!BOUND(?E)) }""".stripMargin)
    assert(unbound.collect().map(_.getString(0)).toSet == Set("prof:2"))
    val bound = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D .
        | OPTIONAL { ?A email ?E } . FILTER (BOUND(?E)) }""".stripMargin)
    assert(bound.collect().map(_.getString(0)).toSet == Set("prof:0", "prof:1"))
    val coal = BgpPlanner.query(tinyStore,
      """select ?A ?E2 where { ?A worksFor ?D .
        | OPTIONAL { ?A email ?E } .
        | BIND (coalesce(?E, "none") AS ?E2) }""".stripMargin)
    assert(coal.collect().map(r =>
        (r.getAs[String]("A"), r.getAs[String]("E2"))).toSet ==
      Set(("prof:0", "p0@u.edu"), ("prof:1", "p1@u.edu"), ("prof:2", "none")))
  }

  test("COUNT(DISTINCT ?v) collapses duplicates; plain COUNT keeps the bag") {
    val out = BgpPlanner.query(tinyStore,
      """select ?D (count(distinct ?D2) as ?nd) (count(?P) as ?np)
        |where { ?P worksFor ?D . ?P worksFor ?D2 } group by ?D""".stripMargin)
    val rows = out.collect().map(r => (r.getAs[String]("D"),
      r.getAs[Long]("nd"), r.getAs[Long]("np"))).toSet
    // dept:0 has 2 profs, each worksFor 1 dept ⇒ nd=1, np=2
    assert(rows == Set(("dept:0", 1L, 2L), ("dept:1", 1L, 1L)))
    intercept[IllegalArgumentException](Sparql.parse(
      "select (min(distinct ?X) as ?m) where { ?X worksFor ?D }"))
  }

  test("sequence paths inside OPTIONAL and MINUS blocks stay block-local") {
    // OPTIONAL { ?A advisor/worksFor ?D2 }: only stud:0 matches; others
    // keep a null ?D2
    val opt = BgpPlanner.query(tinyStore,
      """select ?A ?D2 where { ?A memberOf ?D .
        | OPTIONAL { ?A advisor/worksFor ?D2 } }""".stripMargin)
    assert(opt.collect().map(r =>
        (r.getAs[String]("A"), r.getAs[String]("D2"))).toSet ==
      Set(("stud:0", "dept:0")))
    // MINUS { ?A advisor/worksFor ?D }: removes stud:0's dept:0 row
    val minus = BgpPlanner.query(tinyStore,
      """select ?A ?D where { ?A memberOf ?D .
        | MINUS { ?A advisor/worksFor ?D } }""".stripMargin)
    assert(minus.collect().isEmpty)
  }

  test("lexical-value features decode on demand over the encoded store") {
    // every feature that used to reject encoded stores now decodes
    // just the columns its expression touches and must match the
    // string-form store exactly (differential)
    val enc = TripleStore.encode(tinyStore)
    def both(q: String): Set[Seq[Any]] = {
      val a = BgpPlanner.query(tinyStore, q).collect().map(_.toSeq).toSet
      val b = BgpPlanner.query(enc, q).collect().map(_.toSeq).toSet
      assert(a == b, s"string vs encoded store diverged for:\n$q\n$a\n$b")
      a
    }
    // BIND over decoded values, FILTER over the computed alias
    assert(both("""select ?A ?T where { ?A name ?N .
      | BIND (concat(?N, "!") AS ?T) . FILTER (?T != "FullProfessor1!") }"""
      .stripMargin) == Set(Seq("prof:0", "FullProfessor0!")))
    // sub-SELECT: inner plan decodes at its edge, join vars re-encode
    assert(both("""select ?A where { ?A worksFor ?D .
      | { select ?D where { ?X memberOf ?D } } }""".stripMargin)
      == Set(Seq("prof:0"), Seq("prof:1")))
    // regex and ordering comparisons decode per-clause
    assert(both("""select ?A ?N where { ?A name ?N .
      | FILTER regex(?N, "essor0") }""".stripMargin)
      == Set(Seq("prof:0", "FullProfessor0")))
    assert(both("""select ?N1 ?N2 where { ?A name ?N1 . ?B name ?N2 .
      | FILTER (?N1 < ?N2) }""".stripMargin)
      == Set(Seq("FullProfessor0", "FullProfessor1")))
    // OPTIONAL null bindings survive the edge decode (left_outer dict
    // join — an inner join would drop a row whose decoded columns are
    // all null); prof:2 has no email
    assert(both("""select ?E where { ?A worksFor dept:1 .
      | OPTIONAL { ?A email ?E } }""".stripMargin) == Set(Seq(null)))
    // a multi-conjunct single-disjunct clause folds each leaf through
    // its own route: the var-constant ordering leaf semi-joins the
    // filtered dict, the var-var leaf decodes both sides
    assert(both("""select ?N ?E where { ?A name ?N . ?A email ?E .
      | FILTER (?E > ?N && ?E <= "q") }""".stripMargin)
      == Set(Seq("p0@u.edu", "FullProfessor0"), // (E, N): lexicographic canon
             Seq("p1@u.edu", "FullProfessor1")))
  }

  test("PREFIX declarations expand declared names and leave the rest opaque") {
    // declared prefix → full IRI constant
    val q = Sparql.parse(
      """PREFIX x: <http://x#>
        |select ?A where { ?A x:worksFor <http://dept0> }""".stripMargin)
    assert(q.patterns.head.p == Const("http://x#worksFor"))
    assert(q.patterns.head.o == Const("http://dept0"))
    // undeclared colon tokens stay verbatim (reference grammar parity)
    val bare = Sparql.parse("select ?A where { ?A rdf:type ?B }")
    assert(bare.patterns.head.p == Const("rdf:type"))
    // quoted literals never expand; '<' as comparison survives the scan
    val mixed = Sparql.parse(
      """PREFIX a: <urn:>
        |select ?X ?N where { ?X a:name ?N . ?X a:alias "a:b" .
        | FILTER (?N < ?X) }""".stripMargin)
    assert(mixed.patterns.map(_.p).toSet ==
      Set(Const("urn:name"), Const("urn:alias")))
    assert(mixed.patterns.exists(_.o == Const("a:b")))
    assert(mixed.filters.nonEmpty)
    // end-to-end: empty-base prefix resolves to the store's tokens
    val out = BgpPlanner.query(tinyStore,
      """PREFIX g: <>
        |select ?A ?B where { ?A g:worksFor ?B }""".stripMargin)
    assert(out.collect().map(_.toSeq).toSet ==
      BgpPlanner.query(tinyStore,
        "select ?A ?B where { ?A worksFor ?B }").collect().map(_.toSeq).toSet)
  }

  test("multi-variable VALUES joins bound vars and binds unbound ones") {
    // ?D bound by the pattern (restricts), ?T unbound (binds)
    val out = BgpPlanner.query(tinyStore,
      """select ?A ?D ?T where { ?A worksFor ?D .
        | VALUES (?D ?T) { ("dept:0" "eng") ("dept:9" "ghost") } }"""
        .stripMargin)
    assert(out.collect().map(_.toSeq).toSet == Set(
      Seq("prof:0", "dept:0", "eng"), Seq("prof:1", "dept:0", "eng")))
    // the encoded store joins the same table in id space
    val enc = BgpPlanner.query(TripleStore.encode(tinyStore),
      """select ?A ?D ?T where { ?A worksFor ?D .
        | VALUES (?D ?T) { ("dept:0" "eng") ("dept:9" "ghost") } }"""
        .stripMargin)
    assert(enc.collect().map(_.toSeq).toSet == Set(
      Seq("prof:0", "dept:0", "eng"), Seq("prof:1", "dept:0", "eng")))
    // arity mismatch rejects
    intercept[IllegalArgumentException](Sparql.parse(
      """select ?A where { ?A worksFor ?D .
        | VALUES (?D ?T) { ("dept:0") } }""".stripMargin))
  }

  test("sub-SELECT inside OPTIONAL keeps left-join semantics") {
    def both(q: String): Set[Seq[Any]] = {
      val enc = TripleStore.encode(tinyStore)
      val a = BgpPlanner.query(tinyStore, q).collect().map(_.toSeq).toSet
      val b = BgpPlanner.query(enc, q).collect().map(_.toSeq).toSet
      assert(a == b, s"string vs encoded store diverged for:\n$q\n$a\n$b")
      a
    }
    // the aggregate-as-OPTIONAL idiom: rows WITHOUT a subquery match
    // must survive with a null count — hoisting the subquery to the
    // top level would inner-join prof:1 away
    assert(both(
      """select ?A ?E ?n where { ?A email ?E .
        | OPTIONAL { { select ?A (count(?X) as ?n)
        |             where { ?X advisor ?A } group by ?A } } }"""
        .stripMargin) ==
      Set(Seq("prof:0", "p0@u.edu", 1L), Seq("prof:1", "p1@u.edu", null)))
    // a block mixing patterns and a sub-SELECT: the subquery restricts
    // the BLOCK (inner join inside), the block still left-joins — so
    // prof:1's email nulls out even though the email triple exists
    assert(both(
      """select ?A ?E ?n where { ?A worksFor ?D .
        | OPTIONAL { ?A email ?E .
        |   { select ?A (count(?X) as ?n)
        |     where { ?X advisor ?A } group by ?A } } }"""
        .stripMargin) ==
      Set(Seq("prof:0", "p0@u.edu", 1L), Seq("prof:1", null, null),
        Seq("prof:2", null, null)))
    // plain (non-aggregate) sub-SELECT inside OPTIONAL
    assert(both(
      """select ?A ?D where { ?A memberOf ?D .
        | OPTIONAL { ?A advisor ?P . { select ?P where { ?P worksFor ?D2 } } } }"""
        .stripMargin) == Set(Seq("stud:0", "dept:0")))
  }

  test("sub-SELECT inside a SERVICE body parses through the full grammar") {
    // the top-level extractor leaves block-nested sub-SELECTs in
    // place, so the SERVICE body ships verbatim and its own recursive
    // parse extracts the subquery at depth 0
    ServiceRegistry.register("graft://svcsub", TripleStore.fromTriples(
      Seq(("p:a", "worksFor", "dept:0"), ("p:b", "worksFor", "dept:0"),
        ("p:c", "worksFor", "dept:9")).toDF("s", "p", "o")))
    val out = BgpPlanner.query(tinyStore,
      """select ?D ?n where { ?S memberOf ?D .
        | SERVICE <graft://svcsub> {
        |   { select ?D (count(?P) as ?n) where { ?P worksFor ?D }
        |     group by ?D } } }""".stripMargin)
    assert(out.collect().map(r =>
        (r.getAs[String]("D"), r.getAs[Long]("n"))).toSet ==
      Set(("dept:0", 2L)))
  }

  test("sub-SELECT inside MINUS restricts the removal set") {
    def both(q: String): Set[Seq[Any]] = {
      val enc = TripleStore.encode(tinyStore)
      val a = BgpPlanner.query(tinyStore, q).collect().map(_.toSeq).toSet
      val b = BgpPlanner.query(enc, q).collect().map(_.toSeq).toSet
      assert(a == b, s"string vs encoded store diverged for:\n$q\n$a\n$b")
      a
    }
    // the block subquery binds ?A = advised profs (prof:0); MINUS
    // removes outer solutions sharing that binding
    assert(both(
      """select ?A ?D where { ?A worksFor ?D .
        | MINUS { { select ?A where { ?X advisor ?A } } } }""".stripMargin) ==
      Set(Seq("prof:1", "dept:0"), Seq("prof:2", "dept:1")))
  }

  test("sub-SELECT inside UNION branches unions like branch patterns") {
    def both(q: String): Seq[Seq[Any]] = {
      val enc = TripleStore.encode(tinyStore)
      val a = BgpPlanner.query(tinyStore, q).collect().map(_.toSeq)
        .sortBy(_.mkString("|")).toSeq
      val b = BgpPlanner.query(enc, q).collect().map(_.toSeq)
        .sortBy(_.mkString("|")).toSeq
      assert(a == b, s"string vs encoded store diverged for:\n$q\n$a\n$b")
      a
    }
    // both branches are aggregate subqueries exporting the same vars
    assert(both(
      """select ?D ?n where {
        | { { select ?D (count(?P) as ?n) where { ?P worksFor ?D }
        |     group by ?D } }
        | UNION
        | { { select ?D (count(?S) as ?n) where { ?S memberOf ?D }
        |     group by ?D } } }""".stripMargin) ==
      Seq(Seq("dept:0", 1L), Seq("dept:0", 2L), Seq("dept:1", 1L)))
    // one branch mixes patterns with a (non-aggregate) subquery, the
    // other is a plain pattern branch — same visible var set
    assert(both(
      """select ?A ?D where {
        | { ?A worksFor ?D . { select ?A where { ?A email ?E } } }
        | UNION
        | { ?A memberOf ?D } }""".stripMargin) ==
      Seq(Seq("prof:0", "dept:0"), Seq("prof:1", "dept:0"),
        Seq("stud:0", "dept:0")))
    // an aggregate alias in one branch colliding with a pattern var in
    // another would union computed values with store terms — loud
    val e = intercept[IllegalArgumentException](Sparql.parse(
      """select ?D ?n where {
        | { { select ?D (count(?P) as ?n) where { ?P worksFor ?D }
        |     group by ?D } }
        | UNION
        | { ?n memberOf ?D } }""".stripMargin))
    assert(e.getMessage.contains("aggregate alias"))
  }

  test("OPTIONAL-scoped FILTER may reference the block subquery's exports") {
    // the filter applies AFTER the block combines its patterns with
    // the subquery, so it restricts the block (nulling the outer
    // row's block vars), never the outer solution
    val out = BgpPlanner.query(tinyStore,
      """select ?A ?E ?n where { ?A email ?E .
        | OPTIONAL { { select ?A (count(?X) as ?n)
        |             where { ?X advisor ?A } group by ?A } .
        |   FILTER (?n > 1) } }""".stripMargin)
    // prof:0 has ONE advisee -> the filter drops the block row, but
    // prof:0's outer email row must survive with a null ?n
    assert(out.collect().map(_.toSeq).toSet ==
      Set(Seq("prof:0", "p0@u.edu", null), Seq("prof:1", "p1@u.edu", null)))
  }

  test("sub-SELECT inside EXISTS/NOT EXISTS restricts via the block relation") {
    def both(q: String): Set[Seq[Any]] = {
      val enc = TripleStore.encode(tinyStore)
      val a = BgpPlanner.query(tinyStore, q).collect().map(_.toSeq).toSet
      val b = BgpPlanner.query(enc, q).collect().map(_.toSeq).toSet
      assert(a == b, s"string vs encoded store diverged for:\n$q\n$a\n$b")
      a
    }
    // EXISTS over a bare subquery: keep profs somebody is advised by
    assert(both(
      """select ?A ?D where { ?A worksFor ?D .
        | FILTER EXISTS { { select ?A where { ?X advisor ?A } } } }"""
        .stripMargin) == Set(Seq("prof:0", "dept:0")))
    // NOT EXISTS flips it
    assert(both(
      """select ?A ?D where { ?A worksFor ?D .
        | FILTER NOT EXISTS { { select ?A where { ?X advisor ?A } } } }"""
        .stripMargin) ==
      Set(Seq("prof:1", "dept:0"), Seq("prof:2", "dept:1")))
    // subquery + patterns inside one block combine before the semi
    // join: an aggregate subquery restricted by a block pattern
    assert(both(
      """select ?A ?E where { ?A email ?E .
        | FILTER EXISTS { ?A worksFor ?D .
        |   { select ?A (count(?X) as ?adv)
        |     where { ?X advisor ?A } group by ?A } } }""".stripMargin) ==
      Set(Seq("prof:0", "p0@u.edu")))
    // and the alias-collision guard covers EXISTS blocks too
    val e = intercept[IllegalArgumentException](Sparql.parse(
      """select ?A where { ?A worksFor ?E .
        | FILTER EXISTS { { select ?A (count(?X) as ?E)
        |   where { ?X advisor ?A } group by ?A } } }""".stripMargin))
    assert(e.getMessage.contains("aggregate alias"))
  }

  test("SERVICE with a variable endpoint groups outer bindings per endpoint") {
    ServiceRegistry.register("graft://va", TripleStore.fromTriples(Seq(
      ("prof:0", "val", "a0"), ("prof:1", "val", "a1"),
      ("prof:9", "val", "a9")).toDF("s", "p", "o")))
    ServiceRegistry.register("graft://vb", TripleStore.fromTriples(Seq(
      ("prof:1", "val", "b1"), ("prof:2", "val", "b2")).toDF("s", "p", "o")))
    val outer = TripleStore.fromTriples(Seq(
      ("prof:0", "ep", "graft://va"),
      ("prof:1", "ep", "graft://vb"),
      ("prof:2", "ep", "graft://vb"),
      ("prof:3", "ep", "graft://vb")).toDF("s", "p", "o"))
    val q =
      """select ?x ?e ?v where { ?x ep ?e .
        | SERVICE ?e { ?x val ?v } }""".stripMargin
    def run(st: TripleStore): Set[(String, String, String)] =
      BgpPlanner.query(st, q).collect()
        .map(r => (r.getAs[String]("x"), r.getAs[String]("e"),
          r.getAs[String]("v"))).toSet
    val want = Set(
      ("prof:0", "graft://va", "a0"),   // evaluated AT va only
      ("prof:1", "graft://vb", "b1"),   // vb's binding, never va's a1
      ("prof:2", "graft://vb", "b2"))   // prof:3 has no remote row
    assert(run(outer) == want)
    assert(run(TripleStore.encode(outer)) == want,
      "variable endpoints must work on the encoded store (decode, " +
        "evaluate per endpoint, re-encode the tag)")
    // unbound endpoint var rejects loudly
    val e = intercept[IllegalArgumentException](BgpPlanner.query(outer,
      "select ?v where { SERVICE ?nowhere { ?x val ?v } }"))
    assert(e.getMessage.contains("endpoint variable"))
  }

  test("sub-SELECT aggregate alias colliding with a pattern var rejects everywhere") {
    // OPTIONAL-scoped: the alias ?n is also bound by an outer pattern —
    // joining computed counts against store terms (and on an encoded
    // store the shared column's lexical marking skips the id decode)
    val e1 = intercept[IllegalArgumentException](Sparql.parse(
      """select ?A where { ?A worksFor ?n .
        | OPTIONAL { { select ?A (count(?X) as ?n)
        |             where { ?X advisor ?A } group by ?A } } }""".stripMargin))
    assert(e1.getMessage.contains("aggregate alias"))
    // MINUS-scoped
    val e2 = intercept[IllegalArgumentException](Sparql.parse(
      """select ?A ?n where { ?A worksFor ?D . ?A email ?n .
        | MINUS { { select ?A (count(?X) as ?n)
        |          where { ?X advisor ?A } group by ?A } } }""".stripMargin))
    assert(e2.getMessage.contains("aggregate alias"))
    // top-level
    val e3 = intercept[IllegalArgumentException](Sparql.parse(
      """select ?A ?n where { ?A email ?n .
        | { select ?A (count(?X) as ?n)
        |   where { ?X advisor ?A } group by ?A } }""".stripMargin))
    assert(e3.getMessage.contains("aggregate alias"))
  }

  test("literal braces never misbalance block-scoped sub-SELECT extraction") {
    // a '}' inside a string literal would (quote-blind) zero the
    // block-depth counter and hoist the OPTIONAL's sub-SELECT to the
    // top level — silently turning the left join into an inner join
    val parsed = Sparql.parse(
      """select ?A ?E ?n where { ?A email ?E .
        | OPTIONAL { ?A note "}" .
        |   { select ?A (count(?X) as ?n)
        |     where { ?X advisor ?A } group by ?A } } }""".stripMargin)
    assert(parsed.subqueries.isEmpty)
    assert(parsed.optionalSubqueries.flatten.size == 1)
  }

  test("sub-SELECT inside GRAPH: constant graph parses, variable rejects") {
    // constant graph term: the block's sub-SELECT is evaluated with the
    // named graph as the active graph (the q394 semantics)
    val ok = Sparql.parse(
      """select ?A where {
        | GRAPH g:one { { select ?A where { ?A email ?E } } } }""".stripMargin)
    assert(ok.graphSubqueries.flatten.size == 1)
    // variable graph term still rejects loudly (per-graph aggregate
    // evaluation is unsupported by design)
    val e = intercept[IllegalArgumentException](Sparql.parse(
      """select ?g ?A where {
        | GRAPH ?g { { select ?A where { ?A email ?E } } } }""".stripMargin))
    assert(e.getMessage.contains("CONSTANT graph term"))
  }

  test("measured pair merging seeds the chain with the merged subquery") {
    // DREAM's vertex merging (Optimizer.cpp:470-566): patterns 1⋈2
    // measure to 2 rows while the cheapest SINGLE is pattern 0 at 10 —
    // the merged pair must seed the chain, which one-at-a-time greedy
    // can never do
    val pats = Seq(
      TriplePattern(Var("a"), Const("p0"), Var("b")),
      TriplePattern(Var("b"), Const("p1"), Var("c")),
      TriplePattern(Var("c"), Const("p2"), Var("d")))
    val cost = (i: Int) => if (i == 0) 10L else 1000L
    val pairCost = (i: Int, j: Int) =>
      if (Set(i, j) == Set(1, 2)) Some(2L) else None
    assert(BgpPlanner.chainOrder(pats, cost, pairCost) == Seq(1, 2, 0))
    // merged pair NOT under the cheapest single → classic cheapest seed
    val bigPair = (i: Int, j: Int) =>
      if (Set(i, j) == Set(1, 2)) Some(50L) else None
    assert(BgpPlanner.chainOrder(pats, cost, bigPair) == Seq(0, 1, 2))
  }

  test("merged-seed plan stays differentially equal to the unmeasured plan") {
    val q = Sparql.parse(
      """select ?P ?D ?N where {
        | ?P worksFor ?D . ?P name ?N . ?S advisor ?P }""".stripMargin)
    // force the (worksFor, name) pair to seed as a merged subquery
    val measured = Map(
      BgpPlanner.pairKey(q.patterns(0), q.patterns(1)) -> 1L,
      BgpPlanner.patternKey(q.patterns(0)) -> 500L,
      BgpPlanner.patternKey(q.patterns(1)) -> 500L,
      BgpPlanner.patternKey(q.patterns(2)) -> 500L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val plain = rows(BgpPlanner.plan(tinyStore, q))
    val merged = rows(BgpPlanner.plan(tinyStore, q, measured))
    assert(plain == merged && plain.nonEmpty)
  }

  test("pair-measured join cardinalities override single-pattern chain order") {
    val pats = Seq(
      TriplePattern(Var("x"), Const("p0"), Var("y")),
      TriplePattern(Var("y"), Const("p1"), Var("z")),
      TriplePattern(Var("x"), Const("p2"), Var("w")))
    val cost = (_: Int) => 1000L // singles indistinguishable
    // joining 0⋈1 explodes, 0⋈2 collapses — measured, not guessed
    val pairCost = (i: Int, j: Int) => Set(i, j) match {
      case s if s == Set(0, 1) => Some(50000L)
      case s if s == Set(0, 2) => Some(3L)
      case _ => None
    }
    assert(BgpPlanner.chainOrder(pats, cost, pairCost) == Seq(0, 2, 1))
    // without pair measurements the tie breaks by index instead
    assert(BgpPlanner.chainOrder(pats, cost) == Seq(0, 1, 2))
    // pair keys normalize variables jointly: shared-var and
    // disconnected pairs must not collide
    val shared = BgpPlanner.pairKey(pats(0), pats(1))
    val disjoint = BgpPlanner.pairKey(pats(0),
      TriplePattern(Var("a"), Const("p1"), Var("b")))
    assert(shared != disjoint)
    // symmetric: argument order never changes the key
    assert(BgpPlanner.pairKey(pats(1), pats(0)) == shared)
  }

  test("ASK reduces to one boolean row; SELECT * projects all bound vars") {
    assert(BgpPlanner.ask(tinyStore,
      "ask where { ?S advisor ?A }").collect()(0).getBoolean(0))
    assert(!BgpPlanner.ask(tinyStore,
      "ask where { ?S advisor dept:1 }").collect()(0).getBoolean(0))
    val star = BgpPlanner.query(tinyStore, "select * where { ?A worksFor ?D }")
    assert(star.columns.toSeq == Seq("A", "D"))
    assert(star.count() == 3)
  }

  test("CONSTRUCT emits template triples per solution, constants as literals") {
    val out = BgpPlanner.construct(tinyStore,
      """construct { ?A employedBy ?D . ?A rdf:type "Employee" }
        |where { ?A worksFor ?D }""".stripMargin)
    assert(out.columns.toSeq == Seq("s", "p", "o"))
    val rows = out.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows.contains(("prof:0", "employedBy", "dept:0")))
    assert(rows.contains(("prof:2", "rdf:type", "Employee")))
    assert(out.count() == 6) // 3 solutions × 2 templates, bag semantics
  }

  test("CONSTRUCT WHERE shorthand desugars to template = pattern") {
    val short = BgpPlanner.construct(tinyStore,
      "construct where { ?A worksFor ?D }")
    val full = BgpPlanner.construct(tinyStore,
      "construct { ?A worksFor ?D } where { ?A worksFor ?D }")
    val canon = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(canon(short) == canon(full))
    assert(short.count() == 3)
    // the spec restricts the shorthand body to plain triple patterns:
    // a FILTER in the body must be rejected, not silently dropped
    intercept[IllegalArgumentException](Sparql.parseConstruct(
      """construct where { ?A worksFor ?D . FILTER (?A = "prof:0") }"""))
  }

  test("VALUES restricts a bound var and binds an unbound one") {
    val out = BgpPlanner.query(tinyStore,
      """select ?A where { ?A worksFor ?D . VALUES ?A { prof:0 prof:2 } }""")
    assert(out.collect().map(_.getString(0)).toSet == Set("prof:0", "prof:2"))
    val unbound = BgpPlanner.query(tinyStore,
      """select ?A ?T where { ?A worksFor dept:0 . VALUES ?T { "x" } }""")
    assert(unbound.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("prof:0", "x"), ("prof:1", "x")))
    intercept[IllegalArgumentException](Sparql.parse(
      "select ?A where { ?A worksFor ?D . VALUES ?A { } }"))
  }

  test("inverse path ^p matches with subject and object swapped") {
    val out = BgpPlanner.query(tinyStore,
      "select ?D ?W where { ?D ^worksFor ?W }")
    val rows = out.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(
      ("dept:0", "prof:0"), ("dept:0", "prof:1"), ("dept:1", "prof:2")))
    intercept[IllegalArgumentException](
      Sparql.parse("select ?X where { ^a worksFor ?X }"))
  }

  test("alternation path p1|p2 is the bag union of the slices") {
    val out = BgpPlanner.query(tinyStore,
      "select ?X ?Y where { ?X worksFor|memberOf ?Y }")
    assert(out.count() == 4) // 3 worksFor + 1 memberOf
    assert(out.collect().map(_.getString(1)).toSet == Set("dept:0", "dept:1"))
    // URIs containing '|' stay constants
    val t = Sparql.parse("select ?X where { ?X <http://a|b> ?Y }")
    assert(t.patterns.head.p == Const("http://a|b"))
  }

  test("FILTER compares two variables") {
    val out = BgpPlanner.query(tinyStore,
      """select ?N1 ?N2 where { ?A worksFor ?D . ?B worksFor ?D .
        | ?A name ?N1 . ?B name ?N2 . FILTER (?N1 < ?N2) }""".stripMargin)
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("FullProfessor0", "FullProfessor1")))
    // var-vs-var equality works on the encoded store too
    val enc = TripleStore.encode(tinyStore)
    val eq = BgpPlanner.query(enc,
      """select ?A ?B where { ?A worksFor ?D . ?B memberOf ?D .
        | FILTER (?A != ?B) }""".stripMargin)
    assert(eq.count() == 2) // prof:0/prof:1 vs stud:0
  }

  test("chain order follows measured cardinalities over the constness heuristic") {
    val q = Sparql.parse(
      """select ?A ?N where { ?A worksFor dept:0 . ?A name ?N . ?A email ?E }""")
    // cold start: all three patterns tie on the heuristic → chain starts
    // at pattern 0 (stable tie-break)
    val cold = BgpPlanner.chainOrder(q.patterns,
      i => BgpPlanner.heuristicCost(q.patterns(i)))
    assert(cold.head == 0)
    // measured: the email slice is by far the smallest → it seeds the
    // chain even though constness says otherwise
    val measured = Map(
      BgpPlanner.patternKey(q.patterns(0)) -> 100000L,
      BgpPlanner.patternKey(q.patterns(1)) -> 50000L,
      BgpPlanner.patternKey(q.patterns(2)) -> 3L)
    val warm = BgpPlanner.chainOrder(q.patterns,
      i => measured(BgpPlanner.patternKey(q.patterns(i))))
    assert(warm == Seq(2, 1, 0) || warm.head == 2)
  }

  test("pattern keys canonicalize variables, keep constants and self-joins distinct") {
    def pat(q: String) = Sparql.parse(q).patterns.head
    assert(BgpPlanner.patternKey(pat("select ?A where { ?A worksFor ?B }")) ==
      BgpPlanner.patternKey(pat("select ?X where { ?X worksFor ?Y }")))
    assert(BgpPlanner.patternKey(pat("select ?A where { ?A loves ?A }")) !=
      BgpPlanner.patternKey(pat("select ?A where { ?A loves ?B }")))
    assert(BgpPlanner.patternKey(pat("select ?A where { ?A worksFor dept:0 }")) !=
      BgpPlanner.patternKey(pat("select ?A where { ?A worksFor dept:1 }")))
  }

  test("measure-then-plan records stats and short-circuits measured-empty patterns") {
    val statsPath = java.nio.file.Files
      .createTempDirectory("coststats").resolve("stats.tsv").toString
    val stats = new graft.tools.CostStats(statsPath)
    val q = "select ?A ?N where { ?A worksFor dept:99 . ?A name ?N }"
    // first run measures both patterns AND their pair subquery;
    // dept:99 is empty → −1 markers
    val first = BgpPlanner.queryMeasured(tinyStore, q, stats)
    assert(first.count() == 0)
    val recorded = stats.load()
    assert(recorded.size == 3)
    assert(recorded.keys.count(_.contains("|><|")) == 1)
    assert(stats.knownEmpty(
      BgpPlanner.patternKey(Sparql.parse(q).patterns.head)))
    // second run plans from the cache: the empty pattern short-circuits
    // to a LocalRelation — Catalyst propagates the empty relation
    // through the join without touching any slice
    val second = BgpPlanner.queryMeasured(tinyStore, q, stats)
    assert(second.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(second.count() == 0)
    assert(second.columns.toSeq == Seq("A", "N"))
  }

  /** tinyStore plus two named graphs: gA holds dept:0's employment
    * edges, gB dept:1's.
    */
  private def quadStore: TripleStore = tinyStore.copy(quads = Some(
    Seq(
      ("gA", "prof:0", "worksFor", "dept:0"),
      ("gA", "prof:1", "worksFor", "dept:0"),
      ("gB", "prof:2", "worksFor", "dept:1"),
      ("gA", "prof:0", "name", "FullProfessor0"),
      ("gB", "prof:2", "name", "FullProfessor2")
    ).toDF("g", "s", "p", "o")))

  test("GRAPH with a constant term scopes patterns to one named graph") {
    val out = BgpPlanner.query(quadStore,
      """select ?A where { GRAPH gA { ?A worksFor dept:0 } }""")
    assert(out.collect().map(_.getString(0)).toSet == Set("prof:0", "prof:1"))
    // the same pattern in gB matches nothing
    val empty = BgpPlanner.query(quadStore,
      """select ?A where { GRAPH gB { ?A worksFor dept:0 } }""")
    assert(empty.count() == 0)
  }

  test("GRAPH with a variable term binds the graph; block joins stay same-graph") {
    val out = BgpPlanner.query(quadStore,
      """select ?G ?A ?N where { GRAPH ?G { ?A worksFor ?D . ?A name ?N } }""")
    // prof:1 has worksFor in gA but no name there — only same-graph
    // combinations survive
    assert(out.collect().map(r => (r.getAs[String]("G"),
        r.getAs[String]("A"), r.getAs[String]("N"))).toSet ==
      Set(("gA", "prof:0", "FullProfessor0"),
        ("gB", "prof:2", "FullProfessor2")))
    // GRAPH composes with the default-graph chain on shared vars
    val mixed = BgpPlanner.query(quadStore,
      """select ?G ?A ?E where {
        | ?A email ?E .
        | GRAPH ?G { ?A name ?N } }""".stripMargin)
    assert(mixed.collect().map(r =>
        (r.getAs[String]("G"), r.getAs[String]("A"))).toSet ==
      Set(("gA", "prof:0")))
  }

  test("GRAPH on a store without quads fails loudly") {
    intercept[IllegalArgumentException] {
      BgpPlanner.query(tinyStore,
        """select ?A where { GRAPH gA { ?A worksFor dept:0 } }""").collect()
    }
  }

  test("encoded GRAPH p-var sharing an id-space position rejects query-wide") {
    import org.apache.spark.sql.functions.xxhash64
    val enc = TripleStore.encode(tinyStore).copy(quads = Some(
      Seq(("gA", "prof:0", "worksFor", "dept:0"))
        .toDF("g", "s", "p", "o")
        .select(xxhash64($"g").as("g"), xxhash64($"s").as("s"), $"p",
          xxhash64($"o").as("o"))))
    // same-pattern repeat (the round-10 guard's case) still rejects
    intercept[IllegalArgumentException](BgpPlanner.query(enc,
      "select ?x where { GRAPH gA { ?x ?x ?b } }"))
    // the p-var is the SUBJECT of a sibling pattern in the block —
    // lexical p would join an id column: must reject, not match nothing
    intercept[IllegalArgumentException](BgpPlanner.query(enc,
      "select ?a where { GRAPH gA { ?a ?x ?b . ?x ?y ?c } }"))
    // the p-var is an s/o var of the MAIN BGP outside the block
    intercept[IllegalArgumentException](BgpPlanner.query(enc,
      """select ?a where { ?x worksFor ?d .
        | GRAPH gA { ?a ?x ?b } }""".stripMargin))
    // a genuinely lexical-only p-var still plans fine on the same store
    assert(BgpPlanner.query(enc,
      "select ?a ?x ?b where { GRAPH gA { ?a ?x ?b } }")
      .collect().map(_.getAs[String]("x")).toSet == Set("worksFor"))
  }

  test("DESCRIBE returns every triple incident to the described resources") {
    val out = BgpPlanner.describe(tinyStore,
      """describe ?P where { ?P name "FullProfessor0" }""")
    assert(out.columns.toSeq == Seq("s", "p", "o"))
    assert(out.collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      Set(
        ("prof:0", "worksFor", "dept:0"),
        ("prof:0", "name", "FullProfessor0"),
        ("prof:0", "email", "p0@u.edu"),
        ("stud:0", "advisor", "prof:0"))) // incoming edge included
    // the constant form describes the named node directly
    val direct = BgpPlanner.describe(tinyStore, "describe <dept:1>")
    assert(direct.collect().map(_.toSeq).toSet ==
      Set(Seq("prof:2", "worksFor", "dept:1")))
  }

  test("grouped path (p1/p2)+ closes over the composed edge relation") {
    val st = TripleStore.fromTriples(Seq(
      ("a", "x", "m1"), ("m1", "y", "b"),
      ("b", "x", "m2"), ("m2", "y", "c"),
      ("c", "x", "m3"), ("m3", "y", "d"),
      ("q", "x", "m4") // dangling x without y: no composed edge
    ).toDF("s", "p", "o"))
    val out = BgpPlanner.query(st,
      "select ?A ?B where { ?A (x/y)+ ?B }")
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d")))
    // the * form adds the zero-length arm over the composed relation's
    // vertex set
    val star = BgpPlanner.query(st,
      "select ?A ?B where { ?A (x/y)* ?B }")
    assert(star.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("a", "a"), ("b", "b"), ("c", "c"), ("d", "d")))
  }

  test("STRBEFORE/STRAFTER split on first occurrence; absent needle gives \"\"") {
    val st = TripleStore.fromTriples(Seq(
      ("d:1", "title", "alpha_beta_gamma"),
      ("d:2", "title", "nodelimiter")
    ).toDF("s", "p", "o"))
    val out = BgpPlanner.query(st,
      """select ?S ?pre ?post where { ?S title ?T .
        | BIND (strbefore(?T, "_") AS ?pre) .
        | BIND (strafter(?T, "_") AS ?post) }""".stripMargin)
    // columns come back name-canonicalized — read by name
    val rows = out.collect().map(r =>
      (r.getString(r.fieldIndex("S")), r.getString(r.fieldIndex("pre")),
        r.getString(r.fieldIndex("post")))).toSet
    // first occurrence only: post keeps the remaining delimiters;
    // absent needle yields empty string on both sides, never NULL
    assert(rows == Set(
      ("d:1", "alpha", "beta_gamma"),
      ("d:2", "", "")))
  }

  test("SELECT (expr AS ?x) projection expressions desugar to a trailing BIND") {
    val st = TripleStore.fromTriples(Seq(
      ("d:1", "title", "alpha"),
      ("d:2", "title", "lengthier")
    ).toDF("s", "p", "o"))
    val out = BgpPlanner.query(st,
      """select ?S (concat(?T, "!") AS ?bang) (strlen(?T) AS ?n)
        |where { ?S title ?T }""".stripMargin)
    val rows = out.collect().map(r =>
      (r.getString(r.fieldIndex("S")), r.getString(r.fieldIndex("bang")),
        r.getLong(r.fieldIndex("n")))).toSet
    assert(rows == Set(("d:1", "alpha!", 5L), ("d:2", "lengthier!", 9L)))
    // the desugar must leave aggregate items alone...
    val agg = BgpPlanner.query(st,
      "select (count(?T) as ?c) where { ?S title ?T }")
    assert(agg.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // ...and reject expressions OVER aggregates instead of mis-scoping
    val err = intercept[IllegalArgumentException] {
      Sparql.parse("select (sum(?T) / count(?T) AS ?m) where { ?S title ?T }")
    }
    assert(err.getMessage.contains("projection expressions over aggregates"))
    // idempotent on queries without the form
    val q = "select ?S where { ?S title ?T }"
    assert(Sparql.desugarSelectExprs(q) == q)
  }

  test("numeric BIND functions follow fn:round tie semantics and hash " +
      "functions emit lowercase hex") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val data = Seq(("x:1", "val", "-5"), ("x:2", "val", "5"),
      ("x:3", "val", "7")).toDF("s", "p", "o")
    val st = TripleStore.fromTriples(data)
    val rows = BgpPlanner.query(st,
      """select ?s ?r ?c ?f ?a where {
        | ?s val ?v .
        | BIND (?v / 2 AS ?h) .
        | BIND (ROUND(?h) AS ?r) .
        | BIND (CEIL(?h) AS ?c) .
        | BIND (FLOOR(?h) AS ?f) .
        | BIND (ABS(?h) AS ?a) }""".stripMargin)
      .collect().map(r => r.getAs[String]("s") ->
        (r.getAs[Double]("r"), r.getAs[Double]("c"),
          r.getAs[Double]("f"), r.getAs[Double]("a")))
      .toMap
    // fn:round: ties toward +INF — round(-2.5) = -2, NOT -3
    assert(rows("x:1") == ((-2.0, -2.0, -3.0, 2.5)))
    assert(rows("x:2") == ((3.0, 3.0, 2.0, 2.5)))
    assert(rows("x:3") == ((4.0, 4.0, 3.0, 3.5)))
    val h = BgpPlanner.query(st,
      """select ?s ?m where {
        | ?s val ?v . BIND (MD5(?v) AS ?m) }""".stripMargin)
      .collect().map(r => r.getAs[String]("s") -> r.getAs[String]("m")).toMap
    assert(h("x:3") ==
      java.security.MessageDigest.getInstance("MD5").digest("7".getBytes)
        .map("%02x".format(_)).mkString)
  }

  test("term tests classify IRIs, blanks, literals, and numerics over " +
      "both encodings") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val data = Seq(
      ("t:1", "p", "nation:7"),                                    // IRI
      ("t:2", "p", "_:b0"),                                        // blank
      ("t:3", "p", "plain words"),                                 // literal
      ("t:4", "p", "42"),                                          // numeric
      ("t:5", "p", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("t:6", "p", "\"bonjour\"@fr")                               // tagged
    ).toDF("s", "p", "o")
    val plain = TripleStore.fromTriples(data)
    def q(test: String) = Sparql.parse(
      s"select ?s where { ?s p ?o . FILTER ($test(?o)) }")
    for (store <- Seq(plain, TripleStore.encode(plain))) {
      def run(query: Sparql.BgpQuery) = BgpPlanner.plan(store, query)
        .select(col("s")).collect().map(_.getString(0)).toSeq.sorted
      val tag = s"encoded=${store.encoded}"
      assert(run(q("isIRI")) == Seq("t:1"), tag)
      assert(run(q("isBlank")) == Seq("t:2"), tag)
      // literals: everything that is neither an IRI nor a blank node
      assert(run(q("isLiteral")) == Seq("t:3", "t:4", "t:5", "t:6"), tag)
      // numeric: lexical-typing reading (bare and typed numeric forms)
      assert(run(q("isNumeric")) == Seq("t:4", "t:5"), tag)
      assert(run(q("!isNumeric")) == Seq("t:1", "t:2", "t:3", "t:6"), tag)
    }
  }

  test("'<' comparisons inside SERVICE bodies and update scripts parse (not IRI openers)") {
    // a less-than FILTER inside a SERVICE block: braceBlock must not
    // latch into IRI mode on the comparison's '<'
    ServiceRegistry.register("graft://ages", TripleStore.fromTriples(
      Seq(("prof:0", "age", "45"), ("prof:1", "age", "61"))
        .toDF("s", "p", "o")))
    val rows = BgpPlanner.query(tinyStore,
      """select ?p ?a where {
        | ?p worksFor ?d .
        | SERVICE <graft://ages> { ?p age ?a . FILTER (?a < 50) } }"""
        .stripMargin).collect().map(r => (r.getString(1), r.getString(0)))
    assert(rows.toSet == Set(("prof:0", "45")))
    // and the no-space spelling
    assert(BgpPlanner.query(tinyStore,
      "select ?p where { ?p worksFor ?d . " +
        "SERVICE <graft://ages> { ?p age ?a . FILTER (?a<50) } }")
      .collect().map(_.getString(0)).toSeq == Seq("prof:0"))
    // a multi-op update script whose first op carries a '<' comparison
    // must still split on the top-level ';' (splitTop shares the fix)
    val st = SparqlUpdate.applyAll(spark, tinyStore,
      """DELETE { ?p email ?e } WHERE { ?p email ?e . ?p age2 ?a .
        | FILTER (?a < 50) } ;
        |INSERT DATA { prof:9 email "p9@u.edu" }""".stripMargin)
    assert(BgpPlanner.query(st, "select ?p ?e where { ?p email ?e }")
      .count() == 3) // nothing deleted (no age2 slice), one inserted
  }

  test("SERVICE SILENT failure leaves service-only vars unbound, not missing (§2.3)") {
    // projecting a service-ONLY var of a failed SILENT block must give
    // unbound (null), not an AnalysisException on a missing column
    val q =
      """select ?p ?dn where {
        | ?p worksFor ?d .
        | SERVICE SILENT <graft://unreachable> { ?d deptname ?dn } }"""
        .stripMargin
    for (st <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
      // output columns canonicalize to (dn, p) — dn is index 0
      val rows = BgpPlanner.query(st, q).collect()
      assert(rows.length == 3 && rows.forall(_.isNullAt(0)),
        s"encoded=${st.encoded}")
    }
    // the dead-HTTP-endpoint arm takes the same shape
    val rows2 = BgpPlanner.query(tinyStore,
      "select ?p ?dn where { ?p worksFor ?d . " +
        "SERVICE SILENT <http://localhost:9/sparql> { ?d deptname ?dn } }")
      .collect()
    assert(rows2.length == 3 && rows2.forall(_.isNullAt(0)))
  }

  test("bound-join seed re-encodes via dict join on a SEQUENTIAL remote store") {
    // a sequential remote's ids are dense counters: the xxhash64 seed
    // would match nothing and silently empty the block — the dict-join
    // seed must restore the results
    ServiceRegistry.register("graft://deptsseq", TripleStore.encodeSequential(
      TripleStore.fromTriples(
        Seq(("dept:0", "deptname", "Mathematics"),
          ("dept:1", "deptname", "Physics"),
          ("dept:9", "deptname", "Unstaffed")).toDF("s", "p", "o")),
      bands = 4))
    for (st <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
      val rows = BgpPlanner.query(st,
        """select ?p ?dn where {
          | ?p worksFor ?d .
          | SERVICE <graft://deptsseq> { ?d deptname ?dn } }""".stripMargin)
        .select("p", "dn").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(("prof:0", "Mathematics"),
        ("prof:1", "Mathematics"), ("prof:2", "Physics")),
        s"outer encoded=${st.encoded}")
    }
  }

  test("encoded Modify grows the dict for template vars bound to computed values") {
    // ?t binds from VALUES — a value the store has never seen; the
    // inserted term must decode on read-back, not NULL out
    val enc = TripleStore.encode(tinyStore)
    val st = SparqlUpdate.applyAll(spark, enc,
      """INSERT { ?p tag ?t } WHERE {
        | ?p worksFor dept:0 . VALUES ?t { "hot" } }""".stripMargin)
    val rows = BgpPlanner.query(st, "select ?p ?t where { ?p tag ?t }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("prof:0", "hot"), ("prof:1", "hot")))
    // BIND-computed values take the same path
    val st2 = SparqlUpdate.applyAll(spark, enc,
      """INSERT { ?p label ?l } WHERE {
        | ?p name ?n . BIND (CONCAT(?n, "!") AS ?l) }""".stripMargin)
    val rows2 = BgpPlanner.query(st2, "select ?l where { ?p label ?l }")
      .collect().map(_.getString(0)).toSet
    assert(rows2 == Set("FullProfessor0!", "FullProfessor1!"))
  }

  test("fromTriples slices read the persisted source, not a re-derivation per slice") {
    // a multi-slice query over an in-memory store must scan the CACHED
    // triple relation (InMemoryTableScan), not re-derive each slice
    // from the raw source per action
    val df = BgpPlanner.query(tinyStore,
      "select ?p ?d ?n where { ?p worksFor ?d . ?p name ?n }")
    // string-match: AQE wraps the physical plan, so node-collect misses
    // InMemoryTableScanExec under the AdaptiveSparkPlan boundary
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"expected InMemoryTableScan under the slice scans:\n$plan")
  }

  test("graft federates graft: SERVICE against our own SPARQL Protocol server") {
    // the reference's client/proxy request-response loop over the real
    // transport: SparqlServer exposes a store, SparqlHttp consumes it —
    // for every remote id regime (string, hash, sequential)
    val remoteData = Seq(
      ("dept:0", "deptname", "Mathematics"),
      ("dept:1", "deptname", "Physics"),
      ("dept:9", "deptname", "Unstaffed")).toDF("s", "p", "o")
    val plain = TripleStore.fromTriples(remoteData)
    for (remote <- Seq(plain, TripleStore.encode(plain),
        TripleStore.encodeSequential(plain, bands = 4))) {
      val h = SparqlServer.serve(remote)
      try {
        for (outer <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
          val rows = BgpPlanner.query(outer,
            s"""select ?p ?dn where {
               | ?p worksFor ?d .
               | SERVICE <${h.endpoint}> { ?d deptname ?dn } }"""
              .stripMargin)
            .select("p", "dn").collect()
            .map(r => (r.getString(0), r.getString(1))).toSet
          assert(rows == Set(("prof:0", "Mathematics"),
            ("prof:1", "Mathematics"), ("prof:2", "Physics")),
            s"remote seq=${remote.sequential} enc=${remote.encoded} " +
              s"outer enc=${outer.encoded}")
        }
      } finally h.stop()
    }
    // typed/tagged literals survive the JSON round-trip losslessly
    val typed = TripleStore.fromTriples(Seq(
      ("t:1", "val", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("t:2", "val", "\"bonjour\"@fr"),
      ("t:3", "val", "plain words")).toDF("s", "p", "o"))
    val h2 = SparqlServer.serve(typed)
    try {
      val got = BgpPlanner.query(tinyStore,
        s"select ?s ?v where { SERVICE <${h2.endpoint}> { ?s val ?v } }")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(
        ("t:1", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
        ("t:2", "\"bonjour\"@fr"), ("t:3", "plain words")))
    } finally h2.stop()
  }

  test("federation responses are bounded: oversized bodies fail loudly, never buffer") {
    // server-side row cap: the protocol's materialization point refuses
    // past maxRows instead of buffering an unbounded response
    intercept[IllegalStateException](
      SparqlServer.answer(tinyStore,
        "select ?s ?o where { ?s worksFor ?o }", maxRows = 1))
    // client-side byte cap: a mock endpoint streaming more than the cap
    // trips the loud IOException mid-stream
    val (server, ep) = mockEndpoint { ex =>
      val big = ("{\"head\":{\"vars\":[\"x\"]},\"results\":{\"bindings\":[" +
        "{\"x\":{\"type\":\"literal\",\"value\":\"" + "y" * 4000 +
        "\"}}]}}").getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type",
        "application/sparql-results+json")
      ex.sendResponseHeaders(200, big.length)
      ex.getResponseBody.write(big)
      ex.close()
    }
    try {
      val e = intercept[java.io.IOException](
        SparqlHttp.fetch(ep, "select ?x where { ?x p ?y }",
          maxBytes = 1024))
      assert(e.getMessage.contains("cap"))
      // and under the cap the same fetch parses fine
      assert(SparqlHttp.fetch(ep, "select ?x where { ?x p ?y }")
        .contains("bindings"))
    } finally server.stop(0)
  }

  test("COPY/MOVE of an empty source graph to DEFAULT keeps slice schemas") {
    val withQuads = SparqlUpdate.applyAll(spark, tinyStore,
      "INSERT DATA { GRAPH <g:a> { x:1 p:q x:2 } }")
    // the source graph names nothing: COPY must clear the default graph
    // (ClearDefault shape), leaving a store the planner can still plan
    val st = SparqlUpdate.apply(spark, withQuads,
      SparqlUpdate.GraphOp("COPY", Some("g:none"), None))
    assert(st.slices.nonEmpty)
    assert(BgpPlanner.query(st,
      "select ?p ?d where { ?p worksFor ?d }").count() == 0)
    val st2 = SparqlUpdate.apply(spark, withQuads,
      SparqlUpdate.GraphOp("MOVE", Some("g:none"), None))
    assert(BgpPlanner.query(st2,
      "select ?p where { ?p worksFor ?d }").count() == 0)
  }

  private def http(method: String, url: String, ctype: String = null,
      body: String = null, accept: String = null)
      : (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    if (accept != null) conn.setRequestProperty("Accept", accept)
    if (body != null) {
      conn.setDoOutput(true)
      if (ctype != null) conn.setRequestProperty("Content-Type", ctype)
      conn.getOutputStream.write(body.getBytes("UTF-8"))
    }
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (in == null) "" else new String(in.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, text)
  }

  test("protocol update arm: POST update= swaps the served store; GET is rejected") {
    val h = SparqlServer.serve(tinyStore)
    try {
      // raw application/sparql-update body
      val (c1, _) = http("POST", h.endpoint, "application/sparql-update",
        "INSERT DATA { <prof:9> <name> \"NewProf\" }")
      assert(c1 == 204)
      // form-encoded update= arm, folding two ops
      val upd = java.net.URLEncoder.encode(
        "INSERT DATA { <prof:8> <name> \"Other\" } ;\n" +
          "DELETE DATA { <prof:0> <name> \"FullProfessor0\" }", "UTF-8")
      val (c2, _) = http("POST", h.endpoint,
        "application/x-www-form-urlencoded", s"update=$upd")
      assert(c2 == 204)
      // queries (protocol AND direct) read the post-update dataset
      val names = BgpPlanner.query(h.store,
        "select ?n where { ?p name ?n }").collect().map(_.getString(0)).toSet
      assert(names == Set("NewProf", "Other", "FullProfessor1"))
      val (c3, viaHttp) = http("GET", h.endpoint + "?query=" +
        java.net.URLEncoder.encode(
          "select ?n where { ?p name ?n }", "UTF-8"))
      assert(c3 == 200 && viaHttp.contains("NewProf"))
      // update over GET violates §2.2 — loud 400, store untouched
      val (c4, msg) = http("GET", h.endpoint + "?update=" +
        java.net.URLEncoder.encode("DELETE DATA { <prof:9> <name> \"NewProf\" }", "UTF-8"))
      assert(c4 == 400 && msg.contains("POST"))
      assert(BgpPlanner.query(h.store,
        "select ?n where { <prof:9> name ?n }").count() == 1)
    } finally h.stop()
  }

  test("parenthesized path groups: alternation steps and nested sequences") {
    // (a|b)/c — an alternation group as a sequence step
    val alt = BgpPlanner.query(tinyStore,
      "select ?s ?n where { ?s (advisor|memberOf)/name ?n }")
      .collect().map(r => (r.getAs[String]("s"), r.getAs[String]("n"))).toSet
    assert(alt == Set(("stud:0", "FullProfessor0")))
    // (a/b) — a parenthesized sequence flattens to the sequence
    val seq = BgpPlanner.query(tinyStore,
      "select ?s ?d where { ?s (advisor/worksFor) ?d }")
      .collect().map(r => (r.getAs[String]("s"), r.getAs[String]("d"))).toSet
    assert(seq == Set(("stud:0", "dept:0")))
    // nested group inside a longer sequence
    val nested = BgpPlanner.query(tinyStore,
      "select ?s ?n where { ?s (advisor/worksFor)/deptname ?n }")
    assert(nested.count() == 0) // depts have no deptname edges here
  }

  test("VALUES UNDEF rows restrict only on their bound cells (§10.2.2)") {
    for (st <- Seq(tinyStore, TripleStore.encode(tinyStore))) {
      // UNDEF on a solution var: that row is a wildcard for it
      val rows = BgpPlanner.query(st,
        """select ?p ?d ?n where {
          | ?p worksFor ?d .
          | values (?d ?n) { (<dept:0> "X") (UNDEF "Y") } }""".stripMargin)
        .collect().map(r => (r.getAs[String]("p"), r.getAs[String]("d"),
          r.getAs[String]("n"))).toSet
      assert(rows == Set(
        ("prof:0", "dept:0", "X"), ("prof:1", "dept:0", "X"),
        ("prof:0", "dept:0", "Y"), ("prof:1", "dept:0", "Y"),
        ("prof:2", "dept:1", "Y")), s"encoded=${st.encoded}")
      // UNDEF on a table-only var: it stays unbound (null) in that row
      val nulls = BgpPlanner.query(st,
        """select ?p ?d ?n where {
          | ?p worksFor ?d .
          | values (?d ?n) { (<dept:1> UNDEF) } }""".stripMargin)
        .collect().map(r => (r.getAs[String]("p"),
          r.isNullAt(r.fieldIndex("n"))))
      assert(nulls.toSeq == Seq(("prof:2", true)), s"encoded=${st.encoded}")
      // single-var VALUES with an UNDEF row: the wildcard row passes
      // every solution, the constant rows restrict (bag union)
      val single = BgpPlanner.query(st,
        """select ?p ?d where {
          | ?p worksFor ?d .
          | values ?d { <dept:1> UNDEF } }""".stripMargin)
        .collect().map(_.getAs[String]("p"))
      assert(single.sorted.toSeq ==
        Seq("prof:0", "prof:1", "prof:2", "prof:2"),
        s"encoded=${st.encoded}")
    }
  }

  test("graph store protocol: GET/PUT/POST/DELETE on named and default graphs") {
    val h = SparqlServer.serve(tinyStore)
    val gsp = h.endpoint + "/graphs"
    val g = java.net.URLEncoder.encode("g:r", "UTF-8")
    try {
      // PUT creates the named graph from an N-Triples payload
      val (c1, _) = http("PUT", s"$gsp?graph=$g", "application/n-triples",
        "<dept:0> <rel:deptname> \"Math\" .\n" +
          "<dept:1> <rel:deptname> \"Physics\" .\n")
      assert(c1 == 204)
      // GET renders it back as N-Triples
      val (c2, nt) = http("GET", s"$gsp?graph=$g")
      assert(c2 == 200, nt)
      assert(nt.contains("<dept:0> <rel:deptname> \"Math\" .") &&
        nt.contains("<dept:1> <rel:deptname> \"Physics\" ."))
      // the graph is queryable through the SPARQL arm
      assert(BgpPlanner.query(h.store,
        "select ?d ?n where { graph <g:r> { ?d <rel:deptname> ?n } }")
        .count() == 2)
      // POST merges more triples in
      val (c3, _) = http("POST", s"$gsp?graph=$g", "application/n-triples",
        "<dept:2> <rel:deptname> \"Chemistry\" .\n")
      assert(c3 == 204)
      assert(http("GET", s"$gsp?graph=$g")._2.linesIterator.size == 3)
      // PUT REPLACES (not merges)
      val (c4, _) = http("PUT", s"$gsp?graph=$g", "application/n-triples",
        "<dept:9> <rel:deptname> \"Solo\" .\n")
      assert(c4 == 204)
      val after = http("GET", s"$gsp?graph=$g")._2
      assert(after.trim == "<dept:9> <rel:deptname> \"Solo\" .")
      // DELETE drops it; a second DELETE is 404 (absent named graph)
      assert(http("DELETE", s"$gsp?graph=$g")._1 == 204)
      assert(http("DELETE", s"$gsp?graph=$g")._1 == 404)
      // default graph: GET serves the store's triples
      val (c5, dflt) = http("GET", s"$gsp?default")
      // graph responses render s/p through the export sinks' resource
      // renderer (a literal predicate never round-trips), so the
      // relaxed model's bare 'worksFor' comes back IRI-shaped
      assert(c5 == 200 && dflt.contains("<prof:0> <worksFor> <dept:0> ."))
      // malformed payload is a loud 400, never a silent drop
      val (c6, msg) = http("POST", s"$gsp?default", "application/n-triples",
        "this is not n-triples\n")
      assert(c6 == 400 && msg.contains("malformed"))
      // missing graph identification is a 400
      assert(http("GET", gsp)._1 == 400)
    } finally h.stop()
  }

  test("protocol result negotiation: CSV, TSV, ASK json, CONSTRUCT n-triples") {
    val typed = TripleStore.fromTriples(Seq(
      ("t:1", "val", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("t:2", "val", "\"bonjour\"@fr"),
      ("t:3", "val", "with, comma")).toDF("s", "p", "o"))
    val h = SparqlServer.serve(typed)
    try {
      val q = java.net.URLEncoder.encode(
        "select ?s ?v where { ?s val ?v } order by ?s", "UTF-8")
      // CSV: bare lexical values, RFC 4180 quoting
      val (cc, csv) = http("GET", s"${h.endpoint}?query=$q", accept = "text/csv")
      assert(cc == 200)
      assert(csv.startsWith("s,v\r\n"))
      assert(csv.contains("t:1,5\r\n") && csv.contains("t:2,bonjour\r\n"))
      assert(csv.contains("t:3,\"with, comma\"\r\n"))
      // TSV: SPARQL surface syntax, ?-prefixed header
      val (tc, tsv) = http("GET", s"${h.endpoint}?query=$q",
        accept = "text/tab-separated-values")
      assert(tc == 200)
      assert(tsv.startsWith("?s\t?v\n"))
      assert(tsv.contains(
        "<t:1>\t\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>\n"))
      assert(tsv.contains("<t:2>\t\"bonjour\"@fr\n"))
      assert(tsv.contains("<t:3>\t\"with, comma\"\n"))
      // ;q=0 is an explicit REFUSAL (RFC 9110 §12.4.2): a refused type
      // listed first must not win the position match
      val (qc, qBody) = http("GET", s"${h.endpoint}?query=$q",
        accept = "text/csv;q=0, text/tab-separated-values")
      assert(qc == 200)
      assert(qBody.startsWith("?s\t?v\n"),
        s"q=0-refused CSV must lose to TSV, got: ${qBody.take(40)}")
      // ASK: boolean results-JSON
      val ask = java.net.URLEncoder.encode(
        "ask where { <t:1> val ?v }", "UTF-8")
      val (ac, askBody) = http("GET", s"${h.endpoint}?query=$ask")
      assert(ac == 200 && askBody.contains("\"boolean\":true"))
      // CONSTRUCT: n-triples body
      val con = java.net.URLEncoder.encode(
        "construct { ?s <rel:copied> ?v } where { ?s val ?v }", "UTF-8")
      val (nc, nt) = http("GET", s"${h.endpoint}?query=$con")
      assert(nc == 200)
      assert(nt.contains("<t:2> <rel:copied> \"bonjour\"@fr ."))
      assert(nt.contains("<t:3> <rel:copied> \"with, comma\" ."))
      // DESCRIBE: n-triples body of the node's edges
      val desc = java.net.URLEncoder.encode("describe <t:2>", "UTF-8")
      val (dc, dnt) = http("GET", s"${h.endpoint}?query=$desc")
      // graph responses render s/p through the export sinks' resource
      // renderer (a literal predicate never round-trips), so the
      // relaxed store model's bare 'val' predicate comes back IRI-shaped
      assert(dc == 200 && dnt.contains("<t:2> <val> \"bonjour\"@fr ."))
      // a bare GET answers with the SPARQL 1.1 Service Description —
      // and it round-trips through our own Turtle parser
      val (sc, sdesc) = http("GET", h.endpoint)
      assert(sc == 200 && sdesc.contains("sd:SPARQL11Update"))
      val sdDir = java.nio.file.Files.createTempDirectory("graft-sd")
      java.nio.file.Files.write(sdDir.resolve("sd.ttl"),
        sdesc.getBytes("UTF-8"))
      val parsed = graft.sources.TurtleIO.turtleDF(spark, sdDir.toString)
        .collect().map(r => (r.getString(1), r.getString(2)))
      assert(parsed.contains(
        ("http://www.w3.org/ns/sparql-service-description#endpoint",
          h.endpoint)))
    } finally h.stop()
  }

  test("CONSTRUCT negotiates Turtle and TriG, round-tripping through the repo's readers") {
    val typed = TripleStore.fromTriples(Seq(
      ("t:1", "val", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("t:1", "val", "\"bonjour\"@fr"),
      ("t:2", "val", "line\nbreak \"quoted\"")).toDF("s", "p", "o"))
    val h = SparqlServer.serve(typed)
    try {
      val con = java.net.URLEncoder.encode(
        "construct { ?s <rel:copied> ?v } where { ?s val ?v }", "UTF-8")
      val want = Set(
        ("t:1", "rel:copied",
          "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
        ("t:1", "rel:copied", "\"bonjour\"@fr"),
        ("t:2", "rel:copied", "line\nbreak \"quoted\""))
      // Turtle: subject-grouped predicate lists, parsed back by the
      // repo's own reader (escapes and decorated spellings intact)
      val (tc, ttl) = http("GET", s"${h.endpoint}?query=$con",
        accept = "text/turtle")
      assert(tc == 200)
      assert(ttl.contains(" ;\n"), "expected subject-grouped Turtle")
      val ttlDir = java.nio.file.Files.createTempDirectory("graft-cttl")
      java.nio.file.Files.write(ttlDir.resolve("g.ttl"),
        ttl.getBytes("UTF-8"))
      val ttlBack = graft.sources.TurtleIO.turtleDF(spark, ttlDir.toString)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(ttlBack == want)
      // TriG: a bare default-graph block, parsed back by readTrig
      val (gc, trig) = http("GET", s"${h.endpoint}?query=$con",
        accept = "Application/TriG") // case-insensitive negotiation
      assert(gc == 200)
      assert(trig.startsWith("{\n") && trig.endsWith("}\n"))
      val trigDir = java.nio.file.Files.createTempDirectory("graft-ctrig")
      java.nio.file.Files.write(trigDir.resolve("g.trig"),
        trig.getBytes("UTF-8"))
      val st = graft.sources.TurtleIO.readTrig(spark, trigDir.toString)
      val trigBack = st.slices.toSeq.flatMap { case (p, df) =>
        df.collect().map(r => (r.getString(0), p, r.getString(1))) }.toSet
      assert(trigBack == want)
      // no graph type in Accept → N-Triples default, unchanged
      val (nc, nt) = http("GET", s"${h.endpoint}?query=$con",
        accept = "application/json")
      assert(nc == 200 && nt.contains("<t:1> <rel:copied> \"bonjour\"@fr ."))
      // the Graph Store arm negotiates the SAME graph formats (GSP
      // §5.2): a Turtle GET of the default graph parses back through
      // the repo's reader
      val (gc2, ttl2) = http("GET", s"${h.endpoint}/graphs?default",
        accept = "text/turtle")
      assert(gc2 == 200)
      val gspDir = java.nio.file.Files.createTempDirectory("graft-gspttl")
      java.nio.file.Files.write(gspDir.resolve("g.ttl"),
        ttl2.getBytes("UTF-8"))
      val gspBack = graft.sources.TurtleIO.turtleDF(spark, gspDir.toString)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(gspBack == Set(
        ("t:1", "val", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
        ("t:1", "val", "\"bonjour\"@fr"),
        ("t:2", "val", "line\nbreak \"quoted\"")))
    } finally h.stop()
  }

  test("XML results negotiation round-trips typed/tagged terms losslessly") {
    val typed = TripleStore.fromTriples(Seq(
      ("t:1", "val", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("t:2", "val", "\"bonjour\"@fr"),
      ("t:3", "val", "plain <&> words"),
      ("t:4", "val", "_:b9")).toDF("s", "p", "o"))
    val h = SparqlServer.serve(typed)
    try {
      val query = "select ?s ?v where { ?s val ?v }"
      // over the real transport: Accept xml → the XML serialization,
      // and the client arm's parseXml recovers the canonical
      // stored-form spellings — identical to the JSON arm's parse
      val xml = SparqlHttp.fetch(h.endpoint, query,
        accept = "application/sparql-results+xml")
      assert(xml.contains("<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">"))
      assert(xml.contains("&lt;&amp;&gt;")) // xml-escaped literal
      val (xvars, xrows) = SparqlHttp.parseXml(xml)
      val (jvars, jrows) = SparqlHttp.parse(
        SparqlHttp.fetch(h.endpoint, query))
      assert(xvars == jvars)
      assert(xrows.map(_.toVector).toSet == jrows.map(_.toVector).toSet)
      assert(xrows.map(_.toVector).toSet == Set(
        Vector("t:1", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
        Vector("t:2", "\"bonjour\"@fr"),
        Vector("t:3", "plain <&> words"),
        Vector("t:4", "_:b9")))
      // ASK negotiates the XML boolean form
      val ask = java.net.URLEncoder.encode(
        "ask where { <t:1> val ?v }", "UTF-8")
      val (ac, askBody) = http("GET", s"${h.endpoint}?query=$ask",
        accept = "application/sparql-results+xml")
      assert(ac == 200 && askBody.contains("<boolean>true</boolean>"))
      // Accept-header ORDER wins: a client listing CSV first must get
      // CSV even though XML also appears (listing order is the
      // preference signal; adding XML must not regress CSV clients)
      val q2 = java.net.URLEncoder.encode(query, "UTF-8")
      val (cc, csvBody) = http("GET", s"${h.endpoint}?query=$q2",
        accept = "text/csv, application/sparql-results+xml")
      assert(cc == 200 && csvBody.startsWith("s,v") &&
        !csvBody.contains("<sparql"))
      val (jc, jsonBody) = http("GET", s"${h.endpoint}?query=$q2",
        accept = "application/sparql-results+json, " +
          "application/sparql-results+xml")
      assert(jc == 200 && jsonBody.contains("\"bindings\""))
      // media types are case-insensitive (RFC 9110): 'TEXT/CSV' must
      // negotiate CSV, not silently fall back to JSON
      val (uc, upperBody) = http("GET", s"${h.endpoint}?query=$q2",
        accept = "TEXT/CSV")
      assert(uc == 200 && upperBody.startsWith("s,v"),
        s"uppercase Accept fell through: ${upperBody.take(60)}")
    } finally h.stop()
  }

  test("XML arm replaces XML-1.0-forbidden control chars, stays parseable") {
    // a stored literal carrying U+0001/U+000B: raw emission would make
    // the response unreadable by ANY conforming XML parser — including
    // our own parseXml; the escaper substitutes U+FFFD and the
    // round trip survives (JSON handles the same data natively)
    val st = TripleStore.fromTriples(Seq(
      ("t:1", "val", "badctlend"),
      ("t:2", "val", "tab\tand\nnewline ok")).toDF("s", "p", "o"))
    val h = SparqlServer.serve(st)
    try {
      val query = "select ?s ?v where { ?s val ?v }"
      val xml = SparqlHttp.fetch(h.endpoint, query,
        accept = "application/sparql-results+xml")
      assert(!xml.exists(c => c < 0x20 && c != '\t' && c != '\n' && c != '\r'),
        "forbidden control characters leaked into the XML body")
      val (_, xrows) = SparqlHttp.parseXml(xml)
      val got = xrows.map(_.toVector).toSet
      assert(got == Set(
        Vector("t:1", "bad�ctl�end"),
        Vector("t:2", "tab\tand\nnewline ok")), s"got $got")
    } finally h.stop()
  }

  test("long update session keeps served plan depth bounded") {
    // 200 sequential protocol updates: without the lineage bound every
    // op wraps the slice plan in another union — planning cost and
    // driver plan memory grow per op for the lifetime of the endpoint
    val st = TripleStore.fromTriples(
      Seq(("t:0", "val", "v0")).toDF("s", "p", "o"))
    val h = SparqlServer.serve(st, checkpointEvery = 16)
    try {
      for (i <- 1 to 200) {
        val (c, _) = http("POST", h.endpoint, "application/sparql-update",
          s"""INSERT DATA { <t:$i> <val> "v$i" }""")
        assert(c == 204)
      }
      val plan = h.store.slices("val").queryExecution.logical
      val nodes = plan.collect { case n => n }.length
      assert(nodes < 120,
        s"plan depth grew unbounded across the session: $nodes nodes")
      assert(BgpPlanner.query(h.store,
        "select ?s ?v where { ?s val ?v }").count() == 201)
    } finally h.stop()
  }

  test("persistDir write-back survives a restart and writes only deltas") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wb").toString
    val st = TripleStore.fromTriples(Seq(
      ("t:1", "name", "one"), ("t:2", "name", "two"),
      ("t:1", "size", "s1")).toDF("s", "p", "o"))
    val h = SparqlServer.serve(st, persistDir = Some(dir))
    try {
      val (c1, _) = http("POST", h.endpoint, "application/sparql-update",
        """INSERT DATA { <t:3> <size> "s3" }""")
      assert(c1 == 204)
      // first update bootstraps version 0 of the versioned layout
      val root = TripleStore.datasetRoot(spark, dir)
      assert(root == s"$dir/v0", s"expected v0 bootstrap, got $root")
      // delta discipline: subsequent row-grain ops must APPEND delta
      // batches, never rewrite ANY base slice — the hot <name> AND the
      // touched <size> partitions both stay byte-identical
      def sig(p: String): Seq[(String, Long, Long)] = {
        val d = new java.io.File(s"$root/default/p=$p")
        d.listFiles().filter(f => f.isFile && !f.getName.startsWith("."))
          .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
      }
      val nameSig = sig("name")
      val sizeSig = sig("size")
      val (c2, _) = http("POST", h.endpoint, "application/sparql-update",
        """INSERT DATA { GRAPH <g:aud> { <t:1> <checked> "y" } } ;
          |DELETE DATA { <t:1> <size> "s1" }""".stripMargin)
      assert(c2 == 204)
      assert(sig("name") == nameSig,
        "untouched slice was rewritten — write-back is not incremental")
      assert(sig("size") == sizeSig,
        "touched slice was rewritten — write-back is not delta-grain")
      // and the delta batches hold exactly the ops' rows
      val deltas = new java.io.File(s"$root/delta/default")
      assert(deltas.isDirectory && deltas.listFiles()
        .exists(_.getName.startsWith("seq=")),
        "expected appended delta batches under the version root")
      val deltaRows = spark.read.parquet(s"$root/delta/default")
      assert(deltaRows.count() == 1, "the DELETE DATA op is 1 tombstone row")
      assert(spark.read.parquet(s"$root/delta/quads").count() == 1,
        "the GRAPH insert op is 1 quad delta row")
    } finally h.stop()
    // restart: a fresh endpoint over the persisted layout resumes with
    // the full post-update dataset (delta log merged) and keeps
    // accepting updates
    val resumed = TripleStore.fromDatasetParquet(spark, dir)
    val h2 = SparqlServer.serve(resumed, persistDir = Some(dir))
    try {
      val got = BgpPlanner.query(h2.store,
        """select ?s ?v where { ?s size ?v }""").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("t:3", "s3")))
      val inGraph = BgpPlanner.query(h2.store,
        "select ?s where { graph <g:aud> { ?s <checked> ?y } }").count()
      assert(inGraph == 1)
      // DROP GRAPH is structural: it checkpoints a fresh full version
      // (pointer flips to v1) whose layout has no quads subtree
      val (c3, _) = http("POST", h2.endpoint, "application/sparql-update",
        "DROP GRAPH <g:aud>")
      assert(c3 == 204)
      val root2 = TripleStore.datasetRoot(spark, dir)
      assert(root2 == s"$dir/v1", s"expected v1 after structural op, got $root2")
      assert(!new java.io.File(s"$root2/quads").exists(),
        "dropped graph's quads subtree must leave the new version")
      // the dropped graph set reloads as ABSENT (GRAPH queries on a
      // store without named graphs throw by contract)
      assert(h2.store.quads.isEmpty,
        "dropped graph set must reload as absent")
    } finally h2.stop()
  }

  test("encoded endpoint compacts its delta log into a full version with the dict") {
    // the full serve-loop on an ENCODED store: row-grain protocol
    // updates append id-space + dict batches until the log crosses
    // CompactDeltaBatches, the write-back compacts into a fresh full
    // version (dict included), the log resets, and every term —
    // including ones that only ever lived in dict delta batches —
    // still decodes after the flip
    val dir = java.nio.file.Files.createTempDirectory("graft-ewb-cmp").toString
    val st = TripleStore.encode(TripleStore.fromTriples(Seq(
      ("t:1", "name", "one")).toDF("s", "p", "o")))
    TripleStore.writeDataset(st, dir)
    val h = SparqlServer.serve(
      TripleStore.fromDatasetParquet(spark, dir), persistDir = Some(dir))
    try {
      for (i <- 0 until TripleStore.CompactDeltaBatches + 2) {
        val (c, _) = http("POST", h.endpoint, "application/sparql-update",
          s"""INSERT DATA { <t:$i> <val> "fresh-$i" }""")
        assert(c == 204)
      }
      // the log crossed the threshold: pointer flipped to a fresh full
      // version whose dict holds every delta-born term, log empty
      val root = TripleStore.datasetRoot(spark, dir)
      assert(root != dir, s"expected a versioned root after compaction")
      assert(new java.io.File(s"$root/dict").exists(),
        "compacted version must carry the dictionary")
      assert(TripleStore.currentVersion(spark, dir).isDefined,
        "compaction must flip to a versioned root")
      // the fresh version's log holds only the POST-compaction ops
      val pending = Option(new java.io.File(s"$root/delta/default")
        .listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("seq="))
      assert(pending <= 2,
        s"compaction must reset the delta log, found $pending batches")
      val reloaded = TripleStore.fromDatasetParquet(spark, dir)
      assert(reloaded.encoded)
      val got = BgpPlanner.query(reloaded,
        "select ?s ?v where { ?s val ?v }").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == (0 until TripleStore.CompactDeltaBatches + 2)
        .map(i => (s"t:$i", s"fresh-$i")).toSet)
    } finally h.stop()
  }

  test("write-back bytes per op scale with the delta, not the hot slice") {
    // the r12-verdict scale-killer: ONE inserted triple on a hot
    // predicate must not rewrite the predicate's slice — the op's
    // write cost is its delta-file bytes, orders below the base bytes
    val dir = java.nio.file.Files.createTempDirectory("graft-wb-amp").toString
    val hot = (0 until 2000).map(i => (s"d:$i", "name", s"val-$i"))
    val st = TripleStore.fromTriples(hot.toDF("s", "p", "o"))
    TripleStore.writeDataset(st, dir)
    var cur = TripleStore.fromDatasetParquet(spark, dir)
    def bytesUnder(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    val baseBytes = bytesUnder(new java.io.File(s"$dir/default/p=name"))
    val before = bytesUnder(new java.io.File(dir))
    val next = graft.bgp.SparqlUpdate.applyAll(spark, cur,
      """INSERT DATA { <d:new> <name> "fresh" }""")
    TripleStore.writeBackDelta(cur, next, dir)
    val opBytes = bytesUnder(new java.io.File(dir)) - before
    assert(opBytes > 0, "the op must persist something")
    assert(opBytes < baseBytes / 4,
      s"1-row op wrote $opBytes bytes vs $baseBytes-byte hot slice — " +
        "write amplification is back")
    cur = TripleStore.fromDatasetParquet(spark, dir)
    assert(BgpPlanner.query(cur,
      "select ?s ?v where { ?s name ?v }").count() == 2001)
  }

  test("encoded write-back: id-space deltas + dict batches, op-bytes below slice-bytes") {
    // the r13-verdict gap: the >10⁹-term regime (the whole reason the
    // encoded layouts exist) got neither the delta log nor versioned
    // roots. One inserted triple on a hash-encoded dataset must append
    // an id-space delta batch plus its dict growth — never rewrite the
    // hot slice or the vocabulary.
    val dir = java.nio.file.Files.createTempDirectory("graft-ewb").toString
    val hot = (0 until 2000).map(i => (s"d:$i", "name", s"val-$i"))
    val st = TripleStore.encode(TripleStore.fromTriples(hot.toDF("s", "p", "o")))
    TripleStore.writeDataset(st, dir)
    var cur = TripleStore.fromDatasetParquet(spark, dir)
    assert(cur.encoded && !cur.sequential,
      "encoded dataset must reload encoded (hash regime re-detected)")
    def bytesUnder(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    val baseBytes = bytesUnder(new java.io.File(s"$dir/default/p=name"))
    val dictBytes = bytesUnder(new java.io.File(s"$dir/dict"))
    val before = bytesUnder(new java.io.File(dir))
    val (next, d) = graft.bgp.SparqlUpdate.applyAllWithDelta(spark, cur,
      """INSERT DATA { <d:new> <name> "fresh-term" }""")
    TripleStore.writeBackDelta(cur, next, dir, d)
    val opBytes = bytesUnder(new java.io.File(dir)) - before
    assert(opBytes > 0, "the op must persist something")
    assert(opBytes < (baseBytes + dictBytes) / 4,
      s"1-row op wrote $opBytes bytes vs $baseBytes-byte slice + " +
        s"$dictBytes-byte dict — write amplification on the encoded path")
    // the delta rows are ID-SPACE and the dict batch holds exactly the
    // genuinely-new terms (the predicate name was already vocabulary)
    val deltaRows = spark.read.parquet(s"$dir/delta/default")
    assert(deltaRows.schema("s").dataType ==
      org.apache.spark.sql.types.LongType,
      "encoded delta batches must carry BIGINT ids")
    val dictDelta = spark.read.parquet(s"$dir/delta/dict")
    assert(dictDelta.select("value").collect().map(_.getString(0)).toSet ==
      Set("d:new", "fresh-term"))
    // cold reload: the result edge decodes terms that exist ONLY in
    // the delta dict batch
    cur = TripleStore.fromDatasetParquet(spark, dir)
    val got = BgpPlanner.query(cur, "select ?s ?v where { ?s name ?v }")
    assert(got.count() == 2001)
    assert(got.filter(org.apache.spark.sql.functions.col("s") === "d:new")
      .collect().map(_.getString(1)).toSeq == Seq("fresh-term"))
  }

  test("sequential-store write-back: dense-id dict deltas round-trip a reload") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swb").toString
    val st = TripleStore.encodeSequential(TripleStore.fromTriples(Seq(
      ("t:1", "name", "one"), ("t:2", "name", "two")).toDF("s", "p", "o")),
      bands = 8)
    TripleStore.writeDataset(st, dir)
    var cur = TripleStore.fromDatasetParquet(spark, dir)
    assert(cur.encoded && cur.sequential,
      "sequential regime must re-detect from the persisted dict")
    import org.apache.spark.sql.functions.{col, max, min}
    val maxBefore = cur.dict.get.agg(max(col("id"))).head.getLong(0)
    val (next, d) = graft.bgp.SparqlUpdate.applyAllWithDelta(spark, cur,
      """INSERT DATA { <t:3> <name> "three" }""")
    TripleStore.writeBackDelta(cur, next, dir, d)
    // dense ids continue past max(id) — the captured delta and the
    // applied store agreed on the assignment
    val dictDelta = spark.read.parquet(s"$dir/delta/dict")
    assert(dictDelta.agg(min(col("id"))).head.getLong(0) == maxBefore + 1)
    cur = TripleStore.fromDatasetParquet(spark, dir)
    assert(cur.sequential, "regime survives a delta-dirty reload")
    val got = BgpPlanner.query(cur,
      "select ?s ?v where { ?s name ?v }").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("t:1", "one"), ("t:2", "two"), ("t:3", "three")))
  }

  test("two writers on one versioned root: loser throws, dataset stays consistent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-race").toString
    val st = TripleStore.fromTriples(Seq(
      ("t:1", "name", "one")).toDF("s", "p", "o"))
    TripleStore.writeDatasetVersioned(st, dir)
    assert(TripleStore.currentVersion(spark, dir).contains(0))
    // a concurrent writer already claimed v1: this writer's structural
    // checkpoint must fail LOUDLY before writing anything
    assert(new java.io.File(s"$dir/v1.claim").createNewFile())
    val next = graft.bgp.SparqlUpdate.applyAll(spark,
      TripleStore.fromDatasetParquet(spark, dir),
      """INSERT DATA { <t:2> <name> "two" }""")
    val e = intercept[IllegalArgumentException](
      TripleStore.writeDatasetVersioned(next, dir))
    assert(e.getMessage.contains("claimed"))
    assert(TripleStore.currentVersion(spark, dir).contains(0),
      "the pointer must not move under a lost race")
    assert(new java.io.File(s"$dir/v1.claim").delete())
    // delta sequence slots reserve via create-exclusive locks: with
    // seq=0 pre-claimed by "another writer", this append walks forward
    // to seq=1 instead of clobbering
    assert(new java.io.File(s"$dir/v0/delta").mkdirs())
    assert(new java.io.File(s"$dir/v0/delta/seq=0.lock").createNewFile())
    val cur = TripleStore.fromDatasetParquet(spark, dir)
    val (n2, d2) = graft.bgp.SparqlUpdate.applyAllWithDelta(spark, cur,
      """INSERT DATA { <t:3> <name> "three" }""")
    TripleStore.writeBackDelta(cur, n2, dir, d2)
    assert(new java.io.File(s"$dir/v0/delta/default/seq=1").exists(),
      "append must land on the next unclaimed slot")
    assert(!new java.io.File(s"$dir/v0/delta/default/seq=0").exists(),
      "the claimed slot must stay untouched")
    val got = BgpPlanner.query(TripleStore.fromDatasetParquet(spark, dir),
      "select ?s ?v where { ?s name ?v }").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("t:1", "one"), ("t:3", "three")))
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf[T](body: => T): (T, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftshim.GraftShim.waitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.graftshim.GraftShim.waitListeners(spark)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a batch another writer appends between two endpoint updates shows up after the next one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-foreign").toString
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(Seq(
      ("t:1", "name", "one")).toDF("s", "p", "o")), dir)
    val h = SparqlServer.serve(TripleStore.fromDatasetParquet(spark, dir),
      persistDir = Some(dir))
    def names: Set[(String, String)] = BgpPlanner.query(h.store,
      "select ?s ?v where { ?s name ?v }").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    def update(text: String): String = {
      val (c, body) = http("POST", h.endpoint, "application/sparql-update", text)
      assert(c == 204, body)
      h.lastUpdate.get
    }
    try {
      assert(update("""INSERT DATA { <t:2> <name> "two" }""")
        .contains("seqs=0 version=0 store=advanced"))
      // a second writer appends seq=1 behind the endpoint's back
      val other = TripleStore.fromDatasetParquet(spark, dir)
      val (n, d) = graft.bgp.SparqlUpdate.applyAllWithDelta(spark, other,
        """INSERT DATA { <t:9> <name> "nine" }""")
      TripleStore.writeBackDelta(other, n, dir, d)
      assert(names == Set(("t:1", "one"), ("t:2", "two")))
      // the endpoint's next slot is not the one after its last merged
      // batch: it loads, and sees the other writer's row
      assert(update("""INSERT DATA { <t:3> <name> "three" }""")
        .contains("seqs=2 version=0 store=loaded"))
      assert(names == Set(("t:1", "one"), ("t:2", "two"), ("t:3", "three"),
        ("t:9", "nine")))
      // the load held the log again: the next update advances
      assert(update("""DELETE DATA { <t:1> <name> "one" }""")
        .contains("seqs=3 version=0 store=advanced"))
      // a slot claimed but not yet committed (a writer mid-batch): the
      // endpoint walks past it and loads, and keeps loading while the
      // claim is open, so the batch cannot be skipped once it lands
      assert(new java.io.File(s"$dir/v0/delta/seq=4.lock").createNewFile())
      assert(update("""INSERT DATA { <t:4> <name> "four" }""")
        .contains("seqs=5 version=0 store=loaded"))
      assert(update("""INSERT DATA { <t:5> <name> "five" }""")
        .contains("seqs=6 version=0 store=loaded"))
      assert(names == Set(("t:2", "two"), ("t:3", "three"), ("t:9", "nine"),
        ("t:4", "four"), ("t:5", "five")))
    } finally h.stop()
  }

  test("a batch another writer appends inside the log survives the compaction flip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-foreign-flip").toString
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(Seq(
      ("t:0", "name", "zero")).toDF("s", "p", "o")), dir)
    def insert(st: TripleStore, s: String,
        report: TripleStore.WriteBack => Unit = _ => ()): TripleStore = {
      val (n, d) = graft.bgp.SparqlUpdate.applyAllWithDelta(spark, st,
        s"""INSERT DATA { <$s> <name> "$s" }""")
      TripleStore.writeBackDelta(st, n, dir, d, report)
    }
    // writer A fills seqs 0..13, writer B appends seq 14 behind its back
    var a = TripleStore.fromDatasetParquet(spark, dir)
    val aSubjects = (0 until TripleStore.CompactDeltaBatches - 2).map(i => s"a:$i")
    aSubjects.foreach(x => a = insert(a, x))
    insert(TripleStore.fromDatasetParquet(spark, dir), "b:1")
    // A's next batch walks past B's slot to seq 15, the 16th: the flip
    var wb: Option[TripleStore.WriteBack] = None
    insert(a, "a:last", r => wb = Some(r))
    assert(wb.exists(r => r.outcome == "flipped" && r.version.contains(1) &&
      r.seqs == Seq(TripleStore.CompactDeltaBatches - 1)), wb)
    val names = BgpPlanner.query(TripleStore.fromDatasetParquet(spark, dir),
      "select ?s where { ?s name ?v }").collect().map(_.getString(0)).toSet
    assert(names == (aSubjects ++ Seq("t:0", "b:1", "a:last")).toSet,
      "the flip must keep the other writer's batch")
  }

  test("the update log line names every field, with or without a persist directory") {
    assert(SparqlServer.updateLine(2, 5, None) ==
      "[sparql] update ops=2 store=memory apply_ms=5")
    assert(SparqlServer.updateLine(1, 3, Some(TripleStore.WriteBack(
        "flipped", Nil, None, Some(4), 10, 20))) ==
      "[sparql] update ops=1 delta_rows=? seqs=- version=4 store=flipped " +
        "apply_ms=3 write_ms=10 advance_ms=20")
    assert(SparqlServer.updateLine(2, 1, Some(TripleStore.WriteBack(
        "advanced", Seq(6, 7), Some(3), None, 8, 2))) ==
      "[sparql] update ops=2 delta_rows=3 seqs=6,7 version=- store=advanced " +
        "apply_ms=1 write_ms=8 advance_ms=2")
    // a flip names the units it rewrote and carried
    assert(SparqlServer.updateLine(1, 4, Some(TripleStore.WriteBack(
        "flipped", Seq(15), Some(1), Some(3), 12, 6,
        Some(TripleStore.Flip(3, 2, 10))))) ==
      "[sparql] update ops=1 delta_rows=1 seqs=15 version=3 store=flipped " +
        "apply_ms=4 write_ms=12 advance_ms=6 rewrote=2 carried=10")
  }

  test("the query log line names every field, and a served read logs one") {
    assert(SparqlServer.queryLine("0badcafe", 3, 240, 12, Some(2), Some(5)) ==
      "[sparql] query hash=0badcafe rows=3 bytes=240 eval_ms=12 version=2 slot=5")
    assert(SparqlServer.queryLine("00000001", 0, 44, 4, None, None) ==
      "[sparql] query hash=00000001 rows=0 bytes=44 eval_ms=4 version=- slot=-")
    val dir = java.nio.file.Files.createTempDirectory("graft-qline").toString
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(Seq(
      ("t:1", "name", "one"), ("t:2", "name", "two")).toDF("s", "p", "o")), dir)
    val h = SparqlServer.serve(TripleStore.fromDatasetParquet(spark, dir),
      persistDir = Some(dir))
    val line = "^\\[sparql\\] query hash=[0-9a-f]{8} rows=(\\d+) bytes=(\\d+) " +
      "eval_ms=\\d+ version=(\\S+) slot=(\\S+)$"
    def read(q: String): (String, String, String) = {
      val (c, body) = http("GET", h.endpoint + "?query=" +
        java.net.URLEncoder.encode(q, "UTF-8"))
      assert(c == 200, body)
      val m = line.r.findFirstMatchIn(h.lastQuery.get).getOrElse(
        fail(s"unexpected query line: ${h.lastQuery}"))
      // bytes counts the UTF-8 response body the client received
      assert(m.group(2).toInt == body.getBytes("UTF-8").length, h.lastQuery)
      (m.group(1), m.group(3), m.group(4))
    }
    try {
      assert(h.lastQuery.isEmpty)
      assert(read("select ?s where { ?s name ?v }") == ("2", "0", "0"))
      val (c, body) = http("POST", h.endpoint, "application/sparql-update",
        """INSERT DATA { <t:3> <name> "three" }""")
      assert(c == 204, body)
      // the advanced store stands one slot further
      assert(read("select ?s where { ?s name ?v }") == ("3", "0", "1"))
      assert(read("ask where { <t:3> name ?v }") == ("1", "0", "1"))
    } finally h.stop()
  }

  test("served reads do not wait on the client's delayed ACK (TCP_NODELAY)") {
    // twenty sequential reads over one keep-alive connection: the
    // client's latency minus the handler's eval_ms is the transport's
    // share; with Nagle on, each body would wait ~40 ms for the ACK of
    // its headers
    val h = SparqlServer.serve(tinyStore)
    val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val evalMs = " eval_ms=(\\d+) ".r
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(
      h.endpoint + "?query=" + java.net.URLEncoder.encode(
        "select ?p ?d where { ?p worksFor ?d }", "UTF-8"))).GET().build()
    try {
      val overheadMs = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        val resp = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        val ms = (System.nanoTime() - t0) / 1e6
        assert(resp.statusCode == 200, resp.body)
        ms - evalMs.findFirstMatchIn(h.lastQuery.get).get.group(1).toDouble
      }.sorted
      val median = (overheadMs(9) + overheadMs(10)) / 2
      assert(median < 20.0, f"transport overhead median $median%.1f ms " +
        s"(sorted: ${overheadMs.map(m => f"$m%.1f").mkString(" ")}); " +
        s"${GraftSession.NoDelayProperty}=" +
        System.getProperty(GraftSession.NoDelayProperty))
    } finally h.stop()
  }

  test("SERVICE over HTTP sends every request through one client") {
    import scala.jdk.CollectionConverters._
    // each java.net.http client runs its own selector thread, named
    // after the client's sequence number, until it is collected: a
    // client per request would open a connection and a thread per fetch
    val selectorName = "HttpClient-(\\d+)-SelectorManager".r
    def selectors: Seq[Long] = Thread.getAllStackTraces.keySet.asScala.toSeq
      .map(_.getName).collect { case selectorName(n) => n.toLong }
    // the sequence number of a client built now: the newest live thread
    def nextClient(): Long = {
      val probe = java.net.http.HttpClient.newHttpClient()
      val n = selectors.max
      java.lang.ref.Reference.reachabilityFence(probe)
      n
    }
    val h = SparqlServer.serve(TripleStore.fromTriples(Seq(
      ("dept:0", "deptname", "Mathematics"),
      ("dept:1", "deptname", "Physics")).toDF("s", "p", "o")))
    try {
      val live = selectors.size
      val first = nextClient()
      for (_ <- 1 to 10) assert(BgpPlanner.query(tinyStore,
        s"select ?p ?dn where { ?p worksFor ?d . " +
          s"SERVICE <${h.endpoint}> { ?d deptname ?dn } }").count() == 3)
      val built = nextClient() - first - 1
      assert(built <= 1, s"ten SERVICE evaluations built $built HTTP clients")
      // the two probes' threads included
      assert(selectors.size <= live + 3, s"$live selector threads before, " +
        s"${selectors.size} after ten SERVICE evaluations")
    } finally h.stop()
  }

  test("a 1-triple INSERT DATA between version flips runs no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wb-jobs").toString
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(Seq(
      ("t:1", "name", "one"), ("t:1", "size", "s1")).toDF("s", "p", "o")), dir)
    val h = SparqlServer.serve(TripleStore.fromDatasetParquet(spark, dir),
      persistDir = Some(dir))
    try {
      for (i <- 2 to 4) {
        val ((c, body), jobs) = jobsOf(http("POST", h.endpoint,
          "application/sparql-update", s"""INSERT DATA { <t:$i> <name> "n$i" }"""))
        assert(c == 204, body)
        assert(jobs == 0, s"update $i ran $jobs jobs")
        assert(h.lastUpdate.get.contains(
          s"ops=1 delta_rows=1 seqs=${i - 2} version=0 store=advanced"),
          h.lastUpdate)
      }
      assert(BgpPlanner.query(h.store, "select ?s ?v where { ?s name ?v }")
        .count() == 4)
      // the touched slice merges its driver-held verdict by broadcast:
      // the base scan is never shuffled
      val touched = h.store.slices("name")
      assert(touched.count() == 4)
      val plan = touched.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
        plan)
    } finally h.stop()
  }

  test("a DELETE DATA between version flips runs no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wb-deljobs").toString
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(Seq(
      ("t:1", "name", "one"), ("t:2", "name", "two"), ("t:3", "name", "three"),
      ("t:1", "size", "s1")).toDF("s", "p", "o")), dir)
    val h = SparqlServer.serve(TripleStore.fromDatasetParquet(spark, dir),
      persistDir = Some(dir))
    try {
      for ((t, n) <- Seq("t:1" -> "one", "t:2" -> "two")) {
        val ((c, body), jobs) = jobsOf(http("POST", h.endpoint,
          "application/sparql-update", s"""DELETE DATA { <$t> <name> "$n" }"""))
        assert(c == 204, body)
        assert(jobs == 0, s"DELETE DATA of $t ran $jobs jobs")
        assert(h.lastUpdate.get.contains("delta_rows=1") &&
          h.lastUpdate.get.contains("store=advanced"), h.lastUpdate)
      }
      assert(BgpPlanner.query(h.store, "select ?s ?v where { ?s name ?v }")
        .collect().map(_.getString(0)).toSeq == Seq("t:3"))
    } finally h.stop()
  }

  test("a DELETE/INSERT WHERE between version flips runs only its WHERE's jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wb-modjobs").toString
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(Seq(
      ("t:1", "name", "one"), ("t:1", "size", "s1"), ("t:2", "size", "s2"))
      .toDF("s", "p", "o")), dir)
    val h = SparqlServer.serve(TripleStore.fromDatasetParquet(spark, dir),
      persistDir = Some(dir))
    try {
      // the second and third ops see a store whose `size` slice already
      // merges a held delta: the WHERE then reads base ANTI verdict ∪ alive
      for (v <- Seq("v1", "v2", "v3")) {
        val before = h.store
        val where = Sparql.parse("select * where { <t:1> <size> ?x }")
        val (_, whereJobs) = jobsOf(BgpPlanner.plan(before, where).collect())
        val ((c, body), jobs) = jobsOf(http("POST", h.endpoint,
          "application/sparql-update",
          s"""DELETE { <t:1> <size> ?x } INSERT { <t:1> <size> "$v" } """ +
            "WHERE { <t:1> <size> ?x }"))
        assert(c == 204, body)
        assert(jobs == whereJobs,
          s"update to $v ran $jobs jobs; collecting its WHERE runs $whereJobs")
        assert(h.lastUpdate.get.contains("delta_rows=2") &&
          h.lastUpdate.get.contains("store=advanced"), h.lastUpdate)
        assert(BgpPlanner.query(h.store, "select ?s ?x where { ?s size ?x }")
          .collect().map(r => (r.getString(0), r.getString(1))).toSet ==
          Set(("t:1", v), ("t:2", "s2")))
      }
    } finally h.stop()
  }

  test("a driver-written delta batch reads back like a Spark-written one") {
    // the same op written back twice onto copies of one dataset: once
    // collected and written by the driver, once under a 1-byte
    // broadcast threshold, where the batch is written by a Spark job.
    // Each log's batch directory must read with the same schema (the
    // discovered `seq` column and nullability included) and the same
    // rows, and both datasets must load to the same store.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    def restore(): Unit = saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    import org.apache.spark.sql.functions.{col, lit}
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    def slices(st: TripleStore): Seq[String] = rows(st.slices.map {
      case (p, df) => df.select(lit(p).as("p"), col("s"), col("o"))
    }.reduce(_ unionByName _))
    val seed = Seq(("t:1", "name", "one"), ("t:2", "name", "two"))
      .toDF("s", "p", "o")
    val cases = Seq[(String, TripleStore, String, Seq[String])](
      ("string default", TripleStore.fromTriples(seed),
        """DELETE DATA { <t:1> <name> "one" } ; INSERT DATA { <t:3> <name> "three" }""",
        Seq("default")),
      ("hash default", TripleStore.encode(TripleStore.fromTriples(seed)),
        """DELETE DATA { <t:1> <name> "one" } ; INSERT DATA { <t:3> <name> "three" }""",
        Seq("default")),
      ("quads", TripleStore.fromTriples(seed),
        """INSERT DATA { GRAPH <g:x> { <t:1> <name> "one" . <t:4> <name> "four" } }""",
        Seq("quads")),
      // plain and language-tagged literals: dict rows with null dt,
      // null lang, and a set lang
      ("dict", TripleStore.encode(TripleStore.fromTriples(seed)),
        """INSERT DATA { <t:5> <name> "five" . <t:5> <label> "cinq"@fr }""",
        Seq("dict", "default")))
    try for ((kind, store, op, logs) <- cases) {
      def written(threshold: Option[String]): String = {
        val dir = java.nio.file.Files.createTempDirectory("graft-fmt").toString
        TripleStore.writeDatasetVersioned(store, dir)
        threshold.foreach(spark.conf.set(key, _))
        try {
          val prev = TripleStore.fromDatasetParquet(spark, dir)
          val (next, deltas) = SparqlUpdate.applyAllWithDelta(spark, prev, op)
          var outcome = ""
          TripleStore.writeBackDelta(prev, next, dir, deltas, wb => outcome = wb.outcome)
          assert(outcome == (if (threshold.isEmpty) "advanced" else "loaded"),
            s"$kind: $outcome")
        } finally restore()
        dir
      }
      val (driver, job) = (written(None), written(Some("1")))
      for (log <- logs) {
        def batches(dir: String) = spark.read.parquet(
          s"${TripleStore.datasetRoot(spark, dir)}/delta/$log")
        assert(batches(driver).schema == batches(job).schema,
          s"$kind $log: ${batches(driver).schema} vs ${batches(job).schema}")
        assert(batches(driver).schema.fieldNames.last == "seq", kind)
        assert(rows(batches(driver)) == rows(batches(job)), s"$kind $log")
      }
      val (a, b) = (TripleStore.fromDatasetParquet(spark, driver),
        TripleStore.fromDatasetParquet(spark, job))
      assert(slices(a) == slices(b), kind)
      assert(a.quads.map(rows) == b.quads.map(rows), kind)
      assert(a.dict.map(rows) == b.dict.map(rows), kind)
    } finally restore()
    // one log holding both kinds of file, plus a batch a writer wrote
    // but never committed (its `.tmp-<seq>` directory left unrenamed):
    // the loader reads the committed batches of both kinds, never the
    // leftover
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt-mixed").toString
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(seed), dir)
    val ops = Seq(None -> """INSERT DATA { <t:3> <name> "three" }""",
      Some("1") -> """DELETE DATA { <t:2> <name> "two" }""",
      None -> """INSERT DATA { <t:4> <name> "four" }""",
      None -> """INSERT DATA { <t:9> <name> "nine" }""")
    try for ((threshold, op) <- ops) {
      threshold.foreach(spark.conf.set(key, _))
      try {
        val prev = TripleStore.fromDatasetParquet(spark, dir)
        val (next, deltas) = SparqlUpdate.applyAllWithDelta(spark, prev, op)
        TripleStore.writeBackDelta(prev, next, dir, deltas)
      } finally restore()
    } finally restore()
    val log = s"${TripleStore.datasetRoot(spark, dir)}/delta/default"
    assert(new java.io.File(s"$log/seq=3").renameTo(new java.io.File(s"$log/.tmp-3")))
    assert(new java.io.File(s"$log/.tmp-3").listFiles()
      .exists(_.getName.endsWith(".parquet")))
    val names = BgpPlanner.query(TripleStore.fromDatasetParquet(spark, dir),
      "select ?s ?v where { ?s name ?v }").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(names == Set(("t:1", "one"), ("t:3", "three"), ("t:4", "four")))
  }

  test("a persistDir endpoint's store equals a cold load after every op") {
    // random op sequences on the string, hash and sequential stores:
    // after every op the served store must equal a cold load of the
    // dataset (every slice, the quads) and both must answer like a
    // naive model of the ops. Ops 5-7 run under a 1-byte broadcast
    // threshold, where the log cannot be held and every update loads;
    // every 16th batch is a compaction flip: two on the string store,
    // one each on the hash and sequential stores.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    def restore(): Unit = saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val rnd = new scala.util.Random(1018)
    val subjects = (0 until 6).map(i => s"e:$i")
    val preds = Seq("a", "b", "c")
    val objects = Seq("v0", "v1", "v2", "e:1", "e:4")
    def term(v: String) = if (v.startsWith("e:")) s"<$v>" else "\"" + v + "\""
    def triple(): (String, String, String) = (subjects(rnd.nextInt(6)),
      preds(rnd.nextInt(3)), objects(rnd.nextInt(5)))
    def text(ts: Seq[(String, String, String)]): String =
      ts.map { case (s, p, o) => s"<$s> <$p> ${term(o)} ." }.mkString(" ")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    def answers(st: TripleStore, q: String): Seq[String] =
      rows(BgpPlanner.query(st, q).select("s", "p", "o"))
    import org.apache.spark.sql.functions.{col, lit}
    val stores = Seq[(String, TripleStore => TripleStore, Int)](
      ("string", st => st, 2 * TripleStore.CompactDeltaBatches),
      ("hash", TripleStore.encode(_), TripleStore.CompactDeltaBatches),
      ("sequential", TripleStore.encodeSequential(_, bands = 8),
        TripleStore.CompactDeltaBatches))
    try for ((kind, make, nOps) <- stores) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-adv-$kind").toString
      // a sentinel slice no op touches: every flip carries it
      val seed = (("e:0", "a", "v1") +: ("e:5", "d", "v2") +:
        Seq.fill(8)(triple())).distinct
      var model = seed.toSet
      var quadModel = Set.empty[(String, String, String, String)]
      TripleStore.writeDatasetVersioned(
        make(TripleStore.fromTriples(seed.toDF("s", "p", "o"))), dir)
      val h = SparqlServer.serve(TripleStore.fromDatasetParquet(spark, dir),
        persistDir = Some(dir))
      try for (i <- 0 until nOps) {
        val op = i match {
          // a sentinel graph no op touches keeps the quads non-empty
          case 0 =>
            quadModel += (("g:base", "e:0", "a", "v0"))
            """INSERT DATA { GRAPH <g:base> { <e:0> <a> "v0" } }"""
          // same predicate deleted and inserted: within one op the
          // insert beats the tombstone, so nothing changes
          case 1 =>
            """DELETE { ?s <a> ?o } INSERT { ?s <a> ?o } WHERE { ?s <a> ?o }"""
          case _ => rnd.nextInt(6) match {
            case 0 | 1 =>
              val ts = Seq.fill(1 + rnd.nextInt(3))(triple())
              model ++= ts
              s"INSERT DATA { ${text(ts)} }"
            case 2 =>
              val live = model.filter(_._2 != "d").toSeq
              val ts = Seq.fill(1 + rnd.nextInt(2))(
                if (live.nonEmpty && rnd.nextBoolean())
                  live(rnd.nextInt(live.size))
                else triple())
              model --= ts
              s"DELETE DATA { ${text(ts)} }"
            case 3 =>
              val (p1, p2) = (preds(rnd.nextInt(3)), preds(rnd.nextInt(3)))
              val hit = model.filter(_._2 == p1)
              model = model -- hit ++ hit.map { case (s, _, o) => (s, p2, o) }
              s"DELETE { ?s <$p1> ?o } INSERT { ?s <$p2> ?o } WHERE { ?s <$p1> ?o }"
            case 4 =>
              val g = if (rnd.nextBoolean()) "g:x" else "g:y"
              val ts = Seq.fill(1 + rnd.nextInt(2))(triple())
              quadModel ++= ts.map { case (s, p, o) => (g, s, p, o) }
              s"INSERT DATA { GRAPH <$g> { ${text(ts)} } }"
            case _ =>
              val g = if (rnd.nextBoolean()) "g:x" else "g:y"
              val inG = quadModel.filter(_._1 == g).toSeq
              val ts = Seq.fill(1 + rnd.nextInt(2))(
                if (inG.nonEmpty && rnd.nextBoolean()) {
                  val q = inG(rnd.nextInt(inG.size)); (q._2, q._3, q._4)
                } else triple())
              quadModel --= ts.map { case (s, p, o) => (g, s, p, o) }
              s"DELETE DATA { GRAPH <$g> { ${text(ts)} } }"
          }
        }
        if (i == 5) spark.conf.set(key, "1")
        val (c, body) = http("POST", h.endpoint, "application/sparql-update", op)
        assert(c == 204, s"$kind op $i: $body")
        val want =
          if ((i + 1) % TripleStore.CompactDeltaBatches == 0) "flipped"
          else if (i >= 5 && i <= 8) "loaded" else "advanced"
        assert(h.lastUpdate.exists(_.contains(s"store=$want")),
          s"$kind op $i ($op): ${h.lastUpdate}")
        if (want == "flipped")
          assert(h.lastUpdate.exists(_.matches(".* carried=[1-9]\\d*$")),
            s"$kind op $i: the sentinel slice must be carried: ${h.lastUpdate}")
        val live = h.store
        val cold = TripleStore.fromDatasetParquet(spark, dir)
        val ctx = s"$kind op $i ($op)"
        // every slice, tagged with its predicate, in one collect
        def slices(st: TripleStore): Seq[String] = rows(st.slices.map {
          case (p, df) => df.select(lit(p).as("p"), col("s"), col("o"))
        }.reduce(_ unionByName _))
        assert(live.slices.keySet == cold.slices.keySet, ctx)
        assert(slices(live) == slices(cold), s"$ctx: slices")
        assert(live.quads.map(rows) == cold.quads.map(rows), s"$ctx: quads")
        val all = "select ?s ?p ?o where { ?s ?p ?o }"
        val wantAll = model.toSeq.map { case (s, p, o) => s"$s|$p|$o" }.sorted
        assert(answers(live, all) == wantAll, ctx)
        assert(answers(cold, all) == wantAll, ctx)
        val named = "select ?g ?s ?p ?o where { graph ?g { ?s ?p ?o } }"
        val wantNamed = quadModel.toSeq
          .map { case (g, s, p, o) => s"$g|$s|$p|$o" }.sorted
        for (st <- Seq(live, cold)) assert(rows(BgpPlanner.query(st, named)
          .select("g", "s", "p", "o")) == wantNamed, s"$ctx: named graphs")
        if (i == 7) restore()
      } finally h.stop()
    } finally restore()
  }

  test("delta merge wraps ONLY touched slices; untouched slices stay bare scans") {
    // read-side amplification guard: a 1-predicate delta must not put
    // an anti-join (and its broadcast job) into EVERY slice's plan —
    // at MaxPredicates scale that is MaxPredicates broadcast builds
    // per store load for a 1-row op
    val dir = java.nio.file.Files.createTempDirectory("graft-wb-bare").toString
    val st = TripleStore.fromTriples(Seq(
      ("d:1", "name", "a"), ("d:1", "age", "9")).toDF("s", "p", "o"))
    TripleStore.writeDataset(st, dir)
    val cur = TripleStore.fromDatasetParquet(spark, dir)
    val next = graft.bgp.SparqlUpdate.applyAll(spark, cur,
      """INSERT DATA { <d:2> <name> "b" }""")
    TripleStore.writeBackDelta(cur, next, dir)
    val reloaded = TripleStore.fromDatasetParquet(spark, dir)
    val untouchedPlan = reloaded.slices("age")
      .queryExecution.optimizedPlan.toString
    assert(!untouchedPlan.toLowerCase.contains("join"),
      s"untouched slice plan must stay a bare scan:\n$untouchedPlan")
    val touchedPlan = reloaded.slices("name")
      .queryExecution.optimizedPlan.toString
    assert(touchedPlan.toLowerCase.contains("join"),
      "touched slice must carry the delta merge")
    assert(reloaded.slices("name").count() == 2 &&
      reloaded.slices("age").count() == 1)
  }

  test("delta log compacts into a fresh version past the batch bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wb-cmp").toString
    val st = TripleStore.fromTriples(
      Seq(("t:0", "val", "v0")).toDF("s", "p", "o"))
    val h = SparqlServer.serve(st, persistDir = Some(dir))
    try {
      // op 1 bootstraps v0; the next CompactDeltaBatches ops append
      // batches seq=0..15, and the 16th append triggers compaction
      for (i <- 1 to TripleStore.CompactDeltaBatches + 1) {
        val (c, _) = http("POST", h.endpoint, "application/sparql-update",
          s"""INSERT DATA { <t:$i> <val> "v$i" }""")
        assert(c == 204)
      }
      val root = TripleStore.datasetRoot(spark, dir)
      assert(root == s"$dir/v1",
        s"expected compaction to flip the pointer to v1, got $root")
      assert(!new java.io.File(s"$root/delta").exists(),
        "a fresh compacted version starts with an empty delta log")
      // keep-2: v0 survives the flip for readers pinned to it
      assert(new java.io.File(s"$dir/v0").isDirectory,
        "previous version must survive one flip (KeepVersions = 2)")
      assert(BgpPlanner.query(h.store,
        "select ?s ?v where { ?s val ?v }").count() ==
        TripleStore.CompactDeltaBatches + 2)
    } finally h.stop()
  }

  /** Files under `f` with their bytes, skipping the hidden and
    * underscore-prefixed ones (checksums, `_SUCCESS`), keyed by their
    * path relative to `f`.
    */
  private def dataFiles(f: java.io.File): Map[String, Long] = {
    def walk(d: java.io.File, rel: String): Seq[(String, Long)] =
      Option(d.listFiles()).toSeq.flatten
        .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
        .flatMap { c =>
          val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
          if (c.isDirectory) walk(c, r) else Seq(r -> c.length)
        }
    walk(f, "").toMap
  }

  /** Run [[TripleStore.CompactDeltaBatches]] row-grain write-backs on
    * `cur`, each touching only predicate `p`, up to and including the
    * compaction flip; returns the store now standing and the flip.
    */
  private def compactOn(cur0: TripleStore, dir: String, p: String,
      tag: String): (TripleStore, TripleStore.Flip) = {
    var cur = cur0
    var flip: Option[TripleStore.Flip] = None
    val first = TripleStore.currentVersion(spark, dir).get
    for (i <- 0 until TripleStore.CompactDeltaBatches) {
      val (next, d) = SparqlUpdate.applyAllWithDelta(spark, cur,
        s"""INSERT DATA { <$tag:$i> <$p> "$tag-$i" }""")
      cur = TripleStore.writeBackDelta(cur, next, dir, d, wb => flip = wb.flip)
    }
    assert(TripleStore.currentVersion(spark, dir).contains(first + 1))
    (cur, flip.getOrElse(fail("the last batch must flip")))
  }

  test("a compaction writes only the slice its log touched; a manifest carries the rest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wb-carry").toString
    val preds = Seq("a", "b", "c", "d")
    val seed = for (p <- preds; i <- 0 until 50) yield (s"t:$i", p, s"$p-$i")
    assert(TripleStore.writeDatasetVersioned(TripleStore.fromTriples(
      seed.toDF("s", "p", "o")), dir) == TripleStore.Flip(0, 4, 0))
    val (st, flip) = compactOn(TripleStore.fromDatasetParquet(spark, dir),
      dir, "b", "n")
    assert(flip == TripleStore.Flip(1, 1, 3))
    // the new version holds the touched partition and the manifest only
    val v1 = new java.io.File(s"$dir/v1")
    val written = dataFiles(v1)
    assert(written.keySet.map(_.split('/').init.mkString("/")) ==
      Set("", "default/p=b"), written.keySet)
    assert(written.keySet.contains("MANIFEST"))
    assert(written.values.sum <=
      dataFiles(new java.io.File(s"$dir/v1/default/p=b")).values.sum +
        new java.io.File(s"$dir/v1/MANIFEST").length)
    assert(written.values.sum <
      dataFiles(new java.io.File(s"$dir/v0/default")).values.sum,
      "a compaction of one slice of four wrote as much as the whole base")
    // the flip's store and a cold load answer alike: base plus the log
    val want = (seed ++ (0 until TripleStore.CompactDeltaBatches)
      .map(i => (s"n:$i", "b", s"n-$i")))
      .map { case (s, p, o) => s"$s|$p|$o" }.sorted
    def all(x: TripleStore): Seq[String] = BgpPlanner.query(x,
      "select ?s ?p ?o where { ?s ?p ?o }").select("s", "p", "o")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(all(st) == want)
    assert(all(TripleStore.fromDatasetParquet(spark, dir)) == want)
    // a carried slice keeps its pruned scan of the holder's directory
    val plan = TripleStore.fromDatasetParquet(spark, dir).slices("c")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("/v0/default"), plan)
  }

  test("two compactions on different slices: GC keeps named partitions, strips the rest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wb-holder").toString
    val seed = for (p <- Seq("a", "b", "c"); i <- 0 until 20)
      yield (s"t:$i", p, s"$p-$i")
    TripleStore.writeDatasetVersioned(TripleStore.fromTriples(
      seed.toDF("s", "p", "o")), dir)
    def counts(st: TripleStore): Map[String, Long] = BgpPlanner.query(st,
      "select ?s ?p ?o where { ?s ?p ?o }").groupBy("p").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = TripleStore.CompactDeltaBatches
    val (afterA, f1) = compactOn(TripleStore.fromDatasetParquet(spark, dir),
      dir, "a", "x")
    assert(f1 == TripleStore.Flip(1, 1, 2))
    // a reader pinned to v1 before the second compaction
    val pinned = TripleStore.fromDatasetParquet(spark, dir)
    val (afterB, f2) = compactOn(afterA, dir, "b", "y")
    assert(f2 == TripleStore.Flip(2, 1, 2))
    val want = Map("a" -> (20L + n), "b" -> (20L + n), "c" -> 20L)
    assert(counts(afterB) == want)
    // v0 is a holder of the partitions v1's and v2's manifests name (b
    // and c); its stale `a` partition and its delta log are gone
    def dirs(v: Int): Set[String] =
      dataFiles(new java.io.File(s"$dir/v$v")).keySet.filter(_.contains("/"))
        .map(_.split('/').init.mkString("/"))
    assert(dirs(0) == Set("default/p=b", "default/p=c"), dirs(0))
    assert(TripleStore.listVersions(spark, dir) == Seq(1, 2))
    assert(intercept[IllegalArgumentException](
      TripleStore.fromDatasetParquet(spark, dir, 0)).getMessage
      .contains("not retained"))
    // the pinned reader and a time-travel read of v1 still answer
    val atV1 = Map("a" -> (20L + n), "b" -> 20L, "c" -> 20L)
    assert(counts(pinned) == atV1)
    assert(counts(TripleStore.fromDatasetParquet(spark, dir, 1, Some(0))) == atV1)
    // a third compaction expires v1 too: each holder keeps only what
    // the retained manifests still name
    val (afterC, f3) = compactOn(afterB, dir, "c", "z")
    assert(f3 == TripleStore.Flip(3, 1, 2))
    assert(dirs(0) == Set("default/p=c") && dirs(1) == Set("default/p=a"))
    assert(TripleStore.listVersions(spark, dir) == Seq(2, 3))
    assert(counts(afterC) == want.updated("c", 20L + n))
    assert(counts(TripleStore.fromDatasetParquet(spark, dir, 2, Some(0))) == want)
  }

  test("snapshot isolation: a reader pinned to the old version survives churn") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wb-snap").toString
    val st = TripleStore.fromTriples(
      (0 until 500).map(i => (s"t:$i", "val", s"v$i")).toDF("s", "p", "o"))
    TripleStore.writeDataset(st, dir)
    // pin a reader to the CURRENT (legacy) root before any churn
    val pinned = TripleStore.fromDatasetParquet(spark, dir)
    var cur = pinned
    // churn: row-grain appends (default + a named graph), then one
    // STRUCTURAL op (CLEAR GRAPH) that checkpoints a new version and
    // flips the pointer — the pinned reader's files must all remain
    for (i <- 0 until 3) {
      val next = graft.bgp.SparqlUpdate.applyAll(spark, cur,
        s"""INSERT DATA { <n:$i> <val> "x$i" }""")
      TripleStore.writeBackDelta(cur, next, dir)
      cur = TripleStore.fromDatasetParquet(spark, dir)
    }
    val (withQuads, d1) = graft.bgp.SparqlUpdate.applyAllWithDelta(spark,
      cur, """INSERT DATA { GRAPH <g:x> { <q:1> <tag> "t" } }""")
    TripleStore.writeBackDelta(cur, withQuads, dir, d1)
    cur = TripleStore.fromDatasetParquet(spark, dir)
    val (next2, d2) = graft.bgp.SparqlUpdate.applyAllWithDelta(
      spark, cur, "CLEAR GRAPH <g:x>")
    TripleStore.writeBackDelta(cur, next2, dir, d2)
    assert(TripleStore.datasetRoot(spark, dir) == s"$dir/v0",
      "structural op checkpoints a version")
    // the pinned pre-churn reader still scans intact files: its load
    // predates every delta batch, so it sees exactly the base 500
    assert(BgpPlanner.query(pinned,
      "select ?s ?v where { ?s val ?v }").count() == 500)
    // and a fresh load sees the post-churn state from the new version
    val fresh = TripleStore.fromDatasetParquet(spark, dir)
    assert(BgpPlanner.query(fresh,
      "select ?s ?v where { ?s val ?v }").count() == 503)
    // the cleared graph left no quads subtree in the new version
    assert(fresh.quads.isEmpty, "cleared graph set must reload as absent")
  }

  test("time travel: version-pinned loads replay checkpoint and op grain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val st = TripleStore.fromTriples(Seq(
      ("t:1", "name", "one"), ("t:2", "name", "two")).toDF("s", "p", "o"))
    TripleStore.writeDatasetVersioned(st, dir)
    var cur = TripleStore.fromDatasetParquet(spark, dir)
    // three row-grain ops append delta batches seq=0..2 under v0
    Seq(
      """INSERT DATA { <t:1> <status> "active" . <t:2> <status> "active" }""",
      """DELETE DATA { <t:1> <status> "active" }""",
      """INSERT DATA { <t:1> <status> "retired" }""").foreach { op =>
      val (next, d) = graft.bgp.SparqlUpdate.applyAllWithDelta(spark, cur, op)
      TripleStore.writeBackDelta(cur, next, dir, d)
      cur = TripleStore.fromDatasetParquet(spark, dir)
    }
    // a structural op flips to v1; v0 and its log are retained history
    val (n2, d2) = graft.bgp.SparqlUpdate.applyAllWithDelta(spark, cur,
      """INSERT DATA { GRAPH <g:tmp> { <x:1> <t> "1" } } ;
        |DROP GRAPH <g:tmp>""".stripMargin)
    TripleStore.writeBackDelta(cur, n2, dir, d2)
    assert(TripleStore.listVersions(spark, dir) == Seq(0, 1))
    def statusOf(st: TripleStore): Map[String, String] =
      BgpPlanner.query(st, "select ?n ?st where { ?n status ?st }")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // op-grain history within v0: the bare checkpoint, then each batch
    assert(statusOf(TripleStore.fromDatasetParquet(spark, dir, 0, Some(0)))
      == Map.empty, "maxOps=0 is the bare checkpoint state")
    assert(statusOf(TripleStore.fromDatasetParquet(spark, dir, 0, Some(1)))
      == Map("t:1" -> "active", "t:2" -> "active"))
    assert(statusOf(TripleStore.fromDatasetParquet(spark, dir, 0, Some(2)))
      == Map("t:2" -> "active"))
    assert(statusOf(TripleStore.fromDatasetParquet(spark, dir, 0))
      == Map("t:1" -> "retired", "t:2" -> "active"))
    // the pinned current version reads identically to the live load
    assert(statusOf(TripleStore.fromDatasetParquet(spark, dir, 1))
      == statusOf(TripleStore.fromDatasetParquet(spark, dir)))
    // a second structural flip garbage-collects v0 (KeepVersions = 2):
    // the pinned read fails LOUDLY, never returns a partial store
    cur = TripleStore.fromDatasetParquet(spark, dir)
    val (n3, d3) = graft.bgp.SparqlUpdate.applyAllWithDelta(spark, cur,
      """INSERT DATA { GRAPH <g:t2> { <x:2> <t> "2" } } ;
        |DROP GRAPH <g:t2>""".stripMargin)
    TripleStore.writeBackDelta(cur, n3, dir, d3)
    assert(TripleStore.listVersions(spark, dir) == Seq(1, 2))
    val err = intercept[IllegalArgumentException] {
      TripleStore.fromDatasetParquet(spark, dir, 0)
    }
    assert(err.getMessage.contains("not retained"))
  }
}
