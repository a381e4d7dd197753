package graft

import graft.bgp.TripleStore
import graft.graph.RdfGraph
import graft.tools.Profile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{lit, max}
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  // two disconnected components: {a,b,c} via knows, {x,y} via knows;
  // plus a literal-valued predicate that must NOT create edges
  private def store: TripleStore = {
    import spark.implicits._
    TripleStore.fromTriples(Seq(
      ("a", "knows", "b"),
      ("b", "knows", "c"),
      ("x", "knows", "y"),
      ("a", "name", "Alice")
    ).toDF("s", "p", "o"))
  }

  test("degrees count in+out edges over the chosen predicates only") {
    val g = RdfGraph.fromStore(store, Seq("knows"))
    val deg = RdfGraph.degrees(g, spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(deg == Map("a" -> 1L, "b" -> 2L, "c" -> 1L, "x" -> 1L, "y" -> 1L))
  }

  test("connected components find both components with min-name representative") {
    val g = RdfGraph.fromStore(store, Seq("knows"))
    val comp = RdfGraph.components(g, spark).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp == Map(
      "a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("pagerank mass concentrates on sink vertices") {
    val g = RdfGraph.fromStore(store, Seq("knows"))
    val pr = RdfGraph.pageRank(g, spark).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // c is the 2-hop chain sink: it must outrank everything else
    assert(pr("c") > pr("a") && pr("c") > pr("b"))
    assert(pr("c") > pr("x") && pr("c") > pr("y"))
  }

  test("transitive closure reaches fixpoint on chains and cycles") {
    import spark.implicits._
    import graft.graph.PathOps
    // chain a->b->c->d
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val cc = PathOps.transitiveClosure(chain).as[(String, String)].collect().toSet
    assert(cc == Set(("a", "b"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d")))
    // cycle a->b->a must terminate and include self-reachability
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val cy = PathOps.transitiveClosure(cyc).as[(String, String)].collect().toSet
    assert(cy == Set(("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")))
  }

  test("shortestHops takes the minimum over multiple paths and terminates on cycles") {
    import spark.implicits._
    import graft.graph.PathOps
    // diamond: a->d directly (1 hop) and via b->c (3 hops) — min wins
    val diamond = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"))
      .toDF("src", "dst")
    val hops = PathOps.shortestHops(diamond)
      .as[(String, String, Long)].collect().toSet
    assert(hops == Set(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("a", "d", 1L), ("a", "c", 2L), ("b", "d", 2L)))
    // cycle: distances stabilize at the shortest loop lengths
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val ch = PathOps.shortestHops(cyc).as[(String, String, Long)].collect().toSet
    assert(ch == Set(("a", "b", 1L), ("b", "a", 1L), ("a", "a", 2L), ("b", "b", 2L)))
  }

  test("capped fixpoint loops throw instead of returning a partial answer") {
    import spark.implicits._
    import graft.graph.PathOps
    // a 16-edge chain needs 4 doubling rounds and 8 peel rounds
    val chain = (0 until 16).map(i => s"v$i" -> s"v${i + 1}")
      .toDF("src", "dst")
    val und = chain.unionByName(chain.select($"dst".as("src"), $"src".as("dst")))
    val e1 = intercept[IllegalStateException](
      PathOps.transitiveClosure(chain, maxIter = 2))
    assert(e1.getMessage.contains("transitiveClosure"))
    val e2 = intercept[IllegalStateException](
      PathOps.shortestHops(chain, maxIter = 2))
    assert(e2.getMessage.contains("shortestHops"))
    val e3 = intercept[IllegalStateException](PathOps.kCore(und, 2, maxIter = 3))
    assert(e3.getMessage.contains("kCore"))
    // uncapped, the same loops reach their fixpoints
    assert(PathOps.transitiveClosure(chain).count() == 16 * 17 / 2)
    assert(PathOps.shortestHops(chain).filter($"src" === "v0")
      .agg(max($"d")).as[Long].head() == 16L)
    assert(PathOps.kCore(und, 2).count() == 0)
  }

  /** A seeded walk's result is a driver-local relation; a handed-over
    * one reads the edges through the doubling closure.
    */
  private def walked(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  test("reachFrom: self-loop, cycle, sink and absent seed") {
    import spark.implicits._
    import graft.graph.PathOps
    def reach(edges: Seq[(String, String)], seed: String,
        reflexive: Boolean = false): Seq[(String, String)] = {
      val df = PathOps.reachFrom(edges.toDF("src", "dst"), lit(seed), reflexive)
      assert(walked(df))
      df.as[(String, String)].collect().toSeq
    }
    // a self-loop reaches its own vertex in one hop
    assert(reach(Seq("a" -> "a", "a" -> "b"), "a").toSet ==
      Set(("a", "a"), ("a", "b")))
    // on a cycle p+ returns the seed itself, and p* returns it once
    val cyc = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
    assert(reach(cyc, "a").toSet ==
      Set(("a", "a"), ("a", "b"), ("a", "c"), ("a", "d")))
    val star = reach(cyc, "a", reflexive = true)
    assert(star.size == 4 && star.toSet == reach(cyc, "a").toSet)
    // a sink: nothing in ≥ 1 hop, but it IS a vertex, so p* pairs it
    // with itself
    assert(reach(cyc, "d").isEmpty)
    assert(reach(cyc, "d", reflexive = true) == Seq(("d", "d")))
    // an absent seed reaches nothing and is no vertex
    assert(reach(cyc, "zz").isEmpty && reach(cyc, "zz", reflexive = true).isEmpty)
  }

  test("reachFrom hands over to the doubling closure past its round cap and byte budget") {
    import spark.implicits._
    import graft.graph.PathOps
    def check(edges: DataFrame, seed: String, handOver: Boolean): Unit =
      for (reflexive <- Seq(false, true)) {
        val got = PathOps.reachFrom(edges, lit(seed), reflexive)
        val want = PathOps.closure(edges, reflexive).filter($"src" === seed)
        assert(walked(got) == !handOver, s"reflexive=$reflexive")
        assert(got.as[(String, String)].collect().sorted.toSeq ==
          want.as[(String, String)].collect().sorted.toSeq,
          s"reflexive=$reflexive")
      }
    // a chain longer than the round cap: the frontier is still
    // non-empty after MaxSeededRounds rounds
    val n = PathOps.MaxSeededRounds + 4
    val long = (0 until n).map(i => s"v$i" -> s"v${i + 1}").toDF("src", "dst")
    check(long, "v0", handOver = true)
    // the deepest walk the cap allows finishes seeded: MaxSeededRounds
    // − 1 hops, then the round that finds nothing new
    check(long, s"v${n - PathOps.MaxSeededRounds + 1}", handOver = false)
    // a visited set past the broadcast threshold, and broadcasting
    // disabled: both hand over; the setting is restored after
    val short = (0 until 8).map(i => s"v$i" -> s"v${i + 1}").toDF("src", "dst")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    try {
      for (thr <- Seq("200", "-1")) {
        spark.conf.set(key, thr)
        check(short, "v0", handOver = true)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    check(short, "v0", handOver = false)
  }

  test("a seeded walk over an L-hop chain runs L + 1 jobs and no shuffle") {
    import spark.implicits._
    import graft.graph.PathOps
    val hops = 6
    val chain = (0 until hops).map(i => s"v$i" -> s"v${i + 1}")
      .toDF("src", "dst").localCheckpoint()
    val (got, p) = Profile.of(spark)(
      PathOps.reachFrom(chain, lit("v0")).as[(String, String)].collect().toSet)
    assert(got == (1 to hops).map(i => ("v0", s"v$i")).toSet)
    // one job per round: the seed's hop, one per further hop, and the
    // round that finds nothing new
    assert(p.jobs == hops + 1, s"jobs ${p.jobs}")
    assert(p.stages == p.jobs && p.shuffleWriteBytes == 0L,
      s"stages ${p.stages}, shuffle bytes ${p.shuffleWriteBytes}")
  }

  test("a seeded walk over a store slice with a distinct runs its shuffle once") {
    import spark.implicits._
    import graft.graph.PathOps
    // a fromTriples slice is filter + distinct over the persisted
    // source: one exchange, which a walk must not repeat every round
    val hops = 6
    val st = TripleStore.fromTriples((0 until hops)
      .map(i => (s"v$i", "next", s"v${i + 1}")).toDF("s", "p", "o"))
    val slice = st.slices("next").toDF("src", "dst")
    val (got, p) = Profile.of(spark)(
      PathOps.reachFrom(slice, lit("v0")).as[(String, String)].collect().toSet)
    assert(got == (1 to hops).map(i => ("v0", s"v$i")).toSet)
    val shuffling = p.completed.count(_.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
    assert(shuffling == 1, s"shuffle stages $shuffling")
    // one job per round, plus the exchange's map stage, which adaptive
    // execution runs as its own job when the checkpoint is planned
    assert(p.jobs == hops + 2, s"jobs ${p.jobs}")
  }

  test("a seeded round ships at most the byte budget, however many tasks it has") {
    import spark.implicits._
    import graft.graph.PathOps
    // 8 partitions of 32 distinct ~2 KB targets: each partition
    // (~64 KB) is under the 100 KB threshold, their union (~512 KB) is
    // over it, so the walk must hand over without collecting the union
    val rows = for (part <- 0 until 8; i <- 0 until 32)
      yield ("s", s"$part-$i-" + "x" * 2000)
    val edges = spark.sparkContext.parallelize(rows, 8).toDF("src", "dst")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "100000")
      for (reflexive <- Seq(false, true)) {
        val (got, p) = Profile.of(spark)(PathOps.reachFrom(edges, lit("s"), reflexive))
        assert(!walked(got), s"reflexive=$reflexive")
        assert(got.as[(String, String)].collect().sorted.toSeq ==
          PathOps.closure(edges, reflexive).filter($"src" === "s")
            .as[(String, String)].collect().sorted.toSeq, s"reflexive=$reflexive")
        // what the walk's collects brought to the driver: the budget,
        // one row per task and the task results' own overhead
        val shipped = p.completed.filter(_.name.startsWith("collect at GuardedBroadcast"))
          .map(_.taskMetrics.resultSize).sum
        assert(shipped > 0 && shipped < 200000,
          s"reflexive=$reflexive shipped $shipped")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("corpus degree query matches a relational recount") {
    val q = SparkEntry.queries("q53_entity_degrees")(spark, "/root/testdata/sf0.001")
    import spark.implicits._
    val viaGraph = q.as[(String, Long)].collect().toMap
    // independent relational recount of the same edge inventory
    val st = TripleStore.fromStarSchema(spark, "/root/testdata/sf0.001")
    val preds = Seq("nationkey", "regionkey", "custkey", "contains", "suppliedby", "supplies")
    val edges = preds.map(st.slices).reduce(_ unionByName _)
    val expected = edges.select($"s".as("v"))
      .unionByName(edges.select($"o".as("v")))
      .groupBy($"v").count()
      .as[(String, Long)].collect().toMap
    assert(viaGraph == expected)
  }

  test("kCore peels to the unique fixpoint, including cascade rounds") {
    import spark.implicits._
    import graft.graph.PathOps
    // K4 {a,b,c,d} plus a chain d-e-f hanging off it. 2-core = the
    // clique: e and f peel, but f (degree 1) must go FIRST and only
    // then does e drop under 2 — the cascade that proves the loop
    // iterates rather than filtering once.
    val cliq = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d", "d" -> "e", "e" -> "f")
    val und = cliq.toDF("src", "dst")
      .unionByName(cliq.map(_.swap).toDF("src", "dst"))
    val core2 = PathOps.kCore(und, 2).as[String].collect().toSet
    assert(core2 == Set("a", "b", "c", "d"))
    // 3-core keeps the clique too (every clique vertex has 3 clique
    // neighbors); 4-core is empty — peeling must drain fully, not stop
    // at a nonempty under-degree remnant
    assert(PathOps.kCore(und, 3).as[String].collect().toSet ==
      Set("a", "b", "c", "d"))
    assert(PathOps.kCore(und, 4).count() == 0)
    // corpus query: the 5-core report is a partition of a subset of
    // the vertex inventory, never larger than it
    val rep = SparkEntry.queries("q234_kcore")(spark, "/root/testdata/sf0.001")
      .as[(String, Long)].collect().toMap
    assert(rep.values.forall(_ > 0) && rep.keySet.contains("order"))
  }

  test("kCore symmetrizes directed input itself") {
    import spark.implicits._
    import graft.graph.PathOps
    // the K4 + tail graph of the peel test, each edge given ONE way
    // (and one edge both ways): the core is the undirected graph's
    val one = Seq("a" -> "b", "c" -> "a", "a" -> "d", "b" -> "c",
      "d" -> "b", "c" -> "d", "d" -> "c", "e" -> "d", "e" -> "f")
    val und = one.toDF("src", "dst")
      .unionByName(one.map(_.swap).toDF("src", "dst"))
    for (k <- 1 to 4)
      assert(PathOps.kCore(one.toDF("src", "dst"), k).as[String].collect().toSet ==
        PathOps.kCore(und, k).as[String].collect().toSet, s"k=$k")
    assert(PathOps.kCore(one.toDF("src", "dst"), 2).as[String].collect().toSet ==
      Set("a", "b", "c", "d"))
  }

  /** The k-core by the textbook peel: drop one vertex under degree k
    * at a time (degree over distinct undirected neighbors) until none
    * is left.
    */
  private def naiveCore(edges: Seq[(String, String)], k: Int): Set[String] = {
    var adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    var low = adj.find(_._2.size < k)
    while (low.isDefined) {
      val v = low.get._1
      adj = (adj - v).map { case (u, ns) => u -> (ns - v) }
      low = adj.find(_._2.size < k)
    }
    adj.keySet
  }

  test("kCore matches a naive peel on random directed and symmetric graphs") {
    import graft.graph.PathOps
    // its own session: the 1-byte threshold must not race other suites
    val s2 = spark.newSession()
    import s2.implicits._
    val key = "spark.sql.autoBroadcastJoinThreshold"
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(8)
      val directed = Seq.fill(2 * n)((s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter { case (a, b) => a != b }
      val symmetric = directed ++ directed.map(_.swap)
      for ((shape, edges) <- Seq("directed" -> directed, "symmetric" -> symmetric);
          threshold <- Seq("10MB", "1"); k <- 2 to 3) {
        // 10MB: each round's removed set is held on the driver and
        // broadcast; 1 byte: it is over budget and joins as a shuffle
        s2.conf.set(key, threshold)
        assert(PathOps.kCore(edges.toDF("src", "dst"), k).as[String].collect().toSet ==
          naiveCore(edges, k), s"seed=$seed $shape threshold=$threshold k=$k")
      }
    }
  }

  test("kCore's per-round removed set takes no guard-memo entry") {
    import spark.implicits._
    import graft.graph.PathOps
    import graft.scale.GuardedBroadcast
    // a 16-edge chain peels its two ends a round: 9 rounds at k = 2
    val chain = (0 until 16).map(i => s"v$i" -> s"v${i + 1}").toDF("src", "dst")
    val before = GuardedBroadcast.memoSize
    assert(PathOps.kCore(chain, 2).count() == 0)
    assert(GuardedBroadcast.memoSize == before,
      "each kCore round took a guard-memo slot (and may evict another query's)")
  }
}
