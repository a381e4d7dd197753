package graft

import graft.bgp.TripleStore
import graft.graph.RdfGraph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.max
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
}
