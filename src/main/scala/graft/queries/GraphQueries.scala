package graft.queries

import graft.GQuery
import graft.bgp.TripleStore
import graft.graph.RdfGraph
import graft.scale.Derived
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity-graph analytics over the RDF view (GraphX). q53's degree
  * count is SQL-expressible, so the DuckDB oracle re-derives the edge
  * list relationally and verifies graph construction end-to-end; the
  * iterative algorithms (components, PageRank) register as rows-only
  * checks and are spec-verified on synthetic graphs (GraphSpec).
  */
object GraphQueries {

  /** Entity→entity predicates (literal-valued ones carry no edges). */
  private val entityPreds =
    Seq("nationkey", "regionkey", "custkey", "contains", "suppliedby", "supplies")

  // Memoize + cache the graph per (session, dir, predicate set): the
  // analytics queries share one construction, and the iterative
  // algorithms (Pregel) re-visit the edge RDD every superstep — caching
  // it is the difference between O(iters) and O(iters × rebuild) scans.
  private def graph(s: SparkSession, dir: String,
      preds: Seq[String] = entityPreds) =
    Derived(s, Derived.Dataset, ("graph", dir, preds))(
      RdfGraph.fromStore(TripleStore.fromStarSchema(s, dir), preds).cache())

  /** The same edge list, relationally, for the oracle. */
  private val edgesSql =
    """edges AS (
      |  SELECT DISTINCT concat('customer:', c_custkey) AS s, concat('nation:', c_nationkey) AS o FROM customer
      |  UNION ALL
      |  SELECT DISTINCT concat('supplier:', s_suppkey), concat('nation:', s_nationkey) FROM supplier
      |  UNION ALL
      |  SELECT DISTINCT concat('nation:', n_nationkey), concat('region:', n_regionkey) FROM nation
      |  UNION ALL
      |  SELECT DISTINCT concat('order:', o_orderkey), concat('customer:', o_custkey) FROM orders
      |  UNION ALL
      |  SELECT DISTINCT concat('order:', l_orderkey), concat('part:', l_partkey) FROM lineitem
      |  UNION ALL
      |  SELECT DISTINCT concat('order:', l_orderkey), concat('supplier:', l_suppkey) FROM lineitem
      |  UNION ALL
      |  SELECT DISTINCT concat('supplier:', l_suppkey), concat('part:', l_partkey) FROM lineitem)""".stripMargin

  def all: Seq[GQuery] = Seq(

    // in+out degree per entity via GraphX, verified relationally
    GQuery(
      "q53_entity_degrees",
      (s, dir) => RdfGraph.degrees(graph(s, dir), s),
      Some(s"""WITH $edgesSql
              |SELECT v AS entity, count(*) AS degree FROM (
              |  SELECT s AS v FROM edges UNION ALL SELECT o FROM edges)
              |GROUP BY v""".stripMargin)),

    // connected-component sizes over a deliberately disconnected
    // subgraph (nationkey edges only → one star per nation; the full
    // entity graph is a single component, which verifies nothing), with
    // component representatives as min entity name so labels are
    // ID-scheme-independent. Oracle: WITH RECURSIVE reachability +
    // min-label in DuckDB.
    GQuery(
      "q54_graph_components",
      (s, dir) => {
        import s.implicits._
        RdfGraph.components(graph(s, dir, Seq("nationkey")), s)
          .groupBy($"component").agg(count(lit(1)).as("n_entities"))
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT DISTINCT concat('customer:', c_custkey) AS a,
             |         concat('nation:', c_nationkey) AS b FROM customer
             |  UNION
             |  SELECT DISTINCT concat('supplier:', s_suppkey),
             |         concat('nation:', s_nationkey) FROM supplier),
             |nodes AS (SELECT a AS v FROM edges UNION SELECT b FROM edges),
             |und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
             |reach AS (
             |  SELECT v AS src, v AS dst FROM nodes
             |  UNION
             |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
             |comp AS (SELECT src, min(dst) AS component FROM reach GROUP BY src)
             |SELECT component, count(*) AS n_entities
             |FROM comp GROUP BY component""".stripMargin)),

    // PageRank, fixed-iteration with integer-scaled arithmetic so the
    // DuckDB oracle can verify it exactly (float pagerank is engine-
    // specific; GraphX's tolerance-based variant stays spec-verified in
    // GraphSpec). Ranks carry 1e10 scale; each step is
    // rank' = (15·S + 85·Σ floor(rank/deg)) div 100 — all-integer, so
    // summation order cannot flip a bit. 3 unrolled iterations.
    GQuery(
      "q55_graph_pagerank",
      (s, dir) => {
        import s.implicits._
        // per-(session, dataset) persisted pair: vertices and the
        // degree-joined edges feed every unrolled iteration — memoized
        // with unpersist-on-evict, not leaked per invocation
        val (vertices, withDeg) = Derived(s, Derived.Dataset, ("pagerank", dir)) {
          val store = TripleStore.fromStarSchema(s, dir)
          val edges = entityPreds.map(store.slices(_))
            .reduce(_ unionByName _).toDF("src", "dst")
          val v = edges.select($"src".as("v"))
            .unionByName(edges.select($"dst".as("v"))).distinct().cache()
          val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
          (v, edges.join(deg, "src").cache())
        }
        var ranks = vertices.select($"v", lit(10000000000L).as("rank"))
        for (_ <- 1 to 3) {
          val sums = withDeg
            .join(ranks.withColumnRenamed("v", "src"), "src")
            .select($"dst".as("v"), expr("rank div deg").as("c"))
            .groupBy($"v").agg(sum($"c").as("m"))
          ranks = vertices.join(sums, Seq("v"), "left")
            .select($"v",
              expr("(150000000000 + 85 * coalesce(m, 0L)) div 100").as("rank"))
        }
        ranks.select($"v".as("entity"), $"rank")
      },
      Some {
        def step(prev: String, cur: String) =
          s"""$cur AS (
             |  SELECT n.v, CAST((150000000000 + 85 * coalesce(c.m, 0)) // 100 AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.o AS v, CAST(sum(r.rank // d.deg) AS BIGINT) AS m
             |    FROM edges e JOIN deg d ON e.s = d.s JOIN $prev r ON r.v = e.s
             |    GROUP BY e.o) c ON c.v = n.v)""".stripMargin
        s"""WITH $edgesSql,
           |nodes AS (SELECT s AS v FROM edges UNION SELECT o FROM edges),
           |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY s),
           |r0 AS (SELECT v, CAST(10000000000 AS BIGINT) AS rank FROM nodes),
           |${step("r0", "r1")},
           |${step("r1", "r2")},
           |${step("r2", "r3")}
           |SELECT v AS entity, rank FROM r3""".stripMargin
      }),

    // transitive closure (SPARQL property-path p+ shape) via semi-naive
    // fixpoint over each customer's order-succession chain, verified
    // against DuckDB's WITH RECURSIVE
    GQuery(
      "q63_transitive_closure",
      (s, dir) => {
        import s.implicits._
        import graft.Tables.t
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
        val edges = t(s, dir, "orders")
          .withColumn("nk", lead($"o_orderkey", 1).over(w))
          .filter($"nk".isNotNull)
          .select($"o_orderkey".as("src"), $"nk".as("dst"))
        graft.graph.PathOps.transitiveClosure(edges)
      },
      Some("""WITH RECURSIVE seq AS (
             |  SELECT o_orderkey AS k,
             |    lead(o_orderkey) OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate, o_orderkey) AS nk
             |  FROM orders),
             |edges AS (SELECT k AS src, nk AS dst FROM seq WHERE nk IS NOT NULL),
             |closure AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src)
             |SELECT src, dst FROM closure""".stripMargin)),

    // triangle counting with degree orientation (Schank–Wagner /
    // "forward" algorithm): each undirected edge is directed from its
    // lower-(degree, id) endpoint to the higher, which caps every
    // node's out-degree at O(√m) — the wedge join (the only
    // super-linear step, Σ C(outdeg, 2)) is then minimized, and a hot
    // hub generates no wedges at all because all its edges point IN.
    // Wedge pairs are ordered by the same global rank, so the closing
    // edge of a triangle is exactly one oriented (x→y) row — an
    // equality-keyed LEFT SEMI hash join, no OR-condition nested loop.
    // Result: one row (n_wedges, n_triangles) — the wedge count pins
    // the bounded intermediate, the triangle count the answer.
    GQuery(
      "q194_triangle_count",
      (s, dir) => {
        import s.implicits._
        val (ornt, wedges) = Derived(s, Derived.Dataset, ("triangles", dir)) {
          val store = TripleStore.fromStarSchema(s, dir)
          val ed = entityPreds.flatMap(store.slices.get)
            .map(_.select($"s", $"o"))
            .reduce(_ unionByName _)
          val und = ed.filter($"s" =!= $"o")
            .select(least($"s", $"o").as("u"), greatest($"s", $"o").as("v"))
            .distinct()
          val deg = und.select($"u".as("n"))
            .unionByName(und.select($"v".as("n")))
            .groupBy($"n").agg(count(lit(1)).as("d"))
          val ranked = und
            .join(deg.select($"n".as("u"), $"d".as("du")), Seq("u"))
            .join(deg.select($"n".as("v"), $"d".as("dv")), Seq("v"))
          // und has u < v by construction: the tie-break never needs id
          val uFirst = $"du" < $"dv" || ($"du" === $"dv")
          // ornt feeds three consumers (both wedge sides + the closing
          // semi-join) and wedges two (its count + the semi-join) —
          // persisted, or Spark re-derives the whole star-schema edge
          // lineage per consumer (the registry sweep's #1 hotspot: the
          // same distinct+degree joins rebuilt ~4x). The persisted sets
          // are exactly the rows the joins must shuffle anyway; the
          // handles ride the bounded memo (unpersist on evict) so
          // repeated invocations in a long-lived session reuse one
          // pinned pair instead of leaking two blocks per call.
          val o = ranked.select(
            when(uFirst, $"u").otherwise($"v").as("a"),
            when(uFirst, $"v").otherwise($"u").as("b"),
            when(uFirst, $"dv").otherwise($"du").as("db"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val w = o.as("e1").join(o.as("e2"),
              col("e1.a") === col("e2.a") &&
                (col("e1.db") < col("e2.db") ||
                  (col("e1.db") === col("e2.db") && col("e1.b") < col("e2.b"))))
            .select(col("e1.b").as("x"), col("e2.b").as("y"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (o, w)
        }
        val tri = wedges.join(ornt,
          $"x" === $"a" && $"y" === $"b", "left_semi")
        wedges.agg(count(lit(1)).as("n_wedges"))
          .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      },
      Some(s"""WITH $edgesSql,
              |und AS (SELECT DISTINCT least(s, o) AS u, greatest(s, o) AS v
              |        FROM edges WHERE s <> o),
              |deg AS (SELECT n, count(*) AS d FROM (
              |          SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
              |        GROUP BY 1),
              |ornt AS (SELECT
              |    CASE WHEN du.d <= dv.d THEN u.u ELSE u.v END AS a,
              |    CASE WHEN du.d <= dv.d THEN u.v ELSE u.u END AS b,
              |    CASE WHEN du.d <= dv.d THEN dv.d ELSE du.d END AS db
              |  FROM und u JOIN deg du ON du.n = u.u
              |    JOIN deg dv ON dv.n = u.v),
              |wedges AS (SELECT e1.b AS x, e2.b AS y
              |           FROM ornt e1 JOIN ornt e2 ON e1.a = e2.a
              |             AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))),
              |tri AS (SELECT x, y FROM wedges
              |        WHERE EXISTS (SELECT 1 FROM ornt WHERE a = x AND b = y))
              |SELECT (SELECT count(*) FROM wedges) AS n_wedges,
              |       (SELECT count(*) FROM tri) AS n_triangles""".stripMargin)),

    // 5-core of the entity graph (iterative peeling to the unique
    // fixpoint — PathOps.kCore): which entity types survive when every
    // member must keep >= 5 graph neighbors. The density screen a
    // graph-sampling pipeline runs before walking: peripheral
    // single-link entities (most parts' suppliers, sub-5-item orders)
    // peel away, the dense order/customer/part center remains. Peel
    // rounds are bounded by the graph's degeneracy ordering depth (a
    // data property — 4 on this corpus, verified at 3 SFs), not its
    // size. Oracle: monotone removed-set recursion — each round
    // re-emits the FULL removed set tagged with a new round number
    // (UNION ALL keeps the working table = the whole set), so the
    // next round can compute residual degrees; the round < 8 guard
    // terminates the recursion two rounds past the observed fixpoint,
    // and any insufficiency surfaces as a hash mismatch, never
    // silently.
    GQuery(
      "q234_kcore",
      (s, dir) => {
        import s.implicits._
        // r15: same symmetrized-distinct edge set as [[undirectedDf]]
        // (entityPreds ≡ the 7 relational edge selects), so start the
        // peel from the memoized persisted relation the other
        // iterative queries share instead of re-deriving the whole
        // star-schema union per invocation (was ~12 scan jobs + two
        // distinct shuffles before the first peel round).
        val und = undirectedDf(s, dir)
          .select($"v".as("src"), $"w".as("dst"))
        graft.graph.PathOps.kCore(und, 5)
          .select(substring_index($"v", ":", 1).as("etype"))
          .groupBy($"etype").agg(count(lit(1)).as("n_core"))
      },
      Some(s"""WITH RECURSIVE $edgesSql,
              |e1 AS (SELECT DISTINCT s, o FROM edges),
              |ed AS (SELECT s AS a, o AS b FROM e1
              |       UNION SELECT o, s FROM e1),
              |deg0 AS (SELECT a AS v, count(*) AS d FROM ed GROUP BY 1),
              |rem AS (
              |  SELECT 0 AS round, v FROM deg0 WHERE d < 5
              |  UNION ALL
              |  SELECT (SELECT max(round) FROM rem) + 1 AS round, d0.v
              |  FROM deg0 d0
              |  LEFT JOIN (SELECT ed.a AS v, count(*) AS rd
              |             FROM ed JOIN rem ON rem.v = ed.b GROUP BY 1) rn
              |    ON rn.v = d0.v
              |  WHERE d0.d - coalesce(rn.rd, 0) < 5
              |    AND (SELECT max(round) FROM rem) < 8),
              |removed AS (SELECT DISTINCT v FROM rem),
              |core AS (SELECT d0.v FROM deg0 d0
              |         ANTI JOIN removed r ON r.v = d0.v)
              |SELECT split_part(v, ':', 1) AS etype, count(*) AS n_core
              |FROM core GROUP BY 1""".stripMargin)),

    // label-propagation communities (2 synchronous rounds): every node
    // starts labeled with its own name; each round it adopts the MODE
    // of its neighbors' labels (tie → lexicographically smallest).
    // Unlike q54's connected components (where one label floods each
    // component), mode-propagation finds dense local communities in a
    // graph that is globally one component. Fixed round count +
    // deterministic tie-break make the fixpoint-free algorithm
    // oracle-checkable by unrolling. Scale shape per round: one join
    // of edges against the node-sized label relation (both shuffled on
    // node id, degree-bounded fan-out) + a (node,label) count — the
    // textbook LPA data layout; rounds are a constant, never data-sized.
    GQuery(
      "q244_label_prop",
      (s, dir) => {
        import s.implicits._
        val und = undirectedDf(s, dir)
        var lbl = und.select($"v").distinct().withColumn("lbl", $"v")
        for (_ <- 1 to 2) {
          // mode with the smallest-label tiebreak as ONE hash aggregate:
          // argmin over the (-count, label) struct ≡ the rank-1 row of a
          // (count desc, label asc) window, without the per-round sort
          lbl = und.join(lbl.withColumnRenamed("v", "w"), "w")
            .groupBy($"v", $"lbl").agg(count(lit(1)).as("c"))
            .groupBy($"v")
            .agg(min_by($"lbl", struct((-$"c").as("nc"), $"lbl")).as("lbl"))
        }
        lbl.groupBy($"lbl".as("community"))
          .agg(count(lit(1)).as("n_members"))
      },
      Some(s"""WITH $edgesSql,
              |e1 AS (SELECT DISTINCT s, o FROM edges),
              |und AS (SELECT s AS v, o AS w FROM e1
              |        UNION SELECT o, s FROM e1),
              |l0 AS (SELECT v, v AS lbl FROM (
              |    SELECT DISTINCT v FROM (SELECT v FROM und
              |                            UNION SELECT w FROM und))),
              |n1 AS (SELECT u.v, l.lbl, count(*) AS c
              |       FROM und u JOIN l0 l ON u.w = l.v GROUP BY 1, 2),
              |l1 AS (SELECT v, lbl FROM (
              |    SELECT v, lbl, row_number() OVER (
              |        PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n1)
              |  WHERE rk = 1),
              |n2 AS (SELECT u.v, l.lbl, count(*) AS c
              |       FROM und u JOIN l1 l ON u.w = l.v GROUP BY 1, 2),
              |l2 AS (SELECT v, lbl FROM (
              |    SELECT v, lbl, row_number() OVER (
              |        PARTITION BY v ORDER BY c DESC, lbl) AS rk FROM n2)
              |  WHERE rk = 1)
              |SELECT lbl AS community, count(*) AS n_members
              |FROM l2 GROUP BY 1""".stripMargin)),

    // HITS hubs & authorities, 2 unnormalized iterations over the
    // DIRECTED entity edges (h₀=a₀=1, aₖ(v)=Σ_{u→v}hₖ₋₁(u),
    // hₖ(u)=Σ_{u→v}aₖ(v)): every score is an exact int64 (sums of
    // degree products — normalization is a presentation step, not
    // needed for the ranking, and skipping it keeps the iteration
    // oracle-checkable to the bit). Top-20 by authority with the
    // entity name tiebreak. Scale shape per iteration: one edge↔score
    // join + groupBy on node ids (degree-bounded fan-out, map-side
    // combine) — the Pregel data layout without the framework; the
    // iteration count is constant. Complements q55's PageRank (GraphX,
    // rows-only) with a driver-gated iterative-linear-algebra check.
    GQuery(
      "q256_hits",
      (s, dir) => {
        import s.implicits._
        val e0 = edgesDf(s, dir)
        val a1 = e0.groupBy($"o".as("v")).agg(count(lit(1)).as("a1"))
        val h1 = e0.join(a1, $"o" === $"v")
          .groupBy($"s".as("u")).agg(sum($"a1").as("h1"))
        val a2 = e0.join(h1, $"s" === $"u")
          .groupBy($"o".as("v2")).agg(sum($"h1").as("auth"))
        val h2 = e0.join(a2, $"o" === $"v2")
          .groupBy($"s".as("u2")).agg(sum($"auth").as("hub"))
        a2.select($"v2".as("entity"), $"auth")
          .join(h2.select($"u2".as("entity"), $"hub"), Seq("entity"), "full_outer")
          .select($"entity", coalesce($"auth", lit(0L)).as("auth"),
            coalesce($"hub", lit(0L)).as("hub"))
          .orderBy($"auth".desc, $"entity".asc)
          .limit(20)
      },
      Some(s"""WITH $edgesSql,
              |e1 AS (SELECT DISTINCT s, o FROM edges),
              |a1 AS (SELECT o AS v, count(*) AS a1 FROM e1 GROUP BY 1),
              |h1 AS (SELECT s AS u, CAST(sum(a1) AS BIGINT) AS h1
              |       FROM e1 JOIN a1 ON e1.o = a1.v GROUP BY 1),
              |a2 AS (SELECT o AS v2, CAST(sum(h1) AS BIGINT) AS auth
              |       FROM e1 JOIN h1 ON e1.s = h1.u GROUP BY 1),
              |h2 AS (SELECT s AS u2, CAST(sum(auth) AS BIGINT) AS hub
              |       FROM e1 JOIN a2 ON e1.o = a2.v2 GROUP BY 1)
              |SELECT coalesce(a2.v2, h2.u2) AS entity,
              |  coalesce(auth, 0) AS auth, coalesce(hub, 0) AS hub
              |FROM a2 FULL JOIN h2 ON a2.v2 = h2.u2
              |ORDER BY auth DESC, entity LIMIT 20""".stripMargin)),

    // two-hop neighborhood Jaccard between nations (co-citation): two
    // nations are similar when the same PARTS flow from their
    // suppliers — the graph-similarity primitive behind "related
    // items" and link-prediction features, over the supplier→part and
    // supplier→nation edge sets (direct nation neighborhoods are
    // disjoint by construction — every entity has one nation — so the
    // informative similarity lives one hop out). |A∩B| comes from a
    // shared-part self-join; fan-out per part is its nation-degree
    // (≤ nation count, capped by re-blocking hot parts at scale),
    // never |V|². |A∪B| = dA + dB − |A∩B| from the degree relation;
    // the ratio is one exact integer divide. Top-20 pairs by overlap.
    GQuery(
      "q260_nation_jaccard",
      (s, dir) => {
        import s.implicits._
        val e0 = edgesDf(s, dir)
        val supNation = e0.filter($"s".startsWith("supplier:")
            && $"o".startsWith("nation:"))
          .select($"s".as("sup"), $"o".as("n"))
        val supPart = e0.filter($"s".startsWith("supplier:")
            && $"o".startsWith("part:"))
          .select($"s".as("sup"), $"o".as("p"))
        val tn = supPart.join(supNation, "sup")
          .select($"p", $"n").distinct()
        val deg = tn.groupBy($"n").agg(count(lit(1)).as("d"))
        val inter = tn.as("a")
          .join(tn.as("b"), $"a.p" === $"b.p" && $"a.n" < $"b.n")
          .groupBy($"a.n".as("n1"), $"b.n".as("n2"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(deg.select($"n".as("n1"), $"d".as("d1")), "n1")
          .join(deg.select($"n".as("n2"), $"d".as("d2")), "n2")
          .select($"n1", $"n2", $"inter",
            ($"inter" * lit(1.0) / ($"d1" + $"d2" - $"inter")).as("jaccard"))
          .orderBy($"inter".desc, $"n1".asc, $"n2".asc)
          .limit(20)
      },
      Some(s"""WITH $edgesSql,
              |sn AS (SELECT DISTINCT s AS sup, o AS n FROM edges
              |       WHERE s LIKE 'supplier:%' AND o LIKE 'nation:%'),
              |sp AS (SELECT DISTINCT s AS sup, o AS p FROM edges
              |       WHERE s LIKE 'supplier:%' AND o LIKE 'part:%'),
              |tn AS (SELECT DISTINCT p, n FROM sp JOIN sn USING (sup)),
              |deg AS (SELECT n, count(*) AS d FROM tn GROUP BY 1),
              |i AS (SELECT a.n AS n1, b.n AS n2, count(*) AS inter
              |      FROM tn a JOIN tn b ON a.p = b.p AND a.n < b.n
              |      GROUP BY 1, 2)
              |SELECT n1, n2, inter,
              |  inter * 1.0 / (d1.d + d2.d - inter) AS jaccard
              |FROM i JOIN deg d1 ON i.n1 = d1.n JOIN deg d2 ON i.n2 = d2.n
              |ORDER BY inter DESC, n1, n2 LIMIT 20""".stripMargin))
  )

  /** The q53 edge list as a DataFrame (relational mirror of
    * [[edgesSql]], shared by the driver-gated iterative queries).
    */
  // memoized + persisted like [[graph]]: the iterative queries
  // (LPA's 2 rounds, HITS' 4 passes, the two-hop projection) each
  // re-visit the edge relation several times per run — without the
  // cache every visit re-pays the 7-way distinct-union build.
  private def edgesDf(s: SparkSession, dir: String): DataFrame =
    Derived(s, Derived.Dataset, ("edges", dir))(buildEdgesDf(s, dir).persist())

  /** Memoized symmetrized edge relation — the per-round probe side of
    * the label-propagation iterations.
    */
  private def undirectedDf(s: SparkSession, dir: String): DataFrame =
    Derived(s, Derived.Dataset, ("undirected", dir)) {
      import s.implicits._
      val edges = edgesDf(s, dir)
      edges.select($"s".as("v"), $"o".as("w"))
        .unionByName(edges.select($"o".as("v"), $"s".as("w")))
        .distinct().persist()
    }

  private def buildEdgesDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = graft.Tables.t(s, dir, "customer")
    val sup = graft.Tables.t(s, dir, "supplier")
    val n = graft.Tables.t(s, dir, "nation")
    val o = graft.Tables.t(s, dir, "orders")
    val l = graft.Tables.t(s, dir, "lineitem")
    Seq(
      c.select(concat(lit("customer:"), $"c_custkey").as("s"),
        concat(lit("nation:"), $"c_nationkey").as("o")),
      sup.select(concat(lit("supplier:"), $"s_suppkey").as("s"),
        concat(lit("nation:"), $"s_nationkey").as("o")),
      n.select(concat(lit("nation:"), $"n_nationkey").as("s"),
        concat(lit("region:"), $"n_regionkey").as("o")),
      o.select(concat(lit("order:"), $"o_orderkey").as("s"),
        concat(lit("customer:"), $"o_custkey").as("o")),
      l.select(concat(lit("order:"), $"l_orderkey").as("s"),
        concat(lit("part:"), $"l_partkey").as("o")),
      l.select(concat(lit("order:"), $"l_orderkey").as("s"),
        concat(lit("supplier:"), $"l_suppkey").as("o")),
      l.select(concat(lit("supplier:"), $"l_suppkey").as("s"),
        concat(lit("part:"), $"l_partkey").as("o")))
      .map(_.distinct()).reduce(_ unionByName _)
  }
}
