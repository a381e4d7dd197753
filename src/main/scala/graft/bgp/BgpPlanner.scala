package graft.bgp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Sparql._

/** BGP → DataFrame planner.
  *
  * Reference lifecycle (SURVEY.md §3.1): parse → query graph → join
  * vertices (degree>1) → per-vertex subqueries → distributed hash joins
  * along graph edges. Spark-native translation: one filtered scan of
  * the triple table per pattern, then an inner natural join chain on
  * all shared variables (exactly the observable semantics of the
  * reference's multi-key hash join J2, BasicHashJoin.cpp:589-611),
  * with Catalyst/AQE playing the role of DREAM's cost-based optimizer
  * (SURVEY.md §4.4). Bag semantics throughout — the reference never
  * dedups (BasicHashJoin.cpp:571-587).
  *
  * Plan-shape choices for scale:
  *  - pattern scans filter on constants first (predicate pushdown into
  *    the triple scan — with a parquet store partitioned by `p` this
  *    becomes partition pruning);
  *  - join order: start at the most-constant pattern and grow the join
  *    tree only along shared variables, so no accidental cartesian
  *    products; AQE re-plans sizes at runtime;
  *  - the final projection prunes to SELECT vars with lexicographic
  *    column canonicalization (reference O2, QueryPlanner.c:839-860).
  */
object BgpPlanner {

  /** Bound on the distinct endpoints a variable SERVICE block
    * (`SERVICE ?ep { … }`) may range over: each one is a separate
    * remote evaluation, and an endpoint inventory is deployment-sized
    * by nature — past this the query fails loudly instead of fanning
    * out a data-sized number of federated requests.
    */
  val MaxServiceEndpoints = 16

  /** Query-graph metadata (reference createGraph QueryPlanner.c:192-223;
    * identifyJoinNodes 226-239; assignConditionsToNodes 242-288).
    * Planner-side only — O(#patterns), never data-sized.
    */
  final case class QueryGraph(
      vertices: Set[Term],
      degree: Map[Term, Int],
      joinVertices: Set[Term],
      exclusive: Map[Term, Seq[TriplePattern]],
      shared: Seq[TriplePattern])

  def analyze(q: BgpQuery): QueryGraph = {
    val endpoints: Seq[(Term, TriplePattern)] =
      q.patterns.flatMap(p => Seq(p.s -> p, p.o -> p))
    val degree = endpoints.groupBy(_._1).map { case (t, xs) => t -> xs.size }
    val joinVertices = degree.filter(_._2 > 1).keySet
    // A pattern with exactly one join-vertex endpoint is EXCLUSIVE to
    // it; with two it is SHARED (QueryPlanner.c:259-277).
    val (excl, shr) = q.patterns.partition(p =>
      Seq(p.s, p.o).count(joinVertices.contains) <= 1)
    val exclusive = excl
      .flatMap(p => Seq(p.s, p.o).find(joinVertices.contains).map(_ -> p))
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
    QueryGraph(degree.keySet.toSet, degree, joinVertices, exclusive, shr)
  }

  /** Canonical pattern key for the measured-cost cache — DREAM keys
    * its stats files by a canonical condition string
    * (PlanCostEstimator.cpp:585-655); here constants print verbatim and
    * variables normalize to first-occurrence indexes, so `?a p ?b` and
    * `?x p ?y` share a measurement while `?a p ?a` (a self-equality
    * filter) stays distinct.
    */
  def patternKey(pat: TriplePattern): String =
    canonical(Seq(pat))

  /** Canonical key for a measured PAIR subquery — DREAM's optimizer
    * measures candidate subquery plans, not just single patterns
    * (Optimizer.cpp:63-103). Variables normalize JOINTLY across the
    * pair, so `?a p ?b ⋈ ?b q ?c` (shared var) and `?a p ?b ⋈ ?c q ?d`
    * (disconnected) get distinct keys; the two orderings canonicalize
    * to the lexicographic minimum.
    */
  def pairKey(a: TriplePattern, b: TriplePattern): String =
    Seq(canonical(Seq(a, b)), canonical(Seq(b, a))).min

  private def canonical(pats: Seq[TriplePattern]): String = {
    val idx = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def t(term: Term): String = term match {
      case Var(n) => s"?${idx.getOrElseUpdate(n, idx.size)}"
      case Const(v) => v
      case PathPlus(p) => s"$p+"
      case PathStar(p) => s"$p*"
      case PathOpt(p) => s"$p?"
      case PathInverse(p) => s"^$p"
      case PathAlt(ps) => ps.mkString("|")
      case PathRepeat(p, lo, hi) => s"$p{$lo,$hi}"
      case PathNeg(ps, inv) =>
        s"!(${(ps ++ inv.map("^" + _)).mkString("|")})"
      case PathGroupRepeat(ps, star) =>
        s"(${ps.mkString("/")})${if (star) "*" else "+"}"
      case PathTree(e) => Sparql.PExpr.render(e)
      case PathSeq(_) => throw new IllegalStateException(
        "sequence paths are desugared at parse time and never planned")
    }
    pats.map(p => s"${t(p.s)} ${t(p.p)} ${t(p.o)}").mkString(" |><| ")
  }

  /** Compile one pattern to a scan.
    *
    * Constant-predicate patterns (all of the reference's fixtures)
    * dispatch to the predicate's vertical slice — a pruned 2-column
    * scan of one base table; an unknown predicate short-circuits to an
    * empty relation (entry point C, Proxy.c:71-85), as does a pattern
    * whose measured cardinality is the −1 empty marker (the cached form
    * of entry point C — no data touched, no path closure built).
    * Variable-predicate patterns dispatch to the store's s-bucketed
    * secondary layout when present (the SOP-index analog: a constant
    * subject prunes to one bucket) and fall back to the union view.
    * Remaining constants filter, variables project/rename, and a
    * repeated variable within one pattern becomes an equality filter.
    */
  private def patternScan(store: TripleStore, pat: TriplePattern,
      encode: String => Column,
      measured: Map[String, Long] = Map.empty,
      siblings: Seq[TriplePattern] = Nil,
      outerVars: Set[String] = Set.empty): DataFrame = {
    def emptySlice: DataFrame = store.slices.values.head.filter(lit(false))
    def slice(p: String): DataFrame = store.slices.getOrElse(p, emptySlice)
    // constant-OBJECT probe whose subject joins nothing else in the
    // QUERY: read the OPS secondary when materialized — the o filter
    // prunes to one bucket (an index lookup's I/O) and losing the
    // subject co-partitioning costs nothing because no subject join
    // consumes it. When the subject IS a join var the s-layout wins:
    // its co-partitioning removes a data-sized exchange, worth more
    // than the probe-side scan. Join-awareness spans the whole query,
    // not just the pattern's own block: `siblings` covers the block,
    // `outerVars` the cross-block consumers (OPTIONAL/MINUS/EXISTS/
    // UNION/GRAPH blocks, sub-SELECT exports, VALUES columns, the
    // bound-join seed) — dispatching to OPS under any of those would
    // reintroduce the exchange the s-layout exists to remove.
    // Constant subjects already bucket-prune on the s-layout.
    def constSlice(p: String): DataFrame = {
      val opsWins = pat.o.isInstanceOf[Const] && (pat.s match {
        case v: Var => !outerVars.contains(v.name) && !siblings.exists(t =>
          (t ne pat) && Seq(t.s, t.p, t.o).contains(v))
        case _ => false
      })
      if (opsWins) store.oSlice(p).getOrElse(slice(p)) else slice(p)
    }
    // ---- shared path-operator pieces over (s, o) edge relations
    def vertices(df: DataFrame): DataFrame =
      graft.graph.PathOps.identity(df.toDF("src", "dst")).toDF("s", "o")
    def compose(a: DataFrame, b: DataFrame): DataFrame =
      a.select(col("s"), col("o").as("__m"))
        .join(b.select(col("s").as("__m"), col("o")), "__m")
        .select(col("s"), col("o"))
    // k-hop compositions for k in [lo, hi]; each intermediate is
    // deduped: the result is set-valued anyway, and on cyclic/dense
    // relations bag multiplicities would otherwise grow exponentially
    // with k while the distinct row count stays bounded by |V|²
    def repeat(edges: DataFrame, lo: Int, hi: Int): DataFrame = {
      def kHops(k: Int): DataFrame =
        if (k == 0) vertices(edges)
        else (1 until k).foldLeft(edges)((acc, _) =>
          compose(acc, edges).distinct())
      (lo to hi).map(kHops).reduce(_ unionByName _).distinct()
    }
    def negSet(ps: Seq[String], inv: Seq[String]): DataFrame = Seq(
      if (ps.nonEmpty) Some(store.variableView
        .filter(ps.map(p => col("p") =!= encode(p)).reduce(_ && _))
        .select(col("s"), col("o")))
      else None,
      if (inv.nonEmpty) Some(store.variableView
        .filter(inv.map(p => col("p") =!= encode(p)).reduce(_ && _))
        .select(col("o").as("s"), col("s").as("o")))
      else None).flatten.reduce(_ unionByName _)
    // closure of an (s, o) edge relation: `p+`, or `p*` with
    // `reflexive`. When `bound` and the pattern has a constant endpoint,
    // only what that constant reaches is computed (PathOps.reachFrom):
    // forward from a constant subject (a second constant, the object,
    // filters below), backward from a constant object over `back`, the
    // OPS layout when materialized. Two variable endpoints close the
    // whole relation.
    def closure(edges: DataFrame, reflexive: Boolean,
        back: Option[DataFrame] = None, bound: Boolean = true): DataFrame = {
      import graft.graph.PathOps
      val closed = (pat.s, pat.o) match {
        case (Const(c), _) if bound =>
          PathOps.reachFrom(edges.toDF("src", "dst"), encode(c), reflexive)
        case (_, Const(c)) if bound =>
          PathOps.reachFrom(back.getOrElse(edges).toDF("dst", "src"),
            encode(c), reflexive).select(col("dst"), col("src"))
        case _ => PathOps.closure(edges.toDF("src", "dst"), reflexive)
      }
      closed.toDF("s", "o")
    }
    val knownEmpty = measured.get(patternKey(pat)).contains(-1L)
    val (base, pos) = pat.p match {
      case _ if knownEmpty && !pat.p.isInstanceOf[Var] =>
        (emptySlice, Seq("s" -> pat.s, "o" -> pat.o))
      case _ if knownEmpty =>
        (emptySlice.withColumn("p", col("s")),
          Seq("s" -> pat.s, "p" -> pat.p, "o" -> pat.o))
      case Const(p) =>
        (constSlice(p), Seq("s" -> pat.s, "o" -> pat.o))
      case PathPlus(p) =>
        (closure(slice(p), reflexive = false, back = store.oSlice(p)),
          Seq("s" -> pat.s, "o" -> pat.o))
      case PathStar(p) =>
        (closure(slice(p), reflexive = true, back = store.oSlice(p)),
          Seq("s" -> pat.s, "o" -> pat.o))
      case PathOpt(p) =>
        // p? = one step ∪ identity over the slice's vertex set (SPARQL
        // 1.1 zero-or-one; path results are set-based)
        val sl = slice(p)
        (sl.unionByName(vertices(sl)).distinct(), Seq("s" -> pat.s, "o" -> pat.o))
      case PathInverse(p) =>
        // inverse path ^p: the slice with subject/object swapped
        (slice(p).select(col("o").as("s"), col("s").as("o")),
          Seq("s" -> pat.s, "o" -> pat.o))
      case PathAlt(ps) =>
        // alternation p1|p2|…: bag union of the predicate slices
        (ps.map(slice).reduce(_ unionByName _),
          Seq("s" -> pat.s, "o" -> pat.o))
      case PathRepeat(p, lo, hi) =>
        // counted repetition p{lo,hi}: union of the k-hop compositions
        // for k in [lo, hi] (set semantics; the parser caps hi at 8, so
        // this is a bounded chain of self-joins, each a hash join on
        // the slice's join key — never an unbounded iteration). k = 0
        // is identity over the slice's vertex set, as for p*.
        (repeat(slice(p), lo, hi), Seq("s" -> pat.s, "o" -> pat.o))
      case PathGroupRepeat(ps, star) =>
        // grouped path (p1/p2)+: the sequence composes into ONE derived
        // edge relation (s —p1→ m —p2→ o collapses to s→o), which then
        // reuses the same closure as p+ — the group is just an edge
        // relation the store doesn't materialize. Each composition
        // step is a hash join on the mid vertex.
        (closure(ps.map(slice).reduce(compose), reflexive = star),
          Seq("s" -> pat.s, "o" -> pat.o))
      case PathNeg(ps, inv) =>
        // negated property set !(p1|^p2|…): per arm, one scan of the
        // variable view with the exclusion pushed into it — a filter
        // on the (few) predicate values, not an (N−k)-way union of
        // slices; with the p-partitioned parquet store this is
        // partition pruning. Inverse members desugar to the same scan
        // with subject/object swapped, and a mixed set is the BAG
        // union of its arms (§9.1) — an arm exists only when it has
        // members
        (negSet(ps, inv), Seq("s" -> pat.s, "o" -> pat.o))
      case PathTree(expr) =>
        // NESTED property path — compositional evaluation to ONE
        // derived edge relation: links are slice scans (partition
        // pruning), inverse swaps columns, sequence composes via
        // mid-vertex hash joins (bag semantics, like the PathSeq
        // desugar), alternation is bag union, and the closure
        // operators (+ * ? {n,m}) are set-valued per SPARQL §18.4 and
        // share the flat forms' helpers (PathOps loops for + and *).
        // At 100 TB each piece keeps its flat-form scale shape; nesting
        // only changes which edge relation feeds which operator. Only
        // a top-level + / * sees the pattern's endpoints, so only it
        // may walk from a constant one; a closure nested inside the
        // tree closes its whole operand.
        import Sparql.PExpr
        def eval(e: PExpr, top: Boolean = false): DataFrame = e match {
          case PExpr.Link(p) => slice(p)
          case PExpr.Inv(x) =>
            eval(x).select(col("o").as("s"), col("s").as("o"))
          case PExpr.Alt(es) => es.map(eval(_)).reduce(_ unionByName _)
          case PExpr.PSeq(es) => es.map(eval(_)).reduce(compose)
          case PExpr.Plus(x) => closure(eval(x), reflexive = false, bound = top)
          case PExpr.Star(x) => closure(eval(x), reflexive = true, bound = top)
          case PExpr.ZeroOne(x) =>
            val edges = eval(x)
            edges.unionByName(vertices(edges)).distinct()
          case PExpr.Repeat(x, lo, hi) => repeat(eval(x).distinct(), lo, hi)
          case PExpr.NegSet(ps, inv) => negSet(ps, inv)
        }
        (eval(expr, top = true), Seq("s" -> pat.s, "o" -> pat.o))
      case PathSeq(_) => throw new IllegalStateException(
        "sequence paths are desugared at parse time and never planned")
      case Var(_) =>
        (store.variableView, Seq("s" -> pat.s, "p" -> pat.p, "o" -> pat.o))
    }
    val constFilter = pos.collect { case (c, Const(v)) => col(c) === encode(v) }
    val filtered = constFilter.foldLeft(base)((df, f) => df.filter(f))
    val varPos = pos.collect { case (c, Var(n)) => (c, n) }
    // repeated variable inside one pattern ⇒ positions must be equal
    // (pairwise against the first occurrence — a chained reduce of ===
    // would compare a boolean to the third column)
    val dupFilters = varPos.groupBy(_._2).values.filter(_.size > 1)
      .map(g => g.tail.map(x => col(g.head._1) === col(x._1)).reduce(_ && _))
    val selfEq = dupFilters.foldLeft(filtered)((df, f) => df.filter(f))
    val firstPos = varPos.groupBy(_._2).map { case (n, xs) => xs.head._1 -> n }
    selfEq.select(firstPos.toSeq.map { case (c, n) => col(c).as(n) }: _*)
  }

  /** Static cold-start selectivity proxy as pseudo-rows: a 2-constant
    * pattern scans a thin filtered slice, an all-variable pattern a
    * whole slice. Measured cardinalities slot into the same scale.
    */
  def heuristicCost(pat: TriplePattern): Long =
    pat.vars.distinct.size match {
      case 0 | 1 => 1000L
      case 2 => 1000000L
      case _ => 1000000000L
    }

  /** Greedy join-chain order — DREAM's measure-then-plan: the chain
    * starts at the cheapest pattern (measured rows when a CostStats
    * measurement exists, the constness heuristic otherwise,
    * Optimizer.cpp:63-103 / PlanCostEstimator.cpp:585-655) and grows
    * only along shared variables, so no accidental cartesian products;
    * AQE corrects join strategy/skew at runtime from real sizes.
    * Catalyst's CBO join reorder needs catalog stats, which
    * path-derived DataFrames lack, so the order returned here is the
    * executed join order. Pure planner-side function, unit-testable.
    */
  def chainOrder(patterns: Seq[TriplePattern], cost: Int => Long): Seq[Int] =
    chainOrder(patterns, cost, (_, _) => None)

  /** Chain order with measured PAIR join cardinalities: a connected
    * candidate scores by the smallest measured join-output size with
    * any pattern already in the chain (DREAM's subquery measurements),
    * falling back to its own scan cardinality when no pair has been
    * measured.
    *
    * Pattern MERGING (DREAM's vertex merging, Optimizer.cpp:470-566 /
    * set enumeration 207-241): when some measured pair's join output
    * is smaller than EVERY single pattern's scan, the chain seeds with
    * that merged pair — the two patterns evaluate as one combined
    * subquery before anything else joins in — which a
    * one-pattern-at-a-time greedy seed can never discover (it must
    * start at the cheapest single even when a pair collapses to a
    * handful of rows).
    */
  def chainOrder(patterns: Seq[TriplePattern], cost: Int => Long,
      pairCost: (Int, Int) => Option[Long]): Seq[Int] = {
    val varsOf = patterns.map(_.vars.toSet)
    val mergedSeed = (for {
      i <- patterns.indices
      j <- (i + 1) until patterns.size
      if varsOf(i).exists(varsOf(j))
      m <- pairCost(i, j)
    } yield (m, i, j)).minByOption(_._1)
      .filter { case (m, _, _) => m < cost(patterns.indices.minBy(cost)) }
    val order = mergedSeed match {
      case Some((_, i, j)) =>
        // cheaper side first (it seeds the fold; the pair joins
        // immediately either way)
        val (a, b) = if (cost(i) <= cost(j)) (i, j) else (j, i)
        scala.collection.mutable.ArrayBuffer(a, b)
      case None =>
        scala.collection.mutable.ArrayBuffer(patterns.indices.minBy(cost))
    }
    var cols: Set[String] = order.iterator.map(varsOf).reduce(_ ++ _)
    while (order.size < patterns.size) {
      val remaining = patterns.indices.filterNot(order.contains)
      val connected = remaining.filter(i => varsOf(i).exists(cols))
      def score(i: Int): Long =
        order.toSeq.flatMap(j => pairCost(j, i)).minOption.getOrElse(cost(i))
      val next =
        if (connected.nonEmpty) connected.minBy(score)
        else remaining.minBy(cost)
      order += next
      cols ++= varsOf(next)
    }
    order.toSeq
  }

  private def chain(patterns: Seq[TriplePattern], scans: Seq[DataFrame],
      measured: Map[String, Long]): DataFrame = {
    def cost(i: Int): Long = {
      val m = measured.getOrElse(patternKey(patterns(i)),
        heuristicCost(patterns(i)))
      if (m == -1L) 0L else m // known-empty is the cheapest seed of all
    }
    def pairCost(i: Int, j: Int): Option[Long] =
      measured.get(pairKey(patterns(i), patterns(j)))
        .map(m => if (m == -1L) 0L else m)
    val order = chainOrder(patterns, cost, pairCost)
    var joined = scans(order.head)
    var cols = joined.columns.toSet
    for (i <- order.tail) {
      val scan = scans(i)
      val common = scan.columns.filter(cols).toSeq
      joined =
        if (common.nonEmpty) joined.join(scan, common, "inner")
        else joined.crossJoin(scan)
      cols ++= scan.columns
    }
    joined
  }

  def plan(store: TripleStore, q: BgpQuery): DataFrame =
    plan(store, q, Map.empty[String, Long])

  /** SPARQL §13.2: when a query carries FROM / FROM NAMED, its dataset
    * is EXACTLY what the clauses name. FROM graphs' union (RDF merge —
    * per-slice distinct via TripleStore.fromTriples) becomes the
    * default graph; `fromNamed` restricts the quads a GRAPH block may
    * range over. One-sided clauses empty the other side: FROM-only ⇒
    * no named graphs, FROM NAMED-only ⇒ empty default graph (schemas
    * kept, zero rows). The s-bucketed secondary describes the STORE's
    * default graph, not this query-scoped one, so it drops here.
    */
  private def datasetStore(store: TripleStore, q: BgpQuery): TripleStore = {
    val enc: String => Column = constEncoder(store)
    val emptied = store.slices.map { case (p, df) => p -> df.limit(0) }
    val defSlices =
      if (q.fromGraphs.isEmpty) emptied
      else {
        val quads = store.quads.getOrElse(throw new IllegalArgumentException(
          "FROM names a graph but the store has no named graphs"))
        val sel = q.fromGraphs.map(g => col("g") === enc(g)).reduce(_ || _)
        val sub = TripleStore.fromTriples(
          quads.filter(sel).select(col("s"), col("p"), col("o")))
        if (sub.slices.isEmpty) emptied else sub.slices
      }
    val namedQuads = store.quads.map { qd =>
      if (q.fromNamed.isEmpty) qd.filter(lit(false))
      else qd.filter(q.fromNamed.map(g => col("g") === enc(g)).reduce(_ || _))
    }
    store.copy(slices = defSlices, sBucketed = None, oBucketed = None,
      quads = namedQuads)
  }

  /** Plan with measured per-pattern cardinalities (rows; −1 = measured
    * empty). Measurements order the join chain and short-circuit
    * provably-empty patterns without touching data.
    */
  def plan(store0: TripleStore, q: BgpQuery,
      measured: Map[String, Long]): DataFrame =
    plan(store0, q, measured, None)

  /** Planner entry with an optional BOUND-JOIN seed (federation §2.4
    * style): `seed` is a distinct relation of var bindings (already in
    * THIS store's term form) that semi-join-restricts every pattern
    * scan sharing one of its columns BEFORE the chain's own joins —
    * the in-process spelling of injecting the outer solutions as a
    * VALUES constraint into a remote endpoint's query, so a selective
    * outer pattern never pulls the full remote relation.
    */
  /** Variables that bind ID-ENCODED columns somewhere in the query on
    * an encoded store: s/o of every triple pattern (main BGP,
    * OPTIONAL, UNION branches, MINUS, EXISTS blocks, GRAPH-block
    * patterns), GRAPH terms, variable-view predicates of non-GRAPH
    * patterns (the union view's `p` is xxhash64 of the name), and —
    * recursively — a sub-SELECT's id positions restricted to its
    * projection. GRAPH-block p-vars are NOT here: they bind the quads
    * relation's lexical `p`, which is precisely why sharing a name
    * with any of these positions is a loud error (lexical ⋈ id matches
    * nothing).
    */
  private def idSpaceVars(q: BgpQuery): Set[String] = {
    val tps = q.patterns ++ q.optionals.flatten ++
      q.unions.flatten.flatten ++ q.minuses.flatten ++
      q.existsFilters.flatMap(_._2)
    val so = (tps ++ q.graphBlocks.flatMap(_._2))
      .flatMap(tp => Seq(tp.s, tp.o)).collect { case Var(n) => n }
    val pv = tps.map(_.p).collect { case Var(n) => n }
    val g = q.graphBlocks.map(_._1).collect { case Var(n) => n }
    val sub = q.allSubqueries.flatMap { s =>
      val ids = idSpaceVars(s)
      if (s.select.nonEmpty) ids.intersect(s.select.toSet) else ids
    }
    (so ++ pv ++ g ++ sub).toSet
  }

  /** Store-form encoding of a query CONSTANT: lexical on string
    * stores, xxhash64 on hash-id stores, and on SEQUENTIAL stores one
    * bounded dict probe per distinct constant at plan time (cached —
    * RDF-3X's constant-resolution discipline; an absent constant
    * resolves to id 0, which no dense id ever matches, so the pattern
    * correctly matches nothing).
    */
  private[bgp] def constEncoder(store: TripleStore): String => Column =
    if (!store.encoded) { v => lit(v) }
    else if (!store.sequential) { v => xxhash64(lit(v)) }
    else {
      val dict = store.dict.get
      val cache = store.constCache
      v => lit {
        val hit = cache.get(v)
        if (hit != null) hit.longValue
        else {
          val r = dict.filter(col("value") === v).select(col("id")).take(1)
          val id = if (r.isEmpty) 0L else r.head.getLong(0)
          cache.put(v, id)
          id
        }
      }
    }

  /** Resolve a query's whole constant set against a sequential store's
    * dictionary in ONE scan instead of one single-row probe job per
    * constant: the plan-time cost of a 1000-constant VALUES/IN drops
    * from 1000 Spark jobs to one `isin` dict pass. Values the dict
    * lacks cache as id 0, which no dense id matches — identical to the
    * single-probe arm's miss behavior. No-op on non-sequential stores
    * and when at most one constant is uncached (a lone probe is
    * already one job, with limit-1 early exit the batch scan lacks).
    */
  private[bgp] def primeConsts(store: TripleStore,
      vs: Seq[String]): Unit =
    if (store.encoded && store.sequential) {
      val misses = vs.distinct.filterNot(store.constCache.containsKey)
      if (misses.sizeIs > 1) {
        val hits = store.dict.get.filter(col("value").isin(misses: _*))
          .select(col("value"), col("id")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        misses.foreach(v =>
          store.constCache.put(v, Long.box(hits.getOrElse(v, 0L))))
      }
    }

  /** Every constant a query can send through [[constEncoder]]: pattern
    * terms across all block kinds, id-space filter equality right-hand
    * sides, single-var VALUES constants, GRAPH labels and dataset-
    * clause graph names — recursively through sub-SELECTs (they plan
    * against the same store). Over-collection is harmless (an unused
    * primed entry is one extra row in the one batched scan);
    * under-collection only costs the fallback single probe.
    */
  private def queryConsts(q: BgpQuery): Seq[String] = {
    val pats = q.patterns ++ q.optionals.flatten ++ q.minuses.flatten ++
      q.unions.flatten.flatten ++ q.existsFilters.flatMap(_._2) ++
      q.graphBlocks.flatMap(_._2)
    val patC = pats.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      .collect { case Const(v) => v }
    val filtC = (q.filters ++ q.optionalFilters.flatten ++
      q.minusFilters.flatten ++ q.unionFilters.flatten.flatten)
      .flatMap(_.disjuncts.flatten)
      .collect { case f if !f.rhsVar && (f.op == "=" || f.op == "!=") =>
        f.value }
    val graphC = q.graphBlocks.map(_._1).collect { case Const(v) => v } ++
      q.fromGraphs ++ q.fromNamed
    patC ++ filtC ++ q.values.flatMap(_._2) ++ graphC ++
      q.allSubqueries.flatMap(queryConsts)
  }

  /** Re-encode lexical COLUMNS `cols` of `df` into `store`'s term form:
    * identity on string stores, the xxhash64 expression on hash-id
    * stores (ids ARE the values' hashes), and a value→id dict join per
    * column on SEQUENTIAL stores — dense ids are counters, not value
    * functions, so only the dictionary can map them. The dict-join arm
    * drops rows holding values the store has never seen (no dense id
    * exists, so no store row could ever match them) — exactly right
    * for the restriction/seed relations this feeds: a bound-join seed,
    * a VALUES table, a subquery export all only ever JOIN against
    * store-held terms. `df` is binding-sized in every caller, so AQE
    * broadcasts it against the dict.
    */
  private[bgp] def encodeLexCols(store: TripleStore, df: DataFrame,
      cols: Seq[String], keepMisses: Boolean = false): DataFrame =
    if (!store.encoded || cols.isEmpty) df
    else if (!store.sequential)
      df.select(df.columns.toIndexedSeq.map { c =>
        if (cols.contains(c))
          when(col(c).isNull, lit(null)).otherwise(xxhash64(col(c))).as(c)
        else col(c)
      }: _*)
    else {
      // keepMisses (left_outer): a null binding or a value the store
      // has never seen becomes a null id — which joins/filters exactly
      // like the hash arm's never-matching id, while preserving the
      // row (subquery exports with OPTIONAL-missed vars, federation
      // results carrying remote-only values)
      val joinType = if (keepMisses) "left_outer" else "inner"
      val dict = store.dict.get
      cols.foldLeft(df) { (d, v) =>
        d.join(dict.select(col("value").as(s"__val_$v"),
            col("id").as(s"__newid_$v")),
          d(v) === col(s"__val_$v"), joinType)
          .drop(v, s"__val_$v")
          .withColumnRenamed(s"__newid_$v", v)
      }.select(df.columns.map(col).toIndexedSeq: _*)
    }

  private[graft] def plan(store0: TripleStore, q: BgpQuery,
      measured: Map[String, Long],
      seed: Option[DataFrame]): DataFrame = {
    // §13.2 dataset clause: rebind the store BEFORE any scan is built;
    // subqueries and GRAPH blocks below see the rescoped dataset
    val store =
      if (q.fromGraphs.isEmpty && q.fromNamed.isEmpty) store0
      else datasetStore(store0, q)
    primeConsts(store, queryConsts(q))
    val encode: String => Column = constEncoder(store)

    // Cross-block join consumers for constSlice's OPS dispatch: a
    // pattern's subject var may join nothing in its OWN block yet be
    // consumed by another block's chain, a sub-SELECT export, a VALUES
    // column, a SERVICE block's projection, or the bound-join seed.
    // Each scan call below passes the union of every OTHER block's
    // vars plus these non-pattern consumers, so the s-layout keeps the
    // probe whenever any join anywhere consumes its subject.
    def patVars(ps: Seq[TriplePattern]): Set[String] =
      ps.flatMap(tp => Seq(tp.s, tp.p, tp.o))
        .collect { case Var(n) => n }.toSet
    val blockSeqs: Seq[Seq[TriplePattern]] =
      q.patterns +: (q.optionals ++ q.minuses ++ q.existsFilters.map(_._2)
        ++ q.unions.flatten ++ q.graphBlocks.map(_._2))
    val nonPatternConsumers: Set[String] =
      seed.map(_.columns.toSet).getOrElse(Set.empty) ++
        q.allSubqueries.flatMap(_.select) ++
        q.values.map(_._1) ++
        q.valuesTables.flatMap(_._1) ++ q.services.flatMap(_.query.select)
    def outerVarsFor(block: Seq[TriplePattern]): Set[String] =
      blockSeqs.filter(_ ne block).flatMap(patVars).toSet ++
        nonPatternConsumers

    // ---- decode-on-demand for lexical-value features on the encoded
    // store. DREAM runs everything over uint64 IDs and decodes only at
    // the output edge (Proxy.c:211-224, Worker.c:95-103); here a
    // mid-plan expression that needs lexical values (regex, ordering
    // comparisons, BIND arithmetic) decodes JUST the columns it
    // touches — one targeted dict join per column, applied immediately
    // before the expression and dropped immediately after, so the rest
    // of the plan keeps flowing 8-byte IDs. `lexical` tracks columns
    // that already hold computed values (BIND aliases, subquery
    // aggregate outputs): they never decode and pass through the final
    // edge decode untouched.
    val lexical = scala.collection.mutable.Set.empty[String]
    def lexName(v: String) = s"__lex_$v"
    def decodeVars(df: DataFrame, vars: Seq[String])
        : (DataFrame, Map[String, Column]) = store.dict match {
      case Some(dict) if vars.nonEmpty =>
        val out = vars.foldLeft(df) { (d, v) =>
          d.join(dict.select(col("id").as(s"__did_$v"),
              col("value").as(lexName(v))),
            d(v) === col(s"__did_$v"), "left_outer").drop(s"__did_$v")
        }
        (out, vars.map(v => v -> col(lexName(v))).toMap)
      case _ => (df, Map.empty)
    }

    val orderingOps = Set(">", ">=", "<", "<=")
    // §17.4.2 isIRI on the store's term model: node ids are the only
    // bare `scheme:local` terms (blank `_:` fails the leading-letter
    // class; decorated literals start with a quote)
    def termIsIri(c: Column): Column =
      c.rlike("^[A-Za-z][A-Za-z0-9+.-]*:")
    // "strlen>" etc: compare the decoded value's length to an int
    def strlenCmp(op: String, l: Column, n: Int): Column = op match {
      case "strlen>" => l > n
      case "strlen>=" => l >= n
      case "strlen<" => l < n
      case "strlen<=" => l <= n
      case "strlen=" => l === n
      case "strlen!=" => l =!= n
    }
    // which variables a filter leaf needs in lexical form
    def lexNeeds(f: FilterExpr): Seq[String] =
      if (!store.encoded) Nil
      else f.op match {
        case "regex" | "strstarts" | "strends" | "contains" |
             "lang" | "!lang" | "datatype" | "!datatype" | "langmatches" |
             "isblank" | "!isblank" | "isiri" | "!isiri" |
             "isliteral" | "!isliteral" | "isnumeric" | "!isnumeric" =>
          Seq(f.variable).filterNot(lexical)
        case op if op.startsWith("strlen") || op.startsWith("lex") =>
          Seq(f.variable).filterNot(lexical)
        case op if orderingOps(op) =>
          (Seq(f.variable) ++ (if (f.rhsVar) Seq(f.value) else Nil))
            .filterNot(lexical)
        case "=" | "!=" if f.rhsVar && lexical(f.variable) != lexical(f.value) =>
          Seq(if (lexical(f.variable)) f.value else f.variable)
        case _ => Nil
      }

    // FILTER leaf translation, shared by top-level clauses and the
    // block-scoped clauses (OPTIONAL/MINUS/UNION). Equality stays in
    // id space on the encoded store (ids are the values' hashes, so id
    // equality IS value equality); ordering comparisons and regex read
    // the decoded column from `lex`.
    def leafCond(f: FilterExpr, lex: Map[String, Column]): Column = {
      def lexOf(v: String): Column = lex.getOrElse(v, col(v))
      val c = col(f.variable)
      f.op match {
        // BOUND works on either store form: an unmatched OPTIONAL var
        // is a SQL null regardless of encoding
        case "bound" => c.isNotNull
        case "!bound" => c.isNull
        case "regex" => lexOf(f.variable).rlike(f.value)
        case "strstarts" => lexOf(f.variable).startsWith(f.value)
        case "strends" => lexOf(f.variable).endsWith(f.value)
        case "contains" => lexOf(f.variable).contains(f.value)
        case op if op.startsWith("strlen") =>
          strlenCmp(op, length(lexOf(f.variable)), f.value.toInt)
        // typed-literal accessors (RDF 1.1 lexical forms): evaluated on
        // the decoded string, canonical decorated spelling
        case "lang" => RdfLex.lang(lexOf(f.variable)) === f.value
        case "!lang" => RdfLex.lang(lexOf(f.variable)) =!= f.value
        case "datatype" => RdfLex.datatype(lexOf(f.variable)) === f.value
        case "!datatype" => RdfLex.datatype(lexOf(f.variable)) =!= f.value
        // term tests (§17.4.2): blank = `_:` ids, IRI = the store's
        // scheme:local node ids (the only bare colon-bearing terms),
        // literal = neither, numeric = the lexical typing comparisons use
        case "isblank" => lexOf(f.variable).startsWith("_:")
        case "!isblank" => !lexOf(f.variable).startsWith("_:")
        case "isiri" => termIsIri(lexOf(f.variable))
        case "!isiri" => !termIsIri(lexOf(f.variable))
        case "isliteral" =>
          !termIsIri(lexOf(f.variable)) && !lexOf(f.variable).startsWith("_:")
        case "!isliteral" =>
          termIsIri(lexOf(f.variable)) || lexOf(f.variable).startsWith("_:")
        case "isnumeric" => RdfLex.numeric(lexOf(f.variable)).isNotNull
        case "!isnumeric" => RdfLex.numeric(lexOf(f.variable)).isNull
        // LANGMATCHES basic filtering: "*" = any tagged literal; a
        // range matches the tag or its BCP 47 extensions (fr, fr-be)
        case "langmatches" =>
          val l = RdfLex.lang(lexOf(f.variable))
          if (f.value == "*") l =!= ""
          else l === f.value || l.startsWith(f.value + "-")
        // STR(?v) comparisons: decoration stripped, then the plain
        // string comparison
        case op if op.startsWith("lex") =>
          val l = RdfLex.lex(lexOf(f.variable))
          val r = lit(f.value)
          op.drop(3) match {
            case "=" => l === r
            case "!=" => l =!= r
            case ">" => l > r
            case ">=" => l >= r
            case "<" => l < r
            case "<=" => l <= r
          }
        case "=" | "!=" =>
          val idEq = store.encoded && !lexical(f.variable) &&
            (if (f.rhsVar) !lexical(f.value) else true)
          val (l, r) =
            if (f.rhsVar) (lexOf(f.variable), lexOf(f.value))
            else if (idEq) (c, encode(f.value))
            else (lexOf(f.variable), lit(f.value))
          if (f.op == "=") l === r else l =!= r
        case op =>
          val l0 = lexOf(f.variable)
          // datatype-driven numeric compare strips a typed literal's
          // decoration before the ANSI-safe cast ("5"^^<…integer> → 5)
          val l = if (f.numeric && !f.rhsVar) RdfLex.numeric(l0) else l0
          val r: Column =
            if (f.rhsVar) lexOf(f.value)
            else if (f.numeric) lit(f.value.toDouble)
            else lit(f.value)
          op match {
            case ">" => l > r
            case ">=" => l >= r
            case "<" => l < r
            case "<=" => l <= r
          }
      }
    }
    // A single-conjunct lexical leaf (regex / ordering vs a constant)
    // on an encoded var plans better as dict-filter + SEMI-join: the
    // predicate evaluates during the dict scan and the main relation
    // joins on 8-byte ids without ever materializing strings — the
    // 100 TB shape. OR-groups and var-vs-var leaves keep the
    // decode-then-filter path (a semi join can't express them).
    def semiJoinable(f: FilterExpr): Boolean =
      store.encoded && !f.rhsVar && !lexical(f.variable) &&
        (f.op == "regex" || f.op == "strstarts" || f.op == "strends" ||
          f.op == "contains" || f.op.startsWith("strlen") ||
          f.op == "lang" || f.op == "!lang" ||
          f.op == "datatype" || f.op == "!datatype" ||
          f.op == "langmatches" || f.op.startsWith("lex") ||
          f.op == "isblank" || f.op == "!isblank" ||
          f.op == "isiri" || f.op == "!isiri" ||
          f.op == "isliteral" || f.op == "!isliteral" ||
          f.op == "isnumeric" || f.op == "!isnumeric" ||
          orderingOps(f.op))
    def dictPred(f: FilterExpr): Column = {
      val v = col("value")
      f.op match {
        case "regex" => v.rlike(f.value)
        case "strstarts" => v.startsWith(f.value)
        case "strends" => v.endsWith(f.value)
        case "contains" => v.contains(f.value)
        case op if op.startsWith("strlen") =>
          strlenCmp(op, length(v), f.value.toInt)
        // the dict CARRIES datatype/language metadata columns (encode
        // derives them once) — a LANG/DATATYPE filter is a plain
        // column predicate during the dict scan, no regex per query
        case "lang" => col("lang") === f.value
        case "!lang" => col("lang") =!= f.value
        case "datatype" => col("dt") === f.value
        case "!datatype" => col("dt") =!= f.value
        case "langmatches" =>
          if (f.value == "*") col("lang") =!= ""
          else col("lang") === f.value ||
            col("lang").startsWith(f.value + "-")
        case "isblank" => v.startsWith("_:")
        case "!isblank" => !v.startsWith("_:")
        case "isiri" => termIsIri(v)
        case "!isiri" => !termIsIri(v)
        case "isliteral" => !termIsIri(v) && !v.startsWith("_:")
        case "!isliteral" => termIsIri(v) || v.startsWith("_:")
        case "isnumeric" => RdfLex.numeric(v).isNotNull
        case "!isnumeric" => RdfLex.numeric(v).isNull
        case op if op.startsWith("lex") =>
          val l = RdfLex.lex(v)
          val r = lit(f.value)
          op.drop(3) match {
            case "=" => l === r
            case "!=" => l =!= r
            case ">" => l > r
            case ">=" => l >= r
            case "<" => l < r
            case "<=" => l <= r
          }
        case op =>
          val l = if (f.numeric) RdfLex.numeric(v) else v
          val r: Column =
            if (f.numeric) lit(f.value.toDouble) else lit(f.value)
          op match {
            case ">" => l > r
            case ">=" => l >= r
            case "<" => l < r
            case "<=" => l <= r
          }
      }
    }
    def applyFilters(df: DataFrame, fcs: Seq[FilterClause]): DataFrame =
      fcs.foldLeft(df) { (d, fc) =>
        fc.disjuncts match {
          case Seq(conjs) if conjs.exists(semiJoinable) =>
            // conjuncts distribute over sequential filters
            conjs.foldLeft(d) { (dd, f) =>
              if (semiJoinable(f)) {
                val ids = store.dict.get.filter(dictPred(f)).select(col("id"))
                dd.join(ids, dd(f.variable) === ids("id"), "left_semi")
              } else {
                val need = lexNeeds(f)
                val (d2, lex) = decodeVars(dd, need)
                d2.filter(leafCond(f, lex)).drop(need.map(lexName): _*)
              }
            }
          case _ =>
            val need = fc.disjuncts.flatten.flatMap(lexNeeds).distinct
            val (dd, lex) = decodeVars(d, need)
            dd.filter(fc.disjuncts.map(_.map(leafCond(_, lex)).reduce(_ && _))
                .reduce(_ || _))
              .drop(need.map(lexName): _*)
        }
      }

    // bound-join seed (federation): each scan sharing a seed column is
    // semi-join-restricted BEFORE the chain joins — the seed is
    // binding-sized and AQE broadcasts it, so the restriction is the
    // scan-side filter a VALUES-injected remote query would apply
    def seeded(df: DataFrame): DataFrame = seed match {
      case Some(sd) =>
        val common = df.columns.filter(sd.columns.toSet).toSeq
        if (common.isEmpty) df
        else df.join(sd.select(common.map(col): _*).distinct(),
          common, "left_semi")
      case None => df
    }
    val mainChain =
      if (q.patterns.nonEmpty)
        Some(chain(q.patterns,
          q.patterns.map(tp =>
            seeded(patternScan(store, tp, encode, measured, q.patterns,
              outerVarsFor(q.patterns)))),
          measured))
      else None

    // sub-SELECTs (SPARQL 1.1 §12): each plans independently — its own
    // aggregation/modifiers run bottom-up — and exports exactly its
    // projection, natural-joined into the enclosing scope (the outer
    // solution, or the OPTIONAL/MINUS/UNION block it lives in). On the
    // encoded store the sub-plan decoded its projection at its own
    // edge; re-encoding the pattern vars reproduces the store's ids
    // exactly (ids ARE the values' xxhash64), restoring the id-space
    // natural join, while aggregate outputs stay as computed values.
    def planSubquery(sq: BgpQuery): DataFrame = {
      val sub = plan(store, sq)
      if (!store.encoded) sub
      else {
        val aggAliases = sq.aggregates.map(_.alias).toSet
        lexical ++= aggAliases
        // pattern vars re-enter id space (hash expression, or the
        // sequential dict join — their values came FROM the store, so
        // every one resolves; keepMisses only matters for nulls from
        // OPTIONAL-missed vars, which must survive); aggregate outputs
        // stay computed values
        encodeLexCols(store, sub,
          sub.columns.toIndexedSeq.filterNot(aggAliases), keepMisses = true)
      }
    }
    val subDfs = q.subqueries.map(planSubquery)

    // one block's relation: its pattern chain joined with any
    // block-scoped sub-SELECTs, scoped filters applied AFTER the
    // combine (a filter may reference subquery exports)
    def blockRelation(block: Seq[TriplePattern], bfs: Seq[FilterClause],
        bsubs: Seq[BgpQuery]): DataFrame = {
      val rels: Seq[DataFrame] =
        (if (block.nonEmpty)
          Seq(chain(block,
            block.map(tp => patternScan(store, tp, encode, measured, block,
              outerVarsFor(block))),
            measured))
        else Nil) ++ bsubs.map(planSubquery)
      val combined = rels.reduce { (a, b) =>
        val common = b.columns.filter(a.columns.toSet).toSeq
        if (common.nonEmpty) a.join(b, common, "inner") else a.crossJoin(b)
      }
      applyFilters(combined, bfs)
    }

    // UNION groups: each branch is its own sub-chain (branch-scoped
    // FILTERs restrict it before the union; a branch sub-SELECT joins
    // the branch's patterns first); branches combine as a bag union
    // (reference U1 semantics — never dedups), and the group joins the
    // main chain on whatever variables they share.
    val unionFilterGroups = q.unionFilters.padTo(q.unions.length, Nil)
    val unionSubqGroups = q.unionSubqueries.padTo(q.unions.length, Nil)
    val unionDfs = q.unions.zip(unionFilterGroups).zip(unionSubqGroups)
      .map { case ((branches, gfs), gsubs) =>
      branches.zip(gfs.padTo(branches.length, Nil))
        .zip(gsubs.padTo(branches.length, Nil)).map { case ((b, fs), subs) =>
        val branch = blockRelation(b, fs, subs)
        // project away branch-local sequence-path intermediates: the
        // branches' VISIBLE var sets match, their desugared columns
        // don't (bag projection — multiplicity survives)
        branch.select(branch.columns.filterNot(_.startsWith(SeqVarPrefix))
          .sorted.map(col).toSeq: _*)
      }.reduce(_ unionByName _)
    }

    // SERVICE blocks (SPARQL 1.1 Federated Query §2): each evaluates
    // on its endpoint's registered store — the in-process stand-in for
    // the remote SPARQL endpoint (ServiceRegistry) — and natural-joins
    // into the outer solution on shared vars (§2.2). The federated
    // result arrives DECODED (lexical), exactly like a remote
    // endpoint's response. On an encoded outer store, vars the OUTER
    // patterns also bind re-encode via xxhash64 (the id-space join,
    // same shortcut subquery exports use); service-ONLY vars stay
    // lexical — their values may not exist in the outer dictionary at
    // all, so they join/project as values and skip the result-edge
    // decode (the `lexical` mechanism).
    // vars bound by the query's NON-service parts — the encoded arm
    // re-encodes these to id space; the SILENT-failure arm uses the
    // complement (service-ONLY vars) to build the single-empty-solution
    // relation of §2.3
    val outerBoundVars = (q.patterns ++ q.optionals.flatten ++
      q.unions.flatten.flatten ++ q.graphBlocks.flatMap(_._2))
      .flatMap(_.vars).toSet ++
      q.allSubqueries
        .flatMap(sq => sq.select ++ sq.aggregates.map(_.alias))
    val serviceResults: Seq[Either[Seq[String], DataFrame]] = q.services.map {
        case Sparql.ServiceBlock(endpoint, silent, raw, subQ) =>
      val vars = subQ.select
      // Bound join (§2.4 guidance; DREAM's ship-auxiliary-data-only
      // principle): project the outer chain's DISTINCT bindings of
      // the shared vars and decode them to lexical — the wire format a
      // remote endpoint receives (binding-sized dict joins). Both
      // transport arms consume this: the in-process arm re-encodes it
      // into the remote store's term form and seeds the remote plan
      // (LeftSemi-restricted scans); the HTTP arm injects it as a
      // VALUES clause in the protocol request (SparqlHttp).
      val lexSeed: Option[(Seq[String], DataFrame)] = mainChain.flatMap { mc =>
        val shared = vars.filter(mc.columns.toSet)
        if (shared.isEmpty) None
        else {
          val raw = mc.select(shared.map(col): _*).distinct()
          val lex =
            if (!store.encoded) raw
            else {
              val (dec, lexMap) = decodeVars(raw, shared)
              dec.select(shared.map(v => lexMap(v).as(v)): _*)
            }
          Some((shared, lex))
        }
      }
      // SILENT (§2.3): an unreachable endpoint yields the single empty
      // solution — the block simply stops restricting the outer
      // solutions, so it contributes no relation at all
      def evalOne(ep: String): Option[DataFrame] =
        if (SparqlHttp.isHttp(ep)) {
          try {
            val (bv, rows): (Seq[String], Seq[Seq[String]]) =
              lexSeed.map { case (shared, lex) =>
                val got = lex.na.drop()
                  .limit(SparqlHttp.MaxBoundRows + 1).collect()
                if (got.length > SparqlHttp.MaxBoundRows)
                  (Seq.empty[String], Seq.empty[Seq[String]])
                else (shared, got.toSeq.map(r =>
                  shared.indices.map(r.getString).toSeq))
              }.getOrElse((Nil, Nil))
            Some(SparqlHttp.queryDf(
              store.slices.values.head.sparkSession, ep, vars, raw,
              bv, rows))
          } catch { case scala.util.control.NonFatal(e) =>
            if (silent) None else throw e
          }
        } else {
          val remoteOpt =
            try Some(ServiceRegistry.resolve(ep))
            catch { case e: IllegalArgumentException =>
              if (silent) None else throw e
            }
          remoteOpt.map { remote =>
            val remoteSeed = lexSeed.map { case (shared, lex) =>
              encodeLexCols(remote, lex, shared)
            }
            // the block's FULL group (FILTER/OPTIONAL/... included)
            // plans against the remote store, seed-restricted
            plan(remote, subQ, Map.empty[String, Long], remoteSeed)
          }
        }
      def wrapEncoded(sub: DataFrame): DataFrame =
        if (!store.encoded) sub
        else {
          // vars the outer patterns also bind re-enter id space (a
          // remote-only value the outer store never saw encodes to a
          // never-matching id — null on the sequential dict-join arm,
          // a foreign hash otherwise — so the outer join correctly
          // drops it); service-ONLY vars stay lexical
          val toEncode = sub.columns.toIndexedSeq.filter(outerBoundVars)
          sub.columns.filterNot(outerBoundVars).foreach(lexical += _)
          encodeLexCols(store, sub, toEncode, keepMisses = true)
        }
      if (!endpoint.startsWith("?")) evalOne(endpoint) match {
        case Some(sub) => Right(wrapEncoded(sub))
        case None => Left(vars)
      } else {
        // variable endpoint (SPARQL 1.1 Fed §2.1's `SERVICE ?ep`):
        // outer bindings group per endpoint value — the block
        // evaluates once against each DISTINCT endpoint the outer
        // chain binds, each result is tagged with its endpoint
        // binding, and the tagged union natural-joins the outer
        // solution on the endpoint var plus the shared vars (so a
        // row only matches solutions evaluated AT ITS endpoint).
        // The endpoint inventory is deployment-sized by nature; the
        // collect is bounded loudly at MaxServiceEndpoints. SILENT:
        // a failing endpoint leaves its outer solutions unrestricted
        // with the block's vars unbound (§2.3 per endpoint value —
        // see failedPart below), never an error.
        val epVar = endpoint.drop(1)
        val mc = mainChain.getOrElse(throw new IllegalArgumentException(
          s"SERVICE ?$epVar needs the endpoint variable bound by " +
            s"the query's other patterns"))
        require(mc.columns.contains(epVar),
          s"SERVICE ?$epVar: the endpoint variable is not bound by " +
            "the query's other patterns")
        val epRaw = mc.select(col(epVar)).na.drop().distinct()
        val epLex =
          if (!store.encoded || lexical(epVar)) epRaw
          else {
            val (dec, lexMap) = decodeVars(epRaw, Seq(epVar))
            dec.select(lexMap(epVar).as(epVar))
          }
        val eps = epLex.limit(MaxServiceEndpoints + 1).collect()
          .map(_.getString(0)).toSeq
        require(eps.length <= MaxServiceEndpoints,
          s"SERVICE ?$epVar ranges over more than $MaxServiceEndpoints " +
            "distinct endpoints — an endpoint inventory is " +
            "deployment-sized, not data-sized")
        val evaluated = eps.map(ep => ep -> evalOne(ep))
        val parts = evaluated.collect { case (ep, Some(sub)) =>
          sub.withColumn(epVar, lit(ep))
        }
        // SILENT §2.3 applied PER ENDPOINT VALUE (the constant-arm
        // semantics): a silently-failed endpoint must leave its outer
        // solutions UNRESTRICTED, not drop them out of the inner join.
        // Union in that endpoint's own outer (endpoint, shared-var)
        // bindings — decoded to lexical, the union's wire form; they
        // re-encode with the successful rows in wrapEncoded — with the
        // service-ONLY vars null, so the endpoint join restores exactly
        // those solutions with the block's bindings unbound.
        val failedEps = evaluated.collect { case (ep, None) => ep }
        val failedPart: Option[DataFrame] =
          if (failedEps.isEmpty) None
          else {
            val sharedVars =
              vars.filter(v => v != epVar && mc.columns.contains(v))
            val onlyVars =
              vars.filterNot(v => sharedVars.contains(v) || v == epVar)
            val sel = epVar +: sharedVars
            val rawB = mc.select(sel.map(col): _*).distinct()
            val lexed =
              if (!store.encoded) rawB
              else {
                val toDecode = sel.filterNot(lexical)
                if (toDecode.isEmpty) rawB
                else {
                  val (dec, m) = decodeVars(rawB, toDecode)
                  dec.select(sel.map(v =>
                    (if (toDecode.contains(v)) m(v) else col(v)).as(v)): _*)
                }
              }
            Some(lexed.filter(col(epVar).isin(failedEps: _*))
              .select(sel.map(col) ++
                onlyVars.map(v => lit(null).cast("string").as(v)): _*))
          }
        (parts ++ failedPart).reduceOption(_ unionByName _) match {
          case Some(u) => Right(wrapEncoded(u))
          case None =>
            // no endpoint produced rows (empty inventory, or every
            // one failed SILENTly): an empty tagged relation — outer
            // solutions with an endpoint binding find no match
            val spark = store.slices.values.head.sparkSession
            val empty = spark.range(0).select(
              (epVar +: vars).map(v =>
                lit(null).cast("string").as(v)): _*)
            Right(wrapEncoded(empty))
        }
      }
    }
    val serviceDfs = serviceResults.collect { case Right(df) => df }
    // SILENT (§2.3): a failed block contributes the single EMPTY
    // solution — outer solutions pass through unrestricted and the
    // block's service-ONLY vars stay UNBOUND. Those vars must still
    // exist as columns (a projection may name them), so all failed
    // blocks' only-vars combine into ONE one-row all-null relation
    // (one, not one per block: two failed blocks sharing a var must not
    // inner-join null to null). Vars bound elsewhere need no column.
    val silentFallback: Option[DataFrame] = {
      val onlyVars = serviceResults.collect { case Left(vs) => vs }
        .flatten.distinct
        .filterNot(outerBoundVars)
        .filterNot(v => serviceDfs.exists(_.columns.contains(v)))
      if (onlyVars.isEmpty) None
      else {
        val spark = store.slices.values.head.sparkSession
        lexical ++= onlyVars
        Some(spark.range(1).select(
          onlyVars.map(v => lit(null).cast("string").as(v)): _*))
      }
    }

    // GRAPH blocks (SPARQL 1.1 §13.3): each block's patterns scan the
    // quad relation restricted to its graph. A constant graph term
    // prunes the scan (partition pruning on a (g, p)-partitioned
    // layout); a variable term binds the graph from the quad's `g`
    // column, and because every scan of the block keeps that column,
    // the block's natural joins implicitly require all patterns to
    // match within the SAME graph.
    //
    // On an ENCODED store, every variable below computes against the
    // guard: quad p-vars bind lexical strings while s/o/g (and main-BGP
    // variable-view p-vars, which bind xxhash ids) are id-encoded —
    // [[idSpaceVars]] enumerates the id positions QUERY-WIDE so a
    // shared name is rejected loudly instead of silently joining empty.
    val graphSubqs = q.graphSubqueries.padTo(q.graphBlocks.length, Nil)
    val graphDfs = q.graphBlocks.zip(graphSubqs).map {
        case ((gterm, pats), gsubs) =>
      val quads = store.quads.getOrElse(throw new IllegalArgumentException(
        "query uses GRAPH but the store has no named graphs"))
      // GRAPH-scoped sub-SELECTs (§13.3 ∘ §12): each evaluates with
      // the block's CONSTANT named graph as its active graph — the
      // sub-query rescopes through the FROM machinery (datasetStore
      // turns graph g into the sub-plan's default graph), so its
      // patterns scan exactly g's triples — then natural-joins the
      // block's pattern chain like any block subquery
      val subRels = gsubs.map { sq =>
        val g = gterm match {
          case Const(c) => c
          case other => throw new IllegalArgumentException(
            "sub-SELECT inside GRAPH needs a CONSTANT graph term, " +
              s"got $other")
        }
        planSubquery(sq.copy(fromGraphs = Seq(g), fromNamed = Nil))
      }
      val scans = pats.map { tp =>
        val (base, pPos) = tp.p match {
          case Const(c) => (quads.filter(col("p") === lit(c)),
            Seq.empty[(String, Term)])
          case v: Var =>
            // variable predicate: the quads relation's `p` is LEXICAL
            // on every encoding (only s/o/g carry ids), so the binding
            // is marked lexical and skips the result-edge dict decode.
            // A p-var shared with an id-space position ANYWHERE in the
            // query — this pattern, a sibling pattern in the same
            // block, the main BGP, a union branch, a sub-SELECT — would
            // equi-join lexical strings against id bigints (Spark's
            // implicit cast silently matches nothing); reject loudly
            // query-wide instead.
            if (store.encoded) {
              require(!idSpaceVars(q).contains(v.name),
                s"GRAPH pattern binds ?${v.name} as a lexical predicate " +
                  "but the variable also occurs in an id-encoded " +
                  "position elsewhere in the query — rename one (an " +
                  "encoded store cannot join lexical predicates to ids)")
              lexical += v.name
            }
            (quads, Seq("p" -> (v: Term)))
          case other => throw new IllegalArgumentException(
            s"GRAPH block patterns need a constant or variable " +
              s"predicate, got $other")
        }
        val (scoped, pos) = gterm match {
          case Const(g) =>
            (base.filter(col("g") === encode(g)),
              pPos ++ Seq("s" -> tp.s, "o" -> tp.o))
          case v: Var =>
            (base, Seq("g" -> (v: Term)) ++ pPos ++
              Seq("s" -> tp.s, "o" -> tp.o))
          case other => throw new IllegalArgumentException(
            s"GRAPH term must be a variable or constant, got $other")
        }
        // constants filter, variables project/rename, duplicate vars
        // equate — the same contract as patternScan
        val constF = pos.collect { case (c, Const(v)) => col(c) === encode(v) }
        val filtered = constF.foldLeft(scoped)((d, f) => d.filter(f))
        val varPos = pos.collect { case (c, Var(n)) => (c, n) }
        val dupFilters = varPos.groupBy(_._2).values.filter(_.size > 1)
          .map(g => g.tail.map(x => col(g.head._1) === col(x._1)).reduce(_ && _))
        val selfEq = dupFilters.foldLeft(filtered)((d, f) => d.filter(f))
        val firstPos = varPos.groupBy(_._2).map { case (n, xs) => xs.head._1 -> n }
        selfEq.select(firstPos.toSeq.map { case (c, n) => col(c).as(n) }: _*)
      }
      (scans ++ subRels).reduce { (a, b) =>
        val common = b.columns.filter(a.columns.toSet).toSeq
        if (common.nonEmpty) a.join(b, common, "inner") else a.crossJoin(b)
      }
    }

    val rels0 = mainChain.toSeq ++ unionDfs ++ subDfs ++ graphDfs ++
      serviceDfs ++ silentFallback
    // every relation was a SILENT-failed SERVICE block: the result is
    // the single empty solution (§2.3) — its projected vars are
    // unbound, i.e. one all-null row (computed values, skip the edge
    // decode)
    val rels =
      if (rels0.nonEmpty) rels0
      else {
        require(q.services.nonEmpty, "empty BGP")
        val spark = store.slices.values.head.sparkSession
        val vars = q.services.flatMap(_.query.select).distinct
        lexical ++= vars
        Seq(spark.range(1).select(
          vars.map(v => lit(null).cast("string").as(v)): _*))
      }
    var joined = rels.head
    for (u <- rels.tail) {
      val common = u.columns.filter(joined.columns.toSet).toSeq
      joined =
        if (common.nonEmpty) joined.join(u, common, "inner")
        else joined.crossJoin(u)
    }

    // OPTIONAL blocks: each is its own sub-chain, left-outer joined on
    // the shared variables (standard SPARQL OPTIONAL ≡ left join).
    // Block-scoped FILTERs restrict the sub-chain BEFORE the join, so
    // a failing filter nulls the block's bindings instead of dropping
    // the outer row.
    val optFilters = q.optionalFilters.padTo(q.optionals.length, Nil)
    val optSubqs = q.optionalSubqueries.padTo(q.optionals.length, Nil)
    for (((block, bfs), osubs) <- q.optionals.zip(optFilters).zip(optSubqs)) {
      // block sub-SELECTs join the block BEFORE the left join, so the
      // subquery restricts/extends the block, never the outer solution
      val sub = blockRelation(block, bfs, osubs)
      val common = sub.columns.filter(joined.columns.toSet).toSeq
      joined =
        if (common.nonEmpty) joined.join(sub, common, "left_outer")
        // disconnected OPTIONAL still keeps unmatched rows (a crossJoin
        // would drop every row when the block is empty)
        else joined.join(sub, lit(true), "left_outer")
    }

    // Semi/anti join of an ID-SPACE sub-relation (a pattern chain on
    // the encoded store) against the running solution. A shared var the
    // solution holds LEXICALLY (a SERVICE-only binding, a subquery
    // export) re-enters id space by hashing the solution side inside
    // the join condition — ids ARE the values' xxhash64, so the equality
    // is exact and the solution's column stays lexical for the result
    // edge (the alternative — re-encoding the solution column — would
    // decode through the OUTER dict at the edge and NULL out remote
    // values the outer store never saw). Without this, a var shared
    // only between e.g. SERVICE and MINUS compared string-to-bigint
    // and the negation silently removed nothing.
    def idSpaceSemiJoin(left: DataFrame, sub: DataFrame,
        common: Seq[String], joinType: String): DataFrame = {
      if (!store.encoded || !common.exists(lexical))
        left.join(sub, common, joinType)
      else if (store.sequential) {
        // dense ids are not value hashes — the lexical columns re-enter
        // id space through a value→id dict join into TEMP columns the
        // semi/anti condition reads (a value the store never saw gets a
        // null temp id: the condition is false, so semi drops and anti
        // keeps the row — the same outcome the hash arm's
        // never-matching foreign id produces). The solution's own
        // columns stay lexical for the result edge.
        val dict = store.dict.get
        val lexCols = common.filter(lexical)
        val leftEnc = lexCols.foldLeft(left) { (d, c) =>
          d.join(dict.select(col("value").as(s"__val_$c"),
              col("id").as(s"__enc_$c")),
            d(c) === col(s"__val_$c"), "left_outer")
            .drop(s"__val_$c")
        }
        val subR = sub.select(common.map(c => col(c).as("__sub_" + c)): _*)
        val cond = common.map { c =>
          val l = if (lexical(c)) leftEnc(s"__enc_$c") else leftEnc(c)
          l === subR("__sub_" + c)
        }.reduce(_ && _)
        leftEnc.join(subR, cond, joinType)
          .drop(lexCols.map(c => s"__enc_$c"): _*)
      } else {
        val subR = sub.select(common.map(c => col(c).as("__sub_" + c)): _*)
        val cond = common.map { c =>
          val l =
            if (lexical(c))
              when(left(c).isNull, lit(null)).otherwise(xxhash64(left(c)))
            else left(c)
          l === subR("__sub_" + c)
        }.reduce(_ && _)
        left.join(subR, cond, joinType)
      }
    }

    // MINUS blocks: SPARQL negation ≡ left-anti join on the shared
    // variables; block-scoped FILTERs restrict which solutions remove.
    // A block sharing no variable with the main chain is dom-disjoint
    // and removes nothing (SPARQL MINUS semantics).
    val minusFilters = q.minusFilters.padTo(q.minuses.length, Nil)
    val minusSubqs = q.minusSubqueries.padTo(q.minuses.length, Nil)
    for (((block, bfs), msubs) <- q.minuses.zip(minusFilters).zip(minusSubqs)) {
      // a block sub-SELECT restricts which solutions the MINUS removes
      // (§8.3: removal keys on the vars shared with the outer row)
      val sub = blockRelation(block, bfs, msubs)
      val common = sub.columns.filter(joined.columns.toSet).toSeq
      if (common.nonEmpty)
        joined = idSpaceSemiJoin(joined, sub, common, "left_anti")
    }

    // FILTER [NOT] EXISTS blocks: semi/anti join on the shared
    // variables. Var-disjoint blocks are the uncorrelated case — the
    // solution survives iff the block has (no) solutions at all, which
    // a constant-true semi/anti join against the block's first row
    // decides without materializing it (`limit(1)` bounds the probe).
    // A block sub-SELECT joins the block's patterns first
    // (blockRelation — same machinery as OPTIONAL/MINUS blocks), so
    // `EXISTS { { select … } }` restricts on the subquery's exports.
    val existsSubqs = q.existsSubqueries.padTo(q.existsFilters.length,
      Seq.empty[BgpQuery])
    for (((negated, block), esubs) <- q.existsFilters.zip(existsSubqs)) {
      val sub = blockRelation(block, Nil, esubs)
      val common = sub.columns.filter(joined.columns.toSet).toSeq
      val joinType = if (negated) "left_anti" else "left_semi"
      joined =
        if (common.nonEmpty) idSpaceSemiJoin(joined, sub, common, joinType)
        else joined.join(sub.limit(1), lit(true), joinType)
    }

    // VALUES blocks: inline constant bindings. A var the chain already
    // binds gets an IN restriction (constant-foldable, pushable); an
    // unbound var joins the inline relation (SPARQL VALUES ≡ join with
    // a constant table).
    for ((v, consts) <- q.values) {
      if (joined.columns.contains(v)) {
        // a computed (lexical) column restricts on the literal itself.
        // `isin` (not an OR-of-equals chain) so Catalyst's In→InSet
        // conversion gives O(1) set probes per row on large lists —
        // `lit` passes Column elements through, so the hash arm's
        // xxhash64 expressions fold into the set too
        val rhs: String => Column =
          if (lexical(v)) c => lit(c) else encode
        joined = joined.filter(col(v).isin(consts.map(rhs): _*))
      }
      else {
        val spark = joined.sparkSession
        import spark.implicits._
        // an unbound VALUES var binds constants that may not be store
        // terms: keep them lexical and skip the edge decode
        lexical += v
        val inline = consts.toDF("__raw").select(col("__raw").as(v))
        joined = joined.crossJoin(inline)
      }
    }

    // multi-variable VALUES (SPARQL §10.2): an inline constant TABLE
    // joined on whatever vars the solution already binds (restriction)
    // while unbound vars bind from the table. The table is
    // row-count-sized — Catalyst folds it to a LocalRelation and
    // broadcasts the join. §10.2.2 UNDEF (null cells from the parser):
    // a row restricts only on its BOUND cells, so rows group by their
    // bound-mask, each group joins on (solution ∩ bound) columns, and
    // the groups union. A solution var that some rows leave UNDEF
    // stays in the solution's own space in every branch (no join, no
    // new column), so encoded id-flow never mixes with lexical.
    for ((vs, rows) <- q.valuesTables) {
      val spark = joined.sparkSession
      import scala.jdk.CollectionConverters._
      val commonSet = vs.filter(joined.columns.toSet).toSet
      // table-bound-only vars (and UNDEF-null fills) are lexical
      // constants on the encoded store — the edge decode passes them
      // through as computed values
      if (store.encoded) lexical ++= vs.filterNot(commonSet)
      val branches = rows.groupBy(_.map(_ != null)).toSeq.map {
        case (mask, rs) =>
          val bound = vs.zip(mask).collect { case (v, true) => v }
          val boundIdx = vs.indices.zip(mask).collect { case (i, true) => i }
          val branch0 =
            if (bound.isEmpty)
              // all-UNDEF rows restrict nothing: one unrestricted copy
              // of the solution per row (bag semantics)
              joined.crossJoin(spark.range(rs.size.toLong)
                .toDF("__vdummy")).drop("__vdummy")
            else {
              val schema = org.apache.spark.sql.types.StructType(bound.map(
                v => org.apache.spark.sql.types.StructField(v,
                  org.apache.spark.sql.types.StringType)))
              val inline0 = spark.createDataFrame(rs.map(r =>
                org.apache.spark.sql.Row.fromSeq(boundIdx.map(r))).asJava,
                schema)
              // a common column the solution holds LEXICALLY
              // (service-only binding) joins on the literal itself —
              // encoding only the inline side would compare string to
              // bigint and silently match nothing. Join columns encode
              // by expression (hash) or dict join (sequential — an
              // inline constant the store never saw drops from the
              // table, correctly restricting to nothing)
              val inline =
                if (store.encoded)
                  encodeLexCols(store, inline0,
                    bound.filter(v => commonSet(v) && !lexical(v)))
                else inline0
              val joinCols = bound.filter(commonSet)
              if (joinCols.nonEmpty) joined.join(inline, joinCols, "inner")
              else joined.crossJoin(inline)
            }
          // vars this group leaves UNDEF and the solution never bound:
          // explicitly unbound (null), so the branches union by name
          vs.filterNot(bound.toSet).filterNot(joined.columns.toSet)
            .foldLeft(branch0)((d, v) =>
              d.withColumn(v, lit(null).cast("string")))
      }
      joined = branches.reduce(_ unionByName _)
    }

    // BIND clauses: sequential projections (SPARQL §10.1) — a
    // withColumn chain stays inside whole-stage codegen, no shuffle.
    // On the encoded store the referenced vars decode on demand (one
    // dict join each), the expression computes on lexical values, and
    // the alias is marked lexical so later filters / the edge decode
    // treat it as a computed value.
    def bindCol(e: BindExpr, lex: Map[String, Column]): Column = e match {
      case BVar(n) => lex.getOrElse(n, col(n))
      case BLit(v, true) => lit(v.toDouble)
      case BLit(v, false) => lit(v)
      case BConcat(args) =>
        concat(args.map(a => bindCol(a, lex).cast("string")): _*)
      case BCoalesce(args) => coalesce(args.map(bindCol(_, lex)): _*)
      case BStrlen(a) => length(bindCol(a, lex).cast("string")).cast("long")
      case BFunc1("ucase", a) => upper(bindCol(a, lex).cast("string"))
      case BFunc1("lcase", a) => lower(bindCol(a, lex).cast("string"))
      // numeric functions (SPARQL 1.1 §17.4.4): operate on the
      // xsd-numeric reading of the lexical value, results stay double.
      case BFunc1("abs", a) => abs(bindCol(a, lex).cast("double"))
      case BFunc1("ceil", a) =>
        ceil(bindCol(a, lex).cast("double")).cast("double")
      case BFunc1("floor", a) =>
        floor(bindCol(a, lex).cast("double")).cast("double")
      // fn:round ties go toward +INF (NOT half-away-from-zero — Spark's
      // round() would return −3 for −2.5 where the spec wants −2);
      // floor(x + 0.5) is the spec semantics and one identical IEEE op
      case BFunc1("round", a) =>
        floor(bindCol(a, lex).cast("double") + 0.5).cast("double")
      // hash functions (§17.4.6): lowercase hex over the UTF-8 lexical
      // form, matching both engines' md5()/sha256()
      case BFunc1("md5", a) => md5(bindCol(a, lex).cast("string"))
      case BFunc1("sha256", a) => sha2(bindCol(a, lex).cast("string"), 256)
      // ENCODE_FOR_URI (§17.4.3.10): percent-encode everything but RFC
      // 3986 unreserved. Java's form-encoder (url_encode) differs on
      // exactly three points — space as '+', '*' kept, '~' escaped —
      // each repaired by a literal replace (an input '+' is already
      // %2B before the repairs run, so none can collide)
      case BFunc1("encode_for_uri", a) =>
        call_function("replace",
          call_function("replace",
            call_function("replace",
              call_function("url_encode", bindCol(a, lex).cast("string")),
              lit("+"), lit("%20")),
            lit("*"), lit("%2A")),
          lit("%7E"), lit("~"))
      // date/time accessors (§17.4.5) over xsd:date/dateTime literal
      // lexical forms: FIELD extraction on the lexical value —
      // cross-engine exact (no calendar library in the loop), null on
      // non-date shapes via the rlike guard (ANSI-safe, like
      // RdfLex.numeric)
      // the year group is `-?\d{4,}`: XSD permits negative years (BCE)
      // and 5+-digit years; month/day positions anchor AFTER the
      // variable-width year via group extraction, not fixed offsets
      case BFunc1("year", a) =>
        val f = regexp_extract(RdfLex.lex(bindCol(a, lex)),
          "^(-?\\d{4,})-\\d\\d-\\d\\d", 1)
        when(f =!= "", f.cast("long"))
      case BFunc1("month", a) =>
        val f = regexp_extract(RdfLex.lex(bindCol(a, lex)),
          "^-?\\d{4,}-(\\d\\d)-\\d\\d", 1)
        when(f =!= "", f.cast("long"))
      case BFunc1("day", a) =>
        val f = regexp_extract(RdfLex.lex(bindCol(a, lex)),
          "^-?\\d{4,}-\\d\\d-(\\d\\d)", 1)
        when(f =!= "", f.cast("long"))
      case BFunc1("hours", a) =>
        val f = regexp_extract(RdfLex.lex(bindCol(a, lex)),
          "T(\\d\\d):", 1)
        when(f =!= "", f.cast("long"))
      case BFunc1("minutes", a) =>
        val f = regexp_extract(RdfLex.lex(bindCol(a, lex)),
          "T\\d\\d:(\\d\\d):", 1)
        when(f =!= "", f.cast("long"))
      case BFunc1("seconds", a) =>
        val f = regexp_extract(RdfLex.lex(bindCol(a, lex)),
          "T\\d\\d:\\d\\d:(\\d\\d(?:\\.\\d+)?)", 1)
        when(f =!= "", f.cast("double"))
      // TZ (§17.4.5.8): "Z", an offset, or "" when the dateTime has no
      // timezone — but a NON-dateTime argument is a type error
      // (unbound/null), distinguished from the legitimate ""-for-
      // timezone-less case by the same dateTime-shape guard the other
      // accessors use (regexp_extract's no-match result would conflate
      // the two)
      case BFunc1("tz", a) =>
        val lx = RdfLex.lex(bindCol(a, lex))
        when(lx.rlike("^-?\\d{4,}-\\d\\d-\\d\\dT"),
          regexp_extract(lx, "(Z|[+-]\\d\\d:\\d\\d)$", 0))
      // STR (§17.4.2.5): a literal's lexical form, an IRI unchanged —
      // the FILTER surface's decoration stripper exposed to BIND
      case BFunc1("str", a) => RdfLex.lex(bindCol(a, lex))
      // STRLANG/STRDT (§17.4.2.8-9): construct the decorated stored
      // spellings — tags lowercase like canonLang, xsd: datatypes
      // expand like canonTyped
      case BStr2("strlang", a, tag) =>
        concat(lit("\""), bindCol(a, lex).cast("string"),
          lit("\"@" + tag.toLowerCase))
      case BStr2("strdt", a, dt) =>
        // xsd:string-typed literals canonicalize to the BARE lexical
        // store-wide (Sparql.canonTyped) — STRDT must emit the same
        // spelling or its output never joins/compares equal to stored
        // simple literals
        val uri = Sparql.datatypeUri(dt)
        if (uri == Sparql.XsdNs + "string") bindCol(a, lex).cast("string")
        else concat(lit("\""), bindCol(a, lex).cast("string"),
          lit("\"^^<" + uri + ">"))
      case BFunc1(other, _) =>
        throw new IllegalArgumentException(s"unknown BIND function: $other")
      case BSubstr(a, st, ln) => bindCol(a, lex).cast("string")
        .substr(lit(st), lit(ln.getOrElse(Int.MaxValue)))
      case BReplace(a, p, r) =>
        regexp_replace(bindCol(a, lex).cast("string"), p, r)
      case BStr2(fn, a, needle) =>
        // first-occurrence split; SPARQL returns "" (not NULL) when
        // the needle is absent. Pure codegen'd string ops — instr +
        // dynamic-bound substr — no regex engine involved.
        val sc = bindCol(a, lex).cast("string")
        val pos = instr(sc, needle)
        fn match {
          case "strbefore" =>
            when(pos > 0, sc.substr(lit(1), pos - 1)).otherwise(lit(""))
          case "strafter" =>
            when(pos > 0, sc.substr(pos + lit(needle.length), length(sc)))
              .otherwise(lit(""))
        }
      case BIf(l, op, r, t, e) =>
        // numeric comparison when either side is a numeric literal,
        // lexical otherwise (SPARQL operand typing, bounded like FILTER)
        val numeric = (l, r) match {
          case (BLit(_, true), _) | (_, BLit(_, true)) => true
          case _ => false
        }
        val (lc, rc) =
          if (numeric) (bindCol(l, lex).cast("double"), bindCol(r, lex).cast("double"))
          else (bindCol(l, lex).cast("string"), bindCol(r, lex).cast("string"))
        val cond = op match {
          case "=" => lc === rc
          case "!=" => lc =!= rc
          case ">" => lc > rc
          case "<" => lc < rc
          case ">=" => lc >= rc
          case "<=" => lc <= rc
        }
        when(cond, bindCol(t, lex)).otherwise(bindCol(e, lex))
      case BArith(op, l, r) =>
        val (lc, rc) =
          (bindCol(l, lex).cast("double"), bindCol(r, lex).cast("double"))
        op match {
          case "+" => lc + rc
          case "-" => lc - rc
          case "*" => lc * rc
          case "/" => lc / rc
        }
    }
    for (b <- q.binds) {
      val refs =
        if (store.encoded) b.refs.distinct.filterNot(lexical) else Nil
      val (d2, lex) = decodeVars(joined, refs)
      joined = d2.withColumn(b.alias, bindCol(b.expr, lex))
        .drop(refs.map(lexName): _*)
      lexical += b.alias
    }

    // top-level FILTER clauses (DNF: OR of AND-groups), applied
    // post-join
    joined = applyFilters(joined, q.filters)

    // Decode the given columns in ONE pass over the dictionary: unpivot
    // (rid, var, id), join the dict once, pivot back. Per-column joins
    // would scan the data-sized dict once per variable (or worse, pin
    // it in a broadcast); here the dict is streamed once and AQE
    // broadcasts the result-sized unpivoted side. The pivot shuffle is
    // result-sized, never data-sized. Identity for string-form stores.
    def decode(df: DataFrame, sel: Seq[String]): DataFrame = store.dict match {
      case None => df
      case Some(dict) =>
        // computed columns (BIND aliases, subquery aggregates) hold
        // values, not ids — they bypass the dict and rejoin by rid
        val toDec = sel.filterNot(lexical)
        if (toDec.isEmpty) df.select(sel.map(col): _*)
        else {
          // computed (pass-through) columns ride the exploded rows and
          // re-enter through the pivot's grouping keys: ONE lineage, so
          // the nondeterministic rid never has to match itself across a
          // self-join — two evaluations of monotonically_increasing_id
          // on opposite sides of a shuffle can disagree on row order in
          // a multi-executor run and attach values to the wrong rows
          val passThrough = sel.filter(lexical)
          val withId = df.withColumn("__rid", monotonically_increasing_id())
          val kvs = toDec.flatMap(v => Seq(lit(v): Column, col(v)))
          // dict columns re-aliased: a BIND alias named `value`/`id`
          // must not collide with the dictionary's schema
          val d = dict.select(col("id").as("__did"), col("value").as("__dval"))
          val long = withId.select(
            (col("__rid") +: passThrough.map(col)) :+
              explode(map(kvs: _*)).as(Seq("__var", "__id")): _*)
          // left_outer: a null id (unmatched OPTIONAL) or an id missing
          // from the dict decodes to null — an inner join would DROP a
          // row whose decoded columns are all null
          val dec = long.join(d, long("__id") === d("__did"), "left_outer")
            .groupBy(col("__rid") +: passThrough.map(col): _*)
            .pivot("__var", toDec).agg(first(col("__dval")))
          dec.select(sel.map(col): _*)
        }
    }

    val orderVars = q.orderBy.map(_.variable)
    val result: DataFrame =
      if (q.aggregates.nonEmpty) {
        // decode group keys and aggregate inputs FIRST (ids aggregate
        // wrongly for min/max/sum), then one partial-aggregated groupBy
        val needed = (q.groupBy ++ q.aggregates.flatMap(_.variable))
          .distinct.sorted
        val solution = decode(joined.select(needed.map(col): _*), needed)
        val aggCols = q.aggregates.map { a =>
          ((a.op, a.variable): @unchecked) match {
            case ("count", None) => count(lit(1)).as(a.alias)
            case ("count", Some(v)) if a.distinct =>
              countDistinct(col(v)).as(a.alias)
            case ("count", Some(v)) => count(col(v)).as(a.alias)
            // SUM/AVG are datatype-driven like FILTER ordering: a
            // typed literal aggregates on its lexical value through
            // the ANSI-safe guarded cast (a plain cast would fail the
            // stage on the first non-numeric binding)
            case ("sum", Some(v)) if a.distinct =>
              sum_distinct(RdfLex.numeric(col(v))).as(a.alias)
            case ("sum", Some(v)) => sum(RdfLex.numeric(col(v))).as(a.alias)
            // numerator and denominator dedup the SAME projection:
            // deduping raw strings would count "1" and "1.0" (or a
            // non-numeric value casting to null) differently from the
            // double-cast numerator
            case ("avg", Some(v)) if a.distinct =>
              (sum_distinct(RdfLex.numeric(col(v))) /
                countDistinct(RdfLex.numeric(col(v)))).as(a.alias)
            case ("avg", Some(v)) => avg(RdfLex.numeric(col(v))).as(a.alias)
            case ("min", Some(v)) => min(col(v)).as(a.alias)
            case ("max", Some(v)) => max(col(v)).as(a.alias)
            // GROUP_CONCAT: SPARQL leaves the order implementation-
            // defined; sorting the collected bag makes it deterministic
            // (bag semantics kept — duplicates survive)
            case ("group_concat", Some(v)) =>
              array_join(array_sort(collect_list(col(v))),
                a.sep.getOrElse(" ")).as(a.alias)
            // SAMPLE: any member is valid — the minimum is deterministic
            case ("sample", Some(v)) => min(col(v)).as(a.alias)
          }
        }
        q.groupBy.distinct.sorted match {
          case Seq() => solution.agg(aggCols.head, aggCols.tail: _*)
          case keys => solution.groupBy(keys.map(col): _*)
            .agg(aggCols.head, aggCols.tail: _*)
        }
      } else {
        // ORDER BY needs its keys through projection and decode; with
        // DISTINCT the parser guarantees orderVars ⊆ select
        val keep = (q.select ++ orderVars).distinct.sorted
        val projected = joined.select(keep.map(col): _*)
          .transform(df => if (q.distinct) df.distinct() else df)
        decode(projected, keep)
      }

    // HAVING: numeric conjuncts over aggregate aliases, post-agg
    val havingApplied = q.having.foldLeft(result) { (df, h) =>
      val c = col(h.variable)
      val r = lit(h.value.toDouble)
      df.filter(h.op match {
        case "=" => c === r
        case "!=" => c =!= r
        case ">" => c > r
        case ">=" => c >= r
        case "<" => c < r
        case "<=" => c <= r
      })
    }

    val outCols =
      (if (q.aggregates.nonEmpty) q.select ++ q.aggregates.map(_.alias)
       else q.select).distinct.sorted
    val ordered =
      if (q.orderBy.isEmpty) havingApplied
      else havingApplied.orderBy(q.orderBy.flatMap { k =>
        // SPARQL §15.1: typed numerics order by VALUE; plain literals
        // and IRIs keep codepoint order. The composite key puts typed
        // numerics first (by value), everything else after (by its
        // string form) — plain-string-only columns sort exactly as
        // before (the numeric key is uniformly null)
        val v = col(k.variable)
        val typedNum = when(
          RdfLex.datatype(v).startsWith(Sparql.XsdNs) &&
            v.startsWith("\""), RdfLex.numeric(v))
        val keys = Seq(typedNum.isNull, typedNum, v)
        if (k.asc) keys.map(_.asc) else keys.map(_.desc)
      }: _*)
    val withOffset = q.offset.fold(ordered)(ordered.offset)
    val withLimit = q.limit.fold(withOffset)(withOffset.limit)
    withLimit.select(outCols.map(col): _*)
  }

  /** Parse + plan in one step. */
  def query(store: TripleStore, sparql: String): DataFrame =
    plan(store, Sparql.parse(sparql))

  /** `ASK WHERE {...}`: one boolean row — true iff the pattern has any
    * solution. `limit(1)` bounds the work: existence never materializes
    * more than one binding per partition.
    */
  def ask(store: TripleStore, sparql: String): DataFrame =
    plan(store, Sparql.parseAsk(sparql)).limit(1)
      .agg((count(lit(1)) > 0).as("result"))

  /** `CONSTRUCT { template } WHERE {...}`: each template triple
    * projects the solution set to (s, p, o) rows — constants become
    * literals — and the templates union (bag semantics, like the
    * reference's U1).
    */
  def construct(store: TripleStore, sparql: String): DataFrame = {
    val (templates, bq) = Sparql.parseConstruct(sparql)
    val sol = plan(store, bq)
    def termCol(t: Term): Column = t match {
      case Var(n) => col(n)
      case Const(c) => lit(c)
      case other => throw new IllegalArgumentException(
        s"CONSTRUCT templates allow only vars and constants: $other")
    }
    templates.map(t => sol.select(
        termCol(t.s).as("s"), termCol(t.p).as("p"), termCol(t.o).as("o")))
      .reduce(_ unionByName _)
  }

  /** `DESCRIBE ?v … WHERE {...}` / `DESCRIBE <node>`: all triples
    * incident to the described resources (the common implementation of
    * SPARQL 1.1 §16.4's open-ended description). The node set is
    * result-sized — solution distinct, guarded-broadcast — and each
    * predicate slice contributes its incident rows through one semi
    * join, so the cost is one pruned scan per slice, never a
    * data-sized shuffle. Encoded stores decode the edge (s/o via the
    * dict; p names are already strings).
    */
  def describe(store: TripleStore, sparql: String): DataFrame = {
    val spark = store.slices.values.head.sparkSession
    // node set → store ids: an expression on hash-id stores (ids ARE
    // the values' xxhash64); a value→id dict join on sequential stores
    // (the node set is result-sized, AQE broadcasts it)
    def toIds(df: DataFrame): DataFrame =
      if (!store.encoded) df
      else if (!store.sequential)
        df.select(xxhash64(col("__n")).as("__n"))
      else df.join(store.dict.get, df("__n") === col("value"))
        .select(col("id").as("__n"))
    val nodes: DataFrame = Sparql.parseDescribe(sparql) match {
      case Left(c) =>
        import spark.implicits._
        toIds(Seq(c).toDF("__n"))
      case Right((vars, bq)) =>
        // plan() decodes at its edge; re-encoding reproduces the
        // store's ids exactly
        val sol = plan(store, bq)
        toIds(vars.map(v => sol.select(col(v).as("__n")))
          .reduce(_ unionByName _)
          .na.drop().distinct())
    }
    val nodesB = graft.scale.GuardedBroadcast.maybe(nodes)
    val triples = store.slices.toSeq.sortBy(_._1).map { case (p, sl) =>
      sl.join(nodesB,
          sl("s") === nodesB("__n") || sl("o") === nodesB("__n"), "left_semi")
        .select(col("s"), lit(p).as("p"), col("o"))
    }.reduce(_ unionByName _)
    store.dict match {
      case None => triples
      case Some(dict) =>
        val d1 = dict.select(col("id").as("__i1"), col("value").as("__v1"))
        val d2 = dict.select(col("id").as("__i2"), col("value").as("__v2"))
        triples
          .join(d1, triples("s") === d1("__i1"), "left_outer")
          .join(d2, triples("o") === d2("__i2"), "left_outer")
          .select(col("__v1").as("s"), col("p"), col("__v2").as("o"))
    }
  }

  /** DREAM's enumerate–measure–merge loop (Optimizer.cpp:63-103) over
    * a persistent [[graft.tools.CostStats]] cache: per-pattern slice
    * cardinalities missing from the cache are measured once (a count
    * per pattern — subquery-sized, not plan-sized), recorded, and every
    * later plan against the same cache orders its join chain by the
    * measured sizes and short-circuits measured-empty patterns from
    * the cache alone (entry point C parity, Proxy.c:71-85).
    */
  def measureAndPlan(store: TripleStore, q: BgpQuery,
      stats: graft.tools.CostStats): DataFrame = {
    primeConsts(store, queryConsts(q))
    val encode: String => Column = constEncoder(store)
    val allPatterns =
      (q.patterns ++ q.optionals.flatten ++ q.unions.flatten.flatten
        ++ q.minuses.flatten)
    val known = stats.load()
    allPatterns.map(patternKey).distinct
      .filterNot(known.contains)
      .foreach { key =>
        val pat = allPatterns.find(p => patternKey(p) == key).get
        stats.measure(key, patternScan(store, pat, encode))
      }
    // DREAM also measures candidate SUBQUERY plans: record the join
    // cardinality of every connected main-chain pair once — each
    // measurement is a pairwise subquery count, never plan-sized
    val known2 = stats.load()
    val pairs = for {
      i <- q.patterns.indices
      j <- (i + 1) until q.patterns.size
      if q.patterns(i).vars.toSet.intersect(q.patterns(j).vars.toSet).nonEmpty
    } yield (q.patterns(i), q.patterns(j))
    pairs.map { case (a, b) => (pairKey(a, b), a, b) }
      .distinctBy(_._1)
      .filterNot(p => known2.contains(p._1))
      .foreach { case (key, a, b) =>
        val sa = patternScan(store, a, encode)
        val sb = patternScan(store, b, encode)
        val common = sa.columns.intersect(sb.columns).toSeq
        stats.measure(key, sa.join(sb, common, "inner"))
      }
    val measured = stats.load().map { case (k, (rows, _)) => k -> rows }
    plan(store, q, measured)
  }

  /** Parse + measure + plan in one step. */
  def queryMeasured(store: TripleStore, sparql: String,
      stats: graft.tools.CostStats): DataFrame =
    measureAndPlan(store, Sparql.parse(sparql), stats)
}
