package graft.graph

import graft.scale.GuardedBroadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project, Union}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Recursive path evaluation over an edge DataFrame — the capability
  * behind SPARQL 1.1 property paths (`p+`), which the reference's BGP
  * subset lacks and Spark has no native operator for.
  *
  * Two loops evaluate a closure, and which one runs depends on the
  * endpoints:
  *  - [[transitiveClosure]] closes the WHOLE edge relation by path
  *    doubling: each round joins the closure with itself, so paths of
  *    length 2^k exist after k rounds and a diameter-d graph needs
  *    ⌈log₂ d⌉ rounds, each a data-sized self-join with a shuffle. It
  *    runs when both endpoints are variables (every pair is wanted).
  *  - [[reachFrom]] is semi-naive reachability from ONE seed: each
  *    round extends only the frontier (the values first reached in the
  *    previous round) by one hop, with a narrow scan of the edges
  *    filtered on the frontier, collected to the driver, where
  *    already-visited values drop out; it stops when the frontier is
  *    empty. It runs when a path pattern has a constant endpoint, and
  *    costs (seed eccentricity + 1) jobs, shuffle-free over a scanned
  *    slice, instead of closing the whole relation for a handful of
  *    result rows. Two guards hand it over to [[transitiveClosure]]
  *    filtered on the seed (same answer): the visited set outgrowing
  *    the session's broadcast threshold, and [[MaxSeededRounds]].
  *
  * Action discipline (r16, guide §1.2): every doubling round used to
  * pay TWO driver actions — an EAGER localCheckpoint (one job
  * materializing the round's blocks) and then the fixpoint-test
  * count/aggregate (a second job over the just-cached blocks,
  * re-executing every broadcast exchange in the plan a second time).
  * The checkpoint is now LAZY and the fixpoint aggregate is the action
  * that materializes it: one job per round does both, and the lineage
  * truncation (the reason the checkpoint exists — without it each
  * round's plan embeds all previous rounds' and optimizer time grows
  * exponentially) is unchanged, because truncation is a plan-shape
  * property of the returned Dataset, not of when its RDD materializes.
  */
object PathOps {

  /** Lazily checkpoint `df` and return it with its exact row count,
    * computed by the SAME job that materializes the checkpointed
    * blocks (the count scans every partition, so every block caches).
    */
  private def checkpointWithCount(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(eager = false)
    (cp, cp.count())
  }

  /** All (src, dst) pairs connected by ≥1 hop. `edges` must have
    * columns (src, dst). The loop exits at fixpoint; reaching maxIter
    * rounds without one throws rather than return a partial closure.
    *
    * Path doubling (closure ⋈ closure each round) reaches paths of
    * length 2^k after k rounds, so a diameter-d graph needs ⌈log₂ d⌉
    * rounds versus d for one-hop semi-naive extension — on Spark,
    * where each round is a scheduled job, round count dominates
    * wall-clock.
    */
  def transitiveClosure(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    var (closure, size) =
      checkpointWithCount(edges.select(col("src"), col("dst")).distinct())
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // toDF renames mint fresh attribute ids on both sides, keeping
      // the (checkpointed) self-join unambiguous
      val (doubled, newSize) = checkpointWithCount(
        closure.toDF("a", "mid")
          .join(closure.toDF("mid", "c"), "mid")
          .select(col("a").as("src"), col("c").as("dst"))
          .unionByName(closure)
          .distinct())
      if (newSize == size) done = true
      else { closure = doubled; size = newSize; iter += 1 }
    }
    requireFixpoint("transitiveClosure", done, maxIter)
    closure
  }

  /** [[transitiveClosure]], plus with `reflexive` the zero-length
    * pairs (v, v) for every vertex v of `edges` — SPARQL's `p*`, whose
    * zero-length arm is scoped to the edge relation's vertex set.
    */
  def closure(edges: DataFrame, reflexive: Boolean): DataFrame = {
    val closed = transitiveClosure(edges)
    if (reflexive) closed.unionByName(identity(edges)).distinct() else closed
  }

  /** (v, v) for every distinct vertex v of the (src, dst) relation. */
  def identity(edges: DataFrame): DataFrame =
    edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
      .select(col("v").as("src"), col("v").as("dst"))

  /** Round cap of [[reachFrom]]'s seeded walk. A seeded round is one
    * narrow scan job; a doubling round of [[transitiveClosure]] is a
    * whole-relation self-join with a shuffle. On the sf0.01 `nextorder`
    * slice (4 cores, longest chain 26 hops) a seeded round took
    * 70–90 ms and the whole doubling closure 3.6 s over about six
    * rounds, so one doubling round costs about seven seeded ones. A
    * walk d rounds deep then costs d seeded rounds against
    * ~7·⌈log₂ d⌉ for doubling, which wins past d ≈ 40; handing over at
    * 32 rounds bounds what a deep walk wastes before doubling takes it.
    */
  val MaxSeededRounds = 32

  /** The pairs (seed, v) for every v reachable from `seed` in ≥ 1 hop
    * over `edges` (src, dst) — exactly `transitiveClosure(edges)`
    * filtered on src = seed — plus, with `reflexive`, (seed, seed) when
    * the seed is a vertex of `edges` (the `p*` arm of [[closure]]).
    * `seed` is in the edges' own encoding.
    *
    * Round 1 filters the edges on the seed; every later round scans
    * `edges.filter(src isin frontier)` and collects the distinct
    * targets to the driver ([[GuardedBroadcast.collectBounded]], within
    * what is left of the byte budget), where already-visited values
    * drop out; the walk ends when a round finds nothing new. Seed
    * eccentricity + 1 jobs (none over driver-local edges), and no
    * shuffle when `edges` is a plain scan. Edges that are
    * more than a scan (a distinct, a delta merge's joins) are
    * checkpointed and materialized by round 1, so their shuffles run
    * once, not once per round. The result is a driver-local relation.
    *
    * The walk hands over to `closure(edges, reflexive)` filtered on the
    * seed — the same answer at today's whole-relation cost plus the
    * rounds already run — when the visited set, measured as it is
    * collected by [[GuardedBroadcast]]'s row-width rule, passes
    * `spark.sql.autoBroadcastJoinThreshold` (immediately when
    * broadcasting is disabled), or when the frontier is still
    * non-empty after [[MaxSeededRounds]] rounds.
    */
  def reachFrom(edges: DataFrame, seed: Column,
      reflexive: Boolean = false): DataFrame = {
    val raw = edges.select(col("src"), col("dst"))
    val spark = raw.sparkSession
    val e = if (scanOnly(raw)) raw else raw.localCheckpoint(eager = false)
    def handOver: DataFrame =
      closure(e, reflexive).filter(col("src") === seed)
    val budget = GuardedBroadcast.threshold(spark)
    val width = GuardedBroadcast.rowBytes(
      StructType(Seq(e.schema("dst").copy(name = "v"))))
    if (budget <= 0 || width.isEmpty) return handOver
    // round 1 reads the seed's out-edges; a reflexive walk also visits
    // the seed itself for every edge touching it, so the seed is
    // visited exactly when it is a vertex, which is when p* pairs it
    // with itself (an in-edge's dst is the seed too)
    var step =
      if (!reflexive) e.filter(col("src") === seed).select(col("dst").as("v"))
      else e.filter(col("src") === seed || col("dst") === seed)
        .select(explode(array(col("dst"), seed)).as("v"))
    val visited = mutable.HashSet.empty[Any]
    var bytes = 0L
    var rounds = 0
    var frontier = Seq.empty[Any]
    do {
      if (rounds == MaxSeededRounds) return handOver
      val got = GuardedBroadcast.collectBounded(step, width.get,
          budget - bytes) match {
        case Some(g) => g.map { case (r, w) => (r.get(0), w) }
        case None => return handOver
      }
      rounds += 1
      val fresh = mutable.ArrayBuffer.empty[Any]
      for ((v, w) <- got if visited.add(v)) {
        fresh += v
        bytes += w
      }
      frontier = fresh.toSeq
      if (bytes > budget) return handOver
      step = e.filter(col("src").isin(frontier: _*)).select(col("dst").as("v"))
    } while (frontier.nonEmpty)
    spark.createDataFrame(visited.toSeq.map(Row(_)).asJava,
        StructType(Seq(e.schema("dst").copy(name = "v"))))
      .select(seed.as("src"), col("v").as("dst"))
  }

  /** True when `df` reads its rows through narrow operators only, so
    * re-running it per round costs one scan and no exchange.
    */
  private def scanOnly(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.find {
      case _: Project | _: Filter | _: Union | _: LeafNode => false
      case _ => true
    }.isEmpty

  /** Min-hop distance for every connected (src, dst) pair (BFS depth,
    * all sources at once) — min-plus path doubling: each round joins
    * the distance relation with itself, adds the two legs, and keeps
    * the per-pair minimum, so after k rounds every distance up to 2^k
    * hops is exact. Same ⌈log₂ d⌉ round count and localCheckpoint
    * lineage hygiene as [[transitiveClosure]]; the fixpoint test
    * compares (pair count, total distance) so a round that only
    * SHORTENS known pairs still registers as change. The snapshot
    * aggregate is the checkpoint-materializing action (one job per
    * round — see the object scaladoc). Reaching maxIter rounds without
    * a fixpoint throws rather than return partial distances.
    */
  def shortestHops(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    def snapCp(df: DataFrame): (DataFrame, (Long, Long)) = {
      val cp = df.localCheckpoint(eager = false)
      val r = cp.agg(count(lit(1)), coalesce(sum(col("d")), lit(0L))).head
      (cp, (r.getLong(0), r.getLong(1)))
    }
    var (dist, state) = snapCp(
      edges.select(col("src"), col("dst")).distinct()
        .withColumn("d", lit(1L)))
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val (doubled, ns) = snapCp(
        dist.toDF("a", "mid", "d1")
          .join(dist.toDF("mid", "c", "d2"), "mid")
          .select(col("a").as("src"), col("c").as("dst"),
            (col("d1") + col("d2")).as("d"))
          .unionByName(dist)
          .groupBy(col("src"), col("dst")).agg(min(col("d")).as("d")))
      if (ns == state) done = true
      else { dist = doubled; state = ns; iter += 1 }
    }
    requireFixpoint("shortestHops", done, maxIter)
    dist
  }

  /** Vertices of the k-core (maximal subgraph where every vertex keeps
    * degree ≥ k) — iterative peeling to the fixpoint, over the
    * UNDIRECTED graph: `edges` is symmetrized here (each edge taken
    * both ways after one distinct over its unordered pair), so degree
    * = count of rows per src whether the caller passes one direction
    * or both.
    *
    * The k-core is order-independent (the fixpoint is unique no matter
    * which low-degree vertex peels first), which is what makes a
    * distributed bulk peel correct: each round drops EVERY vertex
    * currently under degree k at once, and converges in at most the
    * peel depth of the graph (rounds are a data property, ≤4 on the
    * test corpus; degeneracy-bounded, not size-bounded, at 100×).
    *
    * r16 semi-naive residual-degree peel (guide §2.3 — shuffle fewer
    * bytes): the bulk peel recomputed every vertex's degree from the
    * full edge set each round and REWROTE the edge set (two
    * edge-grain semi-joins + an edge-grain checkpoint per round,
    * O(E) shuffled and materialized per round). The peel only ever
    * needs degrees, and a removed vertex changes only its neighbors'
    * degrees — so the loop now maintains a VERTEX-grain degree
    * relation and subtracts, per round, the edges lost to that
    * round's removed set: one broadcast-ready join of the static
    * (checkpointed-once) edge set against the removed vertices plus
    * one vertex-grain aggregate and join. Per-round shuffled bytes
    * drop from edge-grain to vertex-grain, and the edge relation is
    * never rewritten. The removed set lives for one round only, so it
    * takes no memo entry: within the broadcast threshold it is
    * collected to the driver (GuardedBroadcast.collectBounded) and
    * joined as a broadcast `LocalRelation`; a pathological round that
    * removes a data-sized set takes a plain shuffle join — never an
    * OOM. Fixpoint, round count
    * and the returned vertex set are identical to the bulk peel (the
    * same vertices fall below k in the same rounds; both implement
    * the unique k-core fixpoint). Reaching maxIter rounds with
    * vertices still under degree k throws rather than return a
    * partial core.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    // each undirected edge once, as (least, greatest) — the distinct
    // shuffles no more rows than the caller passed — then both ways
    val und = edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val ed = und.select(explode(array_distinct(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst"))))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .localCheckpoint(eager = false)
    // vertex-grain state: current residual degree per still-alive
    // vertex (vertices with no edges have no row — they are never in
    // any k≥1 core, and for k=0 the k-core of a vertex with edges is
    // what the bulk peel returned too: distinct srcs of the edge set).
    var (deg, pending) = {
      val cp = ed.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .localCheckpoint(eager = false)
      (cp, cp.filter(col("d") < k).count())
    }
    val spark = edges.sparkSession
    val budget = GuardedBroadcast.threshold(spark)
    var iter = 0
    while (pending > 0 && iter < maxIter) {
      val removed = deg.filter(col("d") < k).select(col("src").as("dst"))
      val held = GuardedBroadcast.rowBytes(removed.schema).filter(_ => budget > 0)
        .flatMap(GuardedBroadcast.collectBounded(removed, _, budget))
        .map(rows => GuardedBroadcast.maybe(
          spark.createDataFrame(rows.map(_._1).asJava, removed.schema)))
      // edges lost by surviving vertices: every edge whose dst was
      // just removed decrements its (still-alive) src by one. Each
      // edge's dst is removed in at most one round, so no edge is
      // ever double-counted; edges whose src died earlier drop out
      // because the join below is against the alive degree relation.
      val lost = ed.join(held.getOrElse(removed), Seq("dst"))
        .groupBy(col("src")).agg(count(lit(1)).as("_lost"))
      val next = deg.filter(col("d") >= k)
        .join(lost, Seq("src"), "left_outer")
        .select(col("src"),
          (col("d") - coalesce(col("_lost"), lit(0L))).as("d"))
        .localCheckpoint(eager = false)
      // two jobs per round: the bounded collect of the removed set,
      // then the fixpoint probe (how many alive vertices fell below
      // k), which materializes the round's vertex-grain checkpoint.
      pending = next.filter(col("d") < k).count()
      deg = next
      iter += 1
    }
    requireFixpoint("kCore", pending == 0, maxIter)
    deg.select(col("src").as("v"))
  }

  /** A capped fixpoint loop that stopped short has a partial answer:
    * fail instead of returning it.
    */
  private def requireFixpoint(op: String, done: Boolean, maxIter: Int): Unit =
    if (!done) throw new IllegalStateException(
      s"$op: no fixpoint after maxIter = $maxIter rounds")
}
