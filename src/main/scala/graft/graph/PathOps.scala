package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive path evaluation over an edge DataFrame — the capability
  * behind SPARQL 1.1 property paths (`p+`), which the reference's BGP
  * subset lacks and Spark has no native operator for.
  *
  * Semi-naive evaluation (the datalog fixpoint algorithm): each
  * iteration extends only the NEW pairs of the previous round (the
  * delta) by one edge hop, anti-joins out already-known pairs, and
  * stops when the delta is empty. Joining the delta instead of the
  * whole closure keeps per-iteration work proportional to new facts —
  * on a cluster each iteration is one shuffle of the delta, and the
  * closure accumulates in cached partitions.
  *
  * Action discipline (r16, guide §1.2): every round used to pay TWO
  * driver actions — an EAGER localCheckpoint (one job materializing
  * the round's blocks) and then the fixpoint-test count/aggregate (a
  * second job over the just-cached blocks, re-executing every
  * broadcast exchange in the plan a second time). The checkpoint is
  * now LAZY and the fixpoint aggregate is the action that
  * materializes it: one job per round does both, and the lineage
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
    * degree ≥ k) — iterative peeling to the fixpoint. `edges` must be
    * the SYMMETRIZED distinct edge set (both directions present), so
    * degree = count of rows per src.
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
    * never rewritten. The removed set is guarded-broadcast
    * (GuardedBroadcast.maybe): batch-sized in typical rounds, and the
    * guard degrades to a shuffle join when a pathological round
    * removes a data-sized set — never an OOM. Fixpoint, round count
    * and the returned vertex set are identical to the bulk peel (the
    * same vertices fall below k in the same rounds; both implement
    * the unique k-core fixpoint). Reaching maxIter rounds with
    * vertices still under degree k throws rather than return a
    * partial core.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    val ed = edges.select(col("src"), col("dst")).distinct()
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
    var iter = 0
    while (pending > 0 && iter < maxIter) {
      val removed = deg.filter(col("d") < k).select(col("src"))
      // edges lost by surviving vertices: every edge whose dst was
      // just removed decrements its (still-alive) src by one. Each
      // edge's dst is removed in at most one round, so no edge is
      // ever double-counted; edges whose src died earlier drop out
      // because the join below is against the alive degree relation.
      val lost = ed
        .join(graft.scale.GuardedBroadcast.maybe(
          removed.withColumnRenamed("src", "dst")), Seq("dst"))
        .groupBy(col("src")).agg(count(lit(1)).as("_lost"))
      val next = deg.filter(col("d") >= k)
        .join(lost, Seq("src"), "left_outer")
        .select(col("src"),
          (col("d") - coalesce(col("_lost"), lit(0L))).as("d"))
        .localCheckpoint(eager = false)
      // two jobs per round: the guard's measuring job over the
      // removed set, then the fixpoint probe (how many alive vertices
      // fell below k), which materializes the round's vertex-grain
      // checkpoint.
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
