package graft.bgp

import graft.scale.GuardedBroadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** SPARQL 1.1 Update — the graph-mutation slice (`INSERT DATA`,
  * `DELETE DATA`, `DELETE WHERE`), parity-plus: the reference grammar
  * (QueryPlanner.c:933-999) is read-only, but no user of a real RDF
  * store runs reads forever. Semantics follow SPARQL 1.1 Update §3.1:
  * graphs are SETS (inserting an existing triple is a no-op, deleting
  * an absent one is a no-op), DATA blocks are ground (no variables),
  * and `DELETE WHERE`'s pattern group is both the match and the
  * template — every triple instantiated by a solution is removed.
  *
  * Updates are functional over the immutable [[TripleStore]]: each op
  * maps `predicate → DataFrame(s,o)` slices to new slices via
  * union-distinct (insert) or left-anti join (delete) — the same apply
  * shapes as the lakehouse CDC merge (q202: latest-wins upsert =
  * union + anti semantics), per-predicate so an op touches only the
  * slices it names. The DERIVED s-bucketed secondary layout is
  * dropped by a default-graph update the way a format bump invalidates
  * the persisted store — it rebuilds from the new slices; the quads
  * relation is separate GRAPH data (not derived), so default-graph
  * updates leave named graphs standing, exactly as §3.1 scopes them.
  *
  * Both encodings are first-class: on the encoded store an insert
  * hashes the new terms (ids are derivable without a dictionary
  * join — the whole point of hash ids) and appends their
  * (id, value, dt, lang) rows to the dict, then re-runs the
  * store-build collision audit over the grown vocabulary; deletes
  * hash their ground terms and anti-join in id space. Dict entries of
  * deleted terms are kept — dictionaries are append-only, as in
  * RDF-3X's, and an orphaned entry is harmless.
  */
object SparqlUpdate {

  sealed trait UpdateOp
  final case class InsertData(triples: Seq[(String, String, String)])
      extends UpdateOp
  final case class DeleteData(triples: Seq[(String, String, String)])
      extends UpdateOp
  final case class DeleteWhere(patterns: Seq[Sparql.TriplePattern])
      extends UpdateOp

  /** §3.1.1/§3.1.2 QuadData: a `GRAPH <g> { … }` block inside a DATA
    * op — ground triples landing in (or leaving) one NAMED graph of
    * the quads relation instead of the default-graph slices.
    */
  final case class InsertDataGraph(graph: String,
      triples: Seq[(String, String, String)]) extends UpdateOp
  final case class DeleteDataGraph(graph: String,
      triples: Seq[(String, String, String)]) extends UpdateOp

  /** §3.2.2/§3.2.3 explicit graph lifecycle. This store records no
    * EMPTY graphs (a graph exists iff it holds a quad — the freedom
    * §3.2.2 grants such stores), so CREATE is a validated no-op and
    * DROP GRAPH ≡ remove the graph's quads; non-SILENT forms still
    * fail loudly on the exists/absent conflicts the spec names.
    * `graph = None` means `DROP DEFAULT`.
    */
  final case class CreateGraph(graph: String, silent: Boolean)
      extends UpdateOp
  final case class DropGraph(graph: Option[String], silent: Boolean)
      extends UpdateOp

  /** The full §3.1.3 DELETE/INSERT form: `where` binds, `deleteTmpl`
    * then `insertTmpl` instantiate under every solution (deletes apply
    * before inserts, both against the ORIGINAL store's bindings).
    *
    * `where` is a FULL query group (round 8): the update WHERE parses
    * through the query grammar, so FILTER / OPTIONAL / UNION / MINUS /
    * VALUES / GRAPH blocks all work exactly as they do in SELECT —
    * one grammar, one planner. `deleteQuadTmpl`/`insertQuadTmpl`
    * carry GRAPH-scoped template entries (instantiated into the quads
    * relation). `USING [NAMED]` clauses land in the where-query's own
    * fromGraphs/fromNamed (§3.1.3 defines USING exactly as §13.2's
    * FROM), and `withGraph` holds a `WITH <g>` — it rescoped the
    * UNSCOPED template entries at parse time and scopes the WHERE's
    * default graph when no USING overrides it, leaving named graphs
    * visible (unlike USING's exact-dataset semantics).
    */
  final case class Modify(
      deleteTmpl: Seq[Sparql.TriplePattern],
      insertTmpl: Seq[Sparql.TriplePattern],
      where: Sparql.BgpQuery,
      deleteQuadTmpl: Seq[(String, Sparql.TriplePattern)] = Nil,
      insertQuadTmpl: Seq[(String, Sparql.TriplePattern)] = Nil,
      withGraph: Option[String] = None) extends UpdateOp

  // ——— §3.2 graph management over the store's named-graph quads ———
  case object ClearDefault extends UpdateOp
  final case class ClearGraph(g: String) extends UpdateOp
  /** §3.2.5 ADD/COPY/MOVE: COPY replaces the target's content with the
    * source's, MOVE additionally drops the source, ADD unions into the
    * target (set semantics). `None` is the DEFAULT graph — the spec
    * allows it on either side, so these ops cross the slices/quads
    * boundary in both directions.
    */
  final case class GraphOp(op: String, from: Option[String],
      to: Option[String]) extends UpdateOp

  /** §3.2.1 LOAD: ingest an N-Triples document into a named graph —
    * the distributed text parse (RdfIO's S1-grade reader) unioned
    * into the quads relation with set semantics; on the encoded store
    * the loaded vocabulary grows the dict (audited, DataFrame-sized —
    * never collected to the driver).
    */
  final case class Load(path: String, graph: String) extends UpdateOp

  private val insDataRe = "(?is)^\\s*INSERT\\s+DATA\\s*\\{(.*)\\}\\s*$".r
  private val delDataRe = "(?is)^\\s*DELETE\\s+DATA\\s*\\{(.*)\\}\\s*$".r
  private val delWhereRe = "(?is)^\\s*DELETE\\s+WHERE\\s*\\{(.*)\\}\\s*$".r
  private val clearRe =
    "(?is)^\\s*CLEAR\\s+(?:DEFAULT|GRAPH\\s+<([^>]*)>)\\s*$".r
  private val graphOpRe =
    ("(?is)^\\s*(ADD|COPY|MOVE)\\s+(?:(DEFAULT)|GRAPH\\s+<([^>]*)>)" +
      "\\s+TO\\s+(?:(DEFAULT)|GRAPH\\s+<([^>]*)>)\\s*$").r
  private val loadRe =
    "(?is)^\\s*LOAD\\s+<([^>]*)>\\s+INTO\\s+GRAPH\\s+<([^>]*)>\\s*$".r
  private val createRe =
    "(?is)^\\s*CREATE\\s+(SILENT\\s+)?GRAPH\\s+<([^>]*)>\\s*$".r
  private val dropRe =
    "(?is)^\\s*DROP\\s+(SILENT\\s+)?(?:(DEFAULT)|GRAPH\\s+<([^>]*)>)\\s*$".r
  private val withRe = "(?is)^\\s*WITH\\s+<([^>]*)>".r
  private val usingRe = "(?is)^\\s*USING\\s+(NAMED\\s+)?<([^>]*)>".r

  /** Parse an update request: one or more operations separated by `;`
    * (brace-depth-aware, so a `;` inside a block or literal is data).
    * A DATA op containing `GRAPH <g> { … }` chunks yields one op per
    * chunk plus (when present) one for its default-graph remainder.
    */
  def parse(text: String): Seq[UpdateOp] =
    splitOps(text).flatMap {
      case insDataRe(body) =>
        val (chunks, rest) = graphChunks(body)
        val defaults = groundTriples(rest)
        (if (defaults.nonEmpty || chunks.isEmpty)
          Seq(InsertData(defaults)) else Nil) ++
          chunks.map { case (g, b) => InsertDataGraph(g, groundTriples(b)) }
      case delDataRe(body) =>
        val (chunks, rest) = graphChunks(body)
        val defaults = groundTriples(rest)
        (if (defaults.nonEmpty || chunks.isEmpty)
          Seq(DeleteData(defaults)) else Nil) ++
          chunks.map { case (g, b) => DeleteDataGraph(g, groundTriples(b)) }
      case delWhereRe(body) =>
        val (chunks, rest) = graphChunks(body)
        def ground(tps: Seq[Sparql.TriplePattern]) = tps.forall(tp =>
          Seq(tp.s, tp.p, tp.o).forall(_.isInstanceOf[Sparql.Const]))
        def asData(tps: Seq[Sparql.TriplePattern]) =
          tps.map(tp => (constOf(tp.s), constOf(tp.p), constOf(tp.o)))
        val pats = patternsOf(rest)
        if (chunks.isEmpty) {
          if (ground(pats))
            // variable-free DELETE WHERE degenerates to DELETE DATA
            Seq(DeleteData(asData(pats)))
          else Seq(DeleteWhere(pats))
        } else {
          // §3.1.3 quad form: GRAPH blocks are BOTH the match and the
          // (graph-scoped) delete template. Ground quad chunks
          // degenerate to DeleteDataGraph; anything with a variable
          // routes through Modify with the whole body — GRAPH blocks
          // included — as the WHERE group
          val quadTmpl = chunks.flatMap { case (g, b) =>
            patternsOf(b).map(g -> _)
          }
          if (ground(pats) && ground(quadTmpl.map(_._2)))
            (if (pats.nonEmpty) Seq(DeleteData(asData(pats))) else Nil) ++
              chunks.map { case (g, b) =>
                DeleteDataGraph(g, asData(patternsOf(b)))
              }
          else
            Seq(Modify(pats, Nil,
              Sparql.parse("select * where { " + body + " }"),
              quadTmpl, Nil))
        }
      case clearRe(g) =>
        Seq(if (g == null) ClearDefault else ClearGraph(g))
      case graphOpRe(op, fDef, from, tDef, to) =>
        Seq(GraphOp(op.toUpperCase,
          if (fDef != null) None else Some(from),
          if (tDef != null) None else Some(to)))
      case loadRe(path, g) => Seq(Load(path, g))
      case createRe(silent, g) => Seq(CreateGraph(g, silent != null))
      case dropRe(silent, dflt, g) =>
        Seq(DropGraph(if (dflt != null) None else Some(g), silent != null))
      case other => Seq(parseModify(other).getOrElse(
        throw new IllegalArgumentException(
          "unsupported update operation (INSERT DATA / DELETE DATA / " +
            "DELETE WHERE / [WITH] DELETE-INSERT-USING-WHERE / CLEAR / " +
            "ADD / COPY / MOVE / LOAD / CREATE / DROP): " +
            s"'${other.take(80)}'")))
    }

  /** Structural parser for the §3.1.3 form —
    * `[WITH <g>] [DELETE { t }] [INSERT { t }] (USING [NAMED] <g>)*
    * WHERE { pats }` — with brace-matched (possibly GRAPH-nested)
    * template bodies the old flat regex could not see into. Returns
    * None when the text is not a modify at all (so the caller reports
    * the generic unsupported-op error).
    */
  private def parseModify(text: String): Option[Modify] = {
    var s = text
    var withG: Option[String] = None
    withRe.findFirstMatchIn(s).foreach { m =>
      withG = Some(m.group(1)); s = s.substring(m.end)
    }
    def block(kw: String): Option[String] =
      s"(?is)^\\s*$kw\\s*\\{".r.findFirstMatchIn(s).map { m =>
        val (body, after) = braceBlock(s, m.end - 1)
        s = s.substring(after)
        body
      }
    val delB = block("DELETE")
    val insB = block("INSERT")
    if (delB.isEmpty && insB.isEmpty) return None
    val usings = Seq.newBuilder[(Boolean, String)]
    var more = true
    while (more) usingRe.findFirstMatchIn(s) match {
      case Some(m) =>
        usings += ((m.group(1) != null, m.group(2))); s = s.substring(m.end)
      case None => more = false
    }
    val whereB = block("WHERE")
    require(whereB.isDefined,
      s"DELETE/INSERT templates need a WHERE clause: '${text.take(80)}'")
    require(s.trim.isEmpty,
      s"trailing text after WHERE clause: '${s.trim.take(80)}'")
    // template bodies: GRAPH chunks + default-graph remainder; a WITH
    // graph rescopes the UNSCOPED entries (§3.1.3)
    def tmpl(b: Option[String])
        : (Seq[Sparql.TriplePattern], Seq[(String, Sparql.TriplePattern)]) =
      b match {
        case None => (Nil, Nil)
        case Some(body) =>
          val (chunks, rest) = graphChunks(body)
          val plain = patternsOf(rest)
          val quads = chunks.flatMap { case (g, cb) =>
            patternsOf(cb).map(g -> _)
          }
          withG match {
            case Some(g) => (Nil, plain.map(g -> _) ++ quads)
            case None => (plain, quads)
          }
      }
    val (del, delQ) = tmpl(delB)
    val (ins, insQ) = tmpl(insB)
    // the WHERE group parses through the FULL query grammar (select *
    // projects every bound var) — FILTER/OPTIONAL/UNION/MINUS/VALUES/
    // GRAPH all work in update WHERE exactly as in SELECT
    val whereQ0 = Sparql.parse("select * where { " + whereB.get + " }")
    // §3.1.3 dataset: USING ≡ FROM, USING NAMED ≡ FROM NAMED — the
    // where-query's own dataset-clause machinery evaluates them; a
    // WITH without USING scopes only the default graph (named graphs
    // stay visible), handled at apply time via `withGraph`
    val usingList = usings.result()
    val whereQ = whereQ0.copy(
      fromGraphs = usingList.collect { case (false, g) => g },
      fromNamed = usingList.collect { case (true, g) => g })
    val bound = whereQ.select.toSet
    (del ++ ins ++ (delQ ++ insQ).map(_._2))
      .flatMap(tp => Seq(tp.s, tp.o))
      .collect { case Sparql.Var(n) => n }
      .foreach(v => require(bound(v),
        s"template var ?$v is not bound by the WHERE group"))
    Some(Modify(del, ins, whereQ, delQ, insQ,
      if (usingList.isEmpty) withG else None))
  }

  /** Pull `GRAPH <g> { … }` chunks out of a DATA/template body:
    * returns (chunks as graph→body, remainder with the chunks cut
    * out). Brace matching is quote/IRI aware ([[braceBlock]]).
    */
  private def graphChunks(body: String)
      : (Seq[(String, String)], String) = {
    val gRe = "(?is)\\bGRAPH\\s+<([^>]*)>\\s*\\{".r
    val out = Seq.newBuilder[(String, String)]
    val rem = new StringBuilder
    var rest = body
    var more = true
    while (more) gRe.findFirstMatchIn(rest) match {
      case Some(m) =>
        val (inner, after) = braceBlock(rest, m.end - 1)
        out += (m.group(1) -> inner)
        rem.append(rest.substring(0, m.start)).append(' ')
        rest = rest.substring(after)
      case None => more = false
    }
    rem.append(rest)
    (out.result(), rem.toString)
  }

  /** Matched-brace extraction — shared scanner, see Sparql.braceBlock. */
  private def braceBlock(s: String, from: Int): (String, Int) =
    Sparql.braceBlock(s, from)

  /** Parse + fold a whole request over a store.
    *
    * r15: each applied op's store is lineage-truncated (the lazy
    * localCheckpoint discipline SparqlServer.serve already uses) —
    * without it op k's slices re-derive ops 1..k−1's joins on every
    * downstream action, and a multi-op request over an encoded store
    * re-executes the dict-growth chain once per pattern measurement
    * (q327 read 25 s at sf0.1 on a 25-row store from exactly this).
    */
  def applyAll(spark: SparkSession, store: TripleStore,
      text: String): TripleStore =
    parse(text).foldLeft(store)((st, op) =>
      TripleStore.truncateLineage(apply(spark, st, op)))

  /** [[applyAll]] that ALSO returns each op's row-grain delta
    * ([[TripleStore.OpDelta]], one per parsed op, in application
    * order) for delta-grain persistence
    * ([[TripleStore.writeBackDelta]]): data ops surface their
    * insert/tombstone rows WITHOUT any store scan — ground ops emit
    * their literal triples, Modify/DeleteWhere reuse the instantiated
    * template relations the apply itself builds — and structural ops
    * (CLEAR/DROP/LOAD/graph management) are flagged so the write-back
    * checkpoints a full version instead. Deltas are STORE-FORM rows —
    * lexical on string stores, id-space on encoded ones, with each
    * op's dictionary growth captured in `dictRows` — so the
    * persistence path serves both dataset layouts.
    */
  def applyAllWithDelta(spark: SparkSession, store: TripleStore,
      text: String): (TripleStore, Seq[TripleStore.OpDelta]) =
    parse(text).foldLeft((store, Vector.empty[TripleStore.OpDelta])) {
      case ((st, acc), op) =>
        val (next, d) = applyWithDelta(spark, st, op)
        // same per-op lineage truncation as applyAll (r15)
        (TripleStore.truncateLineage(next), acc :+ d)
    }

  /** [[apply]] one op, returning the op's [[TripleStore.OpDelta]]
    * alongside the updated store (see [[applyAllWithDelta]]).
    */
  def applyWithDelta(spark: SparkSession, store: TripleStore,
      op: UpdateOp): (TripleStore, TripleStore.OpDelta) = {
    import spark.implicits._
    def d3(ts: Seq[(String, String, String)], del: Boolean): DataFrame =
      ts.map(t => (t._2, t._1, t._3, del)).toDF("p", "s", "o", "del")
    def d4(g: String, ts: Seq[(String, String, String)],
        del: Boolean): DataFrame =
      ts.map(t => (g, t._2, t._1, t._3, del))
        .toDF("g", "p", "s", "o", "del")
    // ground-op deltas are STORE-FORM rows (lexical on string stores,
    // id-space on encoded ones — encodeCols/gid, the same spellings
    // the apply consumes), so the write-back can append them under
    // either dataset layout; inserts encode against the GROWN dict
    // (the applied store's), deletes against the standing dict (a
    // never-seen term drops — deleting it was the spec's no-op)
    op match {
      case InsertData(ts) =>
        val next = apply(spark, store, op)
        val vocab = ts.flatMap(t => Seq(t._1, t._2, t._3))
        (next, TripleStore.OpDelta(
          Some(encodeCols(store, next.dict, d3(ts, del = false),
            Seq("s", "o"))),
          None, structural = false,
          dictRows = dictDeltaOf(spark, store, vocab)))
      case DeleteData(ts) =>
        (apply(spark, store, op),
          TripleStore.OpDelta(
            Some(encodeCols(store, store.dict, d3(ts, del = true),
              Seq("s", "o"))),
            None, structural = false))
      case InsertDataGraph(g, ts) =>
        val next = apply(spark, store, op)
        val vocab = g +: ts.flatMap(t => Seq(t._1, t._2, t._3))
        val rows = encodeCols(store, next.dict,
            d4(g, ts, del = false).drop("g"), Seq("s", "o"))
          .select(gid(store, next.dict, g).as("g"),
            col("p"), col("s"), col("o"), col("del"))
        (next, TripleStore.OpDelta(None, Some(rows), structural = false,
          dictRows = dictDeltaOf(spark, store, vocab)))
      case DeleteDataGraph(g, ts) =>
        val rows = encodeCols(store, store.dict,
            d4(g, ts, del = true).drop("g"), Seq("s", "o"))
          .select(gid(store, store.dict, g).as("g"),
            col("p"), col("s"), col("o"), col("del"))
        (apply(spark, store, op),
          TripleStore.OpDelta(None, Some(rows), structural = false))
      case DeleteWhere(pats) =>
        val vars = pats.flatMap(tp => Seq(tp.s, tp.o))
          .collect { case Sparql.Var(n) => n }.distinct
        applyModify(spark, store, pats, Nil,
          Sparql.BgpQuery(select = vars, patterns = pats))
      case Modify(del, ins, where, delQ, insQ, withG) =>
        applyModify(spark, store, del, ins, where, delQ, insQ, withG)
      case CreateGraph(_, _) =>
        // no-op on stores without empty-graph bookkeeping: no delta
        (apply(spark, store, op),
          TripleStore.OpDelta(None, None, structural = false))
      case _ =>
        (apply(spark, store, op),
          TripleStore.OpDelta(None, None, structural = true))
    }
  }

  def apply(spark: SparkSession, store: TripleStore,
      op: UpdateOp): TripleStore = {
    import spark.implicits._
    // store-form (s, o) rows: lexical on the string store, encoded via
    // [[encodeCols]] on the encoded store — the xxhash64 expression on
    // hash-id stores, a value→id join against `dict` on sequential
    // stores (dense ids are counters, not value functions — only the
    // dictionary maps them; insert paths grow the dict FIRST so every
    // new term has an id, delete paths encode against the standing
    // dict, where a missing term drops from the batch and the delete
    // is the spec's no-op)
    def pairs(ts: Seq[(String, String, String)], p: String,
        dict: Option[DataFrame]): DataFrame =
      encodeCols(store, dict,
        ts.filter(_._2 == p).map(t => (t._1, t._3)).toDF("s", "o"),
        Seq("s", "o"))
    op match {
      case InsertData(ts) =>
        // the dict vocabulary includes PREDICATE names, mirroring
        // TripleStore.encode's predNames union: a variable at the p
        // position decodes through the dict (unionView emits the
        // predicate's id), so an inserted predicate without a dict row
        // would silently decode to NULL. Grown BEFORE the slices
        // encode — on the sequential store the new terms' dense ids
        // exist only in the grown dict.
        val dict = store.dict.map(d =>
          growDict(spark, store, d,
            ts.flatMap(t => Seq(t._1, t._2, t._3)).distinct))
        val slices = ts.map(_._2).distinct.foldLeft(store.slices) {
          (sl, p) =>
            val add = pairs(ts, p, dict)
            sl.updated(p,
              sl.get(p).map(_.unionByName(add)).getOrElse(add).distinct())
        }
        store.copy(slices = slices, dict = dict,
          sBucketed = None, oBucketed = None)

      case DeleteData(ts) =>
        val slices = ts.map(_._2).distinct.foldLeft(store.slices) {
          (sl, p) =>
            sl.get(p) match {
              case None => sl // deleting from an absent graph: no-op
              case Some(df) => sl.updated(p,
                df.join(GuardedBroadcast.maybe(pairs(ts, p, store.dict)),
                  Seq("s", "o"), "left_anti"))
            }
        }
        store.copy(slices = slices, sBucketed = None, oBucketed = None)

      // DELETE WHERE is §3.1.3's Modify with the pattern group serving
      // as both the match and the (only) template
      case DeleteWhere(pats) =>
        val vars = pats.flatMap(tp => Seq(tp.s, tp.o))
          .collect { case Sparql.Var(n) => n }.distinct
        applyModify(spark, store, pats, Nil,
          Sparql.BgpQuery(select = vars, patterns = pats))._1

      case Modify(del, ins, where, delQ, insQ, withG) =>
        applyModify(spark, store, del, ins, where, delQ, insQ, withG)._1

      case InsertDataGraph(g, ts) =>
        // dict grows first: on the sequential store both the quad terms
        // AND the graph name need dense ids before anything encodes
        val dict = store.dict.map(d => growDict(spark, store, d,
          (ts.flatMap(t => Seq(t._1, t._2, t._3)) :+ g).distinct))
        val rows = encodeCols(store, dict, ts.toDF("s", "p", "o"),
          Seq("s", "o"))
        val asQuads = rows.select(gid(store, dict, g).as("g"),
          $"s", $"p", $"o")
        val quads = store.quads match {
          case Some(q) => q.unionByName(asQuads).distinct()
          case None => asQuads.distinct()
        }
        store.copy(quads = Some(quads), dict = dict)

      case DeleteDataGraph(g, ts) =>
        store.quads match {
          case None => store // no named graphs at all: no-op (§3.1.2)
          case Some(q) =>
            val rows = encodeCols(store, store.dict,
              ts.toDF("s", "p", "o"), Seq("s", "o"))
            val del = rows.select(gid(store, store.dict, g).as("g"),
              $"s", $"p", $"o")
            store.copy(quads = Some(q.join(GuardedBroadcast.maybe(del),
              Seq("g", "s", "p", "o"), "left_anti")))
        }

      case CreateGraph(g, silent) =>
        // no empty-graph bookkeeping (§3.2.2 lets such stores treat
        // CREATE as a no-op) — but the spec's already-exists conflict
        // still fails loudly in the non-SILENT form
        if (!silent && graphExists(store, g))
          throw new IllegalStateException(
            s"CREATE GRAPH <$g>: graph already exists (CREATE SILENT " +
              "to ignore)")
        store

      case DropGraph(None, _) =>
        // DROP DEFAULT ≡ CLEAR DEFAULT on a store without empty-graph
        // bookkeeping: the default graph always "exists"
        apply(spark, store, ClearDefault)

      case DropGraph(Some(g), silent) =>
        if (!silent && !graphExists(store, g))
          throw new IllegalStateException(
            s"DROP GRAPH <$g>: no such graph (DROP SILENT to ignore)")
        store.copy(quads =
          store.quads.map(_.filter(col("g") =!= gid(store, store.dict, g))))

      case ClearDefault =>
        // empty every slice but keep schemas — a cleared store still
        // answers queries (with zero rows); derived layouts drop like
        // on any mutation
        store.copy(slices = store.slices.map { case (p, df) =>
          p -> df.limit(0)
        }, sBucketed = None, oBucketed = None)

      case ClearGraph(g) =>
        store.copy(quads = Some(namedGraphs(store, "CLEAR GRAPH")
          .filter(col("g") =!= gid(store, store.dict, g))))

      case GraphOp(_, from, to) if from == to => store // same graph: no-op

      case GraphOp(op, Some(from), Some(to)) =>
        val quads = namedGraphs(store, s"$op GRAPH")
        // a graph op can mint a NEW graph NAME (`to`): on the encoded
        // store it must decode, so the dict grows by that one term —
        // FIRST, so the sequential store's dense id exists to label
        // the relabeled quads with
        val dict = store.dict.map(d => growDict(spark, store, d, Seq(to)))
        val relabeled = quads.filter(col("g") === gid(store, store.dict, from))
          .withColumn("g", gid(store, dict, to))
        val newQuads = op match {
          // ADD unions (set semantics); COPY replaces the target's
          // content; MOVE additionally drops the source (§3.2.5)
          case "ADD" => quads.unionByName(relabeled).distinct()
          case "COPY" =>
            quads.filter(col("g") =!= gid(store, dict, to))
              .unionByName(relabeled)
          case "MOVE" =>
            quads.filter(col("g") =!= gid(store, dict, to) &&
              col("g") =!= gid(store, store.dict, from)).unionByName(relabeled)
          case other => throw new IllegalArgumentException(other)
        }
        store.copy(quads = Some(newQuads), dict = dict)

      case GraphOp(op, Some(from), None) =>
        // named graph → DEFAULT: the graph's quads become slices. The
        // predicate inventory of ONE graph is schema-sized — the same
        // bounded collect the vertical partitioning always makes
        val src = namedGraphs(store, s"$op GRAPH")
          .filter(col("g") === gid(store, store.dict, from))
          .select(col("s"), col("p"), col("o"))
        val preds = src.select(col("p")).distinct()
          .limit(TripleStore.MaxPredicates + 1).collect().map(_.getString(0))
        require(preds.length <= TripleStore.MaxPredicates,
          s"graph <$from> exceeds ${TripleStore.MaxPredicates} predicates")
        val srcSlices = preds.map(p =>
          p -> src.filter(col("p") === p).select(col("s"), col("o"))).toMap
        val slices = op match {
          // COPY/MOVE REPLACE the default graph's content (§3.2.5); an
          // EMPTY/absent source keeps the standing slice keys at zero
          // rows (the ClearDefault shape) — replacing with an empty map
          // would leave a store no planner call can touch
          case "COPY" | "MOVE" if srcSlices.isEmpty =>
            store.slices.map { case (p, df) => p -> df.limit(0) }
          case "COPY" | "MOVE" => srcSlices
          case "ADD" => srcSlices.foldLeft(store.slices) {
            case (sl, (p, df)) => sl.updated(p,
              sl.get(p).map(_.unionByName(df)).getOrElse(df).distinct())
          }
          case other => throw new IllegalArgumentException(other)
        }
        val quads =
          if (op == "MOVE")
            store.quads.map(_.filter(col("g") =!= gid(store, store.dict, from)))
          else store.quads
        store.copy(slices = slices, quads = quads,
          sBucketed = None, oBucketed = None)

      case GraphOp(op, None, Some(to)) =>
        // DEFAULT → named graph: the slices become quads labeled `to`
        // (p stays the lexical slice key — quads keep string
        // predicates by contract). The dict grows by the (possibly new)
        // graph name first so its id exists on the sequential store.
        val dict = store.dict.map(d => growDict(spark, store, d, Seq(to)))
        val src = store.slices.toSeq.sortBy(_._1).map { case (p, df) =>
          df.select(gid(store, dict, to).as("g"), col("s"),
            lit(p).as("p"), col("o"))
        }.reduce(_ unionByName _)
        val base = store.quads.getOrElse(src.limit(0))
        val newQuads = op match {
          case "ADD" => base.unionByName(src).distinct()
          case "COPY" | "MOVE" =>
            base.filter(col("g") =!= gid(store, dict, to)).unionByName(src)
          case other => throw new IllegalArgumentException(other)
        }
        val cleared =
          if (op == "MOVE")
            store.slices.map { case (p, df) => p -> df.limit(0) }
          else store.slices
        store.copy(slices = cleared, quads = Some(newQuads), dict = dict,
          sBucketed = if (op == "MOVE") None else store.sBucketed,
          oBucketed = if (op == "MOVE") None else store.oBucketed)

      case Load(path, g) =>
        import spark.implicits._
        val triples = graft.sources.RdfIO.ntriplesDF(spark, path)
        // dict first (data-sized growth, never collected), then the
        // loaded triples encode against it
        val dict = store.dict.map { d =>
          val vocab = triples.select(col("s").as("value"))
            .unionByName(triples.select(col("o").as("value")))
            // loaded predicate names too (encode's predNames rule)
            .unionByName(triples.select(col("p").as("value")))
            .unionByName(Seq(g).toDF("value"))
            .distinct()
          growDictDf(spark, store, d, vocab)._1
        }
        val enc = encodeCols(store, dict, triples, Seq("s", "o"))
        val asQuads = enc.select(gid(store, dict, g).as("g"),
          col("s"), col("p"), col("o"))
        val quads = store.quads match {
          case Some(q) => q.unionByName(asQuads).distinct()
          case None => asQuads.distinct() // first named graph of the store
        }
        store.copy(quads = Some(quads), dict = dict)
    }
  }

  /** Graph name in store form: lexical on string stores, xxhash64 on
    * hash-id stores, ONE bounded dict probe on sequential stores (the
    * given `dict` — callers minting new names pass the GROWN dict so
    * the fresh id resolves; an absent name probes to id 0, which no
    * dense id ever equals, so filters correctly match nothing).
    */
  private def gid(store: TripleStore, dict: Option[DataFrame],
      g: String): Column =
    if (!store.encoded) lit(g)
    else if (!store.sequential) xxhash64(lit(g))
    else {
      val r = dict.get.filter(col("value") === g).select(col("id")).take(1)
      lit(if (r.isEmpty) 0L else r.head.getLong(0))
    }

  /** Encode the lexical columns `cols` of `df` into store form: the
    * xxhash64 expression on hash-id stores; a value→id join against
    * `dict` per column on sequential stores (INNER — a term absent
    * from the dict drops from the batch, which is exactly right for
    * both arms that reach here: insert paths grew the dict first so
    * nothing is absent, and a delete of a never-seen term is the
    * spec's no-op).
    */
  private def encodeCols(store: TripleStore, dict: Option[DataFrame],
      df: DataFrame, cols: Seq[String]): DataFrame =
    if (!store.encoded) df
    else if (!store.sequential)
      df.select(df.columns.toIndexedSeq.map(c =>
        if (cols.contains(c)) xxhash64(col(c)).as(c) else col(c)): _*)
    else {
      val d = dict.get
      cols.foldLeft(df) { (acc, v) =>
        acc.join(d.select(col("value").as(s"__val_$v"),
            col("id").as(s"__nid_$v")),
          acc(v) === col(s"__val_$v"), "inner")
          .drop(v, s"__val_$v")
          .withColumnRenamed(s"__nid_$v", v)
      }.select(df.columns.map(col).toIndexedSeq: _*)
    }

  private def namedGraphs(store: TripleStore, what: String): DataFrame =
    store.quads.getOrElse(throw new IllegalArgumentException(
      s"$what needs a store with named graphs (quads)"))

  /** A graph exists iff it holds ≥1 quad (no empty-graph bookkeeping,
    * §3.2.2) — a limit-1 probe, never a count.
    */
  private def graphExists(store: TripleStore, g: String): Boolean =
    store.quads.exists(q =>
      !q.filter(col("g") === gid(store, store.dict, g)).isEmpty)

  /** The WHERE dataset of a WITH/USING clause: a slices view over the
    * union ("RDF merge" — per-slice distinct) of the named graphs
    * `gs`, carrying the store's dict so encoded evaluation and the
    * result-edge decode work unchanged. Predicate inventory rides
    * TripleStore.fromTriples' bounded distinct-collect (schema-sized
    * by the MaxPredicates contract).
    */
  private def scopedStore(store: TripleStore, gs: Seq[String]): TripleStore = {
    val quads = namedGraphs(store, "WITH/USING")
    val sel = gs.map(g => col("g") === gid(store, store.dict, g))
      .reduce(_ || _)
    TripleStore.fromTriples(
      quads.filter(sel).select(col("s"), col("p"), col("o")))
      // the id REGIME rides along — dropping `sequential` here would
      // make the planner hash constants against dense ids
      .copy(dict = store.dict, sequential = store.sequential)
  }

  /** Shared §3.1.3 evaluation: `where` binds once against the ORIGINAL
    * store; the delete template applies first (per-slice anti-join),
    * then the insert template (per-slice union-distinct — new
    * predicates create new slices). The planner DECODES bindings to
    * lexical values at its result edge, so on the encoded store the
    * templates re-derive ids by hashing them — the same value→id
    * shortcut constants use; insert-template CONSTANTS may be new
    * vocabulary and grow the dict (audited), while var bindings came
    * from the store and are already in it.
    *
    * One decision picks where the templates are built. A solution that
    * fits `spark.sql.autoBroadcastJoinThreshold` is collected once
    * ([[GuardedBroadcast.collectBounded]]) and the delete rows, insert
    * rows and the op's delta are instantiated on the driver, each a
    * deduplicated `LocalRelation` — so the guard, the write-back's
    * collect and its batch write run no job, and a served DELETE/INSERT
    * WHERE runs only its WHERE's jobs. A larger solution, broadcasting
    * disabled, or a sequential store (its encoding joins the dict) is
    * instantiated distributed from one lazy `localCheckpoint` of the
    * solution. The slice and quad rewrites are the same for both.
    */
  private def applyModify(
      spark: SparkSession,
      store: TripleStore,
      delTmpl: Seq[Sparql.TriplePattern],
      insTmpl: Seq[Sparql.TriplePattern],
      where: Sparql.BgpQuery,
      delQuadTmpl: Seq[(String, Sparql.TriplePattern)] = Nil,
      insQuadTmpl: Seq[(String, Sparql.TriplePattern)] = Nil,
      withGraph: Option[String] = None)
      : (TripleStore, TripleStore.OpDelta) = {
    import spark.implicits._
    (delTmpl ++ insTmpl ++ (delQuadTmpl ++ insQuadTmpl).map(_._2))
      .foreach(tp =>
        require(tp.p.isInstanceOf[Sparql.Const],
          "update templates support constant predicates (the slice " +
            s"dispatch key); got ${tp.p}"))
    require(where.select.nonEmpty,
      "variable-free updates use INSERT DATA / DELETE DATA")
    // WITH (no USING): the WHERE's DEFAULT graph becomes the named
    // graph's content while named graphs stay visible — unlike USING,
    // whose exact-dataset semantics ride the where-query's own
    // fromGraphs/fromNamed through the planner (§3.1.3 ≡ §13.2)
    val whereStore = withGraph match {
      case Some(g) => scopedStore(store, Seq(g)).copy(quads = store.quads)
      case None => store
    }
    // ——— the one decision point: where the template relations are built ———
    // A WHERE solution within the broadcast budget is collected ONCE, in
    // lexical form (GuardedBroadcast.collectBounded — its jobs are the
    // WHERE's own), and the delete-template rows, the insert-template
    // rows and the op's delta are instantiated from it on the driver,
    // each deduplicated there and each one LocalRelation: the guard
    // measures them and the write-back collects and writes them with no
    // job. A solution over the budget, broadcasting disabled, or a
    // sequential store (whose encoding is a join against the dict) takes
    // the distributed path instead: the solution feeds the vocab growth,
    // both templates and every rewritten slice, so one op-sized
    // localCheckpoint (lazy) computes it once rather than each of them
    // re-running the pattern-join plan. The rewrites below the decision
    // are one code path.
    val planned = BgpPlanner.plan(whereStore, where)
    val cols = planned.columns.toIndexedSeq
    val held: Option[Seq[Row]] = {
      val thr = GuardedBroadcast.threshold(spark)
      val lexical = planned.select(cols.map(c => col(c).cast("string").as(c)): _*)
      if (store.sequential || thr <= 0) None
      else GuardedBroadcast.rowBytes(lexical.schema)
        .flatMap(GuardedBroadcast.collectBounded(lexical, _, thr))
        .map(_.map(_._1))
    }
    lazy val bind = planned.localCheckpoint(eager = false)
    // a template term: Left(var name) or Right(constant)
    def plain(t: Sparql.Term): Either[String, String] = t match {
      case Sparql.Var(n) => Left(n)
      case Sparql.Const(v) => Right(v)
      case other => throw new IllegalArgumentException(
        s"update templates are plain triples; got $other")
    }
    // ——— dict growth happens BEFORE instantiation so the sequential
    // store's dense ids exist to encode the insert templates with ———
    // Insert-template CONSTANTS may be new vocabulary; insert-template
    // VARIABLES may be bound to COMPUTED lexical values (BIND aliases,
    // VALUES rows, SERVICE bindings — the full query grammar reaches
    // them all): both must grow the dict, or read-back decodes the
    // inserted terms to NULL. Store-held bindings are already in the
    // dict and cost one probe in growDictDf's delta-scoped audit; only
    // genuinely new values append.
    val newVocab =
      insTmpl.flatMap(tp => Seq(tp.s, tp.p, tp.o))
        .collect { case Sparql.Const(v) => v } ++
        insQuadTmpl.flatMap { case (g, tp) =>
          g +: Seq(tp.s, tp.p, tp.o).collect { case Sparql.Const(v) => v }
        }
    val insVarCols = (insTmpl ++ insQuadTmpl.map(_._2))
      .flatMap(tp => Seq(tp.s, tp.o))
      .collect { case Sparql.Var(n) => n }.distinct
    val grown0 =
      if (insVarCols.isEmpty) None
      else store.dict.map { d =>
        val vocab = held match {
          case Some(rows) => insVarCols.map(cols.indexOf)
            .flatMap(i => rows.map(_.getString(i))).filter(_ != null)
            .distinct.toDF("value")
          case None => insVarCols.map(v => bind.select(col(v).as("value")))
            .reduce(_ unionByName _).na.drop().distinct()
        }
        growDictDfCounted(spark, store, d, vocab)
      }
    val dict0 = grown0.map(_._1).orElse(store.dict)
    val grown1 =
      if (newVocab.isEmpty) None
      else dict0.map { d =>
        growDictDfCounted(spark, store, d, newVocab.distinct.toDF("value"))
      }
    val dict = grown1.map(_._1).orElse(dict0)
    // this op's dict growth, for delta-grain persistence (empty deltas
    // dropped — an op inserting only known terms appends no dict
    // batch). Emptiness comes from the growth audits' own counts (r15)
    // instead of an extra isEmpty action over the delta plans.
    val dictNew = (grown0.toSeq ++ grown1.toSeq)
      .collect { case (_, delta, n) if n > 0 => delta }
      .reduceOption(_ unionByName _)
    // templates instantiate LEXICALLY (bind's columns are decoded
    // values), then encode into store form in one step: the xxhash64
    // expression on hash-id stores, a value→id join on sequential
    // stores — inserts against the GROWN dict (every term resolves),
    // deletes against the STANDING dict (a never-seen term drops from
    // the batch: deleting it is the spec's no-op anyway). The op's
    // row-grain delta is the SAME instantiated template rows with
    // tombstone flags — no extra store scan (TripleStore.writeBackDelta
    // persistence). GRAPH-scoped templates instantiate (g, s, p, o)
    // rows for the quads relation.
    def dflt(tmpl: Seq[Sparql.TriplePattern]) = tmpl.map("" -> _)
    val (delRows, insRows, quadDel, quadIns, deltaDefault, deltaQuads) =
      held match {
        case Some(rows) =>
          // the distinct lexical (g, s, p, o) rows `tmpl` instantiates; a
          // solution leaving a var of a template triple UNBOUND (an
          // OPTIONAL miss) instantiates nothing for that triple (§3.1.3)
          def instantiated(tmpl: Seq[(String, Sparql.TriplePattern)])
              : Seq[(String, String, String, String)] =
            tmpl.flatMap { case (g, tp) =>
              rows.flatMap { r =>
                def term(t: Sparql.Term): Option[String] =
                  plain(t).fold(n => Option(r.getString(cols.indexOf(n))), Some(_))
                for (s <- term(tp.s); o <- term(tp.o)) yield (g, s, constOf(tp.p), o)
              }
            }.distinct
          // the store is string or hash-id: encoding is a projection,
          // which keeps each relation a LocalRelation
          val del = instantiated(dflt(delTmpl)).map(t => (t._2, t._3, t._4))
          val ins = instantiated(dflt(insTmpl)).map(t => (t._2, t._3, t._4))
          val qDel = instantiated(delQuadTmpl)
          val qIns = instantiated(insQuadTmpl)
          def enc(df: DataFrame, encCols: String*) =
            encodeCols(store, dict, df, encCols)
          (Option.when(delTmpl.nonEmpty)(enc(del.toDF("s", "p", "o"), "s", "o")),
            Option.when(insTmpl.nonEmpty)(enc(ins.toDF("s", "p", "o"), "s", "o")),
            Option.when(delQuadTmpl.nonEmpty)(
              enc(qDel.toDF("g", "s", "p", "o"), "g", "s", "o")),
            Option.when(insQuadTmpl.nonEmpty)(
              enc(qIns.toDF("g", "s", "p", "o"), "g", "s", "o")),
            Option.when(delTmpl.nonEmpty || insTmpl.nonEmpty)(enc(
              (del.map { case (s, p, o) => (p, s, o, true) } ++
                ins.map { case (s, p, o) => (p, s, o, false) })
                .toDF("p", "s", "o", "del"), "s", "o")),
            Option.when(delQuadTmpl.nonEmpty || insQuadTmpl.nonEmpty)(enc(
              (qDel.map { case (g, s, p, o) => (g, p, s, o, true) } ++
                qIns.map { case (g, s, p, o) => (g, p, s, o, false) })
                .toDF("g", "p", "s", "o", "del"), "g", "s", "o")))
        case None =>
          // the same unbound-var rule, filtered per template triple
          def ground(tp: Sparql.TriplePattern): DataFrame =
            Seq(tp.s, tp.o).collect { case Sparql.Var(n) => n }
              .foldLeft(bind)((d, n) => d.filter(col(n).isNotNull))
          def c(t: Sparql.Term): Column = plain(t).fold(col, lit)
          def instantiate(tmpl: Seq[Sparql.TriplePattern],
              encDict: Option[DataFrame]): Option[DataFrame] =
            Option.when(tmpl.nonEmpty)(encodeCols(store, encDict,
              tmpl.map(tp => ground(tp).select(c(tp.s).as("s"),
                lit(constOf(tp.p)).as("p"), c(tp.o).as("o")))
                .reduce(_ unionByName _), Seq("s", "o")).distinct())
          def instantiateQuads(tmpl: Seq[(String, Sparql.TriplePattern)],
              encDict: Option[DataFrame]): Option[DataFrame] =
            Option.when(tmpl.nonEmpty)(tmpl.map { case (g, tp) =>
              encodeCols(store, encDict,
                ground(tp).select(c(tp.s).as("s"),
                  lit(constOf(tp.p)).as("p"), c(tp.o).as("o")), Seq("s", "o"))
                .select(gid(store, encDict, g).as("g"), $"s", $"p", $"o")
            }.reduce(_ unionByName _).distinct())
          def flagged(del: Option[DataFrame], ins: Option[DataFrame],
              keys: Seq[String]): Option[DataFrame] =
            (del.map(_.select(keys.map(col) :+ lit(true).as("del"): _*)).toSeq ++
              ins.map(_.select(keys.map(col) :+ lit(false).as("del"): _*)).toSeq)
              .reduceOption(_ unionByName _)
          val (d, i) = (instantiate(delTmpl, store.dict), instantiate(insTmpl, dict))
          val (qd, qi) = (instantiateQuads(delQuadTmpl, store.dict),
            instantiateQuads(insQuadTmpl, dict))
          (d, i, qd, qi, flagged(d, i, Seq("p", "s", "o")),
            flagged(qd, qi, Seq("g", "p", "s", "o")))
      }
    var slices = store.slices
    delRows.foreach { del =>
      val touched = delTmpl.map(tp => constOf(tp.p)).toSet
      slices = slices.map {
        case (p, df) if touched(p) => p ->
          df.join(GuardedBroadcast.maybe(
            del.filter($"p" === p).select($"s", $"o")),
            Seq("s", "o"), "left_anti")
        case kv => kv
      }
    }
    insRows.foreach { insAll =>
      insTmpl.map(tp => constOf(tp.p)).distinct.foreach { p =>
        val add = insAll.filter($"p" === p).select($"s", $"o")
        slices = slices.updated(p,
          slices.get(p).map(_.unionByName(add)).getOrElse(add).distinct())
      }
    }
    // quad-grain: deletes anti-join on the full (g, s, p, o), inserts
    // union with set semantics — same apply shapes as the slice path
    var quads = store.quads
    quadDel.foreach { del =>
      quads = quads.map(_.join(GuardedBroadcast.maybe(del),
        Seq("g", "s", "p", "o"), "left_anti"))
    }
    quadIns.foreach { ins =>
      quads = Some(quads match {
        case Some(q) => q.unionByName(ins).distinct()
        case None => ins
      })
    }
    (store.copy(slices = slices, dict = dict, quads = quads,
      // the s-bucketed secondary derives from the default graph only —
      // keep them when this op touched nothing but named graphs
      sBucketed =
        if (delTmpl.isEmpty && insTmpl.isEmpty) store.sBucketed else None,
      oBucketed =
        if (delTmpl.isEmpty && insTmpl.isEmpty) store.oBucketed else None),
      TripleStore.OpDelta(deltaDefault, deltaQuads, structural = false,
        dictRows = dictNew))
  }

  /** Append `values`' (id, value, dt, lang) rows to the dict and re-run
    * the store-build collision audit over the grown vocabulary: an
    * insert must not silently alias two terms (TripleStore.encode
    * scaladoc).
    */
  private def growDict(spark: SparkSession, store: TripleStore,
      d: DataFrame, values: Seq[String]): DataFrame = {
    import spark.implicits._
    growDictDf(spark, store, d, values.toDF("value"))._1
  }

  /** [[growDict]] over a DataFrame vocabulary (a LOAD's term set is
    * data-sized and never collects to the driver).
    *
    * The collision audit is DELTA-SCOPED (r7 advice: a high-frequency
    * update stream must pay O(batch), not O(vocabulary), per op — the
    * q162/q202 incremental discipline): the batch left-joins the
    * standing dict on id once (AQE broadcasts the batch side), a
    * value mismatch against a standing row OR between two batch terms
    * fails loudly exactly like the build-time audit, and only
    * genuinely NEW ids append. Terms already in the dict cost one
    * probe, never a vocabulary-wide groupBy.
    */
  private def growDictDf(spark: SparkSession, store: TripleStore,
      d: DataFrame, values: DataFrame): (DataFrame, DataFrame) =
    growDictDfCounted(spark, store, d, values) match {
      case (grown, delta, _) => (grown, delta)
    }

  /** [[growDictDf]] plus the delta row count (from the audit's own
    * aggregate — callers use it instead of paying an `isEmpty` action
    * on the delta plan).
    */
  private def growDictDfCounted(spark: SparkSession, store: TripleStore,
      d: DataFrame, values: DataFrame): (DataFrame, DataFrame, Long) = {
    // sequential stores: dense-id continuation past max(id) via the
    // banded prefix sum — collision-free by construction, no audit;
    // standing terms keep their ids through the anti-join probe.
    // Returns (grown dict, just-the-new rows): the delta is what the
    // write-back appends as a dict batch (TripleStore.OpDelta.dictRows)
    val (delta, n) =
      if (store.sequential) TripleStore.sequentialDictDeltaCounted(d, values)
      else TripleStore.hashDictDeltaCounted(d, values)
    (d.unionByName(delta), delta, n)
  }

  /** The dict rows a ground op's vocabulary adds to the standing dict
    * (None on string stores) — deterministic (same probe + id
    * assignment the apply itself runs), so the captured delta and the
    * applied store agree on every id. Empty when nothing is new.
    */
  private def dictDeltaOf(spark: SparkSession, store: TripleStore,
      vocab: Seq[String]): Option[DataFrame] = {
    import spark.implicits._
    store.dict.map { d =>
      if (store.sequential)
        TripleStore.sequentialDictDeltaCounted(d, vocab.distinct.toDF("value"))
      else TripleStore.hashDictDeltaCounted(d, vocab.distinct.toDF("value"))
    }.collect { case (delta, n) if n > 0 => delta }
  }

  // ——— parsing helpers ———

  /** Split on top-level `;` only — depth-aware over `{}` and quotes. */
  private def splitOps(text: String): Seq[String] = splitTop(text, ';')

  /** One scanner for every update-text split: breaks on `sep` at brace
    * depth 0, outside double-quoted literals (backslash escapes
    * honored — `"a\";b"` is one literal), and outside `<...>` IRIs
    * (an IRI may contain `.` or `;`). A `.` separator additionally
    * must stand alone (whitespace or an end on both sides) so bare
    * numeric tokens like `3.14` are never split — the same contract
    * the old `\s+\.\s+` regex enforced, now quote-aware.
    */
  private def splitTop(text: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    var inAngle = false
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      if (inQuote) {
        if (ch == '\\' && i + 1 < text.length) {
          cur += ch; cur += text.charAt(i + 1); i += 2
        } else {
          if (ch == '"') inQuote = false
          cur += ch; i += 1
        }
      } else {
        var consumed = false
        if (ch == sep && depth == 0 && !inAngle &&
            (sep != '.' ||
              ((i == 0 || text.charAt(i - 1).isWhitespace) &&
                (i + 1 == text.length || text.charAt(i + 1).isWhitespace)))) {
          out += cur.toString; cur.clear(); consumed = true
        } else ch match {
          case '"' => inQuote = true
          case '<' if Sparql.isIriOpen(text, i) => inAngle = true
          case '>' => inAngle = false
          case '{' if !inAngle => depth += 1
          case '}' if !inAngle => depth -= 1
          case _ => ()
        }
        if (!consumed) cur += ch
        i += 1
      }
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Ground (variable-free) triples of a DATA block, in the same
    * canonical term spellings the pattern parser produces.
    */
  private def groundTriples(body: String): Seq[(String, String, String)] =
    triplesOf(body).map { toks =>
      (groundTerm(toks(0)), groundTerm(toks(1)), groundTerm(toks(2)))
    }

  private def patternsOf(body: String): Seq[Sparql.TriplePattern] =
    triplesOf(body).map { toks =>
      def t(tok: String): Sparql.Term =
        if (tok.startsWith("?")) Sparql.Var(tok.drop(1))
        else Sparql.Const(groundTerm(tok))
      Sparql.TriplePattern(t(toks(0)), t(toks(1)), t(toks(2)))
    }

  private def triplesOf(body: String): Seq[Seq[String]] =
    splitTop(body, '.').filter(_ != ".")
      .map { line =>
        val toks = Sparql.termTokenRe.findAllIn(line).toSeq
        require(toks.length == 3,
          s"a triple needs exactly 3 terms, got '${line}'")
        toks
      }

  /** Canonical ground term: `<uri>` strips brackets, literals take the
    * same RDF 1.1 canonical spellings as query constants (typed via
    * canonTyped, tagged via canonLang, plain quotes stripped); bare
    * tokens pass through. Variables are illegal in ground positions.
    */
  private def groundTerm(tok: String): String = {
    require(!tok.startsWith("?"),
      s"DATA blocks are ground — no variables: $tok")
    tok match {
      case Sparql.typedLitRe(lex, uri, curie) =>
        Sparql.canonTyped(lex, if (uri != null) uri else curie)
      case Sparql.langLitRe(lex, lang) => Sparql.canonLang(lex, lang)
      case t if t.startsWith("<") && t.endsWith(">") =>
        t.drop(1).dropRight(1)
      case t if t.startsWith("\"") && t.endsWith("\"") && t.length >= 2 =>
        Sparql.unescapeLit(t.drop(1).dropRight(1))
      case t => t
    }
  }

  private def constOf(t: Sparql.Term): String = t match {
    case Sparql.Const(v) => v
    case other => throw new IllegalArgumentException(
      s"expected a ground term, got $other")
  }
}
