package graft

import graft.bgp.{BgpPlanner, Sparql, TripleStore}
import graft.bgp.Sparql.{BgpQuery, Const, PathNeg, Term, TriplePattern, Var}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Randomized differential test: the Spark join-chain planner versus a
  * naive in-memory binding-enumeration evaluator, over random stores
  * and random pattern sets (seeded — deterministic across runs). This
  * is the oracle the reference never had: BGP semantics are small
  * enough to brute-force, so brute-force them.
  */
class BgpPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  /** Naive evaluator: enumerate all bindings pattern-by-pattern;
    * OPTIONAL keeps the env when the block has no extension (unbound
    * SELECT vars project as null — SPARQL left-join semantics).
    */
  private def naive(triples: Seq[(String, String, String)],
      q: BgpQuery): Set[Seq[String]] = {
    def matches(t: (String, String, String), p: TriplePattern,
        env: Map[String, String]): Iterable[Map[String, String]] = {
      def unify(term: Term, v: String, e: Map[String, String]): Option[Map[String, String]] =
        term match {
          case Const(c) => if (c == v) Some(e) else None
          case Var(n) => e.get(n) match {
            case Some(bound) => if (bound == v) Some(e) else None
            case None => Some(e + (n -> v))
          }
        }
      p.p match {
        // mixed-direction NPS (§9.1): an arm exists only when it has
        // members; the set is the union of its arms
        case PathNeg(fwd, inv) =>
          def arm(sv: String, ov: String, excl: Seq[String]) =
            if (excl.contains(t._2)) None
            else for {
              e1 <- unify(p.s, sv, env)
              e2 <- unify(p.o, ov, e1)
            } yield e2
          (if (fwd.nonEmpty) arm(t._1, t._3, fwd) else None) ++
            (if (inv.nonEmpty) arm(t._3, t._1, inv) else None)
        case pp =>
          for {
            e1 <- unify(p.s, t._1, env)
            e2 <- unify(pp, t._2, e1)
            e3 <- unify(p.o, t._3, e2)
          } yield e3
      }
    }
    def expand(envs: Set[Map[String, String]],
        ps: Seq[TriplePattern]): Set[Map[String, String]] =
      ps.foldLeft(envs)((es, p) =>
        es.flatMap(env => triples.flatMap(t => matches(t, p, env))))

    def leafHolds(env: Map[String, String], f: Sparql.FilterExpr): Boolean = {
      if (f.op == "bound") return env.contains(f.variable)
      if (f.op == "!bound") return !env.contains(f.variable)
      val rhs = if (f.rhsVar) env.get(f.value) else Some(f.value)
      (env.get(f.variable), rhs) match {
        case (Some(v), Some(r)) => f.op match {
          case "=" => v == r
          case "!=" => v != r
          case ">" => v > r
          case ">=" => v >= r
          case "<" => v < r
          case "<=" => v <= r
          case "regex" => java.util.regex.Pattern.compile(r).matcher(v).find()
        }
        case _ => false
      }
    }
    def clausesHold(env: Map[String, String], fcs: Seq[Sparql.FilterClause]): Boolean =
      fcs.forall(fc => fc.disjuncts.exists(_.forall(leafHolds(env, _))))

    var envs = expand(Set(Map.empty[String, String]), q.patterns)
    // subqueries: evaluate recursively, project to the sub-SELECT, and
    // merge env-compatibly (natural join semantics)
    for (sq <- q.subqueries) {
      val cols = sq.select.distinct.sorted
      val subEnvs = naive(triples, sq)
        .map(row => cols.zip(row).filter(_._2 != null).toMap)
      envs = envs.flatMap(env => subEnvs.collect {
        case se if se.forall { case (k, v) => env.get(k).forall(_ == v) } =>
          env ++ se
      })
    }
    for ((group, gfs) <- q.unions.zip(
        q.unionFilters.padTo(q.unions.length, Nil)))
      envs = envs.flatMap(env =>
        group.zip(gfs.padTo(group.length, Nil)).flatMap { case (branch, fs) =>
          expand(Set(env), branch).filter(clausesHold(_, fs))
        })
    // scoped filters restrict the block's own solutions BEFORE the
    // keep-env-if-no-extension decision (SPARQL left-join semantics)
    for ((block, bfs) <- q.optionals.zip(
        q.optionalFilters.padTo(q.optionals.length, Nil)))
      envs = envs.flatMap { env =>
        val ext = expand(Set(env), block).filter(clausesHold(_, bfs))
        if (ext.nonEmpty) ext else Set(env)
      }
    for ((block, bfs) <- q.minuses.zip(
        q.minusFilters.padTo(q.minuses.length, Nil))) {
      val blockVars = block.flatMap(_.vars).toSet
      envs = envs.filter { env =>
        // dom-disjoint MINUS removes nothing; else drop env if any
        // (scope-filtered) block solution agrees on the shared vars
        if (env.keySet.intersect(blockVars).isEmpty) true
        else expand(Set(env), block).filter(clausesHold(_, bfs)).isEmpty
      }
    }
    // EXISTS keeps envs whose block extension is non-empty; NOT EXISTS
    // the complement. No dom-disjoint exemption (unlike MINUS).
    for ((negated, block) <- q.existsFilters)
      envs = envs.filter(env => expand(Set(env), block).nonEmpty != negated)
    // BINDs evaluate in sequence before the top-level filters (string
    // forms only — concat/coalesce/literals; the numeric forms aren't
    // differential-comparable through the string projection)
    def evalBind(env: Map[String, String], e: Sparql.BindExpr): Option[String] =
      e match {
        case Sparql.BVar(n) => env.get(n)
        case Sparql.BLit(v, _) => Some(v)
        case Sparql.BConcat(args) =>
          val vs = args.map(evalBind(env, _))
          if (vs.forall(_.isDefined)) Some(vs.flatten.mkString) else None
        case Sparql.BCoalesce(args) =>
          args.iterator.map(evalBind(env, _)).collectFirst { case Some(v) => v }
        case other => throw new IllegalArgumentException(
          s"naive evaluator supports string BINDs only, got $other")
      }
    for (b <- q.binds)
      envs = envs.map(env => evalBind(env, b.expr)
        .map(v => env + (b.alias -> v)).getOrElse(env))
    envs = envs.filter(clausesHold(_, q.filters))
    envs.map(env => q.select.distinct.sorted.map(env.getOrElse(_, null)))
  }

  test("planner equals brute-force evaluation on 40 random stores/queries") {
    import spark.implicits._
    val rnd = new Random(20260812L)
    val ents = Vector("e0", "e1", "e2", "e3", "e4")
    val preds = Vector("p0", "p1", "p2")

    for (round <- 0 until 40) {
      val triples = Seq.fill(3 + rnd.nextInt(12))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val varNames = Vector("X", "Y", "Z")
      def randTerm(allowVar: Boolean): Term =
        if (allowVar && rnd.nextBoolean()) Var(varNames(rnd.nextInt(varNames.size)))
        else Const(
          if (rnd.nextBoolean()) ents(rnd.nextInt(ents.size))
          else preds(rnd.nextInt(preds.size)))
      val patterns = Seq.fill(1 + rnd.nextInt(3))(TriplePattern(
        randTerm(allowVar = true),
        // predicate: mostly constant (the realistic shape), sometimes var
        if (rnd.nextInt(4) == 0) Var(varNames(rnd.nextInt(varNames.size)))
        else Const(preds(rnd.nextInt(preds.size))),
        randTerm(allowVar = true)))
      val vars = patterns.flatMap(_.vars).distinct
      if (vars.nonEmpty) {
        val select = rnd.shuffle(vars).take(1 + rnd.nextInt(vars.size))
        val q = BgpQuery(select, patterns)

        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val got = BgpPlanner.plan(store, q).collect()
          .map(_.toSeq.map(_.asInstanceOf[String])).toSet
        val want = naive(triples, q)
        assert(got == want,
          s"round $round: patterns=$patterns select=$select store=$triples\n" +
            s"got ${got.size} rows, want ${want.size}")
      }
    }
  }

  test("dictionary-encoded path equals brute-force on 15 random stores/queries") {
    import spark.implicits._
    val rnd = new Random(777L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1")
    for (round <- 0 until 15) {
      val triples = Seq.fill(3 + rnd.nextInt(9))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val vars = Vector("X", "Y")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      val patterns = Seq.fill(1 + rnd.nextInt(2))(TriplePattern(
        pos(), Const(preds(rnd.nextInt(preds.size))), pos()))
      val qVars = patterns.flatMap(_.vars).distinct
      if (qVars.nonEmpty) {
        val q = BgpQuery(qVars, patterns)
        val enc = TripleStore.encode(TripleStore.fromTriples(triples.toDF("s", "p", "o")))
        val got = BgpPlanner.plan(enc, q).collect()
          .map(_.toSeq.map(_.asInstanceOf[String])).toSet
        val want = naive(triples, q)
        assert(got == want, s"round $round: $patterns over $triples")
      }
    }
  }

  test("SEQUENTIAL-dictionary path equals brute-force on 15 random stores/queries") {
    import spark.implicits._
    // the dense-id regime through the same randomized differential the
    // hash-id store passes: plan-time constant probes, per-band window
    // id assignment, and the decode edge must all be invisible in the
    // results — including constants ABSENT from the store (the id-0
    // probe miss), which the random Const() draws produce naturally
    val rnd = new Random(4242L)
    val ents = Vector("e0", "e1", "e2", "e3", "e4")
    val preds = Vector("p0", "p1")
    for (round <- 0 until 15) {
      val triples = Seq.fill(3 + rnd.nextInt(9))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val vars = Vector("X", "Y")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      val patterns = Seq.fill(1 + rnd.nextInt(2))(TriplePattern(
        pos(), Const(preds(rnd.nextInt(preds.size))), pos()))
      val qVars = patterns.flatMap(_.vars).distinct
      if (qVars.nonEmpty) {
        val q = BgpQuery(qVars, patterns)
        val seq = TripleStore.encodeSequential(
          TripleStore.fromTriples(triples.toDF("s", "p", "o")), bands = 4)
        val got = BgpPlanner.plan(seq, q).collect()
          .map(_.toSeq.map(_.asInstanceOf[String])).toSet
        val want = naive(triples, q)
        assert(got == want, s"round $round: $patterns over $triples")
      }
    }
  }

  test("sequential-store update scripts equal the string store (12 random scripts)") {
    import spark.implicits._
    import graft.bgp.SparqlUpdate
    // round 9: the dense-id store carries the full update surface.
    // Random op scripts (ground inserts/deletes incl. NEVER-SEEN terms,
    // DELETE WHERE, template Modify) apply to BOTH stores; results and
    // the dense-id invariant must agree — the string-store planner is
    // brute-force-verified above, so equality transitively verifies
    // the dict-join re-encode + banded id continuation.
    val rnd = new Random(9191L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1")
    for (round <- 0 until 12) {
      val triples = Seq.fill(4 + rnd.nextInt(8))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val plain0 = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
      val seq0 = TripleStore.encodeSequential(plain0, bands = 4)
      def ent(): String =
        if (rnd.nextInt(4) == 0) s"n${round}x${rnd.nextInt(3)}" // new term
        else ents(rnd.nextInt(ents.size))
      def p(): String = preds(rnd.nextInt(preds.size))
      val ops = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(4) match {
        case 0 => s"INSERT DATA { ${ent()} ${p()} ${ent()} }"
        case 1 => s"DELETE DATA { ${ent()} ${p()} ${ent()} }"
        case 2 => s"DELETE WHERE { ?x ${p()} ?y }"
        case 3 =>
          val (a, b) = (p(), p())
          s"DELETE { ?x $a ?y } INSERT { ?x $b ?y } WHERE { ?x $a ?y }"
      }).mkString(" ;\n")
      val a = SparqlUpdate.applyAll(spark, plain0, ops)
      val b = SparqlUpdate.applyAll(spark, seq0, ops)
      // full-store read-back through a variable-predicate pattern: the
      // union view's dense predicate ids and the edge decode both show
      val q = "select ?s ?p ?o where { ?s ?p ?o }"
      val want = BgpPlanner.query(a, q).collect().map(_.toSeq).toSet
      val got = BgpPlanner.query(b, q).collect().map(_.toSeq).toSet
      assert(got == want, s"round $round script:\n$ops")
      // dense invariant survives growth: distinct ids, contiguous 1..N
      val ids = b.dict.get.select("id").collect().map(_.getLong(0)).sorted
      assert(ids.head == 1L && ids.last == ids.length.toLong &&
        ids.distinct.length == ids.length, s"round $round ids not dense")
    }
  }

  test("encoded decode-on-demand equals the string store (30 random lexical features)") {
    import spark.implicits._
    // the string-store planner is brute-force-verified above, so
    // cross-store equality transitively verifies the encoded path's
    // targeted dict joins for ordering filters, regex, and BINDs
    val rnd = new Random(424242L)
    val ents = Vector("aa", "ab", "bb", "bc", "cd")
    val preds = Vector("p0", "p1")
    for (round <- 0 until 30) {
      val triples = Seq.fill(4 + rnd.nextInt(10))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val vars = Vector("X", "Y", "Z")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      val patterns = Seq.fill(1 + rnd.nextInt(2))(TriplePattern(
        pos(), Const(preds(rnd.nextInt(preds.size))), pos()))
      val qVars = patterns.flatMap(_.vars).distinct
      if (qVars.nonEmpty) {
        val v = qVars(rnd.nextInt(qVars.size))
        val (filters, binds) = rnd.nextInt(5) match {
          case 0 => (Seq(Sparql.FilterClause(Seq(Seq(Sparql.FilterExpr(
            v, Seq(">", "<", ">=", "<=")(rnd.nextInt(4)),
            ents(rnd.nextInt(ents.size)), numeric = false))))), Nil)
          case 1 => (Seq(Sparql.FilterClause(Seq(Seq(Sparql.FilterExpr(
            v, "regex", "[ab]b?", numeric = false))))), Nil)
          case 2 => (Seq(Sparql.FilterClause(Seq(Seq(Sparql.FilterExpr(
            v, "regex", "(?i)[AB]B?", numeric = false))))), Nil)
          case 3 => (Seq(Sparql.FilterClause(Seq(Seq(Sparql.FilterExpr(
            v, "strlen" + Seq(">", "<", "=", "!=")(rnd.nextInt(4)),
            (1 + rnd.nextInt(3)).toString, numeric = false))))), Nil)
          case _ => (Nil, Seq(Sparql.Bind("B", Sparql.BConcat(Seq(
            Sparql.BVar(v), Sparql.BLit("!", numeric = false))))))
        }
        val q = BgpQuery((qVars ++ binds.map(_.alias)).distinct, patterns,
          filters = filters, binds = binds)
        val str = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val enc = TripleStore.encode(str)
        def run(st: TripleStore): Seq[Seq[Any]] =
          BgpPlanner.plan(st, q).collect().map(_.toSeq).toSeq
            .sortBy(_.mkString("|"))
        val a = run(str)
        val b = run(enc)
        assert(a == b,
          s"round $round: $patterns filters=$filters binds=$binds over $triples\n$a\nvs\n$b")
      }
    }
  }

  test("VALUES tables equal across string and encoded stores (20 random)") {
    import spark.implicits._
    // bound columns restrict in id space, unbound columns bind
    // lexically — the two stores must agree exactly
    val rnd = new Random(31337L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1")
    for (round <- 0 until 20) {
      val triples = Seq.fill(4 + rnd.nextInt(8))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val pat = TriplePattern(Var("X"), Const(preds(rnd.nextInt(preds.size))),
        Var("Y"))
      // rows over a bound var (X) and a fresh var (T); some rows name
      // entities absent from the store
      val rows = Seq.fill(1 + rnd.nextInt(3))(Seq(
        if (rnd.nextBoolean()) ents(rnd.nextInt(ents.size)) else s"ghost$round",
        s"tag${rnd.nextInt(3)}"))
      val q = BgpQuery(Seq("X", "Y", "T"), Seq(pat),
        valuesTables = Seq((Seq("X", "T"), rows)))
      val str = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
      def run(st: TripleStore): Seq[Seq[Any]] =
        BgpPlanner.plan(st, q).collect().map(_.toSeq).toSeq
          .sortBy(_.mkString("|"))
      val a = run(str)
      val b = run(TripleStore.encode(str))
      assert(a == b, s"round $round: rows=$rows over $triples\n$a\nvs\n$b")
    }
  }

  test("single-var VALUES (isin + batched probes) equals a naive filter across all three encodings (20 random)") {
    import spark.implicits._
    // the IN-restriction fast path: random constant lists (with
    // absent-constant ghosts) must restrict exactly like a naive
    // driver-side filter, on the string store, the hash-id store, and
    // the SEQUENTIAL store (whose constants resolve through the
    // batched isin dict prime)
    val rnd = new Random(91212L)
    val ents = Vector("e0", "e1", "e2", "e3", "e4")
    val preds = Vector("p0", "p1")
    for (round <- 0 until 20) {
      val triples = Seq.fill(5 + rnd.nextInt(10))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val p = preds(rnd.nextInt(preds.size))
      val consts = Seq.fill(1 + rnd.nextInt(4))(
        if (rnd.nextBoolean()) ents(rnd.nextInt(ents.size))
        else s"ghost$round").distinct
      val q = BgpQuery(Seq("X", "Y"), Seq(
        TriplePattern(Var("X"), Const(p), Var("Y"))),
        values = Seq(("Y", consts)))
      val want = triples.filter(t => t._2 == p && consts.contains(t._3))
        .map(t => Seq[Any](t._1, t._3)).sortBy(_.mkString("|"))
      val str = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
      for ((st, tag) <- Seq((str, "string"),
          (TripleStore.encode(str), "hash"),
          (TripleStore.encodeSequential(str, bands = 4), "sequential"))) {
        val got = BgpPlanner.plan(st, q).collect().map(_.toSeq).toSeq
          .sortBy(_.mkString("|"))
        assert(got == want,
          s"round $round [$tag]: IN $consts over $triples\n$got\nvs\n$want")
      }
    }
  }

  test("VALUES tables with UNDEF equal a naive evaluator (25 random)") {
    import spark.implicits._
    // §10.2.2: a row restricts only on its bound cells; an UNDEF cell
    // on a solution var is a wildcard, on a table-only var it stays
    // unbound (null). Compared against a direct set-comprehension
    // evaluator, over both encodings.
    val rnd = new Random(90210L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1")
    for (round <- 0 until 25) {
      val triples = Seq.fill(4 + rnd.nextInt(8))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val predName = preds(rnd.nextInt(preds.size))
      val pat = TriplePattern(Var("X"), Const(predName), Var("Y"))
      val rows = Seq.fill(1 + rnd.nextInt(4))(Seq(
        rnd.nextInt(3) match {
          case 0 => null
          case 1 => ents(rnd.nextInt(ents.size))
          case _ => s"ghost$round"
        },
        if (rnd.nextBoolean()) null else s"tag${rnd.nextInt(3)}"))
      val q = BgpQuery(Seq("X", "Y", "T"), Seq(pat),
        valuesTables = Seq((Seq("X", "T"), rows)))
      val sols = triples.collect { case (s, p, o) if p == predName => (s, o) }
      val expected = (for {
        (x, y) <- sols
        r <- rows
        if r(0) == null || r(0) == x
      } yield Seq[Any](x, y, r(1)))
        .sortBy(_.mkString("|")).toSeq
      val str = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
      for (st <- Seq(str, TripleStore.encode(str))) {
        val got = BgpPlanner.plan(st, q).select("X", "Y", "T")
          .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
        assert(got == expected,
          s"round $round enc=${st.encoded}: rows=$rows over $triples\n" +
            s"$got\nvs\n$expected")
      }
    }
  }

  test("sequence paths and negated sets equal brute force (30 random)") {
    import spark.implicits._
    val rnd = new Random(1080912L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1", "p2")

    for (round <- 0 until 30) {
      val triples = Seq.fill(4 + rnd.nextInt(14))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      // through the parser so sequence desugaring (fresh _sq vars) and
      // the reserved-prefix hiding are both exercised
      val qs =
        if (rnd.nextBoolean()) {
          val steps = Seq.fill(2 + rnd.nextInt(2))(
            preds(rnd.nextInt(preds.size))).mkString("/")
          s"select ?X ?Y where { ?X $steps ?Y }"
        } else {
          val k = 1 + rnd.nextInt(2)
          // mixed-direction members (§9.1 full grammar): each drawn
          // predicate is forward or inverse at random
          val out = rnd.shuffle(preds).take(k)
            .map(p => if (rnd.nextBoolean()) p else s"^$p").mkString("|")
          s"select ?X ?Y where { ?X !($out) ?Y }"
        }
      val q = Sparql.parse(qs)
      val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
      val got = BgpPlanner.plan(store, q).collect()
        .map(_.toSeq.map(_.asInstanceOf[String])).toSet
      val want = naive(triples, q)
      assert(got == want,
        s"round $round: query=$qs store=$triples\n" +
          s"got ${got.size} rows, want ${want.size}")
    }
  }

  test("BINDs and sub-SELECTs equal brute force (25 random)") {
    import spark.implicits._
    val rnd = new Random(1180912L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1", "p2")

    for (round <- 0 until 25) {
      val triples = Seq.fill(4 + rnd.nextInt(14))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val (pa, pb) = (preds(rnd.nextInt(preds.size)),
        preds(rnd.nextInt(preds.size)))
      val qs =
        if (rnd.nextBoolean()) {
          // concat BIND, optionally filtered on the alias
          val lit = ents(rnd.nextInt(ents.size))
          val f = if (rnd.nextBoolean())
            s""" . FILTER (?T != "$lit-$lit")""" else ""
          s"""select ?X ?Y ?T where { ?X $pa ?Y .
             | BIND (concat(?X, "-", ?Y) AS ?T)$f }""".stripMargin
        } else {
          // plain sub-SELECT natural-joined on the shared var
          s"""select ?X ?Z where { ?X $pa ?Y .
             | { select ?Y ?Z where { ?Y $pb ?Z } } }""".stripMargin
        }
      val q = Sparql.parse(qs)
      val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
      val got = BgpPlanner.plan(store, q).collect()
        .map(_.toSeq.map(_.asInstanceOf[String])).toSet
      val want = naive(triples, q)
      assert(got == want,
        s"round $round: query=$qs store=$triples\n" +
          s"got ${got.size} rows, want ${want.size}")
    }
  }

  /** Solutions of the two-constant pattern `c1 path c2` (ASK and
    * SELECT both need a variable): the pattern of the one-variable form
    * with its object bound to `c2`, planned with nothing projected.
    */
  private def solutions(st: TripleStore, c1: String, path: String,
      c2: String): Long = {
    val q = Sparql.parse(s"select ?Y where { $c1 $path ?Y }")
    BgpPlanner.plan(st, q.copy(select = Nil,
      patterns = q.patterns.map(_.copy(o = Const(c2))))).count()
  }

  test("property paths equal a naive closure (30 random graphs)") {
    import spark.implicits._
    val rnd = new Random(1280912L)
    val ents = Vector("e0", "e1", "e2", "e3", "e4")
    val preds = Vector("p0", "p1")

    // naive k-hop composition over one predicate's edge set
    def hops(edges: Set[(String, String)], k: Int): Set[(String, String)] =
      if (k == 0) {
        val verts = edges.flatMap(e => Set(e._1, e._2))
        verts.map(v => (v, v))
      } else
        (1 until k).foldLeft(edges)((acc, _) =>
          for ((a, m) <- acc; (m2, b) <- edges if m == m2) yield (a, b))

    for (round <- 0 until 30) {
      val triples = Seq.fill(4 + rnd.nextInt(12))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val p = preds(rnd.nextInt(preds.size))
      val edges = triples.collect { case (s, `p`, o) => (s, o) }.toSet
      if (edges.nonEmpty) {
        val maxHops = ents.size // closure converges within |V| hops
        val (path, want) = rnd.nextInt(5) match {
          case 0 => (s"$p+", (1 to maxHops).flatMap(hops(edges, _)).toSet)
          case 1 => (s"$p*", (0 to maxHops).flatMap(hops(edges, _)).toSet)
          case 2 => (s"$p?", hops(edges, 0) ++ edges)
          case 3 => (s"^$p", edges.map(_.swap))
          case 4 =>
            val (lo, hi) = (1 + rnd.nextInt(2), 2 + rnd.nextInt(2))
            (s"$p{$lo,$hi}", (lo to hi).flatMap(hops(edges, _)).toSet)
        }
        val q = s"select ?X ?Y where { ?X $path ?Y }"
        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val got = BgpPlanner.query(store, q).collect()
          .map(r => (r.getAs[String]("X"), r.getAs[String]("Y"))).toSet
        assert(got == want,
          s"round $round: $q over $triples\ngot ${got.size}, want ${want.size}")
      }
    }

    // constant endpoints — the walk from the constant, and (every third
    // round, under a tiny broadcast threshold) its hand-over to the
    // doubling closure — for p+, p* and (p1/p2)+, with a constant
    // subject, a constant object or both, on all three encodings.
    // Round 0 pins a seed on a cycle (p+ returns the seed itself),
    // round 1 an absent constant; later rounds draw both at random.
    val crnd = new Random(5512091L)
    def compose(a: Set[(String, String)], b: Set[(String, String)]) =
      for ((x, m) <- a; (m2, y) <- b if m == m2) yield (x, y)
    for (round <- 0 until 24) {
      val drawn = Seq.fill(4 + crnd.nextInt(12))(
        (ents(crnd.nextInt(ents.size)), preds(crnd.nextInt(preds.size)),
          ents(crnd.nextInt(ents.size))))
      val triples = (drawn ++ (if (round == 0)
        Seq(("e0", "p0", "e1"), ("e1", "p0", "e0")) else Nil)).distinct
      def edges(p: String) = triples.collect { case (s, `p`, o) => (s, o) }.toSet
      def ent(): String =
        if (crnd.nextInt(6) == 0) "ghost" else ents(crnd.nextInt(ents.size))
      val (path, rel, reflexive) =
        if (round == 0) ("p0+", edges("p0"), false)
        else crnd.nextInt(3) match {
          case 0 => val p = preds(crnd.nextInt(2)); (s"$p+", edges(p), false)
          case 1 => val p = preds(crnd.nextInt(2)); (s"$p*", edges(p), true)
          case 2 =>
            val (a, b) = (preds(crnd.nextInt(2)), preds(crnd.nextInt(2)))
            (s"($a/$b)+", compose(edges(a), edges(b)), false)
        }
      val closed = (if (reflexive) 0 else 1).to(ents.size)
        .flatMap(hops(rel, _)).toSet
      val (mode, c1, c2) =
        if (round == 0) (0, "e0", "")
        else if (round == 1) (crnd.nextInt(3), "ghost", "e0")
        else (crnd.nextInt(3), ent(), ent())
      val (q, want) = mode match {
        case 0 => (s"select ?Y where { $c1 $path ?Y }",
          closed.collect { case (`c1`, y) => y })
        case 1 => (s"select ?X where { ?X $path $c1 }",
          closed.collect { case (x, `c1`) => x })
        case 2 => (path, Set(if (closed.contains((c1, c2))) "1" else "0"))
      }
      if (round == 0) assert(want.contains("e0"))
      val str = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.getOption(key)
      if (round % 3 == 2) spark.conf.set(key, "1")
      try {
        for ((st, tag) <- Seq((str, "string"),
            (TripleStore.encode(str), "hash"),
            (TripleStore.encodeSequential(str, bands = 4), "sequential"))) {
          val got =
            if (mode == 2) Seq(solutions(st, c1, path, c2).toString)
            else BgpPlanner.query(st, q).collect().map(_.getString(0))
              .sorted.toSeq
          assert(got == want.toSeq.sorted,
            s"constant round $round [$tag]: $q over $triples\ngot $got, want $want")
        }
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("NESTED path trees equal a naive evaluator (40 random trees)") {
    import spark.implicits._
    val rnd = new Random(4242L)
    val ents = Vector("e0", "e1", "e2", "e3", "e4")
    val preds = Vector("p0", "p1", "p2")

    sealed trait PT
    case class L(p: String) extends PT
    case class I(x: PT) extends PT
    case class A(a: PT, b: PT) extends PT
    case class S(a: PT, b: PT) extends PT
    case class P(x: PT) extends PT
    case class St(x: PT) extends PT
    case class Q(x: PT) extends PT
    case class Rep(x: PT, lo: Int, hi: Int) extends PT

    def render(t: PT): String = t match {
      case L(p) => p
      case I(x) => s"^${render(x)}"
      case A(a, b) => s"(${render(a)}|${render(b)})"
      case S(a, b) => s"(${render(a)}/${render(b)})"
      case P(x) => s"(${render(x)})+"
      case St(x) => s"(${render(x)})*"
      case Q(x) => s"(${render(x)})?"
      case Rep(x, lo, hi) => s"(${render(x)}){$lo,$hi}"
    }
    def gen(depth: Int): PT =
      if (depth == 0) L(preds(rnd.nextInt(preds.size)))
      else rnd.nextInt(8) match {
        case 0 => A(gen(depth - 1), gen(depth - 1))
        case 1 => S(gen(depth - 1), gen(depth - 1))
        case 2 => I(gen(depth - 1))
        case 3 => P(gen(depth - 1))
        case 4 => St(gen(depth - 1))
        case 5 => Q(gen(depth - 1))
        case 6 => Rep(gen(depth - 1), 1 + rnd.nextInt(2), 2 + rnd.nextInt(2))
        case 7 => L(preds(rnd.nextInt(preds.size)))
      }

    type R = Set[(String, String)]
    def vids(r: R): R = r.flatMap(x => Set(x._1, x._2)).map(v => (v, v))
    def comp(a: R, b: R): R =
      for ((x, m) <- a; (m2, y) <- b if m == m2) yield (x, y)
    def hopsOf(r: R, k: Int): R =
      if (k == 0) vids(r) else (1 until k).foldLeft(r)((acc, _) => comp(acc, r))
    def evalT(t: PT, ed: Map[String, R]): R = t match {
      case L(p) => ed.getOrElse(p, Set.empty)
      case I(x) => evalT(x, ed).map(_.swap)
      case A(a, b) => evalT(a, ed) ++ evalT(b, ed)
      case S(a, b) => comp(evalT(a, ed), evalT(b, ed))
      case P(x) =>
        val r = evalT(x, ed); (1 to ents.size).flatMap(hopsOf(r, _)).toSet
      case St(x) =>
        val r = evalT(x, ed); (0 to ents.size).flatMap(hopsOf(r, _)).toSet
      case Q(x) => val r = evalT(x, ed); r ++ vids(r)
      case Rep(x, lo, hi) =>
        val r = evalT(x, ed); (lo to hi).flatMap(hopsOf(r, _)).toSet
    }

    for (round <- 0 until 40) {
      val triples = Seq.fill(5 + rnd.nextInt(12))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val ed: Map[String, R] = triples.groupBy(_._2)
        .map { case (p, ts) => p -> ts.map(t => (t._1, t._3)).toSet }
      val tree = gen(1 + rnd.nextInt(2))
      val want = evalT(tree, ed)
      val q = s"select ?X ?Y where { ?X ${render(tree)} ?Y }"
      val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
      val got = BgpPlanner.query(store, q).collect()
        .map(r => (r.getAs[String]("X"), r.getAs[String]("Y"))).toSet
      assert(got == want,
        s"round $round: $q over $triples\ngot $got\nwant $want")
    }

    // the constant-endpoint forms under a top-level + / * — the one
    // closure of a tree that walks from its constant; closures nested
    // deeper close their whole operand — on the string and hash stores
    for (round <- 0 until 20) {
      val triples = Seq.fill(5 + rnd.nextInt(12))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val ed: Map[String, R] = triples.groupBy(_._2)
        .map { case (p, ts) => p -> ts.map(t => (t._1, t._3)).toSet }
      val inner = gen(rnd.nextInt(2))
      val tree = if (rnd.nextBoolean()) P(inner) else St(inner)
      val closed = evalT(tree, ed)
      def ent(): String =
        if (rnd.nextInt(6) == 0) "ghost" else ents(rnd.nextInt(ents.size))
      val (c1, c2) = (ent(), ent())
      val (q, want) = rnd.nextInt(3) match {
        case 0 => (s"select ?Y where { $c1 ${render(tree)} ?Y }",
          closed.collect { case (`c1`, y) => y })
        case 1 => (s"select ?X where { ?X ${render(tree)} $c1 }",
          closed.collect { case (x, `c1`) => x })
        case 2 => (render(tree),
          Set(if (closed.contains((c1, c2))) "1" else "0"))
      }
      val str = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
      for (st <- Seq(str, TripleStore.encode(str))) {
        val got =
          if (!q.startsWith("select")) Seq(solutions(st, c1, q, c2).toString)
          else BgpPlanner.query(st, q).collect().map(_.getString(0))
            .sorted.toSeq
        assert(got == want.toSeq.sorted,
          s"constant round $round enc=${st.encoded}: $q over $triples\n" +
            s"got $got\nwant $want")
      }
    }
  }

  test("planner equals brute-force with UNION groups (20 random)") {
    import spark.implicits._
    val rnd = new Random(31337L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1", "p2")
    def randPattern(): TriplePattern = {
      val vars = Vector("X", "Y")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      TriplePattern(pos(), Const(preds(rnd.nextInt(preds.size))), pos())
    }
    // second branch = same variable shape, re-rolled constants (the
    // grammar requires branches to bind the same variable set)
    def remap(p: TriplePattern): TriplePattern = TriplePattern(
      p.s match { case Const(_) => Const(ents(rnd.nextInt(ents.size))); case v => v },
      p.p match { case Const(_) => Const(preds(rnd.nextInt(preds.size))); case v => v },
      p.o match { case Const(_) => Const(ents(rnd.nextInt(ents.size))); case v => v })

    for (round <- 0 until 20) {
      val triples = Seq.fill(4 + rnd.nextInt(10))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val required = Seq.fill(rnd.nextInt(2))(randPattern())
      val b1 = Seq.fill(1 + rnd.nextInt(2))(randPattern())
      val b2 = b1.map(remap)
      val allVars = (required ++ b1).flatMap(_.vars).distinct
      if (allVars.nonEmpty && b1.flatMap(_.vars).nonEmpty) {
        val select = rnd.shuffle(allVars).take(1 + rnd.nextInt(allVars.size))
        // ~half the rounds scope a filter to one branch (vars bound in
        // the branch itself, per the parser contract)
        val bVars = b1.flatMap(_.vars).distinct
        def branchFilter(): Seq[Sparql.FilterClause] =
          if (rnd.nextBoolean()) Nil
          else Seq(Sparql.FilterClause(Seq(Seq(Sparql.FilterExpr(
            bVars(rnd.nextInt(bVars.size)),
            Vector("=", "!=", "<")(rnd.nextInt(3)),
            ents(rnd.nextInt(ents.size)), numeric = false)))))
        val q = BgpQuery(select, required, unions = Seq(Seq(b1, b2)),
          unionFilters = Seq(Seq(branchFilter(), branchFilter())))
        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val got = BgpPlanner.plan(store, q).collect()
          .map(_.toSeq.map(_.asInstanceOf[String])).toSet
        val want = naive(triples, q)
        assert(got == want,
          s"round $round: req=$required union=${Seq(b1, b2)} " +
            s"select=$select store=$triples\ngot=${got.size} want=${want.size}")
      }
    }
  }

  test("planner equals brute-force with MINUS blocks (20 random)") {
    import spark.implicits._
    val rnd = new Random(55555L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1", "p2")
    def randPattern(): TriplePattern = {
      val vars = Vector("X", "Y", "Z")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      TriplePattern(pos(), Const(preds(rnd.nextInt(preds.size))), pos())
    }
    for (round <- 0 until 20) {
      val triples = Seq.fill(4 + rnd.nextInt(10))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val required = Seq.fill(1 + rnd.nextInt(2))(randPattern())
      val minuses = Seq.fill(1 + rnd.nextInt(2))(Seq.fill(1)(randPattern()))
      val reqVars = required.flatMap(_.vars).distinct
      if (reqVars.nonEmpty) {
        val select = rnd.shuffle(reqVars).take(1 + rnd.nextInt(reqVars.size))
        // ~half the rounds scope a filter inside each MINUS block
        val minusFs = minuses.map { block =>
          val bVars = block.flatMap(_.vars).distinct
          if (bVars.isEmpty || rnd.nextBoolean()) Nil
          else Seq(Sparql.FilterClause(Seq(Seq(Sparql.FilterExpr(
            bVars(rnd.nextInt(bVars.size)),
            Vector("=", "!=", "<")(rnd.nextInt(3)),
            ents(rnd.nextInt(ents.size)), numeric = false)))))
        }
        val q = BgpQuery(select, required, minuses = minuses,
          minusFilters = minusFs)
        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val got = BgpPlanner.plan(store, q).collect()
          .map(_.toSeq.map(_.asInstanceOf[String])).toSet
        val want = naive(triples, q)
        assert(got == want,
          s"round $round: req=$required minus=$minuses select=$select " +
            s"store=$triples\ngot=${got.size} want=${want.size}")
      }
    }
  }

  test("planner equals brute-force with FILTER [NOT] EXISTS (25 random)") {
    import spark.implicits._
    val rnd = new Random(8888L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1", "p2")
    def randPattern(): TriplePattern = {
      val vars = Vector("X", "Y", "Z")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      TriplePattern(pos(), Const(preds(rnd.nextInt(preds.size))), pos())
    }
    for (round <- 0 until 25) {
      val triples = Seq.fill(4 + rnd.nextInt(10))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val required = Seq.fill(1 + rnd.nextInt(2))(randPattern())
      // var-disjoint blocks occur naturally (all-const or disjoint-var
      // patterns), exercising the uncorrelated limit(1) probe path
      val exists = Seq.fill(1 + rnd.nextInt(2))(
        (rnd.nextBoolean(), Seq.fill(1)(randPattern())))
      val reqVars = required.flatMap(_.vars).distinct
      if (reqVars.nonEmpty) {
        val select = rnd.shuffle(reqVars).take(1 + rnd.nextInt(reqVars.size))
        val q = BgpQuery(select, required, existsFilters = exists)
        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val got = BgpPlanner.plan(store, q).collect()
          .map(_.toSeq.map(_.asInstanceOf[String])).toSet
        val want = naive(triples, q)
        assert(got == want,
          s"round $round: req=$required exists=$exists select=$select " +
            s"store=$triples\ngot=${got.size} want=${want.size}")
      }
    }
  }

  /** Bag-semantics brute force over plain patterns (aggregates need
    * multiplicities, which the Set-based naive evaluator collapses).
    */
  private def naiveBag(triples: Seq[(String, String, String)],
      patterns: Seq[TriplePattern]): Seq[Map[String, String]] = {
    def unify(term: Term, v: String, e: Map[String, String]): Option[Map[String, String]] =
      term match {
        case Const(c) => if (c == v) Some(e) else None
        case Var(n) => e.get(n) match {
          case Some(bound) => if (bound == v) Some(e) else None
          case None => Some(e + (n -> v))
        }
      }
    patterns.foldLeft(Seq(Map.empty[String, String]))((es, p) =>
      es.flatMap(env => triples.flatMap(t =>
        unify(p.s, t._1, env).flatMap(e1 =>
          unify(p.p, t._2, e1).flatMap(e2 => unify(p.o, t._3, e2))))))
  }

  test("aggregates equal brute-force bag aggregation (25 random)") {
    import spark.implicits._
    import graft.bgp.Sparql.AggExpr
    val rnd = new Random(31337L)
    val ents = Vector("e0", "e1", "e2")
    val preds = Vector("p0", "p1")
    def randPattern(): TriplePattern = {
      val vars = Vector("X", "Y", "Z")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      TriplePattern(pos(), Const(preds(rnd.nextInt(preds.size))), pos())
    }
    for (round <- 0 until 25) {
      val triples = Seq.fill(4 + rnd.nextInt(10))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val patterns = Seq.fill(1 + rnd.nextInt(2))(randPattern())
      val vars = patterns.flatMap(_.vars).distinct
      if (vars.nonEmpty) {
        val aggVar = vars(rnd.nextInt(vars.size))
        val groupVars =
          if (rnd.nextBoolean() && vars.size > 1)
            Seq(vars.filterNot(_ == aggVar).head)
          else Nil
        val q = BgpQuery(groupVars, patterns,
          aggregates = Seq(AggExpr("count", Some(aggVar), "n"),
            AggExpr("min", Some(aggVar), "lo")),
          groupBy = groupVars)
        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val got = BgpPlanner.plan(store, q).collect()
          .map(_.toSeq.map(String.valueOf)).toSet
        val bags = naiveBag(triples, patterns)
        // output columns sort lexicographically: [groupVar,] lo, n
        // (capital var names sort before the lowercase aliases)
        val want: Set[Seq[String]] =
          if (groupVars.isEmpty)
            // SQL global aggregate over zero rows: one (null, 0) row
            if (bags.isEmpty) Set(Seq("null", "0"))
            else Set(Seq(bags.map(_(aggVar)).min, bags.size.toString))
          else bags.groupBy(e => groupVars.map(e(_))).map { case (k, es) =>
            (k :+ es.map(_(aggVar)).min) :+ es.size.toString
          }.toSet
        assert(got == want,
          s"round $round: pats=$patterns group=$groupVars agg=$aggVar " +
            s"store=$triples\ngot=$got want=$want")
      }
    }
  }

  test("ORDER BY + LIMIT/OFFSET equal brute-force sort (25 random)") {
    import spark.implicits._
    import graft.bgp.Sparql.OrderKey
    val rnd = new Random(777001L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1")
    def randPattern(): TriplePattern = {
      val vars = Vector("X", "Y")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      TriplePattern(pos(), Const(preds(rnd.nextInt(preds.size))), pos())
    }
    for (round <- 0 until 25) {
      val triples = Seq.fill(4 + rnd.nextInt(10))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val patterns = Seq.fill(1 + rnd.nextInt(2))(randPattern())
      val vars = patterns.flatMap(_.vars).distinct
      if (vars.nonEmpty) {
        // order on ALL select vars (full-row sort ⇒ the sliced prefix
        // is deterministic up to equal rows)
        val select = rnd.shuffle(vars)
        val keys = select.map(v => OrderKey(v, asc = rnd.nextBoolean()))
        val limit = Some(1 + rnd.nextInt(4))
        val offset = if (rnd.nextBoolean()) Some(rnd.nextInt(3)) else None
        val q = BgpQuery(select, patterns, orderBy = keys,
          limit = limit, offset = offset)
        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val got = BgpPlanner.plan(store, q).collect()
          .map(_.toSeq.map(String.valueOf).toList).toList
        val outCols = select.distinct.sorted
        val ord = new Ordering[Seq[String]] {
          def compare(a: Seq[String], b: Seq[String]): Int =
            keys.iterator.map { k =>
              val i = outCols.indexOf(k.variable)
              val c = a(i).compareTo(b(i))
              if (k.asc) c else -c
            }.find(_ != 0).getOrElse(0)
        }
        val sortedAll = naiveBag(triples, patterns)
          .map(env => outCols.map(env(_))).sorted(ord)
        val want = sortedAll.slice(offset.getOrElse(0),
          offset.getOrElse(0) + limit.get)
        // rows equal under the sort keys may come back in either order;
        // compare as sorted multisets
        import scala.math.Ordering.Implicits.seqOrdering
        assert(got.sorted == want.map(_.toList).sorted,
          s"round $round: pats=$patterns keys=$keys off=$offset lim=$limit " +
            s"store=$triples\ngot=$got want=$want")
      }
    }
  }

  test("measured-cost plan equals brute force (stats order + empty short-circuit)") {
    import spark.implicits._
    val rnd = new Random(90210L)
    val ents = Vector("e0", "e1", "e2")
    val preds = Vector("p0", "p1")
    def randPattern(): TriplePattern = {
      val vars = Vector("X", "Y", "Z")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      // small entity/predicate pools make randomly-empty slices common,
      // so the −1 empty-marker short-circuit path gets exercised
      TriplePattern(pos(), Const(preds(rnd.nextInt(preds.size))), pos())
    }
    for (round <- 0 until 20) {
      val triples = Seq.fill(2 + rnd.nextInt(8))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val patterns = Seq.fill(1 + rnd.nextInt(3))(randPattern())
      val vars = patterns.flatMap(_.vars).distinct
      if (vars.nonEmpty) {
        val select = rnd.shuffle(vars).take(1 + rnd.nextInt(vars.size))
        val q = BgpQuery(select, patterns)
        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val stats = new graft.tools.CostStats(java.nio.file.Files
          .createTempDirectory("bgp-stats").resolve("s.tsv").toString)
        val want = naive(triples, q)
        // first pass measures, second plans purely from the cache
        for (pass <- 1 to 2) {
          val got = BgpPlanner.measureAndPlan(store, q, stats).collect()
            .map(_.toSeq.map(_.asInstanceOf[String])).toSet
          assert(got == want,
            s"round $round pass $pass: $patterns select=$select store=$triples")
        }
      }
    }
  }

  test("planner equals brute-force with OPTIONAL-scoped FILTERs (30 random)") {
    import spark.implicits._
    import graft.bgp.Sparql.{FilterClause, FilterExpr}
    val rnd = new Random(616161L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1", "p2")
    def randPattern(): TriplePattern = {
      val vars = Vector("X", "Y", "Z")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      TriplePattern(pos(), Const(preds(rnd.nextInt(preds.size))), pos())
    }
    for (round <- 0 until 30) {
      val triples = Seq.fill(4 + rnd.nextInt(10))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val required = Seq.fill(1 + rnd.nextInt(2))(randPattern())
      val block = Seq.fill(1 + rnd.nextInt(2))(randPattern())
      val reqVars = required.flatMap(_.vars).distinct
      val blockVars = block.flatMap(_.vars).distinct
      if (reqVars.nonEmpty && blockVars.nonEmpty) {
        // scoped filter vars must be bound INSIDE the block (parser
        // contract); compare vs a constant or another block var
        def randLeaf(): FilterExpr = {
          val op = Vector("=", "!=", "<", ">=")(rnd.nextInt(4))
          val lhs = blockVars(rnd.nextInt(blockVars.size))
          if (rnd.nextBoolean() && blockVars.size > 1)
            FilterExpr(lhs, op, blockVars(rnd.nextInt(blockVars.size)),
              numeric = false, rhsVar = true)
          else FilterExpr(lhs, op, ents(rnd.nextInt(ents.size)),
            numeric = false)
        }
        val bfs = Seq(FilterClause(Seq.fill(1 + rnd.nextInt(2))(
          Seq.fill(1 + rnd.nextInt(2))(randLeaf()))))
        val allVars = (reqVars ++ blockVars).distinct
        val select = rnd.shuffle(allVars).take(1 + rnd.nextInt(allVars.size))
        val q = BgpQuery(select, required, optionals = Seq(block),
          optionalFilters = Seq(bfs))
        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val got = BgpPlanner.plan(store, q).collect()
          .map(_.toSeq.map(_.asInstanceOf[String])).toSet
        val want = naive(triples, q)
        assert(got == want,
          s"round $round: req=$required opt=$block scoped=$bfs " +
            s"select=$select store=$triples\ngot=${got.size} want=${want.size}")
      }
    }
  }

  test("planner equals brute-force with OPTIONAL blocks and FILTERs (30 random)") {
    import spark.implicits._
    import graft.bgp.Sparql.{FilterClause, FilterExpr}
    val rnd = new Random(424242L)
    val ents = Vector("e0", "e1", "e2", "e3")
    val preds = Vector("p0", "p1", "p2")
    def randPattern(): TriplePattern = {
      val vars = Vector("X", "Y", "Z")
      def pos(): Term =
        if (rnd.nextBoolean()) Var(vars(rnd.nextInt(vars.size)))
        else Const(ents(rnd.nextInt(ents.size)))
      TriplePattern(pos(), Const(preds(rnd.nextInt(preds.size))), pos())
    }

    for (round <- 0 until 30) {
      val triples = Seq.fill(4 + rnd.nextInt(10))(
        (ents(rnd.nextInt(ents.size)), preds(rnd.nextInt(preds.size)),
          ents(rnd.nextInt(ents.size)))).distinct
      val required = Seq.fill(1 + rnd.nextInt(2))(randPattern())
      val optionals = Seq.fill(rnd.nextInt(2))(Seq.fill(1 + rnd.nextInt(2))(randPattern()))
      val reqVars = required.flatMap(_.vars).distinct
      val allVars = (required ++ optionals.flatten).flatMap(_.vars).distinct
      if (reqVars.nonEmpty) {
        // filter only on required-bound vars (filtering an optional var
        // that may be unbound is a deliberately unsupported corner);
        // half the filters compare two variables instead of a constant
        def randLeaf(): FilterExpr = {
          val op = Vector("=", "!=", "<", ">=")(rnd.nextInt(4))
          val lhs = reqVars(rnd.nextInt(reqVars.size))
          if (rnd.nextBoolean() && reqVars.size > 1)
            FilterExpr(lhs, op,
              reqVars(rnd.nextInt(reqVars.size)), numeric = false,
              rhsVar = true)
          else
            FilterExpr(lhs, op,
              ents(rnd.nextInt(ents.size)), numeric = false)
        }
        // half simple, half compound (a && b, a || b, a && b || c)
        val filters =
          if (rnd.nextBoolean() && reqVars.nonEmpty) {
            val disjuncts = Seq.fill(1 + rnd.nextInt(2))(
              Seq.fill(1 + rnd.nextInt(2))(randLeaf()))
            Seq(FilterClause(disjuncts))
          } else Nil
        val select = rnd.shuffle(allVars).take(1 + rnd.nextInt(allVars.size))
        val q = BgpQuery(select, required, optionals, filters)

        val store = TripleStore.fromTriples(triples.toDF("s", "p", "o"))
        val got = BgpPlanner.plan(store, q).collect()
          .map(_.toSeq.map(_.asInstanceOf[String])).toSet
        val want = naive(triples, q)
        assert(got == want,
          s"round $round: req=$required opt=$optionals filt=$filters " +
            s"select=$select store=$triples\ngot=${got.size} want=${want.size}")
      }
    }
  }
}
