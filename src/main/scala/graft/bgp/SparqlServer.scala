package graft.bgp

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.{InetAddress, InetSocketAddress}

/** The LISTEN side of the SPARQL 1.1 Protocol — the seam that closes
  * the reference's query-in/results-out service loop (Client.c:7-25,
  * Proxy.c:40-258): `serve` exposes a [[TripleStore]] at an HTTP
  * endpoint speaking exactly the dialect [[SparqlHttp]] consumes, so
  * two graft instances federate with each other over the real
  * transport (SERVICE <http://…> against another engine's endpoint is
  * indistinguishable from SERVICE against this one).
  *
  * Protocol surface (SPARQL 1.1 Protocol): query via GET `?query=`,
  * POST `application/x-www-form-urlencoded` (`query=`), or POST
  * `application/sparql-query` (§2.1.1-2.1.3); UPDATE via POST
  * `update=` form or raw `application/sparql-update` body
  * (§2.2.1-2.2.2 — POST only; the full [[SparqlUpdate]] grammar, 204
  * on success, and the served store swaps atomically so subsequent
  * queries read the updated dataset). SELECT responses are
  * `application/sparql-results+json` by default with Accept-header
  * negotiation to the SPARQL 1.1 CSV and TSV results formats; ASK
  * renders the boolean results-JSON form; CONSTRUCT renders
  * `application/n-triples`. Term spellings map back to protocol
  * typing — `"lex"^^<dt>` → typed literal, `"lex"@tag` →
  * language-tagged literal, `scheme:local` → uri, `_:x` → bnode,
  * anything else a plain literal — the exact inverse of
  * [[SparqlHttp.parse]]'s canonicalization, so a federated round-trip
  * is lossless.
  *
  * Scale shape: the RESPONSE is the protocol's driver-side
  * materialization point, so it is CAPPED (`maxRows`) — a request
  * whose result exceeds the cap gets a loud 500 rather than an
  * unbounded buffer (the same discipline as the client-side response
  * cap). A federating caller keeps results under the cap the same way
  * any federation client does: by shipping its bindings as a VALUES
  * restriction (SparqlHttp's bound join), which is precisely what the
  * graft client arm sends.
  */
object SparqlServer {

  /** Server-side result cap: past this many rows the request fails
    * loudly instead of buffering an unbounded response.
    */
  val MaxResponseRows = 100000

  /** Graph Store Protocol payload cap: a PUT/POST body materializes on
    * the coordinator (it is request content, not data-at-rest), so it
    * is byte-capped with a loud 413 — bulk loads belong on `LOAD` /
    * the streaming ingest arms, not the protocol payload.
    */
  val MaxPayloadBytes: Int = 8 * 1024 * 1024

  /** A running endpoint; `stop()` releases the port. `store` reads the
    * LIVE store — protocol updates swap it (stores are immutable; the
    * endpoint's mutable state is exactly this one reference).
    */
  final class Handle private[SparqlServer] (
      server: HttpServer, advertised: String,
      ref: java.util.concurrent.atomic.AtomicReference[TripleStore],
      lastLine: java.util.concurrent.atomic.AtomicReference[String],
      lastRead: java.util.concurrent.atomic.AtomicReference[String]) {
    def port: Int = server.getAddress.getPort
    /** The dereferenceable endpoint IRI — derived from the actual bind
      * address (or the deployer's `externalUrl`), never a hardcoded
      * localhost, so remote clients resolving `sd:endpoint` reach the
      * server.
      */
    def endpoint: String = advertised
    def store: TripleStore = ref.get()
    /** The [[updateLine]] of the latest update, if any. */
    def lastUpdate: Option[String] = Option(lastLine.get())
    /** The [[queryLine]] of the latest query, if any. */
    def lastQuery: Option[String] = Option(lastRead.get())
    def stop(): Unit = server.stop(0)
  }

  private val typedRe = "(?s)^\"(.*)\"\\^\\^<([^<>]*)>$".r
  private val langRe = "(?s)^\"(.*)\"@([A-Za-z0-9-]+)$".r
  private val iriRe = "^[A-Za-z][A-Za-z0-9+.-]*:.*$"

  /** One protocol binding object for a stored-form value (inverse of
    * SparqlHttp.parse's canonical spellings).
    */
  private def bindingJson(
      om: com.fasterxml.jackson.databind.ObjectMapper,
      v: String): com.fasterxml.jackson.databind.node.ObjectNode = {
    val o = om.createObjectNode()
    v match {
      case typedRe(lex, dt) =>
        o.put("type", "literal"); o.put("datatype", dt); o.put("value", lex)
      case langRe(lex, tag) =>
        o.put("type", "literal"); o.put("xml:lang", tag); o.put("value", lex)
      case b if b.startsWith("_:") =>
        o.put("type", "bnode"); o.put("value", b.drop(2))
      case u if u.matches(iriRe) =>
        o.put("type", "uri"); o.put("value", u)
      case lit =>
        o.put("type", "literal"); o.put("value", lit)
    }
    o
  }

  /** Evaluate one protocol request's query text against the store and
    * render `application/sparql-results+json`. Package-visible for
    * direct unit testing of the render path.
    */
  private[graft] def answer(store: TripleStore, query: String,
      maxRows: Int): String = {
    val (vars, rows) = solutions(store, query, maxRows)
    resultsJson(vars, rows)
  }

  private def resultsJson(vars: Seq[String],
      rows: Array[org.apache.spark.sql.Row]): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val head = root.putObject("head")
    val varArr = head.putArray("vars")
    vars.foreach(varArr.add)
    val bindings = root.putObject("results").putArray("bindings")
    rows.foreach { r =>
      val b = om.createObjectNode()
      vars.zipWithIndex.foreach { case (v, i) =>
        if (!r.isNullAt(i)) b.set[com.fasterxml.jackson.databind.JsonNode](
          v, bindingJson(om, String.valueOf(r.get(i))))
      }
      bindings.add(b)
    }
    om.writeValueAsString(root)
  }

  /** Bounded (vars, rows) of one protocol query — the shared collect
    * behind every result serialization; loud past the cap.
    */
  private def solutions(store: TripleStore, query: String, maxRows: Int)
      : (Seq[String], Array[org.apache.spark.sql.Row]) = {
    val df = BgpPlanner.query(store, query)
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows) throw new IllegalStateException(
      s"result exceeds the $maxRows-row response cap — restrict the " +
        "query (federating clients ship their bindings as VALUES)")
    (df.columns.toSeq, rows)
  }

  /** SPARQL 1.1 Query Results CSV (§3): bare lexical values — IRIs
    * unbracketed, literals undecorated — RFC 4180-escaped.
    */
  private def resultsCsv(vars: Seq[String],
      rows: Array[org.apache.spark.sql.Row]): String = {
    def bare(v: String): String = v match {
      case typedRe(lex, _) => lex
      case langRe(lex, _) => lex
      case other => other
    }
    def esc(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    (vars.mkString(",") +: rows.toSeq.map(r =>
      vars.indices.map(i =>
        if (r.isNullAt(i)) "" else esc(bare(String.valueOf(r.get(i)))))
        .mkString(","))).mkString("", "\r\n", "\r\n")
  }

  /** SPARQL 1.1 Query Results TSV (§4): terms in SPARQL surface syntax
    * (`<iri>`, `"lex"^^<dt>`, `"lex"@tag`, `_:b`), vars `?`-prefixed.
    */
  private def resultsTsv(vars: Seq[String],
      rows: Array[org.apache.spark.sql.Row]): String =
    (vars.map("?" + _).mkString("\t") +: rows.toSeq.map(r =>
      vars.indices.map(i =>
        if (r.isNullAt(i)) "" else ttlTerm(String.valueOf(r.get(i))))
        .mkString("\t"))).mkString("", "\n", "\n")

  /** A stored-form value in SPARQL/N-Triples surface syntax — the
    * shared renderer re-escapes decorated literals' lexical forms
    * (stored forms hold raw characters), so TSV/graph responses never
    * tear on an embedded newline.
    */
  private def ttlTerm(v: String): String = graft.sources.RdfIO.ntTerm(v)

  /** `ASK` over the protocol: the boolean results-JSON form (§ of the
    * results-JSON spec: `head` + `boolean`, no bindings).
    */
  private[graft] def answerAsk(store: TripleStore, query: String): String = {
    val b = BgpPlanner.ask(store, query).collect()(0).getBoolean(0)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.putObject("head")
    root.put("boolean", b)
    om.writeValueAsString(root)
  }

  /** XML 1.0 escaping, INCLUDING the Char production: stored literals
    * can carry control characters XML 1.0 forbids outright (U+0000–
    * U+0008, U+000B/0C, U+000E–U+001F) — emitted raw they'd produce a
    * response no conforming parser (our own [[SparqlHttp.parseXml]]
    * included) can read. Forbidden characters are replaced with U+FFFD,
    * the standard lossy-decode marker (a numeric reference would be
    * equally unparseable: XML 1.0 bans them even as references).
    */
  private def xmlEsc(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c if c < 0x20 && c != '\t' && c != '\n' && c != '\r' => "�"
      case c => c.toString
    }

  /** SPARQL Query Results XML Format (W3C REC rdf-sparql-XMLres) —
    * the oldest results format and still many clients' default
    * `Accept`; negotiated alongside JSON/CSV/TSV.
    */
  private def resultsXml(vars: Seq[String],
      rows: Array[org.apache.spark.sql.Row]): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\"?>\n"
    sb ++= "<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">\n"
    sb ++= "  <head>\n"
    vars.foreach(v => sb ++= s"""    <variable name="${xmlEsc(v)}"/>\n""")
    sb ++= "  </head>\n  <results>\n"
    rows.foreach { r =>
      sb ++= "    <result>\n"
      vars.zipWithIndex.foreach { case (v, i) =>
        if (!r.isNullAt(i)) {
          sb ++= s"""      <binding name="${xmlEsc(v)}">"""
          String.valueOf(r.get(i)) match {
            case typedRe(lex, dt) =>
              sb ++= s"""<literal datatype="${xmlEsc(dt)}">""" +
                xmlEsc(lex) + "</literal>"
            case langRe(lex, tag) =>
              sb ++= s"""<literal xml:lang="${xmlEsc(tag)}">""" +
                xmlEsc(lex) + "</literal>"
            case b if b.startsWith("_:") =>
              sb ++= "<bnode>" + xmlEsc(b.drop(2)) + "</bnode>"
            case u if u.matches(iriRe) =>
              sb ++= "<uri>" + xmlEsc(u) + "</uri>"
            case lit =>
              sb ++= "<literal>" + xmlEsc(lit) + "</literal>"
          }
          sb ++= "</binding>\n"
        }
      }
      sb ++= "    </result>\n"
    }
    sb ++= "  </results>\n</sparql>\n"
    sb.toString
  }

  /** `ASK` in the XML results format: `<boolean>` replaces
    * `<results>`.
    */
  private[graft] def answerAskXml(store: TripleStore, query: String)
      : String = {
    val b = BgpPlanner.ask(store, query).collect()(0).getBoolean(0)
    "<?xml version=\"1.0\"?>\n" +
      "<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">\n" +
      s"  <head/>\n  <boolean>$b</boolean>\n</sparql>\n"
  }

  /** `CONSTRUCT`/`DESCRIBE` over the protocol: an RDF graph, rendered
    * in the negotiated graph format — N-Triples (the default:
    * universally parseable), subject-grouped Turtle, or a TriG
    * default-graph block. All three round-trip through the repo's own
    * readers (BgpSpec pins the TriG/Turtle loops over live HTTP).
    */
  private[graft] def answerGraph(df: org.apache.spark.sql.DataFrame,
      maxRows: Int,
      format: String = "application/n-triples"): String =
    renderGraph(graphRows(df, maxRows), format)

  /** The row-capped (s, p, o) triples of a graph answer; loud past the
    * cap.
    */
  private def graphRows(df: org.apache.spark.sql.DataFrame,
      maxRows: Int): Array[(String, String, String)] = {
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows) throw new IllegalStateException(
      s"graph exceeds the $maxRows-row response cap")
    rows.map(r => (r.getString(0), r.getString(1), r.getString(2)))
  }

  private def renderGraph(triples: Array[(String, String, String)],
      format: String): String = {
    import graft.sources.RdfIO.{ntRes, ntTerm}
    def ntLines = triples.map { case (s, p, o) =>
      s"${ntRes(s)} ${ntRes(p)} ${ntTerm(o)} ." }
    format match {
      case "text/turtle" =>
        // subject-grouped predicate lists — the Turtle shape real
        // serializers emit; grouping is driver-side over the already
        // row-capped response
        triples.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, ts) =>
          ts.map { case (_, p, o) => s"${ntRes(p)} ${ntTerm(o)}" }
            .mkString(s"${ntRes(s)} ", " ;\n    ", " .")
        }.mkString("", "\n", if (triples.isEmpty) "" else "\n")
      case "application/trig" =>
        // a CONSTRUCT graph is the default graph: TriG's bare `{ … }`
        // block, the }-delimited chunk shape readTrig splits on
        if (triples.isEmpty) ""
        else ntLines.mkString("{\n", "\n", "\n}\n")
      case _ => ntLines.mkString("", "\n", if (triples.isEmpty) "" else "\n")
    }
  }

  /** Lowercase the Accept header and DROP media-range entries the
    * client explicitly refused with `;q=0` (RFC 9110 §12.4.2: qvalue 0
    * means "not acceptable") — the first-position match must never
    * select a refused type. Full q-value weighting stays out of scope
    * (listing order is the de-facto preference signal); only the
    * hard-refusal form is honored.
    */
  private def acceptableRanges(accept: String): String =
    accept.toLowerCase(java.util.Locale.ROOT).split(",")
      .filterNot(_.split(";").drop(1)
        .exists(_.trim.matches("q=0(\\.0{1,3})?")))
      .mkString(",")

  /** Graph-form content negotiation (CONSTRUCT/DESCRIBE responses):
    * first-listed supported type wins, like [[negotiated]]; no
    * supported type → N-Triples.
    */
  private def negotiatedGraph(accept: String): String = {
    val supported = Seq("application/n-triples", "text/turtle",
      "application/trig")
    val acceptLc = acceptableRanges(accept)
    supported.map(t => (acceptLc.indexOf(t), t))
      .filter(_._1 >= 0).sortBy(_._1).map(_._2).headOption
      .getOrElse("application/n-triples")
  }

  private val askFormRe = "(?is)^\\s*ask\\b.*".r
  private val constructFormRe = "(?is)^\\s*construct\\b.*".r
  private val describeFormRe = "(?is)^\\s*describe\\b.*".r

  /** Dispatch one query to its form's evaluator + serialization, with
    * Accept-header content negotiation on SELECT results (results-JSON
    * default; CSV/TSV per the SPARQL 1.1 results formats). Returns the
    * body, its content type and the rows answered (1 for ASK).
    */
  private def answerNegotiated(store: TripleStore, query: String,
      maxRows: Int, accept: String): (String, String, Int) = query match {
    case q if constructFormRe.pattern.matcher(q).matches() ||
        describeFormRe.pattern.matcher(q).matches() =>
      val gf = negotiatedGraph(accept)
      val triples = graphRows(
        if (constructFormRe.pattern.matcher(q).matches())
          BgpPlanner.construct(store, q)
        else BgpPlanner.describe(store, q), maxRows)
      (renderGraph(triples, gf), gf, triples.length)
    case q if askFormRe.pattern.matcher(q).matches() =>
      if (negotiated(accept) == "application/sparql-results+xml")
        (answerAskXml(store, q), "application/sparql-results+xml", 1)
      else (answerAsk(store, q), "application/sparql-results+json", 1)
    case q =>
      val (vars, rows) = solutions(store, q, maxRows)
      val ct = negotiated(accept)
      val body = ct match {
        case "application/sparql-results+xml" => resultsXml(vars, rows)
        case "text/csv" => resultsCsv(vars, rows)
        case "text/tab-separated-values" => resultsTsv(vars, rows)
        case _ => resultsJson(vars, rows)
      }
      (body, ct, rows.length)
  }

  /** Pick the FIRST-listed supported results format from the Accept
    * header (clients order by preference; full q-value weighting is
    * out of scope — listing order is the de-facto preference signal).
    * No supported type listed → results-JSON, the modern default.
    */
  private def negotiated(accept: String): String = {
    val supported = Seq("application/sparql-results+json",
      "application/sparql-results+xml", "text/csv",
      "text/tab-separated-values")
    // media types are case-insensitive (RFC 9110 §8.3.1): 'TEXT/CSV'
    // must match — the supported list is already lowercase; ;q=0
    // refusals are stripped first (acceptableRanges)
    val acceptLc = acceptableRanges(accept)
    supported.map(t => (acceptLc.indexOf(t), t))
      .filter(_._1 >= 0).sortBy(_._1).map(_._2).headOption
      .getOrElse("application/sparql-results+json")
  }

  /** One parsed protocol request: query text, update text, or a bare
    * GET asking for the service description.
    */
  private sealed trait Req
  private final case class QueryReq(text: String,
      version: Option[Int] = None, maxOps: Option[Int] = None) extends Req
  private final case class UpdateReq(text: String) extends Req
  private case object DescribeService extends Req

  /** Pull the operation out of a protocol request (query: §2.1.1-2.1.3;
    * update: §2.2.1-2.2.2 — POST only, `update=` form or raw
    * `application/sparql-update` body; update-via-GET is rejected per
    * the protocol).
    */
  private def requestOf(ex: HttpExchange): Req = {
    def intParam(kv: Map[String, String], k: String): Option[Int] =
      kv.get(k).map(v => scala.util.Try(v.toInt).getOrElse(
        throw new IllegalArgumentException(s"$k must be an integer, got '$v'")))
    def fromForm(s: String): Req = {
      val kv = s.split('&').iterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      kv.get("query").map(v =>
          // time-travel params (persistDir endpoints): version pins a
          // retained dataset version, maxOps bounds its replayed ops
          QueryReq(java.net.URLDecoder.decode(v, "UTF-8"),
            intParam(kv, "version"), intParam(kv, "maxOps")): Req)
        .orElse(kv.get("update").map(v =>
          UpdateReq(java.net.URLDecoder.decode(v, "UTF-8"))))
        .getOrElse(throw new IllegalArgumentException(
          "missing query=/update= parameter"))
    }
    def uriParams: Map[String, String] =
      Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split('&').iterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
    ex.getRequestMethod match {
      case "GET" =>
        fromForm(Option(ex.getRequestURI.getRawQuery)
          .getOrElse(return DescribeService)) match {
          case q: QueryReq => q
          case _: UpdateReq => throw new IllegalArgumentException(
            "update requests require POST (SPARQL 1.1 Protocol §2.2)")
        }
      case "POST" =>
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .getOrElse("")
        if (ct.startsWith("application/sparql-query"))
          // raw-body form: the time-travel pin rides the URI
          QueryReq(body, intParam(uriParams, "version"),
            intParam(uriParams, "maxOps"))
        else if (ct.startsWith("application/sparql-update")) UpdateReq(body)
        else fromForm(body)
      case m => throw new IllegalArgumentException(s"unsupported method $m")
    }
  }

  /** How many updates a persistence-less endpoint absorbs before its
    * store's plan lineage is truncated ([[TripleStore.truncateLineage]]).
    */
  val DefaultCheckpointEvery = 64

  /** The structured line the endpoint logs for one update request:
    * its op count, then — with a persist directory — the insert and
    * tombstone rows its delta batches appended (`?` when a batch was
    * written without being collected), the delta slots it claimed, the
    * dataset version then current, how the served store was made
    * (`advanced`, `loaded` or `flipped`, see [[TripleStore.WriteBack]];
    * `memory` without a persist directory), and the apply, write and
    * advance times in ms; a version flip adds the units it rewrote and
    * carried ([[TripleStore.Flip]]).
    */
  private[graft] def updateLine(ops: Int, applyMs: Long,
      wb: Option[TripleStore.WriteBack]): String = wb match {
    case None => s"[sparql] update ops=$ops store=memory apply_ms=$applyMs"
    case Some(w) =>
      s"[sparql] update ops=$ops delta_rows=${w.rows.fold("?")(_.toString)} " +
        s"seqs=${if (w.seqs.isEmpty) "-" else w.seqs.mkString(",")} " +
        s"version=${w.version.fold("-")(_.toString)} store=${w.outcome} " +
        s"apply_ms=$applyMs write_ms=${w.writeMs} advance_ms=${w.advanceMs}" +
        w.flip.fold("")(f => s" rewrote=${f.rewrote} carried=${f.carried}")
  }

  /** The structured line the endpoint logs for one query request: a
    * hash of its text, the rows it answered (1 for ASK), the
    * milliseconds spent evaluating and rendering it, and where the store
    * it read stands — the dataset version and the delta slot after the
    * last batch merged into it (`-` for a store that stands on no
    * versioned dataset; a version-pinned read names its version and
    * its `maxOps` bound).
    */
  private[graft] def queryLine(hash: String, rows: Int, evalMs: Long,
      version: Option[Int], slot: Option[Int]): String =
    s"[sparql] query hash=$hash rows=$rows eval_ms=$evalMs " +
      s"version=${version.fold("-")(_.toString)} slot=${slot.fold("-")(_.toString)}"

  /** Start serving `store` at `http://localhost:<port><path>`; port 0
    * picks an ephemeral port. The handler evaluates each request on
    * the store's own SparkSession (protocol requests are the
    * coordinator loop, not executor work). With `persistDir` every
    * update is written back to the versioned dataset there
    * ([[TripleStore.writeBackDelta]]) and the dataset survives
    * restarts: `serve(fromDatasetParquet(dir), persistDir = Some(dir))`
    * resumes from the `VERSION` pointer. Each update logs one
    * [[updateLine]] to stderr and each query one [[queryLine]];
    * [[Handle.lastUpdate]] and [[Handle.lastQuery]] hold the latest.
    */
  def serve(store: TripleStore, port: Int = 0, path: String = "/sparql",
      maxRows: Int = MaxResponseRows,
      bindAddress: InetAddress = InetAddress.getLoopbackAddress,
      externalUrl: Option[String] = None,
      persistDir: Option[String] = None,
      checkpointEvery: Int = DefaultCheckpointEvery): Handle = {
    // both dataset layouts persist: string-form stores append lexical
    // delta rows, encoded stores id-space rows plus per-op dict-growth
    // batches (TripleStore.writeBackDelta handles each)
    // loopback by DEFAULT: an unauthenticated endpoint that evaluates
    // arbitrary queries (including SERVICE blocks that trigger
    // outbound fetches from this host) must not bind 0.0.0.0 unless
    // the deployer passes a network address deliberately.
    val server = HttpServer.create(new InetSocketAddress(bindAddress, port), 0)
    // the ADVERTISED endpoint (Handle.endpoint, sd:endpoint) derives
    // from the actual bind address — a non-loopback bind advertises an
    // IRI remote clients can dereference; behind a proxy/DNS the
    // deployer passes externalUrl and that wins verbatim
    val advertised = externalUrl.getOrElse {
      val host =
        if (bindAddress.isLoopbackAddress) "localhost"
        else if (bindAddress.isAnyLocalAddress)
          try InetAddress.getLocalHost.getHostAddress
          catch { case _: java.net.UnknownHostException => "localhost" }
        else bindAddress.getHostAddress
      s"http://$host:${server.getAddress.getPort}$path"
    }
    val ref = new java.util.concurrent.atomic.AtomicReference(store)
    val lastLine = new java.util.concurrent.atomic.AtomicReference[String]()
    val lastRead = new java.util.concurrent.atomic.AtomicReference[String]()
    // updates serialize: SPARQL Update request semantics are
    // one-at-a-time against the then-current dataset (stores are
    // immutable; each update swaps the reference queries read)
    val updateLock = new Object
    // lineage/persistence bound, applied under updateLock after each
    // successful op chain. With a persistDir each op's ROW-GRAIN delta
    // appends into the versioned dataset layout (insert/tombstone
    // batches, compacted into a fresh version past
    // TripleStore.CompactDeltaBatches) and the served store is the one
    // writeBackDelta returns: between version flips it is the current
    // store ADVANCED by the batches just written (only the touched
    // slices re-merge, from the delta log held on the driver), and it
    // is LOADED from disk only at a flip (bootstrap, structural op,
    // compaction), after another writer's batch, or when the log
    // outgrows the broadcast threshold — lineage stays bounded either
    // way. Without one, every checkpointEvery ops the plan lineage
    // truncates in memory.
    var opsSinceCheckpoint = 0
    def boundedOps(spark: org.apache.spark.sql.SparkSession,
        prev: TripleStore,
        ops: Seq[SparqlUpdate.UpdateOp]): TripleStore = {
      val t0 = System.nanoTime()
      def sinceStart: Long = (System.nanoTime() - t0) / 1000000
      def logged(applyMs: Long, wb: Option[TripleStore.WriteBack]): Unit = {
        val line = updateLine(ops.size, applyMs, wb)
        lastLine.set(line)
        System.err.println(line)
      }
      persistDir match {
        case Some(dir) =>
          // op-introspected deltas: a 1-triple INSERT writes a 1-row
          // delta batch, never a slice scan or rewrite — bytes (and
          // jobs) per op scale with the op's delta rows
          val (next, deltas) = ops.foldLeft(
            (prev, Vector.empty[TripleStore.OpDelta])) {
            case ((st, acc), op) =>
              val (n, d) = SparqlUpdate.applyWithDelta(spark, st, op)
              (n, acc :+ d)
          }
          val applyMs = sinceStart
          TripleStore.writeBackDelta(prev, next, dir, deltas,
            wb => logged(applyMs, Some(wb)))
        case None =>
          val next = ops.foldLeft(prev)(SparqlUpdate.apply(spark, _, _))
          logged(sinceStart, None)
          opsSinceCheckpoint += 1
          if (opsSinceCheckpoint >= checkpointEvery) {
            opsSinceCheckpoint = 0
            TripleStore.truncateLineage(next)
          } else next
      }
    }
    server.createContext(path, new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val (code, body, ctype) =
          try {
            requestOf(ex) match {
              case UpdateReq(text) =>
                updateLock.synchronized {
                  val cur = ref.get()
                  val spark = cur.slices.values.head.sparkSession
                  ref.set(boundedOps(spark, cur, SparqlUpdate.parse(text)))
                }
                (204, "", "text/plain")
              case QueryReq(text, version, maxOps) =>
                val accept = Option(
                  ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
                // version-pinned reads (time travel over HTTP): load
                // the retained version's store while the head keeps
                // moving — an unretained version rejects as a 400 via
                // fromDatasetParquet's loud require, never a partial
                // answer. The pinned load is metadata + lazy scans;
                // the evaluation itself is the normal query arm.
                val t0 = System.nanoTime()
                val st = version match {
                  case None => ref.get()
                  case Some(v) =>
                    val dir = persistDir.getOrElse(
                      throw new IllegalArgumentException(
                        "version-pinned queries need an endpoint served " +
                          "with persistDir (no versioned dataset here)"))
                    val spark = ref.get().slices.values.head.sparkSession
                    TripleStore.fromDatasetParquet(spark, dir, v, maxOps)
                }
                val (b, ct, rows) = answerNegotiated(st, text, maxRows, accept)
                val at: Option[(Option[Int], Option[Int])] =
                  version.fold(st.stands.map(s =>
                    (TripleStore.versionOf(s.root), Option(s.nextSeq))))(v =>
                    Some((Some(v), maxOps)))
                val line = queryLine(
                  f"${scala.util.hashing.MurmurHash3.stringHash(text)}%08x", rows,
                  (System.nanoTime() - t0) / 1000000, at.flatMap(_._1),
                  at.flatMap(_._2))
                lastRead.set(line)
                System.err.println(line)
                (200, b, ct)
              case DescribeService =>
                // SPARQL 1.1 Service Description: a bare GET answers
                // with the discovery graph — endpoint capabilities in
                // Turtle, the spec's conneg-free default
                (200, serviceDescription(advertised,
                  timeTravel = persistDir.isDefined), "text/turtle")
            }
          } catch {
            case e: IllegalArgumentException =>
              (400, s"bad request: ${e.getMessage}", "text/plain")
            case scala.util.control.NonFatal(e) =>
              (500, s"request failed: ${e.getMessage}", "text/plain")
          }
        if (code == 204) {
          ex.sendResponseHeaders(204, -1)
        } else {
          val bytes = body.getBytes("UTF-8")
          ex.getResponseHeaders.add("Content-Type", ctype)
          ex.sendResponseHeaders(code, bytes.length)
          ex.getResponseBody.write(bytes)
        }
        ex.close()
      }
    })
    // SPARQL 1.1 Graph Store HTTP Protocol (§5) at `<path>/graphs`:
    // the graph is identified indirectly via `?default` or
    // `?graph=<iri>`; GET renders it as N-Triples (row-capped), PUT
    // replaces it with the N-Triples payload, POST merges the payload
    // in, DELETE removes it (404 on an absent named graph). Payloads
    // are byte-capped (413) and parse strictly — a malformed line is a
    // 400, never a silent drop (request content is not a lossy scan).
    server.createContext(path + "/graphs", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val (code, body, ctype) =
          try {
            val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
              .split('&').iterator.filter(_.nonEmpty).map(_.split("=", 2))
              .map {
                case Array(k) => k -> ""
                case Array(k, v) =>
                  k -> java.net.URLDecoder.decode(v, "UTF-8")
              }.toMap
            val target: Option[String] =
              if (params.contains("default")) None
              else Some(params.getOrElse("graph",
                throw new IllegalArgumentException(
                  "identify the graph with ?default or ?graph=<iri>")))
            def payload(): Seq[(String, String, String)] = {
              val bytes = ex.getRequestBody.readNBytes(MaxPayloadBytes + 1)
              if (bytes.length > MaxPayloadBytes)
                throw new PayloadTooLarge(
                  s"payload exceeds the $MaxPayloadBytes-byte cap — bulk " +
                    "loads belong on LOAD or the streaming ingest arms")
              new String(bytes, "UTF-8").linesIterator.map(_.trim)
                .filter(l => l.nonEmpty && !l.startsWith("#"))
                .map(l => graft.sources.RdfIO.parseNtLine(l).getOrElse(
                  throw new IllegalArgumentException(
                    s"malformed N-Triples payload line: $l")))
                .toSeq
            }
            def applyOps(ops: Seq[SparqlUpdate.UpdateOp]): Unit =
              updateLock.synchronized {
                val cur = ref.get()
                val spark = cur.slices.values.head.sparkSession
                ref.set(boundedOps(spark, cur, ops))
              }
            import SparqlUpdate._
            ex.getRequestMethod match {
              case "GET" =>
                val q = target match {
                  case None => "select ?s ?p ?o where { ?s ?p ?o }"
                  case Some(g) =>
                    s"select ?s ?p ?o where { graph <$g> { ?s ?p ?o } }"
                }
                // GSP §5.2 supports content negotiation like the query
                // arm's CONSTRUCT: Turtle/TriG via the same renderer
                val gf = negotiatedGraph(Option(
                  ex.getRequestHeaders.getFirst("Accept")).getOrElse(""))
                (200, answerGraph(BgpPlanner.query(ref.get(), q)
                  .select("s", "p", "o"), maxRows, gf), gf)
              case "PUT" =>
                val ts = payload()
                applyOps(target match {
                  case None => Seq(ClearDefault, InsertData(ts))
                  case Some(g) => Seq(DropGraph(Some(g), silent = true),
                    InsertDataGraph(g, ts))
                })
                (204, "", "text/plain")
              case "POST" =>
                val ts = payload()
                applyOps(Seq(target.fold(InsertData(ts): UpdateOp)(
                  InsertDataGraph(_, ts))))
                (204, "", "text/plain")
              case "DELETE" =>
                applyOps(Seq(target.fold(ClearDefault: UpdateOp)(g =>
                  DropGraph(Some(g), silent = false))))
                (204, "", "text/plain")
              case m => throw new IllegalArgumentException(
                s"unsupported method $m")
            }
          } catch {
            case e: PayloadTooLarge => (413, e.getMessage, "text/plain")
            case e: IllegalStateException
                if e.getMessage != null && e.getMessage.contains("no such graph") =>
              (404, e.getMessage, "text/plain")
            case e: IllegalArgumentException =>
              (400, s"bad request: ${e.getMessage}", "text/plain")
            case scala.util.control.NonFatal(e) =>
              (500, s"request failed: ${e.getMessage}", "text/plain")
          }
        if (code == 204) {
          ex.sendResponseHeaders(204, -1)
        } else {
          val bytes = body.getBytes("UTF-8")
          ex.getResponseHeaders.add("Content-Type", ctype)
          ex.sendResponseHeaders(code, bytes.length)
          ex.getResponseBody.write(bytes)
        }
        ex.close()
      }
    })
    server.start()
    new Handle(server, advertised, ref, lastLine, lastRead)
  }

  private final class PayloadTooLarge(msg: String)
    extends RuntimeException(msg)

  /** SPARQL 1.1 Service Description (W3C REC sparql11-service-
    * description): the discovery graph a conformant endpoint answers a
    * bare dereference with — supported languages, result formats, and
    * the graph-store service location, in Turtle.
    */
  private[graft] def serviceDescription(endpoint: String,
      timeTravel: Boolean = false): String = {
    val sd = "http://www.w3.org/ns/sparql-service-description#"
    val fmt = "http://www.w3.org/ns/formats/"
    // version-pinned reads advertise as an extension feature so a
    // client can DISCOVER them (sd:feature takes any IRI; the graft
    // namespace documents the ?version=/&maxOps= convention)
    val tt =
      if (timeTravel)
        " , <http://graft.invalid/ns#VersionPinnedQuery>"
      else ""
    s"""@prefix sd: <$sd> .
       |@prefix formats: <$fmt> .
       |_:service a sd:Service ;
       |  sd:endpoint <$endpoint> ;
       |  sd:supportedLanguage sd:SPARQL11Query , sd:SPARQL11Update ;
       |  sd:resultFormat formats:SPARQL_Results_JSON ,
       |    formats:SPARQL_Results_XML , formats:SPARQL_Results_CSV ,
       |    formats:SPARQL_Results_TSV , formats:N-Triples ;
       |  sd:feature sd:BasicFederatedQuery$tt .
       |""".stripMargin
  }
}
