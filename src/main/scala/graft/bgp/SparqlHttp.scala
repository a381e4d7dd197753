package graft.bgp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The HTTP transport arm of `SERVICE` federation — the seam
  * ServiceRegistry left open (an in-process TripleStore stands in for
  * the remote endpoint elsewhere; here the endpoint is a real SPARQL
  * 1.1 Protocol server).
  *
  * The block ships as `GET ?query=` with the OUTER solution's distinct
  * shared-var bindings injected as a `VALUES` clause — the bound-join
  * optimization ON THE WIRE, so a selective outer pattern never pulls
  * the full remote relation (DREAM's ship-auxiliary-data-only
  * principle; the in-process stores get the same shape as a LeftSemi
  * seed). Responses parse from `application/sparql-results+json`
  * (jackson rides Spark's own classpath) into the store's canonical
  * term spellings — plain IRI/literal strings, `canonTyped` /
  * `canonLang` decorated forms — so downstream joins and filters see
  * exactly what a local scan would produce.
  *
  * Scale note: the response materializes on the driver — that IS the
  * SPARQL federation protocol (results come over the wire to the
  * coordinator), and the VALUES restriction is what keeps it
  * result-sized. The binding batch is capped ([[MaxBoundRows]]); past
  * the cap the query degrades gracefully to the unrestricted block
  * (correct, just less communication-optimal), mirroring production
  * federation engines' bound-join batching.
  */
object SparqlHttp {

  /** Bindings above this count stop being injected as VALUES (the
    * request URL must stay bounded); the block then evaluates
    * unrestricted and the planner's ordinary join applies the
    * restriction locally.
    */
  val MaxBoundRows = 1000

  def isHttp(endpoint: String): Boolean =
    endpoint.startsWith("http://") || endpoint.startsWith("https://")

  /** Render a stored-form constant back to SPARQL surface syntax:
    * decorated literals pass through, IRI-shaped terms re-bracket,
    * anything else quotes (with escapes).
    */
  private[bgp] def term(v: String): String =
    if (v.startsWith("\"")) v
    else if (v.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) s"<$v>"
    else "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The block's query text: projected vars, the RAW group body
    * exactly as the user wrote it (FILTER / OPTIONAL / ... ship
    * through untouched — the remote endpoint owns their semantics),
    * and the optional bound-join VALUES clause appended inside the
    * group.
    */
  private[bgp] def render(
      selectVars: Seq[String],
      rawBody: String,
      boundVars: Seq[String],
      boundRows: Seq[Seq[String]]): String = {
    val values =
      if (boundVars.isEmpty || boundRows.isEmpty) ""
      else s" VALUES (${boundVars.map("?" + _).mkString(" ")}) { " +
        boundRows.map(r => "(" + r.map(term).mkString(" ") + ")")
          .mkString(" ") + " }"
    s"SELECT ${selectVars.map("?" + _).mkString(" ")} " +
      s"WHERE { $rawBody $values }"
  }

  /** Queries whose encoded form exceeds this ride the protocol's POST
    * arm (§2.1.2, `application/x-www-form-urlencoded`) — proxies and
    * servers commonly cap GET URLs around 8 KB, and a VALUES-heavy
    * bound join gets there fast.
    */
  private val MaxGetQueryBytes = 4096

  /** Hard cap on the bytes a federation response may buffer on the
    * driver (the protocol's materialization point). An unselective
    * remote block over a huge remote relation fails LOUDLY at the cap
    * instead of OOMing the coordinator — the remedy is a more
    * selective block (or a seed under [[MaxBoundRows]], which ships as
    * the VALUES restriction and keeps the response binding-sized).
    */
  val MaxResponseBytes: Long = 64L * 1024 * 1024

  /** The one client every fetch sends through. It pools keep-alive
    * connections per endpoint, and its one selector thread lives as
    * long as the JVM; a client per request would open a fresh
    * connection each time and leave a selector thread running until GC.
    */
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  private[graft] def fetch(endpoint: String, query: String,
      maxBytes: Long = MaxResponseBytes,
      accept: String = "application/sparql-results+json"): String = {
    val enc = java.net.URLEncoder.encode(query, "UTF-8")
    val builder =
      if (enc.length <= MaxGetQueryBytes)
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(endpoint + "?query=" + enc)).GET()
      else
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(java.net.http.HttpRequest.BodyPublishers
            .ofString("query=" + enc))
    val req = builder
      .header("Accept", accept)
      .timeout(java.time.Duration.ofSeconds(30)).build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofInputStream())
    val in = resp.body()
    try {
      if (resp.statusCode() != 200) throw new java.io.IOException(
        s"SPARQL endpoint $endpoint returned HTTP ${resp.statusCode()}")
      // STREAM-read under the cap: the response never buffers past
      // MaxResponseBytes + one chunk, and an oversized one fails
      // loudly mid-stream rather than after a driver-sized allocation
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > maxBytes) throw new java.io.IOException(
          s"SPARQL endpoint $endpoint response exceeds the " +
            s"$maxBytes-byte cap — restrict the SERVICE block " +
            "(a seed under MaxBoundRows ships as a VALUES restriction)")
        n = in.read(buf)
      }
      out.toString("UTF-8")
    } finally in.close()
  }

  /** `application/sparql-results+json` → (vars, rows) in canonical
    * stored-form spellings; unbound = null.
    */
  private[graft] def parse(json: String): (Seq[String], Seq[Seq[String]]) = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val vars = root.path("head").path("vars").elements().asScala
      .map(_.asText()).toSeq
    val rows = root.path("results").path("bindings").elements().asScala
      .map { b =>
        vars.map { v =>
          val n = b.path(v)
          if (n.isMissingNode || n.path("value").isMissingNode) null
          else {
            val value = n.path("value").asText()
            n.path("type").asText() match {
              case "literal" | "typed-literal" =>
                val dt = n.path("datatype").asText("")
                val lang = n.path("xml:lang").asText("")
                if (dt.nonEmpty) Sparql.canonTyped(value, dt)
                else if (lang.nonEmpty) Sparql.canonLang(value, lang)
                else value
              // the protocol strips the _: prefix from bnode labels;
              // restore the stored-form spelling
              case "bnode" => "_:" + value
              case _ => value // uri passes through
            }
          }
        }
      }.toSeq
    (vars, rows)
  }

  /** `application/sparql-results+xml` → (vars, rows) in canonical
    * stored-form spellings; unbound = null. The symmetric twin of
    * [[parse]] for endpoints (or clients) that default to the XML
    * results format — the oldest of the W3C result serializations.
    */
  private[graft] def parseXml(xml: String): (Seq[String], Seq[Seq[String]]) = {
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new org.xml.sax.InputSource(new java.io.StringReader(xml)))
    def elems(parent: org.w3c.dom.Node, name: String)
        : Seq[org.w3c.dom.Element] = {
      val kids = parent.getChildNodes
      (0 until kids.getLength).map(kids.item).collect {
        case e: org.w3c.dom.Element if e.getLocalName == name ||
          e.getTagName == name => e
      }
    }
    val root = doc.getDocumentElement
    val vars = elems(root, "head").flatMap(elems(_, "variable"))
      .map(_.getAttribute("name"))
    val rows = elems(root, "results").flatMap(elems(_, "result")).map { res =>
      val bound = elems(res, "binding").flatMap { b =>
        val name = b.getAttribute("name")
        val kids = b.getChildNodes
        (0 until kids.getLength).map(kids.item).collectFirst {
          case e: org.w3c.dom.Element =>
            val text = e.getTextContent
            (e.getLocalName match {
              case null => e.getTagName
              case ln => ln
            }) match {
              case "uri" => name -> text
              case "bnode" => name -> ("_:" + text)
              case "literal" =>
                val dt = e.getAttribute("datatype")
                val lang = e.getAttribute("xml:lang")
                if (dt.nonEmpty) name -> Sparql.canonTyped(text, dt)
                else if (lang.nonEmpty) name -> Sparql.canonLang(text, lang)
                else name -> text
              case _ => name -> text
            }
        }
      }.toMap
      vars.map(bound.getOrElse(_, null))
    }
    (vars, rows)
  }

  /** Evaluate a SERVICE block against an HTTP endpoint and return its
    * solution as a DataFrame over the block's vars (string columns,
    * null = unbound), exactly the shape the in-process arm produces.
    */
  def queryDf(
      spark: SparkSession,
      endpoint: String,
      selectVars: Seq[String],
      rawBody: String,
      boundVars: Seq[String],
      boundRows: Seq[Seq[String]]): DataFrame = {
    val want = selectVars
    val (got, rows) = parse(fetch(endpoint,
      render(selectVars, rawBody, boundVars, boundRows)))
    val idx = want.map(got.indexOf)
    idx.zip(want).foreach { case (i, v) => require(i >= 0,
      s"endpoint $endpoint did not bind ?$v") }
    val schema = StructType(want.map(v =>
      StructField(v, StringType, nullable = true)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map(r => Row.fromSeq(idx.map(r(_)))).asJava, schema)
  }
}
