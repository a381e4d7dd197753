package graft.sources

import graft.bgp.TripleStore
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** RDF I/O surface — the reference's sources and sinks, Spark-native.
  *
  *  - S1 query-file source (Client.c:14, readFile ProxyUtil.c:103-129):
  *    [[readQuery]].
  *  - Base-data ingest (the reference delegates storage to RDF-3X,
  *    loaded from N-Triples dumps per the RDF-3X toolchain):
  *    [[readNTriples]] → [[TripleStore]].
  *  - S5 result sink (Proxy.c:71-85,166-177,237-255): [[writeResult]]
  *    materializes a result DataFrame as text with the reference's
  *    `<empty result>` sentinel for the 0-row case (golden file
  *    Result-Q2:1).
  */
object RdfIO {

  /** Parse one N-Triples line → (s, p, o); tolerates `<uri>` terms,
    * `"literal"` objects — with an optional `^^<datatype>` or `@lang`
    * suffix, preserved in the store's canonical spelling
    * ([[graft.bgp.Sparql.canonTyped]]/[[graft.bgp.Sparql.canonLang]]) —
    * blank nodes (`_:b`, kept as opaque node ids), and trailing `.`.
    * Returns null for comments/blank lines (filtered by the caller).
    */
  private val ntLine =
    ("""^\s*(?:<([^>]*)>|(\S+))\s+(?:<([^>]*)>|(\S+))\s+(?:<([^>]*)>""" +
      """|"((?:[^"\\]|\\.)*)"(\^\^<[^>]*>|@[A-Za-z]+(?:-[A-Za-z0-9]+)*)?""" +
      """|(\S+))\s*\.\s*$""").r

  /** Read an N-Triples file into a (vertically partitioned) triple
    * store. The parse is a per-line map over a distributed text scan —
    * no driver-side work; malformed lines are dropped (count them via
    * the returned store if strictness is needed).
    */
  def readNTriples(spark: SparkSession, path: String): TripleStore =
    TripleStore.fromTriples(ntriplesDF(spark, path))

  /** The parsed `(s, p, o)` relation of an N-Triples file — the store
    * build above and SPARQL Update's `LOAD` share this one parser.
    */
  def ntriplesDF(spark: SparkSession, path: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.read.textFile(path)
      .filter(l => l.trim.nonEmpty && !l.trim.startsWith("#"))
      .flatMap(parseNtLine _)
      .toDF("s", "p", "o")
  }

  /** N-Quads line: the three N-Triples terms plus an optional fourth
    * graph label (IRI or blank node); absent → default graph.
    */
  private val nqLine =
    ("""^\s*(?:<([^>]*)>|(\S+))\s+(?:<([^>]*)>|(\S+))\s+(?:<([^>]*)>""" +
      """|"((?:[^"\\]|\\.)*)"(\^\^<[^>]*>|@[A-Za-z]+(?:-[A-Za-z0-9]+)*)?""" +
      """|(_:\S+))(?:\s+(?:<([^>]*)>|(_:\S+)))?\s*\.\s*$""").r

  /** The parsed `(g, s, p, o)` relation of an N-Quads file — `g` is
    * null for default-graph statements (an N-Quads file without graph
    * labels IS an N-Triples file, per the spec). The parse is the same
    * splittable per-line map as [[ntriplesDF]].
    */
  def nquadsDF(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path)
      .filter(l => l.trim.nonEmpty && !l.trim.startsWith("#"))
      .flatMap(parseNqLine _)
      .toDF("g", "s", "p", "o")
  }

  /** Read an N-Quads file into a DATASET-shaped store: default-graph
    * statements build the vertically partitioned slices
    * ([[TripleStore.fromTriples]]), graph-labeled statements land in
    * the quads relation — the in-memory twin of
    * [[TripleStore.fromDatasetParquet]]. Compose with
    * [[TripleStore.writeDataset]] to persist the (g, p)-partitioned
    * layout, after which GRAPH queries answer by double partition
    * pruning; this closes the one-LOAD-per-graph gap for the quad
    * formats real named-graph corpora ship in.
    */
  def readNQuads(spark: SparkSession, path: String): TripleStore = {
    import org.apache.spark.sql.functions.col
    val q = nquadsDF(spark, path)
    val st = TripleStore.fromTriples(
      q.where(col("g").isNull).select("s", "p", "o"))
    // RDF graphs are sets: duplicate statements (legal and common in
    // dumps) collapse — the same distinct fromTriples applies per slice
    st.copy(quads = Some(q.where(col("g").isNotNull)
      .select("g", "s", "p", "o").distinct()))
  }

  /** One N-Quads line → (g | null, s, p, o); None when malformed. */
  private[graft] def parseNqLine(l: String)
      : Option[(String, String, String, String)] = l match {
    case nqLine(su, sb, pu, pb, ou, olit, odeco, ob, gu, gb) =>
      val s = if (su != null) su else sb
      val p = if (pu != null) pu else pb
      val o =
        if (ou != null) ou
        else if (olit != null) {
          // plain literals unescape — the store-wide raw-character
          // convention (see parseNtLine)
          if (odeco == null) graft.bgp.Sparql.unescapeLit(olit)
          else if (odeco.startsWith("^^<"))
            graft.bgp.Sparql.canonTyped(olit, odeco.drop(3).dropRight(1))
          else graft.bgp.Sparql.canonLang(olit, odeco.drop(1))
        }
        else ob
      val g = if (gu != null) gu else gb // null → default graph
      Some((g, s, p, o))
    case _ => None
  }

  /** One N-Triples line's triple, None when malformed/comment (also
    * the Graph Store Protocol's payload parser — see
    * [[graft.bgp.SparqlServer]]).
    */
  private[graft] def parseNtLine(l: String): Option[(String, String, String)] =
    l match {
      case ntLine(su, sb, pu, pb, ou, olit, odeco, ob) =>
        val s = if (su != null) su else sb
        val p = if (pu != null) pu else pb
        val o =
          if (ou != null) ou
          else if (olit != null) {
            // stored lexical forms hold ACTUAL characters (the Turtle
            // reader's and canonTyped/canonLang's shared convention):
            // plain literals unescape here too, so both RDF readers —
            // and the writers' re-escaping — agree on one spelling
            if (odeco == null) graft.bgp.Sparql.unescapeLit(olit)
            else if (odeco.startsWith("^^<"))
              graft.bgp.Sparql.canonTyped(olit, odeco.drop(3).dropRight(1))
            else graft.bgp.Sparql.canonLang(olit, odeco.drop(1))
          }
          else ob
        Some((s, p, o))
      case _ => None
    }

  private val typedFormRe = "(?s)^\"(.*)\"\\^\\^<([^<>]*)>$".r
  private val langFormRe = "(?s)^\"(.*)\"@([A-Za-z0-9-]+)$".r
  private val iriFormRe = "^[A-Za-z][A-Za-z0-9+.-]*:.*$"

  private def escapeLex(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    }

  /** One stored-form value in N-Triples surface syntax — the exact
    * inverse of the parse side's canonicalization, INCLUDING
    * re-escaping: stored lexical forms hold raw characters
    * ([[graft.bgp.Sparql.unescapeLit]] ran at parse time), so a
    * decorated literal's lex re-escapes on the way out (a raw newline
    * inside a typed literal would otherwise tear the line-based
    * format).
    */
  private[graft] def ntTerm(v: String): String = v match {
    case typedFormRe(lex, dt) => "\"" + escapeLex(lex) + "\"^^<" + dt + ">"
    case langFormRe(lex, tag) => "\"" + escapeLex(lex) + "\"@" + tag
    case b if b.startsWith("_:") => b
    case u if u.matches(iriFormRe) => "<" + u + ">"
    case lit => "\"" + escapeLex(lit) + "\""
  }

  /** A RESOURCE position (subject/predicate/graph) in surface syntax:
    * blank nodes pass; everything else brackets — including the
    * relaxed store model's bare resource tokens (`name`, `worksFor`),
    * which round-trip exactly through BOTH readers (`<name>` comes
    * back as `name`: the N-Triples reader strips brackets verbatim,
    * and the Turtle-family reader returns a non-scheme bracketed form
    * as-is when no `@base` is in scope — our writers emit none).
    * Rendering them as quoted literals instead would corrupt the
    * round trip (a re-read literal predicate never matches its slice).
    */
  private[graft] def ntRes(v: String): String =
    if (v.startsWith("_:")) v else s"<$v>"

  /** DISTRIBUTED N-Triples sink: each `(s, p, o)` row renders to one
    * statement line executor-side — the export twin of [[ntriplesDF]]
    * (the protocol's GET arm is row-capped driver materialization;
    * a corpus export must be a parallel write). Round-trip exact:
    * `ntriplesDF(writeNTriples(df))` reproduces the stored forms.
    */
  def writeNTriples(df: DataFrame, path: String,
      codec: Option[String] = None): Unit = {
    import df.sparkSession.implicits._
    textOut(df.select(col("s").cast("string"), col("p").cast("string"),
        col("o").cast("string"))
      .as[(String, String, String)]
      .map { case (s, p, o) => s"${ntRes(s)} ${ntRes(p)} ${ntTerm(o)} ." },
      path, codec)
  }

  /** Text-sink tail shared by the four writers: `codec` (gzip/bzip2/
    * zstd/…) emits one compressed shard per partition — many small
    * compressed files keep their parallelism on re-read, and
    * [[CompressedIngest.decompressAndShard]] restores full splittable
    * fan-out for dumps that arrive as a few huge archives.
    */
  private def textOut(ds: org.apache.spark.sql.Dataset[String],
      path: String, codec: Option[String]): Unit = {
    val w = ds.write.mode(SaveMode.Overwrite)
    codec.fold(w)(c => w.option("compression", c)).text(path)
  }

  /** DISTRIBUTED N-Quads sink over a `(g, s, p, o)` relation — null
    * `g` renders a default-graph (triple) line, so one export carries
    * a whole dataset; the twin of [[nquadsDF]]/[[readNQuads]].
    */
  def writeNQuads(df: DataFrame, path: String,
      codec: Option[String] = None): Unit = {
    import df.sparkSession.implicits._
    textOut(df.select(col("g").cast("string"), col("s").cast("string"),
        col("p").cast("string"), col("o").cast("string"))
      .as[(String, String, String, String)]
      .map { case (g, s, p, o) =>
        val head = s"${ntRes(s)} ${ntRes(p)} ${ntTerm(o)}"
        if (g == null) s"$head ." else s"$head ${ntRes(g)} ."
      }, path, codec)
  }

  /** The whole-dataset relation behind the exports: the default graph
    * dumps through the planner's variable-predicate path (which
    * DECODES on encoded stores — export is lexical by definition),
    * named graphs ride the quads relation; `g` null = default graph.
    */
  private def datasetRelation(store: TripleStore): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val dflt = graft.bgp.BgpPlanner.query(store,
        "select ?s ?p ?o where { ?s ?p ?o }")
      .select(lit(null).cast("string").as("g"), col("s"), col("p"), col("o"))
    val named = store.quads.map(_ =>
      graft.bgp.BgpPlanner.query(store,
          "select ?g ?s ?p ?o where { graph ?g { ?s ?p ?o } }")
        .select("g", "s", "p", "o"))
    named.fold(dflt)(dflt.unionByName(_))
  }

  /** Export a whole store as N-Quads — one distributed write, no
    * driver materialization.
    */
  def exportNQuads(store: TripleStore, path: String): Unit =
    writeNQuads(datasetRelation(store), path)

  /** DISTRIBUTED TriG sink over a `(g, s, p, o)` relation: each
    * partition sorts by graph label and emits one `<g> { … }` block
    * per label run (TriG permits the same label on many blocks — the
    * graphs merge on read — so blocks parallelize across partitions
    * with no graph-sized collection anywhere); null-`g` rows render as
    * top-level default-graph statements, which sort first. The block
    * close lands on its own line, so the output is exactly the
    * `}`-delimited chunk shape [[TurtleIO.readTrig]] splits on.
    */
  def writeTrig(df: DataFrame, path: String,
      codec: Option[String] = None): Unit = {
    import df.sparkSession.implicits._
    textOut(df.select(col("g").cast("string"), col("s").cast("string"),
        col("p").cast("string"), col("o").cast("string"))
      .sortWithinPartitions("g")
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        var cur: Option[String] = None
        val body = it.flatMap { case (g, s, p, o) =>
          val line = s"${ntRes(s)} ${ntRes(p)} ${ntTerm(o)} ."
          val gOpt = Option(g)
          if (gOpt == cur) Iterator(line)
          else {
            val close = if (cur.isDefined) Iterator("}") else Iterator.empty
            cur = gOpt
            close ++ gOpt.iterator.map(x => s"${ntRes(x)} {") ++
              Iterator(line)
          }
        }
        body ++ Iterator.single(()).flatMap(_ =>
          if (cur.isDefined) Iterator("}") else Iterator.empty)
      }, path, codec)
  }

  /** Export a whole store as TriG (the compact dataset serialization
    * [[TurtleIO.readTrig]] reads back) — distributed, decode-on-export
    * like [[exportNQuads]].
    */
  def exportTrig(store: TripleStore, path: String): Unit =
    writeTrig(datasetRelation(store), path)

  /** Local-part shape a compacted name may carry: conservative subset
    * of Turtle PN_LOCAL that the repo's own tokenizer reads back as
    * one token with no terminator/escape ambiguity.
    */
  private val pnLocalRe = java.util.regex.Pattern
    .compile("[A-Za-z_][A-Za-z0-9_]*")

  /** `v` as a prefixed name under `pm` (namespace → prefix label), or
    * None when `v` is not IRI-shaped, has no `/`/`#` namespace split,
    * or its local part would not re-tokenize cleanly.
    */
  private def compactTerm(v: String,
      pm: Map[String, String]): Option[String] = {
    if (!v.matches(iriFormRe)) return None
    val i = math.max(v.lastIndexOf('/'), v.lastIndexOf('#'))
    if (i < 0 || i == v.length - 1) return None
    val local = v.substring(i + 1)
    if (!pnLocalRe.matcher(local).matches()) return None
    pm.get(v.substring(0, i + 1)).map(p => s"$p:$local")
  }

  /** DISTRIBUTED Turtle sink with namespace compaction: one bounded
    * aggregation ranks IRI namespaces (split at the last `/` or `#`)
    * by frequency across s/p/o — map-side partial counts, a
    * `maxPrefixes`-row collect — and the winners become a
    * deterministic `@prefix nsK:` header emitted at the head of EVERY
    * non-empty partition, so each part-file is a self-contained Turtle
    * document (the reader deduplicates identical declarations).
    * Partitions sort by subject locally (no shuffle) and render
    * subject-grouped predicate lists, compacting a term to `nsK:local`
    * only when the local part re-tokenizes unambiguously; everything
    * else renders through the shared N-Triples-form terms, whose
    * escaping keeps statement terminators out of literal bodies.
    * Round-trip exact through [[TurtleIO.turtleDF]].
    */
  def writeTurtle(df: DataFrame, path: String,
      maxPrefixes: Int = 16, codec: Option[String] = None): Unit = {
    import df.sparkSession.implicits._
    val terms = df.select(col("s").cast("string"), col("p").cast("string"),
      col("o").cast("string"))
    val pm: Map[String, String] =
      if (maxPrefixes <= 0) Map.empty
      else {
        val iriAnchored = iriFormRe
        val ranked = terms
          .select(explode(array(col("s"), col("p"), col("o"))).as("t"))
          .where(col("t").rlike(iriAnchored))
          .select(regexp_extract(col("t"),
            "^(.*[/#])[A-Za-z_][A-Za-z0-9_]*$", 1).as("ns"))
          .where(col("ns") =!= "")
          .groupBy("ns").count()
          .orderBy(col("count").desc, col("ns").asc)
          .limit(maxPrefixes).collect().map(_.getString(0))
        ranked.zipWithIndex.map { case (n, i) => (n, s"ns$i") }.toMap
      }
    // pm is maxPrefixes entries — closure capture ships it with the
    // task at no meaningful cost (no broadcast machinery needed)
    textOut(terms.sortWithinPartitions("s")
      .as[(String, String, String)]
      .mapPartitions { it =>
        val pmLocal = pm
        def res(v: String) =
          compactTerm(v, pmLocal).getOrElse(ntRes(v))
        def obj(v: String) =
          compactTerm(v, pmLocal).getOrElse(ntTerm(v))
        val buf = it.buffered
        if (!buf.hasNext) Iterator.empty
        else {
          val header = pmLocal.toSeq.sortBy(_._2.drop(2).toInt)
            .map { case (ns, pre) => s"@prefix $pre: <$ns> ." }.iterator
          val stmts: Iterator[String] = new Iterator[String] {
            def hasNext: Boolean = buf.hasNext
            def next(): String = {
              val s = buf.head._1
              val b = new StringBuilder(res(s))
              var first = true
              while (buf.hasNext && buf.head._1 == s) {
                val (_, p, o) = buf.next()
                b.append(if (first) " " else " ;\n    ")
                  .append(res(p)).append(' ').append(obj(o))
                first = false
              }
              b.append(" .").result()
            }
          }
          header ++ stmts
        }
      }, path, codec)
  }

  /** S1: read a SPARQL query file (driver-side — query text is tiny). */
  def readQuery(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  /** S5: text result sink with the reference's empty sentinel.
    * Row order is not meaningful (SURVEY.md §5 — the reference's own
    * golden output is unordered post-decode).
    */
  def writeResult(df: DataFrame, path: String): Long = {
    val cols = df.columns.sorted
    val canon = df.select(cols.map(col): _*)
    val n = canon.count()
    if (n == 0) {
      import df.sparkSession.implicits._
      df.sparkSession.createDataset(Seq("<empty result>"))
        .write.mode(SaveMode.Overwrite).text(path)
    } else {
      canon.select(concat_ws("\t", cols.map(c => col(c).cast("string")): _*).as("value"))
        .write.mode(SaveMode.Overwrite).text(path)
    }
    n
  }
}
