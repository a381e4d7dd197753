package graft

import graft.sources.{RdfIO, TurtleIO}
import org.scalatest.funsuite.AnyFunSuite

class TurtleIOSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local("4")

  private def write(name: String, text: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl")
    val f = dir.resolve(name)
    java.nio.file.Files.write(f, text.getBytes("UTF-8"))
    f.toString
  }

  test("turtle subset parses prefixes, a, lists, literals, base, bnodes") {
    val ttl =
      """@prefix ex: <http://example.org/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |@base <http://base.org/> .
        |# a comment line
        |ex:alice a ex:Person ;
        |    ex:name "Alice" ;
        |    ex:age 30 ;
        |    ex:score 1.5 ;
        |    ex:mass 6.1e2 ;
        |    ex:active true ;
        |    ex:knows ex:bob , _:b1 .
        |ex:bob ex:label "chat"@EN ;
        |    ex:id "x7"^^xsd:token .
        |<rel> ex:knows <http://abs.org/n> .
        |""".stripMargin
    val path = write("a.ttl", ttl)
    val got = TurtleIO.turtleDF(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val ex = "http://example.org/"
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    assert(got == Set(
      (s"${ex}alice", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        s"${ex}Person"),
      (s"${ex}alice", s"${ex}name", "Alice"),
      (s"${ex}alice", s"${ex}age", "\"30\"^^<" + xsd + "integer>"),
      (s"${ex}alice", s"${ex}score", "\"1.5\"^^<" + xsd + "decimal>"),
      (s"${ex}alice", s"${ex}mass", "\"6.1e2\"^^<" + xsd + "double>"),
      (s"${ex}alice", s"${ex}active", "\"true\"^^<" + xsd + "boolean>"),
      (s"${ex}alice", s"${ex}knows", s"${ex}bob"),
      (s"${ex}alice", s"${ex}knows", "_:b1"),
      (s"${ex}bob", s"${ex}label", "\"chat\"@en"),
      (s"${ex}bob", s"${ex}id", "\"x7\"^^<" + xsd + "token>"),
      ("http://base.org/rel", s"${ex}knows", "http://abs.org/n")))
  }

  test("turtle load equals the n-triples load of the same graph") {
    val ttl =
      """@prefix ex: <http://x.org/> .
        |ex:s ex:p ex:o ; ex:q "v" .
        |ex:t ex:p ex:o .
        |""".stripMargin
    val nt =
      """<http://x.org/s> <http://x.org/p> <http://x.org/o> .
        |<http://x.org/s> <http://x.org/q> "v" .
        |<http://x.org/t> <http://x.org/p> <http://x.org/o> .
        |""".stripMargin
    val fromTtl = TurtleIO.turtleDF(spark, write("b.ttl", ttl))
      .collect().map(_.toSeq).toSet
    val fromNt = RdfIO.ntriplesDF(spark, write("b.nt", nt))
      .collect().map(_.toSeq).toSet
    assert(fromTtl == fromNt && fromTtl.size == 3)
  }

  test("queries run over a turtle-loaded store") {
    val ttl =
      """@prefix ex: <http://x.org/> .
        |ex:a ex:knows ex:b .
        |ex:b ex:knows ex:c .
        |""".stripMargin
    val st = TurtleIO.readTurtle(spark, write("c.ttl", ttl))
    val rows = graft.bgp.BgpPlanner.query(st,
      "select ?x ?y where { ?x <http://x.org/knows> ?y }").collect()
    assert(rows.length == 2)
  }

  test("mid-document prefix redefinition escalates to the offset-scoped scan") {
    val ttl =
      """@prefix ex: <http://one.org/> .
        |ex:s ex:p ex:o .
        |@prefix ex: <http://two.org/> .
        |ex:s ex:p ex:o .
        |@base <http://b1.org/> .
        |<rel> ex:p ex:o .
        |@base <http://b2.org/> .
        |<rel> ex:p ex:o .
        |""".stripMargin
    val got = TurtleIO.turtleDF(spark, write("d.ttl", ttl)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("http://one.org/s", "http://one.org/p", "http://one.org/o"),
      ("http://two.org/s", "http://two.org/p", "http://two.org/o"),
      ("http://b1.org/rel", "http://two.org/p", "http://two.org/o"),
      ("http://b2.org/rel", "http://two.org/p", "http://two.org/o")))
  }

  test("cross-file prefix conflicts scope per file; salvage survives the scoped scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scoped")
    // same prefix, different IRI per file — each file must parse under
    // its OWN definition (per-spec document scoping)
    java.nio.file.Files.write(dir.resolve("a.ttl"),
      ("@prefix ex: <http://a.org/> .\n" +
        "ex:s ex:p \"line one .\ncontinues\" .\n").getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b.ttl"),
      ("@prefix ex: <http://b.org/> .\n" +
        "ex:s ex:p ex:o .\n").getBytes("UTF-8"))
    val audit = TurtleIO.turtleAudit(spark, dir.toString)
    assert(audit.where(org.apache.spark.sql.functions.col("bad")
      .isNotNull).count() == 0, "scoped scan must salvage the torn literal")
    val got = audit.where(org.apache.spark.sql.functions.col("bad").isNull)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got == Set(
      ("http://a.org/s", "http://a.org/p", "line one .\ncontinues"),
      ("http://b.org/s", "http://b.org/p", "http://b.org/o")))
    // TriG keeps the loud contract (block grain cannot offset-scope)
    val trig = "@prefix ex: <http://one.org/> .\n" +
      "g:a { ex:s ex:p ex:o . }\n" +
      "@prefix ex: <http://two.org/> .\n" +
      "g:b { ex:s ex:p ex:o . }\n"
    val e = intercept[IllegalArgumentException] {
      TurtleIO.trigAudit(spark, write("c.trig", trig)).collect()
    }
    assert(e.getMessage.contains("redefined"))
  }

  test("scoped scan reconstructs directive state across input splits") {
    // one file forced to split every 256 bytes: a later split's
    // partition must rebuild its prefix state from directives whose
    // chunks it NEVER scanned (they sit in earlier splits — the
    // positioned table covers offsets before its first record)
    val sb = new StringBuilder("@prefix ex: <http://a.org/> .\n")
    for (i <- 0 until 30) sb.append(s"ex:s$i ex:p ex:o$i .\n")
    sb.append("@prefix ex: <http://b.org/> .\n")
    for (i <- 30 until 60) sb.append(s"ex:s$i ex:p ex:o$i .\n")
    val f = write("split.ttl", sb.toString)
    assert(TurtleIO.offsetChunks(spark, f, " .\n", maxSplitBytes = 256)
      .getNumPartitions > 3, "fixture must span several splits")
    val audit = TurtleIO.scopedTurtleAudit(spark, f, " .\n",
      maxSplitBytes = 256)
    assert(audit.where(org.apache.spark.sql.functions.col("bad")
      .isNotNull).count() == 0)
    val got = audit.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = (0 until 30).map(i => (s"http://a.org/s$i",
        "http://a.org/p", s"http://a.org/o$i")).toSet ++
      (30 until 60).map(i => (s"http://b.org/s$i",
        "http://b.org/p", s"http://b.org/o$i"))
    assert(got == want)
  }

  test("scoped scan bounds DISTINCT directives, not raw sites (repeated headers)") {
    // a dump whose identical directives repeat at >MaxPrefixes SITES
    // (self-contained sections — legal and common in concatenated
    // exports) must still escalate cleanly: the bound counts distinct
    // (file, kind, prefix, iri) at their first site, matching
    // collectDirectives' dedupe-before-bound discipline
    val dir = java.nio.file.Files.createTempDirectory("graft-sites")
    val perHeader = 20
    val repeats = 501 // 501 x 20 = 10020 sites > MaxPrefixes(10000)
    val header = (0 until perHeader)
      .map(j => s"@prefix p$j: <http://a.org/p$j/> .").mkString("\n")
    val sb = new StringBuilder
    for (r <- 0 until repeats) {
      sb.append(header).append("\n")
      sb.append(s"p0:s$r p1:p p2:o .\n")
    }
    java.nio.file.Files.write(dir.resolve("a.ttl"),
      sb.toString.getBytes("UTF-8"))
    // a second file redefines p0 differently — the cross-file conflict
    // forces the offset-scoped path where the site bound lives
    java.nio.file.Files.write(dir.resolve("b.ttl"),
      ("@prefix p0: <http://b.org/p0/> .\n" +
        "p0:x p0:y p0:z .\n").getBytes("UTF-8"))
    val audit = TurtleIO.turtleAudit(spark, dir.toString)
    assert(audit.where(org.apache.spark.sql.functions.col("bad")
      .isNotNull).count() == 0)
    val subjects = audit.collect().map(_.getString(0)).toSet
    assert(subjects.contains("http://a.org/p0/s0") &&
      subjects.contains(s"http://a.org/p0/s${repeats - 1}") &&
      subjects.contains("http://b.org/p0/x"), s"got ${subjects.take(5)}")
  }

  test("phantom directives inside torn-literal content never rebind") {
    // a long literal whose CONTENT contains terminator sequences AND a
    // conflicting '@prefix' spelling: the fragments tear at the
    // delimiter; the interior fragment is a pure-directive-looking
    // chunk that previously rebound ex: for the rest of the file. The
    // dump also redefines ex: legitimately to force the scoped path.
    val ttl =
      "@prefix ex: <http://real.org/> .\n" +
      "ex:s1 ex:note \"prose .\n@prefix ex: <http://evil.org/> .\nmore prose\" .\n" +
      "ex:s2 ex:p ex:o .\n" +
      "@prefix ex: <http://second.org/> .\n" +
      "ex:s3 ex:p ex:o .\n"
    val f = write("phantom.ttl", ttl)
    val audit = TurtleIO.scopedTurtleAudit(spark, f, " .\n")
    val rows = audit.collect()
    val good = rows.filter(_.getString(3) == null)
      .map(r => (r.getString(0), r.getString(2))).toSet
    // s2 stays under the REAL prefix (the phantom evil.org site was
    // inside the torn span and must be dropped); s3 under the legit
    // redefinition; s1's torn literal salvages with its content intact
    assert(good.exists(_._1 == "http://real.org/s2"),
      s"s2 must parse under real.org, got $good")
    assert(good.exists(_._1 == "http://second.org/s3"),
      s"s3 must parse under the legit redefinition, got $good")
    // the phantom IRI may survive only as the salvaged literal's TEXT
    // content (that's the data), never as a resolved TERM
    assert(!good.exists(_._1.contains("evil.org")),
      s"phantom prefix resolved a subject: $good")
    assert(!good.exists(t => t._2.startsWith("http://evil.org/")),
      s"phantom prefix resolved an object term: $good")
  }

  test("randomized scoped-parse differential: sectioned redefinitions equal a sequential reference") {
    val rnd = new scala.util.Random(12012)
    for (trial <- 0 until 4) {
      val nSections = 2 + rnd.nextInt(3)
      val doc = new StringBuilder
      val want = scala.collection.mutable.Set.empty[(String, String, String)]
      var base = "http://ns0.org/"
      for (j <- 0 until nSections) {
        base = s"http://ns$j-t$trial.org/"
        doc.append(s"@prefix ex: <$base> .\n")
        for (i <- 0 until rnd.nextInt(8)) {
          val lit = if (rnd.nextBoolean()) s"v$i" else s"line\nv$i \"q\""
          val esc = lit.replace("\\", "\\\\").replace("\"", "\\\"")
            .replace("\n", "\\n")
          doc.append(s"""ex:s$i ex:p$j "$esc" .\n""")
          want += ((s"${base}s$i", s"${base}p$j", lit))
        }
      }
      val f = write(s"rand$trial.ttl", doc.toString)
      val audit = TurtleIO.turtleAudit(spark, f)
      assert(audit.where(org.apache.spark.sql.functions.col("bad")
        .isNotNull).count() == 0, s"trial $trial quarantined rows")
      val got = audit.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == want.toSet, s"trial $trial")
    }
  }

  test("randomized Turtle-writer round trip: namespaces, escapes, decorations") {
    import spark.implicits._
    val rnd = new scala.util.Random(36512)
    val nss = Seq("http://a.org/x/", "http://b.org/y#", "urn:uuid:")
    for (trial <- 0 until 3) {
      val rows = (0 until (5 + rnd.nextInt(20))).map { i =>
        val s = nss(rnd.nextInt(2)) + s"s$i" // urn: has no /# split
        val p = nss(rnd.nextInt(3)) + s"p${rnd.nextInt(4)}"
        val o = rnd.nextInt(5) match {
          case 0 => nss(rnd.nextInt(3)) + s"o$i"
          case 1 => s"plain $i with \"quotes\" and \\slash"
          case 2 => s"multi\nline $i"
          case 3 => s""""$i"^^<http://www.w3.org/2001/XMLSchema#integer>"""
          case _ => s""""bonjour$i"@fr"""
        }
        (s, p, o)
      }.distinct
      val df = rows.toDF("s", "p", "o").repartition(1 + rnd.nextInt(3))
      val out = java.nio.file.Files
        .createTempDirectory(s"graft-ttlrand$trial").toString
      RdfIO.writeTurtle(df, out, maxPrefixes = 1 + rnd.nextInt(4))
      val back = TurtleIO.turtleDF(spark, out).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(back == rows.toSet, s"trial $trial")
    }
  }

  test("streaming TriG ingest equals the batch parse of the same dump") {
    val trig =
      """@prefix ex: <http://x.org/> .
        |@prefix g: <graph:> .
        |ex:a ex:knows ex:b .
        |g:one { ex:a ex:name "A" . ex:b ex:age 4 . }
        |g:two { ex:b ex:name "B" . }
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-trig-s")
    java.nio.file.Files.write(dir.resolve("d.trig"), trig.getBytes("UTF-8"))
    // the batch reader resolves directives from the file; the stream
    // takes the same map as a parameter (directives are deployment
    // configuration on an unbounded stream, like turtleStream's)
    val pmap = Map("ex" -> "http://x.org/", "g" -> "graph:")
    val batch = TurtleIO.trigAudit(spark, dir.toString)
    val stream = TurtleIO.trigStream(spark, dir.toString, pmap)
    val q = stream.writeStream.format("memory").queryName("trigstream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.sql("select * from trigstream").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    val want = batch.where(org.apache.spark.sql.functions.col("bad")
      .isNull).select("g", "s", "p", "o").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("malformed statements quarantine; the rest of the file loads") {
    val ttl =
      """@prefix ex: <http://x.org/> .
        |ex:s ex:p ex:o extra tokens here .
        |ex:t ex:p ex:o .
        |ex:u ex:p "multi
        |line is fine inside one chunk" .
        |""".stripMargin
    val path = write("e.ttl", ttl)
    val got = TurtleIO.turtleDF(spark, path).collect()
      .map(r => r.getString(0)).toSet
    assert(got == Set("http://x.org/t", "http://x.org/u"))
    // the drop is ACCOUNTED: one quarantine row carrying the snippet
    val audit = TurtleIO.turtleAudit(spark, path)
      .where("bad is not null").collect()
    assert(audit.length == 1)
    assert(audit(0).getAs[String]("bad").contains("extra tokens"))
  }

  test("bracket property lists desugar to fresh blank nodes") {
    val ttl =
      """@prefix ex: <http://x.org/> .
        |ex:s ex:meta [ ex:rank 3 ; ex:cat "X" , "Y" ] .
        |[ ex:note "standalone" ] .
        |ex:t ex:tag [] .
        |""".stripMargin
    val rows = TurtleIO.turtleDF(spark, write("br.ttl", ttl)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val ex = "http://x.org/"
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    // s --meta--> b; b rank 3; b cat X; b cat Y
    val metaB = rows.collect { case (s, p, o) if p == s"${ex}meta" => o }
    assert(metaB.length == 1 && metaB(0).startsWith("_:g"))
    val b = metaB(0)
    assert(rows.toSet.contains((b, s"${ex}rank",
      "\"3\"^^<" + xsd + "integer>")))
    assert(rows.toSet.contains((b, s"${ex}cat", "X")))
    assert(rows.toSet.contains((b, s"${ex}cat", "Y")))
    // standalone bracket subject emits its one triple
    assert(rows.exists { case (s, p, o) =>
      s.startsWith("_:g") && p == s"${ex}note" && o == "standalone" })
    // anonymous [] object is a fresh blank node with no properties
    val tagB = rows.collect { case (s, p, o) if p == s"${ex}tag" => o }
    assert(tagB.length == 1 && tagB(0).startsWith("_:g"))
    // all fresh labels distinct
    val fresh = rows.flatMap(r => Seq(r._1, r._3)).filter(_.startsWith("_:g"))
    assert(fresh.distinct.length == 3)
    assert(rows.length == 6)
  }

  test("collections desugar to rdf:first/rdf:rest chains") {
    val ttl =
      """@prefix ex: <http://x.org/> .
        |ex:s ex:tags ("a" "b") .
        |ex:t ex:tags () .
        |""".stripMargin
    val rows = TurtleIO.turtleDF(spark, write("co.ttl", ttl)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val set = rows.toSet
    val head = rows.collect {
      case ("http://x.org/s", p, o) if p == "http://x.org/tags" => o }.head
    val firstA = rows.collect {
      case (s, p, "a") if p == s"${rdf}first" => s }.head
    assert(head == firstA)
    val cell2 = rows.collect {
      case (s, p, o) if s == head && p == s"${rdf}rest" => o }.head
    assert(set.contains((cell2, s"${rdf}first", "b")))
    assert(set.contains((cell2, s"${rdf}rest", s"${rdf}nil")))
    // the empty collection is rdf:nil itself
    assert(set.contains(("http://x.org/t", "http://x.org/tags", s"${rdf}nil")))
    assert(rows.length == 6)
  }

  test("long and single-quoted literals parse in all four forms") {
    val ttl = "@prefix ex: <http://x.org/> .\n" +
      "ex:a ex:p \"\"\"long with \"quote\" and\nnewline\"\"\" .\n" +
      "ex:b ex:p '''other 'long' form''' .\n" +
      "ex:c ex:p 'single \"q\" quoted'@en .\n" +
      "ex:d ex:p \"\"\"typed long\"\"\"^^<http://x.org/dt> .\n"
    val got = TurtleIO.turtleDF(spark, write("lq.ttl", ttl)).collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(got("http://x.org/a") == "long with \"quote\" and\nnewline")
    assert(got("http://x.org/b") == "other 'long' form")
    assert(got("http://x.org/c") == "\"single \"q\" quoted\"@en")
    assert(got("http://x.org/d") ==
      "\"typed long\"^^<http://x.org/dt>")
  }

  test("CRLF dumps and unspaced terminators split via the head probe") {
    val crlf = "@prefix ex: <http://x.org/> .\r\n" +
      "ex:a ex:p ex:b .\r\nex:b ex:p ex:c .\r\n"
    val gotCrlf = TurtleIO.turtleDF(spark, write("crlf.ttl", crlf))
      .collect().map(_.getString(0)).toSet
    assert(gotCrlf == Set("http://x.org/a", "http://x.org/b"))
    val unspaced = "@prefix ex: <http://x.org/> .\n" +
      "ex:a ex:p ex:b.\nex:b ex:p ex:c.\n"
    val gotUn = TurtleIO.turtleDF(spark, write("un.ttl", unspaced))
      .collect().map(_.getString(0)).toSet
    assert(gotUn == Set("http://x.org/a", "http://x.org/b"))
    // several statements on one line split token-side
    val inline = "@prefix ex: <http://x.org/> .\n" +
      "ex:a ex:p ex:b . ex:b ex:p ex:c .\n"
    val gotIn = TurtleIO.turtleDF(spark, write("in.ttl", inline))
      .collect().map(_.getString(0)).toSet
    assert(gotIn == Set("http://x.org/a", "http://x.org/b"))
  }

  test("@base resolves per RFC 3986: absolute-path and dot-segments") {
    val ttl =
      """@prefix ex: <http://x.org/> .
        |@base <http://base.org/dir/sub/> .
        |<rel> ex:p </abs> .
        |<../up> ex:p <./here> .
        |""".stripMargin
    val got = TurtleIO.turtleDF(spark, write("base.ttl", ttl)).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(got == Set(
      ("http://base.org/dir/sub/rel", "http://base.org/abs"),
      ("http://base.org/dir/up", "http://base.org/dir/sub/here")))
  }

  test("blank-node labels are deterministic across re-evaluation") {
    val ttl =
      """@prefix ex: <http://x.org/> .
        |ex:s ex:meta [ ex:rank 1 ] .
        |ex:s ex:meta [ ex:rank 1 ] .
        |""".stripMargin
    val df = TurtleIO.turtleDF(spark, write("det.ttl", ttl))
    val a = df.collect().map(_.toSeq).toSet
    val b = df.collect().map(_.toSeq).toSet // re-evaluates the plan
    assert(a == b)
    // the two textually identical statements keep DISTINCT blank nodes
    assert(a.collect { case Seq(_, p: String, o: String)
      if p == "http://x.org/meta" => o }.size == 2)
  }

  test("literal content can conflict with real directives without failing") {
    // the literal quotes a Turtle snippet REDEFINING ex: — the
    // line-based pass-1 used to fail the whole (valid) document on a
    // phantom redefinition; token-level collection never sees it
    val ttl = "@prefix ex: <http://x.org/> .\n" +
      "ex:a ex:p \"\"\"quoted snippet:\nPREFIX ex: <http://other/>\n" +
      "uses a conflicting binding\"\"\" .\n" +
      "ex:b ex:p ex:c .\n"
    val got = TurtleIO.turtleDF(spark, write("conflict.ttl", ttl))
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(got("http://x.org/b") == "http://x.org/c") // ex: = x.org, not other
    assert(got("http://x.org/a").contains("conflicting"))
  }

  test("TriG: unresolvable block header poisons its statements loudly") {
    val trig =
      """@prefix ex: <http://x.org/> .
        |nosuch:g {
        |  ex:s ex:p ex:o .
        |  ex:t ex:p ex:u .
        |}
        |ex:d ex:p ex:e .
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-trig-bad")
    java.nio.file.Files.write(dir.resolve("d.trig"), trig.getBytes("UTF-8"))
    val rows = TurtleIO.trigAudit(spark, dir.toString).collect()
    // the block's statements are QUARANTINED, never default-graph rows
    val bad = rows.filter(_.getString(4) != null)
    assert(bad.length == 3) // header + 2 poisoned statements
    val good = rows.filter(_.getString(4) == null)
    assert(good.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set((null, "http://x.org/d")))
  }

  test("empty ';' segments and inline '}' after suffixed literals parse") {
    // ';;' is legal Turtle (predicateObjectList permits empty segments)
    val ttl = "@prefix ex: <http://x.org/> .\n" +
      "ex:s ex:p ex:o ;; ex:q ex:r .\n"
    val got = TurtleIO.turtleDF(spark, write("semi.ttl", ttl))
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(got == Set(("http://x.org/p", "http://x.org/o"),
      ("http://x.org/q", "http://x.org/r")))
    // inline '}' glued to a lang-tagged literal must close the block
    val trig = "<g:1> { <s:1> <p:1> \"v\"@en} <s:2> <p:2> <o:2> .\n"
    val dir = java.nio.file.Files.createTempDirectory("graft-trig-in")
    java.nio.file.Files.write(dir.resolve("d.trig"), trig.getBytes("UTF-8"))
    val rows = TurtleIO.trigAudit(spark, dir.toString).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(3),
        r.getString(4)))
    assert(rows.forall(_._4 == null))
    assert(rows.toSet == Set(
      ("g:1", "s:1", "\"v\"@en", null),
      (null, "s:2", "o:2", null)))
  }

  test("duplicate statements collapse: RDF graphs are sets") {
    val nq = "<a:1> <p:1> <b:1> <g:1> .\n<a:1> <p:1> <b:1> <g:1> .\n" +
      "<a:2> <p:1> <b:2> .\n<a:2> <p:1> <b:2> .\n"
    val dir = java.nio.file.Files.createTempDirectory("graft-dupq")
    java.nio.file.Files.write(dir.resolve("d.nq"), nq.getBytes("UTF-8"))
    val st = RdfIO.readNQuads(spark, dir.toString)
    assert(st.quads.get.count() == 1)
    assert(graft.bgp.BgpPlanner.query(st,
      "select ?s where { ?s <p:1> ?o }").count() == 1)
    assert(graft.bgp.BgpPlanner.query(st,
      "select ?s where { graph <g:1> { ?s <p:1> ?o } }").count() == 1)
  }

  test("randomized dataset round-trips through TriG and N-Quads writers") {
    import spark.implicits._
    // deterministic pseudo-random dataset: graph labels (incl. the
    // default graph), IRI/bare/blank resources, and literals drawn
    // from the adversarial pool (quotes, newlines, tabs, backslashes,
    // unicode, decorated typed/lang forms)
    val rnd = new scala.util.Random(11)
    val lits = IndexedSeq(
      "plain", "with \"quotes\"", "line\nbreak", "tab\there",
      "back\\slash", "ünïcôde ✓", "\"5\"^^<x:int>", "\"salut\"@fr",
      "\"multi\nline \\\"deco\\\"\"@en", "ends with space ")
    val quads = (0 until 400).map { _ =>
      val g = rnd.nextInt(4) match {
        case 0 => null
        case k => s"g:$k"
      }
      val s = if (rnd.nextBoolean()) s"node:${rnd.nextInt(30)}"
        else s"_:b${rnd.nextInt(10)}"
      val p = rnd.nextInt(3) match {
        case 0 => "bareProp"
        case 1 => "rel:knows"
        case 2 => "http://x.org/p"
      }
      val o = rnd.nextInt(3) match {
        case 0 => lits(rnd.nextInt(lits.length))
        case 1 => s"node:${rnd.nextInt(30)}"
        case 2 => s"_:b${rnd.nextInt(10)}"
      }
      (g, s, p, o)
    }.distinct
    val df = quads.toDF("g", "s", "p", "o")
    val trigOut = java.nio.file.Files.createTempDirectory("graft-rt-trig")
      .toString
    RdfIO.writeTrig(df, trigOut)
    val backTrig = TurtleIO.trigAudit(spark, trigOut)
    assert(backTrig.where("bad is not null").count() == 0)
    assert(backTrig.select("g", "s", "p", "o").collect()
      .map(_.toSeq).toSet == quads.map(q => Seq(q._1, q._2, q._3, q._4))
      .toSet)
    val nqOut = java.nio.file.Files.createTempDirectory("graft-rt-nq")
      .toString
    RdfIO.writeNQuads(df, nqOut)
    assert(RdfIO.nquadsDF(spark, nqOut).collect().map(_.toSeq).toSet ==
      quads.map(q => Seq(q._1, q._2, q._3, q._4)).toSet)
  }

  test("comments and directive-looking lines inside literals survive") {
    // the round-10 line-level filter would TEAR these literals; the
    // round-11 tokenizer/token-level handling keeps literal content
    // byte-exact while still honoring real comments and directives
    val ttl = "@prefix ex: <http://x.org/> .\n" +
      "ex:a ex:p \"\"\"body with\n# not a comment\nand\n" +
      "PREFIX fake: <http://evil/>\nlines\"\"\" .\n" +
      "ex:b ex:p ex:c . # trailing comment\n" +
      "# full-line comment\n" +
      "ex:d ex:p \"x # y\" .\n"
    val path = write("cmt.ttl", ttl)
    val audit = TurtleIO.turtleAudit(spark, path)
    assert(audit.where("bad is not null").count() == 0)
    val got = audit.collect().map(r => (r.getString(0), r.getString(2)))
      .toMap
    assert(got("http://x.org/a") ==
      "body with\n# not a comment\nand\nPREFIX fake: <http://evil/>\nlines")
    assert(got("http://x.org/b") == "http://x.org/c")
    assert(got("http://x.org/d") == "x # y")
    // the fake prefix inside the literal was NOT collected: ex: still
    // resolves, fake: would not
    assert(got.size == 3)
  }

  test("TriG parses default statements, graph blocks, and rich forms") {
    val trig =
      """@prefix ex: <http://x.org/> .
        |ex:a ex:p ex:b .
        |ex:g1 {
        |  ex:s ex:q "v" ;
        |       ex:meta [ ex:rank 1 ] .
        |  ex:t ex:q "w"
        |}
        |GRAPH <http://x.org/g2> { ex:u ex:q "x" . }
        |{ ex:dflt ex:p ex:c . }
        |ex:z ex:p ex:d .
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-trig")
    java.nio.file.Files.write(dir.resolve("d.trig"), trig.getBytes("UTF-8"))
    val rows = TurtleIO.trigAudit(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3), r.getString(4)))
    assert(rows.forall(_._5 == null), s"unexpected quarantine: ${
      rows.filter(_._5 != null).mkString(";")}")
    val ex = "http://x.org/"
    val byG = rows.groupBy(_._1)
    // default graph: top-level statements + the bare { } block
    assert(byG(null).map(r => (r._2, r._4)).toSet ==
      Set((s"${ex}a", s"${ex}b"), (s"${ex}dflt", s"${ex}c"),
        (s"${ex}z", s"${ex}d")))
    // g1: ';' lists, a bracket node, and an optional final '.'
    val g1 = byG(s"${ex}g1")
    assert(g1.length == 4)
    assert(g1.exists(r => r._2 == s"${ex}t" && r._4 == "w"))
    assert(g1.exists(r => r._3 == s"${ex}meta" && r._4.startsWith("_:g")))
    // GRAPH-keyword + inline } form
    assert(byG(s"${ex}g2").map(r => (r._2, r._4)).toSet ==
      Set((s"${ex}u", "x")))
    // a store built from the same file answers a mixed query
    val st = TurtleIO.readTrig(spark, dir.toString)
    val got = graft.bgp.BgpPlanner.query(st,
      s"""select ?s ?v where { graph <${ex}g1> { ?s <${ex}q> ?v } }""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set((s"${ex}s", "v"), (s"${ex}t", "w")))
  }

  test("TriG writer round-trips a dataset through its own reader") {
    import spark.implicits._
    val quads = Seq(
      (null: String, "ex:a", "ex:p", "top \"level\""),
      (null: String, "ex:b", "ex:p", "ex:c"),
      ("g:1", "ex:s", "ex:q", "in\ng1"),
      ("g:1", "ex:t", "ex:q", "\"5\"^^<x:int>"),
      ("g:2", "ex:u", "ex:q", "\"hei\"@en")).toDF("g", "s", "p", "o")
    val out = java.nio.file.Files.createTempDirectory("graft-trigw")
      .toString
    RdfIO.writeTrig(quads, out)
    val back = TurtleIO.trigAudit(spark, out)
    assert(back.where("bad is not null").count() == 0)
    val got = back.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      (null, "ex:a", "ex:p", "top \"level\""),
      (null, "ex:b", "ex:p", "ex:c"),
      ("g:1", "ex:s", "ex:q", "in\ng1"),
      ("g:1", "ex:t", "ex:q", "\"5\"^^<x:int>"),
      ("g:2", "ex:u", "ex:q", "\"hei\"@en")))
  }

  test("N-Triples/N-Quads writers round-trip adversarial stored forms") {
    import spark.implicits._
    val rows = Seq(
      ("ex:s", "ex:p", "plain words"),
      ("ex:s", "name", "line\nbreak \"q\" \\slash"),
      ("_:b1", "ex:p", "\"hei \"der\"\n\"@en"),
      ("ex:s", "ex:p", "\"C:\\x\"^^<x:path>"),
      ("bare", "alsoBare", "ex:iri"))
    val df = rows.toDF("s", "p", "o")
    val out = java.nio.file.Files.createTempDirectory("graft-ntw").toString
    RdfIO.writeNTriples(df, out)
    val back = RdfIO.ntriplesDF(spark, out).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(back == rows.toSet)
    // quads: null g = default-graph line; labeled g round-trips
    val quads = Seq(
      (null: String, "ex:s", "ex:p", "o1"),
      ("g:a", "ex:s", "ex:p", "with \"quotes\"")).toDF("g", "s", "p", "o")
    val out2 = java.nio.file.Files.createTempDirectory("graft-nqw").toString
    RdfIO.writeNQuads(quads, out2)
    val back2 = RdfIO.nquadsDF(spark, out2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(back2 == Set(
      (null, "ex:s", "ex:p", "o1"),
      ("g:a", "ex:s", "ex:p", "with \"quotes\"")))
  }

  test("Turtle writer round-trips with namespace compaction and sharded headers") {
    import spark.implicits._
    val rows = Seq(
      ("http://example.org/people/alice", "http://example.org/ont#knows",
        "http://example.org/people/bob"),
      ("http://example.org/people/alice", "http://example.org/ont#name",
        "Alice \"A\"\nB"),
      ("http://example.org/people/bob", "http://example.org/ont#age",
        "\"30\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("http://example.org/people/trailing.dot",
        "http://example.org/ont#knows", "http://example.org/people/bob"),
      ("ex:plain", "rel", "just words"),
      ("_:b0", "http://example.org/ont#knows",
        "http://example.org/people/alice"))
    // multiple partitions: every part-file must carry its own @prefix
    // header and stay a self-contained Turtle document
    val df = rows.toDF("s", "p", "o").repartition(3)
    val out = java.nio.file.Files.createTempDirectory("graft-ttlw").toString
    RdfIO.writeTurtle(df, out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).toSeq
    val texts = files.map(f => new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    val nonEmpty = texts.filter(_.nonEmpty)
    assert(nonEmpty.forall(_.contains("@prefix ns")),
      "every non-empty part-file carries the prefix header")
    // compaction actually engaged (a prefixed name in a statement)
    assert(nonEmpty.exists(_.linesIterator.exists(l =>
      !l.startsWith("@prefix") && l.contains("ns"))),
      "expected at least one compacted nsK:local term")
    // the dotted local part stayed angle-bracketed (a trailing-dot
    // local would re-tokenize as a statement terminator)
    assert(texts.exists(_.contains("<http://example.org/people/trailing.dot>")))
    val back = TurtleIO.turtleDF(spark, out).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(back == rows.toSet)
  }

  test("streaming turtle ingest equals the batch parse of the same dump") {
    val ttl =
      """ex:a ex:knows ex:b ; ex:name "A" .
        |ex:b ex:age 4 .
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl-s")
    java.nio.file.Files.write(dir.resolve("d.ttl"), ttl.getBytes("UTF-8"))
    val pmap = Map("ex" -> "http://x.org/")
    val q = TurtleIO.turtleStream(spark, dir.toString, pmap)
      .writeStream.format("memory").queryName("ttl_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ttl_stream").collect().map(_.toSeq).toSet
    // batch parse of the same file (no directives: same external map
    // semantics — the batch reader finds none in-document)
    val expected = TurtleIO.turtleDF(spark,
        write("g.ttl", "@prefix ex: <http://x.org/> .\n" + ttl))
      .collect().map(_.toSeq).toSet
    assert(got == expected && got.size == 3)
  }

  test("round-trip: randomized grouped serialization parses back exactly") {
    // deterministic pseudo-random graph serialized the way a canonical
    // writer does — subject-grouped with ';' predicate lists and ','
    // object lists, a mix of IRIs, escaped literals, and typed terms —
    // must parse back to exactly the source set
    val rnd = new scala.util.Random(7)
    val preds = Seq("knows", "likes", "rates")
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    val triples = (0 until 300).map { _ =>
      val s = s"node:${rnd.nextInt(25)}"
      val p = preds(rnd.nextInt(3))
      val o = rnd.nextInt(4) match {
        case 0 => Right(s"node:${rnd.nextInt(25)}") // iri
        case 1 => Left(s"plain v${rnd.nextInt(8)} text") // literal w/ spaces
        case 2 => Left(s"""esc "q${rnd.nextInt(4)}" \\ done""") // escapes
        case 3 => Right("\"" + rnd.nextInt(50) + "\"^^<" + xsd + "integer>")
      }
      (s, p, o)
    }.distinct
    def lit(v: String) =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val text = "@prefix n: <node:> .\n@prefix xsd: <" + xsd + "> .\n" +
      triples.groupBy(_._1).map { case (s, ts) =>
        "n:" + s.stripPrefix("node:") + " " +
          ts.groupBy(_._2).map { case (p, os) =>
            s"<$p> " + os.map {
              case (_, _, Right(o)) if o.startsWith("node:") =>
                "n:" + o.stripPrefix("node:")
              case (_, _, Right(typed)) =>
                // already in decorated form; re-spell via xsd prefix
                typed.replace("^^<" + xsd, "^^xsd:")
                  .stripSuffix(">").replace("xsd:integer", "xsd:integer")
              case (_, _, Left(v)) => lit(v)
            }.mkString(" , ")
          }.mkString(" ;\n  ") + " ."
      }.mkString("\n") + "\n"
    val got = TurtleIO.turtleDF(spark, write("rt.ttl", text)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val expected = triples.map {
      case (s, p, Right(o)) => (s, p, o)
      case (s, p, Left(v)) => (s, p, v)
    }.toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("gzip dump shards to splittable chunks and parses identically") {
    import graft.sources.CompressedIngest
    // a dump big enough to shard at a small target, with multi-line
    // statements so a mid-statement cut would corrupt the parse
    val stmts = (0 until 400).map { i =>
      s"ex:s$i ex:name ${"\"" + ("v" * 40) + i + "\""} ;\n  ex:next ex:s${i + 1} ."
    }.mkString("@prefix ex: <http://x.org/> .\n", "\n", "\n")
    val dir = java.nio.file.Files.createTempDirectory("graft-gz")
    val plain = dir.resolve("d.ttl")
    java.nio.file.Files.write(plain, stmts.getBytes("UTF-8"))
    val gz = dir.resolve("d.ttl.gz")
    val os = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    os.write(stmts.getBytes("UTF-8")); os.close()
    val shardDir = dir.resolve("shards").toString
    val manifest = CompressedIngest
      .decompressAndShard(spark, gz.toString, shardDir, 4096)
      .collect()
    assert(manifest.length == 1)
    val nShards = manifest.head.getInt(1)
    assert(nShards > 3, s"expected several shards, got $nShards")
    assert(manifest.head.getLong(2) == stmts.getBytes("UTF-8").length)
    // sharded parse == direct parse of the uncompressed original
    val direct = TurtleIO.turtleDF(spark, plain.toString)
      .collect().map(_.toSeq).toSet
    val sharded = TurtleIO.turtleDF(spark, shardDir)
      .collect().map(_.toSeq).toSet
    assert(sharded == direct && direct.size == 800)
    // and the sharded scan really fans out: more than one input split
    val parts = spark.read.text(shardDir).rdd.getNumPartitions
    assert(parts > 1, s"sharded read got $parts partition(s)")
  }

  test("compressed shard step probes CRLF/unspaced terminators per file") {
    import graft.sources.CompressedIngest
    val stmts = (0 until 200).map { i =>
      s"<http://x.org/s$i> <http://x.org/p> ${"\"" + ("w" * 50) + i + "\""}."
    }.mkString("", "\r\n", "\r\n")
    val dir = java.nio.file.Files.createTempDirectory("graft-gz-crlf")
    val gz = dir.resolve("c.nt.gz")
    val os = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    os.write(stmts.getBytes("UTF-8")); os.close()
    val shardDir = dir.resolve("shards").toString
    CompressedIngest.decompressAndShard(spark, gz.toString, shardDir, 2048)
      .collect()
    // every shard must END with the unspaced CRLF terminator — a cut
    // anywhere else would tear a statement across shard files
    val fs = java.nio.file.Files.list(java.nio.file.Paths.get(shardDir))
    val bad = new java.util.ArrayList[String]()
    fs.forEach { p =>
      val name = p.getFileName.toString
      if (!name.startsWith(".") && !name.startsWith("_")) {
        val b = java.nio.file.Files.readAllBytes(p)
        if (b.length > 0 && !new String(b, "UTF-8").endsWith(".\r\n"))
          bad.add(name)
      }
    }
    fs.close()
    assert(bad.isEmpty, s"shards not cut at terminator: $bad")
    val got = TurtleIO.turtleDF(spark, shardDir).count()
    assert(got == 200)
  }

  test("long literal containing the terminator salvages with zero quarantine") {
    // the r11 documented boundary: ' .\n' INSIDE a long literal tears
    // the record; the salvage pass must rejoin and re-parse it
    val ttl =
      "@prefix ex: <http://x.org/> .\n" +
      "ex:a ex:name \"A\" .\n" +
      "ex:b ex:abstract \"\"\"First sentence .\nSecond sentence .\nThird\"\"\" .\n" +
      "ex:c ex:name \"C\" .\n"
    val path = write("tear.ttl", ttl)
    val audit = TurtleIO.turtleAudit(spark, path).collect()
    val bad = audit.filter(_.getString(3) != null)
    assert(bad.isEmpty, s"expected full salvage, got quarantine: ${bad.toSeq}")
    val got = audit.map(r => (r.getString(0), r.getString(2))).toSet
    assert(got == Set(
      ("http://x.org/a", "A"),
      ("http://x.org/b", "First sentence .\nSecond sentence .\nThird"),
      ("http://x.org/c", "C")))
  }

  test("tear salvage spans several terminator hits in one literal") {
    val inner = (1 to 8).map(i => s"line $i .").mkString("\n")
    val ttl =
      "@prefix ex: <http://x.org/> .\n" +
      s"ex:d ex:body '''$inner''' ;\n  ex:tag \"t\" .\n" +
      "ex:e ex:name \"E\" .\n"
    val path = write("tear8.ttl", ttl)
    val audit = TurtleIO.turtleAudit(spark, path).collect()
    assert(audit.forall(_.getString(3) == null))
    val body = audit.find(_.getString(1) == "http://x.org/body").get
    assert(body.getString(2) == inner)
    assert(audit.length == 3)
  }

  test("genuinely unclosed quote quarantines alone, chunk-mates survive") {
    // the give-up path: an unclosed quote is NOT a tear — it must not
    // swallow the statements that follow it into one giant quarantine
    val stmts = (0 until 30).map(i => s"ex:s$i ex:name \"v$i\" .")
    val ttl = "@prefix ex: <http://x.org/> .\n" +
      stmts.take(5).mkString("\n") + "\n" +
      "ex:bad ex:name \"unclosed .\n" +
      stmts.drop(5).mkString("\n") + "\n"
    val path = write("unclosed.ttl", ttl)
    val audit = TurtleIO.turtleAudit(spark, path).collect()
    val good = audit.filter(_.getString(3) == null)
    val bad = audit.filter(_.getString(3) != null)
    assert(good.length == 30, s"good statements lost: ${good.length}/30")
    assert(bad.length == 1, s"expected ONE quarantine row: ${bad.toSeq}")
    assert(bad.head.getString(3).contains("unclosed"))
  }

  test("TriG CRLF dumps split on the probed block-close delimiter") {
    val trig = List(
      "@prefix n: <nation:> .",
      "n:1 <name> \"one\" .",
      "<g:a> {",
      "n:1 <inregion> <region:1> .",
      "}",
      "<g:b> {",
      "n:2 <inregion> <region:2> .",
      "}").mkString("\r\n") + "\r\n"
    val path = write("crlf.trig", trig)
    val audit = TurtleIO.trigAudit(spark, path).collect()
    assert(audit.forall(_.getString(4) == null), s"quarantine: ${audit.toSeq}")
    val got = audit.map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set((null, "nation:1"), ("g:a", "nation:1"),
      ("g:b", "nation:2")))
  }

  test("TriG literal-form block headers poison the block, never mislabel") {
    val trig =
      """@prefix n: <nation:> .
        |"g" {
        |n:1 <p> n:2 .
        |}
        |42 {
        |n:3 <p> n:4 .
        |}
        |<g:ok> {
        |n:5 <p> n:6 .
        |}
        |""".stripMargin
    val path = write("lithdr.trig", trig)
    val audit = TurtleIO.trigAudit(spark, path).collect()
    val good = audit.filter(_.getString(4) == null)
    val bad = audit.filter(_.getString(4) != null)
    // only the IRI-headed block's statement survives; each poisoned
    // block quarantines its header AND its statement
    assert(good.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("g:ok", "nation:5")))
    assert(bad.length == 4, s"expected 4 quarantine rows: ${bad.toSeq}")
  }

  test("directives after an inline statement on one line are collected") {
    // 'ex:a … . @prefix p: <x> .' — the directive enters pass 2's strip
    // but pass 1's head-only hint used to miss it, quarantining every
    // later p: statement in a valid document
    val ttl =
      "<http://x.org/a> <http://x.org/b> <http://x.org/c> . " +
        "@prefix p: <http://late.org/> .\n" +
      "p:s p:q p:o .\n"
    val path = write("inline-dir.ttl", ttl)
    val audit = TurtleIO.turtleAudit(spark, path).collect()
    assert(audit.forall(_.getString(3) == null), s"quarantine: ${audit.toSeq}")
    val got = audit.map(_.getString(0)).toSet
    assert(got == Set("http://x.org/a", "http://late.org/s"))
  }

  test("scoped TriG scan parses a giant single block across many splits") {
    // ONE graph block holding every statement — the block-grain reader
    // collapses this to a single record/task; the scoped scan splits
    // on the statement terminator and reconstructs the enclosing label
    // per chunk from the positioned transition table. maxSplitBytes
    // forces the fixture through MANY FileInputFormat splits so the
    // cross-split label carry is actually exercised.
    val n = 200
    val stmts = (0 until n)
      .map(i => s"""<d:$i> <val> "v$i" .""").mkString("\n")
    val trig =
      s"""@prefix g: <graph:> .
         |<t:head> <kind> "default" .
         |g:big {
         |$stmts
         |}
         |<t:tail> <kind> "default2" .
         |""".stripMargin
    val path = write("giant.trig", trig)
    val got = TurtleIO.scopedTrigAudit(spark, path, maxSplitBytes = 512)
    val rows = got.collect()
    assert(rows.forall(_.getString(4) == null), s"quarantine: ${
      rows.filter(_.getString(4) != null).take(3).toSeq}")
    assert(rows.count(_.getString(0) == "graph:big") == n)
    assert(rows.filter(_.getString(0) == null).map(_.getString(1)).toSet ==
      Set("t:head", "t:tail"))
    // and the split fan-out is real: the scan ran on several partitions
    val parts = TurtleIO.scopedTrigAudit(spark, path, maxSplitBytes = 512)
      .rdd.getNumPartitions
    assert(parts > 3, s"expected multi-split fan-out, got $parts partitions")
  }

  test("scoped TriG equals the block-grain parse on a mixed dump") {
    // default statements, two labeled blocks, a bare block, a poisoned
    // literal-header block — the scoped scan (tiny splits) must agree
    // with trigAudit row-for-row on both survivors and quarantine count
    val trig =
      """@prefix n: <nation:> .
        |n:0 <kind> "top" .
        |<g:a> {
        |n:1 <inregion> <region:1> .
        |n:2 <inregion> <region:1> .
        |}
        |{
        |n:3 <bare> "in-default-block" .
        |}
        |"bad" {
        |n:4 <p> n:5 .
        |}
        |<g:b> {
        |n:6 <inregion> <region:2> .
        |}
        |n:7 <kind> "tail" .
        |""".stripMargin
    val path = write("mixed.trig", trig)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4) == null)).toSet
    val blockGrain = norm(TurtleIO.trigAudit(spark, path))
    val scoped = norm(TurtleIO.scopedTrigAudit(spark, path,
      maxSplitBytes = 64))
    // quarantine SNIPPETS may differ in spelling across grains; compare
    // the good rows exactly and the bad row count
    def good(s: Set[(String, String, String, String, Boolean)]) =
      s.filter(_._5)
    assert(good(scoped) == good(blockGrain),
      s"scoped=${good(scoped)} vs block=${good(blockGrain)}")
    assert(scoped.count(!_._5) == blockGrain.count(!_._5))
    assert(good(scoped).exists(_._1 == "g:a"))
    assert(good(scoped).exists(_._1 == null))
  }

  test("bz2 single-file dumps split natively; readablePath skips the copy") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bz2").toString
    val n = 20000
    (0 until n).map(i => s"""<d:$i> <val> "v$i" .""").toDF("value")
      .coalesce(1).write.mode("overwrite")
      .option("compression", "bzip2").text(s"$dir/in")
    val p = graft.sources.CompressedIngest.readablePath(
      spark, s"$dir/in", s"$dir/shards")
    assert(p == s"$dir/in", "splittable dump must read zero-copy")
    assert(!new java.io.File(s"$dir/shards").exists(),
      "readablePath must not shard a splittable dump")
    // native split fan-out INSIDE the one compressed file
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "32768")
      val df = TurtleIO.turtleDF(spark, p)
      assert(df.rdd.getNumPartitions > 1,
        s"expected multi-split read of one .bz2 file, got " +
          s"${df.rdd.getNumPartitions} partition(s)")
      assert(df.count() == n)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    // a gzip sibling is NOT splittable: readablePath shards it
    (0 until 100).map(i => s"""<g:$i> <val> "w$i" .""").toDF("value")
      .coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").text(s"$dir/ingz")
    val p2 = graft.sources.CompressedIngest.readablePath(
      spark, s"$dir/ingz", s"$dir/shards2")
    assert(p2 == s"$dir/shards2")
    assert(TurtleIO.turtleDF(spark, p2).count() == 100)
  }

  test("pipelined shard step round-trips content exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val lines = (0 until 5000).map(i => s"""<p:$i> <val> "x$i" .""")
    lines.toDF("value").coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").text(s"$dir/in")
    val manifest = graft.sources.CompressedIngest
      .decompressAndShard(spark, s"$dir/in", s"$dir/out", 4096)
    val shards = manifest.select("shards").head.getInt(0)
    assert(shards > 1, s"fixture must multi-shard, got $shards")
    val back = spark.read.textFile(s"$dir/out").collect().toSet
    assert(back == lines.toSet,
      "pipelined decompress-and-shard must preserve every statement")
  }

  test("statement chunking splits on the terminator, not on lines") {
    // one statement spanning four lines plus unspaced separators
    val ttl =
      """@prefix ex: <http://x.org/> .
        |ex:s
        |  ex:p ex:o1,ex:o2;
        |  ex:q
        |    ex:o3 .
        |""".stripMargin
    val got = TurtleIO.turtleDF(spark, write("f.ttl", ttl)).collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("http://x.org/p", "http://x.org/o1"),
      ("http://x.org/p", "http://x.org/o2"),
      ("http://x.org/q", "http://x.org/o3")))
  }
}
