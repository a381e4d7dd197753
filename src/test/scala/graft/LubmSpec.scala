package graft

import graft.bgp.{BgpPlanner, Sparql, TripleStore}
import graft.sources.RdfIO
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity spec: the reference's two LUBM query fixtures
  * (LUBMQueries/Query2, LUBMQueries/Query4) against a LUBM-shaped
  * N-Triples fixture, reproducing the golden outcomes — Q4 → 10
  * FullProfessor rows (Result-Q4:1-10), Q2 → empty (Result-Q2:1,
  * entry point C). The RDF database itself is a missing blob in the
  * reference, so the fixture synthesizes the minimal LUBM-shaped
  * universe the golden files imply.
  *
  * The query texts under `src/test/resources/lubm/` are RECONSTRUCTED,
  * not the reference's verbatim files: they follow the shapes
  * FIXTURES.md §A.2 records (Q4: 5 patterns, a star on ?A with the
  * constant object `<http://www.Department0.University0.edu>`; Q2: 6
  * patterns, the ?X ?Y ?Z triangle) in the reference grammar, over the
  * univ-bench URIs this fixture uses. Q2's student type is the
  * fixture's UndergraduateStudent, so its emptiness comes from the
  * triangle not closing, not from an absent type.
  */
class LubmSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val ub = "http://swat.cse.lehigh.edu/onto/univ-bench.owl#"
  private val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  private val dept0 = "http://www.Department0.University0.edu"

  private lazy val store: TripleStore = {
    val nt = new StringBuilder
    def tri(s: String, p: String, o: String): Unit =
      nt ++= s"<$s> <$p> $o .\n"
    // 10 full professors in Department0 (golden Result-Q4 universe)
    for (i <- 0 until 10) {
      val prof = s"$dept0/FullProfessor$i"
      tri(prof, s"${rdf}type", s"<${ub}FullProfessor>")
      tri(prof, s"${ub}worksFor", s"<$dept0>")
      tri(prof, s"${ub}name", s""""FullProfessor$i"""")
      tri(prof, s"${ub}emailAddress",
        s""""FullProfessor$i@Department0.University0.edu"""")
      tri(prof, s"${ub}telephone", "\"xxx-xxx-xxxx\"")
    }
    // a university + department + students whose degree university is
    // DIFFERENT from the department's parent university, so the Q2
    // triangle closes for no student (golden Result-Q2: empty)
    val uni0 = "http://www.University0.edu"
    val uni1 = "http://www.University1.edu"
    tri(uni0, s"${rdf}type", s"<${ub}University>")
    tri(uni1, s"${rdf}type", s"<${ub}University>")
    tri(dept0, s"${rdf}type", s"<${ub}Department>")
    tri(dept0, s"${ub}subOrganizationOf", s"<$uni0>")
    for (i <- 0 until 5) {
      val stud = s"$dept0/UndergraduateStudent$i"
      tri(stud, s"${rdf}type", s"<${ub}UndergraduateStudent>")
      tri(stud, s"${ub}memberOf", s"<$dept0>")
      tri(stud, s"${ub}undergraduateDegreeFrom", s"<$uni1>")
    }
    val f = java.nio.file.Files.createTempDirectory("lubm").resolve("univ.nt")
    java.nio.file.Files.writeString(f, nt.toString)
    RdfIO.readNTriples(spark, f.toString)
  }

  private def lubmQuery(name: String): String = RdfIO.readQuery(
    java.nio.file.Paths.get(getClass.getResource(s"/lubm/$name").toURI).toString)

  test("Query4 text (reconstructed) → 10 professor rows (golden Result-Q4)") {
    val queryText = lubmQuery("Query4")
    val out = BgpPlanner.query(store, queryText)
    // columns canonicalized lexicographically (reference O2)
    assert(out.columns.toSeq == Seq("A", "B", "C", "D"))
    val rows = out.collect()
    assert(rows.length == 10)
    val names = rows.map(_.getAs[String]("B")).toSet
    assert(names == (0 until 10).map(i => s"FullProfessor$i").toSet)
    val emails = rows.map(_.getAs[String]("C")).toSet
    assert(emails.forall(_.endsWith("@Department0.University0.edu")))
  }

  test("Query2 text (reconstructed) → empty (golden Result-Q2)") {
    val queryText = lubmQuery("Query2")
    val q = Sparql.parse(queryText)
    assert(q.patterns.length == 6)
    val out = BgpPlanner.query(store, queryText)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("X", "Y", "Z"))
  }

  test("Query2 graph analysis finds the triangle's three join vertices") {
    val q = Sparql.parse(lubmQuery("Query2"))
    val g = BgpPlanner.analyze(q)
    // ?X ?Y ?Z all have degree > 1 (reference identifyJoinNodes
    // QueryPlanner.c:226-239)
    assert(g.joinVertices.map { case graft.bgp.Sparql.Var(n) => n; case other => other.toString } ==
      Set("X", "Y", "Z"))
  }
}
