package graft

import graft.functions.RmlStrings
import graft.mapping.{MappingParser, TurtleParser}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class EngineSliceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def writeTmp(name: String, content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft").toFile
    val f = new java.io.File(dir, name)
    java.nio.file.Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  // Fixture mirroring the reference's example shape (FIXTURES.md §1):
  // child CSV with duplicated rows + join to a parent CSV.
  val childCsv: String =
    """id,kind
      |K1,alpha beta
      |K1,alpha beta
      |K2,gamma
      |K3,delta#x
      |K9,orphan
      |""".stripMargin
  val parentCsv: String =
    """pid,label
      |K1,L1
      |K2,L2
      |K3,L3
      |K4,unused
      |""".stripMargin

  def mapping(childPath: String, parentPath: String): String =
    s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
       |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
       |@prefix ex: <http://example.com/vocab/> .
       |<TM1> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$childPath"; rml:referenceFormulation ql:CSV ];
       |  rr:subjectMap [ rr:template "http://example.com/Kind/{kind}"; rr:class ex:Kind ];
       |  rr:predicateObjectMap [
       |    rr:predicate ex:relatedTo;
       |    rr:objectMap [
       |      rr:parentTriplesMap <TM2>;
       |      rr:joinCondition [ rr:child "id"; rr:parent "pid" ]
       |    ]
       |  ].
       |<TM2> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$parentPath"; rml:referenceFormulation ql:CSV ];
       |  rr:subjectMap [ rr:template "http://example.com/Label/{label}"; rr:class ex:Label ].
       |""".stripMargin

  test("turtle parser handles the RML subset") {
    val g = TurtleParser.parse(mapping("/a.csv", "/b.csv"))
    assert(g.prefixes("rr") == "http://www.w3.org/ns/r2rml#")
    val tms = g.subjectsWith(TurtleParser.RDF_TYPE, graft.mapping.Iri("http://www.w3.org/ns/r2rml#TriplesMap"))
    assert(tms.size == 2)
  }

  test("mapping parser extracts the IR") {
    val doc = MappingParser.parse(mapping("/a.csv", "/b.csv"))
    assert(doc.triplesMaps.size == 2)
    val tm1 = doc.triplesMaps.find(_.id.endsWith("TM1")).get
    assert(tm1.subject.rdfClasses == List("http://example.com/vocab/Kind"))
    assert(tm1.poms.size == 1)
    val rom = tm1.poms.head.objectMap.refObject.get
    assert(rom.joinCondition.get.childAttrs == List("id"))
  }

  test("end-to-end: CSV join mapping → deduplicated triples") {
    val child = writeTmp("child.csv", childCsv)
    val parent = writeTmp("parent.csv", parentCsv)
    val quads = Engine.materialize(spark, mapping(child, parent))
    val triples = quads.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

    // percent-encoding of the space (alpha beta → alpha%20beta)
    assert(triples.contains((
      "<http://example.com/Kind/alpha%20beta>",
      "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
      "<http://example.com/vocab/Kind>")))
    // '#' encodes to %23
    assert(triples.contains((
      "<http://example.com/Kind/delta%23x>",
      "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
      "<http://example.com/vocab/Kind>")))
    // join: K1 → L1; orphan K9 produces no relatedTo triple
    assert(triples.contains((
      "<http://example.com/Kind/alpha%20beta>",
      "<http://example.com/vocab/relatedTo>",
      "<http://example.com/Label/L1>")))
    assert(!triples.exists(t => t._1.contains("orphan") && t._2.contains("relatedTo")))
    // duplicates collapsed: K1 row appears twice but triple once
    val k1Type = quads.collect().count(r =>
      r.getString(0) == "<http://example.com/Kind/alpha%20beta>" && r.getString(1).endsWith("type>"))
    assert(k1Type == 1)
    // parent classes also emitted (L4/unused included — parent TM emits all)
    assert(triples.contains((
      "<http://example.com/Label/unused>",
      "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
      "<http://example.com/vocab/Label>")))
  }

  test("percent encoding matches python urllib.parse.quote semantics") {
    assert(RmlStrings.encode("alpha beta") == "alpha%20beta")
    assert(RmlStrings.encode("a/b") == "a%2Fb")
    assert(RmlStrings.encode("x:y@z=w+v%u") == "x:y@z=w+v%u")
    assert(RmlStrings.encode("café") == "caf%C3%A9")
    assert(RmlStrings.encode("a#b?c&d") == "a%23b%3Fc%26d")
    assert(RmlStrings.encode("漢字") == "%E6%BC%A2%E5%AD%97")
  }

  test("nt escaping") {
    assert(RmlStrings.ntEscape("a\"b\\c\nd") == "a\\\"b\\\\c\\nd")
  }

  test("null lattice") {
    assert(RmlStrings.isRmlNull(""))
    assert(RmlStrings.isRmlNull("  "))
    assert(RmlStrings.isRmlNull("nan"))
    assert(RmlStrings.isRmlNull("N/A"))
    assert(RmlStrings.isRmlNull("NULL"))
    assert(!RmlStrings.isRmlNull("0"))
  }

  test("P1: JDBC table sources get a synthesized SELECT DISTINCT projection query") {
    import graft.model._
    val tm = TriplesMap("TM",
      LogicalSource.JdbcSource("jdbc:postgresql://h/db", "postgres", None, Some("people")),
      SubjectMap(TermMap(TermKind.Template, "http://ex/p/{id}")),
      List(
        PredicateObjectMap(TermMap(TermKind.Constant, "http://ex/name"),
          ObjectMap(Some(TermMap(TermKind.Reference, "name")))),
        PredicateObjectMap(TermMap(TermKind.Constant, "http://ex/knows"),
          ObjectMap(None, refObject = Some(RefObjectMap("TM2",
            Some(JoinCondition(List("friend_id"), List("id")))))))))
    assert(graft.exec.MappingCompiler.synthesizeJdbcQuery(tm) ==
      Some("""SELECT DISTINCT "id", "name", "friend_id" FROM people"""))
  }

  test("P1: synthesized projection covers subject-condition and quoted-join child attrs") {
    import graft.model._
    val cond = FunctionCall("http://ex/fn#isNull",
      scala.collection.immutable.VectorMap("http://ex/fn#str" -> FunctionArg.Ref("status")))
    val tm = TriplesMap("TM",
      LogicalSource.JdbcSource("jdbc:postgresql://h/db", "postgres", None, Some("people")),
      SubjectMap(TermMap(TermKind.Template, "http://ex/p/{id}"), condition = Some(cond)),
      List(
        PredicateObjectMap(TermMap(TermKind.Constant, "http://ex/said"),
          ObjectMap(Some(TermMap(TermKind.QuotedTriplesMap, quotedTm = Some("QT"),
            quotedJoin = Some(JoinCondition(List("quote_id"), List("qid")))))))))
    val q = graft.exec.MappingCompiler.synthesizeJdbcQuery(tm).get
    // the P5 condition reads `status`, the quoted join probes on `quote_id`;
    // omitting either makes the pushed-down scan unresolvable at runtime
    assert(q.contains("\"status\""), q)
    assert(q.contains("\"quote_id\""), q)
  }
}
