package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** RML-CC gather maps, RML-star quoted TMs, non-asserted TMs, the new W3C
  * dialect, FnO function-valued terms, and graph maps — through the full
  * engine (parse → compile → quads).
  */
class RmlFeaturesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def writeTmp(name: String, content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft").toFile
    val f = new java.io.File(dir, name)
    java.nio.file.Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  private val csv = writeTmp("data.csv",
    """id,a,b,seg
      |1,x1,y1,S1
      |2,x2,,S2
      |""".stripMargin)

  private val prefixes =
    """@prefix rr: <http://www.w3.org/ns/r2rml#> .
      |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
      |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
      |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
      |@prefix ex: <http://ex/> .
      |@prefix fnml: <http://semweb.mmlab.be/ns/fnml#> .
      |@prefix fno: <https://w3id.org/function/ontology#> .
      |@prefix grel: <http://users.ugent.be/~bjdmeest/function/grel.ttl#> .
      |""".stripMargin

  private def triples(mapping: String): Set[(String, String, String)] =
    Engine.materialize(spark, prefixes + mapping).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("gather map: rdf:Seq container with membership triples") {
    val ts = triples(
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:values;
         |    rr:objectMap [ rml:gather ( [ rml:reference "a" ] [ rml:reference "b" ] );
         |                   rml:gatherAs rdf:Seq ]
         |  ].""".stripMargin)
    // row 1: container with 2 members; row 2: b empty → 1 member
    val head1 = ts.find(t => t._1 == "<http://ex/r/1>" && t._2 == "<http://ex/values>").get._3
    assert(head1.startsWith("_:"))
    assert(ts.contains((head1, "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
      "<http://www.w3.org/1999/02/22-rdf-syntax-ns#Seq>")))
    assert(ts.contains((head1, "<http://www.w3.org/1999/02/22-rdf-syntax-ns#_1>", "\"x1\"")))
    assert(ts.contains((head1, "<http://www.w3.org/1999/02/22-rdf-syntax-ns#_2>", "\"y1\"")))
    val head2 = ts.find(t => t._1 == "<http://ex/r/2>" && t._2 == "<http://ex/values>").get._3
    assert(ts.contains((head2, "<http://www.w3.org/1999/02/22-rdf-syntax-ns#_1>", "\"x2\"")))
    assert(!ts.exists(t => t._1 == head2 && t._2.endsWith("#_2>")))
  }

  test("gather map: rdf:List first/rest chain terminates in nil") {
    val ts = triples(
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:list;
         |    rr:objectMap [ rml:gather ( [ rml:reference "a" ] [ rml:reference "b" ] );
         |                   rml:gatherAs rdf:List ]
         |  ].""".stripMargin)
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val head = ts.find(t => t._1 == "<http://ex/r/1>" && t._2 == "<http://ex/list>").get._3
    assert(ts.contains((head, s"<${rdf}first>", "\"x1\"")))
    val rest = ts.find(t => t._1 == head && t._2 == s"<${rdf}rest>").get._3
    assert(ts.contains((rest, s"<${rdf}first>", "\"y1\"")))
    assert(ts.contains((rest, s"<${rdf}rest>", s"<${rdf}nil>")))
  }

  test("rml-star: quoted object from a non-asserted TriplesMap") {
    val ts = triples(
      s"""<QTM> a rml:NonAssertedTriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:seg; rr:objectMap [ rml:reference "seg" ] ].
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/stmt/{id}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:states;
         |    rr:objectMap [ rml:quotedTriplesMap <QTM> ]
         |  ].""".stripMargin)
    assert(ts.contains(("<http://ex/stmt/1>", "<http://ex/states>",
      "<< <http://ex/r/1> <http://ex/seg> \"S1\" >>")))
    // non-asserted: QTM's own triples are NOT emitted
    assert(!ts.exists(t => t._1 == "<http://ex/r/1>" && t._2 == "<http://ex/seg>"))
  }

  test("rml-star: a quoted TM's own rml:baseIRI resolves its object terms, not the child's") {
    val ts = triples(
      s"""<QTM> a rml:NonAssertedTriplesMap;
         |  rml:baseIRI "http://parent-base/";
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "r/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:item;
         |    rr:objectMap [ rr:template "item/{id}" ] ].
         |<TM> a rr:TriplesMap;
         |  rml:baseIRI "http://child-base/";
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/stmt/{id}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:states;
         |    rr:objectMap [ rml:quotedTriplesMap <QTM> ]
         |  ].""".stripMargin)
    // both relative templates inside QTM resolve against QTM's base
    assert(ts.contains(("<http://ex/stmt/1>", "<http://ex/states>",
      "<< <http://parent-base/r/1> <http://ex/item> <http://parent-base/item/1> >>")),
      ts.mkString("\n"))
  }

  test("rml-star: cross-source quoted object with joinCondition, multi-POM parent") {
    val people = writeTmp("people.csv",
      """pid,pname,role
        |1,ada,eng
        |2,bob,ops
        |""".stripMargin)
    val ts = triples(
      s"""<QTM> a rml:NonAssertedTriplesMap;
         |  rml:logicalSource [ rml:source "$people"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/p/{pid}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "pname" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:role; rr:objectMap [ rml:reference "role" ] ].
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/stmt/{id}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:claims;
         |    rr:objectMap [ rml:quotedTriplesMap <QTM>;
         |                   rr:joinCondition [ rr:child "id"; rr:parent "pid" ] ]
         |  ].""".stripMargin)
    // both parent POMs quoted, joined on id=pid across different sources
    assert(ts.contains(("<http://ex/stmt/1>", "<http://ex/claims>",
      "<< <http://ex/p/1> <http://ex/name> \"ada\" >>")))
    assert(ts.contains(("<http://ex/stmt/1>", "<http://ex/claims>",
      "<< <http://ex/p/1> <http://ex/role> \"eng\" >>")))
    assert(ts.contains(("<http://ex/stmt/2>", "<http://ex/claims>",
      "<< <http://ex/p/2> <http://ex/name> \"bob\" >>")))
    // inner-join semantics: no quoted triples for unmatched parents
    assert(ts.size == 4)
  }

  test("rml-star: same-source multi-POM quoted TM emits one quad per parent POM") {
    val ts = triples(
      s"""<QTM> a rml:NonAssertedTriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:b; rr:objectMap [ rml:reference "b" ] ].
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/stmt/{id}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:states;
         |    rr:objectMap [ rml:quotedTriplesMap <QTM> ]
         |  ].""".stripMargin)
    assert(ts.contains(("<http://ex/stmt/1>", "<http://ex/states>",
      "<< <http://ex/r/1> <http://ex/a> \"x1\" >>")))
    assert(ts.contains(("<http://ex/stmt/1>", "<http://ex/states>",
      "<< <http://ex/r/1> <http://ex/b> \"y1\" >>")))
    // row 2 has empty b → only the ex:a quoted branch survives the guard
    assert(ts.contains(("<http://ex/stmt/2>", "<http://ex/states>",
      "<< <http://ex/r/2> <http://ex/a> \"x2\" >>")))
    assert(!ts.exists(t => t._1 == "<http://ex/stmt/2>" && t._3.contains("<http://ex/b>")))
  }

  test("rml-star: quoted SUBJECT joined across sources") {
    val people = writeTmp("people2.csv",
      """pid,pname
        |1,ada
        |2,bob
        |""".stripMargin)
    val ts = triples(
      s"""<QTM> a rml:NonAssertedTriplesMap;
         |  rml:logicalSource [ rml:source "$people"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/p/{pid}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "pname" ] ].
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rml:quotedTriplesMap <QTM>;
         |                  rr:joinCondition [ rr:child "id"; rr:parent "pid" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:confidence; rr:objectMap [ rml:reference "seg" ] ].
         |""".stripMargin)
    assert(ts.contains(("<< <http://ex/p/1> <http://ex/name> \"ada\" >>",
      "<http://ex/confidence>", "\"S1\"")))
    assert(ts.contains(("<< <http://ex/p/2> <http://ex/name> \"bob\" >>",
      "<http://ex/confidence>", "\"S2\"")))
    assert(ts.size == 2)
  }

  test("rml-star: nested quoted SUBJECT with several POMs emits every variant combination") {
    val ts = triples(
      s"""<Inner> a rml:NonAssertedTriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:seg; rr:objectMap [ rml:reference "seg" ] ].
         |<Mid> a rml:NonAssertedTriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rml:quotedTriplesMap <Inner> ];
         |  rr:predicateObjectMap [ rr:predicate ex:conf; rr:objectMap [ rml:reference "seg" ] ].
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/stmt/{id}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:meta;
         |    rr:objectMap [ rml:quotedTriplesMap <Mid> ]
         |  ].""".stripMargin)
    // Mid's subject has TWO variants (Inner's ex:a and ex:seg branches);
    // each yields a doubly-nested quoted object on the same row
    assert(ts.contains(("<http://ex/stmt/1>", "<http://ex/meta>",
      "<< << <http://ex/r/1> <http://ex/a> \"x1\" >> <http://ex/conf> \"S1\" >>")))
    assert(ts.contains(("<http://ex/stmt/1>", "<http://ex/meta>",
      "<< << <http://ex/r/1> <http://ex/seg> \"S1\" >> <http://ex/conf> \"S1\" >>")))
  }

  test("new W3C dialect (w3id.org/rml/) parses identically") {
    val ts = triples(
      s"""@prefix rml2: <http://w3id.org/rml/> .
         |<TM> a rml2:TriplesMap;
         |  rml2:logicalSource [ rml2:source "$csv"; rml2:referenceFormulation rml2:CSV ];
         |  rml2:subjectMap [ rml2:template "http://ex/r/{id}"; rml2:class ex:Row ];
         |  rml2:predicateObjectMap [
         |    rml2:predicate ex:a;
         |    rml2:objectMap [ rml2:reference "a" ]
         |  ].""".stripMargin)
    assert(ts.contains(("<http://ex/r/1>", "<http://ex/a>", "\"x1\"")))
    assert(ts.contains(("<http://ex/r/1>",
      "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "<http://ex/Row>")))
  }

  test("FnO function-valued object map through the engine") {
    val ts = triples(
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:segUpper;
         |    rr:objectMap [ fnml:functionValue [
         |      rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:toUpperCase ],
         |        [ rr:predicate grel:inputString; rr:objectMap [ rml:reference "seg" ] ]
         |    ] ]
         |  ].""".stripMargin)
    assert(ts.contains(("<http://ex/r/1>", "<http://ex/segUpper>", "\"S1\"")))
  }

  test("nested FnO composition: function output feeds another function's input") {
    val ts = triples(
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:slug;
         |    rr:objectMap [ fnml:functionValue [
         |      rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:toUpperCase ],
         |        [ rr:predicate grel:inputString;
         |          rr:objectMap [ fnml:functionValue [
         |            rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:string_replace ],
         |              [ rr:predicate grel:valueParameter; rr:objectMap [ rml:reference "a" ] ],
         |              [ rr:predicate grel:p_string_find; rr:objectMap [ rr:constant "x" ] ],
         |              [ rr:predicate grel:p_string_replace; rr:objectMap [ rr:constant "z" ] ]
         |          ] ] ]
         |    ] ]
         |  ].""".stripMargin)
    // a=x1 → replace x→z → z1 → upper → Z1
    assert(ts.contains(("<http://ex/r/1>", "<http://ex/slug>", "\"Z1\"")))
  }

  test("concat2 returns empty string when either side is Python-falsy (empty), not just null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = Seq(("a", "b"), ("", "b"), ("a", ""), ("", ""))
      .toDF("x", "y")
      .select(graft.functions.FnoRegistry("concat2", List(col("x"), col("y"))).as("r"))
      .collect().map(_.getString(0)).toList
    // reference: `if bool(value1) and bool(value2)` — "" is falsy
    // (fnml_functions.py:172-179)
    assert(out == List("ab", "", "", ""))
  }

  test("parseURL on a value without :// drops the term (reference raises)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("1", "https://ex.org/a/b"), ("2", "not-a-url")).toDF("id", "url")
    val parsed = df.select(col("id"),
      graft.functions.FnoRegistry.apply("parseURL", List(col("url")))
        .getField("domainOutput").as("domain"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(parsed("1").contains("ex.org/a"))
    assert(parsed("2").isEmpty) // Python split("://")[1] raises → no value
  }

  test("P5: rml:condition on the subject map gates whole rows") {
    val ts = triples(
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}";
         |    rml:condition [
         |      rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:equal ],
         |        [ rr:predicate grel:valueParameter; rr:objectMap [ rml:reference "seg" ] ],
         |        [ rr:predicate grel:valueParameter2; rr:objectMap [ rr:constant "S1" ] ]
         |    ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a" ] ].
         |""".stripMargin)
    assert(ts.contains(("<http://ex/r/1>", "<http://ex/a>", "\"x1\"")))
    assert(!ts.exists(_._1 == "<http://ex/r/2>")) // seg=S2 fails the condition
  }

  test("function-valued predicate map builds the predicate IRI via FnO") {
    val ts = triples(
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [
         |    rr:predicateMap [ fnml:functionValue [
         |      rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:schema ],
         |        [ rr:predicate grel:valueParameter; rr:objectMap [ rml:reference "seg" ] ]
         |    ] ];
         |    rr:objectMap [ rml:reference "a" ] ].
         |""".stripMargin)
    // schema() → https://schema.org/<encoded seg>; predicate defaults to IRI
    assert(ts.contains(("<http://ex/r/1>", "<https://schema.org/S1>", "\"x1\"")))
  }

  test("T9: dynamic rml:languageMap tags literals from a column") {
    val langCsv = writeTmp("langs.csv", "id,txt,lng\n1,hello,en\n2,hallo,de\n")
    val ts = triples(
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$langCsv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:label;
         |    rr:objectMap [ rml:reference "txt"; rml:languageMap [ rml:reference "lng" ] ] ].
         |""".stripMargin)
    assert(ts.contains(("<http://ex/r/1>", "<http://ex/label>", "\"hello\"@en")))
    assert(ts.contains(("<http://ex/r/2>", "<http://ex/label>", "\"hallo\"@de")))
  }

  test("POM-level graph map overrides the subject graph") {
    val quads = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}";
         |                  rr:graph <http://ex/graph/default> ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a" ];
         |                          rr:graph <http://ex/graph/special> ];
         |  rr:predicateObjectMap [ rr:predicate ex:seg; rr:objectMap [ rml:reference "seg" ] ].
         |""".stripMargin).collect()
    val byPred = quads.groupBy(_.getString(1)).view.mapValues(_.map(_.getString(3)).toSet).toMap
    assert(byPred("<http://ex/a>") == Set("<http://ex/graph/special>"))
    assert(byPred("<http://ex/seg>") == Set("<http://ex/graph/default>"))
  }

  test("per-TM rml:baseIRI overrides the document @base for relative IRIs") {
    val quads = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rml:baseIRI "http://tm-base.org/";
         |  rr:subjectMap [ rr:template "row/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a" ] ].
         |""".stripMargin).collect()
    val subjects = quads.map(_.getString(0)).toSet
    assert(subjects == Set("<http://tm-base.org/row/1>", "<http://tm-base.org/row/2>"))
  }

  test("dynamic datatype map: relative values get the base, absolute stay raw") {
    val dtCsv = writeTmp("dt.csv",
      """id,v,dt
        |1,a1,integer
        |2,a2,http://www.w3.org/2001/XMLSchema#string
        |""".stripMargin)
    val quads = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dtCsv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:v;
         |    rr:objectMap [ rml:reference "v"; rml:datatypeMap [ rml:reference "dt" ] ] ].
         |""".stripMargin).collect()
    val objs = quads.map(_.getString(2)).toSet
    assert(objs == Set(
      "\"a1\"^^<http://example.com/base/integer>",
      "\"a2\"^^<http://www.w3.org/2001/XMLSchema#string>"))
  }

  test("J2: template-valued childMap/parentMap join keys") {
    val parentCsv = writeTmp("parents.csv",
      """pid,tag
        |P-x1,t1
        |P-x2,t2
        |""".stripMargin)
    val ts = triples(
      s"""<Child> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/c/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:parent;
         |    rr:objectMap [ rr:parentTriplesMap <Parent>;
         |      rr:joinCondition [ rml:childMap [ rr:template "P-{a}" ];
         |                         rml:parentMap [ rml:reference "pid" ] ] ] ].
         |<Parent> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$parentCsv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/p/{tag}" ].
         |""".stripMargin)
    // child a=x1 → key P-x1 matches parent pid=P-x1 (tag t1)
    assert(ts.contains(("<http://ex/c/1>", "<http://ex/parent>", "<http://ex/p/t1>")))
    assert(ts.contains(("<http://ex/c/2>", "<http://ex/parent>", "<http://ex/p/t2>")))
  }

  test("T11: subjectMap with no value becomes a per-row UUID blank node") {
    // reference: a subject map carrying only rr:termType rr:BlankNode (no
    // template/reference/constant) mints a fresh _:uuid per source row
    val quads = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:termType rr:BlankNode ];
         |  rr:predicateObjectMap [ rr:predicate ex:id; rr:objectMap [ rml:reference "id" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:a;  rr:objectMap [ rml:reference "a" ] ].
         |""".stripMargin).collect()
    val subjects = quads.map(_.getString(0))
    // every subject is a syntactically-valid UUID blank-node label
    assert(subjects.nonEmpty && subjects.forall(
      _.matches("_:[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")))
    // 2 source rows × (ex:id + ex:a per row, row 2's empty `a` killed by the
    // null lattice) = 3 triples; each ROW gets one uuid shared by its POMs,
    // distinct across rows
    val byPred = quads.groupBy(_.getString(1))
    assert(byPred("<http://ex/id>").length == 2)
    assert(subjects.distinct.length == 2)
    val idOf = quads.filter(_.getString(1) == "<http://ex/id>")
      .map(r => r.getString(0) -> r.getString(2)).toMap
    val aOf = quads.filter(_.getString(1) == "<http://ex/a>")
      .map(r => r.getString(0) -> r.getString(2)).toMap
    // the row with a=x1 is the row with id=1 — same blank subject
    assert(aOf.keys.forall(s => idOf.contains(s)))
  }

  test("graph maps produce quads") {
    val quads = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}";
         |                  rr:graphMap [ rr:template "http://ex/graph/{seg}" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a" ] ].
         |""".stripMargin).collect()
    val g1 = quads.find(r => r.getString(0) == "<http://ex/r/1>").get.getString(3)
    assert(g1 == "<http://ex/graph/S1>")
  }

  test("gather map: cartesian strategy emits one 2-element list per combination") {
    val json = writeTmp("cart.json",
      """[{"id": "1", "xs": ["a", "b"], "ys": ["p", "q"]}]""")
    val ts = triples(
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$json"; rml:referenceFormulation ql:JSONPath;
         |                      rml:iterator "$$.[*]" ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:pair;
         |    rr:objectMap [ rml:gather ( [ rml:reference "xs" ] [ rml:reference "ys" ] );
         |                   rml:gatherAs rdf:List;
         |                   rml:strategy <http://w3id.org/rml/cartesianProduct> ] ].
         |""".stripMargin)
    val first = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>"
    val rest = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>"
    val nil = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#nil>"
    // 4 combinations → 4 list heads on the subject
    val heads = ts.collect { case ("<http://ex/r/1>", "<http://ex/pair>", o) => o }
    assert(heads.size == 4)
    // each head: first=x, rest→cell2 with first=y, rest=nil
    heads.foreach { h =>
      val x = ts.collect { case (s, p, o) if s == h && p == first => o }
      val r2 = ts.collect { case (s, p, o) if s == h && p == rest => o }
      assert(x.size == 1 && Set("\"a\"", "\"b\"").contains(x.head))
      val y = ts.collect { case (s, p, o) if s == r2.head && p == first => o }
      assert(y.size == 1 && Set("\"p\"", "\"q\"").contains(y.head))
      assert(ts.contains((r2.head, rest, nil)))
    }
    // all 4 (x,y) combinations are present
    val combos = heads.map { h =>
      val x = ts.collectFirst { case (s, p, o) if s == h && p == first => o }.get
      val r2 = ts.collectFirst { case (s, p, o) if s == h && p == rest => o }.get
      val y = ts.collectFirst { case (s, p, o) if s == r2 && p == first => o }.get
      (x, y)
    }
    assert(combos == Set(("\"a\"", "\"p\""), ("\"a\"", "\"q\""),
      ("\"b\"", "\"p\""), ("\"b\"", "\"q\"")))
  }

  test("T13: turtle blocks compact IRIs against the prefix map; rdf:type prints as a") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val quads = Seq(
      ("<http://ex/r/1>", "<http://ex/vocab/name>", "\"n1\""),
      ("<http://ex/r/1>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "<http://ex/vocab/Thing>"),
      // local part with a slash must NOT compact
      ("<http://ex/r/1>", "<http://ex/vocab/a/b>", "\"x\""))
      .toDF("s", "p", "o").withColumn("g", lit(null).cast("string"))
    val blocks = graft.exec.Sinks.turtleBlocks(quads,
      Map("exv" -> "http://ex/vocab/", "ex" -> "http://ex/")).collect().map(_.getString(0))
    val block = blocks.mkString("\n")
    assert(block.contains("<http://ex/r/1>")) // slash in local part → no compaction
    assert(block.contains("exv:name"))      // longest namespace wins
    assert(block.contains("a exv:Thing"))   // rdf:type → a
    assert(block.contains("<http://ex/vocab/a/b>")) // unsafe local part left as IRI
  }

  test("K2 skew guard: a hub subject chunks into bounded blocks; small subjects untouched") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hub: 25 objects on one predicate + 7 extra predicates; tiny cap of 10
    val hub = (1 to 25).map(i => ("<http://ex/hub>", "<http://ex/vocab/link>", f"<http://ex/o/$i%03d>")) ++
      (1 to 7).map(i => ("<http://ex/hub>", s"<http://ex/vocab/p$i>", "\"v\"")) ++
      Seq(("<http://ex/small>", "<http://ex/vocab/p1>", "\"w\""),
          ("<http://ex/small>", "<http://ex/vocab/p1>", "\"w\"")) // dup object collapses
    val quads = hub.toDF("s", "p", "o").withColumn("g", lit(null).cast("string"))
    val blocks = graft.exec.Sinks.turtleBlocks(quads, maxGroup = 10)
      .collect().map(_.getString(0)).sorted
    val hubBlocks = blocks.filter(_.startsWith("<http://ex/hub>"))
    // 25 objects / cap 10 → 3 po-chunks for the link predicate (+7 single
    // POs) = 10 POs ≤ cap → one subject-level chunk
    assert(hubBlocks.length == 1, hubBlocks.mkString("\n"))
    // no po carries more than 10 objects
    val poLines = hubBlocks.head.split(" ;\n\t")
    assert(poLines.count(_.contains("vocab/link")) == 3)
    poLines.foreach(po => assert(po.split(", ").length <= 10))
    // every (s,p,o) survives the chunking exactly once (dups collapsed)
    def rebuild(bs: Array[String]) = bs.flatMap { b =>
      val body = b.stripSuffix(" .")
      val s = body.takeWhile(_ != ' ')
      body.drop(s.length + 1).split(" ;\n\t").flatMap { po =>
        val p = po.takeWhile(_ != ' ')
        po.drop(p.length + 1).split(", ").map(o => (s, p, o))
      }
    }.toSet
    assert(rebuild(blocks) == hub.toSet.map((t: (String, String, String)) => t))
    // subject-level chunking: cap 2 → ceil(25/2) = 13 link po-chunks + 7
    // single POs = 20 POs, ceil(20/2) = 10 hub blocks repeating the
    // subject — chunk sizes are exact
    val blocks2 = graft.exec.Sinks.turtleBlocks(quads, maxGroup = 2)
      .collect().map(_.getString(0))
    val hub2 = blocks2.filter(_.startsWith("<http://ex/hub>"))
    assert(hub2.length == 10, hub2.mkString("\n"))
    assert(rebuild(blocks2) == hub.toSet.map((t: (String, String, String)) => t))
    // default cap leaves everything in one block — byte-identical legacy shape
    val legacy = graft.exec.Sinks.turtleBlocks(quads).collect().map(_.getString(0))
    assert(legacy.count(_.startsWith("<http://ex/hub>")) == 1)
    assert(legacy.count(_.startsWith("<http://ex/small>")) == 1)
  }
}
