package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** XML sources with attribute references (S3/T3) and logical-target routing
  * with per-target serialization + compression (K3).
  */
class XmlTargetsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def writeTmp(name: String, content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft").toFile
    val f = new java.io.File(dir, name)
    java.nio.file.Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  private val prefixes =
    """@prefix rr: <http://www.w3.org/ns/r2rml#> .
      |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
      |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
      |@prefix ex: <http://ex/> .
      |""".stripMargin

  test("S3/T3: XML source with element and @attribute references") {
    val xml = writeTmp("cities.xml",
      """<cities>
        |  <city code="DE"><name>Berlin</name></city>
        |  <city code="FR"><name>Paris</name></city>
        |</cities>""".stripMargin)
    val ts = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$xml"; rml:referenceFormulation ql:XPath;
         |                      rml:iterator "/cities/city" ];
         |  rr:subjectMap [ rr:template "http://ex/city/{name}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:code; rr:objectMap [ rml:reference "@code" ] ].
         |""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(ts == Set(
      ("<http://ex/city/Berlin>", "<http://ex/code>", "\"DE\""),
      ("<http://ex/city/Paris>", "<http://ex/code>", "\"FR\"")))
  }

  test("T3: XML parent axis ../@attr reaches the enclosing element") {
    val xml = writeTmp("orders.xml",
      """<orders>
        |  <order id="o1"><item sku="a"/><item sku="b"/></order>
        |  <order id="o2"><item sku="c"/></order>
        |</orders>""".stripMargin)
    val ts = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$xml"; rml:referenceFormulation ql:XPath;
         |                      rml:iterator "/orders/order/item" ];
         |  rr:subjectMap [ rr:template "http://ex/item/{@sku}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:order; rr:objectMap [ rml:reference "..@id" ] ].
         |""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(ts == Set(
      ("<http://ex/item/a>", "<http://ex/order>", "\"o1\""),
      ("<http://ex/item/b>", "<http://ex/order>", "\"o1\""),
      ("<http://ex/item/c>", "<http://ex/order>", "\"o2\"")))
  }

  test("S8: csvw source descriptor resolves url + dialect delimiter") {
    val csv = writeTmp("pipes.csv", "id|name\n1|ada\n2|bob\n")
    val ts = Engine.materialize(spark, prefixes +
      """@prefix csvw: <http://www.w3.org/ns/csvw#> .
        |""".stripMargin +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [
         |    rml:source [ a csvw:Table; csvw:url "$csv";
         |                 csvw:dialect [ csvw:delimiter "|" ] ];
         |    rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ].
         |""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(ts == Set(
      ("<http://ex/p/1>", "<http://ex/name>", "\"ada\""),
      ("<http://ex/p/2>", "<http://ex/name>", "\"bob\"")))
  }

  test("S8: void dataDump source descriptor resolves the dump path") {
    val csv = writeTmp("dump.csv", "id,name\n7,eve\n")
    val ts = Engine.materialize(spark, prefixes +
      """@prefix void: <http://rdfs.org/ns/void#> .
        |""".stripMargin +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [
         |    rml:source [ a void:Dataset; void:dataDump "$csv" ];
         |    rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ].
         |""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(ts == Set(("<http://ex/p/7>", "<http://ex/name>", "\"eve\"")))
  }

  test("V1/V3: mapping-level logical view with embedded CSV-in-JSON field") {
    val json = writeTmp("payload.json",
      """[{"id": "1", "pay": "a,b\n10,20\n30,40"},
        | {"id": "2", "pay": "a,b\n50,60"}]""".stripMargin)
    val ts = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [
         |    rml:viewOn [ rml:source "$json"; rml:referenceFormulation ql:JSONPath;
         |                 rml:iterator "$$.[*]" ];
         |    rml:field [ rml:fieldName "id"; rml:reference "id" ];
         |    rml:field [ rml:fieldName "rows"; rml:reference "pay";
         |                rml:field [ rml:referenceFormulation ql:CSV ] ] ];
         |  rr:subjectMap [ rr:template "http://ex/r/{id}-{rows.#}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "rows.a" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:b; rr:objectMap [ rml:reference "rows.b" ] ].
         |""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(ts == Set(
      ("<http://ex/r/1-0>", "<http://ex/a>", "\"10\""),
      ("<http://ex/r/1-0>", "<http://ex/b>", "\"20\""),
      ("<http://ex/r/1-1>", "<http://ex/a>", "\"30\""),
      ("<http://ex/r/1-1>", "<http://ex/b>", "\"40\""),
      ("<http://ex/r/2-0>", "<http://ex/a>", "\"50\""),
      ("<http://ex/r/2-0>", "<http://ex/b>", "\"60\"")))
  }

  test("J8: mapping-level logical-view left join pulls named parent fields") {
    val child = writeTmp("emp.csv", "eid,dept\n1,10\n2,20\n3,99\n")
    val parent = writeTmp("dept.csv", "did,dname\n10,eng\n20,ops\n")
    val quads = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [
         |    rml:viewOn [ rml:source "$child"; rml:referenceFormulation ql:CSV ];
         |    rml:field [ rml:fieldName "eid"; rml:reference "eid" ];
         |    rml:field [ rml:fieldName "dept"; rml:reference "dept" ];
         |    rml:leftJoin [
         |      rml:parentLogicalView [
         |        rml:viewOn [ rml:source "$parent"; rml:referenceFormulation ql:CSV ];
         |        rml:field [ rml:fieldName "did"; rml:reference "did" ];
         |        rml:field [ rml:fieldName "dname"; rml:reference "dname" ] ];
         |      rml:joinCondition [ rml:child "dept"; rml:parent "did" ];
         |      rml:field [ rml:fieldName "deptName"; rml:reference "dname" ] ] ];
         |  rr:subjectMap [ rr:template "http://ex/e/{eid}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:dept; rr:objectMap [ rml:reference "deptName" ] ].
         |""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(quads == Set(
      ("<http://ex/e/1>", "<http://ex/dept>", "\"eng\""),
      ("<http://ex/e/2>", "<http://ex/dept>", "\"ops\"")))
    // e/3's dept has no parent row: left join keeps the row, the null field
    // kills only the triple (no e/3 dept triple, consistent with P3)
  }

  test("S2: gzip-compressed JSON sources decompress natively") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gz").toFile
    val gz = new java.io.File(dir, "data.json.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    out.write("""[{"id": "1", "name": "ada"}, {"id": "2", "name": "bob"}]""".getBytes("UTF-8"))
    out.close()
    val ts = Engine.materialize(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "${gz.getAbsolutePath}"; rml:referenceFormulation ql:JSONPath;
         |                      rml:iterator "$$.[*]" ];
         |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ].
         |""".stripMargin).collect()
    assert(ts.length == 2)
  }

  test("K3: mapping-declared rml:logicalTarget routes a POM's triples to its own dump") {
    val csv = writeTmp("t.csv", "id,name,age\n1,ada,30\n2,bob,40\n")
    val dumpDir = java.nio.file.Files.createTempDirectory("graft_lt").toString
    val n = Engine.run(spark, prefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:name;
         |    rr:objectMap [ rml:reference "name";
         |      rml:logicalTarget [ rml:target [ rml:path "$dumpDir/names_dump" ] ] ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:age; rr:objectMap [ rml:reference "age" ] ].
         |""".stripMargin, "", s"$dumpDir/main")
    assert(n == 4)
    val dump = spark.read.text(s"$dumpDir/names_dump").collect().map(_.getString(0)).toSet
    assert(dump == Set(
      "<http://ex/p/1> <http://ex/name> \"ada\" .",
      "<http://ex/p/2> <http://ex/name> \"bob\" ."))
    // the main output still has everything
    assert(spark.read.text(s"$dumpDir/main").count() == 4)
  }

  test("K4: JSON-LD lines parse as JSON with @id/@value/@type/@language") {
    import spark.implicits._
    import graft.exec.Sinks
    val quads = Seq(
      ("<http://ex/1>", "<http://ex/name>", "\"ada \\\"l\\\"\"@en"),
      ("<http://ex/1>", "<http://ex/age>", "\"36\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("<http://ex/1>", "<http://ex/knows>", "<http://ex/2>"))
      .toDF("s", "p", "o").withColumn("g", lit(null).cast("string"))
    val lines = Sinks.jsonLdLines(quads).collect().map(_.getString(0))
    assert(lines.length == 1)
    val parsed = spark.read.json(Seq(lines.head).toDS)
    val row = parsed.collect().head
    assert(row.getAs[String]("@id") == "http://ex/1")
    // typed literal keeps @type; lang-tagged keeps @language; IRI object → @id
    assert(lines.head.contains("\"@type\":\"http://www.w3.org/2001/XMLSchema#integer\""))
    assert(lines.head.contains("\"@language\":\"en\""))
    assert(lines.head.contains("{\"@id\":\"http://ex/2\"}"))
    assert(lines.head.contains("ada \\\"l\\\"")) // NT escapes are valid JSON escapes
  }

  test("K4 skew guard: hub subject rank-chunks in JSON-LD/RDF-JSON/RDF-XML; graph and key-uniqueness preserved") {
    import spark.implicits._
    import graft.exec.Sinks
    // hub: 25 objects on one predicate + 7 single-object predicates, cap 10
    val hub = (1 to 25).map(i => ("<http://ex/hub>", "<http://ex/vocab/link>", f"<http://ex/o/$i%03d>")) ++
      (1 to 7).map(i => ("<http://ex/hub>", s"<http://ex/vocab/p$i>", "\"v\"")) ++
      Seq(("<http://ex/s2>", "<http://ex/vocab/p1>", "\"w\""))
    val quads = hub.toDF("s", "p", "o").withColumn("g", lit(null).cast("string"))

    // JSON-LD: link chunks to och 0/1/2 → 3 hub node objects (och 0 also
    // carries p1..p7); each line's predicate keys must stay unique
    val ld = Sinks.jsonLdLines(quads, maxGroup = 10).collect().map(_.getString(0))
    val hubLd = ld.filter(_.contains("\"@id\":\"http://ex/hub\""))
    assert(hubLd.length == 3, hubLd.mkString("\n"))
    assert(ld.count(_.contains("\"@id\":\"http://ex/s2\"")) == 1)
    val keyRe = """"(http[^"]+)":\[""".r
    ld.foreach { l =>
      val keys = keyRe.findAllMatchIn(l).map(_.group(1)).toList
      assert(keys == keys.distinct, s"duplicate JSON keys in: $l")
    }
    assert(hubLd.map(l => "\\{\"@id\":\"http://ex/o/".r.findAllIn(l).size).sum == 25,
      "all 25 link objects must survive chunking")

    // RDF-JSON: same chunk arithmetic → 3 hub rows, keys unique per row
    val rj = Sinks.rdfJson(quads, maxGroup = 10).collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(rj.count(_._1 == "<http://ex/hub>") == 3)
    rj.foreach { case (_, j) =>
      val keys = """"(<http[^"]+>)":""".r.findAllMatchIn(j).map(_.group(1)).toList
      assert(keys == keys.distinct, s"duplicate predicate keys in: $j")
    }

    // RDF/XML: 32 property elements chunk into 4 Descriptions of ≤10;
    // every link object survives as an rdf:resource
    val xml = Sinks.rdfXmlLines(quads, maxGroup = 10).collect().map(_.getString(0))
    val hubXml = xml.filter(_.contains("rdf:about=\"http://ex/hub\""))
    assert(hubXml.length == 4, hubXml.mkString("\n"))
    assert(hubXml.map(b => "rdf:resource=\"http://ex/o/".r.findAllIn(b).size).sum == 25)
    assert(xml.count(_.contains("rdf:about=\"http://ex/s2\"")) == 1)

    // below the cap (defaults): one line per subject, unchanged shape
    assert(Sinks.jsonLdLines(quads).count() == 2)
    assert(Sinks.rdfJson(quads).count() == 2)
    assert(Sinks.rdfXmlLines(quads).count() == 2)
  }

  test("K3: logical targets route by predicate with serialization + gzip compression") {
    import spark.implicits._
    import graft.exec.Sinks
    val quads = Seq(
      ("<http://ex/1>", "<http://ex/name>", "\"n1\""),
      ("<http://ex/1>", "<http://ex/age>", "\"3\""),
      ("<http://ex/2>", "<http://ex/name>", "\"n2\""))
      .toDF("s", "p", "o").withColumn("g", lit(null).cast("string"))
    val base = java.nio.file.Files.createTempDirectory("graft_targets").toString
    Sinks.writeLogicalTargets(quads, Seq(
      Sinks.TargetSpec(col("p") === "<http://ex/name>", s"$base/names",
        serialization = "ntriples", compression = Some("gzip")),
      Sinks.TargetSpec(col("p") === "<http://ex/age>", s"$base/ages",
        serialization = "rdfjson")))
    // gzip part files decompress transparently on read
    val gz = new java.io.File(s"$base/names").listFiles.map(_.getName)
    assert(gz.exists(_.endsWith(".txt.gz")))
    val names = spark.read.text(s"$base/names").collect().map(_.getString(0)).toSet
    assert(names == Set(
      "<http://ex/1> <http://ex/name> \"n1\" .",
      "<http://ex/2> <http://ex/name> \"n2\" ."))
    val ages = spark.read.text(s"$base/ages").collect().map(_.getString(0))
    assert(ages.length == 1 && ages.head.startsWith("<http://ex/1> {"))
    assert(ages.head.contains("\"<http://ex/age>\""))
  }

  test("K4: RDF/XML target parses back as XML with resources, datatypes, langs") {
    import spark.implicits._
    import graft.exec.Sinks
    val quads = Seq(
      ("<http://ex/1>", "<http://ex/v#name>", "\"a<b>&\\\"q\\\"\"@en"),
      ("<http://ex/1>", "<http://ex/v#age>", "\"36\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("<http://ex/1>", "<http://ex/v#knows>", "<http://ex/2>"),
      ("_:b0", "<http://ex/v#name>", "\"anon\""))
      .toDF("s", "p", "o").withColumn("g", lit(null).cast("string"))
    val base = java.nio.file.Files.createTempDirectory("graft_rdfxml").toString
    Sinks.writeLogicalTargets(quads, Seq(
      Sinks.TargetSpec(lit(true), s"$base/out", serialization = "rdfxml")))
    // concatenated sorted files must be one well-formed RDF/XML document
    val files = new java.io.File(s"$base/out").listFiles
      .filter(f => f.isFile && f.getName != "_SUCCESS" && !f.getName.startsWith("."))
      .sortBy(_.getName)
    val doc = files.map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val dom = dbf.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(doc.getBytes("UTF-8")))
    val descs = dom.getElementsByTagNameNS(
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#", "Description")
    assert(descs.getLength == 2) // one per subject (IRI + bnode)
    assert(doc.contains("rdf:resource=\"http://ex/2\""))
    assert(doc.contains("rdf:datatype=\"http://www.w3.org/2001/XMLSchema#integer\""))
    assert(doc.contains("xml:lang=\"en\""))
    assert(doc.contains("rdf:nodeID=\"b0\""))
    // literal text is XML-escaped and NT-unescaped: a<b>&"q"
    assert(doc.contains("a&lt;b&gt;&amp;&quot;q&quot;"))
    assert(dom.getElementsByTagNameNS("http://ex/v#", "name").item(0)
      .getTextContent == "a<b>&\"q\"")
  }

  test("K3: n3 serialization and UTF-16 encoding targets") {
    import spark.implicits._
    import graft.exec.Sinks
    val quads = Seq(("<http://ex/1>", "<http://ex/name>", "\"ada\""))
      .toDF("s", "p", "o").withColumn("g", lit(null).cast("string"))
    val base = java.nio.file.Files.createTempDirectory("graft_n3").toString
    Sinks.writeLogicalTargets(quads, Seq(
      Sinks.TargetSpec(lit(true), s"$base/out_n3", serialization = "n3"),
      Sinks.TargetSpec(lit(true), s"$base/out_u16", serialization = "ntriples",
        encoding = "UTF-16")))
    val n3 = spark.read.text(s"$base/out_n3").collect().map(_.getString(0)).mkString
    assert(n3.contains("<http://ex/1> <http://ex/name> \"ada\" ."))
    // UTF-16 BOM present; decodes back to the N-Triples line
    val u16f = new java.io.File(s"$base/out_u16").listFiles
      .filter(f => f.getName.startsWith("part-")).head
    val bytes = java.nio.file.Files.readAllBytes(u16f.toPath)
    assert(bytes.length >= 2 && bytes(0) == 0xFE.toByte && bytes(1) == 0xFF.toByte)
    assert(new String(bytes, "UTF-16").contains("<http://ex/1> <http://ex/name> \"ada\" ."))
  }

  test("K3: gzip compression composes with UTF-16 encoding and a gzipped ttl sidecar") {
    import spark.implicits._
    import graft.exec.Sinks
    val quads = Seq(("<http://ex/1>", "<http://ex/name>", "\"ada\""))
      .toDF("s", "p", "o").withColumn("g", lit(null).cast("string"))
    val base = java.nio.file.Files.createTempDirectory("graft_gzu16").toString
    Sinks.writeLogicalTargets(quads, Seq(
      Sinks.TargetSpec(lit(true), s"$base/gz_u16", serialization = "ntriples",
        compression = Some("gzip"), encoding = "UTF-16"),
      Sinks.TargetSpec(lit(true), s"$base/gz_ttl", serialization = "turtle",
        compression = Some("gzip"))),
      prefixes = Map("ex" -> "http://ex/"))
    // part file is still gzip; the decompressed payload decodes as UTF-16
    val part = new java.io.File(s"$base/gz_u16").listFiles
      .filter(_.getName.startsWith("part-")).head
    val gin = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(part))
    val payload = gin.readAllBytes(); gin.close()
    assert(payload.length >= 2 && payload(0) == 0xFE.toByte && payload(1) == 0xFF.toByte)
    assert(new String(payload, "UTF-16").contains("<http://ex/1> <http://ex/name> \"ada\" ."))
    // the turtle prefix sidecar is gzipped alongside gzipped parts
    val sidecar = new java.io.File(s"$base/gz_ttl/_00_prefixes.ttl.gz")
    assert(sidecar.exists)
    val sin = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(sidecar))
    assert(new String(sin.readAllBytes(), "UTF-8").contains("@prefix ex: <http://ex/> ."))
    sin.close()
  }

  test("K3: zip and tar.gz archive targets pack the dump into one archive file") {
    import spark.implicits._
    import graft.exec.Sinks
    val quads = Seq(("<http://ex/1>", "<http://ex/name>", "\"ada\""))
      .toDF("s", "p", "o").withColumn("g", lit(null).cast("string"))
    val base = java.nio.file.Files.createTempDirectory("graft_zip").toString
    Sinks.writeLogicalTargets(quads, Seq(
      Sinks.TargetSpec(lit(true), s"$base/dump.nt.zip", serialization = "ntriples",
        compression = Some("zip")),
      Sinks.TargetSpec(lit(true), s"$base/dump.nt.tar.gz", serialization = "ntriples",
        compression = Some("tar.gz"))))
    val zf = new java.util.zip.ZipFile(s"$base/dump.nt.zip")
    val entries = scala.jdk.CollectionConverters.EnumerationHasAsScala(zf.entries()).asScala.toList
    val content = entries.map(e =>
      new String(zf.getInputStream(e).readAllBytes(), "UTF-8")).mkString
    zf.close()
    assert(content.contains("<http://ex/1> <http://ex/name> \"ada\" ."))
    assert(!new java.io.File(s"$base/dump.nt.zip__raw").exists) // raw dir cleaned up
    val tin = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(s"$base/dump.nt.tar.gz")))
    var tarContent = ""
    var e = tin.getNextEntry
    while (e != null) { tarContent += new String(tin.readAllBytes(), "UTF-8"); e = tin.getNextEntry }
    tin.close()
    assert(tarContent.contains("<http://ex/1> <http://ex/name> \"ada\" ."))
  }

  test("K3: unknown declared serialization fails loud at parse time") {
    val csv = writeTmp("x.csv", "id\n1\n")
    val ex = intercept[IllegalArgumentException] {
      Engine.materialize(spark, prefixes +
        s"""<TM> a rr:TriplesMap;
           |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
           |  rr:subjectMap [ rr:template "http://ex/p/{id}";
           |    rml:logicalTarget [ rml:target [ rml:path "/tmp/never" ];
           |      rml:serialization <http://www.w3.org/ns/formats/TriG> ] ];
           |  rr:predicateObjectMap [ rr:predicate ex:id; rr:objectMap [ rml:reference "id" ] ].
           |""".stripMargin)
    }
    assert(ex.getMessage.contains("TriG") && ex.getMessage.contains("unsupported"))
  }
}
