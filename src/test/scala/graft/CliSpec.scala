package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The config.ini CLI entry point end-to-end (reference shape:
  * example/config.ini + example/mapping.ttl — two CSVs, a join, one
  * deduplicated N-Triples output per dataset).
  */
class CliSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("config.ini run: datasets materialize to N-Triples output folders") {
    spark // force session so Main reuses it instead of creating/stopping one
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toFile
    def write(name: String, content: String): java.io.File = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.writeString(f.toPath, content)
      f
    }
    write("people.csv", "id,name\n1,ada\n2,bob\n2,bob\n")
    write("mapping.ttl",
      """@prefix rr: <http://www.w3.org/ns/r2rml#> .
        |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
        |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
        |@prefix ex: <http://ex/> .
        |<TM> a rr:TriplesMap;
        |  rml:logicalSource [ rml:source "people.csv"; rml:referenceFormulation ql:CSV ];
        |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
        |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ].
        |""".stripMargin)
    val config = write("config.ini",
      s"""[datasets]
         |number_of_datasets: 1
         |output_folder: ${dir.getAbsolutePath}/out
         |remove_duplicate: yes
         |all_in_one_file: no
         |output_format: n-triples
         |
         |[dataset1]
         |name: people
         |mapping: ${dir.getAbsolutePath}/mapping.ttl
         |""".stripMargin)

    graft.cli.Main.main(Array("-c", config.getAbsolutePath))

    assert(spark.sparkContext.isStopped == false) // CLI must not stop a shared session
    val lines = spark.read.text(s"${dir.getAbsolutePath}/out/people")
      .collect().map(_.getString(0)).toSet
    // duplicate source row deduplicated at the triple level
    assert(lines == Set(
      "<http://ex/p/1> <http://ex/name> \"ada\" .",
      "<http://ex/p/2> <http://ex/name> \"bob\" ."))
  }

  test("reference-style config with execution-strategy knobs runs unchanged") {
    // the reference's own example/config.ini shape: [default] interpolation
    // plus every execution-strategy knob (enrichment/ordered/large_file/
    // mapping_partitions/new_formulation). A migrated config must run
    // as-is — the knobs are accepted, logged, and ignored (SURVEY §4).
    spark
    val dir = java.nio.file.Files.createTempDirectory("graft_cli3").toFile
    def write(name: String, content: String): java.io.File = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.writeString(f.toPath, content)
      f
    }
    write("people.csv", "id,name\n1,ada\n2,bob\n")
    write("mapping.ttl",
      """@prefix rr: <http://www.w3.org/ns/r2rml#> .
        |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
        |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
        |@prefix ex: <http://ex/> .
        |<TM> a rr:TriplesMap;
        |  rml:logicalSource [ rml:source "people.csv"; rml:referenceFormulation ql:CSV ];
        |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
        |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ].
        |""".stripMargin)
    val config = write("config.ini",
      s"""[default]
         |main_directory: ${dir.getAbsolutePath}
         |
         |[datasets]
         |number_of_datasets: 1
         |output_folder: $${default:main_directory}/out
         |remove_duplicate: yes
         |all_in_one_file: no
         |name: knobs
         |enrichment: yes
         |ordered: yes
         |large_file: false
         |mapping_partitions: yes
         |new_formulation: no
         |output_format: n-triples
         |
         |[dataset1]
         |name: people
         |mapping: $${default:main_directory}/mapping.ttl
         |""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.cli.Main.main(Array("-c", config.getAbsolutePath))
    }
    val printed = out.toString("UTF-8")
    Seq("enrichment", "ordered", "large_file", "mapping_partitions", "new_formulation")
      .foreach(k => assert(printed.contains(s"config knob '$k"), s"missing log for $k"))
    val lines = spark.read.text(s"${dir.getAbsolutePath}/out/people")
      .collect().map(_.getString(0)).toSet
    assert(lines == Set(
      "<http://ex/p/1> <http://ex/name> \"ada\" .",
      "<http://ex/p/2> <http://ex/name> \"bob\" ."))
  }

  test("all_in_one_file=yes merges datasets into one deduplicated output") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("graft_cli2").toFile
    def write(name: String, content: String): java.io.File = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.writeString(f.toPath, content)
      f
    }
    write("a.csv", "id,v\n1,x\n")
    write("b.csv", "id,v\n1,x\n2,y\n") // overlapping triple for id=1
    def mapping(src: String) =
      s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
         |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
         |@prefix ex: <http://ex/> .
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$src"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rml:reference "v" ] ].
         |""".stripMargin
    write("m1.ttl", mapping("a.csv"))
    write("m2.ttl", mapping("b.csv"))
    val config = write("config.ini",
      s"""[datasets]
         |number_of_datasets: 2
         |output_folder: ${dir.getAbsolutePath}/out
         |remove_duplicate: yes
         |all_in_one_file: yes
         |name: merged
         |
         |[dataset1]
         |name: a
         |mapping: ${dir.getAbsolutePath}/m1.ttl
         |[dataset2]
         |name: b
         |mapping: ${dir.getAbsolutePath}/m2.ttl
         |""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.cli.Main.main(Array("-c", config.getAbsolutePath))
    }
    // the merged output's count, observed on its one write
    assert(out.toString("UTF-8").contains(
      s"Successfully created 2 triples at ${dir.getAbsolutePath}/out/merged"), out.toString("UTF-8"))
    val lines = spark.read.text(s"${dir.getAbsolutePath}/out/merged")
      .collect().map(_.getString(0)).toSet
    // cross-dataset duplicate (p/1 v x) collapses: UNION semantics
    assert(lines == Set(
      "<http://ex/p/1> <http://ex/v> \"x\" .",
      "<http://ex/p/2> <http://ex/v> \"y\" ."))
  }
}
