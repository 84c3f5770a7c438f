package graft

import graft.exec.{Sinks, SubjectRunDistinct}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[Sinks.turtleBlocks]] against a plain-Scala reference of the rank
  * chunking the k2b oracle replays: distinct (s, p, o); objects per (s, p)
  * sorted and chunked by rank; PO strings `p + " " + objs` sorted and
  * chunked by rank. The walk emits POs in (p, o) order, so the term pools
  * hold the prefix pairs that could break "(p, o) order = PO-string order":
  * `ex:a`/`ex:ab`/`ex:a-b`, `"a"`/`"a"@en`/`"a"^^<…>`, `<…/a>`/`<…/a/b>`,
  * `a` vs `ab:x` and `_:b1`/`_:b10`.
  */
class TurtlePropSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val maxGroups = Seq(1, 2, 3, 10)
  private val rdfType = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
  private val prefixes = Map("ex" -> "http://ex/vocab/", "ab" -> "http://ex/ab/")

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Plain-Scala twin of [[Sinks.compactIri]] (same regex per prefix,
    * longest namespace first).
    */
  private def compact(t: String): String =
    prefixes.toSeq.sortBy(-_._2.length).foldLeft(t) { case (acc, (p, ns)) =>
      acc.replaceAll("^<" + java.util.regex.Pattern.quote(ns) +
        "([A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?)>$", p + ":$1")
    }

  private def reference(quads: Seq[(String, String, String)], maxGroup: Int): Seq[String] =
    quads.map { case (s, p, o) =>
      (compact(s), if (p == rdfType) "a" else compact(p), compact(o))
    }.distinct.groupBy(_._1).toSeq.flatMap { case (s, spo) =>
      val pos = spo.groupBy(_._2).toSeq.flatMap { case (p, os) =>
        os.map(_._3).sorted.grouped(maxGroup).map(ch => p + " " + ch.mkString(", "))
      }.sorted
      pos.grouped(maxGroup).map(ch => s + " " + ch.mkString(" ;\n\t") + " .")
    }.sorted

  private def blocks(quads: DataFrame, maxGroup: Int): Seq[String] =
    Sinks.turtleBlocks(quads, prefixes, maxGroup).collect().map(_.getString(0)).toSeq.sorted

  private val subjects = Seq("<http://ex/s/a>", "<http://ex/s/a/b>", "<http://ex/vocab/a>",
    "_:b1", "_:b10")
  private val predicates = Seq("<http://ex/vocab/a>", "<http://ex/vocab/ab>",
    "<http://ex/vocab/a-b>", rdfType, "<http://ex/ab/x>", "<http://ex/p/a>", "<http://ex/p/a/b>")
  private val objects = Seq("\"a\"", "\"a\"@en", "\"a\"@en-us", "\"a\"^^<http://ex/dt>", "\"ab\"",
    "\"é\"", "<http://ex/o/a>", "<http://ex/o/a/b>", "_:b1", "_:b10", "_:b1-x",
    "<http://ex/vocab/a>", "<http://ex/vocab/ab>", "<http://ex/vocab/a-b>", "<http://ex/vocab/a.b>")

  // one hot subject so hubs cross every cap; repeats make duplicates
  private val quadSets: Gen[List[(String, String, String)]] = for {
    n <- Gen.choose(0, 80)
    qs <- Gen.listOfN(n, for {
      s <- Gen.frequency(3 -> Gen.const(subjects.head), 2 -> Gen.oneOf(subjects))
      p <- Gen.oneOf(predicates)
      o <- Gen.oneOf(objects)
    } yield (s, p, o))
  } yield qs

  test("turtleBlocks equals the rank reference on random quads (toDF input)") {
    samples(quadSets, 20).foreach { qs =>
      val df = qs.toDF("s", "p", "o")
      maxGroups.foreach { m =>
        assert(blocks(df, m) == reference(qs, m), s"maxGroup=$m quads=$qs")
      }
    }
  }

  test("turtleBlocks equals the rank reference on Engine.materialize's clustered quads") {
    // per row: one predicate local name and one value, spread over POMs
    // that share the predicate and differ in object term type
    val rows = Gen.listOf(for {
      id <- Gen.oneOf("1", "2", "3")
      pn <- Gen.oneOf("a", "ab", "a-b")
      v <- Gen.oneOf("a", "ab", "a-b", "a.b")
      iri <- Gen.oneOf("http://ex/o/a", "http://ex/o/a/b", "http://ex/vocab/a")
      bn <- Gen.oneOf("b1", "b10", "b1-x")
    } yield Seq(id, pn, v, iri, bn).mkString(","))
    samples(rows, 8).foreach { rs =>
      val dir = java.nio.file.Files.createTempDirectory("graft_ttlprop").toFile
      val csv = new java.io.File(dir, "t.csv")
      java.nio.file.Files.writeString(csv.toPath, ("id,pn,v,iri,bn" +: rs).mkString("\n") + "\n")
      val quads = Engine.materialize(spark,
        s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
           |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
           |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
           |<T> a rr:TriplesMap;
           |  rml:logicalSource [ rml:source "${csv.getAbsolutePath}"; rml:referenceFormulation ql:CSV ];
           |  rr:subjectMap [ rr:template "http://ex/s/{id}"; rr:class <http://ex/vocab/C> ];
           |  rr:predicateObjectMap [ rr:predicateMap [ rr:template "http://ex/vocab/{pn}" ];
           |    rr:objectMap [ rml:reference "v" ] ];
           |  rr:predicateObjectMap [ rr:predicateMap [ rr:template "http://ex/vocab/{pn}" ];
           |    rr:objectMap [ rml:reference "v"; rr:language "en" ] ];
           |  rr:predicateObjectMap [ rr:predicateMap [ rr:template "http://ex/vocab/{pn}" ];
           |    rr:objectMap [ rml:reference "v"; rr:datatype <http://ex/dt> ] ];
           |  rr:predicateObjectMap [ rr:predicateMap [ rr:template "http://ex/vocab/{pn}" ];
           |    rr:objectMap [ rml:reference "iri"; rr:termType rr:IRI ] ];
           |  rr:predicateObjectMap [ rr:predicateMap [ rr:template "http://ex/vocab/{pn}" ];
           |    rr:objectMap [ rml:reference "bn"; rr:termType rr:BlankNode ] ];
           |  rr:predicateObjectMap [ rr:predicate <http://ex/ab/x>;
           |    rr:objectMap [ rml:reference "v" ] ].
           |""".stripMargin)
      assert(quads.queryExecution.optimizedPlan.exists(_.isInstanceOf[SubjectRunDistinct]))
      val qs = quads.select("s", "p", "o").as[(String, String, String)].collect().toSeq
      maxGroups.foreach { m =>
        assert(blocks(quads, m) == reference(qs, m), s"maxGroup=$m rows=$rs")
      }
    }
  }
}
