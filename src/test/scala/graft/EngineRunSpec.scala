package graft

import graft.exec.Sinks
import graft.mapping.TurtleParser
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** `Engine.run`'s count contract: one pass, the returned count observed on
  * the write itself, nothing left in the CacheManager.
  */
class EngineRunSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeFile(dir: String, name: String, content: String): String = {
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

  /** 1 TM: rr:class + two POMs, so a subject carries several predicates and
    * a Turtle block groups them.
    */
  private def mapping(csv: String, targets: String = ""): String = prefixes +
    s"""<TM> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ];
       |  rr:subjectMap [ rr:template "http://ex/p/{id}"; rr:class ex:Person ];
       |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ];
       |  rr:predicateObjectMap [ rr:predicate ex:team;
       |    rr:objectMap [ rr:template "http://ex/team/{team}" $targets ] ].
       |""".stripMargin

  // duplicate source rows (1 and 2 twice) and two people sharing a team
  private val dupCsv = "id,name,team\n1,ada,red\n2,bob,blue\n1,ada,red\n3,cy,red\n2,bob,blue\n"

  private def lines(dir: String): Seq[String] =
    spark.read.text(dir).collect().map(_.getString(0)).toSeq

  /** Triples in a Turtle output directory, parsed back: the prefix sidecar
    * (`_00_…`) sorts before the part files.
    */
  private def turtleTriples(dir: String) = {
    val files = new java.io.File(dir).listFiles
      .filter(f => f.isFile && !f.getName.startsWith(".") && f.getName != "_SUCCESS")
      .sortBy(_.getName)
    TurtleParser.parse(files.map(f => java.nio.file.Files.readString(f.toPath)).mkString("\n")).triples
  }

  private def assertNothingCached(): Unit =
    assert(spark.sharedState.cacheManager.isEmpty, "Engine.run left data in the CacheManager")

  test("count contract: the returned count is what the write holds, N-Triples and Turtle") {
    spark.catalog.clearCache()
    val dir = tmpDir("graft_count")
    val csv = writeFile(dir, "people.csv", dupCsv)
    // 3 people × (type, name, team) = 9 distinct triples from 5 rows = 15 raw
    Seq(true -> 9L, false -> 15L).foreach { case (dedup, expected) =>
      val nt = s"$dir/nt_$dedup"
      val nNt = Engine.run(spark, mapping(csv), "", nt,
        Engine.Config(removeDuplicates = dedup))
      assertNothingCached()
      val written = lines(nt)
      assert(nNt == expected && nNt == written.size, s"dedup=$dedup: $nNt vs ${written.size}")
      assert(written.distinct.size == 9)

      val ttl = s"$dir/ttl_$dedup"
      val nTtl = Engine.run(spark, mapping(csv), "", ttl,
        Engine.Config(removeDuplicates = dedup, outputFormat = "turtle"))
      assertNothingCached()
      // the hub split reads the observed quads more than once; the count
      // is neither doubled nor dropped: it matches the N-Triples run
      assert(nTtl == nNt, s"dedup=$dedup: turtle $nTtl vs n-triples $nNt")
      val triples = turtleTriples(ttl)
      assert(triples.size == 9 && triples.distinct.size == 9, triples.mkString("\n"))
    }
  }

  test("count contract: a zero-row source returns 0 without blocking on the observation") {
    spark.catalog.clearCache()
    val dir = tmpDir("graft_empty")
    val csv = writeFile(dir, "people.csv", "id,name,team\n")
    implicit val ec: ExecutionContext = ExecutionContext.global
    Seq("n-triples", "turtle").foreach { fmt =>
      val out = s"$dir/out_$fmt"
      val n = Await.result(Future(Engine.run(spark, mapping(csv), "", out,
        Engine.Config(outputFormat = fmt))), 2.minutes)
      assert(n == 0L, fmt)
      assertNothingCached()
      assert(new java.io.File(out, "_SUCCESS").exists, fmt)
    }
  }

  test("count contract: two logical targets persist per TM and leave nothing cached") {
    spark.catalog.clearCache()
    val dir = tmpDir("graft_targets")
    val csv = writeFile(dir, "people.csv", dupCsv)
    val targets =
      s"""; rml:logicalTarget [ rml:target [ rml:path "$dir/teams_a" ] ],
         |    [ rml:target [ rml:path "$dir/teams_b" ] ]""".stripMargin
    val n = Engine.run(spark, mapping(csv, targets), "", s"$dir/main")
    assert(n == 9L && lines(s"$dir/main").size == 9)
    assertNothingCached()
    Seq("teams_a", "teams_b").foreach { t =>
      assert(lines(s"$dir/$t").toSet == Set(
        "<http://ex/p/1> <http://ex/team> <http://ex/team/red> .",
        "<http://ex/p/2> <http://ex/team> <http://ex/team/blue> .",
        "<http://ex/p/3> <http://ex/team> <http://ex/team/red> ."), t)
    }
  }

  test("concurrent runs in one session each return their own count") {
    spark.catalog.clearCache()
    val dir = tmpDir("graft_concurrent")
    val small = writeFile(dir, "small.csv", "id,name,team\n1,ada,red\n")
    val large = writeFile(dir, "large.csv",
      "id,name,team\n" + (1 to 200).map(i => s"$i,n$i,t${i % 7}").mkString("\n") + "\n")
    implicit val ec: ExecutionContext = ExecutionContext.global
    (1 to 3).foreach { round =>
      val a = Future(Engine.run(spark, mapping(small), "", s"$dir/a$round"))
      val b = Future(Engine.run(spark, mapping(large), "", s"$dir/b$round",
        Engine.Config(outputFormat = "turtle")))
      assert(Await.result(a, 2.minutes) == 3L, s"round $round")
      assert(Await.result(b, 2.minutes) == 600L, s"round $round")
    }
    assertNothingCached()
  }

  test("writeCounted on the adaptive Turtle sink: both hub branches, each quad counted once") {
    import spark.implicits._
    val hub = (1 to 5).map(i => ("<http://ex/hub>", "<http://ex/v>", s"<http://ex/o$i>", null: String))
    val small = Seq(
      ("<http://ex/a>", "<http://ex/v>", "<http://ex/o1>", null: String),
      ("<http://ex/b>", "<http://ex/v>", "<http://ex/o2>", null: String))
    val quads = (hub ++ small).toDF("s", "p", "o", "g")
    val out = tmpDir("graft_hubcount") + "/ttl"
    // threshold 2 × 1: the 5-quad hub takes the hash branch, a and b the
    // rank branch, so the observed frame is read by the hub count and both
    // branches
    val n = Sinks.writeCounted(quads)(q =>
      Sinks.turtleBlocksAdaptive(q, maxGroup = 2, hubFactor = 1).write.text(out))
    assert(n == 7L)
    val text = lines(out).mkString("\n")
    assert(text.split("<http://ex/o", -1).length - 1 == 7, text)
    Seq("hub", "a", "b").foreach(s => assert(text.contains(s"<http://ex/$s> <http://ex/v>"), text))
  }
}
