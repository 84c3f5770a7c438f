package graft

import graft.exec.{Sinks, SubjectRunDistinct, SubjectRunDistinctExec}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
import org.scalatest.funsuite.AnyFunSuite

/** The subject-clustered quad dedup: source rows are hash-partitioned and
  * sorted by subject, and [[SubjectRunDistinct]] dedups each subject's
  * quads on its own. Its result must equal a plain `dropDuplicates` over the
  * same quads, as a multiset, whatever the shuffle width and whether AQE
  * runs, also when one subject's quads outgrow the in-memory bound;
  * mappings it cannot cluster must keep the `dropDuplicates` plan.
  */
class ClusteredDedupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val keys = Seq("s", "p", "o", "g")

  private def writeCsv(name: String, content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdedup").toFile
    val f = new java.io.File(dir, name)
    java.nio.file.Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every (shuffle partitions, AQE) combination the result must not depend on. */
  private def everyLayout(body: String => Unit): Unit =
    for (parts <- Seq("1", "7", "32"); aqe <- Seq("true", "false"))
      withConf("spark.sql.shuffle.partitions" -> parts, "spark.sql.adaptive.enabled" -> aqe) {
        body(s"partitions=$parts aqe=$aqe")
      }

  private def sorted(rs: Array[Row]): Seq[(String, String, String, String)] =
    rs.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted

  private def rows(df: DataFrame): Seq[(String, String, String, String)] =
    sorted(df.select(keys.map(col): _*).collect())

  private def usesSubjectRuns(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[SubjectRunDistinct])

  /** `df`'s rows (s, p, o, g), sorted, and the dedup counters its one run
    * left in the executed plan: no second Spark action reads them.
    */
  private def rowsAndCounters(df: DataFrame): (Seq[(String, String, String, String)], Map[String, Long]) = {
    assert(df.columns.toSeq == keys)
    val got = sorted(df.collect())
    val runs = collect(df.queryExecution.executedPlan) { case e: SubjectRunDistinctExec => e }
    assert(runs.size == 1, df.queryExecution.executedPlan.toString)
    (got, runs.head.metrics.map { case (k, m) => k -> m.value })
  }

  private def dedupOn(ttl: String) = Engine.materialize(spark, ttl)
  private def reference(ttl: String) =
    Engine.materialize(spark, ttl, config = Engine.Config(removeDuplicates = false))
      .dropDuplicates(keys)

  private val prefixes =
    """@prefix rr: <http://www.w3.org/ns/r2rml#> .
      |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
      |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
      |@prefix ex: <http://ex/> .
      |""".stripMargin

  private def source(csv: String) =
    s"""rml:logicalSource [ rml:source "$csv"; rml:referenceFormulation ql:CSV ]"""

  // 240 rows over 37 subjects: rows of one subject repeat some (p, o)
  // pairs and differ in others, and whole rows repeat too
  private lazy val wideCsv = writeCsv("wide.csv", "id,a,b,c,grp\n" +
    (0 until 240).map(i => s"${i % 37},${i % 3},x${i % 5},${(i % 37) * 2},g${i % 4}")
      .mkString("\n") + "\n")

  private def wideMapping(csv: String) = prefixes +
    s"""<W> a rr:TriplesMap; ${source(csv)};
       |  rr:subjectMap [ rr:template "http://ex/e/{id}" ];
       |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a" ] ];
       |  rr:predicateObjectMap [ rr:predicate ex:b; rr:objectMap [ rml:reference "b" ] ];
       |  rr:predicateObjectMap [ rr:predicate ex:c; rr:objectMap [ rml:reference "c" ] ];
       |  rr:predicateObjectMap [ rr:predicate ex:ab; rr:objectMap [ rr:template "http://ex/v/{a}/{b}" ] ].
       |""".stripMargin

  test("wide mapping with repeated subjects: equals dropDuplicates under every layout") {
    val ttl = wideMapping(wideCsv)
    everyLayout { layout =>
      val got = dedupOn(ttl)
      assert(usesSubjectRuns(got), layout)
      val quads = rows(got)
      assert(quads == rows(reference(ttl)), layout)
      assert(quads.distinct.size == quads.size, layout)
      // a consumer reading only `s` must not prune p/o/g below the
      // distinct: that would dedup on the subject alone
      assert(got.select("s").count() == quads.size, layout)
      // a filter on the deduplicated quads
      val one = got.where(col("p") === "<http://ex/a>")
      assert(rows(one) == quads.filter(_._2 == "<http://ex/a>"), layout)
      // the fixture must exercise the dedup: the raw quads repeat
      val raw = Engine.materialize(spark, ttl, config = Engine.Config(removeDuplicates = false))
      assert(raw.count() > quads.size, layout)
    }
  }

  test("two unmerged TMs emitting identical quads dedup across the union") {
    // rr:class keeps the TMs apart (no TM-merge), and both emit the same
    // type and name quads for every subject
    def tm(id: String) =
      s"""<$id> a rr:TriplesMap; ${source(wideCsv)};
         |  rr:subjectMap [ rr:template "http://ex/e/{id}"; rr:class ex:Thing ];
         |  rr:predicateObjectMap [ rr:predicate ex:b; rr:objectMap [ rml:reference "b" ] ].
         |""".stripMargin
    val ttl = prefixes + tm("T1") + tm("T2")
    everyLayout { layout =>
      val got = dedupOn(ttl)
      assert(usesSubjectRuns(got), layout)
      val quads = rows(got)
      assert(quads == rows(reference(ttl)), layout)
      // 37 subjects × (1 class + 5 b-values spread over the rows)
      assert(quads.count(_._2.endsWith("#type>")) == 37, layout)
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // both union children arrive hash-partitioned by subject: the union
      // keeps the partitioning, so the dedup adds no exchange of its own,
      // only one sort of the union's rows
      val plan = dedupOn(ttl).queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toList
      assert(exchanges.size == 2 && exchanges.forall(_.contains("REPARTITION_BY_COL")), plan)
      assert(plan.linesIterator.count(_.contains("Sort [")) == 1, plan)
      assert(plan.linesIterator.count(_.contains("SubjectRunDistinct")) == 1, plan)
    }
  }

  test("subject and POM graph maps: quads differing only in g are all kept") {
    val ttl = prefixes +
      s"""<G> a rr:TriplesMap; ${source(wideCsv)};
         |  rr:subjectMap [ rr:template "http://ex/e/{id}";
         |    rr:graphMap [ rr:template "http://ex/g/{grp}" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:b; rr:objectMap [ rml:reference "b" ];
         |    rr:graph ex:G2 ].
         |""".stripMargin
    everyLayout { layout =>
      val got = dedupOn(ttl)
      assert(usesSubjectRuns(got), layout)
      val quads = rows(got)
      assert(quads == rows(reference(ttl)), layout)
      assert(quads.map(_._4).toSet.size == 5, layout) // g0..g3 + G2
    }
  }

  test("two logical targets: each target holds its deduplicated quads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdedup_k3").toString
    val ttl = prefixes +
      s"""<K> a rr:TriplesMap; ${source(wideCsv)};
         |  rr:subjectMap [ rr:template "http://ex/e/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a"
         |    ; rml:logicalTarget [ rml:target [ rml:path "$dir/ta" ] ],
         |      [ rml:target [ rml:path "$dir/tb" ] ] ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:b; rr:objectMap [ rml:reference "b" ] ].
         |""".stripMargin
    def lines(path: String) = spark.read.text(path).collect().map(_.getString(0)).toSeq.sorted
    everyLayout { layout =>
      val n = Engine.run(spark, ttl, "", s"$dir/main")
      val expected = reference(ttl)
      assert(n == expected.count(), layout)
      assert(lines(s"$dir/main") ==
        Sinks.ntLines(expected).collect().map(_.getString(0)).toSeq.sorted, layout)
      val targetLines = Sinks.ntLines(expected.where(col("p") === "<http://ex/a>"))
        .collect().map(_.getString(0)).toSeq.sorted
      assert(targetLines.nonEmpty && targetLines.distinct.size == targetLines.size, layout)
      Seq("ta", "tb").foreach(t => assert(lines(s"$dir/$t") == targetLines, s"$layout $t"))
    }
  }

  test("blank-node (uuid) subject: one subject per source row, each with its row's quads") {
    // uuid subjects differ between runs, so compare the multiset of
    // per-subject (p, o) sets instead of the quads themselves
    val ttl = prefixes +
      s"""<B> a rr:TriplesMap; ${source(wideCsv)};
         |  rr:subjectMap [ rr:termType rr:BlankNode ];
         |  rr:predicateObjectMap [ rr:predicate ex:a; rr:objectMap [ rml:reference "a" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:b; rr:objectMap [ rml:reference "b" ] ].
         |""".stripMargin
    def shape(quads: Seq[(String, String, String, String)]) =
      quads.groupBy(_._1).values.map(_.map(q => (q._2, q._3)).sorted).toSeq
        .sortBy(_.mkString("|"))
    everyLayout { layout =>
      val got = dedupOn(ttl)
      assert(usesSubjectRuns(got), layout)
      val quads = rows(got)
      assert(quads.forall(_._1.startsWith("_:")), layout)
      assert(quads.map(_._1).distinct.size == 240, layout)
      assert(shape(quads) == shape(rows(reference(ttl))), layout)
    }
  }

  test("fallbacks: a join POM or a constant subject keeps dropDuplicates; " +
      "dedup off adds no clustering exchange") {
    val parentCsv = writeCsv("parent.csv", "pid,label\n0,zero\n1,one\n2,two\n")
    val join = prefixes +
      s"""<J> a rr:TriplesMap; ${source(wideCsv)};
         |  rr:subjectMap [ rr:template "http://ex/e/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:rel; rr:objectMap [
         |    rr:parentTriplesMap <P>; rr:joinCondition [ rr:child "a"; rr:parent "pid" ] ] ].
         |<P> a rr:TriplesMap; ${source(parentCsv)};
         |  rr:subjectMap [ rr:template "http://ex/p/{label}" ].
         |""".stripMargin
    val constant = prefixes +
      s"""<C> a rr:TriplesMap; ${source(wideCsv)};
         |  rr:subjectMap [ rr:constant ex:only ];
         |  rr:predicateObjectMap [ rr:predicate ex:b; rr:objectMap [ rml:reference "b" ] ].
         |""".stripMargin
    def clusteringExchange(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("REPARTITION_BY_COL")
    everyLayout { layout =>
      Seq("join" -> join, "constant" -> constant).foreach { case (name, ttl) =>
        val got = dedupOn(ttl)
        assert(!usesSubjectRuns(got), s"$layout $name")
        assert(!clusteringExchange(got), s"$layout $name")
        assert(rows(got) == rows(reference(ttl)), s"$layout $name")
      }
      assert(rows(dedupOn(constant)).size == 5, layout) // b takes five values
      val off = Engine.materialize(spark, wideMapping(wideCsv),
        config = Engine.Config(removeDuplicates = false))
      assert(!clusteringExchange(off) && !usesSubjectRuns(off), layout)
    }
  }

  test("dedup counters: quads in equal the dedup-off count, quads out the distinct count") {
    val ttl = wideMapping(wideCsv)
    everyLayout { layout =>
      val (quads, counters) = rowsAndCounters(dedupOn(ttl))
      val raw = Engine.materialize(spark, ttl, config = Engine.Config(removeDuplicates = false))
      assert(counters("quadsIn") == raw.count(), layout)
      assert(counters("numOutputRows") == quads.size, layout)
      assert(counters("subjects") == 37, layout)
      assert(counters("subjectsPastBound") == 0, layout)
    }
  }

  // one hub subject with ~63k rows of distinct values (~126k distinct
  // quads, past the 8 MiB in-memory bound) among 37 small subjects
  private lazy val hubCsv = writeCsv("hub.csv", "id,a,b,c,grp\n" +
    (0 until 70000).map { i =>
      val id = if (i % 10 == 0) s"n${i % 37}" else "hub"
      s"$id,$i,x${i % 5},${i % 11},g${i % 4}"
    }.mkString("\n") + "\n")

  test("hub subject past the in-memory bound: equals dropDuplicates under every layout") {
    val ttl = wideMapping(hubCsv)
    val expected = rows(reference(ttl))
    everyLayout { layout =>
      val got = dedupOn(ttl)
      assert(usesSubjectRuns(got), layout)
      val (quads, counters) = rowsAndCounters(got)
      assert(quads == expected, layout)
      assert(counters("subjects") == 38, layout)
      assert(counters("subjectsPastBound") == 1, layout)
    }
  }

  test("sorter path: keys past a small bound come out sorted, distinct, and not re-emitted") {
    import spark.implicits._
    // per row: subject, and three candidate keys (one may be null); rows of
    // one subject repeat keys within and across rows
    val src = (0 until 3000).map { i =>
      (s"s${i % 7}", s"p${i % 3}", s"o${i % 400}", if (i % 5 == 0) null else s"g${i % 2}", i % 9 == 0)
    }.toDF("subj", "p", "o", "g", "skip")
    val quads = array(
      struct(col("p"), col("o"), col("g")),
      when(!col("skip"), struct(col("p"), lit("const").as("o"), lit(null).cast("string").as("g")))
        .otherwise(lit(null)),
      struct(lit("q").as("p"), col("o"), col("g")))
    val expected = src.select(col("subj").as("s"), explode(quads).as("k"))
      .where(col("k").isNotNull)
      .select(col("s"), col("k.p").as("p"), col("k.o").as("o"), col("k.g").as("g"))
      .dropDuplicates(keys)
    everyLayout { layout =>
      val got = SubjectRunDistinct(spark, src, col("subj"), quads, maxSetBytes = 4096)
      val (quadsOut, counters) = rowsAndCounters(got)
      assert(quadsOut == rows(expected), layout)
      assert(counters("quadsIn") == 3000 * 3 - (0 until 3000).count(_ % 9 == 0), layout)
      assert(counters("subjects") == 7 && counters("subjectsPastBound") == 7, layout)
    }
  }
}
