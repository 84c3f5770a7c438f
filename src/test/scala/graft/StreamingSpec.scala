package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("streaming windowed agg matches the batch result on the same data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val batch = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:40:00", "click", 2.0),
      ("2024-01-01 01:10:00", "click", 4.0),
      ("2024-01-01 00:20:00", "buy", 8.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
    batch.write.mode("overwrite").parquet(dir)

    val expected = StreamingOps.windowedAgg(batch).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    val stream = StreamingOps.streamingWindowedAgg(spark, dir, batch.schema)
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == expected)
      assert(got.exists(_._1 == "2024-01-01 00:00:00"))
    } finally q.stop()
  }

  test("stateful sessionization splits on gap") {
    import StreamingOps._
    val events = Seq(
      EventRow(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0),
      EventRow(1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "a", 2.0),
      EventRow(1L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), "a", 4.0),
      EventRow(2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "b", 8.0))
      .toDS()
    // batch Dataset drives the same flatMapGroupsWithState logic
    val sessions = sessionize(events, gapMs = 30 * 60 * 1000).collect()
    // user 1: first session (2 events) closed by the 2h gap
    assert(sessions.exists(s => s.user_id == 1L && s.n_events == 2 && s.total_value == 3.0))
  }

  test("streaming dedup within watermark drops in-window duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    Seq(
      ("2024-01-01 00:10:00", "e1", 1.0),
      ("2024-01-01 00:11:00", "e1", 1.0), // duplicate key inside watermark
      ("2024-01-01 00:12:00", "e2", 2.0))
      .toDF("ts_s", "event_id", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_id", $"value")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = StreamingOps.dedupWithinWatermark(
      spark.readStream.schema(schema).parquet(dir), Seq("event_id"), "ts", "1 hour")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect().map(_.getAs[String]("event_id"))
      assert(got.sorted.toSeq == Seq("e1", "e2"))
    } finally q.stop()
  }

  test("streaming RML materialization: quads stream out, parent join is stream-static") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srml").toFile
    val childDir = new java.io.File(dir, "child"); childDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(childDir, "c1.csv").toPath,
      "id,name,nk\n1,ada,10\n2,bob,20\n3,eve,99\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "nations.csv").toPath,
      "nk,nname\n10,DE\n20,FR\n")
    val mapping =
      s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
         |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
         |@prefix ex: <http://ex/> .
         |<Child> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "${childDir.getAbsolutePath}"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:nation;
         |    rr:objectMap [ rr:parentTriplesMap <Nation>;
         |                   rr:joinCondition [ rr:child "nk"; rr:parent "nk" ] ] ].
         |<Nation> a rml:NonAssertedTriplesMap;
         |  rml:logicalSource [ rml:source "${dir.getAbsolutePath}/nations.csv"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/nation/{nname}" ].
         |""".stripMargin
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("nk", org.apache.spark.sql.types.StringType)))
    val quads = Engine.materializeStream(spark, mapping, "", schema)
    assert(quads.isStreaming)
    val q = quads.writeStream.outputMode("append")
      .format("memory").queryName("srml_out").start()
    try {
      q.processAllAvailable()
      val ts = spark.table("srml_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(ts.contains(("<http://ex/p/1>", "<http://ex/name>", "\"ada\"")))
      assert(ts.contains(("<http://ex/p/1>", "<http://ex/nation>", "<http://ex/nation/DE>")))
      assert(ts.contains(("<http://ex/p/2>", "<http://ex/nation>", "<http://ex/nation/FR>")))
      // nk=99 has no parent → inner-join semantics drop only the join triple
      assert(!ts.exists(t => t._1 == "<http://ex/p/3>" && t._2 == "<http://ex/nation>"))
      assert(ts.contains(("<http://ex/p/3>", "<http://ex/name>", "\"eve\"")))
    } finally q.stop()
  }

  test("streaming RML over a JSON directory source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sjson").toFile
    val src = new java.io.File(dir, "src"); src.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(src, "d1.json").toPath,
      """[{"id": "1", "name": "ada"}, {"id": "2", "name": "bob"}]""")
    val mapping =
      s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
         |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
         |@prefix ex: <http://ex/> .
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "${src.getAbsolutePath}";
         |                      rml:referenceFormulation ql:JSONPath; rml:iterator "$$" ];
         |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ].
         |""".stripMargin
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val quads = Engine.materializeStream(spark, mapping, "", schema)
    val q = quads.writeStream.outputMode("append").format("memory").queryName("sjson_out").start()
    try {
      q.processAllAvailable()
      val ts = spark.table("sjson_out").collect()
        .map(r => (r.getString(0), r.getString(2))).toSet
      assert(ts == Set(("<http://ex/p/1>", "\"ada\""), ("<http://ex/p/2>", "\"bob\"")))
    } finally q.stop()
  }

  test("stream-static join enriches events against a static dim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    Seq(("e1", 1L), ("e2", 2L), ("e3", 9L))
      .toDF("event_id", "dim_id").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val dim = Seq((1L, "one"), (2L, "two")).toDF("dim_id", "name")
    val stream = StreamingOps.streamStaticJoin(
      spark.readStream.schema(schema).parquet(dir), dim, Seq("dim_id"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getAs[String]("event_id"), r.getAs[String]("name"))).toSet
      assert(got == Set(("e1", "one"), ("e2", "two"))) // e3 has no dim row
    } finally q.stop()
  }

  test("streaming corpus-membership filter passes only unseen values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snc").toString
    Seq((10L, "alpha"), (11L, "delta"), (12L, "beta"), (13L, "epsilon"))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("cid", "v")
    val stream = StreamingOps.streamNotInCorpus(
      spark.readStream.schema(schema).parquet(dir), corpus, "v",
      expectedItems = 100L)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("snc_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snc_out").collect().map(_.getAs[Long]("id")).toSet
      assert(got == Set(11L, 13L)) // alpha/beta already in the corpus
    } finally q.stop()
  }

  test("stream-stream interval join pairs rows within the range, bounded state") {
    val mk = (rows: Seq[(String, Long, String)], name: String) => {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_ssij_$name").toString
      rows.toDF("ts_s", "k", "tag")
        .select(to_timestamp($"ts_s").as("ts"), $"k", $"tag")
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val ldir = mk(Seq(("2024-01-01 00:10:00", 1L, "l1"), ("2024-01-01 03:00:00", 2L, "l2")), "l")
    val rdir = mk(Seq(
      ("2024-01-01 00:12:00", 1L, "r-in"),      // 2 min after l1 → joins
      ("2024-01-01 00:09:00", 1L, "r-before"),  // 1 min before l1 → joins (within 'before')
      ("2024-01-01 01:00:00", 1L, "r-far"),     // 50 min after → outside range
      ("2024-01-01 03:01:00", 9L, "r-wrongkey")), "r")
    val schema = spark.read.parquet(ldir).schema
    val joined = StreamingOps.streamStreamIntervalJoin(
      spark.readStream.schema(schema).parquet(ldir),
      spark.readStream.schema(schema).parquet(rdir),
      key = "k", tsCol = "ts", delay = "1 hour", before = "5 MINUTES", after = "10 MINUTES")
      .select(col("l.tag").as("ltag"), col("r.tag").as("rtag"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssij_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssij_out").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("l1", "r-in"), ("l1", "r-before")))
    } finally q.stop()
  }

  test("stream-stream interval join is row-identical to the BATCH interval join (seeded random fixture)") {
    // the one op family with no DuckDB oracle row gets its correctness
    // pin here: a bounded seeded-random fixture through the streaming
    // path (availableNow semantics via processAllAvailable) must produce
    // exactly the batch join's multiset. The watermark delay (1 day)
    // exceeds the fixture's full time span, so no row can be dropped as
    // late however the source splits micro-batches — equality is exact
    // by construction, not a race.
    val rnd = new scala.util.Random(20260814L)
    val baseMs = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def mk(n: Int, pfx: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_ssij_eq_$pfx").toString
      (0 until n).map { i =>
        (new java.sql.Timestamp(baseMs + rnd.nextInt(4 * 3600) * 1000L),
          rnd.nextInt(8).toLong, s"$pfx$i")
      }.toDF("ts", "k", "tag").write.mode("overwrite").parquet(dir)
      dir
    }
    val (ldir, rdir) = (mk(200, "l"), mk(300, "r"))
    val schema = spark.read.parquet(ldir).schema
    val joined = StreamingOps.streamStreamIntervalJoin(
      spark.readStream.schema(schema).parquet(ldir),
      spark.readStream.schema(schema).parquet(rdir),
      key = "k", tsCol = "ts", delay = "1 day",
      before = "3 MINUTES", after = "7 MINUTES")
      .select(col("l.tag").as("ltag"), col("r.tag").as("rtag"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssij_eq_out").start()
    val got = try {
      q.processAllAvailable()
      spark.table("ssij_eq_out").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    } finally q.stop()
    // batch twin: the identical join condition over the static frames
    val lb = spark.read.parquet(ldir).as("l")
    val rb = spark.read.parquet(rdir).as("r")
    val want = lb.join(rb,
        col("l.k") === col("r.k") &&
          col("r.ts") >= col("l.ts") - expr("INTERVAL 3 MINUTES") &&
          col("r.ts") <= col("l.ts") + expr("INTERVAL 7 MINUTES"))
      .select(col("l.tag"), col("r.tag")).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(want.nonEmpty, "fixture must exercise the join (tune key/range density)")
    assert(got == want, s"stream ${got.size} rows vs batch ${want.size}")
  }

  test("hotKeyMasses: dyadic output-budget cap flags the planted celebrity key only") {
    // keys 0–9 at mass 2 (class-2 weight 40) + key 7 at mass 200
    // (class-256 weight 40000): rows = 220, budget = 64×220 = 14080, so
    // the class-256 cum (40040) blows the budget and the cap floors at
    // 16 — exactly one hot key, priced by its own m².
    val hist = ((0 until 10).flatMap(k => Seq.fill(2)(k.toLong)) ++
      Seq.fill(200)(7L)).toDF("k")
    val got = StreamingOps.hotKeyMasses(hist, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got.count(_._3) == 1)
    assert(got.contains((7L, 202L, true)))
    assert(got.contains((3L, 2L, false)))
  }

  test("the crawl ingest chain runs under Structured Streaming AS-IS: " +
      "warcRecords → htmlText are stateless narrow ops, stream ≡ batch") {
    import graft.ops.WebIngest
    val dir = java.nio.file.Files.createTempDirectory("graft_st_warc").toString
    (0L until 30L).toDF("doc_id")
      .select(col("doc_id"), WebIngest.syntheticWarc(col("doc_id"),
        concat(lit("<html><body><p>page "), col("doc_id"),
          lit("</p></body></html>")),
        col("doc_id") % 2 === 1).as("payload"))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def chain(df: org.apache.spark.sql.DataFrame) =
      WebIngest.htmlText(
        WebIngest.warcRecords(df).where(col("warc_type") === "conversion"),
        "content_text")
        .select(col("doc_id"), col("html_text"))
    val q = chain(spark.readStream.schema(schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("st_warc_out").start()
    val got = try {
      q.processAllAvailable()
      spark.table("st_warc_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    } finally q.stop()
    val want = chain(spark.read.parquet(dir)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(want.length == 30 && got == want,
      s"stream ${got.length} rows vs batch ${want.length}")
    assert(got.head._2 == "page 0")
  }

  test("streaming parity: the CDX selection chain — cdxjEntries (pure " +
      "Columns) → warcRecordAt → httpResponses (stateless narrow maps) — " +
      "gives stream ≡ batch") {
    import graft.ops.WebIngest
    val dir = java.nio.file.Files.createTempDirectory("graft_st_cdx").toString
    (0L until 20L).toDF("doc_id")
      .select(col("doc_id"), WebIngest.syntheticWarcCdx(col("doc_id"),
        concat(lit("<p>page "), col("doc_id"), lit("</p>"))).as("g"))
      .select(col("doc_id"), col("g._1").as("payload"),
        explode(col("g._2")).as("cdx_line"))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def chain(df: org.apache.spark.sql.DataFrame) = {
      val sel = WebIngest.cdxjEntries(df, "cdx_line")
        .where(col("parse_error").isNull && col("cdx_status") === 200)
        .drop("parse_error", "cdx_line")
      WebIngest.httpResponses(
        WebIngest.warcRecordAt(sel)
          .where(col("parse_error").isNull)
          .select(col("doc_id"), col("urlkey"), col("content_bytes")))
        .select(col("doc_id"), col("urlkey"), col("http_status"), col("http_body"))
    }
    val q = chain(spark.readStream.schema(schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("st_cdx_out").start()
    val got = try {
      q.processAllAvailable()
      spark.table("st_cdx_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
        .sorted.toSeq
    } finally q.stop()
    val want = chain(spark.read.parquet(dir)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
      .sorted.toSeq
    assert(want.length == 20 && got == want,
      s"stream ${got.length} rows vs batch ${want.length}")
    assert(got.head._4 == "<p>page 0</p>")
  }

  test("streaming parity: the frontier extraction chain — warcRecordBytes " +
      "→ httpResponses → extractLinks (all stateless narrow maps) gives " +
      "stream ≡ batch, so a live crawl feed can ride the same ops") {
    import graft.ops.WebIngest
    val dir = java.nio.file.Files.createTempDirectory("graft_st_links").toString
    (0L until 20L).toDF("doc_id")
      .select(col("doc_id"), WebIngest.syntheticWarcPage(
        concat(lit("http://h"), col("doc_id") % 4, lit(".ex.com/p/"), col("doc_id")),
        concat(lit("<a href=\"n"), col("doc_id") + 1,
          lit("\">n</a><a href=\"/abs\">a</a>")),
        col("doc_id") % 2 === 1).as("payload"))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def chain(df: org.apache.spark.sql.DataFrame) = {
      val recs = WebIngest.warcRecordBytes(df)
        .where(col("parse_error").isNull && col("warc_type") === "response")
        .select(col("doc_id"), col("target_uri"), col("content_bytes"))
      WebIngest.extractLinks(
        WebIngest.httpResponses(recs).select(col("doc_id"),
          col("target_uri"), col("http_body")),
        "http_body", "target_uri")
        .select(col("doc_id"), explode(col("link_urls")).as("u"))
    }
    val q = chain(spark.readStream.schema(schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("st_links_out").start()
    val got = try {
      q.processAllAvailable()
      spark.table("st_links_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    } finally q.stop()
    val want = chain(spark.read.parquet(dir)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(want.length == 40 && got == want,
      s"stream ${got.length} rows vs batch ${want.length}")
    assert(want.contains((0L, "http://h0.ex.com/p/n1")))
    assert(want.contains((0L, "http://h0.ex.com/abs")))
  }

  test("hotKeyMasses rangeFraction: a dense uniform horizon blows the " +
      "worst-case m² budget but is admitted once the real range share is priced") {
    // 100 keys × mass 80: Σ m² = 640 000 > 64 × 8 000 = 512 000, so the
    // worst-case model (range covers the horizon) flags EVERY key — the
    // §17.6-addendum uniform-dense regime. Pricing a 1/16 range share
    // (2 s range in a 32 s horizon) divides the effective output by 16
    // and every key is admitted.
    val hist = (0 until 100).flatMap(k => Seq.fill(80)(k.toLong)).toDF("k")
    val worst = StreamingOps.hotKeyMasses(hist, "k").collect()
    assert(worst.forall(_.getBoolean(2)),
      "worst-case model must flag the dense uniform horizon")
    val priced = StreamingOps.hotKeyMasses(hist, "k", rangeFraction = 1.0 / 16)
      .collect()
    assert(priced.forall(!_.getBoolean(2)),
      "priced range share must admit the dense uniform horizon")
    intercept[IllegalArgumentException] {
      StreamingOps.hotKeyMasses(hist, "k", rangeFraction = 0.0)
    }
  }

  test("guardedStreamStreamIntervalJoin: hot key routed out, join equals the batch twin on surviving keys") {
    val rnd = new scala.util.Random(20260815L)
    val baseMs = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def mk(pfx: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_hkg_$pfx").toString
      val uniform = (0 until 200).map { i =>
        (new java.sql.Timestamp(baseMs + rnd.nextInt(3600) * 1000L),
          rnd.nextInt(8).toLong, s"$pfx$i")
      }
      // the celebrity: one key carrying ~33% of the side's rows — the
      // §17.6 shape whose unguarded self-join output is Θ(mass²)
      val hot = (0 until 100).map { i =>
        (new java.sql.Timestamp(baseMs + rnd.nextInt(3600) * 1000L),
          99L, s"${pfx}h$i")
      }
      (uniform ++ hot).toDF("ts", "k", "tag").write.mode("overwrite").parquet(dir)
      dir
    }
    val (ldir, rdir) = (mk("l"), mk("r"))
    val history = spark.read.parquet(ldir).unionByName(spark.read.parquet(rdir))
    // the guard's OWN verdicts drive the batch twin (no hardcoded key
    // list): assert the celebrity is hot, then require stream ≡ batch on
    // the surviving keys exactly
    val verdicts = StreamingOps.hotKeyMasses(history, "k")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(verdicts(99L), "planted 33%-mass key must be hot")
    assert(verdicts.count(_._2) < verdicts.size, "uniform keys must survive")
    val schema = spark.read.parquet(ldir).schema
    val joined = StreamingOps.guardedStreamStreamIntervalJoin(
      spark.readStream.schema(schema).parquet(ldir),
      spark.readStream.schema(schema).parquet(rdir),
      key = "k", tsCol = "ts", delay = "1 day",
      before = "2 MINUTES", after = "5 MINUTES",
      history = history, historyKeyCol = "k")
      .select(col("l.tag").as("ltag"), col("r.tag").as("rtag"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("hkg_out").start()
    val got = try {
      q.processAllAvailable()
      spark.table("hkg_out").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    } finally q.stop()
    val hotKeys = verdicts.filter(_._2).keySet
    val lb = spark.read.parquet(ldir).where(!col("k").isin(hotKeys.toSeq: _*)).as("l")
    val rb = spark.read.parquet(rdir).where(!col("k").isin(hotKeys.toSeq: _*)).as("r")
    val want = lb.join(rb,
        col("l.k") === col("r.k") &&
          col("r.ts") >= col("l.ts") - expr("INTERVAL 2 MINUTES") &&
          col("r.ts") <= col("l.ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("l.tag"), col("r.tag")).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(want.nonEmpty, "fixture must exercise the surviving-key join")
    assert(got == want, s"guarded stream ${got.size} rows vs batch twin ${want.size}")
  }

  test("streamHotKeyGuard: tags hot-key rows in-stream, passes the rest unflagged") {
    val baseMs = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val dir = java.nio.file.Files.createTempDirectory("graft_hkg_tag").toString
    ((0 until 40).map(i => (new java.sql.Timestamp(baseMs + i * 1000L), (i % 4).toLong)) ++
      (0 until 300).map(i => (new java.sql.Timestamp(baseMs + i * 1000L), 42L)))
      .toDF("ts", "k").write.mode("overwrite").parquet(dir)
    val history = spark.read.parquet(dir)
    val schema = history.schema
    val flagged = StreamingOps.streamHotKeyGuard(
      spark.readStream.schema(schema).parquet(dir), "k", history, "k")
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("hkg_tag_out").start()
    val rows = try {
      q.processAllAvailable()
      spark.table("hkg_tag_out").select(col("k"), col("is_hot_key")).collect()
        .map(r => (r.getLong(0), r.getBoolean(1)))
    } finally q.stop()
    assert(rows.length == 340)
    assert(rows.filter(_._1 == 42L).forall(_._2), "celebrity rows must be flagged")
    assert(rows.filter(_._1 != 42L).forall(!_._2), "uniform rows must pass unflagged")
  }

  test("runStream: streaming RML writes N-Triples part files per batch") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_rs_src").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_rs_out").toString
    val rows = Seq(("1", "ada"), ("2", "bob")).toDF("id", "name")
    rows.coalesce(1).write.mode("overwrite").option("header", "true").csv(srcDir)
    val ttl =
      s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
         |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
         |@prefix ex: <http://ex/> .
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$srcDir"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/p/{id}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ].
         |""".stripMargin
    val q = Engine.runStream(spark, ttl, "", rows.schema, outDir)
    try q.processAllAvailable() finally q.stop()
    val lines = spark.read.option("recursiveFileLookup", "true")
      .text(s"$outDir/nt").collect().map(_.getString(0)).toSet
    assert(lines == Set(
      "<http://ex/p/1> <http://ex/name> \"ada\" .",
      "<http://ex/p/2> <http://ex/name> \"bob\" ."))
  }

  test("codec decode runs inside a streaming micro-batch (narrow map, no state)") {
    // the multimodal decoders are mapPartitions over rows — legal in a
    // streaming plan with no state store; a crawl-ingest stream can decode
    // payloads in the same micro-batch that lands them
    val dir = java.nio.file.Files.createTempDirectory("graft_mmstream").toString
    Seq(1L, 2L).toDF("doc_id")
      .withColumn("payload", graft.ops.Multimodal.syntheticPng(
        lit(9), lit(7), lit(120), lit(60), lit(30)))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = graft.ops.Multimodal.decodeImages(
      spark.readStream.schema(schema).parquet(dir), "payload")
    assert(stream.isStreaming)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("mm_stream_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("mm_stream_out").collect()
      assert(got.length == 2)
      assert(got.forall(r => r.getAs[Int]("img_width") == 9 &&
        r.getAs[Int]("img_height") == 7 &&
        r.isNullAt(r.fieldIndex("decode_error"))))
    } finally q.stop()
  }

  test("quality gates run unchanged on a stream (stateless scan-side filters)") {
    // C4/Gopher/repetition signals are pure projections, so the same code
    // path serves batch corpora and streaming ingest — the streaming form
    // of the pretraining filter chain needs no watermark and no state
    val dir = java.nio.file.Files.createTempDirectory("graft_qstream").toString
    val batch = Seq(
      (1L, "First sentence here. Second one follows. And a third sentence."),
      (2L, "short {code}"))
      .toDF("doc_id", "text")
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val gated = graft.ops.TextAnalysis.repetitionSignals(
      graft.ops.TextAnalysis.c4Signals(stream, "text"), "text")
      .select(col("doc_id"), col("c4_keep"), col("dup_line_frac"))
    assert(gated.isStreaming, "quality signals must compose on a streaming frame")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("qgate_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("qgate_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == Map(1L -> true, 2L -> false))
    } finally q.stop()
  }

  test("classifier scoring and normalization run inside a streaming micro-batch") {
    // the quality-classifier inference pass and canonical normalization are
    // stateless projections — the same code path scores batch corpora and
    // live ingest; the kernel variant (UDF) is the deployment form
    val dir = java.nio.file.Files.createTempDirectory("graft_clstream").toString
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "  spaced \t out  ")).toDF("doc_id", "text")
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val w = graft.ops.TextAnalysis.hashedWeights(32, seed = 7)
    val scored = graft.ops.TextAnalysis.normalizeText(
      graft.ops.TextAnalysis.hashedLinearScoreKernel(stream, "text", w, bias = 0.25),
      "text")
      .select(col("doc_id"), col("quality_prob"), col("norm_text"))
    assert(scored.isStreaming, "classifier + normalize must compose on a stream")
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("cls_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cls_out").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
      // values identical to the batch run of the same ops
      val exp = graft.ops.TextAnalysis.normalizeText(
        graft.ops.TextAnalysis.hashedLinearScoreKernel(batch, "text", w, bias = 0.25),
        "text")
        .select(col("doc_id"), col("quality_prob"), col("norm_text")).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
      assert(got == exp)
      assert(got(2L)._2 == "spaced out")
    } finally q.stop()
  }

  test("streaming near-dup corpus flag: copies and near-copies flag, fresh text passes") {
    val base = (1 to 30).map(i => s"corpus sentence number $i.").mkString(" ")
    val corpus = Seq((100L, base)).toDF("cid", "ctext")
    val dir = java.nio.file.Files.createTempDirectory("graft_sfz").toString
    Seq(
      (1L, base),                         // byte-identical → must flag
      (2L, s"$base One appended tail."),  // near-copy → flags via shared bands
      (3L, "Entirely fresh text about different things altogether."))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val flagged = StreamingOps.streamNearCorpusFlag(
      spark.readStream.schema(schema).parquet(dir), "text",
      corpus, "ctext", "cid", expectedItems = 100L)
    assert(flagged.isStreaming)
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("sfz_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sfz_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_near_corpus")).toMap
      assert(got == Map(1L -> true, 2L -> true, 3L -> false), s"got $got")
    } finally q.stop()
  }

  test("streaming image near-dup flag: corpus match flags, fresh image and bad bytes pass") {
    import graft.ops.{Dedup, Multimodal}
    // corpus: one gradient image, hashed once (static snapshot)
    val corpusImgs = Seq(100L).toDF("cid")
      .withColumn("payload", Multimodal.syntheticPngGradient(lit(16), lit(8), lit(10), lit(12)))
    val corpusSigs = Multimodal.imagePerceptualHash(corpusImgs, "payload")
      .select($"cid", $"img_ahash")
    val dir = java.nio.file.Files.createTempDirectory("graft_sfi").toString
    Seq(1L, 2L, 3L).toDF("doc_id")
      .withColumn("payload",
        when($"doc_id" === 1, Multimodal.syntheticPngGradient(lit(32), lit(8), lit(10), lit(6)))
        .when($"doc_id" === 2, Multimodal.syntheticPngGradient(lit(16), lit(8), lit(200), lit(96)))
        .otherwise(lit("junk bytes".getBytes)))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val flagged = StreamingOps.streamImageNearCorpusFlag(
      spark.readStream.schema(schema).parquet(dir), "payload",
      corpusSigs, "img_ahash", expectedItems = 100L)
    assert(flagged.isStreaming)
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("sfi_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sfi_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("is_near_corpus"), r.getAs[String]("decode_error"))).toMap
      // doc 1 is the corpus ramp re-rendered at 2× width with half the
      // step (byte-different PNG, box averages 24j+19 vs 24j+16 → same
      // mean-threshold bits → identical aHash) — must flag under the
      // radius-8 contract; doc 2's wrapped gradient thresholds 4 row
      // bits apart (per-band distance 8 > ⌊8/4⌋) — not flagged; doc 3
      // is undecodable → false with a reason, never a query failure
      assert(got(1L)._1 && got(1L)._2 == null, s"got $got")
      assert(!got(2L)._1 && !got(3L)._1, s"got $got")
      assert(got(3L)._2 == "unsupported format")
    } finally q.stop()
  }

  test("streaming parity: ONE FULL frontier-loop round — extract → " +
      "canonicalize → visited-dedup (prebuilt bloom) → robots gate → " +
      "politeness schedule — foreachBatch twin ≡ the batch frontierRound") {
    import graft.ops.{Frontier, Robots}
    val dir = java.nio.file.Files.createTempDirectory("graft_st_floop").toString
    // 24 fetched pages; each plants an in-host link (half land on
    // already-visited pages), a robots-blocked link, and a shouty
    // cross-host :80 link the canonicalizer must collapse
    (0L until 24L).toDF("doc_id")
      .select(
        concat(lit("http://h"), col("doc_id") % 4, lit(".ex.com/p/"),
          col("doc_id")).as("target_uri"),
        concat(
          lit("<a href=\"/p/"), (col("doc_id") + 5) % 24, lit("\">x</a>"),
          lit("<a href=\"/blocked/"), col("doc_id"), lit("\">b</a>"),
          lit("<a href=\"HTTP://H"), (col("doc_id") + 1) % 4,
          lit(".EX.COM:80/p/"), (col("doc_id") * 3) % 24,
          lit("\">c</a>")).as("http_body"))
      .write.mode("overwrite").parquet(dir)
    val visited = (0L until 12L).toDF("d")
      .select(concat(lit("http://h"), col("d") % 4, lit(".ex.com/p/"),
        col("d")).as("u"))
    val rules = Robots.parseRobots(
        (0 until 4).toDF("hn").select(
          concat(lit("h"), col("hn"), lit(".ex.com")).as("host"),
          concat(lit("User-agent: graftbot\nDisallow: /blocked\n"),
            when(col("hn") % 2 === 0, lit("Crawl-delay: 2\n"))
              .otherwise(lit(""))).as("robots")),
        "robots", "graftbot")
      .select(col("host"), col("directive"), col("rule_value"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("link_url"),
        Option(r.getAs[java.lang.Double]("crawl_delay_s")).map(_.toDouble),
        r.getAs[Long]("fetch_slot"), r.getAs[Double]("fetch_at_s")))
      .sorted.toSeq
    val (batchOut, release) = Frontier.frontierRound(
      spark.read.parquet(dir), visited, rules, expectedItems = 100L)
    val want = try rows(batchOut) finally release()
    val gotBuf = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Option[Double], Long, Double)]
    val schema = spark.read.parquet(dir).schema
    val q = Frontier.streamFrontierRounds(
        spark.readStream.schema(schema).parquet(dir), visited, rules,
        expectedItems = 100L) { (out, _) =>
      gotBuf ++= rows(out); ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(want.nonEmpty && gotBuf.sorted.toSeq == want,
      s"stream ${gotBuf.length} rows vs batch ${want.length}")
    // the gate really gated and the schedule really paced: no blocked
    // path survives, even hosts price slots at 2 s
    assert(want.forall(r => !r._2.contains("/blocked/")))
    assert(want.exists(r => r._1 == "h0.ex.com" && r._4 > 0 &&
      r._5 == 2.0 * r._4))
    // visited-dedup held: no already-crawled URL is rescheduled
    val visitedSet = visited.collect().map(_.getString(0)).toSet
    assert(want.forall(r => !visitedSet.contains(r._2)))
  }

  test("streaming parity: the r15 media-census family (WebM, HEVC, " +
      "Ogg/FLAC, H.264 clip meta) — stream ≡ batch on the same payloads") {
    // all four are stateless narrow maps, so the SAME code path serves a
    // live crawl-ingest stream; parity is checked row-for-row per op
    import graft.ops.{Ebml, Hevc, AudioContainers, VideoBitstream}
    val dir = java.nio.file.Files.createTempDirectory("graft_census").toString
    Seq(0L, 1L, 2L).toDF("doc_id")
      .withColumn("webm", Ebml.syntheticWebm((col("doc_id") % 3).cast("int"),
        lit(640), lit(360), lit(0), lit(48000), lit(2), lit(5), lit(2), lit(1500)))
      .withColumn("hevc", Hevc.syntheticHevcAnnexB(lit(1280), lit(720),
        lit(1), lit(120), lit(0), (lit(1) + col("doc_id") % 2).cast("int"),
        lit(1), lit(2)))
      .withColumn("flac", AudioContainers.syntheticFlac(lit(48000), lit(2),
        lit(16), (lit(48000) * (lit(1) + col("doc_id"))).cast("long")))
      .withColumn("h264", VideoBitstream.syntheticAnnexB(
        (lit(1) + col("doc_id")).cast("int"), lit(2), lit(4),
        (lit(1) + col("doc_id") % 2).cast("int"), col("doc_id").cast("int")))
      .write.mode("overwrite").parquet(dir)
    val batch = spark.read.parquet(dir)
    val schema = batch.schema
    def runStream(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String): Array[org.apache.spark.sql.Row] = {
      val st = f(spark.readStream.schema(schema).parquet(dir))
      assert(st.isStreaming)
      val q = st.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try { q.processAllAvailable(); spark.table(name).collect() }
      finally q.stop()
    }
    def key(r: org.apache.spark.sql.Row): String =
      r.toSeq.map {
        case null => "_"
        case b: Array[Byte] => java.util.Arrays.hashCode(b).toString
        case v => v.toString
      }.mkString("|")
    def assertParity(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String): Unit = {
      val want = f(batch).collect().map(key).sorted
      val got = runStream(f, name).map(key).sorted
      assert(got.sameElements(want), s"$name stream != batch")
      assert(want.nonEmpty)
    }
    assertParity(df => Ebml.webmTracks(df.select(col("doc_id"),
      col("webm").as("payload")), "payload"), "census_webm")
    assertParity(df => Hevc.hevcMeta(df.select(col("doc_id"),
      col("hevc").as("payload")), "payload"), "census_hevc")
    assertParity(df => AudioContainers.audioContainerMeta(df.select(
      col("doc_id"), col("flac").as("payload")), "payload"), "census_flac")
    // the clip-metadata op the media gate runs on Annex-B clips
    assertParity(df => VideoBitstream.h264ClipMeta(df.select(col("doc_id"),
      col("h264").as("payload")), "payload"), "census_h264")
    // r16: the P/B-slice GOP census is the same stateless narrow map
    assertParity(df => VideoBitstream.h264SliceCensus(df.select(
      col("doc_id"), col("h264").as("payload")), "payload"),
      "census_slices")
  }

  test("streaming parity: the r17 script signals — stream ≡ batch on " +
      "the same payloads") {
    import graft.ops.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft_r17").toString
    Seq((0L, "hello mixed latin"), (1L, "abc"), (2L, ""))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val batch = spark.read.parquet(dir)
    val schema = batch.schema
    def runStream(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String): Array[org.apache.spark.sql.Row] = {
      val st = f(spark.readStream.schema(schema).parquet(dir))
      assert(st.isStreaming)
      val q = st.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try { q.processAllAvailable(); spark.table(name).collect() }
      finally q.stop()
    }
    def key(r: org.apache.spark.sql.Row): String =
      r.toSeq.map {
        case null => "_"
        case b: Array[Byte] => java.util.Arrays.hashCode(b).toString
        case v => v.toString
      }.mkString("|")
    def assertParity(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String): Unit = {
      val want = f(batch).collect().map(key).sorted
      val got = runStream(f, name).map(key).sorted
      assert(got.sameElements(want), s"$name stream != batch")
      assert(want.nonEmpty)
    }
    assertParity(df => TextAnalysis.scriptSignals(df.select(
      col("doc_id"), col("text")), "text"), "census_scripts")
  }
}
