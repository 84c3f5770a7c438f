package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sniff-once media gate ([[MediaGate.gateManaged]]): one cache
  * build shared by every branch, deterministic release, route
  * semantics (unclaimed clips drop; [[Multimodal.annexbCodec]] splits
  * the two Annex-B codecs the first-bytes sniff cannot).
  */
class MediaGateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus() = {
    val d = col("doc_id")
    Seq(0L, 1L, 2L, 3L).toDF("doc_id").select(d,
      when(d % 4 === 0, Ebml.syntheticWebm(lit(0), lit(640), lit(360),
          lit(0), lit(48000), lit(1), lit(4), lit(2), lit(1200)))
        .when(d % 4 === 1, Hevc.syntheticHevcAnnexB(lit(320), lit(240),
          lit(1), lit(90), lit(0), lit(2), lit(1), lit(3)))
        .when(d % 4 === 2, VideoBitstream.syntheticAnnexB(lit(1),
          lit(1), lit(2), lit(1), lit(100)))
        .otherwise(AudioContainers.syntheticFlac(lit(44100), lit(2),
          lit(16), lit(100000L))).as("payload"))
  }

  test("annexbCodec: H.264 leads odd, H.265 leads even, non-annexb null") {
    val df = corpus().select(col("doc_id"),
      Multimodal.annexbCodec(col("payload")).as("codec"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "h265")
    assert(m(2L) == "h264")
    assert(m(0L) == null) // webm: not annexb-shaped
    assert(m(3L) == null) // flac
    // an H.264 stream led by SEI (0x06 — even byte) still routes h264:
    // the probe validates both codecs' header semantics, not parity
    val seiLed = Array[Byte](0, 0, 0, 1, 0x06, 0x05, 0x01, 0x00) ++
      corpus().collect()(2).getAs[Array[Byte]]("payload")
    val hevcAud = Array[Byte](0, 0, 0, 1, 0x46, 0x01, 0x50)
    val bare = Array[Byte](0, 0, 0, 1) // start code, no NAL byte
    val extra = Seq((10L, seiLed), (11L, hevcAud), (12L, bare))
      .toDF("doc_id", "payload")
      .select(col("doc_id"), Multimodal.annexbCodec(col("payload")).as("codec"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(extra(10L) == "h264")
    assert(extra(11L) == "h265")
    assert(extra(12L) == null)
  }

  test("gateManaged: one cache build, branches union, unclaimed clips " +
      "drop, release hook unpersists") {
    val (gate, release) = MediaGate.gateManaged(corpus(), Seq(
      MediaGate.Branch(col("sniffed") === "video/webm", df =>
        Ebml.webmTracks(df, "payload")
          .filter(col("track_type") === "video")
          .select(col("doc_id"), lit("webm").as("kind"),
            col("pixel_width").cast("int").as("width"))),
      MediaGate.Branch(col("sniffed") === "video/annexb" &&
          Multimodal.annexbCodec(col("payload")) === "h265", df =>
        Hevc.hevcMeta(df, "payload")
          .select(col("doc_id"), lit("hevc").as("kind"),
            col("width").cast("int").as("width")))))
    val rows = gate.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("kind"),
        r.getAs[Int]("width"))).sortBy(_._1)
    // doc 2 (h264) and doc 3 (flac) are unclaimed → dropped
    assert(rows.toSeq == Seq((0L, "webm", 640), (1L, "hevc", 320)))
    // the shared frame is cached exactly once and the hook releases it
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val caches = gate.queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation => r
    }
    assert(caches.size == 2 &&
      caches.map(_.cacheBuilder.cachedPlan).distinct.size == 1)
    // targeted lookup (NOT cacheManager.isEmpty — other suites sharing
    // the session may hold caches concurrently): the canonically-equal
    // sniffed frame must be cached before release and gone after
    val frame = corpus().withColumn("sniffed",
      Multimodal.sniffMediaType(col("payload")))
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    assert(spark.sharedState.cacheManager.lookupCachedData(frame).isDefined,
      "gate frame not found in the cache while the gate is live")
    release()
    assert(spark.sharedState.cacheManager.lookupCachedData(frame).isEmpty,
      "release hook left the gate frame cached")
  }

  test("gateWithKeep appends the declarative keep column") {
    val (gate, release) = MediaGate.gateWithKeep(corpus(), Seq(
      MediaGate.Branch(col("sniffed") === "video/webm", df =>
        Ebml.webmTracks(df, "payload")
          .filter(col("track_type") === "video")
          .select(col("doc_id"),
            col("pixel_width").cast("int").as("width")))),
      keep = col("width") >= 352)
    try {
      val r = gate.collect()
      assert(r.length == 1 && r(0).getAs[Boolean]("keep"))
    } finally release()
  }

  test("a pre-sniffed corpus is reused, not re-sniffed") {
    val pre = corpus().withColumn("sniffed", lit("video/webm"))
    val (gate, release) = MediaGate.gateManaged(pre, Seq(
      MediaGate.Branch(col("sniffed") === "video/webm", df =>
        df.select(col("doc_id")))))
    try assert(gate.count() == 4) // the fake sniff claims everything
    finally release()
  }

  test("both media-gate rows: width, height, keyframes and keep of every " +
      "kind match the closed forms of the rows' oracle") {
    // the oracle SQL itself runs only offline against DuckDB; this pins
    // the same closed forms (mediaGateOracle) inside the suite, so a
    // fixture generator argument that drifts fails here too
    val dir = java.nio.file.Files.createTempDirectory("graft_gate").toString
    (0L until 24L).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    def want(d: Long): (String, Option[Int], Option[Int], Option[Int], Boolean) = {
      def video(kind: String, w: Long, h: Long, kf: Long) =
        (kind, Some(w.toInt), Some(h.toInt), Some(kf.toInt), w >= 352 && kf >= 2)
      d % 6 match {
        case 0 => video("webm", 320 + 16 * (d % 10), 240 + 16 * (d % 6),
          (1 + d % 3) * ((4 + d % 3 + 1 + d % 2) / (2 + d % 2)))
        case 1 => video("hevc", 320 + 16 * (d % 10), 240 + 16 * (d % 6),
          1 + d % 3 + d % 2)
        case 2 => ("audio", None, None, None, (100000 + 480 * (d % 100)) /
          (if (d % 2 == 0) 44100.0 else 48000.0) >= 1.5)
        case 3 => ("audio", None, None, None, 1 + d % 5 >= 1.5)
        case 4 => video("mp4", 16 * (1 + d % 4), 16 * (1 + d % 3),
          (1 + d % 7 + d % 3) / (1 + d % 3))
        case _ => video("h264", 48, 32, 1)
      }
    }
    def opt(r: org.apache.spark.sql.Row, c: String): Option[Int] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Int](c))
    Seq("mm_media_gate_pipeline", "mm_media_gate_persist").foreach { row =>
      val got = graft.catalog.Catalog.byName(row).run(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("media_kind"),
          opt(r, "width"), opt(r, "height"), opt(r, "keyframes"),
          r.getAs[Boolean]("keep")))
      assert(got.length == 24, s"$row: ${got.length} rows")
      (0L until 24L).foreach(d => assert(got.toMap.get(d) == Some(want(d)),
        s"$row doc $d"))
    }
  }
}
