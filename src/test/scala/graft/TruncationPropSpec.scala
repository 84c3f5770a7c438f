package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The structure-parser family's shared robustness contract, property-
  * tested: crawled payloads are ROUTINELY cut mid-byte, so for EVERY
  * prefix length of a valid payload each parser must (a) never throw —
  * a bad clip degrades to error rows, it cannot kill the job — and
  * (b) emit a prefix-consistent result: every complete unit it reports
  * must equal the corresponding unit of the full parse (truncation may
  * lose tail units, never corrupt earlier ones). The fixed specs pin
  * behavior at chosen cut points; this sweeps RANDOM cut points through
  * all six parsers (tar, zip, WARC, Annex-B H.264, MP4, MP3).
  *
  * Deliberately driver-side (parsers run inside mapPartitions on plain
  * byte arrays; one local Row-free sweep checks hundreds of prefixes
  * per payload where a distributed job per prefix would check three).
  */
class TruncationPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Full payload + a spread of prefix lengths (every byte would be
    * 10⁵ Spark jobs; 40 random cuts per payload still sweeps headers,
    * bodies, and padding).
    */
  private def cuts(totalLen: Int, n: Int): Seq[Int] =
    samples(Gen.choose(0, totalLen - 1), n).distinct

  /** Run a parser over the full payload and every cut prefix in ONE
    * Spark job; return rows grouped by cut id (id 0 = full).
    */
  private def parseAll(parser: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      full: Array[Byte], cutLens: Seq[Int]): Map[Long, Seq[Seq[Any]]] = {
    val rows = (0L, full) +: cutLens.zipWithIndex.map { case (len, i) =>
      ((i + 1).toLong, java.util.Arrays.copyOf(full, len))
    }
    val df = rows.toDF("cut_id", "payload")
    parser(df).collect()
      .groupBy(_.getAs[Long]("cut_id"))
      .map { case (k, rs) => k -> rs.toSeq.map(_.toSeq.drop(2)) } // drop cut_id, payload
  }

  /** Property (b): each cut's non-error rows are a PREFIX of the full
    * parse's rows (order preserved, values equal); error rows (any row
    * whose last column — parse_error — is non-null) may follow.
    */
  /** `lastUnitTentative`: Annex-B has no declared lengths — the final
    * NAL before EOF is delimited by the cut itself, so a truncated
    * stream's LAST unit may legitimately be a shortened version of the
    * full parse's; every unit before it must still match exactly.
    */
  /** Value comparison that deep-compares binary cells: `Seq[Any] ==`
    * would compare Array[Byte] columns (luma_plane, content_bytes) by
    * REFERENCE, so a cut that legitimately reproduces the full decode
    * would fail the equality spuriously.
    */
  private def deep(r: Seq[Any]): Seq[Any] = r.map {
    case a: Array[Byte] => a.toSeq
    case x => x
  }

  private def checkPrefixConsistent(name: String,
      byCut: Map[Long, Seq[Seq[Any]]],
      lastUnitTentative: Boolean = false): Unit = {
    val fullRows = byCut(0L).filter(_.last == null)
    byCut.foreach { case (cut, rows) =>
      if (cut != 0L) {
        val good0 = rows.takeWhile(_.last == null)
        val good = if (lastUnitTentative) good0.dropRight(1) else good0
        assert(good.length <= fullRows.length,
          s"$name cut=$cut emitted MORE clean units than the full parse")
        good.zip(fullRows).zipWithIndex.foreach { case ((g, f), i) =>
          assert(deep(g) == deep(f),
            s"$name cut=$cut unit $i differs from full parse:\n$g\n$f")
        }
        // after the first error row nothing else may follow (the walk stopped)
        val tail = rows.dropWhile(_.last == null)
        assert(tail.forall(_.last != null),
          s"$name cut=$cut produced clean rows after an error row")
      }
    }
  }

  test("tar: every truncation point degrades, never corrupts") {
    val full = Seq((0, 1)).toDF("a", "b").select(
      Archives.syntheticTar(lit(5), lit(3), lit(false)).as("p"))
      .collect().head.getAs[Array[Byte]]("p")
    checkPrefixConsistent("tar",
      parseAll(df => Archives.tarMembers(df), full, cuts(full.length, 40)))
  }

  test("zip: every truncation point degrades, never corrupts") {
    val full = Seq((0, 1)).toDF("a", "b").select(
      Archives.syntheticZip(lit(5), lit(3)).as("p"))
      .collect().head.getAs[Array[Byte]]("p")
    checkPrefixConsistent("zip",
      parseAll(df => Archives.zipMembers(df), full, cuts(full.length, 40)))
  }

  test("warc: every truncation point degrades, never corrupts") {
    val full = Seq((0, 1)).toDF("a", "b").select(
      WebIngest.syntheticWarc(lit(7L), lit("<p>body of record</p>"), lit(false)).as("p"))
      .collect().head.getAs[Array[Byte]]("p")
    checkPrefixConsistent("warc",
      parseAll(df => WebIngest.warcRecords(df), full, cuts(full.length, 40)))
  }

  test("h264 annex-b: every truncation point degrades, never corrupts") {
    val full = Seq((0, 1)).toDF("a", "b").select(
      VideoBitstream.syntheticAnnexB(lit(3), lit(2), lit(6), lit(2), lit(5)).as("p"))
      .collect().head.getAs[Array[Byte]]("p")
    checkPrefixConsistent("h264",
      parseAll(df => VideoBitstream.parseH264Nals(df, "payload"), full,
        cuts(full.length, 40)), lastUnitTentative = true)
  }

  test("mp4: every truncation point degrades, never corrupts") {
    val full = Seq((0, 1)).toDF("a", "b").select(
      VideoBitstream.syntheticMp4(lit(3), lit(2), lit(5), lit(2), lit(7)).as("p"))
      .collect().head.getAs[Array[Byte]]("p")
    // mp4 needs the whole moov to emit ANY sample row (the index IS the
    // tail in this layout), so prefix-consistency here means: a cut
    // either reproduces the full table exactly or degrades to error/no
    // rows — cuts inside moov must not emit a corrupt partial table.
    checkPrefixConsistent("mp4",
      parseAll(df => VideoBitstream.mp4SyncSamples(df, "payload"), full,
        cuts(full.length, 40)))
  }

  test("subtitles: every truncation point degrades, never corrupts") {
    // cue text has no declared length — a cut mid-text shortens the LAST
    // cue legitimately, like Annex-B's final NAL
    val full = Seq((0, 1)).toDF("a", "b").select(
      Subtitles.syntheticSubtitle(lit(5), lit(4), lit(true)).as("p"))
      .collect().head.getAs[String]("p")
    val rows = (0L, full) +: cuts(full.length, 40).zipWithIndex.map {
      case (len, i) => ((i + 1).toLong, full.substring(0, len))
    }
    val byCut = Subtitles.parseCues(rows.toDF("cut_id", "subtitle")).collect()
      .groupBy(_.getAs[Long]("cut_id"))
      .map { case (k, rs) => k -> rs.toSeq.map(_.toSeq.drop(2)) }
    checkPrefixConsistent("subtitles", byCut, lastUnitTentative = true)
  }

  test("pdf: the census is monotone under truncation, never corrupt") {
    val full = Seq((0, 1)).toDF("a", "b").select(
      PdfStructure.syntheticPdf(lit(4), lit(7), lit(false), lit(6)).as("p"))
      .collect().head.getAs[Array[Byte]]("p")
    val byCut = parseAll(df => PdfStructure.pdfCensus(df, "payload"),
      full, cuts(full.length, 40))
    val f = byCut(0L).head
    byCut.foreach { case (cut, rows) =>
      assert(rows.length == 1, s"pdf cut=$cut emitted ${rows.length} rows")
      val r = rows.head
      if (r.last == null) {
        assert(r(1).asInstanceOf[Int] <= f(1).asInstanceOf[Int],
          s"pdf cut=$cut counts more objects than the full scan")
        assert(r(2).asInstanceOf[Int] <= f(2).asInstanceOf[Int],
          s"pdf cut=$cut counts more page objects than the full scan")
      }
    }
  }

  test("mp3: the census is monotone under truncation, never corrupt") {
    // mp3FrameCensus emits ONE census row per clip, so prefix consistency
    // means monotonicity: a cut counts <= the full frame count, the
    // duration shrinks with it, and the sample rate (from frame 1) is
    // either the full stream's or the clip degrades to an error row.
    val full = Seq((0, 1)).toDF("a", "b").select(
      AudioBitstream.syntheticMp3(lit(6), lit(9), lit(4), lit(1), lit(20), lit(3)).as("p"))
      .collect().head.getAs[Array[Byte]]("p")
    val byCut = parseAll(df => AudioBitstream.mp3FrameCensus(df, "payload"),
      full, cuts(full.length, 40))
    val f = byCut(0L).head
    val (fFrames, fDur) = (f(1).asInstanceOf[Int], f(6).asInstanceOf[Double])
    byCut.foreach { case (cut, rows) =>
      assert(rows.length == 1, s"mp3 cut=$cut emitted ${rows.length} rows")
      val r = rows.head
      if (r.last == null) {
        assert(r(1).asInstanceOf[Int] <= fFrames, s"mp3 cut=$cut counts more frames")
        assert(r(6).asInstanceOf[Double] <= fDur + 1e-12, s"mp3 cut=$cut longer duration")
        assert(r(2) == f(2), s"mp3 cut=$cut sample rate differs")
      }
    }
  }
}
