package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** H.264 bitstream structure ops: Annex-B scan, RBSP escaping, SPS parse.
  * The synthetic generator is itself under test here (the catalog oracle
  * depends on its byte layout being exactly the documented formulas).
  */
class VideoBitstreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def clips(rows: (Long, Int, Int, Int, Int, Int)*) =
    rows.toSeq.toDF("doc_id", "mbw", "mbh", "nf", "period", "seed")
      .select(col("doc_id"), VideoBitstream.syntheticAnnexB(
        col("mbw"), col("mbh"), col("nf"), col("period"), col("seed")).as("payload"))

  test("parseH264Nals: synthetic stream round-trips types, sizes, offsets") {
    // mbw=3 mbh=2 nf=4 period=2 seed=5
    val out = VideoBitstream.parseH264Nals(clips((7L, 3, 2, 4, 2, 5)))
      .orderBy("nal_idx").collect()
    assert(out.length == 2 + 4)
    assert(out.map(_.getAs[Int]("nal_type")).toSeq == Seq(7, 8, 5, 1, 5, 1))
    assert(out.map(_.getAs[Boolean]("is_idr")).toSeq ==
      Seq(false, false, true, false, true, false))
    assert(out.map(_.getAs[Int]("nal_ref_idc")).toSeq == Seq(3, 3, 3, 2, 3, 2))
    // SPS size: ue(mbw-1=2)=3 bits, ue(mbh-1=1)=3 bits → 1+ceil(44/8)=7
    assert(out(0).getAs[Int]("nal_offset") == 4)
    assert(out(0).getAs[Int]("nal_size") == 7)
    assert(out(1).getAs[Int]("nal_offset") == 4 + 7 + 3)
    assert(out(1).getAs[Int]("nal_size") == 5)
    // slices: size 9+(5+f)%16 → 14, 15, 16, 17
    val sizes = out.drop(2).map(_.getAs[Int]("nal_size")).toSeq
    assert(sizes == Seq(14, 15, 16, 17))
    // offsets are contiguous: each next = prev + size + 3
    val offs = out.drop(1).map(_.getAs[Int]("nal_offset")).toSeq
    val expected = offs.zip(out.drop(1).map(_.getAs[Int]("nal_size")))
      .scanLeft(offs.head) { case (o, (_, sz)) => o + sz + 3 }.dropRight(1)
    assert(offs == expected)
    assert(out.forall(_.isNullAt(out.head.fieldIndex("parse_error"))))
  }

  test("h264ClipMeta: SPS parse recovers dims, profile, level; counts NALs and IDRs") {
    val out = VideoBitstream.h264ClipMeta(clips((1L, 5, 3, 6, 3, 2)))
      .collect().head
    assert(out.getAs[Int]("h264_profile") == 66)
    assert(out.getAs[Int]("h264_level") == 30)
    assert(out.getAs[Int]("h264_width") == 80)
    assert(out.getAs[Int]("h264_height") == 48)
    assert(out.getAs[Int]("nal_count") == 8)
    assert(out.getAs[Int]("idr_count") == 2) // f=0,3 of 0..5 with period 3
  }

  test("emulation prevention: escape/unescape are inverse, and escaped " +
      "RBSP containing a would-be start code still parses as one NAL") {
    val hostile = Array[Byte](0, 0, 0, 0, 1, 0, 0, 2, 0, 0, 3, 9, 0, 0)
    val escaped = VideoBitstream.escapeRbsp(hostile)
    // every 00 00 0x got an interposed 03
    assert(escaped.count(_ == 3) > hostile.count(_ == 3))
    assert(VideoBitstream.rbspBytes(escaped, 0, escaped.length).toSeq ==
      hostile.toSeq)
    // a full NAL whose RBSP embeds 00 00 01: scan must still see ONE NAL
    val stream = Array[Byte](0, 0, 1, 0x65.toByte) ++
      VideoBitstream.escapeRbsp(Array[Byte](0x44, 0, 0, 1, 0x55, 0x40))
    val nals = VideoBitstream.findNals(stream)
    assert(nals.length == 1)
    assert((stream(nals.head._1) & 0x1f) == 5)
  }

  test("parseSps: high-profile branch and frame cropping applied to dims") {
    // hand-encoded SPS: profile 100, chroma 4:2:0, 1920x1088 mbs cropped
    // to 1920x1080 (bottom crop 4 chroma units = 8 luma rows); the second
    // input transmits scaling lists, which must be consumed bit-exactly
    // for the dims that follow them to read right
    def highSps(scalingLists: Boolean): Array[Byte] = {
      val bits = new StringBuilder
      def u(v: Int, n: Int): Unit =
        bits.append(Integer.toBinaryString(v | (1 << n)).substring(1))
      def ue(k: Int): Unit = {
        val zeros = 31 - Integer.numberOfLeadingZeros(k + 1)
        u(0, zeros); u(k + 1, zeros + 1)
      }
      def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
      u(100, 8); u(0, 8); u(40, 8) // profile high, level 4.0
      ue(0) // sps id
      ue(1) // chroma_format_idc 4:2:0
      ue(0); ue(0) // bit depths
      u(0, 1) // qpprime
      if (!scalingLists) u(0, 1) // no scaling matrix
      else {
        u(1, 1) // seq_scaling_matrix_present_flag
        // list 0 (4x4): all 16 delta_scale values, none reaching 0
        u(1, 1); (0 until 16).foreach(j => se(j % 3 - 1))
        (1 until 6).foreach(_ => u(0, 1)) // lists 1..5 absent
        // list 6 (8x8): 8 → 13 → 10 → 0, and a 0 ends the list early
        u(1, 1); se(5); se(-3); se(-10)
        u(0, 1) // list 7 absent
      }
      ue(4) // log2_max_frame_num_minus4
      ue(0) // pic_order_cnt_type 0
      ue(4) // log2_max_pic_order_cnt_lsb_minus4
      ue(4) // max_num_ref_frames
      u(0, 1) // gaps
      ue(119) // pic_width_in_mbs_minus1 → 1920
      ue(67) // pic_height_in_map_units_minus1 → 1088
      u(1, 1) // frame_mbs_only
      u(1, 1) // direct_8x8
      u(1, 1) // frame_cropping_flag
      ue(0); ue(0); ue(0); ue(4) // crop bottom 4 → −8 luma rows
      u(0, 1) // vui
      u(1, 1) // stop bit
      while (bits.length % 8 != 0) bits.append('0')
      bits.toString.grouped(8).map(s => Integer.parseInt(s, 2).toByte).toArray
    }
    for (scalingLists <- Seq(false, true)) {
      val sps = VideoBitstream.parseSps(highSps(scalingLists))
      assert(sps.profile == 100, s"scalingLists=$scalingLists")
      assert(sps.level == 40, s"scalingLists=$scalingLists")
      assert(sps.width == 1920, s"scalingLists=$scalingLists")
      assert(sps.height == 1080, s"scalingLists=$scalingLists")
    }
  }

  private def mp4Clips(rows: (Long, Int, Int, Int, Int, Int)*) =
    rows.toSeq.toDF("doc_id", "mbw", "mbh", "nf", "per", "seed")
      .select(col("doc_id"), VideoBitstream.syntheticMp4(
        col("mbw"), col("mbh"), col("nf"), col("per"), col("seed")).as("payload"))

  test("mp4ClipMeta: brand, duration, codec, SPS dims, sample/sync census") {
    val out = VideoBitstream.mp4ClipMeta(mp4Clips((3L, 4, 2, 6, 2, 9))).collect().head
    assert(out.getAs[String]("brand") == "isom")
    assert(out.getAs[Double]("duration_s") == 1.5) // 6 samples × 128 / 512
    assert(out.getAs[Int]("track_count") == 1)
    assert(out.getAs[String]("video_codec") == "avc1")
    assert(out.getAs[Int]("h264_profile") == 66)
    assert(out.getAs[Int]("h264_width") == 64)
    assert(out.getAs[Int]("h264_height") == 32)
    assert(out.getAs[Int]("sample_count") == 6)
    assert(out.getAs[Int]("sync_count") == 3) // samples 1, 3, 5
    assert(out.getAs[String]("parse_error") == null)
  }

  test("mp4SyncSamples: file-absolute offsets are contiguous from byte 28, " +
      "sizes match the formula, stss flags the planted cadence") {
    val out = VideoBitstream.mp4SyncSamples(mp4Clips((5L, 2, 2, 5, 3, 4)))
      .orderBy("sample_idx").collect()
    assert(out.length == 5)
    // sz(k) = 50 + (4 + 7k) % 32
    val sizes = out.map(_.getAs[Int]("sample_size")).toSeq
    assert(sizes == Seq(54, 61, 68, 75, 50))
    val offs = out.map(_.getAs[Long]("sample_offset")).toSeq
    assert(offs == sizes.scanLeft(28L)(_ + _).dropRight(1))
    assert(out.map(_.getAs[Boolean]("is_sync")).toSeq ==
      Seq(true, false, false, true, false))
  }

  test("mp4 general tables: two chunks via stsc runs, absent stss = all sync") {
    // hand-built minimal MP4 (no stss, 2 chunks of 2+1 samples via one
    // stsc run change) — exercises the general stsc×stco walk and the
    // spec rule that a missing stss marks EVERY sample a sync sample
    val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >> 16).toInt); u16(v.toInt) }
    def raw(s: String): Unit = bos.write(s.getBytes("US-ASCII"), 0, 4)
    def box(tpe: String)(body: => Unit): Unit = {
      val mark = bos.size()
      u32(0L); raw(tpe)
      body
      val arr = bos.toByteArray
      val sz = arr.length - mark
      arr(mark) = ((sz >> 24) & 0xff).toByte; arr(mark + 1) = ((sz >> 16) & 0xff).toByte
      arr(mark + 2) = ((sz >> 8) & 0xff).toByte; arr(mark + 3) = (sz & 0xff).toByte
      bos.reset(); bos.write(arr, 0, arr.length)
    }
    box("ftyp") { raw("isom"); u32(0L); raw("isom") }
    box("moov") {
      box("trak") {
        box("mdia") {
          box("mdhd") { u32(0L); u32(0L); u32(0L); u32(100L); u32(300L); u16(0); u16(0) }
          box("hdlr") { u32(0L); u32(0L); raw("vide"); u32(0L); u32(0L); u32(0L); u8(0) }
          box("minf") {
            box("stbl") {
              box("stsd") { u32(0L); u32(0L) } // zero entries: codec unknown is fine
              box("stsz") { u32(0L); u32(0L); u32(3L); u32(10L); u32(20L); u32(30L) }
              box("stsc") { u32(0L); u32(2L); u32(1L); u32(2L); u32(1L); u32(2L); u32(1L); u32(1L) }
              box("stco") { u32(0L); u32(2L); u32(1000L); u32(2000L) }
            }
          }
        }
      }
    }
    val bytes = bos.toByteArray
    val df = Seq((0L, bytes)).toDF("doc_id", "payload")
    val out = VideoBitstream.mp4SyncSamples(df).orderBy("sample_idx").collect()
    assert(out.length == 3)
    // chunk 1 holds samples 1-2 (offsets 1000, 1010), chunk 2 holds sample 3
    assert(out.map(_.getAs[Long]("sample_offset")).toSeq == Seq(1000L, 1010L, 2000L))
    assert(out.forall(_.getAs[Boolean]("is_sync"))) // no stss → all sync
    // no stts → no timeline: times stay null (never a fabricated 0-run)
    assert(out.forall(_.isNullAt(out.head.fieldIndex("sample_time_ms"))))
    val garbage = Seq((1L, "not an mp4 at all".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val err = VideoBitstream.mp4ClipMeta(garbage).collect().head
    assert(err.getAs[String]("parse_error") != null)
  }

  test("mp4: chunk tables covering fewer samples than stsz declares " +
      "degrade instead of fabricating offset-0 rows") {
    // minimal moov: stsz declares 5 samples but one chunk at 2/chunk
    // places only 2 — the clip must surface as an error row
    val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >> 16).toInt); u16(v.toInt) }
    def raw(s: String): Unit = bos.write(s.getBytes("US-ASCII"), 0, 4)
    def box(tpe: String)(body: => Unit): Unit = {
      val mark = bos.size()
      u32(0L); raw(tpe)
      body
      val arr = bos.toByteArray
      val sz = arr.length - mark
      arr(mark) = ((sz >> 24) & 0xff).toByte; arr(mark + 1) = ((sz >> 16) & 0xff).toByte
      arr(mark + 2) = ((sz >> 8) & 0xff).toByte; arr(mark + 3) = (sz & 0xff).toByte
      bos.reset(); bos.write(arr, 0, arr.length)
    }
    box("ftyp") { raw("isom"); u32(0L); raw("isom") }
    box("moov") {
      box("trak") {
        box("mdia") {
          box("hdlr") { u32(0L); u32(0L); raw("vide"); u32(0L); u32(0L); u32(0L); u8(0) }
          box("minf") {
            box("stbl") {
              box("stsz") { u32(0L); u32(0L); u32(5L); (1 to 5).foreach(_ => u32(10L)) }
              box("stsc") { u32(0L); u32(1L); u32(1L); u32(2L); u32(1L) }
              box("stco") { u32(0L); u32(1L); u32(100L) }
            }
          }
        }
      }
    }
    val df = Seq((0L, bos.toByteArray)).toDF("doc_id", "payload")
    val out = VideoBitstream.mp4SyncSamples(df).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("parse_error") == "incomplete sample tables")
  }

  // IDR-less Annex-B stream whose coded slices carry REAL §7.3.3 header
  // prefixes of the given slice_type codes — the refusal-narrowing shape
  private def idrlessStream(sliceTypes: Int*): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
      out += 0; out += 0; out += 0; out += 1
      out += ((refIdc << 5) | tpe).toByte
      out ++= VideoBitstream.escapeRbsp(rbsp)
    }
    nal(3, 7, VideoBitstream.syntheticSpsRbsp(2, 2))
    nal(3, 8, Array[Byte](0x68, 0x70, 0x71, 0x72).map(b => (b | 0x40).toByte))
    sliceTypes.foreach { st =>
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(st); w.ue(0)
      w.alignByteOnes()
      nal(2, 1, w.bytes ++ Array[Byte](0xAA.toByte, 0xBB.toByte))
    }
    out.toArray
  }

  test("h264SliceCensus: GOP fixture counts are exact; IDR streams get " +
      "a null refusal") {
    val df = Seq(Tuple1(0L)).toDF("doc_id").select(col("doc_id"),
      VideoBitstream.syntheticGopAnnexB(lit(2), lit(2), lit(2), lit(5),
        lit(2), lit(3)).as("payload"))
    val r = VideoBitstream.h264SliceCensus(df, "payload").collect()(0)
    // 2 GOPs of 5: per GOP k=0 IDR(all-I), k=2,4 B, k=1,3 P
    assert(r.getAs[Int]("n_slices") == 10)
    assert(r.getAs[Int]("n_idr") == 2)
    assert(r.getAs[Int]("n_i") == 2)
    assert(r.getAs[Int]("n_b") == 4)
    assert(r.getAs[Int]("n_p") == 4)
    assert(r.getAs[String]("first_slice_type") == "all-I")
    assert(r.getAs[String]("decode_refusal") == null)
    assert(r.getAs[String]("parse_error") == null)
  }

  test("h264SliceCensus: IDR-less P/B streams name the inter seam; " +
      "B outranks P in the verdict") {
    val df = Seq((0L, idrlessStream(0, 0, 0)), (1L, idrlessStream(0, 1, 0)))
      .toDF("doc_id", "payload")
    val rows = VideoBitstream.h264SliceCensus(df, "payload").collect()
      .sortBy(_.getAs[Long]("doc_id"))
    assert(rows(0).getAs[String]("decode_refusal")
      .startsWith("P-slice stream without an IDR"))
    assert(rows(0).getAs[String]("first_slice_type") == "P")
    assert(rows(1).getAs[String]("decode_refusal")
      .startsWith("B-slice stream without an IDR"))
    assert(rows(1).getAs[Int]("n_b") == 1)
  }

  test("open-GOP cut (non-IDR I slices, no IDR): the census names the " +
      "IDR-entry gap, NOT the inter seam; truncated headers degrade per " +
      "NAL, garbage slice_type never miscounts") {
    val df = Seq(Tuple1(idrlessStream(2, 7))).toDF("payload")
    val r = VideoBitstream.h264SliceCensus(df, "payload").collect()(0)
    assert(r.getAs[Int]("n_i") == 2 && r.getAs[Int]("n_idr") == 0)
    assert(r.getAs[String]("decode_refusal")
      .startsWith("non-IDR I-slice stream (open GOP)"))
    // a type-1 NAL whose header is CUT mid-ue: clip census survives,
    // the bad NAL counts into n_slices but no type bucket
    val cut = idrlessStream(0) ++ Array[Byte](0, 0, 1, 0x41, 0x00)
    val r2 = VideoBitstream.h264SliceCensus(
      Seq(Tuple1(cut)).toDF("payload"), "payload").collect()(0)
    assert(r2.getAs[String]("parse_error") == null)
    assert(r2.getAs[Int]("n_slices") == 2 && r2.getAs[Int]("n_p") == 1)
    // garbage header whose ue(slice_type) wraps negative: not counted,
    // no MatchError (st is bounded on BOTH sides)
    val wrap = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      out ++= idrlessStream(0)
      out ++= Array[Byte](0, 0, 1, 0x41)
      out += 0x80.toByte // first_mb ue(0)=1-bit, then 31 zeros begin
      out ++= Array.fill(8)(0x00.toByte)
      out += 0x01.toByte
      out.toArray
    }
    val r3 = VideoBitstream.h264SliceCensus(
      Seq(Tuple1(wrap)).toDF("payload"), "payload").collect()(0)
    assert(r3.getAs[String]("parse_error") == null)
    assert(r3.getAs[Int]("n_p") == 1) // only the well-formed slice
  }

  test("degradation: null, garbage, and SPS-less payloads yield error rows") {
    val df = Seq((0L, null: Array[Byte]),
      (1L, "not a video".getBytes("UTF-8")),
      (2L, Array[Byte](0, 0, 1, 0x41, 0x7f))) // single non-IDR slice, no SPS
      .toDF("doc_id", "payload")
    val parsed = VideoBitstream.parseH264Nals(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("parse_error")).toMap
    assert(parsed(0L) == "null payload")
    assert(parsed(1L) == "no Annex-B start code")
    assert(parsed(2L) == null)
    // truncation cut right at a start code: the clip must surface as an
    // error row, not silently emit zero rows
    val bare = Seq((9L, Array[Byte](0, 0, 1))).toDF("doc_id", "payload")
    assert(VideoBitstream.parseH264Nals(bare).collect().head
      .getAs[String]("parse_error") == "no complete NAL units")
    val meta = VideoBitstream.h264ClipMeta(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(meta(2L).getAs[String]("parse_error") == "no SPS in stream")
    assert(meta(2L).getAs[Int]("nal_count") == 1)
    assert(meta(2L).isNullAt(meta(2L).fieldIndex("h264_width")))
  }

  test("mp4: an stts declaring more entries than its box holds never " +
      "fabricates sample times from the NEXT box's bytes") {
    // minimal moov with a 2-sample track whose stts CLAIMS 10 entries but
    // physically holds 1 (count 2, delta 100 @ timescale 1000 → 0,100 ms);
    // the box that FOLLOWS stts (stsz) must not be read as delta runs
    val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >> 16).toInt); u16(v.toInt) }
    def raw(s: String): Unit = bos.write(s.getBytes("US-ASCII"), 0, 4)
    def box(tpe: String)(body: => Unit): Unit = {
      val mark = bos.size()
      u32(0L); raw(tpe)
      body
      val arr = bos.toByteArray
      val sz = arr.length - mark
      arr(mark) = ((sz >> 24) & 0xff).toByte; arr(mark + 1) = ((sz >> 16) & 0xff).toByte
      arr(mark + 2) = ((sz >> 8) & 0xff).toByte; arr(mark + 3) = (sz & 0xff).toByte
      bos.reset(); bos.write(arr, 0, arr.length)
    }
    box("ftyp") { raw("isom"); u32(0L); raw("isom") }
    box("moov") {
      box("trak") {
        box("mdia") {
          box("mdhd") { u32(0L); u32(0L); u32(0L); u32(1000L); u32(200L); u16(0); u16(0) }
          box("hdlr") { u32(0L); u32(0L); raw("vide"); u32(0L); u32(0L); u32(0L); u8(0) }
          box("minf") {
            box("stbl") {
              box("stts") { u32(0L); u32(10L); u32(2L); u32(100L) } // LIES: 10 declared, 1 held
              box("stsz") { u32(0L); u32(0L); u32(2L); u32(10L); u32(20L) }
              box("stsc") { u32(0L); u32(1L); u32(1L); u32(2L); u32(1L) }
              box("stco") { u32(0L); u32(1L); u32(500L) }
            }
          }
        }
      }
    }
    val out = VideoBitstream.mp4SyncSamples(
      Seq((0L, bos.toByteArray)).toDF("doc_id", "payload"))
      .orderBy("sample_idx").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[String]("parse_error") == null))
    // the one PHYSICAL run (count 2, delta 100) covers both samples
    assert(out.map(_.getAs[Long]("sample_time_ms")).toSeq == Seq(0L, 100L))
    // and the still-valid size/offset columns survive
    assert(out.map(_.getAs[Long]("sample_offset")).toSeq == Seq(500L, 510L))
  }

  test("mp4: an stss declaring more entries than its box holds never " +
      "fabricates sync flags from the NEXT box's bytes") {
    // same shape as the stts clamp test, the lie moved to stss: CLAIMS 10
    // sync entries but physically holds 1 (sample 1); stco follows, whose
    // bytes must not be read as sync sample numbers
    val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >> 16).toInt); u16(v.toInt) }
    def raw(s: String): Unit = bos.write(s.getBytes("US-ASCII"), 0, 4)
    def box(tpe: String)(body: => Unit): Unit = {
      val mark = bos.size()
      u32(0L); raw(tpe)
      body
      val arr = bos.toByteArray
      val sz = arr.length - mark
      arr(mark) = ((sz >> 24) & 0xff).toByte; arr(mark + 1) = ((sz >> 16) & 0xff).toByte
      arr(mark + 2) = ((sz >> 8) & 0xff).toByte; arr(mark + 3) = (sz & 0xff).toByte
      bos.reset(); bos.write(arr, 0, arr.length)
    }
    box("ftyp") { raw("isom"); u32(0L); raw("isom") }
    box("moov") {
      box("trak") {
        box("mdia") {
          box("mdhd") { u32(0L); u32(0L); u32(0L); u32(1000L); u32(200L); u16(0); u16(0) }
          box("hdlr") { u32(0L); u32(0L); raw("vide"); u32(0L); u32(0L); u32(0L); u8(0) }
          box("minf") {
            box("stbl") {
              box("stts") { u32(0L); u32(1L); u32(2L); u32(100L) }
              box("stsz") { u32(0L); u32(0L); u32(2L); u32(10L); u32(20L) }
              box("stsc") { u32(0L); u32(1L); u32(1L); u32(2L); u32(1L) }
              box("stss") { u32(0L); u32(10L); u32(1L) } // LIES: 10 declared, 1 held
              box("stco") { u32(0L); u32(1L); u32(500L) }
            }
          }
        }
      }
    }
    val out = VideoBitstream.mp4SyncSamples(
      Seq((0L, bos.toByteArray)).toDF("doc_id", "payload"))
      .orderBy("sample_idx").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[String]("parse_error") == null))
    // only the ONE physical entry (sample 1) is a sync sample — sample 2's
    // flag must not be fabricated from stco's header/offset bytes
    assert(out.map(_.getAs[Boolean]("is_sync")).toSeq == Seq(true, false))
    assert(out.map(_.getAs[Long]("sample_offset")).toSeq == Seq(500L, 510L))
  }

  test("mp4: a crafted 64-bit box size near Long.MaxValue stops the walk " +
      "(overflow-safe guard) instead of wrapping o+size negative") {
    val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >> 16).toInt); u16(v.toInt) }
    def raw(s: String): Unit = bos.write(s.getBytes("US-ASCII"), 0, 4)
    // valid ftyp first — boxes already walked must stay walked
    u32(16L); raw("ftyp"); raw("isom"); u32(0L)
    // then a size32==1 box claiming a 64-bit size of Long.MaxValue: a
    // naive `o + size > end` wraps negative and admits it (and
    // `o += size.toInt` adds -1, looping forever)
    u32(1L); raw("free")
    u32((Long.MaxValue >>> 32) & 0xffffffffL); u32(Long.MaxValue & 0xffffffffL)
    u32(0L) // a few body bytes so the walk COULD keep going if unguarded
    val df = Seq((0L, bos.toByteArray)).toDF("doc_id", "payload")
    val out = VideoBitstream.mp4ClipMeta(df).collect().head
    assert(out.getAs[String]("brand") == "isom")
    assert(out.getAs[String]("parse_error") == "no video track")
  }

  test("mp4: a fixed-sample-size stsz declaring 2^31-1 samples is clamped " +
      "by physical file size, never allocated as declared (OOM-class)") {
    // 16-byte stsz with sample_size = 10 and sample_count = 0x7FFFFFFF:
    // unclamped, Array.fill would allocate a ~17 GB Long array and die
    // with OutOfMemoryError (an Error the per-clip catch cannot convert
    // to a parse_error row). The count is physically bounded by
    // bytes.length / sample_size.
    val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >> 16).toInt); u16(v.toInt) }
    def raw(s: String): Unit = bos.write(s.getBytes("US-ASCII"), 0, 4)
    def box(tpe: String)(body: => Unit): Unit = {
      val mark = bos.size()
      u32(0L); raw(tpe)
      body
      val arr = bos.toByteArray
      val sz = arr.length - mark
      arr(mark) = ((sz >> 24) & 0xff).toByte; arr(mark + 1) = ((sz >> 16) & 0xff).toByte
      arr(mark + 2) = ((sz >> 8) & 0xff).toByte; arr(mark + 3) = (sz & 0xff).toByte
      bos.reset(); bos.write(arr, 0, arr.length)
    }
    box("ftyp") { raw("isom"); u32(0L); raw("isom") }
    box("moov") {
      box("trak") {
        box("mdia") {
          box("mdhd") { u32(0L); u32(0L); u32(0L); u32(1000L); u32(200L); u16(0); u16(0) }
          box("hdlr") { u32(0L); u32(0L); raw("vide"); u32(0L); u32(0L); u32(0L); u8(0) }
          box("minf") {
            box("stbl") {
              box("stts") { u32(0L); u32(1L); u32(2L); u32(100L) }
              box("stsz") { u32(0L); u32(10L); u32(0x7FFFFFFFL) } // fixed=10, count LIES
              box("stsc") { u32(0L); u32(1L); u32(1L); u32(2L); u32(1L) }
              box("stco") { u32(0L); u32(1L); u32(500L) }
            }
          }
        }
      }
    }
    // the pin is survival + boundedness: the call returns (no Error kills
    // the task) and emits a bounded number of rows in bounded time
    val out = VideoBitstream.mp4SyncSamples(
      Seq((0L, bos.toByteArray)).toDF("doc_id", "payload")).collect()
    assert(out.length < 100, s"unbounded sample table: ${out.length} rows")
  }
}
