package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** IVF (AV1/VP9/VP8) STRUCTURE census — the raw-bitstream container the
  * codec world ships next to WebM: the "DKIF" header (little-endian
  * fixed layout), the frame table walk (u32 size + u64 pts per frame),
  * an AV1 OBU walk with a REAL sequence-header parse (AV1 spec §5.5:
  * profile / still-picture / level / tier and the
  * width-bits/height-bits-coded max frame dimensions), and the VP9
  * keyframe census from the uncompressed-header bits (frame marker,
  * profile, show-existing, frame-type). Everything is the specs' own
  * algorithmic framing — leb128, bit walks, fixed layouts — no number
  * tables. Truncation keeps the frames already walked; non-IVF payloads
  * degrade per clip by name.
  *
  * Reference scope note: SDM-RDFizer has no media handling; beyond-
  * parity multimodal surface (COVERAGE.md).
  */
object Ivf {

  import Bytes.{u16 => u16le, u32 => u32le}

  /** leb128 (AV1 §4.10.5): returns (value, width) or null. */
  private[ops] def leb128(b: Array[Byte], o: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      if (o + i >= b.length) return null
      val x = b(o + i) & 0xff
      v |= (x & 0x7fL) << (7 * i)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    null
  }

  private[ops] final case class Av1Seq(profile: Int, stillPicture: Boolean,
      levelIdx: Int, tier: Int, width: Int, height: Int)

  /** AV1 sequence_header_obu §5.5.1 through max_frame_height — the
    * census fields. Timing/decoder-model shapes refuse by name (they
    * shift every later field). */
  private[ops] def parseAv1SeqHeader(rbsp: Array[Byte]): Either[String, Av1Seq] =
    try {
      val rd = new VideoBitstream.BitReader(rbsp)
      val profile = rd.u(3)
      val still = rd.u1() == 1
      val reduced = rd.u1() == 1
      var level = -1
      var tier = 0
      if (reduced) {
        level = rd.u(5)
      } else {
        if (rd.u1() == 1)
          return Left("timing_info in sequence header not supported")
        val initialDelay = rd.u1() == 1
        val opCnt = rd.u(5) + 1
        var i = 0
        while (i < opCnt) {
          rd.u(12) // operating_point_idc
          val l = rd.u(5)
          if (i == 0) level = l
          if (l > 7) { val t = rd.u1(); if (i == 0) tier = t }
          if (initialDelay && rd.u1() == 1) rd.u(4)
          i += 1
        }
      }
      val wBits = rd.u(4) + 1
      val hBits = rd.u(4) + 1
      val w = rd.u(wBits) + 1
      val h = rd.u(hBits) + 1
      Right(Av1Seq(profile, still, level, tier, w, h))
    } catch { case _: Exception => Left("truncated AV1 sequence header") }

  /** Walk one AV1 temporal unit's OBUs for the first sequence header. */
  private def findAv1Seq(b: Array[Byte]): Either[String, Av1Seq] = {
    var o = 0
    while (o < b.length) {
      val hdr = b(o) & 0xff
      if ((hdr & 0x80) != 0) return Left("OBU forbidden bit set")
      val tpe = (hdr >> 3) & 0xf
      val ext = (hdr & 4) != 0
      val hasSize = (hdr & 2) != 0
      var p = o + 1
      if (ext) p += 1
      if (!hasSize) return Left("OBU without size field not supported")
      val sz = leb128(b, p)
      if (sz == null) return Left("truncated OBU size")
      val body = p + sz._2
      if (body + sz._1 > b.length) return Left("OBU overruns frame")
      if (tpe == 1)
        return parseAv1SeqHeader(
          java.util.Arrays.copyOfRange(b, body, (body + sz._1).toInt))
      o = (body + sz._1).toInt
    }
    Left("no sequence header OBU in first frame")
  }

  private val cols = Seq(
    StructField("fourcc", StringType),
    StructField("hdr_width", IntegerType),
    StructField("hdr_height", IntegerType),
    StructField("hdr_frames", IntegerType),
    StructField("walked_frames", IntegerType),
    StructField("keyframes", IntegerType),
    StructField("av1_profile", IntegerType),
    StructField("av1_level", IntegerType),
    StructField("av1_width", IntegerType),
    StructField("av1_height", IntegerType),
    StructField("parse_error", StringType))

  /** One census row per clip. VP8/VP9 keyframes from the frame tag bits
    * (VP9: frame_marker(2) profile(2-ish) show_existing(1) frame_type(1);
    * VP8: the 3-byte tag's low bit is inverted key flag); AV1 fields from
    * the first frame's sequence header OBU. Narrow map, no decode.
    */
  def ivfMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    Multimodal.requireFreshColumns(df, "ivfMeta", cols.map(_.name))
    val schema = StructType(df.schema.fields ++ cols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        def errRow(msg: String) = Row.fromSeq(r.toSeq ++
          (Seq.fill[Any](cols.length - 1)(null) :+ msg))
        if (r.isNullAt(idx)) errRow("null payload")
        else try {
          val b = r.getAs[Array[Byte]](idx)
          if (b.length < 32 || b(0) != 'D' || b(1) != 'K' || b(2) != 'I' ||
            b(3) != 'F') errRow("not IVF (no DKIF magic)")
          else {
            val hdrLen = u16le(b, 6)
            val fourcc = new String(b, 8, 4,
              java.nio.charset.StandardCharsets.ISO_8859_1)
            val w = u16le(b, 12)
            val h = u16le(b, 14)
            val nHdr = u32le(b, 24).toInt
            var o = math.max(32, hdrLen)
            var walked = 0
            var keys = 0
            var av1: Either[String, Av1Seq] = Left("no AV1 frames walked")
            var sawFirst = false
            while (o + 12 <= b.length) {
              val fsz = u32le(b, o)
              val fo = o + 12
              if (fsz <= 0 || fo + fsz > b.length) o = b.length // truncated: stop
              else {
                walked += 1
                if (fourcc == "AV01") {
                  // one OBU walk per frame: the result feeds BOTH the
                  // first-frame sequence fields and the keyframe census
                  val seq = findAv1Seq(java.util.Arrays.copyOfRange(
                    b, fo, (fo + fsz).toInt))
                  if (!sawFirst) { sawFirst = true; av1 = seq }
                  // AV1 keyframe census needs the frame header; count
                  // frames that carry a sequence header OBU instead (a
                  // keyframe-led temporal unit repeats it in practice)
                  if (seq.isRight) keys += 1
                } else if (fourcc == "VP90") {
                  val t = b(fo.toInt) & 0xff
                  // frame_marker(2)=10, profile_low, profile_high,
                  // [reserved if profile 3], show_existing, frame_type
                  if ((t >> 6) == 2) {
                    val profile = ((t >> 5) & 1) | (((t >> 4) & 1) << 1)
                    val shift = if (profile == 3) 2 else 3
                    val showExisting = (t >> shift) & 1
                    val frameType = (t >> (shift - 1)) & 1
                    if (showExisting == 0 && frameType == 0) keys += 1
                  }
                } else if (fourcc == "VP80") {
                  // VP8 frame tag: bit 0 of byte 0 = frame type (0 = key)
                  if (((b(fo.toInt) & 0xff) & 1) == 0) keys += 1
                }
                o = (fo + fsz).toInt
              }
            }
            val (ap, al, aw, ah) = av1 match {
              case Right(s) => (s.profile, s.levelIdx, s.width, s.height)
              case Left(_) => (-1, -1, -1, -1)
            }
            val av1Err =
              if (fourcc == "AV01") av1.left.toOption.orNull else null
            Row.fromSeq(r.toSeq ++ Seq(fourcc, w, h, nHdr, walked, keys,
              if (ap < 0) null else ap, if (al < 0) null else al,
              if (aw < 0) null else aw, if (ah < 0) null else ah,
              av1Err))
          }
        } catch { case e: Exception =>
          errRow(s"census failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  // ---- synthetic fixtures ----

  private def leb128Bytes(v: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var x = v
    do {
      val b = (x & 0x7f).toInt
      x >>= 7
      bos.write(if (x != 0) b | 0x80 else b)
    } while (x != 0)
    bos.toByteArray
  }

  /** A REAL AV1 sequence-header OBU (reduced_still_picture_header = 0,
    * one operating point) wrapped with size field. */
  private def av1SeqObu(profile: Int, level: Int, w: Int, h: Int): Array[Byte] = {
    val wr = new VideoBitstream.BitWriter
    wr.u(profile, 3)
    wr.u(0, 1) // still_picture
    wr.u(0, 1) // reduced_still_picture_header
    wr.u(0, 1) // timing_info_present_flag
    wr.u(0, 1) // initial_display_delay_present_flag
    wr.u(0, 5) // operating_points_cnt_minus_1
    wr.u(0, 12) // operating_point_idc[0]
    wr.u(level, 5)
    if (level > 7) wr.u(0, 1) // seq_tier
    wr.u(15, 4); wr.u(15, 4) // 16-bit width/height fields
    wr.u(w - 1, 16); wr.u(h - 1, 16)
    wr.u(0, 3) // byte-ish padding to keep the reader in bounds
    wr.alignByte()
    val body = wr.bytes
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(0x0A) // type 1 (seq hdr), no ext, has_size
    val sz = leb128Bytes(body.length.toLong)
    bos.write(sz, 0, sz.length)
    bos.write(body, 0, body.length)
    bos.toByteArray
  }

  /** Deterministic IVF clip. `fourccSel`: 0 = AV01, 1 = VP90, 2 = VP80.
    * For AV1, keyframe-led frames carry the sequence-header OBU + an
    * opaque frame OBU; others a frame OBU only. For VP9/VP8, frame tag
    * bytes encode key/inter per the spec bit layouts.
    */
  val syntheticIvf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (fourccSel: Int, w: Int, h: Int, nFrames: Int, kfPeriod: Int,
          av1Profile: Int, av1Level: Int) => {
        val fourcc = Seq("AV01", "VP90", "VP80")(fourccSel % 3)
        val bos = new java.io.ByteArrayOutputStream()
        def u16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
        def u32(v: Long): Unit = { var i = 0
          while (i < 4) { bos.write(((v >> (8 * i)) & 0xff).toInt); i += 1 } }
        bos.write('D'); bos.write('K'); bos.write('I'); bos.write('F')
        u16(0); u16(32)
        bos.write(fourcc.getBytes("ISO-8859-1"), 0, 4)
        u16(w); u16(h)
        u32(30L); u32(1L) // timebase
        u32(nFrames.toLong); u32(0L)
        var f = 0
        while (f < nFrames) {
          val key = f % kfPeriod == 0
          val frame = new java.io.ByteArrayOutputStream()
          if (fourcc == "AV01") {
            if (key) {
              val seq = av1SeqObu(av1Profile, av1Level, w, h)
              frame.write(seq, 0, seq.length)
            }
            // opaque frame OBU (type 6), sized
            val body = Array.tabulate(10 + f % 5)(j => (f * 3 + j).toByte)
            frame.write(0x32) // type 6, has_size
            val sz = leb128Bytes(body.length.toLong)
            frame.write(sz, 0, sz.length)
            frame.write(body, 0, body.length)
          } else if (fourcc == "VP90") {
            // frame_marker=10, profile 0, show_existing=0, frame_type,
            // show_frame=1, error_resilient=0
            val t = 0x80 | (if (key) 0 else 1) << 2 | (1 << 1)
            frame.write(t)
            frame.write(Array.tabulate(12)(j => (f * 5 + j).toByte), 0, 12)
          } else {
            // VP8 tag: bit0 = 0 for key
            frame.write(if (key) 0x10 else 0x11)
            frame.write(Array.tabulate(9)(j => (f * 7 + j).toByte), 0, 9)
          }
          val fb = frame.toByteArray
          u32(fb.length.toLong)
          var i = 0
          while (i < 8) { bos.write(if (i == 0) f & 0xff else 0); i += 1 } // pts
          bos.write(fb, 0, fb.length)
          f += 1
        }
        bos.toByteArray
      })
}
