package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** H.264/AVC bitstream STRUCTURE ops (ITU-T H.264, public spec): Annex-B
  * NAL unit scan, RBSP un-escaping, Exp-Golomb SPS parse. These make
  * keyframe-aware video curation REAL without a pixel decoder — a
  * training pipeline's first questions about a crawled clip (how many
  * access units? where are the IDR sync points? what resolution/profile?)
  * are answered from NAL headers and the SPS alone, reading only the
  * byte stream. Pixel decode of H.264 frames still has no JDK codec and
  * stays behind [[Multimodal.decodeStub]]'s contract (reference:
  * rdfizer has zero video handling; this is beyond-reference plumbing).
  *
  * Scale shape: both ops are narrow per-partition flatMaps over the
  * payload column — no shuffle, one clip's byte array in memory at a
  * time, output rows bounded by NAL count (parse) or 1 (meta).
  * Degradation is per-scope like [[Multimodal.decodeVideoFrames]]: a
  * clip that is not Annex-B yields one `parse_error` row; a malformed
  * SPS yields the clip's NAL rows with null dims — one bad crawl clip
  * cannot kill the job.
  */
object VideoBitstream {

  /** Annex-B NAL scan: byte spans (offsetOfHeader, length) for every NAL
    * unit, delimited by 00 00 01 start codes (a preceding 00 making a
    * 4-byte code belongs to the delimiter, not the previous NAL — NALs
    * never end in a zero byte because rbsp_trailing_bits puts the stop
    * bit in the last byte, so trailing zeros are stripped as
    * trailing_zero_8bits). Returns null if no start code exists.
    */
  private[ops] def findNals(bytes: Array[Byte]): Seq[(Int, Int)] = {
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + 2 < bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
        starts += i + 3
        i += 3
      } else i += 1
    }
    if (starts.isEmpty) return null
    starts.toSeq.zipWithIndex.map { case (s, k) =>
      var e = if (k + 1 < starts.length) starts(k + 1) - 3 else bytes.length
      while (e > s && bytes(e - 1) == 0) e -= 1 // trailing_zero_8bits
      (s, e - s)
    }.filter(_._2 > 0)
  }

  /** RBSP extraction: drop each emulation_prevention_three_byte (the 03
    * in 00 00 03 0x, x ≤ 3) from the NAL payload after the header byte.
    */
  private[ops] def rbspBytes(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var n = 0
    var i = 0
    while (i < len) {
      val b = bytes(off + i)
      if (b == 3 && n >= 2 && out(n - 1) == 0 && out(n - 2) == 0 &&
          i + 1 < len && (bytes(off + i + 1) & 0xff) <= 3) {
        // skip the emulation byte itself
      } else {
        out(n) = b; n += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** MSB-first bit reader with ue(v)/se(v) Exp-Golomb (H.264 §9.1). Reads
    * past-the-end throw; callers catch and degrade per-clip.
    */
  private[ops] final class BitReader(bytes: Array[Byte]) {
    private var pos = 0
    def u1(): Int = {
      val b = (bytes(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      b
    }
    def u(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | u1(); i += 1 }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (u1() == 0) {
        zeros += 1
        require(zeros <= 31, "ue(v) too long")
      }
      (1 << zeros) - 1 + u(zeros)
    }
    def se(): Int = {
      val k = ue()
      if (k % 2 == 1) (k + 1) / 2 else -(k / 2)
    }
  }

  /** `width`/`height` are the cropped luma dims the metadata rows
    * report. */
  private[ops] final case class SpsInfo(profile: Int, level: Int,
      width: Int, height: Int)

  /** §7.3.2.1.1.1 scaling_list: consumed and discarded, since only the
    * dims that follow it are read. */
  private def skipScalingList(r: BitReader, size: Int): Unit = {
    var lastScale = 8
    var nextScale = 8
    var j = 0
    while (j < size) {
      if (nextScale != 0) nextScale = (lastScale + r.se() + 256) % 256
      if (nextScale != 0) lastScale = nextScale
      j += 1
    }
  }

  /** SPS parse (H.264 §7.3.2.1.1) → profile, level, luma frame dims with
    * cropping applied. High-profile chroma/bit-depth branches handled;
    * scaling matrices are skipped structurally (4×4 and 8×8 lists,
    * §7.3.2.1.1.1). `rbsp` excludes the NAL header byte.
    */
  private[ops] def parseSps(rbsp: Array[Byte]): SpsInfo = {
    val r = new BitReader(rbsp)
    val profile = r.u(8)
    r.u(8) // constraint_set flags + reserved
    val level = r.u(8)
    r.ue() // seq_parameter_set_id
    var chromaFormatIdc = 1
    if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)
        .contains(profile)) {
      chromaFormatIdc = r.ue()
      if (chromaFormatIdc == 3) r.u1() // separate_colour_plane_flag
      r.ue(); r.ue() // bit_depth_luma/chroma_minus8
      r.u1() // qpprime_y_zero_transform_bypass_flag
      if (r.u1() == 1) { // seq_scaling_matrix_present_flag
        val lists = if (chromaFormatIdc == 3) 12 else 8
        var i = 0
        while (i < lists) {
          if (r.u1() == 1) // seq_scaling_list_present_flag[i]
            skipScalingList(r, if (i < 6) 16 else 64)
          i += 1
        }
      }
    }
    r.ue() // log2_max_frame_num_minus4
    r.ue() match { // pic_order_cnt_type
      case 0 => r.ue() // log2_max_pic_order_cnt_lsb_minus4
      case 1 =>
        r.u1(); r.se(); r.se()
        val n = r.ue()
        var i = 0
        while (i < n) { r.se(); i += 1 }
      case _ => ()
    }
    r.ue() // max_num_ref_frames
    r.u1() // gaps_in_frame_num_value_allowed_flag
    val widthMbs = r.ue() + 1
    val heightMapUnits = r.ue() + 1
    val frameMbsOnly = r.u1()
    if (frameMbsOnly == 0) r.u1() // mb_adaptive_frame_field_flag
    r.u1() // direct_8x8_inference_flag
    var w = widthMbs * 16
    var h = heightMapUnits * 16 * (2 - frameMbsOnly)
    if (r.u1() == 1) { // frame_cropping_flag
      val (cl, cr, ct, cb) = (r.ue(), r.ue(), r.ue(), r.ue())
      val (ux, uy) = chromaFormatIdc match {
        case 0 => (1, 2 - frameMbsOnly)
        case 1 => (2, 2 * (2 - frameMbsOnly))
        case 2 => (2, 2 - frameMbsOnly)
        case _ => (1, 2 - frameMbsOnly)
      }
      w -= (cl + cr) * ux
      h -= (ct + cb) * uy
    }
    SpsInfo(profile, level, w, h)
  }

  private val nalCols = Seq(
    StructField("nal_idx", IntegerType),
    StructField("nal_type", IntegerType),
    StructField("nal_ref_idc", IntegerType),
    StructField("nal_offset", IntegerType),
    StructField("nal_size", IntegerType),
    StructField("is_idr", BooleanType),
    StructField("parse_error", StringType))

  /** One row per NAL unit of an Annex-B H.264 payload: index, type,
    * ref_idc, byte span, IDR flag. Keyframe sampling at corpus scale is
    * `parseH264Nals(df).where(col("is_idr"))` — the sync points a seek
    * or a frame-sampling decode starts from, found WITHOUT decoding.
    */
  def parseH264Nals(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    Multimodal.requireFreshColumns(df, "parseH264Nals", nalCols.map(_.name))
    val schema = StructType(df.schema.fields ++ nalCols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val errRow = (msg: String) =>
          Seq(Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null, null, msg)))
        if (r.isNullAt(idx)) errRow("null payload")
        else {
          val bytes = r.getAs[Array[Byte]](idx)
          val nals = findNals(bytes)
          if (nals == null) errRow("no Annex-B start code")
          // a start code with nothing after it (truncation cut right at
          // ...00 00 01) filters every span to length 0 — the clip must
          // still surface as an error row, not silently vanish
          else if (nals.isEmpty) errRow("no complete NAL units")
          else nals.zipWithIndex.map { case ((off, len), i) =>
            val hdr = bytes(off) & 0xff
            val tpe = hdr & 0x1f
            Row.fromSeq(r.toSeq ++ Seq(i, tpe, (hdr >> 5) & 3, off, len,
              tpe == 5, null))
          }
        }
      }
    }(enc)
  }

  private val metaCols = Seq(
    StructField("h264_profile", IntegerType),
    StructField("h264_level", IntegerType),
    StructField("h264_width", IntegerType),
    StructField("h264_height", IntegerType),
    StructField("nal_count", IntegerType),
    StructField("idr_count", IntegerType),
    StructField("parse_error", StringType))

  /** One row per clip: SPS-derived profile/level/dims plus NAL and IDR
    * counts — the metadata a curation filter (resolution gates, keyframe
    * density) needs, from structure alone. First SPS wins (spec allows
    * several; crawled clips virtually always carry one).
    */
  def h264ClipMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    Multimodal.requireFreshColumns(df, "h264ClipMeta", metaCols.map(_.name))
    val schema = StructType(df.schema.fields ++ metaCols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        def errRow(msg: String) =
          Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null, null, msg))
        if (r.isNullAt(idx)) errRow("null payload")
        else {
          val bytes = r.getAs[Array[Byte]](idx)
          val nals = findNals(bytes)
          if (nals == null) errRow("no Annex-B start code")
          else {
            var idr = 0
            var sps: SpsInfo = null
            var spsErr: String = null
            nals.foreach { case (off, len) =>
              val tpe = bytes(off) & 0x1f
              if (tpe == 5) idr += 1
              if (tpe == 7 && sps == null)
                try sps = parseSps(rbspBytes(bytes, off + 1, len - 1))
                catch { case e: Exception =>
                  spsErr = s"sps parse failed: ${e.getClass.getSimpleName}" }
            }
            if (sps != null)
              Row.fromSeq(r.toSeq ++ Seq(sps.profile, sps.level, sps.width,
                sps.height, nals.length, idr, null))
            else
              Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, nals.length,
                idr, if (spsErr != null) spsErr else "no SPS in stream"))
          }
        }
      }
    }(enc)
  }

  /** MSB-first bit writer with Exp-Golomb, for the synthetic fixture
    * generators (and any test that needs a valid SPS). Emulation
    * prevention is applied separately at payload emission
    * ([[escapeRbsp]]).
    */
  private[ops] final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nbits = 0
    def u(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1)
        nbits += 1
        if (nbits == 8) { buf += cur.toByte; cur = 0; nbits = 0 }
        i -= 1
      }
    }
    def ue(k: Int): Unit = {
      val zeros = 31 - Integer.numberOfLeadingZeros(k + 1)
      u(0, zeros)
      u(k + 1, zeros + 1)
    }
    /** Zero-bit padding to the next byte boundary. */
    def alignByte(): Unit = if (nbits != 0) u(0, 8 - nbits)
    /** Padding to the next byte boundary with ONE bits. */
    def alignByteOnes(): Unit =
      if (nbits != 0) u((1 << (8 - nbits)) - 1, 8 - nbits)
    def rbspTrailing(): Unit = {
      u(1, 1)
      if (nbits != 0) u(0, 8 - nbits)
    }
    def bytes: Array[Byte] = buf.toArray
  }

  /** Baseline-profile SPS RBSP for the synthetic clips: fixed small
    * fields (poc_type 2, two ref frames, no cropping, no VUI), dims from
    * macroblock counts.
    */
  private[ops] def syntheticSpsRbsp(mbw: Int, mbh: Int): Array[Byte] = {
    val w = new BitWriter
    w.u(66, 8) // profile_idc: Baseline
    w.u(0, 8) // constraint flags
    w.u(30, 8) // level_idc 3.0
    w.ue(0) // seq_parameter_set_id
    w.ue(0) // log2_max_frame_num_minus4
    w.ue(2) // pic_order_cnt_type
    w.ue(2) // max_num_ref_frames
    w.u(1, 1) // gaps_in_frame_num_value_allowed_flag
    w.ue(mbw - 1)
    w.ue(mbh - 1)
    w.u(1, 1) // frame_mbs_only_flag
    w.u(1, 1) // direct_8x8_inference_flag
    w.u(0, 1) // frame_cropping_flag
    w.u(0, 1) // vui_parameters_present_flag
    w.rbspTrailing()
    w.bytes
  }

  /** RBSP → NAL payload with emulation_prevention_three_byte insertion
    * (00 00 followed by a byte ≤ 3 gets 03 interposed).
    */
  private[ops] def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    rbsp.foreach { b =>
      if (out.length >= 2 && out(out.length - 1) == 0 &&
          out(out.length - 2) == 0 && (b & 0xff) <= 3) out += 3
      out += b
    }
    out.toArray
  }

  private val sliceCensusCols = Seq(
    StructField("n_slices", IntegerType),
    StructField("n_i", IntegerType),
    StructField("n_p", IntegerType),
    StructField("n_b", IntegerType),
    StructField("n_idr", IntegerType),
    StructField("first_slice_type", StringType),
    StructField("decode_refusal", StringType),
    StructField("parse_error", StringType))

  /** §7.3.3 slice_type code → name. Types 5..9 assert "every slice in
    * the picture has this type"; the census folds them onto the base
    * type (the distinction matters to a decoder, not a GOP census).
    */
  private def sliceTypeName(t: Int): String = (t % 5) match {
    case 0 => "P"
    case 1 => "B"
    case 2 => "I"
    case 3 => "SP"
    case 4 => "SI"
  }

  /** slice_type of a coded-slice RBSP prefix (§7.3.3: skips
    * first_mb_in_slice, returns the slice_type code 0..9; garbage may
    * return larger — callers range-check). */
  private def firstSliceType(rbsp: Array[Byte]): Int = {
    val r = new BitReader(rbsp)
    r.ue() // first_mb_in_slice
    r.ue()
  }

  /** P/B-SLICE structure census — the GOP-shape walk that precedes any
    * decode decision (VERDICT r15 Next #7: structure FIRST, motion
    * compensation only if curation ever needs it). For every coded
    * slice NAL (types 1 and 5) the REAL slice-header prefix is
    * Exp-Golomb-parsed (§7.3.3: first_mb_in_slice, slice_type — the
    * fields that precede any SPS-dependent bit), yielding per clip the
    * I/P/B/IDR counts and `decode_refusal`: null when the clip has an IDR
    * slice a keyframe-only decoder could start from, else the reason it
    * has none, named by what the clip holds instead ("P-slice stream
    * without an IDR…", the B and open-GOP cases, or "no coded slices").
    * graft itself decodes no pixels; the column keeps the names a
    * keyframe decoder would refuse with. SP/SI count into n_p/n_i (their
    * base type) and are named in first_slice_type if leading. Narrow
    * flatMap-free map, per-clip degradation, no shuffle — census-family
    * scale shape.
    */
  def h264SliceCensus(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    Multimodal.requireFreshColumns(df, "h264SliceCensus",
      sliceCensusCols.map(_.name))
    val schema = StructType(df.schema.fields ++ sliceCensusCols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        def errRow(msg: String) = Row.fromSeq(r.toSeq ++
          Seq(null, null, null, null, null, null, null, msg))
        if (r.isNullAt(idx)) errRow("null payload")
        else try {
          val bytes = r.getAs[Array[Byte]](idx)
          val nals = findNals(bytes)
          if (nals == null) errRow("no Annex-B start code")
          else {
            var (nSl, nI, nP, nB, nIdr) = (0, 0, 0, 0, 0)
            var first: String = null
            nals.foreach { case (off, len) =>
              val tpe = bytes(off) & 0x1f
              if (tpe == 1 || tpe == 5) {
                nSl += 1
                if (tpe == 5) nIdr += 1
                // per-NAL degradation: one truncated header keeps the
                // other slices' counts (the bad NAL still counts into
                // n_slices, its type doesn't)
                val st = try firstSliceType(rbspBytes(bytes, off + 1,
                  math.min(len - 1, 8))) // header prefix only
                catch { case _: Exception => -1 }
                // ue() can wrap negative on garbage: bound BOTH sides
                if (st >= 0 && st <= 9) {
                  if (first == null)
                    first = (if (st >= 5) "all-" else "") + sliceTypeName(st)
                  sliceTypeName(st) match {
                    case "I" | "SI" => nI += 1
                    case "P" | "SP" => nP += 1
                    case "B" => nB += 1
                  }
                }
              }
            }
            val refusal =
              if (nIdr > 0) null // keyframe-only decode has its entry
              else if (nB > 0)
                "B-slice stream without an IDR: no anchor pair to " +
                  "bracket from"
              else if (nP > 0)
                "P-slice stream without an IDR: no reference frame to " +
                  "start from"
              else if (nI > 0)
                // open-GOP / recovery-point cut: I slices that are not
                // IDR — no inter prediction involved, the gap is the
                // keyframe decoder's IDR-only entry
                "non-IDR I-slice stream (open GOP): keyframe decode " +
                  "requires an IDR slice"
              else "no coded slices"
            Row.fromSeq(r.toSeq ++
              Seq(nSl, nI, nP, nB, nIdr, first, refusal, null))
          }
        } catch { case e: Exception =>
          errRow(s"slice census failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  /** Deterministic GOP-shaped Annex-B stream for the slice census: SPS +
    * PPS, then `nGops` GOPs of `gopLen` slices each — an IDR (slice_type
    * 7, "all-I") opening each GOP, then non-IDR slices whose REAL §7.3.3
    * header prefix codes slice_type B (1) on every `bPeriod`-th
    * in-GOP position and P (0) otherwise, followed by opaque high-bit
    * filler (length 4 + (seed + position) % 8). Closed forms:
    * n_idr = nGops, n_slices = nGops*gopLen.
    */
  val syntheticGopAnnexB: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((mbw: Int, mbh: Int, nGops: Int, gopLen: Int, bPeriod: Int,
        seed: Int) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def startCode(four: Boolean): Unit = {
        if (four) out += 0
        out += 0; out += 0; out += 1
      }
      def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
        out += ((refIdc << 5) | tpe).toByte
        out ++= escapeRbsp(rbsp)
      }
      def sliceRbsp(sliceType: Int, fill: Int): Array[Byte] = {
        val w = new BitWriter
        w.ue(0) // first_mb_in_slice
        w.ue(sliceType)
        w.ue(0) // pic_parameter_set_id
        w.alignByteOnes() // pad the header prefix with 1-bits (never 00)
        w.bytes ++ Array.tabulate(fill)(j =>
          (0x80 | ((seed * 17 + j * 5) & 0x7f)).toByte)
      }
      startCode(four = true)
      nal(3, 7, syntheticSpsRbsp(mbw, mbh))
      startCode(four = false)
      nal(3, 8, Array[Byte](0x68, 0x70, 0x71, 0x72).map(b => (b | 0x40).toByte))
      var g = 0
      while (g < nGops) {
        var k = 0
        while (k < gopLen) {
          startCode(four = false)
          val fill = 4 + (seed + k) % 8
          if (k == 0) nal(3, 5, sliceRbsp(7, fill))
          else if (k % bPeriod == 0) nal(0, 1, sliceRbsp(1, fill))
          else nal(2, 1, sliceRbsp(0, fill))
          k += 1
        }
        g += 1
      }
      out.toArray
    })

  /** Deterministic synthetic Annex-B H.264 stream: 4-byte start code +
    * SPS, then 3-byte start codes + PPS and `nFrames` slice NALs (IDR
    * every `idrPeriod`-th, non-IDR otherwise). Slice bodies are opaque
    * high-bit bytes (never 00, so no start-code aliasing and no
    * emulation bytes — the oracle's size arithmetic stays closed-form);
    * slice f's body length is 8 + (seed + f) % 16.
    */
  val syntheticAnnexB: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((mbw: Int, mbh: Int, nFrames: Int, idrPeriod: Int, seed: Int) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def startCode(four: Boolean): Unit = {
        if (four) out += 0
        out += 0; out += 0; out += 1
      }
      def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
        out += ((refIdc << 5) | tpe).toByte
        out ++= escapeRbsp(rbsp)
      }
      startCode(four = true)
      nal(3, 7, syntheticSpsRbsp(mbw, mbh))
      startCode(four = false)
      nal(3, 8, Array[Byte](0x68, 0x70, 0x71, 0x72).map(b => (b | 0x40).toByte))
      var f = 0
      while (f < nFrames) {
        startCode(four = false)
        val len = 8 + (seed + f) % 16
        val body = Array.tabulate(len)(j => (0x80 | ((seed * 31 + f * 7 + j) & 0x7f)).toByte)
        if (f % idrPeriod == 0) nal(3, 5, body) else nal(2, 1, body)
        f += 1
      }
      out.toArray
    })

  // ------------------------------------------------------------- ISO BMFF

  // big-endian reads ([[Bytes]]) over an MP4 byte array are all
  // bounds-checked by the caller's try (per-clip degradation)
  import Bytes.{be16, be32, be64}

  private def fourcc(b: Array[Byte], o: Int): String =
    if (o + 4 <= b.length) new String(b, o, 4, "US-ASCII") else ""

  /** ISO-BMFF box walk: invoke `f(type, bodyStart, bodyEnd)` for every box
    * directly inside [start, end). Handles 32/64-bit sizes and size-0
    * (to end-of-window); a truncated or non-advancing box stops the walk
    * (crawled clips are routinely cut mid-box — boxes already walked
    * stay walked).
    */
  private def walkBoxes(bytes: Array[Byte], start: Int, end: Int)(
      f: (String, Int, Int) => Unit): Unit = {
    var o = start
    while (o + 8 <= end) {
      val size32 = be32(bytes, o)
      val tpe = fourcc(bytes, o + 4)
      var hdr = 8L
      var size = size32
      if (size32 == 1L) {
        if (o + 16 > end) return
        size = be64(bytes, o + 8); hdr = 16L
      } else if (size32 == 0L) size = (end - o).toLong
      // overflow-safe: a crafted 64-bit size near Long.MaxValue would make
      // `o + size` wrap negative and slip past a naive `o + size > end`
      if (size < hdr || size > (end - o).toLong) return // truncated tail
      f(tpe, o + hdr.toInt, (o + size).toInt)
      o += size.toInt
    }
  }

  /** The per-track sample tables the curation ops need, straight from
    * stbl: decode-free keyframe geometry. `syncs` empty + `hasStss=false`
    * means every sample is a sync sample (ISO 14496-12: absent stss ⇒
    * all sync).
    */
  private[ops] final case class TrackTables(
      codec: String, avcC: Option[Array[Byte]],
      mdhdTimescale: Long, mdhdDuration: Long,
      sizes: Array[Long], chunkOffsets: Array[Long],
      stscRuns: Array[(Long, Long)], // (first_chunk, samples_per_chunk)
      sttsRuns: Array[(Long, Long)], // (sample_count, sample_delta)
      syncs: Set[Long], hasStss: Boolean)

  /** First video track of an ISO-BMFF payload, for [[mp4SyncSamples]].
    * The Boolean is moov-presence, so callers can tell
    * "not ISO-BMFF (no moov box)" from "no video track" — two failure
    * classes a curation pipeline buckets separately.
    */
  private def firstVideoTrack(bytes: Array[Byte]): (Boolean, Option[TrackTables]) = {
    var video: Option[TrackTables] = None
    var sawMoov = false
    walkBoxes(bytes, 0, bytes.length) {
      case ("moov", ms, me) =>
        sawMoov = true
        walkBoxes(bytes, ms, me) {
          case ("trak", ts, te) if video.isEmpty =>
            video = parseTrack(bytes, ts, te)
          case _ => ()
        }
      case _ => ()
    }
    (sawMoov, video)
  }

  private def parseTrack(bytes: Array[Byte], trakStart: Int, trakEnd: Int): Option[TrackTables] = {
    var handler = ""
    var codec = ""
    var avcC: Option[Array[Byte]] = None
    var ts = 0L
    var dur = 0L
    var sizes = Array.empty[Long]
    var chunks = Array.empty[Long]
    var runs = Array.empty[(Long, Long)]
    var stts = Array.empty[(Long, Long)]
    var syncs = Set.empty[Long]
    var hasStss = false
    def stbl(s: Int, e: Int): Unit = walkBoxes(bytes, s, e) {
      case ("stsd", b, be) =>
        val n = be32(bytes, b + 4)
        if (n >= 1 && b + 16 <= be) {
          codec = fourcc(bytes, b + 12)
          // VisualSampleEntry fixed part is 86 bytes from the entry's own
          // header; child boxes (avcC for avc1/avc3) follow it
          val entryStart = b + 8
          val entryEnd = math.min(entryStart + be32(bytes, entryStart).toInt, be)
          if (codec == "avc1" || codec == "avc3")
            walkBoxes(bytes, entryStart + 86, entryEnd) {
              case ("avcC", cb, ce) =>
                avcC = Some(java.util.Arrays.copyOfRange(bytes, cb, ce))
              case _ => ()
            }
        }
      // every variable-length table clamps its entry count by the box's
      // PHYSICAL extent (the stts rule below, applied uniformly): a corrupt
      // declared count would otherwise read the NEXT box's bytes as table
      // entries — fabricated sizes/offsets/sync flags with parse_error
      // null. Clamped tables degrade downstream through the existing
      // under-coverage contracts (sampleOffsets' covered check, stts's
      // null times) instead of fabricating.
      case ("stsz", b, be) =>
        val fixed = be32(bytes, b + 4)
        val declared = be32(bytes, b + 8)
        // the fixed-size branch has no table bytes to clamp against, but
        // the COUNT is still physically bounded: a file cannot hold more
        // fixed-size samples than it has bytes. Without this, a crafted
        // 16-byte box declaring 2^31 samples allocates a ~17 GB array —
        // an OutOfMemoryError the per-clip catch (Exception, not Error)
        // cannot convert to a parse_error row.
        sizes = if (fixed != 0L) {
          val n = math.min(declared,
            bytes.length.toLong / math.max(1L, fixed) + 1L).toInt
          Array.fill(n)(fixed)
        } else {
          val n = math.min(declared, math.max(0L, (be - b - 12L) / 4L)).toInt
          Array.tabulate(n)(i => be32(bytes, b + 12 + i * 4))
        }
      case ("stco", b, be) =>
        val n = math.min(be32(bytes, b + 4),
          math.max(0L, (be - b - 8L) / 4L)).toInt
        chunks = Array.tabulate(n)(i => be32(bytes, b + 8 + i * 4))
      case ("co64", b, be) =>
        val n = math.min(be32(bytes, b + 4),
          math.max(0L, (be - b - 8L) / 8L)).toInt
        chunks = Array.tabulate(n)(i => be64(bytes, b + 8 + i * 8))
      case ("stsc", b, be) =>
        val n = math.min(be32(bytes, b + 4),
          math.max(0L, (be - b - 8L) / 12L)).toInt
        runs = Array.tabulate(n)(i =>
          (be32(bytes, b + 8 + i * 12), be32(bytes, b + 12 + i * 12)))
      case ("stss", b, be) =>
        hasStss = true
        val n = math.min(be32(bytes, b + 4),
          math.max(0L, (be - b - 8L) / 4L)).toInt
        syncs = (0 until n).map(i => be32(bytes, b + 8 + i * 4)).toSet
      case ("stts", b, be) =>
        // entry count clamped by the box's PHYSICAL extent: a corrupt
        // declared count would otherwise read the NEXT box's bytes as
        // delta runs — fabricated sample times with no parse_error, the
        // exact thing sampleTimesMs's null-for-uncovered contract forbids
        // (uncovered samples stay null instead)
        val n = math.min(be32(bytes, b + 4),
          math.max(0L, (be - b - 8L) / 8L)).toInt
        stts = Array.tabulate(n)(i =>
          (be32(bytes, b + 8 + i * 8), be32(bytes, b + 12 + i * 8)))
      case _ => ()
    }
    walkBoxes(bytes, trakStart, trakEnd) {
      case ("mdia", ms, me) => walkBoxes(bytes, ms, me) {
        case ("mdhd", b, _) =>
          if (bytes(b) == 1) { ts = be32(bytes, b + 20); dur = be64(bytes, b + 24) }
          else { ts = be32(bytes, b + 12); dur = be32(bytes, b + 16) }
        case ("hdlr", b, _) => handler = fourcc(bytes, b + 8)
        case ("minf", s, e) => walkBoxes(bytes, s, e) {
          case ("stbl", ss, se) => stbl(ss, se)
          case _ => ()
        }
        case _ => ()
      }
      case _ => ()
    }
    if (handler == "vide")
      Some(TrackTables(codec, avcC, ts, dur, sizes, chunks, runs, stts,
        syncs, hasStss))
    else None
  }

  /** Per-sample decode time in milliseconds from the stts delta runs
    * (ISO 14496-12 §8.6.1.2: sample k starts at the cumulative sum of the
    * deltas before it, in mdhd-timescale ticks). Samples beyond the stts
    * coverage — or every sample when stts/timescale is absent (truncated
    * moov) — stay null: a fabricated timeline is worse than an honest
    * hole. Millisecond conversion floors (ticks × 1000 / timescale), the
    * arithmetic an external engine reproduces exactly in integer math.
    */
  private def sampleTimesMs(t: TrackTables): Array[java.lang.Long] = {
    val out = new Array[java.lang.Long](t.sizes.length)
    if (t.mdhdTimescale > 0 && t.sttsRuns.nonEmpty) {
      var cum = 0L
      var i = 0
      var run = 0
      var inRun = 0L
      while (i < out.length && run < t.sttsRuns.length) {
        if (t.sttsRuns(run)._1 <= 0L) { run += 1; inRun = 0L }
        else {
          out(i) = cum * 1000L / t.mdhdTimescale
          cum += t.sttsRuns(run)._2
          inRun += 1
          if (inRun >= t.sttsRuns(run)._1) { run += 1; inRun = 0L }
          i += 1
        }
      }
    }
    out
  }

  /** Per-sample (offset, size) from the chunk tables: stsc runs map
    * samples to chunks, stco anchors each chunk, sizes accumulate within
    * a chunk (ISO 14496-12 §8.7). Returns (file-absolute offsets in
    * sample order, samples actually COVERED by the chunk tables) — a
    * corrupt/truncated moov can declare more samples than the chunks
    * place, and the uncovered tail must degrade, not read as offset 0.
    */
  private def sampleOffsets(t: TrackTables): (Array[Long], Int) = {
    val out = new Array[Long](t.sizes.length)
    var sample = 0
    var run = 0
    var chunk = if (t.stscRuns.nonEmpty) t.stscRuns(0)._1 else 1L
    while (sample < t.sizes.length && chunk >= 1 &&
      chunk <= t.chunkOffsets.length) {
      val perChunk =
        if (t.stscRuns.isEmpty) t.sizes.length.toLong
        else t.stscRuns(run)._2
      var off = t.chunkOffsets(chunk.toInt - 1)
      var i = 0L
      while (i < perChunk && sample < t.sizes.length) {
        out(sample) = off
        off += t.sizes(sample)
        sample += 1
        i += 1
      }
      chunk += 1
      if (run + 1 < t.stscRuns.length && chunk >= t.stscRuns(run + 1)._1) run += 1
    }
    (out, sample)
  }

  private val mp4MetaCols = Seq(
    StructField("brand", StringType),
    StructField("duration_s", DoubleType),
    StructField("track_count", IntegerType),
    StructField("video_codec", StringType),
    StructField("h264_profile", IntegerType),
    StructField("h264_level", IntegerType),
    StructField("h264_width", IntegerType),
    StructField("h264_height", IntegerType),
    StructField("sample_count", IntegerType),
    StructField("sync_count", IntegerType),
    StructField("parse_error", StringType))

  /** One row per MP4/ISO-BMFF clip: container brand, mvhd duration,
    * track count, the first video track's codec + sample/sync-sample
    * census, and — for AVC tracks — profile/level/dims from a REAL
    * Exp-Golomb parse of the SPS inside the avcC decoder record. This is
    * how crawled video actually arrives (MP4, not raw Annex-B); the
    * resolution / duration / keyframe-density gates all run from
    * structure, zero frames decoded. Absent stss means every sample is a
    * sync sample (spec semantics), reported as such.
    */
  def mp4ClipMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    Multimodal.requireFreshColumns(df, "mp4ClipMeta", mp4MetaCols.map(_.name))
    val schema = StructType(df.schema.fields ++ mp4MetaCols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        def errRow(msg: String) = Row.fromSeq(r.toSeq ++
          Seq(null, null, null, null, null, null, null, null, null, null, msg))
        if (r.isNullAt(idx)) errRow("null payload")
        else try {
          val bytes = r.getAs[Array[Byte]](idx)
          var brand: String = null
          var mvhdTs = 0L
          var mvhdDur = 0L
          var trackCount = 0
          var video: Option[TrackTables] = None
          walkBoxes(bytes, 0, bytes.length) {
            case ("ftyp", b, _) => brand = fourcc(bytes, b)
            case ("moov", ms, me) => walkBoxes(bytes, ms, me) {
              case ("mvhd", b, _) =>
                if (bytes(b) == 1) { mvhdTs = be32(bytes, b + 20); mvhdDur = be64(bytes, b + 24) }
                else { mvhdTs = be32(bytes, b + 12); mvhdDur = be32(bytes, b + 16) }
              case ("trak", ts, te) =>
                trackCount += 1
                if (video.isEmpty) video = parseTrack(bytes, ts, te)
              case _ => ()
            }
            case _ => ()
          }
          if (brand == null) errRow("not ISO-BMFF (no ftyp box)")
          else {
            val durS: Any =
              if (mvhdTs > 0) mvhdDur.toDouble / mvhdTs.toDouble else null
            video match {
              case Some(t) =>
                val sync =
                  if (t.hasStss) t.syncs.size else t.sizes.length
                val sps = t.avcC.flatMap { c =>
                  // avcC layout: version, profile, compat, level, 0xFC|len,
                  // 0xE0|numSPS, then (len16, sps bytes)*
                  if (c.length < 8 || (c(5) & 0x1f) < 1) None
                  else {
                    val spsLen = be16(c, 6)
                    if (8 + spsLen > c.length) None
                    else
                      try Some(parseSps(rbspBytes(c, 9, spsLen - 1)))
                      catch { case _: Exception => None }
                  }
                }
                Row.fromSeq(r.toSeq ++ Seq(brand, durS, trackCount, t.codec,
                  sps.map(_.profile).orNull, sps.map(_.level).orNull,
                  sps.map(_.width).orNull, sps.map(_.height).orNull,
                  t.sizes.length, sync, null))
              case None =>
                Row.fromSeq(r.toSeq ++ Seq(brand, durS, trackCount, null,
                  null, null, null, null, null, null, "no video track"))
            }
          }
        } catch { case e: Exception =>
          errRow(s"container parse failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  private val mp4SyncCols = Seq(
    StructField("sample_idx", IntegerType),
    StructField("sample_size", IntegerType),
    StructField("sample_offset", LongType),
    StructField("sample_time_ms", LongType),
    StructField("is_sync", BooleanType),
    StructField("parse_error", StringType))

  /** One row per video sample of an MP4 clip: 1-based index, byte size,
    * FILE-ABSOLUTE byte offset (stsc×stco×stsz walk, ISO 14496-12 §8.7),
    * decode time in milliseconds (stts delta walk ÷ mdhd timescale — null
    * for samples a truncated stts does not cover), and the stss sync
    * flag. `where(is_sync)` is the keyframe table on BOTH axes a video
    * curation pipeline joins on: byte ranges (fetch and decode only
    * keyframes) and the timeline (range-join subtitle cues / ASR spans to
    * covering keyframes — [[graft.ops.Subtitles.parseCues]] ×
    * [[graft.ops.Joins.pointInIntervalBy]]). Offsets and times come from
    * structure; no frame is ever decoded to find them.
    */
  def mp4SyncSamples(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    Multimodal.requireFreshColumns(df, "mp4SyncSamples", mp4SyncCols.map(_.name))
    val schema = StructType(df.schema.fields ++ mp4SyncCols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        def errRow(msg: String) =
          Seq(Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null, msg)))
        if (r.isNullAt(idx)) errRow("null payload")
        else try {
          val bytes = r.getAs[Array[Byte]](idx)
          val (sawMoov, video) = firstVideoTrack(bytes)
          video match {
            // a truncated moov can surface a video track whose sample
            // tables are only partially walked — emitting rows against a
            // missing chunk table would fabricate offsets (all-zero), so
            // incoherent tables degrade instead
            case Some(t) if t.sizes.isEmpty || t.chunkOffsets.isEmpty =>
              errRow("incomplete sample tables")
            case Some(t) =>
              val (offs, covered) = sampleOffsets(t)
              // chunk tables that place FEWER samples than stsz declares
              // (inconsistent or truncated moov) must not fabricate
              // offset-0 rows for the uncovered tail
              if (covered < t.sizes.length) errRow("incomplete sample tables")
              else {
                val times = sampleTimesMs(t)
                t.sizes.indices.map { i =>
                  val num = (i + 1).toLong
                  Row.fromSeq(r.toSeq ++ Seq(i + 1, t.sizes(i).toInt, offs(i),
                    times(i), !t.hasStss || t.syncs.contains(num), null))
                }
              }
            case None =>
              errRow(if (sawMoov) "no video track" else "not ISO-BMFF (no moov box)")
          }
        } catch { case e: Exception =>
          errRow(s"container parse failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  /** Box writer for the synthetic MP4 generators. */
  private final class BoxWriter {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >> 16).toInt); u16(v.toInt) }
    def bytes(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    def str(s: String): Unit = bytes(s.getBytes("US-ASCII"))
    def box(tpe: String)(body: BoxWriter => Unit): Unit = {
      val inner = new BoxWriter
      body(inner)
      val payload = inner.out.toByteArray
      u32(payload.length + 8L); str(tpe); bytes(payload)
    }
  }

  /** Deterministic synthetic MP4: `ftyp` + `mdat` FIRST (so every sample
    * offset is closed-form: mdat payload starts at byte 28 regardless of
    * moov size — the non-faststart layout crawled files commonly have),
    * then `moov` with one AVC video track: avcC carrying the same
    * synthetic SPS as [[syntheticAnnexB]], one chunk, explicit stsz
    * sizes (sz(k) = 50 + (seed + 7k) mod 32), stss marking every
    * `syncPeriod`-th sample, timescale 512 / delta 128 per sample (so
    * duration_s = n/4 exactly, float-oracle-safe).
    */
  val syntheticMp4: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((mbw: Int, mbh: Int, nSamples: Int, syncPeriod: Int, seed: Int) => {
      val sz = Array.tabulate(nSamples)(k => 50 + (seed + 7 * k) % 32)
      val w = new BoxWriter
      w.box("ftyp") { b => b.str("isom"); b.u32(0L); b.str("avc1") } // 20 bytes
      w.box("mdat") { b =>
        var k = 0
        while (k < nSamples) {
          val body = Array.tabulate(sz(k))(j => (0x80 | ((seed + 11 * k + j) & 0x7f)).toByte)
          b.bytes(body); k += 1
        }
      }
      val mdatPayloadOff = 28L // ftyp(20) + mdat header(8)
      w.box("moov") { m =>
        m.box("mvhd") { b =>
          b.u32(0L); b.u32(0L); b.u32(0L) // vf, creation, modification
          b.u32(512L); b.u32(nSamples * 128L) // timescale, duration
          b.u32(0x00010000L); b.u16(0x0100); b.u16(0) // rate, volume, rsv
          b.u32(0L); b.u32(0L)
          Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
            .foreach(b.u32)
          (0 until 6).foreach(_ => b.u32(0L))
          b.u32(2L) // next track id
        }
        m.box("trak") { t =>
          t.box("tkhd") { b =>
            b.u32(7L); b.u32(0L); b.u32(0L); b.u32(1L); b.u32(0L) // vf(flags 7), times, id, rsv
            b.u32(nSamples * 128L); b.u32(0L); b.u32(0L)
            b.u16(0); b.u16(0); b.u16(0); b.u16(0)
            Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
              .foreach(b.u32)
            b.u32((mbw * 16L) << 16); b.u32((mbh * 16L) << 16)
          }
          t.box("mdia") { md =>
            md.box("mdhd") { b =>
              b.u32(0L); b.u32(0L); b.u32(0L)
              b.u32(512L); b.u32(nSamples * 128L)
              b.u16(0x55c4); b.u16(0)
            }
            md.box("hdlr") { b =>
              b.u32(0L); b.u32(0L); b.str("vide")
              b.u32(0L); b.u32(0L); b.u32(0L); b.u8(0)
            }
            md.box("minf") { mi =>
              mi.box("vmhd") { b => b.u32(1L); b.u16(0); b.u16(0); b.u16(0); b.u16(0) }
              mi.box("dinf") { di =>
                di.box("dref") { b =>
                  b.u32(0L); b.u32(1L)
                  b.box("url ") { u => u.u32(1L) }
                }
              }
              mi.box("stbl") { st =>
                st.box("stsd") { b =>
                  b.u32(0L); b.u32(1L)
                  b.box("avc1") { e =>
                    (0 until 6).foreach(_ => e.u8(0)); e.u16(1) // rsv, dref idx
                    (0 until 4).foreach(_ => e.u32(0L)) // predefined/rsv
                    e.u16(mbw * 16); e.u16(mbh * 16)
                    e.u32(0x00480000L); e.u32(0x00480000L); e.u32(0L)
                    e.u16(1) // frame count
                    (0 until 32).foreach(_ => e.u8(0)) // compressor name
                    e.u16(24); e.u16(0xffff)
                    e.box("avcC") { c =>
                      val sps = Array[Byte](0x67) ++ escapeRbsp(syntheticSpsRbsp(mbw, mbh))
                      val pps = Array[Byte](0x68, 0x70, 0x71, 0x72)
                      c.u8(1); c.u8(66); c.u8(0); c.u8(30) // ver, profile, compat, level
                      c.u8(0xff); c.u8(0xe1) // lenSize-1=3, numSPS=1
                      c.u16(sps.length); c.bytes(sps)
                      c.u8(1); c.u16(pps.length); c.bytes(pps)
                    }
                  }
                }
                st.box("stts") { b => b.u32(0L); b.u32(1L); b.u32(nSamples.toLong); b.u32(128L) }
                st.box("stsc") { b => b.u32(0L); b.u32(1L); b.u32(1L); b.u32(nSamples.toLong); b.u32(1L) }
                st.box("stsz") { b =>
                  b.u32(0L); b.u32(0L); b.u32(nSamples.toLong)
                  sz.foreach(s => b.u32(s.toLong))
                }
                st.box("stco") { b => b.u32(0L); b.u32(1L); b.u32(mdatPayloadOff) }
                st.box("stss") { b =>
                  val ks = (0 until nSamples).filter(_ % syncPeriod == 0)
                  b.u32(0L); b.u32(ks.length.toLong)
                  ks.foreach(k => b.u32(k + 1L))
                }
              }
            }
          }
        }
      }
      w.out.toByteArray
    })
}
