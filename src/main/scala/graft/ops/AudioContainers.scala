package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Ogg (Opus/Vorbis) and FLAC STRUCTURE census — the decode-free audio
  * gate next to the MP3 frame census and the RIFF/WAVE envelope: a
  * crawled-audio curation pass needs sample rate / channels / duration
  * before it decides to decode anything, and the web's non-MP3 audio is
  * overwhelmingly Ogg-Opus, Ogg-Vorbis and FLAC.
  *
  * All structure here is the formats' own algorithmic framing — RFC
  * 3533 Ogg pages (capture pattern, little-endian header, segment
  * lacing), RFC 7845 OpusHead, the Vorbis I identification header, and
  * the FLAC metadata-block chain with the fixed-layout STREAMINFO — no
  * number tables, nothing for the table policy to refuse. Truncation
  * keeps what was walked; non-audio payloads degrade per clip with a
  * named error.
  *
  * Reference scope note: SDM-RDFizer has no media handling; beyond-
  * parity multimodal surface (COVERAGE.md).
  */
object AudioContainers {

  import Bytes.{u16 => u16le, u32 => u32le, u64 => u64le, bits => ubits}

  private[ops] final case class AudioMeta(container: String, codec: String,
      sampleRate: Long, channels: Int, bitsPerSample: Int,
      totalSamples: Long, pageCount: Int, lastGranule: Long,
      durationS: Double, metaBlocks: Int)

  /** FLAC: "fLaC" + metadata-block chain; STREAMINFO (type 0, 34 bytes)
    * is mandatory first. Truncation KEEPS what was walked once the
    * STREAMINFO is in hand (real truncation lands mid-block, not on a
    * boundary); total_samples = 0 is the spec's UNKNOWN sentinel (a
    * streaming encoder that could not seek back), reported as null
    * duration — NOT a zero-length file. */
  private def parseFlac(b: Array[Byte]): Either[String, AudioMeta] = {
    var o = 4
    var blocks = 0
    var rate = -1L
    var ch = -1
    var bps = -1
    var total = -1L
    var last = false
    var truncated = false
    while (!last && !truncated && o + 4 <= b.length) {
      val hdr = b(o) & 0xff
      val tpe = hdr & 0x7f
      val len = ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
      if (o + 4 + len > b.length) {
        // mid-block cut: keep the already-walked census (contract), but
        // a cut BEFORE STREAMINFO completes is a hard error below
        truncated = true
      } else {
        last = (hdr & 0x80) != 0
        if (tpe == 0) {
          if (len < 34) return Left("short STREAMINFO")
          val base = (o + 4 + 10) * 8 // skip blocksize/framesize fields
          rate = ubits(b, base, 20)
          ch = ubits(b, base + 20, 3).toInt + 1
          bps = ubits(b, base + 23, 5).toInt + 1
          total = ubits(b, base + 28, 36)
        }
        blocks += 1
        o += 4 + len
      }
    }
    if (rate <= 0)
      Left(if (truncated) "truncated FLAC metadata block" else "no STREAMINFO")
    else {
      val unknownTotal = total == 0L
      Right(AudioMeta("flac", "flac", rate, ch, bps,
        if (unknownTotal) -1L else total, 0, 0L,
        if (unknownTotal) Double.NaN else total.toDouble / rate, blocks))
    }
  }

  /** Ogg: walk the pages (RFC 3533), identify the codec from the first
    * packet (RFC 7845 OpusHead / Vorbis I header), duration from the
    * final granule position OF THE IDENTIFIED LOGICAL STREAM (pages are
    * serial-filtered, so a multiplexed video stream's frame-counter
    * granule cannot masquerade as audio ticks; Opus: 48 kHz ticks minus
    * pre-skip; Vorbis: sample ticks at the declared rate). A GROUPED
    * (multiplexed) file — all BOS pages consecutive at the start, RFC
    * 3533 §4 — walks past the other streams' BOS pages and censuses the
    * first stream that sniffs as audio; a CHAINED file (a BOS page
    * after the BOS region — concatenated streams) stops the walk: the
    * census covers the FIRST chain, stated not silent. Truncation
    * mid-page keeps what was walked once the codec is identified. */
  private def parseOgg(b: Array[Byte]): Either[String, AudioMeta] = {
    var o = 0
    var pages = 0
    var codec: String = null
    var rate = -1L
    var ch = -1
    var preSkip = 0
    var granule = 0L
    var serial = 0L
    var inBosRegion = true
    var stop = false
    while (!stop && o + 27 <= b.length && b(o) == 'O' && b(o + 1) == 'g' &&
        b(o + 2) == 'g' && b(o + 3) == 'S') {
      val nSeg = b(o + 26) & 0xff
      if (o + 27 + nSeg > b.length) {
        if (codec != null) { stop = true } // keep what was walked
        else return Left("truncated Ogg page header")
      } else {
      var bodyLen = 0
      var i = 0
      while (i < nSeg) { bodyLen += b(o + 27 + i) & 0xff; i += 1 }
      val body = o + 27 + nSeg
      if (body + bodyLen > b.length) {
        if (codec != null) { stop = true } // keep what was walked
        else return Left("truncated Ogg page body")
      } else {
      val pageSerial = u32le(b, o + 14)
      val isBos = (b(o + 5) & 0x02) != 0
      if (isBos && !inBosRegion) {
        // chained stream: a BOS page AFTER the initial BOS region means a
        // NEW logical stream begins (RFC 3533 §4) — census the first
        // chain only (its granule timebase is the declared one). A
        // GROUPED (multiplexed) file is different: all its BOS pages are
        // consecutive at the start, and the region loop below walks past
        // the other streams' BOS pages instead of stopping at them.
        stop = true
      } else {
      if (!isBos) inBosRegion = false
      val g = u64le(b, o + 6)
      if (codec != null && g != -1L && pageSerial == serial) granule = g
      if (isBos && codec == null && bodyLen >= 8) {
        serial = pageSerial
        if (new String(b, body, 8, java.nio.charset.StandardCharsets.ISO_8859_1)
            == "OpusHead" && bodyLen >= 19) {
          codec = "opus"
          ch = b(body + 9) & 0xff
          preSkip = u16le(b, body + 10)
          rate = 48000L // Opus always times granules at 48 kHz
        } else if (bodyLen >= 30 && (b(body) & 0xff) == 1 &&
            new String(b, body + 1, 6,
              java.nio.charset.StandardCharsets.ISO_8859_1) == "vorbis") {
          codec = "vorbis"
          ch = b(body + 11) & 0xff
          rate = u32le(b, body + 12)
        }
      }
      pages += 1
      o = body + bodyLen
      }}}
    }
    if (pages == 0) Left("not an Ogg stream")
    else if (codec == null) Left("unrecognized Ogg codec (first packet)")
    else if (rate <= 0) Left("bad declared sample rate")
    else {
      val ticks = math.max(0L, granule - (if (codec == "opus") preSkip else 0))
      Right(AudioMeta("ogg", codec, rate, ch, -1, ticks, pages, granule,
        ticks.toDouble / rate, 0))
    }
  }

  private val cols = Seq(
    StructField("container", StringType),
    StructField("codec", StringType),
    StructField("sample_rate", LongType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("total_samples", LongType),
    StructField("page_count", IntegerType),
    StructField("meta_blocks", IntegerType),
    StructField("duration_s", DoubleType),
    StructField("parse_error", StringType))

  /** One census row per clip, dispatched on the magic ("fLaC" / "OggS").
    * Narrow map, per-clip degradation, no decode.
    */
  def audioContainerMeta(df: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    Multimodal.requireFreshColumns(df, "audioContainerMeta", cols.map(_.name))
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
          val parsed =
            if (b.length >= 8 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' &&
              b(3) == 'C') parseFlac(b)
            else if (b.length >= 27 && b(0) == 'O' && b(1) == 'g' &&
              b(2) == 'g' && b(3) == 'S') parseOgg(b)
            else Left("not FLAC or Ogg (magic)")
          parsed match {
            case Left(msg) => errRow(msg)
            case Right(m) => Row.fromSeq(r.toSeq ++ Seq(m.container, m.codec,
              m.sampleRate, if (m.channels < 0) null else m.channels,
              if (m.bitsPerSample < 0) null else m.bitsPerSample,
              if (m.totalSamples < 0) null else m.totalSamples,
              if (m.container == "ogg") m.pageCount else null,
              if (m.container == "flac") m.metaBlocks else null,
              if (m.durationS.isNaN) null else m.durationS, null))
          }
        } catch { case e: Exception =>
          errRow(s"census failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  // ---- synthetic fixtures ----

  /** Deterministic FLAC header chain: STREAMINFO (+ a VORBIS_COMMENT and
    * a PADDING block) followed by opaque frame bytes. */
  val syntheticFlac: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (rate: Int, channels: Int, bps: Int, totalSamples: Long) => {
        val bos = new java.io.ByteArrayOutputStream()
        bos.write('f'); bos.write('L'); bos.write('a'); bos.write('C')
        // STREAMINFO
        val si = new Array[Byte](34)
        si(0) = 0x10; si(1) = 0x00 // min blocksize 4096
        si(2) = 0x10; si(3) = 0x00 // max blocksize
        // min/max framesize: 0 (unknown)
        var acc = 0L
        acc = (rate.toLong << 44) | ((channels - 1).toLong << 41) |
          ((bps - 1).toLong << 36) | (totalSamples & ((1L << 36) - 1))
        var i = 0
        while (i < 8) { si(10 + i) = ((acc >> (8 * (7 - i))) & 0xff).toByte; i += 1 }
        bos.write(0x00); bos.write(0); bos.write(0); bos.write(34)
        bos.write(si, 0, 34)
        // VORBIS_COMMENT (type 4), minimal payload
        val vc = "graft".getBytes("ISO-8859-1")
        bos.write(0x04); bos.write(0); bos.write(0); bos.write(vc.length)
        bos.write(vc, 0, vc.length)
        // PADDING (type 1), last-flag set
        bos.write(0x81); bos.write(0); bos.write(0); bos.write(4)
        bos.write(Array[Byte](0, 0, 0, 0), 0, 4)
        // opaque frame bytes
        bos.write(Array.tabulate(16)(j => (0xF8 + j % 4).toByte), 0, 16)
        bos.toByteArray
      }).asNondeterministic()
      // ^ optimizer pin, NOT real nondeterminism — the generator is a pure
      // function of its args (values stable; pinned by OptimizationR19Spec).
      // Declared nondeterministic so filter pushdown cannot duplicate the
      // heavy payload expression into every sniffer reference (guide section 4.4).
      // Cost: the payload column is rejected wherever nondeterministic
      // expressions are disallowed (join/group/sort keys) — callers key on
      // doc_id, never on payload bytes.

  private def oggPage(serial: Long, seq: Long, granule: Long,
      headerType: Int, packet: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write('O'); bos.write('g'); bos.write('g'); bos.write('S')
    bos.write(0) // version
    bos.write(headerType)
    var i = 0
    while (i < 8) { bos.write(((granule >> (8 * i)) & 0xff).toInt); i += 1 }
    i = 0
    while (i < 4) { bos.write(((serial >> (8 * i)) & 0xff).toInt); i += 1 }
    i = 0
    while (i < 4) { bos.write(((seq >> (8 * i)) & 0xff).toInt); i += 1 }
    bos.write(Array[Byte](0, 0, 0, 0), 0, 4) // crc (not validated)
    // lacing: 255-run + remainder
    val full = packet.length / 255
    bos.write(full + 1)
    i = 0
    while (i < full) { bos.write(255); i += 1 }
    bos.write(packet.length % 255)
    bos.write(packet, 0, packet.length)
    bos.toByteArray
  }

  /** Deterministic Ogg-Opus stream: OpusHead page + `nPages` audio pages,
    * final granule = `samples48k + preSkip`. */
  val syntheticOggOpus: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (channels: Int, preSkip: Int, nPages: Int, samples48k: Long) => {
        val bos = new java.io.ByteArrayOutputStream()
        val head = new java.io.ByteArrayOutputStream()
        head.write("OpusHead".getBytes("ISO-8859-1"), 0, 8)
        head.write(1) // version
        head.write(channels)
        head.write(preSkip & 0xff); head.write((preSkip >> 8) & 0xff)
        head.write(Array[Byte](0x80.toByte, 0xBB.toByte, 0, 0), 0, 4) // 48000 input rate
        head.write(0); head.write(0) // output gain
        head.write(0) // channel mapping family
        val headPage = oggPage(7L, 0L, 0L, 0x02, head.toByteArray)
        bos.write(headPage, 0, headPage.length)
        var p = 0
        while (p < nPages) {
          val gran = if (p == nPages - 1) preSkip + samples48k
            else preSkip + (p + 1) * (samples48k / nPages)
          val body = Array.tabulate(20 + p)(j => (p * 3 + j).toByte)
          val page = oggPage(7L, p + 1L, gran, if (p == nPages - 1) 0x04 else 0x00, body)
          bos.write(page, 0, page.length)
          p += 1
        }
        bos.toByteArray
      }).asNondeterministic()
      // ^ optimizer pin, NOT real nondeterminism — the generator is a pure
      // function of its args (values stable; pinned by OptimizationR19Spec).
      // Declared nondeterministic so filter pushdown cannot duplicate the
      // heavy payload expression into every sniffer reference (guide section 4.4).
      // Cost: the payload column is rejected wherever nondeterministic
      // expressions are disallowed (join/group/sort keys) — callers key on
      // doc_id, never on payload bytes.

  /** Deterministic Ogg-Vorbis stream: identification header page +
    * `nPages` audio pages, final granule = `samples`. */
  val syntheticOggVorbis: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (channels: Int, rate: Int, nPages: Int, samples: Long) => {
        val bos = new java.io.ByteArrayOutputStream()
        val head = new java.io.ByteArrayOutputStream()
        head.write(1)
        head.write("vorbis".getBytes("ISO-8859-1"), 0, 6)
        head.write(Array[Byte](0, 0, 0, 0), 0, 4) // version 0
        head.write(channels)
        var i = 0
        while (i < 4) { head.write((rate >> (8 * i)) & 0xff); i += 1 }
        head.write(new Array[Byte](12), 0, 12) // bitrate fields
        head.write(0xB8) // blocksizes
        head.write(1) // framing
        val headPage = oggPage(9L, 0L, 0L, 0x02, head.toByteArray)
        bos.write(headPage, 0, headPage.length)
        var p = 0
        while (p < nPages) {
          val gran = if (p == nPages - 1) samples else (p + 1) * (samples / nPages)
          val body = Array.tabulate(24 + p)(j => (p * 5 + j).toByte)
          val page = oggPage(9L, p + 1L, gran, if (p == nPages - 1) 0x04 else 0x00, body)
          bos.write(page, 0, page.length)
          p += 1
        }
        bos.toByteArray
      })
}
