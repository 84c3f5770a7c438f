package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** JPEG/EXIF STRUCTURE census — the decode-free image-metadata gate of
  * an image curation pipeline (JPEG ITU-T T.81 marker stream; Exif via
  * the TIFF 6.0 IFD layout). The gates this feeds are real curation
  * decisions: `gps_present` is a PRIVACY drop-signal (geotagged
  * personal photos), orientation feeds the resize stage, SOF dims gate
  * thumbnails/banners without decoding a pixel, and camera make/model
  * is a provenance facet. Same family contract as every structure
  * parser here: narrow per-partition map, one image's bytes in memory,
  * per-image error degradation, truncation stops the walk cleanly.
  */
object ImageMetadata {

  private val cols = Seq(
    StructField("sof_width", IntegerType),
    StructField("sof_height", IntegerType),
    StructField("has_exif", BooleanType),
    StructField("exif_big_endian", BooleanType),
    StructField("exif_orientation", IntegerType),
    StructField("exif_make", StringType),
    StructField("gps_present", BooleanType),
    StructField("parse_error", StringType))

  /** One census row per JPEG: SOF0/1/2 frame dims, Exif presence and
    * byte order, orientation (tag 0x0112), camera make (0x010F, ASCII —
    * inline or offset-stored per TIFF rules), and whether a GPS IFD
    * pointer (0x8825) exists. The marker walk stops at SOS (entropy-coded
    * data follows — scanning it for FF-markers would misfire on stuffed
    * bytes) or at a truncated/malformed marker, keeping what was walked.
    */
  def jpegExifCensus(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    Multimodal.requireFreshColumns(df, "jpegExifCensus", cols.map(_.name))
    val schema = StructType(df.schema.fields ++ cols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        def errRow(msg: String) = Row.fromSeq(r.toSeq ++
          Seq(null, null, null, null, null, null, null, msg))
        if (r.isNullAt(idx)) errRow("null payload")
        else try {
          val b = r.getAs[Array[Byte]](idx)
          if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
            errRow("not a JPEG (no SOI marker)")
          else {
            def u16be(o: Int) = Bytes.be16(b, o)
            var width: Any = null
            var height: Any = null
            var hasExif = false
            var bigEndian: Any = null
            var orientation: Any = null
            var make: Any = null
            var gps = false
            var o = 2
            var done = false
            while (!done && o + 4 <= b.length) {
              if ((b(o) & 0xff) != 0xff) done = true // marker stream broken
              else {
                val marker = b(o + 1) & 0xff
                if (marker == 0xff) o += 1 // fill byte (T.81 B.1.1.2): skip
                else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) ||
                    marker == 0x01) o += 2 // standalone markers, no length
                else if (marker == 0xd9 || marker == 0xda) done = true // EOI/SOS
                else {
                  val len = u16be(o + 2) // includes the 2 length bytes
                  val seg = o + 4
                  val segEnd = o + 2 + len
                  if (len < 2 || segEnd > b.length) done = true // truncated
                  else {
                    if ((marker == 0xc0 || marker == 0xc1 || marker == 0xc2) &&
                        seg + 5 <= segEnd) {
                      height = u16be(seg + 1)
                      width = u16be(seg + 3)
                    } else if (marker == 0xe1 && seg + 6 <= segEnd &&
                        new String(b, seg, 4, "US-ASCII") == "Exif" &&
                        b(seg + 4) == 0 && b(seg + 5) == 0) {
                      // TIFF header at seg+6: byte order, 42, IFD0 offset
                      val t = seg + 6
                      if (t + 8 <= segEnd) {
                        val be = b(t) == 'M' && b(t + 1) == 'M'
                        val le = b(t) == 'I' && b(t + 1) == 'I'
                        if (be || le) {
                          hasExif = true
                          bigEndian = be
                          def u16t(p: Int) =
                            if (be) Bytes.be16(b, p) else Bytes.u16(b, p)
                          def u32t(p: Int): Long =
                            if (be) Bytes.be32(b, p) else Bytes.u32(b, p)
                          // TIFF offsets checked in LONG arithmetic on BOTH
                          // ends: a backward offset would parse header/marker
                          // bytes as an entry table (fabricated metadata
                          // feeding the privacy gate, parse_error null), and
                          // a 0x80000000-style offset wraps .toInt negative,
                          // slipping past a high-end-only check into an
                          // index throw that kills the whole row
                          val ifd0L = t + u32t(t + 4)
                          if (ifd0L >= t + 8 && ifd0L + 2 <= segEnd) {
                            val ifd0 = ifd0L.toInt
                            val n = u16t(ifd0)
                            var i = 0
                            while (i < n && ifd0 + 2 + (i + 1) * 12 <= segEnd) {
                              val e = ifd0 + 2 + i * 12
                              val tag = u16t(e)
                              val tpe = u16t(e + 2)
                              val cnt = u32t(e + 4)
                              tag match {
                                case 0x0112 if tpe == 3 && cnt == 1 =>
                                  // SHORT count 1: value inline; count > 1
                                  // stores an OFFSET at e+8, whose first 16
                                  // bits would fabricate an orientation —
                                  // and the spec range is 1..8
                                  val v = u16t(e + 8)
                                  if (v >= 1 && v <= 8) orientation = v
                                case 0x010f if tpe == 2 && cnt > 0 &&
                                    cnt <= segEnd - t => // ASCII, sane length
                                  // ≤4 bytes live inline; longer values sit
                                  // at a TIFF-relative offset (TIFF 6.0 §2)
                                  val voL: Long =
                                    if (cnt <= 4) (e + 8).toLong
                                    else t + u32t(e + 8)
                                  val vl = cnt.toInt
                                  // offset-stored values can never live in
                                  // the 8-byte TIFF header (same lower bound
                                  // the IFD0 offset check enforces)
                                  if ((cnt <= 4 || voL >= t + 8) &&
                                      voL >= t && voL + vl <= segEnd) {
                                    val vo = voL.toInt
                                    make = new String(b, vo,
                                      // drop the terminating NUL
                                      if (b(vo + vl - 1) == 0) vl - 1 else vl,
                                      "US-ASCII")
                                  }
                                case 0x8825 => gps = true
                                case _ => ()
                              }
                              i += 1
                            }
                          }
                        }
                      }
                    }
                    o = segEnd
                  }
                }
              }
            }
            Row.fromSeq(r.toSeq ++ Seq(width, height, hasExif, bigEndian,
              orientation, make, gps, null))
          }
        } catch { case e: Exception =>
          errRow(s"jpeg scan failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  /** Deterministic JPEG-shaped fixture: SOI + APP1/Exif (byte order from
    * `bigEndian`, IFD0 with orientation, a Make string LONGER than the
    * 4-byte inline slot — so the offset-stored ASCII path is the one
    * exercised — and a GPS IFD pointer when `withGps`) + SOF0 dims + SOS
    * stub + EOI. Every census field is closed-form from the arguments.
    */
  val syntheticExifJpeg: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (w: Int, h: Int, orientation: Int, makeId: Int,
       bigEndian: Boolean, withGps: Boolean) => {
        val out = new java.io.ByteArrayOutputStream()
        def u8(v: Int): Unit = out.write(v & 0xff)
        def u16be(v: Int): Unit = { u8(v >> 8); u8(v) }
        u8(0xff); u8(0xd8) // SOI
        // APP1 Exif
        val tiff = new java.io.ByteArrayOutputStream()
        def t16(v: Int): Unit =
          if (bigEndian) { tiff.write((v >> 8) & 0xff); tiff.write(v & 0xff) }
          else { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff) }
        def t32(v: Long): Unit =
          if (bigEndian) { t16(((v >> 16) & 0xffff).toInt); t16((v & 0xffff).toInt) }
          else { t16((v & 0xffff).toInt); t16(((v >> 16) & 0xffff).toInt) }
        if (bigEndian) { tiff.write('M'); tiff.write('M') }
        else { tiff.write('I'); tiff.write('I') }
        t16(42); t32(8L) // IFD0 at offset 8
        val makeStr = s"Camera$makeId" // 7 chars + NUL = 8 bytes > 4: offset path
        val nEntries = if (withGps) 3 else 2
        val valuesOff = 8 + 2 + nEntries * 12 + 4 // after IFD + next-IFD ptr
        t16(nEntries)
        // 0x010F Make, ASCII, offset-stored
        t16(0x010f); t16(2); t32(makeStr.length + 1L); t32(valuesOff.toLong)
        // 0x0112 Orientation, SHORT, inline (value in the first 2 bytes)
        t16(0x0112); t16(3); t32(1L)
        // an inline SHORT occupies the FIRST two value bytes in the file's
        // byte order — t16 already encodes that, no branch needed
        t16(orientation); t16(0)
        if (withGps) { t16(0x8825); t16(4); t32(1L); t32(valuesOff + 16L) }
        t32(0L) // next IFD: none
        tiff.write(makeStr.getBytes("US-ASCII")); tiff.write(0)
        val tb = tiff.toByteArray
        u8(0xff); u8(0xe1); u16be(2 + 6 + tb.length)
        out.write("Exif".getBytes("US-ASCII")); u8(0); u8(0)
        out.write(tb)
        // SOF0
        u8(0xff); u8(0xc0); u16be(2 + 6)
        u8(8); u16be(h); u16be(w); u8(1)
        // SOS (the walk must STOP here) then fake entropy bytes + EOI
        u8(0xff); u8(0xda); u16be(4); u8(1); u8(0)
        out.write(Array.tabulate(16)(j => (0x80 | j).toByte))
        u8(0xff); u8(0xd9)
        out.toByteArray
      })
}
