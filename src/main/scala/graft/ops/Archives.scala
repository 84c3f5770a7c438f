package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Archive ingest ops: tar (POSIX ustar) and zip member tables with
  * REAL extraction — unlike the video/audio codecs, the JDK carries
  * complete deflate/gzip codecs, so nothing here is stubbed. Code and
  * document datasets arrive as tarballs and zips; the first pipeline
  * pass wants the member census (names, sizes, offsets) and the text
  * of each member, without writing anything to disk. Same family
  * contract as the other structure parsers: narrow per-partition
  * flatMaps, per-archive error degradation, truncation keeps the
  * members already walked.
  */
object Archives {

  private val tarCols = Seq(
    StructField("member_idx", IntegerType),
    StructField("member_name", StringType),
    StructField("member_size", LongType),
    StructField("data_offset", LongType),
    StructField("type_flag", StringType),
    StructField("member_text", StringType),
    StructField("parse_error", StringType))

  /** DEFAULT expansion ceiling for any single inflated member / gunzipped
    * stream. A crafted decompression bomb in a crawled archive would
    * otherwise OOM the executor — and an OOM kills the JVM, which the
    * per-archive degradation contract cannot catch. Beyond the cap the
    * member (or the whole gz stream) degrades to an error row instead.
    * Every public entry point takes a `maxInflatedBytes` override, so a
    * deployment with genuinely large members (code-dataset dumps on
    * big-memory executors) buys the recall back explicitly instead of
    * losing it to a hard constant.
    */
  val MaxInflatedBytes: Long = 256L << 20

  /** zstd sibling of [[gunzipIfNeeded]] (magic 28 B5 2F FD — the format
    * newer corpus dumps ship in; zstd-jni rides Spark's own classpath).
    * Same deterministic native-memory discipline: a ZstdInputStream owns
    * a NATIVE decompression context that only close() frees eagerly, so
    * it sits in a finally — the gunzip leak class, §19.1.
    */
  private[ops] def zunstdIfNeeded(
      bytes: Array[Byte], maxBytes: Long = MaxInflatedBytes): Array[Byte] =
    if (bytes.length >= 4 && bytes(0) == 0x28.toByte && bytes(1) == 0xb5.toByte &&
        bytes(2) == 0x2f.toByte && bytes(3) == 0xfd.toByte) {
      val in = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) {
          out.write(buf, 0, n)
          if (out.size() > maxBytes)
            throw new java.io.IOException(
              s"zstd stream exceeds $maxBytes inflated bytes (decompression bomb?)")
          n = in.read(buf)
        }
        out.toByteArray
      } finally in.close()
    } else bytes

  /** Magic-dispatched decompression: gzip members, a zstd frame, or
    * passthrough — the one entry ingest walks use so `.gz` and `.zst`
    * payloads parse identically.
    */
  private[ops] def inflateIfCompressed(
      bytes: Array[Byte], maxBytes: Long = MaxInflatedBytes): Array[Byte] =
    if (bytes.length >= 2 && bytes(0) == 0x1f.toByte && bytes(1) == 0x8b.toByte)
      gunzipIfNeeded(bytes, maxBytes)
    else zunstdIfNeeded(bytes, maxBytes)

  /** End offset of the gzip member header starting at `o` (RFC 1952:
    * 10 fixed bytes, then FEXTRA/FNAME/FCOMMENT/FHCRC per FLG), or -1
    * when the header is corrupt/truncated.
    */
  private def gzipHeaderEnd(bytes: Array[Byte], o: Int): Int = {
    if (o + 10 > bytes.length) return -1
    if (bytes(o) != 0x1f.toByte || bytes(o + 1) != 0x8b.toByte) return -1
    if (bytes(o + 2) != 8) return -1 // CM must be deflate
    val flg = bytes(o + 3) & 0xff
    if ((flg & 0xe0) != 0) return -1 // reserved bits
    var p = o + 10
    if ((flg & 4) != 0) { // FEXTRA
      if (p + 2 > bytes.length) return -1
      p += 2 + ((bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8))
      if (p > bytes.length) return -1
    }
    if ((flg & 8) != 0) { // FNAME, NUL-terminated
      while (p < bytes.length && bytes(p) != 0) p += 1
      if (p >= bytes.length) return -1
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT
      while (p < bytes.length && bytes(p) != 0) p += 1
      if (p >= bytes.length) return -1
      p += 1
    }
    if ((flg & 2) != 0) p += 2 // FHCRC (value not verified; CRC32 of data is)
    if (p > bytes.length) -1 else p
  }

  /** Multi-member gunzip over an in-memory buffer — the ingest-side
    * inflate kernel (Common Crawl concatenates one gzip member per WARC
    * record). Hand-rolled on a directly-managed `Inflater` rather than
    * `GZIPInputStream` because the NATIVE zlib state must be freed
    * DETERMINISTICALLY: each inflater holds tens of KB outside the JVM
    * heap that only `end()` releases eagerly, and leaving even the
    * exception paths to GC leaked ~80 GB across 5M records at sf100 —
    * the JVM was OOM-killed at 129 GB RSS with a 48 GB heap, because
    * heap GC (the only other route to finalization) never ran while the
    * heap stayed comfortable. `GZIPInputStream` can also throw from its
    * CONSTRUCTOR on a corrupt header after a valid magic, leaking the
    * inflater it already allocated (JDK-internal, unreachable) — here
    * the header is validated before any native allocation, and `end()`
    * sits in a finally around every inflate path. Member CRC32 and
    * ISIZE trailers are verified like the JDK does.
    */
  private[ops] def gunzipIfNeeded(
      bytes: Array[Byte], maxBytes: Long = MaxInflatedBytes): Array[Byte] =
    if (bytes.length >= 2 && bytes(0) == 0x1f.toByte && bytes(1) == 0x8b.toByte) {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var off = 0
      while (off + 2 <= bytes.length &&
          bytes(off) == 0x1f.toByte && bytes(off + 1) == 0x8b.toByte) {
        val dataAt = gzipHeaderEnd(bytes, off)
        if (dataAt < 0) throw new java.io.IOException("corrupt gzip header")
        val inf = new java.util.zip.Inflater(true)
        val crc = new java.util.zip.CRC32()
        var memberLen = 0L
        try {
          inf.setInput(bytes, dataAt, bytes.length - dataAt)
          while (!inf.finished()) {
            val n = inf.inflate(buf)
            if (n > 0) {
              out.write(buf, 0, n)
              crc.update(buf, 0, n)
              memberLen += n
              if (out.size() > maxBytes)
                throw new java.io.IOException(
                  s"gzip stream exceeds $maxBytes inflated bytes (decompression bomb?)")
            } else if (!inf.finished() &&
                (inf.needsInput() || inf.needsDictionary()))
              throw new java.io.EOFException("truncated deflate stream")
          }
          off = bytes.length - inf.getRemaining
        } catch {
          case e: java.util.zip.DataFormatException =>
            throw new java.io.IOException(s"corrupt deflate stream: ${e.getMessage}")
        } finally inf.end()
        // member trailer: CRC32 + ISIZE (mod 2^32), little-endian
        if (off + 8 > bytes.length)
          throw new java.io.EOFException("truncated gzip trailer")
        def le32(p: Int): Long = Bytes.u32(bytes, p)
        if (le32(off) != crc.getValue)
          throw new java.io.IOException("gzip CRC mismatch")
        if (le32(off + 4) != (memberLen & 0xffffffffL))
          throw new java.io.IOException("gzip ISIZE mismatch")
        off += 8
      }
      out.toByteArray
    } else bytes

  /** One row per tar member: name, size, file-absolute DATA offset
    * (after gunzip for `.tar.gz` payloads — offsets address the
    * inflated stream), type flag ("0" regular, "5" directory, …) and
    * the member bytes decoded as UTF-8 text (null for non-regular
    * members). ustar layout: 512-byte headers, octal size field,
    * data padded to block boundary, two zero blocks at the end.
    */
  def tarMembers(df: DataFrame, payloadCol: String = "payload",
      maxInflatedBytes: Long = MaxInflatedBytes): DataFrame =
    tarWalk(df, payloadCol, emitBytes = false, maxInflatedBytes)

  /** [[tarMembers]] with the member payload as RAW BYTES (`member_bytes`,
    * binary) instead of decoded text — the composition seam for nested
    * archives: a tar (or tar.gz) of zips/parquet/image blobs walks here
    * and each member's bytes feed the next parser ([[zipMembers]], the
    * multimodal decoders) as its own payload column. This is the real
    * shape of code-dataset and scrape dumps (tar.gz of per-repo zips).
    */
  def tarMemberBytes(df: DataFrame, payloadCol: String = "payload",
      maxInflatedBytes: Long = MaxInflatedBytes): DataFrame =
    tarWalk(df, payloadCol, emitBytes = true, maxInflatedBytes)

  private def tarWalk(df: DataFrame, payloadCol: String,
      emitBytes: Boolean, maxInflatedBytes: Long): DataFrame = {
    val cols =
      if (emitBytes) tarCols.map(f =>
        if (f.name == "member_text") StructField("member_bytes", BinaryType) else f)
      else tarCols
    val opName = if (emitBytes) "tarMemberBytes" else "tarMembers"
    Multimodal.requireFreshColumns(df, opName, cols.map(_.name))
    val schema = StructType(df.schema.fields ++ cols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val errRow = (msg: String) =>
          Seq(Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null, null, msg)))
        if (r.isNullAt(idx)) errRow("null payload")
        else try {
          val bytes = inflateIfCompressed(r.getAs[Array[Byte]](idx), maxInflatedBytes)
          def cstr(o: Int, len: Int): String = {
            var e = o
            while (e < o + len && e < bytes.length && bytes(e) != 0) e += 1
            new String(bytes, o, e - o, "UTF-8")
          }
          val recs = scala.collection.mutable.ArrayBuffer.empty[Row]
          var o = 0
          var i = 0
          var done = false
          var tailErr: String = null
          while (!done && o + 512 <= bytes.length) {
            if (bytes(o) == 0) done = true // end-of-archive zero block
            else {
              val name = cstr(o, 100)
              val sizeStr = cstr(o + 124, 12).trim
              val magic = cstr(o + 257, 6)
              if (!magic.startsWith("ustar")) {
                tailErr =
                  if (i == 0) "not a tar stream (bad magic)" else "malformed header"
                done = true
              } else {
                val size =
                  try java.lang.Long.parseLong(sizeStr, 8)
                  catch { case _: NumberFormatException => -1L }
                val tpe = {
                  val b = bytes(o + 156)
                  if (b == 0) "0" else String.valueOf(b.toChar)
                }
                if (size < 0 || o + 512 + size > bytes.length) {
                  tailErr = "truncated member"
                  done = true
                } else {
                  val payload: Any =
                    if (tpe != "0") null
                    else if (emitBytes)
                      java.util.Arrays.copyOfRange(bytes, o + 512, o + 512 + size.toInt)
                    else new String(bytes, o + 512, size.toInt, "UTF-8")
                  recs += Row.fromSeq(r.toSeq ++
                    Seq(i, name, size, (o + 512).toLong, tpe, payload, null))
                  i += 1
                  o += 512 + ((size + 511) / 512 * 512).toInt
                }
              }
            }
          }
          if (recs.isEmpty) errRow(
            if (tailErr != null) tailErr
            else if (bytes.length < 512) "not a tar stream (shorter than one header block)"
            else "empty archive")
          else {
            if (tailErr != null)
              recs += Row.fromSeq(r.toSeq ++
                Seq(i, null, null, null, null, null, tailErr))
            recs.toSeq
          }
        } catch { case e: Exception =>
          errRow(s"archive parse failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  private val zipCols = Seq(
    StructField("member_idx", IntegerType),
    StructField("member_name", StringType),
    StructField("method", IntegerType),
    StructField("compressed_size", LongType),
    StructField("uncompressed_size", LongType),
    StructField("member_text", StringType),
    StructField("parse_error", StringType))

  import Bytes.{u16 => le16, u32 => le32}

  /** One row per zip member, walked from the central directory (the
    * authoritative index — streaming local headers misses data
    * descriptors): name, method (0 stored / 8 deflate), sizes, and the
    * member INFLATED to UTF-8 text via the JDK's raw-deflate
    * `Inflater` — real extraction, no temp files. A member that fails
    * to inflate degrades to its own error row; siblings survive.
    */
  def zipMembers(df: DataFrame, payloadCol: String = "payload",
      maxInflatedBytes: Long = MaxInflatedBytes): DataFrame = {
    Multimodal.requireFreshColumns(df, "zipMembers", zipCols.map(_.name))
    val schema = StructType(df.schema.fields ++ zipCols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val errRow = (msg: String) =>
          Seq(Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null, null, msg)))
        if (r.isNullAt(idx)) errRow("null payload")
        else try {
          val bytes = r.getAs[Array[Byte]](idx)
          // EOCD: scan back for PK\5\6 (comment can follow, ≤64 KiB)
          var eocd = -1
          var p = bytes.length - 22
          while (eocd < 0 && p >= 0 && bytes.length - p <= 22 + 65535) {
            if (bytes(p) == 'P' && bytes(p + 1) == 'K' &&
              bytes(p + 2) == 5 && bytes(p + 3) == 6) eocd = p
            p -= 1
          }
          if (eocd < 0) errRow("not a zip archive (no end-of-central-directory)")
          else {
            val count = le16(bytes, eocd + 10)
            var o = le32(bytes, eocd + 16).toInt // central directory offset
            val recs = scala.collection.mutable.ArrayBuffer.empty[Row]
            var i = 0
            var broken = false
            while (i < count && !broken) {
              // a corrupt central entry stops the WALK, not the archive:
              // members already parsed stay, a tail-error row reports the
              // break (the tarMembers contract). o < 0 guards the zip64
              // cd-offset sentinel 0xFFFFFFFF (and any >= 2^31 offset)
              // wrapping negative through .toInt
              if (o < 0 || o + 46 > bytes.length || le32(bytes, o) != 0x02014b50L) {
                recs += Row.fromSeq(r.toSeq ++ Seq(i, null, null, null, null,
                  null, "malformed central directory entry"))
                broken = true
              } else {
                val method = le16(bytes, o + 10)
                val csize = le32(bytes, o + 20)
                val usize = le32(bytes, o + 24)
                val nameLen = le16(bytes, o + 28)
                val extraLen = le16(bytes, o + 30)
                val commentLen = le16(bytes, o + 32)
                val lho = le32(bytes, o + 42).toInt
                if (o + 46 + nameLen > bytes.length) {
                  recs += Row.fromSeq(r.toSeq ++ Seq(i, null, null, null, null,
                    null, "malformed central directory entry"))
                  broken = true
                } else {
                  val name = new String(bytes, o + 46, nameLen, "UTF-8")
                  val row: Row =
                    if (usize > math.min(maxInflatedBytes, Int.MaxValue.toLong))
                      // ALSO capped at the JVM array limit: a raised
                      // maxInflatedBytes cannot buy members > 2 GiB (the
                      // byte array cannot exist) — report it here instead
                      // of a NegativeArraySizeException from usize.toInt
                      // declared usize sizes the allocation below — cap it
                      // BEFORE allocating or a bomb's 4 GiB claim OOMs the JVM
                      Row.fromSeq(r.toSeq ++ Seq(i, name, method, csize, usize,
                        null, s"member too large ($usize > $maxInflatedBytes inflated bytes)"))
                    else try {
                      // local header: skip its own (possibly different) name/extra
                      val dataOff = lho + 30 + le16(bytes, lho + 26) + le16(bytes, lho + 28)
                      val text =
                        if (name.endsWith("/")) null // directory entry
                        else if (method == 0)
                          new String(bytes, dataOff, usize.toInt, "UTF-8")
                        else if (method == 8) {
                          val inf = new java.util.zip.Inflater(true)
                          // end() in a finally: inflate() throws
                          // DataFormatException on corrupt members, and the
                          // native zlib state must not leak per bad row
                          try {
                            inf.setInput(bytes, dataOff, csize.toInt)
                            val out = new Array[Byte](usize.toInt)
                            var done = 0
                            var stalled = false
                            // inflate() returns 0 WITHOUT an exception when the
                            // input is exhausted mid-stream (truncated or
                            // csize-corrupt data) — detect the stall or this
                            // loop never terminates
                            while (done < usize && !inf.finished() && !stalled) {
                              val got = inf.inflate(out, done, usize.toInt - done)
                              if (got == 0 && (inf.needsInput() || inf.needsDictionary()))
                                stalled = true
                              else done += got
                            }
                            if (stalled)
                              throw new java.util.zip.DataFormatException(
                                "truncated deflate stream")
                            // a stream with MORE data than the declared
                            // usize is a corrupt/crafted index: emitting
                            // the first usize bytes would be silently
                            // truncated text with parse_error null
                            if (!inf.finished() &&
                                inf.inflate(new Array[Byte](1)) > 0)
                              throw new java.util.zip.DataFormatException(
                                "member inflates beyond declared size")
                            val crc = new java.util.zip.CRC32
                            crc.update(out, 0, done)
                            if (crc.getValue != le32(bytes, o + 16))
                              throw new java.util.zip.DataFormatException(
                                "member CRC mismatch")
                            new String(out, 0, done, "UTF-8")
                          } finally inf.end()
                        } else null // unsupported method: census row, no text
                      Row.fromSeq(r.toSeq ++
                        Seq(i, name, method, csize, usize, text, null))
                    } catch { case e: Exception =>
                      Row.fromSeq(r.toSeq ++ Seq(i, name, method, csize, usize,
                        null, s"member extract failed: ${e.getClass.getSimpleName}"))
                    }
                  recs += row
                  o += 46 + nameLen + extraLen + commentLen
                  i += 1
                }
              }
            }
            if (recs.isEmpty) errRow("empty archive") else recs.toSeq
          }
        } catch { case e: Exception =>
          errRow(s"archive parse failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  /** Deterministic synthetic tarball: `nMembers` regular files
    * `dir/file<k>.txt`, content = the first `20 + (seed+7k) mod 40`
    * chars of a repeated pangram (closed-form for the oracle), proper
    * ustar headers with checksums, two zero end blocks; `gzipped`
    * wraps the stream (the `.tar.gz` path — member offsets address the
    * inflated stream, so one oracle covers both).
    */
  /** One ustar entry (512-byte header with checksum + padded data) — the
    * layout kernel [[syntheticTar]] and [[syntheticTarOfZips]] share. */
  private def tarAppendEntry(out: java.io.ByteArrayOutputStream,
      name: String, content: Array[Byte]): Unit = {
    val hdr = new Array[Byte](512)
    def put(o: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII")
      System.arraycopy(b, 0, hdr, o, b.length)
    }
    put(0, name)
    put(100, "0000644"); put(108, "0000000"); put(116, "0000000")
    put(124, f"${content.length}%011o"); put(136, "00000000000")
    hdr(156) = '0'
    put(257, "ustar"); hdr(263) = '0'; hdr(264) = '0'
    java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
    var sum = 0
    var j = 0
    while (j < 512) { sum += hdr(j) & 0xff; j += 1 }
    put(148, f"$sum%06o"); hdr(154) = 0; hdr(155) = ' '
    out.write(hdr)
    out.write(content)
    val pad = (512 - content.length % 512) % 512
    out.write(new Array[Byte](pad))
  }

  private[ops] def gzipWrap(raw: Array[Byte], gzipped: Boolean): Array[Byte] =
    if (!gzipped) raw
    else {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(raw); gz.close()
      bos.toByteArray
    }

  private[ops] def zstdWrap(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(bos)
    try z.write(raw) finally z.close()
    bos.toByteArray
  }

  private def tarBytes(nMembers: Int, seed: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val pangram = "the quick brown fox jumps over the lazy dog "
    var k = 0
    while (k < nMembers) {
      val len = 20 + Math.floorMod(seed + 7 * k, 40)
      tarAppendEntry(out, s"dir/file$k.txt",
        (pangram * 2).substring(0, len).getBytes("UTF-8"))
      k += 1
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  val syntheticTar: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((nMembers: Int, seed: Int, gzipped: Boolean) =>
      gzipWrap(tarBytes(nMembers, seed), gzipped))

  /** [[syntheticTar]] compressed with zstd — the `.tar.zst` shape newer
    * corpus dumps ship in.
    */
  val syntheticTarZstd: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((nMembers: Int, seed: Int) => zstdWrap(tarBytes(nMembers, seed)))

  /** STORED-member zip bytes with caller-chosen member lengths — the
    * closed-form kernel behind [[syntheticZip]] and
    * [[syntheticTarOfZips]]. */
  private def storedZipBytes(nMembers: Int, lenOf: Int => Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    val pangram = "the quick brown fox jumps over the lazy dog "
    var k = 0
    while (k < nMembers) {
      val content = (pangram * 2).substring(0, lenOf(k)).getBytes("UTF-8")
      val e = new java.util.zip.ZipEntry(s"dir/file$k.zip.txt")
      e.setMethod(java.util.zip.ZipEntry.STORED)
      e.setSize(content.length.toLong)
      e.setCompressedSize(content.length.toLong)
      val crc = new java.util.zip.CRC32()
      crc.update(content)
      e.setCrc(crc.getValue)
      z.putNextEntry(e)
      z.write(content)
      z.closeEntry()
      k += 1
    }
    z.close()
    bos.toByteArray
  }

  /** Deterministic NESTED archive: a tar (optionally gzipped) whose
    * members are STORED zips — `zips/part<z>.zip`, zip z carrying
    * `membersPerZip` members of length `20 + (seed + 5z + 7k) mod 40`.
    * Every size on both nesting levels is closed-form, so the composed
    * [[tarMemberBytes]] → [[zipMembers]] chain is fully oracle-checkable.
    */
  val syntheticTarOfZips: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((nZips: Int, membersPerZip: Int, seed: Int, gzipped: Boolean) => {
      val out = new java.io.ByteArrayOutputStream()
      var z = 0
      while (z < nZips) {
        val zi = z
        tarAppendEntry(out, s"zips/part$z.zip",
          storedZipBytes(membersPerZip, k => 20 + Math.floorMod(seed + 5 * zi + 7 * k, 40)))
        z += 1
      }
      out.write(new Array[Byte](1024))
      gzipWrap(out.toByteArray, gzipped)
    })

  /** Deterministic synthetic zip: same member naming/content scheme as
    * [[syntheticTar]], STORED method (compressed == uncompressed ==
    * closed-form length; the DEFLATE extraction path is spec-tested
    * with a JDK-written archive instead, because deflate output sizes
    * are not closed-form).
    */
  val syntheticZip: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((nMembers: Int, seed: Int) =>
      storedZipBytes(nMembers, k => 20 + Math.floorMod(seed + 7 * k, 40)))
}
