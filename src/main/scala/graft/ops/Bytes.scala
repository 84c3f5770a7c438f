package graft.ops

/** Shared byte-order / bit-field readers for the byte-walk census
  * parsers: little-endian `u16`/`u32`/`u64` (IVF's DKIF header, Ogg page
  * headers, RIFF, zip), big-endian `be16`/`be32`/`be64` (ISO-BMFF boxes,
  * JPEG markers, Motorola-order TIFF) and MSB-first bit fields (FLAC
  * STREAMINFO). One home so the next container parser doesn't grow
  * another copy. All bounds-checking is the CALLER's (per-clip try/catch
  * contract).
  */
private[ops] object Bytes {
  def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  def u64(b: Array[Byte], o: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(o + i) & 0xffL); i -= 1 }
    v
  }
  def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)
  /** MSB-first bit field at an absolute bit offset (FLAC STREAMINFO). */
  def bits(b: Array[Byte], bitOff: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) {
      val p = bitOff + i
      v = (v << 1) | ((b(p >> 3) >> (7 - (p & 7))) & 1)
      i += 1
    }
    v
  }
}
