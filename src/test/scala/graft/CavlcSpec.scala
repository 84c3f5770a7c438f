package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CavlcSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("every VLC table is prefix-free — the structural tripwire for " +
      "transcription typos in spec tables") {
    Cavlc.allTables.foreach { case (name, vlc) =>
      val codes = vlc.entries.map(_._1)
      assert(codes.distinct.size == codes.size, s"$name has duplicate codes")
      for (a <- codes; b <- codes if a != b)
        assert(!b.startsWith(a), s"$name: '$a' is a prefix of '$b'")
    }
  }

  test("every VLC table's Kraft sum is EXACTLY complete or one known " +
      "hole short — a far tighter transcription tripwire than " +
      "prefix-freeness (any single code-length typo breaks it)") {
    // Σ 2^-len == 1 for a complete prefix code. Five tables carry the
    // spec's single reserved hole: coeff_token[0<=nC<2] misses its
    // all-zeros 15-bit word (1 - 2^-15), coeff_token[2<=nC<4] its
    // all-zeros 13-bit word (1 - 2^-13) — the same never-dead-end
    // structure one level shallower — coeff_token[4<=nC<8] the lone
    // 10-bit slot '0000000111' its near-FLC tail cannot fill (the
    // all-zeros word IS a code there, (1,16)), total_zeros[1] one 9-bit
    // word ('000000000' is unused, 1 - 2^-9), and run_before[>6]'s
    // unary tail leaves the all-zeros word at its longest prefix
    // (1 - 2^-11). Everything else is exactly complete.
    val expected = Map(
      "coeff_token[0<=nC<2]" -> (1.0 - math.pow(2, -15)),
      "coeff_token[2<=nC<4]" -> (1.0 - math.pow(2, -13)),
      "coeff_token[4<=nC<8]" -> (1.0 - math.pow(2, -10)),
      "total_zeros[1]" -> (1.0 - math.pow(2, -9)),
      "run_before[7]" -> (1.0 - math.pow(2, -11)))
    Cavlc.allTables.foreach { case (name, vlc) =>
      val kraft = vlc.entries.map(e => math.pow(2.0, -e._1.length)).sum
      val want = expected.getOrElse(name, 1.0)
      assert(math.abs(kraft - want) < 1e-12,
        f"$name kraft=$kraft%.9f expected $want%.9f")
    }
  }

  test("Table 9-4 intra cbp mapping: an exact permutation of 0..47 with " +
      "the published anchors (codeNum 0 → 47, codeNum 3 → 0), and the " +
      "fixture-side inverse really inverts") {
    val m = H264Decode.IntraCbpFromCodeNum
    assert(m.length == 48)
    assert(m.sorted.toSeq == (0 until 48), "not a permutation of 0..47")
    assert(m(0) == 47 && m(3) == 0)
    assert(m(1) == 31 && m(2) == 15) // luma-full rows precede luma-partial
    for (cbp <- 0 until 48)
      assert(m(H264Decode.IntraCbpToCodeNum(cbp)) == cbp)
  }

  private def bitsOf(s: String): Array[Byte] = {
    // pack bit-string + a stop '1' + padding into bytes
    val w = new VideoBitstream.BitWriter
    s.foreach(c => w.u(if (c == '1') 1 else 0, 1))
    w.rbspTrailing()
    w.bytes
  }

  test("known-answer coeff_token decodes from the spec's worked examples") {
    // (TrailingOnes, TotalCoeff) anchors: (0,0)=1, (1,1)=01, (2,2)=001,
    // (3,3)=00011, (3,5)=0000100 — the entries every published CAVLC
    // walkthrough uses
    def tok(bits: String): (Int, Int) =
      Cavlc.CoeffTokenNc0.decode(new VideoBitstream.BitReader(bitsOf(bits)), "t")
    assert(tok("1") == ((0, 0)))
    assert(tok("01") == ((1, 1)))
    assert(tok("001") == ((2, 2)))
    assert(tok("00011") == ((3, 3)))
    assert(tok("0000100") == ((3, 5)))
    // chroma DC anchors
    def ctok(bits: String): (Int, Int) =
      Cavlc.CoeffTokenChromaDc.decode(new VideoBitstream.BitReader(bitsOf(bits)), "t")
    assert(ctok("1") == ((1, 1)))
    assert(ctok("01") == ((0, 0)))
    assert(ctok("0000000") == ((3, 4)))
    // 2<=nC<4 column anchors: short-code spine + the deep irregular tail
    def tok2(bits: String): (Int, Int) =
      Cavlc.CoeffTokenNc2.decode(new VideoBitstream.BitReader(bitsOf(bits)), "t")
    assert(tok2("11") == ((0, 0)))
    assert(tok2("10") == ((1, 1)))
    assert(tok2("011") == ((2, 2)))
    assert(tok2("0101") == ((3, 3)))
    assert(tok2("00110") == ((3, 5)))
    assert(tok2("0000000000001") == ((3, 15)))
    assert(tok2("00000000000100") == ((3, 16)))
    // 4<=nC<8 column anchors: the near-FLC design, including the
    // all-zeros code (1,16)
    def tok4(bits: String): (Int, Int) =
      Cavlc.CoeffTokenNc4.decode(new VideoBitstream.BitReader(bitsOf(bits)), "t")
    assert(tok4("1111") == ((0, 0)))
    assert(tok4("1110") == ((1, 1)))
    assert(tok4("1101") == ((2, 2)))
    assert(tok4("1100") == ((3, 3)))
    assert(tok4("01111") == ((1, 2)))
    assert(tok4("0000000000") == ((1, 16)))
    // the one reserved slot of the 4<=nC<8 column refuses as malformed
    intercept[Cavlc.Unsupported] { tok4("0000000111") }
    // total_zeros anchor from the published CAVLC walkthrough: the
    // TotalCoeff-5 example encodes total_zeros 3 as '111'
    assert(Cavlc.TotalZeros4x4(5)
      .decode(new VideoBitstream.BitReader(bitsOf("111")), "tz")._1 == 3)
  }

  test("residual block encode → decode round-trips over the supported " +
      "table range (levels, trailing ones, total_zeros, run_before, " +
      "suffix-length adaptation, chroma DC, FLC nC>=8)") {
    def roundTrip(scan: Array[Int], nC: Int, maxNumCoeff: Int): Unit = {
      val w = new VideoBitstream.BitWriter
      Cavlc.encodeResidualBlock(w, scan, nC, maxNumCoeff)
      w.rbspTrailing()
      val r = new VideoBitstream.BitReader(w.bytes)
      val (got, total) = Cavlc.decodeResidualBlock(r, nC, maxNumCoeff)
      assert(got.toSeq == scan.toSeq, s"scan ${scan.mkString(",")} nC $nC")
      assert(total == scan.count(_ != 0))
    }
    def at(maxNumCoeff: Int, pairs: (Int, Int)*): Array[Int] = {
      val a = new Array[Int](maxNumCoeff)
      pairs.foreach { case (i, v) => a(i) = v }
      a
    }
    roundTrip(at(16), 0, 16) // empty
    roundTrip(at(16, 0 -> 3), 0, 16) // single level > 1 (prefix path)
    roundTrip(at(16, 0 -> -1), 0, 16) // single trailing one, negative
    roundTrip(at(16, 0 -> 7, 1 -> 3, 2 -> -1, 3 -> 1), 0, 16) // adaptation
    roundTrip(at(16, 2 -> 1, 5 -> -1, 9 -> 2), 0, 16) // runs + zeros
    roundTrip(at(15, 0 -> 1, 3 -> 1), 0, 15) // AC block shape
    roundTrip(at(16, 0 -> 25), 0, 16) // prefix-14 4-bit suffix escape
    roundTrip(at(4, 0 -> 2, 1 -> 1, 2 -> -1), -1, 4) // chroma DC
    roundTrip(at(4, 0 -> 1, 1 -> -1, 2 -> 1, 3 -> -1), -1, 4) // full chroma
    roundTrip(at(16, 0 -> 2, 4 -> -3), 16, 16) // nC>=8: FLC coeff_token
    roundTrip(at(16, 0 -> 1, 14 -> 1), 0, 16) // zerosLeft 13: run_before >6 unary
    roundTrip(at(16, 1 -> 1, 7 -> -1, 13 -> 2), 0, 16) // mixed long runs
    roundTrip(at(16, 0 -> 1, 5 -> 1, 11 -> -1, 15 -> 1), 0, 16) // 4 coeffs spread
    roundTrip(at(15, 2 -> 2, 9 -> -1, 14 -> 1), 0, 15) // AC shape, long zeros
    // the 2<=nC<4 and 4<=nC<8 columns, and total_zeros columns 5-15:
    // every (nC column × TotalCoeff) cell round-trips, including DENSE
    // blocks (the textured-neighbour shape real I-frames are made of)
    for (nC <- Seq(2, 3, 4, 5, 6, 7)) {
      roundTrip(at(16), nC, 16)
      roundTrip(at(16, 0 -> 3), nC, 16)
      roundTrip(at(16, 0 -> 7, 1 -> 3, 2 -> -1, 3 -> 1), nC, 16)
      roundTrip(at(15, 2 -> 2, 9 -> -1, 14 -> 1), nC, 15)
      for (total <- 5 to 15) { // drives total_zeros columns 5-15
        val dense = Array.tabulate(16)(i =>
          if (i < total) (if (i % 2 == 0) 1 else -1) * (1 + i % 3) else 0)
        roundTrip(dense, nC, 16)
        // and with leading zeros, so total_zeros > 0 at high TotalCoeff
        if (total <= 14) {
          val shifted = new Array[Int](16)
          Array.copy(dense, 0, shifted, 16 - total, total)
          roundTrip(shifted, nC, 16)
        }
      }
    }
    roundTrip(Array.tabulate(16)(i => if (i % 2 == 0) 2 else -2), 0, 16) // TC 16: no total_zeros read
    // deep escape forms still refuse by name
    val w2 = new VideoBitstream.BitWriter
    val e2 = intercept[Cavlc.Unsupported] {
      Cavlc.encodeResidualBlock(w2, at(16, 0 -> 3000), 0, 16)
    }
    assert(e2.getMessage.contains("level"))
  }

  test("property: 600 seeded random residual blocks round-trip across " +
      "EVERY coeff_token column (nC -1, 0..9, 16) — random densities, " +
      "signs, magnitudes through the escape forms") {
    val rnd = new scala.util.Random(0xCAB1C)
    var cases = 0
    for (_ <- 0 until 600) {
      val nC = Seq(-1, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 16)(rnd.nextInt(12))
      val maxNumCoeff = if (nC == -1) 4 else if (rnd.nextBoolean()) 16 else 15
      val total = rnd.nextInt(maxNumCoeff + 1)
      val scan = new Array[Int](maxNumCoeff)
      val positions = rnd.shuffle((0 until maxNumCoeff).toList).take(total)
      positions.foreach { p =>
        val mag = 1 + rnd.nextInt(40) // crosses the suffix-length ladder
        scan(p) = if (rnd.nextBoolean()) mag else -mag
      }
      val w = new VideoBitstream.BitWriter
      val encoded =
        try { Cavlc.encodeResidualBlock(w, scan, nC, maxNumCoeff); true }
        catch { case _: Cavlc.Unsupported =>
          false // encoder refuses only deep-escape level forms — named
        }
      if (encoded) {
        cases += 1
        w.rbspTrailing()
        val (got, t) = Cavlc.decodeResidualBlock(
          new VideoBitstream.BitReader(w.bytes), nC, maxNumCoeff)
        assert(got.toSeq == scan.toSeq, s"nC $nC scan ${scan.mkString(",")}")
        assert(t == total)
      }
    }
    assert(cases > 550) // the refusal branch must stay rare
  }

  test("Intra_16x16 CAVLC frame decodes pixel-exact: four prediction " +
      "modes, DC Hadamard + dequant, closed-form quadrants at QP 28") {
    // v0 = 4, s1 = negative, v2 = 3:
    //   c0 = 128+4 = 132 (DC pred from nothing = 128, residual v0)
    //   c1 = c0-1 = 131 (Horizontal pred + trailing-one -1)
    //   c2 = c0+3 = 135 (Vertical pred + DC coeff 3)
    //   c3 = (131+135+1)>>1 = 133 (DC pred from both neighbours, no residual)
    val df = Seq((0L, 1)).toDF("doc_id", "x")
      .select(col("doc_id"), H264Decode.syntheticCavlcI16AnnexB(
        lit(4), lit(true), lit(3)).as("payload"))
    val out = H264Decode.decodeIdr(df).collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    assert(out.getAs[Int]("frame_width") == 32)
    assert(out.getAs[Int]("mb_count") == 4)
    val luma = out.getAs[Array[Byte]]("luma_plane")
    def px(x: Int, y: Int): Int = luma(y * 32 + x) & 0xff
    for (y <- 0 until 16; x <- 0 until 16) {
      assert(px(x, y) == 132, s"MB0 ($x,$y)")
      assert(px(x + 16, y) == 131, s"MB1 ($x,$y)")
      assert(px(x, y + 16) == 135, s"MB2 ($x,$y)")
      assert(px(x + 16, y + 16) == 133, s"MB3 ($x,$y)")
    }
    assert(out.getAs[Double]("y_mean") == (132 + 131 + 135 + 133) / 4.0)
  }

  test("luma AC residual: a cbp_luma=15 macroblock with coefficients in " +
      "one 4x4 block reconstructs the HAND-COMPUTED dequant+IDCT matrix " +
      "(independent known answer for §8.5.12)") {
    // 1×1-MB frame, mb_type 15 (DC pred, cbp_chroma 0, cbp_luma 15):
    // block blkIdx3 (x4=1, y4=1) has +1 at AC scan 0 (raster 1) and +1 at
    // AC scan 3 (raster 5); all other blocks empty. At QP 28 the dequant
    // gives 320 (mixed class) and 400 (odd-odd class); the IDCT of those
    // two coefficients is the matrix below (computed by hand from
    // §8.5.12.1/.2 — NOT by running this decoder).
    val expected = Array(
      Array(11, 6, -6, -11),
      Array(8, 4, -4, -8),
      Array(2, 1, -1, -2),
      Array(-1, -1, 1, 1))
    val slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      w.ue(1) // disable deblocking
      w.ue(15); w.ue(0); w.se(0) // mb_type 15: DC pred, cbpC 0, cbpL 15
      Cavlc.encodeResidualBlock(w, new Array[Int](16), 0, 16) // DC: empty
      for (b <- 0 until 16) {
        val ac = new Array[Int](15)
        if (b == 3) { ac(0) = 1; ac(3) = 1 }
        // nC stays < 2 for every block: neighbours carry at most 2 coeffs
        // and always with a second zero-count neighbour available
        Cavlc.encodeResidualBlock(w, ac, 0, 15)
      }
      w.rbspTrailing()
      w.bytes
    }
    val stream = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
        out += 0; out += 0; out += 0; out += 1
        out += ((refIdc << 5) | tpe).toByte
        out ++= VideoBitstream.escapeRbsp(rbsp)
      }
      nal(3, 7, VideoBitstream.syntheticSpsRbsp(1, 1))
      nal(3, 8, H264Decode.cavlcPpsRbsp)
      nal(3, 5, slice)
      out.toArray
    }
    val out = H264Decode.decodeIdr(
      Seq((0L, stream)).toDF("doc_id", "payload")).collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    val luma = out.getAs[Array[Byte]]("luma_plane")
    for (y <- 0 until 16; x <- 0 until 16) {
      val exp =
        if (x >= 4 && x < 8 && y >= 4 && y < 8) 128 + expected(y - 4)(x - 4)
        else 128
      assert((luma(y * 16 + x) & 0xff) == exp, s"pixel ($x,$y)")
    }
  }

  test("TEXTURED NEIGHBOURS decode pixel-exact: a frame where every " +
      "luma AC block has coefficients, so the §9.2.1 nC context walks " +
      "through the 2<=nC<4 and 4<=nC<8 coeff_token columns and " +
      "total_zeros column 6 — expected pixels HAND-COMPUTED from " +
      "§8.5.12, not from this decoder") {
    // 2×1 frame. MB0: mb_type 15 (DC pred, cbpL 15), all 16 AC blocks
    // carry P2 = {+1 at AC scan 0 (raster 1), +1 at scan 3 (raster 5)}
    // (TotalCoeff 2) — every block after (0,0) decodes with nC = 2.
    // MB1: all 16 AC blocks carry P6 = the six-coefficient cross
    // {scan 0,1,2,4,5,8} = {1,-1,2,2,-1,1} (TotalCoeff 6, total_zeros
    // 3 in column 6) — its blocks see nC 2 (left edge from MB0's TC-2
    // column), 4 (mixed 2/6 neighbours), and 6 (interior).
    // Hand-computed residual tiles at QP 28 (d = c·LS·16, rows-then-
    // columns integer IDCT, (r+32)>>6):
    val p2 = Array(
      Array(11, 6, -6, -11), Array(8, 4, -4, -8),
      Array(2, 1, -1, -2), Array(-1, -1, 1, 1))
    val p6 = Array(
      Array(16, 5, -10, 11), Array(-5, -16, -31, -10),
      Array(10, -1, -16, 5), Array(21, 10, -5, 16))
    // MB1 DC prediction: left column = 128 + P2 col 3 = (117,120,126,
    // 129) tiled ×4 → sum 1968 → (1968+8)>>4 = 123
    val p2Ac = { val a = new Array[Int](15); a(0) = 1; a(3) = 1; a }
    val p6Ac = { val a = new Array[Int](15)
      a(0) = 1; a(1) = -1; a(2) = 2; a(4) = 2; a(5) = -1; a(8) = 1; a }
    // the decoder's Z-order blkIdx → (x4, y4) map and §9.2.1 rule,
    // mirrored here so the encoder writes each block under the same nC
    // the decoder will compute
    val bX = Array(0, 1, 0, 1, 2, 3, 2, 3, 0, 1, 0, 1, 2, 3, 2, 3)
    val bY = Array(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3)
    val grid = Array.fill(8 * 4)(-1) // frame-wide 4x4 TotalCoeff grid
    def nCFor(bx: Int, by: Int): Int = {
      val nA = if (bx > 0) grid(by * 8 + bx - 1) else -1
      val nB = if (by > 0) grid((by - 1) * 8 + bx) else -1
      if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
      else if (nA >= 0) nA else if (nB >= 0) nB else 0
    }
    val slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      w.ue(1) // disable deblocking
      for (mb <- 0 to 1) {
        w.ue(15); w.ue(0); w.se(0) // mb_type 15: DC pred, cbpC 0, cbpL 15
        // Intra16x16DCLevel: nC as for blk (mbx*4, 0), grid not updated
        Cavlc.encodeResidualBlock(w, new Array[Int](16),
          nCFor(mb * 4, 0), 16)
        for (b <- 0 until 16) {
          val (bx, by) = (mb * 4 + bX(b), bY(b))
          val ac = if (mb == 0) p2Ac else p6Ac
          Cavlc.encodeResidualBlock(w, ac, nCFor(bx, by), 15)
          grid(by * 8 + bx) = ac.count(_ != 0)
        }
      }
      w.rbspTrailing()
      w.bytes
    }
    // pin the context walk this fixture claims to exercise
    val gotNc = {
      val g2 = Array.fill(8 * 4)(-1)
      def f(bx: Int, by: Int): Int = {
        val nA = if (bx > 0) g2(by * 8 + bx - 1) else -1
        val nB = if (by > 0) g2((by - 1) * 8 + bx) else -1
        if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
        else if (nA >= 0) nA else if (nB >= 0) nB else 0
      }
      (0 to 1).flatMap { mb =>
        (0 until 16).map { b =>
          val (bx, by) = (mb * 4 + bX(b), bY(b))
          val nc = f(bx, by)
          g2(by * 8 + bx) = if (mb == 0) 2 else 6
          nc
        }
      }
    }
    assert(gotNc.count(nc => nc >= 2 && nc < 4) == 16) // 15 in MB0 + MB1 edge
    assert(gotNc.count(nc => nc >= 4 && nc < 8) == 15)
    val stream = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
        out += 0; out += 0; out += 0; out += 1
        out += ((refIdc << 5) | tpe).toByte
        out ++= VideoBitstream.escapeRbsp(rbsp)
      }
      nal(3, 7, VideoBitstream.syntheticSpsRbsp(2, 1))
      nal(3, 8, H264Decode.cavlcPpsRbsp)
      nal(3, 5, slice)
      out.toArray
    }
    val out = H264Decode.decodeIdr(
      Seq((0L, stream)).toDF("doc_id", "payload")).collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    val luma = out.getAs[Array[Byte]]("luma_plane")
    for (y <- 0 until 16; x <- 0 until 16) {
      assert((luma(y * 32 + x) & 0xff) == 128 + p2(y % 4)(x % 4),
        s"MB0 ($x,$y)")
      assert((luma(y * 32 + 16 + x) & 0xff) == 123 + p6(y % 4)(x % 4),
        s"MB1 ($x,$y)")
    }
  }

  test("monochrome CAVLC Intra_16x16: intra_chroma_pred_mode is ABSENT " +
      "for chroma_format_idc 0 (§7.3.5.1) — reading it would shift the " +
      "whole parse; FLC coeff_token with TrailingOnes > TotalCoeff " +
      "refuses by name, not an array overrun") {
    val slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      w.ue(1) // disable deblocking
      w.ue(3) // mb_type 3: DC pred, cbpC 0, cbpL 0
      // NO intra_chroma_pred_mode for monochrome
      w.se(0) // mb_qp_delta
      Cavlc.encodeResidualBlock(w, { val a = new Array[Int](16); a(0) = 5; a }, 0, 16)
      w.rbspTrailing(); w.bytes
    }
    val stream = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
        out += 0; out += 0; out += 0; out += 1
        out += ((refIdc << 5) | tpe).toByte
        out ++= VideoBitstream.escapeRbsp(rbsp)
      }
      nal(3, 7, monoSpsRbsp(1))
      nal(3, 8, H264Decode.cavlcPpsRbsp)
      nal(3, 5, slice)
      out.toArray
    }
    val out = H264Decode.decodeIdr(
      Seq((0L, stream)).toDF("doc_id", "payload")).collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    val luma = out.getAs[Array[Byte]]("luma_plane")
    assert(luma.forall(b => (b & 0xff) == 133)) // 128 + 5 at QP 28
    // FLC (nC >= 8) 6-bit value 2 = (t1s 2, total 1): must refuse by
    // name, never write past a 1-slot level array
    val e = intercept[Cavlc.Unsupported] {
      Cavlc.decodeResidualBlock(
        new VideoBitstream.BitReader(bitsOf("000010")), 16, 16)
    }
    assert(e.getMessage == "malformed coeff_token")
  }

  /** High-profile monochrome SPS (chroma_format_idc 0), mbw × 1 MBs. */
  private def monoSpsRbsp(mbw: Int): Array[Byte] = {
    val w = new VideoBitstream.BitWriter
    w.u(100, 8); w.u(0, 8); w.u(30, 8)
    w.ue(0) // sps id
    w.ue(0) // chroma_format_idc 0: monochrome
    w.ue(0); w.ue(0) // bit depths 8
    w.u(0, 1) // qpprime
    w.u(0, 1) // no scaling matrix
    w.ue(0) // log2_max_frame_num_minus4
    w.ue(2) // poc type
    w.ue(1); w.u(1, 1)
    w.ue(mbw - 1); w.ue(0) // mbw × 1 MBs
    w.u(1, 1); w.u(1, 1); w.u(0, 1); w.u(0, 1)
    w.rbspTrailing(); w.bytes
  }

  test("monochrome CAVLC I16 + I_PCM decodes pixel-exact with luma-only " +
      "PCM bytes; monochrome I_NxN refuses by the Table 9-4 column name") {
    val c = 9
    val pcm = 200
    val i16PcmSlice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0); w.ue(1)
      w.ue(3) // mb_type 3: I16 DC, cbp 0 — NO intra_chroma_pred_mode
      w.se(0)
      Cavlc.encodeResidualBlock(w, { val a = new Array[Int](16); a(0) = c; a }, 0, 16)
      w.ue(25) // I_PCM
      w.alignByte()
      var i = 0
      while (i < 256) { w.u(pcm, 8); i += 1 } // luma ONLY for monochrome
      w.rbspTrailing(); w.bytes
    }
    val out = H264Decode.decodeIdr(Seq(Tuple1(annexB(monoSpsRbsp(2),
      H264Decode.cavlcPpsRbsp, i16PcmSlice))).toDF("payload"), "payload")
      .collect()(0)
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    val luma = out.getAs[Array[Byte]]("luma_plane")
    for (y <- 0 until 16; x <- 0 until 32) {
      val want = if (x < 16) 128 + c else pcm // DC 128 + c at QP 28 | PCM
      assert((luma(y * 32 + x) & 0xff) == want, s"($x,$y)")
    }
    // I_NxN: the Table 9-4 ChromaArrayType-0 cbp column is NOT carried
    val i4Slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0); w.ue(1)
      w.ue(0) // I_NxN
      var b = 0
      while (b < 16) { w.u(1, 1); b += 1 } // all prev-flag modes
      w.ue(0) // would-be cbp codeNum — mapping differs for mono
      w.rbspTrailing(); w.bytes
    }
    val err = H264Decode.decodeIdr(Seq(Tuple1(annexB(monoSpsRbsp(1),
      H264Decode.cavlcPpsRbsp, i4Slice))).toDF("payload"), "payload")
      .collect()(0).getAs[String]("decode_error")
    assert(err != null && err.contains("Table 9-4 ChromaArrayType-0"),
      s"got: $err")
  }

  test("chroma AC residual (cbp_chroma = 2) parses and stays bit-aligned: " +
      "the luma plane after the chroma bits is still pixel-exact, and the " +
      "chroma nC grids route between components correctly") {
    // 1×1-MB frame, mb_type 11 (k=10: DC pred, cbp_chroma 2, cbp_luma 0):
    // chroma DC + all 8 chroma AC blocks are in the stream. Luma DC coeff
    // 6 → constant plane 134; ANY chroma mis-parse would desync the
    // trailing rbsp and surface as an error or wrong pixels.
    val slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      w.ue(1) // disable deblocking
      w.ue(11); w.ue(0); w.se(0) // mb_type 11: DC pred, cbpC 2, cbpL 0
      Cavlc.encodeResidualBlock(w, {
        val a = new Array[Int](16); a(0) = 6; a }, 0, 16) // luma DC
      Cavlc.encodeResidualBlock(w, Array(1, 0, -1, 0), -1, 4) // Cb DC
      Cavlc.encodeResidualBlock(w, Array(0, 2, 0, 0), -1, 4) // Cr DC
      // Cb AC: blk0 one coeff, blk3 two (its neighbours blk1/blk2 are
      // empty so nC stays < 2), blk1/blk2 empty
      val cbAc = Seq(
        { val a = new Array[Int](15); a(2) = 1; a },
        new Array[Int](15), new Array[Int](15),
        { val a = new Array[Int](15); a(0) = 1; a(3) = -1; a })
      cbAc.foreach(a => Cavlc.encodeResidualBlock(w, a, 0, 15))
      // Cr AC: all empty — the Cr grid must not see Cb's counts
      (0 until 4).foreach(_ =>
        Cavlc.encodeResidualBlock(w, new Array[Int](15), 0, 15))
      w.rbspTrailing()
      w.bytes
    }
    val stream = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
        out += 0; out += 0; out += 0; out += 1
        out += ((refIdc << 5) | tpe).toByte
        out ++= VideoBitstream.escapeRbsp(rbsp)
      }
      nal(3, 7, VideoBitstream.syntheticSpsRbsp(1, 1))
      nal(3, 8, H264Decode.cavlcPpsRbsp)
      nal(3, 5, slice)
      out.toArray
    }
    val out = H264Decode.decodeIdr(
      Seq((0L, stream)).toDF("doc_id", "payload")).collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    val luma = out.getAs[Array[Byte]]("luma_plane")
    assert(luma.forall(b => (b & 0xff) == 134))
  }

  test("mixed I_PCM + Intra_16x16 slice: the PCM block's 16-coefficient " +
      "nC context pushes the neighbour into the FLC coeff_token table " +
      "and horizontal pred copies the PCM gradient's right column") {
    // 2×1 frame: MB0 I_PCM horizontal gradient (base 7, slope 3), MB1
    // Intra_16x16 horizontal pred with zero DC → every MB1 pixel equals
    // MB0's column-15 value (7 + 3*15) % 256 = 52
    val slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      w.ue(1) // disable deblocking
      // MB0: I_PCM
      w.ue(25)
      w.alignByte()
      for (i <- 0 until 256) w.u((7 + 3 * (i % 16)) % 256, 8)
      for (_ <- 0 until 128) w.u(128, 8)
      // MB1: mb_type 2 (Horizontal), zero DC — nC for its DC block is 16
      // (the I_PCM neighbour), so coeff_token is the 6-bit FLC
      w.ue(2); w.ue(0); w.se(0)
      Cavlc.encodeResidualBlock(w, new Array[Int](16), 16, 16)
      w.rbspTrailing()
      w.bytes
    }
    val stream = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
        out += 0; out += 0; out += 0; out += 1
        out += ((refIdc << 5) | tpe).toByte
        out ++= VideoBitstream.escapeRbsp(rbsp)
      }
      nal(3, 7, VideoBitstream.syntheticSpsRbsp(2, 1))
      nal(3, 8, H264Decode.cavlcPpsRbsp)
      nal(3, 5, slice)
      out.toArray
    }
    val out = H264Decode.decodeIdr(
      Seq((0L, stream)).toDF("doc_id", "payload")).collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    val luma = out.getAs[Array[Byte]]("luma_plane")
    for (y <- 0 until 16; x <- 0 until 16) {
      assert((luma(y * 32 + x) & 0xff) == (7 + 3 * x) % 256, s"PCM ($x,$y)")
      assert((luma(y * 32 + 16 + x) & 0xff) == 52, s"I16 ($x,$y)")
    }
  }

  private def annexB(sps: Array[Byte], pps: Array[Byte],
      slice: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
      out += 0; out += 0; out += 0; out += 1
      out += ((refIdc << 5) | tpe).toByte
      out ++= VideoBitstream.escapeRbsp(rbsp)
    }
    nal(3, 7, sps); nal(3, 8, pps); nal(3, 5, slice)
    out.toArray
  }

  test("I_4x4 basics: an all-DC no-residual macroblock decodes to the " +
      "128 plane — cbp 0 means NO mb_qp_delta and NO residual bits " +
      "(the §7.3.5 gate), so any extra read would desync the rbsp") {
    val slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      w.ue(1) // disable deblocking
      w.ue(0) // mb_type I_NxN
      for (_ <- 0 until 16) w.u(1, 1) // every mode = predicted = DC
      w.ue(0) // chroma pred
      w.ue(H264Decode.IntraCbpToCodeNum(0)) // cbp 0 → codeNum 3
      // NOTHING else: no qp delta, no residual
      w.rbspTrailing()
      w.bytes
    }
    val out = H264Decode.decodeIdr(Seq((0L,
      annexB(VideoBitstream.syntheticSpsRbsp(1, 1), H264Decode.cavlcPpsRbsp,
        slice))).toDF("doc_id", "payload")).collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    assert(out.getAs[Array[Byte]]("luma_plane").forall(b => (b & 0xff) == 128))
  }

  test("I_4x4 horizontal cascade decodes pixel-exact against the closed " +
      "form: PCM gradient neighbour, 16 Horizontal-mode blocks with " +
      "DC-only residuals, mixed nC contexts (16 / 9 / 1)") {
    val out = H264Decode.decodeIdr(
      Seq((0L, 1)).toDF("doc_id", "x")
        .select(col("doc_id"),
          H264Decode.syntheticI4x4AnnexB(lit(7), lit(2)).as("payload")))
      .collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    assert(out.getAs[Int]("mb_count") == 2)
    val luma = out.getAs[Array[Byte]]("luma_plane")
    for (y <- 0 until 16; x <- 0 until 16) {
      assert((luma(y * 32 + x) & 0xff) == 7 + 3 * x, s"PCM ($x,$y)")
      // block column bx: 52 + 8·(bx+1)
      assert((luma(y * 32 + 16 + x) & 0xff) == 52 + 8 * (x / 4 + 1),
        s"I4x4 ($x,$y)")
    }
    assert(out.getAs[Double]("y_mean") == 7 + 33.75 + 5 * 2)
  }

  test("mixed I_4x4 + Intra_16x16 slice: the I16 MB predicts from the " +
      "I_4x4-reconstructed plane and its nC context reads the I_4x4 " +
      "blocks' TotalCoeff (0), not a stale value") {
    val slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      w.ue(1) // disable deblocking
      // MB0: I_4x4, all modes DC via prev flag, cbp 0 → plane 128
      w.ue(0)
      for (_ <- 0 until 16) w.u(1, 1)
      w.ue(0); w.ue(H264Decode.IntraCbpToCodeNum(0))
      // MB1: Intra_16x16 Horizontal (mb_type 2), DC coeff 9 → 128 + 9;
      // its DC block's nC = MB0's blk(3,0) TotalCoeff = 0 → the nC<2 table
      w.ue(2); w.ue(0); w.se(0)
      Cavlc.encodeResidualBlock(w,
        { val a = new Array[Int](16); a(0) = 9; a }, 0, 16)
      w.rbspTrailing()
      w.bytes
    }
    val out = H264Decode.decodeIdr(Seq((0L,
      annexB(VideoBitstream.syntheticSpsRbsp(2, 1), H264Decode.cavlcPpsRbsp,
        slice))).toDF("doc_id", "payload")).collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    val luma = out.getAs[Array[Byte]]("luma_plane")
    for (y <- 0 until 16; x <- 0 until 16) {
      assert((luma(y * 32 + x) & 0xff) == 128, s"I4x4 ($x,$y)")
      assert((luma(y * 32 + 16 + x) & 0xff) == 137, s"I16 ($x,$y)")
    }
  }

  test("I_4x4 under a transform_8x8 PPS decodes through the flag parse; " +
      "scaling-matrix PPS and a top-row Vertical mode refuse NAMED") {
    def ppsWithExt(t8: Boolean, scaling: Boolean): Array[Byte] = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(0); w.u(0, 1); w.u(0, 1); w.ue(0)
      w.ue(0); w.ue(0); w.u(0, 1); w.u(0, 2)
      w.se(2); w.se(0); w.se(0)
      w.u(1, 1) // deblocking control present
      w.u(0, 1); w.u(0, 1)
      w.u(if (t8) 1 else 0, 1) // transform_8x8_mode_flag
      w.u(if (scaling) 1 else 0, 1) // pic_scaling_matrix_present
      if (scaling) for (_ <- 0 until 6) w.u(0, 1) // all 6 lists absent
      w.se(0) // second_chroma_qp_index_offset
      w.rbspTrailing(); w.bytes
    }
    def i4Slice(mode0Rem: Int, t8Flag: Option[Int] = None): Array[Byte] = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      w.ue(1)
      w.ue(0)
      // §7.3.5: under a transform_8x8 PPS, I_NxN carries
      // transform_size_8x8_flag before the prediction modes
      t8Flag.foreach(w.u(_, 1))
      w.u(0, 1); w.u(mode0Rem, 3) // block 0: rem below predictor 2
      for (_ <- 0 until 15) w.u(1, 1)
      w.ue(0); w.ue(H264Decode.IntraCbpToCodeNum(0))
      w.rbspTrailing(); w.bytes
    }
    val sps = VideoBitstream.syntheticSpsRbsp(1, 1)
    // transform_8x8 PPS with transform_size_8x8_flag = 0: the Intra_4x4
    // path parses IDENTICALLY to the plain-PPS stream (round-17: the
    // flag is parsed, not refused — Intra_8x8 itself is pinned in
    // H264Transform8Spec). Both land on the same NAMED mode refusal
    // (Horizontal at the left column), proving the one-bit flag kept
    // the slice parse aligned instead of shifting it into garbage.
    val t8 = H264Decode.decodeIdr(Seq((0L,
      annexB(sps, ppsWithExt(t8 = true, scaling = false),
        i4Slice(1, t8Flag = Some(0)))))
      .toDF("doc_id", "payload")).collect().head
    val plain = H264Decode.decodeIdr(Seq((0L,
      annexB(sps, H264Decode.cavlcPpsRbsp, i4Slice(1))))
      .toDF("doc_id", "payload")).collect().head
    assert(t8.getAs[String]("decode_error") ==
      "Intra_4x4 horizontal predictor unavailable", t8.toString)
    assert(plain.getAs[String]("decode_error") ==
      t8.getAs[String]("decode_error"))
    val sm = H264Decode.decodeIdr(Seq((0L,
      annexB(sps, ppsWithExt(t8 = false, scaling = true), i4Slice(1))))
      .toDF("doc_id", "payload")).collect().head
    // PPS matrix with list 0 absent under a matrix-free SPS lands on
    // the spec's Default_4x4_Intra — refused by the TABLE's name now
    // that transmitted lists decode (H264ScalingSpec covers those)
    assert(sm.getAs[String]("decode_error") != null &&
      sm.getAs[String]("decode_error").contains("Default_4x4_Intra"))
    // rem 0 under predictor 2 = Vertical at the top row: no top samples
    val vert = H264Decode.decodeIdr(Seq((0L,
      annexB(sps, H264Decode.cavlcPpsRbsp, i4Slice(0))))
      .toDF("doc_id", "payload")).collect().head
    assert(vert.getAs[String]("decode_error") ==
      "Intra_4x4 vertical predictor unavailable")
  }

  test("I_4x4 ALL NINE §8.3.1.2 predictors cross-check against an " +
      "INDEPENDENT unrolled per-pixel reconstruction (the published " +
      "decoder forms), over a rich PCM-seeded 2×2 frame with real " +
      "top-right availability and substitution") {
    // fixture: MB0 = I_PCM with (7x+13y+5) mod 256; MB1/2/3 = I_NxN,
    // cbp 0 (prediction only — the new logic under test), each block's
    // mode picked deterministically from the modes its neighbours allow
    def allowedMode(m: Int, leftOk: Boolean, topOk: Boolean): Boolean =
      m match {
        case 0 | 3 | 7 => topOk
        case 1 | 8 => leftOk
        case 2 => true
        case _ => leftOk && topOk
      }
    def pickMode(b: Int, leftOk: Boolean, topOk: Boolean): Int =
      Iterator.from(b * 7 + 3).map(_ % 9)
        .find(m => allowedMode(m, leftOk, topOk)).get
    val bX = Array(0, 1, 0, 1, 2, 3, 2, 3, 0, 1, 0, 1, 2, 3, 2, 3)
    val bY = Array(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3)
    // ---- encoder side: slice bits with replayed mode prediction
    val modeGrid = Array.fill(8 * 8)(-1)
    val slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      w.ue(1) // disable deblocking
      // MB0: I_PCM
      w.ue(25); w.alignByte()
      for (i <- 0 until 256) w.u((7 * (i % 16) + 13 * (i / 16) + 5) % 256, 8)
      for (_ <- 0 until 128) w.u(128, 8)
      // MB1..MB3: I_NxN prediction-only
      for (mbi <- 1 to 3) {
        val (mbx, mby) = (mbi % 2, mbi / 2)
        w.ue(0)
        for (b <- 0 until 16) {
          val gx = mbx * 4 + bX(b)
          val gy = mby * 4 + bY(b)
          val a = if (gx > 0 && modeGrid(gy * 8 + gx - 1) >= 0)
            modeGrid(gy * 8 + gx - 1) else 2
          val t = if (gy > 0 && modeGrid((gy - 1) * 8 + gx) >= 0)
            modeGrid((gy - 1) * 8 + gx) else 2
          val pm = math.min(a, t)
          val mode = pickMode(b + 16 * mbi, gx > 0, gy > 0)
          if (mode == pm) w.u(1, 1)
          else { w.u(0, 1); w.u(if (mode < pm) mode else mode - 1, 3) }
          modeGrid(gy * 8 + gx) = mode
        }
        w.ue(0) // chroma pred
        w.ue(H264Decode.IntraCbpToCodeNum(0)) // cbp 0: nothing follows
      }
      w.rbspTrailing()
      w.bytes
    }
    val out = H264Decode.decodeIdr(Seq((0L,
      annexB(VideoBitstream.syntheticSpsRbsp(2, 2), H264Decode.cavlcPpsRbsp,
        slice))).toDF("doc_id", "payload")).collect().head
    assert(out.getAs[String]("decode_error") == null,
      s"decode_error: ${out.getAs[String]("decode_error")}")
    val got = out.getAs[Array[Byte]]("luma_plane")
    // ---- independent reconstruction: unrolled per-pixel forms
    val plane = new Array[Int](32 * 32)
    val decoded = Array.fill(8 * 8)(false)
    for (y <- 0 until 16; x <- 0 until 16)
      plane(y * 32 + x) = (7 * x + 13 * y + 5) % 256
    for (by <- 0 until 4; bx <- 0 until 4) decoded(by * 8 + bx) = true
    def unrolled(mode: Int, t: Array[Int], l: Array[Int], lt: Int): Array[Int] = {
      val s = new Array[Int](16)
      def put(x: Int, y: Int, v: Int): Unit = s(y * 4 + x) = v
      mode match {
        case 0 => for (y <- 0 until 4; x <- 0 until 4) put(x, y, t(x))
        case 1 => for (y <- 0 until 4; x <- 0 until 4) put(x, y, l(y))
        case 2 =>
          val v =
            if (t(0) < 0 && l(0) < 0) 128
            else if (l(0) < 0) (t.take(4).sum + 2) >> 2
            else if (t(0) < 0) (l.sum + 2) >> 2
            else (t.take(4).sum + l.sum + 4) >> 3
          java.util.Arrays.fill(s, v)
        case 3 =>
          put(0, 0, (t(0) + 2 * t(1) + t(2) + 2) >> 2)
          put(1, 0, (t(1) + 2 * t(2) + t(3) + 2) >> 2); put(0, 1, s(1))
          val a = (t(2) + 2 * t(3) + t(4) + 2) >> 2
          put(2, 0, a); put(1, 1, a); put(0, 2, a)
          val b = (t(3) + 2 * t(4) + t(5) + 2) >> 2
          put(3, 0, b); put(2, 1, b); put(1, 2, b); put(0, 3, b)
          val c = (t(4) + 2 * t(5) + t(6) + 2) >> 2
          put(3, 1, c); put(2, 2, c); put(1, 3, c)
          val d = (t(5) + 2 * t(6) + t(7) + 2) >> 2
          put(3, 2, d); put(2, 3, d)
          put(3, 3, (t(6) + 3 * t(7) + 2) >> 2)
        case 4 =>
          put(0, 3, (l(1) + 2 * l(2) + l(3) + 2) >> 2)
          val a = (l(0) + 2 * l(1) + l(2) + 2) >> 2
          put(0, 2, a); put(1, 3, a)
          val b = (lt + 2 * l(0) + l(1) + 2) >> 2
          put(0, 1, b); put(1, 2, b); put(2, 3, b)
          val c = (t(0) + 2 * lt + l(0) + 2) >> 2
          put(0, 0, c); put(1, 1, c); put(2, 2, c); put(3, 3, c)
          val d = (lt + 2 * t(0) + t(1) + 2) >> 2
          put(1, 0, d); put(2, 1, d); put(3, 2, d)
          val e = (t(0) + 2 * t(1) + t(2) + 2) >> 2
          put(2, 0, e); put(3, 1, e)
          put(3, 0, (t(1) + 2 * t(2) + t(3) + 2) >> 2)
        case 5 =>
          put(0, 3, (l(0) + 2 * l(1) + l(2) + 2) >> 2)
          put(0, 2, (lt + 2 * l(0) + l(1) + 2) >> 2)
          val a = (l(0) + 2 * lt + t(0) + 2) >> 2
          put(0, 1, a); put(1, 3, a)
          val b = (lt + t(0) + 1) >> 1
          put(0, 0, b); put(1, 2, b)
          val c = (t(0) + t(1) + 1) >> 1
          put(1, 0, c); put(2, 2, c)
          val d = (lt + 2 * t(0) + t(1) + 2) >> 2
          put(1, 1, d); put(2, 3, d)
          val e = (t(1) + t(2) + 1) >> 1
          put(2, 0, e); put(3, 2, e)
          val f = (t(0) + 2 * t(1) + t(2) + 2) >> 2
          put(2, 1, f); put(3, 3, f)
          put(3, 0, (t(2) + t(3) + 1) >> 1)
          put(3, 1, (t(1) + 2 * t(2) + t(3) + 2) >> 2)
        case 6 =>
          val a = (lt + l(0) + 1) >> 1
          put(0, 0, a); put(2, 1, a)
          val b = (l(0) + 2 * lt + t(0) + 2) >> 2
          put(1, 0, b); put(3, 1, b)
          put(2, 0, (lt + 2 * t(0) + t(1) + 2) >> 2)
          put(3, 0, (t(0) + 2 * t(1) + t(2) + 2) >> 2)
          val c = (l(0) + l(1) + 1) >> 1
          put(0, 1, c); put(2, 2, c)
          val d = (lt + 2 * l(0) + l(1) + 2) >> 2
          put(1, 1, d); put(3, 2, d)
          val e = (l(1) + l(2) + 1) >> 1
          put(0, 2, e); put(2, 3, e)
          val f = (l(0) + 2 * l(1) + l(2) + 2) >> 2
          put(1, 2, f); put(3, 3, f)
          put(0, 3, (l(2) + l(3) + 1) >> 1)
          put(1, 3, (l(1) + 2 * l(2) + l(3) + 2) >> 2)
        case 7 =>
          put(0, 0, (t(0) + t(1) + 1) >> 1)
          val a = (t(1) + t(2) + 1) >> 1
          put(1, 0, a); put(0, 2, a)
          val b = (t(2) + t(3) + 1) >> 1
          put(2, 0, b); put(1, 2, b)
          val c = (t(3) + t(4) + 1) >> 1
          put(3, 0, c); put(2, 2, c)
          put(3, 2, (t(4) + t(5) + 1) >> 1)
          put(0, 1, (t(0) + 2 * t(1) + t(2) + 2) >> 2)
          val d = (t(1) + 2 * t(2) + t(3) + 2) >> 2
          put(1, 1, d); put(0, 3, d)
          val e = (t(2) + 2 * t(3) + t(4) + 2) >> 2
          put(2, 1, e); put(1, 3, e)
          val f = (t(3) + 2 * t(4) + t(5) + 2) >> 2
          put(3, 1, f); put(2, 3, f)
          put(3, 3, (t(4) + 2 * t(5) + t(6) + 2) >> 2)
        case 8 =>
          put(0, 0, (l(0) + l(1) + 1) >> 1)
          put(1, 0, (l(0) + 2 * l(1) + l(2) + 2) >> 2)
          val a = (l(1) + l(2) + 1) >> 1
          put(2, 0, a); put(0, 1, a)
          val b = (l(1) + 2 * l(2) + l(3) + 2) >> 2
          put(3, 0, b); put(1, 1, b)
          val c = (l(2) + l(3) + 1) >> 1
          put(2, 1, c); put(0, 2, c)
          val d = (l(2) + 3 * l(3) + 2) >> 2
          put(3, 1, d); put(1, 2, d)
          for ((x, y) <- Seq((2, 2), (3, 2), (0, 3), (1, 3), (2, 3), (3, 3)))
            put(x, y, l(3))
      }
      s
    }
    val modeGrid2 = Array.fill(8 * 8)(-1)
    for (mbi <- 1 to 3) {
      val (mbx, mby) = (mbi % 2, mbi / 2)
      for (b <- 0 until 16) {
        val gx = mbx * 4 + bX(b)
        val gy = mby * 4 + bY(b)
        val mode = pickMode(b + 16 * mbi, gx > 0, gy > 0)
        modeGrid2(gy * 8 + gx) = mode
        val px = gx * 4
        val py = gy * 4
        val t = Array.fill(8)(-1)
        val l = Array.fill(4)(-1)
        if (gy > 0) {
          for (i <- 0 until 4) t(i) = plane((py - 1) * 32 + px + i)
          val trOk = gx + 1 < 8 && decoded((gy - 1) * 8 + gx + 1)
          for (i <- 4 until 8)
            t(i) = if (trOk) plane((py - 1) * 32 + px + i) else t(3)
        }
        if (gx > 0) for (i <- 0 until 4) l(i) = plane((py + i) * 32 + px - 1)
        val lt = if (gx > 0 && gy > 0) plane((py - 1) * 32 + px - 1) else -1
        val s = unrolled(mode, t, l, lt)
        for (y <- 0 until 4; x <- 0 until 4)
          plane((py + y) * 32 + px + x) = s(y * 4 + x)
        decoded(gy * 8 + gx) = true
      }
    }
    // the two mode grids must agree (encoder and simulation share
    // pickMode but derive prediction independently of the decoder)
    assert(modeGrid2.count(_ >= 0) == 48)
    assert((0 until 9).forall(m => modeGrid2.contains(m)), "all 9 modes present")
    var mismatches = 0
    for (y <- 0 until 32; x <- 0 until 32) {
      if ((got(y * 32 + x) & 0xff) != plane(y * 32 + x)) {
        if (mismatches < 5)
          info(s"pixel ($x,$y): decoder ${got(y * 32 + x) & 0xff} vs " +
            s"independent ${plane(y * 32 + x)} (mode ${modeGrid2((y / 4) * 8 + x / 4)})")
        mismatches += 1
      }
    }
    assert(mismatches == 0, s"$mismatches pixels differ")
  }

  test("CAVLC macroblocks REFUSE by name when the stream does not " +
      "disable in-loop deblocking (the filter is normative; skipping it " +
      "silently would ship wrong pixels)") {
    // same fixture slice but under a PPS with deblocking control absent
    val slice = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0)
      // no deblock idc: PPS has no control flag
      w.ue(3); w.ue(0); w.se(0)
      Cavlc.encodeResidualBlock(w, new Array[Int](16), 0, 16)
      w.rbspTrailing()
      w.bytes
    }
    val stream = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
        out += 0; out += 0; out += 0; out += 1
        out += ((refIdc << 5) | tpe).toByte
        out ++= VideoBitstream.escapeRbsp(rbsp)
      }
      nal(3, 7, VideoBitstream.syntheticSpsRbsp(1, 1))
      nal(3, 8, H264Decode.realPpsRbsp)
      nal(3, 5, slice)
      out.toArray
    }
    val out = H264Decode.decodeIdr(
      Seq((0L, stream)).toDF("doc_id", "payload")).collect().head
    assert(out.getAs[String]("decode_error") ==
      "in-loop deblocking not implemented (stream does not disable it)")
  }
}
