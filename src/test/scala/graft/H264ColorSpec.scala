package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Full-color IDR decode ([[H264Decode.decodeIdrColor]]): §8.3.4 chroma
  * prediction (DC corner-preference rules pixel-visible under distinct
  * left/top references, horizontal, vertical), the §8.5.11 2×2 DC
  * Hadamard + dequant closed form at qPc 28, I_PCM chroma passthrough,
  * and the named refusals guarding the chroma envelope.
  */
class H264ColorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def colorClip(v: (Int, Int, Int, Int), u: (Int, Int, Int),
      w: (Int, Int, Int)) =
    Seq(Tuple1(0L)).toDF("doc_id").select(col("doc_id"),
      H264Decode.syntheticColorAnnexB(lit(v._1), lit(v._2), lit(v._3),
        lit(v._4), lit(u._1), lit(u._2), lit(u._3), lit(w._1), lit(w._2),
        lit(w._3)).as("payload"))

  test("e2e: the color fixture decodes Y/Cb/Cr to the quadrant closed " +
      "forms, including the §8.3.4.1 DC corner-preference quadrants") {
    val out = H264Decode.decodeIdrColor(
      colorClip((5, 2, 3, 1), (4, 2, 1), (3, 1, 2))).collect()(0)
    assert(out.getAs[String]("decode_error") == null, out.toString)
    assert(out.getAs[Int]("frame_width") == 32)
    // luma: c0=133 c1=135 c2=136 c3=((135+136+1)>>1)+1=137
    assert(math.abs(out.getAs[Double]("y_mean") - 541.0 / 4) < 1e-9)
    // Cb: M0=136, A=140 (horizontal+2·2), B=138 (vertical+2·1);
    // MB3 quadrants (139, 140, 138, 139)
    assert(math.abs(out.getAs[Double]("cb_mean") - 35392.0 / 256) < 1e-9,
      out.getAs[Double]("cb_mean").toString)
    // Cr: M0=134, A=136, B=138; MB3 quadrants (137, 136, 138, 137)
    assert(math.abs(out.getAs[Double]("cr_mean") - 34880.0 / 256) < 1e-9,
      out.getAs[Double]("cr_mean").toString)
    val cb = out.getAs[Array[Byte]]("cb_plane")
    // MB0 constant, MB1/MB2 constants
    assert((cb(3 * 16 + 3) & 0xff) == 136)
    assert((cb(3 * 16 + 12) & 0xff) == 140) // MB1
    assert((cb(12 * 16 + 3) & 0xff) == 138) // MB2
    // MB3's four 4x4 quadrants pin the §8.3.4.1 preferences: block 1
    // (top-right) takes TOP (=MB1=140), block 2 (bottom-left) takes
    // LEFT (=MB2=138), blocks 0/3 average both (139)
    assert((cb(9 * 16 + 9) & 0xff) == 139)
    assert((cb(9 * 16 + 13) & 0xff) == 140)
    assert((cb(13 * 16 + 9) & 0xff) == 138)
    assert((cb(13 * 16 + 13) & 0xff) == 139)
  }

  test("grayscale fixture: zero chroma coefficients decode flat-128 " +
      "chroma regardless of luma content") {
    val out = H264Decode.decodeIdrColor(
      colorClip((5, 2, 3, 1), (0, 0, 0), (0, 0, 0))).collect()(0)
    assert(out.getAs[String]("decode_error") == null, out.toString)
    assert(out.getAs[Double]("cb_mean") == 128.0)
    assert(out.getAs[Double]("cr_mean") == 128.0)
    assert(out.getAs[Double]("chroma_energy") == 0.0) // grayscale gate
    assert(out.getAs[Array[Byte]]("cb_plane").forall(_ == -128))
  }

  test("I_PCM chroma: pcm chroma samples land in the planes verbatim " +
      "(constant 128 in the gradient fixture)") {
    val df = Seq(Tuple1(0L)).toDF("doc_id").select(col("doc_id"),
      H264Decode.syntheticIPcmAnnexB(lit(2), lit(2), lit(40), lit(3))
        .as("payload"))
    val out = H264Decode.decodeIdrColor(df).collect()(0)
    assert(out.getAs[String]("decode_error") == null, out.toString)
    assert(out.getAs[Double]("cb_mean") == 128.0)
    assert(out.getAs[Double]("cr_mean") == 128.0)
    // luma matches the plain decodeIdr result
    val plain = H264Decode.decodeIdr(df).collect()(0)
    assert(out.getAs[Double]("y_mean") == plain.getAs[Double]("y_mean"))
  }

  test("chroma refusals are NAMED: qPi >= 30 (Table 8-15's bent " +
      "region), monochrome, scaling matrices; luma-only decode still " +
      "succeeds on the same streams") {
    // PPS at QP 28 with chroma_qp_index_offset 2 → qPi 30
    val pps30 = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(0); w.u(0, 1); w.u(0, 1); w.ue(0); w.ue(0); w.ue(0)
      w.u(0, 1); w.u(0, 2); w.se(2); w.se(0)
      w.se(2) // chroma_qp_index_offset = 2
      w.u(1, 1); w.u(0, 1); w.u(0, 1)
      w.rbspTrailing(); w.bytes
    }
    def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Array[Byte] =
      Array[Byte](0, 0, 0, 1, ((refIdc << 5) | tpe).toByte) ++
        VideoBitstream.escapeRbsp(rbsp)
    val clip30 = nal(3, 7, VideoBitstream.syntheticSpsRbsp(2, 2)) ++
      nal(3, 8, pps30) ++
      nal(3, 5, H264Decode.i16ColorSliceRbsp(5, 2, 3, 1, 4, 2, 1, 3, 1, 2))
    val r30 = H264Decode.decodeIdrColor(
      Seq((0L, clip30)).toDF("doc_id", "payload")).collect()(0)
    assert(r30.getAs[String]("decode_error") != null &&
      r30.getAs[String]("decode_error").contains("Table 8-15"),
      r30.toString)
    // the SAME stream decodes luma-only (the chroma gate must not
    // narrow the existing envelope)
    val lOnly = H264Decode.decodeIdr(
      Seq((0L, clip30)).toDF("doc_id", "payload")).collect()(0)
    assert(lOnly.getAs[String]("decode_error") == null, lOnly.toString)
    // scaling matrices refuse by the chroma-list name
    val clipSm = nal(3, 7, VideoBitstream.syntheticHighSpsRbsp(2, 2,
        Array.fill(16)(16))) ++
      nal(3, 8, H264Decode.cavlcPpsRbsp) ++
      nal(3, 5, H264Decode.i16ColorSliceRbsp(5, 2, 3, 1, 4, 2, 1, 3, 1, 2))
    val rSm = H264Decode.decodeIdrColor(
      Seq((0L, clipSm)).toDF("doc_id", "payload")).collect()(0)
    assert(rSm.getAs[String]("decode_error") != null &&
      rSm.getAs[String]("decode_error").contains("chroma weight lists"),
      rSm.toString)
  }

  test("MP4 color keyframes: the fetch-only-keyframes route decodes " +
      "every sync sample to closed-form Y/Cb/Cr; non-sync samples are " +
      "skipped; luma matches the luma-only route") {
    // 5 samples, sync every 2nd → sync samples 1, 3, 5 (k = 0, 2, 4)
    val df = Seq(Tuple1(0L)).toDF("doc_id").select(col("doc_id"),
      H264Decode.syntheticColorMp4(lit(5), lit(2), lit(5), lit(2), lit(3),
        lit(4), lit(2), lit(3), lit(1)).as("payload"))
    val out = H264Decode.decodeMp4KeyframesColor(df).orderBy("sample_idx")
      .collect()
    assert(out.length == 3, out.mkString("\n"))
    assert(out.forall(_.getAs[String]("decode_error") == null),
      out.map(_.getAs[String]("decode_error")).mkString(";"))
    assert(out.map(_.getAs[Int]("sample_idx")).toSeq == Seq(1, 3, 5))
    // luma: c0 = 128 + 5 + k, chain (v1=2, v2=3, v3=1); chroma constant
    // across keyframes: Cb M0=136/A=140, Cr M0=134/A=136
    for ((r, k) <- out.zip(Seq(0, 2, 4))) {
      val c0 = 133 + k
      val c1 = c0 + 2
      val c2 = c0 + 3
      val c3 = ((c1 + c2 + 1) >> 1) + 1
      assert(math.abs(r.getAs[Double]("y_mean") - (c0 + c1 + c2 + c3) / 4.0)
        < 1e-9, s"k=$k")
      assert(math.abs(r.getAs[Double]("cb_mean") -
        (64.0 * 136 + 192.0 * 140) / 256) < 1e-9)
      assert(math.abs(r.getAs[Double]("cr_mean") -
        (64.0 * 134 + 192.0 * 136) / 256) < 1e-9)
    }
    // the shared walk must leave the luma-only route identical
    val plain = H264Decode.decodeMp4Keyframes(df).orderBy("sample_idx")
      .collect()
    assert(plain.map(_.getAs[Double]("y_mean")).toSeq ==
      out.map(_.getAs[Double]("y_mean")).toSeq)
  }

  test("chroma plane-mode prediction reproduces a bilinear ramp " +
      "exactly at interior gradients") {
    // build a color clip whose MB0 fills chroma 136/134, then decode a
    // SECOND fixture... plane mode needs left+top, so drive it directly:
    // construct a chroma plane with a bilinear ramp in MB0 and predict
    // MB3? predictChroma8 is decodeISlice-internal — pin plane mode via
    // a stream instead: MB3 with chroma_pred_mode 3 over the A/B
    // references of the e2e fixture
    val slice = {
      val w = new VideoBitstream.BitWriter
      // header identical to the fixture writer's
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0); w.ue(1)
      def mb(cbpChroma: Int, chromaPred: Int, vLuma: Int, uCb: Int,
          uCr: Int): Unit = {
        w.ue(1 + 2 + 4 * cbpChroma)
        w.ue(chromaPred)
        w.se(0)
        val dc = new Array[Int](16); dc(0) = vLuma
        Cavlc.encodeResidualBlock(w, dc, 0, 16)
        if (cbpChroma >= 1) {
          val c = new Array[Int](4); c(0) = uCb
          Cavlc.encodeResidualBlock(w, c, -1, 4)
          val c2 = new Array[Int](4); c2(0) = uCr
          Cavlc.encodeResidualBlock(w, c2, -1, 4)
        }
      }
      mb(1, 0, 5, 4, 3)
      mb(1, 1, 2, 2, 1)
      mb(1, 2, 3, 1, 2)
      mb(0, 3, 1, 0, 0) // MB3: chroma PLANE mode
      w.rbspTrailing()
      w.bytes
    }
    def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Array[Byte] =
      Array[Byte](0, 0, 0, 1, ((refIdc << 5) | tpe).toByte) ++
        VideoBitstream.escapeRbsp(rbsp)
    val clip = nal(3, 7, VideoBitstream.syntheticSpsRbsp(2, 2)) ++
      nal(3, 8, H264Decode.cavlcPpsRbsp) ++ nal(3, 5, slice)
    val out = H264Decode.decodeIdrColor(
      Seq((0L, clip)).toDF("doc_id", "payload")).collect()(0)
    assert(out.getAs[String]("decode_error") == null, out.toString)
    // §8.3.4.4 over constant-per-side refs: top row T = 140 (MB1),
    // left col L = 138 (MB2), corner tl = 136 (MB0's corner pixel):
    // H = Σ(i+1)(t[4+i] − tAt[2−i]) — t all 140 except tAt(−1)=136 at
    // i=3 → H = 4·4 = 16; V: l all 138, lAt(−1)=136 → V = 4·2 = 8;
    // a = 16·(138+140) = 4448; b = (34·16+32)>>6 = 9; c = (34·8+32)>>6
    // = 4 (floor 4.75); pred(x,y) = (4448 + 9(x−3) + 4(y−3) + 16)>>5
    val cb = out.getAs[Array[Byte]]("cb_plane")
    for (y <- 0 until 8; x <- 0 until 8) {
      val want = math.min(255, math.max(0,
        (4448 + 9 * (x - 3) + 4 * (y - 3) + 16) >> 5))
      assert((cb((8 + y) * 16 + 8 + x) & 0xff) == want, s"($x,$y)")
    }
  }
}
