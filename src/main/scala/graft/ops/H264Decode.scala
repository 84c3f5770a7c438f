package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** REAL H.264 pixel decode — I_PCM macroblocks (ITU-T H.264 §7.3.5 /
  * §8.3.5: raw samples) AND Intra_16x16 CAVLC macroblocks (entropy-coded
  * residuals through the [[Cavlc]] layer: coeff_token / levels /
  * total_zeros / run_before per §9.2, DC Hadamard + dequant per §8.5.10,
  * AC dequant §8.5.12.1, inverse 4×4 transform §8.5.12.2, and all four
  * §8.3.3 Intra_16x16 prediction modes). The reference (SDM-RDFizer) has
  * zero video handling; this is beyond-reference plumbing. The CAVLC
  * layer carries EVERY Table 9-5/9-7/9-10 column (all coeff_token nC
  * ranges including 2 ≤ nC < 8, all total_zeros TotalCoeff 1–15 — each
  * pinned by CavlcSpec's Kraft-sum/prefix tripwires), and ALL THREE
  * intra macroblock classes decode for real — I_PCM, Intra_16x16, and
  * Intra_4x4 (per-block §8.3.1 mode prediction + all nine spatial
  * predictors, Table 9-4 me(v) cbp) — so real baseline I-frames decode.
  * What remains behind the [[Multimodal.decodeStub]] seam refuses BY
  * NAME per clip: CABAC entropy coding, 8×8 transforms and scaling
  * matrices, inter prediction, High-profile deep level escapes, and
  * streams that do not disable in-loop deblocking.
  *
  * Two entry points, both narrow per-partition maps (one clip's bytes
  * plus one decoded plane in memory per task, no shuffle, per-clip/
  * per-sample error degradation):
  *   - [[decodeIdr]]: Annex-B streams (start-code delimited) —
  *     decode the first IDR.
  *   - [[decodeMp4Keyframes]]: MP4 clips — SPS/PPS from the avcC
  *     decoder record, keyframes located by the stss/stsc/stco/stsz
  *     tables, each sync sample's length-prefixed NALs decoded. This is
  *     the promised 100 TB shape end-to-end: the byte-range table says
  *     where the keyframes are, and ONLY those bytes are decoded.
  */
object H264Decode {

  /** The PPS fields an intra IDR decode needs (H.264 §7.3.2.2).
    * `transform8x8` / `scalingMatrix` come from the optional trailing
    * extension — both change residual decode semantics this decoder
    * does not carry, so they refuse by name downstream.
    */
  private[ops] final case class PpsInfo(entropyCabac: Boolean,
      numSliceGroups: Int, deblockControlPresent: Boolean,
      redundantPicCntPresent: Boolean, bottomFieldPocPresent: Boolean,
      picInitQp: Int = 26, transform8x8: Boolean = false,
      constrainedIntraPred: Boolean = false,
      chromaQpOffset: Int = 0,
      scalingMatrix: Boolean = false,
      // PPS §7.3.2.2 pic_scaling_matrix: like SpsInfo, the luma-intra
      // 4×4 list (i = 0) and — when transform_8x8_mode adds lists —
      // the 8×8 intra list (i = 6) are retained; luma-only decode
      lumaIntra4x4List: Array[Int] = null,
      lumaIntra4x4Default: Boolean = false,
      lumaIntra8x8List: Array[Int] = null,
      lumaIntra8x8Default: Boolean = false,
      luma8x8ListPresent: Boolean = false)

  private[ops] def parsePps(rbsp: Array[Byte]): PpsInfo = {
    val r = new VideoBitstream.BitReader(rbsp)
    r.ue() // pic_parameter_set_id
    r.ue() // seq_parameter_set_id
    val cabac = r.u1() == 1
    val bottomPoc = r.u1() == 1
    val sliceGroups = r.ue() + 1
    if (sliceGroups > 1)
      // slice_group_map parsing skipped: the decoder refuses FMO outright,
      // so the remaining fields are never consulted
      PpsInfo(cabac, sliceGroups, deblockControlPresent = false,
        redundantPicCntPresent = false, bottomFieldPocPresent = bottomPoc)
    else {
      r.ue(); r.ue() // num_ref_idx_l0/l1_default_active_minus1
      r.u1() // weighted_pred_flag
      r.u(2) // weighted_bipred_idc
      val initQp = 26 + r.se() // pic_init_qp_minus26: the QPY base
      r.se() // pic_init_qs_minus26
      val cqpo = r.se() // chroma_qp_index_offset (chroma reconstruction)
      val deblock = r.u1() == 1
      val constrained = r.u1() == 1 // constrained_intra_pred_flag
      val redundant = r.u1() == 1
      // optional §7.3.2.2 extension (High profile): transform_8x8_mode,
      // pic_scaling_matrix (lists PARSED — transmitted luma-intra lists
      // decode; only default-table demands refuse), then
      // second_chroma_qp_index_offset (unread — luma-only decode)
      val (t8, scaling) =
        if (r.moreRbspData) (r.u1() == 1, r.u1() == 1) else (false, false)
      var lumaList: Array[Int] = null
      var lumaDefault = false
      var luma8List: Array[Int] = null
      var luma8Default = false
      var luma8Present = false
      if (scaling) {
        // ≤ 4:2:0 list count (the decoder refuses chroma_format_idc > 1
        // upstream, so the 4:4:4 12-list layout never reaches here)
        val lists = 6 + (if (t8) 2 else 0)
        var i = 0
        while (i < lists) {
          if (r.u1() == 1) { // pic_scaling_list_present_flag[i]
            val (list, useDefault) =
              VideoBitstream.parseScalingList(r, if (i < 6) 16 else 64)
            if (i == 0) { lumaList = list; lumaDefault = useDefault }
            if (i == 6) {
              luma8List = list; luma8Default = useDefault
              luma8Present = true
            }
          }
          // absent at i = 0 (and i = 6): fields stay unset — fall-back
          // rule B (SPS list if the SPS carries matrices, else the
          // default) resolves at slice decode where the SPS is in scope
          i += 1
        }
      }
      PpsInfo(cabac, sliceGroups, deblock, redundant, bottomPoc, initQp,
        transform8x8 = t8, constrainedIntraPred = constrained,
        chromaQpOffset = cqpo,
        scalingMatrix = scaling,
        lumaIntra4x4List = lumaList, lumaIntra4x4Default = lumaDefault,
        lumaIntra8x8List = luma8List, lumaIntra8x8Default = luma8Default,
        luma8x8ListPresent = luma8Present)
    }
  }

  /** 4×4 zigzag scan: scan index → raster index (H.264 Figure 8-8). */
  private[ops] val Zigzag4x4 = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** normAdjust4x4 (Table 8-15 values by position class): class 0 =
    * both-even positions, class 1 = both-odd, class 2 = mixed.
    */
  private val NormAdjust = Array(
    Array(10, 16, 13), Array(11, 18, 14), Array(13, 20, 16),
    Array(14, 23, 18), Array(16, 25, 20), Array(18, 29, 23))

  /** Flat_4x4_16 (§8.5.9: weightScale when no scaling matrix applies). */
  private[ops] val Flat4x4: Array[Int] = Array.fill(16)(16)

  /** Resolve the LUMA-INTRA 4×4 weight matrix for an I-slice decode —
    * §7.3.2.1.1.1 / §7.3.2.2 fall-back rules restricted to list 0 (the
    * only list a luma-only intra decode consults). Transmitted lists
    * decode (they are DATA FROM THE STREAM, not recalled spec numbers);
    * any path that lands on the spec's Default_4x4_Intra table (Table
    * 7-3) refuses BY NAME under the table policy. Returns raster-indexed
    * weights ([[Flat4x4]] when no matrices are in effect).
    */
  private[ops] def resolveLumaIntraWeights(sps: VideoBitstream.SpsInfo,
      pps: PpsInfo,
      pack: Option[ConfPack.Pack] = None): Either[String, Array[Int]] = {
    def raster(zigzag: Array[Int]): Array[Int] = {
      val w = new Array[Int](16)
      var k = 0
      while (k < 16) { w(Zigzag4x4(k)) = zigzag(k); k += 1 }
      w
    }
    // a resolution landing on the spec's default table decodes when the
    // conformance pack carries it, refuses naming the slot otherwise
    def refuse = pack.flatMap(_.default4x4Intra) match {
      case Some(d) => Right(raster(d))
      case None => Left("scaling lists demand the spec " +
        "Default_4x4_Intra table (Table 7-3) — transmitted lists " +
        "decode; provide the table via the conformance pack " +
        s"(${ConfPack.SparkConfKey} slot default4x4Intra) to unlock")
    }
    val fromSps: Either[String, Array[Int]] =
      if (!sps.scalingMatrixPresent) Right(Flat4x4)
      else if (sps.lumaIntra4x4Default || sps.lumaIntra4x4List == null) refuse
      else Right(raster(sps.lumaIntra4x4List))
    if (!pps.scalingMatrix) fromSps
    else if (pps.lumaIntra4x4Default) refuse
    else if (pps.lumaIntra4x4List != null) Right(raster(pps.lumaIntra4x4List))
    else if (sps.scalingMatrixPresent) fromSps // rule B: PPS absent → SPS
    else refuse // rule B with no SPS matrices → the default table
  }

  /** Chroma machinery of the I-slice decoder (4:2:0, 8×8 per
    * component): residual PARSE that keeps the bit walk
    * aligned regardless, plus — when `color` (Array(cb, cr) planes) is
    * non-null — full reconstruction: §8.3.4 intra prediction (DC
    * corner-preference rules / horizontal / vertical / plane), the
    * §8.5.11 2×2 DC Hadamard + dequant at qPc (identity Table 8-15
    * region only — the bent column refuses by name), chroma AC dequant,
    * and I_PCM passthrough. One instance per slice; scratch reused
    * across MBs.
    */
  private[ops] final class ChromaCtx(val color: Array[Array[Byte]],
      mbw: Int, chromaQpOffset: Int,
      // Table 8-15's bent column for qPi 30..51 (conformance-pack slot
      // qpcBent); null = only the identity region (qPi < 30) decodes
      qpcBent: Array[Int] = null) {
    val cw = mbw * 8
    private val pred8c = new Array[Int](64)
    private val dcs = Array.ofDim[Int](2, 4)
    private val dC = new Array[Int](16)
    private val cBlkX = Array(0, 1, 0, 1)
    private val cBlkY = Array(0, 0, 1, 1)

    /** §8.3.4 prediction for component plane `plane` into pred8c. */
    private def predictChroma8(plane: Array[Byte], mode: Int,
        mbx: Int, mby: Int): String = {
      val px = mbx * 8
      val py = mby * 8
      val leftOk = mbx > 0
      val topOk = mby > 0
      def at(x: Int, y: Int): Int = plane(y * cw + x) & 0xff
      val t = new Array[Int](8)
      val l = new Array[Int](8)
      if (topOk) { var i = 0; while (i < 8) { t(i) = at(px + i, py - 1); i += 1 } }
      if (leftOk) { var i = 0; while (i < 8) { l(i) = at(px - 1, py + i); i += 1 } }
      def s4(a: Array[Int], from: Int): Int =
        a(from) + a(from + 1) + a(from + 2) + a(from + 3)
      mode match {
        case 0 => // DC: §8.3.4.1's per-block side preferences
          val v = new Array[Int](4)
          v(0) = if (topOk && leftOk) (s4(t, 0) + s4(l, 0) + 4) >> 3
            else if (leftOk) (s4(l, 0) + 2) >> 2
            else if (topOk) (s4(t, 0) + 2) >> 2 else 128
          v(1) = if (topOk) (s4(t, 4) + 2) >> 2
            else if (leftOk) (s4(l, 0) + 2) >> 2 else 128
          v(2) = if (leftOk) (s4(l, 4) + 2) >> 2
            else if (topOk) (s4(t, 0) + 2) >> 2 else 128
          v(3) = if (topOk && leftOk) (s4(t, 4) + s4(l, 4) + 4) >> 3
            else if (leftOk) (s4(l, 4) + 2) >> 2
            else if (topOk) (s4(t, 4) + 2) >> 2 else 128
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              pred8c(y * 8 + x) = v((y >> 2) * 2 + (x >> 2))
              x += 1
            }
            y += 1
          }
        case 1 => // Horizontal
          if (!leftOk) return "chroma horizontal predictor unavailable"
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) { pred8c(y * 8 + x) = l(y); x += 1 }
            y += 1
          }
        case 2 => // Vertical
          if (!topOk) return "chroma vertical predictor unavailable"
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) { pred8c(y * 8 + x) = t(x); x += 1 }
            y += 1
          }
        case _ => // Plane (§8.3.4.4, C = 8)
          if (!leftOk || !topOk)
            return "chroma plane predictor unavailable"
          val tl = at(px - 1, py - 1)
          def tAt(i: Int): Int = if (i < 0) tl else t(i)
          def lAt(i: Int): Int = if (i < 0) tl else l(i)
          var hAcc = 0
          var vAcc = 0
          var i = 0
          while (i < 4) {
            hAcc += (i + 1) * (t(4 + i) - tAt(2 - i))
            vAcc += (i + 1) * (l(4 + i) - lAt(2 - i))
            i += 1
          }
          val a = 16 * (l(7) + t(7))
          val b = (34 * hAcc + 32) >> 6
          val c = (34 * vAcc + 32) >> 6
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val v = (a + b * (x - 3) + c * (y - 3) + 16) >> 5
              pred8c(y * 8 + x) = if (v < 0) 0 else if (v > 255) 255 else v
              x += 1
            }
            y += 1
          }
      }
      null
    }

    /** Parse (and reconstruct, when planes are attached) one MB's chroma
      * residual. `nCFor(comp, cx, cy)` / `nCSet(comp, cx, cy, tc)` bind
      * the caller's per-component nC grids.
      */
    def stage(rd: VideoBitstream.BitReader, cbpChroma: Int,
        chromaPred: Int, mbx: Int, mby: Int, qPYNow: Int,
        nCFor: (Int, Int, Int) => Int,
        nCSet: (Int, Int, Int, Int) => Unit): String = {
      // qPc (§8.5.8): qPi = Clip3(0, 51, QPY + offset); the Table 8-15
      // compression only bends the curve from qPi 30 — below, qPc = qPi
      // exactly, which is the decoded envelope (the table's bent region
      // is not conformance-anchored here)
      var qPc = 0
      if (color != null) {
        val qPi = math.max(0, math.min(51, qPYNow + chromaQpOffset))
        if (qPi < 30) qPc = qPi // identity region of Table 8-15
        else if (qpcBent != null) qPc = qpcBent(qPi - 30)
        else
          return s"chroma QP mapping for qPi $qPi not carried " +
            "(Table 8-15's qPc column bends from qPi 30; provide it " +
            s"via the conformance pack (${ConfPack.SparkConfKey} slot " +
            "qpcBent) to unlock; qPi < 30 maps identically and decodes)"
      }
      if (cbpChroma >= 1) {
        var comp = 0
        while (comp < 2) {
          val (scan, _) = Cavlc.decodeResidualBlock(rd, -1, 4)
          if (color != null) {
            // 2×2 inverse Hadamard (§8.5.11): f = H·c·H, raster c
            val f0 = scan(0) + scan(1) + scan(2) + scan(3)
            val f1 = scan(0) - scan(1) + scan(2) - scan(3)
            val f2 = scan(0) + scan(1) - scan(2) - scan(3)
            val f3 = scan(0) - scan(1) - scan(2) + scan(3)
            val ls = 16 * NormAdjust(qPc % 6)(0) // flat weight 16
            dcs(comp)(0) = ((f0 * ls) << (qPc / 6)) >> 5
            dcs(comp)(1) = ((f1 * ls) << (qPc / 6)) >> 5
            dcs(comp)(2) = ((f2 * ls) << (qPc / 6)) >> 5
            dcs(comp)(3) = ((f3 * ls) << (qPc / 6)) >> 5
          }
          comp += 1
        }
      } else if (color != null) {
        java.util.Arrays.fill(dcs(0), 0)
        java.util.Arrays.fill(dcs(1), 0)
      }
      var comp = 0
      while (comp < 2) {
        // prediction BEFORE this component's blocks are written
        // (reads neighbouring MBs' reconstructed chroma only)
        if (color != null) {
          val bad = predictChroma8(color(comp), chromaPred, mbx, mby)
          if (bad != null) return bad
        }
        var cb = 0
        while (cb < 4) {
          val cx = mbx * 2 + cBlkX(cb)
          val cy = mby * 2 + cBlkY(cb)
          java.util.Arrays.fill(dC, 0)
          var tcC = 0
          if (cbpChroma == 2) {
            val (acScan, total) =
              Cavlc.decodeResidualBlock(rd, nCFor(comp, cx, cy), 15)
            tcC = total
            if (color != null) {
              var i = 0
              while (i < 15) {
                val raster = Zigzag4x4(i + 1)
                dC(raster) = dequantAc(acScan(i), raster, qPc, Flat4x4)
                i += 1
              }
            }
          }
          nCSet(comp, cx, cy, tcC)
          if (color != null) {
            dC(0) = dcs(comp)(cb)
            idct4x4(dC)
            val plane = color(comp)
            val bx = mbx * 8 + cBlkX(cb) * 4
            val by = mby * 8 + cBlkY(cb) * 4
            var yy = 0
            while (yy < 4) {
              var xx = 0
              while (xx < 4) {
                plane((by + yy) * cw + bx + xx) = clip1(
                  pred8c((cBlkY(cb) * 4 + yy) * 8 + cBlkX(cb) * 4 + xx) +
                    dC(yy * 4 + xx))
                xx += 1
              }
              yy += 1
            }
          }
          cb += 1
        }
        comp += 1
      }
      null
    }
  }

  /** [[resolveLumaIntraWeights]]'s 8×8 twin — the Sl_8x8_Intra_Y list
    * (index 6) under the same §7.3.2 fall-back rules; consulted only
    * when the PPS enables transform_8x8_mode. Transmitted lists decode;
    * any path landing on the spec's Default_8x8_Intra table refuses by
    * name (table policy). Returns raster-indexed weights.
    */
  private[ops] def resolveLumaIntra8x8Weights(sps: VideoBitstream.SpsInfo,
      pps: PpsInfo,
      pack: Option[ConfPack.Pack] = None): Either[String, Array[Int]] = {
    def raster(zigzag: Array[Int]): Array[Int] = {
      val w = new Array[Int](64)
      var k = 0
      while (k < 64) { w(Zigzag8x8(k)) = zigzag(k); k += 1 }
      w
    }
    def refuse = pack.flatMap(_.default8x8Intra) match {
      case Some(d) => Right(raster(d))
      case None => Left("scaling lists demand the spec " +
        "Default_8x8_Intra table — transmitted lists decode; provide " +
        "the table via the conformance pack " +
        s"(${ConfPack.SparkConfKey} slot default8x8Intra) to unlock")
    }
    val fromSps: Either[String, Array[Int]] =
      if (!sps.scalingMatrixPresent) Right(Flat8x8)
      else if (sps.lumaIntra8x8Default || sps.lumaIntra8x8List == null) refuse
      else Right(raster(sps.lumaIntra8x8List))
    if (!pps.scalingMatrix) fromSps
    else if (pps.lumaIntra8x8Default) refuse
    else if (pps.lumaIntra8x8List != null) Right(raster(pps.lumaIntra8x8List))
    else if (sps.scalingMatrixPresent) fromSps // rule B: PPS absent → SPS
    else refuse // rule B with no SPS matrices → the default table
  }

  /** Intra_8x8 spatial prediction (§8.3.2.2.2–10) for the block at
    * global 8×8 coords (bx8, by8) over the in-progress plane, WITH the
    * §8.3.2.2.1 reference-sample low-pass filtering the 8×8 path adds
    * over Intra_4x4. Fills `p8` (64, raster) or returns the named
    * refusal when the signalled mode's references are unavailable.
    * p[8..15,−1] substitutes p[7,−1] when the above-right block is
    * outside the picture or not yet decoded (§8.3.2.2).
    */
  private[ops] def predictIntra8x8(mode: Int, bx8: Int, by8: Int,
      luma: Array[Byte], w: Int, mbw: Int, p8: Array[Int]): String = {
    val px = bx8 * 8
    val py = by8 * 8
    val leftOk = bx8 > 0
    val topOk = by8 > 0
    val tlOk = leftOk && topOk
    def at(x: Int, y: Int): Int = luma(y * w + x) & 0xff
    // the 8 above-right samples belong to 8x8 block (bx8+1, by8−1):
    // available iff inside the picture AND decoded before current
    // (raster MBs; raster 8x8 blocks within an MB)
    val trOk = topOk && bx8 + 1 < mbw * 2 && {
      val tmb = ((by8 - 1) >> 1) * mbw + ((bx8 + 1) >> 1)
      val cmb = (by8 >> 1) * mbw + (bx8 >> 1)
      tmb < cmb || (tmb == cmb &&
        ((by8 - 1) & 1) * 2 + ((bx8 + 1) & 1) < (by8 & 1) * 2 + (bx8 & 1))
    }
    val t = new Array[Int](16)
    val l = new Array[Int](8)
    var corner = 0
    if (topOk) {
      var i = 0
      while (i < 8) { t(i) = at(px + i, py - 1); i += 1 }
      while (i < 16) { t(i) = if (trOk) at(px + i, py - 1) else t(7); i += 1 }
    }
    if (leftOk) {
      var i = 0
      while (i < 8) { l(i) = at(px - 1, py + i); i += 1 }
    }
    if (tlOk) corner = at(px - 1, py - 1)
    // §8.3.2.2.1 filtering (under frame_mbs_only without constrained
    // intra, the corner is available exactly when left AND top are, so
    // the one-sided corner variants cannot arise here)
    val tf = new Array[Int](16)
    val lf = new Array[Int](8)
    var cf = 0
    if (topOk) {
      tf(0) = if (tlOk) (corner + 2 * t(0) + t(1) + 2) >> 2
        else (3 * t(0) + t(1) + 2) >> 2
      var i = 1
      while (i < 15) { tf(i) = (t(i - 1) + 2 * t(i) + t(i + 1) + 2) >> 2; i += 1 }
      tf(15) = (t(14) + 3 * t(15) + 2) >> 2
    }
    if (leftOk) {
      lf(0) = if (tlOk) (corner + 2 * l(0) + l(1) + 2) >> 2
        else (3 * l(0) + l(1) + 2) >> 2
      var i = 1
      while (i < 7) { lf(i) = (l(i - 1) + 2 * l(i) + l(i + 1) + 2) >> 2; i += 1 }
      lf(7) = (l(6) + 3 * l(7) + 2) >> 2
    }
    if (tlOk) cf = (t(0) + 2 * corner + l(0) + 2) >> 2
    def tAt(i: Int): Int = if (i < 0) cf else tf(i)
    def lAt(i: Int): Int = if (i < 0) cf else lf(i)
    def fill(f: (Int, Int) => Int): Unit = {
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) { p8(y * 8 + x) = f(x, y); x += 1 }
        y += 1
      }
    }
    mode match {
      case 0 => // Vertical
        if (!topOk) return "Intra_8x8 vertical predictor unavailable"
        fill((x, _) => tf(x))
      case 1 => // Horizontal
        if (!leftOk) return "Intra_8x8 horizontal predictor unavailable"
        fill((_, y) => lf(y))
      case 2 => // DC
        var sum = 0
        var n = 0
        if (topOk) { var i = 0; while (i < 8) { sum += tf(i); i += 1 }; n += 8 }
        if (leftOk) { var i = 0; while (i < 8) { sum += lf(i); i += 1 }; n += 8 }
        val v = if (n == 16) (sum + 8) >> 4
          else if (n == 8) (sum + 4) >> 3 else 128
        java.util.Arrays.fill(p8, v)
      case 3 => // Diagonal Down Left
        if (!topOk) return "Intra_8x8 DDL predictor unavailable"
        fill((x, y) =>
          if (x == 7 && y == 7) (tf(14) + 3 * tf(15) + 2) >> 2
          else (tf(x + y) + 2 * tf(x + y + 1) + tf(x + y + 2) + 2) >> 2)
      case 4 => // Diagonal Down Right
        if (!tlOk) return "Intra_8x8 DDR predictor unavailable"
        fill((x, y) =>
          if (x > y) (tAt(x - y - 2) + 2 * tAt(x - y - 1) + tAt(x - y) + 2) >> 2
          else if (x < y)
            (lAt(y - x - 2) + 2 * lAt(y - x - 1) + lAt(y - x) + 2) >> 2
          else (tf(0) + 2 * cf + lf(0) + 2) >> 2)
      case 5 => // Vertical Right
        if (!tlOk) return "Intra_8x8 VR predictor unavailable"
        fill { (x, y) =>
          val z = 2 * x - y
          if (z >= 0 && (z & 1) == 0)
            (tAt(x - (y >> 1) - 1) + tAt(x - (y >> 1)) + 1) >> 1
          else if (z >= 0)
            (tAt(x - (y >> 1) - 2) + 2 * tAt(x - (y >> 1) - 1) +
              tAt(x - (y >> 1)) + 2) >> 2
          else if (z == -1) (lf(0) + 2 * cf + tf(0) + 2) >> 2
          else (lf(y - 2 * x - 1) + 2 * lf(y - 2 * x - 2) +
            lf(y - 2 * x - 3) + 2) >> 2
        }
      case 6 => // Horizontal Down
        if (!tlOk) return "Intra_8x8 HD predictor unavailable"
        fill { (x, y) =>
          val z = 2 * y - x
          if (z >= 0 && (z & 1) == 0)
            (lAt(y - (x >> 1) - 1) + lAt(y - (x >> 1)) + 1) >> 1
          else if (z >= 0)
            (lAt(y - (x >> 1) - 2) + 2 * lAt(y - (x >> 1) - 1) +
              lAt(y - (x >> 1)) + 2) >> 2
          else if (z == -1) (tf(0) + 2 * cf + lf(0) + 2) >> 2
          else (tf(x - 2 * y - 1) + 2 * tf(x - 2 * y - 2) +
            tf(x - 2 * y - 3) + 2) >> 2
        }
      case 7 => // Vertical Left
        if (!topOk) return "Intra_8x8 VL predictor unavailable"
        fill { (x, y) =>
          if ((y & 1) == 0)
            (tf(x + (y >> 1)) + tf(x + (y >> 1) + 1) + 1) >> 1
          else (tf(x + (y >> 1)) + 2 * tf(x + (y >> 1) + 1) +
            tf(x + (y >> 1) + 2) + 2) >> 2
        }
      case 8 => // Horizontal Up
        if (!leftOk) return "Intra_8x8 HU predictor unavailable"
        fill { (x, y) =>
          val z = x + 2 * y
          if (z > 13) lf(7)
          else if (z == 13) (lf(6) + 3 * lf(7) + 2) >> 2
          else if ((z & 1) == 0)
            (lf(y + (x >> 1)) + lf(y + (x >> 1) + 1) + 1) >> 1
          else (lf(y + (x >> 1)) + 2 * lf(y + (x >> 1) + 1) +
            lf(y + (x >> 1) + 2) + 2) >> 2
        }
      case _ => return s"malformed intra_8x8 prediction mode $mode"
    }
    null
  }

  /** In-place 4×4 inverse core transform (§8.5.12.2) + (x+32)>>6 rounding;
    * `d` is raster order.
    */
  private[ops] def idct4x4(d: Array[Int]): Unit = {
    var i = 0
    while (i < 4) { // rows
      val o = i * 4
      val e0 = d(o) + d(o + 2); val e1 = d(o) - d(o + 2)
      val e2 = (d(o + 1) >> 1) - d(o + 3); val e3 = d(o + 1) + (d(o + 3) >> 1)
      d(o) = e0 + e3; d(o + 1) = e1 + e2; d(o + 2) = e1 - e2; d(o + 3) = e0 - e3
      i += 1
    }
    var j = 0
    while (j < 4) { // columns
      val e0 = d(j) + d(8 + j); val e1 = d(j) - d(8 + j)
      val e2 = (d(4 + j) >> 1) - d(12 + j); val e3 = d(4 + j) + (d(12 + j) >> 1)
      d(j) = (e0 + e3 + 32) >> 6; d(4 + j) = (e1 + e2 + 32) >> 6
      d(8 + j) = (e1 - e2 + 32) >> 6; d(12 + j) = (e0 - e3 + 32) >> 6
      j += 1
    }
  }

  /** 4×4 inverse Hadamard (§8.5.10's f = H·c·H, pure ±1 sums), in place. */
  private[ops] def hadamard4x4(d: Array[Int]): Unit = {
    var i = 0
    while (i < 4) {
      val o = i * 4
      val e0 = d(o) + d(o + 2); val e1 = d(o) - d(o + 2)
      val e2 = d(o + 1) - d(o + 3); val e3 = d(o + 1) + d(o + 3)
      d(o) = e0 + e3; d(o + 1) = e1 + e2; d(o + 2) = e1 - e2; d(o + 3) = e0 - e3
      i += 1
    }
    var j = 0
    while (j < 4) {
      val e0 = d(j) + d(8 + j); val e1 = d(j) - d(8 + j)
      val e2 = d(4 + j) - d(12 + j); val e3 = d(4 + j) + d(12 + j)
      d(j) = e0 + e3; d(4 + j) = e1 + e2; d(8 + j) = e1 - e2; d(12 + j) = e0 - e3
      j += 1
    }
  }

  /** LevelScale4x4(m, i, j) = weightScale(i, j) · normAdjust(m, class)
    * (§8.5.9); `wl` is the raster-indexed weight matrix ([[Flat4x4]] or
    * a stream-transmitted list via [[resolveLumaIntraWeights]]).
    */
  private def levelScale(m: Int, raster: Int, wl: Array[Int]): Int = {
    val r = raster >> 2
    val c = raster & 3
    val cls = if ((r & 1) == 0 && (c & 1) == 0) 0
      else if ((r & 1) == 1 && (c & 1) == 1) 1 else 2
    wl(raster) * NormAdjust(m)(cls)
  }

  /** Luma DC dequant (§8.5.10, 8-bit) applied after the inverse Hadamard.
    * Uses LevelScale4x4(qP%6, 0, 0) — position (0,0)'s weight.
    */
  private[ops] def dequantDc(f: Int, qP: Int, wl: Array[Int]): Int = {
    val ls = levelScale(qP % 6, 0, wl)
    if (qP >= 36) (f * ls) << (qP / 6 - 6)
    else (f * ls + (1 << (5 - qP / 6))) >> (6 - qP / 6)
  }

  /** AC coefficient dequant (§8.5.12.1, 8-bit). */
  private[ops] def dequantAc(c: Int, raster: Int, qP: Int, wl: Array[Int]): Int = {
    val ls = levelScale(qP % 6, raster, wl)
    if (qP >= 24) (c * ls) << (qP / 6 - 4)
    else (c * ls + (1 << (3 - qP / 6))) >> (4 - qP / 6)
  }

  private[ops] def clip1(x: Int): Byte = (if (x < 0) 0 else if (x > 255) 255 else x).toByte

  // ------------------------- 8×8 transform path (High profile intra) ----

  /** 8×8 zigzag scan (Figure 8-9 frame scan — the classic boustrophedon
    * diagonal, identical to the JPEG/MPEG-2 pattern): GENERATED by the
    * diagonal walk rather than transcribed, same discipline as
    * [[Zigzag4x4]] (which the walk also reproduces — pinned in spec).
    */
  private[ops] val Zigzag8x8: Array[Int] = zigzagScan(8)

  private[ops] def zigzagScan(n: Int): Array[Int] = {
    val out = new Array[Int](n * n)
    var x = 0
    var y = 0
    var up = true
    var k = 0
    while (k < n * n) {
      out(k) = y * n + x
      if (up) {
        if (x == n - 1) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == n - 1) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
      k += 1
    }
    out
  }

  /** §8.5.9 normAdjust8x8 (the 8×8 dequant scale, Table 8-15's v
    * column layout): six QP%6 rows × six position classes. The classes
    * partition the 8×8 grid by basis-norm products of the three
    * distinct 1-D basis magnitudes (rows {0,4} / odd rows / rows
    * {2,6}): aa, bb, cc, ab, ac, bc — so the table satisfies the
    * geometric-mean consistency v₃² ≈ v₀·v₁, v₄² ≈ v₀·v₂, v₅² ≈ v₁·v₂
    * and the Qstep(m)·2^(1/6) row-ratio law, both pinned as
    * transcription tripwires in H264ScalingSpec (same discipline as
    * the 4×4 [[IntraCbpFromCodeNum]] anchors).
    */
  private val NormAdjust8 = Array(
    Array(20, 18, 32, 19, 25, 24), Array(22, 19, 35, 21, 28, 26),
    Array(26, 23, 42, 24, 33, 31), Array(28, 25, 45, 26, 35, 33),
    Array(32, 28, 51, 30, 40, 38), Array(36, 32, 58, 34, 45, 43))

  private[ops] def normAdjust8At(m: Int, cls: Int): Int = NormAdjust8(m)(cls)

  /** §8.5.9 class of 8×8 raster position (i row, j col). */
  private[ops] def cls8(i: Int, j: Int): Int =
    if (i % 4 == 0 && j % 4 == 0) 0
    else if (i % 2 == 1 && j % 2 == 1) 1
    else if (i % 4 == 2 && j % 4 == 2) 2
    else if ((i % 4 == 0 && j % 2 == 1) || (i % 2 == 1 && j % 4 == 0)) 3
    else if ((i % 4 == 0 && j % 4 == 2) || (i % 4 == 2 && j % 4 == 0)) 4
    else 5

  /** Flat_8x8_16 (§8.5.9 weightScale8x8 when no matrix applies). */
  private[ops] val Flat8x8: Array[Int] = Array.fill(64)(16)

  /** 8×8 coefficient dequant (§8.5.13.1, 8-bit). */
  private[ops] def dequant8x8(c: Int, raster: Int, qP: Int,
      w8: Array[Int]): Int = {
    val ls = w8(raster) * NormAdjust8(qP % 6)(cls8(raster >> 3, raster & 7))
    if (qP >= 36) (c * ls) << (qP / 6 - 6)
    else (c * ls + (1 << (5 - qP / 6))) >> (6 - qP / 6)
  }

  /** In-place 8×8 inverse transform (§8.5.12.3's two butterfly passes) +
    * (x+32)>>6 rounding on the column pass; `d` is raster order.
    */
  private[ops] def idct8x8(d: Array[Int]): Unit = {
    val e = new Array[Int](8)
    val f = new Array[Int](8)
    def pass(get: Int => Int, set: (Int, Int) => Unit, finish: Boolean): Unit = {
      val a0 = get(0); val a1 = get(1); val a2 = get(2); val a3 = get(3)
      val a4 = get(4); val a5 = get(5); val a6 = get(6); val a7 = get(7)
      e(0) = a0 + a4
      e(1) = -a3 + a5 - a7 - (a7 >> 1)
      e(2) = a0 - a4
      e(3) = a1 + a7 - a3 - (a3 >> 1)
      e(4) = (a2 >> 1) - a6
      e(5) = -a1 + a7 + a5 + (a5 >> 1)
      e(6) = a2 + (a6 >> 1)
      e(7) = a3 + a5 + a1 + (a1 >> 1)
      f(0) = e(0) + e(6)
      f(1) = e(1) + (e(7) >> 2)
      f(2) = e(2) + e(4)
      f(3) = e(3) + (e(5) >> 2)
      f(4) = e(2) - e(4)
      f(5) = (e(3) >> 2) - e(5)
      f(6) = e(0) - e(6)
      f(7) = e(7) - (e(1) >> 2)
      val g = Array(f(0) + f(7), f(2) + f(5), f(4) + f(3), f(6) + f(1),
        f(6) - f(1), f(4) - f(3), f(2) - f(5), f(0) - f(7))
      var i = 0
      while (i < 8) {
        set(i, if (finish) (g(i) + 32) >> 6 else g(i))
        i += 1
      }
    }
    var r = 0
    while (r < 8) {
      val o = r * 8
      pass(i => d(o + i), (i, v) => d(o + i) = v, finish = false)
      r += 1
    }
    var c = 0
    while (c < 8) {
      val cc = c
      pass(i => d(i * 8 + cc), (i, v) => d(i * 8 + cc) = v, finish = true)
      c += 1
    }
  }

  /** luma4x4BlkIdx → (x4, y4) block coords within the MB (§6.4.3 scan). */
  private[ops] val Blk4x4X = Array(0, 1, 0, 1, 2, 3, 2, 3, 0, 1, 0, 1, 2, 3, 2, 3)
  private[ops] val Blk4x4Y = Array(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3)

  /** Z-scan index of each within-MB 4×4 raster position (by·4+bx) — the
    * inverse of Blk4x4X/Y, for decoded-before-current checks (§6.4.12's
    * "available and decoded" neighbour rule at block granularity).
    */
  private val ZOf: Array[Int] = {
    val z = new Array[Int](16)
    var b = 0
    while (b < 16) { z(Blk4x4Y(b) * 4 + Blk4x4X(b)) = b; b += 1 }
    z
  }

  /** Table 9-4 coded_block_pattern me(v) mapping, INTRA column: codeNum →
    * cbp (low 4 bits = luma 8×8 quadrants, high 2 = chroma 0/1/2). The
    * transcription tripwires are mechanical (CavlcSpec): the array must
    * be an exact permutation of 0..47, and the anchors every published
    * walkthrough states — codeNum 0 → 47 (everything coded), codeNum 3
    * → 0 (nothing coded) — are pinned; beyond that, a wrong entry makes
    * the residual walk parse the wrong number of blocks, which the rbsp
    * alignment and pixel fixtures trip on.
    */
  private[ops] val IntraCbpFromCodeNum: Array[Int] = Array(
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41)

  /** Inverse of [[IntraCbpFromCodeNum]], for the fixture encoders (the
    * shared-table discipline: encode and decode cannot drift). */
  private[ops] val IntraCbpToCodeNum: Array[Int] = {
    val inv = new Array[Int](48)
    var i = 0
    while (i < 48) { inv(IntraCbpFromCodeNum(i)) = i; i += 1 }
    inv
  }

  /** Intra_4x4 spatial prediction (§8.3.1.2.1–9) for the block at
    * global 4x4 coords (bx, by) over the in-progress plane: fills `p4`
    * (raster), or returns the refusal when the signalled mode's samples
    * are unavailable (a conforming encoder never signals such a mode —
    * refusing names the malformation instead of guessing pixels).
    * tN/lN are caller scratch for the §8.3.1.2 p[x,−1] / p[−1,y]
    * arrays, with the spec's p[3,−1] substitution when p[4..7,−1] is
    * undecoded.
    */
  private def predictIntra4x4(mode: Int, bx: Int, by: Int,
      luma: Array[Byte], w: Int, mbw: Int, p4: Array[Int],
      tN: Array[Int], lN: Array[Int]): String = {
      val px = bx * 4
      val py = by * 4
      val leftOk = bx > 0
      val topOk = by > 0
      val tlOk = leftOk && topOk
      def at(x: Int, y: Int): Int = luma(y * w + x) & 0xff
      // top-right pixels p[4..7,−1] belong to block (bx+1, by−1):
      // available iff inside the picture AND decoded before current
      // (same MB: Z order; other MB: raster order)
      val trOk = topOk && bx + 1 < mbw * 4 && {
        val tmb = ((by - 1) >> 2) * mbw + ((bx + 1) >> 2)
        val cmb = (by >> 2) * mbw + (bx >> 2)
        tmb < cmb || (tmb == cmb &&
          ZOf(((by - 1) & 3) * 4 + ((bx + 1) & 3)) <
            ZOf((by & 3) * 4 + (bx & 3)))
      }
      if (topOk) {
        var i = 0
        while (i < 4) { tN(i) = at(px + i, py - 1); i += 1 }
        while (i < 8) {
          tN(i) = if (trOk) at(px + i, py - 1) else tN(3)
          i += 1
        }
      }
      if (leftOk) {
        var i = 0
        while (i < 4) { lN(i) = at(px - 1, py + i); i += 1 }
      }
      val c = if (tlOk) at(px - 1, py - 1) else 0
      def tAt(i: Int): Int = if (i < 0) c else tN(i)
      def lAt(i: Int): Int = if (i < 0) c else lN(i)
      def fill(f: (Int, Int) => Int): Unit = {
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) { p4(y * 4 + x) = f(x, y); x += 1 }
          y += 1
        }
      }
      mode match {
        case 0 => // Vertical
          if (!topOk) return "Intra_4x4 vertical predictor unavailable"
          fill((x, _) => tN(x))
        case 1 => // Horizontal
          if (!leftOk) return "Intra_4x4 horizontal predictor unavailable"
          fill((_, y) => lN(y))
        case 2 => // DC
          var sum = 0
          var n = 0
          if (topOk) { sum += tN(0) + tN(1) + tN(2) + tN(3); n += 4 }
          if (leftOk) { sum += lN(0) + lN(1) + lN(2) + lN(3); n += 4 }
          val v = if (n == 8) (sum + 4) >> 3
            else if (n == 4) (sum + 2) >> 2 else 128
          java.util.Arrays.fill(p4, v)
        case 3 => // Diagonal Down Left
          if (!topOk) return "Intra_4x4 DDL predictor unavailable"
          fill((x, y) =>
            if (x == 3 && y == 3) (tN(6) + 3 * tN(7) + 2) >> 2
            else (tN(x + y) + 2 * tN(x + y + 1) + tN(x + y + 2) + 2) >> 2)
        case 4 => // Diagonal Down Right
          if (!tlOk) return "Intra_4x4 DDR predictor unavailable"
          fill((x, y) =>
            if (x > y) (tAt(x - y - 2) + 2 * tAt(x - y - 1) + tAt(x - y) + 2) >> 2
            else if (x < y) (lAt(y - x - 2) + 2 * lAt(y - x - 1) + lAt(y - x) + 2) >> 2
            else (tN(0) + 2 * c + lN(0) + 2) >> 2)
        case 5 => // Vertical Right
          if (!tlOk) return "Intra_4x4 VR predictor unavailable"
          fill { (x, y) =>
            val z = 2 * x - y
            if (z >= 0 && (z & 1) == 0)
              (tAt(x - (y >> 1) - 1) + tAt(x - (y >> 1)) + 1) >> 1
            else if (z >= 0)
              (tAt(x - (y >> 1) - 2) + 2 * tAt(x - (y >> 1) - 1) +
                tAt(x - (y >> 1)) + 2) >> 2
            else if (z == -1) (lN(0) + 2 * c + tN(0) + 2) >> 2
            else (lAt(y - 2 * x - 1) + 2 * lAt(y - 2 * x - 2) +
              lAt(y - 2 * x - 3) + 2) >> 2
          }
        case 6 => // Horizontal Down
          if (!tlOk) return "Intra_4x4 HD predictor unavailable"
          fill { (x, y) =>
            val z = 2 * y - x
            if (z >= 0 && (z & 1) == 0)
              (lAt(y - (x >> 1) - 1) + lAt(y - (x >> 1)) + 1) >> 1
            else if (z >= 0)
              (lAt(y - (x >> 1) - 2) + 2 * lAt(y - (x >> 1) - 1) +
                lAt(y - (x >> 1)) + 2) >> 2
            else if (z == -1) (tN(0) + 2 * c + lN(0) + 2) >> 2
            else (tAt(x - 2 * y - 1) + 2 * tAt(x - 2 * y - 2) +
              tAt(x - 2 * y - 3) + 2) >> 2
          }
        case 7 => // Vertical Left
          if (!topOk) return "Intra_4x4 VL predictor unavailable"
          fill { (x, y) =>
            if ((y & 1) == 0)
              (tN(x + (y >> 1)) + tN(x + (y >> 1) + 1) + 1) >> 1
            else (tN(x + (y >> 1)) + 2 * tN(x + (y >> 1) + 1) +
              tN(x + (y >> 1) + 2) + 2) >> 2
          }
        case 8 => // Horizontal Up
          if (!leftOk) return "Intra_4x4 HU predictor unavailable"
          fill { (x, y) =>
            val z = x + 2 * y
            if (z > 5) lN(3)
            else if (z == 5) (lN(2) + 3 * lN(3) + 2) >> 2
            else if ((z & 1) == 0)
              (lN(y + (x >> 1)) + lN(y + (x >> 1) + 1) + 1) >> 1
            else (lN(y + (x >> 1)) + 2 * lN(y + (x >> 1) + 1) +
              lN(y + (x >> 1) + 2) + 2) >> 2
          }
        case _ => return s"malformed intra_4x4 prediction mode $mode"
      }
      null
  }

  /** Intra_16x16 prediction (§8.3.3, all four modes) from the
    * reconstructed plane into `pred` (256-entry raster scratch, fully
    * overwritten). Returns the named refusal when the signalled mode's
    * neighbours are unavailable.
    */
  private[ops] def predictIntra16(predMode: Int, mbx: Int, mby: Int,
      luma: Array[Byte], w: Int, pred: Array[Int]): String = {
    val px = mbx * 16
    val py = mby * 16
    val leftOk = mbx > 0
    val topOk = mby > 0
    def at(x: Int, y: Int): Int = luma(y * w + x) & 0xff
    // pred is fully overwritten by every mode branch
    predMode match {
      case 0 => // Vertical
        if (!topOk) return "Intra_16x16 vertical predictor unavailable"
        else { var x = 0; while (x < 16) { val v = at(px + x, py - 1)
          var y = 0; while (y < 16) { pred(y * 16 + x) = v; y += 1 }; x += 1 } }
      case 1 => // Horizontal
        if (!leftOk) return "Intra_16x16 horizontal predictor unavailable"
        else { var y = 0; while (y < 16) { val v = at(px - 1, py + y)
          var x = 0; while (x < 16) { pred(y * 16 + x) = v; x += 1 }; y += 1 } }
      case 2 => // DC
        var sum = 0
        var n = 0
        if (topOk) { var x = 0; while (x < 16) { sum += at(px + x, py - 1); x += 1 }; n += 16 }
        if (leftOk) { var y = 0; while (y < 16) { sum += at(px - 1, py + y); y += 1 }; n += 16 }
        val v = if (n == 32) (sum + 16) >> 5
          else if (n == 16) (sum + 8) >> 4 else 128
        java.util.Arrays.fill(pred, v)
      case _ => // Plane (§8.3.3.4)
        if (!topOk || !leftOk) return "Intra_16x16 plane predictor unavailable"
        else {
          // H = Σ_{x'=0..7} (x'+1)·(p[8+x',−1] − p[6−x',−1]);
          // the x'=7 term reaches p[−1,−1] (and V symmetric)
          var hSum = 0; var vSum = 0
          var x = 0
          while (x < 7) {
            hSum += (x + 1) * (at(px + 8 + x, py - 1) - at(px + 6 - x, py - 1))
            x += 1
          }
          hSum += 8 * (at(px + 15, py - 1) - at(px - 1, py - 1))
          var y = 0
          while (y < 7) {
            vSum += (y + 1) * (at(px - 1, py + 8 + y) - at(px - 1, py + 6 - y))
            y += 1
          }
          vSum += 8 * (at(px - 1, py + 15) - at(px - 1, py - 1))
          val a = 16 * (at(px - 1, py + 15) + at(px + 15, py - 1))
          val b = (5 * hSum + 32) >> 6
          val c = (5 * vSum + 32) >> 6
          y = 0
          while (y < 16) {
            x = 0
            while (x < 16) {
              val v = (a + b * (x - 7) + c * (y - 7) + 16) >> 5
              pred(y * 16 + x) = if (v < 0) 0 else if (v > 255) 255 else v
              x += 1
            }
            y += 1
          }
        }
    }
    null
  }

  /** The slice-level decode core both entry points share: refuse
    * unsupported shapes BY NAME, parse the IDR slice header (§7.3.3,
    * incl. dec_ref_pic_marking) and the slice_data() macroblock walk,
    * and reconstruct the luma plane. THREE macroblock classes decode for
    * real: I_PCM (raw samples, §8.3.5), Intra_16x16 CAVLC (coeff parse
    * via [[Cavlc]], DC Hadamard + dequant §8.5.10, AC dequant §8.5.12.1,
    * inverse 4×4 transform §8.5.12.2, all four §8.3.3 prediction modes),
    * and Intra_4x4 CAVLC (per-block mode prediction §8.3.1.1, all nine
    * §8.3.1.2 spatial predictors with decoded-before top-right
    * availability and the p[3,−1] substitution, Table 9-4 me(v) cbp,
    * full-16-coefficient residual blocks). CABAC streams refuse by name
    * (no conformance-anchored probability/context-init tables), as do
    * 8×8 transforms, scaling matrices, and inter prediction — never a
    * silent wrong plane. Chroma bits are consumed (the walk must stay
    * aligned) but
    * only luma is reconstructed — gates and perceptual hashes read luma.
    * Streams that do not explicitly disable the in-loop deblocking
    * filter refuse at the first non-I_PCM macroblock (the filter is
    * normative and this decoder does not run it; I_PCM-only slices are
    * unaffected — their edges filter at qP 0 thresholds, which are 0).
    */
  private[ops] def decodeISlice(sliceRbsp: Array[Byte],
      sps: VideoBitstream.SpsInfo, pps: PpsInfo,
      maxPlaneBytes: Long = Archives.MaxInflatedBytes,
      nalRefIdc: Int = 3,
      idr: Boolean = true,
      // chroma OUTPUT planes (Array(cb, cr), each (mbw·8)·(mbh·8),
      // caller-allocated): non-null turns the CAVLC path's chroma
      // residual consumption into full §8.3.4 reconstruction
      color: Array[Array[Byte]] = null,
      pack: Option[ConfPack.Pack] = None): Either[String, Array[Byte]] = {
    // every refusal below happens BEFORE the plane allocation: the SPS
    // dims and the slice payload are UNTRUSTED crawl bytes, and an OOM
    // from a crafted 46000×46000 claim kills the executor JVM — the one
    // failure per-clip degradation cannot catch (same decompression-bomb
    // class Archives caps before allocating)
    val mbw = sps.widthMbs
    val mbh = sps.heightMbs
    val nMbs = mbw.toLong * mbh
    if (pps.entropyCabac)
      // only the CAVLC entropy path exists: the Table 9-44/9-45
      // probability and Table 9-12..9-23 context-init constants could
      // not be conformance-anchored locally
      Left("CABAC stream (probability/context-init tables not " +
        "conformance-anchored; CAVLC/I_PCM only)")
    else if (resolveLumaIntraWeights(sps, pps, pack).isLeft)
      // scaling lists TRANSMITTED in the stream decode (resolved below);
      // a resolution landing on the spec's default table decodes when
      // the conformance pack carries it, refuses naming the slot
      // otherwise — a flat-matrix walk would ship a WRONG plane
      Left(resolveLumaIntraWeights(sps, pps, pack).swap.toOption.get)
    else if (pps.transform8x8 &&
        resolveLumaIntra8x8Weights(sps, pps, pack).isLeft)
      // the 8×8 twin — consulted only when transform_8x8_mode can put
      // Intra_8x8 macroblocks in the slice
      Left(resolveLumaIntra8x8Weights(sps, pps, pack).swap.toOption.get)
    else if (color != null && sps.chromaFormatIdc != 1)
      Left("chroma reconstruction requires 4:2:0 " +
        "(monochrome streams have no chroma planes)")
    else if (color != null &&
        (sps.scalingMatrixPresent || pps.scalingMatrix))
      Left("chroma reconstruction under scaling matrices not supported " +
        "(chroma weight lists are not retained; flat weights decode)")
    else if (pps.numSliceGroups > 1) Left("FMO not supported")
    else if (sps.frameMbsOnly != 1) Left("interlaced stream not supported")
    else if (sps.chromaFormatIdc > 1)
      Left("chroma format beyond 4:2:0 not supported")
    else if (sps.bitDepthLuma != 8 || sps.bitDepthChroma != 8)
      // samples are BitDepth bits wide: a fixed-8-bit walk over a 10-bit
      // stream mis-aligns and can return a WRONG plane with decode_error
      // null — refuse by name like the other shapes
      Left(s"bit depth ${sps.bitDepthLuma}/${sps.bitDepthChroma} " +
        "not supported (only 8-bit)")
    else if (sps.pocType == 1)
      // §7.3.3 puts delta_pic_order_cnt se(v) fields in the slice header
      // when delta_pic_order_always_zero_flag is 0 — a flag this parse
      // does not retain, so a silent bit-shift would corrupt everything
      // after it: refuse by name instead
      Left("pic_order_cnt_type 1 not supported")
    else if (nMbs * 256L > maxPlaneBytes)
      Left(s"luma plane too large (${mbw * 16}x${mbh * 16} = " +
        s"${nMbs * 256L} bytes > $maxPlaneBytes plane cap)")
    else if (nMbs * 256L > (1L << 20) && sliceRbsp.length.toLong * 8 < nMbs)
      // gated to >1 MiB claims: every macroblock costs at least one bit
      // (mb_type), so a payload with fewer BITS than macroblocks can
      // never decode — a big SPS claim must be backed by bytes before it
      // sizes an allocation
      Left(s"slice payload too small (${sliceRbsp.length} bytes) to hold " +
        s"$nMbs macroblocks")
    else if (pps.picInitQp < 0 || pps.picInitQp > 51)
      // spec range is 0..51; parsePps does not clamp, and a crafted
      // out-of-range value would drive the qPY arithmetic (and the
      // NormAdjust index) off the table — refuse by name
      Left(s"pic_init_qp ${pps.picInitQp} out of range")
    else {
      val w = mbw * 16
      val h = mbh * 16
      val luma = new Array[Byte](w * h)
      val rd = new VideoBitstream.BitReader(sliceRbsp)
      // slice_header (§7.3.3), IDR/I, no FMO, frame_mbs_only
      val firstMb = rd.ue()
      val sliceType = rd.ue()
      if (firstMb != 0) Left("multi-slice IDR not supported")
      else if (sliceType > 9 || sliceType % 5 != 2)
        // §7.4.3 bounds slice_type to 0..9 — an out-of-range corrupt
        // value must not pass on its residue class
        Left(s"not an I slice (slice_type $sliceType)")
      else {
        rd.ue() // pic_parameter_set_id
        rd.u(sps.log2MaxFrameNum) // frame_num
        if (idr) rd.ue() // idr_pic_id (§7.3.3: IDR slices only)
        if (sps.pocType == 0) rd.u(sps.log2MaxPocLsb)
        if (pps.bottomFieldPocPresent && sps.pocType == 0) rd.se()
        if (pps.redundantPicCntPresent) rd.ue()
        // I slice: no ref-idx / pred-weight tables
        // dec_ref_pic_marking (§7.3.3.3) is present ONLY when
        // nal_ref_idc != 0 — a ref_idc-0 IDR (non-conforming but seen
        // from buggy muxers) must not shift the parse by two bits.
        // Non-IDR I (recovery point): one adaptive-marking flag instead
        // of the two IDR flags; adaptive MMCO ops are not parsed, so a
        // stream using them refuses rather than mis-aligning
        if (nalRefIdc != 0) {
          if (idr) { rd.u1(); rd.u1() } // no_output_of_prior_pics, long_term_ref
          else if (rd.u1() == 1)
            return Left("adaptive ref pic marking not supported " +
              "(sliding window only)")
        }
        val sliceQpDelta = rd.se()
        var deblockOff = false
        if (pps.deblockControlPresent) {
          val idc = rd.ue()
          deblockOff = idc == 1
          if (idc != 1) { rd.se(); rd.se() } // deblock offsets
        }
        var qPY = pps.picInitQp + sliceQpDelta
        // luma-intra weight matrix: Flat4x4 unless the stream transmits
        // scaling lists (gate above guarantees resolution succeeds)
        val wl = resolveLumaIntraWeights(sps, pps, pack).toOption.get
        // per-4x4-block TotalCoeff grid for CAVLC nC context (§9.2.1);
        // -1 = not decoded / outside picture
        val nCoef = Array.fill(mbw * 4 * mbh * 4)(-1)
        def nCFor(bx: Int, by: Int): Int = {
          val nA = if (bx > 0) nCoef(by * mbw * 4 + bx - 1) else -1
          val nB = if (by > 0) nCoef((by - 1) * mbw * 4 + bx) else -1
          if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
          else if (nA >= 0) nA
          else if (nB >= 0) nB
          else 0
        }
        // chroma AC nC grids, one per component (4:2:0: 2×2 4x4 blocks
        // per MB) — same §9.2.1 neighbour rule at chroma granularity
        val nCoefC = Array(Array.fill(mbw * 2 * mbh * 2)(-1),
          Array.fill(mbw * 2 * mbh * 2)(-1))
        def nCForC(comp: Int, cx: Int, cy: Int): Int = {
          val g = nCoefC(comp)
          val nA = if (cx > 0) g(cy * mbw * 2 + cx - 1) else -1
          val nB = if (cy > 0) g((cy - 1) * mbw * 2 + cx) else -1
          if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
          else if (nA >= 0) nA
          else if (nB >= 0) nB
          else 0
        }
        // chroma 4x4 blkIdx scan within the MB (raster over the 2×2)
        val cBlkX = Array(0, 1, 0, 1)
        val cBlkY = Array(0, 0, 1, 1)
        // scratch buffers hoisted out of the macroblock loop: a max-size
        // frame under the plane cap is ~1M macroblocks, and per-block
        // allocations would churn ~18M short-lived arrays per task
        val dc = new Array[Int](16)
        val pred = new Array[Int](256)
        val d = new Array[Int](16)
        val p4 = new Array[Int](16)
        val tN = new Array[Int](8)
        val lN = new Array[Int](4)
        val mbModes = new Array[Int](16)
        // Intra_8x8 scratch (High-profile transform_8x8 path)
        val p8 = new Array[Int](64)
        val d8 = new Array[Int](64)
        val lvl8 = new Array[Int](64)
        val modes8 = new Array[Int](4)
        val wl8 = if (pps.transform8x8)
          resolveLumaIntra8x8Weights(sps, pps, pack).toOption.get
          else Flat8x8
        // per-4x4-block Intra_4x4 prediction mode grid (§8.3.1.1): -1 =
        // the block's MB is not Intra_4x4-coded (or not yet decoded) —
        // both read as mode 2 (DC) in the neighbour-mode derivation
        val i4Mode = Array.fill(mbw * 4 * mbh * 4)(-1)
        def predI4Mode(bx: Int, by: Int): Int = {
          val a = if (bx > 0 && i4Mode(by * mbw * 4 + bx - 1) >= 0)
            i4Mode(by * mbw * 4 + bx - 1) else 2
          val b = if (by > 0 && i4Mode((by - 1) * mbw * 4 + bx) >= 0)
            i4Mode((by - 1) * mbw * 4 + bx) else 2
          math.min(a, b)
        }
        // chroma stage shared with the P path (ChromaCtx): residual
        // parse (the walk must stay aligned regardless) + optional full
        // §8.3.4 reconstruction into the caller's planes
        val chromaCtx = new ChromaCtx(color, mbw, pps.chromaQpOffset,
          qpcBent = pack.flatMap(_.qpcBent).orNull)
        def consumeChroma(cbpChroma: Int, mbx: Int, mby: Int,
            chromaPred: Int = 0, qPYNow: Int = 0): String =
          if (sps.chromaFormatIdc != 1) null
          else chromaCtx.stage(rd, cbpChroma, chromaPred, mbx, mby, qPYNow,
            nCForC,
            (comp, cx, cy, v) => nCoefC(comp)(cy * mbw * 2 + cx) = v)
        // Intra_4x4 spatial prediction (§8.3.1.2.1–9) for the block at
        // global 4x4 coords (bx, by): fills p4 (raster), or returns the
        // refusal when the signalled mode's samples are unavailable (a
        // conforming encoder never signals such a mode — refusing names
        // the malformation instead of guessing pixels). t/l/c are the
        // §8.3.1.2 p[x,−1] / p[−1,y] / p[−1,−1] arrays, with the
        // spec's p[3,−1] substitution when p[4..7,−1] is undecoded.
        def predict4x4(mode: Int, bx: Int, by: Int): String =
          predictIntra4x4(mode, bx, by, luma, w, mbw, p4, tN, lN)
        // slice_data (§7.3.4), CAVLC I slice: macroblock_layer per MB
        var mb = 0
        var bad: String = null
        try {
          while (mb < nMbs && bad == null) {
            val mbx = (mb % mbw).toInt
            val mby = (mb / mbw).toInt
            val mbType = rd.ue()
            if (mbType == 25) { // I_PCM
              rd.alignByte() // pcm_alignment_zero_bit
              val px = mbx * 16
              val py = mby * 16
              var i = 0
              while (i < 256) {
                luma((py + i / 16) * w + px + i % 16) = rd.u(8).toByte
                i += 1
              }
              if (sps.chromaFormatIdc == 1) {
                // pcm_sample_chroma: 64 Cb then 64 Cr, raster (§7.3.5)
                var c = 0
                while (c < 128) {
                  val v = rd.u(8)
                  if (color != null) {
                    val o = c & 63
                    color(c >> 6)((mby * 8 + o / 8) * (mbw * 8) +
                      mbx * 8 + o % 8) = v.toByte
                  }
                  c += 1
                }
              }
              // I_PCM blocks count as 16 coefficients for neighbours
              // (§9.2.1), luma AND chroma grids
              var b = 0
              while (b < 16) {
                nCoef((mby * 4 + Blk4x4Y(b)) * mbw * 4 + mbx * 4 + Blk4x4X(b)) = 16
                b += 1
              }
              b = 0
              while (b < 4) {
                nCoefC(0)((mby * 2 + cBlkY(b)) * mbw * 2 + mbx * 2 + cBlkX(b)) = 16
                nCoefC(1)((mby * 2 + cBlkY(b)) * mbw * 2 + mbx * 2 + cBlkX(b)) = 16
                b += 1
              }
              mb += 1
            } else if (mbType == 0) { // I_NxN → Intra_4x4 / Intra_8x8
              if (!deblockOff)
                bad = "in-loop deblocking not implemented " +
                  "(stream does not disable it)"
              else if (sps.chromaFormatIdc == 0)
                // Table 9-4's me(v) cbp mapping has a SEPARATE column
                // for ChromaArrayType 0/3 that this decoder does not
                // carry (table policy: refusing beats decoding a wrong
                // cbp silently, which is what using the 4:2:0 column
                // here would do). Monochrome I_16x16 and I_PCM decode
                // (no cbp syntax)
                bad = "monochrome CAVLC Intra_NxN not supported " +
                  "(Table 9-4 ChromaArrayType-0 cbp column not carried)"
              else if (pps.transform8x8 && rd.u1() == 1) {
                // ---- Intra_8x8 (§7.3.5 transform_size_8x8_flag = 1):
                // four 8×8 blocks, §8.3.2 filtered-reference prediction,
                // CAVLC residual as four interleaved 4×4 blocks per 8×8
                // (§7.4.5.3.2: levelList8x8[4k + i4] = level4x4[i4][k]),
                // §8.5.13 dequant + the §8.5.12.3 inverse transform
                var b8 = 0
                while (b8 < 4) {
                  val gx4 = mbx * 4 + (b8 & 1) * 2
                  val gy4 = mby * 4 + (b8 >> 1) * 2
                  // §8.3.2.1 predicted mode: min of the A/B neighbour
                  // modes at the block's top-left 4×4 cell (an Intra_8x8
                  // neighbour replicated its mode into its cells below)
                  val pm = predI4Mode(gx4, gy4)
                  val mode =
                    if (rd.u1() == 1) pm
                    else { val rem = rd.u(3); if (rem < pm) rem else rem + 1 }
                  modes8(b8) = mode
                  var cy = 0
                  while (cy < 2) {
                    var cx = 0
                    while (cx < 2) {
                      i4Mode((gy4 + cy) * mbw * 4 + gx4 + cx) = mode
                      cx += 1
                    }
                    cy += 1
                  }
                  b8 += 1
                }
                val chromaPred =
                  if (sps.chromaFormatIdc == 1) rd.ue() else 0
                if (chromaPred > 3) bad = "malformed intra_chroma_pred_mode"
                else {
                  val cbpCode = rd.ue()
                  if (cbpCode > 47)
                    bad = s"malformed coded_block_pattern (codeNum $cbpCode)"
                  else {
                    val cbp = IntraCbpFromCodeNum(cbpCode)
                    val cbpLuma = cbp & 15
                    val cbpChroma = cbp >> 4
                    if (cbp != 0)
                      qPY = Math.floorMod(qPY + rd.se() + 52, 52)
                    var i8 = 0
                    while (i8 < 4 && bad == null) {
                      val bx8 = mbx * 2 + (i8 & 1)
                      val by8 = mby * 2 + (i8 >> 1)
                      java.util.Arrays.fill(d8, 0)
                      if ((cbpLuma & (1 << i8)) != 0) {
                        java.util.Arrays.fill(lvl8, 0)
                        var i4 = 0
                        while (i4 < 4) {
                          val blk = i8 * 4 + i4
                          val gx = mbx * 4 + Blk4x4X(blk)
                          val gy = mby * 4 + Blk4x4Y(blk)
                          val (scan, total) =
                            Cavlc.decodeResidualBlock(rd, nCFor(gx, gy), 16)
                          nCoef(gy * mbw * 4 + gx) = total
                          var k = 0
                          while (k < 16) { lvl8(4 * k + i4) = scan(k); k += 1 }
                          i4 += 1
                        }
                        var sp = 0
                        while (sp < 64) {
                          val raster = Zigzag8x8(sp)
                          d8(raster) = dequant8x8(lvl8(sp), raster, qPY, wl8)
                          sp += 1
                        }
                        idct8x8(d8)
                      } else {
                        var i4 = 0
                        while (i4 < 4) {
                          val blk = i8 * 4 + i4
                          nCoef((mby * 4 + Blk4x4Y(blk)) * mbw * 4 +
                            mbx * 4 + Blk4x4X(blk)) = 0
                          i4 += 1
                        }
                      }
                      // §8.3.2 prediction from reconstructed pixels,
                      // AFTER this block's residual bits (bit order) but
                      // BEFORE the next block parses (its refs need
                      // these pixels)
                      bad = predictIntra8x8(modes8(i8), bx8, by8, luma,
                        w, mbw, p8)
                      if (bad == null) {
                        val px = bx8 * 8
                        val py = by8 * 8
                        var yy = 0
                        while (yy < 8) {
                          var xx = 0
                          while (xx < 8) {
                            luma((py + yy) * w + px + xx) =
                              clip1(p8(yy * 8 + xx) + d8(yy * 8 + xx))
                            xx += 1
                          }
                          yy += 1
                        }
                      }
                      i8 += 1
                    }
                    if (bad == null) {
                      bad = consumeChroma(cbpChroma, mbx, mby,
                        chromaPred, qPY)
                      if (bad == null) mb += 1
                    }
                  }
                }
              } else {
                // 16 prediction modes (§7.3.5.1): prev flag + 3-bit
                // remainder that SKIPS the predicted mode; modes enter
                // the grid as parsed (a block's A/B neighbours are
                // always earlier in Z order or outside the MB)
                var b = 0
                while (b < 16) {
                  val gx = mbx * 4 + Blk4x4X(b)
                  val gy = mby * 4 + Blk4x4Y(b)
                  val pm = predI4Mode(gx, gy)
                  val mode =
                    if (rd.u1() == 1) pm
                    else { val rem = rd.u(3); if (rem < pm) rem else rem + 1 }
                  mbModes(b) = mode
                  i4Mode(gy * mbw * 4 + gx) = mode
                  b += 1
                }
                val chromaPred =
                  if (sps.chromaFormatIdc == 1) rd.ue() else 0
                if (chromaPred > 3) bad = "malformed intra_chroma_pred_mode"
                else {
                  val cbpCode = rd.ue()
                  if (cbpCode > 47)
                    bad = s"malformed coded_block_pattern (codeNum $cbpCode)"
                  else {
                    val cbp = IntraCbpFromCodeNum(cbpCode)
                    val cbpLuma = cbp & 15
                    val cbpChroma = cbp >> 4
                    // §7.3.5: mb_qp_delta (and residual) only when the
                    // cbp says anything is coded
                    if (cbp != 0)
                      qPY = Math.floorMod(qPY + rd.se() + 52, 52)
                    val px = mbx * 16
                    val py = mby * 16
                    // per block IN Z ORDER: residual bits, then predict
                    // from already-reconstructed pixels, then store —
                    // Intra_4x4 interleaves prediction with decode
                    var b2 = 0
                    while (b2 < 16 && bad == null) {
                      val bx4 = Blk4x4X(b2)
                      val by4 = Blk4x4Y(b2)
                      val gx = mbx * 4 + bx4
                      val gy = mby * 4 + by4
                      java.util.Arrays.fill(d, 0)
                      var tc = 0
                      if ((cbpLuma & (1 << (b2 >> 2))) != 0) {
                        // all 16 coefficients (no separate DC): §8.5.12
                        // dequant over the full zigzag
                        val (scan, total) =
                          Cavlc.decodeResidualBlock(rd, nCFor(gx, gy), 16)
                        tc = total
                        var i = 0
                        while (i < 16) {
                          val raster = Zigzag4x4(i)
                          d(raster) = dequantAc(scan(i), raster, qPY, wl)
                          i += 1
                        }
                      }
                      nCoef(gy * mbw * 4 + gx) = tc
                      idct4x4(d)
                      bad = predict4x4(mbModes(b2), gx, gy)
                      if (bad == null) {
                        var yy = 0
                        while (yy < 4) {
                          var xx = 0
                          while (xx < 4) {
                            luma((py + by4 * 4 + yy) * w + px + bx4 * 4 + xx) =
                              clip1(p4(yy * 4 + xx) + d(yy * 4 + xx))
                            xx += 1
                          }
                          yy += 1
                        }
                      }
                      b2 += 1
                    }
                    if (bad == null) {
                      bad = consumeChroma(cbpChroma, mbx, mby,
                        chromaPred, qPY)
                      if (bad == null) mb += 1
                    }
                  }
                }
              }
            } else if (mbType >= 1 && mbType <= 24) { // Intra_16x16
              if (!deblockOff)
                bad = "in-loop deblocking not implemented " +
                  "(stream does not disable it)"
              else {
                val k = mbType - 1
                val predMode = k % 4
                val cbpChroma = (k / 4) % 3
                val cbpLuma = if (k >= 12) 15 else 0
                // intra_chroma_pred_mode is ABSENT for monochrome
                // (§7.3.5.1 gates it on ChromaArrayType != 0) — reading
                // it unconditionally would shift the whole slice parse
                val chromaPred =
                  if (sps.chromaFormatIdc == 1) rd.ue() else 0
                if (chromaPred > 3) bad = "malformed intra_chroma_pred_mode"
                else {
                  // floorMod: Java % goes negative for crafted deltas and
                  // would index the dequant tables off the end
                  qPY = Math.floorMod(qPY + rd.se() + 52, 52)
                  // Intra16x16DCLevel: nC from blkIdx 0's neighbours
                  val (dcScan, _) = Cavlc.decodeResidualBlock(rd,
                    nCFor(mbx * 4, mby * 4), 16)
                  // un-zigzag, inverse Hadamard, DC dequant (dc is fully
                  // overwritten: Zigzag4x4 is a permutation)
                  var i = 0
                  while (i < 16) { dc(Zigzag4x4(i)) = dcScan(i); i += 1 }
                  hadamard4x4(dc)
                  i = 0
                  while (i < 16) { dc(i) = dequantDc(dc(i), qPY, wl); i += 1 }
                  // prediction (§8.3.3) from the reconstructed plane
                  val px = mbx * 16
                  val py = mby * 16
                  bad = predictIntra16(predMode, mbx, mby, luma, w, pred)
                  if (bad == null) {
                    // residual per 4x4 block (AC only when cbp_luma says so)
                    var b = 0
                    while (b < 16 && bad == null) {
                      val bx4 = Blk4x4X(b)
                      val by4 = Blk4x4Y(b)
                      java.util.Arrays.fill(d, 0)
                      var tc = 0
                      if (cbpLuma != 0) {
                        val (acScan, total) = Cavlc.decodeResidualBlock(rd,
                          nCFor(mbx * 4 + bx4, mby * 4 + by4), 15)
                        tc = total
                        var i2 = 0
                        while (i2 < 15) {
                          val raster = Zigzag4x4(i2 + 1)
                          d(raster) = dequantAc(acScan(i2), raster, qPY, wl)
                          i2 += 1
                        }
                      }
                      nCoef((mby * 4 + by4) * mbw * 4 + mbx * 4 + bx4) = tc
                      d(0) = dc(by4 * 4 + bx4)
                      idct4x4(d)
                      var yy = 0
                      while (yy < 4) {
                        var xx = 0
                        while (xx < 4) {
                          val gx = px + bx4 * 4 + xx
                          val gy = py + by4 * 4 + yy
                          luma(gy * w + gx) =
                            clip1(pred((by4 * 4 + yy) * 16 + bx4 * 4 + xx) + d(yy * 4 + xx))
                          xx += 1
                        }
                        yy += 1
                      }
                      b += 1
                    }
                    if (bad == null) {
                      bad = consumeChroma(cbpChroma, mbx, mby,
                        chromaPred, qPY)
                      if (bad == null) mb += 1
                    }
                  }
                }
              }
            } else {
              bad = s"unsupported mb_type $mbType in I slice"
            }
          }
        } catch {
          case e: Cavlc.Unsupported => bad = e.getMessage
        }
        if (bad != null) Left(bad) else Right(luma)
      }
    }
  }

  /** Back-compat alias for the original I_PCM-era name. */
  private[ops] def decodeIPcmSlice(sliceRbsp: Array[Byte],
      sps: VideoBitstream.SpsInfo, pps: PpsInfo,
      maxPlaneBytes: Long = Archives.MaxInflatedBytes): Either[String, Array[Byte]] =
    decodeISlice(sliceRbsp, sps, pps, maxPlaneBytes)

  /** Back-compat aliases: the entry points decoded only I_PCM when they
    * were named; they now decode Intra_16x16 CAVLC too, so the honest
    * names are [[decodeIdr]] / [[decodeMp4Keyframes]].
    */
  def decodeIPcmIdr(df: DataFrame, payloadCol: String = "payload",
      maxPlaneBytes: Long = Archives.MaxInflatedBytes): DataFrame =
    decodeIdr(df, payloadCol, maxPlaneBytes)

  def decodeMp4KeyframesIPcm(df: DataFrame, payloadCol: String = "payload",
      maxPlaneBytes: Long = Archives.MaxInflatedBytes): DataFrame =
    decodeMp4Keyframes(df, payloadCol, maxPlaneBytes)

  private def lumaRow(r: Row, luma: Array[Byte], w: Int, h: Int,
      prefix: Seq[Any] = Seq.empty): Row = {
    var sum = 0L
    var i = 0
    while (i < luma.length) { sum += luma(i) & 0xff; i += 1 }
    Row.fromSeq(r.toSeq ++ prefix ++ Seq(w, h, (w / 16) * (h / 16),
      sum.toDouble / (w.toLong * h), luma, null))
  }

  private val cols = Seq(
    StructField("frame_width", IntegerType),
    StructField("frame_height", IntegerType),
    StructField("mb_count", IntegerType),
    StructField("y_mean", DoubleType),
    StructField("luma_plane", BinaryType),
    StructField("decode_error", StringType))

  /** Decode the FIRST IDR frame of an Annex-B H.264 payload, supported
    * subset: CAVLC streams whose IDR slice is I_PCM, Intra_16x16 and/or
    * Intra_4x4 macroblocks (real entropy decode + dequant + inverse
    * transform + prediction), frame_mbs_only, 4:2:0 or monochrome, no
    * FMO, in-loop deblocking disabled for entropy-coded slices. CABAC
    * streams refuse by name (no conformance-anchored
    * probability/context-init tables). Emits the reconstructed luma plane
    * (row-major bytes, uncropped SPS dims), its exact mean, and the
    * macroblock count. High-profile Intra_8x8 (transform_8x8_mode)
    * and transmitted scaling lists decode; everything else degrades per
    * clip with a message naming WHY (inter / default scaling tables /
    * the VLC table columns [[Cavlc]] deliberately does not carry).
    */
  def decodeIdr(df: DataFrame, payloadCol: String = "payload",
      maxPlaneBytes: Long = Archives.MaxInflatedBytes): DataFrame = {
    Multimodal.requireFreshColumns(df, "decodeIdr", cols.map(_.name))
    val schema = StructType(df.schema.fields ++ cols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    val packCfg = ConfPack.resolve(None, df.sparkSession)
    df.mapPartitions { rows =>
      rows.map { r =>
        def errRow(msg: String) = Row.fromSeq(r.toSeq ++
          Seq(null, null, null, null, null, msg))
        if (r.isNullAt(idx)) errRow("null payload")
        else try {
          val bytes = r.getAs[Array[Byte]](idx)
          val nals = VideoBitstream.findNals(bytes)
          if (nals == null) errRow("no Annex-B start code")
          else {
            var sps: VideoBitstream.SpsInfo = null
            var pps: PpsInfo = null
            var idr: Array[Byte] = null
            var idrRefIdc = 3
            var nonIdrType = -1 // first coded non-IDR slice's slice_type
            nals.foreach { case (off, len) =>
              (bytes(off) & 0x1f) match {
                case 7 if sps == null =>
                  sps = VideoBitstream.parseSps(
                    VideoBitstream.rbspBytes(bytes, off + 1, len - 1))
                case 8 if pps == null =>
                  pps = parsePps(
                    VideoBitstream.rbspBytes(bytes, off + 1, len - 1))
                case 5 if idr == null =>
                  idr = VideoBitstream.rbspBytes(bytes, off + 1, len - 1)
                  idrRefIdc = (bytes(off) >> 5) & 3
                case 1 if nonIdrType < 0 =>
                  nonIdrType = try VideoBitstream.firstSliceType(
                    VideoBitstream.rbspBytes(bytes, off + 1,
                      math.min(len - 1, 8)))
                  catch { case _: Exception => -1 }
                case _ => ()
              }
            }
            if (sps == null) errRow("no SPS in stream")
            else if (pps == null) errRow("no PPS in stream")
            else if (idr == null)
              // refusal narrowing: an IDR-less stream with coded P/B
              // slices names the INTER seam, not a generic miss — the
              // slice census (h264SliceCensus) gives the same verdict
              // clip-wide
              errRow(if (nonIdrType >= 0 && nonIdrType <= 9)
                VideoBitstream.sliceTypeName(nonIdrType) match {
                  // a non-IDR I/SI slice needs no inter prediction —
                  // the gap there is the IDR-only keyframe entry
                  // (open-GOP / recovery-point cuts)
                  case "I" | "SI" => "non-IDR I-slice stream (open " +
                    "GOP): decodeIdr requires an IDR slice"
                  case "B" => "B-slice stream without an IDR: no " +
                    "anchor pair to bracket from"
                  case _ => "P-slice stream without an IDR: no " +
                    "reference frame to start from"
                }
                else "no IDR slice in stream")
            else decodeISlice(idr, sps, pps, maxPlaneBytes, idrRefIdc,
              pack = packCfg) match {
              case Left(msg) => errRow(msg)
              case Right(luma) =>
                lumaRow(r, luma, sps.widthMbs * 16, sps.heightMbs * 16)
            }
          }
        } catch { case e: Exception =>
          errRow(s"decode failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  private val colorCols = Seq(
    StructField("frame_width", IntegerType),
    StructField("frame_height", IntegerType),
    StructField("y_mean", DoubleType),
    StructField("cb_mean", DoubleType),
    StructField("cr_mean", DoubleType),
    StructField("chroma_energy", DoubleType),
    StructField("luma_plane", BinaryType),
    StructField("cb_plane", BinaryType),
    StructField("cr_plane", BinaryType),
    StructField("decode_error", StringType))

  /** [[decodeIdr]]'s full-COLOR sibling: decode the first IDR frame to
    * Y + Cb + Cr planes (4:2:0, chroma at half resolution) through the
    * same CAVLC intra core with §8.3.4 chroma prediction (DC corner
    * rules / horizontal / vertical / plane), the §8.5.11 2×2 DC
    * Hadamard and chroma AC dequant at qPc. The chroma envelope on top
    * of the luma one: CAVLC only (CABAC refuses by name), 4:2:0, flat
    * weights (scaling matrices refuse), and
    * qPi = QPY + chroma_qp_offset < 30 — §8.5.8's Table 8-15 maps
    * qPc = qPi identically there; the bent region of the table is not
    * conformance-anchored, so it refuses by name rather than guess.
    * Emits per-plane means and the three planes — the shape color
    * curation gates (grayscale detection, colorfulness, channel
    * statistics) read.
    */
  def decodeIdrColor(df: DataFrame, payloadCol: String = "payload",
      maxPlaneBytes: Long = Archives.MaxInflatedBytes): DataFrame = {
    Multimodal.requireFreshColumns(df, "decodeIdrColor", colorCols.map(_.name))
    val packCfg = ConfPack.resolve(None, df.sparkSession)
    val schema = StructType(df.schema.fields ++ colorCols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        def errRow(msg: String) = Row.fromSeq(r.toSeq ++
          Seq(null, null, null, null, null, null, null, null, null, msg))
        def mean(p: Array[Byte]): Double = {
          var s = 0L
          var i = 0
          while (i < p.length) { s += p(i) & 0xff; i += 1 }
          s.toDouble / p.length
        }
        if (r.isNullAt(idx)) errRow("null payload")
        else try {
          val bytes = r.getAs[Array[Byte]](idx)
          val nals = VideoBitstream.findNals(bytes)
          if (nals == null) errRow("no Annex-B start code")
          else {
            var sps: VideoBitstream.SpsInfo = null
            var pps: PpsInfo = null
            var idr: Array[Byte] = null
            var idrRefIdc = 3
            nals.foreach { case (off, len) =>
              (bytes(off) & 0x1f) match {
                case 7 if sps == null =>
                  sps = VideoBitstream.parseSps(
                    VideoBitstream.rbspBytes(bytes, off + 1, len - 1))
                case 8 if pps == null =>
                  pps = parsePps(
                    VideoBitstream.rbspBytes(bytes, off + 1, len - 1))
                case 5 if idr == null =>
                  idr = VideoBitstream.rbspBytes(bytes, off + 1, len - 1)
                  idrRefIdc = (bytes(off) >> 5) & 3
                case _ => ()
              }
            }
            if (sps == null) errRow("no SPS in stream")
            else if (pps == null) errRow("no PPS in stream")
            else if (idr == null) errRow("no IDR slice in stream")
            else {
              // Y + Cb + Cr cost 1.5× the luma plane: cap BEFORE the
              // chroma allocation (decodeISlice re-checks the luma part)
              val nMbs = sps.widthMbs.toLong * sps.heightMbs
              if (nMbs <= 0 || nMbs * 384L > maxPlaneBytes)
                errRow(s"plane budget exceeded (${nMbs * 384L} bytes " +
                  s"YUV > $maxPlaneBytes cap)")
              else {
                val cSize = sps.widthMbs * 8 * sps.heightMbs * 8
                val color = Array(new Array[Byte](cSize),
                  new Array[Byte](cSize))
                decodeISlice(idr, sps, pps, maxPlaneBytes, idrRefIdc,
                  idr = true, color = color,
                  pack = packCfg) match {
                  case Left(msg) => errRow(msg)
                  case Right(luma) =>
                    // mean |chroma − 128| over both planes — the
                    // grayscale gate's signal (0 for desaturated clips)
                    var dev = 0L
                    var i = 0
                    while (i < cSize) {
                      dev += math.abs((color(0)(i) & 0xff) - 128)
                      dev += math.abs((color(1)(i) & 0xff) - 128)
                      i += 1
                    }
                    Row.fromSeq(r.toSeq ++ Seq(
                      sps.widthMbs * 16, sps.heightMbs * 16,
                      mean(luma), mean(color(0)), mean(color(1)),
                      dev.toDouble / (2L * cSize),
                      luma, color(0), color(1), null))
                }
              }
            }
          }
        } catch { case e: Exception =>
          errRow(s"decode failed: ${e.getClass.getSimpleName}")
        }
      }
    }(enc)
  }

  private val mp4Cols =
    StructField("sample_idx", IntegerType) +: cols

  /** Decode EVERY keyframe of an MP4 clip through the structure tables —
    * the "fetch and decode only keyframes" pipeline end-to-end: SPS/PPS
    * come from the avcC decoder record, sync samples are located by
    * stss×stsc×stco×stsz (the same walk as
    * [[VideoBitstream.mp4SyncSamples]]), and each sync sample's
    * length-prefixed NALs are walked for the IDR slice, decoded by the
    * shared I-slice core (I_PCM and Intra_16x16 CAVLC macroblocks both
    * decode to pixels). One row per sync sample (1-based `sample_idx`);
    * a sample that fails decodes to its own error row, siblings survive;
    * clip-level failures (no video track, no avcC) yield one error row.
    */
  /** The MP4 keyframe walk shared by [[decodeMp4Keyframes]] and
    * [[decodeMp4KeyframesColor]] — ONE copy of the avcC parameter-set
    * parse, stss×stsc×stco×stsz sync-sample location, per-sample
    * length-prefixed NAL walk and per-sample degradation. `ok` fires
    * per decoded keyframe (1-based sample idx, luma, chroma planes in
    * color mode, sps); `err` per refusal (sample idx, or null for
    * clip-level failures).
    */
  /** avcC decoder-record parse (ISO 14496-15): (nalLengthSize, SPS,
    * PPS) or a named refusal — 0xE0|numSPS at [5], then (len16, sps)*,
    * u8 numPPS, (len16, pps)*; stored sets INCLUDE the NAL header.
    * len > 0 guarded: a zero-length entry would hand rbspBytes a
    * negative size instead of the named refusal.
    */
  private def parseAvcC(c: Array[Byte])
      : Either[String, (Int, VideoBitstream.SpsInfo, PpsInfo)] =
    if (c.length < 8) Left("truncated avcC record")
    else {
      val lengthSize = (c(4) & 3) + 1
      var p = 6
      var sps: VideoBitstream.SpsInfo = null
      var pps: PpsInfo = null
      val nSps = c(5) & 0x1f
      var i = 0
      while (i < nSps && p + 2 <= c.length) {
        val len = ((c(p) & 0xff) << 8) | (c(p + 1) & 0xff)
        if (sps == null && len > 0 && p + 2 + len <= c.length)
          sps = VideoBitstream.parseSps(
            VideoBitstream.rbspBytes(c, p + 3, len - 1))
        p += 2 + len
        i += 1
      }
      val nPps = if (p < c.length) c(p) & 0xff else 0
      p += 1
      i = 0
      while (i < nPps && p + 2 <= c.length) {
        val len = ((c(p) & 0xff) << 8) | (c(p + 1) & 0xff)
        if (pps == null && len > 0 && p + 2 + len <= c.length)
          pps = parsePps(VideoBitstream.rbspBytes(c, p + 3, len - 1))
        p += 2 + len
        i += 1
      }
      if (sps == null) Left("no SPS in avcC record")
      else if (pps == null) Left("no PPS in avcC record")
      else Right((lengthSize, sps, pps))
    }

  private def mp4KeyframeWalk(bytes: Array[Byte], maxPlaneBytes: Long,
      colorMode: Boolean,
      pack: Option[ConfPack.Pack],
      ok: (Int, Array[Byte], Array[Array[Byte]],
        VideoBitstream.SpsInfo) => Unit,
      err: (Any, String) => Unit): Unit = {
    val (sawMoov, video) = VideoBitstream.firstVideoTrack(bytes)
    video match {
      case None =>
        err(null, if (sawMoov) "no video track" else "not ISO-BMFF (no moov box)")
      case Some(t) if t.avcC.isEmpty =>
        err(null, "no avcC decoder record (not AVC, or codec unsupported)")
      case Some(t) if t.sizes.isEmpty || t.chunkOffsets.isEmpty =>
        err(null, "incomplete sample tables")
      case Some(t) =>
        parseAvcC(t.avcC.get) match {
          case Left(msg) => err(null, msg)
          case Right((lengthSize, sps, pps)) =>
            // a clip whose stss matches NO sample (entry count 0, or
            // listed numbers beyond stsz) must surface as a named row,
            // not silently vanish from the output
            val syncIdxs = t.sizes.indices.filter(k =>
              !t.hasStss || t.syncs.contains((k + 1).toLong))
            if (syncIdxs.isEmpty) err(null, "no sync samples in clip")
            else {
              val (offs, covered) = VideoBitstream.sampleOffsets(t)
              if (covered < t.sizes.length) err(null, "incomplete sample tables")
              else syncIdxs.foreach { k =>
                try {
                  // the sample RANGE must sit inside the payload BEFORE
                  // any byte is read: crafted co64/stsz values >= 2^32
                  // would wrap through .toInt onto a valid in-bounds
                  // index and decode the WRONG bytes with decode_error
                  // null
                  if (offs(k) < 0 || offs(k) + t.sizes(k) > bytes.length)
                    err(k + 1, "sample extends past payload")
                  else {
                    // walk the sample's length-prefixed NALs for the IDR
                    var o = offs(k)
                    val end = offs(k) + t.sizes(k)
                    var idr: Array[Byte] = null
                    var idrRefIdc = 3
                    while (idr == null && o + lengthSize <= end) {
                      var len = 0L
                      var j = 0
                      while (j < lengthSize) {
                        len = (len << 8) | (bytes(o.toInt + j) & 0xffL)
                        j += 1
                      }
                      val ns = o + lengthSize
                      if (len <= 0 || ns + len > end) o = end // corrupt: stop
                      else {
                        if ((bytes(ns.toInt) & 0x1f) == 5) {
                          idr = VideoBitstream.rbspBytes(
                            bytes, ns.toInt + 1, len.toInt - 1)
                          idrRefIdc = (bytes(ns.toInt) >> 5) & 3
                        }
                        o = ns + len
                      }
                    }
                    if (idr == null) err(k + 1, "no IDR NAL in sync sample")
                    else {
                      // YUV budget checked BEFORE the chroma allocation
                      // (untrusted SPS dims)
                      val colorP =
                        if (!colorMode) null
                        else if (sps.widthMbs.toLong * sps.heightMbs <= 0 ||
                            sps.widthMbs.toLong * sps.heightMbs * 384L >
                              maxPlaneBytes) null
                        else {
                          val cs = sps.widthMbs * 8 * sps.heightMbs * 8
                          Array(new Array[Byte](cs), new Array[Byte](cs))
                        }
                      if (colorMode && colorP == null)
                        err(k + 1, "plane budget exceeded (YUV > cap)")
                      else decodeISlice(idr, sps, pps, maxPlaneBytes,
                          idrRefIdc, color = colorP,
                          pack = pack) match {
                        case Left(msg) => err(k + 1, msg)
                        case Right(luma) => ok(k + 1, luma, colorP, sps)
                      }
                    }
                  }
                } catch { case e: Exception =>
                  err(k + 1, s"decode failed: ${e.getClass.getSimpleName}")
                }
              }
            }
        }
    }
  }

  def decodeMp4Keyframes(df: DataFrame, payloadCol: String = "payload",
      maxPlaneBytes: Long = Archives.MaxInflatedBytes): DataFrame = {
    Multimodal.requireFreshColumns(df, "decodeMp4Keyframes", mp4Cols.map(_.name))
    val schema = StructType(df.schema.fields ++ mp4Cols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    val packCfg = ConfPack.resolve(None, df.sparkSession)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        def errRow(si: Any, msg: String) = Row.fromSeq(r.toSeq ++
          Seq(si, null, null, null, null, null, msg))
        if (r.isNullAt(idx)) Seq(errRow(null, "null payload"))
        else try {
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          mp4KeyframeWalk(r.getAs[Array[Byte]](idx), maxPlaneBytes,
            colorMode = false, pack = packCfg,
            (k, luma, _, sps) => out += lumaRow(r, luma,
              sps.widthMbs * 16, sps.heightMbs * 16, prefix = Seq(k)),
            (si, msg) => out += errRow(si, msg))
          out.toSeq
        } catch { case e: Exception =>
          Seq(errRow(null, s"container parse failed: ${e.getClass.getSimpleName}"))
        }
      }
    }(enc)
  }

  private val mp4ColorCols =
    StructField("sample_idx", IntegerType) +: colorCols

  /** [[decodeMp4Keyframes]]'s full-COLOR sibling — the "fetch and
    * decode only keyframes, in color" pipeline end-to-end: the same
    * container walk (shared [[mp4KeyframeWalk]]), each sync sample's
    * IDR decoded to Y + Cb + Cr with the [[decodeIdrColor]] chroma
    * envelope (CAVLC, 4:2:0, flat weights, identity Table 8-15
    * region), per-sample degradation, per-plane means +
    * `chroma_energy` + planes per row.
    */
  def decodeMp4KeyframesColor(df: DataFrame, payloadCol: String = "payload",
      maxPlaneBytes: Long = Archives.MaxInflatedBytes): DataFrame = {
    Multimodal.requireFreshColumns(df, "decodeMp4KeyframesColor",
      mp4ColorCols.map(_.name))
    val packCfg = ConfPack.resolve(None, df.sparkSession)
    val schema = StructType(df.schema.fields ++ mp4ColorCols)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        def errRow(si: Any, msg: String) = Row.fromSeq(r.toSeq ++
          Seq(si, null, null, null, null, null, null, null, null, null, msg))
        def mean(p: Array[Byte]): Double = {
          var s = 0L
          var i = 0
          while (i < p.length) { s += p(i) & 0xff; i += 1 }
          s.toDouble / p.length
        }
        if (r.isNullAt(idx)) Seq(errRow(null, "null payload"))
        else try {
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          mp4KeyframeWalk(r.getAs[Array[Byte]](idx), maxPlaneBytes,
            colorMode = true, pack = packCfg,
            (k, luma, color, sps) => {
              var dev = 0L
              var i = 0
              while (i < color(0).length) {
                dev += math.abs((color(0)(i) & 0xff) - 128)
                dev += math.abs((color(1)(i) & 0xff) - 128)
                i += 1
              }
              out += Row.fromSeq(r.toSeq ++ Seq(k,
                sps.widthMbs * 16, sps.heightMbs * 16,
                mean(luma), mean(color(0)), mean(color(1)),
                dev.toDouble / (2L * color(0).length),
                luma, color(0), color(1), null))
            },
            (si, msg) => out += errRow(si, msg))
          out.toSeq
        } catch { case e: Exception =>
          Seq(errRow(null, s"container parse failed: ${e.getClass.getSimpleName}"))
        }
      }
    }(enc)
  }

  /** PPS RBSP for the CAVLC fixtures: like [[realPpsRbsp]] but
    * pic_init_qp 28 (minus26 = 2) and deblocking_filter_control_present
    * set — the fixture slice disables the in-loop filter explicitly,
    * which is what the decoder requires of CAVLC streams.
    */
  private[ops] def cavlcPpsRbsp: Array[Byte] = {
    val w = new VideoBitstream.BitWriter
    w.ue(0); w.ue(0) // pps id, sps id
    w.u(0, 1) // entropy_coding_mode_flag: CAVLC
    w.u(0, 1) // bottom_field_pic_order_in_frame_present_flag
    w.ue(0) // num_slice_groups_minus1
    w.ue(0); w.ue(0) // num_ref_idx_l0/l1_default_active_minus1
    w.u(0, 1) // weighted_pred_flag
    w.u(0, 2) // weighted_bipred_idc
    w.se(2) // pic_init_qp_minus26 → QP 28 (DC coeff v → residual exactly v)
    w.se(0); w.se(0) // init_qs, chroma_qp_offset
    w.u(1, 1) // deblocking_filter_control_present_flag
    w.u(0, 1) // constrained_intra_pred_flag
    w.u(0, 1) // redundant_pic_cnt_present_flag
    w.rbspTrailing()
    w.bytes
  }

  /** The COLOR fixture slice: four Intra_16x16 DC-predicted macroblocks
    * (2×2 frame) whose luma DC coefficients chain the quadrant closed
    * form (c0 = 128+v0, c1 = c0+v1, c2 = c0+v2, c3 = avg(c1,c2)+v3 at
    * QP 28) and whose CHROMA exercises all the §8.3.4 paths the color
    * decode adds: MB0 DC-predicted chroma with a lone 2×2-DC CAVLC
    * coefficient per component (at qPc 28 the chroma DC law is
    * +2·coeff across the 8×8 — Hadamard spreads the lone coefficient,
    * §8.5.11 dequant makes it 128·coeff, the DC-only idct divides by
    * 64), MB1 HORIZONTAL chroma + its own DC residual, MB2 VERTICAL
    * chroma + residual, MB3 DC chroma with DIFFERENT left/top
    * references — the corner-preference rules (§8.3.4.1: block 1
    * prefers top, block 2 prefers left, 0/3 average both) become
    * pixel-visible: quadrants ((A+B+1)>>1, A, B, (A+B+1)>>1).
    */
  private[ops] def i16ColorSliceRbsp(v0: Int, v1: Int, v2: Int, v3: Int,
      u0: Int, u1: Int, u2: Int, w0: Int, w1: Int, w2: Int): Array[Byte] = {
    val w = new VideoBitstream.BitWriter
    writeIdrSliceHeader(w, deblockIdc = Some(1))
    def mb(cbpChroma: Int, chromaPred: Int, vLuma: Int,
        uCb: Int, uCr: Int): Unit = {
      // I_16x16 mb_type = 1 + predMode + 4·cbpChroma (cbpLuma 0), DC(2)
      w.ue(1 + 2 + 4 * cbpChroma)
      w.ue(chromaPred)
      w.se(0) // mb_qp_delta
      Cavlc.encodeResidualBlock(w, dcOnly(16, vLuma), 0, 16)
      if (cbpChroma >= 1) {
        Cavlc.encodeResidualBlock(w, dcOnly(4, uCb), -1, 4)
        Cavlc.encodeResidualBlock(w, dcOnly(4, uCr), -1, 4)
      }
    }
    mb(1, 0, v0, u0, w0) // DC chroma, no neighbours → 128 + 2u0
    mb(1, 1, v1, u1, w1) // horizontal chroma from MB0
    mb(1, 2, v2, u2, w2) // vertical chroma from MB0
    mb(0, 0, v3, 0, 0) // DC chroma over distinct left/top, no residual
    w.rbspTrailing()
    w.bytes
  }

  /** Deterministic full-color clip (Annex-B): baseline SPS (2×2 MBs) +
    * the QP-28 PPS + [[i16ColorSliceRbsp]] — decode with
    * [[decodeIdrColor]]; every plane mean is in closed form.
    */
  val syntheticColorAnnexB: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (v0: Int, v1: Int, v2: Int, v3: Int,
        u0: Int, u1: Int, u2: Int, w0: Int, w1: Int, w2: Int) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
          out += 0; out += 0; out += 0; out += 1
          out += ((refIdc << 5) | tpe).toByte
          out ++= VideoBitstream.escapeRbsp(rbsp)
        }
        nal(3, 7, VideoBitstream.syntheticSpsRbsp(2, 2))
        nal(3, 8, cavlcPpsRbsp)
        nal(3, 5, i16ColorSliceRbsp(v0, v1, v2, v3, u0, u1, u2, w0, w1, w2))
        out.toArray
      })

  /** [[cavlcPpsRbsp]] (QP 28, deblock control) + the §7.3.2.2 trailing
    * extension with transform_8x8_mode_flag = 1, no PPS scaling
    * matrices — the common High-profile PPS shape.
    */
  private[ops] def cavlcT8PpsRbsp: Array[Byte] = {
    val w = new VideoBitstream.BitWriter
    w.ue(0); w.ue(0) // pps id, sps id
    w.u(0, 1) // entropy_coding_mode_flag: CAVLC
    w.u(0, 1) // bottom_field_pic_order_in_frame_present_flag
    w.ue(0) // num_slice_groups_minus1
    w.ue(0); w.ue(0) // num_ref_idx_l0/l1_default_active_minus1
    w.u(0, 1) // weighted_pred_flag
    w.u(0, 2) // weighted_bipred_idc
    w.se(2) // pic_init_qp_minus26 → QP 28 (8x8 DC coeff v → residual 2v)
    w.se(0); w.se(0) // init_qs, chroma_qp_offset
    w.u(1, 1) // deblocking_filter_control_present_flag
    w.u(0, 1) // constrained_intra_pred_flag
    w.u(0, 1) // redundant_pic_cnt_present_flag
    w.u(1, 1) // transform_8x8_mode_flag
    w.u(0, 1) // pic_scaling_matrix_present_flag
    w.se(0) // second_chroma_qp_index_offset
    w.rbspTrailing()
    w.bytes
  }

  /** The Intra_8x8 fixture slice: ONE macroblock (1×1 frame), I_NxN with
    * transform_size_8x8_flag = 1, all four 8×8 blocks DC-predicted with
    * a lone 8×8-DC CAVLC coefficient each (interleaved sub-block 0 of
    * the four-4×4 residual layout). At QP 28 with flat weights the 8×8
    * dequant+transform turns DC coefficient c into a constant residual
    * of exactly 2c (§8.5.13.1: (c·16·32+2)>>2 = 128c; DC-only inverse
    * butterfly: (128c+32)>>6 = 2c), so the quadrants chain in closed
    * form: b0 = 128+2c0 (no neighbours → DC 128), b1 = b0+2c1 (left
    * refs only), b2 = b0+2c2 (top refs only), b3 = (b1+b2+1)>>1 + 2c3
    * (both sides).
    */
  private[ops] def i8x8SliceRbsp(c0: Int, c1: Int, c2: Int,
      c3: Int): Array[Byte] = {
    val cs = Array(c0, c1, c2, c3)
    val w = new VideoBitstream.BitWriter
    writeIdrSliceHeader(w, deblockIdc = Some(1))
    w.ue(0) // mb_type: I_NxN
    w.u(1, 1) // transform_size_8x8_flag
    var b = 0
    while (b < 4) { w.u(1, 1); b += 1 } // all modes = predicted (DC)
    w.ue(0) // intra_chroma_pred_mode: DC
    w.ue(IntraCbpToCodeNum(15)) // cbp: luma 15, chroma 0
    w.se(0) // mb_qp_delta
    // residual: per 8×8 block, sub-block 0 carries the DC (scan 0 of
    // the interleave), sub-blocks 1..3 are empty; nC mirrors §9.2.1
    // over the 4×4 cell grid exactly as the decoder derives it
    val nc = Array.fill(16)(-1)
    def ncFor(cx: Int, cy: Int): Int = {
      val nA = if (cx > 0) nc(cy * 4 + cx - 1) else -1
      val nB = if (cy > 0) nc((cy - 1) * 4 + cx) else -1
      if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
      else if (nA >= 0) nA else if (nB >= 0) nB else 0
    }
    var i8 = 0
    while (i8 < 4) {
      var i4 = 0
      while (i4 < 4) {
        val blk = i8 * 4 + i4
        val cx = Blk4x4X(blk)
        val cy = Blk4x4Y(blk)
        val coeffs = if (i4 == 0) dcOnly(16, cs(i8)) else new Array[Int](16)
        Cavlc.encodeResidualBlock(w, coeffs, ncFor(cx, cy), 16)
        nc(cy * 4 + cx) = if (i4 == 0 && cs(i8) != 0) 1 else 0
        i4 += 1
      }
      i8 += 1
    }
    w.rbspTrailing()
    w.bytes
  }

  /** Deterministic High-profile Intra_8x8 clip (Annex-B): flat-weight
    * High SPS (1×1 MBs) + the transform_8x8 PPS + [[i8x8SliceRbsp]].
    * Expected luma is the four 8×8 quadrant constants documented there.
    */
  val syntheticI8x8AnnexB: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (c0: Int, c1: Int, c2: Int, c3: Int) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
          out += 0; out += 0; out += 0; out += 1
          out += ((refIdc << 5) | tpe).toByte
          out ++= VideoBitstream.escapeRbsp(rbsp)
        }
        nal(3, 7, VideoBitstream.syntheticHighFlatSpsRbsp(1, 1))
        nal(3, 8, cavlcT8PpsRbsp)
        nal(3, 5, i8x8SliceRbsp(c0, c1, c2, c3))
        out.toArray
      })

  /** Scan-order coefficient array with `v` at scan position 0. */
  private def dcOnly(maxNumCoeff: Int, v: Int): Array[Int] = {
    val a = new Array[Int](maxNumCoeff)
    a(0) = v
    a
  }

  /** The Intra_16x16 CAVLC fixture slice: a 2×2-MB I frame whose four
    * macroblocks exercise the four §8.3.3 prediction modes AND the CAVLC
    * layer, with closed-form constant-per-MB luma at QP 28 (where a DC
    * coefficient v dequants to residual exactly v):
    *   - MB0: DC pred (no neighbours → 128), DC coeff `v0`, plus
    *     cbp_chroma 2 with multi-coefficient chroma DC blocks AND dense
    *     chroma AC blocks that drive the full coeff_token table set:
    *     the Cb grid's TotalCoeff-2 blocks put its later blocks in the
    *     2 ≤ nC < 4 column, the Cr grid's TotalCoeff-6 blocks put its
    *     later blocks in the 4 ≤ nC < 8 column and read total_zeros
    *     column 6 — consumed bits whose mis-parse would corrupt every
    *     later MB, so the constant-quadrant oracle also pins the new
    *     table columns bit-exactly → 128 + v0
    *   - MB1: Horizontal pred from MB0, trailing-one DC ±1 → c0 ± 1
    *   - MB2: Vertical pred from MB0, DC coeff `v2` → c0 + v2
    *   - MB3: DC pred from both neighbours, zero residual → (c1+c2+1)>>1
    */
  private[ops] def i16SliceRbsp(v0: Int, s1Neg: Boolean, v2: Int): Array[Byte] = {
    val w = new VideoBitstream.BitWriter
    // QPY 28; disable_deblocking_filter_idc = 1 (filter off, REQUIRED)
    writeIdrSliceHeader(w, deblockIdc = Some(1))
    // MB0: mb_type 11 = Intra_16x16 (DC pred, cbp_chroma 2, cbp_luma 0)
    w.ue(11); w.ue(0); w.se(0) // intra_chroma_pred_mode DC, mb_qp_delta 0
    Cavlc.encodeResidualBlock(w, dcOnly(16, v0), 0, 16)
    Cavlc.encodeResidualBlock(w, Array(2, 1, -1, 0), -1, 4) // Cb DC
    Cavlc.encodeResidualBlock(w, Array(1, -1, 1, -1), -1, 4) // Cr DC
    // chroma AC (cbp_chroma 2): Cb blocks carry TotalCoeff 2 (+1 at
    // scans 0 and 3) so Cb blocks after (0,0) decode through the
    // 2<=nC<4 coeff_token column; Cr blocks carry TotalCoeff 6 so Cr
    // blocks after (0,0) decode through the 4<=nC<8 column and every
    // Cr block reads total_zeros column 6. Block order (0,0),(1,0),
    // (0,1),(1,1): left/above neighbours are always encoded first, so
    // the per-grid nC here mirrors the decoder's §9.2.1 context rule.
    val cbAc = { val a = new Array[Int](15); a(0) = 1; a(3) = 1; a }
    val crAc = { val a = new Array[Int](15)
      a(0) = 1; a(1) = -1; a(2) = 2; a(4) = 2; a(5) = -1; a(8) = 1; a }
    Seq(0, 2, 2, 2).foreach(nC => Cavlc.encodeResidualBlock(w, cbAc, nC, 15))
    Seq(0, 6, 6, 6).foreach(nC => Cavlc.encodeResidualBlock(w, crAc, nC, 15))
    // MB1: mb_type 2 (Horizontal pred, no cbp)
    w.ue(2); w.ue(0); w.se(0)
    Cavlc.encodeResidualBlock(w, dcOnly(16, if (s1Neg) -1 else 1), 0, 16)
    // MB2: mb_type 1 (Vertical pred, no cbp)
    w.ue(1); w.ue(0); w.se(0)
    Cavlc.encodeResidualBlock(w, dcOnly(16, v2), 0, 16)
    // MB3: mb_type 3 (DC pred, no cbp), zero residual
    w.ue(3); w.ue(0); w.se(0)
    Cavlc.encodeResidualBlock(w, new Array[Int](16), 0, 16)
    w.rbspTrailing()
    w.bytes
  }

  /** Deterministic Intra_16x16 CAVLC clip (Annex-B): real SPS (2×2 MBs) +
    * the QP-28 PPS + the [[i16SliceRbsp]] slice. Expected luma is four
    * constant 16×16 quadrants: c0 = 128+v0 (top-left), c1 = c0±1
    * (top-right), c2 = c0+v2 (bottom-left), c3 = (c1+c2+1)>>1
    * (bottom-right) — closed-form in (v0, s1, v2).
    */
  val syntheticCavlcI16AnnexB: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (v0: Int, s1Neg: Boolean, v2: Int) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
          out += 0; out += 0; out += 0; out += 1
          out += ((refIdc << 5) | tpe).toByte
          out ++= VideoBitstream.escapeRbsp(rbsp)
        }
        nal(3, 7, VideoBitstream.syntheticSpsRbsp(2, 2))
        nal(3, 8, cavlcPpsRbsp)
        nal(3, 5, i16SliceRbsp(v0, s1Neg, v2))
        out.toArray
      })

  /** [[syntheticCavlcI16AnnexB]] under a High-profile SPS that TRANSMITS
    * Sl_4x4_Intra_Y with w(0, 0) = `w00` (other positions 16): the same
    * slice bytes decode under weighted dequant. At QP 28 the quadrant
    * law scales EXACTLY by f = w00 / 16 for w00 ∈ {16, 32} (DC dequant
    * (c·w00·16 + 2) >> 2 is 64c/128c, the DC-only IDCT offset
    * (dq + 32) >> 6 is c/2c): c0 = 128 + f·v0, c1 = c0 ± f,
    * c2 = c0 + f·v2, c3 = (c1 + c2 + 1) >> 1.
    */
  val syntheticScalingI16AnnexB: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (v0: Int, s1Neg: Boolean, v2: Int, w00: Int) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
          out += 0; out += 0; out += 0; out += 1
          out += ((refIdc << 5) | tpe).toByte
          out ++= VideoBitstream.escapeRbsp(rbsp)
        }
        val list0 = Array.fill(16)(16)
        list0(0) = w00
        nal(3, 7, VideoBitstream.syntheticHighSpsRbsp(2, 2, list0))
        nal(3, 8, cavlcPpsRbsp)
        nal(3, 5, i16SliceRbsp(v0, s1Neg, v2))
        out.toArray
      })

  /** The Intra_4x4 fixture slice (2×1 frame): MB0 is I_PCM with the
    * horizontal gradient (base + 3x — its right column is the constant
    * base+45 and its blocks enter the nC grid at 16), MB1 is I_NxN with
    * all 16 blocks in Horizontal mode carrying a DC-only residual of
    * `k`: at QP 28 the residual dequants to exactly 4k per pixel, so
    * block column bx reconstructs to the CLOSED FORM base+45 + 4k(bx+1)
    * — mode prediction (first block rem-coded below its DC predictor,
    * the rest prev-flag), Table 9-4 cbp (luma 15, codeNum 2), the
    * cbp-gated mb_qp_delta, and real mixed nC contexts (16 from the PCM
    * edge, 9 mid-grid, 1 interior) all ride the bits.
    */
  private def i4x4SliceRbsp(base: Int, k: Int): Array[Byte] = {
    val w = new VideoBitstream.BitWriter
    writeIdrSliceHeader(w, deblockIdc = Some(1))
    // MB0: I_PCM horizontal gradient
    w.ue(25)
    w.alignByte()
    var i = 0
    while (i < 256) { w.u((base + 3 * (i % 16)) % 256, 8); i += 1 }
    var c = 0
    while (c < 128) { w.u(128, 8); c += 1 }
    // MB1: I_NxN, every block Horizontal (mode 1)
    w.ue(0)
    // block (0,0): neighbours not Intra_4x4 → predicted mode DC(2);
    // mode 1 < 2 → rem 1. Every later block predicts 1 → prev flag.
    var b = 0
    while (b < 16) {
      if (b == 0) { w.u(0, 1); w.u(1, 3) } else w.u(1, 1)
      b += 1
    }
    w.ue(0) // intra_chroma_pred_mode DC
    w.ue(IntraCbpToCodeNum(15)) // cbp: luma 15, chroma 0
    w.se(0) // mb_qp_delta (present: cbp != 0)
    // residuals in Z order, nC replayed like the decoder computes it
    // (frame grid: MB0's PCM column contributes 16)
    val grid = Array.fill(8 * 4)(-1)
    for (x <- 0 until 4; y <- 0 until 4) grid(y * 8 + x) = 16 // MB0 PCM
    val scan = new Array[Int](16)
    scan(0) = k
    b = 0
    while (b < 16) {
      val gx = 4 + Blk4x4X(b)
      val gy = Blk4x4Y(b)
      val nA = if (gx > 0) grid(gy * 8 + gx - 1) else -1
      val nB = if (gy > 0) grid((gy - 1) * 8 + gx) else -1
      val nC = if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
        else if (nA >= 0) nA else if (nB >= 0) nB else 0
      Cavlc.encodeResidualBlock(w, scan, nC, 16)
      grid(gy * 8 + gx) = 1
      b += 1
    }
    w.rbspTrailing()
    w.bytes
  }

  /** Deterministic Intra_4x4 clip (Annex-B): SPS (2×1 MBs) + the QP-28
    * PPS + [[i4x4SliceRbsp]]. Expected luma: MB0 = the (base + 3x) mod
    * 256 gradient; MB1's block column bx = base + 45 + 4k(bx+1), so
    * y_mean = base + 33.75 + 5k closed-form (no clipping for
    * base ≤ 99, k ≤ 5).
    */
  val syntheticI4x4AnnexB: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (base: Int, k: Int) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
          out += 0; out += 0; out += 0; out += 1
          out += ((refIdc << 5) | tpe).toByte
          out ++= VideoBitstream.escapeRbsp(rbsp)
        }
        nal(3, 7, VideoBitstream.syntheticSpsRbsp(2, 1))
        nal(3, 8, cavlcPpsRbsp)
        nal(3, 5, i4x4SliceRbsp(base, k))
        out.toArray
      })

  /** A REAL PPS RBSP (CAVLC, no FMO, no deblock fields) shared by the
    * synthetic generators. */
  private[ops] def realPpsRbsp: Array[Byte] = {
    val w = new VideoBitstream.BitWriter
    w.ue(0); w.ue(0) // pps id, sps id
    w.u(0, 1) // entropy_coding_mode_flag: CAVLC
    w.u(0, 1) // bottom_field_pic_order_in_frame_present_flag
    w.ue(0) // num_slice_groups_minus1
    w.ue(0); w.ue(0) // num_ref_idx_l0/l1_default_active_minus1
    w.u(0, 1) // weighted_pred_flag
    w.u(0, 2) // weighted_bipred_idc
    w.se(0); w.se(0); w.se(0) // init_qp, init_qs, chroma_qp_offset
    w.u(0, 1) // deblocking_filter_control_present_flag
    w.u(0, 1) // constrained_intra_pred_flag
    w.u(0, 1) // redundant_pic_cnt_present_flag
    w.rbspTrailing()
    w.bytes
  }

  /** Shared fixture IDR slice header (first_mb 0, slice_type 7 "all
    * slices I", pps 0, 4-bit frame_num 0, idr_pic_id 0,
    * dec_ref_pic_marking, slice_qp_delta 0) — ONE writer so the I_PCM
    * and CAVLC fixture slices cannot drift on the implicit invariants
    * (log2_max_frame_num = 4 must match syntheticSpsRbsp).
    * `deblockIdc` is written only when set (the CAVLC PPS carries the
    * control flag; the plain PPS does not).
    */
  private def writeIdrSliceHeader(w: VideoBitstream.BitWriter,
      deblockIdc: Option[Int]): Unit = {
    w.ue(0) // first_mb_in_slice
    w.ue(7) // slice_type: I (all slices of the picture are I)
    w.ue(0) // pic_parameter_set_id
    w.u(0, 4) // frame_num (log2_max_frame_num = 4)
    w.ue(0) // idr_pic_id
    w.u(0, 1); w.u(0, 1) // dec_ref_pic_marking for IDR
    w.se(0) // slice_qp_delta
    deblockIdc.foreach(w.ue)
  }

  /** An IDR slice RBSP made entirely of I_PCM macroblocks whose luma is
    * the horizontal gradient (base + slope·x) mod 256; chroma constant
    * 128. Shared by both synthetic generators.
    */
  private def ipcmSliceRbsp(mbw: Int, mbh: Int, base: Int, slope: Int): Array[Byte] = {
    val w = new VideoBitstream.BitWriter
    writeIdrSliceHeader(w, deblockIdc = None)
    var mb = 0
    while (mb < mbw * mbh) {
      w.ue(25) // I_PCM
      w.alignByte()
      val mbx = (mb % mbw) * 16
      var i = 0
      while (i < 256) {
        w.u((base + slope * (mbx + i % 16)) % 256, 8)
        i += 1
      }
      var c = 0
      while (c < 128) { w.u(128, 8); c += 1 }
      mb += 1
    }
    w.rbspTrailing()
    w.bytes
  }

  /** Deterministic I_PCM IDR clip: SPS (the shared synthetic baseline
    * SPS) + a REAL PPS + one IDR slice made entirely of I_PCM
    * macroblocks whose luma is a HORIZONTAL GRADIENT — pixel (x, y) =
    * (base + slope·x) mod 256, constant down each column, the same
    * closed form as the PNG-gradient fixtures, so decoded planes feed
    * the perceptual-hash oracles directly. Chroma is the constant 128.
    * Emulation prevention is REAL here (gradients hit 00 00 runs), so
    * the escape/unescape round-trip is exercised.
    */
  val syntheticIPcmAnnexB: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (mbw: Int, mbh: Int, base: Int, slope: Int) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        def nal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Unit = {
          out += 0; out += 0; out += 0; out += 1
          out += ((refIdc << 5) | tpe).toByte
          out ++= VideoBitstream.escapeRbsp(rbsp)
        }
        nal(3, 7, VideoBitstream.syntheticSpsRbsp(mbw, mbh))
        nal(3, 8, realPpsRbsp)
        nal(3, 5, ipcmSliceRbsp(mbw, mbh, base, slope))
        out.toArray
      })

  /** Deterministic I_PCM MP4: the [[VideoBitstream.syntheticMp4]] layout
    * (mdat first, one chunk, stss every `syncPeriod`-th sample,
    * timescale 512 / delta 128) but the avcC carries a REAL PPS next to
    * the real SPS, and mdat samples are 4-byte-length-prefixed NALs —
    * sync sample k holds a REAL I_PCM IDR whose gradient base is
    * `base + 11k` (each keyframe decodes to a different plane),
    * non-sync samples hold an opaque non-IDR NAL. stsz records the
    * actual NAL byte lengths, so the whole table is self-consistent and
    * [[decodeMp4Keyframes]]'s output is closed-form in
    * (mbw, mbh, base, slope, k).
    */
  /** One MP4 sample: a 4-byte-length-prefixed NAL. */
  private def sampleNal(refIdc: Int, tpe: Int, rbsp: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val payload = VideoBitstream.escapeRbsp(rbsp)
    val len = payload.length + 1
    bos.write((len >> 24) & 0xff); bos.write((len >> 16) & 0xff)
    bos.write((len >> 8) & 0xff); bos.write(len & 0xff)
    bos.write((refIdc << 5) | tpe)
    bos.write(payload, 0, payload.length)
    bos.toByteArray
  }

  val syntheticIPcmMp4: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (mbw: Int, mbh: Int, nSamples: Int, syncPeriod: Int, base: Int, slope: Int) => {
        val samples = Array.tabulate(nSamples) { k =>
          if (k % syncPeriod == 0)
            sampleNal(3, 5, ipcmSliceRbsp(mbw, mbh, (base + 11 * k) % 256, slope))
          else
            sampleNal(2, 1, Array.tabulate(8 + k % 8)(j => (0x80 | (k + j)).toByte))
        }
        mp4AvcClip(mbw, mbh, samples, syncPeriod, realPpsRbsp)
      }).asNondeterministic()
      // ^ optimizer pin, NOT real nondeterminism — the generator is a pure
      // function of its args (values stable; pinned by OptimizationR19Spec).
      // Declared nondeterministic so filter pushdown cannot duplicate the
      // heavy payload expression into every sniffer reference (guide section 4.4).
      // Cost: the payload column is rejected wherever nondeterministic
      // expressions are disallowed (join/group/sort keys) — callers key on
      // doc_id, never on payload bytes.

  /** Deterministic full-color MP4: each sync sample holds a REAL color
    * IDR ([[i16ColorSliceRbsp]] with v0 + k as its luma base, uniform
    * MB3 chroma) and the avcC carries the QP-28 PPS — so
    * [[decodeMp4KeyframesColor]]'s per-keyframe Y/Cb/Cr means are
    * closed-form in (v0..v2, u0, u1, w0, w1, k).
    */
  val syntheticColorMp4: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (nSamples: Int, syncPeriod: Int, v0: Int, v1: Int, v2: Int,
        u0: Int, u1: Int, w0: Int, w1: Int) => {
        val samples = Array.tabulate(nSamples) { k =>
          if (k % syncPeriod == 0)
            sampleNal(3, 5, i16ColorSliceRbsp(v0 + k, v1, v2, 1,
              u0, u1, u1, w0, w1, w1))
          else
            sampleNal(2, 1, Array.tabulate(8 + k % 8)(j => (0x80 | (k + j)).toByte))
        }
        mp4AvcClip(2, 2, samples, syncPeriod, cavlcPpsRbsp)
      })

  /** The [[VideoBitstream.syntheticMp4]] layout (mdat first, one chunk,
    * stss every `syncPeriod`-th sample, timescale 512 / delta 128) with
    * REAL parameter sets in the avcC and caller-supplied length-prefixed
    * samples — shared by the I_PCM and CAVLC MP4 generators.
    */
  private def mp4AvcClip(mbw: Int, mbh: Int, samples: Array[Array[Byte]],
      syncPeriod: Int, ppsRbsp: Array[Byte]): Array[Byte] = {
        val nSamples = samples.length
        val w = new VideoBitstream.BoxWriter
        w.box("ftyp") { b => b.str("isom"); b.u32(0L); b.str("avc1") }
        w.box("mdat") { b => samples.foreach(b.bytes) }
        val mdatPayloadOff = 28L // ftyp 20 + mdat header 8
        w.box("moov") { m =>
          m.box("mvhd") { b =>
            b.u32(0L); b.u32(0L); b.u32(0L)
            b.u32(512L); b.u32(nSamples * 128L)
            b.u32(0x00010000L); b.u16(0x0100); b.u16(0)
            (0 until 2).foreach(_ => b.u32(0L))
            Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
              .foreach(b.u32)
            (0 until 6).foreach(_ => b.u32(0L))
            b.u32(2L)
          }
          m.box("trak") { t =>
            t.box("tkhd") { b =>
              b.u32(7L); b.u32(0L); b.u32(0L); b.u32(1L); b.u32(0L)
              b.u32(nSamples * 128L)
              (0 until 2).foreach(_ => b.u32(0L))
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
                mi.box("stbl") { st =>
                  st.box("stsd") { b =>
                    b.u32(0L); b.u32(1L)
                    b.box("avc1") { e =>
                      (0 until 6).foreach(_ => e.u8(0)); e.u16(1)
                      (0 until 4).foreach(_ => e.u32(0L))
                      e.u16(mbw * 16); e.u16(mbh * 16)
                      e.u32(0x00480000L); e.u32(0x00480000L); e.u32(0L)
                      e.u16(1)
                      (0 until 32).foreach(_ => e.u8(0))
                      e.u16(24); e.u16(0xffff)
                      e.box("avcC") { c =>
                        val sps = Array[Byte](0x67) ++
                          VideoBitstream.escapeRbsp(
                            VideoBitstream.syntheticSpsRbsp(mbw, mbh))
                        val pps = Array[Byte](0x68) ++
                          VideoBitstream.escapeRbsp(ppsRbsp)
                        c.u8(1); c.u8(66); c.u8(0); c.u8(30)
                        c.u8(0xff); c.u8(0xe1) // lengthSize 4, numSPS 1
                        c.u16(sps.length); c.bytes(sps)
                        c.u8(1); c.u16(pps.length); c.bytes(pps)
                      }
                    }
                  }
                  st.box("stts") { b =>
                    b.u32(0L); b.u32(1L); b.u32(nSamples.toLong); b.u32(128L)
                  }
                  st.box("stsc") { b =>
                    b.u32(0L); b.u32(1L); b.u32(1L); b.u32(nSamples.toLong); b.u32(1L)
                  }
                  st.box("stsz") { b =>
                    b.u32(0L); b.u32(0L); b.u32(nSamples.toLong)
                    samples.foreach(s => b.u32(s.length.toLong))
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
  }

  /** MP4 clip whose sync samples are Intra_16x16 CAVLC IDR frames — the
    * fetch-and-decode-only-keyframes route over ENTROPY-CODED keyframes:
    * sample tables locate the sync samples, the avcC carries the QP-28
    * CAVLC PPS, and keyframe k decodes (through the same shared slice
    * core as Annex-B) to the closed-form quadrants of
    * [[i16SliceRbsp]](1 + (v0 + 3k) % 5, s1Neg, v2). 2×2 MBs (the
    * fixture slice's SPS shape); non-sync samples carry opaque non-IDR
    * NALs.
    */
  val syntheticCavlcMp4: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (nSamples: Int, syncPeriod: Int, v0: Int, s1Neg: Boolean, v2: Int) => {
        val samples = Array.tabulate(nSamples) { k =>
          if (k % syncPeriod == 0)
            sampleNal(3, 5, i16SliceRbsp(1 + (v0 + 3 * k) % 5, s1Neg, v2))
          else
            sampleNal(2, 1, Array.tabulate(8 + k % 8)(j => (0x80 | (k + j)).toByte))
        }
        mp4AvcClip(2, 2, samples, syncPeriod, cavlcPpsRbsp)
      })
}
