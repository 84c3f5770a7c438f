package graft.ops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The conformance-data pack ([[ConfPack]]): loader round-trip and
  * structural tripwires, and the two seams it unlocks end-to-end with
  * SELF-CODED table values (encoder twin and decoder share the
  * injected data, so streams this repo generates decode exactly;
  * real-world streams need the spec's values in the same slots): default scaling matrices (default4x4Intra) and the
  * bent chroma QP region (qpcBent). Each seam's refusal names its slot
  * when the pack is absent.
  */
class ConfPackSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("loader: render → fromText round-trips every slot; provenance " +
      "is required per present slot") {
    val pack = ConfPack.Pack(
      default4x4Intra = Some(Array.tabulate(16)(i => 6 + i)),
      qpcBent = Some(Array.tabulate(22)(i => 29 + i / 3)),
      mp3Window = Some(Array.tabulate(512)(i => i / 1024.0)),
      provenance = Map("default4x4intra" -> "test",
        "qpcbent" -> "test", "mp3window" -> "test"))
    val rt = ConfPack.fromText(ConfPack.render(pack))
    assert(rt.default4x4Intra.get.toSeq == pack.default4x4Intra.get.toSeq)
    assert(rt.qpcBent.get.toSeq == pack.qpcBent.get.toSeq)
    assert(rt.mp3Window.get.toSeq == pack.mp3Window.get.toSeq)
    assert(rt.default8x8Intra.isEmpty)
    // provenance missing for a present slot → rejected naming it
    val noProv = ConfPack.render(pack.copy(provenance = Map(
      "default4x4intra" -> "x", "qpcbent" -> "x")))
    val e = intercept[IllegalArgumentException](ConfPack.fromText(noProv))
    assert(e.getMessage.contains("provenance") &&
      e.getMessage.contains("mp3window"), e.getMessage)
  }

  test("loader: structural tripwires reject non-monotone qpcBent, " +
      "wrong counts, unknown sections") {
    def bad(text: String, want: String): Unit = {
      val e = intercept[IllegalArgumentException](ConfPack.fromText(text))
      assert(e.getMessage.contains(want), s"'${e.getMessage}' !~ '$want'")
    }
    bad("[default8x8Intra]\n" + Array.fill(20)(16).mkString(" ") +
      "\n[provenance]\ndefault8x8intra x\n", "holds 64 values")
    bad("[qpcBent]\n" + (Seq(31) ++ Seq.fill(21)(29)).mkString(" ") +
      "\n[provenance]\nqpcbent x\n", "nondecreasing")
    bad("[qpcBent]\n" + Seq.fill(22)(45).mkString(" ") +
      "\n[provenance]\nqpcbent x\n", "BELOW the identity")
    bad("[default4x4Intra]\n" + Array.fill(16)(0).mkString(" ") +
      "\n[provenance]\ndefault4x4intra x\n", "1..255")
    bad("[mysteryTable]\n1 2 3\n", "unknown section")
    bad("[provenance]\nnothing here\n", "no slots")
  }

  private def annexB(units: (Int, Int, Array[Byte])*): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    units.foreach { case (refIdc, tpe, rbsp) =>
      out += 0; out += 0; out += 0; out += 1
      out += ((refIdc << 5) | tpe).toByte
      out ++= VideoBitstream.escapeRbsp(rbsp)
    }
    out.toArray
  }

  // ---- default scaling matrices (default4x4Intra slot) ----

  test("default scaling matrix: a stream demanding Default_4x4_Intra " +
      "refuses naming the slot without the pack, decodes THROUGH the " +
      "pack's values with it (weights visibly applied)") {
    // 1×1-MB High-profile SPS with scaling matrices present, list 0
    // ABSENT → fall-back rule A demands the default table
    def decode(pack: Option[ConfPack.Pack]) = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0)
      w.u(0, 1); w.u(0, 1); w.se(0); w.ue(1)
      w.ue(3); w.ue(0); w.se(0) // I_16x16 DC pred, cbp 0
      val dc = new Array[Int](16); dc(0) = 5
      Cavlc.encodeResidualBlock(w, dc, 0, 16)
      w.rbspTrailing()
      H264Decode.decodeISlice(w.bytes,
        VideoBitstream.parseSps(
          VideoBitstream.syntheticHighSpsRbsp(1, 1, null)),
        H264Decode.parsePps(H264Decode.cavlcPpsRbsp), pack = pack)
    }
    val refusal = decode(None).swap.toOption.get
    assert(refusal.contains("default4x4Intra") &&
      refusal.contains(ConfPack.SparkConfKey), refusal)
    // all-16 weights = the flat law 128 + c; all-32 weights = 128 + 2c
    // (the H264ScalingSpec anchor) — proving the PACK's numbers are
    // what dequantizes, not a silent flat fallback
    def packOf(w00: Int) = Some(ConfPack.Pack(
      default4x4Intra = Some(Array.fill(16)(w00)),
      provenance = Map("default4x4intra" -> "SELF-CODED uniform (test)")))
    val flat = decode(packOf(16)).toOption.get
    assert(flat.forall(b => (b & 0xff) == 128 + 5), (flat(0) & 0xff))
    val dbl = decode(packOf(32)).toOption.get
    assert(dbl.forall(b => (b & 0xff) == 128 + 10), (dbl(0) & 0xff))
  }

  // ---- bent chroma QP (qpcBent slot) ----

  test("bent qPc: a color stream at qPi 30 refuses naming the slot " +
      "without the pack; with a self-coded bent column mapping 30 -> " +
      "28 it reconstructs exactly like the qPi-28 twin") {
    // PPS at QP 28 with chroma_qp_index_offset 2 → qPi 30
    val pps30 = {
      val w = new VideoBitstream.BitWriter
      w.ue(0); w.ue(0); w.u(0, 1); w.u(0, 1); w.ue(0); w.ue(0); w.ue(0)
      w.u(0, 1); w.u(0, 2); w.se(2); w.se(0)
      w.se(2) // chroma_qp_index_offset = 2
      w.u(1, 1); w.u(0, 1); w.u(0, 1)
      w.rbspTrailing(); w.bytes
    }
    val slice = H264Decode.i16ColorSliceRbsp(5, 2, 3, 1, 4, 2, 1, 3, 1, 2)
    val clip30 = annexB((3, 7, VideoBitstream.syntheticSpsRbsp(2, 2)),
      (3, 8, pps30), (3, 5, slice))
    val clip28 = annexB((3, 7, VideoBitstream.syntheticSpsRbsp(2, 2)),
      (3, 8, H264Decode.cavlcPpsRbsp), (3, 5, slice))
    val noPack = H264Decode.decodeIdrColor(
      Seq((0L, clip30)).toDF("doc_id", "payload")).collect()(0)
    val err = noPack.getAs[String]("decode_error")
    assert(err != null && err.contains("qpcBent"), err)
    // bent column sending every qPi to 28 (valid: nondecreasing, below
    // the identity) — output must be byte-identical to the qPi-28 twin
    val f = java.io.File.createTempFile("confpack", ".txt")
    java.nio.file.Files.writeString(f.toPath, ConfPack.render(
      ConfPack.Pack(qpcBent = Some(Array.fill(22)(28)),
        provenance = Map("qpcbent" -> "SELF-CODED constant-28 (test)"))))
    spark.conf.set(ConfPack.SparkConfKey, f.getAbsolutePath)
    try {
      val bent = H264Decode.decodeIdrColor(
        Seq((0L, clip30)).toDF("doc_id", "payload")).collect()(0)
      assert(bent.getAs[String]("decode_error") == null, bent.toString)
      val twin = H264Decode.decodeIdrColor(
        Seq((0L, clip28)).toDF("doc_id", "payload")).collect()(0)
      for (c <- Seq("cb_plane", "cr_plane", "luma_plane"))
        assert(bent.getAs[Array[Byte]](c).toSeq ==
          twin.getAs[Array[Byte]](c).toSeq, c)
    } finally {
      spark.conf.unset(ConfPack.SparkConfKey)
      f.delete()
    }
  }
}
