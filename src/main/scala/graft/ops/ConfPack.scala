package graft.ops

/** The conformance-data pack: every remaining environment-blocked
  * number table of the media-decode envelope as ONE validated,
  * injectable file.
  *
  * The container this engine is built in carries no codec, no ffmpeg
  * and no conformance bitstream, so printed spec tables cannot be
  * anchored locally; the policy (SCALE.md §23.4) is that such numbers
  * ship as DATA with provenance, never transcribed from memory. Each
  * slot below unlocks a named seam the moment verified values arrive —
  * with zero new code:
  *
  *  - `default4x4Intra` — Table 7-3's Default_4x4_Intra scaling
  *    matrix (16 zigzag values): unlocks High-profile streams whose
  *    scaling lists fall back to (or explicitly demand) the default
  *    table.
  *  - `default8x8Intra` — Table 7-4's Default_8x8_Intra matrix (64
  *    values): same, for transform_8x8 blocks.
  *  - `qpcBent` — Table 8-15's bent qPc column for qPi 30..51 (22
  *    values): unlocks chroma reconstruction at high QP (below 30 the
  *    mapping is the identity and already decodes).
  *  - `mp3Window` — ISO/IEC 11172-3 Table 3-B.3's synthesis window
  *    D[0..511]: reserved for the MP3 synthesis seam (the census
  *    pipeline decodes structure today; synthesis stays refused until
  *    both the window AND the filterbank land).
  *
  * Every present slot MUST carry a `[provenance]` line naming where
  * its values came from — a pack without provenance is rejected, so
  * hand-waved numbers cannot slip in silently. Structural tripwires
  * run per slot (permutation/range/monotonicity facts that hold for
  * the real tables by construction), the same discipline that caught
  * a live transcription error in the Intra_8x8 dequant work (r17).
  */
object ConfPack {
  final case class Pack(
      default4x4Intra: Option[Array[Int]] = None,
      default8x8Intra: Option[Array[Int]] = None,
      qpcBent: Option[Array[Int]] = None,
      mp3Window: Option[Array[Double]] = None,
      provenance: Map[String, String] = Map.empty)

  /** Spark conf key naming a pack file (format: [[fromText]]). Set
    * `--conf spark.graft.confPack=/path` (or `spark.conf.set`) and
    * every decode entry resolves it — the no-rebuild path for a user
    * who HAS the spec's tables.
    */
  val SparkConfKey = "spark.graft.confPack"
  /** Environment fallback for the same path (spark-less callers). */
  val EnvKey = "SPARK_GRAFT_CONF_PACK"

  /** Operational resolution: explicit pack if passed, else the Spark
    * conf, else the env var, else None (the gated seams refuse by name,
    * each naming its missing slot). A configured path that fails to load THROWS with
    * the parse error — a user who configured a pack must not silently
    * fall back to refusals.
    */
  def resolve(explicit: Option[Pack],
      spark: org.apache.spark.sql.SparkSession): Option[Pack] =
    explicit.orElse {
      spark.conf.getOption(SparkConfKey).orElse(sys.env.get(EnvKey))
        .map(fromFile)
    }

  def fromFile(path: String): Pack = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try fromText(src.mkString)
    catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(s"$path: ${e.getMessage}", e)
    } finally src.close()
  }

  /** The slot names as they appear in section headers and refusal
    * messages (lower-cased for section matching).
    */
  private val SlotNames = Seq("default4x4Intra", "default8x8Intra",
    "qpcBent", "mp3Window")

  /** Parse the graft conformance-pack format:
    *
    * {{{
    * # comments with '#'; blank lines ignored; sections in any order;
    * # EVERY slot is optional, but a present slot needs provenance
    * [default4x4Intra]  # Table 7-3: 16 ints, zigzag order
    * 6 13 13 20 ...
    * [qpcBent]          # Table 8-15 qPc for qPi = 30..51: 22 ints
    * 29 30 31 ...
    * [mp3Window]        # ISO 11172-3 Table 3-B.3: 512 reals
    * 0.0 -0.000015259 ...
    * [provenance]       # one line per present slot: <slot> <source text>
    * qpcBent ITU-T H.264 (08/2021) Table 8-15, transcribed from the spec PDF
    * }}}
    */
  def fromText(text: String): Pack = {
    val sections = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ListBuffer[String]]
    var current: String = null
    text.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) {
        if (line.startsWith("[") && line.endsWith("]")) {
          current = line.substring(1, line.length - 1).trim.toLowerCase
          sections.getOrElseUpdate(current,
            scala.collection.mutable.ListBuffer.empty)
        } else {
          require(current != null, s"data before any [section]: '$line'")
          sections(current) += line
        }
      }
    }
    val known = SlotNames.map(_.toLowerCase).toSet + "provenance"
    val unknown = sections.keySet.diff(known)
    require(unknown.isEmpty,
      s"unknown section(s): ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(valid: ${SlotNames.mkString(", ")}, provenance)")
    def ints(section: String): Option[Array[Int]] =
      sections.get(section.toLowerCase).map(_.flatMap(_.split("\\s+")).map {
        t => try t.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"[$section]: not an integer: '$t'")
        }
      }.toArray)
    def doubles(section: String): Option[Array[Double]] =
      sections.get(section.toLowerCase).map(_.flatMap(_.split("\\s+")).map {
        t => try t.toDouble catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"[$section]: not a number: '$t'")
        }
      }.toArray)

    // ---- structural tripwires (facts that hold for the real tables) ----
    def matrix(name: String, n: Int): Option[Array[Int]] =
      ints(name).map { a =>
        require(a.length == n, s"[$name] holds $n values, got ${a.length}")
        require(a.forall(v => v >= 1 && v <= 255),
          s"[$name] scaling weights are 1..255 (8-bit, never zero)")
        a
      }
    val d4i = matrix("default4x4Intra", 16)
    val d8i = matrix("default8x8Intra", 64)
    val qpc = ints("qpcBent").map { a =>
      require(a.length == 22,
        s"[qpcBent] covers qPi 30..51: 22 values, got ${a.length}")
      require(a.forall(v => v >= 0 && v <= 51), "[qpcBent] qPc is 0..51")
      require(a.zip(a.tail).forall { case (x, y) => x <= y },
        "[qpcBent] Table 8-15's qPc column is nondecreasing")
      require(a.zipWithIndex.forall { case (v, i) => v < 30 + i },
        "[qpcBent] the bent region maps strictly BELOW the identity " +
          "(qPc < qPi for qPi >= 30)")
      a
    }
    val mp3 = doubles("mp3Window").map { a =>
      require(a.length == 512,
        s"[mp3Window] Table 3-B.3 holds 512 coefficients, got ${a.length}")
      require(a.forall(v => math.abs(v) <= 8.0),
        "[mp3Window] synthesis window coefficients are small reals " +
          "(|D[i]| well under 8)")
      a
    }
    // ---- provenance: required per present slot ----
    val prov: Map[String, String] = sections.get("provenance").map {
      _.map { line =>
        val sp = line.indexOf(' ')
        require(sp > 0, s"[provenance] line needs '<slot> <source>': '$line'")
        line.substring(0, sp).toLowerCase -> line.substring(sp + 1).trim
      }.toMap
    }.getOrElse(Map.empty)
    val present = Seq(
      "default4x4intra" -> d4i.isDefined,
      "default8x8intra" -> d8i.isDefined,
      "qpcbent" -> qpc.isDefined,
      "mp3window" -> mp3.isDefined)
    val missing = present.collect {
      case (n, true) if !prov.contains(n) || prov(n).isEmpty => n
    }
    require(missing.isEmpty,
      s"provenance required for every present slot; missing: " +
        s"${missing.mkString(", ")} — add '[provenance]' lines naming " +
        "where each table's values came from")
    require(present.exists(_._2), "pack carries no slots at all")
    Pack(d4i, d8i, qpc, mp3, prov)
  }

  /** Render a [[Pack]] in the [[fromText]] format — the template a user
    * fills with conformance values, and the round-trip half of the
    * loader's test.
    */
  def render(pack: Pack): String = {
    val sb = new StringBuilder
    sb ++= "# graft conformance-data pack (spec number tables as data)\n"
    def ints(name: String, a: Option[Array[Int]], perRow: Int): Unit =
      a.foreach { v =>
        sb ++= s"[$name]\n"
        v.grouped(perRow).foreach(r => sb ++= r.mkString(" ") += '\n')
      }
    ints("default4x4Intra", pack.default4x4Intra, 8)
    ints("default8x8Intra", pack.default8x8Intra, 8)
    ints("qpcBent", pack.qpcBent, 11)
    pack.mp3Window.foreach { v =>
      sb ++= "[mp3Window]\n"
      v.grouped(8).foreach(r => sb ++= r.mkString(" ") += '\n')
    }
    if (pack.provenance.nonEmpty) {
      sb ++= "[provenance]\n"
      pack.provenance.toSeq.sortBy(_._1).foreach { case (k, v) =>
        sb ++= s"$k $v\n"
      }
    }
    sb.toString
  }
}
