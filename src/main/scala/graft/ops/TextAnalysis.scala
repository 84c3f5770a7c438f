package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Column expressions (codegen'd, UDF-free) so they run inside whole-stage
  * codegen at scan speed.
  */
object TextAnalysis {

  /** Language-specific stopword evidence sets (small on purpose — this is
    * the n-gram-heuristic tier of language ID, not a model).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "a", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "los", "y", "de", "es"))

  private def wordHits(c: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(c), lit(words.mkString("\\b(", "|", ")\\b")), lit(0)))

  /** Heuristic language ID: argmax of per-language stopword hit counts,
    * ties broken by language code order; "und" (undetermined) when no
    * evidence at all.
    */
  def langId(text: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      (lang, wordHits(text, words))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    // first-wins CASE chain: ties break to the alphabetically first language
    scored.reverse.foldLeft(lit("und")) { case (els, (lang, score)) =>
      when(score === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  /** Quality signals: char length, token count, mean token length,
    * punctuation ratio, stopword ratio, and a composite [0,1] score.
    */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = Dedup.tokenize(t)
    val nTok = size(toks).cast("double")
    val nChar = length(t).cast("double")
    val punct = size(regexp_extract_all(t, lit("[!?.,;:]"), lit(0))).cast("double")
    val allStop = stopwords.values.flatten.toSeq.distinct
    val stopHits = wordHits(t, allStop).cast("double")
    val alnumChars = length(regexp_replace(lower(t), "[^a-z0-9]", "")).cast("double")
    df.withColumn("n_chars_m", nChar.cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("mean_tok_len",
        round(when(nTok > 0, alnumChars / nTok).otherwise(0.0), 4))
      .withColumn("punct_ratio", round(when(nChar > 0, punct / nChar).otherwise(0.0), 6))
      .withColumn("stopword_ratio", round(when(nTok > 0, stopHits / nTok).otherwise(0.0), 6))
      .withColumn("quality_score", round(
        // the null/zero guard the other two terms carry: least() SKIPS
        // nulls, so a null-text doc would take the full 0.5 length term
        when(nTok > 0, least(lit(1.0), nTok / 100.0)).otherwise(0.0) * 0.5 +
          when(nTok > 0, least(lit(1.0), stopHits / nTok * 5.0)).otherwise(0.0) * 0.3 +
          when(nChar > 0, lit(1.0) - least(lit(1.0), punct / nChar * 10.0)).otherwise(0.0) * 0.2,
        6))
  }

  /** Whitespace token count and a BPE-ish regex token count
    * (letter runs / digit runs / single non-space symbols).
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(filter(split(t, "\\s+"), x => x =!= "")).cast("long"))
      .withColumn("bpe_ish_tokens",
        size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long"))
  }

  /** Sliding word n-grams as an array column: tokens come from the codegen'd
    * [[Dedup.tokenize]] expression; the window walk itself is one imperative
    * sliding pass (UDF). The declarative form — `transform(sequence(0, n-k),
    * i -> concat_ws(toks[i+1..i+k]))` — is an interpreted higher-order
    * expression with k `element_at` probes per gram and NO codegen: measured
    * 15.9 s to generate grams for sf0.1's 5k documents vs 0.28 s for this
    * kernel (57×) — the same interpreted-HOF hot-path trap as SCALE.md
    * §14.3. Null/short texts yield an empty array.
    */
  def wordNgrams(text: Column, k: Int): Column =
    wordNgramsOfTokens(Dedup.tokenize(text), k)

  /** [[wordNgrams]] over an already-tokenized array column — lets callers
    * that build MANY gram orders (the LM trainers) tokenize once into a
    * persisted frame instead of re-running the tokenizer per order. The
    * per-k UDF instances are memoized: a fresh `udf(...)` per call makes
    * otherwise-identical subtrees canonicalize UNEQUAL, which silently
    * disables ReuseExchange across repeated gram tables (measured: the
    * KN-LM plan carried two full duplicate count-table subtrees).
    */
  def wordNgramsOfTokens(toks: Column, k: Int): Column =
    slideUdfs.computeIfAbsent(k, slideOf)(toks)

  private val slideUdfs =
    new java.util.concurrent.ConcurrentHashMap[Int,
      org.apache.spark.sql.expressions.UserDefinedFunction]()
  private val slideOf =
    new java.util.function.Function[Int,
        org.apache.spark.sql.expressions.UserDefinedFunction] {
      def apply(kk: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
        udf((toks: Seq[String]) =>
          if (toks == null || toks.size < kk) Seq.empty[String]
          else toks.sliding(kk).map(_.mkString(" ")).toSeq)
    }

  /** Test-set decontamination: which corpus documents share ≥1 word n-gram
    * with a probe set (benchmark/eval data). The probe side's distinct
    * n-grams are orders of magnitude smaller than the corpus, so Spark
    * broadcasts them (AQE) and the corpus streams through map-side — the
    * standard contamination-check shape at 100 TB: corpus n-grams are
    * generated and probed inside the scan, never materialized globally.
    * Returns (doc_id, probe_id, shared_ngrams).
    */
  def ngramContamination(docs: DataFrame, docText: String, docId: String,
      probes: DataFrame, probeText: String, probeId: String, k: Int = 5): DataFrame = {
    val docGrams = docs.select(col(docId).as("doc_id"),
      explode(array_distinct(wordNgrams(col(docText), k))).as("gram"))
    val probeGrams = probes.select(col(probeId).as("probe_id"),
      explode(array_distinct(wordNgrams(col(probeText), k))).as("gram"))
      .distinct()
    docGrams.join(probeGrams, "gram")
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** Span-level decontamination: WHERE the probe overlap sits, not just how
    * much. [[ngramContamination]] counts shared k-grams per (doc, probe);
    * this collapses the matching gram START POSITIONS into maximal
    * contiguous token spans (gaps-and-islands on the position sequence) —
    * the shape needed to EXCISE contaminated passages instead of dropping
    * whole documents, and to tell a quoted benchmark question (one long
    * span) from scattered idiom overlap (many 1-gram spans).
    *
    * Scale shape: probe grams are distinct'd and orders of magnitude
    * smaller than the corpus, so AQE broadcasts them; corpus grams are
    * generated inside the scan and never materialized globally. Only
    * MATCHING positions — output-proportional, not corpus-proportional —
    * reach the window + aggregation, partitioned by (doc, probe).
    *
    * Returns (doc_id, probe_id, span_start, span_tokens, n_grams):
    * 1-based token index of the span start, tokens covered (last matching
    * gram start + k − span_start), and matching k-grams in the span.
    */
  def spanContamination(docs: DataFrame, docText: String, docId: String,
      probes: DataFrame, probeText: String, probeId: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docGrams = docs.select(col(docId).as("doc_id"),
      posexplode(wordNgrams(col(docText), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("gram"))
    val probeGrams = probes.select(col(probeId).as("probe_id"),
      explode(array_distinct(wordNgrams(col(probeText), k))).as("gram"))
      .distinct()
    // a position can match grams from several probes — dedup per (doc,
    // probe, pos) so islands count each start once
    val hits = docGrams.join(probeGrams, "gram")
      .select(col("doc_id"), col("probe_id"), col("pos")).distinct()
    val w = Window.partitionBy("doc_id", "probe_id").orderBy("pos")
    hits.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("probe_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + k).as("span_tokens"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "probe_id", "span_start", "span_tokens", "n_grams")
  }

  /** Apply span-level decontamination: rebuild each document's text with
    * the flagged token spans REMOVED — the excision counterpart of
    * [[spanContamination]] (drop the quoted benchmark passage, keep the
    * document). Output text is token-normalized (lowercased tokens joined
    * by single spaces, the [[Dedup.tokenize]] image) — the form downstream
    * tokenization consumes anyway.
    *
    * `spans` is (doc_id, span_start, span_tokens) — extra columns (e.g.
    * [[spanContamination]]'s probe_id) are ignored, and overlapping spans
    * from different probes union: a token inside ANY span is cut.
    *
    * Scale shape: spans are output-proportional (tiny vs the corpus), so
    * the per-doc span list aggregates small and the doc-side join
    * broadcasts; the token filter is one array expression per row inside
    * the scan. Adds `clean_text` and `n_removed`.
    */
  def exciseSpans(docs: DataFrame, textCol: String, idCol: String,
      spans: DataFrame): DataFrame =
    exciseSpansImpl(docs, textCol, idCol, spans, broadcastSpans = true)

  /** `broadcastSpans = true` is the DECONTAMINATION shape (spans come from
    * a benchmark probe set — output-proportional, tiny). Boilerplate
    * spans ([[boilerplateSpans]]) are CORPUS-proportional — potentially
    * one-plus span per document — so [[removeBoilerplate]] passes false
    * and the per-doc span list joins by shuffle on the id instead.
    */
  private def exciseSpansImpl(docs: DataFrame, textCol: String, idCol: String,
      spans: DataFrame, broadcastSpans: Boolean): DataFrame = {
    val sp = spans.groupBy(col("doc_id").as("__sid"))
      .agg(collect_list(array(col("span_start").cast("long"),
        (col("span_start") + col("span_tokens") - 1).cast("long"))).as("__spans"))
    val spSide = if (broadcastSpans) broadcast(sp) else sp
    val joined = docs.join(spSide, docs(idCol) === sp("__sid"), "left")
    val toks = Dedup.tokenize(col(textCol))
    val spanArr = coalesce(col("__spans"),
      array().cast("array<array<long>>"))
    val clean = filter(toks, (_, i) => !exists(spanArr, s =>
      (i + 1).cast("long") >= element_at(s, 1) &&
        (i + 1).cast("long") <= element_at(s, 2)))
    joined
      .withColumn("clean_text", array_join(clean, " "))
      .withColumn("n_removed", (size(toks) - size(clean)).cast("long"))
      .drop("__sid", "__spans")
  }

  /** Cross-document boilerplate spans: maximal token spans covered by
    * word k-grams that occur in MORE than `maxDocFreq` documents — the
    * C4-style cleaner (navigation bars, cookie banners, license footers
    * repeat verbatim across a crawl; model quality work excises the
    * repeated LINES/SPANS, not whole documents). Same gaps-and-islands
    * machinery as [[spanContamination]], but the probe set is the
    * corpus's own hot k-grams instead of a benchmark.
    *
    * Scale shape: document frequency is one distinct + count aggregation
    * over (doc, gram) pairs generated inside the scan; the hot-gram set
    * is VOCABULARY-shaped, not corpus-shaped, but can still be large on
    * a template-heavy crawl — the position join is a left-semi on the
    * gram key with no forced broadcast (AQE broadcasts it when it
    * measures small). Only matching positions reach the window.
    *
    * Returns (doc_id, span_start, span_tokens, n_grams), 1-based token
    * positions — [[removeBoilerplate]] applies them.
    */
  def boilerplateSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5, maxDocFreq: Long = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: docGrams feeds BOTH the document-frequency aggregate
    // and the position semi-join — unpersisted, the per-row tokenize +
    // sliding-window n-gram UDF (the dominant cost) replays over the
    // whole corpus per consumer. LRU-owned; spills.
    val docGrams = docs.select(col(idCol).as("doc_id"),
      posexplode(wordNgrams(col(textCol), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // document frequency: each doc votes once per gram
    val hot = docGrams.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq)
      .select(col("gram"))
    // docGrams holds one row per (doc, pos), so the semi-join output is
    // already position-unique
    val hits = docGrams.join(hot, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + k).as("span_tokens"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_tokens", "n_grams")
  }

  /** [[boilerplateSpans]] applied: every document comes back with
    * `clean_text` (token-normalized, hot spans cut) and `n_removed`.
    * Unlike decontamination excision the span side here is
    * corpus-proportional, so the apply join shuffles on the id instead
    * of broadcasting.
    */
  def removeBoilerplate(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5, maxDocFreq: Long = 1000): DataFrame =
    exciseSpansImpl(docs, textCol, idCol,
      boilerplateSpans(docs, textCol, idCol, k, maxDocFreq),
      broadcastSpans = false)

  /** Valid-UTF-8-byte-sequence pattern over a Latin-1 string (where
    * char == byte value) — the RFC 3629 table as a regex, so the check
    * runs inside codegen'd `rlike` with no UDF.
    */
  private val Utf8BytesPattern =
    "^(?:[\\x00-\\x7F]|[\\xC2-\\xDF][\\x80-\\xBF]|\\xE0[\\xA0-\\xBF][\\x80-\\xBF]|" +
      "[\\xE1-\\xEC\\xEE\\xEF][\\x80-\\xBF]{2}|\\xED[\\x80-\\x9F][\\x80-\\xBF]|" +
      "\\xF0[\\x90-\\xBF][\\x80-\\xBF]{2}|[\\xF1-\\xF3][\\x80-\\xBF]{3}|" +
      "\\xF4[\\x80-\\x8F][\\x80-\\xBF]{2})*$"

  private def mojibakeMarks(t: Column): Column =
    (length(t) - length(replace(t, lit("Ã"), lit("")))) +
      (length(t) - length(replace(t, lit("Â"), lit("")))) +
      (length(t) - length(replace(t, lit("â"), lit(""))))

  /** Mojibake repair, declarative (every step codegen'd — no UDF in the
    * scan): text that was UTF-8 bytes mis-decoded as Latin-1 ("é" →
    * "Ã©", the commonest crawl encoding bug) is re-encoded to Latin-1
    * and re-decoded as UTF-8. Three guards make the double conversion
    * safe on arbitrary corpora, all row-local Column logic:
    * marker chars present (Ã/Â/â — the UTF-8 lead bytes as Latin-1);
    * every code point ≤ 0xFF (so the `encode` cannot hit an unmappable
    * character, which throws in Spark 4); and the char sequence read as
    * bytes matches [[Utf8BytesPattern]] (so the `decode` cannot hit
    * malformed input). A repair must strictly reduce the marker count
    * or the original stands. Adds `mojibake_marks` (on the input),
    * `repaired_text`, `was_repaired`.
    *
    * Scope: Latin-1-expressible mojibake. The cp1252 smart-quote family
    * ("â€™" → ’) involves € = U+20AC > 0xFF and needs a real cp1252
    * table — [[repairMojibakeCp1252]] is the kernel twin for that.
    */
  def repairMojibakeLatin1(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val marks = mojibakeMarks(t)
    val candidate = t.isNotNull && marks > 0 &&
      t.rlike("^[\\x00-\\xFF]*$") && t.rlike(Utf8BytesPattern)
    val rep = when(candidate, decode(encode(t, "ISO-8859-1"), "UTF-8")).otherwise(t)
    val ok = candidate && mojibakeMarks(rep) < marks
    df.withColumn("mojibake_marks",
        coalesce(marks, lit(0)).cast("long"))
      .withColumn("repaired_text", when(ok, rep).otherwise(t))
      .withColumn("was_repaired", coalesce(ok, lit(false)))
  }

  /** WHATWG windows-1252 encode table for the 0x80–0x9F specials
    * (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ‘ ’ “ ” • – — ˜ ™ š › œ ž Ÿ). The
    * undefined slots (0x81/8D/8F/90/9D) pass the C1 control through —
    * the browser behavior that PRODUCES real-world mojibake, which is
    * why the repair must use this table: Java's strict MS1252 charset
    * rejects U+009D, and "â€" + U+009D is exactly how a mis-decoded ”
    * (U+201D) arrives.
    */
  private val Cp1252Specials: Map[Char, Int] = Map(
    '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83, '„' -> 0x84,
    '…' -> 0x85, '†' -> 0x86, '‡' -> 0x87, 'ˆ' -> 0x88,
    '‰' -> 0x89, 'Š' -> 0x8A, '‹' -> 0x8B, 'Œ' -> 0x8C,
    'Ž' -> 0x8E, '‘' -> 0x91, '’' -> 0x92, '“' -> 0x93,
    '”' -> 0x94, '•' -> 0x95, '–' -> 0x96, '—' -> 0x97,
    '˜' -> 0x98, '™' -> 0x99, 'š' -> 0x9A, '›' -> 0x9B,
    'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F)

  /** cp1252 kernel twin of [[repairMojibakeLatin1]] for the smart-quote
    * mojibake family ("â€™" → ’, "â€œ" → “): Windows-1252 maps
    * 0x80–0x9F to printable characters that Latin-1 reserves for
    * controls, so this path needs the real table — the WHATWG one
    * ([[Cp1252Specials]]), not the JDK charset, because lenient
    * decoders pass the five undefined slots through as C1 controls and
    * a faithful repair must re-encode them. Per-row UDF with the same
    * guards applied imperatively (markers present, cp1252-encodable,
    * UTF-8-valid, marker count strictly reduced).
    */
  def repairMojibakeCp1252(df: DataFrame, textCol: String): DataFrame = {
    def marksOf(s: String): Int = {
      var n = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == 'Ã' || c == 'Â' || c == 'â') n += 1
        i += 1
      }
      n
    }
    val f = udf((s: String) => {
      if (s == null) null
      else {
        val m = marksOf(s)
        if (m == 0) s
        else {
          val bytes = new Array[Byte](s.length)
          var i = 0
          var ok = true
          while (ok && i < s.length) {
            val c = s.charAt(i)
            if (c < 0x80 || (c >= 0xA0 && c <= 0xFF) ||
              c == 0x81 || c == 0x8D || c == 0x8F || c == 0x90 || c == 0x9D)
              bytes(i) = c.toByte
            else Cp1252Specials.get(c) match {
              case Some(b) => bytes(i) = b.toByte
              case None => ok = false
            }
            i += 1
          }
          if (!ok) s
          else try {
            val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
              .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
              .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
            val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
            if (marksOf(out) < m) out else s
          } catch { case _: java.nio.charset.CharacterCodingException => s }
        }
      }
    })
    df.withColumn("repaired_text", f(col(textCol)))
      .withColumn("was_repaired",
        coalesce(col("repaired_text") =!= col(textCol), lit(false)))
  }

  /** Seed for the classifier feature hash ([[Dedup.h60]]) — fixed so
    * external engines can replay scores exactly.
    */
  val FeatureSeed = 11

  /** fastText-style hashed linear classifier, inference side: score(text) =
    * σ(bias + mean over tokens of w[h(tok) mod D]) over hashed bag-of-words
    * features. The weight vector is trained OFFLINE (this op is the 100-TB
    * scoring pass — the standard quality-classifier gate in pretraining
    * curation); it ships as a literal array inside the expression, so the
    * score is one scan-shaped projection per row: zero shuffle, no join,
    * embarrassingly parallel. Mean (not sum) keeps the logit
    * length-invariant, fastText's default reduction.
    *
    * Token hashing is the portable md5-based [[Dedup.h60]] with
    * [[FeatureSeed]], and tokenization is [[Dedup.tokenize]] — both
    * replayable in external SQL engines, so scores reproduce bit-for-bit
    * outside Spark. Adds `quality_logit` and `quality_prob` (both rounded
    * to 6 decimals).
    *
    * The higher-order `aggregate` fold is interpreted (SCALE.md §14.3);
    * for hot paths [[hashedLinearScoreKernel]] is the value-identical
    * imperative twin.
    */
  def hashedLinearScore(df: DataFrame, textCol: String,
      weights: Seq[Double], bias: Double = 0.0): DataFrame = {
    require(weights.nonEmpty, "weights must not be empty")
    val d = weights.size
    val w = array(weights.map(lit): _*)
    val toks = Dedup.tokenize(col(textCol))
    val logit = when(size(toks) > 0,
      lit(bias) + aggregate(toks, lit(0.0), (acc, t) =>
        acc + element_at(w, (Dedup.h60(t, FeatureSeed) % d).cast("int") + 1))
        / size(toks).cast("double"))
      .otherwise(lit(bias))
    withScoreCols(df, logit)
  }

  /** Imperative twin of [[hashedLinearScore]] — one MessageDigest walk over
    * the tokens per row at UDF cost, for hot paths where the interpreted
    * higher-order fold dominates (same trade measured for the streaming
    * band signatures, SCALE.md §14.3). Value-identical by construction
    * (same tokenizer, same h60 bit math); pinned by QualityOpsSpec. The
    * weights travel once per executor as a broadcast, not inside every
    * task's closure (a 2^18-double model is 2 MiB).
    */
  def hashedLinearScoreKernel(df: DataFrame, textCol: String,
      weights: Seq[Double], bias: Double = 0.0): DataFrame = {
    require(weights.nonEmpty, "weights must not be empty")
    val wB = df.sparkSession.sparkContext.broadcast(weights.toArray)
    val b = bias
    val score = udf((s: String) => hashedLogitJvm(s, wB.value, b))
    withScoreCols(df, score(col(textCol)))
  }

  private def withScoreCols(df: DataFrame, logit: Column): DataFrame =
    df.withColumn("quality_logit", round(logit, 6))
      .withColumn("quality_prob", round(lit(1.0) / (lit(1.0) + exp(-logit)), 6))

  /** Classifier EVALUATION — the piece between [[trainHashedLinear]]
    * and the 100 TB scoring pass: threshold metrics (accuracy /
    * precision / recall / F1 at `threshold`, predict-positive strictly
    * above) and EXACT AUC via the Mann-Whitney rank statistic with
    * average-rank tie handling — ties matter here because a hashed
    * linear model over short documents produces few distinct scores.
    *
    * Scale shape: the confusion counts are one map-side-combined
    * aggregation; AUC needs a GLOBAL ORDER, but only of the score
    * HISTOGRAM — the corpus collapses to one row per distinct score
    * first (map-side combine), and the single-partition window runs
    * over that bounded frame (6-dp-rounded probabilities cap it at
    * ≤2,000,001 rows at ANY corpus size — stated, not hoped). Returns
    * one row: n, n_pos, accuracy, precision, recall, f1, auc (metrics
    * rounded to 6; precision/f1 null when nothing is predicted
    * positive, auc null when a class is empty).
    */
  def evalBinaryClassifier(df: DataFrame, probCol: String,
      labelCol: String, threshold: Double = 0.5): DataFrame = {
    val sc = df
      .select(col(probCol).cast("double").as("s"),
        col(labelCol).cast("double").as("y"))
      .where(col("s").isNotNull && col("y").isNotNull)
    val conf = sc.agg(
      count(lit(1)).as("n"),
      sum(col("y")).as("g"),
      sum(when(col("s") > threshold && col("y") === 1.0, 1.0)
        .otherwise(0.0)).as("tp"),
      sum(when(col("s") > threshold && col("y") === 0.0, 1.0)
        .otherwise(0.0)).as("fp"))
    val hist = sc.groupBy(col("s"))
      .agg(count(lit(1)).cast("double").as("c"), sum(col("y")).as("p"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val rankSum = hist
      .withColumn("cum", coalesce(sum(col("c")).over(w), lit(0.0)))
      .agg(sum(col("p") * (col("cum") + (col("c") + 1.0) / 2.0)).as("posrank"))
    val j = conf.crossJoin(rankSum)
    val g = col("g")
    val b = col("n") - col("g")
    val predPos = col("tp") + col("fp")
    val prec = when(predPos > 0, col("tp") / predPos)
    val rec = when(g > 0, col("tp") / g)
    val auc = when(g > 0 && b > 0,
      (col("posrank") - g * (g + 1.0) / 2.0) / (g * b))
    j.select(
      col("n").cast("long").as("n"),
      col("g").cast("long").as("n_pos"),
      round((col("tp") + (b - col("fp"))) / col("n"), 6).as("accuracy"),
      round(prec, 6).as("precision"),
      round(rec, 6).as("recall"),
      round(when(prec.isNotNull && rec.isNotNull && (prec + rec) > 0,
        lit(2.0) * prec * rec / (prec + rec)), 6).as("f1"),
      round(auc, 6).as("auc"))
  }

  /** TRAINING side of [[hashedLinearScore]] — the piece that makes the
    * fastText-style quality gate self-contained (the weights have to
    * come from somewhere): full-batch logistic-regression gradient
    * descent over hashed bag-of-words mean features, the SAME
    * [[Dedup.tokenize]] + [[Dedup.h60]]/[[FeatureSeed]] featurization as
    * inference, so trained weights feed [[hashedLinearScore]] /
    * [[hashedLinearScoreKernel]] unchanged.
    *
    * Spark-shaped like [[graft.ops.Bpe.learnMerges]]: the corpus is
    * featurized ONCE (token → index, cached — epochs never re-tokenize),
    * then each epoch is one pass producing per-partition dense gradient
    * partials over the FIXED `dim`-dimensional hashed weight vector,
    * tree-combined to the driver, which applies one update. Driver and
    * shuffle state are bounded by `dim` (2¹⁸ doubles = 2 MB) by
    * construction — never by the vocabulary, which at 100 TB is
    * unbounded; a hashed-feature trainer is exactly the design that
    * makes corpus-scale training dim-bounded. Full-batch (not SGD)
    * keeps the result row-order-independent: the only nondeterminism
    * left is float summation order across partials, ~1 ulp, invisible
    * at the 6-decimal score contract.
    *
    * `labelCol` must be 0/1 (cast to double). Rows with null text or no
    * tokens are skipped. The bias is a fixed hyper-parameter, not
    * trained (fastText's default has it; the mean-feature symmetry
    * makes a trained bias redundant for balanced gates). Returns the
    * weight vector.
    */
  def trainHashedLinear(df: DataFrame, textCol: String, labelCol: String,
      dim: Int = 1 << 18, epochs: Int = 3, lr: Double = 1.0,
      bias: Double = 0.0): Array[Double] = {
    require(dim > 0 && epochs > 0, "dim and epochs must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val d = dim
    val prepped = df
      .select(col(textCol).cast("string"), col(labelCol).cast("double"))
      .where(col(textCol).isNotNull && col(labelCol).isNotNull)
      .as[(String, Double)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        it.flatMap { case (text, y) =>
          // Dedup.tokenize twin (same as hashedLogitJvm): lowercase,
          // split on non-[a-z0-9] runs
          val lower = org.apache.spark.unsafe.types.UTF8String
            .fromString(text).toLowerCase.toString
          val idxs = lower.split("[^a-z0-9]+").iterator
            .filter(_.nonEmpty).map { tok =>
              val dg = md.digest(("s" + FeatureSeed + ":" + tok).getBytes(utf8))
              md.reset()
              var h = 0L
              var i = 0
              while (i < 7) { h = (h << 8) | (dg(i) & 0xffL); i += 1 }
              h = (h << 4) | ((dg(7) & 0xf0L) >>> 4)
              (h % d).toInt
            }.toArray
          if (idxs.isEmpty) None else Some((idxs, y))
        }
      }.cache()
    try {
      val n = prepped.count()
      require(n > 0, "trainHashedLinear needs at least one labeled row with tokens")
      val w = new Array[Double](d)
      val b = bias
      var epoch = 0
      while (epoch < epochs) {
        val bw = spark.sparkContext.broadcast(w)
        try {
          // null zero: each task allocates its gradient on its first row,
          // so the task binary does not carry a dense d-vector
          val grad = prepped.rdd.treeAggregate(null: Array[Double])(
            seqOp = { (g0, row) =>
              val g = if (g0 == null) new Array[Double](d) else g0
              val (idxs, y) = row
              var s = 0.0
              var i = 0
              while (i < idxs.length) { s += bw.value(idxs(i)); i += 1 }
              val p = 1.0 / (1.0 + math.exp(-(b + s / idxs.length)))
              val r = (p - y) / idxs.length
              i = 0
              while (i < idxs.length) { g(idxs(i)) += r; i += 1 }
              g
            },
            combOp = { (g1, g2) =>
              if (g1 == null) g2
              else if (g2 == null) g1
              else {
                var i = 0
                while (i < d) { g1(i) += g2(i); i += 1 }
                g1
              }
            }, depth = 2)
          var i = 0
          while (i < d) { w(i) -= lr * grad(i) / n; i += 1 }
        } finally bw.destroy()
        epoch += 1
      }
      w
    } finally prepped.unpersist()
  }

  private[graft] def hashedLogitJvm(text: String, weights: Array[Double],
      bias: Double): java.lang.Double = {
    if (text == null) return null
    // Dedup.tokenize twin: lowercase, split on non-[a-z0-9] runs, drop empties
    val lower = org.apache.spark.unsafe.types.UTF8String.fromString(text)
      .toLowerCase.toString
    val md = java.security.MessageDigest.getInstance("MD5")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    var sum = 0.0
    var n = 0
    lower.split("[^a-z0-9]+").foreach { tok =>
      if (tok.nonEmpty) {
        // h60: long value of the first 15 hex chars (60 bits) of seeded md5
        val dg = md.digest(("s" + FeatureSeed + ":" + tok).getBytes(utf8))
        md.reset()
        var h = 0L
        var i = 0
        while (i < 7) { h = (h << 8) | (dg(i) & 0xffL); i += 1 }
        h = (h << 4) | ((dg(7) & 0xf0L) >>> 4)
        sum += weights((h % weights.length).toInt)
        n += 1
      }
    }
    if (n > 0) bias + sum / n else bias
  }

  /** Deterministic pseudo-random weight vector in [-1, 1] (md5-derived) —
    * a stand-in for offline-trained weights in tests and oracles; any
    * engine with md5 can regenerate it.
    */
  def hashedWeights(dim: Int, seed: Int): IndexedSeq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    (0 until dim).map { i =>
      val d = md.digest(s"w$seed:$i".getBytes(utf8))
      md.reset()
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      ((h % 2000001L) - 1000000L) / 1000000.0
    }
  }

  /** Canonical text normalization (the first pass of every pretraining
    * pipeline): Unicode NFC composition, control-character strip (C0/C1
    * minus tab/newline), horizontal-whitespace collapse, 3+ blank-line
    * squeeze to one paragraph break, and edge trim. NFC runs through
    * `java.text.Normalizer` (one UDF call per row — the JDK implements the
    * full Unicode algorithm; there is no Column-native normalizer); the
    * regex passes are codegen'd and RE2-compatible so external engines
    * (DuckDB `nfc_normalize` + `regexp_replace g`) reproduce the output
    * byte-for-byte. Adds `norm_text`.
    */
  def normalizeText(df: DataFrame, textCol: String): DataFrame = {
    val nfc = udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    // CRLF/CR normalize to LF FIRST, or \r survives the control strip
    // and the \n{3,} paragraph squeeze never fires on Windows corpora
    val unixEol = regexp_replace(nfc(col(textCol)), "\\r\\n|\\r", "\n")
    // C0 minus tab/LF, DEL, AND the C1 block (0x80-0x9F — cp1252
    // mis-decodes leave those invisible controls behind)
    val noCtl = regexp_replace(unixEol,
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]", "")
    val oneSpace = regexp_replace(noCtl, "[ \\t]+", " ")
    val onePara = regexp_replace(oneSpace, "\\n{3,}", "\n\n")
    df.withColumn("norm_text", trim(onePara))
  }

  /** N-gram language-model PERPLEXITY scoring — the CCNet-family quality
    * signal (Wenzek et al. 2020: documents are ranked by the perplexity of
    * a reference-corpus LM; low-perplexity ≈ fluent prose, high ≈ gibberish
    * and boilerplate), which the heuristic gates ([[qualitySignals]],
    * [[c4Signals]]) and the supervised classifier ([[trainHashedLinear]])
    * do not cover: it needs NO labels, only a reference corpus.
    *
    * Model: an add-k-smoothed n-gram LM over [[Dedup.tokenize]] tokens,
    * trained on `train` —
    * `P(w | ctx) = (c(ctx,w) + k) / (c(ctx) + k·V)` with `c(ctx)` the sum
    * of surviving gram counts of the context and `V` the training
    * vocabulary size; unseen grams and contexts fall to the smoothing
    * floor (coalesce to 0 through left joins). `minCount` prunes gram
    * rows below the threshold (CCNet prunes its LM the same way); the
    * pruned mass lands in smoothing, stated not silent.
    *
    * Per document: `n_grams` scored grams, `logprob_sum_e6` (sum of
    * per-gram natural log-probs quantized to integer MICRO-NATS —
    * `round(ln(p)·1e6)` per gram), `avg_logprob`, and `perplexity` =
    * exp(−avg_logprob). Documents with fewer than n tokens score null
    * (no grams — no evidence either way).
    *
    * Determinism contract (the cross-engine hash lesson of the r15/r16
    * dtype saga, learned again here empirically: a rounded `avg` of
    * doubles flipped a 6th decimal between Spark and DuckDB on the first
    * sf0.01 run): per-gram log-probs quantize to integer micro-nats, so
    * the per-doc SUM is exact integer arithmetic — aggregation-order
    * independent by construction — and `avg_logprob` derives from the
    * exact ints by one IEEE division (correctly rounded in every
    * engine). The only remaining engine-sensitive ops are the per-gram
    * `ln` (1-ulp libm noise flips a micro-nat only within a ~1e-10
    * window of a half-integer) and the display-level `exp` in
    * `perplexity` (rounded to 6, same convention as the classifier
    * rows).
    *
    * Plan shape at 100 TB: training is two hash-uniform partial-agg
    * groupBys on gram/context strings plus one scalar vocab aggregate
    * (broadcast); scoring is scan-side gram generation + two equi-joins
    * keyed on the gram — shuffle proportional to corpus grams, no
    * driver-side model state (the LM LIVES as a DataFrame, so a 10⁹-gram
    * model is fine — contrast a broadcast hashmap). The gram join key is
    * the dominant exchange; prune with `minCount` when the train corpus
    * is web-scale.
    */
  def ngramLmPerplexity(docs: DataFrame, textCol: String, idCol: String,
      train: DataFrame, trainTextCol: String, n: Int = 2,
      addK: Double = 1.0, minCount: Long = 1L): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(addK > 0, "addK must be positive")
    // "a b c" → ctx "a b", word "c" (n = 1 → ctx "", a unigram LM)
    def ctxOf(g: Column): Column = regexp_replace(g, "\\s?\\S+$", "")
    def wordOf(g: Column): Column = regexp_extract(g, "(\\S+)$", 1)
    // r18 note: persisting the token frame / count table here was
    // MEASURED WORSE than recompute at bench scale (materialization
    // passes + cache scans beat two fused aggregation pipelines);
    // identical subtrees still dedupe via ReuseExchange because the
    // wordNgrams UDFs are memoized per order.
    val trainGrams = train
      .select(explode(wordNgrams(col(trainTextCol), n)).as("g"))
      .select(ctxOf(col("g")).as("__ctx"), wordOf(col("g")).as("__w"))
    val gramCounts = trainGrams.groupBy(col("__ctx"), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minCount)
    val ctxCounts = gramCounts.groupBy(col("__ctx")).agg(sum(col("__c")).as("__cc"))
    val vocab = train
      .select(explode(Dedup.tokenize(col(trainTextCol))).as("__t"))
      .agg(countDistinct(col("__t")).cast("double").as("__v"))
    val docGrams = docs.select(col(idCol).as("__id"),
        explode(wordNgrams(col(textCol), n)).as("g"))
      .select(col("__id"), ctxOf(col("g")).as("__ctx"), wordOf(col("g")).as("__w"))
    val scored = docGrams
      .join(gramCounts, Seq("__ctx", "__w"), "left")
      .join(ctxCounts, Seq("__ctx"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("__id"), round(log(
        (coalesce(col("__c"), lit(0L)).cast("double") + addK) /
          (coalesce(col("__cc"), lit(0L)).cast("double") + col("__v") * addK))
        * 1000000.0).cast("long").as("__lp6"))
    val perDoc = scored.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("__lp6")).as("logprob_sum_e6"))
      .withColumn("avg_logprob",
        col("logprob_sum_e6").cast("double") /
          (col("n_grams").cast("double") * 1000000.0))
      .withColumn("perplexity", round(exp(-col("avg_logprob")), 6))
    docs.select(col(idCol))
      .join(perDoc.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("logprob_sum_e6"), col("avg_logprob"), col("perplexity"))
  }

  /** A gram's order (token count), computed by counting separator spaces
    * on the gram string itself — grams are single-space joins of
    * non-empty, space-free [[Dedup.tokenize]] tokens, so
    * `spaces + 1 = tokens` with no split-array allocation.
    */
  private def gramOrder(g: Column): Column =
    lit(1) + length(g) - length(translate(g, " ", ""))

  /** Per-order join-key columns over LM doc-side gram rows (`__g` = the
    * gram, `__L` = its order): `__sk` = the gram's last k tokens, `__xk` =
    * those minus the final token (the context), null when the gram is
    * shorter than k — shared by the Kneser-Ney and stupid-backoff scorers.
    *
    * Built with `substring_index` intrinsics over the gram STRING: r18
    * derived each key as `array_join(slice(split(__g), …))` — 2n−1
    * allocating array walks per gram, the biggest remaining user-CPU block
    * of the KN row (VERDICT r18 #5; guide §4 expression tier). Tokens are
    * non-empty and space-free, so space-counting substring walks reassemble
    * byte-identical keys with zero array allocations: `__sk` is the suffix
    * after the k-th space from the right (k = __L returns the whole gram —
    * exactly the order-__L suffix), `__xk` re-trims that suffix to its
    * first k−1 fields.
    */
  private def gramSuffixKeys(dg0: DataFrame, n: Int): DataFrame = {
    val g = col("__g")
    var dg = dg0
    (1 to n).foreach { k =>
      dg = dg.withColumn(s"__s$k",
        when(col("__L") >= k, substring_index(g, " ", -k)))
      if (k >= 2) dg = dg.withColumn(s"__x$k",
        when(col("__L") >= k,
          substring_index(substring_index(g, " ", -k), " ", k - 1)))
    }
    dg
  }

  /** Interpolated Kneser-Ney n-gram LM perplexity (Kneser & Ney 1995 /
    * Chen & Goodman 1998 — the published-CCNet-comparable smoothing) —
    * [[ngramLmStupidBackoff]]'s normalized sibling. Each document
    * n-gram w₁..wₙ scores as the nested interpolation
    * P = f_n + λ_n·(f_{n−1} + λ_{n−1}·(… (f_2 + λ_2·P₁)…)) with a
    * FIXED discount D:
    *
    *  - top order n uses RAW counts: f_n = max(c_n − D, 0)/c_{n−1}(ctx),
    *    λ_n = D·N1+(ctx·)/c_{n−1}(ctx) (the engine's denominator
    *    convention is the context's own (n−1)-gram count, as in the
    *    stupid-backoff sibling — a prefix occurs at least as often as
    *    its extensions);
    *  - orders 2..n−1 use CONTINUATION counts (the KN insight — how
    *    many distinct contexts a gram completes): f_k =
    *    max(N1+(·u·w) − D, 0)/N1+(·u··), λ_k = D·|{w: N1+(·u·w)>0}| /
    *    N1+(·u··);
    *  - the unigram base is add-1-floored over continuation counts:
    *    P₁ = (N1+(·w) + 1)/(bigramTypes + V) — never zero, so OOV
    *    words stay finite;
    *  - an UNSEEN context at any level contributes nothing and passes
    *    through (f = 0, λ = 1) — pure lower-order interpolation.
    *
    * Short documents (1 ≤ words < n) score at their longest available
    * order m, entering the chain at level m with continuation counts
    * (as if backing off from an unseen higher context — the document
    * carries no order-(m+1) evidence); 0-word docs stay unscorable.
    *
    * Determinism contract: the nested probability is built from the
    * SAME arithmetic expression in Spark Column algebra and the
    * generated DuckDB CTE (literal D, same op order — IEEE doubles
    * agree bitwise), then each gram's log rounds to integer micro-nats
    * BEFORE the per-doc sum, exactly as the add-k and stupid-backoff
    * rows. Plan shape at 100 TB: training is a bounded set of
    * hash-uniform partial-agg groupBys over distinct-gram tables (the
    * LM lives as DataFrames, never driver state); scoring is scan-side
    * gram generation + ~2n gram-keyed equi-joins + one broadcast of
    * the scalar totals.
    */
  def ngramLmKneserNey(docs: DataFrame, textCol: String, idCol: String,
      train: DataFrame, trainTextCol: String, n: Int = 5,
      discount: Double = 0.75): DataFrame = {
    require(n >= 2, "n must be >= 2 (use ngramLmPerplexity for unigrams)")
    require(discount > 0 && discount < 1, "discount must be in (0, 1)")
    val D = lit(discount)
    // r18 measured decision: NO materialization in the trainer. The
    // duplicated order-n / order-(n−1) subtrees (cn/cd vs the
    // continuation derivations) dedupe through ReuseExchange now that
    // wordNgrams memoizes its per-order UDFs (identical gram subtrees
    // canonicalize equal); persisting the token frame or the count
    // tables instead was measured WORSE at bench scale (KN 7.3 → 9.1 s
    // honest-timed: materialization passes + cache scans lose to fused
    // aggregation pipelines), and a single all-orders groupBy worse
    // still (11.7 s — every consumer re-scans the combined table).
    def rawCounts(k: Int, cName: String): DataFrame = train
      .select(explode(wordNgrams(col(trainTextCol), k)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as(cName))
    // order 1 is only needed when n == 2 (cd = raw(n−1) below); building
    // it unconditionally would add a dead unigram count table to the plan
    val raw: Map[Int, DataFrame] = (math.min(n - 1, 2) to n).map { k =>
      k -> rawCounts(k, s"__raw$k")
    }.toMap
    val cn = raw(n).withColumnRenamed(s"__raw$n", "__cn")
    val cd = raw(n - 1).withColumnRenamed(s"__raw${n - 1}", "__cd")
    // N1+(ctx ·) for the top level: distinct continuations of each
    // (n−1)-gram context — one groupBy over the distinct-c_n table.
    // Context/suffix trims here and below use the substring_index
    // intrinsic (first/last k space-separated fields) instead of
    // array_join(slice(split(…))) — identical strings (tokens are
    // space-free), no split-array allocation per gram (guide §4).
    val tn = cn.select(substring_index(col("__g"), " ", n - 1).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__tn"))
    // continuation tables for orders 1..n−1, each derived from the
    // DISTINCT (k+1)-gram table: a (k+1)-gram v·u·w contributes one
    // preceding-type to its length-k suffix u·w
    //   cc_k(u·w) = N1+(· u w)   (rows grouped by suffix k)
    //   ccden_k(u) = N1+(· u ·)  (sum of cc over the context u)
    //   tcc_k(u)  = |{w : N1+(· u w) > 0}| (rows of cc_k per context)
    val ccTables: Map[Int, (DataFrame, DataFrame)] =
      (1 until n).map { k =>
        val kp = raw(k + 1)
        // a (k+1)-gram's length-k suffix = the fields after its first space
        val cc = kp.select(substring_index(col("__g"), " ", -k).as("__g"))
          .groupBy(col("__g")).agg(count(lit(1)).as(s"__cc$k"))
        // den and tcc ride ONE frame (they come from the same groupBy)
        // and join the doc side once — splitting them doubled the joins
        val byCtx =
          if (k >= 2)
            cc.select(substring_index(col("__g"), " ", k - 1)
              .as("__g"), col(s"__cc$k"))
              .groupBy(col("__g"))
              .agg(sum(col(s"__cc$k")).as(s"__ccden$k"),
                count(lit(1)).as(s"__tcc$k"))
          else null
        k -> (cc, byCtx)
      }.toMap
    // scalar totals: bigram TYPE count (= Σ_w N1+(·w)) and vocab size
    val totals = ccTables(1)._1.agg(
      sum(col("__cc1")).cast("double").as("__bt")).crossJoin(
      train.select(explode(Dedup.tokenize(col(trainTextCol))).as("__t"))
        .agg(countDistinct(col("__t")).cast("double").as("__V")))
    // doc-side grams with per-order suffixes/contexts — the same
    // short-doc machinery as the stupid-backoff sibling (__L = order)
    val toks = Dedup.tokenize(col(textCol))
    var dg = docs
      .select(col(idCol).as("__id"),
        explode(when(size(toks) >= n, wordNgrams(col(textCol), n))
          .when(size(toks) >= 1, array(array_join(toks, " ")))
          .otherwise(array().cast("array<string>"))).as("__g"))
      .withColumn("__L", gramOrder(col("__g")))
    dg = gramSuffixKeys(dg, n)
    var joined = dg.drop("__g")
    joined = joined
      .join(cn.withColumnRenamed("__g", s"__s$n"), Seq(s"__s$n"), "left")
      .join(cd.withColumnRenamed("__g", s"__x$n"), Seq(s"__x$n"), "left")
      .join(tn.withColumnRenamed("__g", s"__x$n"), Seq(s"__x$n"), "left")
    (1 until n).foreach { k =>
      val (cc, byCtx) = ccTables(k)
      joined = joined
        .join(cc.withColumnRenamed("__g", s"__s$k"), Seq(s"__s$k"), "left")
      if (k >= 2) joined = joined
        .join(byCtx.withColumnRenamed("__g", s"__x$k"), Seq(s"__x$k"), "left")
    }
    joined = joined.crossJoin(broadcast(totals))
    // nested interpolation, built bottom-up; levels above the gram's
    // own order __L pass through untouched
    val p1 = (coalesce(col("__cc1"), lit(0L)).cast("double") + 1.0) /
      (col("__bt") + col("__V"))
    var p = p1
    (2 to n).foreach { k =>
      val (cNum, cDen, cTyp) =
        if (k == n) (col("__cn"), col("__cd"), col("__tn"))
        else (col(s"__cc$k"), col(s"__ccden$k"), col(s"__tcc$k"))
      val denD = cDen.cast("double")
      // a context with no continuation types (attested only at text
      // end: the denominator count present but never extended) must
      // PASS THROUGH like an unseen one — f = 0 with lambda = 0 would
      // zero the whole probability
      val absent = cDen.isNull || cTyp.isNull
      val f = when(absent, lit(0.0)).otherwise(
        greatest(coalesce(cNum, lit(0L)).cast("double") - D, lit(0.0)) /
          denD)
      val lam = when(absent, lit(1.0)).otherwise(
        D * cTyp.cast("double") / denD)
      p = when(col("__L") >= k, f + lam * p).otherwise(p)
    }
    val scored = joined.select(col("__id"),
      round(log(p) * 1000000.0).cast("long").as("__lp6"))
    val perDoc = scored.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("__lp6")).as("logprob_sum_e6"))
      .withColumn("avg_logprob",
        col("logprob_sum_e6").cast("double") /
          (col("n_grams").cast("double") * 1000000.0))
      .withColumn("perplexity", round(exp(-col("avg_logprob")), 6))
    docs.select(col(idCol))
      .join(perDoc.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("logprob_sum_e6"), col("avg_logprob"), col("perplexity"))
  }

  /** Unicode script ranges for [[scriptSignals]] — BMP blocks written in
    * `\x{..}` syntax so the SAME character class compiles under both
    * Java regex (Spark) and RE2 (DuckDB oracle). Declaration order is
    * the dominant-script tie-break order.
    */
  val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z\\x{C0}-\\x{24F}",
    "cyrillic" -> "\\x{400}-\\x{4FF}",
    "greek" -> "\\x{370}-\\x{3FF}",
    "arabic" -> "\\x{600}-\\x{6FF}",
    "hebrew" -> "\\x{590}-\\x{5FF}",
    "devanagari" -> "\\x{900}-\\x{97F}",
    "han" -> "\\x{4E00}-\\x{9FFF}",
    "kana" -> "\\x{3040}-\\x{30FF}",
    "hangul" -> "\\x{AC00}-\\x{D7AF}")

  /** Per-document Unicode SCRIPT census — the signal language-ID can't
    * give (stopword lists only separate languages that share a script;
    * a multilingual crawl needs the script axis first: Cyrillic vs
    * Latin routing, CJK segmentation, mixed-script spam detection).
    * Counts codepoints per major script block (count = length minus
    * length after stripping the class — one regexp per script, all
    * inside the scan, zero shuffle), plus the dominant script (first
    * declared script reaching the max; 'none' when no script char
    * appears) and its fraction of all codepoints. Appends
    * (n_cp, n_latin..n_hangul, dominant_script, script_frac).
    */
  def scriptSignals(df: DataFrame, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val counted = scriptRanges.foldLeft(df.withColumn("n_cp", length(t))) {
      case (acc, (n, cls)) =>
        acc.withColumn(s"n_$n",
          length(t) - length(regexp_replace(t, s"[$cls]", "")))
    }
    val mx = greatest(scriptRanges.map { case (n, _) => col(s"n_$n") }: _*)
    val dom = scriptRanges.reverse.foldLeft(lit("none")) {
      case (acc, (n, _)) => when(col(s"n_$n") === mx, lit(n)).otherwise(acc)
    }
    counted
      .withColumn("dominant_script", when(mx === 0, lit("none")).otherwise(dom))
      .withColumn("script_frac",
        when(col("n_cp") > 0 && mx > 0,
          mx.cast("double") / col("n_cp").cast("double")).otherwise(lit(0.0)))
  }

  /** Stupid-backoff n-gram LM perplexity (Brants et al. 2007, the
    * smoothing large-scale LM pipelines actually deploy; CCNet-class
    * deployment shape) — [[ngramLmPerplexity]]'s higher-fidelity
    * sibling. Each full document n-gram w₁..wₙ scores at the LONGEST
    * training-attested suffix: S = αʲ · c_k(w_{j+1}..wₙ) /
    * c_{k−1}(w_{j+1}..w_{n−1}) after j backoff steps (k = n−j), falling
    * all the way to an add-1-smoothed unigram floor
    * αⁿ⁻¹·(c₁(wₙ)+1)/(N+V) — rational at every level, so the micro-nat
    * determinism contract carries over unchanged: each gram's log-score
    * rounds to integer micro-nats BEFORE the per-doc sum (exact long
    * arithmetic; one IEEE division at the end), making the result
    * independent of partial-aggregation order and engine.
    *
    * Plan shape at 100 TB: training is n hash-uniform partial-agg
    * groupBys (one count table per order — the LM lives as DataFrames,
    * never driver state; a 10⁹-gram model is a join side); scoring is
    * scan-side gram generation + 2n−1 gram-keyed equi-joins (numerator
    * per order, denominator per order ≥ 2) + one broadcast of the
    * (N, V) scalar totals. `minCount` prunes order ≥ 2 tables (the
    * standard count cutoff; unigrams stay complete so the floor sees
    * every trained word). Output schema matches [[ngramLmPerplexity]]:
    * (idCol, n_grams, logprob_sum_e6, avg_logprob, perplexity).
    *
    * Short documents (1 ≤ words < n) score at the LONGEST AVAILABLE
    * order instead of emitting null perplexity: the whole document is
    * its one order-m gram, the suffix chain truncates at m, and every
    * backoff exponent is relative to m (an order that does not exist in
    * the document is not charged as a backoff step) — so a 1-word doc
    * scores at the add-1 unigram floor and lands in a perplexity
    * bucket rather than falling out null-last. Only 0-word (empty or
    * null text) documents remain unscorable (n_grams = 0, null
    * perplexity).
    */
  def ngramLmStupidBackoff(docs: DataFrame, textCol: String, idCol: String,
      train: DataFrame, trainTextCol: String, n: Int = 5,
      alpha: Double = 0.4, minCount: Long = 1L): DataFrame = {
    require(n >= 2, "n must be >= 2 (use ngramLmPerplexity for unigrams)")
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    // r18 measured decision: no trainer materialization (see the KN
    // sibling's note) — each order's suffix and denominator joins read
    // the SAME count subtree, which dedupes via ReuseExchange now that
    // the per-order gram UDFs are memoized.
    val counts: Map[Int, DataFrame] = (1 to n).map { k =>
      val c = train
        .select(explode(wordNgrams(col(trainTextCol), k)).as("__g"))
        .groupBy(col("__g")).agg(count(lit(1)).as(s"__c$k"))
      k -> (if (k >= 2 && minCount > 1) c.where(col(s"__c$k") >= minCount)
        else c)
    }.toMap
    val totals = train
      .select(explode(Dedup.tokenize(col(trainTextCol))).as("__t"))
      .agg(count(lit(1)).cast("double").as("__N"),
        countDistinct(col("__t")).cast("double").as("__V"))
    // full doc n-grams; per gram, the suffix of each order k and its
    // context (the suffix minus its last word — an INFIX of the gram).
    // A short doc (1 ≤ m < n words) contributes its single order-m
    // gram — the longest order it HAS — so it scores instead of
    // emitting null perplexity; __L carries the gram's own order so
    // suffixes and backoff exponents truncate at m (full docs: __L = n,
    // byte-identical to the fixed-order path).
    val toks = Dedup.tokenize(col(textCol))
    var dg = docs
      .select(col(idCol).as("__id"),
        explode(when(size(toks) >= n, wordNgrams(col(textCol), n))
          .when(size(toks) >= 1, array(array_join(toks, " ")))
          .otherwise(array().cast("array<string>"))).as("__g"))
      .withColumn("__L", gramOrder(col("__g")))
    dg = gramSuffixKeys(dg, n)
    var joined = dg.drop("__g")
    (n to 1 by -1).foreach { k =>
      joined = joined.join(
        counts(k).withColumnRenamed("__g", s"__s$k"), Seq(s"__s$k"), "left")
      if (k >= 2) joined = joined.join(
        counts(k - 1).withColumnRenamed("__g", s"__x$k")
          .withColumnRenamed(s"__c${k - 1}", s"__d$k"), Seq(s"__x$k"), "left")
    }
    joined = joined.crossJoin(broadcast(totals))
    // longest attested suffix wins; when c_k exists its context count
    // exists too (a prefix occurs at least as often as its extension and
    // minCount prunes only order ≥ 2 uniformly). Backoff exponents are
    // relative to the gram's OWN order __L (= n except for short docs):
    // only orders the document actually has count as backoff steps.
    val floor = (col("__L") - 1).cast("double") * log(lit(alpha)) +
      log((coalesce(col("__c1"), lit(0L)).cast("double") + 1.0) /
        (col("__N") + col("__V")))
    val lp = (n to 2 by -1).foldRight(floor) { (k, rest) =>
      when(col(s"__c$k").isNotNull,
        (col("__L") - k).cast("double") * log(lit(alpha)) +
          log(col(s"__c$k").cast("double") / col(s"__d$k").cast("double")))
        .otherwise(rest)
    }
    val scored = joined.select(col("__id"),
      round(lp * 1000000.0).cast("long").as("__lp6"))
    val perDoc = scored.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("__lp6")).as("logprob_sum_e6"))
      .withColumn("avg_logprob",
        col("logprob_sum_e6").cast("double") /
          (col("n_grams").cast("double") * 1000000.0))
      .withColumn("perplexity", round(exp(-col("avg_logprob")), 6))
    docs.select(col(idCol))
      .join(perDoc.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("logprob_sum_e6"), col("avg_logprob"), col("perplexity"))
  }

  /** Overlapping document chunking — the long-document splitting step in
    * front of every embedding/RAG indexing pass and every fixed-window
    * encoder: chunk k covers characters [k·s, k·s + maxChars) for stride
    * s = maxChars − overlapChars, so consecutive chunks share
    * `overlapChars` characters and no content is lost at a boundary.
    * `n_chunks = max(1, ceil((len − overlap) / s))` — a document at or
    * under the budget is one chunk; null/empty documents emit a single
    * empty chunk (one row per input document at minimum, the family's
    * no-silent-vanish contract).
    *
    * Deterministic pure-arithmetic windows (no tokenizer, no snapping):
    * exact, engine-replayable substring math — compose with
    * [[graft.ops.Bpe.tokenCount]] budgets downstream when token-exact
    * windows matter. Plan shape at 100 TB: sequence + explode + substr
    * inside the scan; the only wide op is whatever the caller does next.
    * Returns (idCol, chunk_idx (0-based), chunk_start (1-based),
    * chunk_text, n_chunks).
    */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      maxChars: Int, overlapChars: Int = 0): DataFrame = {
    require(maxChars > 0, "maxChars must be positive")
    require(overlapChars >= 0 && overlapChars < maxChars,
      "overlapChars must be in [0, maxChars)")
    val step = maxChars - overlapChars
    val len = length(coalesce(col(textCol), lit("")))
    val nChunks = greatest(lit(1),
      ceil((len - overlapChars).cast("double") / step).cast("int"))
    df.select(col(idCol), coalesce(col(textCol), lit("")).as("__t"),
        nChunks.as("n_chunks"))
      .select(col(idCol), col("__t"), col("n_chunks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * step + 1).as("chunk_start"),
        col("__t").substr(col("chunk_idx") * step + 1, lit(maxChars)).as("chunk_text"),
        col("n_chunks"))
  }

  /** CCNet's deployment shape for the perplexity signal: split each
    * `groupCol` stream (CCNet buckets per LANGUAGE) into `buckets`
    * equal-size quality tiers by ascending score — bucket 1 = lowest
    * perplexity ("head" in CCNet's head/middle/tail thirds), the slice
    * pipelines keep or up-sample. `ntile` semantics are ANSI (remainder
    * rows land in the leading buckets) in both Spark and DuckDB, and the
    * order is made total with the id tie-break, so the assignment is
    * engine-exact — no float comparison ambiguity. Null scores (docs the
    * LM could not score) sort LAST (NULLS LAST both engines via the
    * null-flag sort key) and so land in the tail bucket — unscorable
    * docs must never displace scored ones from the head.
    *
    * One window pass partitioned by `groupCol`: embarrassingly parallel
    * across groups, a skewed group is a sort skew (pre-bucket the group
    * key if one language dominates — same note as Packing).
    */
  def perplexityBuckets(df: DataFrame, scoreCol: String, idCol: String,
      groupCol: String, buckets: Int = 3): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).isNull.cast("int"), col(scoreCol), col(idCol))
    df.withColumn("ppl_bucket", ntile(buckets).over(w))
  }

  /** Repetition signals (the Gopher/C4-family quality filters): fraction of
    * duplicate lines and fraction of duplicate word n-grams. High values
    * indicate boilerplate / template spam — standard pretraining filters.
    * Pure array expressions: split → distinct-count ratio, no shuffle, runs
    * at scan speed inside whole-stage codegen.
    */
  def repetitionSignals(df: DataFrame, textCol: String, ngram: Int = 3): DataFrame = {
    val t = col(textCol)
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    val nLines = size(lines).cast("double")
    val dupLineFrac = when(nLines > 0,
      (nLines - size(array_distinct(lines)).cast("double")) / nLines).otherwise(0.0)
    val grams = wordNgrams(t, ngram)
    val nGrams = size(grams).cast("double")
    val dupGramFrac = when(nGrams > 0,
      (nGrams - size(array_distinct(grams)).cast("double")) / nGrams).otherwise(0.0)
    df.withColumn("dup_line_frac", round(dupLineFrac, 6))
      .withColumn("dup_ngram_frac", round(dupGramFrac, 6))
  }

  /** PII scrubbing: replace emails, phone-shaped numbers, and IPv4
    * addresses with typed placeholder tokens (the standard pretraining
    * redaction pass). Chained codegen `regexp_replace` — no UDF; patterns
    * kept RE2-compatible so external engines reproduce the output
    * byte-for-byte.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
    regexp_replace(ip,
      "\\+?[0-9][0-9()\\-\\s]{7,}[0-9]", "<PHONE>")
  }

  /** Per-document PII counts (audit before/after scrubbing). */
  def piiSignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails",
        size(regexp_extract_all(t, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0))).cast("long"))
      .withColumn("n_ipv4",
        size(regexp_extract_all(t, lit("\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"), lit(0))).cast("long"))
  }

  /** Document fingerprint: md5 of the normalized text (lowercased,
    * punctuation stripped, whitespace collapsed) — stable under
    * formatting-only edits.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " ")))

  /** Rolling polynomial hash over tokens (order-sensitive fingerprint):
    * fold(h = h*31 + tokenHash mod 2^31) via the codegen'd `aggregate`.
    */
  def rollingHash(text: Column): Column =
    aggregate(Dedup.tokenize(text), lit(0L),
      (acc, tok) => pmod(acc * 31 + pmod(Dedup.h60(tok, 7), lit(2147483647L)), lit(2147483647L)))

  /** Self-trained unigram surprisal (the model-free tier of perplexity
    * filtering): per-document mean of `ln(N / count(token))` under the
    * corpus's own unigram distribution — high values flag gibberish /
    * rare-token spam, low values flag boilerplate, the usual
    * perplexity-bucket filter signal when no external LM is available.
    *
    * Two aggregations over the exploded token stream: corpus frequencies
    * (groupBy token — partial agg, hash-uniform shuffle) and the per-doc
    * mean after joining frequencies back. The frequency table is
    * vocab-sized, so AQE broadcasts it when it fits and falls back to a
    * shuffle join when a 100 TB corpus's vocabulary doesn't; the scalar
    * total is a one-row broadcast. At full scale, pre-aggregate to
    * (doc, token, count) and weight the mean to shrink the join input from
    * token occurrences to distinct doc-token pairs.
    *
    * Returns (idCol, n_tokens, avg_surprisal).
    */
  /** Overlapping fixed-size character chunks (the RAG / context-window
    * chunking step): chunk i covers `[i·(size-overlap), i·(size-overlap) +
    * size)`; the last chunk may be short; every document yields ≥1 chunk
    * (empty text → one empty chunk). Pure posexplode over a per-row
    * sequence — a narrow map, no shuffle, chunk count scales with text
    * length. Returns (idCol, chunk_idx, chunk_start, chunk_text).
    */
  def chunkText(df: DataFrame, textCol: String, idCol: String,
      size: Int, overlap: Int = 0): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val step = size - overlap
    val t = col(textCol)
    val nChunks = greatest(ceil((length(t) - overlap).cast("double") / step).cast("int"), lit(1))
    df.select(col(idCol), t.as("__t"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * step).as("chunk_start"),
        col("__t").substr(col("chunk_idx") * step + 1, lit(size)).as("chunk_text"))
  }

  /** C4-style document filter signals (Raffel et al. 2020, public corpus
    * recipe): line counts, terminal-punctuation line counts, sentence
    * count, code/boilerplate markers, and the composite keep decision
    * (≥3 sentences, no curly brace, no "lorem ipsum", ≥5 words). Pure
    * codegen array/regex expressions — runs inside the scan, no shuffle.
    */
  def c4Signals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    val nLines = size(lines).cast("long")
    val nTerminal = size(filter(lines, l => l.rlike("[.!?\"]$"))).cast("long")
    val nSentences = size(filter(split(t, "[.!?]"), x => trim(x) =!= "")).cast("long")
    val hasCurly = t.contains("{")
    val hasLorem = lower(t).contains("lorem ipsum")
    val nWords = size(filter(split(t, "\\s+"), w => w =!= "")).cast("long")
    df.withColumn("n_lines", nLines)
      .withColumn("n_terminal_lines", nTerminal)
      .withColumn("n_sentences", nSentences)
      .withColumn("has_curly", hasCurly)
      .withColumn("has_lorem", hasLorem)
      .withColumn("n_words", nWords)
      .withColumn("c4_keep",
        nSentences >= 3 && !hasCurly && !hasLorem && nWords >= 5)
  }

  /** Gopher document-quality rules (Rae et al. 2021 §A1.1, public recipe):
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    * bullet-/ellipsis-line fractions, alphabetic-word fraction, and
    * required-stopword evidence, plus the composite keep decision. All
    * array/regex codegen expressions over the scan — zero shuffle, the
    * 100 TB shape for a first-pass quality gate.
    */
  def gopherSignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = filter(split(t, "\\s+"), w => w =!= "")
    val nWords = size(words).cast("long")
    val nWordsD = nWords.cast("double")
    val meanLen = when(nWords > 0,
      aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") / nWordsD)
      .otherwise(0.0)
    val alphaFrac = when(nWords > 0,
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWordsD)
      .otherwise(0.0)
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    val nLines = size(lines).cast("double")
    val bulletFrac = when(nLines > 0,
      size(filter(lines, l => l.rlike("^[-*•]"))).cast("double") / nLines)
      .otherwise(0.0)
    val ellipsisFrac = when(nLines > 0,
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$"))).cast("double") / nLines)
      .otherwise(0.0)
    val symbolRatio = when(nWords > 0,
      size(regexp_extract_all(t, lit("#|\\.\\.\\.|…"), lit(0))).cast("double") / nWordsD)
      .otherwise(0.0)
    val requiredStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = requiredStops
      .map(w => when(lower(t).rlike("\\b" + w + "\\b"), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    df.withColumn("n_words", nWords)
      .withColumn("mean_word_len", round(meanLen, 4))
      .withColumn("symbol_ratio", round(symbolRatio, 6))
      .withColumn("bullet_line_frac", round(bulletFrac, 6))
      .withColumn("ellipsis_line_frac", round(ellipsisFrac, 6))
      .withColumn("alpha_word_frac", round(alphaFrac, 6))
      .withColumn("req_stop_hits", stopHits)
      .withColumn("gopher_keep",
        nWords >= 50 && nWords <= 100000 &&
          meanLen >= 3 && meanLen <= 10 &&
          symbolRatio <= 0.1 &&
          bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
          alphaFrac >= 0.8 && stopHits >= 2)
  }

  /** Adjacent character-pair frequencies inside tokens — the first
    * iteration of BPE-style merge induction (count all symbol pairs, the
    * top pair is the next merge). Token pairs are generated inside the
    * scan (array expression, no pre-materialized n-gram table); the
    * groupBy key space is bounded (alphabet²), so partial aggregation
    * collapses the pair stream map-side and the exchange ships at most
    * |alphabet|² rows per partition; top-N is a bounded TakeOrdered, not
    * a global sort. Returns the `topN` (pair, n_occ) by count desc,
    * pair asc — a deterministic total order.
    */
  def charPairStats(df: DataFrame, textCol: String, topN: Int = 50): DataFrame = {
    val toks = Dedup.tokenize(col(textCol))
    df.select(explode(toks).as("tok"))
      .where(length(col("tok")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(topN)
  }

  def unigramSurprisal(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(Dedup.tokenize(col(textCol))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("n"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("n").cast("double") / col("c"))), 6).as("avg_surprisal"))
  }

  /** Bigram language-model scoring with stupid backoff — the CCNet-style
    * "perplexity filter" tier: train token-bigram counts on a reference
    * corpus (`train`, e.g. a trusted high-quality slice), then score every
    * document of `df` by its average bigram log-probability. Documents far
    * below the corpus mode read as boilerplate/gibberish; far above as
    * memorized duplication of the training slice.
    *
    * Probability per adjacent token pair (w1, w2):
    * `count(w1,w2)/count(w1)` when the bigram was seen in training, else
    * stupid backoff `alpha * (count(w2)+1)/(N+V)` (add-one smoothed
    * unigram so never-seen continuations score finitely; N = training
    * tokens, V = training vocabulary). Stupid backoff deliberately skips
    * discount normalization (Brants et al. 2007, "Large Language Models in
    * Machine Translation") — at corpus scale the unnormalized score ranks
    * identically and costs one join instead of a full discount pass.
    *
    * Plan shape at 100 TB: bigrams are built IN-ROW from the materialized
    * token array (zip of the array with its own tail — no self-join on
    * position, no window). Counting is two partial-agg shuffles over the
    * training slice (unigrams, bigrams); the MLE and backoff LOG-PROBS are
    * then folded INTO those tables (a table-sized join, never touching the
    * corpus), so the document bigram stream joins exactly twice — seen-
    * bigram lookup on (w1, w2), backoff lookup on w2 — instead of three
    * times, with the fully-unseen case a constant from the broadcast
    * stats row. Build sides are vocabulary-sized (Spark broadcasts them
    * when they fit). The per-doc rollup is the last shuffle; output is
    * one row per scored document with ≥ 2 tokens (a 0/1-token document
    * has no bigram to score and is absent — gate on token count upstream
    * if those must survive). Returns (idCol, n_bigrams, avg_logprob).
    */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String,
      train: DataFrame, trainTextCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    def bigrams(in: DataFrame, textC: String, keep: Seq[String]): DataFrame =
      in.select(keep.map(col) :+ Dedup.tokenize(col(textC)).as("l"): _*)
        .where(size(col("l")) >= 2)
        .select(keep.map(col) :+ explode(arrays_zip(
          slice(col("l"), lit(1), size(col("l")) - 1).as("w1"),
          slice(col("l"), lit(2), size(col("l")) - 1).as("w2"))).as("bg"): _*)
        .select((keep.map(col) :+ col("bg.w1") :+ col("bg.w2")): _*)
    val trainBg = bigrams(train, trainTextCol, Seq.empty)
    val uni = train.select(explode(Dedup.tokenize(col(trainTextCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val stats = uni.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    // log-probs folded into the lookup tables (table-sized joins):
    // seen-bigram MLE on (w1, w2), smoothed backoff keyed by w2 alone
    val bgTable = trainBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .join(uni.withColumnRenamed("tok", "w1"), Seq("w1"))
      .select(col("w1"), col("w2"), log(col("cb").cast("double") / col("c")).as("lp_seen"))
    val backoff = uni.crossJoin(broadcast(stats))
      .select(col("tok").as("w2"),
        log(lit(alpha) * (col("c") + 1).cast("double") / (col("n") + col("v"))).as("lp_backoff"))
    val docBg = bigrams(df, textCol, Seq(idCol))
    // fully-unseen continuation: the same smoothed formula at c = 0
    val lpUnseen = log(lit(alpha) * lit(1).cast("double") / (col("n") + col("v")))
    // quantize-then-aggregate (§22.18 determinism contract): per-bigram
    // log-probs become integer micro-nats, the per-doc sum is exact
    // integer arithmetic (aggregation-order independent), and the mean
    // derives by one IEEE division — a rounded avg() of doubles is a
    // cross-engine boundary lottery
    val lp6 = round(coalesce(col("lp_seen"), col("lp_backoff"), lpUnseen)
      * 1000000.0).cast("long")
    docBg
      .join(bgTable, Seq("w1", "w2"), "left")
      .join(backoff, Seq("w2"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(lp6).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        (col("__s").cast("double") /
          (col("n_bigrams").cast("double") * 1000000.0)).as("avg_logprob"))
  }

  /** BM25 top-k retrieval over the corpus (Okapi BM25 with the Lucene idf
    * `ln(1 + (N − df + ½)/(df + ½))`): for each query, the `k` best
    * documents by summed per-term score
    * `idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`. Query term
    * frequency is ignored (distinct query tokens — the short-query BM25
    * convention). A query drawn from the corpus never retrieves itself
    * (`corpus_id ≠ query_id`), so self-matches don't mask the ranking.
    * This is the retrieval tier of a curation stack: retrieval-based
    * decontamination, nearest-neighbor quality audits, building eval sets.
    *
    * Scores are rounded to 6 dp BEFORE ranking: a BM25 score is a sum of
    * per-term contributions whose float accumulation order is
    * engine-dependent, so ranking raw doubles would let last-ulp noise
    * flip tie order across engines; rounded-then-ranked (ties by
    * corpus_id) is reproducible everywhere.
    *
    * Plan shape at 100 TB: term frequencies and document lengths are
    * partial-agg shuffles of the corpus (the inverted index); query terms
    * and the per-term document frequencies RESTRICTED to query terms are
    * broadcast (bounded by the query set, not the vocabulary); the
    * posting join fans out only rows containing a query term; the
    * per-(query, doc) rollup shuffles candidates; top-k runs in the
    * bounded-heap aggregate ([[Similarity.TopKAgg]]) — each partition
    * ships at most k candidates per query, never a corpus-sized sort.
    * Returns (query_id, corpus_id, score, rank).
    */
  def bm25TopK(corpus: DataFrame, textCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = corpus.select(col(idCol).as("__doc"), explode(Dedup.tokenize(col(textCol))).as("tok"))
      .groupBy(col("__doc"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("__doc")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n"))
    val qTerms = queries.select(col(qIdCol).as("query_id"),
      explode(array_distinct(Dedup.tokenize(col(qTextCol)))).as("tok"))
    val dfq = tf.join(broadcast(qTerms.select(col("tok")).distinct()), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("dft"))
    val idf = log(lit(1.0) + (col("n") - col("dft") + 0.5) / (col("dft") + 0.5))
    val tfn = col("tf").cast("double") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf
      .join(broadcast(qTerms), Seq("tok"))
      .where(col("__doc") =!= col("query_id"))
      .join(broadcast(dfq), Seq("tok"))
      .join(dl, Seq("__doc"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("__doc"))
      .agg(round(sum(idf * tfn), 6).as("cos"))
      .select(col("query_id"), col("cos"), col("__doc").as("corpus_id"))
    Similarity.topKPerQuery(scored, k)
      .withColumnRenamed("cos", "score")
  }

  /** Vocabulary coverage: build the top-`vocabSize` token vocabulary by
    * corpus frequency (ties lexicographic — deterministic at the cutoff)
    * and report each document's out-of-vocabulary token rate — the
    * tokenizer-fit signal that decides whether a corpus needs its own
    * vocab.
    *
    * Plan shape at 100 TB: token count is one partial-agg shuffle; the
    * vocab cut is TakeOrderedAndProject (each partition ships only its own
    * top-`vocabSize`, the driver holds exactly the vocab — bounded by
    * definition); membership is a broadcast left join; the per-doc rollup
    * is the second and last shuffle. Documents with zero tokens are
    * absent from the output (no tokens → no coverage to report).
    * Returns (idCol, n_tokens, n_oov, oov_rate).
    */
  def vocabOov(df: DataFrame, textCol: String, idCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val toks = df.select(col(idCol), explode(Dedup.tokenize(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
  }

  /** URL provenance signals for web-corpus curation (the C4/RefinedWeb
    * front gate): host, registered domain (last two host labels — the
    * public-suffix-list-free approximation), TLD, path depth, and
    * query-string presence — all scan-side codegen regexp extractions,
    * zero shuffle. Returns the input plus `url_host`, `url_domain`,
    * `url_tld`, `url_path_depth`, `url_has_query`.
    */
  def urlSignals(df: DataFrame, urlCol: String): DataFrame = {
    // userinfo STRIPPED before the host capture: "http://u:p@blocked.com/"
    // must yield url_host=blocked.com, or a crawler-controlled "@" prefix
    // walks straight through filterBlockedDomains' anti-join
    val host = lower(regexp_extract(col(urlCol),
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:@]+)", 1))
    val path = regexp_extract(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    df.withColumn("url_host", host)
      .withColumn("url_domain",
        regexp_extract(col("url_host"), "([^.]+\\.[^.]+)$", 1))
      .withColumn("url_tld", regexp_extract(col("url_host"), "\\.([^.]+)$", 1))
      .withColumn("url_path_depth",
        when(path === "", 0)
          .otherwise(size(filter(split(path, "/"), s => s =!= ""))))
      // a '?' is a query delimiter only BEFORE any '#': anchoring the match
      // to the pre-fragment span keeps https://x.com/p#sec?a (a '?' inside
      // the fragment) from falsely reporting a query string
      .withColumn("url_has_query",
        regexp_extract(col(urlCol), "^[^#]*\\?", 0) =!= "")
  }

  /** [[urlSignals]] with a public-suffix table: `url_domain` becomes one
    * label plus the LONGEST matching public suffix, so `example.co.uk`
    * yields `example.co.uk` rather than the two-label approximation's
    * `co.uk` — the difference that matters when the domain feeds a
    * blocklist (a `co.uk` entry must not blanket the whole ccSLD).
    * Hosts matching no listed suffix keep the two-label approximation;
    * a host that IS a bare public suffix reports itself.
    *
    * The suffix set rides the row as a literal array — the match is a
    * per-row O(|suffixes|) codegen filter + longest-fold, zero shuffle,
    * no broadcast state. That is the right trade for the curated subsets
    * blocklists actually use (tens to hundreds of ccSLDs); for the full
    * ~9k-entry PSL the linear scan still costs only microseconds per row
    * against I/O-bound 100 TB scans.
    */
  def urlSignals(df: DataFrame, urlCol: String,
      publicSuffixes: Seq[String]): DataFrame = {
    require(publicSuffixes.nonEmpty, "publicSuffixes must not be empty")
    val host = col("url_host")
    val sfx = array(publicSuffixes.map(s =>
      lit(s.toLowerCase.stripPrefix("."))).distinct: _*)
    val matching = filter(sfx, s =>
      host === s || host.endsWith(concat(lit("."), s)))
    // longest suffix wins (co.uk over uk) — deterministic fold, no ordering
    // assumption on the input list; ties cannot occur (equal-length matches
    // ending the same host are the same string)
    val best = aggregate(matching, lit(""),
      (acc, s) => when(length(s) > length(acc), s).otherwise(acc))
    val regLabel = element_at(
      split(host.substr(lit(1), length(host) - length(best) - 1), "\\."), -1)
    urlSignals(df, urlCol).withColumn("url_domain",
      when(best === "", col("url_domain"))
        .when(host === best, host)
        .otherwise(concat(regLabel, lit("."), best)))
  }

  /** Percent-encoding normalization (RFC 3986 §6.2.2.1–2), fully
    * declarative: split on '%', each following piece starts with the two
    * hex digits of one escape — uppercase them, and DECODE the escape
    * when it encodes an unreserved character (ALPHA / DIGIT / - . _ ~);
    * a piece not starting with two hex digits is a literal '%' and is
    * kept verbatim. transform() keeps the whole chain inside codegen —
    * the op that is a UDF in every other engine.
    */
  private def percentNormalize(c: Column): Column = {
    val parts = split(c, "%", -1)
    val head = element_at(parts, 1)
    val fixed = transform(slice(parts, lit(2), greatest(lit(0), size(parts) - 1)), p => {
      val hex = upper(p.substr(lit(1), lit(2)))
      val rest = p.substr(lit(3), length(p))
      val code = conv(hex, 16, 10).cast("int")
      val unreserved = (code >= 65 && code <= 90) ||
        (code >= 97 && code <= 122) || (code >= 48 && code <= 57) ||
        code === 45 || code === 46 || code === 95 || code === 126
      when(!hex.rlike("^[0-9A-F]{2}$"), concat(lit("%"), p))
        .when(unreserved, concat(call_function("char", code), rest))
        .otherwise(concat(lit("%"), hex, rest))
    })
    when(size(parts) <= 1, c).otherwise(concat(head, array_join(fixed, "")))
  }

  /** RFC 3986 §5.2.4 remove_dot_segments as an aggregate() fold over the
    * path segments, plus the crawl-canonicalizer convention of collapsing
    * duplicate slashes (deliberate, beyond strict RFC — '//a' and '/a'
    * are the same resource on every real origin). '..' above the root is
    * ignored per spec; the directory-ness of a trailing '/', '/.' or
    * '/..' is preserved; the empty path becomes '/'.
    */
  private def normalizePath(path: Column): Column = {
    val segs = filter(split(path, "/"), s => s =!= "")
    val folded = aggregate(segs, array().cast("array<string>"),
      (acc, s) => when(s === ".", acc)
        .when(s === "..", slice(acc, lit(1), greatest(lit(0), size(acc) - 1)))
        .otherwise(concat(acc, array(s))))
    val trailingDir = path.rlike("(/|/\\.|/\\.\\.)$")
    when(size(folded) === 0, lit("/"))
      .otherwise(concat(lit("/"), array_join(folded, "/"),
        when(trailingDir, lit("/")).otherwise(lit(""))))
  }

  /** Shared URL dissection for [[canonicalizeUrl]] and [[surtKey]] — one
    * set of regexes so the two ops cannot drift on the same input (a fix
    * to host/port splitting lands in both or neither). Fragment already
    * dropped; scheme and host lowercased.
    */
  private final case class UrlParts(scheme: Column,
      userinfo: Column, host: Column, portStr: Column, rawPath: Column,
      hasQuery: Column, query: Column)

  private def urlParts(raw: Column): UrlParts = {
    val u = regexp_replace(raw, "#.*$", "") // fragment never survives
    val scheme = lower(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val auth = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val userinfo = regexp_extract(auth, "^([^@]*@)", 1)
    val hostport = regexp_replace(auth, "^[^@]*@", "")
    // a port is 1..9 digits: an oversized all-digits tail (seen in
    // crawled garbage) must NOT reach the downstream int cast — under
    // ANSI (Spark 4's default) that cast throws JOB-level, so one bad
    // URL would kill the whole canonicalization pass. Longer digit
    // runs stay in the host, like the documented ':80a' case.
    val portStr = regexp_extract(hostport, ":(\\d{1,9})$", 1)
    val host = lower(regexp_replace(hostport, ":\\d{0,9}$", ""))
    val rawPath = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    UrlParts(scheme, userinfo, host, portStr, rawPath,
      u.contains("?"), regexp_extract(u, "\\?(.*)$", 1))
  }

  /** Canonical URL — THE exact-dedup key of a crawl pipeline (two crawls
    * of one page disagree on case, default ports, dot segments and escape
    * spelling far more often than on content). Appends `url_canonical`:
    * scheme and host lowercased (userinfo case preserved — usernames are
    * case-sensitive), default ports dropped (http:80 / https:443),
    * percent-escapes uppercased with unreserved octets decoded
    * ([[percentNormalize]] — applied BEFORE dot-segment removal, so an
    * escaped %2E resolves like the '.' it is), dot segments resolved and
    * duplicate slashes collapsed ([[normalizePath]]), the fragment
    * dropped, a bare '?' dropped, and the query optionally sorted by
    * parameter (`sortQuery` — the crawler convention, off by default
    * because ordering can be semantic). Rows that are not absolute URLs
    * get null. Zero shuffle, zero UDFs: one codegen'd Column chain
    * riding the scan.
    */
  def canonicalizeUrl(df: DataFrame, urlCol: String,
      sortQuery: Boolean = false): DataFrame = {
    val p = urlParts(col(urlCol))
    val scheme = p.scheme
    val userinfo = p.userinfo
    // port compared NUMERICALLY and re-emitted without leading zeros:
    // ':080' is the default port and ':0443'-style spellings must not
    // produce distinct dedup keys; ':\\d*$' also strips a bare trailing
    // ':' (an empty port, seen in real crawls)
    // CaseWhen guards the cast: ANSI mode throws casting '' (no port)
    val portNum = when(p.portStr =!= "", p.portStr.cast("int"))
    val host = p.host
    val keepPort = portNum.isNotNull &&
      !(scheme === "http" && portNum === 80) &&
      !(scheme === "https" && portNum === 443)
    val qNorm = percentNormalize(p.query)
    val qFinal =
      if (sortQuery) array_join(array_sort(split(qNorm, "&", -1)), "&")
      else qNorm
    val canonical = concat(scheme, lit("://"), userinfo, host,
      when(keepPort, concat(lit(":"), portNum.cast("string")))
        .otherwise(lit("")),
      normalizePath(percentNormalize(p.rawPath)),
      when(p.hasQuery && qFinal =!= "", concat(lit("?"), qFinal))
        .otherwise(lit("")))
    df.withColumn("url_canonical",
      when(scheme === "" || host === "", lit(null).cast("string"))
        .otherwise(canonical))
  }

  /** SURT urlkey (Sort-friendly URI Reordering Transform — the key form
    * the Common Crawl CDX index uses, composing with
    * [[graft.ops.WebIngest.cdxjEntries]]'s `urlkey` column): host labels
    * reversed and comma-joined, a leading `www`/`www2`-style label
    * stripped (the index's own canonicalizer strips `www\d*.` — a plain
    * `www.` strip would silently miss every `www2.` host on lookup),
    * non-default port kept after the reversed host (scheme-default
    * `:80`/`:443` stripped with the SAME predicate [[canonicalizeUrl]]
    * uses, so a non-canonicalized `http://example.com:80/` still yields
    * the index's urlkey instead of silently missing every lookup), `)`
    * then the
    * lowercased path (`/` when empty) and the alphabetically-sorted
    * query; fragments never survive. Shares [[urlParts]]'s dissection
    * with [[canonicalizeUrl]], so the two ops cannot disagree on the
    * same input — feed it a canonicalized URL and the pair produces the
    * dedup/join key a crawl index lookup needs. Zero shuffle, zero UDFs:
    * one codegen'd Column chain. Non-absolute URLs get null. Appends
    * `urlkey`.
    */
  def surtKey(df: DataFrame, urlCol: String): DataFrame = {
    val p = urlParts(col(urlCol)) // SURT drops userinfo; fragment dropped
    val hostNoWww = regexp_replace(p.host, "^www\\d*\\.", "")
    val rev = array_join(reverse(split(hostNoWww, "\\.")), ",")
    val path = lower(p.rawPath)
    val qSorted = array_join(array_sort(split(lower(p.query), "&", -1)), "&")
    // CaseWhen guards the cast (ANSI mode throws casting '' when no port)
    val portNum = when(p.portStr =!= "", p.portStr.cast("int"))
    val keepPort = portNum.isNotNull &&
      !(p.scheme === "http" && portNum === 80) &&
      !(p.scheme === "https" && portNum === 443)
    val key = concat(rev,
      when(keepPort, concat(lit(":"), portNum.cast("string")))
        .otherwise(lit("")),
      lit(")"),
      when(path === "", lit("/")).otherwise(path),
      when(p.query =!= "", concat(lit("?"), qSorted)).otherwise(lit("")))
    df.withColumn("urlkey",
      when(p.scheme === "" || hostNoWww === "", lit(null).cast("string"))
        .otherwise(key))
  }

  /** Domain blocklist gate: drop documents whose registered domain (per
    * [[urlSignals]]) is on the list. The blocklist broadcasts — at 100 TB
    * the corpus never shuffles; the join is a broadcast hash anti-join
    * riding the scan. Case-insensitive on the domain.
    */
  def filterBlockedDomains(df: DataFrame, urlCol: String,
      blocked: Seq[String]): DataFrame =
    filterBlockedDomains(df, urlCol, blocked, publicSuffixes = Nil)

  /** `publicSuffixes` non-empty switches the registered-domain extraction
    * to the suffix-aware [[urlSignals]] overload — required for correct
    * blocking under ccSLDs (with the approximation, blocking
    * `spam.co.uk` would block every `.co.uk` host or none at all).
    */
  def filterBlockedDomains(df: DataFrame, urlCol: String,
      blocked: Seq[String], publicSuffixes: Seq[String]): DataFrame = {
    val block = df.sparkSession.createDataFrame(
      blocked.map(d => Tuple1(d.toLowerCase)))
      .toDF("url_domain")
    val sig =
      if (publicSuffixes.isEmpty) urlSignals(df, urlCol)
      else urlSignals(df, urlCol, publicSuffixes)
    sig.join(broadcast(block), Seq("url_domain"), "left_anti")
      .select(df.columns.map(col).toIndexedSeq: _*)
  }
}
