package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines.
  *
  * All hashing is md5-derived so results are reproducible across engines
  * (the DuckDB oracle computes the same buckets). Every operator is
  * shuffle-based — no driver-side state — and the candidate-generation
  * steps (LSH banding, blocking) are designed so the pairwise work never
  * becomes O(N²) over the full corpus at 100 TB.
  *
  * ==The corpus-scale entry point is [[dedupCorpus]]==
  *
  * When near-duplicate groups are dense, the PAIR LIST itself is quadratic
  * in group size — enumerating it is the wrong operator shape at 100 TB no
  * matter how well candidates are pruned (measured: the exact pair
  * operators died or grew 150× at the 100× bench scale, SCALE.md §12).
  * What a corpus-scale dedup actually materializes is per-document CLUSTER
  * MEMBERSHIP, which is linear in documents. [[dedupCorpus]] composes
  * capped LSH banding (cap auto-derived from a bucket-size sketch via
  * [[dyadicSizeCap]]) → [[resolveClusters]] → per-doc keep/drop verdicts in
  * one call. The uncapped pair operators ([[minhashCandidates]],
  * [[jaccardPairs]] with `None` caps) remain the exact evaluation surface:
  * use them to price the caps with [[pairRecall]], not to run the corpus.
  */
object Dedup {

  /** Default MinHash banding dials, named so [[dedupState]]'s signature
    * and the sig-store sidecar tag ([[bandingParamsTag]]) share ONE
    * definition — a default changed in only one place would otherwise
    * pass the staleness check against a store built under the old dials
    * and silently find nothing in the band join.
    */
  val DefaultNumHashes = 12
  val DefaultRowsPerBand = 3
  val DefaultShingleLen = 8

  /** Default 64-bit signature-space banding dials (multi-index Hamming),
    * under the same one-definition rule: [[hammingDedupCorpus]], the
    * curation pipelines and the streaming image/audio corpus flags must
    * band under identical dials or the stream's Bloom filter and the
    * batch corpus silently key on different band spaces.
    */
  val DefaultSigBits = 64
  val DefaultSigBands = 4
  val DefaultSigMaxHamming = 8

  /** Canonical sidecar tag for a persisted sig-store's banding params. */
  def bandingParamsTag(numHashes: Int = DefaultNumHashes,
      rowsPerBand: Int = DefaultRowsPerBand,
      shingleLen: Int = DefaultShingleLen): String =
    s"numHashes=$numHashes,rowsPerBand=$rowsPerBand,shingleLen=$shingleLen"

  /** A deterministic 60-bit hash from md5 (60 bits keeps the value inside a
    * signed 64-bit range in both Spark and DuckDB).
    */
  def h60(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"s$seed:"), c)), 1, 15), 16, 10).cast("long")

  /** Exact row dedup with HASH ROUTING — the shuffle-lean strategy for
    * wide rows with a low-to-moderate duplicate rate: instead of
    * shuffling every full row through one global `dropDuplicates` (the
    * named single-box ceiling on the wide-mapping benches: ~100 GB of
    * row bytes through the exchange at the 100× scale), shuffle only an
    * 8-byte xxhash64 of the key columns to find COLLIDING hashes, then
    * route: rows whose hash is globally unique pass through with NO row
    * shuffle (broadcast anti-join), and only the colliding subset —
    * true duplicates plus the odd hash collision — pays the exact
    * `dropDuplicates`. Collisions only ever ROUTE rows to the exact
    * path, never merge them, so the result is exactly `dropDuplicates
    * (cols)` for any input.
    *
    * The trade, measured in SCALE.md §15.5: two extra scans of the
    * input lineage (cheap sequential CPU) buy a far smaller exchange —
    * 2.3–3.9× faster than plain `dropDuplicates` on 66M ~260-byte rows,
    * parity on narrow rows (d2b vs d2). The colliding-hash set is
    * materialized once (eager localCheckpoint — both routing joins and
    * the size probe share it) and its COUNT decides the join hint:
    * under `maxBroadcastKeys` it is explicitly broadcast, which is what
    * saves the big side's exchange (AQE's runtime BHJ conversion still
    * pays the map-side shuffle write — measured: the win disappears
    * without the hint); over the cap — a duplicate-dominated input like
    * the reference's 75%-duplicates axis — the joins fall back to
    * shuffles instead of OOMing the driver, landing near plain-dedup
    * cost.
    */
  def dedupHashRouted(df: DataFrame, cols: Seq[String],
      maxBroadcastKeys: Long = 10000000L): DataFrame = {
    require(cols.nonEmpty, "need at least one key column")
    // three passes over the input lineage: like any multi-scan plan, the
    // result is only exact when the lineage is DETERMINISTIC (a row whose
    // key changes between scans could land in neither or both branches) —
    // rand()/uuid-derived keys belong with plain dropDuplicates
    require(!df.columns.contains("__h"),
      "input already has a __h column — rename it before hash-routed dedup")
    val withH = df.withColumn("__h", xxhash64(cols.map(col): _*))
    val dupH = withH.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1).select(col("__h"))
      .localCheckpoint(true)
    val dupSide = if (dupH.count() <= maxBroadcastKeys) broadcast(dupH) else dupH
    val uniques = withH.join(dupSide, Seq("__h"), "left_anti")
    val dups = withH.join(dupSide, Seq("__h"), "left_semi")
      .dropDuplicates(cols)
    uniques.unionByName(dups).drop("__h")
  }

  /** Exact dedup: one representative row (min id) per identical value.
    * Spark plan: partial hash-agg → shuffle on the hash → final agg.
    */
  def exact(df: DataFrame, valueCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(valueCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Character shingles of length `k` as an array column (lowercased,
    * distinct, first-occurrence order). One imperative pass — the
    * declarative `transform(sequence(...), i -> substr(lower(c), i, k))`
    * re-evaluates the inlined `lower(c)` once PER ELEMENT (interpreted
    * HOFs get no CSE), turning an O(len) walk into O(len²) per row
    * (SCALE.md §14.8).
    */
  def shingles(c: Column, k: Int): Column = {
    val kk = k
    val f = udf((s: String) =>
      if (s == null) null
      else {
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(s).toLowerCase
        val n = math.max(u.numChars - (kk - 1), 1)
        (1 to n).map(i => u.substringSQL(i, kk).toString).distinct
      })
    f(c)
  }

  /** Modulus for the affine minhash family (2^31 - 1, prime): products of
    * two <2^31 operands stay inside a signed 64-bit long in both engines.
    */
  val MinhashP = 2147483647L

  /** MinHash signatures: `numHashes` hash functions from the affine family
    * h_i(x) = (a_i * h(x) + b_i) mod P over ONE md5-derived base hash per
    * shingle — 12× fewer md5 calls than seeding md5 per function (the md5 is
    * the hot-path cost at scale). The whole signature is computed PER ROW
    * with array expressions (no explode, no groupBy): the first shuffle in
    * the LSH pipeline is the band-bucket join, so signature computation
    * scales as a narrow map over the corpus. Returns (id, band, sig) rows —
    * banding groups `rowsPerBand` consecutive hashes so near-duplicates
    * collide in ≥1 band.
    */
  def minhashBands(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand, shingleLen: Int = DefaultShingleLen): DataFrame = {
    // explode + hash-aggregate keeps the whole hot path (md5, affine
    // permutations, running minima) inside whole-stage codegen; a
    // higher-order `aggregate` over the shingle array measured ~2× slower
    // (interpreted lambda, per-element struct allocation). Shingles come
    // from sequence+substr (no array materialization), without dedup — the
    // min-aggregate is insensitive to duplicate shingles. The groupBy
    // shuffle carries only `numHashes` longs per doc (map-side partial min).
    val sh = df.select(col(idCol).as("id"), lower(col(textCol)).as("__t"))
      .select(col("id"), col("__t"),
        explode(sequence(lit(1),
          greatest(length(col("__t")) - (shingleLen - 1), lit(1)))).as("__i"))
      .select(col("id"),
        pmod(h60(col("__t").substr(col("__i"), lit(shingleLen)), 0), lit(MinhashP)).as("h"))
    val mhCols = (0 until numHashes).map { i =>
      min(pmod(col("h") * (2 * i + 1) + (101 * i + 17), lit(MinhashP))).as(s"mh$i")
    }
    val minhashes = sh.groupBy(col("id")).agg(mhCols.head, mhCols.tail: _*)
    val numBands = numHashes / rowsPerBand
    // band signatures are materialized in a projection BELOW the explode —
    // md5/concat inside a Generate's generator is outside codegen method
    // splitting and CSE (the same codegen-shape rule as the RML single
    // pass, SCALE.md §8)
    val sigCols = (0 until numBands).map { b =>
      md5(concat_ws("_", (0 until rowsPerBand)
        .map(r => col(s"mh${b * rowsPerBand + r}").cast("string")): _*).cast("binary")).as(s"__sig$b")
    }
    val withSigs = minhashes.select(col("id") +: sigCols: _*)
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b).as("band"), col(s"__sig$b").as("sig"))
    }
    withSigs.select(col("id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Per-row (stateless) MinHash band signatures — value-identical to
    * [[minhashBands]]'s `sig` column (pinned in DedupCapSpec), but computed
    * entirely inside one row so the expression is legal in a streaming
    * micro-batch plan with no aggregation state. Null text yields null
    * signatures (callers treat that as "flags nothing").
    *
    * The kernel is an imperative UDF, not higher-order Column lambdas: the
    * lambda form re-evaluated the whole shingle-hash pass once per hash
    * function (interpreted `transform` gets no CSE — measured 3 k rows/s
    * in the stream bench), and even with the pass bound once it ran ~6 k
    * rows/s. One MessageDigest walk over the shingles does the same math
    * at UDF cost only (~100× — `near_corpus_flag`, SCALE.md §17.6).
    */
  def bandSignaturesCol(text: Column, numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand,
      shingleLen: Int = DefaultShingleLen): Column = {
    val (nh, rpb, sl) = (numHashes, rowsPerBand, shingleLen)
    udf((s: String) => bandSignaturesJvm(s, nh, rpb, sl)).apply(text)
  }

  /** Imperative twin of the h60 → affine-min → band-md5 chain. Uses
    * UTF8String lowercase/substring so unicode semantics match the Column
    * expressions exactly (Java String ops differ on surrogate pairs).
    */
  private[graft] def bandSignaturesJvm(text: String, numHashes: Int,
      rowsPerBand: Int, shingleLen: Int): Array[String] = {
    if (text == null) return null
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(text).toLowerCase
    val nSh = math.max(u.numChars() - (shingleLen - 1), 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 1
    while (i <= nSh) {
      // h60: long value of the first 15 hex chars (60 bits) of the seeded md5
      val d = md.digest(("s0:" + u.substringSQL(i, shingleLen).toString).getBytes(utf8))
      md.reset()
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      h = ((h << 4) | ((d(7) & 0xf0L) >>> 4)) % MinhashP
      var k = 0
      while (k < numHashes) {
        val v = (h * (2 * k + 1) + (101 * k + 17)) % MinhashP
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    val numBands = numHashes / rowsPerBand
    val out = new Array[String](numBands)
    var bnd = 0
    while (bnd < numBands) {
      val sb = new java.lang.StringBuilder
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append('_')
        sb.append(mins(bnd * rowsPerBand + r))
        r += 1
      }
      val dig = md.digest(sb.toString.getBytes(utf8))
      md.reset()
      val hex = new java.lang.StringBuilder(32)
      dig.foreach { x =>
        hex.append(Character.forDigit((x >> 4) & 0xf, 16))
        hex.append(Character.forDigit(x & 0xf, 16))
      }
      out(bnd) = hex.toString
      bnd += 1
    }
    out
  }

  /** MinHash-LSH candidate pairs: ids sharing a band signature. The
    * band-signature shuffle is the only wide operation; pair generation is
    * per-bucket, so skew is bounded by bucket size, not corpus size.
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand, shingleLen: Int = DefaultShingleLen): DataFrame =
    minhashCandidates(df, textCol, idCol, numHashes, rowsPerBand, shingleLen,
      maxBucketSize = None)

  /** `maxBucketSize`: a band bucket of b docs emits b²/2 pairs, so one
    * giant bucket (a signature shared by thousands of documents — measured
    * at the 100× bench scale, 150× runtime growth) dominates the join. The
    * standard production dial skips buckets above the cap: a bucket that
    * big means the band is not discriminative for those docs, and the
    * pairs it would emit are overwhelmingly false candidates. Pairs whose
    * EVERY shared band is oversized are missed — measure with
    * [[pairRecall]]. `None` (default, oracle-checked) keeps all buckets —
    * the exact evaluation surface; corpus-scale runs go through
    * [[dedupCorpus]], which auto-derives the cap.
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, rowsPerBand: Int, shingleLen: Int,
      maxBucketSize: Option[Long]): DataFrame =
    candidatesFromBands(
      minhashBands(df, textCol, idCol, numHashes, rowsPerBand, shingleLen),
      maxBucketSize)

  /** Band-bucket self-join over a precomputed `(id, band, sig)` frame; with
    * a cap, oversized buckets are dropped BEFORE the self-join fan-out
    * (bucket sizes are a partial-agg count on the band join key).
    */
  private def candidatesFromBands(allBands: DataFrame,
      maxBucketSize: Option[Long]): DataFrame = {
    val bands = maxBucketSize match {
      case Some(cap) =>
        val sizes = allBands.groupBy(col("band"), col("sig"))
          .agg(count(lit(1)).as("__bsz"))
        allBands.join(sizes, Seq("band", "sig")).where(col("__bsz") <= cap)
          .drop("__bsz")
      case None => allBands
    }
    // merge hint: same Generate-stats hazard as [[hammingPairs]]' probe
    // join — band rows descend from a posexplode whose fan-out Catalyst
    // does not model, so a cached upstream makes both sides estimate
    // small and a statically-planned broadcast of a corpus-scale side
    // can hit the 8 GiB hard cap. Candidate self-joins are shuffle-shaped
    // by construction; pin the plan.
    val a = bands.as("a").hint("merge"); val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Largest power-of-two cap `c` such that the pair volume admitted by
    * groups of size ≤ c — Σ b² over those groups — stays within `budget`,
    * floored at 16 so genuinely small groups always survive. This is the
    * sketch that turns the bounded-dedup dials ([[minhashCandidates]]'s
    * `maxBucketSize`, [[jaccardPairs]]'s `maxPrefixDf`) into auto-derived
    * values: a band bucket (or prefix token) of b docs emits ~b² candidate
    * pairs, so capping cumulative b² at `budget` (callers pass
    * pairs-per-doc × corpus size) bounds TOTAL candidate volume linearly in
    * the corpus. One tiny aggregation (≤31 dyadic size classes collected to
    * the driver — bounded by construction, not by data); deterministic
    * integer arithmetic, so an external engine derives the identical cap.
    */
  private[graft] def dyadicSizeCap(sizes: DataFrame, sizeCol: String,
      budget: Long): Long =
    dyadicSizeCapWithStats(sizes, sizeCol, budget)._1

  /** [[dyadicSizeCap]] plus the bind statistics the cap decision already
    * paid for: because the cap is a power of two and the histogram classes
    * are dyadic, `b > cap ⟺ dyadicClass(b) > cap`, so the EXACT number of
    * over-cap buckets and the band rows inside them fall out of the same
    * ≤63-row driver histogram — no second scan, no uncapped twin run.
    * Returns (cap, totalBuckets, cappedBuckets, totalRows, cappedRows).
    */
  private[graft] def dyadicSizeCapWithStats(sizes: DataFrame, sizeCol: String,
      budget: Long): (Long, Long, Long, Long, Long) =
    dyadicSizeCapWithStatsFrom(sizes, sizeCol, _ => budget)

  /** [[dyadicSizeCapWithStats]] with the budget derived FROM the
    * histogram's own total row count — r19 job fusion (VERDICT r18 #3):
    * callers whose budget is pairs-per-row × row count previously paid a
    * separate `count()` action over the (persisted but still re-read)
    * band frame just to size the budget, then ran this histogram as a
    * second action. The histogram already sums exact per-class row
    * counts, so `budgetOf(totalRows)` folds both into ONE job. Sums
    * aggregate as decimal(38,0) — exact like the oracle's hugeint
    * `sum(b*b)` — so no per-row budget clamp is needed before the total
    * is known; the 3037000499 (= ⌊√Long.MaxValue⌋) factor clamp stays,
    * and cannot change the cap decision (a clamped weight of ~9.2e18 is
    * over any realistic budget on its own, exactly as an unclamped one).
    */
  private[graft] def dyadicSizeCapWithStatsFrom(sizes: DataFrame,
      sizeCol: String, budgetOf: Long => Long)
      : (Long, Long, Long, Long, Long) = {
    val sz = col(sizeCol)
    val weight = (least(sz, lit(3037000499L)) *
      least(sz, lit(3037000499L))).cast("decimal(38,0)")
    val hist = sizes.select(minPowClass(sz).as("cap"),
        weight.as("w"), sz.cast("decimal(38,0)").as("b"))
      .groupBy(col("cap"))
      .agg(sum(col("w")).as("w"), count(lit(1)).as("n"), sum(col("b")).as("rows"))
      .collect().map { r =>
        // a null decimal sum means 38-digit overflow (astronomical row
        // counts) — saturate, the class is over any realistic budget
        def big(i: Int): BigInt =
          if (r.isNullAt(i)) BigInt(Long.MaxValue) * Long.MaxValue
          else BigInt(r.getDecimal(i).toBigInteger)
        (r.getLong(0), big(1), r.getLong(2), big(3))
      }.sortBy(_._1)
    def lng(b: BigInt): Long =
      if (b > Long.MaxValue) Long.MaxValue else b.toLong
    val totalRows = lng(hist.map(_._4).sum)
    val budget = budgetOf(totalRows)
    var cum = BigInt(0)
    var best = 0L
    hist.foreach { case (cap, w, _, _) =>
      cum += w
      if (cum <= budget) best = cap
    }
    val cap = math.max(best, 16L)
    val over = hist.filter(_._1 > cap)
    (cap, hist.map(_._3).sum, over.map(_._3).sum,
      totalRows, lng(over.map(_._4).sum))
  }

  /** Generalized form: dyadic classes over `classBy`, admitted volume
    * measured by `weight` (e.g. prefix-df² classed by global df for the
    * Jaccard cap, where only PREFIX occurrences generate candidates).
    */
  /** Smallest power of two ≥ `classBy`, as a when-chain (first match
    * wins) — the same dyadic class the oracle computes as
    * `min(p) WHERE p >= b`. The otherwise-arm catches classes above 2^62
    * (a degenerate bucket — e.g. every empty-text doc sharing md5("")
    * band sigs — at billions-of-docs scale); without it those rows class
    * as NULL and the driver-side getLong would NPE.
    */
  private def minPowClass(classBy: Column): Column =
    (1 to 62).foldLeft(when(classBy <= 1L, 1L)) { (acc, k) =>
      acc.when(classBy <= (1L << k), 1L << k)
    }.otherwise(Long.MaxValue)

  private[graft] def dyadicCap(frame: DataFrame, classBy: Column,
      weight: Column, budget: Long): Long = {
    val minPow = minPowClass(classBy)
    // per-row weight clamp at budget+1: any single row already over budget
    // decides the cap by itself, so clamping never changes the <= budget
    // comparison below but keeps b*b-style weights from overflowing long
    // (b ≳ 3e9 squares past Long.MaxValue). Driver-side cum runs in BigInt
    // (≤ 63 classes) so even a clamped sum cannot wrap.
    val overBudget = if (budget == Long.MaxValue) Long.MaxValue else budget + 1L
    val hist = frame.select(minPow.as("cap"),
        least(weight, lit(overBudget)).as("w"))
      .groupBy(col("cap")).agg(sum(col("w")).as("w"))
      .collect().map { r =>
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }.sortBy(_._1)
    var cum = BigInt(0)
    var best = 0L
    hist.foreach { case (cap, w) =>
      // a negative per-class sum means the clamped sum still wrapped
      // (astronomical row counts) — saturate, the class is over budget
      cum += (if (w < 0) BigInt(Long.MaxValue) else BigInt(w))
      if (cum <= budget) best = cap
    }
    math.max(best, 16L)
  }

  /** How hard an AUTO-derived bucket cap binds, emitted by the
    * corpus-scale dedup entry points ([[dedupCorpus]],
    * [[hammingDedupCorpus]]) every time they derive a cap — the §17.2
    * uniform-bind regime (2.6% keep-verdict flips at sf10) is otherwise
    * invisible without running an uncapped twin. `cappedBuckets` band
    * buckets holding `cappedBandRows` of `totalBandRows` band rows are
    * over the cap and generate NO candidate pairs; pairs whose every
    * shared band is capped are missed (miss direction: splits only —
    * capped runs never merge clusters the exact run would keep apart).
    * Zero capped buckets ⇒ the capped run is EXACTLY the uncapped join.
    */
  final case class CapBindReport(op: String, cap: Long,
      totalBuckets: Long, cappedBuckets: Long,
      totalBandRows: Long, cappedBandRows: Long) {
    /** True when recall is no longer unconditionally exact. */
    def binds: Boolean = cappedBuckets > 0L
    def cappedBandRowShare: Double =
      if (totalBandRows == 0L) 0.0 else cappedBandRows.toDouble / totalBandRows
  }

  /** Default [[CapBindReport]] handler: self-announce a binding cap as a
    * WARN on the `graft.Dedup` logger (silent when the cap is slack — the
    * common case, where capped output is exactly the uncapped join).
    * Deployments wanting metrics instead pass their own handler (push to
    * accumulators, a metrics registry, or collect for a recall audit with
    * [[pairRecall]]).
    */
  val LogCapBind: CapBindReport => Unit = r =>
    if (r.binds)
      org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup").warn(
        f"${r.op}: auto-derived bucket cap ${r.cap} BINDS — " +
          f"${r.cappedBuckets} of ${r.totalBuckets} band buckets " +
          f"(${r.cappedBandRows} of ${r.totalBandRows} band rows, " +
          f"${r.cappedBandRowShare * 100}%.2f%%) are over the cap and " +
          "generate no candidate pairs; near-dup recall is no longer " +
          "unconditionally exact (SCALE.md §17.2: miss direction is " +
          "cluster SPLITS, never merges). Price it with pairRecall on a " +
          "sample, raise pairBudget, or pass maxBucketSize = " +
          "Some(Long.MaxValue) for the exact join.")

  /** THE corpus-scale dedup entry point: capped MinHash-LSH candidates →
    * [[resolveClusters]] (large-star/small-star connected components) →
    * one keep/drop verdict per document. Returns `(id, cluster, is_kept)`
    * for EVERY input document — cluster is the component minimum (its own
    * id for singletons), `is_kept` marks the representative — so the
    * output is linear in the corpus even when near-duplicate groups are
    * dense and the pair list would be quadratic (the reason the exact pair
    * operators are the evaluation surface, not the corpus path —
    * SCALE.md §12).
    *
    * Exact duplicates are collapsed FIRST ([[textGroups]]): banding and
    * the cap run over one representative per distinct text, and members
    * rejoin their component through rep→member edges. This is
    * semantics-preserving when no bucket is capped (identical texts share
    * every band signature, so banding was already certain to cluster
    * them — pigeonhole), and strictly recall-IMPROVING when one is: a
    * zipf-shaped corpus (the boilerplate-page law; SCALE.md §16) puts
    * ~11% of all documents in ONE identical-text cluster whose band
    * buckets blow past any sane cap — uncollapsed, the capped join
    * silently MISSES the single biggest duplicate cluster in the corpus;
    * collapsed, that cluster costs one hash-agg and its buckets shrink
    * to size 1.
    *
    * `maxBucketSize = None` (default) auto-derives the cap from the
    * bucket-size sketch ([[dyadicSizeCap]]) with a `pairBudget`-pairs-per-
    * distinct-text budget: candidate volume stays ≤ pairBudget × #reps by
    * construction, so the band self-join cannot blow up on
    * non-discriminative buckets. Pairs whose every shared band is
    * oversized are missed — price the recall with [[pairRecall]] against
    * the exact operators at a small SF. The derivation is deterministic
    * (dyadic integer classes), so external engines reproduce the cap, the
    * capped pair set, and the clustering exactly (the DuckDB oracle
    * replays collapse, sketch, capped join, and components).
    */
  def dedupCorpus(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand, shingleLen: Int = DefaultShingleLen,
      maxBucketSize: Option[Long] = None, pairBudget: Long = 64,
      onCapBind: CapBindReport => Unit = LogCapBind): DataFrame = {
    // exact-duplicate collapse: reps carry the banding, members rejoin via
    // one edge each. The map shuffles only (id, 32-char hash) — text never
    // reshuffles — and banding below stays the narrow (id, minhash) shape.
    val repMap = textGroups(df, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bands feed the size sketch AND the self-join: one materialization.
    // Banding is computed for every doc (linear CPU, no text shuffle) and
    // filtered to reps after the per-doc agg — semi-joining df on rep ids
    // first would instead reshuffle the full text payload.
    val bands = minhashBands(df, textCol, idCol, numHashes, rowsPerBand, shingleLen)
      .join(repMap.where(col("id") === col("rep")).select(col("id")),
        Seq("id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cap = maxBucketSize.getOrElse {
      val sizes = bands.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("b"))
      // rep count from the histogram's own total band rows (exactly
      // numBands per rep) — r19: the separate bands.count() action this
      // used to pay is fused into the histogram job (VERDICT r18 #3)
      val numBands = numHashes / rowsPerBand
      val (c, tb, cb, tr, cr) = dyadicSizeCapWithStatsFrom(sizes, "b",
        totalBandRows => pairBudget * (totalBandRows / numBands))
      onCapBind(CapBindReport("dedupCorpus", c, tb, cb, tr, cr))
      c
    }
    val expansion = repMap.where(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    val pairs = candidatesFromBands(bands, Some(cap)).unionByName(expansion)
    // resolveClusters eagerly materializes its edge rounds (localCheckpoint
    // per round), so both caches can be released right after it returns
    val clusters = resolveClusters(pairs)
    bands.unpersist(); repMap.unpersist()
    df.select(col(idCol).as("id"))
      .join(clusters.withColumnRenamed("cluster", "__c"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__c"), col("id")).as("cluster"),
        (coalesce(col("__c"), col("id")) === col("id")).as("is_kept"))
  }

  /** Exact-duplicate collapse map: `(id, rep)` with `rep` = the smallest
    * id among rows sharing the same text — the group key is a
    * null-discriminating md5 (null ≠ '' — the [[graft.ops.Curation.corpusDiff]]
    * convention), so the exchange carries 32-char hashes, never the text
    * itself. All-null texts form one group: Spark banding already gives
    * every null-text doc the same signatures (null minhashes concat-ws to
    * the md5('') sig), so collapsing them is consistent with the band
    * graph they would have produced.
    */
  private[graft] def textGroups(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val th = df.select(col(idCol).as("id"), contentHash(col(textCol)).as("__th"))
    th.join(th.groupBy(col("__th")).agg(min(col("id")).as("rep")), "__th")
      .select(col("id"), col("rep"))
  }

  /** Null-discriminating content hash — the one text identity every
    * exact-collapse and diff surface shares ([[textGroups]],
    * [[dedupState]], [[graft.ops.Curation.corpusDiff]]): null ≠ '' and
    * null never propagates to a null hash.
    */
  private[graft] def contentHash(c: Column): Column =
    md5(concat(c.isNull.cast("string"), coalesce(c, lit(""))))

  /** Persistent dedup state for a standing corpus — the signature-store
    * shape [[graft.ops.Curation.incrementalRebuildFromState]] ingests
    * against: `docs` = (id, th) one row per document, `sigs` =
    * (th, band, sig) one row per DISTINCT text per band. Signatures are
    * keyed by the content hash, not a representative id, so later
    * removals can orphan a text's min-id representative without
    * invalidating anything — the signature belongs to the text. Build
    * cost: one [[contentHash]] pass plus [[minhashBands]] for one
    * representative per distinct text (the collapse economics of
    * [[dedupCorpus]]). The banding parameters are baked into the sig
    * values — ingest with the SAME numHashes/rowsPerBand/shingleLen or
    * the band join silently finds nothing.
    */
  def dedupState(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand,
      shingleLen: Int = DefaultShingleLen): (DataFrame, DataFrame) = {
    val docs = df.select(col(idCol).as("id"), contentHash(col(textCol)).as("th"))
    val reps = docs.groupBy(col("th")).agg(min(col("id")).as("id"))
    val sigs = minhashBands(df, textCol, idCol, numHashes, rowsPerBand, shingleLen)
      .join(reps.select(col("id")), Seq("id"), "left_semi")
      .join(docs, Seq("id"))
      .select(col("th"), col("band"), col("sig"))
    (docs, sigs)
  }

  /** [[dedupCorpus]] with explicit representative selection: within each
    * cluster the kept member is the one with the HIGHEST `priorityCol`
    * (ties broken by smallest id) instead of the smallest id — the
    * production choice when near-duplicates differ in quality (keep the
    * longest / highest-scoring / most recent copy, drop the rest). The
    * cluster LABEL stays the component-min id, so labels are stable
    * across priority functions; only `is_kept` moves. One extra
    * `max_by` aggregation keyed on the cluster — same shuffle envelope,
    * deterministic because the ordering struct ends in the unique id.
    */
  def dedupCorpusBy(df: DataFrame, textCol: String, idCol: String,
      priorityCol: String,
      numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand, shingleLen: Int = DefaultShingleLen,
      maxBucketSize: Option[Long] = None, pairBudget: Long = 64,
      onCapBind: CapBindReport => Unit = LogCapBind): DataFrame = {
    val base = dedupCorpus(df, textCol, idCol,
      numHashes, rowsPerBand, shingleLen, maxBucketSize, pairBudget, onCapBind)
    // null priorities rank LOWEST (not excluded): max_by skips rows whose
    // ordering value is null, so an all-null cluster would otherwise lose
    // its representative and break the one-kept-per-cluster invariant
    val pri = df.select(col(idCol).as("id"),
      coalesce(col(priorityCol).cast("double"),
        lit(Double.NegativeInfinity)).as("__pr"))
    val members = base.select(col("id"), col("cluster")).join(pri, "id")
    // min_by over (-priority, id) keeps the id in its NATIVE type: a
    // (-id).cast("double") tie-break would collapse distinct longs above
    // 2^53 (snowflake-style 63-bit ids) and null out non-numeric ids.
    // Struct ordering is exact per field, so highest __pr wins and ties
    // break by smallest id — byte-for-byte the oracle's ORDER BY pr DESC,
    // id ASC.
    val reps = members.groupBy(col("cluster"))
      .agg(min_by(col("id"),
        struct((-col("__pr")).as("np"), col("id").as("i"))).as("__rep"))
    members.join(reps, "cluster")
      .select(col("id"), col("cluster"), (col("id") === col("__rep")).as("is_kept"))
  }

  /** [[jaccardPairs]] with the `maxPrefixDf` cap auto-derived from a
    * prefix-df sketch: candidate volume flows only through PREFIX
    * occurrences, so the admitted volume of a global-df class is
    * Σ (prefix-df)² over its tokens — [[dyadicCap]] picks the largest
    * df cap whose cumulative admitted volume stays within `pairBudget`
    * candidates per document (candidates here are pre-verification
    * hash-join rows, most of which the Jaccard check discards — hence a
    * larger default budget than [[dedupCorpus]]'s, whose buckets are
    * already similarity-banded). The capped result is deterministic and
    * oracle-expressible — a pair survives iff it shares at least one
    * under-cap prefix token AND verifies at `threshold`; capped (high-df)
    * tokens sort AFTER every under-cap token in the rarest-first prefix
    * order, so the PPJoin positional filter stays exact for the surviving
    * pairs. Measured on the adversarially-dense bench fixture (74 true
    * pairs/doc): cap lands at 64, retaining 32% of exact pairs — the same
    * trade SCALE.md §12 priced by hand; on real corpora rare-token dfs are
    * small and the cap touches only boilerplate.
    */
  def jaccardPairsCapped(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, threshold: Double, pairBudget: Long = 512,
      knownDocCount: Option[Long] = None): DataFrame = {
    val toks = tokenFrame(df, textCol, idCol, blockCol)
    // dfreq persisted: consumed by the sorted-doc join AND (post-cap) the
    // heavy-token anti-join build side — unpersisted it would re-run the
    // full tokenize + groupBy lineage for the anti-join
    val dfreq = blockDocFreq(toks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE materialization of the input lineage, shared by the doc count,
    // the prefix sketch, and the join core (r6 ran tokenize+dfreq+sort
    // three times plus a separate df.count() pass)
    val sortedRaw = sortedDocFrame(toks, dfreq)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // budget is pairs per TOKEN-BEARING document (empty docs generate no
    // candidates), counted off the frame the count job itself materializes
    // into cache — no separate pass over the input; callers that already
    // know N skip even that job via knownDocCount
    val n = knownDocCount.getOrElse(sortedRaw.count())
    val prefixed = sortedRaw.select(col("blk"), explode(slice(col("sorted"), lit(1),
      (size(col("sorted")) - ceil(size(col("sorted")) * threshold) + 1).cast("int"))).as("s"))
    val pdf = prefixed.select(col("blk"), col("s.df").as("df"), col("s.tok").as("tok"))
      .groupBy(col("blk"), col("tok"))
      .agg(any_value(col("df")).as("df"), count(lit(1)).as("pdf"))
    // prefix-df clamped before squaring (see dyadicSizeCap) — wrap-safe,
    // decision-identical to the oracle's unbounded HUGEINT sum for any cap
    // at or under budget
    val pclamp = least(col("pdf"), lit(3037000499L))
    val cap = dyadicCap(pdf, col("df"), pclamp * pclamp, pairBudget * n)
    // core output is localCheckpoint'ed, so caches release immediately
    val out = jaccardFromSorted(sortedRaw, dfreq, threshold, Some(cap))
    dfreq.unpersist(); sortedRaw.unpersist()
    out
  }

  /** Incremental MinHash dedup: candidate pairs where at least one side is
    * from the NEW batch — the production shape for a growing corpus:
    * corpus×corpus pairs were resolved when those documents arrived and
    * are not regenerated; each ingest pays O(batch) signature work plus
    * the band join against the stored corpus signatures. (Here the corpus
    * side's signatures are recomputed from text; in a deployed pipeline
    * they would be read back from the signature store — the band-join
    * shape is identical.) Returns (id_a, id_b, b_is_new) with id_a < id_b.
    *
    * This is the RAW per-document pair surface — uncapped and
    * uncollapsed, priced in SCALE.md as a by-construction grower. The
    * verdict path ([[graft.ops.Curation.incrementalRebuild]]) does not
    * use it: it runs the component-equivalent collapsed graph
    * ([[textGroups]] + rep-level band join), which survives zipf-shaped
    * duplicate clusters this enumeration cannot (SCALE.md §16).
    */
  def minhashIncrementalCandidates(corpus: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand,
      shingleLen: Int = DefaultShingleLen): DataFrame = {
    val cb = minhashBands(corpus, textCol, idCol, numHashes, rowsPerBand, shingleLen)
      .withColumn("is_new", lit(false))
    val bb = minhashBands(batch, textCol, idCol, numHashes, rowsPerBand, shingleLen)
      .withColumn("is_new", lit(true))
    val all = cb.unionByName(bb)
    // merge hint: see [[hammingPairs]] — explode-descended self-join,
    // broadcast misestimate hazard, shuffle-shaped at target scale
    all.as("a").hint("merge").join(all.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id") && (col("a.is_new") || col("b.is_new")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("b.is_new").as("b_is_new"))
      .distinct()
  }

  /** Fuzzy test-set decontamination: flag corpus documents whose MinHash
    * banding collides with ANY probe (benchmark) document — the
    * similarity-level analogue of `TextAnalysis.ngramContamination`'s
    * exact shared-n-gram check, catching paraphrased or trimmed leaks
    * that exact n-grams miss. Banding is recall-oriented by design
    * (P[flag] ≈ 1−(1−j^r)^b for true Jaccard j), the right bias for
    * decontamination; verify flagged docs with [[jaccardPairs]] when
    * precision matters. The probe set is a benchmark — small by
    * construction — so its distinct band signatures broadcast and the
    * corpus side never shuffles for the probe join (left-semi on the
    * band key). Returns `(id, is_contaminated)` for EVERY corpus row.
    */
  def fuzzyContamination(corpus: DataFrame, textCol: String, idCol: String,
      probes: DataFrame, probeTextCol: String, probeIdCol: String,
      numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand, shingleLen: Int = DefaultShingleLen): DataFrame = {
    val cb = minhashBands(corpus, textCol, idCol, numHashes, rowsPerBand, shingleLen)
    val pb = minhashBands(probes, probeTextCol, probeIdCol,
        numHashes, rowsPerBand, shingleLen)
      .select(col("band"), col("sig")).distinct()
    val hits = cb.join(broadcast(pb), Seq("band", "sig"), "left_semi")
      .select(col("id")).distinct()
    corpus.select(col(idCol).as("id"))
      .join(hits.withColumn("__hit", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__hit"), lit(false)).as("is_contaminated"))
  }

  /** SimHash: `bits`-bit signature; each token votes its hash bits up/down
    * (weight 1), the sign of each bit-sum becomes the signature bit.
    * Near-duplicates have small Hamming distance.
    *
    * `bits` ∈ {32, 64}. 64 is the corpus-scale default: the banding
    * dimensioning rule (SCALE.md §16.12 — band KEY SPACE must outrun
    * distinct signatures) makes 32-bit signatures saturate past ~10⁶
    * distinct documents at any band split that still gives exact recall,
    * while 64 bits at Hamming radius h gives 2^(64/(h+1))-key bands
    * (radius 3 → 16-bit bands → 65 536 keys/band). Bits 0–31 come from
    * [[h60]](tok, 9999) — byte-identical to the historical 32-bit
    * signature — and bits 32–63 from an independent seed, so the two
    * widths share one definition.
    *
    * Emits ONE ROW PER INPUT DOCUMENT: a doc whose text yields no tokens
    * (null/empty/punctuation-only) has no bit votes and gets a NULL
    * signature rather than silently vanishing — downstream corpus
    * verdicts ([[hammingDedupCorpus]]) turn nulls into singleton
    * verdicts, preserving the one-verdict-per-document contract. (Note:
    * a duplicated input id therefore produces duplicate sig rows, where
    * the pre-r9 groupBy collapsed them.)
    *
    * CHANGED r9: default `bits` 32 → 64 (callers relying on the default
    * get different signature VALUES — bits 0–31 are unchanged, bits
    * 32–63 are new) and the output contract moved from one-row-per-
    * distinct-id to one-row-per-input-row via the id-spine left join
    * above. All in-repo callers pin `bits` explicitly.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String, bits: Int = 64): DataFrame = {
    require(bits == 32 || bits == 64, s"bits must be 32 or 64, got $bits")
    val toks0 = df.select(col(idCol).as("id"),
      explode(tokenize(col(textCol))).as("tok"))
      .withColumn("h", h60(col("tok"), 9999))
    val toks = if (bits > 32) toks0.withColumn("h2", h60(col("tok"), 9998)) else toks0
    val bitSums = (0 until bits).map { j =>
      val bit = if (j < 32) shiftright(col("h"), j) else shiftright(col("h2"), j - 32)
      sum(when(bit.bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val sums = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    // bitwiseOR, not +: bit 63's weight is Long.MinValue and OR makes the
    // disjoint-bit assembly overflow-proof by construction
    val sig = (0 until bits).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    df.select(col(idCol).as("id"))
      .join(sums.select(col("id"), sig.as("simhash")), Seq("id"), "left")
  }

  /** SimHash near-duplicate pairs: split each `bits`-bit signature into
    * `bands` equal bit-bands and generate candidates from shared bands —
    * by pigeonhole, any pair with Hamming distance < `bands` shares at
    * least one intact band, so for `maxHamming < bands` recall is EXACT
    * (this is the signature-space analogue of MinHash banding, but with a
    * guarantee instead of a probability). Candidates get the exact
    * `bit_count(xor)` check. Shuffle is keyed on (band, band-bits) —
    * bounded buckets, never all-pairs. Returns (id_a, id_b, hamming).
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 64, bands: Int = 4, maxHamming: Int = 3): DataFrame =
    hammingPairs(simhash(df, textCol, idCol, bits), "id", "simhash",
      bits, bands, maxHamming)

  /** Hamming-banded near-duplicate pairs over ANY precomputed bit-signature
    * column (SimHash, perceptual image hashes, audio fingerprints): split
    * each `bits`-bit signature into `bands` equal bit-bands and generate
    * candidates from band-key matches. Recall is EXACT for ANY band count
    * by the generalized pigeonhole: a pair at Hamming distance ≤
    * `maxHamming` has some band at per-band distance ≤
    * r' = ⌊maxHamming/bands⌋ (if every band disagreed in ≥ r'+1 bits the
    * total would be ≥ bands·(r'+1) > maxHamming), so the probe side also
    * enumerates every band key within Hamming r' of its own — the
    * multi-index-hashing query expansion (Norouzi, Punjani & Fleet, "Fast
    * Search in Hamming Space with Multi-Index Hashing", CVPR 2012). For
    * `maxHamming < bands` r' = 0 and this degenerates to the classic
    * intact-band equi-join with no expansion.
    *
    * WHY fewer, wider bands (the §16.12 dimensioning rule): the band KEY
    * SPACE 2^(bits/bands) must outrun distinct signatures, or every band
    * bucket holds N/keys of the corpus and the "bounded" bucket join is
    * all-pairs in disguise. 16 4-bit bands at radius 8 give 16-key buckets
    * (the measured saturation cliff, SCALE.md §16.12); 4 16-bit bands at
    * the SAME radius give 65 536-key buckets at the cost of a 137-mask
    * probe ball — candidates shrink from ~N²/16 to ~N²·137/65 536.
    * Candidates get the exact `bit_count(xor)` check; returns
    * (id_a, id_b, hamming).
    */
  def hammingPairs(sigs: DataFrame, idCol: String, hashCol: String,
      bits: Int, bands: Int, maxHamming: Int): DataFrame =
    hammingPairs(sigs, idCol, hashCol, bits, bands, maxHamming, None)

  /** `maxBucketSize`: near-MISS mass can still concentrate on one band
    * value (distinct signatures that agree on a band without being
    * near-duplicates); buckets above the cap are dropped BEFORE the join
    * fan-out, bounding total candidates at cap × N × bands × ballSize —
    * linear in the corpus for fixed dials. The exact miss condition under
    * the cap: a qualifying band recovers a pair only if BOTH endpoints'
    * band rows survive — at per-band distance ≥ 1 the two endpoints hold
    * DIFFERENT keys in that band (the probe lands on the partner's key
    * only after the XOR mask), so the drop of either endpoint's bucket
    * loses that band. A pair is therefore missed as soon as every
    * qualifying band has either endpoint's key in an oversized bucket —
    * strictly more loss than an "every band's shared bucket is oversized"
    * reading would suggest. Price the realized recall with [[pairRecall]].
    * `None` keeps all buckets (the exact evaluation surface);
    * corpus-scale runs go through [[hammingDedupCorpus]], which
    * auto-derives the cap like the text path ([[dedupCorpus]]).
    */
  def hammingPairs(sigs: DataFrame, idCol: String, hashCol: String,
      bits: Int, bands: Int, maxHamming: Int,
      maxBucketSize: Option[Long]): DataFrame =
    hammingPairs(sigs, idCol, hashCol, bits, bands, maxHamming,
      maxBucketSize, knownDistinctSigs = None)

  /** Band-side rows (distinct sigs × bands) below which the candidate
    * join broadcasts the UN-expanded band side instead of pinning a
    * shuffle join. Rows, not bytes, because the row is fixed-width
    * (id, sig, key = 24 data bytes): 4 M rows ≈ 150–200 MB built — a
    * routine broadcast on a real cluster — and it replaces shuffling AND
    * sorting the probe side, which is ballSize× (137× at the 64/4/8
    * dials) LARGER than the band side. Measured (SCALE.md §17.2 post-fix
    * note): the unconditional merge pin cost uniform-sf10
    * dd_simhash_corpus +23% and mm_audio_cluster +42% vs the
    * stats-planned broadcast it replaced.
    */
  private[graft] val BroadcastBandRows = 4000000L

  /** `knownDistinctSigs`: a MEASURED distinct-signature count (from a
    * frame the caller already materialized — [[hammingDedupCorpus]]'s
    * persisted reps), never a Catalyst estimate. The join strategy is
    * decided from this ground truth: band side ≤ [[BroadcastBandRows]]
    * rows → explicit broadcast; above, or unknown (None) → shuffle pin.
    * Estimates can't make this call — the cached-stats hazard below is
    * exactly an estimate lying under explode fan-out.
    */
  private[graft] def hammingPairs(sigs: DataFrame, idCol: String, hashCol: String,
      bits: Int, bands: Int, maxHamming: Int,
      maxBucketSize: Option[Long], knownDistinctSigs: Option[Long]): DataFrame = {
    val base = sigs.select(col(idCol).as("id"), col(hashCol).as("sig"))
    // band keys come from the SAME expression the streaming corpus flags
    // use ([[hammingBandKeysCol]] — band index offset-encoded into one
    // long), so batch banding and streaming membership cannot drift
    val banded0 = base.select(col("id"), col("sig"),
      explode(hammingBandKeysCol(col("sig"), bits, bands)).as("key"))
    // oversized buckets drop BEFORE the probe-ball fan-out (sizes are a
    // partial-agg count on the join key), same shape as the text path's
    // candidatesFromBands
    val banded = maxBucketSize match {
      case Some(cap) =>
        val sizes = banded0.groupBy(col("key")).agg(count(lit(1)).as("__bsz"))
        banded0.join(sizes, Seq("key")).where(col("__bsz") <= cap).drop("__bsz")
      case None => banded0
    }
    val perBand = maxHamming / bands
    val probe = if (perBand == 0) banded else {
      // the band-offset encoding survives the XOR: key = bandIndex·2^bb +
      // value with value < 2^bb, and every mask is < 2^bb, so only the
      // value bits move — probes stay inside their own band's key range
      val masks = hammingBallMasks(bits / bands, perBand)
      banded.withColumn("__m", explode(array(masks.map(lit(_)): _*)))
        .withColumn("key", col("key").bitwiseXOR(col("__m"))).drop("__m")
    }
    // one-sided expansion suffices: for the pair (a, b) with a.id < b.id
    // and qualifying-band XOR delta (popcount ≤ r'), a's probe with
    // mask = delta lands exactly on b's un-expanded key.
    // Join strategy — NEVER left to Catalyst here: both sides descend
    // from explode()s, and Generate stats do not model the fan-out —
    // when the signature frame upstream is cached (hammingDedupCorpus
    // persists reps), its accurate small size propagates THROUGH the
    // explodes, the probe side (actually ballSize× larger) estimates
    // under the broadcast threshold, and the statically-planned
    // broadcast dies at Spark's hard 8 GiB cap (measured at 500 k
    // uniform docs, SCALE.md §17.2). With a MEASURED count the right
    // plan is decidable: broadcast the UN-expanded band side when it's
    // genuinely small (spares the probe side — ballSize× larger — a
    // shuffle and a sort), shuffle-pin otherwise or when no measurement
    // exists.
    val cond = col("a.key") === col("b.key") && col("a.id") < col("b.id")
    val joined =
      if (knownDistinctSigs.exists(n => n * bands <= BroadcastBandRows))
        probe.as("a").join(broadcast(banded.as("b")), cond)
      else probe.as("a").hint("merge").join(banded.as("b"), cond)
    joined
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** All `bandBits`-bit XOR masks with popcount ≤ radius — the per-band
    * Hamming ball the multi-index probe enumerates. Deterministic order;
    * size Σ_{k≤radius} C(bandBits, k), guarded so a mis-dialed call fails
    * loudly instead of exploding the probe side 10⁶×.
    */
  private[graft] def hammingBallMasks(bandBits: Int, radius: Int): Seq[Long] = {
    val ballSize = (0 to radius).map(k =>
      (0 until k).map(i => BigInt(bandBits - i)).product /
        (1 to math.max(k, 1)).map(BigInt(_)).product).sum
    require(ballSize <= 65536,
      s"per-band Hamming ball of $ballSize masks (bandBits=$bandBits, " +
        s"radius=$radius) would explode the probe side; use more bands " +
        "or a smaller radius")
    def go(pos: Int, left: Int, acc: Long): Seq[Long] =
      if (left == 0) Seq(acc)
      else if (pos >= bandBits) Seq.empty
      else go(pos + 1, left - 1, acc | (1L << pos)) ++ go(pos + 1, left, acc)
    (0 to radius).flatMap(k => go(0, k, 0L))
  }

  /** Corpus-scale near-dup verdicts over ANY 64-bit signature column
    * (perceptual image hashes, audio fingerprints, SimHash) — the
    * signature-space analogue of [[dedupCorpus]]: per-document
    * (id, cluster, is_kept), linear output however dense the duplicate
    * groups.
    *
    * The scale move: identical signatures collapse FIRST (one hash-agg,
    * min-id representative per distinct signature) and only distinct
    * signatures enter [[hammingPairs]] banding — so a million byte-identical
    * re-posts of one image cost one aggregation row, not a 10¹²-pair band
    * bucket. Components are resolved over representatives
    * ([[resolveClusters]], large-star/small-star) and every member inherits
    * its signature's component; cluster labels are component-min ids
    * (= min doc id, since representatives are per-signature minima).
    * Recall: EXACT for Hamming ≤ maxHamming by the generalized pigeonhole
    * ([[hammingPairs]]' multi-index probe) — WHENEVER the auto-derived
    * bucket cap does not bind. The collapse bounds the dominant
    * (identical-signature) bucket mass; the cap bounds the residual
    * near-miss mass: band buckets over DISTINCT signatures get a
    * [[dyadicSizeCap]]-derived `maxBucketSize` (`pairBudget` candidate
    * pairs per distinct signature, the same dial as [[dedupCorpus]]), so a
    * corpus whose distinct signatures outgrow the band key space degrades
    * to bounded-cost capped recall instead of an all-pairs join. At the
    * §16.12 dimensioning (key space ≫ distinct signatures) buckets are
    * O(1) and the cap never binds — the oracle-checked exact surface.
    *
    * Default banding changed r10: bands 16 → 4 (16-bit band keys). The
    * old 4-bit bands gave a 16-key space per band — the exact saturation
    * cliff SCALE.md §16.12 measures — and the multi-index probe now keeps
    * radius-8 recall exact at 4 bands, so the wide-band dimensioning is
    * strictly better at every corpus size. Pair SEMANTICS are unchanged
    * (same exact ≤ maxHamming graph when the cap is slack).
    *
    * BEHAVIOR CHANGE (r10): `maxBucketSize = None` now means "auto-derive
    * a cap", not "uncapped" — recall is no longer unconditionally exact
    * on corpora dense enough for the dyadic cap to bind. This is the
    * right default for the corpus-scale entry point (an uncapped dense
    * corpus is an all-pairs join in disguise); callers that need the old
    * unconditional-exact surface pass `maxBucketSize =
    * Some(Long.MaxValue)` and accept unbounded bucket joins, or use
    * [[hammingPairs]] with `None` directly.
    *
    * MEASURED bind profile (SCALE.md §17.2, 500 k docs / 496 k distinct
    * 64-bit SimHash sigs, sf10 uniform): the cap DOES bind on corpora
    * whose signature bits are correlated (shared vocabulary skews 16-bit
    * band keys) — 34% of band rows sat in over-cap buckets and pair-level
    * recall was 0.48 vs the uncapped join. Under zipf skew the collapse
    * absorbs the hot mass first and the bind is mild (15% of band rows).
    * Deployments that need a recall FLOOR on dense-signature corpora
    * should price it with [[pairRecall]] on a sample, raise `pairBudget`,
    * or buy exactness with `Some(Long.MaxValue)`.
    *
    * The bind regime is SELF-ANNOUNCING (r12): every auto-derived cap
    * emits a [[CapBindReport]] through `onCapBind` (default [[LogCapBind]]
    * WARNs when any bucket is capped) with exact capped-bucket and
    * band-row counts — no uncapped twin run needed to know the cap bit.
    */
  def hammingDedupCorpus(sigs: DataFrame, idCol: String, hashCol: String,
      bits: Int = DefaultSigBits, bands: Int = DefaultSigBands,
      maxHamming: Int = DefaultSigMaxHamming,
      maxBucketSize: Option[Long] = None, pairBudget: Long = 64,
      onCapBind: CapBindReport => Unit = LogCapBind): DataFrame = {
    val all = sigs.select(col(idCol).as("id"), col(hashCol).as("sig"))
    // null signatures (undecodable items) can't be compared to anything:
    // they come back as their own singleton verdicts. Without this split
    // the equi-join below would silently DROP them (null keys never
    // match) and break the one-verdict-per-input contract.
    val nullRows = all.where(col("sig").isNull)
      .select(col("id"), col("id").as("cluster"), lit(true).as("is_kept"))
    val base = all.where(col("sig").isNotNull)
    val reps = base.groupBy(col("sig")).agg(min(col("id")).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repSigs = reps.select(col("rep").as("id"), col("sig"))
    // rep count sizes the cap budget AND decides the candidate-join
    // strategy (ground truth, not an estimate). On the auto-cap path it
    // falls out of the histogram's own total band rows (exactly `bands`
    // keys per rep) — r19: the separate reps.count() action is fused
    // into the histogram job (VERDICT r18 #3); an explicit cap still
    // pays the count, it has no histogram to ride.
    val (cap, nReps) = maxBucketSize match {
      case Some(c) => (c, math.max(1L, reps.count()))
      case None =>
        // dyadic sketch over exact band-key bucket sizes of the persisted
        // reps (narrow re-read of the cache; ≤63 size classes collected)
        val sizes = repSigs
          .select(explode(hammingBandKeysCol(col("sig"), bits, bands)).as("key"))
          .groupBy(col("key")).agg(count(lit(1)).as("b"))
        val (c, tb, cb, tr, cr) = dyadicSizeCapWithStatsFrom(sizes, "b",
          totalKeys => pairBudget * math.max(1L, totalKeys / bands))
        onCapBind(CapBindReport("hammingDedupCorpus", c, tb, cb, tr, cr))
        (c, math.max(1L, tr / bands))
    }
    val pairs = hammingPairs(repSigs, "id", "sig", bits, bands, maxHamming,
      Some(cap), knownDistinctSigs = Some(nReps))
    val clusters = resolveClusters(pairs) // (id=rep, cluster); singletons absent
    // eager localCheckpoint: the per-signature cluster map is one row per
    // DISTINCT signature (small), and materializing it here lets the reps
    // cache release before the caller's action replays the lineage
    val repClusters = reps
      .join(clusters.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("sig"), coalesce(col("cluster"), col("rep")).as("cluster"))
      .localCheckpoint(true)
    reps.unpersist()
    base.join(repClusters, Seq("sig"))
      .select(col("id"), col("cluster"), (col("id") === col("cluster")).as("is_kept"))
      .unionByName(nullRows)
  }

  /** Encoded Hamming band keys for a 64-bit signature column, as an
    * array<long> Column: entry b = band index × 2^bandBits + that band's
    * bits — a single long per band, so Bloom filters and joins can key on
    * it directly. Shared by [[hammingPairs]]-style batch banding and the
    * streaming image/audio corpus flags (one definition keeps the stream
    * and corpus sides in lockstep, like [[bandSignaturesCol]] for text).
    */
  def hammingBandKeysCol(hash: Column, bits: Int, bands: Int): Column = {
    require(bits % bands == 0, "bands must divide bits")
    val bandBits = bits / bands
    // bandBits = 64 would wrap (1L << 64) back to 1, making mask = 0 and
    // collapsing EVERY band key to one bucket — an all-pairs join in
    // disguise. bandBits = 63 would overflow the band-offset encoding
    // below. One band over a 64-bit hash is also semantically useless
    // (banding with bands = 1 finds only exact matches), so fail loudly.
    require(bandBits < 63,
      s"bits/bands = $bandBits band bits overflows the 64-bit band-key " +
        "encoding (needs bandBits < 63); use more bands")
    val mask = (1L << bandBits) - 1
    array((0 until bands).map(b =>
      shiftright(hash, b * bandBits).bitwiseAND(mask) + lit(b.toLong * (mask + 1))): _*)
  }

  /** Tokenization shared by simhash / jaccard / text analysis: lowercase
    * word characters runs. The lambda form is a MEASURED choice (r18):
    * the equivalent `array_remove(split(...), "")` nearly DOUBLED the
    * LM trainer rows (stupid-backoff 2.5 → 4.6 s) — ArrayRemove
    * re-walks and reallocates per element, while the filter lambda
    * streams once. Lambda variable ids canonicalize away, so identical
    * token subtrees still hit ReuseExchange (pinned in
    * OptimizationR18Spec).
    */
  def tokenize(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  /** N-gram (token-set) Jaccard similarity pairs above `threshold`, blocked
    * by a key (e.g. language). Exact PPJoin-style prefix filtering: tokens
    * are globally ordered rarest-first (ascending doc frequency) and a doc
    * of |x| tokens exposes only its first |x| − ⌈t·|x|⌉ + 1 tokens for
    * candidate generation — any pair with J ≥ t must share a prefix token,
    * so no qualifying pair is lost, while frequent tokens (the O(N²)
    * blowup of a naive token join) almost never land in a prefix. A length
    * filter (t·|x| ≤ |y| ≤ |x|/t) prunes candidates further; survivors are
    * verified with array_intersect over the full per-doc token-hash
    * arrays (64-bit token identity — see the collision note below).
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String, blockCol: String,
      threshold: Double): DataFrame =
    jaccardPairs(df, textCol, idCol, blockCol, threshold, maxPrefixDf = None)

  /** `maxPrefixDf`: candidate volume is Σ df² over prefix tokens — exact
    * PPJoin goes quadratic when a "rare" prefix token is actually shared by
    * hundreds of documents (boilerplate serials, duplicated IDs; measured
    * at the 100× bench scale, where such a token turns the candidate join
    * into billions of pairs). With a cap, tokens with block df above it
    * generate no candidates: pairs whose ENTIRE shared prefix is capped
    * tokens are missed — an explicit recall trade like
    * [[cosineNearDupLsh]]'s, measurable with [[pairRecall]]. `None` (the
    * default, and the oracle-checked path) is fully exact — the evaluation
    * surface; corpus-scale runs use [[jaccardPairsCapped]] (auto-derived
    * cap) or cluster through [[dedupCorpus]].
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String, blockCol: String,
      threshold: Double, maxPrefixDf: Option[Long]): DataFrame = {
    val toks = tokenFrame(df, textCol, idCol, blockCol)
    val dfreq = blockDocFreq(toks)
    jaccardFromSorted(sortedDocFrame(toks, dfreq), dfreq, threshold, maxPrefixDf)
  }

  /** Distinct (block, id, tok) rows — the shared first pass of the Jaccard
    * family. */
  private def tokenFrame(df: DataFrame, textCol: String, idCol: String,
      blockCol: String): DataFrame =
    df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      explode(array_distinct(tokenize(col(textCol)))).as("tok"))

  private def blockDocFreq(toks: DataFrame): DataFrame =
    toks.groupBy(col("blk"), col("tok")).agg(count(lit(1)).as("df"))

  /** Per-doc token array sorted rarest-first (ascending df, ties by token),
    * still carrying each token's df — the frame both the prefix sketch
    * ([[jaccardPairsCapped]]) and the join core ([[jaccardFromSorted]])
    * derive from, so capped runs pay the tokenize + dfreq-join + sort-agg
    * lineage exactly once.
    */
  private def sortedDocFrame(toks: DataFrame, dfreq: DataFrame): DataFrame =
    toks.join(dfreq, Seq("blk", "tok"))
      .groupBy(col("blk"), col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("sorted"))

  /** PPJoin candidate generation + verification over a prebuilt
    * [[sortedDocFrame]]. `sortedRaw` may be persisted by the caller (the
    * capped path shares it with the cap sketch); `dfreq` is only consumed
    * when `maxPrefixDf` is set (the heavy-token anti-join build side).
    */
  private def jaccardFromSorted(sortedRaw: DataFrame, dfreq: DataFrame,
      threshold: Double, maxPrefixDf: Option[Long]): DataFrame = {
    // persisted: three consumers (prefix generation + both sides of the
    // verification join) would otherwise re-run the dfreq join + sort-agg
    // 3× — Spark's exchange reuse does not cover all three
    // tokens leave the aggregation as 64-bit hashes: prefix equality and
    // set intersection only need token IDENTITY, and long arrays shuffle
    // and intersect several times cheaper than string arrays (measured:
    // the verification stage dominated the query on string payloads).
    // A same-block xxhash64 collision (≈|block vocab|²/2⁶⁵) could at worst
    // inflate one pair's overlap by 1 — far below any realistic threshold
    // granularity.
    val docs = sortedRaw
      .select(col("blk"), col("id"),
        transform(col("sorted"), s => xxhash64(s.getField("tok"))).as("toks"),
        size(col("sorted")).as("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefixAll = docs.select(col("blk"), col("id"), col("sz"),
      posexplode(slice(col("toks"), lit(1),
        (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))).as(Seq("pos", "tok")))
    // df cap: drop pathologically-shared tokens from candidate generation
    // (broadcast anti-join against the small heavy-token set) — see the
    // maxPrefixDf scaladoc for the exactness trade
    val prefix = maxPrefixDf match {
      case Some(cap) =>
        val heavy = dfreq.where(col("df") > cap)
          .select(col("blk"), xxhash64(col("tok")).as("tok"))
        prefixAll.join(broadcast(heavy), Seq("blk", "tok"), "left_anti")
      case None => prefixAll
    }
    // PPJoin positional filter: a match at 0-based prefix positions
    // (px, py) bounds the overlap by min(sa-px, sb-py); the pair needs
    // overlap ≥ ⌈t/(1+t)·(sa+sb)⌉ for J ≥ t. Pairs are kept if ANY shared
    // prefix token passes (the distinct() below), so the filter is exact —
    // it prunes candidate VOLUME into the verification join (measured
    // 2.5M → fewer pairs shipping full token arrays at sf0.1)
    val reqOverlap = ceil(lit(threshold / (1 + threshold)) *
      (col("x.sz") + col("y.sz")))
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x.blk") === col("y.blk") && col("x.tok") === col("y.tok") &&
          col("x.id") < col("y.id") &&
          col("x.sz") >= col("y.sz") * threshold &&
          col("y.sz") >= col("x.sz") * threshold &&
          least(col("x.sz") - col("x.pos"), col("y.sz") - col("y.pos")) >= reqOverlap)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val ta = docs.select(col("id").as("id_a"), col("toks").as("ta"), col("sz").as("sa"))
    val tb = docs.select(col("id").as("id_b"), col("toks").as("tb"), col("sz").as("sb"))
    // the non-deterministic (but always-true) guard pins the intersection
    // into this projection: without it, CollapseProject + predicate
    // pushdown inline the alias into the join condition AND the output
    // projection, so array_intersect runs three times per candidate pair
    // (twice in the pushed jaccard predicate, once for the output) —
    // measured as the dominant cost of the whole query
    val interOnce = when(monotonically_increasing_id() >= 0,
      size(array_intersect(col("ta"), col("tb")))).otherwise(0)
    val verified = cands.join(ta, "id_a").join(tb, "id_b")
      .select(col("id_a"), col("id_b"), col("sa"), col("sb"), interOnce.as("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
      // eager checkpoint materializes the verification while `docs` is still
      // cached, so the cache can be released here instead of leaking blocks
      // for the session lifetime; the surviving pairs are tiny next to the
      // corpus, and downstream consumers reuse them without recompute
      .localCheckpoint()
    docs.unpersist()
    verified
  }

  /** An LSH banding configuration and its S-curve characteristics:
    * a pair with Jaccard similarity s collides in ≥1 band with
    * probability 1 − (1 − s^rows)^bands; `inflection` ≈ (1/bands)^(1/rows)
    * is where that curve crosses ~0.5 — the effective similarity
    * threshold of the configuration.
    */
  final case class LshPlan(numHashes: Int, bands: Int, rowsPerBand: Int,
      inflection: Double) {
    /** P(≥1 band collision) for a pair of Jaccard similarity `s`. */
    def collisionProb(s: Double): Double =
      1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)
  }

  /** Banding planner: the (bands, rowsPerBand) factorization of
    * `numHashes` whose S-curve inflection sits closest to the target
    * similarity threshold — the "turn a threshold into banding dials"
    * helper for [[minhashBands]]/[[minhashCandidates]]/[[dedupCorpus]]
    * (which default to 12 hashes = 4 bands × 3 rows, inflection ≈ 0.63).
    * Driver-side scalar math; price the result on real data with
    * [[pairRecall]].
    */
  def lshPlan(threshold: Double, numHashes: Int = DefaultNumHashes): LshPlan = {
    require(threshold > 0.0 && threshold < 1.0, "threshold must be in (0, 1)")
    require(numHashes > 0, "numHashes must be positive")
    val plans = (1 to numHashes).filter(numHashes % _ == 0).map { r =>
      val b = numHashes / r
      LshPlan(numHashes, b, r, math.pow(1.0 / b, 1.0 / r))
    }
    plans.minBy(p => math.abs(p.inflection - threshold))
  }

  /** Recall of a candidate pair set against a reference pair set — the
    * "measure, don't guess" evaluation for approximate dedup: how many of
    * the true (reference) duplicate pairs does the cheap candidate
    * generator catch? Both inputs carry (id_a, id_b); returns one row
    * (n_reference, n_caught, recall). A single join + global aggregate —
    * output is one row regardless of corpus size.
    */
  def pairRecall(reference: DataFrame, candidate: DataFrame): DataFrame = {
    val caught = candidate.select(col("id_a"), col("id_b")).distinct()
      .withColumn("__c", lit(1L))
    reference.select(col("id_a"), col("id_b"))
      .join(caught, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_reference"),
        coalesce(sum(col("__c")), lit(0L)).as("n_caught"),
        round(coalesce(sum(col("__c")), lit(0L)).cast("double") / count(lit(1)), 6).as("recall"))
  }

  /** Row bound of [[resolveClusters]]' local-path collect: one past the
    * threshold, clamped so it stays a valid array length.
    */
  private[graft] def localProbeLimit(localThreshold: Long): Int =
    (math.min(localThreshold, Int.MaxValue - 2L) + 1L).toInt

  /** Did a collect bounded by `probeLimit` return the WHOLE edge set? Only
    * when it stopped short of the bound. Comparing against the threshold
    * instead is wrong once the clamp binds (threshold ≥ Int.MaxValue − 1):
    * a collect truncated at the bound is still ≤ the threshold.
    */
  private[graft] def localProbeComplete(collected: Int, probeLimit: Int): Boolean =
    collected < probeLimit

  /** Resolve near-duplicate pairs into clusters via alternating
    * large-star / small-star connected components (the MapReduce CC
    * algorithm of Kiveris et al., SoCC '14): each round is two
    * join+aggregate passes that rewire every edge toward the component
    * minimum, converging in O(log² n) rounds REGARDLESS of component
    * diameter. Plain min-label propagation needs O(diameter) rounds — a
    * 15-element near-dup chain already defeats a 10-round cap, silently
    * splitting one cluster into several representatives; here a
    * non-converged exit throws instead. Returns (id, cluster), cluster =
    * min id in the component.
    *
    * Integral-id edge sets at or below `localThreshold` distinct edges
    * resolve with a driver-side union-find instead — the same size-gated
    * hybrid as Spark's own broadcast-join threshold, and the same answer
    * (connected components are unique; both paths label by component
    * min). The star rounds cost ~6 fixed shuffle+checkpoint jobs even on
    * a 10 k-edge set, which dominated small-corpus runs. Driver cost at
    * the 4 M-edge default: the collected edge tuples plus two primitive
    * arrays (sorted node ids + int parents) — a few hundred MB peak,
    * broadcast-scale, not the star rounds' worth of cluster traffic. The
    * gate and the edge collect are ONE bounded `limit(probe).collect()`
    * ([[localProbeLimit]], [[localProbeComplete]]), so an over-threshold
    * corpus never pays a full count before round 1.
    * Non-integral id types (the API is type-generic) always take the
    * distributed path. At 100 TB the capped edge volume (pairBudget × N)
    * blows past the threshold and the distributed path runs unchanged.
    */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 25,
      localThreshold: Long = 4000000L): DataFrame = {
    // canonical edges (u, v) with u > v
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct().persist()

    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = edges.schema.head.dataType
    val integralIds = idType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false // string/decimal ids: star rounds are type-generic
    }
    val probeLimit = localProbeLimit(localThreshold)
    // probe and collect are ONE action (r19 job fusion, VERDICT r18 #3):
    // collecting up to threshold+1 rows both answers the gate (a result
    // shorter than the bound IS the complete edge set) and delivers
    // the edges — the r18 shape paid a limit().count() job and then a
    // second full collect() over the same persisted frame
    val localRows: Array[(Long, Long)] =
      if (integralIds && localThreshold > 0) {
        val spark = pairs.sparkSession
        import spark.implicits._
        edges.select(col("u").cast("long"), col("v").cast("long"))
          .limit(probeLimit).as[(Long, Long)].collect()
      } else null
    if (localRows != null && localProbeComplete(localRows.length, probeLimit)) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val rows = localRows
      edges.unpersist()
      // index-compress node ids (sorted, deduped, primitive) so the
      // union-find runs on Array[Int] parents — no boxed-key hash map
      val endpoints = new Array[Long](rows.length * 2)
      var w = 0
      rows.foreach { case (u, v) => endpoints(w) = u; endpoints(w + 1) = v; w += 2 }
      java.util.Arrays.sort(endpoints)
      var n = 0
      var j = 0
      while (j < endpoints.length) {
        if (n == 0 || endpoints(j) != endpoints(n - 1)) { endpoints(n) = endpoints(j); n += 1 }
        j += 1
      }
      val nodes = java.util.Arrays.copyOf(endpoints, n)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      rows.foreach { case (u, v) =>
        val ru = find(java.util.Arrays.binarySearch(nodes, u))
        val rv = find(java.util.Arrays.binarySearch(nodes, v))
        // union toward the smaller index = smaller id (nodes sorted), so
        // the terminal root of each component is the component minimum
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      }
      val out = new Array[(Long, Long)](n)
      var i = 0
      while (i < n) { out(i) = (nodes(i), nodes(find(i))); i += 1 }
      // cast back so both hybrid paths return the caller's id type
      return out.toSeq.toDF("id", "cluster")
        .select(col("id").cast(idType).as("id"), col("cluster").cast(idType).as("cluster"))
    }

    // large-star: each node links its LARGER neighbors to the minimum of
    // its neighborhood (incl. itself) — long chains halve in one pass
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      nbrs.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }

    // small-star: each node links its smaller neighbors (and itself) to
    // the minimum of those — flattens local stars onto the root
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, "u").where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
    }

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // localCheckpoint (eager), not persist: each round references the
      // previous edge set ~6 times, so without lineage truncation the
      // logical plan grows ~6× per round and the ANALYZER (not execution)
      // becomes the bottleneck after a handful of iterations. Checkpointing
      // materializes the round and restarts the plan from its result.
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // fixpoint ⇔ the edge set is a star forest (every node points
      // straight at its component minimum). Set-equality via except is
      // one extra shuffle per round; rounds are O(log² n) so this stays
      // cheap even at corpus scale.
      converged = next.except(edges).isEmpty && edges.except(next).isEmpty
      edges.unpersist()
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"resolveClusters: edge set not a star forest after $maxIter " +
          "large/small-star rounds — raise maxIter (components should " +
          "converge in O(log² n) rounds; this indicates a bug or extreme input)")
    // star forest: every edge is (member, root); roots label themselves
    edges.select(col("u").as("id"), col("v").as("cluster"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("cluster")))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
  }

  /** End-to-end corpus dedup: keep one representative (min id) per
    * near-duplicate cluster; rows in no cluster pass through.
    */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val clusters = resolveClusters(pairs)
    // reference-qualified where/drop: name-based drop("id") would take the
    // CALLER's id column with it when idCol == "id", and a pre-existing
    // `cluster` column would make the bare name ambiguous
    df.join(clusters, df(idCol) === clusters("id"), "left")
      .where(clusters("cluster").isNull || clusters("cluster") === df(idCol))
      .drop(clusters("id")).drop(clusters("cluster"))
  }

  /** Embedding-cosine near-duplicate pairs, EXACT: every id<id pair gets
    * the cosine check (this is the oracle-verifiable baseline — O(N²), fine
    * for query sets / verification, wrong tool at corpus scale; use
    * [[cosineNearDupLsh]] there).
    */
  def cosineNearDup(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Embedding-cosine near-duplicates at scale: random-hyperplane (sign)
    * LSH. Each vector hashes to a bucket of `planes` sign bits against
    * deterministic ±1 hyperplanes (parity of a seeded hash per (plane,
    * dim)); only same-bucket pairs get the exact cosine check. Recall is
    * < 1 by construction — P[same bucket] = (1 − θ/π)^planes for angle θ —
    * which is the standard trade for dropping the O(N²) cross product;
    * near-duplicates (θ → 0) collide with probability → 1.
    */
  def cosineNearDupLsh(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, planes: Int = 8, dims: Int = 64): DataFrame = {
    // ±1 hyperplane entries from md5 parity (same md5-prefix recipe as
    // [[h60]]), so an external SQL engine can regenerate the planes
    // bit-for-bit and oracle-check the bucketed pairs — the bucketing is
    // deterministic; only which near pairs COLLIDE is probabilistic
    def planeSign(p: Int, d: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane:$p:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1.0 else -1.0
    }
    val planeLits: Seq[Column] = (0 until planes).map { p =>
      typedLit((0 until dims).map(d => planeSign(p, d)))
    }
    val bucketBits: Column = concat((0 until planes).map { p =>
      when(Similarity.dot(col("v"), planeLits(p)) >= 0, lit("1")).otherwise(lit("0"))
    }: _*)
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", bucketBits)
    val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("v").as("va"))
    val b = bucketed.select(col("bucket").as("bucket_b"), col("id").as("id_b"), col("v").as("vb"))
    a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Duplicated substring detection: hash fixed-length token windows at a
    * stride and report windows appearing in ≥2 documents — the bounded
    * approximation of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): any
    * cross-document duplicate span of ≥ `windowLen + stride − 1` tokens is
    * guaranteed to contain at least one aligned window on each side, and a
    * stride of `windowLen/2` catches spans of 1.5× the window. Windows are
    * generated as an array expression inside the scan (no pre-materialized
    * n-gram table) and only their 128-bit hashes are shuffled —
    * O(tokens/stride) rows of 16 bytes, uniform keys, partial-agg
    * friendly. Returns (win_hash, n_docs, n_occ, first_doc).
    */
  def duplicateWindows(df: DataFrame, textCol: String, idCol: String,
      windowLen: Int = 20, stride: Int = 10): DataFrame = {
    require(windowLen > 0 && stride > 0, "windowLen and stride must be positive")
    // tokens come from the codegen'd tokenize expression; the window walk is
    // one imperative pass — the declarative transform re-evaluated the
    // inlined `tokenize` column once per WINDOW (no CSE in interpreted
    // HOFs), i.e. O(len²/stride) per row (SCALE.md §14.8)
    val (wl, st) = (windowLen, stride)
    val winUdf = udf((toks: Seq[String]) =>
      if (toks == null || toks.size < wl) Seq.empty[String]
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        (0 to (toks.size - wl) / st).map { i =>
          val d = md.digest(
            toks.slice(i * st, i * st + wl).mkString(" ").getBytes(utf8))
          md.reset()
          val hex = new java.lang.StringBuilder(32)
          d.foreach { x =>
            hex.append(Character.forDigit((x >> 4) & 0xf, 16))
            hex.append(Character.forDigit(x & 0xf, 16))
          }
          hex.toString
        }
      })
    val wins = winUdf(tokenize(col(textCol)))
    df.select(col(idCol).as("id"), explode(wins).as("win_hash"))
      .groupBy(col("win_hash"))
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("id")).as("first_doc"))
      .where(col("n_docs") >= 2)
  }

  /** Exact Jaccard VERIFICATION for a given candidate pair list — the
    * precision stage after any recall-oriented generator ([[minhashCandidates]]
    * banding, [[fuzzyContamination]], the streaming near-corpus flag):
    * computes each proposed pair's true token-set Jaccard WITHOUT
    * enumerating any pair the generator didn't propose, so cost is linear
    * in candidates (pairs × token lists via two equi-joins), never O(N²).
    * Pairs with an empty intersection are kept with jaccard = 0 — a
    * verifier must report on every candidate it was handed. Pairs whose
    * ids lack token sets (empty/null text) drop out: no sets, no verdict.
    * Returns (id_a, id_b, jaccard).
    */
  def verifyPairsJaccard(df: DataFrame, textCol: String, idCol: String,
      pairs: DataFrame): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(tokenize(col(textCol)))).as("tok"))
    val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val p = pairs.select(col("id_a"), col("id_b"))
    val inter = p
      .join(toks.select(col("id").as("id_a"), col("tok")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__i"))
    p.join(sizes.select(col("id").as("id_a"), col("sz").as("__sa")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("__sb")), Seq("id_b"))
      .join(inter, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        round(coalesce(col("__i"), lit(0L)) /
          (col("__sa") + col("__sb") - coalesce(col("__i"), lit(0L))), 6).as("jaccard"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): hash every `k`-char gram, then keep the MINIMUM hash of
    * each sliding window of `w` consecutive positions. Guarantee: any
    * shared substring of at least `w + k − 1` characters between two
    * documents yields at least one shared fingerprint, while only ~2/(w+1)
    * of the gram hashes are stored — the compressed, recall-guaranteed
    * form of [[duplicateWindows]]'s strided hashing, sized for corpus-wide
    * substring-overlap search at 100 TB.
    *
    * Plan shape: gram hashes are generated inside the scan (sequence +
    * substr, no gram table); the per-position window minimum is a
    * `slice`/`array_min` over the in-row hash array (documents are rows,
    * so "sliding window" never crosses a row — no Window exchange, no
    * sort); distinct (id, fingerprint) is the only shuffle, keyed on the
    * fingerprint output which is ~2/(w+1) of gram volume.
    * Returns distinct (id, fingerprint).
    */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    val (kk, ww) = (k, w)
    val fps = udf((s: String) => winnowJvm(s, kk, ww))
    df.select(col(idCol).as("id"), explode(fps(col(textCol))).as("fingerprint"))
      .distinct()
  }

  /** Imperative winnowing kernel: gram h60 hashes in one MessageDigest walk,
    * then per-position window minima. The declarative form — a `transform`
    * of `array_min(slice(hashes, i, w))` where `hashes` is ITSELF a
    * `transform` — re-evaluated the entire inner gram-hash array once per
    * OUTER element (interpreted HOFs inline their argument expressions and
    * get no CSE): O(len²) md5 calls per document, measured 18+ CPU-MINUTES
    * on one sf0.1 partition (SCALE.md §14.8). This walk is O(len·w) with
    * w = 4. Values are bit-identical (same h60 math as
    * [[bandSignaturesJvm]]; window min over the same slice bounds), pinned
    * by the dd_winnow oracle row and DedupCapSpec.
    */
  private[graft] def winnowJvm(text: String, k: Int, w: Int): Array[Long] = {
    if (text == null) return null
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(text).toLowerCase
    val nSh = math.max(u.numChars() - (k - 1), 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val hs = new Array[Long](nSh)
    var i = 1
    while (i <= nSh) {
      val d = md.digest(("s0:" + u.substringSQL(i, k).toString).getBytes(utf8))
      md.reset()
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      hs(i - 1) = ((h << 4) | ((d(7) & 0xf0L) >>> 4)) % MinhashP
      i += 1
    }
    val nW = math.max(nSh - (w - 1), 1)
    val out = new Array[Long](nW)
    var j = 0
    while (j < nW) {
      // slice(hashes, j+1, w) clamps at the array end; min over ≤ w values
      var m = Long.MaxValue
      var r = j
      val end = math.min(j + w, nSh)
      while (r < end) { if (hs(r) < m) m = hs(r); r += 1 }
      out(j) = m
      j += 1
    }
    out
  }

  /** Corpus-level line deduplication (the CCNet/RefinedWeb boilerplate
    * pass): lines occurring more than `maxOccurrences` times ACROSS THE
    * CORPUS (navbars, cookie banners, license footers) are removed from
    * every document; blank lines never count as boilerplate. Documents are
    * reassembled in original line order.
    *
    * Plan shape at 100 TB: explode lines → groupBy(line) count (partial
    * agg, shuffle keyed on the line — hash-uniform) → join the line stream
    * back on the line → per-doc sort-free reassembly via
    * `array_sort(collect_list(struct(pos, line)))`, whose state is bounded
    * by the largest single document. Nothing driver-side; the only skew
    * risk is one pathologically common line, which partial aggregation
    * absorbs before the exchange.
    *
    * Returns (idCol, clean_text, n_removed).
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
      maxOccurrences: Long): DataFrame = {
    // split with limit -1 keeps trailing empty lines, so reassembly is
    // byte-faithful for kept content
    val split0 = split(col(textCol), "\n", -1)
    val lines = df.select(col(idCol), posexplode(split0).as(Seq("pos", "line")))
    val freq = lines.groupBy(col("line")).agg(count(lit(1)).as("cnt"))
    val kept = lines.join(freq, "line")
      .where(trim(col("line")) === "" || col("cnt") <= maxOccurrences)
    val rebuilt = kept.groupBy(col(idCol)).agg(
      concat_ws("\n",
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("clean_text"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol), size(split0).as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_removed"))
  }

  /** Bloom-prefiltered corpus anti-join: the rows of `batch` whose `valueCol`
    * does NOT occur in `corpus` — the standing-corpus membership check every
    * incremental ingest pipeline runs ("is this document already in the
    * training set?").
    *
    * The result is EXACT (identical to a plain left-anti join; the oracle is
    * plain SQL) — the Bloom filter is purely a physical optimization:
    *
    *   1. the filter is built distributed (`stat.bloomFilter` runs as a
    *      tree-aggregate; the driver holds only the fixed-size bitset,
    *      ~1.2 MB at 1M items / 1% fpp, independent of corpus bytes) and
    *      broadcast to executors;
    *   2. a narrow scan-side test splits the batch: "definitely new" rows
    *      (no false negatives by construction) pass through with NO join at
    *      all; only the "maybe present" rows — true hits plus the fpp
    *      fraction — continue;
    *   3. the maybes are verified against the corpus with a broadcast
    *      LEFT-SEMI from the corpus side: the corpus is scanned once and
    *      never shuffles; the only exchanged data is the (small) maybe set
    *      and its (smaller) hit set.
    *
    * At 100 TB corpus / GB-scale batch, shuffle volume is proportional to
    * the BATCH, not the corpus — the shape a plain anti-join (which
    * exchanges both sides) cannot deliver. The membership test is a Scala
    * UDF over the broadcast filter — one murmur hash per row on the scan
    * side, off the codegen path but trivially cheap relative to the join it
    * eliminates.
    *
    * Null `valueCol` rows never match (SQL equality semantics) and pass
    * through as new, matching `NOT EXISTS (… c.v = b.v)`.
    */
  def notInCorpus(batch: DataFrame, corpus: DataFrame, valueCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame =
    notInCorpusManaged(batch, corpus, valueCol, expectedItems, fpp)._1

  /** [[notInCorpus]] with an explicit cache-release hook: the returned
    * thunk unpersists the internal flagged-batch cache (blocking = false).
    * ITERATIVE callers — a frontier loop or BFS running membership checks
    * round after round — MUST call it once each round's result is
    * materialized, or every round's batch-sized cache block stays pinned
    * for the session and eviction falls to the LRU alone. Single-shot
    * callers can use [[notInCorpus]] and let the LRU own it.
    */
  def notInCorpusManaged(batch: DataFrame, corpus: DataFrame,
      valueCol: String, expectedItems: Long,
      fpp: Double = 0.01): (DataFrame, () => Unit) = {
    validateBloomKey(batch, corpus, valueCol)
    val bf = corpus.stat.bloomFilter(col(valueCol), expectedItems, fpp)
    notInCorpusManagedWith(batch, corpus, valueCol, bf)
  }

  /** [[notInCorpusManaged]] against a PREBUILT Bloom filter over the
    * corpus's `valueCol` — the loop shape: a frontier running round after
    * round against one visited-set snapshot builds the filter once
    * (`corpus.stat.bloomFilter`, a distributed tree-aggregate) and pays
    * only the probe + batch-bounded verify per round, instead of
    * re-scanning the corpus into a fresh sketch every round. The filter
    * MUST have been built over the same snapshot passed here, or the
    * no-false-negative property (present ⇒ maybe) that makes the single
    * anti-join value-identical no longer holds.
    */
  def notInCorpusManagedWith(batch: DataFrame, corpus: DataFrame,
      valueCol: String,
      bf: org.apache.spark.util.sketch.BloomFilter): (DataFrame, () => Unit) = {
    validateBloomKey(batch, corpus, valueCol)
    val mightContain = bloomProbe(batch, corpus, valueCol, bf)
    // persisted: the flagged batch feeds BOTH the main stream and the
    // maybe-key subtree below — unpersisted, the batch's whole upstream
    // chain re-evaluates per consumer, which the sf100 frontier-loop
    // probe measured at 3× the stage wall (SCALE.md §20.10). Spark's
    // LRU owns eviction (MEMORY_AND_DISK, batch-proportional, spills);
    // the release hook lets loop-shaped callers free it deterministically.
    val flagged = batch.withColumn("__maybe", mightContain)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus-side broadcast semi-join: hits = distinct corpus values that
    // collide with a maybe — bounded by the maybe set, so the follow-up
    // anti-join broadcasts too
    val maybeKeys = flagged.where(col("__maybe"))
      .select(col(valueCol)).distinct()
    val hits = corpus.select(col(valueCol))
      .join(broadcast(maybeKeys), Seq(valueCol), "left_semi").distinct()
    // ONE anti-join instead of split-and-union: a definitely-new row
    // cannot appear in `hits` (no false negatives: present ⇒ maybe), so
    // anti-joining the whole flagged batch against the verified hit set
    // is value-identical and evaluates the batch in a single stream
    val out = flagged.join(broadcast(hits), Seq(valueCol), "left_anti")
      .drop("__maybe")
    (out, () => { flagged.unpersist(blocking = false); () })
  }

  /** Membership-test Column for a broadcast Bloom filter over `valueCol`,
    * dispatched on the column's type: `stat.bloomFilter` inserts strings
    * via their bytes and integral types via `putLong`, so the probe side
    * MUST use the matching `mightContainString`/`mightContainLong` — a
    * mistyped probe would silently answer over the wrong hash. Non-string,
    * non-integral key columns are rejected up front with a descriptive
    * error instead of a ClassCastException deep inside the UDF; null keys
    * probe as "not present" (SQL equality semantics — they pass through).
    */
  private def isIntegral(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** Up-front key-type validation shared by the batch and streaming corpus
    * membership ops, BEFORE the bloom build: string and integral keys are
    * the types `stat.bloomFilter` hashes; anything else (and mixed
    * string-vs-integral pairs, whose bloom bits would never match) is
    * rejected with a descriptive error instead of an analysis error in the
    * build or a ClassCastException deep inside the probe UDF.
    */
  private[graft] def validateBloomKey(probeSide: DataFrame, corpus: DataFrame,
      valueCol: String): Unit = {
    import org.apache.spark.sql.types.StringType
    val dt = probeSide.schema(valueCol).dataType
    val corpusDt = corpus.schema(valueCol).dataType
    if (!(dt == StringType || isIntegral(dt)))
      throw new IllegalArgumentException(
        s"notInCorpus: key column '$valueCol' has type $dt; " +
          "bloom membership supports string and integral key columns only")
    require(dt == corpusDt || (isIntegral(dt) && isIntegral(corpusDt)),
      s"notInCorpus: probe column '$valueCol' is $dt but corpus column is " +
        s"$corpusDt — bloom bits would never match; align the key types")
  }

  private[graft] def bloomProbe(probeSide: DataFrame, corpus: DataFrame,
      valueCol: String,
      bf: org.apache.spark.util.sketch.BloomFilter): Column = {
    import org.apache.spark.sql.types.StringType
    validateBloomKey(probeSide, corpus, valueCol)
    val bcast = probeSide.sparkSession.sparkContext.broadcast(bf)
    probeSide.schema(valueCol).dataType match {
      case StringType =>
        udf((s: String) => s != null && bcast.value.mightContainString(s))
          .apply(col(valueCol))
      case _ =>
        udf((l: java.lang.Long) => l != null && bcast.value.mightContainLong(l))
          .apply(col(valueCol).cast("long"))
    }
  }
}
