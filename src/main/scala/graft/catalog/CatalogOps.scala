package graft.catalog

import graft.ops.{Dedup, Graphs, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (the beyond-parity surface the
  * brief requires): deduplication (exact / MinHash-LSH / SimHash / n-gram
  * Jaccard / embedding-cosine), similarity search (brute-force + IVF),
  * text analysis (language-ID / quality / tokens / fingerprints),
  * multimodal binary-column plumbing, and a windowed streaming aggregation.
  *
  * Oracle-SQL fragments that mirror non-trivial Scala logic (hashes,
  * stopword sets, simhash bit math) are GENERATED from the same Scala
  * constants, so the two sides cannot drift.
  */
object CatalogOps {
  import Catalog.t

  /** DuckDB rendering of [[Dedup.h60]]: must match
    * conv(substring(md5('s<seed>:'||x),1,15),16,10).
    */
  private[catalog] def h60Sql(expr: String, seed: Int): String =
    s"('0x' || substring(md5('s$seed:' || $expr), 1, 15))::BIGINT"

  private[catalog] val tokenizeSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** doc_ids of `documents`, widened before heavy per-row payload
    * synthesis/decode ([[graft.util.ScanSpread.widen]]): the small-SF
    * single-row-group parquet scan yields ONE task, serializing synthetic
    * codec work onto one core; the widen exchange moves bare 8-byte ids
    * and is a no-op whenever the scan is already core-count wide (any
    * real-scale input).
    */
  private def wideDocIds(s: SparkSession, dir: String): DataFrame =
    graft.util.ScanSpread.widen(t(s, dir, "documents").select(col("doc_id")))

  // ------------------------------------------------------------------ dedup

  private val ddExact = Q("dd_exact",
    (s, dir) => Dedup.exact(t(s, dir, "documents"), "text", "doc_id"),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY md5(text)"""),
    bench = true)

  /** Incremental-ingest membership: batch (doc_id ≡ 0 mod 5) filtered
    * against a standing corpus (doc_id ≢ 0 mod 3) via the Bloom-prefiltered
    * anti-join. The result is exact, so the oracle is a plain NOT EXISTS —
    * the Bloom stage is invisible to correctness by design.
    */
  private val ddBloom = Q("dd_bloom_prefilter",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.notInCorpus(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 3 =!= 0),
        "text", expectedItems = 1000000L)
        .select(col("doc_id"), col("n_chars"))
    },
    Some("""SELECT b.doc_id, b.n_chars FROM documents b
      WHERE b.doc_id % 5 = 0 AND NOT EXISTS (
        SELECT 1 FROM documents c WHERE c.doc_id % 3 <> 0 AND c.text = b.text)"""))

  /** Shared CTE chain producing MinHash band signatures as
    * `<pre>bands(id, band, sig)` over `from` (a table name or derived-table
    * SQL) — parameterized so oracles that band TWO frames (e.g. corpus vs
    * probe set in fuzzy decontamination) reuse the exact same chain under
    * distinct CTE names and cannot drift.
    */
  private[catalog] def minhashCtesFor(from: String, pre: String): String = {
    val p = graft.ops.Dedup.MinhashP
    val mhCols = (0 until 12)
      .map(i => s"min((h * ${2 * i + 1} + ${101 * i + 17}) % $p) AS mh$i")
      .mkString(",\n        ")
    val bands = (0 until 4).map { b =>
      val sig = (0 until 3).map(r => s"mh${b * 3 + r}").mkString(" || '_' || ")
      s"SELECT id, $b AS band, md5($sig) AS sig FROM ${pre}mh"
    }.mkString("\n        UNION ALL ")
    s"""${pre}sh AS (
        SELECT doc_id AS id,
          unnest(list_distinct([substring(lower(text), i, 8)
            FOR i IN generate_series(1, greatest(length(text) - 7, 1))])) AS shingle
        FROM $from),
      ${pre}hashed AS (SELECT id, ${h60Sql("shingle", 0)} % $p AS h FROM ${pre}sh),
      ${pre}mh AS (SELECT id, $mhCols FROM ${pre}hashed GROUP BY id),
      ${pre}bands AS ($bands)"""
  }

  /** [[minhashCtesFor]] over the documents table with unprefixed names —
    * reused by dd_minhash_lsh, the cluster pipeline, and the recall
    * evaluation so their oracles cannot drift.
    */
  private[catalog] val minhashCtes: String = minhashCtesFor("documents", "")

  /** Shared CTE chain for exact blocked Jaccard: `inter(id_a, id_b, i)` +
    * `sizes(id, sz)`.
    */
  private[catalog] val jaccardCtes: String =
    s"""toks AS (
        SELECT lang AS blk, doc_id AS id, unnest(list_distinct($tokenizeSql)) AS tok
        FROM documents),
      sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
      inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
        FROM toks x JOIN toks y ON x.blk = y.blk AND x.tok = y.tok AND x.id < y.id
        GROUP BY x.id, y.id)"""

  // exact banding is the evaluation surface (prices the capped variants via
  // pairRecall); the BENCHED corpus path is dd_cluster_pipeline below —
  // exact pair enumeration grew 150× at the 100× scale (SCALE.md §12)
  private val ddMinhash = Q("dd_minhash_lsh",
    (s, dir) => Dedup.minhashCandidates(t(s, dir, "documents"), "text", "doc_id",
      numHashes = 12, rowsPerBand = 3, shingleLen = 8),
    Some(s"""WITH $minhashCtes
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id"""))

  private val powersSql = (0 to 30).map(k => (1L << k).toString).mkString(",")

  /** Shared CTE chain replaying Dedup.dedupCorpus downstream of `bands`
    * (from [[minhashCtes]]): the exact-duplicate collapse (`grp`/`gm` —
    * one representative per distinct text, the Spark side groups by a
    * null-discriminating md5 of the same text), the dyadic bucket-size
    * sketch and auto cap over REPRESENTATIVE bands, the capped band
    * self-join, rep→member expansion edges, and the connected components
    * via a recursive min-label CTE — component minima propagate along
    * edges, so `min(lab)` per node (`clus(id, cluster)`) is exactly the
    * large/small-star fixpoint label. Use under `WITH RECURSIVE`.
    */
  private[catalog] val clusterCtes: String =
    s"""grp AS (SELECT text AS gt, min(doc_id) AS rep FROM documents GROUP BY text),
      gm AS (SELECT d.doc_id AS id, g.rep FROM documents d
        JOIN grp g ON d.text IS NOT DISTINCT FROM g.gt),
      rbands AS (SELECT bands.id, bands.band, bands.sig FROM bands
        JOIN grp ON bands.id = grp.rep),
      bsz AS (SELECT band, sig, count(*) AS b FROM rbands GROUP BY band, sig),
      pw AS (SELECT unnest([$powersSql]) AS p),
      hist AS (SELECT (SELECT min(p) FROM pw WHERE p >= b) AS bcap, sum(b * b) AS w
        FROM bsz GROUP BY 1),
      capv AS (SELECT greatest(coalesce(max(bcap), 16), 16) AS cap FROM (
          SELECT bcap, sum(w) OVER (ORDER BY bcap) AS cw FROM hist)
        WHERE cw <= 64 * ((SELECT count(*) FROM rbands) // 4)),
      keep AS (SELECT rbands.id, rbands.band, rbands.sig FROM rbands
        JOIN bsz USING (band, sig) WHERE bsz.b <= (SELECT cap FROM capv)),
      pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM keep a JOIN keep b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
        UNION ALL SELECT rep AS u, id AS v FROM gm WHERE id <> rep
        UNION ALL SELECT id AS u, rep AS v FROM gm WHERE id <> rep),
      reach AS (SELECT doc_id AS id, doc_id AS lab FROM documents
        UNION
        SELECT e.u AS id, r.lab FROM edges e JOIN reach r ON e.v = r.id WHERE r.lab < e.u),
      clus AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)"""

  /** THE corpus-scale dedup path (Dedup.dedupCorpus): auto-capped banding →
    * large-star/small-star connected components → one keep/drop verdict per
    * document. Output is linear in the corpus even where the pair list is
    * quadratic. The oracle replays the dyadic bucket-size sketch (integer
    * arithmetic), the capped band join, and the connected components via a
    * recursive min-label CTE — component minima propagate along edges, so
    * `min(lab)` per node is exactly the large/small-star fixpoint label.
    */
  private val ddClusterPipeline = Q("dd_cluster_pipeline",
    (s, dir) => Dedup.dedupCorpus(t(s, dir, "documents"), "text", "doc_id"),
    Some(s"""WITH RECURSIVE $minhashCtes, $clusterCtes
      SELECT d.doc_id AS id, c.cluster, (c.cluster = d.doc_id) AS is_kept
      FROM documents d JOIN clus c ON c.id = d.doc_id"""),
    bench = true)

  /** Bounded PPJoin (Dedup.jaccardPairsCapped): the maxPrefixDf cap derived
    * from the prefix-df sketch — classes by global df, weight (prefix-df)².
    * Exact-capped semantics: a pair survives iff it shares ≥1 under-cap
    * prefix token and verifies at the threshold (capped tokens sort after
    * every under-cap token, so the positional filter loses nothing).
    */
  private val ddJaccardCapped = Q("dd_jaccard_capped",
    (s, dir) => Dedup.jaccardPairsCapped(t(s, dir, "documents"), "text", "doc_id",
      "lang", 0.6)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
    Some(s"""WITH $jaccardCtes,
      dfreq AS (SELECT blk, tok, count(*) AS df FROM toks GROUP BY blk, tok),
      docs AS (SELECT t.blk, t.id,
          list_sort(list({'df': d.df, 'tok': t.tok})) AS sorted, count(*) AS sz
        FROM toks t JOIN dfreq d ON t.blk = d.blk AND t.tok = d.tok
        GROUP BY t.blk, t.id),
      prefu AS (SELECT blk, id, s.df AS df, s.tok AS tok FROM (
        SELECT blk, id, unnest(sorted[1 : (sz - ceil(sz * 0.6) + 1)::INT]) AS s
        FROM docs)),
      pdf AS (SELECT blk, tok, any_value(df) AS df, count(*) AS pdf
        FROM prefu GROUP BY blk, tok),
      pw AS (SELECT unnest([$powersSql]) AS p),
      hist AS (SELECT (SELECT min(p) FROM pw WHERE p >= df) AS bcap, sum(pdf * pdf) AS w
        FROM pdf GROUP BY 1),
      capv AS (SELECT greatest(coalesce(max(bcap), 16), 16) AS cap FROM (
          SELECT bcap, sum(w) OVER (ORDER BY bcap) AS cw FROM hist)
        WHERE cw <= 512 * (SELECT count(*) FROM docs)),
      cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM prefu x JOIN prefu y ON x.blk = y.blk AND x.tok = y.tok AND x.id < y.id
        WHERE x.df <= (SELECT cap FROM capv))
      SELECT c.id_a, c.id_b,
        round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
      FROM cand c
      JOIN inter ON c.id_a = inter.id_a AND c.id_b = inter.id_b
      JOIN sizes sa ON c.id_a = sa.id
      JOIN sizes sb ON c.id_b = sb.id
      WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.6"""),
    bench = true)

  /** The complete LSH dedup pipeline with exact verification: banding
    * proposes candidates (recall), verifyPairsJaccard computes each
    * proposed pair's true Jaccard (precision), threshold keeps real
    * near-dups. Linear in candidates — no pair outside the proposal set
    * is ever touched.
    */
  private val ddLshVerified = Q("dd_lsh_verified",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "text", "doc_id")
      Dedup.verifyPairsJaccard(docs, "text", "doc_id", cand)
        .where(col("jaccard") >= 0.6)
    },
    Some(s"""WITH $minhashCtes,
      cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
      vtoks AS (SELECT doc_id AS id, unnest(list_distinct($tokenizeSql)) AS tok
        FROM documents),
      vsizes AS (SELECT id, count(*) AS sz FROM vtoks GROUP BY id),
      vi AS (SELECT c.id_a, c.id_b, count(*) AS i
        FROM cand c
        JOIN vtoks ta ON ta.id = c.id_a
        JOIN vtoks tb ON tb.id = c.id_b AND tb.tok = ta.tok
        GROUP BY c.id_a, c.id_b)
      SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
          round(coalesce(vi.i, 0)::DOUBLE / (sa.sz + sb.sz - coalesce(vi.i, 0)), 6) AS jaccard
        FROM cand c
        JOIN vsizes sa ON c.id_a = sa.id
        JOIN vsizes sb ON c.id_b = sb.id
        LEFT JOIN vi ON c.id_a = vi.id_a AND c.id_b = vi.id_b)
      WHERE jaccard >= 0.6"""))

  /** Winnowing fingerprints (MOSS): min gram-hash per sliding window; the
    * oracle replays the same hashes with a SQL window min bounded to the
    * same positions.
    */
  private val ddWinnow = Q("dd_winnow",
    (s, dir) => Dedup.winnowFingerprints(t(s, dir, "documents"), "text", "doc_id"),
    Some({
      val p = graft.ops.Dedup.MinhashP
      s"""WITH pos AS (SELECT doc_id AS id, lower(text) AS t,
          unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
        FROM documents),
      g AS (SELECT id, i, ${h60Sql("substring(t, i, 8)", 0)} % $p AS h FROM pos),
      m AS (SELECT id, i,
          min(h) OVER (PARTITION BY id ORDER BY i
            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS f,
          count(*) OVER (PARTITION BY id) AS n
        FROM g)
      SELECT DISTINCT id, f AS fingerprint FROM m WHERE i <= greatest(n - 3, 1)"""
    }))

  /** Shared CTE chain producing `bits`-bit SimHash signatures as
    * `sig(id, simhash)` — reused by dd_simhash, dd_simhash_corpus and
    * dd_simhash_pairs. Mirrors [[Dedup.simhash]] exactly: bits 0–31 from
    * h60(tok, 9999), bits 32–63 from h60(tok, 9998), bits OR-assembled
    * (bit 63's weight is BIGINT min — spelled as an expression because the
    * bare literal would overflow DuckDB's parser), and one row per
    * DOCUMENT with NULL simhash for token-less texts (left join back).
    */
  private[catalog] def simhashCtes(bits: Int = 32): String = {
    val h2 = if (bits > 32) s", ${h60Sql("tok", 9998)} AS h2" else ""
    val bitSums = (0 until bits).map { j =>
      val b = if (j < 32) s"(h >> $j)" else s"(h2 >> ${j - 32})"
      s"sum(CASE WHEN $b & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n        ")
    val sig = (0 until bits).map { j =>
      val w = if (j == 63) "(-9223372036854775807::BIGINT - 1)"
              else s"${1L << j}::BIGINT"
      s"CASE WHEN b$j > 0 THEN $w ELSE 0 END"
    }.mkString(" | ")
    s"""toks AS (
        SELECT doc_id AS id, unnest($tokenizeSql) AS tok FROM documents),
      hashed AS (SELECT id, ${h60Sql("tok", 9999)} AS h$h2 FROM toks),
      sums AS (SELECT id, $bitSums FROM hashed GROUP BY id),
      sig0 AS (SELECT id, $sig AS simhash FROM sums),
      sig AS (SELECT d.doc_id AS id, s.simhash FROM documents d
        LEFT JOIN sig0 s ON s.id = d.doc_id)"""
  }

  private val ddSimhash = Q("dd_simhash",
    (s, dir) => Dedup.simhash(t(s, dir, "documents"), "text", "doc_id", bits = 32),
    Some(s"""WITH ${simhashCtes()} SELECT id, simhash FROM sig"""),
    bench = true)

  /** Corpus-scale TEXT near-dup via SimHash: [[Dedup.simhash]] signatures
    * through the same identical-sig-collapse + Hamming-banded-components
    * verdict machinery the image/audio paths use
    * ([[Dedup.hammingDedupCorpus]]) — so text near-dup corpus verdicts
    * exist in BOTH band families (MinHash/Jaccard: dd_cluster_pipeline;
    * SimHash/Hamming: this row), each collapse-first and therefore
    * zipf-hot-cluster-safe (identical texts share a signature and
    * collapse to one rep before banding). The oracle resolves the exact
    * ≤ maxHamming pair graph with bit_count(xor) + a recursive closure —
    * valid because banding recall is exact below `bands` by pigeonhole
    * (maxHamming 3 < bands 4).
    *
    * Dimensioning (the §16.12 cliff, measured at 32 bits, cured here at
    * 64): band KEY SPACE must outrun distinct signatures, and exact
    * recall at Hamming radius h needs > h bands — so radius fixes the
    * per-band key space at 2^(bits/(h+1)). At 32 bits / radius 3 that is
    * 2^8 = 256 keys/band (saturates past ~10⁶ distinct docs); at 64 bits
    * it is 2^16 = 65 536 keys/band — 4 bands × 16 bits, the dimensioning
    * this row ships. Token-less docs carry a NULL signature and come
    * back as singleton verdicts (hammingDedupCorpus's null path), so the
    * one-verdict-per-document contract holds on any corpus, matching the
    * oracle's documents-seeded reach.
    */
  private val ddSimhashCorpus = Q("dd_simhash_corpus",
    (s, dir) => {
      val sigs = Dedup.simhash(t(s, dir, "documents"), "text", "doc_id", bits = 64)
      Dedup.hammingDedupCorpus(sigs, "id", "simhash",
          bits = 64, bands = 4, maxHamming = 3)
        .select(col("id").as("doc_id"), col("cluster"), col("is_kept"))
    },
    Some(s"""WITH RECURSIVE ${simhashCtes(64)},
      edges AS (SELECT a.id AS u, b.id AS v FROM sig a JOIN sig b
        ON a.id <> b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      reach(s, d) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.s, e.v FROM reach r JOIN edges e ON e.u = r.d)
      SELECT s AS doc_id, min(d) AS cluster, s = min(d) AS is_kept
      FROM reach GROUP BY s"""))

  // exact PPJoin — the evaluation surface (killed the JVM at the 100× bench
  // scale, SCALE.md §12); the benched corpus path is dd_jaccard_capped
  private val ddJaccard = Q("dd_jaccard_pairs",
    (s, dir) => Dedup.jaccardPairs(t(s, dir, "documents"), "text", "doc_id", "lang", 0.6)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
    Some(s"""WITH $jaccardCtes
      SELECT id_a, id_b,
        round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON id_a = sa.id
      JOIN sizes sb ON id_b = sb.id
      WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.6"""))

  private val cosSql =
    "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"

  private val ddCosine = Q("dd_cosine_neardup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Dedup.cosineNearDup(emb, "v", "vec_id", 0.5)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS qv, b.v AS cv
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b,
        round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
      FROM pairs
      WHERE list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) >= 0.5"""))

  private val ddClusterDedup = Q("dd_cluster_dedup",
    // end-to-end corpus dedup: candidate pairs → min-label cluster
    // resolution → one representative per cluster. Pairs here are exact-dup
    // pairs (cliques), so the oracle needs no recursion: keep min doc_id
    // per identical text.
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("h"))
      val pairs = d.as("a").join(d.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Dedup.dedupByPairs(t(s, dir, "documents"), "doc_id", pairs)
        .select(col("doc_id"))
    },
    Some("""SELECT doc_id FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS m FROM documents)
      WHERE doc_id = m"""))

  private val ddCosineLsh = Q("dd_cosine_lsh",
    // sign-LSH bucketed near-dup. Recall < 1 is a property of WHICH pairs
    // share a bucket, not a source of nondeterminism: the ±1 planes are
    // md5-parity-derived, so DuckDB regenerates the identical planes,
    // buckets, and pair set — a full hash oracle (the subset property vs
    // the exact variant is additionally asserted in OpsSpec)
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Dedup.cosineNearDupLsh(emb, "v", "vec_id", 0.5, planes = 6)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      planes AS (SELECT p,
        [CASE WHEN ('0x' || substring(md5('plane:' || p || ':' || d), 1, 15))::BIGINT % 2 = 0
              THEN 1.0 ELSE -1.0 END
          FOR d IN generate_series(0, 63)] AS pv
        FROM generate_series(0, 5) AS t(p)),
      sigs AS (SELECT vec_id,
        string_agg(CASE WHEN list_dot_product(v, pv) >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
        FROM e CROSS JOIN planes GROUP BY vec_id),
      pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM sigs x JOIN sigs y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
      SELECT id_a, id_b,
        round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
      FROM pairs JOIN e a ON id_a = a.vec_id JOIN e b ON id_b = b.vec_id
      WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.5"""))

  // ------------------------------------------------------- similarity search

  private val simTopK = Q("sim_topk_bruteforce",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") % 50 === 0), "v", "vec_id", 5)
        .select(col("query_id"), col("corpus_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
      scored AS (SELECT query_id, c.vec_id AS corpus_id, $cosSql AS cos
        FROM q JOIN (SELECT vec_id, v AS cv FROM e) c ON query_id <> c.vec_id),
      ranked AS (SELECT query_id, corpus_id,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
        FROM scored)
      SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 5"""),
    bench = true)

  /** Fixed-budget IVF (the 100 TB shape): ≈32 hash-mod-sampled centroids
    * regardless of corpus size, so the N×C assignment is linear in N —
    * the strided form's |C| ∝ N made it 101× for 100× data (SCALE.md §12).
    * The divisor n/32 comes from one count; the oracle recomputes the same
    * divisor and replays the same md5-derived sample, so the budgeted
    * index is still hash-exact.
    */
  private val simIvf = Q("sim_ivf_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Similarity.ivfTopKBudget(emb, "v", "vec_id", numCentroids = 32,
        col("id") % 75 === 0, k = 3)
        .select(col("query_id"), col("corpus_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cdiv AS (SELECT greatest(1, count(*) // 32) AS d FROM e),
      cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
        WHERE ${h60Sql("vec_id::VARCHAR", Similarity.CentroidSeed)} % (SELECT d FROM cdiv) = 0),
      scored AS (SELECT e.vec_id AS id, e.v AS qv, centroid_id,
          list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS ccos
        FROM e CROSS JOIN cent),
      assigned AS (SELECT id, qv AS v, centroid_id AS cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, centroid_id) AS r FROM scored)
        WHERE r = 1),
      queries AS (SELECT id AS query_id, v AS qv, cluster_id FROM assigned WHERE id % 75 = 0),
      probed AS (SELECT query_id, c.id AS corpus_id, $cosSql AS cos
        FROM queries q JOIN (SELECT id, v AS cv, cluster_id FROM assigned) c
        ON q.cluster_id = c.cluster_id AND c.id <> q.query_id),
      ranked AS (SELECT query_id, corpus_id,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
        FROM probed)
      SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 3"""),
    bench = true)

  /** Recall@3 of the budgeted IVF against brute force, same queries — the
    * ANN family priced the way the dedup family prices its caps
    * ([[Dedup.pairRecall]]): the oracle replays BOTH chains (exact ranking
    * + the hash-mod centroid index) and the same set-membership fold.
    */
  private val simRecall = Q("sim_recall_at_k",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val exact = Similarity.bruteForceTopK(emb,
        emb.where(col("vec_id") % 75 === 0), "v", "vec_id", 3)
      val approx = Similarity.ivfTopKBudget(emb, "v", "vec_id",
        numCentroids = 32, col("id") % 75 === 0, k = 3)
      Similarity.recallAtK(exact, approx)
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 75 = 0),
      xscored AS (SELECT query_id, c.vec_id AS corpus_id, $cosSql AS cos
        FROM q JOIN (SELECT vec_id, v AS cv FROM e) c ON query_id <> c.vec_id),
      exact AS (SELECT query_id, corpus_id FROM (
        SELECT query_id, corpus_id,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
        FROM xscored) WHERE rank <= 3),
      cdiv AS (SELECT greatest(1, count(*) // 32) AS d FROM e),
      cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
        WHERE ${h60Sql("vec_id::VARCHAR", Similarity.CentroidSeed)} % (SELECT d FROM cdiv) = 0),
      ascored AS (SELECT e.vec_id AS id, e.v AS qv, centroid_id,
          list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS ccos
        FROM e CROSS JOIN cent),
      assigned AS (SELECT id, qv AS v, centroid_id AS cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, centroid_id) AS r FROM ascored)
        WHERE r = 1),
      queries AS (SELECT id AS query_id, v AS qv, cluster_id FROM assigned WHERE id % 75 = 0),
      probed AS (SELECT query_id, c.id AS corpus_id, $cosSql AS cos
        FROM queries qq JOIN (SELECT id, v AS cv, cluster_id FROM assigned) c
        ON qq.cluster_id = c.cluster_id AND c.id <> qq.query_id),
      approx AS (SELECT query_id, corpus_id FROM (
        SELECT query_id, corpus_id,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
        FROM probed) WHERE rank <= 3)
      SELECT count(*) AS n_reference, count(a.query_id) AS n_caught,
        round(count(a.query_id)::DOUBLE / count(*), 6) AS recall
      FROM exact x LEFT JOIN approx a
        ON x.query_id = a.query_id AND x.corpus_id = a.corpus_id"""))

  /** IVF-PQ ADC: coarse quantizer (stride 100) + PQ codebook (stride 50,
    * 4 × 16-dim subspaces) + distance-table scoring. The oracle replays the
    * identical arithmetic (same summation order), so the approximate result
    * is still hash-exact.
    */
  private val simIvfPq = Q("sim_ivfpq_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Similarity.ivfPqTopK(emb, "v", "vec_id", stride = 100,
        col("id") % 75 === 0, k = 3, subspaces = 4, pqStride = 50)
    },
    Some {
      def dj(a: String, b: String): Seq[String] = (0 until 4).map { j =>
        val lo = j * 16 + 1
        s"list_sum(list_transform(generate_series($lo, ${lo + 15}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS d$j"
      }
      val unions = (0 until 4).map(j =>
        s"SELECT id, cid, $j AS ss, d$j AS d FROM pairs").mkString("\n        UNION ALL ")
      val codePivot = (0 until 4).map(j =>
        s"max(CASE WHEN ss = $j THEN cid END) AS c$j").mkString(", ")
      val lutJoins = (0 until 4).map(j =>
        s"JOIN lut l$j ON l$j.query_id = cand.query_id AND l$j.cid = cand.c$j").mkString("\n        ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 100 = 0),
        scored AS (SELECT e.vec_id AS id, e.v AS qv, centroid_id,
            list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS ccos
          FROM e CROSS JOIN cent),
        assigned AS (SELECT id, qv AS v, centroid_id AS cluster_id FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, centroid_id) AS r FROM scored)
          WHERE r = 1),
        cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0),
        pairs AS (SELECT e.vec_id AS id, cid,
          ${dj("v", "cv").mkString(",\n          ")}
          FROM e CROSS JOIN cb),
        expanded AS ($unions),
        best AS (SELECT id, ss, cid,
          row_number() OVER (PARTITION BY id, ss ORDER BY d, cid) AS rn FROM expanded),
        codes AS (SELECT id, $codePivot FROM best WHERE rn = 1 GROUP BY id),
        queries AS (SELECT id AS query_id, v AS qv, cluster_id FROM assigned WHERE id % 75 = 0),
        lut AS (SELECT query_id, cid,
          ${dj("qv", "cv").mkString(",\n          ")}
          FROM queries CROSS JOIN cb),
        cand AS (SELECT q.query_id, c.id AS corpus_id, k.c0, k.c1, k.c2, k.c3
          FROM queries q JOIN assigned c
            ON q.cluster_id = c.cluster_id AND c.id <> q.query_id
          JOIN codes k ON k.id = c.id),
        adc AS (SELECT cand.query_id, corpus_id, l0.d0 + l1.d1 + l2.d2 + l3.d3 AS adc
          FROM cand
          $lutJoins),
        ranked AS (SELECT query_id, corpus_id,
          row_number() OVER (PARTITION BY query_id ORDER BY adc, corpus_id) AS rank FROM adc)
        SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 3"""
    })

  /** Shared KG edge set for the graph-analytics rows: the two-level
    * customer → nation → region IRI graph (same vocab as the RML e2e
    * mappings), so ranks propagate across iterations.
    */
  private def kgEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val cn = t(s, dir, "customer").join(t(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(concat(lit("<http://ex/customer/"), col("c_custkey"), lit(">")).as("src"),
        concat(lit("<http://ex/nation/"), col("n_nationkey"), lit(">")).as("dst"))
    val nr = t(s, dir, "nation").join(t(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .select(concat(lit("<http://ex/nation/"), col("n_nationkey"), lit(">")).as("src"),
        concat(lit("<http://ex/region/"), col("r_regionkey"), lit(">")).as("dst"))
    cn.unionByName(nr)
  }

  private val kgEdgesSql =
    """SELECT '<http://ex/customer/' || c_custkey || '>' AS src,
             '<http://ex/nation/' || n_nationkey || '>' AS dst
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT '<http://ex/nation/' || n_nationkey || '>' AS src,
             '<http://ex/region/' || r_regionkey || '>' AS dst
      FROM nation JOIN region ON n_regionkey = r_regionkey"""

  /** Fixed-iteration PageRank over the KG: the oracle unrolls the same 3
    * iterations with the same `(1.0 - 0.85)` literals, so the doubles agree
    * to well inside the round(8).
    */
  private val kgPageRank = Q("kg_pagerank",
    (s, dir) => Graphs.pageRank(kgEdges(s, dir), "src", "dst",
      iterations = 3, damping = 0.85)
      .select(col("vertex"), round(col("pagerank"), 8).as("pagerank")),
    Some {
      def iter(prev: String, cur: String, contrib: String) =
        s"""$contrib AS (SELECT dst, sum(pr / outdeg) AS inflow
           FROM e JOIN od USING (src) JOIN $prev ON $prev.vertex = e.src GROUP BY dst),
         $cur AS (SELECT v.vertex, (1.0 - 0.85) / n + 0.85 * coalesce(inflow, 0.0) AS pr
           FROM v CROSS JOIN nn LEFT JOIN $contrib ON $contrib.dst = v.vertex)"""
      s"""WITH e AS ($kgEdgesSql),
        v AS (SELECT DISTINCT vertex FROM
          (SELECT src AS vertex FROM e UNION ALL SELECT dst FROM e)),
        od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        nn AS (SELECT count(*)::DOUBLE AS n FROM v),
        p0 AS (SELECT vertex, 1.0 / n AS pr FROM v CROSS JOIN nn),
        ${iter("p0", "p1", "c1")},
        ${iter("p1", "p2", "c2")},
        ${iter("p2", "p3", "c3")}
        SELECT vertex, round(pr, 8) AS pagerank FROM p3"""
    })

  /** Connected components over a worst-case-diameter graph: chains of 10
    * consecutive doc ids (edges i→i+1 except at i≡9 mod 10), so the
    * component label has a closed form — floor(id/10)·10 — while the
    * resolver has to propagate labels down full chains rather than through
    * shallow stars. localThreshold = 0 FORCES the distributed
    * large-star/small-star rounds (the 100 TB path), so this row
    * oracle-checks the star implementation itself, not the driver
    * union-find shortcut.
    */
  private val kgComponents = Q("kg_components",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      // a tail mid-chain (count % 10 != 0) would put a phantom successor
      // vertex in the edge list, but it is harmless BY CONSTRUCTION: the
      // phantom is strictly the largest id in its chain (never a component
      // minimum, so no label moves) and the final left join over real doc
      // ids discards its row — no guard join needed in the benched plan
      val edges = d.where(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val cc = Graphs.connectedComponents(edges, "id_a", "id_b", localThreshold = 0L)
      // singleton semantics per the op's scaladoc: edgeless vertices (a
      // one-doc tail chain) label themselves
      d.join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id").as("id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
    },
    Some("""SELECT doc_id AS id, (doc_id // 10 * 10)::BIGINT AS cluster FROM documents"""))

  /** Incremental-rebuild diff: the "new" snapshot deletes every 7th
    * customer and renames every 11th — the delta is exactly the added
    * (renamed) and removed (deleted + pre-rename) name triples.
    */
  private val kgDiff = Q("kg_diff",
    (s, dir) => {
      def nameTriples(df: org.apache.spark.sql.DataFrame) = df.select(
        concat(lit("<http://ex/customer/"), col("c_custkey"), lit(">")).as("s"),
        lit("<http://ex/vocab/name>").as("p"),
        concat(lit("\""), col("c_name"), lit("\"")).as("o"))
      val cust = t(s, dir, "customer")
      val oldQ = nameTriples(cust)
      val newQ = nameTriples(cust.where(col("c_custkey") % 7 =!= 0)
        .withColumn("c_name", when(col("c_custkey") % 11 === 0,
          concat(col("c_name"), lit(" (renamed)"))).otherwise(col("c_name"))))
      Graphs.kgDiff(oldQ, newQ)
    },
    Some("""WITH oldq AS (SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
          '<http://ex/vocab/name>' AS p, '"' || c_name || '"' AS o FROM customer),
      newq AS (SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
          '<http://ex/vocab/name>' AS p,
          '"' || CASE WHEN c_custkey % 11 = 0 THEN c_name || ' (renamed)' ELSE c_name END || '"' AS o
        FROM customer WHERE c_custkey % 7 <> 0)
      SELECT s, p, o, 'added' AS change FROM newq
      WHERE NOT EXISTS (SELECT 1 FROM oldq WHERE oldq.s = newq.s AND oldq.p = newq.p AND oldq.o = newq.o)
      UNION ALL
      SELECT s, p, o, 'removed' AS change FROM oldq
      WHERE NOT EXISTS (SELECT 1 FROM newq WHERE newq.s = oldq.s AND newq.p = oldq.p AND newq.o = oldq.o)"""))

  private val kgDegrees = Q("kg_degrees",
    (s, dir) => Graphs.degrees(kgEdges(s, dir), "src", "dst"),
    Some(s"""WITH e AS ($kgEdgesSql),
      od AS (SELECT src AS vertex, count(*) AS out_degree FROM e GROUP BY src),
      id AS (SELECT dst AS vertex, count(*) AS in_degree FROM e GROUP BY dst)
      SELECT vertex, coalesce(out_degree, 0)::BIGINT AS out_degree,
        coalesce(in_degree, 0)::BIGINT AS in_degree
      FROM od FULL OUTER JOIN id USING (vertex)"""))

  // ------------------------------------------------------------ text analysis

  private val txtLangid = Q("txt_langid",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred")),
    Some {
      val scores = TextAnalysis.stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
        s"len(regexp_extract_all(lower(text), '${words.mkString("\\b(", "|", ")\\b")}')) AS s_$lang"
      }.mkString(",\n        ")
      val langs = TextAnalysis.stopwords.keys.toSeq.sorted
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH scored AS (SELECT doc_id, $scores FROM documents),
      b AS (SELECT *, $best AS best FROM scored)
      SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM b"""
    },
    bench = true)

  /** Unicode script census ([[TextAnalysis.scriptSignals]]) — the
    * multilingual-crawl routing axis stopword language-ID cannot give.
    * Oracle GENERATED from the same range table (the `\x{..}` classes
    * compile under Java regex and RE2 alike), so op and SQL cannot
    * drift on a block boundary.
    */
  private val txtScriptSignals = Q("txt_script_signals",
    (s, dir) => {
      val names = TextAnalysis.scriptRanges.map(_._1)
      TextAnalysis.scriptSignals(t(s, dir, "documents"), "text")
        .select(col("doc_id") +: names.map(n => col(s"n_$n")) :+
          col("n_cp") :+ col("dominant_script") :+ col("script_frac"): _*)
    },
    Some {
      val counts = TextAnalysis.scriptRanges.map { case (n, cls) =>
        s"length(coalesce(text, '')) - length(regexp_replace(" +
          s"coalesce(text, ''), '[$cls]', '', 'g')) AS n_$n"
      }.mkString(",\n        ")
      val names = TextAnalysis.scriptRanges.map(_._1)
      val mx = s"greatest(${names.map(n => s"n_$n").mkString(", ")})"
      val cases = names.map(n => s"WHEN n_$n = mx THEN '$n'").mkString(" ")
      s"""WITH c AS (SELECT doc_id, length(coalesce(text, '')) AS n_cp,
        $counts FROM documents),
      b AS (SELECT *, $mx AS mx FROM c)
      SELECT doc_id, ${names.map(n => s"n_$n").mkString(", ")}, n_cp,
        CASE WHEN mx = 0 THEN 'none' $cases END AS dominant_script,
        CASE WHEN n_cp > 0 AND mx > 0 THEN mx::DOUBLE / n_cp
          ELSE 0.0 END AS script_frac
      FROM b"""
    })

  private val txtQuality = Q("txt_quality",
    // widen: per-row regex/token counting off the few-task small-SF scan
    // (r19 baseline: 1.3 s wall, 3.9 s user on 32 cores)
    (s, dir) => TextAnalysis.qualitySignals(graft.util.ScanSpread.widen(
      t(s, dir, "documents").select(col("doc_id"), col("text"))), "text")
      .select(col("doc_id"), col("n_chars_m"), col("n_tokens"), col("mean_tok_len"),
        col("punct_ratio"), col("stopword_ratio"), col("quality_score")),
    Some {
      val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
      val stopRe = allStop.mkString("\\b(", "|", ")\\b")
      s"""WITH m AS (SELECT doc_id,
        length(text)::DOUBLE AS nc,
        len($tokenizeSql)::DOUBLE AS nt,
        length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE AS alnum,
        len(regexp_extract_all(text, '[!?.,;:]'))::DOUBLE AS punct,
        len(regexp_extract_all(lower(text), '$stopRe'))::DOUBLE AS stop
        FROM documents)
      SELECT doc_id,
        nc::BIGINT AS n_chars_m,
        nt::BIGINT AS n_tokens,
        round(CASE WHEN nt > 0 THEN alnum / nt ELSE 0.0 END, 4) AS mean_tok_len,
        round(CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END, 6) AS punct_ratio,
        round(CASE WHEN nt > 0 THEN stop / nt ELSE 0.0 END, 6) AS stopword_ratio,
        round((CASE WHEN nt > 0 THEN least(1.0, nt / 100.0) ELSE 0.0 END) * 0.5 +
          (CASE WHEN nt > 0 THEN least(1.0, stop / nt * 5.0) ELSE 0.0 END) * 0.3 +
          (CASE WHEN nc > 0 THEN 1.0 - least(1.0, punct / nc * 10.0) ELSE 0.0 END) * 0.2,
          6) AS quality_score
      FROM m"""
    },
    bench = true)

  private val txtTokens = Q("txt_token_counts",
    (s, dir) => TextAnalysis.tokenCounts(t(s, dir, "documents"), "text")
      .select(col("doc_id"), col("ws_tokens"), col("bpe_ish_tokens")),
    Some("""SELECT doc_id,
      len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ws_tokens,
      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens
      FROM documents"""))

  /** The closed-form synthetic merges table for the BPE rows: letters,
    * digits, and the two UTF-8 bytes of é each fully merge through ranked
    * steps, so per-word token counts are small known constants.
    */
  private[catalog] val bpeMerges: Seq[(String, String)] = Seq(
    ("a", "b"), ("ab", "c"), ("x", "y"), ("1", "2"), ("Ã", "©"))

  /** Per-doc synthetic text whose BPE token count is closed-form:
    * `"abc" + " xy"*a + " 12"*b + " é."` with a = doc_id%4, b = doc_id%3.
    * Under [[bpeMerges]]: [abc]=1, each [ sp][xy]=2, each [ sp][12]=2,
    * [ sp,é]=2 (é's two bytes merge), [.]=1 → 4 + 2a + 2b tokens; under
    * the EMPTY table, count == UTF-8 byte count (the pre-tokenizer
    * partitions the text) = 7 + 3a + 3b.
    */
  private[catalog] def bpeSyntheticText: Column = concat(lit("abc"),
    call_function("repeat", lit(" xy"), (col("doc_id") % 4).cast("int")),
    call_function("repeat", lit(" 12"), (col("doc_id") % 3).cast("int")),
    lit(" é."))

  /** Byte-pair-merge tokenization (the public GPT-2 algorithm) with a
    * closed-form merges table: the oracle states the merged count AND the
    * empty-table byte-count invariant, so both the merge loop and the
    * pre-tokenizer partition property are value-checked per row.
    */
  private val txtBpe = Q("txt_bpe_tokens",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), bpeSyntheticText.as("text"))
      .select(col("doc_id"),
        graft.ops.Bpe.tokenCount(bpeMerges)(col("text")).as("bpe_tokens"),
        graft.ops.Bpe.tokenCount(Seq.empty)(col("text")).as("byte_tokens"),
        octet_length(col("text")).cast("long").as("n_bytes")),
    Some("""SELECT doc_id,
      (4 + 2*(doc_id % 4) + 2*(doc_id % 3))::BIGINT AS bpe_tokens,
      strlen('abc' || repeat(' xy', (doc_id % 4)::INT)
        || repeat(' 12', (doc_id % 3)::INT) || ' é.')::BIGINT AS byte_tokens,
      (7 + 3*(doc_id % 4) + 3*(doc_id % 3))::BIGINT AS n_bytes
      FROM documents"""),
    bench = true)

  /** BPE vocabulary LEARNING ([[graft.ops.Bpe.learnMerges]] — the
    * Sennrich dictionary algorithm: one corpus groupBy to a capped
    * piece-frequency dict, then the merge loop driver-side over the
    * bounded dict). The corpus is the constant "roro rora roro" over
    * every document row, whose merge sequence is hand-derivable (pair
    * counts 5N/3N/2N/N; ties break to the smallest id pair), so the
    * oracle states the learned table verbatim — invariant in N because
    * frequencies scale uniformly.
    */
  private val txtBpeLearn = Q("txt_bpe_learn",
    (s, dir) => {
      import s.implicits._
      val corpus = t(s, dir, "documents")
        .select(col("doc_id"), lit("roro rora roro").as("text"))
      graft.ops.Bpe.learnMerges(corpus, "text", nMerges = 5)
        .zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("merge_rank", "lhs", "rhs")
    },
    Some("""SELECT * FROM (VALUES
      (0, 'r', 'o'), (1, ' ', 'ro'), (2, 'r', 'a'),
      (3, 'ro', 'ro'), (4, ' ro', 'ro'))
      AS t(merge_rank, lhs, rhs)"""))

  private val txtRepetition = Q("txt_repetition",
    (s, dir) => TextAnalysis.repetitionSignals(t(s, dir, "documents"), "text")
      .select(col("doc_id"), col("dup_line_frac"), col("dup_ngram_frac")),
    Some(s"""WITH m AS (SELECT doc_id,
        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines,
        $tokenizeSql AS toks
        FROM documents),
      g AS (SELECT doc_id, lines,
        CASE WHEN len(toks) >= 3 THEN
          list_transform(range(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        ELSE [] END AS grams
        FROM m)
      SELECT doc_id,
        round(CASE WHEN len(lines) > 0
          THEN (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)
          ELSE 0.0 END, 6) AS dup_line_frac,
        round(CASE WHEN len(grams) > 0
          THEN (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams)
          ELSE 0.0 END, 6) AS dup_ngram_frac
      FROM g"""))

  /** Decontamination: corpus docs sharing any 5-gram with a probe set (the
    * 20 lowest-id docs stand in for benchmark data). Probe grams broadcast;
    * corpus grams are generated inside the scan.
    */
  private val txtContamination = Q("txt_contamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.ngramContamination(
        docs.where(col("doc_id") >= 20), "text", "doc_id",
        docs.where(col("doc_id") < 20), "text", "doc_id", k = 5)
    },
    Some(s"""WITH grams AS (
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len($tokenizeSql) >= 5 THEN
            list_transform(range(1, len($tokenizeSql) - 3),
              i -> $tokenizeSql[i] || ' ' || $tokenizeSql[i+1] || ' ' || $tokenizeSql[i+2] || ' ' || $tokenizeSql[i+3] || ' ' || $tokenizeSql[i+4])
          ELSE [] END)) AS gram
        FROM documents),
      probe AS (SELECT DISTINCT doc_id AS probe_id, gram FROM grams WHERE doc_id < 20),
      corpus AS (SELECT doc_id, gram FROM grams WHERE doc_id >= 20)
      SELECT corpus.doc_id, probe.probe_id, count(*) AS shared_ngrams
      FROM corpus JOIN probe USING (gram)
      GROUP BY 1, 2"""))

  /** Deterministic stratified sampling: portable md5 bucket per id, a
    * per-language keep rate — the exact same row set in any engine.
    */
  private val txtSample = Q("txt_stratified_sample",
    (s, dir) => graft.ops.Sampling.stratifiedSample(
      t(s, dir, "documents"), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1, seed = 7)
      .select(col("doc_id"), col("lang")),
    Some(s"""SELECT doc_id, lang FROM documents
      WHERE ${h60Sql("doc_id::VARCHAR", 7)} % 1000000 <
        CASE WHEN lang = 'en' THEN 500000
             WHEN lang = 'de' THEN 250000
             ELSE 100000 END"""))

  /** Fuzzy decontamination: every 50th document is the "benchmark"; any
    * corpus doc sharing a band signature with a probe is flagged. The
    * oracle bands BOTH frames through the same parameterized CTE chain.
    */
  private val txtFuzzyContamination = Q("txt_fuzzy_contamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.fuzzyContamination(docs, "text", "doc_id",
        docs.where(col("doc_id") % 50 === 0), "text", "doc_id")
    },
    Some(s"""WITH $minhashCtes,
      ${minhashCtesFor("(SELECT * FROM documents WHERE doc_id % 50 = 0)", "p_")},
      hits AS (SELECT DISTINCT b.id FROM bands b
        JOIN (SELECT DISTINCT band, sig FROM p_bands) q USING (band, sig))
      SELECT d.doc_id AS id, (h.id IS NOT NULL) AS is_contaminated
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.id"""))

  /** Quality-weighted sampling: keep probability ∝ document length
    * (n_chars / 400, clamped) — the oracle replays the md5 bucket and the
    * clamp exactly.
    */
  private val txtWeightedSample = Q("txt_weighted_sample",
    (s, dir) => graft.ops.Sampling.weightedSample(
      t(s, dir, "documents"), "doc_id", col("n_chars") / 400.0, seed = 5)
      .select(col("doc_id"), col("n_chars")),
    Some(s"""SELECT doc_id, n_chars FROM documents
      WHERE ${h60Sql("doc_id::VARCHAR", 5)} % 1000000 <
        floor(greatest(0.0, least(1.0, n_chars / 400.0)) * 1000000)::BIGINT"""))

  /** PII scrubbing + audit counts; same RE2-compatible patterns in DuckDB
    * so the redacted text hash-matches byte-for-byte.
    */
  private val txtPii = Q("txt_pii_redaction",
    (s, dir) => {
      val d = TextAnalysis.piiSignals(t(s, dir, "documents"), "text")
      d.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("redacted"),
        col("n_emails"), col("n_ipv4"))
    },
    Some("""SELECT doc_id,
      regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g') AS redacted,
      len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4
      FROM documents"""))

  /** dedupCorpusBy: same capped-banding + CC pipeline as
    * dd_cluster_pipeline, but the kept representative is the cluster
    * member with the most characters (ties → smallest id) — the oracle
    * reuses the shared cluster CTEs and picks reps with a window.
    */
  private val ddClusterPriority = Q("dd_cluster_priority",
    (s, dir) => Dedup.dedupCorpusBy(t(s, dir, "documents"), "text", "doc_id",
      "n_chars"),
    Some(s"""WITH RECURSIVE $minhashCtes, $clusterCtes,
      m AS (SELECT d.doc_id AS id, c.cluster, d.n_chars AS pr
        FROM documents d JOIN clus c ON c.id = d.doc_id)
      SELECT id, cluster,
        (row_number() OVER (PARTITION BY cluster ORDER BY pr DESC, id ASC) = 1) AS is_kept
      FROM m"""))

  /** URL provenance gate: deterministic synthetic URLs (host from the
    * source column, path shape from doc_id mod 3) through urlSignals —
    * host/domain/TLD/path-depth/query extraction is pure regexp codegen,
    * replayed by the oracle with the same string ops.
    */
  private val txtUrlSignals = Q("txt_url_signals",
    (s, dir) => {
      val url = concat(lit("https://www."), col("source"), lit(".example.com"),
        when(col("doc_id") % 3 === 0, lit("/a/b/page?q=1"))
          .when(col("doc_id") % 3 === 1, lit("/a/"))
          .otherwise(lit("")))
      TextAnalysis.urlSignals(
          t(s, dir, "documents").select(col("doc_id"), url.as("url")), "url")
        .select(col("doc_id"), col("url_host"), col("url_domain"),
          col("url_tld"), col("url_path_depth"), col("url_has_query"))
    },
    Some("""SELECT doc_id,
      'www.' || source || '.example.com' AS url_host,
      'example.com' AS url_domain, 'com' AS url_tld,
      CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 1 ELSE 0 END AS url_path_depth,
      doc_id % 3 = 0 AS url_has_query
      FROM documents"""))

  /** Canonical URL, the crawl dedup key ([[TextAnalysis.canonicalizeUrl]]
    * — declarative percent-normalization, dot-segment fold, default-port
    * drop, fragment strip, sorted query): the generator plants every
    * normalization axis (mixed case, :80 vs :8080, './'+'../' segments,
    * %2f/%41/%7e escapes, a fragment, unordered query params) and the
    * oracle states the expected canonical string closed-form — no
    * algorithm replay needed because the fixture's normal form is known
    * by construction.
    */
  private val txtUrlCanonical = Q("txt_url_canonical",
    (s, dir) => {
      val url = concat(lit("HTTP://ExAmPle"), col("doc_id") % 50,
        lit(".CoM:"),
        when(col("doc_id") % 2 === 0, lit("80")).otherwise(lit("8080")),
        lit("/seg"), col("doc_id") % 7,
        lit("/./up/../b%2fc%41?z=9&a=%7e#frag"), col("doc_id"))
      TextAnalysis.canonicalizeUrl(
          t(s, dir, "documents").select(col("doc_id"), url.as("url")),
          "url", sortQuery = true)
        .select(col("doc_id"), col("url"), col("url_canonical"))
    },
    Some("""SELECT doc_id,
      'HTTP://ExAmPle' || (doc_id % 50) || '.CoM:' ||
        (CASE WHEN doc_id % 2 = 0 THEN '80' ELSE '8080' END) ||
        '/seg' || (doc_id % 7) || '/./up/../b%2fc%41?z=9&a=%7e#frag' || doc_id
        AS url,
      'http://example' || (doc_id % 50) || '.com' ||
        (CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END) ||
        '/seg' || (doc_id % 7) || '/b%2FcA?a=~&z=9' AS url_canonical
      FROM documents"""))

  /** Domain blocklist: registered domain from the URL, broadcast
    * anti-join against the blocked set (corpus never shuffles).
    */
  private val txtDomainBlocklist = Q("txt_domain_blocklist",
    (s, dir) => TextAnalysis.filterBlockedDomains(
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          concat(lit("https://"), col("source"), lit(".com/x")).as("url")),
      "url", Seq("src0.com", "SRC3.com")),
    Some("""SELECT doc_id, source, 'https://' || source || '.com/x' AS url
      FROM documents WHERE lower(source) || '.com' NOT IN ('src0.com', 'src3.com')"""))

  /** Public-suffix-aware registered domain + fragment-aware query
    * detection: half the synthetic hosts sit under the `co.uk` ccSLD
    * (where the two-label approximation would report `co.uk` itself), and
    * the path cycles through a real query, a '?' hidden INSIDE a fragment
    * (no query), and no query at all.
    */
  private val txtUrlPsl = Q("txt_url_psl",
    (s, dir) => {
      val url = concat(lit("https://"), col("source"), lit(".example."),
        when(col("doc_id") % 2 === 0, lit("co.uk")).otherwise(lit("com")),
        when(col("doc_id") % 3 === 0, lit("/p#sec?a"))
          .when(col("doc_id") % 3 === 1, lit("/p?q=1"))
          .otherwise(lit("/p")))
      TextAnalysis.urlSignals(
          t(s, dir, "documents").select(col("doc_id"), url.as("url")), "url",
          Seq("co.uk", "com", "uk"))
        .select(col("doc_id"), col("url_domain"), col("url_has_query"))
    },
    Some("""SELECT doc_id,
      'example.' || CASE WHEN doc_id % 2 = 0 THEN 'co.uk' ELSE 'com' END AS url_domain,
      doc_id % 3 = 1 AS url_has_query
      FROM documents"""))

  private val txtFingerprint = Q("txt_fingerprint",
    // widen: per-row md5 + rolling-hash walks off a single-row-group scan
    // ran serial (r19 baseline: wall 1.1 s ≈ user CPU); per-row results
    // are partitioning-independent
    (s, dir) => graft.util.ScanSpread.widen(
      t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp_md5"),
      TextAnalysis.rollingHash(col("text")).as("fp_rolling")),
    Some(s"""SELECT doc_id,
      md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp_md5,
      list_reduce(
        list_prepend(0::BIGINT,
          list_transform($tokenizeSql, tok -> ${h60Sql("tok", 7)} % 2147483647)),
        (acc, x) -> (acc * 31 + x) % 2147483647) AS fp_rolling
      FROM documents"""),
    bench = true)

  // --------------------------------------------------------------- multimodal

  private val mmMeta = Q("mm_binary_metadata",
    (s, dir) => Multimodal.withBinaryPayload(t(s, dir, "documents"), "text", "text")
      .select(col("doc_id"), col("meta.modality").as("modality"),
        col("meta.n_bytes").as("n_bytes"), col("meta.checksum").as("checksum")),
    Some("""SELECT doc_id, 'text' AS modality,
      octet_length(encode(text)) AS n_bytes, md5(text) AS checksum FROM documents"""))

  private val mmFrames = Q("mm_frame_sample",
    (s, dir) => Multimodal.frameSample(
        Multimodal.withBinaryPayload(t(s, dir, "documents"), "text", "video"), 100)
      .select(col("doc_id"), col("frame_idx"), col("byte_offset")),
    Some("""SELECT doc_id, byte_offset // 100 AS frame_idx, byte_offset FROM (
      SELECT doc_id, unnest(generate_series(0, greatest(octet_length(encode(text)) - 1, 0), 100)) AS byte_offset
      FROM documents)"""))

  /** REAL codec round-trip: per-doc solid-color PNGs (dims and RGB from
    * doc_id) encoded by the JDK PNG writer, decoded by
    * [[Multimodal.decodeImages]] — the oracle predicts decoded width/
    * height/channels and the exact mean pixel value (PNG is lossless, so
    * the solid color survives byte-for-byte). Exercises a genuine
    * javax.imageio encode→decode path, not a checksum-derived fake.
    */
  private val mmDecode = Q("mm_decode_image",
    (s, dir) => {
      val imgs = wideDocIds(s, dir).select(col("doc_id"),
        Multimodal.syntheticPng(
          (lit(8) + col("doc_id") % 5).cast("int"),
          (lit(8) + col("doc_id") % 3).cast("int"),
          (col("doc_id") % 256).cast("int"),
          (col("doc_id") * 2 % 256).cast("int"),
          (col("doc_id") * 3 % 256).cast("int")).as("payload"))
      Multimodal.decodeImages(imgs, "payload")
        .select(col("doc_id"), col("img_width"), col("img_height"),
          col("img_channels"), round(col("img_mean"), 6).as("img_mean"),
          col("decode_error"))
    },
    Some("""SELECT doc_id, (8 + doc_id % 5)::INT AS img_width,
      (8 + doc_id % 3)::INT AS img_height, 3::INT AS img_channels,
      round(((doc_id % 256) + (doc_id * 2 % 256) + (doc_id * 3 % 256)) / 3.0, 6) AS img_mean,
      NULL::VARCHAR AS decode_error
      FROM documents"""),
    bench = true)

  /** REAL resize round-trip: solid PNGs sized above/below the 16-px box
    * (dims and RGB from doc_id) run the full decode → bilinear resample →
    * re-encode chain ([[Multimodal.resizeImages]]) and are then re-decoded
    * — the oracle predicts fit-inside-box target dims (same round-half-up
    * double arithmetic on both sides) and the exact mean pixel value
    * (bilinear over a solid color is that color; small images pass through
    * untouched).
    */
  private val mmResize = Q("mm_resize_image",
    (s, dir) => {
      val imgs = t(s, dir, "documents").select(col("doc_id"),
        Multimodal.syntheticPng(
          (lit(8) + col("doc_id") % 40).cast("int"),
          (lit(6) + col("doc_id") % 21).cast("int"),
          (col("doc_id") % 256).cast("int"),
          (col("doc_id") * 5 % 256).cast("int"),
          (col("doc_id") * 11 % 256).cast("int")).as("payload"))
      Multimodal.decodeImages(Multimodal.resizeImages(imgs, 16, "payload"))
        .select(col("doc_id"), col("img_resized"),
          col("resized_width"), col("resized_height"),
          col("img_width"), col("img_height"),
          round(col("img_mean"), 6).as("img_mean"), col("resize_error"))
    },
    Some("""WITH d AS (SELECT doc_id, (8 + doc_id % 40)::INT AS w,
        (6 + doc_id % 21)::INT AS h FROM documents),
      r AS (SELECT doc_id, w, h, greatest(w, h) > 16 AS img_resized,
        CASE WHEN greatest(w, h) > 16
          THEN greatest(1, round(w * 16.0 / greatest(w, h))::INT) ELSE w END AS rw,
        CASE WHEN greatest(w, h) > 16
          THEN greatest(1, round(h * 16.0 / greatest(w, h))::INT) ELSE h END AS rh
        FROM d)
      SELECT doc_id, img_resized, rw AS resized_width, rh AS resized_height,
        rw AS img_width, rh AS img_height,
        round(((doc_id % 256) + (doc_id * 5 % 256) + (doc_id * 11 % 256)) / 3.0, 6) AS img_mean,
        NULL::VARCHAR AS resize_error
      FROM r"""))

  /** REAL audio codec round-trip: per-doc ±amp square-wave WAVs (rate,
    * length and amplitude from doc_id) encoded by the JDK WAV writer,
    * decoded by [[Multimodal.decodeAudio]] — the oracle predicts the
    * declared format, the frame count/duration, and the exact amplitude
    * stats (constant |±amp| ⇒ mean |x| = RMS = amp/32768, lossless PCM).
    */
  private val mmAudio = Q("mm_decode_audio",
    (s, dir) => {
      val wavs = t(s, dir, "documents").select(col("doc_id"),
        Multimodal.syntheticWav(
          lit(8000),
          (lit(64) + col("doc_id") % 32).cast("int"),
          (col("doc_id") * 7 % 16384).cast("int")).as("payload"))
      Multimodal.decodeAudio(wavs, "payload")
        .select(col("doc_id"), col("audio_sample_rate"), col("audio_channels"),
          col("audio_bits"), col("audio_frames"),
          round(col("audio_duration_s"), 6).as("audio_duration_s"),
          round(col("audio_mean_abs"), 6).as("audio_mean_abs"),
          round(col("audio_rms"), 6).as("audio_rms"),
          col("decode_error"))
    },
    Some("""SELECT doc_id, 8000::INT AS audio_sample_rate, 1::INT AS audio_channels,
      16::INT AS audio_bits, (64 + doc_id % 32)::BIGINT AS audio_frames,
      round((64 + doc_id % 32) / 8000.0, 6) AS audio_duration_s,
      round((doc_id * 7 % 16384) / 32768.0, 6) AS audio_mean_abs,
      round((doc_id * 7 % 16384) / 32768.0, 6) AS audio_rms,
      NULL::VARCHAR AS decode_error
      FROM documents"""),
    bench = true)


  /** MP3 frame census WITHOUT decode ([[graft.ops.AudioBitstream
    * .mp3FrameCensus]]): synthetic per-doc MPEG1-L3 streams behind a
    * syncsafe ID3v2 tag, even/odd frames at two bitrate indices (unequal
    * ⇒ a planted VBR stream) — the oracle predicts the census from the
    * doc_id formulas, duration via the same round-6 double-division
    * pattern as the WAV row.
    */
  /** Synthetic HTML wrapping each document's text — title/h1 repeat the
    * doc id, a style block, a comment, a script block containing a bare
    * `<`, and a tail paragraph with named + numeric entities. The
    * expected extraction is closed-form, so the HTML rows' oracles
    * never parse HTML.
    */
  private def syntheticHtml(id: Column, body: Column) = concat(
    lit("<html><head><title>Doc "), id,
    lit("</title><style>p { color: red; }</style></head><body><h1>Doc <b>"),
    id,
    lit("</b></h1><!-- hidden --><p>"), body,
    lit("</p><script>var x = 1 < 2;</script>" +
      "<p>tail &amp; 5 &lt; 7 &#65;</p></body></html>"))

  private def syntheticHtmlCol =
    syntheticHtml(col("doc_id"), coalesce(col("text"), lit("")))

  /** SQL image of the expected [[graft.ops.WebIngest.extractText]] output
    * for [[syntheticHtmlCol]]; ends in `h_exp(doc_id, expected)`.
    */
  private val htmlExpectedCtes =
    """h_c AS (SELECT doc_id, trim(regexp_replace(coalesce(text, ''), '[\s]+', ' ', 'g')) AS ct
        FROM documents),
      h_exp AS (SELECT doc_id,
          'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10) ||
          (CASE WHEN ct = '' THEN '' ELSE ct || chr(10) END) ||
          'tail & 5 < 7 A' AS expected
        FROM h_c)"""

  /** WARC record parse ([[graft.ops.WebIngest.warcRecords]]): synthetic
    * two-record segments (warcinfo + conversion carrying the HTML), odd
    * doc_ids gzip-wrapped — the oracle is identical for both because
    * the inflate happens before framing. Content lengths are UTF-8 byte
    * counts (fixture text is ASCII, so SQL length() matches).
    */
  private val webWarcRecords = Q("web_warc_records",
    (s, dir) => {
      val segs = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.WebIngest.syntheticWarc(col("doc_id"), syntheticHtmlCol,
          col("doc_id") % 2 === 1).as("payload"))
      graft.ops.WebIngest.warcRecords(segs, "payload")
        .select(col("doc_id"), col("record_idx"), col("warc_type"),
          col("target_uri"), col("content_type"), col("content_length"),
          col("content_text"), col("parse_error"))
    },
    Some("""WITH h AS (SELECT doc_id,
        '<html><head><title>Doc ' || doc_id ||
        '</title><style>p { color: red; }</style></head><body><h1>Doc <b>' ||
        doc_id || '</b></h1><!-- hidden --><p>' || coalesce(text, '') ||
        '</p><script>var x = 1 < 2;</script><p>tail &amp; 5 &lt; 7 &#65;</p></body></html>'
          AS html
        FROM documents)
      SELECT doc_id, 0::INT AS record_idx, 'warcinfo' AS warc_type,
        NULL::VARCHAR AS target_uri, 'application/warc-fields' AS content_type,
        27::BIGINT AS content_length,
        'software: graft-synthetic' || chr(13) || chr(10) AS content_text,
        NULL::VARCHAR AS parse_error
      FROM documents
      UNION ALL
      SELECT doc_id, 1::INT, 'conversion',
        'http://example.com/doc/' || doc_id, 'text/html',
        length(html)::BIGINT, html, NULL::VARCHAR
      FROM h"""))

  /** HTML → text extraction ([[graft.ops.WebIngest.htmlText]] — script/
    * style/comment dropping, block-tag newlines, entity decode,
    * whitespace collapse), oracle from the closed-form expected string.
    */
  private val webHtmlText = Q("web_html_text",
    (s, dir) => graft.ops.WebIngest.htmlText(
      t(s, dir, "documents").select(col("doc_id"), col("text"),
        syntheticHtmlCol.as("html")), "html")
      .select(col("doc_id"), col("html_text"), col("html_text_chars")),
    Some(s"""WITH $htmlExpectedCtes
      SELECT doc_id, expected AS html_text,
        length(expected)::BIGINT AS html_text_chars
      FROM h_exp"""))

  /** The ingest chain end-to-end: WARC segment → conversion records →
    * HTML text — the WET-style pass a pretraining pipeline runs over a
    * crawl dump, here oracle-checked through both parsers at once.
    */
  private val webWarcHtmlIngest = Q("web_warc_html_ingest",
    (s, dir) => {
      val segs = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.WebIngest.syntheticWarc(col("doc_id"), syntheticHtmlCol,
          col("doc_id") % 2 === 1).as("payload"))
      val conv = graft.ops.WebIngest.warcRecords(segs, "payload")
        .where(col("warc_type") === "conversion")
      graft.ops.WebIngest.htmlText(conv, "content_text")
        .select(col("doc_id"), col("target_uri"), col("html_text_chars"))
    },
    Some(s"""WITH $htmlExpectedCtes
      SELECT doc_id, 'http://example.com/doc/' || doc_id AS target_uri,
        length(expected)::BIGINT AS html_text_chars
      FROM h_exp"""))

  /** RAW-crawl ingest (non-WET): `response` records whose bodies are real
    * HTTP messages — [[graft.ops.WebIngest.warcRecordBytes]] keeps the
    * body as BYTES so [[graft.ops.WebIngest.httpResponses]] can decode it
    * with its DECLARED charset (the fixture cycles utf-8 / iso-8859-1 /
    * windows-1252 over a non-ASCII page; blanket UTF-8 would mangle two
    * of the three), then [[graft.ops.WebIngest.htmlText]] extracts. The
    * oracle states status/media/charset/text closed-form — the SAME
    * extracted text for all three charsets is itself the decode check.
    */
  private val webHttpIngest = Q("web_http_ingest",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val status = when(col("doc_id") % 5 === 4, lit(404)).otherwise(lit(200))
      val cs = element_at(
        array(lit("utf-8"), lit("iso-8859-1"), lit("windows-1252")),
        (col("doc_id") % 3).cast("int") + 1)
      val page = when(col("doc_id") % 5 === 4, lit("<p>gone</p>"))
        .otherwise(concat(lit("<p>café "), col("doc_id"), lit(" résumé</p>")))
      val segs = docs.select(col("doc_id"),
        graft.ops.WebIngest.syntheticWarcResponse(col("doc_id"), page,
          status, cs, col("doc_id") % 2 === 1).as("payload"))
      // payload/target_uri dropped too: httpResponses is an opaque
      // mapPartitions, so Spark can't prune below it — keeping the raw
      // segment bytes would re-serialize them through the second walk
      val resp = graft.ops.WebIngest.httpResponses(
        graft.ops.WebIngest.warcRecordBytes(segs)
          .where(col("warc_type") === "response" && col("parse_error").isNull)
          .drop("parse_error", "record_idx", "warc_type", "content_type",
            "content_length", "payload", "target_uri"))
      graft.ops.WebIngest.htmlText(resp, "http_body")
        .select(col("doc_id"), col("http_status"), col("http_content_type"),
          col("http_charset"), col("html_text"))
    },
    Some("""SELECT doc_id,
      CASE WHEN doc_id % 5 = 4 THEN 404 ELSE 200 END AS http_status,
      'text/html' AS http_content_type,
      (['utf-8', 'iso-8859-1', 'windows-1252'])[(doc_id % 3) + 1] AS http_charset,
      CASE WHEN doc_id % 5 = 4 THEN 'gone'
        ELSE 'café ' || doc_id || ' résumé' END AS html_text
      FROM documents"""))

  /** THE crawl flagship: the full pretraining-ingest funnel in one row —
    * WARC segments (odd ids gzip-wrapped) → conversion records → HTML →
    * text extraction → curation (C4 gates + repetition signal +
    * exact-dedup canonicalization + PII redaction, one
    * [[graft.ops.Curation.curate]] pass) → token-budget sequence packing
    * of the survivors. Duplicates are PLANTED by construction: every page
    * carries the text of its class `doc_id % 397`, so pages 397+ are
    * byte-identical to an earlier page and must lose canonicality;
    * quality variety comes from the pipe_curate suffix branches keyed on
    * the class (extra sentences / curly code / lorem / bare period). The
    * oracle replays the whole funnel closed-form: the extracted text is
    * the deterministic h_exp shape over the CLASS text, gates and
    * dup-line fraction are the pipe_curate expressions over it, the
    * keeper is min(doc_id) per identical text, and packing is the
    * pipe_pack_sequences window over the survivors (shard = doc_id % 8,
    * budget 512). Dropped pages keep null pack columns, so the row shows
    * the funnel, not just the output.
    */
  /** CDX selection — how a real Common Crawl consumer reads a crawl:
    * cdxj index lines ([[graft.ops.WebIngest.cdxjEntries]], declarative
    * split+from_json+try_cast) select records by status/mime, then ONLY
    * the selected (offset, length) spans are fetched and parsed
    * ([[graft.ops.WebIngest.warcRecordAt]] over the per-record-gzipped
    * segment), composing into [[graft.ops.WebIngest.httpResponses]] →
    * htmlText unchanged. The generator emits the segment WITH its real
    * CDX (member offsets/lengths), the selection keeps status-200 lines
    * only, and the oracle states urlkey/URI/status/text closed-form —
    * the 404 record exists in every segment and must NOT appear.
    */
  private val webCdxSelect = Q("web_cdx_select",
    (s, dir) => {
      val gen = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.WebIngest.syntheticWarcCdx(col("doc_id"),
          concat(lit("<p>café "), col("doc_id"), lit(" page</p>"))).as("g"))
      val lines = gen.select(col("doc_id"), col("g._1").as("payload"),
        explode(col("g._2")).as("cdx_line"))
      val selected = graft.ops.WebIngest.cdxjEntries(lines, "cdx_line")
        .where(col("parse_error").isNull && col("cdx_status") === 200 &&
          col("cdx_mime") === "text/html")
        .select(col("doc_id"), col("payload"), col("urlkey"),
          col("cdx_offset"), col("cdx_length"))
      val rec = graft.ops.WebIngest.warcRecordAt(selected)
        // payload + span dropped before the opaque downstream walks so
        // raw segment bytes never re-serialize through them
        .where(col("parse_error").isNull)
        .select(col("doc_id"), col("urlkey"), col("target_uri"),
          col("content_bytes"))
      val resp = graft.ops.WebIngest.httpResponses(rec)
      graft.ops.WebIngest.htmlText(resp.where(col("parse_error").isNull)
          .drop("parse_error", "content_bytes"), "http_body")
        .select(col("doc_id"), col("urlkey"), col("target_uri"),
          col("http_status"), col("html_text"))
    },
    Some("""SELECT doc_id,
      'com,example)/doc/' || doc_id AS urlkey,
      'http://example.com/doc/' || doc_id AS target_uri,
      200 AS http_status,
      'café ' || doc_id || ' page' AS html_text
      FROM documents"""))

  /** Redirect hops + revisit dedup — the other two shapes a crawl-audit
    * user hits on file one: the 301's `Location` (surfaced by
    * [[graft.ops.WebIngest.httpResponses]]) resolves the hop to its
    * landing record, and the revisit record's WARC-Refers-To (first-class
    * on the record walk) resolves the duplicate URL to its canonical
    * capture. ONE pass, ONE exchange: all record kinds ride a single
    * `groupBy(doc_id)` with conditional `collect_list`s, then the
    * hop→final and revisit→canonical matches are array `filter`s +
    * explodes on the grouped row — the r13 shape (four doc-keyed frames
    * re-joined three times) re-parsed the segment three times and paid
    * three shuffles for what is per-doc work; exploding the filtered
    * arrays reproduces the joins' exact multiset (inner semantics: a doc
    * missing any piece emits nothing). Grouped state is one doc's own
    * record list — the same per-key bound politeSchedule carries. The
    * oracle states every URI/digest/body closed-form from doc_id.
    */
  private val webRedirectRevisit = Q("web_redirect_revisit",
    (s, dir) => {
      val segs = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.WebIngest.syntheticWarcRedirect(col("doc_id"),
          col("doc_id") % 2 === 1).as("payload"))
      val recs = graft.ops.WebIngest.warcRecordBytes(segs)
        .where(col("parse_error").isNull)
        .select(col("doc_id"), col("warc_type"), col("target_uri"),
          col("record_id"), col("warc_refers_to"), col("payload_digest"),
          col("content_bytes"))
      // revisit rows pass through too (their non-HTTP bodies degrade by
      // name and are never read) — one parse, no second scan of the segs
      val parsed = graft.ops.WebIngest.httpResponses(recs)
      val isResp = col("warc_type") === "response"
      val agg = parsed.groupBy(col("doc_id")).agg(
        collect_list(when(isResp && col("http_status") === 301,
          struct(col("target_uri").as("start_uri"),
            col("http_location")))).as("hops"),
        collect_list(when(isResp && col("http_status") === 200,
          struct(col("target_uri").as("final_uri"), col("record_id"),
            col("http_body")))).as("finals"),
        collect_list(when(col("warc_type") === "revisit",
          struct(col("target_uri").as("dup_uri"), col("warc_refers_to"),
            col("payload_digest")))).as("revs"),
        // revisit canonicals match ANY captured response (r13 join
        // semantics), not just 200 finals — a revisit can point at a
        // non-200 capture (soft-404 recrawl) and must still resolve
        collect_list(when(isResp && col("record_id").isNotNull,
          struct(col("target_uri").as("cap_uri"),
            col("record_id")))).as("caps"))
      agg
        .select(col("doc_id"), explode(col("hops")).as("hop"),
          col("finals"), col("revs"), col("caps"))
        .select(col("doc_id"), col("hop.start_uri").as("start_uri"),
          col("hop.http_location").as("redirect_to"),
          explode(expr(
            "filter(finals, f -> f.final_uri = hop.http_location)")).as("fin"),
          col("revs"), col("caps"))
        .select(col("doc_id"), col("start_uri"), col("redirect_to"),
          col("fin.http_body").as("http_body"),
          explode(col("revs")).as("rev"), col("caps"))
        .select(col("doc_id"), col("start_uri"), col("redirect_to"),
          col("http_body"), col("rev.dup_uri").as("dup_uri"),
          explode(expr(
            "filter(caps, c -> c.record_id = rev.warc_refers_to)")).as("can"),
          col("rev.payload_digest").as("payload_digest"))
        .select(col("doc_id"), col("start_uri"), col("redirect_to"),
          col("http_body"), col("dup_uri"),
          col("can.cap_uri").as("canonical_uri"), col("payload_digest"))
    },
    Some("""SELECT doc_id,
      'http://example.com/start/' || doc_id AS start_uri,
      'http://example.com/final/' || doc_id AS redirect_to,
      '<p>landed ' || doc_id || '</p>' AS http_body,
      'http://example.com/dup/' || doc_id AS dup_uri,
      CASE WHEN doc_id % 5 = 4 THEN 'http://example.com/start/' || doc_id
           ELSE 'http://example.com/final/' || doc_id END AS canonical_uri,
      'sha1:D' || doc_id AS payload_digest
      FROM documents"""))

  /** The flagship's WARC segments, SYNTHESIZED from `documents` — the
    * correctness-path fixture (every page carries its `doc_id % 397`
    * class text, odd ids gzip-wrapped). Shared verbatim by
    * [[graft.bench.WarcGen]], which materializes this exact frame to
    * parquet for the decade campaigns, so the disk and inline paths
    * cannot drift.
    */
  private[graft] def crawlSegsSynth(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = t(s, dir, "documents")
    val content = docs.select(col("doc_id").as("cls"),
      coalesce(col("text"), lit("")).as("cls_text"))
    val pages = docs.select(col("doc_id"), (col("doc_id") % 397).as("cls"))
      .join(content, "cls")
    val suffix = when(col("cls") % 4 === 0, lit(". Extra sentence one. Extra sentence two."))
      .when(col("cls") % 4 === 1, lit(" {var x = 1;}"))
      .when(col("cls") % 4 === 2, lit(" Lorem ipsum dolor."))
      .otherwise(lit("."))
    pages.select(col("doc_id"), col("cls"),
      graft.ops.WebIngest.syntheticWarc(col("doc_id"),
        syntheticHtml(col("cls"), concat(col("cls_text"), suffix)),
        col("doc_id") % 2 === 1).as("payload"))
  }

  /** The flagship's segment source: `$dir/warc_segments.parquet` when the
    * campaign generator has materialized it there (a REAL ingest reads
    * crawl files from storage and never pays synthesis — in-memory
    * generation was the sf100 local[32] OOM, SCALE.md §18.6), else
    * synthesized inline (the driver's SF dirs carry no such table, so
    * correctness runs are unaffected).
    */
  private def crawlSegs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val onDisk = new java.io.File(s"$dir/warc_segments.parquet")
    if (onDisk.isDirectory) s.read.parquet(onDisk.getPath)
    else crawlSegsSynth(s, dir)
  }

  /** The flagship funnel up to curation (shared by the two packing
    * variants): WARC → conversion records → HTML → text → curate.
    */
  private def crawlFunnelCurated(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val conv = graft.ops.WebIngest.warcRecords(crawlSegs(s, dir), "payload")
      .where(col("warc_type") === "conversion")
    val txt = graft.ops.WebIngest.htmlText(conv, "content_text")
      .select(col("doc_id"), col("cls"), col("html_text").as("text"))
    graft.ops.Curation.curate(txt, "text", "doc_id")
  }

  /** Flagship row body: the shared funnel, packed on `nTokens` with
    * `budget` — the base row budgets whitespace words, the `_tokens`
    * variant budgets [[graft.ops.Bpe.tokenCount]].
    */
  private def crawlFlagshipRun(nTokens: Column, budget: Long)(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val curated = crawlFunnelCurated(s, dir)
    val packed = graft.ops.Packing.packSequences(
      curated.where(col("curate_keep"))
        .withColumn("shard", col("doc_id") % 8),
      "doc_id", "shard", nTokens, budget)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("pack_id"))
    curated.select(col("doc_id"), col("cls"), col("c4_keep"),
        round(col("dup_line_frac"), 6).as("dup_line_frac"),
        col("is_canonical"), col("curate_keep"))
      .join(packed, Seq("doc_id"), "left")
  }

  /** Flagship oracle with the packing budget expression parameterized:
    * `tokSql` is a DuckDB expression over the `cur` CTE's columns
    * (`n_words`, `text`).
    */
  private def crawlFlagshipSql(tokSql: String, budget: Long) = s"""WITH pages AS (
        SELECT d.doc_id, d.doc_id % 397 AS cls, coalesce(c.text, '') AS cls_text
        FROM documents d JOIN documents c ON c.doc_id = d.doc_id % 397),
      raw AS (
        SELECT doc_id, cls, cls_text || CASE cls % 4
          WHEN 0 THEN '. Extra sentence one. Extra sentence two.'
          WHEN 1 THEN ' {var x = 1;}'
          WHEN 2 THEN ' Lorem ipsum dolor.'
          ELSE '.' END AS body
        FROM pages),
      ext AS (
        SELECT doc_id, cls,
          'Doc ' || cls || chr(10) || 'Doc ' || cls || chr(10) ||
          (CASE WHEN ct = '' THEN '' ELSE ct || chr(10) END) ||
          'tail & 5 < 7 A' AS text
        FROM (SELECT doc_id, cls,
            trim(regexp_replace(body, '[\\s]+', ' ', 'g')) AS ct FROM raw)),
      sig AS (SELECT doc_id, cls, text,
        len(list_filter(string_split_regex(text, '[.!?]'), x -> trim(x) <> ''))::BIGINT AS n_sentences,
        contains(text, '{') AS has_curly,
        contains(lower(text), 'lorem ipsum') AS has_lorem,
        len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))::BIGINT AS n_words,
        list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS ls
        FROM ext),
      rep AS (SELECT doc_id, cls, text, n_words,
        round(CASE WHEN len(ls) > 0
          THEN (len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls) ELSE 0.0 END, 6) AS dup_line_frac,
        (n_sentences >= 3 AND NOT has_curly AND NOT has_lorem AND n_words >= 5) AS c4_keep
        FROM sig),
      keeper AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM ext GROUP BY 1),
      cur AS (SELECT r.doc_id, r.cls, r.c4_keep, r.dup_line_frac, r.n_words, r.text,
          (r.doc_id = k.keep_id) AS is_canonical,
          (r.c4_keep AND r.dup_line_frac <= 0.3 AND r.doc_id = k.keep_id) AS curate_keep
        FROM rep r JOIN keeper k ON md5(r.text) = k.h),
      packed AS (SELECT doc_id, (doc_id % 8)::BIGINT AS shard,
          ($tokSql)::BIGINT AS n_tokens,
          (coalesce(sum(($tokSql)::BIGINT) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $budget)::BIGINT AS pack_id
        FROM cur WHERE curate_keep)
      SELECT c.doc_id, c.cls, c.c4_keep, c.dup_line_frac, c.is_canonical,
        c.curate_keep, p.shard, p.n_tokens, p.pack_id
      FROM cur c LEFT JOIN packed p ON c.doc_id = p.doc_id"""

  private val webCrawlFlagship = Q("web_crawl_flagship",
    crawlFlagshipRun(
      size(filter(split(col("text"), "\\s+"), x => x =!= "")), budget = 512L),
    Some(crawlFlagshipSql("n_words", 512L)),
    bench = true)

  /** The flagship funnel with a TOKEN budget: packing runs on
    * [[graft.ops.Bpe.tokenCount]] over the extracted text. The merges
    * table here is EMPTY — byte-level identity vocabulary — because the
    * oracle must replay the count in SQL over ARBITRARY funnel text, and
    * under the empty table the BPE count is EXACTLY the UTF-8 byte count
    * (`strlen`): the oracle pins the whole pre-tokenize → UTF-8 → merge →
    * count → window path end-to-end on real funnel text (a lost or
    * double-counted byte anywhere breaks the hash), while the merge loop
    * itself is value-checked by txt_bpe_tokens / pipe_pack_bpe's
    * closed-form table. A production run supplies its real merges table
    * through the same Column.
    */
  private val webCrawlFlagshipTokens = Q("web_crawl_flagship_tokens",
    crawlFlagshipRun(
      graft.ops.Bpe.tokenCount(Seq.empty)(col("text")), budget = 2048L),
    Some(crawlFlagshipSql("strlen(text)", 2048L)))

  /** Sitemap ingest — the URL-discovery side of the crawl frontier
    * (sitemaps are what [[graft.ops.Robots.parseRobots]]'s `sitemap` rows
    * point at): per-host urlset XML → `xpath` loc extraction →
    * [[TextAnalysis.canonicalizeUrl]], so discovered URLs land already in
    * dedup-key form. The generator plants the canonicalization axes
    * (case, :80, dot segments) in every loc; the oracle states both the
    * raw loc and its canonical form closed-form.
    */
  private val webSitemapIngest = Q("web_sitemap_ingest",
    (s, dir) => {
      val n = (lit(1) + col("doc_id") % 5).cast("int")
      val entries = array_join(transform(sequence(lit(0), n - 1), k =>
        concat(lit("<url><loc>HTTP://Site"), col("doc_id") % 50,
          lit(".CoM:80/p"), k, lit("/./q</loc><lastmod>2024-01-0"),
          k % 9 + 1, lit("</lastmod></url>"))), "")
      val xml = concat(lit("<?xml version=\"1.0\"?><urlset>"), entries,
        lit("</urlset>"))
      val locs = t(s, dir, "documents")
        .select(col("doc_id"), xml.as("xml"))
        .select(col("doc_id"), posexplode(
          call_function("xpath", col("xml"), lit("//url/loc/text()"))))
        .withColumnRenamed("pos", "url_idx").withColumnRenamed("col", "loc")
      TextAnalysis.canonicalizeUrl(locs, "loc")
        .select(col("doc_id"), col("url_idx"), col("loc"),
          col("url_canonical"))
    },
    Some("""SELECT doc_id, k::INT AS url_idx,
      'HTTP://Site' || (doc_id % 50) || '.CoM:80/p' || k || '/./q' AS loc,
      'http://site' || (doc_id % 50) || '.com/p' || k || '/q' AS url_canonical
      FROM documents, unnest(generate_series(0, doc_id % 5)) AS t(k)"""))

  private def syntheticRobotsCol = concat(
    lit("# policy\nUser-agent: graftbot\nDisallow: /private"),
    col("doc_id") % 7,
    lit("/\nAllow: /private"), col("doc_id") % 7,
    lit("/ok$\nCrawl-delay: "), lit(1) + col("doc_id") % 5,
    lit("\n\nUser-agent: *\nDisallow: /all\nSitemap: https://h"),
    col("doc_id") % 50, lit(".io/sitemap.xml\n"))

  /** robots.txt parse (RFC 9309 — [[graft.ops.Robots.parseRobots]]):
    * per-host files with a graftbot group (disallow + anchored allow +
    * crawl-delay), a '*' group that must be ignored, a comment, and a
    * global sitemap. The oracle states the four selected rules per host
    * closed-form.
    */
  private val webRobotsRules = Q("web_robots_rules",
    (s, dir) => graft.ops.Robots.parseRobots(
        t(s, dir, "documents").select(col("doc_id"),
          syntheticRobotsCol.as("robots")), "robots", "graftbot")
      .select(col("doc_id"), col("rule_idx"), col("directive"),
        col("rule_value"), col("parse_error")),
    Some("""SELECT doc_id, i::INT AS rule_idx,
      (['disallow', 'allow', 'crawl_delay', 'sitemap'])[i + 1] AS directive,
      CASE i
        WHEN 0 THEN '/private' || (doc_id % 7) || '/'
        WHEN 1 THEN '/private' || (doc_id % 7) || '/ok$'
        WHEN 2 THEN (1 + doc_id % 5)::VARCHAR
        ELSE 'https://h' || (doc_id % 50) || '.io/sitemap.xml' END AS rule_value,
      NULL::VARCHAR AS parse_error
      FROM documents, unnest(generate_series(0, 3)) AS t(i)"""))

  /** The politeness gate end-to-end ([[graft.ops.Robots.robotsAllowed]] —
    * longest-octet match, allow wins ties, '$' anchor): per-host rules
    * from the parse joined to per-host URLs. Four path shapes pin the
    * four decision branches (prefix-disallowed, longer-allow-wins,
    * anchor-miss-disallowed, no-match-allowed), and the robots text
    * varies the crawl-delay axis by doc_id % 3: a VALID delay plus a
    * second merged graftbot group declaring `2` (largest wins), a
    * MALFORMED value (null — the ANSI guard branch), and ABSENT (null) —
    * so `crawl_delay_s` is value-checked on every branch a frontier
    * scheduler meets.
    */
  private val webRobotsGate = Q("web_robots_gate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val robotsTxt = concat(
        lit("# policy\nUser-agent: graftbot\nDisallow: /private"),
        col("doc_id") % 7,
        lit("/\nAllow: /private"), col("doc_id") % 7, lit("/ok$\n"),
        when(col("doc_id") % 3 === 0,
            concat(lit("Crawl-delay: "), lit(1) + col("doc_id") % 5,
              lit("\nUser-agent: graftbot\nCrawl-delay: 2\n")))
          .when(col("doc_id") % 3 === 1, lit("Crawl-delay: fast\n"))
          .otherwise(lit("")),
        lit("\nUser-agent: *\nDisallow: /all\nCrawl-delay: 99\n"))
      val rules = graft.ops.Robots.parseRobots(
          docs.select(col("doc_id"), robotsTxt.as("robots")),
          "robots", "graftbot")
        .select(col("doc_id"), col("directive"), col("rule_value"))
      val urls = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
            concat(lit("/private"), col("doc_id") % 7, lit("/x")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/private"), col("doc_id") % 7, lit("/ok")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/private"), col("doc_id") % 7, lit("/okay")))
          .otherwise(lit("/other")).as("path"))
      graft.ops.Robots.robotsAllowed(urls, "path", rules, Seq("doc_id"))
        .select(col("doc_id"), col("path"), col("robots_allowed"),
          col("robots_rule"), col("crawl_delay_s"))
    },
    Some("""SELECT doc_id,
      CASE doc_id % 4
        WHEN 0 THEN '/private' || (doc_id % 7) || '/x'
        WHEN 1 THEN '/private' || (doc_id % 7) || '/ok'
        WHEN 2 THEN '/private' || (doc_id % 7) || '/okay'
        ELSE '/other' END AS path,
      (doc_id % 4 = 1 OR doc_id % 4 = 3) AS robots_allowed,
      CASE doc_id % 4
        WHEN 0 THEN '/private' || (doc_id % 7) || '/'
        WHEN 1 THEN '/private' || (doc_id % 7) || '/ok$'
        WHEN 2 THEN '/private' || (doc_id % 7) || '/'
        ELSE NULL END AS robots_rule,
      CASE WHEN doc_id % 3 = 0 THEN greatest(2, 1 + doc_id % 5)::DOUBLE
        ELSE NULL END AS crawl_delay_s
      FROM documents"""))

  /** The frontier SCHEDULE — [[graft.ops.Robots.politeSchedule]] after
    * the gate: per-host fetch slots paced by the effective crawl-delay
    * (declared / malformed-to-default / absent-to-default, the same
    * three branches as web_robots_gate), one window exchange keyed on
    * the host. The oracle replays slot = k (paths sort lexicographically
    * = numerically for k ≤ 4) and fetch_at_s = k × delay closed-form.
    */
  private val webFrontierSchedule = Q("web_frontier_schedule",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val robotsTxt = concat(
        lit("User-agent: graftbot\nDisallow: /private\n"),
        when(col("doc_id") % 3 === 0,
            concat(lit("Crawl-delay: "), lit(1) + col("doc_id") % 5, lit("\n")))
          .when(col("doc_id") % 3 === 1, lit("Crawl-delay: fast\n"))
          .otherwise(lit("")))
      val rules = graft.ops.Robots.parseRobots(
          docs.select(col("doc_id"), robotsTxt.as("robots")),
          "robots", "graftbot")
        .select(col("doc_id"), col("directive"), col("rule_value"))
      val urls = docs.select(col("doc_id"),
          explode(sequence(lit(0), (col("doc_id") % 4).cast("int"))).as("k"))
        .select(col("doc_id"), concat(lit("/p"), col("k")).as("path"))
      val gated = graft.ops.Robots.robotsAllowed(urls, "path", rules, Seq("doc_id"))
        .where(col("robots_allowed"))
      graft.ops.Robots.politeSchedule(gated, Seq("doc_id"), "path",
          defaultDelayS = 1.0)
        .select(col("doc_id"), col("path"), col("crawl_delay_s"),
          col("fetch_slot"), col("fetch_at_s"))
    },
    Some("""SELECT doc_id, '/p' || k AS path,
      CASE WHEN doc_id % 3 = 0 THEN (1 + doc_id % 5)::DOUBLE ELSE NULL END AS crawl_delay_s,
      k::BIGINT AS fetch_slot,
      (k * CASE WHEN doc_id % 3 = 0 THEN (1 + doc_id % 5)::DOUBLE ELSE 1.0 END)::DOUBLE AS fetch_at_s
      FROM documents, unnest(generate_series(0, doc_id % 4)) AS t(k)"""))

  /** Priority scheduling — [[graft.ops.Robots.politeScheduleBy]] with the
    * real frontier sort: `priority DESC, discovered_at ASC, url ASC`
    * within each host, so hot pages take their host's earliest slots and
    * FIFO breaks priority ties. Same one-window-exchange shape as
    * web_frontier_schedule (per-host constraint, embarrassingly parallel
    * across hosts); the URL tail keeps slots bit-reproducible. The
    * crawl-delay is a HOST property in the fixture (even hosts declare
    * 2+hn/2 s) so every row of a host prices slots identically, like a
    * real per-host delay ledger.
    */
  private val webFrontierPriority = Q("web_frontier_priority",
    (s, dir) => {
      val d = col("doc_id")
      val hn = d % 8
      val urls = t(s, dir, "documents")
        .select(d, explode(sequence(lit(0), lit(2))).as("k"))
        .select(
          concat(lit("h"), hn, lit(".example.com")).as("host"),
          concat(lit("http://h"), hn, lit(".example.com/p/"), d,
            lit("/"), col("k")).as("url"),
          ((d + col("k")) % 5).cast("int").as("priority"),
          ((d * 7 + col("k") * 3) % 97).cast("long").as("discovered_at"),
          when(hn % 2 === 0, lit(2.0) + hn / lit(2))
            .otherwise(lit(null).cast("double")).as("crawl_delay_s"))
      graft.ops.Robots.politeScheduleBy(urls, Seq("host"),
          Seq(col("priority").desc, col("discovered_at").asc,
            col("url").asc))
        .select(col("host"), col("url"), col("priority"),
          col("discovered_at"), col("crawl_delay_s"),
          col("fetch_slot"), col("fetch_at_s"))
    },
    Some("""WITH u AS (
        SELECT 'h' || (doc_id % 8) || '.example.com' AS host,
          'http://h' || (doc_id % 8) || '.example.com/p/' || doc_id
            || '/' || k AS url,
          ((doc_id + k) % 5)::INT AS priority,
          ((doc_id * 7 + k * 3) % 97)::BIGINT AS discovered_at,
          CASE WHEN (doc_id % 8) % 2 = 0
            THEN (2 + (doc_id % 8) / 2)::DOUBLE ELSE NULL END AS crawl_delay_s
        FROM documents, unnest(generate_series(0, 2)) AS t(k))
      SELECT host, url, priority, discovered_at, crawl_delay_s,
        (row_number() OVER (PARTITION BY host
          ORDER BY priority DESC, discovered_at, url) - 1)::BIGINT AS fetch_slot,
        ((row_number() OVER (PARTITION BY host
          ORDER BY priority DESC, discovered_at, url) - 1)
          * coalesce(crawl_delay_s, 1.0))::DOUBLE AS fetch_at_s
      FROM u"""))

  /** The CLOSED frontier loop — the one edge the family was missing:
    * fetch-parse (WARC response → [[graft.ops.WebIngest.httpResponses]])
    * → [[graft.ops.WebIngest.extractLinks]] (state-machine `<a href>` +
    * `<base href>`, RFC 3986 resolution) →
    * [[TextAnalysis.canonicalizeUrl]] → candidate `distinct` → dedup vs
    * VISITED ([[graft.ops.Dedup.notInCorpus]], Bloom-prefiltered — the
    * corpus never shuffles for definite misses) →
    * [[graft.ops.Robots.robotsAllowed]] →
    * [[graft.ops.Robots.politeSchedule]]. Each page plants six links:
    * a self link (visited-dedup drops it — except under a `<base>` tag,
    * where resolution honestly lands it on the base host), a relative
    * link (robots-blocked on h-hosts: `Disallow: /p/q`), a cross-host
    * link spelled `HTTP://…:80` (canonicalization collapses it), an
    * entity-encoded query link, and a `javascript:`/fragment pair the
    * extractor refuses. The oracle replays the whole funnel closed-form:
    * link strings from doc_id, NOT EXISTS for the visited set, the
    * robots decision as a predicate, and the politeness slots as a
    * window — every stage's output is pinned, not just the final count.
    */
  private val webFrontierLoop = Q("web_frontier_loop",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val pageUrl = concat(lit("http://h"), d % 20, lit(".example.com/p/"), d)
      val html = concat(
        when(d % 4 === 0, concat(lit("<base href=\"http://b"), d % 5,
          lit(".example.com/dir/\">"))).otherwise(lit("")),
        lit("<a href=\"/p/"), d, lit("\">self</a>"),
        lit("<a href=\"q"), (d + 1) % 1000, lit("\">rel</a>"),
        lit("<a href=\"HTTP://H"), (d + 7) % 20, lit(".EXAMPLE.COM:80/p/"),
        (d * 11) % 2000, lit("\">cross</a>"),
        lit("<a href=\"/s?x="), d % 7, lit("&amp;y=2\">q</a>"),
        lit("<a href=\"javascript:void(0)\">js</a><a href=\"#top\">top</a>"))
      // widen: WARC synthesis + record/HTTP parsing are per-row kernels
      // that otherwise run on the one-task small-SF scan (guide §2.5/§8 —
      // the exchange moves bare ids, payloads are built after it)
      val segs = graft.util.ScanSpread.widen(docs.select(d)).select(d,
        graft.ops.WebIngest.syntheticWarcPage(pageUrl, html,
          d % 2 === 1).as("payload"))
      val recs = graft.ops.WebIngest.warcRecordBytes(segs)
        .where(col("parse_error").isNull && col("warc_type") === "response")
        .select(d, col("target_uri"), col("content_bytes"))
      val resp = graft.ops.WebIngest.httpResponses(recs)
      val visited = docs.select(
        concat(lit("http://h"), d % 20, lit(".example.com/p/"), d).as("u"))
      val hostRules = docs.select((d % 20).as("hn")).distinct()
        .select(concat(lit("h"), col("hn"), lit(".example.com")).as("host"),
          concat(lit("User-agent: graftbot\nDisallow: /p/q\n"),
            when(col("hn") % 2 === 0, concat(lit("Crawl-delay: "),
              lit(1) + col("hn") % 3, lit("\n"))).otherwise(lit(""))).as("robots"))
      val rules = graft.ops.Robots.parseRobots(hostRules, "robots", "graftbot")
        .select(col("host"), col("directive"), col("rule_value"))
      // the shared round op (extract → canonicalize → visited-dedup →
      // robots → schedule); the streaming twin runs the SAME function per
      // micro-batch. The Bloom is sized for the VISITED set it holds: a
      // fixed count at a 5M corpus drives the false-positive rate toward
      // 1 and shoves candidates down the exact-join maybe path. A real
      // frontier knows its visited-set size; one metadata-cheap count is
      // the honest price. (The sf100 wall itself was elsewhere —
      // notInCorpus re-evaluated its batch per consumer; §20.10.)
      val (out, _) = graft.ops.Frontier.frontierRound(
        resp.select(col("target_uri"), col("http_body")), visited, rules,
        expectedItems = math.max(1000L, docs.count()))
      out
    },
    Some("""WITH docs AS (SELECT doc_id AS d FROM documents),
      links0 AS (
        SELECT CASE WHEN d % 4 = 0
          THEN 'http://b' || (d % 5) || '.example.com/p/' || d
          ELSE 'http://h' || (d % 20) || '.example.com/p/' || d END AS u FROM docs
        UNION ALL
        SELECT CASE WHEN d % 4 = 0
          THEN 'http://b' || (d % 5) || '.example.com/dir/q' || ((d + 1) % 1000)
          ELSE 'http://h' || (d % 20) || '.example.com/p/q' || ((d + 1) % 1000) END FROM docs
        UNION ALL
        SELECT 'http://h' || ((d + 7) % 20) || '.example.com/p/' || ((d * 11) % 2000) FROM docs
        UNION ALL
        SELECT CASE WHEN d % 4 = 0
          THEN 'http://b' || (d % 5) || '.example.com/s?x=' || (d % 7) || '&y=2'
          ELSE 'http://h' || (d % 20) || '.example.com/s?x=' || (d % 7) || '&y=2' END FROM docs),
      cand AS (SELECT DISTINCT u FROM links0),
      fresh AS (SELECT u FROM cand c WHERE NOT EXISTS (
        SELECT 1 FROM documents v
        WHERE c.u = 'http://h' || (v.doc_id % 20) || '.example.com/p/' || v.doc_id)),
      parts AS (SELECT u,
        regexp_extract(u, '^http://([^/]+)', 1) AS host,
        regexp_extract(u, '^http://[^/]+(/.*)$', 1) AS path FROM fresh),
      gated AS (SELECT * FROM parts WHERE NOT (
        host LIKE 'h%.example.com' AND path LIKE '/p/q%')),
      delayed AS (SELECT u, host,
        CASE WHEN host LIKE 'h%.example.com'
            AND CAST(regexp_extract(host, '^h(\d+)', 1) AS INT) % 2 = 0
          THEN (1 + CAST(regexp_extract(host, '^h(\d+)', 1) AS INT) % 3)::DOUBLE
          ELSE NULL END AS crawl_delay_s
        FROM gated)
      SELECT host, u AS link_url, crawl_delay_s,
        (row_number() OVER (PARTITION BY host ORDER BY u) - 1)::BIGINT AS fetch_slot,
        ((row_number() OVER (PARTITION BY host ORDER BY u) - 1)
          * coalesce(crawl_delay_s, 1.0))::DOUBLE AS fetch_at_s
      FROM delayed"""),
    bench = true)

  /** Zipf host rank over [1, 10000], α = 1.1 — the truncated-Pareto
    * inverse CDF with the SAME law as [[graft.bench.ScaleGen]]'s skew
    * generator (rank-1 share ≈ 11%), but built to be ORACLE-EXACT: at
    * α = 1.1 the exponent 1/(1−α) is exactly −10, so the rank is
    * floor(1/y¹⁰) with y = 1 − u·q computed by a fixed multiply chain
    * (y² → y⁴ → (y⁴·y⁴)·y²) — plain IEEE mul/div that Spark and DuckDB
    * round identically, where a libm `pow` could differ in the last ulp
    * and flip a floor boundary. `u` comes from a Knuth multiplicative
    * hash reduced mod 2³⁰ BEFORE the multiply so no input overflows a
    * long (ANSI mode throws on overflow at job level).
    */
  private def zipfHostRank(x: Column): Column = {
    val u = pmod(pmod(x, lit(1073741824L)) * lit(2654435761L),
      lit(1073741824L)).cast("double") / lit(1073741824.0)
    val y = lit(1.0) - u * lit(0.6018928294465028) // q = 1 − 10000^(−0.1)
    val y2 = y * y
    val y4 = y2 * y2
    least(lit(10000L), greatest(lit(1L),
      floor(lit(1.0) / ((y4 * y4) * y2))))
  }

  /** [[zipfHostRank]] as DuckDB SQL over expression `x` (non-negative) —
    * the SAME multiply-chain association (y² → y⁴ → (y⁴·y⁴)·y²) so both
    * sides round identically at every step.
    */
  private def zipfRankSql(x: String): String = {
    val h = s"(((($x) % 1073741824) * 2654435761) % 1073741824)"
    val y = s"(1 - ($h / 1073741824.0) * 0.6018928294465028::DOUBLE)"
    val y2 = s"($y * $y)"
    val y4 = s"($y2 * $y2)"
    s"least(10000, greatest(1, floor(1.0 / (($y4 * $y4) * $y2))))::BIGINT"
  }

  /** The frontier loop under a REALISTIC host law — the r14 verdict's
    * gap: the sf100 loop leg's politeness window was bounded by a
    * 25-host fixture, while a real crawl has 10⁴–10⁷ hosts with zipf
    * skew (hot-host window sorts). Same full pipeline as
    * [[webFrontierLoop]] ([[graft.ops.Frontier.frontierRound]]: WARC
    * fetch-parse → extract → canonicalize → visited-dedup → robots →
    * schedule) but page hosts draw from [[zipfHostRank]] over 10,000
    * domains at α = 1.1 — the rank-1 host carries ≈11% of ALL scheduled
    * URLs, so the host-keyed window's biggest partition is a constant
    * fraction of the corpus: exactly the skew a 1000-executor run must
    * survive. Cross links draw a SECOND independent zipf rank (hot
    * hosts also RECEIVE the most in-links, like real link graphs).
    * Robots rules exist only for hosts that serve pages (cross-rank
    * hosts without pages gate open with the default delay, like
    * fetching a robots.txt nobody published). The oracle replays the
    * zipf law exactly (see [[zipfHostRank]]'s float-path note).
    */
  private val webFrontierZipf = Q("web_frontier_zipf",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val d = col("doc_id")
      val rp = zipfHostRank(d)
      val rc = zipfHostRank(d * 13 + 7)
      val pageUrl = concat(lit("http://z"), rp, lit(".example.com/p/"), d)
      val html = concat(
        lit("<a href=\"/p/"), d, lit("\">self</a>"),
        lit("<a href=\"q"), (d + 1) % 1000, lit("\">rel</a>"),
        lit("<a href=\"HTTP://Z"), rc, lit(".EXAMPLE.COM:80/p/"),
        (d * 11) % 2000, lit("\">cross</a>"),
        lit("<a href=\"/s?x="), d % 7, lit("&amp;y=2\">q</a>"),
        lit("<a href=\"javascript:void(0)\">js</a><a href=\"#top\">top</a>"))
      // widen: same starved-scan spread as the loop row above
      val segs = graft.util.ScanSpread.widen(docs.select(d)).select(d,
        graft.ops.WebIngest.syntheticWarcPage(pageUrl, html,
          d % 2 === 1).as("payload"))
      val recs = graft.ops.WebIngest.warcRecordBytes(segs)
        .where(col("parse_error").isNull && col("warc_type") === "response")
        .select(d, col("target_uri"), col("content_bytes"))
      val resp = graft.ops.WebIngest.httpResponses(recs)
      val visited = docs.select(
        concat(lit("http://z"), rp, lit(".example.com/p/"), d).as("u"))
      val hostRules = docs.select(rp.as("hn")).distinct()
        .select(concat(lit("z"), col("hn"), lit(".example.com")).as("host"),
          concat(lit("User-agent: graftbot\nDisallow: /p/q\n"),
            when(col("hn") % 2 === 0, concat(lit("Crawl-delay: "),
              lit(1) + col("hn") % 3, lit("\n"))).otherwise(lit(""))).as("robots"))
      val rules = graft.ops.Robots.parseRobots(hostRules, "robots", "graftbot")
        .select(col("host"), col("directive"), col("rule_value"))
      val (out, _) = graft.ops.Frontier.frontierRound(
        resp.select(col("target_uri"), col("http_body")), visited, rules,
        expectedItems = math.max(1000L, docs.count()))
      out
    },
    Some(s"""WITH docs AS (SELECT doc_id AS d FROM documents),
      r AS (SELECT d,
        ${zipfRankSql("d")} AS rp,
        ${zipfRankSql("d * 13 + 7")} AS rc
        FROM docs),
      links0 AS (
        SELECT 'http://z' || rp || '.example.com/p/' || d AS u FROM r
        UNION ALL
        SELECT 'http://z' || rp || '.example.com/p/q' || ((d + 1) % 1000) FROM r
        UNION ALL
        SELECT 'http://z' || rc || '.example.com/p/' || ((d * 11) % 2000) FROM r
        UNION ALL
        SELECT 'http://z' || rp || '.example.com/s?x=' || (d % 7) || '&y=2' FROM r),
      cand AS (SELECT DISTINCT u FROM links0),
      fresh AS (SELECT u FROM cand c WHERE NOT EXISTS (
        SELECT 1 FROM r v
        WHERE c.u = 'http://z' || v.rp || '.example.com/p/' || v.d)),
      parts AS (SELECT u,
        regexp_extract(u, '^http://([^/]+)', 1) AS host,
        regexp_extract(u, '^http://[^/]+(/.*)$$', 1) AS path,
        CAST(regexp_extract(u, '^http://z(\\d+)', 1) AS BIGINT) AS hr
        FROM fresh),
      gated AS (SELECT * FROM parts WHERE NOT path LIKE '/p/q%'),
      delayed AS (SELECT u, host,
        CASE WHEN hr % 2 = 0 AND EXISTS (SELECT 1 FROM r v WHERE v.rp = hr)
          THEN (1 + hr % 3)::DOUBLE ELSE NULL END AS crawl_delay_s
        FROM gated)
      SELECT host, u AS link_url, crawl_delay_s,
        (row_number() OVER (PARTITION BY host ORDER BY u) - 1)::BIGINT AS fetch_slot,
        ((row_number() OVER (PARTITION BY host ORDER BY u) - 1)
          * coalesce(crawl_delay_s, 1.0))::DOUBLE AS fetch_at_s
      FROM delayed"""),
    bench = true)

  /** The frontier loop ITERATED — breadth-first crawl over a closed-form
    * link graph, three expansion rounds through the REAL chain each
    * round: fetch (join the frontier against the corpus's WARC pages) →
    * [[graft.ops.WebIngest.warcRecordBytes]] →
    * [[graft.ops.WebIngest.httpResponses]] →
    * [[graft.ops.WebIngest.extractLinks]] → candidate `distinct` → join
    * to fetchable pages → anti-join vs VISITED → next frontier at
    * depth+1. Page `d` links to `/p/{(3d+1)%2000}` and `/p/{(7d+2)%2000}`;
    * links landing outside the corpus are discovered-but-unfetchable and
    * end there, like a real crawl's 404s. Anti-join-vs-visited gives
    * min-depth BFS semantics by construction; the oracle is the
    * textbook recursive-CTE closure with `min(depth)`. Rounds are
    * inherently sequential (BFS is a loop); each round's cost is the
    * FRONTIER's size, never the corpus — the visited side stays
    * broadcast-small relative to the candidate side, and at real scale
    * the anti-join is [[graft.ops.Dedup.notInCorpus]]'s Bloom shape.
    */
  private val webCrawlBfs = Q("web_crawl_bfs",
    (s, dir) => {
      val d = col("doc_id")
      val html = concat(
        lit("<a href=\"/p/"), (d * 3 + 1) % 2000, lit("\">a</a>"),
        lit("<a href=\"/p/"), (d * 7 + 2) % 2000, lit("\">b</a>"))
      val pages = t(s, dir, "documents").select(d,
        concat(lit("http://example.com/p/"), d).as("url"),
        graft.ops.WebIngest.syntheticWarcPage(
          concat(lit("http://example.com/p/"), d), html,
          d % 2 === 1).as("payload"))
      var visited = pages.where(d < 10)
        .select(col("doc_id"), lit(0).as("depth"))
      var frontier = visited
      for (round <- 1 to 3) {
        val fetched = pages.join(frontier.select("doc_id"), "doc_id")
        val recs = graft.ops.WebIngest.warcRecordBytes(fetched)
          .where(col("parse_error").isNull && col("warc_type") === "response")
          .select(col("doc_id"), col("target_uri"), col("content_bytes"))
        val links = graft.ops.WebIngest.extractLinks(
          graft.ops.WebIngest.httpResponses(recs)
            .select(col("target_uri"), col("http_body")),
          "http_body", "target_uri")
          .select(explode(col("link_urls")).as("u")).distinct()
        val fresh = pages.select(col("doc_id"), col("url"))
          .join(links, col("url") === col("u"))
          .join(visited.select(col("doc_id").as("__v")),
            col("doc_id") === col("__v"), "left_anti")
          .select(col("doc_id"), lit(round).as("depth"))
        frontier = fresh
        visited = visited.unionByName(fresh)
      }
      visited
    },
    Some("""WITH RECURSIVE reach(d, depth) AS (
        SELECT doc_id, 0 FROM documents WHERE doc_id < 10
        UNION
        SELECT t.doc_id, r.depth + 1
        FROM reach r JOIN documents t
          ON t.doc_id IN ((3 * r.d + 1) % 2000, (7 * r.d + 2) % 2000)
        WHERE r.depth < 3)
      SELECT d AS doc_id, min(depth)::INT AS depth FROM reach GROUP BY d"""))

  /** `.tar.zst` ingest — zstd is the compression newer corpus dumps ship
    * in, and [[graft.ops.Archives.zunstdIfNeeded]] dispatches on the
    * frame magic inside the same tar walk that handles `.tar.gz`
    * (zstd-jni rides Spark's own classpath; the native decompression
    * context is freed deterministically, §19.1's discipline). Same
    * closed-form member census as arc_tar_members.
    */
  private val arcZstdMembers = Q("arc_zstd_members",
    (s, dir) => {
      val tars = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.Archives.syntheticTarZstd(
          (lit(1) + col("doc_id") % 6).cast("int"),
          (col("doc_id") % 16).cast("int")).as("payload"))
      graft.ops.Archives.tarMembers(tars, "payload")
        .select(col("doc_id"), col("member_idx"), col("member_name"),
          col("member_size"), col("data_offset"), col("type_flag"),
          col("member_text"), col("parse_error"))
    },
    Some("""WITH p AS (
        SELECT doc_id, (1 + doc_id % 6)::INT AS nm, (doc_id % 16)::INT AS seed
        FROM documents),
      m AS (
        SELECT doc_id, k::INT AS k, (20 + (seed + 7*k) % 40)::BIGINT AS len
        FROM p, unnest(generate_series(0, nm - 1)) AS t(k))
      SELECT doc_id, k AS member_idx,
        'dir/file' || k || '.txt' AS member_name,
        len AS member_size, (1024*k + 512)::BIGINT AS data_offset,
        '0' AS type_flag,
        substring(repeat('the quick brown fox jumps over the lazy dog ', 2), 1, len::INT) AS member_text,
        NULL::VARCHAR AS parse_error
      FROM m"""))

  /** SURT urlkey generation ([[TextAnalysis.surtKey]] over
    * [[TextAnalysis.canonicalizeUrl]]) — the CDX join key a Common Crawl
    * consumer computes to look URLs up in the index: reversed
    * comma-joined host (www stripped), kept non-default port, lowercased
    * path, sorted query. The fixture plants every axis (mixed-case
    * scheme/host/path, www, :8080, a dot segment, an unsorted query);
    * the oracle states both the canonical URL and the urlkey closed-form.
    */
  private val webSurtKey = Q("web_surt_key",
    (s, dir) => {
      val loc = concat(lit("HTTP://WWW.Site"), col("doc_id") % 50,
        lit(".CoM:8080/A/./b?zz=1&aa="), col("doc_id") % 7)
      TextAnalysis.surtKey(
        TextAnalysis.canonicalizeUrl(
          t(s, dir, "documents").select(col("doc_id"), loc.as("loc")), "loc"),
        "url_canonical")
        .select(col("doc_id"), col("loc"), col("url_canonical"), col("urlkey"))
    },
    Some("""SELECT doc_id,
      'HTTP://WWW.Site' || (doc_id % 50) || '.CoM:8080/A/./b?zz=1&aa=' || (doc_id % 7) AS loc,
      'http://www.site' || (doc_id % 50) || '.com:8080/A/b?zz=1&aa=' || (doc_id % 7) AS url_canonical,
      'com,site' || (doc_id % 50) || ':8080)/a/b?aa=' || (doc_id % 7) || '&zz=1' AS urlkey
      FROM documents"""))

  /** Magic-byte media-type sniffing ([[graft.ops.Multimodal
    * .sniffMediaType]] — a fully codegen'd Column chain, no UDF): six
    * payload classes per doc_id (a REAL PNG from the gradient encoder, a
    * gzipped WARC segment, HTML bytes, a PDF header, plain text, a zstd
    * frame), each sniffed to its closed-form media type — the
    * declared-vs-actual Content-Type audit signal.
    */
  private val mmSniffMedia = Q("mm_sniff_media",
    (s, dir) => {
      val payload = when(col("doc_id") % 6 === 0,
          Multimodal.syntheticPngGradient(lit(8), lit(8),
            (col("doc_id") % 200).cast("int"), lit(3)))
        .when(col("doc_id") % 6 === 1,
          graft.ops.WebIngest.syntheticWarc(col("doc_id"), lit("<p>x</p>"), lit(true)))
        .when(col("doc_id") % 6 === 2,
          encode(concat(lit("<html><body>"), col("doc_id"), lit("</body></html>")), "UTF-8"))
        .when(col("doc_id") % 6 === 3, encode(lit("%PDF-1.4 fake"), "UTF-8"))
        .when(col("doc_id") % 6 === 4, encode(lit("just plain text"), "UTF-8"))
        .otherwise(graft.ops.Archives.syntheticTarZstd(lit(1), lit(0)))
      t(s, dir, "documents").select(col("doc_id"), payload.as("payload"))
        .select(col("doc_id"),
          Multimodal.sniffMediaType(col("payload")).as("sniffed_type"))
    },
    Some("""SELECT doc_id, (['image/png', 'application/gzip', 'text/html',
      'application/pdf', 'application/octet-stream', 'application/zstd'])
      [(doc_id % 6) + 1] AS sniffed_type
      FROM documents"""))

  /** WET export round-trip — [[graft.ops.WebIngest.wetSegments]] packs
    * documents into gzipped WARC conversion segments (16 shards), and
    * [[graft.ops.WebIngest.warcRecords]] reads its own writer's output
    * back record-for-record: the oracle is the ORIGINAL documents table
    * — URI and text replayed exactly, conversion records in doc_id
    * order. What the engine exports, the engine (and any WET consumer)
    * re-ingests.
    */
  private val webWetExport = Q("web_wet_export",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 16).as("shard"),
        concat(lit("http://example.com/doc/"), col("doc_id")).as("uri"),
        coalesce(col("text"), lit("")).as("text"))
      val segs = graft.ops.WebIngest.wetSegments(
        docs, "shard", "doc_id", "uri", "text", gzipped = true)
      graft.ops.WebIngest.warcRecords(segs, "payload")
        .where(col("warc_type") === "conversion")
        .select(col("shard"), col("record_idx"), col("target_uri"),
          col("content_text"), col("parse_error"))
    },
    Some("""SELECT doc_id % 16 AS shard,
      (row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id))::INT AS record_idx,
      'http://example.com/doc/' || doc_id AS target_uri,
      coalesce(text, '') AS content_text,
      NULL::VARCHAR AS parse_error
      FROM documents"""))

  /** Full-WARC EXPORT round-trip — [[graft.ops.WebIngest.warcSegments]]
    * writes response records in the Common Crawl layout (per-member
    * gzip) WITH its own cdxj index, and the export proves itself through
    * the repo's own SELECTION chain: explode the generated cdx lines →
    * [[graft.ops.WebIngest.cdxjEntries]] → [[graft.ops.WebIngest
    * .warcRecordAt]] range-fetches exactly the indexed spans →
    * [[graft.ops.WebIngest.httpResponses]] recovers every document's
    * HTTP status and body. urlkeys come from [[TextAnalysis.surtKey]]
    * upstream of the writer (no second SURT implementation). The oracle
    * states the fully-recovered rows closed-form from `documents` —
    * writer, index, range-fetch, and HTTP parse all pinned at once.
    * Sharding is `doc_id div 32` — segment SIZE is bounded and the
    * segment COUNT grows with the corpus, the way a real exporter
    * targets a fixed segment size (a `doc_id % 16` layout grew each
    * segment with the corpus: one task's collect_list held 1/16th of
    * sf10, and the round-trip explode then duplicated that whole
    * payload per cdx line — measured super-linear before the cap).
    */
  private val webWarcExport = Q("web_warc_export",
    (s, dir) => {
      val docs = TextAnalysis.surtKey(
        t(s, dir, "documents").select(col("doc_id"),
          expr("doc_id div 32").as("shard"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("uri"),
          coalesce(col("text"), lit("")).as("body")), "uri")
      val segs = graft.ops.WebIngest.warcSegments(
        docs, "shard", "doc_id", "uri", "body", "urlkey")
      val lines = segs.select(col("shard"), col("payload"),
        explode(col("cdx")).as("cdx_line"))
      val entries = graft.ops.WebIngest.cdxjEntries(lines, "cdx_line")
        .where(col("parse_error").isNull).drop("parse_error", "cdx_line")
      val recs = graft.ops.WebIngest.warcRecordAt(entries)
        .where(col("parse_error").isNull)
      graft.ops.WebIngest.httpResponses(
        recs.select(col("shard"), col("urlkey"), col("cdx_status"),
          col("target_uri"), col("content_bytes")))
        .select(col("shard"), col("urlkey"), col("target_uri"),
          col("cdx_status"), col("http_status"), col("http_body"))
    },
    Some("""SELECT doc_id // 32 AS shard,
      'com,example)/doc/' || doc_id AS urlkey,
      'http://example.com/doc/' || doc_id AS target_uri,
      200 AS cdx_status, 200 AS http_status,
      coalesce(text, '') AS http_body
      FROM documents"""))

  /** NESTED archive composition — the real shape of code-dataset dumps
    * (a tar.gz of per-repo zips): [[graft.ops.Archives.tarMemberBytes]]
    * walks the outer tar (odd ids gzipped) emitting each member's RAW
    * BYTES, which feed [[graft.ops.Archives.zipMembers]] as their own
    * payload column. Both nesting levels are STORED/closed-form, so the
    * oracle predicts every inner member's name, sizes and text from the
    * doc_id formulas alone.
    */
  private val arcNestedTarZip = Q("arc_nested_tar_zip",
    (s, dir) => {
      val tars = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.Archives.syntheticTarOfZips(
          (lit(1) + col("doc_id") % 3).cast("int"),
          (lit(1) + col("doc_id") % 4).cast("int"),
          (col("doc_id") % 16).cast("int"),
          col("doc_id") % 2 === 1).as("payload"))
      val zips = graft.ops.Archives.tarMemberBytes(tars, "payload")
        .where(col("type_flag") === "0" && col("parse_error").isNull)
        .select(col("doc_id"), col("member_idx").as("zip_idx"),
          col("member_name").as("zip_name"), col("member_bytes").as("payload"))
      graft.ops.Archives.zipMembers(zips, "payload")
        .select(col("doc_id"), col("zip_idx"), col("zip_name"),
          col("member_idx"), col("member_name"), col("method"),
          col("compressed_size"), col("uncompressed_size"),
          col("member_text"), col("parse_error"))
    },
    Some("""WITH p AS (
        SELECT doc_id, (1 + doc_id % 3)::INT AS nz, (1 + doc_id % 4)::INT AS mpz,
          (doc_id % 16)::INT AS seed
        FROM documents),
      z AS (
        SELECT doc_id, zi::INT AS zip_idx, mpz, seed
        FROM p, unnest(generate_series(0, nz - 1)) AS t(zi)),
      m AS (
        SELECT doc_id, zip_idx, k::INT AS member_idx,
          (20 + (seed + 5 * zip_idx + 7 * k) % 40)::BIGINT AS len
        FROM z, unnest(generate_series(0, mpz - 1)) AS t2(k))
      SELECT doc_id, zip_idx, 'zips/part' || zip_idx || '.zip' AS zip_name,
        member_idx, 'dir/file' || member_idx || '.zip.txt' AS member_name,
        0::INT AS method, len AS compressed_size, len AS uncompressed_size,
        substr(repeat('the quick brown fox jumps over the lazy dog ', 2),
          1, len::INT) AS member_text,
        NULL::VARCHAR AS parse_error
      FROM m"""))

  /** Tar member census + extraction ([[graft.ops.Archives.tarMembers]]):
    * members are 20–59 bytes so every (header + padded data) cell is
    * exactly 1024 bytes and offsets are closed-form; odd doc_ids ship
    * as `.tar.gz` (offsets address the inflated stream, so one oracle
    * covers both).
    */
  private val arcTarMembers = Q("arc_tar_members",
    (s, dir) => {
      val tars = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.Archives.syntheticTar(
          (lit(1) + col("doc_id") % 6).cast("int"),
          (col("doc_id") % 16).cast("int"),
          col("doc_id") % 2 === 1).as("payload"))
      graft.ops.Archives.tarMembers(tars, "payload")
        .select(col("doc_id"), col("member_idx"), col("member_name"),
          col("member_size"), col("data_offset"), col("type_flag"),
          col("member_text"), col("parse_error"))
    },
    Some("""WITH p AS (
        SELECT doc_id, (1 + doc_id % 6)::INT AS nm, (doc_id % 16)::INT AS seed
        FROM documents),
      m AS (
        SELECT doc_id, k::INT AS k, (20 + (seed + 7*k) % 40)::BIGINT AS len
        FROM p, unnest(generate_series(0, nm - 1)) AS t(k))
      SELECT doc_id, k AS member_idx,
        'dir/file' || k || '.txt' AS member_name,
        len AS member_size, (1024*k + 512)::BIGINT AS data_offset,
        '0' AS type_flag,
        substr(repeat('the quick brown fox jumps over the lazy dog ', 2),
          1, len::INT) AS member_text,
        NULL::VARCHAR AS parse_error
      FROM m"""))

  /** Zip member census + REAL inflation ([[graft.ops.Archives
    * .zipMembers]]): STORED members keep sizes closed-form for the
    * oracle; the deflate path is spec-tested (its sizes aren't
    * closed-form).
    */
  private val arcZipMembers = Q("arc_zip_members",
    (s, dir) => {
      val zips = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.Archives.syntheticZip(
          (lit(1) + col("doc_id") % 6).cast("int"),
          (col("doc_id") % 16).cast("int")).as("payload"))
      graft.ops.Archives.zipMembers(zips, "payload")
        .select(col("doc_id"), col("member_idx"), col("member_name"),
          col("method"), col("compressed_size"), col("uncompressed_size"),
          col("member_text"), col("parse_error"))
    },
    Some("""WITH p AS (
        SELECT doc_id, (1 + doc_id % 6)::INT AS nm, (doc_id % 16)::INT AS seed
        FROM documents),
      m AS (
        SELECT doc_id, k::INT AS k, (20 + (seed + 7*k) % 40)::BIGINT AS len
        FROM p, unnest(generate_series(0, nm - 1)) AS t(k))
      SELECT doc_id, k AS member_idx,
        'dir/file' || k || '.zip.txt' AS member_name,
        0::INT AS method, len AS compressed_size, len AS uncompressed_size,
        substr(repeat('the quick brown fox jumps over the lazy dog ', 2),
          1, len::INT) AS member_text,
        NULL::VARCHAR AS parse_error
      FROM m"""))

  /** PDF structure census ([[graft.ops.PdfStructure.pdfCensus]]):
    * synthetic classic-layout PDFs whose content stream plants a DECOY
    * "/Type /Page" — the stream-skip is what the oracle's exact page
    * count is testing.
    */
  private val webPdfCensus = Q("web_pdf_census",
    (s, dir) => {
      val pdfs = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.PdfStructure.syntheticPdf(
          (lit(1) + col("doc_id") % 5).cast("int"),
          (lit(4) + col("doc_id") % 4).cast("int"),
          col("doc_id") % 7 === 0,
          (col("doc_id") % 16).cast("int")).as("payload"))
      graft.ops.PdfStructure.pdfCensus(pdfs, "payload")
        .select(col("doc_id"), col("pdf_version"), col("object_count"),
          col("page_objects"), col("declared_pages"), col("is_encrypted"),
          col("has_xref_stream"), col("parse_error"))
    },
    Some("""SELECT doc_id, '1.' || (4 + doc_id % 4) AS pdf_version,
      (4 + doc_id % 5)::INT AS object_count,
      (1 + doc_id % 5)::INT AS page_objects,
      (1 + doc_id % 5)::INT AS declared_pages,
      doc_id % 7 = 0 AS is_encrypted,
      FALSE AS has_xref_stream,
      NULL::VARCHAR AS parse_error
      FROM documents"""))

  /** Subtitle cue parse ([[graft.ops.Subtitles.parseCues]]): even
    * doc_ids render WebVTT (header, NOTE block, cue settings), odd ones
    * SRT (counters, comma timestamps) — the parsed rows are identical
    * by construction, so ONE closed-form oracle covers both formats,
    * which is itself the format-equivalence check.
    */
  private val mmSubtitleCues = Q("mm_subtitle_cues",
    (s, dir) => {
      val subs = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.Subtitles.syntheticSubtitle(
          (lit(1) + col("doc_id") % 6).cast("int"),
          (col("doc_id") % 32).cast("int"),
          col("doc_id") % 2 === 0).as("subtitle"))
      graft.ops.Subtitles.parseCues(subs, "subtitle")
        .select(col("doc_id"), col("cue_idx"), col("cue_start_ms"),
          col("cue_end_ms"), col("cue_text"), col("parse_error"))
    },
    Some("""WITH p AS (
        SELECT doc_id, (1 + doc_id % 6)::INT AS nc, (doc_id % 32)::INT AS seed
        FROM documents),
      c AS (
        SELECT doc_id, k::INT AS k, seed
        FROM p, unnest(generate_series(0, nc - 1)) AS t(k))
      SELECT doc_id, k AS cue_idx, (2500 * k)::BIGINT AS cue_start_ms,
        (2500 * k + 2000)::BIGINT AS cue_end_ms,
        'spoken line ' || k || ' of clip ' || seed ||
          (CASE WHEN k % 2 = 1 THEN chr(10) || 'second line ' || k ELSE '' END)
          AS cue_text,
        NULL::VARCHAR AS parse_error
      FROM c"""))

  private val mmMp3Census = Q("mm_mp3_census",
    (s, dir) => {
      val clips = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.AudioBitstream.syntheticMp3(
          (lit(1) + col("doc_id") % 9).cast("int"),
          (lit(1) + col("doc_id") % 14).cast("int"),
          (lit(1) + col("doc_id") * 5 % 14).cast("int"),
          (col("doc_id") % 3).cast("int"),
          (col("doc_id") * 3 % 128).cast("int"),
          (col("doc_id") % 32).cast("int")).as("payload"))
      graft.ops.AudioBitstream.mp3FrameCensus(clips, "payload")
        .select(col("doc_id"), col("id3v2_bytes"), col("frame_count"),
          col("mp3_sample_rate"), col("bitrate_kbps_min"),
          col("bitrate_kbps_max"), col("is_vbr"),
          round(col("duration_s"), 6).as("duration_s"), col("parse_error"))
    },
    Some("""WITH p AS (
        SELECT doc_id, (1 + doc_id % 9)::INT AS nf,
          (1 + doc_id % 14)::INT AS b1, (1 + doc_id * 5 % 14)::INT AS b2,
          (doc_id % 3)::INT AS sri, (doc_id * 3 % 128)::INT AS pad
        FROM documents),
      k AS (
        SELECT doc_id, nf, pad,
          ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[b1]::INT AS k1,
          ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[b2]::INT AS k2,
          ([44100,48000,32000])[sri + 1]::INT AS sr
        FROM p)
      SELECT doc_id, (10 + pad)::INT AS id3v2_bytes, nf AS frame_count,
        sr AS mp3_sample_rate,
        (CASE WHEN nf = 1 THEN k1 ELSE least(k1, k2) END)::INT AS bitrate_kbps_min,
        (CASE WHEN nf = 1 THEN k1 ELSE greatest(k1, k2) END)::INT AS bitrate_kbps_max,
        nf > 1 AND k1 <> k2 AS is_vbr,
        round(nf * 1152.0 / sr, 6) AS duration_s,
        NULL::VARCHAR AS parse_error
      FROM k"""))
  /** REAL video round-trip: per-doc MJPEG-AVI clips (dims, frame count and
    * gray progression from doc_id; every frame a solid gray encoded by the
    * JDK JPEG writer at quality 1) decoded frame-by-frame by
    * [[Multimodal.decodeVideoFrames]] — the oracle predicts one row per
    * frame with exact dims and the exact gray mean (constant-Y JPEG
    * round-trips losslessly; verified for all 256 gray values).
    */
  private val mmVideo = Q("mm_video_frames",
    (s, dir) => {
      val avis = t(s, dir, "documents").select(col("doc_id"),
        Multimodal.syntheticMjpegAvi(
          (lit(16) + col("doc_id") % 9).cast("int"),
          (lit(8) + col("doc_id") % 5).cast("int"),
          (lit(1) + col("doc_id") % 4).cast("int"),
          (col("doc_id") * 11 % 256).cast("int")).as("payload"))
      Multimodal.decodeVideoFrames(avis, "payload")
        .select(col("doc_id"), col("frame_idx"),
          col("frame_width"), col("frame_height"),
          round(col("frame_mean"), 6).as("frame_mean"), col("decode_error"))
    },
    Some("""SELECT doc_id, f::INT AS frame_idx,
      (16 + doc_id % 9)::INT AS frame_width, (8 + doc_id % 5)::INT AS frame_height,
      round(((doc_id * 11 + 7 * f) % 256)::DOUBLE, 6) AS frame_mean,
      NULL::VARCHAR AS decode_error
      FROM documents, unnest(generate_series(0, (doc_id % 4)::INT)) AS t(f)"""))

  /** H.264 Annex-B structure parse WITHOUT pixel decode: per-doc synthetic
    * baseline streams (SPS/PPS + IDR/non-IDR slices, dims and cadence from
    * doc_id; slice bodies high-bit bytes so no emulation-prevention or
    * start-code aliasing can occur) scanned by
    * [[graft.ops.VideoBitstream.parseH264Nals]] — the oracle replays the
    * byte layout closed-form: Exp-Golomb lengths via
    * 2·⌊log2(k+1)⌋+1 = 2·(length(bin(k+1))−1)+1, SPS size =
    * 1 + ⌈(38+Lw+Lh)/8⌉, slice offsets by prefix sums over the
    * per-frame body-length formula.
    */
  private val mmH264Nals = Q("mm_h264_nals",
    (s, dir) => {
      val clips = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.VideoBitstream.syntheticAnnexB(
          (lit(1) + col("doc_id") % 8).cast("int"),
          (lit(1) + col("doc_id") % 5).cast("int"),
          (lit(1) + col("doc_id") % 6).cast("int"),
          (lit(1) + col("doc_id") % 3).cast("int"),
          (col("doc_id") % 16).cast("int")).as("payload"))
      graft.ops.VideoBitstream.parseH264Nals(clips, "payload")
        .select(col("doc_id"), col("nal_idx"), col("nal_type"),
          col("nal_ref_idc"), col("nal_offset"), col("nal_size"),
          col("is_idr"), col("parse_error"))
    },
    Some("""WITH p AS (
        SELECT doc_id, (1 + doc_id % 8)::INT AS mbw, (1 + doc_id % 5)::INT AS mbh,
          (1 + doc_id % 6)::INT AS nf, (1 + doc_id % 3)::INT AS period,
          (doc_id % 16)::INT AS seed
        FROM documents),
      hdr AS (
        SELECT *, (1 + (38 + (2*(length(bin(mbw))-1)+1)
                          + (2*(length(bin(mbh))-1)+1) + 7) // 8)::INT AS sps_size
        FROM p),
      sl AS (
        SELECT doc_id, sps_size, period, f::INT AS f,
          (9 + (seed + f) % 16)::INT AS ssz
        FROM hdr, unnest(generate_series(0, nf - 1)) AS t(f)),
      slo AS (
        SELECT doc_id, sps_size, period, f, ssz,
          coalesce(sum(ssz + 3) OVER (PARTITION BY doc_id ORDER BY f
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS prior
        FROM sl)
      SELECT doc_id, 0::INT AS nal_idx, 7::INT AS nal_type, 3::INT AS nal_ref_idc,
        4::INT AS nal_offset, sps_size AS nal_size, FALSE AS is_idr,
        NULL::VARCHAR AS parse_error
      FROM hdr
      UNION ALL
      SELECT doc_id, 1::INT, 8::INT, 3::INT, (4 + sps_size + 3)::INT, 5::INT,
        FALSE, NULL::VARCHAR
      FROM hdr
      UNION ALL
      SELECT doc_id, (2 + f)::INT,
        (CASE WHEN f % period = 0 THEN 5 ELSE 1 END)::INT,
        (CASE WHEN f % period = 0 THEN 3 ELSE 2 END)::INT,
        (4 + sps_size + 3 + 5 + 3 + prior)::INT, ssz,
        f % period = 0, NULL::VARCHAR
      FROM slo"""))

  /** SPS-derived clip metadata (profile/level/dims from a REAL Exp-Golomb
    * parse of the synthetic SPS, NAL/IDR counts from the Annex-B scan) —
    * the resolution/keyframe-density curation gates, decode-free. The
    * oracle predicts every field from the doc_id formulas (idr_count =
    * ⌈nf/period⌉).
    */
  private val mmH264Meta = Q("mm_h264_meta",
    (s, dir) => {
      val clips = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.VideoBitstream.syntheticAnnexB(
          (lit(1) + col("doc_id") % 8).cast("int"),
          (lit(1) + col("doc_id") % 5).cast("int"),
          (lit(1) + col("doc_id") % 6).cast("int"),
          (lit(1) + col("doc_id") % 3).cast("int"),
          (col("doc_id") % 16).cast("int")).as("payload"))
      graft.ops.VideoBitstream.h264ClipMeta(clips, "payload")
        .select(col("doc_id"), col("h264_profile"), col("h264_level"),
          col("h264_width"), col("h264_height"), col("nal_count"),
          col("idr_count"), col("parse_error"))
    },
    Some("""SELECT doc_id, 66::INT AS h264_profile, 30::INT AS h264_level,
      (16 * (1 + doc_id % 8))::INT AS h264_width,
      (16 * (1 + doc_id % 5))::INT AS h264_height,
      (2 + 1 + doc_id % 6)::INT AS nal_count,
      ((1 + doc_id % 6 + doc_id % 3) // (1 + doc_id % 3))::INT AS idr_count,
      NULL::VARCHAR AS parse_error
      FROM documents"""))
  /** P/B-slice GOP census ([[graft.ops.VideoBitstream.h264SliceCensus]])
    * — the structure-first step ahead of any inter-prediction work:
    * REAL §7.3.3 slice-header prefixes (Exp-Golomb first_mb_in_slice +
    * slice_type) parsed per coded slice give each clip's I/P/B/IDR
    * counts, GOP shape and the NAMED decode verdict (IDR present →
    * null; IDR-less P/B stream → the inter seam by name). Fixture is GOP-shaped (IDR opens each GOP, every
    * `bPeriod`-th in-GOP slice is B, the rest P); every count is
    * closed-form in doc_id. Decode-free narrow map, no shuffle.
    */
  private val mmH264SliceCensus = Q("mm_h264_slice_census",
    (s, dir) => {
      val d = col("doc_id")
      val clips = t(s, dir, "documents").select(d,
        graft.ops.VideoBitstream.syntheticGopAnnexB(
          (lit(1) + d % 4).cast("int"), (lit(1) + d % 3).cast("int"),
          (lit(1) + d % 3).cast("int"), (lit(3) + d % 4).cast("int"),
          (lit(2) + d % 2).cast("int"), (d % 16).cast("int"))
          .as("payload"))
      graft.ops.VideoBitstream.h264SliceCensus(clips, "payload")
        .select(col("doc_id"), col("n_slices"), col("n_i"), col("n_p"),
          col("n_b"), col("n_idr"), col("first_slice_type"),
          col("decode_refusal"), col("parse_error"))
    },
    Some("""WITH p AS (SELECT doc_id, (1 + doc_id % 3)::INT AS g,
        (3 + doc_id % 4)::INT AS L, (2 + doc_id % 2)::INT AS bp
        FROM documents)
      SELECT doc_id, (g * L)::INT AS n_slices, g::INT AS n_i,
        (g * (L - 1) - g * ((L - 1) // bp))::INT AS n_p,
        (g * ((L - 1) // bp))::INT AS n_b, g::INT AS n_idr,
        'all-I' AS first_slice_type,
        NULL::VARCHAR AS decode_refusal, NULL::VARCHAR AS parse_error
      FROM p"""))

  /** MP4/ISO-BMFF clip metadata WITHOUT decode: synthetic per-doc MP4s
    * (one AVC track; avcC carries the same synthetic SPS as the Annex-B
    * rows; timescale 512 / delta 128 so duration_s = n/4 is float-exact)
    * parsed by [[graft.ops.VideoBitstream.mp4ClipMeta]] — the oracle
    * predicts every field from the doc_id formulas.
    */
  private val mmMp4Meta = Q("mm_mp4_meta",
    (s, dir) => {
      val clips = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.VideoBitstream.syntheticMp4(
          (lit(1) + col("doc_id") % 8).cast("int"),
          (lit(1) + col("doc_id") % 5).cast("int"),
          (lit(1) + col("doc_id") % 7).cast("int"),
          (lit(1) + col("doc_id") % 3).cast("int"),
          (col("doc_id") % 16).cast("int")).as("payload"))
      graft.ops.VideoBitstream.mp4ClipMeta(clips, "payload")
        .select(col("doc_id"), col("brand"), col("duration_s"),
          col("track_count"), col("video_codec"), col("h264_profile"),
          col("h264_level"), col("h264_width"), col("h264_height"),
          col("sample_count"), col("sync_count"), col("parse_error"))
    },
    Some("""SELECT doc_id, 'isom' AS brand,
      ((1 + doc_id % 7) * 128.0 / 512.0) AS duration_s,
      1::INT AS track_count, 'avc1' AS video_codec,
      66::INT AS h264_profile, 30::INT AS h264_level,
      (16 * (1 + doc_id % 8))::INT AS h264_width,
      (16 * (1 + doc_id % 5))::INT AS h264_height,
      (1 + doc_id % 7)::INT AS sample_count,
      ((1 + doc_id % 7 + doc_id % 3) // (1 + doc_id % 3))::INT AS sync_count,
      NULL::VARCHAR AS parse_error
      FROM documents"""))

  /** The keyframe byte-range table from MP4 structure alone
    * ([[graft.ops.VideoBitstream.mp4SyncSamples]] — stsc×stco×stsz walk +
    * stss flags): the oracle replays sample sizes and file-absolute
    * offsets closed-form (mdat-first layout ⇒ payload starts at byte 28,
    * offsets are prefix sums of the size formula).
    */
  private val mmMp4Sync = Q("mm_mp4_sync",
    (s, dir) => {
      val clips = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.VideoBitstream.syntheticMp4(
          (lit(1) + col("doc_id") % 8).cast("int"),
          (lit(1) + col("doc_id") % 5).cast("int"),
          (lit(1) + col("doc_id") % 7).cast("int"),
          (lit(1) + col("doc_id") % 3).cast("int"),
          (col("doc_id") % 16).cast("int")).as("payload"))
      graft.ops.VideoBitstream.mp4SyncSamples(clips, "payload")
        .select(col("doc_id"), col("sample_idx"), col("sample_size"),
          col("sample_offset"), col("sample_time_ms"), col("is_sync"),
          col("parse_error"))
    },
    Some("""WITH p AS (
        SELECT doc_id, (1 + doc_id % 7)::INT AS nf, (1 + doc_id % 3)::INT AS per,
          (doc_id % 16)::INT AS seed
        FROM documents),
      s AS (
        SELECT doc_id, per, k::INT AS k, (50 + (seed + 7*k) % 32)::INT AS sz
        FROM p, unnest(generate_series(0, nf - 1)) AS t(k)),
      o AS (
        SELECT doc_id, k, sz, per,
          (28 + coalesce(sum(sz) OVER (PARTITION BY doc_id ORDER BY k
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS soff
        FROM s)
      SELECT doc_id, (k + 1)::INT AS sample_idx, sz AS sample_size,
        soff AS sample_offset, (250 * k)::BIGINT AS sample_time_ms,
        k % per = 0 AS is_sync,
        NULL::VARCHAR AS parse_error
      FROM o"""))

  /** The video-text seam the subtitle parser was built for: WebVTT/SRT cue
    * spans ([[graft.ops.Subtitles.parseCues]]) range-joined per clip to
    * the MP4 keyframe timeline ([[graft.ops.VideoBitstream.mp4SyncSamples]]
    * `where(is_sync)`, stts-derived millisecond times) via the keyed
    * range join [[graft.ops.Joins.pointInIntervalBy]] — one row per
    * (cue, keyframe-inside-the-cue), the table a video curation pipeline
    * decodes from (fetch only keyframes whose span has aligned text).
    * Oracle replays both synthetic generators closed-form: cue k spans
    * [2500k, 2500k+2000), sample j sits at 250·j ms and is sync iff
    * j mod syncPeriod = 0.
    */
  private val mmCueKeyframes = Q("mm_cue_keyframes",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cues = graft.ops.Subtitles.parseCues(
        docs.select(col("doc_id"),
          graft.ops.Subtitles.syntheticSubtitle(
            (lit(1) + col("doc_id") % 6).cast("int"),
            (col("doc_id") % 32).cast("int"),
            col("doc_id") % 2 === 0).as("subtitle")), "subtitle")
        .select(col("doc_id"), col("cue_idx"),
          col("cue_start_ms"), col("cue_end_ms"))
      val keyframes = graft.ops.VideoBitstream.mp4SyncSamples(
        docs.select(col("doc_id"),
          graft.ops.VideoBitstream.syntheticMp4(
            (lit(1) + col("doc_id") % 8).cast("int"),
            (lit(1) + col("doc_id") % 5).cast("int"),
            (lit(1) + col("doc_id") % 40).cast("int"),
            (lit(1) + col("doc_id") % 3).cast("int"),
            (col("doc_id") % 16).cast("int")).as("payload")), "payload")
        .where(col("is_sync"))
        .select(col("doc_id"), col("sample_idx").as("kf_sample_idx"),
          col("sample_time_ms").as("kf_time_ms"))
      graft.ops.Joins.pointInIntervalBy(keyframes, "kf_time_ms",
        cues, "cue_start_ms", "cue_end_ms", Seq("doc_id"))
        .select(col("doc_id"), col("cue_idx"),
          col("kf_sample_idx"), col("kf_time_ms"))
    },
    Some("""WITH cues AS (
        SELECT doc_id, k::INT AS cue_idx, (2500 * k)::BIGINT AS lo,
          (2500 * k + 2000)::BIGINT AS hi
        FROM documents, unnest(generate_series(0, doc_id % 6)) AS t(k)),
      kf AS (
        SELECT doc_id, (j + 1)::INT AS kf_sample_idx,
          (250 * j)::BIGINT AS kf_time_ms
        FROM documents, unnest(generate_series(0, doc_id % 40)) AS t2(j)
        WHERE j % (1 + doc_id % 3) = 0)
      SELECT c.doc_id, c.cue_idx, f.kf_sample_idx, f.kf_time_ms
      FROM cues c JOIN kf f ON c.doc_id = f.doc_id
        AND f.kf_time_ms >= c.lo AND f.kf_time_ms < c.hi"""))

  /** WebM/Matroska structure census ([[graft.ops.Ebml.webmTracks]]) —
    * the decode-free container gate for crawled VP8/VP9/AV1 video: REAL
    * EBML coding (RFC 8794 vints, nested masters) walked for DocType,
    * per-track codec/dims/audio params, TimestampScale-normalized
    * duration, and the cluster/SimpleBlock keyframe census. One row per
    * track; every column closed-form in doc_id. Narrow flatMap — the
    * 100 TB shape is per-clip independent, no shuffle, no decode.
    */
  private val mmWebmTracks = Q("mm_webm_tracks",
    (s, dir) => {
      val clips = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.Ebml.syntheticWebm(
          (col("doc_id") % 3).cast("int"),
          (lit(320) + lit(16) * (col("doc_id") % 10)).cast("int"),
          (lit(240) + lit(16) * (col("doc_id") % 6)).cast("int"),
          (col("doc_id") % 2).cast("int"),
          when(col("doc_id") % 2 === 0, 48000).otherwise(44100).cast("int"),
          (lit(1) + col("doc_id") % 3).cast("int"),
          (lit(4) + col("doc_id") % 3).cast("int"),
          (lit(2) + col("doc_id") % 2).cast("int"),
          (lit(1000) + lit(500) * (col("doc_id") % 5)).cast("int")).as("payload"))
      graft.ops.Ebml.webmTracks(clips, "payload")
        .select(col("doc_id"), col("doc_type"), col("track_number"),
          col("track_type"), col("codec_id"), col("pixel_width"),
          col("pixel_height"), col("sampling_hz"), col("channels"),
          col("duration_s"), col("cluster_count"), col("block_count"),
          col("keyframe_count"), col("parse_error"))
    },
    Some("""WITH p AS (SELECT doc_id,
        (doc_id % 3)::INT AS cs, (320 + 16 * (doc_id % 10))::BIGINT AS w,
        (240 + 16 * (doc_id % 6))::BIGINT AS h, (doc_id % 2)::INT AS asel,
        (CASE WHEN doc_id % 2 = 0 THEN 48000 ELSE 44100 END)::DOUBLE AS hz,
        (1 + doc_id % 3)::INT AS nc, (4 + doc_id % 3)::INT AS bp,
        (2 + doc_id % 2)::INT AS kp,
        (1000 + 500 * (doc_id % 5))::INT AS dur_ms FROM documents)
      SELECT doc_id, 'webm' AS doc_type, 1::BIGINT AS track_number,
        'video' AS track_type,
        (CASE cs WHEN 0 THEN 'V_VP8' WHEN 1 THEN 'V_VP9'
          ELSE 'V_AV1' END) AS codec_id,
        w AS pixel_width, h AS pixel_height,
        NULL::DOUBLE AS sampling_hz, NULL::BIGINT AS channels,
        (dur_ms / 1000.0)::DOUBLE AS duration_s,
        nc AS cluster_count, (nc * bp)::INT AS block_count,
        (nc * ((bp + kp - 1) // kp))::INT AS keyframe_count,
        NULL::VARCHAR AS parse_error
      FROM p
      UNION ALL
      SELECT doc_id, 'webm', 2::BIGINT, 'audio',
        (CASE asel WHEN 0 THEN 'A_OPUS' ELSE 'A_VORBIS' END),
        NULL::BIGINT, NULL::BIGINT, hz, 2::BIGINT,
        (dur_ms / 1000.0)::DOUBLE, nc, (nc * bp)::INT,
        (nc * ((bp + kp - 1) // kp))::INT, NULL::VARCHAR
      FROM p"""),
    bench = true)

  /** HEVC/H.265 structure census ([[graft.ops.Hevc.hevcMeta]]) — the
    * third crawled-video gate next to the H.264 walk and the WebM
    * census: two-byte NAL headers over the same Annex-B framing, the
    * IRAP keyframe census (types 16..23, IDR 19/20, CRA 21), and a REAL
    * §7.3.2.2 SPS parse (12-byte general PTL, dims, chroma format, bit
    * depth) with emulation-prevention unescape. All columns closed-form
    * in doc_id; decode-free, narrow, per-clip degradation.
    */
  private val mmHevcMeta = Q("mm_hevc_meta",
    (s, dir) => {
      val clips = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.Hevc.syntheticHevcAnnexB(
          (lit(320) + lit(16) * (col("doc_id") % 10)).cast("int"),
          (lit(240) + lit(16) * (col("doc_id") % 6)).cast("int"),
          (lit(1) + col("doc_id") % 2).cast("int"),
          (lit(90) + lit(30) * (col("doc_id") % 4)).cast("int"),
          (lit(2) * (col("doc_id") % 2)).cast("int"),
          (lit(1) + col("doc_id") % 3).cast("int"),
          (col("doc_id") % 2).cast("int"),
          (lit(2) + col("doc_id") % 4).cast("int")).as("payload"))
      graft.ops.Hevc.hevcMeta(clips, "payload")
        .select(col("doc_id"), col("nal_count"), col("irap_count"),
          col("idr_count"), col("cra_count"), col("has_vps"),
          col("has_pps"), col("width"), col("height"), col("profile_idc"),
          col("level_idc"), col("bit_depth_luma"), col("parse_error"))
    },
    Some("""WITH p AS (SELECT doc_id,
        (1 + doc_id % 3)::INT AS ni, (doc_id % 2)::INT AS nc,
        (2 + doc_id % 4)::INT AS nt FROM documents)
      SELECT doc_id, (3 + ni + nc + nt)::INT AS nal_count,
        (ni + nc)::INT AS irap_count, ni AS idr_count, nc AS cra_count,
        TRUE AS has_vps, TRUE AS has_pps,
        (320 + 16 * (doc_id % 10))::INT AS width,
        (240 + 16 * (doc_id % 6))::INT AS height,
        (1 + doc_id % 2)::INT AS profile_idc,
        (90 + 30 * (doc_id % 4))::INT AS level_idc,
        (8 + 2 * (doc_id % 2))::INT AS bit_depth_luma,
        NULL::VARCHAR AS parse_error
      FROM p"""),
    bench = true)

  /** Ogg-Opus / Ogg-Vorbis / FLAC structure census
    * ([[graft.ops.AudioContainers.audioContainerMeta]]) — the crawled-
    * audio gate beyond MP3/WAVE: RFC 3533 page walk with lacing, RFC
    * 7845 OpusHead (granules at 48 kHz minus pre-skip), the Vorbis I
    * identification header, and the FLAC metadata chain with the
    * 64-bit-packed STREAMINFO. Fixture cycles all three containers per
    * doc_id; every column (codec, rate, channels, pages/blocks, exact
    * duration) closed-form. Decode-free, narrow, per-clip degradation.
    */
  private val mmAudioContainers = Q("mm_audio_containers",
    (s, dir) => {
      val d = col("doc_id")
      val payload = when(d % 3 === 0,
          graft.ops.AudioContainers.syntheticFlac(
            when(d % 2 === 0, 44100).otherwise(48000).cast("int"),
            (lit(1) + d % 2).cast("int"), lit(16),
            (lit(100000) + lit(480) * (d % 100)).cast("long")))
        .when(d % 3 === 1,
          graft.ops.AudioContainers.syntheticOggOpus(
            (lit(1) + d % 2).cast("int"), lit(312),
            (lit(2) + d % 3).cast("int"),
            (lit(48000) * (lit(1) + d % 5)).cast("long")))
        .otherwise(
          graft.ops.AudioContainers.syntheticOggVorbis(
            lit(2), lit(44100), (lit(2) + d % 2).cast("int"),
            (lit(44100) * (lit(1) + d % 4)).cast("long")))
      val clips = t(s, dir, "documents").select(d, payload.as("payload"))
      graft.ops.AudioContainers.audioContainerMeta(clips, "payload")
        .select(col("doc_id"), col("container"), col("codec"),
          col("sample_rate"), col("channels"), col("bits_per_sample"),
          col("total_samples"), col("page_count"), col("meta_blocks"),
          col("duration_s"), col("parse_error"))
    },
    Some("""SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'flac' ELSE 'ogg' END AS container,
        CASE doc_id % 3 WHEN 0 THEN 'flac' WHEN 1 THEN 'opus'
          ELSE 'vorbis' END AS codec,
        (CASE doc_id % 3
          WHEN 0 THEN CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END
          WHEN 1 THEN 48000 ELSE 44100 END)::BIGINT AS sample_rate,
        (CASE doc_id % 3 WHEN 2 THEN 2
          ELSE 1 + doc_id % 2 END)::INT AS channels,
        (CASE doc_id % 3 WHEN 0 THEN 16 ELSE NULL END)::INT AS bits_per_sample,
        (CASE doc_id % 3
          WHEN 0 THEN 100000 + 480 * (doc_id % 100)
          WHEN 1 THEN 48000 * (1 + doc_id % 5)
          ELSE 44100 * (1 + doc_id % 4) END)::BIGINT AS total_samples,
        (CASE doc_id % 3 WHEN 0 THEN NULL
          WHEN 1 THEN 3 + doc_id % 3
          ELSE 3 + doc_id % 2 END)::INT AS page_count,
        (CASE doc_id % 3 WHEN 0 THEN 3 ELSE NULL END)::INT AS meta_blocks,
        (CASE doc_id % 3
          WHEN 0 THEN (100000 + 480 * (doc_id % 100))
            / (CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END)::DOUBLE
          WHEN 1 THEN (1 + doc_id % 5)::DOUBLE
          ELSE (1 + doc_id % 4)::DOUBLE END) AS duration_s,
        NULL::VARCHAR AS parse_error
      FROM documents"""),
    bench = true)

  /** The shared video generators, declared nondeterministic for the
    * media gate only — the same optimizer pin as
    * [[graft.ops.Ebml.syntheticWebm]]'s: filter pushdown must not copy
    * the payload expression into every sniffer reference. The shared
    * UDFs stay deterministic for every other caller.
    */
  private[graft] val gateSyntheticMp4 =
    graft.ops.VideoBitstream.syntheticMp4.asNondeterministic()
  private[graft] val gateSyntheticAnnexB =
    graft.ops.VideoBitstream.syntheticAnnexB.asNondeterministic()

  /** Multi-format MEDIA GATE pipeline — the composition row over the
    * whole census family: one mixed corpus (payload kind cycles WebM /
    * HEVC Annex-B / FLAC / Ogg-Opus / AVC MP4 / H.264 Annex-B by
    * doc_id % 6), [[graft.ops.Multimodal.sniffMediaType]] routes each
    * clip to its typed census ([[graft.ops.Ebml.webmTracks]],
    * [[graft.ops.Hevc.hevcMeta]],
    * [[graft.ops.AudioContainers.audioContainerMeta]],
    * [[graft.ops.VideoBitstream.mp4ClipMeta]]/h264ClipMeta), and the
    * branches union into ONE normalized gate frame with a declarative
    * keep rule (video: width ≥ 352 and ≥ 2 keyframes; audio: duration ≥
    * 1.5 s). Video is gated on container metadata alone — SPS dims and
    * the sync-sample/IDR count — so no frame is decoded. This is the
    * 100 TB curation shape: per-clip narrow census per branch, no
    * shuffle, the gate itself codegen'd expressions. Scale note: each
    * branch re-filters the corpus because the fixture payloads are
    * GENERATED — over a real object store you persist the sniffed
    * frame once (or let the sniff column partition-prune) so the five
    * branches share one read. The oracle recomputes every branch's
    * closed form and the keep verdict per doc.
    */
  /** The media-gate fixture corpus: payload kind cycles by doc_id % 6
    * (shared by the kind-prefilter and persist-once gate rows). Kind 4
    * is an AVC MP4 of (1 + d%4)×(1 + d%3) macroblocks with 1 + d%7
    * samples, every (1 + d%3)-th a sync sample; kind 5 an Annex-B
    * stream of 3×2 macroblocks (48×32) with one IDR.
    */
  private def mediaGateGen(k: Int, d: Column): Column = k match {
    case 0 =>
      graft.ops.Ebml.syntheticWebm((d % 3).cast("int"),
        (lit(320) + lit(16) * (d % 10)).cast("int"),
        (lit(240) + lit(16) * (d % 6)).cast("int"),
        (d % 2).cast("int"),
        when(d % 2 === 0, 48000).otherwise(44100).cast("int"),
        (lit(1) + d % 3).cast("int"), (lit(4) + d % 3).cast("int"),
        (lit(2) + d % 2).cast("int"),
        (lit(1000) + lit(500) * (d % 5)).cast("int"))
    case 1 =>
      graft.ops.Hevc.syntheticHevcAnnexB(
        (lit(320) + lit(16) * (d % 10)).cast("int"),
        (lit(240) + lit(16) * (d % 6)).cast("int"),
        (lit(1) + d % 2).cast("int"),
        (lit(90) + lit(30) * (d % 4)).cast("int"),
        (lit(2) * (d % 2)).cast("int"), (lit(1) + d % 3).cast("int"),
        (d % 2).cast("int"), (lit(2) + d % 4).cast("int"))
    case 2 =>
      graft.ops.AudioContainers.syntheticFlac(
        when(d % 2 === 0, 44100).otherwise(48000).cast("int"),
        (lit(1) + d % 2).cast("int"), lit(16),
        (lit(100000) + lit(480) * (d % 100)).cast("long"))
    case 3 =>
      graft.ops.AudioContainers.syntheticOggOpus(
        (lit(1) + d % 2).cast("int"), lit(312),
        (lit(2) + d % 3).cast("int"),
        (lit(48000) * (lit(1) + d % 5)).cast("long"))
    case 4 =>
      gateSyntheticMp4(
        (lit(1) + d % 4).cast("int"), (lit(1) + d % 3).cast("int"),
        (lit(1) + d % 7).cast("int"), (lit(1) + d % 3).cast("int"),
        (d * 7 % 256).cast("int"))
    case _ =>
      // idrPeriod = nFrames: frame 0 is the stream's only IDR
      gateSyntheticAnnexB(lit(3), lit(2),
        (lit(2) + d % 3).cast("int"), (lit(2) + d % 3).cast("int"),
        (lit(150) + d % 7).cast("int"))
  }

  private def mediaGatePayload(d: Column): Column = when(d % 6 === 0,
          mediaGateGen(0, d))
        .when(d % 6 === 1, mediaGateGen(1, d))
        .when(d % 6 === 2, mediaGateGen(2, d))
        .when(d % 6 === 3, mediaGateGen(3, d))
        .when(d % 6 === 4, mediaGateGen(4, d))
        .otherwise(mediaGateGen(5, d))

  private val mmMediaGate = Q("mm_media_gate_pipeline",
    (s, dir) => {
      val d = col("doc_id")
      def norm(df: org.apache.spark.sql.DataFrame, kind: String,
          w: Column, h: Column, sr: Column, dur: Column,
          kf: Column): org.apache.spark.sql.DataFrame =
        df.select(col("doc_id"), col("sniffed"), lit(kind).as("media_kind"),
          w.cast("int").as("width"), h.cast("int").as("height"),
          sr.cast("bigint").as("sample_rate"),
          dur.cast("double").as("duration_s"), kf.cast("int").as("keyframes"))
      // each branch pre-filters by its fixture kind BEFORE the payload
      // generator runs (the decade leg caught the alternative: five
      // branches each regenerating + re-sniffing the FULL corpus made
      // this row 6x its honest cost — the same re-evaluation class as
      // r14's notInCorpus catch). The sniff filter stays in the plan, so
      // a mis-sniffed clip still drops and the oracle's row count
      // catches it; over a real object store the same shape is "persist
      // the sniffed frame once" (see the row scaladoc).
      //
      // Under `doc_id % 6 === k` the full payload when-chain reduces to
      // exactly its k-th generator, so each branch carries ONLY that
      // generator: the former all-six-generators projection blew the
      // 64 KB codegen method limit in every branch (six interpreted
      // fallbacks logged per run) — one generator codegens. The widen
      // exchange moves bare doc_ids BEFORE payload synthesis (the
      // single-row-group fixture scan is otherwise one task against 32
      // cores; at real scale the scan is already wide and widen is a
      // no-op).
      //
      // r19 (VERDICT r18 #7): the ids are widened ONCE and persisted, so
      // the six kind branches fan out from ONE documents pass instead of
      // six (the r18 shape scanned the id column six times — cheap here,
      // six full passes at 100 TB). A shared widen exchange alone cannot
      // do this: the optimizer pushes each branch's `% 6 = k` filter
      // below the repartition, splitting the exchange six ways again —
      // the cache is the materialization barrier that keeps the fan-out.
      // The bare-id cache is 8 bytes/doc; each attempt's clearCache
      // recomputes it honestly.
      val ids = graft.util.ScanSpread.widen(t(s, dir, "documents").select(d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def kind(k: Int) =
        ids.filter(d % 6 === k)
          .select(d, mediaGateGen(k, d).as("payload"))
          .withColumn("sniffed",
            graft.ops.Multimodal.sniffMediaType(col("payload")))
      val webm = norm(graft.ops.Ebml.webmTracks(
          kind(0).filter(col("sniffed") === "video/webm"), "payload")
          .filter(col("track_type") === "video"),
        "webm", col("pixel_width"), col("pixel_height"), lit(null),
        col("duration_s"), col("keyframe_count"))
      val hevc = norm(graft.ops.Hevc.hevcMeta(
          kind(1).filter(col("sniffed") === "video/annexb"), "payload"),
        "hevc", col("width"), col("height"), lit(null), lit(null),
        col("irap_count"))
      val audio = norm(graft.ops.AudioContainers.audioContainerMeta(
          kind(2).unionByName(kind(3))
            .filter(col("sniffed").isin("audio/flac", "application/ogg")),
          "payload"),
        "audio", lit(null), lit(null), col("sample_rate"),
        col("duration_s"), lit(null))
      val mp4 = norm(graft.ops.VideoBitstream.mp4ClipMeta(
          kind(4).filter(col("sniffed") === "video/mp4"), "payload"),
        "mp4", col("h264_width"), col("h264_height"), lit(null), lit(null),
        col("sync_count"))
      val h264 = norm(graft.ops.VideoBitstream.h264ClipMeta(
          kind(5).filter(col("sniffed") === "video/annexb"), "payload"),
        "h264", col("h264_width"), col("h264_height"), lit(null),
        lit(null), col("idr_count"))
      webm.unionByName(hevc).unionByName(audio).unionByName(mp4)
        .unionByName(h264)
        .withColumn("keep",
          when(col("media_kind") === "audio", col("duration_s") >= 1.5)
            .otherwise((col("width") >= 352) && (col("keyframes") >= 2)))
    },
    Some(mediaGateOracle),
    bench = true)

  /** Closed-form oracle for BOTH media-gate rows (identical output).
    * `lazy`: referenced by `mmMediaGate` above its declaration point —
    * a plain val would still be null during object init.
    */
  private lazy val mediaGateOracle = """WITH p AS (SELECT doc_id, doc_id % 6 AS kind FROM documents)
      SELECT doc_id,
        CASE kind WHEN 0 THEN 'video/webm' WHEN 1 THEN 'video/annexb'
          WHEN 2 THEN 'audio/flac' WHEN 3 THEN 'application/ogg'
          WHEN 4 THEN 'video/mp4' ELSE 'video/annexb' END AS sniffed,
        CASE kind WHEN 0 THEN 'webm' WHEN 1 THEN 'hevc' WHEN 2 THEN 'audio'
          WHEN 3 THEN 'audio' WHEN 4 THEN 'mp4' ELSE 'h264' END AS media_kind,
        (CASE kind WHEN 0 THEN 320 + 16 * (doc_id % 10)
          WHEN 1 THEN 320 + 16 * (doc_id % 10)
          WHEN 4 THEN 16 * (1 + doc_id % 4) WHEN 5 THEN 48 END)::INT AS width,
        (CASE kind WHEN 0 THEN 240 + 16 * (doc_id % 6)
          WHEN 1 THEN 240 + 16 * (doc_id % 6)
          WHEN 4 THEN 16 * (1 + doc_id % 3) WHEN 5 THEN 32 END)::INT AS height,
        (CASE kind WHEN 2 THEN
            CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END
          WHEN 3 THEN 48000 END)::BIGINT AS sample_rate,
        (CASE kind WHEN 0 THEN (1000 + 500 * (doc_id % 5)) / 1000.0
          WHEN 2 THEN (100000 + 480 * (doc_id % 100))
            / (CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END)::DOUBLE
          WHEN 3 THEN (1 + doc_id % 5)::DOUBLE END) AS duration_s,
        (CASE kind
          WHEN 0 THEN (1 + doc_id % 3) *
            ((4 + doc_id % 3 + 1 + doc_id % 2) // (2 + doc_id % 2))
          WHEN 1 THEN 1 + doc_id % 3 + doc_id % 2
          WHEN 4 THEN (1 + doc_id % 7 + doc_id % 3) // (1 + doc_id % 3)
          WHEN 5 THEN 1 END)::INT AS keyframes,
        CASE WHEN kind IN (2, 3) THEN
            (CASE kind WHEN 2 THEN (100000 + 480 * (doc_id % 100))
                / (CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END)::DOUBLE
              ELSE (1 + doc_id % 5)::DOUBLE END) >= 1.5
          ELSE (CASE kind WHEN 0 THEN 320 + 16 * (doc_id % 10)
              WHEN 1 THEN 320 + 16 * (doc_id % 10)
              WHEN 4 THEN 16 * (1 + doc_id % 4) ELSE 48 END) >= 352
            AND (CASE kind
              WHEN 0 THEN (1 + doc_id % 3) *
                ((4 + doc_id % 3 + 1 + doc_id % 2) // (2 + doc_id % 2))
              WHEN 1 THEN 1 + doc_id % 3 + doc_id % 2
              WHEN 4 THEN (1 + doc_id % 7 + doc_id % 3) // (1 + doc_id % 3)
              ELSE 1 END) >= 2
        END AS keep
      FROM p"""

  /** The PERSIST-ONCE media gate ([[graft.ops.MediaGate.gateManaged]]) —
    * the operator-level form of the gate row above: the sniffed corpus
    * frame (doc_id, payload, sniffed) is materialized ONCE into the
    * block-manager cache and all five census branches read THAT frame;
    * no branch re-generates (over a real store: re-reads) the payloads,
    * and no fixture-kind knowledge leaks into the routing. The two
    * Annex-B branches split on [[graft.ops.Multimodal.annexbCodec]]
    * (the structural H.264-odd / H.265-even lead-byte probe), exactly
    * as a real corpus would route them. Oracle identical to the
    * kind-prefilter row — the two compositions must agree bit-for-bit.
    */
  private val mmMediaGatePersist = Q("mm_media_gate_persist",
    (s, dir) => {
      import graft.ops.MediaGate.Branch
      val d = col("doc_id")
      val corpus = t(s, dir, "documents")
        .select(d, mediaGatePayload(d).as("payload"))
      def norm(df: org.apache.spark.sql.DataFrame, kind: String,
          w: Column, h: Column, sr: Column, dur: Column,
          kf: Column): org.apache.spark.sql.DataFrame =
        df.select(col("doc_id"), col("sniffed"), lit(kind).as("media_kind"),
          w.cast("int").as("width"), h.cast("int").as("height"),
          sr.cast("bigint").as("sample_rate"),
          dur.cast("double").as("duration_s"), kf.cast("int").as("keyframes"))
      val annexb = col("sniffed") === "video/annexb"
      val codec = graft.ops.Multimodal.annexbCodec(col("payload"))
      val (gate, _) = graft.ops.MediaGate.gateWithKeep(corpus, Seq(
        Branch(col("sniffed") === "video/webm", df =>
          norm(graft.ops.Ebml.webmTracks(df, "payload")
              .filter(col("track_type") === "video"),
            "webm", col("pixel_width"), col("pixel_height"), lit(null),
            col("duration_s"), col("keyframe_count"))),
        Branch(annexb && codec === "h265", df =>
          norm(graft.ops.Hevc.hevcMeta(df, "payload"),
            "hevc", col("width"), col("height"), lit(null), lit(null),
            col("irap_count"))),
        Branch(col("sniffed").isin("audio/flac", "application/ogg"), df =>
          norm(graft.ops.AudioContainers.audioContainerMeta(df, "payload"),
            "audio", lit(null), lit(null), col("sample_rate"),
            col("duration_s"), lit(null))),
        Branch(col("sniffed") === "video/mp4", df =>
          norm(graft.ops.VideoBitstream.mp4ClipMeta(df, "payload"),
            "mp4", col("h264_width"), col("h264_height"), lit(null),
            lit(null), col("sync_count"))),
        Branch(annexb && codec === "h264", df =>
          norm(graft.ops.VideoBitstream.h264ClipMeta(df, "payload"),
            "h264", col("h264_width"), col("h264_height"), lit(null),
            lit(null), col("idr_count")))),
        keep = when(col("media_kind") === "audio", col("duration_s") >= 1.5)
          .otherwise((col("width") >= 352) && (col("keyframes") >= 2)))
      // single-shot row: the LRU owns the cache block (managed callers
      // hold the release hook; see MediaGate scaladoc)
      gate
    },
    Some(mediaGateOracle),
    bench = true)

  /** IVF (AV1/VP9/VP8) structure census ([[graft.ops.Ivf.ivfMeta]]) —
    * DKIF header walk, per-frame table, REAL AV1 sequence-header OBU
    * parse (profile/level/width/height through the width-bits coding)
    * and the VP9/VP8 frame-tag keyframe bits. Fixture cycles all three
    * fourccs; columns closed-form in doc_id. Decode-free, narrow.
    */
  private val mmIvfMeta = Q("mm_ivf_meta",
    (s, dir) => {
      val d = col("doc_id")
      val clips = t(s, dir, "documents").select(d,
        graft.ops.Ivf.syntheticIvf((d % 3).cast("int"),
          (lit(320) + lit(16) * (d % 8)).cast("int"),
          (lit(240) + lit(16) * (d % 4)).cast("int"),
          (lit(3) + d % 5).cast("int"), (lit(2) + d % 2).cast("int"),
          (d % 3).cast("int"), (lit(8) + d % 5).cast("int")).as("payload"))
      graft.ops.Ivf.ivfMeta(clips, "payload")
        .select(col("doc_id"), col("fourcc"), col("hdr_width"),
          col("hdr_height"), col("hdr_frames"), col("walked_frames"),
          col("keyframes"), col("av1_profile"), col("av1_level"),
          col("av1_width"), col("av1_height"), col("parse_error"))
    },
    Some("""WITH p AS (SELECT doc_id, doc_id % 3 AS fc,
        (320 + 16 * (doc_id % 8))::INT AS w,
        (240 + 16 * (doc_id % 4))::INT AS h,
        (3 + doc_id % 5)::INT AS nf, (2 + doc_id % 2)::INT AS kp
        FROM documents)
      SELECT doc_id,
        CASE fc WHEN 0 THEN 'AV01' WHEN 1 THEN 'VP90' ELSE 'VP80' END AS fourcc,
        w AS hdr_width, h AS hdr_height, nf AS hdr_frames,
        nf AS walked_frames,
        ((nf + kp - 1) // kp)::INT AS keyframes,
        (CASE WHEN fc = 0 THEN doc_id % 3 END)::INT AS av1_profile,
        (CASE WHEN fc = 0 THEN 8 + doc_id % 5 END)::INT AS av1_level,
        (CASE WHEN fc = 0 THEN w END)::INT AS av1_width,
        (CASE WHEN fc = 0 THEN h END)::INT AS av1_height,
        NULL::VARCHAR AS parse_error
      FROM p"""),
    bench = true)

  /** Shared SFT fixture: conversation JSON per doc — kinds 0-4 in the
    * OpenAI `messages` layout (valid 2-turn / valid with system / broken
    * alternation / no trailing assistant / blank content), kind 5 in the
    * ShareGPT `conversations` from/value layout (valid after role
    * normalization). Contents are fixed-width (`Q07`/`A07`/`Sys`) so the
    * render geometry is closed-form.
    */
  private def sftFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val d = col("doc_id")
    val q = format_string("Q%02d", (d % 100).cast("int"))
    val a = format_string("A%02d", (d % 100).cast("int"))
    def m(role: String, c: Column): Column =
      concat(lit("{\"role\":\"" + role + "\",\"content\":\""), c, lit("\"}"))
    def openai(ms: Column*): Column =
      concat(lit("{\"messages\":["), concat_ws(",", ms: _*), lit("]}"))
    val json = when(d % 6 === 0, openai(m("user", q), m("assistant", a)))
      .when(d % 6 === 1,
        openai(m("system", lit("Sys")), m("user", q), m("assistant", a)))
      .when(d % 6 === 2,
        openai(m("user", q), m("user", q), m("assistant", a)))
      .when(d % 6 === 3,
        openai(m("user", q), m("assistant", a), m("user", q)))
      .when(d % 6 === 4, openai(m("user", lit("  ")), m("assistant", a)))
      .otherwise(concat(
        lit("{\"conversations\":[{\"from\":\"human\",\"value\":\""), q,
        lit("\"},{\"from\":\"gpt\",\"value\":\""), a, lit("\"}]}")))
    t(s, dir, "documents").select(d, json.as("conv_json"))
      .withColumn("messages",
        graft.ops.SftData.parseConversationJson(col("conv_json")))
  }

  /** SFT conversation VALIDATION ([[graft.ops.SftData]]) — schema parse
    * of both common fine-tuning JSONL layouts, role normalization
    * (human/gpt → user/assistant), and the structural gates: optional
    * leading system turn, strict user/assistant alternation, trailing
    * assistant target, non-blank contents. Pure higher-order Column
    * algebra (`transform` with index, `forall`) — scan-side codegen, no
    * UDF, no shuffle; the 100 TB shape is identical to the pretraining
    * quality gates.
    */
  private val sftValidate = Q("sft_validate",
    (s, dir) => graft.ops.SftData.validateConversations(sftFixture(s, dir))
      .select(col("doc_id"), col("n_turns"), col("has_system"),
        col("alternation_ok"), col("ends_assistant"), col("nonempty_ok"),
        col("sft_valid")),
    Some("""SELECT doc_id,
        (CASE doc_id % 6 WHEN 0 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 2
          ELSE 3 END)::INT AS n_turns,
        (doc_id % 6 = 1) AS has_system,
        (doc_id % 6 <> 2) AS alternation_ok,
        (doc_id % 6 <> 3) AS ends_assistant,
        (doc_id % 6 <> 4) AS nonempty_ok,
        (doc_id % 6 IN (0, 1, 5)) AS sft_valid
      FROM documents"""),
    bench = true)

  /** SFT chat-template RENDERING + loss-mask geometry
    * ([[graft.ops.SftData.renderChatML]]) — valid conversations render
    * to the ChatML string and the per-assistant-turn "start:len" spans a
    * loss-masked packer consumes, plus the assistant-character density
    * gate. The whole rendering + span arithmetic is one `aggregate`
    * higher-order expression; the oracle rebuilds the exact string and
    * offsets in SQL.
    */
  private val sftRender = Q("sft_render",
    (s, dir) => graft.ops.SftData.renderChatML(
      graft.ops.SftData.validateConversations(sftFixture(s, dir))
        .filter(col("sft_valid")))
      .select(col("doc_id"), col("rendered_text"), col("assistant_spans"),
        col("assistant_chars")),
    Some("""WITH p AS (SELECT doc_id,
        'Q' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS q,
        'A' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS a
        FROM documents WHERE doc_id % 6 IN (0, 1, 5))
      SELECT doc_id,
        (CASE WHEN doc_id % 6 = 1
          THEN '<|im_start|>system' || chr(10) || 'Sys<|im_end|>' || chr(10)
          ELSE '' END)
        || '<|im_start|>user' || chr(10) || q || '<|im_end|>' || chr(10)
        || '<|im_start|>assistant' || chr(10) || a || '<|im_end|>' || chr(10)
          AS rendered_text,
        (CASE WHEN doc_id % 6 = 1 THEN '86:3' ELSE '53:3' END)
          AS assistant_spans,
        3::BIGINT AS assistant_chars
      FROM p"""))

  /** LOSS-MASKED SFT packing ([[graft.ops.SftData
    * .packRenderedWithMasks]]) — the full fine-tuning prep composition:
    * validated conversations render to ChatML, pack into 300-char
    * budget windows per group ([[graft.ops.Packing.packSequences]]
    * layout), and each pack emits the concatenated text plus the
    * assistant spans SHIFTED to pack-relative offsets — the (input,
    * mask) pair an SFT trainer consumes. The oracle replays the whole
    * geometry in SQL: window prefix sums for the layout, min-over-pack
    * for the in-pack offsets, ordered STRING_AGG for text and masks.
    */
  private val sftPackMasked = Q("sft_pack_masked",
    (s, dir) => {
      val rendered = graft.ops.SftData.renderChatML(
        graft.ops.SftData.validateConversations(sftFixture(s, dir))
          .filter(col("sft_valid")))
        .withColumn("grp", col("doc_id") % 2)
      graft.ops.SftData.packRenderedWithMasks(rendered, "doc_id", "grp",
          length(col("rendered_text")).cast("long"), 300L)
        .select(col("grp"), col("pack_id"), col("n_docs"),
          col("packed_text"), col("mask_spans"))
    },
    Some("""WITH v AS (SELECT doc_id, doc_id % 2 AS grp,
        (CASE WHEN doc_id % 6 = 1
          THEN '<|im_start|>system' || chr(10) || 'Sys<|im_end|>' || chr(10)
          ELSE '' END)
        || '<|im_start|>user' || chr(10)
        || 'Q' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        || '<|im_end|>' || chr(10)
        || '<|im_start|>assistant' || chr(10)
        || 'A' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        || '<|im_end|>' || chr(10) AS text,
        (CASE WHEN doc_id % 6 = 1 THEN 86 ELSE 53 END) AS sp_start,
        (CASE WHEN doc_id % 6 = 1 THEN 100 ELSE 67 END) AS len
        FROM documents WHERE doc_id % 6 IN (0, 1, 5)),
      w AS (SELECT *, COALESCE(SUM(len) OVER (PARTITION BY grp
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
          AND 1 PRECEDING), 0) AS cum FROM v),
      p AS (SELECT *, (cum // 300)::BIGINT AS pack_id FROM w),
      q AS (SELECT *, cum - MIN(cum) OVER (PARTITION BY grp, pack_id)
          AS off FROM p)
      SELECT grp, pack_id, COUNT(*)::BIGINT AS n_docs,
        STRING_AGG(text, '' ORDER BY doc_id) AS packed_text,
        STRING_AGG(CAST(sp_start + off AS VARCHAR) || ':3', ','
          ORDER BY doc_id) AS mask_spans
      FROM q GROUP BY grp, pack_id"""))

  /** TOKEN-SPACE loss-masked packing
    * ([[graft.ops.SftData.tokenizeWithMasks]] →
    * [[graft.ops.SftData.packTokenizedWithMasks]]) — the fused
    * (input_ids, loss_mask) pair a trainer consumes: conversations are
    * tokenized SEGMENT-WISE at assistant-span boundaries (so every
    * token span decodes back to exactly its assistant content —
    * property-pinned in SftDataSpec with nontrivial merges), then
    * packed into 300-token windows with the spans shifted to
    * pack-relative TOKEN offsets. The row runs an EMPTY merges table,
    * where byte-level BPE ids are exactly the UTF-8 bytes — so the
    * oracle can state the ids closed-form (ASCII fixture: per-char
    * codes of the packed text) and token offsets coincide with char
    * offsets; nontrivial-merge behavior is the spec's property pin.
    * Same scale shape as sft_pack_masked: one group shuffle + one
    * window, per-pack state budget-bounded.
    */
  private val sftPackTokens = Q("sft_pack_tokens",
    (s, dir) => {
      val rendered = graft.ops.SftData.renderChatML(
        graft.ops.SftData.validateConversations(sftFixture(s, dir))
          .filter(col("sft_valid")))
        .withColumn("grp", col("doc_id") % 2)
      val tokenized = graft.ops.SftData.tokenizeWithMasks(rendered, Nil)
      graft.ops.SftData.packTokenizedWithMasks(tokenized, "doc_id",
          "grp", 300L)
        .select(col("grp"), col("pack_id"), col("n_docs"),
          col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")),
            ",").as("token_ids_csv"),
          col("mask_spans"))
    },
    Some("""WITH v AS (SELECT doc_id, doc_id % 2 AS grp,
        (CASE WHEN doc_id % 6 = 1
          THEN '<|im_start|>system' || chr(10) || 'Sys<|im_end|>' || chr(10)
          ELSE '' END)
        || '<|im_start|>user' || chr(10)
        || 'Q' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        || '<|im_end|>' || chr(10)
        || '<|im_start|>assistant' || chr(10)
        || 'A' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        || '<|im_end|>' || chr(10) AS text,
        (CASE WHEN doc_id % 6 = 1 THEN 86 ELSE 53 END) AS sp_start,
        (CASE WHEN doc_id % 6 = 1 THEN 100 ELSE 67 END) AS len
        FROM documents WHERE doc_id % 6 IN (0, 1, 5)),
      w AS (SELECT *, COALESCE(SUM(len) OVER (PARTITION BY grp
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
          AND 1 PRECEDING), 0) AS cum FROM v),
      p AS (SELECT *, (cum // 300)::BIGINT AS pack_id FROM w),
      q AS (SELECT *, cum - MIN(cum) OVER (PARTITION BY grp, pack_id)
          AS off FROM p),
      r AS (SELECT grp, pack_id, COUNT(*)::BIGINT AS n_docs,
        SUM(len)::BIGINT AS n_tokens,
        STRING_AGG(text, '' ORDER BY doc_id) AS packed_text,
        STRING_AGG(CAST(sp_start + off AS VARCHAR) || ':3', ','
          ORDER BY doc_id) AS mask_spans
        FROM q GROUP BY grp, pack_id)
      SELECT grp, pack_id, n_docs, n_tokens,
        array_to_string(list_transform(string_split(packed_text, ''),
          x -> ascii(x)::VARCHAR), ',') AS token_ids_csv,
        mask_spans FROM r"""))

  /** DPO preference-pair prep ([[graft.ops.SftData.prepareDpoPairs]]) —
    * prompt conversations plus chosen/rejected responses become the two
    * fully-rendered ChatML conversations a preference trainer scores,
    * behind the structural gates (prompt alternates and ENDS ON USER,
    * both responses non-blank, chosen ≠ rejected). Fixture cycles a
    * valid pair and the three malformations; the oracle rebuilds both
    * rendered strings. Scan-side Column algebra, no shuffle.
    */
  private val sftDpoPairs = Q("sft_dpo_pairs",
    (s, dir) => {
      val d = col("doc_id")
      val q = format_string("Q%02d", (d % 100).cast("int"))
      val a = format_string("A%02d", (d % 100).cast("int"))
      val b = format_string("B%02d", (d % 100).cast("int"))
      def msg(role: String, c: Column) =
        struct(lit(role).as("role"), c.as("content"))
      val prompt = when(d % 4 === 1, array(msg("user", q), msg("assistant", a)))
        .otherwise(array(msg("user", q)))
      val rejected = when(d % 4 === 2, a)
        .when(d % 4 === 3, lit("  ")).otherwise(b)
      graft.ops.SftData.prepareDpoPairs(
        t(s, dir, "documents").select(d, prompt.as("prompt_messages"),
          a.as("chosen"), rejected.as("rejected")))
        .select(d, col("dpo_valid"), col("chosen_text"), col("rejected_text"))
    },
    Some("""WITH p AS (SELECT doc_id,
        'Q' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS q,
        'A' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS a,
        'B' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS b
        FROM documents)
      SELECT doc_id, (doc_id % 4 = 0) AS dpo_valid,
        CASE WHEN doc_id % 4 = 0 THEN
          '<|im_start|>user' || chr(10) || q || '<|im_end|>' || chr(10)
          || '<|im_start|>assistant' || chr(10) || a || '<|im_end|>' || chr(10)
        END AS chosen_text,
        CASE WHEN doc_id % 4 = 0 THEN
          '<|im_start|>user' || chr(10) || q || '<|im_end|>' || chr(10)
          || '<|im_start|>assistant' || chr(10) || b || '<|im_end|>' || chr(10)
        END AS rejected_text
      FROM p"""))

  /** FIM (fill-in-the-middle) pretraining transform
    * ([[graft.ops.Augment.fimTransform]]) — the StarCoder/DeepSeek-Coder
    * code-pretraining rewrite: a hash-selected half of the corpus is
    * split at two hash-chosen character points and re-laid-out
    * prefix/suffix/middle with sentinel tokens; the rest pass through.
    * Every random choice is the portable md5 hash, so the DuckDB oracle
    * reproduces the EXACT output strings. Pure substring/hash Columns —
    * scan-side codegen, zero shuffle at any scale.
    */
  private val txtFim = Q("txt_fim_transform",
    (s, dir) => graft.ops.Augment.fimTransform(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", 0.5, seed = 3)
      .select(col("doc_id"), col("fim_applied"), col("fim_text")),
    Some("""WITH p AS (SELECT doc_id, text, length(text) AS n,
        ('0x' || substring(md5('s3:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000 < 500000 AS sel,
        ('0x' || substring(md5('s3:' || CAST(doc_id AS VARCHAR) || ':u'), 1, 15))::BIGINT AS hu,
        ('0x' || substring(md5('s3:' || CAST(doc_id AS VARCHAR) || ':v'), 1, 15))::BIGINT AS hv
        FROM documents),
      q AS (SELECT doc_id, text, n, hv, (sel AND n > 0) AS applied,
        (hu % (n + 1))::INT AS u FROM p),
      r AS (SELECT doc_id, text, n, applied, u,
        (u + hv % (n - u + 1))::INT AS v FROM q)
      SELECT doc_id, applied AS fim_applied,
        CASE WHEN applied THEN
          '<|fim_prefix|>' || substr(text, 1, u)
          || '<|fim_suffix|>' || substr(text, v + 1, n - v)
          || '<|fim_middle|>' || substr(text, u + 1, v - u)
        ELSE text END AS fim_text
      FROM r"""),
    bench = true)

  /** Overlapping document chunking
    * ([[graft.ops.TextAnalysis.chunkDocuments]]) — the RAG/embedding
    * long-doc splitting step: 120-char windows at 40-char overlap
    * (stride 80). Oracle replays the stride arithmetic and substring
    * windows exactly.
    */
  private val txtChunk = Q("txt_chunk_documents",
    (s, dir) => TextAnalysis.chunkDocuments(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "text", "doc_id", maxChars = 120, overlapChars = 40),
    Some("""WITH d AS (SELECT doc_id, COALESCE(text, '') AS t,
        greatest(1, ceil((length(COALESCE(text, '')) - 40) / 80.0))::INT AS n_chunks
        FROM documents),
      k AS (SELECT doc_id, t, n_chunks,
        unnest(generate_series(0, n_chunks - 1))::INT AS chunk_idx FROM d)
      SELECT doc_id, chunk_idx, (chunk_idx * 80 + 1)::INT AS chunk_start,
        substr(t, chunk_idx * 80 + 1, 120) AS chunk_text, n_chunks
      FROM k"""))

  /** T5-style span corruption ([[graft.ops.Augment.spanCorrupt]]) — FIM's
    * sibling transform: 3 hash-placed sentinel spans per selected doc,
    * target = sentinel-prefixed spans + closing sentinel. The oracle
    * replays the segment bounds (same IEEE floor), the md5-derived span
    * geometry, and the exact string assembly — byte-exact like the FIM
    * row. The per-k expressions are GENERATED from one Scala loop so the
    * three spans cannot drift from each other.
    */
  private val txtSpanCorrupt = Q("txt_span_corrupt",
    (s, dir) => graft.ops.Augment.spanCorrupt(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", 0.5, nSpans = 3, maxSpanLen = 8, seed = 5)
      .select(col("doc_id"), col("span_corrupted"), col("sc_input"), col("sc_target")),
    Some {
      val ks = (1 to 3).map { k =>
        val hl = h60Sql(s"CAST(doc_id AS VARCHAR) || ':l:$k'", 5)
        val hs = h60Sql(s"CAST(doc_id AS VARCHAR) || ':s:$k'", 5)
        s"""floor(n * ${k - 1} / 3.0)::BIGINT AS b0_$k,
          floor(n * $k / 3.0)::BIGINT AS b1_$k,
          least(1 + $hl % 8, b1_$k - b0_$k) AS sl_$k,
          ($hs % (b1_$k - b0_$k - sl_$k + 1)) AS off_$k,
          b0_$k + 1 + off_$k AS ss_$k"""
      }.mkString(",\n        ")
      val inputPieces = (1 to 3).map { k =>
        s"substr(text, (b0_$k + 1)::INT, off_$k::INT) || '<|extra_${k - 1}|>' || " +
          s"substr(text, (ss_$k + sl_$k)::INT, (b1_$k - (ss_$k + sl_$k) + 1)::INT)"
      }.mkString(" || ")
      val targetPieces = (1 to 3).map { k =>
        s"'<|extra_${k - 1}|>' || substr(text, ss_$k::INT, sl_$k::INT)"
      }.mkString(" || ")
      s"""WITH p AS (SELECT doc_id, text, length(text)::BIGINT AS n,
        ${h60Sql("CAST(doc_id AS VARCHAR)", 5)} % 1000000 < 500000 AS sel
        FROM documents),
      q AS (SELECT doc_id, text, n, (sel AND n >= 3) AS applied,
        $ks
        FROM p)
      SELECT doc_id, applied AS span_corrupted,
        CASE WHEN applied THEN $inputPieces ELSE text END AS sc_input,
        CASE WHEN applied THEN $targetPieces || '<|extra_3|>' ELSE '' END AS sc_target
      FROM q"""
    })

  /** JPEG/EXIF structure census ([[graft.ops.ImageMetadata
    * .jpegExifCensus]] — decode-free marker walk, TIFF IFD parse in both
    * byte orders, offset-stored ASCII): the image-metadata gate a
    * curation pipeline runs before decoding — `gps_present` is the
    * privacy drop-signal, SOF dims gate banners without touching
    * pixels. Every field closed-form from the doc_id formulas.
    */
  private val mmJpegExif = Q("mm_jpeg_exif",
    (s, dir) => {
      val imgs = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.ImageMetadata.syntheticExifJpeg(
          (lit(16) * (lit(1) + col("doc_id") % 40)).cast("int"),
          (lit(16) * (lit(1) + col("doc_id") % 30)).cast("int"),
          (lit(1) + col("doc_id") % 8).cast("int"),
          (col("doc_id") % 5).cast("int"),
          col("doc_id") % 2 === 0,
          col("doc_id") % 3 === 0).as("payload"))
      graft.ops.ImageMetadata.jpegExifCensus(imgs, "payload")
        .select(col("doc_id"), col("sof_width"), col("sof_height"),
          col("has_exif"), col("exif_big_endian"), col("exif_orientation"),
          col("exif_make"), col("gps_present"), col("parse_error"))
    },
    Some("""SELECT doc_id,
      (16 * (1 + doc_id % 40))::INT AS sof_width,
      (16 * (1 + doc_id % 30))::INT AS sof_height,
      true AS has_exif, doc_id % 2 = 0 AS exif_big_endian,
      (1 + doc_id % 8)::INT AS exif_orientation,
      'Camera' || (doc_id % 5) AS exif_make,
      doc_id % 3 = 0 AS gps_present,
      NULL::VARCHAR AS parse_error
      FROM documents"""))

  /** Perceptual image hash over REAL decoded pixels: per-doc gradient PNGs
    * (gray(x) = (base + slope·x) mod 256, params from doc_id; JDK PNG
    * writer, lossless) hashed by [[Multimodal.imagePerceptualHash]] — the
    * oracle replays the 8×8 / 9×8 box-average downsample and bit rules
    * closed-form (integer grays make every average exact, and all image
    * rows are identical so the 64-bit hash is the 8-bit row pattern
    * repeated — `repeat(rowbits, 8)` in SQL vs `lpad(bin(hash))` in
    * Spark).
    */
  private val mmPhash = Q("mm_image_phash",
    (s, dir) => {
      val imgs = t(s, dir, "documents").select(col("doc_id"),
        Multimodal.syntheticPngGradient(lit(16), lit(8),
          (col("doc_id") * 37 % 256).cast("int"),
          (lit(16) + col("doc_id") * 13 % 96).cast("int")).as("payload"))
      Multimodal.imagePerceptualHash(imgs, "payload")
        .select(col("doc_id"),
          lpad(bin(col("img_ahash")), 64, "0").as("ahash_bits"),
          lpad(bin(col("img_dhash")), 64, "0").as("dhash_bits"),
          col("decode_error"))
    },
    Some("""WITH px AS (
        SELECT doc_id, i,
          ((doc_id*37 % 256) + (16 + doc_id*13 % 96) * i) % 256 AS g
        FROM documents, unnest(generate_series(0, 15)) AS t(i)),
      c8 AS (SELECT doc_id, (i*8)//16 AS cx, avg(g) AS cg FROM px GROUP BY 1, 2),
      m AS (SELECT doc_id, avg(cg) AS mean FROM c8 GROUP BY 1),
      arow AS (SELECT c8.doc_id,
          string_agg(CASE WHEN cg >= mean THEN '1' ELSE '0' END, '' ORDER BY cx DESC) AS rb
        FROM c8 JOIN m ON c8.doc_id = m.doc_id GROUP BY 1),
      c9 AS (SELECT doc_id, (i*9)//16 AS cx, avg(g) AS cg FROM px GROUP BY 1, 2),
      drow AS (SELECT a.doc_id,
          string_agg(CASE WHEN a.cg < b.cg THEN '1' ELSE '0' END, '' ORDER BY a.cx DESC) AS rb
        FROM c9 a JOIN c9 b ON a.doc_id = b.doc_id AND b.cx = a.cx + 1 GROUP BY 1)
      SELECT a.doc_id, repeat(a.rb, 8) AS ahash_bits, repeat(d.rb, 8) AS dhash_bits,
        NULL::VARCHAR AS decode_error
      FROM arow a JOIN drow d ON a.doc_id = d.doc_id"""))

  /** Image near-dup pairs: perceptual aHash + [[Dedup.hammingPairs]]
    * banding (bits=64, bands=4 with the multi-index per-band-radius-2
    * probe ⇒ EXACT recall for Hamming ≤ 8 by generalized pigeonhole,
    * over 65 536-key bands instead of the 16-key 4-bit bands that
    * saturate per §16.12). Docs share a gradient class via doc_id % 150, so
    * hamming-0 groups exist by construction and near-classes land within
    * a row-bit of each other; the oracle recomputes each doc's 8-bit row
    * pattern and scores all pairs exactly (row-distance × 8 = hash
    * distance, since the hash is the row repeated).
    */
  private val mmPhashNearDup = Q("mm_phash_neardup",
    (s, dir) => {
      val imgs = t(s, dir, "documents").select(col("doc_id"),
        Multimodal.syntheticPngGradient(lit(16), lit(8),
          (col("doc_id") % 150 * 37 % 256).cast("int"),
          (lit(16) + col("doc_id") % 150 * 13 % 96).cast("int")).as("payload"))
      val sigs = Multimodal.imagePerceptualHash(imgs, "payload")
        .select(col("doc_id"), col("img_ahash"))
      Dedup.hammingPairs(sigs, "doc_id", "img_ahash",
        bits = 64, bands = 4, maxHamming = 8)
    },
    Some("""WITH px AS (
        SELECT doc_id, i,
          ((doc_id % 150 * 37 % 256) + (16 + doc_id % 150 * 13 % 96) * i) % 256 AS g
        FROM documents, unnest(generate_series(0, 15)) AS t(i)),
      c8 AS (SELECT doc_id, (i*8)//16 AS cx, avg(g) AS cg FROM px GROUP BY 1, 2),
      m AS (SELECT doc_id, avg(cg) AS mean FROM c8 GROUP BY 1),
      arow AS (SELECT c8.doc_id,
          string_agg(CASE WHEN cg >= mean THEN '1' ELSE '0' END, '' ORDER BY cx DESC) AS rb
        FROM c8 JOIN m ON c8.doc_id = m.doc_id GROUP BY 1),
      ham AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          (8 * (SELECT sum(CASE WHEN substr(a.rb, p, 1) <> substr(b.rb, p, 1)
                  THEN 1 ELSE 0 END)
                FROM unnest(generate_series(1, 8)) AS t(p)))::BIGINT AS hamming
        FROM arow a JOIN arow b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 8"""))

  /** Corpus-scale image dedup: perceptual hashes → [[Dedup.hammingDedupCorpus]]
    * (identical signatures collapse first, Hamming banding over distinct
    * signatures only, large-star/small-star components) → one
    * (id, cluster, is_kept) verdict per document. The oracle resolves the
    * same components with a recursive transitive-closure CTE over the
    * exact ≤-maxHamming pair graph — possible because banding recall is
    * EXACT below `bands` by pigeonhole, so both sides see the same graph.
    */
  private val mmPhashCluster = Q("mm_phash_cluster",
    (s, dir) => {
      val imgs = wideDocIds(s, dir).select(col("doc_id"),
        Multimodal.syntheticPngGradient(lit(16), lit(8),
          (col("doc_id") % 150 * 37 % 256).cast("int"),
          (lit(16) + col("doc_id") % 150 * 13 % 96).cast("int")).as("payload"))
      val sigs = Multimodal.imagePerceptualHash(imgs, "payload")
        .select(col("doc_id"), col("img_ahash"))
      Dedup.hammingDedupCorpus(sigs, "doc_id", "img_ahash",
        bits = 64, bands = 4, maxHamming = 8)
        .select(col("id").as("doc_id"), col("cluster"), col("is_kept"))
    },
    Some("""WITH RECURSIVE px AS (
        SELECT doc_id, i,
          ((doc_id % 150 * 37 % 256) + (16 + doc_id % 150 * 13 % 96) * i) % 256 AS g
        FROM documents, unnest(generate_series(0, 15)) AS t(i)),
      c8 AS (SELECT doc_id, (i*8)//16 AS cx, avg(g) AS cg FROM px GROUP BY 1, 2),
      m AS (SELECT doc_id, avg(cg) AS mean FROM c8 GROUP BY 1),
      arow AS (SELECT c8.doc_id,
          string_agg(CASE WHEN cg >= mean THEN '1' ELSE '0' END, '' ORDER BY cx DESC) AS rb
        FROM c8 JOIN m ON c8.doc_id = m.doc_id GROUP BY 1),
      edges AS (SELECT a.doc_id AS u, b.doc_id AS v
        FROM arow a JOIN arow b ON a.doc_id <> b.doc_id
        WHERE (SELECT sum(CASE WHEN substr(a.rb, p, 1) <> substr(b.rb, p, 1)
                 THEN 1 ELSE 0 END)
               FROM unnest(generate_series(1, 8)) AS t(p)) <= 1),
      reach(s, d) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.s, e.v FROM reach r JOIN edges e ON e.u = r.d)
      SELECT s AS doc_id, min(d) AS cluster, s = min(d) AS is_kept
      FROM reach GROUP BY s"""),
    bench = true)

  /** One-call image curation chain: gradient-class images plus planted
    * garbage (doc_id%10==7: unparseable bytes) and sub-grid images
    * (doc_id%10==3: 4×4 PNG) run decode→hash→corpus-dedup→gates in one
    * pass. The oracle replays the cluster CTE over the HASHED docs only
    * and left-joins verdicts back over every doc — poisoned rows come
    * back rejected, never dropped.
    */
  private val mmCurateImages = Q("pipe_curate_images",
    (s, dir) => {
      val imgs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 7, lit("not an image").cast("binary"))
        .when(col("doc_id") % 10 === 3,
          Multimodal.syntheticPng(lit(4), lit(4), lit(10), lit(20), lit(30)))
        .otherwise(Multimodal.syntheticPngGradient(lit(16), lit(8),
          (col("doc_id") % 150 * 37 % 256).cast("int"),
          (lit(16) + col("doc_id") % 150 * 13 % 96).cast("int"))).as("payload"))
      graft.ops.Curation.curateImages(imgs, "payload", "doc_id",
          minWidth = 8, minHeight = 8)
        .select(col("doc_id"), col("img_width"), col("img_height"),
          col("cluster"), col("is_canonical"), col("curate_keep"))
    },
    Some("""WITH RECURSIVE hashed AS (
        SELECT doc_id FROM documents WHERE doc_id % 10 <> 7 AND doc_id % 10 <> 3),
      px AS (
        SELECT doc_id, i,
          ((doc_id % 150 * 37 % 256) + (16 + doc_id % 150 * 13 % 96) * i) % 256 AS g
        FROM hashed, unnest(generate_series(0, 15)) AS t(i)),
      c8 AS (SELECT doc_id, (i*8)//16 AS cx, avg(g) AS cg FROM px GROUP BY 1, 2),
      m AS (SELECT doc_id, avg(cg) AS mean FROM c8 GROUP BY 1),
      arow AS (SELECT c8.doc_id,
          string_agg(CASE WHEN cg >= mean THEN '1' ELSE '0' END, '' ORDER BY cx DESC) AS rb
        FROM c8 JOIN m ON c8.doc_id = m.doc_id GROUP BY 1),
      edges AS (SELECT a.doc_id AS u, b.doc_id AS v
        FROM arow a JOIN arow b ON a.doc_id <> b.doc_id
        WHERE (SELECT sum(CASE WHEN substr(a.rb, p, 1) <> substr(b.rb, p, 1)
                 THEN 1 ELSE 0 END)
               FROM unnest(generate_series(1, 8)) AS t(p)) <= 1),
      reach(s, d) AS (
        SELECT doc_id, doc_id FROM hashed
        UNION
        SELECT r.s, e.v FROM reach r JOIN edges e ON e.u = r.d),
      verd AS (SELECT s AS doc_id, min(d) AS cluster, s = min(d) AS is_kept
        FROM reach GROUP BY s)
      SELECT d.doc_id,
        (CASE WHEN d.doc_id % 10 = 7 THEN NULL
              WHEN d.doc_id % 10 = 3 THEN 4 ELSE 16 END)::INT AS img_width,
        (CASE WHEN d.doc_id % 10 = 7 THEN NULL
              WHEN d.doc_id % 10 = 3 THEN 4 ELSE 8 END)::INT AS img_height,
        v.cluster, coalesce(v.is_kept, FALSE) AS is_canonical,
        coalesce(v.is_kept, FALSE) AS curate_keep
      FROM documents d LEFT JOIN verd v ON d.doc_id = v.doc_id"""))

  /** Audio envelope fingerprint over REAL decoded PCM: per-doc stepped
    * square-wave WAVs (65 steps, amp_k = (base + 797k) mod 16384, params
    * from doc_id) fingerprinted by [[Multimodal.audioEnvelopeHash]] — the
    * steps align exactly with the 65 RMS windows (frames = 65·m), PCM is
    * lossless and |±amp| constant per step, so window RMS = amp_k/32768
    * exactly and each delta-sign bit is just amp_k < amp_{k+1}, which the
    * oracle replays closed-form.
    */
  private val mmAudioFp = Q("mm_audio_fingerprint",
    (s, dir) => {
      val wavs = t(s, dir, "documents").select(col("doc_id"),
        Multimodal.syntheticWavEnvelope(lit(8000),
          (lit(2) + col("doc_id") % 3).cast("int"), lit(65),
          (col("doc_id") * 31 % 16384).cast("int"), lit(797)).as("payload"))
      Multimodal.audioEnvelopeHash(wavs, "payload")
        .select(col("doc_id"),
          lpad(bin(col("audio_envhash")), 64, "0").as("envhash_bits"),
          col("decode_error"))
    },
    Some("""WITH b AS (
        SELECT doc_id, k,
          CASE WHEN ((doc_id*31 % 16384) + 797*k) % 16384
                  < ((doc_id*31 % 16384) + 797*(k+1)) % 16384
            THEN '1' ELSE '0' END AS bit
        FROM documents, unnest(generate_series(0, 63)) AS t(k))
      SELECT doc_id, string_agg(bit, '' ORDER BY k DESC) AS envhash_bits,
        NULL::VARCHAR AS decode_error
      FROM b GROUP BY doc_id"""))

  /** Corpus-scale AUDIO dedup — the third modality through the same
    * verdict machinery: 120 envelope classes (doc_id % 120); classes ≥ 60
    * are class-60-less re-masters with ONE level-edited step, landing
    * within Hamming 2 of their original (only the two bits touching the
    * edited step can move) — so engineered near-dup pairs merge while the
    * identical-signature collapse absorbs same-class docs. The oracle
    * replays amplitudes → envelope bits → the exact ≤-maxHamming class
    * graph → transitive closure, then labels every doc with its
    * component's minimum doc id.
    */
  private val mmAudioCluster = Q("mm_audio_cluster",
    (s, dir) => {
      val c = col("doc_id") % 120
      val wavs = t(s, dir, "documents").select(col("doc_id"),
        Multimodal.syntheticWavEnvelopeEdit(lit(8000), lit(2), lit(65),
          (when(c >= 60, (c - 60) * 31).otherwise(c * 31)).cast("int"), lit(797),
          (when(c >= 60, c % 60).otherwise(lit(-1))).cast("int"), lit(8000))
          .as("payload"))
      val sigs = Multimodal.audioEnvelopeHash(wavs, "payload")
        .select(col("doc_id"), col("audio_envhash"))
      Dedup.hammingDedupCorpus(sigs, "doc_id", "audio_envhash",
        bits = 64, bands = 4, maxHamming = 8)
        .select(col("id").as("doc_id"), col("cluster"), col("is_kept"))
    },
    Some("""WITH RECURSIVE cls AS (SELECT DISTINCT doc_id % 120 AS c FROM documents),
      amp AS (SELECT c, k,
          CASE WHEN c >= 60 AND k = c % 60 THEN ((c - 60)*31 + 797*k + 8000) % 16384
               WHEN c >= 60 THEN ((c - 60)*31 + 797*k) % 16384
               ELSE (c*31 + 797*k) % 16384 END AS a
        FROM cls, unnest(generate_series(0, 64)) AS t(k)),
      bits AS (SELECT a1.c, a1.k, CASE WHEN a1.a < a2.a THEN '1' ELSE '0' END AS b
        FROM amp a1 JOIN amp a2 ON a1.c = a2.c AND a2.k = a1.k + 1
        WHERE a1.k <= 63),
      str AS (SELECT c, string_agg(b, '' ORDER BY k DESC) AS s FROM bits GROUP BY c),
      ce AS (SELECT x.c AS u, y.c AS v FROM str x JOIN str y ON x.c <> y.c
        WHERE (SELECT sum(CASE WHEN substr(x.s, p, 1) <> substr(y.s, p, 1)
                 THEN 1 ELSE 0 END)
               FROM unnest(generate_series(1, 64)) AS t(p)) <= 8),
      reach(s, d) AS (SELECT c, c FROM cls
        UNION SELECT r.s, e.v FROM reach r JOIN ce e ON e.u = r.d),
      comp AS (SELECT s AS c, min(d) AS root FROM reach GROUP BY s),
      rootmin AS (SELECT comp.root, min(d.doc_id) AS cluster FROM documents d
        JOIN comp ON d.doc_id % 120 = comp.c GROUP BY comp.root)
      SELECT d.doc_id, rm.cluster, d.doc_id = rm.cluster AS is_kept
      FROM documents d
      JOIN comp ON d.doc_id % 120 = comp.c
      JOIN rootmin rm ON rm.root = comp.root"""))

  // ---------------------------------------------------------------- streaming

  private val stWindow = Q("st_window_agg",
    // events.ts schema-adaptive (legacy nanos-as-long vs TIMESTAMP_NTZ µs —
    // the driver's generator has shipped both): normalize to a windowable
    // timestamp before the event-time window
    (s, dir) => {
      val ev = t(s, dir, "events")
      StreamingOps.windowedAgg(
        ev.withColumn("ts", graft.util.Timestamps.asTimestamp(ev, "ts")))
    },
    Some("""SELECT date_trunc('hour', ts)::VARCHAR AS window_start, event_type,
      count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2"""),
    bench = true)

  /** The stream-stream join's hot-key guard derivation
    * ([[StreamingOps.hotKeyMasses]] — SCALE.md §17.6): per-key horizon
    * masses over events.user_id, hot = mass above the dyadic
    * output-budget cap (largest power of two c with Σ_{m≤c} m² ≤
    * 64 × rows, floored at 16). The oracle replays the sketch with the
    * same integer arithmetic as the dedup-cap oracles.
    */
  private val stHotKeyGuard = Q("st_hotkey_guard",
    (s, dir) => StreamingOps.hotKeyMasses(t(s, dir, "events"), "user_id"),
    Some(s"""WITH masses AS (SELECT user_id, count(*) AS m FROM events GROUP BY user_id),
      pw AS (SELECT unnest([$powersSql]) AS p),
      hist AS (SELECT (SELECT min(p) FROM pw WHERE p >= m) AS bcap, sum(m * m) AS w
        FROM masses GROUP BY 1),
      capv AS (SELECT greatest(coalesce(max(bcap), 16), 16) AS cap FROM (
          SELECT bcap, sum(w) OVER (ORDER BY bcap) AS cw FROM hist)
        WHERE cw <= 64 * (SELECT count(*) FROM events))
      SELECT user_id, m, m > (SELECT cap FROM capv) AS is_hot FROM masses"""))

  /** Span-level decontamination: same corpus/probe split as
    * txt_contamination; the oracle replays the gaps-and-islands span
    * collapse with a SQL window.
    */
  /** Shared CTE chain: probe = doc_id < 20, corpus = doc_id >= 20, k = 5.
    * Ends in `spans(doc_id, probe_id, span_start, span_tokens, n_grams)` —
    * the SQL image of [[TextAnalysis.spanContamination]] on that split.
    */
  private val spanSqlCtes =
    s"""tk AS (SELECT doc_id, $tokenizeSql AS t FROM documents),
      pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS pos FROM tk),
      dg AS (SELECT doc_id, pos,
          t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] || ' ' || t[pos+3] || ' ' || t[pos+4] AS gram
        FROM pos),
      pg AS (SELECT DISTINCT doc_id AS probe_id, gram FROM dg WHERE doc_id < 20),
      hits AS (SELECT DISTINCT dg.doc_id, pg.probe_id, dg.pos
        FROM dg JOIN pg USING (gram) WHERE dg.doc_id >= 20),
      isl AS (SELECT doc_id, probe_id, pos,
          pos - row_number() OVER (PARTITION BY doc_id, probe_id ORDER BY pos) AS g
        FROM hits),
      spans AS (SELECT doc_id, probe_id, min(pos) AS span_start,
          max(pos) - min(pos) + 5 AS span_tokens, count(*) AS n_grams
        FROM isl GROUP BY doc_id, probe_id, g)"""

  /** SQL image of [[TextAnalysis.boilerplateSpans]] at k=3, maxDocFreq=4
    * over the full documents table (sf0.01 has 151 3-grams above that
    * df, so spans exist); ends in `bspans(doc_id, span_start,
    * span_tokens, n_grams)`.
    */
  private[catalog] val boilerSqlCtes =
    s"""b_tk AS (SELECT doc_id, $tokenizeSql AS t FROM documents),
      b_pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS pos FROM b_tk),
      b_dg AS (SELECT doc_id, pos,
          t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] AS gram
        FROM b_pos),
      b_hot AS (SELECT gram FROM (
          SELECT gram, count(DISTINCT doc_id) AS df FROM b_dg GROUP BY gram)
        WHERE df > 4),
      b_hits AS (SELECT doc_id, pos FROM b_dg JOIN b_hot USING (gram)),
      b_isl AS (SELECT doc_id, pos,
          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM b_hits),
      bspans AS (SELECT doc_id, min(pos) AS span_start,
          max(pos) - min(pos) + 3 AS span_tokens, count(*) AS n_grams
        FROM b_isl GROUP BY doc_id, g)"""

  /** Cross-document boilerplate spans — k-grams shared by more than
    * `maxDocFreq` documents collapse to maximal excisable token spans
    * ([[TextAnalysis.boilerplateSpans]]); the oracle replays the df
    * count, the hot-gram join and the gaps-and-islands chain.
    */
  private val txtBoilerplateSpans = Q("txt_boilerplate_spans",
    (s, dir) => TextAnalysis.boilerplateSpans(
      t(s, dir, "documents"), "text", "doc_id", k = 3, maxDocFreq = 4),
    Some(s"WITH $boilerSqlCtes SELECT * FROM bspans"))

  /** Boilerplate removal applied ([[TextAnalysis.removeBoilerplate]]):
    * every document returns with the hot spans cut and a removal count —
    * the oracle rebuilds clean_text from uncovered token positions like
    * the decontamination excision row.
    */
  private val txtRemoveBoilerplate = Q("txt_remove_boilerplate",
    (s, dir) => TextAnalysis.removeBoilerplate(
      t(s, dir, "documents"), "text", "doc_id", k = 3, maxDocFreq = 4)
      .select(col("doc_id"), col("clean_text"), col("n_removed")),
    Some(s"""WITH $boilerSqlCtes,
      b_etok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t
        FROM b_tk),
      b_keep AS (SELECT k.doc_id, k.pos, k.t[k.pos] AS tok FROM b_etok k
        WHERE NOT EXISTS (SELECT 1 FROM bspans s WHERE s.doc_id = k.doc_id
          AND k.pos BETWEEN s.span_start AND s.span_start + s.span_tokens - 1)),
      b_agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
          count(*) AS n_kept
        FROM b_keep GROUP BY doc_id),
      b_base AS (SELECT doc_id, len(t) AS n_toks FROM b_tk)
      SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
        (b.n_toks - coalesce(a.n_kept, 0))::BIGINT AS n_removed
      FROM b_base b LEFT JOIN b_agg a USING (doc_id)"""))

  /** Mojibake repair ([[TextAnalysis.repairMojibakeLatin1]]): plant the
    * classic UTF-8-as-Latin-1 double-decode on every 'a'/'e' ("á"→"Ã¡",
    * "é"→"Ã©"), repair declaratively, and predict the fix closed-form —
    * the oracle never touches a charset, it just writes the repaired
    * characters directly.
    */
  private val txtMojibakeRepair = Q("txt_mojibake_repair",
    (s, dir) => {
      val corrupted = t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(regexp_replace(col("text"), "a", "Ã¡"), "e", "Ã©")
          .as("text"))
      TextAnalysis.repairMojibakeLatin1(corrupted, "text")
        .select(col("doc_id"), col("mojibake_marks"),
          col("repaired_text"), col("was_repaired"))
    },
    Some("""WITH c AS (
        SELECT doc_id,
          replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©') AS corrupt,
          replace(replace(text, 'a', 'á'), 'e', 'é') AS fixed
        FROM documents),
      m AS (
        SELECT doc_id, corrupt, fixed,
          (length(corrupt) - length(replace(corrupt, 'Ã', '')))::BIGINT AS marks
        FROM c)
      SELECT doc_id, marks AS mojibake_marks,
        (CASE WHEN marks > 0 THEN fixed ELSE corrupt END) AS repaired_text,
        marks > 0 AS was_repaired
      FROM m"""))

  private val txtSpanContamination = Q("txt_span_contamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.spanContamination(
        docs.where(col("doc_id") >= 20), "text", "doc_id",
        docs.where(col("doc_id") < 20), "text", "doc_id", k = 5)
    },
    Some(s"WITH $spanSqlCtes SELECT * FROM spans"))

  /** Span excision: same split; the oracle rebuilds each corpus doc from
    * its uncovered token positions (string_agg ordered by position) —
    * token-normalized text, matching the Spark side's array_join.
    */
  /** Extends [[spanSqlCtes]] with the excision chain; ends in
    * `clean(doc_id, clean_text, n_removed)` over the corpus split.
    */
  private[catalog] val exciseSqlCtes =
    s"""$spanSqlCtes,
      e_tok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t
        FROM tk WHERE doc_id >= 20),
      e_keep AS (SELECT k.doc_id, k.pos, k.t[k.pos] AS tok FROM e_tok k
        WHERE NOT EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = k.doc_id
          AND k.pos BETWEEN s.span_start AND s.span_start + s.span_tokens - 1)),
      e_agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
          count(*) AS n_kept
        FROM e_keep GROUP BY doc_id),
      e_base AS (SELECT doc_id, len(t) AS n_toks FROM tk WHERE doc_id >= 20),
      clean AS (SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
          b.n_toks - coalesce(a.n_kept, 0) AS n_removed
        FROM e_base b LEFT JOIN e_agg a USING (doc_id))"""

  private val txtExciseSpans = Q("txt_excise_spans",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") >= 20)
      val sp = TextAnalysis.spanContamination(corpus, "text", "doc_id",
        docs.where(col("doc_id") < 20), "text", "doc_id", k = 5)
      TextAnalysis.exciseSpans(corpus, "text", "doc_id", sp)
        .select(col("doc_id"), col("clean_text"), col("n_removed"))
    },
    Some(s"WITH $exciseSqlCtes SELECT * FROM clean"))

  /** Text normalization: NFC + control strip + whitespace/paragraph
    * collapse, replayed in DuckDB with nfc_normalize + RE2 'g' passes.
    */
  private val txtNormalize = Q("txt_normalize",
    (s, dir) => TextAnalysis.normalizeText(t(s, dir, "documents"), "text")
      .select(col("doc_id"), col("norm_text")),
    Some("""SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
        nfc_normalize(text),
        '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        '[ \t]+', ' ', 'g'),
        '\n{3,}', chr(10) || chr(10), 'g')) AS norm_text
      FROM documents"""))

  /** Hashed linear quality classifier (fastText-style inference): weights
    * are the deterministic md5-derived stand-in vector, regenerated
    * verbatim inside the oracle as a DOUBLE[] literal.
    */
  private val txtClassifier = Q("txt_quality_classifier",
    // widen: the scoring kernel (tokenize + md5 per token) off a
    // single-row-group scan ran serial (r19 baseline: wall 2.0 s ≈ user
    // CPU 2.1 s on 32 cores); scoring is per-row, partition-independent
    (s, dir) => TextAnalysis.hashedLinearScore(
      graft.util.ScanSpread.widen(
        t(s, dir, "documents").select(col("doc_id"), col("text"))),
      "text", ClassifierWeights, bias = -0.1)
      .select(col("doc_id"), col("quality_logit"), col("quality_prob")),
    Some {
      val wlist = ClassifierWeights.mkString(", ")
      val dim = ClassifierWeights.size
      s"""WITH tk AS (SELECT doc_id, $tokenizeSql AS t FROM documents),
      sc AS (SELECT doc_id, CASE WHEN len(t) > 0 THEN
          -0.1 + list_sum(list_transform(t,
            tok -> wl[(${h60Sql("tok", TextAnalysis.FeatureSeed)} % $dim)::INT + 1])) / len(t)
        ELSE -0.1 END AS logit
        FROM tk, (SELECT [$wlist]::DOUBLE[] AS wl) w)
      SELECT doc_id, round(logit, 6) AS quality_logit,
        round(1.0 / (1.0 + exp(-logit)), 6) AS quality_prob FROM sc"""
    },
    bench = true)

  private lazy val ClassifierWeights = TextAnalysis.hashedWeights(64, seed = 3)

  /** Quality-classifier TRAINING ([[TextAnalysis.trainHashedLinear]]) —
    * the bounded-driver GD loop that completes the fastText-style story
    * the same way learnMerges completed BPE: full-batch logistic
    * regression over the real 2¹⁸-dim hashed feature space, three
    * epochs, then the trained vector round-trips into the SAME inference
    * kernel the txt_quality_classifier row uses. The fixture keeps the
    * math closed-form: class-pure two-token documents ("good great" /
    * "bad awful", verified collision-free mod 2¹⁸), so within a class
    * every row shares one logit and the oracle can unroll the three
    * full-batch updates as scalar recurrences over the class counts —
    * wg ← wg + lr·g·(1−σ(wg))/(2n), wb ← wb − lr·b·σ(wb)/(2n) — and
    * state the probe scores (pure-good, pure-bad, mixed) exactly.
    */
  private val txtQualityTrain = Q("txt_quality_train",
    (s, dir) => {
      val d = col("doc_id")
      val train = t(s, dir, "documents").select(
        when(d % 2 === 0, "good great").otherwise("bad awful").as("text"),
        (d % 2 === 0).cast("double").as("label"))
      val w = TextAnalysis.trainHashedLinear(train, "text", "label",
        dim = 1 << 18, epochs = 3, lr = 1.0)
      // probe 2 is deliberately ASYMMETRIC ("good great awful", logit
      // (2wg+wb)/3 = wg/3 by class symmetry): a 50/50 mix has true logit
      // exactly 0, and DuckDB's round(-2.8e-17, 6) = -0.0 while Spark
      // emits +0.0 — byte-different under the driver's exact hash (r14).
      val probes = s.createDataFrame(Seq(
        (0L, "good great"), (1L, "bad awful"), (2L, "good great awful")))
        .toDF("probe_id", "text")
      TextAnalysis.hashedLinearScoreKernel(probes, "text", w.toIndexedSeq)
        .select(col("probe_id"), col("quality_logit"), col("quality_prob"))
    },
    Some("""WITH c AS (SELECT
        (count(*) FILTER (WHERE doc_id % 2 = 0))::DOUBLE AS g,
        (count(*) FILTER (WHERE doc_id % 2 = 1))::DOUBLE AS b,
        count(*)::DOUBLE AS n FROM documents),
      e1 AS (SELECT g, b, n,
        0.5 * g / (2 * n) AS wg,
        -0.5 * b / (2 * n) AS wb FROM c),
      e2 AS (SELECT g, b, n,
        wg + g * (1 - 1 / (1 + exp(-wg))) / (2 * n) AS wg,
        wb - b * (1 / (1 + exp(-wb))) / (2 * n) AS wb FROM e1),
      e3 AS (SELECT g, b, n,
        wg + g * (1 - 1 / (1 + exp(-wg))) / (2 * n) AS wg,
        wb - b * (1 / (1 + exp(-wb))) / (2 * n) AS wb FROM e2)
      SELECT 0::BIGINT AS probe_id, round(wg, 6) AS quality_logit,
        round(1 / (1 + exp(-wg)), 6) AS quality_prob FROM e3
      UNION ALL SELECT 1::BIGINT, round(wb, 6),
        round(1 / (1 + exp(-wb)), 6) FROM e3
      UNION ALL SELECT 2::BIGINT, round((2 * wg + wb) / 3, 6),
        round(1 / (1 + exp(-(2 * wg + wb) / 3)), 6) FROM e3"""))

  /** Classifier EVALUATION ([[TextAnalysis.evalBinaryClassifier]]) —
    * train → EVAL → score, the full supervised loop: the trainer's
    * weights score a held-out set where every `doc_id % 10 == 3` row is
    * mislabeled (its text flipped), and the op reports threshold metrics
    * plus EXACT tie-aware AUC. The fixture produces exactly TWO distinct
    * scores (class-pure texts), so tie handling carries the whole AUC —
    * closed form: all positives and the flipped negatives score high ⇒
    * accuracy (g+b−bhi)/n, precision g/(g+bhi), recall 1, and
    * AUC = (b−bhi + bhi/2)/b from the pair count (the oracle needs only
    * count arithmetic; the trained weights enter only through their
    * signs, which the GD recurrence guarantees).
    */
  private val txtQualityEval = Q("txt_quality_eval",
    (s, dir) => {
      val d = col("doc_id")
      val docs = t(s, dir, "documents")
      val train = docs.select(
        when(d % 2 === 0, "good great").otherwise("bad awful").as("text"),
        (d % 2 === 0).cast("double").as("label"))
      val w = TextAnalysis.trainHashedLinear(train, "text", "label",
        dim = 1 << 18, epochs = 3, lr = 1.0)
      val evalSet = docs.select(
        when((d % 2 === 0) =!= (d % 10 === 3), "good great")
          .otherwise("bad awful").as("text"),
        (d % 2 === 0).cast("double").as("label"))
      val scored = TextAnalysis.hashedLinearScoreKernel(
        evalSet, "text", w.toIndexedSeq)
      TextAnalysis.evalBinaryClassifier(scored, "quality_prob", "label")
    },
    Some("""WITH c AS (SELECT
        (count(*) FILTER (WHERE doc_id % 2 = 0))::DOUBLE AS g,
        (count(*) FILTER (WHERE doc_id % 2 = 1))::DOUBLE AS b,
        (count(*) FILTER (WHERE doc_id % 10 = 3))::DOUBLE AS bhi,
        count(*)::DOUBLE AS n FROM documents)
      SELECT n::BIGINT AS n, g::BIGINT AS n_pos,
        round((g + b - bhi) / n, 6) AS accuracy,
        round(g / (g + bhi), 6) AS precision,
        round(1.0, 6) AS recall,
        round(2 * (g / (g + bhi)) / ((g / (g + bhi)) + 1.0), 6) AS f1,
        round((b - bhi + 0.5 * bhi) / b, 6) AS auc
      FROM c"""))

  /** CCNet-style bigram-LM perplexity scoring
    * ([[graft.ops.TextAnalysis.ngramLmPerplexity]]): an add-1-smoothed
    * bigram LM trained on every third document scores the WHOLE corpus —
    * the unsupervised quality signal (low perplexity = prose like the
    * reference corpus). The oracle replays the exact pipeline: tokenize →
    * train-side (ctx, w) counts + context sums + vocab size → per-gram
    * smoothed log-prob (rounded before the mean, the cross-engine
    * determinism convention) → per-doc mean and exp(−mean). Training is
    * two partial-agg groupBys; scoring is scan-side gram generation + two
    * gram-keyed equi-joins — shuffle ∝ corpus grams, the LM stays a
    * DataFrame (never driver state).
    */
  /** The bigram-LM CTE chain shared by the perplexity and bucket oracles
    * (train on every third document, add-1 smoothing, micro-nat sums).
    */
  private val lmOracleCtes =
    s"""toks AS (SELECT doc_id, $tokenizeSql AS t FROM documents),
      tr AS (SELECT t FROM toks WHERE doc_id % 3 = 0),
      trg AS (SELECT t[i] AS ctx, t[i + 1] AS w FROM
        (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
         FROM tr WHERE len(t) >= 2)),
      gc AS (SELECT ctx, w, count(*)::DOUBLE AS c FROM trg GROUP BY 1, 2),
      cc AS (SELECT ctx, sum(c) AS cc FROM gc GROUP BY 1),
      v AS (SELECT count(DISTINCT tok)::DOUBLE AS vs FROM
        (SELECT unnest(t) AS tok FROM tr)),
      dg AS (SELECT doc_id, t[i] AS ctx, t[i + 1] AS w FROM
        (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
         FROM toks WHERE len(t) >= 2)),
      sc AS (SELECT doc_id,
        round(ln((COALESCE(gc.c, 0) + 1.0) / (COALESCE(cc.cc, 0) + vs * 1.0))
          * 1000000.0)::BIGINT AS lp6
        FROM dg LEFT JOIN gc USING (ctx, w) LEFT JOIN cc USING (ctx) CROSS JOIN v),
      agg AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
        sum(lp6)::BIGINT AS logprob_sum_e6 FROM sc GROUP BY doc_id),
      a2 AS (SELECT *, logprob_sum_e6 / (n_grams * 1000000.0) AS avg_logprob
        FROM agg),
      lmout AS (SELECT d.doc_id, COALESCE(a2.n_grams, 0)::BIGINT AS n_grams,
        a2.logprob_sum_e6, a2.avg_logprob,
        round(exp(-a2.avg_logprob), 6) AS perplexity
        FROM documents d LEFT JOIN a2 USING (doc_id))"""

  private def lmScored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.ngramLmPerplexity(docs, "text", "doc_id",
      docs.where(col("doc_id") % 3 === 0), "text", n = 2)
  }

  private val txtLmPerplexity = Q("txt_lm_perplexity",
    (s, dir) => lmScored(s, dir),
    Some(s"WITH $lmOracleCtes SELECT * FROM lmout"),
    bench = true)

  /** CCNet's head/middle/tail deployment of the LM signal
    * ([[graft.ops.TextAnalysis.perplexityBuckets]]): per-language ntile
    * thirds over ascending perplexity with an id tie-break (total order →
    * engine-exact assignment); unscorable docs sort last into the tail.
    */
  private val txtLmBuckets = Q("txt_lm_buckets",
    (s, dir) => {
      val withLang = lmScored(s, dir)
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.perplexityBuckets(withLang, "perplexity", "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("perplexity"), col("ppl_bucket"))
    },
    Some(s"""WITH $lmOracleCtes
      SELECT o.doc_id, d.lang, o.perplexity,
        ntile(3) OVER (PARTITION BY d.lang ORDER BY
          (o.perplexity IS NULL)::INT, o.perplexity, o.doc_id)::INT AS ppl_bucket
      FROM lmout o JOIN documents d USING (doc_id)"""))

  /** Stupid-backoff LM oracle CTE chain, GENERATED for order `n` so the
    * SQL stays mechanically in lock-step with
    * [[TextAnalysis.ngramLmStupidBackoff]]: per-order gram-count tables
    * over the train split (every third document), per-doc full n-grams
    * with each order's suffix + its context infix, the longest-attested-
    * suffix CASE chain (αʲ backoff, add-1 unigram floor over (N, V)),
    * micro-nat rounding BEFORE the per-doc sum — the same determinism
    * contract as the add-k row.
    */
  private def sbOracleCtes(n: Int, scoreTok: String = "t"): String = {
    val gramTables = (1 to n).map { k =>
      s"""g$k AS (SELECT gram, count(*)::DOUBLE AS c FROM
        (SELECT array_to_string(t[i:i+${k - 1}], ' ') AS gram FROM
          (SELECT t, unnest(generate_series(1, len(t) - ${k - 1})) AS i
           FROM tr WHERE len(t) >= $k)) GROUP BY 1)"""
    }.mkString(",\n      ")
    // suffixes truncate at the gram's own order ll = len(garr) (< n for
    // a short doc's single whole-doc gram): order k > ll has no suffix
    // → NULL key → the LEFT JOIN misses → the CASE chain falls through
    val sufCols = (1 to n).map { k =>
      val s = s"CASE WHEN len(garr) >= $k THEN array_to_string(" +
        s"garr[len(garr) - ${k - 1}:len(garr)], ' ') END AS s$k"
      if (k >= 2)
        s + s", CASE WHEN len(garr) >= $k THEN array_to_string(" +
          s"garr[len(garr) - ${k - 1}:len(garr) - 1], ' ') END AS x$k"
      else s
    }.mkString(", ")
    val joins = (n to 1 by -1).map { k =>
      val num = s"LEFT JOIN g$k n$k ON dgx.s$k = n$k.gram"
      if (k >= 2) num + s" LEFT JOIN g${k - 1} d$k ON dgx.x$k = d$k.gram"
      else num
    }.mkString(" ")
    // backoff exponents are relative to the gram's own order ll: only
    // orders the document actually has count as backoff steps
    val caseChain = (n to 2 by -1).map { k =>
      s"WHEN n$k.c IS NOT NULL THEN round(((dgx.ll - $k) * ln(0.4) + " +
        s"ln(n$k.c / d$k.c)) * 1000000.0)"
    }.mkString(" ")
    s"""toks AS (SELECT doc_id, $tokenizeSql AS t FROM documents),
      tr AS (SELECT t FROM toks WHERE doc_id % 3 = 0),
      $gramTables,
      nv AS (SELECT count(*)::DOUBLE AS nn,
        count(DISTINCT tok)::DOUBLE AS vv
        FROM (SELECT unnest(t) AS tok FROM tr)),
      stoks AS (SELECT doc_id, $scoreTok AS t FROM toks),
      dgarr AS (SELECT doc_id, t[i:i+${n - 1}] AS garr FROM
        (SELECT doc_id, t, unnest(generate_series(1, len(t) - ${n - 1})) AS i
         FROM stoks WHERE len(t) >= $n)
        UNION ALL
        SELECT doc_id, t AS garr FROM stoks
         WHERE len(t) >= 1 AND len(t) < $n),
      dgx AS (SELECT doc_id, len(garr) AS ll, $sufCols FROM dgarr),
      sc AS (SELECT dgx.doc_id,
        (CASE $caseChain
         ELSE round(((dgx.ll - 1) * ln(0.4) +
           ln((COALESCE(n1.c, 0) + 1.0) / (nn + vv))) * 1000000.0)
         END)::BIGINT AS lp6
        FROM dgx $joins CROSS JOIN nv),
      agg AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
        sum(lp6)::BIGINT AS logprob_sum_e6 FROM sc GROUP BY doc_id),
      a2 AS (SELECT *, logprob_sum_e6 / (n_grams * 1000000.0) AS avg_logprob
        FROM agg),
      sbout AS (SELECT d.doc_id, COALESCE(a2.n_grams, 0)::BIGINT AS n_grams,
        a2.logprob_sum_e6, a2.avg_logprob,
        round(exp(-a2.avg_logprob), 6) AS perplexity
        FROM documents d LEFT JOIN a2 USING (doc_id))"""
  }

  /** Interpolated Kneser-Ney oracle CTE chain, GENERATED for order `n`
    * so the SQL stays mechanically in lock-step with
    * [[TextAnalysis.ngramLmKneserNey]]: distinct-gram count tables per
    * order, continuation tables (suffix-of-(k+1)-gram row counts), the
    * nested f + λ·p interpolation with the SAME literal discount and
    * op order as the Scala Column expression (IEEE doubles agree
    * bitwise), micro-nat rounding BEFORE the per-doc sum. Short docs
    * enter the chain at their own order via `ll`, as in the
    * stupid-backoff chain.
    */
  private def knOracleCtes(n: Int, d: String = "0.75"): String = {
    val rawTables = (1 to n).map { k =>
      s"""rc$k AS (SELECT array_to_string(t[i:i+${k - 1}], ' ') AS gram,
        count(*) AS c FROM
        (SELECT t, unnest(generate_series(1, len(t) - ${k - 1})) AS i
         FROM tr WHERE len(t) >= $k) GROUP BY 1)"""
    }.mkString(",\n      ")
    val ccTables = (1 until n).map { k =>
      val cc = s"""cc$k AS (SELECT array_to_string(
        string_split(gram, ' ')[2:${k + 1}], ' ') AS gram,
        count(*) AS c FROM rc${k + 1} GROUP BY 1)"""
      if (k >= 2)
        cc + s""",
      cden$k AS (SELECT array_to_string(
        string_split(gram, ' ')[1:${k - 1}], ' ') AS gram,
        sum(c) AS den, count(*) AS typ FROM cc$k GROUP BY 1)"""
      else cc
    }.mkString(",\n      ")
    val sufCols = (1 to n).map { k =>
      val s = s"CASE WHEN len(garr) >= $k THEN array_to_string(" +
        s"garr[len(garr) - ${k - 1}:len(garr)], ' ') END AS s$k"
      if (k >= 2)
        s + s", CASE WHEN len(garr) >= $k THEN array_to_string(" +
          s"garr[len(garr) - ${k - 1}:len(garr) - 1], ' ') END AS x$k"
      else s
    }.mkString(", ")
    val joins = (s"LEFT JOIN rc$n an ON dgx.s$n = an.gram " +
      s"LEFT JOIN rc${n - 1} dn ON dgx.x$n = dn.gram " +
      s"LEFT JOIN tn ON dgx.x$n = tn.gram") +:
      (1 until n).map { k =>
        val b = s"LEFT JOIN cc$k b$k ON dgx.s$k = b$k.gram"
        if (k >= 2) b + s" LEFT JOIN cden$k e$k ON dgx.x$k = e$k.gram"
        else b
      }
    var p = "((COALESCE(b1.c, 0) + 1.0) / (bt + vv))"
    (2 to n).foreach { k =>
      val (num, den, typ) =
        if (k == n) ("an.c", "dn.c", "tn.c")
        else (s"b$k.c", s"e$k.den", s"e$k.typ")
      // text-end contexts: den present, no continuation types -> the
      // level passes through (mirrors the Scala absent guard)
      val f = s"(CASE WHEN $den IS NULL OR $typ IS NULL THEN 0.0 ELSE " +
        s"greatest(COALESCE($num, 0) - $d, 0.0) / $den END)"
      val lam = s"(CASE WHEN $den IS NULL OR $typ IS NULL THEN 1.0 ELSE " +
        s"$d * $typ / $den END)"
      p = s"(CASE WHEN dgx.ll >= $k THEN $f + $lam * $p ELSE $p END)"
    }
    s"""toks AS (SELECT doc_id, $tokenizeSql AS t FROM documents),
      tr AS (SELECT t FROM toks WHERE doc_id % 3 = 0),
      $rawTables,
      tn AS (SELECT array_to_string(
        string_split(gram, ' ')[1:${n - 1}], ' ') AS gram,
        count(*) AS c FROM rc$n GROUP BY 1),
      $ccTables,
      nv AS (SELECT (SELECT sum(c) FROM cc1)::DOUBLE AS bt,
        (SELECT count(DISTINCT tok)::DOUBLE FROM
          (SELECT unnest(t) AS tok FROM tr)) AS vv),
      dgarr AS (SELECT doc_id, t[i:i+${n - 1}] AS garr FROM
        (SELECT doc_id, t, unnest(generate_series(1, len(t) - ${n - 1})) AS i
         FROM toks WHERE len(t) >= $n)
        UNION ALL
        SELECT doc_id, t AS garr FROM toks
         WHERE len(t) >= 1 AND len(t) < $n),
      dgx AS (SELECT doc_id, len(garr) AS ll, $sufCols FROM dgarr),
      sc AS (SELECT dgx.doc_id,
        round(ln($p) * 1000000.0)::BIGINT AS lp6
        FROM dgx ${joins.mkString(" ")} CROSS JOIN nv),
      agg AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
        sum(lp6)::BIGINT AS logprob_sum_e6 FROM sc GROUP BY doc_id),
      a2 AS (SELECT *, logprob_sum_e6 / (n_grams * 1000000.0) AS avg_logprob
        FROM agg),
      knout AS (SELECT d.doc_id, COALESCE(a2.n_grams, 0)::BIGINT AS n_grams,
        a2.logprob_sum_e6, a2.avg_logprob,
        round(exp(-a2.avg_logprob), 6) AS perplexity
        FROM documents d LEFT JOIN a2 USING (doc_id))"""
  }

  private def knScored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.ngramLmKneserNey(docs, "text", "doc_id",
      docs.where(col("doc_id") % 3 === 0), "text", n = 5)
  }

  /** Interpolated Kneser-Ney 5-gram LM scoring
    * ([[graft.ops.TextAnalysis.ngramLmKneserNey]]) — the
    * published-CCNet-comparable smoothing next to the stupid-backoff
    * row: raw counts at the top order, continuation counts below,
    * fixed discount 0.75, add-1 continuation floor, micro-nat
    * quantized. Oracle CTE GENERATED from the same order parameter.
    */
  private val txtLmKneserNey = Q("txt_lm_kneser_ney",
    (s, dir) => knScored(s, dir),
    Some(s"WITH ${knOracleCtes(5)} SELECT * FROM knout"),
    bench = true)

  /** Head/middle/tail buckets over the Kneser-Ney signal — shares the
    * generated chain with txt_lm_kneser_ney.
    */
  private val txtLmKnBuckets = Q("txt_lm_kn_buckets",
    (s, dir) => {
      val withLang = knScored(s, dir)
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.perplexityBuckets(withLang, "perplexity", "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("perplexity"), col("ppl_bucket"))
    },
    Some(s"""WITH ${knOracleCtes(5)}
      SELECT o.doc_id, d.lang, o.perplexity,
        ntile(3) OVER (PARTITION BY d.lang ORDER BY
          (o.perplexity IS NULL)::INT, o.perplexity, o.doc_id)::INT AS ppl_bucket
      FROM knout o JOIN documents d USING (doc_id)"""))

  private def sbScored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.ngramLmStupidBackoff(docs, "text", "doc_id",
      docs.where(col("doc_id") % 3 === 0), "text", n = 5)
  }

  /** CCNet-class 5-gram stupid-backoff LM scoring
    * ([[graft.ops.TextAnalysis.ngramLmStupidBackoff]]) — the published
    * large-corpus smoothing (Brants et al. 2007) over the same train
    * split as the add-1 bigram row; longest-attested-suffix scoring with
    * α = 0.4 backoff and an add-1 unigram floor, micro-nat quantized.
    */
  private val txtLmStupidBackoff = Q("txt_lm_stupid_backoff",
    (s, dir) => sbScored(s, dir),
    Some(s"WITH ${sbOracleCtes(5)} SELECT * FROM sbout"),
    bench = true)

  /** Head/middle/tail buckets over the stupid-backoff signal — shares
    * the generated CTE chain with txt_lm_stupid_backoff, as the add-k
    * bucket row does with its scorer.
    */
  private val txtLmSbBuckets = Q("txt_lm_sb_buckets",
    (s, dir) => {
      val withLang = sbScored(s, dir)
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.perplexityBuckets(withLang, "perplexity", "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("perplexity"), col("ppl_bucket"))
    },
    Some(s"""WITH ${sbOracleCtes(5)}
      SELECT o.doc_id, d.lang, o.perplexity,
        ntile(3) OVER (PARTITION BY d.lang ORDER BY
          (o.perplexity IS NULL)::INT, o.perplexity, o.doc_id)::INT AS ppl_bucket
      FROM sbout o JOIN documents d USING (doc_id)"""))

  /** Short-document fallback drive for the stupid-backoff LM: every doc
    * truncated to its first doc_id % 7 tokens (orders 0..6 against
    * n = 5) so the driver gate exercises the whole ladder — 0 tokens
    * stays unscorable, 1..4 score at their own longest order (backoff
    * exponents relative to the doc's order, not n), 5..6 take the
    * full-order path. Train split unchanged (full documents) — only the
    * SCORED side shrinks, as with real-world short crawl records.
    */
  private val txtLmSbShort = Q("txt_lm_sb_short",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val shortDocs = docs.select(col("doc_id"),
        array_join(slice(graft.ops.Dedup.tokenize(col("text")), lit(1),
          (col("doc_id") % 7).cast("int")), " ").as("text"))
      TextAnalysis.ngramLmStupidBackoff(shortDocs, "text", "doc_id",
        docs.where(col("doc_id") % 3 === 0), "text", n = 5)
    },
    Some(s"WITH ${sbOracleCtes(5, "t[1:(doc_id % 7)]")} " +
      "SELECT * FROM sbout"))

  val queries: Seq[Q] = Seq(
    ddExact, ddBloom, ddMinhash, ddSimhash, ddSimhashCorpus, ddJaccard, ddClusterPipeline,
    ddClusterPriority, ddJaccardCapped, ddLshVerified, ddWinnow,
    ddCosine, ddCosineLsh, ddClusterDedup,
    simTopK, simIvf, simIvfPq, simRecall, kgPageRank, kgDegrees, kgDiff, kgComponents,
    txtLangid, txtScriptSignals, txtQuality, txtTokens, txtBpe, txtBpeLearn, txtFingerprint, txtRepetition,
    txtContamination, txtSpanContamination, txtExciseSpans, txtClassifier,
    txtQualityTrain, txtQualityEval, txtLmPerplexity, txtLmBuckets, txtLmStupidBackoff, txtLmSbBuckets, txtLmSbShort, txtLmKneserNey, txtLmKnBuckets,
    txtBoilerplateSpans, txtRemoveBoilerplate, txtMojibakeRepair,
    txtNormalize,
    txtSample, txtPii, txtUrlSignals, txtUrlCanonical, txtDomainBlocklist,
    txtUrlPsl,
    txtFuzzyContamination, txtWeightedSample,
    mmMeta, mmFrames, mmDecode, mmAudio, mmResize, mmVideo, mmH264Nals, mmH264Meta, mmH264SliceCensus, mmMp4Meta, mmMp4Sync, mmMp3Census, mmSubtitleCues, mmCueKeyframes, mmWebmTracks, mmHevcMeta, mmAudioContainers, mmMediaGate, mmMediaGatePersist, mmIvfMeta, sftValidate, sftRender, sftPackMasked, sftPackTokens, sftDpoPairs, txtFim, txtSpanCorrupt, txtChunk, mmJpegExif,
    mmPhash, mmPhashNearDup, mmPhashCluster, mmAudioFp, mmAudioCluster, mmCurateImages,
    webWarcRecords, webHtmlText, webWarcHtmlIngest, webHttpIngest,
    webCrawlFlagship, webCrawlFlagshipTokens, webCdxSelect, webRedirectRevisit, webRobotsRules, webRobotsGate, webFrontierSchedule, webFrontierPriority, webFrontierLoop, webFrontierZipf, webCrawlBfs, webSitemapIngest, webSurtKey, webWetExport, webWarcExport, mmSniffMedia, arcZstdMembers,
    arcTarMembers, arcZipMembers, arcNestedTarZip, webPdfCensus,
    stWindow, stHotKeyGuard)
}
