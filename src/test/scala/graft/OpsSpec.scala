package graft

import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en"),
    (1L, "the quick brown fox jumps over the lazy dog", "en"),   // exact dup
    (2L, "the quick brown fox leaps over the lazy dog", "en"),   // near dup
    (3L, "completely different content about spark engines", "en"),
    (4L, "der schnelle braune fuchs und der faule hund", "de"))
    .toDF("doc_id", "text", "lang")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "text", "doc_id").collect()
    assert(out.length == 4) // 5 docs, one exact pair
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 0L) // keeps min id
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))          // exact dup always collides
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated text
  }

  test("simhash: identical texts get identical signatures, near dups are close") {
    val sig = Dedup.simhash(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(1L))
    val hamming = java.lang.Long.bitCount(sig(0L) ^ sig(2L))
    assert(hamming <= 10, s"near-dup hamming distance $hamming")
    val hammingFar = java.lang.Long.bitCount(sig(0L) ^ sig(3L))
    assert(hammingFar > hamming)
  }

  test("simhash: 32-bit signature is the low half of the 64-bit one; " +
      "token-less docs get NULL sigs and singleton corpus verdicts") {
    val weird = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, null), (4L, ""), (5L, "!!! ... ???")).toDF("doc_id", "text")
    val s64 = Dedup.simhash(weird, "text", "doc_id", bits = 64).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val s32 = Dedup.simhash(weird, "text", "doc_id", bits = 32).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // one row per input doc on BOTH widths; token-less docs → null sig
    assert(s64.keySet == Set(1L, 2L, 3L, 4L, 5L) && s32.keySet == s64.keySet)
    Seq(3L, 4L, 5L).foreach(id => assert(s64(id).isEmpty && s32(id).isEmpty))
    // low 32 bits of the 64-bit signature ARE the 32-bit signature
    // (same seed per bit) — widening never changes historical signatures
    assert((s64(1L).get & 0xffffffffL) == s32(1L).get)
    // corpus verdicts: null-sig docs come back as their own singletons,
    // identical texts cluster — one verdict per input document
    val verdicts = Dedup.hammingDedupCorpus(
        Dedup.simhash(weird, "text", "doc_id", bits = 64), "id", "simhash",
        bits = 64, bands = 4, maxHamming = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(verdicts.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(verdicts(1L) == (1L, true) && verdicts(2L) == (1L, false))
    Seq(3L, 4L, 5L).foreach(id => assert(verdicts(id) == (id, true)))
  }

  test("jaccard pairs respect the blocking column") {
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", "lang", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._2 == 4L)) // de-blocked from en docs
  }

  test("cluster resolution: chained pairs collapse to min-id representatives") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (7L, 9L)).toDF("id_a", "id_b")
    val clusters = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain 1-2-3 collapses to 1; 4-5 to 4; 7-9 to 7
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 7L -> 7L, 9L -> 7L))

    // the size-gated hybrid: driver union-find (default) and distributed
    // large/small-star (forced via localThreshold = 0) must agree exactly —
    // long chains, a clique, singleton-free edges, reversed pairs
    val gnarly = (Seq.tabulate(30)(i => (100L + i, 101L + i)) ++ // 31-chain
      Seq((500L, 507L), (507L, 503L), (503L, 501L)) ++            // shuffled clique-ish
      Seq((900L, 800L))                                            // reversed order
      ).toDF("id_a", "id_b")
    val local = Dedup.resolveClusters(gnarly).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dist = Dedup.resolveClusters(gnarly, localThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(local == dist)
    assert(local.filter(_._1 >= 500L).filter(_._1 < 600L).forall(_._2 == 500L))

    val corpus = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 9L).toDF("doc_id")
      .withColumn("text", concat(lit("d"), col("doc_id")))
    val kept = Dedup.dedupByPairs(corpus, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 6L, 7L)) // 6 untouched, others deduped to min

    // a caller whose id column is literally named "id" keeps it (name-based
    // drop("id") used to take the caller's column out with the join helper's)
    val corpusId = corpus.withColumnRenamed("doc_id", "id")
    val keptId = Dedup.dedupByPairs(corpusId, "id", pairs)
    assert(keptId.columns.toSeq == Seq("id", "text"))
    assert(keptId.collect().map(_.getLong(0)).toSet == Set(1L, 4L, 6L, 7L))
  }

  test("repetition signals: duplicate-line and duplicate-ngram fractions") {
    val df = Seq(
      // 4 non-empty lines, "same line" twice → dup_line_frac = 1/4
      (1L, "same line\nsame line\nother\n\nlast"),
      // tokens: a b a b a b → trigrams: "a b a","b a b","a b a","b a b" → 2 dups of 4
      (2L, "a b a b a b"),
      (3L, "short"), // < 3 tokens → no grams, 1 line
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "text")
      .select("doc_id", "dup_line_frac", "dup_ngram_frac")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 0.25)
    assert(out(2L) == (0.0, 0.5))
    assert(out(3L) == (0.0, 0.0))
    assert(out(4L) == (0.0, 0.0))
  }

  test("PII redaction replaces emails, IPs, phone numbers with placeholders") {
    val df = Seq((1L,
      "mail a.b+c@ex-ample.org or call +1 (555) 123-4567; host 10.0.255.1 ok"))
      .toDF("doc_id", "text")
    val out = df.select(TextAnalysis.redactPii(col("text"))).collect().head.getString(0)
    assert(out == "mail <EMAIL> or call <PHONE>; host <IP> ok", out)
    val sig = TextAnalysis.piiSignals(df, "text").select("n_emails", "n_ipv4").collect().head
    assert((sig.getLong(0), sig.getLong(1)) == (1L, 1L))
  }

  test("ngram contamination finds docs sharing a 5-gram with the probe set") {
    val probe = Seq((100L, "the quick brown fox jumps over")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "prefix the quick brown fox jumps suffix"), // shares "the quick brown fox jumps"
      (2L, "completely unrelated text with many words here"),
      (3L, "the quick brown fox jumps over the lazy dog")) // shares 2 probe 5-grams
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramContamination(docs, "text", "doc_id", probe, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 100L) -> 1L, (3L, 100L) -> 2L))
  }

  test("deterministic sampling is reproducible and stratum-rated") {
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    val s1 = Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 0.5, "de" -> 0.1), seed = 3)
      .collect().map(_.getLong(0)).toSet
    val s2 = Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 0.5, "de" -> 0.1), seed = 3)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // same rows every run
    val en = s1.count(_ % 2 == 0).toDouble / 2000
    val de = s1.count(_ % 2 == 1).toDouble / 2000
    assert(math.abs(en - 0.5) < 0.05, s"en rate $en")
    assert(math.abs(de - 0.1) < 0.03, s"de rate $de")
  }

  test("cluster resolution: a 15-element chain (diameter > 10) is one cluster") {
    // min-label propagation at 10 rounds would split this chain; the
    // large/small-star rewrite must collapse it to a single min-id root
    val chain = (100L until 114L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.resolveClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.keySet == (100L to 114L).toSet)
    assert(clusters.values.toSet == Set(100L), s"chain split: $clusters")
  }

  test("sign-LSH cosine near-dup is a subset of the exact pairs; identical vectors always collide") {
    val vecs = (0L to 30L).map { i =>
      val v = (0 until 16).map(d => math.sin(i * 0.7 + d).abs + 0.1)
      (i, v)
    }.toDF("vec_id", "v")
      // make 0 and 30 identical (guaranteed near-dup)
      .withColumn("v", when(col("vec_id") === 30L,
        typedLit((0 until 16).map(d => math.sin(0 * 0.7 + d).abs + 0.1))).otherwise(col("v")))
    val exact = Dedup.cosineNearDup(vecs, "v", "vec_id", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.cosineNearDupLsh(vecs, "v", "vec_id", 0.9, planes = 4, dims = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))           // bucketing never invents pairs
    assert(lsh.contains((0L, 30L)))       // identical vectors share every bucket
    assert(lsh.nonEmpty)
  }

  test("brute-force top-k returns k ranked neighbors") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.9, 0.1, 0.0)),
      (2L, Array(0.0, 1.0, 0.0)), (3L, Array(0.0, 0.9, 0.1)),
      (4L, Array(0.5, 0.5, 0.0))).toDF("vec_id", "v")
    val out = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), "v", "vec_id", 2)
      .collect().sortBy(_.getInt(3))
    assert(out.length == 2)
    assert(out(0).getLong(1) == 1L) // closest to [1,0,0]
  }

  test("ivf assignment puts every vector in exactly one cluster") {
    val vecs = (0L until 20L).map(i =>
      (i, Array(math.cos(i * 0.3), math.sin(i * 0.3), 0.1 * (i % 3)))).toDF("vec_id", "v")
    val assigned = Similarity.ivfAssign(vecs, "v", "vec_id", stride = 7)
    assert(assigned.count() == 20)
    assert(assigned.groupBy("id").count().where($"count" > 1).count() == 0)
  }

  test("langId picks the language with most stopword evidence") {
    val out = docs.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en")
    assert(out(4L) == "de")
  }

  test("fingerprint is stable under formatting changes") {
    val d = Seq((1L, "Hello,   World!"), (2L, "hello world")).toDF("id", "text")
    val fps = d.select(TextAnalysis.fingerprint($"text")).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("rolling hash is order-sensitive") {
    val d = Seq((1L, "alpha beta"), (2L, "beta alpha")).toDF("id", "text")
    val fps = d.select(TextAnalysis.rollingHash($"text")).collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("resize plan fits within maxDim preserving aspect, never upscales") {
    val d = Multimodal.resizePlan(
      Seq((2048L, 1024L), (100L, 50L)).toDF("width", "height"), 512)
    val rows = d.collect().map(r => (r.getAs[Long]("width"),
      r.getAs[Long]("target_width"), r.getAs[Long]("target_height"))).toSet
    assert(rows.contains((2048L, 512L, 256L))) // downscale, aspect kept
    assert(rows.contains((100L, 100L, 50L)))   // no upscaling
  }

  test("pageRank: hand-checked two-node chain, mass conserved shape") {
    import graft.ops.Graphs
    // a -> b: N=2, pr0 = 0.5 each.
    // pr1(a) = 0.075; pr1(b) = 0.075 + 0.85*0.5 = 0.5
    // pr2(b) = 0.075 + 0.85*0.075 = 0.13875
    // pr3(b) = same (a is stationary after iter 1)
    val edges = Seq(("a", "b")).toDF("s", "d")
    val pr = Graphs.pageRank(edges, "s", "d", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr("a") - 0.075) < 1e-12)
    assert(math.abs(pr("b") - 0.13875) < 1e-12)
    // sink vertex with no outdeg contributes nothing; no NaN/null leaks
    assert(!pr.values.exists(_.isNaN))
  }

  test("degrees: full outer over both directions with zero fills") {
    import graft.ops.Graphs
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("s", "d")
    val deg = Graphs.degrees(edges, "s", "d").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(deg("a") == ((2L, 0L)) && deg("b") == ((1L, 1L)) && deg("c") == ((0L, 2L)))
  }

  test("ivfPqTopK yields dense ranks 1..k per query within the probed cluster") {
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(64)(d => math.sin(i * 0.7 + d * 0.31)))
    }.toDF("vec_id", "v")
    val out = Similarity.ivfPqTopK(vecs, "v", "vec_id", stride = 50,
      col("id") % 40 === 0, k = 3, subspaces = 4, pqStride = 25)
    val byQuery = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (_, rows) =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted
      assert(ranks.toSeq == (1 to ranks.length).toSeq && ranks.length <= 3)
    }
  }

  test("minhashCandidates maxBucketSize: huge cap is exact, cap prunes to subset") {
    val d = (0L until 40L).map { i =>
      val text = if (i < 20) s"the quick brown fox jumps over lazy dog number shared tail $i"
      else s"completely different content block with its own words token $i unique"
      (i, text)
    }.toDF("id", "text")
    def cands(cap: Option[Long]) =
      Dedup.minhashCandidates(d, "text", "id", 12, 3, 8, cap)
        .as[(Long, Long)].collect().toSet
    val exact = cands(None)
    val capped = cands(Some(5L))
    assert(capped.subsetOf(exact)) // cap only removes candidates
    assert(cands(Some(1000000L)) == exact) // huge cap is the exact set
  }

  test("jaccardPairs maxPrefixDf: uncapped pairs survive, heavy-only pairs drop") {
    // docs 1/2 share rare tokens (high jaccard); docs 3/4 overlap ONLY via
    // the token every document shares ("common") plus disjoint filler
    val d = Seq(
      (1L, "en", "common alpha beta gamma delta"),
      (2L, "en", "common alpha beta gamma epsilon"),
      (3L, "en", "common zeta eta"),
      (4L, "en", "common theta iota")).toDF("id", "lang", "text")
    def pairs(cap: Option[Long]) =
      Dedup.jaccardPairs(d, "text", "id", "lang", 0.2, cap)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val exact = pairs(None)
    assert(exact.contains((1L, 2L)))
    val capped = pairs(Some(3L)) // "common" has df 4 > 3 → no candidates via it
    assert(capped.contains((1L, 2L))) // still anchored by rare alpha/beta/gamma
    assert(!capped.contains((3L, 4L)) || !exact.contains((3L, 4L)))
    assert(capped.subsetOf(exact)) // cap only removes pairs, never invents
  }

  test("notInCorpus matches a plain anti-join, keeps null-value rows") {
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "v")
    val batch = Seq((10L, "beta"), (11L, "delta"), (12L, "alpha"), (13L, null))
      .toDF("id", "v")
    val got = Dedup.notInCorpus(batch, corpus, "v", expectedItems = 100L)
      .select($"id").as[Long].collect().toSet
    // exactness contract: identical to the plain left-anti join
    val want = batch.join(corpus.select($"v"), Seq("v"), "left_anti")
      .select($"id").as[Long].collect().toSet
    assert(got == want && got == Set(11L, 13L))
  }

  test("notInCorpusManaged: release hook unpersists the internal cache " +
      "(iterative callers free each round deterministically)") {
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "v")
    val batch = Seq((10L, "beta"), (11L, "delta")).toDF("id", "v")
    // track the SPECIFIC ids this call adds (other tests' caches and the
    // async context cleaner make global counts racy)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (out, release) = Dedup.notInCorpusManaged(batch, corpus, "v", 100L)
    assert(out.select($"id").as[Long].collect().toSet == Set(11L))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty)
    release()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(id => !after.contains(id)))
  }

  test("notInCorpus on integral keys probes mightContainLong; exotic types rejected") {
    val corpus = Seq(1L, 2L, 3L).toDF("k")
    val batch = Seq(2L, 7L, 3L, 9L).toDF("k")
    val got = Dedup.notInCorpus(batch, corpus, "k", expectedItems = 100L)
      .select($"k").as[Long].collect().toSet
    assert(got == Set(7L, 9L))
    // int batch against long corpus: integral widening is allowed
    val gotInt = Dedup.notInCorpus(Seq(2, 7).toDF("k"), corpus, "k", 100L)
      .select($"k").as[Int].collect().toSet
    assert(gotInt == Set(7))
    // non-string, non-integral key: clear rejection, not a UDF ClassCastException
    val bad = Seq(1.5, 2.5).toDF("k")
    val e = intercept[IllegalArgumentException] {
      Dedup.notInCorpus(bad, Seq(1.5).toDF("k"), "k", 100L).collect()
    }
    assert(e.getMessage.contains("integral"))
    // string batch against long corpus: type mismatch rejected up front
    val e2 = intercept[IllegalArgumentException] {
      Dedup.notInCorpus(Seq("x").toDF("k"), corpus, "k", 100L).collect()
    }
    assert(e2.getMessage.toLowerCase.contains("corpus column"))
  }

  test("vec.dot/vec.cosine return null on mismatched vector lengths") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val rows = df.select(
      graft.functions.vec.dot($"a", $"b").as("d"),
      graft.functions.vec.cosine($"a", $"b").as("c")).collect()
    assert(rows(0).getDouble(0) == 14.0 && !rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    // and a null score never survives a threshold filter
    assert(df.where(graft.functions.vec.cosine($"a", $"b") >= -1.0).count() == 1)
  }

  test("multimodal payload plumbing: metadata, frames, batch extraction") {
    val withBin = Multimodal.withBinaryPayload(docs, "text", "text")
    val meta = withBin.select($"doc_id", $"meta.n_bytes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(meta(0L) == 43L) // "the quick brown fox jumps over the lazy dog".length
    val frames = Multimodal.frameSample(withBin, 10)
    assert(frames.where($"doc_id" === 0).count() == 5) // 44 bytes / stride 10
    val extracted = Multimodal.batchExtract(Multimodal.decodeStub(withBin))
    val row = extracted.where($"doc_id" === 0).select($"batch_feature", $"width", $"height").head()
    assert(row.getDouble(0) > 0.0 && row.getLong(1) >= 64 && row.getLong(2) >= 64)
    assert(extracted.where($"doc_id" === 0).select(size($"features")).head().getInt(0) == 8)
  }

  test("decodeImages: real PNG codec round-trip, graceful failure on bad bytes") {
    // valid solid-color PNG through the real JDK encoder, plus a garbage
    // payload and a null payload — one decode call handles all three
    val imgs = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("payload",
        when($"id" === 1, Multimodal.syntheticPng(lit(12), lit(7),
          lit(200), lit(100), lit(30)))
        .when($"id" === 2, lit("not an image at all".getBytes))
        .otherwise(lit(null).cast("binary")))
    val out = Multimodal.decodeImages(imgs, "payload")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val ok = out(1L)
    assert(ok.getAs[Int]("img_width") == 12 && ok.getAs[Int]("img_height") == 7)
    assert(ok.getAs[Int]("img_channels") == 3)
    // PNG is lossless: solid (200,100,30) decodes to exactly those means
    assert(ok.getSeq[Double](ok.fieldIndex("img_mean_rgb")) == Seq(200.0, 100.0, 30.0))
    assert(math.abs(ok.getAs[Double]("img_mean") - 110.0) < 1e-9)
    assert(ok.isNullAt(ok.fieldIndex("decode_error")))
    assert(out(2L).isNullAt(out(2L).fieldIndex("img_width")))
    assert(out(2L).getAs[String]("decode_error") == "unsupported format")
    assert(out(3L).getAs[String]("decode_error") == "null payload")
    // a poisoned row never kills the job: stats survive alongside failures
    assert(Multimodal.decodeImages(imgs, "payload")
      .where($"decode_error".isNull).count() == 1)
  }

  test("imagePerceptualHash: hand-computed hashes, scale invariance, degradation") {
    // 16×8 ramp gray(x) = 16x: aHash cells are 32x+8 (x = 0..7), mean 120,
    // so bits set for x ≥ 4 → row byte 0xF0 repeated down the 8 rows; the
    // 9-cell dHash ramp is strictly increasing → all 64 bits set
    val imgs = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
      .withColumn("payload",
        when($"id" === 1, Multimodal.syntheticPngGradient(lit(16), lit(8), lit(0), lit(16)))
        .when($"id" === 2, Multimodal.syntheticPngGradient(lit(32), lit(8), lit(0), lit(8)))
        .when($"id" === 3, Multimodal.syntheticPngGradient(lit(4), lit(4), lit(0), lit(16)))
        .when($"id" === 4, lit("not an image".getBytes))
        .otherwise(lit(null).cast("binary")))
    val out = Multimodal.imagePerceptualHash(imgs, "payload")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val ramp16 = out(1L)
    assert(ramp16.getAs[Long]("img_ahash") == 0xF0F0F0F0F0F0F0F0L)
    assert(ramp16.getAs[Long]("img_dhash") == -1L)
    // same ramp rendered at 2× width downsamples to the SAME cells — the
    // scale invariance that makes the hash a resize-robust dedup key
    assert(out(2L).getAs[Long]("img_ahash") == ramp16.getAs[Long]("img_ahash"))
    assert(out(3L).getAs[String]("decode_error") == "image smaller than 9x8 hash grid")
    assert(out(4L).getAs[String]("decode_error") == "unsupported format")
    assert(out(5L).getAs[String]("decode_error") == "null payload")
  }

  test("audioEnvelopeHash: closed-form bits, gain invariance, degradation") {
    // 65 steps of rising amplitude 100 + 50k, one step per window → every
    // delta-sign bit set; doubling the gain (200 + 100k) must not move a
    // bit (the invariance that makes the fingerprint a dedup key)
    val wavs = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
      .withColumn("payload",
        when($"id" === 1, Multimodal.syntheticWavEnvelope(lit(8000), lit(3), lit(65), lit(100), lit(50)))
        .when($"id" === 2, Multimodal.syntheticWavEnvelope(lit(8000), lit(3), lit(65), lit(200), lit(100)))
        .when($"id" === 3, Multimodal.syntheticWavEnvelope(lit(8000), lit(1), lit(10), lit(100), lit(50)))
        .when($"id" === 4, lit("not audio".getBytes))
        .otherwise(lit(null).cast("binary")))
    val out = Multimodal.audioEnvelopeHash(wavs, "payload")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Long]("audio_envhash") == -1L) // strictly rising → all 64 bits
    assert(out(2L).getAs[Long]("audio_envhash") == out(1L).getAs[Long]("audio_envhash"))
    assert(out(3L).getAs[String]("decode_error") == "too short for envelope hash (<65 frames)")
    assert(out(4L).getAs[String]("decode_error") == "decode failed: UnsupportedAudioFileException")
    assert(out(5L).getAs[String]("decode_error") == "null payload")
  }

  test("curateImages: one pass gates decode, dims and canonicality; rejects stay visible") {
    import graft.ops.Curation
    val imgs = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
      .withColumn("payload",
        when($"id" <= 2, Multimodal.syntheticPngGradient(lit(16), lit(8), lit(0), lit(16)))
        .when($"id" === 3, Multimodal.syntheticPngGradient(lit(16), lit(8), lit(200), lit(96)))
        .when($"id" === 4, Multimodal.syntheticPng(lit(4), lit(4), lit(1), lit(2), lit(3)))
        .otherwise(lit("garbage".getBytes)))
    val out = Curation.curateImages(imgs, "payload", "id", minWidth = 8, minHeight = 8)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out.size == 5) // rejected rows are present, not dropped
    // 1 and 2 are identical → one cluster, min id canonical
    assert(out(1L).getAs[Long]("cluster") == 1L && out(2L).getAs[Long]("cluster") == 1L)
    assert(out(1L).getAs[Boolean]("curate_keep") && !out(2L).getAs[Boolean]("curate_keep"))
    assert(out(3L).getAs[Boolean]("curate_keep")) // distinct image, own cluster
    assert(!out(4L).getAs[Boolean]("curate_keep") &&
      out(4L).getAs[Int]("img_width") == 4) // sub-grid: dims observable, rejected
    assert(!out(5L).getAs[Boolean]("curate_keep") &&
      out(5L).getAs[String]("decode_error") == "unsupported format")
  }

  test("hammingDedupCorpus: brute-force components, linear verdicts, collapse") {
    // ids 0-2 share one signature (collapse path), 3 is one bit away
    // (joins the component through banding), 4/5 form a separate pair,
    // 6 is a singleton
    val sigs = Seq(
      (0L, Some(7L)), (1L, Some(7L)), (2L, Some(7L)), (3L, Some(6L)),
      (4L, Some(0x7000L)), (5L, Some(0x7001L)), (6L, Some(0x0F0F0F0FL)),
      (7L, None)) // null signature (undecodable) → own singleton, not dropped
      .toDF("doc_id", "sig")
    val out = Dedup.hammingDedupCorpus(sigs, "doc_id", "sig",
        bits = 64, bands = 16, maxHamming = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)) // one verdict per doc
    assert(Seq(0L, 1L, 2L, 3L).forall(out(_)._1 == 0L))   // component min label
    assert(out(4L)._1 == 4L && out(5L)._1 == 4L && out(6L)._1 == 6L)
    assert(out(7L) == (7L, true))
    assert(out.count(_._2._2) == 4)                        // one kept per cluster
    assert(out(0L)._2 && out(4L)._2 && out(6L)._2)
  }

  test("dedupHashRouted: exactly dropDuplicates semantics, nulls included") {
    val df = Seq(
      ("a", Some(1)), ("a", Some(1)), ("a", Some(2)),
      ("b", None), ("b", None), ("b", Some(1)),
      (null: String, Some(1)), (null: String, Some(1)))
      .toDF("k", "v")
    val rows = Dedup.dedupHashRouted(df, Seq("k", "v"))
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
    val want = df.dropDuplicates(Seq("k", "v"))
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toSet
    // row COUNT matters, not just the distinct set: an identity (no-op)
    // routing would pass a set compare while leaving duplicates behind
    assert(rows.length == 5 && rows.toSet == want && want.size == 5)
  }

  test("profile: one row per column with exact nulls, distincts, string-cast extremes") {
    import graft.ops.Profiling
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("a")))
      .toDF("id", "tag")
    val got = Profiling.profile(df, Seq("id", "tag"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(got("id") == ((4L, 0L, 4L, "1", "4")))
    assert(got("tag") == ((4L, 1L, 2L, "a", "b")))
  }

  test("rrfFuse: rank-sum fusion, membership-only contribution, deterministic ties") {
    val sparse = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "corpus_id", "rank")
    val dense = Seq((1L, 11L, 1), (1L, 13L, 2), (1L, 10L, 3))
      .toDF("query_id", "corpus_id", "rank")
    val got = Similarity.rrfFuse(Seq(sparse, dense), k = 4)
      .collect().map(r => (r.getAs[Long]("corpus_id"),
        r.getAs[Double]("rrf_score"), r.getAs[Int]("rank"))).sortBy(_._3)
    def s(rs: Int*) = BigDecimal(rs.map(r => 1.0 / (60 + r)).sum)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 11: ranks 2+1; 10: ranks 1+3; 12 and 13: single-list, rank diff
    // breaks what membership alone would tie — 12 (rank 3) vs 13 (rank 2)
    assert(got.map(_._1).toSeq == Seq(11L, 10L, 13L, 12L))
    assert(got(0)._2 == s(2, 1) && got(1)._2 == s(1, 3))
    assert(got(2)._2 == s(2) && got(3)._2 == s(3))
  }

  test("hammingPairs matches brute force within the pigeonhole guarantee") {
    val sigs = Seq(
      (0L, 0L), (1L, 0L),                  // identical → hamming 0
      (2L, 1L),                            // 1 bit from ids 0/1
      (3L, 0xFFL),                         // 8 bits from 0, 7 from id 2
      (4L, 0xF0F0F0F0F0F0F0F0L),           // far from the small sigs
      (5L, 0xF0F0F0F0F0F0F0F1L))           // 1 bit from id 4
      .toDF("id", "sig")
    val got = Dedup.hammingPairs(sigs, "id", "sig", bits = 64, bands = 16, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val raw = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (ia, sa) <- raw; (ib, sb) <- raw if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 8
    } yield (ia, ib) -> h.toLong).toMap
    assert(got == expected)
    assert(got((0L, 1L)) == 0L && got((0L, 3L)) == 8L && got((4L, 5L)) == 1L)
  }

  test("decodeImages: GIF and BMP containers decode through the same path") {
    // both are lossless for a solid color (GIF palettizes it, BMP is raw)
    def encode(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(10, 6,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 6; x <- 0 until 10) img.setRGB(x, y, 0x2a9d8f)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val df = Seq(("gif", encode("gif")), ("bmp", encode("bmp"))).toDF("fmt", "payload")
    val out = Multimodal.decodeImages(df, "payload").collect()
      .map(r => r.getAs[String]("fmt") -> r).toMap
    for (fmt <- Seq("gif", "bmp")) {
      val r = out(fmt)
      assert(r.getAs[Int]("img_width") == 10 && r.getAs[Int]("img_height") == 6, fmt)
      assert(r.getSeq[Double](r.fieldIndex("img_mean_rgb")) == Seq(0x2a, 0x9d, 0x8f).map(_.toDouble), fmt)
      assert(r.isNullAt(r.fieldIndex("decode_error")), fmt)
    }
  }

  test("resizeImages: real bilinear resample, passthrough below box, graceful failure") {
    val imgs = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("payload",
        when($"id" === 1, Multimodal.syntheticPng(lit(40), lit(10),
          lit(90), lit(60), lit(30)))                       // above the box
        .when($"id" === 2, Multimodal.syntheticPng(lit(12), lit(9),
          lit(10), lit(20), lit(30)))                       // already inside
        .otherwise(lit("junk bytes".getBytes)))
    val resized = Multimodal.resizeImages(imgs, 16, "payload")
    val out = Multimodal.decodeImages(resized, "payload")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val big = out(1L)
    assert(big.getAs[Boolean]("img_resized"))
    assert(big.getAs[Int]("resized_width") == 16 && big.getAs[Int]("resized_height") == 4)
    assert(big.getAs[Int]("img_width") == 16 && big.getAs[Int]("img_height") == 4)
    // bilinear over a solid color is exactly that color after re-encode
    assert(big.getSeq[Double](big.fieldIndex("img_mean_rgb")) == Seq(90.0, 60.0, 30.0))
    val small = out(2L)
    assert(!small.getAs[Boolean]("img_resized"))
    assert(small.getAs[Int]("img_width") == 12 && small.getAs[Int]("img_height") == 9)
    // passthrough is byte-identical: no decode loss, no re-encode
    val origSmall = imgs.where($"id" === 2).head().getAs[Array[Byte]]("payload")
    val keptSmall = resized.where($"id" === 2).head().getAs[Array[Byte]]("payload")
    assert(java.util.Arrays.equals(origSmall, keptSmall))
    val bad = out(3L)
    assert(bad.getAs[String]("resize_error") == "unsupported format")
    // failed rows keep their original bytes for downstream quarantine
    assert(new String(resized.where($"id" === 3).head()
      .getAs[Array[Byte]]("payload")) == "junk bytes")
  }

  test("decodeAudio: real WAV codec round-trip, graceful failure on bad bytes") {
    // ±6000 square wave through the real JDK WAV writer: mean|x| and RMS
    // both equal 6000/32768 exactly (constant magnitude, lossless PCM)
    val wavs = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("payload",
        when($"id" === 1, Multimodal.syntheticWav(lit(8000), lit(160), lit(6000)))
        .when($"id" === 2, lit("definitely not audio".getBytes))
        .otherwise(lit(null).cast("binary")))
    val out = Multimodal.decodeAudio(wavs, "payload")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val ok = out(1L)
    assert(ok.getAs[Int]("audio_sample_rate") == 8000)
    assert(ok.getAs[Int]("audio_channels") == 1 && ok.getAs[Int]("audio_bits") == 16)
    assert(ok.getAs[Long]("audio_frames") == 160L)
    assert(math.abs(ok.getAs[Double]("audio_duration_s") - 0.02) < 1e-12)
    assert(math.abs(ok.getAs[Double]("audio_mean_abs") - 6000.0 / 32768) < 1e-12)
    assert(math.abs(ok.getAs[Double]("audio_rms") - 6000.0 / 32768) < 1e-12)
    assert(ok.isNullAt(ok.fieldIndex("decode_error")))
    assert(out(2L).getAs[String]("decode_error").startsWith("decode failed"))
    assert(out(3L).getAs[String]("decode_error") == "null payload")
  }

  test("decodeVideoFrames: MJPEG-AVI round-trip, stride sampling, per-frame degradation") {
    val avis = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("payload",
        when($"id" === 1, Multimodal.syntheticMjpegAvi(lit(24), lit(16), lit(4), lit(60)))
        .when($"id" === 2, lit("not a video".getBytes))
        .otherwise(lit(null).cast("binary")))
    val out = Multimodal.decodeVideoFrames(avis, "payload").collect()
      .groupBy(_.getAs[Long]("id"))
    val good = out(1L).sortBy(_.getAs[Int]("frame_idx"))
    assert(good.length == 4)
    // gray progression 60, 67, 74, 81 round-trips exactly through JPEG q=1
    assert(good.map(_.getAs[Double]("frame_mean")).toSeq == Seq(60.0, 67.0, 74.0, 81.0))
    assert(good.forall(r => r.getAs[Int]("frame_width") == 24 &&
      r.getAs[Int]("frame_height") == 16 && r.isNullAt(r.fieldIndex("decode_error"))))
    assert(out(2L).head.getAs[String]("decode_error").startsWith("unsupported container"))
    assert(out(3L).head.getAs[String]("decode_error") == "null payload")
    // stride 2 decodes frames 0 and 2 only — sampling skips at the container walk
    val strided = Multimodal.decodeVideoFrames(avis.where($"id" === 1), "payload", frameStride = 2)
      .collect().map(_.getAs[Int]("frame_idx")).sorted
    assert(strided.toSeq == Seq(0, 2))
    // corrupt ONE frame in place: sibling frames still decode
    val bytes = avis.where($"id" === 1).head().getAs[Array[Byte]]("payload")
    val corrupted = bytes.clone()
    // find the second 00dc chunk and stomp its JPEG magic
    var hits = 0; var pos = -1
    for (i <- 0 until corrupted.length - 4 if pos < 0) {
      if (corrupted(i) == '0' && corrupted(i + 1) == '0' &&
          corrupted(i + 2) == 'd' && corrupted(i + 3) == 'c') {
        hits += 1; if (hits == 2) pos = i
      }
    }
    corrupted(pos + 8) = 0x00; corrupted(pos + 9) = 0x00
    val mixed = Multimodal.decodeVideoFrames(
      Seq(1L).toDF("id").withColumn("payload", lit(corrupted)), "payload").collect()
    assert(mixed.count(_.isNullAt(mixed.head.fieldIndex("decode_error"))) == 3)
    assert(mixed.count(r => !r.isNullAt(r.fieldIndex("decode_error"))) == 1)
  }

  test("video codec seam contract: non-JDK bitstream degrades per-frame, never crashes; stub is deterministic") {
    // a WELL-FORMED AVI container whose frames carry an H.264-style
    // Annex-B bitstream (0x00000001 start codes) instead of JPEG — the
    // exact shape a real crawl delivers for codecs outside the JDK. The
    // contract at the swap seam (scaladoc: replace the per-frame
    // ImageIO.read with a JNI/FFI decoder): every sampled frame comes back
    // as its own row with null stats + 'unsupported frame codec', the
    // container walk itself succeeds, and the task never throws.
    val avi = Seq(1L).toDF("id")
      .withColumn("payload", Multimodal.syntheticMjpegAvi(lit(24), lit(16), lit(4), lit(60)))
      .head().getAs[Array[Byte]]("payload")
    val h264ish = avi.clone()
    for (i <- 0 until h264ish.length - 4) {
      if (h264ish(i) == '0' && h264ish(i + 1) == '0' &&
          h264ish(i + 2) == 'd' && h264ish(i + 3) == 'c') {
        // overwrite the frame's first bytes with an Annex-B start code + NALU
        h264ish(i + 8) = 0x00; h264ish(i + 9) = 0x00
        h264ish(i + 10) = 0x00; h264ish(i + 11) = 0x01
        h264ish(i + 12) = 0x67 // SPS nal_unit_type
      }
    }
    val out = Multimodal.decodeVideoFrames(
      Seq(1L).toDF("id").withColumn("payload", lit(h264ish)), "payload").collect()
    assert(out.length == 4) // one row per frame — count survives the codec gap
    out.foreach { r =>
      assert(r.getAs[String]("decode_error") == "unsupported frame codec")
      assert(r.isNullAt(r.fieldIndex("frame_width")) && r.isNullAt(r.fieldIndex("frame_mean")))
    }
    assert(out.map(_.getAs[Int]("frame_idx")).sorted.toSeq == Seq(0, 1, 2, 3))
    // the stub stand-in for such codecs is a pure function of the payload:
    // same bytes → same features/dims across calls (so downstream plans
    // stay reproducible until a real decoder lands at the seam)
    val withBin = Multimodal.withBinaryPayload(
      Seq((1L, "clip-a"), (2L, "clip-b")).toDF("id", "src"), "src", "video")
    val f1 = Multimodal.decodeStub(withBin).select($"id", $"features", $"width", $"height")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2), r.getLong(3)))
    val f2 = Multimodal.decodeStub(withBin).select($"id", $"features", $"width", $"height")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2), r.getLong(3)))
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall { case (_, feats, w, h) =>
      feats.length == 8 && feats.forall(v => v >= 0.0 && v <= 1.0) &&
        w >= 64 && w < 1088 && h >= 64 && h < 1088 })
    assert(f1(0)._2 != f1(1)._2) // distinct payloads → distinct features
  }

  test("decodeVideoFrames: truncated AVI salvages the intact frame prefix") {
    val whole = Multimodal.decodeVideoFrames(
      Seq(1L).toDF("id").withColumn("payload",
        Multimodal.syntheticMjpegAvi(lit(24), lit(16), lit(4), lit(60))), "payload")
    assert(whole.count() == 4)
    val bytes = Seq(1L).toDF("id").withColumn("payload",
        Multimodal.syntheticMjpegAvi(lit(24), lit(16), lit(4), lit(60)))
      .head().getAs[Array[Byte]]("payload")
    // cut mid-way through the FOURTH frame chunk: frames 0-2 stay intact
    var hits = 0; var pos = -1
    for (i <- 0 until bytes.length - 4 if pos < 0) {
      if (bytes(i) == '0' && bytes(i + 1) == '0' && bytes(i + 2) == 'd' && bytes(i + 3) == 'c') {
        hits += 1; if (hits == 4) pos = i
      }
    }
    val cut = java.util.Arrays.copyOf(bytes, pos + 12) // header + 4 payload bytes
    val out = Multimodal.decodeVideoFrames(
      Seq(1L).toDF("id").withColumn("payload", lit(cut)), "payload").collect()
    assert(out.map(_.getAs[Int]("frame_idx")).sorted.toSeq == Seq(0, 1, 2))
    assert(out.forall(r => r.isNullAt(r.fieldIndex("decode_error"))))
  }

  test("resolveClusters: integer-typed ids work on both hybrid paths") {
    val pairs = Seq((1, 2), (2, 3), (7, 9)).toDF("id_a", "id_b") // IntegerType
    for (thr <- Seq(4000000L, 0L)) {
      val out = Dedup.resolveClusters(pairs, localThreshold = thr)
      assert(out.schema("cluster").dataType ==
        org.apache.spark.sql.types.IntegerType, s"thr=$thr")
      val m = out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(m == Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 9 -> 7), s"thr=$thr")
    }
    // string ids: local path must decline, distributed path must answer
    val sPairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    val sOut = Dedup.resolveClusters(sPairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sOut == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("resolveClusters: the local-path probe is complete only below its bound") {
    // ordinary thresholds: the bound is threshold + 1
    assert(Dedup.localProbeLimit(10L) == 11)
    assert(Dedup.localProbeComplete(10, Dedup.localProbeLimit(10L)))
    assert(!Dedup.localProbeComplete(11, Dedup.localProbeLimit(10L)))
    // clamped thresholds: a collect that filled the bound was truncated,
    // even though its length is still within the threshold
    for (thr <- Seq(Int.MaxValue - 1L, Int.MaxValue.toLong, Long.MaxValue)) {
      val bound = Dedup.localProbeLimit(thr)
      assert(bound == Int.MaxValue - 1, s"thr=$thr")
      assert(!Dedup.localProbeComplete(bound, bound), s"thr=$thr")
      assert(Dedup.localProbeComplete(bound - 1, bound), s"thr=$thr")
    }
  }

  test("decodeVideoFrames: hostile deeply-nested LIST payload cannot kill the task") {
    // 5000 nested 12-byte LIST headers: without the walk's depth cap this
    // recursed to StackOverflowError (an Error, uncatchable per-row)
    val n = 5000
    val bb = java.nio.ByteBuffer.allocate(12 * n + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(12 * n + 4).put("AVI ".getBytes("US-ASCII"))
    for (i <- 0 until n)
      bb.put("LIST".getBytes("US-ASCII")).putInt(4 + 12 * (n - 1 - i))
        .put("hdrl".getBytes("US-ASCII"))
    val out = Multimodal.decodeVideoFrames(
      Seq(1L).toDF("id").withColumn("payload", lit(bb.array())), "payload").collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("decode_error") == "no frame chunks in movi list")
  }

  test("decodeAudio: truncated WAV salvages clamped frames; chunkless RIFF errors") {
    val whole = Multimodal.syntheticWav
    val df = Seq(1L).toDF("id")
      .withColumn("full", whole(lit(8000), lit(100), lit(5000)))
      .select($"id",
        // drop the last 20 bytes: data chunk declares 200 bytes, 180 remain
        expr("substring(full, 1, 224)").as("truncated"),
        // RIFF/WAVE magic but zero chunks
        expr("substring(full, 1, 12)").as("chunkless"))
    val tr = Multimodal.decodeAudio(df.select($"id", $"truncated".as("payload"))).head()
    assert(tr.getAs[Long]("audio_frames") == 90L) // 180 salvaged bytes / 2
    assert(tr.isNullAt(tr.fieldIndex("decode_error")))
    val ck = Multimodal.decodeAudio(df.select($"id", $"chunkless".as("payload"))).head()
    assert(ck.getAs[String]("decode_error") == "decode failed: missing fmt/data chunk")
  }

  test("decodeAudio: AIFF rides the AudioSystem fallback (big-endian PCM)") {
    // AIFF is not RIFF, so the fast path declines and the provider path
    // decodes it — pins the big-endian 16-bit branch too
    val bytes = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
      val pcm = new Array[Byte](120 * 2)
      for (i <- 0 until 120) {
        val v = if (i % 2 == 0) 9000 else -9000
        pcm(i * 2) = ((v >> 8) & 0xff).toByte; pcm(i * 2 + 1) = (v & 0xff).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 120L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
      bos.toByteArray
    }
    val out = Multimodal.decodeAudio(
      Seq(1L).toDF("id").withColumn("payload", lit(bytes)), "payload").head()
    assert(out.getAs[Int]("audio_sample_rate") == 8000)
    assert(out.getAs[Long]("audio_frames") == 120L)
    assert(math.abs(out.getAs[Double]("audio_mean_abs") - 9000.0 / 32768) < 1e-12)
    assert(out.isNullAt(out.fieldIndex("decode_error")))
  }

  test("audioEnvelopeHash: truncated AIFF (declared > delivered frames) is an error, not a hash") {
    // container declares 120 frames, payload is chopped 20 frames short:
    // without the truncation guard, envelope windows past the read
    // position stay 0/0 = NaN and silently emit 0-bits — a plausible hash
    // for a corrupt file that could near-dup-match good data
    val full = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
      val pcm = new Array[Byte](120 * 2)
      for (i <- 0 until 120) {
        val v = if (i % 2 == 0) 9000 else -9000
        pcm(i * 2) = ((v >> 8) & 0xff).toByte; pcm(i * 2 + 1) = (v & 0xff).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 120L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
      bos.toByteArray
    }
    val truncated = full.take(full.length - 40) // 20 frames short
    val out = Multimodal.audioEnvelopeHash(
      Seq(1L).toDF("id").withColumn("payload", lit(truncated)), "payload").head()
    assert(out.isNullAt(out.fieldIndex("audio_envhash")))
    assert(out.getAs[String]("decode_error") == "truncated audio stream: read 100 of 120 frames")
    // the untruncated control still hashes
    val ok = Multimodal.audioEnvelopeHash(
      Seq(1L).toDF("id").withColumn("payload", lit(full)), "payload").head()
    assert(!ok.isNullAt(ok.fieldIndex("audio_envhash")))
    assert(ok.isNullAt(ok.fieldIndex("decode_error")))
  }

  test("multimodal ops fail loudly when emitted column names already exist") {
    val df = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    // chaining two family ops both emitting decode_error must throw at
    // construction, not build a duplicate-field schema
    val decoded = Multimodal.decodeAudio(df)
    val e = intercept[IllegalArgumentException](Multimodal.audioEnvelopeHash(decoded))
    assert(e.getMessage.contains("decode_error"))
    val e2 = intercept[IllegalArgumentException](
      Multimodal.imagePerceptualHash(df.withColumn("img_ahash", lit(1L))))
    assert(e2.getMessage.contains("img_ahash"))
    val e3 = intercept[IllegalArgumentException](
      graft.ops.Curation.curateImages(df.withColumn("cluster", lit(1L)), "payload", "id"))
    assert(e3.getMessage.contains("cluster"))
  }

  test("decodeAudio: 8-bit unsigned stereo WAV normalizes per-channel samples") {
    // hand-built 8-bit unsigned stereo WAV via the JDK writer: left channel
    // pinned at 128+64 (+0.5 after normalization), right at 128-64 (-0.5) —
    // pins the unsigned-offset and channel-interleave handling
    val bytes = {
      val fmt = new javax.sound.sampled.AudioFormat(4000f, 8, 2, false, false)
      val pcm = Array.tabulate[Byte](200 * 2)(i =>
        (if (i % 2 == 0) 128 + 64 else 128 - 64).toByte)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 200L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val out = Multimodal.decodeAudio(
      Seq(1L).toDF("id").withColumn("payload", lit(bytes)), "payload").head()
    assert(out.getAs[Int]("audio_channels") == 2 && out.getAs[Int]("audio_bits") == 8)
    assert(out.getAs[Long]("audio_frames") == 200L)
    assert(math.abs(out.getAs[Double]("audio_mean_abs") - 0.5) < 1e-12)
    assert(math.abs(out.getAs[Double]("audio_rms") - 0.5) < 1e-12)
    assert(out.isNullAt(out.fieldIndex("decode_error")))
  }

  test("kmeansCentroids: Lloyd converges to group means; empty clusters die") {
    // two tight groups on orthogonal axes + two seeds, one per group, plus
    // a third seed pointing AWAY from every point (negative cosine with
    // the whole fixture) that must lose every member and die
    val pts = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.9, 0.1)), (2L, Array(1.0, 0.2)),
      (10L, Array(0.0, 1.0)), (11L, Array(0.1, 0.9)), (12L, Array(0.2, 1.0))
    ).toDF("id", "v")
    val init = Seq(
      (100L, Array(0.8, 0.05)), (200L, Array(0.05, 0.8)),
      (300L, Array(-1.0, -1.0))
    ).toDF("centroid_id", "centroid_vec")
    val out = Similarity.kmeansCentroids(pts, "v", "id", init, iters = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Double](1), r.getLong(2))).toMap
    // group A (x-axis) all land on one centroid, group B on the other
    assert(out.keySet.subsetOf(Set(100L, 200L, 300L)))
    val a = out.filterNot(_._2._2 == 0L)
    assert(a.values.map(_._2).sum == 6L)
    val (va, na) = out(100L); val (vb, nb) = out(200L)
    assert(na == 3L && nb == 3L && !out.contains(300L))
    // after round 1 both groups' members are stable, so round 2's mean is
    // exactly the group mean (rounded to 9 dp)
    assert(va == Seq(0.966666667, 0.1) && vb == Seq(0.1, 0.966666667))
  }
}
