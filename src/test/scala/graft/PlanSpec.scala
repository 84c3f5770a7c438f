package graft

import graft.catalog.Catalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB design checks (SURVEY §4): the
  * self-join elimination must remove the shuffle, filters must reach the
  * parquet scan, small dimension joins must broadcast.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Catalog.byName(name).run(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("j6: self-join is eliminated — no join operator in the plan") {
    val p = plan("j6_selfjoin_elimination")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("ShuffledHashJoin"), s"self-join not eliminated:\n$p")
  }

  test("p1: filter and projection are pushed into the parquet scan") {
    val p = plan("p1_scan_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag)"), p)
    // pruned read schema: only the referenced columns are scanned
    assert(!p.contains("l_shipdate"), "unreferenced column not pruned:\n" + p)
  }

  test("q3: dimension join uses broadcast, not shuffle, for customer side") {
    val p = plan("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("j1: parent-subject join exists and dedups before the join") {
    val p = plan("j1_refobject_join")
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), "parent dedup missing:\n" + p)
  }

  test("rml e2e: single-pass projection — one scan per TriplesMap source") {
    val p = plan("rml_e2e_customer_nation")
    // customer parquet appears in: plain-POM branch + join branch + (cached)
    // parent side; nation in: type branch + parent subjects. The key check:
    // the plain-POM union does NOT scan once per POM (3 POMs ≠ 3 scans).
    val customerScans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(customerScans <= 4, s"too many scans ($customerScans):\n$p")
  }

  test("rml-star cross-source quoting compiles to an equi-join, not a cartesian product") {
    val p = plan("rml_star_cross_source")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quoted-TM join degenerated to a cross product:\n$p")
    assert(p.contains("Join"), s"no join for the quoted parent frame:\n$p")
  }

  test("contamination check broadcasts the probe grams (corpus streams map-side)") {
    val p = plan("txt_contamination")
    assert(p.contains("BroadcastHashJoin"), s"probe side not broadcast:\n$p")
  }

  test("span contamination/excision broadcast the probe side, no cartesian") {
    val p = plan("txt_span_contamination")
    assert(p.contains("BroadcastHashJoin"), s"probe grams not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in span plan:\n$p")
    val e = plan("txt_excise_spans")
    assert(e.contains("BroadcastHashJoin"), s"span list not broadcast:\n$e")
    assert(!e.contains("CartesianProduct"), s"cartesian in excise plan:\n$e")
  }

  test("quality classifier and normalization are scan projections — no " +
      "keyed shuffle (r19: the classifier may carry ONE round-robin widen " +
      "exchange on a starved small-SF scan; it is a no-op at real scale)") {
    val p = plan("txt_quality_classifier")
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"classifier scoring must not shuffle by key:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin"),
      s"classifier scoring grew a wide op:\n$p")
    val n = plan("txt_normalize")
    assert(!n.contains("Exchange"), s"normalization must not shuffle:\n$n")
  }

  test("bloom prefilter: every join broadcasts — the corpus never shuffles") {
    val p = plan("dd_bloom_prefilter")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus side entered a shuffle join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"verify joins not broadcast:\n$p")
  }

  test("ivf assignment aggregates (partial max_by), no window sort over N×C") {
    // inspect ivfAssign itself: ivfTopK's returned plan is an eagerly
    // checkpointed RDD scan (the single materialization of the assignment)
    import org.apache.spark.sql.functions.{col, transform}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = graft.ops.Similarity.ivfAssign(emb, "v", "vec_id", 25)
    val p = a.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"), s"window in IVF assignment plan:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"no aggregate for centroid argmax:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"centroids not broadcast:\n$p")
    // the probe query's plan must NOT contain the assignment pipeline —
    // the checkpointed scan is the proof the N×C work materialized once
    val topk = graft.ops.Similarity.ivfTopK(emb, "v", "vec_id", 25,
      col("id") < 3, 5)
    val tp = topk.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(tp.contains("Scan ExistingRDD"),
      s"ivfTopK result not checkpointed (assignment would recompute per consumer):\n$tp")
  }

  test("ivf-pq: ADC scoring joins broadcast the LUT, result is checkpointed") {
    import org.apache.spark.sql.functions.{col, transform}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val topk = graft.ops.Similarity.ivfPqTopK(emb, "v", "vec_id", 25,
      col("id") < 3, 3, subspaces = 4, pqStride = 10)
    val p = topk.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // eagerly checkpointed: the assignment/codes pipeline ran exactly once
    assert(p.contains("Scan ExistingRDD"), s"ivfPqTopK not checkpointed:\n$p")
  }

  test("pagerank: iterations plan as joins + aggregates, no window, no cartesian") {
    val p = plan("kg_pagerank")
    assert(!p.contains("Window"), s"window in pagerank plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in pagerank plan:\n$p")
    assert(p.contains("HashAggregate"), s"no aggregate for rank inflow:\n$p")
  }

  test("whole-stage codegen covers the term-construction projection") {
    val df = Catalog.byName("t1_template_iri").run(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("*(1)"), s"no whole-stage codegen:\n$p")
  }

  test("wide mapping: quad array is struct-of-references, term work below the dedup") {
    // the SCALE.md §8 codegen-shape invariants: no higher-order filter()
    // around the POM array, and no escape/encode/null-lattice work inside
    // the SubjectRunDistinct's quad array expression — it all sits in the
    // projection below, where codegen splits methods and CSE applies
    val df = Catalog.byName("rml_wide_mapping").run(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    val quads = p.linesIterator.find(_.contains("SubjectRunDistinct")).getOrElse(
      fail(s"no SubjectRunDistinct in plan:\n$p"))
    assert(!quads.contains("ntescape("), s"escape ran inside the quad array:\n$quads")
    assert(!quads.contains("rmlencode("), s"encode ran inside the quad array:\n$quads")
    assert(!quads.contains("trim("), s"null-lattice guard inside the quad array:\n$quads")
    assert(!p.contains("ArrayFilter"), "higher-order filter() around the POM array")
  }

  test("wide mapping: one exchange of source rows by subject, one subject-run dedup") {
    // the subject-clustered dedup: the only shuffle is the source rows'
    // hash exchange on the subject term (it replaces the round-robin
    // rebalance); the rows are sorted on the materialized subject and
    // SubjectRunDistinct dedups each subject's quads, with no explode and
    // no hash aggregate
    val df = Catalog.byName("rml_wide_mapping").run(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.size == 1 && exchanges.head.contains("REPARTITION_BY_COL") &&
      exchanges.head.contains("hashpartitioning(concat(<, http://ex/li/"),
      s"expected one exchange on the subject term:\n$p")
    val sorts = p.linesIterator.filter(_.contains("Sort [")).toList
    assert(sorts.size == 1 && sorts.head.contains("Sort [__subj#"),
      s"expected one sort on the materialized subject:\n$p")
    assert(p.linesIterator.count(_.contains("SubjectRunDistinct")) == 1,
      s"expected one SubjectRunDistinct:\n$p")
    assert(!p.contains("HashAggregate"), s"hash aggregate left in:\n$p")
    assert(!p.contains("Generate"), s"explode left in:\n$p")
    assert(!p.contains("RoundRobinPartitioning"), s"round-robin rebalance left in:\n$p")
  }

  test("turtle over the wide mapping: the source exchange, one MapGroups, no window") {
    // the walk groups on the raw subject, which the clustered quads are
    // already hash-partitioned by: Spark adds a local sort, no exchange
    val quads = Catalog.byName("rml_wide_mapping").run(spark, sf)
    val p = graft.exec.Sinks.turtleBlocks(quads).queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.size == 1 && exchanges.head.contains("REPARTITION_BY_COL"),
      s"expected only the source exchange on the subject:\n$p")
    assert(p.linesIterator.count(_.contains("MapGroups")) == 1, s"expected one MapGroups:\n$p")
    assert(!p.contains("Window"), s"window left in:\n$p")
    assert(!p.contains("BroadcastExchange"), s"broadcast left in:\n$p")
  }

  test("turtle over an unclustered frame: exactly one hash exchange on s") {
    import spark.implicits._
    val quads = Seq(("<http://ex/a>", "<http://ex/p>", "\"x\""),
      ("<http://ex/b>", "<http://ex/p>", "\"y\"")).toDF("s", "p", "o")
    val p = graft.exec.Sinks.turtleBlocks(quads).queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.size == 1 && exchanges.head.contains("hashpartitioning(s#"),
      s"expected one hash exchange on s:\n$p")
  }

  test("asof/range join queries: no cartesian or nested-loop join at sf") {
    Seq("asof_join", "range_join_hourly").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop join:\n$p")
    }
  }

  test("pq codes: broadcast codebook + partial min_by aggregation, no window") {
    val p = plan("emb_pq_codes")
    // the codebook side is broadcast (bounded), never a shuffled cartesian
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
    assert(!p.contains("Window"), s"pq encode uses a window sort:\n$p")
    // min_by over a struct ordering key is sort-based, but the PARTIAL
    // aggregate still runs before the exchange — shuffle volume stays ~one
    // row per vector per partition, not N×C (the property that matters)
    val firstAgg = p.indexOf("Aggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0, p)
    assert(p.contains("SortAggregate") || p.contains("HashAggregate"), p)
  }

  test("char pairs: bounded TakeOrdered top-N, not a global sort") {
    val p = plan("txt_char_pairs")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
    assert(!p.contains("GlobalLimit"), s"global sort+limit instead of TakeOrdered:\n$p")
  }

  test("substring windows: hashes generated inside the scan stage, no join") {
    val p = plan("dd_substring_windows")
    // windows explode from a per-row array expression (Generate over the
    // scan) and aggregate by hash — no join, no window, one exchange
    assert(p.contains("Generate"), s"expected scan-side explode:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
    assert(!p.contains("Window"), s"no window expected:\n$p")
  }

  test("semantic dedup: per-cluster equi-join, no cartesian, no window") {
    val p = plan("dd_semantic_dedup")
    assert(!p.contains("CartesianProduct"), s"pairwise must stay inside clusters:\n$p")
    assert(!p.contains("Window"), s"assignment must be partial-agg, not window:\n$p")
  }

  test("multi-TM mapping: sibling TMs merge — one scan, no union") {
    // r18 supersedes the ReusedExchange assertion: the TM-merge rewrite
    // makes N sibling TMs over one source compile to ONE TriplesMap, so
    // the plan carries a single scan and no union at all (the stronger
    // property — reuse saved the scan, the merge saves the N-branch
    // construction too). OptimizationR18Spec pins the formatted-plan
    // scan count; this pins the absence of the union.
    val df = Catalog.byName("rml_multi_tm").run(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Union"), s"multi-TM still unions branches:\n${p.take(2000)}")
  }

  test("salted join: physical join keys carry the salt") {
    val p = plan("j10_salted_join")
    assert(p.contains("__salt"), s"salt missing from the physical plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("domain blocklist: broadcast anti-join — the corpus never shuffles") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), concat(lit("https://"), col("source"), lit(".com/x")).as("url"))
    val kept = graft.ops.TextAnalysis.filterBlockedDomains(docs, "url", Seq("src0.com"))
    val p = kept.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"blocklist join not a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"),
      s"corpus shuffled for a broadcast-sized blocklist:\n$p")
  }

  test("dedupCorpus: band join is an equi-join on (band, sig), no cartesian") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.ops.Dedup.dedupCorpus(docs, "text", "doc_id")
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation degenerated to a product join:\n$p")
  }

  test("phash near-dup: banded candidates are an equi-join, signatures not pixels shuffle") {
    val p = plan("mm_phash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"hamming banding degenerated to a product join:\n$p")
    // decode+hash is a narrow per-partition map feeding the exchange: the
    // shuffled rows carry the 8-byte signature, never the payload bytes.
    // Formatted explain lists one detail block per node — inspect only the
    // Exchange blocks' Input columns.
    assert(p.contains("MapPartitions"), s"perceptual hash not a mapPartitions stage:\n$p")
    val exchangeBlocks = p.split("\n\n").filter(_.matches("(?s)\\(\\d+\\) Exchange.*"))
    assert(exchangeBlocks.nonEmpty, s"no exchange in the plan at all?\n$p")
    exchangeBlocks.foreach(b =>
      assert(!b.contains("payload#"), s"payload bytes crossed an exchange:\n$b"))
  }

  test("phash corpus dedup: verdict join is equi, cluster map pre-materialized") {
    // the collapse → banding → CC stages run eagerly inside
    // hammingDedupCorpus (the cluster map is localCheckpoint'ed), so the
    // caller-visible plan is just corpus ⋈ cluster-map — pin that it is an
    // equi-join on sig against the materialized RDD, never a product
    val p = plan("mm_phash_cluster")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"corpus image dedup degenerated to a product join:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"cluster map not pre-materialized (whole pipeline would replay per action):\n$p")
  }

  test("candidate self-joins pin to shuffle even over a cached signature frame") {
    // The misplanning this guards (measured at 500 k uniform docs,
    // SCALE.md §17.2): a CACHED upstream gives accurate-small stats,
    // Catalyst's Generate stats don't model the explode fan-out
    // (×bands, then ×137 probe masks), both join sides estimate under
    // the broadcast threshold, and the statically-planned broadcast of
    // a side that is really corpus×ballSize dies at Spark's hard 8 GiB
    // cap. The merge hint must hold exactly in this cached condition.
    import spark.implicits._
    val sigs = (0L until 64L).map(i => (i, i * 2654435761L)).toDF("id", "sig")
      .persist()
    sigs.count() // materialize: stats now accurate AND small
    val docs = (0L until 64L).map(i => (i, s"text body number $i repeated"))
      .toDF("id", "text").persist()
    docs.count()
    try {
      // uncapped expanded hamming path: exactly one join — the candidate join
      val hp = graft.ops.Dedup.hammingPairs(sigs, "id", "sig", 64, 4, 8, None)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!hp.contains("BroadcastHashJoin"),
        s"hamming candidate join planned as broadcast:\n$hp")
      assert(hp.contains("SortMergeJoin"),
        s"hamming candidate join not pinned to sort-merge:\n$hp")
      // capped path adds the bucket-size join (bounded by the band key
      // space — broadcast there is fine); the candidate join stays pinned
      val hc = graft.ops.Dedup.hammingPairs(sigs, "id", "sig", 64, 4, 8, Some(16L))
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(hc.contains("SortMergeJoin"),
        s"capped hamming candidate join not pinned to sort-merge:\n$hc")
      // uncapped MinHash band path: exactly one join — the band self-join
      val mc = graft.ops.Dedup.minhashCandidates(docs, "text", "id", 12, 3, 8, None)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!mc.contains("BroadcastHashJoin"),
        s"minhash band self-join planned as broadcast:\n$mc")
      assert(mc.contains("SortMergeJoin"),
        s"minhash band self-join not pinned to sort-merge:\n$mc")
    } finally { sigs.unpersist(); docs.unpersist(); () }
  }

  test("hamming candidate join: a MEASURED small band side broadcasts, " +
      "a measured large one shuffle-pins") {
    // The strategy must come from the caller's materialized count, never
    // from Catalyst's (explode-blind) estimate: same frame, same plan
    // shape, opposite verdicts purely on the measured number.
    import spark.implicits._
    val sigs = (0L until 64L).map(i => (i, i * 2654435761L)).toDF("id", "sig")
    val small = graft.ops.Dedup.hammingPairs(sigs, "id", "sig", 64, 4, 8,
        None, knownDistinctSigs = Some(64L))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(small.contains("BroadcastHashJoin"),
      s"measured-small band side not broadcast:\n$small")
    val large = graft.ops.Dedup.hammingPairs(sigs, "id", "sig", 64, 4, 8,
        None, knownDistinctSigs = Some(10000000L))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!large.contains("BroadcastHashJoin"),
      s"measured-large band side planned as broadcast:\n$large")
    assert(large.contains("SortMergeJoin"),
      s"measured-large band side not shuffle-pinned:\n$large")
    // end-to-end: hammingDedupCorpus measures its persisted reps and picks
    // the broadcast branch for a small corpus — results identical either way
    val viaCorpus = graft.ops.Dedup.hammingDedupCorpus(sigs, "id", "sig", 64, 4, 8)
    val p = viaCorpus.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      s"corpus path with 64 measured reps did not broadcast the band side:\n$p")
    assert(viaCorpus.count() == 64L)
  }
}

/** Round-13 plan pins: the new Column ops' zero/one-exchange claims,
  * machine-checked instead of asserted in prose.
  */
class PlanSpecR13 extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Catalog.byName(name).run(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  private def exchanges(p: String): Int =
    "\\(\\d+\\) Exchange".r.findAllIn(p).size

  test("web_surt_key: canonicalize → SURT is ZERO exchanges — a " +
      "projection chain riding the scan (the higher-order fold in " +
      "normalizePath is interpreted, as §14.3 prices, but nothing " +
      "shuffles)") {
    val p = plan("web_surt_key")
    assert(exchanges(p) == 0, s"surt key plan shuffles:\n$p")
    assert(p.contains("codegen id"), s"scan side not codegen'd:\n$p")
  }

  test("mm_sniff_media: the media-type sniff is ZERO exchanges") {
    val p = plan("mm_sniff_media")
    assert(exchanges(p) == 0, s"sniff plan shuffles:\n$p")
    assert(p.contains("codegen id"), s"scan side not codegen'd:\n$p")
  }

  test("txt_bpe_tokens: the BPE count rides the scan — zero exchanges") {
    val p = plan("txt_bpe_tokens")
    assert(exchanges(p) == 0, s"bpe count plan shuffles:\n$p")
  }

  test("web_frontier_schedule: the per-host window is the plan's only " +
      "exchange class (host-keyed), plus the tiny rules-side aggregation " +
      "— the URL side never aggregates corpus-wide") {
    val p = plan("web_frontier_schedule")
    // rules collapse (host-keyed agg) + gate join + schedule window: all
    // exchanges hash on the host key; none is a corpus-wide global
    assert(!p.contains("Exchange SinglePartition"),
      s"a global single-partition exchange appeared:\n$p")
  }

  test("web_frontier_loop: the closed loop never goes corpus-wide — no " +
      "cartesian, no single-partition exchange; the visited-set check " +
      "and robots rules ride broadcasts, the schedule window is " +
      "host-keyed") {
    val p = plan("web_frontier_loop")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a product join appeared in the frontier loop:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"a global single-partition exchange appeared:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the visited/rules joins to broadcast:\n$p")
  }

  test("web_redirect_revisit: ONE doc-keyed exchange — the conditional " +
      "aggregation replaces the r13 shape's three self-joins (and their " +
      "three re-parses of the segment)") {
    val p = plan("web_redirect_revisit")
    assert(exchanges(p) == 1, s"expected exactly one exchange:\n$p")
    assert(!p.contains("Join"), s"a join survived the one-pass rewrite:\n$p")
  }

  test("txt_quality_eval: the exact-AUC global window runs over the " +
      "score HISTOGRAM, never the corpus — its single-partition exchange " +
      "is fed by an aggregate") {
    val p = plan("txt_quality_eval")
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 2, // the histogram window + the final 1-row agg
      s"unexpected single-partition exchanges ($singles):\n$p")
    assert(p.contains("Window"), s"no window in the AUC plan:\n$p")
    // the corpus collapses map-side first: partial+final aggregates exist
    assert("HashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
      s"histogram aggregation missing before the window:\n$p")
  }

  test("sft validate: exchange-free scan projection (pure HOF Columns)") {
    val p = plan("sft_validate")
    assert(!p.contains("Exchange"), s"sft_validate shuffles:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQL UDF"),
      s"unexpected UDF node:\n$p")
  }

  test("sft masked packing: one group exchange + windows, no join " +
      "beyond the layout join, no cartesian") {
    val p = plan("sft_pack_masked")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"cartesian in the pack plan:\n$p")
    assert(p.contains("Window"), s"no offset window:\n$p")
  }

  test("txt_lm_perplexity: gram-keyed equi-joins only — the LM never " +
      "cartesians and the vocab scalar broadcasts") {
    val p = plan("txt_lm_perplexity")
    // the 1-row vocab aggregate crossJoins via broadcast — a genuine
    // CartesianProduct would mean the scalar is being shuffled against
    // the corpus instead
    assert(!p.contains("CartesianProduct"), s"cartesian in LM plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"vocab scalar not broadcast:\n$p")
  }

  test("txt_lm_buckets: one ntile window partitioned by the group, " +
      "no cartesian beyond the broadcast vocab scalar") {
    val p = plan("txt_lm_buckets")
    assert(!p.contains("CartesianProduct"), s"cartesian in bucket plan:\n$p")
    assert(p.contains("Window"), s"no ntile window:\n$p")
  }

  test("media gate (kind-prefilter row): every payload-generating " +
      "projection sits ABOVE its kind pre-filter — the r15 6x " +
      "branch re-evaluation fix cannot silently regress") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val df = Catalog.byName("mm_media_gate_pipeline").run(spark, sf)
    val generators = df.queryExecution.optimizedPlan.collect {
      case p: Project if p.projectList.exists(
        _.exists(_.isInstanceOf[ScalaUDF])) => p
    }
    assert(generators.nonEmpty, "no payload-generating projection found")
    generators.foreach { p =>
      val hasKindFilter = p.child.collectFirst {
        case f: Filter if f.condition.sql.contains("% 6") => f
      }.isDefined
      assert(hasKindFilter,
        s"payload generator without a kind pre-filter below it:\n$p")
    }
  }

  test("media gate (persist-once row): payload generation lives inside " +
      "ONE cached relation; all five branches read the cache, none " +
      "re-generates") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = Catalog.byName("mm_media_gate_persist").run(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    // no generator UDF outside the cache: the top-level optimized plan
    // stops at InMemoryRelation leaves, so any ScalaUDF projection here
    // would be a branch re-generating payloads
    val outside = plan.collect {
      case p: Project if p.projectList.exists(
        _.exists(_.isInstanceOf[ScalaUDF])) => p
    }
    assert(outside.isEmpty,
      s"payload generator OUTSIDE the persisted frame:\n${outside.headOption}")
    val caches = plan.collect { case r: InMemoryRelation => r }
    assert(caches.size == 5,
      s"expected 5 branch reads of the cached frame, got ${caches.size}")
    // ...and they are all the SAME cache build (one materialization)
    assert(caches.map(_.cacheBuilder.cachedPlan).distinct.size == 1,
      "branches read different cache builds — frame not shared")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("census family: webm/hevc/audio/ivf census rows are single-stage " +
      "narrow maps (no Exchange, no join)") {
    for (q <- Seq("mm_webm_tracks", "mm_hevc_meta", "mm_audio_containers",
        "mm_ivf_meta", "mm_h264_slice_census")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      assert(!p.contains("Join"), s"$q joins:\n$p")
    }
  }

  test("emb_mean_pool (+ weighted): ONE key exchange under the " +
      "vector-buffer aggregator — the posexplode tall layout (superlinear " +
      "on the op's own decade leg, SCALE §22.26) must not come back, and " +
      "nothing explodes or joins") {
    for (q <- Seq("emb_mean_pool", "emb_mean_pool_weighted")) {
      val p = plan(q)
      // the catalog row's own posexplode (long-form output for the
      // compare) runs ABOVE the aggregate; the pin is that no Generate
      // sits BELOW the aggregation, i.e. pooling consumes whole vectors
      assert(p.contains("ObjectHashAggregate"), s"$q: no object-hash aggregate:\n$p")
      assert(exchanges(p) == 1, s"$q must shuffle exactly once:\n$p")
      assert(!p.contains("Join"), s"$q joins:\n$p")
      val gens = "\\(\\d+\\) Generate".r.findAllIn(p).size
      assert(gens == 1, s"$q: expected only the output-side posexplode:\n$p")
    }
  }
}
