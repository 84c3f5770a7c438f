package graft.exec

import graft.model._
import graft.sources.SourceReader
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Union}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Compiles a parsed [[MappingDoc]] into one DataFrame of quads
  * `(s, p, o, g)` — the whole-mapping plan the reference executes row-by-row
  * in `semantify_*` (reference: semantify.py:6246-8105), re-expressed as a
  * declarative Spark pipeline:
  *
  *   scan → [joins] → single-pass term projection (array+explode) →
  *   union across TriplesMaps → dedup → sink
  *
  * With dedup on and every TriplesMap single-pass (no joins, gathers or
  * array refs, a non-constant subject, a static source) the plan is
  * subject-clustered instead:
  *
  *   scan → subject term → ONE exchange of source rows by subject →
  *   terms → sort by subject → per-subject dedup of each row's quads
  *   ([[SubjectRunDistinct]], no explode) → sink
  *
  * Scale design decisions (100 TB target):
  *   - ONE scan per TriplesMap: all non-join predicate-object maps compile
  *     into a single `explode(filter(array(struct(s,p,o,g)…)))` projection,
  *     so a 15-POM mapping costs one pass, not 15 (the reference pays per-POM
  *     cost — BASELINE.md "mappings" axis).
  *   - RefObjectMap joins (SURVEY J1/J2) are equi-joins on the child/parent
  *     attrs; parent subject sets are deduplicated before the join and
  *     cached/reused across probes like the reference's `join_table`
  *     (reference: semantify.py:67-68, 6997-7004).
  *   - Self-join elimination (SURVEY J6; reference: semantify.py:1450-1623):
  *     same source + child==parent ⇒ the join is rewritten to an inline
  *     projection of the parent subject template — a narrow map, no shuffle.
  *   - Duplicate elimination (SURVEY D2): the reference's PTT hash tables
  *     — freed once they can no longer hit — become a set of ONE subject's
  *     keys. Equal quads have equal subjects, so when the source rows are
  *     hash-partitioned and sorted by subject, each subject's quads are
  *     deduplicated on their own and forgotten when the next subject
  *     starts ([[dedupQuads]]); otherwise it is a plain `dropDuplicates`.
  */
object MappingCompiler {

  /** Connection defaults for mappings whose logical sources name only a
    * table/query (the reference's `[datasetN] host/port/db/user/password` +
    * `[datasets] dbType` config keys, semantify.py:9970-9975,
    * functions.py:879-894).
    */
  final case class JdbcDefaults(url: String, user: String = "",
      password: String = "", dbType: String = "generic")

  final case class Options(
      removeDuplicates: Boolean = true,
      baseIri: Option[String] = None,
      /** Pre-built frames keyed by LogicalSource.id — lets a streaming
        * DataFrame (readStream) stand in for a TM's source while parent
        * sources stay static (stream-static joins, SURVEY §2.11).
        */
      sourceOverride: Map[String, DataFrame] = Map.empty,
      jdbc: Option[JdbcDefaults] = None)

  private val RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

  def compile(spark: SparkSession, doc: MappingDoc, opts: Options = Options()): DataFrame = {
    val all = compilePerTm(spark, doc, opts).map(_._2)
      .reduceLeftOption(_.unionByName(_))
      .getOrElse(emptyQuads(spark))
    if (opts.removeDuplicates) dedupQuads(spark, all, opts) else all
  }

  /** The global quad dedup (D2). The plan follows from how the quads were
    * compiled, not from a knob: when [[compilePerTm]] clustered every
    * TriplesMap, each TM's frame is already a [[SubjectRunDistinct]] over
    * its source rows sorted by subject (one exchange of source rows, no
    * quad exchange, one subject's keys in memory at a time). One such frame
    * is returned as it is; a union of them (several TMs) becomes ONE
    * [[SubjectRunDistinct]] over the union of their `(subject, quads)`
    * projections, so a quad two TMs both emit is kept once. Anything else
    * (joins, gathers, array refs, constant subjects, dedup-off callers
    * unioning frames) keeps the plain `dropDuplicates` shuffle.
    * Measured on the wide mapping (kg_wide_nt, 120 k rows × 11 POMs): the
    * clustered plan's shuffle write is 5 MB against the quad shuffle's
    * 36 MB, and peak managed memory is 69 MB against the partition-wide
    * hash aggregate's 283 MB (SCALE.md §26).
    * Hash routing ([[graft.ops.Dedup.dedupHashRouted]]) stays out: its
    * three lineage replays of the term pipeline cost 3× the exchange it
    * saves (sf10 wide mapping: 594 s routed vs ~200 s plain, SCALE.md
    * §15.5).
    */
  private[graft] def dedupQuads(spark: SparkSession, all: DataFrame,
      opts: Options): DataFrame = {
    def runs(plan: LogicalPlan): Option[Seq[SubjectRunDistinct]] = plan match {
      case Union(children, _, _) =>
        children.foldLeft(Option(Seq.empty[SubjectRunDistinct])) { (acc, c) =>
          for (a <- acc; r <- runs(c)) yield a ++ r
        }
      case Project(list, c) if list == c.output => runs(c)
      case p => SubjectRunDistinct.of(p).map(Seq(_))
    }
    val plan = all.queryExecution.analyzed
    if (SubjectRunDistinct.of(plan).isDefined) all
    else runs(plan) match {
      case Some(rs) if rs.nonEmpty => SubjectRunDistinct.union(spark, rs)
      case _ => all.dropDuplicates("s", "p", "o", "g")
    }
  }

  private[graft] def emptyQuads(spark: SparkSession): DataFrame =
    spark.emptyDataFrame
      .select(lit("").as("s"), lit("").as("p"), lit("").as("o"),
        lit(null).cast("string").as("g"))
      .limit(0)

  /** Per-TriplesMap quad frames (rewritten TMs) — callers that need routing
    * granularity (logical targets K3) use this; `compile` unions them.
    *
    * NOTE (ADVICE r18): the rewrite's TM-merge coalesces sibling TM ids —
    * merged siblings appear here as ONE entry keyed by the FIRST sibling's
    * id, carrying all merged POMs' quads. Logical-target routing itself is
    * unaffected (TMs with targets never merge), but a consumer keying
    * diagnostics or per-TM sinks on TM identity sees the coalesced id set,
    * not the authored one.
    */
  def compilePerTm(spark: SparkSession, doc: MappingDoc,
      opts: Options = Options()): Seq[(TriplesMap, DataFrame)] = {
    val rewritten = rewrite(doc)
    val parentSubjectCache = collection.mutable.Map.empty[String, DataFrame]
    // non-asserted TMs (RML-star) are compiled only as quoted parents
    val asserted = rewritten.triplesMaps.filter(_.asserted)
    // all or nothing: one unclusterable TM puts an unclustered branch in
    // the union, and the dedup falls back to dropDuplicates anyway
    val clustered = opts.removeDuplicates &&
      asserted.forall(clusterable(spark, _, rewritten, opts, parentSubjectCache))
    asserted.map(tm => tm -> compileTm(spark, tm, rewritten, opts, parentSubjectCache, clustered))
  }

  /** Can this TM's quads be clustered by subject before the explode? Every
    * quad must come from the single-pass branch (its `s` is the row's
    * subject term), the subject must vary (a constant subject would send
    * every row to one reducer) and the source must be static.
    */
  private def clusterable(spark: SparkSession, tm: TriplesMap, doc: MappingDoc,
      opts: Options, cache: collection.mutable.Map[String, DataFrame]): Boolean = {
    val kind = tm.subject.term.kind
    val byId = doc.triplesMaps.map(t => t.id -> t).toMap
    kind != TermKind.Constant && kind != TermKind.QuotedTriplesMap &&
      tm.poms.forall(p => p.objectMap.refObject.isEmpty && p.objectMap.gather.isEmpty &&
        !p.objectMap.term.exists(quotedNeedsJoin(tm, byId, _))) && {
        val df = sharedSource(spark, tm, opts, cache, rebalance = false)
        !df.isStreaming && !tm.poms.exists(_.objectMap.term.exists(t =>
          TermCompiler.referencedAttrs(t).exists(a => isArrayAttr(df, a))))
      }
  }

  /** A quoted OBJECT needs a join when it carries a joinCondition or its
    * parent reads a different source; otherwise it inlines over the row.
    */
  private def quotedNeedsJoin(tm: TriplesMap, byId: Map[String, TriplesMap], t: TermMap): Boolean =
    t.kind == TermKind.QuotedTriplesMap &&
      (t.quotedJoin.isDefined || byId.get(t.quotedTm.get).exists(_.source.id != tm.source.id))

  /** Mapping-level logical rewrites (SURVEY §4): POM dedup (D5) and
    * self-join elimination (J6).
    */
  def rewrite(doc: MappingDoc): MappingDoc = {
    val byId = doc.triplesMaps.map(tm => tm.id -> tm).toMap
    val tms = doc.triplesMaps.map { tm =>
      val poms = tm.poms.distinct.map { pom =>
        pom.objectMap.refObject match {
          case Some(RefObjectMap(parentId, Some(jc))) =>
            byId.get(parentId) match {
              case Some(parent)
                  if parent.source.id == tm.source.id &&
                    jc.effectiveChildMaps == jc.effectiveParentMaps &&
                    isInlinable(parent.subject.term) =>
                // J6: join on identical key over the identical source ⇒ the
                // parent subject can be computed from the child row directly.
                pom.copy(objectMap = ObjectMap(Some(parent.subject.term.copy(
                  termType = Some(parent.subject.term.termType.getOrElse(TermType.Iri))))))
              case _ => pom
            }
          case _ => pom
        }
      }
      tm.copy(poms = poms)
    }
    doc.copy(triplesMaps = mergeSiblingTms(tms))
  }

  /** TM-merge: sibling TriplesMaps over the SAME source with the SAME
    * subject map and base merge into one TM with concatenated POMs — one
    * scan + one term-construction stage instead of N. This is the
    * reference's worst benchmark axis ("15 TM × 1 POM", BASELINE.md
    * 362 s at 1 M rows): the N-branch union never hits ReusedExchange
    * because per-branch column pruning gives every scan a different
    * ReadSchema, so N TMs cost N scans, N rebalance exchanges and N
    * sorted round-robin passes of the same rows (measured: rml_multi_tm
    * carried 11 of each).
    *
    * Conservative by construction: only asserted TMs that no other TM
    * references (RefObjectMap parent / RML-star quoted), with no
    * rdf:type classes, no subject condition and no logical targets —
    * merging any of those could change emitted-duplicate multiplicity
    * (dedup-off mode), routing granularity (K3) or join resolution.
    * POMs concatenate WITHOUT cross-TM dedup so the no-dedup output
    * multiset is bit-identical to the unmerged union.
    */
  private def mergeSiblingTms(tms: List[TriplesMap]): List[TriplesMap] = {
    def quotedIds(t: TermMap): List[String] =
      t.quotedTm.toList
    val referenced: Set[String] = tms.flatMap { tm =>
      tm.poms.flatMap(p =>
        p.objectMap.refObject.map(_.parentTriplesMap).toList ++
          quotedIds(p.predicate) ++
          p.objectMap.term.toList.flatMap(quotedIds) ++
          p.objectMap.datatypeMap.toList.flatMap(quotedIds) ++
          p.objectMap.languageMap.toList.flatMap(quotedIds) ++
          p.objectMap.gather.toList.flatMap(_.items.flatMap(quotedIds)) ++
          p.graph.toList.flatMap(quotedIds)) ++
        quotedIds(tm.subject.term) ++
        tm.subject.graph.toList.flatMap(quotedIds)
    }.toSet
    def mergeable(tm: TriplesMap): Boolean =
      tm.asserted && !referenced.contains(tm.id) &&
        tm.subject.rdfClasses.isEmpty && tm.subject.condition.isEmpty &&
        tm.subject.targets.isEmpty
    val out = scala.collection.mutable.LinkedHashMap.empty[Any, TriplesMap]
    tms.foreach { tm =>
      val key: Any =
        if (mergeable(tm)) Left((tm.source, tm.subject, tm.baseIri))
        else Right(tm.id)
      out.get(key) match {
        case Some(acc) => out(key) = acc.copy(poms = acc.poms ++ tm.poms)
        case None => out += key -> tm
      }
    }
    out.values.toList
  }

  private def isInlinable(tm: TermMap): Boolean = tm.kind match {
    case TermKind.Template | TermKind.Reference | TermKind.Constant => true
    case _ => false
  }

  /** One source frame per LogicalSource per compile: every TM (and every
    * parent build side) over the same source shares the same DataFrame
    * object, so Catalyst's ReusedExchange collapses the N scans +
    * rebalance shuffles of an N-TM mapping into one (the reference's
    * "15 TM × 1 POM" worst axis re-reads the file per TM —
    * semantify.py:9908-10040 loops datasets serially).
    *
    * The rebalance inside: term construction multiplies every source row
    * by the POM count, so a source whose scan yields fewer splits than
    * the session has cores (one parquet row group, a single CSV, a small
    * JDBC cursor) would serialize the whole construction stage onto those
    * few tasks. Rebalance ONLY when under-parallelized — on a real
    * cluster the input supplies thousands of splits and this is a no-op;
    * an unconditional repartition would add a full shuffle of the source
    * at 100 TB. (Measured at sf0.1: the 600 k-row lineitem file is one
    * row group → a 3-task construction stage with 29 idle cores;
    * rebalancing is a ~10 MB shuffle for a 4× wall-clock win.)
    * A subject-clustered compile passes `rebalance = false`: its hash
    * exchange by subject spreads the rows instead, and a rebalance under
    * it would shuffle the source twice.
    */
  private def sharedSource(spark: SparkSession, tm: TriplesMap, opts: Options,
      cache: collection.mutable.Map[String, DataFrame],
      useOverride: Boolean = true, rebalance: Boolean = true): DataFrame = {
    // RefObjectMap parent builds pass useOverride=false: a streaming
    // override stands in for the CHILD side only — parents stay static
    // (the stream-static join contract of materializeStream)
    val overridden =
      if (useOverride) opts.sourceOverride.get(tm.source.id) else None
    overridden.getOrElse {
      // keyed by the EFFECTIVE source id: per-TM source rewrites (JDBC
      // column-pruned SELECT DISTINCT, XML parent-axis scans, per-TM
      // SPARQL queries) produce different frames under one declared
      // source, and must not share. Plain file sources keep one id →
      // one scan for an N-TM mapping. Newline prefix cannot collide
      // with parent-frame cache keys (TM ids never contain one).
      val eff = effectiveSource(tm, opts)
      val d = cache.getOrElseUpdate("\nraw|" + eff.id,
        SourceReader.read(spark, eff))
      if (d.isStreaming || !rebalance) d
      else cache.getOrElseUpdate("\nsrc|" + eff.id, {
        val target = spark.sparkContext.defaultParallelism
        if (d.rdd.getNumPartitions * 2 < target) d.repartition(target) else d
      })
    }
  }

  private def compileTm(spark: SparkSession, tm: TriplesMap, doc: MappingDoc,
      opts: Options, parentCache: collection.mutable.Map[String, DataFrame],
      clustered: Boolean): DataFrame = {

    val df = sharedSource(spark, tm, opts, parentCache, rebalance = !clustered)
    val colFn: String => Column = a => resolveAttr(df, a)
    val base = opts.baseIri.orElse(tm.baseIri)

    // RML-star quoted subject (reference: semantify.py:6513-6530): same
    // source + no joinCondition ⇒ same-row evaluation (one subject variant
    // per parent plain POM — the whole TM is emitted once per variant);
    // joinCondition or a different source ⇒ the child frame is joined to
    // the parent's pre-computed quoted-triple frame (reference:
    // inner_hash_maker "quoted_"+TM+child, inner_functions.py:119-137)
    val (dfBase, subjVariants): (DataFrame, Seq[TermCompiler.CompiledTerm]) =
      tm.subject.term.kind match {
        case TermKind.QuotedTriplesMap =>
          val parentId = tm.subject.term.quotedTm.get
          val parentTm = doc.triplesMaps.find(_.id == parentId)
            .getOrElse(throw new IllegalArgumentException(s"unknown quoted TriplesMap: $parentId"))
          val jc = tm.subject.term.quotedJoin
          if (jc.isDefined || parentTm.source.id != tm.source.id) {
            val pf = quotedParentFrame(spark, parentTm, doc, opts, jc, base, parentCache)
            val joined = jc match {
              case Some(j) =>
                val childLex = j.effectiveChildMaps.map(t =>
                  TermCompiler.lexical(t, colFn, encode = false))
                val cond = childLex.zipWithIndex.map { case (l, i) =>
                  l.column.cast("string") === pf(s"__k$i")
                }.reduce(_ && _)
                df.where(childLex.map(_.guard).reduce(_ && _)).join(pf, cond, "inner")
              case None => df.crossJoin(pf)
            }
            (joined, Seq(TermCompiler.CompiledTerm(pf("__quoted"), lit(true))))
          } else (df, quotedTerms(parentId, doc, base, colFn))
        case _ =>
          (df, Seq(TermCompiler.rdfTerm(tm.subject.term, None, base, colFn, TermType.Iri)))
      }

    subjVariants.map { subj0 =>
      // P5: rml:condition on the subject map gates every row of this TM
      // (reference: semantify.py:6383-6407 — condition false → no triples)
      val subj = tm.subject.condition match {
        case Some(cond) =>
          // Python truthiness of the condition result (`if not condition` —
          // reference: semantify.py:6406)
          val ok = graft.functions.FnoRegistry.compileTruthy(cond, colFn)
          subj0.copy(guard = subj0.guard && ok)
        case None => subj0
      }
      compileTmBody(spark, tm, doc, opts, parentCache, dfBase, subj, colFn, base, clustered)
    }.reduceLeft(_.unionByName(_))
  }

  /** Everything downstream of the subject term: class triples, plain POMs,
    * join/gather/array branches — one invocation per subject variant.
    * `cluster`: the TM is single-pass only ([[clusterable]]) — hash-
    * partition its source rows by the subject term before the explode.
    */
  private def compileTmBody(spark: SparkSession, tm: TriplesMap, doc: MappingDoc,
      opts: Options, parentCache: collection.mutable.Map[String, DataFrame],
      df: DataFrame, subj: TermCompiler.CompiledTerm,
      colFn: String => Column, base: Option[String], cluster: Boolean): DataFrame = {
    val byId = doc.triplesMaps.map(t => t.id -> t).toMap
    val subjGraph: Column = tm.subject.graph
      .map(gm => TermCompiler.rdfTerm(gm, None, base, colFn, TermType.Iri).column)
      .getOrElse(lit(null).cast("string"))

    // --- branch 1: single-pass projection for class triples + plain POMs.
    // The subject term, its guard, and the subject graph are materialized
    // ONCE in a projection below the explode (the D4 subject-cache
    // equivalent — reference: semantify.py:6304-6322): inside the Generate
    // they would be re-evaluated per POM struct (encode+concat × #POMs per
    // row), where codegen subexpression elimination cannot reach.
    // the graph term is only routed through the projection when a graph map
    // exists: the default null graph must stay an INLINE literal — passing
    // it through a materialized column makes codegen copy the field into
    // every POM struct instead of constant-folding it, measured +115% on
    // the 11-POM wide mapping at sf0.1
    val hasGraph = tm.subject.graph.isDefined
    val preCols = Seq(subj.column.as("__subj"), subj.guard.as("__subjok")) ++
      (if (hasGraph) Seq(subjGraph.as("__sg")) else Nil)
    // clustered: every quad of this TM is gated by the subject guard, so
    // rows that fail it are dropped before the exchange, which partitions
    // by the subject EXPRESSION — the subject string is not shipped; the
    // projection above recomputes it and keeps the partitioning under its
    // `__subj` alias. A nondeterministic subject (uuid blank nodes) cannot
    // be a partitioning expression: it is materialized and shipped. No
    // explicit width: AQE sizes the exchange (ShuffleScaling sets its
    // initial width)
    def withPre(d: DataFrame): DataFrame = d.select(col("*") +: preCols: _*)
    val pre =
      if (!cluster) withPre(df)
      else if (df.select(subj.column).queryExecution.analyzed.expressions.forall(_.deterministic))
        withPre(df.where(subj.guard).repartition(subj.column))
      else withPre(df).where(col("__subjok")).repartition(col("__subj"))
    val subjP = TermCompiler.CompiledTerm(pre("__subj"), pre("__subjok"))
    val sgP = if (hasGraph) pre("__sg") else lit(null).cast("string")
    val colFnP: String => Column = a => resolveAttr(pre, a)
    val classSpecs: Seq[QuadSpec] = tm.subject.rdfClasses.map { cls =>
      QuadSpec(subjP.guard, lit(RDF_TYPE), lit(s"<$cls>"), sgP,
        guardInline = true, pInline = true, oInline = true, gInline = true)
    }
    val (arrayPoms, plainPoms) = tm.poms
      .filter(p => p.objectMap.refObject.isEmpty && p.objectMap.gather.isEmpty &&
        !p.objectMap.term.exists(quotedNeedsJoin(tm, byId, _)))
      .partition(p => p.objectMap.term.exists(t =>
        TermCompiler.referencedAttrs(t).exists(a => isArrayAttr(df, a))))
    val plainSpecs: Seq[QuadSpec] = plainPoms.flatMap { pom =>
      pom.objectMap.term match {
        case Some(t) if t.kind == TermKind.QuotedTriplesMap =>
          // RML-star quoted object, same source (J7) — one quad per parent
          // plain POM (multi-POM quoted TMs emit all their branches)
          val pred = TermCompiler.rdfTerm(pom.predicate, None, base, colFnP, TermType.Iri)
          val pConst = pom.predicate.kind == TermKind.Constant
          quotedTerms(t.quotedTm.get, doc, base, colFnP).map(q =>
            QuadSpec(subjP.guard && pred.guard && q.guard, pred.column, q.column, sgP,
              guardInline = false, pInline = pConst, oInline = false, gInline = true))
        case _ => compilePlainPom(pom, subjP, sgP, base, colFnP)
      }
    }

    val specs = classSpecs ++ plainSpecs
    val singlePass: Option[DataFrame] =
      if (specs.isEmpty) None
      else Some {
        // Two codegen-shape rules, each worth integer factors on a wide
        // (many-POM) mapping at sf0.1:
        // 1. every non-constant quad component is materialized ONCE in the
        //    projection BELOW the explode, so the Generate's generator is
        //    struct-of-references. Inlining term construction in the
        //    generator re-evaluates it per POM struct and grows the single
        //    generated method past JIT limits — measured 3-4× slower.
        //    Project codegen splits cleanly into submethods; a Generate's
        //    generator expression does not.
        // 2. null branches are dropped AFTER the explode with a plain
        //    Filter: a higher-order `filter(array(...), lambda)` knocks the
        //    projection out of whole-stage codegen — measured 2.2× slower.
        // the *Inline flags come from term STRUCTURE (constant term maps,
        // bare column refs, the shared subject/graph columns): Column-level
        // introspection is unreliable on unresolved trees, and the flags
        // must be exact — materializing a constant leaves a dead alias the
        // optimizer cannot prune through the Generate, while inlining a
        // computed term re-evaluates it per POM struct
        val extra = scala.collection.mutable.ArrayBuffer.empty[Column]
        def mat(name: String, c: Column, inline: Boolean): Column =
          if (inline) c else { extra += c.as(name); col(name) }
        val structs = specs.zipWithIndex.map { case (sp, i) =>
          when(mat(s"__qok$i", sp.guard, sp.guardInline),
            struct(mat(s"__qp$i", sp.p, sp.pInline).as("p"),
              mat(s"__qo$i", sp.o, sp.oInline).as("o"), mat(s"__qg$i", sp.g, sp.gInline).as("g")))
            .otherwise(lit(null))
        }
        val pre2 = if (extra.isEmpty) pre else pre.select(col("*") +: extra.toSeq: _*)
        // 3. clustered: no explode — the quad array feeds SubjectRunDistinct,
        //    whose child carries `__subj` and the materialized components
        //    only, so Spark's sort under it (on the materialized `__subj`,
        //    not the subject expression) buffers term columns, not quads
        if (cluster) SubjectRunDistinct(spark, pre2, col("__subj"), array(structs: _*))
        else pre2.select(col("__subj"), explode(array(structs: _*)).as("q"))
          .where(col("q").isNotNull)
          .select(col("__subj").as("s"), col("q.p").as("p"), col("q.o").as("o"), col("q.g").as("g"))
      }

    // --- branch 2: one joined branch per RefObjectMap POM ---
    val joinBranches: Seq[DataFrame] = tm.poms
      .filter(_.objectMap.refObject.isDefined)
      .map(pom => compileJoinPom(spark, tm, pom, df, subj, subjGraph, base, doc, opts, parentCache))

    // --- branch 3: gather maps (RML-CC containers/collections, A1-A3) ---
    val gatherBranches: Seq[DataFrame] = tm.poms
      .filter(_.objectMap.gather.isDefined)
      .map(pom => compileGatherPom(pom, df, subj, subjGraph, base, colFn))

    // --- branch 2b: quoted objects over a DIFFERENT source / with a
    // joinCondition — child rows join the parent's quoted-triple frame
    // (reference: inner_hash_maker, inner_functions.py:119-137;
    // hash lookup semantify.py:7566-7567)
    val quotedJoinBranches: Seq[DataFrame] = tm.poms
      .filter(p => p.objectMap.term.exists(quotedNeedsJoin(tm, byId, _)))
      .map { pom =>
        val t = pom.objectMap.term.get
        val parentTm = byId.getOrElse(t.quotedTm.get,
          throw new IllegalArgumentException(s"unknown quoted TriplesMap: ${t.quotedTm.get}"))
        val pf = quotedParentFrame(spark, parentTm, doc, opts, t.quotedJoin, base, parentCache)
        val pred = TermCompiler.rdfTerm(pom.predicate, None, base, colFn, TermType.Iri)
        val graph = pom.graph
          .map(gm => TermCompiler.rdfTerm(gm, None, base, colFn, TermType.Iri).column)
          .getOrElse(subjGraph)
        t.quotedJoin match {
          case Some(j) =>
            val childLex = j.effectiveChildMaps.map(cm =>
              TermCompiler.lexical(cm, colFn, encode = false))
            val cond = childLex.zipWithIndex.map { case (l, i) =>
              l.column.cast("string") === pf(s"__k$i")
            }.reduce(_ && _)
            df.where(subj.guard && pred.guard && childLex.map(_.guard).reduce(_ && _))
              .join(pf, cond, "inner")
              .select(subj.column.as("s"), pred.column.as("p"),
                pf("__quoted").as("o"), graph.as("g"))
          case None =>
            // no join keys: every child row pairs with every parent quoted
            // triple (cross product — mirrors the RefObjectMap rule)
            df.where(subj.guard && pred.guard).crossJoin(pf)
              .select(subj.column.as("s"), pred.column.as("p"),
                pf("__quoted").as("o"), graph.as("g"))
        }
      }

    // --- branch 4: multi-valued (array) references → one triple per element
    //     (SURVEY T2; reference: semantify.py:4952-4960) ---
    val arrayBranches: Seq[DataFrame] = arrayPoms.map { pom =>
      val arrAttrs = TermCompiler.referencedAttrs(pom.objectMap.term.get)
        .filter(a => isArrayAttr(df, a))
      // explode each array ref (cartesian if several — the reference emits
      // the cross product of multi-valued refs in one template)
      val exploded = arrAttrs.zipWithIndex.foldLeft(df) { case (d, (a, i)) =>
        d.withColumn(s"__elem$i", explode(resolveAttr(d, a)))
      }
      val elemFor = arrAttrs.zipWithIndex.toMap
      val colFn2: String => Column =
        a => elemFor.get(a).map(i => exploded(s"__elem$i")).getOrElse(resolveAttr(exploded, a))
      val subj2 = TermCompiler.rdfTerm(tm.subject.term, None, base, colFn2, TermType.Iri)
      val pred2 = TermCompiler.rdfTerm(pom.predicate, None, base, colFn2, TermType.Iri)
      val obj2 = TermCompiler.rdfTerm(pom.objectMap.term.get, Some(pom.objectMap), base, colFn2, TermType.Literal)
      val graph2 = pom.graph
        .map(gm => TermCompiler.rdfTerm(gm, None, base, colFn2, TermType.Iri).column)
        .getOrElse(tm.subject.graph
          .map(gm => TermCompiler.rdfTerm(gm, None, base, colFn2, TermType.Iri).column)
          .getOrElse(lit(null).cast("string")))
      exploded.where(subj2.guard && pred2.guard && obj2.guard)
        .select(subj2.column.as("s"), pred2.column.as("p"), obj2.column.as("o"), graph2.as("g"))
    }

    (singlePass.toSeq ++ joinBranches ++ quotedJoinBranches ++ gatherBranches ++ arrayBranches)
      .reduceLeftOption(_.unionByName(_))
      .getOrElse(emptyQuads(spark))
  }

  /** One candidate quad of the single-pass projection, pre-assembly: the
    * components stay separate Columns plus structural inline-vs-materialize
    * flags, so the compiler can materialize exactly the non-constant ones
    * below the explode (see the codegen-shape rules at the singlePass
    * construction). The subject is not a component: every single-pass quad
    * takes the shared `__subj` column, passed through the Generate.
    */
  private final case class QuadSpec(guard: Column, p: Column, o: Column, g: Column,
      guardInline: Boolean, pInline: Boolean, oInline: Boolean, gInline: Boolean)

  private def compilePlainPom(pom: PredicateObjectMap, subj: TermCompiler.CompiledTerm,
      subjGraph: Column, base: Option[String], colFn: String => Column): Seq[QuadSpec] = {
    val pred = TermCompiler.rdfTerm(pom.predicate, None, base, colFn, TermType.Iri)
    val om = pom.objectMap
    val obj = TermCompiler.rdfTerm(om.term.get, Some(om), base, colFn, TermType.Literal)
    val graph = pom.graph
      .map(gm => TermCompiler.rdfTerm(gm, None, base, colFn, TermType.Iri).column)
      .getOrElse(subjGraph)
    Seq(QuadSpec(subj.guard && pred.guard && obj.guard, pred.column, obj.column, graph,
      guardInline = false,
      pInline = pom.predicate.kind == TermKind.Constant,
      oInline = om.term.get.kind == TermKind.Constant,
      // subjGraph is a bare column ref or inline null; only a POM-level
      // non-constant graph term needs materialization
      gInline = pom.graph.forall(_.kind == TermKind.Constant)))
  }

  /** RefObjectMap: child rows joined to the parent TM's deduplicated
    * (joinKeys → subject) set (SURVEY J1/J2).
    */
  private def compileJoinPom(spark: SparkSession, tm: TriplesMap, pom: PredicateObjectMap,
      childDf: DataFrame, subj: TermCompiler.CompiledTerm, subjGraph: Column,
      base: Option[String], doc: MappingDoc, opts: Options,
      parentCache: collection.mutable.Map[String, DataFrame]): DataFrame = {

    val rom = pom.objectMap.refObject.get
    val parentTm = doc.triplesMaps.find(_.id == rom.parentTriplesMap)
      .getOrElse(throw new IllegalArgumentException(s"unknown parent TriplesMap: ${rom.parentTriplesMap}"))

    // resolveAttr, not bare childDf(a): a predicate/graph template over an
    // XML attribute (`@code`) or nested/inline-condition ref must resolve
    // the same way it does in every other branch
    val colFn: String => Column = a => resolveAttr(childDf, a)
    val pred = TermCompiler.rdfTerm(pom.predicate, None, base, colFn, TermType.Iri)
    val graph = pom.graph
      .map(gm => TermCompiler.rdfTerm(gm, None, base, colFn, TermType.Iri).column)
      .getOrElse(subjGraph)

    rom.joinCondition match {
      case Some(jc) =>
        // the effective base IRI is part of the key: `base` comes from the
        // child TM being compiled, and a second child with a different base
        // must not reuse a frame whose subjects were resolved against the
        // first child's base
        val cacheKey = parentTm.id + "|" + jc.effectiveParentMaps.mkString(",") +
          "|" + parentTm.baseIri.orElse(base).getOrElse("")
        val parentSubjects = parentCache.getOrElseUpdate(cacheKey, {
          val pdf = sharedSource(spark, parentTm, opts, parentCache, useOverride = false)
          val pColFn: String => Column = a => resolveAttr(pdf, a)
          val pSubj = TermCompiler.rdfTerm(parentTm.subject.term, None,
            parentTm.baseIri.orElse(base), pColFn, TermType.Iri)
          // parent keys may be references, templates, constants, or FnO
          // functions (J2 general form; reference: semantify.py:2388-2409)
          val keyCols = jc.effectiveParentMaps.zipWithIndex.map { case (t, i) =>
            TermCompiler.lexical(t, pColFn, encode = false).column.cast("string").as(s"__k$i")
          }
          // dedup before the join: the reference's hash table stores a SET of
          // parent subjects per key (reference: hash_maker semantify.py:523-930)
          pdf.where(pSubj.guard)
            .select(keyCols :+ pSubj.column.as("__parent_subject"): _*)
            .dropDuplicates()
        })

        val childLex = jc.effectiveChildMaps.map(t =>
          TermCompiler.lexical(t, a => resolveAttr(childDf, a), encode = false))
        val joinCond = childLex.zipWithIndex.map { case (l, i) =>
          l.column.cast("string") === parentSubjects(s"__k$i")
        }.reduce(_ && _)
        val childGuard = childLex.map(_.guard).reduce(_ && _)

        childDf.where(subj.guard && pred.guard && childGuard)
          .join(parentSubjects, joinCond, "inner")
          .select(subj.column.as("s"), pred.column.as("p"),
            parentSubjects("__parent_subject").as("o"), graph.as("g"))

      case None =>
        // no joinCondition + same source ⇒ same-row semantics; different
        // source ⇒ cross product of child rows with parent subjects
        if (parentTm.source.id == tm.source.id) {
          val pSubj = TermCompiler.rdfTerm(parentTm.subject.term, None,
            parentTm.baseIri.orElse(base), colFn, TermType.Iri)
          childDf.where(subj.guard && pred.guard && pSubj.guard)
            .select(subj.column.as("s"), pred.column.as("p"), pSubj.column.as("o"), graph.as("g"))
        } else {
          val pdf = sharedSource(spark, parentTm, opts, parentCache, useOverride = false)
          val pColFn: String => Column = a => resolveAttr(pdf, a)
          val pSubj = TermCompiler.rdfTerm(parentTm.subject.term, None,
            parentTm.baseIri.orElse(base), pColFn, TermType.Iri)
          val parents = pdf.where(pSubj.guard).select(pSubj.column.as("__parent_subject")).dropDuplicates()
          childDf.where(subj.guard && pred.guard)
            .crossJoin(parents)
            .select(subj.column.as("s"), pred.column.as("p"), col("__parent_subject").as("o"), graph.as("g"))
        }
    }
  }

  /** RML-star: build `<< s p o >>` quoted-triple terms of a (possibly
    * non-asserted) parent TM evaluated over the SAME row (reference:
    * inner_semantify_file, inner_functions.py:16-679) — one term per parent
    * plain POM (nested quoted objects/subjects recurse same-row; a nested
    * quoted subject uses its first variant).
    */
  private def quotedTerms(parentId: String, doc: MappingDoc, base: Option[String],
      colFn: String => Column): Seq[TermCompiler.CompiledTerm] = {
    val parent = doc.triplesMaps.find(_.id == parentId)
      .getOrElse(throw new IllegalArgumentException(s"unknown quoted TriplesMap: $parentId"))
    // a nested quoted SUBJECT contributes one variant per inner branch,
    // crossed with this TM's own POM branches (all combinations emitted)
    val pSubjs: Seq[TermCompiler.CompiledTerm] = parent.subject.term.kind match {
      case TermKind.QuotedTriplesMap =>
        quotedTerms(parent.subject.term.quotedTm.get, doc, base, colFn)
      case _ => Seq(TermCompiler.rdfTerm(parent.subject.term, None,
        parent.baseIri.orElse(base), colFn, TermType.Iri))
    }
    val poms = parent.poms.filter(_.objectMap.term.isDefined)
    if (poms.isEmpty)
      throw new IllegalArgumentException(s"quoted TM $parentId has no plain POM")
    // the quoted TM's own rml:baseIRI governs ITS predicate/object terms,
    // exactly as it does its subject — only absent that does the child's
    // base apply (nested quoted TMs resolve their own base one level down)
    val pBase = parent.baseIri.orElse(base)
    for {
      pSubj <- pSubjs
      pom <- poms
      pPred = TermCompiler.rdfTerm(pom.predicate, None, pBase, colFn, TermType.Iri)
      pObj <- pom.objectMap.term.get.kind match {
        case TermKind.QuotedTriplesMap =>
          quotedTerms(pom.objectMap.term.get.quotedTm.get, doc, base, colFn)
        case _ =>
          Seq(TermCompiler.rdfTerm(pom.objectMap.term.get, Some(pom.objectMap), pBase, colFn, TermType.Literal))
      }
    } yield TermCompiler.CompiledTerm(
      graft.functions.rml.quoted(pSubj.column, pPred.column, pObj.column),
      pSubj.guard && pPred.guard && pObj.guard)
  }

  /** The quoted parent's pre-computed quoted-triple frame for cross-source /
    * joined quoting: one row per (parent row × plain POM), columns
    * `__k0..__kn` (the joinCondition's parent keys) + `__quoted`,
    * deduplicated like parent-subject sets (reference: inner_hash_maker
    * stores quoted triples keyed by the join child value,
    * inner_functions.py:119-137). Cached per (parent, keys) so several POMs
    * quoting the same TM share one frame.
    */
  private def quotedParentFrame(spark: SparkSession, parentTm: TriplesMap,
      doc: MappingDoc, opts: Options, jc: Option[JoinCondition], base: Option[String],
      parentCache: collection.mutable.Map[String, DataFrame]): DataFrame = {
    // effective base IRI in the key for the same reason as compileJoinPom's
    // parent-subject cache: frames built under one child's base must not be
    // reused by a child with a different base
    val cacheKey = "quoted|" + parentTm.id + "|" +
      jc.map(_.effectiveParentMaps.mkString(",")).getOrElse("") +
      "|" + parentTm.baseIri.orElse(base).getOrElse("")
    parentCache.getOrElseUpdate(cacheKey, {
      val pdf = sharedSource(spark, parentTm, opts, parentCache)
      val pColFn: String => Column = a => resolveAttr(pdf, a)
      val terms = quotedTerms(parentTm.id, doc, parentTm.baseIri.orElse(base), pColFn)
      val keyCols = jc.toList.flatMap(_.effectiveParentMaps.zipWithIndex.map { case (t, i) =>
        TermCompiler.lexical(t, pColFn, encode = false).column.cast("string").as(s"__k$i")
      })
      terms.map(t => pdf.where(t.guard).select(keyCols :+ t.column.as("__quoted"): _*))
        .reduceLeft(_.unionByName(_))
        .dropDuplicates()
    })
  }

  /** RML-CC gather maps: collect the item term maps' values per row into an
    * rdf:List (first/rest/nil chain) or Bag/Seq/Alt membership container
    * (reference: gather_triples_generation cc_functions.py:217-535).
    * Blank-node cell labels are deterministic — md5(subject‖predicate‖pos) —
    * replacing the reference's uuid4 labels (SURVEY §7 "what's hard" #2) so
    * results are reproducible and testable.
    */
  private def compileGatherPom(pom: PredicateObjectMap, df: DataFrame,
      subj: TermCompiler.CompiledTerm, subjGraph: Column, base: Option[String],
      colFn: String => Column): DataFrame = {
    val gm = pom.objectMap.gather.get
    if (gm.strategy == "cartesian" && gm.gatherAs == GatherAs.RdfList && gm.items.size == 2)
      return compileCartesianGather(pom, df, subj, subjGraph, base, colFn)
    val pred = TermCompiler.rdfTerm(pom.predicate, None, base, colFn, TermType.Iri)
    val items = gm.items.map { it =>
      val ct = TermCompiler.rdfTerm(it, Some(pom.objectMap), base, colFn, TermType.Literal)
      when(ct.guard, ct.column).otherwise(lit(null))
    }
    val values = filter(array(items: _*), x => x.isNotNull)
    val keyBase = concat(subj.column, lit("|"), pred.column)
    def cell(pos: Column): Column =
      concat(lit("_:"), md5(concat(keyBase, lit("|"), pos.cast("string")).cast("binary")))
    val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

    val rows = df.where(subj.guard && pred.guard)
      .select(subj.column.as("__s"), pred.column.as("__p"), subjGraph.as("g"),
        values.as("__vals"), cell(lit(0)).as("__head"), keyBase.as("__key"))
      .persist()

    gm.gatherAs match {
      case GatherAs.RdfList =>
        val headTriple = rows.select(col("__s").as("s"), col("__p").as("p"),
          when(size(col("__vals")) > 0, col("__head"))
            .otherwise(if (gm.allowEmpty) lit(s"<${RDF}nil>") else lit(null)).as("o"), col("g"))
          .where(col("o").isNotNull)
        val cells = rows.where(size(col("__vals")) > 0)
          .select(col("__key"), col("g"), size(col("__vals")).as("__n"),
            posexplode(col("__vals")).as(Seq("__pos", "__v")))
        def cellAt(pos: Column): Column =
          concat(lit("_:"), md5(concat(col("__key"), lit("|"), pos.cast("string")).cast("binary")))
        val firsts = cells.select(cellAt(col("__pos")).as("s"),
          lit(s"<${RDF}first>").as("p"), col("__v").as("o"), col("g"))
        val rests = cells.select(cellAt(col("__pos")).as("s"),
          lit(s"<${RDF}rest>").as("p"),
          when(col("__pos") === col("__n") - 1, lit(s"<${RDF}nil>"))
            .otherwise(cellAt(col("__pos") + 1)).as("o"), col("g"))
        headTriple.unionByName(firsts).unionByName(rests)

      case containerKind =>
        val typeName = containerKind match {
          case GatherAs.Bag => "Bag"; case GatherAs.Seq => "Seq"; case _ => "Alt"
        }
        val nonEmpty = if (gm.allowEmpty) rows else rows.where(size(col("__vals")) > 0)
        val headTriple = nonEmpty.select(col("__s").as("s"), col("__p").as("p"),
          col("__head").as("o"), col("g"))
        val typeTriple = nonEmpty.select(col("__head").as("s"), lit(RDF_TYPE).as("p"),
          lit(s"<$RDF$typeName>").as("o"), col("g"))
        val members = nonEmpty
          .select(col("__head"), col("g"), posexplode(col("__vals")).as(Seq("__pos", "__v")))
          .select(col("__head").as("s"),
            concat(lit(s"<${RDF}_"), col("__pos") + 1, lit(">")).as("p"),
            col("__v").as("o"), col("g"))
        headTriple.unionByName(typeTriple).unionByName(members)
    }
  }

  /** RML-CC `rml:strategy rml:cartesianProduct`: two (possibly multi-valued)
    * gather items produce one 2-element rdf:List per element combination
    * (reference: cc_functions.py:497-523 — right × left nested loops).
    * Blank cell labels are deterministic md5(subject|pred|ri|li|cell), the
    * same canonicalization as append-strategy lists.
    */
  private def compileCartesianGather(pom: PredicateObjectMap, df: DataFrame,
      subj: TermCompiler.CompiledTerm, subjGraph: Column, base: Option[String],
      colFn: String => Column): DataFrame = {
    val gm = pom.objectMap.gather.get
    val pred = TermCompiler.rdfTerm(pom.predicate, None, base, colFn, TermType.Iri)
    val Seq(right, left) = gm.items.take(2)
    val rAttr = TermCompiler.referencedAttrs(right).headOption
    val lAttr = TermCompiler.referencedAttrs(left).headOption
    def asArr(attr: Option[String]): Column = attr match {
      case Some(a) if isArrayAttr(df, a) => resolveAttr(df, a)
      case Some(a) => array(resolveAttr(df, a))
      case None => array(lit("")) // constant item: one combination slot
    }
    val d = df
      .select(col("*"), posexplode(asArr(rAttr)).as(Seq("__ri", "__rv")))
      .select(col("*"), posexplode(asArr(lAttr)).as(Seq("__li", "__lv")))
    val colFn2: String => Column = a =>
      if (rAttr.contains(a)) d("__rv")
      else if (lAttr.contains(a)) d("__lv")
      else resolveAttr(d, a)
    val rTerm = TermCompiler.rdfTerm(right, Some(pom.objectMap), base, colFn2, TermType.Literal)
    val lTerm = TermCompiler.rdfTerm(left, Some(pom.objectMap), base, colFn2, TermType.Literal)
    val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val key = concat(subj.column, lit("|"), pred.column,
      lit("|"), col("__ri").cast("string"), lit("|"), col("__li").cast("string"))
    def cell(i: Int): Column =
      concat(lit("_:"), md5(concat(key, lit(s"|$i")).cast("binary")))
    val quints = array(
      struct(subj.column.as("s"), pred.column.as("p"), cell(0).as("o")),
      struct(cell(0).as("s"), lit(s"<${RDF}first>").as("p"), rTerm.column.as("o")),
      struct(cell(0).as("s"), lit(s"<${RDF}rest>").as("p"), cell(1).as("o")),
      struct(cell(1).as("s"), lit(s"<${RDF}first>").as("p"), lTerm.column.as("o")),
      struct(cell(1).as("s"), lit(s"<${RDF}rest>").as("p"), lit(s"<${RDF}nil>").as("o")))
    d.where(subj.guard && pred.guard && rTerm.guard && lTerm.guard)
      .select(explode(quints).as("__t"), subjGraph.as("g"))
      .select(col("__t.s").as("s"), col("__t.p").as("p"), col("__t.o").as("o"), col("g"))
  }

  /** Normalize a JSONPath-flavored reference ("$.a.b", "tags[*]") to a
    * dotted attribute path.
    */
  private def cleanAttr(a: String): String =
    a.replace("[*]", "").stripPrefix("$").stripPrefix(".")

  /** All attributes a TriplesMap references (subject + classes + POM terms,
    * dynamic datatype/language maps, graphs, gather items, join childs).
    */
  def tmReferencedAttrs(tm: TriplesMap): List[String] = {
    val termMaps: List[TermMap] =
      tm.subject.term :: tm.subject.graph.toList :::
        // the P5 subject condition's function reads child columns too — a
        // synthesized JDBC projection that omits them fails to resolve
        tm.subject.condition.toList.map(c =>
          TermMap(TermKind.FunctionCall, "", function = Some(c))) :::
        tm.poms.flatMap(p =>
          p.predicate :: (p.objectMap.term.toList ::: p.objectMap.datatypeMap.toList :::
            p.objectMap.languageMap.toList ::: p.graph.toList :::
            p.objectMap.gather.map(_.items).getOrElse(Nil)))
    val joinChilds = tm.poms.flatMap(_.objectMap.refObject.toList)
      .flatMap(_.joinCondition.toList).flatMap(_.effectiveChildMaps)
      .flatMap(TermCompiler.referencedAttrs)
    // quoted-TM joins (RML-star J7) probe on child attrs of THIS source —
    // subject-position and object-position quotedJoin keys both count
    val quotedChilds = (tm.subject.term.quotedJoin.toList :::
        tm.poms.flatMap(_.objectMap.term.toList).flatMap(_.quotedJoin.toList))
      .flatMap(_.effectiveChildMaps).flatMap(TermCompiler.referencedAttrs)
    (termMaps.flatMap(TermCompiler.referencedAttrs) ::: joinChilds ::: quotedChilds).distinct
  }

  /** P1: projection pushdown into relational sources — a JDBC source with a
    * table name but no user query gets `SELECT DISTINCT <referenced attrs>
    * FROM <table>` synthesized from the mapping, so the database ships only
    * the mapped columns (reference: translate_sql functions.py:211-288,
    * translate_postgressql 291-370; DISTINCT ≡ remove_duplicate=yes
    * source-level dedup).
    */
  def synthesizeJdbcQuery(tm: TriplesMap): Option[String] = tm.source match {
    case j: LogicalSource.JdbcSource if j.query.isEmpty && j.tableName.isDefined =>
      val attrs = tmReferencedAttrs(tm)
      if (attrs.isEmpty) None
      else {
        val quote: String => String = j.dbType match {
          case "mysql" => a => s"`$a`"
          case "sqlserver" => a => s"[$a]"
          // postgres / derby / ANSI: double-quoted, case-exact — matches
          // what Spark's JDBC writer emits on CREATE, so written tables
          // round-trip (JDBC_EXTERNAL_ENGINE errors otherwise on DBs that
          // fold unquoted identifiers to upper case)
          case _ => a => "\"" + a + "\""
        }
        Some(s"SELECT DISTINCT ${attrs.map(quote).mkString(", ")} FROM ${j.tableName.get}")
      }
    case _ => None
  }

  private def effectiveSource(tm: TriplesMap, opts: Options = Options()): LogicalSource =
    tm.source match {
      case j0: LogicalSource.JdbcSource =>
        // mappings that name only a table/query inherit the dataset-level
        // connection (reference config keys host/port/db/user/password)
        val j = if (j0.url.isEmpty) opts.jdbc match {
          case Some(d) => j0.copy(url = d.url, dbType = d.dbType,
            user = d.user, password = d.password)
          case None => throw new IllegalArgumentException(
            s"TriplesMap ${tm.id}: database source (tableName/query) but no " +
              "connection — give the source a d2rq:jdbcDSN or pass JdbcDefaults")
        } else j0
        val tmEff = tm.copy(source = j)
        synthesizeJdbcQuery(tmEff).map(q => j.copy(query = Some(q), tableName = None)).getOrElse(j)
      case x: LogicalSource.XmlSource if tmReferencedAttrs(tm).exists(_.startsWith("..")) =>
        x.copy(parentAxis = true) // `../…` refs need the parent-level scan
      case s => s
    }

  /** Template inline condition `items[?(@.type=="v")].title` (SURVEY P4;
    * reference: functions.py:1820-1864): filter an array-of-structs
    * reference by an ==/!= predicate on the element, project a field of
    * the LAST matching element (the reference keeps overwriting its match
    * variable); no match → null → the term guard drops the triple.
    */
  private val InlineCond =
    """^(.*?)\[\?\(@\.([A-Za-z0-9_.]+)\s*(==|!=)\s*"([^"]*)"\)\]\.([A-Za-z0-9_.]+)$""".r

  /** Resolve a (possibly nested) attribute reference on a DataFrame. */
  def resolveAttr(df: DataFrame, a: String): Column =
    if (a.startsWith("..")) {
      // XML parent axis: `../name` / `..@attr` → the scan surfaced the
      // parent element's fields as __parent_<name> (SourceReader, T3)
      val rest = a.stripPrefix("..").stripPrefix("/")
      val name = if (rest.startsWith("@")) "_" + rest.substring(1) else rest
      df(s"`__parent_$name`")
    } else resolveAttrClean(df, a)

  private def resolveAttrClean(df: DataFrame, a: String): Column = cleanAttr(a) match {
    case InlineCond(path, condPath, op, value, proj) =>
      def descend(root: Column, p: String): Column =
        p.split('.').filter(_.nonEmpty).foldLeft(root)((c, s) => c.getField(s))
      val target = resolveAttr(df, path)
      def matches(e: Column): Column = {
        val c = descend(e, condPath).cast("string")
        if (op == "==") c === value else c =!= value
      }
      if (isArrayAttr(df, path)) {
        val matched = filter(target, matches(_))
        when(size(matched) > 0, descend(element_at(matched, size(matched)), proj))
      } else when(matches(target), descend(target, proj))
    case cleaned =>
      // XML attribute axis: `@code` refers to an attribute, which the XML
      // reader surfaces with the `_` prefix (SURVEY T3; reference XPath
      // refs functions.py:186-208). The parent axis `..` is handled above
      // (scan reads one level up; parent fields surface as __parent_<name>).
      val steps = cleaned.split('.').filter(_.nonEmpty)
        .map(s => if (s.startsWith("@")) "_" + s.substring(1) else s)
      require(steps.nonEmpty, s"empty attribute reference: '$a'")
      // prefer an exact top-level column (names may contain dots in CSV)
      if (df.columns.contains(cleaned)) df(s"`$cleaned`")
      else if (df.columns.contains(steps.mkString("."))) df(s"`${steps.mkString(".")}`")
      else steps.tail.foldLeft(df(steps.head))((c, s) => c.getField(s))
  }

  /** Is the referenced attribute array-typed (multi-valued)? */
  def isArrayAttr(df: DataFrame, a: String): Boolean = {
    val steps = cleanAttr(a).split('.').filter(_.nonEmpty).toList
    def walk(dt: org.apache.spark.sql.types.DataType, path: List[String]): Boolean = (dt, path) match {
      case (at: ArrayType, Nil) => true
      case (at: ArrayType, rest) => walk(at.elementType, rest)
      case (st: org.apache.spark.sql.types.StructType, head :: rest) =>
        st.fields.find(_.name == head).exists(f => walk(f.dataType, rest))
      case _ => false
    }
    walk(org.apache.spark.sql.types.StructType(df.schema.fields), steps)
  }
}
