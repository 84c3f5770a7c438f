package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-format media GATE composition — the sniff-once / census-per-
  * branch / union shape a 100 TB curation pass runs before deciding
  * what to fetch or decode. [[gateManaged]] is the operator-level form
  * of what the `mm_media_gate_pipeline` catalog row documents in prose:
  * the corpus (payload + sniffed type) is materialized ONCE into the
  * block-manager cache, every typed census branch reads THAT frame
  * instead of re-reading (or re-generating) the store, and the caller
  * gets a deterministic release hook for the cache block — the same
  * managed-pair convention as [[Dedup.notInCorpusManaged]].
  *
  * Why this is the at-scale shape: the clip payloads are the dominant
  * bytes (the store read, or in fixture rows the synthetic encode). A
  * naive composition re-evaluates that per branch — the 6× cost the r15
  * decade leg measured and fixed with kind pre-filters; the persisted
  * form pays the payload cost once for ANY number of branches, and the
  * branch-side work is just a cached-frame filter + the narrow census.
  * MEMORY_AND_DISK: clip-corpus partitions are large, spilling beats
  * recomputing an encode/fetch.
  *
  * Reference scope note: SDM-RDFizer has no media handling; this is
  * part of the repo's beyond-parity multimodal surface.
  */
object MediaGate {

  /** One gate branch: the route predicate that claims a clip (usually
    * over the sniff column, optionally refined — e.g.
    * [[Multimodal.annexbCodec]] to split H.264 from H.265), and the
    * census over the (persisted, route-filtered) frame. The census MUST
    * return a frame union-compatible with its siblings — normalize
    * inside.
    */
  final case class Branch(route: Column, census: DataFrame => DataFrame)

  /** Sniff (if `sniffCol` is absent), persist ONCE, run every branch
    * against the persisted frame filtered to its sniff types, union by
    * name. Returns the gate frame plus the cache-release hook.
    *
    * Single-shot callers can drop the hook and let the LRU own the
    * block; ITERATIVE callers (a gate re-run per corpus snapshot) MUST
    * release once the round's result is materialized, or each round
    * pins a corpus-sized block for the session.
    *
    * A clip no branch's route claims is DROPPED from the gate frame (it
    * matched no census); callers wanting the reject stream can diff doc
    * ids against the corpus — stated, not silent.
    */
  def gateManaged(corpus: DataFrame, branches: Seq[Branch],
      payloadCol: String = "payload",
      sniffCol: String = "sniffed"): (DataFrame, () => Unit) = {
    require(branches.nonEmpty, "gateManaged needs at least one branch")
    val sniffed =
      if (corpus.columns.contains(sniffCol)) corpus
      else corpus.withColumn(sniffCol,
        Multimodal.sniffMediaType(col(payloadCol)))
    val cached = sniffed.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outs = branches.map(b => b.census(cached.filter(b.route)))
    (outs.reduce(_.unionByName(_)), () => { cached.unpersist(false); () })
  }

  /** [[gateManaged]] + the declarative keep rule appended as a `keep`
    * column — the rule is an arbitrary Column over the normalized gate
    * frame, so it stays codegen'd expressions (no UDF).
    */
  def gateWithKeep(corpus: DataFrame, branches: Seq[Branch],
      keep: Column, payloadCol: String = "payload",
      sniffCol: String = "sniffed"): (DataFrame, () => Unit) = {
    val (gate, release) =
      gateManaged(corpus, branches, payloadCol, sniffCol)
    (gate.withColumn("keep", keep), release)
  }
}
