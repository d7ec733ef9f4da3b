package graft.streaming

import graft.streaming.FamilyMaintenance.{Carry, StoreSpec}

/** The compaction loop for [[IncrementalBoilerplate]]'s accumulating
  * stores — the [[FamilyMaintenance]] engine instantiated for the
  * cross-document-frequency filter family. The df store is the one
  * ADDITIVE store among the fact families: each batch appends one DELTA
  * row per touched digest, and readers only ever SUM the deltas per
  * digest ([[IncrementalBoilerplate.priorDf]]). Its carry is therefore
  * a [[FamilyMaintenance.Carry.Fold]]: group by the digest pair, sum
  * `df_docs`, land one row per distinct chunk ever seen — lossless by
  * counter additivity, verified by exact total equality, and it RESETS
  * the per-probe fold cost (a bucket holds one row per digest instead
  * of one per digest × touching batch). Adopt folds the deltas on the
  * way in. The corpus, its doc-id sidecar, and the yield ledger carry
  * row-preserving; the carry list is pinned against
  * [[IncrementalBoilerplate.storePaths]].
  *
  * Folding cannot change any verdict: an occurrence's keep decision is
  * `prior_df + batch_df < minDf`, and prior_df is the same sum whether
  * it folds over one row or many. The arrival-time semantics the module
  * documents (already-shipped documents never retro-change) are equally
  * untouched — compaction rewrites history's COUNTERS, not its
  * decisions.
  *
  * A compacted generation is a complete [[IncrementalBoilerplate]]
  * family root at `batch=-1`, and [[IncrementalBoilerplate.run]]
  * REFUSES a fresh checkpoint while `batch>=0` directories remain —
  * one fresh era per compaction.
  */
object BoilerplateMaintenance extends FamilyMaintenance.Facts(
  "BoilerplateMaintenance",
  Seq(
    StoreSpec("df", IncrementalBoilerplate.dfPathOf _,
      Carry.Fold(Seq("chunk_hash", "chunk_hash2"), Seq("df_docs"),
        Some("chunk_hash"), IncrementalBoilerplate.NumDfBuckets)),
    StoreSpec("corpus", IncrementalBoilerplate.corpusPathOf _,
      Carry.Rows()),
    StoreSpec("ids",
      (root: String) => IncrementalChunkDedup.docIdIndexPath(
        IncrementalBoilerplate.corpusPathOf(root)),
      Carry.Rows(Some("doc_id"), IncrementalBoilerplate.NumDfBuckets)),
    StoreSpec("metrics", IncrementalBoilerplate.metricsPathOf _,
      Carry.Rows(), optional = true)),
  IncrementalBoilerplate.storePaths _)
