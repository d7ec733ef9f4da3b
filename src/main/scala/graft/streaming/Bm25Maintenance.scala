package graft.streaming

import graft.streaming.FamilyMaintenance.{Carry, StoreSpec}

/** The compaction loop for [[IncrementalBm25]]'s accumulating index
  * stores — the [[FamilyMaintenance]] engine instantiated for the
  * inverted index. BM25 has no model to recalibrate (the index is
  * exact), so the maintenance hazard is purely physical: every
  * micro-batch adds a `batch=N` posting directory plus a 1-row stats
  * delta, and a crawl that has been draining for a year answers each
  * query by listing thousands of small files per touched term bucket.
  *
  * Postings re-bucket by `term`, decided ids by `doc_id` (both
  * row-count verified), and the stats deltas FOLD to their single-row
  * sum ([[FamilyMaintenance.Carry.Fold]] — the additive store's
  * lossless carry, verified by exact integer equality of
  * `(n_docs, sum_dl)`, which also resets the per-read fold to O(1)).
  * The posting store is measured first: at ~one posting dir per drained
  * batch × buckets, the default trips once the store's listing cost —
  * not its data — dominates a probe. Bucket re-sizing keeps per-query
  * posting I/O bounded by the probed terms' document frequency instead
  * of total corpus bulk.
  *
  * A compacted generation is a complete [[IncrementalBm25]] root at
  * `batch=-1`, and `run` REFUSES a fresh checkpoint while `batch>=0`
  * directories remain — one fresh era per compaction.
  */
object Bm25Maintenance extends FamilyMaintenance.Facts(
  "Bm25Maintenance",
  Seq(
    StoreSpec("postings", IncrementalBm25.postingsPath _,
      Carry.Rows(Some("term"), IncrementalBm25.NumBuckets)),
    StoreSpec("stats", IncrementalBm25.statsPath _,
      Carry.Fold(Nil, Seq("n_docs", "sum_dl"))),
    StoreSpec("decided", IncrementalBm25.decidedPath _,
      Carry.Rows(Some("doc_id"), IncrementalBm25.NumBuckets))),
  IncrementalBm25.storePaths _)
