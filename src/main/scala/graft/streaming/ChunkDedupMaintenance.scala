package graft.streaming

import graft.streaming.FamilyMaintenance.{Carry, StoreSpec}

/** The compaction loop for [[IncrementalChunkDedup]]'s accumulating
  * stores — the [[FamilyMaintenance]] engine instantiated for the
  * keep-first chunk-dedup family. Chunk digests are exact facts of the
  * admitted corpus (no model to recalibrate), so the maintenance hazard
  * is purely physical: every micro-batch adds a `batch=N` directory to
  * the chunk store, the clean corpus, its doc-id sidecar, and the yield
  * ledger, and a crawl that has been draining for a year answers each
  * membership probe by listing thousands of small files per touched
  * hash bucket.
  *
  * Chunk digests re-bucket by `chunk_hash` (routing only — identity
  * stays the 120-bit digest pair), decided doc ids by `doc_id`, corpus
  * and metrics fold flat; every store is row-count verified and the
  * carry list is pinned against [[IncrementalChunkDedup.storePaths]].
  *
  * A compacted generation is a complete [[IncrementalChunkDedup]]
  * family root at `batch=-1`, and [[IncrementalChunkDedup.run]] REFUSES
  * a fresh checkpoint while `batch>=0` directories remain — one fresh
  * era per compaction.
  */
object ChunkDedupMaintenance extends FamilyMaintenance.Facts(
  "ChunkDedupMaintenance",
  Seq(
    StoreSpec("chunks", IncrementalChunkDedup.chunkPathOf _,
      Carry.Rows(Some("chunk_hash"), IncrementalChunkDedup.NumChunkBuckets)),
    StoreSpec("corpus", IncrementalChunkDedup.corpusPathOf _, Carry.Rows()),
    StoreSpec("ids",
      (root: String) => IncrementalChunkDedup.docIdIndexPath(
        IncrementalChunkDedup.corpusPathOf(root)),
      Carry.Rows(Some("doc_id"), IncrementalChunkDedup.NumChunkBuckets)),
    StoreSpec("metrics", IncrementalChunkDedup.metricsPathOf _,
      Carry.Rows(), optional = true)),
  IncrementalChunkDedup.storePaths _)
