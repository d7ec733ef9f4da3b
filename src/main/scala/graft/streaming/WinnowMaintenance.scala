package graft.streaming

import graft.streaming.FamilyMaintenance.{Carry, StoreSpec}

/** The compaction loop for [[IncrementalWinnow]]'s accumulating stores —
  * the [[FamilyMaintenance]] engine instantiated for the containment
  * admission family. Winnow has no model to recalibrate: fingerprints
  * are exact facts of the admitted corpus, so the maintenance hazard is
  * purely physical (per-batch directories accumulating listing cost),
  * and every store carries row-preserving — nothing is summed or
  * re-derived, so the whole carry is lossless by row-count identity
  * alone.
  *
  * Fingerprints re-bucket by `h`, sizes and decided ids by `doc_id`
  * (the two doc_id-keyed stores probe together, so re-size them
  * together), corpus and ledger fold flat; the carry list is pinned
  * against [[IncrementalWinnow.storePaths]]. The fingerprint store is
  * measured: bucket re-sizing keeps per-probe fingerprint I/O bounded
  * by the batch's touched fingerprints instead of total corpus bulk. A
  * compacted generation is a complete [[IncrementalWinnow]] root at
  * `batch=-1`, and [[IncrementalWinnow.run]] REFUSES a fresh checkpoint
  * while `batch>=0` directories remain — one fresh era per compaction.
  *
  * The source root must have drained at least one non-empty batch: the
  * five stores are written together per admitted batch, and a carry of
  * an absent store has nothing to verify against.
  */
object WinnowMaintenance extends FamilyMaintenance.Facts(
  "WinnowMaintenance",
  Seq(
    StoreSpec("fps", IncrementalWinnow.fpPath _,
      Carry.Rows(Some("h"), IncrementalWinnow.NumBuckets)),
    StoreSpec("sizes", IncrementalWinnow.sizesPath _,
      Carry.Rows(Some("doc_id"), IncrementalWinnow.NumBuckets)),
    StoreSpec("decided", IncrementalWinnow.decidedPath _,
      Carry.Rows(Some("doc_id"), IncrementalWinnow.NumBuckets)),
    StoreSpec("docs", IncrementalWinnow.corpusPath _, Carry.Rows()),
    StoreSpec("ledger", IncrementalWinnow.ledgerPath _, Carry.Rows())),
  IncrementalWinnow.storePaths _)
