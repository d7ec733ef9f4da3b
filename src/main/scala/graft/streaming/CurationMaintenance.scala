package graft.streaming

import graft.streaming.FamilyMaintenance.{Carry, StoreSpec}

/** The compaction loop for [[IncrementalCuration]]'s accumulating
  * stores — the [[FamilyMaintenance]] engine instantiated for the
  * MinHash resemblance-admission family. Signatures are exact facts of
  * the admitted corpus (no model to recalibrate), so the maintenance
  * hazard is purely physical: every micro-batch adds a `batch=N`
  * directory to the signature store, its inverted band sidecar, the
  * curated corpus, and the funnel ledger, and a crawl that has been
  * draining for a year answers each LSH probe by listing thousands of
  * small files per touched bucket.
  *
  * Signatures re-bucket by `doc_id` (row-count verified), corpus and
  * metrics fold flat; the carry list is pinned against
  * [[IncrementalCuration.storePaths]]. The band sidecar is a
  * [[FamilyMaintenance.Carry.Custom]] store: it is derived data (one
  * row per signature band), its bucket key hashes `(band_idx,
  * band_val)` rather than an id column, and its carry REBUILDS it from
  * the just-carried signature rows
  * ([[IncrementalCuration.rebuildBandIndex]] into the new generation,
  * marker written last — store-list order guarantees the signatures
  * landed first) — where a carried copy could silently drift from a
  * carried store. Its `bucketMarker` opts it into the engine's
  * byte-driven re-sizing, so BOTH bucket families grow from their own
  * measured bytes (signature buckets for membership and the estimate
  * leg, band buckets for the LSH join's reference side). Adopt is also
  * the migration path for a legacy store without a band sidecar: the
  * custom carry gives the adopted generation one.
  *
  * A compacted generation is a complete [[IncrementalCuration]] family
  * root at `batch=-1` (including the rebuilt sidecar), and
  * [[IncrementalCuration.run]] REFUSES a fresh checkpoint while
  * `batch>=0` directories remain — one fresh era per compaction.
  */
object CurationMaintenance extends FamilyMaintenance.Facts(
  "CurationMaintenance",
  Seq(
    StoreSpec("sigs", IncrementalCuration.sigPathOf _,
      Carry.Rows(Some("doc_id"), IncrementalCuration.NumSigIdBuckets)),
    StoreSpec("bands",
      (root: String) => IncrementalCuration.bandIndexPath(
        IncrementalCuration.sigPathOf(root)),
      Carry.Custom(
        (spark, _, dest, _, buckets) =>
          // dest sig path is the sibling the `.bands` suffix names (the
          // bandIndexPath convention); the rebuild reads IT, not the
          // source sidecar — which may not even exist (legacy migration
          // through adopt)
          IncrementalCuration.rebuildBandIndex(spark,
            dest.stripSuffix(".bands"),
            buckets.getOrElse(IncrementalCuration.NumBandBuckets)),
        bucketMarker = Some(IncrementalCuration.BandBucketsMarker),
        defaultBuckets = IncrementalCuration.NumBandBuckets)),
    StoreSpec("corpus", IncrementalCuration.corpusPathOf _, Carry.Rows()),
    StoreSpec("metrics", IncrementalCuration.metricsPathOf _,
      Carry.Rows(), optional = true)),
  IncrementalCuration.storePaths _)
