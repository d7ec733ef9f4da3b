package graft.streaming

import graft.streaming.FamilyMaintenance.{Carry, StoreSpec}

/** The compaction loop for [[IncrementalSourceCap]]'s accumulating
  * stores — the [[FamilyMaintenance]] engine with one [[Carry.Custom]]
  * store: the counts store's bucket key is its own (`xxhash64(source)`
  * under the id-bucket formula — the
  * [[IncrementalSourceCap.compactCounts]] discipline; the engine's
  * generic fold would bucket on the raw column and place the rows where
  * [[IncrementalSourceCap.spentBudget]]'s touched-bucket probe never
  * looks), so its carry routes through `compactCounts` — one summed
  * delta per source ever admitted, sum-verified before the marker lands
  * (a lost delta silently re-opens an exhausted source's budget). Adopt
  * folds the spent deltas on the way in. The decided ids re-bucket by
  * `doc_id` and the corpus folds flat, both row-count verified; the
  * carry list is pinned against [[IncrementalSourceCap.storePaths]].
  *
  * A compacted generation is a complete [[IncrementalSourceCap]] root
  * at `batch=-1`, and [[IncrementalSourceCap.run]] REFUSES a fresh
  * checkpoint while `batch>=0` directories remain — one fresh era per
  * compaction.
  */
object SourceCapMaintenance extends FamilyMaintenance.Facts(
  "SourceCapMaintenance",
  Seq(
    StoreSpec("counts", IncrementalSourceCap.countsPath _,
      Carry.Custom(
        (spark, src, dest, numFiles, buckets) => {
          IncrementalSourceCap.compactCounts(
            spark, src, dest, numFiles, buckets)
          ()
        },
        bucketMarker = Some(IncrementalAnnIndex.IdBucketsMarker),
        defaultBuckets = IncrementalSourceCap.NumSourceBuckets)),
    StoreSpec("decided", IncrementalSourceCap.decidedPath _,
      Carry.Rows(Some("doc_id"), IncrementalSourceCap.NumSourceBuckets)),
    StoreSpec("corpus", IncrementalSourceCap.corpusPath _, Carry.Rows())),
  IncrementalSourceCap.storePaths _)
