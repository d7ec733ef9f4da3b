package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.FamilyMaintenance.{Carry, StoreSpec}

/** The generation-maintenance loop for [[MediaCatalogStore]] — the
  * [[FamilyMaintenance]] engine instantiated for the media byte catalog,
  * closing the one asymmetry among the serving stores: every other store
  * (ANN lists, BM25 postings, chunk digests, packing fragments) got the
  * drain + compaction + fresh-era treatment, while the catalog was a
  * one-shot bootstrap.
  *
  * The catalog is an exact-fact store (payload bytes keyed by media_id,
  * first write wins), so the carry is row-preserving and id-bucketed
  * ([[Carry.Rows]] with the `media_id` bucket column): compaction folds
  * the accumulated `batch=N` directories into one `batch=-1` generation,
  * verified by row-count identity BEFORE the `_current` pointer moves —
  * a lossy carry would silently drop served bytes, so it never
  * publishes. Because the store is bucketed, the engine's byte-driven
  * re-sizing applies: a triggered compaction re-computes the bucket
  * count from measured bytes (never shrinking below the source marker),
  * so bucket SIZE — the unit a reader's window fetch reads — holds the
  * `targetBucketBytes` line as the crawl grows. Media payloads are the
  * WIDEST rows any store in the engine serves, which is exactly why this
  * family needs the re-size most: a bucket count chosen at bootstrap is
  * wrong within one order of magnitude of catalog growth.
  *
  * A compacted generation is a complete [[MediaCatalogStore]] root at
  * `batch=-1`, and [[MediaCatalogStore.run]] refuses a fresh checkpoint
  * while `batch>=0` directories remain — one fresh era per compaction,
  * the house contract.
  */
object MediaCatalogMaintenance extends FamilyMaintenance.Facts(
  "MediaCatalogMaintenance",
  Seq(
    StoreSpec("media", MediaCatalogStore.mediaPath _,
      Carry.Rows(Some("media_id"), MediaCatalogStore.DefaultBuckets)),
    // the takedown ledger crosses every generation boundary with the
    // catalog — a compaction that dropped tombstones would re-open the
    // door [[retract]] closed. Optional: a catalog nothing was ever
    // retracted from has no ledger.
    StoreSpec("tombstones", MediaCatalogStore.tombstonesPath _,
      Carry.Rows(Some("media_id"), MediaCatalogStore.DefaultBuckets),
      optional = true)),
  MediaCatalogStore.storePaths _) {

  /** TAKEDOWN — the retraction runbook a served training corpus
    * eventually needs (a licensing claim, a right-to-be-forgotten
    * request, a poisoned-asset report): rewrite the live generation
    * WITHOUT the retracted ids' bytes and record the ids in the
    * tombstone ledger, so the next re-crawl of the same asset cannot
    * re-admit it ([[MediaCatalogStore.run]]'s admission guard reads the
    * ledger with the same touched-bucket pruning as the membership
    * probe). Published like every generation: row counts verified
    * BEFORE the `_current` pointer moves — the carried catalog must
    * equal source minus the matched retractions exactly, and the new
    * ledger must hold the union of old tombstones and the new ids — so
    * a lossy rewrite never publishes and a crash leaves readers on the
    * old generation (whose bytes the operator then vacuums via
    * [[StoreMaintenance.staleGenerations]] — retraction is complete
    * once the superseded generations are deleted, exactly the two-step
    * any immutable-layout store requires).
    *
    * `ids` is a one-column (`media_id`) relation; ids absent from the
    * catalog are still tombstoned (the takedown may arrive before the
    * crawl does). Returns the new generation's path.
    */
  def retract(
      spark: SparkSession,
      genRoot: String,
      ids: DataFrame,
      numFiles: Int = 1): String =
    rewrite(spark, genRoot, numFiles, Set("media", "tombstones")) {
      (cur, dest) =>
        val retractIds = ids.select("media_id").distinct().localCheckpoint()
        val srcMedia = MediaCatalogStore.mediaPath(cur)
        val buckets = IncrementalAnnIndex.bucketCount(spark, srcMedia)
          .getOrElse(MediaCatalogStore.DefaultBuckets)
        val src = spark.read.parquet(srcMedia).drop("batch", "id_bucket")
        val srcN = src.count()
        val matchedN = src.join(retractIds, Seq("media_id"), "left_semi").count()
        StoreMaintenance.writeStoreLayout(spark,
          src.join(retractIds, Seq("media_id"), "left_anti"),
          MediaCatalogStore.mediaPath(dest), numFiles,
          Some(("media_id", buckets)))
        val keptN =
          spark.read.parquet(MediaCatalogStore.mediaPath(dest)).count()
        require(keptN == srcN - matchedN,
          s"MediaCatalogMaintenance.retract: carried $keptN of $srcN rows " +
            s"with $matchedN retracted — not publishing; readers stay on " +
            "the current generation")
        // the ledger: old tombstones (if any) ∪ the new ids, union-verified
        val srcTomb = MediaCatalogStore.tombstonesPath(cur)
        val oldTomb =
          if (StoragePaths.exists(spark, srcTomb))
            spark.read.parquet(srcTomb).drop("batch", "id_bucket")
              .select("media_id")
          else retractIds.limit(0)
        val newLedger = oldTomb.unionByName(retractIds).distinct()
          .localCheckpoint()
        StoreMaintenance.writeStoreLayout(spark, newLedger,
          MediaCatalogStore.tombstonesPath(dest), numFiles,
          Some(("media_id", buckets)))
        require(spark.read.parquet(MediaCatalogStore.tombstonesPath(dest))
          .count() == newLedger.count(),
          "MediaCatalogMaintenance.retract: tombstone ledger carry lost " +
            "rows — not publishing")
        // sanity: every retracted id is in the published ledger
        require(retractIds.join(
          spark.read.parquet(MediaCatalogStore.tombstonesPath(dest))
            .select("media_id"), Seq("media_id"), "left_anti").isEmpty,
          "MediaCatalogMaintenance.retract: a retracted id is missing from " +
            "the ledger — not publishing")
    }
}
