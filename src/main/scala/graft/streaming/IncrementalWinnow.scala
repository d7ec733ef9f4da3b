package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.Dedup

/** Incremental winnow-overlap admission — the ongoing-crawl shape of
  * [[graft.ops.Dedup.winnowOverlapPairs]]: new documents arrive
  * continuously and are admitted unless their winnowing-fingerprint
  * CONTAINMENT against something already seen clears
  * [[Dedup.WinnowOverlapThreshold]]. This is the containment complement to
  * [[IncrementalCuration]]'s MinHash-signature store: a short document
  * pasted inside a long admitted one (or a long document swallowing an
  * admitted short one) has near-zero whole-document Jaccard — the
  * signature path waves it through — but full winnow containment.
  *
  * The pipeline maintains a FINGERPRINT STORE (the distinct `(doc_id, h)`
  * winnow fingerprints of admitted documents, ~2/(w+1) of the gram count —
  * the same relation the batch operator builds, made persistent) plus a
  * per-document size sidecar, and per micro-batch:
  *
  *   1. re-crawl guard: doc_ids already DECIDED — kept or dropped — drop
  *      whole (first write wins; the decided store is id-bucketed so the
  *      probe is touched-bucket pruned);
  *   2. fingerprint the new documents ([[Dedup.winnowFingerprints]] —
  *      batch-sized, one tokenize) and feed the SAME fingerprint set to
  *      both decision passes;
  *   3. within-batch overlap via the shared
  *      [[Dedup.winnowOverlapPairsFrom]] seam: a doc is dropped when it
  *      overlaps a LOWER-id batch doc — kept or not, the
  *      [[IncrementalCuration.newDuplicates]] orientation;
  *   4. cross-batch overlap: batch fingerprints probe the store's TOUCHED
  *      hash buckets (bucketing is BY fingerprint, so every stored row of
  *      a probed fingerprint lives in a touched bucket); stored
  *      fingerprints in more than [[Dedup.MaxShingleDf]] admitted docs are
  *      boilerplate and excluded from BOTH probe sides — the batch
  *      operator's df-cap applied at probe time, with the batch-side set
  *      size recomputed over the capped relation so one document's
  *      numerator and denominator share a universe (only STORED set sizes
  *      stay as admitted, the documented incremental approximation);
  *      containment = common / min(sizes) against the size sidecar,
  *      fetched id-pruned for candidate docs only;
  *   5. writes: admitted rows to the corpus store, admitted fingerprints
  *      (h-bucketed) + sizes (id-bucketed) + decided ids, and the decision
  *      ledger.
  *
  * Like the signature store, only ADMITTED documents contribute
  * fingerprints: a chain A ⊃ B ⊃ C where B was dropped for overlapping A
  * catches C only if C also overlaps A — the same documented divergence as
  * every first-write-wins twin (the FAMILY is caught through its admitted
  * representative; which links drop can differ from the batch report).
  *
  * Store layout, replay safety, and exactly-once follow the house contract
  * ([[StoragePaths.writeBucketedStoreBatch]]): per-batch overwrite
  * directories, bucket-count markers written after data, and every store
  * reader excludes the replaying batch's own partition.
  */
object IncrementalWinnow {

  /** Default bucket count for fresh fingerprint / id stores. */
  val NumBuckets = 64

  def fpPath(root: String): String = s"$root/fps"
  def sizesPath(root: String): String = s"$root/sizes"
  def decidedPath(root: String): String = s"$root/decided"
  def corpusPath(root: String): String = s"$root/docs"
  def ledgerPath(root: String): String = s"$root/ledger"

  /** Bucket-pruned, key-narrowed read of a store keyed by `keyCol` —
    * the shared [[StoragePaths.prunedStore]] probe with this module's
    * all-long column shapes.
    */
  private def prunedStore(
      spark: SparkSession,
      path: String,
      keyCol: String,
      keys: DataFrame,
      selectCols: Seq[String],
      excludeBatchId: Long): DataFrame =
    StoragePaths.prunedStore(spark, path, keyCol, keys,
      StructType(selectCols.map(c => StructField(c, LongType))),
      Some(excludeBatchId), semiJoinKeys = true)

  /** Stored fingerprint rows matching the batch's fingerprint set,
    * touched-bucket pruned, excluding the replaying batch's own partition.
    * The per-h row count of the result IS the stored document frequency
    * (bucketing is by h, so every stored row of a probed fingerprint is in
    * a touched bucket).
    */
  def priorFingerprints(spark: SparkSession, root: String,
      batchHashes: DataFrame, excludeBatchId: Long): DataFrame =
    prunedStore(spark, fpPath(root), "h", batchHashes,
      Seq("doc_id", "h"), excludeBatchId)

  /** Admitted-set sizes for candidate stored doc_ids, id-pruned. */
  def priorSizes(spark: SparkSession, root: String,
      candIds: DataFrame, excludeBatchId: Long): DataFrame =
    prunedStore(spark, sizesPath(root), "doc_id", candIds,
      Seq("doc_id", "n"), excludeBatchId)

  /** doc_ids already decided (kept or dropped) — the re-crawl guard. */
  def priorDecided(spark: SparkSession, root: String,
      batchIds: DataFrame, excludeBatchId: Long): DataFrame =
    prunedStore(spark, decidedPath(root), "doc_id", batchIds,
      Seq("doc_id"), excludeBatchId)

  /** One batch's outcome: admitted rows, their fingerprint/size relations,
    * the decision ledger, and funnel counts. The counts DECOMPOSE: a doc
    * dropped by both passes is attributed to the within-batch pass alone,
    * so `nDroppedWithin + nDroppedStore + admitted.count == nDocs`.
    */
  final case class BatchResult(
      admitted: DataFrame,
      newFps: DataFrame,
      newSizes: DataFrame,
      ledger: DataFrame,
      nDocs: Long,
      nDroppedWithin: Long,
      nDroppedStore: Long)

  /** Decide one batch against the store relations — separated from the
    * streaming loop so the logic is testable without a stream. `batch`
    * must already be re-crawl-guarded and doc_id-unique; `storeFps` /
    * `storeSizes` must already exclude the replaying batch's own
    * partition. `storeFps` carries every stored row of the batch's
    * touched fingerprints (its per-h count IS the stored df).
    */
  def decideBatch(batch: DataFrame, storeFps: DataFrame,
      storeSizes: DataFrame): BatchResult = {
    val fps = batchFingerprints(batch)
    decideFingerprinted(batch, fps, storeFps, storeSizes)
  }

  /** The batch's distinct `(doc_id, h)` fingerprint relation, persisted
    * and eagerly filled — computed ONCE per micro-batch and shared by the
    * probe-key derivation and every decision pass (the
    * [[IncrementalChunkDedup.dedupChunkedBatch]] one-tokenize discipline).
    */
  def batchFingerprints(batch: DataFrame): DataFrame = {
    val fps = Dedup.winnowFingerprints(batch)
      .select("doc_id", "h").distinct().persist()
    fps.count()
    fps
  }

  /** [[decideBatch]] over an already-built [[batchFingerprints]] relation
    * (ownership transfers — this method unpersists it).
    */
  def decideFingerprinted(batch: DataFrame, fps: DataFrame,
      storeFps: DataFrame, storeSizes: DataFrame): BatchResult = {
    // within-batch: shared pairs operator; b drops when overlapping a
    // lower-id batch doc (kept or not — the house orientation)
    val within = Dedup.winnowOverlapPairsFrom(fps)
      .filter(col("is_overlap") === 1)
      .groupBy(col("b_id").as("doc_id"))
      .agg(min("a_id").as("dup_of"),
        min_by(col("n_common"), col("a_id")).as("n_common"))
    // cross-batch: drop the store's boilerplate fingerprints (df > cap,
    // measured over the stored relation) from BOTH probe sides through
    // [[Dedup.overCapKeys]]'s scale-safe groupBy→broadcast-anti spelling —
    // a window over `h` would buffer a mega-hot stored fingerprint's every
    // row in one task. Capping the batch side too keeps one document's
    // numerator and denominator in the SAME universe (the within-batch
    // pass caps both sides the same way); only the STORED set sizes stay
    // as admitted — the documented approximation.
    val boiler = Dedup.overCapKeys(storeFps.select("h"), "h",
      Dedup.MaxShingleDf).localCheckpoint()
    val keptStore = storeFps.join(broadcast(boiler), Seq("h"), "left_anti")
      .select(col("doc_id").as("stored_id"), col("h"))
    val fpsCapped = fps.join(broadcast(boiler), Seq("h"), "left_anti")
    val common = fpsCapped.join(keptStore, Seq("h"))
      .groupBy("doc_id", "stored_id")
      .agg(count(lit(1)).as("n_common"))
    val newSizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val storeDups = common
      .join(fpsCapped.groupBy("doc_id").agg(count(lit(1)).as("n_new")),
        Seq("doc_id"))
      .join(storeSizes.select(col("doc_id").as("stored_id"),
        col("n").as("n_stored")), Seq("stored_id"))
      .filter(col("n_common").cast("double") /
        least(col("n_new"), col("n_stored")) >= Dedup.WinnowOverlapThreshold)
      .groupBy("doc_id")
      .agg(min("stored_id").as("dup_of"),
        min_by(col("n_common"), col("stored_id")).as("n_common"))
    val dropped = within.unionByName(storeDups)
      .groupBy("doc_id")
      .agg(min("dup_of").as("dup_of"),
        min_by(col("n_common"), col("dup_of")).as("n_common"))
      .persist()
    // attribute each dropped doc to ONE pass (within wins): the funnel
    // counts decompose — nDroppedWithin + nDroppedStore + |admitted| = nDocs
    val nWithin = within.count()
    val nDroppedTotal = dropped.count()
    val admitted = batch.join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val keptIds = admitted.select("doc_id")
    val outFps = fps.join(keptIds, Seq("doc_id")).localCheckpoint()
    val outSizes = newSizes.join(keptIds, Seq("doc_id")).localCheckpoint()
    val ledger = batch.select("doc_id")
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("dup_of").isNull.as("kept"))
      .localCheckpoint()
    fps.unpersist(blocking = false)
    dropped.unpersist(blocking = false)
    BatchResult(admitted, outFps, outSizes, ledger,
      nDocs = batch.count(), nDroppedWithin = nWithin,
      nDroppedStore = nDroppedTotal - nWithin)
  }

  /** Every accumulating store under a winnow root — the carry list
    * [[WinnowMaintenance]] and the fresh-era guard share, in one place so
    * a new store cannot be added to the writes without joining both.
    */
  def storePaths(root: String): Seq[String] =
    Seq(fpPath(root), sizesPath(root), decidedPath(root),
      corpusPath(root), ledgerPath(root))

  /** Drain the landing dir (Trigger.AvailableNow), admitting each
    * micro-batch against the accumulated fingerprint store. Returns the
    * admitted corpus.
    *
    * A FRESH checkpoint over a store that still holds `batch>=0`
    * directories fails loudly ([[StoragePaths.hasEpochDirs]]): the new
    * era's batch ids restart at 0, so its writes would silently overwrite
    * the previous era's partitions (and its own-partition-excluded guard
    * reads would miss them). Re-entry is via compaction —
    * [[WinnowMaintenance.compact]] folds all history to `batch=-1`, below
    * every epoch — after which any number of fresh eras may append, one
    * era per compaction.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      docSchema: StructType): DataFrame = {
    Drain.run(spark, "IncrementalWinnow.run",
      spark.readStream.schema(docSchema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("doc_id")
      val decided = priorDecided(spark, root, uniq.select("doc_id"), batchId)
      val guarded = uniq.join(decided, Seq("doc_id"), "left_anti")
        .localCheckpoint() // decide once; three consumers below
      if (!guarded.isEmpty) {
        // fingerprint the batch ONCE; the persisted relation feeds the
        // probe-key derivation AND every decision pass inside
        // decideFingerprinted (which takes ownership and unpersists)
        val batchFps = batchFingerprints(guarded)
        val storeFps = priorFingerprints(spark, root,
          batchFps.select("h"), batchId).localCheckpoint()
        val candIds = storeFps.select(col("doc_id")).distinct()
        val storeSizes = priorSizes(spark, root, candIds, batchId)
        val r = decideFingerprinted(guarded, batchFps, storeFps, storeSizes)
        r.admitted.write.mode("overwrite")
          .parquet(s"${corpusPath(root)}/batch=$batchId")
        StoragePaths.writeBucketedStoreBatch(spark, fpPath(root),
          r.newFps, "h", batchId, NumBuckets)
        StoragePaths.writeBucketedStoreBatch(spark, sizesPath(root),
          r.newSizes, "doc_id", batchId, NumBuckets)
        StoragePaths.writeBucketedStoreBatch(spark, decidedPath(root),
          guarded.select("doc_id"), "doc_id", batchId, NumBuckets,
          legacyFlatFallback = false)
        r.ledger.write.mode("overwrite")
          .parquet(s"${ledgerPath(root)}/batch=$batchId")
      }
    }
    StoragePaths.readOrEmpty(spark, corpusPath(root), docSchema)
  }
}
