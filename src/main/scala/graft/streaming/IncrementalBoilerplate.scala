package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.Dedup

/** Incremental boilerplate filtering — the ongoing-crawl shape of
  * [[graft.ops.Dedup.boilerplateChunks]]: new documents arrive
  * continuously, and a chunk's cross-document frequency can only be known
  * as it accumulates. The pipeline maintains a DF STORE — per batch, one
  * DELTA row per distinct chunk the batch touched, `(chunk_hash,
  * chunk_hash2, df_docs)` with df_docs the batch's own distinct-document
  * count — and, per micro-batch:
  *
  *   1. re-crawl guard: doc_ids the corpus already admitted are dropped
  *      whole (first write wins, the [[IncrementalChunkDedup]] sidecar —
  *      a re-landed document must not double-count its chunks' df);
  *   2. chunk the new documents ([[Dedup.chunkRows]] — narrow,
  *      batch-sized) and take the within-batch distinct-doc count per
  *      digest pair;
  *   3. the batch's digests sum their PRIOR deltas from the store's
  *      touched hash buckets (static partition pruning — per-batch I/O ∝
  *      the batch's touched buckets, never corpus history; row-preserving
  *      [[StoreMaintenance.compact]] keeps the sum intact);
  *   4. an occurrence is kept iff `prior_df + batch_df < minDf` — the
  *      ARRIVAL-TIME frequency. Clean documents reassemble through the
  *      shared [[Dedup.reassembleChunks]] tail and append to the corpus
  *      store; the batch's delta rows append to the df store.
  *
  * Arrival-time semantics, stated loudly: a chunk that crosses `minDf`
  * in batch N is scrubbed from batch N onward, but documents ALREADY
  * shipped from earlier batches keep their copies — cleaned corpora
  * already handed to a trainer never retro-change (the
  * [[IncrementalPacking]] bins-never-move discipline). That is the one
  * documented divergence from the batch operator, which sees the final
  * df for every occurrence; the df store plus the per-batch audit make
  * the late-crossing chunks findable for a recall pass. When one drain
  * IS the whole corpus the two paths agree exactly (pinned in the spec).
  *
  * Store layout and exactly-once follow the house contract
  * ([[IncrementalChunkDedup]]): `batch=N/id_bucket=B` directories with
  * the bucket-count marker written after the first data write, per-batch
  * overwrite directories so an at-least-once replay rewrites identical
  * rows, and every store reader excludes the replaying batch's own
  * partition.
  */
object IncrementalBoilerplate {

  /** Default chunk-hash bucket count for a fresh df store. */
  val NumDfBuckets = 64

  /** Schema of the df store's delta rows (plus `batch`/`id_bucket`). */
  val DfStoreSchema: StructType = StructType(Seq(
    StructField("chunk_hash", LongType),
    StructField("chunk_hash2", LongType),
    StructField("df_docs", LongType)))

  // ------------------------------------------------------------------ //
  // Family-root layout: one directory holding every store of a drain,  //
  // so maintenance can carry them as a unit                            //
  // ([[BoilerplateMaintenance]]). The multi-path run() signature       //
  // predates the root layout and remains the primitive; runRoot() is   //
  // the rooted spelling.                                               //
  // ------------------------------------------------------------------ //

  def dfPathOf(root: String): String = s"$root/df"
  def corpusPathOf(root: String): String = s"$root/corpus"
  def metricsPathOf(root: String): String = s"$root/metrics"

  /** Every accumulating store under a family root — the carry list
    * [[BoilerplateMaintenance]] and the fresh-era guard share, in one
    * place so a new store cannot be added to the writes without joining
    * both. The doc-id sidecar is the shared
    * [[IncrementalChunkDedup.docIdIndexPath]] convention.
    */
  def storePaths(root: String): Seq[String] =
    Seq(dfPathOf(root), corpusPathOf(root),
      IncrementalChunkDedup.docIdIndexPath(corpusPathOf(root)),
      metricsPathOf(root))

  /** [[run]] over the family-root layout (df store, corpus + id
    * sidecar, and the per-batch yield ledger under one root) — the
    * spelling [[BoilerplateMaintenance]] maintains.
    */
  def runRoot(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      docSchema: StructType,
      minDf: Int = Dedup.BoilerplateMinDf): DataFrame =
    run(spark, landingDir, checkpointDir, dfPathOf(root),
      corpusPathOf(root), docSchema, minDf, Some(metricsPathOf(root)))

  /** Accumulated prior df for the batch's digests: the store's touched
    * buckets, summed per digest pair. Excludes `excludeBatchId`'s own
    * partition — a crash-replay must not count the batch's previously
    * written delta against itself (every chunk would look `minDf` closer
    * to boilerplate than it is). A store without a bucket marker (legacy
    * flat layout) falls back to the unpruned column scan — correct, just
    * not history-free.
    */
  def priorDf(
      spark: SparkSession,
      dfPath: String,
      batchHashes: DataFrame,
      excludeBatchId: Long): DataFrame = {
    StoragePaths.prunedStore(spark, dfPath, "chunk_hash", batchHashes,
      DfStoreSchema, Some(excludeBatchId), semiJoinKeys = false)
      .groupBy("chunk_hash", "chunk_hash2")
      .agg(sum("df_docs").as("prior_df"))
  }

  /** One batch's outcome: rows to append plus the yield counts. */
  final case class BatchResult(
      cleanDocs: DataFrame,
      dfDeltas: DataFrame,
      nDocs: Long,
      nOccurrences: Long,
      nDropped: Long)

  /** Filter one batch against the accumulated prior df — separated from
    * the streaming loop so the logic is testable without a stream.
    * `priorDfRel` must already exclude the replaying batch's own
    * partition (see [[run]]); `batch` must already be re-crawl-guarded.
    * With an empty prior this is EXACTLY
    * [[graft.ops.Dedup.dfFlaggedChunks]]'s election (same distinct-doc
    * count, same `< minDf` verdict, shared reassembly tail).
    */
  def filterBatch(batch: DataFrame, priorDfRel: DataFrame,
      w: Int = Dedup.ChunkTokens,
      minDf: Int = Dedup.BoilerplateMinDf): BatchResult = {
    val uniq = batch.dropDuplicates("doc_id")
    // the occurrence relation feeds the df count, the flag-back, and the
    // reassembly — chunk once, persist for the batch's lifetime
    // (filterChunkedBatch's own count fills the cache eagerly)
    val rows = Dedup.chunkRows(uniq, w).persist()
    filterChunkedBatch(uniq, rows, priorDfRel, minDf)
  }

  /** [[filterBatch]] over an ALREADY-CHUNKED occurrence relation: `rows`
    * must be `Dedup.chunkRows(uniq)` for a doc_id-unique `uniq`,
    * persisted by the caller (ownership transfers — this method
    * unpersists it). The streaming loop chunks each batch ONCE and
    * derives both the touched-bucket probe and this election from the
    * same relation — the [[IncrementalChunkDedup.dedupChunkedBatch]]
    * contract.
    */
  def filterChunkedBatch(uniq: DataFrame, rows: DataFrame,
      priorDfRel: DataFrame,
      minDf: Int = Dedup.BoilerplateMinDf): BatchResult = {
    require(minDf > 0, s"IncrementalBoilerplate: minDf must be positive, got $minDf")
    val nOcc = rows.count()
    val batchDf = rows.groupBy("chunk_hash", "chunk_hash2")
      .agg(countDistinct("doc_id").as("batch_df"))
    val eff = batchDf
      .join(priorDfRel, Seq("chunk_hash", "chunk_hash2"), "left")
      .withColumn("df_docs",
        col("batch_df") + coalesce(col("prior_df"), lit(0L)))
    // flags assemble DIGEST-WIDTH (text pruned before the digest join —
    // the Dedup.reassembleFlagged contract)
    val flags = rows.select("doc_id", "chunk_idx", "chunk_hash", "chunk_hash2")
      .join(eff.select("chunk_hash", "chunk_hash2", "df_docs"),
        Seq("chunk_hash", "chunk_hash2"))
      .withColumn("kept", col("df_docs") < minDf)
      .persist()
    val nDropped = flags.filter(!col("kept")).count()
    // cut results loose, then free the batch-sized caches (the
    // Dedup.materializeFreeing no-leak contract)
    val cleanOut = Dedup.reassembleFlagged(rows, flags).localCheckpoint()
    val deltasOut = batchDf
      .select(col("chunk_hash"), col("chunk_hash2"),
        col("batch_df").as("df_docs"))
      .localCheckpoint()
    rows.unpersist(blocking = false)
    flags.unpersist(blocking = false)
    BatchResult(cleanOut, deltasOut,
      nDocs = uniq.count(), nOccurrences = nOcc, nDropped = nDropped)
  }

  /** Drain the landing dir (Trigger.AvailableNow), boilerplate-filtering
    * each micro-batch against the accumulated df store. Returns the clean
    * corpus.
    *
    * @param metricsPath optional per-batch yield ledger (docs landed /
    *                    occurrences / occurrences dropped), idempotent
    *                    per-batch overwrite like the stores
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      dfPath: String,
      corpusPath: String,
      docSchema: StructType,
      minDf: Int = Dedup.BoilerplateMinDf,
      metricsPath: Option[String] = None): DataFrame = {
    // a lost df delta silently under-counts every chunk it covered, so
    // every store is guarded; re-entry is via BoilerplateMaintenance,
    // which folds history, summing the deltas, to batch=-1
    val idPath = IncrementalChunkDedup.docIdIndexPath(corpusPath)
    Drain.run(spark, "IncrementalBoilerplate.run",
      spark.readStream.schema(docSchema).parquet(landingDir), checkpointDir,
      Seq(dfPath, corpusPath, idPath) ++ metricsPath) { (batch, batchId) =>
      // first-write-wins on doc_id (the shared sidecar contract): a
      // re-crawled document must neither re-emit rows nor inflate df
      val guarded = batch.join(
        IncrementalChunkDedup.priorDocIds(
          spark, corpusPath, batch.select("doc_id"), batchId),
        Seq("doc_id"), "left_anti")
      // a fully re-crawl-guarded batch still flows through: its empty
      // writes and its nDocs=0 metrics row keep the per-batch yield
      // ledger gap-free (the IncrementalChunkDedup audit contract —
      // "all re-crawls" and "never ran" must stay distinguishable)
      //
      // chunk ONCE per batch: the persisted occurrence relation feeds
      // the touched-bucket probe AND the election/reassembly inside
      // filterChunkedBatch (which takes ownership)
      val uniq = guarded.dropDuplicates("doc_id")
      val rows = Dedup.chunkRows(uniq).persist()
      rows.count()
      val prior = priorDf(spark, dfPath,
        rows.select("chunk_hash"), batchId)
      val r = filterChunkedBatch(uniq, rows, prior, minDf)
      r.cleanDocs.write.mode("overwrite")
        .parquet(s"$corpusPath/batch=$batchId")
      StoragePaths.writeBucketedStoreBatch(spark, dfPath,
        r.dfDeltas, "chunk_hash", batchId, NumDfBuckets)
      StoragePaths.writeBucketedStoreBatch(spark, idPath,
        r.cleanDocs.select("doc_id"), "doc_id", batchId, NumDfBuckets,
        legacyFlatFallback = false)
      metricsPath.foreach { mp =>
        import spark.implicits._
        Seq((batchId, r.nDocs, r.nOccurrences, r.nDropped))
          .toDF("batch_id", "n_docs", "n_occurrences", "n_dropped")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$mp/batch=$batchId")
      }
    }
    StoragePaths.readOrEmpty(spark, corpusPath,
      IncrementalChunkDedup.CorpusSchema)
  }
}
