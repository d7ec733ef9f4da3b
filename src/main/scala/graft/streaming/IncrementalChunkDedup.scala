package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Dedup

/** Incremental fixed-width chunk dedup — the ongoing-crawl shape of
  * [[graft.ops.Dedup.chunkDedup]]: new documents arrive continuously, and
  * re-chunking 100 TB of history per batch is not an option. The pipeline
  * maintains a CHUNK STORE (one 16-byte digest-pair row per distinct
  * admitted chunk — the set of all chunk contents the corpus has ever
  * seen) and, per micro-batch:
  *
  *   1. re-crawl guard: doc_ids the corpus already admitted are dropped
  *      whole (first write wins — the same membership contract as
  *      [[IncrementalAnnIndex]], via a doc-id sidecar, so a re-landed
  *      document cannot re-emit its rows);
  *   2. chunk the new documents ([[Dedup.chunkRows]] — narrow, batch-sized);
  *   3. within-batch keep-first election ([[Dedup.flaggedChunks]] — the
  *      EXACT same min-struct election as the batch operator, shared code);
  *   4. batch-first occurrences anti-join the store's TOUCHED hash buckets
  *      (static partition pruning over enumerated leaf dirs — per-batch
  *      membership I/O ∝ the batch's touched buckets, never corpus
  *      history);
  *   5. clean documents reassembled from surviving occurrences append to
  *      the corpus store; the surviving (new) chunk hashes append to the
  *      chunk store.
  *
  * First write wins across batches: a chunk's first ARRIVAL owns it and
  * every later copy drops — the arrival-order analogue of the batch
  * operator's lowest-`(doc_id, chunk_idx)` rule. When landings arrive in
  * doc_id order the two paths agree exactly (pinned in the spec); out of
  * order they differ only in WHICH copy survives, never in the deduped
  * content set.
  *
  * Store layout and exactly-once follow the house contract
  * ([[IncrementalCuration]]): `batch=N/id_bucket=B` directories with
  * `B = pmod(xxhash64(chunk_hash), buckets)`, the bucket-count marker
  * written after the first data write, per-batch overwrite directories so
  * an at-least-once replay rewrites identical rows, and every store
  * reader excludes the replaying batch's own partition. Bucket COUNT is a
  * store property that maintenance can grow
  * ([[StoreMaintenance.compact]] with `bucketBy = Some(("chunk_hash",
  * n))`), so bucket SIZE — the unit a probe reads — stays bounded as the
  * corpus grows.
  */
object IncrementalChunkDedup {

  /** Default chunk-hash bucket count for a fresh store. */
  val NumChunkBuckets = 64

  /** Schema of the chunk store: one row per distinct admitted chunk,
    * identified by the 120-bit digest pair (see [[Dedup.chunkRows]] — a
    * single 60-bit digest collides at real web-crawl chunk counts, and a
    * store collision silently drops a distinct chunk's content forever).
    * Bucket ROUTING stays on `chunk_hash` alone: a routing collision just
    * co-locates two chunks, it never merges their identities.
    */
  val ChunkStoreSchema: StructType = StructType(Seq(
    StructField("chunk_hash", LongType),
    StructField("chunk_hash2", LongType)))

  /** Schema of the clean-document corpus store. */
  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("clean_text", StringType),
    StructField("n_chunks", LongType),
    StructField("n_kept", LongType)))

  /** The doc-id membership sidecar lives beside its corpus store. */
  def docIdIndexPath(corpusPath: String): String = corpusPath + ".ids"

  // ------------------------------------------------------------------ //
  // Family-root layout: one directory holding every store of a drain,  //
  // so maintenance can carry them as a unit                            //
  // ([[ChunkDedupMaintenance]]). The multi-path run() signature        //
  // predates the root layout and remains the primitive; runRoot() is   //
  // the rooted spelling.                                               //
  // ------------------------------------------------------------------ //

  def chunkPathOf(root: String): String = s"$root/chunks"
  def corpusPathOf(root: String): String = s"$root/corpus"
  def metricsPathOf(root: String): String = s"$root/metrics"

  /** Every accumulating store under a family root — the carry list
    * [[ChunkDedupMaintenance]] and the fresh-era guard share, in one
    * place so a new store cannot be added to the writes without joining
    * both.
    */
  def storePaths(root: String): Seq[String] =
    Seq(chunkPathOf(root), corpusPathOf(root),
      docIdIndexPath(corpusPathOf(root)), metricsPathOf(root))

  /** [[run]] over the family-root layout (chunk store, corpus + id
    * sidecar, and the per-batch yield ledger under one root) — the
    * spelling [[ChunkDedupMaintenance]] maintains.
    */
  def runRoot(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      docSchema: StructType): DataFrame =
    run(spark, landingDir, checkpointDir, chunkPathOf(root),
      corpusPathOf(root), docSchema, Some(metricsPathOf(root)))

  /** Stored chunk hashes a batch could collide with, read with static
    * partition pruning to the batch hashes' touched `id_bucket`s
    * (bounded collect ≤ the bucket count; enumerated leaf dirs keep even
    * the LISTING batch-bounded — [[StoragePaths.readTouchedBuckets]]).
    * Excludes `excludeBatchId`'s own partition: foreachBatch is
    * at-least-once, and a crash-replay must not anti-join a batch against
    * its own previously written hashes (every surviving chunk would look
    * stored and the batch would rewrite itself empty). A store without a
    * bucket marker (legacy flat layout) falls back to the unpruned column
    * scan — correct, just not history-free.
    */
  def priorChunkHashes(
      spark: SparkSession,
      chunkPath: String,
      batchHashes: DataFrame,
      excludeBatchId: Long): DataFrame =
    StoragePaths.prunedStore(spark, chunkPath, "chunk_hash", batchHashes,
      ChunkStoreSchema, Some(excludeBatchId), semiJoinKeys = false)

  /** doc_ids the corpus already admitted, bucket-pruned to the batch's
    * touched id buckets — the first-write-wins re-crawl guard.
    */
  def priorDocIds(
      spark: SparkSession,
      corpusPath: String,
      batchIds: DataFrame,
      excludeBatchId: Long): DataFrame =
    StoragePaths.prunedStore(spark, docIdIndexPath(corpusPath), "doc_id",
      batchIds, StructType(Seq(StructField("doc_id", LongType))),
      Some(excludeBatchId), semiJoinKeys = false)

  /** One batch's outcome: rows to append plus the funnel counts. */
  final case class BatchResult(
      cleanDocs: DataFrame,
      newHashes: DataFrame,
      nDocs: Long,
      nOccurrences: Long,
      nKeptChunks: Long)

  /** Dedup one batch against the store's membership relation — separated
    * from the streaming loop so the logic is testable without a stream.
    * `priorHashes` must already exclude the replaying batch's own
    * partition (see [[run]]); `batch` must already be re-crawl-guarded.
    */
  def dedupBatch(batch: DataFrame, priorHashes: DataFrame,
      w: Int = Dedup.ChunkTokens): BatchResult = {
    // one row per doc_id even when a file and its re-crawl land in the
    // same drain — without this both copies' chunks fight over firsts
    val uniq = batch.dropDuplicates("doc_id")
    // persist: the occurrence relation feeds the election, the survivor
    // anti-join, and the reassembly — recomputing it means re-tokenizing
    // the raw batch once per consumer. dedupChunkedBatch's own count
    // fills the cache eagerly.
    val rows = Dedup.chunkRows(uniq, w).persist()
    dedupChunkedBatch(uniq, rows, priorHashes)
  }

  /** [[dedupBatch]] over an ALREADY-CHUNKED occurrence relation: `rows`
    * must be `Dedup.chunkRows(uniq)` for a doc_id-unique `uniq`, persisted
    * and eagerly filled by the caller (ownership transfers — this method
    * unpersists it). The streaming loop chunks each batch ONCE and derives
    * both the touched-bucket probe and this election from the same
    * relation; tokenizing per consumer would double the hot per-batch
    * path of the ongoing-crawl story.
    */
  def dedupChunkedBatch(uniq: DataFrame, rows: DataFrame,
      priorHashes: DataFrame): BatchResult = {
    val nOcc = rows.count()
    // within-batch keep-first (shared election), then first-write-wins
    // against the store: an occurrence survives iff it is the batch's
    // first occurrence of its content AND no earlier batch admitted it
    // the election runs over DIGEST-WIDTH rows (text pruned before the
    // digest exchange — the Dedup.reassembleFlagged contract)
    val survivors = Dedup.flaggedChunks(rows.drop("chunk_text"))
      .filter(col("kept"))
      .join(priorHashes.select("chunk_hash", "chunk_hash2"),
        Seq("chunk_hash", "chunk_hash2"), "left_anti")
      .select("doc_id", "chunk_idx", "chunk_hash", "chunk_hash2")
      .persist()
    val nKept = survivors.count()
    val flags = rows.select("doc_id", "chunk_idx")
      .join(survivors.select("doc_id", "chunk_idx").withColumn("sv", lit(true)),
        Seq("doc_id", "chunk_idx"), "left")
      .withColumn("kept", coalesce(col("sv"), lit(false)))
    // cut results loose, then free the batch-sized caches (the same
    // no-leak contract as Dedup.materializeFreeing)
    val cleanOut = Dedup.reassembleFlagged(rows, flags).localCheckpoint()
    val hashesOut = survivors.select("chunk_hash", "chunk_hash2")
      .localCheckpoint()
    rows.unpersist(blocking = false)
    survivors.unpersist(blocking = false)
    BatchResult(cleanOut, hashesOut,
      nDocs = uniq.count(), nOccurrences = nOcc, nKeptChunks = nKept)
  }

  /** Drain the landing dir (Trigger.AvailableNow), chunk-deduping each
    * micro-batch against the accumulated store. Returns the clean corpus.
    *
    * @param metricsPath optional per-batch funnel ledger (docs landed /
    *                    occurrences / chunks kept), idempotent per-batch
    *                    overwrite like the stores
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      chunkPath: String,
      corpusPath: String,
      docSchema: StructType,
      metricsPath: Option[String] = None): DataFrame = {
    val idPath = docIdIndexPath(corpusPath)
    Drain.run(spark, "IncrementalChunkDedup.run",
      spark.readStream.schema(docSchema).parquet(landingDir), checkpointDir,
      Seq(chunkPath, corpusPath, idPath) ++ metricsPath) { (batch, batchId) =>
      // first-write-wins on doc_id: a re-crawled document landing in
      // a later batch is dropped whole, not re-admitted with empty
      // text (its chunks are all stored — by its own prior copy)
      val guarded = batch.join(
        priorDocIds(spark, corpusPath, batch.select("doc_id"), batchId),
        Seq("doc_id"), "left_anti")
      // chunk ONCE per batch: the persisted occurrence relation feeds
      // the touched-bucket probe AND the election/reassembly inside
      // dedupChunkedBatch (which takes ownership and unpersists it)
      val uniq = guarded.dropDuplicates("doc_id")
      val rows = Dedup.chunkRows(uniq).persist()
      rows.count()
      val prior = priorChunkHashes(spark, chunkPath,
        rows.select("chunk_hash"), batchId)
      val r = dedupChunkedBatch(uniq, rows, prior)
      r.cleanDocs.write.mode("overwrite")
        .parquet(s"$corpusPath/batch=$batchId")
      // the structural-flat probe and marker-after-data ordering live
      // in the shared writer ([[StoragePaths.writeBucketedStoreBatch]])
      // so the exactly-once/self-healing contract cannot fork across
      // the store-keeping modules
      StoragePaths.writeBucketedStoreBatch(spark, chunkPath,
        r.newHashes, "chunk_hash", batchId, NumChunkBuckets)
      StoragePaths.writeBucketedStoreBatch(spark, idPath,
        r.cleanDocs.select("doc_id"), "doc_id", batchId, NumChunkBuckets,
        legacyFlatFallback = false)
      metricsPath.foreach { mp =>
        import spark.implicits._
        Seq((batchId, r.nDocs, r.nOccurrences, r.nKeptChunks))
          .toDF("batch_id", "n_docs", "n_occurrences", "n_kept_chunks")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$mp/batch=$batchId")
      }
    }
    StoragePaths.readOrEmpty(spark, corpusPath, CorpusSchema)
  }
}
