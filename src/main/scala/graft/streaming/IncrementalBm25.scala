package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Portable.tokensSpark
import graft.ops.Retrieval

/** Incremental BM25 index — the ongoing-crawl shape of
  * [[graft.ops.Retrieval.bm25TopK]]: new documents arrive continuously and
  * queries must rank against EVERYTHING admitted so far without
  * re-tokenizing history. The pipeline maintains the classic inverted
  * index as three stores and, per micro-batch, does batch-linear work
  * only:
  *
  *   1. re-crawl guard: doc_ids already indexed drop whole (first write
  *      wins — indexing the same document twice would double its tf rows
  *      AND double-count it in N/avgdl);
  *   2. one tokenize pass builds the batch's FULL-vocabulary posting rows
  *      `(term, doc_id, tf, dl)` — `dl` denormalized onto the posting so
  *      search needs no doc-length join — appended term-bucketed;
  *   3. a 1-row `(n_docs, sum_dl)` DELTA appends to the stats store — the
  *      mergeable-partials pattern of [[IncrementalSketchStore]]: corpus
  *      N and avgdl are SUMs over deltas, folded at read.
  *
  * [[searchStore]] then ranks a query batch against the accumulated
  * index: postings are fetched with static partition pruning to the query
  * VOCABULARY's touched term buckets (bucketing is BY term, so a probed
  * term's every posting lives in a touched bucket — per-query I/O is
  * bounded by the query terms' document frequency, the inherent cost of
  * exact BM25, never by off-vocabulary corpus bulk), df is the fetched
  * posting count per term (exact, same argument), stats fold from the
  * delta store, and scoring runs through the SHARED
  * [[Retrieval.scoreTf]] seam — same term formula, same fixed-order
  * pivot-sum, same integerized `floor(score × 1e6)` rank. Because BM25 is
  * a pure function of the final (postings, df, N, avgdl) state, a drain's
  * `searchStore` equals `Retrieval.bm25TopK` over the union corpus in ANY
  * landing order — no arrival-order divergence to document, unlike the
  * dedup twins.
  *
  * Store layout, replay safety, and exactly-once follow the house
  * contract ([[StoragePaths.writeBucketedStoreBatch]]): per-batch
  * overwrite directories (every per-batch write is a pure function of the
  * batch, so an at-least-once replay rewrites identical rows), bucket
  * markers after data, and the decided-ids probe excludes the replaying
  * batch's own partition.
  */
object IncrementalBm25 {

  /** Default bucket count for fresh postings / id stores. */
  val NumBuckets = 64

  def postingsPath(root: String): String = s"$root/postings"
  def statsPath(root: String): String = s"$root/stats"
  def decidedPath(root: String): String = s"$root/decided"

  /** Every accumulating store under an index root — the carry list
    * [[Bm25Maintenance]] and the fresh-era guard share, in one place so
    * a new store cannot be added to the writes without joining both.
    */
  def storePaths(root: String): Seq[String] =
    Seq(postingsPath(root), statsPath(root), decidedPath(root))

  /** doc_ids already indexed, touched-bucket pruned, excluding the
    * replaying batch's own partition — the first-write-wins guard
    * ([[StoragePaths.prunedStore]]; no key narrowing: the caller
    * anti-joins against the batch).
    */
  def priorDocIds(spark: SparkSession, root: String,
      batchIds: DataFrame, excludeBatchId: Long): DataFrame =
    StoragePaths.prunedStore(spark, decidedPath(root), "doc_id", batchIds,
      StructType(Seq(StructField("doc_id", LongType))),
      Some(excludeBatchId), semiJoinKeys = false)

  /** The stored posting rows of the given terms, touched-bucket pruned
    * and term-narrowed: `(term, doc_id, tf, dl)`. Reads every batch —
    * search ranks against the FINAL accumulated state, so there is no
    * partition to exclude.
    */
  def priorPostings(spark: SparkSession, root: String,
      terms: DataFrame): DataFrame =
    StoragePaths.prunedStore(spark, postingsPath(root), "term", terms,
      StructType(Seq(
        StructField("term", StringType), StructField("doc_id", LongType),
        StructField("tf", LongType), StructField("dl", LongType))),
      excludeBatchId = None, semiJoinKeys = true)

  /** The batch's full-vocabulary posting rows plus its 1-row stats delta —
    * separated from the loop so the indexing math is testable without a
    * stream. `batch` must already be re-crawl-guarded and doc_id-unique.
    */
  def indexBatch(batch: DataFrame): (DataFrame, DataFrame) = {
    val base = batch.select(col("doc_id"), expr(tokensSpark).as("toks"))
      .select(col("doc_id"), col("toks"),
        expr("CAST(size(toks) AS BIGINT)").as("dl"))
      .persist() // one tokenize feeds the postings aggregate and the delta
    base.count()
    val postings = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")
      .localCheckpoint()
    val delta = base.agg(
      count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .localCheckpoint()
    base.unpersist(blocking = false)
    (postings, delta)
  }

  /** Corpus stats folded from the delta store: 1 row `(n_docs, avgdl)` —
    * empty store ⇒ (0, null), which matches an empty corpus scoring no
    * rows.
    */
  def readStats(spark: SparkSession, root: String): DataFrame = {
    val path = statsPath(root)
    if (!StoragePaths.exists(spark, path))
      spark.range(1).select(lit(0L).as("n_docs"),
        lit(null).cast("double").as("avgdl"))
    else spark.read.parquet(path)
      .agg(sum("n_docs").as("n_docs"),
        (sum("sum_dl").cast("double") / sum("n_docs")).as("avgdl"))
  }

  /** Per-term stored document frequency of the given terms — a TERM-WIDTH
    * pruned read: parquet prunes the posting payload columns out of the
    * scan, so counting a term's df costs a fraction of fetching its
    * postings. The [[searchStore]] stop-term guard's measurement pass.
    */
  def storedDf(spark: SparkSession, root: String,
      terms: DataFrame): DataFrame =
    StoragePaths.prunedStore(spark, postingsPath(root), "term", terms,
      StructType(Seq(StructField("term", StringType))),
      excludeBatchId = None, semiJoinKeys = true)
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** Rank the fixed query batch against the accumulated index through the
    * shared [[Retrieval.scoreTf]] seam. With `maxTermDf = None` (the
    * default) this equals `Retrieval.bm25TopK` over the admitted corpus
    * exactly.
    *
    * Exact BM25 must fetch EVERY posting of each query term, so one
    * stop-word-like term (df ≈ N) makes one probe read the whole store —
    * unbounded per query however bucketed the layout is. `maxTermDf`
    * bounds it with the [[graft.ops.Dedup.MaxShingleDf]] discipline: a
    * term stored in more than `maxTermDf` documents is dropped from the
    * query vocabulary BEFORE the posting fetch, justified by BM25 itself
    * (the Lucene-convention IDF of a df ≈ N term is ~0, so its
    * contribution is noise-sized). The guard's df pre-count reads only
    * the `term` column of the touched buckets ([[storedDf]]), so it costs
    * term-width I/O, never posting-width. DOCUMENTED DIVERGENCE from the
    * uncapped search: a dropped term contributes exactly zero (not
    * epsilon) and no longer counts toward `n_hit_terms`, so a document
    * matching ONLY stop terms leaves the result set — asserted in
    * `IncrementalBm25Spec`.
    */
  def searchStore(spark: SparkSession, root: String,
      k: Int = graft.ops.Portable.Bm25TopK,
      maxTermDf: Option[Long] = None): DataFrame =
    searchStoreWith(spark, root,
      graft.ops.Portable.bm25Queries.map { case (q, ts) => (q.toLong, ts) },
      k, maxTermDf)

  /** [[searchStore]] for an ARBITRARY query batch — the store-backed twin
    * of [[Retrieval.bm25TopKWith]], same driver-side-constant framing.
    */
  def searchStoreWith(spark: SparkSession, root: String,
      queryBatch: Seq[(Long, Seq[String])],
      k: Int = graft.ops.Portable.Bm25TopK,
      maxTermDf: Option[Long] = None): DataFrame = {
    require(queryBatch.nonEmpty && queryBatch.forall(_._2.nonEmpty),
      "searchStoreWith: every query needs at least one term")
    val queries = Retrieval.queriesDfOf(spark, queryBatch)
    val terms = maxTermDf match {
      case None => queries.select("term")
      case Some(cap) =>
        queries.select("term").join(
          broadcast(storedDf(spark, root, queries.select("term"))
            .filter(col("df") > cap).select("term")),
          Seq("term"), "left_anti")
    }
    val tf = priorPostings(spark, root, terms)
      .localCheckpoint() // feeds both df and the scoring join
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    Retrieval.scoreTf(tf, df, readStats(spark, root), queries, k,
      queryBatch.map(_._2.size).max)
  }

  /** Drain the landing dir (Trigger.AvailableNow), indexing each
    * micro-batch. Returns the accumulated posting store.
    *
    * A FRESH checkpoint over a store that still holds `batch>=0`
    * directories fails loudly: the new era's batch ids restart at 0, so
    * its writes would silently overwrite the previous era's partitions
    * (and its own-partition-excluded guard reads would miss them).
    * Re-entry is via compaction — [[Bm25Maintenance.compact]] folds all
    * history to `batch=-1`, below every epoch — after which any number
    * of fresh eras may append, one era per compaction.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      docSchema: StructType): DataFrame = {
    Drain.run(spark, "IncrementalBm25.run",
      spark.readStream.schema(docSchema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("doc_id")
      val guarded = uniq.join(
        priorDocIds(spark, root, uniq.select("doc_id"), batchId),
        Seq("doc_id"), "left_anti")
        .localCheckpoint() // one guard decision; three writes below
      if (!guarded.isEmpty) {
        val (postings, delta) = indexBatch(guarded)
        StoragePaths.writeBucketedStoreBatch(spark, postingsPath(root),
          postings, "term", batchId, NumBuckets)
        delta.coalesce(1).write.mode("overwrite")
          .parquet(s"${statsPath(root)}/batch=$batchId")
        StoragePaths.writeBucketedStoreBatch(spark, decidedPath(root),
          guarded.select("doc_id"), "doc_id", batchId, NumBuckets,
          legacyFlatFallback = false)
      }
    }
    StoragePaths.readOrEmpty(spark, postingsPath(root), StructType(Seq(
      StructField("term", StringType), StructField("doc_id", LongType),
      StructField("tf", LongType), StructField("dl", LongType))))
  }
}
