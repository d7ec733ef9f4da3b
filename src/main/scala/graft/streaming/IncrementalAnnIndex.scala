package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructField, StructType}

import graft.ops.{Dedup, Similarity}

/** Incremental ANN index maintenance — the similarity-family analogue of
  * [[IncrementalCuration]]: embeddings arrive continuously, and the IVF
  * index grows by ASSIGNMENT against frozen leaders (the FAISS `add`
  * semantics), never by retraining the coarse quantizer per batch.
  *
  * Stores:
  *  - leader store: the trained `(list_id, lvec, lnorm)` centroids,
  *    written by the BOOTSTRAP batch (the first non-empty one, [[Similarity
  *    .trainLeaders]]) with overwrite — a replay of the bootstrap epoch
  *    retrains and rewrites the identical frame, so a crash mid-write
  *    cannot leave a partial leader set behind; every read re-validates
  *    the leader count. Frozen afterwards: retraining on later data would
  *    silently re-route earlier assignments.
  *  - list store: `(vec_id, list_id, list_cos, embedding, norm)` rows,
  *    appended per batch in one pass ([[Similarity
  *    .assignWithLeadersRetaining]]), laid out as
  *    `batch=N/id_bucket=B/` with `B = pmod(xxhash64(vec_id), buckets)`.
  *    The vector RIDES IN THE LIST ROW (how IVF lists are physically laid
  *    out), so probes read one store; serving snapshots re-partition by
  *    `list_id` so similarity probes prune to their nprobe lists.
  *
  * Re-landed vec_ids (a re-crawl) are IGNORED — first write wins, matching
  * FAISS `add` (an updated embedding needs an explicit remove+add). The
  * membership check ([[priorIds]]) is a vec_id anti-join against ONLY the
  * batch's touched id buckets: static partition pruning limits the read to
  * `touched/buckets` of the store's files, and parquet column pruning to
  * the `vec_id` column within them — the hash-index probe shape, the same
  * touched-slice contract as [[IncrementalCuration.newDuplicates]]. The
  * bucket count is a store property (`_id_buckets` marker, written when
  * the store is created and preserved by compaction), so maintenance can
  * RE-BUCKET a grown store ([[StoreMaintenance.compact]] with `bucketBy`)
  * to keep bucket size bounded — per-batch membership I/O is then
  * ∝ batch × bounded-bucket-size, independent of corpus history.
  *
  * Per-batch cost: one broadcast of [[Similarity.NumLists]] centroids ×
  * one linear scan of the batch, plus the bucket-pruned membership probe.
  * Exactly-once follows the house pattern: checkpointed file tracking +
  * per-batch overwrite directories.
  */
object IncrementalAnnIndex {

  /** Schema of the list store. */
  val ListSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("list_id", LongType),
    StructField("list_cos", DoubleType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("norm", DoubleType)))

  /** Default id-bucket count for a fresh store. A store property, not a
    * session one: every batch of a store MUST bucket with the same count
    * or membership probes would look in the wrong partitions and re-admit
    * stored ids. The store's actual count lives in its [[IdBucketsMarker]]
    * file; this default only seeds stores that don't exist yet. Sized so a
    * maintenance batch touches a strict subset; compaction re-buckets as
    * the store grows (bucket size, not bucket count, is the bounded
    * quantity).
    */
  val NumIdBuckets = 64

  /** Store-root marker file recording the id-bucket count (leading `_`
    * keeps it out of partition discovery).
    */
  val IdBucketsMarker = "_id_buckets"

  /** `pmod(xxhash64(vec_id), buckets)` — the bucket a vector's membership
    * row lives under. Int-typed to round-trip exactly through partition
    * directory discovery.
    */
  def idBucket(vecId: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(vecId), lit(buckets.toLong)).cast("int")

  /** The store's id-bucket count, from its marker file. None = a store
    * that doesn't exist yet, or a legacy flat layout.
    */
  def bucketCount(spark: SparkSession, listPath: String): Option[Int] =
    StoragePaths.readSmallFile(spark, s"$listPath/$IdBucketsMarker")
      .map(_.trim.toInt)

  /** Stored vec_ids a batch could collide with, read with static partition
    * pruning to the batch's TOUCHED id buckets (collecting at most
    * `buckets` distinct bucket numbers to the driver — the same bounded
    * collect as the k-means centroid fold). Excludes `excludeBatchId`'s
    * own partition: foreachBatch is at-least-once, and a replay after a
    * crash-post-write must not anti-join a batch against its own
    * previously written rows (that would rewrite `batch=N` empty — silent
    * data loss). A store without a bucket marker (legacy flat layout)
    * falls back to the unpruned column scan — correct, just not
    * history-free.
    */
  def priorIds(
      spark: SparkSession,
      listPath: String,
      batchIds: DataFrame,
      excludeBatchId: Long): DataFrame =
    StoragePaths.prunedStore(spark, listPath, "vec_id", batchIds,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType))),
      Some(excludeBatchId), semiJoinKeys = false)

  private[streaming] def readLeaders(spark: SparkSession, leaderPath: String): DataFrame = {
    val cents = spark.read.parquet(leaderPath)
    val n = cents.count()
    require(n == Similarity.NumLists.toLong,
      s"IncrementalAnnIndex: leader store at $leaderPath holds $n " +
        s"centroids, expected ${Similarity.NumLists} — partial or foreign " +
        "write; rebuild the leader store")
    cents
  }

  /** One probe against the accumulated stores: for each query vector, rank
    * the `nprobe` nearest lists by leader cosine, then rank the kept
    * members of those lists. Lists keep their `maxListOccupancy` lowest
    * vec_ids, exactly like the batch path ([[Similarity.MaxListOccupancy]])
    * — so a store grown from N batches probes identically to a batch index
    * built over the union.
    */
  def topKFromStore(
      spark: SparkSession,
      leaderPath: String,
      listPath: String,
      queries: DataFrame,
      k: Int = Similarity.TopK,
      nprobe: Int = Similarity.NProbe,
      maxListOccupancy: Int = Similarity.MaxListOccupancy): DataFrame = {
    val cents = readLeaders(spark, leaderPath)
    val lists = spark.read.parquet(listPath).drop("batch", "id_bucket")
      .withColumn("lrnk", row_number().over(
        Window.partitionBy("list_id").orderBy("vec_id")))
      .filter(col("lrnk") <= maxListOccupancy)
      .select("vec_id", "list_id", "embedding", "norm")
    val q = Similarity.withNorms(queries)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"), col("list_id"),
        (expr(Dedup.dot("embedding", "lvec")) / (col("norm") * col("lnorm")))
          .as("leader_cos"))
      .withColumn("prnk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("leader_cos").desc, col("list_id"))))
      .filter(col("prnk") <= nprobe)
      .select("query_id", "qvec", "qnorm", "list_id")
    // each stored vector lives in exactly one list, so every
    // (query, neighbor) pair joins at most once — no dedup needed
    probes.join(lists, Seq("list_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(Dedup.dot("qvec", "embedding")) / (col("qnorm") * col("norm")))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** Drain the landing dir, training leaders on the bootstrap batch and
    * assigning every subsequent batch against them. Returns the list
    * store.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      leaderPath: String,
      listPath: String,
      embSchema: StructType,
      kmeansIters: Int = 0,
      numIdBuckets: Int = NumIdBuckets): DataFrame = {
    val leaders = Drain.frozen(spark, leaderPath) { uniq =>
      // the frozen leaders keep a store re-entering service under a fresh
      // checkpoint (post-compaction) on its own quantizer — no retrain,
      // no re-routing of existing assignments. A partial leader write
      // from a crashed bootstrap is not silently trusted — readLeaders
      // fails loudly on a wrong centroid count.
      val trained = Similarity.trainLeaders(uniq, kmeansIters)
      val n = trained.count()
      require(n == Similarity.NumLists.toLong,
        s"IncrementalAnnIndex bootstrap: got $n leaders, need " +
          s"${Similarity.NumLists} — the bootstrap batch must " +
          s"contain the seed vec_ids (< ${Similarity.NumLists})")
      trained.write.mode("overwrite").parquet(leaderPath)
    }(readLeaders(spark, leaderPath))
    Drain.run(spark, "IncrementalAnnIndex.run",
      spark.readStream.schema(embSchema).parquet(landingDir), checkpointDir,
      Seq(listPath)) { (batch, batchId) =>
      // one row per vec_id even within the drain (a file and its
      // re-crawl can land in the same AvailableNow batch) — BEFORE
      // bootstrap too, or duplicated seed rows double the leader set
      val uniq = batch.dropDuplicates("vec_id")
      val cents = leaders(uniq)
      // the STORE's bucket count governs both the probe and the
      // write — a compacted store re-entering service keeps its
      // marker's count even if the session default changed, or the
      // probe would look in the wrong partitions and re-admit ids.
      // The marker is written AFTER the first data write (below), so
      // marker-present ⇒ data-present. Flatness is a STRUCTURAL probe
      // (data files directly under batch=N), not marker absence: a
      // genuine legacy store stays flat (batch layouts cannot mix
      // under one root, and correctness only needs the unpruned
      // fallback probe), while a bucketed store whose marker write
      // was lost to a crash replays into the bucketed branch and
      // self-heals instead of being demoted to flat forever.
      val storeBuckets = bucketCount(spark, listPath)
      val legacyFlat = storeBuckets.isEmpty &&
        StoragePaths.isFlatLayout(spark, listPath)
      // first write wins for a re-landed vec_id (FAISS add
      // semantics), checked against only the touched id buckets
      // (see priorIds).
      val fresh =
        if (storeBuckets.isDefined || legacyFlat)
          uniq.join(priorIds(spark, listPath, uniq, batchId),
            Seq("vec_id"), "left_anti")
        else uniq
      val assigned = Similarity.assignWithLeadersRetaining(fresh, cents)
        .select("vec_id", "list_id", "list_cos", "embedding", "norm")
      if (legacyFlat)
        assigned.write.mode("overwrite")
          .parquet(s"$listPath/batch=$batchId")
      else {
        val buckets = storeBuckets.getOrElse(numIdBuckets)
        // repartition ON the bucket column: one file per touched
        // bucket per batch (a bucket lives in exactly one task), not
        // one per (task × bucket)
        assigned
          .withColumn("id_bucket", idBucket(col("vec_id"), buckets))
          .repartition(col("id_bucket"))
          .write.mode("overwrite").partitionBy("id_bucket")
          .parquet(s"$listPath/batch=$batchId")
        if (storeBuckets.isEmpty)
          StoragePaths.writeSmallFile(
            spark, s"$listPath/$IdBucketsMarker", buckets.toString)
      }
    }
    StoragePaths.readOrEmpty(spark, listPath, ListSchema)
  }
}
