package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.{Pq, Similarity}

/** Incremental residual IVFPQ index — the streaming twin of
  * [[Pq.ivfpqTopK]] and the composition FAISS actually ships at billion
  * scale (`IVFxx,PQyy` with `by_residual=true`): embeddings arrive
  * continuously; the BOOTSTRAP batch trains BOTH frozen quantizers — the
  * coarse leaders and the residual sub-quantizer codebooks (FAISS trains
  * once, then `add` only assigns and encodes); each batch is assigned
  * against the frozen leaders, residual-encoded through the native
  * `graft_pq_encode` kernel, and its `(vec_id, list_id, 6-byte codes)`
  * rows append to the id-bucketed store. The store IS the index: no
  * vector is retained — at 10^10 vectors that is ~80 GB of list-tagged
  * codes standing in for 2.5 TB of raw embeddings, with search I/O
  * further pruned to the probed lists.
  *
  * House contracts, inherited deliberately:
  *  - bootstrap on the first NON-EMPTY batch (store-absence keyed), with
  *    overwrite-idempotent quantizer writes and loud re-validation on
  *    every read ([[IncrementalPqIndex]]'s codebook contract, applied to
  *    both quantizers);
  *  - first-write-wins on re-landed vec_ids via the shared id-bucketed
  *    membership probe;
  *  - per-batch overwrite directories for at-least-once replay.
  *
  * [[searchStore]] probes the frozen leaders for each query's nearest
  * lists, caps each probed list at its `maxListOccupancy` lowest stored
  * vec_ids (the batch operator's own guard — a hot list costs its cap,
  * never its size), and scores candidates through the SHARED
  * [[Pq.residualAdcRank]] path — so a single ordered drain reproduces
  * [[Pq.ivfpqTopK]] exactly when the bootstrap batch carries the seed
  * vectors (pinned in the spec).
  */
object IncrementalIvfPqIndex {

  /** Schema of the code store (plus the `id_bucket`/`batch` layout cols). */
  val CodeSchema: StructType = StructType(
    StructField("vec_id", LongType) +: StructField("list_id", LongType) +:
      ((0 until Pq.NumSubspaces).map(m => StructField(s"code_$m", LongType)) :+
        StructField("pq_code", LongType)))

  def leaderPath(root: String): String = s"$root/leaders"
  def bookPath(root: String): String = s"$root/book"
  def codePath(root: String): String = s"$root/codes"

  /** The frozen coarse quantizer `(list_id, lvec, lnorm)`, re-validated on
    * every read — a partial bootstrap write fails loudly instead of
    * routing every vector to a truncated list set.
    */
  def readLeaders(spark: SparkSession, root: String): DataFrame = {
    val l = spark.read.parquet(leaderPath(root))
    val n = l.count()
    require(n == Similarity.NumLists.toLong,
      s"IncrementalIvfPqIndex: leader store at ${leaderPath(root)} holds " +
        s"$n lists, need ${Similarity.NumLists} — partial bootstrap " +
        "write; rebuild the quantizers")
    l
  }

  /** ADC top-k of `(vec_id, embedding)` queries against the accumulated
    * code store: probe the frozen leaders ([[Similarity.probeLists]] —
    * the batch operator's own construction), cap each probed list at its
    * `maxListOccupancy` lowest stored vec_ids, score through the shared
    * [[Pq.residualAdcRank]]. A query id equal to a stored id is excluded
    * (self-match).
    */
  def searchStore(spark: SparkSession, root: String, queries: DataFrame,
      k: Int = Similarity.TopK,
      maxListOccupancy: Int = Similarity.MaxListOccupancy): DataFrame = {
    val leaders = readLeaders(spark, root)
    val book = IncrementalPqIndex.readCodebook(spark, bookPath(root))
    val codes = spark.read.parquet(codePath(root))
      .select("vec_id",
        "list_id" +: (0 until Pq.NumSubspaces).map(m => s"code_$m"): _*)
    // the store's capped lists: rank by vec_id inside each probed list —
    // the optimizer runs the rank-limit as WindowGroupLimit (bounded
    // per-task state), and only id-width columns ride the window
    val kept = codes.select("vec_id", "list_id")
      .withColumn("lrnk", row_number().over(Window.partitionBy("list_id")
        .orderBy("vec_id")))
      .filter(col("lrnk") <= maxListOccupancy)
      .select("vec_id", "list_id")
    val probes = Similarity.probeLists(Similarity.withNorms(queries), leaders)
    val cand = probes.join(kept, Seq("list_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "list_id", "vec_id")
    Pq.residualAdcRank(cand, codes, queries, leaders, book, k)
  }

  /** Drain the landing dir, training both frozen quantizers on the
    * bootstrap batch and assign-encode-appending every batch against
    * them. Returns the code store.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      embSchema: StructType,
      numIdBuckets: Int = IncrementalAnnIndex.NumIdBuckets): DataFrame = {
    val codes = codePath(root)
    val quantizers = Drain.frozen(spark, bookPath(root)) { uniq =>
      // leaders FIRST (the residual codebook is defined relative to
      // them), book LAST — book-present ⇒ leaders-present, so the
      // store-absence key covers both quantizers with one probe
      val book = Pq.residualCodebook(uniq)
      require(book.size == Pq.NumSubspaces * Pq.CodebookSize,
        s"IncrementalIvfPqIndex bootstrap: got ${book.size} codebook " +
          s"entries, need ${Pq.NumSubspaces * Pq.CodebookSize} — " +
          "the bootstrap batch must carry the leader vec_ids " +
          s"(< ${Similarity.NumLists}) and the residual seed ids " +
          s"(${Similarity.NumLists} until " +
          s"${Similarity.NumLists + Pq.CodebookSize})")
      // validate BOTH quantizers before ANY durable write: the
      // residual seeds can all be present while leader vec_ids are
      // not, and a leader store written short would poison the root
      // (book-present skips bootstrap forever, readLeaders then
      // fails every batch — no later batch could heal it)
      val ldrs = Similarity.ivfLeaders(uniq).localCheckpoint()
      require(ldrs.count() == Similarity.NumLists.toLong,
        s"IncrementalIvfPqIndex bootstrap: got ${ldrs.count()} " +
          s"leaders, need ${Similarity.NumLists} — the bootstrap " +
          s"batch must carry the leader vec_ids " +
          s"(< ${Similarity.NumLists}); rejecting the batch " +
          "without writing")
      ldrs.coalesce(1).write.mode("overwrite")
        .parquet(leaderPath(root))
      IncrementalPqIndex.writeCodebook(spark, book, bookPath(root))
    }((readLeaders(spark, root),
      IncrementalPqIndex.readCodebook(spark, bookPath(root))))
    Drain.run(spark, "IncrementalIvfPqIndex.run",
      spark.readStream.schema(embSchema).parquet(landingDir), checkpointDir,
      Seq(codes)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("vec_id")
      val (leaders, book) = quantizers(uniq)
      val storeBuckets = IncrementalAnnIndex.bucketCount(spark, codes)
      // first write wins for a re-landed vec_id (FAISS add semantics)
      val fresh =
        if (storeBuckets.isDefined)
          uniq.join(
            IncrementalAnnIndex.priorIds(spark, codes, uniq, batchId),
            Seq("vec_id"), "left_anti")
        else uniq
      val buckets = storeBuckets.getOrElse(numIdBuckets)
      // index ADD stores EVERY vector's codes (the occupancy cap is a
      // SEARCH guard, applied by searchStore over the probed lists)
      val assign = Similarity.assignWithLeaders(fresh, leaders)
        .select("vec_id", "list_id")
      Pq.residualCodesFor(assign, fresh, leaders, book)
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("vec_id"), buckets))
        .repartition(col("id_bucket"))
        .write.mode("overwrite").partitionBy("id_bucket")
        .parquet(s"$codes/batch=$batchId")
      // marker AFTER the first data write: marker-present ⇒
      // data-present (the house crash-window contract)
      if (storeBuckets.isEmpty)
        StoragePaths.writeSmallFile(spark,
          s"$codes/${IncrementalAnnIndex.IdBucketsMarker}",
          buckets.toString)
    }
    StoragePaths.readOrEmpty(spark, codes, CodeSchema)
  }
}
