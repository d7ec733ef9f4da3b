package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.Pq

/** Incremental product-quantization index — the compressed-code analogue
  * of [[IncrementalAnnIndex]]: embeddings arrive continuously; the
  * sub-quantizer codebooks are trained by the BOOTSTRAP batch and frozen
  * (FAISS trains a `ProductQuantizer` once, then `add` only encodes); each
  * batch is encoded shuffle-free through the native `graft_pq_encode`
  * kernel and its 6-byte code rows append to the store. The store IS the
  * index: at 10^10 vectors it holds ~60 GB of codes where the raw
  * embeddings are 2.5 TB — the difference between an index that fits hot
  * storage and one that doesn't.
  *
  * House contracts, inherited deliberately:
  *  - bootstrap on the first NON-EMPTY batch (store-absence keyed, never
  *    `batchId == 0` — an empty epoch 0 must not brick the stream), with
  *    overwrite-idempotent codebook writes and a loud entry-count
  *    re-validation on every read;
  *  - first-write-wins on re-landed vec_ids via the id-bucketed
  *    membership probe ([[IncrementalAnnIndex.priorIds]] — the code store
  *    uses the same `batch=N/id_bucket=B` layout and `_id_buckets`
  *    marker, so maintenance can re-bucket it as it grows);
  *  - per-batch overwrite directories for at-least-once replay.
  *
  * [[searchStore]] answers ADC top-k against the ACCUMULATED codes with
  * the frozen codebook — the shared [[Pq.adcSearch]] code path, so a
  * single ordered drain reproduces [[Pq.adcTopK]] exactly when the
  * bootstrap batch carries the seed vectors (pinned in the spec).
  */
object IncrementalPqIndex {

  /** Schema of the code store (plus the `id_bucket`/`batch` layout cols). */
  val CodeSchema: StructType = StructType(
    StructField("vec_id", LongType) +:
      ((0 until Pq.NumSubspaces).map(m => StructField(s"code_$m", LongType)) :+
        StructField("pq_code", LongType)))

  /** Persist a trained codebook `(m, k, cvec, cnorm2)`. */
  def writeCodebook(spark: SparkSession, book: Seq[Pq.CodebookEntry],
      bookPath: String): Unit = {
    import spark.implicits._
    book.map(c => (c.m, c.k, c.cvec, c.cnorm2))
      .toDF("m", "k", "cvec", "cnorm2")
      .coalesce(1).write.mode("overwrite").parquet(bookPath)
  }

  /** The frozen codebook, re-validated on every read: a partial write from
    * a crashed bootstrap fails loudly instead of encoding garbage.
    */
  def readCodebook(spark: SparkSession, bookPath: String): Seq[Pq.CodebookEntry] = {
    import spark.implicits._
    val book = spark.read.parquet(bookPath)
      .select("m", "k", "cvec", "cnorm2")
      .as[(Int, Int, Array[Float], Double)].collect()
      .map { case (m, k, v, n2) => Pq.CodebookEntry(m, k, v, n2) }.toSeq
    require(book.size == Pq.NumSubspaces * Pq.CodebookSize,
      s"IncrementalPqIndex: codebook at $bookPath holds ${book.size} " +
        s"entries, need ${Pq.NumSubspaces * Pq.CodebookSize} — partial " +
        "bootstrap write; rebuild the codebook store")
    book
  }

  /** ADC top-k of `(vec_id, embedding)` queries against the accumulated
    * code store — the shared [[Pq.adcSearch]] path with the frozen
    * codebook. Reads the code columns only (the store's layout columns
    * prune away).
    */
  def searchStore(spark: SparkSession, codePath: String, bookPath: String,
      queries: DataFrame, k: Int = graft.ops.Similarity.TopK): DataFrame = {
    val book = readCodebook(spark, bookPath)
    val codes = spark.read.parquet(codePath)
      .select("vec_id", (0 until Pq.NumSubspaces).map(m => s"code_$m"): _*)
    Pq.adcSearch(codes, queries, book, k)
  }

  /** Drain the landing dir, training the codebook on the bootstrap batch
    * and encode-appending every batch against it. Returns the code store.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      bookPath: String,
      codePath: String,
      embSchema: StructType,
      numIdBuckets: Int = IncrementalAnnIndex.NumIdBuckets): DataFrame = {
    val book = Drain.frozen(spark, bookPath) { uniq =>
      // the first non-empty batch must carry the seed vec_ids
      val book = Pq.codebook(uniq)
      require(book.size == Pq.NumSubspaces * Pq.CodebookSize,
        s"IncrementalPqIndex bootstrap: got ${book.size} codebook " +
          s"entries, need ${Pq.NumSubspaces * Pq.CodebookSize} — " +
          s"the bootstrap batch must contain the seed vec_ids " +
          s"(< ${Pq.CodebookSize})")
      writeCodebook(spark, book, bookPath)
    }(readCodebook(spark, bookPath))
    Drain.run(spark, "IncrementalPqIndex.run",
      spark.readStream.schema(embSchema).parquet(landingDir), checkpointDir,
      Seq(codePath)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("vec_id")
      val codebook = book(uniq)
      val storeBuckets = IncrementalAnnIndex.bucketCount(spark, codePath)
      // first write wins for a re-landed vec_id (FAISS add semantics)
      val fresh =
        if (storeBuckets.isDefined)
          uniq.join(
            IncrementalAnnIndex.priorIds(spark, codePath, uniq, batchId),
            Seq("vec_id"), "left_anti")
        else uniq
      val buckets = storeBuckets.getOrElse(numIdBuckets)
      Pq.codesWith(fresh, codebook)
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("vec_id"), buckets))
        .repartition(col("id_bucket"))
        .write.mode("overwrite").partitionBy("id_bucket")
        .parquet(s"$codePath/batch=$batchId")
      // marker AFTER the first data write: marker-present ⇒
      // data-present (the house crash-window contract)
      if (storeBuckets.isEmpty)
        StoragePaths.writeSmallFile(spark,
          s"$codePath/${IncrementalAnnIndex.IdBucketsMarker}",
          buckets.toString)
    }
    StoragePaths.readOrEmpty(spark, codePath, CodeSchema)
  }
}
