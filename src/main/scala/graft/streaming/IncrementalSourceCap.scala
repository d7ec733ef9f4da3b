package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.{Portable, Sampling}

/** Incremental per-source document cap — the ongoing-crawl shape of
  * [[Sampling.sourceCap]]: documents stream in continuously, and each
  * source (domain) may contribute at most `cap` documents to the corpus,
  * EVER. The batch operator elects the `cap` lowest-salted-hash documents
  * per source over a closed corpus; on an open stream the analogue is
  * FIRST-ARRIVAL-WINS — a source's earliest-landing documents hold its
  * budget, later ones are dropped, and a re-crawl neither re-decides nor
  * double-spends. (The two paths admit the same NUMBER per source but may
  * differ in WHICH documents survive — the same documented divergence as
  * the chunk-dedup family's arrival-order vs lowest-id election.)
  *
  * Stores, per the house contract (`batch=N/id_bucket=B` + marker,
  * per-batch overwrite, own-partition exclusion for replays):
  *
  *  - COUNTS: per-batch `(source, n_admitted)` DELTA rows, bucketed by
  *    `xxhash64(source)`. A source's spent budget = the SUM of its deltas
  *    across batches — reading it is touched-bucket pruned to the batch's
  *    own sources, so per-batch I/O scales with the batch's source set,
  *    never with the corpus-wide domain count (unbounded at crawl scale).
  *    Batch-dir growth is folded by [[compactCounts]] (delta-summing, one
  *    row per source); the decided/corpus stores fold through
  *    [[StoreMaintenance.compact]].
  *  - DECIDED: every seen doc_id (admitted or dropped), id-bucketed — the
  *    first-write-wins re-crawl guard. Dropped ids must be covered too:
  *    a re-crawl of a dropped document stays dropped (its source's cap
  *    was the reason; caps never refund).
  *  - CORPUS: the admitted documents, plain `batch=N` directories.
  *
  * Within a batch the admission order is the batch operator's own salted
  * hash (so a single drain over a closed corpus reproduces
  * [[Sampling.sourceCap]] exactly — pinned in the spec): rank per source
  * by `(cap_hash, doc_id)`, shed to `cap` via a rank-limit the optimizer
  * runs as a two-phase WindowGroupLimit, then admit
  * `rank ≤ cap − already_spent` against the count relation (AQE-sized
  * join — see [[admitBatch]]).
  */
object IncrementalSourceCap {

  /** Default bucket count for the source-hash count store. */
  val NumSourceBuckets = 64

  val CountsSchema: StructType = StructType(Seq(
    StructField("source", StringType),
    StructField("n_admitted", LongType)))

  def countsPath(root: String): String = s"$root/counts"
  def decidedPath(root: String): String = s"$root/decided"
  def corpusPath(root: String): String = s"$root/corpus"

  /** Every accumulating store under a cap root — the carry list
    * [[SourceCapMaintenance]] and the fresh-era guard share, in one
    * place so a new store cannot be added to the writes without joining
    * both.
    */
  def storePaths(root: String): Seq[String] =
    Seq(countsPath(root), decidedPath(root), corpusPath(root))

  /** Spent budget per source for the batch's own source set, read with
    * touched-bucket pruning and summed across batch deltas (excluding the
    * replaying batch's own partition). One row per touched source.
    */
  def spentBudget(
      spark: SparkSession,
      root: String,
      batchSources: DataFrame,
      excludeBatchId: Long): DataFrame = {
    val path = countsPath(root)
    IncrementalAnnIndex.bucketCount(spark, path) match {
      case Some(n) =>
        val touched = batchSources
          .select(IncrementalAnnIndex.idBucket(xxhash64(col("source")), n)
            .as("id_bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        StoragePaths.readTouchedBuckets(spark, path, "id_bucket", touched)
          .map(_.filter(col("batch").cast("long") =!= excludeBatchId)
            .groupBy("source").agg(sum("n_admitted").as("n_spent")))
          .getOrElse(StoragePaths.emptyOf(spark, StructType(Seq(
            StructField("source", StringType),
            StructField("n_spent", LongType)))))
      case None =>
        if (!StoragePaths.exists(spark, path))
          StoragePaths.emptyOf(spark, StructType(Seq(
            StructField("source", StringType),
            StructField("n_spent", LongType))))
        else spark.read.parquet(path)
          .filter(col("batch").cast("long") =!= excludeBatchId)
          .groupBy("source").agg(sum("n_admitted").as("n_spent"))
    }
  }

  /** Fold the counts store's per-batch deltas into ONE summed delta per
    * source at `batch=-1` under `destPath` (fresh — a crashed compaction's
    * partial leavings fail fast, the [[StoreMaintenance.compact]]
    * contract), re-bucketed by the store's own `xxhash64(source)` key —
    * [[StoreMaintenance.compact]] buckets on a raw column and would place
    * the rows where [[spentBudget]]'s touched-bucket probe never looks.
    * The spent-budget read SUMS deltas, so the fold is exact; sum
    * preservation is verified before the marker lands. Returns the folded
    * row count (one per source ever admitted).
    */
  def compactCounts(
      spark: SparkSession,
      srcPath: String,
      destPath: String,
      numFiles: Int,
      buckets: Option[Int] = None): Long = {
    require(numFiles > 0,
      s"compactCounts: numFiles must be positive, got $numFiles")
    val n = buckets
      .orElse(IncrementalAnnIndex.bucketCount(spark, srcPath))
      .getOrElse(NumSourceBuckets)
    val src = spark.read.parquet(srcPath).drop("batch", "id_bucket")
    val srcSum = src.agg(coalesce(sum("n_admitted"), lit(0L)))
      .collect().head.getLong(0)
    src.groupBy("source").agg(sum("n_admitted").as("n_admitted"))
      .withColumn("id_bucket",
        IncrementalAnnIndex.idBucket(xxhash64(col("source")), n))
      .repartition(numFiles, col("id_bucket"))
      .write.mode("errorifexists").partitionBy("id_bucket")
      .parquet(s"$destPath/batch=${StoreMaintenance.CompactedBatch}")
    val dst = spark.read.parquet(destPath)
    val dstSum = dst.agg(coalesce(sum("n_admitted"), lit(0L)))
      .collect().head.getLong(0)
    require(dstSum == srcSum,
      s"compactCounts: folded budget $dstSum of $srcSum — aborting " +
        s"before the marker write; delete $destPath and retry")
    // marker LAST: marker-present ⇒ data-present (the house ordering)
    StoragePaths.writeSmallFile(spark,
      s"$destPath/${IncrementalAnnIndex.IdBucketsMarker}", n.toString)
    dst.count()
  }

  private val IdSchema = StructType(Seq(StructField("doc_id", LongType)))

  /** Already-decided doc_ids (admitted or dropped) among the batch's ids,
    * read with touched-bucket pruning — the first-write-wins re-crawl
    * guard, mirroring [[IncrementalChunkDedup.priorDocIds]].
    */
  def priorDocIds(
      spark: SparkSession,
      root: String,
      batchIds: DataFrame,
      excludeBatchId: Long): DataFrame =
    StoragePaths.prunedStore(spark, decidedPath(root), "doc_id", batchIds,
      IdSchema, Some(excludeBatchId), semiJoinKeys = false)

  /** One batch's outcome: the admitted documents, the per-source
    * admission deltas, and the funnel counts.
    */
  final case class BatchResult(
      admitted: DataFrame, deltas: DataFrame,
      nDocs: Long, nAdmitted: Long)

  /** Admit one re-crawl-guarded batch against the spent-budget relation —
    * separated from the streaming loop so the logic is testable without a
    * stream. `spent` carries `(source, n_spent)` for (at least) the
    * batch's sources; missing sources are treated as unspent.
    */
  def admitBatch(batch: DataFrame, spent: DataFrame,
      cap: Int = Sampling.SourceCapK): BatchResult = {
    require(cap > 0, s"admitBatch: cap must be positive, got $cap")
    val uniq = batch.dropDuplicates("doc_id")
    // the batch operator's own salted hash, so single-drain == batch op;
    // shed to the global constant `cap` first (two-phase WindowGroupLimit
    // — a hot source sheds locally before the shuffle), then admit
    // against the remaining budget
    val ranked = uniq
      .withColumn("cap_hash", expr(Portable.hexcastSpark(
        "concat('cap:', source, ':', CAST(doc_id AS STRING))")))
      .withColumn("src_rank", row_number().over(
        Window.partitionBy("source").orderBy("cap_hash", "doc_id")))
      .filter(col("src_rank") <= cap)
    // no broadcast hint on the spent relation: it is one row per TOUCHED
    // source — bounded by the batch, but a wide crawl batch drawn from
    // millions of distinct domains would ship millions of rows to every
    // task under a forced broadcast. AQE sees the actual relation size at
    // runtime and broadcasts exactly when it is small; above the
    // threshold the join rides the ranked side's existing source
    // partitioning
    val admitted = ranked
      .join(spent, Seq("source"), "left")
      .filter(col("src_rank") <= lit(cap.toLong) -
        coalesce(col("n_spent"), lit(0L)))
      .drop("cap_hash", "src_rank", "n_spent")
      .localCheckpoint()
    val deltas = admitted.groupBy("source")
      .agg(count(lit(1)).as("n_admitted")).localCheckpoint()
    BatchResult(admitted, deltas,
      nDocs = uniq.count(), nAdmitted = admitted.count())
  }

  /** Drain the landing dir (Trigger.AvailableNow), capping each source's
    * lifetime admissions. Returns the accumulated admitted corpus.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      docSchema: StructType,
      cap: Int = Sampling.SourceCapK,
      numBuckets: Int = NumSourceBuckets): DataFrame = {
    // a lost spent delta silently re-opens an exhausted source's budget;
    // re-entry is via SourceCapMaintenance, which folds history, summing
    // the deltas, to batch=-1
    val (counts, decided, corpus) =
      (countsPath(root), decidedPath(root), corpusPath(root))
    Drain.run(spark, "IncrementalSourceCap.run",
      spark.readStream.schema(docSchema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("doc_id")
      // first-write-wins on doc_id, kept AND dropped alike: a
      // re-crawl neither re-enters the corpus nor re-spends budget
      val guarded = uniq.join(
        priorDocIds(spark, root, uniq.select("doc_id"), batchId),
        Seq("doc_id"), "left_anti")
      val spent = spentBudget(spark, root,
        guarded.select("source"), batchId)
      val r = admitBatch(guarded, spent, cap)
      r.admitted.write.mode("overwrite")
        .parquet(s"$corpus/batch=$batchId")
      val cb = IncrementalAnnIndex.bucketCount(spark, counts)
      val cn = cb.getOrElse(numBuckets)
      r.deltas
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(xxhash64(col("source")), cn))
        .repartition(col("id_bucket"))
        .write.mode("overwrite").partitionBy("id_bucket")
        .parquet(s"$counts/batch=$batchId")
      // marker AFTER the first data write (the structural-probe heal
      // contract — see IncrementalChunkDedup)
      if (cb.isEmpty)
        StoragePaths.writeSmallFile(spark,
          s"$counts/${IncrementalAnnIndex.IdBucketsMarker}", cn.toString)
      val db = IncrementalAnnIndex.bucketCount(spark, decided)
      val dn = db.getOrElse(numBuckets)
      guarded.select("doc_id")
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("doc_id"), dn))
        .repartition(col("id_bucket"))
        .write.mode("overwrite").partitionBy("id_bucket")
        .parquet(s"$decided/batch=$batchId")
      if (db.isEmpty)
        StoragePaths.writeSmallFile(spark,
          s"$decided/${IncrementalAnnIndex.IdBucketsMarker}", dn.toString)
    }
    StoragePaths.readOrEmpty(spark, corpus, docSchema)
  }
}
