package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.ops.{Dedup, Similarity}

/** Incremental SemDeDup — the ongoing-crawl shape of
  * [[graft.ops.Similarity.semDedup]] (Abbas et al., arXiv:2303.09540):
  * new embedding batches are semantically deduped against everything the
  * corpus has admitted WITHOUT re-reading history, because the batch
  * operator's own reference relation is already bounded: a vector is only
  * ever compared against the `maxListOccupancy` LOWEST-id members of its
  * IVF list — at most `maxListOccupancy × NumLists` rows corpus-wide, a
  * CONSTANT. This module materializes exactly that relation as a HEAD
  * STORE and keeps it current per batch:
  *
  *   1. re-crawl guard: vec_ids already DECIDED — kept or dropped — are
  *      dropped whole (first write wins; the decided-ids store is
  *      id-bucketed so the probe is touched-bucket pruned —
  *      [[IncrementalAnnIndex.priorIds]]);
  *   2. assign the batch against the FROZEN bootstrap leaders
  *      ([[Similarity.assignWithLeadersRetaining]] — one broadcast, one
  *      linear scan);
  *   3. re-elect the head: stored head ∪ batch assignment, first
  *      `maxListOccupancy` per list by vec_id. The head includes dropped
  *      duplicates, exactly like the batch operator's head (which ranks
  *      every list member) — head membership is an ASSIGNMENT property,
  *      not a dedup outcome;
  *   4. dedup decision: a batch vector is DROPPED iff some lower-vec_id
  *      head member of its list clears the cosine threshold; `dup_of`
  *      records the lowest such id (same rule, shared constants, so the
  *      decision replays the batch operator bit-for-bit);
  *   5. writes: the per-batch decision ledger (the audit product), kept
  *      vectors into the id-bucketed list store (the membership relation
  *      and the admitted corpus), and the re-elected head generation.
  *
  * Per-batch cost: one bounded head read (≤ cap × lists rows), one
  * batch-linear assignment, one batch × head within-list join, one
  * bounded head write, and the id-bucket-pruned membership probe — no
  * term grows with corpus history. When landings arrive in vec_id order
  * the accumulated ledger equals [[Similarity.semDedup]] over the union
  * exactly (the head of "everything seen so far" restricted to ids below
  * any already-processed vector is the final head so restricted — later
  * batches only bring higher ids); out of order, decisions may differ in
  * WHICH copy of a duplicate family survives, never in the family being
  * caught (pinned in the spec).
  *
  * Replay safety follows the house pattern: every store reader excludes
  * the replaying batch's own partition (head generations are per-batch
  * directories, so a replay of batch N re-reads the pre-N head), and all
  * writes are per-batch overwrites.
  *
  * Resuming under a FRESH checkpoint (epoch ids restart at 0) goes
  * through [[SemDedupMaintenance]]'s carry (`adopt` / `compact`): the
  * accumulating stores (lists / decided / ledger) land at `batch=-1`
  * and the newest head becomes the `batch=-1` relation, so the new era's
  * generations supersede it. [[run]] refuses a fresh checkpoint while
  * the accumulating stores still hold `batch>=0` directories — the new
  * era's batch 0 would overwrite the old era's first ledger rows,
  * admitted vectors and decided ids.
  */
object IncrementalSemDedup {

  /** Schema of the per-batch decision ledger. */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("list_id", LongType),
    StructField("dup_of", LongType),
    StructField("kept", BooleanType)))

  /** Store sub-paths under one root: frozen leaders, the id-bucketed
    * admitted-vector store (the deduped corpus), the id-bucketed
    * decided-ids store (first-write-wins membership — it must cover
    * DROPPED ids too, or a re-crawl of a dropped vector is re-decided
    * and re-entered in the ledger), the bounded head generations, and
    * the decision ledger.
    */
  def leaderPath(root: String): String = s"$root/leaders"
  def listPath(root: String): String = s"$root/lists"
  def decidedPath(root: String): String = s"$root/decided"
  def headsPath(root: String): String = s"$root/heads"
  def ledgerPath(root: String): String = s"$root/ledger"

  /** The newest head generation below/after-excluding `excludeBatchId` —
    * a replay of batch N must see the pre-N head, not its own crashed
    * write. One `listStatus` of the heads root; the directory count is
    * bounded by batch count (compaction can fold old generations, but
    * reads only ever touch the newest, so growth costs listing only).
    */
  private def latestHeadBatch(
      spark: SparkSession, path: String, excludeBatchId: Long): Option[Long] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hp)) None
    else fs.listStatus(hp).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
      .filterNot(_ == excludeBatchId)
      .sorted.lastOption
  }

  /** The current bounded head relation `(vec_id, list_id, embedding,
    * norm)`; empty before the first batch.
    */
  def readHeads(spark: SparkSession, root: String,
      excludeBatchId: Long): Option[DataFrame] =
    latestHeadBatch(spark, headsPath(root), excludeBatchId)
      .map(b => spark.read.parquet(s"${headsPath(root)}/batch=$b"))

  /** One batch's outcome: the decision ledger, the kept (admitted) vector
    * rows, and the re-elected head to persist.
    */
  final case class BatchResult(
      ledger: DataFrame, admitted: DataFrame, newHead: DataFrame,
      nVectors: Long, nDropped: Long)

  /** Decide one assigned batch against the current head — separated from
    * the streaming loop so the logic is testable without a stream.
    * `assigned` carries `(vec_id, list_id, list_cos, embedding, norm)`
    * ([[Similarity.assignWithLeadersRetaining]]); `heads` is the current
    * bounded head relation (None before the first batch).
    */
  def dedupBatch(assigned: DataFrame, heads: Option[DataFrame],
      tau: Double = Similarity.NearDupCosine,
      maxListOccupancy: Int = Similarity.MaxListOccupancy): BatchResult = {
    val batch = assigned
      .select("vec_id", "list_id", "embedding", "norm").persist()
    batch.count() // eager: feeds the pool, the join, and the ledger
    val pool = heads.fold(batch)(h =>
      h.select("vec_id", "list_id", "embedding", "norm").unionByName(batch)
        .dropDuplicates("vec_id"))
    val newHead = pool
      .withColumn("lrnk", row_number().over(Window.partitionBy("list_id")
        .orderBy("vec_id")))
      .filter(col("lrnk") <= maxListOccupancy)
      .drop("lrnk")
      .persist()
    newHead.count() // eager: read by the dup join and the head write
    // broadcast the bounded head (≤ cap × lists rows): the join's only
    // equi-key is list_id (NumLists values), so a shuffled join would
    // push a hot list's every (member × head) pair through one task —
    // the [[Similarity.semDedupPlan]] reasoning, batch-shaped
    val dupOf = batch.as("a")
      .join(broadcast(newHead.as("h")),
        col("a.list_id") === col("h.list_id") &&
          col("h.vec_id") < col("a.vec_id") &&
          (expr(Dedup.dot("a.embedding", "h.embedding")) /
            (col("a.norm") * col("h.norm"))) >= tau)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(min(col("h.vec_id")).as("dup_of"))
    val ledger = batch.select("vec_id", "list_id")
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
      .localCheckpoint()
    val admitted = assigned
      .join(ledger.filter(col("kept")).select("vec_id"), Seq("vec_id"))
      .localCheckpoint()
    val headOut = newHead.localCheckpoint()
    batch.unpersist(blocking = false)
    newHead.unpersist(blocking = false)
    BatchResult(ledger, admitted, headOut,
      nVectors = ledger.count(),
      nDropped = ledger.filter(!col("kept")).count())
  }

  /** Drain the landing dir (Trigger.AvailableNow), semantically deduping
    * each micro-batch against the bounded head store. Returns the
    * accumulated decision ledger.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      embSchema: StructType,
      tau: Double = Similarity.NearDupCosine,
      kmeansIters: Int = 0,
      maxListOccupancy: Int = Similarity.MaxListOccupancy,
      numIdBuckets: Int = IncrementalAnnIndex.NumIdBuckets): DataFrame = {
    val (lists, heads, ledger) =
      (listPath(root), headsPath(root), ledgerPath(root))
    val decided = decidedPath(root)
    val leaders = Drain.frozen(spark, leaderPath(root)) { uniq =>
      val trained = Similarity.trainLeaders(uniq, kmeansIters)
      require(trained.count() == Similarity.NumLists.toLong,
        "IncrementalSemDedup bootstrap: the bootstrap batch must " +
          s"contain the seed vec_ids (< ${Similarity.NumLists})")
      trained.write.mode("overwrite").parquet(leaderPath(root))
    }(IncrementalAnnIndex.readLeaders(spark, leaderPath(root)))
    // the superseding heads store needs no guard of its own: every batch
    // writes it beside the three guarded stores, and the carry lands its
    // newest relation at batch=-1
    Drain.run(spark, "IncrementalSemDedup.run",
      spark.readStream.schema(embSchema).parquet(landingDir), checkpointDir,
      stores = Seq(ledger, lists, decided)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("vec_id")
      val cents = leaders(uniq)
      // first-write-wins on vec_id against the DECIDED store (kept
      // and dropped alike): a re-crawl neither re-decides nor
      // re-enters the ledger (store-exists guard first — the flat
      // fallback reader would die on a path that isn't there yet)
      val guarded =
        if (!StoragePaths.exists(spark, decided)) uniq
        else uniq.join(
          IncrementalAnnIndex.priorIds(spark, decided,
            uniq.select("vec_id"), batchId),
          Seq("vec_id"), "left_anti")
      val assigned = Similarity.assignWithLeadersRetaining(guarded, cents)
      val r = dedupBatch(assigned,
        readHeads(spark, root, batchId), tau, maxListOccupancy)
      r.ledger.write.mode("overwrite").parquet(s"$ledger/batch=$batchId")
      val buckets = IncrementalAnnIndex.bucketCount(spark, lists)
      val n = buckets.getOrElse(numIdBuckets)
      r.admitted
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("vec_id"), n))
        .repartition(col("id_bucket"))
        .write.mode("overwrite").partitionBy("id_bucket")
        .parquet(s"$lists/batch=$batchId")
      // marker AFTER the first data write (marker-present ⇒
      // data-present; a crash in the window self-heals on replay)
      if (buckets.isEmpty)
        StoragePaths.writeSmallFile(spark,
          s"$lists/${IncrementalAnnIndex.IdBucketsMarker}", n.toString)
      // every decided id — kept or dropped — into the membership store
      val dBuckets = IncrementalAnnIndex.bucketCount(spark, decided)
      val dn = dBuckets.getOrElse(numIdBuckets)
      r.ledger.select("vec_id")
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("vec_id"), dn))
        .repartition(col("id_bucket"))
        .write.mode("overwrite").partitionBy("id_bucket")
        .parquet(s"$decided/batch=$batchId")
      if (dBuckets.isEmpty)
        StoragePaths.writeSmallFile(spark,
          s"$decided/${IncrementalAnnIndex.IdBucketsMarker}", dn.toString)
      r.newHead.write.mode("overwrite").parquet(s"$heads/batch=$batchId")
    }
    StoragePaths.readOrEmpty(spark, ledger, LedgerSchema)
  }
}
