package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.ops.Similarity

/** Incremental semantic decontamination — the ongoing-crawl shape of
  * [[graft.ops.HashSplit.semanticContamination]]: the benchmark/eval set is
  * FROZEN and registered once; train documents (with embeddings) arrive
  * continuously; every micro-batch is probed against the eval set and
  * split into a clean stream and a contamination ledger. The production
  * concern is real: a crawl ingests the web, the web contains the eval
  * benchmarks, and training on them invalidates the eval — so the check
  * must run ON THE INGEST PATH, not as an afterthought sweep.
  *
  * Scale/correctness shape:
  *
  *  - **Per-batch cost ∝ batch × eval, with NO history reads** — the probe
  *    touches only the arriving batch and the registered eval set (read
  *    once per run, batch-independent). There is no accumulated store to
  *    probe at all, so cost is history-free BY CONSTRUCTION, stronger than
  *    the touched-bucket pruning the admission stores need.
  *  - **Agreement with the batch operator by construction**: each batch
  *    runs the SAME [[Similarity.crossSetContamination]] code path, and a
  *    document's evidence `(n_test_hits, max_cos)` depends only on (doc,
  *    eval set) — never on other corpus documents — so the union of
  *    per-batch ledgers equals the batch operator over the union of
  *    batches, exactly (pinned in the spec).
  *  - **Exactly-once** via the house per-batch overwrite-directory
  *    contract: an at-least-once replay rewrites `batch=N` with identical
  *    rows. No cross-batch read exists to exclude a replaying batch from.
  *  - **Eval-set updates** are a re-register (new benchmark added): later
  *    batches screen against the new set; the already-admitted corpus is
  *    retro-swept with the BATCH operator (one bounded backfill), not by
  *    replaying the stream.
  *
  * Re-crawl admission (first-write-wins on doc_id) is deliberately NOT
  * this module's contract — [[IncrementalCuration]] owns admission; this
  * stage flags and filters, and composes in front of it.
  */
object IncrementalDecontamination {

  val FlagsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("n_test_hits", LongType),
    StructField("max_cos", DoubleType)))

  /** Register (or re-register) the frozen eval set: `(vec_id, embedding)`
    * written atomically-enough for a frozen store (tmp dir + rename would
    * be the multi-writer hardening; registration is a one-shot setup step
    * here, mirrored after every eval-suite change).
    */
  def registerEvalSet(evalEmb: DataFrame, evalPath: String): Unit =
    evalEmb.select("vec_id", "embedding")
      .write.mode("overwrite").parquet(evalPath)

  /** The registered eval set, or an empty relation when registration has
    * not happened yet (a stream started before setup screens nothing and
    * admits everything — visible in the ledger as zero flags).
    */
  def readEvalSet(spark: SparkSession, evalPath: String): DataFrame =
    if (StoragePaths.exists(spark, evalPath)) spark.read.parquet(evalPath)
    else StoragePaths.emptyOf(spark, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))))

  /** One batch's probe — the shared code path with the batch operator.
    * `evalEmb` should be the persisted once-per-run read of
    * [[readEvalSet]].
    */
  def probeBatch(batchEmb: DataFrame, evalEmb: DataFrame,
      threshold: Double = Similarity.NearDupCosine): DataFrame =
    Similarity.crossSetContamination(batchEmb, evalEmb, threshold)
      .select(col("vec_id"), col("n_probe_hits").as("n_test_hits"),
        col("max_cos"))

  /** Drain the landing dir (Trigger.AvailableNow), screening every batch
    * against the registered eval set. Flagged rows land in the
    * contamination ledger (`flagsPath/batch=N`), the rest in the clean
    * stream (`cleanPath/batch=N`, input schema preserved). Returns the
    * accumulated ledger.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      evalPath: String,
      flagsPath: String,
      cleanPath: String,
      schema: StructType,
      threshold: Double = Similarity.NearDupCosine): DataFrame = {
    // the eval set is frozen for the lifetime of the drain: read once,
    // persist, reuse across every micro-batch (re-registration applies to
    // the NEXT run)
    val evalEmb = readEvalSet(spark, evalPath).persist()
    evalEmb.count()
    // unguarded: its spec re-drains the landing dir under a fresh checkpoint
    Drain.run(spark, "IncrementalDecontamination.run",
      spark.readStream.schema(schema).parquet(landingDir), checkpointDir,
      stores = Nil) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("vec_id")
      val flags = probeBatch(uniq.select("vec_id", "embedding"), evalEmb,
        threshold).localCheckpoint()
      flags.write.mode("overwrite").parquet(s"$flagsPath/batch=$batchId")
      uniq.join(flags.select("vec_id"), Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$cleanPath/batch=$batchId")
    }
    evalEmb.unpersist(blocking = false)
    StoragePaths.readOrEmpty(spark, flagsPath, FlagsSchema)
  }
}
