package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import graft.ops.Portable.SampleMod
import graft.ops.Sampling

/** Incremental temperature sampling — the ongoing-crawl shape of
  * [[graft.ops.Sampling.temperatureAssign]]: documents arrive
  * continuously; the per-stratum α=1/2 threshold table is computed by the
  * BOOTSTRAP batch and FROZEN (store-absence keyed, the
  * [[IncrementalPqIndex]] contract); every later batch is assigned against
  * the frozen broadcast table. Freezing is the point, not a shortcut: the
  * thresholds encode ONE estimate of the stratum proportions, and
  * re-deriving them per batch would let each batch's arrival mix move
  * every stratum's keep rate — two identical documents landing a week
  * apart could be kept and dropped by the same sampler (rate drift =
  * silent mix drift). When the crawl's stratum proportions really have
  * moved, the remedy is [[TemperatureMaintenance]]'s measured
  * recalibration into a new generation, never an in-place slide.
  *
  * Scale/correctness shape:
  *
  *  - **Per-batch cost ∝ batch, with NO history reads** — assignment joins
  *    the batch against the per-stratum frozen broadcast table (one row
  *    per stratum seen at bootstrap); no accumulated store is probed
  *    (history-free by construction, the [[IncrementalDecontamination]]
  *    property).
  *  - **Unseen strata keep everything** — a stratum absent from the
  *    frozen table is rarer than anything the bootstrap saw, and the
  *    α-mix keeps its rarest stratum whole, so such rows coalesce to the
  *    keep-all threshold instead of silently dropping
  *    ([[graft.ops.Sampling.temperatureAssignWith]]'s convention). The
  *    ledger records the coalesced threshold, so the drift is auditable
  *    and [[TemperatureMaintenance]]'s counterfactual sees it.
  *  - **Agreement with the batch operator by construction**: a document's
  *    (bucket, kept) depends only on (doc, table), so when the bootstrap
  *    batch IS the corpus, the drained assignment equals
  *    [[graft.ops.Sampling.temperatureAssign]] exactly (pinned in the
  *    spec).
  *  - **Exactly-once** via the house per-batch overwrite-directory
  *    contract: assignment is deterministic given the frozen table, so an
  *    at-least-once replay rewrites `batch=N` with identical rows.
  *  - Re-crawl admission (first-write-wins on doc_id) is deliberately NOT
  *    this module's contract — a re-crawled document assigns identically
  *    under the frozen table, and [[IncrementalCuration]] owns admission;
  *    this stage rebalances the mix and composes in front of it.
  */
object IncrementalTemperature {

  def thresholdsPath(root: String): String = s"$root/thresholds"
  def ledgerPath(root: String): String = s"$root/ledger"
  def keptPath(root: String): String = s"$root/kept"

  /** The ACCUMULATING stores under a sampler root (the frozen threshold
    * table is bootstrap-written, not per-batch) — the list the
    * fresh-era guard walks, and the carry [[TemperatureMaintenance]]
    * runs.
    */
  def storePaths(root: String): Seq[String] =
    Seq(ledgerPath(root), keptPath(root))

  /** Schema of the assignment ledger (plus the `batch` layout column). */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("stratum", StringType),
    StructField("bucket", LongType),
    StructField("threshold", LongType),
    StructField("kept", BooleanType)))

  /** Persist a frozen threshold table `(stratum, n_total, threshold)`. */
  def writeThresholds(th: DataFrame, path: String): Unit =
    th.select("stratum", "n_total", "threshold")
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** The frozen threshold table, re-validated on every read: a valid
    * table is non-empty, every threshold sits in (0, [[SampleMod]]], and
    * SOME stratum carries the keep-everything threshold — the rarest
    * stratum keeps all by construction, so a table without one is a
    * partial write or a hand-edited store. Anything else must fail loudly
    * instead of silently thinning the crawl.
    */
  def readThresholds(spark: SparkSession, path: String): DataFrame = {
    val th = spark.read.parquet(path)
    val r = th.agg(
      count(lit(1)).as("n"),
      sum(when(col("threshold") <= 0L || col("threshold") > SampleMod, 1L)
        .otherwise(0L)).as("bad"),
      sum(when(col("threshold") === SampleMod, 1L).otherwise(0L)).as("full"))
      .collect().head
    require(r.getLong(0) > 0L,
      s"IncrementalTemperature: threshold table at $path is empty — " +
        "partial bootstrap write; rebuild it from the bootstrap corpus")
    require(r.getLong(1) == 0L,
      s"IncrementalTemperature: threshold table at $path carries " +
        s"${r.getLong(1)} out-of-range thresholds (valid: 1..$SampleMod)")
    require(r.getLong(2) > 0L,
      s"IncrementalTemperature: threshold table at $path has no " +
        "keep-everything stratum — the rarest stratum keeps all by " +
        "construction, so this is a partial or corrupted table")
    th
  }

  /** One batch's assignment against an explicit table — the shared
    * [[graft.ops.Sampling.temperatureAssignWith]] code path.
    */
  def assignBatch(docs: DataFrame, thresholds: DataFrame,
      stratumCol: String = "lang"): DataFrame =
    Sampling.temperatureAssignWith(docs, thresholds, stratumCol)

  /** The accumulated mix report — [[graft.ops.Sampling]]'s summary tail
    * over the drained ledger, so the store's report and the batch
    * operator's cannot diverge.
    */
  def storeSummary(ledger: DataFrame): DataFrame =
    Sampling.temperatureSummaryOf(ledger)

  /** Drain the landing dir (Trigger.AvailableNow), bootstrapping the
    * frozen threshold table from the first non-empty batch and assigning
    * every batch against it. Assignments land in the ledger
    * (`root/ledger/batch=N`), kept documents in the kept stream
    * (`root/kept/batch=N`, input schema preserved). Returns the
    * accumulated ledger.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      schema: StructType,
      stratumCol: String = "lang"): DataFrame = {
    val thresholds = Drain.frozen(spark, thresholdsPath(root)) { uniq =>
      // temperatureThresholds derives the mix from REAL strata only, so
      // the keep-everything invariant readThresholds validates holds for
      // every bootstrap corpus with any non-null stratum
      val th = Sampling.temperatureThresholds(uniq, stratumCol)
      require(!th.isEmpty,
        "IncrementalTemperature bootstrap: the first non-empty batch " +
          s"produced no strata — it must carry a non-null '$stratumCol' " +
          "column")
      writeThresholds(th, thresholdsPath(root))
    }(readThresholds(spark, thresholdsPath(root)))
    Drain.run(spark, "IncrementalTemperature.run",
      spark.readStream.schema(schema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("doc_id")
      val assigned =
        assignBatch(uniq, thresholds(uniq), stratumCol).localCheckpoint()
      assigned.write.mode("overwrite")
        .parquet(s"${ledgerPath(root)}/batch=$batchId")
      uniq.join(assigned.filter(col("kept")).select("doc_id"),
          Seq("doc_id"))
        .write.mode("overwrite")
        .parquet(s"${keptPath(root)}/batch=$batchId")
    }
    StoragePaths.readOrEmpty(spark, ledgerPath(root), LedgerSchema)
  }
}
