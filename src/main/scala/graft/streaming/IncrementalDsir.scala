package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.ops.Dsir

/** Incremental DSIR — the ongoing-crawl shape of [[graft.ops.Dsir]]:
  * documents arrive continuously; the hashed-n-gram log-ratio table is
  * computed by the BOOTSTRAP batch and FROZEN (store-absence keyed, the
  * [[IncrementalPqIndex]] contract); every later batch is scored against
  * the frozen broadcast table and admitted by the same per-row
  * Gumbel-perturbed threshold. Freezing is the point, not a shortcut:
  * Xie et al.'s importance weights are only comparable under ONE
  * (target, raw) estimate — re-deriving the table per batch would let the
  * arriving mix silently move every score, so two identical documents
  * landing a week apart could be admitted and rejected by the same τ
  * (scoring drift = silent selection drift). When the raw distribution
  * really has moved, the remedy is [[DsirMaintenance]]'s measured
  * recalibration into a new generation, never an in-place slide.
  *
  * Scale/correctness shape:
  *
  *  - **Per-batch cost ∝ batch, with NO history reads** — scoring joins
  *    the batch's gram relation against the ≤[[Dsir.Buckets]]-row frozen
  *    broadcast table; no accumulated store is probed at all
  *    (history-free by construction, the
  *    [[IncrementalDecontamination]] property).
  *  - **Agreement with the batch operator by construction**: a document's
  *    `(logweight_micro, gumbel_micro)` depends only on (doc, table), so
  *    when the bootstrap batch IS the corpus, the drained selection
  *    equals [[Dsir.select]] exactly (pinned in the spec).
  *  - **Exactly-once** via the house per-batch overwrite-directory
  *    contract: scoring is deterministic given the frozen table, so an
  *    at-least-once replay rewrites `batch=N` with identical rows.
  *  - Re-crawl admission (first-write-wins on doc_id) is deliberately NOT
  *    this module's contract — a re-crawled document scores identically
  *    under the frozen table, and [[IncrementalCuration]] owns admission;
  *    this stage weighs and filters, and composes in front of it.
  */
object IncrementalDsir {

  def ratioPath(root: String): String = s"$root/ratio"
  def ledgerPath(root: String): String = s"$root/ledger"
  def selectedPath(root: String): String = s"$root/selected"

  /** The ACCUMULATING stores under a DSIR root (the frozen ratio table
    * is bootstrap-written, not per-batch) — the list the fresh-era
    * guard walks, and the carry [[DsirMaintenance]] runs.
    */
  def storePaths(root: String): Seq[String] =
    Seq(ledgerPath(root), selectedPath(root))

  /** Schema of the scoring ledger (plus the `batch` layout column). */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_grams", LongType),
    StructField("logweight_micro", LongType),
    StructField("gumbel_micro", LongType),
    StructField("key_micro", LongType),
    StructField("selected", BooleanType)))

  /** Persist a frozen ratio table `(bucket, ct, cr, lr_micro)`. */
  def writeRatioTable(lr: DataFrame, path: String): Unit =
    lr.select("bucket", "ct", "cr", "lr_micro")
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** The frozen ratio table, re-validated on every read: a valid table is
    * COMPLETE over the hashed feature space (exactly [[Dsir.Buckets]]
    * rows — [[Dsir.ratioTable]]'s contract, which the scoring inner join
    * depends on: a partial table would silently drop unseen-bucket grams
    * from every later batch). Anything else — empty, short (a partial
    * bootstrap write or a pre-complete-table legacy store), or over-full —
    * must fail loudly instead of silently drifting selection.
    */
  def readRatioTable(spark: SparkSession, path: String): DataFrame = {
    val lr = spark.read.parquet(path)
    val n = lr.count()
    require(n == Dsir.Buckets.toLong,
      s"IncrementalDsir: ratio table at $path holds $n rows, need " +
        s"exactly ${Dsir.Buckets} (the complete hashed feature space) — " +
        "partial or legacy table; rebuild it from the bootstrap corpus")
    lr
  }

  /** One batch's scoring against an explicit table — the shared
    * [[Dsir.weightsWith]]/[[Dsir.keyed]] code path, plus the `selected`
    * verdict at [[Dsir.SelectTauMicro]].
    */
  def scoreBatch(docs: DataFrame, lrTable: DataFrame): DataFrame =
    Dsir.keyed(Dsir.weightsWith(docs, lrTable))
      .withColumn("selected", col("key_micro") >= Dsir.SelectTauMicro)
      .select("doc_id", "n_grams", "logweight_micro", "gumbel_micro",
        "key_micro", "selected")

  /** Drain the landing dir (Trigger.AvailableNow), bootstrapping the
    * frozen ratio table from the first non-empty batch and scoring every
    * batch against it. Scored rows land in the ledger
    * (`root/ledger/batch=N`), admitted documents in the selected stream
    * (`root/selected/batch=N`, input schema preserved). Returns the
    * accumulated ledger.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      schema: StructType): DataFrame = {
    val lrTable = Drain.frozen(spark, ratioPath(root)) { uniq =>
      val lr = Dsir.ratioTable(Dsir.featureCounts(uniq))
      require(!lr.isEmpty,
        "IncrementalDsir bootstrap: the first non-empty batch produced an " +
          "empty ratio table — it must carry tokenizable text")
      writeRatioTable(lr, ratioPath(root))
    }(readRatioTable(spark, ratioPath(root)))
    Drain.run(spark, "IncrementalDsir.run",
      spark.readStream.schema(schema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("doc_id")
      val scored = scoreBatch(uniq, lrTable(uniq)).localCheckpoint()
      scored.write.mode("overwrite")
        .parquet(s"${ledgerPath(root)}/batch=$batchId")
      uniq.join(scored.filter(col("selected")).select("doc_id"),
          Seq("doc_id"))
        .write.mode("overwrite")
        .parquet(s"${selectedPath(root)}/batch=$batchId")
    }
    StoragePaths.readOrEmpty(spark, ledgerPath(root), LedgerSchema)
  }
}
