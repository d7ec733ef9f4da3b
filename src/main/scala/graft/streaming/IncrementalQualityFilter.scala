package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.ops.QualityClassifier

/** Incremental model-based quality filtering — the ongoing-crawl shape of
  * [[graft.ops.QualityClassifier]]: documents arrive continuously; the NB
  * model (per-bucket log-odds table + class prior) is trained by the
  * BOOTSTRAP batch and FROZEN (store-absence keyed, the
  * [[IncrementalPqIndex]] contract); every later batch is scored against
  * the frozen broadcast model and admitted by the same per-token
  * threshold. Freezing is the point, not a shortcut: the CCNet-style
  * filter's scores are only comparable under ONE (seed, crawl) estimate —
  * re-training per batch would let the arriving mix move every score, so
  * two identical documents landing a week apart could be admitted and
  * rejected by the same τ. When the crawl really has moved, the remedy is
  * [[QualityFilterMaintenance]]'s measured recalibration into a new
  * generation, never an in-place slide.
  *
  * Scale/correctness shape (the [[IncrementalDsir]] properties):
  *
  *  - **Per-batch cost ∝ batch, NO history reads** — scoring joins the
  *    batch's hashed-token relation against the ≤[[QualityClassifier.Buckets]]-row
  *    frozen broadcast model; no accumulated store is probed.
  *  - **Agreement with the batch operator by construction**: a document's
  *    `(like_micro, score_micro)` depends only on (doc, model), so when
  *    the bootstrap batch IS the corpus, the drained admission equals
  *    [[QualityClassifier.select]] exactly (pinned in the spec).
  *  - **Exactly-once** via the house per-batch overwrite-directory
  *    contract: scoring is deterministic given the frozen model, so an
  *    at-least-once replay rewrites `batch=N` with identical rows.
  *  - Scoring needs only `(doc_id, text)`; the `source` label is a
  *    TRAINING-time input (the bootstrap batch must carry it), never a
  *    scoring-time requirement — later batches may omit the column.
  */
object IncrementalQualityFilter {

  def modelPath(root: String): String = s"$root/model"
  def priorPath(root: String): String = s"$root/prior"
  def ledgerPath(root: String): String = s"$root/ledger"
  def admittedPath(root: String): String = s"$root/admitted"

  /** The ACCUMULATING stores under a filter root (the frozen model and
    * prior tables are bootstrap-written, not per-batch) — the list the
    * fresh-era guard walks, and the carry [[QualityFilterMaintenance]]
    * runs.
    */
  def storePaths(root: String): Seq[String] =
    Seq(ledgerPath(root), admittedPath(root))

  /** Schema of the scoring ledger (plus the `batch` layout column). */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_tokens", LongType),
    StructField("like_micro", LongType),
    StructField("score_micro", LongType),
    StructField("selected", BooleanType)))

  /** Persist a frozen model `(bucket, n_seed, n_crawl, w_micro)` and its
    * 1-row prior `(n_docs_seed, n_docs_crawl, prior_micro)`. The MODEL is
    * the store-absence key the bootstrap guard probes, so it is written
    * LAST (the marker-after-data ordering): a crash between the writes
    * leaves no model path and the bootstrap re-runs self-healingly,
    * instead of a satisfied guard over a missing prior bricking the root.
    */
  def writeModel(model: DataFrame, prior: DataFrame, root: String): Unit = {
    prior.select("n_docs_seed", "n_docs_crawl", "prior_micro")
      .coalesce(1).write.mode("overwrite").parquet(priorPath(root))
    model.select("bucket", "n_seed", "n_crawl", "w_micro")
      .coalesce(1).write.mode("overwrite").parquet(modelPath(root))
  }

  /** The frozen model, re-validated on every read: an empty or
    * over-full table (or a prior that is not exactly one row) is a
    * corrupt or partial bootstrap write and must fail loudly instead of
    * silently scoring every document 0.
    */
  def readModel(spark: SparkSession, root: String): (DataFrame, DataFrame) = {
    val model = spark.read.parquet(modelPath(root))
    val n = model.count()
    require(n >= 1L && n <= QualityClassifier.Buckets.toLong,
      s"IncrementalQualityFilter: model at ${modelPath(root)} holds $n " +
        s"rows, expected 1..${QualityClassifier.Buckets} — partial " +
        "bootstrap write; rebuild the model")
    val prior = spark.read.parquet(priorPath(root))
    require(prior.count() == 1L,
      s"IncrementalQualityFilter: prior at ${priorPath(root)} is not " +
        "exactly one row — partial bootstrap write; rebuild the model")
    (model, prior)
  }

  /** One batch's scoring against an explicit model — the shared
    * [[QualityClassifier.scoreWith]] path, plus the `selected` verdict at
    * the per-token [[QualityClassifier.SelectTauMicro]].
    */
  def scoreBatch(docs: DataFrame, model: DataFrame, prior: DataFrame): DataFrame =
    QualityClassifier.scoreWith(docs, model, prior)
      .withColumn("selected", col("n_tokens") >= 1 &&
        col("like_micro") >=
          lit(QualityClassifier.SelectTauMicro) * col("n_tokens"))
      .select("doc_id", "n_tokens", "like_micro", "score_micro", "selected")

  /** Drain the landing dir (Trigger.AvailableNow), training the frozen
    * model from the first non-empty batch and scoring every batch against
    * it. Scored rows land in the ledger (`root/ledger/batch=N`), admitted
    * documents in the admitted stream (`root/admitted/batch=N`, input
    * schema preserved). Returns the accumulated ledger.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      schema: StructType): DataFrame = {
    val frozen = Drain.frozen(spark, modelPath(root)) { uniq =>
      // training requires the label
      require(uniq.columns.contains("source"),
        "IncrementalQualityFilter bootstrap: the training batch must " +
          "carry the `source` label column")
      val model = QualityClassifier.modelTable(uniq)
      require(!model.isEmpty,
        "IncrementalQualityFilter bootstrap: the first non-empty batch " +
          "produced an empty model — it must carry tokenizable text")
      writeModel(model, QualityClassifier.priorRow(uniq), root)
    }(readModel(spark, root))
    Drain.run(spark, "IncrementalQualityFilter.run",
      spark.readStream.schema(schema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("doc_id")
      val (model, prior) = frozen(uniq)
      val scored = scoreBatch(uniq, model, prior).localCheckpoint()
      scored.write.mode("overwrite")
        .parquet(s"${ledgerPath(root)}/batch=$batchId")
      uniq.join(scored.filter(col("selected")).select("doc_id"),
          Seq("doc_id"))
        .write.mode("overwrite")
        .parquet(s"${admittedPath(root)}/batch=$batchId")
    }
    StoragePaths.readOrEmpty(spark, ledgerPath(root), LedgerSchema)
  }
}
