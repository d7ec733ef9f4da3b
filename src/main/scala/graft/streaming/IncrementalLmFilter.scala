package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.ops.LmPerplexity

/** Incremental LM perplexity filtering — the ongoing-crawl shape of
  * [[graft.ops.LmPerplexity]]: documents arrive continuously; the bigram
  * model (observed-bigram log-prob table + per-context OOV table) is
  * trained by the BOOTSTRAP batch's seed slice and FROZEN (store-absence
  * keyed, the [[IncrementalPqIndex]] contract); every later batch is
  * scored against the frozen broadcast tables and admitted by the same
  * per-bigram threshold. Freezing is the point, not a shortcut:
  * perplexities are only comparable under ONE target-LM estimate —
  * re-training per batch would let the arriving mix move every score, so
  * two identical documents landing a week apart could be admitted and
  * rejected by the same τ. When the target corpus really has shifted, the
  * remedy is [[LmFilterMaintenance]]'s measured recalibration into a new
  * generation, never an in-place slide.
  *
  * Scale/correctness shape (the [[IncrementalDsir]] properties):
  *
  *  - **Per-batch cost ∝ batch, NO history reads** — scoring joins the
  *    batch's bigram relation against the bounded frozen broadcast tables
  *    (≤B² model rows, ≤B contexts); no accumulated store is probed.
  *  - **The OOV ladder is frozen WITH the model**: an unseen bigram under
  *    a bootstrap-seen context scores that context's exact smoothed mass;
  *    an unseen context scores the uniform [[LmPerplexity.OovMicro]]
  *    constant — post-bootstrap vocabulary never silently drops, it is
  *    priced (the [[graft.ops.Sampling.temperatureAssignWith]]
  *    discipline transposed to sequence statistics).
  *  - **Agreement with the batch operator by construction**: a document's
  *    `(n_bigrams, logprob_micro)` depends only on (doc, tables), so when
  *    the bootstrap batch IS the corpus, the drained admission equals
  *    [[LmPerplexity.select]] exactly (pinned in the spec).
  *  - **Exactly-once** via the house per-batch overwrite-directory
  *    contract: scoring is deterministic given the frozen tables.
  *  - Scoring needs only `(doc_id, text)`; the `source` label is a
  *    TRAINING-time input (the bootstrap batch must carry it), never a
  *    scoring-time requirement — later batches may omit the column.
  */
object IncrementalLmFilter {

  def modelPath(root: String): String = s"$root/model"
  def contextsPath(root: String): String = s"$root/contexts"
  def ledgerPath(root: String): String = s"$root/ledger"
  def admittedPath(root: String): String = s"$root/admitted"

  /** The ACCUMULATING stores under a filter root (the frozen model and
    * context tables are bootstrap-written, not per-batch) — the list the
    * fresh-era guard walks, and the carry [[LmFilterMaintenance]] runs.
    */
  def storePaths(root: String): Seq[String] =
    Seq(ledgerPath(root), admittedPath(root))

  /** Schema of the scoring ledger (plus the `batch` layout column). */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bigrams", LongType),
    StructField("logprob_micro", LongType),
    StructField("selected", BooleanType)))

  /** Persist the frozen model `(b1, b2, c2, lp_micro)` and its context
    * table `(b1, c1, oov_micro)`. The MODEL is the store-absence key the
    * bootstrap guard probes, so it is written LAST (the marker-after-data
    * ordering of [[StoragePaths.writeBucketedStoreBatch]]): a crash
    * between the two writes leaves no model path, the bootstrap simply
    * re-runs, and the half-written contexts dir is overwritten — writing
    * the key first would brick the root (guard satisfied, contexts
    * missing, every later read failing forever).
    */
  def writeModel(model: DataFrame, contexts: DataFrame, root: String): Unit = {
    contexts.select("b1", "c1", "oov_micro")
      .coalesce(1).write.mode("overwrite").parquet(contextsPath(root))
    model.select("b1", "b2", "c2", "lp_micro")
      .coalesce(1).write.mode("overwrite").parquet(modelPath(root))
  }

  /** The frozen tables, re-validated on every read: empty or over-full
    * relations, or a model bigram whose context row is missing (the OOV
    * ladder would mis-price every unseen continuation of that context),
    * are a partial bootstrap write and must fail loudly.
    */
  def readModel(spark: SparkSession, root: String): (DataFrame, DataFrame) = {
    val model = spark.read.parquet(modelPath(root))
    val contexts = spark.read.parquet(contextsPath(root))
    val b = LmPerplexity.Buckets.toLong
    val nc = contexts.count()
    require(nc >= 1L && nc <= b,
      s"IncrementalLmFilter: context table at ${contextsPath(root)} holds " +
        s"$nc rows, expected 1..$b — partial bootstrap write; rebuild")
    val nm = model.count()
    require(nm >= 1L && nm <= b * b,
      s"IncrementalLmFilter: model at ${modelPath(root)} holds $nm rows, " +
        s"expected 1..${b * b} — partial bootstrap write; rebuild")
    val orphans = model.select("b1").distinct()
      .join(contexts.select("b1"), Seq("b1"), "left_anti").count()
    require(orphans == 0L,
      s"IncrementalLmFilter: $orphans model contexts have no context row " +
        "— the OOV ladder would mis-price their unseen continuations; " +
        "rebuild the model")
    (model, contexts)
  }

  /** One batch's scoring against explicit tables — the shared
    * [[LmPerplexity.scoreWith]] path, plus the `selected` verdict at the
    * per-bigram [[LmPerplexity.SelectTauMicro]].
    */
  def scoreBatch(docs: DataFrame, model: DataFrame,
      contexts: DataFrame): DataFrame =
    LmPerplexity.scoreWith(docs, model, contexts)
      .withColumn("selected", col("n_bigrams") >= 1 &&
        col("logprob_micro") >=
          lit(LmPerplexity.SelectTauMicro) * col("n_bigrams"))
      .select("doc_id", "n_bigrams", "logprob_micro", "selected")

  /** Drain the landing dir (Trigger.AvailableNow), training the frozen
    * tables from the first non-empty batch's seed slice and scoring every
    * batch against them. Scored rows land in the ledger
    * (`root/ledger/batch=N`), admitted documents in the admitted stream
    * (`root/admitted/batch=N`, input schema preserved). Returns the
    * accumulated ledger.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      schema: StructType): DataFrame = {
    // one validated read of the tables serves the whole drain —
    // re-validating (two counts + the orphan anti-join) per micro-batch
    // would put a fixed 3-action overhead on every small batch
    val frozen = Drain.frozen(spark, modelPath(root)) { uniq =>
      // training requires the label
      require(uniq.columns.contains("source"),
        "IncrementalLmFilter bootstrap: the training batch must " +
          "carry the `source` label column")
      val counts = LmPerplexity.seedBigramCounts(uniq).localCheckpoint()
      require(!counts.isEmpty,
        "IncrementalLmFilter bootstrap: the first non-empty batch " +
          s"has no '${LmPerplexity.SeedSource}' documents with at " +
          "least two tokens — nothing to train the LM on")
      writeModel(LmPerplexity.modelOf(counts),
        LmPerplexity.contextsOf(counts), root)
    }(readModel(spark, root))
    Drain.run(spark, "IncrementalLmFilter.run",
      spark.readStream.schema(schema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("doc_id")
      val (model, contexts) = frozen(uniq)
      val scored = scoreBatch(uniq, model, contexts).localCheckpoint()
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
