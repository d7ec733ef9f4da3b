package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.ops.{Curation, Dsir, LmPerplexity, QualityClassifier}

/** Incremental learned-ensemble admission — the ongoing-crawl shape of
  * [[Curation.learnedAuditWith]]: ONE drain that bootstraps and freezes
  * all three learned filter families' tables (NB seed-vs-crawl model +
  * prior, bigram-LM model + contexts, DSIR ratio table), scores every
  * batch off the SHARED token-pair relation in one corpus pass, AND-
  * combines the verdicts, and lands one ledger + one admitted stream.
  * Without it, a crawl wanting the combined cut runs THREE streams over
  * the same landing dir (3× tokenize per batch) and joins their ledgers
  * by hand — exactly the composition the batch ensemble exists to avoid.
  *
  * Contracts, inherited from the per-family drains deliberately — each
  * family's tables live under a per-family subroot and are written and
  * validated by THAT family's own incremental module, so the ensemble
  * cannot drift from the singles:
  *
  *  - **Bootstrap on the first non-empty batch**, store-absence keyed on
  *    the NB model path — the LAST table written, so key-present ⇒ all
  *    five tables present (the [[IncrementalLmFilter.writeModel]]
  *    ordering argument, extended across families: a crash mid-bootstrap
  *    leaves no key and the next drain re-runs the whole bootstrap over
  *    the idempotent overwrite writes).
  *  - **Frozen thereafter**: scores are only comparable under ONE
  *    estimate per family; per-batch re-training would let the arriving
  *    mix move every verdict. Each family's maintenance loop owns its
  *    recalibration; the ensemble only composes frozen tables.
  *  - **One validated read per drain** (the [[IncrementalLmFilter]]
  *    caching pattern): each family's loud completeness validation runs
  *    once, not per micro-batch.
  *  - **Per-batch cost ∝ batch, no history reads**: one tokenize pass,
  *    five bounded broadcast joins, one id-width aggregation
  *    ([[Curation.learnedAuditWith]]'s plan — `PlanSpec` pins the single
  *    text scan).
  *  - **Exactly-once** via the house per-batch overwrite-directory
  *    contract: scoring is deterministic given the frozen tables.
  *  - The bootstrap batch must carry `source` (NB and LM training) and
  *    `lang` (DSIR training); later batches score on `(doc_id, text)`
  *    alone.
  */
object IncrementalLearnedEnsemble {

  /** Per-family subroots — each holds that family's frozen tables in its
    * own incremental module's layout.
    */
  def nbRoot(root: String): String = s"$root/nb"
  def lmRoot(root: String): String = s"$root/lm"
  def dsirRoot(root: String): String = s"$root/dsir"

  def ledgerPath(root: String): String = s"$root/ledger"
  def admittedPath(root: String): String = s"$root/admitted"

  /** The ACCUMULATING stores under an ensemble root (the three frozen
    * family tables are bootstrap-written, not per-batch) — the list the
    * fresh-era guard walks, and the carry [[LearnedEnsembleMaintenance]]
    * runs.
    */
  def storePaths(root: String): Seq[String] =
    Seq(ledgerPath(root), admittedPath(root))

  /** Schema of the ensemble ledger (plus the `batch` layout column): the
    * full per-family evidence — each family's counts and exact integer
    * sums, the DSIR key decomposition, the three verdicts, and the AND.
    */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_tokens", LongType),
    StructField("like_micro", LongType),
    StructField("score_micro", LongType),
    StructField("n_bigrams", LongType),
    StructField("logprob_micro", LongType),
    StructField("n_grams", LongType),
    StructField("logweight_micro", LongType),
    StructField("gumbel_micro", LongType),
    StructField("key_micro", LongType),
    StructField("nb_selected", BooleanType),
    StructField("lm_selected", BooleanType),
    StructField("dsir_selected", BooleanType),
    StructField("kept", BooleanType)))

  /** The five frozen tables `(nbModel, nbPrior, lmModel, lmContexts,
    * lrTable)`, each read and loudly re-validated by its OWN family's
    * incremental module.
    */
  def readTables(spark: SparkSession, root: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (nbModel, nbPrior) =
      IncrementalQualityFilter.readModel(spark, nbRoot(root))
    val (lmModel, lmContexts) =
      IncrementalLmFilter.readModel(spark, lmRoot(root))
    val lr = IncrementalDsir.readRatioTable(
      spark, IncrementalDsir.ratioPath(dsirRoot(root)))
    (nbModel, nbPrior, lmModel, lmContexts, lr)
  }

  /** One batch's scoring against explicit frozen tables — the shared
    * one-scan [[Curation.learnedAuditWith]] kernel, projected to the
    * ledger columns.
    */
  def scoreBatch(docs: DataFrame, nbModel: DataFrame, nbPrior: DataFrame,
      lmModel: DataFrame, lmContexts: DataFrame, lr: DataFrame): DataFrame =
    Curation.learnedAuditWith(docs, nbModel, nbPrior, lmModel, lmContexts, lr)
      .select(LedgerSchema.fieldNames.map(col): _*)

  /** Drain the landing dir (Trigger.AvailableNow), bootstrapping all
    * three families' frozen tables from the first non-empty batch and
    * scoring every batch against them in one pass. Scored rows land in
    * the ledger (`root/ledger/batch=N`), jointly-admitted documents in
    * the admitted stream (`root/admitted/batch=N`, input schema
    * preserved). Returns the accumulated ledger.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      schema: StructType): DataFrame = {
    // the NB model is the LAST table written below, so its absence re-runs
    // the whole bootstrap and its presence implies every other table landed
    val tables = Drain.frozen(spark,
        IncrementalQualityFilter.modelPath(nbRoot(root))) { uniq =>
      require(uniq.columns.contains("source"),
        "IncrementalLearnedEnsemble bootstrap: the training batch " +
          "must carry the `source` label column (NB and LM seeds)")
      require(uniq.columns.contains("lang"),
        "IncrementalLearnedEnsemble bootstrap: the training batch " +
          "must carry the `lang` label column (DSIR target slice)")
      val lr = Dsir.ratioTable(Dsir.featureCounts(uniq))
      require(!lr.isEmpty,
        "IncrementalLearnedEnsemble bootstrap: the first non-empty " +
          "batch produced an empty DSIR ratio table — it must " +
          "carry tokenizable text")
      val lmCounts = LmPerplexity.seedBigramCounts(uniq).localCheckpoint()
      require(!lmCounts.isEmpty,
        "IncrementalLearnedEnsemble bootstrap: the first non-empty " +
          s"batch has no '${LmPerplexity.SeedSource}' documents " +
          "with at least 2 tokens — the LM cannot train")
      val nbModel = QualityClassifier.modelTable(uniq)
      require(!nbModel.isEmpty,
        "IncrementalLearnedEnsemble bootstrap: the first non-empty " +
          "batch produced an empty NB model")
      IncrementalDsir.writeRatioTable(
        lr, IncrementalDsir.ratioPath(dsirRoot(root)))
      IncrementalLmFilter.writeModel(
        LmPerplexity.modelOf(lmCounts),
        LmPerplexity.contextsOf(lmCounts), lmRoot(root))
      // NB last: writeModel writes prior THEN model — the model file is
      // the global bootstrap key
      IncrementalQualityFilter.writeModel(
        nbModel, QualityClassifier.priorRow(uniq), nbRoot(root))
    }(readTables(spark, root))
    Drain.run(spark, "IncrementalLearnedEnsemble.run",
      spark.readStream.schema(schema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("doc_id")
      val (nbModel, nbPrior, lmModel, lmContexts, lr) = tables(uniq)
      val scored = scoreBatch(uniq, nbModel, nbPrior, lmModel,
        lmContexts, lr).localCheckpoint()
      scored.write.mode("overwrite")
        .parquet(s"${ledgerPath(root)}/batch=$batchId")
      uniq.join(scored.filter(col("kept")).select("doc_id"),
          Seq("doc_id"))
        .write.mode("overwrite")
        .parquet(s"${admittedPath(root)}/batch=$batchId")
    }
    StoragePaths.readOrEmpty(spark, ledgerPath(root), LedgerSchema)
  }
}
