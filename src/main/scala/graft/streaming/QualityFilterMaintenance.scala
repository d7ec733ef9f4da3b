package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.QualityClassifier
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The recalibration loop for [[IncrementalQualityFilter]]'s frozen NB
  * model — the [[FamilyMaintenance]] engine instantiated for model-based
  * quality filtering: the model freezes the (seed, crawl) estimate at
  * bootstrap, so a crawl whose vocabulary mix drifts is scored against
  * statistics that no longer describe it — the achieved admission
  * fraction slides away from what the same τ admits under current
  * statistics, and nothing fails loudly.
  *
  * The counterfactual is DIRECT, no proxy metric: score the current
  * labeled corpus window (the source of record) under the LIVE frozen
  * model and under a CANDIDATE model trained on that same window, and
  * compare the two achieved admission fractions. Drift beyond `threshold`
  * ships the measured candidate into the next generation with the scoring
  * ledger and admitted stream carried (decisions already made stay made —
  * only FUTURE batches score under the new model), verified, and
  * published behind the atomic `_current` pointer. The stream re-enters
  * on the new generation under a fresh checkpoint;
  * [[IncrementalQualityFilter.run]]'s bootstrap guard sees the model
  * store and adopts it.
  */
object QualityFilterMaintenance extends FamilyMaintenance(
  "QualityFilterMaintenance",
  Seq(
    StoreSpec("model", IncrementalQualityFilter.modelPath _, Carry.Model),
    StoreSpec("prior", IncrementalQualityFilter.priorPath _, Carry.Model),
    StoreSpec("ledger", IncrementalQualityFilter.ledgerPath _, Carry.Rows()),
    StoreSpec("admitted", IncrementalQualityFilter.admittedPath _,
      Carry.Rows())),
  Some(IncrementalQualityFilter.storePaths _)) {

  /** Retrain when the achieved admission fraction under the frozen model
    * differs from the candidate model's by more than this (absolute).
    */
  val DefaultFractionDriftThreshold = 0.10

  final case class Report(
      frozenFraction: Double,
      candidateFraction: Double,
      retrained: Boolean,
      generation: Option[String])

  /** The achieved admission fraction of `docs` under an explicit model —
    * one aggregate over the shared scoring path, no global rank.
    */
  def achievedFraction(docs: DataFrame, model: DataFrame,
      prior: DataFrame): Double = {
    val r = IncrementalQualityFilter.scoreBatch(docs, model, prior)
      .agg(count(lit(1)).as("n"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("sel"))
      .collect().head
    if (r.getLong(0) == 0L) 0.0
    else r.getLong(1).toDouble / r.getLong(0)
  }

  /** Recalibrate: write the candidate model (trained on `docs`, the
    * current labeled corpus window) into the next generation, carry the
    * ledger and admitted stream with row-count verification, publish
    * atomically. Returns the new generation's path.
    */
  def retrain(
      spark: SparkSession,
      genRoot: String,
      docs: DataFrame,
      numFiles: Int = 1): String =
    retrainWith(spark, genRoot, QualityClassifier.modelTable(docs),
      QualityClassifier.priorRow(docs), numFiles)

  /** [[retrain]] with an ALREADY-BUILT candidate model — [[maintain]]
    * passes the materialized model its counterfactual scored, so the
    * corpus is not re-tokenized a second time just to recompute the
    * identical ≤[[QualityClassifier.Buckets]]-row relation.
    */
  def retrainWith(
      spark: SparkSession,
      genRoot: String,
      model: DataFrame,
      prior: DataFrame,
      numFiles: Int = 1): String =
    rewrite(spark, genRoot, numFiles, Set("model", "prior")) { (_, dest) =>
      require(!model.isEmpty,
        "QualityFilterMaintenance.retrain: the current corpus produced an " +
          "empty model — nothing to recalibrate against")
      IncrementalQualityFilter.writeModel(model, prior, dest)
    }

  /** Measure-then-act: read the live generation's frozen model, score
    * `docs` under it and under the candidate, retrain iff the achieved
    * fractions drift apart by more than `threshold`. Below threshold the
    * cost is two broadcast-join scans and no writes.
    */
  def maintain(
      spark: SparkSession,
      genRoot: String,
      docs: DataFrame,
      threshold: Double = DefaultFractionDriftThreshold,
      numFiles: Int = 1): Report = {
    val ((fFrozen, fCand, _, _), gen) = whenDrifted(spark, genRoot) { cur =>
      val (model, prior) = IncrementalQualityFilter.readModel(spark, cur)
      val fFrozen = achievedFraction(docs, model, prior)
      // materialize the bounded candidate ONCE: the counterfactual scoring
      // and (on drift) the generation write both read it, and rebuilding
      // it would pay the corpus tokenize+aggregate a second time
      val candModel = QualityClassifier.modelTable(docs).localCheckpoint()
      val candPrior = QualityClassifier.priorRow(docs).localCheckpoint()
      val fCand = achievedFraction(docs, candModel, candPrior)
      Outcome(math.abs(fFrozen - fCand) > threshold,
        (fFrozen, fCand, candModel, candPrior))
    } { case (_, _, model, prior) =>
      retrainWith(spark, genRoot, model, prior, numFiles)
    }
    Report(fFrozen, fCand, gen.isDefined, gen)
  }
}
