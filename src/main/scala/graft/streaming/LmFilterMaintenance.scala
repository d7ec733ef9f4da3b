package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.LmPerplexity
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The recalibration loop for [[IncrementalLmFilter]]'s frozen bigram LM
  * — the [[FamilyMaintenance]] engine instantiated for perplexity
  * filtering: the tables freeze the target's sequence statistics at
  * bootstrap, so when the curated target itself evolves (new seed
  * snapshots, topic drift) arriving text is priced against a stale LM —
  * the achieved admission fraction slides away from what the same τ
  * admits under current statistics, and nothing fails loudly (new
  * vocabulary quietly rides the OOV ladder at the uniform floor).
  *
  * The counterfactual is DIRECT, no proxy metric: score the current
  * labeled corpus window (the source of record) under the LIVE frozen
  * tables and under CANDIDATE tables trained on that same window's seed
  * slice, and compare the two achieved admission fractions. Drift beyond
  * `threshold` ships the measured candidates into the next generation
  * with the scoring ledger and admitted stream carried (decisions already
  * made stay made — only FUTURE batches score under the new LM),
  * verified, and published behind the atomic `_current` pointer. The
  * stream re-enters on the new generation under a fresh checkpoint;
  * [[IncrementalLmFilter.run]]'s bootstrap guard sees the model store and
  * adopts it.
  */
object LmFilterMaintenance extends FamilyMaintenance(
  "LmFilterMaintenance",
  Seq(
    StoreSpec("model", IncrementalLmFilter.modelPath _, Carry.Model),
    StoreSpec("contexts", IncrementalLmFilter.contextsPath _, Carry.Model),
    StoreSpec("ledger", IncrementalLmFilter.ledgerPath _, Carry.Rows()),
    StoreSpec("admitted", IncrementalLmFilter.admittedPath _, Carry.Rows())),
  Some(IncrementalLmFilter.storePaths _)) {

  /** Retrain when the achieved admission fraction under the frozen LM
    * differs from the candidate's by more than this (absolute).
    */
  val DefaultFractionDriftThreshold = 0.10

  final case class Report(
      frozenFraction: Double,
      candidateFraction: Double,
      retrained: Boolean,
      generation: Option[String])

  /** The achieved admission fraction of `docs` under explicit tables —
    * one aggregate over the shared scoring path, no global rank.
    */
  def achievedFraction(docs: DataFrame, model: DataFrame,
      contexts: DataFrame): Double = {
    val r = IncrementalLmFilter.scoreBatch(docs, model, contexts)
      .agg(count(lit(1)).as("n"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("sel"))
      .collect().head
    if (r.getLong(0) == 0L) 0.0
    else r.getLong(1).toDouble / r.getLong(0)
  }

  /** Recalibrate with ALREADY-BUILT candidate tables — [[maintain]]
    * passes the materialized counts its counterfactual scored, so the
    * window's seed slice is not re-tokenized a second time.
    */
  def retrainWith(
      spark: SparkSession,
      genRoot: String,
      model: DataFrame,
      contexts: DataFrame,
      numFiles: Int = 1): String =
    rewrite(spark, genRoot, numFiles, Set("model", "contexts")) {
      (_, dest) =>
        require(!model.isEmpty,
          "LmFilterMaintenance.retrain: the current window produced an " +
            "empty LM — nothing to recalibrate against")
        IncrementalLmFilter.writeModel(model, contexts, dest)
    }

  /** Measure-then-act: read the live generation's frozen tables, score
    * `docs` under them and under the candidate trained on `docs`' own
    * seed slice, retrain iff the achieved admission fractions drift apart
    * by more than `threshold`. Below threshold the cost is two
    * broadcast-join scans and no writes.
    */
  def maintain(
      spark: SparkSession,
      genRoot: String,
      docs: DataFrame,
      threshold: Double = DefaultFractionDriftThreshold,
      numFiles: Int = 1): Report = {
    val ((fFrozen, fCand, _, _), gen) = whenDrifted(spark, genRoot) { cur =>
      val (frozenModel, frozenCtx) = IncrementalLmFilter.readModel(spark, cur)
      val fFrozen = achievedFraction(docs, frozenModel, frozenCtx)
      // materialize the bounded candidate counts ONCE: both derived
      // tables, the counterfactual scoring, and (on drift) the generation
      // write read them, and rebuilding would re-tokenize the window's
      // seed slice
      val counts = LmPerplexity.seedBigramCounts(docs).localCheckpoint()
      val candModel = LmPerplexity.modelOf(counts)
      val candCtx = LmPerplexity.contextsOf(counts)
      val fCand = achievedFraction(docs, candModel, candCtx)
      Outcome(math.abs(fFrozen - fCand) > threshold,
        (fFrozen, fCand, candModel, candCtx))
    } { case (_, _, model, ctx) =>
      retrainWith(spark, genRoot, model, ctx, numFiles)
    }
    Report(fFrozen, fCand, gen.isDefined, gen)
  }
}
