package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Sampling
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The recalibration loop for [[IncrementalTemperature]]'s frozen
  * threshold table — the [[FamilyMaintenance]] engine instantiated for mix
  * rebalancing: the table freezes the stratum proportions at bootstrap,
  * so a crawl whose language/source mix drifts is thinned against
  * proportions that no longer describe it — the achieved keep fraction
  * slides away from what fresh thresholds would keep, and nothing fails
  * loudly (new strata quietly ride the keep-everything convention;
  * shrinking strata stay over-thinned).
  *
  * The counterfactual is DIRECT, no proxy metric: assign the current
  * crawl window (the source of record) under the LIVE frozen table and
  * under a CANDIDATE table computed from that same window, and compare
  * the two achieved keep fractions. Drift beyond `threshold` ships the
  * measured candidate into the next generation with the ledger and kept
  * stream carried (decisions already made stay made — only FUTURE batches
  * assign under the new table), verified, and published behind the atomic
  * `_current` pointer. The stream re-enters on the new generation under a
  * fresh checkpoint; [[IncrementalTemperature.run]]'s bootstrap guard
  * sees the threshold store and adopts it.
  */
object TemperatureMaintenance extends FamilyMaintenance(
  "TemperatureMaintenance",
  Seq(
    StoreSpec("thresholds", IncrementalTemperature.thresholdsPath _,
      Carry.Model),
    StoreSpec("ledger", IncrementalTemperature.ledgerPath _, Carry.Rows()),
    StoreSpec("kept", IncrementalTemperature.keptPath _, Carry.Rows())),
  Some(IncrementalTemperature.storePaths _)) {

  /** Retrain when the achieved keep fraction under the frozen table
    * differs from the candidate table's by more than this (absolute).
    */
  val DefaultFractionDriftThreshold = 0.10

  final case class Report(
      frozenFraction: Double,
      candidateFraction: Double,
      retrained: Boolean,
      generation: Option[String])

  /** The achieved keep fraction of `docs` under an explicit threshold
    * table — one aggregate over the shared assignment path, no global
    * rank. NULL-kept rows (NULL strata) count in the denominator: they
    * are input the sampler passed no verdict on.
    */
  def achievedFraction(docs: DataFrame, thresholds: DataFrame,
      stratumCol: String = "lang"): Double = {
    val r = IncrementalTemperature.assignBatch(docs, thresholds, stratumCol)
      .agg(count(lit(1)).as("n"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("sel"))
      .collect().head
    if (r.getLong(0) == 0L) 0.0
    else r.getLong(1).toDouble / r.getLong(0)
  }

  /** Recalibrate with an ALREADY-BUILT candidate table — [[maintain]]
    * passes the materialized table its counterfactual assigned, so the
    * window is not re-aggregated a second time just to recompute the
    * identical per-stratum relation.
    */
  def retrainWith(
      spark: SparkSession,
      genRoot: String,
      th: DataFrame,
      numFiles: Int = 1): String =
    rewrite(spark, genRoot, numFiles, Set("thresholds")) { (_, dest) =>
      require(!th.isEmpty,
        "TemperatureMaintenance.retrain: the current window produced an " +
          "empty threshold table — nothing to recalibrate against")
      IncrementalTemperature.writeThresholds(
        th, IncrementalTemperature.thresholdsPath(dest))
    }

  /** Measure-then-act: read the live generation's frozen table, assign
    * `docs` under it and under the candidate, retrain iff the achieved
    * keep fractions drift apart by more than `threshold`. Below threshold
    * the cost is two broadcast-join scans and no writes.
    */
  def maintain(
      spark: SparkSession,
      genRoot: String,
      docs: DataFrame,
      threshold: Double = DefaultFractionDriftThreshold,
      numFiles: Int = 1,
      stratumCol: String = "lang"): Report = {
    val ((fFrozen, fCand, _), gen) = whenDrifted(spark, genRoot) { cur =>
      val frozen = IncrementalTemperature.readThresholds(
        spark, IncrementalTemperature.thresholdsPath(cur))
      val fFrozen = achievedFraction(docs, frozen, stratumCol)
      // materialize the bounded candidate ONCE: the counterfactual
      // assignment and (on drift) the generation write both read it, and
      // rebuilding it would pay the window aggregate a second time
      val cand = Sampling.temperatureThresholds(docs, stratumCol)
        .localCheckpoint()
      val fCand = achievedFraction(docs, cand, stratumCol)
      Outcome(math.abs(fFrozen - fCand) > threshold, (fFrozen, fCand, cand))
    } { case (_, _, cand) => retrainWith(spark, genRoot, cand, numFiles) }
    Report(fFrozen, fCand, gen.isDefined, gen)
  }
}
