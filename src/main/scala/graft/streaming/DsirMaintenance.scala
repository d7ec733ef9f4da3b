package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dsir
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The recalibration loop for [[IncrementalDsir]]'s frozen ratio table —
  * the [[FamilyMaintenance]] engine instantiated for importance weighting:
  * the table freezes the (target, raw) estimate at bootstrap, so a crawl
  * whose RAW distribution drifts is scored against statistics that no
  * longer describe it — the achieved selection fraction slides away from
  * what the same τ selects under current statistics, and nothing fails
  * loudly.
  *
  * The counterfactual is DIRECT, no proxy metric: score the current raw
  * corpus (the source of record — the table cannot reconstruct documents)
  * under the LIVE frozen table and under a CANDIDATE table computed from
  * that same corpus, and compare the two achieved selection fractions.
  * Drift beyond `threshold` ships the measured candidate into the next
  * generation with the scoring ledger and selected stream carried
  * (decisions already made stay made — only FUTURE batches score under
  * the new table), verified, and published behind the atomic `_current`
  * pointer. The stream re-enters on the new generation under a fresh
  * checkpoint; [[IncrementalDsir.run]]'s bootstrap guard sees the ratio
  * store and adopts it.
  */
object DsirMaintenance extends FamilyMaintenance(
  "DsirMaintenance",
  Seq(
    // the frozen table is the model, the ledger and selected stream are
    // history (pinned against the writer's storePaths)
    StoreSpec("ratio", IncrementalDsir.ratioPath _, Carry.Model),
    StoreSpec("ledger", IncrementalDsir.ledgerPath _, Carry.Rows()),
    StoreSpec("selected", IncrementalDsir.selectedPath _, Carry.Rows())),
  Some(IncrementalDsir.storePaths _)) {

  /** Retrain when the achieved selection fraction under the frozen table
    * differs from the candidate table's by more than this (absolute).
    */
  val DefaultFractionDriftThreshold = 0.10

  final case class Report(
      frozenFraction: Double,
      candidateFraction: Double,
      retrained: Boolean,
      generation: Option[String])

  /** The achieved selection fraction of `docs` under an explicit ratio
    * table — one aggregate over the shared scoring path, no global rank.
    */
  def achievedFraction(docs: DataFrame, lrTable: DataFrame): Double = {
    val r = IncrementalDsir.scoreBatch(docs, lrTable)
      .agg(count(lit(1)).as("n"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("sel"))
      .collect().head
    if (r.getLong(0) == 0L) 0.0
    else r.getLong(1).toDouble / r.getLong(0)
  }

  /** Recalibrate: write the candidate table (computed from `docs`, the
    * current raw corpus) into the next generation, carry the ledger and
    * selected stream with row-count verification, publish atomically.
    * Returns the new generation's path.
    */
  def retrain(
      spark: SparkSession,
      genRoot: String,
      docs: DataFrame,
      numFiles: Int = 1): String =
    retrainWith(spark, genRoot,
      Dsir.ratioTable(Dsir.featureCounts(docs)), numFiles)

  /** [[retrain]] with an ALREADY-BUILT candidate table — [[maintain]]
    * passes the materialized table its counterfactual scored, so the
    * corpus is not re-tokenized a second time just to recompute the
    * identical ≤[[Dsir.Buckets]]-row relation.
    */
  def retrainWith(
      spark: SparkSession,
      genRoot: String,
      lr: DataFrame,
      numFiles: Int = 1): String =
    rewrite(spark, genRoot, numFiles, Set("ratio")) { (_, dest) =>
      require(!lr.isEmpty,
        "DsirMaintenance.retrain: the current corpus produced an empty " +
          "ratio table — nothing to recalibrate against")
      IncrementalDsir.writeRatioTable(lr, IncrementalDsir.ratioPath(dest))
    }

  /** Measure-then-act: read the live generation's frozen table, score
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
    val ((fFrozen, fCand, _), gen) = whenDrifted(spark, genRoot) { cur =>
      val frozen = IncrementalDsir.readRatioTable(
        spark, IncrementalDsir.ratioPath(cur))
      val fFrozen = achievedFraction(docs, frozen)
      // materialize the bounded candidate ONCE: the counterfactual scoring
      // and (on drift) the generation write both read it, and rebuilding
      // it would pay the corpus tokenize+aggregate a second time
      val cand = Dsir.ratioTable(Dsir.featureCounts(docs)).localCheckpoint()
      val fCand = achievedFraction(docs, cand)
      Outcome(math.abs(fFrozen - fCand) > threshold, (fFrozen, fCand, cand))
    } { case (_, _, cand) => retrainWith(spark, genRoot, cand, numFiles) }
    Report(fFrozen, fCand, gen.isDefined, gen)
  }
}
