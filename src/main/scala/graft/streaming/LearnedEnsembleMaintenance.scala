package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Dsir, LmPerplexity, QualityClassifier}
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** Drift maintenance for [[IncrementalLearnedEnsemble]]'s frozen table
  * set — the [[FamilyMaintenance]] engine composing the three families'
  * counterfactuals ([[QualityFilterMaintenance]] /
  * [[LmFilterMaintenance]] / [[DsirMaintenance]]) over ONE generation
  * swap, because the ensemble root is ONE artifact: its ledger records
  * the AND of three verdicts, so recalibrating a family by hand-editing a
  * subroot in place would change future verdicts with no audit trail and
  * no atomic cut — and the per-family maintenance loops cannot be pointed
  * at the ensemble root directly (they carry THEIR family's standalone
  * ledger/admitted layout, which the ensemble does not have).
  *
  * Policy per family, unchanged from the singles: score the current
  * labeled corpus window under the LIVE frozen tables and under CANDIDATE
  * tables trained on that same window; a family whose achieved admission
  * fraction drifts beyond `threshold` is retrained. If ANY family drifts,
  * the next generation is built with the drifted families' candidate
  * tables and the stable families' tables CARRIED verbatim (their
  * estimates still describe the crawl — retraining them too would move
  * verdicts for no reason), the ensemble ledger and admitted stream are
  * carried count-verified (decisions already made stay made), and the
  * generation publishes behind the atomic `_current` pointer. The drain
  * re-enters on `currentRoot` under a fresh checkpoint; the bootstrap
  * guard sees the NB model present and adopts the whole table set.
  */
object LearnedEnsembleMaintenance extends FamilyMaintenance(
  "LearnedEnsembleMaintenance",
  Seq(
    StoreSpec("nb model", r => IncrementalQualityFilter.modelPath(
      IncrementalLearnedEnsemble.nbRoot(r)), Carry.Model),
    StoreSpec("nb prior", r => IncrementalQualityFilter.priorPath(
      IncrementalLearnedEnsemble.nbRoot(r)), Carry.Model),
    StoreSpec("lm model", r => IncrementalLmFilter.modelPath(
      IncrementalLearnedEnsemble.lmRoot(r)), Carry.Model),
    StoreSpec("lm contexts", r => IncrementalLmFilter.contextsPath(
      IncrementalLearnedEnsemble.lmRoot(r)), Carry.Model),
    StoreSpec("dsir ratio", r => IncrementalDsir.ratioPath(
      IncrementalLearnedEnsemble.dsirRoot(r)), Carry.Model),
    StoreSpec("ledger", IncrementalLearnedEnsemble.ledgerPath _,
      Carry.Rows()),
    StoreSpec("admitted", IncrementalLearnedEnsemble.admittedPath _,
      Carry.Rows())),
  Some(IncrementalLearnedEnsemble.storePaths _)) {

  /** Retrain a family when its achieved admission fraction under the
    * frozen tables differs from the candidate's by more than this
    * (absolute) — the same bar as the standalone family loops.
    */
  val DefaultFractionDriftThreshold = 0.10

  final case class FamilyReport(
      frozenFraction: Double,
      candidateFraction: Double,
      retrained: Boolean)

  final case class Report(
      nb: FamilyReport,
      lm: FamilyReport,
      dsir: FamilyReport,
      generation: Option[String])

  /** The measured verdicts plus the window-trained candidates a retrain
    * ships for the drifted families.
    */
  private final case class Retained(
      nb: FamilyReport, lm: FamilyReport, dsir: FamilyReport,
      candNbModel: DataFrame, candNbPrior: DataFrame,
      candLmModel: DataFrame, candLmCtx: DataFrame, candLr: DataFrame)

  /** Measure-then-act over all three families: read the live generation's
    * tables (each validated by its own family module), train candidates
    * on `docs` — the current LABELED corpus window, which must carry
    * `source` (NB + LM) and `lang` (DSIR) — compare achieved fractions,
    * and swap one generation if anything drifted. Below threshold
    * everywhere, the cost is six scoring scans and no writes.
    */
  def maintain(
      spark: SparkSession,
      genRoot: String,
      docs: DataFrame,
      threshold: Double = DefaultFractionDriftThreshold,
      numFiles: Int = 1): Report = {
    require(docs.columns.contains("source") && docs.columns.contains("lang"),
      "LearnedEnsembleMaintenance.maintain: the measurement window must " +
        "carry the `source` and `lang` label columns (candidate training)")
    val (m, gen) = whenDrifted(spark, genRoot) { cur =>
      val (nbModel, nbPrior) = IncrementalQualityFilter.readModel(
        spark, IncrementalLearnedEnsemble.nbRoot(cur))
      val (lmModel, lmContexts) = IncrementalLmFilter.readModel(
        spark, IncrementalLearnedEnsemble.lmRoot(cur))
      val lr = IncrementalDsir.readRatioTable(spark,
        IncrementalDsir.ratioPath(IncrementalLearnedEnsemble.dsirRoot(cur)))

      // candidates, trained once on the window and materialized (bounded
      // relations): the counterfactual scoring and — on drift — the
      // generation write both read them
      val candNbModel = QualityClassifier.modelTable(docs).localCheckpoint()
      val candNbPrior = QualityClassifier.priorRow(docs).localCheckpoint()
      val lmCounts = LmPerplexity.seedBigramCounts(docs).localCheckpoint()
      val candLmModel = LmPerplexity.modelOf(lmCounts).localCheckpoint()
      val candLmCtx = LmPerplexity.contextsOf(lmCounts).localCheckpoint()
      val candLr = Dsir.ratioTable(Dsir.featureCounts(docs)).localCheckpoint()
      require(!candNbModel.isEmpty && !candLmModel.isEmpty && !candLr.isEmpty,
        "LearnedEnsembleMaintenance.maintain: the window produced an " +
          "empty candidate table — nothing to recalibrate against")

      def fam(frozen: Double, cand: Double): FamilyReport =
        FamilyReport(frozen, cand, math.abs(frozen - cand) > threshold)
      val nb = fam(
        QualityFilterMaintenance.achievedFraction(docs, nbModel, nbPrior),
        QualityFilterMaintenance.achievedFraction(docs, candNbModel,
          candNbPrior))
      val lm = fam(
        LmFilterMaintenance.achievedFraction(docs, lmModel, lmContexts),
        LmFilterMaintenance.achievedFraction(docs, candLmModel, candLmCtx))
      val dsir = fam(
        DsirMaintenance.achievedFraction(docs, lr),
        DsirMaintenance.achievedFraction(docs, candLr))
      Outcome(nb.retrained || lm.retrained || dsir.retrained,
        Retained(nb, lm, dsir, candNbModel, candNbPrior,
          candLmModel, candLmCtx, candLr))
    }(retrain(spark, genRoot, _, numFiles))
    Report(m.nb, m.lm, m.dsir, gen)
  }

  /** One generation from the measured verdicts: drifted families ship
    * their measured candidates; stable families' tables are CARRIED
    * verbatim (count-verified) by the engine — their estimates still
    * describe the crawl, and retraining them would move verdicts for no
    * reason.
    */
  private def retrain(spark: SparkSession, genRoot: String, m: Retained,
      numFiles: Int): String = {
    val written =
      (if (m.nb.retrained) Set("nb model", "nb prior") else Set.empty) ++
        (if (m.lm.retrained) Set("lm model", "lm contexts") else Set.empty) ++
        (if (m.dsir.retrained) Set("dsir ratio") else Set.empty)
    rewrite(spark, genRoot, numFiles, written) { (_, dest) =>
      if (m.nb.retrained)
        IncrementalQualityFilter.writeModel(m.candNbModel, m.candNbPrior,
          IncrementalLearnedEnsemble.nbRoot(dest))
      if (m.lm.retrained)
        IncrementalLmFilter.writeModel(m.candLmModel, m.candLmCtx,
          IncrementalLearnedEnsemble.lmRoot(dest))
      if (m.dsir.retrained)
        IncrementalDsir.writeRatioTable(m.candLr, IncrementalDsir.ratioPath(
          IncrementalLearnedEnsemble.dsirRoot(dest)))
    }
  }
}
