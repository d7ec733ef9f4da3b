package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SubwordTrain
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The retrain loop for [[IncrementalSubword]]'s frozen vocabulary — the
  * tenth model family on the [[FamilyMaintenance]] engine, closing the
  * one model the codebase froze without a drift watch: the subword inventory every token budget
  * (packing bins, shard sizing, epoch plans) now prices against. A
  * vocabulary trained at bootstrap describes THAT corpus; a crawl whose
  * character or word inventory moves (a new language, a code-heavy
  * source) tokenizes ever worse under it — whole words collapse to [UNK]
  * (losing id fidelity for the trainer) and tokens-per-word inflates
  * (mispricing every budget) — and nothing fails loudly.
  *
  * The counterfactual is DIRECT, the [[DsirMaintenance]] shape: price the
  * current window (the source of record — the vocabulary cannot
  * reconstruct documents) under the LIVE frozen vocabulary and under a
  * CANDIDATE trained from that same window, and compare [UNK]-rate
  * (per-word probability of the whole-word collapse) and tokens-per-word
  * (the budget-pricing unit). Drift beyond either threshold ships the
  * measured candidate into the next generation with the pricing ledger
  * carried compactVerified to `batch=-1` (prices already shipped stay
  * shipped — only FUTURE batches price under the new inventory),
  * published behind the atomic `_current` pointer.
  *
  * RE-PRICING CAVEAT, made explicit because packing depends on it: a
  * retrained vocabulary is a NEW token unit. A packing store whose
  * `_tokens_source` marker hashes the OLD vocabulary must not be extended
  * under the new one — [[IncrementalPacking]] refuses on its own marker,
  * and the deployment answer is a fresh packing root priced in the new
  * unit, exactly the boundary the marker exists to make loud. That
  * answer is OPERATED by [[PackingMigration]]: [[PackingMigration
  * .repackUnderVocab]] stands up the successor root (old shipped bins
  * stay servable, untouched), and [[PackingMigration.eraFeed]] serves
  * the combined trainer feed across the era boundary, each bin priced
  * in its own era's unit.
  */
object SubwordMaintenance extends FamilyMaintenance(
  "SubwordMaintenance",
  Seq(
    // the frozen vocabulary is the model, the pricing ledger is history
    // (pinned against the writer's storePaths)
    StoreSpec("vocab", IncrementalSubword.vocabPath _, Carry.Model),
    StoreSpec("ledger", IncrementalSubword.ledgerPath _, Carry.Rows())),
  Some(IncrementalSubword.storePaths _)) {

  /** Retrain when the window's [UNK] rate under the frozen vocabulary
    * exceeds the candidate's by more than this (absolute, per word).
    */
  val DefaultUnkDriftThreshold = 0.05

  /** Retrain when frozen tokens-per-word exceeds the candidate's by more
    * than this factor (relative — pricing inflation).
    */
  val DefaultTpwDriftFactor = 1.25

  final case class Report(
      frozenUnkRate: Double,
      candidateUnkRate: Double,
      frozenTokensPerWord: Double,
      candidateTokensPerWord: Double,
      retrained: Boolean,
      generation: Option[String])

  /** The window's ([UNK] rate, tokens-per-word) under an explicit
    * vocabulary — one aggregate over the shared pricing path.
    */
  def windowRates(docs: DataFrame, vocab: Seq[String]): (Double, Double) = {
    val r = IncrementalSubword.scoreBatch(docs, vocab)
      .agg(sum("n_words").as("w"), sum("n_subwords").as("s"),
        sum("n_unk").as("u"))
      .collect().head
    if (r.isNullAt(0) || r.getLong(0) == 0L) (0.0, 0.0)
    else (r.getLong(2).toDouble / r.getLong(0),
      r.getLong(1).toDouble / r.getLong(0))
  }

  /** Retrain with an ALREADY-TRAINED candidate — [[maintain]] passes the
    * vocabulary its counterfactual priced, so the window is not re-trained
    * a second time just to recompute the identical inventory.
    */
  def retrainWith(
      spark: SparkSession,
      genRoot: String,
      vocab: Seq[String],
      numFiles: Int = 1): String =
    rewrite(spark, genRoot, numFiles, Set("vocab")) { (_, dest) =>
      require(vocab.nonEmpty,
        "SubwordMaintenance.retrain: the current window trained an " +
          "empty vocabulary — nothing to retrain against")
      IncrementalSubword.writeVocab(spark, vocab,
        IncrementalSubword.vocabPath(dest))
      // the write round-trips the reader's own validation — a lossy or
      // malformed candidate must not publish
      require(IncrementalSubword.readVocab(spark,
        IncrementalSubword.vocabPath(dest)) == vocab,
        "SubwordMaintenance.retrain: written vocabulary does not " +
          "round-trip — not publishing the generation")
    }

  /** Measure-then-act: read the live generation's frozen vocabulary,
    * price `docs` (the current window) under it and under a candidate
    * trained from that window, retrain iff [UNK]-rate or tokens-per-word
    * drifts past its threshold. Below threshold the cost is one bounded
    * training pass plus two kernel scans and no writes.
    */
  def maintain(
      spark: SparkSession,
      genRoot: String,
      docs: DataFrame,
      unkThreshold: Double = DefaultUnkDriftThreshold,
      tpwFactor: Double = DefaultTpwDriftFactor,
      nMerges: Int = SubwordTrain.DefaultMerges,
      numFiles: Int = 1): Report = {
    val ((unkF, unkC, tpwF, tpwC, _), gen) =
      whenDrifted(spark, genRoot) { cur =>
        val frozen = IncrementalSubword.readVocab(
          spark, IncrementalSubword.vocabPath(cur))
        val (unkF, tpwF) = windowRates(docs, frozen)
        val cand = SubwordTrain.trainedVocab(docs, nMerges)
        val (unkC, tpwC) = windowRates(docs, cand)
        val drifted = (unkF - unkC) > unkThreshold ||
          (tpwC > 0.0 && tpwF / tpwC > tpwFactor)
        Outcome(drifted, (unkF, unkC, tpwF, tpwC, cand))
      } { case (_, _, _, _, cand) =>
        retrainWith(spark, genRoot, cand, numFiles)
      }
    Report(unkF, unkC, tpwF, tpwC, gen.isDefined, gen)
  }
}
