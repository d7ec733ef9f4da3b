package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.{FamilyMaintenance, StoreMaintenance}
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The shared generation engine itself — the contracts every family
  * object leans on: the pin fails loudly on a store list that diverges
  * from the writer's storePaths (model and fact families alike), bucket
  * overrides must name a bucketed store, a no-drift counterfactual never
  * moves the pointer, a drift ships the RETAINED candidate with history
  * carried verified, and a retrain that fails its own verification
  * publishes nothing.
  */
class DriftMaintenanceSpec extends SparkSpec {

  import spark.implicits._

  private def modelPath(root: String) = s"$root/model"
  private def ledgerPath(root: String) = s"$root/ledger"
  private def totalsPath(root: String) = s"$root/totals"

  /** A minimal flat writer root: one frozen model table, one epoch-layout
    * history store, and one epoch-layout additive store.
    */
  private def flatRoot(): String = {
    val root = Files.createTempDirectory("drift-flat").toString + "/fam"
    Seq((1L, "frozen")).toDF("k", "v")
      .write.parquet(modelPath(root))
    spark.range(10L).select(col("id").as("doc_id"))
      .write.parquet(s"${ledgerPath(root)}/batch=0")
    spark.range(3L).select(col("id").as("n"))
      .write.parquet(s"${totalsPath(root)}/batch=0")
    root
  }

  /** A model family: the frozen table plus the history store. */
  private def famOf(
      pin: Option[String => Seq[String]] = Some(r => Seq(ledgerPath(r)))) =
    new FamilyMaintenance("TestFamily", Seq(
      StoreSpec("model", modelPath _, Carry.Model),
      StoreSpec("ledger", ledgerPath _, Carry.Rows())), pin) {}

  /** A fact family: a row-preserving store plus an additive one. */
  private def factsOf(pin: String => Seq[String] =
      r => Seq(ledgerPath(r), totalsPath(r))) =
    new FamilyMaintenance.Facts("TestFacts", Seq(
      StoreSpec("ledger", ledgerPath _, Carry.Rows()),
      StoreSpec("totals", totalsPath _, Carry.Fold(Nil, Seq("n")))), pin) {}

  /** The model family's retrain: write the candidate model table. */
  private def retrain(fam: FamilyMaintenance, genRoot: String, m: String,
      lossyRetrain: Boolean = false): String =
    fam.rewrite(spark, genRoot, 1, Set("model")) { (_, dest) =>
      Seq((1L, m)).toDF("k", "v").write.parquet(modelPath(dest))
      if (lossyRetrain) throw new IllegalStateException(
        "TestFamily.retrain: lossy re-derive — not publishing")
    }

  private def maintain(fam: FamilyMaintenance, genRoot: String,
      cf: Outcome[String], lossyRetrain: Boolean = false) =
    fam.whenDrifted(spark, genRoot)(_ => cf)(
      retrain(fam, genRoot, _, lossyRetrain))

  private val never = Outcome(drifted = false, "unused")
  private val always = Outcome(drifted = true, "candidate")

  test("a history list diverging from the writer's storePaths fails loudly") {
    val flat = flatRoot()
    // the writer grew a second accumulating store the family's carry
    // does not know about — a model family and a fact family alike must
    // refuse before writing anything, on adopt and on the next generation
    // (the model family's retrain, the fact family's compaction)
    def grown(pin: String => Seq[String]) =
      (r: String) => pin(r) :+ s"$r/extra"
    val cases = Seq(
      (famOf(), famOf(Some(grown(r => Seq(ledgerPath(r))))),
        (f: FamilyMaintenance, g: String) => retrain(f, g, "candidate")),
      (factsOf(), factsOf(grown(r => Seq(ledgerPath(r), totalsPath(r)))),
        (f: FamilyMaintenance, g: String) => f.compact(spark, g)))
    cases.foreach { case (aligned, diverged, next) =>
      val genRoot = Files.createTempDirectory("drift-gen").toString + "/fam"
      val err = intercept[IllegalArgumentException] {
        diverged.adopt(spark, genRoot, flat)
      }
      assert(err.getMessage.contains("diverged"), err.getMessage)
      assert(!new java.io.File(genRoot).exists(),
        "a refused adopt must write nothing")
      // an aligned pin adopts fine…
      aligned.adopt(spark, genRoot, flat)
      // …and the same divergence then blocks the next generation too
      val err2 = intercept[IllegalArgumentException] {
        next(diverged, genRoot)
      }
      assert(err2.getMessage.contains("diverged"), err2.getMessage)
      assert(StoreMaintenance.staleGenerations(spark, genRoot).isEmpty,
        "a refused generation must write nothing")
    }
  }

  test("a bucket override naming no bucketed store is refused before any write") {
    val flat = flatRoot()
    val genRoot = Files.createTempDirectory("drift-gen4").toString + "/fam"
    val fam = factsOf()
    // a typo, and a store that has no bucket layout to re-size
    Seq(Map("ledgr" -> 8), Map("totals" -> 8)).foreach { b =>
      intercept[IllegalArgumentException] {
        fam.adopt(spark, genRoot, flat, buckets = b)
      }
      assert(!new java.io.File(genRoot).exists())
    }
    fam.adopt(spark, genRoot, flat)
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    Seq(Map("ledgr" -> 8), Map("totals" -> 8)).foreach { b =>
      intercept[IllegalArgumentException] {
        fam.compact(spark, genRoot, buckets = b)
      }
    }
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0)
    assert(StoreMaintenance.staleGenerations(spark, genRoot).isEmpty)
  }

  test("no drift never moves the pointer; drift ships the retained candidate") {
    val genRoot = Files.createTempDirectory("drift-gen2").toString + "/fam"
    val fam = famOf()
    fam.adopt(spark, genRoot, flatRoot())
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    val (m0, g0) = maintain(fam, genRoot, never)
    assert(m0 == "unused" && g0.isEmpty)
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0)
    // drift: the measured candidate is the one shipped, history carried
    val (m1, g1) = maintain(fam, genRoot, always)
    assert(m1 == "candidate" && g1.isDefined)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(g1.contains(cur))
    assert(spark.read.parquet(modelPath(cur)).select("v")
      .head().getString(0) == "candidate")
    // carried history: every decision row present, landed at batch=-1
    val ledger = spark.read.parquet(ledgerPath(cur))
    assert(ledger.count() == 10L)
    assert(ledger.select("batch").distinct().head().getInt(0) == -1)
  }

  test("a retrain that fails its own verification publishes nothing") {
    val genRoot = Files.createTempDirectory("drift-gen3").toString + "/fam"
    val fam = famOf()
    fam.adopt(spark, genRoot, flatRoot())
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    intercept[IllegalStateException] {
      maintain(fam, genRoot, always, lossyRetrain = true)
    }
    // readers stay on the old generation; the crashed partial is abandoned
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0)
  }
}
