package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Events
import graft.streaming.{IncrementalSketchStore, SketchStoreMaintenance,
  StoreMaintenance}
import graft.testdata.{TestFixtures => T}

/** Sketch-store maintenance through the shared engine: the file-count
  * monitor stays quiet under threshold, a triggered compaction folds BOTH
  * mergeable stores through their verified folds into one published
  * generation whose reports are unchanged, and the drains re-enter that
  * generation under a fresh checkpoint — accumulating beside the carry,
  * with a second fresh era refused until the next compaction.
  */
class SketchStoreMaintenanceSpec extends SparkSpec {

  private lazy val events = T.events(spark, sf).cache()

  private def dailySnapshot(path: String) =
    IncrementalSketchStore.dailyReport(spark, path).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(3))).toSet

  private def cmsSnapshot(path: String) =
    IncrementalSketchStore.cmsCompared(spark, path, events).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_events_cms"))).toMap

  /** Drain both stores in two batches under one flat family root and
    * adopt it into the generation layout; returns (genRoot, flatRoot).
    */
  private def adoptedStore(): (String, String) = {
    val landing = Files.createTempDirectory("skm-landing")
    val flat = Files.createTempDirectory("skm-flat").toString + "/sketch"
    val ckptD = Files.createTempDirectory("skm-ckptd").toString + "/c"
    val ckptC = Files.createTempDirectory("skm-ckptc").toString + "/c"
    val mid = events.agg(expr("percentile_approx(event_id, 0.5)"))
      .head().getLong(0)
    landParquet(landing, "b1.parquet", events.filter(col("event_id") < mid))
    IncrementalSketchStore.run(spark, landing.toString, ckptD,
      IncrementalSketchStore.dailyPath(flat), events.schema)
    IncrementalSketchStore.runCms(spark, landing.toString, ckptC,
      IncrementalSketchStore.cmsPath(flat), events.schema)
    landParquet(landing, "b2.parquet", events.filter(col("event_id") >= mid))
    IncrementalSketchStore.run(spark, landing.toString, ckptD,
      IncrementalSketchStore.dailyPath(flat), events.schema)
    IncrementalSketchStore.runCms(spark, landing.toString, ckptC,
      IncrementalSketchStore.cmsPath(flat), events.schema)
    val genRoot = Files.createTempDirectory("skm-gen").toString + "/sketch"
    SketchStoreMaintenance.adopt(spark, genRoot, flat)
    (genRoot, flat)
  }

  test("under threshold the monitor lists and does nothing") {
    val (genRoot, _) = adoptedStore()
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    val r = SketchStoreMaintenance.maintain(spark, genRoot,
      maxFiles = 1000000L)
    assert(!r.compacted && r.generation.isEmpty)
    assert(r.files > 0 && r.bytes > 0)
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0,
      "a no-op maintain must not move the generation pointer")
  }

  test("compaction folds both stores verified and reports stay identical") {
    val (genRoot, flat) = adoptedStore()
    val wantDaily = dailySnapshot(IncrementalSketchStore.dailyPath(flat))
    val wantCms = cmsSnapshot(IncrementalSketchStore.cmsPath(flat))
    assert(wantDaily.nonEmpty && wantCms.nonEmpty)
    // adopt already folded once: the generation holds one row per day and
    // ONE cms row, at batch=-1 (the stream re-entry position)
    val cur0 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val cms0 = spark.read.parquet(IncrementalSketchStore.cmsPath(cur0))
    assert(cms0.count() == 1)
    assert(spark.read.parquet(IncrementalSketchStore.dailyPath(cur0))
      .groupBy("day").count().filter(col("count") > 1).count() == 0)
    assert(dailySnapshot(IncrementalSketchStore.dailyPath(cur0)) == wantDaily)
    assert(cmsSnapshot(IncrementalSketchStore.cmsPath(cur0)) == wantCms)
    // maxFiles = 0: every real store trips the monitor; the re-fold of an
    // already-folded generation must hold the reports bit-still
    val r = SketchStoreMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    assert(r.compacted && r.generation.isDefined)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(r.generation.contains(cur) && cur != cur0)
    assert(dailySnapshot(IncrementalSketchStore.dailyPath(cur)) == wantDaily)
    assert(cmsSnapshot(IncrementalSketchStore.cmsPath(cur)) == wantCms)
  }

  test("drains re-enter the published generation; a second era refuses") {
    val (genRoot, _) = adoptedStore()
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val dailyStore = IncrementalSketchStore.dailyPath(cur)
    val landing = Files.createTempDirectory("skm2-landing")
    landParquet(landing, "b1.parquet", events)
    // fresh era over the compacted generation: accepted (batch=-1 only),
    // and the new partials accumulate BESIDE the carried fold
    val ckpt2 = Files.createTempDirectory("skm2-ckpt").toString + "/c"
    IncrementalSketchStore.run(spark, landing.toString, ckpt2, dailyStore,
      events.schema)
    val doubled = IncrementalSketchStore.dailyReport(spark, dailyStore)
      .agg(sum("n_events")).head().getLong(0)
    assert(doubled == 2L * events.count(),
      "the fresh era must append its partials beside the carried fold")
    // a SECOND fresh era over the same generation refuses until the next
    // compaction folds this era's batch>=0 partials
    val ckpt3 = Files.createTempDirectory("skm3-ckpt").toString + "/c"
    val err = intercept[IllegalArgumentException] {
      IncrementalSketchStore.run(spark, landing.toString, ckpt3, dailyStore,
        events.schema)
    }
    assert(err.getMessage.contains("compact first"), err.getMessage)
    // ...and after the next maintain, the NEW generation accepts it
    val r = SketchStoreMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    assert(r.compacted)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    IncrementalSketchStore.run(spark, landing.toString, ckpt3,
      IncrementalSketchStore.dailyPath(cur2), events.schema)
    val tripled = IncrementalSketchStore
      .dailyReport(spark, IncrementalSketchStore.dailyPath(cur2))
      .agg(sum("n_events")).head().getLong(0)
    assert(tripled == 3L * events.count())
  }

  test("a CMS-only root measures the CMS store instead of going blind") {
    val genRoot = Files.createTempDirectory("skm4-gen").toString + "/sketch"
    val flat = Files.createTempDirectory("skm4-flat").toString + "/sketch"
    val landing = Files.createTempDirectory("skm4-landing")
    val ckpt = Files.createTempDirectory("skm4-ckpt").toString + "/c"
    landParquet(landing, "b1.parquet", events)
    // a CMS-only deployment: adopt skips the absent daily store...
    IncrementalSketchStore.runCms(spark, landing.toString, ckpt,
      IncrementalSketchStore.cmsPath(flat), events.schema)
    SketchStoreMaintenance.adopt(spark, genRoot, flat)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(spark.read.parquet(IncrementalSketchStore.cmsPath(cur))
      .count() == 1)
    val wantCms = cmsSnapshot(IncrementalSketchStore.cmsPath(cur))
    // ...maintain measures the CMS store: quiet under threshold...
    val r0 = SketchStoreMaintenance.maintain(spark, genRoot,
      maxFiles = 1000000L)
    assert(!r0.compacted && r0.generation.isEmpty && r0.files > 0L)
    // ...and a trip folds it through the same engine carry
    val r = SketchStoreMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    assert(r.compacted && r.generation.isDefined)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(cmsSnapshot(IncrementalSketchStore.cmsPath(cur2)) == wantCms)
    // a root with NEITHER store still no-ops instead of crashing
    val bare = Files.createTempDirectory("skm5-gen").toString + "/sketch"
    StoreMaintenance.publishGeneration(spark, bare, {
      val g = "gen-00000"
      new java.io.File(s"$bare/$g").mkdirs(); g
    })
    val rb = SketchStoreMaintenance.maintain(spark, bare, maxFiles = 0L)
    assert(!rb.compacted && rb.generation.isEmpty && rb.files == 0L)
  }
}
