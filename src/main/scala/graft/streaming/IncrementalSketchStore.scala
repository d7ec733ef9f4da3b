package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance via MERGEABLE partials — the third
  * leg of the incremental suite (next to [[IncrementalCuration]] and
  * [[IncrementalAnnIndex]]): dashboard aggregates over an append-only
  * event stream, maintained without ever rescanning history.
  *
  * Per micro-batch the store appends one row per (day) with
  *  - ADDITIVE partials (event count, value sum) that merge exactly, and
  *  - an HLL SKETCH partial (`hll_sketch_agg` — the DataSketches HLL
  *    Spark ships natively) for distinct users, a few KB per day that
  *    merges associatively under `hll_union_agg`.
  *
  * Readers fold the partials: additive counters by SUM, sketches by
  * union — so "daily users, all time" costs a scan of day-grain partial
  * rows (thousands), not a shuffle of every (day, user) pair in history.
  * This is the mergeable-summaries pattern (Agarwal et al., "Mergeable
  * Summaries", PODS 2012) that makes streaming aggregation work at
  * 100 TB: the raw stream is touched exactly once, at landing.
  *
  * Exactly-once follows the house pattern: checkpointed file tracking +
  * idempotent per-batch overwrite directories.
  */
object IncrementalSketchStore {

  /** The day-grain HLL/additive partial store under a sketch family
    * root — the path convention [[SketchStoreMaintenance]] carries.
    * The drains take explicit store paths (they predate the root), so a
    * maintained deployment passes `dailyPath(currentRoot)` /
    * `cmsPath(currentRoot)` to them.
    */
  def dailyPath(root: String): String = s"$root/daily"

  /** The per-batch CMS partial store under a sketch family root. */
  def cmsPath(root: String): String = s"$root/cms"

  /** Every accumulating store under a sketch family root — the carry
    * list [[SketchStoreMaintenance]] pins against, so a new store cannot
    * be added to the writes without joining the maintenance loop.
    */
  def storePaths(root: String): Seq[String] =
    Seq(dailyPath(root), cmsPath(root))

  /** Day-grain partial aggregates of one batch. lgConfigK 12 ⇒ ~2.5%
    * relative standard error, ~4 KB per sketch.
    */
  def partials(events: DataFrame): DataFrame =
    events.groupBy(col("ts").cast("date").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum("value").as("sum_value"),
        expr("hll_sketch_agg(user_id, 12)").as("users_hll"))

  /** Schema of the merged daily report. */
  val ReportSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("n_users_approx",
        org.apache.spark.sql.types.LongType)))

  /** The merged daily report: exact additive counters, sketch-estimated
    * distinct users. One scan of day-grain partial rows. An empty stream
    * (store never created) reports zero days, not a crash — the house
    * pattern.
    */
  def dailyReport(spark: SparkSession, sketchPath: String): DataFrame =
    if (!StoragePaths.exists(spark, sketchPath))
      StoragePaths.emptyOf(spark, ReportSchema)
    else spark.read.parquet(sketchPath).drop("batch")
      .groupBy("day")
      .agg(
        sum("n_events").as("n_events"),
        sum("sum_value").as("sum_value"),
        expr("hll_sketch_estimate(hll_union_agg(users_hll, true))")
          .as("n_users_approx"))
      .orderBy("day")

  // ---------------------------------------------------------------- //
  // Count-Min frequency partials — the third mergeable summary next   //
  // to the HLL and additive columns above.                            //
  // ---------------------------------------------------------------- //

  /** One `(cms, n_events)` partial per micro-batch
    * ([[graft.ops.Events.userCountsSketch]]): ~160 KB of purely additive
    * counters. CMS merge is counter addition, so ANY grouping of the
    * stream into batches folds to the sketch one pass over the union
    * would build — bit-identically, since the seed pins the hash family.
    */
  def cmsPartials(events: DataFrame): DataFrame =
    graft.ops.Events.userCountsSketch(events)

  /** Fold the per-batch CMS partials into (merged sketch, exact stream
    * length). Driver-side by design: each partial is a driver-sized
    * summary and the row count is bounded by drained batches (reset to 1
    * by [[foldCms]]), so the fold never touches event history. None =
    * store never created (empty stream).
    */
  def mergedCms(spark: SparkSession, cmsPath: String)
      : Option[(org.apache.spark.util.sketch.CountMinSketch, Long)] = {
    if (!StoragePaths.exists(spark, cmsPath)) None
    else {
      val rows = spark.read.parquet(cmsPath).drop("batch")
        .select("cms", "n_events").collect()
      if (rows.isEmpty) None
      else {
        val first = graft.ops.Events.cmsFromBytes(rows.head.getAs[Array[Byte]](0))
        rows.tail.foreach { r =>
          first.mergeInPlace(
            graft.ops.Events.cmsFromBytes(r.getAs[Array[Byte]](0)))
        }
        Some((first, rows.map(_.getLong(1)).sum))
      }
    }
  }

  /** The merged sketch's estimates against exact counts over the probe
    * stride ([[graft.ops.Events.comparedWith]] seam) — what a dashboard
    * reads after any number of drains.
    */
  def cmsCompared(spark: SparkSession, cmsPath: String,
      events: DataFrame): DataFrame = {
    val (cms, _) = mergedCms(spark, cmsPath).getOrElse(
      throw new IllegalStateException(
        s"IncrementalSketchStore: no CMS store at $cmsPath"))
    graft.ops.Events.comparedWith(events, graft.ops.Events.cmsToBytes(cms))
  }

  /** Compact the accumulated CMS partials into ONE `batch=-1` row in a
    * FRESH destination — the additive-store fold ([[Bm25Maintenance]]'s
    * stats pattern): readers only ever merge the store, so the fold is
    * lossless, and it resets the per-read fold to a single row. Verified
    * before any caller swaps paths: the folded sketch's totalCount and
    * carried n_events must both equal the source's add count — n_events
    * counts non-null user_ids, exactly what the sketch ingested, so the
    * two agree even on streams with null ids (counters are additive, so
    * a lossy carry cannot cancel out).
    */
  def foldCms(spark: SparkSession, srcPath: String, destPath: String): Unit = {
    val (cms, n) = mergedCms(spark, srcPath).getOrElse(
      throw new IllegalStateException(
        s"IncrementalSketchStore.foldCms: no CMS store at $srcPath"))
    require(cms.totalCount() == n,
      s"IncrementalSketchStore.foldCms: merged totalCount " +
        s"${cms.totalCount()} != carried n_events $n — not folding")
    import spark.implicits._
    Seq((graft.ops.Events.cmsToBytes(cms), n)).toDF("cms", "n_events")
      .coalesce(1).write.mode("errorifexists")
      .parquet(s"$destPath/batch=${StoreMaintenance.CompactedBatch}")
    val (carried, cn) = mergedCms(spark, destPath).get
    require(carried.totalCount() == n && cn == n,
      s"IncrementalSketchStore.foldCms: carried totalCount " +
        s"${carried.totalCount()}/$cn of $n — destination is not servable")
  }

  /** Compact the accumulated day-grain partials into ONE row per day at
    * `batch=-1` in a FRESH destination — the mergeable-summaries fold
    * for the HLL store, beside [[foldCms]]'s for the frequency store.
    * Readers only ever SUM the additive columns and UNION the sketches
    * ([[dailyReport]]), and both operations are associative, so folding
    * the per-batch partials per day is lossless: the additive sums by
    * counter arithmetic, the HLL registers by max-merge (a union of
    * unions IS the union). Verified before any caller swaps paths: the
    * carried total event count must equal the source's exactly (long
    * arithmetic), and the all-time distinct-user estimate must be
    * IDENTICAL — not approximately equal — because identical register
    * states survive any merge order.
    */
  def foldDaily(spark: SparkSession, srcPath: String, destPath: String): Unit = {
    require(StoragePaths.exists(spark, srcPath),
      s"IncrementalSketchStore.foldDaily: no store at $srcPath")
    def allTime(path: String): (Long, Long, Double) = {
      // coalesce the nullable aggregates: an all-null `value` column sums
      // to NULL on a legitimately foldable store, and getDouble on a null
      // would NPE the fold instead of carrying the zero
      val r = spark.read.parquet(path)
        .agg(coalesce(sum("n_events"), lit(0L)),
          expr("hll_sketch_estimate(hll_union_agg(users_hll, true))"),
          coalesce(sum("sum_value"), lit(0.0d)))
        .head()
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    val want = allTime(srcPath)
    spark.read.parquet(srcPath).drop("batch")
      .groupBy("day")
      .agg(
        sum("n_events").as("n_events"),
        sum("sum_value").as("sum_value"),
        expr("hll_union_agg(users_hll, true)").as("users_hll"))
      .coalesce(1).write.mode("errorifexists")
      .parquet(s"$destPath/batch=${StoreMaintenance.CompactedBatch}")
    val carried = allTime(destPath)
    require(carried._1 == want._1 && carried._2 == want._2,
      s"IncrementalSketchStore.foldDaily: carried (n_events, est) " +
        s"(${carried._1}, ${carried._2}) of (${want._1}, ${want._2}) — " +
        "destination is not servable")
    // sum_value is a DOUBLE: re-folding sums it in a different order, so
    // exact equality is not the invariant — a vanishing relative error is
    // (anything larger means dropped or double-added rows, not rounding)
    require(math.abs(carried._3 - want._3) <=
      1e-9 * math.max(1.0, math.abs(want._3)),
      s"IncrementalSketchStore.foldDaily: carried sum_value ${carried._3} " +
        s"of ${want._3} — destination is not servable")
  }

  /** Drain the landing dir, appending each micro-batch's CMS partial —
    * the frequency-sketch twin of [[run]]. A fresh checkpoint over live
    * `batch>=0` partials is refused ([[Drain.run]]): re-entry
    * is via the folds ([[foldDaily]] / [[foldCms]] land at `batch=-1`).
    */
  def runCms(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      cmsPath: String,
      eventSchema: org.apache.spark.sql.types.StructType): Unit =
    Drain.run(spark, "IncrementalSketchStore.runCms",
      spark.readStream.schema(eventSchema).parquet(landingDir), checkpointDir,
      Seq(cmsPath)) { (batch, batchId) =>
      cmsPartials(batch).coalesce(1).write.mode("overwrite")
        .parquet(s"$cmsPath/batch=$batchId")
    }

  /** Drain the landing dir, appending each micro-batch's partials (the
    * same fresh-era guard as [[runCms]]).
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      sketchPath: String,
      eventSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    Drain.run(spark, "IncrementalSketchStore.run",
      spark.readStream.schema(eventSchema).parquet(landingDir), checkpointDir,
      Seq(sketchPath)) { (batch, batchId) =>
      // per-batch overwrite = idempotent under foreachBatch replay
      partials(batch).write.mode("overwrite")
        .parquet(s"$sketchPath/batch=$batchId")
    }
    dailyReport(spark, sketchPath)
  }
}
