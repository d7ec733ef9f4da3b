package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance for the growing per-batch stores ([[IncrementalCuration]],
  * [[IncrementalAnnIndex]]): every micro-batch adds a `batch=N` directory,
  * and a store that has been running for a year is thousands of small
  * files — the classic warehouse small-files problem (each file costs a
  * task, a footer read, and a namenode entry at 100 TB).
  *
  * Compaction rewrites the accumulated generations into a NEW directory
  * and leaves the source untouched — the caller swaps paths when the new
  * generation is verified (the only crash-safe contract without an atomic
  * multi-directory commit; a failed compaction is simply re-run). These
  * are the single-store primitives; [[FamilyMaintenance]] carries a whole
  * family's stores through them into one published generation.
  *
  * The re-enterable output keeps the store's `batch=N` directory shape by
  * landing everything under `batch=-1` (streaming epochs are ≥ 0, so no
  * future drain — even one restarting from a FRESH checkpoint at epoch
  * 0 — can collide with or overwrite the compacted generation, and
  * partition discovery keeps one uniform leaf depth as new `batch=N`
  * dirs appear beside it).
  */
object StoreMaintenance {

  /** Partition value the compacted generation lands under — below every
    * possible streaming epoch.
    */
  val CompactedBatch = -1L

  /** Rewrite `srcPath` (all generations) into `destPath/batch=-1` as
    * `numFiles` files. Returns the row count written (callers verify it
    * against the source before swapping the store path). `destPath` must
    * be fresh: an existing directory — including the partial leavings of
    * a crashed compaction — fails fast rather than being clobbered
    * (recovery = delete the partial destination or pick a new one; the
    * source is never touched either way).
    *
    * `bucketBy = Some((idCol, buckets))` RE-BUCKETS an id-partitioned
    * store ([[IncrementalAnnIndex]]'s membership layout): the bucket
    * column is recomputed as `pmod(xxhash64(idCol), buckets)`, the
    * output lands as `batch=-1/id_bucket=B/`, and the store's
    * `_id_buckets` marker is rewritten LAST (marker-present ⇒
    * data-present, the same ordering the streaming writer uses). This is
    * how a grown store keeps its membership-probe I/O history-free:
    * bucket COUNT scales with the store so bucket SIZE — the unit a
    * probe reads — stays bounded.
    */
  def compact(
      spark: SparkSession,
      srcPath: String,
      destPath: String,
      numFiles: Int,
      bucketBy: Option[(String, Int)] = None): Long = {
    // drop BOTH discovered partition columns: `batch` always, and any
    // source `id_bucket` so a re-bucketing compaction recomputes it
    // instead of carrying a stale assignment into the data files
    val rows = spark.read.parquet(srcPath).drop("batch", "id_bucket")
    writeStoreLayout(spark, rows, destPath, numFiles, bucketBy)
    spark.read.parquet(destPath).count()
  }

  /** [[compact]] with the row-count verification gate every maintenance
    * retrain runs before moving the generation pointer: a lossy carry
    * silently truncates decision history (ledgers) or drops admitted
    * rows, so the carried count must equal the source or the generation
    * is not published. `what` names the (module, store) in the failure.
    */
  def compactVerified(
      spark: SparkSession,
      srcPath: String,
      destPath: String,
      what: String,
      numFiles: Int,
      bucketBy: Option[(String, Int)] = None): Long = {
    val src = spark.read.parquet(srcPath).count()
    val dst = compact(spark, srcPath, destPath, numFiles, bucketBy)
    require(dst == src,
      s"$what: carried $dst of $src rows — not publishing the " +
        "generation; readers stay on the current one")
    dst
  }

  /** The physical generation write shared by [[compact]] and the IVF
    * retrain path ([[IvfMaintenance]]): `rows` (already free of partition
    * columns) land under `destPath/batch=-1`, optionally re-bucketed by id
    * with the `_id_buckets` marker rewritten LAST (marker-present ⇒
    * data-present, the streaming writer's ordering).
    */
  def writeStoreLayout(
      spark: SparkSession,
      rows: DataFrame,
      destPath: String,
      numFiles: Int,
      bucketBy: Option[(String, Int)]): Unit = {
    require(numFiles > 0, s"compact: numFiles must be positive, got $numFiles")
    bucketBy match {
      case Some((idCol, buckets)) =>
        require(buckets > 0, s"compact: bucket count must be positive")
        rows
          .withColumn("id_bucket",
            IncrementalAnnIndex.idBucket(col(idCol), buckets))
          .repartition(numFiles, col("id_bucket"))
          .write.mode("errorifexists").partitionBy("id_bucket")
          .parquet(s"$destPath/batch=$CompactedBatch")
        StoragePaths.writeSmallFile(spark,
          s"$destPath/${IncrementalAnnIndex.IdBucketsMarker}",
          buckets.toString)
      case None =>
        rows.repartition(numFiles).write.mode("errorifexists")
          .parquet(s"$destPath/batch=$CompactedBatch")
    }
  }

  /** A SERVING snapshot: like [[compact]] but partitioned by the given
    * columns (e.g. the ANN list store by `list_id`, so probes prune to
    * their nprobe lists). NOT re-enterable — a partitioned layout cannot
    * coexist with the flat `batch=N` directories a resumed stream writes;
    * feed it to readers, never back to a maintainer.
    */
  def servingSnapshot(
      spark: SparkSession,
      srcPath: String,
      destPath: String,
      numFiles: Int,
      partitionBy: Seq[String]): Long = {
    require(numFiles > 0 && partitionBy.nonEmpty,
      s"servingSnapshot: need positive numFiles and partition columns")
    // repartition ON the partition columns: a plain repartition(n) spreads
    // every partition value across all n tasks and writes ~n files per
    // partition directory — the small-files problem this module fixes.
    // id_bucket is a maintenance-layout detail, not serving data.
    spark.read.parquet(srcPath).drop("batch", "id_bucket")
      .repartition(numFiles, partitionBy.map(col): _*)
      .write.mode("errorifexists")
      .partitionBy(partitionBy: _*).parquet(destPath)
    spark.read.parquet(destPath).count()
  }

  // ---------------------------------------------------------------- //
  // Generation pointer: atomic swap for concurrent readers.          //
  // ---------------------------------------------------------------- //

  /** Generation directory prefix under a store ROOT. A generation is one
    * complete, immutable-after-publish copy of the store; the live one is
    * named by the [[CurrentManifest]] pointer file.
    */
  val GenPrefix = "gen-"

  /** Pointer file at the store root naming the live generation directory.
    * Written LAST, as one small file — the single atomic primitive plain
    * filesystems offer (HDFS create/rename is atomic; object-store
    * single-key PUTs are atomic). This is the indirection a dbt `table`
    * materialization gets from the warehouse's atomic swap: readers
    * resolve the pointer, then read a directory that nothing will mutate.
    */
  val CurrentManifest = "_current"

  /** The live generation's directory name, from the pointer file. */
  def currentGeneration(spark: SparkSession, root: String): Option[String] =
    StoragePaths.readSmallFile(spark, s"$root/$CurrentManifest").map(_.trim)

  /** The live generation's full path — what every reader opens. Fails
    * loudly on an unpublished root rather than guessing at a directory.
    */
  def resolveCurrent(spark: SparkSession, root: String): String =
    currentGeneration(spark, root) match {
      case Some(gen) => s"$root/$gen"
      case None => throw new IllegalStateException(
        s"StoreMaintenance: no $CurrentManifest manifest under $root — " +
          "publish a generation before reading")
    }

  /** Point readers at `gen` — the LAST step of building a generation.
    * Refuses a directory that doesn't exist (publishing a typo would
    * break every subsequent reader atomically).
    */
  def publishGeneration(spark: SparkSession, root: String, gen: String): Unit = {
    require(StoragePaths.exists(spark, s"$root/$gen"),
      s"publishGeneration: $root/$gen does not exist")
    StoragePaths.writeSmallFile(spark, s"$root/$CurrentManifest", gen)
  }

  /** Next unused generation name: one past the highest existing `gen-N`,
    * whether that N was published or is the partial leaving of a crashed
    * compaction — crashed partials are ABANDONED, never reused, so a
    * retry needs no manual cleanup first ([[staleGenerations]] lists the
    * abandoned ones for a later vacuum).
    */
  def nextGeneration(spark: SparkSession, root: String): String = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val used =
      if (!fs.exists(p)) Array.empty[Int]
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.matches(s"$GenPrefix\\d+"))
        .map(_.stripPrefix(GenPrefix).toInt)
    f"$GenPrefix${used.foldLeft(-1)(math.max) + 1}%05d"
  }

  /** Generations that are safe to vacuum: every `gen-N` directory that is
    * not the published one — superseded generations and crashed partials.
    * Listing, not deletion: the caller owns the grace period for readers
    * still draining the previous generation.
    */
  def staleGenerations(spark: SparkSession, root: String): Seq[String] = {
    val current = currentGeneration(spark, root)
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.matches(s"$GenPrefix\\d+")).toSeq.sorted
      .filterNot(current.contains)
  }

  /** [[compact]] the LIVE generation into the next one and atomically
    * repoint readers — the full maintenance cycle for a single-store root,
    * through the one generation step ([[FamilyMaintenance.generation]]).
    * The row count is verified against the source BEFORE the pointer
    * moves, so a lossy compaction never publishes. Returns the new
    * generation's path.
    */
  def compactCurrent(
      spark: SparkSession,
      root: String,
      numFiles: Int,
      bucketBy: Option[(String, Int)] = None): String = {
    val src = resolveCurrent(spark, root)
    FamilyMaintenance.generation(spark, root) { dest =>
      compactVerified(spark, src, dest, "compactCurrent", numFiles, bucketBy)
      ()
    }
  }

  /** (files, bytes) under a store path — the signal that schedules
    * compaction.
    */
  def fileStats(spark: SparkSession, path: String): (Long, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    var files = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      // Hadoop's hidden-file convention: skip both '_' (markers like
      // _SUCCESS) and '.' (checksum siblings on ChecksumFileSystem —
      // counting those would double the compaction-scheduling signal)
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        files += 1
        bytes += f.getLen
      }
    }
    (files, bytes)
  }

  /** Index-health report for an ANN list store: occupancy per list plus
    * the imbalance factor (max/mean occupancy — 1.0 is perfectly balanced;
    * a high factor means hot lists and is the re-train / more-lists
    * signal, see [[graft.ops.Similarity.MaxListOccupancy]]).
    */
  def listBalance(lists: DataFrame): DataFrame = {
    val occ = lists.groupBy("list_id")
      .agg(count(lit(1)).as("n_vectors"))
    occ.crossJoin(broadcast(
      occ.agg(avg("n_vectors").as("mean_occ"), max("n_vectors").as("max_occ"))))
      .select(col("list_id"), col("n_vectors"),
        (col("n_vectors") / col("mean_occ")).as("occ_ratio"),
        (col("max_occ") / col("mean_occ")).as("imbalance_factor"))
      .orderBy("list_id")
  }

  /** Vacuum a SUPERSEDING-generation store — one whose readers only ever
    * resolve the NEWEST `batch=N` directory
    * ([[IncrementalSemDedup]]'s head store: each batch's write fully
    * re-elects the relation, so older generations are dead weight that
    * grows the per-batch root listing forever). Deletes all but the
    * newest `keep` generations and returns the batch ids removed.
    *
    * `keep` must be ≥ 2: a crash-replay of the newest batch resolves its
    * PREDECESSOR generation (own-partition exclusion), so vacuuming down
    * to one generation would hand a replay an empty head and corrupt its
    * re-decision. NOT for accumulating stores ([[IncrementalCuration]] /
    * [[IncrementalAnnIndex]] layouts, where every batch=N holds live
    * rows) — those compact via [[compact]], which rewrites instead of
    * deleting.
    */
  def pruneSupersededGenerations(
      spark: SparkSession, path: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 2,
      s"pruneSupersededGenerations: keep must be >= 2 (replay of the " +
        s"newest batch reads its predecessor), got $keep")
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hp)) Seq.empty
    else {
      val gens = fs.listStatus(hp).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .sortBy(_.getName.stripPrefix("batch=").toLong)
      val drop = gens.dropRight(keep)
      drop.foreach(p => fs.delete(p, true))
      drop.map(_.getName.stripPrefix("batch=").toLong)
    }
  }
}
