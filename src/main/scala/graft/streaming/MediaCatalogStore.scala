package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

import graft.ops.Packing

/** The media catalog as a probe-able, GROWING store — the serving layout
  * behind [[graft.ops.Packing.fetchMediaPayloads]] at corpus scale, with
  * the same incremental discipline as every other serving store
  * ([[IncrementalAnnIndex]], [[IncrementalBm25]]): an ongoing VLM crawl
  * lands new media with every batch, so the catalog needs a per-batch
  * APPEND drain, not a rewrite-the-world bootstrap.
  *
  * Layout: payload rows land id-bucketed by `media_ref` under
  * `media/batch=N/id_bucket=B` with `B = pmod(xxhash64(media_id),
  * buckets)` — the [[IncrementalAnnIndex.idBucket]] discipline — so a
  * loader fetching ONE reader's window reads only the buckets its refs
  * touch, via explicitly enumerated leaf dirs (even the file LISTING is
  * window-bounded, [[StoragePaths.readTouchedBuckets]]). The bucket count
  * is a store property frozen in the [[IncrementalAnnIndex
  * .IdBucketsMarker]] file (probing with a different count would look in
  * the wrong partitions); bucket SIZE, not count, is the bounded quantity,
  * and [[MediaCatalogMaintenance]] re-sizes the count from measured bytes
  * as the catalog grows.
  *
  * Re-landed media_ids (a re-crawl) are IGNORED — first write wins,
  * exactly the [[IncrementalAnnIndex]] `add` semantics: the membership
  * check is a media_id anti-join against only the batch's touched id
  * buckets. REMOVAL is operated, not implied: [[MediaCatalogMaintenance
  * .retract]] rewrites the generation without the taken-down bytes and
  * tombstones the ids ([[tombstonesPath]]) so a later re-crawl cannot
  * re-admit them — the admission guard below consults the ledger with
  * the same pruned probe. Replacing a payload is retract-then-clear
  * territory and deliberately NOT a one-call path: a catalog serving
  * trainers must not silently swap bytes under shipped epoch plans. Exactly-once follows the house pattern:
  * checkpointed file tracking + per-batch overwrite directories; the
  * membership read excludes the batch's own partition so an
  * at-least-once replay rewrites identical rows.
  */
object MediaCatalogStore {

  def mediaPath(root: String): String = s"$root/media"

  /** Retracted media_ids — the TAKEDOWN ledger ([[MediaCatalogMaintenance
    * .retract]]): ids whose bytes were removed from the catalog and must
    * STAY removed, because first-write-wins alone would let the next
    * re-crawl of the same asset re-admit the taken-down bytes. Laid out
    * like the catalog itself (id-bucketed, `_id_buckets` marker), so the
    * drain's guard reads only the batch's touched buckets.
    */
  def tombstonesPath(root: String): String = s"$root/tombstones"

  /** The family's store list — what [[MediaCatalogMaintenance]] pins its
    * carry against, so a store added here cannot silently miss it.
    */
  def storePaths(root: String): Seq[String] =
    Seq(mediaPath(root), tombstonesPath(root))

  /** Default id-bucket count for a fresh store (the fresh-store seed
    * only — the store's actual count lives in its marker, and
    * maintenance re-sizes it from measured bytes).
    */
  val DefaultBuckets = 64

  /** The fetch-relevant catalog projection every write lands: the payload
    * BYTES plus typed metadata (the hex mirror and dimension struct stay
    * derivable upstream).
    */
  val CatalogSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("payload", BinaryType)))

  /** Land a whole catalog relation as the bucketed serving layout in one
    * shot — the bootstrap path. `media` is [[graft.ops.Multimodal.media]]'s
    * shape. The rows land at `batch=-1` ([[StoreMaintenance
    * .CompactedBatch]], below every streaming epoch), so a bootstrapped
    * store IS a valid drain root: [[run]] under a fresh checkpoint appends
    * `batch=0` beside it and the membership probe still sees every
    * bootstrapped row.
    */
  def write(media: DataFrame, root: String, buckets: Int): Unit = {
    require(buckets > 0, s"MediaCatalogStore.write: buckets must be " +
      s"positive, got $buckets")
    val spark = media.sparkSession
    media
      .select(col("media_id"), col("media_type"), col("n_bytes"),
        col("payload"))
      .withColumn("id_bucket",
        IncrementalAnnIndex.idBucket(col("media_id"), buckets))
      .repartition(col("id_bucket"))
      .write.partitionBy("id_bucket")
      .parquet(s"${mediaPath(root)}/batch=${StoreMaintenance.CompactedBatch}")
    // marker AFTER the data write (marker-present ⇒ data-present, the
    // streaming writer's ordering)
    StoragePaths.writeSmallFile(spark,
      s"${mediaPath(root)}/${IncrementalAnnIndex.IdBucketsMarker}",
      buckets.toString)
  }

  /** Stored media_ids a batch could collide with — the first-write-wins
    * membership probe, read with static partition pruning to the batch's
    * touched id buckets and the batch's OWN partition excluded (the
    * replay contract: a replay after a crash-post-write must not
    * anti-join the batch against its own previously written rows).
    */
  private def priorIds(
      spark: SparkSession,
      root: String,
      batchIds: DataFrame,
      excludeBatchId: Long): DataFrame =
    StoragePaths.prunedStore(spark, mediaPath(root), "media_id", batchIds,
      StructType(Seq(StructField("media_id", LongType))),
      Some(excludeBatchId), semiJoinKeys = false)

  /** Drain the landing dir (Trigger.AvailableNow), appending each batch's
    * NEW media to the bucketed catalog. `schema` is the landing relation's
    * shape and must carry the [[CatalogSchema]] columns. Returns the
    * accumulated catalog relation.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      schema: StructType,
      buckets: Int = DefaultBuckets): DataFrame = {
    // a crashed write() leaves batch=-1 data WITHOUT its marker; the
    // bucket count the bootstrap hashed with is then unknowable, and
    // draining would stamp the default over it — the membership probe
    // and the pruned fetch would silently look in the wrong partitions.
    // Refuse loudly: errorifexists already blocks a blind write() retry,
    // so the recovery is delete-and-rewrite the bootstrap.
    require(IncrementalAnnIndex.bucketCount(spark, mediaPath(root)).isDefined ||
      !StoragePaths.exists(spark,
        s"${mediaPath(root)}/batch=${StoreMaintenance.CompactedBatch}"),
      s"MediaCatalogStore.run: catalog $root holds bootstrap data " +
        s"(batch=${StoreMaintenance.CompactedBatch}) without its " +
        s"${IncrementalAnnIndex.IdBucketsMarker} marker — a crashed " +
        "write(); delete the partial bootstrap and rewrite it before " +
        "draining (stamping a default count over unknown-bucketed data " +
        "would corrupt the pruned probes)")
    // re-entry is via MediaCatalogMaintenance's batch=-1 carry
    Drain.run(spark, "MediaCatalogStore.run",
      spark.readStream.schema(schema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      // one row per media_id even within the drain (a file and its
      // re-crawl can land in the same AvailableNow batch)
      val uniq = batch
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("payload"))
        .dropDuplicates("media_id")
      // first write wins for a re-landed media_id, checked against
      // only the touched id buckets (see priorIds); TAKEN-DOWN ids
      // are refused the same way — a tombstone outlives the bytes it
      // removed, so a re-crawl of a retracted asset cannot re-admit
      // it (the guard that makes retraction a takedown, not a gap
      // the next drain fills back in). Both probes are
      // touched-bucket pruned.
      val fresh = uniq
        .join(priorIds(spark, root, uniq, batchId),
          Seq("media_id"), "left_anti")
        .join(StoragePaths.prunedStore(spark, tombstonesPath(root),
          "media_id", uniq,
          StructType(Seq(StructField("media_id", LongType))),
          excludeBatchId = None, semiJoinKeys = false),
          Seq("media_id"), "left_anti")
      StoragePaths.writeBucketedStoreBatch(spark, mediaPath(root),
        fresh, "media_id", batchId, buckets,
        legacyFlatFallback = false)
    }
    StoragePaths.readOrEmpty(spark, mediaPath(root), CatalogSchema)
  }

  /** The catalog slice a feed's refs touch: the store read pruned to the
    * refs' id buckets (collecting at most `buckets` distinct bucket
    * numbers to the driver — the bounded collect of the ANN membership
    * probe), with the `batch=* / id_bucket=B` leaf directories ENUMERATED
    * explicitly so even the file LISTING is window-bounded — a plain
    * partition-filtered read would still list every bucket dir of a
    * catalog whose bucket count grew with its size (the chunk-store
    * lesson, [[StoragePaths.readTouchedBuckets]]; batch-dir count is
    * bounded by compaction folding history into `batch=-1`). Probe I/O is
    * ∝ touched buckets, independent of catalog size — the property the
    * soak's `media_fetch_probe` leg measures. First-write-wins makes each
    * media_id live in exactly one batch, so no cross-batch dedup is
    * needed at read time.
    */
  def touchedCatalog(spark: SparkSession, root: String,
      feed: DataFrame): DataFrame = {
    val path = mediaPath(root)
    val buckets = IncrementalAnnIndex.bucketCount(spark, path)
      .getOrElse(throw new IllegalArgumentException(
        s"MediaCatalogStore: no bucketed catalog at $root (missing " +
          s"${IncrementalAnnIndex.IdBucketsMarker})"))
    val touched = feed
      .select(explode(col("media_slots")).as("s"))
      .select(IncrementalAnnIndex.idBucket(col("s.media_ref"), buckets)
        .as("id_bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    StoragePaths.readTouchedBuckets(spark, path, "id_bucket", touched)
      .map(_.select("media_id", "media_type", "n_bytes", "payload"))
      // no touched batch=*/bucket leaf anywhere: either a genuinely
      // untouched store (the typed empty frame — never a limit(0) over
      // the root read, which would partition-discover every bucket dir
      // and re-pay the exact listing this function exists to bound), or
      // a LEGACY pre-drain catalog whose id_bucket leaves sit directly
      // under media/ with no batch= level — serve those with the same
      // touched-leaf enumeration rather than silently fetching nothing
      .orElse {
        val fsPath = new org.apache.hadoop.fs.Path(path)
        val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
        val legacy = touched
          .map(b => new org.apache.hadoop.fs.Path(fsPath, s"id_bucket=$b"))
          .filter(fs.exists(_)).map(_.toString)
        if (legacy.isEmpty) None
        else Some(spark.read.option("basePath", path).parquet(legacy: _*)
          .select("media_id", "media_type", "n_bytes", "payload"))
      }
      .getOrElse(StoragePaths.emptyOf(spark, CatalogSchema))
  }

  /** The byte fetch against the store: [[Packing.fetchMediaPayloads]]'s
    * exact join over the PRUNED catalog read — same rows as the relation
    * form (spec-asserted), probe I/O bounded by the window's buckets.
    */
  def fetch(spark: SparkSession, root: String, feed: DataFrame): DataFrame =
    Packing.fetchMediaPayloads(feed, touchedCatalog(spark, root, feed))
}
