package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The IVF maintenance POLICY loop — the [[FamilyMaintenance]] engine
  * instantiated for the frozen-leader ANN index, closing the circle
  * around [[IncrementalAnnIndex]] (frozen-leader adds) and
  * [[StoreMaintenance.listBalance]] (the health report): when the stored
  * corpus drifts away from the bootstrap distribution, everything new
  * crowds into a few lists, the [[Similarity.MaxListOccupancy]] probe cap
  * truncates those lists forever, and recall decays. The remedy FAISS
  * documents for a drifted IVF index is the same one run here: retrain the
  * coarse quantizer on the CURRENT corpus and reassign — but never in
  * place, because probing new lists with old leaders (or vice versa)
  * misroutes every query.
  *
  * Generations make the swap safe ([[StoreMaintenance.publishGeneration]]):
  * a generation directory holds BOTH stores of one trained index —
  *
  * {{{
  *   root/_current            → "gen-00001"            (pointer, written last)
  *   root/gen-00001/leaders/                            (list_id, lvec, lnorm)
  *   root/gen-00001/lists/batch=-1/id_bucket=B/         (+ _id_buckets marker)
  * }}}
  *
  * — so one atomic pointer write republishes a CONSISTENT (leaders, lists)
  * pair. A reader mid-probe keeps the generation it resolved; a crashed
  * retrain is an abandoned partial the next attempt ignores.
  *
  * The policy itself ([[maintain]]) is measure-then-act: read the live
  * generation's imbalance factor (max/mean list occupancy); below the
  * threshold do nothing (the common case — one cheap aggregate over list
  * ids); above it, [[retrain]] into the next generation. Retraining seeds
  * Lloyd's iterations from [[hashTileSeeds]] — deterministic hash-elected
  * representatives spread across the WHOLE corpus — because the bootstrap
  * seeds (lowest vec_ids) are by construction where the corpus started,
  * i.e. exactly the spot a drifted corpus has left.
  *
  * After a retrain the stream re-enters service on the new generation's
  * paths under a fresh checkpoint: the lists carry the `batch=-1` +
  * `_id_buckets` re-entry contract ([[StoreMaintenance.compact]]), and
  * [[IncrementalAnnIndex.run]]'s bootstrap guard keys on leader-store
  * existence, so it adopts the retrained leaders instead of retraining on
  * whatever batch arrives next.
  */
object IvfMaintenance {

  /** Retrain when max list occupancy exceeds this multiple of the mean.
    * 1.0 is perfectly balanced; 4.0 means the hottest list does 4× the
    * probe work of the average and (once past
    * [[Similarity.MaxListOccupancy]]) is silently truncating.
    */
  val DefaultImbalanceThreshold = 4.0

  /** Lloyd rounds for a retrain. Each round is one broadcast-assign scan
    * plus one hash-aggregate mean ([[Similarity.kmeansFromSeeds]]).
    */
  val DefaultKmeansIters = 5

  def leadersPath(genPath: String): String = s"$genPath/leaders"
  def listsPath(genPath: String): String = s"$genPath/lists"

  /** What [[maintain]] did: the measured imbalance, whether it retrained,
    * and the new generation's path when it did.
    */
  final case class Report(
      imbalanceFactor: Double,
      retrained: Boolean,
      generation: Option[String])

  /** max/mean list occupancy of a list store; 1.0 for an empty store. One
    * aggregate over the lists' `list_id` column — parquet prunes the
    * vectors out of the scan, so the health check is cheap enough to run
    * after every drain.
    */
  def imbalanceFactor(lists: DataFrame): Double = {
    val r = StoreMaintenance.listBalance(lists)
      .agg(max("imbalance_factor")).collect()
    if (r.isEmpty || r.head.isNullAt(0)) 1.0 else r.head.getDouble(0)
  }

  /** `k` deterministic seed centroids spread across the corpus: each
    * vector hashes to one of `k` tiles, and the tile's representative is
    * its min-`xxhash64(vec_id)` member — a pseudo-random (but replayable)
    * draw per tile, i.e. a size-`k` uniform-ish sample of the corpus in
    * ONE partially-aggregated `min_by` pass, no shuffle of the vectors.
    * The FAISS retrain analogue trains on a random sample; hash election
    * keeps it deterministic for the specs and the oracle.
    */
  def hashTileSeeds(emb: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"hashTileSeeds: k must be positive, got $k")
    val seeds = emb.select(col("vec_id"), col("embedding"))
      .withColumn("tile", pmod(xxhash64(col("vec_id")), lit(k.toLong)))
      .withColumn("h", xxhash64(col("vec_id"), lit(1)))
      .groupBy("tile")
      .agg(min_by(col("embedding"), struct(col("h"), col("vec_id")))
        .as("lvec"))
      .select(col("tile").as("list_id"), col("lvec"),
        expr(s"sqrt(${Dedup.dot("lvec", "lvec")})").as("lnorm"))
    seeds
  }

  /** The engine description: leaders are the model; the list store is
    * carried in its bucket layout by adopt and REASSIGNED by a retrain.
    */
  private object engine extends FamilyMaintenance("IvfMaintenance", Seq(
    StoreSpec("leaders", leadersPath _, Carry.Model),
    StoreSpec("lists", listsPath _,
      Carry.Rows(Some("vec_id"), IncrementalAnnIndex.NumIdBuckets))))

  /** Adopt a FLAT store pair — the layout [[IncrementalAnnIndex.run]]
    * maintains — into the generation layout under `root`, publishing the
    * first generation atomically. One-time migration; thereafter the
    * stream appends to the live generation's paths and [[maintain]] owns
    * the swaps.
    */
  def adopt(
      spark: SparkSession,
      root: String,
      leaderSrc: String,
      listSrc: String,
      numFiles: Int,
      idBuckets: Int = IncrementalAnnIndex.NumIdBuckets): String =
    engine.adoptFrom(spark, root,
      Map("leaders" -> leaderSrc, "lists" -> listSrc), numFiles,
      Map("lists" -> idBuckets))

  /** Retrain the live generation's quantizer on its CURRENT corpus and
    * reassign every stored vector, into the next generation; publish only
    * after the row count verifies. Seeds come from [[hashTileSeeds]];
    * the reassigned lists are written through the compaction layout
    * ([[StoreMaintenance.writeStoreLayout]]), so the new generation is
    * re-enterable by the stream exactly like a compacted store. The
    * stored corpus is also the training source: unlike the lossy code
    * stores, the lists carry their vectors. Returns the new generation's
    * path.
    */
  def retrain(
      spark: SparkSession,
      root: String,
      kmeansIters: Int = DefaultKmeansIters,
      numFiles: Int = 1): String =
    engine.rewrite(spark, root, numFiles, Set("leaders", "lists")) {
      (cur, dest) =>
        val stored = spark.read.parquet(listsPath(cur))
          .drop("batch", "id_bucket")
        val srcRows = stored.count()
        val emb = stored.select("vec_id", "embedding")
        val seeds = hashTileSeeds(emb, Similarity.NumLists)
        val nSeeds = seeds.count()
        require(nSeeds == Similarity.NumLists.toLong,
          s"IvfMaintenance.retrain: seed election produced $nSeeds of " +
            s"${Similarity.NumLists} tiles — corpus too small to retrain")
        val cents = Similarity.kmeansFromSeeds(emb, seeds, kmeansIters)
        cents.coalesce(1).write.mode("errorifexists")
          .parquet(leadersPath(dest))
        val reassigned = Similarity
          .assignWithLeadersRetaining(emb,
            spark.read.parquet(leadersPath(dest)))
          .select("vec_id", "list_id", "list_cos", "embedding", "norm")
        // keep the source store's bucket modulus: the corpus didn't grow,
        // so the membership-probe unit (bucket size) is unchanged
        val buckets = IncrementalAnnIndex.bucketCount(spark, listsPath(cur))
          .getOrElse(IncrementalAnnIndex.NumIdBuckets)
        StoreMaintenance.writeStoreLayout(spark, reassigned, listsPath(dest),
          numFiles, bucketBy = Some(("vec_id", buckets)))
        val written = spark.read.parquet(listsPath(dest)).count()
        require(written == srcRows,
          s"IvfMaintenance.retrain: reassigned $written of $srcRows rows — " +
            "not publishing; readers stay on the current generation")
    }

  /** The maintenance policy: measure the live generation's imbalance and
    * retrain iff it exceeds `threshold`. Idempotent below the threshold
    * (pure read); above it, one retrained generation per call — callers
    * run it after each drain, the way the reference's dbt job follows each
    * ingestion run.
    */
  def maintain(
      spark: SparkSession,
      root: String,
      threshold: Double = DefaultImbalanceThreshold,
      kmeansIters: Int = DefaultKmeansIters,
      numFiles: Int = 1): Report = {
    val (imb, gen) = engine.whenDrifted(spark, root) { cur =>
      val imb = imbalanceFactor(
        spark.read.parquet(listsPath(cur)).select("list_id"))
      Outcome(imb > threshold, imb)
    }(_ => retrain(spark, root, kmeansIters, numFiles))
    Report(imb, gen.isDefined, gen)
  }

  /** Probe the LIVE generation — resolve the pointer once, then run
    * [[IncrementalAnnIndex.topKFromStore]] against the immutable pair it
    * names.
    */
  def topKCurrent(
      spark: SparkSession,
      root: String,
      queries: DataFrame,
      k: Int = Similarity.TopK,
      nprobe: Int = Similarity.NProbe,
      maxListOccupancy: Int = Similarity.MaxListOccupancy): DataFrame = {
    val cur = StoreMaintenance.resolveCurrent(spark, root)
    IncrementalAnnIndex.topKFromStore(spark, leadersPath(cur), listsPath(cur),
      queries, k, nprobe, maxListOccupancy)
  }
}
