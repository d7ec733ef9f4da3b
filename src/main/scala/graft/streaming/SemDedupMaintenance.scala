package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The retrain loop for [[IncrementalSemDedup]]'s stores — the
  * [[FamilyMaintenance]] engine over the semantic-dedup root, the missing
  * half of the [[IvfMaintenance]] circle: the incremental semantic dedup
  * freezes its IVF leaders at bootstrap, so a drifted embedding stream
  * crowds into a few lists and the bounded head (the per-list
  * `maxListOccupancy` lowest ids) stops covering the region where new
  * vectors actually land — duplicate families planted after the drift
  * sail past a head that was elected from where the corpus STARTED. The
  * hot-list occupancy cap keeps the per-batch cost bounded through all of
  * this; what decays is the CATCH RATE, and the remedy is the same one
  * FAISS documents for a drifted IVF index: retrain the coarse quantizer
  * on the current corpus and re-elect, never in place.
  *
  * Generations make the swap safe (same contract as [[IvfMaintenance]]):
  * a generation directory holds one CONSISTENT retrained copy of the
  * ENTIRE semdedup root — leaders, reassigned admitted lists, re-elected
  * heads, and the carried decided/ledger history —
  *
  * {{{
  *   genRoot/_current          → "gen-00001"        (pointer, written last)
  *   genRoot/gen-00001/leaders | lists | heads | decided | ledger
  * }}}
  *
  * — so the published path IS a valid [[IncrementalSemDedup]] root: the
  * stream re-enters service on it under a fresh checkpoint (heads land at
  * `batch=-1`, below every epoch; the bucketed stores carry their
  * markers; the bootstrap guard sees the retrained leaders and adopts
  * them).
  *
  * One documented semantic shift: the re-elected head draws from the
  * ADMITTED corpus only — dropped vectors' embeddings are not stored
  * (storing them would grow a second corpus-sized vector store purely
  * for head candidacy), so a dropped id that sat in the pre-retrain head
  * is represented by its tau-similar keeper instead. Decisions already
  * made are carried in the decided store and stay made; only FUTURE
  * comparisons see the new head.
  *
  * Re-entry WITHOUT a retrain (a lost checkpoint, a routine fold of the
  * per-batch directories) is the inherited `compact`: every store lands
  * at `batch=-1` in the next generation — the head store as its newest
  * relation — and the stream resumes on it under a fresh checkpoint.
  */
object SemDedupMaintenance extends FamilyMaintenance(
  "SemDedupMaintenance",
  Seq(
    // leaders are the model; lists and heads are re-derived by a retrain
    StoreSpec("leaders", IncrementalSemDedup.leaderPath _, Carry.Model),
    StoreSpec("lists", IncrementalSemDedup.listPath _,
      Carry.Rows(Some("vec_id"), IncrementalAnnIndex.NumIdBuckets)),
    // the heads store is SUPERSEDING (readers resolve the newest batch
    // only) — the carry resolves it and lands that one relation at
    // batch=-1, the re-entry position
    StoreSpec("heads", IncrementalSemDedup.headsPath _,
      Carry.Custom((spark, src, dst, numFiles, _) => {
        val root = src.stripSuffix("/heads")
        IncrementalSemDedup.readHeads(spark, root, Long.MinValue)
          .getOrElse(throw new IllegalStateException(
            s"SemDedupMaintenance: no head generations under $root"))
          .coalesce(numFiles).write.mode("errorifexists")
          .parquet(s"$dst/batch=${StoreMaintenance.CompactedBatch}")
      })),
    // decision history: a lossy carry of the DECIDED store would
    // re-decide old ids in the next era, and a lossy ledger carry
    // silently truncates the audit history
    StoreSpec("decided", IncrementalSemDedup.decidedPath _,
      Carry.Rows(Some("vec_id"), IncrementalAnnIndex.NumIdBuckets)),
    StoreSpec("ledger", IncrementalSemDedup.ledgerPath _, Carry.Rows()))) {

  /** Retrain the live generation's quantizer on its CURRENT admitted
    * corpus ([[IvfMaintenance.hashTileSeeds]] →
    * [[Similarity.kmeansFromSeeds]]), reassign every admitted vector,
    * re-elect the bounded head under the new assignment (the same
    * id-width two-phase election as [[Similarity.semDedup]] — rank on
    * `(list_id, vec_id)`, embeddings joined back for the elected head
    * only), and carry the decided/ledger history — all into the next
    * generation, published only after the row counts verify. Returns the
    * new generation's path.
    */
  def retrain(
      spark: SparkSession,
      genRoot: String,
      kmeansIters: Int = IvfMaintenance.DefaultKmeansIters,
      numFiles: Int = 1,
      maxListOccupancy: Int = Similarity.MaxListOccupancy): String =
    rewrite(spark, genRoot, numFiles, Set("leaders", "lists", "heads")) {
      (cur, dest) =>
        val stored = spark.read.parquet(IncrementalSemDedup.listPath(cur))
          .drop("batch", "id_bucket")
        val srcRows = stored.count()
        val emb = stored.select("vec_id", "embedding")
        val seeds = IvfMaintenance.hashTileSeeds(emb, Similarity.NumLists)
        require(seeds.count() == Similarity.NumLists.toLong,
          "SemDedupMaintenance.retrain: seed election underfilled — " +
            "corpus too small to retrain")
        val cents = Similarity.kmeansFromSeeds(emb, seeds, kmeansIters)
        cents.coalesce(1).write.mode("errorifexists")
          .parquet(IncrementalSemDedup.leaderPath(dest))
        // reassign against the WRITTEN leaders: the stored floats are the
        // contract every later batch assigns against. The reassignment is
        // NEVER cached — at the module's stated scale a full-corpus
        // vector-carrying persist is terabytes of executor storage for one
        // maintenance job. Instead the two-pass discipline the batch
        // operator already follows: stream the reassigned rows straight
        // into the new generation's list store (pass 1), then RE-READ the
        // written store — parquet prunes to `(list_id, vec_id)` for the
        // election and fetches embeddings only for the elected head
        // (pass 2). The second pass costs an id-width scan plus a
        // head-sized fetch, not a corpus of vectors in memory.
        val reassigned = Similarity.assignWithLeadersRetaining(emb,
            spark.read.parquet(IncrementalSemDedup.leaderPath(dest)))
          .select("vec_id", "list_id", "list_cos", "embedding", "norm")
        val buckets = IncrementalAnnIndex
          .bucketCount(spark, IncrementalSemDedup.listPath(cur))
          .getOrElse(IncrementalAnnIndex.NumIdBuckets)
        StoreMaintenance.writeStoreLayout(spark, reassigned,
          IncrementalSemDedup.listPath(dest), numFiles,
          bucketBy = Some(("vec_id", buckets)))
        // pass 2 reads the store pass 1 wrote — verify the write landed
        // every row BEFORE electing from it (a lossy write would elect
        // from a lossy corpus and the pointer must not move either way)
        val writtenStore = spark.read
          .parquet(IncrementalSemDedup.listPath(dest))
        val written = writtenStore.count()
        require(written == srcRows,
          s"SemDedupMaintenance.retrain: reassigned $written of $srcRows " +
            "rows — not publishing; readers stay on the current generation")
        // id-width head election from the WRITTEN store (no vector rides
        // the rank — the hot-list guard pinned for the batch operator in
        // PlanSpec)
        val headIds = writtenStore.select("list_id", "vec_id")
          .withColumn("lrnk", row_number().over(Window
            .partitionBy("list_id").orderBy("vec_id")))
          .filter(col("lrnk") <= maxListOccupancy)
          .select("list_id", "vec_id")
        // head-sized broadcast (≤ nlists × cap rows) fetches embeddings
        // for the elected ids only — the one place a vector leaves the
        // store
        writtenStore.join(broadcast(headIds), Seq("list_id", "vec_id"))
          .select("vec_id", "list_id", "embedding", "norm")
          .coalesce(numFiles).write.mode("errorifexists")
          .parquet(s"${IncrementalSemDedup.headsPath(dest)}/" +
            s"batch=${StoreMaintenance.CompactedBatch}")
    }

  /** Measure-then-act, the [[IvfMaintenance.maintain]] policy applied to
    * the semdedup store: read the live generation's imbalance factor
    * (cheap — parquet prunes to `list_id`), retrain iff it exceeds
    * `threshold`.
    */
  def maintain(
      spark: SparkSession,
      genRoot: String,
      threshold: Double = IvfMaintenance.DefaultImbalanceThreshold,
      kmeansIters: Int = IvfMaintenance.DefaultKmeansIters,
      numFiles: Int = 1,
      maxListOccupancy: Int = Similarity.MaxListOccupancy): IvfMaintenance.Report = {
    val (imb, gen) = whenDrifted(spark, genRoot) { cur =>
      val imb = IvfMaintenance.imbalanceFactor(spark.read
        .parquet(IncrementalSemDedup.listPath(cur)).select("list_id"))
      Outcome(imb > threshold, imb)
    }(_ => retrain(spark, genRoot, kmeansIters, numFiles, maxListOccupancy))
    IvfMaintenance.Report(imb, gen.isDefined, gen)
  }
}
