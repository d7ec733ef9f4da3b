package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.ops.{Curation, Dedup}

/** Incremental corpus curation — the ongoing-crawl shape of
  * [[graft.ops.Curation]]: new documents arrive continuously, and
  * re-clustering 100 TB of history per batch is not an option. Instead the
  * pipeline maintains a SIGNATURE STORE (one MinHash signature row per
  * admitted document, ~100 bytes/doc vs KBs for shingle sets) and, per
  * micro-batch:
  *
  *   1. signatures for the new documents ([[Dedup.minhashSignatures]] —
  *      batch-sized work);
  *   2. near-dup candidates via the LSH band join of new-side bands
  *      against store ∪ batch bands (only matching buckets materialize);
  *   3. candidate verification by the MinHash Jaccard ESTIMATE (fraction
  *      of agreeing signature components — Broder 1997's estimator). The
  *      batch path verifies against exact shingle sets; storing those for
  *      the whole corpus is what this path exists to avoid, and with
  *      [[Dedup.NumHashes]] components the estimate is exact at 1.0
  *      (identical docs) and unbiased elsewhere — the documented
  *      incremental approximation;
  *   4. survivors pass the corpus-state-free gates
  *      ([[Curation.rowAudit]]); curated rows append to the corpus store,
  *      and ALL non-duplicate signatures append to the signature store —
  *      including gate-rejected docs, so a future copy of a rejected
  *      document is recognized as a duplicate rather than re-admitted.
  *
  * == Store layout: both compute AND I/O are touched-slice bounded ==
  *
  * The signature store is physically an LSH service's two relations:
  *
  * {{{
  *   sigPath/batch=N/id_bucket=B/    signature rows; B = pmod(xxhash64(doc_id), SB)
  *   sigPath/_id_buckets             SB marker (written last; compaction re-buckets)
  *   sigPath.bands/batch=N/band_bucket=B/   inverted band index (doc_id, band_idx,
  *                                          band_val); B = pmod(xxhash64(idx, val), BB)
  *   sigPath.bands/_band_buckets     BB marker
  * }}}
  *
  * Per batch, every store read is statically partition-pruned to the slice
  * the batch can touch — the same contract as
  * [[IncrementalAnnIndex.priorIds]]:
  *   - membership (first-write-wins doc_ids): the batch ids' `id_bucket`s;
  *   - the band join's reference side: the batch bands' `band_bucket`s via
  *     the inverted sidecar (a signature-store partition keyed on any ONE
  *     band could not prune soundly — a stored doc may match on a
  *     DIFFERENT band than the partitioning one);
  *   - the estimate leg's reference signatures: the candidate ref_ids'
  *     `id_bucket`s (candidates are materialized anyway — the touched set
  *     is a bounded collect, ≤ the bucket count).
  *
  * Per-batch cost ∝ batch size + matched candidates, and per-batch I/O ∝
  * the touched buckets — never ∝ corpus history. Bucket COUNT scales with
  * the store (compaction re-buckets, [[StoreMaintenance.compact]]) so
  * bucket SIZE, the unit a probe reads, stays bounded. Hot band buckets
  * stay bounded because the store holds only near-dup SURVIVORS: an
  * incoming duplicate family collapses against its stored keeper instead
  * of accumulating. A store WITHOUT markers (legacy flat layout, or one
  * rewritten by a plain un-bucketed compaction) falls back to the unpruned
  * column scan — correct, just not history-free; [[rebuildBandIndex]] (and
  * a re-bucketing compaction) migrate it.
  *
  * Exactly-once follows [[IncrementalMartStream]]: checkpointed file
  * tracking dedupes landed files, and all stores write per-batch
  * directories with overwrite, so an at-least-once replay rewrites
  * identical rows.
  */
object IncrementalCuration {

  /** Default doc-id bucket count for a fresh signature store (the
    * [[IncrementalAnnIndex.IdBucketsMarker]] convention — same marker,
    * same formula, so [[StoreMaintenance.compact]] re-buckets this store
    * with `bucketBy = Some(("doc_id", n))` unchanged).
    */
  val NumSigIdBuckets = 64

  /** Default band-bucket count for a fresh inverted band index. */
  val NumBandBuckets = 64

  /** Marker file recording the sidecar's bucket count. */
  val BandBucketsMarker = "_band_buckets"

  /** The inverted band index lives beside its signature store. */
  def bandIndexPath(sigPath: String): String = sigPath + ".bands"

  // ------------------------------------------------------------------ //
  // Family-root layout: one directory holding every store of a drain,  //
  // so maintenance can carry them as a unit ([[CurationMaintenance]]). //
  // The two-path run() signature predates the root layout and remains  //
  // the primitive; runRoot() is the rooted spelling.                    //
  // ------------------------------------------------------------------ //

  def sigPathOf(root: String): String = s"$root/sigs"
  def corpusPathOf(root: String): String = s"$root/corpus"
  def metricsPathOf(root: String): String = s"$root/metrics"

  /** Every store under a family root — the list
    * [[CurationMaintenance]]'s carry is pinned against, in one place so
    * a new store cannot be added to the writes without joining it. The
    * band sidecar ([[bandIndexPath]]) is included but DERIVED: its
    * maintenance carry rebuilds it in the new generation from the
    * just-carried signature rows rather than copying it (its bucket key
    * hashes `(band_idx, band_val)`, not an id column — and a rebuild
    * from verified rows cannot disagree with them).
    */
  def storePaths(root: String): Seq[String] =
    Seq(sigPathOf(root), bandIndexPath(sigPathOf(root)),
      corpusPathOf(root), metricsPathOf(root))

  /** [[run]] over the family-root layout (signatures, corpus, and the
    * per-batch funnel ledger under one root) — the spelling
    * [[CurationMaintenance]] maintains.
    */
  def runRoot(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      docSchema: org.apache.spark.sql.types.StructType): DataFrame =
    run(spark, landingDir, checkpointDir, sigPathOf(root),
      corpusPathOf(root), docSchema, Some(metricsPathOf(root)))

  /** `pmod(xxhash64(band_idx, band_val), buckets)` — the sidecar partition
    * a band row lives under. Int-typed to round-trip exactly through
    * partition directory discovery.
    */
  def bandBucket(bandIdx: Column, bandVal: Column, buckets: Int): Column =
    pmod(xxhash64(bandIdx, bandVal), lit(buckets.toLong)).cast("int")

  /** The sidecar's band-bucket count, from its marker; None = no usable
    * sidecar (absent, or mid-build).
    */
  def bandBucketCount(spark: SparkSession, bandPath: String): Option[Int] =
    StoragePaths.readSmallFile(spark, s"$bandPath/$BandBucketsMarker")
      .map(_.trim.toInt)

  /** Estimated Jaccard between two signature rows (prefixes `a`/`b`):
    * the fraction of the [[Dedup.NumHashes]] minhash components that
    * agree. Callers guarantee both sides have shingles (band rows exist
    * only for n_shingles > 0), so the components are non-null.
    */
  private def estJaccard(a: String, b: String): Column =
    (0 until Dedup.NumHashes)
      .map(j => when(col(s"$a.mh_$j") === col(s"$b.mh_$j"), 1).otherwise(0))
      .reduce(_ + _)
      .cast("double") / Dedup.NumHashes

  /** (doc_id, [extra...], band_idx, band_val) from signature rows — the
    * signature-relation counterpart of the batch path's band explode.
    * Public so callers can derive the touched-band frame the pruned
    * readers take.
    */
  def bandRowsOf(sigs: DataFrame, extra: Seq[String] = Nil): DataFrame =
    sigs.filter(col("n_shingles") > 0)
      .select((col("doc_id") +: extra.map(col)) :+ posexplode(
        array((0 until Dedup.Bands).map(b => col(s"band_$b")): _*))
        .as(Seq("band_idx", "band_val")): _*)

  // ------------------------------------------------------------------ //
  // Pruned store readers — each limits its scan to the touched slice.  //
  // All exclude `excludeBatchId`'s own partition: foreachBatch is       //
  // at-least-once, and a replay after a crash-post-write must not       //
  // compare a batch against its own previously written rows.            //
  // ------------------------------------------------------------------ //

  /** Stored doc_ids a batch could collide with (first-write-wins
    * membership), read with static partition pruning to the batch ids'
    * touched `id_bucket`s. Falls back to the unpruned column scan on a
    * legacy flat store.
    */
  def priorDocIds(
      spark: SparkSession,
      sigPath: String,
      batchIds: DataFrame,
      excludeBatchId: Long): DataFrame =
    StoragePaths.prunedStore(spark, sigPath, "doc_id", batchIds,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))),
      Some(excludeBatchId), semiJoinKeys = false)

  /** Stored band rows matching the batch's touched bands, read with
    * static partition pruning to the touched `band_bucket`s of the
    * inverted sidecar (the exact-key semi-join inside
    * [[duplicatesAgainst]] narrows the bucket superset to the touched
    * (band_idx, band_val) pairs). Falls back to deriving band rows from
    * the full signature store when no sidecar exists.
    */
  def priorBandRows(
      spark: SparkSession,
      sigPath: String,
      touched: DataFrame,
      excludeBatchId: Long): DataFrame = {
    val bandPath = bandIndexPath(sigPath)
    bandBucketCount(spark, bandPath) match {
      case Some(n) =>
        val tb = touched
          .select(bandBucket(col("band_idx"), col("band_val"), n)
            .as("band_bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        spark.read.parquet(bandPath)
          .filter(col("band_bucket").isin(tb: _*))
          .filter(col("batch").cast("long") =!= excludeBatchId)
          .select("doc_id", "band_idx", "band_val")
      case None =>
        bandRowsOf(spark.read.parquet(sigPath)
          .filter(col("batch").cast("long") =!= excludeBatchId)
          .drop("batch", "id_bucket"))
    }
  }

  /** Stored signature rows for candidate ref ids (the estimate leg), read
    * with static partition pruning to the ids' touched `id_bucket`s; the
    * estimate join itself narrows the bucket superset to the exact ids.
    */
  def priorSigRows(
      spark: SparkSession,
      sigPath: String,
      refIds: DataFrame,
      excludeBatchId: Long): DataFrame = {
    val store = IncrementalAnnIndex.bucketCount(spark, sigPath) match {
      case Some(n) =>
        val touched = refIds
          .select(IncrementalAnnIndex.idBucket(col("doc_id"), n)
            .as("id_bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        spark.read.parquet(sigPath)
          .filter(col("id_bucket").isin(touched: _*))
      case None => spark.read.parquet(sigPath)
    }
    store.filter(col("batch").cast("long") =!= excludeBatchId)
      .drop("batch", "id_bucket")
  }

  /** How one batch sees the accumulated store: the membership relation
    * plus two demand-driven readers (they take the touched-band / ref-id
    * frames because those are only known mid-computation). The relation
    * view ([[StoreView.ofSigs]]) serves tests and small corpora; [[run]]
    * wires the pruned path readers.
    */
  final case class StoreView(
      priorIds: Option[DataFrame],
      priorBandsOf: DataFrame => DataFrame,
      priorSigsOf: DataFrame => DataFrame)

  object StoreView {
    /** The whole store as one in-memory relation — no pruning. */
    def ofSigs(storeSigs: DataFrame,
        priorIds: Option[DataFrame] = None): StoreView =
      StoreView(priorIds, _ => bandRowsOf(storeSigs), _ => storeSigs)
  }

  /** doc_ids of NEW documents that near-duplicate either a stored document
    * or an earlier document of the same batch (earlier = lower doc_id —
    * the same min-id keeper orientation as the batch path). One row per
    * duplicate new doc with its matched keeper and the estimate.
    *
    * Hot buckets: a borderline family (pairwise estimate just under the
    * duplicate threshold) is never collapsed, so its signatures accumulate
    * in the store and can concentrate in one band bucket across batches.
    * A reference-side bucket holding more than `maxBandOccupancy` rows
    * therefore degrades to its ROOT (min doc_id) — each new doc compares
    * against one representative instead of every member, the same star
    * trade as [[Dedup.MaxBandOccupancy]]: linear cost, and a true
    * duplicate of a non-root member no longer links via THAT bucket (its
    * other [[Dedup.Bands]]−1 buckets still can).
    */
  def newDuplicates(newSigs: DataFrame, storeSigs: DataFrame,
      maxBandOccupancy: Int = Dedup.MaxBandOccupancy): DataFrame =
    duplicatesAgainst(newSigs, StoreView.ofSigs(storeSigs), maxBandOccupancy)

  /** [[newDuplicates]] against a [[StoreView]] — the shared core, so the
    * pruned and relation-backed paths cannot diverge.
    */
  def duplicatesAgainst(newSigs: DataFrame, store: StoreView,
      maxBandOccupancy: Int = Dedup.MaxBandOccupancy): DataFrame = {
    val newBands = bandRowsOf(newSigs)
    // Only buckets the BATCH touches matter: occupancy of a bucket no new
    // doc probes is never consumed, so the store's band rows are
    // semi-joined to the batch's distinct bucket keys BEFORE the degrade —
    // per-batch cost scales with the touched slice of the store, not with
    // total history (and the pruned reader bounds the I/O the same way).
    val touched = newBands.select("band_idx", "band_val").distinct()
    val ref = store.priorBandsOf(touched)
      .select("doc_id", "band_idx", "band_val")
      .withColumn("prior", lit(true))
      .unionByName(newBands.withColumn("prior", lit(false)))
    // occupancy + root election via [[Dedup.hotBucketRoots]] (groupBy
    // partials + broadcast left join), never a bucket window: a borderline
    // family accumulating across batches is exactly the mega-bucket a
    // window would buffer through one task. The root key leads with the
    // prior flag (stored docs sort first): a new doc with a lower id than
    // every stored member must NOT unseat the stored root, or the whole
    // stored family would be filtered from the bucket and the new
    // duplicate re-admitted. The touched relation persists because the
    // degrade scans it twice (stats + probe) and a re-read would re-fetch
    // the store.
    val refT = ref.join(touched, Seq("band_idx", "band_val")).persist()
    val refN = refT.count()
    val refB = Dedup.hotBucketRoots(refT, Seq("band_idx", "band_val"),
      maxBandOccupancy,
      struct(when(col("prior"), 0).otherwise(1).as("np"), col("doc_id")),
      relRows = Some(refN))
    val refKept = refB.filter(
      col("hot_root").isNull || col("doc_id") === col("hot_root.doc_id"))
    val cand = newBands.as("n")
      .join(refKept.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
          col("n.band_val") === col("o.band_val") &&
          col("n.doc_id") =!= col("o.doc_id"))
      // keeper orientation: a stored doc always beats a new one; within
      // the batch the lower doc_id survives
      .filter(col("o.prior") || col("o.doc_id") < col("n.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("ref_id"))
      .distinct()
      .persist()
    // materialize candidates: the frame feeds both estimate legs, and the
    // pruned sig reader needs the candidate ids to know its buckets; the
    // touched band relation only feeds the candidates, so free it now
    cand.count()
    refT.unpersist(blocking = false)
    val refSigs = store
      .priorSigsOf(cand.select(col("ref_id").as("doc_id")).distinct())
      .unionByName(newSigs)
    val est = cand
      .join(newSigs.as("a"), col("new_id") === col("a.doc_id"))
      .join(refSigs.as("b"), col("ref_id") === col("b.doc_id"))
      .select(col("new_id"), col("ref_id"),
        estJaccard("a", "b").as("est_jaccard"))
      .filter(col("est_jaccard") >= Dedup.JaccardDupThreshold)
    // cut the result loose, then free the candidate cache (batch-sized)
    val out = est.localCheckpoint()
    cand.unpersist(blocking = false)
    out
  }

  /** One batch's outcome: the rows to append plus the funnel counts —
    * captured from actions the batch already runs, so observability costs
    * nothing extra.
    */
  final case class BatchResult(
      curated: DataFrame,
      keptSigs: DataFrame,
      nLanded: Long,
      nUnique: Long,
      nDuplicates: Long,
      nCurated: Long)

  /** Curate one batch against the stores — separated from the streaming
    * loop so the logic is testable without a stream.
    *
    * `store.priorIds` is the first-write-wins membership relation: doc_ids
    * the store already owns, EXCLUDING the replaying batch's own partition
    * (see [[run]]). Without it a re-crawled document landing in a LATER
    * batch under its stored doc_id bypasses dedup entirely — the only
    * stored row with matching content is its own prior copy, which the
    * candidate join excludes via `n.doc_id =!= o.doc_id` (needed for
    * replay idempotence) — and duplicate doc_id rows would accumulate in
    * both stores, breaking the one-row-per-doc invariant.
    */
  def curateBatch(batch: DataFrame, store: StoreView): BatchResult = {
    // one row per doc_id even if a file and its re-crawl land in the SAME
    // drain (AvailableNow can pull both into one micro-batch): the
    // cross-batch anti-join can't see them, and the dedup self-join
    // excludes same-id matches, so without this guard both copies would
    // survive and multiply through the gate joins. A doc_id the store
    // already owns drops out at the same funnel stage (landed − unique),
    // the ledger's "not novel" bucket.
    val uniq0 = batch.dropDuplicates("doc_id")
    val uniq = store.priorIds.fold(uniq0)(p =>
      uniq0.join(p.select("doc_id"), Seq("doc_id"), "left_anti"))
    // persist + eager fill: the signature relation feeds the band join,
    // both estimate legs, and the kept-signature anti-join; dupIds (the
    // whole LSH join) feeds both output writes. Without materialization
    // every consumer would re-run tokenize→shingle→minhash from the raw
    // batch (the same reasoning as Dedup.minhashPairs' eager fill).
    val sigs = Dedup.minhashSignatures(uniq).persist()
    val nUnique = sigs.count()
    val dupIds = duplicatesAgainst(sigs, store)
      .select(col("new_id").as("doc_id")).distinct().persist()
    val nDuplicates = dupIds.count()
    val survivors = uniq.join(dupIds, Seq("doc_id"), "left_anti")
    val gates = Curation.rowAudit(survivors)
    val curated = survivors.join(
      gates.filter(col("curated"))
        .select("doc_id", "quality_score", "split"), Seq("doc_id"))
      .select("doc_id", "lang", "source", "n_chars", "quality_score",
        "split")
    val keptSigs = sigs.join(dupIds, Seq("doc_id"), "left_anti")
    // cut both results loose from the caches (batch-sized blocks, freed by
    // the ContextCleaner once unreachable), then release the legs
    val curatedOut = curated.localCheckpoint()
    val keptOut = keptSigs.localCheckpoint()
    sigs.unpersist(blocking = false)
    dupIds.unpersist(blocking = false)
    BatchResult(curatedOut, keptOut,
      nLanded = batch.count(), nUnique = nUnique,
      nDuplicates = nDuplicates, nCurated = curatedOut.count())
  }

  /** Build (or rebuild) the inverted band index beside an EXISTING
    * signature store whose sidecar is absent — the migration path for a
    * legacy flat store, and the follow-up step after compacting a store to
    * a fresh root (the compaction rewrite carries signature rows, not
    * sidecar batches). Lands under `batch=-1` (below every streaming
    * epoch, the [[StoreMaintenance.CompactedBatch]] convention), marker
    * written last.
    */
  def rebuildBandIndex(
      spark: SparkSession,
      sigPath: String,
      buckets: Int = NumBandBuckets): Unit = {
    val bandPath = bandIndexPath(sigPath)
    require(bandBucketCount(spark, bandPath).isEmpty,
      s"rebuildBandIndex: $bandPath already has a complete sidecar — " +
        "rebuilding would duplicate its band rows")
    writeBandIndexBatch(
      spark.read.parquet(sigPath).drop("batch", "id_bucket"),
      bandPath, StoreMaintenance.CompactedBatch, buckets)
    StoragePaths.writeSmallFile(
      spark, s"$bandPath/$BandBucketsMarker", buckets.toString)
  }

  /** One batch's band rows into the sidecar — repartitioned ON the bucket
    * column (one file per touched bucket per batch, not one per
    * task × bucket), per-batch overwrite for replay idempotence.
    */
  private def writeBandIndexBatch(sigs: DataFrame, bandPath: String,
      batchId: Long, buckets: Int): Unit =
    bandRowsOf(sigs)
      .withColumn("band_bucket",
        bandBucket(col("band_idx"), col("band_val"), buckets))
      .repartition(col("band_bucket"))
      .write.mode("overwrite").partitionBy("band_bucket")
      .parquet(s"$bandPath/batch=$batchId")

  /** Drain the landing dir (Trigger.AvailableNow), curating each
    * micro-batch against the accumulated stores. Returns the corpus store.
    *
    * @param metricsPath optional per-batch funnel ledger — one row per
    *                    drained batch (landed / unique / duplicate /
    *                    curated counts), the record an operator reads
    *                    before asking why a drain shrank; written with the
    *                    same idempotent per-batch overwrite as the stores
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      sigPath: String,
      corpusPath: String,
      docSchema: org.apache.spark.sql.types.StructType,
      metricsPath: Option[String] = None): DataFrame = {
    // the guard covers every store INCLUDING the derived band sidecar;
    // re-entry is via CurationMaintenance, which folds history to batch=-1
    val bandPath = bandIndexPath(sigPath)
    val emptySigs = Dedup.minhashSignatures(
      StoragePaths.emptyOf(spark, docSchema))
    Drain.run(spark, "IncrementalCuration.run",
      spark.readStream.schema(docSchema).parquet(landingDir), checkpointDir,
      Seq(sigPath, bandPath, corpusPath) ++ metricsPath) { (batch, batchId) =>
      val storeExists = StoragePaths.exists(spark, sigPath)
      val sigBuckets = IncrementalAnnIndex.bucketCount(spark, sigPath)
      // every store reader excludes this batch's own partition (same
      // reasoning as IncrementalAnnIndex.run): foreachBatch is
      // at-least-once, and a replay after a crash-post-write must not
      // compare the batch against its own previously written rows —
      // that would overwrite batch=N with an empty directory, silent
      // data loss.
      val view =
        if (!storeExists) StoreView.ofSigs(emptySigs)
        else StoreView(
          Some(priorDocIds(spark, sigPath,
            batch.select("doc_id"), batchId)),
          touched => priorBandRows(spark, sigPath, touched, batchId),
          refIds => priorSigRows(spark, sigPath, refIds, batchId))
      val r = curateBatch(batch, view)
      // per-batch overwrite = idempotent under foreachBatch replay
      r.curated.write.mode("overwrite")
        .parquet(s"$corpusPath/batch=$batchId")
      // a GENUINELY flat store (data files directly under batch=N, the
      // structural probe — not marker absence, which a crash between
      // first bucketed write and marker write also produces) stays
      // flat: batch layouts cannot mix under one root, and correctness
      // only needs the unpruned fallback readers. Its sidecar (if a
      // rebuild created one) still receives every batch, or the pruned
      // band probe would go blind to post-rebuild history. A bucketed
      // store missing only its marker replays bucketed and self-heals.
      val legacyFlat = sigBuckets.isEmpty &&
        StoragePaths.isFlatLayout(spark, sigPath)
      if (legacyFlat) {
        if (bandBucketCount(spark, bandPath).isDefined)
          writeBandIndexBatch(r.keptSigs, bandPath, batchId,
            bandBucketCount(spark, bandPath).get)
        r.keptSigs.write.mode("overwrite")
          .parquet(s"$sigPath/batch=$batchId")
      } else {
        val sb = sigBuckets.getOrElse(NumSigIdBuckets)
        val bb = bandBucketCount(spark, bandPath)
          .getOrElse(NumBandBuckets)
        writeBandIndexBatch(r.keptSigs, bandPath, batchId, bb)
        r.keptSigs
          .withColumn("id_bucket",
            IncrementalAnnIndex.idBucket(col("doc_id"), sb))
          .repartition(col("id_bucket"))
          .write.mode("overwrite").partitionBy("id_bucket")
          .parquet(s"$sigPath/batch=$batchId")
        // markers AFTER the first data writes: marker-present ⇒
        // data-present (a crash in the window self-heals because the
        // replay overwrites the same batch directories)
        if (bandBucketCount(spark, bandPath).isEmpty)
          StoragePaths.writeSmallFile(
            spark, s"$bandPath/$BandBucketsMarker", bb.toString)
        if (sigBuckets.isEmpty)
          StoragePaths.writeSmallFile(spark,
            s"$sigPath/${IncrementalAnnIndex.IdBucketsMarker}",
            sb.toString)
      }
      metricsPath.foreach { mp =>
        import spark.implicits._
        Seq((batchId, r.nLanded, r.nUnique, r.nDuplicates, r.nCurated))
          .toDF("batch_id", "n_landed", "n_unique", "n_duplicates",
            "n_curated")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$mp/batch=$batchId")
      }
    }
    StoragePaths.readOrEmpty(spark, corpusPath, CorpusSchema)
  }

  /** Schema of the curated corpus store. */
  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("quality_score", DoubleType),
    StructField("split", StringType)))
}
