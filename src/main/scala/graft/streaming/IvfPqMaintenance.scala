package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Pq, Similarity}
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The RESIDUAL IVFPQ maintenance POLICY loop — the [[FamilyMaintenance]]
  * engine instantiated over BOTH frozen quantizers:
  * [[IncrementalIvfPqIndex]] freezes both at bootstrap (the FAISS
  * train-once contract), so when the crawl drifts, two decays compound
  * silently — new vectors crowd into a few coarse lists (probe-cap
  * truncation, the [[IvfMaintenance]] failure) AND their residuals leave
  * the region the sub-quantizer codebooks were trained on (rising
  * quantization error, the [[PqMaintenance]] failure). Neither sibling
  * loop can fix it: retraining the coarse leaders alone invalidates every
  * stored residual code (codes are only decodable RELATIVE to their
  * list's centroid), and retraining the residual book alone still routes
  * queries through the stale lists. The remedy is FAISS's own rebuild
  * discipline composed: retrain the coarse quantizer on the current
  * corpus ([[IvfMaintenance.hashTileSeeds]] + Lloyd rounds), derive the
  * residual codebook FROM the retrained assignment, re-encode every
  * vector from the vector source of record — never in place, always into
  * the next generation behind the atomic `_current` pointer.
  *
  * The code store is LOSSY (codes cannot reconstruct their vectors), so
  * like [[PqMaintenance]] every entry point that measures or retrains
  * takes the vector source of record explicitly; a deployment wires it to
  * whichever relation owns the originals.
  *
  * The counterfactual is DIRECT: mean residual quantization error
  * ([[Pq.residualQuantizationError]] — the error the stored codes
  * actually carry) under the live (leaders, book) pair versus under a
  * candidate pair trained on the current corpus; retrain only when live
  * is `threshold`× worse. Below threshold the cost is two broadcast-join
  * scans and no writes.
  *
  * Generation layout — each generation is a complete FLAT
  * [[IncrementalIvfPqIndex]] root, so the stream re-enters the published
  * generation directly (its bootstrap guard keys on book existence) and
  * [[IncrementalIvfPqIndex.searchStore]] serves it unchanged (`adopt`
  * takes a flat root of the same shape):
  * {{{
  *   root/_current            → "gen-00001"              (pointer, written last)
  *   root/gen-00001/leaders/                              (list_id, lvec, lnorm)
  *   root/gen-00001/book/                                 (m, k, cvec, cnorm2)
  *   root/gen-00001/codes/batch=-1/id_bucket=B/           (+ _id_buckets marker)
  * }}}
  */
object IvfPqMaintenance extends FamilyMaintenance("IvfPqMaintenance", Seq(
  // leaders and book are the model pair (written together — a split pair
  // misroutes every query); the codes are RE-ENCODED by a retrain
  StoreSpec("leaders", IncrementalIvfPqIndex.leaderPath _, Carry.Model),
  StoreSpec("book", IncrementalIvfPqIndex.bookPath _, Carry.Model),
  StoreSpec("codes", IncrementalIvfPqIndex.codePath _,
    Carry.Rows(Some("vec_id"), IncrementalAnnIndex.NumIdBuckets)))) {

  /** Retrain when live mean residual quantization error exceeds this
    * multiple of the candidate pair's. Higher than [[PqMaintenance]]'s
    * 1.5 deliberately: the candidate's coarse quantizer is Lloyd-REFINED
    * while the live bootstrap pair is the deterministic id-seeded one, so
    * even in-distribution the candidate measures ~1.6× better on the
    * fixtures — that gap is refinement headroom, not drift, and retraining
    * on it would churn generations after every drain. Real distribution
    * drift measures orders of magnitude (≫100× on the fixture drift),
    * so the bar sits above the headroom with a wide margin on both sides.
    */
  val DefaultErrorRatioThreshold = 2.5

  /** Lloyd rounds for a coarse-quantizer retrain ([[IvfMaintenance]]'s
    * default — each round is one broadcast-assign scan + one mean).
    */
  val DefaultKmeansIters: Int = IvfMaintenance.DefaultKmeansIters

  def leaderPath(genPath: String): String =
    IncrementalIvfPqIndex.leaderPath(genPath)
  def bookPath(genPath: String): String =
    IncrementalIvfPqIndex.bookPath(genPath)
  def codePath(genPath: String): String =
    IncrementalIvfPqIndex.codePath(genPath)

  final case class Report(
      errorRatio: Double,
      retrained: Boolean,
      generation: Option[String])

  /** A candidate quantizer PAIR from the current corpus: coarse leaders
    * retrained from [[IvfMaintenance.hashTileSeeds]] (deterministic
    * spread-sample — the bootstrap's low-vec_id seeds sit wherever the
    * corpus STARTED) refined by Lloyd rounds, then the residual codebook
    * elected by the SAME hash-tile discipline over the residual relation
    * those leaders induce — so the book is trained on exactly the
    * distribution it will encode, the FAISS residual-training order.
    */
  def candidateQuantizers(
      vectors: DataFrame,
      kmeansIters: Int = DefaultKmeansIters): (DataFrame, Seq[Pq.CodebookEntry]) = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val seeds = IvfMaintenance.hashTileSeeds(vectors, Similarity.NumLists)
    val nSeeds = seeds.count()
    require(nSeeds == Similarity.NumLists.toLong,
      s"IvfPqMaintenance: seed election produced $nSeeds of " +
        s"${Similarity.NumLists} tiles — corpus too small to retrain")
    val leaders = Similarity.kmeansFromSeeds(vectors, seeds, kmeansIters)
    val resid = Pq.residualsOf(vectors, leaders)
      .select(col("vec_id"), col("rvec").as("embedding"))
    // re-index DENSELY by sorted tile id (the PqMaintenance.candidateBook
    // note): hash tiles come back sparse and the encode kernel emits
    // positional codes 0..K−1, so sparse ids as `k` would misalign every
    // (m, k) lookup silently
    val bookSeeds = IvfMaintenance.hashTileSeeds(resid, Pq.CodebookSize)
      .select(col("list_id").cast("int"), col("lvec"))
      .as[(Int, Array[Float])].collect().sortBy(_._1)
      .zipWithIndex.map { case ((_, v), i) => (i, v) }.toSeq
    (leaders, Pq.codebookFrom(bookSeeds))
  }

  private def meanErr(vectors: DataFrame, leaders: DataFrame,
      book: Seq[Pq.CodebookEntry]): Double = {
    val r = Pq.residualQuantizationError(vectors, leaders, book)
      .collect().head
    if (r.isNullAt(1)) 0.0 else r.getDouble(1)
  }

  /** Retrain BOTH quantizers on the CURRENT vector corpus and re-encode
    * every vector, into the next generation; publish only after the row
    * count verifies. Returns the new generation's path.
    */
  def retrain(
      spark: SparkSession,
      root: String,
      vectors: DataFrame,
      kmeansIters: Int = DefaultKmeansIters,
      numFiles: Int = 1): String = {
    val (candLeaders, candBook) = candidateQuantizers(vectors, kmeansIters)
    retrainWith(spark, root, vectors, candLeaders, candBook, numFiles)
  }

  /** Write the candidate pair and the residual codes re-encoded against
    * the WRITTEN leaders into the next generation, row-count verified.
    */
  private def retrainWith(spark: SparkSession, root: String,
      vectors: DataFrame, candLeaders: DataFrame,
      candBook: Seq[Pq.CodebookEntry], numFiles: Int): String =
    rewrite(spark, root, numFiles, Set("leaders", "book", "codes")) {
      (cur, dest) =>
        require(candBook.size == Pq.NumSubspaces * Pq.CodebookSize,
          s"IvfPqMaintenance.retrain: seed election produced " +
            s"${candBook.size} of ${Pq.NumSubspaces * Pq.CodebookSize} " +
            "entries — corpus too small")
        val srcRows = vectors.count()
        // leaders FIRST, then encode against the WRITTEN copy: the
        // published bits must be the exact floats every stored code is
        // relative to
        candLeaders.coalesce(1).write.mode("errorifexists")
          .parquet(leaderPath(dest))
        IncrementalPqIndex.writeCodebook(spark, candBook, bookPath(dest))
        val leadersW = IncrementalIvfPqIndex.readLeaders(spark, dest)
        val assign = Similarity.assignWithLeaders(vectors, leadersW)
          .select("vec_id", "list_id")
        // keep the source store's bucket modulus — the membership-probe
        // unit is unchanged by a retrain
        val buckets = IncrementalAnnIndex.bucketCount(spark, codePath(cur))
          .getOrElse(IncrementalAnnIndex.NumIdBuckets)
        StoreMaintenance.writeStoreLayout(spark,
          Pq.residualCodesFor(assign, vectors, leadersW, candBook),
          codePath(dest), numFiles, bucketBy = Some(("vec_id", buckets)))
        val written = spark.read.parquet(codePath(dest)).count()
        require(written == srcRows,
          s"IvfPqMaintenance.retrain: re-encoded $written of $srcRows " +
            "rows — not publishing; readers stay on the current generation")
    }

  /** The maintenance policy: measure mean residual quantization error on
    * the current vector corpus under the live quantizer pair and under a
    * candidate pair trained on that corpus; retrain iff live/candidate
    * exceeds `threshold`. The candidate trained for the measurement is
    * the one published on a trip — measured and shipped quantizers cannot
    * diverge. Idempotent below the threshold (pure reads).
    */
  def maintain(
      spark: SparkSession,
      root: String,
      vectors: DataFrame,
      threshold: Double = DefaultErrorRatioThreshold,
      kmeansIters: Int = DefaultKmeansIters,
      numFiles: Int = 1): Report = {
    val ((ratio, _, _), gen) = whenDrifted(spark, root) { cur =>
      val liveLeaders = IncrementalIvfPqIndex.readLeaders(spark, cur)
      val liveBook = IncrementalPqIndex.readCodebook(spark, bookPath(cur))
      val liveErr = meanErr(vectors, liveLeaders, liveBook)
      val (candLeaders, candBook) = candidateQuantizers(vectors, kmeansIters)
      val candErr = meanErr(vectors, candLeaders, candBook)
      // zero candidate error against a lossy live pair is INFINITE drift,
      // not parity (the PqMaintenance worst-case note)
      val ratio =
        if (candErr > 0.0) liveErr / candErr
        else if (liveErr > 0.0) Double.PositiveInfinity
        else 1.0
      Outcome(ratio > threshold, (ratio, candLeaders, candBook))
    } { case (_, leaders, book) =>
      retrainWith(spark, root, vectors, leaders, book, numFiles)
    }
    Report(ratio, gen.isDefined, gen)
  }

  /** Residual ADC top-k against the LIVE generation — resolve the pointer
    * once, then search the immutable (leaders, book, codes) triple it
    * names through the shared [[IncrementalIvfPqIndex.searchStore]] path.
    */
  def searchCurrent(
      spark: SparkSession,
      root: String,
      queries: DataFrame,
      k: Int = Similarity.TopK,
      maxListOccupancy: Int = Similarity.MaxListOccupancy): DataFrame = {
    val cur = StoreMaintenance.resolveCurrent(spark, root)
    IncrementalIvfPqIndex.searchStore(spark, cur, queries, k,
      maxListOccupancy)
  }
}
