package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Pq, Similarity}
import graft.streaming.FamilyMaintenance.{Carry, Outcome, StoreSpec}

/** The PQ maintenance POLICY loop — the [[FamilyMaintenance]] engine
  * instantiated for the compressed-code index: [[IncrementalPqIndex]]
  * freezes its sub-quantizer codebooks at bootstrap (the FAISS train-once
  * contract), so a corpus that drifts away from the bootstrap
  * distribution is encoded with ever-worse codebooks — quantization error
  * climbs, ADC rankings blur, and nothing fails loudly. The remedy is
  * FAISS's own: retrain the product quantizer on the CURRENT corpus and
  * re-encode — never in place (codes from different codebooks are not
  * comparable), always into the next generation behind the atomic
  * `_current` pointer.
  *
  * One honest asymmetry vs the IVF loop: the code store is LOSSY — codes
  * cannot reconstruct the vectors that produced them — so retraining needs
  * the vector source of record (the raw embedding table, or the ANN list
  * store that physically carries vectors). [[maintain]] takes that source
  * explicitly; a deployment wires it to whichever relation owns the
  * originals. FAISS has the same requirement (rebuilding a PQ index
  * re-encodes from the training vectors).
  *
  * The counterfactual is DIRECT: mean quantization error under the live
  * codebook versus under a candidate elected from the current corpus
  * ([[IvfMaintenance.hashTileSeeds]] — deterministic spread-sample, one
  * `min_by` pass); retrain only when the live book is `threshold`× worse.
  * Below threshold the cost is two broadcast-join scans and no writes.
  *
  * Generation layout:
  * {{{
  *   root/_current          → "gen-00001"        (pointer, written last)
  *   root/gen-00001/book/                         (m, k, cvec, cnorm2)
  *   root/gen-00001/codes/batch=-1/id_bucket=B/   (+ _id_buckets marker)
  * }}}
  * After a retrain the stream re-enters on the new generation's paths
  * under a fresh checkpoint; [[IncrementalPqIndex.run]]'s bootstrap guard
  * keys on book-store existence, so it adopts the retrained codebook.
  */
object PqMaintenance {

  /** Retrain when live mean quantization error exceeds this multiple of
    * the candidate book's. 1.0 means the live book is as good as a fresh
    * one; 1.5 tolerates sampling noise without letting real drift sit.
    */
  val DefaultErrorRatioThreshold = 1.5

  def bookPath(genPath: String): String = s"$genPath/book"
  def codesPath(genPath: String): String = s"$genPath/codes"

  final case class Report(
      errorRatio: Double,
      retrained: Boolean,
      generation: Option[String])

  /** Candidate codebook from the current corpus: [[Pq.CodebookSize]]
    * hash-tile representatives (deterministic spread sample), sliced into
    * sub-quantizer entries.
    */
  def candidateBook(vectors: DataFrame): Seq[Pq.CodebookEntry] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // re-index DENSELY by sorted tile id: hash tiles can come back sparse
    // (an empty tile is simply absent), and the encode kernel emits
    // positional codes 0..K−1 — sparse tile ids as `k` would misalign
    // every (m, k) lookup in quantizationError/adcSearch silently
    val seeds = IvfMaintenance.hashTileSeeds(vectors, Pq.CodebookSize)
      .select(col("list_id").cast("int"), col("lvec"))
      .as[(Int, Array[Float])].collect().sortBy(_._1)
      .zipWithIndex.map { case ((_, v), i) => (i, v) }.toSeq
    Pq.codebookFrom(seeds)
  }

  private def meanErr(vectors: DataFrame, book: Seq[Pq.CodebookEntry]): Double = {
    val r = Pq.quantizationError(vectors, book).collect().head
    if (r.isNullAt(1)) 0.0 else r.getDouble(1)
  }

  /** The engine description: the codebook is the model; the codes are
    * carried in their bucket layout by adopt and RE-ENCODED by a retrain
    * (codes from different codebooks are not comparable).
    */
  private object engine extends FamilyMaintenance("PqMaintenance", Seq(
    StoreSpec("book", bookPath _, Carry.Model),
    StoreSpec("codes", codesPath _,
      Carry.Rows(Some("vec_id"), IncrementalAnnIndex.NumIdBuckets))))

  /** Adopt a FLAT (book, codes) pair — the layout [[IncrementalPqIndex
    * .run]] maintains — into the generation layout under `root`,
    * publishing the first generation atomically.
    */
  def adopt(
      spark: SparkSession,
      root: String,
      bookSrc: String,
      codesSrc: String,
      numFiles: Int = 1): String =
    engine.adoptFrom(spark, root,
      Map("book" -> bookSrc, "codes" -> codesSrc), numFiles, Map.empty)

  /** Retrain the codebook on the CURRENT vector corpus and re-encode every
    * vector, into the next generation; publish only after the row count
    * verifies. Returns the new generation's path.
    */
  def retrain(
      spark: SparkSession,
      root: String,
      vectors: DataFrame,
      numFiles: Int = 1): String =
    retrainWith(spark, root, vectors, candidateBook(vectors), numFiles)

  /** Write `book` and the codes re-encoded against it into the next
    * generation, the re-encode row-count verified against `vectors`.
    */
  private def retrainWith(spark: SparkSession, root: String,
      vectors: DataFrame, book: Seq[Pq.CodebookEntry], numFiles: Int): String =
    engine.rewrite(spark, root, numFiles, Set("book", "codes")) {
      (cur, dest) =>
        require(book.size == Pq.NumSubspaces * Pq.CodebookSize,
          s"PqMaintenance.retrain: seed election produced ${book.size} of " +
            s"${Pq.NumSubspaces * Pq.CodebookSize} entries — corpus too small")
        val srcRows = vectors.count()
        IncrementalPqIndex.writeCodebook(spark, book, bookPath(dest))
        // keep the source store's bucket modulus — the membership-probe
        // unit is unchanged by a retrain
        val buckets = IncrementalAnnIndex.bucketCount(spark, codesPath(cur))
          .getOrElse(IncrementalAnnIndex.NumIdBuckets)
        StoreMaintenance.writeStoreLayout(spark,
          Pq.codesWith(vectors, book), codesPath(dest),
          numFiles, bucketBy = Some(("vec_id", buckets)))
        val written = spark.read.parquet(codesPath(dest)).count()
        require(written == srcRows,
          s"PqMaintenance.retrain: re-encoded $written of $srcRows rows — " +
            "not publishing; readers stay on the current generation")
    }

  /** The maintenance policy: measure the live codebook's mean quantization
    * error against the candidate book's on the current vector corpus, and
    * retrain iff live/candidate exceeds `threshold`. Idempotent below the
    * threshold (pure reads). The candidate measured is the one shipped.
    */
  def maintain(
      spark: SparkSession,
      root: String,
      vectors: DataFrame,
      threshold: Double = DefaultErrorRatioThreshold,
      numFiles: Int = 1): Report = {
    val ((ratio, _), gen) = engine.whenDrifted(spark, root) { cur =>
      val live = IncrementalPqIndex.readCodebook(spark, bookPath(cur))
      val liveErr = meanErr(vectors, live)
      val cand = candidateBook(vectors)
      val candErr = meanErr(vectors, cand)
      // a zero-error candidate with a lossy live book is INFINITE drift
      // (the corpus collapsed onto exactly representable vectors), not
      // parity — forcing ratio to 1.0 there would mute the monitor in the
      // worst case
      val ratio =
        if (candErr > 0.0) liveErr / candErr
        else if (liveErr > 0.0) Double.PositiveInfinity
        else 1.0
      Outcome(ratio > threshold, (ratio, cand))
    } { case (_, cand) => retrainWith(spark, root, vectors, cand, numFiles) }
    Report(ratio, gen.isDefined, gen)
  }

  /** ADC top-k against the LIVE generation — resolve the pointer once,
    * then search the immutable (book, codes) pair it names.
    */
  def searchCurrent(
      spark: SparkSession,
      root: String,
      queries: DataFrame,
      k: Int = Similarity.TopK): DataFrame = {
    val cur = StoreMaintenance.resolveCurrent(spark, root)
    IncrementalPqIndex.searchStore(spark, codesPath(cur), bookPath(cur),
      queries, k)
  }
}
