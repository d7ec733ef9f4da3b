package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Portable._

/** Deduplication operators over the `documents` and `embeddings` tables —
  * the dedup stage of a training-data curation pipeline (exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, embedding cosine).
  *
  * Algorithms are the published standards: shingling + min-wise hashing
  * (Broder, "On the resemblance and containment of documents", 1997), LSH
  * banding over signature bands (Leskovec/Rajaraman/Ullman, Mining of
  * Massive Datasets ch. 3), SimHash bit-majority fingerprints (Charikar,
  * "Similarity estimation techniques from rounding algorithms", 2002; used
  * for web dedup in Manku et al., WWW 2007), connected components by
  * min-label propagation with path doubling (the map-reduce CC family of
  * Rastogi et al., "Finding connected components in map-reduce", ICDE
  * 2013), and keep-best-quality curation as in CCNet (Wenzek et al., 2020).
  *
  * Scale shape (the part that matters at 100 TB):
  *  - everything text-side flows through ONE exploded `(doc_id, shingle)` /
  *    `(doc_id, token)` relation built from codegen-friendly operators
  *    (posexplode + window lead + hash-aggregate) — no higher-order array
  *    lambdas in the hot path (those run interpreted, row-at-a-time; the
  *    array formulation measured 10–20× slower at sf0.1);
  *  - each shingle is md5-hashed ONCE to a 60-bit int; the 16 MinHash
  *    values are a universal-hash family over that int (pure integer
  *    arithmetic — [[Portable.minhashExpr]]), not 16 separate md5s;
  *  - exact dedup is one hash-aggregate — shuffles once on a 128-bit
  *    digest, never on document text;
  *  - MinHash candidate generation shuffles only (band_idx, band_hash) —
  *    shingle→minhash→band→bucket join, linear for near-constant bucket
  *    occupancy; SimHash candidates join on 4-bit sub-bands of the 16-bit
  *    signature (pigeonhole: hamming ≤ 3 ⇒ some nibble equal);
  *  - n-gram Jaccard joins through the inverted (shingle → doc) index, so
  *    only pairs sharing ≥ 1 shingle are ever materialized;
  *  - relations reused across join legs ([[docShingles]], candidate sets)
  *    are persisted within the operator, so tokenize/hash runs once;
  *  - only the exact embedding pass is quadratic (it is the correctness
  *    baseline; the sub-quadratic path is [[Similarity.lshNearDup]]).
  */
object Dedup {

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand: Int = NumHashes / Bands
  val JaccardDupThreshold = 0.7
  val JaccardReportThreshold = 0.05
  val HammingThreshold = 3
  val SimhashBits = 32
  val SimhashBands = 4
  val BandBits: Int = SimhashBits / SimhashBands
  val BandMask: Int = (1 << BandBits) - 1
  val CosineDupThreshold = 0.3

  /** Winnowing parameters (Schleimer/Wilkerson/Aiken, "Winnowing: local
    * algorithms for document fingerprinting", SIGMOD 2003 — the MOSS
    * algorithm). `WinnowK`-token grams, one fingerprint selected per
    * window of [[WinnowWindow]] consecutive grams: any shared token run of
    * length ≥ WinnowWindow + WinnowK − 1 is GUARANTEED to share a
    * fingerprint, and expected fingerprint density is 2/(w+1) — the
    * containment-detection complement to MinHash (whole-document
    * resemblance): a short document pasted inside a long one has near-zero
    * Jaccard but full winnow containment.
    */
  val WinnowK = 3
  val WinnowWindow = 8
  val WinnowOverlapThreshold = 0.5
  val WinnowReportThreshold = 0.05

  /** Document-frequency caps for the posting-list self-joins. Bucket joins
    * are linear only while bucket occupancy is near-uniform; one hot key —
    * a boilerplate shingle shared by 10⁶ documents, or a band hash shared
    * by a giant duplicate family — yields df² candidate pairs from that
    * single key (10¹² from one shingle on a real crawl).
    *
    * Two different defenses, matched to what the hot key MEANS:
    *  - a shingle in > [[MaxShingleDf]] documents is boilerplate, not
    *    duplication evidence — it is DROPPED from the inverted-index joins
    *    (the CCNet / GPT-3-decontamination standard: exclude the most
    *    frequent n-grams);
    *  - an LSH band bucket holding > [[MaxBandOccupancy]] documents is a
    *    giant duplicate family — precisely dedup's target, so it must NOT
    *    vanish from candidate generation. [[minhashPairs]] degrades such
    *    buckets to STAR candidates (each member paired with the bucket's
    *    min doc_id): df−1 pairs instead of df², and the star keeps the
    *    family connected through [[dupClusters]]' transitive closure.
    *    The approximation: a member whose verified Jaccard to the bucket
    *    root is below the duplicate threshold no longer links via THIS
    *    bucket (full pairwise linking could have connected it through an
    *    intermediate member).
    * Both behaviors are mirrored verbatim in the DuckDB oracle SQL
    * ([[graft.testdata.OpsOracleSql]]), so capped semantics are the
    * verified semantics.
    */
  val MaxBandOccupancy = 1000
  val MaxShingleDf = 1000

  /** Exact dedup: one row per distinct text digest with the surviving doc id
    * (min) and the multiplicity. SURVEY §2.7-style dedup generalized to
    * content hashing.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(expr("md5(text)").as("text_hash"))
      .agg(min("doc_id").as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Exploded (doc_id, pos, tok) token relation. */
  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(expr(tokensSpark)).as(Seq("pos", "tok")))

  /** Distinct (doc_id, h) hashed word-3-gram inverted index, built
    * relationally: window `lead` assembles 3-grams (strict concat — a null
    * lead nulls the shingle, so <3-token docs contribute nothing), each
    * shingle is digested to its 60-bit hash BEFORE the dedup shuffle, then
    * a shuffle-dedup on (long, long) rows. Carrying the digest instead of
    * raw text cuts exchange volume severalfold — at corpus scale the
    * shingle relation is the largest intermediate in the dedup pipeline.
    * All consumers (MinHash agg, Jaccard verify) operate on the digest; the
    * DuckDB oracle applies the identical digest, so even a collision
    * (p ≈ n²/2^61) lands identically on both engines. Whole-stage-codegen
    * throughout.
    */
  def docShingles(docs: DataFrame): DataFrame = {
    val wp = Window.partitionBy("doc_id").orderBy("pos")
    docTokens(docs)
      .select(col("doc_id"),
        concat(col("tok"), lit(" "), lead("tok", 1).over(wp),
          lit(" "), lead("tok", 2).over(wp)).as("shingle"))
      .filter(col("shingle").isNotNull)
      .select(col("doc_id"), expr(hexcastSpark("shingle")).as("h"))
      .distinct()
  }

  /** Signature build over an explicit (possibly persisted) shingle
    * relation, so callers composing several passes reuse one tokenization
    * — the [[docShingles]] share seam (a battery memoizing the shingle
    * relation routes the signature row through here).
    */
  private[graft] def signaturesFrom(docs: DataFrame, ds: DataFrame): DataFrame = {
    val mh = (0 until NumHashes).map(j => min(expr(minhashExpr(j))).as(s"mh_$j"))
    val agg = ds
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), mh: _*)
    val bands = (0 until Bands).map { b =>
      val parts = (RowsPerBand * b until RowsPerBand * (b + 1))
        .map(j => s"CAST(mh_$j AS STRING)").mkString(", ")
      expr(s"md5(concat_ws(',', $parts))").as(s"band_$b")
    }
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .withColumn("n_shingles", coalesce(col("n_shingles"), lit(0L)))
      .select(col("doc_id") +: col("n_shingles") +:
        (0 until NumHashes).map(j => col(s"mh_$j")) ++: bands: _*)
  }

  /** Per-document MinHash signature (universal-hash family over the 60-bit
    * shingle digest) plus 4 LSH band digests (4 hashes per band). Shingle-
    * free documents keep a row: null minhashes, n_shingles 0.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signaturesFrom(docs, docShingles(docs))

  /** (doc_id, band_idx, band_val) rows for the bucket join; documents with
    * zero shingles are excluded (their empty-signature bands would bucket
    * all degenerate docs together).
    */
  private def bandRows(docs: DataFrame, ds: DataFrame): DataFrame =
    signaturesFrom(docs, ds).filter(col("n_shingles") > 0)
      .select(col("doc_id"), posexplode(
        array((0 until Bands).map(b => col(s"band_$b")): _*))
        .as(Seq("band_idx", "band_val")))

  private def jaccardOf(common: Column, na: Column, nb: Column): Column =
    (common.cast("double") / (na + nb - common)).as("jaccard")

  /** Materialize the operator's (output-sized) result eagerly, then free the
    * operator-internal persisted legs. The pair operators persist their
    * biggest intermediates (shingle relation, candidate set) to share them
    * across join legs; returning a lazy plan over those caches would pin
    * corpus-sized blocks for the session lifetime (or recompute everything
    * if the caller unpersisted them). `localCheckpoint` cuts the plan to a
    * flat LogicalRDD whose blocks are result-sized, and Spark's
    * ContextCleaner frees THOSE automatically once the returned frame is
    * unreachable — so the operator leaks nothing it allocated.
    */
  private[ops] def materializeFreeing(result: DataFrame, legs: DataFrame*): DataFrame = {
    val out = result.localCheckpoint() // eager
    legs.foreach(_.unpersist(blocking = false))
    out
  }

  /** The `key` values of `rel` with more than `maxDf` rows — the
    * boilerplate set a df cap drops. Spelled as a partially-aggregated
    * `groupBy`, so a mega-hot key costs one long per map task, never a
    * buffered partition.
    */
  private[graft] def overCapKeys(rel: DataFrame, key: String,
      maxDf: Int): DataFrame =
    rel.groupBy(key).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(key)

  /** Drop every row whose `key` value appears more than `maxDf` times in
    * `rel` — the boilerplate df cap, spelled scale-safe. The obvious
    * spelling (`count().over(Window.partitionBy(key))` then filter)
    * shuffles EVERY row of the hottest key into one task's window buffer
    * before the filter can drop it, so the exact adversarial input the cap
    * exists for (a boilerplate fingerprint with df in the millions) becomes
    * a single-task buffer/spill straggler. This spelling is bit-identical
    * in output and has no such key: `groupBy(key).count` absorbs the hot
    * key in map-side partial aggregation, the over-cap key set is tiny by
    * definition (boilerplate keys are few) and broadcasts, and the
    * broadcast ANTI-join drops its rows streamingly. `rel` is scanned
    * twice (the count and the probe side) — callers pass a persisted or
    * checkpointed relation.
    */
  private[graft] def dfCapped(rel: DataFrame, key: String,
      maxDf: Int): DataFrame =
    rel.join(broadcast(overCapKeys(rel, key, maxDf)), Seq(key), "left_anti")

  /** Annotate each row of a bucket-keyed relation with its bucket's
    * over-cap ROOT: `hot_root` = the bucket's `min(root)` struct when the
    * bucket holds more than `cap` rows, NULL when the bucket is cold — the
    * one primitive behind every band-occupancy degrade (LSH/SimHash/sign-LSH
    * star candidates, the incremental-curation root election). The obvious
    * spelling (`count/min over Window.partitionBy(bucket)`) buffers the
    * hottest bucket's EVERY row in one task before the degrade can apply —
    * and a giant near-duplicate family, dedup's target input, is exactly
    * that mega-bucket. This spelling has no such key: the `groupBy` absorbs
    * hot buckets in map-side partial aggregation, over-cap buckets are few
    * by definition (each holds > cap rows, so their count is bounded by
    * `rel`/cap) and their stats BROADCAST, and the left join streams —
    * unmatched rows are cold. Output is bit-identical to the window
    * spelling. `rel` is scanned twice (stats + probe) — callers pass a
    * persisted relation.
    *
    * The broadcast bound is `relRows / cap` — at the advertised 100 TB on
    * a heavily duplicated corpus that quotient can reach 10^7–10^8 rows,
    * where the occupancy degrade's own broadcast would become the failure
    * mode (driver memory / broadcast size limits). Callers therefore pass
    * `relRows` (the count they already took to eager-fill `rel`), and when
    * the bound exceeds [[MaxBroadcastRoots]] the stats side falls back to
    * a SALTED shuffled left join ([[SkewJoin.saltedJoin]]) — same rows,
    * the exchange sized by the planner instead of a forced driver
    * collect. The salt matters: a plain key-partitioned left join here
    * would funnel the mega-bucket's rows — the exact hot-key layout the
    * broadcast existed to avoid — through one reducer, with only AQE's
    * optional skew split standing between it and a single-task stall;
    * the repo's own hot-key idioms ban that reliance, so the fallback
    * spreads each bucket over min(shuffle partitions, 64) reducers by a
    * deterministic full-row hash (stats rows are one per over-cap key,
    * and the 64-salt cap keeps the per-salt replication bounded even
    * under a production-tuned partition count). The hint is a
    * BOUND, not a measurement: the actual over-cap relation is usually
    * far smaller, so the fallback only engages at genuine bulk.
    */
  private[graft] val MaxBroadcastRoots = 4000000L

  private[graft] def hotBucketRoots(rel: DataFrame, keys: Seq[String],
      cap: Int, root: Column, relRows: Option[Long] = None): DataFrame = {
    val stats = rel.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bdf"), min(root).as("hot_root"))
      .filter(col("bdf") > cap)
      .select(keys.map(col) :+ col("hot_root"): _*)
    if (relRows.forall(_ / cap.max(1) <= MaxBroadcastRoots))
      rel.join(broadcast(stats), keys, "left")
    else
      // salts are capped INDEPENDENTLY of the session's shuffle-partition
      // count: the build side replicates once per salt, so a
      // production-tuned partition count (2000+) would multiply the
      // over-cap stats rows thousands-fold through the exchange — the
      // fallback costing more than the skew it avoids. 64 salts bound
      // the replication while still spreading any mega-key across 64
      // reducers (the hot key the broadcast existed to avoid is ONE
      // key's rows; 64-way is the difference between a stall and a scan)
      SkewJoin.saltedJoin(rel, stats, keys,
        salts = rel.sparkSession.conf.get(
          "spark.sql.shuffle.partitions", "32").toInt.min(64).max(1),
        saltBy = hash(rel.columns.map(col): _*), joinType = "left")
  }

  /** MinHash-LSH near-duplicate pairs: bucket-join candidates (band buckets
    * hotter than `maxBandOccupancy` degrade to star candidates — see
    * [[MaxBandOccupancy]]), then exact Jaccard verification over the FULL
    * (uncapped) shingle sets.
    */
  def minhashPairs(docs: DataFrame,
      maxBandOccupancy: Int = MaxBandOccupancy): DataFrame = {
    // eager materialization: the shingle relation feeds ~6 plan paths
    // (bands x2, verify legs x2, sizes x2); racing AQE stages would each
    // recompute an unmaterialized cache, so fill it once up front
    val ds = docShingles(docs).persist()
    ds.count()
    // the From form materializes eagerly (its own materializeFreeing);
    // wrapping it in a SECOND one would checkpoint the already-flat
    // result again — the double-persist the ScaleOpsSpec leak pin
    // rejects. Only the shingle leg remains to free here.
    val out = minhashPairsFrom(docs, ds, maxBandOccupancy)
    ds.unpersist(blocking = false)
    out
  }

  /** [[minhashPairs]] over an EXPLICIT (persisted, caller-owned) shingle
    * relation — the [[docShingles]] share seam: the battery memoizes ONE
    * shingle relation for the signature row, this pipeline, the n-gram
    * Jaccard row and the split-contamination row (each tokenized the
    * corpus itself in r15). The operator-internal band/candidate legs
    * still persist and free here; only `ds`'s lifetime moves to the
    * caller. Result is eagerly materialized ([[materializeFreeing]]).
    */
  private[graft] def minhashPairsFrom(docs: DataFrame, ds: DataFrame,
      maxBandOccupancy: Int = MaxBandOccupancy): DataFrame = {
    // band rows persist: the occupancy degrade scans them twice
    // (stats + probe — [[hotBucketRoots]], never a bucket window: a giant
    // near-dup family is exactly the mega-bucket a window would buffer
    // through one task) and the candidate legs read the result again
    val bandRel = bandRows(docs, ds).persist()
    val bandN = bandRel.count()
    val bands = hotBucketRoots(bandRel, Seq("band_idx", "band_val"),
      maxBandOccupancy, struct(col("doc_id")), relRows = Some(bandN))
    // cold buckets: full pairwise candidates (quadratic per bucket, bounded
    // by the cap); hot buckets: linear star candidates root→member
    val cold = bands.filter(col("hot_root").isNull)
      .select("doc_id", "band_idx", "band_val")
    val candCold = cold.as("a")
      .join(cold.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val candHot = bands
      .filter(col("hot_root").isNotNull &&
        col("doc_id") =!= col("hot_root.doc_id"))
      .select(col("hot_root.doc_id").as("a_id"), col("doc_id").as("b_id"))
    val cand = candCold.unionByName(candHot).distinct().persist()
    materializeFreeing(verifyJaccard(cand, ds), cand, bandRel)
  }

  /** Exact n-gram Jaccard pairs through the inverted index — every pair
    * sharing at least one NON-UBIQUITOUS shingle, reported above a noise
    * floor. Shingles with document frequency > `maxDf` are dropped from the
    * whole relation (common counts AND set sizes, so the Jaccard stays
    * internally consistent): they are boilerplate, and each contributes
    * df² candidate pairs — see [[MaxShingleDf]].
    */
  def ngramJaccardPairs(docs: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    // the raw shingle relation persists first: dfCapped scans it twice
    // (count + probe), and an unpersisted plan would tokenize twice
    val raw = docShingles(docs).select("doc_id", "h").persist()
    raw.count()
    val out = ngramJaccardPairsFrom(raw, maxDf)
    raw.unpersist(blocking = false)
    out
  }

  /** [[ngramJaccardPairs]] over an EXPLICIT (persisted, caller-owned)
    * shingle relation — the [[docShingles]] share seam (see
    * [[minhashPairsFrom]]). Result is eagerly materialized.
    */
  private[graft] def ngramJaccardPairsFrom(raw: DataFrame,
      maxDf: Int = MaxShingleDf): DataFrame = {
    val ds = dfCapped(raw, "h", maxDf).persist()
    ds.count() // eager: three downstream legs (see minhashPairs)
    val common = ds.as("sa")
      .join(ds.as("sb"),
        col("sa.h") === col("sb.h") &&
          col("sa.doc_id") < col("sb.doc_id"))
      .groupBy(col("sa.doc_id").as("a_id"), col("sb.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_common"))
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    materializeFreeing(
      common
        .join(sizes.as("na"), col("a_id") === col("na.doc_id"))
        .join(sizes.as("nb"), col("b_id") === col("nb.doc_id"))
        .select(col("a_id"), col("b_id"), col("n_common"),
          col("na.n").as("n_a"), col("nb.n").as("n_b"),
          jaccardOf(col("n_common"), col("na.n"), col("nb.n")))
        .filter(col("jaccard") >= JaccardReportThreshold),
      ds)
  }

  /** Candidate pairs → exact Jaccard + duplicate verdict, over a (persisted)
    * shingle relation.
    */
  private def verifyJaccard(cand: DataFrame, ds: DataFrame): DataFrame = {
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cand
      .join(ds.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(ds.as("sb"),
        col("b_id") === col("sb.doc_id") && col("sa.h") === col("sb.h"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_common"))
    cand
      .join(common, Seq("a_id", "b_id"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .join(sizes.as("na"), col("a_id") === col("na.doc_id"))
      .join(sizes.as("nb"), col("b_id") === col("nb.doc_id"))
      .select(col("a_id"), col("b_id"), col("n_common"),
        col("na.n").as("n_a"), col("nb.n").as("n_b"),
        jaccardOf(col("n_common"), col("na.n"), col("nb.n")))
      .withColumn("is_duplicate",
        when(col("jaccard") >= JaccardDupThreshold, 1).otherwise(0))
  }

  /** Per-document [[SimhashBits]]-bit SimHash (term-frequency-weighted bit
    * majority over token hashes, via one codegen'd hash-aggregate) +
    * [[SimhashBands]] byte-wide sub-bands for the pigeonhole candidate join
    * (hamming ≤ 3 over 4 bands ⇒ some band equal). 32 bits / 8-bit bands
    * keeps buckets sparse — at sf0.1 a 16-bit signature collided ~15× more
    * candidates. Token-free docs keep sig 0.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val ones = (0 until SimhashBits).map(b =>
      sum(expr(s"shiftright(h, $b) & 1")).as(s"ones_$b"))
    val agg = docTokens(docs)
      .withColumn("h", expr(hexcastSpark("tok")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), ones: _*)
    val shSum = (0 until SimhashBits)
      .map(b => s"CASE WHEN 2 * ones_$b > n_tok THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    val nibs = (0 until SimhashBands).map(q =>
      expr(s"shiftright(simhash_sig, ${BandBits * q}) & $BandMask").as(s"nib_$q"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
      .select(col("doc_id") +: col("n_tok") +:
        (0 until SimhashBits).map(b => coalesce(col(s"ones_$b"), lit(0L)).as(s"ones_$b")): _*)
      .withColumn("simhash_sig", expr(s"CAST($shSum AS BIGINT)"))
      .select(col("doc_id") +: col("n_tok") +: col("simhash_sig") +: nibs: _*)
  }

  /** SimHash near-duplicate pairs: candidates share at least one of the 4
    * nibble bands (necessary for hamming ≤ 3 by pigeonhole), verified by
    * popcount of the XOR. Nibble buckets hotter than `maxBandOccupancy`
    * degrade to star candidates exactly like [[minhashPairs]]' LSH buckets
    * (a giant identical-signature family would otherwise be df² pairs from
    * one bucket — or invisible, if simply dropped).
    */
  def simhashPairs(docs: DataFrame,
      maxBandOccupancy: Int = MaxBandOccupancy): DataFrame = {
    val sig = simhash(docs).persist()
    sig.count() // eager: both self-join legs (see minhashPairs)
    materializeFreeing(simhashPairsFrom(sig, maxBandOccupancy), sig)
  }

  /** [[simhashPairs]] over an explicit PERSISTED signature relation — the
    * share seam: the signature row and the pair pipeline read ONE
    * [[simhash]] build (the caller owns its lifetime), and the result is
    * returned LAZY so the caller decides materialization.
    */
  private[graft] def simhashPairsFrom(sig: DataFrame,
      maxBandOccupancy: Int = MaxBandOccupancy): DataFrame = {
    val sigN = sig.count() // cached: a cheap probe for the occupancy hint
    val nibRows = sig.select(col("doc_id"), col("simhash_sig"), posexplode(
      array((0 until SimhashBands).map(q => col(s"nib_$q")): _*)).as(Seq("q", "nib")))
    // bucket root rides in the hot_root struct so the star branch has the
    // root's signature too (min over (doc_id, sig) = row of the min
    // doc_id). [[hotBucketRoots]] scans nibRows twice, but it is a narrow
    // projection over the persisted sig relation — no re-aggregation.
    val nb = hotBucketRoots(nibRows, Seq("q", "nib"), maxBandOccupancy,
      struct(col("doc_id"), col("simhash_sig")),
      relRows = Some(sigN * SimhashBands))
    val cold = nb.filter(col("hot_root").isNull)
      .select("doc_id", "simhash_sig", "q", "nib")
    val candCold = cold.as("a")
      .join(cold.as("b"),
        col("a.q") === col("b.q") && col("a.nib") === col("b.nib") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.simhash_sig").as("sh_a"), col("b.simhash_sig").as("sh_b"))
    val candHot = nb
      .filter(col("hot_root").isNotNull &&
        col("doc_id") =!= col("hot_root.doc_id"))
      .select(col("hot_root.doc_id").as("a_id"), col("doc_id").as("b_id"),
        col("hot_root.simhash_sig").as("sh_a"), col("simhash_sig").as("sh_b"))
    candCold.unionByName(candHot)
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
      .filter(col("hamming") <= HammingThreshold)
  }

  /** Duplicate-cluster resolution: connected components over the verified
    * near-duplicate pair graph, by iterative min-label propagation (the
    * distributed Pregel pattern: each round is one join + min-aggregate;
    * rounds = component diameter, tiny for dup clusters). Every document
    * gets a cluster id (= the smallest doc_id in its component — singletons
    * cluster with themselves) and a keeper flag.
    */
  def dupClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val sc = docs.sparkSession.sparkContext
    // eager localCheckpoint: materializes AND truncates lineage to a flat
    // LogicalRDD. persist() alone is not enough for the iterative loop —
    // cached plans keep their full logical child tree, so every round's
    // analysis re-walks the whole minhash/verify pipeline nested inside the
    // cache entries, and driver-side Catalyst time (not task time) comes to
    // dominate: measured 30-40 s/run at sf0.1 vs <5 s of actual task time.
    // Dataset.unpersist() is a no-op for localCheckpoint blocks (they are a
    // direct RDD persist, never registered with the CacheManager), so each
    // checkpoint's newly-persisted RDD ids are tracked and freed explicitly
    // when the round's labels are superseded — otherwise the loop
    // accumulates rounds × |labels| of storage. Queries run one at a time
    // here, so the before/after id diff only ever captures our own RDDs.
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint()
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    def free(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    val fwd = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
    val (edges, edgeIds) = checkpointTracked(fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst"))))
    // propagate only over edge-connected nodes (the interesting minority,
    // typically ≪ corpus); isolated docs join back as self-clusters at the
    // end; the loop exits as soon as labels stop changing.
    var (labels, labelIds) = checkpointTracked(
      edges.select(col("src").as("doc_id"))
        .distinct()
        .withColumn("cluster_id", col("doc_id")))
    // everything checkpointed so far; freed wholesale if the loop throws
    // (a caller catching the failure would otherwise keep the blocks
    // pinned for the session lifetime)
    var live: Set[Int] = edgeIds ++ labelIds
    var converged = false
    var iters = 0
    try while (!converged && iters < 50) {
      iters += 1
      val viaEdges = edges
        .join(labels, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), col("cluster_id"))
        .unionByName(labels)
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
      // pointer jumping (path doubling): follow each node's label to THAT
      // node's label, so label distance compresses geometrically and long
      // near-dup chains converge in O(log diameter) rounds instead of
      // O(diameter) — with per-round materialization, round count is the
      // dominant wall-clock cost. min-propagation keeps labels inside the
      // component, so the final fixpoint is unchanged: min doc_id.
      val jumpTo = viaEdges
        .select(col("doc_id").as("via_id"), col("cluster_id").as("via_cluster"))
      val (propagated, propIds) = checkpointTracked(viaEdges
        .join(jumpTo, col("cluster_id") === col("via_id"), "left")
        .select(col("doc_id"),
          coalesce(col("via_cluster"), col("cluster_id")).as("cluster_id")))
      live ++= propIds
      val changed = propagated
        .join(labels.withColumnRenamed("cluster_id", "old"), Seq("doc_id"))
        .filter(col("cluster_id") =!= col("old")).count()
      free(labelIds)
      live --= labelIds
      labels = propagated
      labelIds = propIds
      converged = changed == 0
    } catch { case t: Throwable => free(live); throw t }
    // 50 rounds covers any realistic dup-cluster diameter; a graph that
    // still hasn't converged (pathological chain topology) must fail loudly
    // rather than hand back partially-merged cluster ids.
    if (!converged) {
      free(live)
      throw new IllegalStateException(
        "dupClusters: label propagation did not converge within 50 rounds " +
          "(component diameter > 50); refusing to return partial clusters")
    }
    free(edgeIds) // the returned plan reads only the final labels checkpoint
    docs.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("is_keeper",
        when(col("doc_id") === col("cluster_id"), 1).otherwise(0))
  }

  /** MinHash-verified duplicate clusters over the documents table. */
  def minhashDupClusters(docs: DataFrame): DataFrame =
    dupClusters(docs, minhashPairs(docs).filter(col("is_duplicate") === 1))

  /** Keeper selection by quality: within each near-dup cluster the highest
    * quality_score survives (ties → lowest doc_id; missing quality loses
    * all ties) — the curation policy of CCNet-style pipelines (keep the
    * best copy, drop the rest), replacing [[dupClusters]]' min-id keeper.
    *
    * The election is an AGGREGATION (`max_by` over a totally-ordered key),
    * not a per-cluster window rank: a window sorts each cluster inside one
    * task, and a giant duplicate family — which the hot-bucket star path
    * deliberately keeps as ONE cluster — would funnel millions of rows
    * through that task. The aggregate gets map-side partial combine, so a
    * hot cluster_id costs one carry per partition.
    *
    * @param clusters (doc_id, cluster_id, ...) — e.g. [[minhashDupClusters]]
    * @param quality  (doc_id, quality_score, ...) — e.g.
    *                 [[TextAnalysis.qualityScore]]
    */
  def keeperByQuality(clusters: DataFrame, quality: DataFrame): DataFrame = {
    // left join: a doc without a quality row stays in the output (every
    // clustered doc keeps a row). Election key = (has_score, score, -id):
    // the leading flag makes ANY scored doc beat every unscored one —
    // including a legitimate -Infinity score, which a coalesce-to-minimum
    // sentinel would conflate with "unscored" — and -doc_id resolves ties
    // to the LOWEST id. doc_id uniqueness makes the key total, so max_by
    // is deterministic. Persisted: the relation feeds both the winner
    // aggregation and the flag join, and it carries a full quality-scoring
    // pass that must not run twice.
    val joined = clusters.select("doc_id", "cluster_id")
      .join(quality.select("doc_id", "quality_score"), Seq("doc_id"), "left")
      .persist()
    joined.count() // eager: two consumers race an unfilled cache (see minhashPairs)
    val winner = joined.groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col("quality_score").isNotNull.cast("int"),
          coalesce(col("quality_score"), lit(0d)),
          -col("doc_id"))).as("keeper_doc_id"))
      .withColumnRenamed("cluster_id", "w_cluster_id")
    // null-safe equality: a null cluster_id (not produced by dupClusters,
    // but legal input) must keep its rows rather than vanish in the join
    materializeFreeing(
      joined.join(winner, col("cluster_id") <=> col("w_cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("quality_score"),
          when(col("doc_id") === col("keeper_doc_id"), 1).otherwise(0)
            .as("is_keeper")),
      joined)
  }

  /** Left-fold dot product via the native codegen expression
    * [[graft.functions.DotProduct]] (requires the
    * `graft.functions.GraftExtensions` session extension). Fold order
    * matches the DuckDB oracle's list_reduce mirror bit-for-bit.
    */
  def dot(a: String, b: String): String = s"graft_dot($a, $b)"

  /** Embedding near-duplicates: exact pairwise cosine ≥ threshold. This is
    * the quadratic correctness baseline (fine at verification scale); the
    * production-scale path is the sign-LSH bucketed [[Similarity.lshNearDup]].
    */
  def embeddingNearDup(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      expr(s"sqrt(${dot("embedding", "embedding")})").as("norm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        (expr(s"${dot("a.embedding", "b.embedding")}") /
          (col("a.norm") * col("b.norm"))).as("cos_sim"))
      .filter(col("cos_sim") >= CosineDupThreshold)
  }

  // ---- fixed-width chunk dedup (exact substring dedup at chunk granularity) ----

  /** Tokens per chunk in [[chunkRows]]. 8 tokens ≈ the reference corpus's
    * sentence length; real crawls use 50-token windows (Lee et al. below).
    */
  val ChunkTokens = 8

  /** `(doc_id, chunk_idx, chunk_text, chunk_hash, chunk_hash2)` — each
    * document's token stream cut into consecutive `w`-token chunks (last
    * chunk may be shorter). The chunk list is built per-row with
    * `sequence`/`slice`/`concat_ws` — a NARROW projection, zero shuffle;
    * the digests are computed before any downstream exchange so consumers
    * that don't need `chunk_text` (the dedup audit) shuffle integer-width
    * rows only, and Catalyst prunes the text column out of their scans.
    * Token-free documents contribute no rows.
    *
    * Chunk IDENTITY is the digest PAIR `(chunk_hash, chunk_hash2)` — two
    * disjoint 60-bit halves of one md5 ([[Portable.hexcastSpark2]]), 120
    * bits total. A single 60-bit digest collides with ~50% probability by
    * ~2^30 distinct chunks — real web-crawl scale — and here a collision
    * LOSES the later chunk's content from the reassembled corpus
    * unrecoverably (unlike the similarity sketches, where a collision
    * only perturbs an estimate). 120 bits pushes the bound to ~2^60.
    */
  def chunkRows(docs: DataFrame, w: Int = ChunkTokens): DataFrame = {
    require(w > 0, s"chunkRows: chunk width must be positive, got $w")
    docs
      .select(col("doc_id"), expr(tokensSpark).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(toks) - 1) div $w),
           |  i -> concat_ws(' ', slice(toks, i * $w + 1, $w)))""".stripMargin))
        .as(Seq("chunk_idx", "chunk_text")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"), expr(hexcastSpark("chunk_text")).as("chunk_hash"),
        expr(hexcastSpark2("chunk_text")).as("chunk_hash2"))
  }

  /** The ID-WIDTH chunk-occurrence relation shared by every chunk-level
    * election in the battery: [[chunkRows]] with `chunk_text` reduced to
    * its LENGTH. Both election policies (keep-first [[chunkDedup]], df
    * [[boilerplateChunks]]) and both one-row yield reports need only the
    * digest pair, the occurrence key and the occurrence's character count
    * — never the text — so a run that asks several chunk-level questions
    * of one corpus can tokenize + digest it ONCE and keep five longs per
    * chunk, instead of re-chunking the corpus per question (the r15
    * battery built [[chunkRows]] eight times per run). The `Docs`
    * reassembly variants still re-chunk WITH text on their own leg — by
    * design, so the corpus bytes stay off every election exchange.
    */
  def chunkMeta(docs: DataFrame, w: Int = ChunkTokens): DataFrame =
    chunkRows(docs, w).select(col("doc_id"), col("chunk_idx"),
      col("chunk_hash"), col("chunk_hash2"),
      length(col("chunk_text")).cast("long").as("chunk_chars"))

  /** Corpus-wide duplicate-chunk audit — exact substring dedup approximated
    * at fixed chunk granularity (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022, uses suffix arrays for exact
    * 50-token spans; C4 drops repeated three-sentence spans the same
    * keep-first way). A chunk occurrence is `kept` iff it is the FIRST
    * occurrence of its content corpus-wide (lowest `(doc_id, chunk_idx)`),
    * so boilerplate repeated across documents survives exactly once.
    *
    * Scale shape: first-occurrence is a digest-pair hash-aggregate
    * (`groupBy(chunk_hash, chunk_hash2).agg(min(struct))`)
    * — map-side partial combine folds a corpus-wide boilerplate chunk (the
    * hot key) locally per task before ONE row per distinct chunk crosses
    * the wire, so a 10⁶-copy chunk costs its copy count in comparisons,
    * never in shuffled bytes. The flag-back join fans the hot key's single
    * first-row out to its occurrences — AQE skew-split territory, carrying
    * id-width rows.
    */
  def chunkDedup(docs: DataFrame, w: Int = ChunkTokens): DataFrame =
    chunkDedupFrom(chunkMeta(docs, w))

  /** [[chunkDedup]] over an explicit [[chunkMeta]] relation — the share
    * seam (identical output pinned in `SharedSeamSpec`).
    */
  def chunkDedupFrom(meta: DataFrame): DataFrame =
    flaggedChunks(meta.drop("chunk_chars"))
      .select("doc_id", "chunk_idx", "chunk_hash", "n_copies", "kept")

  /** First-occurrence flagging over a chunk-occurrence relation — shared by
    * the batch operator and the incremental path
    * ([[graft.streaming.IncrementalChunkDedup]]), so the keep-first
    * election cannot diverge between them.
    */
  private[graft] def flaggedChunks(rows: DataFrame): DataFrame = {
    // identity = the 120-bit digest pair (see chunkRows) — grouping on the
    // pair costs nothing extra (same shuffle, 8 more bytes per row) and
    // removes the silent-content-loss collision mode
    val firsts = rows.groupBy("chunk_hash", "chunk_hash2")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"),
        count(lit(1)).as("n_copies"))
    rows.join(firsts, Seq("chunk_hash", "chunk_hash2"))
      .withColumn("kept", col("first.doc_id") === col("doc_id") &&
        col("first.chunk_idx") === col("chunk_idx"))
  }

  /** Reassemble flagged occurrence rows `(doc_id, chunk_idx, chunk_text,
    * kept)` into `(doc_id, clean_text, n_chunks, n_kept)` — the shared
    * tail of [[chunkDedupDocs]] and the incremental per-batch path.
    */
  private[graft] def reassembleChunks(occ: DataFrame): DataFrame =
    occ.groupBy("doc_id")
      .agg(
        expr("""concat_ws(' ', transform(
          |  array_sort(collect_list(CASE WHEN kept
          |    THEN struct(chunk_idx, chunk_text) END)),
          |  s -> s.chunk_text))""".stripMargin).as("clean_text"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))

  /** Join ID-WIDTH verdict flags back to the text-carrying chunk relation
    * and reassemble — the one-text-exchange tail shared by BOTH Docs
    * variants and the incremental per-batch paths. The election legs run
    * over digest-width rows only; the text relation and the flags are
    * each pre-partitioned by `doc_id`, so the `(doc_id, chunk_idx)` join
    * needs no further exchange (partitioning on a subset of the join keys
    * co-locates them) and [[reassembleChunks]]' `groupBy(doc_id)` reuses
    * the same partitioning. Net: `chunk_text` crosses exactly ONE
    * exchange — keying the flag-back on the digest instead (the old
    * spelling) shuffled the corpus text through the digest exchange AND
    * the doc_id one. Minor at sf0.1; half the wire bytes at 100 TB.
    */
  private[graft] def reassembleFlagged(chunks: DataFrame,
      flags: DataFrame): DataFrame = {
    val text = chunks.select("doc_id", "chunk_idx", "chunk_text")
      .repartition(col("doc_id"))
    val f = flags.select("doc_id", "chunk_idx", "kept")
      .repartition(col("doc_id"))
    reassembleChunks(text.join(f, Seq("doc_id", "chunk_idx")))
  }

  /** Documents re-assembled from their surviving chunks: `(doc_id,
    * clean_text, n_chunks, n_kept)`. A document whose every chunk was seen
    * earlier keeps its row with an empty `clean_text` — the downstream
    * length/quality gates ([[Curation]]) are the right place to drop it,
    * not the dedup pass. Reassembly is one hash-aggregate per document over
    * chunk-width rows (`collect_list` of kept `(chunk_idx, chunk_text)`
    * structs, array-sorted — per-doc cardinality is the doc's own chunk
    * count, bounded by doc length, not by the corpus). The election runs
    * id-width and the text joins back through [[reassembleFlagged]] —
    * chunking twice (a narrow, column-pruned projection) to keep the
    * corpus bytes off the digest exchange.
    */
  def chunkDedupDocs(docs: DataFrame, w: Int = ChunkTokens): DataFrame =
    chunkDedupDocsFrom(docs, chunkMeta(docs, w), w)

  /** [[chunkDedupDocs]] with the election leg reading an explicit
    * [[chunkMeta]] relation (built from the SAME `docs` at the SAME `w` —
    * the caller's contract). The text-carrying reassembly leg still
    * re-chunks `docs` itself: a narrow zero-shuffle projection, kept
    * separate so the corpus bytes never ride the election exchanges.
    */
  def chunkDedupDocsFrom(docs: DataFrame, meta: DataFrame,
      w: Int = ChunkTokens): DataFrame =
    reassembleFlagged(chunkRows(docs, w),
      flaggedChunks(meta.drop("chunk_chars"))
        .select("doc_id", "chunk_idx", "kept"))

  // ---- boilerplate chunk filter (drop-ALL-occurrences policy) ----

  /** Distinct-document threshold in [[boilerplateChunks]]: a chunk present
    * in ≥ this many DISTINCT documents is boilerplate. 2 exercises the
    * policy on the fixture corpus; production crawls tune much higher
    * (CCNet drops lines shared across a handful of its shard's docs).
    */
  val BoilerplateMinDf = 2

  /** Occurrence rows flagged by the BOILERPLATE policy (the CCNet §4.1 /
    * RefinedWeb line-dedup stage, at the same fixed-width chunk
    * granularity as [[chunkDedup]]): a chunk whose content appears in
    * `minDf`-or-more DISTINCT documents is navigation/footer/license
    * furniture, and EVERY occurrence is dropped — including the first.
    * This is the complement of [[chunkDedup]]'s keep-first election: that
    * pass keeps one copy of legitimately-duplicated content; this one
    * removes content whose cross-document spread marks it as template
    * text. Intra-document repeats alone never trip it (df counts distinct
    * documents, not occurrences).
    *
    * Scale shape: document frequency is a digest-pair hash-aggregate
    * (`count(distinct doc_id)` partials fold per-task before one row per
    * distinct chunk crosses the wire); the flag-back join fans the 1-row
    * df relation onto the chunk's occurrences — the [[flaggedChunks]]
    * contract, soaked as `chunk_flagback`.
    */
  private[graft] def dfFlaggedChunks(rows: DataFrame, minDf: Int): DataFrame = {
    require(minDf > 0, s"boilerplate: minDf must be positive, got $minDf")
    val dfs = rows.groupBy("chunk_hash", "chunk_hash2")
      .agg(countDistinct("doc_id").as("df_docs"))
    rows.join(dfs, Seq("chunk_hash", "chunk_hash2"))
      .withColumn("kept", col("df_docs") < minDf)
  }

  /** Per-occurrence boilerplate audit: `(doc_id, chunk_idx, chunk_hash,
    * df_docs, kept)` — digest-width rows only (the text never shuffles).
    */
  def boilerplateChunks(docs: DataFrame, w: Int = ChunkTokens,
      minDf: Int = BoilerplateMinDf): DataFrame =
    boilerplateChunksFrom(chunkMeta(docs, w), minDf)

  /** [[boilerplateChunks]] over an explicit [[chunkMeta]] relation — the
    * share seam (identical output pinned in `SharedSeamSpec`).
    */
  def boilerplateChunksFrom(meta: DataFrame,
      minDf: Int = BoilerplateMinDf): DataFrame =
    dfFlaggedChunks(meta.drop("chunk_chars"), minDf)
      .select("doc_id", "chunk_idx", "chunk_hash", "df_docs", "kept")

  /** Documents rewritten with their boilerplate chunks removed — the
    * df election over digest-width rows, flags joined back through
    * [[reassembleFlagged]], so the reassembly contract (empty
    * `clean_text` survives, per-doc bounded collect, one text exchange)
    * is shared verbatim with [[chunkDedupDocs]].
    */
  def boilerplateDocs(docs: DataFrame, w: Int = ChunkTokens,
      minDf: Int = BoilerplateMinDf): DataFrame =
    boilerplateDocsFrom(docs, chunkMeta(docs, w), w, minDf)

  /** [[boilerplateDocs]] with the df-election leg reading an explicit
    * [[chunkMeta]] relation (same `docs`, same `w` — the caller's
    * contract); the text reassembly leg re-chunks on its own, as in
    * [[chunkDedupDocsFrom]].
    */
  def boilerplateDocsFrom(docs: DataFrame, meta: DataFrame,
      w: Int = ChunkTokens, minDf: Int = BoilerplateMinDf): DataFrame =
    reassembleFlagged(chunkRows(docs, w),
      dfFlaggedChunks(meta.drop("chunk_chars"), minDf)
        .select("doc_id", "chunk_idx", "kept"))

  /** Corpus-level boilerplate yield, one row: occurrence / distinct-chunk /
    * boilerplate-chunk / dropped-occurrence counts and characters removed.
    * Integer aggregates only — the cross-engine hash compare is exact.
    */
  def boilerplateStats(docs: DataFrame, w: Int = ChunkTokens,
      minDf: Int = BoilerplateMinDf): DataFrame =
    boilerplateStatsFrom(chunkMeta(docs, w), minDf)

  /** [[boilerplateStats]] over an explicit [[chunkMeta]] relation. The
    * dropped-character sum reads the precomputed `chunk_chars` — the same
    * value `length(chunk_text)` produced, but the flag-back join and this
    * aggregate now carry a LONG where the old spelling shuffled the chunk
    * text itself through the df exchange (guide §2.3: project before the
    * exchange).
    */
  def boilerplateStatsFrom(meta: DataFrame,
      minDf: Int = BoilerplateMinDf): DataFrame =
    dfFlaggedChunks(meta, minDf)
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("chunk_hash"), col("chunk_hash2"))
          .as("n_distinct_chunks"),
        countDistinct(when(!col("kept"), struct(col("chunk_hash"), col("chunk_hash2"))))
          .as("n_boilerplate_chunks"),
        coalesce(sum(when(!col("kept"), 1L).otherwise(0L)), lit(0L))
          .as("n_dropped"),
        coalesce(sum(when(!col("kept"), col("chunk_chars")).otherwise(0L)),
          lit(0L)).as("chars_dropped"))

  /** Corpus-level dedup yield — the one-row report an operator reads to
    * decide whether chunk dedup pays for itself on a corpus: occurrence /
    * distinct / dropped counts and the characters removed. Integer
    * aggregates only, so the cross-engine hash compare is exact.
    */
  def chunkDedupStats(docs: DataFrame, w: Int = ChunkTokens): DataFrame =
    chunkDedupStatsFrom(chunkMeta(docs, w))

  /** [[chunkDedupStats]] over an explicit [[chunkMeta]] relation — same
    * id-width-exchange upgrade as [[boilerplateStatsFrom]].
    */
  def chunkDedupStatsFrom(meta: DataFrame): DataFrame =
    flaggedChunks(meta)
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("chunk_hash"), col("chunk_hash2"))
          .as("n_distinct_chunks"),
        coalesce(sum(when(!col("kept"), 1L).otherwise(0L)), lit(0L))
          .as("n_dropped"),
        coalesce(sum(when(!col("kept"), col("chunk_chars")).otherwise(0L)),
          lit(0L)).as("chars_dropped"))

  // ---------------------------------------------------------------------
  // Winnowing fingerprints (local document fingerprinting — SIGMOD 2003)
  // ---------------------------------------------------------------------

  /** Selection-key encoding: winnowing compares grams inside one window by
    * (32-bit hash, position), packed into a single BIGINT so the per-window
    * argmin is a plain `min` window aggregate — identical arithmetic in
    * Spark and the DuckDB oracle, no engine-specific struct-min or
    * arg_min tie semantics. The 32-bit SELECTION hash only drives which
    * gram a window picks (a collision inside one window merely shifts the
    * pick — both engines shift identically); the EMITTED fingerprint is
    * the full 60-bit gram digest at the selected position. Positions are
    * capped at 2^30 grams per document (a ~10^9-token single document —
    * far beyond any real crawl record).
    */
  private[graft] val WinnowSelMod: Long = 1L << 32
  private[graft] val WinnowPosMod: Long = 1L << 30

  /** Positional k-gram rows `(doc_id, pos, h)` — [[docShingles]] minus the
    * distinct and keeping the gram's start position: winnowing selects by
    * position, and repeated gram content inside one document matters. Same
    * window-`lead` assembly (strict concat — the last k−1 positions null
    * out), same 60-bit digest, so gram identity is shared with the
    * MinHash/Jaccard family. Gram positions are contiguous 0..n_tok−k.
    */
  private[graft] def gramRows(docs: DataFrame, k: Int): DataFrame = {
    val wp = Window.partitionBy("doc_id").orderBy("pos")
    val gram = (1 until k).foldLeft(col("tok")) { (acc, i) =>
      concat(acc, lit(" "), lead("tok", i).over(wp))
    }
    docTokens(docs)
      .select(col("doc_id"), col("pos"), gram.as("gram"))
      .filter(col("gram").isNotNull)
      .select(col("doc_id"), col("pos"),
        expr(hexcastSpark("gram")).as("h"))
  }

  /** Winnowing fingerprints `(doc_id, pos, h)`: each window of `w`
    * consecutive k-gram hashes selects its minimum (ties → leftmost, via
    * the packed selection key), and the distinct selected positions are
    * the document's fingerprints. Guarantee (SIGMOD 2003 §4): two
    * documents sharing a token run of length ≥ w + k − 1 share at least
    * one fingerprint VALUE — the shared run contains a full window of
    * identical grams, and the packed key ranks those grams identically on
    * both sides (hash first, RELATIVE order on ties). Documents with
    * fewer than w grams winnow their single short window (one
    * fingerprint); documents with fewer than k tokens have none.
    *
    * Scale shape: one exploded token relation, two per-document windows
    * (gram assembly + selection — both partitioned by doc_id, no
    * cross-document shuffle), and an id-width join to recover the 60-bit
    * digest at the ~2n/w selected positions. Nothing is corpus-quadratic;
    * the output is ~2/(w+1) of the gram relation.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = WinnowK,
      w: Int = WinnowWindow): DataFrame = {
    // persist: the gram relation feeds the selection windows AND the
    // digest recovery join-back — an unpersisted plan would tokenize the
    // corpus twice (see minhashPairs for the eager-fill reasoning)
    val grams = gramRows(docs, k).persist()
    grams.count()
    val wDoc = Window.partitionBy("doc_id")
    val wSel = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    // the frame is computed over ALL gram rows; the window-start validity
    // filter comes AFTER (a filter before the window would shrink frames)
    val keyed = grams
      .withColumn("sel_key",
        (col("h") % WinnowSelMod) * WinnowPosMod + col("pos"))
      .withColumn("n_grams", count(lit(1)).over(wDoc))
      .withColumn("win_min", min("sel_key").over(wSel))
    // full windows start at 0..n_grams−w; a doc with n_grams < w keeps
    // exactly its pos-0 (clipped) window
    val selected = keyed
      .filter(col("pos") <= greatest(col("n_grams") - w, lit(0)))
      .select(col("doc_id"), (col("win_min") % WinnowPosMod).as("pos"))
      .distinct()
    materializeFreeing(
      selected.join(grams, Seq("doc_id", "pos"))
        .select("doc_id", "pos", "h"),
      grams)
  }

  /** Winnow-fingerprint overlap pairs — the containment report MinHash
    * cannot produce: `containment = |common| / min(|A|, |B|)` over the
    * distinct fingerprint sets, reported above [[WinnowReportThreshold]]
    * with the duplicate verdict at [[WinnowOverlapThreshold]]. Fingerprints
    * in more than `maxDf` documents are boilerplate, not copying evidence,
    * and are dropped from the whole relation (counts AND set sizes — the
    * [[ngramJaccardPairs]] cap discipline), which also bounds the inverted-
    * index self-join at df² per key.
    */
  def winnowOverlapPairs(docs: DataFrame, k: Int = WinnowK,
      w: Int = WinnowWindow, maxDf: Int = MaxShingleDf): DataFrame =
    // checkpoint the distinct set so dfCapped's two scans re-read a
    // materialized relation instead of re-running the distinct shuffle
    winnowOverlapPairsFrom(
      winnowFingerprints(docs, k, w).select("doc_id", "h").distinct()
        .localCheckpoint(), maxDf)

  /** [[winnowOverlapPairs]] over an explicit distinct `(doc_id, h)`
    * fingerprint relation — the seam the incremental twin uses so each
    * micro-batch tokenizes once and feeds both the within-batch pass and
    * the store probe from the same fingerprint set.
    */
  private[graft] def winnowOverlapPairsFrom(fpSet: DataFrame,
      maxDf: Int = MaxShingleDf): DataFrame = {
    // fpSet is checkpointed (batch path) or persisted (incremental twin),
    // so dfCapped's second scan re-reads a materialized relation
    val fps = dfCapped(fpSet.select("doc_id", "h"), "h", maxDf).persist()
    fps.count() // eager: three downstream legs (see minhashPairs)
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = fps.as("sa")
      .join(fps.as("sb"),
        col("sa.h") === col("sb.h") && col("sa.doc_id") < col("sb.doc_id"))
      .groupBy(col("sa.doc_id").as("a_id"), col("sb.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_common"))
    materializeFreeing(
      common
        .join(sizes.as("na"), col("a_id") === col("na.doc_id"))
        .join(sizes.as("nb"), col("b_id") === col("nb.doc_id"))
        .select(col("a_id"), col("b_id"), col("n_common"),
          col("na.n").as("n_a"), col("nb.n").as("n_b"),
          (col("n_common").cast("double") /
            least(col("na.n"), col("nb.n"))).as("containment"))
        .filter(col("containment") >= WinnowReportThreshold)
        .withColumn("is_overlap",
          when(col("containment") >= WinnowOverlapThreshold, 1).otherwise(0)),
      fps)
  }

  /** Containment dedup over the documents table: drop every document
    * whose winnow containment against a LOWER-id document clears
    * [[WinnowOverlapThreshold]] — the first-occurrence-wins policy of the
    * chunk family applied at whole-document granularity, catching the
    * pasted/swallowed copies whole-document Jaccard waves through. The
    * anti-join is id-width; survivors keep every input column.
    */
  def winnowKeepDocs(docs: DataFrame, k: Int = WinnowK,
      w: Int = WinnowWindow, maxDf: Int = MaxShingleDf): DataFrame =
    winnowKeepDocsFrom(docs, winnowOverlapPairs(docs, k, w, maxDf))

  /** [[winnowKeepDocs]] over an EXPLICIT overlap-pair relation — the
    * share-one-pass seam: a battery that already materialized
    * [[winnowOverlapPairs]] as its own row applies the anti-join without
    * re-running the fingerprint + self-join pipeline (the
    * materialize-once convention of the mart readers).
    */
  def winnowKeepDocsFrom(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.join(
      pairs
        .filter(col("is_overlap") === 1)
        .select(col("b_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
}
