package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.Queries
import graft.models._
import graft.ops._
import graft.testdata.{OpsOracleSql => OO, OracleSql => O, TestFixtures => T}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY §2 (or a
  * training-data-pipeline extension) exercised against the driver's
  * TPC-H-ish testdata; [[oracleSql]] carries the DuckDB-equivalent SQL the
  * driver hash-compares against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    fctMomentum(spark, "/root/testdata/sf0.001")

  /** Memoized, persisted mart layers per (session, dir) — the reference
    * materializes each model once per run (dbt tables) and every dashboard
    * query reads the STORED mart; rebuilding the momentum window stack per
    * query would charge the dbt-build cost to every SELECT.
    */
  private val martCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  private def held(s: SparkSession, dir: String, key: String)
      (materialize: => DataFrame): DataFrame = {
    // drop entries of stopped sessions: a long-lived JVM that restarts
    // sessions (test suites) must not pin dead sessions' cached plans
    martCache.filterInPlace { case ((sess, _, _), _) =>
      !sess.sparkContext.isStopped }
    // TrieMap guards the map structure; prewarmShared's two legs build
    // DISJOINT keys concurrently (getOrElseUpdate is atomic per key), and
    // the per-query fan-out afterwards is read-only
    martCache.getOrElseUpdate((s, dir, key), materialize)
  }

  private def memo(s: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame =
    held(s, dir, key) {
      val df = build.persist()
      df.count() // eager: materialize once, before fan-out
      df
    }

  /** [[memo]]'s lifetime with plan flattening instead of a cache, for the
    * k-rows/query-sized ANN search results: their LOGICAL plans are
    * enormous (codebook literal arrays, a window, a cross join), and every
    * consumer action re-analyzes and cache-matches that tree — measured
    * ~0.4 s of driver time per action on the ADC relation, ~1 s per
    * recall-gate run. The eager `localCheckpoint` cuts the plan to a flat
    * LogicalRDD whose lookups are O(1)-ish and already holds its
    * result-sized blocks, so the relation is held once, not cached again.
    */
  private def memoFlat(s: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame =
    held(s, dir, key)(build.localCheckpoint())

  private def intDaily(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "int")(
      IntRussellDaily.buildFull(T.stagedBars(s, dir), T.constituents(s, dir)))

  private def fctMomentum(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "fct")(FctTradingMomentum.buildFull(intDaily(s, dir)))

  private def dimSecurities(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "dim")(DimSecuritiesCurrent.build(fctMomentum(s, dir)))

  /** agg_daily_market_breadth IS a dbt model in the reference — it
    * materializes once per run like the rest of the mart chain; the r15
    * battery built it three times (its row, the trend endpoint, the SQL
    * view registration).
    */
  private def breadth(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "breadth")(
      AggDailyMarketBreadth.build(intDaily(s, dir), fctMomentum(s, dir)))

  /** The verified MinHash near-duplicate pair relation — its own battery
    * row AND the edge set [[dupClusters]] resolves, so the LSH candidate +
    * Jaccard-verify pipeline runs ONCE per (session, dir) instead of once
    * for the row and once more inside the cluster build (r15: the battery
    * paid that pipeline twice).
    */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "minhashpairs")(
      Dedup.minhashPairsFrom(T.table(s, dir, "documents"),
        docShingles(s, dir)))

  /** The shared `(doc_id, h)` shingle relation — ONE tokenize + digest +
    * distinct pass feeding the MinHash signature row, the MinHash pair
    * pipeline, the n-gram Jaccard row and the split-contamination row
    * (r15 tokenized the corpus once per consumer: 4 passes per battery).
    * Unlike the bounded model tables this relation is CORPUS-SIZED, so
    * it gets a BOUNDED lifetime: the battery's last consumer in the
    * runner's sorted pass ([[Runner.pass]]), `split_contamination`, frees
    * it explicitly after its own result materializes ([[freeMemo]]) — the
    * free-what-you-allocate discipline the operators keep internally. A
    * fetch after the free simply rebuilds.
    */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "docshingles")(
      Dedup.docShingles(T.table(s, dir, "documents")))

  private def freeMemo(s: SparkSession, dir: String, key: String): Unit =
    martCache.remove((s, dir, key))
      .foreach(_.unpersist(blocking = false))

  /** The ID-WIDTH chunk-occurrence relation ([[graft.ops.Dedup.chunkMeta]]:
    * digest pair + occurrence key + character count, five longs per chunk)
    * — ONE tokenize + digest pass feeding all six chunk-level rows (the
    * keep-first audit/docs/stats and the boilerplate audit/docs/stats);
    * r15 re-chunked the corpus once per election leg (8 builds per
    * battery). Unlike [[docShingles]] this relation is id-width, not
    * corpus-sized, so it keeps the ordinary battery-lifetime memo.
    */
  private def chunkMeta(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "chunkmeta")(
      Dedup.chunkMeta(T.table(s, dir, "documents")))

  /** The per-document SimHash signature relation — its own battery row AND
    * the input of the banded pair pipeline: one signature aggregate per
    * battery instead of two.
    */
  private def simhashSig(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "simhashsig")(
      Dedup.simhash(T.table(s, dir, "documents")))

  /** Cluster resolution is the most expensive dedup stage and feeds both
    * the cluster query and keeper selection — materialized once per
    * (session, dir), like the marts, over the shared pair relation.
    */
  private def dupClusters(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "dupclusters")(
      Dedup.dupClusters(T.table(s, dir, "documents"),
        minhashPairs(s, dir).filter(
          org.apache.spark.sql.functions.col("is_duplicate") === 1)))

  /** Winnow fingerprints and their verified overlap pairs — each its own
    * battery row, and the pair relation also feeds the containment-dedup
    * row ([[Dedup.winnowKeepDocsFrom]]); shared so the battery tokenizes
    * and self-joins the fingerprint space once, not three times.
    */
  private def winnowFps(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "winnowfps")(
      Dedup.winnowFingerprints(T.table(s, dir, "documents")))

  private def winnowPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "winnowpairs")(
      Dedup.winnowOverlapPairsFrom(
        winnowFps(s, dir).select("doc_id", "h").distinct().localCheckpoint()))

  /** Frozen trained model tables per (session, dir) — each learned-filter
    * family trains ONCE per battery and every consumer row scores through
    * its frozen-model seam (`*With`), the same materialize-once convention
    * as the marts and the exact semantics the incremental drains freeze at
    * bootstrap. All are bounded relations (≤Buckets / ≤Buckets² rows) at
    * ANY corpus size.
    */
  private def dsirRatio(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "dsirratio")(
      Dsir.trainedRatioTable(T.table(s, dir, "documents")))

  private def nbModel(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "nbmodel")(
      QualityClassifier.modelTable(T.table(s, dir, "documents")))

  private def nbPrior(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "nbprior")(
      QualityClassifier.priorRow(T.table(s, dir, "documents")))

  /** The LM's seed bigram counts — the ONE training scan both LM tables
    * derive from; [[lmModel]]/[[lmContexts]] are cheap aggregates over
    * this persisted ≤Buckets²-row relation.
    */
  private def lmCounts(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "lmcounts")(
      LmPerplexity.seedBigramCounts(T.table(s, dir, "documents")))

  private def lmModel(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "lmmodel")(LmPerplexity.modelOf(lmCounts(s, dir)))

  private def lmContexts(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "lmcontexts")(LmPerplexity.contextsOf(lmCounts(s, dir)))

  /** The ONE per-document scoring pass under the frozen tables:
    * [[Curation.learnedAuditWith]]'s one-scan ensemble relation, carrying
    * every family's exact integer sums (n_tokens/like_micro/score_micro,
    * n_bigrams/logprob_micro, n_grams/logweight_micro) plus the verdict
    * columns. The three per-family score relations below are PROJECTIONS
    * of it — bit-identical to their `scoreWith`/`weightsWith` one-call
    * forms (integer sums are order-independent; pinned in
    * `SharedSeamSpec`) — so one corpus scan feeds the NB/LM/DSIR
    * score/select/summary rows, the SQL views, and both learned-ensemble
    * rows, where r15 paid one scan per family plus one per ensemble row
    * (5 corpus scoring passes per battery → 1).
    */
  private def learnedScored(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "learnedscored")(
      Curation.learnedAuditWith(T.table(s, dir, "documents"),
        nbModel(s, dir), nbPrior(s, dir),
        lmModel(s, dir), lmContexts(s, dir), dsirRatio(s, dir)))

  private def nbScores(s: SparkSession, dir: String): DataFrame =
    learnedScored(s, dir)
      .select("doc_id", "n_tokens", "like_micro", "score_micro")

  private def lmScores(s: SparkSession, dir: String): DataFrame =
    learnedScored(s, dir)
      .select("doc_id", "n_bigrams", "logprob_micro")

  private def dsirWeights(s: SparkSession, dir: String): DataFrame =
    learnedScored(s, dir)
      .select("doc_id", "n_grams", "logweight_micro")

  /** The composed curation funnel's per-doc audit — shared by the audit,
    * corpus, and funnel queries, and itself built over the memoized
    * cluster resolution.
    */
  private def curationAudit(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "curateaudit")(
      Curation.audit(T.table(s, dir, "documents"), dupClusters(s, dir)))

  /** The exact cosine top-k ground truth — shared by its own checked
    * query (`sim_brute_topk`) and the PQ recall gate
    * (`sim_pq_recall_err`), which grades approximate search against it.
    * Memoized NOT prewarmed: [[Runner.pass]] runs the battery in
    * sorted-name order, so the quadratic exact search is charged to
    * `sim_brute_topk` (the query that IS that search) and the gate reads
    * the held relation.
    */
  private def bruteTopK(s: SparkSession, dir: String): DataFrame =
    memoFlat(s, dir, "brutetopk")(
      Similarity.bruteTopK(T.table(s, dir, "embeddings")))

  /** The two approximate searches, shared the same way: each is its own
    * checked query AND a leg of the recall gate — one ADC scan and one
    * residual-IVFPQ search per battery, not two of each.
    */
  private def pqAdcTopK(s: SparkSession, dir: String): DataFrame =
    memoFlat(s, dir, "pqadctopk")(Pq.adcTopK(T.table(s, dir, "embeddings")))

  private def pqIvfpqTopK(s: SparkSession, dir: String): DataFrame =
    memoFlat(s, dir, "pqivfpqtopk")(
      Pq.ivfpqTopKFrom(ivfCand(s, dir), ivfAssign(s, dir),
        T.table(s, dir, "embeddings")))

  /** The shared IVF capped assignment + probe-candidate relations
    * (VERDICT r15 candidate #1): ONE assignment build per battery feeds
    * the flat search, the residual IVFPQ search, and the residual code
    * store — r15 built the identical relation once per row — and ONE
    * candidate relation feeds both searches.
    */
  private def ivfAssign(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "ivfassign") {
      val emb = T.table(s, dir, "embeddings")
      Similarity.ivfCappedAssignWith(emb, Similarity.ivfLeaders(emb))
    }

  private def ivfCand(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "ivfcand") {
      val emb = T.table(s, dir, "embeddings")
      Similarity.ivfCandidatesWith(ivfAssign(s, dir), emb,
        Similarity.ivfLeaders(emb))
    }

  /** The occupancy-annotated sign-LSH band relation — ONE signature +
    * occupancy build shared by the top-k and near-dup rows
    * ([[graft.ops.Similarity.lshBandRelation]]).
    */
  private def lshBands(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "lshbands")(
      Similarity.lshBandRelation(T.table(s, dir, "embeddings")))

  /** Forces every memoized shared relation (the int→fct→dim mart chain and
    * the dup-cluster resolution) to materialize NOW, so callers timing
    * individual queries can report the shared build as its own line instead
    * of charging it to whichever query happens to run first (the reference
    * materializes models once per dbt run in exactly this way).
    *
    * The two legs are INDEPENDENT — the stock mart chain reads the market
    * tables, the dupClusters→curationAudit chain reads `documents` — so
    * they are submitted as concurrent Spark jobs from two driver threads
    * (the reference runs dbt with `threads: 4`,
    * `dbt/stock_analytics/profiles.yml:15` — model-level build parallelism
    * for independent DAG legs is exactly this). Within each leg the
    * dependency order is preserved by the memo chain itself. Failures
    * propagate: Await rethrows the first leg's exception.
    */
  def prewarmShared(s: SparkSession, dir: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def leg(f: => Unit): Future[Unit] = Future(f)
    try {
      // the walked-runbook stores (era migrations text + mm, the serving
      // media catalog) are mutually independent like the two relation
      // legs — distinct demoRoot keys, disjoint inputs — so each gets
      // its own future: _mart_build pays the max of the stand-ups, not
      // the sum. Stand-up cost is shared-build cost by design (demoRoot);
      // the battery rows time the fetch.
      val legs = Seq(
        leg { dimSecurities(s, dir); () }, // int → fct → dim
        leg { curationAudit(s, dir); () }, // dupClusters → audit
        leg { eraWalkRoots(s, dir); () },
        leg { eraWalkRootsMm(s, dir); () },
        leg { mediaStoreRoot(s, dir); () })
      legs.foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
  }

  /** Registers the resolved model layers as temp views, so ad-hoc
    * `spark.sql` works over the mart schema — the surface the reference's
    * dashboard pages use (`data-viz/pages/2_Universe_Screener.py:58-107`
    * issues SELECTs against the warehouse via
    * `data-viz/utilities/snowflake_helper.py:42-51`). Registration is lazy
    * (views over the memoized marts) and idempotent.
    */
  def registerMartViews(s: SparkSession, dir: String): Unit = {
    StgDailyStocks.build(T.rawDaily(s, dir))
      .createOrReplaceTempView("stg_daily_stocks")
    intDaily(s, dir).createOrReplaceTempView("int_russell_daily")
    fctMomentum(s, dir).createOrReplaceTempView("fct_trading_momentum")
    breadth(s, dir).createOrReplaceTempView("agg_daily_market_breadth")
    dimSecurities(s, dir).createOrReplaceTempView("dim_securities_current")
  }

  /** The training-data world's SQL surface: the raw tables plus the
    * resolved curation relations as temp views, so an analyst can ask
    * plain-SQL questions of the funnel's output the way the dashboard
    * pages query the stock marts. Lazy views over the memoized audit —
    * registration costs nothing until queried.
    */
  def registerOpsViews(s: SparkSession, dir: String): Unit = {
    T.table(s, dir, "documents").createOrReplaceTempView("documents")
    T.table(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    curationAudit(s, dir).createOrReplaceTempView("curate_audit")
    Curation.corpus(T.table(s, dir, "documents"), curationAudit(s, dir))
      .createOrReplaceTempView("curated_corpus")
    // lazy plan — registration costs nothing until queried (semDedup is
    // deliberately NOT registered here: its operator materializes eagerly,
    // so a view would execute it on every registration)
    Dedup.chunkDedupDocs(T.table(s, dir, "documents"))
      .createOrReplaceTempView("chunk_deduped_docs")
    dsirWeights(s, dir).createOrReplaceTempView("dsir_weights")
    nbScores(s, dir).createOrReplaceTempView("nb_scores")
    Sampling.temperatureAssign(T.table(s, dir, "documents"))
      .createOrReplaceTempView("temp_assign")
  }

  // order-independent aggregates only (counts, exact integer sums of the
  // micro-fixed-point weights, min/max) — the same cross-engine hash
  // discipline as curationBySourceSql
  private val dsirByLangSql =
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(logweight_micro) AS BIGINT) AS total_logweight_micro,
      |       CAST(min(logweight_micro) AS BIGINT) AS min_logweight_micro,
      |       CAST(max(logweight_micro) AS BIGINT) AS max_logweight_micro
      |FROM dsir_weights JOIN documents USING (doc_id)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // the classifier surface under the same discipline: per-language
  // admission profile of the NB filter, exact integer aggregates only
  private val nbByLangSql =
    s"""SELECT lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(like_micro) AS BIGINT) AS total_like_micro,
       |       CAST(sum(CASE WHEN n_tokens >= 1 AND like_micro >=
       |                ${QualityClassifier.SelectTauMicro} * n_tokens
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
       |FROM nb_scores JOIN documents USING (doc_id)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // order-independent aggregates only (counts, integer sums, min/max):
  // a float avg re-associates differently per engine and can flip the
  // 9-sig-digit hash — same discipline as sectorMomentumSql
  // how the language rebalance lands on each SOURCE — the cross-cut an
  // operator checks before committing a mix (a source concentrated in the
  // over-represented language thins hardest); same hash discipline
  private val temperatureBySourceSql =
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(min(threshold) AS BIGINT) AS min_threshold,
      |       CAST(max(threshold) AS BIGINT) AS max_threshold
      |FROM temp_assign JOIN documents USING (doc_id)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  private val curationBySourceSql =
    """SELECT source, split,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(min(quality_score) AS DOUBLE) AS min_quality,
      |       CAST(max(quality_score) AS DOUBLE) AS max_quality
      |FROM curated_corpus
      |GROUP BY source, split
      |ORDER BY source, split""".stripMargin

  /** The shared landing idiom (see [[TempDirs.landOne]]) — used by the
    * era-walk builders to stand up real incremental drains.
    */
  private def landOne(df: DataFrame, landing: String, name: String): Unit =
    TempDirs.landOne(df, landing, name)

  /** Memoized DEMO STORE roots per (session, dir) — directories the
    * battery's walked runbooks (the era migrations, the serving media
    * catalog) stand up ONCE and every subsequent query only reads, the
    * same materialize-once convention as [[memo]]. [[prewarmShared]]
    * forces these too, so a bench run reports the walk/stand-up cost as
    * `_mart_build` and the rows time the FETCH — matching every other
    * `curate_*` row's semantics instead of charging two streaming drains
    * to a "feed" line.
    */
  private val demoRoots =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), String]

  private def demoRoot(s: SparkSession, dir: String, key: String)
      (build: String => Unit): String = {
    demoRoots.filterInPlace { case ((sess, _, _), _) =>
      !sess.sparkContext.isStopped }
    demoRoots.getOrElseUpdate((s, dir, key), {
      val base = TempDirs.scratch(s"graft-$key").toString
      build(base)
      base
    })
  }

  /** The two era-walk LANDINGS (even doc_ids for era 0, odd for era 1) —
    * shared by the text and mm walks, which drain the SAME halves under
    * different carriage: landing the corpus twice was two extra
    * coalesce(1) writes inside `_mart_build` for bytes that already
    * existed. A streaming file source only ever READS its landing dir
    * (checkpoints live elsewhere), so two drains over one landing are
    * independent. The build is serialized under its own lock: the two
    * walk legs run concurrently in [[prewarmShared]], and TrieMap's
    * per-key atomicity protects the MAP, not a racing double-build of
    * the directory itself.
    */
  private val eraLandingLock = new Object

  private def eraLandings(s: SparkSession, dir: String): String =
    eraLandingLock.synchronized {
      demoRoot(s, dir, "eralanding") { base =>
        val docs = T.table(s, dir, "documents").select("doc_id", "text")
        landOne(docs.filter("doc_id % 2 = 0"), s"$base/land0", "b0.parquet")
        landOne(docs.filter("doc_id % 2 = 1"), s"$base/land1", "b1.parquet")
      }
    }

  /** The operated vocabulary-retrain migration, walked for the battery:
    * era 0 drains the even doc_ids under the FIXTURE vocabulary, the
    * retrain ships the TRAINED successor, era 1 repacks the odd doc_ids
    * under it via [[graft.streaming.PackingMigration.repackUnderVocab]],
    * and the combined feed serves every bin of both eras exactly once —
    * the most fumble-prone trainer-feed surface, oracle-checked
    * cross-engine instead of only spec-asserted. The walk (two real
    * incremental drains + the migration) runs once per battery in the
    * memoized builder; the row serves the fetch.
    */
  private def eraWalkRoots(s: SparkSession, dir: String): Seq[String] = {
    import graft.streaming.{IncrementalPacking, PackingMigration}
    val base = demoRoot(s, dir, "erafeed") { base =>
      val docs = T.table(s, dir, "documents").select("doc_id", "text")
      val land = eraLandings(s, dir)
      IncrementalPacking.run(s, s"$land/land0", s"$base/ckpt0",
        s"$base/root0", docs.schema,
        nTokensSql = TextAnalysis.subwordCountSqlWith(Portable.subwordVocab),
        payloadVocab = Some(Portable.subwordVocab))
      PackingMigration.repackUnderVocab(s, s"$base/root0", s"$base/root1",
        s"$land/land1", s"$base/ckpt1", docs.schema,
        Portable.trainedFixtureVocab)
      ()
    }
    Seq(s"$base/root0", s"$base/root1")
  }

  /** The MULTIMODAL era walk — the same two-era runbook with the media
    * sidecar riding every stage: era 0 drains under the fixture
    * vocabulary WITH the default carriage (placeholders priced,
    * `_payloads` frozen to the mm mode), the migration carries the mode
    * across the boundary (`repackUnderVocab` refuses a dropped or
    * re-keyed sidecar), and the combined mm feed interleaves each era in
    * its own unit. Strictly more fumble surface than the text walk —
    * mode carry-over plus sidecar rebase across eras — which is exactly
    * why it earns its own driver-checked row.
    */
  private def eraWalkRootsMm(s: SparkSession, dir: String): Seq[String] = {
    import graft.streaming.{IncrementalPacking, PackingMigration}
    val base = demoRoot(s, dir, "erafeedmm") { base =>
      val docs = T.table(s, dir, "documents").select("doc_id", "text")
      val land = eraLandings(s, dir)
      IncrementalPacking.run(s, s"$land/land0", s"$base/ckpt0",
        s"$base/root0", docs.schema,
        nTokensSql = Packing.mmTokensSqlWith(Portable.subwordVocab),
        payloadVocab = Some(Portable.subwordVocab),
        mmCarriageSql = Some(Packing.MediaCarriageSql))
      PackingMigration.repackUnderVocab(s, s"$base/root0", s"$base/root1",
        s"$land/land1", s"$base/ckpt1", docs.schema,
        Portable.trainedFixtureVocab,
        mmCarriageSql = Some(Packing.MediaCarriageSql))
      ()
    }
    Seq(s"$base/root0", s"$base/root1")
  }

  /** Packed-assignment and payload relations shared across the packing
    * rows — the trainer-feed materializations a real run derives ONCE per
    * corpus ([[Packing.epochPlanFrom]]'s multi-epoch rationale): the
    * whitespace and subword bin assignments each feed 2-3 rows, the
    * encoded payload relation feeds the payload row AND the reader
    * fetch, and the mm payload relation feeds its row AND the memoized
    * mm feed.
    */
  private def packBinsWs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "packbins")(
      Packing.packBins(T.table(s, dir, "documents")))

  private def packBinsSub(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "packbinssub")(
      Packing.packBins(T.table(s, dir, "documents"),
        nTokensSql = TextAnalysis.subwordCountSql))

  private def textPayloads(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "binpayloads")(
      Packing.binPayloads(T.table(s, dir, "documents")))

  private def mmPayloads(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "mmpayloads")(
      Packing.binPayloadsMm(T.table(s, dir, "documents")))

  /** The battery's one mm trainer feed — shared by the mm-feed row and
    * all three byte-fetch rows (relation-form, store-backed full-epoch,
    * store-backed window), so the corpus is interleave-encoded once per
    * battery instead of once per row (the [[memo]] convention), over the
    * shared mm payload relation.
    */
  private def mmFeed(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "mmfeed")(
      Packing.readerFeedMmFrom(mmPayloads(s, dir)))

  /** The battery's SERVING media catalog: the fixture catalog landed in
    * [[graft.streaming.MediaCatalogStore]]'s bucketed layout once per
    * (session, dir), so the store-backed byte-fetch row hash-checks the
    * PRUNED serving path cross-engine — the 100 TB layout itself, not
    * just the relation form its sibling row proves.
    */
  private def mediaStoreRoot(s: SparkSession, dir: String): String =
    demoRoot(s, dir, "mediastore") { base =>
      graft.streaming.MediaCatalogStore.write(
        mediaCat(s, dir), base, buckets = 64)
    }

  /** The synthesized media relation ([[Multimodal.media]]) — seven
    * consumers per battery (five media rows, the relation-form byte
    * fetch, the serving-store stand-up) each re-ran the per-row md5
    * payload synthesis; materialized once like every other shared
    * relation.
    */
  private def mediaCat(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "mediacat")(
      Multimodal.media(T.table(s, dir, "documents")))

  /** The ad-hoc SQL surface proof: plain ANSI SQL over the registered mart
    * views, oracle-checked like every DataFrame query. Aggregates are
    * order-independent (counts, integer sums, min/max) so the cross-engine
    * hash compare is exact.
    */
  private val sectorMomentumSql =
    """SELECT sector,
      |       CAST(count(DISTINCT ticker) AS BIGINT) AS n_tickers,
      |       CAST(sum(CAST(golden_cross AS BIGINT)) AS BIGINT) AS n_golden_crosses,
      |       CAST(sum(volume) AS BIGINT) AS total_volume,
      |       CAST(min(close) AS DOUBLE) AS min_close,
      |       CAST(max(close) AS DOUBLE) AS max_close
      |FROM fct_trading_momentum
      |WHERE trade_date >= DATE '1998-01-01'
      |GROUP BY sector
      |ORDER BY sector""".stripMargin

  /** Latest Wilder-smoothed RSI per ticker — the EWMA recursion runs in the
    * custom [[graft.functions.Ewma]] window function (SURVEY §7 stretch;
    * the reference ships Cutler's constant-divisor variant as `rsi`).
    */
  private def wilderRsi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.RollingFunctions
    val alphaSql = s"CAST(${graft.ops.Portable.wilderAlpha} AS DOUBLE)"
    val w = Window.partitionBy("ticker").orderBy("trade_date")
    intDaily(s, dir)
      .withColumn("gain", expr(
        "CASE WHEN yesterday_close IS NOT NULL THEN greatest(close - yesterday_close, 0D) END"))
      .withColumn("loss", expr(
        "CASE WHEN yesterday_close IS NOT NULL THEN greatest(yesterday_close - close, 0D) END"))
      .withColumn("avg_gain_wilder", expr(s"graft_ewma(gain, $alphaSql)").over(w))
      .withColumn("avg_loss_wilder", expr(s"graft_ewma(loss, $alphaSql)").over(w))
      .withColumn("rn", row_number().over(
        Window.partitionBy("ticker").orderBy(col("trade_date").desc)))
      .filter(col("rn") === 1)
      .select(col("ticker"), col("trade_date").as("latest_trade_date"),
        col("avg_gain_wilder"), col("avg_loss_wilder"),
        RollingFunctions.rsi(col("avg_gain_wilder"), col("avg_loss_wilder"))
          .cast("double").as("rsi_wilder"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stock_stg_projection" -> ((s, dir) =>
      StgDailyStocks.build(T.rawDaily(s, dir))),
    "stock_int_daily" -> ((s, dir) => intDaily(s, dir)),
    "stock_fct_momentum" -> ((s, dir) => fctMomentum(s, dir)),
    "stock_breadth" -> ((s, dir) => breadth(s, dir)),
    "stock_dim_securities" -> ((s, dir) => dimSecurities(s, dir)),
    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenStats(T.table(s, dir, "documents"))),
    "text_subword_tokens" -> ((s, dir) =>
      TextAnalysis.subwordTokens(T.table(s, dir, "documents"))),
    "text_subword_ids" -> ((s, dir) =>
      TextAnalysis.subwordIdsChecked(T.table(s, dir, "documents"))),
    "text_subword_tokens_trained" -> ((s, dir) =>
      TextAnalysis.subwordTokensTrained(T.table(s, dir, "documents"))),
    "text_subword_ids_trained" -> ((s, dir) =>
      TextAnalysis.subwordIdsTrainedChecked(T.table(s, dir, "documents"))),
    "text_langid" -> ((s, dir) =>
      TextAnalysis.languageId(T.table(s, dir, "documents"))),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(T.table(s, dir, "documents"))),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(T.table(s, dir, "documents"))),
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(T.table(s, dir, "documents"))),
    "dedup_minhash_signature" -> ((s, dir) =>
      Dedup.signaturesFrom(T.table(s, dir, "documents"),
        docShingles(s, dir))),
    "dedup_minhash_pairs" -> ((s, dir) => minhashPairs(s, dir)),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairsFrom(docShingles(s, dir))),
    "dedup_simhash" -> ((s, dir) => simhashSig(s, dir)),
    "dedup_winnow_fps" -> ((s, dir) => winnowFps(s, dir)),
    "dedup_winnow_overlap" -> ((s, dir) => winnowPairs(s, dir)),
    "dedup_winnow_docs" -> ((s, dir) =>
      Dedup.winnowKeepDocsFrom(T.table(s, dir, "documents"),
        winnowPairs(s, dir))),
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairsFrom(simhashSig(s, dir))),
    "dedup_embedding_cosine" -> ((s, dir) =>
      Dedup.embeddingNearDup(T.table(s, dir, "embeddings"))),
    "dedup_chunks" -> ((s, dir) =>
      Dedup.chunkDedupFrom(chunkMeta(s, dir))),
    "dedup_chunk_docs" -> ((s, dir) =>
      Dedup.chunkDedupDocsFrom(T.table(s, dir, "documents"),
        chunkMeta(s, dir))),
    "dedup_chunk_stats" -> ((s, dir) =>
      Dedup.chunkDedupStatsFrom(chunkMeta(s, dir))),
    "dedup_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateChunksFrom(chunkMeta(s, dir))),
    "dedup_boilerplate_docs" -> ((s, dir) =>
      Dedup.boilerplateDocsFrom(T.table(s, dir, "documents"),
        chunkMeta(s, dir))),
    "dedup_boilerplate_stats" -> ((s, dir) =>
      Dedup.boilerplateStatsFrom(chunkMeta(s, dir))),
    // composition: document-level curation first, then cross-document
    // chunk dedup over the survivors (the C4 ordering) — the keep-first
    // election runs on the curated subset only
    "curate_chunk_corpus" -> ((s, dir) =>
      Dedup.chunkDedupDocs(T.table(s, dir, "documents").join(
        curationAudit(s, dir).filter("curated").select("doc_id"),
        Seq("doc_id")))),
    "sim_semdedup" -> ((s, dir) =>
      Similarity.semDedup(T.table(s, dir, "embeddings"))),
    "dedup_clusters" -> ((s, dir) => dupClusters(s, dir)),
    // the memoized curation audit embeds the keeper election verbatim
    // (same Dedup.keeperByQuality call) — read the stored columns instead
    // of re-running the election, the same materialize-once convention as
    // the mart readers
    "dedup_keeper_quality" -> ((s, dir) =>
      curationAudit(s, dir)
        .select("doc_id", "cluster_id", "quality_score", "is_keeper")),
    "sim_signatures" -> ((s, dir) =>
      Similarity.signatures(T.table(s, dir, "embeddings"))),
    "sim_brute_topk" -> ((s, dir) => bruteTopK(s, dir)),
    "sim_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopKFrom(lshBands(s, dir),
        T.table(s, dir, "embeddings"))),
    "sim_lsh_neardup" -> ((s, dir) =>
      Similarity.lshNearDupFrom(lshBands(s, dir),
        T.table(s, dir, "embeddings"))),
    "sim_ivf_assign" -> ((s, dir) =>
      Similarity.ivfAssignments(T.table(s, dir, "embeddings"))),
    "sim_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopKFrom(ivfCand(s, dir),
        T.table(s, dir, "embeddings"))),
    "sim_pq_codes" -> ((s, dir) =>
      Pq.codes(T.table(s, dir, "embeddings"))),
    "sim_pq_topk" -> ((s, dir) => pqAdcTopK(s, dir)),
    "sim_ivfpq_codes" -> ((s, dir) =>
      Pq.ivfpqCodesFrom(ivfAssign(s, dir),
        T.table(s, dir, "embeddings"))),
    "sim_ivfpq_topk" -> ((s, dir) => pqIvfpqTopK(s, dir)),
    // accuracy gate, not values: the driver hash-checks that PQ recall
    // against the exact top-k clears the declared floors (the sketch
    // `_err` convention). All three searches it grades are the memoized
    // relations the battery checks as their own rows — each search runs
    // once per battery, and the gate pays for the joins only
    "sim_pq_recall_err" -> ((s, dir) =>
      Pq.adcRecallGateWith(T.table(s, dir, "embeddings"),
        bruteTopK(s, dir),
        adcApprox = Some(pqAdcTopK(s, dir)),
        ivfpqApprox = Some(pqIvfpqTopK(s, dir)))),
    "events_hourly" -> ((s, dir) => Events.hourly(T.events(s, dir))),
    "events_hopping" -> ((s, dir) => Events.hopping(T.events(s, dir))),
    "events_sessions" -> ((s, dir) => Events.sessionize(T.events(s, dir))),
    "events_session_window" -> ((s, dir) => Events.sessionWindows(T.events(s, dir))),
    "events_funnel" -> ((s, dir) => Events.funnel(T.events(s, dir))),
    "events_daily_topk" -> ((s, dir) => Events.dailyTypeTopK(T.events(s, dir))),
    "events_json" -> ((s, dir) => Events.jsonProps(T.events(s, dir))),
    "events_retention" -> ((s, dir) => Events.retention(T.events(s, dir))),
    // sketch estimates are implementation-defined, so the sketches enter
    // the battery as their ACCURACY GATES: each _err query compares the
    // sketch against its exact twin in-engine and returns the violation
    // count — a deterministic constant-zero row DuckDB oracles directly,
    // making sketch accuracy driver-checked instead of rows-only
    "events_daily_users_approx_err" -> ((s, dir) =>
      Events.dailyUsersApproxErr(T.events(s, dir))),
    "events_value_quantiles_approx_err" -> ((s, dir) =>
      Events.valueQuantilesApproxErr(T.events(s, dir))),
    "events_daily_users_exact" -> ((s, dir) =>
      Events.dailyUsersExact(T.events(s, dir))),
    "events_value_quantiles_exact" -> ((s, dir) =>
      Events.valueQuantilesExact(T.events(s, dir))),
    "events_user_counts_exact" -> ((s, dir) =>
      Events.userCountsExact(T.events(s, dir))),
    "events_user_counts_cms_err" -> ((s, dir) =>
      Events.userCountsCmsErr(T.events(s, dir))),
    "events_asof_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = T.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "ts", "user_id", "value")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("event_id").as("view_event_id"))
      AsOfJoin.asofJoin(purchases, views, Seq("user_id"), "ts", "ts",
        Seq("view_event_id"))
    }),
    "text_top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(T.table(s, dir, "documents"))),
    "text_bm25_topk" -> ((s, dir) =>
      Retrieval.bm25TopK(T.table(s, dir, "documents"))),
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(T.table(s, dir, "documents"))),
    // pii over the in-query injected corpus (graft.ops.Portable.piiInject*):
    // the synthetic docs carry no PII, so injection is what makes the
    // oracle compare a real cross-engine regex-parity test
    "text_pii" -> ((s, dir) =>
      TextAnalysis.piiScan(T.table(s, dir, "documents")
        .selectExpr("doc_id", s"${graft.ops.Portable.piiInjectSpark} AS text"))),
    "sample_assign" -> ((s, dir) =>
      Sampling.stratifiedAssign(T.table(s, dir, "documents"))),
    "sample_corpus" -> ((s, dir) =>
      Sampling.stratifiedSample(T.table(s, dir, "documents"))),
    "sample_summary" -> ((s, dir) =>
      Sampling.sampleSummary(T.table(s, dir, "documents"))),
    "sample_target_assign" -> ((s, dir) =>
      Sampling.targetAssign(T.table(s, dir, "documents"), 40L)),
    "sample_source_cap" -> ((s, dir) =>
      Sampling.sourceCap(T.table(s, dir, "documents"))),
    "sample_temperature_assign" -> ((s, dir) =>
      Sampling.temperatureAssign(T.table(s, dir, "documents"))),
    "sample_temperature_summary" -> ((s, dir) =>
      Sampling.temperatureSummary(T.table(s, dir, "documents"))),
    "curate_audit" -> ((s, dir) => curationAudit(s, dir)),
    "curate_corpus" -> ((s, dir) =>
      Curation.corpus(T.table(s, dir, "documents"), curationAudit(s, dir))),
    "curate_funnel" -> ((s, dir) => Curation.funnel(curationAudit(s, dir))),
    // the pipeline's output artifact: the CURATED corpus packed into
    // token-budget training shards (composition of the funnel + the
    // two-phase distributed prefix sum)
    "curate_token_shards" -> ((s, dir) =>
      HashSplit.tokenShards(T.table(s, dir, "documents").join(
        curationAudit(s, dir).filter("curated").select("doc_id"),
        Seq("doc_id")))),
    "curate_funnel_lang" -> ((s, dir) =>
      Curation.funnelByLang(curationAudit(s, dir))),
    "curate_dsir_weights" -> ((s, dir) => dsirWeights(s, dir)),
    "curate_dsir_select" -> ((s, dir) =>
      Dsir.selectFromWeights(dsirWeights(s, dir))),
    "curate_dsir_summary" -> ((s, dir) =>
      Dsir.summaryFromWeights(dsirWeights(s, dir))),
    "split_assign" -> ((s, dir) =>
      HashSplit.split(T.table(s, dir, "documents"))),
    "split_summary" -> ((s, dir) =>
      HashSplit.splitSummary(T.table(s, dir, "documents"))),
    "split_token_shards" -> ((s, dir) =>
      HashSplit.tokenShards(T.table(s, dir, "documents"))),
    "split_contamination" -> ((s, dir) => {
      // contaminatedTrainDocsFrom materializes eagerly, so the shared
      // shingle relation can be freed here — this row is the relation's
      // LAST consumer in Runner.pass's sorted order (bounded lifetime)
      val out = HashSplit.contaminatedTrainDocsFrom(
        T.table(s, dir, "documents"), docShingles(s, dir))
      freeMemo(s, dir, "docshingles")
      out
    }),
    "split_semantic_decontam" -> ((s, dir) =>
      HashSplit.semanticContamination(T.table(s, dir, "documents"),
        T.table(s, dir, "embeddings"))),
    "media_catalog" -> ((s, dir) =>
      Multimodal.catalogFrom(mediaCat(s, dir))),
    "media_byte_stats" -> ((s, dir) =>
      Multimodal.byteStatsFrom(mediaCat(s, dir))),
    "media_decode_mappartitions" -> ((s, dir) =>
      Multimodal.decodeFeaturesFrom(s, mediaCat(s, dir)).toDF()),
    "media_frame_sample" -> ((s, dir) =>
      Multimodal.frameSampleFrom(mediaCat(s, dir))),
    "media_resize" -> ((s, dir) =>
      Multimodal.resizeFrom(mediaCat(s, dir))),
    "rel_pricing_summary" -> ((s, dir) =>
      Relational.pricingSummary(T.table(s, dir, "lineitem"))),
    "rel_top_customers" -> ((s, dir) =>
      Relational.topCustomers(T.table(s, dir, "lineitem"),
        T.table(s, dir, "orders"), T.table(s, dir, "customer"))),
    "rel_late_orders" -> ((s, dir) =>
      Relational.lateOrderPriorities(T.table(s, dir, "lineitem"),
        T.table(s, dir, "orders"))),
    "rel_brand_volume" -> ((s, dir) =>
      Relational.brandVolume(T.table(s, dir, "lineitem"),
        T.table(s, dir, "part"))),
    "stock_sector_pivot" -> ((s, dir) =>
      Relational.sectorMonthlyPivot(intDaily(s, dir))),
    "stock_tickers_except" -> ((s, dir) =>
      Relational.tickersOnlyIn(intDaily(s, dir), 1997, 1998)),
    "stock_volume_deciles" -> ((s, dir) =>
      Relational.volumeDeciles(intDaily(s, dir))),
    "stock_volume_rollup" -> ((s, dir) =>
      Relational.volumeRollup(intDaily(s, dir))),
    "stock_volume_cube" -> ((s, dir) =>
      Relational.volumeCube(intDaily(s, dir))),
    "api_screener" -> ((s, dir) =>
      Queries.screener(dimSecurities(s, dir),
        Queries.ScreenerFilter(rsiLo = Some(20), rsiHi = Some(80),
          tickerContains = Some("s1")))),
    "api_ticker_history" -> ((s, dir) =>
      Queries.tickerHistory(fctMomentum(s, dir), "S07",
        java.sql.Date.valueOf("1995-01-01"), java.sql.Date.valueOf("1998-12-31"))),
    "api_breadth_trend" -> ((s, dir) =>
      Queries.breadthTrend(breadth(s, dir))),
    "api_freshness" -> ((s, dir) => Queries.freshness(fctMomentum(s, dir))),
    "readme_golden_crosses" -> ((s, dir) =>
      Queries.latestGoldenCrosses(fctMomentum(s, dir))),
    "readme_top_performers" -> ((s, dir) =>
      Queries.topPerformersBySector(dimSecurities(s, dir))),
    "stock_wilder_rsi" -> ((s, dir) => wilderRsi(s, dir)),
    "api_screener_stats" -> ((s, dir) =>
      Queries.screenerStats(dimSecurities(s, dir))),
    "api_sector_picklist" -> ((s, dir) =>
      Queries.sectorPicklist(dimSecurities(s, dir))),
    "api_ticker_picklist" -> ((s, dir) =>
      Queries.tickerPicklist(dimSecurities(s, dir))),
    "quality_report" -> ((s, dir) =>
      graft.quality.DataQuality.report(fctMomentum(s, dir),
        graft.quality.DataQuality.fctTests)),
    "quality_nb_model" -> ((s, dir) => nbModel(s, dir)),
    "quality_nb_score" -> ((s, dir) => nbScores(s, dir)),
    "quality_nb_select" -> ((s, dir) =>
      QualityClassifier.selectFromScores(nbScores(s, dir))),
    "quality_nb_summary" -> ((s, dir) =>
      QualityClassifier.summaryFromScores(nbScores(s, dir),
        T.table(s, dir, "documents"))),
    "curate_pack_bins" -> ((s, dir) => packBinsWs(s, dir)),
    "curate_bin_payloads" -> ((s, dir) =>
      Packing.binPayloadsCheckedFrom(textPayloads(s, dir))),
    // interleaved multimodal packing: image-carrying docs contribute a
    // placeholder slot; the sidecar keys the media catalog per bin
    "curate_bin_payloads_mm" -> ((s, dir) =>
      Packing.binPayloadsMmCheckedFrom(mmPayloads(s, dir))),
    "curate_pack_bins_subword" -> ((s, dir) => packBinsSub(s, dir)),
    // the attention-mask surface: per-doc span coordinates inside each
    // bin's stream, in the unit the payload feed prices with — the
    // boundaries a packed trainer masks cross-document attention on
    "curate_bin_manifest" -> ((s, dir) =>
      Packing.manifestFromBins(packBinsSub(s, dir))),
    "curate_pack_stats" -> ((s, dir) =>
      Packing.statsFrom(packBinsWs(s, dir))),
    "curate_epoch_plan" -> ((s, dir) =>
      Packing.epochPlanFrom(packBinsWs(s, dir))),
    // the trainer-reader fetch: epoch plan ⋈ bin payloads — the one join
    // a training loop actually issues, (reader, reader_pos) → input_ids
    "curate_reader_feed" -> ((s, dir) =>
      Packing.readerFeedCheckedFrom(
        Packing.readerFeedFrom(textPayloads(s, dir)))),
    // the vision-language loader's fetch: the media sidecar rides the
    // same single payload join as the id streams
    "curate_reader_feed_mm" -> ((s, dir) =>
      Packing.readerFeedMmCheckedFrom(mmFeed(s, dir))),
    // the last mile: each fetched slot's media BYTES resolved against the
    // catalog, fingerprinted per (reader, reader_pos, slot)
    "curate_reader_feed_bytes" -> ((s, dir) =>
      Packing.bytesChecked(Packing.fetchMediaPayloads(mmFeed(s, dir),
        mediaCat(s, dir)))),
    // the same last mile through the SERVING STORE: the fetch resolves
    // refs against the bucketed, partition-pruned catalog layout — the
    // oracle hash proves the pruned path serves the same bytes
    "curate_reader_feed_bytes_store" -> ((s, dir) =>
      Packing.bytesChecked(graft.streaming.MediaCatalogStore.fetch(
        s, mediaStoreRoot(s, dir), mmFeed(s, dir)))),
    // the loader's ACTUAL 100 TB shape: ONE reader's position window
    // through the store — the fetch the pruned layout exists for (a
    // handful of refs resolve without scanning the catalog), its bytes
    // hash-checked cross-engine like the full-epoch rows
    "curate_reader_feed_bytes_window" -> ((s, dir) =>
      Packing.bytesChecked(graft.streaming.MediaCatalogStore.fetch(
        s, mediaStoreRoot(s, dir),
        mmFeed(s, dir).filter("reader = 0 AND reader_pos <= 5")))),
    // the multi-era feed after an operated vocabulary-retrain migration
    // (roots stood up once in the memoized walk; the row serves the
    // combined era-salted fetch)
    "curate_era_feed" -> ((s, dir) =>
      graft.streaming.PackingMigration.eraFeedChecked(
        s, eraWalkRoots(s, dir), epoch = 1)),
    // the mm era feed: mode carried across the retrain boundary, sidecar
    // rebased per era, each era priced in its own unit
    "curate_era_feed_mm" -> ((s, dir) =>
      graft.streaming.PackingMigration.eraFeedMmChecked(
        s, eraWalkRootsMm(s, dir), epoch = 1)),
    "quality_lm_model" -> ((s, dir) => lmModel(s, dir)),
    "quality_lm_ppl" -> ((s, dir) => lmScores(s, dir)),
    "quality_lm_select" -> ((s, dir) =>
      LmPerplexity.selectFromScores(lmScores(s, dir))),
    "quality_lm_summary" -> ((s, dir) =>
      LmPerplexity.summaryFromScores(lmScores(s, dir),
        T.table(s, dir, "documents"))),
    "curate_learned_audit" -> ((s, dir) =>
      learnedScored(s, dir)
        .select("doc_id", "nb_selected", "lm_selected", "dsir_selected",
          "kept")),
    "curate_learned_funnel" -> ((s, dir) =>
      Curation.learnedFunnel(learnedScored(s, dir))),
    "sql_sector_momentum" -> ((s, dir) => {
      registerMartViews(s, dir)
      s.sql(sectorMomentumSql)
    }),
    "sql_curation_by_source" -> ((s, dir) => {
      registerOpsViews(s, dir)
      s.sql(curationBySourceSql)
    }),
    // the ad-hoc SQL surface keeps pace with the operator families: plain
    // SQL over the DSIR weight view, oracle-checked like the rest
    "sql_dsir_by_lang" -> ((s, dir) => {
      registerOpsViews(s, dir)
      s.sql(dsirByLangSql)
    }),
    "sql_nb_by_lang" -> ((s, dir) => {
      registerOpsViews(s, dir)
      s.sql(nbByLangSql)
    }),
    "sql_temperature_by_source" -> ((s, dir) => {
      registerOpsViews(s, dir)
      s.sql(temperatureBySourceSql)
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "stock_stg_projection" -> O.query(Seq(O.RAW_DAILY),
      """SELECT T AS ticker, CAST(V AS BIGINT) AS volume,
        |       VW AS volume_weighted_avg, O AS open, C AS close, H AS high,
        |       L AS low, N AS num_transactions, DATE_ AS trade_date,
        |       INGESTED_AT AS ingested_at,
        |       CASE WHEN V > 0 THEN 1 ELSE 0 END AS has_volume,
        |       CASE WHEN O > 0 AND C > 0 AND H > 0 AND L > 0
        |                 AND C <= H AND C >= L AND L <= H
        |            THEN 1 ELSE 0 END AS is_valid_record
        |FROM raw_daily WHERE DATE_ IS NOT NULL""".stripMargin),
    "stock_int_daily" -> O.query(
      Seq(O.BARS, O.STAGED, O.CONSTITUENTS, O.INT_DAILY),
      "SELECT * FROM int_daily"),
    "stock_fct_momentum" -> O.query(O.stockChain, "SELECT * FROM fct"),
    "stock_breadth" -> O.query(O.stockChain ++ O.breadthChain,
      "SELECT * FROM breadth"),
    "stock_dim_securities" -> O.query(O.stockChain ++ O.dimChain,
      "SELECT * FROM dim"),
    "text_tokens" -> OO.TEXT_TOKENS,
    "text_subword_tokens" -> OO.TEXT_SUBWORD_TOKENS,
    "text_subword_ids" -> OO.TEXT_SUBWORD_IDS,
    "text_subword_tokens_trained" -> OO.TEXT_SUBWORD_TOKENS_TRAINED,
    "text_subword_ids_trained" -> OO.TEXT_SUBWORD_IDS_TRAINED,
    "text_langid" -> OO.TEXT_LANGID,
    "text_quality" -> OO.TEXT_QUALITY,
    "text_fingerprint" -> OO.TEXT_FINGERPRINT,
    "dedup_exact" -> OO.DEDUP_EXACT,
    "dedup_minhash_signature" -> OO.DEDUP_MINHASH_SIG,
    "dedup_minhash_pairs" -> OO.DEDUP_MINHASH_PAIRS,
    "dedup_ngram_jaccard" -> OO.DEDUP_NGRAM_JACCARD,
    "dedup_simhash" -> OO.DEDUP_SIMHASH,
    "dedup_winnow_fps" -> OO.DEDUP_WINNOW_FPS,
    "dedup_winnow_overlap" -> OO.DEDUP_WINNOW_OVERLAP,
    "dedup_winnow_docs" -> OO.DEDUP_WINNOW_DOCS,
    "dedup_simhash_pairs" -> OO.DEDUP_SIMHASH_PAIRS,
    "dedup_embedding_cosine" -> OO.DEDUP_EMB_COSINE,
    "dedup_chunks" -> OO.DEDUP_CHUNKS,
    "dedup_chunk_docs" -> OO.DEDUP_CHUNK_DOCS,
    "dedup_chunk_stats" -> OO.DEDUP_CHUNK_STATS,
    "dedup_boilerplate" -> OO.DEDUP_BOILERPLATE,
    "dedup_boilerplate_docs" -> OO.DEDUP_BOILERPLATE_DOCS,
    "dedup_boilerplate_stats" -> OO.DEDUP_BOILERPLATE_STATS,
    "curate_chunk_corpus" -> OO.CURATE_CHUNK_CORPUS,
    "sim_semdedup" -> OO.SIM_SEMDEDUP,
    "dedup_clusters" -> OO.DEDUP_CLUSTERS,
    "dedup_keeper_quality" -> OO.DEDUP_KEEPER_QUALITY,
    "sim_signatures" -> OO.SIM_SIGNATURES,
    "sim_brute_topk" -> OO.SIM_BRUTE_TOPK,
    "sim_lsh_topk" -> OO.SIM_LSH_TOPK,
    "sim_lsh_neardup" -> OO.SIM_LSH_NEARDUP,
    "sim_ivf_assign" -> OO.SIM_IVF_ASSIGN,
    "sim_ivf_topk" -> OO.SIM_IVF_TOPK,
    "sim_pq_codes" -> OO.SIM_PQ_CODES,
    "sim_pq_topk" -> OO.SIM_PQ_TOPK,
    "sim_ivfpq_codes" -> OO.SIM_IVFPQ_CODES,
    "sim_ivfpq_topk" -> OO.SIM_IVFPQ_TOPK,
    "sim_pq_recall_err" -> OO.SIM_PQ_RECALL_ERR,
    "events_hourly" -> OO.EVENTS_HOURLY,
    "events_hopping" -> OO.EVENTS_HOPPING,
    "events_sessions" -> OO.EVENTS_SESSIONS,
    "events_session_window" -> OO.EVENTS_SESSION_WINDOW,
    "events_funnel" -> OO.EVENTS_FUNNEL,
    "events_daily_topk" -> OO.EVENTS_DAILY_TOPK,
    "events_json" -> OO.EVENTS_JSON,
    "events_retention" -> OO.EVENTS_RETENTION,
    "events_daily_users_exact" -> OO.EVENTS_DAILY_USERS_EXACT,
    "events_value_quantiles_exact" -> OO.EVENTS_VALUE_QUANTILES_EXACT,
    "events_daily_users_approx_err" -> OO.EVENTS_APPROX_ERR_ZERO,
    "events_value_quantiles_approx_err" -> OO.EVENTS_APPROX_ERR_ZERO,
    "events_user_counts_exact" -> OO.EVENTS_USER_COUNTS_EXACT,
    "events_user_counts_cms_err" -> OO.EVENTS_APPROX_ERR_ZERO,
    "events_asof_attribution" -> OO.EVENTS_ASOF_ATTRIBUTION,
    "text_top_terms" -> OO.TEXT_TOP_TERMS,
    "text_bm25_topk" -> OO.TEXT_BM25_TOPK,
    "text_repetition" -> OO.TEXT_REPETITION,
    "text_pii" -> OO.TEXT_PII,
    "sample_assign" -> OO.SAMPLE_ASSIGN,
    "sample_corpus" -> OO.SAMPLE_CORPUS,
    "sample_summary" -> OO.SAMPLE_SUMMARY,
    "sample_target_assign" -> OO.SAMPLE_TARGET_ASSIGN(40L),
    "sample_source_cap" -> OO.SAMPLE_SOURCE_CAP,
    "sample_temperature_assign" -> OO.SAMPLE_TEMPERATURE_ASSIGN,
    "sample_temperature_summary" -> OO.SAMPLE_TEMPERATURE_SUMMARY,
    "curate_audit" -> OO.CURATE_AUDIT,
    "curate_corpus" -> OO.CURATE_CORPUS,
    "curate_funnel" -> OO.CURATE_FUNNEL,
    "curate_token_shards" -> OO.CURATE_TOKEN_SHARDS,
    "sql_curation_by_source" -> OO.SQL_CURATION_BY_SOURCE,
    "sql_dsir_by_lang" -> OO.SQL_DSIR_BY_LANG,
    "curate_funnel_lang" -> OO.CURATE_FUNNEL_LANG,
    "curate_dsir_weights" -> OO.CURATE_DSIR_WEIGHTS,
    "curate_dsir_select" -> OO.CURATE_DSIR_SELECT,
    "curate_dsir_summary" -> OO.CURATE_DSIR_SUMMARY,
    "split_assign" -> OO.SPLIT_ASSIGN,
    "split_summary" -> OO.SPLIT_SUMMARY,
    "split_token_shards" -> OO.SPLIT_TOKEN_SHARDS,
    "split_contamination" -> OO.SPLIT_CONTAMINATION,
    "split_semantic_decontam" -> OO.SPLIT_SEMANTIC_DECONTAM,
    "media_catalog" -> OO.MEDIA_CATALOG,
    "media_byte_stats" -> OO.MEDIA_BYTE_STATS,
    "media_decode_mappartitions" -> OO.MEDIA_BYTE_STATS,
    "media_frame_sample" -> OO.MEDIA_FRAME_SAMPLE,
    "media_resize" -> OO.MEDIA_RESIZE,
    // NB every aggregate below is CAST to BIGINT/DOUBLE: DuckDB's native
    // sum(BIGINT)=HUGEINT / sum(DECIMAL)=DECIMAL land in the driver's pandas
    // frame as float/Decimal objects and canonicalize differently than
    // Spark's long/double parquet columns even when values are identical
    // (round-1 hash misses on exactly these five queries).
    "rel_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(count(*) AS BIGINT) AS count_order,
        |       CAST(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS DOUBLE) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= DATE '1998-09-01'
        |GROUP BY 1, 2""".stripMargin,
    "rel_top_customers" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |         row_number() OVER (
        |           ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2))) DESC,
        |                    c_custkey) AS "rank"
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2, 3)
        |WHERE "rank" <= 10""".stripMargin,
    "rel_late_orders" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin,
    "rel_brand_volume" ->
      """SELECT p_brand, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |       CAST(count(*) AS BIGINT) AS n_lineitems
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,
    "stock_sector_pivot" -> O.query(
      Seq(O.BARS, O.STAGED, O.CONSTITUENTS, O.INT_DAILY),
      """SELECT CAST(date_trunc('month', trade_date) AS DATE) AS month,
        |       avg(CASE WHEN sector = 'AFRICA' THEN close END) AS avg_close_africa,
        |       avg(CASE WHEN sector = 'AMERICA' THEN close END) AS avg_close_america,
        |       avg(CASE WHEN sector = 'ASIA' THEN close END) AS avg_close_asia,
        |       avg(CASE WHEN sector = 'EUROPE' THEN close END) AS avg_close_europe,
        |       avg(CASE WHEN sector = 'MIDDLE EAST' THEN close END) AS avg_close_middle_east
        |FROM int_daily GROUP BY 1""".stripMargin),
    "stock_tickers_except" -> O.query(
      Seq(O.BARS, O.STAGED, O.CONSTITUENTS, O.INT_DAILY),
      """SELECT ticker FROM int_daily WHERE year(trade_date) = 1997
        |EXCEPT
        |SELECT ticker FROM int_daily WHERE year(trade_date) = 1998""".stripMargin),
    "stock_volume_deciles" -> O.query(
      Seq(O.BARS, O.STAGED, O.CONSTITUENTS, O.INT_DAILY),
      """SELECT ticker, CAST(total_volume AS BIGINT) AS total_volume,
        |       ntile(10) OVER (ORDER BY total_volume DESC, ticker) AS decile
        |FROM (SELECT ticker, sum(volume) AS total_volume
        |      FROM int_daily GROUP BY 1)""".stripMargin),
    "stock_volume_rollup" -> O.query(
      Seq(O.BARS, O.STAGED, O.CONSTITUENTS, O.INT_DAILY),
      """SELECT CAST(year(trade_date) AS INT) AS year,
        |       CAST(month(trade_date) AS INT) AS month,
        |       CAST(sum(volume) AS BIGINT) AS total_volume,
        |       CAST(count(*) AS BIGINT) AS n_bars
        |FROM int_daily
        |GROUP BY ROLLUP (1, 2)""".stripMargin),
    "stock_volume_cube" -> O.query(
      Seq(O.BARS, O.STAGED, O.CONSTITUENTS, O.INT_DAILY),
      """SELECT CAST(year(trade_date) AS INT) AS year,
        |       CAST(month(trade_date) AS INT) AS month,
        |       CAST(sum(volume) AS BIGINT) AS total_volume,
        |       CAST(count(*) AS BIGINT) AS n_bars
        |FROM int_daily
        |GROUP BY CUBE (1, 2)""".stripMargin),
    "api_screener" -> O.query(O.stockChain ++ O.dimChain,
      """SELECT * FROM dim
        |WHERE latest_rsi >= 20 AND latest_rsi <= 80 AND ticker ILIKE '%s1%'
        |ORDER BY return_1m DESC NULLS LAST LIMIT 5000""".stripMargin),
    "api_ticker_history" -> O.query(O.stockChain,
      """SELECT * FROM fct
        |WHERE ticker = 'S07'
        |  AND trade_date BETWEEN DATE '1995-01-01' AND DATE '1998-12-31'
        |ORDER BY trade_date DESC LIMIT 2000""".stripMargin),
    "api_breadth_trend" -> O.query(O.stockChain ++ O.breadthChain,
      """SELECT trade_date, ad_ratio, pct_market_over_sma50, market_rsi,
        |       CASE WHEN pct_market_over_sma50 > 0.8 THEN 'Strong Bullish'
        |            WHEN pct_market_over_sma50 < 0.2 THEN 'Strong Bearish'
        |            ELSE 'Neutral' END AS market_sentiment
        |FROM breadth ORDER BY trade_date DESC LIMIT 30""".stripMargin),
    "api_freshness" -> O.query(O.stockChain,
      """SELECT CAST(count(*) AS BIGINT) AS row_count,
        |       min(trade_date) AS oldest, max(trade_date) AS newest
        |FROM fct""".stripMargin),
    "readme_golden_crosses" -> O.query(O.stockChain,
      """SELECT ticker, company, sector FROM fct
        |WHERE trade_date = (SELECT max(trade_date) FROM fct)
        |  AND golden_cross = 1""".stripMargin),
    "readme_top_performers" -> O.query(O.stockChain ++ O.dimChain,
      """SELECT sector, ticker, latest_close, return_1m, performance_percentile
        |FROM dim WHERE performance_percentile > 0.9
        |ORDER BY sector, return_1m DESC""".stripMargin),
    "stock_wilder_rsi" -> {
      val a = s"CAST(${graft.ops.Portable.wilderAlpha} AS DOUBLE)"
      val wg =
        """wr_g AS (
          |  SELECT ticker, trade_date,
          |    CASE WHEN yesterday_close IS NOT NULL
          |         THEN greatest(close - yesterday_close, 0) END AS gain,
          |    CASE WHEN yesterday_close IS NOT NULL
          |         THEN greatest(yesterday_close - close, 0) END AS loss
          |  FROM int_daily)""".stripMargin
      val wagg =
        """wr_agg AS (
          |  SELECT ticker, max(trade_date) AS latest_trade_date,
          |    list(CAST(gain AS DOUBLE) ORDER BY trade_date)
          |      FILTER (WHERE gain IS NOT NULL) AS gl,
          |    list(CAST(loss AS DOUBLE) ORDER BY trade_date)
          |      FILTER (WHERE loss IS NOT NULL) AS ll
          |  FROM wr_g GROUP BY ticker)""".stripMargin
      O.query(Seq(O.BARS, O.STAGED, O.CONSTITUENTS, O.INT_DAILY, wg, wagg),
        s"""SELECT ticker, latest_trade_date, avg_gain_wilder, avg_loss_wilder,
           |  CAST(CASE WHEN avg_gain_wilder IS NULL OR avg_loss_wilder IS NULL THEN NULL
           |       WHEN avg_gain_wilder = 0 AND avg_loss_wilder = 0 THEN 50
           |       WHEN avg_loss_wilder = 0 THEN 100
           |       WHEN avg_gain_wilder = 0 THEN 0
           |       ELSE 100 - 100 / (1 + avg_gain_wilder / avg_loss_wilder)
           |       END AS DOUBLE) AS rsi_wilder
           |FROM (
           |  SELECT ticker, latest_trade_date,
           |    CASE WHEN len(gl) > 0
           |         THEN list_reduce(gl, (acc, x) -> $a * x + (1 - $a) * acc) END AS avg_gain_wilder,
           |    CASE WHEN len(ll) > 0
           |         THEN list_reduce(ll, (acc, x) -> $a * x + (1 - $a) * acc) END AS avg_loss_wilder
           |  FROM wr_agg)""".stripMargin)
    },
    "api_screener_stats" -> O.query(O.stockChain ++ O.dimChain,
      """SELECT median(return_1m) AS median_return_1m,
        |       avg(return_1m) AS mean_return_1m,
        |       median(latest_rsi) AS median_rsi,
        |       avg(latest_rel_vol) AS mean_rel_vol,
        |       CAST(count(*) AS BIGINT) AS n_securities
        |FROM dim""".stripMargin),
    "api_sector_picklist" -> O.query(O.stockChain ++ O.dimChain,
      "SELECT DISTINCT sector FROM dim ORDER BY sector"),
    "sql_sector_momentum" -> O.query(O.stockChain,
      """SELECT sector,
        |       CAST(count(DISTINCT ticker) AS BIGINT) AS n_tickers,
        |       CAST(sum(CAST(golden_cross AS BIGINT)) AS BIGINT) AS n_golden_crosses,
        |       CAST(sum(volume) AS BIGINT) AS total_volume,
        |       CAST(min(close) AS DOUBLE) AS min_close,
        |       CAST(max(close) AS DOUBLE) AS max_close
        |FROM fct
        |WHERE trade_date >= DATE '1998-01-01'
        |GROUP BY sector
        |ORDER BY sector""".stripMargin),
    "api_ticker_picklist" -> O.query(O.stockChain ++ O.dimChain,
      "SELECT DISTINCT ticker FROM dim ORDER BY ticker"),
    // the fct test battery, violation predicates mirrored one-for-one from
    // graft.quality.DataQuality.fctTests
    "quality_report" -> O.query(O.stockChain, Seq(
      ("fct_unique_ticker_date",
        """SELECT CAST(count(*) AS BIGINT) FROM (
          |  SELECT ticker, trade_date FROM fct
          |  GROUP BY 1, 2 HAVING count(*) > 1)""".stripMargin),
      ("fct_not_null_keys",
        """SELECT CAST(count(*) AS BIGINT) FROM fct
          |WHERE ticker IS NULL OR trade_date IS NULL OR close IS NULL""".stripMargin),
      ("fct_rsi_range_or_null",
        """SELECT CAST(count(*) AS BIGINT) FROM fct
          |WHERE rsi IS NOT NULL AND NOT (rsi >= 0 AND rsi <= 100)""".stripMargin),
      ("fct_rel_vol_positive",
        """SELECT CAST(count(*) AS BIGINT) FROM fct
          |WHERE rel_vol IS NOT NULL AND rel_vol <= 0""".stripMargin),
      ("fct_avg_gain_nonneg",
        """SELECT CAST(count(*) AS BIGINT) FROM fct
          |WHERE avg_gain_14 IS NOT NULL AND avg_gain_14 < 0""".stripMargin),
      ("fct_avg_loss_min",
        """SELECT CAST(count(*) AS BIGINT) FROM fct
          |WHERE avg_loss_14 IS NOT NULL AND avg_loss_14 < -1e-8""".stripMargin),
      ("fct_close_within_52week",
        """SELECT CAST(count(*) AS BIGINT) FROM fct
          |WHERE (high_52week IS NOT NULL AND close > high_52week)
          |   OR (low_52week IS NOT NULL AND close < low_52week)""".stripMargin),
      ("fct_golden_death_exclusive",
        """SELECT CAST(count(*) AS BIGINT) FROM fct
          |WHERE golden_cross = 1 AND death_cross = 1""".stripMargin),
      ("fct_sma_monotonic",
        """SELECT CAST(count(*) AS BIGINT) FROM fct
          |WHERE (sma_200 IS NOT NULL AND (sma_50 IS NULL OR sma_20 IS NULL))
          |   OR (sma_50 IS NOT NULL AND sma_20 IS NULL)""".stripMargin),
      ("fct_yesterday_close_is_lag",
        """SELECT CAST(count(*) AS BIGINT) FROM (
          |  SELECT yesterday_close,
          |         lag(close) OVER (PARTITION BY ticker ORDER BY trade_date) AS rl
          |  FROM fct)
          |WHERE yesterday_close IS NOT NULL AND rl IS NOT NULL
          |  AND yesterday_close <> rl""".stripMargin))
      .map { case (n, sql) =>
        s"SELECT '$n' AS test_name, ($sql) AS n_violations"
      }.mkString("\nUNION ALL\n")),
    "quality_nb_model" -> OO.QUALITY_NB_MODEL,
    "quality_nb_score" -> OO.QUALITY_NB_SCORE,
    "quality_nb_select" -> OO.QUALITY_NB_SELECT,
    "quality_nb_summary" -> OO.QUALITY_NB_SUMMARY,
    "curate_pack_bins" -> OO.CURATE_PACK_BINS,
    "curate_bin_payloads" -> OO.CURATE_BIN_PAYLOADS,
    "curate_bin_payloads_mm" -> OO.CURATE_BIN_PAYLOADS_MM,
    "curate_pack_bins_subword" -> OO.CURATE_PACK_BINS_SUBWORD,
    "curate_bin_manifest" -> OO.CURATE_BIN_MANIFEST,
    "curate_pack_stats" -> OO.CURATE_PACK_STATS,
    "curate_epoch_plan" -> OO.CURATE_EPOCH_PLAN,
    "curate_reader_feed" -> OO.CURATE_READER_FEED,
    "curate_reader_feed_mm" -> OO.CURATE_READER_FEED_MM,
    "curate_reader_feed_bytes" -> OO.CURATE_READER_FEED_BYTES,
    // the store-backed fetch serves the same bytes as the relation form —
    // same oracle, so a pruned-path divergence fails the hash
    "curate_reader_feed_bytes_store" -> OO.CURATE_READER_FEED_BYTES,
    "curate_reader_feed_bytes_window" -> OO.CURATE_READER_FEED_BYTES_WINDOW,
    "curate_era_feed" -> OO.CURATE_ERA_FEED,
    "curate_era_feed_mm" -> OO.CURATE_ERA_FEED_MM,
    "quality_lm_model" -> OO.QUALITY_LM_MODEL,
    "quality_lm_ppl" -> OO.QUALITY_LM_PPL,
    "quality_lm_select" -> OO.QUALITY_LM_SELECT,
    "quality_lm_summary" -> OO.QUALITY_LM_SUMMARY,
    "curate_learned_audit" -> OO.CURATE_LEARNED_AUDIT,
    "curate_learned_funnel" -> OO.CURATE_LEARNED_FUNNEL,
    "sql_nb_by_lang" -> OO.SQL_NB_BY_LANG,
    "sql_temperature_by_source" -> OO.SQL_TEMPERATURE_BY_SOURCE,
  )
}
