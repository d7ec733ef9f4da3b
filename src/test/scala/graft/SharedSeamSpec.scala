package graft

import org.apache.spark.sql.DataFrame

import graft.ops.{Dedup, Dsir, HashSplit, LmPerplexity, Multimodal, Packing,
  Pq, QualityClassifier, Similarity, TextAnalysis}
import graft.testdata.{TestFixtures => T}

/** The r15 optimization round routed battery rows through share-one-build
  * seams (`*With` frozen-model scoring, `*From` relation forms) so shared
  * relations materialize once per run instead of once per consumer. These
  * pins prove each seam is the SAME function as its one-call form — row
  * sets identical — so the rewiring cannot have changed what any battery
  * row computes.
  */
class SharedSeamSpec extends SparkSpec {

  private def docs = T.table(spark, sf, "documents")
  private def emb = T.table(spark, sf, "embeddings")

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    val la = a.collect().map(_.toString).sorted.toSeq
    val lb = b.collect().map(_.toString).sorted.toSeq
    assert(la == lb)
  }

  test("winnowKeepDocsFrom over winnowOverlapPairs == winnowKeepDocs") {
    assertSame(
      Dedup.winnowKeepDocsFrom(docs, Dedup.winnowOverlapPairs(docs)),
      Dedup.winnowKeepDocs(docs))
  }

  test("DSIR *With over trainedRatioTable == one-call forms") {
    val lr = Dsir.trainedRatioTable(docs)
    assertSame(Dsir.weightsWith(docs, lr), Dsir.weights(docs))
    assertSame(Dsir.selectWith(docs, lr), Dsir.select(docs))
    assertSame(Dsir.summaryWith(docs, lr), Dsir.summary(docs))
  }

  test("NB *With over modelTable/priorRow == one-call forms") {
    val m = QualityClassifier.modelTable(docs)
    val p = QualityClassifier.priorRow(docs)
    assertSame(QualityClassifier.selectWith(docs, m, p),
      QualityClassifier.select(docs))
    assertSame(QualityClassifier.summaryWith(docs, m, p),
      QualityClassifier.summary(docs))
  }

  test("LM *With over modelOf/contextsOf == one-call forms") {
    val counts = LmPerplexity.seedBigramCounts(docs)
    val m = LmPerplexity.modelOf(counts)
    val c = LmPerplexity.contextsOf(counts)
    assertSame(LmPerplexity.selectWith(docs, m, c), LmPerplexity.select(docs))
    assertSame(LmPerplexity.summaryWith(docs, m, c),
      LmPerplexity.summary(docs))
  }

  test("FromScores/FromWeights over memoized score relations == one-call forms") {
    val lr = Dsir.trainedRatioTable(docs)
    val w = Dsir.weightsWith(docs, lr)
    assertSame(Dsir.selectFromWeights(w), Dsir.select(docs))
    assertSame(Dsir.summaryFromWeights(w), Dsir.summary(docs))
    val nbScored = QualityClassifier.scoreWith(docs,
      QualityClassifier.modelTable(docs), QualityClassifier.priorRow(docs))
    assertSame(QualityClassifier.selectFromScores(nbScored),
      QualityClassifier.select(docs))
    assertSame(QualityClassifier.summaryFromScores(nbScored, docs),
      QualityClassifier.summary(docs))
    val counts = LmPerplexity.seedBigramCounts(docs)
    val lmScored = LmPerplexity.scoreWith(docs,
      LmPerplexity.modelOf(counts), LmPerplexity.contextsOf(counts))
    assertSame(LmPerplexity.selectFromScores(lmScored),
      LmPerplexity.select(docs))
    assertSame(LmPerplexity.summaryFromScores(lmScored, docs),
      LmPerplexity.summary(docs))
  }

  test("shingle From forms over the shared relation == one-call forms") {
    val ds = Dedup.docShingles(docs).persist()
    try {
      assertSame(Dedup.signaturesFrom(docs, ds), Dedup.minhashSignatures(docs))
      assertSame(Dedup.minhashPairsFrom(docs, ds), Dedup.minhashPairs(docs))
      assertSame(Dedup.ngramJaccardPairsFrom(ds), Dedup.ngramJaccardPairs(docs))
      assertSame(HashSplit.contaminatedTrainDocsFrom(docs, ds),
        HashSplit.contaminatedTrainDocs(docs))
    } finally ds.unpersist(blocking = false)
  }

  test("chunk From forms over the shared chunkMeta relation == one-call forms") {
    val meta = Dedup.chunkMeta(docs).persist()
    try {
      assertSame(Dedup.chunkDedupFrom(meta), Dedup.chunkDedup(docs))
      assertSame(Dedup.chunkDedupDocsFrom(docs, meta), Dedup.chunkDedupDocs(docs))
      assertSame(Dedup.chunkDedupStatsFrom(meta), Dedup.chunkDedupStats(docs))
      assertSame(Dedup.boilerplateChunksFrom(meta), Dedup.boilerplateChunks(docs))
      assertSame(Dedup.boilerplateDocsFrom(docs, meta), Dedup.boilerplateDocs(docs))
      assertSame(Dedup.boilerplateStatsFrom(meta), Dedup.boilerplateStats(docs))
    } finally meta.unpersist(blocking = false)
  }

  test("simhashPairsFrom over the shared signature relation == one-call form") {
    val sig = Dedup.simhash(docs).persist()
    try assertSame(Dedup.simhashPairsFrom(sig), Dedup.simhashPairs(docs))
    finally sig.unpersist(blocking = false)
  }

  test("IVF From forms over the shared capped assignment == one-call forms") {
    val leaders = Similarity.ivfLeaders(emb)
    val assign = Similarity.ivfCappedAssignWith(emb, leaders).persist()
    try {
      val cand = Similarity.ivfCandidatesWith(assign, emb, leaders).persist()
      try {
        assertSame(Similarity.ivfTopKFrom(cand, emb), Similarity.ivfTopK(emb))
        assertSame(Pq.ivfpqTopKFrom(cand, assign, emb), Pq.ivfpqTopK(emb))
        assertSame(Pq.ivfpqCodesFrom(assign, emb), Pq.ivfpqCodes(emb))
      } finally cand.unpersist(blocking = false)
    } finally assign.unpersist(blocking = false)
  }

  test("LSH From forms over the shared band relation == one-call forms") {
    val bands = Similarity.lshBandRelation(emb)
    try {
      assertSame(Similarity.lshTopKFrom(bands, emb), Similarity.lshTopK(emb))
      assertSame(Similarity.lshNearDupFrom(bands, emb),
        Similarity.lshNearDup(emb))
    } finally bands.unpersist(blocking = false)
  }

  test("packing From forms over shared bins/payloads == one-call forms") {
    val binsWs = Packing.packBins(docs)
    val binsSub = Packing.packBins(docs,
      nTokensSql = TextAnalysis.subwordCountSql)
    assertSame(Packing.statsFrom(binsWs), Packing.stats(docs))
    assertSame(Packing.epochPlanFrom(binsWs), Packing.epochPlan(docs))
    assertSame(Packing.manifestFromBins(binsSub),
      Packing.binManifest(docs, nTokensSql = TextAnalysis.subwordCountSql))
    assertSame(Packing.binPayloadsCheckedFrom(Packing.binPayloads(docs)),
      Packing.binPayloadsChecked(docs))
    assertSame(Packing.binPayloadsMmCheckedFrom(Packing.binPayloadsMm(docs)),
      Packing.binPayloadsMmChecked(docs))
    assertSame(
      Packing.readerFeedCheckedFrom(
        Packing.readerFeedFrom(Packing.binPayloads(docs))),
      Packing.readerFeedChecked(docs))
  }

  test("per-family score relations are exact projections of the one-scan ensemble") {
    // the r16 wiring scores the corpus ONCE (learnedAuditWith) and derives
    // nb_scores / lm_scores / dsir_weights as projections — these pins
    // prove each projection row-identical to its family's own scoreWith/
    // weightsWith pass (integer sums are order-independent)
    val m = QualityClassifier.modelTable(docs)
    val p = QualityClassifier.priorRow(docs)
    val counts = LmPerplexity.seedBigramCounts(docs)
    val lmM = LmPerplexity.modelOf(counts)
    val lmC = LmPerplexity.contextsOf(counts)
    val lr = Dsir.trainedRatioTable(docs)
    val scored = graft.ops.Curation.learnedAuditWith(docs, m, p, lmM, lmC, lr)
    assertSame(
      scored.select("doc_id", "n_tokens", "like_micro", "score_micro"),
      QualityClassifier.scoreWith(docs, m, p))
    assertSame(
      scored.select("doc_id", "n_bigrams", "logprob_micro"),
      LmPerplexity.scoreWith(docs, lmM, lmC))
    assertSame(
      scored.select("doc_id", "n_grams", "logweight_micro"),
      Dsir.weightsWith(docs, lr))
  }

  test("media From forms over the shared media relation == one-call forms") {
    val m = Multimodal.media(docs)
    assertSame(Multimodal.catalogFrom(m), Multimodal.catalog(docs))
    assertSame(Multimodal.byteStatsFrom(m), Multimodal.byteStats(docs))
    assertSame(Multimodal.frameSampleFrom(m), Multimodal.frameSample(docs))
    assertSame(Multimodal.resizeFrom(m), Multimodal.resize(docs))
    assertSame(Multimodal.decodeFeaturesFrom(spark, m).toDF(),
      Multimodal.decodeFeatures(spark, docs).toDF())
  }

  test("a memoFlat relation is held once: its checkpoint is not cached again") {
    // the eager localCheckpoint already holds the search result's blocks;
    // a cache over it would hold the same rows a second time
    val held = SparkEntry.queries("sim_brute_topk")(spark, sf)
    val plan = held.select("*").queryExecution.optimizedPlan
    assert(plan.find(_.isInstanceOf[
      org.apache.spark.sql.execution.columnar.InMemoryRelation]).isEmpty,
      plan.treeString)
  }
}
