package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Packing
import graft.streaming.{IncrementalPacking, PackingMaintenance, StoreMaintenance}

/** Packing-store maintenance: the file-count monitor stays quiet under
  * threshold, compaction folds the bin relation and cursor snapshots
  * into one generation that carries the frozen `_shards`/`_budget`
  * markers, a fresh era continues packing EXACTLY where the carried
  * cursors ended (bins never move), and a second fresh era refuses
  * until the next compaction.
  */
class PackingMaintenanceSpec extends SparkSpec {

  /** Deterministic corpus: ~(7 + id%5) tokens per doc. */
  private def corpus(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("doc_id"),
      expr("""array_join(transform(sequence(0, CAST(6 + id % 5 AS INT)),
             |  i -> concat('tk', pmod(hash(id, i), 50))), ' ')"""
        .stripMargin.replaceAll("\n", " ")).as("text"))

  private def schema = corpus(0L, 1L).schema

  private def binTuples(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.select("doc_id", "shard", "n_tokens", "bin", "bin_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

  /** Drain two batches into a flat root and adopt it; returns
    * (genRoot, flatRoot, b1 ∪ b2).
    */
  private def adoptedStore(): (String, String, DataFrame) = {
    val landing = Files.createTempDirectory("pm-landing")
    val ckpt = Files.createTempDirectory("pm-ckpt").toString + "/c"
    val flat = Files.createTempDirectory("pm-flat").toString + "/p"
    val b1 = corpus(0L, 200L)
    landParquet(landing, "b1.parquet", b1)
    IncrementalPacking.run(spark, landing.toString, ckpt, flat, schema)
    val b2 = corpus(200L, 300L)
    landParquet(landing, "b2.parquet", b2)
    IncrementalPacking.run(spark, landing.toString, ckpt, flat, schema)
    val genRoot = Files.createTempDirectory("pm-gen").toString + "/p"
    PackingMaintenance.adopt(spark, genRoot, flat)
    (genRoot, flat, b1.unionAll(b2))
  }

  test("under threshold the monitor lists and does nothing") {
    val (genRoot, _, _) = adoptedStore()
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    val r = PackingMaintenance.maintain(spark, genRoot, maxFiles = 1000000L)
    assert(!r.compacted && r.generation.isEmpty)
    assert(r.files > 0 && r.bytes > 0)
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0,
      "a no-op maintain must not move the generation pointer")
  }

  test("compaction carries bins, cursors, and the frozen markers; a fresh era continues exactly") {
    val (genRoot, flat, packed) = adoptedStore()
    val flatFiles = StoreMaintenance.fileStats(
      spark, IncrementalPacking.binsPath(flat))._1
    val r = PackingMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    assert(r.compacted && r.generation.isDefined)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(r.generation.contains(cur))
    assert(StoreMaintenance.fileStats(
      spark, IncrementalPacking.binsPath(cur))._1 < flatFiles,
      "compaction did not shrink the bins store")
    // the frozen configuration crossed the generation boundary — without
    // it a fresh era would re-bootstrap on the LIVE constants
    assert(IncrementalPacking.storedShards(spark, cur)
      .contains(Packing.Shards))
    assert(IncrementalPacking.storedBudget(spark, cur)
      .contains(Packing.Budget))
    assert(IncrementalPacking.storedTokensSource(spark, cur)
      .contains(IncrementalPacking.tokensSourceId(
        Packing.WhitespaceTokensSql)),
      "the token-source marker must cross the generation boundary")
    // the carried cursor state equals the flat store's
    val before = IncrementalPacking.cursor(spark, flat, Long.MaxValue)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(IncrementalPacking.cursor(spark, cur, Long.MaxValue)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap == before)
    // a fresh era continues EXACTLY where the carry ended: the union of
    // carried + new bins equals the batch operator over the whole corpus
    val landing = Files.createTempDirectory("pm2-landing")
    val ckpt = Files.createTempDirectory("pm2-ckpt").toString + "/c"
    val b3 = corpus(300L, 400L)
    landParquet(landing, "b3.parquet", b3)
    val all = IncrementalPacking.run(
      spark, landing.toString, ckpt, cur, schema)
    assert(binTuples(all) == binTuples(Packing.packBins(
      packed.unionAll(b3))))
  }

  test("compaction folds payload fragments in batch order; a fresh era extends the feed") {
    import graft.ops.{Portable, TextAnalysis}
    val vocab = Portable.subwordVocab
    val src = TextAnalysis.subwordCountSqlWith(vocab)
    val landing = Files.createTempDirectory("pmp-landing")
    val ckpt = Files.createTempDirectory("pmp-ckpt").toString + "/c"
    val flat = Files.createTempDirectory("pmp-flat").toString + "/p"
    val b1 = corpus(0L, 150L)
    val b2 = corpus(150L, 260L)
    landParquet(landing, "b1.parquet", b1)
    IncrementalPacking.run(spark, landing.toString, ckpt, flat, schema,
      nTokensSql = src, payloadVocab = Some(vocab))
    landParquet(landing, "b2.parquet", b2)
    IncrementalPacking.run(spark, landing.toString, ckpt, flat, schema,
      nTokensSql = src, payloadVocab = Some(vocab))
    val genRoot = Files.createTempDirectory("pmp-gen").toString + "/p"
    PackingMaintenance.adopt(spark, genRoot, flat)
    def streams(root: String) =
      IncrementalPacking.payloadStreams(spark, root).collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin")) ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("bin_tokens"),
            r.getSeq[Long](r.fieldIndex("input_ids")).toList)).toMap
    val before = streams(flat)
    assert(before.nonEmpty)
    // adopt + compaction both pre-concatenate the fragments — the served
    // feed is bit-identical across every generation boundary
    val gen0 = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(streams(gen0) == before)
    PackingMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val gen1 = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(streams(gen1) == before)
    // the folded store holds ONE fragment per bin, all at batch=-1
    val folded = spark.read.parquet(IncrementalPacking.payloadsPath(gen1))
    assert(folded.filter(col("batch") =!= -1).count() == 0)
    assert(folded.groupBy("shard", "bin").count()
      .filter(col("count") > 1).count() == 0)
    // a fresh era appends after the fold and the feed still equals the
    // batch operator over the whole corpus — batch=-1 sorts first, so
    // the carried fragment keeps its place in every concatenation
    val landing2 = Files.createTempDirectory("pmp-landing2")
    val ckpt2 = Files.createTempDirectory("pmp-ckpt2").toString + "/c"
    val b3 = corpus(260L, 360L)
    landParquet(landing2, "b3.parquet", b3)
    IncrementalPacking.run(spark, landing2.toString, ckpt2, gen1, schema,
      nTokensSql = src, payloadVocab = Some(vocab))
    val whole = Packing.binPayloads(
      b1.unionAll(b2).unionAll(b3), Packing.Shards, vocab).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("bin_tokens"),
          r.getSeq[Long](r.fieldIndex("input_ids")).toList)).toMap
    assert(streams(gen1) == whole)
  }

  test("compaction carries the mm sidecar; a fresh era extends the interleaved feed") {
    import graft.ops.{Portable}
    val vocab = Portable.subwordVocab
    val carriage = Packing.MediaCarriageSql
    val src = Packing.mmTokensSqlWith(vocab, carriage)
    val landing = Files.createTempDirectory("pmm-landing")
    val ckpt = Files.createTempDirectory("pmm-ckpt").toString + "/c"
    val flat = Files.createTempDirectory("pmm-flat").toString + "/p"
    val b1 = corpus(0L, 120L)
    val b2 = corpus(120L, 200L)
    landParquet(landing, "b1.parquet", b1)
    IncrementalPacking.run(spark, landing.toString, ckpt, flat, schema,
      nTokensSql = src, payloadVocab = Some(vocab),
      mmCarriageSql = Some(carriage))
    landParquet(landing, "b2.parquet", b2)
    IncrementalPacking.run(spark, landing.toString, ckpt, flat, schema,
      nTokensSql = src, payloadVocab = Some(vocab),
      mmCarriageSql = Some(carriage))
    val genRoot = Files.createTempDirectory("pmm-gen").toString + "/p"
    PackingMaintenance.adopt(spark, genRoot, flat)
    def mm(root: String) =
      IncrementalPacking.payloadStreamsMm(spark, root).collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin")) ->
          (r.getAs[Long]("bin_tokens"),
            r.getSeq[Long](r.fieldIndex("input_ids")).toList,
            r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("media_slots"))
              .map(s => (s.getLong(0), s.getLong(1))).toList)).toMap
    val before = mm(flat)
    assert(before.exists(_._2._3.nonEmpty), "fixture must carry media")
    PackingMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val gen1 = StoreMaintenance.resolveCurrent(spark, genRoot)
    // the fold pre-concatenates ids AND merges the raw sidecar pairs —
    // the served interleaved feed is bit-identical across the boundary,
    // and the mm mode marker crossed with the other frozen config
    assert(mm(gen1) == before)
    assert(IncrementalPacking.storedPayloadsMode(spark, gen1).contains(
      IncrementalPacking.payloadsModeMm(carriage, Packing.MediaRefSql)))
    // a fresh era extends the feed; slots of the boundary bin stay
    // stream-relative because the folded fragment kept its base offset
    val landing2 = Files.createTempDirectory("pmm-landing2")
    val ckpt2 = Files.createTempDirectory("pmm-ckpt2").toString + "/c"
    val b3 = corpus(200L, 260L)
    landParquet(landing2, "b3.parquet", b3)
    IncrementalPacking.run(spark, landing2.toString, ckpt2, gen1, schema,
      nTokensSql = src, payloadVocab = Some(vocab),
      mmCarriageSql = Some(carriage))
    val whole = Packing.binPayloadsMm(
      b1.unionAll(b2).unionAll(b3), Packing.Shards, vocab).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin")) ->
        (r.getAs[Long]("bin_tokens"),
          r.getSeq[Long](r.fieldIndex("input_ids")).toList,
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("media_slots"))
            .map(s => (s.getLong(0), s.getLong(1))).toList)).toMap
    assert(mm(gen1) == whole)
  }

  test("a second fresh era refuses until the next compaction") {
    val (genRoot, _, packed) = adoptedStore()
    PackingMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing = Files.createTempDirectory("pm3-landing")
    val ckpt = Files.createTempDirectory("pm3-ckpt").toString + "/c"
    landParquet(landing, "b1.parquet", corpus(400L, 420L))
    IncrementalPacking.run(spark, landing.toString, ckpt, cur, schema)
    val ckpt2 = Files.createTempDirectory("pm4-ckpt").toString + "/c"
    val err = intercept[IllegalArgumentException] {
      IncrementalPacking.run(spark, landing.toString, ckpt2, cur, schema)
    }
    assert(err.getMessage.contains("compact first"), err.getMessage)
    // …and compacting again re-opens the root for one more fresh era
    PackingMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing2 = Files.createTempDirectory("pm5-landing")
    val b5 = corpus(420L, 440L)
    landParquet(landing2, "b1.parquet", b5)
    val all = IncrementalPacking.run(
      spark, landing2.toString, ckpt2, cur2, schema)
    assert(binTuples(all) == binTuples(Packing.packBins(
      packed.unionAll(corpus(400L, 420L)).unionAll(b5))))
  }
}
