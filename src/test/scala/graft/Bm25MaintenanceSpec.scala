package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Retrieval
import graft.streaming.{Bm25Maintenance, IncrementalBm25, StoreMaintenance}

/** BM25 index maintenance: the file-count monitor stays quiet under
  * threshold, compaction folds a multi-batch store into one generation
  * whose search is bit-identical to the batch operator, and a stream
  * re-enters the compacted generation without re-indexing carried
  * documents.
  */
class Bm25MaintenanceSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def docSchema = docs.schema

  private def topk(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "doc_id", "n_hit_terms", "score_micro", "rank")
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getInt(4))).toSet

  /** Drain the corpus in two batches and adopt the flat root into the
    * generation layout; returns (genRoot, flatRoot).
    */
  private def adoptedStore(): (String, String) = {
    val landing = Files.createTempDirectory("bm25m-landing")
    val ckpt = Files.createTempDirectory("bm25m-ckpt").toString + "/c"
    val flat = Files.createTempDirectory("bm25m-flat").toString + "/idx"
    landParquet(landing, "b1.parquet", docs.filter(col("doc_id") % 2 === 0))
    IncrementalBm25.run(spark, landing.toString, ckpt, flat, docSchema)
    landParquet(landing, "b2.parquet", docs.filter(col("doc_id") % 2 === 1))
    IncrementalBm25.run(spark, landing.toString, ckpt, flat, docSchema)
    val genRoot = Files.createTempDirectory("bm25m-gen").toString + "/bm25"
    Bm25Maintenance.adopt(spark, genRoot, flat)
    (genRoot, flat)
  }

  test("under threshold the monitor lists and does nothing") {
    val (genRoot, _) = adoptedStore()
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    val r = Bm25Maintenance.maintain(spark, genRoot, maxFiles = 1000000L)
    assert(!r.compacted && r.generation.isEmpty)
    assert(r.files > 0 && r.bytes > 0)
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0,
      "a no-op maintain must not move the generation pointer")
  }

  test("compaction folds the store and search stays bit-identical") {
    val (genRoot, flat) = adoptedStore()
    val want = topk(Retrieval.bm25TopK(docs))
    assert(want.nonEmpty, "fixture must rank something")
    val flatFiles = StoreMaintenance.fileStats(
      spark, IncrementalBm25.postingsPath(flat))._1
    // maxFiles = 0: every real store trips the monitor
    val r = Bm25Maintenance.maintain(spark, genRoot, maxFiles = 0L)
    assert(r.compacted && r.generation.isDefined)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(r.generation.contains(cur))
    assert(topk(IncrementalBm25.searchStore(spark, cur)) == want)
    // physically smaller: the generation carries the multi-batch flat
    // store's rows in fewer files (adopt already folded once; compaction
    // of an already-compact generation may only hold the line)
    val after = StoreMaintenance.fileStats(
      spark, IncrementalBm25.postingsPath(cur))
    assert(after._1 < flatFiles,
      s"compaction did not shrink the store: $flatFiles -> ${after._1}")
    assert(after._1 <= r.files)
    // the additive stats deltas folded to their single-row sum
    val stats = spark.read.parquet(IncrementalBm25.statsPath(cur))
    assert(stats.count() == 1)
    assert(IncrementalBm25.readStats(spark, cur).head().getLong(0)
      == docs.count())
    // a grown-store re-size: compacting to MORE term buckets rewrites the
    // marker and leaves search bit-identical
    Bm25Maintenance.compact(spark, genRoot, buckets = Map("postings" -> 96))
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(graft.streaming.IncrementalAnnIndex.bucketCount(
      spark, IncrementalBm25.postingsPath(cur2)).contains(96))
    assert(topk(IncrementalBm25.searchStore(spark, cur2)) == want)
    // …and maintain() re-sizes AUTOMATICALLY from the measured bytes: a
    // tiny per-bucket target forces growth past the carried 96
    val bytes = StoreMaintenance.fileStats(
      spark, IncrementalBm25.postingsPath(cur2))._2
    val r3 = Bm25Maintenance.maintain(
      spark, genRoot, maxFiles = 0L, targetBucketBytes = 1024L)
    assert(r3.compacted)
    val cur3 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val grown = graft.streaming.IncrementalAnnIndex.bucketCount(
      spark, IncrementalBm25.postingsPath(cur3)).get
    assert(grown == math.max(96, math.ceil(bytes / 1024.0).toInt), grown)
    assert(grown > 96, "fixture too small to exercise growth")
    assert(topk(IncrementalBm25.searchStore(spark, cur3)) == want)
  }

  test("a stream re-enters the compacted generation under a fresh checkpoint") {
    val (genRoot, _) = adoptedStore()
    Bm25Maintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    // the whole corpus re-crawls into the carried index: every doc_id is
    // already decided at batch=-1, so nothing may re-index…
    val landing = Files.createTempDirectory("bm25m2-landing")
    val ckpt = Files.createTempDirectory("bm25m2-ckpt").toString + "/c"
    landParquet(landing, "b1.parquet", docs)
    IncrementalBm25.run(spark, landing.toString, ckpt, cur, docSchema)
    assert(IncrementalBm25.readStats(spark, cur).head().getLong(0)
      == docs.count(), "re-crawl of carried documents double-indexed")
    // …while genuinely new documents append beside the carried history
    val fresh = docs.orderBy("doc_id").limit(20)
      .withColumn("doc_id", col("doc_id") + lit(5000000L))
    landParquet(landing, "b2.parquet", fresh)
    IncrementalBm25.run(spark, landing.toString, ckpt, cur, docSchema)
    assert(IncrementalBm25.readStats(spark, cur).head().getLong(0)
      == docs.count() + 20)
    assert(topk(IncrementalBm25.searchStore(spark, cur))
      == topk(Retrieval.bm25TopK(docs.unionByName(fresh))))
    // a SECOND fresh era over the same root must refuse: its batch ids
    // restart at 0 and would overwrite this era's partitions
    val ckpt2 = Files.createTempDirectory("bm25m3-ckpt").toString + "/c"
    val err = intercept[IllegalArgumentException] {
      IncrementalBm25.run(spark, landing.toString, ckpt2, cur, docSchema)
    }
    assert(err.getMessage.contains("compact first"), err.getMessage)
  }
}
