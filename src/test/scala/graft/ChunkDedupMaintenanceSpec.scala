package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Dedup
import graft.streaming.{ChunkDedupMaintenance, IncrementalAnnIndex, IncrementalChunkDedup, StoreMaintenance}

/** Chunk-dedup-store maintenance: the file-count monitor stays quiet
  * under threshold, compaction folds a multi-batch family root into one
  * generation whose chunk store still drops carried chunks and whose
  * doc-id sidecar still blocks carried re-crawls, bucket counts re-size
  * from measured bytes, and a second fresh era refuses until the next
  * compaction.
  */
class ChunkDedupMaintenanceSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private val boiler = "b0 b1 b2 b3 b4 b5 b6 b7" // one exact 8-token chunk

  private def uniqText(seed: Long): String =
    (0 until 8).map(j => s"u${seed}x$j").mkString(" ")

  private def row(id: Long, text: String): Row = Row(id, text)

  private def land(landing: Path, name: String, rows: Seq[Row]): Unit =
    landParquet(landing, name, spark.createDataFrame(rows.asJava, docSchema))

  /** Drain two batches (doc 1 carries the boiler chunk; docs 2–8 and
    * 9–16 unique) into a flat family root and adopt it into the
    * generation layout; returns (genRoot, flatRoot).
    */
  private def adoptedStore(): (String, String) = {
    val landing = Files.createTempDirectory("cdm-landing")
    val ckpt = Files.createTempDirectory("cdm-ckpt").toString + "/c"
    val flat = Files.createTempDirectory("cdm-flat").toString + "/ckd"
    land(landing, "b1.parquet",
      row(1L, s"$boiler ${uniqText(1)}") +:
        (2L to 8L).map(i => row(i, uniqText(i))))
    IncrementalChunkDedup.runRoot(spark, landing.toString, ckpt, flat, docSchema)
    land(landing, "b2.parquet", (9L to 16L).map(i => row(i, uniqText(i))))
    IncrementalChunkDedup.runRoot(spark, landing.toString, ckpt, flat, docSchema)
    val genRoot = Files.createTempDirectory("cdm-gen").toString + "/ckd"
    ChunkDedupMaintenance.adopt(spark, genRoot, flat)
    (genRoot, flat)
  }

  test("under threshold the monitor lists and does nothing") {
    val (genRoot, _) = adoptedStore()
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    val r = ChunkDedupMaintenance.maintain(spark, genRoot, maxFiles = 1000000L)
    assert(!r.compacted && r.generation.isEmpty)
    assert(r.files > 0 && r.bytes > 0)
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0,
      "a no-op maintain must not move the generation pointer")
  }

  test("compaction folds the family and a fresh era dedups against the carry") {
    val (genRoot, flat) = adoptedStore()
    val flatFiles = StoreMaintenance.fileStats(
      spark, IncrementalChunkDedup.chunkPathOf(flat))._1
    val r = ChunkDedupMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    assert(r.compacted && r.generation.isDefined)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(r.generation.contains(cur))
    val chunkPath = IncrementalChunkDedup.chunkPathOf(cur)
    assert(StoreMaintenance.fileStats(spark, chunkPath)._1 < flatFiles,
      "compaction did not shrink the chunk store")
    // carried history intact: 17 distinct chunks (16 uniq + boiler),
    // 16 clean docs, 2 yield rows
    assert(spark.read.parquet(chunkPath).count() == 17L)
    assert(spark.read.parquet(
      IncrementalChunkDedup.corpusPathOf(cur)).count() == 16L)
    assert(spark.read.parquet(
      IncrementalChunkDedup.metricsPathOf(cur)).count() == 2L)
    // a fresh era drains BESIDE the carried history: a doc repeating the
    // carried boiler chunk keeps only its unique tail, a carried doc_id
    // re-crawl drops whole, a novel doc admits
    val landing = Files.createTempDirectory("cdm2-landing")
    val ckpt = Files.createTempDirectory("cdm2-ckpt").toString + "/c"
    land(landing, "b1.parquet", Seq(
      row(20L, s"$boiler ${uniqText(20)}"), row(2L, uniqText(99)),
      row(50L, uniqText(50))))
    val out = IncrementalChunkDedup.runRoot(
      spark, landing.toString, ckpt, cur, docSchema)
    assert(out.filter(col("doc_id") === 20L).head()
      .getAs[String]("clean_text") == uniqText(20),
      "carried chunk store must still drop the stored boiler chunk")
    assert(out.filter(col("doc_id") === 2L).count() == 1L &&
      out.filter(col("doc_id") === 2L).head()
        .getAs[String]("clean_text") == uniqText(2),
      "carried id sidecar must block the re-crawl (original decision kept)")
    assert(out.filter(col("doc_id") === 50L).head()
      .getAs[String]("clean_text") == uniqText(50))
  }

  test("a triggered compaction re-sizes bucket counts from measured bytes") {
    val (genRoot, _) = adoptedStore()
    ChunkDedupMaintenance.compact(
      spark, genRoot, buckets = Map("chunks" -> 8, "ids" -> 8))
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val chunkPath = IncrementalChunkDedup.chunkPathOf(cur)
    assert(IncrementalAnnIndex.bucketCount(spark, chunkPath).contains(8))
    val bytes = StoreMaintenance.fileStats(spark, chunkPath)._2
    val r = ChunkDedupMaintenance.maintain(
      spark, genRoot, maxFiles = 0L, targetBucketBytes = 64L)
    assert(r.compacted)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val chunkPath2 = IncrementalChunkDedup.chunkPathOf(cur2)
    val grown = IncrementalAnnIndex.bucketCount(spark, chunkPath2).get
    assert(grown == math.max(8, math.ceil(bytes / 64.0).toInt), grown)
    assert(grown > 8, "fixture too small to exercise growth")
    // the re-bucketed store still answers a membership probe: the
    // carried boiler chunk is found under the new count (the probe is
    // bucket-pruned, so filter to the probed hash — neighbors sharing
    // the bucket legitimately ride along)
    val probe = Dedup.chunkRows(spark.createDataFrame(
      Seq(row(100L, boiler)).asJava, docSchema)).select("chunk_hash")
    val bh = probe.head().getLong(0)
    val prior = IncrementalChunkDedup.priorChunkHashes(
      spark, chunkPath2, probe, excludeBatchId = -999L)
    assert(prior.filter(col("chunk_hash") === bh).count() == 1L)
  }

  test("a second fresh era refuses until the next compaction") {
    val (genRoot, _) = adoptedStore()
    ChunkDedupMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing = Files.createTempDirectory("cdm3-landing")
    val ckpt = Files.createTempDirectory("cdm3-ckpt").toString + "/c"
    land(landing, "b1.parquet", Seq(row(60L, uniqText(60))))
    IncrementalChunkDedup.runRoot(spark, landing.toString, ckpt, cur, docSchema)
    val ckpt2 = Files.createTempDirectory("cdm4-ckpt").toString + "/c"
    val err = intercept[IllegalArgumentException] {
      IncrementalChunkDedup.runRoot(
        spark, landing.toString, ckpt2, cur, docSchema)
    }
    assert(err.getMessage.contains("compact first"), err.getMessage)
    // …and compacting again re-opens the root for one more fresh era
    ChunkDedupMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing2 = Files.createTempDirectory("cdm5-landing")
    land(landing2, "b1.parquet", Seq(row(61L, uniqText(61))))
    val out = IncrementalChunkDedup.runRoot(
      spark, landing2.toString, ckpt2, cur2, docSchema)
    assert(spark.read.parquet(IncrementalChunkDedup.corpusPathOf(cur2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
      == ((1L to 16L) ++ Seq(60L, 61L)).toSet)
  }
}
