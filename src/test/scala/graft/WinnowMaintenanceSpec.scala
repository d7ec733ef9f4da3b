package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.streaming.{IncrementalAnnIndex, IncrementalWinnow, StoreMaintenance, WinnowMaintenance}

/** Winnow-store maintenance: the file-count monitor stays quiet under
  * threshold, compaction folds a multi-batch store into one generation
  * that keeps catching carried containment duplicates and blocking
  * carried re-crawls, bucket counts re-size from measured bytes, and a
  * second fresh era refuses until the next compaction.
  */
class WinnowMaintenanceSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def uniqText(seed: Long, n: Int = 30): String =
    (0 until n).map(j => s"w${seed}q$j").mkString(" ")

  private def row(id: Long, text: String): Row = Row(id, text)

  private def land(landing: Path, name: String, rows: Seq[Row]): Unit =
    landParquet(landing, name, spark.createDataFrame(rows.asJava, docSchema))

  private val long1 = uniqText(1)

  /** ONE shared flat root (docs 1–8 then 9–16, two drained batches —
    * wide enough that both batches populate overlapping fingerprint
    * buckets, so the flat store holds ~2× the files one folded
    * generation does), built once per suite — `adopt` only READS the
    * flat root, so every test adopts this same store into its own fresh
    * generation root: isolation preserved at the generation layer, the
    * two streaming drains paid once instead of once per test (the
    * StockPipelineSpec suite-time treatment).
    */
  private lazy val flatStore: String = {
    val landing = Files.createTempDirectory("wm-landing")
    val ckpt = Files.createTempDirectory("wm-ckpt").toString + "/c"
    val flat = Files.createTempDirectory("wm-flat").toString + "/winnow"
    land(landing, "b1.parquet",
      row(1L, long1) +: (2L to 8L).map(i => row(i, uniqText(i))))
    IncrementalWinnow.run(spark, landing.toString, ckpt, flat, docSchema)
    land(landing, "b2.parquet", (9L to 16L).map(i => row(i, uniqText(i))))
    IncrementalWinnow.run(spark, landing.toString, ckpt, flat, docSchema)
    flat
  }

  /** Adopt the shared flat store into a FRESH generation root. */
  private def adoptedStore(): (String, String) = {
    val genRoot = Files.createTempDirectory("wm-gen").toString + "/winnow"
    WinnowMaintenance.adopt(spark, genRoot, flatStore)
    (genRoot, flatStore)
  }

  test("under threshold the monitor lists and does nothing") {
    val (genRoot, _) = adoptedStore()
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    val r = WinnowMaintenance.maintain(spark, genRoot, maxFiles = 1000000L)
    assert(!r.compacted && r.generation.isEmpty)
    assert(r.files > 0 && r.bytes > 0)
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0,
      "a no-op maintain must not move the generation pointer")
  }

  test("compaction folds the stores and a fresh era decides against the carry") {
    val (genRoot, flat) = adoptedStore()
    val flatFiles = StoreMaintenance.fileStats(
      spark, IncrementalWinnow.fpPath(flat))._1
    // maxFiles = 0: every real store trips the monitor
    val r = WinnowMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    assert(r.compacted && r.generation.isDefined)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(r.generation.contains(cur))
    val after = StoreMaintenance.fileStats(
      spark, IncrementalWinnow.fpPath(cur))
    assert(after._1 < flatFiles,
      s"compaction did not shrink the store: $flatFiles -> ${after._1}")
    // carried history intact: 16 decisions, 16 admitted docs
    assert(spark.read.parquet(IncrementalWinnow.ledgerPath(cur)).count() == 16L)
    // a fresh era drains BESIDE the carried history: a span pasted from a
    // carried doc drops (containment vs the carried fingerprints), a
    // carried doc_id re-crawl is not re-decided, a fresh doc admits
    val landing = Files.createTempDirectory("wm2-landing")
    val ckpt = Files.createTempDirectory("wm2-ckpt").toString + "/c"
    val pasted = long1.split(" ").slice(10, 20).mkString(" ")
    land(landing, "b1.parquet", Seq(
      row(20L, pasted), row(2L, uniqText(2)), row(50L, uniqText(50))))
    val out = IncrementalWinnow.run(spark, landing.toString, ckpt, cur, docSchema)
    val perId = out.groupBy("doc_id").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(perId == ((1L to 16L) :+ 50L).map(_ -> 1L).toMap, s"got $perId")
    val ledger = spark.read.parquet(IncrementalWinnow.ledgerPath(cur))
    val dup = ledger.filter(col("doc_id") === 20L).head()
    assert(!dup.getAs[Boolean]("kept") && dup.getAs[Long]("dup_of") == 1L)
    assert(ledger.filter(col("doc_id") === 2L).count() == 1L,
      "carried re-crawl guard must keep the single original decision")
  }

  test("a triggered compaction re-sizes bucket counts from measured bytes") {
    val (genRoot, _) = adoptedStore()
    // an explicit re-size down to 8 fingerprint buckets…
    WinnowMaintenance.compact(spark, genRoot, buckets = Map("fps" -> 8))
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(IncrementalAnnIndex.bucketCount(
      spark, IncrementalWinnow.fpPath(cur)).contains(8))
    // …then maintain() with a tiny per-bucket target grows PAST it
    val bytes = StoreMaintenance.fileStats(
      spark, IncrementalWinnow.fpPath(cur))._2
    val r = WinnowMaintenance.maintain(
      spark, genRoot, maxFiles = 0L, targetBucketBytes = 64L)
    assert(r.compacted)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val grown = IncrementalAnnIndex.bucketCount(
      spark, IncrementalWinnow.fpPath(cur2)).get
    assert(grown == math.max(8, math.ceil(bytes / 64.0).toInt), grown)
    assert(grown > 8, "fixture too small to exercise growth")
    // the re-bucketed store still answers a containment probe: the
    // carried copy of doc 1's fingerprints are found under the new count
    val probe = IncrementalWinnow.batchFingerprints(spark.createDataFrame(
      Seq(row(100L, long1)).asJava, docSchema))
    val rel = IncrementalWinnow.priorFingerprints(
      spark, cur2, probe.select("h"), excludeBatchId = -999L)
    assert(rel.filter(col("doc_id") === 1L).count() >= 1L)
    probe.unpersist(blocking = false)
  }

  test("a second fresh era refuses until the next compaction") {
    val (genRoot, _) = adoptedStore()
    WinnowMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing = Files.createTempDirectory("wm3-landing")
    val ckpt = Files.createTempDirectory("wm3-ckpt").toString + "/c"
    land(landing, "b1.parquet", Seq(row(60L, uniqText(60))))
    IncrementalWinnow.run(spark, landing.toString, ckpt, cur, docSchema)
    // the era wrote batch=0; a SECOND fresh checkpoint must refuse
    val ckpt2 = Files.createTempDirectory("wm4-ckpt").toString + "/c"
    val err = intercept[IllegalArgumentException] {
      IncrementalWinnow.run(spark, landing.toString, ckpt2, cur, docSchema)
    }
    assert(err.getMessage.contains("compact first"), err.getMessage)
    // …and compacting again re-opens the root for one more fresh era
    WinnowMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing2 = Files.createTempDirectory("wm5-landing")
    land(landing2, "b1.parquet", Seq(row(61L, uniqText(61))))
    val out = IncrementalWinnow.run(
      spark, landing2.toString, ckpt2, cur2, docSchema)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet
      == ((1L to 16L) ++ Seq(60L, 61L)).toSet)
  }
}
