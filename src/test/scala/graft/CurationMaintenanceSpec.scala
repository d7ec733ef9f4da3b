package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.streaming.{CurationMaintenance, IncrementalAnnIndex, IncrementalCuration, StoreMaintenance}

/** Curation-store maintenance: the file-count monitor stays quiet under
  * threshold, compaction folds a multi-batch family root into one
  * generation whose rebuilt band sidecar still catches carried
  * near-duplicates and whose signature membership still blocks carried
  * re-crawls, bucket counts re-size from measured bytes, and a second
  * fresh era refuses until the next compaction.
  */
class CurationMaintenanceSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  // long enough to clear the quality gate's 20-token band, with stopwords
  private def goodText(seed: Int): String =
    (1 to 30).map(i => s"w${seed}x$i").mkString(" ") +
      " the and for that with this from have were been"

  private def row(id: Long, text: String): Row =
    Row(id, text, "en", "crawl", text.length.toLong)

  private def land(landing: Path, name: String, rows: Seq[Row]): Unit =
    landParquet(landing, name, spark.createDataFrame(rows.asJava, docSchema))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** ONE shared flat family root (docs 1–8 then 9–16, two drained
    * batches), built once per suite — `adopt` only READS the flat root
    * (it carries into a new generation dir), so every test adopts this
    * same store into its own fresh generation root: isolation preserved
    * at the generation layer, the two streaming drains paid once instead
    * of once per test (the StockPipelineSpec suite-time treatment).
    */
  private lazy val flatStore: String = {
    val landing = Files.createTempDirectory("cm-landing")
    val ckpt = Files.createTempDirectory("cm-ckpt").toString + "/c"
    val flat = Files.createTempDirectory("cm-flat").toString + "/cur"
    land(landing, "b1.parquet", (1L to 8L).map(i => row(i, goodText(i.toInt))))
    IncrementalCuration.runRoot(spark, landing.toString, ckpt, flat, docSchema)
    land(landing, "b2.parquet", (9L to 16L).map(i => row(i, goodText(i.toInt))))
    IncrementalCuration.runRoot(spark, landing.toString, ckpt, flat, docSchema)
    flat
  }

  /** Adopt the shared flat store into a FRESH generation root. */
  private def adoptedStore(): (String, String) = {
    val genRoot = Files.createTempDirectory("cm-gen").toString + "/cur"
    CurationMaintenance.adopt(spark, genRoot, flatStore)
    (genRoot, flatStore)
  }

  test("under threshold the monitor lists and does nothing") {
    val (genRoot, _) = adoptedStore()
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    val r = CurationMaintenance.maintain(spark, genRoot, maxFiles = 1000000L)
    assert(!r.compacted && r.generation.isEmpty)
    assert(r.files > 0 && r.bytes > 0)
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0,
      "a no-op maintain must not move the generation pointer")
  }

  test("compaction folds the family and a fresh era dedups against the carry") {
    val (genRoot, flat) = adoptedStore()
    val flatFiles = StoreMaintenance.fileStats(
      spark, IncrementalCuration.sigPathOf(flat))._1
    val r = CurationMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    assert(r.compacted && r.generation.isDefined)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    assert(r.generation.contains(cur))
    val sigPath = IncrementalCuration.sigPathOf(cur)
    assert(StoreMaintenance.fileStats(spark, sigPath)._1 < flatFiles,
      "compaction did not shrink the signature store")
    // carried history intact: all 16 signatures (gate-rejected docs keep
    // their sigs so future copies dedup), the gate-passing corpus rows
    // exactly as the flat store held them, 2 funnel rows
    assert(spark.read.parquet(sigPath).count() == 16L)
    val flatCorpus = spark.read.parquet(
      IncrementalCuration.corpusPathOf(flat)).count()
    assert(flatCorpus > 0L)
    assert(spark.read.parquet(
      IncrementalCuration.corpusPathOf(cur)).count() == flatCorpus)
    assert(spark.read.parquet(
      IncrementalCuration.metricsPathOf(cur)).count() == 2L)
    // the rebuilt band sidecar is complete (marker present)
    assert(IncrementalCuration.bandBucketCount(spark,
      IncrementalCuration.bandIndexPath(sigPath)).isDefined,
      "compaction must rebuild the band sidecar in the new generation")
    // a fresh era drains BESIDE the carried history: a near-dup of a
    // carried doc collapses (via the rebuilt sidecar's band join), a
    // carried doc_id re-crawl is not re-admitted, a fresh doc admits
    val landing = Files.createTempDirectory("cm2-landing")
    val ckpt = Files.createTempDirectory("cm2-ckpt").toString + "/c"
    land(landing, "b1.parquet", Seq(
      row(20L, goodText(1)), row(2L, goodText(2)), row(50L, goodText(50))))
    IncrementalCuration.runRoot(spark, landing.toString, ckpt, cur, docSchema)
    val sigIds = ids(spark.read.parquet(sigPath))
    assert(!sigIds.contains(20L),
      "near-dup of a carried doc must collapse against the stored keeper")
    assert(sigIds == ((1L to 16L) :+ 50L).toSet, s"store after re-entry: $sigIds")
    val corpus = spark.read.parquet(IncrementalCuration.corpusPathOf(cur))
    assert(corpus.groupBy("doc_id").count()
      .filter(col("count") > 1).count() == 0,
      "carried re-crawl guard must keep the corpus one row per doc")
  }

  test("a triggered compaction re-sizes both bucket families from measured bytes") {
    val (genRoot, _) = adoptedStore()
    // an explicit re-size down to 8 signature buckets…
    CurationMaintenance.compact(
      spark, genRoot, buckets = Map("sigs" -> 8, "bands" -> 8))
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val sigPath = IncrementalCuration.sigPathOf(cur)
    assert(IncrementalAnnIndex.bucketCount(spark, sigPath).contains(8))
    assert(IncrementalCuration.bandBucketCount(spark,
      IncrementalCuration.bandIndexPath(sigPath)).contains(8))
    // …then maintain() with a tiny per-bucket target grows PAST it
    val bytes = StoreMaintenance.fileStats(spark, sigPath)._2
    val r = CurationMaintenance.maintain(
      spark, genRoot, maxFiles = 0L, targetBucketBytes = 64L)
    assert(r.compacted)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val sigPath2 = IncrementalCuration.sigPathOf(cur2)
    val grownSig = IncrementalAnnIndex.bucketCount(spark, sigPath2).get
    assert(grownSig == math.max(8, math.ceil(bytes / 64.0).toInt), grownSig)
    assert(grownSig > 8, "fixture too small to exercise growth")
    val grownBand = IncrementalCuration.bandBucketCount(spark,
      IncrementalCuration.bandIndexPath(sigPath2)).get
    assert(grownBand > 8, "band sidecar must re-size from its own bytes")
    // the re-bucketed membership still answers: a carried id is found
    val prior = IncrementalCuration.priorDocIds(spark, sigPath2,
      spark.range(1, 2).select(col("id").as("doc_id")),
      excludeBatchId = -999L)
    assert(prior.count() == 1L)
  }

  test("a second fresh era refuses until the next compaction") {
    val (genRoot, _) = adoptedStore()
    CurationMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing = Files.createTempDirectory("cm3-landing")
    val ckpt = Files.createTempDirectory("cm3-ckpt").toString + "/c"
    land(landing, "b1.parquet", Seq(row(60L, goodText(60))))
    IncrementalCuration.runRoot(spark, landing.toString, ckpt, cur, docSchema)
    // the era wrote batch=0; a SECOND fresh checkpoint must refuse
    val ckpt2 = Files.createTempDirectory("cm4-ckpt").toString + "/c"
    val err = intercept[IllegalArgumentException] {
      IncrementalCuration.runRoot(
        spark, landing.toString, ckpt2, cur, docSchema)
    }
    assert(err.getMessage.contains("compact first"), err.getMessage)
    // …and compacting again re-opens the root for one more fresh era
    CurationMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing2 = Files.createTempDirectory("cm5-landing")
    land(landing2, "b1.parquet", Seq(row(61L, goodText(61))))
    IncrementalCuration.runRoot(
      spark, landing2.toString, ckpt2, cur2, docSchema)
    assert(ids(spark.read.parquet(IncrementalCuration.sigPathOf(cur2)))
      == ((1L to 16L) ++ Seq(60L, 61L)).toSet)
  }
}
