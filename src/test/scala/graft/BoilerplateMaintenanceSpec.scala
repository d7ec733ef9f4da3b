package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Dedup
import graft.streaming.{BoilerplateMaintenance, IncrementalAnnIndex, IncrementalBoilerplate, StoreMaintenance}

/** Boilerplate-store maintenance: the file-count monitor stays quiet
  * under threshold; compaction FOLDS the per-batch df deltas to one row
  * per digest (the additive carry) while preserving every summed prior
  * exactly, so a fresh era still scrubs chunks whose df crossed `minDf`
  * across carried history; bucket counts re-size from measured bytes;
  * and a second fresh era refuses until the next compaction.
  */
class BoilerplateMaintenanceSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private val boiler = "b0 b1 b2 b3 b4 b5 b6 b7" // one exact 8-token chunk

  private def uniqText(seed: Long): String =
    (0 until 8).map(j => s"u${seed}x$j").mkString(" ")

  private def row(id: Long, text: String): Row = Row(id, text)

  private def land(landing: Path, name: String, rows: Seq[Row]): Unit =
    landParquet(landing, name, spark.createDataFrame(rows.asJava, docSchema))

  /** Two drains: doc 1 (batch 0) and doc 2 (batch 1) each carry the
    * boiler chunk once. Doc 1 ships WITH its copy (arrival df 1 <
    * `minDf`=2); by doc 2's arrival the accumulated df reaches 2, so
    * doc 2 ships scrubbed — the arrival-time contract, with the df
    * store left at 2. Docs 3–8 / 9–16 are unique filler. Returns
    * (genRoot, flatRoot).
    */
  private def adoptedStore(): (String, String) = {
    val landing = Files.createTempDirectory("bm-landing")
    val ckpt = Files.createTempDirectory("bm-ckpt").toString + "/c"
    val flat = Files.createTempDirectory("bm-flat").toString + "/bp"
    land(landing, "b1.parquet",
      row(1L, s"$boiler ${uniqText(1)}") +:
        (3L to 8L).map(i => row(i, uniqText(i))))
    IncrementalBoilerplate.runRoot(spark, landing.toString, ckpt, flat, docSchema)
    land(landing, "b2.parquet",
      row(2L, s"$boiler ${uniqText(2)}") +:
        (9L to 16L).map(i => row(i, uniqText(i))))
    IncrementalBoilerplate.runRoot(spark, landing.toString, ckpt, flat, docSchema)
    val genRoot = Files.createTempDirectory("bm-gen").toString + "/bp"
    BoilerplateMaintenance.adopt(spark, genRoot, flat)
    (genRoot, flat)
  }

  private def dfMap(path: String): Map[(Long, Long), Long] = {
    val probe = Dedup.chunkRows(spark.createDataFrame(
      Seq(row(999L, boiler)).asJava, docSchema)).select("chunk_hash")
    IncrementalBoilerplate.priorDf(spark, path, probe, excludeBatchId = -999L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  /** The boiler chunk's digest pair — the df probe is bucket-pruned, so
    * [[dfMap]] legitimately returns bucket neighbors too; assertions
    * about the boiler chunk key on this.
    */
  private lazy val boilerDigest: (Long, Long) = {
    val r = Dedup.chunkRows(spark.createDataFrame(
      Seq(row(999L, boiler)).asJava, docSchema))
      .select("chunk_hash", "chunk_hash2").head()
    (r.getLong(0), r.getLong(1))
  }

  test("under threshold the monitor lists and does nothing") {
    val (genRoot, _) = adoptedStore()
    val gen0 = StoreMaintenance.currentGeneration(spark, genRoot)
    val r = BoilerplateMaintenance.maintain(spark, genRoot, maxFiles = 1000000L)
    assert(!r.compacted && r.generation.isEmpty)
    assert(r.files > 0 && r.bytes > 0)
    assert(StoreMaintenance.currentGeneration(spark, genRoot) == gen0,
      "a no-op maintain must not move the generation pointer")
  }

  test("compaction folds the deltas and a fresh era scrubs across the carry") {
    val (genRoot, flat) = adoptedStore()
    val before = dfMap(IncrementalBoilerplate.dfPathOf(flat))
    assert(before.get(boilerDigest).contains(2L),
      s"fixture: the boiler chunk's df must have accumulated to 2, got $before")
    val r = BoilerplateMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    assert(r.compacted && r.generation.isDefined)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val dfPath = IncrementalBoilerplate.dfPathOf(cur)
    // the additive fold: summed priors preserved exactly, one row per
    // digest (two source deltas became one), corpus carried whole with
    // both shipped boiler copies intact (decisions never retro-change)
    assert(dfMap(dfPath) == before,
      "compaction must preserve the delta-summed prior exactly")
    val store = spark.read.parquet(dfPath)
    assert(store.groupBy("chunk_hash", "chunk_hash2").count()
      .filter(col("count") > 1).count() == 0,
      "the folded df store must hold one row per digest")
    val corpus = spark.read.parquet(IncrementalBoilerplate.corpusPathOf(cur))
    assert(corpus.count() == 16L)
    assert(corpus.filter(col("doc_id") === 1L).head()
      .getAs[String]("clean_text") == s"$boiler ${uniqText(1)}")
    // a fresh era drains BESIDE the carry: doc 20's boiler occurrence
    // sees prior_df=2 >= minDf and is scrubbed, its unique tail ships;
    // a carried doc_id re-crawl drops whole; a novel doc admits clean
    val landing = Files.createTempDirectory("bm2-landing")
    val ckpt = Files.createTempDirectory("bm2-ckpt").toString + "/c"
    land(landing, "b1.parquet", Seq(
      row(20L, s"$boiler ${uniqText(20)}"), row(2L, uniqText(99)),
      row(50L, uniqText(50))))
    val out = IncrementalBoilerplate.runRoot(
      spark, landing.toString, ckpt, cur, docSchema)
    assert(out.filter(col("doc_id") === 20L).head()
      .getAs[String]("clean_text") == uniqText(20),
      "the carried df must scrub the minDf-crossed chunk from the new era")
    assert(out.filter(col("doc_id") === 2L).count() == 1L &&
      out.filter(col("doc_id") === 2L).head()
        .getAs[String]("clean_text") == uniqText(2),
      "carried id sidecar must block the re-crawl (original decision — " +
        "scrubbed at arrival — kept)")
    assert(out.filter(col("doc_id") === 50L).head()
      .getAs[String]("clean_text") == uniqText(50))
    // and the re-crawl did not inflate df: doc 20's delta is the only
    // addition, so the boiler digest now sums to 3
    assert(dfMap(dfPath).get(boilerDigest).contains(3L))
  }

  test("a triggered compaction re-sizes bucket counts from measured bytes") {
    val (genRoot, _) = adoptedStore()
    BoilerplateMaintenance.compact(
      spark, genRoot, buckets = Map("df" -> 8, "ids" -> 8))
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val dfPath = IncrementalBoilerplate.dfPathOf(cur)
    assert(IncrementalAnnIndex.bucketCount(spark, dfPath).contains(8))
    val bytes = StoreMaintenance.fileStats(spark, dfPath)._2
    val r = BoilerplateMaintenance.maintain(
      spark, genRoot, maxFiles = 0L, targetBucketBytes = 64L)
    assert(r.compacted)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val dfPath2 = IncrementalBoilerplate.dfPathOf(cur2)
    val grown = IncrementalAnnIndex.bucketCount(spark, dfPath2).get
    assert(grown == math.max(8, math.ceil(bytes / 64.0).toInt), grown)
    assert(grown > 8, "fixture too small to exercise growth")
    // the re-bucketed, re-folded store still answers the df probe
    assert(dfMap(dfPath2).get(boilerDigest).contains(2L))
  }

  test("a second fresh era refuses until the next compaction") {
    val (genRoot, _) = adoptedStore()
    BoilerplateMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing = Files.createTempDirectory("bm3-landing")
    val ckpt = Files.createTempDirectory("bm3-ckpt").toString + "/c"
    land(landing, "b1.parquet", Seq(row(60L, uniqText(60))))
    IncrementalBoilerplate.runRoot(spark, landing.toString, ckpt, cur, docSchema)
    val ckpt2 = Files.createTempDirectory("bm4-ckpt").toString + "/c"
    val err = intercept[IllegalArgumentException] {
      IncrementalBoilerplate.runRoot(
        spark, landing.toString, ckpt2, cur, docSchema)
    }
    assert(err.getMessage.contains("compact first"), err.getMessage)
    // …and compacting again re-opens the root for one more fresh era
    BoilerplateMaintenance.maintain(spark, genRoot, maxFiles = 0L)
    val cur2 = StoreMaintenance.resolveCurrent(spark, genRoot)
    val landing2 = Files.createTempDirectory("bm5-landing")
    land(landing2, "b1.parquet", Seq(row(61L, uniqText(61))))
    IncrementalBoilerplate.runRoot(
      spark, landing2.toString, ckpt2, cur2, docSchema)
    assert(spark.read.parquet(IncrementalBoilerplate.corpusPathOf(cur2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
      == ((1L to 16L) ++ Seq(60L, 61L)).toSet)
  }
}
