package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.ops.Similarity
import graft.streaming.{IncrementalSemDedup, SemDedupMaintenance}

/** Incremental SemDeDup against the bounded head store: per-batch
  * decisions replay the batch operator on ordered landings, duplicate
  * families are caught across batches, re-crawls neither re-decide nor
  * re-enter the ledger, and the head stays bounded.
  */
class IncrementalSemDedupSpec extends SparkSpec {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** 4-dim unit-ish vectors: id < 16 seeds the leaders; id ≥ 16 points in
    * a deterministic direction derived from (id % 4) with a small
    * id-dependent wobble on the next axis, so assignment is deterministic
    * and duplicate pairs are easy to construct by direction.
    */
  private def vec(axis: Int, wobble: Double): Array[Float] = {
    val v = Array.fill(4)(0.0)
    v(axis % 4) = 1.0
    v((axis + 1) % 4) = wobble
    v.map(_.toFloat)
  }

  private def row(id: Long, v: Array[Float]): Row = Row(id, v)

  private def land(landing: Path, name: String, rows: Seq[Row]): Unit =
    landParquet(landing, name, spark.createDataFrame(rows.asJava, embSchema))

  private def dirs(): (Path, String, String) = {
    val landing = Files.createTempDirectory("sd-landing")
    val ckpt = Files.createTempDirectory("sd-ckpt").toString + "/c"
    val root = Files.createTempDirectory("sd-root").toString + "/store"
    (landing, ckpt, root)
  }

  // 16 seed vectors spread over 4 axes with distinct wobbles, then
  // extras: 20 duplicates 17's direction, 21 is orthogonal-ish
  private val b1 = (0L until 16L).map(i =>
    row(i, vec(i.toInt, 0.02 * (i.toInt / 4 + 1)))) ++ Seq(
    row(17L, vec(1, 0.5)))
  private val b2 = Seq(
    row(20L, vec(1, 0.5).map(x => x * 2f)), // same direction as stored 17
    row(21L, vec(2, -0.9)))

  test("ordered landings replay the batch operator exactly") {
    val (landing, ckpt, root) = dirs()
    land(landing, "b1.parquet", b1)
    IncrementalSemDedup.run(
      spark, landing.toString, ckpt, root, embSchema)
    land(landing, "b2.parquet", b2)
    val ledger = IncrementalSemDedup.run(
      spark, landing.toString, ckpt, root, embSchema)
    val got = ledger.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSet
    val want = Similarity.semDedup(
      spark.createDataFrame((b1 ++ b2).asJava, embSchema))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSet
    assert(got == want, s"incremental $got\n!= batch $want")
    // the cross-batch duplicate was caught, keeper = lowest tau-similar
    // stored id in its list (the seed 13 shares vec 20's axis and leads
    // its list; 17 matches too but is not the minimum)
    val d20 = ledger.filter(col("vec_id") === 20L).head()
    assert(!d20.getAs[Boolean]("kept") && d20.getAs[Long]("dup_of") == 13L)
    // the admitted store holds exactly the kept ids
    val storeIds = spark.read.parquet(IncrementalSemDedup.listPath(root))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val keptIds = ledger.filter(col("kept")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(storeIds == keptIds)
  }

  test("a re-crawled vec_id neither re-decides nor re-enters the ledger") {
    val (landing, ckpt, root) = dirs()
    land(landing, "b1.parquet", b1)
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema)
    land(landing, "b2.parquet", Seq(row(17L, vec(1, 0.5)), row(22L, vec(3, -0.7))))
    val ledger = IncrementalSemDedup.run(
      spark, landing.toString, ckpt, root, embSchema)
    // 17 was decided in batch 1 (dropped: seed 13 shares its axis); the
    // re-crawl must leave exactly that one decision row, not a second
    val rows17 = ledger.filter(col("vec_id") === 17L).collect()
    assert(rows17.length == 1, "the original decision must stand, once")
    assert(!rows17.head.getAs[Boolean]("kept") &&
      rows17.head.getAs[Long]("dup_of") == 13L)
    assert(ledger.filter(col("vec_id") === 22L).count() == 1)
  }

  test("replay of a committed batch reproduces its decisions (own-partition exclusion)") {
    val (landing, ckpt, root) = dirs()
    land(landing, "b1.parquet", b1)
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema)
    land(landing, "b2.parquet", b2)
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema)
    // batches 0 and 1 committed; simulate the at-least-once replay of
    // batch 1 AFTER its writes landed: the head read must resolve the
    // pre-batch generation and membership must exclude batch=1's rows
    val cents = spark.read.parquet(IncrementalSemDedup.leaderPath(root))
    val uniq = spark.createDataFrame(b2.asJava, embSchema)
    val guarded = uniq.join(
      graft.streaming.IncrementalAnnIndex.priorIds(spark,
        IncrementalSemDedup.decidedPath(root), uniq.select("vec_id"), 1L),
      Seq("vec_id"), "left_anti")
    assert(guarded.count() == b2.length.toLong,
      "a replay must see its own vectors as novel")
    val r = IncrementalSemDedup.dedupBatch(
      Similarity.assignWithLeadersRetaining(guarded, cents),
      IncrementalSemDedup.readHeads(spark, root, excludeBatchId = 1L))
    val replayed = r.ledger.collect().map(r0 => (r0.getLong(0),
      if (r0.isNullAt(2)) -1L else r0.getLong(2), r0.getBoolean(3))).toSet
    val committed = spark.read
      .parquet(s"${IncrementalSemDedup.ledgerPath(root)}/batch=1")
      .collect().map(r0 => (r0.getLong(0),
        if (r0.isNullAt(2)) -1L else r0.getLong(2), r0.getBoolean(3))).toSet
    assert(replayed == committed, s"$replayed != $committed")
  }

  test("superseded head generations vacuum; the newest and its replay predecessor survive") {
    val (landing, ckpt, root) = dirs()
    land(landing, "b1.parquet", b1)
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema)
    land(landing, "b2.parquet", b2)
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema)
    land(landing, "b3.parquet", Seq(row(30L, vec(0, -0.4))))
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema)
    val heads = IncrementalSemDedup.headsPath(root)
    val headBefore = IncrementalSemDedup.readHeads(spark, root, -999L).get
      .collect().map(_.getLong(0)).toSet
    val removed = graft.streaming.StoreMaintenance
      .pruneSupersededGenerations(spark, heads)
    assert(removed == Seq(0L), s"oldest generation only, got $removed")
    // the newest head is untouched, and a replay of batch 2 still
    // resolves generation 1
    assert(IncrementalSemDedup.readHeads(spark, root, -999L).get
      .collect().map(_.getLong(0)).toSet == headBefore)
    assert(IncrementalSemDedup.readHeads(spark, root, excludeBatchId = 2L)
      .isDefined)
    intercept[IllegalArgumentException] {
      graft.streaming.StoreMaintenance
        .pruneSupersededGenerations(spark, heads, keep = 1)
    }
  }

  test("fresh-checkpoint re-entry carries the head to batch=-1 and resumes") {
    val (landing, ckpt, root) = dirs()
    land(landing, "b1.parquet", b1)
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema)
    land(landing, "b2.parquet", b2)
    val era1 = IncrementalSemDedup.run(
      spark, landing.toString, ckpt, root, embSchema).collect().toSet
    val headBefore = IncrementalSemDedup.readHeads(spark, root, -999L).get
      .collect().map(_.getLong(0)).toSet
    val genRoot = Files.createTempDirectory("sd-gen").toString + "/gens"
    val gen = SemDedupMaintenance.adopt(spark, genRoot, root)
    // one generation left, below every epoch, content carried intact
    assert(IncrementalSemDedup.readHeads(spark, gen, -999L).get
      .collect().map(_.getLong(0)).toSet == headBefore)
    // resume under a FRESH checkpoint: the new era's batch 0 must resolve
    // the carried head (a dup of a pre-restart member is caught), and its
    // own generation must supersede batch=-1
    val landing2 = Files.createTempDirectory("sd-landing2")
    val ckpt2 = Files.createTempDirectory("sd-ckpt2").toString + "/c"
    land(landing2, "b3.parquet", Seq(
      row(40L, vec(1, 0.5).map(x => x * 3f)), // same direction family as 13
      row(41L, vec(3, -0.85))))
    val ledger = IncrementalSemDedup.run(
      spark, landing2.toString, ckpt2, gen, embSchema)
    val d40 = ledger.filter(col("vec_id") === 40L).head()
    assert(!d40.getAs[Boolean]("kept") && d40.getAs[Long]("dup_of") == 13L,
      "post-re-entry batch must dedup against the carried head")
    val newest = IncrementalSemDedup.readHeads(spark, gen, -999L).get
    assert(newest.filter(col("vec_id") === 41L).count() == 1,
      "the new era's generation must supersede the carried one")
    // era 1's ledger rows and decided ids are still there after era 2
    assert(era1.subsetOf(ledger.collect().toSet),
      "the new era must not overwrite the carried ledger")
    val decided = spark.read.parquet(IncrementalSemDedup.decidedPath(gen))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(era1.map(_.getLong(0)).subsetOf(decided),
      "the new era must not overwrite the carried decided ids")
  }

  test("a fresh checkpoint over a root still holding batch>=0 history is refused") {
    val (landing, ckpt, root) = dirs()
    land(landing, "b1.parquet", b1)
    val era1 = IncrementalSemDedup.run(
      spark, landing.toString, ckpt, root, embSchema).collect().toSet
    val landing2 = Files.createTempDirectory("sd-landing2r")
    val ckpt2 = Files.createTempDirectory("sd-ckpt2r").toString + "/c"
    land(landing2, "b2.parquet", b2)
    // the new era's batch 0 would overwrite era 1's ledger, admitted
    // vectors and decided ids — refused until the carry folds them
    val e = intercept[IllegalArgumentException] {
      IncrementalSemDedup.run(spark, landing2.toString, ckpt2, root, embSchema)
    }
    assert(e.getMessage.contains("compact first"), e.getMessage)
    assert(spark.read.parquet(IncrementalSemDedup.ledgerPath(root))
      .drop("batch").collect().toSet == era1)
  }

  test("a SECOND re-entry (prior batch=-1 plus new-era generations) keeps the carried head") {
    val (landing, ckpt, root) = dirs()
    land(landing, "b1.parquet", b1)
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema)
    // first checkpoint loss: carry to batch=-1, run one new-era batch
    val genRoot = Files.createTempDirectory("sd-gen2").toString + "/gens"
    val gen0 = SemDedupMaintenance.adopt(spark, genRoot, root)
    val landing2 = Files.createTempDirectory("sd-landing2b")
    val ckpt2 = Files.createTempDirectory("sd-ckpt2b").toString + "/c"
    land(landing2, "b2.parquet", b2)
    IncrementalSemDedup.run(spark, landing2.toString, ckpt2, gen0, embSchema)
    val headBefore = IncrementalSemDedup.readHeads(spark, gen0, -999L).get
      .collect().map(_.getLong(0)).toSet
    assert(headBefore.nonEmpty)
    // SECOND checkpoint loss: the store now holds the carried batch=-1 AND
    // the new era's batch=0 — re-entry must carry batch=0's relation into
    // the next generation's batch=-1 without losing it
    val gen1 = SemDedupMaintenance.compact(spark, genRoot)
    val carried = IncrementalSemDedup.readHeads(spark, gen1, -999L)
    assert(carried.isDefined, "second re-entry must not leave an empty store")
    assert(carried.get.collect().map(_.getLong(0)).toSet == headBefore,
      "second re-entry must carry the newest generation intact")
    // and a third era still dedups against it
    val landing3 = Files.createTempDirectory("sd-landing3b")
    val ckpt3 = Files.createTempDirectory("sd-ckpt3b").toString + "/c"
    land(landing3, "b3.parquet", Seq(
      row(50L, vec(1, 0.5).map(x => x * 4f)))) // direction family of seed 13
    val ledger = IncrementalSemDedup.run(
      spark, landing3.toString, ckpt3, gen1, embSchema)
    val d50 = ledger.filter(col("vec_id") === 50L).head()
    assert(!d50.getAs[Boolean]("kept") && d50.getAs[Long]("dup_of") == 13L,
      "third-era batch must dedup against the twice-carried head")
  }

  test("the head store stays bounded at cap x lists as batches accumulate") {
    val (landing, ckpt, root) = dirs()
    val cap = 2
    land(landing, "b1.parquet", b1)
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema,
      maxListOccupancy = cap)
    // two more batches of distinct directions — far more rows than the cap
    land(landing, "b2.parquet", (30L to 45L).map(i =>
      row(i, vec(i.toInt, 0.1 + 0.01 * i))))
    land(landing, "b3.parquet", (50L to 65L).map(i =>
      row(i, vec(i.toInt, -0.2 - 0.01 * i))))
    IncrementalSemDedup.run(spark, landing.toString, ckpt, root, embSchema,
      maxListOccupancy = cap)
    val head = IncrementalSemDedup.readHeads(spark, root, -999L).get
    assert(head.count() <= cap.toLong * Similarity.NumLists,
      s"head must stay bounded, got ${head.count()}")
    // per-list bound holds exactly
    val over = head.groupBy("list_id").count()
      .filter(col("count") > cap).count()
    assert(over == 0)
  }
}
