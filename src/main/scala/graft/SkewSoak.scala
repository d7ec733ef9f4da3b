package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, HashSplit, Similarity}
import graft.streaming.{IncrementalAnnIndex, IncrementalChunkDedup,
  IncrementalCuration, StoragePaths, StoreMaintenance}

/** Skew soak harness: proves the document-frequency / band-occupancy caps
  * keep the posting-list joins near-LINEAR on an adversarially skewed
  * corpus — the property the caps exist for, measured instead of asserted
  * from the armchair.
  *
  * Generates a documents table where 30% of docs share one boilerplate
  * sentence (a hot shingle family whose df grows with the corpus — the
  * uncapped blowup is df² candidate pairs from a single key) plus unique
  * filler, runs `minhashPairs` / `simhashPairs` / `contaminatedTrainDocs`
  * at N and 10N, and reports wall-clock growth and result cardinalities as
  * one JSON line. A capped operator should grow ≈10× in time and output;
  * quadratic behavior shows up as ≈100× time and an exploding pair count.
  *
  * Run: `sbt 'runMain graft.SkewSoak [baseN]'` (default 3000). The
  * per-round numbers are committed as `SOAK_r{N}.json`.
  */
object SkewSoak {

  /** 30%-hot corpus: ids ≡ 0,1,2 (mod 10) share an 8-token boilerplate
    * sentence; every doc carries 6 unique filler tokens so signatures stay
    * distinct within the family.
    */
  def skewedDocs(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      concat(
        when(col("id") % 10 < 3,
          lit("the shared boiler plate sentence appears in every document "))
          .otherwise(lit("")),
        concat_ws(" ",
          (0 until 6).map(j => concat(lit(s"u${j}x"), col("id"))): _*)).as("text"))

  private def timed(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val rows = f
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  def main(args: Array[String]): Unit = {
    val baseN = if (args.nonEmpty) args(0).toLong else 3000L
    val spark = Runner.session()

    val ops: Seq[(String, DataFrame => Long)] = Seq(
      ("minhash_pairs", d => Dedup.minhashPairs(d).count()),
      ("simhash_pairs", d => Dedup.simhashPairs(d).count()),
      // winnow overlap under the 30% hot duplicate family: every copy
      // shares EVERY fingerprint, so the hot fingerprints carry df = hot
      // count and the MaxShingleDf cap is what keeps the inverted-index
      // self-join from going quadratic
      ("winnow_overlap", d => Dedup.winnowOverlapPairs(d).count()),
      ("contamination", d => HashSplit.contaminatedTrainDocs(d).count()),
      // incremental curation's band join probed by a 5%-of-corpus batch of
      // re-crawled (re-keyed) docs against the whole corpus as the stored
      // signature index — the hot-store-bucket star degradation under test
      ("incremental_dedup", d => {
        val batch = d.filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L))
        IncrementalCuration.newDuplicates(
          Dedup.minhashSignatures(batch),
          Dedup.minhashSignatures(d)).count()
      }),
      // chunk-dedup flag-back join under a CORPUS-WIDE hot chunk: prepend
      // the same boilerplate to EVERY doc, so one chunk_hash has df = n and
      // the first-occurrence row fans out to all n occurrences — the AQE
      // skew-split territory the operator documents. Linear growth means
      // the hot key costs its copy count, not a quadratic reducer stall.
      ("chunk_flagback", d => Dedup.chunkDedup(
        d.select(col("doc_id"), concat(
          lit("the shared boiler plate sentence appears in every document "),
          col("text")).as("text"))).count()))

    // warmup: JIT + codegen caches, excluded from the measurements
    val warm = skewedDocs(spark, 500L).cache()
    warm.count()
    ops.foreach { case (_, f) => f(warm) }
    warm.unpersist()

    val results = for ((label, mult) <- Seq(("base", 1L), ("x10", 10L))) yield {
      val docs = skewedDocs(spark, baseN * mult).cache()
      docs.count()
      val runs = ops.map { case (name, f) =>
        val (sec, rows) = timed(f(docs))
        name -> (sec, rows)
      }
      docs.unpersist()
      label -> runs
    }

    // ANN membership-probe leg: per-batch add cost must be HISTORY-FREE,
    // not merely linear — a fixed-size batch against a store grown 10×
    // should cost the same, because the store's bucket COUNT scales with
    // its size (the documented re-bucket-at-compaction policy) so bucket
    // SIZE — the unit a probe reads — stays bounded. The probe reads
    // ≤ batch-distinct-ids buckets either way.
    val annBatch = 12
    def annProbeSec(n: Long): Double = {
      val root = TempDirs.scratch("soak-ann").toString
      // flat landing → re-bucketed generation, the compaction path a real
      // store takes as it grows; bucket size pinned at ~1500 ids
      spark.range(n).select(col("id").as("vec_id"),
          (col("id") % 16).as("list_id"), lit(1.0).as("list_cos"),
          array(lit(0.1f), lit(0.2f)).as("embedding"), lit(1.0).as("norm"))
        .write.parquet(s"$root/flat/batch=0")
      val buckets = math.max(16, (n / 1500).toInt)
      StoreMaintenance.compact(spark, s"$root/flat", s"$root/store",
        numFiles = 32, bucketBy = Some(("vec_id", buckets)))
      val batch = spark.range(annBatch.toLong)
        .select((col("id") * (n / (annBatch + 1)) + 7).as("vec_id"))
      def probe(): Long = batch.join(
        IncrementalAnnIndex.priorIds(spark, s"$root/store", batch, -999L),
        Seq("vec_id"), "left_anti").count()
      probe() // warm: codegen + file-index caches, excluded
      timed(probe())._1
    }
    val annBaseN = baseN * 30
    val annSecs = Seq(annBaseN, annBaseN * 10).map(annProbeSec)
    val annGrowth = annSecs(1) / annSecs(0)
    val annJson =
      f""""ann_membership":{"base_sec":${annSecs(0)}%.2f,"x10_sec":${annSecs(1)}%.2f,"time_growth":$annGrowth%.1f,"store_base":$annBaseN,"store_x10":${annBaseN * 10},"batch":$annBatch}"""

    // Curation band-probe leg: the inverted band-index sidecar makes the
    // LSH probe's STORE READ touched-bucket bounded, not just its compute
    // — fixed probe batch, signature store grown 10×, flat probe time.
    // Bucket count scales with the store (the re-bucket-at-maintenance
    // policy) so bucket size — the unit a probe reads — stays bounded.
    val curBatch = 12
    def curProbeSec(n: Long): Double = {
      val root = TempDirs.scratch("soak-cur").toString
      val sigPath = s"$root/sigs"
      Dedup.minhashSignatures(skewedDocs(spark, n))
        .write.parquet(s"$sigPath/batch=0")
      IncrementalCuration.rebuildBandIndex(spark, sigPath,
        buckets = math.max(64, (n / 1500).toInt))
      // re-crawled copies of stored docs — the dup-probe use case
      val probeDocs = skewedDocs(spark, curBatch.toLong)
        .withColumn("doc_id", col("doc_id") + lit(2000000000L))
      val touched = IncrementalCuration.bandRowsOf(
        Dedup.minhashSignatures(probeDocs))
        .select("band_idx", "band_val").distinct().persist()
      touched.count()
      def probe(): Long = IncrementalCuration
        .priorBandRows(spark, sigPath, touched, -999L)
        .join(touched, Seq("band_idx", "band_val")).count()
      probe() // warm: codegen + file-index caches, excluded
      val sec = timed(probe())._1
      touched.unpersist(blocking = false)
      sec
    }
    val curBaseN = baseN * 10
    val curSecs = Seq(curBaseN, curBaseN * 10).map(curProbeSec)
    val curGrowth = curSecs(1) / curSecs(0)
    val curJson =
      f""""curation_band_probe":{"base_sec":${curSecs(0)}%.2f,"x10_sec":${curSecs(1)}%.2f,"time_growth":$curGrowth%.1f,"store_base":$curBaseN,"store_x10":${curBaseN * 10},"batch":$curBatch}"""

    // Chunk-store membership leg: fixed probe batch of re-keyed docs,
    // chunk-hash store grown 10×, flat probe time — the same
    // history-free contract as ann_membership (bucket count scales with
    // the store, so bucket size — the unit a probe reads — is pinned).
    val chunkBatch = 12
    def chunkProbeSec(n: Long): Double = {
      val root = TempDirs.scratch("soak-chunk").toString
      val store = s"$root/chunks"
      val buckets = math.max(64, (n / 1500).toInt)
      Dedup.chunkRows(skewedDocs(spark, n))
        .select("chunk_hash", "chunk_hash2").distinct()
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("chunk_hash"), buckets))
        .repartition(col("id_bucket"))
        .write.partitionBy("id_bucket").parquet(s"$store/batch=0")
      StoragePaths.writeSmallFile(spark,
        s"$store/${IncrementalAnnIndex.IdBucketsMarker}", buckets.toString)
      val probe = Dedup.chunkRows(skewedDocs(spark, chunkBatch.toLong)
          .withColumn("doc_id", col("doc_id") + lit(3000000000L)))
        .select("doc_id", "chunk_idx", "chunk_hash").persist()
      probe.count()
      def go(): Long = probe.join(
        IncrementalChunkDedup.priorChunkHashes(
          spark, store, probe.select("chunk_hash"), -999L),
        Seq("chunk_hash"), "left_anti").count()
      go() // warm: codegen + file-index caches, excluded
      val sec = timed(go())._1
      probe.unpersist(blocking = false)
      sec
    }
    val chunkBaseN = baseN * 10
    val chunkSecs = Seq(chunkBaseN, chunkBaseN * 10).map(chunkProbeSec)
    val chunkGrowth = chunkSecs(1) / chunkSecs(0)
    val chunkJson =
      f""""chunk_membership":{"base_sec":${chunkSecs(0)}%.2f,"x10_sec":${chunkSecs(1)}%.2f,"time_growth":$chunkGrowth%.1f,"store_base":$chunkBaseN,"store_x10":${chunkBaseN * 10},"batch":$chunkBatch}"""

    // PQ code-store membership leg: same history-free contract as
    // ann_membership, pinned on the CODE store layout specifically
    // (IncrementalPqIndex shares priorIds, but its store carries code
    // columns, not vectors — the 6-byte rows a 10^10-vector index keeps
    // hot).
    val pqmBatch = 12
    def pqMembershipSec(n: Long): Double = {
      val root = TempDirs.scratch("soak-pqm").toString
      spark.range(n).select(
          col("id").as("vec_id") +:
            (0 until graft.ops.Pq.NumSubspaces)
              .map(m => (col("id") % 64).as(s"code_$m")) :+
            (col("id") % 64).as("pq_code"): _*)
        .write.parquet(s"$root/flat/batch=0")
      val buckets = math.max(16, (n / 1500).toInt)
      StoreMaintenance.compact(spark, s"$root/flat", s"$root/store",
        numFiles = 32, bucketBy = Some(("vec_id", buckets)))
      val batch = spark.range(pqmBatch.toLong)
        .select((col("id") * (n / (pqmBatch + 1)) + 7).as("vec_id"))
      def probe(): Long = batch.join(
        IncrementalAnnIndex.priorIds(spark, s"$root/store", batch, -999L),
        Seq("vec_id"), "left_anti").count()
      probe() // warm: codegen + file-index caches, excluded
      timed(probe())._1
    }
    val pqmBaseN = baseN * 30
    val pqmSecs = Seq(pqmBaseN, pqmBaseN * 10).map(pqMembershipSec)
    val pqmGrowth = pqmSecs(1) / pqmSecs(0)
    val pqmJson =
      f""""pq_membership":{"base_sec":${pqmSecs(0)}%.2f,"x10_sec":${pqmSecs(1)}%.2f,"time_growth":$pqmGrowth%.1f,"store_base":$pqmBaseN,"store_x10":${pqmBaseN * 10},"batch":$pqmBatch}"""

    // IVFPQ hot-list leg: ids 1..15 are pure off-axis leaders, EVERYTHING
    // else crowds list 0 — the degenerate corpus the occupancy cap exists
    // for. Per query the candidates are bounded by nprobe × cap whatever
    // the corpus size, so 10× the corpus must cost ≈10× (the linear
    // assignment/encode scans and the n/50-query distance tables), never
    // the ≈100× an uncapped hot list would.
    def hotListVecs64(n: Long): DataFrame =
      spark.range(n).select(col("id").as("vec_id"), expr(
        """transform(sequence(0, 63), d -> CAST(
          |  CASE WHEN id BETWEEN 1 AND 15 THEN IF(d = CAST(id AS INT), 1.0, 0.0)
          |       ELSE IF(d = 0, 1.0, (pmod(hash(id, d), 201) - 100) * 0.0003)
          |  END AS FLOAT))""".stripMargin.replaceAll("\n", " "))
        .as("embedding"))
    def ivfpqSec(n: Long): Double = {
      val vecs = hotListVecs64(n).cache()
      vecs.count()
      val sec = timed(graft.ops.Pq.ivfpqTopK(vecs).count())._1
      vecs.unpersist(blocking = false)
      sec
    }
    ivfpqSec(500L) // warm: JIT + codegen caches, excluded
    val ipqBaseN = baseN * 3
    val ipqSecs = Seq(ipqBaseN, ipqBaseN * 10).map(ivfpqSec)
    val ipqGrowth = ipqSecs(1) / ipqSecs(0)
    val ipqJson =
      f""""ivfpq_hotlist":{"base_sec":${ipqSecs(0)}%.2f,"x10_sec":${ipqSecs(1)}%.2f,"time_growth":$ipqGrowth%.1f,"base_n":$ipqBaseN,"x10_n":${ipqBaseN * 10}}"""

    // Wide source-cap admission leg: one batch drawn from S distinct
    // domains (3 docs each), each with prior spend — the spent relation
    // is one row per touched source, so a forced broadcast would ship S
    // rows to every task. With the AQE-sized join, 10× the sources must
    // cost ≈10× (the batch itself is 10× bigger), never a
    // broadcast-build stall.
    def sourceCapSec(s: Long): Double = {
      val batch = spark.range(s * 3).select(col("id").as("doc_id"),
        concat(lit("dom"), col("id") % s).as("source"),
        lit("t").as("text")).cache()
      batch.count()
      val spent = spark.range(s).select(
        concat(lit("dom"), col("id")).as("source"),
        lit(1L).as("n_spent")).cache()
      spent.count()
      val sec = timed(graft.streaming.IncrementalSourceCap
        .admitBatch(batch, spent, cap = 2).nAdmitted)._1
      batch.unpersist(blocking = false)
      spent.unpersist(blocking = false)
      sec
    }
    sourceCapSec(200L) // warm: JIT + codegen caches, excluded
    val scBaseS = baseN * 3
    val scSecs = Seq(scBaseS, scBaseS * 10).map(sourceCapSec)
    val scGrowth = scSecs(1) / scSecs(0)
    val scJson =
      f""""source_cap_wide":{"base_sec":${scSecs(0)}%.2f,"x10_sec":${scSecs(1)}%.2f,"time_growth":$scGrowth%.1f,"base_sources":$scBaseS,"x10_sources":${scBaseS * 10}}"""

    // SemDeDup hot-list leg: every vector points near one axis, so the
    // whole corpus lands in ONE IVF list — the degenerate corpus the
    // occupancy cap and the id-width two-phase head election exist for.
    // Candidate volume is members × cap (linear), the election never
    // sorts vectors in one task, and the dup join BROADCASTS the bounded
    // head so the hot list's pairs spread across every task instead of
    // funneling through one list_id partition — observed near-flat
    // (fixed scan/broadcast costs dominate at these sizes).
    def hotListVecs(n: Long): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        array(lit(1.0f),
          ((col("id") % 97).cast("float") / lit(1000f)),
          ((col("id") % 89).cast("float") / lit(1000f)),
          lit(0.0f)).as("embedding"))
    def semDedupSec(n: Long): Double = {
      val vecs = hotListVecs(n).cache()
      vecs.count()
      val sec = timed(Similarity.semDedup(vecs).count())._1
      vecs.unpersist(blocking = false)
      sec
    }
    semDedupSec(500L) // warm: JIT + codegen caches, excluded
    val sdBaseN = baseN * 3
    val sdSecs = Seq(sdBaseN, sdBaseN * 10).map(semDedupSec)
    val sdGrowth = sdSecs(1) / sdSecs(0)
    val sdJson =
      f""""semdedup_hotlist":{"base_sec":${sdSecs(0)}%.2f,"x10_sec":${sdSecs(1)}%.2f,"time_growth":$sdGrowth%.1f,"base_n":$sdBaseN,"x10_n":${sdBaseN * 10}}"""

    // Cross-set decontamination leg: FIXED eval set, corpus grown 10×,
    // every vector (both sides) near one axis so all band buckets collide
    // and every candidate passes the cosine verify — the densest the
    // probe join can get. Cost must stay ∝ corpus × eval (linear in the
    // corpus), because the eval side broadcasts and candidates are
    // per-corpus-row bounded by the eval bucket occupancy.
    val dcEval = 200L
    def decontamSec(n: Long): Double = {
      val corpus = hotListVecs(n).cache()
      corpus.count()
      val probe = hotListVecs(dcEval)
        .withColumn("vec_id", col("vec_id") + lit(5000000000L)).cache()
      probe.count()
      val sec = timed(
        Similarity.crossSetContamination(corpus, probe).count())._1
      corpus.unpersist(blocking = false)
      probe.unpersist(blocking = false)
      sec
    }
    decontamSec(500L) // warm: JIT + codegen caches, excluded
    val dcBaseN = baseN * 3
    val dcSecs = Seq(dcBaseN, dcBaseN * 10).map(decontamSec)
    val dcGrowth = dcSecs(1) / dcSecs(0)
    val dcJson =
      f""""decontam_probe":{"base_sec":${dcSecs(0)}%.2f,"x10_sec":${dcSecs(1)}%.2f,"time_growth":$dcGrowth%.1f,"base_n":$dcBaseN,"x10_n":${dcBaseN * 10},"eval_n":$dcEval}"""

    // Sequence-packing sizing leg: the scaladoc's deployment rule is
    // shards ∝ corpus (fixed tokens per shard). Grow the corpus 10× WITH
    // 10× the shards: per-shard window work is then constant and the whole
    // operator must cost ≈10× (one id-width shuffle), never a
    // per-shard-sort blowup. Docs carry ~12 tokens each.
    def packDocs(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 12).map(j => concat(lit(s"w${j}t"), col("id") % 101)): _*)
          .as("text"))
    def packSec(n: Long, shards: Int): Double = {
      val docs = packDocs(n).cache()
      docs.count()
      val sec = timed(graft.ops.Packing.packBins(docs, shards).count())._1
      docs.unpersist(blocking = false)
      sec
    }
    packSec(500L, 4) // warm: JIT + codegen caches, excluded
    val pkBaseN = baseN * 10
    val pkSecs = Seq((pkBaseN, 8), (pkBaseN * 10, 80))
      .map { case (n, s) => packSec(n, s) }
    val pkGrowth = pkSecs(1) / pkSecs(0)
    val pkJson =
      f""""pack_scaled_shards":{"base_sec":${pkSecs(0)}%.2f,"x10_sec":${pkSecs(1)}%.2f,"time_growth":$pkGrowth%.1f,"base_n":$pkBaseN,"x10_n":${pkBaseN * 10},"base_shards":8,"x10_shards":80}"""

    // Payload-assembly leg: 10× docs with 10× shards through the
    // trainer-feed materialization — the one operator whose JOB is to
    // move the corpus id streams. The payload rides exactly ONE exchange
    // (the per-bin assembly reuses the shard partitioning) and per-bin
    // state is budget-bounded, so growth must be ≈linear; a second
    // payload movement or an unbounded assembly shows up as ≫10×.
    def payloadSec(n: Long, shards: Int): Double = {
      val docs = packDocs(n).cache()
      docs.count()
      val sec = timed(
        graft.ops.Packing.binPayloads(docs, shards).count())._1
      docs.unpersist(blocking = false)
      sec
    }
    payloadSec(500L, 4) // warm: JIT + codegen caches, excluded
    val plSecs = Seq((pkBaseN, 8), (pkBaseN * 10, 80))
      .map { case (n, s) => payloadSec(n, s) }
    val plGrowth = plSecs(1) / plSecs(0)
    val plJson =
      f""""payload_scaled_shards":{"base_sec":${plSecs(0)}%.2f,"x10_sec":${plSecs(1)}%.2f,"time_growth":$plGrowth%.1f,"base_n":$pkBaseN,"x10_n":${pkBaseN * 10},"base_shards":8,"x10_shards":80}"""

    // Epoch-plan leg: 10× docs with 10× shards AND 10× readers (the
    // deployment sizing rule), measured through the BIN SEAM — the bin
    // relation is materialized once (the multi-epoch deployment shape;
    // deriving it is pack_scaled_shards' leg) and the per-epoch plan is
    // then a pure id-width aggregate + one shuffle on reader, so it must
    // cost ≈10×, never a per-reader-sort or re-tokenize blowup.
    def epochSec(n: Long, shards: Int, readers: Int): Double = {
      val bins = graft.ops.Packing.packBins(packDocs(n), shards).cache()
      bins.count()
      val sec = timed(graft.ops.Packing
        .epochPlanFrom(bins, epoch = 1, readers = readers)
        .count())._1
      bins.unpersist(blocking = false)
      sec
    }
    epochSec(500L, 4, 4) // warm: JIT + codegen caches, excluded
    val epSecs = Seq((pkBaseN, 8, 8), (pkBaseN * 10, 80, 80))
      .map { case (n, s, r) => epochSec(n, s, r) }
    val epGrowth = epSecs(1) / epSecs(0)
    val epJson =
      f""""epoch_scaled_readers":{"base_sec":${epSecs(0)}%.2f,"x10_sec":${epSecs(1)}%.2f,"time_growth":$epGrowth%.1f,"base_n":$pkBaseN,"x10_n":${pkBaseN * 10},"base_readers":8,"x10_readers":80}"""

    // Reader-feed leg: 10× bins with 10× readers through the trainer
    // fetch — the plan is dealt from the payload relation's own id-width
    // stats (column pruning strips the id streams from the planning
    // legs) and the payloads cross exactly ONE join, so growth must be
    // ≈linear in the served bytes; a second payload movement, a
    // re-aggregation per leg, or a global position sort shows up as ≫10×.
    def feedPayloads(bins: Long, shards: Long): DataFrame =
      spark.range(bins).select(
        (col("id") % shards).as("shard"), (col("id") / shards).as("bin"),
        lit(3L).as("n_docs"), lit(64L).as("bin_tokens"),
        expr("transform(sequence(0, 63), i -> id * 64 + CAST(i AS BIGINT))")
          .as("input_ids"))
    def feedSec(bins: Long, shards: Long, readers: Int): Double = {
      val pay = feedPayloads(bins, shards).cache()
      pay.count()
      val sec = timed(
        graft.ops.Packing.readerFeedFrom(pay, 1, readers).count())._1
      pay.unpersist(blocking = false)
      sec
    }
    // warm twice — tiny shapes for JIT/codegen, then the REAL base shape:
    // the measured base is ~0.2 s, small enough that a first-touch cache
    // effect alone can halve it and double the reported growth
    feedSec(500L, 4, 4)
    feedSec(pkBaseN, 8L, 8)
    val rfSecs = Seq((pkBaseN, 8L, 8), (pkBaseN * 10, 80L, 80))
      .map { case (b, s, r) => feedSec(b, s, r) }
    val rfGrowth = rfSecs(1) / rfSecs(0)
    val rfJson =
      f""""reader_feed_scaled":{"base_sec":${rfSecs(0)}%.2f,"x10_sec":${rfSecs(1)}%.2f,"time_growth":$rfGrowth%.1f,"base_bins":$pkBaseN,"x10_bins":${pkBaseN * 10},"base_readers":8,"x10_readers":80}"""

    // Boilerplate df-store probe leg: fixed probe batch, delta-summed df
    // store grown 10×, flat probe time — the same history-free contract
    // as chunk_membership, pinned on IncrementalBoilerplate.priorDf's
    // touched-bucket read + sum.
    val bpBatch = 12
    def bpProbeSec(n: Long): Double = {
      val root = TempDirs.scratch("soak-bpdf").toString
      val store = s"$root/df"
      val buckets = math.max(64, (n / 150).toInt)
      Dedup.chunkRows(skewedDocs(spark, n))
        .groupBy("chunk_hash", "chunk_hash2")
        .agg(countDistinct("doc_id").as("df_docs"))
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("chunk_hash"), buckets))
        .repartition(col("id_bucket"))
        .write.partitionBy("id_bucket").parquet(s"$store/batch=0")
      StoragePaths.writeSmallFile(spark,
        s"$store/${IncrementalAnnIndex.IdBucketsMarker}", buckets.toString)
      val probe = Dedup.chunkRows(skewedDocs(spark, bpBatch.toLong)
          .withColumn("doc_id", col("doc_id") + lit(3000000000L)))
        .select("chunk_hash").persist()
      probe.count()
      def go(): Long = graft.streaming.IncrementalBoilerplate
        .priorDf(spark, store, probe, -999L).count()
      go() // warm: codegen + file-index caches, excluded
      val sec = timed(go())._1
      probe.unpersist(blocking = false)
      sec
    }
    val bpBaseN = baseN * 10
    val bpSecs = Seq(bpBaseN, bpBaseN * 10).map(bpProbeSec)
    val bpGrowth = bpSecs(1) / bpSecs(0)
    val bpJson =
      f""""boilerplate_df_probe":{"base_sec":${bpSecs(0)}%.2f,"x10_sec":${bpSecs(1)}%.2f,"time_growth":$bpGrowth%.1f,"store_base":$bpBaseN,"store_x10":${bpBaseN * 10},"batch":$bpBatch}"""

    // Boilerplate df FOLD reset: the additive carry's measurable effect.
    // A long-draining crawl leaves the df store as one delta dir per
    // batch (64 here), and a probe pays per-dir listing + a wider
    // per-bucket fold even when the data bytes are tiny. After the
    // family's Carry.Fold — exercised through the REAL
    // BoilerplateMaintenance.adopt entry point, one summed row per
    // digest at batch=-1 — the SAME probe answers from one compact
    // directory. Gate: fold-not-slower (generous 1.5× band for listing
    // noise at these absolute times); the committed speedup is the
    // evidence the fold resets planning cost, not just row count.
    val dfBatches = 64
    val (dfUnfolded, dfFolded) = {
      val flat = TempDirs.scratch("soak-dffold")
        .toString + "/bp"
      val store = graft.streaming.IncrementalBoilerplate.dfPathOf(flat)
      val buckets = 64
      val rows = Dedup.chunkRows(skewedDocs(spark, (baseN * 3).toLong))
        .groupBy("chunk_hash", "chunk_hash2")
        .agg(countDistinct("doc_id").as("df_docs"))
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("chunk_hash"), buckets))
        .persist()
      rows.count()
      (0 until dfBatches).foreach { b =>
        rows.filter(pmod(col("chunk_hash"), lit(dfBatches.toLong)) === b.toLong)
          .repartition(col("id_bucket"))
          .write.partitionBy("id_bucket").parquet(s"$store/batch=$b")
      }
      rows.unpersist(blocking = false)
      StoragePaths.writeSmallFile(spark,
        s"$store/${IncrementalAnnIndex.IdBucketsMarker}", buckets.toString)
      // the sibling stores the family carry requires (tiny fixtures)
      val corpus = graft.streaming.IncrementalBoilerplate.corpusPathOf(flat)
      spark.range(4).select(col("id").as("doc_id"),
          lit("t").as("clean_text"), lit(1L).as("n_chunks"),
          lit(1L).as("n_kept"))
        .coalesce(1).write.parquet(s"$corpus/batch=0")
      StoragePaths.writeBucketedStoreBatch(spark,
        graft.streaming.IncrementalChunkDedup.docIdIndexPath(corpus),
        spark.range(4).select(col("id").as("doc_id")), "doc_id", 0L, 8,
        legacyFlatFallback = false)
      val probe = Dedup.chunkRows(skewedDocs(spark, bpBatch.toLong)
          .withColumn("doc_id", col("doc_id") + lit(4000000000L)))
        .select("chunk_hash").persist()
      probe.count()
      def go(path: String): Long = graft.streaming.IncrementalBoilerplate
        .priorDf(spark, path, probe, -999L).count()
      go(store) // warm: codegen + file-index caches, excluded
      val before = timed(go(store))._1
      val genRoot = TempDirs.scratch("soak-dffoldg")
        .toString + "/bp"
      graft.streaming.BoilerplateMaintenance.adopt(spark, genRoot, flat)
      val gen = graft.streaming.BoilerplateMaintenance
        .currentRoot(spark, genRoot)
      val foldedStore = graft.streaming.IncrementalBoilerplate.dfPathOf(gen)
      go(foldedStore) // warm the folded store's file index
      val after = timed(go(foldedStore))._1
      probe.unpersist(blocking = false)
      (before, after)
    }
    val dfFoldJson =
      f""""df_fold_probe":{"unfolded_sec":$dfUnfolded%.2f,"folded_sec":$dfFolded%.2f,"batches":$dfBatches,"speedup":${dfUnfolded / dfFolded}%.1f}"""

    // Winnow fingerprint-store probe: the containment twin's membership
    // read is keyed by the 60-bit fingerprint hash (bucketed BY h, so a
    // probed fingerprint's every stored row is in a touched bucket) — a
    // fixed batch's probe must stay FLAT under 10× store growth, the
    // chunk_membership contract on the h-keyed layout.
    val wfBatch = 12
    def wfProbeSec(n: Long): Double = {
      val root = TempDirs.scratch("soak-wf").toString
      val store = graft.streaming.IncrementalWinnow.fpPath(root)
      val buckets = math.max(64, (n / 150).toInt)
      spark.range(n).select(col("id").as("doc_id"),
          (col("id") * 2654435761L + 11L).as("h"))
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("h"), buckets))
        .repartition(col("id_bucket"))
        .write.partitionBy("id_bucket").parquet(s"$store/batch=0")
      StoragePaths.writeSmallFile(spark,
        s"$store/${IncrementalAnnIndex.IdBucketsMarker}", buckets.toString)
      val probe = spark.range(wfBatch.toLong)
        .select(((col("id") * (n / (wfBatch + 1)) + 7L) * 2654435761L + 11L)
          .as("h")).persist()
      probe.count()
      def go(): Long = graft.streaming.IncrementalWinnow
        .priorFingerprints(spark, root, probe, -999L).count()
      go() // warm: codegen + file-index caches, excluded
      val sec = timed(go())._1
      probe.unpersist(blocking = false)
      sec
    }
    val wfBaseN = baseN * 10
    val wfSecs = Seq(wfBaseN, wfBaseN * 10).map(wfProbeSec)
    val wfGrowth = wfSecs(1) / wfSecs(0)
    val wfJson =
      f""""winnow_fp_probe":{"base_sec":${wfSecs(0)}%.2f,"x10_sec":${wfSecs(1)}%.2f,"time_growth":$wfGrowth%.1f,"store_base":$wfBaseN,"store_x10":${wfBaseN * 10},"batch":$wfBatch}"""

    // df-cap mega-key leg: ONE fingerprint planted on hundreds of
    // thousands of docs (df ≫ MaxShingleDf) over a FIXED legitimate pair
    // workload — the adversarial input the boilerplate cap exists for.
    // The scale-safe dfCapped spelling (groupBy → broadcast anti-join)
    // absorbs the hot key in map-side partial aggregation, so 10× more
    // mega-key rows cost one bigger linear scan, never a single-task
    // window buffer holding every row of the key; growth well under the
    // scan-linear 10× proves no task ever buffered it.
    def megaKeySec(hotN: Long): Double = {
      val legit = spark.range(3000L)
        .select(col("id").as("doc_id"),
          explode(sequence(lit(0L), lit(8L))).as("j"))
        .select(col("doc_id"),
          // 9 fps per doc; consecutive doc pairs share all of them, so a
          // real (bounded) overlap workload rides beneath the mega key
          ((col("doc_id") / 2) * 100L + col("j")).as("h"))
      val hot = spark.range(hotN).select(
        (col("id") + 1000000L).as("doc_id"), lit(424242424L).as("h"))
      val rel = legit.unionByName(hot).localCheckpoint()
      def go(): Long = Dedup.winnowOverlapPairsFrom(rel).count()
      go() // warm: codegen caches, excluded
      timed(go())._1
    }
    val mkBase = math.max(200000L, baseN * 60)
    val mkSecs = Seq(mkBase, mkBase * 10).map(megaKeySec)
    val mkGrowth = mkSecs(1) / mkSecs(0)
    val mkJson =
      f""""df_megakey":{"base_sec":${mkSecs(0)}%.2f,"x10_sec":${mkSecs(1)}%.2f,"time_growth":$mkGrowth%.1f,"hot_base":$mkBase,"hot_x10":${mkBase * 10},"legit_docs":3000}"""

    // Band-occupancy mega-bucket: a planted IDENTICAL-text family ≫
    // MaxBandOccupancy lands its every member in ONE bucket per band —
    // the adversarial input for the occupancy degrade.
    // [[Dedup.hotBucketRoots]] absorbs the bucket in map-side groupBy
    // partials and the star branch emits family−1 candidates, so 10× the
    // family must cost ≈linear (one more scan + 10× the star pairs
    // verified), never the single-task window buffering or the df²
    // candidate blowup an uncapped bucket would produce.
    def bandMegaSec(hotN: Long): Double = {
      val legit = spark.range(2000L).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 12).map(j => concat(lit(s"b${j}v"), col("id"))): _*)
          .as("text"))
      val hot = spark.range(hotN).select((col("id") + 2000000L).as("doc_id"),
        lit("the identical near duplicate family document every member " +
          "shares verbatim token for token").as("text"))
      val docs = legit.unionByName(hot).localCheckpoint()
      def go(): Long = Dedup.minhashPairs(docs).count()
      go() // warm: codegen caches, excluded
      timed(go())._1
    }
    val bmbBase = math.max(20000L, baseN * 10)
    val bmbSecs = Seq(bmbBase, bmbBase * 10).map(bandMegaSec)
    val bmbGrowth = bmbSecs(1) / bmbSecs(0)
    val bmbJson =
      f""""band_megabucket":{"base_sec":${bmbSecs(0)}%.2f,"x10_sec":${bmbSecs(1)}%.2f,"time_growth":$bmbGrowth%.1f,"family_base":$bmbBase,"family_x10":${bmbBase * 10},"legit_docs":2000}"""

    // BM25 posting-store probe: the incremental index's search fetches
    // postings with static pruning to the query vocabulary's term buckets
    // (bucketed BY term, so a probed term's every posting is in a touched
    // bucket) — a fixed query batch's probe must stay FLAT as 10× more
    // OFF-vocabulary terms accumulate: per-query I/O is bounded by the
    // probed terms' document frequency, never by corpus bulk.
    val bmBatch = 12
    def bmProbeSec(n: Long): Double = {
      val root = TempDirs.scratch("soak-bm25").toString
      val store = graft.streaming.IncrementalBm25.postingsPath(root)
      val buckets = math.max(64, (n / 150).toInt)
      spark.range(n).select(
          concat(lit("t"), (col("id") * 2654435761L) % (n * 7)).as("term"),
          col("id").as("doc_id"), lit(1L).as("tf"), lit(40L).as("dl"))
        .withColumn("id_bucket",
          IncrementalAnnIndex.idBucket(col("term"), buckets))
        .repartition(col("id_bucket"))
        .write.partitionBy("id_bucket").parquet(s"$store/batch=0")
      StoragePaths.writeSmallFile(spark,
        s"$store/${IncrementalAnnIndex.IdBucketsMarker}", buckets.toString)
      val probe = spark.range(bmBatch.toLong)
        .select(concat(lit("t"),
          ((col("id") * (n / (bmBatch + 1)) + 7L) * 2654435761L) % (n * 7))
          .as("term")).persist()
      probe.count()
      def go(): Long = graft.streaming.IncrementalBm25
        .priorPostings(spark, root, probe).count()
      go() // warm: codegen + file-index caches, excluded
      val sec = timed(go())._1
      probe.unpersist(blocking = false)
      sec
    }
    val bmBaseN = baseN * 10
    val bmSecs = Seq(bmBaseN, bmBaseN * 10).map(bmProbeSec)
    val bmGrowth = bmSecs(1) / bmSecs(0)
    val bmJson =
      f""""bm25_postings_probe":{"base_sec":${bmSecs(0)}%.2f,"x10_sec":${bmSecs(1)}%.2f,"time_growth":$bmGrowth%.1f,"store_base":$bmBaseN,"store_x10":${bmBaseN * 10},"batch":$bmBatch}"""

    // Media byte-fetch probe leg: fixed fetch window, byte CATALOG grown
    // 10× — flat probe time, because the catalog store is id-bucketed
    // with bucket count ∝ catalog size (bucket SIZE is the bounded
    // quantity, the ann_membership policy), so the fetch's partition-
    // pruned read touches ≤ window-distinct-ref buckets either way.
    // The catalog is GROWN BY A DRAIN on top of the bootstrap (a real
    // crawl's shape: batch=-1 history plus live epoch dirs), so the leg
    // measures the probe over the store the incremental path actually
    // produces, not just the one-shot layout.
    val mfBatch = 12
    def mediaFetchSec(n: Long): Double = {
      val root = TempDirs.scratch("soak-mcat").toString
      def mediaRows(lo: Long, hi: Long) =
        spark.range(lo, hi).select(col("id").as("media_id"),
          lit("image").as("media_type"), lit(32L).as("n_bytes"),
          expr("CAST(md5(CAST(id AS STRING)) AS BINARY)").as("payload"))
      val drainN = 2000L.min(n / 2)
      graft.streaming.MediaCatalogStore.write(
        mediaRows(0L, n - drainN), root,
        buckets = math.max(16, (n / 1500).toInt))
      // land the tail as one streamed batch and drain it in
      TempDirs.landOne(mediaRows(n - drainN, n), s"$root/land", "b0.parquet")
      graft.streaming.MediaCatalogStore.run(spark, s"$root/land",
        s"$root/ck", root, mediaRows(0L, 1L).schema)
      val window = spark.range(mfBatch.toLong).select(
        lit(0L).as("reader"), (col("id") + 1L).as("reader_pos"),
        lit(0L).as("shard"), col("id").as("bin"),
        expr(s"array(named_struct('slot', CAST(0 AS BIGINT), " +
          s"'media_ref', (id * ${n / (mfBatch + 1)} + 7) % $n))")
          .as("media_slots")).persist()
      window.count()
      def go(): Long = graft.streaming.MediaCatalogStore
        .fetch(spark, root, window).count()
      go() // warm: codegen + file-index caches, excluded
      val sec = timed(go())._1
      window.unpersist(blocking = false)
      sec
    }
    val mfBaseN = baseN * 10
    val mfSecs = Seq(mfBaseN, mfBaseN * 10).map(mediaFetchSec)
    val mfGrowth = mfSecs(1) / mfSecs(0)
    val mfJson =
      f""""media_fetch_probe":{"base_sec":${mfSecs(0)}%.2f,"x10_sec":${mfSecs(1)}%.2f,"time_growth":$mfGrowth%.1f,"catalog_base":$mfBaseN,"catalog_x10":${mfBaseN * 10},"batch":$mfBatch}"""

    // Learned-admission scoring legs (NB / LM / DSIR): the frozen model
    // tables are BOUNDED (NB/DSIR ≤1024 rows, LM ≤B² observed seed
    // bigrams), so scoring a FIXED batch against a model trained on a 10×
    // corpus must be FLAT (the broadcast join's build side cannot grow
    // past the bound), and scoring a 10× batch against a fixed frozen
    // model must be ~LINEAR (one tokenize + one broadcast join + one
    // hash-aggregate per batch row). Training runs OUTSIDE the timer and
    // the tables are localCheckpointed, so the timed query cannot reach
    // back into the training corpus through the model's lineage.
    def admDocs(n: Long, off: Long): DataFrame =
      spark.range(n).select((col("id") + off).as("doc_id"),
        concat_ws(" ",
          (0 until 12).map(j => concat(lit(s"a${j}q"), col("id") % 211)): _*)
          .as("text"),
        when(col("id") % 3 === 0, lit(graft.ops.QualityClassifier.SeedSource))
          .otherwise(lit("src1")).as("source"),
        when(col("id") % 2 === 0, lit(graft.ops.Dsir.TargetLang))
          .otherwise(lit("xx")).as("lang"))
    val admFamilies: Seq[(String, DataFrame => Seq[DataFrame],
        (DataFrame, Seq[DataFrame]) => Long)] = Seq(
      ("nb",
        (d: DataFrame) => Seq(graft.ops.QualityClassifier.modelTable(d),
          graft.ops.QualityClassifier.priorRow(d)),
        (b: DataFrame, m: Seq[DataFrame]) =>
          graft.ops.QualityClassifier.scoreWith(b, m(0), m(1)).count()),
      ("lm",
        (d: DataFrame) => {
          // one training scan feeds both tables (the seedBigramCounts
          // contract); checkpoint it so the two derivations share it
          val counts = graft.ops.LmPerplexity.seedBigramCounts(d)
            .localCheckpoint()
          Seq(graft.ops.LmPerplexity.modelOf(counts),
            graft.ops.LmPerplexity.contextsOf(counts))
        },
        (b: DataFrame, m: Seq[DataFrame]) =>
          graft.ops.LmPerplexity.scoreWith(b, m(0), m(1)).count()),
      ("dsir",
        (d: DataFrame) => Seq(graft.ops.Dsir.ratioTable(
          graft.ops.Dsir.featureCounts(d))),
        (b: DataFrame, m: Seq[DataFrame]) =>
          graft.ops.Dsir.weightsWith(b, m(0)).count()))
    val admBase = baseN * 10
    val admJsons = scala.collection.mutable.ArrayBuffer[String]()
    val admVerdicts = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    for ((fam, train, scoreF) <- admFamilies) {
      def frozen(n: Long): Seq[DataFrame] = {
        val d = admDocs(n, 0L).cache(); d.count()
        val t = train(d).map(_.localCheckpoint())
        d.unpersist(blocking = false); t
      }
      val m1 = frozen(admBase)
      val m10 = frozen(admBase * 10)
      // scoring is label-free under the frozen seam: (doc_id, text) only
      val batch = admDocs(admBase, 5000000000L).select("doc_id", "text")
        .cache()
      batch.count()
      val batch10 = admDocs(admBase * 10, 6000000000L)
        .select("doc_id", "text").cache()
      batch10.count()
      scoreF(batch, m1) // warm: JIT + codegen caches, excluded
      val mSecs = Seq(m1, m10).map(m => timed(scoreF(batch, m))._1)
      val mGrowth = mSecs(1) / mSecs(0)
      val bSecs = Seq(batch, batch10).map(b => timed(scoreF(b, m1))._1)
      val bGrowth = bSecs(1) / bSecs(0)
      batch.unpersist(blocking = false)
      batch10.unpersist(blocking = false)
      admJsons += f""""${fam}_model_scaled":{"base_sec":${mSecs(0)}%.2f,"x10_sec":${mSecs(1)}%.2f,"time_growth":$mGrowth%.1f,"train_base":$admBase,"train_x10":${admBase * 10},"batch":$admBase}"""
      admJsons += f""""${fam}_batch_scaled":{"base_sec":${bSecs(0)}%.2f,"x10_sec":${bSecs(1)}%.2f,"time_growth":$bGrowth%.1f,"batch_base":$admBase,"batch_x10":${admBase * 10},"train_n":$admBase}"""
      // flat bar (4× admits scheduler noise at these tiny absolute times
      // without admitting train-corpus-proportional growth); linear bar
      // at ~2× the observed multi-round ceiling (the ivfpq_hotlist
      // convention — 30× couldn't tell linear from quadratic here)
      admVerdicts += (s"${fam}_model_scaled" -> (mGrowth < 4.0))
      admVerdicts += (s"${fam}_batch_scaled" -> (bGrowth < 8.0))
    }

    val base = results.head._2.toMap
    val x10 = results.last._2.toMap
    // one growth derivation feeds BOTH the JSON line and the verdict, so
    // the printed number and the pass/fail can't drift apart
    val growths = ops.map { case (name, _) =>
      name -> x10(name)._1 / base(name)._1 }.toMap
    val perOp = ops.map { case (name, _) =>
      val (bSec, bRows) = base(name)
      val (xSec, xRows) = x10(name)
      f""""$name":{"base_sec":$bSec%.2f,"x10_sec":$xSec%.2f,"time_growth":${growths(name)}%.1f,"base_rows":$bRows,"x10_rows":$xRows}"""
    }
    // 10x data through a capped (linear) join: time growth well under the
    // ~100x a quadratic hot bucket would cost. 30x allows constant factors
    // (scheduling, the occupancy windows) without admitting quadratic.
    val verdicts = ops.map { case (name, _) =>
      name -> (growths(name) < 30.0)
    } :+
      // history-free, not just linear: 10× the store, flat probe time
      // (4× admits scheduler/listing noise at these tiny absolute times
      // without admitting store-proportional growth)
      ("ann_membership" -> (annGrowth < 4.0)) :+
      ("curation_band_probe" -> (curGrowth < 4.0)) :+
      ("chunk_membership" -> (chunkGrowth < 4.0)) :+
      ("pq_membership" -> (pqmGrowth < 4.0)) :+
      // linear bars: capped candidates (ivfpq) and an AQE-sized join over
      // a batch that itself grew 10× (source cap). Gates sit at ~2× the
      // observed multi-round ceiling (1.6–1.9× / 1.7–1.8×) — a 30× bar
      // cannot tell flat from quadratic-with-small-constant
      ("ivfpq_hotlist" -> (ipqGrowth < 8.0)) :+
      ("source_cap_wide" -> (scGrowth < 8.0)) :+
      // near-flat since the dup join broadcasts the bounded head
      // (observed ~1.1–1.5×: the one-list corpus no longer funnels its
      // member × head pairs through a single list_id-keyed task); gate
      // at the sibling flat bar — a shuffled-join regression shows as ≫5×
      ("semdedup_hotlist" -> (sdGrowth < 5.0)) :+
      // the model is LINEAR in the corpus (the eval side broadcasts and
      // candidates are per-corpus-row bounded), so the gate must sit
      // ABOVE the model's own asymptote, not at ~2× the observed sample
      // (1.0–1.3× across rounds — fixed costs dominate at this leg's
      // absolute sizes, but nothing pins that they always will: on a
      // host where they amortize, a CORRECT build converges toward 10×
      // and a <4 gate would spuriously fail it — the exact
      // reader_feed_scaled lesson, applied here). 15× still catches the
      // regressions this leg exists for: the eval side falling out of
      // broadcast or candidates going quadratic shows as ≫10×
      ("decontam_probe" -> (dcGrowth < 15.0)) :+
      // claims FLAT (10× docs with 10× shards through one id-width
      // shuffle and constant per-shard window work; observed 0.9–2.2×) —
      // the gate matches the claim so a regression to quadratic cannot
      // hide under a linear bar
      ("pack_scaled_shards" -> (pkGrowth < 5.0)) :+
      // payload-width materialization: LINEAR in the moved bytes, not
      // flat — 10× docs is 10× payload through the one exchange, with
      // fixed costs amortizing (observed 1.4 / 2.7 / 2.4 across r12–r14
      // host states; the early 1.4 was the fixed-cost-dominated end, and
      // a fresh-host r14 re-measure reproduced ~2.4, so the claim is
      // pinned linear — see BASELINE.md). Gate ~2× the observed ceiling;
      // a second payload movement or unbounded assembly shows as ≫10×
      ("payload_scaled_shards" -> (plGrowth < 5.0)) :+
      // linear bar, tightened once the bin seam made the plan id-width
      // only (no tokenize of text can hide in here anymore): 10× bins
      // with 10× readers through the bin aggregate and one reader-keyed
      // id-width shuffle
      ("epoch_scaled_readers" -> (epGrowth < 5.0)) :+
      // LINEAR bar, deliberately not the flat 5× of its epoch sibling:
      // the fetch's whole job is to MOVE the served bytes, and 10× bins
      // is 10× bytes — a correct implementation CONVERGES TOWARD 10× as
      // fixed costs amortize (observed 2.2–4.8 across host states), so
      // the gate must sit ABOVE that asymptote, not at ~2× the sample
      // ceiling: an 8× bar would spuriously fail a correct build the
      // first time fixed costs fully amortize (and the warmup note below
      // admits one cache effect can double the reported growth). 15×
      // still catches the regressions this leg exists for — a second
      // payload movement or a per-leg re-aggregation of the fragment
      // store shows as ≫10×
      ("reader_feed_scaled" -> (rfGrowth < 15.0)) :+
      // history-free: 10× the df store, flat probe (the chunk_membership
      // rationale on the delta-summed read)
      ("boilerplate_df_probe" -> (bpGrowth < 4.0)) :+
      // fold-not-slower: the additive carry must never cost the probe
      // (its whole point is resetting listing/planning cost)
      ("df_fold_probe" -> (dfFolded <= dfUnfolded * 1.5)) :+
      // history-free: 10× the fingerprint store, flat h-keyed probe
      ("winnow_fp_probe" -> (wfGrowth < 4.0)) :+
      // mega-key: 10× the planted boilerplate key's rows over a fixed
      // legit workload — well under scan-linear means no task buffered it
      ("df_megakey" -> (mkGrowth < 5.0)) :+
      // mega-bucket: 10× the planted identical family through the
      // occupancy degrade — observed 2.9× (sub-linear: the star pairs
      // grow 10× but fixed scan costs dominate); gate at ~2× that. A
      // buffered window or df² bucket shows up as ≫10×
      ("band_megabucket" -> (bmbGrowth < 6.0)) :+
      // history-free: 10× the off-vocabulary posting bulk, flat
      // term-keyed probe of a fixed query vocabulary
      ("bm25_postings_probe" -> (bmGrowth < 4.0)) :+
      // history-free: 10× the byte catalog, flat window fetch (the
      // id-bucketed store's partition-pruned probe — ann_membership's
      // rationale applied to media bytes)
      ("media_fetch_probe" -> (mfGrowth < 4.0)) :++
      admVerdicts
    println(s"""{"harness":"skew_soak","base_n":$baseN,"hot_fraction":0.3,${perOp.mkString(",")},$annJson,$curJson,$chunkJson,$pqmJson,$ipqJson,$scJson,$sdJson,$dcJson,$pkJson,$plJson,$epJson,$rfJson,$bpJson,$dfFoldJson,$wfJson,$mkJson,$bmbJson,$bmJson,$mfJson,${admJsons.mkString(",")},"linear":${verdicts.forall(_._2)}}""")
    spark.stop()
    if (!verdicts.forall(_._2)) {
      verdicts.filterNot(_._2).foreach { case (n, _) =>
        System.err.println(s"SOAK FAIL: $n grew superlinearly") }
      sys.exit(1)
    }
  }
}
