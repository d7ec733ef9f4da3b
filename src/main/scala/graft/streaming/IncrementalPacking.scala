package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.Packing

/** Incremental sequence packing — the ongoing-crawl shape of
  * [[graft.ops.Packing]]: admitted documents arrive continuously and must
  * land in fixed-token-budget training bins WITHOUT repacking what
  * already shipped (a trainer may already have consumed those shards).
  * Each shard keeps one CURSOR — its running token total — and an
  * arriving batch simply continues every shard's running sum from the
  * cursor: a document's bin is where its span starts in the shard's
  * GLOBAL token stream, exactly as if the whole corpus had been packed in
  * one pass. Because the bin function depends only on (cursor, the
  * batch's own per-shard prefix sums), an ordered drain reproduces the
  * batch operator row-for-row, and bins already written never move.
  *
  * Scale/correctness shape:
  *
  *  - **Per-batch cost ∝ batch, plus one ≤[[Packing.Shards]]-row cursor
  *    snapshot read** — no bin store history is read at all; the cursor
  *    IS the whole packing state (the same bounded-state idea as
  *    [[IncrementalSourceCap]]'s spent-budget deltas, but snapshot-sized:
  *    one row per shard per batch, folded by
  *    [[StoreMaintenance.compact]] when the snapshots accumulate).
  *  - **Exactly-once** via the house per-batch overwrite contract: the
  *    cursor read takes the strictly-BEFORE state (see [[cursor]]), so an
  *    at-least-once replay recomputes from the same prior state and
  *    rewrites `batch=N` with identical rows.
  *  - **The shard count is frozen at bootstrap** (a `_shards` marker,
  *    the `_id_buckets` convention): re-running with a different
  *    [[Packing.Shards]] default cannot silently re-route documents —
  *    the stored count wins, loudly.
  *  - Re-crawl admission (first-write-wins on doc_id across batches) is
  *    deliberately NOT this module's contract — packing sits at the END
  *    of the funnel, behind the dedup/curation/cap stages that own
  *    admission ([[IncrementalDsir]] documents the same division); a
  *    document fed twice would be packed twice, exactly as the batch
  *    operator would pack a corpus containing it twice.
  */
object IncrementalPacking {

  def binsPath(root: String): String = s"$root/bins"
  def cursorPath(root: String): String = s"$root/cursor"
  def payloadsPath(root: String): String = s"$root/payloads"

  /** The ACCUMULATING stores under a packing root — the list the
    * fresh-era guard walks (payloads only exist when [[run]] was given a
    * `payloadVocab`; an absent store guards as trivially clean). All
    * survive maintenance to `batch=-1` (the cursor read is
    * compaction-safe; payload fragments fold in batch order).
    */
  def storePaths(root: String): Seq[String] =
    Seq(binsPath(root), cursorPath(root), payloadsPath(root))
  def shardsMarker(root: String): String = s"$root/_shards"
  def budgetMarker(root: String): String = s"$root/_budget"
  def tokensSourceMarker(root: String): String = s"$root/_tokens_source"
  def payloadsMarker(root: String): String = s"$root/_payloads"

  /** The identity of an `n_tokens` source: md5 of the SQL text. The text
    * embeds everything that prices a token — for the subword source, the
    * splatted vocabulary literal and maxWordLen included — so two sources
    * hash equal iff they count identically on every document.
    */
  def tokensSourceId(nTokensSql: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(nTokensSql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map("%02x".format(_)).mkString
  }

  /** Schema of the packed-assignment store (plus the `batch` column). */
  val BinsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("shard", LongType),
    StructField("n_tokens", LongType),
    StructField("bin", LongType),
    StructField("bin_offset", LongType)))

  /** The shard count this store was created with. */
  def storedShards(spark: SparkSession, root: String): Option[Int] =
    StoragePaths.readSmallFile(spark, shardsMarker(root)).map(_.trim.toInt)

  /** The token budget this store was packed at. Frozen like the shard
    * count: every bin boundary in the store is a multiple of the budget
    * the packer ran with, so a rebuilt binary whose [[Packing.Budget]]
    * differs continuing an existing store would silently re-bin all
    * future documents against history packed at the old budget — the
    * exact drift the `_shards` marker exists to block, one knob over.
    */
  def storedBudget(spark: SparkSession, root: String): Option[Int] =
    StoragePaths.readSmallFile(spark, budgetMarker(root)).map(_.trim.toInt)

  /** The token-source identity this store was packed under
    * ([[tokensSourceId]]). Frozen like the shard count and budget: the
    * cursor history is a running sum in the SOURCE's unit, so a store
    * packed on whitespace counts silently continued under subword counts
    * (or a different vocabulary) would price every future bin in a
    * different unit than the history it extends — the exact drift the
    * `_budget` marker blocks, one knob over.
    */
  def storedTokensSource(spark: SparkSession, root: String): Option[String] =
    StoragePaths.readSmallFile(spark, tokensSourceMarker(root)).map(_.trim)

  /** The identity of an interleaved-multimodal payload configuration —
    * the `_payloads` marker value of an mm root: `"mm:" + md5(carriage +
    * "\n" + mediaRef)`. The carriage predicate already freezes through
    * `_tokens_source` (it prices the placeholder), but the REF expression
    * prices nothing — without this, a drain continuing under a different
    * `mediaRefSql` would keep every token identical while the sidecar
    * silently started keying a different catalog.
    */
  def payloadsModeMm(carriageSql: String, mediaRefSql: String): String =
    "mm:" + tokensSourceId(carriageSql + "\n" + mediaRefSql)

  /** The payload-materialization MODE this store froze at bootstrap:
    * `"0"` (no fragments), `"1"` (text-only fragments), or `"mm:…"`
    * (interleaved multimodal fragments under a specific carriage + ref
    * configuration, [[payloadsModeMm]]). Frozen like the other config:
    * fragments are written per batch only as [[run]] was configured, and
    * nothing else records that choice — so flipping any of it mid-history
    * would pass every other marker while [[payloadStreams]] /
    * [[payloadStreamsMm]] silently served a desynced trainer feed. The
    * marker makes the disagreement refuse loudly instead.
    */
  def storedPayloadsMode(spark: SparkSession, root: String): Option[String] =
    StoragePaths.readSmallFile(spark, payloadsMarker(root)).map(_.trim)

  /** Whether this store materializes payload fragments at all (either
    * mode) — the surface [[PackingMigration]] inherits across eras.
    */
  def storedPayloadsEnabled(spark: SparkSession, root: String): Option[Boolean] =
    storedPayloadsMode(spark, root).map(_ != "0")

  /** The per-shard cursor as of the latest batch STRICTLY BEFORE
    * `beforeBatchId` — `(shard, cum_tokens)`, missing shards implicitly
    * 0. Strictly-before (not merely "not mine") is the replay contract:
    * structured streaming reuses batch ids on replay, so a replayed
    * batch N must see exactly the pre-N state even while later
    * snapshots still exist. Snapshot semantics: each batch writes the
    * COMPLETE ≤shards-row state, so only the latest qualifying snapshot
    * is read (the accumulated snapshots are one tiny row-group per
    * batch; fold them away with [[StoreMaintenance.compact]], whose
    * `batch=-1` output is by construction before every live batch).
    */
  def cursor(
      spark: SparkSession,
      root: String,
      beforeBatchId: Long): DataFrame = {
    val path = cursorPath(root)
    val schema = StructType(Seq(
      StructField("shard", LongType), StructField("cum_tokens", LongType)))
    if (!StoragePaths.exists(spark, path)) StoragePaths.emptyOf(spark, schema)
    else {
      val all = spark.read.parquet(path)
        .filter(col("batch").cast("long") < beforeBatchId)
      // latest snapshot wins — spelled as MAX(cum_tokens), which is the
      // same thing because a shard's cursor never decreases, and unlike
      // max_by(·, batch) it stays correct after StoreMaintenance.compact
      // folds every snapshot into batch=-1 (where batch ids tie and a
      // max_by pick would be arbitrary)
      all.groupBy("shard").agg(max("cum_tokens").as("cum_tokens"))
    }
  }

  /** Pack one batch continuing from `cur` — the batch-shaped
    * [[Packing.packBins]]: same shard hash, same within-shard doc_id
    * order, with every span shifted by the shard's cursor. Returns the
    * assignment rows plus the post-batch cursor snapshot.
    */
  def packBatch(docs: DataFrame, cur: DataFrame, shards: Int,
      nTokensSql: String = Packing.WhitespaceTokensSql)
      : (DataFrame, DataFrame) = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the batch operator's OWN shard-hash + token-count projection —
    // shared, not re-spelled, so drain≡batch can't silently diverge if
    // the salt or token expression ever changes
    val packed = Packing.sized(docs, shards, nTokensSql)
      .withColumn("batch_cum", sum("n_tokens").over(w))
      .join(broadcast(cur), Seq("shard"), "left")
      .withColumn("cum_tokens",
        col("batch_cum") + coalesce(col("cum_tokens"), lit(0L)))
      .withColumn("bin",
        floor((col("cum_tokens") - col("n_tokens")) / Packing.Budget)
          .cast("long"))
      .withColumn("bin_offset",
        (col("cum_tokens") - col("n_tokens")) - col("bin") * Packing.Budget)
    val bins = packed
      .select("doc_id", "shard", "n_tokens", "bin", "bin_offset")
    val nextCursor = packed.groupBy("shard")
      .agg(max("cum_tokens").as("cum_tokens"))
      // shards this batch never touched carry their old cursor forward —
      // a snapshot must be COMPLETE or the next read would reset them
      .unionByName(cur.join(
        packed.select("shard").distinct(), Seq("shard"), "left_anti"))
    (bins, nextCursor)
  }

  /** One batch's trainer-feed PAYLOAD FRAGMENTS — the incremental shape of
    * [[Packing.binPayloads]]: `(shard, bin, n_docs, bin_tokens,
    * input_ids)` rows for exactly the bins this batch touches, with the
    * id streams concatenated in the batch's own doc_id order. Bins
    * already shipped never move, but a batch EXTENDS its shard's boundary
    * bin (the bin the cursor points into), so a payload-materializing
    * drain writes per-batch FRAGMENTS (`…/payloads/batch=N`, the house
    * overwrite contract — this relation is a pure function of
    * (batch, cursor), so replays rewrite identical rows) and a loader
    * reads bin B as its fragments concatenated in batch order. Over an
    * ordered drain the concatenation equals [[Packing.binPayloads]] of
    * the union corpus fragment-for-token (asserted in the spec) — the
    * family's drain≡batch contract extended to the payload bytes.
    *
    * The token source is the SUBWORD kernel under `vocab` (one call
    * prices and encodes — `bin_tokens == size(input_ids)` by the
    * shared-matchAt contract), so a drain wiring this beside [[run]] must
    * pass `nTokensSql = TextAnalysis.subwordCountSqlWith(vocab)` there:
    * the `_tokens_source` marker then freezes the SAME vocabulary both
    * relations are priced in.
    */
  def packBatchPayloads(docs: DataFrame, cur: DataFrame, shards: Int,
      vocab: Seq[String]): DataFrame =
    payloadsFromBins(docs,
      packBatch(docs, cur, shards,
        graft.ops.TextAnalysis.subwordCountSqlWith(vocab))._1,
      vocab)

  /** The fragment assembly over an ALREADY-COMPUTED batch bin relation —
    * the seam [[run]] uses so the per-batch window runs once, feeding
    * both the bin write and the payload write.
    */
  private def payloadsFromBins(docs: DataFrame, bins: DataFrame,
      vocab: Seq[String]): DataFrame = {
    val ids = docs.selectExpr("doc_id",
      s"${graft.ops.TextAnalysis.subwordIdsSqlWith(vocab)} AS ids")
    bins.join(ids, Seq("doc_id"))
      .groupBy("shard", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        flatten(transform(
          array_sort(collect_list(struct(col("doc_id"), col("ids")))),
          x => x.getField("ids"))).as("input_ids"))
  }

  /** One batch's INTERLEAVED MULTIMODAL payload fragments — the
    * incremental shape of [[graft.ops.Packing.binPayloadsMm]]: the text
    * fragment columns plus the media sidecar's RAW coordinates. The final
    * sidecar slot is STREAM-relative (`slot = bin_offset − min bin_offset
    * over the WHOLE bin`), but a batch only sees its own fragment — a
    * boundary bin's true base offset may live in an EARLIER batch's
    * fragment — so fragments carry the un-rebased `(off = bin_offset,
    * media_ref)` pairs plus the fragment's own `frag_base_off`, and
    * [[payloadStreamsMm]] rebases against the min across all fragments at
    * read time. The bins must have been priced under
    * [[graft.ops.Packing.mmTokensSqlWith]] (placeholder included), so
    * `bin_tokens == size(input_ids)` holds fragment-for-fragment.
    */
  def packBatchPayloadsMm(docs: DataFrame, cur: DataFrame, shards: Int,
      vocab: Seq[String],
      carriageSql: String = graft.ops.Packing.MediaCarriageSql,
      mediaRefSql: String = graft.ops.Packing.MediaRefSql): DataFrame =
    payloadsMmFromBins(docs,
      packBatch(docs, cur, shards,
        graft.ops.Packing.mmTokensSqlWith(vocab, carriageSql))._1,
      vocab, carriageSql, mediaRefSql)

  /** The mm fragment assembly over an ALREADY-COMPUTED batch bin
    * relation — [[payloadsFromBins]]' seam with the interleave and the
    * raw sidecar coordinates, mirroring [[graft.ops.Packing
    * .binPayloadsMm]]'s aggregation exactly (same placeholder position,
    * same `(off, media_ref)` sort order).
    */
  private def payloadsMmFromBins(docs: DataFrame, bins: DataFrame,
      vocab: Seq[String], carriageSql: String,
      mediaRefSql: String): DataFrame = {
    val ids = docs.selectExpr("doc_id",
      s"${graft.ops.TextAnalysis.subwordIdsSqlWith(vocab)} AS raw_ids",
      s"CAST(($carriageSql) AS BOOLEAN) AS has_media",
      s"CAST(($mediaRefSql) AS BIGINT) AS media_ref")
    bins.join(ids, Seq("doc_id"))
      .withColumn("ids",
        when(col("has_media"), concat(
          array(lit(graft.ops.Packing.MediaSlotId)), col("raw_ids")))
          .otherwise(col("raw_ids")))
      .groupBy("shard", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        flatten(transform(
          array_sort(collect_list(struct(col("doc_id"), col("ids")))),
          x => x.getField("ids"))).as("input_ids"),
        min("bin_offset").as("frag_base_off"),
        array_sort(collect_list(when(col("has_media"),
          struct(col("bin_offset").as("off"), col("media_ref")))))
          .as("media_offs"))
  }

  /** The accumulated MULTIMODAL trainer feed — [[payloadStreams]] with
    * the sidecar: fragments concatenate in batch order, the bin's base
    * offset is the min `frag_base_off` across its fragments (offsets grow
    * monotonically with the stream, so the earliest fragment holds it),
    * and every raw `(off, media_ref)` pair rebases against it — a
    * boundary bin whose media arrived in a LATER batch still gets
    * stream-relative slots that index the CONCATENATED `input_ids`
    * correctly. Over an ordered drain this equals
    * [[graft.ops.Packing.binPayloadsMm]] of the whole corpus, sidecar
    * included (asserted in the spec). Refuses a non-mm root: serving a
    * text store through the mm reader (or vice versa,
    * [[payloadStreams]]' own guard) would silently desync a trainer.
    */
  def payloadStreamsMm(spark: SparkSession, root: String,
      upToBatch: Option[Long] = None): DataFrame = {
    storedPayloadsMode(spark, root).foreach(m => require(m.startsWith("mm:"),
      s"IncrementalPacking.payloadStreamsMm: store at $root materializes " +
        s"payload mode '$m', not interleaved multimodal — a text feed has " +
        "no sidecar; read it with payloadStreams"))
    val path = payloadsPath(root)
    if (!StoragePaths.exists(spark, path))
      StoragePaths.emptyOf(spark, StructType(Seq(
        StructField("shard", LongType), StructField("bin", LongType),
        StructField("n_docs", LongType), StructField("bin_tokens", LongType),
        StructField("input_ids", org.apache.spark.sql.types.ArrayType(
          LongType, containsNull = false)),
        StructField("media_slots", org.apache.spark.sql.types.ArrayType(
          StructType(Seq(
            StructField("slot", LongType),
            StructField("media_ref", LongType))), containsNull = false)))))
    else
      spark.read.parquet(path)
        // the same pin as payloadStreams — see its scaladoc
        .filter(upToBatch.fold(lit(true))(hw =>
          col("batch").cast("long") <= hw))
        .groupBy("shard", "bin")
        .agg(
          sum("n_docs").as("n_docs"),
          sum("bin_tokens").as("bin_tokens"),
          flatten(transform(
            array_sort(collect_list(struct(
              col("batch").cast("long").as("b"), col("input_ids")))),
            x => x.getField("input_ids"))).as("input_ids"),
          min("frag_base_off").as("base_off"),
          flatten(collect_list(col("media_offs"))).as("offs_raw"))
        .withColumn("media_slots", expr(
          // re-sort after the merge: fragment order is batch order, and
          // offsets are monotone across batches, but the sort makes the
          // sidecar order a property of the DATA, not the fold path
          "transform(array_sort(offs_raw), o -> named_struct(" +
            "'slot', o.off - base_off, 'media_ref', o.media_ref))"))
        .select("shard", "bin", "n_docs", "bin_tokens", "input_ids",
          "media_slots")
  }

  /** The accumulated trainer feed: one row per (shard, bin) with its
    * fragments concatenated in BATCH ORDER — [[StoreMaintenance]]'s
    * `batch=-1` sorts below every live epoch, so a folded generation's
    * single fragment keeps its place when fresh eras append after it.
    * Over an ordered drain this equals [[graft.ops.Packing.binPayloads]]
    * of the whole corpus (asserted in the spec).
    */
  def payloadStreams(spark: SparkSession, root: String,
      upToBatch: Option[Long] = None): DataFrame = {
    storedPayloadsMode(spark, root).foreach(m => require(!m.startsWith("mm:"),
      s"IncrementalPacking.payloadStreams: store at $root materializes " +
        "interleaved multimodal fragments — its id streams carry media " +
        "placeholders a text trainer cannot price; read it with " +
        "payloadStreamsMm"))
    val path = payloadsPath(root)
    if (!StoragePaths.exists(spark, path))
      StoragePaths.emptyOf(spark, StructType(Seq(
        StructField("shard", LongType), StructField("bin", LongType),
        StructField("n_docs", LongType), StructField("bin_tokens", LongType),
        StructField("input_ids", org.apache.spark.sql.types.ArrayType(
          LongType, containsNull = false)))))
    else
      spark.read.parquet(path)
        // the epoch-plan pin, applied to the payload side too: fragments
        // of batches past the high-water mark extend shard-boundary bins
        // the pinned plan sized as-of-pin, so an unpinned read would
        // serve MORE tokens than the plan's bin_tokens promise (batch=-1
        // folds sort below every pin — always included)
        .filter(upToBatch.fold(lit(true))(hw =>
          col("batch").cast("long") <= hw))
        .groupBy("shard", "bin")
        .agg(
          sum("n_docs").as("n_docs"),
          sum("bin_tokens").as("bin_tokens"),
          flatten(transform(
            array_sort(collect_list(struct(
              col("batch").cast("long").as("b"), col("input_ids")))),
            x => x.getField("input_ids"))).as("input_ids"))
  }

  /** Fold accumulated payload fragments into ONE fragment per bin at
    * `batch=-1`, concatenated in batch order — the payload store's
    * maintenance carry. `Carry.Rows` would be WRONG here: it lands every
    * fragment at one batch id, erasing the batch order the concatenation
    * depends on, so the fold pre-concatenates (exactly what
    * [[payloadStreams]] computes) and verifies by exact token totals on
    * both the summed counters and the materialized id lengths.
    */
  private[streaming] def foldPayloads(spark: SparkSession, src: String,
      dest: String, numFiles: Int = 1): Unit = {
    if (!StoragePaths.exists(spark, src)) return
    val all = spark.read.parquet(src)
    // mm fragments fold the same way, PLUS the sidecar carry: the merged
    // raw (off, media_ref) pairs stay UN-rebased (payloadStreamsMm rebases
    // at read time against min frag_base_off — which the fold preserves as
    // the min across the folded generation), verified by slot count
    val mm = all.columns.contains("media_offs")
    val want = all.agg(
      coalesce(sum("bin_tokens"), lit(0L)),
      coalesce(sum(size(col("input_ids")).cast("long")), lit(0L)),
      if (mm) coalesce(sum(size(col("media_offs")).cast("long")), lit(0L))
      else lit(0L))
      .collect().head
    val textAggs = Seq(
      sum("n_docs").as("n_docs"),
      sum("bin_tokens").as("bin_tokens"),
      flatten(transform(
        array_sort(collect_list(struct(
          col("batch").cast("long").as("b"), col("input_ids")))),
        x => x.getField("input_ids"))).as("input_ids"))
    val aggs = if (mm) textAggs ++ Seq(
      min("frag_base_off").as("frag_base_off"),
      array_sort(flatten(collect_list(col("media_offs"))))
        .as("media_offs"))
    else textAggs
    val folded = spark.read.parquet(src)
      .groupBy("shard", "bin")
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint()
    val got = folded.agg(
      coalesce(sum("bin_tokens"), lit(0L)),
      coalesce(sum(size(col("input_ids")).cast("long")), lit(0L)),
      if (mm) coalesce(sum(size(col("media_offs")).cast("long")), lit(0L))
      else lit(0L))
      .collect().head
    require(got.getLong(0) == want.getLong(0) &&
      got.getLong(1) == want.getLong(1) &&
      want.getLong(0) == want.getLong(1) &&
      got.getLong(2) == want.getLong(2),
      s"IncrementalPacking.foldPayloads: token/slot totals diverged " +
        s"folding $src (counters ${want.getLong(0)}→${got.getLong(0)}, " +
        s"ids ${want.getLong(1)}→${got.getLong(1)}, slots " +
        s"${want.getLong(2)}→${got.getLong(2)}) — not publishing")
    // the folded relation is the ACCUMULATED trainer feed — corpus-scale
    // token ids, not a small cursor — so the maintenance loop's numFiles
    // knob sizes the write like the Rows/Fold carries, never a forced
    // single task/file
    folded.repartition(numFiles).write.mode("errorifexists")
      .parquet(s"$dest/batch=${StoreMaintenance.CompactedBatch}")
  }

  /** The fill/waste calibration surface over the ACCUMULATED bin store —
    * the [[Packing.stats]] aggregation applied to everything drained so
    * far: `(shard, n_docs, n_bins, total_tokens, max_bin_tokens,
    * overflow_bins)`. Because bins continue across batches, this equals
    * the batch operator's stats over the concatenated corpus.
    */
  def storeStats(spark: SparkSession, root: String): DataFrame = {
    StoragePaths.readOrEmpty(spark, binsPath(root), BinsSchema)
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("bin_docs"), sum("n_tokens").as("bin_tokens"))
      .groupBy("shard")
      .agg(
        sum("bin_docs").as("n_docs"),
        count(lit(1)).as("n_bins"),
        sum("bin_tokens").as("total_tokens"),
        max("bin_tokens").as("max_bin_tokens"),
        sum(when(col("bin_tokens") > Packing.Budget, 1L).otherwise(0L))
          .as("overflow_bins"))
  }

  /** The BIN MANIFEST over the store — [[graft.ops.Packing.binManifest]]
    * read straight off the accumulated bin relation (the store already
    * holds `(doc_id, shard, n_tokens, bin, bin_offset)`, so the
    * attention-mask surface is a pure id-width window, no text touched
    * and no re-tokenize). Same pin semantics as [[epochPlanAt]]: spans of
    * a boundary bin computed at a pin stay correct for the fragments a
    * feed pinned at the SAME batch serves, because both read exactly the
    * as-of-pin rows. Drain ≡ batch is inherited from the bins store
    * (offsets continue the cursor), asserted in the spec.
    */
  def binManifest(
      spark: SparkSession,
      root: String,
      upToBatch: Option[Long] = None): DataFrame =
    graft.ops.Packing.manifestFromBins(binsUpTo(spark, root, upToBatch))

  /** The bin store pinned at a batch high-water mark, degrading to the
    * typed empty relation when the store does not exist — whether the pin
    * was defaulted (latestBinsBatch = None) or EXPLICIT: a caller pinning
    * a not-yet-drained root must get the same empty-store contract as the
    * unpinned read, not an AnalysisException from the raw parquet read.
    */
  private def binsUpTo(
      spark: SparkSession,
      root: String,
      upToBatch: Option[Long]): DataFrame =
    upToBatch.orElse(latestBinsBatch(spark, root)) match {
      case Some(hw) if StoragePaths.exists(spark, binsPath(root)) =>
        spark.read.parquet(binsPath(root))
          .filter(col("batch").cast("long") <= hw)
          .drop("batch")
      case _ => StoragePaths.emptyOf(spark, BinsSchema)
    }

  /** Latest batch id present in the bins store — the natural epoch pin
    * for [[epochPlanAt]]. None when nothing has been drained yet.
    */
  def latestBinsBatch(spark: SparkSession, root: String): Option[Long] =
    if (!StoragePaths.exists(spark, binsPath(root))) None
    else {
      val m = spark.read.parquet(binsPath(root))
        .agg(max(col("batch").cast("long"))).head()
      if (m.isNullAt(0)) None else Some(m.getLong(0))
    }

  /** Epoch plan over the bins store PINNED at a batch high-water mark —
    * the growing-store spelling of [[Packing.epochPlanFrom]]. The pin is
    * the stability contract: `reader_pos` is a row_number over each
    * reader's dealt bins, so planning over the LIVE store while a drain
    * appends would interleave new bins into the hash order and shift
    * positions of bins a trainer already consumed. Pinning at `upToBatch`
    * (default: the latest batch at call time) makes the plan a pure
    * function of (epoch, pin) — re-deriving epoch k at the same pin is
    * bit-identical no matter how far the store has grown since, and the
    * shard-boundary bin that batch `pin+1` later extends is planned with
    * its as-of-pin content, deterministically. Per-epoch cost is id-width
    * only: the store holds `(doc_id, shard, n_tokens, bin, …)` rows, so
    * no text is read, let alone re-tokenized. (Pins index LIVE batch ids:
    * derive any plan you need before folding the bins store with
    * [[StoreMaintenance.compact]], which collapses ids into `batch=-1`.)
    */
  def epochPlanAt(
      spark: SparkSession,
      root: String,
      epoch: Int,
      readers: Int = Packing.Readers,
      upToBatch: Option[Long] = None): DataFrame =
    Packing.epochPlanFrom(binsUpTo(spark, root, upToBatch), epoch, readers)

  /** The trainer-reader FETCH over a store — [[epochPlanAt]] composed
    * with [[payloadStreams]] at ONE pin: each reader stream's
    * `(reader, reader_pos) → input_ids`, the join a training loop
    * actually issues. Both sides are pinned at the same batch high-water
    * mark (default: the latest bins batch at call time), so the plan's
    * `bin_tokens` promise and the served id stream agree even while a
    * drain keeps extending shard-boundary bins past the pin. The plan is
    * dealt from the payload store's OWN per-bin stats (identical to
    * [[epochPlanAt]]'s by the drain≡batch contract — pinned in the spec —
    * and one store read instead of two; parquet column pruning keeps the
    * stats leg id-width); the payload column crosses exactly ONE
    * exchange — the fragment concatenation inside [[payloadStreams]],
    * whose (shard, bin) partitioning the fetch join reuses (asserted in
    * `PlanSpec`).
    *
    * Store contract: the `_payloads` marker guarantees fragments exist
    * for every drained batch or none — a feed over a fragment-less root
    * is empty, never silently partial.
    */
  def readerFeed(
      spark: SparkSession,
      root: String,
      epoch: Int,
      readers: Int = Packing.Readers,
      upToBatch: Option[Long] = None): DataFrame = {
    val pin = upToBatch.orElse(latestBinsBatch(spark, root))
    Packing.readerFeedFrom(
      payloadStreams(spark, root, pin), epoch, readers)
  }

  /** The MULTIMODAL trainer-reader fetch over a store — [[readerFeed]]
    * with the sidecar riding the one payload join: `(reader, reader_pos)
    * → (input_ids, media_slots)` over [[payloadStreamsMm]] at one pin,
    * through the SAME [[graft.ops.Packing.readerFeedMmFrom]] spelling the
    * batch operator serves (drain ≡ batch, sidecar included — asserted in
    * the spec). Inherits the mode guard: a text root refuses here instead
    * of serving a feed with no slots.
    */
  def readerFeedMm(
      spark: SparkSession,
      root: String,
      epoch: Int,
      readers: Int = Packing.Readers,
      upToBatch: Option[Long] = None): DataFrame = {
    val pin = upToBatch.orElse(latestBinsBatch(spark, root))
    Packing.readerFeedMmFrom(
      payloadStreamsMm(spark, root, pin), epoch, readers)
  }

  /** Drain the landing dir (Trigger.AvailableNow), packing every batch
    * against the per-shard cursors. Assignment rows land in
    * `root/bins/batch=N`, the post-batch cursor snapshot in
    * `root/cursor/batch=N`; with `payloadVocab` set, the batch's
    * trainer-feed payload fragments land in `root/payloads/batch=N` too
    * ([[packBatchPayloads]] semantics — the batch's ONE packing window
    * feeds both writes). The payload vocabulary must BE the run's token
    * source: fragments priced in a different unit than the bins would
    * desynchronize the feed from the cursor history, so the mismatch
    * refuses loudly up front. Returns the accumulated bin store.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      schema: StructType,
      shards: Int = Packing.Shards,
      nTokensSql: String = Packing.WhitespaceTokensSql,
      payloadVocab: Option[Seq[String]] = None,
      mmCarriageSql: Option[String] = None,
      mmMediaRefSql: String = Packing.MediaRefSql): DataFrame = {
    require(mmCarriageSql.isEmpty || payloadVocab.isDefined,
      "IncrementalPacking.run: mmCarriageSql configures the payload " +
        "fragments' media sidecar — it needs a payloadVocab to interleave")
    payloadVocab.foreach { v =>
      mmCarriageSql match {
        case Some(carriage) =>
          // the mm unit prices the placeholder: one budget token per
          // carrier, exactly as the interleaved id stream carries it
          require(nTokensSql == Packing.mmTokensSqlWith(v, carriage),
            "IncrementalPacking.run: an interleaved-multimodal drain must " +
              "price placeholders — pass nTokensSql = Packing." +
              "mmTokensSqlWith(vocab, carriageSql) so bins and mm " +
              "fragments are priced in one unit")
        case None =>
          require(nTokensSql ==
            graft.ops.TextAnalysis.subwordCountSqlWith(v),
            "IncrementalPacking.run: payloadVocab must BE the run's token " +
              "source — pass nTokensSql = TextAnalysis.subwordCountSqlWith(" +
              "vocab) so bins and payload fragments are priced in one unit")
      }
    }
    // the payload-materialization MODE this run drains under — what the
    // _payloads marker freezes at bootstrap
    val runMode: String =
      if (payloadVocab.isEmpty) "0"
      else mmCarriageSql.fold("1")(c => payloadsModeMm(c, mmMediaRefSql))
    // re-entry is via PackingMaintenance's batch=-1 carry (the cursor read
    // is compaction-safe, and the carry brings the frozen _shards/_budget
    // markers along)
    Drain.run(spark, "IncrementalPacking.run",
      spark.readStream.schema(schema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      storedShards(spark, root) match {
        case Some(n) =>
          // the shard count is frozen at bootstrap: silently
          // re-routing documents under a different count would strand
          // every existing bin assignment
          require(n == shards,
            s"IncrementalPacking: store at $root was created with $n " +
              s"shards, got $shards — pass the stored count")
        case None =>
          // markers FIRST, before any data write: data-present ⇒
          // marker-present (tokens-source, then payloads, then budget,
          // then shards — `_shards` is the bootstrap key, so a crash
          // between any two re-runs this branch and overwrites all)
          StoragePaths.writeSmallFile(spark, tokensSourceMarker(root),
            tokensSourceId(nTokensSql))
          StoragePaths.writeSmallFile(spark, payloadsMarker(root),
            runMode)
          StoragePaths.writeSmallFile(
            spark, budgetMarker(root), Packing.Budget.toString)
          StoragePaths.writeSmallFile(
            spark, shardsMarker(root), shards.toString)
      }
      storedBudget(spark, root) match {
        case Some(b) =>
          // the budget is frozen with the shard count: packBatch bins
          // against the live Packing.Budget, so a binary rebuilt with
          // a different budget must not extend this store
          require(b == Packing.Budget,
            s"IncrementalPacking: store at $root was packed at " +
              s"budget $b, this binary has ${Packing.Budget} — " +
              "rebuild with the stored budget")
        case None =>
          // pre-marker store (packed by this same constant): heal by
          // recording the only budget that has ever touched it
          StoragePaths.writeSmallFile(
            spark, budgetMarker(root), Packing.Budget.toString)
      }
      storedTokensSource(spark, root) match {
        case Some(src) =>
          // the token source is frozen with the budget: the cursor
          // history is a running sum in the source's unit, so a
          // different source (or vocabulary) must not extend it
          require(src == tokensSourceId(nTokensSql),
            s"IncrementalPacking: store at $root was packed under " +
              s"token source $src, this run passes " +
              s"${tokensSourceId(nTokensSql)} — pack with the stored " +
              "source (or compact to a fresh root to re-price)")
        case None =>
          // pre-marker store: before the marker existed, run() had no
          // token-source knob, so the only source that has ever
          // touched it is the whitespace default — record THAT, and
          // let the check above catch a non-default caller
          StoragePaths.writeSmallFile(spark, tokensSourceMarker(root),
            tokensSourceId(Packing.WhitespaceTokensSql))
          require(
            tokensSourceId(nTokensSql) ==
              tokensSourceId(Packing.WhitespaceTokensSql),
            s"IncrementalPacking: pre-marker store at $root was packed " +
              "on whitespace counts; cannot continue it under a " +
              "different token source")
      }
      storedPayloadsMode(spark, root) match {
        case Some(mode) =>
          // payload materialization is frozen with the rest of the
          // config: a store that drained batches without fragments
          // must not start writing them mid-history (payloadStreams
          // would silently serve a feed missing the early batches'
          // tokens), one that has them must not stop (the feed would
          // silently freeze while bins keep growing), and an mm store
          // must keep its carriage + ref configuration (a changed ref
          // expression keys a different catalog with identical tokens)
          require(mode == runMode,
            s"IncrementalPacking: store at $root froze payload mode " +
              s"'$mode' at bootstrap, this run drains under " +
              s"'$runMode' — continue with the stored configuration " +
              "(or compact to a fresh root)")
        case None =>
          // pre-marker store: infer the only history it can have had
          // from the payloads store itself (fragments exist iff every
          // prior drain passed a vocabulary — partial histories were
          // impossible because payloadVocab also pins nTokensSql,
          // which the _tokens_source marker froze from batch 0; mm
          // stores postdate the marker, so the healed mode is "1"/"0")
          val had = StoragePaths.exists(spark, payloadsPath(root))
          StoragePaths.writeSmallFile(spark, payloadsMarker(root),
            if (had) "1" else "0")
          require((if (had) "1" else "0") == runMode,
            s"IncrementalPacking: pre-marker store at $root healed " +
              s"to payload mode '${if (had) "1" else "0"}' (" +
              (if (had) "fragments present" else "no fragments") +
              s"), this run drains under '$runMode' — continue with " +
              "the stored history's choice")
      }
      val uniq = batch.dropDuplicates("doc_id")
      val (bins, nextCursor) =
        packBatch(uniq, cursor(spark, root, batchId), shards, nTokensSql)
      val stable = bins.localCheckpoint()
      val cursorStable = nextCursor.localCheckpoint()
      stable.write.mode("overwrite")
        .parquet(s"${binsPath(root)}/batch=$batchId")
      cursorStable.coalesce(1).write.mode("overwrite")
        .parquet(s"${cursorPath(root)}/batch=$batchId")
      payloadVocab.foreach { v =>
        // the batch's payload fragments off the SAME materialized
        // bins (a pure function of (batch, cursor) like the bins
        // themselves, so the overwrite is replay-idempotent); the mm
        // sidecar rides the same one packing window
        mmCarriageSql.fold(payloadsFromBins(uniq, stable, v))(c =>
          payloadsMmFromBins(uniq, stable, v, c, mmMediaRefSql))
          .write.mode("overwrite")
          .parquet(s"${payloadsPath(root)}/batch=$batchId")
      }
    }
    StoragePaths.readOrEmpty(spark, binsPath(root), BinsSchema)
  }
}
