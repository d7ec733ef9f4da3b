package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.{Portable, SubwordTrain, TextAnalysis}

/** Incremental subword serving — the store-backed shape of the subword
  * token kernels ([[graft.functions.SubwordCount]] /
  * [[graft.functions.SubwordIds]]): documents arrive continuously and
  * every token budget downstream (packing bins, shard sizing, epoch
  * plans) prices them in SUBWORD tokens under ONE vocabulary. The
  * vocabulary is trained by the BOOTSTRAP batch
  * ([[SubwordTrain.trainedVocab]] — distributed Sennrich-BPE merges) and
  * FROZEN (store-absence keyed, the [[IncrementalDsir]] contract); every
  * later batch is priced against the frozen inventory. Freezing is the
  * point, not a shortcut: token counts are only comparable under ONE
  * inventory — a vocabulary re-trained per batch would re-price every
  * budget mid-stream, so two identical documents landing a week apart
  * would ship different token counts into the same packing cursor (the
  * drift [[IncrementalPacking]]'s `_tokens_source` marker exists to
  * block, here stopped at the source). When the corpus distribution
  * really has moved — a new language, a new character inventory — the
  * remedy is [[SubwordMaintenance]]'s measured retrain into a new
  * generation, never an in-place slide.
  *
  * Scale/correctness shape:
  *
  *  - **Per-batch cost ∝ batch, with NO history reads** — pricing is one
  *    narrow projection per batch through the codegen kernel with the
  *    vocabulary folded at plan build; no accumulated store is probed.
  *  - **Agreement with the batch operator by construction**: a document's
  *    `(n_words, n_subwords, n_unk)` depends only on (doc, vocabulary),
  *    so a drain's ledger equals [[TextAnalysis.subwordTokens]]-style
  *    pricing under the stored vocabulary in any landing order.
  *  - **Exactly-once** via the house per-batch overwrite contract:
  *    pricing is deterministic given the frozen vocabulary, so an
  *    at-least-once replay rewrites `batch=N` with identical rows.
  *  - The stored vocabulary is RE-VALIDATED on every read
  *    ([[readVocab]]): pids must be dense 1..n and pieces non-empty and
  *    distinct — a partial bootstrap write fails loudly instead of
  *    silently mispricing every later batch.
  */
object IncrementalSubword {

  def vocabPath(root: String): String = s"$root/vocab"
  def ledgerPath(root: String): String = s"$root/ledger"

  /** The ACCUMULATING stores under a subword root (the frozen vocabulary
    * is bootstrap-written, not per-batch) — the fresh-era guard list, and
    * the history carry [[SubwordMaintenance]] runs.
    */
  def storePaths(root: String): Seq[String] = Seq(ledgerPath(root))

  /** Schema of the pricing ledger (plus the `batch` layout column). */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_words", LongType),
    StructField("n_subwords", LongType),
    StructField("n_unk", LongType)))

  /** Persist a frozen vocabulary as `(pid, piece)` rows — pid is the
    * 1-based position in the trained inventory, the exact id assignment
    * the serving kernel makes, so the stored order IS the id space.
    */
  def writeVocab(spark: SparkSession, vocab: Seq[String],
      path: String): Unit = {
    import spark.implicits._
    vocab.zipWithIndex.map { case (p, i) => (i + 1L, p) }
      .toDF("pid", "piece")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The frozen vocabulary in pid order, re-validated on every read: pids
    * dense 1..n (a partial write leaves gaps or truncation), pieces
    * non-empty and distinct (the kernel maps duplicates
    * first-piece-wins, which would silently orphan ids). Driver-held —
    * a vocabulary is bounded (10^4–10^5 pieces in real deployments),
    * the same size class every frozen model table here broadcasts.
    */
  def readVocab(spark: SparkSession, path: String): Seq[String] = {
    val rows = spark.read.parquet(path)
      .orderBy("pid").select("pid", "piece").collect()
    require(rows.nonEmpty,
      s"IncrementalSubword: vocabulary at $path is empty — partial " +
        "bootstrap write; rebuild it from the bootstrap corpus")
    rows.zipWithIndex.foreach { case (r, i) =>
      require(!r.isNullAt(0) && r.getLong(0) == i + 1L,
        s"IncrementalSubword: vocabulary at $path has a pid gap at " +
          s"position ${i + 1} (got ${r.get(0)}) — partial or corrupt " +
          "store; rebuild it from the bootstrap corpus")
    }
    val pieces = rows.map(_.getString(1)).toSeq
    require(pieces.forall(p => p != null && p.nonEmpty) &&
      pieces.distinct.size == pieces.size,
      s"IncrementalSubword: vocabulary at $path holds empty or duplicate " +
        "pieces — corrupt store; rebuild it from the bootstrap corpus")
    pieces
  }

  /** One batch's pricing under an explicit vocabulary — ONE kernel call
    * per row (`graft_subword_ids`; its length IS the count, the shared
    * matchAt contract), then arithmetic over the id stream.
    */
  def scoreBatch(docs: DataFrame, vocab: Seq[String]): DataFrame =
    docs
      .selectExpr(
        "doc_id",
        s"CAST(size(${Portable.bpeSpark}) AS BIGINT) AS n_words",
        s"graft_subword_ids(${Portable.bpeSpark}, " +
          s"${TextAnalysis.vocabSqlOf(vocab)}, " +
          s"${Portable.SubwordMaxWordLen}) AS ids")
      .selectExpr(
        "doc_id", "n_words",
        "CAST(size(ids) AS BIGINT) AS n_subwords",
        "CAST(size(filter(ids, x -> x = 0)) AS BIGINT) AS n_unk")

  /** The packing-ready `n_tokens` SQL under the stored vocabulary — what
    * a deployment passes to [[IncrementalPacking.run]] (whose
    * `_tokens_source` marker then freezes THIS vocabulary's identity into
    * the packing store).
    */
  def nTokensSqlOf(spark: SparkSession, root: String): String =
    TextAnalysis.subwordCountSqlWith(readVocab(spark, vocabPath(root)))

  /** Drain the landing dir (Trigger.AvailableNow), training the frozen
    * vocabulary from the first non-empty batch and pricing every batch
    * under it. Priced rows land in the ledger (`root/ledger/batch=N`).
    * Returns the accumulated ledger.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      checkpointDir: String,
      root: String,
      schema: StructType,
      nMerges: Int = SubwordTrain.DefaultMerges): DataFrame = {
    val vocab = Drain.frozen(spark, vocabPath(root)) { uniq =>
      // training is deterministic, so a replayed bootstrap rewrites the
      // identical vocabulary
      val v = SubwordTrain.trainedVocab(uniq, nMerges)
      require(v.nonEmpty,
        "IncrementalSubword bootstrap: the first non-empty batch trained " +
          "an empty vocabulary — it must carry tokenizable text")
      writeVocab(spark, v, vocabPath(root))
    }(readVocab(spark, vocabPath(root)))
    Drain.run(spark, "IncrementalSubword.run",
      spark.readStream.schema(schema).parquet(landingDir), checkpointDir,
      storePaths(root)) { (batch, batchId) =>
      val uniq = batch.dropDuplicates("doc_id")
      scoreBatch(uniq, vocab(uniq)).localCheckpoint()
        .write.mode("overwrite")
        .parquet(s"${ledgerPath(root)}/batch=$batchId")
    }
    StoragePaths.readOrEmpty(spark, ledgerPath(root), LedgerSchema)
  }
}
