package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The shared drain engine — the drain-side twin of [[FamilyMaintenance]]:
  * the one spelling of the exactly-once skeleton every incremental
  * family's `run` instantiates. Structured Streaming's contract is a
  * replayable source, an idempotent sink and a checkpoint; the families
  * supply the idempotent sink (per-batch OVERWRITE of a `batch=N`
  * directory, so an at-least-once replay of an uncommitted epoch rewrites
  * identical rows), and this engine holds everything else:
  *
  *  1. the FRESH-ERA GUARD: a new checkpoint's batch ids restart at 0,
  *     so its writes would silently overwrite every `batch>=0` directory
  *     the previous era left in the family's stores. A drain under a
  *     fresh checkpoint is refused while any guarded store still holds
  *     one ([[StoragePaths.hasEpochDirs]]); re-entry is via the family's
  *     [[FamilyMaintenance]] carry, which folds history to `batch=-1`
  *     ([[StoreMaintenance.CompactedBatch]]) in a new generation — one
  *     fresh era per generation. A genuine crash-replay keeps its
  *     checkpoint and passes.
  *  2. the STREAM PLUMBING: checkpoint location, `foreachBatch`, the
  *     empty-batch skip, `Trigger.AvailableNow` (drain what has landed,
  *     then stop — the scheduled-run shape) and the blocking wait.
  *  3. the READ-ONCE FROZEN TABLE ([[frozen]]): a model, codebook or
  *     threshold table the family trains from its first non-empty batch
  *     and then never changes.
  *
  * What stays per-family: the source frame, the list of stores the
  * guard covers, the frozen table's bootstrap and reader, the per-batch
  * body, and the result read ([[StoragePaths.readOrEmpty]] for most).
  */
object Drain {

  /** Drain `source` under `checkpointDir` to completion: `body(batch,
    * batchId)` runs once per non-empty micro-batch. A fresh checkpoint
    * is refused while any of `stores` still holds a `batch>=0`
    * directory; an empty store list guards nothing (a family whose
    * re-entry contract lets a fresh era write beside live batches).
    * `what` names the family's method in the refusal.
    */
  def run(
      spark: SparkSession,
      what: String,
      source: DataFrame,
      checkpointDir: String,
      stores: Seq[String])(body: (DataFrame, Long) => Unit): Unit = {
    require(StoragePaths.exists(spark, checkpointDir) ||
      stores.forall(p => !StoragePaths.hasEpochDirs(spark, p)),
      s"$what: fresh checkpoint $checkpointDir over store(s) " +
        s"${stores.mkString(", ")} which still hold batch>=0 directories " +
        "— the new era would overwrite them; compact first (history " +
        "belongs at batch=-1 before a fresh era)")
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) body(batch, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** A table frozen at bootstrap, read and validated once per drain: the
    * returned function gives the table for a batch. While none is held
    * and `key` is absent, `bootstrap` trains it from that batch first —
    * store-absence keyed, never `batchId == 0`, so an empty epoch 0
    * cannot brick the stream, and the bootstrap's overwrite writes make a
    * replay idempotent. `key` must be the LAST path `bootstrap` writes,
    * so its presence implies every other bootstrap write landed. The
    * drain is the table's only writer, so one validated read serves every
    * later batch.
    */
  def frozen[T](spark: SparkSession, key: String)(
      bootstrap: DataFrame => Unit)(read: => T): DataFrame => T = {
    var table: Option[T] = None
    batch => table.getOrElse {
      if (!StoragePaths.exists(spark, key)) bootstrap(batch)
      val t = read
      table = Some(t)
      t
    }
  }
}
