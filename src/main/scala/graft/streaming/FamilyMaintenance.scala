package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The generation-maintenance engine every streaming store family runs
  * on — fact stores that only grow ([[Bm25Maintenance]],
  * [[WinnowMaintenance]], [[MediaCatalogMaintenance]], …) and frozen
  * models that drift ([[PqMaintenance]], [[DsirMaintenance]],
  * [[SemDedupMaintenance]], …) alike. Structured Streaming's
  * exactly-once rests on a replayable source, an idempotent sink and a
  * checkpoint ([[Drain]] holds those); the one maintenance seam of that
  * contract is the CARRY that lets a store re-enter under a fresh
  * checkpoint, and it lives here once:
  *
  *  1. every store's history lands at `batch=-1`
  *     ([[StoreMaintenance.CompactedBatch]], below every streaming epoch)
  *     inside a NEW generation directory, verified before anything moves
  *     — row-preserving stores by row-count identity, additive stores by
  *     exact per-column totals, frozen tables verbatim;
  *  2. the generation publishes behind the atomic `_current` pointer
  *     ([[generation]]) — a crash anywhere before the pointer write
  *     leaves readers on the old generation, and the retry takes a fresh
  *     generation number;
  *  3. one fresh era per generation: [[Drain.run]] refuses a fresh
  *     checkpoint while a guarded store still holds `batch>=0`
  *     directories, because the new era's ids restart at 0.
  *
  * A family object extends this class with its store list and, where its
  * writer publishes one, the writer's `storePaths` — the PIN: every store
  * carried by epoch (all but [[Carry.Model]] tables) must equal that
  * list, or no generation is built, so a store added to the writer
  * cannot silently miss the carry. It inherits [[adopt]] (a flat writer
  * root into generation 0), [[compact]] (the live generation into the
  * next, every store carried) and [[rewrite]] (the live generation into
  * the next with some stores written by the family — a retrained model,
  * re-derived codes, a takedown — and the rest carried), and one of the
  * two triggers: [[FamilyMaintenance.Facts.maintain]] (file count) or
  * [[whenDrifted]] (the family's counterfactual).
  */
abstract class FamilyMaintenance(
    protected val what: String,
    protected val stores: Seq[FamilyMaintenance.StoreSpec],
    storePaths: Option[String => Seq[String]] = None,
    postCarry: (SparkSession, String, String) => Unit = (_, _, _) => ()) {

  import FamilyMaintenance._

  /** The live generation's path — a full streaming root for the family's
    * writer, which re-enters it under a fresh checkpoint.
    */
  def currentRoot(spark: SparkSession, genRoot: String): String =
    StoreMaintenance.resolveCurrent(spark, genRoot)

  /** Adopt a flat writer root into the generation layout, publishing
    * generation 0 atomically. `buckets` re-sizes named bucketed stores;
    * unnamed ones carry their source markers (or the fresh-store default).
    */
  def adopt(
      spark: SparkSession,
      genRoot: String,
      flatRoot: String,
      numFiles: Int = 1,
      buckets: Map[String, Int] = Map.empty): String =
    carryAll(spark, genRoot, Some(flatRoot), _.path(flatRoot), numFiles,
      buckets, Set.empty)(_ => ())

  /** [[adopt]] from stores at independent paths, keyed by store name —
    * for writers whose flat stores share no root (so there is no root to
    * pin the writer's list against).
    */
  def adoptFrom(
      spark: SparkSession,
      genRoot: String,
      sources: Map[String, String],
      numFiles: Int,
      buckets: Map[String, Int]): String = {
    require(sources.keySet == stores.map(_.name).toSet,
      s"$what.adopt: sources ${sources.keySet} must name every store " +
        s"${stores.map(_.name)}")
    carryAll(spark, genRoot, None, s => sources(s.name), numFiles, buckets,
      Set.empty)(_ => ())
  }

  /** Carry the LIVE generation into the next one and atomically repoint
    * readers. `buckets` re-sizes named bucketed stores on the way through
    * (the grown-store path).
    */
  def compact(
      spark: SparkSession,
      genRoot: String,
      numFiles: Int = 1,
      buckets: Map[String, Int] = Map.empty): String = {
    val cur = currentRoot(spark, genRoot)
    carryAll(spark, genRoot, Some(cur), _.path(cur), numFiles, buckets,
      Set.empty)(_ => ())
  }

  /** Build the next generation from the live one, `write(cur, dest)`
    * writing the `written` stores itself (a candidate model, codes from
    * different codebooks — never carried across a retrain — a takedown)
    * and verifying its own invariant before it returns; the engine then
    * carries every other store and moves the pointer LAST.
    */
  def rewrite(
      spark: SparkSession,
      genRoot: String,
      numFiles: Int,
      written: Set[String])(write: (String, String) => Unit): String = {
    written.foreach(n => require(stores.exists(_.name == n),
      s"$what: no store named $n in ${stores.map(_.name)}"))
    val cur = currentRoot(spark, genRoot)
    carryAll(spark, genRoot, Some(cur), _.path(cur), numFiles, Map.empty,
      written)(write(cur, _))
  }

  /** The drift trigger: run `counterfactual` on the live generation;
    * below its threshold, pure reads and no writes; on drift, the
    * RETAINED value it measured is the one `retrain` ships, so measured
    * and published models cannot diverge. Returns the measurement and the
    * new generation's path when it retrained.
    */
  def whenDrifted[M](spark: SparkSession, genRoot: String)(
      counterfactual: String => Outcome[M])(
      retrain: M => String): (M, Option[String]) = {
    val o = counterfactual(currentRoot(spark, genRoot))
    (o.retained, if (o.drifted) Some(retrain(o.retained)) else None)
  }

  /** The one carry, shared by adopt, compaction and rewrite so the store
    * list cannot fork within a family: bucket overrides and the pin are
    * checked before any write, then stores carry in list order (a
    * [[Carry.Custom]] rebuild may read siblings carried before it).
    */
  private def carryAll(
      spark: SparkSession,
      genRoot: String,
      srcRoot: Option[String],
      srcOf: StoreSpec => String,
      numFiles: Int,
      buckets: Map[String, Int],
      written: Set[String])(write: String => Unit): String = {
    buckets.keys.foreach { n =>
      require(stores.exists(s => s.name == n && marker(s.carry).isDefined),
        s"$what: bucket override $n names no bucketed store in " +
          s"${stores.filter(s => marker(s.carry).isDefined).map(_.name)}")
    }
    for (root <- srcRoot; pin <- storePaths)
      require(stores.filterNot(_.carry == Carry.Model).map(_.path(root)) ==
        pin(root),
        s"$what: maintenance store list diverged from the writer's " +
          "storePaths — add the new store to the family's carry")
    generation(spark, genRoot) { dest =>
      write(dest)
      stores.filterNot(s => written(s.name)).foreach { s =>
        val src = srcOf(s)
        if (!s.optional || StoragePaths.exists(spark, src))
          carryStore(spark, s, src, s.path(dest), numFiles,
            buckets.get(s.name).orElse(markedBuckets(spark, s.carry, src)))
      }
      srcRoot.foreach(postCarry(spark, _, dest))
    }
  }

  private def carryStore(spark: SparkSession, s: StoreSpec, src: String,
      dest: String, numFiles: Int, buckets: Option[Int]): Unit = {
    val label = s"$what ${s.name}"
    s.carry match {
      case Carry.Rows(bucketCol, _) =>
        StoreMaintenance.compactVerified(spark, src, dest, label, numFiles,
          bucketCol.map(c => (c, buckets.get)))
      case Carry.Fold(keys, sums, bucketCol, _) =>
        foldVerified(spark, src, dest, label, numFiles, keys, sums,
          bucketCol.map(c => (c, buckets.get)))
      case Carry.Model => carryTable(spark, src, dest, label)
      case Carry.Custom(fn, _, _) => fn(spark, src, dest, numFiles, buckets)
    }
  }
}

object FamilyMaintenance {

  /** Bucket-size target the file-count trigger's re-size holds — the unit
    * one probe reads. A frozen bucket count over a 100× store means every
    * probe reads 100× more unrelated rows, however healthy the file count
    * looks.
    */
  val TargetBucketBytes: Long = 64L << 20

  /** How one store crosses a generation boundary. */
  sealed trait Carry

  object Carry {
    /** Row-preserving carry, verified by row-count identity — decision
      * history, admitted rows, facts: every row is a decision or a datum,
      * so the carried count must equal the source or the generation is
      * not published. `bucketCol` keeps the `batch=N/id_bucket=B`
      * membership layout ([[StoreMaintenance.writeStoreLayout]] —
      * `B = pmod(xxhash64(col), n)`, the `_id_buckets` marker written
      * last); `defaultBuckets` is the count for a source missing its
      * marker. A store a retrain re-derives is `Rows` too: [[adopt]] and
      * [[compact]] carry it, [[rewrite]] hands it to the family.
      */
    final case class Rows(
        bucketCol: Option[String] = None,
        defaultBuckets: Int = 0) extends Carry

    /** Additive fold: group the source by `keyCols` (empty = one global
      * row) and SUM the long `sumCols`. For DELTA stores whose readers
      * only ever sum ([[IncrementalBm25]]'s corpus stats,
      * [[IncrementalBoilerplate]]'s df deltas): lossless by counter
      * additivity, and it RESETS the per-read fold cost to one row per
      * key. Verified by exact per-column total equality.
      */
    final case class Fold(
        keyCols: Seq[String],
        sumCols: Seq[String],
        bucketCol: Option[String] = None,
        defaultBuckets: Int = 0) extends Carry

    /** A bounded frozen table (codebook, leaders, ratio / NB / LM /
      * threshold tables), carried verbatim as one count-verified file.
      */
    case object Model extends Carry

    /** Bespoke carry for a store the generic layouts cannot express — a
      * non-id bucket key ([[IncrementalSourceCap.compactCounts]]), a
      * DERIVED relation rebuilt from just-carried siblings
      * ([[IncrementalCuration.rebuildBandIndex]]), a mergeable-sketch
      * fold, a superseding store whose newest generation is the relation
      * ([[IncrementalSemDedup]]'s heads). `fn(spark, src, dest, numFiles,
      * buckets)` MUST land history at `batch=-1` and verify its own
      * invariant before returning. `bucketMarker` names the marker file
      * holding the store's bucket count — it opts the store into bucket
      * overrides and the byte-driven re-size; None = never re-sized.
      */
    final case class Custom(
        fn: (SparkSession, String, String, Int, Option[Int]) => Unit,
        bucketMarker: Option[String] = None,
        defaultBuckets: Int = 0) extends Carry
  }

  /** One store in the family: `name` keys bucket overrides and rewrites,
    * `path` maps a family root to the store directory. `optional` stores
    * may be absent from the source (a ledger the stream was run without)
    * — absent means nothing to carry.
    */
  final case class StoreSpec(
      name: String,
      path: String => String,
      carry: Carry,
      optional: Boolean = false)

  /** The file-count trigger's outcome: the measured store's physical
    * state, and the published generation path when the trigger fired.
    */
  final case class Report(
      files: Long,
      bytes: Long,
      compacted: Boolean,
      generation: Option[String])

  /** One counterfactual's verdict: whether to retrain, plus whatever the
    * family measured and trained — opaque to the engine.
    */
  final case class Outcome[M](drifted: Boolean, retained: M)

  /** A FACT family — stores of exact facts with no model to recalibrate,
    * so maintenance is purely physical: every micro-batch adds a
    * `batch=N` directory, and after a year of draining the per-probe
    * PLANNING cost (listing thousands of small files) dominates. The
    * trigger is the file count.
    */
  abstract class Facts(
      name: String,
      facts: Seq[StoreSpec],
      storePaths: String => Seq[String],
      val DefaultMaxFiles: Long = 512L,
      postCarry: (SparkSession, String, String) => Unit = (_, _, _) => ())
      extends FamilyMaintenance(name, facts, Some(storePaths), postCarry) {

    /** Measure-then-act: list the first store present in the live
      * generation and compact iff its file count passed `maxFiles`; below
      * it the cost is the listing alone. A triggered compaction re-sizes
      * every bucketed store from its own measured bytes (never below the
      * source marker), so bucket SIZE holds the `targetBucketBytes` line
      * as the store grows. A root with no store present no-ops.
      */
    def maintain(
        spark: SparkSession,
        genRoot: String,
        maxFiles: Long = DefaultMaxFiles,
        numFiles: Int = 1,
        targetBucketBytes: Long = TargetBucketBytes): Report = {
      require(targetBucketBytes > 0,
        s"$what.maintain: targetBucketBytes must be positive")
      val cur = currentRoot(spark, genRoot)
      val present = stores.filter(s => StoragePaths.exists(spark, s.path(cur)))
      present.headOption.fold(Report(0L, 0L, compacted = false, None)) { m =>
        val (files, bytes) = StoreMaintenance.fileStats(spark, m.path(cur))
        if (files <= maxFiles) Report(files, bytes, compacted = false, None)
        else {
          val grown = stores.flatMap { s =>
            markedBuckets(spark, s.carry, s.path(cur)).map { floor =>
              // absent stores (optional ledgers, not-yet-rebuilt sidecars)
              // size from their marker floor alone
              val storeBytes =
                if (s eq m) bytes
                else if (!present.contains(s)) 0L
                else StoreMaintenance.fileStats(spark, s.path(cur))._2
              s.name -> math.max(floor,
                math.ceil(storeBytes.toDouble / targetBucketBytes).toInt)
            }
          }.toMap
          Report(files, bytes, compacted = true,
            Some(compact(spark, genRoot, numFiles, grown)))
        }
      }
    }
  }

  /** THE generation step: allocate the next `gen-N` under `genRoot`, let
    * `build` write and verify it, then publish it. The pointer moves
    * last, so a `build` that throws leaves readers where they were; its
    * partial is abandoned and the retry allocates past it. Returns the
    * new generation's path.
    */
  def generation(spark: SparkSession, genRoot: String)(
      build: String => Unit): String = {
    val gen = StoreMaintenance.nextGeneration(spark, genRoot)
    build(s"$genRoot/$gen")
    StoreMaintenance.publishGeneration(spark, genRoot, gen)
    s"$genRoot/$gen"
  }

  /** The marker file holding a bucketed store's count, with the count for
    * a source missing it; None for an unbucketed store.
    */
  private def marker(c: Carry): Option[(String, Int)] = c match {
    case Carry.Rows(Some(_), d) => Some((IncrementalAnnIndex.IdBucketsMarker, d))
    case Carry.Fold(_, _, Some(_), d) =>
      Some((IncrementalAnnIndex.IdBucketsMarker, d))
    case Carry.Custom(_, m, d) => m.map((_, d))
    case _ => None
  }

  /** A bucketed store's marked count (the never-shrink floor). */
  private def markedBuckets(
      spark: SparkSession, c: Carry, path: String): Option[Int] =
    marker(c).map { case (m, d) =>
      StoragePaths.readSmallFile(spark, s"$path/$m").map(_.trim.toInt)
        .getOrElse(d)
    }

  /** Verified verbatim carry of one bounded frozen table: a lossy carry
    * does not publish.
    */
  private def carryTable(spark: SparkSession, src: String, dst: String,
      what: String): Unit = {
    val rows = spark.read.parquet(src)
    val n = rows.count()
    rows.coalesce(1).write.mode("errorifexists").parquet(dst)
    require(spark.read.parquet(dst).count() == n,
      s"$what: carried $src lost rows — not publishing the generation")
  }

  /** The additive-store carry: fold the source's delta rows to one row
    * per key, land them in the destination's `batch=-1` layout, and
    * verify by exact per-column total equality — both sides are long
    * sums, so a lossy carry cannot hide behind float drift.
    */
  private def foldVerified(
      spark: SparkSession,
      src: String,
      dest: String,
      what: String,
      numFiles: Int,
      keyCols: Seq[String],
      sumCols: Seq[String],
      bucketBy: Option[(String, Int)]): Unit = {
    require(sumCols.nonEmpty, s"$what: a Fold carry needs sum columns")
    val rows = spark.read.parquet(src).drop("batch", "id_bucket")
    val aggs = sumCols.map(c => sum(col(c)).as(c))
    val folded =
      if (keyCols.nonEmpty)
        rows.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      else rows.agg(aggs.head, aggs.tail: _*)
    StoreMaintenance.writeStoreLayout(spark, folded, dest, numFiles, bucketBy)
    def totals(path: String): Seq[Option[Long]] = {
      val r = spark.read.parquet(path)
        .agg(aggs.head, aggs.tail: _*).head()
      sumCols.indices.map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))
    }
    val (carried, want) = (totals(dest), totals(src))
    require(carried == want,
      s"$what: carried totals $carried of $want — not publishing the " +
        "generation; readers stay on the current one")
  }
}
