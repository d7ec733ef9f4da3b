package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The shared generation-maintenance engine for FACT-store families —
  * the one spelling of the measure → carry-all-stores → publish loop
  * that [[Bm25Maintenance]], [[WinnowMaintenance]],
  * [[CurationMaintenance]], [[ChunkDedupMaintenance]], and
  * [[BoilerplateMaintenance]] instantiate. These families share a
  * hazard profile: their stores hold exact facts (postings,
  * fingerprints, signatures, chunk digests, df deltas) with no model to
  * recalibrate, so maintenance is purely physical — every micro-batch
  * adds a `batch=N` directory to each store, and after a year of
  * draining the per-probe PLANNING cost (listing thousands of small
  * files per touched bucket) dominates even though the scanned bytes
  * stay touched-bucket bounded. That is the classic small-files
  * problem, and the remedy is always the same shape:
  *
  *  1. MEASURE one designated store's physical state
  *     ([[StoreMaintenance.fileStats]]); below `maxFiles` the cost is
  *     the listing alone — no reads, no writes.
  *  2. CARRY every store into the next generation — row-preserving
  *     ([[Carry.Rows]], verified by row-count identity through
  *     [[StoreMaintenance.compactVerified]]) or additively folded
  *     ([[Carry.Fold]], for delta stores whose readers only ever SUM:
  *     the fold is lossless by construction and verified by exact
  *     per-column total equality). Bucketed stores RE-SIZE on the way
  *     through from measured bytes (never below the source markers), so
  *     bucket SIZE — the unit a probe reads — holds the
  *     `targetBucketBytes` line as the corpus grows.
  *  3. PUBLISH behind the atomic `_current` pointer
  *     ([[StoreMaintenance.publishGeneration]]). A crash anywhere
  *     before the pointer write leaves readers on the old generation;
  *     the retry takes a fresh generation number.
  *
  * A compacted generation is a complete streaming root for its family:
  * carried rows land at `batch=-1` (below every streaming epoch), so a
  * stream re-entering under a FRESH checkpoint appends `batch=0` beside
  * the history and its own-partition-excluded guard reads still see
  * every carried row. One fresh era per compaction: [[Drain]], the
  * drain-side twin every family's `run` runs on, refuses a fresh
  * checkpoint while `batch>=0` directories remain
  * ([[Drain.run]]), because the new era's ids restart at 0
  * and would overwrite them.
  *
  * What stays per-family: the store list itself (pinned against the
  * writer's `storePaths` so a store added to the writer cannot silently
  * miss the carry), any derived sidecar rebuilt rather than carried
  * (e.g. [[IncrementalCuration]]'s inverted band index, whose bucket
  * key is not an id column), and the public parameter names each
  * family's operators already document.
  */
object FamilyMaintenance {

  /** How one store crosses a generation boundary. */
  sealed trait Carry {
    /** Bucket count for a source missing its marker (the fresh-store
      * default the family's writer would use).
      */
    def defaultBuckets: Int
  }

  object Carry {
    /** Row-preserving carry, verified by row-count identity — the fact
      * store's lossless contract: every row is a decision or a datum,
      * so the carried count must equal the source or the generation is
      * not published. `bucketCol` keeps the `batch=N/id_bucket=B`
      * membership layout ([[StoreMaintenance]]'s `bucketBy` convention —
      * `B = pmod(xxhash64(col), n)` with the `_id_buckets` marker
      * written last).
      */
    final case class Rows(
        bucketCol: Option[String] = None,
        defaultBuckets: Int = 0) extends Carry

    /** Additive fold: group the source by `keyCols` (empty = one global
      * row) and SUM the long `sumCols`. For DELTA stores whose readers
      * only ever sum ([[IncrementalBm25]]'s corpus stats,
      * [[IncrementalBoilerplate]]'s df deltas): the fold is lossless by
      * counter additivity and RESETS the per-read fold cost — one row
      * per key no matter how many batches the source accumulated.
      * Verified by exact per-column total equality (integer sums, no
      * float drift) before the caller may publish.
      */
    final case class Fold(
        keyCols: Seq[String],
        sumCols: Seq[String],
        bucketCol: Option[String] = None,
        defaultBuckets: Int = 0) extends Carry

    /** Bespoke carry for a store the generic layouts cannot express —
      * a non-id bucket key ([[IncrementalSourceCap.compactCounts]]'s
      * `xxhash64(source)` routing) or a DERIVED relation rebuilt from
      * just-carried sibling rows rather than copied
      * ([[IncrementalCuration.rebuildBandIndex]]). The engine still owns
      * the loop: `fn(spark, srcPath, destPath, numFiles, buckets)` runs
      * in store-list order (so a rebuild may read siblings carried
      * before it) and MUST land history at `batch=-1` and verify its own
      * carry invariant before returning. `bucketMarker` names the marker
      * file holding the store's bucket count — it opts the store into
      * the engine's byte-driven re-sizing and supplies the never-shrink
      * floor; None = never re-sized.
      */
    final case class Custom(
        fn: (SparkSession, String, String, Int, Option[Int]) => Unit,
        bucketMarker: Option[String] = None,
        defaultBuckets: Int = 0) extends Carry
  }

  /** Whether the engine's byte-driven re-sizing applies to this carry. */
  private def resizable(c: Carry): Boolean = c match {
    case Carry.Rows(bc, _) => bc.isDefined
    case Carry.Fold(_, _, bc, _) => bc.isDefined
    case Carry.Custom(_, bm, _) => bm.isDefined
  }

  /** The source store's marked bucket count (never-shrink floor), read
    * through the carry's own marker convention.
    */
  private def markedCount(spark: SparkSession, c: Carry, path: String): Int =
    c match {
      case Carry.Custom(_, Some(m), d) =>
        StoragePaths.readSmallFile(spark, s"$path/$m")
          .map(_.trim.toInt).getOrElse(d)
      case other =>
        IncrementalAnnIndex.bucketCount(spark, path)
          .getOrElse(other.defaultBuckets)
    }

  /** One store in the family: `name` keys bucket-count overrides,
    * `path` maps a family root to the store directory. `optional`
    * stores may be absent from the source (e.g. a metrics ledger the
    * stream was run without) — absent means nothing to carry, and the
    * family's readers already handle absence.
    */
  final case class StoreSpec(
      name: String,
      path: String => String,
      carry: Carry,
      optional: Boolean = false)

  /** A family's maintenance description. `measureStore` names the store
    * whose [[StoreMaintenance.fileStats]] drive the measure-then-act
    * trigger. `pinStorePaths` is the writer's own store list
    * ([[IncrementalWinnow.storePaths]]-style): the carry refuses to run
    * if the two diverge, so a store added to the writer cannot silently
    * miss maintenance. `postCarry(spark, src, dest)` runs after every
    * store is carried and before publish — the seam for derived
    * sidecars that are rebuilt from carried rows rather than carried
    * themselves.
    */
  final case class Family(
      what: String,
      measureStore: String,
      stores: Seq[StoreSpec],
      pinStorePaths: Option[String => Seq[String]] = None,
      postCarry: (SparkSession, String, String) => Unit = (_, _, _) => ())

  /** The measure-then-act outcome: the measured store's physical state,
    * and the published generation path when the trigger fired.
    */
  final case class Report(
      files: Long,
      bytes: Long,
      compacted: Boolean,
      generation: Option[String])

  /** The live generation's path — a full streaming root for the family. */
  def currentRoot(spark: SparkSession, genRoot: String): String =
    StoreMaintenance.resolveCurrent(spark, genRoot)

  /** Adopt a flat streaming root into the generation layout, publishing
    * generation 0 atomically.
    */
  def adopt(
      spark: SparkSession,
      fam: Family,
      genRoot: String,
      flatRoot: String,
      numFiles: Int = 1,
      buckets: Map[String, Int] = Map.empty): String = {
    val gen = StoreMaintenance.nextGeneration(spark, genRoot)
    val dest = s"$genRoot/$gen"
    carry(spark, fam, flatRoot, dest, numFiles, buckets)
    StoreMaintenance.publishGeneration(spark, genRoot, gen)
    dest
  }

  /** Rewrite the LIVE generation into the next one and atomically
    * repoint readers. `buckets` re-sizes named stores' bucket counts on
    * the way through (the grown-store path); unnamed stores carry their
    * source markers (or the fresh-store default).
    */
  def compact(
      spark: SparkSession,
      fam: Family,
      genRoot: String,
      numFiles: Int = 1,
      buckets: Map[String, Int] = Map.empty): String = {
    val cur = currentRoot(spark, genRoot)
    val gen = StoreMaintenance.nextGeneration(spark, genRoot)
    val dest = s"$genRoot/$gen"
    carry(spark, fam, cur, dest, numFiles, buckets)
    StoreMaintenance.publishGeneration(spark, genRoot, gen)
    dest
  }

  /** Measure-then-act: list the live generation's measure store and
    * compact iff its file count passed `maxFiles`. A triggered
    * compaction re-sizes every bucketed store from its own measured
    * bytes (never shrinking below the source marker), so a store that
    * outgrew its bootstrap bucket count leaves maintenance with
    * `targetBucketBytes`-sized buckets and the bounded-probe contract
    * intact.
    */
  def maintain(
      spark: SparkSession,
      fam: Family,
      genRoot: String,
      maxFiles: Long,
      numFiles: Int = 1,
      targetBucketBytes: Long): Report = {
    require(targetBucketBytes > 0,
      s"${fam.what}.maintain: targetBucketBytes must be positive")
    val cur = currentRoot(spark, genRoot)
    val measure = storeNamed(fam, fam.measureStore)
    val (files, bytes) = StoreMaintenance.fileStats(spark, measure.path(cur))
    if (files <= maxFiles) Report(files, bytes, compacted = false, None)
    else {
      val grown = fam.stores.flatMap { s =>
        val sp = s.path(cur)
        if (!resizable(s.carry)) None
        else {
          // absent stores (optional ledgers, not-yet-rebuilt sidecars)
          // size from their marker floor alone — zero measured bytes
          val storeBytes =
            if (!StoragePaths.exists(spark, sp)) 0L
            else if (s.name == fam.measureStore) bytes
            else StoreMaintenance.fileStats(spark, sp)._2
          val src = markedCount(spark, s.carry, sp)
          Some(s.name -> math.max(src,
            math.ceil(storeBytes.toDouble / targetBucketBytes).toInt))
        }
      }.toMap
      Report(files, bytes, compacted = true,
        Some(compact(spark, fam, genRoot, numFiles, grown)))
    }
  }

  private def storeNamed(fam: Family, name: String): StoreSpec =
    fam.stores.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"${fam.what}: no store named $name in ${fam.stores.map(_.name)}"))

  /** One verified carry of every store, shared by [[adopt]] and
    * [[compact]] so the store list cannot fork within a family. Stores
    * carry in list order — a [[Carry.Custom]] rebuild may therefore
    * read siblings the engine carried before it.
    */
  private def carry(
      spark: SparkSession,
      fam: Family,
      src: String,
      dest: String,
      numFiles: Int,
      buckets: Map[String, Int]): Unit = {
    fam.pinStorePaths.foreach { pin =>
      require(fam.stores.map(_.path(src)) == pin(src),
        s"${fam.what}: maintenance store list diverged from the writer's " +
          "storePaths — add the new store to the family's carry")
    }
    fam.stores.foreach { s =>
      val sp = s.path(src)
      val chosen = buckets.get(s.name)
        .orElse(if (resizable(s.carry)) Some(markedCount(spark, s.carry, sp))
        else None)
      s.carry match {
        case _ if s.optional && !StoragePaths.exists(spark, sp) => ()
        case Carry.Rows(bucketCol, _) =>
          StoreMaintenance.compactVerified(spark, sp, s.path(dest),
            s"${fam.what} ${s.name}", numFiles,
            bucketCol.map(c => (c, chosen.get)))
        case Carry.Fold(keys, sums, bucketCol, _) =>
          foldVerified(spark, sp, s.path(dest),
            s"${fam.what} ${s.name}", numFiles, keys, sums,
            bucketCol.map(c => (c, chosen.get)))
        case Carry.Custom(fn, _, _) =>
          fn(spark, sp, s.path(dest), numFiles, chosen)
      }
    }
    fam.postCarry(spark, src, dest)
  }

  /** The additive-store carry: fold the source's delta rows to one row
    * per key, land them in the destination's `batch=-1` layout, and
    * verify by exact per-column total equality — both sides are long
    * sums, so a lossy carry cannot hide behind float drift (and unlike
    * row-count identity, this catches a fold that drops AND double-adds
    * in equal measure only if the sums cancel exactly — which additive
    * non-negative counters cannot).
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
