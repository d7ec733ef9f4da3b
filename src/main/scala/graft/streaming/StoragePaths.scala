package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Filesystem-probe helper shared by the streaming store maintainers
  * ([[IncrementalMartStream]], [[IncrementalCuration]]) — one place to fix
  * scheme handling for every bootstrap-vs-increment branch.
  */
private[graft] object StoragePaths {
  def exists(spark: SparkSession, p: String): Boolean = {
    val hp = new Path(p)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp)
  }

  /** The typed empty frame of `schema`. */
  def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** A store's rows without its layout columns (`batch`, `id_bucket`),
    * or the typed empty frame of `schema` when the store was never
    * written — a drain that landed nothing returns an empty result, not
    * a crash.
    */
  def readOrEmpty(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    if (exists(spark, path)) spark.read.parquet(path).drop("batch", "id_bucket")
    else emptyOf(spark, schema)

  /** Write a small metadata file (store markers, generation manifests).
    * The name should start with `_` so Spark's file listing and partition
    * discovery ignore it. Creation-with-overwrite of a single small file
    * is the closest thing to an atomic pointer swap a plain filesystem
    * offers — HDFS renames/creates are atomic, object stores make
    * single-key PUTs atomic.
    */
  def writeSmallFile(spark: SparkSession, p: String, content: String): Unit = {
    val hp = new Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(hp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** True iff the store holds any streaming-epoch (`batch>=0`)
    * directory — the partitions a NEW checkpoint era would re-number
    * from 0 and overwrite. The probe behind [[Drain.run]]'s fresh-era
    * guard: re-entry is only safe after maintenance folds history to
    * `batch=-1` ([[StoreMaintenance.CompactedBatch]]).
    */
  def hasEpochDirs(spark: SparkSession, path: String): Boolean = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(hp) && fs.listStatus(hp).exists { d =>
      val n = d.getPath.getName
      // parse defensively: a stray non-numeric partition dir (a leftover
      // temp dir, a __HIVE_DEFAULT_PARTITION__) is not an epoch dir and
      // must not crash the guard into a NumberFormatException verdict
      d.isDirectory && n.startsWith("batch=") &&
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption.exists(_ >= 0)
    }
  }

  /** Concrete `batch=* / <bucketCol>=<v>` leaf directories that EXIST for
    * the touched bucket values — the LISTING half of the touched-slice
    * contract. `spark.read.parquet(storeRoot)` builds its file index by
    * listing EVERY leaf file under the root before partition pruning runs,
    * so planning cost grows with the store even when the scan itself is
    * pruned. Enumerating the touched leaves driver-side instead costs one
    * `listStatus` of the root (O(#batch dirs, bounded by compaction
    * folding history into `batch=-1`)) plus #batchDirs × #touched
    * existence probes — never a listing of untouched buckets' files.
    */
  def touchedBucketDirs(
      spark: SparkSession,
      root: String,
      bucketCol: String,
      touched: Seq[Int]): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) Seq.empty
    else {
      val batchDirs = fs.listStatus(rootPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      for {
        b <- batchDirs
        t <- touched
        leaf = new Path(b.getPath, s"$bucketCol=$t")
        if fs.exists(leaf)
      } yield leaf.toString
    }
  }

  /** The touched slice of a bucket-partitioned store, read from ONLY the
    * enumerated leaf directories (with `basePath` so the `batch` and
    * bucket partition columns are still recovered). None = no touched leaf
    * exists anywhere in the store, which is a SOUND empty answer for a
    * hash-bucketed probe: any stored row colliding with the batch would
    * live in a touched bucket, so no leaf ⇒ no collision candidates —
    * callers return their typed empty frame, never a full-store fallback.
    */
  def readTouchedBuckets(
      spark: SparkSession,
      root: String,
      bucketCol: String,
      touched: Seq[Int]): Option[DataFrame] = {
    val dirs = touchedBucketDirs(spark, root, bucketCol, touched)
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", root).parquet(dirs: _*))
  }

  /** Structural layout probe: does the store hold data files DIRECTLY
    * under some `batch=N` directory (the genuine legacy flat layout), as
    * opposed to `batch=N/<bucketCol>=B` subdirectories? The bucket-store
    * maintainers must not infer "flat" from marker absence alone: the
    * marker is written AFTER the first data write, so a crash in that
    * window leaves a BUCKETED store without a marker, and a marker-based
    * inference would permanently demote it to flat — correct reads, but
    * the touched-bucket pruning (the bounded-probe contract) lost
    * forever. With the structural probe the replay takes the bucketed
    * branch, overwrites the same batch directory, and writes the marker:
    * the crash self-heals. Hidden (`_`/`.`) files are ignored; an absent
    * or empty store is NOT flat (the bucketed branch bootstraps it).
    */
  def isFlatLayout(spark: SparkSession, root: String): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(rootPath) && fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .exists { b =>
        fs.listStatus(b.getPath).exists { c =>
          val n = c.getPath.getName
          c.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      }
  }

  /** Append one batch's rows to an id-bucketed store under the house
    * exactly-once contract, in one place so the subtleties cannot fork
    * across modules ([[IncrementalChunkDedup]], [[IncrementalBoilerplate]]):
    *
    *  - per-batch OVERWRITE directory `batch=N` (an at-least-once replay
    *    rewrites identical rows);
    *  - bucket count from the store's marker when present, else
    *    `defaultBuckets`, with the marker written AFTER the first data
    *    write (marker-present ⇒ data-present; a crash in the window
    *    self-heals on replay because the structural probe below routes
    *    the replay back into the bucketed branch);
    *  - when `legacyFlatFallback`, a marker-less store that STRUCTURALLY
    *    holds flat batch dirs (see [[isFlatLayout]]) keeps its flat
    *    layout — correct reads, pruning restored by the next
    *    [[StoreMaintenance.compact]] — rather than mixing layouts.
    */
  def writeBucketedStoreBatch(
      spark: SparkSession,
      storePath: String,
      rows: DataFrame,
      keyCol: String,
      batchId: Long,
      defaultBuckets: Int,
      legacyFlatFallback: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.col
    val buckets = IncrementalAnnIndex.bucketCount(spark, storePath)
    val legacyFlat = legacyFlatFallback && buckets.isEmpty &&
      isFlatLayout(spark, storePath)
    if (legacyFlat) {
      rows.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
    } else {
      val n = buckets.getOrElse(defaultBuckets)
      rows
        .withColumn("id_bucket", IncrementalAnnIndex.idBucket(col(keyCol), n))
        .repartition(col("id_bucket"))
        .write.mode("overwrite").partitionBy("id_bucket")
        .parquet(s"$storePath/batch=$batchId")
      if (buckets.isEmpty)
        writeSmallFile(spark,
          s"$storePath/${IncrementalAnnIndex.IdBucketsMarker}", n.toString)
    }
  }

  /** The house store probe, in one place so its subtleties cannot fork
    * across modules (the write-side rationale of
    * [[writeBucketedStoreBatch]], applied to the read side): rows of a
    * batch-keyed bucketed store relevant to the probe `keys`, read with
    * static pruning to the keys' touched buckets when the store has a
    * bucket marker. A marker-less store that exists falls back to the
    * unpruned scan (correct, not history-free); an absent store reads as
    * the typed empty frame of `resultSchema` (whose field names are also
    * the output projection).
    *
    *  - `excludeBatchId = Some(b)` drops partition `batch=b` — the
    *    own-partition exclusion every replaying reader needs (a replay
    *    must not see its own previously written rows); None reads every
    *    batch (the search-the-final-state readers).
    *  - `semiJoinKeys = true` additionally narrows to rows whose key is
    *    in `keys` — for probes whose per-key row count carries meaning
    *    (stored df). The guard readers skip it: their callers anti-join
    *    against the batch anyway, and the touched-bucket superset is
    *    already batch-bounded.
    */
  def prunedStore(
      spark: SparkSession,
      path: String,
      keyCol: String,
      keys: DataFrame,
      resultSchema: StructType,
      excludeBatchId: Option[Long],
      semiJoinKeys: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val outCols = resultSchema.fieldNames.toSeq.map(col)
    def empty = emptyOf(spark, resultSchema)
    def shape(rows: DataFrame) = {
      val excluded = excludeBatchId match {
        case Some(b) => rows.filter(col("batch").cast("long") =!= b)
        case None => rows
      }
      val narrowed =
        if (semiJoinKeys) excluded.join(keys.select(keyCol).distinct(), Seq(keyCol))
        else excluded
      narrowed.select(outCols: _*)
    }
    IncrementalAnnIndex.bucketCount(spark, path) match {
      case Some(n) =>
        val touched = keys
          .select(IncrementalAnnIndex.idBucket(col(keyCol), n).as("id_bucket"))
          .distinct().collect().map(_.getInt(0)).toSeq
        readTouchedBuckets(spark, path, "id_bucket", touched)
          .map(shape).getOrElse(empty)
      case None =>
        if (!exists(spark, path)) empty
        else shape(spark.read.parquet(path))
    }
  }

  /** Read a small metadata file written by [[writeSmallFile]]; None when
    * absent.
    */
  def readSmallFile(spark: SparkSession, p: String): Option[String] = {
    val hp = new Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hp)) None
    else {
      val in = fs.open(hp)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }
}
