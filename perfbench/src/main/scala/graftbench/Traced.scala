package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ingest.RawLoader
import graft.models._
import graft.pipeline.MergeWriter
import graft.streaming.IncrementalMartStream

/** The traced run. Every per-layer metric is reported by every traced run,
  * so this run covers every layer whichever workload it is named for: one
  * `marts` round, a `daily` bootstrap with two cycles, then probes that call
  * each layer's public functions from outside on the stores those left, and
  * the battery rows that ROADMAP names. It skips the warm-ups to stay well
  * inside the run time limit. Spans and counters are written to
  * `trace.json` in the run directory.
  */
object Traced {

  val OpsRows: Seq[String] = Seq("curate_dsir_select", "text_bm25_topk", "text_top_terms",
    "quality_report", "split_semantic_decontam", "sql_dsir_by_lang", "stock_dim_securities")

  def run(spark: SparkSession, args: Args, ops: Ops): (Double, Outcome) = {
    val tr = new Trace(true)
    val counters = new Counters(spark)
    val (setupS, marts) = MartsWorkload.run(spark, args, ops, tr, warm = false)
    val (_, daily) = DailyWorkload.run(spark, args, ops, tr, Some(counters), bootstraps = 1,
      cycles = 2, warm = false)

    val v = mutable.LinkedHashMap.empty[String, Double]
    def ms(name: String): Double = Main.median(tr.named(name).map(_.ms))
    /** Seconds one call of `body` takes, recorded as span `name`; NaN (no
      * value) when it throws.
      */
    def probe(name: String)(body: => Any): Double =
      try {
        tr.span(name)(body)
        ms(name) / 1000
      } catch {
        case NonFatal(e) => e.printStackTrace(); Double.NaN
      }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // models: each model on in-memory inputs, into a noop sink
    val in = MartsWorkload.inputs(spark, args.data)
    val staged = in.staged.persist()
    val cons = in.constituents.persist()
    staged.count(); cons.count()
    val int = IntRussellDaily.buildFull(staged, cons).persist()
    int.count()
    val fct = FctTradingMomentum.buildFull(int).persist()
    fct.count()
    v("models.int_s") = probe("models.int")(noop(IntRussellDaily.buildFull(staged, cons)))
    v("models.fct_s") = probe("models.fct")(noop(FctTradingMomentum.buildFull(int)))
    v("models.breadth_s") = probe("models.breadth")(noop(AggDailyMarketBreadth.build(int, fct)))
    v("models.dim_s") = probe("models.dim")(noop(DimSecuritiesCurrent.build(fct)))

    // pipeline: the partition-overwrite merge and the store open
    v("pipeline.merge_write_s") = probe("pipeline.merge_write") {
      MergeWriter.mergeByDatePartition(spark,
        int.repartition(col("trade_date")).sortWithinPartitions("trade_date", "ticker"),
        args.path("merge-scratch"))
    }
    val store = args.path("store")
    v("pipeline.files_written") = marts.values.getOrElse("files_written", Double.NaN)
    v("pipeline.store_open_s") = probe("pipeline.store_open_all") {
      MartsWorkload.Oracle.foreach { case (t, _) => spark.read.parquet(s"$store/$t") }
    }
    v("quality.report_s") = ms("quality.report") / 1000
    Seq(staged, cons, int, fct).foreach(_.unpersist())

    // api: medians per Queries function over the pages whose answers passed
    Seq("screener", "screener_stats", "sector_picklist", "ticker_picklist", "ticker_history",
      "breadth_trend", "freshness", "golden_crosses", "top_performers", "plan")
      .foreach(fn => v(s"api.${fn}_ms") = marts.values.getOrElse(s"api.${fn}_ms", Double.NaN))

    // ingest and streaming probes, on the stores the daily cycles left
    val ds = DailyWorkload.store(args.path("daily-0"))
    v("ingest.raw_open_s") = probe("ingest.readRaw")(RawLoader.readRaw(spark, ds.raw))
    v("ingest.raw_files") = daily.values("raw_files")
    v("streaming.mart_open_s") = probe("streaming.mart_open")(spark.read.parquet(ds.mart))
    lazy val martMax = spark.read.parquet(ds.mart).agg(max("trade_date")).head().getDate(0)
    v("streaming.pruned_raw_s") = probe("streaming.prunedRaw") {
      IncrementalMartStream.prunedRaw(spark, ds.raw, martMax, 4).count()
    }
    v("models.int_slice_s") = probe("models.int_slice") {
      val slice = IncrementalMartStream.prunedRaw(spark, ds.raw, martMax, 4)
      noop(IntRussellDaily.buildIncremental(StgDailyStocks.build(RawLoader.heal(slice)),
        in.constituents, spark.read.parquet(ds.mart), 4, Some(martMax)))
    }
    Seq("streaming.trigger_ms", "streaming.add_batch_ms", "streaming.latest_offset_ms",
      "streaming.wal_commit_ms", "streaming.query_planning_ms", "streaming.jobs_per_cycle",
      "streaming.tasks_per_cycle").foreach(k => v(k) = daily.values(k))

    // ops: the named battery rows, each materialized in full
    val before = counters.snapshot()
    var peakCached = 0L
    val rowOracle = mutable.ArrayBuffer.empty[String]
    OpsRows.foreach { name =>
      val id = s"row-$name"
      ops.run(id, "row")(tr.span(s"ops.$name") {
        val df = SparkEntry.queries(name)(spark, args.data)
        (df.schema, df.collect())
      }).foreach { case (schema, rows) =>
        val path = args.path(s"rows/$name")
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1).write.parquet(path)
        rowOracle += Main.oracle(id, name, path, SparkEntry.oracleSql(name))
      }
      peakCached = math.max(peakCached, counters.cachedBytes)
      // run.py drops the time of a row that threw or that DuckDB finds wrong
      v(s"ops.row.${name}_s") = ms(s"ops.$name") / 1000
    }
    val after = counters.snapshot()
    v("ops.jobs") = (after.jobs - before.jobs).toDouble
    v("ops.tasks") = (after.tasks - before.tasks).toDouble
    v("ops.shuffle_mb") = (after.shuffle - before.shuffle) / 1e6
    v("ops.gc_s") = (after.gcMs - before.gcMs) / 1000.0
    v("ops.peak_cached_mb") = peakCached / 1e6

    val trace = Json.obj(Seq(
      "spans" -> tr.toJson,
      "counters" -> Json.obj(Seq(
        "jobs" -> after.jobs.toString, "tasks" -> after.tasks.toString,
        "shuffle_bytes" -> after.shuffle.toString, "spill_bytes" -> after.spill.toString,
        "gc_ms" -> after.gcMs.toString))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.path("trace.json")), trace)

    (setupS, Outcome(v.toMap, marts.oracle ++ rowOracle, marts.fields ++ daily.fields))
  }
}
