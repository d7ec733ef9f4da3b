package graftbench

import java.sql.Date

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.StockPipeline
import graft.quality.DataQuality
import graft.testdata.{TestFixtures => T}

/** `marts`: a full refresh of the mart DAG into a fresh store, with the DQ
  * tests on the stored marts; then a seeded closed-loop dashboard session of
  * one client, [[Pages]] page views over that store. A small untimed round
  * warms the JVM first. When the refresh fails, no pages are served.
  */
object MartsWorkload {

  val Pages = 30

  /** Stored model -> the battery row whose DuckDB SQL evaluates it. */
  val Oracle: Seq[(String, String)] = Seq(
    "int_russell_daily" -> "stock_int_daily",
    "fct_trading_momentum" -> "stock_fct_momentum",
    "agg_daily_market_breadth" -> "stock_breadth",
    "dim_securities_current" -> "stock_dim_securities")

  final case class Inputs(staged: DataFrame, constituents: DataFrame,
      sectors: Seq[String], tickers: Seq[String], first: Date, last: Date)

  /** The staged bars and constituents, plus the page-parameter domain the
    * generator wrote to `marts.properties`.
    */
  def inputs(spark: SparkSession, data: String): Inputs = {
    val meta = new java.util.Properties
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(s"$data/marts.properties"))
    try meta.load(in) finally in.close()
    def list(k: String) = meta.getProperty(k).split(",").toSeq
    Inputs(T.stagedBars(spark, data), T.constituents(spark, data), list("sectors"),
      list("tickers"), Date.valueOf(meta.getProperty("first")), Date.valueOf(meta.getProperty("last")))
  }

  /** Staged bars -> four stored marts -> DQ tests on the stored marts.
    * Returns each test's violation count.
    */
  def refresh(spark: SparkSession, in: Inputs, store: String, tr: Trace): Seq[(String, Long)] = {
    val m = tr.span("pipeline.StockPipeline.run") {
      StockPipeline.run(spark, in.staged, in.constituents, store)
    }
    tr.span("quality.report") {
      Seq(
        DataQuality.report(m("int_russell_daily"), DataQuality.intTests()),
        DataQuality.report(m("fct_trading_momentum"), DataQuality.fctTests),
        DataQuality.report(m("agg_daily_market_breadth"),
          DataQuality.breadthTests(highLowInclusive = true)),
        DataQuality.report(m("dim_securities_current"),
          DataQuality.dimTests(rowLo = 20, rowHi = 30)))
        .reduce(_ unionByName _).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
    }
  }

  /** One answered call: its rows, its time and its plan time (traced runs). */
  final case class Answer(call: Call, rows: Array[Row], ms: Double, planMs: Double)

  /** Runs a page's calls in order. */
  def view(m: Marts, page: Page, tr: Trace): Seq[Answer] =
    page.calls.map { c =>
      val t0 = System.nanoTime()
      var planMs = Double.NaN
      val rows = tr.span(s"api.${c.fn}") {
        val df = c.query(m)
        if (tr.enabled) {
          val p0 = System.nanoTime()
          tr.span("api.plan")(df.queryExecution.executedPlan)
          planMs = (System.nanoTime() - p0) / 1e6
        }
        df.collect()
      }
      Answer(c, rows, (System.nanoTime() - t0) / 1e6, planMs)
    }

  /** An untimed round on the first five days: a refresh and one page view
    * of each kind.
    */
  def warmUp(spark: SparkSession, in: Inputs, args: Args): Unit = {
    val store = args.path("warm-store")
    val early = in.copy(staged = in.staged.filter(col("trade_date") < date_add(lit(in.first), 5)))
    refresh(spark, early, store, new Trace(false))
    System.err.println(f"perfbench: warm-up refresh ${Main.sinceStart(args)}%.1f s")
    val m = Marts.open(spark, store)
    val pages = Dashboard.pages(new Random(-args.seed), Pages, in.sectors, in.tickers,
      in.first, in.last, m.dim.columns.toSeq, m.fct.columns.toSeq)
    pages.groupBy(_.name).values.map(_.head).foreach(view(m, _, new Trace(false)))
    Main.deleteTree(store)
  }

  def run(spark: SparkSession, args: Args, ops: Ops, tr: Trace,
      warm: Boolean = true): (Double, Outcome) = {
    val in = inputs(spark, args.data)
    if (warm) warmUp(spark, in, args)
    val setupS = Main.sinceStart(args)
    System.err.println(f"perfbench: setup $setupS%.1f s")

    val store = args.path("store")
    val seen = mutable.ArrayBuffer.empty[(String, Answer)]
    val refreshed = ops.run("refresh", "refresh")(refresh(spark, in, store, tr)).map { dq =>
      val m = tr.span("pipeline.store_open")(Marts.open(spark, store))
      val pages = Dashboard.pages(new Random(args.seed * 7919), Pages,
        in.sectors, in.tickers, in.first, in.last, m.dim.columns.toSeq, m.fct.columns.toSeq)
      pages.zipWithIndex.foreach { case (p, i) =>
        val id = s"page-$i-${p.name}"
        ops.run(id, "page")(view(m, p, tr)).foreach(_.foreach(a => seen += id -> a))
      }
      (dq, m)
    }

    // checks, after the timed section
    refreshed.foreach { case (dq, m) =>
      val bad = dq.filter(_._2 != 0)
      if (bad.nonEmpty) ops.fail("refresh", "DQ violations: " +
        bad.map { case (n, v) => s"$n=$v" }.mkString(", "))
      val rows = new MartRows(m)
      seen.foreach { case (id, a) =>
        Dashboard.mismatch(a.call, a.rows.toSeq, rows).foreach(ops.fail(id, _))
      }
    }
    val built = refreshed.isDefined
    val oracle = if (!built) Nil else Oracle.map { case (table, row) =>
      Main.oracle("refresh", table, s"$store/$table", SparkEntry.oracleSql(row))
    }
    // per-call medians over the pages whose every answer was right
    val passed = ops.all.filter(o => o.kind == "page" && o.ok).map(_.id).toSet
    val good = seen.collect { case (id, a) if passed(id) => a }.toSeq
    val api = if (!tr.enabled) Map.empty[String, Double] else
      good.groupBy(_.call.fn).map { case (fn, as) => s"api.${fn}_ms" -> Main.median(as.map(_.ms)) } +
        ("api.plan_ms" -> Main.median(good.map(_.planMs)))
    val sizes = if (!built) Map.empty[String, Double] else Map(
      "store_mb" -> Main.bytesUnder(store) / 1e6,
      "files_written" -> Main.parquetFilesUnder(store).toDouble)
    (setupS, Outcome(api ++ sizes, oracle,
      if (!built) Nil
      else Seq("breadth_check" -> Json.obj(Seq("op" -> Json.str("refresh"), "store" -> Json.str(store))))))
  }
}
