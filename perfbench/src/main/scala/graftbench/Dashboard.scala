package graftbench

import java.sql.Date

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.api.Queries
import graft.api.Queries.ScreenerFilter

/** The stored marts a dashboard reads. */
final case class Marts(fct: DataFrame, dim: DataFrame, breadth: DataFrame)

object Marts {
  def open(spark: SparkSession, store: String): Marts = Marts(
    spark.read.parquet(s"$store/fct_trading_momentum"),
    spark.read.parquet(s"$store/dim_securities_current"),
    spark.read.parquet(s"$store/agg_daily_market_breadth"))
}

/** The same marts as plain rows, for recomputing every answer apart from
  * the engine.
  */
final class MartRows(m: Marts) {
  val fct: Array[Row] = m.fct.collect()
  val dim: Array[Row] = m.dim.collect()
  val breadth: Array[Row] = m.breadth.collect()
}

/** One dashboard call: the engine query and its plain-Scala answer. Rows
  * are compared as canonical strings; `orderKey` names the output columns
  * the answer must be sorted by (ties may come in any order).
  */
final case class Call(
    fn: String,
    query: Marts => DataFrame,
    expected: MartRows => Seq[Seq[Any]],
    orderKey: Seq[Int] = Nil)

final case class Page(name: String, calls: Seq[Call])

object Dashboard {

  private def get(r: Row, c: String): Any = r.get(r.fieldIndex(c))

  private def num(a: Any): Option[Double] = a match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue)
    case _ => None
  }

  private def canon(a: Any): String = a match {
    case null => "NULL"
    case d: Double => if (d == 0) "0" else "%.12g".format(d)
    case f: Float => canon(f.toDouble)
    case n: java.lang.Number => n.toString
    case other => other.toString
  }

  private def canonRow(r: Seq[Any]): String = r.map(canon).mkString("\u0001")

  /** Spark's ascending order for one value: nulls first. */
  private def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Date, y: Date) => x.compareTo(y)
    case (x: String, y: String) => x.compareTo(y)
    case (x, y) => java.lang.Double.compare(num(x).get, num(y).get)
  }

  /** Empty when the engine's answer matches the reference, else why not. */
  def mismatch(call: Call, got: Seq[Row], rows: MartRows): Option[String] = {
    val g = got.map(_.toSeq)
    val e = call.expected(rows)
    if (g.size != e.size) Some(s"${call.fn}: ${g.size} rows, expected ${e.size}")
    else if (g.map(canonRow).sorted != e.map(canonRow).sorted)
      Some(s"${call.fn}: rows differ")
    else if (call.orderKey.nonEmpty &&
        g.map(r => call.orderKey.map(i => canon(r(i)))) !=
          e.map(r => call.orderKey.map(i => canon(r(i)))))
      Some(s"${call.fn}: order differs")
    else None
  }

  // ---- calls: engine query + reference answer --------------------------

  def screener(f: ScreenerFilter, dimCols: Seq[String]): Call = Call("screener",
    m => Queries.screener(m.dim, f),
    r => {
      def ge(c: String, lo: Option[Double])(row: Row) =
        lo.forall(x => num(get(row, c)).exists(_ >= x))
      def le(c: String, hi: Option[Double])(row: Row) =
        hi.forall(x => num(get(row, c)).exists(_ <= x))
      def eq(c: String, v: Option[Int])(row: Row) =
        v.forall(x => num(get(row, c)).contains(x.toDouble))
      val kept = r.dim.filter(row =>
        ge("latest_rsi", f.rsiLo)(row) && le("latest_rsi", f.rsiHi)(row) &&
          (f.sectors.isEmpty || f.sectors.contains(get(row, "sector"))) &&
          ge("return_1m", f.minReturn1m)(row) &&
          eq("has_golden_cross_active", f.goldenCrossActive)(row) &&
          eq("over_sma50", f.overSma50)(row) &&
          f.tickerContains.forall(s => Option(get(row, "ticker")).exists(
            _.toString.toLowerCase.contains(s.toLowerCase))))
      val byReturn = kept.sortBy(row =>
        num(get(row, "return_1m")).map(-_).getOrElse(Double.PositiveInfinity))
      byReturn.take(f.limit).map(_.toSeq).toSeq
    },
    orderKey = Seq(dimCols.indexOf("return_1m")))

  val screenerStats: Call = Call("screener_stats",
    m => Queries.screenerStats(m.dim),
    r => {
      def values(c: String) = r.dim.toSeq.flatMap(row => num(get(row, c)))
      def median(c: String): Any = {
        val v = values(c).sorted
        if (v.isEmpty) null
        else {
          val pos = 0.5 * (v.size - 1)
          val lo = v(pos.floor.toInt)
          val hi = v(pos.ceil.toInt)
          lo + (hi - lo) * (pos - pos.floor)
        }
      }
      def mean(c: String): Any = {
        val v = values(c)
        if (v.isEmpty) null else v.sum / v.size
      }
      Seq(Seq(median("return_1m"), mean("return_1m"), median("latest_rsi"),
        mean("latest_rel_vol"), r.dim.length.toLong))
    })

  private def picklist(fn: String, c: String, q: DataFrame => DataFrame): Call =
    Call(fn, m => q(m.dim),
      r => r.dim.toSeq.map(get(_, c)).distinct.sortWith(cmpAny(_, _) < 0).map(Seq(_)),
      orderKey = Seq(0))

  val sectorPicklist: Call = picklist("sector_picklist", "sector", Queries.sectorPicklist)
  val tickerPicklist: Call = picklist("ticker_picklist", "ticker", Queries.tickerPicklist)

  def tickerHistory(ticker: String, from: Date, to: Date, fctCols: Seq[String]): Call =
    Call("ticker_history",
      m => Queries.tickerHistory(m.fct, ticker, from, to),
      r => r.fct.toSeq
        .filter(row => get(row, "ticker") == ticker && {
          val d = get(row, "trade_date").asInstanceOf[Date]
          d != null && !d.before(from) && !d.after(to)
        })
        .sortWith((a, b) => cmpAny(get(a, "trade_date"), get(b, "trade_date")) > 0)
        .take(2000).map(_.toSeq),
      orderKey = Seq(fctCols.indexOf("trade_date")))

  val breadthTrend: Call = Call("breadth_trend",
    m => Queries.breadthTrend(m.breadth, 30),
    r => r.breadth.toSeq
      .sortWith((a, b) => cmpAny(get(a, "trade_date"), get(b, "trade_date")) > 0)
      .take(30)
      .map { row =>
        val pct = num(get(row, "pct_market_over_sma50"))
        val sentiment =
          if (pct.exists(_ > 0.8)) "Strong Bullish"
          else if (pct.exists(_ < 0.2)) "Strong Bearish"
          else "Neutral"
        Seq(get(row, "trade_date"), get(row, "ad_ratio"),
          get(row, "pct_market_over_sma50"), get(row, "market_rsi"), sentiment)
      },
    orderKey = Seq(0))

  val freshness: Call = Call("freshness",
    m => Queries.freshness(m.fct),
    r => {
      val d = r.fct.toSeq.map(get(_, "trade_date")).filter(_ != null)
        .map(_.asInstanceOf[Date])
      Seq(Seq(r.fct.length.toLong,
        if (d.isEmpty) null else d.minBy(_.getTime),
        if (d.isEmpty) null else d.maxBy(_.getTime)))
    })

  val goldenCrosses: Call = Call("golden_crosses",
    m => Queries.latestGoldenCrosses(m.fct),
    r => {
      val dates = r.fct.toSeq.map(get(_, "trade_date")).filter(_ != null)
        .map(_.asInstanceOf[Date])
      if (dates.isEmpty) Nil
      else {
        val maxD = dates.maxBy(_.getTime)
        r.fct.toSeq
          .filter(row => get(row, "trade_date") == maxD &&
            num(get(row, "golden_cross")).contains(1d))
          .map(row => Seq(get(row, "ticker"), get(row, "company"), get(row, "sector")))
      }
    })

  val topPerformers: Call = Call("top_performers",
    m => Queries.topPerformersBySector(m.dim),
    r => r.dim.toSeq
      .filter(row => num(get(row, "performance_percentile")).exists(_ > 0.9))
      .map(row => Seq(get(row, "sector"), get(row, "ticker"), get(row, "latest_close"),
        get(row, "return_1m"), get(row, "performance_percentile")))
      .sortWith { (a, b) =>
        val s = cmpAny(a.head, b.head)
        if (s != 0) s < 0 else cmpAny(a(3), b(3)) > 0
      },
    orderKey = Seq(0, 3))

  // ---- the seeded session ---------------------------------------------

  /** Page views modelled on the reference's three dashboard pages plus the
    * README queries, in a fixed mix (3 Market Breadth : 3 Universe Screener :
    * 3 Ticker Momentum : 1 README) so that every seed times the same kinds of
    * page; the order and each page's parameters are seeded.
    */
  def pages(rng: Random, n: Int, sectors: Seq[String], tickers: Seq[String],
      firstDate: Date, lastDate: Date, dimCols: Seq[String],
      fctCols: Seq[String]): Seq[Page] = {
    val days = ((lastDate.getTime - firstDate.getTime) / 86400000L).toInt
    def opt[A](p: Double)(a: => A): Option[A] = if (rng.nextDouble() < p) Some(a) else None
    val kinds = Seq.tabulate(n)(i => Seq("breadth", "screener", "ticker")(i % 3))
      .zipWithIndex.map { case (k, i) => if (i % 10 == 9) "readme" else k }
    rng.shuffle(kinds).map {
      case "breadth" => Page("breadth", Seq(breadthTrend, freshness))
      case "screener" =>
        val f = ScreenerFilter(
          rsiLo = opt(0.5)(rng.nextInt(50).toDouble),
          rsiHi = opt(0.5)(50d + rng.nextInt(50)),
          sectors = if (rng.nextBoolean()) rng.shuffle(sectors).take(1 + rng.nextInt(3)) else Nil,
          minReturn1m = opt(0.3)(-0.1 + rng.nextInt(16) / 100d),
          goldenCrossActive = opt(0.3)(rng.nextInt(2)),
          overSma50 = opt(0.3)(rng.nextInt(2)),
          tickerContains = opt(0.2)(rng.nextInt(3).toString))
        Page("screener", Seq(screener(f, dimCols), screenerStats, sectorPicklist))
      case "ticker" =>
        // a 30-day chart that always lies inside the history, so every
        // ticker page reads the same number of date partitions
        val to = new Date(firstDate.getTime + (30 + rng.nextInt(days - 29)) * 86400000L)
        val from = new Date(to.getTime - 30 * 86400000L)
        Page("ticker", Seq(tickerPicklist,
          tickerHistory(tickers(rng.nextInt(tickers.size)), from, to, fctCols)))
      case _ => Page("readme", Seq(goldenCrosses, topPerformers))
    }
  }
}
