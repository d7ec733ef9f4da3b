package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.models.{IntRussellDaily, StgDailyStocks}
import graft.streaming.IncrementalMartStream
import graft.testdata.{TestFixtures => T}

/** End-to-end streaming incremental mart maintenance: landed vendor files →
  * raw append → lookback-slice recompute → partition MERGE, compared
  * against a batch full refresh over the same raw data.
  */
class StreamingMartSpec extends SparkSpec {

  private def barJson(t: String, date: String, c: Double): String =
    s"""{"T":"$t","v":100.0,"vw":$c,"o":$c,"c":$c,"h":${c + 1},"l":${c - 1},""" +
      s""""n":5,"t_ms":1704067200000,"api_date":"$date"}"""

  // ST5 wart columns (consecutive_trading_days / is_new_to_index) are
  // recomputed within the slice on incremental runs and legitimately
  // diverge from full refresh — the reference's documented behavior.
  private def comparable(df: DataFrame): DataFrame =
    df.drop("consecutive_trading_days", "is_new_to_index", "ingested_at")

  private def symmetricDiff(a: DataFrame, b0: DataFrame): Long = {
    val b = b0.select(a.columns.map(col): _*) // partitionBy reorders on disk
    a.exceptAll(b).count() + b.exceptAll(a).count()
  }

  test("streamed incremental mart converges to the batch full refresh") {
    val landing = Files.createTempDirectory("mart-landing")
    val ckpt = Files.createTempDirectory("mart-ckpt").toString + "/c"
    val raw = Files.createTempDirectory("mart-raw").toString + "/raw"
    val mart = Files.createTempDirectory("mart-out").toString + "/int_daily"
    val const = T.constituents(spark, sf)

    // bootstrap: three days of history in one drain
    val days1 = Seq("2024-01-02", "2024-01-03", "2024-01-04")
    Files.writeString(landing.resolve("d1.json"),
      days1.zipWithIndex.flatMap { case (d, i) =>
        Seq(barJson("S01", d, 10.0 + i), barJson("S02", d, 20.0 + i))
      }.mkString("\n"))
    val m1 = IncrementalMartStream.maintainIntDaily(
      spark, landing.toString, ckpt, raw, mart, const)
    val full1 = IntRussellDaily.buildFull(
      StgDailyStocks.build(spark.read.parquet(raw)), const)
    assert(symmetricDiff(comparable(m1), comparable(full1)) == 0)
    assert(m1.count() == 6)

    // a new day lands → incremental cycle with lookbackDays=1: the slice
    // is (01-03 .. 01-05), so 01-03's yesterday_close can ONLY come from
    // the cross-boundary fallback join against the stored mart's 01-02 row
    // (in-slice lag sees nothing earlier) — the ST4 branch is genuinely
    // exercised, not shadowed by an all-history slice
    Files.writeString(landing.resolve("d2.json"),
      Seq(barJson("S01", "2024-01-05", 14.0),
        barJson("S02", "2024-01-05", 24.0)).mkString("\n"))
    val m2 = IncrementalMartStream.maintainIntDaily(
      spark, landing.toString, ckpt, raw, mart, const, lookbackDays = 1)
    val full2 = IntRussellDaily.buildFull(
      StgDailyStocks.build(spark.read.parquet(raw).drop("batch")), const)
    assert(symmetricDiff(comparable(m2), comparable(full2)) == 0)
    assert(m2.filter(col("trade_date") === "2024-01-05").count() === 2)
    // boundary carry: 01-03 was recomputed in-slice with no earlier row in
    // the slice; its yesterday_close must be the STORED mart's 01-02 close
    val ycBoundary = m2.filter(col("ticker") === "S02" &&
      col("trade_date") === "2024-01-03").head().getAs[Double]("yesterday_close")
    assert(ycBoundary == 20.0)
    // in-slice lag still supplies the newest day
    val ycNew = m2.filter(col("ticker") === "S02" &&
      col("trade_date") === "2024-01-05").head().getAs[Double]("yesterday_close")
    assert(ycNew == 22.0)

    // scale contract: the per-batch restage prunes the DATE-partitioned raw
    // store to the lookback window — a partition FILTER in the scan, not a
    // post-scan filter over full history
    val pruned = IncrementalMartStream.prunedRaw(
      spark, raw, java.sql.Date.valueOf("2024-01-05"), 1)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*DATE[^\\]]*>=[^\\]]*\\].*"), p)
    // lookback=1 from 01-05 keeps exactly the 01-04 and 01-05 partitions
    assert(pruned.count() == 4)
    assert(pruned.select(min(col("DATE"))).head().getDate(0).toString == "2024-01-04")
  }

  test("a fresh checkpoint over a drained raw store is refused and raw is untouched") {
    val landing = Files.createTempDirectory("mart-landing")
    val ckpt = Files.createTempDirectory("mart-ckpt").toString + "/c"
    val raw = Files.createTempDirectory("mart-raw").toString + "/raw"
    val mart = Files.createTempDirectory("mart-out").toString + "/int_daily"
    val const = T.constituents(spark, sf)
    // bootstrap, then one cycle: raw holds batch=0 and batch=1
    Files.writeString(landing.resolve("d1.json"),
      Seq(barJson("S01", "2024-01-02", 10.0),
        barJson("S01", "2024-01-03", 11.0)).mkString("\n"))
    IncrementalMartStream.maintainIntDaily(
      spark, landing.toString, ckpt, raw, mart, const)
    Files.writeString(landing.resolve("d2.json"),
      barJson("S01", "2024-01-04", 12.0))
    IncrementalMartStream.maintainIntDaily(
      spark, landing.toString, ckpt, raw, mart, const)
    val rawRows = spark.read.parquet(raw).count()
    assert(rawRows == 3)
    // a fresh checkpoint would re-drain both files into raw/batch=0 beside
    // batch=1, so raw would hold the 01-04 bar twice
    val ckpt2 = Files.createTempDirectory("mart-ckpt2").toString + "/c"
    val err = intercept[IllegalArgumentException] {
      IncrementalMartStream.maintainIntDaily(
        spark, landing.toString, ckpt2, raw, mart, const)
    }
    assert(err.getMessage.contains("fresh checkpoint"), err.getMessage)
    assert(spark.read.parquet(raw).count() == rawRows)
  }
}
