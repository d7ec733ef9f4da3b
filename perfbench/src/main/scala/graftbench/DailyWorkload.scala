package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.RawLoader
import graft.models.{IntRussellDaily, StgDailyStocks}
import graft.streaming.IncrementalMartStream
import graft.testdata.{TestFixtures => T}

/** `daily`: the reference's scheduled run as a stream. One vendor file with
  * the whole history is drained into a fresh store (the bootstrap),
  * [[Bootstraps]] times, each into its own store, so that one slow drain does
  * not set the median; then, on the last store, each of [[Cycles]] trading
  * days lands as one 25-bar vendor file and one `maintainIntDaily` call
  * drains it.
  */
object DailyWorkload {

  val Bootstraps = 5
  val Cycles = 5

  final case class Store(landing: String, checkpoint: String, raw: String, mart: String) {
    def dirs: Seq[String] = Seq(checkpoint, raw, mart)
  }

  def store(root: String): Store =
    Store(s"$root/landing", s"$root/checkpoint", s"$root/raw", s"$root/mart")

  def maintain(spark: SparkSession, s: Store, cons: DataFrame, tr: Trace): DataFrame =
    tr.span("streaming.maintainIntDaily") {
      IncrementalMartStream.maintainIntDaily(spark, s.landing, s.checkpoint, s.raw, s.mart, cons)
    }

  /** Moves a vendor file into the landing directory: the file "lands". */
  def land(file: Path, s: Store): Unit = {
    Files.createDirectories(Paths.get(s.landing))
    Files.move(file, Paths.get(s.landing).resolve(file.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A small bootstrap plus one cycle, on files cut from the history. */
  def warmUp(spark: SparkSession, args: Args, cons: DataFrame): Unit = {
    val root = args.path("warm-daily")
    val src = Files.createDirectories(Paths.get(root, "src"))
    val lines = Files.readAllLines(Paths.get(args.data, "vendor", "bootstrap.json")).asScala
    val perDay = lines.groupBy(l => l.substring(l.indexOf("\"api_date\""))).toSeq.sortBy(_._1)
    Files.write(src.resolve("boot.json"), perDay.take(5).flatMap(_._2).asJava)
    Files.write(src.resolve("day.json"), perDay(5)._2.asJava)
    val s = store(root)
    Seq("boot.json", "day.json").foreach { f =>
      land(src.resolve(f), s)
      maintain(spark, s, cons, new Trace(false)).count()
    }
    Main.deleteTree(root)
  }

  /** Landed mart rows whose non-wart columns differ from a full rebuild of
    * the same raw store, as "ticker|date" keys.
    */
  def fullRebuildMismatches(spark: SparkSession, s: Store, cons: DataFrame): Seq[String] = {
    val mart = spark.read.parquet(s.mart)
    val wart = Set("consecutive_trading_days", "is_new_to_index", "ingested_at", "yesterday_close")
    val cols = mart.columns.filterNot(wart).map(col).toSeq
    val full = IntRussellDaily.buildFull(
      StgDailyStocks.build(RawLoader.readRaw(spark, s.raw).drop("batch")), cons)
    val a = mart.select(cols: _*)
    val b = full.select(cols: _*)
    a.exceptAll(b).unionByName(b.exceptAll(a))
      .select(concat_ws("|", col("ticker"), col("trade_date").cast("string")))
      .distinct().limit(1000).collect().map(_.getString(0)).toSeq
  }

  def run(spark: SparkSession, args: Args, ops: Ops, tr: Trace, counters: Option[Counters],
      bootstraps: Int = Bootstraps, cycles: Int = Cycles,
      warm: Boolean = true): (Double, Outcome) = {
    val cons = T.constituents(spark, args.data)
    if (warm) warmUp(spark, args, cons)
    val vendor = Paths.get(args.data, "vendor")
    // one copy of the history file per bootstrap, each landing in its own store
    val boots = (0 until bootstraps).map { i =>
      val dir = Files.createDirectories(vendor.resolve(s"boot-$i"))
      Files.copy(vendor.resolve("bootstrap.json"), dir.resolve("bootstrap.json"))
    }
    val stores = boots.indices.map(i => store(args.path(s"daily-$i")))
    val setupS = Main.sinceStart(args)
    System.err.println(f"perfbench: setup $setupS%.1f s")

    val s = stores.last
    val days = Files.list(vendor.resolve("days"))
    val dayFiles = try days.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally days.close()
    val perCycle = mutable.ArrayBuffer.empty[(Long, Long)]

    boots.zip(stores).zipWithIndex.foreach { case ((file, st), i) =>
      ops.run(s"bootstrap-$i", "bootstrap") {
        land(file, st)
        maintain(spark, st, cons, tr)
      }
    }
    val progressAfterBoot = counters.map { c => c.flush(); c.progressCount }.getOrElse(0)
    val landed = mutable.ArrayBuffer.empty[String]
    dayFiles.take(cycles).foreach { f =>
      val day = f.getFileName.toString.stripSuffix(".json")
      val before = counters.map(_.snapshot())
      ops.run(s"cycle-$day", "cycle") {
        land(f, s)
        maintain(spark, s, cons, tr)
      }
      for (b <- before; c <- counters; a = c.snapshot())
        perCycle += ((a.jobs - b.jobs, a.tasks - b.tasks))
      landed += day
    }

    val values = mutable.Map(
      "store_mb" -> s.dirs.map(Main.bytesUnder).sum / 1e6,
      "raw_files" -> Main.parquetFilesUnder(s.raw).toDouble)
    counters.foreach { c =>
      c.flush()
      val cycles = c.progressSince(progressAfterBoot)
      def phase(k: String) = Main.median(cycles.flatMap(_.get(k)).map(_.toDouble))
      values ++= Seq(
        "streaming.trigger_ms" -> phase("triggerExecution"),
        "streaming.add_batch_ms" -> phase("addBatch"),
        "streaming.latest_offset_ms" -> phase("latestOffset"),
        "streaming.wal_commit_ms" -> phase("walCommit"),
        "streaming.query_planning_ms" -> phase("queryPlanning"),
        "streaming.jobs_per_cycle" -> Main.median(perCycle.map(_._1.toDouble).toSeq),
        "streaming.tasks_per_cycle" -> Main.median(perCycle.map(_._2.toDouble).toSeq))
    }
    // each store: its mart, the op that bootstrapped it and the days landed
    // on it; for the maintained store, also its rows that differ from a full
    // rebuild of its raw store (the bootstrap-only stores are full builds)
    val checked = stores.zipWithIndex.map { case (st, i) =>
      val days = if (st == s) landed.toSeq else Nil
      Json.obj(Seq(
        "mart" -> Json.str(st.mart),
        "bootstrap" -> Json.str(s"bootstrap-$i"),
        "landed" -> days.map(Json.str).mkString("[", ",", "]"),
        "full_rebuild_mismatches" -> (
          try {
            if (st != s) "[]"
            else fullRebuildMismatches(spark, st, cons).map(Json.str).mkString("[", ",", "]")
          } catch {
            case NonFatal(e) =>
              ops.fail(s"bootstrap-$i", s"full rebuild: ${e.getClass.getSimpleName}: ${e.getMessage}")
              "[]"
          })))
    }
    (setupS, Outcome(values.toMap, Nil, Seq("daily" -> checked.mkString("[", ",", "]"))))
  }
}
