package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** The battery harness: the one session config and the one pass over
  * [[SparkEntry.queries]] that [[Bench]], [[Verify]] and the two
  * instrumentation modes below share.
  *
  * Usage:
  *  - `Runner probe <sfDir> <reps> <name> [name ...]` — time each named row
  *    `reps` times in isolation (build + `count()`), one `PROBE` line per
  *    repetition: steady-state compute versus first-run cost;
  *  - `Runner plan <sfDir> <outDir> <tag> [name ...]` — write each row's
  *    `explain("formatted")` to `<outDir>/<name>_<tag>.txt` (no names = all),
  *    so plan-shape claims are committed evidence. Rows whose shared
  *    relations checkpoint eagerly dump the checkpointed plan they run.
  */
object Runner {
  type Battery = Map[String, (SparkSession, String) => DataFrame]

  /** `local[SPARK_GRAFT_CPUS]` with the graft extensions, one shuffle
    * partition per core, UTC and no UI — every harness main runs here.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass over `battery` in sorted-name order — the order the shared
    * relations' lifetimes in [[SparkEntry]] are written for, so a row is
    * always preceded by the same work. `names` restricts the pass to a
    * subset; an empty or unknown subset is rejected, so a typo cannot pass
    * off a stale output as a fresh run. Each row's clock covers building
    * its frame plus `act`; a row that throws is returned as its error and
    * the pass goes on.
    */
  def pass(spark: SparkSession, sfDir: String, names: Option[Seq[String]],
      battery: Battery = SparkEntry.queries)
      (act: (String, DataFrame) => Unit)
      : Seq[(String, Either[Throwable, Double])] = {
    names.foreach { ns =>
      val unknown = ns.filterNot(battery.contains)
      require(ns.nonEmpty && unknown.isEmpty,
        s"the subset selects no known rows (unknown: ${unknown.mkString(",")})")
    }
    battery.toSeq.sortBy(_._1)
      .filter { case (name, _) => names.forall(_.contains(name)) }
      .map { case (name, fn) =>
        name -> (try Right(timed(act(name, fn(spark, sfDir))))
          catch { case NonFatal(e) => Left(e) })
      }
  }

  /** Reports each failed row of a pass on stderr as `[mode] name failed:`
    * and returns the failed names.
    */
  def failures(mode: String,
      results: Seq[(String, Either[Throwable, Double])]): Seq[String] =
    results.collect { case (name, Left(e)) =>
      System.err.println(s"[$mode] $name failed: ${e.getMessage}")
      name
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "probe" :: sfDir :: reps :: names if names.nonEmpty =>
      val spark = session()
      for (name <- names; i <- 1 to reps.toInt) {
        val r = pass(spark, sfDir, Some(Seq(name)))((_, df) => { df.count(); () })
        failures("probe", r)
        r.foreach { case (_, t) =>
          t.foreach(sec => println(f"PROBE $name rep=$i $sec%.3f s")) }
      }
      spark.stop()
    case "plan" :: sfDir :: outDir :: tag :: names =>
      val spark = session()
      Files.createDirectories(Paths.get(outDir))
      failures("plan", pass(spark, sfDir, Option(names).filter(_.nonEmpty)) {
        (name, df) =>
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
            df.queryExecution.explainString(ExplainMode.fromString("formatted")))
          ()
      })
      spark.stop()
    case _ =>
      System.err.println("usage: Runner probe <sfDir> <reps> <name> [name ...]\n" +
        "       Runner plan <sfDir> <outDir> <tag> [name ...]")
      sys.exit(2)
  }
}
