package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point, launched by `perfbench/run.py`.
  *
  * `--workload marts|daily --seed N --trace 0|1 --run-dir D --t0 EPOCH_S`
  *
  * Inputs are already generated under `D/data`. The JVM warms up, times its
  * workload's fixed amount of work and writes `D/result.json`: the set-up time, one record per
  * operation (its time, or a failure and why), sizes, and the checks left to
  * `run.py` (DuckDB and the daily recomputation). Every store lives under
  * `D`, which `run.py` removes.
  */
final case class Args(workload: String, seed: Long, trace: Boolean, runDir: String,
    t0: Double) {
  def data: String = s"$runDir/data"
  def path(name: String): String = s"$runDir/$name"
}

/** One timed operation. A failed one reports no time. */
final case class Op(id: String, kind: String, ms: Double, ok: Boolean, why: String)

final class Ops {
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val index = mutable.Map.empty[String, Int]

  /** Times `body` as operation `id`; an exception fails the operation. */
  def run[A](id: String, kind: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val a = body
      add(Op(id, kind, (System.nanoTime() - t0) / 1e6, ok = true, ""))
      Some(a)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        add(Op(id, kind, Double.NaN, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        None
    }
  }

  private def add(op: Op): Unit = synchronized {
    System.err.println(f"perfbench: ${op.id} ${op.ms}%.1f ms")
    index(op.id) = ops.size
    ops += op
  }

  /** Fails operation `id` because a check found its output wrong. */
  def fail(id: String, why: String): Unit = synchronized {
    index.get(id).foreach { i =>
      if (ops(i).ok) ops(i) = ops(i).copy(ms = Double.NaN, ok = false, why = s"check: $why")
    }
  }

  def all: Seq[Op] = synchronized(ops.toSeq)

  def ok(kind: String): Seq[Op] = all.filter(o => o.kind == kind && o.ok)

  def json: String = all.map(o => Json.obj(Seq(
    "id" -> Json.str(o.id), "kind" -> Json.str(o.kind), "ms" -> Json.num(o.ms),
    "ok" -> o.ok.toString, "why" -> Json.str(o.why.take(300))))).mkString("[", ",\n", "]")
}

/** What a workload hands back: named values, the stored outputs run.py must
  * compare with DuckDB (JSON objects: op, table, path, sql), and other JSON
  * fields for run.py.
  */
final case class Outcome(values: Map[String, Double], oracle: Seq[String],
    fields: Seq[(String, String)] = Nil)

object Main {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("trace") == "1", kv("run-dir"),
      kv("t0").toDouble)
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def session(args: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.path("spark-local"))
      .config("spark.sql.warehouse.dir", args.path("warehouse"))
      .getOrCreate()
  }

  def run(args: Args): Unit = {
    val spark = session(args)
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"perfbench: session ${sinceStart(args)}%.1f s")
    val ops = new Ops
    try {
      val (setupS, outcome) =
        if (args.trace) Traced.run(spark, args, ops)
        else args.workload match {
          case "marts" => MartsWorkload.run(spark, args, ops, new Trace(false))
          case "daily" => DailyWorkload.run(spark, args, ops, new Trace(false), None)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      val json = Json.obj(Seq(
        "setup_s" -> Json.num(setupS),
        "cores" -> Runtime.getRuntime.availableProcessors().toString,
        "values" -> Json.obj(outcome.values.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "ops" -> ops.json,
        "oracle" -> outcome.oracle.mkString("[", ",\n", "]")) ++ outcome.fields)
      Files.writeString(Paths.get(args.path("result.json")), json)
      System.err.println(f"perfbench: result ${sinceStart(args)}%.1f s")
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      spark.stop()
      System.err.println(f"perfbench: stopped ${sinceStart(args)}%.1f s")
    }
  }

  /** Seconds since the process tree started (`--t0`, taken by run.py). */
  def sinceStart(args: Args): Double = System.currentTimeMillis() / 1000.0 - args.t0

  /** One stored output for run.py to compare with DuckDB's evaluation of `sql`. */
  def oracle(op: String, table: String, path: String, sql: String): String =
    Json.obj(Seq("op" -> Json.str(op), "table" -> Json.str(table),
      "path" -> Json.str(path), "sql" -> Json.str(sql)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def bytesUnder(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try {
        var n = 0L
        s.forEach((f: Path) => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally s.close()
    }
  }

  def parquetFilesUnder(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try {
        var n = 0L
        s.forEach((f: Path) => if (f.getFileName.toString.endsWith(".parquet")) n += 1)
        n
      } finally s.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach((f: Path) => Files.delete(f))
      finally s.close()
    }
  }
}
