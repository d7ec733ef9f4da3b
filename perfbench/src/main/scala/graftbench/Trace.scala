package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `parent` is the id of the span that was open
  * on the same thread when this one started (0 = none).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. When disabled, [[span]] only runs the body, so the
  * untraced runs pay nothing beyond a branch.
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0
  val originNs: Long = System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized { spans += Span(id, stack.headOption.getOrElse(0), name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Duration minus the part of its interval that child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  def toJson: String = all.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      f""""start_ms":${(s.startNs - originNs) / 1e6}%.3f,"end_ms":${(s.endNs - originNs) / 1e6}%.3f,""" +
      f""""self_ms":${selfMs(s)}%.3f}"""
  }.mkString("[", ",\n", "]")
}

/** Spark-side counters: jobs, tasks, shuffle and spill bytes from a
  * `SparkListener`, and micro-batch phase durations from a
  * `StreamingQueryListener`. Read them through [[snapshot]] after
  * [[flush]], so every event of the work just finished has been delivered.
  */
final class Counters(spark: SparkSession) {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.synchronized {
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  def flush(): Unit = org.apache.spark.graftbench.ListenerBus.flush(spark.sparkContext)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def cachedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  final case class Snap(jobs: Long, tasks: Long, shuffle: Long, spill: Long, gcMs: Long)

  def snapshot(): Snap = {
    flush()
    Snap(jobs.get, tasks.get, shuffleBytes.get, spillBytes.get, gcMs)
  }

  def progressCount: Int = progress.synchronized(progress.size)
  def progressSince(n: Int): Seq[Map[String, Long]] = progress.synchronized(progress.drop(n).toSeq)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
