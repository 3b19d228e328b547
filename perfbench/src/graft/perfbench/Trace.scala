package graft.perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** One timed interval: `parent` is the id of the span that caused it (0 =
  * the run itself). Times are epoch microseconds. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

/** In-memory span recorder. Spans are opened around the harness's calls
  * into each layer; Spark jobs become child spans of the harness span that
  * submitted them (the span id rides along as a job-local property). While
  * off, [[span]] only runs its body. Spans are written out once, by
  * [[write]], when the run ends. */
final class Tracer {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1
  @volatile private var sc: Option[SparkContext] = None
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()

  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  def attach(context: SparkContext): Unit = sc = Some(context)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.head
      stack = id :: stack
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      val start = nowUs
      try body
      finally {
        stack = stack.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty, stack.head.toString))
        record(id, parent, name, start, nowUs)
      }
    }

  def record(id: Int, parent: Int, name: String, startUs: Long, endUs: Long): Unit =
    synchronized { spans += Span(id, parent, name, startUs, endUs) }

  def freshId(): Int = synchronized { val i = nextId; nextId += 1; i }

  def all: Seq[Span] = synchronized(spans.toList)

  /** One JSON object per line: id, parent, name, start_us, end_us. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try all.sortBy(_.startUs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Engine-wide counts from task and job events, read as deltas around an
  * operation ([[snapshot]] before and after, with the listener bus
  * drained in between). */
final class Counters(tracer: Tracer) extends SparkListener {
  private val c = Array.fill(Counters.Names.size)(new AtomicLong)
  private def add(name: String, v: Long): Unit = c(Counters.Names.indexOf(name)).addAndGet(v)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    jobStart.put(e.jobId, (e.time * 1000L, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (start, parent) =>
      if (tracer.on) tracer.record(tracer.freshId(), parent, "spark.job", start, e.time * 1000L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (e.taskInfo != null && !e.taskInfo.successful) add("task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_write_ns", m.shuffleWriteMetrics.writeTime)
      add("disk_spill_bytes", m.diskBytesSpilled)
      add("records_read", m.inputMetrics.recordsRead)
    }
  }

  def snapshot(sc: SparkContext): Map[String, Long] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    Counters.Names.zip(c.map(_.get)).toMap
  }
}

object Counters {
  val Names: Seq[String] = Seq("jobs", "tasks", "task_failures", "shuffle_write_bytes",
    "shuffle_write_ns", "disk_spill_bytes", "records_read")

  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

/** Trigger progress reported by the streaming engine: per completed
  * micro-batch, its id and the engine's phase durations (ms). */
final class StreamEvents extends StreamingQueryListener {
  final case class Trigger(batchId: Long, inputRows: Long, durations: Map[String, Long])
  private val buf = ArrayBuffer.empty[Trigger]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized { buf += Trigger(p.batchId, p.numInputRows, d) }
  }

  def take(): Seq[Trigger] = synchronized { val r = buf.toList; buf.clear(); r }
}

/** Order statistics over timing samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method for q in (0, 1)). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest-ranked sample that still has at least ten samples above
    * it, with its percentile; None with fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 11
      Some((s(k), 100.0 * (k + 1) / s.size))
    }
}
