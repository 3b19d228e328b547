package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** A live session plus the harness's listeners. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val streams: StreamEvents,
                val work: File) {
  private val counters = new Counters(tracer)

  /** Run `body` with tracing on: spans recorded and the engine counters
    * listening. Returns the body's value, its seconds, the counter deltas
    * and the JVM's GC seconds during it. */
  def traced[T](body: => T): (T, Double, Map[String, Long], Double) = {
    val sc = spark.sparkContext
    sc.addSparkListener(counters)
    tracer.on = true
    try {
      val before = counters.snapshot(sc)
      val gc0 = Ctx.gcSeconds
      val t0 = System.nanoTime()
      val v = tracer.span("op")(body)
      val secs = (System.nanoTime() - t0) / 1e9
      val gc = Ctx.gcSeconds - gc0
      (v, secs, Counters.delta(counters.snapshot(sc), before), gc)
    } finally {
      tracer.on = false
      sc.removeSparkListener(counters)
    }
  }

  def stop(): Unit = spark.stop()
}

object Ctx {
  def start(cores: Int, tracer: Tracer, work: File): Ctx = {
    val spark = GraftSession.local("perfbench", cores)
    val streams = new StreamEvents
    spark.streams.addListener(streams)
    tracer.attach(spark.sparkContext)
    new Ctx(spark, tracer, streams, work)
  }

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** CPU time the hypervisor gave to other guests (the `steal` column of
    * /proc/stat), in clock ticks summed over all CPUs; 0 where absent. */
  def stealTicks: Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().collectFirst {
      case l if l.startsWith("cpu ") => l.trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
    }.getOrElse(0L)
    finally src.close()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** What one run reports. `e2e` and `layer` are keyed by the metric names
  * of BENCHMARK.json; `details` are extra human-readable figures. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val details = mutable.ArrayBuffer.empty[String]

  /** Count one checked outcome; a failed check is a failed operation. */
  def check(what: String, ok: Boolean, why: => String = ""): Boolean =
    fail(what, if (ok) 0 else 1, why)

  /** Count `n` failed outcomes of one check (none when `n` <= 0). */
  def fail(what: String, n: Long, why: => String = ""): Boolean = {
    if (n > 0) {
      failed += n
      System.out.println(s"CHECK FAILED: $what${if (why.isEmpty) "" else s" ($why)"}")
    }
    n <= 0
  }

  def detail(name: String, value: Double, unit: String, note: String = ""): Unit =
    details += f"$name%-44s $value%.6g $unit%s${if (note.isEmpty) "" else s"  ($note)"}"

  /** Record a timing's median and tail as details. */
  def timing(prefix: String, unit: String, scale: Double, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) {
      detail(s"${prefix}_p50_$unit", Stats.median(xs) * scale, unit, s"n=${xs.size}")
      if (xs.size <= 20) details += s"${prefix} samples ($unit): ${xs.map(x => f"${x * scale}%.4g").mkString(" ")}"
      Stats.tail(xs) match {
        case Some((v, pct)) if pct >= 50 => detail(s"${prefix}_tail_$unit", v * scale, unit,
          f"p$pct%.1f, n=${xs.size}, 10 samples above")
        case _ => details += s"${prefix}_tail_$unit: n=${xs.size}, too few samples for a tail above the median"
      }
    }
}

/** One benchmark workload. `setup` runs once per set-up round on a fresh
  * session; `measure` is the untraced timed run; `traced` the traced run
  * that produces the per-layer metrics. */
trait Workload {
  def generate(work: File, seed: Long): Unit
  def setup(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double, report: Report): Unit
  def traced(ctx: Ctx, seconds: Double, report: Report): Unit
}

object Harness {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `op` back to back until `budget` seconds have passed (the op in
    * flight finishes) and at least `min` ops ran. */
  def closedLoop(budget: Double, min: Int)(op: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < budget) { op(i); i += 1 }
    i
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Byte size of the regular files directly under `dir` (part files,
    * manifest and ledgers, not the checksum siblings). */
  def storedBytes(dir: File, partsOnly: Boolean): Long =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        (!partsOnly || (f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))))
      .map(_.length).sum

  def partFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  /** Time each prefix of a pipeline to the `noop` sink (the fastest of
    * three runs); a stage's self time is the difference between
    * consecutive prefixes. */
  def prefixLadder(prefixes: Seq[(String, () => Unit)]): Seq[(String, Double)] = {
    val times = prefixes.map { case (n, run) => n -> (1 to 3).map(_ => seconds(run())._2).min }
    times.zip(0.0 +: times.map(_._2)).map { case ((n, t), prev) => n -> (t - prev) }
  }
}
