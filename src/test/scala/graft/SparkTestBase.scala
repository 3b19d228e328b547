package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.operators.{CellOps, RegionSort}
import graft.plans.RegionAlignedRowExchangeExec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM, `build.sbt` supplies the JDK-17 add-opens). */
object SparkTestBase {
  // the library factory, so the suites exercise the exact session posture
  // (extensions, AQE, skew-join, UTC) a deployment gets
  lazy val spark: SparkSession = GraftSession.local("graft-tests", 4)
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf001 = "/root/testdata/sf0.001"

  /** Every node of an executed plan, adaptive stages included. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case _ => p +: p.children.flatMap(planNodes)
  }

  /** The region exchanges of every query `body` executes: the instances
    * that ran, so each carries the boundaries its rows were routed by. A
    * marker query runs afterwards; once the listener has seen it, every
    * earlier query has been delivered (the bus keeps post order). */
  def exchangesRun(body: => Unit): Seq[RegionAlignedRowExchangeExec] = {
    val token = s"graft-marker-${System.nanoTime()}"
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val markerSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.toString.contains(token)) markerSeen.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.sql(s"SELECT '$token'").collect()
      assert(markerSeen.await(30, TimeUnit.SECONDS))
      plans.asScala.toSeq.flatMap(planNodes).collect { case e: RegionAlignedRowExchangeExec => e }
    } finally spark.listenerManager.unregister(listener)
  }

  /** Cells per part file of `out`, asserting that file i ⊆ region i of
    * `splits` and that its cells are in KeyValue order. */
  def alignedFileCells(out: String, splits: Seq[Array[Byte]]): Seq[Long] = {
    val part = new RegionSort.RegionPartitioner(splits.toArray)
    new java.io.File(out).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq.map { f =>
      val idx = f.getName.stripPrefix("part-").take(5).toInt
      val cells = spark.read.parquet(f.getPath).select("row", "family", "qualifier", "ts")
        .collect().map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), r.getLong(3)))
      val inRegion = cells.forall(c => part.getPartition(c._1) == idx)
      val ordered = cells.toSeq.sliding(2).forall(w => w.length < 2 || CellOps.keyValueOrdering.lt(w(0), w(1)))
      assert(cells.nonEmpty && inRegion && ordered, f.getName)
      cells.length.toLong
    }
  }

  /** Run `body` with SQL confs set, restoring previous values after. */
  def withSQLConf[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
