package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev CLI: per-query A/B of a session conf toggle (default: the adaptive
  * scan spread applied to EVERY table read) under bench methodology —
  * min-of-3 noop-forced passes per mode, modes alternating back-to-back per
  * query so each pair shares ambient. The r18 round A/B'd a 20-query subset
  * by hand; this sweeps the full declared inventory and writes a JSON map
  * so the per-call-site tSpread opt-ins are chosen from measurements, not
  * guesses.
  *
  *   sbt "runMain graft.AbSweep <out.json> [query ...]"
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench);
  * SPARK_GRAFT_AB_KEY / _ON / _OFF override the swept conf (defaults:
  * graft.scan.spread.all = true / false).
  */
object AbSweep {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("absweep_out.json")
    val subset = args.drop(1).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val key = sys.env.getOrElse("SPARK_GRAFT_AB_KEY", "graft.scan.spread.all")
    val onV = sys.env.getOrElse("SPARK_GRAFT_AB_ON", "true")
    val offV = sys.env.getOrElse("SPARK_GRAFT_AB_OFF", "false")
    val spark = GraftSession.local("graft-absweep", cpus.toInt)

    val picked = (if (subset.isEmpty) SparkEntry.queries
                  else SparkEntry.queries.filter { case (n, _) => subset(n) })
      .toSeq.sortBy(_._1)

    try force(SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
    catch { case _: Throwable => () }
    unpersistAll(spark)

    val best = scala.collection.mutable.Map.empty[(String, String), Double]
    for (pass <- 1 to 3; (name, fn) <- picked; mode <- Seq(offV, onV)) {
      spark.conf.set(key, mode)
      val t0 = System.nanoTime()
      try {
        force(fn(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        val k = (name, mode)
        if (t < best.getOrElse(k, Double.MaxValue)) best(k) = t
      } catch { case e: Throwable =>
        System.err.println(s"[absweep] $name ($key=$mode) failed: ${e.getMessage}")
      }
      unpersistAll(spark)
      if (pass == 0) () // keep scalac happy about unused pass
    }
    spark.conf.set(key, offV)

    // Locale.ROOT: a comma-decimal default locale would write invalid
    // JSON; a mode with no successful pass is null, and so is its delta
    def secs(v: Option[Double]): String =
      v.fold("null")(x => String.format(java.util.Locale.ROOT, "%.3f", Double.box(x)))
    val rows = picked.map { case (name, _) =>
      val off = best.get((name, offV))
      val on = best.get((name, onV))
      val delta = for (a <- off; b <- on) yield b - a
      s""""$name":{"off":${secs(off)},"on":${secs(on)},"delta":${secs(delta)}}"""
    }
    val json = rows.mkString(s"""{"key":"$key","sf":"$sfDir","queries":{""", ",", "}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(s"[absweep] wrote $out (${picked.size} queries)")
    spark.stop()
  }
}
