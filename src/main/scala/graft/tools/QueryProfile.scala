package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev profiler: per query, how much of the wall clock is cluster work
  * (union of job spans) vs DRIVER time (planning, AQE re-optimization,
  * result handling) — the split that decides whether a slow bench entry
  * needs a better plan or fewer sequential jobs. Usage:
  * `sbt "runMain graft.tools.QueryProfile q57_mad_anomaly q6_region_join"`
  * (defaults to the current bench top-10 when no names are given).
  */
object QueryProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else Seq("st2_stream_join", "s10_pq_adc", "st1_stream_windows",
        "q57_mad_anomaly", "st4_late_data", "st6_streaming_ann",
        "st3_stream_dedup", "q59_gap_fill", "q27_range_join",
        "st5_stateful_sessions", "d9_incremental_dedup", "q6_region_join")
    val spark = graft.core.GraftSession.local(cpus, "graft-profile")
    val meter = graft.core.RunMeter.attach(spark)
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      val fn = qs.getOrElse(n, sys.error(s"unknown query $n"))
      fn(spark, warmDir).write.format("noop").mode("overwrite").save() // warm
      meter.mark()
      val passes = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val w = meter.mark()
        (wall, w.jobs, w.jobMs / 1e3)
      }
      val best = passes.minBy(_._1)
      println(f"${n}%-24s wall=${best._1}%6.3f jobs=${best._2}%3d cluster=${best._3}%6.3f driver=${best._1 - best._3}%6.3f  (all walls: ${passes.map(p => f"${p._1}%.2f").mkString(" ")})")
    }
    spark.stop()
  }
}
