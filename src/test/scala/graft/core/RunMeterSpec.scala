package graft.core

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins what one [[RunMeter]] window holds: exchange bytes, records and
  * spill; job count and the union of job spans; streaming trigger phases —
  * and that [[RunMeter.mark]] resets the window.
  */
class RunMeterSpec extends SparkSpec {

  private def withMeter(f: RunMeter => Unit): Unit = {
    val meter = RunMeter.attach(spark)
    try { meter.mark(); f(meter) } finally meter.close()
  }

  test("RunMeter attributes trigger phases and state-store time per mark window") {
    val session = spark
    import session.implicits._
    implicit val sq = spark.sqlContext
    withMeter { meter =>
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("id", "kind")
        .groupBy("kind").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("run_meter_phases")
        .outputMode("complete").start()
      try {
        in.addData((1L, "a"), (2L, "b"))
        q.processAllAvailable()
        in.addData((3L, "a"))
        q.processAllAvailable()
      } finally q.stop()
      val w = meter.mark()
      assert(w.triggers >= 2, s"expected >=2 triggers, saw ${w.triggers}")
      // the wall-clock attribution the artifact needs: trigger execution
      // and the stateful aggregation's state-store commit both present
      assert(w.phases.contains("triggerExecution"), w.phases.toString)
      assert(w.phases.contains("addBatch"), w.phases.toString)
      assert(w.phases.contains("state.commit"), w.phases.toString)
      // and the window RESETS: a second mark with no stream activity is
      // empty, so per-pass records never bleed into each other
      val w2 = meter.mark()
      assert(w2.triggers == 0L && w2.phases.isEmpty)
    }
  }

  test("a forced-shuffle query records shuffle bytes, records and spill") {
    // window buffers that spill past 500 rows: the unbounded per-key
    // frame below holds 2000 rows per key
    val spillConfs = Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
      "spark.sql.windowExec.buffer.spill.threshold" -> "500")
    spillConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try withMeter { meter =>
      spark.range(0, 20000, 1, 4).selectExpr("id % 10 AS k", "id")
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("k")))
        .write.format("noop").mode("overwrite").save()
      val w = meter.mark()
      assert(w.shuffleBytes > 0L, w.toString)
      assert(w.shuffleRecords == 20000L, w.toString)
      assert(w.spillBytes > 0L, w.toString)
      assert(w.jobs >= 1, w.toString)
      val w2 = meter.mark()
      assert(w2.shuffleBytes == 0L && w2.shuffleRecords == 0L &&
        w2.spillBytes == 0L && w2.jobs == 0, w2.toString)
    } finally spillConfs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("job spans count overlapping jobs once; an end without a start adds none") {
    // a detached meter fed events by hand: no real job can interleave
    val meter = new RunMeter(None)
    meter.onJobStart(SparkListenerJobStart(1, 1000L, Seq.empty))
    meter.onJobStart(SparkListenerJobStart(2, 1500L, Seq.empty))
    meter.onJobEnd(SparkListenerJobEnd(1, 2000L, JobSucceeded))
    meter.onJobEnd(SparkListenerJobEnd(2, 2500L, JobSucceeded))
    meter.onJobStart(SparkListenerJobStart(3, 4000L, Seq.empty))
    meter.onJobEnd(SparkListenerJobEnd(3, 4100L, JobSucceeded))
    val w = meter.mark()
    // [1000, 2500] ∪ [4000, 4100], not 1000 + 1000 + 100
    assert(w.jobs == 3 && w.jobMs == 1600L, w.toString)
    // a job that ends with no recorded start (it started before the meter
    // attached) must not become a (0, end) span swallowing the epoch
    meter.onJobEnd(SparkListenerJobEnd(9, 1700000000000L, JobSucceeded))
    val w2 = meter.mark()
    assert(w2.jobs == 0 && w2.jobMs == 0L, w2.toString)
  }
}
