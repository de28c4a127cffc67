package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: one listener that records every SQL execution (with
  * the engine layer that issued it), every query plan's planning time and
  * every Spark job (with its task-metric totals and the streaming query that
  * ran it), for `run.py` to turn into spans.
  */
final class Meter(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private final class Exec(val id: Long, val start: Long, val layer: String) {
    @volatile var end = 0L
  }
  private final class Job(val id: Int, val exec: Long, val stream: String, val start: Long) {
    @volatile var end = 0L
    var tasks, cpuNs, shuffleW, spill, genRows = 0L
  }

  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val jobOfStage = new ConcurrentHashMap[Int, Job]()
  /** Accumulator ids of the rows put out by Generate (explode) operators. */
  private val generateRows = ConcurrentHashMap.newKeySet[Long]()

  private def noteGenerate(p: SparkPlanInfo): Unit = {
    if (p.nodeName == "Generate")
      p.metrics.filter(_.name == "number of output rows").foreach(m => generateRows.add(m.accumulatorId))
    p.children.foreach(noteGenerate)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, new Exec(s.executionId, s.time, Meter.layerOf(s.details)))
      noteGenerate(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => noteGenerate(u.sparkPlanInfo)
    case x: SparkListenerSQLExecutionEnd =>
      Option(execs.get(x.executionId)).foreach(_.end = x.time)
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    val j = new Job(js.jobId, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("sql.streaming.queryId").getOrElse(""), js.time)
    jobs.put(js.jobId, j)
    js.stageIds.foreach(s => jobOfStage.put(s, j))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.end = je.time)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val j = jobOfStage.get(te.stageId)
    val m = te.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleW += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      te.taskInfo.accumulables.foreach { a =>
        if (generateRows.contains(a.id)) a.update.foreach {
          case n: Long => j.genRows += n
          case n: java.lang.Long => j.genRows += n.longValue
          case _ =>
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    notePlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    notePlanning(qe)

  /** Planning phases carry their own timestamps; run.py places them in time. */
  private def notePlanning(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) Runner.emit("t" -> "plan", "start_ms" -> phases.map(_.startTimeMs).min,
      "end_ms" -> phases.map(_.endTimeMs).max,
      "planning_s" -> phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0)
  }

  /** Wait for the listener buses to drain, then emit every record. */
  def flush(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    execs.values.asScala.foreach { x =>
      Runner.emit("t" -> "exec", "id" -> x.id, "start_ms" -> x.start, "end_ms" -> x.end,
        "layer" -> x.layer)
    }
    jobs.values.asScala.foreach { j =>
      Runner.emit("t" -> "job", "id" -> j.id, "exec" -> j.exec, "stream" -> j.stream, "start_ms" -> j.start,
        "end_ms" -> j.end, "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9,
        "shuffle_mb" -> j.shuffleW / 1048576.0, "spill_mb" -> j.spill / 1048576.0,
        "gen_rows" -> j.genRows)
    }
  }
}

object Meter {
  def install(spark: SparkSession): Meter = {
    val m = new Meter(spark)
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }

  /** Modules whose frames are helpers: attribution looks past them. */
  private val helpers = Set("core", "expressions", "functions", "plans", "config")

  /** Engine layer of an SQL execution, from its call site: the module of
    * the innermost engine frame, where a pipeline's own parquet `sink`
    * helper counts as `products` (it writes the signal products) and the
    * benchmark's own frames count as `pipelines` (they stand in for a
    * pipeline's `start`).
    */
  def layerOf(callSite: String): String = {
    val frames = callSite.split("\n").map(_.trim)
    frames.iterator.map { f =>
      val parts = f.split("[.$(]")
      if (f.startsWith("graft.pipelines.") && f.contains("$.sink$")) Some("products")
      else if (f.startsWith("graft.") && parts.length > 1 && !helpers(parts(1))) Some(parts(1))
      else if (f.startsWith("perfbench.")) Some("pipelines")
      else None
    }.collectFirst { case Some(l) => l }.getOrElse("other")
  }
}
