package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one run meter the bench and the dev tools share: a [[SparkListener]]
  * for exchange and job metrics plus a [[StreamingQueryListener]] for
  * trigger phases, both summed into a window that [[mark]] returns and
  * resets. Listener delivery is asynchronous, so `mark` first flushes the
  * listener bus — a window holds every event of the work that ran before
  * the call. A meter built without a session (specs feeding it events by
  * hand) has no bus to flush or detach from.
  */
final class RunMeter private[core] (session: Option[SparkSession])
    extends SparkListener {
  private val shuffleBytes = new AtomicLong
  private val shuffleRecords = new AtomicLong
  private val spillBytes = new AtomicLong
  // boxed Long: a primitive-valued map would unbox remove()'s null miss to
  // 0L, and a job that ends without a recorded start (launched before the
  // meter attached) would record a (0, end) span swallowing the epoch
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val triggers = new AtomicLong
  private val phases = new ConcurrentHashMap[String, AtomicLong]()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val m = sc.stageInfo.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      ()
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobStarts.put(js.jobId, js.time); ()
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(je.jobId)
    if (s != null) { jobSpans.add((s.longValue(), je.time)); () }
  }

  private def addPhase(k: String, v: Long): Unit = {
    phases.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v); ()
  }

  private val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      triggers.incrementAndGet()
      e.progress.durationMs.forEach((k, v) => addPhase(k, v))
      e.progress.stateOperators.foreach { so =>
        addPhase("state.commit", so.commitTimeMs)
        addPhase("state.updates", so.allUpdatesTimeMs)
        addPhase("state.removals", so.allRemovalsTimeMs)
      }
    }
  }

  /** Flushes the listener bus, then returns and resets the window. */
  def mark(): RunMeter.Window = {
    session.foreach(s => org.apache.spark.graft.ListenerBridge.flush(s.sparkContext))
    val spans = Seq.newBuilder[(Long, Long)]
    var e = jobSpans.poll()
    while (e != null) { spans += e; e = jobSpans.poll() }
    val js = spans.result()
    val ph = Map.newBuilder[String, Long]
    phases.forEach { (k, v) =>
      val x = v.getAndSet(0L)
      if (x != 0L) ph += k -> x
    }
    RunMeter.Window(shuffleBytes.getAndSet(0L), shuffleRecords.getAndSet(0L),
      spillBytes.getAndSet(0L), js.size, RunMeter.covered(js),
      triggers.getAndSet(0L), ph.result())
  }

  /** Unregisters both listeners. */
  def close(): Unit = session.foreach { s =>
    s.streams.removeListener(streams)
    s.sparkContext.removeSparkListener(this)
  }
}

object RunMeter {

  /** One [[RunMeter.mark]] window.
    *
    * @param jobMs union of the window's job spans: concurrent jobs count
    *   once, so `wall - jobMs` is the driver-side time (planning, AQE
    *   re-optimization, result handling)
    * @param phases summed `StreamingQueryProgress.durationMs` per phase plus
    *   the state operators' `state.commit` / `state.updates` /
    *   `state.removals` times, in ms
    */
  final case class Window(shuffleBytes: Long, shuffleRecords: Long,
      spillBytes: Long, jobs: Int, jobMs: Long, triggers: Long,
      phases: Map[String, Long])

  /** Registers a meter on `spark`'s listener buses. */
  def attach(spark: SparkSession): RunMeter = {
    val m = new RunMeter(Some(spark))
    spark.sparkContext.addSparkListener(m)
    spark.streams.addListener(m.streams)
    m
  }

  /** Covered milliseconds of a set of [start, end] spans. */
  private def covered(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var lo = Long.MinValue; var hi = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > hi) { total += hi - lo max 0L; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    total + (hi - lo max 0L)
  }
}
