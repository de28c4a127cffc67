package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.pipelines.{HyperspectralPipeline, Quarantine, SpatiotemporalPipeline}
import graft.sources.Emd
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.util.LongAccumulator

/** JVM side of the benchmark. It drives one workload through the engine's
  * public entry points, records raw observations (one JSON object per
  * line) and leaves every statistic to `run.py`.
  *
  * Usage: `Runner <workload> <seed> <seconds> <trace 0|1> <work dir> <cores>
  * [<sf dir> <expected tsv>]`. Inputs come from `<work dir>/manifest.tsv`
  * (pipelines) or the seeded query order (query_suite).
  */
object Runner {

  /** Every raw observation of the run, written once at the end. */
  private val records = new ConcurrentLinkedQueue[String]()
  def emit(fields: (String, Any)*): Unit = { records.add(Json.obj(fields)); () }

  /** The engine's simulator cadence: FileWatcher's ProcessingTime trigger. */
  val TriggerMs = 10000L
  /** Files land this long before a trigger fires, so each file waits a
    * fixed share of the trigger interval instead of a random one. */
  val LeadMs = 1500L

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, cores) = args.take(6)
    val traced = trace == "1"
    val spark = {
      val t0 = System.currentTimeMillis()
      val s = graft.core.GraftSession.local(cores.toInt, "perfbench")
      emit("t" -> "session", "start_ms" -> t0, "end_ms" -> System.currentTimeMillis(),
        "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime)
      s
    }
    HeapWatch.install()
    val meter = if (traced) Some(Meter.install(spark)) else None
    try workload match {
      case "pipelines" => Pipelines.run(spark, traced, work)
      case "query_suite" =>
        Suite.run(spark, seed.toLong, seconds.toInt, args(6), args(7))
      case other => sys.error(s"unknown workload $other")
    } finally {
      meter.foreach(_.flush())
      emit("t" -> "heap", "peak_mb" -> HeapWatch.peakMb)
      val out = new PrintWriter(new File(work, "events.jsonl"))
      try records.asScala.foreach(out.println) finally out.close()
      spark.stop()
    }
  }
}

/** Bytes the JVM has allocated on the heap so far, all threads together. */
object Alloc {
  private val bean = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  def bytes: Long = bean.getTotalThreadAllocatedBytes
}

/** Highest heap occupancy seen right after any garbage collection. */
object HeapWatch {
  @volatile private var peak = 0L
  def peakMb: Double = peak / 1048576.0

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** The open-loop streaming workload: both production pipelines, each
  * watching its own directory, in one session. */
object Pipelines {
  import Runner.{emit, LeadMs, TriggerMs}

  /** One input file; `kind` names its pipeline, `warm` marks warm-up input
    * and `slot` the trigger interval a timed input lands in. */
  final case class Input(id: String, path: String, bytes: Long, kind: String, warm: Boolean, slot: Int)

  def manifest(work: String): Seq[Input] =
    Files.readAllLines(Paths.get(work, "manifest.tsv")).asScala.toSeq.filter(_.nonEmpty)
      .map(_.split("\t")).map(a => Input(a(0), a(1), a(2).toLong, a(3), a(4) == "warm", a(5).toInt))

  /** Start one pipeline through its production entry point, or -- traced --
    * through the same public pieces with the `parse` and `infer` stages
    * wrapped by counters.
    */
  def start(spark: SparkSession, kind: String, dir: String, drain: Boolean,
      probes: Option[Probes]): StreamingQuery = {
    val (watch, out, cat, ckpt, quarantine) =
      (s"$dir/watch", s"$dir/out", s"$dir/catalog", s"$dir/ckpt", Some(s"$dir/quarantine"))
    val parse: DataFrame => DataFrame = probes.fold(Emd.parseFiles _)(_.parse)
    (kind, probes) match {
      case ("hyperspectral", _) =>
        HyperspectralPipeline.start(spark, watch, out, cat, ckpt, parse, drain, quarantine)
      case (_, None) =>
        SpatiotemporalPipeline.start(spark, watch, out, cat, ckpt, parse, drain, quarantine)
      case (_, Some(p)) =>
        // SpatiotemporalPipeline.start's body, with the inference stage wrapped
        val events = graft.stream.FileWatcher.fileEvents(spark, watch)
        graft.stream.FileWatcher.start(events, ckpt, drain) { (batch, batchId) =>
          if (!batch.isEmpty) {
            val files = batch.select("path", "content", "experiment_id").cache()
            try Quarantine.run(spark, files, parse, quarantine.get, batchId) { fs =>
              SpatiotemporalPipeline.analyzeBatch(spark, parse(fs), fs, out, cat, p.infer, batchId)
            } finally { files.unpersist(); () }
          }
        }
    }
  }

  def run(spark: SparkSession, traced: Boolean, work: String): Unit = {
    val (warm, timed) = manifest(work).partition(_.warm)
    val kinds = timed.map(_.kind).distinct
    val probes = kinds.map(k => k -> (if (traced) Some(new Probes(spark, k)) else None)).toMap

    // warm-up: the pipelines drain their warm-up inputs side by side, as
    // they will run in the timed phase
    val w0 = System.currentTimeMillis()
    warm.map { in =>
      val dir = s"$work/warmup/${in.kind}"
      Files.createDirectories(Paths.get(dir, "watch"))
      Files.move(Paths.get(in.path), Paths.get(dir, "watch", new File(in.path).getName))
      start(spark, in.kind, dir, drain = true, probes(in.kind))
    }.foreach(_.awaitTermination())
    emit("t" -> "warmup", "start_ms" -> w0, "end_ms" -> System.currentTimeMillis())
    probes.values.flatten.foreach(_.reset())

    val progress = new ConcurrentLinkedQueue[String]()
    val inputRows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress.json)
        inputRows.merge(e.progress.id, e.progress.numInputRows, (a, b) => a + b); ()
      }
    }
    spark.streams.addListener(listener)
    val alloc0 = Alloc.bytes
    val queries = kinds.map { k =>
      Files.createDirectories(Paths.get(work, "run", k, "watch"))
      val q = start(spark, k, s"$work/run/$k", drain = false, probes(k))
      emit("t" -> "stream", "kind" -> k, "id" -> q.id.toString)
      k -> q
    }.toMap

    // open loop: the inputs of slot i land LeadMs before trigger boundary i,
    // one file per pipeline per trigger interval (the simulator cadence)
    val first = (System.currentTimeMillis() + LeadMs + 500L) / TriggerMs * TriggerMs + TriggerMs
    timed.sortBy(_.slot).foreach { in =>
      val due = first + in.slot * TriggerMs - LeadMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val landed = System.currentTimeMillis()
      Files.move(Paths.get(in.path), Paths.get(work, "run", in.kind, "watch", new File(in.path).getName),
        StandardCopyOption.ATOMIC_MOVE)
      emit("t" -> "land", "id" -> in.id, "kind" -> in.kind, "due_ms" -> due, "landed_ms" -> landed,
        "bytes" -> in.bytes)
    }
    // drain: a batch's progress event follows its commit, so the stream is
    // done once its progress events have counted every landed file (one
    // input row per file). processAllAvailable would also wait for the next,
    // empty trigger, up to a whole interval later.
    def done(k: String): Boolean =
      inputRows.getOrDefault(queries(k).id, 0L) >= timed.count(_.kind == k)
    val deadline = System.currentTimeMillis() + 120000L
    while (!kinds.forall(done) && System.currentTimeMillis() < deadline &&
        queries.values.forall(_.exception.isEmpty)) Thread.sleep(50)
    emit("t" -> "alloc", "mb" -> (Alloc.bytes - alloc0) / 1048576.0)
    queries.values.foreach(_.stop())
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext) // every progress event delivered
    spark.streams.removeListener(listener)
    queries.values.flatMap(_.exception).foreach(e =>
      emit("t" -> "error", "msg" -> e.getMessage))
    progress.asScala.foreach(json => emit("t" -> "progress", "json" -> Json.Raw(json)))
    if (traced) {
      probes.values.flatten.foreach(p => p.report(timed.count(_.kind == p.kind)))
      // the decode layer on its own: Emd.signals over each input, on the driver
      timed.foreach { in =>
        val bytes = Files.readAllBytes(Paths.get(work, "run", in.kind, "watch", new File(in.path).getName))
        val t0 = System.nanoTime()
        val sigs = Emd.signals(bytes)
        emit("t" -> "decode", "id" -> in.id, "kind" -> in.kind, "bytes" -> bytes.length,
          "s" -> (System.nanoTime() - t0) / 1e9, "signals" -> sigs.size)
      }
    }
  }
}

/** Counters wrapped around the pipelines' pluggable stages (traced runs). */
final class Probes(spark: SparkSession, val kind: String) {
  private val sc = spark.sparkContext
  val decodes: LongAccumulator = sc.longAccumulator("perfbench.decodes")
  val frames: LongAccumulator = sc.longAccumulator("perfbench.frames")
  val upstreamNs: LongAccumulator = sc.longAccumulator("perfbench.infer_upstream_ns")
  val totalNs: LongAccumulator = sc.longAccumulator("perfbench.infer_total_ns")

  def reset(): Unit = Seq(decodes, frames, upstreamNs, totalNs).foreach(_.reset())

  private val countDecode = {
    val acc = decodes
    udf((b: Array[Byte]) => { acc.add(1); b }).asNondeterministic()
  }

  /** Emd.parseFiles, counting every time a file's content enters it. It
    * also drops the stream's fixed call site on the batch thread, so the
    * jobs the batch issues next carry the engine frames that issued them. */
  def parse(files: DataFrame): DataFrame = {
    sc.clearCallSite()
    Emd.parseFiles(files.withColumn("content", countDecode(col("content"))))
  }

  /** The pipeline's default inference, timed: task time spent pulling
    * detections minus the time spent, meanwhile, pulling the frames they
    * come from. */
  def infer(media: Dataset[graft.multimodal.Media]): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    val (fr, up, tot) = (frames, upstreamNs, totalNs)
    val timedMedia = media.mapPartitions(it => new Timed(it, up, fr, outer = false))
    val out = SpatiotemporalPipeline.defaultInfer(timedMedia)
    out.mapPartitions(it => new Timed[Row](it, tot, null, outer = true))(Encoders.row(out.schema))
  }

  def report(files: Int): Unit = Runner.emit("t" -> "probes", "kind" -> kind, "files" -> files,
    "decodes" -> decodes.sum, "frames" -> frames.sum,
    "infer_s" -> (totalNs.sum - upstreamNs.sum) / 1e9)
}

/** An iterator that adds the time spent in its source to an accumulator.
  * The outer one marks its thread while it runs; an inner one counts only
  * marked time, so a pull made before the outer one starts counts in
  * neither. */
final class Timed[T](it: Iterator[T], ns: LongAccumulator, count: LongAccumulator, outer: Boolean)
    extends Iterator[T] {
  private var spent = 0L
  private var n = 0L
  private var done = false
  private def timed[A](f: => A): A = {
    val wasInside = Timed.inside.get
    if (outer) Timed.inside.set(true)
    val t0 = System.nanoTime()
    try f finally {
      if (outer || wasInside) spent += System.nanoTime() - t0
      Timed.inside.set(wasInside)
    }
  }
  def hasNext: Boolean = {
    val h = timed(it.hasNext)
    if (!h && !done) {
      done = true
      ns.add(spent)
      if (count != null) count.add(n)
    }
    h
  }
  def next(): T = { n += 1; timed(it.next()) }
}

object Timed {
  val inside: ThreadLocal[Boolean] = ThreadLocal.withInitial(() => false)
}

/** The closed-loop query workload over the engine's registered queries. */
object Suite {
  import Runner.emit

  /** Module of a query: the package of the object whose `all` lists it. */
  def modules: Seq[(String, Seq[graft.QueryDef])] = Seq(
    "queries" -> (graft.queries.RelationalQueries.all ++ graft.queries.JoinQueries.all ++
      graft.queries.EventQueries.all ++ graft.queries.GraphQueries.all),
    "flows" -> graft.flows.FlowQueries.all,
    "catalog" -> graft.catalog.CatalogQueries.all,
    "signals" -> graft.signals.SignalQueries.all,
    "text" -> graft.text.TextQueries.all,
    "dedup" -> graft.dedup.DedupQueries.all,
    "sim" -> graft.sim.SimilarityQueries.all,
    "multimodal" -> graft.multimodal.MultimodalQueries.all,
    "stream" -> graft.stream.StreamQueries.all,
    "pipelines" -> graft.pipelines.PipelineQueries.all,
    "layout" -> graft.layout.LayoutQueries.all)

  def run(spark: SparkSession, seed: Long, seconds: Int, sfDir: String, expectedTsv: String): Unit = {
    val byName = modules.flatMap { case (m, defs) => defs.map(d => d.name -> (m, d)) }.toMap
    require(byName.keySet == graft.SparkEntry.defs.map(_.name).toSet,
      "the module map must cover exactly SparkEntry.defs")
    val expected = Files.readAllLines(Paths.get(expectedTsv)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1)).map(a => a(0) -> (a(1).toLong, a(2))).toMap

    def once(name: String, timedRun: Boolean): Unit = {
      val (module, d) = byName(name)
      val t0 = System.currentTimeMillis()
      val result = scala.util.Try(d.fn(spark, sfDir).collect())
      val t1 = System.currentTimeMillis()
      if (timedRun) {
        val (ok, rows, digest, err) = result match {
          case scala.util.Success(rs) =>
            val dg = Digest.of(rs)
            val (eRows, eDigest) = expected(name)
            (eRows == rs.length && eDigest == dg, rs.length, dg, "")
          case scala.util.Failure(e) => (false, -1, "", String.valueOf(e.getMessage).take(300))
        }
        emit("t" -> "query", "name" -> name, "module" -> module, "start_ms" -> t0, "end_ms" -> t1,
          "ok" -> ok, "rows" -> rows, "digest" -> digest, "error" -> err)
      }
    }

    // the suite: the queries the expectations list (a fixed per-module
    // subset of SparkEntry.defs, README.md says how it was chosen), each
    // warmed once, then a closed loop of one client over seeded permutations
    val suite = graft.SparkEntry.defs.map(_.name).filter(expected.contains)
    require(suite.size == expected.size, "every expectation must name a query of SparkEntry.defs")
    val w0 = System.currentTimeMillis()
    suite.foreach(once(_, timedRun = false))
    emit("t" -> "warmup", "start_ms" -> w0, "end_ms" -> System.currentTimeMillis())

    // a fixed number of whole seeded permutations, one per 10 s asked for:
    // every run times the same multiset of queries, whatever the seed and
    // however fast they go
    val rng = new scala.util.Random(seed)
    val alloc0 = Alloc.bytes
    (1 to math.max(1, (seconds + 5) / 10)).foreach(_ => rng.shuffle(suite).foreach(once(_, timedRun = true)))
    emit("t" -> "alloc", "mb" -> (Alloc.bytes - alloc0) / 1048576.0)
  }
}

/** Order-independent digest of a result: the sum of per-row SHA-256
  * prefixes, each row rendered with its columns sorted by name. */
object Digest {
  private def render(v: Any): String = v match {
    case null => "NULL"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => renderRow(r)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }
  private def renderRow(r: Row): String =
    if (r.schema == null) r.toSeq.map(render).mkString("(", ",", ")")
    else r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + "=" + render(r.get(i)) }.mkString("(", ",", ")")

  def of(rows: Array[Row]): String = {
    var acc = BigInt(0)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val h = md.digest(renderRow(r).getBytes("UTF-8"))
      acc += BigInt(1, h.take(8))
    }
    (acc mod (BigInt(1) << 64)).toString(16)
  }
}

/** Minimal JSON writer for the raw records. */
object Json {
  final case class Raw(text: String)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case other => str(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
