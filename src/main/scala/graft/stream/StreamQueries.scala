package graft.stream

import graft.QueryDef
import graft.core.{Exact, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Oracle-checked STREAMING surface (SURVEY §2 G): a bounded replay of a
  * harness table through real Structured Streaming machinery — file
  * source micro-batches, event-time watermark, stateful windowed
  * aggregation, memory sink — whose final state is a pure function of
  * the input set and therefore DuckDB-verifiable like any batch query.
  * The streaming paths were spec-only through round 3; this registers
  * one of them in the correctness gate (the d9 ledger precedent).
  */
object StreamQueries {

  // One-time per sf-dir: re-lay events as several files so the file
  // source replays a genuinely MULTI-batch stream (maxFilesPerTrigger=1),
  // merging window state across triggers rather than aggregating one
  // batch. Cached like Ivf.trainCached — the bench's steady-state passes
  // measure the replay, not the fixture write.
  private val splitCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Scoped session conf for a BOUNDED replay (a one-shot stream serving a
    * finite fixture, the st1–st6 shape) — set for the stream's lifetime,
    * restored after (Tables.load precedent for scoped conf):
    *
    *  - `spark.sql.shuffle.partitions = parts`: state-store partition
    *    count; per-batch per-partition state-task overhead dominates a
    *    bounded replay and the key spaces here are thousands of groups,
    *    not millions (per-query rationale at each call site);
    *  - post-drain provider unload (NOT `stateStore.unloadOnCommit` —
    *    that conf races in Spark 4.1.2, see
    *    [[org.apache.spark.sql.graft.StateBridge]]): the serve-once
    *    pattern — a bounded replay's providers are never consulted again
    *    after the drain, but by default every pass leaves them LOADED,
    *    so a bench or multi-tenant driver accumulates dead providers
    *    that the shared maintenance thread keeps re-snapshotting for the
    *    rest of the JVM (measured: the st1 floor drops ~10% once passes
    *    stop leaking providers, and the whole-suite effect compounds
    *    with every replay). Unloading is guarded on no-active-streams so
    *    it can never close a live query's providers;
    *  - `stateStore.maintenanceInterval = 600s`: maintenance work
    *    (snapshot + cleanup) is pointless for a checkpoint that lives
    *    seconds and is deleted with the temp dir; pushing it past the
    *    replay's lifetime removes its jitter from the timed window.
    *
    * A long-running production stream keeps the defaults — the restore
    * is the point: these are REPLAY-scoped, not engine-wide, settings
    * (measured together: st1 1.29 → 1.07 s min, −17%, identical final
    * table — the conf is result-invisible by construction).
    *
    * Round-16 additions (verdict task 2: the per-trigger fixed cost the
    * r15 stream-phase attribution names — st2's wall splits into
    * state.commit ≈ 2.3–3.1 s summed, walCommit/commitOffsets ≈ 0.35 s,
    * and a whole third trigger that carries no data):
    *
    *  - `checkpoint.fileChecksum.enabled = false` and
    *    `stateStore.commitValidation.enabled = false` (both default TRUE
    *    in Spark 4.1.2): checksum sidecar files and commit-count
    *    validation protect a DURABLE checkpoint against storage
    *    corruption and lost state commits across restarts. These replays
    *    write a temp checkpoint that is deleted seconds later and never
    *    restarted from, so the sidecars are pure per-commit file+fsync
    *    overhead — every state-store delta, offset-log and commit-log
    *    write pays a second file. Bytes computed are identical;
    *    result-invisible by construction.
    *  - `noDataMicroBatches.enabled = false` unless the caller opts back
    *    in: the trailing no-data batch exists to advance the watermark
    *    so state can be EVICTED (and, for append-mode aggregations,
    *    EMITTED) after the last data batch. For a serve-once replay whose
    *    state dies with the temp checkpoint, eviction is pointless work —
    *    a full extra trigger with its planning/commit machinery (st2's
    *    third trigger). Callers whose SINK CONTENTS could depend on a
    *    post-data watermark batch must pass `noDataBatches = true`: st4
    *    does (append-mode windowed agg — its final windows happen to emit
    *    in the last DATA batch because the planted late file never
    *    advances the watermark, but that is fixture layout, not an
    *    invariant worth betting the oracle on). Complete-mode aggs
    *    (st1/st3: every batch emits the full result), inner interval
    *    joins (st2: eviction emits nothing — only OUTER joins emit
    *    null-extended rows on eviction), NoTimeout flatMapGroupsWithState
    *    (st5: no-data batches only fire timeouts) and stateless
    *    foreachBatch (st6) cannot observe it.
    */
  private def withBoundedReplayConf[T](s: SparkSession, parts: Int,
      noDataBatches: Boolean = false)(body: => T): T = {
    val settings = Seq(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.streaming.stateStore.commitValidation.enabled" -> "false",
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        noDataBatches.toString)
    val olds = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally {
      // serve-once cleanup AFTER the drain (StateBridge scaladoc for why
      // not unloadOnCommit); guarded so a concurrently live query — none
      // exists in the bench or the sequential test JVM, but the helper
      // must not assume — keeps its providers
      if (s.streams.active.isEmpty)
        org.apache.spark.sql.graft.StateBridge.unloadAll()
      olds.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  // private[stream]: the multi-batch-replay spec resolves ITS corpus's
  // replay dir through the cache instead of scanning java.io.tmpdir for
  // name prefixes (other suites replay other corpora — a tiny synthetic
  // events table lays out as ONE file, and a prefix scan that happens to
  // find that dir fails the spec on suite ordering, not on st1)
  private[stream] def splitEvents(s: SparkSession, dir: String): String =
    splitCache.computeIfAbsent(
      Tables.corpusCacheKey(s, dir, "events"), _ => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-st1-replay").toString
      Tables.load(s, dir, "events")
        .repartition(4, col("event_id"))
        .write.mode("overwrite").parquet(s"$tmp/events")
      s"$tmp/events"
    })

  /** st1: watermarked tumbling-window counts/sums per event type, fed by
    * a 4-file replay, two files per micro-batch (st2 rationale: a
    * bounded replay's dominant cost is per-trigger machinery — plan,
    * state commit, sink update — and two triggers already exercise the
    * cross-trigger state merge the spec pins). Complete-mode memory
    * sink: the final table equals the batch aggregation over the same
    * rows EXACTLY — the value sum takes the decimal detour (order-free
    * across state merges), the window start is epoch-hour-aligned
    * integer arithmetic, and complete mode drops nothing — so the
    * relational oracle below replays it with zero tolerance. A
    * production deployment keeps the identical plan with a finite
    * watermark; boundedness comes from the input being finite, not from
    * changed semantics.
    */
  val st1StreamWindows: QueryDef = QueryDef(
    "st1_stream_windows",
    (s, dir) => {
      val batch = Tables.load(s, dir, "events") // ts normalized to ns-long
      val src = s.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(splitEvents(s, dir))
      val agg = src
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .withWatermark("event_time", "30 days")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          Exact.dsumScaled(Exact.money(col("value")), 2).as("total_value"))
      val sink = "st1_sink_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      // ~3.6k window×type groups don't need 32 state-store partitions;
      // per-batch state-task overhead dominates a bounded replay (4, not
      // the former 8: the r15 A/B measured parts=4 fastest once the
      // serve-once conf stopped the provider leak — see
      // withBoundedReplayConf).
      withBoundedReplayConf(s, 4) {
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink)
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("w_start_us", "event_type")
    },
    Some(s"""
      SELECT ((epoch_ns(ts) // 1000) // 3600000000) * 3600000000 AS w_start_us,
             event_type, COUNT(*) AS n,
             CAST(SUM(${Exact.sqlMoney("value")}) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** st2: STREAM-STREAM interval join through the same bounded replay —
    * the purchase stream inner-joins the click stream on user with the
    * click falling in the 24 h before the purchase. Inner interval joins
    * emit each matching pair exactly once as both sides arrive (the
    * watermark only governs state EVICTION, not emission), so over a
    * finite replay the append-mode sink accumulates precisely the batch
    * interval join — DuckDB-verifiable pair by pair. The 30-day
    * watermark keeps the out-of-order replay (files are event_id-
    * partitioned, so event time arrives shuffled) from dropping
    * late rows, exactly as in st1; production narrows it to bound the
    * join state instead of retaining the whole window.
    */
  val st2StreamJoin: QueryDef = QueryDef(
    "st2_stream_join",
    (s, dir) => {
      val schema = Tables.load(s, dir, "events").schema
      val path = splitEvents(s, dir)
      def side(tpe: String, prefix: String) =
        // 2 files/trigger: still a genuinely multi-batch replay (2
        // triggers per side, join state merged across them) at half the
        // per-trigger machinery cost of 1 — the dominant cost for a
        // TWO-sided stateful join over a bounded replay. Inner interval
        // joins emit each pair exactly once regardless of batching, so
        // the result is identical.
        s.readStream.schema(schema).option("maxFilesPerTrigger", "2")
          .parquet(path)
          .filter(col("event_type") === tpe && col("user_id") < 50)
          .select(col("user_id").as(s"${prefix}_user"),
            timestamp_micros(expr("ts div 1000")).as(s"${prefix}_time"),
            col("event_id").as(s"${prefix}_id"))
          .withWatermark(s"${prefix}_time", "30 days")
      val joined = side("purchase", "p").join(side("click", "c"),
        expr("p_user = c_user AND " +
          "c_time BETWEEN p_time - INTERVAL 24 HOURS AND p_time"))
      val sink = "st2_sink_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      // two stateful join sides × state partitions × triggers is the
      // bounded-replay cost driver; 4 partitions suffice for the ≤50-user
      // key space (withBoundedReplayConf doc for the serve-once conf)
      withBoundedReplayConf(s, 4) {
        val q = joined.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink)
        .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
        .orderBy("p_id", "c_id")
    },
    Some("""
      SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
      FROM (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id
            FROM events WHERE event_type = 'purchase' AND user_id < 50) p
      JOIN (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id
            FROM events WHERE event_type = 'click' AND user_id < 50) c
        ON p.user_id = c.user_id
       AND c.t BETWEEN p.t - 86400000000 AND p.t
      ORDER BY p_id, c_id""")
  )

  /** st3: streaming EXACTLY-ONCE dedup under doubled delivery — the same
    * replay is consumed through TWO file sources unioned (every event
    * arrives twice, in different micro-batches), and streaming
    * `dropDuplicates` on the primary key must collapse the stream back
    * to the base set: the per-type counts in the complete-mode sink
    * equal the batch aggregate over the ORIGINAL table exactly — without
    * the dedup state every count would double, so the oracle match IS
    * the exactly-once proof. State here is unbounded (bounded replay);
    * production swaps in `dropDuplicatesWithinWatermark`
    * ([[StreamingDedup]], spec-covered) for bounded state with the same
    * semantics inside the watermark horizon.
    */
  val st3StreamDedup: QueryDef = QueryDef(
    "st3_stream_dedup",
    (s, dir) => {
      val schema = Tables.load(s, dir, "events").schema
      val path = splitEvents(s, dir)
      // 2 files/trigger (st2 rationale): both sources advance together,
      // so every event still arrives twice — in the same or different
      // triggers — and the dedup state still collapses across batches.
      def src() = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2").parquet(path)
      val agg = src().unionByName(src())
        .select(col("event_id"), col("user_id"), col("event_type"))
        .dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("user_id_sum"))
      val sink = "st3_sink_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      withBoundedReplayConf(s, 4) {
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink).orderBy("event_type")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(user_id) AS BIGINT) AS user_id_sum
      FROM events GROUP BY event_type ORDER BY event_type""")
  )

  // st4 fixture: a time-ORDERED replay — four ascending event-time range
  // files, then one file of planted LATE rows (copies of the stream's
  // first hour, ids offset by 1e9) written with the newest mtime so the
  // file source replays it last, when the watermark has long passed their
  // windows. File order is forced via explicit per-file mtimes (a single
  // multi-part write would give all parts the same mtime and an arbitrary
  // replay order). One-time per sf dir, like splitEvents.
  private val orderedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def orderedReplay(s: SparkSession, dir: String): String =
    orderedCache.computeIfAbsent(
      Tables.corpusCacheKey(s, dir, "events"), _ => {
      import java.nio.file._
      val tmp = Files.createTempDirectory("graft-st4-replay").toString
      val streamDir = s"$tmp/stream"
      new java.io.File(streamDir).mkdirs()
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val quantiles = ev.stat
        .approxQuantile("ts", Array(0.25, 0.5, 0.75), 0.0)
      // zero-event corpus: approxQuantile returns an EMPTY array (the old
      // Array(q1,q2,q3) extractor threw MatchError, and min(ts) NPE'd on
      // NULL) — replay one empty file; every st4/st5 consumer then yields
      // its empty result instead of crashing in fixture synthesis
      val parts =
        if (quantiles.length < 3) Seq(ev)
        else {
          val Array(q1, q2, q3) = quantiles
          val bounds = Seq(Long.MinValue, q1.toLong, q2.toLong, q3.toLong,
            Long.MaxValue)
          val firstHourUs = ev.agg(min(expr("ts div 1000"))).head.getLong(0) /
            3600000000L * 3600000000L
          val late = ev
            .filter(expr("ts div 1000") >= firstHourUs &&
              expr("ts div 1000") < firstHourUs + 3600000000L)
            .withColumn("event_id", col("event_id") + 1000000000L)
          bounds.sliding(2).toSeq.map { case Seq(lo, hi) =>
            ev.filter(col("ts") > lo && col("ts") <= hi)
          } :+ late
        }
      parts.zipWithIndex.foreach { case (df, k) =>
        val stage = s"$tmp/stage_$k"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        // a zero-row part may commit no data file at all — skip it; the
        // file source reads whatever files exist (explicit schema, so an
        // all-empty replay dir is a valid zero-batch stream)
        new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).foreach { part =>
            val dst = Paths.get(streamDir, f"f$k%02d.parquet")
            Files.move(part.toPath, dst)
            Files.setLastModifiedTime(dst,
              attribute.FileTime.fromMillis(1000000000000L + k * 60000L))
          }
      }
      streamDir
    })

  /** Observability hook for the spec: rows the watermark dropped in the
    * most recent st4 run (−1 before any run). */
  val st4Dropped = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** st4: WATERMARK late-data accounting — the semantics st1's complete
    * mode deliberately sidesteps. An hour-windowed count aggregation in
    * APPEND mode over the time-ordered replay: by the time the planted
    * late file (re-delivered first-hour rows, ids +1e9) arrives, the
    * watermark — max seen event time minus the 1 h delay — is days past
    * their windows, so Structured Streaming DROPS every planted row
    * (the spec pins `numRowsDroppedByWatermark` == planted count), and
    * append mode emits exactly the windows the final watermark closed.
    * Both effects are pure functions of the input set and the replay
    * order, so the oracle reproduces the sink relationally: on-time rows
    * only, windows with end ≤ final watermark (max event-time ms − 1 h).
    * Production semantics, bounded state, zero tolerance.
    */
  val st4LateData: QueryDef = QueryDef(
    "st4_late_data",
    (s, dir) => {
      val schema = Tables.load(s, dir, "events").schema
      // 2 files/trigger: replay becomes [f0,f1] [f2,f3] [late] — the
      // planted late file still rides its own final trigger (odd file
      // count), after the watermark has advanced past its windows, and
      // append-mode emission depends only on the final watermark.
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(orderedReplay(s, dir))
      val agg = src
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val sink = "st4_sink_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      // 4 state partitions (st2 precedent): five triggers of per-task
      // state overhead dominate a bounded replay; ~3.6k window×type keys
      // don't need more (withBoundedReplayConf doc for the serve-once conf).
      // noDataBatches = true: st4 is the one append-mode AGGREGATION here —
      // emission rides the watermark, so the post-data batch stays enabled
      // (withBoundedReplayConf doc).
      withBoundedReplayConf(s, 4, noDataBatches = true) {
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          st4Dropped.set(q.recentProgress
            .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum)
        } finally q.stop()
      }
      s.table(sink)
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("event_type"), col("n"))
        .orderBy("w_start_us", "event_type")
    },
    Some("""
      WITH on_time AS (
        SELECT epoch_ns(ts) // 1000 AS us, event_type FROM events),
      wm AS (SELECT MAX(us) // 1000 - 3600000 AS wm_ms FROM on_time)
      SELECT (us // 3600000000) * 3600000000 AS w_start_us, event_type,
             COUNT(*) AS n
      FROM on_time, wm
      GROUP BY 1, 2, wm_ms
      HAVING ((w_start_us + 3600000000) // 1000) <= wm_ms
      ORDER BY 1, 2""")
  )

  /** Per-user custom session state carried across micro-batches by
    * [[st5StatefulSessions]]. */
  final case class SessState(lastUs: Long, nEvents: Long, nSessions: Long)
  final case class SessSnap(user_id: Long, n_events: Long, n_sessions: Long)

  /** st5: CUSTOM STATEFUL LOGIC (`flatMapGroupsWithState`) in the oracle
    * gate — the G-tier API that was spec-only until now. Per-user
    * 30-minute-gap session counting where the state (last event time,
    * running counts) must survive micro-batch boundaries: the replay is
    * the TIME-ORDERED st4 layout, so each trigger extends every user's
    * history forward and the final snapshot per user equals the batch
    * gap-sessionization over the whole history — independent of how the
    * replay was batched, which is what makes it DuckDB-verifiable. The
    * planted late file is excluded by id (its rows time-travel backwards
    * by construction; st4 owns that semantics). Within a batch a user's
    * rows sort in memory (a single user's per-batch slice — bounded);
    * equal-timestamp ties never split across files (range split is on
    * the value). The registered output collapses per-batch snapshots to
    * the last one via monotone max — counts only grow.
    */
  val st5StatefulSessions: QueryDef = QueryDef(
    "st5_stateful_sessions",
    (s, dir) => {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      import s.implicits._
      val schema = Tables.load(s, dir, "events").schema
      val snaps = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(orderedReplay(s, dir))
        .filter(col("event_id") < 1000000000L)
        .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[SessState, SessSnap](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid, it, state) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3))
            var st = state.getOption.getOrElse(SessState(0L, 0L, 0L))
            rows.foreach { case (_, us, _) =>
              st =
                if (st.nEvents == 0L) SessState(us, 1L, 1L)
                else SessState(us, st.nEvents + 1,
                  st.nSessions + (if (us - st.lastUs > 1800000000L) 1 else 0))
            }
            state.update(st)
            Iterator(SessSnap(uid, st.nEvents, st.nSessions))
        }
      val sink = "st5_sink_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      withBoundedReplayConf(s, 4) {
        val q = snaps.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink)
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          max(col("n_sessions")).as("n_sessions"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
      d AS (
        SELECT user_id,
               us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
        FROM e)
      SELECT user_id, COUNT(*) AS n_events,
             CAST(1 + SUM(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_sessions
      FROM d GROUP BY user_id ORDER BY user_id""")
  )

  // st6 fixture: the query half of the streaming-ANN lifecycle — the
  // first 20 corpus vectors re-laid as three files so the file source
  // serves them across several micro-batches. One-time per sf dir
  // (splitEvents precedent); each query vector lands in exactly one
  // batch, so per-query results are independent of the batching.
  private val annQueryCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def splitAnnQueries(s: SparkSession, dir: String): String =
    annQueryCache.computeIfAbsent(
      Tables.corpusCacheKey(s, dir, "embeddings"), _ => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-st6-replay").toString
      Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 20)
        .repartition(3, col("vec_id"))
        .write.mode("overwrite").parquet(s"$tmp/queries")
      s"$tmp/queries"
    })

  /** st6: STREAMING ANN SERVING ([[StreamingAnn]], spec-only until now)
    * in the oracle gate — a continuous query-vector stream served
    * against the statically indexed corpus. The replay drains under
    * `Trigger.AvailableNow` through the production `foreachBatch` path:
    * each micro-batch broadcasts its (small) query set against the
    * hyperplane-bucketed corpus, window-ranks per query, and appends a
    * batch_id-partitioned parquet partition (idempotent overwrite — an
    * at-least-once redelivery rewrites its own partition). Because a
    * query vector's top-k depends only on the static corpus, the union
    * of per-batch results equals the batch LSH search over the same
    * query set regardless of batching — so the s2-style aux-bucket
    * oracle verifies the streamed answer exhaustively.
    */
  val st6StreamingAnn: QueryDef = QueryDef(
    "st6_streaming_ann",
    (s, dir) => {
      val corpus = Tables.load(s, dir, "embeddings")
      val indexed = StreamingAnn.indexCorpus(corpus)
      // 2 files/trigger (st2 rationale): still a multi-batch serve —
      // the 3-file layout drains in two triggers — at a third less
      // per-trigger foreachBatch machinery; each query vector lands in
      // exactly one batch either way, so results are batching-invariant
      val stream = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(splitAnnQueries(s, dir))
      // fresh sink + checkpoint per run (st-series convention: every
      // call replays the stream; the bench measures serving, not a
      // checkpoint no-op)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-st6-out").toString
      // per-batch query sets are tiny (broadcast) and the rank window
      // keys on ≤20 query ids; 4 state partitions (st2 rationale)
      withBoundedReplayConf(s, 4) {
        val q = StreamingAnn.start(stream, indexed, s"$tmp/results",
          s"$tmp/ckpt", topK = 10, drain = true)
        q.awaitTermination()
      }
      // zero query vectors → StreamingAnn skips every (empty) batch and
      // the results dir is never created; reading it threw PATH_NOT_FOUND
      // where the answer is simply "no neighbors". The probe is java.io
      // deliberately: tmp is a driver-local temp fixture by construction.
      if (!new java.io.File(s"$tmp/results").exists())
        s.range(0).select(lit(0L).as("query_id"), lit(0).as("rank"),
          lit(0L).as("neighbor_id"), lit(0.0).as("cos"))
      else s.read.parquet(s"$tmp/results")
        .select("query_id", "rank", "neighbor_id", "cos")
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH b AS (SELECT * FROM
        read_parquet('{OUT}/aux/st6_streaming_ann__buckets/*.parquet')),
      cand AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
        FROM b q JOIN b e ON q.bucket = e.bucket AND e.vec_id <> q.vec_id
        WHERE q.vec_id < 20),
      scored AS (
        SELECT c.query_id, c.neighbor_id,
               LIST_COSINE_SIMILARITY(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ne.embedding AS DOUBLE[])) AS cos
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.query_id
        JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
      SELECT query_id, rank, neighbor_id, cos FROM (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 10 ORDER BY query_id, rank"""),
    aux = Map("buckets" -> ((s, dir) =>
      StreamingAnn.indexCorpus(Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), col("bucket"))
        .orderBy("vec_id")))
  )

  val all: Seq[QueryDef] =
    Seq(st1StreamWindows, st2StreamJoin, st3StreamDedup, st4LateData,
      st5StatefulSessions, st6StreamingAnn)
}
