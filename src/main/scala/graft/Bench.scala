package graft
import org.apache.spark.sql.SparkSession

object Bench {

  private val Passes = 3

  /** Queries whose plan consumes a JVM-memoized per-corpus-dir artifact —
    * either a trained model (train-once / serve-many: the model trains on
    * the first touch of a corpus dir and later passes reuse it) or an
    * encode-once media fixture store (m8/m9: the synthesized MP4s a
    * production pipeline would read from parquet; re-encoding per pass
    * timed fixture synthesis, not the decode operator). Legitimate
    * serving design, but it means the median of the timed passes excludes
    * the one-time cost — so these entries are marked in the artifact and
    * their FIRST timed pass (build + serve, the caches are keyed per
    * corpus dir and the timed sf differs from the warmup sf) is reported
    * alongside the median.
    */
  private[graft] val amortized: Map[String, String] = Map(
    "s3_ann_ivf"           -> "Ivf.trainCached",
    "s8_filtered_ann"      -> "Ivf.trainCached",
    // NOT s9_kmeans: since the r10 shuffle-free rewrite it runs its own
    // inline Lloyd iterations and consumes no memoized artifact
    "t23_learned_quality"  -> "TextQueries.qmCache",
    "t32_bpe_encode"       -> "TextQueries.mergeCache",
    "m8_h264_video"        -> "MultimodalQueries.m8MediaCache",
    "m9_bframe_video"      -> "MultimodalQueries.m9MediaCache",
    "d8_dedup_clusters"    -> "DedupQueries.pairsCache",
    "d11_canonical_select" -> "DedupQueries.clustersCache",
    // replay/snapshot fixture stores (write-once per corpus dir, same
    // class as the m8/m9 media stores): the steady-state passes measure
    // the stream replay / versioned-table query, not the fixture write —
    // each first_pass carries the write
    "d10_semantic_dedup"    -> "Ivf.trainCached",
    "st1_stream_windows"    -> "StreamQueries.splitCache",
    "st2_stream_join"       -> "StreamQueries.splitCache",
    "st3_stream_dedup"      -> "StreamQueries.splitCache",
    "st4_late_data"         -> "StreamQueries.orderedCache",
    "st5_stateful_sessions" -> "StreamQueries.orderedCache",
    "st6_streaming_ann"     -> "StreamQueries.annQueryCache",
    "c3_cdc_diff"           -> "CatalogQueries.cdcCache",
    "c8_expiry_plan"        -> "CatalogQueries.expiryCache",
    "c9_incremental_scan"   -> "CatalogQueries.expiryCache",
    "p1_corpus_ingest"      -> "PipelineQueries.p1Cache",
    "p3_hyperspectral"      -> "PipelineQueries.p3Cache",
    "p4_spatiotemporal"     -> "PipelineQueries.p4Cache",
    "b1_bucketed_join"      -> "LayoutQueries.bucketedTables",
    "b2_partition_pruning"  -> "LayoutQueries.partitionedTables",
    "b3_time_partition_pruning" -> "LayoutQueries.timePartTables")

  /** Memory-bandwidth probe: streams a 512 MiB long array across
    * `threads` threads (each summing a disjoint slice) and returns the
    * seconds. A register-resident spin like [[calibWork]] cannot see a
    * co-tenant saturating LLC/DRAM bandwidth; this probe can. Recorded as
    * `calib.mem_s` — attribution evidence, nothing normalizes by it. The
    * array is garbage once the probe returns, so it never pins driver
    * heap through the suite.
    */
  private val MemProbeLongs = (512L * 1024 * 1024 / 8).toInt
  private[graft] def memSlice(threads: Int): Double = {
    val a = new Array[Long](MemProbeLongs)
    var i = 0
    while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    val per = a.length / threads
    val sums = new Array[Long](threads)
    val pool = (0 until threads).map { k =>
      new Thread(() => {
        var s = 0L
        var i = k * per
        val end = if (k == threads - 1) a.length else (k + 1) * per
        while (i < end) { s += a(i); i += 1 }
        sums(k) = s
      })
    }
    val t0 = System.nanoTime()
    pool.foreach(_.start()); pool.foreach(_.join())
    calibSink ^= sums.sum
    (System.nanoTime() - t0) / 1e9
  }

  /** Deterministic CPU calibration probe — the fix for cross-round bench
    * comparability (the r8 lesson: unchanged-code control queries ran
    * 1.5-2.8× their r7 times under co-tenant CPU steal that loadavg never
    * saw, and proving it took an afternoon of manual control-query
    * archaeology). A fixed xorshift64 workload is timed once on a single
    * thread and once on `threads` concurrent threads; the seconds land in
    * the artifact as `calib`, and `common_subset.normalized_total` scales
    * the cross-round headline by this host's parallel calib vs the prior
    * committed round artifact's — same code, same work, so the ratio is
    * pure host speed (steal, frequency, co-tenancy).
    */
  private def calibWork(iters: Long, seed: Long): Long = {
    var x = seed | 1L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  @volatile private var calibSink = 0L // defeats dead-code elimination
  private val CalibIters = 400_000_000L // ~0.5 s/thread on an unloaded core

  private def calibrate(threads: Int): (Double, Double) = {
    calibSink ^= calibWork(CalibIters / 10, 7L) // JIT warmup, untimed
    val t0 = System.nanoTime()
    calibSink ^= calibWork(CalibIters, 11L)
    val single = (System.nanoTime() - t0) / 1e9
    val pool = (0 until threads).map { k =>
      new Thread(() => { calibSink ^= calibWork(CalibIters, 13L + k) })
    }
    val t1 = System.nanoTime()
    pool.foreach(_.start()); pool.foreach(_.join())
    val parallel = (System.nanoTime() - t1) / 1e9
    (single, parallel)
  }

  /** Disk-side calibration probe — the complement of [[calibWork]] the
    * round-12 re-runs showed is needed: two curated runs measured 8-15%
    * slower than the committed artifact under QUIETER cpu calibs, with
    * the worst-query sets disjoint between runs. A cpu-spin probe cannot
    * see the storage side (page-cache state, device queue, co-tenant
    * I/O), which was the moving part. One 64 MiB streamed, flushed write
    * plus one streamed read-back of a temp file, seconds recorded as
    * `calib.io_write_s` / `io_read_s`, so a future cross-round total
    * delta can be ATTRIBUTED (cpu side vs storage side) from the
    * artifact alone instead of control-query archaeology. Diagnostic
    * only — nothing normalizes by it (the suite's I/O mix is not a
    * 64 MiB stream); it answers "which side of the host moved".
    */
  private[graft] def calibIo(): (Double, Double) = {
    val tmp = java.nio.file.Files.createTempFile("graft-calib-io", ".bin")
    try {
      val chunk = new Array[Byte](1 << 20)
      new java.util.Random(42L).nextBytes(chunk)
      val t0 = System.nanoTime()
      val out = java.nio.file.Files.newOutputStream(tmp)
      try {
        var i = 0
        while (i < 64) { out.write(chunk); i += 1 }
        out.flush()
      } finally out.close()
      val write = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val in = java.nio.file.Files.newInputStream(tmp)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n >= 0) { calibSink ^= n.toLong; n = in.read(buf) }
      } finally in.close()
      val read = (System.nanoTime() - t1) / 1e9
      (write, read)
    } finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }

  /** A prior round's host-speed baseline: `parallelMed` is the median over
    * every parallel probe the artifact recorded (pre-suite `parallel_s` +
    * mid-run `series` slices — the same estimator the CURRENT side uses, so
    * the normalization ratio compares like with like), `spread` is max/min
    * over those probes (the contention signature: a quiet host reads ~1.0,
    * r10's contended run read 1.79), `skippedNoisy` names any newer
    * artifacts passed over because their spread exceeded
    * [[NoisyCalibSpread]], and `noisy` marks a last-resort baseline that
    * itself failed the gate (the caller must refuse to normalize and say
    * why, rather than publish a number scaled by a contended probe). */
  private[graft] final case class PriorCalib(src: String, parallelMed: Double,
      threads: Int, spread: Double,
      skippedNoisy: Seq[(String, Double)] = Nil, noisy: Boolean = false)

  /** Calib-quality gate: a baseline whose probe series spans more than
    * this max/min ratio was taken on a contended host — normalizing
    * against it distorts the headline (the r11 driver artifact read 94 s
    * normalized vs 76 s raw purely because r10's baseline calib drifted
    * 0.95→1.70 mid-run). */
  private[graft] val NoisyCalibSpread = 1.4

  /** Host-speed baseline of the newest committed BENCH_r{k}.json with
    * k ≤ `round` (the round of the newest CORRECTNESS artifact) that
    * carries a parseable, QUIET calib object.
    *
    * Why "newest k ≤ round", not "k == round" (the r10 shape): in the
    * DRIVER's flow CORRECTNESS_rN is written BEFORE the bench runs and
    * BENCH_rN does not exist yet, so exact-round pairing structurally
    * never resolved there — every driver artifact through r10 carried
    * `normalized_total: null` despite both hosts' calibs sitting on disk.
    * With k ≤ round, the driver flow pairs to BENCH_r{N-1} and the
    * builder's in-round flow (newest CORRECTNESS is the PRIOR round N,
    * current round is N+1) pairs to BENCH_rN — in both flows the baseline
    * is a round strictly before the current one, and never this run's own
    * output (a bench run writes only the BENCH_local-style file; BENCH_r*
    * files are created by the driver from tail capture).
    *
    * Rounds older than r7 predate the calib field — skipped, not fatal.
    * Threads ride along because a parallel calib at a different thread
    * count is a different workload — the caller must refuse to normalize
    * across a mismatch (and must NOT silently fall back to an older
    * matching round: a surprising baseline is worse than a null).
    *
    * Noisy-baseline handling (the r11 lesson): a candidate whose calib
    * spread exceeds [[NoisyCalibSpread]] is passed over in favor of the
    * next-older QUIET calib — this fallback is not silent (the skip is
    * named in the artifact's `calib_vs`), which distinguishes it from the
    * corrupt-artifact case above where the baseline's value is unknowable
    * rather than merely contended. If every parseable candidate is noisy,
    * the newest one is returned with `noisy = true` so the caller can
    * refuse normalization with the spread on record. */
  private[graft] def priorCalib(repoRoot: String,
      round: Int): Option[PriorCalib] = {
    val rx = "BENCH_r0*(\\d+)\\.json".r
    val candidates = Option(new java.io.File(repoRoot).listFiles).toSeq.flatten
      .flatMap(fl => fl.getName match {
        // toIntOption: a stray over-Int-range digit run must not throw
        // AFTER the full timed suite already ran (nothing would be written)
        case rx(k) => k.toIntOption.filter(_ <= round).map(n => (n, fl))
        case _ => None
      })
      // secondary sort on name: BENCH_r9 / BENCH_r09 can coexist (older
      // rounds probed both spellings) and listFiles order is fs-dependent —
      // the tie must break deterministically, not by listing order
      .sortBy { case (k, fl) => (-k, fl.getName) }
    val calibRx = """"calib"\s*:\s*\{([^}]*)\}""".r
    val parRx = """"parallel_s"\s*:\s*([0-9.]+)""".r
    val thrRx = """"threads"\s*:\s*(\d+)""".r
    val seriesRx = """"series"\s*:\s*\[([^\]]*)\]""".r
    // Per candidate (newest first): quiet calib = use it; noisy calib =
    // remember and keep walking; corrupt (mentions a calib but it won't
    // parse, or unreadable) = REFUSE normalization entirely — silently
    // falling back past an artifact whose value is unknowable is the
    // 'surprising baseline' this function's contract rejects; no calib
    // at all = skip to the next round down (pre-r7 artifacts).
    val skipped = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var firstNoisy: Option[PriorCalib] = None
    val it = candidates.iterator
    while (it.hasNext) {
      val (_, fl) = it.next()
      // Option[Option[PriorCalib]]: Some(Some) = parsed, Some(None) =
      // corrupt/refuse, None = calib-less/skip
      val parsed: Option[Option[PriorCalib]] = try {
        // the driver's round artifact embeds the bench stdout line inside a
        // JSON "tail" STRING, so the calib object arrives with escaped
        // quotes (\"calib\":…) — unescape before matching, which also
        // leaves a plain BENCH_local-style artifact unchanged
        val txt = java.nio.file.Files.readString(fl.toPath).replace("\\\"", "\"")
        calibRx.findFirstMatchIn(txt) match {
          case Some(m) =>
            val body = m.group(1)
            (parRx.findFirstMatchIn(body), thrRx.findFirstMatchIn(body)) match {
              case (Some(p), Some(t)) =>
                val series = seriesRx.findFirstMatchIn(body).toSeq
                  .flatMap(_.group(1).split(",").toSeq.map(_.trim)
                    .filter(_.nonEmpty).flatMap(_.toDoubleOption))
                val probes = (p.group(1).toDouble +: series).filter(_ > 0)
                val med = probes.sorted.apply(probes.size / 2)
                val spread =
                  if (probes.size < 2) 1.0 else probes.max / probes.min
                Some(Some(PriorCalib(fl.getName, med, t.group(1).toInt,
                  spread, noisy = spread > NoisyCalibSpread)))
              case _ => Some(None)
            }
          case None =>
            if (txt.contains("\"calib\"")) Some(None) else None
        }
      } catch { case scala.util.control.NonFatal(_) => Some(None) }
      parsed match {
        case Some(Some(pc)) if pc.noisy =>
          if (firstNoisy.isEmpty) firstNoisy = Some(pc)
          skipped += ((pc.src, pc.spread))
        case Some(Some(pc)) =>
          return Some(pc.copy(skippedNoisy = skipped.toSeq))
        case Some(None) => return None
        case None => ()
      }
    }
    // every parseable candidate was noisy: surface the newest so the
    // caller can refuse WITH the spread on record (its own entry is not
    // a "skip" — it was not passed over in favor of anything)
    firstNoisy.map(pc => pc.copy(
      skippedNoisy = skipped.toSeq.filterNot(_._1 == pc.src)))
  }

  /** First three /proc/loadavg fields — recorded in the artifact so a
    * builder-vs-driver total discrepancy (contended host) self-explains. */
  private def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "n/a" }

  /** Total ROWS across every parquet table in a sf dir (metadata-only
    * counts). The growth denominator must be row growth, not byte
    * growth: parquet's fixed per-file overhead inflates a tiny sf's
    * on-disk size, so a byte ratio (38× for the 100× sf0.001→sf0.1
    * span) understates the data span and falsely flags every
    * linear-in-rows shuffle as super-linear.
    */
  private def dirRows(spark: SparkSession, d: String): Long = {
    // footer metadata only — row counts with no schema conversion (works
    // for any ts encoding the loader supports) and no Spark jobs
    val conf = spark.sessionState.newHadoopConf()
    Option(new java.io.File(d).listFiles).map(_.filter(
      _.getName.endsWith(".parquet")).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf)
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try rd.getRecordCount finally rd.close()
      }.sum).getOrElse(0L)
  }

  /** One query's timed passes: median, min and max wall seconds, whether
    * every pass succeeded, the first pass's exchange meters and wall time
    * (the `amortized` disclosure). */
  private final case class Timed(name: String, med: Double, min: Double,
      max: Double, ok: Boolean, shuffleBytes: Long, spillBytes: Long,
      firstPass: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // artifacts land in the repo the bench runs FROM (sbt sets user.dir to
    // the project root), overridable — never a hardcoded absolute path
    val repoRoot = sys.env.getOrElse("GRAFT_REPO_ROOT",
      sys.props.getOrElse("user.dir", "."))
    val loadStart = loadavg()
    // calibrate BEFORE the session exists — no Spark threads compete
    val (calibSingle, calibParallel) = calibrate(cpus)
    val (calibIoW, calibIoR) = calibIo()
    val calibMem = memSlice(cpus)
    val spark = graft.core.GraftSession.local(cpus, "graft-bench")

    // Stable order: Map iteration is hash-ordered, which would hand the
    // JVM/codegen warmup cost to a random query each run.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)

    def runOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Boolean =
      // noop sink: forces FULL evaluation of every output column (a bare
      // count() would let Catalyst prune the projections being measured).
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] query failed on $dir: ${e.getMessage}")
        false
      }

    val meter = graft.core.RunMeter.attach(spark)

    // Untimed warmup at the smallest sf: JIT + codegen + classloading are
    // one-time JVM costs, not per-query work; data stays cold for sfDir.
    // The meter rides along: per-query shuffle bytes at the SMALL sf feed
    // the scale-growth check below (100× data span vs the timed sf) at
    // zero extra passes.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val smallShuffle: Map[String, Long] = ordered.map { case (name, fn) =>
      val ok = runOne(fn, warmDir)
      val w = meter.mark()
      name -> (if (ok) w.shuffleBytes else -1L)
    }.toMap
    // drop working sets persisted by multi-pass queries (LSH dedup) during
    // warmup — the timed pass should start from a clean storage pool
    spark.sharedState.cacheManager.clearCache()

    // Mid-run contention probes (the r9 lesson: a single pre-suite calib
    // under-corrects when contention arrives DURING the run — loadavg
    // went 5.8→9.9 after the probe and q1_agg spread 5.6–26.9 s): every
    // CalibSliceEvery queries, a 1/8-length parallel calib slice is
    // timed and recorded scaled to full-probe-equivalent seconds (the
    // xorshift workload is linear in iters, so ×8 makes the series
    // directly comparable with calib.parallel_s and with prior rounds'
    // probes). ~9 slices × ~0.15 s across the 167-query suite — noise
    // against the ~100 s total, decisive for attributing a slow run.
    val CalibSliceEvery = 20
    val calibSlices = scala.collection.mutable.ArrayBuffer[Double]()
    def calibSlice(): Unit = {
      val iters = CalibIters / 8
      val pool = (0 until cpus).map { k =>
        new Thread(() => { calibSink ^= calibWork(iters, 17L + k) })
      }
      val t0 = System.nanoTime()
      pool.foreach(_.start()); pool.foreach(_.join())
      calibSlices += (System.nanoTime() - t0) / 1e9 * 8
      ()
    }

    // Median of several timed passes per query: a single contended pass on
    // a noisy host can misstate an individual query by 3-10×; the median is
    // robust to one bad sample and min/max records the observed spread.
    // Shuffle/spill bytes come from the FIRST timed pass (deterministic
    // per query — the plan doesn't change between passes). Streaming
    // passes additionally carry their trigger-phase sums, so a slow pass
    // names where it sat (trigger machinery, state store, or outside the
    // triggers entirely).
    val loadByQuery = scala.collection.mutable.LinkedHashMap[String, String]()
    // streaming query -> per-pass (wall s, triggers, phase -> ms)
    val streamPhases = scala.collection.mutable
      .LinkedHashMap[String, Seq[(Double, Long, Map[String, Long])]]()
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % CalibSliceEvery == 0) calibSlice()
      loadByQuery(name) = loadavg()
      val passes = (1 to Passes).map { _ =>
        val t0 = System.nanoTime()
        val ok = runOne(fn, sfDir)
        ((System.nanoTime() - t0) / 1e9, ok, meter.mark())
      }
      if (passes.exists(_._3.triggers > 0L))
        streamPhases(name) = passes.map { case (t, _, w) => (t, w.triggers, w.phases) }
      val times = passes.map(_._1).sorted
      val (first, _, firstW) = passes.head
      Timed(name, times(times.size / 2), times.head, times.last,
        passes.forall(_._2), firstW.shuffleBytes, firstW.spillBytes, first)
    }
    val okRuns = results.filter(_.ok)
    def f(v: Double): String = "%.4f".format(v)
    // failed queries report null (not a near-zero time that would read as
    // a fast success) and are named in "failed"
    val qs = results.map { r =>
      "\"" + r.name + "\":" + (if (r.ok) f(r.med) else "null")
    }.mkString("{", ",", "}")
    val spread = okRuns.map { r =>
      "\"" + r.name + "\":{\"min\":" + f(r.min) + ",\"max\":" + f(r.max) + "}"
    }.mkString("{", ",", "}")
    val shuffle = okRuns.map { r =>
      "\"" + r.name + "\":{\"shuffle_mb\":" + f(r.shuffleBytes / 1048576.0) +
        ",\"spill_mb\":" + f(r.spillBytes / 1048576.0) + "}"
    }.mkString("{", ",", "}")
    // train-once/serve-many disclosure: per amortized query, the memoized
    // cache its plan consumes and the first timed pass (train + serve) —
    // the median alone would silently exclude training cost
    val amortizedJson = okRuns.filter(r => amortized.contains(r.name)).map { r =>
      "\"" + r.name + "\":{\"cache\":\"" + amortized(r.name) +
        "\",\"first_pass\":" + f(r.firstPass) + "}"
    }.mkString("{", ",", "}")
    val streamingJson = streamPhases.map { case (k, ps) =>
      "\"" + k + "\":" + ps.map { case (s, trig, ph) =>
        "{\"s\":" + f(s) + ",\"triggers\":" + trig + ",\"ms\":" +
          ph.toSeq.sortBy(_._1).map { case (p, v) => "\"" + p + "\":" + v }
            .mkString("{", ",", "}") + "}"
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val loadJson = loadByQuery.map { case (k, l) =>
      "\"" + k + "\":\"" + l + "\""
    }.mkString("{", ",", "}")
    // peak 1-minute loadavg observed across the per-query samples — the
    // single contention number the compact line can afford
    val loadPeak = (loadByQuery.values.toSeq :+ loadStart)
      .flatMap(_.split("\\s+").headOption.flatMap(_.toDoubleOption))
      .maxOption.getOrElse(0.0)
    calibSlice() // tail probe: cover contention arriving near the end
    val failed = results.filterNot(_.ok).map("\"" + _.name + "\"")
      .mkString("[", ",", "]")
    val total = okRuns.map(_.med).sum
    // sum-of-min rides alongside the median total: on a host contended in
    // bursts the min per query is the closest observable to the uncontended
    // time, so (total, total_min) bracket the true suite cost
    val totalMin = okRuns.map(_.min).sum
    // current host speed for normalization = median over ALL parallel
    // probes (pre-suite + mid-run slices)
    val calibParallelMed = {
      val all = (calibParallel +: calibSlices.toSeq).sorted
      all(all.size / 2)
    }

    // Scale-growth audit: shuffle bytes at sfDir vs the warmup sf. A query
    // whose exchange grows FASTER than the data (ratio > 1.5 × data ratio)
    // is flagged — the query that looks fine at test scale but dies at
    // 100 TB. Sub-linear growth (fixed fixtures, planted components,
    // broadcast-crossover) never flags. Queries shuffling < 64 KiB at the
    // small sf report null (a ratio over noise bytes means nothing).
    val dataRatio = dirRows(spark, sfDir).toDouble /
      math.max(1L, dirRows(spark, warmDir))
    val MinSmall = 64L * 1024
    val growthRows = okRuns.map { r =>
      val small = smallShuffle.getOrElse(r.name, -1L)
      val ratio =
        if (small >= MinSmall && r.shuffleBytes >= 0)
          Some(r.shuffleBytes.toDouble / small)
        else None
      (r.name, small, r.shuffleBytes, ratio)
    }
    val growthJson = growthRows.map { case (k, small, big, ratio) =>
      "\"" + k + "\":{\"small_mb\":" + f(math.max(0L, small) / 1048576.0) +
        ",\"big_mb\":" + f(big / 1048576.0) +
        ",\"ratio\":" + ratio.map(f).getOrElse("null") + "}"
    }.mkString("{", ",", "}")
    val growthFlagged = growthRows.collect {
      case (k, _, _, Some(r)) if r > 1.5 * dataRatio => "\"" + k + "\""
    }.mkString("[", ",", "]")
    // Cross-round comparability (the r5→r6 lesson: the suite TOTAL moves
    // whenever the registered-query denominator grows or the host drifts,
    // and un-telling that story cost an A/B investigation). Two honest
    // headline numbers ride in the artifact: the median of per-query
    // medians, and the total restricted to the PREVIOUS round's query
    // set. That set is read from the newest CORRECTNESS_r*.json — the
    // driver commits one per round keyed by exactly the queries that
    // round registered, and unlike BENCH_local.json it is never
    // overwritten by in-round bench reruns — so round N+1 is never
    // judged on denominator growth.
    val okMedians = okRuns.map(r => r.name -> r.med).toMap
    val perQueryMedian = {
      val v = okMedians.values.toSeq.sorted
      if (v.isEmpty) 0.0 else v(v.size / 2)
    }
    val prevRound: Option[(Int, String, Set[String])] = {
      val rx = "CORRECTNESS_r(\\d+)\\.json".r
      Option(new java.io.File(repoRoot).listFiles).toSeq.flatten
        .flatMap(fl => fl.getName match {
          case rx(n) => Some((n.toInt, fl))
          case _ => None
        })
        .sortBy(-_._1).headOption.flatMap { case (round, fl) =>
          try {
            val txt = java.nio.file.Files.readString(fl.toPath)
            // top-level keys of {"<query>": {…}, …}
            val keys = "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{".r
              .findAllMatchIn(txt).map(_.group(1)).toSet
            if (keys.nonEmpty) Some((round, fl.getName, keys)) else None
          } catch { case _: Throwable => None }
        }
    }
    val okMins = okRuns.map(r => r.name -> r.min).toMap
    val commonJson = prevRound match {
      case Some((round, src, keys)) =>
        val common = okMedians.view.filterKeys(keys).values
        val commonMin = okMins.view.filterKeys(keys).values
        // normalized totals = common totals rescaled to the PRIOR round's
        // host speed via the parallel calib ratio — the single number that
        // replaces manual control-query archaeology. BOTH sides of the
        // ratio are the MEDIAN over all that run's parallel probes
        // (pre-suite + mid-run slices), so contention arriving after the
        // start is priced in on either side. null until the paired prior
        // artifact carries a calib; null with the reason in calib_vs when
        // its thread count differs (a cross-thread-count calib ratio is
        // not host speed) or when every prior calib is NOISY
        // (spread > NoisyCalibSpread — scaling by a contended probe
        // distorts the headline, the r11 lesson). A noisy-but-newer
        // baseline being passed over for an older quiet one is named in
        // calib_vs, and the chosen baseline's spread always rides in
        // baseline_calib_spread so the gate is checkable after the fact.
        val norm = priorCalib(repoRoot, round) match {
          case Some(pc) if pc.noisy =>
            s""","calib_vs":"${pc.src} (calib spread ${f(pc.spread)} > $NoisyCalibSpread; no quiet prior calib - normalization refused)","baseline_calib_spread":${f(
              pc.spread)},"normalized_total":null,"normalized_total_min":null"""
          case Some(pc) if pc.threads != cpus =>
            s""","calib_vs":"${pc.src} (threads ${pc.threads} != $cpus; not comparable)","baseline_calib_spread":${f(
              pc.spread)},"normalized_total":null,"normalized_total_min":null"""
          case Some(pc) if calibParallelMed > 0 =>
            val skippedNote =
              if (pc.skippedNoisy.isEmpty) ""
              else pc.skippedNoisy.map { case (s, sp) =>
                s"$s calib spread ${f(sp)}"
              }.mkString(" (skipped noisy: ", ", ", ")")
            s""","calib_vs":"${pc.src}$skippedNote","baseline_calib_spread":${f(
              pc.spread)},"normalized_total":${f(
              common.sum * pc.parallelMed / calibParallelMed)},"normalized_total_min":${f(
              commonMin.sum * pc.parallelMed / calibParallelMed)}"""
          case _ =>
            ""","calib_vs":null,"normalized_total":null,"normalized_total_min":null"""
        }
        s"""{"vs":"$src","n":${okMedians.keySet.count(keys)},"total":${f(
          common.sum)},"total_min":${f(commonMin.sum)}$norm}"""
      case None => "null"
    }

    // stdout carries the COMPACT contract line only: a single line grew past
    // the driver's tail-capture window once per-query detail rode along, and
    // the whole artifact parsed as null. The full record (spread, exchange
    // meters, growth, streaming phases, per-query load) goes to the `detail`
    // file named on the line. BENCH_local.json is the curated, committed
    // artifact and is written only under GRAFT_BENCH_CURATED=1; any other
    // run — the driver flow — writes BENCH_driver.json, so a contended run
    // can never overwrite the curated evidence. The compact line keeps
    // `calib`: the next round's priorCalib() normalizes against the calib
    // object it finds in the driver-captured BENCH_rN.json, i.e. in THIS
    // line.
    val loadEnd = loadavg()
    val calibJson = s"""{"single_s":${f(calibSingle)},"parallel_s":${f(
      calibParallel)},"threads":$cpus,"parallel_med":${f(
      calibParallelMed)},"io_write_s":${f(calibIoW)},"io_read_s":${f(
      calibIoR)},"mem_s":${f(calibMem)},"series":${calibSlices.map(f)
      .mkString("[", ",", "]")}}"""
    val outName =
      if (sys.env.get("GRAFT_BENCH_CURATED").contains("1")) "BENCH_local.json"
      else "BENCH_driver.json"
    val head = s""""metric":"total","value":${f(total)},"unit":"sec","total_min":${f(totalMin)},"queries":$qs"""
    val compact = s"""{$head,"passes":$Passes,"failed":$failed,"sf":"$sfDir","load_peak":${f(loadPeak)},"per_query_median":${f(perQueryMedian)},"common_subset":$commonJson,"calib":$calibJson,"detail":"$outName"}"""
    val full = s"""{$head,"spread":$spread,"exchange":$shuffle,"growth":$growthJson,"streaming":$streamingJson,"load":$loadJson,"passes":$Passes,"failed":$failed,"sf":"$sfDir","loadavg_start":"$loadStart","loadavg_end":"$loadEnd","load_peak":${f(loadPeak)},"calib":$calibJson,"data_ratio":${f(dataRatio)},"growth_flagged":$growthFlagged,"amortized":$amortizedJson,"per_query_median":${f(perQueryMedian)},"common_subset":$commonJson}"""
    println(compact)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(repoRoot, outName), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outName: ${e.getMessage}")
    }
    spark.stop()
  }
}
