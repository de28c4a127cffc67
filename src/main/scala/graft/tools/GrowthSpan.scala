package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Three-decade shuffle-growth audit (bench-side dev tool; the driver's
  * testdata tops out at sf0.1, one decade above the bench warmup sf).
  *
  * Synthesizes a deterministic 10×-sf0.1 slice ("sf1ish") by structured
  * replication of the driver tables — shapes and distributions preserved,
  * content made copy-distinct so candidate-pair workloads scale linearly
  * instead of planting cross-copy duplicates:
  *
  *  - documents: per copy k, every word w → `w~k` (k>0). Doc lengths,
  *    word-frequency shape and WITHIN-copy near-dup structure replicate;
  *    shingles never collide across copies.
  *  - events: id/user shifted per copy, ts/type/value unchanged — same
  *    30-day window at 10× density (a busier system, not a longer one).
  *  - embeddings: id shifted, vectors deterministically jittered so the
  *    10 copies are near but not identical (no degenerate ANN ties).
  *  - lineitem/orders: orderkey block-shifted per copy — join fan-out
  *    exactly preserved.
  *  - dimension tables copied as-is (they are broadcast-scale by design).
  *
  * Then the configured queries (default: the union of the last bench's
  * top shufflers and its top wall-time queries) run at sf0.01 → sf0.1 →
  * sf1ish with per-query shuffle-byte metering AND a second, timed pass
  * (steady-state wall seconds — pass 1 doubles as warmup for JIT and
  * the per-dir amortized caches), and each decade's byte and time
  * growth ratios are compared against the row ratio. The time column is
  * what turns "linear at scale" from a plan-shape inference into a
  * measurement. Output: `GROWTH_SPAN.json` in the repo root.
  *
  * Amortization disclosure (the r11 verdict's evidence gap): because the
  * timed pass runs AFTER the per-dir caches warm, a cache over a
  * span-metered operator would silently turn its decade time measurement
  * into a cache-read measurement. Two artifacts close that: every entry
  * carries `cold_sec` — the pass-1 wall time per sf, which INCLUDES any
  * cache build, so the cold decades stay measured alongside the
  * steady-state ones — and the top-level `amortized` map (derived from
  * [[graft.Bench.amortized]], the single source of cache-ownership truth,
  * cross-checked by CacheHonestySpec) names which metered queries serve
  * from a memoized artifact in their steady-state pass.
  */
object GrowthSpan {

  private[graft] val DefaultQueries = Seq(
    // top shufflers of the last bench
    "b1_bucketed_join", "c8_expiry_plan", "t32_bpe_encode",
    "p1_corpus_ingest", "d4_ngram_jaccard", "t23_learned_quality",
    "t26_paragraph_dedup", "t10_self_repetition", "q42_quality_checks",
    "t29_keywords", "d6_dup_spans", "d2_minhash_lsh", "d9_incremental_dedup",
    "g2_frame_normalize", "st1_stream_windows",
    // top wall-time queries of the last bench not already above
    "st2_stream_join", "q48_grouping_sets", "q57_mad_anomaly", "s10_pq_adc",
    "q27_range_join", "d5_embedding_neardup", "st5_stateful_sessions",
    "m8_h264_video", "m9_bframe_video",
    // candidate-generation shapes with a theoretical occupancy story
    // worth metering even off the bench's top lists
    "d3_simhash",
    // a tier of distinct plan shapes (windows, CDC diff, exact ranks,
    // range windows, broadcast star, streaming late-data/dedup/ANN,
    // cluster canonicalization) so the wall-time table spans every
    // operator family, not just the expensive tail
    "st3_stream_dedup", "st4_late_data", "st6_streaming_ann",
    "t30_vocab_growth", "d11_canonical_select", "q6_region_join",
    "q7_window_running", "c3_cdc_diff", "q25_ranks", "q30_range_window",
    // the iterative family (PageRank, pointer-doubling closure, BFS,
    // cluster canonicalization over LSH components): cost grows with
    // iterations × edges — the one plan shape whose decade behavior a
    // single-sf bench cannot predict, so it gets measured here
    "q33_pagerank", "q39_hierarchy", "q52_bfs_levels", "d8_dedup_clusters")

  private val Copies = 10

  /** The span's slice of the bench's cache-ownership disclosure: which of
    * the metered queries consume a memoized per-dir artifact (and which
    * cache), straight from [[graft.Bench.amortized]] so the two artifacts
    * can never disagree about ownership. Package-visible for
    * CacheHonestySpec's cross-check. */
  private[graft] def amortizedDisclosure(names: Seq[String]): Map[String, String] =
    names.flatMap(n => graft.Bench.amortized.get(n).map(n -> _)).toMap

  /** Written verdicts for flags that are UNDERSTOOD and accepted rather
    * than bugs awaiting a fix — a standing flag nobody answers trains
    * everyone to ignore the meter, so every accepted flag carries its
    * adjudication in the artifact itself.
    */
  private val Adjudications: Map[String, String] = Map(
    "d5_embedding_neardup" -> ("accepted: recall-holding LSH is super-linear by design. " +
      "Code length tracks corpus size (bits >= log2(n/2), keeping bucket occupancy " +
      "and per-vector collision candidates bounded) and bands grow ~1.4x/decade to " +
      "hold near-dup recall at the fixed cosine threshold - the provable LSH price; " +
      "the alternatives are losing recall (fixed bands) or n^2/2^bits candidate " +
      "growth (fixed bits, measured 62x/decade before adaptive sizing). Decade-1 " +
      "excess is additionally the floor-config transition: at sf0.01 buckets are " +
      "~10x underfull, so collisions only begin to exist at sf0.1. Wall-time decades " +
      "are sub-linear (time_flagged stays false). The entry's lsh field carries the " +
      "measured (n, eff_bits, eff_bands, candidate pairs) per sf: the banded shuffle " +
      "scales as n x bands and the verify joins as candidate pairs, so the decade " +
      "ratio should decompose as a mix of (n2/n1)x(bands2/bands1) and " +
      "(cands2/cands1) - check it against the mb column rather than trusting this text."))

  /** Replicate one source table `copies`× with copy-distinct keys. */
  private def scaled(spark: SparkSession, src: String, name: String): DataFrame = {
    val base = spark.read.parquet(s"$src/$name.parquet")
    val copies = (0 until Copies).map(k => base.withColumn("copy_k", lit(k)))
      .reduce(_ unionByName _)
    name match {
      case "documents" =>
        // word → word~k rewrite keeps length/frequency shape, kills
        // cross-copy shingle collisions; ids block-shifted
        copies
          .withColumn("doc_id", col("doc_id") + col("copy_k") * lit(1_000_000_000L))
          .withColumn("text",
            when(col("copy_k") === 0, col("text")).otherwise(
              array_join(transform(split(col("text"), " "),
                w => concat(w, lit("~"), col("copy_k"))), " ")))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .drop("copy_k")
      case "events" =>
        copies
          .withColumn("event_id", col("event_id") + col("copy_k") * lit(1_000_000_000_000L))
          .withColumn("user_id", col("user_id") + col("copy_k") * lit(1_000_000_000L))
          .drop("copy_k")
      case "embeddings" =>
        // deterministic per-(id, copy, dim) jitter ~ ±5e-2
        copies
          .withColumn("vec_id", col("vec_id") + col("copy_k") * lit(1_000_000_000L))
          .withColumn("embedding",
            when(col("copy_k") === 0, col("embedding")).otherwise(
              zip_with(col("embedding"),
                transform(sequence(lit(0), size(col("embedding")) - 1),
                  i => pmod(xxhash64(col("vec_id"), col("copy_k"), i), lit(1000L))),
                (v, h) => v + (h - lit(500L)).cast("float") / lit(10000.0f))))
          .drop("copy_k")
      case "lineitem" =>
        copies
          .withColumn("l_orderkey", col("l_orderkey") + col("copy_k") * lit(1_000_000_000L))
          .drop("copy_k")
      case "orders" =>
        copies
          .withColumn("o_orderkey", col("o_orderkey") + col("copy_k") * lit(1_000_000_000L))
          .withColumn("o_custkey", col("o_custkey")) // dims stay unscaled
          .drop("copy_k")
      case _ => base // dimension tables: single copy
    }
  }

  private def ensureSf1ish(spark: SparkSession, sf01: String, out: String): Unit = {
    val done = new java.io.File(s"$out/_GRAFT_SF1ISH_OK")
    if (done.exists()) return
    graft.core.Tables.all.foreach { t =>
      val df = scaled(spark, sf01, t)
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
  }

  private def rows(spark: SparkSession, d: String): Long =
    graft.core.Tables.all.map(t =>
      spark.read.parquet(s"$d/$t.parquet").count()).sum

  def main(args: Array[String]): Unit = {
    val sf001 = "/root/testdata/sf0.01"
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1ish")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val repoRoot = sys.env.getOrElse("GRAFT_REPO_ROOT",
      sys.props.getOrElse("user.dir", "."))
    val names = sys.env.get("SPARK_GRAFT_SPAN_QUERIES")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(DefaultQueries)

    val spark = graft.core.GraftSession.local(cpus, "graft-growth-span")
    ensureSf1ish(spark, sf01, sf1)

    val meter = graft.core.RunMeter.attach(spark)
    val dirs = Seq("sf0.01" -> sf001, "sf0.1" -> sf01, "sf1ish" -> sf1)
    val rowCounts = dirs.map { case (tag, d) => tag -> rows(spark, d) }.toMap

    val queries = graft.SparkEntry.queries
    // Two passes per (query, sf): pass 1 is the shuffle-metered run and
    // doubles as the warmup (JIT, codegen, per-dir amortized caches —
    // the IVF/BPE/media stores a production deployment builds once);
    // pass 2 is TIMED, so the time column measures the steady-state
    // query, matching what Bench's median-of-passes reports. The plan is
    // deterministic per (query, dir), so metering pass 1 loses nothing.
    // Pass 1's wall time rides along as cold_sec: it is the only pass
    // that pays a cache build, so a memoized operator's decade growth
    // stays measured (cold) even though the steady-state column serves
    // from the cache. cold_sec at sf0.01 also carries this JVM's one-time
    // JIT/codegen cost — read its decades, not its absolute numbers.
    val results = names.filter(queries.contains).map { name =>
      val fn = queries(name)
      val runs = dirs.map { case (tag, d) =>
        meter.mark()
        def run(): Boolean =
          try { fn(spark, d).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[span] $name failed on $tag: ${e.getMessage}")
            false
          }
        val tc0 = System.nanoTime()
        val ok = run()
        val coldSec = if (ok) (System.nanoTime() - tc0) / 1e9 else -1.0
        val w = meter.mark()
        val t0 = System.nanoTime()
        val ok2 = ok && run()
        val sec = if (ok2) (System.nanoTime() - t0) / 1e9 else -1.0
        tag -> ((if (ok) w.shuffleBytes else -1L,
          if (ok) w.shuffleRecords else -1L, sec, coldSec))
      }.toMap
      // clear any memoized working sets between corpora
      spark.sharedState.cacheManager.clearCache()
      (name, runs)
    }

    // d5 adjudication arithmetic: the measured (n, effBits, effBands,
    // candidate pairs) per sf, so the exchange decades decompose into
    // n × bands × candidate factors a reader can check against the
    // adjudication text instead of trusting it.
    // Each per-dir probe is individually guarded: the unthresholded
    // candidate count is strictly heavier than the measured d5 query, and
    // a failure there (e.g. OOM at sf1ish) must cost only that one lsh
    // cell — never the whole sweep's artifact (every measured run above
    // is error-guarded the same way).
    val d5Diag: Option[String] =
      if (!names.contains("d5_embedding_neardup")) None
      else Some(dirs.map { case (tag, d) =>
        val cell =
          try {
            val (n, bits, bands, cands) =
              graft.dedup.DedupQueries.d5Diagnostics(spark, d)
            s"""{"n":$n,"eff_bits":$bits,"eff_bands":$bands,"cand_pairs":$cands}"""
          } catch { case e: Throwable =>
            System.err.println(s"[span] d5Diagnostics failed on $tag: ${e.getMessage}")
            "null"
          } finally spark.sharedState.cacheManager.clearCache()
        s""""$tag":$cell"""
      }.mkString("{", ",", "}"))

    def f(v: Double): String = "%.3f".format(v)
    val r1 = rowCounts("sf0.1").toDouble / rowCounts("sf0.01")
    val r2 = rowCounts("sf1ish").toDouble / rowCounts("sf0.1")
    val MinBytes = 64L * 1024
    // below this base, a wall-time ratio reads fixed overhead (driver
    // planning, task launch), not data work — report null, never flag
    val MinSec = 0.25
    // min shuffle RECORDS for a record-growth ratio to mean anything
    // (mirrors MinBytes: a ratio over a handful of driver-side rows is
    // noise, not growth)
    val MinRecs = 1000L
    val entries = results.map { case (name, runs) =>
      val sh = runs.view.mapValues(_._1).toMap
      val rc = runs.view.mapValues(_._2).toMap
      val tm = runs.view.mapValues(_._3).toMap
      val cold = runs.view.mapValues(_._4).toMap
      def ratio(a: String, b: String): Option[Double] = {
        val (x, y) = (sh(a), sh(b))
        if (x >= MinBytes && y >= 0) Some(y.toDouble / x) else None
      }
      // record-growth decades: bytes confound row growth with per-row
      // compressibility (lz4 over jittered copies compresses worse than
      // over the originals), so a byte flag with a LINEAR record decade
      // is a compression artifact, not a plan problem — this column is
      // what separates the two without a manual stage autopsy
      def rRatio(a: String, b: String): Option[Double] = {
        val (x, y) = (rc(a), rc(b))
        if (x >= MinRecs && y >= 0) Some(y.toDouble / x) else None
      }
      def tRatio(a: String, b: String): Option[Double] = {
        val (x, y) = (tm(a), tm(b))
        if (x >= MinSec && y >= 0) Some(y / x) else None
      }
      val g1 = ratio("sf0.01", "sf0.1")
      val g2 = ratio("sf0.1", "sf1ish")
      val c1 = rRatio("sf0.01", "sf0.1")
      val c2 = rRatio("sf0.1", "sf1ish")
      val t1 = tRatio("sf0.01", "sf0.1")
      val t2 = tRatio("sf0.1", "sf1ish")
      val flag = g1.exists(_ > 1.5 * r1) || g2.exists(_ > 1.5 * r2)
      val tFlag = t1.exists(_ > 1.5 * r1) || t2.exists(_ > 1.5 * r2)
      val adj = if (flag || tFlag) Adjudications.get(name) else None
      val body =
        s""""mb":{"sf0.01":${f(sh("sf0.01") / 1048576.0)},"sf0.1":${f(
          sh("sf0.1") / 1048576.0)},"sf1ish":${f(sh("sf1ish") / 1048576.0)}},""" +
          s""""decade1":${g1.map(f).getOrElse("null")},"decade2":${g2.map(f)
            .getOrElse("null")},"flagged":$flag,""" +
          s""""recs":{"sf0.01":${rc("sf0.01")},"sf0.1":${rc("sf0.1")},"sf1ish":${
            rc("sf1ish")}},""" +
          s""""rec_decade1":${c1.map(f).getOrElse("null")},"rec_decade2":${c2
            .map(f).getOrElse("null")},""" +
          s""""sec":{"sf0.01":${f(tm("sf0.01"))},"sf0.1":${f(tm("sf0.1"))},"sf1ish":${f(
            tm("sf1ish"))}},""" +
          s""""cold_sec":{"sf0.01":${f(cold("sf0.01"))},"sf0.1":${f(
            cold("sf0.1"))},"sf1ish":${f(cold("sf1ish"))}},""" +
          s""""time_decade1":${t1.map(f).getOrElse("null")},"time_decade2":${t2
            .map(f).getOrElse("null")},"time_flagged":$tFlag""" +
          adj.map(a => s""","adjudication":"$a"""").getOrElse("") +
          (if (name == "d5_embedding_neardup")
            d5Diag.map(d => s""","lsh":$d""").getOrElse("")
          else "")
      (name, s""""$name":{$body}""", flag, tFlag, adj)
    }
    val flagged = entries.collect { case (n, _, true, _, _) => "\"" + n + "\"" }
    val timeFlagged = entries.collect { case (n, _, _, true, _) => "\"" + n + "\"" }
    val adjudicated = entries.collect {
      case (n, _, f0, t0, Some(a)) if f0 || t0 => s""""$n":"$a""""
    }
    val json =
      s"""{"row_ratio_decade1":${f(r1)},"row_ratio_decade2":${f(r2)},""" +
        s""""rows":{${rowCounts.map { case (k, v) => s""""$k":$v""" }.mkString(",")}},""" +
        s""""flagged":${flagged.mkString("[", ",", "]")},""" +
        s""""time_flagged":${timeFlagged.mkString("[", ",", "]")},""" +
        s""""adjudicated":{${adjudicated.mkString(",")}},""" +
        s""""amortized":{${amortizedDisclosure(names).toSeq.sorted.map {
          case (q, c) => s""""$q":"$c""""
        }.mkString(",")}},""" +
        s""""queries":{${entries.map(_._2).mkString(",")}}}"""
    println(json)
    // dev-only subset runs (SPARK_GRAFT_SPAN_QUERIES) must not overwrite
    // the committed full-sweep artifact
    if (sys.env.get("SPARK_GRAFT_SPAN_QUERIES").isEmpty)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(repoRoot, "GROWTH_SPAN.json"), json + "\n")
    spark.stop()
  }
}
