package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults tuned for the test harness (local[32], 128 GiB single JVM) but
  * expressed so the same settings scale to a multi-executor cluster: AQE on
  * (runtime re-planning, skew-join handling, shuffle-partition coalescing),
  * UTC session time zone (oracle parity), and an explicit shuffle-partition
  * count instead of the 200 default.
  *
  * Reference behavior covered: the reference has no session concept (eager
  * pandas, /root/reference/picoprobe/flow_analyzer.py); this is the Spark
  * entry point everything else hangs off.
  */
object GraftSession {

  /** Build a local session. `cores` drives both parallelism and shuffle
    * partitions — at cluster scale, shuffle partitions would instead be
    * sized to data volume (~128 MB per partition post-AQE-coalesce).
    */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    // fail by name: local[0] dies inside SparkContext with a scheduler
    // error that never mentions the caller's core count
    require(cores > 0, s"cores must be positive, got $cores")
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.expressions.GraftSqlExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // prefer shuffled-hash over sort-merge when one side can build a
      // per-partition hash map: joins of a fat row stream (e.g. candidate
      // pairs carrying embedding vectors) against a narrow table then skip
      // sorting the fat side entirely — the dominant cost in the LSH
      // verify joins. AQE still upgrades to broadcast when small enough.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // fit every engine plan's generated classes (default 100 entries
      // thrashes across the full query surface)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // OFF pending an upstream fix: with the nested-column vectorized
      // parquet reader on, a WindowGroupLimit above an array-bearing scan
      // (the rank-topk shape every ANN query plans) can evaluate a
      // buffered row AFTER the scan advanced to the next batch —
      // GroupedLimitIterator prefetches a row in its constructor, the
      // underlying columnar batch gets closed, and the row's ColumnarArray
      // then reads vectors whose backing store is nulled
      // ("this.floatData is null" NPEs, reproduced deterministically on
      // the 10-file sf1ish embeddings slice; single-file reads mask it).
      // Arrays read row-wise until then. Measured cost (sf1ish embeddings
      // full array decode, 5-pass medians): row-wise 0.306 s vs vectorized
      // 0.250 s (mins 0.264/0.216); an independent run measured 0.236 vs
      // 0.219 — i.e. the workaround costs ~7-20% on the isolated
      // array-decode microbench, and ~0 at suite level (the engine's
      // array-bearing scans are narrow: embedding vectors, media
      // fixtures). Pinned on Spark 4.1.2 — re-check the reader with
      // MultiFileArrayScanSpec on any Spark upgrade before turning it on.
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
