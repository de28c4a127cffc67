package graft.dedup

import graft.core.Materialize
import graft.expressions.GraftExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed around
  * Spark's shuffle model:
  *
  *  - exact: group by content digest (32-byte key, never the full text —
  *    the shuffle carries hashes, not documents);
  *  - MinHash + LSH: per-row signature (native codegen expressions, one
  *    tight JVM pass per row — see [[graft.expressions.HashOps]]), band →
  *    bucket shuffle where only same-bucket docs meet (candidate generation
  *    is O(n·bands), not O(n²)), exact Jaccard verify on candidates only;
  *  - SimHash: per-row 64-bit signature for hamming-distance near-dup.
  *
  * At 100 TB the only all-to-all movement is the banded bucket shuffle of
  * (band_hash, doc_id) plus the candidate back-join against the 8-byte
  * shingle-hash sets — tune bands/rows to trade recall vs shuffle width.
  */
object Dedup {

  /** Word n-gram shingles of `text` as strings (generic/SQL-visible form;
    * the hashed form below is what the scale path uses).
    */
  def shingleWords(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    // guard: size - n < 0 would make sequence() count DOWN and element_at
    // throw on index 0 / read from the string end — short texts shingle
    // to [] (same contract as HashOps.shingleHashes' m <= 0 case)
    when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-gram shingles of `text`, deduplicated + sorted, as xxhash64
    * longs (hash-shingling keeps the bucket shuffle narrow: 8 bytes per
    * shingle; sorted so set ops are linear merges).
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    GraftExpressions.shingleHashes(text, n)

  /** k MinHash values over a shingle-hash array (single codegen pass). */
  def minhash(shingles: Column, k: Int = 64): Column =
    GraftExpressions.minhashSig(shingles, k)

  /** LSH band hashes: split the k-signature into `bands` bands and hash
    * each; docs sharing any band hash become candidate pairs.
    */
  def bandHashes(sig: Column, bands: Int = 16): Column =
    GraftExpressions.bandHashes(sig, bands)

  /** Exact Jaccard over two sorted shingle-hash arrays. */
  def jaccard(a: Column, b: Column): Column = GraftExpressions.jaccardSorted(a, b)

  /** Candidate near-duplicate pairs via MinHash LSH, verified with exact
    * Jaccard over the shingle-hash sets. Returns (doc_a, doc_b, jaccard)
    * with doc_a < doc_b, jaccard >= threshold.
    *
    * Plan shape (the part that matters at 100 TB): signatures are computed
    * in ONE scan; candidates come from a groupBy on (band_id, band_hash)
    * carrying only 8-byte ids — never a self-join of the signature-bearing
    * rows, which would recompute MinHash on both sides. The shingle sets are
    * re-derived only for the (small) candidate set via two narrow
    * back-joins; on a persistent pipeline you would cache/checkpoint `sh`
    * instead.
    */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, n: Int = 3, k: Int = 64, bands: Int = 16): DataFrame = {
    // both sizes are known here, so reject a non-dividing band count at plan
    // build instead of per-task inside the band_hashes kernel
    require(bands >= 1 && k % bands == 0,
      s"minhashNearDupPairs: bands ($bands) must divide the signature size k ($k)")
    val sh = docs
      .select(col(idCol).as("doc_id"), shingleHashes(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val banded = sh.select(
      col("doc_id"),
      posexplode(bandHashes(minhash(col("sh"), k), bands)).as(Seq("band_id", "band_hash")))
    // candidate pairs via a bucket self-join of (band, hash, id) — NOT a
    // collect_list per bucket: a degenerate hot bucket (boilerplate band)
    // would materialize one O(bucket²) array row on a single reducer,
    // whereas the join streams pairs and AQE splits skewed bucket keys
    val a = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b"))
    val cands = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** EXACT Jaccard similarity join via prefix filtering (the SSJoin/PPJoin
    * family): two sets with `j >= t` must share at least one element among
    * the first `|s| - ceil(t*|s|) + 1` elements of each set in a canonical
    * order — if their prefixes are disjoint, each set has more than
    * `(1-t)/(1+t)`-worth of private elements and the Jaccard bound fails.
    * Candidates therefore come from an equi-join on prefix hashes (plus an
    * optional blocking column), never a within-block cross join: the
    * shuffle carries (hash, id) pairs and the O(n²) page is gone — the
    * property that keeps this runnable at 100 TB where a blocked
    * self-join is not.
    *
    * The canonical order is ASCENDING DOCUMENT FREQUENCY (ties by hash) —
    * the PPJoin ordering. Any consistent total order is correct (the
    * bound is order-agnostic), but frequency order puts each set's
    * RAREST shingles in its prefix, so hot shingles (boilerplate) never
    * generate candidates and candidate volume stays ∝ true near-dup mass
    * instead of growing with the hottest token's squared frequency.
    *
    * Frequencies come from a Count-Min SKETCH, not an exact df table: the
    * grid is a fixed-size partial aggregate (no exchange — grids merge by
    * element-wise addition) probed per row at the scan, so the ordering
    * costs one narrow pre-pass instead of an exact-df shuffle join + per-
    * doc re-group (measured ~2x the whole query). CMS never undercounts,
    * so truly hot tokens always rank hot; cold tokens may swap amongst
    * each other within the noise floor, which costs only a bounded
    * constant factor of extra candidates — the quadratic hot-token term
    * is what dies, and (estimate, hash) stays a globally consistent total
    * order so completeness is untouched. At 100 TB the grid is still the
    * same few MB: precision concentrates on exactly the heavy mass that
    * matters.
    *
    * COST DISCLOSURE: the grid pre-pass runs EAGERLY at plan-construction
    * time (`.head()` on a fixed-size partial aggregate — bounded by
    * construction) and is a fourth full computation of `sh` alongside the
    * prefix explode and the two verify back-joins. `sh` is deliberately
    * NOT persisted across them: the returned plan is lazy (callers and
    * the PlanGuard sweep inspect it), so there is no point to unpersist
    * at, and materializing a cache before the back-joins are planned
    * swaps their size ESTIMATES for exact cached stats — the flip that
    * cost d5 a measured 15× exchange (see
    * [[graft.sim.EmbeddingDedup.nearDupPairsPlan]]). Re-deriving shingles
    * is scan + codegen'd hashing, cheap relative to a stats-mis-planned
    * join; at 100 TB the pre-pass is one extra map-only scan, no
    * exchange.
    *
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= t.
    */
  def jaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 2, blockCol: Option[String] = None,
      cmsWidth: Int = 1 << 16, cmsDepth: Int = 4): DataFrame = {
    import graft.expressions.CountMin
    val blockCols = blockCol.toSeq
    // shingle ONCE and materialize (Materialize.pin, ~8 B/shingle hash):
    // four downstream legs read this frame (the df sketch, both prefix
    // join sides, both verify joins) and AQE stage reuse covers at most
    // one of them — unmaterialized, the text re-scans and re-shingles 4×
    // per run (measured 1.51 → 1.42 s min at sf0.1; the factor grows with
    // text size since shingling is the corpus-sized cost). Same production
    // shape as d9: tokenize at ingest, every pass reads the token table.
    // This pin is CORPUS-SIZED — on a cluster select the replicated or
    // reliable-checkpoint strategy (Materialize scaladoc) so one lost
    // executor recomputes instead of failing the job.
    val sh = graft.core.Materialize.pin(docs
      .select((blockCols.map(col) :+ col(idCol).as("doc_id")) :+
        shingleHashes(col(textCol), n).as("sh"): _*)
      .filter(size(col("sh")) > 0))
    // document-frequency sketch (sh is deduplicated per doc, so every
    // exploded instance is one document) — fixed-size, driver-collected
    // once, rides the task binary like q32's heavy-hitter prefilter
    val grid = sh.select(explode(col("sh")).as("h"))
      .agg(CountMin.cmsState(col("h"), cmsWidth, cmsDepth).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    // reorder each doc's shingles by (estimated df asc, h asc) INSIDE the
    // row — ONE codegen'd kernel call per row (CmsOrderExpr), not the
    // interpreted transform/sort_array/struct chain it replaced (same
    // ordering by construction: lexicographic (df, h) ascending over the
    // same grid estimates)
    val ordered = sh.withColumn("oh",
      CountMin.cmsOrder(col("sh"), grid, cmsWidth, cmsDepth))
    // prefix length: |s| - ceil(t*|s|) + 1 over the frequency-ordered array
    val prefixLen = (size(col("oh")) - ceil(lit(threshold) * size(col("oh"))) + 1)
      .cast("int")
    val prefixes = ordered.select(
      (blockCols.map(col) :+ col("doc_id")) :+
        explode(slice(col("oh"), lit(1), prefixLen)).as("h"): _*)
    val joinKeys = blockCols :+ "h"
    val a = prefixes.select((joinKeys.map(col) :+ col("doc_id").as("doc_a")): _*)
    val b = prefixes.select((joinKeys.map(col) :+ col("doc_id").as("doc_b")): _*)
    val cands = a.join(b, joinKeys)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental (snapshot-over-ledger) exact dedup — the recurring-crawl
    * contract: a new batch is admitted against the content-hash LEDGER of
    * everything already ingested, never against the full historical text.
    * A batch document survives iff (a) its content hash is absent from the
    * ledger (left-anti join on 32-byte hashes — the shuffle carries
    * digests, not documents) and (b) it is the first occurrence WITHIN the
    * batch (min-id per hash — first-wins, deterministic). The admitted
    * hashes then append to the ledger for the next increment; the ledger
    * grows as O(distinct docs) hashes regardless of corpus text size.
    *
    * `batch` needs `idCol` + `textCol`; returns the admitted rows
    * (id, content_key). `ledger` is a single-column frame of previously
    * admitted content keys.
    */
  def incrementalDedup(batch: DataFrame, idCol: String, textCol: String,
      ledger: DataFrame): DataFrame =
    incrementalDedupKeyed(
      batch.select(col(idCol).as("doc_id"),
        sha2(col(textCol), 256).as("content_key")),
      ledger)

  /** Pre-hashed variant of [[incrementalDedup]] for callers that already
    * hold (doc_id, content_key) rows — a recurring crawl hashes each
    * document once at ingest and carries the 32-byte key, never the text.
    * NOTE: the batch side's lineage executes THREE times inside the
    * bloom-screened anti-join (bloom build, broadcast key set, final
    * anti-join) — hand this a cheap frame (a materialized slim table or a
    * trivially re-computable projection), not an expensive unmaterialized
    * pipeline.
    */
  def incrementalDedupKeyed(keyed: DataFrame, ledger: DataFrame): DataFrame = {
    val ledgerKeys = ledger.toDF("content_key")
    // Within-batch first-wins BEFORE the ledger screen (r16): the min-id
    // aggregate groups on exactly the anti-join key, so the two steps
    // commute — same admitted keys, same min ids (spec-pinned). Written
    // this way so the bloom below can be SIZED from the distinct key
    // count; note Catalyst's PushDownLeftSemiAntiJoin pushes the anti-join
    // back through the aggregate and union anyway (plan shape identical
    // either way, r16 plan dumps), so this ordering is about sizing and
    // clarity, not plan surgery — the measured d9 win came from the bloom
    // sizing below.
    val firstWins = keyed
      .groupBy("content_key")
      .agg(min(col("doc_id")).as("doc_id"))
    // Size the bloom from the OBSERVED batch key count (r16, guide §3.2):
    // the former fixed 2^23-bit default allocated a 1 MiB partial state
    // per aggregation task regardless of batch size — for a
    // few-thousand-key batch, allocating + merging those bitmaps WAS the
    // bloom's cost. 16 bits/key (fpp ≈ 0.05% — false positives only cost
    // extra semi-join rows, never correctness), floor 2^14 (2 KiB),
    // cap 2^27 (16 MiB broadcast at ~100 M batch keys; past that fpp
    // degrades gracefully rather than the broadcast growing unbounded).
    // The count executes the (cheap, usually pinned-input) firstWins
    // lineage once more — measured net win at sf0.1 and the honest way
    // to size at any scale.
    val nKeys = math.max(1L, firstWins.count())
    val numBits = math.max(1L << 14, math.min(1L << 27,
      java.lang.Long.highestOneBit(16 * nKeys - 1) << 1)).toInt
    // bloom-bounded batch-vs-ledger screen (BloomJoin.antiJoinSmallLeft):
    // at scale the batch is tiny against the corpus-lifetime ledger, and
    // this keeps the ledger unshuffled — exchanged bytes O(|batch|)
    graft.core.BloomJoin
      .antiJoinSmallLeft(firstWins, "content_key", ledgerKeys, "content_key",
        numBits = numBits)
      .select("doc_id", "content_key")
  }

  /** 64-bit SimHash over whitespace tokens: per-token xxhash64, signed
    * bit-vote per bit position, sign → bit. Near-dup docs differ in few
    * bits (hamming distance on the returned long).
    */
  def simhash(text: Column): Column = GraftExpressions.simhash64(text)

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Duplicate-CLUSTER assignment — the completion step after any
    * pairwise dedup: connected components over the near-dup pair list,
    * every member labeled with its component's MIN doc id (the canonical
    * representative a pipeline keeps). Returns (doc_id, cluster) for
    * every doc appearing in a pair.
    *
    * Semi-naive label propagation in DataFrames (the iterative PageRank/
    * CC shape): each round every node takes the min label among itself
    * and its neighbors; convergence needs component-diameter rounds —
    * small by nature for duplicate clusters — with a driver-side
    * changed-count check per round. Each round is one equi-join + one
    * aggregate on 8-byte ids; the result materializes eagerly and the
    * edge set releases before returning (same contract as
    * [[graft.sim.EmbeddingDedup.nearDupPairs]]).
    *
    * Every round's label set is a lineage-truncating [[Materialize.pin]],
    * not a `persist`: round k's plan reads round k-1's labels twice (the
    * neighbor join and the self join), so a persisted-but-untruncated
    * chain doubles its logical plan each round, and planning/explaining
    * it exhausted a 4 GB heap by round 8. Superseded pins are reclaimed
    * by the context cleaner.
    */
  def dedupClusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = Materialize.pin(edges.select(col("src").as("node"))
        .distinct().withColumn("label", col("node")))
      // Convergence check without a per-round join: labels only DECREASE
      // (least of self and neighbor min), so the label sum is unchanged
      // iff no node changed — one map-side-combinable aggregate per round
      // instead of re-joining the full label set against its predecessor.
      // Decimal(38,0) keeps the sum exact (and ANSI-loud on overflow) at
      // any id width.
      def labelSum(df: DataFrame): java.math.BigDecimal = {
        val v = df
          .agg(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
          .head().getDecimal(0)
        // SQL SUM over no rows is NULL; the sum of an empty label set is
        // zero — without this, empty input NPE'd on the convergence
        // compare instead of converging on the first round
        if (v == null) java.math.BigDecimal.ZERO else v
      }
      var prevSum = labelSum(labels)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val nbrMin = edges
          .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy("src").agg(min("label").as("nbr"))
          .withColumnRenamed("src", "node")
        val next = Materialize.pin(labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label")))
        val nextSum = labelSum(next)
        labels = next
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        iter += 1
      }
      labels.select(col("node").as("doc_id"), col("label").as("cluster"))
    } finally {
      edges.unpersist(blocking = false)
      ()
    }
  }
}
