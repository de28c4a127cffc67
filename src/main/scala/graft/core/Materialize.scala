package graft.core

import org.apache.spark.sql.DataFrame

/** Materialization of a multi-consumer intermediate.
  *
  * Several hot query paths pin an intermediate the rest of the plan
  * consumes 2–6 times (d4's shingled corpus, t29's (doc, w, tf) table,
  * t30's per-block manifest, g6's frequency table, d9's hashed key table):
  * without the pin, Catalyst/AQE re-derives the whole upstream per
  * consumer — measured 2–14 extra corpus scans in r15.
  *
  * The pin is a `localCheckpoint`: it truncates lineage and stores the
  * blocks UNREPLICATED on executors, and the context cleaner reclaims them
  * once the returned frame is unreferenced. The trade: with no lineage to
  * recompute from, a lost executor (or dynamic deallocation) fails the
  * query instead of recomputing the lost blocks. Result-invisible — same
  * rows, same values as the unpinned plan (spec-pinned by MaterializeSpec).
  */
object Materialize {

  /** Pin `df` for multi-consumer reuse. `eager` forces materialization
    * before returning (the barrier callers rely on when the pin must
    * happen once, not per consumer); `eager = false` defers to the first
    * action.
    */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager = eager)
}
