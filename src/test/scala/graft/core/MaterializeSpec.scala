package graft.core

import graft.SparkSpec

/** The materialization pin must be result-invisible — same rows out of the
  * pinned frame, eager or lazy — and must truncate lineage. `pin` has one
  * strategy (`localCheckpoint`) and reads no session conf.
  */
class MaterializeSpec extends SparkSpec {

  private def build() = {
    import org.apache.spark.sql.functions._
    spark.range(1000)
      .select(col("id"), (col("id") % 7).as("k"), (col("id") * 3).as("v"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("all strategies produce identical rows, eager and lazy") {
    val want = rows(build())
    assert(want.nonEmpty)
    assert(rows(Materialize.pin(build())) == want, "eager")
    assert(rows(Materialize.pin(build(), eager = false)) == want, "lazy")
  }

  test("default (conf unset) pins eagerly and reads back identically") {
    val pinned = Materialize.pin(build())
    // localCheckpoint truncates lineage: the pinned plan must not re-read
    // the source (an RDD scan, not a range+aggregate re-derivation)
    assert(pinned.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      "pin should be lineage-truncating localCheckpoint")
    assert(rows(pinned) == rows(build()))
  }
}
