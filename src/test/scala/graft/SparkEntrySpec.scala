package graft

/** Driver-contract smoke: entry() returns rows, every query name has a fn,
  * and every oracle key is a registered query.
  */
class SparkEntrySpec extends SparkSpec {

  test("entry: flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry consistency: oracle keys ⊆ query names, no duplicates") {
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // toMap would silently drop a name collision: the map must be as big
    // as the registration list
    assert(SparkEntry.queries.size == SparkEntry.defs.size)
    assert(SparkEntry.queries.size >= 81)
  }

  test("registerAll exposes every table to spark.sql") {
    graft.core.Tables.registerAll(spark, sf)
    graft.core.Tables.all.foreach { t =>
      assert(spark.sql(s"SELECT * FROM $t LIMIT 1").count() == 1, s"table $t")
    }
    // SQL + extension function over a registered view
    val n = spark.sql(
      "SELECT COUNT(DISTINCT simhash64(text)) FROM documents").collect()(0).getLong(0)
    assert(n > 0)
  }

  test("every query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).limit(1).count() > 0, s"query $name returned no rows")
      // RunMeter mark-soundness (sweep #9): the bench marks per-query
      // phase sums right after a query's pass — a query that returned
      // with a streaming query still mid-trigger would leak its progress
      // events into the NEXT query's attribution window. Pin that no
      // registered query leaves an active stream behind.
      assert(spark.streams.active.isEmpty,
        s"query $name left ${spark.streams.active.length} active streaming " +
          "queries running after returning")
    }
  }
}
