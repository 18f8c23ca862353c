package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-engine hash comparison relies on three invariants for every
  * gate query (see GateQuery scaladoc): it runs, it emits no NULLs
  * (engines disagree on NULL ordering), and it is run-to-run
  * deterministic (total ORDER BY, no nondeterministic aggregates).
  * Each run also releases every cache entry it made ([[Cached.scope]]).
  * Checked here for all queries at sf0.001 so a round-2 regression
  * fails fast without needing the DuckDB side. */
class GateInvariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: runs, null-free, deterministic") {
      // each run builds the gate from scratch in its own scope, so the
      // second cannot read the first's cached intermediates
      def run(): (Array[String], Array[org.apache.spark.sql.Row]) = {
        val entries = TestSpark.cacheEntries
        val out = Cached.scope {
          val df = fn(spark, sf)
          (df.columns, df.collect())
        }
        assert(TestSpark.cacheEntries == entries,
          s"$name left cache entries behind")
        out
      }
      val (cols, first) = run()
      assert(cols.nonEmpty && cols.distinct.length == cols.length)
      val nulls = first.iterator.map(r =>
        (0 until r.length).count(r.isNullAt)).sum
      assert(nulls == 0, s"$name emitted $nulls NULL values")
      val (_, second) = run()
      assert(first.sameElements(second), s"$name is not deterministic")
    }
  }

  test("every oracle name matches a query and entry returns rows") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
