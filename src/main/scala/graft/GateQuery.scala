package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-gate query: a Spark implementation over a testdata
  * directory plus (when SQL-expressible) a DuckDB oracle that must
  * hash-match it. Queries without an oracle get the driver's weaker
  * rows-only check.
  *
  * Determinism contract: the Spark result and the oracle result must
  * be equal as ordered tables — same column names, same row order —
  * so every query ends with an explicit total ORDER BY on both sides
  * and never emits NULLs (engines disagree on NULL sort position).
  */
final case class GateQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object GateQuery {
  /** Total deterministic order over all output columns, left to right. */
  def ordered(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.orderBy(df.columns.toIndexedSeq.map(col): _*)
  }
}
