package graft

import graft.functions.SimHashArr
import graft.ops.Cols
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-row fused SimHash must equal the explode → md5 →
  * thirty-two-separate-`sum(when)` aggregate construction it replaces
  * (the DuckDB oracle replays the latter). */
class SimHashArrSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The 32-column formulation: one ±1 vote sum per bit, then a bit
    * is set where its votes are non-negative. */
  private def viaColumns(th: org.apache.spark.sql.DataFrame) = {
    val bitAggs = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$b")
    }
    val agg = th.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val sim = (0 until 32).map { b =>
      when(col(s"b$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), sim.as("sh"))
  }

  test("matches the aggregate path on real token sets") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val viaAgg = viaColumns(docs
      .select(col("doc_id"), explode(Cols.tokenSet(col("text"))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .repartition(7, col("doc_id"))) // force partial/merge paths
    val viaArr = docs.select(col("doc_id"),
      SimHashArr.simhashArr(Cols.tokenSet(col("text"))).as("sh"))
    assert(viaArr.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaArr).isEmpty)
  }

  test("empty array yields null; single token yields its own bit pattern") {
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq.empty[String])
    ).toDF("id", "arr")
      .select(col("id"), SimHashArr.simhashArr(col("arr")).as("sh"))
    val got = df.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(2L).isEmpty, "empty array must yield null")
    assert(got(1L).nonEmpty)
  }
}
