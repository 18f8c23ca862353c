package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.QuantizedCosine.quantizedCosine

/** The native expression must be bit-identical to the built-in
  * higher-order-function composition it replaces (that composition is
  * what the DuckDB oracle mirrors), on real embeddings and on edge
  * shapes. */
class QuantizedCosineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    def q(c: org.apache.spark.sql.Column) = transform(c, x => floor(x * 1000).cast("long"))
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, r) => p * r), lit(0L), (acc, v) => acc + v)
    dot(q(a), q(b)).cast("double") /
      (sqrt(dot(q(a), q(a)).cast("double")) * sqrt(dot(q(b), q(b)).cast("double")))
  }

  test("bit-identical to the HOF composition on real embeddings") {
    val v = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val q = v.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val both = q.crossJoin(v.limit(100))
      .select(quantizedCosine($"qe", $"embedding").as("native"),
              hofCosine($"qe", $"embedding").as("hof"))
    val diff = both.filter($"native" =!= $"hof" ||
      $"native".isNull =!= $"hof".isNull).count()
    assert(diff == 0)
    assert(both.count() == 2000)
  }

  test("edge shapes: negative values, mismatched lengths, nulls") {
    val rows = Seq(
      (Array(-0.5f, 0.25f, 0.125f), Array(0.5f, -0.25f, 0.125f)),
      (Array(1.0f, 2.0f, 3.0f, 4.0f), Array(1.0f, 2.0f)), // min-length semantics
      (Array(0.001f), Array(0.0019f))).toDF("a", "b")
    val got = rows.select(quantizedCosine($"a", $"b").as("n"), hofCosine(
      // HOF on the truncated common prefix for the mismatched case
      slice($"a", lit(1), least(size($"a"), size($"b"))),
      slice($"b", lit(1), least(size($"a"), size($"b")))).as("h")).collect()
    got.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0 ||
        (r.getDouble(0).isNaN && r.getDouble(1).isNaN))
    }
    val withNull = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b").select(quantizedCosine($"a", $"b").as("n")).collect()
    assert(withNull.head.isNullAt(0))
  }

  test("SQL registration and type check") {
    val r = spark.sql(
      "SELECT quantized_cosine(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS c")
      .collect().head.getDouble(0)
    assert(r == 1.0)
    val err = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b").select(quantizedCosine($"a", $"b")).collect()
    }
    assert(err.getMessage.contains("quantized_cosine") ||
           err.getMessage.toLowerCase.contains("type"))
  }
}
