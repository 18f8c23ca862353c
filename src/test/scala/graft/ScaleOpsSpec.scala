package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scale utilities: approx_count_distinct lands within its error
  * bound. */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("approx_count_distinct within declared rsd of exact") {
    val e = Tables.events(spark, "/root/testdata/sf0.01")
    val (exact, approx) = e
      .agg(countDistinct($"user_id").cast("double"),
           approx_count_distinct($"user_id", 0.05).cast("double"))
      .as[(Double, Double)].collect().head
    assert(math.abs(approx - exact) / exact <= 0.15) // 3x declared rsd
  }
}
