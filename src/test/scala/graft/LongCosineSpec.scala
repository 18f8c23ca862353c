package graft

import graft.functions.LongCosine.longCosine
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The native long-array cosine must be BIT-identical to the HOF
  * composition it replaced (exact long dot/norms, one double
  * division against sqrt·sqrt) — the centroid-path oracles state the
  * HOF shape, so any divergence would break their hash match. */
class LongCosineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hofCos(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column) = {
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0L), (acc, z) => acc + z)
    dot(a, b).cast("double") /
      (sqrt(dot(a, a).cast("double")) * sqrt(dot(b, b).cast("double")))
  }

  test("bit-identical to the HOF composition on random quantized vectors") {
    val rnd = new Random(11)
    val rows = (1 to 300).map { i =>
      (i.toLong,
        Seq.fill(64)((rnd.nextInt(2001) - 1000).toLong),
        Seq.fill(64)((rnd.nextInt(2001) - 1000).toLong))
    }.toDF("id", "a", "b")
    val diff = rows
      .select(longCosine($"a", $"b").as("native"), hofCos($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof") // exact double comparison, no epsilon
      .count()
    assert(diff == 0L, "native and HOF cosines must agree bitwise")
  }

  test("identical vectors score exactly 1.0; orthogonal score exactly 0.0") {
    val got = Seq(
      (Seq(3L, 4L, 0L), Seq(3L, 4L, 0L)),
      (Seq(1L, 0L, 0L), Seq(0L, 7L, 0L)))
      .toDF("a", "b")
      .select(longCosine($"a", $"b")).as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0))
  }

  test("resolves in SQL through the session extension") {
    val r = spark.sql("SELECT long_cosine(array(1L, 0L), array(1L, 0L)) AS c")
      .collect().head.getDouble(0)
    assert(r == 1.0)
  }
}
