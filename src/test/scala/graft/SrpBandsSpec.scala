package graft

import graft.functions.SrpBands
import graft.queries.Extensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native fused SRP expression must be bit-identical to the
  * built-in HOF construction it replaces (whose arithmetic the DuckDB
  * oracle replays with the same literal hyperplane matrix). */
class SrpBandsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches the HOF zip_with/aggregate construction on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val native = emb.select(col("vec_id"),
      SrpBands.srpBands(col("embedding")).as("bands"))
    val hof = emb
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")).as("qv"))
      .select(col("vec_id") +: Extensions.srpBandCols: _*)
      .select(col("vec_id"),
        array((0 until SrpBands.Bands).map(b => col(s"bv$b")): _*).as("bands"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("interpreted eval matches codegen (and both stay in 8-bit range)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = emb.select(SrpBands.srpBands(col("embedding")).as("bands"))
      .as[Seq[Long]].collect()
    assert(rows.nonEmpty)
    rows.foreach { bands =>
      assert(bands.length == SrpBands.Bands)
      bands.foreach(b => assert(b >= 0 && b <= 255, s"band byte $b"))
    }
    // interpreted path: evaluate the expression directly (no codegen)
    val e = SrpBands(org.apache.spark.sql.classic.GraftBridge.expression(
      col("embedding")))
    val first = emb.select(col("embedding")).as[Array[Float]].head()
    val viaEval = e.nullSafeEval(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(first))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(viaEval.toSeq == rows.head.toSeq ||
      rows.map(_.toSeq).contains(viaEval.toSeq))
  }

  test("off-dim vectors yield NULL (64-dim contract, not silent divergence)") {
    // the HOF baseline null-pads short vectors where the fused loop
    // would dot over the prefix — they agree only at exactly 64 dims,
    // so anything else must be NULL, not a divergent signature
    val df = Seq(
      (1L, Array.tabulate(64)(i => (math.sin(i) * 0.5).toFloat)),
      (2L, Array.tabulate(32)(i => (math.sin(i) * 0.5).toFloat)),
      (3L, Array.tabulate(80)(i => (math.sin(i) * 0.5).toFloat))
    ).toDF("id", "embedding")
    val got = df.select(col("id"), SrpBands.srpBands(col("embedding")).as("b"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("SQL registration: srp_bands resolves and agrees with the Column API") {
    Tables.embeddings(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("srp_emb")
    val viaSql = spark.sql(
      "SELECT vec_id, srp_bands(embedding) AS bands FROM srp_emb")
    val viaCol = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), SrpBands.srpBands(col("embedding")).as("bands"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }
}
