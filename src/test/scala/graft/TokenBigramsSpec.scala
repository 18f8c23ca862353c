package graft

import graft.functions.TokenBigrams
import graft.queries.Extensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused native bigram expression must be bit-identical to the
  * HOF slice/zip_with/array_distinct composition it replaces (whose
  * arithmetic the DuckDB oracles replay as a list comprehension). */
class TokenBigramsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches bigramsExpr on the real corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val native = docs.select(col("doc_id"),
      TokenBigrams.tokenBigrams(col("text")).as("bgs"))
    val hof = docs.select(col("doc_id"), Extensions.bigramsHofExpr.as("bgs"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("matches bigramsExpr on edge fixtures (empties, repeats, multi-space)") {
    val rows = Seq(
      "",                       // empty text
      "one",                    // single token -> no bigrams
      "a b",                    // one bigram
      "a b a b a b",            // repeats dedup to first occurrence order
      "a  b",                   // double space -> empty middle token
      " lead", "trail ",        // leading/trailing space -> empty tokens
      "x y z x y"               // overlap + repeat
    ).toDF("text")
    val native = rows.select(col("text"),
      TokenBigrams.tokenBigrams(col("text")).as("bgs"))
      .as[(String, Seq[String])].collect().toMap
    val hof = rows.select(col("text"), Extensions.bigramsHofExpr.as("bgs"))
      .as[(String, Seq[String])].collect().toMap
    assert(native == hof, s"native=$native hof=$hof")
    // spot semantics: order is first occurrence, repeats collapsed
    assert(native("a b a b a b") == Seq("a b", "b a"))
    assert(native("one") == Seq.empty)
  }

  test("SQL registration resolves and agrees with the Column API") {
    Tables.documents(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("tb_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, token_bigrams(text) AS bgs FROM tb_docs")
    val viaCol = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), TokenBigrams.tokenBigrams(col("text")).as("bgs"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }
}
