package graft

import graft.functions.SpanHashes
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused native span-hash expression must be bit-identical to the
  * HOF transform/slice/array_join/md5/array_distinct composition it
  * replaces in x45/x51 (whose arithmetic the DuckDB oracles replay),
  * including the n < w guard and the conv-based winnow filter. */
class SpanHashesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The exact pre-native formulation from x45/x51. */
  private def hofSpans(w: Int, winnow: Int): Column = {
    val tk = split(col("text"), " ")
    val all = array_distinct(transform(
      sequence(lit(0), size(tk) - w),
      i => md5(array_join(slice(tk, i + 1, lit(w)), " "))))
    val sampled = if (winnow == 1) all
      else filter(all, h =>
        conv(substr(h, lit(1), lit(8)), 16, 10).cast("long") % winnow === 0)
    when(size(tk) >= w, sampled).otherwise(array().cast("array<string>"))
  }

  private def check(df: org.apache.spark.sql.DataFrame, w: Int, winnow: Int): Unit = {
    val native = df.select(col("text"),
      SpanHashes.spanHashes(col("text"), w, winnow).as("sh"))
    val hof = df.select(col("text"), hofSpans(w, winnow).as("sh"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
      s"mismatch at w=$w winnow=$winnow")
  }

  test("matches the HOF formulation on the real corpus (w=8 and w=4)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    check(docs, 8, 1)
    check(docs, 4, 1)
  }

  test("matches the HOF winnow filter on the real corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    check(docs, 8, 4)
    check(docs, 8, 16)
  }

  test("matches on edge fixtures (short docs, empties, multi-space, repeats)") {
    val rows = Seq(
      "",                                  // empty text -> [""], 1 < w
      "a b c",                             // n < w for w=4
      "a b c d",                           // exactly one window at w=4
      "a b c d e f",                       // overlapping windows
      "a a a a a a a a",                   // all windows identical -> dedup to 1
      "a  b c d e",                        // double space -> empty token
      " x y z w", "x y z w ",              // leading/trailing empties
      "p q r s p q r s p q r s"            // repeated region dedups
    ).toDF("text")
    for (w <- Seq(1, 2, 4); winnow <- Seq(1, 2, 7)) check(rows, w, winnow)
  }

  test("semantics: first-occurrence order, n<w empty, exact window count") {
    val one = Seq("a b c d e").toDF("text")
      .select(SpanHashes.spanHashes(col("text"), 2, 1).as("sh"))
      .as[Seq[String]].head()
    assert(one.length == 4)               // 5 tokens, w=2 -> 4 distinct windows
    assert(one.distinct == one)
    val short = Seq("a b").toDF("text")
      .select(SpanHashes.spanHashes(col("text"), 4, 1).as("sh"))
      .as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("SQL registration resolves and agrees with the Column API") {
    Tables.documents(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("sh_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, span_hashes(text, 8, 3) AS sh FROM sh_docs")
    val viaCol = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), SpanHashes.spanHashes(col("text"), 8, 3).as("sh"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("SQL args accept any foldable integral constant (8L, 4+4), reject others clearly") {
    Tables.documents(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("sh_docs2")
    val base = spark.sql(
      "SELECT doc_id, span_hashes(text, 8) AS sh FROM sh_docs2")
    // BIGINT literal and a foldable arithmetic expression both resolve
    val viaLong = spark.sql(
      "SELECT doc_id, span_hashes(text, 8L) AS sh FROM sh_docs2")
    val viaFold = spark.sql(
      "SELECT doc_id, span_hashes(text, 4 + 4) AS sh FROM sh_docs2")
    assert(viaLong.exceptAll(base).isEmpty && base.exceptAll(viaLong).isEmpty)
    assert(viaFold.exceptAll(base).isEmpty && base.exceptAll(viaFold).isEmpty)
    // a non-constant width fails at analysis with a message that says
    // WHY (not an arg-count complaint)
    val err = intercept[Exception](spark.sql(
      "SELECT span_hashes(text, doc_id) FROM sh_docs2").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("must be a constant")), s"got: $err")
  }
}
