package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GramHashes

/** Pins the fused positional gram hasher against the HOF formulation
  * it replaced (`md5(concat_ws(' ', slice(split(text, ' '), i + 1,
  * n)))` per n, per start) — on the real corpus and on the edge
  * fixtures the tokenization contract calls out (consecutive /
  * trailing spaces, short docs, single n). */
class GramHashesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hof(nMin: Int, nMax: Int) = expr(
    s"""flatten(transform(sequence($nMin, $nMax), n ->
       |  CASE WHEN size(tk) >= n THEN
       |    transform(sequence(0, size(tk) - n), i ->
       |      struct(n AS n, i AS i,
       |        md5(concat_ws(' ', slice(tk, i + 1, n))) AS g))
       |  ELSE array() END))""".stripMargin)

  private def check(texts: Seq[String], nMin: Int, nMax: Int): Unit = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("tk", split(col("text"), " "))
      .withColumn("fused",
        GramHashes.gramHashes(col("text"), nMin, nMax))
      .withColumn("ref", hof(nMin, nMax))
    val bad = df.filter(col("fused") =!= col("ref")).count()
    assert(bad == 0L, s"fused != HOF on $bad docs for n=[$nMin,$nMax]")
  }

  test("bit-equal to the HOF formulation on the real corpus, n 2..10") {
    val texts = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").as[String].collect().toSeq
    check(texts, 2, 10)
    check(texts, 8, 8) // the scrub family's single-n form
  }

  test("edge fixtures: short docs, empty tokens, single token") {
    check(Seq("", "one", "one two", "a  b", " lead", "trail ",
      "a b c d e f g h i j k"), 1, 12)
  }

  test("SQL registration works with literal and foldable args") {
    val got = spark.sql(
      "SELECT size(gram_hashes('a b c', 2)) AS s2, " +
        "size(gram_hashes('a b c', 1, 3)) AS s13").head()
    assert(got.getInt(0) == 2)  // two 2-grams
    assert(got.getInt(1) == 6)  // 3 + 2 + 1
  }
}
