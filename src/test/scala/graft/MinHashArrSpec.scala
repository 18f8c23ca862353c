package graft

import graft.functions.MinHashArr
import graft.ops.{Banding, Cols}
import graft.queries.Extensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-row fused minhash must produce the IDENTICAL band table as
  * the explode → md5 → MinHashAgg aggregate path it replaces. */
class MinHashArrSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("band tables agree with the aggregate path on real token sets") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(200)
    val viaAgg = BandingRef.bandTable(
      docs.select(col("doc_id").as("rep"),
        explode(Cols.tokenSet(col("text"))).as("tok")), "t:")
    val viaArr = Banding.bandTableArr(
      docs.select(col("doc_id").as("rep"),
        Cols.tokenSet(col("text")).as("arr")), "t:")
    assert(viaArr.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaArr).isEmpty)
  }

  test("band tables agree on bigram shingles incl. empty-shingle drop-out") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "single"),          // no bigrams: absent from BOTH tables
      (3L, "x y x y")
    ).toDF("rep", "text")
    val withBgs = docs.select(col("rep"), Extensions.bigramsExpr.as("bgs"))
    val viaAgg = BandingRef.bandTable(
      withBgs.select(col("rep"), explode(col("bgs")).as("tok")), "b:")
    val viaArr = Banding.bandTableArr(
      withBgs.select(col("rep"), col("bgs").as("arr")), "b:")
    assert(viaArr.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaArr).isEmpty)
    assert(!viaArr.select("rep").as[Long].collect().contains(2L))
  }

  test("null elements are skipped; empty/all-null arrays yield NULL") {
    // SQL-callable on arbitrary array<string>: a null element must not
    // NPE, and an array with no usable element must take the same
    // NULL path as an empty one (a degenerate MaxValue minima vector
    // would band-join every such doc with every other)
    val df = Seq(
      (1L, Seq[String]("a", "b", "c")),
      (2L, Seq[String]("a", null, "b", null, "c")),
      (3L, Seq[String](null, null)),
      (4L, Seq.empty[String])
    ).toDF("id", "arr")
    val got = df.select(col("id"),
      MinHashArr.minhashArr(col("arr"), "t:").as("mhs"),
      graft.functions.SimHashArr.simhashArr(col("arr")).as("sh"))
      .collect().map(r => r.getLong(0) -> ((r.isNullAt(1), r.isNullAt(2)))).toMap
    assert(got(2L) == (false, false), "null elements skipped, not fatal")
    assert(got(3L) == (true, true), "all-null == empty == NULL")
    assert(got(4L) == (true, true))
    // skipping nulls == removing them first
    val clean = df.filter(col("id") === 1).select(
      MinHashArr.minhashArr(col("arr"), "t:")).collect()(0)
    val dirty = df.filter(col("id") === 2).select(
      MinHashArr.minhashArr(col("arr"), "t:")).collect()(0)
    assert(clean == dirty)
  }

  test("per-row expression matches the streaming HOF construction") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val viaHof = docs
      .withColumn("hs", Extensions.baseHashes(col("text"), "t:"))
      .select(col("doc_id"), Extensions.minhashOf(col("hs")).as("mhs"))
    val viaArr = docs.select(col("doc_id"),
      MinHashArr.minhashArr(Cols.tokenSet(col("text")), "t:").as("mhs"))
    val a = viaHof.as[(Long, Seq[Long])].collect().toMap
    val b = viaArr.as[(Long, Seq[Long])].collect().toMap
    assert(a == b)
  }
}
