package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every name [[GraftExtensions]] injects resolves in SQL on the shared
  * test session: [[Sessions.tune]] installs the extension through
  * `spark.sql.extensions`, the same route every harness session takes. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The names the live session resolves to a graft native. */
  private def injected: Set[String] =
    spark.catalog.listFunctions().collect()
      .filter(f => Option(f.className).exists(_.startsWith("graft.")))
      .map(_.name).toSet

  test("quantized_cosine resolves via builder.withExtensions") {
    val r = spark.sql(
      """SELECT quantized_cosine(array(CAST(0.5 AS FLOAT), CAST(0.25 AS FLOAT)),
                                 array(CAST(0.5 AS FLOAT), CAST(0.25 AS FLOAT))) AS c""")
      .collect().head.getDouble(0)
    assert(r == 1.0)
    val mh = spark.sql(
      "SELECT minhash_agg(h) AS mhs FROM VALUES (42L), (7L) AS t(h)")
      .collect().head.getSeq[Long](0)
    // min over h∈{42,7} of (h·1000003 + 12345) mod 2^32
    assert(mh.length == 16 && mh.head == 7L * 1000003L + 12345L)
    val srp = spark.sql(
      "SELECT srp_bands(array_repeat(CAST(0.5 AS FLOAT), 64)) AS b")
      .collect().head.getSeq[Long](0)
    // 8 band bytes in range; value pinned bit-identical to the HOF
    // construction by SrpBandsSpec — here just resolution + shape
    assert(srp.length == 8 && srp.forall(b => b >= 0 && b <= 255))
    val tb = spark.sql("SELECT token_bigrams('a b c') AS b")
      .collect().head.getSeq[String](0)
    assert(tb == Seq("a b", "b c"))
    val tm = spark.sql("SELECT token_mask('a b') AS m").collect().head.getLong(0)
    assert(java.lang.Long.bitCount(tm) <= 2 && tm != 0L)
    val tss = spark.sql("SELECT token_set_sig('b a a') AS s, md5('a b') AS e")
      .collect().head
    assert(tss.getString(0) == tss.getString(1),
      "token_set_sig = md5 of the sorted distinct token join")
    val sha = spark.sql("SELECT simhash_arr(array('x', 'y')) AS s")
      .collect().head
    assert(!sha.isNullAt(0))
    val mha = spark.sql("SELECT minhash_arr(array('tok'), 't:') AS m")
      .collect().head.getSeq[Long](0)
    assert(mha.length == 16)
    // the prefix participates in the hash family
    val mhaNoPfx = spark.sql("SELECT minhash_arr(array('tok')) AS m")
      .collect().head.getSeq[Long](0)
    assert(mhaNoPfx.length == 16 && mhaNoPfx != mha)
    val sp = spark.sql("SELECT span_hashes('a b c', 2) AS s, md5('a b') AS e")
      .collect().head
    assert(sp.getSeq[String](0).length == 2 &&
      sp.getSeq[String](0).head == sp.getString(1))
    val spw = spark.sql("SELECT span_hashes('a b c', 2, 1000000007) AS s")
      .collect().head.getSeq[String](0)
    assert(spw.isEmpty, "a huge winnow modulus filters everything")
    val gh = spark.sql(
      "SELECT gram_hashes('a b c', 2)[0].g AS g, md5('a b') AS e").collect().head
    assert(gh.getString(0) == gh.getString(1), "first 2-gram window = md5('a b')")
    // NFD "A" + combining ring composes to the single code point Å
    val nfc = spark.sql("SELECT nfc_normalize('A\u030A') AS n")
      .collect().head.getString(0)
    assert(nfc == "\u00C5")
    val lc = spark.sql(
      "SELECT long_cosine(array(3L, 4L), array(3L, 4L)) AS c")
      .collect().head.getDouble(0)
    assert(lc == 1.0)
    val fc = spark.sql(
      "SELECT freq_candidates(t) AS f FROM VALUES ('a'), ('a'), ('b') AS v(t)")
      .collect().head
    assert(!fc.isNullAt(0))
    val pq = spark.sql(
      """SELECT pq_encode(array(1L, 9L), array(0L, 8L), 2, 1, 1) AS c""")
      .collect().head.getSeq[Int](0)
    assert(pq == Seq(0, 0), "single codeword per subspace -> code 0")
    val adc = spark.sql(
      """SELECT pq_adc(array(1L, 9L), array(0, 0), array(0L, 8L),
                       2, 1, 1) AS d""")
      .collect().head.getLong(0)
    assert(adc == 2L, "(1-0)^2 + (9-8)^2")
    val zv = spark.sql("SELECT z_value(5L, 3L) AS z").collect().head.getLong(0)
    assert(zv == 27L, "interleave(101, 011) = 011011")
    // the calls above cover the whole injected surface, nothing more
    assert(injected == Set("quantized_cosine", "long_cosine", "minhash_agg",
      "freq_candidates", "srp_bands", "token_bigrams", "span_hashes",
      "gram_hashes", "nfc_normalize", "token_mask", "token_set_sig",
      "simhash_arr", "z_value", "minhash_arr", "pq_encode", "pq_adc"))
  }
}
