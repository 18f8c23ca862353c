package graft

import graft.functions.NfcNormalize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native NFC normalization ([[graft.functions.NfcNormalize]]):
  * canonical composition per UAX #15, zero-copy ASCII fast path,
  * null propagation, SQL registration. */
class NfcNormalizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def norm(s: String): String =
    Seq(Tuple1(s)).toDF("t")
      .select(NfcNormalize.nfcNormalize(col("t"))).as[String].collect().head

  test("decomposed sequences compose; composed and ASCII are identities") {
    assert(norm("café") == "café")
    assert(norm("Ångström") == "Ångström")
    assert(norm("déjà vu") == "déjà vu")
    assert(norm("plain ascii 123") == "plain ascii 123")
    assert(norm("") == "")
    // the composed/decomposed pair collapses to ONE content hash —
    // the dedup property the expression exists for
    val hashes = Seq(Tuple1("café"), Tuple1("café"))
      .toDF("t")
      .select(md5(NfcNormalize.nfcNormalize(col("t"))))
      .as[String].collect().toSet
    assert(hashes.size == 1)
  }

  test("nulls propagate; non-string input is rejected at analysis") {
    val got = Seq(Some("café"), None).toDF("t")
      .select(NfcNormalize.nfcNormalize(col("t"))).as[Option[String]]
      .collect().toSet
    assert(got == Set(Some("café"), None))
    val err = intercept[Exception](
      Seq(Tuple1(1L)).toDF("t")
        .select(NfcNormalize.nfcNormalize(col("t"))).collect())
    assert(err.getMessage.contains("expects string"), err.getMessage)
  }

  test("SQL registration resolves and agrees with the Column API") {
    Seq(Tuple1("Ångström")).toDF("t")
      .createOrReplaceTempView("nfc_t")
    val viaSql = spark.sql("SELECT nfc_normalize(t) FROM nfc_t")
      .as[String].collect().head
    assert(viaSql == "Ångström")
  }
}
