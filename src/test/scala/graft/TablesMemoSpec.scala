package graft

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The [[Tables]] schema memo: a repeated read of an unchanged table
  * starts no schema-inference job, and a rewritten table or other
  * parquet confs infer again. */
class TablesMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobsOf

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a second read of an unchanged table starts no Spark job") {
    val dir = tmpDir("memo")
    Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val (first, inferJobs) = jobsOf(Tables.documents(spark, dir))
    assert(inferJobs >= 1, "the first read infers the schema with a job")
    val (second, jobs) = jobsOf(Tables.documents(spark, dir))
    assert(jobs == 0, s"a memo hit must start no job; saw $jobs")
    assert(second.schema == first.schema)
    assert(second.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "alpha beta"), (2L, "gamma")))
  }

  test("a table rewritten at the same path with other columns " +
    "returns the new schema") {
    val dir = tmpDir("memo-rewrite")
    val p = s"$dir/documents.parquet"
    Seq((1L, "a b")).toDF("doc_id", "text").write.mode("overwrite").parquet(p)
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text"))
    Seq((2L, "c d", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(p)
    val again = Tables.documents(spark, dir)
    assert(again.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(again.as[(Long, String, String)].collect().toSeq ==
      Seq((2L, "c d", "en")))
  }

  test("changing an explicitly set parquet conf infers again") {
    // a footer without Spark's own schema, so that binaryAsString
    // decides the column's type
    val dir = tmpDir("memo-conf")
    val schema = MessageTypeParser.parseMessageType(
      "message raw { required binary b; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/raw.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    val conf = "spark.sql.parquet.binaryAsString"
    assert(!spark.conf.getOption(conf).contains("true"))
    def typeOfB = Tables.table(spark, dir, "raw").schema("b").dataType
    assert(typeOfB == BinaryType)
    try {
      spark.conf.set(conf, "true")
      val (t, jobs) = jobsOf(typeOfB)
      assert(jobs >= 1, "other parquet confs must infer again")
      assert(t == StringType)
    } finally spark.conf.unset(conf)
    val (t, jobs) = jobsOf(typeOfB)
    assert(t == BinaryType)
    assert(jobs == 0, "the entry for the original confs is still memoized")
  }
}
