package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Footers]]: the schema the stores pin their reads to is the one
  * Spark's inference returns, and the footer row counts the codec
  * gates size their tasks from are the tables' `count()`. */
class FootersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.jobsOf

  private val Sf = s"${sys.props("user.home")}/testdata/sf0.001"
  private val E = graft.queries.Extensions

  private def tempRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_footers_$tag").toString

  /** The generation dirs of one kind under a store root, in order. */
  private def gens(root: String, kind: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq.map(_.getName)
      .filter(_.startsWith(s"${kind}_g")).sorted.map(n => s"$root/$n")

  /** `t` with every nullability flag set: a parquet read makes every
    * column nullable, while a footer keeps what the writer declared. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, nullable(f.dataType))))
    case a: ArrayType => ArrayType(nullable(a.elementType))
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType))
    case other => other
  }

  /** The footer schema of `dir`, plus the partition column if any,
    * against what Spark infers for `dir`: the schema itself, up to
    * nullability, and exactly the schema of a read that passes it. */
  private def assertSameAsInferred(dir: String, part: Option[String]): StructType = {
    val footer = Footers.schema(spark, dir).getOrElse(fail(s"no part file under $dir"))
    val pinned = part.fold(footer)(footer.add(_, IntegerType))
    val inferred = spark.read.parquet(dir).schema
    assert(nullable(pinned) == inferred, s"$dir: footer $pinned vs inferred $inferred")
    assert(spark.read.schema(pinned).parquet(dir).schema == inferred)
    pinned
  }

  private def docArrs = Tables.documents(spark, Sf)
    .selectExpr("doc_id", "array_sort(array_distinct(split(text, ' '))) AS arr")

  test("registry classes (min_id long and int) and bands: the footer " +
    "schema is the inferred one") {
    for (minId <- Seq(LongType, IntegerType)) {
      val root = tempRoot(s"registry_$minId")
      RegistryStore.write(E.classesOf(docArrs)
        .withColumn("min_id", col("min_id").cast(minId)), root)
      val classes = assertSameAsInferred(gens(root, "classes").head, None)
      assert(classes("min_id").dataType == minId)
      assert(RegistryStore.readClasses(spark, root).schema("min_id").dataType == minId)
      assertSameAsInferred(gens(root, "bands").head, Some("band"))
    }
  }

  test("ann model and codes: the footer schema is the inferred one") {
    val root = tempRoot("ann")
    AnnStore.build(Tables.embeddings(spark, Sf).select(col("vec_id"),
      transform(col("embedding"), x => floor(x * lit(1000)).cast("long")).as("qv")), root)
    assertSameAsInferred(gens(root, "model").head, None)
    assertSameAsInferred(gens(root, "codes").head, Some("cid"))
  }

  test("Tables.rows is count() for every sf0.001 table, and starts no job") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")) {
      val (n, jobs) = jobsOf(Tables.rows(spark, Sf, t))
      assert(jobs == 0, s"$t: $jobs jobs")
      assert(n == Tables.table(spark, Sf, t).count(), t)
    }
  }

  test("Footers.rows sums the part files of a directory and is 0 " +
    "where there is none") {
    val dir = tempRoot("rows")
    spark.range(0, 1000, 1, 3).write.mode("overwrite").parquet(s"$dir/t")
    assert(Footers.rows(spark, s"$dir/t") == 1000L)
    assert(Footers.rows(spark, s"$dir/missing") == 0L)
    assert(Footers.schema(spark, s"$dir/missing").isEmpty)
  }

  test("the codec gates size their tasks without a job: building x37 or " +
    "x64 starts none, nor does a second build of x90 or x91 in one scope") {
    Tables.documents(spark, Sf) // the schema memo is warm
    for (gate <- Seq("x37_media_decode", "x64_audio_decode", "x90_image_phash",
        "x91_audio_fingerprint")) Cached.scope {
      val build: () => DataFrame = () => SparkEntry.queries(gate)(spark, Sf)
      val (_, first) = jobsOf(build()) // fills the gate's own caches, if any
      if (gate == "x37_media_decode" || gate == "x64_audio_decode")
        assert(first == 0, s"$gate: $first jobs")
      val (_, jobs) = jobsOf(build())
      assert(jobs == 0, s"$gate: $jobs jobs")
    }
  }
}
