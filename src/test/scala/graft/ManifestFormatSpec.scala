package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The on-disk manifest bytes of both generation stores, so a store
  * written by one version of the code reads back under another. */
class ManifestFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Sf = "/root/testdata/sf0.001"

  private def tempRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_manifest_$tag").toString

  private def manifest(root: String, v: Int): String =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(f"$root/_manifests/v$v%05d.txt"))

  test("RegistryStore: write + append commit v2 as header, classes and " +
    "one line per band in band order") {
    val arrs = Tables.documents(spark, Sf)
      .selectExpr("doc_id", "array_sort(array_distinct(split(text, ' '))) AS arr")
    val root = tempRoot("registry")
    RegistryStore.write(graft.queries.Extensions.classesOf(
      arrs.filter(col("doc_id") % 2 === 0)), root)
    RegistryStore.append(graft.queries.Extensions.classesOf(
      arrs.filter(col("doc_id") % 2 === 1)), root)
    val bands = (0 until graft.ops.Banding.NumBands).map(k => s"band $k 1 2\n")
    assert(manifest(root, 2) == "v2\nclasses 1 2\n" + bands.mkString)
  }

  test("AnnStore: build + append commit v2 as header, model and codes") {
    val v = Tables.embeddings(spark, Sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x * lit(1000)).cast("long")).as("qv"))
    val n = v.count()
    val root = tempRoot("ann")
    AnnStore.build(v.filter(col("vec_id") < n / 2), root)
    AnnStore.append(v.filter(col("vec_id") >= n / 2), root)
    assert(manifest(root, 2) == "v2\nmodel 1\ncodes 1 2\n")
  }
}
