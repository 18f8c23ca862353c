package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Table metadata read from parquet footers by the calling thread,
  * without a Spark job: a bare `spark.read.parquet` starts one to infer
  * the schema, and a `count()` starts one or two to learn a row count
  * the footers already hold. */
object Footers {

  /** The Spark schema of the first parquet part file under `dir`, in
    * sorted path order; None when `dir` holds none. This is Spark's own
    * inference for one file with `mergeSchema` off (the same footer
    * call and the session's parquet confs), without the job. */
  def schema(spark: SparkSession, dir: String): Option[StructType] =
    parts(spark, dir).headOption.map { f =>
      val converter = new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[ClassicSession].sessionState.conf)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, read(spark, f)(_.getFooter)), converter)
    }

  /** [[schema]] of the first of `dirs`, in the given order, that holds
    * a part file: what a store wrote, so that its reads can pass it. */
  def schemaOf(spark: SparkSession, dirs: Seq[String]): StructType =
    dirs.iterator.flatMap(schema(spark, _)).nextOption().getOrElse(
      throw new IllegalStateException(s"no parquet part file under ${dirs.mkString(", ")}"))

  /** Rows in the parquet part files under `path` (a file or a tree). */
  def rows(spark: SparkSession, path: String): Long =
    parts(spark, path).map(read(spark, _)(_.getRecordCount)).sum

  private def read[T](spark: SparkSession, f: FileStatus)(get: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration))
    try get(r) finally r.close()
  }

  /** Data files under `path`, sorted, skipping the hidden names Spark's
    * file index skips (`_SUCCESS`, `.crc`, `_temporary/`). */
  private def parts(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val top = fs.makeQualified(p).toString
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    while (it.hasNext) {
      val f = it.next()
      val names = f.getPath.toString.stripPrefix(top).split('/') :+ f.getPath.getName
      if (f.getPath.getName.endsWith(".parquet") &&
          !names.exists(n => n.startsWith("_") || n.startsWith(".")))
        out += f
    }
    out.toSeq.sortBy(_.getPath.toString)
  }
}
