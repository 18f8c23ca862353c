package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table readers over a driver testdata directory
  * (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * All readers are `spark.read.parquet` scans so Catalyst keeps full
  * pushdown / pruning freedom; callers `select` only what they need
  * and the scan's ReadSchema shrinks accordingly. At cluster scale the
  * same call works on a directory of many files — nothing here
  * assumes a single-file layout.
  *
  * A bare `spark.read.parquet` starts a Spark job to infer the schema
  * from the footers on every call. [[table]] instead passes the schema
  * it inferred for the same table before (`spark.read.schema(s)`), so
  * only the first read of an unchanged table pays that job. The memo
  * is JVM-wide, one entry per (qualified path, the session's
  * explicitly set `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
  * confs), and an entry is used only while the recursive leaf listing
  * under the path — every file's name, length and mtime — is the one
  * it was inferred from. That makes a hit return what inference would:
  * the schema is a function of the footers (the files) and of the
  * parquet confs that shape the mapping (`nanosAsLong`,
  * `binaryAsString`, `inferTimestampNTZ`, ...). A table rewritten at
  * the same path gets new part-file names, so it infers again; so does
  * a session with other parquet settings. The listing is taken before
  * the inference, so a table rewritten during it is stored under a
  * listing that no later read sees.
  *
  * The memo serves tables that stay put. The generation stores
  * ([[RegistryStore]], [[AnnStore]]) read freshly written generations
  * on every call, so they pass the schema their own footers hold
  * ([[Footers]]) instead. [[rows]] likewise answers a table's row count
  * from its footers, without the jobs of a `count()`.
  */
object Tables {
  private final case class Inferred(leaves: Seq[(String, Long, Long)],
      schema: StructType)

  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), Inferred]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = (fs.makeQualified(path).toString,
      spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") })
    val leaves = try {
      val it = fs.listFiles(path, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result().sorted
    } catch {
      // a missing table fails with Spark's own error, as before
      case _: java.io.FileNotFoundException => return spark.read.parquet(p)
    }
    Option(schemas.get(key)).filter(_.leaves == leaves) match {
      case Some(hit) => spark.read.schema(hit.schema).parquet(p)
      case None =>
        // infer outside any map lock: the inference is a Spark job
        val df = spark.read.parquet(p)
        schemas.put(key, Inferred(leaves, df.schema))
        df
    }
  }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. With `spark.sql.legacy.parquet.nanosAsLong=true`
    * (set by [[Sessions.tune]]) it arrives as a LongType of
    * nanoseconds; convert to a microsecond TIMESTAMP by integer
    * division — the same floor-truncation DuckDB applies when it reads
    * TIMESTAMP_NS, so both engines see identical values.
    */
  private def normalizeTs(df: DataFrame, colName: String): DataFrame =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` (integer division), NOT `/`: Column./ is double
        // division, and nanosecond epochs exceed 2^53 — the round-trip
        // through double perturbs microseconds by ±1
        df.withColumn(colName,
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(s"$colName div 1000")))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"), "ts")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Rows of table `name`, summed from its parquet footers: the number
    * a `count()` of the table returns, without its job. */
  def rows(s: SparkSession, d: String, name: String): Long =
    Footers.rows(s, s"$d/$name.parquet")
}
