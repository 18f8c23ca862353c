package graft

import org.apache.spark.sql.SparkSession

/** Session configuration shared by Verify, Bench, PlanDump, StreamingBench
  * and the tests.
  *
  * These mirror what a production deployment would set cluster-wide:
  * UTC session time (oracle + Flink-epoch window parity), AQE on
  * (runtime re-planning, skew-join splitting at scale), and
  * microsecond parquet output. `nanosAsLong` is required to read the
  * driver's `events.parquet` (TIMESTAMP_NS) at all — see
  * [[Tables.events]].
  *
  * `file:` is bound, for both the `FileSystem` API and FileContext, to
  * [[graft.fs.NioLocalFileSystem]] and [[graft.fs.NioLocalFs]]: Hadoop's
  * checksummed local filesystem with permissions and statuses done
  * through `java.nio` instead of a forked `chmod`/`ls`/`readlink` per
  * file. That reaches every offset and commit log, state-store file,
  * parquet write and commit, and file listing. Hadoop caches `file:`
  * JVM-wide on first use, so a process must not fetch it before its
  * first session is built.
  */
object Sessions {

  /** State-store providers selectable via `SPARK_GRAFT_STATE_STORE`
    * (`hdfs` | `rocksdb`). The default HDFS-backed store keeps every
    * partition's state on the executor heap — fine until per-partition
    * state outgrows memory; RocksDB spills to local disk with bounded
    * heap, the scale path for large keyed state (big dedup horizons,
    * wide session maps). Both ship with Spark; flipping the flag
    * changes no query code. */
  val stateStoreProviders: Map[String, String] = Map(
    "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The local-mode session: [[tune]]d, `local[cores]` with as many
    * shuffle partitions as cores, no UI, WARN logging. */
  def local(cores: Int = Sessions.cores): SparkSession = {
    val spark = tune(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def tune(b: SparkSession.Builder): SparkSession.Builder = {
    val base = b
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.fs.NioLocalFs].getName)
    sys.env.get("SPARK_GRAFT_STATE_STORE")
      .flatMap(f => stateStoreProviders.get(f.toLowerCase))
      .fold(base)(cls =>
        base.config("spark.sql.streaming.stateStore.providerClass", cls))
  }
}
