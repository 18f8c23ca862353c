package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import graft.{SparkEntry, Tables}

/** The workloads. Each is a list of [[Op]]s over the benchmark's own
  * copy of the sf0.01 tables (`perfbench/data`). */
object Workloads {

  /** Reference-operator gates: filter, tumbling window, interval join,
    * CEP, star join. With the keyed running-count stream twin they make
    * the `relational` workload, where fixed cost per query and per
    * micro-batch (planning, eager jobs, task launch, state-store
    * commits) dominates. */
  val Relational: Seq[String] = Seq(
    "q01_filter_project", "q05_tumbling_daily", "q08_interval_join",
    "q09_cep_pattern", "q15_star_join_agg")

  /** The media codec gate. With the store lifecycles (band-partitioned
    * writes of MinHash signatures and ANN codes, see [[Stores]]) it makes
    * the `corpus` workload, where shuffles, file commits and the native
    * codecs do the work. */
  val Corpus: Seq[String] = Seq("x37_media_decode")

  val Names: Seq[String] = Seq("relational", "corpus")

  def of(name: String, ctx: Ctx): Seq[Op] = name match {
    case "relational" => Relational.map(gate) :+ Streams.runningCounts(ctx)
    case "corpus" => Corpus.map(gate) ++ Seq(Stores.registry(ctx), Stores.ann(ctx))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Rows of one input table, from the parquet footers. */
  def tableRows(ctx: Ctx, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"${ctx.o.dataDir}/$table.parquet")
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try r.getRecordCount finally r.close()
  }

  /** Timed action of every batch op: produce every output row into
    * the `noop` sink (the action `graft.Bench` times). */
  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A gate of `SparkEntry`: the call builds the plan (its eager jobs
    * run here), the action evaluates it. */
  def gate(name: String): Op = {
    val fn = SparkEntry.queries(name)
    val sql = SparkEntry.oracleSql(name)
    Op(name,
      timed = c => {
        val df = c.phase(name, "build")(fn(c.spark, c.o.dataDir))
        c.phase(name, "action")(sink(df))
      },
      verify = c => {
        val path = s"${c.o.workDir}/verify/$name"
        val df = c.phase(name, "build")(fn(c.spark, c.o.dataDir))
        c.phase(name, "action")(
          df.coalesce(1).write.mode("overwrite").parquet(path))
        Verdict.Oracle(path, sql)
      })
  }

  /** Sorted string form of a result, for exact set comparison. */
  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  def same(what: String, got: Seq[String], want: Seq[String]): Verdict =
    if (got == want) Verdict.Ok
    else {
      val extra = got.diff(want).take(2); val missing = want.diff(got).take(2)
      Verdict.Fail(s"$what: ${got.size} rows vs ${want.size} expected; " +
        s"unexpected ${extra.mkString("[", "; ", "]")} " +
        s"missing ${missing.mkString("[", "; ", "]")}")
    }
}

/** Direct `RegistryStore` and `AnnStore` lifecycles. Each store's
  * base (the first half of the ids) is written once while the workload
  * is set up; every call then starts from an untimed copy of it,
  * appends the rest, compacts and reads back. The registry's rest is
  * split into [[Deltas]] deltas by a seeded hash and appended in a
  * seeded order; the ANN index takes its rest as one delta. */
object Stores {
  val Deltas = 2

  private def deltaOf(seed: Long) =
    pmod(xxhash64(col("doc_id"), lit(seed)), lit(Deltas))

  /** Files and bytes under a store root. */
  private def footprint(root: String): (Long, Long) = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
    finally s.close()
  }

  /** A copy of the store at `base` under a fresh root. */
  private def copyOf(c: Ctx, base: String, tag: String): String = {
    val root = Paths.get(c.scratch(tag))
    val src = Paths.get(base)
    val walk = Files.walk(src)
    try walk.iterator.asScala.foreach { p =>
      val q = root.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
    root.toString
  }

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Records a finished lifecycle's call times and its store's footprint
    * per byte of the input table. */
  private def recordCalls(c: Ctx, store: String, root: String, table: String,
                          calls: (String, Double)*): Unit = {
    val (files, bytes) = footprint(root)
    calls.foreach { case (k, v) => c.report.record(s"$store.$k", v) }
    c.report.record(s"$store.files", files.toDouble)
    c.report.record(s"$store.bytes_per_input_byte",
      bytes.toDouble / Files.size(Paths.get(s"${c.o.dataDir}/$table.parquet")))
  }

  /** append(deltas) → readBands probe → compact → readClasses, over
    * `classesOf` of the documents' token sets. */
  def registry(ctx: Ctx): Op = {
    import graft.RegistryStore
    import graft.queries.Extensions.classesOf
    val name = "registry_lifecycle"
    val n = Workloads.tableRows(ctx, "documents")
    def arrs(s: SparkSession) = Tables.documents(s, ctx.o.dataDir)
      .select(col("doc_id"), graft.ops.Cols.tokenSet(col("text")).as("arr"))
    val base = ctx.scratch("registry-base")
    ctx.report.record("registry.write_s",
      secs(RegistryStore.write(classesOf(arrs(ctx.spark).filter(col("doc_id") < n / 2)), base)))
    var root = ""
    def lifecycle(c: Ctx): Unit = {
      val rest = arrs(c.spark).filter(col("doc_id") >= n / 2)
      val order = Stats.shuffled(0 until Deltas, c.o.seed, 0)
      val ta = order.map { d => secs(RegistryStore.append(
        classesOf(rest.filter(deltaOf(c.o.seed) === d)), root)) }.sum
      val tp = secs(Workloads.sink(
        RegistryStore.readBands(c.spark, root).filter(col("band") === 0)))
      val tc = secs(RegistryStore.compact(c.spark, root))
      val tr = secs(Workloads.sink(RegistryStore.readClasses(c.spark, root)))
      if (c.timing) recordCalls(c, "registry", root, "documents",
        "append_s" -> ta, "compact_s" -> tc, "read_s" -> (tp + tr))
    }
    Op(name,
      prepare = c => root = copyOf(c, base, "registry"),
      timed = c => c.phase(name, "action")(lifecycle(c)),
      verify = c => c.phase(name, "verify") {
        lifecycle(c)
        val fresh = c.scratch("registry")
        RegistryStore.write(classesOf(arrs(c.spark)), fresh)
        Workloads.same("registry read-back vs fresh write of the union",
          Workloads.rowsOf(RegistryStore.readClasses(c.spark, root)),
          Workloads.rowsOf(RegistryStore.readClasses(c.spark, fresh)))
      })
  }

  /** append(rest) → compact → readCodes, over the embeddings quantized
    * as in x99. The check compares the read-back before and after the
    * compaction: a build of the union would train another model. */
  def ann(ctx: Ctx): Op = {
    import graft.AnnStore
    import org.apache.spark.sql.functions.{floor, transform}
    val name = "ann_lifecycle"
    val n = Workloads.tableRows(ctx, "embeddings")
    def qv(s: SparkSession) = Tables.embeddings(s, ctx.o.dataDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x * lit(1000)).cast("long")).as("qv"))
    val base = ctx.scratch("ann-base")
    ctx.report.record("ann.build_s",
      secs(AnnStore.build(qv(ctx.spark).filter(col("vec_id") < n / 2), base)))
    var root = ""
    def codes(c: Ctx) = Workloads.rowsOf(AnnStore.readCodes(c.spark, root)
      .select(col("vec_id"), col("cid").cast("int"), col("codes")))
    def lifecycle(c: Ctx, check: Boolean): Verdict = {
      val ta = secs(AnnStore.append(qv(c.spark).filter(col("vec_id") >= n / 2), root))
      // appending encodes per row against the frozen model, and
      // compaction must not change what a read returns
      val appended = if (check) codes(c) else Nil
      val tc = secs(AnnStore.compact(c.spark, root))
      val tr = secs(Workloads.sink(AnnStore.readCodes(c.spark, root)))
      if (check) {
        val after = codes(c)
        val ids = Workloads.rowsOf(Tables.embeddings(c.spark, c.o.dataDir).select(col("vec_id")))
        Seq(Workloads.same("ann ids vs the embeddings", after.map(_.takeWhile(_ != '|')).sorted, ids),
          Workloads.same("ann read-back after compact vs before", after, appended))
          .find(_ != Verdict.Ok).getOrElse(Verdict.Ok)
      } else {
        if (c.timing) recordCalls(c, "ann", root, "embeddings",
          "append_s" -> ta, "compact_s" -> tc, "read_s" -> tr)
        Verdict.Ok
      }
    }
    Op(name,
      prepare = c => root = copyOf(c, base, "ann"),
      timed = c => c.phase(name, "action")(lifecycle(c, check = false)),
      verify = c => c.phase(name, "verify")(lifecycle(c, check = true)))
  }
}
