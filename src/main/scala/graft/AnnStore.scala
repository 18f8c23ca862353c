package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** At-rest storage for the IVF-PQ index (x80's serving structure) —
  * the [[RegistryStore]] discipline applied to the vector side of the
  * daily-crawl story. The dedup registry already had the incremental
  * path (x86 probe, x95 append/compact); this closes the matching gap
  * for the ANN index: a vector index that needs a nightly full
  * re-train/re-encode is the first thing a serving user hits at
  * 100 TB, and APPEND is cheap precisely because encoding against a
  * FROZEN model is a stateless per-row projection
  * ([[graft.queries.Extensions.ivfPqAssign]] /
  * `ivfPqEncodeDf` — the same per-row path
  * `DocStreams.ivfPqEncodeStream` runs at ingest).
  *
  * Layout under one root (generation dirs + an atomic manifest
  * pointer; every mutation is CRASH-SAFE and readers see exactly
  * old-or-new, never a partial — the [[Generations]] protocol):
  *  - the versioned manifests; the highest version is live. Lines:
  *    `model G` (the generation holding the FROZEN one-row model:
  *    coarse centroids cmodel/cflat + residual codebook rmodel/rflat)
  *    and `codes G1 G2 …` (the LSM levels of encoded index rows).
  *  - `<root>/model_g<NNNNN>`: the one-row model parquet.
  *  - `<root>/codes_g<NNNNN>/cid=K/`: index rows (vec_id, codes)
  *    PARTITIONED BY the coarse cell — a probe's scan touches exactly
  *    its probed cells' directories per generation (Spark partition
  *    pruning, proven from the physical scan in AnnStoreSpec), which
  *    is the IVF storage argument: at 100 TB a query reads
  *    nprobe/cells ≈ 1/√cells of each generation, never the table.
  *
  * Append lemma (the x95 shape, AnnStoreSpec + the x99 gate pin it):
  * because encoding is per-row against the frozen model,
  *   readCodes(build(hist) then append(delta))
  *     ≡ encode(hist ∪ delta | model(hist))
  * — generation order is immaterial and history is never rewritten.
  * What an append CANNOT fix is model drift: the frozen centroids/
  * codebook were trained on history, so as the appended distribution
  * drifts, recall decays vs a full re-train. That is a MEASURED gate,
  * not an assumption — AnnStoreSpec's drift audit compares recall@5
  * of the appended index against a full rebuild on the union
  * (the x83 audit shape) and pins the in-distribution case; re-train
  * when the audit says so, not nightly.
  *
  * Reads start no schema-inference job: the model and codes reads
  * pass the schema of the first generation, in manifest order, that
  * holds a part file ([[Footers]]), the codes with the `cid` partition
  * column appended as IntegerType. The store declares `cid` itself
  * because an empty append leaves a codes generation without part
  * files, which neither inference nor a data-only schema can resolve.
  *
  * Writer concurrency, commit protocol, reaping: [[Generations]]
  * (single-writer scheduler; losers lose loudly; append retries
  * reference the already-staged generation; compact retries carry
  * concurrently-appended deltas, as [[RegistryStore.compact]]'s do). */
object AnnStore {

  /** Lines: `model G` (the one model generation) and `codes G1 G2 …`. */
  private[graft] case class Manifest(version: Int, model: Int,
                                     codes: Seq[Int])
      extends Generations.Manifest {
    def lines: Seq[String] = Seq(s"model $model", codes.mkString("codes ", " ", ""))
    def refs: Map[String, Seq[Int]] = Map("model" -> Seq(model), "codes" -> codes)
  }

  private val Gens = new Generations[Manifest](Seq("model", "codes"), { (v, lines) =>
    var model = -1
    var codes = Seq.empty[Int]
    lines.foreach {
      case "model" +: g +: _ => model = g.toInt
      case "codes" +: gens => codes = gens.map(_.toInt)
      case _ => // version header / unknown line: ignore
    }
    require(model >= 0, s"manifest v$v names no model generation")
    Manifest(v, model, codes)
  })

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def modelDir(root: String, g: Int): String = Gens.dir(root, "model", g)
  private def codesDir(root: String, g: Int): String = Gens.dir(root, "codes", g)

  private[graft] def currentManifest(spark: SparkSession,
                                     root: String): Manifest =
    Gens.current(fsOf(spark, root), root)

  // ------------------------------------------------------------- writes
  /** Build (or fully REBUILD) the index at `root` from (vec_id, qv)
    * rows: train the coarse centroids and residual codebook on `v`
    * (one deterministic Lloyd round each — x80's construction),
    * encode every row, stage model + codes into fresh generations,
    * go live in ONE atomic manifest commit. Over an existing store
    * the prior contents stay fully live until the commit and are
    * reaped under the retention window — the RegistryStore.write
    * contract. This is the EXPENSIVE path (two corpus passes to
    * train + one to encode); the daily delta takes [[append]]. */
  def build(v: DataFrame, root: String): Unit = {
    val spark = v.sparkSession
    val fs = fsOf(spark, root)
    val prior = Gens.versions(fs, root).lastOption
    val E = graft.queries.Extensions
    // the Lloyd seeding convention needs a dense 0..max(√n,k)−1 id
    // prefix — on anything else the trained codebook corrupts
    // silently (see the guard's scaladoc); fail loudly instead
    E.ivfPqRequireDenseSeedPrefix(v)
    val g = Cached.scope {
      val cents = Cached.fill(E.ivfPqCentModel(v))
      // assignment deliberately unpersisted: a stateless per-row native
      // encode over the (caller-persisted) input, cheaper to recompute
      // than to cache (round-15 A/B, OPTIMIZATION_r15.md §5;
      // LifecycleAbProbe in cdc5c1f, since deleted — caching the wide
      // assignment output measured slower than re-encoding)
      val assigned = E.ivfPqAssign(v, cents)
      val rcb = Cached.fill(E.ivfPqCodebook(assigned))
      val g = Gens.nextGen(fs, root)
      cents.crossJoin(rcb).write.parquet(modelDir(root, g))
      E.ivfPqEncodeDf(assigned, rcb)
        .select(col("vec_id"), col("codes"), col("cid"))
        .write.partitionBy("cid").parquet(codesDir(root, g))
      g
    }
    Gens.commit(fs, root, Manifest(prior.getOrElse(0) + 1, g, Seq(g)))
    if (prior.nonEmpty) Gens.reap(fs, root)
  }

  /** Append a delta of (vec_id, qv) rows to the live index: encode
    * PER ROW against the FROZEN model (coarse assign + residual PQ —
    * a stateless projection over the broadcast model row; no
    * re-training, no history rescan, cost ∝ delta), stage into a
    * fresh codes generation, commit with collision retry (the
    * [[Generations.commitRetrying]] loop: staged data is never
    * rewritten; a re-read manifest already referencing the staged
    * generation stops the retry). */
  def append(delta: DataFrame, root: String, maxAttempts: Int = 5): Unit =
    appendImpl(delta, root, maxAttempts, () => ())

  /** Test seam: `beforeCommit` runs before each commit attempt. */
  private[graft] def appendImpl(delta: DataFrame, root: String,
      maxAttempts: Int, beforeCommit: () => Unit): Unit = {
    val spark = delta.sparkSession
    val fs = fsOf(spark, root)
    val E = graft.queries.Extensions
    val model = readModel(spark, root)
    val assigned = E.ivfPqAssign(delta,
      model.select(col("cmodel"), col("cflat")))
    val g = Gens.nextGen(fs, root)
    E.ivfPqEncodeDf(assigned, model.select(col("rmodel"), col("rflat")))
      .select(col("vec_id"), col("codes"), col("cid"))
      .write.partitionBy("cid").parquet(codesDir(root, g))
    Gens.commitRetrying(fs, root, maxAttempts, beforeCommit) { m =>
      if (m.codes.contains(g)) None
      else Some(Manifest(m.version + 1, m.model, m.codes :+ g))
    }
  }

  // -------------------------------------------------------------- reads
  /** The frozen one-row model (cmodel, cflat, rmodel, rflat) of the
    * live manifest. */
  def readModel(spark: SparkSession, root: String): DataFrame = {
    val dir = modelDir(root, currentManifest(spark, root).model)
    spark.read.schema(Footers.schemaOf(spark, Seq(dir))).parquet(dir)
  }

  /** The merged index view (vec_id, codes, cid) across the appended
    * generations. Filter on `cid` BEFORE joining probes: the filter
    * is a partition predicate on every generation's scan
    * (AnnStoreSpec proves the pruning from the physical plan). */
  def readCodes(spark: SparkSession, root: String): DataFrame =
    codesOf(spark, root, currentManifest(spark, root))

  /** The codes generations of `m`, each read with the schema of the
    * first one that holds a part file plus the `cid` partition column:
    * a generation an empty append left without files reads as empty. */
  private def codesOf(spark: SparkSession, root: String, m: Manifest): DataFrame = {
    val dirs = m.codes.map(codesDir(root, _))
    val schema = Footers.schemaOf(spark, dirs).add("cid", IntegerType)
    dirs.map(spark.read.schema(schema).parquet(_)).reduce(_ unionByName _)
  }

  /** Fold the accumulated codes generations into one (model carried
    * by reference — compaction never re-trains or re-encodes), with
    * the [[RegistryStore]] compactor's commit-collision retry: a
    * concurrent append's delta is carried by reference into the
    * committed manifest and folds next time; a foreign compact fails
    * loudly. */
  def compact(spark: SparkSession, root: String, reap: Boolean = true,
              maxAttempts: Int = 5): Unit =
    compactImpl(spark, root, reap, maxAttempts, () => ())

  private[graft] def compactImpl(spark: SparkSession, root: String,
      reap: Boolean, maxAttempts: Int, beforeCommit: () => Unit): Unit = {
    val fs = fsOf(spark, root)
    val m = Gens.current(fs, root)
    val g = Gens.nextGen(fs, root)
    // snapshot-consistent fold of exactly the generations we saw
    codesOf(spark, root, m)
      .select(col("vec_id"), col("codes"), col("cid"))
      .write.partitionBy("cid").parquet(codesDir(root, g))
    Gens.commitRetrying(fs, root, maxAttempts, beforeCommit) { live =>
      if (!live.codes.startsWith(m.codes) || live.codes.contains(g) ||
          live.model != m.model)
        throw new IllegalStateException(
          s"concurrent compaction/rebuild detected under $root: live " +
          s"$live does not extend snapshot $m")
      Some(Manifest(live.version + 1, m.model, g +: live.codes.drop(m.codes.length)))
    }
    if (reap) Gens.reap(fs, root)
  }
}
