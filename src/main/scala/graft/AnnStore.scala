package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * old-or-new, never a partial — the [[RegistryStore]] protocol):
  *  - `<root>/_manifests/v<NNNNN>.txt`: versioned manifests; the
  *    highest version is live. Lines: `model G` (the generation
  *    holding the FROZEN one-row model: coarse centroids cmodel/cflat
  *    + residual codebook rmodel/rflat) and `codes G1 G2 …` (the LSM
  *    levels of encoded index rows).
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
  * Writer concurrency, commit protocol, reaping: exactly
  * [[RegistryStore]]'s (single-writer scheduler; losers lose loudly;
  * append retries reference the already-staged generation; compact
  * retries carry concurrently-appended deltas; readers keep their
  * snapshot for [[ReapKeepVersions]] commits). */
object AnnStore {

  private val ReapKeepVersions = 2

  private[graft] case class Manifest(version: Int, model: Int,
                                     codes: Seq[Int])

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def modelDir(root: String, g: Int): String = f"$root/model_g$g%05d"
  private def codesDir(root: String, g: Int): String = f"$root/codes_g$g%05d"

  // ---------------------------------------------------------- manifest io
  private def manifestDir(root: String) = new Path(s"$root/_manifests")

  private def manifestVersions(fs: FileSystem, root: String): Seq[Int] = {
    val dir = manifestDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .flatMap(n => n.stripPrefix("v").stripSuffix(".txt").toIntOption)
      .sorted
  }

  private[graft] def currentManifest(spark: SparkSession,
                                     root: String): Manifest = {
    val fs = fsOf(spark, root)
    val v = manifestVersions(fs, root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed manifest under $root"))
    readManifest(fs, root, v)
  }

  private def readManifest(fs: FileSystem, root: String, v: Int): Manifest = {
    val in = fs.open(new Path(manifestDir(root), f"v$v%05d.txt"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    var model = -1
    var codes = Seq.empty[Int]
    text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
      line.split("\\s+").toSeq match {
        case "model" +: g +: _ => model = g.toInt
        case "codes" +: gens => codes = gens.map(_.toInt)
        case _ => // version header / unknown line: ignore
      }
    }
    require(model >= 0, s"manifest v$v under $root names no model generation")
    Manifest(v, model, codes)
  }

  /** Atomic commit: body to a PER-ATTEMPT tmp (nonce suffix — see
    * [[RegistryStore.commitManifestImpl]]'s race note), ONE rename to
    * the fresh final name; rename-to-existing loses loudly. */
  private[graft] def commitManifest(fs: FileSystem, root: String,
                                    m: Manifest): Unit = {
    val dir = manifestDir(root)
    fs.mkdirs(dir)
    val body = s"v${m.version}\nmodel ${m.model}\n" +
      m.codes.mkString("codes ", " ", "\n")
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val tmp = new Path(dir, f".tmp_v${m.version}%05d_$nonce")
    val out = fs.create(tmp, false)
    try {
      out.write(body.getBytes("UTF-8"))
      try out.hsync() catch { case _: UnsupportedOperationException => () }
    } finally out.close()
    val fin = new Path(dir, f"v${m.version}%05d.txt")
    if (fs.exists(fin) || !fs.rename(tmp, fin)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"manifest commit lost the race for $fin (single-writer violated)")
    }
  }

  private[graft] def nextGen(fs: FileSystem, root: String): Int = {
    val onDisk =
      if (!fs.exists(new Path(root))) Seq.empty
      else fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
        .collect {
          case n if n.startsWith("model_g") =>
            n.stripPrefix("model_g").toIntOption
          case n if n.startsWith("codes_g") =>
            n.stripPrefix("codes_g").toIntOption
        }.flatten
    (0 +: onDisk).max + 1
  }

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
    val prior = manifestVersions(fs, root).lastOption
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
      val g = nextGen(fs, root)
      cents.crossJoin(rcb).write.parquet(modelDir(root, g))
      E.ivfPqEncodeDf(assigned, rcb)
        .select(col("vec_id"), col("codes"), col("cid"))
        .write.partitionBy("cid").parquet(codesDir(root, g))
      g
    }
    commitManifest(fs, root, Manifest(prior.getOrElse(0) + 1, g, Seq(g)))
    if (prior.nonEmpty) reapStaleGens(spark, root)
  }

  /** Append a delta of (vec_id, qv) rows to the live index: encode
    * PER ROW against the FROZEN model (coarse assign + residual PQ —
    * a stateless projection over the broadcast model row; no
    * re-training, no history rescan, cost ∝ delta), stage into a
    * fresh codes generation, commit with collision retry (the
    * [[RegistryStore.appendRetrying]] protocol: staged data is never
    * rewritten; a re-read manifest already referencing the staged
    * generation stops the retry). */
  def append(delta: DataFrame, root: String, maxAttempts: Int = 5): Unit =
    appendImpl(delta, root, maxAttempts, () => ())

  /** Test seam: `beforeCommit` runs before each commit attempt. */
  private[graft] def appendImpl(delta: DataFrame, root: String,
      maxAttempts: Int, beforeCommit: () => Unit): Unit = {
    require(maxAttempts >= 1, "maxAttempts >= 1")
    val spark = delta.sparkSession
    val fs = fsOf(spark, root)
    val E = graft.queries.Extensions
    val model = readModel(spark, root)
    val assigned = E.ivfPqAssign(delta,
      model.select(col("cmodel"), col("cflat")))
    val g = nextGen(fs, root)
    E.ivfPqEncodeDf(assigned, model.select(col("rmodel"), col("rflat")))
      .select(col("vec_id"), col("codes"), col("cid"))
      .write.partitionBy("cid").parquet(codesDir(root, g))
    var attempt = 1
    var committed = false
    while (!committed) {
      val m = currentManifest(spark, root)
      if (m.codes.contains(g)) { committed = true }
      else {
        beforeCommit()
        try {
          commitManifest(fs, root,
            Manifest(m.version + 1, m.model, m.codes :+ g))
          committed = true
        } catch {
          case e: IllegalStateException =>
            if (attempt >= maxAttempts) throw e
            attempt += 1 // lost the race: re-read the manifest and retry
        }
      }
    }
  }

  // -------------------------------------------------------------- reads
  /** The frozen one-row model (cmodel, cflat, rmodel, rflat) of the
    * live manifest. */
  def readModel(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(modelDir(root, currentManifest(spark, root).model))

  /** The merged index view (vec_id, codes, cid) across the appended
    * generations. Filter on `cid` BEFORE joining probes: the filter
    * is a partition predicate on every generation's scan
    * (AnnStoreSpec proves the pruning from the physical plan). */
  def readCodes(spark: SparkSession, root: String): DataFrame = {
    val m = currentManifest(spark, root)
    m.codes.map(g => spark.read.parquet(codesDir(root, g)))
      .reduce(_ unionByName _)
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
    require(maxAttempts >= 1, "maxAttempts >= 1")
    val fs = fsOf(spark, root)
    val m = currentManifest(spark, root)
    val g = nextGen(fs, root)
    // snapshot-consistent fold of exactly the generations we saw
    m.codes.map(gi => spark.read.parquet(codesDir(root, gi)))
      .reduce(_ unionByName _)
      .select(col("vec_id"), col("codes"), col("cid"))
      .write.partitionBy("cid").parquet(codesDir(root, g))
    var attempt = 1
    var committed = false
    while (!committed) {
      val live = currentManifest(spark, root)
      if (!live.codes.startsWith(m.codes) || live.codes.contains(g) ||
          live.model != m.model)
        throw new IllegalStateException(
          s"concurrent compaction/rebuild detected under $root: live " +
          s"$live does not extend snapshot $m")
      val extras = live.codes.drop(m.codes.length)
      beforeCommit()
      try {
        commitManifest(fs, root,
          Manifest(live.version + 1, m.model, g +: extras))
        committed = true
      } catch {
        case e: IllegalStateException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    if (reap) reapStaleGens(spark, root)
  }

  /** Post-commit GC, the [[RegistryStore.reapStaleGens]] policy:
    * delete generations unreferenced by the latest
    * [[ReapKeepVersions]] manifests with ids below the newest
    * committed generation, stale manifest versions, and covered
    * crashed-commit tmp files. Idempotent. */
  private[graft] def reapStaleGens(spark: SparkSession, root: String): Unit = {
    val fs = fsOf(spark, root)
    val versions = manifestVersions(fs, root)
    val kept = versions.takeRight(ReapKeepVersions)
    val manifests = kept.map(readManifest(fs, root, _))
    // liveness is PER KIND: the model generation typically outlives
    // every codes generation (appends/compacts carry it by
    // reference), and a shared id-based set would let model_gN keep
    // an unreferenced codes_gN alive forever
    val liveModel: Set[Int] = manifests.map(_.model).toSet
    val liveCodes: Set[Int] = manifests.flatMap(_.codes).toSet
    val all = liveModel ++ liveCodes
    val ceiling = if (all.isEmpty) 0 else all.max
    if (fs.exists(new Path(root))) {
      fs.listStatus(new Path(root)).foreach { st =>
        val n = st.getPath.getName
        val dead =
          if (n.startsWith("model_g"))
            n.stripPrefix("model_g").toIntOption
              .exists(id => !liveModel.contains(id) && id < ceiling)
          else if (n.startsWith("codes_g"))
            n.stripPrefix("codes_g").toIntOption
              .exists(id => !liveCodes.contains(id) && id < ceiling)
          else false
        if (dead) fs.delete(st.getPath, true)
      }
    }
    versions.dropRight(ReapKeepVersions).foreach(v =>
      fs.delete(new Path(manifestDir(root), f"v$v%05d.txt"), false))
    versions.lastOption.foreach { latest =>
      val dir = manifestDir(root)
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".tmp_v"))
          n.stripPrefix(".tmp_v").takeWhile(_.isDigit).toIntOption.foreach { v =>
            if (v <= latest) fs.delete(st.getPath, false)
          }
      }
    }
  }
}
