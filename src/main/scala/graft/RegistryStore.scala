package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** At-rest storage for the MinHash class registry — the executable
  * form of x86/x95's incremental-dedup story (reference surface:
  * dedup maintenance over an ever-growing corpus; the engine-side
  * layout follows Delta/Iceberg table-maintenance practice).
  *
  * Layout under one root (round 13: generation dirs + an atomic
  * manifest pointer — every mutation is CRASH-SAFE and readers see
  * exactly old-or-new, never a partial — the [[Generations]] protocol):
  *  - the versioned manifests; the highest version is the live one. A
  *    manifest names, per component, the generation dirs that hold its
  *    data:
  *    `classes` → a list of class generations (the LSM levels),
  *    `band K` → the generations holding band K's index files.
  *  - `<root>/classes_g<NNNNN>`: class rows `(sig, cnt, min_id,
  *    arr)`; a sig may appear once per appended generation; readers
  *    merge (cnt sums, min_id takes the least, arr is functionally
  *    determined by sig). Appends add a generation; compaction folds
  *    all levels into one.
  *  - `<root>/bands_g<NNNNN>/band=K/`: the probe index
  *    `(sig, k0..k3)` PARTITIONED BY `band` and range-laid on `k0`
  *    inside each partition — a band probe's equi-join touches
  *    exactly ONE band directory per generation (Spark partition
  *    pruning, proven from the plan in RegistryStoreSpec), and a
  *    band-key range touches a strict subset of that partition's
  *    files by parquet footer min/max (the ZOrderPruneSpec
  *    statistic, proven from real footers).
  *
  * Every mutation follows the store protocol of [[Generations]]
  * (fresh generation dirs, one atomic manifest rename, a reap under a
  * two-version reader window; single writer, and a double-fired writer
  * loses loudly). RegistryStoreSpec drives an append racing an append
  * and an append racing a compact. The concurrent folds of a staging
  * or a compaction run in one job group each, which a failure or a
  * timeout cancels ([[settle]]).
  *
  * Reads start no schema-inference job: each passes the schema of the
  * first generation, in manifest order, that holds a part file, read
  * from its parquet footer ([[Footers]]), with the `band` partition
  * column appended as the IntegerType Spark's partition inference
  * gives it.
  *
  * At 100 TB the registry is the piece that must NOT be rescanned
  * per day: the delta's probe reads only the band partitions (1/4 of
  * the index each) and, within them, only the files whose k0 stats
  * intersect the delta's keys. Appends never rewrite history; the
  * per-band delta files stay small and x82's sorted-fill planner
  * ([[graft.queries.Extensions.compactionPlan]]) bins them for a
  * rewrite whose unit is a band partition, never the table. */
object RegistryStore {

  /** Upper bound on any concurrent fold/write await — generous (a
    * fold is one band partition or the classes merge, never the
    * table), but finite: a hung job must surface as a timeout, not
    * block the writer forever (round-15 used Duration.Inf). */
  private val FoldTimeout =
    scala.concurrent.duration.Duration(6, java.util.concurrent.TimeUnit.HOURS)

  /** The live file inventory: which generations hold the classes LSM
    * levels and each band's index files. Lines: `classes G1 G2 …`, then
    * `band K G1 G2 …` per band in band order. */
  private[graft] case class Manifest(version: Int, classes: Seq[Int],
                                     bands: Map[Int, Seq[Int]])
      extends Generations.Manifest {
    def lines: Seq[String] = classes.mkString("classes ", " ", "") +:
      bands.toSeq.sortBy(_._1).map { case (k, gens) => gens.mkString(s"band $k ", " ", "") }
    def refs: Map[String, Seq[Int]] =
      Map("classes" -> classes, "bands" -> bands.values.flatten.toSeq)
  }

  private val Gens = new Generations[Manifest](Seq("classes", "bands"), { (v, lines) =>
    var classes = Seq.empty[Int]
    var bands = Map.empty[Int, Seq[Int]]
    lines.foreach {
      case "classes" +: gens => classes = gens.map(_.toInt)
      case "band" +: k +: gens => bands += (k.toInt -> gens.map(_.toInt))
      case _ => // version header / unknown line: ignore
    }
    Manifest(v, classes, bands)
  })

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def classesDir(root: String, g: Int): String = Gens.dir(root, "classes", g)
  private def bandsDir(root: String, g: Int): String = Gens.dir(root, "bands", g)

  /** The live manifest = highest committed version. */
  private[graft] def currentManifest(spark: SparkSession,
                                     root: String): Manifest =
    Gens.current(fsOf(spark, root), root)

  /** The [[Generations.commit]] of `m` (private[graft] so
    * RegistryStoreSpec can drive the concurrent-writer race at exactly
    * this boundary). */
  private[graft] def commitManifest(fs: FileSystem, root: String,
                                    m: Manifest): Unit = Gens.commit(fs, root, m)

  private[graft] def commitManifestImpl(fs: FileSystem, root: String,
                                        m: Manifest,
                                        beforeRename: () => Unit): Unit =
    Gens.commit(fs, root, m, beforeRename)

  private[graft] def nextGen(fs: FileSystem, root: String): Int =
    Gens.nextGen(fs, root)

  // ------------------------------------------------------------- writes
  /** Write a class registry (sig, cnt, min_id, arr) as a store at
    * `root`. Over an EXISTING store this is a full rebuild under the
    * same crash-safety protocol as append/compact: the new contents
    * stage into a fresh generation no reader can see, go live in one
    * atomic manifest commit (version+1, referencing ONLY the new
    * generation), and the superseded generations are reaped under
    * the usual two-version reader-protection window — at no instant
    * is the store unreadable, and a writer crash anywhere leaves the
    * prior store fully live (the pre-round-14 form deleted the root
    * first, so a crash before the commit destroyed the history).
    * `filesPerBand` sizes the band index's file count per partition
    * (range-split on k0, so per-file footer stats carve the key
    * space). */
  def write(classes: DataFrame, root: String, filesPerBand: Int = 1): Unit = {
    val spark = classes.sparkSession
    val fs = fsOf(spark, root)
    val prior = Gens.versions(fs, root).lastOption
    val g = Gens.nextGen(fs, root)
    stageGeneration(classes, root, g, filesPerBand)
    Gens.commit(fs, root,
      Manifest(prior.getOrElse(0) + 1, Seq(g),
        bandsIn(fs, root, g).map(_ -> Seq(g)).toMap))
    if (prior.nonEmpty) Gens.reap(fs, root)
  }

  /** Append one day's ALREADY-CLASSED delta (a
    * [[graft.queries.Extensions.classesOf]] output) to an existing
    * store: the delta lands in a fresh generation (one new classes
    * LSM level + new per-band delta files) made live by one atomic
    * manifest commit — history is never rewritten, and a reader
    * NEVER sees a partially-appended day (the pre-generation layout
    * appended files in place, so a concurrent reader could). Read-
    * time merge makes the result equal
    * [[graft.queries.Extensions.appendRegistry]] over the same days
    * (RegistryStoreSpec pins the equality).
    *
    * The delta's data stages into its generation ONCE; a commit that
    * loses a race (a double-fired scheduler) re-reads the live
    * manifest and retries referencing the already-staged generation
    * ([[Generations.commitRetrying]]), and a live manifest that already
    * references it ends the append. The outcome equals the two appends
    * running sequentially (the read-time sig-merge is associative, so
    * generation order is immaterial; RegistryStoreSpec pins the
    * equality under an injected mid-flight concurrent append). Scope:
    * the retry covers the COMMIT window; two writers whose STAGING
    * overlaps so tightly that they pick the same generation id still
    * fail loudly at the parquet write (SaveMode.ErrorIfExists) and the
    * caller re-runs the whole append. Rethrows the last collision
    * after `maxAttempts` losses. */
  def append(deltaClasses: DataFrame, root: String,
             filesPerBand: Int = 1, maxAttempts: Int = 5): Unit =
    appendImpl(deltaClasses, root, filesPerBand, maxAttempts, () => ())

  /** Test seam: `beforeCommit` runs before each commit attempt so a
    * spec can inject a concurrent writer inside the commit window. */
  private[graft] def appendImpl(deltaClasses: DataFrame,
      root: String, filesPerBand: Int, maxAttempts: Int,
      beforeCommit: () => Unit): Unit = {
    val fs = fsOf(deltaClasses.sparkSession, root)
    Gens.current(fs, root) // no store under root: fail before staging
    val g = Gens.nextGen(fs, root)
    stageGeneration(deltaClasses, root, g, filesPerBand)
    val staged = bandsIn(fs, root, g)
    Gens.commitRetrying(fs, root, maxAttempts, beforeCommit) { m =>
      if (m.classes.contains(g)) None
      else Some(Manifest(m.version + 1, m.classes :+ g,
        staged.foldLeft(m.bands) { (acc, k) =>
          acc + (k -> (acc.getOrElse(k, Seq.empty) :+ g))
        }))
    }
  }

  /** band ids present in one bands generation dir. */
  private def bandsIn(fs: FileSystem, root: String, g: Int): Seq[Int] = {
    val dir = new Path(bandsDir(root, g))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .flatMap(_.getPath.getName.split("=") match {
        case Array("band", v) => v.toIntOption
        case _ => None // tmp/garbage dirs never parse as a partition
      })
  }

  /** Absolute band-partition dirs of the LIVE manifest, per band —
    * the physical paths file-level tooling (and the spec's footer
    * probes) should resolve through, never by globbing the root. */
  private[graft] def bandDirs(spark: SparkSession,
                              root: String): Map[Int, Seq[String]] = {
    val m = currentManifest(spark, root)
    m.bands.map { case (k, gens) =>
      k -> gens.map(g => s"${bandsDir(root, g)}/band=$k")
    }
  }

  // -------------------------------------------------------------- reads
  /** The merged class view of a store: per sig, cnt sums and min_id
    * takes the least across the appended generations (arr is
    * functionally determined by sig — any representative is the
    * value-deterministic one). One hash agg keyed by sig; cost ∝
    * class rows, never raw history docs. */
  def readClasses(spark: SparkSession, root: String): DataFrame =
    readClassesOf(spark, root, currentManifest(spark, root))

  /** [[readClasses]] against an explicit manifest SNAPSHOT — the
    * compaction fold must read exactly the generations whose band
    * files it is folding, not whatever a concurrent append just made
    * live (a mixed snapshot would double-fold the delta on retry). */
  private def readClassesOf(spark: SparkSession, root: String,
                            m: Manifest): DataFrame = {
    val dirs = m.classes.map(classesDir(root, _))
    spark.read.schema(Footers.schemaOf(spark, dirs)).parquet(dirs: _*)
      .groupBy(col("sig"))
      .agg(sum(col("cnt")).as("cnt"), min(col("min_id")).as("min_id"),
        first(col("arr")).as("arr"))
  }

  /** The band probe index (sig, band, k0..k3), resolved through the
    * live manifest: one partition-pruned scan per generation, each
    * restricted to the bands that still live in that generation (a
    * compacted band's old rows stay on disk until reap but are never
    * read). Filter on `band` before joining: the filter is a
    * partition predicate on every generation's scan, so the probe
    * reads one partition directory per generation. */
  def readBands(spark: SparkSession, root: String): DataFrame = {
    val m = currentManifest(spark, root)
    val byGen = m.bands.toSeq
      .flatMap { case (k, gens) => gens.map(_ -> k) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toSeq.sortBy(_._1)
    lazy val schema = bandDataSchema(spark, root, m).add("band", IntegerType)
    byGen.map { case (g, ks) =>
      spark.read.schema(schema).parquet(bandsDir(root, g))
        .filter(col("band").isin(ks: _*))
    }.reduceOption(_ unionByName _)
      // a store written from an EMPTY classes frame has no band
      // generations at all (bandsFor of zero rows writes no partition
      // dirs): the probe index is legitimately empty, not an error
      .getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        emptyBandSchema))
  }

  /** Schema of the band probe index as parquet reads it back (data
    * columns, then the `band` partition column) — the zero-bands
    * fallback shape of [[readBands]]. */
  private val emptyBandSchema: StructType = StructType(Seq(
    StructField("sig", StringType), StructField("k0", LongType),
    StructField("k1", LongType), StructField("k2", LongType),
    StructField("k3", LongType), StructField("band", IntegerType)))

  /** Data columns of the band index (no `band`): the first band
    * generation of `m`, in manifest order, that holds a part file. */
  private def bandDataSchema(spark: SparkSession, root: String, m: Manifest): StructType =
    Footers.schemaOf(spark, m.bands.toSeq.sortBy(_._1).flatMap(_._2).distinct.map(bandsDir(root, _)))

  /** x82's sorted-fill compaction plan over THIS store's band-index
    * file inventory (live-manifest files only) — the maintenance
    * pass that folds small per-day delta files back into
    * `targetBytes`-sized files, per band partition. Metadata-scale:
    * one row per file. */
  def compactionPlanOf(spark: SparkSession, root: String,
                       targetBytes: Long = 1L << 20): DataFrame = {
    val inv = spark.createDataFrame(
      bandDirs(spark, root).values.flatten.toSeq.sorted
        .flatMap(d => listParquet(spark, d))
        .map(f => (f.getPath.toString, f.getLen)))
      .toDF("file_id", "bytes")
    graft.queries.Extensions.compactionPlan(inv, targetBytes)
  }

  /** Recursive parquet-file inventory via the Hadoop FileSystem API —
    * works on any supported store (local, HDFS, object stores), not
    * just local paths (the 100 TB deployment reads the same code). */
  private def listParquet(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) out += f
    }
    out.result()
  }

  /** EXECUTE the compaction the planner bins: per band partition,
    * fold the accumulated small per-day delta files into
    * target-sized ones, re-laid as CONTIGUOUS k0 ranges (each output
    * file covers a disjoint k0 slice, so the footer-stat pruning the
    * store relies on is strict again after the rewrite — merging
    * bins as-is would union overlapping day ranges per file). The
    * output file count per band is the planner's bin count for that
    * band's inventory, i.e. ⌈bytes/target⌉-sized files. The classes
    * side folds too: the read-time sig-merge is materialized once,
    * so later reads aggregate pre-merged rows (idempotent — the
    * merge is associative, which is what makes the LSM shape legal).
    *
    * The rewrite unit is ONE BAND PARTITION, never the table: at
    * 100 TB each band folds independently (and can be scheduled
    * independently); a band already at one file is carried by
    * manifest reference, its bytes untouched. All folded output
    * lands in a fresh generation and goes live in ONE atomic
    * manifest commit ([[Generations]]); generations the last
    * [[Generations.KeepVersions]] manifests no longer reference are
    * reaped after the commit. Readback equality, post-compaction
    * pruning, old-or-new reader isolation and crash-window
    * readability are pinned by RegistryStoreSpec; x95 stays
    * hash-green reading a compacted store.
    * Commit-collision RETRY (the [[append]] move for the compactor):
    * the fold stages into its generation ONCE against a manifest
    * SNAPSHOT; if the commit then loses to a concurrent
    * append, the live manifest is re-read and — because an append
    * only ever EXTENDS the snapshot's generation list — the commit is
    * retried referencing the fold PLUS the appended deltas, which the
    * next compaction folds in turn. The full band rewrite is never
    * thrown away. A concurrent COMPACT (live classes no longer extend
    * the snapshot's) still fails loudly: two compactors is a schedule
    * bug, and folding over a fold cannot be reconciled by reference.
    * @param reap disable only to inspect the post-commit/pre-reap
    *             crash window (tests); production always reaps. */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 1L << 20, reap: Boolean = true): Unit =
    compactImpl(spark, root, targetBytes, reap, maxAttempts = 5, () => ())

  /** Test seam: `beforeCommit` runs before each commit attempt so a
    * spec can inject a concurrent append inside the commit window. */
  private[graft] def compactImpl(spark: SparkSession, root: String,
      targetBytes: Long, reap: Boolean, maxAttempts: Int,
      beforeCommit: () => Unit): Unit = {
    val fs = fsOf(spark, root)
    val m = Gens.current(fs, root)
    val g = Gens.nextGen(fs, root)
    // The classes LSM fold and each band's fold are INDEPENDENT jobs
    // writing to disjoint paths, and each is small (a band partition,
    // never the table) — run them concurrently so one fold's task tail
    // back-fills with the next fold's tasks instead of leaving the
    // cluster idle (optimization-guide §2.6; round-15: the sequential
    // loop ran 1 + |bands| small jobs end to end).
    // classes LSM fold: materialize the read-time merge once — over
    // exactly the snapshot's generations (see readClassesOf)
    val classesFold: () => Option[(Int, Seq[Int])] = () => {
      spark.sparkContext.setJobDescription(s"compact classes fold g=$g")
      readClassesOf(spark, root, m).write.parquet(classesDir(root, g))
      None
    }
    // per-band fold of multi-file bands into the fresh generation; the
    // folds read files directly, so they take the data columns only
    lazy val bandData = bandDataSchema(spark, root, m)
    val bandFolds = m.bands.toSeq.map { case (k, gens) => () =>
      spark.sparkContext.setJobDescription(s"compact fold band=$k g=$g")
      val files = gens.flatMap(gi =>
        listParquet(spark, s"${bandsDir(root, gi)}/band=$k"))
      if (files.length > 1) {
        // sorted-fill fast path: when every file fits one bin by
        // total size, the planner provably emits a single bin —
        // skip the (driver-round-trip) planning job and only run
        // x82's planner when the outcome could differ
        val nOut = if (files.map(_.getLen).sum <= targetBytes) 1
        else {
          val inv = spark.createDataFrame(files.map(f =>
            (f.getPath.toString, f.getLen))).toDF("file_id", "bytes")
          graft.queries.Extensions
            .compactionPlan(inv, targetBytes)
            .select(col("bin")).distinct().count().toInt
        }
        spark.read.schema(bandData).parquet(files.map(_.getPath.toString): _*)
          .repartitionByRange(nOut, col("k0"))
          .sortWithinPartitions(col("k0"))
          .write.parquet(s"${bandsDir(root, g)}/band=$k")
        Some(k -> Seq(g))
      } else Some(k -> gens)
    }
    val bands = settle(spark, root, math.min(4, m.bands.size + 1))(
      classesFold +: bandFolds).flatten.toMap
    Gens.commitRetrying(fs, root, maxAttempts, beforeCommit) { live =>
      // Generations appended since our snapshot: an append commits
      // `classes :+ gDelta`, so the live list must EXTEND ours (and
      // never reference our staged g). Anything else means a foreign
      // compact rewrote the store under us — unreconcilable, and two
      // scheduled compactors is the bug the loud failure reports.
      if (!live.classes.startsWith(m.classes) || live.classes.contains(g))
        throw new IllegalStateException(
          s"concurrent compaction detected under $root: live classes " +
          s"${live.classes} do not extend snapshot ${m.classes}")
      val extras = live.classes.drop(m.classes.length)
      // carry the deltas' band files by reference, after the fold's
      val mergedBands = (bands.keySet ++ live.bands.keySet).map { k =>
        val extraGens =
          live.bands.getOrElse(k, Seq.empty).filter(extras.contains)
        k -> (bands.getOrElse(k, Seq.empty) ++ extraGens)
      }.toMap
      Some(Manifest(live.version + 1, g +: extras, mergedBands))
    }
    if (reap) Gens.reap(fs, root)
  }

  /** Runs `folds` on a pool of `threads`, each under its own Spark job
    * group with `interruptOnCancel`, and returns their results in
    * order. The first failure, or `timeout` ([[FoldTimeout]] instead of
    * Duration.Inf), cancels the groups of the folds still running or
    * queued, so that no job of a failed settle keeps running. Every
    * fold then settles before the failure propagates (no write may
    * still be in flight when the exception surfaces, or it races a
    * later compact's reap), and the first failure to occur is rethrown.
    * The pool is then shut down; a fold still running 60 s after that
    * is logged with the store root, because it can race a later
    * compact's reap. */
  private[graft] def settle[T](spark: SparkSession, root: String, threads: Int,
      timeout: scala.concurrent.duration.Duration = FoldTimeout)(
      folds: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future, Promise}
    val sc = spark.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val tag = s"RegistryStore $root fold ${java.util.UUID.randomUUID()}"
    val groups = folds.indices.map(i => s"$tag $i")
    val failure = Promise[Throwable]()
    val runs = folds.zip(groups).map { case (f, group) =>
      Future {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        try f() finally sc.clearJobGroup()
      }.transform { r => r.failed.foreach(failure.trySuccess); scala.util.Success(r) }
    }
    val all = Future.sequence(runs)
    def cancelUnsettled(why: String): Unit = runs.zip(groups).foreach {
      case (run, group) => if (!run.isCompleted) sc.cancelJobGroupAndFutureJobs(group, why)
    }
    try {
      try Await.ready(Future.firstCompletedOf(Seq(all, failure.future)), timeout)
      catch { case e: java.util.concurrent.TimeoutException =>
        cancelUnsettled(s"$tag timed out after $timeout"); throw e }
      failure.future.value.foreach { t =>
        cancelUnsettled(s"$tag: a sibling fold failed")
        Await.ready(all, timeout)
        throw t.get
      }
      all.value.get.get.map(_.get)
    } finally {
      pool.shutdown()
      if (!pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"RegistryStore $root: folds still running 60 s after shutdown")
    }
  }

  /** Stage one generation's data files — the classes parquet plus the
    * band index, ranged on (band, k0) so each written file covers a
    * contiguous k0 slice of its band partition (the layout the
    * footer-stat pruning relies on).
    *
    * Both inputs are persisted for the staging window: the classes
    * projection otherwise evaluates THREE times (the classes write,
    * `repartitionByRange`'s range-boundary sampling pass, and the band
    * shuffle itself), and for write/append it is a [[graft.queries
    * .Extensions.classesOf]] aggregation whose every recompute is a
    * full corpus shuffle; the band table is persisted too so the
    * range sampler does not re-run the MinHash signature pass
    * (round-15 measured on x95's lifecycle: 85 jobs → fewer, classes
    * agg evaluated once instead of three times per staged
    * generation). */
  private def stageGeneration(classes: DataFrame, root: String, g: Int,
                              filesPerBand: Int): Unit = {
    val spark = classes.sparkSession
    Cached.scope {
      // filled ONCE before the two sinks read it concurrently: each
      // recompute would be the corpus-scale classesOf aggregation
      val staged = Cached.fill(
        classes.select(col("sig"), col("cnt"), col("min_id"), col("arr")))
      val bt = Cached.keep(graft.ops.Banding
        .bandTableArr(staged.select(col("sig").as("rep"), col("arr")), "t:")
        .withColumnRenamed("rep", "sig"))
      // The classes parquet write and the band-index write are
      // independent sinks over the materialized staged input —
      // submit them concurrently so the classes write (a cache
      // read + encode + IO pass) back-fills the band side's
      // sampling/shuffle tail (guide §2.6, the compact-fold move).
      settle(spark, root, 2)(Seq(
        () => {
          spark.sparkContext.setJobDescription(s"stage classes g=$g")
          staged.write.parquet(classesDir(root, g))
        },
        () => {
          spark.sparkContext.setJobDescription(s"stage bands g=$g")
          bt.repartitionByRange(
              graft.ops.Banding.NumBands * filesPerBand,
              col("band"), col("k0"))
            .sortWithinPartitions(col("band"), col("k0"))
            .write.partitionBy("band").parquet(bandsDir(root, g))
        }))
    }
  }
}
