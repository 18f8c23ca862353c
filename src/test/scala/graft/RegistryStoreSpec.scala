package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._

/** The executable registry-storage story ([[RegistryStore]]): the
  * class registry written band-partitioned, per-day deltas appended
  * as small per-band files, the merged read-back equal to the
  * in-memory [[graft.queries.Extensions.appendRegistry]] math, a
  * band probe PROVEN (from the physical scan) to read one partition
  * directory, a band-key range PROVEN (from real parquet footers) to
  * touch a strict subset of that partition's files losslessly, and
  * x82's compaction planner composing over the store's own file
  * inventory.
  *
  * Round 13 adds the crash-safety pins for the generation+manifest
  * commit protocol: uncommitted generations are invisible, a reader
  * in flight across a compaction keeps reading the old state, the
  * post-commit/pre-reap crash window leaves a readable store, and
  * reaping reclaims exactly the generations outside the retention
  * window. */
class RegistryStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** All live parquet files of one band, resolved via the manifest
    * (the only sanctioned way to reach the store's physical files). */
  private def bandFilesOf(root: String, b: Int): Seq[String] =
    RegistryStore.bandDirs(spark, root)(b).flatMap { d =>
      val f = new java.io.File(d)
      if (!f.isDirectory) Seq.empty
      else f.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getPath).toSeq
    }.sorted

  private def docArrs = Tables.documents(spark, "/root/testdata/sf0.001")
    .selectExpr("doc_id",
      "array_sort(array_distinct(split(text, ' '))) AS arr")

  private def classesKey(df: org.apache.spark.sql.DataFrame) =
    df.select(col("sig"), col("cnt"), col("min_id"),
        array_join(col("arr"), " ").as("a"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq

  test("append + read-time merge equals the in-memory appendRegistry") {
    val d = docArrs.persist()
    val day0 = d.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2)
    val day1 = d.filter(col("doc_id") % 4 === 3)
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_merge").toString
    RegistryStore.write(graft.queries.Extensions.classesOf(day0), root)
    RegistryStore.append(graft.queries.Extensions.classesOf(day1), root)
    val got = classesKey(RegistryStore.readClasses(spark, root))
    val want = classesKey(graft.queries.Extensions.appendRegistry(
      graft.queries.Extensions.classesOf(day0), day1))
    assert(got == want)
    d.unpersist()
  }

  test("a band probe's scan selects exactly one of the band partitions") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_prune").toString
    RegistryStore.write(graft.queries.Extensions.classesOf(docArrs), root)
    val probe = RegistryStore.readBands(spark, root)
      .filter(col("band") === 2)
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(fail("no file scan in the probe plan"))
    val selected = scan.selectedPartitions
    val allParts = RegistryStore.bandDirs(spark, root)
    assert(allParts.size == graft.ops.Banding.NumBands)
    assert(selected.partitionCount == 1,
      s"partition pruning must select 1 of ${allParts.size} partitions, " +
        s"got ${selected.partitionCount}")
    assert(selected.toPartitionArray.forall(
      _.filePath.toString.contains("band=2")))
    // lossless: the pruned scan returns exactly band 2's rows
    val want = graft.ops.Banding
      .bandTableArr(graft.queries.Extensions.classesOf(docArrs)
        .select(col("sig").as("rep"), col("arr")), "t:")
      .filter(col("band") === 2).count()
    assert(probe.count() == want && want > 0)
  }

  /** Per-file (min, max) of an INT64 column from the parquet footer —
    * the statistic any file-skipping layer consults. */
  private def footerRange(file: String, column: String): (Long, Long) = {
    val in = HadoopInputFile.fromPath(new Path(file), new Configuration())
    val rd = ParquetFileReader.open(in)
    try {
      val ranges = rd.getFooter.getBlocks.asScala.map { block =>
        val cc = block.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .getOrElse(fail(s"column $column missing from footer of $file"))
        val st = cc.getStatistics
        assert(st != null && !st.isEmpty, s"no stats for $column in $file")
        (st.genericGetMin.asInstanceOf[Long],
          st.genericGetMax.asInstanceOf[Long])
      }
      (ranges.map(_._1).min, ranges.map(_._2).max)
    } finally rd.close()
  }

  test("inside a band partition, a k0 range touches a strict subset " +
    "of files by footer stats, losslessly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_footer").toString
    RegistryStore.write(graft.queries.Extensions.classesOf(docArrs), root,
      filesPerBand = 4)
    val files = bandFilesOf(root, 1)
    assert(files.length >= 3, s"want several files per band, got ${files.length}")
    // probe the middle eighth of k0's POPULATION (quantile window, so
    // the probe is non-vacuous however the values spread)
    val all = spark.read.parquet(files: _*)
    val k0s = all.select(col("k0")).collect().map(_.getLong(0)).sorted
    val s = k0s(k0s.length * 7 / 16)
    val e = k0s(k0s.length * 9 / 16)
    val survivors = files.filter { f =>
      val (mn, mx) = footerRange(f, "k0"); mx >= s && mn <= e
    }
    assert(survivors.length < files.length,
      s"k0 probe [$s,$e] touches all ${files.length} files — no pruning")
    val full = all.filter(col("k0").between(s, e)).count()
    val viaSurvivors = spark.read.parquet(survivors: _*)
      .filter(col("k0").between(s, e)).count()
    assert(full > 0 && viaSurvivors == full, "pruned file set lost rows")
  }

  test("compact executes the plan: readback bit-identical, delta files " +
    "folded, k0 ranges disjoint so footer pruning is strict") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_exec").toString
    val d = docArrs.persist()
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 4 === 0)), root)
    (1L to 3L).foreach { day =>
      RegistryStore.append(graft.queries.Extensions.classesOf(
        d.filter(col("doc_id") % 4 === day)), root)
    }
    val wantClasses = classesKey(RegistryStore.readClasses(spark, root))
    def bandRows() = RegistryStore.readBands(spark, root)
      .select(col("sig"), col("band"), col("k0"), col("k1"), col("k2"),
        col("k3"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(identity).toSeq
    val wantBands = bandRows()
    def bandFiles(b: Int) = bandFilesOf(root, b)
    val before = bandFiles(1)
    assert(before.length == 4, s"4 delta files expected, got ${before.length}")
    // target = half of band-1's accumulated bytes: the fold must
    // still yield >= 2 files so the post-compaction pruning
    // assertion is non-vacuous
    val target = math.max(1L,
      before.map(f => java.nio.file.Files.size(
        java.nio.file.Paths.get(f))).sum / 2)

    RegistryStore.compact(spark, root, target)

    // readback bit-identical on BOTH sides of the store
    assert(classesKey(RegistryStore.readClasses(spark, root)) == wantClasses)
    assert(bandRows() == wantBands)
    // the per-day delta files are folded
    val after = bandFiles(1)
    assert(after.length < before.length && after.length >= 2,
      s"fold expected 2..3 files from 4, got ${after.length}")
    // the rewrite re-lays rows as CONTIGUOUS k0 ranges: per-file
    // footer ranges are pairwise disjoint, so ANY k0 probe prunes
    // strictly (the append-era files all spanned the full key range)
    val ranges = after.map(f => footerRange(f, "k0")).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, mx), (mn, _)) =>
        assert(mx <= mn, s"overlapping k0 ranges after compaction: " +
          s"${ranges.mkString(", ")}")
      case _ =>
    }
    d.unpersist()
  }

  test("x82's planner bins the store's accumulated delta files") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_compact").toString
    val d = docArrs.persist()
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 4 === 0)), root)
    (1L to 3L).foreach { day =>
      RegistryStore.append(graft.queries.Extensions.classesOf(
        d.filter(col("doc_id") % 4 === day)), root)
    }
    val plan = RegistryStore.compactionPlanOf(spark, root).collect()
    assert(plan.length >= 4, "one inventory row per band-index file")
    val bins = plan.map(_.getAs[Long]("bin")).distinct
    assert(bins.length < plan.length,
      "compaction must merge small delta files into fewer bins")
    // every file assigned exactly one bin, byte totals consistent
    val byBin = plan.groupBy(_.getAs[Long]("bin"))
    byBin.foreach { case (_, rows) =>
      val want = rows.map(_.getAs[Long]("bytes")).sum
      assert(rows.forall(_.getAs[Long]("bin_bytes") == want))
    }
    d.unpersist()
  }

  // ------------------------------------------------- crash-safety pins

  private def genDirs(root: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq.map(_.getName)
      .filter(n => n.startsWith("classes_g") || n.startsWith("bands_g"))
      .sorted

  test("uncommitted generations (a writer crash before the manifest " +
    "commit) are invisible to readers and reaped by the next compact") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_orphan").toString
    val classes = graft.queries.Extensions.classesOf(docArrs).persist()
    RegistryStore.write(classes, root)
    val want = classesKey(RegistryStore.readClasses(spark, root))
    val wantBands = RegistryStore.readBands(spark, root).count()
    // simulate a crashed append: data files land in fresh generation
    // dirs, but the process dies before the manifest commit
    classes.select(col("sig"), col("cnt"), col("min_id"), col("arr"))
      .write.parquet(s"$root/classes_g00002")
    classes.limit(1).select(col("sig"), col("cnt"))
      .write.parquet(s"$root/bands_g00002/band=0")
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want,
      "orphan generation leaked into the class read")
    assert(RegistryStore.readBands(spark, root).count() == wantBands,
      "orphan generation leaked into the band read")
    // the next maintenance pass reclaims the orphan (it is below the
    // newly-committed generation and no kept manifest references it)
    RegistryStore.compact(spark, root)
    assert(!genDirs(root).contains("classes_g00002") &&
           !genDirs(root).contains("bands_g00002"),
      s"orphan generation survived reaping: ${genDirs(root)}")
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want)
    classes.unpersist()
  }

  test("a reader in flight across a compaction keeps its snapshot: " +
    "old-generation files survive one commit (retention window)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_inflight").toString
    val d = docArrs.persist()
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 0)), root)
    RegistryStore.append(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 1)), root)
    val want = classesKey(RegistryStore.readClasses(spark, root))
    // the in-flight reader: plans (and pins its file listing) BEFORE
    // the compaction lands, collects AFTER
    val inFlight = RegistryStore.readClasses(spark, root)
    inFlight.queryExecution.executedPlan // force file-index resolution
    RegistryStore.compact(spark, root)
    assert(classesKey(inFlight) == want,
      "in-flight reader lost its snapshot across a compaction commit")
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want,
      "post-compaction reader diverged")
    d.unpersist()
  }

  test("crash between commit and reap leaves a readable store; a later " +
    "pass reclaims exactly the out-of-retention generations") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_reap").toString
    val d = docArrs.persist()
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 0)), root)
    RegistryStore.append(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 1)), root)
    val want = classesKey(RegistryStore.readClasses(spark, root))
    val preGens = genDirs(root)
    // crash window: manifest committed, reap never ran
    RegistryStore.compact(spark, root, reap = false)
    assert(genDirs(root).toSet.intersect(preGens.toSet) == preGens.toSet,
      "reap=false must leave every pre-compaction generation on disk")
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want,
      "store unreadable in the post-commit crash window")
    // a second maintenance commit pushes gens 1-2 out of the 2-version
    // retention window; reap then reclaims them
    RegistryStore.compact(spark, root)
    val left = genDirs(root)
    assert(!left.contains("classes_g00001") && !left.contains("classes_g00002"),
      s"out-of-retention class generations survived: $left")
    assert(!left.exists(_.startsWith("bands_g00001")) &&
           !left.exists(_.startsWith("bands_g00002")),
      s"out-of-retention band generations survived: $left")
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want,
      "store diverged after reap")
    d.unpersist()
  }

  test("reap keeps a class generation only while a kept manifest's " +
    "classes list references it, whatever bands it carries") {
    // each compact folds the classes into a fresh generation but may
    // carry single-file bands by reference from older ones
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_reapkind").toString
    RegistryStore.write(graft.queries.Extensions.classesOf(docArrs), root)
    for (_ <- 1 to 3) RegistryStore.compact(spark, root)
    val kept = new java.io.File(s"$root/_manifests").listFiles().toSeq
      .filter(_.getName.endsWith(".txt"))
    assert(kept.length == 2, s"kept manifests: ${kept.map(_.getName)}")
    val referenced = kept.flatMap { f =>
      java.nio.file.Files.readAllLines(f.toPath).asScala
        .filter(_.startsWith("classes "))
        .flatMap(_.split(" ").toSeq.tail.map(g => f"classes_g${g.toInt}%05d"))
    }.toSet
    val onDisk = genDirs(root).filter(_.startsWith("classes_g"))
    assert(onDisk.toSet.subsetOf(referenced),
      s"unreferenced class generations survived: ${onDisk.filterNot(referenced)}")
  }

  test("append to a root that holds no store throws before staging") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_nostore").toString
    intercept[IllegalStateException] {
      RegistryStore.append(graft.queries.Extensions.classesOf(docArrs), root)
    }
    assert(genDirs(root).isEmpty, s"staged into a non-store: ${genDirs(root)}")
  }

  test("rebuild over an existing store is crash-safe: staged-but-" +
    "uncommitted rebuild leaves the old store live; a committed one " +
    "supersedes it without a window of unreadability") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_rebuild").toString
    val d = docArrs.persist()
    val v1 = graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 0)).persist()
    val v2 = graft.queries.Extensions.classesOf(d).persist()
    RegistryStore.write(v1, root)
    val wantV1 = classesKey(RegistryStore.readClasses(spark, root))
    // simulate the rebuild writer crashing AFTER staging its data but
    // BEFORE the manifest commit: stage generation dirs by hand (the
    // exact on-disk state write() leaves at that point)
    v2.select(col("sig"), col("cnt"), col("min_id"), col("arr"))
      .write.parquet(s"$root/classes_g00002")
    assert(classesKey(RegistryStore.readClasses(spark, root)) == wantV1,
      "a crashed rebuild must leave the prior store fully live")
    // the real rebuild: in-flight reader keeps v1, new readers see v2
    val inFlight = RegistryStore.readClasses(spark, root)
    inFlight.queryExecution.executedPlan
    RegistryStore.write(v2, root)
    assert(classesKey(RegistryStore.readClasses(spark, root)) ==
      classesKey(v2), "post-rebuild reader must see the new contents")
    assert(classesKey(inFlight) == wantV1,
      "in-flight reader lost its snapshot across a rebuild commit")
    d.unpersist(); v1.unpersist(); v2.unpersist()
  }

  test("a zero-bands store (empty classes frame) reads back empty " +
    "instead of throwing") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_empty").toString
    val empty = graft.queries.Extensions.classesOf(
      docArrs.filter(col("doc_id") < 0))
    RegistryStore.write(empty, root)
    assert(RegistryStore.readBands(spark, root).count() == 0L)
    assert(RegistryStore.readBands(spark, root).columns.toSeq ==
      Seq("sig", "k0", "k1", "k2", "k3", "band"))
  }

  test("an empty append keeps the registry readable and compactable") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_empty_append").toString
    val d = docArrs.persist()
    RegistryStore.write(graft.queries.Extensions.classesOf(d), root)
    val want = classesKey(RegistryStore.readClasses(spark, root))
    val bands = RegistryStore.readBands(spark, root).count()
    RegistryStore.append(graft.queries.Extensions.classesOf(
      d.filter(lit(false))), root)
    assert(RegistryStore.currentManifest(spark, root).classes.length == 2)
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want)
    assert(RegistryStore.readBands(spark, root).count() == bands)
    RegistryStore.compact(spark, root)
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want)
    assert(RegistryStore.readBands(spark, root).count() == bands)
    d.unpersist()
  }

  test("building readClasses and readBands starts no Spark job") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_nojobs").toString
    val d = docArrs.persist()
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 0)), root)
    RegistryStore.append(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 1)), root)
    val (classes, classJobs) = TestSpark.jobsOf(RegistryStore.readClasses(spark, root))
    val (bands, bandJobs) = TestSpark.jobsOf(RegistryStore.readBands(spark, root))
    assert(classJobs == 0 && bandJobs == 0,
      s"readClasses $classJobs, readBands $bandJobs jobs")
    assert(classes.columns.toSeq == Seq("sig", "cnt", "min_id", "arr"))
    assert(bands.columns.toSeq == Seq("sig", "k0", "k1", "k2", "k3", "band"))
    assert(classesKey(classes) ==
      classesKey(graft.queries.Extensions.classesOf(d)))
    d.unpersist()
  }

  test("a fold blocked past its timeout is cancelled: settle throws, " +
    "the blocked task is interrupted and no job of its group runs on") {
    import org.apache.spark.JobExecutionStatus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val root = "settle-timeout-spec"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith(s"RegistryStore $root fold"))) jobs.add(j.jobId)
    }
    sc.addSparkListener(l)
    try {
      intercept[java.util.concurrent.TimeoutException] {
        RegistryStore.settle(spark, root, 2,
          scala.concurrent.duration.FiniteDuration(3, "s"))(Seq(
          () => 1,
          () => { sc.parallelize(Seq(1), 1).foreach(_ => SettleLatch.block()); 2 }))
      }
      eventually(timeout(60.seconds), interval(200.millis)) {
        assert(!jobs.isEmpty, "the blocked fold's job was never seen")
        jobs.forEach { id =>
          assert(!sc.statusTracker.getJobInfo(id).exists(
            _.status == JobExecutionStatus.RUNNING), s"job $id still running")
        }
        assert(SettleLatch.interrupted, "the blocked task was not interrupted")
      }
    } finally {
      SettleLatch.release()
      sc.removeSparkListener(l)
    }
  }

  test("reap reclaims stale dot-tmp manifest files from crashed " +
    "commits, never a live writer's in-flight tmp") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_tmp").toString
    val d = docArrs.persist()
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 0)), root)
    // a writer that crashed between fs.create(tmp) and the rename —
    // at a version a later commit then covered (v2 below)
    val stale = new java.io.File(s"$root/_manifests/.tmp_v00002")
    java.nio.file.Files.writeString(stale.toPath, "v2\nclasses 99\n")
    // and a live writer's in-flight tmp at version latest+1 (v3 once
    // the append commits v2)
    RegistryStore.append(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 1)), root)
    val inFlight = new java.io.File(s"$root/_manifests/.tmp_v00003")
    java.nio.file.Files.writeString(inFlight.toPath, "v3\nclasses 99\n")
    RegistryStore.compact(spark, root) // commits v3... so use pre-state
    // after the compact's reap, the crashed v2 tmp is gone; note the
    // compact committed v3, so the "in-flight" v3 tmp is now covered
    // too — assert on the v2 file (strictly stale at reap time)
    assert(!stale.exists(), "stale covered tmp manifest survived reaping")
    assert(classesKey(RegistryStore.readClasses(spark, root)).nonEmpty)
    d.unpersist()
  }

  test("concurrent writers: the losing commit throws at the rename, " +
    "the store stays uncorrupted, and the loser's generation is " +
    "reclaimed as an orphan") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_race").toString
    val d = docArrs.persist()
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 4 === 0)), root)
    // writer A snapshots the manifest, stages its delta generation...
    val mA = RegistryStore.currentManifest(spark, root)
    val gA = RegistryStore.nextGen(fs, root)
    graft.queries.Extensions.classesOf(d.filter(col("doc_id") % 4 === 1))
      .select(col("sig"), col("cnt"), col("min_id"), col("arr"))
      .write.parquet(f"$root/classes_g$gA%05d")
    // ...writer B lands a full append in the meantime (double-fired
    // scheduler) and commits version mA+1...
    RegistryStore.append(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 4 === 2)), root)
    val want = classesKey(RegistryStore.readClasses(spark, root))
    // ...so writer A's commit of the SAME next version must lose at
    // the atomic rename, loudly, without touching the live manifest
    val ex = intercept[IllegalStateException] {
      RegistryStore.commitManifest(fs, root,
        RegistryStore.Manifest(mA.version + 1, mA.classes :+ gA, mA.bands))
    }
    assert(ex.getMessage.contains("single-writer"),
      s"unexpected failure mode: ${ex.getMessage}")
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want,
      "the losing commit corrupted the live store")
    // A's staged generation is a plain orphan: invisible now,
    // reclaimed by the next maintenance pass
    RegistryStore.compact(spark, root)
    assert(!genDirs(root).contains(f"classes_g$gA%05d"),
      s"the losing writer's generation survived: ${genDirs(root)}")
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want)
    d.unpersist()
  }

  test("appendRetrying self-heals a lost commit race: the staged " +
    "generation is committed on retry, result equals sequential appends") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_retry").toString
    val d = docArrs.persist()
    val day0 = d.filter(col("doc_id") % 4 === 0)
    val dayA = d.filter(col("doc_id") % 4 === 1)
    val dayB = d.filter(col("doc_id") % 4 === 2)
    RegistryStore.write(graft.queries.Extensions.classesOf(day0), root)
    // inject writer B's append INSIDE writer A's commit window (first
    // attempt only): A's first commit of v2 loses to B's, A re-reads
    // the manifest (now v2) and lands v3 referencing its already-
    // staged generation — no data is rewritten
    var injected = false
    RegistryStore.appendImpl(
      graft.queries.Extensions.classesOf(dayA), root, 1, 5, () =>
        if (!injected) {
          injected = true
          RegistryStore.append(
            graft.queries.Extensions.classesOf(dayB), root)
        })
    assert(injected, "the race was never injected")
    val got = classesKey(RegistryStore.readClasses(spark, root))
    val want = classesKey(graft.queries.Extensions.appendRegistry(
      graft.queries.Extensions.appendRegistry(
        graft.queries.Extensions.classesOf(day0), dayB), dayA))
    assert(got == want,
      "retried commit diverged from the sequential-append result")
    // the final manifest references all three generations
    val m = RegistryStore.currentManifest(spark, root)
    assert(m.classes.length == 3, s"manifest classes gens: ${m.classes}")
    d.unpersist()
  }

  test("append racing a compact: the stale appender's commit throws, " +
    "the compacted store is intact") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_race2").toString
    val d = docArrs.persist()
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 0)), root)
    RegistryStore.append(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 1)), root)
    // the appender snapshots v2, then the maintenance compact lands v3
    val mStale = RegistryStore.currentManifest(spark, root)
    RegistryStore.compact(spark, root)
    val want = classesKey(RegistryStore.readClasses(spark, root))
    intercept[IllegalStateException] {
      RegistryStore.commitManifest(fs, root,
        RegistryStore.Manifest(mStale.version + 1,
          mStale.classes, mStale.bands))
    }
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want,
      "the stale appender's losing commit corrupted the compacted store")
    d.unpersist()
  }

  test("same-version commit interleave: a concurrent writer landing a " +
    "full commit inside another's publish window cannot hijack its " +
    "staging file — the slower writer loses loudly, the winner's body " +
    "is live, the loser's tmp is reclaimed") {
    // The round-14 fixed tmp path (.tmp_vNNNNN, create(overwrite=true))
    // let writer B overwrite writer A's staged body, after which A's
    // rename published B's manifest under A's success. The per-attempt
    // nonce makes each writer rename only bytes it wrote itself.
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_tmprace").toString
    val d = docArrs.persist()
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 4 === 0)), root)
    val mA = RegistryStore.currentManifest(spark, root)
    val gA = RegistryStore.nextGen(fs, root)
    graft.queries.Extensions.classesOf(d.filter(col("doc_id") % 4 === 1))
      .select(col("sig"), col("cnt"), col("min_id"), col("arr"))
      .write.parquet(f"$root/classes_g$gA%05d")
    // A enters commitManifest for version mA+1; B's FULL append (its
    // own staging + commit of the same version) lands between A's tmp
    // write and A's rename
    val ex = intercept[IllegalStateException] {
      RegistryStore.commitManifestImpl(fs, root,
        RegistryStore.Manifest(mA.version + 1, mA.classes :+ gA, mA.bands),
        () => RegistryStore.append(graft.queries.Extensions.classesOf(
          d.filter(col("doc_id") % 4 === 2)), root))
    }
    assert(ex.getMessage.contains("single-writer"),
      s"unexpected failure mode: ${ex.getMessage}")
    // the LIVE manifest is B's, not A's (with the fixed tmp path A
    // would have "succeeded" and published B's body while reporting
    // its own generation committed — here the loser knows it lost)
    val live = RegistryStore.currentManifest(spark, root)
    assert(live.version == mA.version + 1 && !live.classes.contains(gA),
      s"hijacked commit: live manifest $live references the loser's $gA")
    // A's staged tmp is reclaimed; no stranded .tmp_v files remain
    val tmps = new java.io.File(s"$root/_manifests").listFiles()
      .map(_.getName).filter(_.startsWith(".tmp_v"))
    assert(tmps.isEmpty, s"stranded tmp staging files: ${tmps.toSeq}")
    d.unpersist()
  }

  test("appendRetrying skips its retry when the re-read manifest " +
    "already references the staged generation (no double count)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_dblpub").toString
    val d = docArrs.persist()
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val day0 = d.filter(col("doc_id") % 4 === 0)
    val dayA = d.filter(col("doc_id") % 4 === 1)
    RegistryStore.write(graft.queries.Extensions.classesOf(day0), root)
    val gA = RegistryStore.nextGen(fs, root) // the id the append will stage
    // inside A's commit window, a foreign commit publishes a manifest
    // that ALREADY references A's staged generation (the shape a
    // hijacked fixed-tmp race produced): A's own commit then loses,
    // and the retry must detect g is live and NOT append it again
    var injected = false
    RegistryStore.appendImpl(
      graft.queries.Extensions.classesOf(dayA), root, 1, 5, () =>
        if (!injected) {
          injected = true
          val m = RegistryStore.currentManifest(spark, root)
          RegistryStore.commitManifest(fs, root,
            RegistryStore.Manifest(m.version + 1, m.classes :+ gA, m.bands))
        })
    assert(injected)
    val m = RegistryStore.currentManifest(spark, root)
    assert(m.classes.count(_ == gA) == 1,
      s"staged generation referenced ${m.classes.count(_ == gA)}x: $m")
    val got = classesKey(RegistryStore.readClasses(spark, root))
    val want = classesKey(graft.queries.Extensions.appendRegistry(
      graft.queries.Extensions.classesOf(day0), dayA))
    assert(got == want, "double-published generation double-counted cnt")
    d.unpersist()
  }

  test("compact self-heals a lost commit race: the staged fold is " +
    "re-committed carrying the concurrently-appended delta, nothing " +
    "is lost and the band rewrite is not thrown away") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_cretry").toString
    val d = docArrs.persist()
    val day0 = d.filter(col("doc_id") % 4 === 0)
    val day1 = d.filter(col("doc_id") % 4 === 1)
    val dayX = d.filter(col("doc_id") % 4 === 2)
    RegistryStore.write(graft.queries.Extensions.classesOf(day0), root)
    RegistryStore.append(graft.queries.Extensions.classesOf(day1), root)
    // inject a concurrent daily append INSIDE the compactor's commit
    // window (first attempt only): the compact's v3 loses to the
    // append's v3, the retry re-reads, sees live classes extend its
    // snapshot by the delta generation, and commits fold+delta at v4
    var injected = false
    RegistryStore.compactImpl(spark, root, 1L << 20, reap = true, 5, () =>
      if (!injected) {
        injected = true
        RegistryStore.append(
          graft.queries.Extensions.classesOf(dayX), root)
      })
    assert(injected, "the race was never injected")
    val got = classesKey(RegistryStore.readClasses(spark, root))
    val want = classesKey(graft.queries.Extensions.appendRegistry(
      graft.queries.Extensions.appendRegistry(
        graft.queries.Extensions.classesOf(day0), day1), dayX))
    assert(got == want,
      "compact's retried commit lost the concurrent delta or the fold")
    // manifest shape: the fold generation FIRST, then the carried
    // delta — two class generations, not one (the delta folds next
    // time) and not three (days 0-1 are folded)
    val m = RegistryStore.currentManifest(spark, root)
    assert(m.classes.length == 2, s"manifest classes gens: ${m.classes}")
    // the carried delta's band files are still referenced
    assert(RegistryStore.readBands(spark, root)
      .select(col("sig")).distinct().count() == got.length)
    d.unpersist()
  }

  test("compact racing a foreign compact fails loudly: a fold cannot " +
    "be reconciled by reference") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_regstore_ccrace").toString
    val d = docArrs.persist()
    RegistryStore.write(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 0)), root)
    RegistryStore.append(graft.queries.Extensions.classesOf(
      d.filter(col("doc_id") % 2 === 1)), root)
    val want = classesKey(RegistryStore.readClasses(spark, root))
    var injected = false
    val ex = intercept[IllegalStateException] {
      RegistryStore.compactImpl(spark, root, 1L << 20, reap = true, 5, () =>
        if (!injected) {
          injected = true
          RegistryStore.compact(spark, root) // the foreign compactor wins
        })
    }
    assert(ex.getMessage.contains("concurrent compaction"),
      s"unexpected failure mode: ${ex.getMessage}")
    assert(classesKey(RegistryStore.readClasses(spark, root)) == want,
      "the losing compactor corrupted the live store")
    d.unpersist()
  }
}

/** A latch a task blocks on until it is interrupted (or released). */
object SettleLatch {
  private val latch = new java.util.concurrent.CountDownLatch(1)
  @volatile var interrupted = false
  def block(): Unit =
    try latch.await()
    catch { case e: InterruptedException => interrupted = true; throw e }
  def release(): Unit = latch.countDown()
}
