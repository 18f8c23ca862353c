package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** The at-rest IVF-PQ index ([[AnnStore]]): the frozen-model append
  * lemma (append ≡ encode-union-against-frozen-model, the x95 shape
  * the x99 gate oracle-pins), the probe's partition pruning proven
  * from the physical scan, the [[RegistryStore]]-shaped crash-window
  * and writer-race pins, and the DRIFT AUDIT — recall@5 of an
  * appended index (models frozen on history) vs a full rebuild on
  * the union, on the clustered corpus recall is meaningful on
  * (the x98 regime). */
class AnnStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val E = graft.queries.Extensions
  private val Sf = "/root/testdata/sf0.001"

  private def quantized = Tables.embeddings(spark, Sf)
    .select(col("vec_id"),
      transform(col("embedding"), x => floor(x * lit(1000)).cast("long"))
        .as("qv"))

  private def halves(v: org.apache.spark.sql.DataFrame) = {
    val h = v.agg(expr("count(1) div 2").as("h"))
    (v.crossJoin(broadcast(h)).filter(col("vec_id") < col("h"))
       .select(col("vec_id"), col("qv")),
     v.crossJoin(broadcast(h)).filter(col("vec_id") >= col("h"))
       .select(col("vec_id"), col("qv")))
  }

  private def codesKey(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"), col("cid").cast("long"),
        concat_ws(" ", col("codes").cast("array<string>")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq

  private def tempRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_annstore_$tag").toString

  private def genDirs(root: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq.map(_.getName)
      .filter(n => n.startsWith("model_g") || n.startsWith("codes_g"))
      .sorted

  test("append lemma: build(hist) + append(delta) reads back exactly " +
    "the union encoded against the frozen history model") {
    val v = quantized.persist(); v.count()
    val (hist, delta) = halves(v)
    val root = tempRoot("lemma")
    AnnStore.build(hist, root)
    AnnStore.append(delta, root)
    val model = AnnStore.readModel(spark, root)
    val want = codesKey(E.ivfPqEncodeDf(
      E.ivfPqAssign(v, model.select(col("cmodel"), col("cflat"))),
      model.select(col("rmodel"), col("rflat"))))
    assert(codesKey(AnnStore.readCodes(spark, root)) == want)
    // and the lemma survives compaction (the fold never re-encodes)
    AnnStore.compact(spark, root)
    assert(codesKey(AnnStore.readCodes(spark, root)) == want)
    v.unpersist()
  }

  test("an empty append leaves a codes generation without files; the " +
    "index stays readable and compactable") {
    val v = quantized.persist(); v.count()
    val root = tempRoot("empty_append")
    AnnStore.build(v, root)
    val want = codesKey(AnnStore.readCodes(spark, root))
    AnnStore.append(v.filter(lit(false)), root)
    assert(AnnStore.currentManifest(spark, root).codes.length == 2)
    assert(AnnStore.readCodes(spark, root).count() == want.length)
    assert(codesKey(AnnStore.readCodes(spark, root)) == want)
    AnnStore.compact(spark, root)
    assert(codesKey(AnnStore.readCodes(spark, root)) == want)
    v.unpersist()
  }

  test("building readCodes and readModel starts no Spark job") {
    val v = quantized.persist(); v.count()
    val (hist, delta) = halves(v)
    val root = tempRoot("nojobs")
    AnnStore.build(hist, root)
    AnnStore.append(delta, root)
    val (codes, codeJobs) = TestSpark.jobsOf(AnnStore.readCodes(spark, root))
    val (model, modelJobs) = TestSpark.jobsOf(AnnStore.readModel(spark, root))
    assert(codeJobs == 0 && modelJobs == 0, s"readCodes $codeJobs, readModel $modelJobs jobs")
    assert(codes.columns.toSeq == Seq("vec_id", "codes", "cid"))
    assert(codes.count() == v.count())
    assert(model.count() == 1L)
    v.unpersist()
  }

  test("a probe's scan partition-prunes to the probed cell in EVERY " +
    "generation") {
    val v = quantized.persist(); v.count()
    val (hist, delta) = halves(v)
    val root = tempRoot("prune")
    AnnStore.build(hist, root)
    AnnStore.append(delta, root)
    val probe = AnnStore.readCodes(spark, root).filter(col("cid") === 2)
    val scans = probe.queryExecution.executedPlan.collectLeaves()
      .collect { case f: FileSourceScanExec => f }
    assert(scans.length == 2, s"one scan per generation, got ${scans.length}")
    scans.foreach { s =>
      assert(s.selectedPartitions.partitionCount <= 1,
        s"probe must prune to <=1 cell dir per generation, got " +
          s"${s.selectedPartitions.partitionCount}")
      assert(s.selectedPartitions.toPartitionArray.forall(
        _.filePath.toString.contains("cid=2")))
    }
    // lossless: pruned read equals the unpruned filter
    val all = AnnStore.readCodes(spark, root).collect()
      .count(_.getAs[Int]("cid") == 2)
    assert(probe.count() == all && all > 0)
    v.unpersist()
  }

  test("crash windows: an uncommitted generation is invisible and " +
    "reaped; reap=false leaves a readable store; an in-flight reader " +
    "keeps its snapshot across a compaction") {
    val v = quantized.persist(); v.count()
    val (hist, delta) = halves(v)
    val root = tempRoot("crash")
    AnnStore.build(hist, root)
    AnnStore.append(delta, root)
    val want = codesKey(AnnStore.readCodes(spark, root))
    // crashed writer: data staged, no manifest commit
    AnnStore.readCodes(spark, root).limit(3)
      .write.partitionBy("cid").parquet(s"$root/codes_g00099")
    assert(codesKey(AnnStore.readCodes(spark, root)) == want,
      "orphan generation leaked into the index read")
    // in-flight reader pins its file listing before the compact
    val inFlight = AnnStore.readCodes(spark, root)
    inFlight.queryExecution.executedPlan
    // post-commit/pre-reap crash window stays readable
    AnnStore.compact(spark, root, reap = false)
    assert(codesKey(AnnStore.readCodes(spark, root)) == want,
      "store unreadable in the post-commit crash window")
    assert(codesKey(inFlight) == want,
      "in-flight reader lost its snapshot across the compaction commit")
    // the next maintenance pass reclaims the orphan and stale gens
    AnnStore.compact(spark, root)
    val left = genDirs(root)
    assert(!left.contains("codes_g00099"),
      s"orphan generation survived reaping: $left")
    assert(!left.contains("codes_g00001") && !left.contains("codes_g00002"),
      s"out-of-retention generations survived: $left")
    assert(codesKey(AnnStore.readCodes(spark, root)) == want)
    v.unpersist()
  }

  test("append self-heals a lost commit race; compact carries a " +
    "concurrently-appended delta; a foreign compact fails loudly") {
    val v = quantized.persist()
    val n = v.count()
    val h = n / 2
    val q = n / 8 // three contiguous delta days out of the second half
    def range(lo: Long, hi: Long) =
      v.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("qv"))
    val hist = range(0, h)
    val (dayA, dayB, dayC) =
      (range(h, h + q), range(h + q, h + 2 * q), range(h + 2 * q, h + 3 * q))
    val root = tempRoot("race")
    AnnStore.build(hist, root)
    // append day A; inside its commit window day B's append lands
    var injected = false
    AnnStore.appendImpl(dayA, root, 5, () =>
      if (!injected) { injected = true; AnnStore.append(dayB, root) })
    assert(injected)
    val m1 = AnnStore.currentManifest(spark, root)
    assert(m1.codes.length == 3, s"manifest codes gens: ${m1.codes}")
    // readback = history + both days encoded against the frozen model
    val model = AnnStore.readModel(spark, root)
    def wantUpTo(hi: Long) = codesKey(E.ivfPqEncodeDf(
      E.ivfPqAssign(range(0, hi), model.select(col("cmodel"), col("cflat"))),
      model.select(col("rmodel"), col("rflat"))))
    assert(codesKey(AnnStore.readCodes(spark, root)) == wantUpTo(h + 2 * q),
      "retried append lost or duplicated a generation")
    // compact losing to a concurrent append: the fold re-commits
    // carrying day C's delta by reference
    var injected2 = false
    AnnStore.compactImpl(spark, root, reap = true, 5, () =>
      if (!injected2) { injected2 = true; AnnStore.append(dayC, root) })
    assert(injected2)
    assert(codesKey(AnnStore.readCodes(spark, root)) == wantUpTo(h + 3 * q),
      "compact's retried commit lost the concurrent delta or the fold")
    assert(AnnStore.currentManifest(spark, root).codes.length == 2)
    // a foreign compact under our feet is unreconcilable
    var injected3 = false
    val ex = intercept[IllegalStateException] {
      AnnStore.compactImpl(spark, root, reap = true, 5, () =>
        if (!injected3) { injected3 = true; AnnStore.compact(spark, root) })
    }
    assert(ex.getMessage.contains("concurrent compaction"),
      s"unexpected failure mode: ${ex.getMessage}")
    assert(codesKey(AnnStore.readCodes(spark, root)) == wantUpTo(h + 3 * q),
      "the losing compactor corrupted the live store")
    v.unpersist()
  }

  test("build rejects a corpus violating the dense seed-id prefix " +
    "contract loudly (a %4 split silently corrupted the codebook)") {
    val v = quantized
    val sparse = v.filter(col("vec_id") % 4 === 1)
      .select(col("vec_id"), col("qv"))
    val ex = intercept[IllegalArgumentException] {
      AnnStore.build(sparse, tempRoot("contract"))
    }
    assert(ex.getMessage.contains("seed contract"),
      s"unexpected failure mode: ${ex.getMessage}")
  }

  test("a build that fails after training releases its model caches") {
    // the centroid and codebook caches are filled, then the model write
    // fails: no LZO codec is on the classpath
    val (hist, _) = halves(quantized)
    val entries = TestSpark.cacheEntries
    val codec = "spark.sql.parquet.compression.codec"
    val was = spark.conf.get(codec)
    spark.conf.set(codec, "lzo")
    val ex = try intercept[Exception](AnnStore.build(hist, tempRoot("leak")))
      finally spark.conf.set(codec, was)
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).toLowerCase.contains("lzo")),
      s"the build failed before its model write: $ex")
    assert(TestSpark.cacheEntries == entries,
      "the failed build left its cents/rcb cache entries behind")
  }

  // ------------------------------------------------------- drift audit
  /** Mean recall@5 over the NumQueries probe queries: fraction of the
    * exact L2² top-5 (computed driver-side from the collected corpus —
    * the X80IvfPqSpec third-implementation discipline) found in the
    * served top-5. */
  private def meanRecall(served: org.apache.spark.sql.DataFrame,
                         vs: Array[(Long, Array[Long])]): Double = {
    val byId = vs.toMap
    val truth = vs.filter(_._1 < 10).map { case (qid, qv) =>
      qid -> vs.filter(_._1 != qid).map { case (id, xv) =>
        var d = 0L; var i = 0
        while (i < qv.length) { val t = qv(i) - xv(i); d += t * t; i += 1 }
        (d, id)
      }.sorted.take(5).map(_._2).toSet
    }.toMap
    val got = served.filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = truth.map { case (q, t) =>
      t.intersect(got.getOrElse(q, Set.empty)).size.toDouble / t.size }
    recalls.sum / recalls.size
  }

  test("drift audit: on the clustered corpus, the appended index " +
    "(models frozen on history) holds recall@5 within drift distance " +
    "of a full rebuild on the union") {
    val v = E.x98ClusteredCorpus(spark, Sf).persist(); v.count()
    val (hist, delta) = halves(v)
    val root = tempRoot("drift")
    AnnStore.build(hist, root)
    AnnStore.append(delta, root)
    val model = AnnStore.readModel(spark, root)
    val enc = AnnStore.readCodes(spark, root)
      .crossJoin(broadcast(model.select(col("rflat"))))
    val appended = E.ivfPqTopKFrozen(v,
      model.select(col("cmodel"), col("cflat")), enc)
    val rebuilt = E.ivfPqTopK(v)
    val vs = v.as[(Long, Array[Long])].collect()
    val rApp = meanRecall(appended, vs)
    val rReb = meanRecall(rebuilt, vs)
    info(f"recall@5 appended=$rApp%.2f rebuilt=$rReb%.2f")
    // in-distribution appends: the frozen model serves within 10pp of
    // a full re-train, and holds the x98 production floor
    assert(rApp >= rReb - 0.10,
      f"appended-index drift too large: $rApp%.2f vs rebuild $rReb%.2f")
    assert(rApp >= 0.90,
      f"appended index lost the clustered-corpus recall floor: $rApp%.2f")
    v.unpersist()
  }
}
