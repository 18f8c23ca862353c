package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, explode, floor, lit, split, transform}
import graft.streaming.{Cep, DocStreams, EventPattern, EventStreams}

/** One (repo, filename) file event for the q09-shaped CEP bench. */
case class FEv(repo: String, filename: String, status: String,
               ets: java.sql.Timestamp)
/** One token row for the heavy-hitter bench. */
case class Tok(tok: String)
/** One (doc, source) row for the domain-cap / source-tf benches. */
case class SrcDoc(doc_id: Long, text: String, source: String)

/** Dev tool: throughput of EVERY public streaming operator over the
  * real sf events/documents/embeddings/customer tables, fed through
  * MemoryStream in micro-batches and written to the noop sink —
  * isolates pipeline + state-store cost from source/sink IO.
  * Stateful twins run under BOTH state-store providers; stateless
  * twins once. Prints one JSON line and (when `STREAM_BENCH_OUT` is
  * set) writes the BENCH_STREAM artifact.
  *
  * Partition sizing: each stateful query's shuffle partitions are
  * DERIVED from its expected live state volume via
  * [[Knobs.streamStateParts]] (the measured PERF.md rule — the
  * per-micro-batch per-partition state-store commit constant makes
  * core-count partitioning a 2.6x loss on small state). The
  * `STREAM_PARTS` env var force-overrides for A/B repro runs. */
object StreamingBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val batchRows = 10000
    val spark: SparkSession = Sessions.local(32)
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    /** State+trigger-volume-derived partition count (env-
      * overridable) — the Knobs.streamStateParts rule. */
    def setParts(expectedStateRows: Long, triggerRows: Long = 0L): Unit = {
      val p = sys.env.get("STREAM_PARTS").map(_.toInt)
        .getOrElse(Knobs.streamStateParts(expectedStateRows,
          triggerRows = triggerRows))
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    }

    val events = Tables.events(spark, sfDir).as[Ev]
      .collect().sortBy(_.ts.getTime).toSeq
    val nUsers = events.map(_.user_id).distinct.length.toLong
    val spanHours = math.max(1L,
      (events.last.ts.getTime - events.head.ts.getTime) / 3600000L)
    val evPerHour = events.length / spanHours
    println(s"events: ${events.length} rows, batch=$batchRows, " +
      s"users=$nUsers, span=${spanHours}h")

    // document-shaped feeds (shared by many twins)
    val docRows = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    val docs = docRows.map { case (id, tx, lg, _) => Doc(id, tx, lg) }
    val srcDocs = docRows.map { case (id, tx, _, s) => SrcDoc(id, tx, s) }
    val tsDocs = docRows.map { case (id, tx, _, _) =>
      SDoc(id, tx, new java.sql.Timestamp(1700000000000L + id * 1000)) }
    val nSources = docRows.map(_._4).distinct.length.toLong

    // corpus statistics that size the big stateful twins' stores
    // (computed once, batch): distinct tokens / skip-gram pairs /
    // bigrams / (source, term) types — exactly each twin's state rows
    val docsDf = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"lang", $"source").persist()
    val nVocab = docsDf.select(explode(split($"text", " ")).as("t"))
      .agg(org.apache.spark.sql.functions.countDistinct($"t")).as[Long].head()
    val nPairs = docsDf.select(split($"text", " ").as("tk"))
      .select(explode(graft.queries.Extensions.skipGramPairs).as("p"))
      .agg(org.apache.spark.sql.functions.countDistinct($"p")).as[Long].head()
    val nBigrams = docsDf
      .select(explode(graft.queries.Extensions.bigramsExpr).as("bg"))
      .agg(org.apache.spark.sql.functions.countDistinct($"bg")).as[Long].head()
    val nSrcTerms = docsDf
      .select($"source", explode(split($"text", " ")).as("t"))
      .agg(org.apache.spark.sql.functions.countDistinct($"source", $"t"))
      .as[Long].head()
    println(s"docs: ${docs.length}, vocab=$nVocab, pairs=$nPairs, " +
      s"bigrams=$nBigrams, srcTerms=$nSrcTerms, sources=$nSources")

    // name -> (unit rate, seconds, fed rows, unit); insertion-ordered
    val results = scala.collection.mutable
      .LinkedHashMap[String, (Double, Double, Long, String)]()
    def report(name: String, n: Long, sec: Double, unit: String): Unit = {
      results(name) = (n / sec, sec, n, unit)
      println(f"$name%-28s ${n / sec}%,10.0f $unit%s  ($sec%.2f s, $n rows)")
    }

    /** Generic runner: feed `feed` through a MemoryStream in `batch`-
      * row chunks into `q`, noop sink, report fed-rows/s. */
    def runFeed[T <: Product : org.apache.spark.sql.Encoder](
        name: String, feed: Seq[T], q: DataFrame => DataFrame,
        mode: String, stateRows: Long, unit: String,
        batch: Int): Unit = {
      setParts(stateRows, batch.toLong)
      val in = MemoryStream[T]
      val sq = q(in.toDF()).writeStream.format("noop")
        .outputMode(mode).start()
      val t0 = System.nanoTime()
      feed.grouped(batch).foreach { chunk =>
        in.addData(chunk)
        sq.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, feed.length.toLong, sec, unit)
    }

    def run(name: String, q: DataFrame => DataFrame, mode: String,
            stateRows: Long): Unit =
      runFeed[Ev](name, events, q, mode, stateRows, "rows/s", batchRows)
    def runDocs(name: String, q: DataFrame => DataFrame, mode: String,
                stateRows: Long): Unit =
      runFeed[Doc](name, docs, q, mode, stateRows, "docs/s", 1000)

    def runJoin(name: String): Unit = {
      // both sides buffer ~the join window (1h + 30m) of event-time
      setParts(2L * 2L * evPerHour, batchRows.toLong)
      val inA = MemoryStream[Ev]
      val inB = MemoryStream[Ev]
      val sq = EventStreams.purchaseContext(inA.toDF(), inB.toDF())
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      events.grouped(batchRows).foreach { chunk =>
        inA.addData(chunk); inB.addData(chunk)
        sq.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, events.length.toLong, sec, "rows/s/side")
    }

    // Same operator set under each state-store provider (the
    // providerClass conf binds at query start, so one session can
    // benchmark both back to back). HDFS-backed = on-heap, the
    // small-state winner; RocksDB = off-heap/disk with bounded heap,
    // the scale path once per-partition state outgrows memory.
    val providers = sys.env.get("SPARK_GRAFT_STATE_STORE")
      .map(f => Seq(f.toLowerCase)).getOrElse(Seq("hdfs", "rocksdb"))
    // dev filter: STREAM_ONLY=neardup_srp,cep_q09 restricts the twin
    // set (prefix match, provider suffix excluded)
    val only = sys.env.get("STREAM_ONLY").map(_.split(",").toSet)
    def sel(twin: String): Boolean = only.forall(_.exists(twin.startsWith))
    providers.foreach { p =>
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        Sessions.stateStoreProviders(p))
      println(s"-- state store: $p --")
      // warm once (JIT + state store init) then measure
      run("warmup", EventStreams.runningTypeCounts, "update", 8L)
      results.remove("warmup")
      if (sel("running_counts"))
        run(s"running_counts[$p]", EventStreams.runningTypeCounts, "update",
          8L) // state = one counter per distinct event type
      if (sel("daily_revenue"))
        run(s"daily_revenue[$p]", EventStreams.dailyTypeRevenue, "append",
          spanHours / 24 * 8L) // one row per (day, type) window
      if (sel("dedup_1h"))
        run(s"dedup_1h[$p]",
          EventStreams.dedupStream(_, "1 hour", Seq("event_id")), "append",
          evPerHour) // live rows = one horizon's worth of ids
      if (sel("sessions_30m"))
        run(s"sessions_30m[$p]", EventStreams.userSessions, "append",
          nUsers) // live sessions <= users
      if (sel("latest_state"))
        run(s"latest_state[$p]", EventStreams.latestState, "update",
          nUsers) // one latest row per user
      if (sel("funnel"))
        run(s"funnel[$p]", EventStreams.funnelStream(_, lateness = "1 second"),
          "append", nUsers) // per-user chain + lateness buffer
      if (sel("retention"))
        run(s"retention[$p]",
          EventStreams.retentionStream(_, lateness = "1 second"), "append",
          nUsers) // per-user cohort + emitted offsets
      if (sel("scd2"))
        run(s"scd2[$p]", EventStreams.scd2Stream(_, lateness = "1 second"),
          "append", nUsers) // per-user open interval
      if (sel("interval_join")) runJoin(s"interval_join[$p]")
      if (sel("cep_q09")) runCepQ09(s"cep_q09[$p]")
      if (sel("exact_dedup_docs")) runExactDedup(s"exact_dedup_docs[$p]")
      if (sel("heavy_hitters")) runHeavyHitters(s"heavy_hitters[$p]")
      if (sel("hh_candidates"))
        runDocs(s"hh_candidates[$p]", DocStreams.hhCandidates(_), "update",
          1L) // ONE Misra-Gries summary row
      if (sel("vocab_counts"))
        runDocs(s"vocab_counts[$p]", DocStreams.vocabCounts, "update",
          nVocab) // one counter per distinct token
      if (sel("ppmi_pairs"))
        runDocs(s"ppmi_pairs[$p]", DocStreams.ppmiPairCountStream, "update",
          nPairs) // one counter per distinct skip-gram pair type
      if (sel("source_tf"))
        runFeed[SrcDoc](s"source_tf[$p]", srcDocs, DocStreams.sourceTfStream,
          "update", nSrcTerms, "docs/s", 1000)
      if (sel("domain_cap"))
        runFeed[SrcDoc](s"domain_cap[$p]", srcDocs,
          DocStreams.domainCapStream(_), "append",
          nSources * 10L, "docs/s", 1000) // K kept per source
      if (sel("novelty"))
        runFeed[SDoc](s"novelty[$p]", tsDocs,
          DocStreams.noveltyStream(_, "1 hour"), "append",
          nBigrams, "docs/s", 1000) // in-horizon distinct bigrams
      if (sel("ccnet_bucket")) runCcnet(s"ccnet_bucket[$p]")
      if (sel("neardup_lsh")) runNearDup(s"neardup_lsh[$p]")
      // 10x state: corpus replicated with per-copy token salts (each
      // copy gets fresh signatures → fresh band buckets) under a
      // horizon long enough that nothing expires — the memory-bounded
      // claim for RocksDB is measured, not asserted
      if (sel("neardup_lsh_10x"))
        runNearDupScaled(s"neardup_lsh_10x[$p]", mult = 10, horizon = "24 hours")
      if (sel("neardup_srp")) runSrpNearDup(s"neardup_srp[$p]")
      // 10x SRP state: per-copy dimension rotation gives each copy
      // fresh signatures (band state really grows 10x) — proves the
      // sizing rule's state term holds as the horizon's state grows
      if (sel("neardup_srp_10x"))
        runSrpNearDupScaled(s"neardup_srp_10x[$p]", mult = 10,
          horizon = "24 hours")
      // the lateness surface (round 15 closes the last unpriced
      // streaming operators): Flink allowedLateness as a first-class
      // operator, the per-bucket late tagger, and the ticked-filter
      // composition under a windowed aggregation
      if (sel("allowed_lateness")) runAllowedLateness(s"allowed_lateness[$p]")
      if (sel("tag_late")) runTagLate(s"tag_late[$p]")
      if (sel("filter_ticked"))
        run(s"filter_ticked[$p]", { df =>
          // filter-without-a-Filter-node, then the clock, then the
          // heartbeat drop, then a daily windowed count — the
          // CommitStreamsSpec composition at corpus rate
          val hb = graft.streaming.WatermarkTicks.filterTicked(
            df, col("value") > 50, "ts", Seq("event_type"))
            .withWatermark("ts", "1 hour")
          graft.streaming.WatermarkTicks.dropTicks(hb, "event_type", "ts")
            .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 day"),
              col("event_type"))
            .count()
        }, "append", spanHours / 24 * 8L) // one row per (day, type)
    }
    // stateless ops once (no state store involved; partitions sized
    // to the feed's work, not to state)
    println("-- stateless --")
    // stateless twins hold no state store; partitions only size the
    // stream-static join side (fingerprint/linkage registries) — the
    // plain default, not the state rule
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("STREAM_PARTS", "8"))
    if (sel("pii_redact")) runRedact("pii_redact[stateless]")
    if (sel("gopher_repetition"))
      runDocs("gopher_repetition[stateless]",
        DocStreams.gopherRepetitionStream(_), "append", 0L)
    if (sel("decontam_flags")) {
      // benchmark side input: the first doc's bigrams (the x24 shape)
      val benchBgs = docs.head.text.split(" ").sliding(2)
        .map(_.mkString(" ")).toSeq.distinct.take(100)
      runDocs("decontam_flags[stateless]",
        DocStreams.decontamFlags(_, benchBgs), "append", 0L)
    }
    if (sel("stratified_sample")) {
      val rates = DocStreams.strataRates(docsDf, target = 1000L).persist()
      rates.count()
      runDocs("stratified_sample[stateless]",
        DocStreams.stratifiedSample(_, rates), "append", 0L)
      rates.unpersist()
    }
    if (sel("chunk"))
      runDocs("chunk[stateless]", DocStreams.chunkStream(_), "append", 0L)
    if (sel("encode")) {
      // frozen vocab: the corpus's top tokens by frequency
      val vocab = docsDf.select(explode(split($"text", " ")).as("t"))
        .groupBy($"t").count().orderBy($"count".desc, $"t").limit(10000)
        .as[(String, Long)].collect().zipWithIndex
        .map { case ((t, _), i) => t -> (i + 1).toLong }.toMap
      runDocs("encode[stateless]", DocStreams.encodeStream(_, vocab),
        "append", 0L)
    }
    if (sel("dsir_score")) {
      val model = graft.queries.Extensions.dsirWeightModel(spark, docsDf)
        .persist()
      model.count()
      runDocs("dsir_score[stateless]", DocStreams.dsirScoreStream(_, model),
        "append", 0L)
      model.unpersist()
    }
    if (sel("oov_score")) {
      val voc = graft.queries.Extensions.oovVocab(docsDf).persist()
      voc.count()
      runDocs("oov_score[stateless]", DocStreams.oovScoreStream(_, voc),
        "append", 0L)
      voc.unpersist()
    }
    if (sel("boilerplate_scrub")) {
      val spanArr = graft.queries.Extensions.topDupSpans(docsDf, k = 64)
        .persist()
      spanArr.count()
      runDocs("boilerplate_scrub[stateless]",
        DocStreams.boilerplateScrubStream(_, spanArr), "append", 0L)
      spanArr.unpersist()
    }
    if (sel("fuzzy_decontam")) {
      val bench = docsDf.filter($"doc_id" < 50)
        .select($"doc_id".as("bench_id"), $"text")
      val bands = DocStreams.benchBands(bench).persist()
      bands.count()
      runDocs("fuzzy_decontam[stateless]",
        DocStreams.fuzzyDecontamStream(_, bands), "append", 0L)
      bands.unpersist()
    }
    if (sel("fingerprint_match")) runFingerprintMatch()
    // hosts three twins, each sel-gated inside — invoke when ANY is
    // selected (selecting only proto_prune/ivfpq_encode used to run
    // nothing)
    if (sel("classify") || sel("proto_prune") || sel("ivfpq_encode"))
      runVecModelTwins()
    if (sel("linkage")) runLinkage()

    emitArtifact()
    spark.stop()

    // one-line artifact (the BENCH_r* discipline for the stream half)
    def emitArtifact(): Unit = {
      val twinsJson = results.map { case (n, (rps, sec, rows, unit)) =>
        f""""$n":{"rate":$rps%.1f,"unit":"$unit%s","sec":$sec%.3f,"rows":$rows}"""
      }.mkString("{", ",", "}")
      // rates in different units (docs/s vs toks/s vs vecs/s) are not
      // comparable, so "slowest" is reported PER UNIT GROUP
      val slowestByUnit = results.groupBy(_._2._4).toSeq.sortBy(_._1)
        .map { case (unit, rs) =>
          s""""$unit":"${rs.minBy(_._2._1)._1}"""" }
        .mkString("{", ",", "}")
      val json = s"""{"metric":"stream_throughput","unit":"rows_per_s",""" +
        s""""sf":"$sfDir","batch_rows":$batchRows,""" +
        s""""parts":"state-derived (Knobs.streamStateParts)",""" +
        s""""slowest_by_unit":$slowestByUnit,"twins":$twinsJson}"""
      println(json)
      sys.env.get("STREAM_BENCH_OUT").foreach { p =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n")
      }
    }

    // Flink allowedLateness as a first-class operator over the event
    // feed: daily windows per event type, 1h allowance, count fold.
    // State = one (agg, fires) pair per OPEN (type, day) window —
    // windows live one allowance past their end, so ~2 days of window
    // keys per type are live at once.
    def runAllowedLateness(name: String): Unit = {
      setParts(8L * 2L, batchRows.toLong)
      val in = MemoryStream[Ev]
      val fires = graft.streaming.LateData
        .allowedLatenessAgg[Ev, String, Long](
          // contract: watermark = delay + allowance (= 0s + 1h)
          in.toDS().withWatermark("ts", "1 hour"),
          _.event_type, _.ts,
          java.time.Duration.ofDays(1), java.time.Duration.ofHours(1),
          0L, (n, _) => n + 1)
      val sq = fires.toDF().writeStream.format("noop")
        .outputMode("append").start()
      val t0 = System.nanoTime()
      events.grouped(batchRows).foreach { c =>
        in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, events.length.toLong, sec, "rows/s")
    }

    // the per-bucket bounded-out-of-orderness late tagger (Flink's
    // per-split watermark + sideOutputLateData fused): 8 shuffle
    // buckets, state = one max-ts long per bucket
    def runTagLate(name: String): Unit = {
      setParts(8L, batchRows.toLong)
      val in = MemoryStream[Ev]
      val sq = graft.streaming.LateData.tagLate(
          in.toDS(), (e: Ev) => e.ts.getTime, 3600000L,
          (e: Ev) => (e.user_id % 8).toInt)
        .toDF().writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      events.grouped(batchRows).foreach { c =>
        in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, events.length.toLong, sec, "rows/s")
    }

    // q09's CEP shape (added followedBy removed within 1 day, keyed
    // by (repo, filename)) over the real event feed: statuses
    // alternate by event id, ~10k live keys, watermark-timed NFA
    // state. Measures Cep.detect's flatMapGroupsWithState path — the
    // one streaming operator family the earlier bench never priced.
    def runCepQ09(name: String): Unit = {
      setParts(200L * 50L, batchRows.toLong) // ~10k live NFA keys
      val evs = events.map(e => FEv(s"r${e.user_id % 200}",
        s"f${e.event_id % 50}",
        if (e.event_id % 2 == 0) "added" else "removed", e.ts))
      val pattern = EventPattern.begin[FEv]("added")
        .where(_.status == "added")
        .followedBy("removed").where(_.status == "removed")
        .within(java.time.Duration.ofDays(1))
      val in = MemoryStream[FEv]
      val sq = Cep.detect(
          in.toDS().withWatermark("ets", "0 seconds"),
          (e: FEv) => (e.repo, e.filename), (e: FEv) => e.ets.getTime,
          pattern) { m =>
          val a = m("added").head
          (a.repo, a.filename)
        }.writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      evs.grouped(batchRows).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, evs.length.toLong, sec, "rows/s")
    }

    // x01's streaming twin over the real documents corpus:
    // dropDuplicatesWithinWatermark on content hash
    def runExactDedup(name: String): Unit = {
      setParts(3600L, 1000L) // 1h horizon at the feed's 1 doc/s timestamps
      val in = MemoryStream[SDoc]
      val sq = DocStreams.exactDedupStream(in.toDF(), "1 hour")
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      tsDocs.grouped(1000).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, tsDocs.length.toLong, sec, "docs/s")
    }

    // x46's Misra-Gries heavy hitters over the corpus token stream
    // (bucket-sharded flatMapGroupsWithState, bounded k counters per
    // bucket); tokens/s — the unit of arriving work
    def runHeavyHitters(name: String): Unit = {
      setParts(16L * 8L, 50000L) // buckets x k counters; 50k-token triggers
      val toks = Tables.documents(spark, sfDir)
        .select(explode(split($"text", " ")).as("tok"))
        .as[String].collect().map(Tok(_)).toSeq
      val in = MemoryStream[Tok]
      val sq = DocStreams.heavyHitterStream(in.toDF())
        .writeStream.format("noop").outputMode("update").start()
      val t0 = System.nanoTime()
      toks.grouped(50000).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, toks.length.toLong, sec, "toks/s")
    }

    // x87's streaming CCNet bucketer with a frozen model learned from
    // the same corpus (per-bigram bits broadcast in-plan, per-lang
    // tercile thresholds as a broadcast join)
    def runCcnet(name: String): Unit = {
      val training = docsDf.select($"doc_id", $"text", $"lang")
      val bits = graft.queries.Extensions.lmBigramBits(training)
        .as[(String, Long)].collect().toMap
      val thr = graft.queries.Extensions.ccnetThresholds(
        graft.queries.Extensions.ccnetBuckets(training)
          .select(col("lang"),
            org.apache.spark.sql.functions.expr(
              s"spb div ${graft.queries.Extensions.CcnetHb}").as("hb")))
        .persist()
      thr.count()
      val in = MemoryStream[Doc]
      val sq = DocStreams.ccnetBucketStream(in.toDF(), bits, 99L, thr)
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      docs.grouped(1000).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop(); thr.unpersist()
      report(name, docs.length.toLong, sec, "docs/s")
    }

    // streaming near-dup over the real documents corpus (synthetic
    // ascending timestamps): per-row minhash projection + band-state
    // lookup; docs/s, not rows/s — each doc explodes to 4 band rows
    def runNearDup(name: String): Unit = {
      setParts(docs.length * 5L, 1000L) // 4 band reps + dedup rows per doc
      val in = MemoryStream[SDoc]
      val sq = graft.streaming.NearDup.nearDupStream(in.toDF(), "1 hour")
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      tsDocs.grouped(1000).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, tsDocs.length.toLong, sec, "docs/s")
    }

    // the near-dup band-state workload at `mult`x the state volume:
    // every corpus copy is token-salted so its signatures (hence its
    // band buckets) are distinct, and the horizon outlives the whole
    // feed so the state store really holds mult x the buckets
    def runNearDupScaled(name: String, mult: Int, horizon: String): Unit = {
      setParts(docs.length * mult * 5L, 1000L)
      val base = docs.map(d => (d.doc_id, d.text))
      val n = base.length
      val feed = (0 until mult).flatMap { r =>
        base.map { case (id, tx) =>
          SDoc(id + r.toLong * n, s"$tx salt_r$r",
            new java.sql.Timestamp(1700000000000L + (id + r.toLong * n) * 1000))
        }
      }.sortBy(_.ts.getTime)
      val in = MemoryStream[SDoc]
      val sq = graft.streaming.NearDup.nearDupStream(in.toDF(), horizon)
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      feed.grouped(1000).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, feed.length.toLong, sec, "docs/s")
    }

    // streaming SRP near-dup over the real embeddings (synthetic
    // ascending timestamps): native per-row signature + band-state
    // lookup holding the rep's quantized vector. Feed batch default
    // is the AMORTIZING size (the per-batch state commit constant
    // dominates tiny batches; 500-row batches measured 1.9x slower).
    def runSrpNearDup(name: String): Unit = {
      val vecs = Tables.embeddings(spark, sfDir)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
        .map { case (id, v) =>
          SVec(id, v, new java.sql.Timestamp(1700000000000L + id * 1000)) }
        .sortBy(_.ts.getTime).toSeq
      val srpBatch = sys.env.getOrElse("STREAM_SRP_BATCH", "2000").toInt
      setParts(vecs.length * 4L, srpBatch.toLong) // 4 SRP band reps per vector
      val in = MemoryStream[SVec]
      val sq = graft.streaming.NearDup.srpNearDupStream(in.toDF(), "1 hour")
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      vecs.grouped(srpBatch).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, vecs.length.toLong, sec, "vecs/s")
    }

    // the SRP band-state workload at `mult`x the state volume: each
    // corpus copy's vectors are dimension-rotated so their SRP
    // signatures (hence band buckets) are distinct, and the horizon
    // outlives the feed so the store really holds mult x the reps
    def runSrpNearDupScaled(name: String, mult: Int,
                            horizon: String): Unit = {
      val base = Tables.embeddings(spark, sfDir)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      val n = base.length
      val srpBatch = sys.env.getOrElse("STREAM_SRP_BATCH", "2000").toInt
      setParts(n.toLong * mult * 4L, srpBatch.toLong)
      val feed = (0 until mult).flatMap { r =>
        base.map { case (id, v) =>
          val rot = Array.tabulate(v.length)(i => v((i + r) % v.length))
          SVec(id + r.toLong * n, rot,
            new java.sql.Timestamp(1700000000000L + (id + r.toLong * n) * 1000))
        }
      }.sortBy(_.ts.getTime)
      val in = MemoryStream[SVec]
      val sq = graft.streaming.NearDup.srpNearDupStream(in.toDF(), horizon)
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      feed.grouped(srpBatch).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, feed.length.toLong, sec, "vecs/s")
    }

    // stateless PII redaction over customer-shaped records
    def runRedact(name: String): Unit = {
      val recs = Tables.customer(spark, sfDir)
        .select($"c_custkey".as("doc_id"),
          org.apache.spark.sql.functions.concat($"c_name",
            org.apache.spark.sql.functions.lit(" segment="),
            $"c_mktsegment").as("rec"))
        .as[(Long, String)].collect().map { case (id, r) => Rec(id, r) }.toSeq
      val in = MemoryStream[Rec]
      val sq = graft.streaming.DocStreams.redactRecords(in.toDF())
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      recs.grouped(5000).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop()
      report(name, recs.length.toLong, sec, "recs/s")
    }

    // x90/x91's streaming face: arrivals probe a frozen fingerprint
    // class registry through the banded Hamming join. Fingerprints
    // are 64-bit content hashes of the real corpus (the registry's
    // cost shape — band explode + equi-join + Hamming verify — is
    // hash-source-agnostic, so no codec in the loop).
    def runFingerprintMatch(name: String = "fingerprint_match[stateless]")
        : Unit = {
      def ahOf(text: String): Long = {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes("UTF-8"))
        java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      }
      val hashed = docs.map(d => (d.doc_id, ahOf(d.text)))
      val registry = graft.queries.Extensions.fingerprintClasses(
        hashed.toDF("doc_id", "ah")).persist()
      registry.count()
      val in = MemoryStream[(Long, Long)]
      val sq = DocStreams.fingerprintMatchStream(
          in.toDF().toDF("id", "ah"), registry)
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      hashed.grouped(1000).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop(); registry.unpersist()
      report(name, hashed.length.toLong, sec, "docs/s")
    }

    // the frozen-vector-model family over the real embeddings:
    // centroid classify (x38), prototypicality prune (x85) and
    // IVF-PQ index encode (x80) — all stateless broadcast projections
    def runVecModelTwins(): Unit = {
      val quant = transform(col("embedding"),
        x => floor(x * lit(1000)).cast("long"))
      val labeled = Tables.embeddings(spark, sfDir)
        .select($"vec_id", $"label", quant.as("qv")).persist()
      labeled.count()
      val feed = labeled.as[(Long, Int, Seq[Long])].collect().sortBy(_._1).toSeq
      // x38 classify against the per-label sum centroids
      val cents = graft.queries.Extensions.sumCentroids(
        labeled.withColumnRenamed("label", "clabel")).persist()
      cents.count()
      if (sel("classify")) {
        val in = MemoryStream[(Long, Seq[Long])]
        val sq = DocStreams.classifyStream(
            in.toDF().toDF("vec_id", "qv"), cents)
          .writeStream.format("noop").outputMode("append").start()
        val t0 = System.nanoTime()
        feed.map(v => (v._1, v._3)).grouped(500)
          .foreach { c => in.addData(c); sq.processAllAvailable() }
        val sec = (System.nanoTime() - t0) / 1e9
        sq.stop()
        report("classify[stateless]", feed.length.toLong, sec, "vecs/s")
      }
      // x85 prototypicality pruning against centroids + thresholds
      if (sel("proto_prune")) {
        val pcents = cents.withColumnRenamed("clabel", "label")
        val thr = graft.queries.Extensions.protoThresholds(
          graft.queries.Extensions.protoScore(labeled, pcents), 250L)
          .persist()
        thr.count()
        val in = MemoryStream[(Long, Int, Seq[Long])]
        val sq = DocStreams.protoPruneStream(
            in.toDF().toDF("vec_id", "label", "qv"), pcents, thr)
          .writeStream.format("noop").outputMode("append").start()
        val t0 = System.nanoTime()
        feed.grouped(500).foreach { c => in.addData(c); sq.processAllAvailable() }
        val sec = (System.nanoTime() - t0) / 1e9
        sq.stop(); thr.unpersist()
        report("proto_prune[stateless]", feed.length.toLong, sec, "vecs/s")
      }
      // x80 IVF-PQ index-row encode against frozen cent + codebook
      if (sel("ivfpq_encode")) {
        val vonly = labeled.select($"vec_id", $"qv")
        val icents = graft.queries.Extensions.ivfPqCentModel(vonly).persist()
        icents.count()
        val rcb = graft.queries.Extensions.ivfPqCodebook(
          graft.queries.Extensions.ivfPqAssign(vonly, icents)).persist()
        rcb.count()
        val in = MemoryStream[(Long, Seq[Long])]
        val sq = DocStreams.ivfPqEncodeStream(
            in.toDF().toDF("vec_id", "qv"), icents, rcb)
          .writeStream.format("noop").outputMode("append").start()
        val t0 = System.nanoTime()
        feed.map(v => (v._1, v._3)).grouped(500)
          .foreach { c => in.addData(c); sq.processAllAvailable() }
        val sec = (System.nanoTime() - t0) / 1e9
        sq.stop(); icents.unpersist(); rcb.unpersist()
        report("ivfpq_encode[stateless]", feed.length.toLong, sec, "vecs/s")
      }
      cents.unpersist(); labeled.unpersist()
    }

    // x75's streaming face: dirty records link against the static
    // canonical registry (broadcast blocked form + levenshtein verify)
    def runLinkage(name: String = "linkage[stateless]"): Unit = {
      val recs = Tables.customer(spark, sfDir)
        .select($"c_custkey",
          org.apache.spark.sql.functions.concat($"c_name",
            org.apache.spark.sql.functions.lit(" "),
            $"c_mktsegment").as("rec"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val registry = recs.toDF("a_id", "a_rec").persist()
      registry.count()
      val in = MemoryStream[(Long, String)]
      val sq = DocStreams.linkageStream(
          in.toDF().toDF("b_id", "b_rec"), registry)
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      recs.grouped(2000).foreach { c => in.addData(c); sq.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      sq.stop(); registry.unpersist()
      report(name, recs.length.toLong, sec, "recs/s")
    }
  }
}
