package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.queries.Extensions
import graft.streaming.DocStreams

case class Doc(doc_id: Long, text: String, lang: String)
case class Rec(doc_id: Long, rec: String)
case class LinkRec(b_id: Long, b_rec: String)
case class CapDoc(doc_id: Long, text: String, lang: String,
                  source: String, n_chars: Long)

/** Streaming twins of x24/x25: stateless decontamination flags and
  * stratified sampling over a MemoryStream, including batch/stream
  * agreement on the keep decision (same md5 bucket arithmetic). */
class DocStreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit lazy val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("decontam flags only docs sharing a benchmark bigram, across batches") {
    val in = MemoryStream[Doc]
    val q = DocStreams.decontamFlags(in.toDF(), Seq("bad gram", "other one"))
      .writeStream.format("memory").queryName("dc").outputMode("append").start()
    in.addData(
      Doc(1, "this is a bad gram indeed", "en"),
      Doc(2, "gram bad reversed is clean", "en"))
    q.processAllAvailable()
    in.addData(Doc(3, "late arrival with other one inside", "en"))
    q.processAllAvailable()
    val got = spark.table("dc").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true))
    q.stop()
  }

  test("stratified sample keeps full strata at rate 1000, none at rate 0") {
    val in = MemoryStream[Doc]
    val rates = Seq(("en", 1000L), ("de", 0L)).toDF("lang", "rate_pm")
    val q = DocStreams.stratifiedSample(in.toDF(), rates)
      .writeStream.format("memory").queryName("ss").outputMode("append").start()
    in.addData(
      Doc(1, "a b", "en"), Doc(2, "c d", "de"),
      Doc(3, "e f", "en"), Doc(4, "g h", "de"))
    q.processAllAvailable()
    val kept = spark.table("ss").select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 3L)))
    q.stop()
  }

  test("stream keep decision agrees with the batch x25 operator") {
    // same docs through the streaming sampler and a batch filter with
    // the same rates must keep the identical id set
    val docs = (1L to 200L).map(i => Doc(i, s"w$i", if (i % 2 == 0) "en" else "de"))
    val rates = DocStreams.strataRates(docs.toDF(), target = 30)
    val batchKept = DocStreams.stratifiedSample(docs.toDF(), rates)
      .select("doc_id").as[Long].collect().sorted

    val in = MemoryStream[Doc]
    val q = DocStreams.stratifiedSample(in.toDF(), rates)
      .writeStream.format("memory").queryName("agree").outputMode("append").start()
    in.addData(docs.take(100): _*)
    q.processAllAvailable()
    in.addData(docs.drop(100): _*)
    q.processAllAvailable()
    val streamKept = spark.table("agree").select("doc_id").as[Long]
      .collect().sorted
    assert(streamKept.sameElements(batchKept))
    // rates actually bite: strata are 100 docs against a target of 30
    assert(batchKept.length < docs.length && batchKept.nonEmpty)
    q.stop()
  }

  test("streaming redaction is bit-identical to the batch x32 expressions") {
    val rows = Seq(
      Rec(1, "mail me at a.b@x.org now"),
      Rec(2, "see https://ex.am/ple and id 98765432"),
      Rec(3, "nothing sensitive here"))
    val in = MemoryStream[Rec]
    val q = DocStreams.redactRecords(in.toDF())
      .writeStream.format("memory").queryName("px").outputMode("append").start()
    in.addData(rows.take(2): _*)
    q.processAllAvailable()
    in.addData(rows.drop(2): _*)
    q.processAllAvailable()
    val stream = spark.table("px")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    val batch = DocStreams.redactRecords(rows.toDF())
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(stream.sameElements(batch))
    val byId = stream.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == 1 && byId(1L)._5 == "mail me at <EMAIL> now")
    assert(byId(2L)._4 == 1 && byId(2L)._3 == 1 &&
      byId(2L)._5 == "see <URL> and id <NUM>")
    assert(byId(3L)._5 == "nothing sensitive here")
    q.stop()
  }

  test("streaming vocab counts accumulate across batches to the batch totals") {
    val in = MemoryStream[Doc]
    val q = DocStreams.vocabCounts(in.toDF())
      .writeStream.format("memory").queryName("vc").outputMode("complete").start()
    in.addData(Doc(1, "a b a", "en"), Doc(2, "b c", "en"))
    q.processAllAvailable()
    in.addData(Doc(3, "a c c d", "en"))
    q.processAllAvailable()
    val got = spark.table("vc").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 2L, "c" -> 3L, "d" -> 1L))
    q.stop()
  }

  test("streaming PPMI pair counts + snapshot scoring equal batch x77 on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val minCount = 5L // sf0.001 counts are ~10x under the gate corpus
    val expected = Extensions.ppmiPairs(docs, minCount)
      .as[(String, String, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "premise: batch PPMI non-empty at sf0.001")
    val rows = docs.select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect()
      .map { case (i, t, l) => Doc(i, t, l) }
    val in = MemoryStream[Doc]
    val q = DocStreams.ppmiPairCountStream(in.toDF())
      .writeStream.format("memory").queryName("ppc")
      .outputMode("complete").start()
    in.addData(rows.take(200).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(200).toIndexedSeq: _*)
    q.processAllAvailable()
    // score the state snapshot with the shared batch scorer
    val got = Extensions.pmiFromPairCounts(spark.table("ppc"), minCount)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == expected,
      s"stream-only: ${(got -- expected).take(5)}; " +
        s"batch-only: ${(expected -- got).take(5)}")
    q.stop()
  }

  test("streaming source-tf + snapshot signature scoring equal batch " +
    "x72 on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expected = Extensions.sourceSignatures(
        docs.select(col("source"),
          explode(split(col("text"), " ")).as("term")), 10, 16)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "premise: batch x72 non-empty at sf0.001")
    val rows = docs.select("doc_id", "text", "source")
      .as[(Long, String, String)].collect()
    val in = MemoryStream[(Long, String, String)]
    val q = DocStreams.sourceTfStream(
        in.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("stf")
      .outputMode("complete").start()
    in.addData(rows.take(150).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(150).toIndexedSeq: _*)
    q.processAllAvailable()
    // score a frozen copy of the state snapshot with the shared batch
    // scorer (a memory-sink view self-joins with conflicting
    // attribute ids; a real deployment scores a written-out snapshot)
    val snap = spark.table("stf").as[(String, String, Long)].collect()
      .toSeq.toDF("source", "term", "tf")
    val got = Extensions.signaturesFromTf(snap, 10, 16)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(got == expected,
      s"stream-only: ${(got -- expected).take(5)}; " +
        s"batch-only: ${(expected -- got).take(5)}")
    q.stop()
  }

  test("streaming token encoder agrees with the batch encodeTokens for a frozen vocab") {
    val docs = Seq(
      Doc(1, "a b oovword a", "en"),
      Doc(2, "b b c", "en"),
      Doc(3, "c a unseen b", "en"))
    val vocab = Map("a" -> 1L, "b" -> 2L, "c" -> 3L)
    val in = MemoryStream[Doc]
    val q = DocStreams.encodeStream(in.toDF(), vocab)
      .writeStream.format("memory").queryName("enc").outputMode("append").start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    val got = spark.table("enc").as[(Long, Seq[Long])].collect().toMap
    assert(got == Map(
      1L -> Seq(1L, 2L, 0L, 1L),
      2L -> Seq(2L, 2L, 3L),
      3L -> Seq(3L, 1L, 0L, 2L)))
    // the same docs through the BATCH pipeline encoder with the same
    // vocab as a (tok, tok_id) table must produce identical arrays
    val batch = docs.toDF()
      .select(col("doc_id"),
        org.apache.spark.sql.functions.transform(
          split(col("text"), " "),
          t => coalesce(element_at(typedLit(vocab), t), lit(0L))).as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(batch == got)
    q.stop()
  }

  test("streaming chunker agrees with the batch x34 arithmetic") {
    val docs = Seq(
      Doc(1, (1 to 50).map(i => s"w$i").mkString(" "), "en"), // 3 chunks
      Doc(2, "short doc", "en"))                              // 1 chunk
    val in = MemoryStream[Doc]
    val q = DocStreams.chunkStream(in.toDF())
      .writeStream.format("memory").queryName("ck").outputMode("append").start()
    in.addData(docs: _*)
    q.processAllAvailable()
    val got = spark.table("ck")
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // doc 1: 50 tokens, stride 24 -> ceil(50/24)=3 chunks of 32/26/2
    assert(got(1L).map(_._4).toSeq == Seq(32L, 26L, 2L))
    assert(got(1L).map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(got(1L).forall(_._3 == 50L))
    // doc 2: one short chunk covering the whole doc
    assert(got(2L).map(r => (r._2, r._4)).toSeq == Seq((0L, 2L)))
    // chunk text round-trips through md5 identically to a batch run
    val batch = DocStreams.chunkStream(docs.toDF())
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(batch.sameElements(got.values.flatten.toArray.sortBy(r => (r._1, r._2))))
    q.stop()
  }

  test("streaming centroid scorer agrees with the batch x38 classifier") {
    // frozen model learned from a static labeled set; the stream is
    // scored statelessly and must label every vector exactly as the
    // batch scorer does (same argmax, same tie-break)
    val labeled = Seq(
      (0L, 0, Seq(1000L, 0L, 50L)),
      (1L, 0, Seq(900L, 100L, 0L)),
      (2L, 1, Seq(0L, 1000L, 0L)),
      (3L, 1, Seq(100L, 800L, 200L)))
      .toDF("vec_id", "label", "qv")
    val model = graft.queries.Extensions.sumCentroids(
      labeled.withColumnRenamed("label", "clabel"))
    val batch = graft.queries.Extensions.centroidClassify(labeled)
      .select("vec_id", "pred", "cos")
      .as[(Long, Int, Double)].collect().sortBy(_._1)

    val in = MemoryStream[(Long, Seq[Long])]
    val q = DocStreams.classifyStream(
        in.toDF().toDF("vec_id", "qv"), model)
      .writeStream.format("memory").queryName("cls").outputMode("append").start()
    in.addData((0L, Seq(1000L, 0L, 50L)), (1L, Seq(900L, 100L, 0L)))
    q.processAllAvailable()
    in.addData((2L, Seq(0L, 1000L, 0L)), (3L, Seq(100L, 800L, 200L)))
    q.processAllAvailable()
    val streamed = spark.table("cls")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(streamed.sameElements(batch))
    q.stop()
  }

  test("fuzzy decontam stream agrees with batch LSH-truth; one row per pair") {
    // bench 100 = doc 1 minus its two leading tokens (the x42 edit
    // shape); doc 2 is unrelated; doc 3 is IDENTICAL to bench 200 so
    // the pair collides in all 4 bands and would emit 4 rows without
    // the first-band dedupe
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      Doc(1, "pre1 pre2 " + base, "en"),
      Doc(2, "totally different words with no shared bigrams at all", "en"),
      Doc(3, base, "en"))
    val bench = Seq((100L, base), (200L, base)).toDF("bench_id", "text")
    val bands = DocStreams.benchBands(bench).persist()

    // batch reference: LSH truth — pairs sharing >= 1 band key with
    // exact jaccard over the threshold, exactly once each
    val dsig = docs.toDF()
      .select(col("doc_id"), graft.queries.Extensions.bigramsExpr.as("bgs"))
      .withColumn("mhs",
        graft.functions.MinHashArr.minhashArr(col("bgs"), "b:"))
      .withColumn("dkeys", graft.ops.Banding.bandKeysOf(col("mhs")))
    val bsig = bands.select("bench_id", "bgs_b", "bkeys_b").distinct()
    val inter = size(array_intersect(col("bgs"), col("bgs_b")))
    val jac = inter.cast("double") /
      (size(col("bgs")) + size(col("bgs_b")) - inter)
    val expected = dsig.crossJoin(bsig)
      .filter(arrays_overlap(col("dkeys"), col("bkeys_b")))
      .withColumn("jac", jac).filter(col("jac") >= 0.8)
      .select("doc_id", "bench_id", "jac")
      .as[(Long, Long, Double)].collect().toSeq

    val in = MemoryStream[Doc]
    val q = DocStreams.fuzzyDecontamStream(in.toDF(), bands)
      .writeStream.format("memory").queryName("fdc")
      .outputMode("append").start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    val got = spark.table("fdc").as[(Long, Long, Double)].collect().toSeq

    // multiset equality: no duplicate rows despite multi-band collisions
    assert(got.sorted == expected.sorted)
    assert(got.map(r => (r._1, r._2)).distinct.size == got.size)
    // the fixture really exercises both shapes
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 100L)) && pairs.contains((3L, 200L)))
    assert(!pairs.exists(_._1 == 2L))
    q.stop()
  }

  // --------------------------------------------- exact dedup stream
  private def t(min: Int) = new java.sql.Timestamp(min * 60000L)

  test("exact dedup stream: first arrival of a content class survives, replays drop") {
    val in = MemoryStream[SDoc]
    val q = DocStreams.exactDedupStream(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("xd")
      .outputMode("append").start()
    in.addData(SDoc(1, "same bytes", t(1)), SDoc(2, "other bytes", t(2)))
    q.processAllAvailable()
    // same content, later arrival, still in horizon -> dropped
    in.addData(SDoc(3, "same bytes", t(10)))
    q.processAllAvailable()
    val got = spark.table("xd").select("doc_id").as[Long].collect().sorted
    assert(got.sameElements(Array(1L, 2L)),
      s"doc 3 replays doc 1's bytes and must drop: ${got.toSeq}")
    q.stop()
  }

  test("exact dedup stream: one survivor per class, survivor within the class") {
    val docs = (1L to 60L).map(i => SDoc(i, s"content${i % 20}", t(i.toInt)))
    val in = MemoryStream[SDoc]
    val q = DocStreams.exactDedupStream(in.toDF(), "2 hours")
      .writeStream.format("memory").queryName("xd2")
      .outputMode("append").start()
    in.addData(docs.take(30): _*)
    q.processAllAvailable()
    in.addData(docs.drop(30): _*)
    q.processAllAvailable()
    val got = spark.table("xd2").as[SDoc].collect()
    // exactly the 20 distinct contents, each survivor carrying its class text
    assert(got.length == 20)
    assert(got.map(_.text).toSet == (0 until 20).map(i => s"content$i").toSet)
    // batch agreement: same number of classes as the batch distinct
    val batchClasses = docs.toDF().select(md5($"text")).distinct().count()
    assert(batchClasses == 20L)
    q.stop()
  }

  test("exact dedup stream: state expires with the watermark — a far-future replay survives") {
    val in = MemoryStream[SDoc]
    val q = DocStreams.exactDedupStream(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("xd3")
      .outputMode("append").start()
    in.addData(SDoc(1, "recurring", t(1)))
    q.processAllAvailable()
    // push the watermark far past doc 1's state lifetime
    in.addData(SDoc(2, "filler", t(120)))
    q.processAllAvailable()
    in.addData(SDoc(3, "recurring", t(121)))
    q.processAllAvailable()
    val got = spark.table("xd3").select("doc_id").as[Long].collect().sorted
    assert(got.sameElements(Array(1L, 2L, 3L)),
      s"doc 3 is beyond the horizon and must survive: ${got.toSeq}")
    q.stop()
  }

  test("streaming heavy-hitter candidates keep the cumulative guarantee across batches") {
    val k = 4
    // 60% of all tokens are "hot" spread over two batches; tails differ
    val batch1 = (1 to 30).map(i => Doc(i.toLong, "hot hot " + s"t$i", "en"))
    val batch2 = (31 to 60).map(i => Doc(i.toLong, "hot " + s"u$i v$i", "en"))
    val in = MemoryStream[Doc]
    val q = DocStreams.hhCandidates(in.toDF(), k)
      .writeStream.format("memory").queryName("hh")
      .outputMode("complete").start()
    in.addData(batch1: _*)
    q.processAllAvailable()
    val mid = spark.table("hh").as[Seq[String]].collect().head
    assert(mid.contains("hot") && mid.length <= k,
      s"after batch 1 'hot' is 2/3 of tokens and must be a candidate: $mid")
    in.addData(batch2: _*)
    q.processAllAvailable()
    val end = spark.table("hh").as[Seq[String]].collect().head
    // over ALL 180 tokens 'hot' has 90 > 180/(k+1)=36 -> guaranteed
    assert(end.contains("hot") && end.length <= k,
      s"cumulative guarantee violated: $end")
    q.stop()
  }

  test("domain cap stream: admits-minus-evicts equals the batch kept set, any arrival order") {
    val rich = "the quick brown fox jumps over a lazy dog and then rests " +
      "of course with ample unique words in this sentence"
    val docs =
      (0L until 12L).map(i =>
        CapDoc(i, if (i % 3 == 0) rich else "x x x x x x", "en", "hot", 1L)) ++
      (100L until 103L).map(i => CapDoc(i, rich, "en", "small", 1L))
    val k = 3
    val in = MemoryStream[CapDoc]
    val q = DocStreams.domainCapStream(in.toDF(), k)
      .writeStream.format("memory").queryName("cap").outputMode("append").start()
    // adversarial arrival order: weak docs first, strong ones later
    // (forces evictions), split across micro-batches
    val shuffled = docs.sortBy(d => (-(d.doc_id % 3), d.doc_id))
    in.addData(shuffled.take(6)); q.processAllAvailable()
    in.addData(shuffled.drop(6)); q.processAllAvailable()
    val events = spark.table("cap")
      .as[(Long, String, Int, String)].collect()
    // each doc arrives once and an evicted doc never re-enters, so
    // the live set is a plain set difference — row order immaterial
    def ids(ev: String) = events.filter(_._4 == ev).map(_._1).toSet
    val live = ids("admit") -- ids("evict")
    val batchKept = Extensions.domainCapped(
      docs.toDF("doc_id", "text", "lang", "source", "n_chars"), k, 2)
      .filter("kept").select("doc_id").as[Long].collect().toSet
    assert(live == batchKept,
      s"stream live set $live != batch kept $batchKept")
    // every arrival got exactly one admit-or-reject decision
    assert(ids("admit").size + ids("reject").size == docs.size)
    // per-source live count respects the cap
    val liveBySource = events.filter(e => live(e._1)).groupBy(_._2)
    liveBySource.foreach { case (src, evs) =>
      assert(evs.map(_._1).distinct.size <= k, s"$src over cap")
    }
    q.stop()
  }

  // --------------------------------------------- novelty stream (x70 twin)
  private def ts(min: Int) = new java.sql.Timestamp(min * 60000L)

  test("novelty stream: first arrival owns a bigram; fully-redundant docs emit nothing") {
    val in = MemoryStream[SDoc]
    val q = DocStreams.noveltyStream(in.toDF(), "2 hours", "1 hour")
      .writeStream.format("memory").queryName("nv")
      .outputMode("append").start()
    // separate micro-batches pin arrival order per bigram
    in.addData(SDoc(1, "a b c", ts(1))); q.processAllAvailable()
    in.addData(SDoc(2, "a b d", ts(2))); q.processAllAvailable()
    in.addData(SDoc(3, "a b", ts(3))); q.processAllAvailable()
    // sentinel far past the window + horizon closes [0, 60)
    in.addData(SDoc(99, "zz zz2", ts(10000))); q.processAllAvailable()
    val got = spark.table("nv")
      .select("doc_id", "n_bg", "novel").as[(Long, Long, Long)]
      .collect().filter(_._1 < 99).sortBy(_._1)
    // doc1 owns "a b","b c"; doc2 owns "b d" (1 of its 2); doc3 owns
    // nothing -> absent in append mode
    assert(got.toSeq == Seq((1L, 2L, 2L), (2L, 2L, 1L)), got.toSeq)
    q.stop()
  }

  test("novelty stream agrees with batch first-occurrence on a real-corpus slice, one doc per micro-batch") {
    // one doc per micro-batch: WITHIN a micro-batch the dedup's
    // surviving doc of a tied bigram is unspecified (shuffle order),
    // so strict first-arrival-equals-min-doc_id only holds across
    // batch boundaries — the operator's documented contract
    val dir = "/root/testdata/sf0.001"
    val slice = Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .sortBy(_._1).take(120)
      .map { case (id, tx) => SDoc(id, tx, ts(id.toInt + 1)) }
    val in = MemoryStream[SDoc]
    // horizon longer than the whole feed: no state expires mid-run
    val q = DocStreams.noveltyStream(in.toDF(), "1000 minutes", "1 hour")
      .writeStream.format("memory").queryName("nvc")
      .outputMode("append").start()
    slice.foreach { d => in.addData(d); q.processAllAvailable() }
    in.addData(SDoc(9999, "zz zz2", ts(50000))); q.processAllAvailable()
    val stream = spark.table("nvc")
      .select("doc_id", "n_bg", "novel").as[(Long, Long, Long)]
      .collect().filter(_._1 != 9999L)
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // batch reference on the same slice: the x70 operator itself
    // (first occurrence = min doc_id), restricted to novel > 0
    val batch = Extensions.noveltyScores(slice.toSeq.toDF())
      .filter($"novel" > 0)
      .select("doc_id", "n_bg", "novel").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stream == batch,
      s"stream-only: ${(stream.keySet -- batch.keySet).toSeq.sorted.take(5)}; " +
        s"batch-only: ${(batch.keySet -- stream.keySet).toSeq.sorted.take(5)}; " +
        s"diff: ${batch.collect { case (k, v) if stream.get(k).exists(_ != v) => (k, v, stream(k)) }.take(5)}")
    q.stop()
  }

  test("linkage stream matches batch x75 on the real corpus, across batches") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val canon = docs.select(col("doc_id").as("a_id"),
      substring(col("text"), 1, 40).as("a_rec"))
    val dirty = docs.selectExpr("doc_id AS b_id",
      "concat(substring(substring(text, 1, 40), 1, " +
        "cast(doc_id % 32 as int) + 4), " +
        "substring(substring(text, 1, 40), cast(doc_id % 32 as int) + 6))" +
        " AS b_rec")
    val expected = Extensions.blockedLinkage(canon, dirty, 14, 64L, 2)
      .as[(Long, Long, Long)].collect().toSet
    val rows = dirty.as[(Long, String)].collect()
      .map { case (i, r) => LinkRec(i, r) }

    val in = MemoryStream[LinkRec]
    val q = DocStreams.linkageStream(in.toDF(), canon)
      .writeStream.format("memory").queryName("lnk")
      .outputMode("append").start()
    in.addData(rows.take(250).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(250).toIndexedSeq: _*)
    q.processAllAvailable()
    val got = spark.table("lnk").as[(Long, Long, Long)].collect()
    assert(got.toSet == expected,
      s"stream-only: ${(got.toSet -- expected).take(5)}; " +
        s"batch-only: ${(expected -- got.toSet).take(5)}")
    // exactly-once despite prefix+suffix double collisions
    assert(got.length == got.distinct.length)
    q.stop()
  }

  test("linkage stream emits a both-keys pair exactly once; registry cap holds") {
    val base = "abcdefghijklmnopqrstuvwxyz0123456789ABCD"
    val canon = Seq(1L -> base).toDF("a_id", "a_rec")
    val in = MemoryStream[LinkRec]
    val q = DocStreams.linkageStream(in.toDF(), canon)
      .writeStream.format("memory").queryName("lnk1")
      .outputMode("append").start()
    in.addData(LinkRec(10, base)) // identical rec: collides on BOTH keys
    q.processAllAvailable()
    val got = spark.table("lnk1").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L, 0L)), got)
    q.stop()

    // a 70-member degenerate registry block exceeds cap=64 -> no links
    val degen = (0L until 70L).map(i => i -> ("P" * 40)).toDF("a_id", "a_rec")
    val in2 = MemoryStream[LinkRec]
    val q2 = DocStreams.linkageStream(in2.toDF(), degen)
      .writeStream.format("memory").queryName("lnk2")
      .outputMode("append").start()
    in2.addData(LinkRec(100, "P" * 39 + "Q"))
    q2.processAllAvailable()
    assert(spark.table("lnk2").isEmpty)
    q2.stop()
  }

  test("linkage stream survives a capped prefix when the suffix is admissible") {
    // 70 registry records share the prefix block (capped at 64) but
    // carry distinct suffixes; the dirty record equals record #5, so
    // the pair agrees on BOTH keys. The first-agreeing-position dedupe
    // must be computed over ADMISSIBLE keys only: the capped prefix
    // row is absent from the broadcast side, so the only join row is
    // the suffix (pos=1) one — demanding the raw first agreement
    // (pos=0, the round-8 bug) dropped the match that batch
    // blockedLinkage emits via the surviving suffix key.
    val reg = (0L until 70L)
      .map(i => i -> ("Q" * 20 + f"suffix-is-unique-$i%03d"))
      .toDF("a_id", "a_rec")
    val target = "Q" * 20 + "suffix-is-unique-005"
    val batch = Extensions.blockedLinkage(
      reg, Seq(100L -> target).toDF("b_id", "b_rec"), 14, 64L, 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(batch == Seq((100L, 5L, 0L)), s"batch premise: $batch")
    val in = MemoryStream[LinkRec]
    val q = DocStreams.linkageStream(in.toDF(), reg)
      .writeStream.format("memory").queryName("lnk3")
      .outputMode("append").start()
    in.addData(LinkRec(100, target))
    q.processAllAvailable()
    val got = spark.table("lnk3").as[(Long, Long, Long)].collect().toSeq
    assert(got == batch, s"stream $got != batch $batch")
    q.stop()
  }

  test("streaming IVF-PQ encoder agrees with the batch x80 index build") {
    // frozen models trained on a static corpus of 40 deterministic
    // 64-dim vectors; the stream must assign + encode every arriving
    // vector exactly as the batch build does (same argmin tie-breaks)
    val dim = 64
    val vecs = (0 until 40).map { id =>
      (id.toLong, Seq.tabulate(dim)(i => ((id * 31 + i * 7) % 997 - 498).toLong))
    }.toDF("vec_id", "qv")
    val cents = Extensions.ivfPqCentModel(vecs).persist()
    val rcb = Extensions.ivfPqCodebook(
      Extensions.ivfPqAssign(vecs, cents)).persist()
    val batch = Extensions.ivfPqEncodeDf(
        Extensions.ivfPqAssign(vecs, cents), rcb)
      .select("vec_id", "cid", "codes")
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1)

    val in = MemoryStream[(Long, Seq[Long])]
    val q = DocStreams.ivfPqEncodeStream(
        in.toDF().toDF("vec_id", "qv"), cents, rcb)
      .writeStream.format("memory").queryName("ivfpq")
      .outputMode("append").start()
    in.addData((0 until 20).map(i =>
      (i.toLong, Seq.tabulate(dim)(j => ((i * 31 + j * 7) % 997 - 498).toLong))))
    q.processAllAvailable()
    in.addData((20 until 40).map(i =>
      (i.toLong, Seq.tabulate(dim)(j => ((i * 31 + j * 7) % 997 - 498).toLong))))
    q.processAllAvailable()
    val streamed = spark.table("ivfpq")
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1)
    assert(streamed.sameElements(batch))
    q.stop()
  }

  test("streaming DSIR scorer agrees with the batch x81 scorer") {
    // weights trained offline on a static corpus (target = lang 'en');
    // a stream of NEW docs is scored statelessly and must match the
    // batch scorer bit for bit on the same frozen model
    val staticDocs = Seq(
      Doc(1, "alpha beta gamma alpha beta", "en"),
      Doc(2, "alpha beta delta epsilon zeta", "en"),
      Doc(3, "rot baum haus rot baum", "de"),
      Doc(4, "rot haus zaun tor hof", "de")).toDF()
    val model = Extensions.dsirWeightModel(spark, staticDocs).persist()
    val arriving = Seq(
      Doc(10, "alpha beta gamma", "zz"),
      Doc(11, "rot baum haus", "zz"),
      Doc(12, "alpha rot never seen", "zz"))
    val batch = Extensions.dsirScore(arriving.toDF(), model)
      .select("doc_id", "n_tok", "dsir_bits")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // the target-profile doc must outscore the offtarget-profile one
    val byId = batch.map(r => r._1 -> r._3).toMap
    assert(byId(10L) > byId(11L))

    val in = MemoryStream[Doc]
    val q = DocStreams.dsirScoreStream(in.toDF(), model)
      .writeStream.format("memory").queryName("dsir")
      .outputMode("append").start()
    in.addData(arriving.take(2): _*)
    q.processAllAvailable()
    in.addData(arriving.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("dsir")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(streamed.sameElements(batch))
    q.stop()
  }

  test("streaming OOV scorer agrees with the batch x84 scorer") {
    // vocab trained offline on a static corpus; a stream of NEW docs
    // is scored statelessly and must match the batch scorer bit for
    // bit on the same frozen 1-row vocab
    val staticDocs = Seq(
      Doc(1, "alpha beta alpha beta gamma", "en"),
      Doc(2, "alpha beta delta alpha", "en")).toDF()
    val voc = graft.queries.Extensions.oovVocab(staticDocs, v = 3).persist()
    val arriving = Seq(
      Doc(10, "alpha beta never seen", "zz"),
      Doc(11, "alpha alpha alpha", "zz"),
      Doc(12, "wholly novel tokens only", "zz"))
    val batch = graft.queries.Extensions.oovScore(arriving.toDF(), voc)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // sanity on the fixture: half-OOV, fully-known, fully-novel
    assert(batch.map(r => r._1 -> r._4).toMap ==
      Map(10L -> 500L, 11L -> 0L, 12L -> 1000L))

    val in = MemoryStream[Doc]
    val q = DocStreams.oovScoreStream(in.toDF(), voc)
      .writeStream.format("memory").queryName("oov")
      .outputMode("append").start()
    in.addData(arriving.take(2): _*)
    q.processAllAvailable()
    in.addData(arriving.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("oov")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(streamed.sameElements(batch))
    q.stop()
  }

  test("streaming prototype pruner agrees with the batch x85 flags") {
    // prototype model (centroids + per-label quantile-bucket
    // thresholds) trained offline on a static labeled corpus; NEW
    // arrivals are flagged statelessly against the frozen model
    val training = (1L to 8L).map(i =>
        (i, (i % 2).toInt, Seq(i * 97 % 13 * 100L, i * 41 % 7 * 150L,
          (i * 59 % 11) * 80L - 200L)))
      .toDF("vec_id", "label", "qv")
    val cents = graft.queries.Extensions.sumCentroids(
      training.withColumnRenamed("label", "clabel"))
      .withColumnRenamed("clabel", "label").persist()
    val thr = graft.queries.Extensions.protoThresholds(
      graft.queries.Extensions.protoScore(training, cents), 250L).persist()
    thr.count()
    val arriving = Seq(
      (10L, 0, Seq(500L, 300L, 100L)),
      (11L, 1, Seq(-200L, 900L, 0L)),
      (12L, 0, Seq(0L, 0L, 1000L)),
      (13L, 1, Seq(400L, 400L, 400L)))
    val batch = graft.queries.Extensions.protoFlag(
      graft.queries.Extensions.protoScore(
        arriving.toDF("vec_id", "label", "qv"), cents), thr)
      .as[(Long, Int, Long, Boolean)].collect().sortBy(_._1)

    val in = MemoryStream[(Long, Int, Seq[Long])]
    val q = DocStreams.protoPruneStream(
        in.toDF().toDF("vec_id", "label", "qv"), cents, thr)
      .writeStream.format("memory").queryName("proto")
      .outputMode("append").start()
    in.addData(arriving.take(2): _*)
    q.processAllAvailable()
    in.addData(arriving.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("proto")
      .as[(Long, Int, Long, Boolean)].collect().sortBy(_._1)
    assert(streamed.sameElements(batch))
    q.stop()
  }

  test("streaming boilerplate scrub agrees with batch scrubAgainst; K bounds it") {
    // boilerplate model trained offline: 'a b c' is shared by the two
    // static docs; arrivals carrying it are rewritten at ingest
    val staticDocs = Seq(
      Doc(1, "x1 a b c x2 x3", "en"),
      Doc(2, "y1 y2 a b c y3", "en")).toDF()
    val model = graft.queries.Extensions.topDupSpans(staticDocs, k = 4, w = 3)
      .persist()
    model.count()
    val arriving = Seq(
      Doc(10, "z1 a b c z2", "zz"),
      Doc(11, "no boiler here at all", "zz"),
      Doc(12, "a b c", "zz"))
    val batch = graft.queries.Extensions.scrubAgainst(
      arriving.toDF(), model, 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(batch.map(r => r._1 -> r._4).toMap ==
      Map(10L -> "z1 z2", 11L -> "no boiler here at all", 12L -> ""))

    val in = MemoryStream[Doc]
    val q = DocStreams.boilerplateScrubStream(in.toDF(), model, w = 3)
      .writeStream.format("memory").queryName("scrub")
      .outputMode("append").start()
    in.addData(arriving.take(2): _*)
    q.processAllAvailable()
    in.addData(arriving.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("scrub")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(streamed.sameElements(batch))
    q.stop()
  }

  test("fingerprint match stream agrees with batch; one row per matched class") {
    // registry classes from real image hashes (x90's fixture formula);
    // offsets 0 and 4 are near (small gradient shift), 128 is far
    def ah(off: Int): Long = graft.multimodal.Media.averageHash(
      graft.multimodal.Media.encodePng(16, 16, (x, y) => {
        val v = (off + y * 16 + x) % 256
        (v << 16) | (v << 8) | v
      })).get
    val registry = graft.queries.Extensions.fingerprintClasses(
      Seq((1L, ah(0)), (2L, ah(0)), (3L, ah(128)))
        .toDF("doc_id", "ah")).persist()
    registry.count()
    val arriving = Seq((10L, ah(0)), (11L, ah(4)), (12L, ah(128)))
    val batch = graft.queries.Extensions.fingerprintMatch(
      arriving.toDF("id", "ah"), registry, 3)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // the exact twin matches its class ONCE (all 4 bands agree — the
    // first-band filter must still emit a single row) at hamming 0
    val exact = batch.filter(r => r._1 == 10L && r._5 == 0L)
    assert(exact.length == 1 && exact.head._3 == 2L && exact.head._4 == 1L)
    assert(batch.filter(_._1 == 12L).exists(_._5 == 0L))

    val in = MemoryStream[(Long, Long)]
    val q = DocStreams.fingerprintMatchStream(
        in.toDF().toDF("id", "ah"), registry)
      .writeStream.format("memory").queryName("fp")
      .outputMode("append").start()
    in.addData(arriving.take(2): _*)
    q.processAllAvailable()
    in.addData(arriving.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("fp")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(streamed.sameElements(batch))
    q.stop()
  }

  test("streaming CCNet bucketer agrees with batch x87 on the training corpus") {
    // fluency gradient per lang (the X87CcnetSpec fixture shape)
    def corpus(lang: String, off: Long) = {
      val fluent = "a b " * 20
      (1 to 9).map { i =>
        val rare = (1 to i).map(j => s"${lang}r${i}_$j").mkString(" ")
        Doc(off + i, (fluent + rare).trim, lang)
      }
    }
    val training = (corpus("en", 0L) ++ corpus("de", 100L)).toDF()
    val batch = graft.queries.Extensions.ccnetBuckets(training)
      .as[(Long, String, Long, String)].collect().sortBy(_._1)
    // frozen model: per-bigram bits + per-lang tercile thresholds
    val bits = graft.queries.Extensions.lmBigramBits(training)
      .as[(String, Long)].collect().toMap
    val thr = graft.queries.Extensions.ccnetThresholds(
      batch.toSeq.toDF("doc_id", "lang", "spb", "bucket")
        .select(col("lang"),
          expr(s"spb div ${graft.queries.Extensions.CcnetHb}").as("hb")))
      .persist()
    thr.count()

    val in = MemoryStream[Doc]
    val q = DocStreams.ccnetBucketStream(in.toDF(), bits, 99L, thr)
      .writeStream.format("memory").queryName("ccnet")
      .outputMode("append").start()
    val docs = (corpus("en", 0L) ++ corpus("de", 100L))
    in.addData(docs.take(9): _*)
    q.processAllAvailable()
    in.addData(docs.drop(9): _*)
    q.processAllAvailable()
    val streamed = spark.table("ccnet")
      .as[(Long, String, Long, String)].collect().sortBy(_._1)
    assert(streamed.sameElements(batch))

    // unseen lang buckets as 'unknown'; all-unseen bigrams at a high
    // default charge land in the existing lang's tail
    in.addData(Doc(500, "wholly novel words here", "fr"),
      Doc(501, "wholly novel words here", "en"))
    q.processAllAvailable()
    val extra = spark.table("ccnet").as[(Long, String, Long, String)]
      .collect().filter(_._1 >= 500).sortBy(_._1)
    assert(extra.map(_._4).toSeq == Seq("unknown", "tail"))
    q.stop()
  }

  test("heavy-hitter stream: exact while under k, state carries across batches") {
    // k large enough that nothing evicts: Misra-Gries degenerates to
    // exact counting, so the post-batch-2 emission must show the
    // EXACT cross-batch totals — pinning that state persists
    val in = MemoryStream[String]
    val q = DocStreams.heavyHitterStream(in.toDF().toDF("tok"),
        buckets = 4, k = 8)
      .writeStream.format("memory").queryName("hh1")
      .outputMode("update").start()
    in.addData("a", "a", "a", "b")
    q.processAllAvailable()
    in.addData("a", "a", "b", "c")
    q.processAllAvailable()
    val rows = spark.table("hh1").as[(Int, String, Long)].collect()
    // counts only grow here, so the max per token is the final state
    val fin = rows.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._3).max }
    assert(fin == Map("a" -> 5L, "b" -> 2L, "c" -> 1L))
    q.stop()
  }

  test("heavy-hitter stream: eviction keeps the MG guarantee") {
    // one bucket, k=2, 9 tokens: true counts a=5, b=2, c=1, d=1.
    // N/(k+1) = 3: 'a' MUST survive with 5-3 <= est <= 5; no token
    // may report more than its true count
    val in = MemoryStream[String]
    val q = DocStreams.heavyHitterStream(in.toDF().toDF("tok"),
        buckets = 1, k = 2)
      .writeStream.format("memory").queryName("hh2")
      .outputMode("update").start()
    in.addData("a", "a", "b", "a", "c", "a", "b", "d", "a")
    q.processAllAvailable()
    val fin = spark.table("hh2").as[(Int, String, Long)].collect()
      .map(r => r._2 -> r._3).toMap
    val truth = Map("a" -> 5L, "b" -> 2L, "c" -> 1L, "d" -> 1L)
    assert(fin.contains("a") && fin("a") >= 2L)
    fin.foreach { case (t, est) =>
      assert(est <= truth(t), s"$t overcounted: $est > ${truth(t)}")
      assert(truth(t) - est <= 3L, s"$t undershoots the MG bound")
    }
    assert(fin.size <= 2) // bounded state: at most k counters
    q.stop()
  }

  test("composed pipeline twin: the streaming-legal prefix of x97 " +
    "(redact -> dedup -> decontam -> quality -> sample) equals the " +
    "batch pipeline through sampling on the real corpus, across " +
    "arbitrary batch splits, including redact-before-hash classes") {
    import graft.pipeline.TrainingPipeline
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"lang", $"text")
    // two fixtures DISTINCT raw but ONE dedup class after PII
    // redaction — the ordering effect the composition must preserve
    val mx = base.agg(max($"doc_id")).as[Long].head()
    val fix = Seq(
      (mx + 1, "en", "mail me at alice@example.com today ok"),
      (mx + 2, "en", "mail me at bob@test.org today ok"))
      .toDF("doc_id", "lang", "text")
    val docs = base.unionByName(fix).persist()
    docs.count()
    // a decontamination set that really drops documents: the first
    // doc's first bigram
    val t0 = base.orderBy($"doc_id").select($"text").as[String].head()
    val bgs = Seq(t0.split(" ").take(2).mkString(" "))
    val cfg = TrainingPipeline.Config(benchBigrams = bgs)

    // batch reference: prepare's stages up to (and including) the
    // stratified sample — placement (shuffleAndPack) ranks the
    // complete set and is batch-only
    val survivors = TrainingPipeline.qualityFilter(
      TrainingPipeline.decontaminate(
        TrainingPipeline.exactDedup(TrainingPipeline.redact(docs)), bgs),
      cfg.maxDupFrac).persist()
    survivors.count()
    // redact-before-hash: the PII twins collapsed to the min-id one
    val survIds = survivors.select($"doc_id").as[Long].collect().toSet
    assert(survIds.contains(mx + 1) && !survIds.contains(mx + 2),
      s"PII twins must be one class: ${survIds.filter(_ > mx)}")
    // the survivor-set checkpoint: stratum rates frozen here
    val rates = DocStreams.strataRates(survivors, cfg.targetPerLang)
      .persist()
    rates.count()
    val want = TrainingPipeline.stratifiedSample(survivors, cfg.targetPerLang)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toSet

    // the stream: same docs, id-ascending, three uneven micro-batches
    val rows = docs.as[(Long, String, String)].collect().sortBy(_._1)
    val in = MemoryStream[(Long, String, String)]
    val q = TrainingPipeline.streamingPrefix(
        in.toDF().toDF("doc_id", "lang", "text"), cfg, rates)
      .select($"doc_id", $"lang")
      .writeStream.format("memory").queryName("pipeprefix")
      .outputMode("append").start()
    Seq(rows.take(7), rows.slice(7, 101), rows.drop(101)).foreach { c =>
      in.addData(c.toIndexedSeq: _*); q.processAllAvailable()
    }
    val got = spark.table("pipeprefix").as[(Long, String)].collect().toSet
    q.stop()
    assert(want.nonEmpty && want.size < rows.length,
      s"fixture is vacuous: ${want.size} of ${rows.length} sampled")
    assert(got == want,
      s"composed stream diverged from batch: only-stream=${got -- want}, " +
        s"only-batch=${want -- got}")
    docs.unpersist(); survivors.unpersist(); rates.unpersist()
  }
}
