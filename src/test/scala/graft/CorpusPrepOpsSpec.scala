package graft

import graft.ops.ConnectedComponents
import graft.queries.Extensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 corpus-prep additions: SRP-LSH embedding near-dup (x29),
  * transitive dedup components (x30), vocabulary top-K (x31), and
  * PII redaction (x32). */
class CorpusPrepOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Sf = "/root/testdata/sf0.001"
  private def q(name: String) =
    Extensions.all.find(_.name == name).get.fn(spark, Sf)

  // ------------------------------------------------ connected components
  test("cc: chain merges transitively across rounds; isolates stay put") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // a 4-link chain forces >1 propagation round (label 1 must walk
    // to node 5), which exercises the fixpoint loop, not just one step
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = ConnectedComponents.label(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      9L -> 9L))
  }

  test("cc: endpoints missing from `nodes` still propagate (null-safe convergence)") {
    // node 2 is absent from `nodes`: its first-round row surfaces with
    // old=null, which `=!=` counted as "unchanged" — with only such
    // rows changing, the loop used to stop before labels propagated
    val nodes = Seq(1L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = ConnectedComponents.label(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(3L) == 1L,
      s"label must flow 1 -> 2 -> 3 even though 2 is not in nodes: $got")
  }

  test("cc: delta iteration matches brute-force union-find on a mixed fixture") {
    // cliques (settle round 1-2 and drop out of the delta), a long
    // chain (keeps the frontier alive for many rounds), a bridge
    // between a clique and the chain, and isolated nodes — the shapes
    // whose interaction the delta optimization must not perturb
    val cliqueA = for (i <- 10L to 15L; j <- i + 1 to 15L) yield (i, j)
    val cliqueB = for (i <- 20L to 24L; j <- i + 1 to 24L) yield (i, j)
    val chain = (30L until 60L).map(i => (i, i + 1))
    val bridge = Seq((15L, 30L)) // cliqueA joins the chain late
    val edges = (cliqueA ++ cliqueB ++ chain ++ bridge).toDF("src", "dst")
    val ids = ((10L to 15L) ++ (20L to 24L) ++ (30L to 60L) ++ Seq(99L, 100L))
    val nodes = ids.toDF("id")
    val got = ConnectedComponents.label(nodes, edges)
      .as[(Long, Long)].collect().toMap
    // brute-force union-find reference
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    (cliqueA ++ cliqueB ++ chain ++ bridge).foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val roots = parent.keys.groupBy(find)
    val expected = roots.flatMap { case (_, members) =>
      val m = members.filter(ids.contains).toSeq
      val lbl = members.min
      m.map(_ -> lbl)
    }
    assert(got == expected, s"mismatch: ${got.toSet -- expected.toSet}")
    // the full-join shape (delta=false) reaches the identical fixpoint
    // — the round-7 A/B keeps delta as default (PERF.md "Round-7: the
    // x30 delta-vs-full A/B", CcAbProbe from 119ae52, since deleted:
    // three-way tie at min-of-4 on the real graph at sf0.1 AND sf1),
    // and this pins that both shapes stay interchangeable
    val gotFull = ConnectedComponents.label(nodes, edges, delta = false)
      .as[(Long, Long)].collect().toMap
    assert(gotFull == expected, "delta=false diverged from union-find")
    // convergence-check cadence is purely an ACTION schedule — the
    // fixpoint is identical for every k (skipped rounds run empty
    // frontiers past convergence, changing nothing)
    Seq(1, 3).foreach { k =>
      val gotK = ConnectedComponents.label(nodes, edges, checkEvery = k)
        .as[(Long, Long)].collect().toMap
      assert(gotK == expected, s"checkEvery=$k diverged from union-find")
    }
  }

  test("cc: edge direction does not matter") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val fwd = Seq((1L, 3L), (3L, 2L)).toDF("src", "dst")
    val rev = Seq((3L, 1L), (2L, 3L)).toDF("src", "dst")
    val a = ConnectedComponents.label(nodes, fwd).as[(Long, Long)].collect().toSet
    val b = ConnectedComponents.label(nodes, rev).as[(Long, Long)].collect().toSet
    assert(a == b && a == Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("x30: components refine x04 pairs — every pair's endpoints share a component") {
    val comps = q("x30_dedup_components").as[(Long, Long)].collect().toMap
    val pairs = q("x04_dedup_minhash")
      .select("rep_a", "rep_b").as[(Long, Long)].collect()
    assert(comps.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(comps(a) == comps(b), s"pair ($a,$b) split across components")
    }
    // component label is the min member id — canonical rep
    comps.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl, s"component $lbl not labeled by min member")
    }
  }

  // ------------------------------------------------------------ SRP LSH
  test("srp: identical vectors share every band byte; sign bits are stable") {
    val df = Seq(
      (1L, Array.tabulate(64)(i => (math.sin(i + 1) * 0.7).toFloat)),
      (2L, Array.tabulate(64)(i => (math.sin(i + 1) * 0.7).toFloat)), // dup of 1
      (3L, Array.tabulate(64)(i => (math.cos(3 * i + 2) * 0.9).toFloat))
    ).toDF("vec_id", "embedding")
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")))
    val sig = df.select(col("vec_id") +: Extensions.srpBandCols: _*)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    val v1 = sig(0).productIterator.drop(1).toSeq
    val v2 = sig(1).productIterator.drop(1).toSeq
    val v3 = sig(2).productIterator.drop(1).toSeq
    assert(v1 == v2, "identical vectors must produce identical band bytes")
    assert(v1 != v3, "distinct vectors should differ in at least one band")
    sig.foreach(_.productIterator.drop(1).foreach { b =>
      val v = b.asInstanceOf[Long]
      assert(v >= 0 && v <= 255, s"band byte $v out of 8-bit range")
    })
  }

  test("x29: pairs are ordered, above threshold, and a subset of all-pairs truth") {
    val got = q("x29_dedup_srp").as[(Long, Long, Double)].collect()
    got.foreach { case (a, b, c) =>
      assert(a < b, s"pair ($a,$b) not ordered")
      assert(c >= 0.4, s"pair ($a,$b) below threshold: $c")
    }
    // every emitted pair must agree with the brute-force x13-style
    // cosine on the same quantized metric (no false similarity)
    val x13 = q("x13_dedup_embedding").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    got.filter(_._3 >= 0.5).foreach { case (a, b, c) =>
      assert(x13.contains((a, b)),
        s"x29 pair ($a,$b) cos=$c missing from brute-force >=0.5 truth")
    }
  }

  // ------------------------------------------------------------- vocab
  test("x31: ranks consecutive, counts non-increasing, min-count respected") {
    val rows = q("x31_vocab_topk").as[(String, Long, Long)].collect()
      .sortBy(_._3) // (tok, cnt, vrank)
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.map(_._3).toSeq == (1L to rows.length).toSeq)
    rows.foreach { case (_, cnt, _) => assert(cnt >= 5) }
    rows.sliding(2).foreach {
      case Array((ta, ca, _), (tb, cb, _)) =>
        assert(ca > cb || (ca == cb && ta < tb),
          s"rank order violated between $ta($ca) and $tb($cb)")
      case _ =>
    }
  }

  // --------------------------------------------------------------- PII
  test("x32 regexes: email/url/number all redact on a synthetic record") {
    val rec = "contact a.b+c@example.org or https://x.y/z?id=7 ref 123456789 ok"
    val df = Seq(rec).toDF("rec").select(
      regexp_count(col("rec"), lit(Extensions.PiiEmail)).as("n_email"),
      regexp_count(col("rec"), lit(Extensions.PiiNum)).as("n_num"),
      regexp_count(col("rec"), lit(Extensions.PiiUrl)).as("n_url"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("rec"), Extensions.PiiEmail, "<EMAIL>"),
          Extensions.PiiUrl, "<URL>"),
        Extensions.PiiNum, "<NUM>").as("redacted"))
    val (ne, nn, nu, red) = df.as[(Int, Int, Int, String)].collect().head
    assert(ne == 1 && nu == 1 && nn == 1, s"counts ($ne,$nn,$nu)")
    assert(red == "contact <EMAIL> or <URL> ref <NUM> ok", red)
  }

  test("x32: every customer digit run is redacted, keys survive") {
    val rows = q("x32_pii_redact")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (k, nEmail, nNum, nUrl, red) =>
      assert(nNum >= 1, s"customer $k: c_name digit run not counted")
      assert(nEmail == 0 && nUrl == 0, s"customer $k: phantom email/url")
      assert(!red.matches(".*[0-9]{4,}.*"), s"customer $k: digits survive: $red")
      assert(red.contains("<NUM>"), s"customer $k: no placeholder: $red")
    }
  }

  // ------------------------------------------------------------ tokens
  test("x33: every in-vocab token gets its x31 rank; OOV gets 0; positions dense") {
    val vocab = q("x31_vocab_topk").as[(String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    val ids = q("x33_token_ids").as[(Long, Long, Long)].collect()
    assert(ids.nonEmpty)
    ids.groupBy(_._1).foreach { case (doc, rows) =>
      val ps = rows.map(_._2).sorted
      assert(ps.toSeq == (0L until ps.length).toSeq, s"doc $doc positions $ps")
    }
    // spot-check agreement with a direct re-derivation on one doc
    val doc0 = Tables.documents(spark, Sf)
      .filter(col("doc_id") === 0).select("text").as[String].head()
    val expect = doc0.split(" ").map(t => vocab.getOrElse(t, 0L)).toSeq
    val got = ids.filter(_._1 == 0L).sortBy(_._2).map(_._3).toSeq
    assert(got == expect, s"doc 0: $got vs $expect")
  }

  test("x34: chunks tile each doc with the configured stride and window") {
    val rows = q("x34_chunk_overlap").as[(Long, Long, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_._2)
      val nTok = sorted.head._3
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq)
      assert(sorted.length == math.ceil(nTok / 24.0).toLong, s"doc $doc")
      sorted.dropRight(1).foreach { case (_, cid, _, chunkTok, _) =>
        assert(chunkTok == 32 || cid * 24 + chunkTok == nTok,
          s"doc $doc chunk $cid has $chunkTok tokens")
      }
      // every chunk is non-empty and the last covers the doc tail
      val last = sorted.last
      assert(last._4 >= 1 && last._2 * 24 + last._4 == nTok || last._4 == 32)
    }
  }

  // ------------------------------------------------------ plans & skew
  test("x29/x30 plans: candidates come from equi-joins, never a cross product") {
    Seq("x29_dedup_srp", "x30_dedup_components").foreach { name =>
      val plan = q(name).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name has a NLJ")
    }
  }

  test("selfPairs on (band, bv): hot band buckets above the cap are dropped whole") {
    // five identical vectors land in ONE bucket per band; cap 3 drops
    // every bucket, so no candidates survive — while a cap of 5 (or
    // the unlimited default) admits all 10 ordered pairs
    val v = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val banded = (1L to 5L).toDF("vec_id")
      .withColumn("embedding", typedLit(v.toSeq))
      .select(col("vec_id"),
        posexplode(graft.functions.SrpBands.srpBands(col("embedding")))
          .as(Seq("band", "bv")))
    def pairs(maxBucket: Int) = graft.ops.Banding.selfPairs(banded, ("id_a", "id_b"),
      id = "vec_id", keys = graft.ops.Banding.ValueKeys, maxBucket = maxBucket).count()
    val capped = pairs(3)
    val open = pairs(Int.MaxValue)
    assert(capped == 0, s"capped bucket emitted $capped pairs")
    assert(open == 10, s"uncapped should emit C(5,2)=10 pairs, got $open")
  }

  // ------------------------------------------------- prefix-filter join
  test("x35: prefix filtering is lossless — equals brute-force all-pairs") {
    val got = q("x35_setjoin_prefix").as[(Long, Long, Double)].collect().toSet
    // brute force over the same signature reps
    val reps = Tables.documents(spark, Sf)
      .groupBy(graft.ops.Cols.tokenSetSig(col("text")).as("sig"))
      .agg(min(col("doc_id")).as("rep"))
      .join(Tables.documents(spark, Sf), col("rep") === col("doc_id"))
      .select(col("rep"), graft.ops.Cols.tokenSet(col("text")).as("toks"))
      .as[(Long, Seq[String])].collect()
    val truth = (for {
      (ra, ta) <- reps; (rb, tb) <- reps if ra < rb
      inter = ta.toSet.intersect(tb.toSet).size
      jac = inter.toDouble / (ta.size + tb.size - inter)
      if jac >= 0.9
    } yield (ra, rb, jac)).toSet
    assert(got == truth,
      s"missing=${(truth -- got).take(3)} extra=${(got -- truth).take(3)}")
    assert(got.nonEmpty, "fixture corpus should contain >=0.9 pairs")
  }

  test("x35 plan: candidates from equi-joins, never a cross product") {
    val plan = q("x35_setjoin_prefix").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "x35 enumerates all pairs")
  }

  // ------------------------------------------------------- boilerplate
  test("x36: agrees with a direct top-K re-derivation; flag follows frac") {
    val rows = q("x36_boilerplate").as[(Long, Long, Long, Double, Boolean)]
      .collect()
    assert(rows.nonEmpty)
    // independent re-derivation of the boilerplate set and hit counts
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def bgs(t: String) = {
      val tk = t.split(" ")
      tk.zip(tk.drop(1)).map { case (a, b) => s"$a $b" }.distinct
    }
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach(d => bgs(d._2).foreach(b =>
      counts(b) = counts.getOrElse(b, 0L) + 1))
    val top = counts.toSeq.sortBy { case (b, c) => (-c, b) }.take(20)
      .map(_._1).toSet
    val expect = docs.flatMap { case (id, t) =>
      val all = bgs(t); val hit = all.count(top)
      if (hit > 0)
        Some((id, all.length.toLong, hit.toLong,
          hit.toDouble / all.length, hit.toDouble / all.length > 0.5))
      else None
    }.toSet
    assert(rows.toSet == expect,
      s"missing=${(expect -- rows.toSet).take(2)} extra=${(rows.toSet -- expect).take(2)}")
  }

  test("cc: equals a union-find reference on random graphs (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genGraph = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(0, 30)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(1L, n.toLong); b <- Gen.choose(1L, n.toLong)
        if a != b
      } yield (a, b))
    } yield (n.toLong, edges)
    val prop = Prop.forAll(genGraph) { case (n, edges) =>
      // reference: classic union-find with min-root canonicalization
      val parent = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val expect = (1L to n).map(i => i -> find(find(i))).toMap
      // min-root canonical: find twice after all unions collapses paths
      val canon = expect.map { case (k, _) => k -> find(k) }
      val got = ConnectedComponents.label(
        (1L to n).toDF("id"),
        edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      got == canon
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
