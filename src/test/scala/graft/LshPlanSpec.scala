package graft

import graft.ops.Banding
import graft.queries.Extensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the LSH candidate join (x04/x14's
  * engine). The 100 TB contract: the band table is proportional to
  * |distinct signatures|, so the self-join must be a plain
  * shuffle-able equi-join — NEVER a forced broadcast (round 2's
  * scale-killer) — and its two identical sides must materialize the
  * upstream minhash aggregation ONCE via exchange reuse.
  */
class LshPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def toks = Seq(
    (1L, "a"), (1L, "b"), (1L, "c"),
    (2L, "a"), (2L, "b"), (2L, "c"),
    (3L, "x"), (3L, "y"))
    .toDF("rep", "tok")

  /** Run `body` with broadcast joins disabled (so any
    * BroadcastExchange in the plan can only come from a forced hint)
    * and AQE off (so the static plan, where ReuseExchange runs, is
    * the executed plan). */
  private def withDegradedConf[A](body: => A): A = {
    val conf = spark.conf
    val oldThresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try body finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  test("candidate join has no forced broadcast and reuses the band exchange") {
    withDegradedConf {
      val cand = Banding.selfPairs(BandingRef.bandTable(toks, "t:"))
      val plan = cand.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"a BroadcastExchange under threshold=-1 means a forced hint:\n$plan")
      assert(plan.contains("ReusedExchange"),
        s"the two identical band-table sides must share one exchange:\n$plan")
      // and the join itself is the shuffle-able kind
      assert(plan.contains("SortMergeJoin"), plan)
    }
  }

  test("degraded-path plan still produces the right candidates") {
    withDegradedConf {
      val cand = Banding.selfPairs(BandingRef.bandTable(toks, "t:"))
        .as[(Long, Long)].collect().toSet
      // reps 1 and 2 share the exact token set → all four bands agree;
      // rep 3 shares no band with either
      assert(cand == Set((1L, 2L)))
    }
  }

  test("maxBucket drops a hot band bucket wholesale, keeps the rest") {
    // 10 reps share one band bucket (45 pairs); 2 reps share another
    val hot = (1L to 10L).map(r => (r, 0, 10L, 11L, 12L, 13L))
    val cool = Seq((20L, 1, 1L, 2L, 3L, 4L), (21L, 1, 1L, 2L, 3L, 4L))
    val banded = (hot ++ cool).toDF("rep", "band", "k0", "k1", "k2", "k3")
    val capped = Banding.selfPairs(banded, maxBucket = 5)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((20L, 21L)))
    val uncapped = Banding.selfPairs(banded).count()
    assert(uncapped == 45 + 1)
  }

  test("crossPairs emits each left x right band agreement once, never a same-side pair") {
    // (id, band, k0..k3). 1 and 101 agree in bands 0 AND 1; 2 and 102
    // agree in none (102's band 1 carries 2's band-0 keys: the band
    // number is part of the bucket); 3/4 and 103/104 share a bucket
    // within their own side only
    val left = Seq(
      (1L, 0, 1L, 2L, 3L, 4L), (1L, 1, 5L, 6L, 7L, 8L), (1L, 2, 9L, 9L, 9L, 9L),
      (2L, 0, 20L, 20L, 20L, 20L), (2L, 1, 21L, 21L, 21L, 21L),
      (3L, 0, 30L, 30L, 30L, 30L), (3L, 3, 77L, 77L, 77L, 77L),
      (4L, 0, 40L, 40L, 40L, 40L), (4L, 3, 77L, 77L, 77L, 77L))
    val right = Seq(
      (101L, 0, 1L, 2L, 3L, 4L), (101L, 1, 5L, 6L, 7L, 8L), (101L, 2, 99L, 9L, 9L, 9L),
      (102L, 0, 20L, 20L, 20L, 21L), (102L, 1, 20L, 20L, 20L, 20L),
      (103L, 3, 88L, 88L, 88L, 88L), (104L, 3, 88L, 88L, 88L, 88L))
    def df(rows: Seq[(Long, Int, Long, Long, Long, Long)]) =
      rows.toDF("rep", "band", "k0", "k1", "k2", "k3")
    val got = Banding.crossPairs(df(left), df(right), ("l", "r"))
      .as[(Long, Long)].collect()
    // brute force: a pair is a candidate iff some (band, k0..k3) bucket
    // holds both
    def buckets(rows: Seq[(Long, Int, Long, Long, Long, Long)]) =
      rows.groupBy(_._1).toSeq.map { case (id, rs) =>
        id -> rs.map(r => (r._2, r._3, r._4, r._5, r._6)).toSet }
    val truth = for {
      (l, lb) <- buckets(left); (r, rb) <- buckets(right)
      if (lb intersect rb).nonEmpty
    } yield (l, r)
    assert(truth.toSet == Set((1L, 101L)))
    assert(got.toSeq.sorted == truth.toSeq.sorted,
      s"each agreeing pair exactly once: got ${got.mkString(",")}")
    assert(!got.exists { case (l, r) => l > 100L || r < 100L },
      "a pair from one side's shared bucket")
  }

  test("x03/x22 pair generation is an equi-join, never a nested-loop cross product") {
    withDegradedConf {
      Seq("x03_dedup_jaccard", "x22_dedup_simhash", "x13_dedup_embedding").foreach { name =>
        val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") &&
               !plan.contains("CartesianProduct"),
          s"$name pairs must come from an equi-join:\n$plan")
        assert(plan.contains("SortMergeJoin"), s"$name:\n$plan")
        spark.catalog.clearCache() // the queries persist intermediates
      }
    }
  }

  test("x03: lossless vs brute force, and the pair scan runs at distinct-mask granularity") {
    val d = "/root/testdata/sf0.001"
    // completeness + exactness: identical to the plain all-pairs truth
    val got = SparkEntry.queries("x03_dedup_jaccard")(spark, d)
      .select("rep_a", "rep_b").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    val sigs = Extensions.docMasksOf(Tables.documents(spark, d))
      .groupBy(col("sig"), col("mask"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("cnt"))
      .select("rep", "mask").as[(Long, Long)].collect()
    def jac(a: Long, b: Long): Double =
      java.lang.Long.bitCount(a & b).toDouble / java.lang.Long.bitCount(a | b)
    val truth = (for {
      (ra, ma) <- sigs; (rb, mb) <- sigs
      if ra < rb && jac(ma, mb) >= 0.9
    } yield (ra, rb)).toSet
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    // pruning: the popcount length-filter join admits a strict subset
    // of all distinct-mask pairs (candidates << S^2 is corpus-bound:
    // the x03 OUTPUT itself is ~2-5% of all pairs — quadratic-dense —
    // so we assert the filter prunes well below the all-pairs scan)
    val masks = sigs.map(_._2).distinct
    assert(masks.length < sigs.length, "mask collapse must merge some sigs")
    val t = 0.9
    val cand = (for {
      ma <- masks; mb <- masks
      pa = java.lang.Long.bitCount(ma); pb = java.lang.Long.bitCount(mb)
      if ma < mb && pb >= math.ceil(pa * t - 1e-9) && pb <= math.floor(pa / t + 1e-9)
    } yield 1).size
    val allPairs = masks.length.toLong * (masks.length - 1) / 2
    assert(cand < allPairs * 0.45,
      s"popcount filter admitted $cand of $allPairs distinct-mask pairs")
  }

  test("x35: PPJoin position filter prunes impossible collisions, keeps qualifying pairs") {
    // t=0.9, n=10 everywhere: plen = 2, alpha = ceil(0.9/1.9 * 20) = 10
    val otab = Seq(
      (1L, Seq("r1", "a", "b", "c", "d", "e", "f", "g", "h", "i")),
      (2L, Seq("r2", "a", "b", "c", "d", "e", "f", "g", "h", "i")),
      (3L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")),
      (4L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j2")))
      .toDF("rep", "otoks")
      .withColumn("n", size(col("otoks")).cast("long"))
      .withColumn("plen", (col("n") - ceil(col("n") * lit(0.9)) + 1).cast("int"))
    val cand = Extensions.ssjoinCandidates2(otab)
      .as[(Long, Long)].collect().toSet
    spark.catalog.clearCache() // it persists its pair-prefix table
    // extended prefixes (plen + 1 = 3 tokens) are r1,a,b / r2,a,b /
    // a,b,c / a,b,c: (1,2) and (3,4) each collide on a prefix token
    // pair and pass the length filter, so only the position filter
    // can drop either
    // (1,2) first share the pair (a,b) with b at 0-based position 2 of both:
    // ubound = 2 + min(10-2-1, 10-2-1) = 9 < 10 — positionally
    // impossible (their jac is 9/11 < 0.9), so pruned
    assert(!cand.contains((1L, 2L)))
    // (3,4) share (a,b) with b at position 1 of both: ubound =
    // 2 + 8 = 10 >= 10 — kept via that collision even though their
    // (a,c)/(b,c) collisions fail
    assert(cand.contains((3L, 4L)))
  }

  test("x04/x19 broadcasts are candidate-restricted, never corpus-sized") {
    // the only legal forced broadcasts in the minhash verify are the
    // candidate-id-restricted signature slices (the x14 pattern): a
    // BroadcastExchange whose subtree contains the candIds semi-join.
    // A broadcast over a BARE signature/mask table (scan/agg only, no
    // join below it) is corpus-sized at 100 TB — round 5's killer.
    withDegradedConf {
      Seq("x04_dedup_minhash", "x19_dedup_keep").foreach { name =>
        val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        val plan = df.queryExecution.executedPlan
        val bcasts = plan.collect {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
        }
        bcasts.foreach { b =>
          val restricted = b.collect {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
          }.nonEmpty
          assert(restricted,
            s"$name: BroadcastExchange over an unrestricted (corpus-sized) subtree:\n$b")
        }
        spark.catalog.clearCache()
      }
    }
  }

  test("size-gated broadcast is still allowed when the table genuinely fits") {
    // default threshold (10 MB) + tiny table: the planner MAY pick a
    // broadcast join — the point is the choice is the OPTIMIZER's
    // (size-gated), not hard-coded. Candidates must be identical.
    val cand = Banding.selfPairs(BandingRef.bandTable(toks, "t:"))
      .as[(Long, Long)].collect().toSet
    assert(cand == Set((1L, 2L)))
  }
}
