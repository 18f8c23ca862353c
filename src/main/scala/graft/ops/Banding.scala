package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LSH banding (Leskovec, Rajaraman & Ullman, ''Mining of Massive
  * Datasets'' ch. 3): signature → band keys → bucket equi-join →
  * candidate pairs, which the caller then verifies exactly. The one
  * owner of the band layout, the minhash family, the band tables, the
  * band-pair join and their DuckDB twins, for the MinHash, SimHash
  * (x22) and SRP (x29) gates, the registry and the streaming twins.
  * Every oracle replays the identical banding rather than a ground
  * truth, so one definition per decision keeps the two sides from
  * drifting apart. The join is lazy and persist-free: every persist
  * and eager count stays at the gate that owns it.
  */
private[graft] object Banding {

  // 4 bands x 4 rows: the standard banding for a ~0.9 Jaccard
  // threshold (t* = (1/b)^(1/r) ≈ 0.71, recall ≈ 0.986 at s = 0.9).
  // 2-row bands admit ~4x the candidates on this high-similarity
  // corpus (22.5M vs 5.5M pairs at sf0.1) for negligible extra recall.
  val NumMinhash = 16
  val BandRows = 4
  val NumBands = NumMinhash / BandRows

  /** Join keys of a minhash band table: `band`, `k0..k3`. */
  val MinhashKeys: Seq[String] = "band" +: (0 until BandRows).map(j => s"k$j")

  /** Join keys of a one-value band table (SimHash x22, SRP x29):
    * `band`, `bv`. */
  val ValueKeys: Seq[String] = Seq("band", "bv")

  /** Affine coefficients for the minhash family: h_i = (a·h + b) mod
    * 2^32 over one md5-derived 32-bit base hash — the textbook
    * construction, and 16× less hashing than one md5 per seed.
    * a·h < 2^52, so the arithmetic is exact in both BIGINT and the
    * doubles DuckDB might route through. The native
    * [[graft.functions.MinHashArr]] and [[graft.functions.MinHashAgg]],
    * the streaming HOF construction and the oracle all read these. */
  def mhA(i: Int): Long = 1000003L + 2L * i
  def mhB(i: Int): Long = 12345L + 7919L * i
  val Mod32 = 4294967296L

  // ------------------------------------------------------- band tables
  /** The zero-shuffle band table: per-row fused minhash over a
    * shingle ARRAY column (`rep`, `arr`) via the native
    * [[graft.functions.MinHashArr]] — no explode, no aggregation; the
    * LSH pipeline's first wide op becomes the candidate join itself.
    * Shingle-less rows (empty array → null minima) drop out exactly
    * as they never produced rows in the grouped `MinHashAgg`
    * construction (MinHashArrSpec pins band-table equality). */
  def bandTableArr(reps: DataFrame, prefix: String): DataFrame =
    bandsOf(reps
      .select(col("rep"),
        graft.functions.MinHashArr.minhashArr(col("arr"), prefix).as("mhs"))
      .filter(col("mhs").isNotNull))

  /** Slice a (`rep`, `mhs`) minhash table into the (band, k0..k3)
    * equi-join shape. */
  def bandsOf(mh: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { b =>
      struct((0 until BandRows).map(j =>
        element_at(col("mhs"), BandRows * b + j + 1).as(s"k$j")): _*)
    }
    mh.select(col("rep"), posexplode(array(bandStructs: _*)).as(Seq("band", "ks")))
      .select(col("rep") +: col("band") +:
        (0 until BandRows).map(j => col(s"ks.k$j").as(s"k$j")): _*)
  }

  /** The 4 LSH band keys of a minhash array, as "band:k0:k1:k2:k3"
    * strings — the streaming join/state key twin of [[bandsOf]]'s
    * (band, k0..k3) equi-join columns. */
  def bandKeysOf(mhs: Column): Column =
    array((0 until NumBands).map { b =>
      concat_ws(":", (lit(b) +: (0 until BandRows).map(j =>
        element_at(mhs, BandRows * b + j + 1))): _*)
    }: _*)

  // --------------------------------------------------- band-pair join
  /** Candidate pairs of one band table with itself: (`out._1`,
    * `out._2`) = the ids of two rows agreeing on every column of
    * `keys` (a whole band), `a.id < b.id`, distinct.
    *
    * Deliberately NO broadcast hint: the keys make this a plain
    * shuffle-able equi-join. At 100 TB the band table is proportional
    * to |distinct signatures| — a forced broadcast (as this had in
    * round 2) is an OOM, while size-gated AQE still picks broadcast
    * when it genuinely fits (LshPlanSpec asserts the degraded path).
    *
    * CALLERS MUST PERSIST+MATERIALIZE `banded` (or its immediate
    * parent) first. With AQE off, static ReuseExchange dedups the two
    * identical sides (LshPlanSpec); with AQE ON, runtime stage reuse
    * does NOT fire across the self-join's InMemoryTableScan-rooted
    * subtrees, and the whole signature pass runs once per side
    * (measured 3.8s vs 2.4s at sf0.1, and it is the CPU-heavy part
    * at any scale).
    *
    * `maxBucket` caps a band bucket's membership: a bucket of k rows
    * emits k·(k-1)/2 candidates, so one ultra-hot bucket (a
    * near-identical cluster that survives exact-class collapse, or
    * many zero-ish embeddings whose SRP sign dots all tie to ≥ 0)
    * turns quadratic — 1M members is 5·10^11 pairs on one key. Above
    * the cap the whole bucket is dropped (standard LSH-dedup
    * hygiene): its members are near-identical to each other, so they
    * keep co-occurring in their OTHER bands' (smaller) buckets, and
    * the recall loss is confined to the hot cluster. The bucket count
    * is a window over the join's own partitioning key, so the extra
    * pass rides the exchange the join already needs. Default
    * unlimited: the gate corpus has no pathological buckets and the
    * oracles replay uncapped semantics. */
  def selfPairs(banded: DataFrame, out: (String, String) = ("rep_a", "rep_b"),
                id: String = "rep", keys: Seq[String] = MinhashKeys,
                maxBucket: Int = Int.MaxValue): DataFrame = {
    val pruned =
      if (maxBucket == Int.MaxValue) banded
      else banded.withColumn("__bn",
          count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("__bn") <= maxBucket).drop("__bn")
    pairs(pruned, pruned, out, id, keys, self = true)
  }

  /** Candidate pairs across two minhash band tables: (`out._1`,
    * `out._2`) = the `rep`s of a `left` row and a `right` row agreeing
    * on a whole band, distinct. Rows of the same side are never
    * paired. Hints (x42 broadcasts its benchmark side) go on the
    * argument. */
  def crossPairs(left: DataFrame, right: DataFrame, out: (String, String)): DataFrame =
    pairs(left, right, out, "rep", MinhashKeys, self = false)

  private def pairs(left: DataFrame, right: DataFrame, out: (String, String),
                    id: String, keys: Seq[String], self: Boolean): DataFrame = {
    val onBand = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val cond = if (self) onBand && col(s"a.$id") < col(s"b.$id") else onBand
    left.as("a").join(right.as("b"), cond)
      .select(col(s"a.$id").as(out._1), col(s"b.$id").as(out._2))
      .distinct()
  }

  // ------------------------------------------------------ oracle twins
  /** DuckDB twin of the minhash family: the 16 aggregate columns
    * `MIN((h * aᵢ + bᵢ) % 2^32) AS mhᵢ` over a base-hash column `h`. */
  def duckMinhashCols: String =
    (0 until NumMinhash).map { i =>
      s"MIN((h * ${mhA(i)} + ${mhB(i)}) % $Mod32) AS mh$i"
    }.mkString(", ")

  /** DuckDB band table: `SELECT id, b AS band, <keys(b)> FROM src`
    * for each of `bands` bands, UNION ALL'd. */
  def duckBands(id: String, src: String, bands: Int)(keys: Int => String): String =
    (0 until bands)
      .map(b => s"SELECT $id, $b AS band, ${keys(b)} FROM $src")
      .mkString(" UNION ALL ")

  /** [[duckBands]] over a `mh0..mh15` table ([[duckMinhashCols]]):
    * the (id, band, k0..k3) twin of [[bandsOf]]. */
  def duckMinhashBands(src: String, id: String = "rep"): String =
    duckBands(id, src, NumBands) { b =>
      (0 until BandRows).map(j => s"mh${BandRows * b + j} AS k$j").mkString(", ")
    }

  /** DuckDB band-pair join condition between aliases `a` and `b`:
    * `a.band = b.band AND a.k0 = b.k0 AND …` over `keys`. */
  def duckBandJoin(a: String, b: String, keys: Seq[String] = MinhashKeys): String =
    keys.map(k => s"$a.$k = $b.$k").mkString(" AND ")
}
