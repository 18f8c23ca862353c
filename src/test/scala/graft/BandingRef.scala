package graft

import graft.ops.Banding
import graft.queries.Extensions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The grouped band-table construction the per-row
  * [[Banding.bandTableArr]] replaced: explode → md5 → one native
  * [[graft.functions.MinHashAgg]] buffer per rep → [[Banding.bandsOf]].
  * MinHashArrSpec compares the two; LshPlanSpec plans over it. */
object BandingRef {

  /** LSH band table (`rep`, `band`, `k0..k3`) over an exploded token
    * column (`rep`, `tok`); the md5 base hash is seeded with `prefix`
    * so token-set ("t:") and bigram ("b:") families are independent. */
  def bandTable(toks: DataFrame, prefix: String): DataFrame = {
    val h = toks.withColumn("h", Extensions.hex32(md5(concat(lit(prefix), col("tok")))))
    Banding.bandsOf(h.groupBy(col("rep"))
      .agg(graft.functions.MinHashAgg.minhashAgg(col("h"), Banding.NumMinhash).as("mhs")))
  }
}
