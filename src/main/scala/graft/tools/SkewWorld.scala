package graft.tools

import graft.tools.Worlds.planted
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Skew fixture generator (dev tool, not part of the query surface):
  * copies a driver-generated sf world with two planted heavy hitters —
  * the skew shapes that break naive plans at 100 TB:
  *
  *  - **boilerplate text**: a fixed 41-word paragraph appended to ~1 in
  *    3 documents (xxhash64-selected). Every pair of tagged docs now
  *    shares ~39 word-3-grams, so an UNCAPPED shingle self-join would
  *    materialize O((n/3)²) candidate pairs per hot shingle — the
  *    quadratic blowup the hot-shingle df-cap exists to prevent. The
  *    rate is chosen so the per-(source, shingle) doc frequency
  *    crosses the cap (50) from sf0.1 upward (~83/source there): on
  *    those worlds the cap is load-bearing, not latent — candidate
  *    generation must drop the boilerplate shingles or dedup_ngram
  *    (and everything riding it) goes quadratic.
  *  - **hot user**: ~1 in 5 events re-keyed to user 1, the classic
  *    power-law key for user-partitioned windows, sessionization and
  *    grouped top-k.
  *  - **hot join keys** (round 13): ~1 in 5 lineitem rows re-keyed to
  *    the smallest existing l_orderkey, and ~1 in 5 orders re-keyed to
  *    the smallest existing o_custkey — one key holding ~20% of the
  *    fact on each side of the orders⋈lineitem / customer⋈orders
  *    shuffle joins (join_shuffle, join_multiway, the TPC-H family).
  *    The hot keys are EXISTING keys (FK validity preserved); the
  *    selector hashes the full (orderkey, linenumber) / orderkey row
  *    identity so the plant is pure column arithmetic. This is the
  *    join-side twin of the shingle plant: the skew the df-cap bounds
  *    for text, AQE's skew-join split and join_skew_salted's explicit
  *    salting must bound for joins (measured by graft.tools.SkewProbe;
  *    numbers in BASELINE.md's round-13 probe section).
  *
  * All plants are pure column arithmetic (same rows every run), so
  * the DuckDB differential runs on the identical world: the oracles
  * mirror the df-cap, which means correctness-under-cap is CHECKED
  * where the cap actually bites, not just where it is a no-op.
  * Written as world `skew` by [[Worlds]].
  */
object SkewWorld {

  /** 41 words with no repeated 3-word run, so it contributes 39
    * distinct 3-gram shingles shared by every tagged doc. */
  val boilerplate: String =
    ("this document is provided for informational purposes only and " +
     "the authors make no representation or warranty of any kind " +
     "express or implied regarding accuracy completeness suitability " +
     "or availability please consult the official source before " +
     "acting on the contents hereof thank you")

  def plant(spark: SparkSession, src: String): Worlds.Plant = {
    // hot join keys must be EXISTING keys so every FK stays valid
    val hotOrderKey = spark.read.parquet(s"$src/orders.parquet")
      .agg(min(col("o_orderkey"))).head().getLong(0)
    val hotCustKey = spark.read.parquet(s"$src/customer.parquet")
      .agg(min(col("c_custkey"))).head().getLong(0)
    (t, df) => t match {
      case "documents" =>
        df.withColumn("text",
          when(planted(3)(col("doc_id")),
            concat(col("text"), lit(" " + boilerplate)))
            .otherwise(col("text")))
      case "events" =>
        df.withColumn("user_id",
          when(planted(5)(col("event_id")), lit(1L))
            .otherwise(col("user_id")))
      case "lineitem" =>
        // the selector hashes the composite row identity, not just
        // the orderkey, so ~20% of ROWS (not of orderkeys) move
        df.withColumn("l_orderkey",
          when(planted(5)(col("l_orderkey"), col("l_linenumber")),
            lit(hotOrderKey))
            .otherwise(col("l_orderkey")))
      case "orders" =>
        df.withColumn("o_custkey",
          when(planted(5)(col("o_orderkey")), lit(hotCustKey))
            .otherwise(col("o_custkey")))
      case _ => df
    }
  }
}
