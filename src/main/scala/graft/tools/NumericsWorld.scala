package graft.tools

import graft.tools.Worlds.planted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Extreme-numerics fixture generator (dev tool, not part of the query
  * surface): the ninth adversarial axis — boundary VALUES in the
  * numeric/date domain, where the clean fixtures are uniformly
  * mid-range and benign. Every plant is a value a 100 TB ledger or
  * embedding store actually contains:
  *
  *  - events.value: 1-in-8 NEGATED (refunds/corrections — the clean
  *    world is all-positive, so sum-sign, abs- and sqrt-adjacent paths
  *    never saw a negative); 1-in-16 set to exact 0.0; 1-in-16 set to
  *    k+0.125 (whose ×100 lands on an exact .5 — the cents idiom's
  *    round-tie case, exactly representable in binary); 1-in-32
  *    scaled ×1e6 (large-magnitude aggregates).
  *  - orders.o_totalprice: 1-in-16 NEGATED (credit memos).
  *  - lineitem: l_discount 1-in-16 → 1.0 (full discount ⇒ zero
  *    revenue lines), 1-in-16 → 0.0; l_quantity 1-in-16 → 0.0
  *    (cancelled line).
  *  - embeddings: 1-in-16 vectors ZEROED — the plant the non-finite
  *    world deliberately does not cover: a zero vector has a FINITE
  *    norm (passes an isfinite gate) but no direction, so cosine is
  *    0/0 = NaN and, under NaN-greatest ordering, one zero vector
  *    outranks every real neighbor in every top-k unless the geometry
  *    front door also requires nrm > 0.
  *  - documents.n_chars: 1-in-16 → 0 (claimed-empty payload metadata,
  *    exercising quality-score denominators).
  *  - o_orderdate / l_shipdate: 1-in-32 → epoch 1970-01-01 (a classic
  *    zeroed-timestamp ingest bug), exercising date arithmetic far
  *    outside the fixture's 1992-1998 band.
  *
  * All plants are pure column arithmetic on xxhash64(id, salt) — same
  * rows every run; planted values are WRITTEN to parquet so both
  * engines read identical bytes (the differential is pure: same data
  * in, compare answers out). Per-column plants are chained `when`s, so
  * the FIRST matching plant wins: a row eligible for both the 1-in-8
  * negation and the 1-in-16 zero only gets negated. The per-plant
  * rates above therefore read "up to 1-in-N" — later plants in a
  * chain land on slightly fewer rows than their nominal rate (the
  * salts are independent, so the shortfall is ~the product of the
  * earlier rates). Deliberate: disjoint residue bands would couple
  * the plants to one shared salt, and the differential only needs
  * every boundary value PRESENT, not at an exact census. Written as
  * world `numerics` by [[Worlds]].
  */
object NumericsWorld {

  def plant(t: String, df: DataFrame): DataFrame = t match {
    case "events" =>
      val id = col("event_id")
      df.withColumn("value",
        when(planted(8)(id, lit(300)), -col("value"))
          .when(planted(16)(id, lit(301)), lit(0.0))
          .when(planted(16)(id, lit(302)), floor(col("value")) + lit(0.125))
          .when(planted(32)(id, lit(303)), col("value") * 1e6)
          .otherwise(col("value")))
    case "orders" =>
      df.withColumn("o_totalprice",
          when(planted(16)(col("o_orderkey"), lit(304)), -col("o_totalprice"))
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderdate",
          when(planted(32)(col("o_orderkey"), lit(305)),
            to_timestamp(lit("1970-01-01 00:00:00"))
              .cast(df.schema("o_orderdate").dataType))
            .otherwise(col("o_orderdate")))
    case "lineitem" =>
      val rowId = xxhash64(col("l_orderkey"), col("l_linenumber"))
      df.withColumn("l_discount",
          when(planted(16)(rowId, lit(306)), lit(1.0))
            .when(planted(16)(rowId, lit(307)), lit(0.0))
            .otherwise(col("l_discount")))
        .withColumn("l_quantity",
          when(planted(16)(rowId, lit(308)), lit(0.0))
            .otherwise(col("l_quantity")))
        .withColumn("l_shipdate",
          when(planted(32)(rowId, lit(309)),
            to_timestamp(lit("1970-01-01 00:00:00"))
              .cast(df.schema("l_shipdate").dataType))
            .otherwise(col("l_shipdate")))
    case "embeddings" =>
      df.withColumn("embedding",
        when(planted(16)(col("vec_id"), lit(310)),
          transform(col("embedding"), _ => lit(0.0f)))
          .otherwise(col("embedding")))
    case "documents" =>
      df.withColumn("n_chars",
        when(planted(16)(col("doc_id"), lit(311)), lit(0L))
          .otherwise(col("n_chars")))
    // orphan plant folded into this axis too (round 15) — the
    // boundary-value world now also exercises anti-join survivors
    // (and q22's avg threshold meets the planted balances under a
    // population containing negated credit memos)
    case "customer" => OrphanWorld.plantInto(df)
    case _ => df
  }
}
