package graft.tools

import org.apache.spark.sql.{DataFrame, Row}

/** Orphan-key fixture generator (dev tool, not part of the query
  * surface): the tenth adversarial axis — referential ORPHANS. The
  * driver's fixtures are referentially saturated (every customer has
  * orders), so two inventory rows verified VACUOUSLY against them:
  * join_anti and sql_tpch_q22 both return 0 rows in BOTH engines, and
  * a 0=0 hash match cannot catch a wrong predicate (round-13 judge
  * item 4). At 100 TB orphans are the steady state, not the edge:
  * customers acquired but never converted, keys whose fact rows were
  * GDPR-purged, dimensions loaded ahead of their first fact.
  *
  * The plant appends [[orphanCount]] customers with keys ABOVE the
  * fixture's max (so no order can reference them), deterministic
  * attributes, and an acctbal mix that makes the planted rows
  * DIFFERENTIATE the two queries rather than merely populate them:
  *  - 16 high balances (6000 + 250k) — above any plausible positive
  *    mean, so they satisfy BOTH join_anti and Q22's
  *    `acctbal > avg(positive acctbal)` filter;
  *  - 6 low balances (120 + 170k) — orphans that join_anti must
  *    return and Q22 must NOT;
  *  - 2 negative balances (credit memos) — ditto, plus a sign case.
  * Nation keys cycle 0..24 so Q22's GROUP BY produces multiple groups;
  * names follow the fixture's Customer#%09d convention; segments cycle
  * the five fixture values. Every other table is copied verbatim.
  *
  * Covered by the full oracle differential in gate.sh --worlds (any
  * query touching customer sees the orphans) and by OrphanInputSpec,
  * which pins the exact planted keys both queries must surface.
  * Written as world `orphan` by [[Worlds]].
  */
object OrphanWorld {

  val orphanCount = 24

  /** The planted rows for a world whose current max custkey is
    * `maxKey`: (custkey, name, nationkey, acctbal, mktsegment). */
  def orphans(maxKey: Long): Seq[(Long, String, Int, Double, String)] = {
    val segments =
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    (0 until orphanCount).map { i =>
      val key = maxKey + 1 + i
      val acctbal =
        if (i < 16) 6000.0 + 250.0 * i        // Q22-qualifying
        else if (i < 22) 120.0 + 170.0 * (i - 16) // anti-only (below mean)
        else -250.25 * (i - 21)               // anti-only (negative)
      (key, f"Customer#$key%09d", (i * 7) % 25, acctbal,
        segments(i % segments.size))
    }
  }

  /** join_anti must return EXACTLY the planted keys on a saturated
    * source world; Q22 must return exactly the high-balance plants
    * (grouped by nation). Exposed for OrphanInputSpec. */
  def plantedKeys(maxKey: Long): Seq[Long] = orphans(maxKey).map(_._1)
  def q22Keys(maxKey: Long): Seq[Long] =
    orphans(maxKey).filter(_._4 >= 6000.0).map(_._1)

  /** Append the orphan plant to a world's customer table — shared by
    * the OTHER world generators (round-15: the driver's saturated
    * fixtures keep join_anti / sql_tpch_q22 vacuous on EVERY axis
    * that inherits them, so the unicode/numerics/tie worlds fold the
    * plant in too — each adversarial differential then also
    * exercises anti-join survivors, not just this dedicated world).
    * Applied AFTER a world's own customer transform, so the planted
    * attributes stay exactly the values OrphanInputSpec pins. */
  def plantInto(customer: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = customer.sparkSession
    val maxKey = customer.agg(max(col("c_custkey"))).head().getLong(0)
    val planted = spark.createDataFrame(
      spark.sparkContext.parallelize(orphans(maxKey).map {
        case (k, nm, nk, bal, seg) => Row(k, nm, nk, bal, seg)
      }, 1), customer.schema)
    customer.unionByName(planted)
  }

  def plant(t: String, df: DataFrame): DataFrame =
    if (t == "customer") plantInto(df) else df
}
