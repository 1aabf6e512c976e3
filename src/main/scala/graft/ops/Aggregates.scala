package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.functions.BoundedTopK.topKRows
import graft.io.Tables.t
import graft.util.Det._

/** SURVEY.md §2.4 — aggregation operators.
  *
  * All hash aggregates: Catalyst plans a partial (map-side combine) +
  * final `HashAggregateExec` pair, so at 100 TB each executor pre-folds
  * its partitions and only |groups| × |partitions| rows shuffle. Group
  * cardinalities here (flag×status=6, nation=25, brand≈25) are tiny, so
  * the shuffle is negligible at any scale.
  */
object Aggregates extends QueryPack {

  /** TPC-H Q1 shape: scan-heavy, 6 output groups. The flagship query. */
  def aggHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .where($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sumMoney($"l_quantity").as("sum_qty"),
        sumMoney($"l_extendedprice").as("sum_base_price"),
        sumMoney($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        sumMoney($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        avgMoney($"l_quantity").as("avg_qty"),
        avgMoney($"l_extendedprice").as("avg_price"),
        avgMoney($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private val aggHashSql: String = {
    val disc = "l_extendedprice*(1.0-l_discount)"
    val charge = s"$disc*(1.0+l_tax)"
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSumMoney("l_quantity")} AS sum_qty,
       |  ${sqlSumMoney("l_extendedprice")} AS sum_base_price,
       |  ${sqlSumMoney(disc)} AS sum_disc_price,
       |  ${sqlSumMoney(charge)} AS sum_charge,
       |  ${sqlAvgMoney("l_quantity")} AS avg_qty,
       |  ${sqlAvgMoney("l_extendedprice")} AS avg_price,
       |  ${sqlAvgMoney("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  /** Two-phase distinct aggregation (Expand + partial/final agg). */
  def aggDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_parts"),
           countDistinct($"l_suppkey").as("n_supps"),
           count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** HLL++ sketch next to the exact answer. The sketch IS the 100 TB
    * design: fixed-size state, one pass, mergeable across partitions —
    * countDistinct's expand+reshuffle is what it replaces. No oracle
    * (DuckDB's approx algorithm differs); accuracy asserted in tests. */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.05).as("n_approx"),
           countDistinct($"l_partkey").as("n_exact"))
      .orderBy($"l_returnflag")
  }

  private def custGeo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
  }

  /** Hierarchical totals region→nation (ROLLUP). */
  def aggRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    custGeo(s, dir)
      .rollup($"r_name", $"n_name")
      .agg(grouping_id().cast("int").as("gid"),
           count(lit(1)).as("n_cust"),
           sumMoney($"c_acctbal").as("bal"))
      .orderBy($"gid", $"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** All 2^2 grouping combinations (CUBE) over segment × region. */
  def aggCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    custGeo(s, dir)
      .cube($"c_mktsegment", $"r_name")
      .agg(grouping_id().cast("int").as("gid"),
           count(lit(1)).as("n_cust"),
           sumMoney($"c_acctbal").as("bal"))
      .orderBy($"gid", $"c_mktsegment".asc_nulls_first, $"r_name".asc_nulls_first)
  }

  /** Explicit GROUPING SETS via the SQL surface (temp view + spark.sql). */
  def aggGsets(s: SparkSession, dir: String): DataFrame = {
    custGeo(s, dir).createOrReplaceTempView("cust_geo")
    s.sql(
      s"""SELECT r_name, c_mktsegment,
         |  CAST(grouping_id() AS INT) AS gid,
         |  count(1) AS n_cust,
         |  ${"CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100"} AS bal
         |FROM cust_geo
         |GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
         |ORDER BY gid, r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin)
  }

  /** Order statistics: min/max, exact stddev via integer moments,
    * interpolated median. stddev is NOT computed with stddev_samp:
    * float moment accumulation is order-sensitive, so both engines
    * build exact integer Σx and Σx² (cents) and apply one shared
    * closed-form — deterministic at any partitioning. */
  def aggStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = cents($"l_extendedprice")
    val n = count(lit(1)).cast("double")
    val s1 = sum(c).cast("double")
    // widen BEFORE squaring: c*c in Long overflows (ANSI: errors) past
    // |c| ~3e9 cents; decimal(38,0)×long stays exact to 1e38
    val s2 = sum(c.cast("decimal(38,0)") * c).cast("double")
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
           min($"l_extendedprice").as("mn"),
           max($"l_extendedprice").as("mx"),
           (sqrt((s2 - s1 * s1 / n) / (n - lit(1.0))) / 100).as("sd"),
           round(expr("percentile(l_extendedprice, 0.5)"), 4).as("med"))
      .orderBy($"l_returnflag")
  }

  /** Third-moment distribution shape per segment: mean, population
    * variance, and population skewness of customer balances — the
    * moment [[aggStats]] stops short of, and the one that catches
    * asymmetric drift (a fat tail of debtors) that mean/variance
    * monitoring misses. Float discipline: all three raw moments
    * accumulate EXACT integer cents, widened to decimal(38,0) BEFORE
    * any multiplication (the oracle mirrors with HUGEINT-first
    * products) — a Long-first c³ would overflow at |c| > ~2.1e6
    * cents, i.e. a $21k balance, silently wrapping with ANSI off and
    * erroring with it on; decimal-first is exact to 1e38 — so the only
    * doubles are the identical closed-form arithmetic both engines run
    * on identical inputs — order-free, partition-proof. skew carries
    * the one transcendental (pow 1.5), rounded to 6 (text_tfidf
    * discipline). Scale: one hash agg, map-side partials, five rows
    * out. */
  def aggMoments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = cents($"c_acctbal")
    val n = count(lit(1)).cast("double")
    val s1 = sum(c.cast("decimal(38,0)")).cast("double")
    val s2 = sum(c.cast("decimal(38,0)") * c).cast("double")
    val s3 = sum(c.cast("decimal(38,0)") * c * c).cast("double")
    t(s, dir, "customer")
      .groupBy($"c_mktsegment".as("seg"))
      .agg(count(lit(1)).as("n"),
           (s1 / n / 100).as("mean_bal"),
           ((s2 / n - (s1 / n) * (s1 / n)) / 10000).as("var_bal"),
           round((s3 / n - lit(3.0) * (s1 / n) * (s2 / n) +
                  lit(2.0) * (s1 / n) * (s1 / n) * (s1 / n)) /
                 nullif(pow(s2 / n - (s1 / n) * (s1 / n), 1.5), lit(0.0)),
                 6).as("skew"))
      .orderBy($"seg")
  }

  /** Gini concentration coefficient per segment — the inequality
    * metric a data-mix audit runs (is one source/customer hoarding the
    * budget?): G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over
    * ascending-sorted values. Everything is INTEGER until the one
    * final division: the rank-weighted sum Σ i·x widens to
    * decimal(38,0) before summing (mirroring aggMoments) so the
    * exact-integer claim holds at EVERY scale factor, not just the
    * sf0.1 Long envelope (~3e6 rows/segment × 1e6 max cents would
    * approach Long overflow silently at sf1000). The denominator is
    * nullif-guarded: a segment whose summed cents is exactly 0 yields
    * NULL in both engines (Spark's non-ANSI Divide nulls on zero,
    * DuckDB's IEEE float division would produce inf — the guard
    * aligns them). The rank window and the aggregate share one
    * segment-keyed shuffle; the rank is a total order (cents,
    * custkey), engine-identical under ties. Negative balances make G
    * leave [0,1] — fine for the differential, flagged to callers in
    * the column name staying `gini_signed`. */
  def aggGini(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"seg").orderBy($"c".asc, $"k".asc)
    t(s, dir, "customer")
      .select($"c_mktsegment".as("seg"), cents($"c_acctbal").as("c"),
              $"c_custkey".as("k"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"),
           sum($"c".cast("decimal(38,0)")).as("s1"),
           // widen BEFORE the product (oracle mirrors HUGEINT-first):
           // i·c in Long needs only ~1e13 rows/segment at max cents
           sum($"i".cast("decimal(38,0)") * $"c").as("sic"))
      .select($"seg", $"n",
        ((lit(2L) * $"sic" - ($"n" + 1L) * $"s1").cast("double") /
         nullif(($"n" * $"s1").cast("double"), lit(0.0))).as("gini_signed"))
      .orderBy($"seg")
  }

  /** Mergeable Apache DataSketches HLL: per-nation supplier sketches
    * plus their UNION re-aggregated from the serialized sketches — the
    * 100 TB distinct-count pattern (build partial sketches per
    * partition/day once, merge them endlessly without rescanning;
    * counters can't do that). No oracle (sketch binaries are
    * implementation-specific); OperatorSpec bounds the estimates
    * against exact counts. */
  def aggHllSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perNation = t(s, dir, "supplier")
      .groupBy($"s_nationkey")
      .agg(expr("hll_sketch_agg(s_suppkey, 12)").as("sk"),
           count(lit(1)).as("n_rows"))
    val union = perNation
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
      .select(lit(-1).as("s_nationkey"), $"est".cast("long").as("est_distinct"),
              lit(null).cast("long").as("n_rows"))
    perNation
      .select($"s_nationkey",
              expr("hll_sketch_estimate(sk)").cast("long").as("est_distinct"),
              $"n_rows")
      .unionByName(union)
      .orderBy($"s_nationkey")
  }

  /** PIVOT: order counts per priority × status. Status values are
    * declared explicitly — with an implicit value list Spark must run
    * an extra distinct job to discover columns, and the output schema
    * becomes data-dependent (both wrong at scale). */
  def aggPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"o_orderpriority")
  }

  /** UNPIVOT (melt): wide per-flag money metrics back to long
    * (metric, value) rows — the inverse reshaping op. */
  def aggUnpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(sumMoney($"l_extendedprice").as("gross"),
           sumMoney($"l_extendedprice" * $"l_discount").as("discounted"),
           sumMoney($"l_extendedprice" * $"l_tax").as("taxed"))
      .unpivot(Array($"l_returnflag"),
               Array($"gross", $"discounted", $"taxed"), "metric", "value")
      .orderBy($"l_returnflag", $"metric")
  }

  /** Array aggregation: the set of market segments per nation.
    * collect_set is order-nondeterministic under parallelism, so the
    * result is always wrapped in array_sort — the only way an
    * array-valued aggregate can be reproducible at any partitioning.
    * The final projection serializes the array (array_join) so the
    * result is a flat comparable row: nested cells don't sort/hash
    * portably across engines. */
  def aggCollect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .groupBy($"c_nationkey")
      .agg(array_join(array_sort(collect_set($"c_mktsegment")), ",").as("segs"),
           countDistinct($"c_mktsegment").cast("long").as("n_seg"),
           count(lit(1)).as("n_cust"))
      .orderBy($"c_nationkey")
  }

  /** Deterministic hash-free sampling: key-modulo buckets give a
    * reproducible ~4% sample at any scale and any partitioning — the
    * pattern for carving stable training-data subsets (TABLESAMPLE is
    * nondeterministic and engine-specific; rand() is neither). */
  def sampleMod(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .where(pmod($"o_orderkey", lit(25)) === 0)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), sumMoney($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** Exact quartiles of order value per priority. Computed over CENTS
    * (integers): the quartile fractions 0.25/0.5/0.75 are exact binary
    * doubles, so linear interpolation between two integers is the
    * SAME double in any engine and any evaluation order — exact
    * percentile stays deterministic at any partitioning. (Exact
    * percentile holds a per-group value buffer — fine for bounded
    * groups like these; unbounded groups get approx_percentile.) */
  def aggPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def pct(p: String): Column =
      expr(s"percentile(CAST(round(o_totalprice*100) AS BIGINT), $p)") / 100
    t(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(pct("0.25").as("p25"), pct("0.5").as("p50"),
           pct("0.75").as("p75"), count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")
  }

  /** Stratified sampling with per-stratum rates — the `df.stat.sampleBy`
    * shape made DETERMINISTIC: rand()-based sampling is neither
    * engine- nor rerun-stable, so rates come from key-modulo classes
    * instead (urgent 1/2, high 1/4, rest 1/10). At 100 TB this is the
    * debuggable downsampling a pipeline wants: membership is a pure
    * function of the key, so reruns, retries, and the oracle all agree
    * row-for-row. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keep =
      when($"o_orderpriority" === "1-URGENT", pmod($"o_orderkey", lit(2)) === 0)
        .when($"o_orderpriority" === "2-HIGH", pmod($"o_orderkey", lit(4)) === 0)
        .otherwise(pmod($"o_orderkey", lit(10)) === 0)
    t(s, dir, "orders")
      .where(keep)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sumMoney($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority")
  }

  /** Top-3 customers per segment by balance via
    * [[graft.functions.BoundedTopK.topKRows]] — the "top N per key"
    * shape done WITHOUT a window sort: the plan is an
    * ObjectHashAggregate pair with zero WindowExec and zero pre-shuffle
    * sort (locked in PlanSpec). Ties break on customer key. */
  def topkGrouped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    topKRows(t(s, dir, "customer"), Seq($"c_mktsegment"),
        $"c_acctbal", $"c_custkey", 3)
      .select($"c_mktsegment", $"rk", $"id".as("c_custkey"),
        round($"ord", 2).as("bal"))
      .orderBy($"c_mktsegment", $"rk")
  }

  /** Fixed-k-per-group sample (the reservoir-sampling workhorse:
    * "exactly 3 customers per market segment") made deterministic:
    * rank by a Knuth multiplicative hash of the key instead of rand()
    * — membership is a pure function of the key, so reruns, retries,
    * speculative tasks and the oracle all pick the SAME rows, yet the
    * hash scrambles key order so the pick is not "first 3 by id".
    * Selection runs through [[graft.functions.BoundedTopK.topKRows]]
    * (smallest hash first, so ord = −h): no group is ever sorted in
    * full, at any scale. */
  def sampleGroupK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = graft.util.Det.knuthHash($"c_custkey")
    topKRows(t(s, dir, "customer"), Seq($"c_mktsegment"),
        -h.cast("double"), $"c_custkey", 3)
      .select($"c_mktsegment", $"id".as("c_custkey"), $"rk")
      .orderBy($"c_mktsegment", $"rk")
  }

  /** Sketch twin of agg_percentile for UNBOUNDED groups:
    * `approx_percentile` (Greenwald-Khanna) holds an ε-bounded summary
    * per group instead of a full value buffer, so a group with 10⁹
    * rows at 100 TB costs O(1/ε log εN) memory and merges map-side
    * like any partial aggregate. accuracy=10000 ⇒ rank error ≤ 1e-4.
    * No oracle (sketch internals are engine-specific); OperatorSpec
    * bounds each estimate against the exact quartiles by rank. */
  def aggPercentileApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def pct(p: String): Column =
      expr(s"approx_percentile(CAST(round(o_totalprice*100) AS BIGINT), $p, 10000)")
        .cast("double") / 100
    t(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(pct("0.25").as("p25"), pct("0.5").as("p50"),
           pct("0.75").as("p75"), count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")
  }

  /** Equi-width histogram of order value: bucket = exact cents div
    * 5,000,000 ($50k bins). Bucketing on the per-row INTEGER cents
    * (Det discipline) keeps the bin edge engine-exact — a double
    * `floor(x/500)` could land boundary values in different bins per
    * engine. One partial+final hash agg on ≤ ~10 groups; at 100 TB the
    * shuffle is |bins|×|partitions| rows, i.e. nothing. */
  def aggHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_totalprice", cents($"o_totalprice").as("cts"))
      .withColumn("bucket", expr("cts div 5000000"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"),
           sumMoney($"o_totalprice").as("spend"))
      .orderBy($"bucket")
  }

  /** Ordered conversion funnel over the event log: users who signed
    * up, then clicked strictly AFTER their first signup, then
    * purchased strictly after that first qualifying click. Each stage
    * is a keyed agg (min per user) joined to the previous stage on
    * user_id — three shuffles all partitioned on the SAME key, so the
    * exchanges line up and stages 2/3 reuse stage 1's partitioning.
    * Stage outputs shrink monotonically (funnel ⊆ previous stage);
    * the final counts are three scalar aggregates cross-joined into
    * one row. Timestamps compare as epoch µs (engine-neutral). */
  def aggFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
      .select($"user_id", $"event_type",
              unix_micros($"ts".cast("timestamp")).as("us"))
    val s1 = e.where($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"us").as("us_signup"))
    val s2 = e.where($"event_type" === "click")
      .join(s1, "user_id").where($"us" > $"us_signup")
      .groupBy($"user_id").agg(min($"us").as("us_click"))
    val s3 = e.where($"event_type" === "purchase")
      .join(s2, "user_id").where($"us" > $"us_click")
      .groupBy($"user_id").agg(min($"us").as("us_purchase"))
    s1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(s2.agg(count(lit(1)).as("n_signup_click")))
      .crossJoin(s3.agg(count(lit(1)).as("n_full_funnel")))
  }

  /** Hourly time-bucketed rollup of the event stream — the batch form
    * of the tumbling-window aggregate every metrics pipeline runs.
    * `date_trunc` keeps the bucket a pure per-row function (no window,
    * no shuffle beyond the one partial+final hash agg); bucket count
    * is bounded by the time range × event types, so the reduce side
    * stays tiny at any SF. Bucket surfaces as epoch µs
    * (engine-neutral); the value sum uses exact cents (Det). */
  def aggTimebucket(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select(unix_micros(date_trunc("hour", $"ts".cast("timestamp")))
                .as("hour_us"),
              $"event_type", $"value")
      .groupBy($"hour_us", $"event_type")
      .agg(count(lit(1)).as("n"),
           sumMoney($"value").as("val_sum"))
      .orderBy($"hour_us", $"event_type")
  }

  /** Deterministic per-group mode: each user's most frequent event
    * type, ties broken by count DESC then type ASC so both engines
    * pick the same winner. Two-level shape: a (user, type) count agg
    * shrinks the data to ≤ users × |types| rows BEFORE the window,
    * and the window partitions on user_id — never a global sort. At
    * 100 TB the raw events never reach the window; only the counts
    * do. Untyped events (null event_type) don't vote: a missing type
    * isn't a type — and the tie-break's `event_type ASC` would
    * otherwise be engine-ambiguous on the null candidate (Spark sorts
    * nulls first ascending, DuckDB last). */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"n".desc, $"event_type".asc)
    t(s, dir, "events")
      .where($"event_type".isNotNull)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_type".as("mode_type"), $"n")
      .orderBy($"user_id")
  }

  /** Pearson correlation of price vs quantity per return flag, from
    * EXACT integer moments: the five sums (Σx, Σy, Σx², Σy², Σxy)
    * accumulate as integers — x in cents, y integral — with the
    * squared sums in DECIMAL(38,0) because Σx² overflows BIGINT at
    * ~1e5× this SF (exactness must survive the scale-up, not just the
    * fixture). Only after aggregation does each sum cast to double
    * ONCE and flow through a fixed scalar formula — so the float work
    * is order-independent by construction and `corr()`'s
    * running-update nondeterminism never enters. The built-in corr()
    * stays the right call when bit-reproducibility doesn't matter;
    * this shape is for pipelines that must replay byte-identical. */
  def aggCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sums = t(s, dir, "lineitem")
      .select($"l_returnflag",
              cents($"l_extendedprice").as("x"),
              $"l_quantity".cast("long").as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
           sum($"x").cast("double").as("sx"),
           sum($"y").cast("double").as("sy"),
           sum(($"x" * $"x").cast("decimal(38,0)")).cast("double").as("sxx"),
           sum(($"y" * $"y").cast("decimal(38,0)")).cast("double").as("syy"),
           sum(($"x" * $"y").cast("decimal(38,0)")).cast("double").as("sxy"))
    val nd = $"n".cast("double")
    sums.select($"l_returnflag", $"n",
        ((nd * $"sxy" - $"sx" * $"sy") /
          sqrt((nd * $"sxx" - $"sx" * $"sx") *
               (nd * $"syy" - $"sy" * $"sy"))).as("r"))
      .orderBy($"l_returnflag")
  }

  /** Boolean aggregate family: every/any/count_if per order priority —
    * data-quality assertions ("all rows satisfy X", "any row violates
    * Y") as one hash agg. Booleans partial-aggregate like any other
    * monoid (AND/OR are associative+commutative), so the map-side
    * combine ships one boolean per group per partition. */
  def aggBool(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(every($"o_totalprice" > 1000.0).as("all_over_1k"),
           some($"o_orderstatus" === "F").as("any_f"),
           count_if($"o_orderstatus" === "O").as("n_open"),
           count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")
  }

  /** argmin/argmax aggregates (min_by/max_by): per market segment, the
    * customer holding the extreme balance — "which row attains the
    * aggregate" without a self-join back. One hash agg with map-side
    * partials (the by-key is a monoid under max/min). Ties broken
    * deterministically: the comparison key is the exact integer
    * cents·10⁷ + custkey, unique per row, so both engines pick the
    * same customer no matter the fold order (bare max_by on a tied
    * balance is partition-order nondeterministic — the classic silent
    * divergence). */
  def aggArgminmax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val key = graft.util.Det.cents($"c_acctbal") * lit(10000000L) + $"c_custkey"
    t(s, dir, "customer")
      .groupBy($"c_mktsegment")
      .agg(max_by($"c_custkey", key).as("richest_cust"),
           round(max($"c_acctbal"), 2).as("max_bal"),
           min_by($"c_custkey", key).as("poorest_cust"),
           round(min($"c_acctbal"), 2).as("min_bal"))
      .orderBy($"c_mktsegment")
  }

  /** Weighted Bernoulli document sampling — upweight long documents
    * into a training mix with per-row keep probability
    * p = min(1, n_chars/2000), decided by a DETERMINISTIC hash of the
    * doc id (Knuth multiplicative, mod 2³²) instead of rand(): the
    * kept set is a pure function of the data, so retries, reruns and
    * the oracle agree row-for-row. The comparison is integer u <
    * floor(p·2³²) — one double product per row, no accumulation, so
    * no float-order hazard. Map-only until the audit aggregate; at
    * 100 TB the sample decision costs one multiply per row and never
    * shuffles the dropped rows. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = graft.util.Det.knuthHash($"doc_id")
    val thresh = floor(
      least(lit(1.0), $"n_chars".cast("double") / 2000.0) *
        lit(4294967296L)).cast("long")
    t(s, dir, "documents")
      .where(u < thresh)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("chars_kept"))
      .orderBy($"source")
  }

  /** Weekly cohort retention: users bucketed by first-activity week,
    * counted per (cohort, weeks-since-cohort) — the triangle every
    * growth dashboard draws. Shape: distinct (user, week) FIRST
    * (shrinks the log to user-weeks before anything else), then a
    * per-user min for the cohort, then one join + final agg — every
    * shuffle keys on user_id or the model-sized cohort grid. Weeks
    * are integer epoch-day div 7, so bucket edges are engine-exact. */
  def aggRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val uw = t(s, dir, "events")
      .select($"user_id",
              expr("CAST(unix_date(to_date(ts)) div 7 AS BIGINT)").as("wk"))
      .distinct()
    val cohort = uw.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    uw.join(cohort, "user_id")
      .groupBy($"cohort_wk", ($"wk" - $"cohort_wk").as("offset_wk"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_wk", $"offset_wk")
  }

  /** OHLC bars — the time-series shape a trading-data ETL (the
    * reference's domain) aggregates first: per (series, hour) the
    * opening/closing/extreme values. Open and close are selected by
    * row_number over (ts, event_id) — the unique tie-break makes the
    * pick engine-exact — and high/low/count are plain aggregates. The
    * two windows share one (series, hour)-keyed exchange, and bars
    * are calendar-bounded, so the reduce side stays model-sized at
    * any SF. Values pass through untouched (no float arithmetic):
    * bit-exact in both engines. */
  def aggOhlc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
      .select($"event_type".as("sym"),
              unix_micros(date_trunc("hour", $"ts".cast("timestamp")))
                .as("hour_us"),
              unix_micros($"ts".cast("timestamp")).as("us"),
              $"event_id", $"value")
    val wAsc = Window.partitionBy($"sym", $"hour_us")
      .orderBy($"us".asc, $"event_id".asc)
    val wDesc = Window.partitionBy($"sym", $"hour_us")
      .orderBy($"us".desc, $"event_id".desc)
    e.withColumn("rna", row_number().over(wAsc))
      .withColumn("rnd", row_number().over(wDesc))
      .groupBy($"sym", $"hour_us")
      .agg(max(when($"rna" === 1, $"value")).as("open"),
           max($"value").as("high"),
           min($"value").as("low"),
           max(when($"rnd" === 1, $"value")).as("close"),
           count(lit(1)).as("n_ticks"))
      .orderBy($"sym", $"hour_us")
  }

  /** Half-life-decayed spend per user (half-life = 7 days against the
    * table's newest purchase): the recency-weighted engagement rollup
    * feature stores and ranking pipelines maintain, where last week
    * counts double vs the week before. Float discipline — the decay
    * weight is 1/2^k with INTEGER k (dyadic, exactly representable),
    * so decayed cents are exact multiples of 2⁻ᵏᵐᵃˣ·0.01 and every
    * partial sum is IEEE-exact ⇒ the aggregate is summation-order
    * independent, the same argument Det.sumMoney makes for plain
    * cents. pow() is deliberately avoided: libm pow(0.5,k) is not
    * guaranteed correctly rounded in both engines, while 1<<k and one
    * double division are exact in both. The exponent is CLAMPED at 62
    * (least(k, 62)) in BOTH engines: unguarded, a table spanning ≥63
    * weeks hits Java's masked shift (k & 63), so a 15-month-old row
    * silently regains weight 1 while DuckDB's 1<<k errors — clamping
    * makes multi-year tables well-defined and cross-engine-identical
    * (weight 2⁻⁶² ≈ 2e-19, numerically nil). Precondition for the
    * order-independence claim above: kmax + magnitude bits of the
    * cent sum ≤ 53 (≈ a year of weeks against sub-billion-cent user
    * totals); past that the weights are still identical in both
    * engines but partial sums may round. Scale shape: the anchor
    * (newest ts) is a one-row aggregate broadcast back; everything
    * else is one map-side-partial hash agg keyed on user_id. */
  def aggDecay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events").where($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts".cast("timestamp")).as("us"),
              cents($"value").as("c"))
    val anchor = e.agg(max($"us").as("aus"))
    e.crossJoin(broadcast(anchor))
      .withColumn("k", expr("least(CAST((aus - us) div 86400000000 div 7 AS INT), 62)"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
           sum($"c".cast("double") /
               expr("CAST(shiftleft(CAST(1 AS BIGINT), k) AS DOUBLE)"))
             .as("dc"))
      // dc is an exact multiple of 2⁻ᵏᵐᵃˣ cents — emit it UNSCALED and
      // UNROUNDED: /100-then-round(4) would park every value on the
      // …5 boundary where the engines' half-up/half-even split
      .select($"user_id", $"n", $"dc".as("decayed_cents"))
      .orderBy($"user_id")
  }

  /** Exact distinct orders per returnflag via 32-bit BITMAP segments —
    * the no-Expand distinct: groupBy (flag, key div 32) bit_or's a
    * one-hot mask, then a flag-keyed sum of bit_count's collapses
    * segments to the exact distinct count. vs count(DISTINCT): no
    * Expand (no row multiplication), state per group is ONE long
    * regardless of how many duplicates hit the segment, and both aggs
    * take map-side partials — at 100 TB the shuffle carries at most
    * |key-space|/32 segment rows instead of every distinct value.
    * The DuckDB oracle runs count(DISTINCT ...) directly, so the
    * differential proves bitmap ≡ true distinct (an algorithm-level
    * check, not a mirror). 32-bit segments keep the shifted bit
    * positive in both engines (DuckDB raises on 1<<63). */
  def aggBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag", expr("l_orderkey div 32").as("seg"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
                "CAST(l_orderkey % 32 AS INT)))").as("bm"))
      .groupBy($"l_returnflag")
      .agg(sum(expr("bit_count(bm)")).as("n_orders"),
           count(lit(1)).as("n_segments"))
      .orderBy($"l_returnflag")
  }

  /** Ordered string aggregation (LISTAGG, SQL:2023 / Spark 4's
    * `listagg ... WITHIN GROUP`): each nation's top-3 customers by
    * balance as one comma-joined display string — the report-label
    * shape BI hand-offs ask for. The inputs are CAPPED BEFORE the
    * aggregate (rank-3 window over nation-sized groups), which is the
    * non-negotiable scale rule for string aggregation: LISTAGG over
    * uncapped groups concatenates the whole corpus into single rows
    * (the one aggregate whose state grows with group size, unlike
    * every sum/count in this pack) — cap first, then concatenate
    * model-sized survivors. WITHIN GROUP (ORDER BY rank) makes the
    * string deterministic; the ranking itself is exact-cents with a
    * key tie-break. */
  def aggListagg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy(cents($"c_acctbal").desc, $"c_custkey".asc)
    t(s, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 3)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_top"),
           expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY rn)")
             .as("top_names"))
      .orderBy($"c_nationkey")
  }

  /** Time-BOUNDED funnel (ClickHouse windowFunnel semantics): signup →
    * click → purchase all within 24 h of the SIGNUP — the conversion
    * question product analytics actually asks ([[aggFunnel]]'s
    * unbounded variant counts a purchase a year later as converted).
    * Same stepwise min-timestamp joins as aggFunnel with the window
    * guard added to each step; every join keys on user_id and each
    * stage's output is one row per surviving user, so the funnel
    * narrows monotonically — the 100 TB cost is ≤3 user-keyed
    * shuffles of shrinking key sets. */
  def aggFunnelWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 86400000000L // 24 h in µs
    val e = t(s, dir, "events")
      .select($"user_id", $"event_type",
              unix_micros($"ts".cast("timestamp")).as("us"))
    val s1 = e.where($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"us").as("us_signup"))
    val s2 = e.where($"event_type" === "click")
      .join(s1, "user_id")
      .where($"us" > $"us_signup" && $"us" <= $"us_signup" + W)
      .groupBy($"user_id")
      .agg(min($"us").as("us_click"), first($"us_signup").as("us_signup"))
    val s3 = e.where($"event_type" === "purchase")
      .join(s2, "user_id")
      .where($"us" > $"us_click" && $"us" <= $"us_signup" + W)
      .groupBy($"user_id").agg(min($"us").as("us_purchase"))
    s1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(s2.agg(count(lit(1)).as("n_click_24h")))
      .crossJoin(s3.agg(count(lit(1)).as("n_full_24h")))
  }

  /** Event-PATH mining: the top-10 most common 3-step event-type
    * sequences across all user timelines — the "what do users
    * actually do" exploration that precedes any funnel definition
    * (path n-grams over the behavioral log; [[aggFunnel]] checks a
    * HYPOTHESIZED path, this surfaces the real ones). The per-user
    * timeline is CAPPED FIRST — row_number ≤ 1024 most-recent events
    * per user, the same cap-before-concatenate rule [[aggListagg]]
    * calls non-negotiable, because collect_list state is otherwise
    * proportional to the heaviest user's lifetime activity (a bot
    * with 10⁸ events would OOM one aggregation state). The window
    * and the groupBy share one user_id hash partitioning, so the cap
    * costs an in-partition sort, not an extra shuffle. Then per-user
    * ordered sequences come from ONE user-keyed aggregate
    * (sort_array over (us, event_id, type) structs — deterministic
    * total order), trigrams explode INSIDE the row, and the path
    * space is |event types|³-bounded, so the final agg is
    * model-sized at any log scale. Top-10 with a total tie-break
    * plans TakeOrderedAndProject. */
  def eventPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wRecent = Window.partitionBy($"user_id")
      .orderBy($"ev.us".desc, $"ev.event_id".desc)
    t(s, dir, "events")
      .select($"user_id",
              struct(unix_micros($"ts".cast("timestamp")).as("us"),
                     $"event_id", $"event_type").as("ev"))
      .withColumn("rn", row_number().over(wRecent))
      .where($"rn" <= 1024)
      .drop("rn")
      .groupBy($"user_id")
      .agg(expr("transform(sort_array(collect_list(ev)), x -> x.event_type)")
             .as("types"))
      .where(size($"types") >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(types) - 2), i -> concat_ws('>', " +
        "element_at(types, i), element_at(types, i + 1), " +
        "element_at(types, i + 2)))")).as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path".asc)
      .limit(10)
  }

  /** Multi-touch attribution: each purchase is credited to the user's
    * FIRST and LAST preceding event inside a 7-day lookback window
    * (first-/last-touch marketing attribution), then conversions and
    * revenue roll up per channel (= event type). Purchases with no
    * prior event in the window are unattributable and drop (inner
    * join) — both engines agree. Determinism: the per-purchase
    * min/max folds lexicographic (ts, event_id, type) structs, so a
    * ts tie (none in the fixture, routine in production) breaks on
    * the unique event_id identically in both engines. Both touch
    * tallies come from ONE pass: the two touches unpivot inside the
    * row (explode of a 2-element array) and a single conditional
    * aggregate splits first/last — the purchase-events join subtree
    * is never computed twice.
    * At 100 TB: purchases join prior events on user_id — one shuffle
    * on the natural key, candidate space bounded by per-user activity
    * inside the 7-day horizon (the agg_funnel_window argument); the
    * struct min/max folds map-side, and the channel rollup is
    * |event types|-sized, i.e. model-sized at any log scale. */
  def eventAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val p = ev.where($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id",
              $"ts".as("p_ts"), cents($"value").as("rev_cents"))
    // an untyped event is not an attributable channel: excluded from
    // the touch candidates (also keeps the channel rollup key non-null
    // — the oracle's FULL JOIN USING(channel) would split a null
    // channel into two rows, null keys never matching in joins)
    val e = ev.where($"event_type".isNotNull)
      .select($"user_id".as("u"), $"ts".as("e_ts"),
              $"event_id".as("e_id"), $"event_type".as("e_type"))
    p.join(e, $"u" === $"user_id" && $"e_ts" < $"p_ts" &&
              $"e_ts" >= $"p_ts" - expr("INTERVAL 7 DAYS"))
      .groupBy($"p_id", $"rev_cents")
      .agg(min(struct($"e_ts", $"e_id", $"e_type")).as("ft"),
           max(struct($"e_ts", $"e_id", $"e_type")).as("lt"))
      .select($"rev_cents", explode(array(
          struct(lit("F").as("k"), $"ft.e_type".as("ch")),
          struct(lit("L").as("k"), $"lt.e_type".as("ch")))).as("x"))
      .groupBy($"x.ch".as("channel"))
      // revenue sums carry no otherwise(0L): a channel whose first-
      // touch purchases ALL have null value must not be padded to 0 by
      // literal zeros from its L rows — sum skips nulls and non-F rows
      // alike, and the one coalesce makes the degenerate all-null
      // channel an explicit 0 on BOTH engines (round-13 advice)
      .agg(sum(when($"x.k" === "F", 1L).otherwise(0L)).as("n_first"),
           (coalesce(sum(when($"x.k" === "F", $"rev_cents")), lit(0L))
              .cast("double") / 100).as("rev_first"),
           sum(when($"x.k" === "L", 1L).otherwise(0L)).as("n_last"),
           (coalesce(sum(when($"x.k" === "L", $"rev_cents")), lit(0L))
              .cast("double") / 100).as("rev_last"))
      .orderBy($"channel")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_funnel_window" -> (aggFunnelWindow _),
    "event_paths" -> (eventPaths _),
    "event_attribution" -> (eventAttribution _),
    "agg_listagg" -> (aggListagg _),
    "agg_decay" -> (aggDecay _),
    "agg_bitmap_distinct" -> (aggBitmapDistinct _),
    "agg_ohlc" -> (aggOhlc _),
    "agg_retention" -> (aggRetention _),
    "sample_weighted" -> (sampleWeighted _),
    "agg_bool" -> (aggBool _),
    "agg_argminmax" -> (aggArgminmax _),
    "agg_corr" -> (aggCorr _),
    "agg_timebucket" -> (aggTimebucket _),
    "agg_mode" -> (aggMode _),
    "agg_histogram" -> (aggHistogram _),
    "agg_funnel" -> (aggFunnel _),
    "agg_percentile" -> (aggPercentile _),
    "agg_percentile_approx" -> (aggPercentileApprox _),
    "sample_stratified" -> (sampleStratified _),
    "sample_group_k" -> (sampleGroupK _),
    "topk_grouped" -> (topkGrouped _),
    "agg_collect" -> (aggCollect _),
    "sample_mod" -> (sampleMod _),
    "agg_pivot" -> (aggPivot _),
    "agg_unpivot" -> (aggUnpivot _),
    "agg_hll_sketch" -> (aggHllSketch _),
    "agg_hash" -> (aggHash _),
    "agg_distinct" -> (aggDistinct _),
    "agg_approx_distinct" -> (aggApproxDistinct _),
    "agg_rollup" -> (aggRollup _),
    "agg_cube" -> (aggCube _),
    "agg_gsets" -> (aggGsets _),
    "agg_stats" -> (aggStats _),
    "agg_moments" -> (aggMoments _),
    "agg_gini" -> (aggGini _))

  private val geoCte =
    """WITH cust_geo AS (
      |  SELECT * FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey)""".stripMargin

  def oracle: Map[String, String] = Map(
    "agg_listagg" ->
      """WITH r AS (
        |  SELECT c_nationkey, c_name,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY CAST(round(c_acctbal*100) AS BIGINT) DESC,
        |               c_custkey) AS rn
        |  FROM customer)
        |SELECT c_nationkey, count(*) AS n_top,
        |  string_agg(c_name, ',' ORDER BY rn) AS top_names
        |FROM r WHERE rn <= 3
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "agg_decay" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(round(value*100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT max(us) AS aus FROM e)
        |SELECT user_id, count(*) AS n,
        |  sum(CAST(c AS DOUBLE)
        |      / CAST(1::BIGINT << least(CAST(((aus - us) // 86400000000) // 7 AS INT), 62)
        |             AS DOUBLE)) AS decayed_cents
        |FROM e CROSS JOIN a
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_bitmap_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_orderkey // 32) AS n_segments
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_ohlc" ->
      """WITH e AS (
        |  SELECT event_type AS sym,
        |    epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    epoch_us(ts) AS us, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY sym, hour_us
        |                       ORDER BY us ASC, event_id ASC) AS rna,
        |    row_number() OVER (PARTITION BY sym, hour_us
        |                       ORDER BY us DESC, event_id DESC) AS rnd
        |  FROM e)
        |SELECT sym, hour_us,
        |  max(CASE WHEN rna = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rnd = 1 THEN value END) AS close,
        |  count(*) AS n_ticks
        |FROM r GROUP BY sym, hour_us
        |ORDER BY sym, hour_us""".stripMargin,
    "agg_argminmax" ->
      """SELECT c_mktsegment,
        |  arg_max(c_custkey,
        |    CAST(round(c_acctbal*100) AS BIGINT)*10000000 + c_custkey)
        |    AS richest_cust,
        |  round(max(c_acctbal), 2) AS max_bal,
        |  arg_min(c_custkey,
        |    CAST(round(c_acctbal*100) AS BIGINT)*10000000 + c_custkey)
        |    AS poorest_cust,
        |  round(min(c_acctbal), 2) AS min_bal
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "agg_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS BIGINT) AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id)
        |SELECT cohort_wk, wk - cohort_wk AS offset_wk, count(*) AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY cohort_wk, offset_wk
        |ORDER BY cohort_wk, offset_wk""".stripMargin,
    "sample_weighted" ->
      """SELECT source, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM documents
        |WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 <
        |      CAST(floor(least(1.0, CAST(n_chars AS DOUBLE)/2000.0)
        |                 * 4294967296) AS BIGINT)
        |GROUP BY source ORDER BY source""".stripMargin,
    "agg_bool" ->
      """SELECT o_orderpriority,
        |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |  bool_or(o_orderstatus = 'F') AS any_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_corr" ->
      s"""WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(${sqlCents("l_extendedprice")}) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sy,
        |    CAST(sum(${sqlCents("l_extendedprice")} * ${sqlCents("l_extendedprice")}) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS syy,
        |    CAST(sum(${sqlCents("l_extendedprice")} * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |           * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "agg_timebucket" ->
      s"""SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        |  count(*) AS n, ${sqlSumMoney("value")} AS val_sum
        |FROM events GROUP BY hour_us, event_type
        |ORDER BY hour_us, event_type""".stripMargin,
    "agg_mode" ->
      """SELECT user_id, event_type AS mode_type, n FROM (
        |  SELECT user_id, event_type, count(*) AS n,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY count(*) DESC, event_type) AS rn
        |  FROM events WHERE event_type IS NOT NULL
        |  GROUP BY user_id, event_type)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "agg_histogram" ->
      s"""SELECT CAST(round(o_totalprice*100) AS BIGINT) // 5000000 AS bucket,
        |  count(*) AS n_orders,
        |  ${sqlSumMoney("o_totalprice")} AS spend
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "agg_funnel_window" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS us_signup FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(us) AS us_click,
        |              any_value(us_signup) AS us_signup
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > us_signup
        |         AND us <= us_signup + 86400000000 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(us) AS us_purchase
        |       FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > us_click
        |         AND us <= us_signup + 86400000000 GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s1) AS n_signup,
        |       (SELECT count(*) FROM s2) AS n_click_24h,
        |       (SELECT count(*) FROM s3) AS n_full_24h""".stripMargin,
    "event_attribution" ->
      """WITH p AS (SELECT event_id, user_id, ts,
        |    CAST(round(value*100) AS BIGINT) AS rev_cents
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT p.event_id, any_value(p.rev_cents) AS rev_cents,
        |    min({'ts': e.ts, 'id': e.event_id, 'et': e.event_type}).et AS first_touch,
        |    max({'ts': e.ts, 'id': e.event_id, 'et': e.event_type}).et AS last_touch
        |  FROM p JOIN events e ON e.user_id = p.user_id
        |    AND e.ts < p.ts AND e.ts >= p.ts - INTERVAL 7 DAY
        |    AND e.event_type IS NOT NULL
        |  GROUP BY p.event_id),
        |f AS (SELECT first_touch AS channel, count(*) AS n_first,
        |    CAST(coalesce(sum(rev_cents), 0) AS BIGINT) AS rev_first_cents
        |  FROM t GROUP BY 1),
        |l AS (SELECT last_touch AS channel, count(*) AS n_last,
        |    CAST(coalesce(sum(rev_cents), 0) AS BIGINT) AS rev_last_cents
        |  FROM t GROUP BY 1)
        |SELECT channel,
        |  coalesce(n_first, 0) AS n_first,
        |  CAST(coalesce(rev_first_cents, 0) AS DOUBLE)/100 AS rev_first,
        |  coalesce(n_last, 0) AS n_last,
        |  CAST(coalesce(rev_last_cents, 0) AS DOUBLE)/100 AS rev_last
        |FROM f FULL JOIN l USING (channel)
        |ORDER BY channel""".stripMargin,
    "event_paths" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |           FROM events
        |           QUALIFY row_number() OVER (PARTITION BY user_id
        |             ORDER BY us DESC, event_id DESC) <= 1024),
        |s AS (SELECT user_id, list(event_type ORDER BY us, event_id) AS types
        |      FROM e GROUP BY user_id),
        |tri AS (SELECT concat_ws('>', types[i], types[i+1], types[i+2]) AS path
        |        FROM s, unnest(generate_series(1, len(types) - 2)) AS t(i)
        |        WHERE len(types) >= 3)
        |SELECT path, count(*) AS n FROM tri
        |GROUP BY path ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "agg_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS us_signup FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(us) AS us_click FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > us_signup GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(us) AS us_purchase FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > us_click GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s1) AS n_signup,
        |       (SELECT count(*) FROM s2) AS n_signup_click,
        |       (SELECT count(*) FROM s3) AS n_full_funnel""".stripMargin,
    "agg_percentile" ->
      """SELECT o_orderpriority,
        |  quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.25)/100 AS p25,
        |  quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5)/100 AS p50,
        |  quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.75)/100 AS p75,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_collect" ->
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segs,
        |  count(DISTINCT c_mktsegment) AS n_seg,
        |  count(*) AS n_cust
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "sample_mod" ->
      s"""SELECT o_orderstatus, count(*) AS n,
        |  ${sqlSumMoney("o_totalprice")} AS total
        |FROM orders WHERE o_orderkey % 25 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "sample_stratified" ->
      s"""SELECT o_orderpriority, count(*) AS n,
        |  ${sqlSumMoney("o_totalprice")} AS total
        |FROM orders
        |WHERE CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderkey % 2 = 0
        |           WHEN o_orderpriority = '2-HIGH'   THEN o_orderkey % 4 = 0
        |           ELSE o_orderkey % 10 = 0 END
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "sample_group_k" ->
      """SELECT c_mktsegment, c_custkey, rk FROM (
        |  SELECT c_mktsegment, c_custkey,
        |    CAST(row_number() OVER (
        |      PARTITION BY c_mktsegment
        |      ORDER BY ((c_custkey % 2147483648) * 2654435761) % 4294967296, c_custkey)
        |    AS INTEGER) AS rk
        |  FROM customer)
        |WHERE rk <= 3
        |ORDER BY c_mktsegment, rk""".stripMargin,
    // the window formulation on purpose: the differential proves the
    // heap aggregate and the full-sort window agree row-for-row
    "topk_grouped" ->
      """SELECT c_mktsegment, rk, c_custkey, bal FROM (
        |  SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS bal,
        |    CAST(row_number() OVER (
        |      PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rk
        |  FROM customer)
        |WHERE rk <= 3
        |ORDER BY c_mktsegment, rk""".stripMargin,
    "agg_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_unpivot" ->
      s"""WITH wide AS (
        |  SELECT l_returnflag,
        |    ${sqlSumMoney("l_extendedprice")} AS gross,
        |    ${sqlSumMoney("l_extendedprice*l_discount")} AS discounted,
        |    ${sqlSumMoney("l_extendedprice*l_tax")} AS taxed
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'gross' AS metric, gross AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'discounted', discounted FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'taxed', taxed FROM wide
        |ORDER BY l_returnflag, metric""".stripMargin,
    "agg_hash" -> aggHashSql,
    "agg_gini" ->
      """WITH x AS (SELECT c_mktsegment AS seg,
        |             CAST(round(c_acctbal*100) AS BIGINT) AS c, c_custkey AS k
        |           FROM customer),
        |r AS (SELECT seg, c,
        |        CAST(row_number() OVER (PARTITION BY seg ORDER BY c, k) AS BIGINT) AS i
        |      FROM x),
        |s AS (SELECT seg, count(*) AS n,
        |        sum(CAST(c AS HUGEINT)) AS s1,
        |        sum(CAST(i AS HUGEINT)*c) AS sic
        |      FROM r GROUP BY seg)
        |SELECT seg, n,
        |  -- via VARCHAR: DuckDB 1.0's direct int128->double cast is
        |  -- double-rounding; the string parse matches Spark's
        |  -- correctly-rounded BigDecimal.doubleValue
        |  CAST(CAST(2*sic - (n+1)*s1 AS VARCHAR) AS DOUBLE)
        |    / nullif(CAST(CAST(n*s1 AS VARCHAR) AS DOUBLE), 0) AS gini_signed
        |FROM s ORDER BY seg""".stripMargin,
    "agg_moments" ->
      """WITH x AS (SELECT c_mktsegment AS seg,
        |             CAST(round(c_acctbal*100) AS BIGINT) AS c FROM customer),
        |s AS (SELECT seg, count(*) AS n,
        |        CAST(CAST(sum(CAST(c AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS s1,
        |        CAST(CAST(sum(CAST(c AS HUGEINT)*c) AS VARCHAR) AS DOUBLE) AS s2,
        |        CAST(CAST(sum(CAST(c AS HUGEINT)*c*c) AS VARCHAR) AS DOUBLE) AS s3
        |      FROM x GROUP BY seg)
        |SELECT seg, n,
        |  s1/n/100 AS mean_bal,
        |  (s2/n - (s1/n)*(s1/n)) / 10000 AS var_bal,
        |  round((s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n))
        |        / nullif(pow(s2/n - (s1/n)*(s1/n), 1.5), 0), 6) AS skew
        |FROM s ORDER BY seg""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_rollup" ->
      s"""$geoCte
        |SELECT r_name, n_name,
        |  CAST(GROUPING(r_name, n_name) AS INTEGER) AS gid,
        |  count(*) AS n_cust, ${sqlSumMoney("c_acctbal")} AS bal
        |FROM cust_geo GROUP BY ROLLUP(r_name, n_name)
        |-- no input, no report rows: the SQL-standard () grouping set
        |-- emits a grand-total row even over an empty table; Spark's
        |-- Expand-based rollup emits nothing. The guard is a no-op on
        |-- any non-empty input (every grouping row has count(*) >= 1).
        |HAVING count(*) > 0
        |ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "agg_cube" ->
      s"""$geoCte
        |SELECT c_mktsegment, r_name,
        |  CAST(GROUPING(c_mktsegment, r_name) AS INTEGER) AS gid,
        |  count(*) AS n_cust, ${sqlSumMoney("c_acctbal")} AS bal
        |FROM cust_geo GROUP BY CUBE(c_mktsegment, r_name)
        |HAVING count(*) > 0 -- see agg_rollup: empty-input () row
        |ORDER BY gid, c_mktsegment ASC NULLS FIRST, r_name ASC NULLS FIRST""".stripMargin,
    "agg_gsets" ->
      s"""$geoCte
        |SELECT r_name, c_mktsegment,
        |  CAST(GROUPING(r_name, c_mktsegment) AS INTEGER) AS gid,
        |  count(*) AS n_cust, ${sqlSumMoney("c_acctbal")} AS bal
        |FROM cust_geo GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
        |HAVING count(*) > 0 -- see agg_rollup: empty-input () row
        |ORDER BY gid, r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,
    "agg_stats" ->
      s"""SELECT l_returnflag, count(*) AS n,
        |  min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
        |  sqrt((CAST(sum(${sqlCents("l_extendedprice")} * ${sqlCents("l_extendedprice")}) AS DOUBLE)
        |        - CAST(sum(${sqlCents("l_extendedprice")}) AS DOUBLE)
        |          * CAST(sum(${sqlCents("l_extendedprice")}) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |       / (CAST(count(*) AS DOUBLE) - 1.0)) / 100 AS sd,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS med
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
