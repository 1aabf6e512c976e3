package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.QueryPack
import graft.io.Tables
import graft.util.Det._

/** Raw-SQL entry surface (reference taxonomy `src/etl/sql/` —
  * SURVEY.md §0.2: planned but never implemented; this is its
  * Spark-native form). The TPC-H fixture tables register as temp views
  * (once per session and table stamp, `Tables.view`) and the queries
  * run through `spark.sql`, exercising the parser plus the
  * subquery machinery the DataFrame packs don't reach:
  *
  *  - `sql_exists`    → RewritePredicateSubquery (EXISTS → left-semi)
  *  - `sql_corr_scalar` → RewriteCorrelatedScalarSubquery
  *                        (decorrelates to an aggregate + join)
  *  - `sql_cte_window`  → CTE inlining + window over SQL
  *
  * Because both engines speak ANSI, each oracle is nearly the same
  * text — the differential check validates the SQL front door, not
  * just the relational algebra underneath.
  */
object SqlQueries extends QueryPack {

  private def views(s: SparkSession, dir: String): Unit =
    Tables.tpch.foreach(Tables.view(s, dir, _))

  /** TPC-H Q4 shape: order-priority histogram of orders having at
    * least one returned lineitem (fixture lineitem carries no
    * commit/receipt dates, so the Q4 lateness predicate becomes a
    * returnflag test — same EXISTS -> semi-join shape). */
  def sqlExists(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** Customers above their nation's average balance (correlated scalar
    * subquery; Catalyst decorrelates to agg + join). The average is
    * computed cents-exact (Det discipline) so the > comparison cannot
    * flip between engines on float summation order. */
  def sqlCorrScalar(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(
      s"""SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100/count(*)
        |                   FROM customer WHERE c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** CTE + SQL window: each nation's top-3 customers by 1996 spend. */
  def sqlCteWindow(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(
      s"""WITH spend AS (
        |  SELECT c_custkey, c_nationkey,
        |    ${sqlSumMoney("o_totalprice")} AS total
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE year(o_orderdate) = 1996
        |  GROUP BY c_custkey, c_nationkey)
        |SELECT c_nationkey, c_custkey, total, rk FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY c_nationkey ORDER BY total DESC, c_custkey) AS INT) AS rk
        |  FROM spend)
        |WHERE rk <= 3
        |ORDER BY c_nationkey, rk""".stripMargin)
  }

  /** TPC-H Q3 shape (shipping-priority top-N): 3-way join, grouped
    * cents-exact revenue, deterministic top-10 (revenue ties broken by
    * date then key, so LIMIT is stable across engines). Spark plans
    * TakeOrderedAndProject — no global sort at any scale. */
  private val q3Sql =
    s"""SELECT l_orderkey,
      |  ${sqlSumMoney("l_extendedprice*(1.0-l_discount)")} AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-03-15'
      |  AND l_shipdate > TIMESTAMP '1996-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  def sqlTpchQ3(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q3Sql)
  }

  /** TPC-H Q18 shape (large-volume orders): IN over a grouped HAVING
    * subquery (RewritePredicateSubquery → left-semi on the aggregate).
    * l_quantity values are integral doubles, so sum() is exact and
    * order-independent — the HAVING threshold cannot flip between
    * engines. */
  private val q18Sql =
    """SELECT c_custkey, o_orderkey, sum(l_quantity) AS qty_sum
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
      |GROUP BY c_custkey, o_orderkey
      |ORDER BY c_custkey, o_orderkey""".stripMargin

  def sqlInHaving(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q18Sql)
  }

  /** TPC-H Q5 shape (local-supplier volume): 6-table star join with
    * the customer-and-supplier-same-nation constraint, grouped
    * cents-exact revenue per nation. Exercises SQL-side join reorder
    * across the full dim chain (the DataFrame twin is join_multiway);
    * nation/region broadcast, fact-fact shuffles key on the join keys.
    * Ties broken by n_name so DESC order is engine-stable. */
  private val q5Sql =
    s"""SELECT n_name,
      |  ${sqlSumMoney("l_extendedprice*(1.0-l_discount)")} AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  def sqlTpchQ5(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q5Sql)
  }

  /** TPC-H Q10 shape (returned-item reporting): revenue lost to
    * returns per customer over one quarter, top-20. Deterministic
    * LIMIT (revenue DESC, then c_custkey) plans as
    * TakeOrderedAndProject — per-partition top-20, no global sort. */
  private val q10Sql =
    s"""SELECT c_custkey, c_name, n_name,
      |  ${sqlSumMoney("l_extendedprice*(1.0-l_discount)")} AS revenue,
      |  round(c_acctbal, 2) AS bal
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name, c_acctbal
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  def sqlTpchQ10(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q10Sql)
  }

  /** TPC-H Q7 shape (volume shipping): bidirectional nation-pair
    * revenue by ship year — the double-role dimension pattern (nation
    * joined twice under aliases n1/n2 with a symmetric OR pair
    * predicate). Both nation sides broadcast; the fact chain shuffles
    * on its join keys only. */
  private val q7Sql =
    s"""SELECT supp_nation, cust_nation, l_year,
      |  ${sqlSumMoney("volume")} AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    year(l_shipdate) AS l_year,
      |    l_extendedprice * (1.0 - l_discount) AS volume
      |  FROM supplier
      |  JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |    AND l_shipdate >= TIMESTAMP '1995-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  def sqlTpchQ7(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q7Sql)
  }

  /** TPC-H Q8 shape (market share): one nation's share of regional
    * revenue per year — the conditional-aggregate ratio pattern. Both
    * sums run over exact integer cents, so the division divides the
    * SAME integers in both engines and the 6-decimal round can never
    * land on different sides of a tie. */
  private val q8Sql =
    """SELECT o_year,
      |  round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol_cents ELSE 0 END) AS DOUBLE)
      |        / CAST(sum(vol_cents) AS DOUBLE), 6) AS mkt_share
      |FROM (
      |  SELECT year(o_orderdate) AS o_year, n2.n_name AS nation,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS vol_cents
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
      |    AND o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01') all_nations
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  def sqlTpchQ8(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q8Sql)
  }

  /** TPC-H Q19 shape (discounted revenue over bracketed disjunctions):
    * an OR of three (brand, size-range, quantity-range) conjunct
    * brackets — the predicate shape that exercises Catalyst's CNF
    * conversion: the common `p_partkey = l_partkey` join survives, the
    * per-bracket part predicates push to the part scan, and the
    * residual disjunction evaluates post-join. Single-row output,
    * cents-exact. */
  private val q19Sql =
    s"""SELECT ${sqlSumMoney("l_extendedprice*(1.0-l_discount)")} AS revenue,
      |  count(*) AS n
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
      |        AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
      |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  def sqlTpchQ19(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q19Sql)
  }

  /** TPC-H Q1 (pricing summary report): the canonical full-scan
    * aggregate — one wide pass over lineitem, 4 money sums + 3 means +
    * 2 counts per (returnflag, linestatus). Every mean is emitted as a
    * ratio of order-independent integer sums (quantities are integral
    * doubles; discounts sum as basis points), so no float fold order
    * can flip either engine. At scale this is pure map-side partial
    * aggregation into a 6-group reduce — the cheapest possible shape
    * per byte scanned. */
  private val q1Sql =
    s"""SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  ${sqlSumMoney("l_extendedprice")} AS sum_base_price,
      |  ${sqlSumMoney("l_extendedprice*(1.0-l_discount)")} AS sum_disc_price,
      |  ${sqlSumMoney("l_extendedprice*(1.0-l_discount)*(1.0+l_tax)")} AS sum_charge,
      |  sum(l_quantity) / count(*) AS avg_qty,
      |  ${sqlAvgMoney("l_extendedprice")} AS avg_price,
      |  CAST(sum(CAST(round(l_discount*10000) AS BIGINT)) AS DOUBLE)/10000/count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def sqlTpchQ1(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q1Sql)
  }

  /** TPC-H Q6 (forecasting revenue change): scan + 3 selective
    * predicates + scalar aggregate, no join, no group — the query
    * whose entire cost is how many bytes the scan reads. All three
    * predicates push to the parquet reader (PushedFilters), and only
    * 4 of 11 columns survive pruning. Double literals (0.05/0.07)
    * compare against the same stored doubles in both engines. */
  private val q6Sql =
    s"""SELECT ${sqlSumMoney("l_extendedprice*l_discount")} AS revenue,
      |  count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24.0""".stripMargin

  def sqlTpchQ6(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q6Sql)
  }

  /** TPC-H Q14 (promotion effect): conditional-aggregate ratio over a
    * one-month fact slice joined to part — same integer-cents ratio
    * discipline as Q8 (both engines divide the SAME integers). The
    * date predicate prunes the fact side before the join; part joins
    * broadcast. */
  private val q14Sql =
    """SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS DOUBLE)
      |        / CAST(sum(cents) AS DOUBLE), 6) AS promo_revenue
      |FROM (
      |  SELECT p_type, CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT) AS cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      |    AND l_shipdate < TIMESTAMP '1996-10-01') promo""".stripMargin

  def sqlTpchQ14(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q14Sql)
  }

  /** TPC-H Q15 (top supplier): a CTE referenced twice — once as the
    * join input, once inside an uncorrelated scalar-subquery max. The
    * "which supplier hit the quarterly max" tie is decided on exact
    * integer cents, so equality cannot be a float comparison in either
    * engine. At scale: the CTE is one grouped pass over the fact slice;
    * the max is an aggregate of that model-sized result, broadcast
    * back as a scalar — no second fact scan is required (Spark reuses
    * the subquery result; the CTE itself is cheap either way). */
  private val q15Sql =
    s"""WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    sum(${sqlCents("l_extendedprice*(1.0-l_discount)")}) AS total_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_cents AS DOUBLE)/100 AS total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_cents = (SELECT max(total_cents) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  def sqlTpchQ15(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q15Sql)
  }

  /** TPC-H Q17 (small-quantity-order revenue): correlated AVG subquery
    * against the same fact table — the decorrelation stress test
    * (Catalyst rewrites to a per-partkey aggregate joined back;
    * DuckDB does its own decorrelation — the differential proves both
    * got it right). Quantities are integral doubles, so avg is a ratio
    * of exact sums and `l_quantity < 0.2*avg` compares identical
    * doubles in both engines. Output is total/700 (cents → dollars,
    * per-week): one division of identical integers — no round() that
    * could tie-break differently. */
  private val q17Sql =
    s"""SELECT CAST(sum(${sqlCents("l_extendedprice")}) AS DOUBLE)/700 AS avg_weekly_revenue,
      |  count(*) AS n
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  def sqlTpchQ17(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q17Sql)
  }

  /** TPC-H Q22 (global sales opportunity): uncorrelated scalar
    * subquery (cents-exact positive-balance mean) + NOT EXISTS
    * anti-join against orders, grouped per nation. Exercises the
    * anti-join rewrite the other subquery shapes don't. The scalar
    * mean is computed once and broadcast; the anti-join shuffles on
    * custkey only. */
  private val q22Sql =
    s"""SELECT c_nationkey, count(*) AS numcust,
      |  ${sqlSumMoney("c_acctbal")} AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT ${sqlAvgMoney("c_acctbal")}
      |                   FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  def sqlTpchQ22(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q22Sql)
  }

  /** TPC-H Q2 shape (minimum-cost supplier): correlated scalar-min
    * subquery whose inner query is itself a 4-table join — the
    * heaviest decorrelation in the suite (Catalyst rewrites to a
    * per-partkey min aggregate over the joined region slice, joined
    * back on both partkey and price). The fixture has no partsupp
    * table, so lineitem's (partkey, suppkey, extendedprice) plays the
    * part-supplier cost bridge; the equality compares STORED doubles
    * (min of a set — no arithmetic), so it cannot flip engines. */
  private val q2Sql =
    """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name,
      |  l_extendedprice AS min_price
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE' AND r_name = 'EUROPE'
      |  AND l_extendedprice = (
      |    SELECT min(l2.l_extendedprice)
      |    FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  def sqlTpchQ2(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q2Sql)
  }

  /** TPC-H Q9 shape (product-type profit): 5-table join filtered by a
    * substring match on part name, profit grouped by (nation, year).
    * Without partsupp, cost = retail price × quantity; profit is an
    * integer-cents difference (quantities are integral doubles), so
    * the sum is order-independent in both engines. The LIKE pushes to
    * the part scan; nation broadcasts; the fact chain shuffles on its
    * join keys only. */
  private val q9Sql =
    """SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)
      |        - CAST(round(p_retailprice*100) AS BIGINT)*CAST(l_quantity AS BIGINT)) AS DOUBLE)/100 AS sum_profit
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%bolt%'
      |GROUP BY n_name, year(o_orderdate)
      |ORDER BY nation, o_year DESC""".stripMargin

  def sqlTpchQ9(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q9Sql)
  }

  /** TPC-H Q11 shape (important stock): grouped value per part with a
    * HAVING threshold that is a FRACTION of the same aggregate over
    * the whole slice — the CTE-reused-as-scalar pattern (like Q15 but
    * with a fraction, not a max). The comparison multiplies exact
    * integer cents (cents·1000 > total) instead of dividing, so both
    * engines compare the SAME integers; the multiply stays inside
    * Long range until per-slice revenue passes ~9·10¹⁵ cents. */
  private val q11Sql =
    """WITH val AS (
      |  SELECT l_partkey AS ps_partkey,
      |    sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS cents
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_3'
      |  GROUP BY l_partkey)
      |SELECT ps_partkey, CAST(cents AS DOUBLE)/100 AS value
      |FROM val WHERE cents * 1000 > (SELECT sum(cents) FROM val)
      |ORDER BY value DESC, ps_partkey""".stripMargin

  def sqlTpchQ11(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q11Sql)
  }

  /** TPC-H Q12 shape (shipping-mode priority): conditional counts via
    * the ANSI FILTER clause, keyed on the fact attribute (linestatus
    * stands in for shipmode, returnflag for the lateness predicate —
    * the fixture carries no commit/receipt dates). FILTER (not a CASE
    * sum) keeps both engines' count type BIGINT. */
  private val q12Sql =
    """SELECT l_linestatus,
      |  count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT','2-HIGH')) AS high_line_count,
      |  count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_returnflag = 'R'
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  def sqlTpchQ12(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q12Sql)
  }

  /** TPC-H Q13 shape (customer order distribution): LEFT OUTER join
    * with an extra predicate INSIDE the join condition (not the WHERE
    * — moving it would drop customers with zero matching orders),
    * then a double aggregation: count per customer, histogram of the
    * counts. Customers with no orders land in the c_count=0 bucket. */
  private val q13Sql =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  def sqlTpchQ13(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q13Sql)
  }

  /** TPC-H Q16 shape (parts/supplier relationship): COUNT(DISTINCT)
    * over a derived part-supplier bridge (DISTINCT pairs from
    * lineitem — the fixture has no partsupp), with a NOT IN subquery
    * that Catalyst plans as a null-aware anti-join — the one subquery
    * rewrite the other SQL shapes don't reach. */
  private val q16Sql =
    """SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |      FROM lineitem) partsupp
      |JOIN part ON p_partkey = ps_partkey
      |WHERE p_brand <> 'Brand#3' AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1, 14, 23, 45, 19, 3, 36, 9)
      |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  def sqlTpchQ16(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q16Sql)
  }

  /** TPC-H Q20 shape (potential part promotion): nested IN chains —
    * suppliers IN (grouped-HAVING over lineitems whose partkey is IN
    * a LIKE-filtered part set). Both INs rewrite to semi-joins; the
    * HAVING threshold compares integral-double quantity sums, exact
    * in both engines. */
  private val q20Sql =
    """SELECT s_name, s_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name = 'NATION_3'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |      AND l_shipdate >= TIMESTAMP '1996-01-01'
      |      AND l_shipdate < TIMESTAMP '1997-01-01'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING sum(l_quantity) > 30.0)
      |ORDER BY s_name""".stripMargin

  def sqlTpchQ20(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q20Sql)
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): EXISTS and
    * NOT EXISTS both correlated to the SAME outer fact row — the
    * only-this-supplier-failed pattern (returnflag stands in for the
    * late-receipt predicate). Catalyst plans one semi- and one
    * anti-join against the re-scanned fact, both keyed on orderkey. */
  private val q21Sql =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
      |  AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  def sqlTpchQ21(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(q21Sql)
  }

  /** Recursive CTE (Spark 4.x): a 48-month calendar spine generated
    * by bounded UNION ALL recursion, LEFT JOINed to monthly revenue —
    * the gap-fill every revenue dashboard needs (months with zero
    * orders must appear as zeros, which no GROUP BY over the fact
    * table alone can produce). The recursion is a counter ladder, so
    * termination is structural; month arithmetic stays in +/−/% (INT
    * in both engines — `div` would widen Spark's column to BIGINT and
    * break the recursive schema match). Spark's recursive CTEs
    * require UNION ALL (UNION-distinct recursion is unsupported as of
    * 4.1), which rules out cyclic closures — the DataFrame iteration
    * in TextOps.connectedComponents remains the graph path. */
  private val recursiveSql =
    s"""WITH RECURSIVE spine(ym) AS (
      |  SELECT 199501
      |  UNION ALL
      |  SELECT CASE WHEN ym % 100 = 12 THEN ym - ym % 100 + 101
      |              ELSE ym + 1 END
      |  FROM spine WHERE ym < 199812),
      |rev AS (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    ${sqlSumMoney("o_totalprice")} AS revenue,
      |    count(*) AS n
      |  FROM orders GROUP BY 1)
      |SELECT s.ym, coalesce(r.revenue, 0.0) AS revenue,
      |  CAST(coalesce(r.n, 0) AS BIGINT) AS n_orders
      |FROM spine s LEFT JOIN rev r ON s.ym = r.ym
      |ORDER BY s.ym""".stripMargin

  def sqlRecursive(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(recursiveSql)
  }

  /** Correlated LATERAL subquery — "top-2 orders per customer" as the
    * SQL-standard lateral derived table: the one subquery shape the
    * rest of the pack doesn't reach (EXISTS/IN/scalar are predicates;
    * LATERAL is a correlated TABLE). Catalyst plans it through
    * LateralJoin + DecorrelateInnerQuery, rewriting the per-row
    * ORDER BY + LIMIT into a partitioned window — the decorrelation
    * surface this query pins. Selection carries a total order
    * (o_totalprice DESC, o_orderkey), so the kept 2 rows are
    * engine-identical under ties. */
  def sqlLateral(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(lateralSql)
  }

  private val lateralSql =
    """SELECT c.c_custkey, o.o_orderkey, o.tp
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS tp FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      |ORDER BY c.c_custkey, tp DESC, o_orderkey""".stripMargin

  /** SQL PIVOT syntax (Spark's relation-pivot clause): order counts
    * per priority rotated to one column per status. The parser-level
    * twin of the DataFrame agg_pivot — same Expand-free plan (pivot
    * compiles to conditional aggregates), exercised through the SQL
    * front door. Missing cells are NULL in pivot semantics (the
    * aggregate never ran), which the oracle mirrors with
    * nullif(count, 0) — the classic pivot-vs-CASE discrepancy pinned
    * by the differential. */
  def sqlPivot(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(
      """SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
        |PIVOT (count(*) FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
        |ORDER BY o_orderpriority""".stripMargin)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_pivot" -> (sqlPivot _),
    "sql_lateral" -> (sqlLateral _),
    "sql_recursive" -> (sqlRecursive _),
    "sql_exists" -> (sqlExists _),
    "sql_corr_scalar" -> (sqlCorrScalar _),
    "sql_tpch_q1" -> (sqlTpchQ1 _),
    "sql_tpch_q6" -> (sqlTpchQ6 _),
    "sql_tpch_q14" -> (sqlTpchQ14 _),
    "sql_tpch_q15" -> (sqlTpchQ15 _),
    "sql_tpch_q17" -> (sqlTpchQ17 _),
    "sql_tpch_q22" -> (sqlTpchQ22 _),
    "sql_tpch_q3" -> (sqlTpchQ3 _),
    "sql_tpch_q5" -> (sqlTpchQ5 _),
    "sql_tpch_q7" -> (sqlTpchQ7 _),
    "sql_tpch_q8" -> (sqlTpchQ8 _),
    "sql_tpch_q10" -> (sqlTpchQ10 _),
    "sql_tpch_q19" -> (sqlTpchQ19 _),
    "sql_tpch_q2" -> (sqlTpchQ2 _),
    "sql_tpch_q9" -> (sqlTpchQ9 _),
    "sql_tpch_q11" -> (sqlTpchQ11 _),
    "sql_tpch_q12" -> (sqlTpchQ12 _),
    "sql_tpch_q13" -> (sqlTpchQ13 _),
    "sql_tpch_q16" -> (sqlTpchQ16 _),
    "sql_tpch_q20" -> (sqlTpchQ20 _),
    "sql_tpch_q21" -> (sqlTpchQ21 _),
    "sql_in_having" -> (sqlInHaving _),
    "sql_cte_window" -> (sqlCteWindow _))

  def oracle: Map[String, String] = Map(
    "sql_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(nullif(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS f,
        |  CAST(nullif(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS o,
        |  CAST(nullif(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT) AS p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // identical text: DuckDB evaluates the same bounded recursion
    "sql_recursive" -> recursiveSql,
    // both engines speak the same text for the TPC-H shapes
    "sql_tpch_q1" -> q1Sql,
    "sql_tpch_q6" -> q6Sql,
    "sql_tpch_q14" -> q14Sql,
    "sql_tpch_q15" -> q15Sql,
    "sql_tpch_q17" -> q17Sql,
    "sql_tpch_q22" -> q22Sql,
    "sql_lateral" -> lateralSql,
    "sql_tpch_q3" -> q3Sql,
    "sql_tpch_q5" -> q5Sql,
    "sql_tpch_q7" -> q7Sql,
    "sql_tpch_q8" -> q8Sql,
    "sql_tpch_q10" -> q10Sql,
    "sql_tpch_q19" -> q19Sql,
    "sql_tpch_q2" -> q2Sql,
    "sql_tpch_q9" -> q9Sql,
    "sql_tpch_q11" -> q11Sql,
    "sql_tpch_q12" -> q12Sql,
    "sql_tpch_q13" -> q13Sql,
    "sql_tpch_q16" -> q16Sql,
    "sql_tpch_q20" -> q20Sql,
    "sql_tpch_q21" -> q21Sql,
    "sql_in_having" -> q18Sql,
    "sql_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "sql_corr_scalar" ->
      """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100/count(*)
        |                   FROM customer WHERE c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "sql_cte_window" ->
      s"""WITH spend AS (
        |  SELECT c_custkey, c_nationkey,
        |    ${sqlSumMoney("o_totalprice")} AS total
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE year(o_orderdate) = 1996
        |  GROUP BY c_custkey, c_nationkey)
        |SELECT c_nationkey, c_custkey, total, rk FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY c_nationkey ORDER BY total DESC, c_custkey) AS INT) AS rk
        |  FROM spend)
        |WHERE rk <= 3
        |ORDER BY c_nationkey, rk""".stripMargin)
}
