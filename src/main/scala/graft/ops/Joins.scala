package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.io.Tables.t
import graft.util.Det._

/** SURVEY.md §2.3 — join strategies.
  *
  * Scale posture: `broadcast()` is hinted only on provably-bounded
  * sides (region=5, nation=25 rows at ANY scale factor; filtered
  * supplier band in the theta join). Fact-fact joins are left to
  * Catalyst → sort-merge/shuffled-hash with AQE skew handling; at
  * 100 TB those shuffles partition on the join key and scale linearly.
  * The as-of join avoids a join entirely: one shuffle by user_id, then
  * a window scan — the classic union+last(ignoreNulls) emulation.
  */
object Joins extends QueryPack {

  /** Hot-basket document-frequency cap for co-purchase pair
    * generation — the graph twin of `TextOps.hotShingleCap`, found the
    * same way (the round-13 skew world plants one orderkey holding
    * ~20% of lineitem; the uncapped per-order pair expansion on that
    * basket is C(1.2M, 2) ≈ 7×10¹¹ pairs at sf1.0, and the in-row
    * array HOF OOMs long before that). A basket (order — or (order,
    * brand) block for the jaccard scorer) with more than this many
    * DISTINCT parts is excluded from pair generation entirely: at
    * that size it is an aggregation artifact (bot traffic, wholesale
    * consolidation, a skewed key), not co-purchase signal, and its
    * pair space is quadratic by definition. Applied only in
    * [[basketPairs]], interpolated into the five graph DuckDB oracles
    * and read by the graph_cc union-find spec reference, so the capped
    * SEMANTICS are checked on the skew world where the cap does real
    * work — the same discipline as the shingle cap. 1024 caps the
    * per-basket in-row expansion at ~524k pair structs (~8 MB), and
    * is a >100× margin over any clean-world basket (≤ ~7 parts). */
  val hotBasketCap = 1024

  /** Hub cut for graph_jaccard's wedge enumeration — the second
    * quadratic hole the round-13 skew world exposed. The basket cap
    * above bounds pair GENERATION, but a hot basket that stays under
    * it (the planted order spreads ~800 distinct parts per (order,
    * brand) block) — or ordinary popularity accumulated across MANY
    * small baskets, which no basket cap can see — turns every one of
    * its parts into a hub, and the wedge join's pair space is
    * Σ_w deg(w)² over shared neighbors w: ~800² × 20k parts ≈ 10¹⁰
    * wedges on that world (measured: the un-cut join ground 4 tasks
    * ×12+ min before being killed). The cut: wedges enumerate only at
    * shared neighbors with within-brand degree ≤ this cap, while the
    * Jaccard DENOMINATORS keep exact uncut degrees — so intersection
    * counts exclude mega-hub co-neighbors but set sizes don't, and a
    * pair must share RARE neighbors to surface. This is the standard
    * recommender trade (a shared ultra-popular item is noise, not
    * affinity) and exactly the df-cap/set-size split dedup_ngram
    * already pins. Interpolated into graph_jaccard's DuckDB oracle.
    * 256 bounds per-neighbor wedge work at 65k pairs and sits far
    * above any clean-world within-brand degree (~tens). */
  val hubNeighborCap = 256

  /** Every unordered pair of a sorted, distinct array as
    * `array<struct<a, b>>` with a < b, row-major: (x0, x1), (x0, x2),
    * …, (x1, x2), …. The combination runs inside the row (array
    * HOFs), so no self-join ever materializes the group × group
    * space; the caller bounds the array, since it yields C(n, 2)
    * structs. */
  private[graft] def pairsOf(arr: Column): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + 2, size(arr)), y => struct(x.as("a"), y.as("b")))))

  /** The co-purchase pair stream every graph query reads: `(by…, a,
    * b)` with a < b, one row per basket holding both parts (no
    * distinct; each caller dedups, counts or samples as it needs). A
    * basket is an `l_orderkey` group of `li`, refined by `by`
    * (graph_jaccard blocks by brand, so cross-brand pairs never
    * materialize). One shuffle on the basket key with a map-side
    * partial collect, a basket past [[hotBasketCap]] distinct parts
    * dropped, then [[pairsOf]] over the sorted part list. The
    * oracles' spelling — a self-join of the deduped, capped (order,
    * part) rows on `l.o = r.o AND l.p < r.p` — gives the same
    * multiset but shuffles the fact table twice and sorts both sides:
    * measured 1.8 s vs 0.9 s on graph_triangles at sf0.1. */
  private[graft] def basketPairs(li: DataFrame, by: Column*): DataFrame = {
    val baskets = li.groupBy(col("l_orderkey") +: by: _*)
      .agg(sort_array(array_distinct(collect_list(col("l_partkey")))).as("ps"))
      .where(size(col("ps")) <= hotBasketCap)
    val keys = baskets.columns.slice(1, by.size + 1).toSeq.map(col)
    baskets.select(keys :+ explode(pairsOf(col("ps"))).as("p"): _*)
      .select(keys ++ Seq(col("p.a").as("a"), col("p.b").as("b")): _*)
  }

  /** Dim join with tiny build sides → BroadcastHashJoinExec. */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name", $"r_name")
    t(s, dir, "customer")
      .join(broadcast(dim), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name", $"r_name")
      .orderBy($"c_custkey")
  }

  /** Fact-fact equi join orders⋈lineitem → shuffle join + partial agg. */
  def joinShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderstatus")
      .agg(sumMoney($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy($"o_orderkey")
  }

  /** TPC-H Q5-shaped 6-table star join; Catalyst reorders, dims broadcast. */
  def joinMultiway(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey")
      .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .join(t(s, dir, "supplier"),
            $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(t(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .where($"r_name" === "ASIA" &&
             $"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
             $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .groupBy($"n_name")
      .agg(sumMoney($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy($"n_name")
  }

  /** Left outer: every customer, with 1995 order count (0 if none). */
  def joinLeft(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o95 = t(s, dir, "orders").where(year($"o_orderdate") === 1995)
    t(s, dir, "customer")
      .join(o95, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey", $"c_mktsegment")
      .agg(count($"o_orderkey").as("n95"),
           sumMoney(coalesce($"o_totalprice", lit(0.0))).as("spend95"))
      .orderBy($"c_custkey")
  }

  /** Full outer over per-year purchase summaries (unmatched both ways). */
  def joinFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = t(s, dir, "orders").where(year($"o_orderdate") === 1995)
      .groupBy($"o_custkey".as("k95")).agg(count(lit(1)).as("n95"))
    val b = t(s, dir, "orders").where(year($"o_orderdate") === 1996)
      .groupBy($"o_custkey".as("k96")).agg(count(lit(1)).as("n96"))
    a.join(b, $"k95" === $"k96", "full")
      .select(coalesce($"k95", $"k96").as("custkey"), $"n95", $"n96")
      .orderBy($"custkey")
  }

  /** Left-semi: customers having at least one urgent order. */
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = t(s, dir, "orders")
      .where($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    t(s, dir, "customer")
      .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Left-anti: customers with no orders at all. */
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(t(s, dir, "orders").select($"o_custkey"),
            $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  /** Pure non-equi band join (no equi key) → broadcast nested loop on
    * a provably-small filtered build side. Scale path: bucket both
    * sides on floor(acctbal/width) and equi-join buckets ±1. */
  def joinTheta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rich = t(s, dir, "supplier").where($"s_acctbal" > 9000.0)
    t(s, dir, "customer")
      .join(broadcast(rich),
            $"c_acctbal" >= $"s_acctbal" - 50.0 && $"c_acctbal" <= $"s_acctbal" + 50.0)
      .groupBy($"s_suppkey")
      .agg(count(lit(1)).as("n_close"), sumMoney($"c_acctbal").as("bal_sum"))
      .orderBy($"s_suppkey")
  }

  /** As-of join: for each purchase event, the latest click by the same
    * user at-or-before it. Spark lacks a native as-of join; emulated
    * with the union + last(ignoreNulls) window trick: one shuffle by
    * user_id, one sort — no join, no state blowup at scale. */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
    val clicks = e.where($"event_type" === "click")
      .groupBy($"user_id", $"ts") // unique (user,ts) so tie-break is engine-independent
      .agg(max($"event_id").as("click_id"))
      .select($"user_id", $"ts", lit(0).as("kind"),
              lit(null).cast("long").as("p_id"), $"click_id")
    val purchases = e.where($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(1).as("kind"),
              $"event_id".as("p_id"), lit(null).cast("long").as("click_id"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"kind".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click", last($"click_id", ignoreNulls = true).over(w))
      .where($"kind" === 1)
      .select($"user_id", $"p_id".as("purchase_id"), $"ts",
              $"last_click".as("click_id"))
      .orderBy($"user_id", $"purchase_id")
  }

  /** Forward as-of join — the mirror of [[joinAsof]]: for each
    * purchase, the EARLIEST click by the same user at-or-after it
    * (attribution windows, "next action after X" lookups). Same
    * union + window trick, flipped: first(ignoreNulls) over
    * [current, unbounded following], with purchases sorted before
    * same-timestamp clicks (kind desc) so an equal-ts click
    * qualifies — mirroring the oracle's inclusive p.ts <= c.ts. One
    * user-keyed shuffle, one sort, no join state. */
  def joinAsofForward(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
    val clicks = e.where($"event_type" === "click")
      .groupBy($"user_id", $"ts") // unique (user,ts) so tie-break is engine-independent
      .agg(max($"event_id").as("click_id"))
      .select($"user_id", $"ts", lit(0).as("kind"),
              lit(null).cast("long").as("p_id"), $"click_id")
    val purchases = e.where($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(1).as("kind"),
              $"event_id".as("p_id"), lit(null).cast("long").as("click_id"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"kind".desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    clicks.unionByName(purchases)
      .withColumn("next_click", first($"click_id", ignoreNulls = true).over(w))
      .where($"kind" === 1)
      .select($"user_id", $"p_id".as("purchase_id"), $"ts",
              $"next_click".as("click_id"))
      .orderBy($"user_id", $"purchase_id")
  }

  /** Nearest as-of join — the third member of the family: for each
    * purchase, the click by the same user minimizing |Δt|, ties to
    * the EARLIER click. One union pass, ONE user-keyed sort (ts asc,
    * clicks before equal-ts purchases): the backward candidate is
    * last(ignoreNulls) over [unbounded, current] (inclusive at equal
    * ts), the forward candidate first(ignoreNulls) over [current,
    * unbounded] (exclusive at equal ts — harmless, the backward side
    * already holds that row at Δ=0 and the tie rule prefers it). Both
    * windows share the single exchange+sort; distances compare as
    * exact integer microseconds. */
  /** As-of join with a TOLERANCE — pandas `merge_asof(tolerance=…)` /
    * feature-store point-in-time lookup semantics: each purchase
    * takes the latest prior click by the same user ONLY if it is at
    * most 1 hour old; a staler match is nulled out (the row survives,
    * left-join style). The tolerance is what makes as-of joins safe
    * for feature freshness: a feature computed from a week-old click
    * is a training-serving skew bug, not a match.
    *
    * Same union + one-window-pass shape as [[joinAsof]] (no join
    * state, one user-keyed shuffle); the only addition is a second
    * IGNORE-NULLS last() carrying the matched click's timestamp so
    * the staleness test is exact integer µs arithmetic — applied
    * AFTER the window, so it cannot change which click is "latest
    * prior" (oracle mirrors with ASOF LEFT JOIN + CASE). */
  def joinAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
    val clicks = e.where($"event_type" === "click")
      .groupBy($"user_id", $"ts") // unique (user,ts) so tie-break is engine-independent
      .agg(max($"event_id").as("click_id"))
      .select($"user_id", $"ts", lit(0).as("kind"),
              lit(null).cast("long").as("p_id"), $"click_id")
    val purchases = e.where($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(1).as("kind"),
              $"event_id".as("p_id"), lit(null).cast("long").as("click_id"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"kind".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click", last($"click_id", ignoreNulls = true).over(w))
      .withColumn("last_click_us",
        last(when($"kind" === 0, unix_micros($"ts".cast("timestamp"))),
             ignoreNulls = true).over(w))
      .where($"kind" === 1)
      .select($"user_id", $"p_id".as("purchase_id"), $"ts",
        when(unix_micros($"ts".cast("timestamp")) - $"last_click_us" <=
               lit(3600L * 1000000L), $"last_click").as("click_id"))
      .orderBy($"user_id", $"purchase_id")
  }

  /** PageRank centrality over the part co-purchase graph (edges =
    * distinct part pairs sharing an order — [[basketPairs]]'
    * one-shuffle basket expansion, deduped): the "which SKUs anchor
    * the catalog" ranking, and the §2.3 family's iterative member
    * next to the exact CC closure and the sampled triangle count.
    * 5 fixed power iterations at d = 0.85; iteration mechanics
    * and scale shape live in [[graft.graph.Graph.pagerank]] (one
    * vertex-keyed join + sum per pass, localCheckpoint'd model-sized
    * state). Output is the deterministic top-20 (rank desc, id asc —
    * TakeOrderedAndProject, no global sort) with ranks in PICORANKS
    * (longs on the 1e12 scale — see the pagerank scaladoc for why
    * fixed point: order-independent integer sums make the result
    * bit-reproducible under any partitioning AND exactly oracle-able).
    * Oracled since r13 (previously no-oracle as iterative FLOAT
    * propagation, which has no exact SQL twin): the DuckDB side
    * unrolls the same 5 integer passes over the same capped pair
    * stream. PropertySpec keeps the invariants: Σrank deficit band,
    * planted-star centrality, exact parity with an in-test sequential
    * reference and between both join-strategy paths. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
    // pair-volume estimate for the memory-bounding partition
    // derivation (Sessions.pairAggPartitions): measured basket shape
    // (~4 distinct parts/order → C(4,2)=6 pairs per ~4 rows) puts the
    // pair stream at ~2× the lineitem row count across every probed
    // sf — and the count() itself is one column-pruned metadata-cheap
    // pass, paid once before the corpus-scale work
    val estPairs = 2L * li.count()
    graft.graph.Graph.pagerank(basketPairs(li), iters = prIters,
        damp = prDampPm / 1000.0, edgeRowsHint = estPairs)
      .orderBy($"rank".desc, $"id".asc).limit(20)
      .select($"id", $"rank".as("rank_pico"))
  }

  /** graph_pagerank's parameters, shared by the query and its oracle
    * twin so changing either keeps the two in lockstep (round-13
    * advice: the oracle hardcoded the 150/850 per-mille split while
    * the Spark side derived it from `damp` — an invisible coupling).
    * Damping is held per-mille because that is the exact quantization
    * [[graft.graph.Graph.pagerank]] computes in. */
  private[graft] val prDampPm: Long = 850L
  private[graft] val prIters: Int = 5

  /** Connected components of the co-purchase part graph — the third
    * classic graph primitive surfaced as a query (triangles and
    * PageRank being the others), and deliberately run through
    * [[graft.graph.Graph.connectedComponentsStar]]'s O(log n)
    * star contraction: the co-purchase graph is the regime the dedup
    * clusterers never reach — ONE giant component spanning most parts
    * plus a long singleton-pair tail — where hash-min label
    * propagation would need diameter-many passes and contraction
    * converges in a handful. Output is the model-sized component
    * census (size histogram), not the n-row label table.
    *
    * Oracled (round 13, previously declared no-oracle): a NAIVE
    * recursive-CTE reachability closure is quadratic in DuckDB on the
    * giant component (dedup_clusters' closure oracle works only
    * because dup clusters are TINY), but a HYBRID twin is near-linear:
    * six unrolled min-label propagation rounds over the (order, part)
    * membership table — plain GROUP BYs, no recursion — collapse the
    * dense giant component (diameter ~4) to a handful of labels, then
    * an exact monotone-filtered recursive closure (`WHERE lbl < node`,
    * sound because a component's minimum id is smaller than every
    * other member) runs on the CONTRACTED quotient graph, which is
    * model-sized after propagation and chain-shaped at worst — the
    * regime where the filtered closure is cheap. The two phases cover
    * each other's worst case: propagation kills density, closure
    * kills diameter; neither alone is safe on every world fixture.
    * The quotient preserves components because a label class is
    * connected in the original graph (labels only travel along
    * edges). 0.2 s at sf0.01, 1.3 s at sf0.1 — vs 27 s (closure
    * alone) / non-terminating (naive closure at sf0.1). The
    * driver-side union-find census check in OperatorSpec stays as the
    * in-JVM witness. */
  def graphCc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Touched-variant CC: every co-purchase vertex is on a pair by
    // construction, so the vertex universe comes from the star's own
    // checkpointed edge set — the pair generator is consumed exactly
    // once (a separate vertices derivation would either re-run the
    // lineitem groupBy per pruned union branch or force a second
    // corpus-scale checkpoint).
    graft.graph.Graph.connectedComponentsStarTouched(basketPairs(t(s, dir, "lineitem")))
      .groupBy($"lbl").agg(count(lit(1)).as("n_members"))
      .groupBy($"n_members").agg(count(lit(1)).as("n_components"))
      .orderBy($"n_members")
  }

  /** Degree distribution of the DISTINCT co-purchase graph — the
    * first diagnostic run on any large graph (is it scale-free? where
    * do the hubs start?) and the input to every degree-cap decision
    * (graph_triangles' orientation, graph_jaccard's hub cut). Three
    * hash aggregates, each with map-side partials: pair-dedup keys on
    * the edge, degree keys on the vertex, the histogram keys on the
    * degree — no step is ever quadratic, and the result is
    * |distinct degrees|-sized. */
  def graphDegree(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // One chain, one distinct, all map-side-partial — NOT union(e.a,
    // e.b) over a shared distinct edge subtree: column pruning gives a
    // union's two branches different plans, ReuseExchange can't kick
    // in, and the whole pair-generation + distinct subtree executes
    // TWICE (measured 109 s vs 23 s at sf1.0). The dedup runs on the
    // CANONICAL (a < b) pair stream and both orientations explode
    // AFTER it from the already-distinct edge row (r15, guide §2.3):
    // the previous version generated both orientations inside the
    // basket row and pushed 2|pairs| rows through the distinct
    // exchange — the adjacency set is symmetric by construction, so
    // deduping one orientation and unpacking the endpoints map-side
    // halves the bytes through the query's one corpus-scale shuffle.
    // Same degrees: each distinct edge contributes 1 to both ends.
    basketPairs(t(s, dir, "lineitem"))
      .distinct()
      .select(explode(array($"a", $"b")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
      .groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"deg")
  }

  /** graph_jaccard's edge builder, pre-checkpoint — package-visible so
    * PlanSpec can lock the broadcast brand join (the checkpoint hides
    * this subtree behind a Scan ExistingRDD in the outer plan). */
  private[graft] def graphJaccardEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brand = t(s, dir, "part").select($"p_partkey", $"p_brand")
    // generate WITHIN-BRAND pairs directly: brand joins onto lineitem
    // map-side (broadcast), the basket key is (order, brand), and
    // the per-basket combination explodes only same-brand items — the
    // cross-brand 24/25 of the pair stream is never materialized
    // (Σ_brand k_b² vs Σ k², the blocking applied at GENERATION).
    basketPairs(
        t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
          .join(broadcast(brand), $"l_partkey" === $"p_partkey"),
        $"p_brand".as("brand"))
      .distinct()
  }

  /** Neighbor-overlap link prediction, BRAND-scoped: Jaccard of the
    * within-brand co-purchase neighbor sets for every part pair
    * sharing ≥1 common neighbor — the "customers who bought X also
    * bought Y" candidate scorer, blocked the way production
    * recommenders actually run it (within a category, because
    * cross-category overlap is noise and the unblocked wedge space is
    * quadratic in the hubs — which is also why wedges only enumerate
    * at shared neighbors under [[hubNeighborCap]]; denominators keep
    * exact degrees). Candidates are the WEDGES at each (brand, shared
    * neighbor), expanded in-row by [[pairsOf]] — never an all-pairs
    * product — so
    * the pair space is Σ_brand Σ_w deg_w², bounded by the category
    * partitioning at any scale (measured: 230k wedge pairs at sf0.1
    * vs ~65M unblocked); the same blocking argument as
    * sim_knn_join's label and dedup's LSH buckets, with a SEMANTIC
    * block instead of a hashed one. Jaccard divides exact integers
    * once per pair (bit-deterministic cross-engine) and the top-20
    * plans TakeOrderedAndProject — no global sort. */
  def graphJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // localCheckpoint pins the tiny edge set (~|E|/25 rows) for its
    // three consumers (wedge pairs + the two denominator joins).
    val e = graphJaccardEdges(s, dir).localCheckpoint()
    // ONE (brand, w)-keyed aggregate carries the whole wedge phase
    // (r15, guide §2.4): group the symmetric adjacency by shared
    // neighbor w into a sorted neighbor LIST. The group size IS
    // deg(w) — the hub cut becomes a free size() filter instead of a
    // degree join — and wedge pairs explode IN-ROW from the list
    // ([[pairsOf]]), so the wedge self-join on (brand, w) and its two
    // exchanges disappear. Same pairs: each
    // unordered (pa, pb) sharing neighbor w appears once per w, with
    // pa < pb from the sorted list (= the old join's pa < pb cut).
    // deg(x) also reads off the same aggregate (x's own group size).
    // The three consumers re-scan the checkpointed edge RDD and
    // re-run the partial aggregation each (the captured plan shows
    // three Exchange subtrees; any sharing is AQE-runtime
    // ReusedExchange, not a planned guarantee) — the checkpoint scan
    // is cheap and the partials are edge-set-sized, so the recompute
    // is the right trade vs a second materialization barrier.
    // In-row expansion is hub-cut-bounded: ≤ cap²/2 ≈ 32k structs.
    val adj = e.select($"brand", explode(array(
        struct($"a".as("x"), $"b".as("w")),
        struct($"b".as("x"), $"a".as("w")))).as("p"))
      .select($"brand", $"p.x".as("x"), $"p.w".as("w"))
    // collect_list builds the FULL neighbor list per node, hubs
    // included (exact degrees are needed below, and the hub cut can
    // only apply after the size is known) — per-group memory is
    // bounded by the max node degree, not by hubNeighborCap. Fine at
    // this operator's scale (edges are brand-blocked and basket-capped
    // upstream); if max degree ever grows past task memory, split the
    // aggregate: count-only degrees for everyone, lists only for
    // groups a pre-count marks non-hub.
    val nbrs = adj.groupBy($"brand", $"w")
      .agg(sort_array(collect_list($"x")).as("ns"))
    // exact degrees for the denominators: deg(x) = size of x's group
    // (adjacency is symmetric; edges are within-brand, so w's brand
    // is a function of w and the brand key splits nothing)
    val sdeg = nbrs.select($"w".as("x"), size($"ns").cast("long").as("deg"))
    // hub cut (see hubNeighborCap): wedges enumerate only at non-hub
    // shared neighbors; sdeg keeps exact degrees for the denominators
    val inter = nbrs.where(size($"ns") <= hubNeighborCap)
      .select(explode(pairsOf($"ns")).as("p"))
      .select($"p.a".as("pa"), $"p.b".as("pb"))
      .groupBy($"pa", $"pb").agg(count(lit(1)).as("inter"))
    inter
      .join(sdeg.select($"x".as("pa"), $"deg".as("dega")), Seq("pa"))
      .join(sdeg.select($"x".as("pb"), $"deg".as("degb")), Seq("pb"))
      .select($"pa", $"pb", $"inter",
        round($"inter".cast("double") /
              ($"dega" + $"degb" - $"inter").cast("double"), 6).as("jaccard"))
      .orderBy($"jaccard".desc, $"pa".asc, $"pb".asc)
      .limit(20)
  }

  def joinAsofNearest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
    val clicks = e.where($"event_type" === "click")
      .groupBy($"user_id", $"ts") // unique (user,ts): engine-free tie-break
      .agg(max($"event_id").as("click_id"))
      .select($"user_id", $"ts", lit(0).as("kind"),
              lit(null).cast("long").as("p_id"), $"click_id")
    val purchases = e.where($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(1).as("kind"),
              $"event_id".as("p_id"), lit(null).cast("long").as("click_id"))
    val ord = Window.partitionBy($"user_id").orderBy($"ts".asc, $"kind".asc)
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val c = when($"kind" === 0,
      struct(unix_micros($"ts".cast("timestamp")).as("us"), $"click_id"))
    clicks.unionByName(purchases)
      .withColumn("us", unix_micros($"ts".cast("timestamp")))
      .withColumn("prev", last(c, ignoreNulls = true).over(back))
      .withColumn("next", first(c, ignoreNulls = true).over(fwd))
      .where($"kind" === 1)
      .withColumn("take_prev", $"prev".isNotNull &&
        ($"next".isNull || ($"us" - $"prev.us") <= ($"next.us" - $"us")))
      .select($"user_id", $"p_id".as("purchase_id"), $"ts",
        when($"take_prev", $"prev.click_id")
          .otherwise($"next.click_id").as("click_id"),
        when($"take_prev", $"us" - $"prev.us")
          .otherwise($"next.us" - $"us").as("dt_us"))
      .orderBy($"user_id", $"purchase_id")
  }

  /** Range (band) self-join AT SCALE: pairs of events by the same user
    * within 5 minutes of each other. The naive formulation is a
    * non-equi join → BNLJ → quadratic; the scale-safe one quantizes
    * time into band-width buckets and EQUI-joins on (user, bucket):
    * the probe side explodes to its bucket and the next (any pair
    * within W spans at most one boundary when ordered by time), and a
    * residual predicate keeps exact semantics. Shuffle keys on
    * (user_id, bucket) — high-cardinality, skew-free, linear in the
    * pair count instead of |A|×|B|. Each unordered pair is counted
    * exactly once (time order, id tie-break), so no distinct needed. */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 5L * 60 * 1000000 // 5-minute band in µs
    val ev = t(s, dir, "events")
      .select($"user_id", $"event_id",
              unix_micros($"ts".cast("timestamp")).as("us"))
    val a = ev.select($"user_id", $"event_id".as("id_first"), $"us".as("us_a"))
      .withColumn("bkt", explode(array(expr(s"us_a div $W"),
                                       expr(s"us_a div $W + 1"))))
    val b = ev.select($"user_id", $"event_id".as("id_second"), $"us".as("us_b"))
      .withColumn("bkt", expr(s"us_b div $W"))
    a.join(b, Seq("user_id", "bkt"))
      .where($"us_b" - $"us_a" <= W &&
             ($"us_a" < $"us_b" ||
              ($"us_a" === $"us_b" && $"id_first" < $"id_second")))
      .select($"user_id", $"id_first", $"id_second",
              ($"us_b" - $"us_a").as("gap_us"))
      .orderBy($"user_id", $"id_first", $"id_second")
  }

  /** The NAIVE formulation of [[joinRange]] — equi key + band residual,
    * no manual bucketing in the query text. Correct in any session; in
    * sessions with GraftExtensions registered, graft.plans.BandJoinRule
    * injects the bucket equi-keys into the logical plan automatically
    * (BandJoinRuleSpec + PlanSpec assert the rewrite), so the naive
    * text gets joinRange's bounded formulation without the author
    * knowing the trick. Declared as its own query so the driver
    * verifies the REWRITTEN plan against the same oracle. */
  def joinRangeAuto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 5L * 60 * 1000000 // 5-minute band in µs
    val ev = t(s, dir, "events")
      .select($"user_id", $"event_id",
              unix_micros($"ts".cast("timestamp")).as("us"))
    val a = ev.select($"user_id", $"event_id".as("id_first"), $"us".as("us_a"))
    val b = ev.select($"user_id".as("u2"), $"event_id".as("id_second"),
                      $"us".as("us_b"))
    a.join(b, $"user_id" === $"u2" &&
        $"us_b" - $"us_a" >= 0L && $"us_b" - $"us_a" <= W &&
        ($"us_a" < $"us_b" || ($"us_a" === $"us_b" && $"id_first" < $"id_second")))
      .select($"user_id", $"id_first", $"id_second",
              ($"us_b" - $"us_a").as("gap_us"))
      .orderBy($"user_id", $"id_first", $"id_second")
  }

  /** Interval-OVERLAP self-join with variable-length intervals — the
    * shape band joins can't express (overlap of [s,e) pairs, not a
    * scalar distance bound). Each order opens a validity window of
    * 1–14 days; find same-nation overlapping pairs.
    *
    * Algorithm: bucket the timeline at B ≥ max interval length, so
    * every interval touches ≤ 2 buckets; explode BOTH sides over
    * their touched buckets and equi-join on (bucket). A pair that
    * overlaps shares the bucket of max(s_a, s_b) — that instant lies
    * inside both intervals — so attributing each pair to exactly that
    * bucket dedups candidates STRUCTURALLY: no distinct, no
    * post-shuffle dedup state. Per-bucket fan-out is bounded by
    * interval density, so the O(n²) theta join becomes a keyed join
    * whose cost scales with actual overlap volume — the plan that
    * survives 100 TB, where an unkeyed theta join is a cartesian
    * death sentence. */
  def joinInterval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 15L // bucket width ≥ max interval length (14) ⇒ ≤2 buckets
    val base = t(s, dir, "orders")
      .join(t(s, dir, "customer").where($"c_nationkey" === 7)
              .select($"c_custkey"),
            $"o_custkey" === $"c_custkey")
      .select($"o_orderkey".as("k"),
              datediff($"o_orderdate".cast("date"),
                       to_date(lit("1970-01-01"))).cast("long").as("st"))
      .withColumn("en", $"st" + lit(1L) + pmod($"k", lit(14L)))
    def sides(kc: String, sc: String, ec: String) = base
      .withColumn("bkt", explode(array_distinct(array(
        expr(s"st div $B"), expr(s"(en - 1) div $B")))))
      .select($"k".as(kc), $"st".as(sc), $"en".as(ec), $"bkt")
    sides("key_a", "s_a", "e_a")
      .join(sides("key_b", "s_b", "e_b"), Seq("bkt"))
      .where($"s_a" < $"e_b" && $"s_b" < $"e_a" && $"key_a" < $"key_b" &&
             $"bkt" === expr(s"greatest(s_a, s_b) div $B"))
      .select($"key_a", $"key_b",
              greatest($"s_a", $"s_b").as("ov_start"),
              least($"e_a", $"e_b").as("ov_end"),
              (least($"e_a", $"e_b") - greatest($"s_a", $"s_b")).as("ov_days"))
      .orderBy($"key_a", $"key_b")
  }

  /** FIFO lot attribution — the inventory/cost-basis matcher every
    * position-tracking ETL needs: each user's outflows (views) consume
    * their inflow lots (purchases) strictly first-in-first-out, and
    * the output says which lot filled which outflow with how much.
    * The classic imperative queue never appears: both streams get a
    * cumulative-quantity interval [hi−qty, hi) on the SAME per-user
    * axis (one window each), and FIFO matching IS interval
    * intersection — out j takes min(hi,hi′)−max(lo,lo′) units of
    * lot i wherever their intervals overlap.
    *
    * Scale shape: the overlap join rides [[joinInterval]]'s banding —
    * intervals bucket by `cum div B` with B=128 ≥ the max event qty
    * (99), so every interval spans ≤ 2 buckets and the join is EQUI on
    * (user, bucket) with the greatest-lo dedup guard; match count per
    * user is n_lots + n_outs − 1 at most (consecutive intervals on a
    * shared axis interleave near-diagonally), so output and pair space
    * both stay linear in the event count — no per-user quadratic
    * anywhere, no iteration, no state. Windows and join share the
    * user-keyed shuffle. All quantities are exact integers. */
  def joinFifo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 128L // bucket width ≥ max per-event qty ⇒ ≤2 buckets/interval
    val ev = t(s, dir, "events")
      .select($"user_id", $"event_type", $"event_id",
              unix_micros($"ts".cast("timestamp")).as("us"),
              get_json_object($"props", "$.k").cast("long").as("qty"))
      .where($"qty".isNotNull && $"qty" > 0L)
    val w = Window.partitionBy($"user_id").orderBy($"us".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def stream(tpe: String, pfx: String) = ev
      .where($"event_type" === tpe)
      .withColumn("hi", sum($"qty").over(w))
      .withColumn("lo", $"hi" - $"qty")
      .withColumn("bkt", explode(array_distinct(array(
        expr(s"lo div $B"), expr(s"(hi - 1) div $B")))))
      .select($"user_id", $"event_id".as(s"${pfx}_id"),
              $"lo".as(s"${pfx}_lo"), $"hi".as(s"${pfx}_hi"), $"bkt")
    stream("purchase", "lot")
      .join(stream("view", "out"), Seq("user_id", "bkt"))
      .where($"lot_lo" < $"out_hi" && $"out_lo" < $"lot_hi" &&
             $"bkt" === expr(s"greatest(lot_lo, out_lo) div $B"))
      .select($"user_id", $"lot_id", $"out_id",
              (least($"lot_hi", $"out_hi") -
                greatest($"lot_lo", $"out_lo")).as("qty_matched"))
      .orderBy($"user_id", $"lot_id", $"out_id")
  }

  /** Triangle count over the co-purchase graph (parts sharing an
    * order) — the canonical distributed-graph pattern beyond the
    * iterative CC in graft.text.TextOps.connectedComponents.
    *
    * Degree-oriented wedge counting: orient every edge from its
    * lower-(degree, id) endpoint, enumerate wedges only at the LOWER
    * endpoint, and close each wedge against the canonical edge set.
    * The orientation caps out-degree at O(√edges) — a hub that would
    * make naive wedge enumeration quadratic emits NO wedges because
    * its edges all point inward — which is why this formulation
    * survives power-law graphs at 100 TB. Every join keys on a vertex
    * or a vertex pair (never all-pairs); each triangle is counted
    * exactly once, at its lowest-rank vertex with the outer pair
    * canonicalized by id. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    // edges: every unordered distinct-part pair per order
    // ([[basketPairs]]); p = 1/4 ('40'/'100' of the hex space), so the
    // count scales by 1/p³ = 64; the coin, orientation, and
    // broadcast-closure mechanics (and why the coin must be nonlinear)
    // live in graft.graph.Graph.triangleEstimate, property-tested
    // against brute-force enumeration.
    graft.graph.Graph.triangleEstimate(basketPairs(t(s, dir, "lineitem")),
        hexCap = "40", invP3 = 64L)

  /** Skew-safe equi join: salt the fact side into S shards and
    * replicate the dim side S times, so a hot key's rows spread over S
    * reducers instead of one. Semantics-preserving — the oracle is the
    * plain join. AQE's skew-join split does this adaptively for
    * sort-merge joins at runtime; explicit salting remains the
    * portable fix when the skew hides from AQE (e.g. behind an agg) or
    * the join must be shuffled-hash. Cost: dim side × S — only salt
    * when the dim is small enough to replicate but too big or too
    * dynamic to broadcast. */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val S = 8
    val fact = t(s, dir, "events")
      .withColumn("salt", pmod($"event_id", lit(S)).cast("int"))
    val dim = t(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
      .withColumn("d_salt", explode(sequence(lit(0), lit(S - 1))))
    fact.join(dim, $"user_id" === $"c_custkey" && $"salt" === $"d_salt")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"), sumMoney($"value").as("val_sum"))
      .orderBy($"c_mktsegment")
  }

  /** Bloom semi-join reduction: when the build side's ROWS exceed the
    * broadcast threshold but its KEY SET fits a few MB of bloom bits,
    * build a [[graft.functions.BloomAgg]] over the keys (map-side
    * mergeable, one-row result), broadcast THAT, and pre-filter the
    * probe side BEFORE its shuffle. The exact join afterwards clears
    * the ≤fpp false positives, so results are identical to the plain
    * join (the oracle) while the probe shuffle moves only ~matching
    * rows. At 100 TB this is the difference between shuffling the
    * whole fact table and shuffling the ~1/segment-count slice that
    * joins; Catalyst's runtime bloom injection does this invisibly
    * for some shapes — this query is the explicit, always-available
    * surface.
    *
    * The filter is evaluated ONCE (a model-sized aggregate job, like
    * Catalyst's own runtime-filter subquery) and embedded as a plan
    * constant, NOT carried as a join column: a per-row binary column
    * copies O(probeRows × filterBytes) through the join — megabytes
    * per row — which costs more than the shuffle it saves. As a
    * Literal, every probe row sees the same array object and
    * [[graft.functions.BloomMightContain]]'s reference-equality cache
    * deserializes once per task. */
  def joinBloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.BloomFilters.{bloomAgg, bloomMightContain}
    val build = t(s, dir, "customer")
      .where($"c_mktsegment" === "BUILDING")
      .select($"c_custkey", $"c_name")
    // Filter capacity derived from the MEASURED build-side key count
    // (r15; guide §3.2 "expectedNumItems should be >= the true
    // count"), not a fixed 1M: the fixed size was wrong at both ends —
    // at small SF it embedded 1.2 MB of mostly-zero bits as a plan
    // literal that every optimizer-rule pass and task closure then
    // carries, and past sf~3 the segment key set outgrows 1M and fpp
    // degrades silently. The count is one column-pruned, pushed-filter
    // scan of the build side (the build side is scanned twice for the
    // filter anyway — the guide's disclosed cost); ×1.25 headroom keeps
    // fpp ≤ 1% against sampling of future appends, and the 1024 floor
    // keeps tiny builds out of the sketch's degenerate sizing.
    val nKeys = math.max(1024L, (build.count() * 5L) / 4L)
    val bfBytes: Array[Byte] = build
      .agg(bloomAgg($"c_custkey", nKeys, 0.01).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probe = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .where(bloomMightContain(lit(bfBytes), $"o_custkey"))
    probe.join(build, $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(count(lit(1)).as("n_orders"), sumMoney($"o_totalprice").as("spend"))
      .orderBy($"c_custkey")
  }

  /** NULL-SAFE dimension join (`<=>` / IS NOT DISTINCT FROM): events
    * attribute to an 8-bucket order-cohort dim, but signup events have
    * no attribution key (NULL) and the dim's 'P'-status orders form a
    * NULL catch-all bucket — the data-vault "unknown joins the unknown
    * member" convention an equi-join silently drops (NULL = NULL is
    * never true). EqualNullSafe is a first-class hash-join key in
    * Spark (null-safe BroadcastHashJoin, no coalesce-sentinel hack
    * that would corrupt a real key sharing the sentinel value). The
    * dim is a 9-row aggregate → broadcast at any scale; the fact side
    * never shuffles. The oracle spells the same join IS NOT DISTINCT
    * FROM, so the differential pins Spark's `<=>` semantics against
    * ANSI's. */
  def joinNullsafe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .select($"event_id",
        when($"event_type" === "signup", lit(null).cast("int"))
          .otherwise($"k" % 8).as("ckey"))
    val dim = t(s, dir, "orders")
      .groupBy(when($"o_orderstatus" === "P", lit(null).cast("int"))
                 .otherwise(($"o_orderkey" % 8).cast("int")).as("d_key"))
      .agg(count(lit(1)).as("d_n"), sumMoney($"o_totalprice").as("d_spend"))
    e.join(broadcast(dim), $"ckey" <=> $"d_key")
      .select($"event_id", $"ckey", $"d_n", $"d_spend")
      .orderBy($"event_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_nullsafe" -> (joinNullsafe _),
    "join_bloom_prefilter" -> (joinBloomPrefilter _),
    "join_range" -> (joinRange _),
    "join_range_auto" -> (joinRangeAuto _),
    "join_interval" -> (joinInterval _),
    "join_fifo" -> (joinFifo _),
    "graph_triangles" -> (graphTriangles _),
    "join_skew_salted" -> (joinSkewSalted _),
    "join_broadcast" -> (joinBroadcast _),
    "join_shuffle" -> (joinShuffle _),
    "join_multiway" -> (joinMultiway _),
    "join_left" -> (joinLeft _),
    "join_full" -> (joinFull _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_theta" -> (joinTheta _),
    "join_asof" -> (joinAsof _),
    "join_asof_forward" -> (joinAsofForward _),
    "join_asof_nearest" -> (joinAsofNearest _),
    "join_asof_tolerance" -> (joinAsofTolerance _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_cc" -> (graphCc _),
    "graph_degree" -> (graphDegree _),
    "graph_jaccard" -> (graphJaccard _))

  /** DuckDB twin of graph_cc's min-label propagation round i: per-order
    * basket minimum, then each part takes the least of its own label and
    * its baskets' minima. `AS MATERIALIZED` is load-bearing — DuckDB
    * inlines plain CTEs per reference, and each round references the
    * previous one twice, so the unhinted 6-round chain plans as a 2^6
    * tree (measured: 0.2 s materialized vs >120 s inlined at sf0.01). */
  private def ccRound(i: Int): String =
    s"""om$i AS MATERIALIZED (SELECT m.o, min(l.lbl) AS ml
       |  FROM m JOIN lbl$i l ON m.p = l.node GROUP BY m.o),
       |lbl${i + 1} AS MATERIALIZED (
       |  SELECT l.node, least(l.lbl, min(om$i.ml)) AS lbl
       |  FROM lbl$i l JOIN m ON m.p = l.node JOIN om$i ON om$i.o = m.o
       |  GROUP BY l.node, l.lbl)""".stripMargin

  /** DuckDB twin of one fixed-point PageRank pass (see
    * [[graft.graph.Graph.pagerank]]): every operation is BIGINT
    * arithmetic — `//` floor division mirrors Spark's `DIV` exactly on
    * the non-negative domain — so pass k's rank vector is bit-equal
    * across engines regardless of either engine's sum order. `nv` is
    * cross-joined (one row) rather than a per-row scalar subquery.
    * The CAST drops DuckDB's sum(BIGINT) → HUGEINT widening back to
    * the long domain Spark computes in (the sum is ≤ 1e12, so the
    * narrowing is lossless — same rule as the driver's type gate).
    * The teleport/damp split interpolates [[prDampPm]] — the same
    * constant the query hands to Graph.pagerank — so re-tuning the
    * damping can never desynchronize the twins. */
  private def prPass(i: Int): String =
    s"""r${i + 1} AS MATERIALIZED (
       |  SELECT adj.dst AS id,
       |    (${1000 - prDampPm} * 1000000000000 // 1000) // nv.n
       |      + ($prDampPm * CAST(sum(r.rank // adj.dg) AS BIGINT)) // 1000 AS rank
       |  FROM adj JOIN r$i r ON adj.src = r.id, nv
       |  GROUP BY adj.dst, nv.n)""".stripMargin

  def oracle: Map[String, String] = Map(
    // Exact integer-PageRank twin (see graphPagerank's scaladoc): the
    // same capped pair stream as graph_degree's oracle, then 5
    // unrolled picorank passes — possible at all because the Spark
    // side computes in fixed point; a float PageRank could only be
    // banded, never hash-matched.
    "graph_pagerank" ->
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |            FROM lineitem),
         |ok AS (SELECT o FROM lp GROUP BY o HAVING count(*) <= $hotBasketCap),
         |lps AS (SELECT lp.o, lp.p FROM lp JOIN ok USING (o)),
         |e AS MATERIALIZED (SELECT DISTINCT l.p AS a, r.p AS b
         |     FROM lps l JOIN lps r ON l.o = r.o AND l.p < r.p),
         |sym AS MATERIALIZED (
         |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         |deg AS MATERIALIZED (SELECT a, count(*) AS dg FROM sym GROUP BY a),
         |adj AS MATERIALIZED (
         |  SELECT sym.a AS src, sym.b AS dst, deg.dg
         |  FROM sym JOIN deg USING (a)),
         |nv AS MATERIALIZED (SELECT count(*) AS n FROM deg),
         |r0 AS MATERIALIZED (
         |  SELECT a AS id, 1000000000000 // nv.n AS rank FROM deg, nv),
         |${(0 until prIters).map(prPass).mkString(",\n")}
         |SELECT id, rank AS rank_pico FROM r$prIters
         |ORDER BY rank DESC, id ASC LIMIT 20""".stripMargin,
    // Hybrid CC twin (see graphCc's scaladoc): 6 unrolled propagation
    // rounds collapse the dense giant component, then a monotone-
    // filtered recursive closure finishes the contracted quotient
    // exactly — sound at ANY round count (rounds only shrink the
    // closure's input), so a world fixture with diameter > 2^6 still
    // oracles correctly, just slower.
    "graph_cc" ->
      s"""WITH RECURSIVE lp AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ok AS (SELECT o FROM lp GROUP BY o HAVING count(*) BETWEEN 2 AND $hotBasketCap),
         |m AS MATERIALIZED (SELECT lp.o, lp.p FROM lp JOIN ok USING (o)),
         |lbl0 AS MATERIALIZED (SELECT DISTINCT p AS node, p AS lbl FROM m),
         |${(0 until 6).map(ccRound).mkString(",\n")},
         |ce0 AS MATERIALIZED (
         |  SELECT DISTINCT m.o, l.lbl FROM m JOIN lbl6 l ON m.p = l.node),
         |ce AS MATERIALIZED (SELECT DISTINCT x.lbl AS a, y.lbl AS b
         |  FROM ce0 x JOIN ce0 y ON x.o = y.o AND x.lbl <> y.lbl),
         |cv AS MATERIALIZED (SELECT DISTINCT lbl AS node FROM lbl6),
         |reach AS (
         |  SELECT node, node AS lbl FROM cv
         |  UNION
         |  SELECT ce.b AS node, r.lbl AS lbl
         |  FROM reach r JOIN ce ON ce.a = r.node WHERE r.lbl < ce.b),
         |croot AS (SELECT node, min(lbl) AS root FROM reach GROUP BY node),
         |final AS (
         |  SELECT l.node, c.root FROM lbl6 l JOIN croot c ON l.lbl = c.node),
         |sizes AS (SELECT root, count(*) AS n_members FROM final GROUP BY root)
         |SELECT n_members, count(*) AS n_components
         |FROM sizes GROUP BY n_members ORDER BY n_members""".stripMargin,
    "graph_degree" ->
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |ok AS (SELECT o FROM lp GROUP BY o HAVING count(*) <= $hotBasketCap),
        |lps AS (SELECT lp.o, lp.p FROM lp JOIN ok USING (o)),
        |e AS (SELECT DISTINCT l.p AS a, r.p AS b
        |      FROM lps l JOIN lps r ON l.o = r.o AND l.p < r.p),
        |d AS (SELECT v, count(*) AS deg
        |      FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |      GROUP BY v)
        |SELECT deg, count(*) AS n_nodes FROM d
        |GROUP BY deg ORDER BY deg""".stripMargin,
    "graph_jaccard" ->
      s"""WITH lpb AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p,
        |                    p_brand AS brand
        |             FROM lineitem JOIN part ON l_partkey = p_partkey),
        |ok AS (SELECT o, brand FROM lpb
        |       GROUP BY o, brand HAVING count(*) <= $hotBasketCap),
        |lps AS (SELECT lpb.o, lpb.p, lpb.brand
        |        FROM lpb JOIN ok USING (o, brand)),
        |e AS (SELECT DISTINCT l.p AS a, r.p AS b, l.brand
        |      FROM lps l JOIN lps r
        |        ON l.o = r.o AND l.brand = r.brand AND l.p < r.p),
        |adj AS (SELECT brand, a AS x, b AS w FROM e
        |        UNION ALL SELECT brand, b AS x, a AS w FROM e),
        |sd AS (SELECT x, count(*) AS deg FROM adj GROUP BY x),
        |adjw AS (SELECT adj.brand, adj.x, adj.w FROM adj
        |         JOIN sd ON adj.w = sd.x WHERE sd.deg <= $hubNeighborCap),
        |i AS (SELECT l.x AS pa, r.x AS pb, count(*) AS inter
        |      FROM adjw l JOIN adjw r
        |        ON l.w = r.w AND l.brand = r.brand AND l.x < r.x
        |      GROUP BY 1, 2)
        |SELECT pa, pb, inter,
        |  round(CAST(inter AS DOUBLE)
        |        / CAST(da.deg + db.deg - inter AS DOUBLE), 6) AS jaccard
        |FROM i JOIN sd da ON i.pa = da.x JOIN sd db ON i.pb = db.x
        |ORDER BY jaccard DESC, pa, pb LIMIT 20""".stripMargin,
    "join_nullsafe" ->
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'signup' THEN NULL
        |         ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) % 8
        |    END AS ckey
        |  FROM events),
        |d AS (
        |  SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
        |              ELSE CAST(o_orderkey % 8 AS INTEGER) END AS d_key,
        |    count(*) AS d_n,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100
        |      AS d_spend
        |  FROM orders GROUP BY 1)
        |SELECT event_id, ckey, d_n, d_spend
        |FROM e JOIN d ON e.ckey IS NOT DISTINCT FROM d.d_key
        |ORDER BY event_id""".stripMargin,
    // FIFO semantics stated declaratively: cumulative-interval overlap
    // on the shared per-user axis; the Spark side must reproduce it
    // from the banded formulation exactly (integers, so hash-exact)
    "join_fifo" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, ts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS qty
        |  FROM events
        |  WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 0),
        |lots AS (
        |  SELECT user_id, event_id AS lot_id, hi - qty AS lot_lo, hi AS lot_hi
        |  FROM (SELECT *, CAST(sum(qty) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
        |        FROM e WHERE event_type = 'purchase')),
        |outs AS (
        |  SELECT user_id, event_id AS out_id, hi - qty AS out_lo, hi AS out_hi
        |  FROM (SELECT *, CAST(sum(qty) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
        |        FROM e WHERE event_type = 'view'))
        |SELECT l.user_id, lot_id, out_id,
        |  least(lot_hi, out_hi) - greatest(lot_lo, out_lo) AS qty_matched
        |FROM lots l JOIN outs o
        |  ON l.user_id = o.user_id AND lot_lo < out_hi AND out_lo < lot_hi
        |ORDER BY l.user_id, lot_id, out_id""".stripMargin,
    // the bloom prefilter is semantics-preserving: the oracle is the
    // PLAIN join — any lost or phantom row is a correctness failure
    "join_bloom_prefilter" ->
      s"""SELECT c_custkey, c_name, count(*) AS n_orders,
        |  ${sqlSumMoney("o_totalprice")} AS spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin,
    // the oracle states the SEMANTICS (plain band join); the Spark
    // side must reproduce it from the bucketed formulation exactly.
    // Comparisons run on epoch_us values, NOT raw ts: DuckDB reads
    // events.ts at ns precision while Spark truncates to µs, so a
    // ns-level `a.ts < b.ts` tie-break would diverge for pairs inside
    // the same microsecond.
    // the degree-oriented + broadcast formulation is an optimization
    // only: the oracle samples the same edges (same hash) and counts
    // triangles with the naive three-way edge join
    "graph_triangles" ->
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |ok AS (SELECT o FROM lp GROUP BY o HAVING count(*) <= $hotBasketCap),
        |lps AS (SELECT lp.o, lp.p FROM lp JOIN ok USING (o)),
        |e AS (
        |  SELECT DISTINCT l.p AS a, r.p AS b
        |  FROM lps l JOIN lps r ON l.o = r.o AND l.p < r.p
        |  WHERE substr(md5(CAST(l.p AS VARCHAR)
        |          || '_' || CAST(r.p AS VARCHAR)),
        |        1, 2) < '40')
        |SELECT
        |  (SELECT count(*) FROM (SELECT a FROM e UNION SELECT b FROM e)) AS n_vertices_sampled,
        |  (SELECT count(*) FROM e) AS n_edges_sampled,
        |  (SELECT count(*) FROM e e1
        |     JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |     JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_tri_sampled,
        |  (SELECT count(*) FROM e e1
        |     JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |     JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) * 64 AS est_triangles""".stripMargin,
    // the bucketed formulation is an optimization only: the oracle is
    // the plain interval-overlap theta join
    "join_interval" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS st
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey = 7),
        |iv AS (SELECT k, st, st + 1 + k % 14 AS en FROM base)
        |SELECT a.k AS key_a, b.k AS key_b,
        |  greatest(a.st, b.st) AS ov_start,
        |  least(a.en, b.en) AS ov_end,
        |  least(a.en, b.en) - greatest(a.st, b.st) AS ov_days
        |FROM iv a JOIN iv b
        |  ON a.st < b.en AND b.st < a.en AND a.k < b.k
        |ORDER BY key_a, key_b""".stripMargin,
    "join_range" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, a.event_id AS id_first, b.event_id AS id_second,
        |  b.us - a.us AS gap_us
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id
        | AND b.us - a.us BETWEEN 0 AND 300000000
        | AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
        |ORDER BY a.user_id, id_first, id_second""".stripMargin,
    // identical semantics to join_range: the oracle checks that the
    // BandJoinRule-rewritten naive plan loses/duplicates nothing
    "join_range_auto" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, a.event_id AS id_first, b.event_id AS id_second,
        |  b.us - a.us AS gap_us
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id
        | AND b.us - a.us BETWEEN 0 AND 300000000
        | AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
        |ORDER BY a.user_id, id_first, id_second""".stripMargin,
    "join_skew_salted" ->
      s"""SELECT c_mktsegment, count(*) AS n_events,
        |  ${sqlSumMoney("value")} AS val_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_broadcast" ->
      """SELECT c_custkey, c_name, n_name, r_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,
    "join_shuffle" ->
      s"""SELECT o_orderkey, o_orderstatus,
        |  ${sqlSumMoney("l_extendedprice*(1.0-l_discount)")} AS revenue,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_orderstatus
        |ORDER BY o_orderkey""".stripMargin,
    "join_multiway" ->
      s"""SELECT n_name,
        |  ${sqlSumMoney("l_extendedprice*(1.0-l_discount)")} AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "join_left" ->
      s"""SELECT c_custkey, c_mktsegment,
        |  count(o_orderkey) AS n95,
        |  ${sqlSumMoney("coalesce(o_totalprice, 0.0)")} AS spend95
        |FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE year(o_orderdate)=1995) o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin,
    "join_full" ->
      """WITH a AS (SELECT o_custkey AS k95, count(*) AS n95 FROM orders
        |           WHERE year(o_orderdate)=1995 GROUP BY o_custkey),
        |     b AS (SELECT o_custkey AS k96, count(*) AS n96 FROM orders
        |           WHERE year(o_orderdate)=1996 GROUP BY o_custkey)
        |SELECT coalesce(k95, k96) AS custkey, n95, n96
        |FROM a FULL JOIN b ON k95 = k96
        |ORDER BY custkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_theta" ->
      s"""SELECT s_suppkey, count(*) AS n_close,
        |  ${sqlSumMoney("c_acctbal")} AS bal_sum
        |FROM customer
        |JOIN (SELECT * FROM supplier WHERE s_acctbal > 9000.0) s
        |  ON c_acctbal >= s_acctbal - 50.0 AND c_acctbal <= s_acctbal + 50.0
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "join_asof" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id AS purchase_id, p.ts, c.click_id
        |FROM purchases p
        |ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.user_id, purchase_id""".stripMargin,
    "join_asof_tolerance" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id AS purchase_id, p.ts,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.click_id END AS click_id
        |FROM purchases p
        |ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.user_id, purchase_id""".stripMargin,
    "join_asof_forward" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id AS purchase_id, p.ts, c.click_id
        |FROM purchases p
        |ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.user_id, purchase_id""".stripMargin,
    "join_asof_nearest" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT p.user_id, p.event_id AS purchase_id, p.ts, c.click_id AS b_id,
        |    epoch_us(p.ts) - epoch_us(c.ts) AS b_dt
        |  FROM purchases p
        |  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts),
        |f AS (
        |  SELECT p.user_id, p.event_id AS purchase_id, c.click_id AS f_id,
        |    epoch_us(c.ts) - epoch_us(p.ts) AS f_dt
        |  FROM purchases p
        |  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts)
        |SELECT b.user_id, b.purchase_id, b.ts,
        |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_dt <= f_dt)
        |       THEN b_id ELSE f_id END AS click_id,
        |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_dt <= f_dt)
        |       THEN b_dt ELSE f_dt END AS dt_us
        |FROM b JOIN f USING (user_id, purchase_id)
        |ORDER BY user_id, purchase_id""".stripMargin)
}
