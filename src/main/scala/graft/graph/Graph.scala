package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives over edge DataFrames.
  *
  * Companions to [[graft.text.TextOps.connectedComponents]] (the
  * iterative primitive): these are the one-shot patterns. Edges are
  * undirected, canonical (`a < b`), one row per edge.
  */
object Graph {

  /** Per-pass convergence diagnostics, off unless GRAFT_GRAPH_LOG=1:
    * the iteration cost profile (rounds × per-round time) is the
    * first thing to read when a CC run is slow, and stdout-gating
    * keeps Verify/Bench output byte-stable. */
  private def dbg(msg: => String): Unit =
    if (sys.env.get("GRAFT_GRAPH_LOG").contains("1"))
      println(s"[graph] $msg")

  /** Min-label propagation to a fixed point. `vertices`: one column
    * `v`; `edges`: columns `a`,`b` (undirected, any orientation).
    * Returns (v, lbl) where lbl = min vertex id in v's component.
    *
    * Only edge-touched vertices iterate: a vertex with no edges can
    * never change its label, and in a dedup graph the touched set is a
    * tiny fraction of the corpus — so each pass joins over the pair
    * subgraph, not the whole vertex table. Untouched vertices come
    * back as their own singleton components via one final anti-join.
    *
    * Scale shape: each pass is one equi-join (labels ⋈ edges, keyed on
    * vertex) + one min-aggregate — all shuffles key on vertex id, no
    * driver-side data. Passes = graph diameter; dup clusters are
    * near-cliques hanging off a hub, so the fixed point lands in 2-3
    * passes (a long-chain adversary needs [[connectedComponentsStar]]'s
    * O(log n) contraction). Labels are localCheckpoint'd each pass:
    * the state is one row per touched vertex, and truncating lineage
    * keeps pass k from replaying passes 1..k-1. Change detection rides
    * the SAME aggregate that computes the new labels: the self-row
    * carries the previous label as a side column, so `changed` is a
    * count over the already-checkpointed pass output — no second join,
    * no extra shuffle, one action per pass. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxPasses: Int = 15): DataFrame = {
    // edge generation runs at full parallelism (corpus-scale work)...
    // lazy checkpoint (r15): the count() below is the materializing
    // action, so the distinct is computed and its blocks pinned in ONE
    // job instead of an eager-checkpoint job plus a count scan.
    val e = edges.select(col("a"), col("b")).distinct().localCheckpoint(false)
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    // ...but the iteration shuffles tables sized by the PAIR set, so
    // its partition count derives from the edge rows actually entering
    // the loop (Sessions.graphIterPartitions: ~64k rows/partition,
    // conf-overridable) — the count doubles as the checkpoint
    // materialization.
    graft.config.Sessions.withGraphIterPartitions(e.sparkSession,
        e.count()) {
      var labels = sym.select(col("a").as("v")).distinct()
        .withColumn("lbl", col("v"))
        .localCheckpoint(false)
      var changed = 1L
      var pass = 0
      while (changed > 0 && pass < maxPasses) {
        // every viaNbr target is already in `labels` (initialized from
        // the symmetric edge set), so max(prev) recovers each vertex's
        // previous label and min-propagation only ever lowers lbl —
        // changed = lbl < prev, read off the pass output itself
        val viaNbr = sym.join(labels, col("a") === col("v"))
          .select(col("b").as("v"), col("lbl"),
                  lit(null).cast("long").as("prev"))
        // lazy checkpoint: the changed-count below computes every
        // partition (the filter prunes nothing at plan level), so the
        // pass output is materialized and its lineage truncated in the
        // same job that measures convergence — one job per pass (r15)
        val next = labels.withColumn("prev", col("lbl"))
          .unionByName(viaNbr)
          .groupBy(col("v"))
          .agg(min(col("lbl")).as("lbl"), max(col("prev")).as("prev"))
          .localCheckpoint(false)
        changed = next.where(col("lbl") < col("prev")).count()
        labels = next.select(col("v"), col("lbl"))
        pass += 1
      }
      // Partial labels are WRONG labels — a caller can't tell a
      // converged component from one still mid-propagation, so a
      // non-converged exit must be loud, not silent.
      require(changed == 0,
        s"connectedComponents did not converge within $maxPasses passes " +
          s"($changed labels still changing); raise maxPasses — passes needed " +
          "grow with the graph diameter, which for dedup graphs stays small")
      val singletons = vertices.select(col("v"))
        .join(labels.select(col("v")), Seq("v"), "left_anti")
        .withColumn("lbl", col("v"))
      labels.unionByName(singletons)
    }
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the long-chain-safe twin of
    * [[connectedComponents]]. Min-label propagation needs
    * diameter-many passes (a 10⁶-long chain means 10⁶ shuffles);
    * star contraction halves chain lengths every round, converging in
    * O(log² n) rounds on ANY graph shape. Same interface: `vertices`
    * one column `v`, `edges` columns `a`,`b` (undirected, any
    * orientation), returns (v, lbl) with lbl = component min.
    *
    * Per round, two passes over the edge set only (untouched vertices
    * never enter, exactly like the min-label twin):
    *  - large-star: every node links its LARGER neighbors to the min
    *    of its neighborhood (incl. itself);
    *  - small-star: every node links its smaller neighbors and itself
    *    to the min of its smaller neighborhood.
    * Both are one hash-aggregated neighborhood-min joined back onto
    * the edge stream (no window sort; partial aggregation + AQE skew
    * handling on the join) — shuffles key on the node id, output
    * stays canonical (child > parent). The edge set shrinks
    * toward a star forest whose roots are the component minima. The
    * fixed point is recognized STRUCTURALLY and exactly the moment it
    * forms (unique sources + source/target disjointness — see
    * `isStarForest` in the impl), one whole pass earlier than
    * observing ss == e; non-convergence is loud like the twin's.
    *
    * Prefer [[connectedComponents]] for dup graphs (near-cliques: 2-3
    * passes, one join each); prefer this when the diameter is unknown
    * or adversarial (general graphs, path-/mesh-like structure). */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame,
                              maxPasses: Int = 20): DataFrame =
    ccStarImpl(Some(vertices), edges, maxPasses)

  /** [[connectedComponentsStar]] restricted to edge-TOUCHED vertices:
    * labels exactly the vertices appearing in `edges` — including a
    * vertex whose only edges are self-loops, which comes back as its
    * own singleton (the universe is captured from the canonical edge
    * checkpoint BEFORE the self-loop filter) — but no coverage for
    * vertices appearing in no edge at all. For callers whose vertex
    * set IS the edge endpoints
    * (graph_cc: every co-purchase vertex is on a pair by
    * construction), passing vertices separately forces the caller to
    * materialize the edge stream twice — here the star's own
    * checkpointed canonical edge set supplies the vertex universe and
    * the pair generator is consumed exactly once. */
  def connectedComponentsStarTouched(edges: DataFrame,
                                     maxPasses: Int = 20): DataFrame =
    ccStarImpl(None, edges, maxPasses)

  private def ccStarImpl(vertices: Option[DataFrame], edges: DataFrame,
                         maxPasses: Int): DataFrame = {
    // NO input distinct: contraction is duplicate-tolerant (window
    // mins ignore multiplicity and every pass output is distinct'd),
    // so canonicalization is a map-only projection and the checkpoint
    // materializes WITHOUT a corpus-scale shuffle. Only cost: pass
    // 0's windows sort the dup-bearing set, and the initial sig
    // counts multi-edges — both strictly cheaper than the shuffle
    // they replace. (Convergence-at-pass-0 stays sound: count
    // equality requires zero duplicates, so dup-bearing inputs can
    // never spuriously match their distinct'd pass-0 output.)
    val canon = edges.select(
        greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
    // canonical edges checkpoint at FULL parallelism (corpus-scale
    // work); only the iteration below runs at the edge-derived count.
    // Self-loops stay IN the checkpoint (they must appear in the
    // touched vertex universe as singletons) and are filtered out of
    // the contraction input below — a partition-local scan over the
    // checkpoint blocks, not a recompute. graph_cc's strict a < b
    // pairs make both the retained rows and the filter free there.
    val tCanon = System.nanoTime()
    // lazy: sig0 below is the materializing action — canonicalization
    // is computed and pinned in the same job that counts it (r15)
    val e0 = canon.localCheckpoint(false)
    dbg(f"star canonCheckpointSec=${(System.nanoTime() - tCanon) / 1e9}%.2f")
    val loopEdges = e0.where(col("a") =!= col("b"))
    // one action per pass: the count and the source-distinct count
    // ride the same aggregate; the count ALSO supplies the edge count
    // the partition derivation needs.
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), count_distinct(col("a"))).head()
      (r.getLong(0), r.getLong(1))
    }
    // EXACT structural fixed-point test (r15, replacing the
    // count+fingerprint nomination + trailing except): a canonical
    // (a > b) edge set is the terminal star forest iff
    //   (1) every source a appears exactly once (each child has one
    //       parent), and
    //   (2) no source appears as a target (parents are roots).
    // ⇐ both ⇒ components are disjoint stars; canonicality makes each
    // root its star's minimum, and since contraction preserves the
    // component partition, a star IS a whole original component — so
    // the labels are the component minima, which is the algorithm's
    // entire postcondition, and a star forest is verifiably a fixed
    // point of both star steps. ⇒ the terminal forest trivially
    // satisfies both. The test is EXACT (no hashes — strictly
    // stronger than the old fingerprint nomination) and fires one
    // whole contraction pass EARLIER: the old scheme had to run pass
    // k+1 to observe ss == e, then certify with an except; this one
    // recognizes the forest the moment it forms. Cost: (2) is one
    // semi-join over the shrunken pass output, gated on the free
    // necessary condition (1).
    def isStarForest(df: DataFrame, n: Long, nDistA: Long): Boolean =
      n == nDistA &&
        df.select(col("a"))
          .join(df.select(col("b").as("a")).distinct(), Seq("a"), "left_semi")
          .isEmpty
    val sig0 = sig(loopEdges)
    graft.config.Sessions.withGraphIterPartitions(edges.sparkSession,
        sig0._1) {
      // edges point larger → smaller (a > b) throughout
      var e = loopEdges
      var nE = sig0._1
      var converged = nE == 0L || isStarForest(loopEdges, nE, sig0._2)
      var pass = 0
      while (!converged && pass < maxPasses) {
        val tPass = System.nanoTime()
        // re-derive parallelism from the LIVE edge count: pass 0 runs
        // corpus-scale (wants real parallelism), the tail passes run
        // on a few-10k-edge remnant (want few partitions); a single
        // loop-wide constant is wrong at one end or the other. The
        // conf is read at each pass's actions, which all run inside
        // this scope, so it rescopes only this pass's shuffles.
        graft.config.Sessions.withConf(e.sparkSession, "spark.sql.shuffle.partitions" ->
            graft.config.Sessions.graphIterPartitions(e.sparkSession, nE).toString) {
          // large-star: symmetrize, m = min(neighborhood ∪ self), link
          // every LARGER neighbor v > u to m (m ≤ u < v keeps it
          // canonical and self-loop-free). The per-node neighborhood min
          // is a HASH AGGREGATE joined back onto the edge stream — not a
          // window — for three scale reasons (r15, guide §2.3/§2.5):
          // partial aggregation means only per-partition (u, min) rows
          // cross the agg shuffle instead of the whole symmetrized edge
          // set entering a window SORT; the join back is equi-keyed, so
          // AQE's skew-join splitting covers a hub vertex (windows have
          // no skew handling — one 10⁶-degree hub previously meant one
          // task sorting its whole partition); and at toy/mid scale AQE
          // broadcasts the vertex-sized min table outright. Measured at
          // sf0.1: pass-0 contraction 2.07 s → 1.17 s warm, same output
          // (the dedup_clusters_star differential and PropertySpec's
          // star ≡ min-label ≡ closure equivalences pin it).
          val sym = e.select(col("a").as("u"), col("b").as("v"))
            .unionByName(e.select(col("b").as("u"), col("a").as("v")))
          val nbrMin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
          // the probe side is the CANONICAL edge set, not sym: a sym row
          // survives `v > u` exactly when u is the smaller endpoint, i.e.
          // once per canonical (a > b) edge with u = b, v = a — so
          // probing e directly halves the join's scan and emits the
          // identical row set (r15)
          val ls = e.join(nbrMin, col("b") === col("u"))
            .select(col("a"), least(col("mn"), col("b")).as("b"))
            .distinct()
          // small-star: group by the larger endpoint, m = min of its
          // smaller neighbors; re-link them and the node itself to m
          // (same hash-agg + join shape as large-star, same rationale)
          val sMin = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
          val sm = ls.join(sMin, "a")
          val ss = sm.where(col("b") =!= col("m"))
            .select(col("b").as("a"), col("m").as("b"))
            .unionByName(sm.select(col("a"), col("m").as("b")))
            .distinct()
            // lazy: the sig() action below materializes the blocks in
            // the same job that computes them — one job per pass, not
            // an eager-checkpoint job plus a sig scan (r15)
            .localCheckpoint(false)
          val t0 = System.nanoTime()
          val (nSS, nDistA) = sig(ss)
          converged = nSS == 0L || isStarForest(ss, nSS, nDistA)
          dbg(f"star pass=$pass edges=$nE%d -> $nSS%d converged=$converged " +
              f"contractSec=${(t0 - tPass) / 1e9}%.2f " +
              f"sigCertSec=${(System.nanoTime() - t0) / 1e9}%.2f")
          e = ss
          nE = nSS
          pass += 1
        }
      }
      require(converged,
        s"connectedComponentsStar did not converge within $maxPasses " +
          "rounds; rounds needed grow with log²(n) — raise maxPasses")
      // fixed point = star forest: children point at their component
      // min, roots label themselves; edge-untouched vertices are
      // singletons (the same anti-join as the min-label twin). In this
      // large-star/small-star formulation every endpoint provably
      // survives each pass (a local min survives as its neighbors'
      // link target, every other vertex as a source), so the final
      // forest's endpoints ARE the whole non-self-loop vertex
      // universe. The anti-join universe therefore only needs to
      // cover vertices the forest can't: with an explicit vertex
      // table, isolated vertices; in touched mode, vertices whose
      // only edges are self-loops — a FILTER over the initial
      // checkpoint, not the full-endpoint union-distinct the previous
      // version paid (2|E₀| rows shuffled to recover vertices the
      // forest already labels — r15, guide §2.4).
      val labels = e.select(col("a").as("v"), col("b").as("lbl"))
        .unionByName(e.select(col("b").as("v"), col("b").as("lbl")))
        .distinct()
      val universe = vertices.getOrElse(
        e0.where(col("a") === col("b")).select(col("a").as("v")).distinct())
      val singletons = universe.select(col("v"))
        .join(labels.select(col("v")), Seq("v"), "left_anti")
        .withColumn("lbl", col("v"))
      labels.unionByName(singletons)
    }
  }

  /** DOULION triangle estimation (Tsourakakis et al., KDD'09): keep
    * each edge with probability p decided by a DETERMINISTIC md5 coin
    * (`md5(a_b)` hex prefix < `hexCap`), count triangles on the
    * sample by degree-oriented wedge enumeration, scale by 1/p³
    * (`invP3`). Pass `hexCap = "g"` (greater than any hex digit) and
    * `invP3 = 1` for the exact count.
    *
    * The coin must be NONLINEAR in (a, b): with a multiplicative hash
    * the third edge of a triangle is a linear combination of the
    * other two, the three coins correlate, and the estimate measured
    * 3.3× high on the co-purchase graph; md5 landed within 0.4%.
    *
    * Scale shape: sampling drops wedge volume by p² and closure
    * candidates by p³; orientation by (degree, id) rank caps
    * out-degree at O(√E) so hubs emit zero wedges; the closure probes
    * a BROADCAST hash of the sampled edges when they are provably
    * small, so the wedge stream — the largest intermediate — is
    * generated, probed, and counted inside one stage. The broadcast
    * is SIZE-GATED, not assumed: the sampled edge set is counted
    * eagerly (the count doubles as the checkpoint materialization —
    * every downstream consumer reuses the blocks), and past
    * `broadcastMaxEdges` the closure becomes a partitioned equi-join
    * on (t1, t2) — same result, no driver-OOM cliff when the p-sample
    * of a 100 TB edge set exceeds broadcast reach.
    *
    * Returns one row: (n_vertices_sampled, n_edges_sampled,
    * n_tri_sampled, est_triangles). */
  def triangleEstimate(edges: DataFrame, hexCap: String, invP3: Long,
                       broadcastMaxEdges: Long = 4000000L): DataFrame = {
    val e = edges
      .where(substring(md5(concat_ws("_", col("a"), col("b"))), 1, 2)
        < hexCap)
      .distinct()
      // four downstream consumers (gate count, degree, closure, edge
      // count) — one materialization, not four recomputes of the edge
      // source. EAGER by way of the gate count below.
      .localCheckpoint(false)
    // ~24 bytes/edge hashed relation: 4M edges ≈ 100 MB, inside the
    // default driver/executor broadcast comfort zone with margin
    val nSampledEdges = e.count()
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(false)
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("f"),
              when(lowFirst, col("b")).otherwise(col("a")).as("t"))
      // the wedge self-join consumes `oriented` twice; one compute
      .localCheckpoint(false)
    val wedges = oriented.select(col("f"), col("t").as("t1"))
      .join(oriented.select(col("f"), col("t").as("t2")), "f")
      .where(col("t1") < col("t2"))
    // wedge pair is already canonical (t1 < t2), matching e's a < b
    val closeOn = col("t1") === col("a") && col("t2") === col("b")
    val tri =
      if (nSampledEdges <= broadcastMaxEdges) wedges.join(broadcast(e), closeOn)
      else wedges.join(e.hint("shuffle_merge"), closeOn)
    // n_edges_sampled is already on the driver (the size-gate count
    // above, taken against the same checkpointed edge set) — emit it
    // as a literal instead of re-scanning e through a third aggregate
    // subtree in the final cross-join (r15)
    deg.agg(count(lit(1)).as("n_vertices_sampled"))
      .withColumn("n_edges_sampled", lit(nSampledEdges))
      .crossJoin(tri.agg(count(lit(1)).as("n_tri_sampled"))
        .select(col("n_tri_sampled"),
                (col("n_tri_sampled") * invP3).as("est_triangles")))
  }

  /** PageRank over an undirected edge set (canonical `a < b` rows,
    * duplicates tolerated — deduped here) by standard power
    * iteration: rank' = (1−d)/N + d·Σ_nbr rank/deg. Undirected means
    * every vertex in the edge set has degree ≥ 1, so there is no
    * dangling-mass term to redistribute.
    *
    * Ranks are FIXED-POINT LONGS — picoranks on a 1e12 scale
    * ([[rankScale]]) with the damping factor quantized per-mille —
    * not doubles, for one production-critical property: long addition
    * is associative and commutative, so the per-pass vertex sum is
    * BIT-IDENTICAL under any partitioning, join strategy (broadcast
    * vs shuffled), AQE replan, or executor count. The float version
    * this replaced (round 13) drifted 1 ULP between the broadcast and
    * hash-partitioned paths — harmless at the query's emitted
    * precision, but it means a 1000-executor rerun of the same job
    * need not reproduce itself, and an engine differential can only
    * band, not match. Fixed point buys run-to-run determinism at any
    * scale AND an exact DuckDB oracle (5 unrolled integer passes);
    * the cost is a floor per division: each pass loses < 1 picorank
    * per (edge, teleport, damp) term, so Σrank sits within
    * iters·(2|E|+2N) picoranks BELOW 1e12 — a ≤1e-6 relative deficit
    * at any plausible graph size, and the spec pins the band. The
    * 1e12 scale keeps every intermediate inside a long: damp·sum ≤
    * 1000·1e12 = 1e15 ≪ 2^63, and resolution stays ≥100 picoranks
    * per vertex up to n = 1e10 vertices.
    *
    * Scale shape per iteration: ONE equi-join (ranks ⋈ symmetric
    * edges, keyed on vertex id) + one sum-aggregate keyed on the
    * receiving vertex — the same join/agg skeleton as
    * [[connectedComponents]], with the same discipline: rank state is
    * one row per vertex, localCheckpoint'd each pass so pass k never
    * replays 1..k-1, shuffle partitions capped to the edge-set size.
    * Degrees are computed once and ride the edge table, so the
    * per-pass join carries (nbr, rank/deg) contributions only —
    * at 1000 executors each pass is an embarrassingly parallel
    * scatter/gather on vertex-hashed partitions. Iterations are a
    * FIXED count (power iteration converges geometrically at rate d;
    * ranking stabilizes long before values do), so the plan depth is
    * bounded and deterministic.
    *
    * The per-pass join strategy is SIZE-GATED, not assumed (the same
    * discipline as [[triangleEstimate]]): the vertex count `n` —
    * already paid as the rank-initialization denominator — decides it
    * once, up front. At or below `broadcastMaxVertices` the rank
    * vector (one long per vertex, ~24 B/row hashed) broadcasts, so
    * the 2|E|-row adj stream is never re-shuffled. Past broadcast
    * reach (a 100 TB-scale graph where even the vertex table is
    * executor-memory-sized) the SAME loop runs with adj
    * hash-partitioned on the join key: the repartition subtree is
    * identical in every pass of the one lazy plan, so ReuseExchange
    * materializes it once, and each pass's rank aggregate is already
    * hash-partitioned on the vertex id — only the model-sized rank
    * side moves per pass. Both paths produce the same result (the
    * spec pins them EXACTLY equal on a forced-tiny threshold —
    * integer sums make that bit-identity, not a ULP band). */
  val rankScale: Long = 1000000000000L

  def pagerank(edges: DataFrame, iters: Int, damp: Double,
               broadcastMaxVertices: Long = 4000000L,
               edgeRowsHint: Long = -1L): DataFrame = {
    val s = edges.sparkSession
    // damp quantized to a per-mille rational so both engines (and the
    // in-spec sequential reference) share one exact integer formula
    val dampPm = math.round(damp * 1000)
    // the pair distinct, degree agg and adjacency join all execute
    // inside the checkpoint's job below — scoped to the pair-derived
    // partition width (Sessions.pairAggPartitions) when the caller
    // supplies an edge-volume estimate, so per-task aggregate state
    // stays ~30 MB no matter how big the pair stream is (the r14 sf10
    // probe died exactly here at 0.5 GB/core with 32 partitions over
    // ~10⁸ pair rows; spilling beats dying, and bounded partials beat
    // both). Partition count cannot change the RESULT: every sum in
    // this query is integer, order- and partitioning-independent.
    val (adj, verts, n) = graft.config.Sessions.withPairAggPartitions(
        s, edgeRowsHint) {
      val e = edges.select(col("a"), col("b")).distinct()
      // the two sym branches share e's distinct via ReuseExchange — no
      // eager materialization of the edge list needed before adj's
      val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      // (src, dst, src-degree): the constant per-iteration join input —
      // checkpointed ONCE because it feeds every pass of one lazy plan
      // (a plan-tree reuse Spark would otherwise recompute per pass)
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("dg"))
      // the adjacency is the one CORPUS-scale table this query pins
      // across all passes (2|E| rows × 3 longs). The default
      // deserialized MEMORY_AND_DISK level floods the heap's
      // MemoryStore at tight provisioning — the r15 16 g sf10 re-probe
      // OOM'd in a shuffle read-ahead thread while ~7 GB of adjacency
      // blocks were being evicted one 235 MB block at a time — so when
      // the hinted size crowds a quarter of the heap, pin it DISK_ONLY
      // outright: blocks stream back per pass (NVMe-speed on any real
      // executor), execution memory keeps the whole pool, and the
      // level choice cannot change results (storage is storage).
      val estBytes = 2L * math.max(edgeRowsHint, 0L) * 32L
      val level =
        if (estBytes > Runtime.getRuntime.maxMemory() / 4)
          org.apache.spark.storage.StorageLevel.DISK_ONLY
        else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val a = sym.join(deg, "a")
        .select(col("a").as("src"), col("b").as("dst"), col("dg"))
        .localCheckpoint(false, level)
      // the vertex table is ALSO pinned (r15): it seeds the rank
      // vector below, and without the checkpoint the pass-1 plan
      // would re-run this adjacency-wide distinct a second time. Its
      // count() is the one materializing action for both lazy
      // checkpoints — adjacency and vertices land in a single job
      // (previously: eager-checkpoint job + separate distinct+count
      // job + a second distinct inside the iteration plan).
      val verts = a.select(col("src")).distinct()
        .localCheckpoint(false)
      (a, verts, verts.count())
    }
    // heap-aware broadcast gate (r15): the fixed 4M-vertex ceiling was
    // sized against 2 GB/core provisioning; at 0.5 GB/core (the r14
    // sf10 probe's 16 g JVM) it admits a rank table whose per-pass
    // hashed relations — all `iters` of them built within the ONE
    // lazy job — plus the multi-GB adjacency cache exceed the heap
    // (measured: sf10 = 2M vertices OOMs at 16 g mid-iteration, runs
    // clean partitioned; at 64 g the broadcast path is clean). A rank
    // row costs ~24 B hashed, so maxMemory/16384 vertices budgets
    // ≈0.15% of heap per broadcast — iteration-total residency stays
    // bounded at ANY provisioning, and at 2 GB/core the derived gate
    // (4M at 64 g) reproduces the measured-good constant exactly.
    val gate = math.min(broadcastMaxVertices,
      Runtime.getRuntime.maxMemory() / 16384L)
    val useBroadcast = n <= gate
    // partitioned path: one exchange subtree shared by every pass via
    // ReuseExchange — adj's blocks are hashed on the join key once
    // (explicitly pair-width-partitioned when the caller hinted the
    // volume: the per-pass join + partial sum then work on the same
    // bounded slices as the distinct above — the iteration runs at
    // the CALLER's action time, outside any conf scope set here)
    val adjIter =
      if (useBroadcast) adj
      else if (edgeRowsHint > 0)
        adj.repartition(
          graft.config.Sessions.pairAggPartitions(s, edgeRowsHint),
          col("src"))
      else adj.repartition(col("src"))
    // n = 0 (empty edge set) leaves every frame below empty, but the
    // driver-side divisions still evaluate eagerly — guard them
    val init = if (n == 0) 0L else rankScale / n
    val tele = if (n == 0) 0L else ((1000L - dampPm) * rankScale / 1000L) / n
    var ranks = verts.select(col("src").as("id"))
      .withColumn("rank", lit(init))
    // Unlike connectedComponents there is NO per-pass action (fixed
    // iteration count, no convergence test), so the passes stay LAZY:
    // the caller's single action executes one iters-deep pipeline with
    // AQE sizing each shuffle, instead of per-pass materializations.
    for (_ <- 1 to iters) {
      val state = if (useBroadcast) broadcast(ranks) else ranks
      // SQL DIV, not `/`: long division stays in the integer domain
      // (Divide on longs returns DOUBLE and would reintroduce the
      // float sum-order sensitivity this whole scheme removes)
      ranks = adjIter.join(state, col("src") === col("id"))
        .select(col("dst").as("id"), expr("rank DIV dg").as("c"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("sc"))
        .select(col("id"),
          (lit(tele) + expr(s"($dampPm * sc) DIV 1000")).as("rank"))
    }
    ranks
  }
}
