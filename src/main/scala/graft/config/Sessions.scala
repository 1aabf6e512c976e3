package graft.config

import org.apache.spark.sql.SparkSession

/** Session construction — the `config/` layer of the reference
  * taxonomy (SURVEY.md §0.2). One place for the settings every entry
  * point (Verify, Bench, Explain, tests) must agree on:
  *
  *  - `shuffle.partitions` sized to the core count (harness runs tiny
  *    scale; at cluster scale this becomes ~2-3× total cores, or is
  *    left to AQE coalescing)
  *  - UTC session timezone (timestamp determinism vs the oracle)
  *  - GraftExtensions (SQL registration of the native expressions)
  *  - UI off (headless harness)
  *  - `nanosAsLong`, so a TIMESTAMP(NANOS) `events.ts` reads as raw
  *    nanos (`graft.io.Tables.events`); never flipped mid-session, as
  *    it is part of every root's footer stamp
  *
  * Every temporary conf change goes through [[withConf]].
  */
object Sessions {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Streaming state-store partition count. One state-store INSTANCE
    * exists per shuffle partition with fixed per-micro-batch overhead,
    * and the count is frozen at first checkpoint — so it is a named
    * deployment setting (`spark.graft.stream.statePartitions`), sized
    * to state volume, never inferred from core count. The default (4)
    * is the local-harness value: at toy scale more instances only add
    * snapshot/commit overhead. */
  def streamStatePartitions(s: SparkSession): Int =
    s.conf.getOption("spark.graft.stream.statePartitions")
      .map(_.toInt).getOrElse(4)

  /** Shuffle-partition count for graph-iteration state (CC label /
    * star-contraction passes). The iteration shuffles tables sized by
    * the EDGE set, not the corpus — and that set SHRINKS by orders of
    * magnitude between the first and last pass (sf0.1 co-purchase:
    * 1.2M → 20k in two rounds), so callers re-derive per pass from the
    * live edge count: one partition per ~64k edge rows (window-sort
    * passes are sort-bound, so partitions stay small), floored at the
    * local-harness value (8) and capped at 2× the cluster's default
    * parallelism. `spark.graft.graph.iterPartitions` overrides the
    * derivation outright for deployments that have measured their
    * edge volume. */
  def graphIterPartitions(s: SparkSession, edgeRows: Long): Int =
    s.conf.getOption("spark.graft.graph.iterPartitions")
      .map(_.toInt).getOrElse {
        val derived = edgeRows / 65536L + 1L
        math.min(math.max(derived, 8L),
                 2L * s.sparkContext.defaultParallelism).toInt
      }

  /** The one conf scope: run `f` with each `k -> v` set on `s`, then
    * put each key back exactly: its old value if it was explicitly set
    * (in `s.conf.getAll`), else unset, not pinned to its default. The
    * action that needs the conf must run inside `f`: Spark reads most
    * confs when a plan is built or executed.
    *
    * The set/restore pair is synchronized on the session so concurrent
    * callers can't interleave restores; `f` itself runs single-threaded
    * by design (Verify/Bench/tests all drive queries sequentially). */
  def withConf[T](s: SparkSession, kv: (String, String)*)(f: => T): T =
    s.synchronized {
      val set = s.conf.getAll
      kv.foreach { case (k, v) => s.conf.set(k, v) }
      try f finally kv.foreach { case (k, _) =>
        set.get(k).fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }

  /** The one shuffle-width scope: run `f` with
    * `spark.sql.shuffle.partitions` set to the graft conf `conf` when
    * it is set (a named conf is a deployment decision and is applied
    * exactly, even above the session's shuffle setting); otherwise to
    * `derive(current session width)`, or unscoped when that is `None`. */
  private def withShuffleWidth[T](s: SparkSession, conf: String)(
      derive: Int => Option[Int])(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    s.conf.getOption(conf).map(_.toInt).orElse(derive(s.conf.get(key).toInt))
      .fold(f)(n => withConf(s, key -> n.toString)(f))
  }

  /** Scope a STREAMING query start to its state-store partition
    * count: `spark.graft.stream.statePartitions`, when explicitly
    * set, is applied exactly (raising past the session's shuffle
    * setting included — it sizes state volume, a different axis from
    * batch shuffle width); otherwise the local-harness default (4)
    * only ever lowers, so batch queries sharing the session keep
    * their parallelism. */
  def withStreamStatePartitions[T](s: SparkSession)(f: => T): T =
    withShuffleWidth(s, "spark.graft.stream.statePartitions")(
      n => Some(math.min(n, streamStatePartitions(s))))(f)

  /** Scope a graph-iteration action block: the explicit
    * `spark.graft.graph.iterPartitions` conf is applied exactly (same
    * deployment-override contract as the streaming twin); otherwise
    * the edge-derived count caps the session setting. */
  def withGraphIterPartitions[T](s: SparkSession, edgeRows: Long)(f: => T): T =
    withShuffleWidth(s, "spark.graft.graph.iterPartitions")(
      n => Some(math.min(n, graphIterPartitions(s, edgeRows))))(f)

  /** Shuffle-partition count for corpus-scale PAIR aggregation (the
    * edge-distinct / pair-dedup stage of the graph queries) — the
    * opposite dial from [[graphIterPartitions]]: iteration state is
    * edge-set-sized and SHRINKS, so it wants few partitions; the
    * pair-distinct stage's hash-aggregate state is proportional to
    * the raw pair stream and GROWS with the corpus, so its partition
    * count must grow too or per-task partial maps exhaust the unified
    * pool (the round-14 sf10 probe: graph_pagerank's ~10⁸-row pair
    * distinct at 32 partitions died AGGREGATE_OUT_OF_MEMORY at
    * 0.5 GB/core while the same plan ran clean at 2 GB/core —
    * provisioning was the workaround, THIS derivation is the fix).
    * One partition per ~512k pair rows (~30 MB of aggregate state per
    * task) bounds per-task memory regardless of corpus size; floored
    * at the session setting so small inputs keep their plan, capped
    * at 4096 as a local-harness runaway guard (a deployment that
    * measured its edge volume overrides via
    * `spark.graft.graph.pairAggPartitions`, same contract as the
    * iteration dial). */
  def pairAggPartitions(s: SparkSession, estRows: Long): Int = {
    val session = scala.util.Try(
      s.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(s.sparkContext.defaultParallelism)
    val derived = estRows / 524288L + 1L
    math.min(math.max(derived, session.toLong), 4096L).toInt
  }

  /** Scope a pair-aggregation action block to [[pairAggPartitions]] —
    * RAISES the session setting when the estimated pair volume calls
    * for it (not a cap: bounding per-task state is the point, and a
    * raise is exactly what a big input needs). `estRows <= 0` means
    * the caller has no estimate — run unscoped rather than derive from
    * garbage. */
  def withPairAggPartitions[T](s: SparkSession, estRows: Long)(f: => T): T =
    withShuffleWidth(s, "spark.graft.graph.pairAggPartitions")(
      _ => Option.when(estRows > 0)(pairAggPartitions(s, estRows)))(f)

  /** Session storage hygiene for long-lived sessions running many
    * graft queries. The iterative operators (graph_cc / pagerank /
    * dedup clusterers) eagerly `localCheckpoint` model-sized state,
    * and those blocks stay in executor storage after the caller is
    * done with the result — Spark only frees them when the async
    * ContextCleaner notices the dropped references, which under
    * steady query traffic can lag far behind allocation (a 237-query
    * bench session measured its heavy tail 2× slower from exactly
    * this backlog before sweeping between queries). A service that
    * runs queries back-to-back on one session should call this
    * between logical units of work — it synchronously drops every
    * cached plan and persisted RDD in the session. The boundary
    * matters: plain caches recompute from source on next use, but a
    * `localCheckpoint` TRUNCATES lineage, so a result DataFrame from
    * a previous unit that is backed by one cannot be re-collected
    * after the sweep (Spark throws on the missing blocks rather than
    * silently recomputing). Call this only once the previous unit's
    * results are fully consumed — which is exactly the bench's
    * between-queries contract. */
  def releaseQueryStorage(s: SparkSession): Unit = {
    s.sharedState.cacheManager.clearCache()
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
