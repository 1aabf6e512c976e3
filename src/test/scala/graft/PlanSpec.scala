package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that make these queries
  * scale are locked in here, so a regression (lost pushdown, dropped
  * broadcast, single-phase agg) fails CI instead of surfacing as a
  * 100× slowdown on a real cluster. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  // formatted mode: toString truncates long PushedFilters/ReadSchema lists
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SparkSpec.sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("join_broadcast builds broadcast hash joins, never shuffles the fact side") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("scan_pruned pushes predicate and projection into the parquet scan") {
    val p = plan("scan_pruned")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity)"), p)
    assert(p.contains("GreaterThan(l_quantity,45.0)"), p)
    // pruned read schema: exactly the 5 referenced columns, not all 11
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_shipdate:timestamp_ntz>"), p)
  }

  test("join_dpp: fact scan carries a dynamicpruning partition filter") {
    val p = plan("join_dpp")
    // the pruning subquery in PartitionFilters is the whole point:
    // the 'O' partition's files must be skipped at RUNTIME, through
    // the join — without it this is just a broadcast join that reads
    // every partition
    assert(p.contains("dynamicpruning"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("agg_bitmap_distinct: two hash aggregates, no Expand") {
    val p = plan("agg_bitmap_distinct")
    // count(DISTINCT) would plan an Expand (row multiplication); the
    // bitmap formulation must stay two plain hash aggs with map-side
    // partials
    assert(!p.contains("Expand"), p.take(800))
    assert(p.contains("partial_bit_or") || p.contains("bit_or"), p.take(800))
  }

  test("sim_search_filtered pushes the label predicate into the corpus scan") {
    val p = plan("sim_search_filtered")
    // the metadata filter must prune at the parquet reader, not after
    // scoring: In(label, [2,3]) as a pushed filter is what lets a
    // partitioned/z-ordered corpus skip whole files at 100 TB
    assert(p.contains("In(label, [2,3])") || p.contains("In(label,[2,3])"), p)
    assert(p.contains("bounded_topk"), p.take(800))
  }

  test("agg_hash aggregates in two phases (partial map-side, final after shuffle)") {
    val p = plan("agg_hash")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
    assert(p.contains("partial_"), p.take(800))
  }

  // the BoundedTopK aggregate's whole point: top-k per group with NO
  // window sort — state is a k-bounded heap, partials merge map-side
  test("topk_grouped plans a two-phase object aggregate, never a window sort") {
    val p = plan("topk_grouped")
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert("partial_bounded_topk".r.findAllIn(p).nonEmpty,
      "map-side partial heap missing:\n" + p.take(800))
    assert(!p.contains("Window"), "fell back to a window sort:\n" + p.take(800))
  }

  // every ranked list of the vector search family and the top-N-per-key
  // aggregates goes through BoundedTopK.topKRows: the scored product /
  // group rows (and the IVF probe cells) must reduce map-side, never
  // sort under a window
  test("sim_search and sample_group_k select top-k via the heap aggregate, not a window") {
    Seq("sim_search", "sim_search_lsh", "sim_search_quant",
        "sample_group_k", "sim_search_filtered", "sim_search_ivf",
        "sim_search_rerank", "sim_search_pq", "sim_search_mrl",
        "sim_search_bitq", "sim_knn_join", "sim_knn_join_ann",
        "topk_grouped").foreach { name =>
      val p = plan(name)
      assert(p.contains("ObjectHashAggregate"), s"$name:\n" + p.take(800))
      assert(!p.contains("Window"), s"$name fell back to a window sort:\n" + p.take(800))
    }
  }

  test("topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("join_theta broadcasts the provably-small filtered side") {
    val p = plan("join_theta")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  // A Window with an empty partition spec plans a SinglePartition
  // exchange — every row through one task. Allowed only above an
  // Aggregate (input bounded by the group-key domain, not the data).
  private def assertNoGlobalWindowOverRawData(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, SparkSpec.sfDir)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    val plan = df.queryExecution.optimizedPlan
    def hasAggBelow(p: LogicalPlan): Boolean =
      p.isInstanceOf[Aggregate] || p.children.exists(hasAggBelow)
    val offenders = plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty && !hasAggBelow(w.child) => w
    }
    assert(offenders.isEmpty,
      s"$name has a global window over unaggregated data:\n${offenders.mkString("\n")}")
  }

  test("win_frame_range never windows the raw data in a single partition") {
    assertNoGlobalWindowOverRawData("win_frame_range")
  }

  test("win_ntile_cumdist never windows the raw data in a single partition") {
    assertNoGlobalWindowOverRawData("win_ntile_cumdist")
  }

  test("join_range plans as an equi-join on (user, bucket), never a nested loop") {
    val p = plan("join_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "band join fell back to a quadratic strategy:\n" + p.take(800))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("join_interval plans as an equi-join on the time bucket, never a nested loop") {
    val p = plan("join_interval")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval join fell back to a quadratic strategy:\n" + p.take(800))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("dq_expect: all five row-level rules ride ONE lineitem scan as conditional sums") {
    val p = plan("dq_expect")
    // the row-rule aggregate: 5 partial_sum(CASE...) in one map-side pass
    assert("partial_sum\\(CASE WHEN".r.findAllIn(p).length == 5, p.take(1200))
    // exactly two lineitem scans in the whole audit: the rule pass and
    // the anti-join probe (adding a row rule must never add a scan)
    assert("lineitem\\.parquet".r.findAllIn(p).length == 2, p.take(1200))
    // referential integrity is a LeftAnti with key-only pruned reads
    assert(p.contains("LeftAnti"), p.take(800))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), p.take(800))
  }

  test("pipeline_curate_embed: cell-keyed windows only; thresholds broadcast; pair join is an equi-join") {
    val p = plan("pipeline_curate_embed")
    // Multiple windows since the r15 rank-decile rewrite (threshold
    // rank + count over the kept subset, quota rank over the pool
    // subset; the exact node count varies with how much upstream
    // lineage the semdedup checkpoint has truncated when the plan is
    // captured) — the SCALE property is that every single one
    // partitions by cell, never a global sort: no windowspecdefinition
    // may exist without the cell# partition key
    assert("\\(\\d+\\) Window".r.findAllIn(p).nonEmpty, p.take(1500))
    assert(p.contains("row_number()") &&
           p.contains("windowspecdefinition(cell#"), p.take(1500))
    assert("windowspecdefinition\\(".r.findAllIn(p).length ==
           "windowspecdefinition\\(cell#".r.findAllIn(p).length,
      "a window without the cell partition key sneaked in: " + p.take(1500))
    // the k-row p10 thresholds join back by broadcast, and nothing in
    // the funnel (past the checkpointed k-means assign) is a
    // nested-loop/cartesian strategy
    assert(p.contains("BroadcastHashJoin"), p.take(1000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  // Global guard: a quadratic join strategy sneaking into ANY query is
  // the classic silent 100×-at-scale regression. Cross joins of
  // PROVABLY one-row/model-sized inputs are fine and allowlisted;
  // everything else must plan an equi-join. stream_/ingest_ queries
  // are excluded because constructing them executes side effects
  // (stream drains, warehouse writes) — their shapes are locked by
  // their own suites.
  test("no batch query plans a cartesian / nested-loop join (bounded-by-design allowlist)") {
    val allowed = Set(
      "join_theta",        // intentional theta join, small side broadcast
      "agg_funnel",        // crossJoin of three 1-row scalar aggregates
      "agg_funnel_window", // same three 1-row funnel-stage aggregates
      "win_ntile_cumdist", // crossJoin of the 1-row global count
      "profile_columns",   // crossJoin of two 1-row aggregate vectors
      "pipeline_mix",      // crossJoin of the 1-row min-count aggregate
      "graph_triangles",   // crossJoin of three 1-row count aggregates
      "sim_search",        // broadcast 5-row query set × corpus (by design)
      "sim_search_filtered", // same broadcast query-set shape, corpus
                           // side pre-pruned by the pushed label filter
      "sim_search_quant",  // same broadcast query-set shape, int8 codes
      "sim_search_ivf",    // broadcast 16-row centroid table for assign
      "sim_knn_join_ann",  // same broadcast centroid assign/probe shape
      "dq_expect",         // crossJoin of three 1-row audit aggregates
      "sim_search_rerank", // same centroid/query-side broadcasts; the
                           // rerank fetch itself is a broadcast HASH join
      "text_cms_tokens",   // broadcast model-sized per-source sketches
      "text_lm_score",     // crossJoin of the 1-row corpus-total T
      "text_tfidf",        // crossJoin of the 1-row corpus doc count
      "agg_decay",         // crossJoin of the 1-row newest-ts anchor
      "sim_search_mrl",    // broadcast 5-row query set × corpus (coarse)
      "sim_search_bitq",   // broadcast 5-row query set × mask table
      "text_bigram_lm",    // crossJoin of the 1-row vocab size V
      "text_keywords",     // crossJoin of the 1-row corpus doc count N
      "text_bpe_train",    // crossJoin of each round's 1-row best merge
      "text_bpe_apply")    // same 8 one-row merge crossJoins, trained in-query
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => n.startsWith("stream_") || n.startsWith("ingest_"))
      .filterNot(allowed)
      .filter { n =>
        val p = plan(n)
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      }
    assert(offenders.isEmpty,
      "quadratic join strategy in: " + offenders.mkString(", "))
  }

  test("building embed_kmeans submits at most 2·iters + 2 jobs") {
    // the g-table pin, the seed collect, and per Lloyd's pass (iters =
    // 3) one model-sized aggregate: its shuffle map stage and its
    // collect. The model stays on the driver, so no pass pins or
    // cross-joins the corpus. The first build warms the footer memo.
    val build = SparkEntry.queries("embed_kmeans")
    build(spark, SparkSpec.sfDir)
    val jobs = SparkSpec.jobsDuring(build(spark, SparkSpec.sfDir))
    assert(jobs <= 2 * 3 + 2, s"$jobs build jobs")
  }

  test("sim_search_ivf probes inverted lists via a cell-equi join with broadcast queries") {
    // the IVF contract at scale: candidate generation is an EQUI-join
    // on cell id (corpus shuffles once on cell at most, pair space
    // never materializes) and the model-sized sides (centroids for
    // assignment, nprobe-expanded queries for the probe) broadcast.
    // k-means training is deterministic (key-modulo sample, fixed
    // seeds) so this plan shape is stable run-to-run.
    val p = plan("sim_search_ivf")
    assert(p.contains("BroadcastHashJoin"),
      "probe/assign lost the broadcast:\n" + p.take(800))
    // `cell` is the probe's only equi key; it must appear as a
    // BroadcastHashJoin key, not inside a filter after a loop join
    assert(p.split("BroadcastHashJoin").exists(_.take(200).contains("cell")),
      "no broadcast join keyed on cell:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"),
      "model-sized side fell off broadcast reach:\n" + p.take(800))
  }

  test("graph_triangles closes wedges against a broadcast edge hash") {
    val p = plan("graph_triangles")
    // the wedge stream (Σ outdeg² rows) must never shuffle toward the
    // edge set — closure is a map-side broadcast probe
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("triangle closure past broadcast reach becomes a partitioned equi-join") {
    // the size gate's other side: force the threshold to 0 and the
    // closure must plan a shuffle join on (t1, t2) — an equi-join, not
    // a nested loop — so a 100 TB edge sample can't OOM the driver
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"${SparkSpec.sfDir}/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
    val est = graft.graph.Graph.triangleEstimate(
      edges, hexCap = "40", invP3 = 64L, broadcastMaxEdges = 0L)
    val p = est.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the final 1-row aggregate crossJoins stay BroadcastNestedLoop by
    // design; the CLOSURE specifically must be a partitioned equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "gated closure lost the partitioned equi-join:\n" + p.take(1200))
    // both sides of the gate agree on the answer
    val viaBroadcast = graft.graph.Graph.triangleEstimate(
      edges, hexCap = "40", invP3 = 64L).head()
    assert(est.head() == viaBroadcast)
  }

  test("dedup_fuzzy joins on the blocking key, never a nested loop") {
    val p = plan("dedup_fuzzy")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "fuzzy dedup fell back to all-pairs:\n" + p.take(800))
  }

  test("winnow front end is one map-side Generate: no Exchange, no Window, no HOF") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"${SparkSpec.sfDir}/documents.parquet")
      .withColumn("norm", lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.winnowFingerprints(col("norm"), 8, 4)
          .as("fp"))
    val p = d.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("winnow_fingerprints"), p.take(600))
    assert(p.contains("Generate"), p.take(600))
    // sampling happens before ANY wide operator: the per-character
    // stream must never hit a shuffle or a per-doc window sort
    assert(!p.contains("Exchange") && !p.contains("Window"), p.take(900))
  }

  test("join_asof_nearest: both directions fuse into ONE window pass, no join") {
    val p = plan("join_asof_nearest")
    // backward last() and forward first() carry different frames, so
    // Spark plans two Window nodes — but they share the same
    // (user_id; ts, kind) ordering, so the second must stack DIRECTLY
    // on the first with no re-sort of the event stream between them:
    // exactly two Sorts in the whole plan (the shared window sort +
    // the final orderBy), and never an actual join operator
    val sorts = "\\(\\d+\\) Sort".r.findAllIn(p).length
    assert(sorts == 2, s"expected 2 Sort nodes (window + output), got $sorts")
    assert(!p.contains("Join"), "as-of emulation must not plan a join:\n" +
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("dedup_winnow candidate join is an equi-join, never all-pairs") {
    val p = plan("dedup_winnow")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "winnow pairing fell back to all-pairs:\n" + p.take(800))
  }

  test("join_range_auto: BandJoinRule injects bucket keys into the naive text") {
    val df = SparkEntry.queries("join_range_auto")(spark, SparkSpec.sfDir)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("__graft_band_bucket"),
      "BandJoinRule did not fire on join_range_auto:\n" + p.take(1200))
  }

  test("sql_tpch_q10 top-20 plans TakeOrderedAndProject, not a global sort") {
    val p = plan("sql_tpch_q10")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  // the bloom prefilter's whole value is WHERE it filters: the probe
  // must shrink BEFORE any join/exchange, with the filter a plan
  // constant — if the filter ever rides a join column again (the
  // O(rows × filterBytes) formulation), a nested-loop join appears
  test("join_bloom_prefilter probes before the join, filter as plan constant") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    val qe = SparkEntry.queries("join_bloom_prefilter")(spark, SparkSpec.sfDir)
      .queryExecution
    // logical plan: the executed plan hides inside AdaptiveSparkPlanExec
    // (a leaf to collect()), and the property is structural anyway
    def hasJoinBelow(p: LogicalPlan): Boolean =
      p.isInstanceOf[Join] || p.children.exists(hasJoinBelow)
    val probeFilters = qe.optimizedPlan.collect {
      case f: Filter if f.condition.toString.contains("bloom_might_contain") => f
    }
    assert(probeFilters.nonEmpty, "probe filter missing from plan:\n" +
      qe.optimizedPlan.toString.take(800))
    // the filter must sit on the bare scan side — shrinking the probe
    // AFTER a join would defeat the reduction
    probeFilters.foreach(f => assert(!hasJoinBelow(f.child), f.toString))
    assert(!qe.optimizedPlan.toString.contains("Cross"),
      "filter is riding a join column again")
  }

  // contamination's scale story: the eval/benchmark side broadcasts,
  // so the train corpus never reshuffles for the overlap join
  test("text_contamination broadcasts the eval shingle set") {
    val p = plan("text_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  // regression lock for the round-10 graph_degree fix (union of two
  // prunings of a shared distinct subtree planned the whole
  // pair-generation chain TWICE — 109 s vs 23 s at sf1.0): the
  // canonical (a < b) pairs are deduped once and both endpoints
  // explode from each distinct edge row, giving ONE lineitem scan and
  // one adjacency chain, no Union anywhere.
  test("graph_degree plans one adjacency chain: single scan, no Union") {
    val p = plan("graph_degree")
    // formatted mode prints each node twice (tree + detail); count the
    // numbered detail headers only
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1, p.take(1200))
    assert(p.contains("Generate"), p.take(800))
    assert(!p.contains("Union"), p.take(1200))
  }

  test("graph_jaccard: broadcast brand join at edge generation; in-row wedge expansion, no (brand, w) self-join; top-20 is TakeOrderedAndProject") {
    // the edge builder's plan (pre-checkpoint): brand must ride a
    // broadcast onto the lineitem scan — a shuffled brand join would
    // shuffle the whole fact table to tag 25 brands
    val eplan = graft.ops.Joins.graphJaccardEdges(spark, SparkSpec.sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(eplan.contains("BroadcastHashJoin"), eplan.take(1000))
    assert(!eplan.contains("SortMergeJoin"), eplan.take(1000))
    // the outer plan (r15 shape): wedge pairs explode IN-ROW from the
    // (brand, w)-keyed neighbor-list aggregate — the plan must carry
    // the Generate doing that expansion, and the only joins left are
    // the TWO degree joins onto the pair aggregate (a regression back
    // to the wedge self-join shape adds a third join and its
    // exchanges); all joins equi, top-20 without a global sort
    val p = plan("graph_jaccard")
    assert(p.contains("Generate"), p.take(1200))
    // formatted mode prints each node twice (tree + detail); count
    // the numbered detail headers only (the graph_degree convention)
    val nJoins =
      "\\(\\d+\\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
        .findAllIn(p).size
    assert(nJoins == 2, s"expected 2 joins (degree attach), got $nJoins")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    val rdds = "MapPartitionsRDD\\[\\d+\\]".r.findAllIn(p).toSet
    assert(rdds.size == 1,
      s"edge checkpoint not shared across consumers: $rdds\n${p.take(1200)}")
  }

  // The manifest audit's whole value claim is that it costs METADATA,
  // not data: the read-back scan must read zero data columns — the
  // row index rides the reader's hidden temp column, the file name
  // and partition value come from split info. A data column leaking
  // into ReadSchema means the audit re-reads the table it audits.
  test("ingest_manifest: read-back scan reads ZERO data columns (metadata-only ReadSchema)") {
    val p = plan("ingest_manifest")
    assert(p.contains("ReadSchema: struct<_tmp_metadata_row_index:bigint>"),
      p.take(1500))
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1, p.take(1200))
  }

  // Both touch tallies (first + last) must come off ONE
  // purchases⋈events join: the two touches unpivot inside the row
  // (one Generate), so the join subtree — the expensive part — is
  // never computed twice. A Union-of-two-aggregates shape would scan
  // and join events twice (the graph_degree round-10 failure class).
  test("event_attribution: one purchase-events join feeds both touch tallies") {
    val p = plan("event_attribution")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 2, p.take(1200))
    assert(("\\(\\d+\\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).size == 1), p.take(1200))
    assert("\\(\\d+\\) Generate".r.findAllIn(p).size == 1, p.take(1200))
    assert(!p.contains("Union"), p.take(1200))
  }

  // The snapshot diff promises its exchanges ALIGN: the B derivation
  // and the diff both shuffle on the merge key, so every hash
  // exchange in the plan keys on `key` — an exchange on any other
  // column would mean a table-sized re-shuffle the scaladoc claims
  // not to pay. Two full-outer joins exactly; nothing nested-loop.
  test("pipeline_snapshot_diff: every hash exchange keys on the merge key; two full-outer joins") {
    val p = plan("pipeline_snapshot_diff")
    assert("\\(\\d+\\) SortMergeJoin".r.findAllIn(p).size == 2, p.take(1200))
    assert(p.contains("FullOuter"), p.take(1200))
    val keys = "hashpartitioning\\(([A-Za-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys == Set("key"), s"exchanges not aligned on key: $keys")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  // PIVOT over literal status values must compile to conditional
  // aggregates on one scan — an Expand-based plan multiplies every
  // input row by the pivot-column count before aggregating
  test("sql_pivot: conditional aggregates on one scan, no Expand") {
    val p = plan("sql_pivot")
    assert(!p.contains("Expand"), p.take(1000))
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1, p.take(1000))
  }

  // join_skew_salted sells explicit salting as the portable skew fix;
  // this is the other half of the 100 TB story: AQE detecting the hot
  // key at runtime and splitting the skewed partition itself. Thresholds
  // are lowered to make a local-scale hot key visible to the detector;
  // on a cluster the defaults (256 MB / 5× median) play the same role.
  test("AQE splits a skewed sort-merge join partition at runtime (skew=true)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      // coalescing can run on the same reader, changing its plan-string
      // description from "skewed" to "coalesced and skewed" depending on
      // runtime byte sizes — pin it off so the description is stable
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    graft.config.Sessions.withConf(spark, confs: _*) {
      // hot key 0 carries half the left side → one shuffle partition
      // ~30× the median. The payload is xxhash64 noise so lz4 can't
      // compress the hot partition back under the detector threshold.
      val left = spark.range(0, 200000)
        .select(when($"id" < 100000, 0L).otherwise($"id").as("k"),
                xxhash64($"id").as("v"))
      val right = spark.range(0, 200000)
        .select($"id".as("k"), xxhash64($"id", $"id").as("w"))
      // the agg consumes the payload columns so pruning can't shrink
      // the shuffle below the detector's byte threshold (max, not sum:
      // ANSI mode overflows summing xxhash64 longs)
      val joined = left.join(right, "k")
        .groupBy().agg(count(lit(1)).as("n"), max($"v").as("mv"), max($"w").as("mw"))
      // collect() (not head(), which plans a separate limited execution)
      // so the adaptive plan below is the one that actually ran
      assert(joined.collect()(0).getLong(0) == 200000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not mark the skewed join:\n${finalPlan.take(1500)}")
      // the reader's description may be "skewed" or "coalesced and
      // skewed"; assert the stable property (a skew-reading AQE node),
      // not the exact phrasing
      assert("AQEShuffleRead [^\\n]*skewed".r.findFirstIn(finalPlan).isDefined,
        s"AQE did not split the skewed partition:\n${finalPlan.take(1500)}")
    }
  }

  test("text_hot_tokens: candidate gate is a broadcast LEFT-SEMI, so non-candidates never shuffle") {
    val p = plan("text_hot_tokens")
    // the exact-recount pass must semi-join the vocabulary-scale token
    // stream against the model-sized MG candidate set BROADCAST — a
    // shuffled semi-join would move the whole vocabulary, the exact
    // cost the sketch pass exists to avoid
    assert("BroadcastHashJoin [^\\n]*LeftSemi".r.findFirstIn(p).isDefined,
      p.take(1500))
    // the top-8 window runs on the threshold survivors (≤ k per
    // source), not on the corpus: a Window node is fine, a Window fed
    // by a corpus-scale sort is not — pin the window's presence and
    // that the only wide exchanges key on (source[, tok])
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      p.take(1500))
  }

  test("text_bpe_apply: word→symbol-cost join broadcasts the vocabulary side") {
    val p = plan("text_bpe_apply")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("bpe training argmax plans TakeOrderedAndProject (k=1 heap), never a global sort") {
    import spark.implicits._
    // the PRE-checkpoint round plan (localCheckpoint erases plans, so
    // the lock targets Bpe.bestPair directly): the per-round winner
    // must reduce through a 1-row heap over map-side partial pair
    // counts — a global Sort of the candidate-pair table would
    // shuffle the whole vocabulary's bigram space every round
    val state = Seq(("low", 5L, " l  o  w "), ("lower", 2L, " l  o  w  e  r "))
      .toDF("word", "freq", "state")
    val p = graft.text.Bpe.bestPair(state)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("\n   Sort "), p.take(1200)) // no global Sort node
  }
}
