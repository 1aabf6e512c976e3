package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.Sessions.withConf
import graft.util.Det._

/** Join-skew measurement probe (dev tool, not part of the query
  * surface): quantifies what the round-13 SkewWorld join plants
  * (one key holding ~20% of lineitem / of orders) do to the shuffle
  * joins, and which mitigation engages:
  *
  *  1. **AQE skew-join split** on join_shuffle / join_multiway — at
  *     AQE defaults AND with the skew thresholds scaled to the local
  *     world. The scaling is the honest part: AQE's
  *     `skewedPartitionThresholdInBytes` default (256 MB) targets
  *     cluster-sized partitions; the local hot partition is ~megabytes
  *     to ~100 MB, so at defaults the factor-of-5 test passes but the
  *     absolute floor doesn't. At 100 TB the hot partition is
  *     hundreds of GB — far past the default floor — so "defaults
  *     don't engage locally, scaled thresholds do" is exactly the
  *     behavior the default config would show at scale.
  *  2. **Explicit salting** (join_skew_salted) vs its naive plain-join
  *     twin on the hot-user world — broadcast allowed (what Catalyst
  *     picks when the dim fits), broadcast disabled (the 100 TB regime
  *     salting exists for), and broadcast disabled + AQE skew tuned
  *     (does AQE alone recover the naive plan?).
  *
  * Protocol: each variant runs once to warm (JIT, page cache) then
  * twice measured, min reported — one JVM, conf scoped per variant and
  * restored. Output: one JSON line per measurement.
  *
  * Usage: runMain graft.tools.SkewProbe <cleanSfDir> <skewSfDir>
  */
object SkewProbe {

  private def timeOnce(label: String, world: String,
                       mk: () => DataFrame): (Double, Boolean) = {
    val df = mk()
    // execute THIS DataFrame's own plan (df.count() would build a
    // separate QueryExecution, leaving df's AQE plan unexecuted and
    // its skew markers unreadable) and read the finalized AQE plan
    val qe = df.queryExecution
    val t0 = System.nanoTime()
    qe.toRdd.foreach(_ => ())
    val sec = (System.nanoTime() - t0) / 1e9
    val plan = qe.executedPlan.toString
    sys.env.get("GRAFT_PROBE_DUMP").foreach { d =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$d/plan_${label}_$world.txt"),
        plan.getBytes("UTF-8"))
    }
    (sec, plan.contains("skew=true"))
  }

  private def measure(label: String, world: String, mk: () => DataFrame): Unit = {
    timeOnce(label, world, mk) // warm
    val runs = Seq(timeOnce(label, world, mk), timeOnce(label, world, mk))
    val sec = runs.map(_._1).min
    val skew = runs.exists(_._2)
    println(f"""{"probe":"$label","world":"$world","sec":$sec%.3f,"skew_split":$skew}""")
  }

  /** A join with NO key-preserving operator above it: AQE's
    * OptimizeSkewedJoin refuses to split when the join output's hash
    * partitioning is required downstream (join_shuffle's groupBy on
    * the same key — splitting there would force an extra shuffle,
    * which is what `forceOptimizeSkewedJoin` opts into), so the
    * engagement demo needs a join whose output feeds only a count. */
  private def pureJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.io.Tables.t(s, dir, "orders")
      .join(graft.io.Tables.t(s, dir, "lineitem"),
            $"o_orderkey" === $"l_orderkey")
      .select($"l_quantity", $"o_orderstatus")
  }

  /** join_skew_salted's oracle twin: the plain join the salting must
    * beat once the dim can't broadcast. */
  private def naivePlain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.io.Tables.t(s, dir, "events")
      .join(graft.io.Tables.t(s, dir, "customer")
              .select($"c_custkey", $"c_mktsegment"),
            $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"), sumMoney($"value").as("val_sum"))
      .orderBy($"c_mktsegment")
  }

  // skew thresholds scaled local-world-sized (hot partition ~10-100 MB
  // here vs hundreds of GB at 100 TB where the 256 MB default engages)
  private def tuned[T](s: SparkSession)(f: => T): T = withConf(s,
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m")(f)

  private def noBroadcast[T](s: SparkSession)(f: => T): T =
    withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  def main(args: Array[String]): Unit = {
    val spark = graft.config.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val worlds = Seq("clean" -> args(0), "skew" -> args(1))

    for ((world, dir) <- worlds) {
      measure("join_shuffle_default", world,
        () => graft.ops.Joins.joinShuffle(spark, dir))
      tuned(spark) { measure("join_shuffle_aqe_tuned", world,
        () => graft.ops.Joins.joinShuffle(spark, dir)) }
      // the fact-fact join is the skewed one; keep it shuffled even if
      // stats would broadcast orders at toy scale
      noBroadcast(spark) { measure("join_shuffle_smj_default", world,
        () => graft.ops.Joins.joinShuffle(spark, dir)) }
      noBroadcast(spark) { tuned(spark) {
        measure("join_shuffle_smj_aqe_tuned", world,
          () => graft.ops.Joins.joinShuffle(spark, dir)) } }

      // splitting under the same-key agg needs the explicit opt-in
      noBroadcast(spark) { tuned(spark) { withConf(spark,
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
        measure("join_shuffle_smj_aqe_forced", world,
          () => graft.ops.Joins.joinShuffle(spark, dir)) } } }

      measure("join_multiway_default", world,
        () => graft.ops.Joins.joinMultiway(spark, dir))
      tuned(spark) { measure("join_multiway_aqe_tuned", world,
        () => graft.ops.Joins.joinMultiway(spark, dir)) }

      // agg-free join: the shape AQE will split without being forced
      noBroadcast(spark) { measure("pure_join_smj_default", world,
        () => pureJoin(spark, dir)) }
      noBroadcast(spark) { tuned(spark) {
        measure("pure_join_smj_aqe_tuned", world,
          () => pureJoin(spark, dir)) } }

      measure("skew_salted", world,
        () => graft.ops.Joins.joinSkewSalted(spark, dir))
      measure("naive_broadcast_ok", world, () => naivePlain(spark, dir))
      noBroadcast(spark) { measure("naive_smj", world,
        () => naivePlain(spark, dir)) }
      noBroadcast(spark) { tuned(spark) {
        measure("naive_smj_aqe_tuned", world,
          () => naivePlain(spark, dir)) } }
    }
    spark.stop()
  }
}
