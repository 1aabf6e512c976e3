package graft.tools

import org.apache.spark.sql.functions._

/** Recall-at-scale prober for the ANN family (dev tool, not part of
  * the query surface) — the measurement the round-14 verdict asked
  * for: the ivfCells fix made RUNTIME Θ(n^1.5) through two decades,
  * but recall under the derived cell count had only been floored at
  * fixture scale, where the derivation never leaves its minCells
  * floor. This main measures recall against exact brute force AT the
  * probed scale, with whatever k/nprobe the live code derives:
  *
  *  - sim_knn_join_ann: recall@3 of the global ANN k-NN graph vs the
  *    exact global top-3, over a deterministic key-modulo sample of
  *    query vectors (the exact side is nSample × n dot products —
  *    affordable at any sf the probe runs at, while full exact n × n
  *    is exactly what the ANN graph exists to avoid);
  *  - sim_search_ivf / sim_search_rerank: recall@10 vs the exact
  *    [[graft.vec.VectorOps.simSearch]] baseline over the same 5
  *    query vectors the queries themselves use (complete overlap
  *    audit, no sampling).
  *
  * Usage:
  *   bash tools/run_main.sh graft.tools.RecallProbe <sfDir> [nSample]
  *
  * Output: one line per query,
  *   `recall <name> <sfDir> mean=<r> n=<queries> k=<cells> nprobe=<w>`.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nSample = args.lift(1).map(_.toInt).getOrElse(200)
    val spark = graft.config.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._

    val e = graft.vec.VectorOps.emb(spark, sfDir)
      .select($"vec_id", $"emb", $"nrm").localCheckpoint(true)
    val n = e.count()
    val k = graft.vec.VectorOps.ivfCells(n, minCells = 16)
    val nprobeSearch = graft.vec.VectorOps.ivfNprobe(k, floor = 2)

    // ---- sim_knn_join_ann: recall@3 on a deterministic sample ----
    val mod = math.max(1L, n / nSample)
    val q = e.where(pmod($"vec_id", lit(mod)) === 0)
      .select($"vec_id".as("q_id"), $"emb".as("q_emb"), $"nrm".as("q_nrm"))
    val scored = e.crossJoin(broadcast(q))
      .where($"vec_id" =!= $"q_id")
      .withColumn("cos", graft.functions.VecFunctions.dotProduct($"q_emb", $"emb") /
        ($"q_nrm" * $"nrm"))
    val exactKnn = graft.functions.BoundedTopK
      .topKRows(scored, Seq($"q_id"), $"cos", $"vec_id", 3)
      .select($"q_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = graft.vec.VectorOps.simKnnJoinAnn(spark, sfDir)
      .where(pmod($"id_a", lit(mod)) === 0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    report("sim_knn_join_ann", sfDir, exactKnn, ann, k, 2)

    // ---- searches: recall@10 vs the exact brute-force baseline ----
    val exactSearch = graft.vec.VectorOps.simSearch(spark, sfDir)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def searchSets(df: org.apache.spark.sql.DataFrame) = df
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    report("sim_search_ivf", sfDir, exactSearch,
      searchSets(graft.vec.VectorOps.simSearchIvf(spark, sfDir)),
      k, nprobeSearch)
    report("sim_search_rerank", sfDir, exactSearch,
      searchSets(graft.vec.VectorOps.simSearchRerank(spark, sfDir)),
      k, math.min(k, 2 * nprobeSearch))

    spark.stop()
  }

  private def report(name: String, sfDir: String,
                     exact: Map[Long, Set[Long]],
                     approx: Map[Long, Set[Long]],
                     k: Int, nprobe: Int): Unit = {
    val recalls = exact.map { case (q, s) =>
      approx.getOrElse(q, Set.empty[Long]).intersect(s).size.toDouble / s.size }
    val mean = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    println(f"recall $name $sfDir mean=$mean%.4f n=${exact.size} " +
      s"k=$k nprobe=$nprobe")
  }
}
