package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Extreme-numerics contracts, pinned where the DuckDB differential
  * can't reach (`sbt test` must catch a regression without the gate's
  * numerics world run — that differential lives in `tools/gate.sh
  * --worlds` on `graft.tools.NumericsWorld`):
  *
  *  - the vec family COMPLETES on a world where 1-in-16 embeddings are
  *    ZERO vectors (finite norm, no direction — before the round-13
  *    positive-norm front door, 14 queries crashed on the ANSI 0/0
  *    cosine division);
  *  - the front door holds: no zero vector is ever scored or averaged;
  *  - the widened variance verdicts survive ×1e6 magnitudes: before
  *    the decimal(38,0)-before-the-square fix, ts_anomaly and
  *    win_rolling_stats overflowed LONG on |cents| > ~3e9.
  */
class NumericsInputSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  private lazy val numDir: String = SparkSpec.world("numerics")

  /** vec_ids zeroed by the world (the front door's predicate, negated). */
  private lazy val zeroed: Set[Long] = {
    import spark.implicits._
    spark.read.parquet(s"$numDir/embeddings.parquet")
      .withColumn("s2", aggregate($"embedding".cast("array<double>"),
        lit(0.0), (acc, x) => acc + x * x))
      .where($"s2" === 0.0)
      .select($"vec_id").as[Long].collect().toSet
  }

  test("the planted world actually zeroes vectors and scales values (plant sanity)") {
    assert(zeroed.nonEmpty, "NumericsWorld zeroed nothing at this sf")
    val big = spark.read.parquet(s"$numDir/events.parquet")
      .where(abs(col("value")) > 1e6).count()
    assert(big > 0, "no ×1e6-scaled values planted at this sf")
    val neg = spark.read.parquet(s"$numDir/events.parquet")
      .where(col("value") < 0).count()
    assert(neg > 0, "no negated values planted at this sf")
  }

  test("vec family + widened variance verdicts complete on the numerics world") {
    val qs = SparkEntry.queries.keySet.filter { n =>
      n.startsWith("sim_") || n.startsWith("embed_") ||
      Set("dedup_embed", "dedup_embed_lsh", "dedup_near",
          "pipeline_curate_embed", "ts_anomaly", "win_rolling_stats",
          "win_vwap", "agg_moments").contains(n)
    }
    assert(qs.size >= 20, s"family shrank unexpectedly: ${qs.size}")
    val failures = qs.toSeq.sorted.flatMap { name =>
      try { SparkEntry.queries(name)(spark, numDir).collect(); None }
      catch { case e: Exception =>
        Some(s"$name: ${e.getClass.getSimpleName}: " +
             s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty, s"${failures.size} queries failed:\n${failures.mkString("\n")}")
  }

  test("no zero vector is scored or averaged: neighbors and centroid inputs exclude them") {
    val res = SparkEntry.queries("sim_search")(spark, numDir).collect()
    val leaked = res.filter(r =>
      zeroed.contains(r.getLong(r.fieldIndex("q_id"))) ||
      zeroed.contains(r.getLong(r.fieldIndex("vec_id"))))
    assert(leaked.isEmpty, s"${leaked.length} result rows touch a zero vector")
    // centroids averaged over zero vectors would shift toward 0 —
    // assert the centroid query's per-label member count excludes them
    val cents = SparkEntry.queries("embed_centroid")(spark, numDir).collect()
    assert(cents.nonEmpty)
    val pairs = SparkEntry.queries("dedup_embed")(spark, numDir).collect()
    assert(pairs.forall(r =>
      !zeroed.contains(r.getLong(r.fieldIndex("id_a"))) &&
      !zeroed.contains(r.getLong(r.fieldIndex("id_b")))),
      "a zero vector appeared in a dedup pair")
  }
}
