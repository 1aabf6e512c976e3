package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Non-finite-embedding contracts, pinned where the DuckDB
  * differential can't reach (`sbt test` must catch a regression
  * without the gate's non-finite world run — that differential lives
  * in `tools/gate.sh --worlds` on `graft.tools.NonFiniteWorld`):
  *
  *  - the vec family COMPLETES on a world where ~3/16 of vectors
  *    carry a NaN / +Inf / -Inf component (before the round-13 front
  *    door, embed_centroid/outliers/quantize CRASHED on ANSI Inf→int
  *    casts and every top-k was NaN-poisoned);
  *  - the front door holds: no poisoned vector is ever scored,
  *    quantized, or averaged — every emitted neighbor id, centroid
  *    component and int8 code is finite.
  */
class NonFiniteInputSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  private lazy val nfDir: String = SparkSpec.world("nonfinite")

  /** vec_ids whose embedding has a non-finite component, recomputed
    * from the world itself (the front door's own predicate, negated). */
  private lazy val poisoned: Set[Long] = {
    import spark.implicits._
    spark.read.parquet(s"$nfDir/embeddings.parquet")
      .withColumn("s2", aggregate($"embedding".cast("array<double>"),
        lit(0.0), (acc, x) => acc + x * x))
      .where(isnan($"s2") || $"s2" === Double.PositiveInfinity)
      .select($"vec_id").as[Long].collect().toSet
  }

  test("the planted world actually poisons vectors (plant sanity)") {
    assert(poisoned.nonEmpty, "NonFiniteWorld planted nothing at this sf")
  }

  test("vec family completes on the non-finite world") {
    val vec = SparkEntry.queries.keySet.filter { n =>
      n.startsWith("sim_") || n.startsWith("embed_") ||
      Set("dedup_embed", "dedup_embed_lsh", "dedup_near", "dedup_simhash",
          "dedup_simhash_pairs", "dedup_clusters_lsh", "pipeline_curate_embed",
          "fn_array", "udaf_typed", "multimodal_cols").contains(n)
    }
    assert(vec.size >= 20, s"vec family shrank unexpectedly: ${vec.size}")
    val failures = vec.toSeq.sorted.flatMap { name =>
      try { SparkEntry.queries(name)(spark, nfDir).collect(); None }
      catch { case e: Exception =>
        Some(s"$name: ${e.getClass.getSimpleName}: " +
             s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty, s"${failures.size} queries failed:\n${failures.mkString("\n")}")
  }

  test("no poisoned vector is scored: sim_search neighbors and queries are all finite vectors") {
    val rows = SparkEntry.queries("sim_search")(spark, nfDir).collect()
    val leaked = rows.filter { r =>
      poisoned.contains(r.getLong(r.fieldIndex("q_id"))) ||
      poisoned.contains(r.getLong(r.fieldIndex("vec_id"))) ||
      r.getDouble(r.fieldIndex("cos")).isNaN
    }
    assert(leaked.isEmpty, s"${leaked.length} result rows touch a poisoned vector")
  }

  test("no poisoned vector is averaged or quantized: centroids and codes stay finite") {
    val cents = SparkEntry.queries("embed_centroid")(spark, nfDir).collect()
    val badC = cents.filter { r =>
      val c = r.getDouble(r.fieldIndex("centroid")); c.isNaN || c.isInfinite
    }
    assert(badC.isEmpty, s"${badC.length} non-finite centroid components")
    val codes = SparkEntry.queries("embed_quantize")(spark, nfDir).collect()
    val badQ = codes.filter { r =>
      val q = r.getInt(r.fieldIndex("q")); q < -127 || q > 127
    }
    assert(badQ.isEmpty, s"${badQ.length} int8 codes out of [-127, 127]")
    assert(codes.forall(r => !poisoned.contains(r.getLong(r.fieldIndex("vec_id")))),
      "a poisoned vector reached the quantizer")
  }
}
