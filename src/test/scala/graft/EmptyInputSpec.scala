package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every query must run to completion on a 0-row world.
  *
  * Empty inputs are not an edge case at 100 TB — they are Tuesday: a
  * partition with no late data, a backfill window before go-live, a
  * filter that eliminates a whole source, a dim table mid-rebuild.
  * The failure classes this locks (all found by running the full pack
  * against a limit-0 fixture, round 11):
  *   - partitioned parquet write of 0 rows emits NO data files, so a
  *     schema-INFERRED read-back errors (ingest_partitioned,
  *     ingest_backfill, join_dpp, pipeline_upsert_partitioned — all
  *     now read with explicit schemas);
  *   - driver-side bounds/models over empty aggregates: max() is NULL
  *     (ingest_zorder's non-nullable tuple decode), ML fits reduce
  *     over no rows (embed_pca's "empty collection");
  *   - any future `.head()`/Encoder assumption a new query sneaks in.
  *
  * The empty fixtures are graft.tools.EmptyWorld's `empty` and `facts`
  * worlds over the real fixture (limit 0 — schema-exact,
  * content-free). Queries only — row counts are NOT asserted (a scalar
  * aggregate legitimately returns 1 row on empty input; a grouped one
  * returns 0).
  */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  private lazy val emptyDir: String = SparkSpec.world("empty")

  /** Dims populated, facts empty — the backfill-before-go-live world.
    * A DIFFERENT failure class from all-empty: joins see a non-empty
    * build side against an empty stream side, and per-dim aggregates
    * produce rows whose fact-derived columns are NULL. */
  private lazy val factsEmptyDir: String = SparkSpec.world("facts")

  test("all queries complete on an all-empty fixture (no driver exceptions)") {
    // the sweep must cover the FULL declared inventory — a query
    // registered after the sweep was written is still swept (the map
    // is enumerated live), and this pin goes red if the two drift
    assert(SparkEntry.queries.size == QueriesSmokeSpec.DeclaredQueries,
      "empty-input sweep inventory drifted from the declared query count")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).collect(); None }
        catch { case e: Exception =>
          Some(s"$name: ${e.getClass.getSimpleName}: " +
               s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail on empty input:\n${failures.mkString("\n")}")
  }

  test("all queries complete with dims populated and facts empty") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, factsEmptyDir).collect(); None }
        catch { case e: Exception =>
          Some(s"$name: ${e.getClass.getSimpleName}: " +
               s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail on the facts-empty world:\n${failures.mkString("\n")}")
  }
}
