package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every query must run to completion on a world with NULLs in the
  * nullable value columns of the LLM-pipeline tables.
  *
  * At 100 TB nulls are not malformed input — they are the steady
  * state: a crawler that timed out mid-page (null text), a document
  * whose language detector abstained (null lang), an embedding job
  * whose shard failed (null vector), an event emitted before the
  * client set its type field. The companion sweep, EmptyInputSpec,
  * proves 0-row survival; this one proves null-ROW survival, which is
  * a different failure class entirely: typed `Dataset` decodes with
  * primitive-field encoders NPE on null, `Row.getLong`/`getString`
  * NPE inside mapPartitions, and array HOFs return null where
  * downstream code expects a length.
  *
  * Injection is deterministic (xxhash64-residue per column, distinct
  * residues so single-column nulls dominate but co-null rows exist)
  * and targets VALUE columns only — ids, keys and event time stay
  * non-null, matching what any production ingest contract enforces
  * at the front door (a null primary key or event time is rejected at
  * ingest; a null payload flows through and must not kill the job).
  * TPC-H tables are left untouched: their spec declares every column
  * NOT NULL, so nulling them would test a world that cannot occur.
  *
  * Queries only — result semantics under nulls are pinned per
  * operator in their own specs where they matter (e.g. lang_id and
  * text_quality treat null text as scoreless, dedup keys skip null);
  * here the single assertion is completion without a driver
  * exception, the same contract as EmptyInputSpec.
  */
class NullInputSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  /** The fixture with nulls planted in the pipeline tables' value
    * columns — injection lives in graft.tools.NullWorld (shared with
    * the null-world oracle differential; see its scaladoc for the
    * residue design). */
  private lazy val nullDir: String = SparkSpec.world("null")

  test("all queries complete on the null-planted world (no driver exceptions)") {
    // live-enumerated against the declared inventory, like EmptyInputSpec
    assert(SparkEntry.queries.size == QueriesSmokeSpec.DeclaredQueries,
      "null-input sweep inventory drifted from the declared query count")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, nullDir).collect(); None }
        catch { case e: Exception =>
          Some(s"$name: ${e.getClass.getSimpleName}: " +
               s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail on the null world:\n${failures.mkString("\n")}")
  }

  /** The doc_ids NullWorld nulled the text column of (column index 0
    * in its documents plan) — recomputed with the identical predicate
    * so the pin can't drift from the injection. */
  private def nullTextIds: Set[Long] =
    spark.read.parquet(s"$nullDir/documents.parquet")
      .where(col("text").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("dedup family: null payloads pass through as singletons, never pair") {
    val nulls = nullTextIds
    assert(nulls.nonEmpty, "fixture regression: no null-text docs planted")
    // exact dedup: each null doc is its own group, never merged away
    val exact = SparkEntry.queries("dedup_exact")(spark, nullDir)
      .select("doc_id", "n_copies").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    nulls.foreach { id =>
      assert(exact.get(id).contains(1L),
        s"null-text doc $id should survive exact dedup as a 1-copy group")
    }
    // survivors: every null doc survives (was never a loser)
    val surv = SparkEntry.queries("dedup_survivors")(spark, nullDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nulls.subsetOf(surv), "a null-text doc was dropped as a dup loser")
    // clusters: every null doc is a size-1 cluster labeled by itself
    val clus = SparkEntry.queries("dedup_clusters")(spark, nullDir)
      .select("doc_id", "cluster_id", "csize").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    nulls.foreach { id =>
      assert(clus.get(id).contains((id, 1L)),
        s"null-text doc $id should be its own singleton cluster")
    }
  }

  test("agg_mode: untyped events never win (no null mode_type)") {
    val modes = SparkEntry.queries("agg_mode")(spark, nullDir).collect()
    assert(modes.nonEmpty)
    assert(modes.forall(!_.isNullAt(1)), "a null event_type won a mode vote")
  }
}
