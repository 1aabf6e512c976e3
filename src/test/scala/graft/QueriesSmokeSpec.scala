package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must run at sf0.001 and leave the session's
  * conf unchanged; the entry-point contract additionally
  * smoke-checks entry() for rows > 0. */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  import QueriesSmokeSpec.{DeclaredQueries, DeclaredOracles}
  test(s"declared inventory matches SURVEY §2 count ($DeclaredQueries queries, $DeclaredOracles oracled)") {
    assert(SparkEntry.queries.size == DeclaredQueries,
      s"queries.size=${SparkEntry.queries.size} — update SURVEY §2 count + this spec")
    assert(SparkEntry.oracleSql.size == DeclaredOracles,
      s"oracleSql.size=${SparkEntry.oracleSql.size} — update SURVEY §2 count + this spec")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      // a query leaves its session's conf as it found it
      val before = spark.conf.getAll.toSet
      val n = fn(spark, SparkSpec.sfDir).count()
      assert(n >= 0)
      val after = spark.conf.getAll.toSet
      assert((after diff before).isEmpty && (before diff after).isEmpty)
    }
  }
}

/** SURVEY.md §2's count line is the binding inventory; the pins fail
  * the build when code and survey drift (round-2 verdict item: code
  * had a query SURVEY didn't declare). Update BOTH when adding a
  * query. Companion-scoped so other sweeps (EmptyInputSpec) pin the
  * same constant instead of a drifting copy. */
object QueriesSmokeSpec {
  val DeclaredQueries = 240 // r15: + dedup_spans (exact substring-span tier)
  val DeclaredOracles = 231 // r15: dedup_spans oracled from birth; embed_kmeans promoted via exact-integer Lloyd's, then embed_semdedup + pipeline_curate_embed via grid cells
}
