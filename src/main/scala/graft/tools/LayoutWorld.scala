package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Input-layout permutation generator (dev tool, not part of the query
  * surface): rewrites a fixture world with the SAME rows in a
  * different physical layout — row order scrambled by a deterministic
  * hash of the whole row, repacked into 7 files instead of 1 — so a
  * Verify dump from this world can be diffed against the standard
  * world's dump to prove LAYOUT INVARIANCE: at 100 TB the file count,
  * split boundaries and row order of a table are never stable across
  * ingest runs or compactions, and any query whose output depends on
  * them (an ORDER BY that isn't total surfacing arrival order, a
  * first()/limit without a sort, an aggregate whose merge is
  * order-sensitive) is nondeterministic in production even though
  * every single run looks plausible.
  *
  * This axis is invisible to the DuckDB differentials: both engines
  * read whatever layout the world has, so engine agreement cannot
  * detect layout sensitivity. The check is Spark-vs-Spark instead —
  * `tools/layout_check.py` compares this world's Verify dump against
  * the standard world's, requiring BIT-EQUAL row multisets for every
  * query (and notes, rather than fails, the declared layout-sensitive
  * set: queries whose CONTRACT is only ε-approximate under reorder).
  *
  * The scramble key is xxhash64 over a stable id column (every table
  * has one), salted, so the permutation is deterministic and
  * regenerable; repartition(7) by the same hash redistributes rows
  * across files with no correlation to the original row groups.
  * Written as world `layout` by [[Worlds]].
  */
object LayoutWorld {

  /** Stable UNIQUE scramble key per table (lineitem needs the
    * composite — l_orderkey alone ties across line numbers and a tied
    * scramble key would leave the world's own byte layout unpinned). */
  val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))

  def plant(t: String, df: DataFrame): DataFrame = {
    val scramble = xxhash64(keyCols(t).map(col) :+ lit(211): _*)
    // repartition spreads rows across 7 files keyed by the hash;
    // sortWithinPartitions pins a deterministic (but scrambled)
    // in-file order so the world itself is regenerable bit-for-bit
    df.repartition(7, scramble).sortWithinPartitions(scramble)
  }
}
