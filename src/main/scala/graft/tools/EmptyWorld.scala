package graft.tools

import org.apache.spark.sql.DataFrame

/** 0-row fixture generator (dev tool, not part of the query surface):
  * copies a driver-generated sf world with the chosen tables emptied
  * (`limit 0` — schema-exact, content-free). Two deployment shapes:
  *
  *  - `empty` — every table 0 rows (the cold-start world);
  *  - `facts` — dims populated, fact/pipeline tables empty (the
  *    backfill-before-go-live world: joins see a real build side
  *    against an empty probe side).
  *
  * EmptyInputSpec sweeps both shapes for completion; this tool puts
  * the same worlds on disk so `Verify` + `tools/check.py --unordered`
  * can prove the oracled queries keep MATCHING DuckDB on them —
  * empty-input differentials catch scalar-aggregate and
  * count-vs-count(col) divergences that a does-it-crash sweep cannot.
  * Written as worlds `empty` and `facts` by [[Worlds]].
  */
object EmptyWorld {

  val factTables: Set[String] =
    Set("orders", "lineitem", "events", "documents", "embeddings")

  /** Empties the `emptied` tables and passes the rest through. */
  def emptying(emptied: Set[String])(t: String, df: DataFrame): DataFrame =
    if (emptied(t)) df.limit(0) else df
}
