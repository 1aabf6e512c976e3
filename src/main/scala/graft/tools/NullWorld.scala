package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Null-payload fixture generator (dev tool, not part of the query
  * surface): copies a driver-generated sf world with deterministic
  * xxhash64-planted NULLs (~1 in 8 rows per column, distinct residues
  * per column so single-column nulls dominate but residue overlaps
  * produce fully-nulled payload rows too) in the VALUE columns of the
  * LLM-pipeline tables. Ids, keys and event time stay non-null — a
  * production ingest contract rejects a null primary key or event time
  * at the front door, while a null payload (crawler timeout, abstained
  * language detector, failed embed shard) flows through and must
  * neither kill the job nor change what the query means. TPC-H tables
  * are left untouched: their spec declares every column NOT NULL.
  *
  * Shared by NullInputSpec (completion sweep on a tiny world) and the
  * null-world oracle differential (`Verify` + `tools/check.py
  * --unordered` on this output — proves the 210 oracled queries keep
  * MATCHING DuckDB under nulls, not merely surviving them). Written as
  * world `null` by [[Worlds]].
  */
object NullWorld {

  /** The per-table null plan: id column + value columns to nullify. */
  val plan: Map[String, (String, Seq[String])] = Map(
    "documents"  -> (("doc_id", Seq("text", "lang", "source", "n_chars"))),
    "embeddings" -> (("vec_id", Seq("embedding", "label"))),
    "events"     -> (("event_id", Seq("event_type", "value", "props"))))

  /** Nulls planted where pmod(xxhash64(id, colIndex), 8) == 0 — pure
    * column arithmetic, same rows on every run and every engine. */
  def plant(t: String, df: DataFrame): DataFrame =
    plan.get(t).fold(df) { case (id, cols) =>
      cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
        d.withColumn(c,
          when(Worlds.planted(8)(col(id), lit(i)), lit(null))
            .otherwise(col(c)))
      }
    }
}
