package graft.tools

import graft.tools.Worlds.planted
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tie/duplicate fixture generator (dev tool, not part of the query
  * surface): copies a driver-generated sf world with deterministically
  * planted EXACT TIES — identical texts, identical embeddings,
  * hour-collapsed timestamps, grid-snapped prices. The sixth
  * adversarial axis after nulls, empties, skew, unicode and
  * non-finites: none of those plant value EQUALITY, and equality is
  * the axis that breaks a different bug class — any top-k, argmax,
  * first/last-wins, row_number or as-of pick whose sort key is not a
  * TOTAL order returns whichever tied row the engine's partitioning
  * happened to surface, so Spark and DuckDB silently disagree (and
  * Spark disagrees with its own rerun at another parallelism). A 100
  * TB corpus is full of exact ties: mirrored pages, re-crawled
  * documents, batch-stamped events sharing one ingest timestamp,
  * price points on a merchandising grid. The differential (check.py
  * --unordered) proves value-level agreement under ties; it does NOT
  * relax per-row equality — a tie-dependent pick diverges as a value
  * difference, not an ordering one.
  *
  * Plants (all pure column arithmetic on xxhash64(id, salt) — the
  * same rows every run; planted values are WRITTEN to parquet so both
  * engines read identical bytes; no formula to mirror):
  *
  *  - documents: 1 in 4 docs' `text` REPLACED by one of 32 canonical
  *    paragraphs → exact-duplicate clusters of ~4 docs at sf0.01
  *    (~390 at sf1.0) spanning different langs/sources/n_chars, so a
  *    dedup representative pick has real ties to break.
  *  - embeddings: 1 in 4 vectors REPLACED by one of 16 canonical
  *    vectors → exact cosine ties in every similarity top-k.
  *  - events: 1 in 2 `ts` truncated to the hour (batch-ingest
  *    signature; windows/as-of/sessionization see heavy ts ties);
  *    1 in 4 `value` rounded to an integer (sum/rank ties).
  *  - orders: 1 in 4 `o_totalprice` snapped to the 100-grid, 1 in 4
  *    `o_orderdate` truncated to month start.
  *  - lineitem: 1 in 4 `l_extendedprice` snapped to the 10-grid,
  *    1 in 4 `l_shipdate` truncated to month start.
  *  - part/customer: `p_retailprice` 1-grid / `c_acctbal` 10-grid,
  *    1 in 4 each.
  *
  * Ids and join keys stay untouched (unique); only payload/value
  * columns tie. All grid snaps go through round() to integral
  * multiples, so the planted doubles are exactly representable and
  * byte-stable through parquet. Written as world `tie` by [[Worlds]].
  */
object TieWorld {

  /** 32 canonical paragraphs: word-y enough for the text family
    * (tokenizers, lang-id, quality ratios) to process normally. */
  val textPool: Seq[String] = (0 until 32).map { k =>
    s"canonical tie document number $k the quick brown fox jumps over " +
      s"the lazy dog while counting to ${k * 7 + 3} and the merchant " +
      s"ships ${k % 5 + 1} crates of standard parts to the northern " +
      "warehouse before noon every single day without fail"
  }

  /** 16 canonical 64-dim vectors (deterministic small rationals). */
  val vecPool: Seq[Seq[Float]] = (0 until 16).map { k =>
    Seq.tabulate(64)(i => (((k * 31 + i * 7) % 11) - 5) / 8.0f)
  }

  /** Snap a double to the `grid`-multiple lattice (exact doubles). */
  private def snap(c: Column, grid: Double): Column =
    round(c / grid) * grid

  def plant(t: String, df: DataFrame): DataFrame = t match {
    case "documents" =>
      val k = pmod(xxhash64(col("doc_id"), lit(101)), lit(32))
      val pool = textPool.zipWithIndex.foldLeft(lit(textPool.head)) {
        case (acc, (s, i)) => when(k === i, lit(s)).otherwise(acc)
      }
      df.withColumn("text",
        when(planted(4)(col("doc_id"), lit(100)), pool).otherwise(col("text")))
    case "embeddings" =>
      val k = pmod(xxhash64(col("vec_id"), lit(103)), lit(16))
      val pool = vecPool.zipWithIndex.foldLeft(
        array(vecPool.head.map(lit): _*)) { case (acc, (v, i)) =>
        when(k === i, array(v.map(lit): _*)).otherwise(acc)
      }
      df.withColumn("embedding",
        when(planted(4)(col("vec_id"), lit(102)), pool.cast("array<float>"))
          .otherwise(col("embedding")))
    case "events" =>
      // ts ships in two parquet flavors (see graft.io.Tables.events):
      // raw-nanos LongType truncates arithmetically, timestamps via
      // date_trunc — both land on the same hour boundary
      val hourTrunc =
        if (df.schema("ts").dataType ==
              org.apache.spark.sql.types.LongType)
          col("ts") - pmod(col("ts"), lit(3600L * 1000000000L))
        else date_trunc("hour", col("ts")).cast(df.schema("ts").dataType)
      df.withColumn("ts",
          when(planted(2)(col("event_id"), lit(104)), hourTrunc)
            .otherwise(col("ts")))
        .withColumn("value",
          when(planted(4)(col("event_id"), lit(105)), round(col("value")))
            .otherwise(col("value")))
    case "orders" =>
      df.withColumn("o_totalprice",
          when(planted(4)(col("o_orderkey"), lit(106)),
            snap(col("o_totalprice"), 100d)).otherwise(col("o_totalprice")))
        .withColumn("o_orderdate",
          when(planted(4)(col("o_orderkey"), lit(107)),
            date_trunc("month", col("o_orderdate"))
              .cast(df.schema("o_orderdate").dataType))
            .otherwise(col("o_orderdate")))
    case "lineitem" =>
      val rowId = xxhash64(col("l_orderkey"), col("l_linenumber"))
      df.withColumn("l_extendedprice",
          when(planted(4)(rowId, lit(108)),
            snap(col("l_extendedprice"), 10d))
            .otherwise(col("l_extendedprice")))
        .withColumn("l_shipdate",
          when(planted(4)(rowId, lit(109)),
            date_trunc("month", col("l_shipdate"))
              .cast(df.schema("l_shipdate").dataType))
            .otherwise(col("l_shipdate")))
    case "part" =>
      df.withColumn("p_retailprice",
        when(planted(4)(col("p_partkey"), lit(110)),
          snap(col("p_retailprice"), 1d)).otherwise(col("p_retailprice")))
    case "customer" =>
      // tie-grid snap first, then the orphan plant (round 15) —
      // planted AFTER the transform so the orphan attributes stay
      // exactly the values OrphanInputSpec pins (and the q22
      // avg-acctbal threshold sees both the snapped population
      // and the planted survivors)
      OrphanWorld.plantInto(
        df.withColumn("c_acctbal",
          when(planted(4)(col("c_custkey"), lit(111)),
            snap(col("c_acctbal"), 10d)).otherwise(col("c_acctbal"))))
    case _ => df
  }
}
