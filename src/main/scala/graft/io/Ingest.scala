package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.QueryPack
import graft.util.Det._

/** SURVEY.md §2.1 deferred row ("CSV/JSON ingestion … `repository/`")
  * — now in scope. The reference's `repository/` layer was scaffolding
  * only (SURVEY.md §0.2); this is the Spark-native data-access layer a
  * 100 TB ETL actually needs:
  *
  *  - **explicit schemas, never inference** — schema inference is a
  *    full extra pass over the data (and nondeterministic under
  *    sampling) at scale; every reader here takes the schema from the
  *    authoritative parquet footer of the table it mirrors.
  *  - **CSV/JSON as ingestion formats, parquet as the storage format**
  *    — the round-trip queries below land text data into the engine
  *    and verify value fidelity against the parquet original via the
  *    DuckDB oracle.
  *  - **partitioned sinks** — `writePartitioned` lays out
  *    `col=value/` directories so downstream scans prune entire
  *    partitions (the `ingest_partitioned` plan shows PartitionFilters,
  *    not PushedFilters).
  *
  * The round-trip queries write under /tmp (scoped per scale-factor
  * dir) — the engine must not mutate the read-only fixture dirs.
  */
object Ingest extends QueryPack {

  /** Deterministic scratch root per (sf dir, format). */
  private def scratch(dir: String, fmt: String): String =
    s"/tmp/graft_ingest/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/$fmt"

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      // quote/escape defaults handle commas and quotes in comments
      .csv(path)

  def readCsv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).option("header", "true").csv(path)

  /** Real-world ingestion is never clean: PERMISSIVE parse with the
    * raw line captured in `_corrupt_record`, so bad rows quarantine
    * into a side table instead of failing the 100 TB load (FAILFAST)
    * or silently vanishing (DROPMALFORMED). */
  def readCsvPermissive(s: SparkSession, path: String,
                        schema: StructType): DataFrame =
    s.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonl(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** parquet → CSV files → read back with the parquet schema →
    * verified against the parquet original by the oracle. Exercises
    * quoting (n_comment contains commas) and typed re-parse. */
  def ingestCsv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "nation")
    val path = scratch(dir, "csv_nation")
    writeCsv(src, path)
    readCsv(s, path, src.schema).orderBy($"n_nationkey")
  }

  /** Raw-text ingestion — the format LLM corpora actually arrive in
    * (one document per line, no schema): write documents out as
    * compressed text, read back with `spark.read.text`, re-derive
    * structure (char/token counts) from the line alone. gzip on
    * purpose: a .gz text file is NOT splittable, so one file = one
    * task regardless of size — the landing-zone reality that makes
    * the compact/repartition step (ingest_compact) mandatory before
    * heavy processing at 100 TB. The sink folds embedded line breaks
    * to spaces (see the inline note), so one doc is always one line
    * and the oracle reads the original table through the same fold. */
  def ingestText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "documents")
    val path = scratch(dir, "text_documents")
    // text is a schema-less format with no null representation: the
    // sink would silently write a null doc as an EMPTY line, which
    // reads back as one zero-char one-token line — a phantom document.
    // A null payload has no line to land; skip it at the sink.
    // It is also LINE-oriented: a doc with an embedded \n or \r would
    // read back as several documents (Hadoop's LineReader terminates
    // on LF, CRLF and lone CR alike), silently multiplying the corpus.
    // Fold each line-break char to a space at the sink — 1:1, so
    // chars_total is preserved — the standard one-doc-per-line
    // JSONL/text-corpus writer contract. Caught by the unicode world's
    // whitespace-only docs ("\n\r" planted mid-text).
    src.select(regexp_replace($"text", "[\\r\\n]", " ").as("text"))
      .where($"text".isNotNull).write.mode("overwrite")
      .option("compression", "gzip").text(path)
    s.read.text(path)
      .select(length($"value").as("n_chars"),
              size(split($"value", " ")).cast("long").as("n_tok"))
      .groupBy()
      .agg(count(lit(1)).as("n_lines"),
           sum($"n_chars").as("chars_total"),
           sum($"n_tok").as("tok_total"))
  }

  /** parquet → JSON-lines → read back with the parquet schema.
    * Doubles survive: Spark's JSON writer emits shortest-round-trip
    * literals, so s_acctbal re-parses bit-identically. */
  def ingestJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "supplier")
    val path = scratch(dir, "json_supplier")
    writeJsonl(src, path)
    readJsonl(s, path, src.schema).orderBy($"s_suppkey")
  }

  /** parquet → XML → read back with the parquet schema (Spark 4's
    * NATIVE xml source — the spark-xml package folded into core).
    * Same lossless-round-trip contract as [[ingestJson]]: the writer
    * emits shortest-round-trip double literals and escapes markup, so
    * c_acctbal and free-text columns re-parse bit-identically and the
    * oracle can hash the WHOLE table. XML is row-tag-splittable, so a
    * 100 TB load parallelizes per row group like JSON-lines; the
    * explicit schema skips the inference pass (one full read) that a
    * schemaless load would pay. */
  def ingestXml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "customer")
    val path = scratch(dir, "xml_customer")
    src.write.mode("overwrite").format("xml")
      .option("rootTag", "customers").option("rowTag", "customer")
      .save(path)
    s.read.schema(src.schema)
      .option("rowTag", "customer").format("xml").load(path)
      .orderBy($"c_custkey")
  }

  /** Hive-style partitioned sink + pruned scan: write orders
    * partitioned by o_orderstatus, read back filtering one partition —
    * the filter resolves at file-listing time (PartitionFilters), so
    * at 100 TB only that directory is ever listed or read. */
  def ingestPartitioned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "orders")
    val path = scratch(dir, "part_orders")
    writePartitioned(src, path, "o_orderstatus")
    // explicit schema on read-back: a 0-row partitioned write emits no
    // data files, and schema inference over an empty layout fails —
    // an empty PARTITION of a production table must read as 0 rows,
    // not an error (also skips the footer-sampling inference pass)
    s.read.schema(src.schema).parquet(path)
      .where($"o_orderstatus" === "F")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sumMoney($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority")
  }

  /** Partition backfill via DYNAMIC partition overwrite — the
    * correction pattern every warehouse runs when late data lands: a
    * stale daily rollup (built from a half-ingested world) is healed
    * by overwriting ONLY the partitions from the cutoff day onward;
    * the write replaces exactly the partitions it produces and never
    * touches (or lists) the rest of the table. At 100 TB this is the
    * difference between rewriting 15 directories and rewriting the
    * table: backfill cost scales with the DIRTY date range, not
    * history. The read-back proves the heal: days ≥ cutoff match the
    * full rollup, days before remain stale — which is exactly what
    * the oracle states with the same cutoff and the same even-id
    * staleness predicate. */
  def ingestBackfill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch(dir, "backfill_daily")
    val cutoff = "2024-01-16"
    def rollup(src: DataFrame): DataFrame = src
      .groupBy(expr("to_date(ts)").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"),
           sum(round($"value" * 100).cast("long")).as("cents"))
    val ev = Tables.t(s, dir, "events")
    // 1. stale world: only even event ids have arrived
    rollup(ev.where(pmod($"event_id", lit(2)) === 0))
      .write.mode("overwrite").partitionBy("day").parquet(path)
    // 2. late data lands for the tail of the range: recompute ONLY
    //    days >= cutoff and dynamic-overwrite those partitions
    graft.config.Sessions.withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      rollup(ev).where($"day" >= lit(cutoff).cast("date"))
        .write.mode("overwrite").partitionBy("day").parquet(path)
    }
    // explicit schema: plan-derived, no execution; see ingestPartitioned
    s.read.schema(rollup(ev).schema).parquet(path)
      .select($"day", $"event_type", $"n",
              ($"cents".cast("double") / 100).as("val_sum"))
      .orderBy($"day", $"event_type")
  }

  /** Bucketed tables: write orders and lineitem bucketed (and sorted)
    * by order key into the session warehouse, then join them
    * WITHOUT ANY EXCHANGE — both sides' bucketed layout satisfies the
    * join's distribution requirement at scan time. This is the single
    * biggest 100 TB lever this engine exposes: bucket the fact tables
    * once at ingestion and every subsequent join/agg on that key is
    * shuffle-free forever. (A `merge` hint keeps the join a sort-merge
    * join even where stats would broadcast a side at toy scale, so the
    * plan demonstrably has no Exchange below the join; IngestSpec
    * asserts that on this query's own executed plan.) */
  def ingestBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (to, tl) = (s"graft_b_orders_$tag", s"graft_b_lineitem_$tag")
    // The warehouse dir outlives the in-memory catalog across JVMs. A
    // completed bucketed layout on disk (_SUCCESS present) is
    // RE-REGISTERED as an external bucketed table — never rewritten: a
    // 100 TB bucket rewrite per session would defeat the whole point of
    // bucketing once at ingestion. Spark derives each file's bucket id
    // from its `_0000N` filename suffix, so registration restores the
    // zero-Exchange join property intact. Only an absent or partial
    // (no _SUCCESS) layout is cleared and written fresh.
    def ensureBucketed(name: String, ddlCols: String, key: String)
                      (write: => Unit): Unit =
      if (!s.catalog.tableExists(name)) {
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) {
          s.sql(
            s"""CREATE TABLE $name ($ddlCols) USING parquet
               |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
               |LOCATION '${p.toString}'""".stripMargin)
        } else {
          if (fs.exists(p)) fs.delete(p, true)
          write
        }
      }
    // project at ingestion: the bucketed copies carry only the columns
    // downstream joins/aggs read — at 100 TB you never bucket-rewrite
    // columns nobody will ask for
    ensureBucketed(to, "o_orderkey BIGINT, o_orderstatus STRING", "o_orderkey") {
      Tables.t(s, dir, "orders").select($"o_orderkey", $"o_orderstatus")
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable(to)
    }
    ensureBucketed(tl,
      "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
      "l_orderkey") {
      Tables.t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable(tl)
    }
    s.table(to).join(s.table(tl).hint("merge"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
           sumMoney($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"o_orderstatus")
  }

  /** parquet → ORC → filtered read-back: the second columnar storage
    * format (warehouses migrating to/from Hive stacks carry ORC), with
    * the same pushdown guarantees as parquet — the segment predicate
    * reaches the ORC reader as a search argument (PushedFilters in the
    * scan; IngestSpec asserts it), so row groups that can't match are
    * skipped at 100 TB exactly like parquet row groups. */
  def ingestOrc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "customer")
    val path = scratch(dir, "orc_customer")
    if (!new java.io.File(path + "/_SUCCESS").exists())
      src.write.mode("overwrite").orc(path)
    s.read.schema(src.schema).orc(path)
      .where($"c_mktsegment" === "BUILDING")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"), sumMoney($"c_acctbal").as("bal_sum"))
      .orderBy($"c_nationkey")
  }

  /** Small-files compaction — the maintenance job every streaming or
    * partitioned sink eventually needs: a landing zone fragmented into
    * many tiny files (here events sprayed across 64) is rewritten as a
    * few large, per-file-sorted files. At 100 TB the fragmented layout
    * is the #1 silent killer (per-file open/footer cost dominates the
    * scan and the driver's file index bloats); the fix is exactly this
    * `repartition(N) + sortWithinPartitions(key)` rewrite on a
    * schedule. The read-back aggregate hash-matches the original
    * table, proving compaction lost nothing. */
  def ingestCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frag = scratch(dir, "frag_events")
    val compact = scratch(dir, "compact_events")
    val src = Tables.t(s, dir, "events")
    if (!new java.io.File(frag + "/_SUCCESS").exists())
      src.repartition(64).write.mode("overwrite").parquet(frag)
    s.read.parquet(frag)
      .repartition(4, $"user_id")
      .sortWithinPartitions($"user_id", $"ts")
      .write.mode("overwrite").parquet(compact)
    s.read.parquet(compact)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sumMoney($"value").as("val_sum"),
           countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  /** Range-clustered layout — the single-dimension form of the
    * z-order/liquid-clustering lever: lineitem rewritten with
    * `repartitionByRange(l_shipdate) + sortWithinPartitions`, so every
    * output file covers a DISJOINT shipdate band and, inside each
    * file, every parquet row group covers a narrow sub-band. The
    * row-group min/max stats then act as a zone map: a time-range scan
    * pushes its bounds to the reader (PushedFilters) and skips every
    * row group whose band misses the range — at 100 TB a 3-month scan
    * of a 7-year table reads ~3.5% of the bytes instead of all of
    * them, with NO partition directories to manage and no high-
    * cardinality partition explosion (the failure mode of
    * partitionBy(date) at daily grain × many tenants). IngestSpec
    * asserts the bands are disjoint and the predicate reaches the
    * reader. */
  def ingestSorted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "lineitem")
    val path = scratch(dir, "sorted_lineitem")
    if (!new java.io.File(path + "/_SUCCESS").exists())
      src.repartitionByRange(8, $"l_shipdate")
        .sortWithinPartitions($"l_shipdate")
        .write.mode("overwrite").parquet(path)
    s.read.schema(src.schema).parquet(path)
      .where($"l_shipdate" >= lit("1996-06-01").cast("timestamp") &&
             $"l_shipdate" < lit("1996-09-01").cast("timestamp"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sumMoney($"l_extendedprice").as("price_sum"))
      .orderBy($"l_returnflag")
  }

  /** Multi-dimensional clustered layout — the OPTIMIZE ZORDER pattern
    * (Delta/Iceberg) built from Spark primitives, completing
    * [[ingestSorted]]'s single-dimension story: a range sort favors
    * ONE column's zone maps; interleaving the bits of BOTH probe
    * dimensions' range-bucket ids gives a sort key whose contiguous
    * ranges are ~squares in (orderkey, partkey) space, so every
    * output file / row group covers a narrow band of BOTH columns and
    * a rectangle predicate skips on min/max stats in either dimension.
    *
    * Bucket ids come from each dimension's SAMPLED max — a
    * deterministic 1-in-64 key-hash sample of only the two key
    * columns (column-pruned scan), the same shape as Delta's range-id
    * sampling: at 100 TB the bounds job reads two ints per sampled
    * row, not the table, and the real systems go further and read
    * only file-footer stats. Sampling makes the bounds an ESTIMATE,
    * so the bucket id clamps to [0, 255]: rows above the estimated
    * max pile into the top z-cell, which costs a sliver of clustering
    * quality and zero correctness — the z value is only a sort key.
    * 8 bits per dimension = 65536 z-cells, plenty for 8 output files.
    * The interleave is a fixed 16-term bitwise expression — codegen'd,
    * no UDF. Read-back runs a rectangle query; the oracle (same
    * rectangle on the ORIGINAL lineitem) proves the rewrite lost
    * nothing, IngestSpec asserts the per-file min/max area is
    * actually clustered and that the bounds job's scan is pruned to
    * the two key columns. */
  def ingestZorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_returnflag",
              $"l_quantity", $"l_extendedprice")
    val path = scratch(dir, "zorder_lineitem")
    if (!new java.io.File(path + "/_SUCCESS").exists()) {
      val (maxO, maxP) = boundsBySample(
        Tables.t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      // integer `div` keeps the bucket id exact (Column `/` is double)
      def bucket(name: String, maxV: Long): Column =
        least(expr(s"$name * 256 div ${maxV + 1}"), lit(255L))
      val bo = bucket("l_orderkey", maxO)
      val bp = bucket("l_partkey", maxP)
      val z = (0 until 8).map { i =>
        shiftleft(shiftright(bo, i).bitwiseAND(lit(1L)), 2 * i + 1)
          .bitwiseOR(shiftleft(shiftright(bp, i).bitwiseAND(lit(1L)), 2 * i))
      }.reduce(_ bitwiseOR _)
      src.withColumn("z", z)
        .repartitionByRange(8, $"z")
        .sortWithinPartitions($"z")
        .write.mode("overwrite").parquet(path)
    }
    // explicit schema (data cols + z): a 0-row write leaves no data
    // files to infer from — empty input must read as 0 rows
    s.read.schema(src.schema.add("z", "long")).parquet(path)
      .where($"l_orderkey".between(1000L, 5000L) &&
             $"l_partkey".between(100L, 500L))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("qty_sum"),
           sumMoney($"l_extendedprice").as("price_sum"))
      .orderBy($"l_returnflag")
  }

  /** Sampled per-dimension range bounds for [[ingestZorder]]: a
    * deterministic 1-in-64 xxhash64 row sample over a scan pruned to
    * the key columns. The sampled max underestimates the true max by
    * at most ~the top-64 quantile gap; callers clamp bucket ids, so
    * the estimate trades a sliver of top-cell clustering for never
    * scanning a full column. Deterministic (hash of the keys, no RNG)
    * → the layout, and therefore IngestSpec's clustering assertions,
    * are stable run-to-run. */
  private[graft] def boundsSamplePlan(t: DataFrame, c1: String, c2: String): DataFrame =
    t.select(col(c1), col(c2))
      .where(pmod(xxhash64(col(c1), col(c2)), lit(64)) === 0)
      .agg(max(col(c1)), max(col(c2)))

  private def boundsBySample(t: DataFrame, c1: String, c2: String): (Long, Long) = {
    // Row access, not a (Long, Long) Encoder: max() over an empty (or
    // fully sampled-out) table is NULL, and the non-nullable tuple
    // decode would throw where a 0-bound layout is the right answer
    val r = boundsSamplePlan(t, c1, c2).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0),
     if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Schema evolution across parquet generations — the drift every
    * long-lived landing zone accumulates: generation 1 was written
    * before the `channel` column existed, generation 2 carries it.
    * `mergeSchema` unions the footers at read time (gen-1 rows surface
    * NULL channel — no backfill rewrite of 100 TB of history), and the
    * query coalesces the gap into an explicit 'legacy' bucket. The
    * oracle derives the same channel assignment from the original
    * table, proving no row was lost or mislabeled across generations. */
  def ingestEvolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "orders")
    val path = scratch(dir, "evolve_orders")
    if (!new java.io.File(s"$path/gen2/_SUCCESS").exists()) {
      src.where($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_totalprice")
        .write.mode("overwrite").parquet(s"$path/gen1")
      src.where($"o_orderkey" % 2 =!= 0)
        .select($"o_orderkey", $"o_totalprice",
                concat(lit("ch_"), ($"o_orderkey" % 3).cast("string")).as("channel"))
        .write.mode("overwrite").parquet(s"$path/gen2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$path/gen1", s"$path/gen2")
      .groupBy(coalesce($"channel", lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("n"), sumMoney($"o_totalprice").as("total"))
      .orderBy($"channel")
  }

  /** DYNAMIC PARTITION PRUNING demonstrated end-to-end: the fact
    * table is hive-partitioned on o_orderstatus, the join keys ON the
    * partition column, and the dim side carries a selective literal
    * filter (tag = 'terminal') — so Catalyst inserts a
    * `dynamicpruning` subquery into the fact scan's PartitionFilters
    * and the 'O' partition's files are SKIPPED AT RUNTIME, before a
    * row is read (locked in PlanSpec). This is THE partition-elision
    * mechanism for star-schema joins at 100 TB — static pruning can't
    * see through a join, and without DPP the fact scan reads every
    * partition only to throw 1/3 away post-join. The dim filter must
    * be a literal predicate: Spark's `isLikelySelective` gate
    * (correctly) refuses to build a pruning subquery for a bare
    * boolean column, which a naive `WHERE keep` formulation hits. */
  def joinDpp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "orders")
    val path = scratch(dir, "dpp_orders")
    writePartitioned(src, path, "o_orderstatus")
    // explicit schema (see ingestPartitioned); partition discovery and
    // the dynamicpruning subquery are unaffected (PlanSpec-locked)
    val fact = s.read.schema(src.schema).parquet(path)
    val dimPath = scratch(dir, "dpp_dim")
    Seq(("F", "terminal"), ("O", "open"), ("P", "terminal"))
      .toDF("st", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = s.read.parquet(dimPath)
    fact.join(broadcast(dim), $"o_orderstatus" === $"st")
      .where($"tag" === "terminal")
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), sumMoney($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  /** Partition manifest audit — the file-level observability a 100 TB
    * lake runs before every incident hunt: per-partition file count
    * and row count read from the parquet reader's hidden `_metadata`
    * struct (populated from split info — no extra data scan). The
    * writer repartitions on the partition key first, so each
    * partition directory receives exactly ONE file — a layout
    * invariant the manifest then PROVES (n_files = 1; a small-files
    * regression or a stray speculative write flips it), while the
    * oracle pins the row counts to the logical source. rows_by_index
    * re-derives the count from max(_metadata.row_index) + 1 —
    * metadata-vs-data consistency a truncated or duplicated file
    * would break. Empty input: the explicit-schema read-back returns
    * 0 rows (EmptyInputSpec class). */
  def ingestManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.t(s, dir, "orders")
    val path = scratch(dir, "manifest_orders")
    src.repartition($"o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    s.read.schema(src.schema).parquet(path)
      .select($"o_orderstatus", col("_metadata.file_name").as("fname"),
              col("_metadata.row_index").as("ri"))
      .groupBy($"o_orderstatus")
      .agg(countDistinct($"fname").as("n_files"),
           count(lit(1)).as("n_rows"),
           (max($"ri") + 1).as("rows_by_index"))
      .orderBy($"o_orderstatus")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_manifest" -> (ingestManifest _),
    "join_dpp" -> (joinDpp _),
    "ingest_evolve" -> (ingestEvolve _),
    "ingest_zorder" -> (ingestZorder _),
    "ingest_sorted" -> (ingestSorted _),
    "ingest_csv" -> (ingestCsv _),
    "ingest_text" -> (ingestText _),
    "ingest_json" -> (ingestJson _),
    "ingest_xml" -> (ingestXml _),
    "ingest_orc" -> (ingestOrc _),
    "ingest_partitioned" -> (ingestPartitioned _),
    "ingest_compact" -> (ingestCompact _),
    "ingest_backfill" -> (ingestBackfill _),
    "ingest_bucketed" -> (ingestBucketed _))

  // Oracles run on the ORIGINAL parquet tables: a hash match proves the
  // text round-trip / partitioned rewrite preserved every value.
  def oracle: Map[String, String] = Map(
    // n_files = 1 is the repartition-by-partition-key layout
    // invariant; both row counts re-derive from the logical source
    "ingest_manifest" ->
      """SELECT o_orderstatus, CAST(1 AS BIGINT) AS n_files,
        |  count(*) AS n_rows, count(*) AS rows_by_index
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "join_dpp" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100
        |    AS total
        |FROM orders WHERE o_orderstatus IN ('F', 'P')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // lossless round trip (fixture text is newline-free) — the oracle
    // derives the same measures from the original table
    "ingest_text" ->
      // the regexp_replace mirrors the sink's line-break fold (each
      // \r or \n becomes one space, 1:1): chars_total is unaffected,
      // but token boundaries change where a break adjoined a space
      """SELECT count(*) AS n_lines,
        |  CAST(sum(length(text)) AS BIGINT) AS chars_total,
        |  CAST(sum(len(string_split(
        |    regexp_replace(text, '[\r\n]', ' ', 'g'), ' '))) AS BIGINT)
        |    AS tok_total
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    "ingest_evolve" ->
      s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
        |            ELSE 'ch_' || CAST(o_orderkey % 3 AS VARCHAR) END AS channel,
        |  count(*) AS n, ${sqlSumMoney("o_totalprice")} AS total
        |FROM orders GROUP BY channel ORDER BY channel""".stripMargin,
    "ingest_zorder" ->
      s"""SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty_sum,
        |  ${sqlSumMoney("l_extendedprice")} AS price_sum
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 5000
        |  AND l_partkey BETWEEN 100 AND 500
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "ingest_sorted" ->
      s"""SELECT l_returnflag, count(*) AS n,
        |  ${sqlSumMoney("l_extendedprice")} AS price_sum
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-06-01'
        |  AND l_shipdate < TIMESTAMP '1996-09-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "ingest_csv" ->
      "SELECT * FROM nation ORDER BY n_nationkey",
    "ingest_json" ->
      "SELECT * FROM supplier ORDER BY s_suppkey",
    "ingest_xml" ->
      "SELECT * FROM customer ORDER BY c_custkey",
    "ingest_orc" ->
      s"""SELECT c_nationkey, count(*) AS n,
        |  ${sqlSumMoney("c_acctbal")} AS bal_sum
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "ingest_partitioned" ->
      s"""SELECT o_orderpriority, count(*) AS n,
        |  ${sqlSumMoney("o_totalprice")} AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "ingest_compact" ->
      s"""SELECT event_type, count(*) AS n,
        |  ${sqlSumMoney("value")} AS val_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the healed table: stale (even-id) rollup before the cutoff,
    // full rollup from it onward — precisely what dynamic partition
    // overwrite must leave behind
    "ingest_backfill" ->
      """WITH stale AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100 AS val_sum
        |  FROM events WHERE event_id % 2 = 0 GROUP BY day, event_type),
        |healed AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100 AS val_sum
        |  FROM events GROUP BY day, event_type)
        |SELECT * FROM stale WHERE day < DATE '2024-01-16'
        |UNION ALL
        |SELECT * FROM healed WHERE day >= DATE '2024-01-16'
        |ORDER BY day, event_type""".stripMargin,
    "ingest_bucketed" ->
      s"""SELECT o_orderstatus, count(*) AS n,
        |  ${sqlSumMoney("l_extendedprice*(1.0-l_discount)")} AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}
