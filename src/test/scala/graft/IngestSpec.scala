package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{Ingest, Tables}

/** Ingestion layer: text-format round-trips must preserve every value
  * bit-exactly, and the partitioned sink must prune at listing time. */
class IngestSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session
  import spark.implicits._

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("CSV round-trip preserves nation exactly (incl. comma comments)") {
    val src = Tables.t(spark, SparkSpec.sfDir, "nation").orderBy($"n_nationkey")
    val got = Ingest.ingestCsv(spark, SparkSpec.sfDir)
    assert(got.schema == src.schema)
    assert(rowsOf(got) == rowsOf(src))
  }

  test("JSON round-trip preserves supplier exactly (incl. doubles)") {
    val src = Tables.t(spark, SparkSpec.sfDir, "supplier").orderBy($"s_suppkey")
    val got = Ingest.ingestJson(spark, SparkSpec.sfDir)
    assert(rowsOf(got) == rowsOf(src))
  }

  test("PERMISSIVE CSV read quarantines malformed rows, keeps good ones") {
    import org.apache.spark.sql.types._
    val dir = "/tmp/graft_ingest/spec_corrupt_csv"
    new java.io.File(dir).mkdirs()
    val f = new java.io.PrintWriter(s"$dir/part.csv")
    f.println("id,qty,name")
    f.println("1,10,alpha")
    f.println("2,notanumber,beta") // malformed qty
    f.println("3,30,gamma")
    f.close()
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("qty", IntegerType),
      StructField("name", StringType)))
    val got = Ingest.readCsvPermissive(spark, dir, schema).cache()
    val bad = got.where($"_corrupt_record".isNotNull)
    val good = got.where($"_corrupt_record".isNull)
    assert(good.count() == 2)
    assert(bad.count() == 1)
    assert(bad.head().getAs[String]("_corrupt_record").contains("notanumber"))
    got.unpersist()
  }

  test("bucketed tables join with zero exchanges") {
    // the query's own executed (final adaptive) plan, in the session's
    // own conf: a sort-merge join of two bucketed scans, no Exchange below
    val q = Ingest.ingestBucketed(spark, SparkSpec.sfDir)
    val rows = q.collect()
    val aqe = new AdaptiveSparkPlanHelper {}
    val plan = q.queryExecution.executedPlan
    assert(aqe.collect(plan) { case j: BroadcastHashJoinExec => j }.isEmpty, plan)
    val smj = aqe.collect(plan) { case j: SortMergeJoinExec => j }
    assert(smj.size == 1, plan)
    assert(aqe.collect(smj.head) { case x: Exchange => x }.isEmpty, smj.head)
    val scans = aqe.collect(smj.head) { case f: FileSourceScanExec => f }
    assert(scans.size == 2 && scans.forall(_.bucketedScan), smj.head)
    // and it joins the same rows as the unbucketed join
    val expect = Tables.t(spark, SparkSpec.sfDir, "orders")
      .join(Tables.t(spark, SparkSpec.sfDir, "lineitem"),
            $"o_orderkey" === $"l_orderkey").count()
    assert(rows.map(_.getAs[Long]("n")).sum == expect)
  }

  test("partitioned sink: filter becomes a PartitionFilter, not a scan filter") {
    val path = "/tmp/graft_ingest/spec_part_orders"
    Ingest.writePartitioned(
      Tables.t(spark, SparkSpec.sfDir, "orders"), path, "o_orderstatus")
    val q = spark.read.parquet(path).where($"o_orderstatus" === "F")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    // the partition filter actually prunes: only files under /o_orderstatus=F
    val scanned = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scanned.contains("PushedFilters: [IsNotNull(o_orderstatus"),
      "partition filter leaked into data filters")
    // correctness: counts match the unpartitioned source
    val expect = Tables.t(spark, SparkSpec.sfDir, "orders")
      .where($"o_orderstatus" === "F").count()
    assert(q.count() == expect)
  }

  test("compaction rewrites the fragmented landing zone into few files") {
    Ingest.ingestCompact(spark, SparkSpec.sfDir).collect()
    def parquetFiles(tag: String) = new java.io.File(
      s"/tmp/graft_ingest/${SparkSpec.sfDir.replaceAll("[^A-Za-z0-9.]", "_")}/$tag")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles("frag_events") == 64)
    assert(parquetFiles("compact_events") == 4,
      s"expected 4 compacted files, got ${parquetFiles("compact_events")}")
  }

  test("range-clustered layout: disjoint file bands + pushed range predicate") {
    val df = Ingest.ingestSorted(spark, SparkSpec.sfDir)
    df.collect() // ensure the layout exists
    // the time-range predicate must reach the parquet reader, where
    // row-group min/max stats can skip whole groups
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_shipdate"), plan.take(1200))
    // repartitionByRange gives each file a disjoint shipdate band —
    // the property that turns row-group stats into a zone map
    val root = s"/tmp/graft_ingest/${SparkSpec.sfDir.replaceAll("[^A-Za-z0-9.]", "_")}/sorted_lineitem"
    val files = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length > 1)
    // ISO timestamp strings sort chronologically, sidestepping the
    // TIMESTAMP_NTZ-vs-epoch cast restriction
    val bands = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min($"l_shipdate").cast("string"), max($"l_shipdate").cast("string"))
        .head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    bands.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping bands: $bands")
      case _ =>
    }
  }

  test("z-ordered layout clusters BOTH dimensions per file") {
    Ingest.ingestZorder(spark, SparkSpec.sfDir).collect() // ensure written
    val root = s"/tmp/graft_ingest/${SparkSpec.sfDir.replaceAll("[^A-Za-z0-9.]", "_")}/zorder_lineitem"
    val files = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1)
    val global = spark.read.parquet(files: _*)
      .agg(min($"l_orderkey"), max($"l_orderkey"),
           min($"l_partkey"), max($"l_partkey"))
      .head()
    val (gSpanO, gSpanP) =
      ((global.getLong(1) - global.getLong(0)).toDouble.max(1),
       (global.getLong(3) - global.getLong(2)).toDouble.max(1))
    // a z-range of 1/nFiles of the curve covers ~a square in key
    // space: each file's (orderkey span × partkey span) rectangle
    // should be a small fraction of the global area. An unclustered
    // (or single-dimension-sorted) layout scores ~1.0 on at least one
    // dimension in every file, pushing the mean area toward 1.
    val areas = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min($"l_orderkey"), max($"l_orderkey"),
             min($"l_partkey"), max($"l_partkey"))
        .head()
      ((r.getLong(1) - r.getLong(0)) / gSpanO) *
        ((r.getLong(3) - r.getLong(2)) / gSpanP)
    }
    val meanArea = areas.sum / areas.length
    assert(meanArea < 0.4, s"mean per-file area fraction $meanArea — not clustered")
  }

  test("zorder bounds job scans only the two key columns (sampled, no full max-scan)") {
    // the 100 TB contract of the sampled-bounds design: the range-id
    // estimation reads a column-pruned slice of the table, never a
    // full-width scan, and involves no RNG (deterministic key hash)
    val p = Ingest.boundsSamplePlan(
        Tables.t(spark, SparkSpec.sfDir, "lineitem"), "l_orderkey", "l_partkey")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"),
      "bounds scan not pruned to the key columns:\n" + p.take(800))
  }

  test("ORC read-back pushes the segment predicate into the scan") {
    val df = Ingest.ingestOrc(spark, SparkSpec.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_mktsegment), " +
      "EqualTo(c_mktsegment,BUILDING)]"), plan.take(800))
    // correctness: matches the same agg on the parquet original
    val expect = Tables.t(spark, SparkSpec.sfDir, "customer")
      .where($"c_mktsegment" === "BUILDING").count()
    assert(df.agg(sum($"n")).head().getLong(0) == expect)
  }
}
