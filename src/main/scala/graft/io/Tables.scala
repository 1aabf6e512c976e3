package graft.io

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet fixtures (`TESTDATA.md`,
  * `FIXTURES.md`). The reference repo's `repository/` layer was never
  * implemented (`/root/reference/src/etl/` is empty — SURVEY.md §0.2);
  * this is its Spark-native equivalent: schema-on-read from parquet
  * footers, vectorized scan, pushdown-friendly.
  *
  * At 100 TB these would be partitioned/bucketed table roots instead of
  * single files; the API shape (name → DataFrame) is unchanged.
  *
  * Footer schemas are memoised per JVM ([[parquet]]): a table root's
  * schema is inferred once per qualified path and stamp — the root's
  * length and modification time plus the session's parquet inference
  * confs — and every later read declares it, so building a query runs
  * no schema-inference job. A rewritten root (new mtime or length) or
  * a flipped inference conf is re-inferred. Only the root's OWN status
  * is stamped: a file rewritten in place below a directory root, or an
  * object store that keeps no directory mtimes, is not seen, so such
  * roots must be immutable (write a new root, then point readers at
  * it).
  *
  * Temp views over the fixtures are memoised per session ([[view]]):
  * a table is registered once per session, qualified root and stamp,
  * and a later call finds the catalog still holding that very entry.
  */
object Tables {
  /** The TPC-H star: the tables the SQL surface reads. */
  val tpch: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val names: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  /** Load one fixture table from `dir` (e.g. /root/testdata/sf0.01). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** The session confs parquet schema inference reads
    * (`ParquetToSparkSchemaConverter` and the footer merge): a change
    * to any of them can change the inferred type of an unchanged file. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive")

  private type Stamp = (Long, Long, Seq[Option[String]])

  /** A root's qualified path and stamp: its own length and mtime plus
    * the session's inference confs. Both memos key on this. */
  private def stamped(spark: SparkSession, path: String): (String, Stamp) = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    (st.getPath.toString,
     (st.getLen, st.getModificationTime, inferenceConfs.map(spark.conf.getOption)))
  }

  /** qualified path → (stamp, inferred schema); one entry per path, a
    * new stamp replaces the old entry. */
  private val footerSchemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  /** `spark.read.parquet(path)` of one table root (a file or directory,
    * not a glob) without the footer-inference job Spark runs on every
    * bare read. Every call still builds a NEW DataFrame (fresh
    * attribute ids, so self-joins of two reads stay unambiguous); only
    * the StructType is reused. Two threads missing together both infer
    * and the last put wins — same schema, no lock held across a job. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val (key, stamp) = stamped(spark, path)
    val hit = footerSchemas.get(key)
    val schema =
      if (hit != null && hit._1 == stamp) hit._2
      else {
        val inferred = spark.read.parquet(path).schema
        footerSchemas.put(key, (stamp, inferred))
        inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  /** session → view name → (qualified root, stamp, the catalog entry
    * [[view]] registered). Weak on the session, since temp views die
    * with it, and on the entry, whose plan holds the session and would
    * otherwise keep the key alive. */
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[String, (String, Stamp, WeakReference[TemporaryViewRelation])]]())

  /** `t(spark, dir, name).createOrReplaceTempView(name)`, skipped when
    * this session's catalog still holds the entry an earlier call
    * registered for the same qualified root and [[parquet]] stamp. The
    * entry is checked by identity, so a view another caller replaced
    * or dropped is registered again, as is one over another `dir`, a
    * rewritten root or a flipped inference conf; the immutable-root
    * rule above applies unchanged. Two threads missing together both
    * register the same table and the last one wins. */
  def view(spark: SparkSession, dir: String, name: String): Unit = {
    val (root, stamp) = stamped(spark, s"$dir/$name.parquet")
    val catalog = spark.sessionState.catalog
    val mine = registered.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    val hit = mine.get(name)
    val live = hit != null && hit._1 == root && hit._2 == stamp &&
      catalog.getRawTempView(name).exists(_ eq hit._3.get)
    if (!live) {
      t(spark, dir, name).createOrReplaceTempView(name)
      catalog.getRawTempView(name).foreach(v => mine.put(name, (root, stamp, new WeakReference(v))))
    }
  }

  /** `events.ts` has shipped in two parquet flavors across fixture
    * generations: TIMESTAMP(NANOS) — which Spark's reader rejects
    * outright (PARQUET_TYPE_ILLEGAL) unless read as raw nanos via
    * `nanosAsLong` (a session requirement `Sessions.local` declares;
    * this read never sets it) and truncated to microseconds — and plain
    * TIMESTAMP(MICROS). Adapt on the observed footer type: a LongType
    * `ts` is raw nanos (integer `div` keeps the math exact; ns epochs
    * exceed 2^53, so a double division would corrupt low bits), a
    * timestamp `ts` is read natively. Both normalize to the
    * microsecond TIMESTAMP_NTZ the other fixture timestamps get
    * (isAdjustedToUTC=false footers; session tz is pinned UTC so the
    * NTZ cast is value-preserving either way). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = parquet(spark, s"$dir/events.parquet")
    val ts =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      else col("ts").cast("timestamp_ntz")
    raw.withColumn("ts", ts)
  }
}
