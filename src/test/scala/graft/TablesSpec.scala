package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Tables

/** `Tables.parquet`'s footer-schema memo: a repeat read of an
  * unchanged table runs no Spark job, a rewritten file or a flipped
  * inference conf is re-inferred, and every read is still a fresh
  * DataFrame. `Tables.view`'s temp-view memo: a repeat registration
  * runs no command, and a rewritten root, a foreign replacement,
  * another directory or another session registers again. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session
  import spark.implicits._

  /** `CreateViewCommand`s `session` runs while `body` runs. Listener
    * callbacks arrive asynchronously but in order, and a callback still
    * queued from earlier work can reach a listener registered after it
    * ran, so only commands seen between a start and an end sentinel
    * query count. */
  private def viewCommandsDuring(session: SparkSession)(body: => Unit): Int = {
    val commands = new java.util.concurrent.atomic.AtomicInteger()
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical match {
          case _: CreateViewCommand if started.getCount == 0 => commands.incrementAndGet()
          case _ => qe.analyzed.output.map(_.name) match {
            case Seq("tables_spec_start") => started.countDown()
            case Seq("tables_spec_end")   => ended.countDown()
            case _ =>
          }
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def sentinel(name: String, seen: CountDownLatch): Unit = {
      session.range(1).toDF(name).collect()
      assert(seen.await(60, TimeUnit.SECONDS), s"$name query never reached the listener")
    }
    session.listenerManager.register(listener)
    try {
      sentinel("tables_spec_start", started)
      body
      sentinel("tables_spec_end", ended)
      commands.get
    } finally session.listenerManager.unregister(listener)
  }

  private def rawView(session: SparkSession, name: String) =
    session.sessionState.catalog.getRawTempView(name)

  private def writeNation(path: String, keys: Seq[Long]): Unit =
    keys.toDF("n_nationkey").write.mode("overwrite").parquet(path)

  private def nationKeys(session: SparkSession): Seq[Long] =
    session.sql("SELECT n_nationkey FROM nation ORDER BY 1").collect().map(_.getLong(0)).toSeq

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a second read of the same table submits no Spark job") {
    val dir = tempDir("graft_tables_jobs")
    spark.range(5).toDF("n_nationkey").write.parquet(s"$dir/nation.parquet")
    val first = SparkSpec.jobsDuring(Tables.t(spark, dir, "nation"))
    assert(first >= 1, s"the first read should infer the footer schema, ran $first jobs")
    assert(SparkSpec.jobsDuring(Tables.t(spark, dir, "nation")) == 0)
    // the bare read the memo replaces pays inference every time
    assert(SparkSpec.jobsDuring(spark.read.parquet(s"$dir/nation.parquet")) >= 1)
  }

  test("overwriting a table with a different schema re-infers it") {
    val dir = tempDir("graft_tables_rewrite")
    val path = s"$dir/region.parquet"
    Seq((1L, "a")).toDF("r_regionkey", "r_name").write.parquet(path)
    assert(Tables.t(spark, dir, "region").columns.toSeq == Seq("r_regionkey", "r_name"))
    Seq((2.5, 7)).toDF("x", "y").write.mode("overwrite").parquet(path)
    val again = Tables.t(spark, dir, "region")
    assert(again.columns.toSeq == Seq("x", "y"))
    assert(again.as[(Double, Int)].collect().toSeq == Seq((2.5, 7)))
  }

  test("flipping nanosAsLong re-infers events.ts: raw-nanos long when on, rejected when off") {
    // a TIMESTAMP(NANOS) footer, the fixture flavor Spark reads only as
    // raw nanos; Spark's own writer cannot produce one
    val dir = tempDir("graft_tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = 1700000000123456789L
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", nanos))
    finally w.close()

    // Sessions.local declares the conf once for the whole session
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.getAll.get(key).contains("true"))
    assert(Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType == LongType)
    // a session without it fails loudly on the NANOS footer; events()
    // never sets the conf itself
    val bare = spark.newSession()
    bare.conf.unset(key)
    val err = intercept[Exception](Tables.events(bare, dir))
    assert(err.getMessage.contains("PARQUET_TYPE_ILLEGAL"), err.getMessage)
    assert(!bare.conf.getAll.contains(key))
    // with the conf on, the file reads as micros, not a stale entry
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampNTZType)
    assert(ev.selectExpr("unix_micros(cast(ts as timestamp))").as[Long].collect().toSeq ==
      Seq(nanos / 1000))
  }

  test("two reads of one table self-join unambiguously, as the uncached read does") {
    def pairs(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") < b("n_nationkey"))
        .select(a("n_nationkey"), b("n_nationkey"))
        .as[(Int, Int)].collect().sorted.toSeq
    val path = s"${SparkSpec.sfDir}/nation.parquet"
    val cached = pairs(Tables.t(spark, SparkSpec.sfDir, "nation"),
                       Tables.t(spark, SparkSpec.sfDir, "nation"))
    assert(cached.nonEmpty)
    assert(cached == pairs(spark.read.parquet(path), spark.read.parquet(path)))
  }

  test("a repeat view registration keeps the catalog entry and runs no command") {
    val dir = tempDir("graft_view_repeat")
    writeNation(s"$dir/nation.parquet", Seq(1L, 2L))
    assert(viewCommandsDuring(spark)(Tables.view(spark, dir, "nation")) == 1)
    val entry = rawView(spark, "nation").get
    assert(viewCommandsDuring(spark)(Tables.view(spark, dir, "nation")) == 0)
    assert(rawView(spark, "nation").get eq entry)
    assert(nationKeys(spark) == Seq(1L, 2L))
  }

  test("a rewritten root is registered again and queries see its new rows") {
    val dir = tempDir("graft_view_rewrite")
    val path = s"$dir/nation.parquet"
    writeNation(path, Seq(1L))
    Tables.view(spark, dir, "nation")
    assert(nationKeys(spark) == Seq(1L))
    val before = new java.io.File(path).lastModified
    writeNation(path, Seq(3L, 4L, 5L))
    // a new mtime even on a filesystem with coarse timestamps
    assert(new java.io.File(path).setLastModified(before + 2000))
    assert(viewCommandsDuring(spark)(Tables.view(spark, dir, "nation")) == 1)
    assert(nationKeys(spark) == Seq(3L, 4L, 5L))
  }

  test("a view replaced by a foreign createOrReplaceTempView is registered again") {
    val dir = tempDir("graft_view_foreign")
    writeNation(s"$dir/nation.parquet", Seq(7L))
    Tables.view(spark, dir, "nation")
    Seq(99L).toDF("n_nationkey").createOrReplaceTempView("nation")
    assert(nationKeys(spark) == Seq(99L))
    assert(viewCommandsDuring(spark)(Tables.view(spark, dir, "nation")) == 1)
    assert(nationKeys(spark) == Seq(7L))
    spark.catalog.dropTempView("nation")
    assert(viewCommandsDuring(spark)(Tables.view(spark, dir, "nation")) == 1)
    assert(nationKeys(spark) == Seq(7L))
  }

  test("another dir for the same name is registered again") {
    val a = tempDir("graft_view_dir_a")
    val b = tempDir("graft_view_dir_b")
    writeNation(s"$a/nation.parquet", Seq(1L))
    writeNation(s"$b/nation.parquet", Seq(2L))
    // the same length and mtime, so only the root tells them apart
    val (fa, fb) = (new java.io.File(s"$a/nation.parquet"), new java.io.File(s"$b/nation.parquet"))
    assert(fb.setLastModified(fa.lastModified) && fa.length == fb.length)
    Tables.view(spark, a, "nation")
    assert(viewCommandsDuring(spark)(Tables.view(spark, b, "nation")) == 1)
    assert(nationKeys(spark) == Seq(2L))
    assert(viewCommandsDuring(spark)(Tables.view(spark, a, "nation")) == 1)
    assert(nationKeys(spark) == Seq(1L))
  }

  test("a new session gets its own registration") {
    val dir = tempDir("graft_view_session")
    writeNation(s"$dir/nation.parquet", Seq(4L))
    Tables.view(spark, dir, "nation")
    val other = spark.newSession()
    assert(rawView(other, "nation").isEmpty)
    assert(viewCommandsDuring(other)(Tables.view(other, dir, "nation")) == 1)
    assert(nationKeys(other) == Seq(4L))
    assert(viewCommandsDuring(other)(Tables.view(other, dir, "nation")) == 0)
    assert(viewCommandsDuring(spark)(Tables.view(spark, dir, "nation")) == 0)
  }

  test("reading events in a fresh session leaves a memoised TPC-H footer valid") {
    val fresh = spark.newSession()
    Tables.t(fresh, SparkSpec.sfDir, "nation")
    Tables.events(fresh, SparkSpec.sfDir)
    assert(SparkSpec.jobsDuring(Tables.t(fresh, SparkSpec.sfDir, "nation")) == 0)
  }

  test("building sql_tpch_q21 after sql_tpch_q5 in a fresh session submits no job") {
    // the session declares nanosAsLong up front and no read flips it,
    // so q5's registrations keep their stamps for q21
    val fresh = spark.newSession()
    val q = graft.sql.SqlQueries.queries
    q("sql_tpch_q5")(fresh, SparkSpec.sfDir)
    assert(SparkSpec.jobsDuring(q("sql_tpch_q21")(fresh, SparkSpec.sfDir)) == 0)
  }
}
