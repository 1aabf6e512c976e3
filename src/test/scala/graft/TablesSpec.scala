package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Tables

/** `Tables.parquet`'s footer-schema memo: a repeat read of an
  * unchanged table runs no Spark job, a rewritten file or a flipped
  * inference conf is re-inferred, and every read is still a fresh
  * DataFrame. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session
  import spark.implicits._

  /** Spark jobs submitted from this thread while `body` runs. Job
    * starts reach listeners asynchronously but in order, so a sentinel
    * job run after `body` is seen only once every job before it is. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == "tables-spec-sentinel") sentinelSeen.countDown() else groups.add(g)
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-spec-probe", "probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-spec-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      groups.toArray.count(_ == "tables-spec-probe")
    } finally sc.removeSparkListener(listener)
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a second read of the same table submits no Spark job") {
    val dir = tempDir("graft_tables_jobs")
    spark.range(5).toDF("n_nationkey").write.parquet(s"$dir/nation.parquet")
    val first = jobsDuring(Tables.t(spark, dir, "nation"))
    assert(first >= 1, s"the first read should infer the footer schema, ran $first jobs")
    assert(jobsDuring(Tables.t(spark, dir, "nation")) == 0)
    // the bare read the memo replaces pays inference every time
    assert(jobsDuring(spark.read.parquet(s"$dir/nation.parquet")) >= 1)
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

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType == LongType)
      spark.conf.set(key, "false")
      val err = intercept[Exception](Tables.parquet(spark, s"$dir/events.parquet"))
      assert(err.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
             err.getMessage.contains("TIMESTAMP(NANOS"), err.getMessage)
      // events() sets the conf back on and must not see a stale entry
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampNTZType)
      assert(ev.selectExpr("unix_micros(cast(ts as timestamp))").as[Long].collect().toSeq ==
        Seq(nanos / 1000))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
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
}
