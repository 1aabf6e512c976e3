package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}

import graft.config.Sessions

/** JVM side of the benchmark. Runs one workload's queries in passes on
  * one submitting thread (a closed loop with one client) and writes every
  * raw measurement to a JSON file; `run.py` turns them into metrics.
  *
  *   Harness <world> <outDir> <seconds> <trace> <name=module,...>
  *
  * Set-up, a first pass that also dumps each result for the oracle
  * (outside the clock), then steady passes for <seconds>; with <trace>
  * 1 half of the steady passes are traced.
  *
  * A query is billed from the call into its pack function to the last
  * row of its ordered result written to [[CountSink]], so construction
  * jobs and planning are inside the bill. The program keys the layouts
  * it writes on its input directory; the caller gives every run a world
  * directory of its own, so each run writes them cold. */
object Harness {
  final case class Span(id: Int, parent: Int, name: String, query: String,
                        startNs: Long, endNs: Long)

  /** Writes the result files; record fields come out in snake_case. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  /** Sessions.local() through the first table read. */
  def openSession(world: String): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Sessions.local()
    spark.read.parquet(s"$world/region.parquet").count()
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spec = args(4).split(',').toSeq.map { kv =>
      val Array(name, module) = kv.split('=')
      (name, module)
    }
    new Harness(args(0), args(1)).run(args(2).toDouble, args(3) == "1", spec)
  }

  /** Regular data files under `root` (markers and checksums excluded)
    * last modified at or after `sinceMs`. */
  def dataFiles(root: File, sinceMs: Long): Int =
    if (!root.exists()) 0
    else if (root.isFile) {
      if (root.getName.matches("[._].*") || root.lastModified() < sinceMs) 0 else 1
    } else Option(root.listFiles()).map(_.map(dataFiles(_, sinceMs)).sum).getOrElse(0)

  def firstLine(e: Throwable): String = e.toString.takeWhile(_ != '\n').take(300)
}

final class Harness(world: String, outDir: String) {
  import Harness._

  private val t0 = System.nanoTime()
  private val (spark, setupS) = openSession(world)
  private val sessionEnd = System.nanoTime()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val rec = new Recorder
  spark.sparkContext.addSparkListener(rec)
  spark.streams.addListener(rec.streams)

  private val spans = mutable.ArrayBuffer(Span(0, -1, "session", "", t0, sessionEnd))
  private var nextSpan = 1

  private def timed[T](name: String, parent: Int, query: String)(f: Int => T): T = {
    val id = nextSpan
    nextSpan += 1
    val s = System.nanoTime()
    try f(id) finally spans += Span(id, parent, name, query, s, System.nanoTime())
  }

  /** Enter span `id` for the jobs this thread submits. */
  private def enter(id: Int): Unit = {
    spark.sparkContext.setLocalProperty(Recorder.SpanProperty, id.toString)
    rec.currentSpan = id
  }

  private def release(): Unit = Sessions.releaseQueryStorage(spark)

  /** The scratch tree the program's ingest and pipeline queries keep
    * under /tmp, keyed on the input directory; the caller removes it. */
  private val ingestScratch =
    new File("/tmp/graft_ingest/" + world.replaceAll("[^A-Za-z0-9.]", "_"))

  /** Runs one query. With `dump` set, its result is also written there
    * as one parquet file for the oracle, in a `verify` span between the
    * delivery and the release that the pass's wall time leaves out. */
  private def query(name: String, module: String,
                    traced: Boolean, dump: Option[String]): Map[String, Any] = {
    val fn = graft.SparkEntry.queries(name)
    var error, dumpError: Option[String] = None
    var rows, pinRdds, pinBytes = -1L
    timed("query", -1, name) { qid =>
      try {
        val df = timed("build", qid, name) { id => enter(id); fn(spark, world) }
        if (traced) {
          val held = spark.sparkContext.getRDDStorageInfo
          pinRdds = held.length
          pinBytes = held.map(r => r.memSize + r.diskSize).sum
        }
        timed("deliver", qid, name) { id =>
          enter(id)
          df.write.format(classOf[CountSink].getName).mode("overwrite").save()
        }
        rows = CountSink.rows
        dump.foreach { path =>
          timed("verify", qid, name) { id =>
            enter(id)
            try df.coalesce(1).write.mode("overwrite").parquet(path)
            catch { case e: Throwable => dumpError = Some(firstLine(e)) }
          }
        }
      } catch {
        case e: Throwable => error = Some(firstLine(e))
      }
      timed("release", qid, name) { id => enter(id); release() }
      enter(-1)
    }
    Map("name" -> name, "module" -> module, "error" -> error,
      "verify_error" -> dumpError, "rows" -> rows,
      "pin_rdds" -> pinRdds, "pin_bytes" -> pinBytes)
  }

  private def pass(kind: String, traced: Boolean,
                   specs: Seq[(String, String)]): Map[String, Any] = {
    rec.tracing = traced
    // whole seconds: some file systems keep modification times no finer
    val startMs = System.currentTimeMillis() / 1000 * 1000
    val (jobFrom, planFrom, batchFrom) =
      rec.synchronized((rec.jobs.size, rec.plans.size, rec.batches.size))
    val spanFrom = spans.size
    val qs = specs.map { case (n, m) =>
      query(n, m, traced, if (kind == "first") Some(s"$outDir/verify/$n") else None)
    }
    val mine = spans.drop(spanFrom)
    def total(name: String) = mine.filter(_.name == name).map(s => s.endNs - s.startNs).sum
    val wall = (total("query") - total("verify")) / 1e9
    PerfbenchAccess.drain(spark.sparkContext)
    rec.tracing = false
    rec.synchronized {
      Map("kind" -> kind, "traced" -> traced, "wall_s" -> wall,
        "files_written" -> dataFiles(ingestScratch, startMs), "queries" -> qs,
        "spans" -> mine, "jobs" -> rec.jobs.drop(jobFrom).toSeq,
        "plans" -> rec.plans.drop(planFrom).toSeq,
        "batches" -> rec.batches.drop(batchFrom).toSeq)
    }
  }

  def run(seconds: Double, trace: Boolean, specs: Seq[(String, String)]): Unit = {
    val out = mutable.ArrayBuffer(pass("first", traced = false, specs))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => specs.exists(_._1 == k) }
    Files.createDirectories(Paths.get(s"$outDir/verify"))
    mapper.writeValue(new File(s"$outDir/verify/oracle_sql.json"), oracle)
    // steady passes start until <seconds> have gone by, two at least:
    // the JIT is still warming in the first, so a run on a slow machine
    // must not report it alone. Traced runs go untraced, traced, traced,
    // untraced, so what is left of the warm-up trend weighs on both
    // kinds alike.
    val order = if (trace) Seq(false, true, true, false) else Seq(false, false)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (k < order.size || System.nanoTime() < deadline) {
      out += pass("steady", order(k % order.size), specs)
      k += 1
    }
    mapper.writeValue(new File(s"$outDir/result.json"), Map("setup_s" -> setupS,
      "cores" -> spark.sparkContext.defaultParallelism,
      "epoch_offset_ns" -> epochOffsetNs,
      "session_span" -> spans.head,
      "passes" -> out))
    // the caller deletes every directory the session used, so there is
    // nothing for an orderly stop to flush
    Runtime.getRuntime.halt(0)
  }
}
