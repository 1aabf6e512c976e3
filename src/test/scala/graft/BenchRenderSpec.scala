package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The driver captures only the tail of Bench's output (observed
  * window: 2000 chars, partly consumed by sbt's `[success]` line), so
  * the stdout JSON line must stay under Bench.StdoutBudget no matter
  * how large the inventory grows — rounds 1-3 all shipped an
  * unparseable BENCH_r{N}.json because the full query map overflowed
  * the window. The full map goes to the durable file instead. */
class BenchRenderSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def fake(n: Int): Seq[(String, Double, Option[String])] =
    (0 until n).map(i => (f"some_quite_long_query_name_$i%03d", i * 0.137 + 0.2, None))

  test("stdout line fits the driver tail window even at 300 queries") {
    for (n <- Seq(1, 50, 113, 300)) {
      val (line, _) = Bench.render(fake(n), "/root/testdata/sf0.1", "/root/repo/BENCH_FULL.json")
      assert(line.length <= Bench.StdoutBudget, s"n=$n line=${line.length}")
      assert(!line.contains('\n'))
    }
  }

  test("stdout line is valid JSON carrying total/value/unit and the slowest queries") {
    val rs = fake(200)
    val (line, full) = Bench.render(rs, "/sf", "/root/repo/BENCH_FULL.json")
    val j = mapper.readTree(line)
    assert(j.get("metric").asText() == "total")
    assert(j.get("unit").asText() == "sec")
    assert(math.abs(j.get("value").asDouble() - rs.map(_._2).sum) < 1e-6)
    assert(j.get("n_queries").asInt() == 200)
    val kept = j.get("queries")
    assert(kept.size() + j.get("queries_omitted").asInt() == 200)
    // greedy slowest-first: everything kept must be >= everything omitted
    val keptNames = kept.fieldNames()
    var minKept = Double.MaxValue
    while (keptNames.hasNext) {
      val n = keptNames.next(); minKept = math.min(minKept, kept.get(n).asDouble())
    }
    val omitted = rs.filterNot(r => kept.has(r._1))
    assert(omitted.forall(_._2 <= minKept + 1e-9))
    // full file carries every query
    val fj = mapper.readTree(full)
    assert(fj.get("queries").size() == 200)
    assert(fj.get("queries_omitted").asInt() == 0)
  }

  test("contention flag: >=5 consecutive 2x-breaches flag the run; scattered breaches don't") {
    val rs = fake(20)
    val ref = rs.map { case (n, t, _) => n -> t }.toMap
    // clean run vs itself: no streak
    assert(Bench.contentionStreak(rs, ref) == 0)
    val (cleanLine, _) = Bench.render(rs, "/sf", "/f", ref)
    assert(mapper.readTree(cleanLine).get("contention_suspect").asBoolean() == false)
    // a contiguous 6-query contention window at 3x
    val contended = rs.zipWithIndex.map { case ((n, t, e), i) =>
      if (i >= 7 && i < 13) (n, t * 3, e) else (n, t, e)
    }
    assert(Bench.contentionStreak(contended, ref) == 6)
    val (line, full) = Bench.render(contended, "/sf", "/f", ref)
    val j = mapper.readTree(line)
    assert(j.get("contention_suspect").asBoolean() == true)
    assert(j.get("contention_streak").asInt() == 6)
    assert(mapper.readTree(full).get("contention_suspect").asBoolean() == true)
    // scattered breaches (every 3rd query): real regressions, not host noise
    val scattered = rs.zipWithIndex.map { case ((n, t, e), i) =>
      if (i % 3 == 0) (n, t * 3, e) else (n, t, e)
    }
    assert(Bench.contentionStreak(scattered, ref) < Bench.ContentionStreak)
    // sub-threshold reference rows neither count nor break a streak
    val tinyRef = ref.map { case (k, _) => k -> 0.01 }
    assert(Bench.contentionStreak(contended, tinyRef) == 0)
    // new queries with no reference row are skipped without resetting
    val sparseRef = ref.filterNot { case (k, _) => k.endsWith("0") }
    assert(Bench.contentionStreak(contended, sparseRef) >= 4)
  }

  test("over_ref annotates each 2x-breach with its ratio; stdout caps at 5, full keeps all") {
    val rs = fake(20)
    val ref = rs.map { case (n, t, _) => n -> t }.toMap
    // 8 scattered breaches at varying ratios — below the streak flag,
    // but every one must be annotated per-query
    val breached = rs.zipWithIndex.map { case ((n, t, e), i) =>
      if (i % 2 == 0 && i < 16) (n, t * (2.5 + i * 0.1), e) else (n, t, e)
    }
    val (line, full) = Bench.render(breached, "/sf", "/f", ref)
    val fj = mapper.readTree(full)
    assert(fj.get("contention_suspect").asBoolean() == false)
    assert(fj.get("n_over_ref").asInt() == 8)
    assert(fj.get("over_ref").size() == 8)
    breached.zipWithIndex.foreach { case ((n, t, _), i) =>
      if (i % 2 == 0 && i < 16) {
        val ratio = fj.get("over_ref").get(n).asDouble()
        assert(math.abs(ratio - t / ref(n)) < 5e-3, s"$n: $ratio")
      } else assert(fj.get("over_ref").get(n) == null, s"$n should not be flagged")
    }
    val lj = mapper.readTree(line)
    assert(lj.get("n_over_ref").asInt() == 8)
    assert(lj.get("over_ref").size() == 5, "stdout breach list must cap at 5")
    // the stdout cap keeps the WORST breaches
    val worst = breached.collect { case (n, t, _) if ref(n) > 0 && t / ref(n) > 2.0 => (n, t / ref(n)) }
      .sortBy(-_._2).take(5).map(_._1).toSet
    val stdoutNames = lj.get("over_ref").fieldNames()
    while (stdoutNames.hasNext) assert(worst.contains(stdoutNames.next()))
    // no reference → no annotation, and the line stays inside budget
    val (noRefLine, noRefFull) = Bench.render(breached, "/sf", "/f")
    assert(mapper.readTree(noRefFull).get("n_over_ref").asInt() == 0)
    assert(noRefLine.length <= Bench.StdoutBudget)
  }

  test("recheck adjudicates over_ref flags: cleared vs uncleared, billed value untouched") {
    val rs = fake(20)
    val ref = rs.map { case (n, t, _) => n -> t }.toMap
    // 6 contiguous breaches at 3x; the isolated recheck clears 4 of
    // them (re-run back under 2x) and leaves 2 genuinely regressed
    val breached = rs.zipWithIndex.map { case ((n, t, e), i) =>
      if (i < 6) (n, t * 3, e) else (n, t, e)
    }
    val recheck = breached.take(6).zipWithIndex.map { case ((n, _, _), i) =>
      n -> (if (i < 4) ref(n) * 1.1 else ref(n) * 2.8)
    }.toMap
    val (line, full) = Bench.render(breached, "/sf", "/f", ref, recheck)
    val fj = mapper.readTree(full)
    assert(fj.get("n_over_ref").asInt() == 6)
    assert(fj.get("n_contention_cleared").asInt() == 4)
    assert(fj.get("recheck").size() == 6)
    breached.take(6).zipWithIndex.foreach { case ((n, t, _), i) =>
      val o = fj.get("recheck").get(n)
      assert(math.abs(o.get("bench").asDouble() - t) < 5e-3, n)
      assert(math.abs(o.get("recheck").asDouble() - recheck(n)) < 5e-3, n)
      assert(o.get("cleared").asBoolean() == (i < 4), n)
    }
    // the recheck adjudicates flags; it never rewrites the bill
    assert(math.abs(fj.get("value").asDouble() - breached.map(_._2).sum) < 1e-6)
    val lj = mapper.readTree(line)
    assert(lj.get("n_contention_cleared").asInt() == 4)
    assert(lj.get("recheck").size() == 3, "stdout recheck caps at 3")
    // the two UNCLEARED entries lead the capped stdout list
    val names = lj.get("recheck").fieldNames()
    val firstTwo = Seq(names.next(), names.next())
    breached.take(6).zipWithIndex.foreach { case ((n, _, _), i) =>
      if (i >= 4) assert(firstTwo.contains(n), s"uncleared $n must lead stdout")
    }
    assert(line.length <= Bench.StdoutBudget)
    // a breach with no recheck row (query erred on re-run) is simply
    // absent from recheck but still counted in over_ref
    val (_, partial) = Bench.render(breached, "/sf", "/f", ref,
      recheck - breached.head._1)
    val pj = mapper.readTree(partial)
    assert(pj.get("n_over_ref").asInt() == 6)
    assert(pj.get("recheck").size() == 5)
  }

  test("parseRefTimes reads the queries map out of a committed BENCH_FULL.json") {
    val rs = fake(12)
    val (_, full) = Bench.render(rs, "/sf", "/f")
    val parsed = Bench.parseRefTimes(full)
    assert(parsed.size == 12)
    rs.foreach { case (n, t, _) =>
      assert(math.abs(parsed(n) - t) < 5e-4, s"$n: ${parsed.get(n)} vs $t") }
    assert(Bench.parseRefTimes("not json").isEmpty)
    assert(Bench.parseRefTimes("""{"queries":{}}""").isEmpty)
  }

  test("errors always survive into the stdout line") {
    val rs = fake(200) :+ (("exploding_query", 0.01, Some("java.lang.RuntimeException: boom \"x\"")))
    val (line, _) = Bench.render(rs, "/sf", "/f")
    val j = mapper.readTree(line)
    assert(j.get("n_err").asInt() == 1)
    assert(j.get("errors").get("exploding_query").asText().contains("boom"))
    assert(line.length <= Bench.StdoutBudget)
  }

  test("every warm_ingest name is a registered query") {
    val unknown = Bench.WarmIngest.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"warm_ingest names no query: $unknown")
  }
}
