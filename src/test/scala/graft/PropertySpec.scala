package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic laws over generated data (SURVEY.md §5.3). Plain
  * ScalaCheck generators driven from a fixed seed (no scalatestplus
  * bridge in the offline cache). */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  private val rowsGen = Gen.listOfN(50,
    Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(-100.0, 100.0)))

  private def samples(n: Int): Seq[List[(Long, Double)]] =
    (1 to n).flatMap { i =>
      rowsGen(Gen.Parameters.default, rng.Seed(42L + i))
    }

  test("filter commutes with projection") {
    import spark.implicits._
    for (data <- samples(5)) {
      val df = data.toDF("k", "v")
      val a = df.filter($"k" > 5).select($"k", ($"v" * 2).as("w"))
      val b = df.select($"k", ($"v" * 2).as("w")).filter($"k" > 5)
      assert(a.collect().map(_.toString).sorted.sameElements(
             b.collect().map(_.toString).sorted))
    }
  }

  test("union count is sum of counts; distinct is idempotent") {
    import spark.implicits._
    for (Seq(x, y) <- samples(6).grouped(2)) {
      val a = x.toDF("k", "v")
      val b = y.toDF("k", "v")
      assert(a.union(b).count() == a.count() + b.count())
      val d = a.dropDuplicates("k")
      assert(d.count() == d.dropDuplicates("k").count())
      assert(d.count() == x.map(_._1).distinct.size)
    }
  }

  test("native vector expressions: algebraic laws on generated arrays") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.{CosineSim, DotProduct, L2Norm}
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-10.0, 10.0))
    val pairs = (1 to 40).flatMap { i =>
      Gen.zip(vecGen, vecGen)(Gen.Parameters.default, rng.Seed(7L + i))
    }
    for ((a, b) <- pairs) {
      val (la, lb) = (Literal.create(a.toArray), Literal.create(b.toArray))
      val dab = DotProduct(la, lb).eval(null).asInstanceOf[Double]
      val dba = DotProduct(lb, la).eval(null).asInstanceOf[Double]
      assert(dab == dba, "dot must be symmetric (bitwise: x*y == y*x per term)")
      val na = L2Norm(la).eval(null).asInstanceOf[Double]
      val nb = L2Norm(lb).eval(null).asInstanceOf[Double]
      assert(na >= 0.0 && nb >= 0.0)
      assert(math.abs(dab) <= na * nb * (1 + 1e-12), "Cauchy-Schwarz")
      val cos = CosineSim(la, lb).eval(null).asInstanceOf[Double]
      assert(cos >= -1.0 - 1e-12 && cos <= 1.0 + 1e-12)
      assert(cos == dab / (na * nb) ||
             math.abs(cos - dab / (na * nb)) < 1e-12)
      val self = CosineSim(la, la).eval(null).asInstanceOf[Double]
      assert(math.abs(self - 1.0) < 1e-12, s"cos(a,a) = $self")
    }
  }

  test("hyperplane buckets are deterministic and seed-sensitive") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.HyperplaneBucket
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-10.0, 10.0))
    val vecs = (1 to 30).flatMap { i =>
      vecGen(Gen.Parameters.default, rng.Seed(99L + i))
    }
    val buckets = vecs.map { v =>
      val l = Literal.create(v.toArray)
      val b1 = HyperplaneBucket(l, 8, 64, 42L).eval(null).asInstanceOf[Long]
      val b2 = HyperplaneBucket(l, 8, 64, 42L).eval(null).asInstanceOf[Long]
      assert(b1 == b2, "same seed => same bucket")
      assert(b1 >= 0L && b1 < 256L, "8 bits => [0, 256)")
      b1
    }
    // different seeds should not produce identical bucketings overall
    val other = vecs.map { v =>
      HyperplaneBucket(Literal.create(v.toArray), 8, 64, 43L)
        .eval(null).asInstanceOf[Long]
    }
    assert(buckets != other, "seed must matter")
  }

  test("row_number is dense within partitions and starts at 1") {
    import spark.implicits._
    for (data <- samples(3) if data.nonEmpty) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"k").orderBy($"v", monotonically_increasing_id())
      val ranks = data.toDF("k", "v")
        .select($"k", row_number().over(w).as("rn"))
        .collect().map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).values
      ranks.foreach { rs =>
        val sorted = rs.map(_._2).toList.sorted
        assert(sorted == (1 to sorted.size).toList)
      }
    }
  }

  test("BandJoinRule: random bands over random data never change the result") {
    import spark.implicits._
    // keys collide often, times dense enough to straddle bucket
    // boundaries, NEGATIVE times included (truncating-division path)
    val rowGen = Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(-50L, 50L))
    val caseGen = Gen.zip(
      Gen.listOfN(60, rowGen), Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 40L))
    for (i <- 1 to 8) {
      val (rows, lo, span) =
        caseGen(Gen.Parameters.default, rng.Seed(1234L + i)).get
      val hi = lo + span
      val data = rows.zipWithIndex.map { case ((k, t), id) => (k, t, id.toLong) }
      val df = data.toDF("k", "t", "id")
      val a = df.select($"k", $"t".as("t_a"), $"id".as("id_a"))
      val b = df.select($"k".as("k2"), $"t".as("t_b"), $"id".as("id_b"))
      val joined = a.join(b, $"k" === $"k2" &&
          $"t_b" - $"t_a" >= lo && $"t_b" - $"t_a" <= hi)
        .select($"id_a", $"id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // the rule must have fired (band + equi key present)
      assert(joined != null)
      val expect = (for {
        (k1, t1, i1) <- data; (k2, t2, i2) <- data
        if k1 == k2 && t2 - t1 >= lo && t2 - t1 <= hi
      } yield (i1, i2)).sorted
      assert(joined == expect,
        s"case $i (lo=$lo hi=$hi): ${joined.length} rows vs ${expect.length}")
    }
  }

  test("connectedComponents equals a union-find reference on random graphs") {
    import spark.implicits._
    val n = 40
    for (i <- 1 to 4) {
      val raw = Gen.listOfN(35,
          Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
        .apply(Gen.Parameters.default, rng.Seed(77L + i)).get
        .filter { case (a, b) => a != b }
      val got = graft.text.TextOps.connectedComponents(
          (0L until n).toDF("v"), raw.toDF("a", "b"),
          maxPasses = 50) // random graphs can be near-paths: diameter ≈ n
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n).groupBy(find).values
        .flatMap { vs => val m = vs.min.toLong; vs.map(_.toLong -> m) }.toMap
      assert(got == expect, s"case $i: $got vs $expect")
    }
  }

  test("connectedComponentsStar equals a union-find reference on random graphs") {
    import spark.implicits._
    val n = 40
    for (i <- 1 to 4) {
      val raw = Gen.listOfN(35,
          Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
        .apply(Gen.Parameters.default, rng.Seed(77L + i)).get
        .filter { case (a, b) => a != b }
      val got = graft.graph.Graph.connectedComponentsStar(
          (0L until n).toDF("v"), raw.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n).groupBy(find).values
        .flatMap { vs => val m = vs.min.toLong; vs.map(_.toLong -> m) }.toMap
      assert(got == expect, s"case $i: $got vs $expect")
    }
  }

  test("star structural convergence: early-exit only on genuine star forests") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
      graft.graph.Graph.connectedComponentsStarTouched(edges.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // (a) already a star forest (unique sources, sources ∩ targets = ∅):
    // the r15 structural test must accept it before any contraction
    // pass and return it verbatim as labels
    assert(run(Seq((2L, 1L), (3L, 1L), (5L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    // (b) near-miss: unique sources but 2 is both a source and a
    // target (a chain) — NOT a fixed point; early exit here would
    // mislabel 3 as component 2
    assert(run(Seq((2L, 1L), (3L, 2L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // (c) duplicate rows over a star-forest shape: condition (1)
    // fails on the dup-bearing input, the contraction dedups, labels
    // unchanged
    assert(run(Seq((2L, 1L), (2L, 1L), (3L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // (d) reversed orientation of (a): canonicalization first, then
    // the structural test
    assert(run(Seq((1L, 2L), (1L, 3L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponentsStarTouched labels self-loop-only vertices as singletons") {
    import spark.implicits._
    // vertex 9's only edge is the self-loop (9,9): it appears in
    // `edges`, so the touched contract includes it — as its own
    // singleton — while the contraction loop itself never sees the
    // self-loop row. Duplicates and reversed orientation ride along.
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 9L), (9L, 9L), (5L, 4L))
      .toDF("a", "b")
    val got = graft.graph.Graph.connectedComponentsStarTouched(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                      4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("connectedComponentsStar handles the long-chain adversary min-label refuses") {
    import spark.implicits._
    // a 200-vertex path has diameter 199: min-label propagation at its
    // default maxPasses=15 must refuse LOUDLY (partial labels are wrong
    // labels), while star contraction halves chains per round and lands
    // well inside its default cap
    val n = 200L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b")
    val verts = (0L until n).toDF("v")
    assertThrows[IllegalArgumentException] {
      graft.text.TextOps.connectedComponents(verts, chain).collect()
    }
    val got = graft.graph.Graph.connectedComponentsStar(verts, chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n)
    assert(got.forall(_._2 == 0L), "every chain vertex joins component 0")
  }

  test("sessionize_batch: sessions partition each user's events at the 30-min gap") {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    val rows = SparkEntry.queries("sessionize_batch")(spark, SparkSpec.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (user, ss) =>
      val sorted = ss.sortBy(_._2)
      // session numbers are 1..k dense
      assert(sorted.map(_._2).toList == (1 to sorted.length).toList, s"user $user")
      sorted.foreach { case (_, _, n, st, en) =>
        assert(en >= st && (n > 1 || en == st), s"user $user: bad span")
      }
      // consecutive sessions are separated by MORE than the gap
      sorted.sliding(2).foreach {
        case Array((_, _, _, _, prevEnd), (_, _, _, nextStart, _)) =>
          assert(nextStart - prevEnd > gapUs,
            s"user $user: sessions closer than the gap")
        case _ =>
      }
    }
    assert(rows.nonEmpty)
  }

  test("pagerank: picorank deficit band, EXACT sequential-reference match, star center first") {
    import spark.implicits._
    val scale = graft.graph.Graph.rankScale
    for (i <- 1 to 2) {
      val raw = Gen.listOfN(60,
          Gen.zip(Gen.chooseNum(0L, 14L), Gen.chooseNum(0L, 14L)))
        .apply(Gen.Parameters.default, rng.Seed(4242L + i)).get
        .collect { case (x, y) if x != y => (math.min(x, y), math.max(x, y)) }
        .distinct
      val got = graft.graph.Graph.pagerank(raw.toDF("a", "b"), 5, 0.85)
        .as[(Long, Long)].collect().toMap
      // sequential fixed-point reference: the SAME integer formula run
      // single-threaded — equality is exact (no ULP band), which is the
      // whole point of picorank arithmetic
      val nbrs = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val n = nbrs.size
      val tele = (150L * scale / 1000L) / n
      var r = nbrs.keys.map(_ -> scale / n).toMap
      for (_ <- 1 to 5) {
        val contrib = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for ((v, ns) <- nbrs; u <- ns) contrib(u) += r(v) / ns.size
        r = nbrs.keys.map(v => v -> (tele + (850L * contrib(v)) / 1000L)).toMap
      }
      assert(got == r, s"case $i: distributed != sequential reference")
      // undirected ⇒ no dangling mass; floor division loses < 1
      // picorank per (edge, teleport, damp) term per pass, so the mass
      // sits in a tight band just below the scale instead of summing
      // to exactly 1 the way the float version did
      val deficit = scale - got.values.sum
      val bound = 5L * (2L * raw.size + 2L * n + 2L) + n
      assert(deficit >= 0, s"case $i: rank mass exceeds scale")
      assert(deficit <= bound, s"case $i: deficit $deficit > bound $bound")
    }
    // planted star: the hub must out-rank every leaf
    val star = (1L to 8L).map(i => (0L, i)).toDF("a", "b")
    val pr = graft.graph.Graph.pagerank(star, 5, 0.85)
      .as[(Long, Long)].collect()
    assert(pr.maxBy(_._2)._1 == 0L, "star center not top-ranked")
    assert(scale - pr.map(_._2).sum <= 5L * (2L * 8 + 2L * 9 + 2L) + 9)
  }

  test("pagerank: partitioned path (forced-tiny broadcast gate) matches the broadcast path") {
    import spark.implicits._
    val raw = Gen.listOfN(90,
        Gen.zip(Gen.chooseNum(0L, 24L), Gen.chooseNum(0L, 24L)))
      .apply(Gen.Parameters.default, rng.Seed(777L)).get
      .collect { case (x, y) if x != y => (math.min(x, y), math.max(x, y)) }
      .distinct
    val edges = raw.toDF("a", "b")
    val viaBroadcast = graft.graph.Graph.pagerank(edges, 5, 0.85)
      .as[(Long, Long)].collect().sortBy(_._1)
    // broadcastMaxVertices = 0 forces the hash-partitioned loop —
    // the 100 TB path, proven equivalent on the same input
    val viaPartitioned = graft.graph.Graph.pagerank(edges, 5, 0.85,
        broadcastMaxVertices = 0L)
      .as[(Long, Long)].collect().sortBy(_._1)
    // Picorank arithmetic makes this EXACT bit-identity: long sums are
    // order-independent, so BHJ vs SMJ row-arrival order cannot move a
    // single picorank. (The float version this replaced was provably
    // 1 ULP apart between the paths — the round-13 motivation for
    // fixed point.)
    assert(viaPartitioned.sameElements(viaBroadcast),
      s"join-strategy paths diverge: " +
        viaBroadcast.zip(viaPartitioned).find { case (x, y) => x != y })
    // and the partitioned path really does drop the broadcast HINT:
    // with auto-broadcast disabled, a leftover hint would still force
    // BroadcastHashJoin (hints override the threshold), so its absence
    // proves the gate removed the hint — Spark's cost-based planner
    // remains free to broadcast when runtime stats say it fits.
    graft.config.Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val partPlan = graft.graph.Graph.pagerank(edges, 2, 0.85,
          broadcastMaxVertices = 0L)
        .queryExecution.executedPlan.toString
      assert(!partPlan.contains("BroadcastHashJoin"),
        "forced-partitioned pagerank still hints a broadcast join")
      val bcastPlan = graft.graph.Graph.pagerank(edges, 2, 0.85)
        .queryExecution.executedPlan.toString
      assert(bcastPlan.contains("BroadcastHashJoin"),
        "broadcast-path hint went missing")
    }
  }

  test("triangle estimator: exact mode equals brute force; sampling is a sub-count") {
    import spark.implicits._
    for (i <- 1 to 3) {
      val raw = Gen.listOfN(80,
          Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
        .apply(Gen.Parameters.default, rng.Seed(313L + i)).get
        .collect { case (x, y) if x != y => (math.min(x, y), math.max(x, y)) }
        .distinct
      val edges = raw.toDF("a", "b")
      def run(cap: String, inv: Long) =
        graft.graph.Graph.triangleEstimate(edges, cap, inv)
          .collect().head
      // exact mode ("g" > every hex digit keeps all edges, invP3 = 1)
      val ex = run("g", 1L)
      val es = raw.toSet
      val brute = (for {
        (a, b) <- raw; (c, d) <- raw
        if c == a && d > b && es.contains((b, d))
      } yield 1).size
      assert(ex.getLong(2) == brute && ex.getLong(3) == brute,
        s"case $i: exact ${ex.getLong(2)} vs brute $brute")
      assert(ex.getLong(1) == raw.size)
      // sampled mode: a deterministic sub-count of the exact triangles
      val sm = run("40", 64L)
      assert(sm.getLong(1) <= raw.size && sm.getLong(2) <= brute)
      assert(sm.getLong(3) == sm.getLong(2) * 64L)
      assert(run("40", 64L).getLong(2) == sm.getLong(2), "coin must be deterministic")
    }
  }

  test("bucketed interval-overlap join equals the all-pairs reference") {
    import spark.implicits._
    // variable-length intervals, dense enough that many straddle
    // bucket boundaries; B must be >= max length for the <=2-bucket
    // explosion joinInterval relies on
    val B = 15L
    val ivGen = Gen.listOfN(50,
      Gen.zip(Gen.chooseNum(0L, 120L), Gen.chooseNum(1L, 14L)))
    for (i <- 1 to 6) {
      val rows = ivGen(Gen.Parameters.default, rng.Seed(555L + i)).get
        .zipWithIndex.map { case ((st, len), id) => (id.toLong, st, st + len) }
      val df = rows.toDF("k", "st", "en")
      def side(kc: String, sc: String, ec: String) = df
        .withColumn("bkt", explode(array_distinct(array(
          expr(s"st div $B"), expr(s"(en - 1) div $B")))))
        .select(col("k").as(kc), col("st").as(sc), col("en").as(ec), col("bkt"))
      val got = side("key_a", "s_a", "e_a")
        .join(side("key_b", "s_b", "e_b"), Seq("bkt"))
        .where($"s_a" < $"e_b" && $"s_b" < $"e_a" && $"key_a" < $"key_b" &&
               $"bkt" === expr(s"greatest(s_a, s_b) div $B"))
        .select($"key_a", $"key_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val expect = (for {
        (k1, s1, e1) <- rows; (k2, s2, e2) <- rows
        if k1 < k2 && s1 < e2 && s2 < e1
      } yield (k1, k2)).sorted
      assert(got == expect,
        s"case $i: ${got.length} pairs vs ${expect.length} expected")
      // the attribution conjunct must also dedup exactly (no pair twice)
      assert(got.distinct == got, s"case $i: duplicate pairs emitted")
    }
  }

  test("differential: recursive-CTE reachability closure == both CC implementations") {
    import spark.implicits._
    import graft.graph.Graph
    // planted graph: two chains, a triangle, a singleton — diameter <= 3
    val edges = Seq((2L, 1L), (3L, 2L), (11L, 10L), (12L, 11L),
        (21L, 20L), (22L, 21L), (22L, 20L), (31L, 30L))
      .toDF("a", "b")
    val verts = edges.select($"a".as("v"))
      .union(edges.select($"b".as("v")))
      .union(Seq(99L).toDF("v")).distinct()
    edges.createOrReplaceTempView("diff_edges")
    verts.createOrReplaceTempView("diff_verts")
    // min reachable id per vertex by bounded recursive expansion over
    // the symmetrized edges — a THIRD, independent implementation of
    // the same semantics the two CC operators compute
    val viaCte = spark.sql(
      """WITH RECURSIVE reach(v, w, d) AS (
        |  SELECT v, v, 0 FROM diff_verts
        |  UNION ALL
        |  SELECT r.v, e.y, r.d + 1
        |  FROM reach r
        |  JOIN (SELECT a AS x, b AS y FROM diff_edges
        |        UNION ALL SELECT b, a FROM diff_edges) e
        |    ON r.w = e.x
        |  WHERE r.d < 8)
        |SELECT v, min(w) AS lbl FROM reach GROUP BY v""".stripMargin)
      .as[(Long, Long)].collect().toSet
    val viaMinLabel = Graph.connectedComponents(verts, edges)
      .select($"v", $"lbl").as[(Long, Long)].collect().toSet
    val viaStar = Graph.connectedComponentsStar(verts, edges)
      .select($"v", $"lbl").as[(Long, Long)].collect().toSet
    assert(viaCte == viaMinLabel,
      s"CTE vs min-label: ${viaCte.diff(viaMinLabel)} / ${viaMinLabel.diff(viaCte)}")
    assert(viaCte == viaStar,
      s"CTE vs star: ${viaCte.diff(viaStar)} / ${viaStar.diff(viaCte)}")
    assert(viaCte.contains((99L, 99L)), "singleton must label itself")
  }

  test("winnowing guarantee: every shared >= k+w-1 substring yields a shared fingerprint") {
    // Schleimer et al.'s correctness property, checked directly on the
    // kernel: plant a common substring of length k+w-1 = 11 into pairs
    // of otherwise-random strings; the winnowed sets MUST intersect.
    // (Deterministic seed: the property is exhaustive over these 40
    // planted cases, not sampled anew per run.)
    val rnd = new scala.util.Random(42)
    def randStr(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val k = 8; val w = 4
    for (trial <- 1 to 40) {
      val shared = randStr(k + w - 1)
      val s1 = randStr(rnd.nextInt(30)) + shared + randStr(rnd.nextInt(30))
      val s2 = randStr(rnd.nextInt(30)) + shared + randStr(rnd.nextInt(30))
      def fps(t: String): Set[Long] = {
        val a = graft.functions.WinnowFingerprintsUtil.fingerprints(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), k, w)
        (0 until a.numElements()).map(a.getLong).toSet
      }
      val inter = fps(s1) intersect fps(s2)
      assert(inter.nonEmpty,
        s"trial $trial: shared 11-char substring produced no shared fingerprint")
    }
  }

  test("semdedup verdicts: sound and within-cell complete on random corpora") {
    // The in-cell min-id rule must hold on ANY corpus, not just the
    // fixture: for each generated corpus, every dropped vector has a
    // lower-id same-cell justifier at cos >= tau, every kept vector
    // has none (brute-force recheck in driver doubles). Planted exact
    // DUPLICATES (cos = 1) must always drop — the property dedup
    // exists to enforce.
    import spark.implicits._
    val dim = 8; val tau = 0.6
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-1.0, 1.0))
    for (trial <- 1 to 3) {
      val base = (1 to 60).flatMap { i =>
        vecGen(Gen.Parameters.default, rng.Seed(trial * 1000L + i))
          .map(v => (i.toLong, v.toArray))
      }
      // plant: 101..103 copy vectors 1..3 exactly
      val planted = base ++ (1 to 3).map(i => (100L + i, base(i - 1)._2))
      val df = planted.toDF("vec_id", "emb")
        .withColumn("nrm", sqrt(graft.functions.VecFunctions
          .dotProduct($"emb", $"emb")))
      val v = graft.vec.VectorOps.semdedupVerdicts(df, k = 4, tau = tau)
        .select($"vec_id", $"cell", $"kept", $"justifier").collect()
      assert(v.length == planted.size)
      val vecOf = planted.toMap
      // EXACT recompute of the r15 rule: cosine on the 1e-6 integer
      // grid (semdedupVerdicts' semantics) — deterministic, no epsilon
      def cos(a: Array[Double], b: Array[Double]): Double = {
        def g(x: Double): Long = math.round(x * 1e6)
        var d = 0L; var na = 0L; var nb = 0L; var i = 0
        while (i < a.length) {
          d += g(a(i)) * g(b(i)); na += g(a(i)) * g(a(i))
          nb += g(b(i)) * g(b(i)); i += 1
        }
        d.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      }
      val cellOf = v.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byCell = v.groupBy(_.getLong(1))
      v.foreach { r =>
        val (id, kept) = (r.getLong(0), r.getBoolean(2))
        if (!kept) {
          val j = r.getLong(3)
          assert(j < id && cellOf(j) == cellOf(id))
          assert(cos(vecOf(j), vecOf(id)) >= tau,
            s"trial $trial: unsound drop $id (justifier $j)")
        } else {
          byCell(cellOf(id)).map(_.getLong(0)).filter(_ < id).foreach { o =>
            assert(cos(vecOf(o), vecOf(id)) < tau,
              s"trial $trial: kept $id despite in-cell pair $o")
          }
        }
      }
      // exact planted copies share the cell (same vector, same argmax
      // under the deterministic tie-break) and must drop
      (1 to 3).foreach { i =>
        val r = v.find(_.getLong(0) == 100L + i).get
        assert(!r.getBoolean(2), s"trial $trial: planted copy ${100 + i} survived")
      }
    }
  }

  test("gridLloyd equals an exact-integer Lloyd's reference on random grid corpora") {
    // Plain-Scala replay of the integer construction: seeds ordered by
    // (vec_id mod 100, vec_id), argmin ties to the lower cid, a cell
    // with no members drops out, and each mean re-snaps half away from
    // zero as Spark's round does. The narrow coordinate span forces
    // distance ties and .5 means; the wide one is the 1e-6 grid's range.
    // Trial 4 has one centroid. Trial 5 has 3 distinct points under 6
    // seeds, so duplicate seeds tie, cells empty and the model shrinks
    // below k. Trial 6 plants a point equidistant from seeds 100 and 1,
    // which arrive higher cid first in seed order, and one equidistant
    // from seeds 200 and 201, which arrive lower cid first.
    import spark.implicits._
    val n = 40; val dim = 8; val iters = 3
    def grid(span: Long): Gen[Seq[Long]] = Gen.listOfN(dim, Gen.chooseNum(-span, span))
    def random(trial: Int, point: Gen[Seq[Long]]): Seq[(Long, Seq[Long])] = {
      val ids = Gen.pick(n, 0L until 1000L)
        .apply(Gen.Parameters.default, rng.Seed(500L + trial)).get.toSeq
      ids.zip(Gen.listOfN(n, point)
        .apply(Gen.Parameters.default, rng.Seed(600L + trial)).get)
    }
    val three = Gen.oneOf(Seq(0L, 5L, -5L).map(x => Seq.fill(dim)(x)))
    val ties = Seq(100L -> Seq(-2L, 0L), 1L -> Seq(2L, 0L), 50L -> Seq(0L, 0L),
      200L -> Seq(-2L, 10L), 201L -> Seq(2L, 10L), 60L -> Seq(0L, 10L))
    for ((trial, k, rows) <- Seq((1, 4, random(1, grid(3))), (2, 4, random(2, grid(3))),
        (3, 4, random(3, grid(1000000))), (4, 1, random(4, grid(3))),
        (5, 6, random(5, three)), (6, 4, ties))) {
      val corpus: Map[Long, Seq[Long]] = rows.toMap
      val (fin, cent) = graft.vec.VectorOps.gridLloyd(
        rows.map { case (id, g) => (id, 0, g) }.toDF("vec_id", "label", "g"),
        k, iters)
      val got = fin.select($"vec_id", $"cell", $"d2").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val gotCent = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

      def d2(a: Seq[Long], b: Seq[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      def assign(c: Map[Long, Seq[Long]]): Map[Long, (Long, Long)] =
        corpus.map { case (id, g) =>
          id -> c.iterator.map { case (cid, cg) => (d2(g, cg), cid) }.min }
      val seeds = corpus.keys.toSeq.sortBy(id => (id % 100, id)).take(k)
        .map(id => id -> corpus(id)).toMap
      val expCent = (1 to iters).foldLeft(seeds) { (c, _) =>
        assign(c).groupBy(_._2._2).map { case (cid, members) =>
          cid -> corpus.head._2.indices.map { d =>
            val s = members.keys.toSeq.map(corpus(_)(d)).sum
            BigDecimal(s.toDouble / members.size.toDouble)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          }
        }
      }
      val exp = assign(expCent).map { case (id, (dd, cid)) => id -> (cid, dd) }
      assert(gotCent == expCent, s"trial $trial: centroids")
      assert(got == exp, s"trial $trial: assignments")
      if (trial == 5) assert(gotCent.size < k, "trial 5: no cell emptied")
    }
  }

  test("overlapPairs equals a plain-Scala reference across the df-cap boundary") {
    // Random key sets over two sources, plus three planted keys: one
    // held by exactly cap docs of src0 (kept), one by cap + 1 (dropped)
    // and one held by one src0 doc and one src1 doc (pairs form within a
    // source, so it never pairs). The key column is deliberately not
    // named "key".
    import spark.implicits._
    val cap = graft.text.TextOps.hotShingleCap
    val src0 = (0L until 60L).map(_ -> "src0")
    val src1 = (100L until 130L).map(_ -> "src1")
    for (trial <- 1 to 3) {
      val random = (src0 ++ src1).zipWithIndex.flatMap { case ((id, src), i) =>
        Gen.listOf(Gen.chooseNum(0, 39))
          .apply(Gen.Parameters.default.withSize(6), rng.Seed(700L * trial + i))
          .get.map(r => (id, src, s"r$r"))
      }
      val planted = (0L until cap.toLong).map(id => (id, "src0", "kept")) ++
        (5L until 6L + cap).map(id => (id, "src0", "hot")) ++
        Seq((0L, "src0", "cross"), (100L, "src1", "cross"))
      val rows = (random ++ planted).distinct
      val got = graft.text.TextOps.overlapPairs(rows.toDF("doc_id", "source", "k"))
        .select($"doc_a", $"doc_b", $"inter", $"sz_a", $"sz_b", $"szc_a", $"szc_b")
        .collect().map(r => (0 to 6).map(r.getLong)).toSeq
        .sortBy(r => (r(0), r(1)))

      val df = rows.groupBy(r => (r._2, r._3)).map { case (g, rs) => g -> rs.size }
      val capped = rows.filter(r => df((r._2, r._3)) <= cap)
      val sz = rows.groupBy(_._1).map { case (id, rs) => id -> rs.size.toLong }
      val szc = capped.groupBy(_._1).map { case (id, rs) => id -> rs.size.toLong }
      val expect = capped.groupBy(r => (r._2, r._3)).values
        .flatMap { rs => for (a <- rs; b <- rs if a._1 < b._1) yield (a._1, b._1) }
        .groupBy(identity).toSeq
        .map { case ((a, b), n) => Seq(a, b, n.size.toLong, sz(a), sz(b), szc(a), szc(b)) }
        .sortBy(r => (r(0), r(1)))
      val (missing, extra) = (expect.diff(got), got.diff(expect))
      if (missing.nonEmpty || extra.nonEmpty)
        fail(s"trial $trial: (doc_a, doc_b, inter, sz_a, sz_b, szc_a, szc_b) " +
          s"missing ${missing.take(3)}, extra ${extra.take(3)}")
      assert(got.count(r => r(0) < cap && r(1) < cap) == cap * (cap - 1) / 2,
        s"trial $trial: the key held by exactly cap docs must pair them all")
    }
  }

  test("pairsOf and basketPairs equal Scala combinations and the oracles' self-join, up to the basket cap") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.ops.Joins.{basketPairs, hotBasketCap, pairsOf}
    // pairsOf: sorted distinct arrays of size 0, 1, 2 and up to 40, in
    // combinations(2)'s order
    val arrays = Seq(Seq.empty[Long], Seq(7L), Seq(3L, 9L)) ++ (1 to 20).map { i =>
      Gen.listOfN(2 * i, Gen.choose(0L, 100000L))
        .apply(Gen.Parameters.default, rng.Seed(900L + i)).get.distinct.sorted
    }
    val expanded = arrays.toDF("xs").select(pairsOf($"xs").as("ps"))
    assert(expanded.schema("ps").dataType.simpleString == "array<struct<a:bigint,b:bigint>>")
    val got = expanded.collect().map(_.getSeq[Row](0).map(r => (r.getLong(0), r.getLong(1))))
    assert(arrays.map(_.size).max >= 35)
    arrays.zip(got).foreach { case (xs, g) =>
      assert(g == xs.combinations(2).map(c => (c(0), c(1))).toSeq, s"pairsOf($xs)")
    }

    // basketPairs: the oracles' spelling, a self-join of the deduped,
    // capped (order, keys…, part) rows on l.o = r.o AND l.p < r.p, as
    // a multiset (a pair bought in two baskets is two rows)
    def selfJoin(rows: DataFrame, keys: Seq[String]): DataFrame = {
      val lp = rows.distinct()
      val ok = lp.groupBy("o", keys: _*).count()
        .where($"count" <= hotBasketCap).drop("count")
      val lps = lp.join(ok, "o" +: keys)
      lps.withColumnRenamed("p", "a").join(lps.withColumnRenamed("p", "b"), "o" +: keys)
        .where($"a" < $"b").select((keys :+ "a" :+ "b").map(col): _*)
    }
    def sameMultiset(x: DataFrame, y: DataFrame): Unit = {
      assert(x.columns.toSeq == y.columns.toSeq)
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty)
    }
    val sf = new java.io.File(SparkSpec.sfDir).getParent + "/sf0.01"
    val li = graft.io.Tables.t(spark, sf, "lineitem").select($"l_orderkey", $"l_partkey")
    val pairs = basketPairs(li)
    sameMultiset(pairs,
      selfJoin(li.select($"l_orderkey".as("o"), $"l_partkey".as("p")), Nil))
    assert(pairs.count() > pairs.distinct().count(), "no pair sits in two baskets")
    val brand = graft.io.Tables.t(spark, sf, "part").select($"p_partkey", $"p_brand")
    val lib = li.join(brand, $"l_partkey" === $"p_partkey")
    sameMultiset(basketPairs(lib, $"p_brand".as("brand")),
      selfJoin(lib.select($"l_orderkey".as("o"), $"p_brand".as("brand"),
                          $"l_partkey".as("p")), Seq("brand")))

    // the cap edge: exactly hotBasketCap distinct parts (each listed
    // twice) yields every pair, one part more yields none
    def basket(nParts: Int): DataFrame =
      spark.range(nParts).select(lit(1L).as("l_orderkey"), $"id".as("l_partkey"))
    val cap = hotBasketCap.toLong
    assert(basketPairs(basket(hotBasketCap).union(basket(hotBasketCap))).count()
      == cap * (cap - 1) / 2)
    assert(basketPairs(basket(hotBasketCap + 1)).count() == 0L)
  }
}
