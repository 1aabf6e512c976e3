package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the SkewWorld fixture generator's join-key plants (round 13):
  * the adversarial worlds are only as good as their invariants, and a
  * silently broken plant (hot key missing from the dimension, or a
  * fraction that drifts from ~20%) would turn the skew differential
  * and the SkewProbe measurements into tests of nothing.
  */
class SkewWorldSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  private lazy val dir: String = SparkSpec.world("skew")

  private def top(table: String, key: String): (Long, Long, Long) = {
    val df = spark.read.parquet(s"$dir/$table.parquet")
    val total = df.count()
    val hot = df.groupBy(col(key)).count().orderBy(desc("count")).head()
    (hot.getLong(0), hot.getLong(1), total)
  }

  test("hot l_orderkey holds ~20% of lineitem rows and stays FK-valid") {
    val (hotKey, hotRows, total) = top("lineitem", "l_orderkey")
    val frac = hotRows.toDouble / total
    assert(frac > 0.15 && frac < 0.25, s"hot orderkey fraction $frac")
    // FK validity: EVERY lineitem orderkey (hot included) exists in orders
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val orphans = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey")).distinct()
      .join(orders, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count()
    assert(orphans == 0, s"$orphans lineitem orderkeys missing from orders")
    assert(orders.where(col("o_orderkey") === hotKey).count() == 1)
  }

  test("hot o_custkey holds ~20% of orders and stays FK-valid") {
    val (hotKey, hotRows, total) = top("orders", "o_custkey")
    val frac = hotRows.toDouble / total
    assert(frac > 0.15 && frac < 0.25, s"hot custkey fraction $frac")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val orphans = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey")).distinct()
      .join(customer, col("o_custkey") === col("c_custkey"), "left_anti")
      .count()
    assert(orphans == 0, s"$orphans order custkeys missing from customer")
    assert(customer.where(col("c_custkey") === hotKey).count() == 1)
  }

  test("hotBasketCap excludes a degenerate basket from co-purchase pair generation") {
    // the OOM this cap exists for: the skew world's hot orderkey makes
    // the per-order pair expansion C(1.2M, 2) at sf1.0. A basket one
    // past the cap, built from FRESH part ids, must contribute nothing
    // to the component census; a small fresh basket (under the cap)
    // must contribute exactly its one component — so the filter drops
    // the degenerate basket and only it.
    val root = java.nio.file.Files.createTempDirectory("graft_basketcap")
    val li = spark.read.parquet(s"${SparkSpec.sfDir}/lineitem.parquet")
    val giant = li.limit(graft.ops.Joins.hotBasketCap + 1)
      .withColumn("l_orderkey", lit(900000000L))
      .withColumn("l_partkey", lit(10000000L) + monotonically_increasing_id())
    val small = li.limit(3)
      .withColumn("l_orderkey", lit(900000001L))
      .withColumn("l_partkey", lit(20000000L) + monotonically_increasing_id())
    li.unionByName(giant).unionByName(small)
      .write.parquet(s"$root/lineitem.parquet")
    def census(d: String): Map[Long, Long] =
      graft.ops.Joins.graphCc(spark, d).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = census(SparkSpec.sfDir)
    val planted = census(root.toString)
    // the giant basket vanished; the small one is one 3-member component
    val want = base.updated(3L, base.getOrElse(3L, 0L) + 1L)
    assert(planted == want,
      s"census with planted baskets $planted != base+small $want")
  }

  test("the lineitem plant is surgical: only l_orderkey moves, only on selected rows") {
    // non-selected rows keep every column (the dst-side selector can't
    // be recomputed — the plant changed the hashed key — so the checks
    // avoid it: src-side selection + key-blind multiset equality)
    val src = spark.read.parquet(s"${SparkSpec.sfDir}/lineitem.parquet")
    val dst = spark.read.parquet(s"$dir/lineitem.parquet")
    val srcKept = src.where(
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(5)) =!= 0)
    assert(srcKept.exceptAll(dst).count() == 0,
      "a non-selected source row was altered")
    assert(dst.count() == src.count(), "row count changed")
    // every column EXCEPT the planted key is multiset-identical
    val s2 = src.drop("l_orderkey")
    val d2 = dst.drop("l_orderkey")
    assert(s2.exceptAll(d2).count() == 0 && d2.exceptAll(s2).count() == 0,
      "a column other than l_orderkey was perturbed")
  }
}
