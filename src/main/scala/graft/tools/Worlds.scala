package graft.tools

import graft.config.Sessions
import graft.io.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The adversarial-world registry (dev tool, not part of the query
  * surface): every world is a per-table plant over a driver-generated
  * sf world, and one loop reads each fixture table, applies the plant
  * and writes the result. The plants and their reasons live in the
  * world objects ([[NullWorld]], [[EmptyWorld]], [[UnicodeWorld]],
  * [[NonFiniteWorld]], [[TieWorld]], [[NumericsWorld]], [[OrphanWorld]],
  * [[SkewWorld]], [[LayoutWorld]]).
  *
  * The main writes each named world to `<outRoot>/<world>` and dumps it
  * with `Verify` into `<outRoot>/<world>.out`, all in one session, for
  * `tools/check.py --unordered` (the oracle worlds) or
  * `tools/layout_check.py` (`layout`) to judge.
  *
  * Usage: runMain graft.tools.Worlds <srcSfDir> <outRoot> <world>...
  */
object Worlds {

  /** A plant: (table name, source table) => the world's table. */
  type Plant = (String, DataFrame) => DataFrame
  /** A world: (session, source sf dir) => its plant. */
  type World = (SparkSession, String) => Plant

  /** The shared row selector: pmod(xxhash64(cols...), oneIn) == 0 —
    * pure column arithmetic, the same rows on every run and engine. */
  def planted(oneIn: Int)(cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(oneIn)) === 0

  private def pure(p: Plant): World = (_, _) => p

  val registry: Map[String, World] = Map(
    "null"      -> pure(NullWorld.plant),
    "empty"     -> pure(EmptyWorld.emptying(Tables.names.toSet)),
    "facts"     -> pure(EmptyWorld.emptying(EmptyWorld.factTables)),
    "unicode"   -> pure(UnicodeWorld.plant),
    "nonfinite" -> pure(NonFiniteWorld.plant),
    "tie"       -> pure(TieWorld.plant),
    "numerics"  -> pure(NumericsWorld.plant),
    "orphan"    -> pure(OrphanWorld.plant),
    "skew"      -> SkewWorld.plant,
    "layout"    -> pure(LayoutWorld.plant))

  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown world(s): ${unknown.mkString(", ")}" +
      s" (known: ${registry.keys.toSeq.sorted.mkString(", ")})")
  }

  /** Write world `name` over the fixture at `src` under `dst`. */
  def write(spark: SparkSession, name: String, src: String,
            dst: String): Unit = {
    requireKnown(Seq(name))
    val plant = registry(name)(spark, src)
    Tables.names.foreach { t =>
      plant(t, spark.read.parquet(s"$src/$t.parquet"))
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length > 2,
      "usage: graft.tools.Worlds <srcSfDir> <outRoot> <world>...")
    val (src, out, names) = (args(0), args(1), args.toSeq.drop(2))
    requireKnown(names)
    val spark = Sessions.local()
    names.foreach { w =>
      write(spark, w, src, s"$out/$w")
      graft.Verify.dump(spark, s"$out/$w", s"$out/$w.out")
      Sessions.releaseQueryStorage(spark)
    }
    spark.stop()
  }
}
