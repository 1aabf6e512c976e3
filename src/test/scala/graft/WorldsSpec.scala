package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.io.Tables
import graft.tools.Worlds

/** The adversarial-world registry: every world is a complete fixture
  * (all ten tables, the source's schemas), the layout world moves no
  * row, and a name the registry does not know is refused before any
  * work. The per-world plants are pinned by their own specs. */
class WorldsSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  private def shape(dir: String, t: String): Seq[(String, String)] =
    spark.read.parquet(s"$dir/$t.parquet").schema
      .map(f => (f.name, f.dataType.simpleString))

  test("every registered world writes all ten tables with the source's column names and types") {
    assert(Tables.names.size == 10)
    val bad = for {
      w <- Worlds.registry.keys.toSeq.sorted
      dir = SparkSpec.world(w)
      t <- Tables.names
      if shape(dir, t) != shape(SparkSpec.sfDir, t)
    } yield s"$w/$t: ${shape(dir, t)}"
    assert(bad.isEmpty, s"worlds whose schema drifted:\n${bad.mkString("\n")}")
  }

  test("the layout world holds its source's row multiset in every table, over 7 files") {
    val dir = SparkSpec.world("layout")
    Tables.names.foreach { t =>
      val src = spark.read.parquet(s"${SparkSpec.sfDir}/$t.parquet")
      val got = spark.read.parquet(s"$dir/$t.parquet")
      assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
        s"layout/$t changed rows")
      val files = new java.io.File(s"$dir/$t.parquet").listFiles()
        .count(_.getName.endsWith(".parquet"))
      // a 5-row table cannot fill 7 files; every table of 100+ rows must
      if (src.count() >= 100) assert(files == 7, s"layout/$t: $files files")
      else assert(files >= 1 && files <= 7, s"layout/$t: $files files")
    }
  }

  test("an unknown world name is rejected before any work starts") {
    val root = Files.createTempDirectory("graft_worlds_unknown")
    root.toFile.deleteOnExit()
    val out = root.resolve("out").toString
    val e = intercept[IllegalArgumentException](
      Worlds.write(spark, "nosuch", SparkSpec.sfDir, out))
    assert(e.getMessage.contains("nosuch"))
    intercept[IllegalArgumentException](
      Worlds.main(Array(SparkSpec.sfDir, out, "null", "nosuch")))
    assert(!Files.exists(root.resolve("out")), "work started before the name check")
  }
}
