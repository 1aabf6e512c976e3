package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pathological-text contracts, pinned where the DuckDB differential
  * can't reach (`sbt test` must catch a regression without the gate's
  * unicode world run — the differential itself lives in
  * `tools/gate.sh --worlds` on `graft.tools.UnicodeWorld`):
  *
  *  - the at-risk query families COMPLETE on a unicode-planted world
  *    (astral chars, CJK, combining marks, bidi controls, zero-width
  *    chars, a 4096-char unbroken token, empty and whitespace-only
  *    docs — none of which the ASCII fixtures exercise);
  *  - udf_scalar's polynomial hash folds Unicode CODE POINTS (an
  *    astral char contributes its one code-point value, not two
  *    surrogate values — the round-13 unicode-world catch);
  *  - the line-oriented text sink folds embedded \n/\r so one doc is
  *    always one read-back line (chars preserved 1:1).
  */
class UnicodeInputSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session

  /** Tiny world with the pathological plants — injection lives in
    * graft.tools.UnicodeWorld (shared with the unicode-world oracle
    * differential; see its scaladoc for the payload design). */
  private lazy val uniDir: String = SparkSpec.world("unicode")

  /** One-doc world for exact-value pins (full documents schema). */
  private def oneDocWorld(text: String): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_onedoc").toString
    Seq((0L, text, "en", "web", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text/dedup/multimodal/ingest/url families complete on the unicode world") {
    // the families whose formulas touch text bytes/chars/tokens — the
    // other queries never read the planted columns
    val atRisk = SparkEntry.queries.keySet.filter { n =>
      n.startsWith("text_") || n.startsWith("dedup_") ||
      n.startsWith("multimodal_") || n.startsWith("pipeline_curate") ||
      Set("doc_fingerprint", "token_count", "lang_id", "ingest_text",
          "fn_url", "udf_scalar", "text_pack", "sample_group_k").contains(n)
    }
    assert(atRisk.size >= 40, s"at-risk family shrank unexpectedly: ${atRisk.size}")
    val failures = atRisk.toSeq.sorted.flatMap { name =>
      try { SparkEntry.queries(name)(spark, uniDir).collect(); None }
      catch { case e: Exception =>
        Some(s"$name: ${e.getClass.getSimpleName}: " +
             s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty, s"${failures.size} queries failed:\n${failures.mkString("\n")}")
  }

  test("udf_scalar hashes Unicode code points, not UTF-16 units") {
    // "a😀b": U+0061, U+1F600 (astral: TWO UTF-16 units), U+0062.
    // Expected = ((0*31+0x61)*31+0x1F600)*31+0x62 mod 1e9+7 — a
    // charAt-based fold would instead contribute the two surrogates
    // 0xD83D, 0xDE00 and land elsewhere.
    val M = 1000000007L
    val expected = (((0x61L * 31 + 0x1F600L) % M) * 31 + 0x62L) % M
    val dir = oneDocWorld("a" + new String(Character.toChars(0x1F600)) + "b")
    val row = graft.ops.Udfs.queries("udf_scalar")(spark, dir).head()
    assert(row.getLong(1) == expected, "h_col (Column-side UDF)")
    assert(row.getLong(2) == expected, "h_sql (SQL-registered UDF)")
  }

  test("text sink folds embedded line breaks: one doc is one line, chars 1:1") {
    val dir = oneDocWorld("x\ny\rz")
    val row = graft.io.Ingest.queries("ingest_text")(spark, dir).head()
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    assert(row.getLong(byName("n_lines")) == 1L,
      "embedded \\n/\\r must not multiply the corpus on read-back")
    assert(row.getLong(byName("chars_total")) == 5L,
      "the fold is 1:1 (each break char becomes one space)")
    assert(row.getLong(byName("tok_total")) == 3L,
      "folded breaks separate tokens: 'x y z'")
  }
}
