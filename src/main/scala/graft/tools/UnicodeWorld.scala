package graft.tools

import graft.tools.Worlds.planted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pathological-text fixture generator (dev tool, not part of the
  * query surface): copies a driver-generated sf world with planted
  * Unicode and degenerate-shape text — the payloads a 100 TB web
  * crawl actually contains and the clean fixture's ASCII-ish prose
  * never exercises. The text family (tokenizers, shingles, regex
  * scrubbers, quality ratios, fingerprints) and the oracle twins were
  * co-written against clean text; this world checks the agreed
  * formulas still agree where the input is hostile:
  *
  *  - **emoji / ZWJ sequences** — multi-code-point grapheme clusters
  *    (family emoji = 7 code points) stress anything that equates
  *    "character" with code point differently across engines.
  *  - **CJK without spaces** — a whitespace tokenizer sees ONE long
  *    token; n-char shingles vs n-word shingles diverge maximally.
  *  - **combining marks + case-folding traps** — precomposed é vs
  *    e+U+0301 must NOT be conflated by byte-level dedup (both engines
  *    hash bytes), and İ/ı/ß probe lower()'s simple-vs-special casing.
  *  - **RTL + bidi controls** — Arabic/Hebrew plus an explicit
  *    U+202E RIGHT-TO-LEFT OVERRIDE embedded mid-string.
  *  - **zero-width characters** — ZWSP/ZWNJ/ZWJ/BOM inside words:
  *    visually identical, byte-distinct; regex \\s must not eat them.
  *  - **one unbroken 4096-char token** (REPLACES the text) — no
  *    whitespace at all: word tokenizers yield 1 token, word-3-gram
  *    generators yield 0 shingles, prefix blocks collapse.
  *  - **empty string** (REPLACES) — distinct from NULL (the null
  *    world owns that axis); length 0, zero tokens.
  *  - **whitespace-only** (REPLACES) — tokenizers must yield 0 tokens,
  *    not one empty token; trim/split empty-element semantics differ
  *    between engines more than any other string op.
  *
  * A slice of `source` (a GROUP KEY) is rewritten to a non-ASCII
  * value with an emoji and an em-dash, so grouping/sorting/joining on
  * a key column carries multi-byte UTF-8 through every shuffle, and a
  * slice of `lang` gets a non-ASCII label. Ids and keys stay ASCII.
  *
  * All plants are pure column arithmetic on xxhash64(doc_id) — the
  * same rows on every run — and the planted literals are WRITTEN into
  * the world's parquet, which both engines then read: unlike the skew
  * world's df-cap there is no formula to mirror, the differential is
  * pure (same bytes in, compare answers out).
  *
  * Shared by UnicodeInputSpec (targeted text-family pins on a tiny
  * world) and the unicode-world oracle differential in
  * `tools/gate.sh --worlds`. Written as world `unicode` by [[Worlds]].
  */
object UnicodeWorld {

  /** Appended payloads, chosen per doc by hash residue. Leading space
    * separates the payload from the original text's last word. */
  val appendix: Seq[String] = Seq(
    // 0: emoji, ZWJ family (7 code points), skin-tone modifier, flags
    " emoji probe 😀 👩‍👩‍👧‍👦 👍🏽 🇯🇵 rocket🚀launch",
    // 1: CJK + kana + hangul with NO internal spaces
    " 这是一个没有空格的中文句子日本語のテキスト한국어문장",
    // 2: precomposed vs combining pair + Turkish/German case traps
    " café café naïve naïve İstanbul ıssız Straße MASSE",
    // 3: RTL Arabic/Hebrew + an embedded bidi override control
    " مرحبا بالعالم שלום עולם mixed\u202Eoverride\u202C end",
    // 4: zero-width chars INSIDE words + BOM + NBSP between words
    " zero​width‌in‍side﻿word before nbsp after",
    // 5: decimal/quote lookalikes: full-width digits, curly quotes
    " ０１２３ “curly” ‘quotes’ 3½ 2²")

  /** One 4096-char token with no whitespace anywhere (variant 6). */
  val longToken: String = "a" * 4096

  /** Whitespace-only text: spaces, tab, newline, CR (variant 8). */
  val whitespaceOnly: String = "  \t\n\r "

  /** Non-ASCII value planted into the `source` group key. */
  val unicodeSource: String = "wêb—crawl🌐"

  def plant(t: String, df: DataFrame): DataFrame = t match {
    case "documents" =>
      // 3 in 8 docs modified: variants 0-5 append (text stays
      // mostly realistic), 6-8 REPLACE with degenerate shapes.
      val v = pmod(xxhash64(col("doc_id"), lit(42)), lit(24))
      val appended = appendix.zipWithIndex.foldLeft(
        when(v === 6, lit(longToken))
          .when(v === 7, lit(""))
          .when(v === 8, lit(whitespaceOnly))) {
        case (acc, (payload, i)) =>
          acc.when(v === i, concat(col("text"), lit(payload)))
      }
      df.withColumn("text", coalesce(appended, col("text")))
        .withColumn("source",
          when(planted(16)(col("doc_id"), lit(7)), lit(unicodeSource))
            .otherwise(col("source")))
        .withColumn("lang",
          when(planted(16)(col("doc_id"), lit(9)), lit("中文"))
            .otherwise(col("lang")))
    // orphan plant folded into this axis too (round 15) — the
    // saturated base fixture otherwise keeps join_anti /
    // sql_tpch_q22 vacuous in every world but the dedicated one
    case "customer" => OrphanWorld.plantInto(df)
    case _ => df
  }
}
