package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.io.Tables.t

/** SURVEY.md §2.10 — corpus-quality metrics and the winnowing dedup
  * tier: the per-document statistics an LLM-data pipeline filters on
  * BEFORE any model-based scoring (Gopher-style repetition fractions,
  * lexical diversity, robust length outliers), plus the
  * winnowing-fingerprint near-dup pairing of Schleimer et al.
  * (SIGMOD'03) that plagiarism/overlap detectors ship.
  *
  * Same engineering contract as [[TextOps]]: codegen'd built-ins and
  * HOFs only (no UDFs), per-doc work map-side, shuffles keyed on
  * high-cardinality values (doc_id, fingerprint, word), every float
  * a single deterministic division of exact integers so the DuckDB
  * differential hash-matches bit-for-bit.
  */
object TextMetrics extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  /** Winnowing near-dup pairs — the MOSS fingerprint scheme: per doc,
    * Karp–Rabin hashes of every 8-char-gram of the normalized text
    * (the [[TextOps.docFingerprint]] kernel, verbatim), then the MIN
    * hash of each window of 4 consecutive grams. Winnowing guarantees
    * any shared substring of length ≥ k+w−1 = 11 chars yields at least
    * one shared fingerprint, at ~2/(w+1) the density of full k-gram
    * sets — the sample-but-never-miss property that makes it the
    * overlap detector of record. Verdict is PROPORTIONAL
    * (shared / min set size ≥ 0.5), not an absolute count: template
    * corpora share boilerplate fingerprints linearly in corpus size,
    * and an absolute threshold drowns in them (measured: 300k pairs
    * at sf0.1 for ≥5-shared vs 15 real near-dups at ≥50%).
    *
    * Scale shape: the whole front end (rolling hash → sliding min →
    * dedupe) is ONE map-side O(L) Generator call per doc
    * ([[graft.functions.WinnowFingerprints]]), so the first wide op
    * already runs on the winnowed sample, not on per-character rows.
    * (Two rejected spellings, both measured: a nested HOF — transform
    * over the hash array — gets inlined by CollapseProject and
    * re-evaluates the O(L) array per window, O(L²) interpreted; the
    * relational explode + sliding-min window burned a corpus-sized
    * doc_id shuffle+sort before sampling.)
    * The candidate join is [[TextOps.overlapPairs]] over the winnowed
    * fingerprints: an equi-join on (source, fp), high-cardinality
    * mod-1e9+7 values, skew bounded by the same df cap as dedup_ngram;
    * set sizes stay exact. */
  def winnowPairs(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val fp = d
      .withColumn("norm", TextOps.normCol)
      .where(length($"norm") >= 11)
      // native winnow_fingerprints Generator
      // (graft.functions.WinnowFingerprints): rolling Karp–Rabin +
      // monotonic-deque sliding min + dedupe in ONE O(L) map-side
      // pass, emitting each doc's distinct winnowed set (differential
      // in KGramHashesSpec)
      .select($"doc_id", $"source",
        graft.functions.TextFunctions.winnowFingerprints($"norm", 8, 4)
          .as("fp"))
    TextOps.overlapPairs(fp)
      .withColumn("winnow_sim",
        $"inter".cast("double") / least($"sz_a", $"sz_b").cast("double"))
      .where($"winnow_sim" >= 0.5)
      .select($"doc_a", $"doc_b", $"inter".as("n_shared"), $"winnow_sim")
      .orderBy($"doc_a", $"doc_b")
  }

  def dedupWinnow(s: SparkSession, dir: String): DataFrame =
    winnowPairs(docs(s, dir))

  /** Gopher-style repetition metrics (Rae et al. 2021 §A1.1): the
    * fraction of a doc's word-2-grams occupied by its most frequent
    * 2-gram and by all duplicated 2-grams — the signal that kills
    * keyword-stuffed / template / degenerate-generation pages.
    * Per-doc counts only: one (doc_id, gram) hash agg with map-side
    * partials, then one doc_id agg; fractions are single divisions of
    * exact longs, so the oracle hash-matches. */
  def repetition(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d
      .where(size(split($"text", " ")) >= 2)
      .select($"doc_id",
        graft.functions.TextFunctions.wordNGrams($"text", 2).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_grams"),
           max($"c").as("top_count"),
           coalesce(sum(when($"c" > 1, $"c")), lit(0L)).as("dupc"))
      .select($"doc_id", $"n_grams", $"top_count",
        ($"top_count".cast("double") / $"n_grams".cast("double")).as("top_frac"),
        ($"dupc".cast("double") / $"n_grams".cast("double")).as("dup_frac"))
      .orderBy($"doc_id")
  }

  def textRepetition(s: SparkSession, dir: String): DataFrame =
    repetition(docs(s, dir))

  /** Robust length-outlier flagging: a doc is an outlier within its
    * source when its length deviates from the source MEDIAN by more
    * than 3× the median absolute deviation — the quality filter that
    * survives skewed length distributions where mean/stddev rules
    * drown (one 100 MB page drags a mean; it cannot drag a median).
    * Two stacked percentile windows SHARE the one source-keyed
    * shuffle; n_chars is integer so median/MAD land on exactly
    * representable halves and the strict > is engine-stable. */
  def outlierMad(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"source")
    d
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("med", expr("percentile(n_chars, 0.5)").over(w))
      .withColumn("dev", abs($"n_chars" - $"med"))
      .withColumn("mad", expr("percentile(dev, 0.5)").over(w))
      .select($"doc_id", $"source", $"n_chars", $"med", $"mad",
              ($"dev" > $"mad" * 3).as("is_outlier"))
      .orderBy($"doc_id")
  }

  def filterOutlierMad(s: SparkSession, dir: String): DataFrame =
    outlierMad(docs(s, dir))

  /** Lexical diversity: tokens, types (distinct words), hapax
    * legomena (words occurring once), type/token ratio and hapax
    * fraction — the cheap vocabulary-richness scores that separate
    * natural prose from boilerplate and tag soup. Two-level hash agg
    * (word then doc), both with map-side partials; ratios are single
    * exact-int divisions. */
  def lexdiv(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
           count(lit(1)).as("n_types"),
           count(when($"c" === 1, 1)).as("n_hapax"))
      .select($"doc_id", $"n_tokens", $"n_types", $"n_hapax",
        ($"n_types".cast("double") / $"n_tokens".cast("double")).as("ttr"),
        ($"n_hapax".cast("double") / $"n_types".cast("double")).as("hapax_frac"))
      .orderBy($"doc_id")
  }

  def textLexdiv(s: SparkSession, dir: String): DataFrame =
    lexdiv(docs(s, dir))

  /** Per-doc word-unigram Shannon entropy, H = ln(n) − Σ c·ln(c) / n
    * nats — the distributional quality proxy that separates natural
    * prose (high H) from degenerate repetition (H → 0) without a
    * model. Same plan family as [[lexdiv]] (two hash aggs, map-side
    * partials). Float discipline: the only transcendental is ln, and
    * the result rounds to 6 decimals on both engines (the text_tfidf
    * precedent) to absorb libm/summation-order last-bit drift. */
  def entropy(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
           sum($"c".cast("double") * log($"c".cast("double"))).as("clnc"))
      .select($"doc_id", $"n_tokens",
        round(log($"n_tokens".cast("double")) -
          $"clnc" / $"n_tokens".cast("double"), 6).as("entropy"))
      .orderBy($"doc_id")
  }

  def textEntropy(s: SparkSession, dir: String): DataFrame =
    entropy(docs(s, dir))

  /** Per-document unigram language-model score — the CCNet-style
    * perplexity proxy pipelines gate on BEFORE any neural scorer is
    * affordable: avg_logprob = (Σ_w c_d(w)·ln C(w))/n_d − ln T, where
    * C(w) is the corpus unigram count and T the corpus token total.
    * Docs made of rare words score low (candidate noise), docs of
    * pure boilerplate score suspiciously high (candidate template) —
    * the two tails a curation funnel trims.
    *
    * Scale shape: one explode feeding two hash aggregates with
    * map-side partials — per-doc counts key on (doc_id, w), the
    * unigram table keys on w and is VOCAB-sized, not corpus-sized,
    * so the scoring join `tok ⋈ vocab` broadcasts the model side at
    * any corpus scale (T is a one-row aggregate, also broadcast).
    * Float discipline: the only order-dependent sum is Σ c·ln C(w)
    * (≤ ~1e-10 absolute error across engines), rounded to 6 decimals
    * like text_entropy's identical-shape sum; everything else is
    * exact integer counts and a final single division. */
  def lmScore(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val tok = d.select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
    val vocab = tok.groupBy($"w").agg(sum($"c").as("cw"))
    val total = vocab.agg(sum($"cw").as("t"))
    tok.join(broadcast(vocab), Seq("w"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
           sum($"c".cast("double") * log($"cw".cast("double"))).as("clncw"))
      .crossJoin(broadcast(total))
      .select($"doc_id", $"n_tokens",
        round($"clncw" / $"n_tokens".cast("double") -
              log($"t".cast("double")), 6).as("avg_logprob"))
      .orderBy($"doc_id")
  }

  def textLmScore(s: SparkSession, dir: String): DataFrame =
    lmScore(docs(s, dir))

  /** Pairwise source-vocabulary overlap — the contamination /
    * mix-design diagnostic: exact Jaccard of the DISTINCT word sets
    * of every source pair (190 pairs for 20 sources). High overlap
    * between a "web" and a "benchmark" source is the signal that
    * triggers the doc-level decontamination pass (text_contamination);
    * near-zero overlap between shards of one crawl flags a language
    * or encoding split worth separate curation.
    *
    * Scale shape: the corpus collapses to DISTINCT (source, word)
    * FIRST (map-side partial distinct), so everything downstream is
    * VOCAB × |S|-sized, never corpus-sized; the pair join keys on the
    * word and a word present in all |S| sources fans out to |S|²
    * pairs — bounded by the config-sized source dimension, not by
    * data volume. Jaccard is ONE division of exact integers, so both
    * engines divide identical numbers (no float-sum order anywhere). */
  def sourceOverlap(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val v = d.select($"source", explode(split($"text", " ")).as("w")).distinct()
    val sizes = v.groupBy($"source").agg(count(lit(1)).as("nv"))
    val a = v.select($"source".as("src_a"), $"w")
    val b = v.select($"source".as("src_b"), $"w")
    a.join(b, Seq("w")).where($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select($"source".as("src_a"), $"nv".as("nv_a"))),
            Seq("src_a"))
      .join(broadcast(sizes.select($"source".as("src_b"), $"nv".as("nv_b"))),
            Seq("src_b"))
      .select($"src_a", $"src_b", $"nv_a", $"nv_b", $"inter",
        round($"inter".cast("double") /
              ($"nv_a" + $"nv_b" - $"inter").cast("double"), 6).as("jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  def textSourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(docs(s, dir))

  /** Per-source Zipf diagnostics: OLS slope and R² of ln(freq) vs
    * ln(rank) over each source's top-100 words — natural language
    * tracks slope ≈ −1 with high R²; generated/templated corpora
    * (like this fixture, slope ≈ −0.3) flunk visibly. Rank ties break
    * on the word itself, so ranking is deterministic in both engines.
    * Scale shape: word counts aggregate map-side; the rank window runs
    * on one row per DISTINCT (source, word) — the model-sized side —
    * and the top-100 cap bounds the regression input per source
    * regardless of vocabulary size. regr_slope/regr_r2 round to 6
    * decimals (text_tfidf float discipline). */
  def zipf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.select($"source", explode(split($"text", " ")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"source").orderBy($"c".desc, $"w")))
      .where($"rnk" <= 100)
      .groupBy($"source")
      .agg(
        round(expr(
          "regr_slope(ln(cast(c as double)), ln(cast(rnk as double)))"), 6)
          .as("zipf_slope"),
        round(expr(
          "regr_r2(ln(cast(c as double)), ln(cast(rnk as double)))"), 6)
          .as("r2"),
        count(lit(1)).as("n_ranks"))
      .orderBy($"source")
  }

  def textZipf(s: SparkSession, dir: String): DataFrame =
    zipf(docs(s, dir))

  /** The curation funnel composed: one keep/drop verdict per doc from
    * the three orthogonal quality signals — repetition (dup_frac >
    * 0.2), lexical diversity (ttr < 0.3), robust length outlier
    * (>3×MAD from the source median) — with per-reason booleans so a
    * pipeline can report WHY the corpus shrank (thresholds trip ~4% of
    * fixture docs, tuned at sf0.01). This is the composition every
    * training-data pipeline runs between ingest and dedup; keeping it
    * a single declared query proves the three aggregation subtrees
    * (gram-level, word-level, source-window) compose in one plan.
    *
    * Scale shape: three independent aggregations over the same scan,
    * each reducing to one row per doc, re-joined on doc_id — each join
    * side is already partitioned by its groupBy/window key, and the
    * doc-keyed joins are co-partitioned after the first shuffle. The
    * threshold constants are doubles compared against exact divisions,
    * identical in both engines. */
  def qualityGate(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val rep = repetition(d).select($"doc_id", $"dup_frac")
    val lex = lexdiv(d).select($"doc_id", $"ttr")
    val mad = outlierMad(d).select($"doc_id", $"is_outlier")
    d.select($"doc_id", $"source")
      .join(rep, Seq("doc_id")).join(lex, Seq("doc_id"))
      .join(mad, Seq("doc_id"))
      .select($"doc_id", $"source",
        ($"dup_frac" > 0.2).as("r_repetition"),
        ($"ttr" < 0.3).as("r_lowdiv"),
        $"is_outlier".as("r_length"))
      .withColumn("keep", !($"r_repetition" || $"r_lowdiv" || $"r_length"))
      .orderBy($"doc_id")
  }

  def textQualityGate(s: SparkSession, dir: String): DataFrame =
    qualityGate(docs(s, dir))

  /** The WHOLE curation funnel, end to end, with a per-source audit —
    * what a training-data team actually reviews before a run: raw →
    * quality gate ([[qualityGate]]) → exact dedup (min-id survivor per
    * normalized text) → near-dup carving (3-gram Jaccard ≥ 0.6 within
    * source, dedup_survivors' loser rule) → docs and chars remaining
    * per source. Every stage reuses the exact semantics of its
    * standalone query, and the DuckDB oracle recomposes all four
    * stages in one CTE chain — so the differential proves the
    * COMPOSITION, not just the parts.
    *
    * Scale shape: stage hand-offs are doc_id joins against model-sized
    * keep-lists (quality verdicts, exact survivors, near losers), each
    * co-partitioned after its first shuffle; the only corpus-sized
    * shuffles are the ones the standalone stages already pay (gram /
    * word aggs, the df-capped shingle self-join). The audit is five
    * one-row-per-source aggregates joined on source. */
  def curateFull(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    // keepQ and exactSurv each feed MULTIPLE census branches below;
    // without the checkpoints the quality gate ran twice and the
    // whole exact-dedup window three times (once per consumer), and
    // the analyzed plan repeated those subtrees per branch — 1185
    // formatted-plan lines for the one query, a measurable slice of
    // its fixed cost (guide §1.4 / §3.3: materialize intermediates to
    // truncate very wide plans). keepQ is doc_id-only (skinny at any
    // scale); exactSurv is the same corpus-sized intermediate the
    // shingle checkpoint of jaccardPairs already pins.
    val keepQ = qualityGate(d).where($"keep").select($"doc_id")
      .localCheckpoint(false)
    val q = d.join(keepQ, Seq("doc_id"))
    val exactSurv = q
      .withColumn("norm", TextOps.normCol)
      .withColumn("keep_id", min($"doc_id").over(Window.partitionBy($"norm")))
      .where($"doc_id" === $"keep_id")
      .select($"doc_id", $"source", $"text", $"n_chars")
      .localCheckpoint(false)
    val losers = TextOps.jaccardPairs(exactSurv)
      .where($"jaccard" >= 0.6)
      .select($"doc_b".as("doc_id")).distinct()
    val finalSurv = exactSurv.join(losers, Seq("doc_id"), "left_anti")
    d.groupBy($"source")
      .agg(count(lit(1)).as("n_raw"), sum($"n_chars").as("chars_raw"))
      .join(q.groupBy($"source").agg(count(lit(1)).as("nq")), Seq("source"), "left")
      .join(exactSurv.groupBy($"source").agg(count(lit(1)).as("ne")), Seq("source"), "left")
      .join(finalSurv.groupBy($"source")
              .agg(count(lit(1)).as("nf"), sum($"n_chars").as("cf")),
            Seq("source"), "left")
      .select($"source", $"n_raw", $"chars_raw",
        coalesce($"nq", lit(0L)).as("n_quality"),
        coalesce($"ne", lit(0L)).as("n_exact"),
        coalesce($"nf", lit(0L)).as("n_final"),
        coalesce($"cf", lit(0L)).as("chars_final"))
      .orderBy($"source")
  }

  def pipelineCurateFull(s: SparkSession, dir: String): DataFrame =
    curateFull(docs(s, dir))

  /** Per-document keyword extraction: top-3 tokens by the integer
    * rarity-weighted score tf·(N−df) — the df-discounted term ranking
    * (the tf-idf ORDERING with an integer-exact discount: (N−df)/N is
    * idf's first-order Taylor term, and since N is constant per run
    * the rank order is the classic "frequent here, rare elsewhere").
    * Deliberately integer: cross-engine top-k selection compares
    * EXACT longs, immune to the libm-ln ulp skew a float idf could
    * put exactly on a rank boundary ([[lmScore]] tolerates that skew
    * because it only rounds a SUM; a top-k SELECTION cannot).
    *
    * Scale shape: tf keys on (doc_id, w), df on w — both map-side
    * partial aggs; the df table is VOCAB-sized and broadcasts onto
    * the tf stream; the per-doc top-3 window partitions on doc_id
    * (doc-sized groups — no global sort anywhere). Ties break on the
    * word so the cut is a total order. */
  def keywords(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val tf = d.select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"w".asc)
    tf.join(broadcast(df), Seq("w")).crossJoin(broadcast(n))
      .withColumn("score", $"tf" * ($"n_docs" - $"df"))
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 3)
      .select($"doc_id", $"w".as("kw"), $"tf", $"df", $"score",
              $"rk".cast("int").as("rk"))
      .orderBy($"doc_id", $"rk")
  }

  def textKeywords(s: SparkSession, dir: String): DataFrame =
    keywords(docs(s, dir))

  /** Per-document BIGRAM language-model score with add-one smoothing:
    * avg over the doc's bigrams of ln((C(w₁w₂)+1)/(C(w₁·)+V)) — the
    * second-order fluency proxy that separates shuffled-word noise
    * from natural sequences, which [[lmScore]]'s unigram model is
    * blind to (same unigrams, same score). C counts come from the
    * corpus itself; V (vocab size) is the add-one normalizer.
    *
    * Scale shape: bigrams are generated INSIDE the row (sequence →
    * struct HOF, no self-join on position), per-doc counts key on
    * (doc_id, w₁, w₂), and the MODEL tables — observed-bigram counts,
    * left-context counts, the 1-row vocab size — are vocabulary²-
    * bounded, broadcast onto the corpus stream like lmScore's unigram
    * table. Float discipline: identical to lmScore — the only
    * order-sensitive sum is Σ c·ln(·), rounded to 6 decimals; counts
    * and the final division are exact. */
  def bigramLm(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val bi = d.select($"doc_id", split($"text", " ").as("toks"))
      .where(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
        "i -> struct(element_at(toks, i) AS w1, " +
        "element_at(toks, i + 1) AS w2))")).as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val dc = bi.groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("c"))
    val cb = dc.groupBy($"w1", $"w2").agg(sum($"c").as("cb"))
    val cu = cb.groupBy($"w1").agg(sum($"cb").as("cu"))
    val vocab = d.select(explode(split($"text", " ")).as("w"))
      .agg(countDistinct($"w").as("v"))
    dc.join(broadcast(cb), Seq("w1", "w2"))
      .join(broadcast(cu), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"),
           sum($"c".cast("double") *
               log(($"cb" + 1).cast("double") / ($"cu" + $"v").cast("double")))
             .as("sl"))
      .select($"doc_id", $"n_bigrams",
        round($"sl" / $"n_bigrams".cast("double"), 6).as("avg_logprob"))
      .orderBy($"doc_id")
  }

  def textBigramLm(s: SparkSession, dir: String): DataFrame =
    bigramLm(docs(s, dir))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_keywords" -> (textKeywords _),
    "text_bigram_lm" -> (textBigramLm _),
    "dedup_winnow" -> (dedupWinnow _),
    "text_repetition" -> (textRepetition _),
    "filter_outlier_mad" -> (filterOutlierMad _),
    "text_lexdiv" -> (textLexdiv _),
    "text_entropy" -> (textEntropy _),
    "text_zipf" -> (textZipf _),
    "text_quality_gate" -> (textQualityGate _),
    "pipeline_curate_full" -> (pipelineCurateFull _),
    "text_lm_score" -> (textLmScore _),
    "text_source_overlap" -> (textSourceOverlap _))

  def oracle: Map[String, String] = Map(
    "text_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, w AS kw, tf, df, tf * (n_docs - df) AS score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf * (n_docs - df) DESC, w ASC) AS INTEGER) AS rk
        |  FROM tf JOIN df USING (w) CROSS JOIN n)
        |SELECT doc_id, kw, tf, df, score, rk FROM sc
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "text_bigram_lm" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
        |            FROM documents),
        |bi AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |       FROM tk, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        |       WHERE len(toks) >= 2),
        |dc AS (SELECT doc_id, w1, w2, count(*) AS c
        |       FROM bi GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, sum(c) AS cb FROM dc GROUP BY 1, 2),
        |cu AS (SELECT w1, sum(cb) AS cu FROM cb GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM
        |        (SELECT unnest(string_split(text, ' ')) AS w FROM documents))
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  round(sum(CAST(c AS DOUBLE) *
        |            ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + v AS DOUBLE)))
        |        / CAST(sum(c) AS DOUBLE), 6) AS avg_logprob
        |FROM dc JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_lm_score" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
        |v AS (SELECT w, sum(c) AS cw FROM c GROUP BY w),
        |tt AS (SELECT CAST(sum(cw) AS DOUBLE) AS t FROM v)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(sum(c * ln(CAST(cw AS DOUBLE))) / CAST(sum(c) AS DOUBLE)
        |        - ln((SELECT t FROM tt)), 6) AS avg_logprob
        |FROM c JOIN v USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_source_overlap" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (SELECT DISTINCT source, w FROM t),
        |sz AS (SELECT source, count(*) AS nv FROM v GROUP BY source),
        |i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |      FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.nv AS nv_a, sb.nv AS nv_b, inter,
        |  round(CAST(inter AS DOUBLE)
        |        / CAST(sa.nv + sb.nv - inter AS DOUBLE), 6) AS jaccard
        |FROM i JOIN sz sa ON i.src_a = sa.source
        |       JOIN sz sb ON i.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,
    "dedup_winnow" ->
      s"""WITH n AS (
        |  SELECT doc_id, source, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, source,
        |    list_transform(generate_series(1, length(norm) - 7),
        |      i -> list_reduce(list_prepend(0::BIGINT,
        |             list_transform(string_split(substring(norm, i, 8), ''), c -> ascii(c))),
        |             (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
        |  FROM n WHERE length(norm) >= 11),
        |f AS (
        |  SELECT DISTINCT doc_id, source, fp FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(generate_series(1, len(hs) - 3),
        |        j -> list_min(hs[j:j+3]))) AS fp
        |    FROM h)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM f GROUP BY 1),
        |df AS (SELECT source, fp, count(*) AS df FROM f GROUP BY 1, 2),
        |fc AS (SELECT f.doc_id, f.source, f.fp FROM f
        |       JOIN df USING (source, fp) WHERE df <= ${TextOps.hotShingleCap}),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM fc a JOIN fc b
        |    ON a.fp = b.fp AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared,
        |  CAST(n_shared AS DOUBLE) / CAST(least(za.sz, zb.sz) AS DOUBLE) AS winnow_sim
        |FROM p JOIN sz za ON doc_a = za.doc_id JOIN sz zb ON doc_b = zb.doc_id
        |WHERE CAST(n_shared AS DOUBLE) / CAST(least(za.sz, zb.sz) AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        |      FROM (SELECT doc_id, w,
        |              unnest(generate_series(1, len(w) - 1)) AS i FROM w)),
        |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_grams,
        |  CAST(max(c) AS BIGINT) AS top_count,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_frac,
        |  CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS DOUBLE)
        |    / CAST(sum(c) AS DOUBLE) AS dup_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "filter_outlier_mad" ->
      """WITH m AS (
        |  SELECT doc_id, source, n_chars,
        |    quantile_cont(n_chars, 0.5) OVER (PARTITION BY source) AS med
        |  FROM documents),
        |d AS (SELECT *, abs(n_chars - med) AS dev FROM m),
        |x AS (SELECT *, quantile_cont(dev, 0.5) OVER (PARTITION BY source) AS mad FROM d)
        |SELECT doc_id, source, n_chars, med, mad, (dev > 3 * mad) AS is_outlier
        |FROM x ORDER BY doc_id""".stripMargin,
    "pipeline_curate_full" ->
      s"""WITH w0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |g0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM w0)),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM g0 GROUP BY 1, 2),
        |rep AS (SELECT doc_id,
        |          CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS DOUBLE)
        |            / CAST(sum(c) AS DOUBLE) AS dup_frac
        |        FROM gc GROUP BY 1),
        |t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM t0 GROUP BY 1, 2),
        |lex AS (SELECT doc_id,
        |          CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr
        |        FROM tc GROUP BY 1),
        |madz AS (SELECT doc_id,
        |           (dev > 3 * quantile_cont(dev, 0.5) OVER (PARTITION BY source)) AS is_outlier
        |         FROM (SELECT doc_id, source,
        |                 abs(n_chars - quantile_cont(n_chars, 0.5) OVER (PARTITION BY source)) AS dev
        |               FROM documents)),
        |q_keep AS (
        |  SELECT d.doc_id FROM documents d
        |  JOIN rep USING (doc_id) JOIN lex USING (doc_id) JOIN madz USING (doc_id)
        |  WHERE NOT (dup_frac > 0.2 OR ttr < 0.3 OR is_outlier)),
        |q AS (SELECT d.* FROM documents d JOIN q_keep USING (doc_id)),
        |n AS (SELECT doc_id, source, n_chars, text,
        |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm FROM q),
        |ex AS (SELECT doc_id, source, n_chars, text FROM
        |        (SELECT n.*, min(doc_id) OVER (PARTITION BY norm) AS keep_id FROM n)
        |       WHERE doc_id = keep_id),
        |w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM ex),
        |ix AS (SELECT doc_id, source, w, unnest(generate_series(1, len(w) - 2)) AS i FROM w),
        |sh AS (SELECT DISTINCT doc_id, source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM ix),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |df AS (SELECT source, sh, count(*) AS df FROM sh GROUP BY 1, 2),
        |shc AS (SELECT s.doc_id, s.source, s.sh FROM sh s
        |        JOIN df USING (source, sh) WHERE df <= ${TextOps.hotShingleCap}),
        |near_b AS (
        |  SELECT DISTINCT doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |    FROM shc a JOIN shc b
        |      ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz za ON p.doc_a = za.doc_id
        |  JOIN sz zb ON p.doc_b = zb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / CAST(za.sz + zb.sz - inter AS DOUBLE) >= 0.6),
        |fin AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_b FROM near_b)),
        |raw AS (SELECT source, count(*) AS n_raw, CAST(sum(n_chars) AS BIGINT) AS chars_raw
        |        FROM documents GROUP BY source),
        |qs AS (SELECT source, count(*) AS n_quality FROM q GROUP BY source),
        |exs AS (SELECT source, count(*) AS n_exact FROM ex GROUP BY source),
        |fins AS (SELECT source, count(*) AS n_final, CAST(sum(n_chars) AS BIGINT) AS chars_final
        |         FROM fin GROUP BY source)
        |SELECT r.source, n_raw, chars_raw,
        |  CAST(coalesce(n_quality, 0) AS BIGINT) AS n_quality,
        |  CAST(coalesce(n_exact, 0) AS BIGINT) AS n_exact,
        |  CAST(coalesce(n_final, 0) AS BIGINT) AS n_final,
        |  CAST(coalesce(chars_final, 0) AS BIGINT) AS chars_final
        |FROM raw r
        |LEFT JOIN qs USING (source) LEFT JOIN exs USING (source)
        |LEFT JOIN fins USING (source)
        |ORDER BY r.source""".stripMargin,
    "text_entropy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(ln(CAST(sum(c) AS DOUBLE))
        |        - sum(c * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE), 6)
        |    AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_zipf" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT source, w, count(*) AS c FROM t GROUP BY 1, 2),
        |r AS (SELECT source, c,
        |        row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rnk
        |      FROM c)
        |SELECT source,
        |  round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
        |    AS zipf_slope,
        |  round(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS r2,
        |  count(*) AS n_ranks
        |FROM r WHERE rnk <= 100
        |GROUP BY source ORDER BY source""".stripMargin,
    "text_quality_gate" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        |      FROM (SELECT doc_id, w,
        |              unnest(generate_series(1, len(w) - 1)) AS i FROM w)),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |rep AS (SELECT doc_id,
        |          CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS DOUBLE)
        |            / CAST(sum(c) AS DOUBLE) AS dup_frac
        |        FROM gc GROUP BY 1),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |lex AS (SELECT doc_id,
        |          CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr
        |        FROM tc GROUP BY 1),
        |m AS (SELECT doc_id, source, n_chars,
        |        quantile_cont(n_chars, 0.5) OVER (PARTITION BY source) AS med
        |      FROM documents),
        |d2 AS (SELECT *, abs(n_chars - med) AS dev FROM m),
        |mad AS (SELECT doc_id,
        |          (dev > 3 * quantile_cont(dev, 0.5) OVER (PARTITION BY source))
        |            AS is_outlier
        |        FROM d2)
        |SELECT d.doc_id, d.source,
        |  (dup_frac > 0.2) AS r_repetition,
        |  (ttr < 0.3) AS r_lowdiv,
        |  is_outlier AS r_length,
        |  NOT ((dup_frac > 0.2) OR (ttr < 0.3) OR is_outlier) AS keep
        |FROM documents d
        |JOIN rep USING (doc_id) JOIN lex USING (doc_id) JOIN mad USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "text_lexdiv" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
        |  CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
        |  CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS hapax_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
