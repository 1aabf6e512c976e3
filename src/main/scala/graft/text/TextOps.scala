package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.io.Tables.t

/** SURVEY.md §2.10 + north-star text-analysis operators for an
  * LLM-training-data pipeline: exact dedup, n-gram Jaccard near-dup,
  * corpus stats, explicit-math TF-IDF, marker-based language ID,
  * heuristic quality scoring, tokenizer comparison, and rolling-hash
  * fingerprinting.
  *
  * All implemented as codegen'd built-ins (split / explode / HOFs) —
  * no UDFs — so every stage is a plain shuffle-and-aggregate that
  * scales linearly: per-doc work is independent (map-side), and the
  * only shuffles key on (term), (shingle) or (norm_text), all
  * high-cardinality and skew-free.
  */
object TextOps extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  private[text] def normCol: Column =
    lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  /** Exact dedup on normalized text; deterministic survivor = min
    * doc_id. groupBy + min_by (not a window): aggregates partially
    * map-side, so the shuffle carries one row per distinct norm text
    * instead of every document — the formulation that survives 100 TB.
    * (doc_id is unique, so min_by is deterministic.)
    * Null text is UNKNOWN content, not empty content: a failed crawl
    * can't be asserted duplicate of another failed crawl, so each
    * null-text doc is its own group (n_copies = 1). The null slice
    * rides the same single scan/shuffle via a COMPOSITE group key
    * (norm, doc_id-if-null-norm): null norms split per doc, real
    * norms group normally, and — unlike a string sentinel such as
    * chr(1)||doc_id — no real document text can ever collide with a
    * null-text group key (round-13 advice). The whole dedup family
    * shares this rule (see dupEdges / dedupSurvivors). */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("norm", normCol)
      .groupBy($"norm", when($"norm".isNull, $"doc_id").as("null_key"))
      .agg(min_by(struct($"doc_id", $"lang", $"source"), $"doc_id").as("srv"),
           count(lit(1)).as("n_copies"))
      .select($"srv.doc_id".as("doc_id"), $"srv.lang".as("lang"),
              $"srv.source".as("source"), $"n_copies")
      .orderBy($"doc_id")
  }

  /** Hot-shingle document-frequency cap for the key-overlap self-join
    * ([[overlapPairs]]): a "stop shingle" shared by k docs makes a k²
    * join group — at 100 TB one boilerplate phrase in 1% of docs is a
    * quadratic blowup. Any key in more than this many docs (per source)
    * is dropped from CANDIDATE GENERATION (set sizes stay exact),
    * bounding every join group at CAP². Mirrored verbatim in the DuckDB
    * oracles, so the semantics are checked, not just asserted. */
  val hotShingleCap = 50

  /** Each doc's distinct word 3-grams as (doc_id, source, sh) rows.
    * The native word_ngrams Generator (graft.functions.WordNGrams) is
    * one Generate node straight off the text column: no per-row words
    * or grams array, and no ANSI error on sub-3-word docs (they emit
    * nothing). Identical output on the >= 3-word domain (differential
    * in WordNGramsSpec); the DuckDB oracles spell the
    * split→sequence→transform→explode HOF form. */
  private[text] def shingles(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.wordNGrams(col("text"), 3).as("sh"))
      .distinct()

  /** The df-capped key-overlap self-join behind the near-dup family
    * (dedup_ngram, dedup_contained, dedup_winnow, pipeline_curate_full):
    * candidate generation on shared rare keys, which each caller then
    * verifies with its own exact predicate.
    *
    * `keys` holds DISTINCT (doc_id, source, key) rows, the key in the
    * third column whatever its name. Returns one row per same-source
    * pair doc_a < doc_b that shares at least one key held by at most
    * [[hotShingleCap]] docs of that source: `inter` counts those shared
    * keys; `sz_a`/`sz_b` are the full key-set sizes and `szc_a`/`szc_b`
    * the capped ones (column pruning drops whichever a caller leaves
    * unread).
    *
    * Scale shape: the key stream and its per-(source, key) df are
    * lazily checkpointed BEFORE the cap, so the two join sides and the
    * size aggregate read one materialization; the cap filter re-runs
    * on each side. The join is keyed on (source, key), so its skew is
    * bounded by the cap. Sizes attach at the PAIR level: one doc-keyed
    * aggregate of the checkpoint joins onto the collision-sized pair
    * table, instead of a second window (a shuffle+sort of the whole
    * stream on doc_id) carrying one long per stream row into the join. */
  private[graft] def overlapPairs(keys: DataFrame): DataFrame = {
    val s = keys.sparkSession
    import s.implicits._
    // read the key column under its own name: a renaming projection
    // above the caller's distinct hides the checkpoint's (source, key)
    // partitioning from the join (seen with adaptive execution off:
    // two extra shuffles before the join)
    val key = keys.columns(2)
    val k = keys
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"source", col(key))))
      .localCheckpoint(false)
    val rare = $"df" <= hotShingleCap
    val sz = k.groupBy($"doc_id").agg(count(lit(1)).as("sz"), count(when(rare, 1)).as("szc"))
    val capped = k.where(rare)
    capped.select($"doc_id".as("doc_a"), $"source", col(key))
      .join(capped.select($"doc_id".as("doc_b"), $"source", col(key)), Seq("source", key))
      .where($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sz.select($"doc_id".as("doc_a"), $"sz".as("sz_a"), $"szc".as("szc_a")), Seq("doc_a"))
      .join(sz.select($"doc_id".as("doc_b"), $"sz".as("sz_b"), $"szc".as("szc_b")), Seq("doc_b"))
  }

  /** Word-3-gram Jaccard over [[overlapPairs]] of [[shingles]], within
    * the same source. Exact set semantics (full set sizes), checked
    * against a DuckDB oracle; the probabilistic MinHash/SimHash
    * variants live in graft.vec. Hot shingles count in the sizes but
    * not in `inter`: a pair must share enough RARE shingles to surface,
    * the standard stop-shingle trade. */
  private[text] def jaccardPairs(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    overlapPairs(shingles(d))
      .select($"doc_a", $"doc_b", $"inter",
              ($"inter".cast("double") /
               ($"sz_a" + $"sz_b" - $"inter").cast("double")).as("jaccard"))
  }

  def dedupNgram(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(docs(s, dir)).orderBy(col("doc_a"), col("doc_b"))

  /** Containment dedup — quoted/embedded copies, not just near-twins:
    * doc A is contained in doc B when EVERY rare shingle of A appears
    * in B (quoted emails, boilerplate-wrapped reposts, excerpt pages).
    * Jaccard misses these: a short doc quoted inside a long one has
    * low union similarity but full containment. Condition inter =
    * |A_capped| with |B_capped| > |A_capped| (proper containment —
    * equal sets are exact-dup territory) over [[overlapPairs]] of
    * [[shingles]]; sizes here are CAPPED set sizes on both sides so the
    * predicate is exact over what the join can see. Each unordered
    * pair is read once and emitted smaller set → larger. */
  def containedPairs(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val small = least($"szc_a", $"szc_b")
    val aInB = $"szc_a" < $"szc_b"
    overlapPairs(shingles(d))
      .where($"inter" === small && $"szc_a" =!= $"szc_b" && small >= 3)
      .select(when(aInB, $"doc_a").otherwise($"doc_b").as("contained_id"),
              when(aInB, $"doc_b").otherwise($"doc_a").as("container_id"),
              small.as("n_shingles"), greatest($"szc_a", $"szc_b").as("container_sz"))
      .orderBy($"contained_id", $"container_id")
  }

  def dedupContained(s: SparkSession, dir: String): DataFrame =
    containedPairs(docs(s, dir))

  /** Benchmark decontamination — the third job the shingle machinery
    * pays for (after near-dup pairs and survivor carving): flag
    * TRAINING docs that share ≥3 rare word-3-grams with any doc of a
    * designated eval/benchmark source (src0 here). The df-cap runs on
    * TRAIN-side document frequency — a boilerplate shingle present in
    * many training docs carries no contamination signal, same
    * stop-shingle trade as [[dedupNgram]], mirrored in the oracle.
    * Scale shape: one shuffle keyed on shingle (high-cardinality,
    * skew-bounded by the cap); the eval side is a real benchmark —
    * thousands of docs, not billions — so it broadcasts and the train
    * corpus never reshuffles for the join. */
  def textContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evalSrc = "src0"
    // train and eval sides both derive from this subtree — lazy
    // checkpoint so explode+distinct runs once, not once per side
    val sh = shingles(docs(s, dir)).localCheckpoint(false)
    val evalSh = sh.where($"source" === evalSrc)
      .select($"doc_id".as("eval_id"), $"sh")
    // eval-shingle semi-join BEFORE the df window (r16, guide §3.2's
    // prefilter-the-big-side): the df window used to shuffle+sort the
    // ENTIRE train shingle stream only for the eval join to then drop
    // almost all of it; the broadcast semi-join is map-side (the eval
    // side broadcasts anyway), so the window now runs over the
    // eval-matching subset. df is UNCHANGED for every surviving row:
    // the join key is the shingle alone, so for any shingle in the
    // eval set ALL train rows carrying it survive the semi-join, and
    // the per-shingle count over the subset equals the count over the
    // full stream; shingles outside the eval set produced no output
    // either way.
    val trainSh = sh.where($"source" =!= evalSrc)
      .join(broadcast(evalSh.select($"sh").distinct()), Seq("sh"), "left_semi")
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"sh")))
      .where($"df" <= hotShingleCap)
    trainSh.join(broadcast(evalSh), "sh")
      .groupBy($"doc_id", $"source")
      .agg(countDistinct($"sh").as("n_shared"),
           countDistinct($"eval_id").as("n_eval_docs"))
      .where($"n_shared" >= 3)
      .orderBy($"doc_id")
  }

  /** Edit-distance near-dup pairs with PREFIX BLOCKING — the third
    * candidate-generation pattern in the dedup family (next to LSH
    * band buckets and df-capped shingles): docs pair only within the
    * same (source, 4-char-prefix) block, then a bounded levenshtein
    * over the 40-char head verifies. The blocking key is the whole
    * trick at 100 TB — the O(n·m) edit distance runs on candidate
    * pairs (equi-join groups), never all pairs, and on fixed-length
    * heads, never full documents. */
  /** Blocking-prefix length for [[dedupFuzzy]], derived from the
    * corpus: 4 chars up to 8000 docs, +1 char per 32× docs beyond
    * (≈ the prefix alphabet's branching, so expected block POPULATION
    * stays roughly constant as the corpus grows). A FIXED prefix was
    * this round's measured hidden quadratic (the ivfCells disease in
    * blocking-key form): the key space is constant, so block sizes —
    * and the Σ|block|² pair space — grow with the corpus: x^1.03 in
    * the first probed decade, **x^1.43 in the second** (12.6 s →
    * 336 s, sf1.0 → sf10) before this derivation; the longer prefix
    * is the standard blocking trade (a fuzzy pair at 500k docs must
    * share 6 leading chars, not 4). Pure INTEGER thresholds — no
    * float log whose last ulp could disagree across engines — and the
    * oracle derives the same length from the same count with the same
    * unrolled compares, so the two sides can never block differently.
    * Every driver fixture and gate world sits below the first
    * threshold: fixture-scale results are byte-identical to the old
    * fixed-4 behavior. */
  private[graft] def fuzzyBlkLen(nDocs: Long): Int = {
    var len = 4
    var th = 8000L
    while (nDocs >= th && len < 12) { len += 1; th *= 32 }
    len
  }

  def dedupFuzzy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val blkLen = fuzzyBlkLen(d.count())
    val h = d
      .withColumn("norm", normCol)
      .select($"doc_id", $"source",
              substring($"norm", 1, 40).as("head"),
              substring($"norm", 1, blkLen).as("blk"))
    val a = h.select($"doc_id".as("doc_a"), $"source", $"blk", $"head".as("head_a"))
    val b = h.select($"doc_id".as("doc_b"), $"source", $"blk", $"head".as("head_b"))
    a.join(b, Seq("source", "blk"))
      .where($"doc_a" < $"doc_b")
      .withColumn("lev", levenshtein($"head_a", $"head_b"))
      .where($"lev" <= 20)
      .select($"doc_a", $"doc_b", $"lev")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Heavy-hitter tokens per source — the hot-token / boilerplate-
    * phrase detector that feeds dedup_ngram's stop-shingle cap at
    * 100 TB — via CANDIDATE + EXACT VERIFY (round 13; previously
    * emitted raw Misra-Gries estimates, which are merge-order-
    * dependent lower bounds: the ONE query the layout-invariance
    * sweep caught diverging under a physical rewrite, and no-oracle).
    * Pass 1: the custom MG aggregate ([[graft.functions.TopKFreq]],
    * k=256 state, O(k)/group, map-side mergeable) nominates
    * candidates — by the MG guarantee the candidate set contains
    * EVERY token with true freq > n/257 under ANY merge order. Pass 2
    * recounts ONLY candidates exactly (broadcast semi-join: the
    * vocabulary-scale non-candidate stream never shuffles) and the
    * strict threshold n_tok·257 > n_total keeps precisely the
    * guaranteed-caught set — so the output is EXACT counts of a
    * layout-invariant set: deterministic under any partitioning, and
    * DuckDB-oracle-able as a plain HAVING (215 → 216 oracled). Top-8
    * per source by (n_tok desc, tok asc) — a total order over an
    * already-deterministic set. The sketch still earns its keep as
    * the shuffle bound; it just no longer leaks its internals into
    * the answer. Cost: one extra corpus scan (candidate pass +
    * recount pass) — the price of exactness, same two-pass shape as
    * pipeline_mix's count-then-gate. */
  def textHotTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TopKFreq.topkFreq
    val toks = docs(s, dir)
      .select($"source", explode(split($"text", " ")).as("tok"))
    // model-sized (|sources| rows of 256 candidates + one total);
    // checkpointed because BOTH downstream uses (candidate broadcast,
    // totals join) would otherwise re-run the corpus aggregate
    val agg1 = toks.groupBy($"source")
      .agg(topkFreq($"tok", 256).as("top"), count(lit(1)).as("n_total"))
      .localCheckpoint(true)
    val cand = agg1.select($"source", explode($"top.item").as("tok"))
    val counts = toks
      .join(broadcast(cand), Seq("source", "tok"), "left_semi")
      .groupBy($"source", $"tok").agg(count(lit(1)).as("n_tok"))
    counts.join(broadcast(agg1.select($"source", $"n_total")), "source")
      .where($"n_tok" * lit(257L) > $"n_total")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")
          .orderBy($"n_tok".desc, $"tok".asc)))
      .where($"rk" <= 8)
      .select($"source", $"rk", $"tok", $"n_tok")
      .orderBy($"source", $"rk")
  }

  /** Point-frequency estimates from a per-source count-min sketch:
    * build the model-sized CMS once per group (built-in
    * `count_min_sketch` aggregate), then probe a fixed marker-token
    * set DISTRIBUTED via the custom [[graft.functions.CmsEstimate]]
    * expression — sketches never collect to the driver. Completes the
    * sketch family: HLL (distinct), Misra-Gries (heavy hitters), GK
    * (percentile), CMS (point frequency). No oracle (sketch layout is
    * engine-specific); OperatorSpec verifies the one-sided error bound
    * estimate ∈ [true, true + ε·n]. */
  def textCmsTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.CmsEstimate.cmsEstimate
    val sketches = docs(s, dir)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .groupBy($"source")
      .agg(expr("count_min_sketch(tok, 0.001d, 0.99d, 42)").as("cms"))
    val probes = stopList.toDF("probe")
    sketches.join(broadcast(probes))
      .select($"source", $"probe", cmsEstimate($"cms", $"probe").as("est"))
      .orderBy($"source", $"probe")
  }

  /** Corpus stats per (lang, source): docs, tokens, chars. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("n_tok", size(split($"text", " ")))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tok".cast("long")).as("tok_sum"),
           (sum($"n_tok".cast("long")).cast("double") / count(lit(1))).as("avg_tok"),
           sum(length($"text").cast("long")).as("char_sum"))
      .orderBy($"lang", $"source")
  }

  /** Explicit-math TF-IDF (no MLlib): tf per (doc, term), df per term,
    * idf = ln((N+1)/(df+1)) + 1 — the smoothed sklearn form. */
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = terms.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_total"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .where($"doc_id" < 30)
      .select($"doc_id", $"term", $"tf", $"df",
        round($"tf" * (log(($"n_total" + lit(1.0)) / ($"df" + lit(1.0))) + lit(1.0)), 6)
          .as("tfidf"))
      .orderBy($"doc_id", $"term")
  }

  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "un"))

  /** Flattened marker list — shared with the quality score here and
    * the curation pipeline (graft.pipeline.Pipelines.docsCurate). */
  val stopList: Seq[String] = langMarkers.values.flatten.toSeq

  /** Marker-token language ID (n-gram-heuristic family): count hits
    * from per-language stopword lists, argmax with fixed tie order. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def hits(lang: String): Column = {
      val set = langMarkers(lang).map(m => s"'$m'").mkString(",")
      expr(s"size(filter(split(text, ' '), x -> x in ($set)))")
    }
    docs(s, dir)
      .select($"doc_id", $"lang",
              hits("en").as("h_en"), hits("de").as("h_de"), hits("fr").as("h_fr"))
      .withColumn("pred",
        when($"h_en" >= $"h_de" && $"h_en" >= $"h_fr" && $"h_en" > 0, "en")
          .when($"h_de" >= $"h_fr" && $"h_de" > 0, "de")
          .when($"h_fr" > 0, "fr")
          .otherwise("unknown"))
      .orderBy($"doc_id")
  }

  /** Heuristic quality score: length, stopword ratio, mean word length.
    *
    * quality = 0.3·min(n_tok,100)/100 + 0.4·(1 − n_stop/n_tok)
    *         + 0.3·min(awl/8, 1)
    * computed as ONE exact integer ratio num/(4000·n_tok), so both
    * engines divide the SAME integers → bit-identical doubles → the
    * final round can never land on different sides of a 6-decimal
    * boundary (summing three separately-divided doubles diverged in
    * the last ulp at sf0.1 and flipped a rounding tie). */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = langMarkers.values.flatten.map(m => s"'$m'").mkString(",")
    docs(s, dir)
      .withColumn("nt", size(split($"text", " ")).cast("long"))
      .withColumn("ns",
        expr(s"size(filter(split(text, ' '), x -> x in ($stop)))").cast("long"))
      .withColumn("nl", length(regexp_replace($"text", " ", "")).cast("long"))
      .withColumn("qnum",
        lit(12L) * least($"nt", lit(100L)) * $"nt" +
        lit(1600L) * ($"nt" - $"ns") +
        lit(150L) * least($"nl", lit(8L) * $"nt"))
      .select($"doc_id", $"nt".cast("double").as("n_tok"),
        $"ns".cast("double").as("n_stop"),
        round($"nl".cast("double") / $"nt", 6).as("awl"),
        round($"qnum".cast("double") / (lit(4000.0) * $"nt"), 6).as("quality"))
      .orderBy($"doc_id")
  }

  /** Tokenizer comparison: whitespace vs BPE-ish regex pretokenizer. */
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        size(split(trim($"text"), "\\s+")).as("ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("re_tokens"),
        length($"text").as("n_chars_real"),
        $"n_chars")
      .orderBy($"doc_id")
  }

  /** Rolling polynomial fingerprint (Karp–Rabin family): full-text
    * hash + min 8-char-shingle hash (winnowing's core primitive),
    * all via higher-order folds — no UDF, stays in codegen. */
  /** Fixed-width overlapping chunking — the "split long documents into
    * training windows" step of every LLM data pipeline: 200-char
    * chunks on a 150-char stride (50-char overlap so no boundary
    * context is lost). Pure explode(sequence)+substring — per-doc
    * work, no shuffle at all until the output sort; at 100 TB this is
    * a map-only stage that scales with input bytes. Chunk count per
    * doc is ceil(len/stride), each row carries its index for
    * downstream order-sensitive packing. */
  def textChunk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val width = 200
    val stride = 150
    docs(s, dir)
      .select($"doc_id", $"text", length($"text").as("len"))
      .withColumn("start",
        explode(sequence(lit(0), greatest($"len" - 1, lit(0)), lit(stride))))
      // expr: substring/div need column-valued pos and integer division
      .select($"doc_id", expr(s"start div $stride").cast("long").as("chunk_ix"),
              expr(s"substring(text, start + 1, $width)").as("chunk"))
      // DuckDB length() is BIGINT; match the schema
      .withColumn("chunk_len", length($"chunk").cast("long"))
      .orderBy($"doc_id", $"chunk_ix")
  }

  /** Sequence packing — the step between chunking and batching in an
    * LLM data pipeline: concatenate each source's docs in doc_id order
    * and split the token stream into fixed 2048-token context windows.
    * pack_id = floor(tokens_before / budget), pack_off = the doc's
    * start offset inside its window — a pure prefix sum, so the pack
    * assignment is a deterministic function of (source, doc_id order)
    * and integer token counts (no float anywhere). Locally one window
    * cumsum per source; at 100 TB the same prefix sum runs as the
    * classic two-pass form (per-partition token subtotals — a
    * model-sized table — broadcast back as partition base offsets), so
    * nothing ever single-partitions. */
  def textPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 2048
    docs(s, dir)
      .select($"doc_id", $"source",
              size(split($"text", " ")).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(
        sum($"n_tok").over(Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"doc_id", $"source", $"n_tok",
        expr(s"cum_before div $budget").as("pack_id"),
        ($"cum_before" % budget).as("pack_off"))
      .orderBy($"doc_id")
  }

  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = 1000000007L
    docs(s, dir)
      .withColumn("norm", normCol)
      .withColumn("chars", expr("filter(split(norm, ''), c -> c != '')"))
      .withColumn("fp", expr(
        s"aggregate(chars, 0L, (acc, c) -> (acc * 31 + ascii(c)) % $M)"))
      // native rolling Karp–Rabin (graft.functions.KGramHashes) —
      // same residues as the HOF fold it replaced (differential in
      // KGramHashesSpec), O(L) instead of O(8·L) interpreted; the
      // DuckDB oracle still spells the per-position list_reduce.
      // Sub-8-char docs: the expression returns an EMPTY array where
      // the old `greatest(...-7, 1)` spelling hashed the whole short
      // doc once; array_min then yields NULL — the fixtures have no
      // such docs (min 44 chars, FIXTURES.md) and a NULL min_sh is
      // the saner contract for one anyway.
      .withColumn("min_sh",
        array_min(graft.functions.TextFunctions.kgramHashes($"norm", 8)))
      .select($"doc_id", $"fp", $"min_sh", length($"norm").as("n_norm"))
      .orderBy($"doc_id")
  }

  /** PII / noise scrubbing — the redaction pass every training-data
    * pipeline runs before tokenization: mask email-shaped and
    * URL-shaped spans, collapse runs of digits, then re-measure. Pure
    * regexp_replace chain (codegen'd, one pass per pattern, no UDF). */
  def textScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(
            regexp_replace($"text",
              "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
            "https?://[^ ]+", "<URL>"),
          "[0-9]{4,}", "<NUM>"))
      .select($"doc_id",
              length($"text").cast("int").as("len_before"),
              length($"scrubbed").cast("int").as("len_after"),
              ($"text" =!= $"scrubbed").as("changed"))
      .orderBy($"doc_id")
  }

  /** Exact-duplicate star: (keep_id, doc_id) for every doc whose
    * normalized text also belongs to a smaller doc_id, keep_id being
    * the smallest. Null text never pairs (unknown content — the
    * dedupExact rule), so null-text docs always survive and stay
    * singleton clusters; they are filtered BEFORE the window so they
    * don't ride the norm shuffle either. */
  private def exactStar(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.withColumn("norm", normCol)
      .where($"norm".isNotNull)
      .select($"doc_id", $"norm")
      .withColumn("keep_id", min($"doc_id").over(Window.partitionBy($"norm")))
      .where($"doc_id" =!= $"keep_id")
      .select($"keep_id", $"doc_id")
  }

  /** End-to-end dedup survivor selection: union exact-duplicate losers
    * (every doc that is not the min-id of its normalized-text group)
    * with near-duplicate losers (3-gram Jaccard ≥ 0.6 within source),
    * and drop each doc that loses either way. The exact stage is
    * min-per-group — NOT a self-join on norm: a k-copy group costs k
    * window rows instead of k² join pairs, so one boilerplate page
    * duplicated 10⁶ times at 100 TB stays a 10⁶-row group, not a
    * 10¹²-row join. One anti-join, no iteration, no driver loop. */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val exactPairs = exactStar(d).select($"doc_id".as("doc_b"))
    val nearPairs = dedupNgram(s, dir)
      .where($"jaccard" >= 0.6)
      .select($"doc_b")
    d.join(exactPairs.unionByName(nearPairs).distinct(),
           $"doc_id" === $"doc_b", "left_anti")
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  /** Connected components over the duplicate-pair graph — every doc
    * gets cluster_id = the smallest doc_id reachable through any chain
    * of duplicate relations. Survivor selection keeps one doc per PAIR;
    * cluster assignment is what a real dedup pipeline ships (pick one
    * per transitive class, audit cluster sizes). Forwarder — the
    * implementation and its scale notes live with the other graph
    * primitives in [[graft.graph.Graph.connectedComponents]]. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxPasses: Int = 15): DataFrame =
    graft.graph.Graph.connectedComponents(vertices, edges, maxPasses)

  /** The verified duplicate-pair edge set both clusterers consume:
    * exact-norm star edges (to the group min) ∪ n-gram-Jaccard ≥ 0.6
    * near pairs. */
  private def dupEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exactE = exactStar(docs(s, dir)).select($"keep_id".as("a"), $"doc_id".as("b"))
    val nearE = dedupNgram(s, dir).where($"jaccard" >= 0.6)
      .select($"doc_a".as("a"), $"doc_b".as("b"))
    exactE.unionByName(nearE)
  }

  private def clusterShape(labeled: DataFrame): DataFrame = {
    val s = labeled.sparkSession
    import s.implicits._
    labeled
      .withColumn("csize", count(lit(1)).over(Window.partitionBy($"lbl")))
      .select($"v".as("doc_id"), $"lbl".as("cluster_id"), $"csize")
      .orderBy($"doc_id")
  }

  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusterShape(connectedComponents(
      docs(s, dir).select($"doc_id".as("v")), dupEdges(s, dir)))
  }

  /** Same dup graph, clustered by the O(log² n) large-star/small-star
    * contraction instead of min-label propagation. Shares
    * `dedup_clusters`' recursive-CTE oracle, so the differential
    * proves star-contraction ≡ min-label ≡ transitive closure on the
    * real corpus — not just on the PropertySpec toys. The variant to
    * reach for when the dup graph's diameter is unknown (mirror
    * chains, template cascades) rather than near-clique. */
  def dedupClustersStar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusterShape(graft.graph.Graph.connectedComponentsStar(
      docs(s, dir).select($"doc_id".as("v")), dupEdges(s, dir)))
  }

  /** Chunk-level dedup — the CCNet/RefinedWeb-style verdict real LLM
    * pipelines use where whole-doc hashing is too blunt: documents
    * share PASSAGES (syndicated paragraphs, quoted sections, template
    * bodies) without being near-twins, so the unit of comparison is
    * the chunk, and the doc-level signal is the FRACTION of its
    * chunks seen elsewhere. Reuses [[textChunk]]'s exact windows
    * (width 200 / stride 150); a chunk is "dup" when its fingerprint
    * (md5 of the window) appears in more than one distinct doc; a doc
    * is flagged when ≥ half its chunks are dup. Scale shape: one
    * shuffle keyed on fingerprint for the doc-frequency count, then
    * the chunk table re-joins that model-sized side on the same key —
    * co-partitioned, no second wide shuffle; nothing is quadratic
    * because no chunk-pair is ever materialized. The MinHash
    * per-chunk variant (near-dup chunks, not exact) composes from
    * [[graft.vec.VectorOps.minhashPairs]] over this same chunk table;
    * the exact form is the one with a DuckDB oracle.
    */
  def chunkDupStats(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val width = 200
    val stride = 150
    // the fingerprint table feeds BOTH the doc-frequency aggregate and
    // the verdict re-join — lazy localCheckpoint (house pattern, see
    // overlapPairs) so the Generate+md5 pass over the full text corpus
    // runs once and the second consumer reads the materialized blocks
    val ch = d
      .select($"doc_id", $"text", length($"text").as("len"))
      .withColumn("start",
        explode(sequence(lit(0), greatest($"len" - 1, lit(0)), lit(stride))))
      .select($"doc_id",
        md5(expr(s"substring(text, start + 1, $width)")).as("fp"))
      .localCheckpoint(false)
    val fpDocs = ch.groupBy($"fp")
      .agg(countDistinct($"doc_id").as("nd"))
    ch.join(fpDocs, Seq("fp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum(when($"nd" > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select($"doc_id", $"n_chunks", $"n_dup_chunks",
        round($"n_dup_chunks".cast("double") / $"n_chunks", 6).as("dup_frac"),
        ($"n_dup_chunks" * 2 >= $"n_chunks").as("is_dup"))
      .orderBy($"doc_id")
  }

  def dedupChunks(s: SparkSession, dir: String): DataFrame =
    chunkDupStats(docs(s, dir))

  /** Chunk-level NEAR-dup verdict — the MinHash tier of
    * [[chunkDupStats]]. Exact window fingerprints structurally miss
    * UNALIGNED copies: a plagiarized passage shifted by one sentence
    * shares ZERO 200-char windows with its source but nearly all its
    * word-3-grams. So each chunk gets a MinHash signature, banded LSH
    * proposes candidate chunk pairs (equi-join on band buckets, never
    * all-pairs), exact shingle-Jaccard verifies candidates only, and a
    * chunk is dup when a verified pair crosses DOCUMENT boundaries.
    * Doc verdict = the same ≥-half rule as the exact tier. The chunk
    * key packs (doc_id, chunk_ix) into one long (chunk_ix < 2²⁰ —
    * docs are far below 2²⁰·150 chars) so the doc-level minhash
    * machinery applies unchanged. DuckDB-oracled since round 14 (the
    * SigHash polynomial re-seed — the oracle rebuilds the chunk table,
    * signatures, capped buckets and Jaccard verification in SQL);
    * planted SHIFTED-copy docs in VectorOpsSpec prove exactly the
    * recall the exact tier lacks. Scale shape: shuffles key on band
    * hash then chunk key — both high-cardinality; pair volume scales
    * with true collisions. */
  def chunkNearDupStats(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val width = 200
    val stride = 150
    val keyBase = 1048576L // 2^20
    val keyed = d
      .select($"doc_id", $"text", length($"text").as("len"))
      .withColumn("start",
        explode(sequence(lit(0), greatest($"len" - 1, lit(0)), lit(stride))))
      .select(($"doc_id" * keyBase + expr(s"start div $stride")).as("doc_id"),
              expr(s"substring(text, start + 1, $width)").as("text"))
    val pairs = graft.vec.VectorOps
      // maxBucket: boilerplate chunks (headers, license blocks) put an
      // identical signature in every band — cap the bucket so one hot
      // chunk can't form a k² join group (the stop-bucket trade; see
      // minhashPairs).
      // 64 hashes in 16 bands × 4 rows (r15; the doc tier keeps
      // 16 = 4 × 4): chunk pairs live NEAR the 0.6 verify threshold —
      // a shifted copy's chunks overlap ~0.6-0.8, where the 4-band
      // curve collides only 1-(1-J⁴)⁴ ≈ 0.43-0.84 of the time
      // (measured 0.545 planted recall at sf10). Quadrupling the BAND
      // count lifts the near-threshold curve to 1-(1-J⁴)¹⁶ ≈
      // 0.89-0.999 (measured: sf10 planted recall 0.545 → 0.945)
      // while KEEPING 4-row noise suppression — the row count is the
      // load-bearing dial on this corpus: an attempted 8 × 2 split
      // measured x^1.35 super-linear, because the word soup's
      // inter-chunk noise floor (J ≈ 0.15) collides 2-row bands at
      // J² ≈ 2% each ⇒ ~17% of ALL chunk pairs became candidates; at
      // J⁴ the same floor is 5e-4 per band, so even 16 bands admit
      // <1% (measured sublinear: x^0.29 sf0.1→sf1.0 on the skinny
      // banding below). Extra candidates are verified exactly, so
      // only recall — never correctness — moves with this dial.
      .minhashPairs(keyed, nHashes = 64, bands = 16, minJaccard = 0.6,
        maxBucket = 200)
      .where(expr(s"doc_a div $keyBase") =!= expr(s"doc_b div $keyBase"))
    val dupKeys = pairs.select($"doc_a".as("ck"))
      .unionByName(pairs.select($"doc_b".as("ck"))).distinct()
    val totals = keyed.groupBy(expr(s"doc_id div $keyBase").as("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    val dups = dupKeys.groupBy(expr(s"ck div $keyBase").as("doc_id"))
      .agg(count(lit(1)).as("n_dup_chunks"))
    totals.join(dups, Seq("doc_id"), "left")
      .withColumn("n_dup_chunks", coalesce($"n_dup_chunks", lit(0L)))
      .select($"doc_id", $"n_chunks", $"n_dup_chunks",
        round($"n_dup_chunks".cast("double") / $"n_chunks", 6).as("dup_frac"),
        ($"n_dup_chunks" * 2 >= $"n_chunks").as("is_dup"))
      .orderBy($"doc_id")
  }

  def dedupChunksNear(s: SparkSession, dir: String): DataFrame =
    chunkNearDupStats(docs(s, dir))

  /** Span width (tokens) for [[spanDupStats]] — the "≥ k tokens"
    * threshold of exact-substring dedup. 8 on the word-soup fixtures
    * (docs run 10-99 tokens; Lee et al. used 50 on web documents —
    * the dial, like the chunk width, is corpus-calibrated). */
  private[text] val spanDupK = 8

  /** Exact substring-SPAN dedup — the suffix-array tier of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499), re-expressed relationally: surface
    * every maximal token span whose every `k`-token window occurs at
    * least twice in the corpus (within-doc repeats included — a span
    * pasted twice into one document is duplicated text all the same).
    * [[chunkDupStats]]/[[dedupWinnow]] flag the DOC or PAIR; this is
    * the operator that emits the spans themselves — (doc_id,
    * span_start, span_len) in token coordinates — so a curation
    * pipeline can cut the duplicated region and keep the rest, which
    * is the whole point of the third dedup tier.
    *
    * Mechanics: token k-grams with start positions (one in-row
    * transform over the split array — no token self-join), then a
    * duplicated-gram verdict, then per-doc interval union: a gram
    * start p covers [p, p+k-1]; covered extents that overlap or touch
    * merge into maximal spans via one per-doc window pass (lag gap
    * test + running-sum island id — the win_islands pattern).
    *
    * Scale shape (the reason this beats a literal suffix array on a
    * cluster): nothing is ever pairwise. The duplicated-gram verdict
    * is a two-phase candidate+verify — phase 1 counts 8-byte xxhash64
    * gram hashes (map-side partial count, the gram TEXT never
    * shuffles), phase 2 re-counts only hash-hot candidates by exact
    * gram text, so collisions cannot flag a span and the text shuffle
    * is candidate-sized, not corpus-sized. Result is IDENTICAL to a
    * direct group-by-gram-text count (text-equal ⟹ hash-equal, so the
    * prefilter only ever removes true negatives) — which is exactly
    * what the DuckDB oracle runs, making the differential a proof of
    * the two-phase rewrite. The island merge shuffles once on doc_id
    * and sorts per doc (bounded by document length). */
  def spanDupStats(d: DataFrame, k: Int): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val grams = d
      .where($"text".isNotNull)
      .select($"doc_id", split($"text", " ").as("w"))
      .where(size($"w") >= k)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(1, size(w) - ${k - 1}), " +
        s"i -> array_join(slice(w, i, $k), ' '))")).as(Seq("p", "gram")))
      .withColumn("h", xxhash64($"gram"))
      // feeds the hash count AND the candidate re-join — one Generate
      // pass over the corpus, materialized (house pattern, dedupNgram)
      .localCheckpoint(false)
    val hotHash = grams.groupBy($"h").agg(count(lit(1)).as("nh"))
      .where($"nh" >= 2).select($"h")
    val cand = grams.join(hotHash, Seq("h"))
    val dupGram = cand.groupBy($"gram").agg(count(lit(1)).as("ng"))
      .where($"ng" >= 2).select($"gram")
    val covered = cand.join(dupGram, Seq("gram"))
      .select($"doc_id", $"p".cast("long").as("p"))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"p")
    covered
      // extents [p, p+k-1] merge when the next start is ≤ prev end + 1
      // ⟺ gap p - prev_p ≤ k (starts are unique per doc, ascending)
      .withColumn("brk",
        when($"p" - lag($"p", 1).over(wDoc) <= k, 0L).otherwise(1L))
      .withColumn("isl", sum($"brk").over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"isl")
      .agg(min($"p").as("span_start"),
           (max($"p") + lit(k) - min($"p")).as("span_len"),
           count(lit(1)).as("n_grams"))
      .select($"doc_id", $"span_start", $"span_len", $"n_grams")
      .orderBy($"doc_id", $"span_start")
  }

  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    spanDupStats(docs(s, dir), spanDupK)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_scrub" -> (textScrub _),
    "dedup_survivors" -> (dedupSurvivors _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_clusters_star" -> (dedupClustersStar _),
    "text_pack" -> (textPack _),
    "dedup_exact" -> (dedupExact _),
    "dedup_ngram" -> (dedupNgram _),
    "dedup_contained" -> (dedupContained _),
    "dedup_fuzzy" -> (dedupFuzzy _),
    "text_hot_tokens" -> (textHotTokens _),
    "text_cms_tokens" -> (textCmsTokens _),
    "text_stats" -> (textStats _),
    "text_tfidf" -> (textTfidf _),
    "lang_id" -> (langId _),
    "text_quality" -> (textQuality _),
    "token_count" -> (tokenCount _),
    "text_chunk" -> (textChunk _),
    "dedup_chunks" -> (dedupChunks _),
    "dedup_chunks_near" -> (dedupChunksNear _),
    "text_contamination" -> (textContamination _),
    "dedup_spans" -> (dedupSpans _),
    "doc_fingerprint" -> (docFingerprint _))

  /** Shared by dedup_clusters AND dedup_clusters_star: the recursive
    * CTE states cluster = all docs reachable over dup edges, and both
    * clusterers must converge to this same fixed point. */
  private val clustersClosureSql =
    s"""WITH RECURSIVE
      |n AS (
      |  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
      |  FROM documents),
      |exact_e AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b FROM n a JOIN n b
      |    ON a.norm = b.norm AND a.doc_id < b.doc_id),
      |w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |ix AS (SELECT doc_id, source, w,
      |         unnest(generate_series(1, len(w) - 2)) AS i FROM w),
      |sh AS (SELECT DISTINCT doc_id, source,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM ix),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |df AS (SELECT source, sh, count(*) AS df FROM sh GROUP BY 1, 2),
      |shc AS (SELECT s.doc_id, s.source, s.sh FROM sh s
      |        JOIN df USING (source, sh) WHERE df <= $hotShingleCap),
      |near_e AS (
      |  SELECT doc_a AS a, doc_b AS b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |    FROM shc a JOIN shc b
      |      ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2) p
      |  JOIN sz za ON p.doc_a = za.doc_id
      |  JOIN sz zb ON p.doc_b = zb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / CAST(za.sz + zb.sz - inter AS DOUBLE) >= 0.6),
      |edges AS (SELECT a, b FROM exact_e UNION SELECT a, b FROM near_e),
      |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      |reach(src, dst) AS (
      |  SELECT a AS src, b AS dst FROM sym
      |  UNION
      |  SELECT r.src, s.b AS dst FROM reach r JOIN sym s ON r.dst = s.a),
      |lbl AS (
      |  SELECT d.doc_id,
      |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
      |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
      |  GROUP BY d.doc_id)
      |SELECT doc_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS csize
      |FROM lbl ORDER BY doc_id""".stripMargin

  def oracle: Map[String, String] = Map(
    // chunk-level MinHash/LSH twin: chunk table (packed keys, the
    // Spark keyBase), SigHash signatures via the shared CTE chain,
    // stop-bucket cap 200 (mirroring minhashPairs' maxBucket), exact
    // shingle-Jaccard >= 0.6 on candidates, cross-DOCUMENT filter,
    // then the same >=-half doc verdict as the exact tier
    "dedup_chunks_near" ->
      s"""WITH chsrc AS MATERIALIZED (
        |  SELECT doc_id * 1048576 + s // 150 AS doc_id,
        |    substring(text, s + 1, 200) AS text
        |  FROM documents,
        |    unnest(generate_series(0, greatest(length(text) - 1, 0), 150))
        |      AS u(s)),
        |${graft.vec.VectorOps.duckSigCtes("chsrc", nHashes = 64, bands = 16)},
        |bsz AS (SELECT band_id, band_hash, count(*) AS n
        |        FROM mh_band GROUP BY 1, 2),
        |bandc AS MATERIALIZED (
        |  SELECT mb.doc_id, mb.band_id, mb.band_hash
        |  FROM mh_band mb JOIN bsz USING (band_id, band_hash)
        |  WHERE bsz.n <= 200),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM bandc a JOIN bandc b
        |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
        |   AND a.doc_id < b.doc_id),
        |pairs AS MATERIALIZED (
        |  SELECT c.a, c.b FROM cand c
        |  JOIN mh_sh sa ON sa.doc_id = c.a
        |  JOIN mh_sh sb ON sb.doc_id = c.b
        |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        |        / CAST(len(sa.shingles) + len(sb.shingles)
        |               - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        |        >= 0.6
        |    AND c.a // 1048576 <> c.b // 1048576),
        |dupk AS (SELECT a AS ck FROM pairs UNION SELECT b AS ck FROM pairs),
        |totals AS (SELECT doc_id // 1048576 AS doc_id, count(*) AS n_chunks
        |           FROM chsrc GROUP BY 1),
        |dups AS (SELECT ck // 1048576 AS doc_id, count(*) AS n_dup_chunks
        |         FROM dupk GROUP BY 1)
        |SELECT t.doc_id, t.n_chunks,
        |  CAST(coalesce(d.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
        |  round(CAST(coalesce(d.n_dup_chunks, 0) AS DOUBLE) / t.n_chunks, 6)
        |    AS dup_frac,
        |  coalesce(d.n_dup_chunks, 0) * 2 >= t.n_chunks AS is_dup
        |FROM totals t LEFT JOIN dups d USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // generate_series is inclusive-end in DuckDB too; both engines
    // substring 1-based over all-ASCII fixture text
    "dedup_chunks" ->
      """WITH ch AS (
        |  SELECT doc_id, md5(substring(text, s + 1, 200)) AS fp
        |  FROM documents,
        |    unnest(generate_series(0, greatest(length(text) - 1, 0), 150)) AS u(s)),
        |fpd AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM ch GROUP BY fp),
        |per AS (SELECT c.doc_id, count(*) AS n_chunks,
        |          CAST(sum(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_dup_chunks
        |        FROM ch c JOIN fpd f USING (fp) GROUP BY c.doc_id)
        |SELECT doc_id, n_chunks, n_dup_chunks,
        |  round(CAST(n_dup_chunks AS DOUBLE) / n_chunks, 6) AS dup_frac,
        |  n_dup_chunks * 2 >= n_chunks AS is_dup
        |FROM per ORDER BY doc_id""".stripMargin,
    "text_chunk" ->
      """SELECT doc_id, s // 150 AS chunk_ix,
        |  substring(text, s + 1, 200) AS chunk,
        |  length(substring(text, s + 1, 200)) AS chunk_len
        |FROM documents,
        |  unnest(generate_series(0, greatest(length(text) - 1, 0), 150)) AS u(s)
        |ORDER BY doc_id, chunk_ix""".stripMargin,
    "text_contamination" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT doc_id, source, w,
        |         unnest(generate_series(1, len(w) - 2)) AS i FROM w),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM ix),
        |tr AS (SELECT * FROM sh WHERE source <> 'src0'),
        |df AS (SELECT sh, count(*) AS df FROM tr GROUP BY sh),
        |trc AS (SELECT t.doc_id, t.source, t.sh FROM tr t
        |        JOIN df USING (sh) WHERE df <= $hotShingleCap),
        |ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE source = 'src0')
        |SELECT t.doc_id, t.source, count(DISTINCT t.sh) AS n_shared,
        |       count(DISTINCT ev.eval_id) AS n_eval_docs
        |FROM trc t JOIN ev USING (sh)
        |GROUP BY t.doc_id, t.source
        |HAVING count(DISTINCT t.sh) >= 3
        |ORDER BY t.doc_id""".stripMargin,
    "text_scrub" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text,
        |          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |        'https?://[^ ]+', '<URL>', 'g'),
        |      '[0-9]{4,}', '<NUM>', 'g') AS scrubbed
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS len_before,
        |  CAST(length(scrubbed) AS INTEGER) AS len_after,
        |  text <> scrubbed AS changed
        |FROM s ORDER BY doc_id""".stripMargin,
    "dedup_survivors" ->
      s"""WITH n AS (
        |  SELECT doc_id, source,
        |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
        |  FROM documents),
        |exact_b AS (
        |  SELECT b.doc_id AS doc_b FROM n a JOIN n b
        |    ON a.norm = b.norm AND a.doc_id < b.doc_id),
        |w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT doc_id, source, w,
        |         unnest(generate_series(1, len(w) - 2)) AS i FROM w),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM ix),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |df AS (SELECT source, sh, count(*) AS df FROM sh GROUP BY 1, 2),
        |shc AS (SELECT s.doc_id, s.source, s.sh FROM sh s
        |        JOIN df USING (source, sh) WHERE df <= $hotShingleCap),
        |near_b AS (
        |  SELECT doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |    FROM shc a JOIN shc b
        |      ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz za ON p.doc_a = za.doc_id
        |  JOIN sz zb ON p.doc_b = zb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / CAST(za.sz + zb.sz - inter AS DOUBLE) >= 0.6),
        |drop_b AS (SELECT doc_b FROM exact_b UNION SELECT doc_b FROM near_b)
        |SELECT doc_id, lang, source FROM documents
        |WHERE NOT EXISTS (SELECT 1 FROM drop_b WHERE doc_b = doc_id)
        |ORDER BY doc_id""".stripMargin,
    // transitive closure via recursive CTE states the SEMANTICS
    // (cluster = all docs reachable over dup edges); the Spark side
    // must converge its label propagation to the same fixed point.
    // Exact edges here are all same-norm pairs (a<b) — same components
    // as the engine's star edges to the group min. dedup_clusters_star
    // shares the text: BOTH clusterers must land on this closure.
    "dedup_clusters" -> clustersClosureSql,
    "dedup_clusters_star" -> clustersClosureSql,
    "text_pack" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT *, CAST(coalesce(sum(n_tok) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before
        |  FROM d)
        |SELECT doc_id, source, n_tok,
        |  cum_before // 2048 AS pack_id,
        |  cum_before % 2048 AS pack_off
        |FROM c ORDER BY doc_id""".stripMargin,
    "dedup_contained" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT doc_id, source, w,
        |         unnest(generate_series(1, len(w) - 2)) AS i FROM w),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM ix),
        |df AS (SELECT source, sh, count(*) AS df FROM sh GROUP BY 1, 2),
        |shc AS (SELECT s.doc_id, s.source, s.sh FROM sh s
        |        JOIN df USING (source, sh) WHERE df <= $hotShingleCap),
        |szc AS (SELECT doc_id, count(*) AS szc FROM shc GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |      FROM shc a JOIN shc b
        |        ON a.sh = b.sh AND a.source = b.source AND a.doc_id <> b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id_a AS contained_id, id_b AS container_id,
        |       za.szc AS n_shingles, zb.szc AS container_sz
        |FROM p JOIN szc za ON id_a = za.doc_id
        |       JOIN szc zb ON id_b = zb.doc_id
        |WHERE inter = za.szc AND zb.szc > za.szc AND za.szc >= 3
        |ORDER BY contained_id, container_id""".stripMargin,
    "dedup_fuzzy" ->
      // blklen mirrors TextOps.fuzzyBlkLen with the SAME unrolled
      // integer thresholds (8000·32^k) — engine-exact, no float log
      """WITH nn AS (SELECT count(*) AS nd FROM documents),
        |p AS (SELECT 4
        |  + (CASE WHEN nd >= 8000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN nd >= 256000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN nd >= 8192000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN nd >= 262144000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN nd >= 8388608000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN nd >= 268435456000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN nd >= 8589934592000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN nd >= 274877906944000 THEN 1 ELSE 0 END) AS blklen
        |  FROM nn),
        |n AS (
        |  SELECT doc_id, source,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents),
        |h AS (SELECT doc_id, source, substr(norm, 1, 40) AS head,
        |        substr(norm, 1, (SELECT blklen FROM p)) AS blk FROM n)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.head, b.head) AS INTEGER) AS lev
        |FROM h a JOIN h b ON a.source = b.source AND a.blk = b.blk
        | AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 20
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_exact" ->
      """WITH n AS (
        |  SELECT doc_id, lang, source,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY norm,
        |      CASE WHEN norm IS NULL THEN doc_id END
        |      ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY norm,
        |      CASE WHEN norm IS NULL THEN doc_id END) AS n_copies
        |  FROM n)
        |SELECT doc_id, lang, source, n_copies FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "dedup_ngram" ->
      // the < 3-word branch spells word_ngrams' documented TOTAL
      // contract (WordNGrams.scala:27-35): a short doc emits its
      // all-words gram, not nothing — generate_series alone returns
      // the empty window and silently drops such docs from the pair
      // space. Latent until the unicode world planted 1-word docs.
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT doc_id, source, w,
        |         unnest(generate_series(1, len(w) - 2)) AS i FROM w),
        |sh AS (SELECT DISTINCT doc_id, source, sh FROM (
        |         SELECT doc_id, source,
        |           w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM ix
        |         UNION ALL
        |         SELECT doc_id, source, array_to_string(w, ' ') AS sh
        |         FROM w WHERE len(w) < 3)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |df AS (SELECT source, sh, count(*) AS df FROM sh GROUP BY 1, 2),
        |shc AS (SELECT s.doc_id, s.source, s.sh FROM sh s
        |        JOIN df USING (source, sh) WHERE df <= $hotShingleCap),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM shc a JOIN shc b
        |    ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter,
        |  CAST(inter AS DOUBLE) / CAST(za.sz + zb.sz - inter AS DOUBLE) AS jaccard
        |FROM pairs
        |JOIN sz za ON doc_a = za.doc_id
        |JOIN sz zb ON doc_b = zb.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Exact twin of the candidate+verify heavy hitters: the MG pass is
    // only a shuffle bound, so the DECLARED output — exact counts of
    // the strict > n/257 set, top-8 by (count, token) — is a plain
    // HAVING-style threshold both engines compute from scratch.
    "text_hot_tokens" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tot AS (SELECT source, count(*) AS n_total FROM toks GROUP BY source),
        |cnt AS (SELECT source, tok, count(*) AS n_tok
        |        FROM toks GROUP BY source, tok),
        |hot AS (
        |  SELECT cnt.source, tok, n_tok,
        |    row_number() OVER (PARTITION BY cnt.source
        |                       ORDER BY n_tok DESC, tok ASC) AS rk
        |  FROM cnt JOIN tot ON cnt.source = tot.source
        |  WHERE n_tok * 257 > n_total)
        |SELECT source, CAST(rk AS INTEGER) AS rk, tok, n_tok
        |FROM hot WHERE rk <= 8 ORDER BY source, rk""".stripMargin,
    "text_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_sum,
        |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tok,
        |  CAST(sum(length(text)) AS BIGINT) AS char_sum
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "text_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |n AS (SELECT count(*) AS n_total FROM documents)
        |SELECT doc_id, term, tf, df,
        |  round(tf * (ln((n_total + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |WHERE doc_id < 30 ORDER BY doc_id, term""".stripMargin,
    "lang_id" -> {
      def h(langList: Seq[String]): String =
        s"CAST(len(list_filter(string_split(text, ' '), x -> x IN (${langList.map(m => s"'$m'").mkString(",")}))) AS INTEGER)"
      s"""WITH h AS (
        |  SELECT doc_id, lang,
        |    ${h(langMarkers("en"))} AS h_en,
        |    ${h(langMarkers("de"))} AS h_de,
        |    ${h(langMarkers("fr"))} AS h_fr
        |  FROM documents)
        |SELECT doc_id, lang, h_en, h_de, h_fr,
        |  CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en > 0 THEN 'en'
        |       WHEN h_de >= h_fr AND h_de > 0 THEN 'de'
        |       WHEN h_fr > 0 THEN 'fr'
        |       ELSE 'unknown' END AS pred
        |FROM h ORDER BY doc_id""".stripMargin
    },
    "text_quality" -> {
      val stop = langMarkers.values.flatten.map(m => s"'$m'").mkString(",")
      s"""WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stop))) AS BIGINT) AS ns,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nl
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(nt AS DOUBLE) AS n_tok,
        |  CAST(ns AS DOUBLE) AS n_stop,
        |  round(CAST(nl AS DOUBLE) / nt, 6) AS awl,
        |  round(CAST(12*least(nt, 100)*nt + 1600*(nt - ns)
        |             + 150*least(nl, 8*nt) AS DOUBLE) / (4000.0 * nt), 6) AS quality
        |FROM q ORDER BY doc_id""".stripMargin
    },
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS re_tokens,
        |  CAST(length(text) AS INTEGER) AS n_chars_real,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_spans" ->
      // the oracle runs the DIRECT group-by-gram-text count — the
      // Spark side's xxhash64 prefilter is result-identical (see
      // spanDupStats scaladoc), so the differential certifies the
      // two-phase rewrite, not just the island algebra
      s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, i - 1 AS p,
        |    array_to_string(w[i : i + ${spanDupK - 1}], ' ') AS gram
        |  FROM d, unnest(generate_series(1, len(w) - ${spanDupK - 1})) AS u(i)
        |  WHERE len(w) >= $spanDupK),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, p FROM g JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= $spanDupK
        |         THEN 0 ELSE 1 END AS brk
        |  FROM cov),
        |grp AS (
        |  SELECT doc_id, p,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        |  FROM isl)
        |SELECT doc_id, min(p) AS span_start,
        |  max(p) + $spanDupK - min(p) AS span_len, count(*) AS n_grams
        |FROM grp GROUP BY doc_id, isl_id
        |ORDER BY doc_id, span_start""".stripMargin,
    "doc_fingerprint" ->
      // chr(304) = İ, the one SpecialCasing.txt char the unicode world
      // plants: Spark lower() applies the full mapping (İ → i+U+0307),
      // DuckDB the simple one (İ → i). The replace() mirrors the full
      // mapping; no-op on İ-free text (every clean fixture). fp, min_sh
      // and n_norm all read norm, so one mirror covers all three.
      """WITH n AS (
        |  SELECT doc_id, lower(trim(regexp_replace(
        |    replace(text, chr(304), 'i' || chr(775)), '\s+', ' ', 'g'))) AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  -- null text has no fingerprint (the list_prepend(0, ...) seed
        |  -- would otherwise fold a NULL list to 0, a REAL hash value)
        |  CASE WHEN norm IS NULL THEN NULL ELSE
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(norm, ''), c -> ascii(c))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) END AS fp,
        |  list_min(list_transform(generate_series(1, length(norm) - 7),
        |    i -> list_reduce(list_prepend(0::BIGINT,
        |           list_transform(string_split(substring(norm, i, 8), ''), c -> ascii(c))),
        |           (acc, c) -> (acc * 31 + c) % 1000000007))) AS min_sh,
        |  CAST(length(norm) AS INTEGER) AS n_norm
        |FROM n ORDER BY doc_id""".stripMargin)
}
