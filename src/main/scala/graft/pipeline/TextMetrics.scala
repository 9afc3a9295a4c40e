package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data curation: language ID,
 * quality scoring, token counting, document fingerprinting.
 *
 * Everything is a row-local column expression (map-only, codegen'd) —
 * at 100 TB these run at scan speed with zero shuffle.
 */
object TextMetrics {

  /** One-pass stats struct shared by every whitespace-token metric
    * ([[graft.functions.TextStats]]). Identical instances inside one
    * projection are deduplicated by Catalyst subexpression elimination,
    * so `annotate`'s seven metrics tokenize each document ONCE — the
    * Column-algebra formulas re-split per metric and evaluated
    * interpreted HOF lambdas per (token × row). The originals survive
    * as the differential-fuzz model (TextStatsFuzzSpec). */
  private def stats(text: Column): Column =
    graft.functions.text_stats(text, Stopwords, LangProfiles.map(_._2))

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = {
    val st = stats(text)
    when(st.getField("n_chars") === 0, lit(0.0))
      .otherwise(st.getField("n_tokens").cast("double"))
  }

  /**
   * BPE-ish token count: letter runs, digit runs and single
   * non-alphanumeric marks each count as one token — the usual cheap
   * proxy for subword-tokenizer budget accounting.
   */
  def tokenCountBpeish(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
      .cast("double")

  /** Ratio of punctuation (non-alphanumeric, non-space) bytes. */
  def punctRatio(text: Column): Column = {
    val st = stats(text)
    val octets = st.getField("octets")
    when(octets === 0, lit(0.0))
      .otherwise((octets - st.getField("ascii_keep")).cast("double") / octets)
  }

  /** English-ish stopword list used by both ratio and quality score. */
  val Stopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
    "in", "is", "it", "of", "on", "or", "that", "the", "to", "was", "with")

  /** Fraction of tokens that are stopwords (duplicates counted). */
  def stopwordRatio(text: Column): Column = {
    val st = stats(text)
    val n = st.getField("n_tokens")
    when(n === 0, lit(0.0))
      .otherwise(st.getField("stop_hits").cast("double") / n.cast("double"))
  }

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = {
    val st = stats(text)
    val n = st.getField("n_tokens")
    when(n === 0, lit(0.0))
      .otherwise(st.getField("sum_token_len").cast("double") / n.cast("double"))
  }

  /**
   * Composite quality score in [0,1]: favors mid-length documents with
   * normal word lengths, low punctuation and a sane stopword rate —
   * the standard heuristic-filter shape (e.g. C4/Gopher rules) made
   * deterministic and branch-free.
   */
  def qualityScore(text: Column): Column = {
    val n = tokenCountWs(text)
    val lenScore = least(n / 50.0, lit(1.0)) * least(lit(1.0), lit(20000.0) / greatest(n, lit(1.0)))
    val punctScore = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    val wordScore = {
      val m = meanTokenLen(text)
      when(m >= 3 && m <= 10, 1.0).otherwise(0.5)
    }
    round(lenScore * 0.4 + punctScore * 0.3 + wordScore * 0.3, 6)
  }

  /** Per-language marker-word profiles for the n-gram/stopword
    * language-ID heuristic. Deterministic, ASCII-only. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "auf", "sich"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "for", "with", "as"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "por"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "dans", "pour", "que", "une"),
    "zh" -> Seq("de", "shi", "zai", "le", "wo", "you", "he", "ren", "zhe", "ta"))

  /**
   * Heuristic language ID: count marker-word hits per language over the
   * token multiset; highest count wins, ties resolved by profile order
   * (first wins). Unknown when nothing matches.
   */
  def langId(text: Column): Column = {
    val hits = stats(text).getField("lang_hits")
    val counts = LangProfiles.zipWithIndex.map { case ((lang, _), i) =>
      lang -> hits.getItem(i)
    }
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldRight(lit("unknown")) { case ((lang, cnt), els) =>
      when(cnt === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  /** Gopher-style duplicate-line stats struct (`n_lines`,
    * `dup_line_frac`, `dup_char_frac`) — the repetition quality
    * signals corpus filters cut on. One row-local JVM pass
    * ([[graft.functions.RepetitionStats]]); map-only at any scale. */
  def repetitionStats(text: Column): Column =
    graft.functions.repetition_stats(text)

  /**
   * Winnowing document fingerprint (Schleimer et al., SIGMOD'03 —
   * public algorithm): xxhash64 every `k`-char gram, take the minimum
   * in each sliding window of `w` hashes, dedupe. Near-identical
   * documents share most fingerprint hashes. Returns sorted
   * array<long>, deterministic. One row-local JVM pass with a
   * monotonic deque ([[graft.functions.WinnowFingerprint]]) — the
   * previous HOF formulation re-evaluated every gram hash per window
   * position (O(chars × w) interpreted lambdas per row).
   */
  def fingerprint(textColName: String, k: Int = 8, w: Int = 4): Column =
    graft.functions.winnow_fingerprint(col(textColName), k, w)

  /** One-long digest of the winnowing fingerprint (for compact joins). */
  def fingerprintDigest(textColName: String, k: Int = 8, w: Int = 4): Column =
    xxhash64(concat_ws(",", fingerprint(textColName, k, w)))

  /** The Gopher rule-filter stopword set (Rae et al. 2021, A1.1:
    * a document must contain ≥ 2 of these). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher quality rules (Rae et al., "Scaling Language Models" 2021,
   * Appendix A1.1) — the named heuristic bundle large-scale curation
   * pipelines cut on, as ONE branch-free projection (map-only, no
   * shuffle, whole-stage codegen at any scale):
   *
   *   word_count ∈ [minWords, maxWords]; mean word length ∈ [3, 10];
   *   symbol-to-word ratio (`#` / `...`) ≤ 0.1; ≤ 90% of lines start
   *   with a bullet; ≤ 30% of lines end with an ellipsis; ≥ 80% of
   *   words contain an alphabetic character; ≥ 2 distinct stopwords
   *   from [[GopherStops]] present.
   *
   * Returns a struct with every measured value (audit trail — which
   * rule fired) plus the combined `pass`.
   */
  def gopherRules(text: Column,
                  minWords: Int = 50, maxWords: Int = 100000): Column = {
    // one-pass raw counts ([[graft.functions.GopherCounts]]); the
    // ratio/round arithmetic stays in Column space so numeric
    // semantics are identical to the original HOF bundle (which
    // survives as the TextStatsFuzzSpec model)
    val g = graft.functions.gopher_counts(text)
    val nWords = g.getField("n_words")
    val nW = nWords.cast("double")
    val meanLen = when(nWords === 0, lit(0.0))
      .otherwise(g.getField("sum_word_len").cast("double") / nW)
    val symbolRatio = when(nWords === 0, lit(0.0))
      .otherwise(g.getField("symbol_matches").cast("double") / nW)
    val nLines = g.getField("n_lines")
    val bulletFrac = when(nLines === 0, lit(0.0))
      .otherwise(g.getField("bullet_lines").cast("double") / nLines.cast("double"))
    val ellipsisFrac = when(nLines === 0, lit(0.0))
      .otherwise(g.getField("ellipsis_lines").cast("double") / nLines.cast("double"))
    val alphaFrac = when(nWords === 0, lit(0.0))
      .otherwise(g.getField("alpha_words").cast("double") / nW)
    val stopHits = g.getField("stop_hits")
    val pass = nWords >= minWords && nWords <= maxWords &&
      meanLen >= 3.0 && meanLen <= 10.0 &&
      symbolRatio <= 0.1 && bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
      alphaFrac >= 0.8 && stopHits >= 2
    struct(
      nWords.as("word_count"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_word_ratio"),
      round(bulletFrac, 6).as("bullet_line_frac"),
      round(ellipsisFrac, 6).as("ellipsis_line_frac"),
      round(alphaFrac, 6).as("alpha_word_frac"),
      stopHits.as("stop_word_hits"),
      pass.as("pass"))
  }

  /** Keep only documents passing every Gopher rule. */
  // The rules struct is computed once per row, in a projection under
  // eval_once, and the filter reads its `pass` field: a filter on the
  // bare struct field inlines gopher_counts 21× into the Filter
  // condition (FilterExec does no common-subexpression elimination).
  // Not widened (Parallelism.ensure): with one evaluation per row the
  // remaining compute is cheaper than the exchange and its AQE round,
  // as r17 measured for the same barrier in p_pipeline_quality_e2e.
  def gopherFilter(df: DataFrame, textCol: String,
                   minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val g = "__gopher_rules"
    df.withColumn(g, graft.functions.eval_once(
        gopherRules(col(textCol), minWords, maxWords)))
      .filter(col(g).getField("pass"))
      .drop(g)
  }

  /** Gopher duplicate word-n-gram measurements (Rae et al. 2021 table
    * A1): `top_{2,3,4}gram_char_frac` + `dup_{5..10}gram_char_frac` as
    * one struct — one row-local JVM pass
    * ([[graft.functions.NgramRepetitionStats]]), map-only at scale. */
  def ngramRepetitionStats(text: Column): Column =
    graft.functions.ngram_repetition_stats(text)

  /** True when every n-gram repetition fraction is at or under its
    * published threshold (table A1: top 2/3/4-gram ≤ 0.20/0.18/0.16,
    * dup 5..10-gram ≤ 0.15..0.10) — the repetition half of the Gopher
    * filter, composable with [[gopherRules]]' pass. */
  def ngramRepetitionPass(text: Column): Column = {
    val s = ngramRepetitionStats(text)
    graft.functions.NgramRepetitionStats.Thresholds
      .map { case (f, t) => s.getField(f) <= t }
      .reduce(_ && _)
  }

  /** All metrics in one projection. */
  def annotate(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens_ws", tokenCountWs(col(textCol)))
      .withColumn("n_tokens_bpe", tokenCountBpeish(col(textCol)))
      .withColumn("punct_ratio", punctRatio(col(textCol)))
      .withColumn("stopword_ratio", stopwordRatio(col(textCol)))
      .withColumn("mean_token_len", meanTokenLen(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("lang_pred", langId(col(textCol)))
}
