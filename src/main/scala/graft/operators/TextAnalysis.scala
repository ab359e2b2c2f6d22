package graft.operators

import graft.functions.ColumnFns.stableRound
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a document corpus — training-data pipeline
  * surface: quality scoring, token counting, language ID, fingerprinting.
  * Everything is a codegen'd column expression over one scan; at 100 TB
  * these run as a single map-only stage (no shuffle at all until an
  * aggregation is asked for).
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "an", "of", "and", "or", "in",
    "to", "is", "it", "on", "for", "with", "as", "at", "by")

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Count of tokens equal to a stopword — r18 codegen rewrite of
    * `size(filter(tokens(t), x => array_contains(stopArr, x)))`, whose
    * lambda `filter` is CodegenFallback: tokens are exactly the maximal
    * non-whitespace runs, so "token == stopword" is the anchored
    * alternation `(?<!\S)(?:the|a|…)(?!\S)` and the count is one
    * `regexp_count` (ordinary codegen). Null-in → null-out either way.
    * Bit-identical on the corpus (OPTIMIZATION_r18 §6) and ~29% faster at
    * the sf0.1 grain; oracle-gated in every consumer. */
  private def stopwordCount(text: Column): Column =
    regexp_count(text,
      lit("(?<!\\S)(?:" + stopwords.mkString("|") + ")(?!\\S)"))
      .cast("long")

  /** Number of DISTINCT stopwords present among the tokens — r18
    * codegen rewrite of `size(filter(stopArr, sw =>
    * array_contains(words, sw)))`, which not only ran interpreted (HOF)
    * but re-evaluated the `split` inside the lambda once per stopword
    * (16 splits per document — OPTIMIZATION_r18 §6 measured it as the
    * most expensive text shape, 0.60 s at the sf0.1 grain). One split +
    * one set intersection (`array_intersect` returns the distinct
    * common elements) is bit-identical (5000-doc corpus, same record)
    * and 5× faster (0.12 s). The null guard mirrors the HOF, where a
    * null-text predicate drops every stopword → 0. */
  private def distinctStopwordHits(text: Column): Column =
    when(text.isNull, lit(0L))
      .otherwise(size(array_intersect(array(stopwords.map(lit): _*),
        tokens(text))).cast("long"))

  /** Count of tokens containing at least one ASCII letter — r18 codegen
    * rewrite of `size(filter(words, w => w.rlike("[A-Za-z]")))`: one
    * match per qualifying token (the lazy `\S*?` stops at the first
    * letter; the `(?<!\S)` anchor forbids a second match inside the
    * same token). Bit-identical (OPTIMIZATION_r18 §6) and ~12% faster. */
  private def alphaWordCount(text: Column): Column =
    regexp_count(text, lit("(?<!\\S)\\S*?[A-Za-z]")).cast("long")

  /** BPE-ish subword count estimate: whitespace tokens plus an extra token
    * per 4 chars of long words (a deterministic stand-in for a real BPE
    * vocab, which would be a broadcast lookup at the same plumbing).
    *
    * r18 rewrite (guide §1.2 step 2 — the `aggregate` higher-order
    * function is CodegenFallback, so this rode every curation map stage
    * INTERPRETED): Σ_w max(1, ⌈len(w)/4⌉) equals the number of greedy
    * `\S{1,4}` matches — each maximal non-whitespace run of length L
    * yields exactly ⌈L/4⌉ chunks (4,4,…,remainder), and inside the text
    * tokens ARE the maximal non-whitespace runs. At the edges they are
    * not: Spark's `trim` strips only spaces (0x20), so a text that starts
    * or ends with other whitespace splits into an extra EMPTY token,
    * which the old fold and `n_words` count and this form does not —
    * `"cat\n"` gives `n_words` 2 but `token_estimate` 1 (ROADMAP item 7
    * picks the one definition). `greatest(1, ·)` reproduces the
    * blank/empty-document case, where `split(trim(t), "\s+")` yields
    * `[""]` and the old fold counted 1; the `when` preserves null-in →
    * null-out. Bit-identical on the corpus (OPTIMIZATION_r18 §6, count +
    * Σ xxhash64 per doc) and ~19% faster at the sf0.1 grain;
    * oracle-gated in every consumer. */
  def tokenCountEstimate(text: Column): Column =
    when(text.isNull, lit(null).cast("long"))
      .otherwise(greatest(lit(1L),
        regexp_count(text, lit("\\S{1,4}")).cast("long")))

  /** Per-document quality metrics (length / punctuation / stopword /
    * digit ratios — the standard pre-training quality filters). */
  def qualityMetrics(docs: DataFrame, id: String, text: String): DataFrame = {
    val t = col(text)
    val w = tokens(t)
    val nChars = length(t).cast("long")
    val nWords = size(w).cast("long")
    docs.select(col(id).as("id"),
      nChars.as("n_chars"),
      nWords.as("n_words"),
      stableRound(nChars.cast("double") / nWords, 6).as("avg_word_len"),
      stableRound(length(regexp_replace(t, "[^.,;:!?]", "")).cast("double")
        / nChars, 6).as("punct_ratio"),
      stableRound(length(regexp_replace(t, "[^0-9]", "")).cast("double")
        / nChars, 6).as("digit_ratio"),
      stableRound(stopwordCount(t).cast("double")
        / nWords, 6).as("stopword_ratio"),
      tokenCountEstimate(t).as("token_estimate"))
  }

  /** Composite quality score in [0,1] as a pure COLUMN — length
    * sweet-spot × stopword presence × punctuation sanity (the usual
    * heuristic-filter shape). Being a plain expression is the point:
    * a pipeline can filter `where(qualityScoreCol(text) >= floor)`
    * map-side on the scan, with no per-doc aggregate frame and no
    * semi-join exchange. Intermediate ratios round at 6 exactly like
    * [[qualityMetrics]], so this IS that frame's score column. */
  def qualityScoreCol(text: Column): Column = {
    val w = tokens(text)
    val nChars = length(text).cast("long")
    val nWords = size(w).cast("long")
    val stopwordRatio = stableRound(
      stopwordCount(text).cast("double") / nWords, 6)
    val punctRatio = stableRound(
      length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
        / nChars, 6)
    stableRound(
      least(nWords.cast("double") / 50.0, lit(1.0)) *
        least(stopwordRatio * 5.0 + 0.5, lit(1.0)) *
        (lit(1.0) - least(punctRatio * 5.0, lit(1.0)) * 0.5),
      6)
  }

  /** [[qualityScoreCol]] as a per-document frame. */
  def qualityScore(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("id"),
      qualityScoreCol(col(text)).as("quality_score"))

  /** Language ID by stopword-profile voting: score each candidate language
    * by the fraction of tokens in its profile, pick the argmax
    * (n-gram-heuristic class; profiles are tiny broadcast literals). */
  def languageId(docs: DataFrame, id: String, text: String): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "of", "and", "in", "to", "is", "it", "for"),
      "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
      "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
      "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "de"),
      "zh" -> Seq("de", "le", "shi", "zai", "he", "you"))
    val w = lower(col(text))
    val toks = tokens(w)
    val scores = profiles.map { case (lang, words) =>
      // r18: anchored-alternation regexp_count instead of the filter
      // HOF (CodegenFallback, and the lambda re-evaluated the split per
      // profile) — same "token == profile word" counts bit-for-bit,
      // the tokenCountEstimate/stopwordCount technique (profiles are
      // plain letters, regex-safe)
      (regexp_count(w, lit("(?<!\\S)(?:" + words.mkString("|") + ")(?!\\S)"))
        .cast("double") / size(toks)).as(s"score_$lang")
    }
    val scored = docs.select((col(id).as("id") +: scores): _*)
    val best = profiles.map(_._1).foldLeft(
      (lit(""), lit(-1.0))) { case ((bl, bs), lang) =>
      val s = col(s"score_$lang")
      (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }
    scored.select(col("id"), best._1.as("lang_pred"),
      stableRound(best._2, 6).as("lang_score"))
  }

  /** Gopher-style document-format quality rules (Rae et al. 2021, §A1.1 —
    * the standard pre-training format filters): word-count bounds, mean
    * word length bounds, symbol-to-word ratio (# and … marks), bullet- and
    * ellipsis-line ratios, fraction of words containing an alphabetic
    * character, and a minimum number of distinct stopwords. Emits every
    * signal plus the combined `keep` verdict so downstream can re-weight
    * rules instead of re-scanning. Map-only, codegen'd — one pass at any
    * scale. Every ratio is an exact-int division, so the signals (and the
    * threshold comparisons) are bit-identical cross-engine. */
  def gopherQuality(docs: DataFrame, id: String, text: String): DataFrame = {
    val t = col(text)
    val words = tokens(t)
    val lines = split(t, "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val meanWordLen = length(regexp_replace(t, "\\s+", "")).cast("double") /
      nWords
    // non-overlapping "..." count via length difference — the same
    // leftmost-scan semantics in every engine
    val ellipses = (length(t) -
      length(regexp_replace(t, "\\.\\.\\.", ""))).cast("double") / 3
    val hashes = length(regexp_replace(t, "[^#]", ""))
    val symbolRatio = (ellipses + hashes) / nWords
    val bulletRatio = size(filter(lines, l => l.rlike("^ *[-*]")))
      .cast("double") / nLines
    val ellipsisLineRatio = size(filter(lines, l => l.rlike("\\.\\.\\.$")))
      .cast("double") / nLines
    val alphaRatio = alphaWordCount(t).cast("double") / nWords
    val stopHits = distinctStopwordHits(t)
    docs.select(col(id).as("id"), nWords.as("n_words"), nLines.as("n_lines"),
        meanWordLen.as("mean_word_len"),
        symbolRatio.as("symbol_word_ratio"),
        bulletRatio.as("bullet_line_ratio"),
        ellipsisLineRatio.as("ellipsis_line_ratio"),
        alphaRatio.as("alpha_word_ratio"),
        stopHits.as("n_stop_hits"))
      .withColumn("keep",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") < 0.1 &&
          col("bullet_line_ratio") <= 0.9 &&
          col("ellipsis_line_ratio") <= 0.3 &&
          col("alpha_word_ratio") > 0.8 &&
          col("n_stop_hits") >= 2L)
  }

  /** [[gopherQuality]]'s keep verdict as a pure COLUMN, for pipelines
    * that only need the boolean: filters map-side on the scan with no
    * per-doc metric frame and no semi-join exchange. Identical
    * expressions to the frame version (no intermediate rounding exists
    * in either), so the verdicts are bit-equal. */
  def gopherKeepCol(text: Column): Column = {
    val words = tokens(text)
    val lines = split(text, "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val meanWordLen = length(regexp_replace(text, "\\s+", ""))
      .cast("double") / nWords
    val ellipses = (length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))).cast("double") / 3
    val hashes = length(regexp_replace(text, "[^#]", ""))
    val symbolRatio = (ellipses + hashes) / nWords
    val bulletRatio = size(filter(lines, l => l.rlike("^ *[-*]")))
      .cast("double") / nLines
    val ellipsisLineRatio = size(filter(lines, l => l.rlike("\\.\\.\\.$")))
      .cast("double") / nLines
    val alphaRatio = alphaWordCount(text).cast("double") / nWords
    val stopHits = distinctStopwordHits(text)
    nWords.between(50L, 100000L) &&
      meanWordLen.between(3.0, 10.0) &&
      symbolRatio < 0.1 &&
      bulletRatio <= 0.9 &&
      ellipsisLineRatio <= 0.3 &&
      alphaRatio > 0.8 &&
      stopHits >= 2L
  }

  /** Gopher-style repetition metrics (Rae et al. 2021, §A1.1's
    * duplicate-line and repeated-n-gram family): per document, the
    * fraction of duplicated lines and the share of the most frequent
    * word bigram. The line signals are per-row array expressions; the
    * bigram mode is computed RELATIONALLY (explode → count → max) so the
    * shuffle grain is (doc, bigram) with map-side partials — linear at
    * corpus scale, no per-doc hash map in driver memory. */
  def repetitionMetrics(docs: DataFrame, id: String, text: String)
      : DataFrame = {
    val t = col(text)
    val base = docs.select(col(id).as("id"), tokens(t).as("words"),
      split(t, "\n").as("lines"))
    val lineStats = base.select(col("id"),
      size(col("lines")).cast("long").as("n_lines"),
      size(array_distinct(col("lines"))).cast("long").as("n_distinct"))
    val bigrams = base
      .where(size(col("words")) >= 2) // sequence(0,-1) would descend
      .select(col("id"), explode(expr(
        """transform(sequence(0, size(words) - 2),
          |  i -> concat(words[i], ' ', words[i + 1]))""".stripMargin))
        .as("bg"))
    val bgStats = bigrams.groupBy(col("id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(max(col("c")).as("topc"), sum(col("c")).as("nb"))
    lineStats.join(bgStats, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        ((col("n_lines") - col("n_distinct")).cast("double") /
          col("n_lines")).as("dup_line_ratio"),
        coalesce(col("nb"), lit(0L)).cast("long").as("n_bigrams"),
        coalesce(col("topc"), lit(0L)).cast("long").as("top_bigram_count"),
        when(coalesce(col("nb"), lit(0L)) > 0,
          col("topc").cast("double") / col("nb")).otherwise(lit(0.0))
          .as("top_bigram_ratio"))
  }

  /** Default PII patterns: email and an international-format phone number.
    * Deliberately simple expressions valid in both Java and RE2 regex
    * dialects, so the scrub is reproducible across engines. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9]{8,}"

  /** PII scrub: redact emails/phones with fixed placeholder tags and
    * report match counts — the masking pass a training-data pipeline runs
    * before exporting a corpus. Map-only; the scrubbed text is carried as
    * (length, sha256) here so gates stay compact — production would keep
    * the scrubbed column itself. */
  def piiScrub(docs: DataFrame, id: String, text: String,
               emailPat: String = EmailPattern,
               phonePat: String = PhonePattern): DataFrame = {
    val t = col(text)
    val scrubbed = regexp_replace(regexp_replace(t, emailPat, "[EMAIL]"),
      phonePat, "[PHONE]")
    docs.select(col(id).as("id"),
      regexp_count(t, lit(emailPat)).cast("long").as("n_emails"),
      regexp_count(t, lit(phonePat)).cast("long").as("n_phones"),
      length(scrubbed).cast("long").as("n_chars_scrubbed"),
      sha2(scrubbed, 256).as("scrubbed_sha256"))
  }

  /** Per-source EXACT length percentiles (linear interpolation, the
    * `quantile_cont` definition) — the profiling pass that sets
    * length-filter thresholds per source before corpus cleaning (every
    * curation recipe filters "too short / too long" with per-source
    * cutoffs; eyeballed constants drift as sources change). Exact
    * `percentile` needs the values of each group collected into its
    * aggregation buffer — fine up to ~10⁸ docs per source; past that,
    * swap in [[lengthPercentilesApprox]]. */
  def lengthPercentiles(docs: DataFrame, source: String, length: Column,
                        ps: Seq[Double] = Seq(0.1, 0.5, 0.9, 0.99))
      : DataFrame =
    docs.groupBy(col(source))
      .agg(count(lit(1)).as("n_docs"),
        ps.map(p => graft.functions.ColumnFns
          .stableRound(percentile(length, lit(p)), 6)
          .as(s"p${(p * 100).round}")): _*)

  /** The 100 TB path for [[lengthPercentiles]]: Greenwald–Khanna
    * approximate percentiles (`approx_percentile`) hold a bounded-size
    * sketch per group instead of the group's values — memory is
    * O(1/accuracy · log n) however large the source. Not oracle-gated
    * (the sketch is engine-specific); LlmOpsSpec pins it to the exact
    * operator within tolerance on the test corpus. */
  def lengthPercentilesApprox(docs: DataFrame, source: String,
                              length: Column,
                              ps: Seq[Double] = Seq(0.1, 0.5, 0.9, 0.99),
                              accuracy: Int = 10000): DataFrame =
    docs.groupBy(col(source))
      .agg(count(lit(1)).as("n_docs"),
        ps.map(p => approx_percentile(length, lit(p), lit(accuracy))
          .cast("double").as(s"p${(p * 100).round}")): _*)

  /** Document fingerprints: full-content MD5 plus the minimum shingle MD5
    * (a 1-hash MinHash — the rolling-hash fingerprint class). Both are
    * engine-portable hex strings. */
  def fingerprints(docs: DataFrame, id: String, text: String,
                   w: Int = 3): DataFrame = {
    val sh = NearDup.shingles(docs, id, text, w)
      .groupBy(col("id")).agg(min(md5(col("s"))).as("min_shingle_md5"))
    docs.select(col(id).as("id"), md5(col(text)).as("content_md5"))
      .join(sh, Seq("id"), "left")
  }
}
