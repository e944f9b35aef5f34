package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for LLM training-data pipelines, built
  * entirely from codegen'd Catalyst expressions (no UDFs) so they run
  * inside WholeStageCodegen and scale linearly with input splits — the
  * per-document cost is embarrassingly parallel and shuffle-free.
  */
object TextAnalytics {

  /** Whitespace tokenizer; drops empty tokens (split on repeated blanks). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** BPE-ish subword-aware token count: splits on whitespace AND
    * punctuation boundaries, the usual pre-tokenization regex shape.
    */
  def bpeishTokens(text: Column): Column =
    filter(
      transform(split(text, "(?=[^A-Za-z0-9\\s])|(?<=[^A-Za-z0-9\\s])|\\s+"), t => trim(t)),
      t => length(t) > 0)

  /** Token count via the one-pass [[TextKernels]] kernel. */
  def tokenCount(text: Column): Column =
    TextExpr.tokenStats(text).getField("n_tokens").cast("int")

  /** Ratio of tokens found in `stopwords` (lower-cased exact match);
    * one-pass kernel, empty doc → 0.0.
    */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val st = TextExpr.tokenStats(text, stopwords)
    val n = st.getField("n_tokens")
    when(n === 0, lit(0.0))
      .otherwise(st.getField("n_stop").cast("double") / n)
  }

  /** Punctuation density: non-alphanumeric-non-space chars / total chars. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
        .cast("double") / length(text))

  /** Mean token length (0.0 for empty docs); one-pass kernel. */
  def meanTokenLen(text: Column): Column = {
    val st = TextExpr.tokenStats(text)
    val n = st.getField("n_tokens")
    when(n === 0, lit(0.0))
      .otherwise(st.getField("sum_token_len").cast("double") / n)
  }

  /** Composite quality score in [0, 1]: rewards mid-length docs with low
    * punctuation density and a natural stopword ratio. Heuristic, but
    * deterministic and expression-only.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val swScore = lit(1.0) - abs(stopwordRatio(text, stopwords) - 0.4)
    round((lenScore + punctScore + swScore) / 3.0, 4)
  }

  /** Character n-grams of the lower-cased, space-normalized text —
    * the profile unit for language ID and shingle dedup.
    */
  def charNgrams(text: Column, n: Int): Column =
    charNgramsPre(regexp_replace(lower(text), "\\s+", " "), n)

  /** [[charNgrams]] over an ALREADY-normalized column. Pass a
    * materialized attribute here when the text is wide: higher-order
    * lambdas evaluate interpreted, so a normalization expression inlined
    * in the lambda body would re-run its regex once per character
    * position — O(len²) per row (the [[graft.operators.Curation
    * .duplicateSpans]] lesson). */
  def charNgramsPre(norm: Column, n: Int): Column =
    filter(
      transform(sequence(lit(1), greatest(length(norm) - (n - 1), lit(1))),
        i => norm.substr(i, lit(n))),
      g => length(g) === n)

  /** N-gram-profile language ID: score each candidate language by how many
    * of its marker trigrams appear in the document; pick the argmax
    * (ties → lexicographically first language, deterministic).
    * `profiles` maps language → marker n-grams. One-pass kernel: the
    * profiles ride into codegen as reference objects, the text is
    * normalized once, and the whole scored-argmax runs as a single JIT'd
    * call — the composed fold below compiles a when-chain that inlines
    * the normalization into every marker probe (measured 3.5 s compile +
    * 0.8 s warm vs sub-second for the kernel at sf0.1). Shuffle-free and
    * broadcast-free at any scale; value-identical to [[langIdComposed]]
    * (tested in CurationSpec).
    */
  def langId(text: Column, profiles: Map[String, Seq[String]]): Column =
    CurationExpr.bestLang(text, profiles)

  /** The composed expression-fold form of [[langId]] (reference
    * composition, kept as the kernel's value oracle).
    */
  def langIdComposed(text: Column, profiles: Map[String, Seq[String]]): Column = {
    val norm = concat(lit(" "), regexp_replace(lower(text), "\\s+", " "), lit(" "))
    // score(lang) = #markers contained in text
    val scored: Seq[Column] = profiles.toSeq.sortBy(_._1).map { case (lang, marks) =>
      val score = marks.map(m => when(norm.contains(lit(m)), 1).otherwise(0))
        .reduce((a, b) => a + b)
      struct(score.as("score"), lit(lang).as("lang"))
    }
    // left-fold with strict > : ties keep the earlier (lexicographically
    // first) language — deterministic argmax
    val best = scored.reduce((a, b) =>
      when(b.getField("score") > a.getField("score"), b).otherwise(a))
    best.getField("lang")
  }

  /** Adjacent token pairs — the BPE merge-candidate unit: the first
    * tokenizer-training step counts these corpus-wide and merges the
    * most frequent pair. zip_with over two shifted slices; docs with
    * < 2 tokens yield an empty array. Shuffle-free per document; the
    * corpus-wide count is a plain groupBy over the exploded pairs.
    */
  def tokenPairs(text: Column): Column = {
    val t = tokens(text)
    val n = size(t)
    when(n < 2, array().cast("array<struct<a:string,b:string>>"))
      .otherwise(zip_with(
        slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
        (a, b) => struct(a.as("a"), b.as("b"))))
  }

  /** Rolling fingerprint over tokens (order-sensitive 64-bit document
    * hash): acc = xxhash64(acc, token), i.e. a chained hash. Deterministic
    * and collision-resistant enough for dedup bucketing. A polynomial
    * acc*31+h would overflow LongType — a runtime error under ANSI mode
    * (Spark 4 default) — so we chain through the hash instead.
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => xxhash64(acc, t))

  /** Number of vowel runs ([aeiou]+ matches) — the classic cheap
    * syllable-count proxy readability formulas are built on. Pure
    * regexp_count: codegen'd, map-only. */
  def vowelGroups(text: Column): Column =
    regexp_count(lower(text), lit("[aeiou]+"))

  /** Flesch-style reading-ease score with the syllable term estimated
    * by vowel runs: 206.835 − 1.015·(words/sentences) − 84.6·
    * (vowelGroups/words). `sentences` is max(1, count of [.!?] runs) so
    * unpunctuated corpora (one long sentence) still score. All ratio
    * arithmetic happens on exact integer counts — the double math is
    * reproducible across engines.
    */
  def readingEase(text: Column): Column = {
    val words = tokenCount(text).cast("double")
    val sentences = greatest(lit(1),
      regexp_count(text, lit("[.!?]+"))).cast("double")
    lit(206.835) - lit(1.015) * (words / sentences) -
      lit(84.6) * (vowelGroups(text).cast("double") / words)
  }
}
