package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Baskets, Bpe, Cdc, Classifier, CorpusStats, CountMin, Curation, Dedup, Funnel, Geo, Graphs, HeavyHitters, Intervals, Ivf, Lineage, Packing, Pq, PrefixMatch, Profiling, Retrieval, Sampling, Similarity, Skew, Stats, TemplateFilters, Timeseries}
import graft.functions.{DedupExpr, TextAnalytics}
import graft.EntryContext._

/** Text analytics over `documents`: tokens, language id, quality scoring and the Gopher-rule battery, fingerprints, corpus statistics, n-gram/BPE models.
  *
  * Declarations (query lambda + DuckDB oracle SQL) are
  * merged into [[SparkEntry]]'s registry; see SURVEY.md
  * §2/§8 and docs/QUERIES.md for the full index.
  */
private[graft] object TextQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // -- text analytics (LLM-pipeline extensions) ---------------------------
    "q_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).groupBy(col("lang"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))),

    "q_text_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars2"),
          TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(TextAnalytics.stopwordRatio(col("text"), Seq("the", "a", "of", "and")), 4)
            .as("stopword_ratio"))
        .orderBy(col("doc_id"))),

    "q_explode_freq" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(20)),

    "q_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalytics.langId(col("text"), SparkEntry.langProfiles).as("lang_guess"))
        .orderBy(col("doc_id"))),

    "q_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalytics.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
        .orderBy(col("doc_id"))),

    // Gopher-rule battery: per-rule measured values + boolean verdicts +
    // conjunctive keep — the named-rule filter that diagnoses WHY a doc
    // drops, where q_quality_score only ranks (map-only; integer counts
    // until the final divisions so every threshold compare is engine-exact;
    // \s+ tokenization, the paper's 8 stopwords, and '#'/'…'/'...' symbols)
    "q_gopher_rules" -> ((s, dir) =>
      Curation.gopherRules(Tables.documents(s, dir), "doc_id", "text",
          minWords = 45L, maxWords = 100000L)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),

    // The same Gopher battery expressed ENTIRELY in spark.sql — the
    // SQL-surface parity check for the curation family (same DuckDB
    // oracle as q_gopher_rules): builtin HOFs (aggregate/filter) over
    // the one bound token array, identical integer counts and double
    // divisions. Reads the parquet path directly (no temp view: Verify
    // dumps queries from concurrent threads sharing one session).
    "q_gopher_rules_sql" -> ((s, dir) =>
      s.sql(
        raw"""WITH d AS (
           |  SELECT doc_id, text, split(trim(text), '\\s+') AS toks
           |  FROM parquet.`$dir/documents.parquet`),
           |m AS (
           |  SELECT doc_id,
           |    CAST(size(toks) AS BIGINT) AS n_words,
           |    aggregate(toks, CAST(0 AS BIGINT),
           |      (acc, t) -> acc + length(t)) AS sum_wl,
           |    CAST(size(filter(toks, t -> t RLIKE '[A-Za-z]'))
           |      AS BIGINT) AS n_alpha,
           |    CAST((CASE WHEN array_contains(toks, 'the') THEN 1 ELSE 0 END)
           |       + (CASE WHEN array_contains(toks, 'be') THEN 1 ELSE 0 END)
           |       + (CASE WHEN array_contains(toks, 'to') THEN 1 ELSE 0 END)
           |       + (CASE WHEN array_contains(toks, 'of') THEN 1 ELSE 0 END)
           |       + (CASE WHEN array_contains(toks, 'and') THEN 1 ELSE 0 END)
           |       + (CASE WHEN array_contains(toks, 'that') THEN 1 ELSE 0 END)
           |       + (CASE WHEN array_contains(toks, 'have') THEN 1 ELSE 0 END)
           |       + (CASE WHEN array_contains(toks, 'with') THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_stopwords,
           |    CAST((length(text) - length(replace(text, '#', '')))
           |       + (length(text) - length(replace(text, '…', '')))
           |       + regexp_count(text, '\\.\\.\\.')
           |      AS BIGINT) AS n_sym
           |  FROM d)
           |SELECT doc_id, n_words,
           |  round(CAST(sum_wl AS DOUBLE) / n_words, 4) AS mean_word_len,
           |  round(CAST(n_alpha AS DOUBLE) / n_words, 4) AS alpha_frac,
           |  n_stopwords,
           |  round(CAST(n_sym AS DOUBLE) / n_words, 4) AS symbol_ratio,
           |  n_words >= 45 AND n_words <= 100000 AS r_words,
           |  CAST(sum_wl AS DOUBLE) / n_words >= 3.0 AND
           |    CAST(sum_wl AS DOUBLE) / n_words <= 10.0 AS r_mean_wl,
           |  CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS r_alpha,
           |  n_stopwords >= 2 AS r_stop,
           |  CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS r_symbol,
           |  (n_words >= 45 AND n_words <= 100000) AND
           |    (CAST(sum_wl AS DOUBLE) / n_words >= 3.0 AND
           |     CAST(sum_wl AS DOUBLE) / n_words <= 10.0) AND
           |    CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AND
           |    n_stopwords >= 2 AND
           |    CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS keep
           |FROM m ORDER BY doc_id""".stripMargin)),

    // Per-language character-class mix — the script/charset profile run
    // before choosing tokenizers and language filters (a CJK corpus
    // labeled 'en' shows up as a nonascii_frac spike). Exact integer
    // char counts per class (pairwise-disjoint: ASCII alpha / digit /
    // ASCII whitespace / non-ASCII / remainder = ASCII punctuation),
    // single final divisions, identical regex trees in the oracle.
    "q_script_mix" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("lang"),
        length(col("text")).as("_n"),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("_alpha"),
        length(regexp_replace(col("text"), "[^0-9]", "")).as("_digit"),
        length(regexp_replace(col("text"), "[^ \\t\\n\\r]", "")).as("_ws"),
        length(regexp_replace(col("text"), "[\\x00-\\x7F]", "")).as("_na"))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("n_chars"),
          sum(col("_alpha")).as("_sa"), sum(col("_digit")).as("_sd"),
          sum(col("_ws")).as("_sw"), sum(col("_na")).as("_sn"))
        .select(col("lang"), col("n_docs"), col("n_chars"),
          round(col("_sa").cast("double") / col("n_chars"), 6).as("alpha_frac"),
          round(col("_sd").cast("double") / col("n_chars"), 6).as("digit_frac"),
          round(col("_sw").cast("double") / col("n_chars"), 6).as("ws_frac"),
          round(col("_sn").cast("double") / col("n_chars"), 6).as("nonascii_frac"),
          round((col("n_chars") - col("_sa") - col("_sd") - col("_sw") - col("_sn"))
            .cast("double") / col("n_chars"), 6).as("punct_frac"))
        .orderBy(col("lang"))
    }),

    // Gopher-style repetition signals via the one-pass kernel (distinct
    // tokens / top-token frequency / distinct adjacent bigrams in a
    // single scan; shuffle-free)
    "q_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), Curation.repetitionStats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n_tokens").as("n_tokens"),
          round(col("st.dup_token_frac"), 4).as("dup_token_frac"),
          round(col("st.top_token_frac"), 4).as("top_token_frac"),
          round(col("st.dup_bigram_frac"), 4).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))),

    // The same repetition signals via the REGISTERED repetition_stats
    // kernel from pure spark.sql (SQL-surface parity for a native
    // doGenCode Expression; same DuckDB oracle as q_repetition) — the
    // fraction arithmetic re-derives dup/top fractions from the kernel's
    // raw integer struct exactly as Curation.repetitionStats does.
    "q_repetition_sql" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      s.sql(
        raw"""WITH r AS (SELECT doc_id, repetition_stats(text) AS st
           |  FROM parquet.`$dir/documents.parquet`)
           |SELECT doc_id,
           |  st.n_tokens AS n_tokens,
           |  round(CASE WHEN st.n_tokens = 0 THEN 0.0
           |        ELSE 1.0 - CAST(st.n_distinct AS DOUBLE) / st.n_tokens
           |        END, 4) AS dup_token_frac,
           |  round(CASE WHEN st.n_tokens = 0 THEN 0.0
           |        ELSE CAST(st.top_count AS DOUBLE) / st.n_tokens
           |        END, 4) AS top_token_frac,
           |  round(CASE WHEN st.n_bigrams = 0 THEN 0.0
           |        ELSE 1.0 - CAST(st.n_distinct_bigrams AS DOUBLE) / st.n_bigrams
           |        END, 4) AS dup_bigram_frac
           |FROM r ORDER BY doc_id""".stripMargin)
    }),

    // PII scrubbing: the corpus itself is PII-free, so each doc gets a
    // deterministic doc_id-derived PII suffix appended IN THE QUERY (both
    // engines build the identical string) — the oracle then verifies real
    // extraction counts and the md5 of the actually-redacted text, not
    // vacuous zeros. Pattern behavior on hand-written PII is unit-tested
    // in CurationSpec.
    "q_pii_scrub" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com ip 10.0."), (col("doc_id") % 200).cast("string"),
        lit(".7 call 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      // cut before the global sort: the range partitioner's sampling
      // pass otherwise runs the whole regex battery twice (r15)
      Lineage.cut(Tables.documents(s, dir)
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"), Curation.piiCounts(col("aug")).as("pii"),
          md5(Curation.scrubPii(col("aug")).cast("binary")).as("redacted_md5"))
        .select(col("doc_id"),
          col("pii.n_emails").as("n_emails"),
          col("pii.n_ips").as("n_ips"),
          col("pii.n_phones").as("n_phones"),
          col("redacted_md5")), "q_pii_scrub.rows")
        .orderBy(col("doc_id"))
    }),

    // chained-xxhash64 fingerprint + lookaround tokenizer: not expressible
    // in DuckDB SQL → rows-only check
    "q_fingerprint" -> ((s, dir) =>
      Lineage.cut(Tables.documents(s, dir) // kernels once, not 2x (sort sampling; r15)
        .select(col("doc_id"),
          TextAnalytics.fingerprint(col("text")).as("fp"),
          size(TextAnalytics.bpeishTokens(col("text"))).cast("long").as("n_bpe_tokens")),
        "q_fingerprint.rows")
        .orderBy(col("doc_id"))),

    // Corpus-frequency boilerplate removal (CCNet/RefinedWeb line-dedup
    // analog at passage granularity): passages in ≥2 distinct documents
    // are dropped from EVERY document — unlike q_passage_dedup's
    // first-occurrence-wins (see Curation.boilerplatePassages scale notes)
    "q_boilerplate" -> ((s, dir) =>
      Curation.boilerplatePassages(Tables.documents(s, dir), "doc_id", "text",
          passageWords = 10, minDocs = 2)
        .select(col("id").as("doc_id"), col("n_passages"), col("n_kept"),
          col("clean_text"))
        .orderBy(col("doc_id"))),

    // RAG token-window chunking: overlapping size-40/stride-30 windows,
    // map-only fan-out (chunk count + slices all ride the scan)
    "q_chunk_tokens" -> ((s, dir) =>
      Packing.chunkByTokens(Tables.documents(s, dir), "doc_id", "text",
          chunkSize = 40, stride = 30)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk_text"),
          col("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Flesch-style reading ease with vowel-run syllable estimate —
    // map-only regexp_count arithmetic on exact integer counts
    "q_readability" -> ((s, dir) =>
      Tables.documents(s, dir)
        .where(TextAnalytics.tokenCount(col("text")) > 0)
        .select(col("doc_id"),
          TextAnalytics.tokenCount(col("text")).cast("long").as("n_words"),
          TextAnalytics.vowelGroups(col("text")).cast("long").as("n_vowel_groups"),
          round(TextAnalytics.readingEase(col("text")), 4).as("reading_ease"))
        .orderBy(col("doc_id"))),

    // Corpus-driven stopword mining: document-frequency ratio ≥ 0.6.
    "q_stopwords" -> ((s, dir) =>
      CorpusStats.stopwords(Tables.documents(s, dir), "text", 0.6)
        .orderBy(col("token"))),

    // OOV rate per doc against the corpus's own top-30 tokens.
    "q_oov_rate" -> ((s, dir) =>
      CorpusStats.oovRate(Tables.documents(s, dir), "doc_id", "text", 30)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_oov"),
          col("oov_rate"))
        .orderBy(col("doc_id"))),

    // First-occurrence shingle novelty (information-gain curve of the
    // crawl, id order = arrival order). Shares the checkpointed shingle
    // table; hashes engine-side vs shingle strings oracle-side (the
    // q_cross_source 2^-64 collision argument).
    "q_novelty" -> ((s, dir) =>
      CorpusStats.novelty(docShingles(s, dir))
        .select(col("id").as("doc_id"), col("n_sh"), col("n_novel"),
          col("novelty"))
        .orderBy(col("doc_id"))),

    // Per-source token Shannon entropy (vocabulary diversity signal):
    // the corpus reduces to a (source, token) count dimension before
    // any floating point happens
    "q_entropy" -> ((s, dir) =>
      Stats.entropy(
          Tables.documents(s, dir).select(col("source"),
            explode(TextAnalytics.tokens(col("text"))).as("tok")),
          "source", col("tok"))
        .select(col("group").as("source"), col("n_distinct"), col("n_total"),
          round(col("entropy"), 6).as("entropy"))
        .orderBy(col("source"))),

    // BPE merge candidates: corpus-wide adjacent token-pair counts (the
    // first tokenizer-training step) — zip_with'd shifted slices explode
    // to pairs, one count aggregate
    "q_bpe_pairs" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalytics.tokenPairs(col("text"))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
        .where(col("n") >= 3)
        .orderBy(col("n").desc, col("a"), col("b"))),

    // BPE end-to-end: merges trained driver-side on the CAPPED word-
    // frequency table (bounded state, the PQ-codebook argument), then a
    // map-only codegen encode pass. Iterative merge application is not
    // SQL-expressible -> rows-only; kernel ≡ reference asserted in
    // BpeSpec, training determinism asserted, row count pinned
    "q_bpe_encode" -> ((s, dir) =>
      // cut of the NARROW row before the global sort: the range
      // partitioner's sampling pass otherwise runs the trained
      // merge-encode kernel twice (the r15 pii_scrub pattern; r16)
      Lineage.cut(Bpe.encodeCorpus(Tables.documents(s, dir), "doc_id", "text",
          numMerges = 50, vocabCap = 5000)
        .select(col("id").as("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          size(array_distinct(col("subwords"))).cast("long").as("n_unique")),
        "q_bpe_encode.rows")
        .orderBy(col("doc_id"))),

    // PMI collocation mining: bigram pairs scored ln(c_ab·N/(c_a·c_b))
    // with marginals from the bigram dimension itself — one explode+
    // count reduce, minCount prune BEFORE the marginal joins
    "q_collocations" -> ((s, dir) =>
      Retrieval.collocations(Tables.documents(s, dir), "text", minCount = 5)
        .select(col("a"), col("b"), col("cab"), round(col("pmi"), 6).as("pmi"))
        .orderBy(col("a"), col("b"))),

    // Corpus-likelihood quality (perplexity-filter proxy): mean unigram
    // log-prob under the corpus's own empirical distribution — the
    // frequency table is the bounded dimension, broadcast back
    "q_unigram_logprob" -> ((s, dir) =>
      Curation.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("avg_logp"), 4).as("avg_logp"))
        .orderBy(col("doc_id"))),

    // Canonical text normalization: one codegen kernel pass (NFD accent
    // fold + lowercase + whitespace collapse + trim) over accented
    // strings both engines construct from doc_id — the oracle is
    // DuckDB's independent strip_accents/lower/regexp pipeline
    "q_normalize_text" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
          graft.functions.CurationExpr.normalizeText(
            concat(lit("  CaFé  ÑANDÚ\tàëï  Ök "),
              col("doc_id").cast("string"), lit("  "))).as("norm"))
        .orderBy(col("doc_id"))),

    // Interpolated-bigram corpus likelihood (λ=0.7 conditional +
    // suffix-unigram backoff) — the order-sensitive perplexity proxy
    "q_bigram_logprob" -> ((s, dir) =>
      Curation.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          round(col("avg_logp"), 4).as("avg_logp"))
        .orderBy(col("doc_id"))),

    // Zipf rank-frequency fit over the top-200 vocabulary: global rank
    // by (freq desc, term) via the two-level globalOrderIndex (never a
    // corpus-wide single-partition window), then ln-ln regression slope
    // — the "is this natural language" corpus diagnostic (~ -1 for
    // Zipfian text)
    "q_zipf_fit" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(explode(TextAnalytics.tokens(lower(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("f"))
      Packing.globalOrderIndex(tf, -col("f"), Seq(col("term").asc))
        .where(col("rank") <= 200)
        .agg(count(lit(1)).as("n_terms"),
          round(expr("regr_slope(ln(f), ln(rank))"), 4).as("zipf_slope"),
          round(expr("regr_r2(ln(f), ln(rank))"), 4).as("r2"))
    }),
  )

  // The pure-SQL twins compute identical tables to their DataFrame
  // originals, so each shares its original's oracle verbatim (appended
  // below the literal Seq — one source of truth per oracle).
  val oracles: Seq[(String, String)] = {
    val base = declaredOracles
    val m = base.toMap
    base ++ Seq(
      "q_gopher_rules_sql" -> m("q_gopher_rules"),
      "q_repetition_sql" -> m("q_repetition"))
  }

  private def declaredOracles: Seq[(String, String)] = Seq(
    "q_token_count" ->
      """SELECT lang, cast(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id, cast(length(text) AS BIGINT) AS n_chars2,
        |  cast(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |  round(len(list_filter(string_split(lower(text),' '),
        |        t -> t IN ('the','a','of','and'))) * 1.0
        |        / len(string_split(text,' ')), 4) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_explode_freq" ->
      """SELECT token, count(*) AS freq FROM
        |(SELECT unnest(string_split(text,' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY freq DESC, token LIMIT 20""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id,
        |  CASE WHEN en_score > de_score THEN 'en' ELSE 'de' END AS lang_guess
        |FROM (SELECT doc_id,
        |        (CASE WHEN contains(norm,' the ') THEN 1 ELSE 0 END +
        |         CASE WHEN contains(norm,' and ') THEN 1 ELSE 0 END +
        |         CASE WHEN contains(norm,' of ') THEN 1 ELSE 0 END +
        |         CASE WHEN contains(norm,' to ') THEN 1 ELSE 0 END) AS en_score,
        |        (CASE WHEN contains(norm,' der ') THEN 1 ELSE 0 END +
        |         CASE WHEN contains(norm,' und ') THEN 1 ELSE 0 END +
        |         CASE WHEN contains(norm,' die ') THEN 1 ELSE 0 END +
        |         CASE WHEN contains(norm,' ist ') THEN 1 ELSE 0 END) AS de_score
        |      FROM (SELECT doc_id,
        |              ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ' AS norm
        |            FROM documents) a) b
        |ORDER BY doc_id""".stripMargin,

    // the final round mirrors Spark's DOUBLE rounding STRUCTURALLY:
    // Spark's Round goes through the double's shortest decimal form
    // (BigDecimal HALF_UP), DuckDB's round() rounds the scaled BINARY
    // value — the two disagree exactly on half-way shortest decimals,
    // and this score's ratio arithmetic produces them systematically
    // (e.g. 0.66375 at the sf1 tiling: Spark 0.6638, raw DuckDB
    // 0.6637). VARCHAR::DECIMAL re-creates the shortest decimal form,
    // so round() then matches Spark's half-up on it bit-for-bit.
    "q_quality_score" ->
      """SELECT doc_id,
        |  CAST(round(CAST(CAST((len_score + punct_score + sw_score) / 3.0
        |    AS VARCHAR) AS DECIMAL(25,18)), 4) AS DOUBLE) AS quality
        |FROM (SELECT doc_id,
        |        least(length(text) / 500.0, 1.0) AS len_score,
        |        1.0 - least(
        |          (CASE WHEN length(text) = 0 THEN 0.0
        |                ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text)
        |           END) * 5.0, 1.0) AS punct_score,
        |        1.0 - abs(
        |          (CASE WHEN len(toks) = 0 THEN 0.0
        |                ELSE len(list_filter(toks, t -> t IN ('the','a','of','and'))) * 1.0 / len(toks)
        |           END) - 0.4) AS sw_score
        |      FROM (SELECT doc_id, text,
        |              list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0) AS toks
        |            FROM documents) a) b
        |ORDER BY doc_id""".stripMargin,

    // same integer counts and double divisions as the Spark side, so the
    // rule verdicts (threshold compares on those doubles) cannot diverge
    // \s+ tokenization after trim, the paper's 8 stopwords, and the
    // symbol count including ASCII '...' — mirroring Curation.gopherRules
    "q_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, t -> length(t)))
        |      AS BIGINT) AS sum_wl,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
        |       + (CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END)
        |       + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
        |       + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
        |       + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
        |       + (CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END)
        |       + (CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END)
        |       + (CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_stopwords,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |       + (length(text) - length(replace(text, '…', '')))
        |       + len(regexp_extract_all(text, '\.\.\.'))
        |      AS BIGINT) AS n_sym
        |  FROM d)
        |SELECT doc_id, n_words,
        |  round(CAST(sum_wl AS DOUBLE) / n_words, 4) AS mean_word_len,
        |  round(CAST(n_alpha AS DOUBLE) / n_words, 4) AS alpha_frac,
        |  n_stopwords,
        |  round(CAST(n_sym AS DOUBLE) / n_words, 4) AS symbol_ratio,
        |  n_words >= 45 AND n_words <= 100000 AS r_words,
        |  CAST(sum_wl AS DOUBLE) / n_words >= 3.0 AND
        |    CAST(sum_wl AS DOUBLE) / n_words <= 10.0 AS r_mean_wl,
        |  CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS r_alpha,
        |  n_stopwords >= 2 AS r_stop,
        |  CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS r_symbol,
        |  (n_words >= 45 AND n_words <= 100000) AND
        |    (CAST(sum_wl AS DOUBLE) / n_words >= 3.0 AND
        |     CAST(sum_wl AS DOUBLE) / n_words <= 10.0) AND
        |    CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AND
        |    n_stopwords >= 2 AND
        |    CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    // identical regex trees; integer char counts, single final divisions
    "q_script_mix" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_chars,
        |  round(CAST(sum(a) AS DOUBLE) / CAST(sum(n) AS BIGINT), 6) AS alpha_frac,
        |  round(CAST(sum(d) AS DOUBLE) / CAST(sum(n) AS BIGINT), 6) AS digit_frac,
        |  round(CAST(sum(w) AS DOUBLE) / CAST(sum(n) AS BIGINT), 6) AS ws_frac,
        |  round(CAST(sum(x) AS DOUBLE) / CAST(sum(n) AS BIGINT), 6) AS nonascii_frac,
        |  round(CAST(sum(n) - sum(a) - sum(d) - sum(w) - sum(x) AS DOUBLE)
        |        / CAST(sum(n) AS BIGINT), 6) AS punct_frac
        |FROM (SELECT lang, length(text) AS n,
        |        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS a,
        |        length(regexp_replace(text, '[^0-9]', '', 'g')) AS d,
        |        length(regexp_replace(text, '[^ \t\n\r]', '', 'g')) AS w,
        |        length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS x
        |      FROM documents) t
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_repetition" ->
      """SELECT doc_id, cast(len(toks) AS BIGINT) AS n_tokens,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |             ELSE 1.0 - len(list_distinct(toks)) * 1.0 / len(toks) END, 4)
        |    AS dup_token_frac,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |             ELSE list_max(list_transform(list_distinct(toks),
        |                    t -> len(list_filter(toks, x -> x = t)))) * 1.0 / len(toks) END, 4)
        |    AS top_token_frac,
        |  round(CASE WHEN len(bgs) = 0 THEN 0.0
        |             ELSE 1.0 - len(list_distinct(bgs)) * 1.0 / len(bgs) END, 4)
        |    AS dup_bigram_frac
        |FROM (SELECT doc_id, toks,
        |        list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
        |      FROM (SELECT doc_id,
        |              list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |            FROM documents) a) b
        |ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" ->
      """SELECT doc_id,
        |  cast(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  cast(len(regexp_extract_all(aug, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
        |  cast(len(regexp_extract_all(aug, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |      '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM (SELECT doc_id,
        |        text || ' contact user' || doc_id || '@example.com ip 10.0.' ||
        |        (doc_id % 200) || '.7 call 415-555-' ||
        |        lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    // passage construction identical to q_passage_dedup's; the verdict is
    // a doc-frequency threshold instead of first-occurrence rank
    "q_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p AS (
        |  SELECT doc_id, i AS pidx,
        |         array_to_string(ws[(i-1)*10+1 : i*10], ' ') AS passage
        |  FROM w, UNNEST(generate_series(1,
        |    greatest(CAST(ceil(len(ws)/10.0) AS BIGINT), 1))) AS t(i)),
        |df AS (SELECT passage, count(DISTINCT doc_id) AS _df
        |       FROM p GROUP BY 1)
        |SELECT p.doc_id, count(*) AS n_passages,
        |       count(CASE WHEN _df < 2 THEN 1 END) AS n_kept,
        |       coalesce(array_to_string(
        |         list(passage ORDER BY pidx) FILTER (WHERE _df < 2), ' '),
        |         '') AS clean_text
        |FROM p JOIN df USING (passage)
        |GROUP BY p.doc_id ORDER BY doc_id""".stripMargin,

    // list slicing is 1-based inclusive on both sides (DuckDB l[a:b] ≡
    // Spark slice(l, a, b-a+1)); chunk-count rule mirrored exactly
    "q_chunk_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |           x -> length(x) > 0) AS l FROM documents),
        |c AS (SELECT doc_id, l,
        |        greatest(1, CAST(ceil((len(l) - 40) / 30.0) AS INT) + 1) AS nc
        |      FROM toks)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       array_to_string(l[chunk_idx*30 + 1 : chunk_idx*30 + 40], ' ') AS chunk_text,
        |       CAST(len(l[chunk_idx*30 + 1 : chunk_idx*30 + 40]) AS BIGINT) AS n_tokens
        |FROM (SELECT doc_id, l, unnest(range(nc)) AS chunk_idx FROM c) t
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_readability" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
        |      AS n_vowel_groups,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE)
        |      AS sentences
        |  FROM documents)
        |SELECT doc_id, n_words, n_vowel_groups,
        |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / sentences)
        |    - 84.6 * (CAST(n_vowel_groups AS DOUBLE) / CAST(n_words AS DOUBLE)),
        |    4) AS reading_ease
        |FROM t WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // threshold compares the ROUNDED ratio on both sides (parity rule)
    "q_stopwords" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)),
        |d AS (SELECT token, count(*) AS df FROM dt GROUP BY token),
        |tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT token, df, round(df * 1.0 / n_docs, 4) AS df_ratio
        |FROM d, tot
        |WHERE round(df * 1.0 / n_docs, 4) >= 0.6
        |ORDER BY token""".stripMargin,

    "q_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |vocab AS (SELECT token FROM (
        |  SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS rk
        |  FROM (SELECT token, count(*) AS cnt FROM tok GROUP BY token) c) r
        |  WHERE rk <= 30)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0
        |        / count(*), 4) AS oov_rate
        |FROM tok t LEFT JOIN vocab v ON t.token = v.token
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // shingle CTE copied from q_dedup_clusters_ngram: hashes engine-side
    // vs shingle strings oracle-side (q_cross_source collision argument)
    "q_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(
        |      list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(toks[i+1:i+3], ' ')),
        |      s -> length(s) > 0)) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |        FROM documents) t),
        |ex AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(s) AS g FROM sh)),
        |f AS (SELECT g, min(doc_id) AS first_id FROM ex GROUP BY g)
        |SELECT e.doc_id, count(*) AS n_sh,
        |  CAST(sum(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(sum(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END) * 1.0
        |        / count(*), 4) AS novelty
        |FROM ex e JOIN f ON e.g = f.g
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

    "q_bpe_pairs" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'),
        |                  x -> length(x) > 0) AS l FROM documents),
        |p AS (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |      FROM t WHERE len(l) >= 2)
        |SELECT z[1] AS a, z[2] AS b, count(*) AS n FROM p
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY n DESC, a, b""".stripMargin,

    "q_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
        |    x -> length(x) > 0)) AS t FROM documents),
        |freq AS (SELECT t, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM freq)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(sum(ln(cnt / tot)) / count(*), 4) AS avg_logp
        |FROM toks JOIN freq USING (t) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // bigram extraction mirrors q_bpe_pairs; marginals and N come from
    // the same bigram table so both engines divide identical integers
    "q_collocations" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'),
        |                  x -> length(x) > 0) AS l FROM documents),
        |pr AS (SELECT z[1] AS a, z[2] AS b FROM (
        |         SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |         FROM t WHERE len(l) >= 2) u),
        |big AS (SELECT a, b, count(*) AS cab FROM pr GROUP BY 1, 2),
        |pre AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM big GROUP BY 1),
        |suf AS (SELECT b, CAST(sum(cab) AS BIGINT) AS cb FROM big GROUP BY 1),
        |tot AS (SELECT CAST(sum(cab) AS BIGINT) AS tot FROM big)
        |SELECT a, b, cab, round(ln((cab * tot) / (ca * cb)), 6) AS pmi
        |FROM big JOIN pre USING (a) JOIN suf USING (b) CROSS JOIN tot
        |WHERE cab >= 5 ORDER BY a, b""".stripMargin,

    "q_entropy" ->
      """WITH t AS (SELECT source,
        |    unnest(list_filter(string_split_regex(text, '\s+'),
        |      x -> length(x) > 0)) AS tok FROM documents),
        |c AS (SELECT source, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT source, count(*) AS n_distinct, max(tot) AS n_total,
        |       round(-sum((cnt / tot) * ln(cnt / tot)), 6) AS entropy
        |FROM c JOIN tot USING (source)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(strip_accents(
        |    '  CaFé  ÑANDÚ' || chr(9) || 'àëï  Ök ' ||
        |    CAST(doc_id AS VARCHAR) || '  ')), '\s+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    // (1 - 0.7) is written as the expression, not the literal 0.3 — the
    // doubles differ in the last ulp and both sides must compute the
    // same interpolation weight
    "q_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |                    x -> length(x) > 0) AS l FROM documents),
        |pr AS (SELECT doc_id, z[1] AS a, z[2] AS b FROM (
        |         SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |         FROM t WHERE len(l) >= 2) u),
        |big AS (SELECT a, b, count(*) AS cab FROM pr GROUP BY 1, 2),
        |pre AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM big GROUP BY 1),
        |suf AS (SELECT b, CAST(sum(cab) AS BIGINT) AS cb FROM big GROUP BY 1),
        |tot AS (SELECT CAST(sum(cab) AS BIGINT) AS tot FROM big)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(sum(ln(0.7 * cab / ca + (1 - 0.7) * cb / tot)) / count(*), 4) AS avg_logp
        |FROM pr JOIN big USING (a, b) JOIN pre USING (a) JOIN suf USING (b)
        |CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_zipf_fit" ->
      """WITH tf AS (SELECT term, count(*) AS f FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> length(x) > 0)) AS term
        |    FROM documents) t GROUP BY 1),
        |r AS (SELECT term, f,
        |    row_number() OVER (ORDER BY f DESC, term) AS rank FROM tf)
        |SELECT count(*) AS n_terms,
        |  round(regr_slope(ln(f), ln(rank)), 4) AS zipf_slope,
        |  round(regr_r2(ln(f), ln(rank)), 4) AS r2
        |FROM r WHERE rank <= 200""".stripMargin,
  )
}
