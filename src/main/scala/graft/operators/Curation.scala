package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CurationExpr, DedupExpr, TextAnalytics}

/** Corpus-curation operators for LLM training-data pipelines:
  * benchmark decontamination, repetition signals, PII scrubbing.
  *
  * Scale design mirrors [[Dedup]]: shuffles carry 64-bit derived keys or
  * small per-document stats, never document text; the benchmark side of
  * decontamination is broadcast (eval suites are dimension-sized); all
  * per-row work is codegen'd kernels or builtins.
  */
object Curation {

  /** Benchmark decontamination: for every document, how many of its
    * distinct k-token shingles also occur anywhere in `bench` (the
    * held-out eval corpus). A doc with `n_shared > 0` is contaminated —
    * the standard train/test-overlap filter applied before training.
    *
    * Plan shape: the benchmark's distinct shingle hashes (a bounded set —
    * eval suites are MBs, not TBs) are broadcast; documents explode to
    * (id, shingle_hash) rows, hash-join the broadcast set map-side, and
    * aggregate counts per id — the only shuffle carries (id, partial
    * count). Shingling runs once: the (id, shingles) projection is
    * materialized before fan-out because both the size() branch and the
    * explode branch consume it.
    *
    * Returns (id, n_sh, n_shared, overlap_frac, contaminated) for EVERY
    * input document, including zero-overlap ones.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    k: Int = 3): DataFrame =
    decontaminatePre(
      Lineage.cut(docs.select(col(idCol).as("id"),
          DedupExpr.shingleHashes(TextAnalytics.tokens(col(textCol)), k).as("sh")),
        "Curation.decontaminate.docs"),
      bench.select(
        explode(DedupExpr.shingleHashes(
          TextAnalytics.tokens(col(benchTextCol)), k)).as("h")).distinct())

  /** [[decontaminate]] over a PRE-SHINGLED corpus: `shingled` carries
    * (id, sh: array<long>), `benchSh` the benchmark's distinct shingle
    * hashes as (h). The caller owns materialization of both — the hook
    * that lets one checkpointed shingle table feed the whole n-gram
    * family instead of re-running the shingle kernel per query.
    */
  def decontaminatePre(shingled: DataFrame, benchSh: DataFrame): DataFrame = {
    val shared = shingled.select(col("id"), explode(col("sh")).as("h"))
      .join(broadcast(benchSh), Seq("h"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    shingled.select(col("id"), size(col("sh")).cast("long").as("n_sh"))
      .join(shared, Seq("id"), "left")
      .select(col("id"), col("n_sh"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("overlap_frac",
        when(col("n_sh") === 0L, lit(0.0))
          .otherwise(col("n_shared").cast("double") / col("n_sh")))
      .withColumn("contaminated", col("n_shared") > 0L)
  }

  /** Decontamination for benchmark sets too large to broadcast raw: a
    * Bloom filter over the benchmark's distinct shingle hashes (compact,
    * ~10 bits/key at 1% fpp — 50× smaller than the 64-bit hash set)
    * prefilters the exploded document shingles MAP-SIDE, and only the
    * surviving candidates are exact-verified with a shuffle hash join
    * against the benchmark hashes. No false negatives (Bloom guarantees
    * containment), so the result is IDENTICAL to [[decontaminate]] —
    * same oracle — while the full corpus never joins anything: at 100 TB
    * the per-row cost is one Bloom probe and the exchange carries only
    * the candidate fraction (≈ true overlap + fpp).
    *
    * The exact-verify join is pinned to shuffle-hash rather than left to
    * the planner: at test scale Catalyst would broadcast the benchmark
    * side, which is exactly the plan this variant exists to avoid.
    */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         k: Int = 3, fpp: Double = 0.01): DataFrame =
    decontaminateBloomPre(
      Lineage.cut(docs.select(col(idCol).as("id"),
          DedupExpr.shingleHashes(TextAnalytics.tokens(col(textCol)), k).as("sh")),
        "Curation.decontaminateBloom.docs"),
      Lineage.cut(bench.select( // read by the bloom build AND the exact-verify join
          explode(DedupExpr.shingleHashes(
            TextAnalytics.tokens(col(benchTextCol)), k)).as("h")).distinct(),
        "Curation.decontaminateBloom.bench"),
      fpp)

  /** [[decontaminateBloom]] over a pre-shingled corpus (same contract as
    * [[decontaminatePre]]; `benchSh` should be materialized — it is
    * consumed twice, by the Bloom build and the exact-verify join).
    */
  def decontaminateBloomPre(shingled: DataFrame, benchSh: DataFrame,
                            fpp: Double = 0.01): DataFrame = {
    val nBench = benchSh.count()
    // stat.bloomFilter NPEs on an empty relation (null aggregate buffer);
    // an empty benchmark means a never-matching filter
    val bloom =
      if (nBench > 0) benchSh.stat.bloomFilter("h", nBench, fpp)
      else org.apache.spark.util.sketch.BloomFilter.create(1)
    val candidates = shingled.select(col("id"), explode(col("sh")).as("h"))
      .where(CurationExpr.bloomMightContain(col("h"), bloom))
    val shared = candidates.join(benchSh.hint("shuffle_hash"), Seq("h"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    shingled.select(col("id"), size(col("sh")).cast("long").as("n_sh"))
      .join(shared, Seq("id"), "left")
      .select(col("id"), col("n_sh"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("overlap_frac",
        when(col("n_sh") === 0L, lit(0.0))
          .otherwise(col("n_shared").cast("double") / col("n_sh")))
      .withColumn("contaminated", col("n_shared") > 0L)
  }

  /** Gopher-style per-document repetition signals from the one-pass
    * [[graft.functions.CurationKernels.repetitionStats]] kernel:
    *   - dup_token_frac:  1 − distinct/total tokens
    *   - top_token_frac:  highest single-token frequency / total tokens
    *   - dup_bigram_frac: 1 − distinct/total adjacent bigrams
    * Empty documents score 0.0 everywhere (no repetition evidence).
    * Shuffle-free; the struct is projected once and CSE shares it across
    * the derived fields.
    */
  def repetitionStats(text: Column): Column = {
    val st = CurationExpr.repetitionStats(text)
    val n = st.getField("n_tokens")
    val nb = st.getField("n_bigrams")
    struct(
      n.as("n_tokens"),
      when(n === 0L, lit(0.0))
        .otherwise(lit(1.0) - st.getField("n_distinct").cast("double") / n)
        .as("dup_token_frac"),
      when(n === 0L, lit(0.0))
        .otherwise(st.getField("top_count").cast("double") / n)
        .as("top_token_frac"),
      when(nb === 0L, lit(0.0))
        .otherwise(lit(1.0) - st.getField("n_distinct_bigrams").cast("double") / nb)
        .as("dup_bigram_frac"))
  }

  /** PII patterns: deliberately lookaround-free so the same pattern runs
    * identically under Java regex (Spark) and RE2 (DuckDB oracle, most
    * scan-side engines). Redaction order is email → IP → phone; the
    * earlier replacements insert no digits, so later patterns cannot
    * match inside a placeholder.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val phoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** Redact emails, IPv4 addresses and NNN-NNN-NNNN phone numbers. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipRe, "<IP>"),
      phoneRe, "<PHONE>")

  /** Per-document PII hit counts (same patterns as [[scrubPii]]). */
  def piiCounts(text: Column): Column =
    struct(
      regexp_count(text, lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(text, lit(ipRe)).cast("long").as("n_ips"),
      regexp_count(text, lit(phoneRe)).cast("long").as("n_phones"))

  /** Corpus-likelihood quality signal — the perplexity-filter proxy that
    * needs no external model: score every document by the mean unigram
    * log-probability of its tokens under the corpus's own empirical
    * distribution. Low scores flag documents full of corpus-rare tokens
    * (boilerplate, encoding junk, foreign-language intrusions); the
    * standard cheap stand-in for LM-perplexity filtering.
    *
    * Scale shape: one token-keyed aggregate builds the frequency table
    * (vocabulary-sized — the bounded dimension), which joins back to the
    * exploded tokens by broadcast; the only corpus-keyed shuffle is the
    * final per-document mean. At open-vocabulary scale cap the frequency
    * table with [[HeavyHitters.misraGries]] and floor the tail.
    *
    * Returns (id, n_tokens, avg_logp); empty documents are absent (no
    * tokens ⇒ no likelihood evidence).
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(TextAnalytics.tokens(col(textCol))).as("t"))
    val freq = toks.groupBy(col("t")).agg(count(lit(1)).as("_cnt"))
    val total = freq.agg(sum(col("_cnt")).as("_tot"))
    toks.join(broadcast(freq), Seq("t"))
      .crossJoin(broadcast(total))
      .select(col("id"), log(col("_cnt") / col("_tot")).as("_lp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_lp")).as("_slp"))
      .select(col("id"), col("n_tokens"),
        (col("_slp") / col("n_tokens")).as("avg_logp"))
  }

  /** Interpolated-BIGRAM corpus likelihood — the next-order upgrade of
    * [[unigramLogProb]]: score every bigram position by
    * p(b|a) = λ·c(a,b)/c(a·) + (1−λ)·c(·b)/N, where c(a·)/c(·b) are the
    * corpus counts of `a` as a bigram prefix / `b` as a suffix and N is
    * the total bigram count — a properly-normalized conditional with
    * suffix-unigram backoff, so unseen-in-context continuations are
    * down-weighted instead of impossible. Catches token-order junk
    * (shuffled text, interleaved columns) that any unigram score is
    * blind to. Mean log-prob per document; documents with < 2 tokens
    * are absent (no bigram evidence — the [[unigramLogProb]] contract).
    *
    * Scale shape: the raw occurrence stream is reduced to per-document
    * distinct bigrams (id, a, b, cnt) FIRST — a corpus-keyed shuffle a
    * hot bigram cannot skew (the key includes id) — and every later join
    * touches only that reduced dimension, weighting each log term by
    * cnt. The global bigram table is then the only super-vocabulary
    * aggregate — it joins back by its (a, b) key (AQE broadcasts when it
    * fits; at open-vocabulary scale cap it with
    * [[HeavyHitters.misraGries]] and floor the tail); the prefix/suffix
    * tables are vocabulary-bounded broadcasts, and the final
    * per-document mean re-shuffles only distinct-bigram rows.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.7): DataFrame = {
    require(lambda > 0.0 && lambda <= 1.0, s"lambda $lambda")
    // tokenPairs + explode + the per-doc bigram reduce are the CPU; a
    // one-split corpus runs them in a single task — spread it (guide
    // §2.6; identity at real scale, see Par)
    val pairs = Par.spreadSmallScan(docs, col(idCol))
      .select(col(idCol).as("id"),
        explode(TextAnalytics.tokenPairs(col(textCol))).as("p"))
      .select(col("id"), col("p.a").as("a"), col("p.b").as("b"))
    // reduce-before-join: collapse repeats within a document so the
    // (a, b)-keyed join below never carries the occurrence stream —
    // repeated bigrams contribute cnt·log(p), not cnt joined rows.
    // Lineage cuts (r16): docBig feeds the scoring join + the
    // bigram dimension, and big feeds pre/suf/tot + the join — each
    // dimension rides a broadcast whose racing build materializes its
    // OWN copy of the upstream stages (AQE's stage cache does not
    // dedupe stages created inside in-flight broadcasts; final-plan
    // evidence showed the tokenPairs kernel running once per branch).
    // The first build computes the blocks, everyone else reads them.
    val docBig = Lineage.cut(pairs.groupBy(col("id"), col("a"), col("b"))
      .agg(count(lit(1)).as("_cnt")), "Curation.bigramLogProb.docBig")
    val big = Lineage.cut(docBig.groupBy(col("a"), col("b"))
      .agg(sum(col("_cnt")).as("_cab")), "Curation.bigramLogProb.big")
    val pre = big.groupBy(col("a")).agg(sum(col("_cab")).as("_ca"))
    val suf = big.groupBy(col("b")).agg(sum(col("_cab")).as("_cb"))
    val tot = big.agg(sum(col("_cab")).as("_tot"))
    docBig.join(big, Seq("a", "b"))
      .join(broadcast(pre), Seq("a"))
      .join(broadcast(suf), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("id"), col("_cnt"),
        (col("_cnt") * log(lit(lambda) * col("_cab") / col("_ca")
          + lit(1 - lambda) * col("_cb") / col("_tot"))).as("_lp"))
      .groupBy(col("id"))
      .agg(sum(col("_cnt")).as("n_bigrams"), sum(col("_lp")).as("_slp"))
      .select(col("id"), col("n_bigrams"),
        (col("_slp") / col("n_bigrams")).as("avg_logp"))
  }

  /** End-to-end curation decision — the composed keep/drop pipeline a
    * training-data run executes per document:
    *
    *   keep = quality ≥ minQuality
    *        ∧ dup_token_frac ≤ maxDupTokenFrac
    *        ∧ NOT contaminated (shingle overlap with `bench`)
    *        ∧ exact-duplicate keeper (min id per identical content)
    *
    * One pass computes the per-document signals (kernels, shuffle-free);
    * contamination adds the broadcast-benchmark join of
    * [[decontaminate]]; the exact-dup keeper adds one aggregation on
    * xxhash64(text) — grouping by the 64-bit content hash, not the text,
    * so the exchange carries 8-byte keys (the [[Dedup.exactByKey]]
    * discipline). Returns every document with its signals and the final
    * `keep` verdict, so downstream filters stay auditable.
    */
  /** Cross-source contamination matrix: for every pair of sources, how
    * many DISTINCT k-token shingles they share — the diagnostic that
    * finds boilerplate, mirrored subsets and template reuse across data
    * sources before they poison a dedup-by-source sampling plan (exact
    * cross-source duplicates are the endgame this catches early;
    * [[decontaminate]] is the targeted benchmark variant).
    *
    * Scale shape: the corpus reduces to DISTINCT (source, shingle-hash)
    * — 64-bit hashes from the codegen kernel, never shingle strings —
    * and the pair join is keyed by the hash with fan-out bounded by
    * #sources² per shingle (sources are a small dimension by nature).
    */
  def crossSourceOverlap(docs: DataFrame, sourceCol: String, textCol: String,
                         k: Int = 3): DataFrame =
    crossSourceOverlapPre(
      Lineage.cut(docs.select(col(sourceCol).as("_src"),
          explode(DedupExpr.shingleHashes(TextAnalytics.tokens(col(textCol)), k)).as("h"))
        .distinct(), "Curation.crossSourceOverlap.shingles"))

  /** [[crossSourceOverlap]] over pre-exploded DISTINCT (_src, h) rows
    * (caller owns materialization — both self-join branches consume it).
    */
  def crossSourceOverlapPre(sh: DataFrame): DataFrame = {
    sh.select(col("h"), col("_src").as("source_a"))
      .join(sh.select(col("h"), col("_src").as("source_b")), Seq("h"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  def pipeline(docs: DataFrame, idCol: String, textCol: String,
               bench: DataFrame, benchTextCol: String,
               stopwords: Seq[String], minQuality: Double = 0.5,
               maxDupTokenFrac: Double = 0.6, shingleK: Int = 3): DataFrame = {
    val id = col(idCol)
    val signals = docs.select(
      id.as("id"),
      round(TextAnalytics.qualityScore(col(textCol), stopwords), 4).as("quality"),
      round(repetitionStats(col(textCol)).getField("dup_token_frac"), 4)
        .as("dup_token_frac"),
      xxhash64(col(textCol)).as("content_hash"))
    val keepersByHash = signals.groupBy(col("content_hash"))
      .agg(min(col("id")).as("exact_keeper_id"))
    val contam = decontaminate(docs, idCol, textCol, bench, benchTextCol, shingleK)
      .select(col("id"), col("contaminated"))
    signals
      .join(keepersByHash, Seq("content_hash"))
      .join(contam, Seq("id"))
      .select(col("id"), col("quality"), col("dup_token_frac"),
        col("contaminated"),
        (col("id") === col("exact_keeper_id")).as("is_exact_keeper"))
      .withColumn("keep",
        col("quality") >= minQuality &&
          col("dup_token_frac") <= maxDupTokenFrac &&
          !col("contaminated") && col("is_exact_keeper"))
  }

  /** Budget-constrained curation: per source, admit documents in
    * (quality desc, id asc) order until the next document would push
    * the source's cumulative token count past `budget` — the
    * quality-greedy knapsack every mixture recipe runs when a source's
    * raw size exceeds its token allocation.
    *
    * Scale shape: scoring is a map-only kernel pass; the running sum is
    * one window keyed by source. A pathologically large single source
    * pays that source's sort — at corpus scale the standard prelude is
    * a sampled quality-threshold pre-filter (drop the obvious rejects
    * map-side, e.g. via [[Sampling]] quantiles) so the window sees only
    * the contenders near the budget boundary; the greedy order and
    * tie-breaks here are the contract that prelude must preserve.
    *
    * Ties are impossible to mis-order: quality is rounded to 4 dp and
    * doc id breaks equal scores deterministically.
    */
  def tokenBudgetSelect(docs: DataFrame, idCol: String, textCol: String,
                        sourceCol: String, budget: Long,
                        stopwords: Seq[String]): DataFrame = {
    require(budget > 0, s"budget $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        TextAnalytics.qualityScore(col(textCol), stopwords).as("quality"),
        TextAnalytics.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budget)
  }

  /** Exact duplicate-SPAN report — the diagnostic behind substring-level
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): find the maximal token spans of each
    * document whose every `k`-gram occurs elsewhere in the corpus
    * (another document, or again in the same one). Document-level dedup
    * is blind to these — a unique page wrapping a boilerplate footer
    * dedups to "unique" while the footer still trains thousands of
    * times.
    *
    *   1. positional k-gram hashes per document (map-only kernel
    *      arithmetic — the shuffle carries (doc, pos, 64-bit hash));
    *   2. hashes with a corpus occurrence count ≥ 2 survive (one
    *      hash-keyed aggregate + rejoin on the same key);
    *   3. per document, runs of CONSECUTIVE duplicated positions merge
    *      into maximal spans (gaps-and-islands: pos − rank is constant
    *      within a run — one doc-keyed window);
    *   4. spans shorter than `minRun` k-grams drop (a lone duplicated
    *      k-gram is n-gram noise, not a copied span).
    *
    * Output: (doc_id, span_start, n_grams, span_tokens) per maximal
    * span, span_tokens = n_grams + k − 1. All equi-joins on 64-bit
    * hashes; no similarity math, this is EXACT containment.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, minRun: Int = 3): DataFrame = {
    require(k >= 1, s"k $k")
    require(minRun >= 1, s"minRun $minRun")
    // materialize the token array BEFORE the gram lambda: higher-order
    // functions evaluate interpreted (codegen fallback), so an inlined
    // tokens(text) would re-run split+filter once per position — O(n²)
    // per document (measured 8.6 s → 1.8 s at sf0.1 for this operator)
    val grams = docs
      .select(col(idCol).as("doc_id"),
        TextAnalytics.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"),
        posexplode(when(size(col("_toks")) >= k,
          transform(sequence(lit(0), size(col("_toks")) - k),
            i => xxhash64(concat_ws(" ", slice(col("_toks"), i + 1, lit(k))))))
          .otherwise(array().cast("array<bigint>")))
          .as(Seq("pos", "sh")))
    // corpus occurrence via ONE shingle-keyed window count — the gram
    // table is built and shuffled once (no second text scan, no self-join)
    val wOcc = Window.partitionBy(col("sh"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.withColumn("_occ", count(lit(1)).over(wOcc))
      .where(col("_occ") >= 2)
      .withColumn("_island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("_island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        count(lit(1)).as("n_grams"))
      .where(col("n_grams") >= minRun)
      .select(col("doc_id"), col("span_start"), col("n_grams"),
        (col("n_grams") + (k - 1)).as("span_tokens"))
  }

  /** Gopher-style named-rule quality filter (Rae et al. 2021, §A1.1 —
    * the published heuristic battery behind most web-corpus cleaning):
    * per document, each rule's measured value AND its boolean verdict,
    * plus the conjunctive `keep` — the deployable filter artifact, with
    * per-rule diagnosis of WHY a document drops (a bare score can't say).
    *
    *   - r_words:   word count in [minWords, maxWords]
    *   - r_mean_wl: mean word length in [3, 10]
    *   - r_alpha:   ≥ 80% of words contain an alphabetic character
    *   - r_stop:    ≥ 2 distinct words from `stopwords` present (the
    *                paper's 8-word default: the, be, to, of, and, that,
    *                have, with)
    *   - r_symbol:  symbol-to-word ratio ≤ 0.1, where symbols are '#',
    *                the Unicode ellipsis '…', AND the ASCII spelling
    *                "..." (non-overlapping matches — real web text
    *                overwhelmingly writes ellipsis as three dots, so
    *                counting only U+2026 lets boilerplate through)
    *
    * Words come from whitespace tokenization (split on \s+ after trim —
    * runs of spaces/newlines/tabs are one delimiter, matching the
    * paper; a single-space split would count empty tokens as words and
    * deflate mean_word_len/alpha_frac on real web text).
    *
    * Entirely map-side: one scan, token array bound to an attribute
    * once (the interpreted-HOF rule — an inlined split would re-tokenize
    * per rule), integer counts until the final divisions so both the
    * measured values and every threshold comparison are engine-exact.
    * The only exchange a caller adds is their presentation sort.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String] = Seq("the", "be", "to", "of",
                    "and", "that", "have", "with"),
                  minWords: Long = 45L, maxWords: Long = 100000L): DataFrame = {
    val toks = col("__graft_gr_toks")
    val nW = col("n_words")
    val nSym = (length(col("__t")) - length(regexp_replace(col("__t"), "#", ""))) +
      (length(col("__t")) - length(regexp_replace(col("__t"), "…", ""))) +
      regexp_count(col("__t"), lit("\\.\\.\\."))
    docs.select(col(idCol).as("id"), col(textCol).as("__t"),
        split(trim(col(textCol)), "\\s+").as("__graft_gr_toks"))
      .select(col("id"),
        size(toks).cast("long").as("n_words"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("_sum_wl"),
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long").as("_n_alpha"),
        stopwords.map(w => when(array_contains(toks, w), 1L).otherwise(0L))
          .reduce(_ + _).as("n_stopwords"),
        nSym.cast("long").as("_n_sym"))
      .select(col("id"), nW,
        round(col("_sum_wl").cast("double") / nW, 4).as("mean_word_len"),
        round(col("_n_alpha").cast("double") / nW, 4).as("alpha_frac"),
        col("n_stopwords"),
        round(col("_n_sym").cast("double") / nW, 4).as("symbol_ratio"),
        (nW >= minWords && nW <= maxWords).as("r_words"),
        (col("_sum_wl").cast("double") / nW >= 3.0 &&
          col("_sum_wl").cast("double") / nW <= 10.0).as("r_mean_wl"),
        (col("_n_alpha").cast("double") / nW >= 0.8).as("r_alpha"),
        (col("n_stopwords") >= 2L).as("r_stop"),
        (col("_n_sym").cast("double") / nW <= 0.1).as("r_symbol"))
      .withColumn("keep",
        col("r_words") && col("r_mean_wl") && col("r_alpha") &&
          col("r_stop") && col("r_symbol"))
  }

  /** Corpus-frequency boilerplate removal at passage granularity — the
    * CCNet/RefinedWeb-style "drop lines duplicated across many pages"
    * filter, over fixed `passageWords`-word passages (the corpus has no
    * line structure; the mechanics are identical). A passage occurring
    * in ≥ `minDocs` DISTINCT documents is boilerplate (navigation,
    * footers, license blurbs, templated text) and is removed from EVERY
    * document — unlike [[Dedup.passageDedup]], which keeps the first
    * occurrence, a frequency-threshold filter keeps none: text that
    * common carries no signal anywhere.
    *
    * Plan shape: passages explode map-side; the document-frequency pass
    * runs over a TEXT-FREE projection (id, pidx, xxhash64(passage)) —
    * the df window partitions AND sorts by the 8-byte hash, so the
    * shuffle comparator never touches passage strings and the exchange
    * carries 24-byte rows where the string-keyed form carried the whole
    * corpus text (at ~70 bytes/passage that exchange dominates at
    * 100 TB; hot boilerplate passages additionally made its sort keys
    * maximally skewed). Within each hash's window (ordered by
    * (id, pidx)) a `lag` flags each document's first occurrence, and
    * the whole-partition sum of those flags IS the distinct-doc count
    * (the [[duplicateSpans]] corpus-occurrence window, upgraded from
    * row count to distinct-id count; hot passages still make big window
    * partitions, which WindowExec sorts externally — the same accepted
    * skew profile, now over narrow rows). The per-passage verdict then
    * rejoins the text by the (id, pidx) equi-key — one narrow join and
    * a second pass over the source text traded for the text-free df
    * exchange — and per-document reassembly is one id-keyed aggregate.
    * Keying by hash instead of string merges xxhash64-colliding
    * passages (probability ~n²/2⁶⁴ — negligible; a collision can only
    * over-count df, i.e. err toward dropping).
    *
    * Returns one row per input document:
    * (id, n_passages, n_kept, clean_text) — clean_text is the document
    * with boilerplate passages deleted, "" if everything was
    * boilerplate. Kept passages are re-joined with single spaces, so
    * any original whitespace runs inside or between passages are
    * normalized (and trailing partial-passage boundaries are not
    * restored) — clean_text is the curation-ready token stream, not a
    * byte-identical excerpt of the input.
    */
  /** The (id, pidx, passage) expansion shared by [[boilerplatePassages]]
    * and the streaming twin ([[graft.streaming.Streams
    * .boilerplateStream]]): fixed `pw`-word passages, 1-based index, an
    * empty text still forms one (empty) passage. `carry` columns ride
    * through untouched (the stream needs its event-time column).
    */
  private[graft] def passageRows(docs: DataFrame, idCol: String,
                                 textCol: String, pw: Int,
                                 carry: Seq[String] = Nil): DataFrame = {
    val words = col("__graft_bp_words")
    val nP = greatest(ceil(size(words) / lit(pw.toDouble)).cast("int"), lit(1))
    val passages = transform(sequence(lit(1), nP),
      i => array_join(slice(words, (i - lit(1)) * pw + lit(1), lit(pw)), " "))
    docs.select(col(idCol).as("id") +: carry.map(col) :+
        split(col(textCol), " ").as("__graft_bp_words"): _*)
      .select(col("id") +: carry.map(col) :+
        posexplode(passages).as(Seq("pos", "passage")): _*)
      .select(col("id") +: carry.map(col) :+
        (col("pos") + 1).as("pidx") :+ col("passage"): _*)
  }

  /** Passage-hash document-frequency index over a standing corpus — the
    * trained model of the boilerplate detector, materialized once and
    * probed by every arriving document ([[graft.streaming.Streams
    * .boilerplateStream]]'s static side; the incremental-index pattern
    * of incrementalDedupStream). One row per distinct passage hash:
    * (_ph, df) with df = number of distinct documents containing the
    * passage — identical to the count [[boilerplatePassages]] derives
    * inline via its first-in-doc window.
    */
  def passageDfIndex(docs: DataFrame, idCol: String, textCol: String,
                     passageWords: Int = 10): DataFrame =
    passageRows(docs, idCol, textCol, passageWords)
      .select(col("id"), xxhash64(col("passage")).as("_ph"))
      .groupBy(col("_ph"))
      .agg(count_distinct(col("id")).as("df"))

  def boilerplatePassages(docs: DataFrame, idCol: String, textCol: String,
                          passageWords: Int = 10, minDocs: Int = 2): DataFrame = {
    require(passageWords >= 1, s"passageWords $passageWords")
    require(minDocs >= 2, s"minDocs $minDocs (1 would drop every passage)")
    val p = passageRows(docs, idCol, textCol, passageWords)
    // text-free df pass: the window exchange carries (id, pidx, hash) only
    val narrow = p.select(col("id"), col("pidx"),
      xxhash64(col("passage")).as("_ph"))
    val wSeq = Window.partitionBy(col("_ph")).orderBy(col("id"), col("pidx"))
    val wAll = Window.partitionBy(col("_ph"))
    val verdicts = narrow
      .withColumn("_first_in_doc",
        when(lag(col("id"), 1).over(wSeq).isNull ||
          lag(col("id"), 1).over(wSeq) =!= col("id"), 1L).otherwise(0L))
      .withColumn("_df", sum(col("_first_in_doc")).over(wAll))
      .select(col("id"), col("pidx"), col("_df"))
    p.join(verdicts, Seq("id", "pidx"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_passages"),
        count(when(col("_df") < minDocs, lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("_df") < minDocs,
              struct(col("pidx"), col("passage"))))),
            s => s.getField("passage")), " ").as("clean_text"))
  }

  /** DSIR importance scores — Data Selection via Importance Resampling
    * (Xie et al. 2023): score every raw document by how much more likely
    * its hashed n-gram features are under a target distribution (the
    * high-quality slice you want more of) than under the raw corpus.
    * Features are unigrams + bigrams hashed into `buckets` bins; both
    * distributions are add-1-smoothed bucket frequencies; a document's
    * log importance weight is Σ_b c_b·(ln p̂_target(b) − ln p̂_raw(b)).
    * Selecting the top-scored documents approximates sampling the raw
    * corpus to match the target — the cheap classifier-free alternative
    * to quality-model filtering.
    *
    * Determinism contract: the bucket of a gram is its md5's first 8 hex
    * chars mod `buckets` (the engine-portable [[Sampling.md5Sample]]
    * hash contract), so Spark and any SQL engine bin identically.
    *
    * Scale shape: grams reduce to (id, bucket, count) FIRST — the only
    * corpus-keyed shuffle, and its key includes id so one hot bucket
    * cannot skew it. Both distributions are `buckets`-row aggregates of
    * that table (bounded dimensions, integer counts), joined back by
    * broadcast; the per-doc score is one more (id)-keyed sum. Raw counts
    * stay integers until the two ln() calls per bucket.
    *
    * Returns (id, n_grams, dsir_score); documents with no tokens carry
    * no feature evidence and are absent. Scores round 4dp (the
    * [[unigramLogProb]] cross-engine ln parity discipline).
    */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, buckets: Int): DataFrame = {
    // Lineage cut (r16): the dim-broadcast build is the first
    // consumer and materializes the blocks; the scoring join then reads
    // them. Without it the broadcast build's racing materialization
    // carried its OWN copy of the gram/md5 stages — AQE's stage cache
    // does not dedupe a stage created inside an in-flight broadcast
    // against the main DAG's identical stage (r16 final-plan evidence).
    val bucketed = Lineage.cut(dsirBucketed(docs, idCol, textCol, isTarget, buckets),
      "Curation.dsirScores.bucketed")
    bucketed.join(broadcast(dsirDimPre(bucketed, buckets)), Seq("b"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_grams"),
        round(sum(col("c") * col("_llr")), 4).as("dsir_score"))
  }

  /** The (id, target?, bucket, count) feature table both DSIR stages
    * consume: unigrams + bigrams hashed into `buckets` md5 bins,
    * reduced per document before anything joins.
    */
  private def dsirBucketed(docs: DataFrame, idCol: String, textCol: String,
                           isTarget: Column, buckets: Int): DataFrame = {
    require(buckets > 1, s"buckets $buckets")
    // the gram explode + md5 bucketing below is the pipeline's CPU; a
    // one-split corpus runs it in a single task — spread it (guide
    // §2.6; identity at real scale, see Par)
    val toks = Par.spreadSmallScan(docs, col(idCol))
      .select(col(idCol).as("id"), isTarget.as("_t"),
        TextAnalytics.tokens(col(textCol)).as("_l"))
    toks.select(col("id"), col("_t"),
        explode(concat(col("_l"),
          expr("transform(slice(_l, 1, greatest(size(_l) - 1, 0))," +
            " (x, i) -> concat(x, ' ', _l[i + 1]))"))).as("gram"))
      .select(col("id"), col("_t"),
        pmod(conv(substring(md5(col("gram").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(buckets.toLong)).as("b"))
      .groupBy(col("id"), col("_t"), col("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** The trained DSIR dimension: one (bucket, log-likelihood-ratio) row
    * per bucket seen in the corpus — the `buckets`-bounded model the
    * scoring join (and the streaming scorer) consumes.
    */
  def dsirDim(docs: DataFrame, idCol: String, textCol: String,
              isTarget: Column, buckets: Int): DataFrame =
    dsirDimPre(dsirBucketed(docs, idCol, textCol, isTarget, buckets),
      buckets).withColumnRenamed("_llr", "llr")

  private def dsirDimPre(bucketed: DataFrame, buckets: Int): DataFrame = {
    // bounded bucket dimension in ONE aggregate: raw = every doc's
    // count, target = the slice's count as a conditional sum — exactly
    // the rows the old rawDim LEFT JOIN tgtDim produced (a bucket with
    // no target rows sums to 0, the coalesce'd value), minus one full
    // aggregate pass over `bucketed` and the join (guide §2.4; the old
    // shape also recomputed both aggregates AGAIN under `tot`, putting
    // five copies of the gram-bucketing subtree in the plan)
    val dim = bucketed.groupBy(col("b")).agg(
      sum(col("c")).as("cr"),
      sum(when(col("_t"), col("c")).otherwise(lit(0L))).as("ct"))
    // totals fold as ONE unpartitioned window over the bucket-BOUNDED
    // dim (≤ `buckets` rows — the sanctioned block-aggregate
    // construction, pinned in WindowAuditSpec). The previous
    // crossJoin(broadcast(tot)) duplicated dim's whole subtree under
    // the broadcast build, whose racing materialization re-ran the
    // gram kernel once more per execution (r16 final-plan evidence:
    // the tot branch carried its own copy of the explode/md5 stages).
    val w = Window.partitionBy()
    dim.select(col("b"),
      (log((col("ct") + 1).cast("double") / (sum(col("ct")).over(w) + buckets)) -
        log((col("cr") + 1).cast("double") / (sum(col("cr")).over(w) + buckets)))
        .as("_llr"))
  }

  /** Map-only DSIR scoring against a TRAINED model — the deployment
    * shape: the `buckets`-bounded (bucket → llr) map rides the closure
    * (it is codebook-sized, the [[Pq]] driver-side precedent), every
    * arriving document folds its gram buckets through one `aggregate`
    * expression, and nothing shuffles — which is what lets scoring lift
    * to a zero-state stream ([[graft.streaming.Streams.dsirStream]]).
    * Buckets never seen in training score `defaultLlr` (the add-1 floor
    * ln((totr+B)/(tott+B)) of the training corpus).
    *
    * Returns (score, n_grams) columns as a 2-field struct.
    */
  def dsirScoreExpr(llr: Map[Long, Double], defaultLlr: Double,
                    buckets: Int, textCol: Column): Column = {
    require(buckets > 1, s"buckets $buckets")
    require(llr.size <= buckets, s"llr has ${llr.size} entries > $buckets")
    val m = typedLit(llr)
    val toks = TextAnalytics.tokens(textCol)
    // zip_with pads the shorter side with null, so the trailing
    // (last-token, null) pair concats to null — filter drops it.
    // (slice length must be the real tail size: an Int.MaxValue length
    // overflows Slice's int end-index arithmetic into an empty array.)
    val bigrams = filter(
      zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      g => g.isNotNull)
    def scoreOf(arr: Column): Column = aggregate(
      transform(arr, g => pmod(
        conv(substring(md5(g.cast("binary")), 1, 8), 16, 10).cast("long"),
        lit(buckets.toLong))),
      lit(0.0),
      (acc, b) => acc + coalesce(element_at(m, b), lit(defaultLlr)))
    struct(
      round(scoreOf(toks) + scoreOf(bigrams), 4).as("score"),
      (size(toks) + size(bigrams)).cast("long").as("n_grams"))
  }
}
