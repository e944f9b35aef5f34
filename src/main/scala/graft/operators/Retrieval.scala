package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalytics

/** Retrieval-shaped operators: lexical BM25 scoring and k-nearest-
  * neighbor graph construction over an embedding column — the two
  * standard tools for query-targeted corpus selection and for
  * similarity-graph curation (cluster-and-prune, diversity sampling).
  */
object Retrieval {

  /** Okapi BM25 score of every document against a fixed term set.
    *
    * Scale shape: documents explode to (id, term) only for tokens that
    * match a query term — the match rides the scan as a codegen'd filter
    * against a literal array, so the exchange carries the tiny matched
    * fraction, never the corpus tokens. Document lengths are a per-doc
    * kernel projection; `N`/`avgdl` and the per-term document
    * frequencies are one-row/`|terms|`-row aggregates joined back by
    * broadcast. One shuffle keyed by doc id.
    *
    * Returns (id, score) for every document matching ≥ 1 term,
    * score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val termLits = typedLit(terms.map(_.toLowerCase))
    val toks = Lineage.cut(docs.select(col(idCol).as("id"), // read by dl, stats and tf
        TextAnalytics.tokens(lower(col(textCol))).as("_toks")), "Retrieval.bm25.toks")
    val dl = toks.select(col("id"), size(col("_toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = toks.select(col("id"), explode(col("_toks")).as("term"))
      .where(array_contains(termLits, col("term")))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).cast("double").as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df_), Seq("term"))
      .join(dl, Seq("id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + (col("dl") / col("avgdl") * b + (1.0 - b)) * k1))
      .groupBy(col("id")).agg(sum(col("contrib")).as("score"))
  }

  /** TF-IDF weights per (document, term), optionally pruned to each
    * document's `topK` heaviest terms — the classic sparse document
    * vector (keyword extraction, lexical retrieval, cheap doc
    * signatures). idf = ln((1+N)/(1+df)) + 1 (smoothed — finite even
    * for corpus-universal terms); tf is the raw in-document count.
    *
    * Scale shape mirrors [[bm25]]: one tokenize+explode scan feeding a
    * (doc, term)-keyed count, term document-frequencies re-aggregated
    * from those counts (64-bit-ish (term, count) rows — never the
    * corpus) and broadcast back by term, N a broadcast scalar. The
    * optional per-doc top-k is a rank window keyed by doc id —
    * WindowGroupLimit prunes to k per partition before the final
    * shuffle. Ranking key is (rounded weight desc, term asc) so ties
    * are deterministic.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
            topK: Int = 0, roundTo: Int = 6): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      TextAnalytics.tokens(lower(col(textCol))).as("_toks"))
    val tf = toks.select(col("id"), explode(col("_toks")).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).cast("double").as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val weighted = tf.join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("id"), col("term"),
        round(col("tf") * (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + 1.0),
          roundTo).as("tfidf"))
    if (topK <= 0) weighted
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("tfidf").desc, col("term").asc)
      weighted.withColumn("rk", row_number().over(w)).where(col("rk") <= topK)
    }
  }

  /** Exact k-NN graph over an embedding column: the top-`k` cosine
    * neighbors of EVERY vector. All-pairs by construction — this is the
    * oracle anchor at test scale, not the 100 TB path (that is
    * [[knnGraphFromPairs]] over LSH candidate pairs). Ranking key is
    * (rounded cosine desc, neighbor id asc) so ties are deterministic.
    */
  /** PMI collocation mining: adjacent token pairs whose co-occurrence
    * beats chance, scored by pointwise mutual information
    * `pmi = ln(c_ab · N / (c_a · c_b))` with the marginals `c_a`
    * (prefix), `c_b` (suffix) and total `N` all taken from the bigram
    * table itself — the multi-word-expression detector ("new york",
    * "machine learning") a tokenizer-training pipeline runs before
    * committing merges.
    *
    * Scale shape: the corpus reduces to the (a, b) bigram-count
    * dimension in one explode+aggregate (map-side combined); the
    * `minCount` prune runs BEFORE the marginal joins, and the marginals
    * are vocabulary-sized aggregates of that same dimension joined on
    * single-token keys. All arithmetic after the counts is one integer
    * product/ratio and one `ln` — engine-exact given equal counts.
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val big = docs
      .select(explode(TextAnalytics.tokenPairs(col(textCol))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val pre = big.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val suf = big.groupBy(col("b")).agg(sum(col("cab")).as("cb"))
    val tot = big.agg(sum(col("cab")).as("tot"))
    big.where(col("cab") >= minCount)
      .join(pre, "a").join(suf, "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("cab"),
        log((col("cab") * col("tot")) / (col("ca") * col("cb"))).as("pmi"))
  }

  /** Exact sparse TF-IDF cosine pairs via an inverted-index equi-join
    * with a document-frequency cut — the lexical sibling of the
    * embedding near-dup family: every document pair whose cosine in the
    * TF-IDF space meets `threshold`.
    *
    * The vector space is DEFINED over terms passing BOTH df cuts:
    * df·dfDen ≤ N·dfNum (the RELATIVE fraction — pure integer
    * arithmetic on both engines) AND df ≤ `maxDf` (an ABSOLUTE
    * stopword ceiling). High-df terms are stopword noise for
    * similarity AND the skew that makes a term-keyed self-join melt —
    * excluding them from the space (not just the candidate step), both
    * weights and norms, keeps the result exact w.r.t. the declared
    * space. The absolute ceiling exists because the relative cut alone
    * LOOSENS as the corpus grows: on a sharded/replicated corpus every
    * shard's medium-frequency terms slide under a growing N·dfNum/dfDen
    * bar while their posting lists keep their absolute size — the
    * round-8 curve measured exactly that (31k candidates at sf0.1 →
    * 2.2B at 10×, all of it from terms with df 1k–5k that the 10×
    * relative bar newly admitted). A term in more than `maxDf`
    * documents carries no discriminative similarity signal at any
    * corpus size, and capping df caps every posting list — the
    * scale-free half of the space definition. The candidate step is the weighted
    * AllPairs prefix filter (Bayardo et al., WWW'07 — the PPJoin
    * family): fix ONE global term order π = (df asc, term asc) and give
    * every (doc, term) its normalized suffix norm b_x(t) = ‖ŵ_x
    * restricted to terms ≥π t‖. For any pair with cos(x,y) ≥ τ, the
    * FIRST shared term t* bounds the whole dot product by Cauchy–
    * Schwarz over the suffix: τ ≤ cos(x,y) ≤ b_x(t*)·b_y(t*) — so t*
    * sits in both documents' prefixes {t : b(t) ≥ τ} and the equi-join
    * over PREFIX rows only (with the tighter pairwise filter
    * b_a·b_b ≥ τ) finds every qualifying pair: an EXACT filter, not an
    * approximation (a 1e-9 slack absorbs float rounding at the
    * boundary). Rare-first ordering makes the prefixes carry the rare
    * end of the vocabulary — TF-IDF gives rare terms the big weights,
    * so the norm budget is spent in a few low-df terms and the bulky
    * near-the-cut posting lists fall OUT of the prefix: the round-8
    * curve's 2.2 BILLION raw candidates at 10×·sf0.1 (a 488× wall-clock
    * blowup under the unfiltered join) collapse to the rare-term mass,
    * linear-ish in the corpus because the df cut is relative and the
    * prefix df histogram replicates per shard of a grown corpus.
    * Verification joins candidate pairs back to per-doc (term → weight)
    * maps — pair-keyed, never a second corpus product.
    *
    * The residual prefix candidate mass Σ pdf·(pdf−1)/2 (pdf = per-term
    * PREFIX document frequency — the exact row count the prefix join
    * will materialize) is still computed from the prefix dimension and
    * the operator REFUSES to run past `maxCandidatePairs`, failing
    * loudly with the knob's name — the [[knnGraph]] bounded-anchor
    * discipline (a τ→0 call degenerates to the full quadratic join by
    * construction: at τ=0 every term is prefix). Remaining escape
    * hatches: tighten the df cut, raise τ, or ANN over learned
    * embeddings ([[graft.operators.Dedup.embeddingNearDupPairs]]).
    *
    * Exactness discipline: weights are integer micro-units
    * (round(tf·idf·10⁴), idf = ln((1+N)/(1+df))+1 — the [[tfidf]]
    * smoothing); dot products and squared norms sum exactly as
    * decimal(38,0) (a long product could overflow and a double sum is
    * order-dependent); the float-valued suffix norms steer only the
    * candidate SUPERSET, never the emitted values; the final cosine
    * ratio is floating, from identically-converted exact integers, and
    * membership tests the ROUNDED cosine on both engines.
    *
    * Plan shape: tokenize→(doc,term) count, term-keyed df aggregate
    * broadcast back; the weight table is cut once (five
    * consumers — the doc dimension, the prefix build and the verify —
    * would each re-tokenize the corpus); ONE id-keyed dimension
    * aggregate yielding norm + verify map per doc (r16); per-doc
    * suffix-norm window (keyed by id, doc-bounded frames); term-keyed
    * PREFIX self-join (equi — never a nested loop); distinct pair keys;
    * one doc-keyed dimension join per pair side attaching the exact-dot
    * map AND the norm. Every shuffle carries ids, term strings, longs
    * and the bounded per-doc maps.
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       dfNum: Long, dfDen: Long, threshold: Double,
                       roundTo: Int = 6,
                       maxCandidatePairs: Long = 100000000L,
                       maxDf: Long = 1000L): DataFrame = {
    require(dfNum > 0 && dfDen > 0 && dfNum <= dfDen,
      s"df cut $dfNum/$dfDen must be a fraction in (0, 1]")
    require(maxDf >= 2, s"maxDf $maxDf admits no shareable term")
    val tf = docs.select(col(idCol).as("id"),
        explode(TextAnalytics.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val n = docs.agg(count(lit(1)).as("n_l"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .where(col("df") * dfDen <= col("n_l") * dfNum &&
        col("df") <= maxDf)
    // cut the weight table once: the doc dimension, the prefix build
    // and the verify would each re-run tokenize+count+df. The
    // candidate-mass guard below is the first action after this point
    // and its lineage (pref → norms → docdim → w) computes the blocks.
    val w = Lineage.cut(tf.join(broadcast(dfT), Seq("term"))
      .select(col("id"), col("term"), col("df"),
        round(col("tf") *
            (log((lit(1.0) + col("n_l").cast("double")) /
              (lit(1.0) + col("df"))) + 1.0) *
            10000, 0).cast("long").as("w")), "Retrieval.tfidfCosinePairs.w")
    // ONE per-doc dimension aggregate (r16, guide §2.4): the norm over
    // ALL terms and the exact-dot verify map over joinable (df ≥ 2)
    // terms come out of a single id-keyed pass (collect_list drops the
    // NULLs the `when` leaves on df = 1 terms), replacing two separate
    // id-keyed aggregates — and letting the verify below attach map AND
    // norm with ONE join per pair side instead of two (4 joins → 2).
    val docdim = w.groupBy(col("id"))
      .agg(
        sum((col("w").cast("decimal(19,0)") * col("w"))
          .cast("decimal(38,0)")).as("_n2"),
        map_from_entries(collect_list(
          when(col("df") >= 2, struct(col("term"), col("w"))))).as("m"))
      .select(col("id"), sqrt(col("_n2").cast("double")).as("_norm"), col("m"))
    val norms = docdim.select(col("id"), col("_norm"))
    // df = 1 terms shape the norms above but cannot produce a pair
    val joinable = w.where(col("df") >= 2)
    // AllPairs prefix build (see scaladoc): normalized suffix norm in
    // the global rare-first term order; only rows whose suffix can still
    // carry a τ-sized cosine stay joinable. The frame order (df, term)
    // is a total order per doc, so the float suffix sum is deterministic;
    // the 1e-9 slack keeps the filter an exact superset at the boundary.
    val suffix = Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("term").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // the candidate-mass guard below computes the cut's blocks
    val pref = Lineage.cut(joinable.join(norms, Seq("id"))
      .withColumn("_nw", col("w").cast("double") / col("_norm"))
      .withColumn("_bnorm", sqrt(sum(col("_nw") * col("_nw")).over(suffix)))
      .where(col("_bnorm") >= threshold - 1e-9)
      .select(col("id"), col("term"), col("_bnorm")), "Retrieval.tfidfCosinePairs.pref")
    // candidate-mass guard: Σ pdf·(pdf−1)/2 over the PREFIX posting
    // lists is the exact row count the prefix self-join will
    // materialize; refuse a quadratic melt loudly instead of running it
    val mass = pref.groupBy(col("term")).agg(count(lit(1)).as("pdf"))
      .where(col("pdf") >= 2)
      .agg(coalesce(sum((col("pdf") * (col("pdf") - 1) / 2)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head().getDecimal(0)
    require(mass.longValue() <= maxCandidatePairs,
      s"tfidfCosinePairs: the df cut $dfNum/$dfDen at threshold " +
        s"$threshold admits $mass prefix-candidate pairs (> " +
        s"maxCandidatePairs=$maxCandidatePairs). Tighten the df cut, " +
        "raise the threshold, or switch to embeddingNearDupPairs — " +
        "see scaladoc.")
    val cand = pref.select(col("term"), col("id").as("id_a"), col("_bnorm").as("_ba"))
      .join(pref.select(col("term"), col("id").as("id_b"), col("_bnorm").as("_bb")),
        Seq("term"))
      .where(col("id_a") < col("id_b") &&
        col("_ba") * col("_bb") >= threshold - 1e-9)
      .select(col("id_a"), col("id_b")).distinct()
    // exact dot for candidates only: per-doc (term → weight) maps rejoin
    // by pair id — map and norm ride the SAME docdim join per side; the
    // decimal(38,0) accumulation matches the unfiltered join's sum
    // bit-for-bit (integer products, order-free)
    cand
      .join(docdim.select(col("id").as("id_a"), col("m").as("ma"),
        col("_norm").as("_na")), Seq("id_a"))
      .join(docdim.select(col("id").as("id_b"), col("m").as("mb"),
        col("_norm").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("""aggregate(map_entries(ma), CAST(0 AS DECIMAL(38,0)),
          (acc, e) -> acc + CAST(CAST(e.value AS DECIMAL(19,0)) *
            CAST(coalesce(try_element_at(mb, e.key), 0L) AS DECIMAL(19,0))
            AS DECIMAL(38,0)))""").as("_dot"),
        col("_na"), col("_nb"))
      .select(col("id_a"), col("id_b"),
        round(col("_dot").cast("double") / (col("_na") * col("_nb")),
          roundTo).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  def knnGraph(vecs: DataFrame, idCol: String, vecCol: String,
               k: Int, roundTo: Int = 6,
               maxExactRows: Long = 100000L): DataFrame = {
    // exact all-pairs ORACLE ANCHOR — an O(n²) cartesian by design.
    // Fail loudly with the knob's name instead of silently melting a
    // cluster: the scale path is knnGraphFromPairs over an LSH/banded
    // candidate generator (plan-locked, recall-asserted in RetrievalSpec)
    val n = vecs.count()
    require(n <= maxExactRows,
      s"knnGraph is the exact all-pairs oracle anchor (O(n^2)): input has " +
        s"$n rows > maxExactRows=$maxExactRows. Use knnGraphFromPairs(" +
        "Dedup.embeddingNearDupPairs(...)) — the scale path — or raise " +
        "maxExactRows deliberately.")
    val a = vecs.select(col(idCol).as("src"), col(vecCol).as("_va"))
    val b = vecs.select(col(idCol).as("dst"), col(vecCol).as("_vb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst"))
    // cosine is symmetric: evaluate each UNORDERED pair once (src<dst),
    // cut, and mirror — halves the kernel work; without the cut the
    // union's two branches would each re-run the join
    val half = Lineage.cut(a.join(b, col("src") < col("dst"))
      .select(col("src"), col("dst"),
        round(Similarity.cosine(col("_va"), col("_vb")), roundTo).as("sim")),
      "Retrieval.knnGraph.half")
    half.unionAll(
        half.select(col("dst").as("src"), col("src").as("dst"), col("sim")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the k most-similar corpus vectors carrying a DIFFERENT label —
    * confusable-but-wrong examples, exactly the negatives an
    * embedding-model loss learns most from (the standard upgrade over
    * random in-batch negatives). Ranked by [[Similarity.rankPerQuery]]
    * on the rounded cosine, self excluded.
    *
    * Scale shape: the query set broadcasts (it is small by nature — a
    * training batch or probe set), the corpus is one map-side scan with
    * the label inequality fused into the join condition, and the
    * per-query top-k window is WindowGroupLimit-pruned to ≤ k rows per
    * task before the exchange. At corpus scale the candidate stage
    * swaps for the ANN index (Ivf/Pq shortlist + [[Similarity
    * .rerankExact]]) exactly like the k-NN graph's LSH build.
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queries: DataFrame, qidCol: String,
                    qvecCol: String, qlabelCol: String, k: Int,
                    roundTo: Int = 6): DataFrame = {
    val pairs = corpus.join(broadcast(queries), col(labelCol) =!= col(qlabelCol))
    Similarity.rankPerQuery(Similarity.exactScores(pairs, idCol, vecCol,
      qidCol, qvecCol, roundTo), col("cos_sim").desc, k)
  }

  /** IR-style retrieval quality metrics per query: reciprocal rank,
    * precision@k, recall@k, and nDCG@k of a brute-force cosine run,
    * where a candidate is RELEVANT iff it carries the query's label —
    * the standard label-as-qrels evaluation of an embedding space
    * (does nearest-neighbor retrieval surface same-class items?).
    *
    * Queries are drawn from the corpus: the query row itself is
    * excluded from both the candidate set and the relevant total
    * (`n_rel` = same-label corpus rows − 1). `recall_k` and `ndcg_k`
    * normalize by `min(k, n_rel)` (the best achievable at depth k);
    * both are 0 when a label is unique in the corpus.
    *
    * Scale shape: the query set broadcasts; candidates rank through the
    * WindowGroupLimit-pruned [[Similarity.rankPerQuery]] on the rounded
    * cosine, so each task exchanges ≤ k rows per query; the per-label
    * totals are a dimension-sized aggregate broadcast back. Metric
    * arithmetic is over ≤ k rows per query. At corpus scale the
    * candidate stage swaps for an ANN shortlist exactly like
    * [[hardNegatives]].
    *
    * Determinism: DCG uses ln(rank+1)/ln 2 spelled identically in the
    * DuckDB oracle.
    */
  def retrievalEval(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queries: DataFrame, qidCol: String,
                    qvecCol: String, qlabelCol: String, k: Int,
                    roundTo: Int = 6): DataFrame = {
    require(k > 0, s"k $k")
    val log2 = (c: Column) => log(c) / log(lit(2.0))
    // per-query relevant total: corpus rows sharing the label, minus self
    val labelCounts = corpus.groupBy(col(labelCol).as("_lbl"))
      .agg(count(lit(1)).as("_lbl_n"))
    val totals = queries.join(broadcast(labelCounts), col(qlabelCol) === col("_lbl"))
      .select(col(qidCol).as("query_id"), (col("_lbl_n") - 1L).as("n_rel"))
    val scored = Similarity.exactScores(corpus.join(broadcast(queries)), idCol,
      vecCol, qidCol, qvecCol, roundTo,
      (col(labelCol) === col(qlabelCol)).cast("int").as("rel"))
    val agg = Similarity.rankPerQuery(scored, col("cos_sim").desc, k)
      .groupBy(col("query_id")).agg(
        sum(col("rel")).cast("long").as("hits"),
        min(when(col("rel") === 1, col("rank"))).as("_first"),
        sum(when(col("rel") === 1, lit(1.0) / log2(col("rank") + lit(1.0)))
          .otherwise(lit(0.0))).as("_dcg"))
    // ideal DCG at the achievable depth: Σ_{i=1..min(k,n_rel)} 1/log2(i+1)
    agg.join(broadcast(totals), Seq("query_id"))
      .withColumn("_neff", least(lit(k.toLong), col("n_rel")))
      .select(
        col("query_id"), col("hits"), col("n_rel"),
        coalesce(round(lit(1.0) / col("_first"), roundTo), lit(0.0)).as("rr"),
        round(col("hits").cast("double") / k, roundTo).as("precision_k"),
        round(when(col("_neff") > 0L,
            col("hits").cast("double") / col("_neff")).otherwise(lit(0.0)),
          roundTo).as("recall_k"),
        round(when(col("_neff") > 0L, col("_dcg") /
            expr("aggregate(sequence(1L, _neff), cast(0.0 as double), " +
              "(a, i) -> a + 1.0 / (ln(i + 1.0) / ln(2.0)))"))
          .otherwise(lit(0.0)), roundTo).as("ndcg_k"))
  }

  /** Embedding-space confusion matrix over a probe set: for each probe
    * query, rank the corpus by cosine ([[Similarity.rankPerQuery]], self
    * excluded, as in [[retrievalEval]]) and count top-k neighbors
    * by (query label, neighbor label). The diagonal measures class
    * cohesion; off-diagonal mass names exactly which label pairs the
    * embedding space confuses — the first diagnostic after an encoder
    * change, and the label-pair prior that [[hardNegatives]] mining
    * sharpens.
    *
    * Scale shape: identical to [[hardNegatives]] — the probe set is a
    * broadcast sample (never the full corpus: all-corpus probes are the
    * O(n²) anti-pattern), the top-k window is WindowGroupLimit-pruned,
    * and the output is ≤ |labels|² rows.
    */
  def labelConfusion(corpus: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, queries: DataFrame, qidCol: String,
                     qvecCol: String, qlabelCol: String, k: Int,
                     roundTo: Int = 6): DataFrame = {
    val scored = Similarity.exactScores(corpus.join(broadcast(queries)), idCol,
      vecCol, qidCol, qvecCol, roundTo,
      col(qlabelCol).as("query_label"), col(labelCol).as("neighbor_label"))
    Similarity.rankPerQuery(scored, col("cos_sim").desc, k)
      .groupBy(col("query_label"), col("neighbor_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** k-NN graph restricted to a candidate pair set (e.g. the banded
    * sign-LSH pairs of [[Dedup.embeddingNearDupPairs]]): symmetrize the
    * pairs, rank per source, keep top-`k`. The candidate generator
    * bounds the work — the corpus is never self-joined — so the graph
    * build inherits the LSH path's 100 TB scale shape. Neighbors missed
    * by the candidate generator are missed here too (recall measured in
    * RetrievalSpec against [[knnGraph]]).
    */
  def knnGraphFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    // symmetrize by a map-side explode of BOTH orientations, NOT a
    // unionAll of two selects over `pairs`: a union duplicates the
    // whole upstream subtree, so the LSH candidate generation + exact
    // cosine verification executed TWICE per run (r15 plan audit —
    // the duplicated pipeline was the query's dominant task time);
    // the explode emits both orientations from ONE evaluation.
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("cos_sim")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("cos_sim")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"),
        col("_e.cos_sim").as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    sym.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** k-NN majority-vote classification of a probe set: rank the corpus
    * by cosine per query (the [[labelConfusion]] contract — self
    * excluded), take the top `k`, and predict the label holding the
    * most of those k slots. The zero-training eval of an embedding
    * space's label structure, and the leave-one-out accuracy table when
    * the probes are drawn from the corpus.
    *
    * Vote ties break by (votes desc, best_rank asc, label asc): a label
    * whose nearest supporter ranks earlier wins, then lexicographic —
    * deterministic on any engine.
    *
    * Scale shape: identical to [[hardNegatives]] — broadcast probe set,
    * WindowGroupLimit-pruned top-k, then per-query vote aggregates over
    * ≤ k rows.
    */
  def knnClassify(corpus: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, queries: DataFrame, qidCol: String,
                  qvecCol: String, qlabelCol: String, k: Int,
                  roundTo: Int = 6): DataFrame = {
    val scored = Similarity.exactScores(corpus.join(broadcast(queries)), idCol,
      vecCol, qidCol, qvecCol, roundTo,
      col(qlabelCol).as("true_label"), col(labelCol).as("neighbor_label"))
    val votes = Similarity.rankPerQuery(scored, col("cos_sim").desc, k)
      .groupBy(col("query_id"), col("true_label"), col("neighbor_label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("_best"))
    val wVote = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("_best").asc, col("neighbor_label").asc)
    votes.withColumn("_vrk", row_number().over(wVote)).where(col("_vrk") === 1)
      .select(col("query_id"), col("true_label"),
        col("neighbor_label").as("pred_label"), col("votes"),
        (col("neighbor_label") === col("true_label")).as("correct"))
  }

  /** Maximal Marginal Relevance re-rank: from each query's top-`n`
    * cosine candidates, greedily pick `m` maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    * standard diversification pass over a retrieval shortlist
    * (Carbonell & Goldstein '98), and the diverse-sampling step of
    * embedding-space curation.
    *
    * The greedy argmax is inherently iterative (each pick changes every
    * remaining candidate's penalty), so the per-query selection runs as
    * typed `mapGroups` over the BOUNDED shortlist (≤ n rows with their
    * vectors) — the same bounded-group justification as the PQ codebook
    * train. Candidate generation and the top-n cut stay declarative and
    * WindowGroupLimit-pruned; nothing unbounded reaches the group.
    * Scores round to `roundTo` before comparison, ties break by id asc
    * — fully deterministic (reference-equivalence in RetrievalSpec).
    *
    * Returns (query_id, neighbor_id, mmr_score, pick_rank), `m` rows
    * per query in pick order.
    */
  def mmrRerank(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qidCol: String, qvecCol: String,
                n: Int, m: Int, lambda: Double,
                roundTo: Int = 6): DataFrame = {
    require(n >= m && m > 0, s"need n >= m > 0, got n=$n m=$m")
    val spark = corpus.sparkSession
    import spark.implicits._
    val shortlist = Similarity.bruteForceTopK(corpus, idCol, vecCol,
        queries, qidCol, qvecCol, n, roundTo)
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("_nv")), Seq("neighbor_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos_sim").cast("double"), col("_nv").cast("array<double>"))
      .as[(Long, Long, Double, Array[Double])]
    shortlist.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray.sortBy(c => (-c._3, c._2))
        mmrGreedy(cands.map(c => (c._2, c._3, c._4)), m, lambda, roundTo)
          .map { case (id, score, rank) => (qid, id, score, rank) }
      }
      .toDF("query_id", "neighbor_id", "mmr_score", "pick_rank")
  }

  /** Plain-Scala greedy MMR over one bounded candidate list
    * ((id, relevance, vector), relevance-sorted). Exposed for the
    * reference-equivalence property test. */
  private[graft] def mmrGreedy(cands: Array[(Long, Double, Array[Double])],
                               m: Int, lambda: Double,
                               roundTo: Int): Seq[(Long, Double, Int)] = {
    def rnd(x: Double): Double =
      BigDecimal(x).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Int)]
    val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val remaining = scala.collection.mutable.ArrayBuffer(cands.toIndexedSeq: _*)
    while (picked.length < m && remaining.nonEmpty) {
      val scored = remaining.map { case (id, rel, v) =>
        val penalty =
          if (pickedVecs.isEmpty) 0.0 else pickedVecs.map(p => cos(v, p)).max
        (id, rnd(lambda * rel - (1.0 - lambda) * penalty), v)
      }
      // max mmr score, ties by id asc
      val best = scored.minBy { case (id, s, _) => (-s, id) }
      val idx = scored.indexWhere(_._1 == best._1)
      picked += ((best._1, best._2, picked.length + 1))
      pickedVecs += best._3
      remaining.remove(idx)
    }
    picked.toSeq
  }

  /** Boolean (set-retrieval) query over an on-the-fly inverted index:
    * documents whose token set matches at least `minMatch` of the query
    * `terms` (AND = terms.size, OR = 1). The term IN-filter runs
    * map-side BEFORE any shuffle — only (doc_id, matching-term) pairs
    * for the |terms| query tokens ever move, so cost is bounded by the
    * posting-list sizes of the query terms, not the corpus. This is
    * exactly the posting-intersection plan a search engine runs,
    * expressed as filter → distinct → count-threshold.
    */
  def booleanRetrieval(docs: DataFrame, idCol: String, textCol: String,
                       terms: Seq[String], minMatch: Int): DataFrame = {
    require(terms.nonEmpty && minMatch >= 1 && minMatch <= terms.size,
      s"need 1 <= minMatch <= |terms|, got minMatch=$minMatch terms=${terms.size}")
    docs.select(col(idCol).as("doc_id"),
        explode(TextAnalytics.tokens(col(textCol))).as("tok"))
      .where(col("tok").isInCollection(terms))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"))
      .where(col("n_terms_hit") >= minMatch)
  }

  /** Exact substring search accelerated by a character-trigram inverted
    * index (the pg_trgm / LIKE-acceleration pattern): a document can
    * contain `needle` only if it contains EVERY trigram of `needle`, so
    * candidates come from a trigram posting equi-join — the IN-filter on
    * the needle's trigrams runs before the shuffle, so cost is the
    * needle trigrams' posting lists, never a full-corpus regex scan —
    * and the final `contains` verify touches candidates only. Matching
    * is over whitespace-normalized lowercase text (the [[TextAnalytics
    * .charNgrams]] normalization); returns (doc_id, n_occ) with the
    * exact non-overlapping occurrence count.
    */
  /** Rank the top `topN` of a (id, score) table under the total order
    * (score desc, id asc) WITHOUT a single-partition window: the list
    * is first cut to `topN` rows distributively (TakeOrderedAndProject),
    * then ranks come from a bounded topN×topN predecessor-count join —
    * rank = 1 + |rows strictly ahead|. Callers pass ROUNDED scores so
    * the order (and thus every rank) is engine-reproducible.
    */
  def rankFromScores(scored: DataFrame, topN: Int): DataFrame = {
    require(topN > 0, s"topN $topN")
    val top = scored.orderBy(col("score").desc, col("id").asc).limit(topN)
    val a = top.select(col("id").as("_ra_id"), col("score").as("_ra_s"))
    val b = top.select(col("id").as("_rb_id"), col("score").as("_rb_s"))
    a.join(b, col("_rb_s") > col("_ra_s") ||
        (col("_rb_s") === col("_ra_s") && col("_rb_id") < col("_ra_id")),
        "left")
      .groupBy(col("_ra_id"))
      .agg((count(col("_rb_id")) + 1).cast("long").as("rank"))
      .select(col("_ra_id").as("id"), col("rank"))
  }

  /** Reciprocal-rank fusion of several (id, rank) lists:
    * rrf(d) = Σ_lists 1/(k + rank_list(d)) — the standard hybrid-
    * retrieval combiner (lexical BM25 ⊕ embedding cosine) that needs no
    * score calibration between rankers. Missing-from-a-list documents
    * simply contribute nothing. With two lists the double sum is
    * order-exact (two-term IEEE addition commutes); for >2 lists ties
    * at the 6-dp rounding boundary could in principle differ by fold
    * order. Returns the fused top `topN` by (rrf desc, id asc).
    *
    * Scale shape: union of the bounded ranked lists → one id-keyed
    * aggregate → TakeOrderedAndProject. No windows, no nested loops
    * beyond the callers' bounded rank joins.
    */
  def rrfFusion(rankings: Seq[DataFrame], k: Int, topN: Int): DataFrame = {
    require(rankings.nonEmpty && k > 0 && topN > 0,
      s"need rankings, k > 0, topN > 0; got ${rankings.size}, $k, $topN")
    rankings.map(_.select(col("id"),
        (lit(1.0) / (lit(k.toDouble) + col("rank"))).as("_c")))
      .reduce(_.unionAll(_))
      .groupBy(col("id"))
      .agg(round(sum(col("_c")), 6).as("rrf"),
        count(lit(1)).cast("long").as("n_lists"))
      .orderBy(col("rrf").desc, col("id").asc).limit(topN)
  }

  /** The one-time index build for [[substringSearchIndexed]]: the
    * distinct (trigram, doc_id) posting table over whitespace-normalized
    * lowercase text. At 100 TB this is written ONCE (sorted/bucketed by
    * gram so per-query scans prune to the needle's posting lists) and
    * probed by every subsequent search — the amortization that makes a
    * trigram index beat a per-query corpus scan.
    */
  def trigramPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // normalize ONCE into an attribute — an expression inlined in the
    // trigram lambda would re-run the regex per character position
    val withT = docs.select(col(idCol).as("doc_id"),
      regexp_replace(lower(col(textCol)), "\\s+", " ").as("_t"))
    withT.select(col("doc_id"),
        explode(TextAnalytics.charNgramsPre(col("_t"), 3)).as("g"))
      .distinct()
  }

  /** Search against a PREBUILT posting table: the needle-gram IN-filter
    * reaches the posting scan (pushed to parquet row-group stats when
    * the index is gram-sorted on disk), postings intersect via one
    * doc-keyed count, and the exact `contains` verify plus occurrence
    * count touch candidate documents only.
    */
  def substringSearchIndexed(postings: DataFrame, docs: DataFrame,
                             idCol: String, textCol: String,
                             needle: String): DataFrame = {
    val norm = needle.toLowerCase.replaceAll("\\s+", " ")
    require(norm.length >= 3, s"needle must be >= 3 chars, got '$needle'")
    require(!norm.contains("'"), "needle must not contain quotes")
    val grams = norm.sliding(3).toSeq.distinct
    val cand = postings.where(col("g").isInCollection(grams))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("_hits"))
      .where(col("_hits") === grams.size)
      .select(col("doc_id"))
    docs.select(col(idCol).as("doc_id"),
        regexp_replace(lower(col(textCol)), "\\s+", " ").as("_t"))
      .join(cand, Seq("doc_id"))
      .select(col("doc_id"),
        ((length(col("_t")) - length(expr(s"replace(_t, '$norm', '')"))) /
          norm.length).cast("long").as("n_occ"))
      .where(col("n_occ") >= 1)
  }

  /** Exact token-phrase search: documents where the tokens
    * `phrase(0) phrase(1) … phrase(m−1)` appear CONSECUTIVELY, with the
    * occurrence count. Token-exact — "batch batching" does not match
    * "batch batch" (the substring search above would).
    *
    * Scale shape: two map-only stages, no shuffle, no join. A codegen'd
    * `rlike` PREFILTER on the RAW text runs first —
    * `(^|\s)t0\s+t1…(\s|$)` with regex-quoted tokens, which for
    * whitespace tokenization is an exact (necessary AND sufficient)
    * condition for the phrase, so the corpus never reaches the
    * interpreted stage. The occurrence count then runs on survivors
    * only: the token array binds to an attribute FIRST (the
    * interpreted-HOF discipline from docs/THROUGHPUT.md) and one
    * higher-order `filter` over the start-position range does the
    * O(len·m) consecutive-match scan per candidate document. Without
    * the prefilter the interpreted HOF dominates (8.5 s → 0.7 s at
    * sf0.1). For repeated phrase queries over a standing corpus, build
    * [[trigramPostings]]-style positional postings instead.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    require(phrase.forall(t => t.nonEmpty && !t.contains("'") &&
      !t.exists(_.isWhitespace)), s"phrase tokens must be quote-free words: $phrase")
    val m = phrase.length
    val cond = phrase.zipWithIndex
      .map { case (t, j) => s"_toks[i + $j] = '${t.toLowerCase}'" }
      .mkString(" AND ")
    val prefilter = "(^|\\s)" +
      phrase.map(t => java.util.regex.Pattern.quote(t.toLowerCase))
        .mkString("\\s+") + "(\\s|$)"
    docs.where(lower(col(textCol)).rlike(prefilter))
      .select(col(idCol).as("doc_id"),
        TextAnalytics.tokens(lower(col(textCol))).as("_toks"))
      .select(col("doc_id"),
        when(size(col("_toks")) >= m,
          expr(s"size(filter(sequence(0, size(_toks) - $m), i -> $cond))"))
          .otherwise(lit(0)).cast("long").as("n_occ"))
      .where(col("n_occ") >= 1)
  }
}
