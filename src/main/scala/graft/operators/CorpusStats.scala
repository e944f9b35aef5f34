package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalytics

/** Corpus-level statistics that drive curation decisions: duplicate
  * inflation (how much a dedup pass would shrink the corpus), corpus-
  * driven stopword mining, out-of-vocabulary rates against the corpus's
  * own vocabulary, and first-occurrence novelty scoring.
  *
  * Scale design mirrors [[Curation]]/[[Dedup]]: shuffles carry tokens,
  * 64-bit shingle hashes, or small per-document stats — never document
  * text; global normalizers are one-row aggregates broadcast back; all
  * per-row work is builtins or codegen'd kernels.
  */
object CorpusStats {

  /** Duplicate-inflation report: given a near-dup pair list, how is the
    * corpus distributed over duplicate-cluster sizes, and how many
    * tokens would a keep-one-per-cluster dedup drop? The decision table
    * a pipeline reads before paying for a full dedup pass.
    *
    * Docs that appear in no pair are size-1 clusters (their own id).
    * The keeper is the cluster's minimum id (the [[Dedup.keepers]]
    * contract), so `dropped_tokens` is the cluster's token mass minus
    * the keeper's.
    *
    * Plan shape: connected components over the (bounded) pair dimension,
    * one left join of per-doc token counts against the component map,
    * then two count-sized aggregates. Nothing wider than (id, tokens)
    * ever shuffles.
    */
  def dupInflation(docs: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame): DataFrame = {
    val cl = Dedup.clusters(pairs)
    val toks = docs.select(col(idCol).cast("long").as("id"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val withCl = toks.join(cl, Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
    val perCluster = withCl.groupBy(col("cluster_id")).agg(
      count(lit(1)).as("cluster_size"),
      sum(col("n_tokens")).as("tok"),
      // struct-min orders by id first: the keeper's token count in the
      // same aggregate pass (the q_minmax_by argpick pattern, no window)
      min(struct(col("id"), col("n_tokens"))).as("_keep"))
    perCluster.groupBy(col("cluster_size")).agg(
        count(lit(1)).as("n_clusters"),
        sum(col("tok")).as("total_tokens"),
        sum(col("tok") - col("_keep.n_tokens")).as("dropped_tokens"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        col("total_tokens"), col("dropped_tokens"))
  }

  /** Corpus-driven stopword mining: tokens whose document-frequency
    * ratio meets `minDfRatio`. The inverse of rare-token pruning — the
    * list every quality heuristic (stopword ratio, BM25's idf floor)
    * wants derived from the corpus itself rather than hard-coded.
    *
    * Plan shape: per-doc distinct tokens fan out map-side
    * (`array_distinct` before `explode`, so a token repeated in one doc
    * costs one row), one token-keyed count, and the corpus size rides
    * in as a broadcast one-row aggregate. The threshold compares the
    * ROUNDED ratio so an ulp cannot flip membership (oracle-parity
    * contract).
    */
  def stopwords(docs: DataFrame, textCol: String,
                minDfRatio: Double): DataFrame = {
    val docTokens = docs.select(
      explode(array_distinct(split(col(textCol), " "))).as("token"))
    val dfCounts = docTokens.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    dfCounts.crossJoin(broadcast(total))
      .withColumn("df_ratio",
        round(col("df").cast("double") / col("n_docs"), 4))
      .where(col("df_ratio") >= minDfRatio)
      .select(col("token"), col("df"), col("df_ratio"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-`vocabSize` tokens by total frequency — the cheap proxy for
    * "how much of this doc would a fixed tokenizer shatter into rare
    * pieces". High OOV flags junk, boilerplate in another script, or
    * encoding damage.
    *
    * Vocabulary ties at the frequency boundary break by token asc, so
    * the vocab set is deterministic on any engine. The vocab is a
    * bounded dimension and broadcasts; the join is map-side, the only
    * shuffle carries (id, two longs).
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), lit(1).as("_inv"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("id")).agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 4).as("oov_rate"))
  }

  /** First-occurrence novelty: the fraction of a document's distinct
    * shingles that occur in NO earlier document (by id order) — the
    * information-gain curve of a crawl. Duplicates score ~0; the
    * pristine first copy scores 1. Input is the shared (id, sh) shingle
    * table so the tokenize→shingle kernel runs once per corpus.
    *
    * Plan shape: explode to (id, hash) distinct rows, one hash-keyed
    * min(id) aggregate (the first-occurrence map), one hash-keyed join
    * back, one id-keyed count — every shuffle carries only 64-bit
    * hashes and ids.
    */
  def novelty(shingles: DataFrame, idCol: String = "id",
              shCol: String = "sh"): DataFrame = {
    val ex = shingles.select(col(idCol).as("id"), explode(col(shCol)).as("h"))
      .distinct()
    val first = ex.groupBy(col("h")).agg(min(col("id")).as("first_id"))
    ex.join(first, Seq("h"))
      .groupBy(col("id")).agg(
        count(lit(1)).as("n_sh"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("id"), col("n_sh"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_sh"), 4).as("novelty"))
  }

  /** Per-source document cap: keep at most `cap` documents per source,
    * highest [[TextAnalytics.qualityScore]] first — the per-domain cap
    * every web-scale pipeline applies so no single domain dominates the
    * mixture (RefinedWeb/C4 discipline).
    *
    * Ranking key is (rounded quality desc, id asc): the score is rounded
    * in BOTH engines before ordering so a double ulp cannot swap ranks.
    * One source-keyed window over (id, source, quality) rows; the text
    * never shuffles.
    */
  def sourceCap(docs: DataFrame, idCol: String, textCol: String,
                srcCol: String, cap: Int,
                stopwords: Seq[String]): DataFrame = {
    val scored = docs.select(col(idCol).as("id"), col(srcCol).as("source"),
      TextAnalytics.qualityScore(col(textCol), stopwords).as("quality"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= cap)
  }

  /** 2-D Pareto frontier (skyline) of the corpus under (maximize
    * `scoreCol`, minimize `costCol`) — the documents no other document
    * beats on both axes, e.g. "best quality per token spent": the
    * efficient frontier a budget-constrained curation pass selects
    * from. A row is dominated iff some other row is ≥ on score and ≤
    * on cost with at least one strict; equal (score, cost) twins do
    * not dominate each other and both survive.
    *
    * Scale shape — no self-join and no corpus-sized window: the
    * frontier test needs only (a) each score level's minimum cost and
    * (b) the running minimum cost over STRICTLY higher score levels.
    * (a) is a score-keyed aggregate; (b) is a window over the DISTINCT
    * score table, bounded by the score's rounding grid (`scoreCol`
    * must be pre-rounded — a 4-dp score in [0,1] has ≤ 10001 levels)
    * rather than the corpus; survivors come from one broadcast join
    * back. The classic sort-scan skyline, re-expressed as two bounded
    * aggregates.
    */
  def paretoFront(df: DataFrame, idCol: Column, scoreCol: Column,
                  costCol: Column): DataFrame = {
    val rows = df.select(idCol.as("id"), scoreCol.as("score"),
      costCol.cast("long").as("cost"))
    val wAbove = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val levels = rows.groupBy(col("score")).agg(min(col("cost")).as("_lmin"))
      .select(col("score"), col("_lmin"),
        min(col("_lmin")).over(wAbove).as("_above"))
    rows.join(broadcast(levels), Seq("score"))
      .where(col("cost") === col("_lmin") &&
        (col("_above").isNull || col("cost") < col("_above")))
      .select(col("id"), col("score"), col("cost"))
  }

  /** Class-based TF-IDF (the BERTopic c-TF-IDF formula): the score of
    * term t for class c is tf_{t,c} · ln(1 + A/f_t) — tf_{t,c} the
    * term's count inside the class, f_t its corpus-wide count, A the
    * mean token mass per class — surfacing the terms that CHARACTERIZE
    * a class against the rest of the corpus (topic labeling, per-source
    * vocabulary drift). All counts are exact integers; the single
    * ln(1 + A/f) · tf product is the only float step and is spelled
    * identically in the oracle. Returns the per-class top-`topK` terms
    * with their rank (ties on the ROUNDED score break by term asc, so
    * the ranking is engine-deterministic).
    *
    * Scale shape: corpus tokens reduce map-side into the (class, term)
    * count dimension (one shuffle carrying (class, term, partial));
    * term totals and the one-row A are aggregates OVER THAT DIMENSION
    * (checkpointed — three consumers must not re-scan the corpus), and
    * the top-k is a class-partitioned window over the collapsed
    * dimension that WindowGroupLimit prunes.
    */
  def cTfidf(docs: DataFrame, classCol: Column, textCol: Column,
             topK: Int, minTf: Long = 2): DataFrame = {
    require(topK >= 1, s"topK $topK")
    val tf = Lineage.cut(docs.select(classCol.as("class"),
        explode(TextAnalytics.tokens(lower(textCol))).as("term"))
      .groupBy(col("class"), col("term"))
      .agg(count(lit(1)).as("tf")), "CorpusStats.cTfidf.tf")
    val f = tf.groupBy(col("term")).agg(sum(col("tf")).as("f"))
    val a = tf.agg((sum(col("tf")).cast("double") /
      countDistinct(col("class"))).as("a"))
    val scored = tf.where(col("tf") >= minTf)
      .join(f, Seq("term"))
      .crossJoin(broadcast(a))
      .select(col("class"), col("term"), col("tf"),
        round(col("tf") * log(lit(1.0) + col("a") / col("f")), 4).as("score"))
    val w = Window.partitionBy(col("class"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= topK)
  }
}
