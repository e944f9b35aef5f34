package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY.md §2.9 — declared capability;
  * the reference is batch-only but incremental, so these are the
  * streaming analogues of its one-pass dataflow).
  *
  * Every transform here takes a DataFrame that may be batch OR streaming —
  * the plans are identical (Spark's unified model); the batch run doubles
  * as the correctness oracle for the streaming run (batch-equivalence,
  * tested with MemoryStream in StreamsSpec and declared to the driver as
  * q_tumbling_batch).
  *
  * Scale notes: all aggregations key their state by (window ∪ group key),
  * so state is hash-partitioned across executors by the shuffle; the
  * watermark bounds state size — without it a 100 TB stream accretes
  * unbounded window state. File sources use `maxFilesPerTrigger` to
  * bound per-batch work.
  */
object Streams {

  /** Streaming file source with explicit schema (never inferred). */
  def fileSource(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet", maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)

  /** Tumbling-window count+sum per event_type with late-data drop. */
  def tumblingAgg(events: DataFrame, window_ : String = "10 minutes",
                  watermark: String = "10 minutes"): DataFrame =
    tumblingAggBatch(events.withWatermark("ts", watermark), window_)

  /** The watermark-free core of [[tumblingAgg]] — identical plan shape;
    * used directly for batch runs (batch-equivalence oracle,
    * SparkEntry q_tumbling_batch).
    */
  def tumblingAggBatch(events: DataFrame, window_ : String = "10 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("total"))

  /** Sliding windows: each event lands in window_/slide overlapping panes. */
  def slidingAgg(events: DataFrame, window_ : String = "10 minutes",
                 slide: String = "5 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    slidingAggBatch(events.withWatermark("ts", watermark), window_, slide)

  /** Watermark-free core of [[slidingAgg]] (batch-equivalence oracle). */
  def slidingAggBatch(events: DataFrame, window_ : String = "10 minutes",
                      slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), window_, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows (gap-based, built-in session_window). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("total"))

  /** Stateful stream dedup: drops duplicate event_ids arriving within the
    * watermark horizon (state is bounded by the watermark, unlike plain
    * dropDuplicates which keeps keys forever).
    */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String] = Seq("event_id"),
                           watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keyCols)

  /** Streaming document curation: the batch curation signals are all
    * stateless per-row kernels, so they lift to a stream unchanged; the
    * only stateful stage is content dedup, keyed by xxhash64(text)
    * within the watermark horizon (state carries an 8-byte key, never
    * the document — the [[graft.operators.Dedup.exactByKey]] shuffle
    * discipline applied to stream state). Emits rows that pass the
    * quality/repetition gates AND are the first occurrence of their
    * content inside the horizon. The signal/filter stages are the
    * identical plan in batch mode; the dedup stage is the mode's
    * equivalent (dropDuplicatesWithinWatermark is streaming-only —
    * batch uses plain content-hash dropDuplicates, i.e. an unbounded
    * horizon), which StreamsSpec checks by running both.
    */
  def curateStream(docs: DataFrame, tsCol: String, textCol: String,
                   stopwords: Seq[String], minQuality: Double = 0.5,
                   maxDupTokenFrac: Double = 0.6,
                   watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Curation
    import graft.functions.TextAnalytics
    val gated = docs
      .withColumn("quality",
        round(TextAnalytics.qualityScore(col(textCol), stopwords), 4))
      .withColumn("dup_token_frac",
        round(Curation.repetitionStats(col(textCol)).getField("dup_token_frac"), 4))
      .where(col("quality") >= minQuality &&
        col("dup_token_frac") <= maxDupTokenFrac)
      .withColumn("content_hash", xxhash64(col(textCol)))
    if (gated.isStreaming)
      gated.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark("content_hash")
    else gated.dropDuplicates("content_hash")
  }

  /** Streaming Gopher-rule quality battery — the streaming twin of
    * [[graft.operators.Curation.gopherRules]]. The rule battery is
    * map-only (one projection: integer counts + threshold verdicts, no
    * aggregate, no join), so it lifts to a stream with ZERO state: the
    * identical named-verdict projection applies per micro-batch and
    * emits in append mode — every batch curation op that can stream,
    * streams. StreamsSpec runs the same documents through this on a
    * MemoryStream and through the batch operator and asserts the
    * verdict tables are equal row-for-row.
    */
  def gopherStream(docs: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String] = Seq("the", "be", "to", "of",
                     "and", "that", "have", "with"),
                   minWords: Long = 45L, maxWords: Long = 100000L): DataFrame =
    graft.operators.Curation.gopherRules(docs, idCol, textCol, stopwords,
      minWords, maxWords)

  /** DSIR scoring stream — the deployment shape of
    * [[graft.operators.Curation.dsirScores]]: training happens in batch
    * ([[graft.operators.Curation.dsirDim]], a buckets-bounded dimension
    * collected driver-side like the PQ codebooks), and every arriving
    * document is scored map-only against that model via one `aggregate`
    * expression — zero state, no join, no shuffle, append mode. Batch
    * scoring and this expression agree (StreamsSpec stream ≡ batch).
    */
  def dsirStream(docs: DataFrame, idCol: String, textCol: String,
                 llr: Map[Long, Double], defaultLlr: Double,
                 buckets: Int): DataFrame = {
    val s = graft.operators.Curation.dsirScoreExpr(llr, defaultLlr,
      buckets, col(textCol))
    docs.select(col(idCol).as("doc_id"),
      s.getField("n_grams").as("n_grams"),
      s.getField("score").as("dsir_score"))
  }

  /** Per-document script/charset profile stream — the streaming twin of
    * the q_script_mix corpus readout: the character-class counts are
    * one map-only projection (the same pairwise-disjoint regex trees),
    * so they lift to a stream with ZERO state — append mode, no
    * watermark, no shuffle. Emits the exact integer counts alongside
    * the per-doc fractions, so any downstream (batch or windowed)
    * per-language aggregate reproduces the corpus profile from the
    * stream's own output. StreamsSpec asserts stream ≡ batch
    * row-for-row and that re-aggregating the stream output yields the
    * batch corpus profile.
    */
  def scriptMixStream(docs: DataFrame, idCol: String, textCol: String,
                      carryCols: Seq[String] = Nil): DataFrame =
    docs.select(Seq(col(idCol).as("doc_id")) ++ carryCols.map(col) ++ Seq(
      length(col(textCol)).as("n_chars"),
      length(regexp_replace(col(textCol), "[^A-Za-z]", "")).as("alpha_chars"),
      length(regexp_replace(col(textCol), "[^0-9]", "")).as("digit_chars"),
      length(regexp_replace(col(textCol), "[^ \\t\\n\\r]", "")).as("ws_chars"),
      length(regexp_replace(col(textCol), "[\\x00-\\x7F]", "")).as("nonascii_chars")): _*)

  /** Streaming boilerplate removal — the deployment shape of
    * [[graft.operators.Curation.boilerplatePassages]]: the corpus-wide
    * passage document-frequency lives in a STANDING index built in
    * batch ([[graft.operators.Curation.passageDfIndex]] — the trained
    * model, like dsirStream's dsirDim), and each arriving document
    * splits into the identical fixed-word passages map-side, probes the
    * index with a stateless stream-static LEFT join on the 64-bit
    * passage hash (absent hash ⇒ df 0 ⇒ kept), and reassembles in one
    * event-time-windowed per-document aggregate bounded by the
    * watermark. Output matches the batch operator row-for-row when the
    * index covers the same corpus the batch run saw (StreamsSpec).
    */
  def boilerplateStream(newDocs: DataFrame, tsCol: String, idCol: String,
                        textCol: String, dfIndex: DataFrame,
                        passageWords: Int = 10, minDocs: Int = 2,
                        watermark: String = "10 seconds",
                        windowDur: String = "10 seconds"): DataFrame = {
    import graft.operators.Curation
    val p = Curation.passageRows(newDocs, idCol, textCol, passageWords,
        carry = Seq(tsCol))
      .withColumn("_ph", xxhash64(col("passage")))
      .withWatermark(tsCol, watermark)
    p.join(dfIndex, Seq("_ph"), "left")
      .withColumn("_df", coalesce(col("df"), lit(0L)))
      .groupBy(window(col(tsCol), windowDur), col("id"))
      .agg(
        count(lit(1)).as("n_passages"),
        count(when(col("_df") < minDocs, lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("_df") < minDocs,
              struct(col("pidx"), col("passage"))))),
            s => s.getField("passage")), " ").as("clean_text"))
      .select(col("id"), col("n_passages"), col("n_kept"), col("clean_text"))
  }

  /** Continuous incremental dedup — the streaming twin of
    * [[graft.operators.Dedup.incrementalNgramPairs]]: each arriving
    * document's n-gram shingles probe a STATIC standing-corpus shingle
    * index, and the per-(new doc, corpus doc) intersection count folds
    * into an event-time-windowed aggregation; matches with Jaccard ≥
    * `threshold` emit when the watermark closes the window. The
    * stream-static equi-join is STATELESS (the static side re-resolves
    * per micro-batch — in production persist `corpusShingled` exploded
    * and bucketed by hash so each batch is one co-located probe); only
    * the windowed (doc, corpus_doc) counts hold state, bounded by the
    * watermark.
    *
    * Output: (doc_id, corpus_id, jaccard rounded to 4) — new-vs-corpus
    * matches only (in-stream new-vs-new dedup is [[curateStream]]'s
    * content-hash job). Batch-equivalence: running the same transform
    * on a batch frame, and the batch operator restricted to
    * new-touching-old pairs, both produce this output exactly
    * (StreamsSpec).
    */
  def incrementalDedupStream(newDocs: DataFrame, tsCol: String,
                             idCol: String, textCol: String,
                             corpusShingled: DataFrame, threshold: Double,
                             watermark: String = "10 seconds",
                             windowDur: String = "10 seconds"): DataFrame = {
    import graft.functions.{DedupExpr, TextAnalytics}
    val newSh = newDocs.select(col(tsCol).as("ts"), col(idCol).as("doc_id"),
        DedupExpr.shingleHashes(TextAnalytics.tokens(col(textCol)), 3).as("sh"))
      .select(col("ts"), col("doc_id"), size(col("sh")).as("n_new"),
        explode(col("sh")).as("h"))
      .withWatermark("ts", watermark)
    val idx = corpusShingled.select(col("id").as("corpus_id"),
      size(col("sh")).as("n_old"), explode(col("sh")).as("h"))
    newSh.join(idx, Seq("h"))
      .groupBy(window(col("ts"), windowDur), col("doc_id"), col("corpus_id"),
        col("n_new"), col("n_old"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_id"), col("corpus_id"),
        round(col("inter").cast("double") /
          (col("n_new") + col("n_old") - col("inter")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ---------------------------------------- streaming MinHash-LSH near-dup

  /** One banded row of an incoming document: event time, id, the FULL
    * minhash signature (the bucket verifies with it and must store it),
    * the band index, and the folded 64-bit band key the stream is keyed
    * by (same kernel as the batch path: DedupExpr.bandKeys).
    */
  private[graft] case class BandRow(ts: Timestamp, doc_id: Long,
                                    sig: Array[Long], band: Int, bkey: Long)
  private[graft] case class BucketMember(doc_id: Long, sig: Array[Long])

  /** A near-duplicate hit: `first_id` arrived on the stream strictly
    * before `second_id` (the batch twin's (id_a < id_b) canonical order
    * coincides with this when arrival order is id order); `ts` is the
    * later document's event time.
    */
  case class NearDupPair(ts: Timestamp, first_id: Long, second_id: Long,
                         est_jaccard: Double)

  /** One LSH bucket's members and pairing logic. Each incoming banded
    * row compares its full signature against every member already in
    * the bucket (estimated Jaccard = agreeing positions / numHashes —
    * the batch kernel's exact arithmetic) and appends itself. A pair
    * that collides in SEVERAL bands would emit once per shared bucket;
    * the processor suppresses duplicates WITHOUT a second stateful
    * operator by exploiting that a bucket holds both FULL signatures:
    * it recomputes which bands the two signatures share (slice
    * equality — collision in band b IS equality of that slice) and
    * emits only from the LOWEST shared band's bucket. Deterministic,
    * exactly one emission per pair, no cross-bucket coordination.
    *
    * State budget: one (doc_id, signature) per member per band bucket —
    * (8 + 8·numHashes) B per entry, bands·n entries across all buckets
    * for n standing documents (≈ 8.3 GB at numHashes=32, bands=8,
    * n=10M). A bucket exceeding `maxBucket` members fails LOUDLY: a hot
    * bucket means a boilerplate band shared by ~everything, and the
    * mitigations are upstream (strip boilerplate — Dedup.boilerplate —
    * or raise rowsPerBand so bands are more selective), never silent
    * candidate dropping.
    */
  class MinhashBucketProcessor(rowsPerBand: Int, threshold: Double,
                               maxBucket: Int)
      extends StatefulProcessor[Long, BandRow, NearDupPair] {
    @transient private var members: org.apache.spark.sql.streaming.ListState[BucketMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[BucketMember]("members",
        Encoders.product[BucketMember], TTLConfig.NONE)

    private def sliceEq(a: Array[Long], b: Array[Long], band: Int): Boolean = {
      var i = band * rowsPerBand
      val end = i + rowsPerBand
      while (i < end) { if (a(i) != b(i)) return false; i += 1 }
      true
    }

    private def minSharedBand(a: Array[Long], b: Array[Long]): Int = {
      var band = 0
      val nBands = a.length / rowsPerBand
      while (band < nBands) { if (sliceEq(a, b, band)) return band; band += 1 }
      -1 // unreachable for two rows in the same bucket
    }

    private def agreement(a: Array[Long], b: Array[Long]): Double = {
      var eq = 0
      var i = 0
      while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / a.length
    }

    override def handleInputRows(key: Long, rows: Iterator[BandRow],
                                 timerValues: TimerValues): Iterator[NearDupPair] = {
      // ts-then-id order makes intra-batch pairing deterministic (the
      // earlier document is always `first_id`, matching cross-batch
      // behavior) regardless of post-shuffle iterator order
      val newcomers = rows.toArray.sortBy(r => (r.ts.getTime, r.doc_id))
      var cur = {
        val b = scala.collection.mutable.ArrayBuffer.empty[BucketMember]
        val it = members.get()
        while (it.hasNext) b += it.next()
        b
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
      for (r <- newcomers) {
        // replay idempotence: a document already in the bucket (source
        // retry / at-least-once upstream) neither re-pairs nor re-adds
        if (!cur.exists(_.doc_id == r.doc_id)) {
          for (m <- cur) {
            val est = agreement(m.sig, r.sig)
            if (est >= threshold && minSharedBand(m.sig, r.sig) == r.band)
              out += NearDupPair(r.ts, m.doc_id, r.doc_id, est)
          }
          require(cur.size < maxBucket,
            s"minhashNeardupStream: LSH bucket $key exceeds maxBucket=" +
              s"$maxBucket members — a bucket this hot means a band shared " +
              "by ~everything (boilerplate): strip it upstream " +
              "(Dedup.boilerplate) or raise rowsPerBand for more selective " +
              "bands; candidates are never dropped silently")
          val nm = BucketMember(r.doc_id, r.sig)
          cur += nm
          members.appendValue(nm)
        }
      }
      out.iterator
    }
  }

  /** Self-deduplicating ingest: MinHash-LSH near-duplicate detection of
    * each arriving document against the GROWING corpus of every document
    * that arrived before it — the streaming twin of
    * [[graft.operators.Dedup.minhashPairs]] (q_minhash_pairs), where
    * [[incrementalDedupStream]] probes a FIXED standing corpus.
    *
    * Plan shape (the 100 TB path, mirroring the batch operator): per-doc
    * signature via the same native kernels (map-only) → posexplode of
    * the folded band keys (fan-out ×bands, still narrow) → ONE shuffle
    * keyed by the 64-bit band key → stateful within-bucket verify
    * against stored signatures. Each pair emits exactly once — at the
    * later document's arrival, from the lowest band the two signatures
    * share (see [[MinhashBucketProcessor]]) — so replaying a bounded
    * corpus in id order yields byte-for-byte the batch operator's
    * (id_a < id_b, est_jaccard ≥ threshold) pairs, asserted in
    * StreamsSpec along with RocksDB crash recovery.
    */
  def minhashNeardupStream(docs: DataFrame, tsCol: String, idCol: String,
                           textCol: String, numHashes: Int = 32,
                           bands: Int = 8, threshold: Double = 0.5,
                           shingleK: Int = 3,
                           maxBucket: Int = 4096): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    import graft.functions.{DedupExpr, TextAnalytics}
    require(numHashes % bands == 0,
      s"minhashNeardupStream: numHashes=$numHashes must be divisible by " +
        s"bands=$bands (lsh_band_keys rejects ragged widths)")
    val rowsPerBand = numHashes / bands
    val banded = docs
      .select(col(tsCol).as("ts"), col(idCol).as("doc_id"),
        DedupExpr.minhashSig(TextAnalytics.tokens(col(textCol)),
          shingleK, numHashes).as("sig"))
      .select(col("ts"), col("doc_id"), col("sig"),
        posexplode(DedupExpr.bandKeys(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bkey")))
      .as[BandRow]
    withState(banded,
      new MinhashBucketProcessor(rowsPerBand, threshold, maxBucket))(_.bkey)
  }

  // ---------------------------------- streaming embedding near-dup (sign-LSH)

  /** One banded row of an incoming vector: event time, id, the vector
    * itself (the bucket verifies with exact cosine and must store it),
    * the FULL per-band key array (see [[VecBucketProcessor]] for why),
    * the band index, and the band key the stream is keyed by — the same
    * band-salted keys as the batch path (Dedup.lshBandKeyArray, private
    * planes at base geometry, the 256-projection pool past the cutoff).
    */
  private[graft] case class VecBandRow(ts: Timestamp, vec_id: Long,
                                       vec: Array[Float], keys: Array[Long],
                                       band: Int, bkey: Long)
  private[graft] case class VecBucketMember(vec_id: Long, vec: Array[Float],
                                            keys: Array[Long])

  /** An embedding near-duplicate hit: `first_id` arrived strictly before
    * `second_id`; `cos_sim` is the EXACT kernel cosine (unrounded).
    */
  case class VecNearDupPair(ts: Timestamp, first_id: Long, second_id: Long,
                            cos_sim: Double)

  /** One sign-LSH bucket's members and pairing logic — the vector twin
    * of [[MinhashBucketProcessor]]. Each incoming banded row verifies
    * against every stored member with exact cosine (bit-identical to
    * VectorKernels.cosine: float→double widening, one left-fold
    * accumulation, zero-norm → 0.0) and appends itself.
    *
    * Cross-band dedup differs from the minhash processor: a minhash
    * bucket can RECOMPUTE band collisions from the stored signatures
    * (collision ⟺ slice equality), but a sign-LSH collision is equality
    * of band-salted projection hashes, and recomputing those inside the
    * processor would re-run pool projections per comparison. Instead
    * each member stores its full key array (8·bands extra bytes), and a
    * pair emits only from the LOWEST index where the two key arrays
    * agree — keys are band-salted (xxhash64(sig, band)), so same-index
    * equality IS the batch join's collision predicate. Deterministic,
    * exactly one emission per pair, no cross-bucket coordination.
    *
    * State budget: one (id, vector, keys) per member per band bucket —
    * (16 + 4·d + 8·bands) B per entry, bands·n entries for n standing
    * vectors (d=768, bands=16, n=10M ⇒ ≈500 GB of RocksDB state across
    * the cluster, ~disk not heap). The production knob is geometry:
    * near-dup at cosine ≥0.9 wants planesPerBand 12–20, which lets
    * bands drop to 4–8 and cuts both state and shuffle ∝ bands. A
    * bucket exceeding `maxBucket` fails LOUDLY — a hot bucket means a
    * degenerate direction shared by ~everything (e.g. un-centered
    * embeddings); mitigations are upstream (center/normalize, raise
    * planesPerBand), never silent candidate dropping.
    */
  class VecBucketProcessor(threshold: Double, maxBucket: Int)
      extends StatefulProcessor[Long, VecBandRow, VecNearDupPair] {
    @transient private var members: org.apache.spark.sql.streaming.ListState[VecBucketMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[VecBucketMember]("members",
        Encoders.product[VecBucketMember], TTLConfig.NONE)

    private def cosine(a: Array[Float], b: Array[Float]): Double = {
      if (a.length != b.length) throw new IllegalArgumentException(
        s"embeddingNeardupStream: ragged vectors in one bucket — lengths " +
          s"${a.length} and ${b.length}")
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }

    private def minSharedBand(a: Array[Long], b: Array[Long]): Int = {
      var i = 0
      while (i < a.length) { if (a(i) == b(i)) return i; i += 1 }
      -1 // unreachable for two rows in the same bucket
    }

    override def handleInputRows(key: Long, rows: Iterator[VecBandRow],
                                 timerValues: TimerValues): Iterator[VecNearDupPair] = {
      val newcomers = rows.toArray.sortBy(r => (r.ts.getTime, r.vec_id))
      val cur = {
        val b = scala.collection.mutable.ArrayBuffer.empty[VecBucketMember]
        val it = members.get()
        while (it.hasNext) b += it.next()
        b
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[VecNearDupPair]
      for (r <- newcomers) {
        if (!cur.exists(_.vec_id == r.vec_id)) { // replay idempotence
          for (m <- cur) {
            val cs = cosine(m.vec, r.vec)
            if (cs >= threshold && minSharedBand(m.keys, r.keys) == r.band)
              out += VecNearDupPair(r.ts, m.vec_id, r.vec_id, cs)
          }
          require(cur.size < maxBucket,
            s"embeddingNeardupStream: LSH bucket $key exceeds maxBucket=" +
              s"$maxBucket members — a bucket this hot means a degenerate " +
              "shared direction (un-centered embeddings, constant rows): " +
              "center/normalize upstream or raise planesPerBand for more " +
              "selective bands; candidates are never dropped silently")
          val nm = VecBucketMember(r.vec_id, r.vec, r.keys)
          cur += nm
          members.appendValue(nm)
        }
      }
      out.iterator
    }
  }

  /** Self-deduplicating embedding ingest: sign-LSH near-duplicate
    * detection of each arriving vector against the GROWING corpus of
    * every vector that arrived before it — the streaming twin of
    * [[graft.operators.Dedup.embeddingNearDupPairs]]
    * (q_embedding_neardup_lsh). Output is always a SUBSET of the exact
    * all-pairs result at the same threshold (candidates need a shared
    * band); only recall is approximate — the batch operator's contract.
    *
    * Plan shape (mirrors the batch scale path): band keys via the same
    * kernel (map-only; pooled projections past the geometry cutoff) →
    * posexplode (fan-out ×bands — unlike batch, each banded row carries
    * the vector, because the bucket must store it for verification; the
    * production lever is geometry, see [[VecBucketProcessor]]) → ONE
    * shuffle keyed by the band-salted 64-bit key → stateful
    * within-bucket exact-cosine verify. Each pair emits exactly once,
    * at the later vector's arrival, from the lowest shared band.
    *
    * `vecCol` must be array<float> (the embeddings table's type); a
    * double-array column fails encoder resolution loudly rather than
    * silently down-casting — cast upstream if you accept the precision
    * change. Replaying a bounded corpus in id order yields exactly the
    * batch operator's (id_a < id_b, cos ≥ threshold) pairs, asserted in
    * StreamsSpec along with RocksDB crash recovery.
    */
  def embeddingNeardupStream(vecs: DataFrame, tsCol: String, idCol: String,
                             vecCol: String, threshold: Double,
                             planesPerBand: Int = 3, bands: Int = 16,
                             maxBucket: Int = 4096): Dataset[VecNearDupPair] = {
    import vecs.sparkSession.implicits._
    val banded = vecs
      .select(col(tsCol).as("ts"), col(idCol).as("vec_id"),
        col(vecCol).as("vec"),
        graft.operators.Dedup.lshBandKeyArray(col(vecCol), planesPerBand,
          bands).as("keys"))
      .select(col("ts"), col("vec_id"), col("vec"), col("keys"),
        posexplode(col("keys")).as(Seq("band", "bkey")))
      .as[VecBandRow]
    withState(banded, new VecBucketProcessor(threshold, maxBucket))(_.bkey)
  }

  /** Stream-stream inner join with an event-time interval bound: left
    * row joins right rows with `rightTs` in [leftTs − lookback, leftTs].
    * Both sides carry watermarks, so each side's join state is bounded —
    * without the time bound a stream-stream join must retain the full
    * history of both sides. Both sides may share the `key` column name —
    * the right side's key is renamed to `${key}_r` internally (and kept
    * in the output under that name); all OTHER column names must be
    * disjoint.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   lookback: String = "30 minutes",
                   watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(key, s"${key}_r").withWatermark(rightTs, watermark)
    l.join(r, expr(
      s"""$key = ${key}_r AND
         |$rightTs >= $leftTs - INTERVAL $lookback AND
         |$rightTs <= $leftTs""".stripMargin))
  }

  /** The one place a builder here reaches `transformWithState`: group
    * `input` by `key` and run `processor` in Append mode.
    *
    * Batch inputs need the driver's StateStoreCoordinator RPC endpoint,
    * and Spark only creates it when the first STREAMING query starts
    * (StreamingQueryManager's driver-side coordinator). Spark 4 also
    * executes StatefulProcessors over batch Datasets — with ephemeral
    * per-key state — and that path still reports its RocksDB store
    * instances to the coordinator. In a fresh session that has never run
    * a streaming query, the first batch run would die in
    * RocksDBStateStoreProvider.loadStateStore with
    * CANNOT_LOAD_STATE_STORE (RpcEndpointNotFoundException:
    * StateStoreCoordinator) — an order-dependent failure: the same call
    * succeeds if any streaming query ran earlier in the JVM. The
    * coordinator's `forDriver` is idempotent — it attempts endpoint
    * registration and falls back to a lookup of the existing endpoint —
    * so the call is safe under repeated invocation and session restarts
    * (a rebuilt SparkContext brings a fresh SparkEnv, which is why it
    * runs per builder call rather than once in a lazy val). Driver-side
    * only, microseconds; no effect on the plan.
    *
    * `timeMode` defaults to TimeMode.None, right for every processor
    * without timers or TTL: None keeps `processAllAvailable` usable,
    * while ProcessingTime re-triggers housekeeping batches forever and
    * would busy-loop empty micro-batches.
    */
  private def withState[K: Encoder, I, O: Encoder](input: Dataset[I],
      processor: StatefulProcessor[K, I, O],
      timeMode: TimeMode = TimeMode.None())(key: I => K): Dataset[O] = {
    if (!input.isStreaming)
      org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
        .forDriver(org.apache.spark.SparkEnv.get,
          org.apache.spark.sql.internal.SQLConf.get)
    input.groupByKey(key).transformWithState(processor, timeMode,
      OutputMode.Append())
  }

  // ----------------------------------------------- arbitrary state (FMGWS)

  // `value` is boxed (nullable): the batch `events` table allows NULL
  // value, and a primitive Double field would fail deserialization on
  // the first null row — the processors fold nulls exactly as their
  // batch twins do (see nz/cents below).
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: java.lang.Double)

  /** Null-safe value fold: the batch twins either skip a NULL value
    * (sum() semantics) or coalesce(value, 0) — both identical to adding
    * 0 in a running total.
    */
  private[graft] def nz(v: java.lang.Double): Double =
    if (v == null) 0.0 else v.doubleValue

  /** TRUE epoch micros (getTime is millis; getNanos carries the full
    * sub-second) — the batch twins order by unix_micros, and two
    * same-millisecond events must tie-break the same way in both
    * engines for the stream ≡ batch contracts to hold. Every event-order
    * processor uses it: the [[UserFold]] skeleton sorts and steps by it,
    * and [[DedupProcessor]] tie-breaks by it.
    */
  private[graft] def micros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L

  /** x at `dp` decimals, HALF_UP via the double's shortest decimal form —
    * what Spark's Round computes on DoubleType.
    */
  private def halfUp(x: Double, dp: Int): BigDecimal =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP)

  /** A non-null, finite score — the daily monitors skip the rest, as
    * their batch twins' `WHERE value IS NOT NULL` does (and a NaN/±Inf
    * from a broken upstream model never lands in an end bin).
    */
  private def finite(e: Event): Boolean =
    e.value != null && java.lang.Double.isFinite(e.value.doubleValue)

  /** round(value·100) exactly as the batch twins' SQL round() computes
    * it ([[halfUp]]) — away from zero on .5, where `math.round`
    * (= floor(x+0.5)) disagrees for negative values.
    * NULL folds to 0 (q_merge_intervals' coalesce; q_attribution's
    * sum() skips the null term, which adding 0 reproduces).
    */
  private[graft] def cents(v: java.lang.Double): Long =
    if (v == null) 0L else halfUp(v.doubleValue * 100, 0).toLong

  case class SessionState(nEvents: Long, total: Double, startMs: Long, lastMs: Long)
  case class SessionOut(user_id: Long, n_events: Long, total: Double,
                        start_ms: Long, end_ms: Long)

  case class SeqTestOut(day_num: Long, n_a: Long, n_b: Long,
                        delta: Double, p_always_valid: Double)
  private[graft] case class DaySums(na: Long, sa: Long, saa: Long,
                                    nb: Long, sb: Long, sbb: Long)
  private[graft] case class SeqState(open: Map[Long, DaySums],
                                     cna: Long, csa: Long, csaa: Long,
                                     cnb: Long, csb: Long, csbb: Long,
                                     runMin: Double, closedThrough: Long)

  /** The always-valid sequential test ON the stream — the deployment
    * shape of [[graft.operators.Stats.msprt]]: the mSPRT exists
    * precisely because experimenters peek continuously, so its natural
    * home is a stream that emits each day's always-valid p the moment
    * the watermark closes that day. Arms by user parity, cents by the
    * batch round contract; a day's row emits only once its event-time
    * day has fully passed the watermark, folded into the cumulative
    * exact integer sums IN DAY ORDER with the running-min p — the
    * identical double expression tree as the batch operator, so
    * stream ≡ batch row-for-row (StreamsSpec). Stragglers for a day
    * that already closed are DROPPED (state tracks `closedThrough`):
    * FMGWS under NoTimeout does not filter watermark-late rows itself,
    * and folding one would re-open a closed day, double-emit it and
    * corrupt the cumulative fold order.
    *
    * State is SEVEN scalars plus the still-open day partials (bounded
    * by the watermark horizon) under ONE key — a two-arm global test
    * has exactly one cumulative state by definition. The single key
    * sees per-event traffic here for simplicity; at scale,
    * pre-aggregate per (day, arm) upstream (a keyed streaming agg) and
    * feed this the bounded day table.
    */
  def msprtStream(events: Dataset[Event], tauSq: Double,
                  watermark: String = "1 second"): Dataset[SeqTestOut] = {
    import events.sparkSession.implicits._
    require(tauSq > 0, s"tauSq $tauSq")
    events.filter((e: Event) => e.value != null)
      .withWatermark("ts", watermark)
      .groupByKey((_: Event) => 0)
      .flatMapGroupsWithState[SeqState, SeqTestOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[Event], state: GroupState[SeqState]) =>
          val st = state.getOption.getOrElse(
            SeqState(Map.empty, 0L, 0L, 0L, 0L, 0L, 0L, 1.0, Long.MinValue))
          var open = st.open
          rows.foreach { e =>
            val day = java.lang.Math.floorDiv(e.ts.getTime, 86400000L)
            // FMGWS only drops watermark-late rows under EventTimeTimeout
            // (this runs NoTimeout), so a straggler for an already-closed
            // day reaches us — folding it would re-open the day, emit its
            // row a second time and corrupt the cumulative in-day-order
            // sums. Drop it: the day's emission is final by contract.
            if (day > st.closedThrough) {
              val c = cents(e.value)
              val d = open.getOrElse(day, DaySums(0L, 0L, 0L, 0L, 0L, 0L))
              val nd =
                if (e.user_id % 2 == 0)
                  d.copy(na = d.na + 1, sa = d.sa + c, saa = d.saa + c * c)
                else
                  d.copy(nb = d.nb + 1, sb = d.sb + c, sbb = d.sbb + c * c)
              open = open.updated(day, nd)
            }
          }
          val wmMs = state.getCurrentWatermarkMs()
          val (toClose, stillOpen) = open.partition { case (day, _) =>
            (day + 1) * 86400000L <= wmMs
          }
          var (cna, csa, csaa) = (st.cna, st.csa, st.csaa)
          var (cnb, csb, csbb) = (st.cnb, st.csb, st.csbb)
          var runMin = st.runMin
          val out = Seq.newBuilder[SeqTestOut]
          toClose.toSeq.sortBy(_._1).foreach { case (day, d) =>
            cna += d.na; csa += d.sa; csaa += d.saa
            cnb += d.nb; csb += d.sb; csbb += d.sbb
            if (cna > 1 && cnb > 1) {
              // the batch operator's exact double tree, verbatim
              val na = cna.toDouble; val nb = cnb.toDouble
              val sa = csa.toDouble; val sb = csb.toDouble
              val saa = csaa.toDouble; val sbb = csbb.toDouble
              val delta = sa / na - sb / nb
              val s2 = ((saa - sa * sa / na) + (sbb - sb * sb / nb)) /
                (na + nb - 2)
              if (s2 > 0) {
                val v = s2 * (1.0 / na + 1.0 / nb)
                val lam = math.sqrt(v / (v + tauSq)) *
                  math.exp(delta * delta * tauSq / (2.0 * v * (v + tauSq)))
                runMin = math.min(runMin, math.min(1.0, 1.0 / lam))
                out += SeqTestOut(day, cna, cnb,
                  halfUp(delta / 100.0, 4).toDouble, halfUp(runMin, 6).toDouble)
              }
            }
          }
          val closedThrough =
            if (toClose.isEmpty) st.closedThrough
            else math.max(st.closedThrough, toClose.keysIterator.max)
          state.update(
            SeqState(stillOpen, cna, csa, csaa, cnb, csb, csbb, runMin,
              closedThrough))
          out.result().iterator
      }
  }

  /** Gap-based sessionization with explicit state — the
    * `flatMapGroupsWithState` path for session logic the built-in
    * `session_window` can't express (custom emit shape, per-session
    * aggregates, explicit timeout control). Emits a session when the
    * event-time timeout fires (watermark passed start+gap with no new
    * events).
    *
    * State per user is O(1) (a running aggregate, not the events), keyed
    * and partitioned by user_id — the 100 TB-scale pattern for arbitrary
    * stateful ops.
    */
  def sessionizeWithState(events: Dataset[Event], gapMs: Long,
                          watermark: String = "30 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(sessionOut(userId, s))
          } else {
            val (closed, cur) = foldSessions(userId, gapMs, state.getOption, rows)
            cur.foreach { s =>
              state.update(s)
              // Clamped against the watermark: on THIS Spark, FMGWS under
              // EventTimeTimeout filters input with the EVICTION watermark
              // (StreamsSpec's FMGWS delivery-semantics pin), so every row
              // reaching here has ts > wm and the clamp is a no-op. Spark
              // versions that filter with the previous batch's watermark
              // (the SPARK-42376 split) can deliver a row whose
              // lastMs + gap is already behind the eviction watermark —
              // there an unclamped setTimeoutTimestamp throws and kills
              // the query, while the clamp times the session out at the
              // next trigger (the correct semantics: its gap HAS passed).
              state.setTimeoutTimestamp(
                math.max(s.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** The gap-session fold both sessionizers share: a user's events in
    * time order extend the open session while each lands within `gapMs`
    * of its last event; a longer gap closes it (returned) and opens the
    * next. Returns the closed sessions and the still-open one.
    */
  private def foldSessions(userId: Long, gapMs: Long, open: Option[SessionState],
                           rows: Iterator[Event]): (Seq[SessionOut], Option[SessionState]) = {
    var cur = open
    val closed = Seq.newBuilder[SessionOut]
    rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      cur = cur match {
        case Some(s) if t - s.lastMs <= gapMs =>
          Some(s.copy(nEvents = s.nEvents + 1, total = s.total + nz(e.value),
            lastMs = t))
        case _ =>
          cur.foreach(s => closed += sessionOut(userId, s))
          Some(SessionState(1, nz(e.value), t, t))
      }
    }
    (closed.result(), cur)
  }

  private def sessionOut(userId: Long, s: SessionState): SessionOut =
    SessionOut(userId, s.nEvents, s.total, s.startMs, s.lastMs)

  // ------------------------------- arbitrary state (transformWithState)

  /** Spark 4's `transformWithState` form of the same gap sessionization
    * as [[sessionizeWithState]] — a `StatefulProcessor` holding one typed
    * `ValueState` per user and an event-time timer that closes the
    * session when the watermark passes last-event + gap.
    *
    * Requires a state store with column-family support, i.e. RocksDB:
    * set `spark.sql.streaming.stateStore.providerClass` to
    * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * (the HDFS-backed default store does not support this operator).
    * That is also the 100 TB configuration: RocksDB state is off-heap,
    * spillable and incrementally checkpointed, so per-executor state is
    * bounded regardless of key cardinality — unlike FMGWS on the default
    * store, which keeps every key's state on-heap.
    */
  class SessionProcessor(gapMs: Long)
    extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[SessionOut] = {
      val prev = if (session.exists()) Some(session.get()) else None
      val (closed, cur) = foldSessions(userId, gapMs, prev, rows)
      cur.foreach { s =>
        session.update(s)
        prev.map(_.lastMs + gapMs).filter(_ != s.lastMs + gapMs)
          .foreach(getHandle.deleteTimer)
        getHandle.registerTimer(s.lastMs + gapMs)
      }
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[SessionOut] =
      if (session.exists()) {
        val s = session.get()
        // guard against a stale timer that predates a session extension
        if (expired.getExpiryTimeInMs() >= s.lastMs + gapMs) {
          session.clear()
          Iterator(sessionOut(userId, s))
        } else Iterator.empty
      } else Iterator.empty
  }

  /** Gap sessionization via `transformWithState` (see [[SessionProcessor]]).
    * Output contract matches [[sessionizeWithState]] exactly.
    */
  def sessionizeTws(events: Dataset[Event], gapMs: Long,
                    watermark: String = "30 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    withState(events.withWatermark("ts", watermark), new SessionProcessor(gapMs),
      TimeMode.EventTime())(_.user_id)
  }

  /** First-occurrence dedup with per-key state TTL: a key's "seen" marker
    * expires `ttl` after it was last written, after which the key is
    * admitted again. This is the third point on the stream-dedup
    * state-retention spectrum: `dropDuplicates` retains keys forever,
    * [[dedupWithinWatermark]] bounds state by event-time watermark, and
    * this bounds it by processing-time TTL (the right knob when the
    * dedup horizon is operational — "suppress retries for an hour" —
    * rather than event-time semantics). State TTL is a processing-time
    * feature, so the processor runs in TimeMode.ProcessingTime; RocksDB
    * expires entries lazily without a scan, which is what keeps this
    * viable with billions of live keys.
    */
  class DedupProcessor(ttl: java.time.Duration)
    extends StatefulProcessor[Long, Event, Event] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, new TTLConfig(ttl))

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[Event] =
      if (seen.exists() || !rows.hasNext) Iterator.empty
      else {
        seen.update(true)
        // in-batch duplicates: iterator order after the groupByKey shuffle
        // is not arrival order, so "first occurrence" within a batch is
        // defined as the minimum over a TOTAL order on every field (the
        // group key is event_id, so ts/user_id alone would leave the pick
        // iterator-order-dependent when duplicate deliveries differ in
        // payload) — deterministic across retries and partitionings
        Iterator.single(rows.minBy(e =>
          (micros(e.ts), e.user_id, e.event_type, String.valueOf(e.value))))
      }
  }

  /** TTL-bounded stream dedup via `transformWithState` (see
    * [[DedupProcessor]]): emits each event_id's first occurrence, then
    * suppresses that id until `ttl` of processing time has passed.
    * Same RocksDB state-store requirement as [[sessionizeTws]].
    *
    * Operational note: TTL state makes every trigger a state-cleanup
    * batch even with no new data, so with the default (unthrottled)
    * trigger the query busy-loops — set a processing-time trigger
    * interval in production, and don't wait on `processAllAvailable()`
    * (its no-new-data condition never latches; poll the sink).
    */
  def dedupTws(events: Dataset[Event], ttl: java.time.Duration): Dataset[Event] = {
    import events.sparkSession.implicits._
    withState(events, new DedupProcessor(ttl), TimeMode.ProcessingTime())(_.event_id)
  }

  // ---------------------------------------------- per-user event-order folds

  /** The per-user event-order fold the funnel, transitions, landmark,
    * attribution and interval-merge processors share: one ValueState
    * named `stateName` per user; each batch's rows sort once by the TRUE
    * (micros, event_id) total order — the batch twins' order, see
    * [[micros]] — and fold through `step`, which sees the user's state
    * (None before any is stored), the event and its epoch micros `t`,
    * and may `emit` an output. A defined state is written back after
    * the batch. No timers, no TTL.
    *
    * Equivalence contract: per-user event-time order across batches —
    * what a key-partitioned log gives; in-batch disorder is handled by
    * the sort, cross-batch regressions are not revised (the standard
    * streaming contract). Under it each fold equals its batch twin,
    * asserted in StreamsSpec. Needs a column-family state store
    * (RocksDB), like [[sessionizeTws]].
    */
  abstract class UserFold[S, O](stateName: String, stateEncoder: Encoder[S])
      extends StatefulProcessor[Long, Event, O] {
    protected def step(user: Long, s: Option[S], e: Event, t: Long,
                       emit: O => Unit): Option[S]

    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[O] = {
      var s = if (st.exists()) Option(st.get()) else None
      val out = Seq.newBuilder[O]
      rows.map(e => (micros(e.ts), e)).toArray
        .sortBy { case (t, e) => (t, e.event_id) }
        .foreach { case (t, e) => s = step(user, s, e, t, out += _) }
      s.foreach(st.update)
      out.result().iterator
    }
  }

  /** Wire a [[UserFold]]: key the events by user, no watermark. */
  private def perUser[O <: Product : TypeTag](events: Dataset[Event],
                                              fold: UserFold[_, O]): Dataset[O] = {
    import events.sparkSession.implicits._
    withState(events, fold)(_.user_id)
  }

  /** A user advanced to funnel step `step` (1-based) at `ts_ms`. */
  case class StepAdvance(user_id: Long, step: Int, ts_ms: Long)

  /** Each reached step's completion time, epoch micros. */
  private[streaming] case class FunnelState(times: Seq[Long])

  /** Streaming twin of [[graft.operators.Funnel]]: per-user state is the
    * first-touch completion time of each step reached so far (O(steps)
    * longs per user — never the events). A user advances when an event
    * of the next step's type arrives strictly after the previous step's
    * time and within its max gap — both compared in microseconds, as the
    * batch funnel compares its timestamps; each advance emits one
    * [[StepAdvance]] row (`ts_ms` = the time floored to milliseconds),
    * so step counts are a plain aggregate over the emitted stream.
    *
    * Semantics note: the batch funnel is a min over the full history;
    * the one-pass state machine reproduces it exactly under the
    * [[UserFold]] order contract. StreamsSpec asserts stream ≡ batch on
    * ordered batches and on sub-millisecond times.
    */
  class FunnelProcessor(steps: Seq[(String, Option[Long])])
      extends UserFold[FunnelState, StepAdvance]("funnel", Encoders.product[FunnelState]) {
    protected def step(user: Long, s: Option[FunnelState], e: Event, t: Long,
                       emit: StepAdvance => Unit): Option[FunnelState] = {
      val times = s.fold(Seq.empty[Long])(_.times)
      val next = times.length
      val advances = next < steps.length && e.event_type == steps(next)._1 &&
        (next == 0 || t > times(next - 1) &&
          steps(next)._2.forall(g => t <= times(next - 1) + g * 1000000L))
      if (!advances) s
      else {
        emit(StepAdvance(user, next + 1, Math.floorDiv(t, 1000L)))
        Some(FunnelState(times :+ t))
      }
    }
  }

  /** Continuous conversion funnel (see [[FunnelProcessor]]); `steps` are
    * (event_type, maxGapSeconds).
    */
  def funnelStream(events: Dataset[Event],
                   steps: Seq[(String, Option[Long])]): Dataset[StepAdvance] =
    perUser(events, new FunnelProcessor(steps))

  /** One observed (from → to) step of a user's event sequence. */
  case class Transition(user_id: Long, from_type: String, to_type: String)
  private[streaming] case class LastEvent(t_us: Long, event_id: Long, event_type: String)

  /** Continuous Markov-transition extraction — the streaming twin of
    * [[graft.operators.Funnel.transitions]]: per user, a bounded
    * ValueState holds ONLY the last event under the (micros, event_id)
    * total order; each event chains onto it and emits one
    * [[Transition]] per consecutive pair. Downstream, a trivial
    * `groupBy(from, to).count()` maintains the live matrix. State is one
    * 3-field row per user — hard-bounded, no sequence buffering.
    */
  class TransitionsProcessor
      extends UserFold[LastEvent, Transition]("last", Encoders.product[LastEvent]) {
    protected def step(user: Long, s: Option[LastEvent], e: Event, t: Long,
                       emit: Transition => Unit): Option[LastEvent] = {
      s.foreach(l => emit(Transition(user, l.event_type, e.event_type)))
      Some(LastEvent(t, e.event_id, e.event_type))
    }
  }

  /** Continuous per-user transition stream (see [[TransitionsProcessor]]). */
  def transitionsStream(events: Dataset[Event]): Dataset[Transition] =
    perUser(events, new TransitionsProcessor)

  case class LandmarkMatch(user_id: Long, complete_at: Long)
  private[streaming] case class LandmarkState(nSeen: Long, stepIdx: Int)

  /** Continuous ordered-landmark journey matching — the streaming twin
    * of [[graft.operators.Funnel.landmarkSteps]]: per user, CONSTANT
    * state (events-seen counter + next-needed-step index) folds the
    * greedy first-match scan event by event and emits exactly one
    * [[LandmarkMatch]] the moment the final landmark lands. A full-
    * journey regex ([[graft.operators.Funnel.sequenceMatch]]) would
    * need the unbounded sequence; the landmark automaton needs 12
    * bytes per user forever — the difference between a streamable and
    * an unstreamable journey query.
    */
  class LandmarkProcessor(steps: Seq[String])
      extends UserFold[LandmarkState, LandmarkMatch]("landmark",
        Encoders.product[LandmarkState]) {
    protected def step(user: Long, s: Option[LandmarkState], e: Event, t: Long,
                       emit: LandmarkMatch => Unit): Option[LandmarkState] = {
      val c = s.getOrElse(LandmarkState(0L, 0))
      val hit = c.stepIdx < steps.length && e.event_type == steps(c.stepIdx)
      val n = LandmarkState(c.nSeen + 1, if (hit) c.stepIdx + 1 else c.stepIdx)
      if (hit && n.stepIdx == steps.length) // completed NOW — emit once
        emit(LandmarkMatch(user, n.nSeen))
      Some(n)
    }
  }

  /** Continuous landmark-match stream (see [[LandmarkProcessor]]). */
  def landmarkStream(events: Dataset[Event], steps: Seq[String]): Dataset[LandmarkMatch] =
    perUser(events, new LandmarkProcessor(steps))

  /** One purchase credited to the buyer's most recent preceding
    * non-purchase event type. */
  case class Attributed(user_id: Long, purchase_id: Long, channel: String,
                        value_cents: Long)
  private[streaming] case class LastChannel(t_us: Long, event_id: Long, channel: String)

  /** Continuous last-touch attribution — the streaming twin of the
    * batch `q_attribution` window (IGNORE NULLS last_value over the
    * strict-past frame): per user, ONE bounded ValueState holds the
    * latest non-purchase event under the (micros, event_id) total
    * order; each purchase emits one [[Attributed]] row crediting that
    * channel. Downstream `groupBy(channel)` count/sum maintains the
    * live attribution rollup. State is one 3-field row per user.
    */
  class AttributionProcessor
      extends UserFold[LastChannel, Attributed]("chan", Encoders.product[LastChannel]) {
    protected def step(user: Long, s: Option[LastChannel], e: Event, t: Long,
                       emit: Attributed => Unit): Option[LastChannel] =
      if (e.event_type == "purchase") {
        s.foreach(l => emit(Attributed(user, e.event_id, l.channel, cents(e.value))))
        s
      } else Some(LastChannel(t, e.event_id, e.event_type))
  }

  /** Continuous attribution stream (see [[AttributionProcessor]]). */
  def attributionStream(events: Dataset[Event]): Dataset[Attributed] =
    perUser(events, new AttributionProcessor)

  /** A CLOSED maximal covered span of one user's interval stream. */
  case class MergedInterval(user_id: Long, merged_start: Long,
                            merged_end: Long, n_merged: Long)
  private[streaming] case class OpenIsland(start: Long, maxEnd: Long, n: Long)

  /** Continuous gaps-and-islands interval merge — the streaming twin
    * of the batch `q_merge_intervals` window: per user, ONE 3-field
    * ValueState holds the currently-open island (start, running max
    * end, source count); an interval starting past the open island's
    * end CLOSES it (one emitted [[MergedInterval]]) and opens the
    * next. The final island per user stays open forever (a stream has
    * no end) — the documented delta vs batch, which emits it; stream ≡
    * batch-minus-last-island is asserted in StreamsSpec. Interval
    * end = micros + round(value·100)·10ms, the q_merge_intervals
    * construction.
    */
  class IntervalMergeProcessor
      extends UserFold[OpenIsland, MergedInterval]("island", Encoders.product[OpenIsland]) {
    protected def step(user: Long, s: Option[OpenIsland], e: Event, t: Long,
                       emit: MergedInterval => Unit): Option[OpenIsland] = {
      val en = t + cents(e.value) * 10000L
      s match {
        case Some(isl) if t <= isl.maxEnd =>
          Some(OpenIsland(isl.start, math.max(isl.maxEnd, en), isl.n + 1))
        case _ =>
          s.foreach(isl => emit(MergedInterval(user, isl.start, isl.maxEnd, isl.n)))
          Some(OpenIsland(t, en, 1L))
      }
    }
  }

  /** Continuous interval-merge stream (see [[IntervalMergeProcessor]]). */
  def intervalMergeStream(events: Dataset[Event]): Dataset[MergedInterval] =
    perUser(events, new IntervalMergeProcessor)

  // -------------------------------------------- streaming heavy hitters

  /** One token routed to its state shard. */
  case class TokenEvent(shard: Int, token: String)
  /** A shard's current estimate for a token after a batch. */
  case class TokenCount(token: String, est: Long)
  // private[streaming], like every state class here: the projection
  // Spark generates for a state encoder calls the class's constructor
  // and accessors, which a `private` nested case class hides, so codegen
  // fails and Spark falls back to an interpreted projection
  private[streaming] case class MgState(items: Map[String, Long])

  /** Continuous Misra-Gries heavy hitters via `transformWithState` —
    * trending-token tracking over an unbounded stream with HARD-bounded
    * state: `shards` state keys × `capacity` counters, regardless of
    * stream length or vocabulary.
    *
    * Tokens route to a shard by hash, so each token's counts live
    * entirely in one shard and every shard maintains an independent MG
    * summary of its token subset with the classic guarantee (estimates
    * undercount by at most n_shard/(capacity+1)); the union of shards
    * inherits it. Update rule is IDENTICAL to the batch
    * [[graft.operators.HeavyHitters.MisraGriesAgg]] reduce step — in
    * the exact regime (capacity ≥ per-shard distinct) the stream fold
    * equals a plain groupBy count, asserted stream-vs-batch in
    * StreamsSpec. Each batch re-emits a shard's touched summary, plus an
    * est-0 RETRACTION for any token the decrement path evicted this
    * batch, so the latest emission per token is its current estimate
    * (the changelog contract of [[cdcStream]]) even through evictions.
    *
    * Same RocksDB state-store requirement as [[sessionizeTws]].
    */
  class HeavyHittersProcessor(capacity: Int)
    extends StatefulProcessor[Int, TokenEvent, TokenCount] {
    require(capacity > 0, s"capacity $capacity")
    @transient private var st: ValueState[MgState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[MgState]("mg",
        Encoders.product[MgState], TTLConfig.NONE)

    override def handleInputRows(shard: Int, rows: Iterator[TokenEvent],
                                 timerValues: TimerValues): Iterator[TokenCount] = {
      val prevMap = if (st.exists()) st.get().items else Map.empty[String, Long]
      var m = prevMap
      rows.foreach { e =>
        m = m.get(e.token) match {
          case Some(c) => m.updated(e.token, c + 1)
          case None if m.size < capacity => m.updated(e.token, 1L)
          case None => // classic MG step: decrement all, drop zeros
            m.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None }
        }
      }
      st.update(MgState(m))
      // changelog contract: latest emission per token IS its current
      // estimate — a token the decrement path evicted this batch must
      // therefore RETRACT (est 0, the MG estimate for an untracked
      // token), or a downstream materialization would hold its stale
      // positive count forever. At most `capacity` retractions a batch.
      val evicted = prevMap.keysIterator.filterNot(m.contains)
      m.iterator.map { case (t, c) => TokenCount(t, c) } ++
        evicted.map(t => TokenCount(t, 0L))
    }
  }

  /** Continuous heavy hitters (see [[HeavyHittersProcessor]]). */
  def heavyHittersStream(tokens: Dataset[String], capacity: Int,
                         shards: Int = 16): Dataset[TokenCount] = {
    import tokens.sparkSession.implicits._
    require(shards > 0, s"shards $shards")
    withState(tokens.map(t => TokenEvent(math.floorMod(t.hashCode, shards), t)),
      new HeavyHittersProcessor(capacity))(_.shard)
  }

  // --------------------------------------------------------- streaming CDC

  /** One change to key `k`: upsert ('U') or delete ('D') at sequence
    * `seq`. The streaming twin of [[graft.operators.Cdc.applyChanges]]'s
    * change rows.
    */
  case class Change(k: Long, v: Double, seq: Long, op: String)

  /** Changelog emission: the key's current applied value after this
    * batch (deleted = a 'D' currently wins).
    */
  case class Applied(k: Long, v: Double, seq: Long, deleted: Boolean)

  /** Continuous MERGE: per key, keep the highest-sequence change ever
    * seen and emit the key's new current row whenever a batch changes it
    * — a materialized-upsert-view changelog. Late or replayed changes
    * with a lower sequence than the applied one are ignored, which is
    * what makes the stream idempotent under at-least-once delivery.
    * Batch/stream parity: folding the emitted changelog (last emission
    * per key, dropping deleted) equals [[graft.operators.Cdc
    * .applyChanges]] over the same changes — asserted in StreamsSpec.
    *
    * Same RocksDB state-store requirement as [[sessionizeTws]]; state is
    * one (seq, v, deleted) triple per live key, so executor state stays
    * bounded by key cardinality, not stream length.
    */
  class CdcProcessor extends StatefulProcessor[Long, Change, Applied] {
    @transient private var cur: ValueState[(Long, Double, Boolean)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[(Long, Double, Boolean)]("cur",
        Encoders.product[(Long, Double, Boolean)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Change],
                                 timerValues: TimerValues): Iterator[Applied] = {
      val prev = if (cur.exists()) Some(cur.get()) else None
      // highest seq wins; ties break to 'D' (a delete at the same seq as
      // an upsert is taken as the later intent) then value order, so the
      // winner never depends on iterator order. The SAME total order is
      // applied cross-batch against the stored state: a same-seq delete
      // arriving one batch after its upsert still wins, exactly as it
      // would have in-batch; an exact replay of the applied change
      // compares EQUAL, not greater, so idempotency is preserved
      val ord = Ordering.Tuple3[Long, Boolean, Double]
      val winner = rows.maxByOption(c => (c.seq, c.op == "D", c.v))(ord)
      winner match {
        case Some(w) if prev.forall(p =>
            ord.lt((p._1, p._3, p._2), (w.seq, w.op == "D", w.v))) =>
          cur.update((w.seq, w.v, w.op == "D"))
          Iterator.single(Applied(key, w.v, w.seq, w.op == "D"))
        case _ => Iterator.empty // stale/no-later-intent batch: no change
      }
    }
  }

  /** Apply a CDC change stream as a continuously-maintained upsert view
    * (see [[CdcProcessor]]). Emits the changelog; the sink (or a
    * `foreachBatch` MERGE into storage) materializes it.
    */
  def cdcStream(changes: Dataset[Change]): Dataset[Applied] = {
    import changes.sparkSession.implicits._
    withState(changes, new CdcProcessor)(_.k)
  }

  // --------------------------------------- streaming per-day quantile bands

  /** Greenwald–Khanna ε-approximate quantile summary (Greenwald &
    * Khanna, SIGMOD'01, "Space-efficient online computation of quantile
    * summaries") as pure functions over an immutable state row: tuples
    * (v, g, Δ) sorted by v under the invariant g_i + Δ_i ≤ ⌊2εn⌋, so
    * any rank query answers within εn. Summary size is
    * O((1/ε)·log(εn)) — tens of entries at ε=0.01 — the bounded state
    * that lets a percentile band live in a stream without retaining
    * the day's values. Parallel immutable Seq columns (not a nested
    * tuple Seq) round-trip through Encoders.product as ValueState.
    */
  private[graft] object Gk {
    case class S(n: Long, vs: Seq[Double], gs: Seq[Long], ds: Seq[Long])
    val empty: S = S(0L, Vector.empty, Vector.empty, Vector.empty)

    /** Insert one value; compress every ⌊1/(2ε)⌋ inserts (the paper's
      * schedule — between compressions the summary grows by at most
      * that many tuples).
      */
    def insert(s: S, v: Double, eps: Double): S = {
      val i = { val j = s.vs.indexWhere(_ > v); if (j < 0) s.vs.length else j }
      // interior Δ is the paper's ⌊2εn⌋ − 1 (not ⌊2εn⌋: that would let a
      // fresh tuple carry g + Δ = ⌊2εn⌋ + 1, breaking the invariant by 1
      // and with it the εn rank bound on adversarial orders)
      val d = if (i == 0 || i == s.vs.length) 0L
              else math.max(math.floor(2 * eps * s.n).toLong - 1, 0L)
      val nx = S(s.n + 1,
        (s.vs.take(i) :+ v) ++ s.vs.drop(i),
        (s.gs.take(i) :+ 1L) ++ s.gs.drop(i),
        (s.ds.take(i) :+ d) ++ s.ds.drop(i))
      val period = math.max(1L, (1.0 / (2 * eps)).toLong)
      if (nx.n % period == 0) compress(nx, eps) else nx
    }

    /** Merge tuple i into its right neighbor while the combined
      * g_i + g_{i+1} + Δ_{i+1} stays under ⌊2εn⌋; the first and last
      * tuples are never merged away (they pin the exact min/max).
      */
    def compress(s: S, eps: Double): S = {
      val cap = math.floor(2 * eps * s.n).toLong
      val vs = s.vs.toBuffer; val gs = s.gs.toBuffer; val ds = s.ds.toBuffer
      var i = vs.length - 2
      while (i >= 1) {
        if (gs(i) + gs(i + 1) + ds(i + 1) <= cap) {
          gs(i + 1) += gs(i)
          vs.remove(i); gs.remove(i); ds.remove(i)
        }
        i -= 1
      }
      S(s.n, vs.toVector, gs.toVector, ds.toVector)
    }

    /** φ-quantile: walking rmin_i = Σ_{j≤i} g_j, the first tuple whose
      * max possible rank rmin_i + Δ_i exceeds r + εn answers with its
      * predecessor — the invariant guarantees the returned value's true
      * rank is within εn of r = ⌈φn⌉.
      */
    def query(s: S, phi: Double, eps: Double): Double = {
      require(s.n > 0, "Gk.query: empty summary")
      val bound = math.ceil(phi * s.n).toLong + math.floor(eps * s.n).toLong
      var rmin = 0L
      var i = 0
      while (i < s.vs.length) {
        rmin += s.gs(i)
        if (rmin + s.ds(i) > bound) return s.vs(math.max(0, i - 1))
        i += 1
      }
      s.vs.last
    }
  }

  // ------------------------------------- streaming per-day distinct counts

  /** Fixed-width HyperLogLog register set (Flajolet et al. 2007, with
    * the standard small-range linear-counting correction) as pure
    * functions over an immutable byte-register row — the
    * distinct-count sibling of [[Gk]]: m = 2^p registers bound state
    * at m bytes per key regardless of stream length or cardinality.
    * Hashing is splitmix64 over the key's Long — deterministic, no
    * RNG. Registers fold mutably WITHIN one batch and re-wrap once per
    * batch (the copy cost is per batch, not per event).
    */
  private[graft] object Hll {
    val P = 12 // 4096 registers: σ ≈ 1.04/√m ≈ 1.6%
    val M: Int = 1 << P

    def hash(x: Long): Long = {
      var z = x + -7046029254386353131L
      z = (z ^ (z >>> 30)) * -4658895280553007687L
      z = (z ^ (z >>> 27)) * -7723592293110705685L
      z ^ (z >>> 31)
    }

    /** Fold one value into a register array (mutates `regs`). */
    def add(regs: Array[Byte], v: Long): Unit = {
      val h = hash(v)
      val idx = (h >>> (64 - P)).toInt
      val rank = (java.lang.Long.numberOfLeadingZeros((h << P) | (1L << (P - 1))) + 1)
        .toByte
      if (rank > regs(idx)) regs(idx) = rank
    }

    /** Fold values into a register array (mutates `regs`). */
    def addAll(regs: Array[Byte], values: Iterator[Long]): Unit =
      values.foreach(add(regs, _))

    /** Standard HLL estimate with linear counting below 2.5m. */
    def estimate(regs: Array[Byte]): Double = {
      val m = regs.length
      var sum = 0.0
      var zeros = 0
      var i = 0
      while (i < m) {
        sum += math.pow(2.0, -regs(i))
        if (regs(i) == 0) zeros += 1
        i += 1
      }
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val e = alpha * m * m / sum
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
    }
  }

  /** The day-closing fold the five per-(event_type, day) monitors
    * share: one ValueState named `stateName` per key holds the day's
    * bounded summary. Each batch folds the events the monitor `accepts`
    * into it (`add` may mutate and return the summary) and, if it took
    * any, stores it and re-arms the day-end event-time timer —
    * idempotently: the expiry is a pure function of the key's day, so
    * every batch registers the same instant. When the watermark passes
    * the day end, the timer clears the state and emits `close` exactly
    * once. Needs a column-family state store (RocksDB), like
    * [[sessionizeTws]].
    */
  abstract class DailyFold[S, O](stateName: String, stateEncoder: Encoder[S])
      extends StatefulProcessor[(String, Long), Event, O] {
    protected def empty: S
    protected def accepts(e: Event): Boolean
    protected def add(s: S, e: Event): S
    protected def close(eventType: String, day: Long, s: S): Iterator[O]

    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

    override def handleInputRows(key: (String, Long), rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[O] = {
      var s = if (st.exists()) st.get() else empty
      var touched = false
      rows.foreach(e => if (accepts(e)) { s = add(s, e); touched = true })
      if (touched) {
        st.update(s)
        getHandle.registerTimer((key._2 + 1) * 86400000L)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: (String, Long), timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[O] =
      if (st.exists()) {
        val s = st.get()
        st.clear()
        close(key._1, key._2, s)
      } else Iterator.empty
  }

  /** Wire a [[DailyFold]] monitor: watermark the events, key them by
    * (event_type, epoch day) and run the monitor in event time.
    */
  private def daily[O <: Product : TypeTag](events: Dataset[Event], watermark: String,
                                            monitor: DailyFold[_, O]): Dataset[O] = {
    import events.sparkSession.implicits._
    withState(events.withWatermark("ts", watermark), monitor, TimeMode.EventTime())(
      e => (e.event_type, Math.floorDiv(e.ts.getTime, 86400000L)))
  }

  /** One watermark-closed per-day distinct-user estimate. */
  case class DistinctCount(event_type: String, day_num: Long, est_users: Long)

  /** Daily distinct users ON the stream — the deployment shape of the
    * batch approx-distinct surface (q_approx_distinct / per-day
    * count(DISTINCT user_id)): one [[Hll]] register set per
    * (event_type, day) key — m bytes of state per open day, never the
    * day's user set — emitted as an estimate exactly once as the
    * watermark closes the day. StreamsSpec asserts the estimate within
    * the sketch's error band of the exact per-day distinct and the
    * exactly-once emission.
    */
  class DailyDistinctProcessor
      extends DailyFold[Array[Byte], DistinctCount]("hll", Encoders.BINARY) {
    protected def empty: Array[Byte] = new Array[Byte](Hll.M)
    protected def accepts(e: Event): Boolean = true
    protected def add(regs: Array[Byte], e: Event): Array[Byte] = {
      Hll.add(regs, e.user_id)
      regs
    }
    protected def close(eventType: String, day: Long,
                        regs: Array[Byte]): Iterator[DistinctCount] =
      Iterator.single(DistinctCount(eventType, day, math.rint(Hll.estimate(regs)).toLong))
  }

  /** Watermark-closed daily distinct-user estimates (see
    * [[DailyDistinctProcessor]]).
    */
  def dailyDistinctStream(events: Dataset[Event],
                          watermark: String = "10 minutes"): Dataset[DistinctCount] =
    daily(events, watermark, new DailyDistinctProcessor)

  /** One watermark-closed per-day quantile band. */
  case class QuantileBand(event_type: String, day_num: Long, n: Long,
                          p50: Double, p95: Double)

  /** Daily SLO percentile bands ON the stream — the deployment shape of
    * the batch q_daily_percentiles (which re-sorts each closed day) and
    * the streaming sibling of the batch sketch surface
    * (q_approx_quantile): one bounded [[Gk]] summary per
    * (event_type, day) key, and the day's (n, p50, p95) band emits
    * exactly once when the watermark passes the day end — each
    * percentile within εn RANK error of the exact answer (asserted
    * against per-day exact sorts in StreamsSpec), with per-open-day
    * state O((1/ε)·log(εn)) instead of the day's values. NULL values
    * are skipped exactly as the batch query's `WHERE value IS NOT NULL`.
    */
  class DailyQuantileProcessor(eps: Double)
      extends DailyFold[Gk.S, QuantileBand]("gk", Encoders.product[Gk.S]) {
    require(eps > 0 && eps < 0.5, s"eps $eps outside (0, 0.5)")
    protected def empty: Gk.S = Gk.empty
    protected def accepts(e: Event): Boolean = e.value != null
    protected def add(s: Gk.S, e: Event): Gk.S = Gk.insert(s, e.value.doubleValue, eps)
    protected def close(eventType: String, day: Long, s: Gk.S): Iterator[QuantileBand] =
      Iterator.single(QuantileBand(eventType, day, s.n,
        Gk.query(s, 0.5, eps), Gk.query(s, 0.95, eps)))
  }

  /** Watermark-closed daily percentile bands (see
    * [[DailyQuantileProcessor]]).
    */
  def dailyPercentilesStream(events: Dataset[Event], eps: Double = 0.01,
                             watermark: String = "10 minutes"): Dataset[QuantileBand] =
    daily(events, watermark, new DailyQuantileProcessor(eps))

  /** One watermark-closed per-day drift row. */
  case class PsiRow(event_type: String, day_num: Long, n: Long,
                    n_bins: Long, psi: Double)

  /** Fixed-width per-day bin counts (ValueState payload). */
  case class PsiCounts(counts: Array[Long])

  /** Per-day Population Stability Index vs a FIXED reference histogram
    * ON the stream — the model-monitoring deployment shape of the batch
    * drift surface (q_psi / Stats.psi): the reference bin counts (a
    * trained model's validation-set histogram) ride in the closure as a
    * small per-task constant, and the stream keeps ONE bins-long count
    * array per (event_type, day) key — 8·bins bytes per open day, never
    * the day's scores — emitting the day's (n, n_bins, psi) exactly
    * once when the watermark passes the day end. The PSI arithmetic is
    * the batch operator's, term for term: values bin by equal width over
    * [lo, hi) with the end bins absorbing outliers, bins present in
    * NEITHER side are excluded from n_bins exactly as the batch
    * group-by drops them, both sides take the same +1/(total+bins)
    * Laplace smoothing, and the result rounds HALF_UP to 6 decimals as
    * Spark's `round` does — stream ≡ batch is asserted day-for-day in
    * StreamsSpec. NULL and non-finite scores are skipped ([[finite]]).
    */
  class DailyPsiProcessor(refCounts: Array[Long], lo: Double, hi: Double)
      extends DailyFold[PsiCounts, PsiRow]("psi", Encoders.product[PsiCounts]) {
    private val bins = refCounts.length
    require(bins > 0, "dailyPsiStream: the reference histogram is empty")
    require(hi > lo, s"dailyPsiStream: bad score range [$lo, $hi)")

    protected def empty: PsiCounts = PsiCounts(new Array[Long](bins))
    protected def accepts(e: Event): Boolean = finite(e)
    protected def add(s: PsiCounts, e: Event): PsiCounts = {
      val b = math.floor((e.value.doubleValue - lo) / (hi - lo) * bins).toInt
      s.counts(math.min(bins - 1, math.max(0, b))) += 1L
      s
    }
    protected def close(eventType: String, day: Long, s: PsiCounts): Iterator[PsiRow] = {
      val tb = refCounts.sum
      val tc = s.counts.sum
      var nBins = 0L
      var psi = 0.0
      var i = 0
      while (i < bins) {
        // a bin empty on BOTH sides never reaches the batch group-by
        if (refCounts(i) > 0 || s.counts(i) > 0) {
          nBins += 1
          val p = (refCounts(i) + 1).toDouble / (tb + bins)
          val q = (s.counts(i) + 1).toDouble / (tc + bins)
          psi += (p - q) * math.log(p / q)
        }
        i += 1
      }
      Iterator.single(PsiRow(eventType, day, tc, nBins, halfUp(psi, 6).toDouble))
    }
  }

  /** Watermark-closed daily PSI vs a fixed reference histogram (see
    * [[DailyPsiProcessor]]).
    */
  def dailyPsiStream(events: Dataset[Event], refCounts: Array[Long],
                     lo: Double, hi: Double,
                     watermark: String = "10 minutes"): Dataset[PsiRow] =
    daily(events, watermark, new DailyPsiProcessor(refCounts, lo, hi))

  case class CalibRow(event_type: String, day_num: Long, bin: Long, n: Long,
                      n_pos: Long, mean_score: Double, pos_rate: Double)

  /** Fixed-width per-day calibration accumulators (ValueState payload):
    * per bin, the row count, the integer-score-unit sum, and the
    * positive count.
    */
  case class CalibCounts(n: Array[Long], su: Array[Long], npos: Array[Long])

  /** Per-day score-calibration reliability table ON the stream — the
    * model-monitoring deployment shape of the batch reliability surface
    * (q_calibration / [[graft.operators.Stats.calibration]]), closing
    * the daily monitoring trio beside the PSI drift alarm
    * ([[DailyPsiProcessor]] — "has the score DISTRIBUTION moved?") with
    * "does the score still MEAN what it claims?" (per-bin positive rate
    * vs mean score). State is three bins-long long arrays per
    * (event_type, day) key — 24·bins bytes per open day, never the
    * day's scores — and the day's observed bins emit exactly once when
    * the watermark passes the day end.
    *
    * Arithmetic is the batch operator's term for term: bin =
    * min(⌊u·bins/10^scaleDp⌋, bins−1) on the pre-rounded integer units
    * (exact at bin boundaries, where ⌊score·bins⌋ in double misplaces
    * them; the top bin absorbs score = 1.0);
    * scores accumulate as integer units round(score·10^scaleDp)
    * HALF_UP exactly like Spark's `round(col, 0)`, so mean_score =
    * round(su/n/unit, 6) and pos_rate = round(n_pos/n, 6) reproduce
    * the batch doubles bit-for-bit; bins with no rows are absent
    * exactly as the batch group-by drops them — stream ≡ batch is
    * asserted day-for-day in StreamsSpec. NULL and non-finite scores
    * are skipped like the batch query's WHERE; NEGATIVE scores are
    * skipped too (documented deviation: calibration is a probability
    * surface, so a negative score is a broken upstream model — the
    * batch operator would emit a bin −1 row, which a fixed-width state
    * array cannot index; the spec feeds the shared [0, 1) domain).
    * `labelOf` extracts the ground-truth label from the event (the
    * production record carries it; the fixed [[Event]] envelope does
    * not).
    */
  class DailyCalibrationProcessor(labelOf: Event => Boolean, bins: Int,
                                  scaleDp: Int)
      extends DailyFold[CalibCounts, CalibRow]("calib", Encoders.product[CalibCounts]) {
    require(bins > 0, "dailyCalibrationStream: bins must be positive")
    private val unit = math.pow(10.0, scaleDp)

    protected def empty: CalibCounts = CalibCounts(new Array[Long](bins),
      new Array[Long](bins), new Array[Long](bins))
    protected def accepts(e: Event): Boolean = finite(e) && e.value.doubleValue >= 0.0
    protected def add(c: CalibCounts, e: Event): CalibCounts = {
      val u = halfUp(e.value.doubleValue * unit, 0).toLong
      // exact integer binning on the pre-rounded units, term for term
      // with the batch operator's fix: floor(v·bins) in double
      // misplaces exact boundary scores (0.3·10 floors into bin 2)
      val b = math.min(bins - 1L, math.floor(u.toDouble * bins / unit).toLong).toInt
      c.n(b) += 1L
      c.su(b) += u
      if (labelOf(e)) c.npos(b) += 1L
      c
    }
    protected def close(eventType: String, day: Long, c: CalibCounts): Iterator[CalibRow] =
      (0 until bins).iterator.filter(c.n(_) > 0L).map { b =>
        CalibRow(eventType, day, b.toLong, c.n(b), c.npos(b),
          halfUp(c.su(b).toDouble / c.n(b) / unit, 6).toDouble,
          halfUp(c.npos(b).toDouble / c.n(b), 6).toDouble)
      }
  }

  /** Watermark-closed daily calibration reliability table (see
    * [[DailyCalibrationProcessor]]).
    */
  def dailyCalibrationStream(events: Dataset[Event], labelOf: Event => Boolean,
                             bins: Int, scaleDp: Int = 4,
                             watermark: String = "10 minutes"): Dataset[CalibRow] =
    daily(events, watermark, new DailyCalibrationProcessor(labelOf, bins, scaleDp))

  case class AucRow(event_type: String, day_num: Long, n_pos: Long,
                    n_neg: Long, auc: Double)

  /** Per-unit positive/negative counts over the rounded-score domain
    * (ValueState payload).
    */
  case class AucCounts(npos: Array[Long], nneg: Array[Long])

  /** Per-day EXACT tie-corrected ROC-AUC ON the stream — the fourth
    * alarm of the daily monitoring family ("does the score still RANK
    * positives above negatives?", the discrimination check beside
    * calibration's "does it still mean what it claims?"). The batch
    * operator (q_auc / [[graft.operators.Stats.auc]]) is already exact
    * over the DISTINCT-rounded-score dimension, which makes its state
    * streamable without approximation: the score domain [0, 1] at
    * `scaleDp` decimals has 10^scaleDp + 1 integer units, so two
    * units-long count arrays per (event_type, day) key — 16·(10^scaleDp
    * + 1) bytes per open day (160 KB at the default 4 dp), never the
    * day's rows — reproduce the batch Mann–Whitney EXACTLY: at the
    * watermark-closed emission the unit walk accumulates cum-negatives
    * and U2 = Σ np·(2·cumnn + nn) in integers, with the single final
    * division AUC = U2 / (2·n_pos·n_neg) rounded HALF_UP like the batch
    * round — stream ≡ batch asserted day-for-day in StreamsSpec. A day
    * with an empty class emits nothing (the batch WHERE n_pos > 0 AND
    * n_neg > 0). NULL/non-finite scores are skipped like the batch
    * WHERE; scores outside [0, 1] are skipped too (the probability-
    * domain contract of [[DailyCalibrationProcessor]] — the batch
    * operator accepts any score domain, but a fixed-width unit array
    * cannot; round through `scaleDp` decimals first, as q_auc's
    * declared input does).
    */
  class DailyAucProcessor(labelOf: Event => Boolean, scaleDp: Int)
      extends DailyFold[AucCounts, AucRow]("auc", Encoders.product[AucCounts]) {
    require(scaleDp >= 1 && scaleDp <= 6,
      s"dailyAucStream: scaleDp $scaleDp outside [1, 6] — state is " +
        "16*(10^scaleDp+1) bytes per open day")
    private val units = math.pow(10.0, scaleDp).toInt + 1

    protected def empty: AucCounts = AucCounts(new Array[Long](units), new Array[Long](units))
    protected def accepts(e: Event): Boolean =
      finite(e) && e.value.doubleValue >= 0.0 && e.value.doubleValue <= 1.0
    protected def add(c: AucCounts, e: Event): AucCounts = {
      val u = halfUp(e.value.doubleValue * (units - 1), 0).toInt
      if (labelOf(e)) c.npos(u) += 1L else c.nneg(u) += 1L
      c
    }
    protected def close(eventType: String, day: Long, c: AucCounts): Iterator[AucRow] = {
      var cumnn = 0L
      var u2 = 0L
      var np = 0L
      var nn = 0L
      var u = 0
      while (u < units) {
        u2 += c.npos(u) * (2L * cumnn + c.nneg(u))
        cumnn += c.nneg(u)
        np += c.npos(u)
        nn += c.nneg(u)
        u += 1
      }
      if (np > 0L && nn > 0L)
        Iterator.single(AucRow(eventType, day, np, nn,
          halfUp(u2.toDouble / (2.0 * np * nn), 4).toDouble))
      else Iterator.empty
    }
  }

  /** Watermark-closed daily exact ROC-AUC (see [[DailyAucProcessor]]).
    *
    * STATE BUDGET (the formula every deployment must run before picking
    * `scaleDp`): each open (event_type, day) key holds two
    * (10^scaleDp + 1)-long count arrays, so
    *
    *   stateBytes ≈ 16 · (10^scaleDp + 1) · expectedTypes · openDaysBound
    *
    * — 160 KB/key at the default 4 dp, which is 160 GB at 1M open keys.
    * `openDaysBound` is the days concurrently ahead of the watermark per
    * type: 2 in steady state under a sub-day watermark (current day +
    * the closing one), but a BACKFILL replaying history holds every
    * replayed day open until the watermark catches up — budget for the
    * replay span, not the steady state. The require() below is
    * construction-time arithmetic on these DECLARED expectations (a
    * processor cannot count global keys); exceeding it at runtime
    * degrades through RocksDB spill rather than OOM, but the declared
    * budget is what makes the degradation a choice instead of a
    * surprise. Key cardinality itself is data-bounded (event types ×
    * days), unlike [[heavyHittersStream]]'s hash-sharded hard bound —
    * when type cardinality is unbounded, reduce `scaleDp` (state shrinks
    * 10× per dp) or pre-bucket types upstream.
    * Measured: StressBench section 20 sustains the per-event update cost
    * at 100k open keys (scaleDp budget-checked at 2 dp = 166 MB).
    */
  def dailyAucStream(events: Dataset[Event], labelOf: Event => Boolean,
                     scaleDp: Int = 4,
                     watermark: String = "10 minutes",
                     expectedTypes: Long = 1000L,
                     openDaysBound: Int = 2,
                     maxStateBytes: Long = 8L << 30): Dataset[AucRow] = {
    require(expectedTypes > 0 && openDaysBound > 0 && maxStateBytes > 0,
      s"dailyAucStream: expectedTypes=$expectedTypes openDaysBound=" +
        s"$openDaysBound maxStateBytes=$maxStateBytes must all be positive")
    val perKey = 16L * (math.pow(10.0, scaleDp).toLong + 1L)
    val budget = perKey * expectedTypes * openDaysBound
    require(budget <= maxStateBytes,
      s"dailyAucStream state budget ${budget / (1L << 20)} MiB = " +
        s"16*(10^$scaleDp+1) B/key * $expectedTypes types * " +
        s"$openDaysBound open days exceeds maxStateBytes=" +
        s"${maxStateBytes / (1L << 20)} MiB — lower scaleDp (10x state " +
        "per dp), pre-bucket event types, or raise maxStateBytes " +
        "deliberately (RocksDB spills past memory; this is the " +
        "degradation-is-a-choice line)")
    daily(events, watermark, new DailyAucProcessor(labelOf, scaleDp))
  }
}
