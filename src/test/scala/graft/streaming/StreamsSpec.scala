package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamsSpec extends SparkSpec {
  import spark.implicits._
  import Streams._

  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(minute: Int): Timestamp = new Timestamp(minute * 60000L)

  private val batch = Seq(
    Event(1L, ts(1), 10L, "click", 1.0),
    Event(2L, ts(2), 10L, "click", 2.0),
    Event(3L, ts(11), 10L, "view", 3.0),
    Event(4L, ts(12), 20L, "click", 4.0),
    Event(5L, ts(55), 10L, "click", 5.0), // new session for user 10
    Event(6L, ts(56), 20L, "view", 6.0))

  private def runStream[T](stream: MemoryStream[T], transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                           data: Seq[T], complete: Boolean = true): org.apache.spark.sql.DataFrame = {
    val name = s"mem_${System.nanoTime()}"
    val q = transform(stream.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode(if (complete) "complete" else "append").start()
    stream.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumblingAgg: streaming result equals the batch run of the same plan") {
    val fromBatch = tumblingAgg(batch.toDF()).orderBy("win_start", "event_type")
      .collect().map(_.toSeq)
    val stream = MemoryStream[Event]
    val fromStream = runStream(stream, df => tumblingAgg(df), batch)
      .orderBy("win_start", "event_type").collect().map(_.toSeq)
    fromStream shouldBe fromBatch
    fromBatch.length shouldBe 5 // (0-10:click),(10-20:view),(10-20:click),(50-60:click),(50-60:view)
  }

  test("slidingAgg: events land in overlapping panes") {
    val got = slidingAgg(batch.toDF(), "10 minutes", "5 minutes")
      .where(col("event_type") === "click")
      .orderBy("win_start")
      .as[(Timestamp, String, Long)].collect()
    // click at minute 1,2 → panes starting -5 and 0; minute 12 → 5,10; minute 55 → 50,55
    got.map(g => (g._1.getTime / 60000, g._3)) shouldBe
      Seq((-5L, 2L), (0L, 2L), (5L, 1L), (10L, 1L), (50L, 1L), (55L, 1L))
  }

  test("sessionAgg (session_window): 30-min gap splits user 10 into two sessions") {
    val got = sessionAgg(batch.toDF(), "30 minutes")
      .orderBy("user_id", "session_start")
      .as[(Timestamp, Timestamp, Long, Long, Double)].collect()
    got.map(g => (g._3, g._4, g._5)) shouldBe
      Seq((10L, 3L, 6.0), (10L, 1L, 5.0), (20L, 1L, 4.0), (20L, 1L, 6.0))
  }

  test("dedupWithinWatermark drops duplicate ids in a stream") {
    val stream = MemoryStream[Event]
    val dup = batch ++ Seq(Event(1L, ts(1), 10L, "click", 1.0)) // id 1 again
    val got = runStream(stream, df => dedupWithinWatermark(df), dup, complete = false)
    got.count() shouldBe 6
    got.select("event_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L, 4L, 5L, 6L)
  }

  test("fileSource: streaming parquet source feeds the same tumbling plan") {
    val dir = java.nio.file.Files.createTempDirectory("stream-src").toFile.getAbsolutePath
    val schema = batch.toDF().schema
    batch.toDF().write.mode("overwrite").parquet(dir)
    val name = s"mem_${System.nanoTime()}"
    val q = tumblingAgg(Streams.fileSource(spark, dir, schema))
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val fromFiles = spark.table(name).orderBy("win_start", "event_type")
      .collect().map(_.toSeq)
    val fromBatch = tumblingAgg(batch.toDF()).orderBy("win_start", "event_type")
      .collect().map(_.toSeq)
    fromFiles shouldBe fromBatch
  }

  test("intervalJoin: stream-stream join within the time bound only") {
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val l = clicks.toDF().select(col("user_id").as("k"), col("ts").as("click_ts"),
      col("event_id").as("click_id"))
    // same key name on both sides — intervalJoin renames the right key
    val r = buys.toDF().select(col("user_id").as("k"), col("ts").as("buy_ts"),
      col("event_id").as("buy_id"))
    val name = s"mem_${System.nanoTime()}"
    val q = Streams.intervalJoin(l, r, "k", "click_ts", "buy_ts")
      .select("click_id", "buy_id")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // user 1: buy at min 5; clicks at min 10 (within 30min) and min 50 (outside)
    buys.addData(Event(100L, ts(5), 1L, "purchase", 9.99))
    clicks.addData(
      Event(1L, ts(10), 1L, "click", 0.0),
      Event(2L, ts(50), 1L, "click", 0.0),
      Event(3L, ts(10), 2L, "click", 0.0)) // other user: no buy
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).as[(Long, Long)].collect().toSet
    got shouldBe Set((1L, 100L)) // only the in-window same-user pair
  }

  test("sessionizeWithState: custom-state sessionization matches expected sessions") {
    val stream = MemoryStream[Event]
    val name = s"mem_${System.nanoTime()}"
    val q = sessionizeWithState(stream.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    stream.addData(batch: _*)
    q.processAllAvailable()
    // advance the watermark far past all sessions so timeouts fire
    stream.addData(Event(99L, ts(1000), 99L, "tick", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).as[SessionOut].collect()
      .map(s => (s.user_id, s.n_events, s.total)).toSet
    got should contain allOf(
      (10L, 3L, 6.0), // user 10 events at minute 1,2,11 — one session
      (10L, 1L, 5.0), // user 10 minute 55
      (20L, 1L, 4.0), // user 20 minute 12; 44-min gap to minute 56 > 30
      (20L, 1L, 6.0))
  }

  test("sessionizeTws (transformWithState + RocksDB): same sessions as FMGWS") {
    // transformWithState requires a column-family-capable store — RocksDB
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = sessionizeTws(stream.toDS(), gapMs = 30 * 60000L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(batch: _*)
      q.processAllAvailable()
      // advance the watermark far past all sessions so the timers fire
      stream.addData(Event(99L, ts(1000), 99L, "tick", 0.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(name).as[SessionOut].collect()
        .map(s => (s.user_id, s.n_events, s.total)).toSet
      got should contain allOf(
        (10L, 3L, 6.0),
        (10L, 1L, 5.0),
        (20L, 1L, 4.0),
        (20L, 1L, 6.0))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("curateStream: quality gate + content dedup, stream equals batch") {
    import StreamsSpec.Doc
    val good = "the quick brown fox jumps over a lazy dog and every word here is " +
      "mostly unique because we want low repetition of tokens across this entire " +
      "document with many different nouns verbs adjectives plus the usual glue words"
    val docs = Seq(
      Doc(ts(1), 1L, good),
      Doc(ts(2), 2L, "spam spam spam spam spam spam spam spam"), // repetitive
      Doc(ts(3), 3L, good),                                      // dup of 1
      Doc(ts(4), 4L, good + " now altered"))                     // novel
    val run = (df: org.apache.spark.sql.DataFrame) =>
      curateStream(df, "ts", "text", Seq("the", "a", "of", "and"))
        .select(col("doc_id"))
    val batch = run(docs.toDF()).as[Long].collect().sorted
    batch shouldBe Seq(1L, 4L)
    val stream = MemoryStream[Doc]
    val got = runStream(stream, run, docs, complete = false)
      .as[Long].collect().sorted
    got shouldBe batch
  }

  test("gopherStream: map-only rule battery, stream equals batch row-for-row") {
    import StreamsSpec.Doc
    val wordy = (1 to 50).map(i => s"word$i").mkString(" ") + " the of and"
    val docs = Seq(
      Doc(ts(1), 1L, wordy),                              // keeps
      Doc(ts(2), 2L, "too short to pass the word rule"),  // r_words fails
      Doc(ts(3), 3L, (1 to 50).map(i => s"w$i...").mkString(" ")))  // symbols
    val run = (df: org.apache.spark.sql.DataFrame) =>
      gopherStream(df, "doc_id", "text")
        .select(col("id"), col("n_words"), col("n_stopwords"),
          col("symbol_ratio"), col("keep"))
    val batch = run(docs.toDF())
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    batch.map(r => (r._1, r._5)) shouldBe Seq((1L, true), (2L, false), (3L, false))
    val stream = MemoryStream[Doc]
    val got = runStream(stream, run, docs, complete = false)
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    got shouldBe batch
  }

  test("dsirStream: map-only scoring against a batch-trained model, stream equals batch") {
    import StreamsSpec.Doc
    import graft.operators.Curation
    val corpus = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the dog sat on the rug", true),
      (3L, "lorem ipsum dolor sit amet", false),
      (4L, "ipsum lorem sit dolor blob", false)).toDF("doc_id", "text", "is_t")
    val buckets = 64
    val dim = Curation.dsirDim(corpus, "doc_id", "text", col("is_t"), buckets)
      .as[(Long, Double)].collect().toMap
    // add-1 floor for buckets never seen in training: 40 raw grams
    // (11 + 11 + 9 + 9 per-doc unigrams+bigrams), 22 of them target
    val default = math.log(40 + buckets.toDouble) -
      math.log(22 + buckets.toDouble)
    val run = (df: org.apache.spark.sql.DataFrame) =>
      dsirStream(df, "doc_id", "text", dim, default, buckets)
    val docs = Seq(
      Doc(ts(1), 10L, "the cat sat"),            // target dialect
      Doc(ts(2), 11L, "zzz unseen words here"),  // floors to default
      Doc(ts(3), 12L, ""))                       // no grams: score 0
    val batch = run(docs.toDF())
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    batch.find(_._1 == 12L).get shouldBe ((12L, 0L, 0.0))
    batch.find(_._1 == 10L).get._3 should be > batch.find(_._1 == 11L).get._3
    val stream = MemoryStream[Doc]
    val got = runStream(stream, run, docs, complete = false)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    got shouldBe batch
  }

  test("scriptMixStream: zero-state char-class profile, stream equals batch; counts re-aggregate") {
    import StreamsSpec.Doc
    val docs = Seq(
      Doc(ts(1), 1L, "plain ascii words 123"),
      Doc(ts(2), 2L, "naïve café — non-ascii content"),
      Doc(ts(3), 3L, "punct!!! and\ttabs\nnewlines"))
    val run = (df: org.apache.spark.sql.DataFrame) =>
      scriptMixStream(df, "doc_id", "text")
    val batch = run(docs.toDF())
      .as[(Long, Int, Int, Int, Int, Int)].collect().sortBy(_._1).toSeq
    val stream = MemoryStream[Doc]
    val got = runStream(stream, run, docs, complete = false)
      .as[(Long, Int, Int, Int, Int, Int)].collect().sortBy(_._1).toSeq
    got shouldBe batch
    // the per-doc integer counts re-aggregate to the corpus profile the
    // q_script_mix batch readout computes (single-language corpus here)
    val n = batch.map(_._2.toLong).sum
    val alphaFrac = batch.map(_._3.toLong).sum.toDouble / n
    val direct = docs.map(_.text.count(c => c.isLetter && c < 128).toLong).sum.toDouble /
      docs.map(_.text.length.toLong).sum
    alphaFrac shouldBe direct +- 1e-12
  }

  test("boilerplateStream: static passage-df index probe equals the batch operator") {
    import StreamsSpec.Doc
    import graft.operators.Curation
    // 3 docs sharing a 10-word boilerplate header, distinct bodies of
    // 10 words each — the header's df is 3, bodies df 1
    val header = (1 to 10).map(i => s"head$i").mkString(" ")
    def body(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$header ${body("alpha")}"),
      (2L, s"$header ${body("beta")}"),
      (3L, s"$header ${body("gamma")}")).toDF("doc_id", "text")
    val batch = Curation.boilerplatePassages(corpus, "doc_id", "text",
        passageWords = 10, minDocs = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    batch.foreach { case (_, nP, nKept, clean) =>
      nP shouldBe 2L; nKept shouldBe 1L
      clean should not include "head1"
    }
    // the deployment shape: index trained on the corpus, docs stream in
    val dfIndex = Curation.passageDfIndex(corpus, "doc_id", "text",
      passageWords = 10).localCheckpoint(true)
    val streamDocs = Seq(
      Doc(ts(1), 1L, s"$header ${body("alpha")}"),
      Doc(ts(2), 2L, s"$header ${body("beta")}"),
      Doc(ts(3), 3L, s"$header ${body("gamma")}"),
      // late marker advances the watermark so the append windows close
      Doc(ts(99), 999L, "flush marker row"))
    val run = (df: org.apache.spark.sql.DataFrame) =>
      Streams.boilerplateStream(df, "ts", "doc_id", "text", dfIndex,
        passageWords = 10, minDocs = 2,
        watermark = "1 minute", windowDur = "1 minute")
    val stream = MemoryStream[Doc]
    val name = s"mem_${System.nanoTime()}"
    val q = run(stream.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    stream.addData(streamDocs.take(3): _*)
    q.processAllAvailable()
    stream.addData(streamDocs(3))
    q.processAllAvailable()
    val deadline = System.nanoTime() + 60e9.toLong
    while (spark.table(name).where(col("id") < 999L).count() < 3 &&
        System.nanoTime() < deadline) {
      Thread.sleep(200); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).where(col("id") < 999L)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    got shouldBe batch
  }

  test("boilerplateStream crash recovery: open windows survive a RocksDB restart exactly-once") {
    import StreamsSpec.{Doc, BpRow}
    import graft.operators.Curation
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val header = (1 to 10).map(i => s"head$i").mkString(" ")
      def body(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
      val corpus = Seq(
        (1L, s"$header ${body("alpha")}"),
        (2L, s"$header ${body("beta")}"),
        (3L, s"$header ${body("gamma")}")).toDF("doc_id", "text")
      val dfIndex = Curation.passageDfIndex(corpus, "doc_id", "text",
        passageWords = 10).localCheckpoint(true)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-bp-ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft-bp-out").toString
      val schema = org.apache.spark.sql.Encoders.product[BpRow].schema
      val stream = MemoryStream[Doc]
      def start() = Streams.boilerplateStream(stream.toDF(), "ts", "doc_id",
          "text", dfIndex, passageWords = 10, minDocs = 2,
          watermark = "1 minute", windowDur = "1 minute")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      def sink() = spark.read.schema(schema).parquet(out).as[BpRow]
      def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Unit = {
        val deadline = System.nanoTime() + 120e9.toLong
        while (sink().count() < n && System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(200)
        }
        sink().count() should be >= n
      }
      val q1 = start()
      stream.addData(
        Doc(ts(1), 1L, s"$header ${body("alpha")}"),
        Doc(ts(2), 2L, s"$header ${body("beta")}"))
      q1.processAllAvailable()
      // crash BEFORE any watermark advance: both documents' windows are
      // open aggregation state, nothing emitted yet
      sink().count() shouldBe 0
      q1.stop()
      // the watermark-advancing row arrives while the query is down; on
      // restart the recovered window state must close and emit docs 1-2
      stream.addData(Doc(ts(99), 999L, "flush marker row"))
      val q2 = start()
      awaitRows(q2, 2)
      q2.stop()
      val rows = sink().collect().filter(_.id < 999L).sortBy(_.id)
      rows.map(_.id).toSeq shouldBe Seq(1L, 2L) // exactly-once, no re-emit
      rows.foreach { r =>
        r.n_passages shouldBe 2L
        r.n_kept shouldBe 1L
        r.clean_text should not include "head1"
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("msprtStream: always-valid p on the stream equals the batch operator day-for-day") {
    import graft.operators.Stats
    // 8 days × 12 obs × 2 arms with a real lift on arm 1; one null row
    // (must be filtered identically to the batch entry's IS NOT NULL)
    val events = (for {
      day <- 0 until 8; i <- 0 until 12; a <- Seq(0L, 1L)
    } yield {
      val c0 = 500L + (day * 31 + i * 7 + a * 13) % 41 + a * 25
      Event(day * 1000L + i * 2 + a,
        new Timestamp(day * 86400000L + i * 1000L),
        user_id = a + 2 * i, event_type = "m", value = c0 / 100.0)
    }) :+ Event(777777L, new Timestamp(3 * 86400000L + 500L), 4L, "m", null)

    val bdf = events.toDS().where(col("value").isNotNull)
      .select((col("user_id") % 2).as("arm"),
        expr("unix_micros(ts) div 86400000000").as("day_num"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val batch = Stats.msprt(bdf, col("arm"), col("day_num"), col("cents"),
        tauSq = 2500.0)
      .orderBy("day")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    batch.size shouldBe 8

    val stream = MemoryStream[Event]
    val nm = s"mem_msprt_${System.nanoTime()}"
    val q = msprtStream(stream.toDS(), tauSq = 2500.0)
      .writeStream.format("memory").queryName(nm).outputMode("append").start()
    stream.addData(events: _*)
    q.processAllAvailable()
    // the watermark only closes a day once LATER event time arrives,
    // and it advances AFTER the batch that carried the later event —
    // so two far-future sentinel batches close all real days (the
    // first advances the clock, the second's invocation observes it)
    stream.addData(Event(999999L, new Timestamp(100L * 86400000L), 0L, "m", 1.0))
    q.processAllAvailable()
    stream.addData(Event(999998L, new Timestamp(101L * 86400000L), 0L, "m", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(nm).as[Streams.SeqTestOut].collect()
      .sortBy(_.day_num)
      .map(o => (o.day_num, o.n_a, o.n_b, o.delta, o.p_always_valid)).toSeq
    got shouldBe batch
  }

  test("minhashNeardupStream: replaying sf0.001 documents in id order equals the batch operator's pairs") {
    import StreamsSpec.Doc
    import graft.operators.Dedup
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docsDf = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"), col("text"))
      // the batch oracle: canonical (id_a < id_b) pairs at the defaults
      val expected = Dedup.minhashPairs(docsDf, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet
      expected should not be empty
      // replay in id order (arrival order == id order makes the stream's
      // (earlier, later) coincide with the batch's (lo, hi)) across
      // three batches so cross-batch pairing exercises RocksDB state
      val docs = docsDf.orderBy("doc_id").as[(Long, String)].collect()
        .map { case (id, text) => Doc(ts(id.toInt), id, text) }
      val stream = MemoryStream[Doc]
      val name = s"mem_${System.nanoTime()}"
      val q = Streams.minhashNeardupStream(stream.toDF(), "ts", "doc_id", "text")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      docs.grouped(200).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      q.exception.foreach(throw _)
      q.stop()
      val got = spark.table(name)
        .select(col("first_id"), col("second_id"), col("est_jaccard"))
        .as[(Long, Long, Double)].collect()
      got.length shouldBe got.toSet.size // a pair emits exactly once
      got.toSet shouldBe expected
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("minhashNeardupStream crash recovery: bucket members survive a RocksDB restart; replays are idempotent") {
    import StreamsSpec.Doc
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("mh-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("mh-out").toString
    try {
      val a = Doc(ts(1), 1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      val c = Doc(ts(2), 3L, "completely unrelated content about marine navigation charts")
      val b = Doc(ts(3), 2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      val schema = org.apache.spark.sql.Encoders.product[Streams.NearDupPair].schema
      val stream = MemoryStream[Doc]
      // parquet sink: the memory sink refuses checkpoint recovery in
      // append mode, and recovery is the point of this test
      def start() = Streams.minhashNeardupStream(stream.toDF(), "ts", "doc_id", "text")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).outputMode("append").start(out)
      def sink() = spark.read.schema(schema).parquet(out)
      val q1 = start()
      stream.addData(a, c)
      q1.processAllAvailable()
      sink().count() shouldBe 0 // no pair yet
      q1.stop() // crash before the near-dup arrives
      // restart from the checkpoint: doc 1's signature must still be in
      // the bucket for doc 2 to pair against; the re-added doc 1 must
      // neither duplicate state nor re-pair (at-least-once upstream)
      stream.addData(b, a)
      val q2 = start()
      q2.processAllAvailable()
      q2.exception.foreach(throw _)
      q2.stop()
      val got = sink()
        .select(col("first_id"), col("second_id"), col("est_jaccard"))
        .as[(Long, Long, Double)].collect().toSeq
      got shouldBe Seq((1L, 2L, 1.0)) // exactly once, est 1.0 (identical text)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("minhashNeardupStream: a saturated bucket fails loudly, never drops candidates silently") {
    import StreamsSpec.Doc
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Doc]
      val name = s"mem_${System.nanoTime()}"
      val q = Streams.minhashNeardupStream(stream.toDF(), "ts", "doc_id", "text",
          maxBucket = 1)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(
        Doc(ts(1), 1L, "identical boilerplate text shared by every document here"),
        Doc(ts(2), 2L, "identical boilerplate text shared by every document here"))
      val ex = intercept[Exception] { q.processAllAvailable() }
      Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).map(_.getMessage).getOrElse("") should
        include("exceeds maxBucket")
      q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("embeddingNeardupStream: replaying sf0.001 embeddings in id order equals the batch LSH operator's pairs") {
    import StreamsSpec.VecDoc
    import graft.operators.Dedup
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select(col("vec_id"), col("embedding"))
      val (planes, bands) = Dedup.scaledBandGeometry(emb.count(), 3, 16)
      // the batch oracle: q_embedding_neardup_lsh's exact recipe
      val expected = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.3999995, planesPerBand = planes, bands = bands)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6))
        .as[(Long, Long, Double)].collect().toSet
      expected should not be empty
      val docs = emb.orderBy("vec_id").as[(Long, Array[Float])].collect()
        .map { case (id, v) => VecDoc(ts(id.toInt), id, v) }
      val stream = MemoryStream[VecDoc]
      val name = s"mem_${System.nanoTime()}"
      val q = Streams.embeddingNeardupStream(stream.toDF(), "ts", "vec_id",
          "vec", threshold = 0.3999995, planesPerBand = planes, bands = bands)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      docs.grouped(200).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      q.exception.foreach(throw _)
      q.stop()
      val got = spark.table(name)
        .select(col("first_id"), col("second_id"), round(col("cos_sim"), 6))
        .as[(Long, Long, Double)].collect()
      got.length shouldBe got.toSet.size // a pair emits exactly once
      got.toSet shouldBe expected
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("embeddingNeardupStream crash recovery: bucket vectors survive a RocksDB restart; replays are idempotent") {
    import StreamsSpec.VecDoc
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("vec-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("vec-out").toString
    try {
      val v = Array(1f, 2f, 3f, 4f)
      val a = VecDoc(ts(1), 1L, v)
      val c = VecDoc(ts(2), 3L, Array(-4f, 3f, -2f, 1f)) // cos 0 vs v
      val b = VecDoc(ts(3), 2L, v)
      val schema = org.apache.spark.sql.Encoders.product[Streams.VecNearDupPair].schema
      val stream = MemoryStream[VecDoc]
      def start() = Streams.embeddingNeardupStream(stream.toDF(), "ts",
          "vec_id", "vec", threshold = 0.9)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).outputMode("append").start(out)
      def sink() = spark.read.schema(schema).parquet(out)
      val q1 = start()
      stream.addData(a, c)
      q1.processAllAvailable()
      sink().count() shouldBe 0 // no pair yet
      q1.stop() // crash before the near-dup arrives
      // doc 1's vector must still be in the bucket for doc 2 to pair
      // against; the re-added doc 1 must neither duplicate state nor
      // re-pair (at-least-once upstream)
      stream.addData(b, a)
      val q2 = start()
      q2.processAllAvailable()
      q2.exception.foreach(throw _)
      q2.stop()
      val got = sink()
        .select(col("first_id"), col("second_id"), col("cos_sim"))
        .as[(Long, Long, Double)].collect().toSeq
      got shouldBe Seq((1L, 2L, 1.0)) // exactly once, identical vectors
    } finally {
      prev match {
        case Some(v0) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v0)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("embeddingNeardupStream: maxBucket boundary — admits exactly maxBucket members, fires on the next") {
    // The r14 endurance runs only ever saw the guard SILENT (clean
    // corpora) and the maxBucket=1 test only sees it fire on the 2nd
    // member; this pins the exact boundary: with maxBucket=3, three
    // same-bucket vectors process cleanly (all 3 pairs emitted), and
    // the 4th arrival — the first that would make a 4-member bucket —
    // kills the query naming the knob. StressBench section 25 is the
    // decade-scale twin at the default 4096.
    import StreamsSpec.VecDoc
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[VecDoc]
      val name = s"mem_${System.nanoTime()}"
      val q = Streams.embeddingNeardupStream(stream.toDF(), "ts", "vec_id",
          "vec", threshold = 0.9, maxBucket = 3)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val v = Array(1f, 2f, 3f, 4f)
      stream.addData(VecDoc(ts(1), 1L, v), VecDoc(ts(2), 2L, v),
        VecDoc(ts(3), 3L, v))
      q.processAllAvailable() // 3 members in every band bucket: silent
      q.exception shouldBe empty
      spark.table(name).count() shouldBe 3L // pairs (1,2) (1,3) (2,3)
      stream.addData(VecDoc(ts(4), 4L, v))
      val ex = intercept[Exception] { q.processAllAvailable() }
      Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).map(_.getMessage).getOrElse("") should
        include("exceeds maxBucket=3")
      q.stop()
    } finally {
      prev match {
        case Some(v0) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v0)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("embeddingNeardupStream: a saturated bucket fails loudly, never drops candidates silently") {
    import StreamsSpec.VecDoc
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[VecDoc]
      val name = s"mem_${System.nanoTime()}"
      val q = Streams.embeddingNeardupStream(stream.toDF(), "ts", "vec_id",
          "vec", threshold = 0.9, maxBucket = 1)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(
        VecDoc(ts(1), 1L, Array(1f, 2f, 3f, 4f)),
        VecDoc(ts(2), 2L, Array(1f, 2f, 3f, 4f)))
      val ex = intercept[Exception] { q.processAllAvailable() }
      Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).map(_.getMessage).getOrElse("") should
        include("exceeds maxBucket")
      q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("incrementalDedupStream: stream equals batch plan AND the batch operator's new-vs-corpus pairs") {
    import StreamsSpec.Doc
    import graft.functions.{DedupExpr, TextAnalytics}
    import graft.operators.Dedup
    val corpusDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "an entirely different standing corpus document about engines"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("id", "text")
    val corpusShingled = corpusDocs.select(col("id"),
      DedupExpr.shingleHashes(TextAnalytics.tokens(col("text")), 3).as("sh"))
    val newDocs = Seq(
      Doc(ts(1), 10L, "the quick brown fox jumps over the lazy cat tonight"),
      Doc(ts(2), 11L, "completely novel sentences matching zero standing entries"),
      // late row advances the watermark so windows of 10/11 close in
      // append mode; shares no shingle with the corpus by construction
      Doc(ts(99), 12L, "final flush marker row without overlapping trigram content"))
    val run = (df: org.apache.spark.sql.DataFrame) =>
      Streams.incrementalDedupStream(df, "ts", "doc_id", "text",
        corpusShingled, threshold = 0.5,
        watermark = "1 minute", windowDur = "1 minute")
    // batch run of the IDENTICAL plan
    val batchGot = run(newDocs.toDF()).as[(Long, Long, Double)].collect().toSet
    // the batch operator over the union, restricted to new-vs-corpus
    // pairs (corpus ids sort first, so corpus side is id_a)
    val union = corpusDocs.select(col("id"), lit(false).as("is_new"), col("text"))
      .unionAll(newDocs.toDF()
        .select(col("doc_id").as("id"), lit(true).as("is_new"), col("text")))
    val shingled = union.select(col("id"), col("is_new"),
      DedupExpr.shingleHashes(TextAnalytics.tokens(col("text")), 3).as("sh"))
    val opPairs = Dedup.incrementalNgramPairs(shingled, col("is_new"), 0.5)
      .where(col("id_a") <= 3L)
      .select(col("id_b"), col("id_a"), round(col("jaccard"), 4))
      .as[(Long, Long, Double)].collect().toSet
    batchGot should not be empty // the planted near-dup (10 vs 1) matched
    batchGot shouldBe opPairs
    // streaming run: append-mode windowed agg, flushed by the late row
    val stream = MemoryStream[Doc]
    val name = s"mem_${System.nanoTime()}"
    val q = run(stream.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    stream.addData(newDocs.take(2): _*)
    q.processAllAvailable()
    stream.addData(newDocs(2))
    q.processAllAvailable()
    val deadline = System.nanoTime() + 60e9.toLong
    while (spark.table(name).count() < batchGot.size && System.nanoTime() < deadline) {
      Thread.sleep(200); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).as[(Long, Long, Double)].collect().toSet
    got shouldBe batchGot
  }

  test("cdcStream: continuous MERGE changelog; fold equals batch Cdc.applyChanges") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Change]
      val name = s"mem_${System.nanoTime()}"
      val q = cdcStream(stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      // cdcStream now runs TimeMode.None (no timers/TTL), but keep the
      // sink poll: it is robust under either time mode (ProcessingTime
      // re-triggers housekeeping batches and can keep processAllAvailable
      // from latching — the dedupTws operational note)
      def awaitRows(nRows: Long): Unit = {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table(name).count() < nRows && System.nanoTime() < deadline)
          Thread.sleep(200)
        q.exception.foreach(throw _)
        spark.table(name).count() should be >= nRows
      }
      val b1 = Seq(Change(1L, 1.0, 1L, "U"), Change(2L, 2.0, 1L, "U"),
        Change(1L, 1.5, 2L, "U")) // in-batch: highest seq wins immediately
      val b2 = Seq(Change(1L, 9.0, 1L, "U"), // stale replay: ignored
        Change(2L, 0.0, 3L, "D"), Change(3L, 3.0, 1L, "U"))
      stream.addData(b1: _*); awaitRows(2)
      stream.addData(b2: _*); awaitRows(4)
      q.stop()
      val log = spark.table(name).as[Applied].collect()
      // batch 1 emitted each key's winner; the stale batch-2 change for
      // key 1 emitted NOTHING
      log.count(_.k == 1L) shouldBe 1
      log.find(_.k == 1L).get.v shouldBe 1.5
      // fold the changelog: last emission per key, deleted keys dropped
      val folded = log.groupBy(_.k).view.mapValues(_.maxBy(_.seq)).toMap
        .collect { case (k, a) if !a.deleted => (k, a.v) }.toMap
      // batch parity over the same changes from an empty base
      import spark.implicits._
      val base = Seq.empty[(Long, Double)].toDF("k", "v")
      val changes = (b1 ++ b2).toDF("k", "v", "seq", "op")
      val batch = graft.operators.Cdc.applyChanges(base, changes, "k", "seq", "op")
        .as[(Long, Double)].collect().toMap
      folded shouldBe batch
      folded shouldBe Map(1L -> 1.5, 3L -> 3.0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dedupTws (transformWithState + TTL state): first occurrence kept across batches") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = dedupTws(stream.toDS(), java.time.Duration.ofHours(1))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      // TTL state makes every trigger a state-cleanup batch
      // ("No new data but cleaning up state"), so processAllAvailable never
      // latches its no-new-data condition — poll the sink instead.
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table(name).count() < n && System.nanoTime() < deadline)
          Thread.sleep(200)
        q.exception.foreach(throw _)
        spark.table(name).count() should be >= n
      }
      // batch 1: id 1 twice in-batch, LATER event time added FIRST — the
      // kept occurrence must be the min-ts row (deterministic choice),
      // not whichever the post-shuffle iterator happens to yield first
      stream.addData(
        Event(1L, ts(2), 10L, "retry", 9.0),
        Event(1L, ts(1), 10L, "click", 1.0),
        Event(2L, ts(3), 20L, "click", 2.0))
      awaitRows(2)
      // batch 2: id 1 again (cross-batch dup), id 3 new
      stream.addData(
        Event(1L, ts(4), 10L, "retry", 8.0),
        Event(3L, ts(5), 30L, "view", 3.0))
      awaitRows(3)
      q.stop()
      val got = spark.table(name).as[Event].collect().sortBy(_.event_id)
      got.map(_.event_id).toSeq shouldBe Seq(1L, 2L, 3L)
      // the FIRST occurrence of id 1 is the one emitted
      got.head.value shouldBe 1.0
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnelStream: step advances across batches; counts equal the batch funnel") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val steps = Seq("view" -> None, "click" -> Some(3600L), "purchase" -> Some(3600L))
      // event-time-ordered batches (the streaming-funnel contract)
      val b1 = Seq(
        Event(1L, ts(1), 10L, "view", 0.0),
        Event(2L, ts(2), 20L, "click", 0.0),  // click with no view: ignored
        Event(3L, ts(3), 10L, "click", 0.0),
        Event(4L, ts(4), 30L, "view", 0.0))
      val b2 = Seq(
        Event(5L, ts(10), 10L, "purchase", 0.0), // completes across batches
        Event(6L, ts(70), 30L, "click", 0.0),    // 66 min after view: gap exceeded
        Event(7L, ts(80), 20L, "view", 0.0))
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = funnelStream(stream.toDS(), steps)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def awaitRows(nRows: Long): Unit = {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table(name).count() < nRows && System.nanoTime() < deadline)
          Thread.sleep(200)
        q.exception.foreach(throw _)
        spark.table(name).count() should be >= nRows
      }
      stream.addData(b1: _*); awaitRows(3)
      stream.addData(b2: _*); awaitRows(5)
      q.stop()
      val advances = spark.table(name).as[StepAdvance].collect()
      // u10 reached steps 1..3, u30 step 1 (click out of gap), u20 step 1
      advances.map(a => (a.user_id, a.step)).toSet shouldBe
        Set((10L, 1), (10L, 2), (10L, 3), (30L, 1), (20L, 1))
      // stream step counts ≡ batch funnel over the full event set
      val streamCounts = advances.groupBy(_.step).view.mapValues(_.size.toLong).toMap
      val batchCounts = graft.operators.Funnel.funnel(
          (b1 ++ b2).toDF(), "user_id", "ts", "event_type",
          Seq(graft.operators.Funnel.Step("view"),
            graft.operators.Funnel.Step("click", Some(3600L)),
            graft.operators.Funnel.Step("purchase", Some(3600L))))
        .select("step", "n_users").as[(Int, Long)].collect().toMap
      streamCounts shouldBe batchCounts.filter(_._2 > 0L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnelStream: sub-millisecond times order and gap-check in microseconds, like the batch funnel") {
    def at(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000L)
      t.setNanos((us % 1000000L * 1000L).toInt)
      t
    }
    // u10: view and click inside ONE millisecond, the click 500 µs later;
    // u20: the click lands 1,000,999 µs after the view — past the 1 s gap,
    // though the millisecond stamps are exactly 1 s apart
    val events = Seq(
      Event(1L, at(100L), 10L, "view", 0.0),
      Event(2L, at(600L), 10L, "click", 0.0),
      Event(3L, at(1000L), 20L, "view", 0.0),
      Event(4L, at(1001999L), 20L, "click", 0.0))
    val advances = funnelStream(events.toDS(),
      Seq("view" -> None, "click" -> Some(1L))).collect()
    advances.map(a => (a.user_id, a.step, a.ts_ms)).toSet shouldBe
      Set((10L, 1, 0L), (10L, 2, 0L), (20L, 1, 1L))
    val streamCounts = advances.groupBy(_.step).view.mapValues(_.size.toLong).toMap
    val batchCounts = graft.operators.Funnel.funnel(
        events.toDF(), "user_id", "ts", "event_type",
        Seq(graft.operators.Funnel.Step("view"),
          graft.operators.Funnel.Step("click", Some(1L))))
      .select("step", "n_users").as[(Int, Long)].collect().toMap
    streamCounts shouldBe batchCounts.filter(_._2 > 0L)
  }

  test("heavyHittersStream: exact-regime stream fold equals plain counts across batches") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[String]
      val name = s"mem_${System.nanoTime()}"
      val q = heavyHittersStream(stream.toDS(), capacity = 16, shards = 4)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table(name).count() < n && System.nanoTime() < deadline)
          Thread.sleep(200)
        q.exception.foreach(throw _)
        spark.table(name).count() should be >= n
      }
      val b1 = Seq("a", "b", "a", "c", "a", "b")
      val b2 = Seq("a", "d", "b", "a", "e", "a", "a")
      stream.addData(b1: _*); awaitRows(3)
      // b2 touches shards holding {a,e}, {d}, {b} → 4 more emissions
      stream.addData(b2: _*); awaitRows(7)
      q.stop()
      // latest estimate per token = max emission (counts only grow in
      // the exact regime); must equal the plain batch count
      val folded = spark.table(name).as[TokenCount].collect()
        .groupBy(_.token).view.mapValues(_.map(_.est).max).toMap
      val expected = (b1 ++ b2).groupBy(identity).view.mapValues(_.size.toLong).toMap
      folded shouldBe expected
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transitionsStream: per-user pairs chain across batches; fold equals batch transitions") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // event-time-ordered per user across batches (the contract)
      val b1 = Seq(
        Event(1L, ts(1), 10L, "view", 0.0),
        Event(2L, ts(2), 10L, "click", 0.0),
        Event(3L, ts(1), 20L, "view", 0.0))
      val b2 = Seq(
        Event(4L, ts(5), 10L, "purchase", 0.0), // chains onto b1's click via state
        Event(5L, ts(6), 20L, "view", 0.0),
        Event(6L, ts(7), 30L, "view", 0.0))     // single event: no transition
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = transitionsStream(stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def awaitRows(nRows: Long): Unit = {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table(name).count() < nRows && System.nanoTime() < deadline)
          Thread.sleep(200)
        q.exception.foreach(throw _)
        spark.table(name).count() should be >= nRows
      }
      stream.addData(b1: _*); awaitRows(1)
      stream.addData(b2: _*); awaitRows(3)
      q.stop()
      val streamPairs = spark.table(name).as[Transition].collect()
        .groupBy(t => (t.from_type, t.to_type)).view.mapValues(_.size.toLong).toMap
      val batchPairs = graft.operators.Funnel.transitions(
          (b1 ++ b2).toDF(), "user_id", "ts", "event_type", "event_id")
        .as[(String, String, Long)].collect()
        .map(r => ((r._1, r._2), r._3)).toMap
      streamPairs shouldBe batchPairs
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("landmarkStream: constant-state journey automaton; completions equal batch landmarkSteps") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val steps = Seq("signup", "purchase")
      // u10 completes ACROSS batches; u20 purchases before signup (never
      // completes); u30 completes within one batch then purchases again
      // (exactly one emission)
      val b1 = Seq(
        Event(1L, ts(1), 10L, "signup", 0.0),
        Event(2L, ts(2), 10L, "view", 0.0),
        Event(3L, ts(1), 20L, "purchase", 0.0),
        Event(4L, ts(1), 30L, "signup", 0.0),
        Event(5L, ts(2), 30L, "purchase", 0.0))
      val b2 = Seq(
        Event(6L, ts(5), 10L, "purchase", 0.0), // completes u10 at event 3
        Event(7L, ts(5), 20L, "signup", 0.0),   // too late, no purchase after
        Event(8L, ts(6), 30L, "purchase", 0.0)) // already done — no re-emit
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = landmarkStream(stream.toDS(), steps)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def awaitRows(nRows: Long): Unit = {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table(name).count() < nRows && System.nanoTime() < deadline)
          Thread.sleep(200)
        q.exception.foreach(throw _)
        spark.table(name).count() should be >= nRows
      }
      stream.addData(b1: _*); awaitRows(1)
      stream.addData(b2: _*); awaitRows(2)
      q.stop()
      val fromStream = spark.table(name).as[LandmarkMatch].collect()
        .map(m => (m.user_id, m.complete_at)).sorted
      fromStream shouldBe Array((10L, 3L), (30L, 2L))
      val fromBatch = graft.operators.Funnel.landmarkSteps(
          (b1 ++ b2).toDF(), "user_id", "ts", "event_type", "event_id", steps)
        .as[(Long, Long)].collect().sorted
      fromStream shouldBe fromBatch
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("attributionStream: last-touch channel survives batches; fold equals batch window") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // u10: view → purchase (credit view), then ANOTHER purchase next
      // batch with no new touch (state must carry "view" across), then
      // click → purchase (credit click). u20: purchase with no prior
      // touch — never attributed.
      val b1 = Seq(
        Event(1L, ts(1), 10L, "view", 0.0),
        Event(2L, ts(2), 10L, "purchase", 5.0),
        Event(3L, ts(1), 20L, "purchase", 9.0))
      val b2 = Seq(
        Event(4L, ts(5), 10L, "purchase", 7.0),
        Event(5L, ts(6), 10L, "click", 0.0),
        Event(6L, ts(7), 10L, "purchase", 1.0))
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = attributionStream(stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def awaitRows(nRows: Long): Unit = {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table(name).count() < nRows && System.nanoTime() < deadline)
          Thread.sleep(200)
        q.exception.foreach(throw _)
        spark.table(name).count() should be >= nRows
      }
      stream.addData(b1: _*); awaitRows(1)
      stream.addData(b2: _*); awaitRows(3)
      q.stop()
      val fromStream = spark.table(name).as[Attributed].collect()
        .map(a => (a.user_id, a.purchase_id, a.channel, a.value_cents)).sorted
      fromStream shouldBe Array(
        (10L, 2L, "view", 500L), (10L, 4L, "view", 700L),
        (10L, 6L, "click", 100L))
      // batch twin: the q_attribution strict-past IGNORE NULLS window
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Long.MinValue, -1)
      val fromBatch = (b1 ++ b2).toDF()
        .withColumn("_src",
          last(when($"event_type" =!= "purchase", $"event_type"),
            ignoreNulls = true).over(w))
        .where($"event_type" === "purchase" && $"_src".isNotNull)
        .select($"user_id", $"event_id", $"_src",
          round($"value" * 100).cast("long"))
        .as[(Long, Long, String, Long)].collect().sorted
      fromStream shouldBe fromBatch
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("cents/nz: SQL HALF_UP rounding and null folding match the batch twins") {
    // negative halves round AWAY from zero like SQL round() — math.round
    // (= floor(x+0.5)) would give -12 and 0 here
    Streams.cents(-0.125) shouldBe -13L // -12.5 cents
    Streams.cents(-0.005) shouldBe -1L  // -0.5 cents
    Streams.cents(0.125) shouldBe 13L
    Streams.cents(null) shouldBe 0L     // q_merge_intervals' coalesce(value,0)
    Streams.nz(null) shouldBe 0.0
    Streams.nz(2.5) shouldBe 2.5
    // engine equivalence: the same doubles through Spark SQL's round()
    val vals = Seq(-0.125, -0.005, 0.125, 2.675, -2.675, 99.995)
    val sql = vals.toDF("v").select(round($"v" * 100).cast("long"))
      .as[Long].collect().toSeq
    sql shouldBe vals.map(v => Streams.cents(v))
  }

  test("attributionStream: null and negative purchase values fold like batch sum/round") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // a NULL-valued purchase still counts as a purchase (batch count(*))
      // but contributes 0 cents (batch sum() skips the null term); a
      // negative value rounds HALF_UP away from zero like SQL round()
      val b1 = Seq(
        Event(1L, ts(1), 10L, "view", 0.0),
        Event(2L, ts(2), 10L, "purchase", null),
        Event(3L, ts(3), 10L, "purchase", -0.125))
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = attributionStream(stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(b1: _*)
      val deadline = System.nanoTime() + 60e9.toLong
      while (spark.table(name).count() < 2 && System.nanoTime() < deadline)
        Thread.sleep(200)
      q.exception.foreach(throw _)
      q.stop()
      val got = spark.table(name).as[Attributed].collect()
        .map(a => (a.user_id, a.purchase_id, a.channel, a.value_cents)).sorted
      got shouldBe Array((10L, 2L, "view", 0L), (10L, 3L, "view", -13L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("intervalMergeStream: islands close across batches; fold equals batch minus open islands") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // u10: [1m,3m) absorbs [2m,2.5m); [10m,11m) closes it, then [20m,·)
      // closes that one next batch and stays open. u20: one interval,
      // never closed, never emitted.
      val b1 = Seq(
        Event(1L, ts(1), 10L, "view", 120.0),
        Event(2L, ts(2), 10L, "view", 30.0),
        Event(3L, ts(10), 10L, "view", 60.0),
        Event(4L, ts(1), 20L, "view", 60.0))
      val b2 = Seq(Event(5L, ts(20), 10L, "view", 60.0))
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = intervalMergeStream(stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def awaitRows(nRows: Long): Unit = {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table(name).count() < nRows && System.nanoTime() < deadline)
          Thread.sleep(200)
        q.exception.foreach(throw _)
        spark.table(name).count() should be >= nRows
      }
      stream.addData(b1: _*); awaitRows(1)
      stream.addData(b2: _*); awaitRows(2)
      q.stop()
      val fromStream = spark.table(name).as[MergedInterval].collect()
        .map(m => (m.user_id, m.merged_start, m.merged_end, m.n_merged)).sorted
      fromStream shouldBe Array(
        (10L, 60000000L, 180000000L, 2L),
        (10L, 600000000L, 660000000L, 1L))
      // batch twin: the q_merge_intervals islands window, minus each
      // user's final (still-open) island
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"s", $"event_id")
      val iv = (b1 ++ b2).toDF()
        .select($"user_id", $"event_id", unix_micros($"ts").as("s"),
          (unix_micros($"ts") +
            expr("cast(round(value * 100) as bigint)") * 10000L).as("e"))
      val marked = iv
        .withColumn("_pmax", max($"e").over(w.rowsBetween(Long.MinValue, -1)))
        .withColumn("_new",
          when($"_pmax".isNull || $"s" > $"_pmax", 1L).otherwise(0L))
        .withColumn("island", sum($"_new").over(w.rowsBetween(Long.MinValue, 0)))
      val islands = marked.groupBy($"user_id", $"island")
        .agg(min($"s").as("ms"), max($"e").as("me"), count(lit(1)).as("n"))
        .withColumn("_last", max($"island").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"user_id")))
      val fromBatch = islands.where($"island" =!= $"_last")
        .select($"user_id", $"ms", $"me", $"n")
        .as[(Long, Long, Long, Long)].collect().sorted
      fromStream shouldBe fromBatch
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnelStream crash recovery: step state survives restart; advances stay exactly-once") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-fun-ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft-fun-out").toString
      val schema = org.apache.spark.sql.Encoders.product[StepAdvance].schema
      val steps = Seq("view" -> None, "click" -> Some(3600L), "purchase" -> Some(3600L))
      val stream = MemoryStream[Event]
      def start() = funnelStream(stream.toDS(), steps)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      def sink() = spark.read.schema(schema).parquet(out).as[StepAdvance]
      def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Unit = {
        val deadline = System.nanoTime() + 120e9.toLong
        while (sink().count() < n && System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(200)
        }
        sink().count() should be >= n
      }
      val q1 = start()
      stream.addData(
        Event(1L, ts(1), 10L, "view", 0.0),
        Event(2L, ts(3), 10L, "click", 0.0))
      awaitRows(q1, 2) // u10 advanced to steps 1 and 2
      q1.stop()
      // the purchase arrives while the query is down; it can only advance
      // u10 to step 3 if the recovered state still holds the click time
      stream.addData(Event(3L, ts(10), 10L, "purchase", 0.0))
      val q2 = start()
      awaitRows(q2, 3)
      q2.stop()
      val advances = sink().collect()
      advances.length shouldBe 3 // exactly-once: steps 1-2 not re-emitted
      advances.map(a => (a.user_id, a.step)).toSet shouldBe
        Set((10L, 1), (10L, 2), (10L, 3))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("cdcStream crash recovery: restart from RocksDB checkpoint is exactly-once with state intact") {
    // The property checkpointed RocksDB state is FOR: stop the query
    // mid-stream, let data arrive while it is down, restart from the same
    // checkpoint, and require (a) no batch-1 output is re-emitted (sink
    // exactly-once via the file-sink commit log) and (b) the stale replay
    // in batch 2 is dropped — which can only happen if key 1's applied
    // seq=2 state survived the restart.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft-cdc-out").toString
      val schema = org.apache.spark.sql.Encoders.product[Applied].schema
      val stream = MemoryStream[Change]
      def start() = cdcStream(stream.toDS())
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      // read through the sink's commit log (spark.read on the path), so
      // uncommitted files from an in-flight batch are never counted
      def sink() = spark.read.schema(schema).parquet(out).as[Applied]
      def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Unit = {
        val deadline = System.nanoTime() + 120e9.toLong
        while (sink().count() < n && System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(200)
        }
        sink().count() should be >= n
      }
      val b1 = Seq(Change(1L, 1.0, 1L, "U"), Change(2L, 2.0, 1L, "U"),
        Change(1L, 1.5, 2L, "U"))
      val q1 = start()
      stream.addData(b1: _*); awaitRows(q1, 2)
      q1.stop() // query goes down with key-1 state (seq=2) only in the checkpoint
      // data arrives while the query is down; the stale key-1 change is
      // only dropped if recovery restores the applied seq, not if the
      // restarted query starts from empty state
      val b2 = Seq(Change(1L, 9.0, 1L, "U"),
        Change(2L, 0.0, 3L, "D"), Change(3L, 3.0, 1L, "U"))
      stream.addData(b2: _*)
      val q2 = start()
      awaitRows(q2, 4)
      q2.stop()
      val log = sink().collect()
      log.length shouldBe 4 // exactly-once: batch 1's two rows not re-emitted
      log.count(_.k == 1L) shouldBe 1 // stale replay dropped ⇒ state recovered
      // fold the changelog and require batch parity over the full change set
      val folded = log.groupBy(_.k).view.mapValues(_.maxBy(_.seq)).toMap
        .collect { case (k, a) if !a.deleted => (k, a.v) }.toMap
      val base = Seq.empty[(Long, Double)].toDF("k", "v")
      val changes = (b1 ++ b2).toDF("k", "v", "seq", "op")
      val batch = graft.operators.Cdc.applyChanges(base, changes, "k", "seq", "op")
        .as[(Long, Double)].collect().toMap
      folded shouldBe batch
      folded shouldBe Map(1L -> 1.5, 3L -> 3.0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("Hll registers: estimate within the sketch error band, state fixed-width") {
    val regs = new Array[Byte](Hll.M)
    // 10k distinct longs through 4096 registers: σ = 1.04/√4096 ≈ 1.6%
    Hll.addAll(regs, (1L to 10000L).iterator)
    regs.length shouldBe Hll.M // state never grows with cardinality
    val est = Hll.estimate(regs)
    math.abs(est - 10000.0) / 10000.0 should be < 0.05
    // duplicates never move the estimate (idempotent insert)
    val before = regs.clone()
    Hll.addAll(regs, (1L to 10000L).iterator)
    regs.toSeq shouldBe before.toSeq
    // small range: linear counting is near-exact
    val small = new Array[Byte](Hll.M)
    Hll.addAll(small, (1L to 50L).iterator)
    math.rint(Hll.estimate(small)).toLong shouldBe 50L
  }

  test("dailyDistinctStream: watermark-closed HLL estimates within error of exact distinct") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dayMs = 86400000L
      // 2 types × 2 days; user populations overlap across days and carry
      // heavy in-day duplication (each user appears ~4 times per day)
      val events = for {
        d <- 0 until 2; t <- Seq("click", "view"); i <- 0 until 2000
      } yield Event((d * 100000 + i).toLong,
        new Timestamp(d * dayMs + 3600000L + (i % 700) * 60000L),
        (i % 500 + d * 100).toLong, t, 1.0)
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = dailyDistinctStream(stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      // day 0 splits across two batches by TIME (streams arrive in
      // rough event-time order): batch 2's day-0 half stays above the
      // watermark batch 1 advanced to, so the key's registers fold
      // across batches without any row going late
      val (day0, day1) = events.partition(_.ts.getTime < dayMs)
      val (b1, b1b) = day0.partition(_.ts.getTime < 3600000L + 300L * 60000L)
      stream.addData(b1: _*)
      q.processAllAvailable()
      stream.addData((b1b ++ day1): _*)
      q.processAllAvailable()
      stream.addData(Event(999999L, new Timestamp(10 * dayMs), 0L, "tick", 0.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(name).as[DistinctCount].collect()
        .map(b => (b.event_type, b.day_num) -> b.est_users).toMap
      got.keySet shouldBe (for (d <- 0 until 2; t <- Seq("click", "view"))
        yield (t, d.toLong)).toSet
      spark.table(name).count() shouldBe 4L // exactly-once per closed key
      for (((t, d), est) <- got) {
        val exact = events.filter(e => e.event_type == t &&
          e.ts.getTime / dayMs == d).map(_.user_id).distinct.length
        math.abs(est.toDouble - exact) / exact should be < 0.05
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("Gk summary: bounded size, every quantile within εn rank error") {
    val eps = 0.01
    val rnd = new scala.util.Random(11)
    // adversarial-ish mix: two modes + heavy ties
    val values = (1 to 20000).map { i =>
      if (i % 3 == 0) 5.0 else if (i % 7 == 0) rnd.nextDouble() * 100
      else rnd.nextGaussian() * 10 + 50
    }
    var s = Gk.empty
    values.foreach(v => s = Gk.insert(s, v, eps))
    s.n shouldBe 20000L
    // bounded state: O((1/ε)·log(εn)) — orders of magnitude under n
    s.vs.length should be < 400
    val sorted = values.sorted
    for (phi <- Seq(0.05, 0.25, 0.5, 0.75, 0.95, 0.99)) {
      val got = Gk.query(s, phi, eps)
      val r = math.ceil(phi * s.n).toLong
      // true rank range of the returned value (ties span a range)
      val lo = sorted.count(_ < got).toLong + 1
      val hi = sorted.count(_ <= got).toLong
      val tol = math.ceil(eps * s.n).toLong
      assert(lo <= r + tol && hi >= r - tol,
        s"phi=$phi: value $got has rank [$lo,$hi], want $r ± $tol")
    }
  }

  test("dailyPercentilesStream: watermark-closed GK bands within εn of the exact sort") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val eps = 0.01
      val dayMs = 86400000L
      val rnd = new scala.util.Random(7)
      // 2 types × 3 days × 400 events, plus nulls the batch query drops
      val events = for {
        d <- 0 until 3; t <- Seq("click", "view"); i <- 0 until 400
      } yield Event((d * 10000 + i).toLong,
        // +1h offset: a ts exactly AT the initial watermark (epoch 0)
        // is dropped as late before reaching the processor
        new Timestamp(d * dayMs + 3600000L + i * 60000L), i.toLong % 37, t,
        if (i % 50 == 49) null
        else java.lang.Double.valueOf(rnd.nextGaussian() * (d + 1) * 10 + 100 * (d + 1)))
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = dailyPercentilesStream(stream.toDS(), eps = eps)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(events: _*)
      q.processAllAvailable()
      // close every day: advance the watermark far past day 2's end
      stream.addData(Event(99L, new Timestamp(10 * dayMs), 99L, "tick", 0.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(name).as[QuantileBand].collect()
        .map(b => (b.event_type, b.day_num) -> b).toMap
      // all 6 closed (type, day) keys emitted exactly once
      got.keySet shouldBe (for (d <- 0 until 3; t <- Seq("click", "view"))
        yield (t, d.toLong)).toSet
      spark.table(name).count() shouldBe 6L
      for (((t, d), band) <- got) {
        val exact = events.filter(e => e.event_type == t &&
            e.ts.getTime / dayMs == d && e.value != null)
          .map(_.value.doubleValue).sorted
        band.n shouldBe exact.length.toLong
        val tol = math.ceil(eps * exact.length).toLong
        for ((phi, v) <- Seq(0.5 -> band.p50, 0.95 -> band.p95)) {
          val r = math.ceil(phi * exact.length).toLong
          val lo = exact.count(_ < v).toLong + 1
          val hi = exact.count(_ <= v).toLong
          assert(lo <= r + tol && hi >= r - tol,
            s"($t,$d) phi=$phi: $v ranks [$lo,$hi], want $r ± $tol")
        }
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dailyPsiStream: watermark-closed PSI equals the batch operator day-for-day") {
    import graft.operators.Stats
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dayMs = 86400000L
      val bins = 10
      val (lo, hi) = (0.0, 100.0)
      // a trained model's validation histogram: mild center-heavy shape
      val refCounts = Array[Long](50, 60, 70, 80, 90, 90, 80, 70, 60, 50)
      def binOf(v: Double): Int =
        math.min(bins - 1, math.max(0, math.floor((v - lo) / (hi - lo) * bins).toInt))
      val rnd = new scala.util.Random(41)
      // 2 types × 2 days × 600 scores; day 1 drifts upward (and clips at
      // the top bin — the outlier-absorption path), plus nulls the batch
      // WHERE drops; bin 0 stays empty on day 1 for one type so the
      // both-sides-empty exclusion is NOT exercised (ref covers all bins)
      // while the day-side-empty smoothing IS.
      val events = for {
        d <- 0 until 2; t <- Seq("click", "view"); i <- 0 until 600
      } yield Event((d * 10000 + i).toLong,
        new Timestamp(d * dayMs + 3600000L + i * 60000L), i.toLong % 97, t,
        if (i % 40 == 39) null
        else if (i % 97 == 96) java.lang.Double.valueOf(Double.NaN)
        else java.lang.Double.valueOf(
          rnd.nextDouble() * 70 + d * 45 + (if (t == "view") 10 else 0)))
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = dailyPsiStream(stream.toDS(), refCounts, lo, hi)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(events: _*)
      q.processAllAvailable()
      stream.addData(Event(99L, new Timestamp(10 * dayMs), 99L, "tick", 0.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(name).as[PsiRow].collect()
        .map(b => (b.event_type, b.day_num) -> b).toMap
      got.keySet shouldBe (for (d <- 0 until 2; t <- Seq("click", "view"))
        yield (t, d.toLong)).toSet
      spark.table(name).count() shouldBe 4L // exactly-once per closed key
      for (((t, d), row) <- got) {
        // the batch operator over (reference as base=true) ∪ (the day's
        // binned scores as base=false) — the exact q_psi computation
        // nulls AND non-finite scores are outside both computations
        val dayBins = events.filter(e => e.event_type == t &&
            e.ts.getTime / dayMs == d && e.value != null &&
            java.lang.Double.isFinite(e.value.doubleValue))
          .map(e => (binOf(e.value.doubleValue).toLong, false))
        val base = refCounts.zipWithIndex.flatMap { case (c, b) =>
          Seq.fill(c.toInt)((b.toLong, true)) }
        val batch = Stats.psi((base ++ dayBins).toSeq.toDF("bin", "is_base"),
          col("bin"), col("is_base"), bins).head()
        row.n shouldBe dayBins.length.toLong
        row.n_bins shouldBe batch.getLong(0)
        row.psi shouldBe batch.getDouble(1) +- 1.1e-6
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dailyPsiStream crash recovery: bin counts survive a RocksDB restart exactly-once") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dayMs = 86400000L
      val refCounts = Array[Long](100, 100, 100, 100, 100)
      // 800 day-0 scores per type; the crash splits 500/300 — band.n ==
      // 800 is the survival witness (a lost count array reports 300)
      val events = for (t <- Seq("click", "view"); i <- 0 until 800)
        yield Event(i.toLong, new Timestamp(3600000L + i * 60000L), i.toLong % 11, t,
          java.lang.Double.valueOf((i % 100).toDouble))
      val (b1, b2) = events.partition(_.event_id < 500)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-psi-ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft-psi-out").toString
      val schema = org.apache.spark.sql.Encoders.product[PsiRow].schema
      val stream = MemoryStream[Event]
      def start() = dailyPsiStream(stream.toDS(), refCounts, 0.0, 100.0)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      def sink() = spark.read.schema(schema).parquet(out).as[PsiRow]
      def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Unit = {
        val deadline = System.nanoTime() + 120e9.toLong
        while (sink().count() < n && System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(200)
        }
        sink().count() should be >= n
      }
      val q1 = start()
      stream.addData(b1: _*)
      q1.processAllAvailable()
      sink().count() shouldBe 0 // day 0 still open at the crash
      q1.stop()
      stream.addData(b2: _*)
      stream.addData(Event(999999L, new Timestamp(10 * dayMs), 0L, "tick", 0.0))
      val q2 = start()
      awaitRows(q2, 2)
      q2.stop()
      val rows = sink().collect()
      rows.length shouldBe 2 // exactly-once per (type, day 0)
      rows.map(_.event_type).sorted.toSeq shouldBe Seq("click", "view")
      rows.foreach { r =>
        r.day_num shouldBe 0L
        r.n shouldBe 800L // pre-crash bin counts kept folding
        r.n_bins shouldBe 5L
        // i % 100 is uniform over [0,100) → near-uniform vs the uniform
        // reference: PSI must sit near 0 (a lost/duplicated state would
        // skew the day histogram and inflate it)
        r.psi should be < 0.01
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dailyDistinctStream crash recovery: HLL registers and day timers survive a RocksDB restart exactly-once") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dayMs = 86400000L
      // 2 types × 2000 DISTINCT users in day 0, event time increasing with
      // user id. The crash splits each key's users 0–1499 / 1500–1999: a
      // restart that loses the registers would estimate ~500 from the
      // post-crash slice alone, so the 5% band on 2000 is a sharp witness
      // that the recovered state kept folding.
      val events = for (t <- Seq("click", "view"); i <- 0 until 2000)
        yield Event(i.toLong, new Timestamp(3600000L + i * 30000L), i.toLong, t, 1.0)
      val (b1, b2) = events.partition(_.user_id < 1500)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-dd-ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft-dd-out").toString
      val schema = org.apache.spark.sql.Encoders.product[DistinctCount].schema
      val stream = MemoryStream[Event]
      def start() = dailyDistinctStream(stream.toDS())
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      def sink() = spark.read.schema(schema).parquet(out).as[DistinctCount]
      def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Unit = {
        val deadline = System.nanoTime() + 120e9.toLong
        while (sink().count() < n && System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(200)
        }
        sink().count() should be >= n
      }
      val q1 = start()
      stream.addData(b1: _*)
      q1.processAllAvailable()
      // crash with day 0 OPEN: registers + the day-end timer are state
      sink().count() shouldBe 0
      q1.stop()
      // the rest of day 0 AND the day-closing tick arrive while down
      // (all above the persisted watermark: event time grows with id)
      stream.addData(b2: _*)
      stream.addData(Event(999999L, new Timestamp(10 * dayMs), 0L, "tick", 0.0))
      val q2 = start()
      awaitRows(q2, 2)
      q2.stop()
      val rows = sink().collect()
      rows.length shouldBe 2 // exactly-once: one band per (type, day 0)
      rows.map(_.event_type).sorted.toSeq shouldBe Seq("click", "view")
      rows.foreach { r =>
        r.day_num shouldBe 0L
        math.abs(r.est_users.toDouble - 2000) / 2000 should be < 0.05
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dailyPercentilesStream crash recovery: GK summaries survive a RocksDB restart exactly-once") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val eps = 0.01
      val dayMs = 86400000L
      val rnd = new scala.util.Random(23)
      // 2 types × 1000 day-0 events (some null). band.n == the full
      // non-null count is the state-survival witness: a lost summary
      // restarts at n=0 and the post-crash slice alone reports ~400.
      val events = for (t <- Seq("click", "view"); i <- 0 until 1000)
        yield Event(i.toLong, new Timestamp(3600000L + i * 60000L), i.toLong % 37, t,
          if (i % 50 == 49) null
          else java.lang.Double.valueOf(rnd.nextGaussian() * 10 + (if (i < 600) 100 else 300)))
      val (b1, b2) = events.partition(_.event_id < 600)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-dp-ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft-dp-out").toString
      val schema = org.apache.spark.sql.Encoders.product[QuantileBand].schema
      val stream = MemoryStream[Event]
      def start() = dailyPercentilesStream(stream.toDS(), eps = eps)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      def sink() = spark.read.schema(schema).parquet(out).as[QuantileBand]
      def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Unit = {
        val deadline = System.nanoTime() + 120e9.toLong
        while (sink().count() < n && System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(200)
        }
        sink().count() should be >= n
      }
      val q1 = start()
      stream.addData(b1: _*)
      q1.processAllAvailable()
      sink().count() shouldBe 0 // day 0 still open at the crash
      q1.stop()
      stream.addData(b2: _*)
      stream.addData(Event(999999L, new Timestamp(10 * dayMs), 0L, "tick", 0.0))
      val q2 = start()
      awaitRows(q2, 2)
      q2.stop()
      val rows = sink().collect().map(b => b.event_type -> b).toMap
      sink().count() shouldBe 2L // exactly-once per closed key
      rows.keySet shouldBe Set("click", "view")
      for ((t, band) <- rows) {
        val exact = events.filter(e => e.event_type == t && e.value != null)
          .map(_.value.doubleValue).sorted
        band.day_num shouldBe 0L
        band.n shouldBe exact.length.toLong // pre-crash inserts kept
        val tol = math.ceil(eps * exact.length).toLong
        for ((phi, v) <- Seq(0.5 -> band.p50, 0.95 -> band.p95)) {
          val r = math.ceil(phi * exact.length).toLong
          val lo = exact.count(_ < v).toLong + 1
          val hi = exact.count(_ <= v).toLong
          assert(lo <= r + tol && hi >= r - tol,
            s"$t phi=$phi: $v ranks [$lo,$hi], want $r ± $tol")
        }
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dailyCalibrationStream: watermark-closed reliability table equals the batch operator day-for-day") {
    import graft.operators.Stats
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dayMs = 86400000L
      val bins = 10
      val rnd = new scala.util.Random(43)
      // 2 types × 2 days × 500 scores in [0, 1) plus exact 1.0s (the
      // top-bin absorption path), nulls and NaNs (the batch WHERE
      // drops); label = user_id % 3 == 0, correlated with the score so
      // pos_rate varies across bins
      val events = for {
        d <- 0 until 2; t <- Seq("click", "view"); i <- 0 until 500
      } yield {
        val score =
          if (i % 40 == 39) null
          else if (i % 97 == 96) java.lang.Double.valueOf(Double.NaN)
          else if (i % 83 == 82) java.lang.Double.valueOf(1.0)
          else java.lang.Double.valueOf(rnd.nextDouble())
        val uid = if (score != null && java.lang.Double.isFinite(score.doubleValue)
          && score.doubleValue > 0.5 && i % 2 == 0) 3L * i else 3L * i + 1
        Event((d * 10000 + i).toLong,
          new Timestamp(d * dayMs + 3600000L + i * 60000L), uid, t, score)
      }
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = dailyCalibrationStream(stream.toDS(), _.user_id % 3 == 0, bins)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(events: _*)
      q.processAllAvailable()
      stream.addData(Event(99L, new Timestamp(10 * dayMs), 99L, "tick", 0.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(name).as[CalibRow].collect()
        .groupBy(r => (r.event_type, r.day_num))
      got.keySet shouldBe (for (d <- 0 until 2; t <- Seq("click", "view"))
        yield (t, d.toLong)).toSet
      for (((t, d), rows) <- got) {
        val day = events.filter(e => e.event_type == t &&
          e.ts.getTime / dayMs == d && e.value != null &&
          java.lang.Double.isFinite(e.value.doubleValue))
        val batch = Stats.calibration(
            day.map(e => (e.value.doubleValue, e.user_id % 3 == 0))
              .toDF("q", "l"), col("q"), col("l"), bins)
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
        rows.map(_.bin).toSet shouldBe batch.keySet // observed bins only
        rows.foreach { r =>
          val (n, npos, mean, rate) = batch(r.bin)
          r.n shouldBe n
          r.n_pos shouldBe npos
          r.mean_score shouldBe mean +- 1e-9 // identical integer-unit path
          r.pos_rate shouldBe rate +- 1e-9
        }
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dailyAucStream: watermark-closed exact AUC equals the batch operator day-for-day") {
    import graft.operators.Stats
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dayMs = 86400000L
      val scaleDp = 3 // 1001 units — fast state, same code path as 4 dp
      val rnd = new scala.util.Random(47)
      def r3(v: Double): Double =
        BigDecimal(v).setScale(scaleDp, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      // 2 types × 2 days × 400 scores PRE-ROUNDED to scaleDp (the batch
      // operator's declared-input discipline) with heavy ties, a
      // positive-leaning score (so AUC is meaningfully above 0.5),
      // boundary values 0.0/1.0, plus null/NaN rows the WHERE drops
      val events = for {
        d <- 0 until 2; t <- Seq("click", "view"); i <- 0 until 400
      } yield {
        val pos = i % 3 == 0
        val score =
          if (i % 40 == 39) null
          else if (i % 97 == 96) java.lang.Double.valueOf(Double.NaN)
          else if (i % 83 == 82) java.lang.Double.valueOf(if (pos) 1.0 else 0.0)
          else java.lang.Double.valueOf(r3(
            math.min(1.0, math.max(0.0,
              rnd.nextGaussian() * 0.2 + (if (pos) 0.65 else 0.45)))))
        Event((d * 10000 + i).toLong,
          new Timestamp(d * dayMs + 3600000L + i * 60000L),
          if (pos) 3L * i else 3L * i + 1, t, score)
      }
      val stream = MemoryStream[Event]
      val name = s"mem_${System.nanoTime()}"
      val q = dailyAucStream(stream.toDS(), _.user_id % 3 == 0, scaleDp)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(events: _*)
      q.processAllAvailable()
      stream.addData(Event(99L, new Timestamp(10 * dayMs), 99L, "tick", 0.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(name).as[AucRow].collect()
        .map(r => (r.event_type, r.day_num) -> r).toMap
      got.keySet shouldBe (for (d <- 0 until 2; t <- Seq("click", "view"))
        yield (t, d.toLong)).toSet
      spark.table(name).count() shouldBe 4L // exactly-once per closed key
      for (((t, d), row) <- got) {
        val day = events.filter(e => e.event_type == t &&
          e.ts.getTime / dayMs == d && e.value != null &&
          java.lang.Double.isFinite(e.value.doubleValue))
        val batch = Stats.auc(
            day.map(e => (e.value.doubleValue, e.user_id % 3 == 0, 1))
              .toDF("q", "l", "g"), col("g"), col("q"), col("l"))
          .head()
        row.n_pos shouldBe batch.getLong(1)
        row.n_neg shouldBe batch.getLong(2)
        row.auc shouldBe batch.getDouble(3) +- 1e-9 // exact integer U2 path
        row.auc should be > 0.5 // the planted separation survived
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dailyAucStream state-budget require() fires on the declared arithmetic") {
    // 16*(10^4+1)*1M types*2 open days = 320 GB >> the 8 GiB default:
    // the 1M-key scenario the scaladoc's formula names must fail loudly
    // at CONSTRUCTION, naming the levers, not melt RocksDB at runtime.
    val ds = spark.emptyDataset[Event]
    val e = intercept[IllegalArgumentException] {
      dailyAucStream(ds, _.user_id % 2 == 0, scaleDp = 4,
        expectedTypes = 1000000L)
    }
    e.getMessage should include("state budget")
    e.getMessage should include("lower scaleDp")
    // Same keys at 2 dp (10x smaller state per dp, twice) fits: the
    // formula's advertised lever actually clears the gate.
    noException should be thrownBy dailyAucStream(ds,
      _.user_id % 2 == 0, scaleDp = 2, expectedTypes = 1000000L)
  }

  test("dailyAucStream crash recovery: unit counts survive a RocksDB restart exactly-once") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dayMs = 86400000L
      // 600 day-0 rows: positives uniform over (0.5, 1.0], negatives
      // uniform over [0.0, 0.5) — a perfectly separable day, so any
      // lost or doubled pre-crash counts move AUC off exactly 1.0 or
      // n_pos+n_neg off 600
      val events = for (i <- 0 until 600) yield {
        val pos = i % 2 == 0
        val v = (i % 100) / 250.0 // [0, 0.396]
        Event(i.toLong, new Timestamp(3600000L + i * 60000L),
          if (pos) 2L * i else 2L * i + 1, "click",
          java.lang.Double.valueOf(if (pos) 0.6 + v else v))
      }
      val (b1, b2) = events.partition(_.event_id < 400)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-auc-ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft-auc-out").toString
      val schema = org.apache.spark.sql.Encoders.product[AucRow].schema
      val stream = MemoryStream[Event]
      def start() = dailyAucStream(stream.toDS(), _.user_id % 2 == 0, scaleDp = 3)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      def sink() = spark.read.schema(schema).parquet(out).as[AucRow]
      val q1 = start()
      stream.addData(b1: _*)
      q1.processAllAvailable()
      sink().count() shouldBe 0 // day 0 still open at the crash
      q1.stop()
      stream.addData(b2: _*)
      stream.addData(Event(999999L, new Timestamp(10 * dayMs), 0L, "tick", 0.0))
      val q2 = start()
      val deadline = System.nanoTime() + 120e9.toLong
      while (sink().count() < 1 && System.nanoTime() < deadline) {
        q2.exception.foreach(throw _)
        Thread.sleep(200)
      }
      q2.stop()
      val rows = sink().collect()
      rows.length shouldBe 1 // exactly-once for (click, day 0)
      rows.head.day_num shouldBe 0L
      rows.head.n_pos shouldBe 300L // pre-crash counts kept folding
      rows.head.n_neg shouldBe 300L
      rows.head.auc shouldBe 1.0 // separable by construction
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dailyCalibrationStream crash recovery: bin accumulators survive a RocksDB restart exactly-once") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dayMs = 86400000L
      // 600 day-0 scores, uniform over the 10 bins (i % 100 / 100.0);
      // the crash splits 400/200 — Σn == 600 is the survival witness
      val events = for (i <- 0 until 600)
        yield Event(i.toLong, new Timestamp(3600000L + i * 60000L),
          i.toLong % 7, "click", java.lang.Double.valueOf((i % 100) / 100.0))
      val (b1, b2) = events.partition(_.event_id < 400)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-calib-ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft-calib-out").toString
      val schema = org.apache.spark.sql.Encoders.product[CalibRow].schema
      val stream = MemoryStream[Event]
      def start() = dailyCalibrationStream(stream.toDS(), _.user_id % 7 == 0,
          bins = 10)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(out)
      def sink() = spark.read.schema(schema).parquet(out).as[CalibRow]
      val q1 = start()
      stream.addData(b1: _*)
      q1.processAllAvailable()
      sink().count() shouldBe 0 // day 0 still open at the crash
      q1.stop()
      stream.addData(b2: _*)
      stream.addData(Event(999999L, new Timestamp(10 * dayMs), 0L, "tick", 0.0))
      val q2 = start()
      val deadline = System.nanoTime() + 120e9.toLong
      while (sink().count() < 10 && System.nanoTime() < deadline) {
        q2.exception.foreach(throw _)
        Thread.sleep(200)
      }
      q2.stop()
      val rows = sink().collect()
      rows.length shouldBe 10 // exactly-once: one row per observed bin
      rows.map(_.n).sum shouldBe 600L // pre-crash accumulators kept folding
      rows.foreach { r =>
        r.day_num shouldBe 0L
        r.n shouldBe 60L // uniform fill: 10 scores per percent, 6 reps
        // labels: user_id = i % 7, positive when ≡ 0 (mod 7)
        r.n_pos should (be >= 6L and be <= 12L)
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("msprtStream: a straggler for an already-closed day is dropped, not re-folded") {
    // FMGWS under NoTimeout does NOT filter watermark-late rows, so the
    // processor's closedThrough guard is the only thing standing between
    // a straggler and a re-opened (double-emitted, order-corrupted) day.
    def mk(id: Long, day: Long, off: Long, uid: Long, v: Double) =
      Event(id, new Timestamp(day * 86400000L + off), uid, "m", v)
    val d01 = (0 until 4).flatMap(i => Seq(
      mk(i * 2L, 0L, 1000L * i, 2L * i, 5.0 + i),
      mk(i * 2L + 1, 0L, 1000L * i + 1, 2L * i + 1, 4.0 + i),
      mk(100L + i * 2, 1L, 1000L * i, 2L * i, 6.0 + i),
      mk(101L + i * 2, 1L, 1000L * i + 1, 2L * i + 1, 3.0 + i)))
    val stream = MemoryStream[Event]
    val nm = s"mem_msprt_late_${System.nanoTime()}"
    val q = msprtStream(stream.toDS(), tauSq = 2500.0)
      .writeStream.format("memory").queryName(nm).outputMode("append").start()
    stream.addData(d01: _*); q.processAllAvailable()
    // two sentinel batches close days 0 and 1 (watermark advances after
    // the batch that carried the later event)
    stream.addData(mk(900L, 10L, 0L, 0L, 1.0)); q.processAllAvailable()
    stream.addData(mk(901L, 11L, 0L, 0L, 1.0)); q.processAllAvailable()
    val closed = spark.table(nm).as[Streams.SeqTestOut].collect()
    closed.map(_.day_num).sorted shouldBe Array(0L, 1L)
    // the straggler: day 0 is long closed; it must be dropped
    stream.addData(mk(902L, 0L, 5000L, 4L, 9.0)); q.processAllAvailable()
    stream.addData(mk(903L, 12L, 0L, 0L, 1.0)); q.processAllAvailable()
    q.exception.foreach(throw _)
    q.stop()
    val rows = spark.table(nm).as[Streams.SeqTestOut].collect()
    rows.count(_.day_num == 0L) shouldBe 1 // emits-once survived the straggler
    rows.filter(_.day_num == 0L).head shouldBe closed.filter(_.day_num == 0L).head
    rows.map(_.day_num).distinct.length shouldBe rows.length
  }

  test("FMGWS late-row delivery semantics: NoTimeout delivers watermark-late rows; EventTimeTimeout filters with the eviction watermark") {
    // The platform pin both fixes above rest on. If a Spark upgrade
    // changes either behavior this fails loudly: (a) msprtStream's
    // closedThrough guard exists BECAUSE NoTimeout delivers stragglers;
    // (b) sessionizeWithState's timeout clamp is a no-op BECAUSE
    // EventTimeTimeout filters with the eviction watermark (a version
    // filtering with the previous batch's watermark instead would make
    // the clamp load-bearing — see its comment).
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def run(timeout: GroupStateTimeout, eventTime: Boolean): Seq[Long] = {
      val stream = MemoryStream[Event]
      val nm = s"mem_wmprobe_${System.nanoTime()}"
      val ds = stream.toDS().withWatermark("ts", "30 minutes")
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[Long, Long](OutputMode.Append(), timeout) {
          (_: Long, rows: Iterator[Event], st: GroupState[Long]) =>
            if (st.hasTimedOut) { st.remove(); Iterator.empty }
            else {
              val out = rows.map(_.event_id).toVector
              st.update(0L)
              if (eventTime)
                st.setTimeoutTimestamp(st.getCurrentWatermarkMs() + 3600000L)
              out.iterator
            }
        }
      val q = ds.writeStream.format("memory").queryName(nm)
        .outputMode("append").start()
      def ev(id: Long, uid: Long, min: Int) = Event(id, ts(min), uid, "e", 1.0)
      stream.addData(ev(1, 1, 720)); q.processAllAvailable() // 12:00
      stream.addData(ev(2, 2, 960)); q.processAllAvailable() // 16:00 → wm 15:30
      stream.addData(ev(3, 1, 780)); q.processAllAvailable() // straggler 13:00
      q.exception.foreach(throw _)
      q.stop()
      spark.table(nm).as[Long].collect().toSeq.sorted
    }
    run(GroupStateTimeout.NoTimeout(), eventTime = false) shouldBe Seq(1L, 2L, 3L)
    run(GroupStateTimeout.EventTimeTimeout(), eventTime = true) shouldBe Seq(1L, 2L)
  }

  test("sessionizeWithState: a watermark jump past the gap cannot corrupt or kill the query") {
    // The straggler whose natural timeout (lastMs + gap) would sit behind
    // the eviction watermark is filtered before the function on this
    // Spark (semantics pin above); the session surface stays healthy and
    // the closed session emits exactly once.
    def ev(id: Long, uid: Long, min: Int) = Event(id, ts(min), uid, "e", 1.0)
    val stream = MemoryStream[Event]
    val nm = s"mem_sess_clamp_${System.nanoTime()}"
    val q = sessionizeWithState(stream.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName(nm).outputMode("append").start()
    stream.addData(ev(1, 1, 720)); q.processAllAvailable()  // u1 12:00
    stream.addData(ev(2, 2, 960)); q.processAllAvailable()  // u2 16:00 → wm 15:30
    // u1 straggler 13:00, 2h30m behind the eviction watermark
    stream.addData(ev(3, 1, 780)); q.processAllAvailable()
    q.exception shouldBe empty
    stream.addData(ev(4, 3, 1100)); q.processAllAvailable() // advance wm
    stream.addData(ev(5, 3, 1200)); q.processAllAvailable() // fire timeouts
    q.exception.foreach(throw _)
    q.stop()
    val u1 = spark.table(nm).as[SessionOut].collect().filter(_.user_id == 1L)
    u1.map(s => (s.start_ms, s.n_events)) shouldBe Array((ts(720).getTime, 1L))
  }

  test("cdcStream: a same-seq delete arriving a batch later still wins; its replay is ignored") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Change]
      val name = s"mem_${System.nanoTime()}"
      val q = cdcStream(stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(Change(1L, 2.0, 5L, "U")); q.processAllAvailable()
      // same seq one batch later: D is the later intent (the in-batch
      // tie rule, applied cross-batch against the stored state)
      stream.addData(Change(1L, 0.0, 5L, "D")); q.processAllAvailable()
      // exact replay of the applied delete compares equal → idempotent
      stream.addData(Change(1L, 0.0, 5L, "D"), Change(2L, 7.0, 1L, "U"))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      q.stop()
      val log = spark.table(name).as[Applied].collect()
      log.count(_.k == 1L) shouldBe 2 // U applied, D applied, replay silent
      log.filter(_.k == 1L).maxBy(a => (a.seq, a.deleted)).deleted shouldBe true
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("heavyHittersStream: an eviction emits an est-0 retraction so latest-emission folding stays truthful") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[String]
      val name = s"mem_${System.nanoTime()}"
      val q = heavyHittersStream(stream.toDS(), capacity = 1, shards = 1)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData("a", "a"); q.processAllAvailable() // m = {a: 2}
      // two 'b's decrement a to zero — evicted, never tracked itself
      stream.addData("b", "b"); q.processAllAvailable()
      q.exception.foreach(throw _)
      q.stop()
      val log = spark.table(name).as[TokenCount].collect()
      log should contain(TokenCount("a", 2L))
      log should contain(TokenCount("a", 0L)) // the retraction
      // the changelog contract: latest emission per token = current estimate
      log.groupBy(_.token).view.mapValues(_.last.est).toMap shouldBe Map("a" -> 0L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("heavyHittersStream: the MG state projection compiles, with no interpreted fallback") {
    // CODEGEN_ONLY turns Spark's silent fallback to an interpreted
    // projection into an error: a state class the generated code cannot
    // reach (a `private` nested case class) fails the query
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val stream = MemoryStream[String]
      val name = s"mem_${System.nanoTime()}"
      val q = heavyHittersStream(stream.toDS(), capacity = 4, shards = 2)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        stream.addData("a", "b", "a"); q.processAllAvailable()
        stream.addData("a"); q.processAllAvailable() // reads the stored state
      } finally q.stop()
      q.exception shouldBe empty
      spark.table(name).as[TokenCount].collect()
        .groupBy(_.token).view.mapValues(_.map(_.est).max).toMap shouldBe
        Map("a" -> 3L, "b" -> 1L)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("teardown discipline: StateStore.stop() unloads the RocksDB providers query.stop() leaves behind") {
    // Pins the mechanism behind the r15 endurance-teardown fix
    // (docs/THROUGHPUT.md "Teardown caveat"): stopping a streaming query
    // does NOT unload its RocksDB state-store providers — the JVM-wide
    // maintenance task and the providers' native background threads stay
    // alive, and racing them against spark.stop()/JVM shutdown SIGSEGV'd
    // twice in r14 inside rocksdb::LoggerJniCallback::Logv. The remedy
    // StressBench.unloadStateStores relies on is that StateStore.stop()
    // closes every loaded provider synchronously on the calling thread.
    import StreamsSpec.Doc
    import org.apache.spark.sql.execution.streaming.state.StateStore
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Doc]
      val name = s"mem_${System.nanoTime()}"
      val q = Streams.minhashNeardupStream(stream.toDF(), "ts", "doc_id", "text")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      stream.addData(
        Doc(ts(1), 1L, "alpha beta gamma delta epsilon zeta eta theta"),
        Doc(ts(2), 2L, "unrelated words about maritime navigation charts"))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      q.stop()
      // the hazard: provider state (and its maintenance task) outlives the query
      StateStore.isMaintenanceRunning shouldBe true
      StateStore.stop()
      // the remedy: synchronous unload; providers reload lazily on next use,
      // so later suites in this JVM are unaffected
      StateStore.isMaintenanceRunning shouldBe false
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}

object StreamsSpec {
  case class Doc(ts: java.sql.Timestamp, doc_id: Long, text: String)
  case class VecDoc(ts: java.sql.Timestamp, vec_id: Long, vec: Array[Float])
  case class BpRow(id: Long, n_passages: Long, n_kept: Long, clean_text: String)
}
