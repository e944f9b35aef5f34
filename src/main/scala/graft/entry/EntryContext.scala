package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{Layout, Tables}
import graft.operators.{AsOfJoin, Baskets, Bpe, Cdc, Classifier, CorpusStats, CountMin, Curation, Dedup, Funnel, Geo, Graphs, HeavyHitters, Intervals, Ivf, Lineage, Packing, Pq, PrefixMatch, Profiling, Retrieval, Sampling, Similarity, Skew, Stats, TemplateFilters, Timeseries}
import graft.functions.{DedupExpr, TextAnalytics}

/** Shared state of the declared query surface: the longest-prefix type
  * map, language profiles, process-lifetime fixtures (TSV/NDJSON dumps,
  * Z-ordered and bucketed layouts, PNG/WAV corpora, shared
  * shingle/pair/embedding parquet) and the flagship query. Every
  * per-family `*Queries` object imports this; SparkEntry merges their
  * declarations into the driver-facing registry.
  *
  * A fixture is built once per (fixture name, fixture dir) and read many
  * times, the way the reference materializes plain files between its
  * steps (geonames.js:224/230). One memo, [[fixture]], holds every one of
  * them; [[fixturePath]] is its form for a file written under a fresh
  * temp dir, and [[fixtureRoots]] is the only cleanup.
  */
private[graft] object EntryContext {

  /** Longest-prefix type map used by the flagship + prefix queries —
    * mirrors the reference's config.types lookup (geonames.js:129–132)
    * over `p_type`: PROMO exact, ECONOMY/MEDIUM via 3-char prefix,
    * SMALL/STANDARD via 1-char prefix, LARGE unmatched ⇒ dropped.
    */
  private[graft] val typeMap = Map(
    "PROMO" -> "promo", "ECO" -> "economy", "MED" -> "medium", "S" -> "small")

  /** Marker-trigram language profiles for q_lang_id (deterministic n-gram
    * heuristic; accuracy is not the point — the declared op is the scored
    * argmax pipeline, SURVEY.md §2.10).
    */
  private[graft] val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " to "),
    "de" -> Seq(" der ", " und ", " die ", " ist "))

  private[graft] val typeCaseSql =
    """CASE WHEN p_type LIKE 'PROMO%' THEN 'promo'
      |     WHEN p_type LIKE 'ECO%'   THEN 'economy'
      |     WHEN p_type LIKE 'MED%'   THEN 'medium'
      |     WHEN p_type LIKE 'S%'     THEN 'small' END""".stripMargin


  /** Fixture temp-dir registry: `File.deleteOnExit` cannot remove a
    * non-empty directory, so fixture roots register here and one
    * shutdown hook removes them recursively (best-effort — the JVM is
    * exiting either way).
    */
  private[graft] val fixtureRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(): Unit
    }
    fixtureRoots.forEach(rm(_))
  }))
  private def fixtureDir(prefix: String): java.io.File = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    fixtureRoots.add(tmp)
    tmp
  }

  /** One memo entry. The map only ever inserts an unforced cell, and the
    * build runs when the cell is forced, outside the map's lock: a build
    * may read another fixture (ngramPairs reads docShingles), and a
    * `computeIfAbsent` nested in another on the same map is refused
    * ("Recursive update"). The lazy val runs the build once however many
    * threads force it together, and a build that throws leaves it unset.
    * A built cell drops its build, so it keeps no caller's session alive.
    */
  private final class Cell[A](private[this] var build: () => A) {
    lazy val value: A = { val v = build(); build = null; v }
  }
  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Cell[_]]()

  /** The process-lifetime fixture `name` of the corpus at `dir`: `build`
    * runs on the first call, every later call returns its value. A build
    * that throws (the MaxExactPairRows and MaxAssetFixtureDocs guards)
    * memoizes nothing, so the next call builds again.
    */
  private[graft] def fixture[A](name: String, dir: String)(build: => A): A = {
    val key = (name, dir)
    val cell = fixtures.computeIfAbsent(key, _ => new Cell(() => build))
      .asInstanceOf[Cell[A]]
    try cell.value
    catch { case e: Throwable => fixtures.remove(key, cell); throw e }
  }

  /** A fixture written to `<fresh prefix temp dir>/leaf` by `write`;
    * returns that path.
    */
  private[graft] def fixturePath(prefix: String, leaf: String, dir: String)(
      write: String => Unit): String =
    fixture(s"$prefix/$leaf", dir) {
      val path = s"${fixtureDir(prefix).getAbsolutePath}/$leaf"
      write(path)
      path
    }

  /** Process-lifetime TSV fixture for q_scan_tsv: nation written as
    * unquoted TSV once per sfDir; the query itself is scan-only.
    */
  private[graft] def nationTsvFixture(s: SparkSession, dir: String): String =
    fixturePath("graft-tsv", "nation", dir) { path =>
      Tables.nation(s, dir).write.mode("overwrite").option("sep", "\t").csv(path)
    }

  private[graft] def nationJsonFixture(s: SparkSession, dir: String): String =
    fixturePath("graft-json", "nation", dir) { path =>
      Tables.nation(s, dir).write.mode("overwrite").json(path)
    }

  /** Process-lifetime Z-ordered parquet fixture for q_zorder_scan:
    * lineitem's (l_partkey, l_suppkey) plane laid out along the Morton
    * curve so 2-d box predicates prune at row-group granularity (the
    * pruning factor is metric-asserted in LayoutSpec; the declared query
    * is logically a plain filtered aggregate, so the raw-parquet oracle
    * hash-matches).
    */
  private[graft] def zorderFixture(s: SparkSession, dir: String): String =
    fixturePath("graft-zorder", "lineitem_z", dir) { path =>
      Layout.writeZordered(
        Tables.lineitem(s, dir).select("l_partkey", "l_suppkey",
          "l_returnflag", "l_quantity"),
        "l_partkey", "l_suppkey", path, numFiles = 16)
    }

  /** Process-lifetime hive-partitioned parquet fixture for q_dpp_prune:
    * orders laid out as one directory per o_orderpriority. The fact
    * side's only priority predicate arrives THROUGH the dimension join,
    * so static partition pruning is impossible — the scan must prune at
    * runtime via dynamic partition pruning (plan-asserted in PlanSpec).
    */
  private[graft] def partitionedOrdersFixture(s: SparkSession, dir: String): String =
    fixturePath("graft-part", "orders_p", dir) { path =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    }

  /** Process-lifetime trigram posting index for q_substring_search: the
    * (gram, doc_id) table is built once per corpus (the 100 TB pattern —
    * index amortizes across queries), written gram-sorted so per-query
    * needle-gram IN-filters prune parquet row groups.
    */
  private[graft] def trigramIndexFixture(s: SparkSession, dir: String): String =
    fixturePath("graft-trigram", "postings", dir) { path =>
      Retrieval.trigramPostings(Tables.documents(s, dir), "doc_id", "text")
        .repartition(8, col("g")).sortWithinPartitions("g", "doc_id")
        .write.mode("overwrite").parquet(path)
    }

  /** Process-lifetime exact-k-NN edge fixture for q_pagerank: the graph
    * build is q_knn_graph's own (hash-verified) all-pairs anchor, and a
    * graph is built once then analyzed many times — so the edges
    * materialize once per sfDir and the declared query measures the
    * PageRank iterations, not a repeated O(n²) rebuild (the
    * q_scan_tsv/zorder fixture discipline).
    */
  private[graft] def knnEdgesFixture(s: SparkSession, dir: String): String =
    fixturePath("graft-knn", "knn_edges", dir) { path =>
      Retrieval.knnGraph(Tables.embeddings(s, dir), "vec_id", "embedding", k = 3)
        .select(col("src"), col("dst")).write.mode("overwrite").parquet(path)
    }

  /** Largest documents table the PNG/WAV asset fixtures will synthesize:
    * per-doc asset generation is driver-side by design (a bench fixture,
    * not an operator), so the collect is require()-capped — an oversized
    * fixture dir fails loudly naming this knob instead of OOMing.
    */
  private[graft] val MaxAssetFixtureDocs = 200000L
  private[graft] def boundedDocIds(s: SparkSession, dir: String, what: String): Array[Long] = {
    val ids = Tables.documents(s, dir).select(col("doc_id"))
    val n = ids.count()
    require(n <= MaxAssetFixtureDocs,
      s"$what asset fixture: $n documents exceeds MaxAssetFixtureDocs=" +
        s"$MaxAssetFixtureDocs — point the fixture at a smaller corpus " +
        "or raise the knob")
    ids.collect().map(_.getLong(0))
  }

  /** An asset table with one driver-encoded asset per document, written
    * to `<prefix temp dir>/assets`.
    */
  private def assetFixture(s: SparkSession, dir: String, prefix: String, what: String,
      mediaType: String, format: String)(encode: Long => Array[Byte]): String =
    fixturePath(prefix, "assets", dir) { path =>
      import s.implicits._
      boundedDocIds(s, dir, what).toSeq.map(id => (id, mediaType, encode(id), format, 0L))
        .toDF("asset_id", "media_type", "content", "format", "duration_ms")
        // a LocalRelation writes from ONE task → one file → every decode
        // downstream runs single-threaded; spread the corpus so codec
        // stages parallelize like a real multi-file asset table
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
    }

  /** `img` encoded as PNG by the JRE's ImageIO (in-memory stream cache). */
  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    graft.multimodal.Multimodal.ensureImageIoInit()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Process-lifetime REAL-PNG asset fixture for q_image_decode: one
    * actual PNG per document, encoded with the JRE's ImageIO — width =
    * doc_id%64+1, height = doc_id%48+1, constant gray fill doc_id%256 —
    * so the decoded dimensions and pixel statistics are arithmetically
    * known and the oracle recomputes them without a codec. Generation is
    * driver-side but bounded (one tiny image per document; the fixture
    * discipline of the TSV/zorder/knn fixtures).
    */
  private[graft] def pngAssetsFixture(s: SparkSession, dir: String): String =
    assetFixture(s, dir, "graft-png", "PNG", "image", "image/png") { id =>
      val (w, h, g) = ((id % 64 + 1).toInt, (id % 48 + 1).toInt, (id % 256).toInt)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      var y = 0
      while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
      pngBytes(img)
    }

  /** Gradient-PNG fixture for the perceptual-hash queries: per-pixel
    * PSEUDO-RANDOM gray from an integer hash of (seed, x, y) — unlike
    * the constant-fill [[pngAssetsFixture]] (whose dHash is
    * degenerate), every image carries a distinct texture, so unrelated
    * images sit ~32 Hamming bits apart while PLANTED near-dups (each
    * doc_id ≡ 1 (mod 10) re-renders its predecessor's texture with a
    * small corner patch flipped) land within a few bits. All integer
    * arithmetic — the corpus is bit-reproducible.
    */
  private[graft] def gradPngAssetsFixture(s: SparkSession, dir: String): String =
    assetFixture(s, dir, "graft-gradpng", "gradient PNG", "image", "image/png")(gradPngBytes)

  /** The gradient-PNG render of one document id — the single source of
    * truth shared by the driver fixture above and the DISTRIBUTED
    * builder below, so their pixel bytes (and therefore dHash values)
    * are bit-identical by construction. All integer arithmetic.
    */
  private[graft] def gradPngBytes(id: Long): Array[Byte] = {
    val seed = if (id % 10 == 1) id - 1 else id
    val (w, h) = ((seed % 32 + 16).toInt, (seed % 24 + 12).toInt)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var g = ((((seed ^ (x * 73856093L) ^ (y * 19349663L)) *
          2654435761L) >>> 24) & 0xFF).toInt
        // the near-dup perturbation: a 3x3 corner patch inverted
        if (id % 10 == 1 && x < 3 && y < 3) g = g ^ 0xFF
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    pngBytes(img)
  }

  /** Distributed gradient-PNG corpus — the scale sibling of
    * [[gradPngAssetsFixture]] for DIAGNOSTICS past MaxAssetFixtureDocs:
    * each task renders its partition's documents through the shared
    * [[gradPngBytes]], so no row cap and no driver collect exist, and
    * dHash values are bit-identical to the fixture's wherever both can
    * run (asserted in MultimodalSpec). The declared queries keep the
    * parquet fixture (a realistic multi-file asset TABLE is what
    * q_image_decode/q_image_neardup read); this builder exists so the
    * real-dHash candidate-mass curve can be measured at decades the
    * driver-side fixture cannot reach (ScaleDiag).
    */
  private[graft] def gradPngAssetsDistributed(
      s: SparkSession, dir: String): org.apache.spark.sql.Dataset[
        graft.multimodal.Multimodal.Asset] = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .map(id => graft.multimodal.Multimodal.Asset(
        id, "image", gradPngBytes(id), "image/png", 0L))
  }

  /** Process-lifetime REAL-WAV asset fixture for q_audio_decode: one
    * actual 16-bit PCM mono WAV per document, encoded with the JRE's
    * `javax.sound.sampled` — 8 kHz, doc_id%800+1 frames, every sample
    * the constant doc_id%20000-10000 — so decoded frame counts and RMS
    * amplitudes are arithmetically known (RMS of a constant signal v is
    * exactly |v|/32768: v² is integer-exact and IEEE sqrt of a perfect
    * square is exact) and the oracle recomputes them without a codec.
    */
  private[graft] def wavAssetsFixture(s: SparkSession, dir: String): String = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    assetFixture(s, dir, "graft-wav", "WAV", "audio", "audio/wav") { id =>
      val nFrames = (id % 800 + 1).toInt
      val v = (id % 20000 - 10000).toInt
      val pcm = new Array[Byte](nFrames * 2)
      var i = 0
      while (i < nFrames) { // little-endian 16-bit signed
        pcm(2 * i) = (v & 0xFF).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** Process-lifetime bucketed-table fixture for q_bucket_join: orders
    * and customer saved bucketed by the join key with matching bucket
    * counts, so the join (and the downstream key-clustered aggregate)
    * plans with ZERO exchanges — the co-located layout a 100 TB corpus
    * would maintain for its hottest join key. Returns (orders, customer)
    * catalog table names. Both are external tables under fresh
    * per-process temp dirs: a managed table's warehouse location
    * outlives the in-memory catalog, so a second JVM would hit
    * LOCATION_ALREADY_EXISTS on saveAsTable.
    */
  private[graft] def bucketedTablesFixture(s: SparkSession, dir: String): (String, String) =
    fixture("graft-bucketed", dir) {
      val suffix = (dir.hashCode.toLong & 0xffffffffL).toString
      def table(df: DataFrame, name: String, key: String): String = {
        val t = s"graft_${name}_b$suffix"
        fixturePath("graft-bucketed", name, dir) { path =>
          Layout.writeBucketed(df, t, key, 8, sortCol = Some(key), location = Some(path))
        }
        t
      }
      (table(Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        "orders", "o_custkey"),
       table(Tables.customer(s, dir).select("c_custkey", "c_name", "c_mktsegment"),
        "customer", "c_custkey"))
    }

  /** Hard cap for the exact all-pairs oracle anchor below: the cartesian
    * exists to anchor the LSH/semantic scale twins at test scale, and a
    * 100× input must fail loudly (naming this knob) rather than melt a
    * cluster with an O(n²) join.
    */
  private[graft] val MaxExactPairRows = 100000L

  /** All-pairs embedding near-dup edges (shared by q_embedding_neardup /
    * q_dedup_clusters / q_dedup_keepers). The pushed-down filter uses the
    * UNROUNDED cosine with the exact HALF_UP boundary (round(x,6) ≥ 0.4
    * ⟺ x ≥ 0.3999995): predicate pushdown below the projection would
    * otherwise duplicate the kernel cosine for every pair; this way the
    * rounded value is only computed for surviving rows.
    */
  private[graft] def embeddingPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(fixturePath("graft-embpairs", "pairs", dir) { path =>
      val emb = Tables.embeddings(s, dir)
      val nEmb = emb.count()
      require(nEmb <= MaxExactPairRows,
        s"embeddingPairs is the exact all-pairs oracle anchor (O(n^2)): " +
          s"$nEmb rows > MaxExactPairRows=$MaxExactPairRows — use the " +
          "q_embedding_neardup_lsh / q_semantic_dedup scale paths")
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      // process-lifetime PARQUET fixture (not a lineage cut): four
      // declared queries (neardup / clusters / clusters_star / keepers)
      // consume this pair set and CC re-reads it every iteration — the
      // O(n²) join must run ONCE per fixture dir, not once per consumer
      // scan. A file (vs checkpointed blocks) keeps the 230-query bench
      // process free of accumulating storage memory, and is what a real
      // pipeline would do with a shared intermediate anyway.
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("_cos", Similarity.cosine(col("va"), col("vb")))
        .where(col("_cos") >= 0.3999995)
        .select(col("id_a"), col("id_b"), round(col("_cos"), 6).as("cos_sim"))
        .write.mode("overwrite").parquet(path)
    })

  /** Per-process cached embeddings row count: [[graft.operators.Dedup
    * .scaledBandGeometry]] needs n once per corpus, but counting inside
    * the declared query body re-scanned the table on EVERY invocation ×
    * rep — the r8 driver-bench overhead suspect. The count is a corpus
    * property, so one action per fixture dir is the honest cost.
    */
  private[graft] def embeddingCount(s: SparkSession, dir: String): Long =
    fixture("embeddings-count", dir)(Tables.embeddings(s, dir).count())

  /** Process-lifetime embeddings-table parquet fixture shared by the PQ
    * family (codebook training samples it, encode and probe each scan
    * it) — one materialization per fixture dir instead of one per query.
    */
  private[graft] def embeddingsCk(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(fixturePath("graft-embck", "embeddings", dir) { path =>
      Tables.embeddings(s, dir).write.mode("overwrite").parquet(path)
    })

  /** Process-lifetime shared document-shingle table (id, source, sh):
    * the tokenize→shingle→hash kernel runs ONCE per fixture dir and the
    * materialized array column feeds the whole n-gram family (Jaccard,
    * containment, PPJoin, decontamination, cross-source, clusters/keepers)
    * — each consumer explodes/filters it map-side instead of re-scanning
    * the full text corpus through the kernel.
    */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(fixturePath("graft-shingles", "shingles", dir) { path =>
      Tables.documents(s, dir).select(col("doc_id").as("id"), col("source"),
          DedupExpr.shingleHashes(TextAnalytics.tokens(col("text")), 3).as("sh"))
        .write.mode("overwrite").parquet(path)
    })

  /** Scale-safe near-dup pair source shared by the _ngram cluster/keeper
    * queries AND q_ngram_jaccard: exact n-gram Jaccard over the shared
    * shingle table (shuffles only 64-bit shingle hashes; no nested-loop
    * join). Materialized once per dir — three consumers, and the CC
    * iteration re-reads pairs per round. The build reads the shingle
    * fixture, itself memoized.
    */
  private[graft] def ngramPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(fixturePath("graft-ngrampairs", "pairs", dir) { path =>
      Dedup.ngramJaccardPairsPre(docShingles(s, dir), threshold = 0.8)
        .write.mode("overwrite").parquet(path)
    })

  /** Drop every engine lineage cut still registered with the context
    * ([[Lineage.releaseAll]]) — Bench calls this between queries. After
    * the parquet-fixture conversion above, no cross-query state lives in
    * a cut, so every `graft-cut:` RDD left is a dead per-query
    * intermediate whose blocks would otherwise accumulate across 230
    * queries × 2 reps until late queries pay eviction/GC pressure that
    * the same queries don't pay in isolation (the r6 driver-total
    * artifact). Spark's own ContextCleaner frees these only after a full
    * GC, which an 8 GiB heap may never run in a 4-minute bench. What a
    * caller persisted itself (`cache()`/`persist()`) is left alone.
    */
  def releaseDeadCheckpoints(s: SparkSession): Unit = Lineage.releaseAll(s)

  // ------------------------------------------------------------ queries

  /** The reference `transform` pipeline re-expressed over the test tables
    * (SURVEY.md §7 M2): scan → OR-of-equality-template filter →
    * left-semi whitelist → broadcast join → longest-prefix classification
    * (unmatched dropped) → aggregate → stable sort. Single shuffle (the
    * final groupBy); both joins broadcast.
    */
  private[graft] def qFlagship(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val urgent = Tables.orders(s, dir)
      .where(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val parts = Tables.part(s, dir)
      .withColumn("type_class", PrefixMatch.classify(col("p_type"), typeMap))
      .where(col("type_class").isNotNull)
      .select(col("p_partkey"), col("type_class"))
    li.where(TemplateFilters.anyTemplate(Seq(
        Map("l_returnflag" -> "R", "l_linestatus" -> "F"),
        Map("l_returnflag" -> "A"))))
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("type_class"), col("l_returnflag"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("type_class"), col("l_returnflag"))
  }

}
