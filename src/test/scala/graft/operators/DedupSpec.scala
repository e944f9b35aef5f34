package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("incrementalNgramPairs: exactly the full self-join's new-touching pairs") {
    import graft.functions.{DedupExpr, TextAnalytics}
    // dups across the new/old boundary AND a dup pair entirely in the
    // old corpus (1,7): the latter must appear in the full join but
    // never in the incremental output
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six"),
      (4L, "one two three four five six"),
      (5L, "totally different text goes here now"),
      (6L, "one two three four five seven"),
      (7L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val shingled = d.select(col("doc_id").as("id"),
      DedupExpr.shingleHashes(TextAnalytics.tokens(col("text")), 3).as("sh"))
    val full = Dedup.ngramJaccardPairsPre(shingled, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val inc = Dedup.incrementalNgramPairs(shingled, col("id") % 2 === 0, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    full.exists(t => t._1 == 1L && t._2 == 7L) shouldBe true // old-old dup exists
    val expected = full.filter(t => t._1 % 2 == 0 || t._2 % 2 == 0)
    expected should not be empty
    inc shouldBe expected
  }

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),      // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "the quick brown fox jumps over the lazy cat today") // near dup of 1
  ).toDF("doc_id", "text")

  test("exactByKey keeps min id and counts copies") {
    val got = Dedup.exactByKey(docs, col("text"), col("doc_id"))
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toMap
    got(1L) shouldBe 2L  // docs 1+2 collapse
    got(3L) shouldBe 1L
    got.keySet shouldBe Set(1L, 3L, 4L, 5L)
  }

  test("exact dropDuplicates dedups on column subset") {
    Dedup.exact(docs, Seq("text")).count() shouldBe 4
  }

  test("shingles: distinct word k-grams, order-free set") {
    val sh = Seq("a b c d").toDF("text")
      .select(Dedup.shingles(col("text"), 2).as("sh"))
      .as[Seq[String]].head()
    sh.toSet shouldBe Set("a b", "b c", "c d")
  }

  test("shingles of short doc (fewer tokens than k) fall back to whole doc") {
    val sh = Seq("a b").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head()
    sh.toSet shouldBe Set("a b")
  }

  test("minhash signature: identical texts → identical signatures, length numHashes") {
    val sigs = docs.where(col("doc_id").isin(1L, 2L, 4L))
      .select(col("doc_id"), Dedup.minhashSignature(
        Dedup.shingles(col("text"), 3), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    sigs(1L) shouldBe sigs(2L)
    sigs(1L).length shouldBe 16
    sigs(1L) should not be sigs(4L)
  }

  test("estJaccard: equal signatures → 1.0, disjoint → low") {
    val df = docs.select(col("doc_id"),
        Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 32).as("sig"))
    val pairs = df.as("a").join(df.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.estJaccard(col("a.sig"), col("b.sig")).as("j"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    pairs((1L, 2L)) shouldBe 1.0
    pairs((1L, 4L)) should be < 0.3
    pairs((1L, 3L)) should be > pairs((1L, 4L)) // near-dup scores higher
  }

  test("minhashPairs finds exact + near duplicates, not unrelated docs") {
    val got = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    got should contain((1L, 2L))
    all(got.toSeq.map(p => p._1 < p._2)) shouldBe true
    got.flatMap(p => Set(p._1, p._2)) should not contain 4L
  }

  test("simhash: identical text same hash; hamming to near-dup small") {
    val sh = Dedup.simhashed(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    sh(1L) shouldBe sh(2L)
    java.lang.Long.bitCount(sh(1L) ^ sh(3L)) should be < 16
    java.lang.Long.bitCount(sh(1L) ^ sh(4L)) should be > 10
  }

  test("simhashPairs: exact dups at distance 0; verified by full hamming") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val m = got.map { case (a, b, h) => (a, b) -> h }.toMap
    m((1L, 2L)) shouldBe 0
    m.keySet should not contain ((1L, 4L))
  }

  test("clusters: connected components, identical on driver and distributed paths") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (10L, 8L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, // chain 1-2-3
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L, 10L -> 8L) // pair + cycle
    val viaDriver = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val viaDistributed = Dedup.clusters(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    viaDriver shouldBe expected
    viaDistributed shouldBe expected
  }

  test("clusters: reliable checkpoint path yields identical components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    // force the iterative distributed path so the checkpoint() calls
    // actually run (the driver fast path would skip them)
    val got = Dedup.clusters(pairs, driverEdgeLimit = 0L, reliable = true)
      .as[(Long, Long)].collect().toMap
    got shouldBe expected
    spark.sparkContext.getCheckpointDir should not be empty
  }

  test("clusters: string ids take the distributed path (driver fast path is integral-only)") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("id_a", "id_b")
    // well under driverEdgeLimit — would hit the union-find cast crash
    // before the integral-id guard existed
    val got = Dedup.clusters(pairs).as[(String, String)].collect().toMap
    got shouldBe Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x")
  }

  test("keepers: min-id per component keeps itself, others dropped; singletons keep") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.keepers(docs, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    got(1L) shouldBe ((1L, true))
    got(2L) shouldBe ((1L, false))
    got(3L) shouldBe ((1L, false))
    got(4L) shouldBe ((4L, true)) // no pair → keeps itself
  }

  test("MinHashUnionAgg: group sketch equals signature of concatenated text") {
    import graft.functions.{DedupExpr, TextAnalytics}
    // two docs in one group; union sketch must equal elementwise min
    val grouped = docs.where(col("doc_id").isin(1L, 4L))
      .withColumn("sig", DedupExpr.minhashSig(TextAnalytics.tokens(col("text")), 3, 16))
    val unionSig = grouped.agg(Dedup.minhashUnion(col("sig")).as("u"))
      .as[Seq[Long]].head()
    val sigs = grouped.select(col("sig")).as[Seq[Long]].collect()
    val expected = sigs(0).zip(sigs(1)).map { case (a, b) => math.min(a, b) }
    unionSig shouldBe expected
  }

  test("MinHashUnionAgg: mixed signature lengths fail loudly in either arrival order") {
    val agg = new Dedup.MinHashUnionAgg
    // shorter-into-longer: the unchecked loop would throw a bare
    // IndexOutOfBounds; longer-into-shorter would silently truncate
    val b3 = agg.reduce(agg.zero, Seq(3L, 2L, 1L))
    intercept[IllegalArgumentException](agg.reduce(b3, Seq(1L, 2L)))
      .getMessage should include("numHashes")
    val b2 = agg.reduce(agg.zero, Seq(5L, 6L))
    intercept[IllegalArgumentException](agg.reduce(b2, Seq(1L, 2L, 3L)))
      .getMessage should include("numHashes")
    intercept[IllegalArgumentException](agg.merge(Array(1L, 2L), Array(1L, 2L, 3L)))
      .getMessage should include("numHashes")
  }

  test("clusters (driver path): a NULL id fails loudly instead of a cryptic encoder error") {
    val pairs = Seq((Option(1L), Option(2L)), (Option(2L), Option(3L)),
      (None: Option[Long], Option(4L))).toDF("id_a", "id_b")
    intercept[IllegalArgumentException](Dedup.clusters(pairs))
      .getMessage should include("NULL id")
  }

  test("native simhash kernel is value-identical to the composed HOF pipeline") {
    import graft.functions.{DedupExpr, TextAnalytics}
    val both = docs.select(
        Dedup.simhash64(col("text")).as("composed"),
        DedupExpr.simhash(TextAnalytics.tokens(col("text"))).as("kernel"))
      .as[(Long, Long)].collect()
    both.foreach { case (c, k) => k shouldBe c }
  }

  test("minhash kernel signature: deterministic, monotone under containment") {
    import graft.functions.{DedupExpr, TextAnalytics}
    val sigs = docs.select(col("doc_id"),
        DedupExpr.minhashSig(TextAnalytics.tokens(col("text")), 3, 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    sigs(1L) shouldBe sigs(2L)       // identical docs
    sigs(1L).length shouldBe 32
    sigs(1L) should not be sigs(4L)  // unrelated docs
  }

  test("ngramJaccardPairs computes exact jaccard on shingle sets") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 2, threshold = 0.4)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val m = got.map { case (a, b, j) => (a, b) -> j }.toMap
    m((1L, 2L)) shouldBe 1.0
    // 1 vs 3: tokens differ in one word; 2-shingles: 8 per doc, 6 shared → 6/10
    m((1L, 3L)) shouldBe 0.6 +- 1e-9
    m.keySet should not contain ((1L, 4L))
  }

  test("prefixFilterPairs reproduces the brute-force exact join (completeness)") {
    // mixed corpus: exact dup, one-word edit, unrelated docs — the
    // prefix-filtered join must equal ngramJaccardPairs exactly at the
    // same (k, threshold), for several thresholds
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox leaps over the lazy dog tonight"),
      (4L, "completely different content with no overlap whatsoever here"),
      (5L, "the quick brown fox jumps over the lazy cat tonight"),
      (6L, "short doc"),
      (7L, "short doc")).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      val brute = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", k = 3, threshold = t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val fast = Dedup.prefixFilterPairs(corpus, "doc_id", "text", k = 3, threshold = t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      fast shouldBe brute
      brute.map(p => (p._1, p._2)) should contain((1L, 2L)) // sanity: dup pair found
    }
  }

  test("prefixFilterPairs candidate volume is pruned vs the all-shingle join") {
    // docs share a very common shingle ("the quick brown") but are not
    // near-dups — the frequency-ascending prefix must skip the hot key
    val corpus = (1L to 20L).map(i =>
      (i, s"the quick brown unique$i tail$i words$i more$i body$i end$i")).toDF("doc_id", "text")
    // no pair clears 0.8 — and the join must agree with brute force (empty)
    Dedup.prefixFilterPairs(corpus, "doc_id", "text", k = 3, threshold = 0.8)
      .count() shouldBe 0L
  }

  test("ngramContainmentPairs: wholesale quote scores near-1 containment where jaccard dilutes") {
    val quote = "alpha beta gamma delta epsilon zeta"
    val long = s"intro words here $quote and then much more trailing content follows"
    val cd = Seq((1L, quote), (2L, long), (3L, "unrelated text entirely")).toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(cd, "doc_id", "text", k = 3, threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect()
    got.length shouldBe 1
    val (a, b, cab, cba) = got.head
    (a, b) shouldBe ((1L, 2L))
    cab shouldBe 1.0 // every 3-shingle of the quote appears in the long doc
    cba should be < 0.5 // the long doc is NOT contained in the quote
    // symmetric jaccard on the same pair stays below the 0.9 bar — the
    // asymmetry is exactly what this operator adds
    Dedup.ngramJaccardPairs(cd, "doc_id", "text", k = 3, threshold = 0.9)
      .count() shouldBe 0L
  }

  test("passageDedup keeps first occurrence per passage, reassembles in order, drops fully-dup docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"), // passages: "a b", "c d"
      (2L, "a b x y"), // "a b" seen in doc 1 → keeps only "x y"
      (3L, "a b"),     // fully duplicate → document vanishes
      (4L, "c d e")    // "c d" dup; trailing short passage "e" survives
    ).toDF("doc_id", "text")
    val got = Dedup.passageDedup(docs, "doc_id", "text", passageWords = 2)
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    got shouldBe Seq((1L, "a b c d", 2L), (2L, "x y", 1L), (4L, "e", 1L))
  }

  test("passageDedup: empty text forms one empty passage; first empty doc keeps it") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, ""), (3L, "w")).toDF("doc_id", "text")
    val got = Dedup.passageDedup(docs, "doc_id", "text", passageWords = 2)
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    got shouldBe Seq((1L, "", 1L), (3L, "w", 1L))
  }

  test("sortedNeighborPairs finds prefix-similar near-dups within the window") {
    import spark.implicits._
    // 1 and 2 share the key prefix and most shingles → adjacent in key
    // order and verified; 3 shares the prefix but no shingles (low
    // jaccard, dropped); 4 sorts far away
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "alpha omega psi chi phi"),
      (4L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborPairs(docs, "doc_id", "text",
        window = 1, k = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    got shouldBe Set((1L, 2L))
    // widening the window past the corpus still yields only verified pairs
    val wide = Dedup.sortedNeighborPairs(docs, "doc_id", "text",
        window = 10, k = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    wide shouldBe Set((1L, 2L))
  }

  test("sortedNeighborPairs plan: candidates come from an equi-join, no nested loop") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val plan = Dedup.sortedNeighborPairs(docs, "doc_id", "text", window = 3)
      .queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("star clustering: chain graph converges in O(log n) rounds, labels = union-find") {
    import spark.implicits._
    // a 512-node chain is the adversarial shape for min-label
    // propagation (O(n) rounds to drag 0 to the far end); large-star/
    // small-star must finish it in ~log2(n) rounds
    val n = 512
    val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("src", "dst")
    val (labels, rounds) = Dedup.clustersStarWithRounds(chain,
      maxIters = 20, reliable = false)
    rounds should be <= 10 // ~log2(512) + slack; hash-min would need ~512
    val got = labels.as[(Long, Long)].collect().toMap
    got shouldBe (0 until n).map(_.toLong -> 0L).toMap
  }

  test("star clustering: persisted blocks stay constant however many rounds run") {
    import spark.implicits._
    val sc = spark.sparkContext
    // every stride releases the cuts its action made dead, so a clusters
    // call leaves two cuts persisted (the input pairs and the fixpoint
    // edges, both read by the returned labels) whatever the round count
    def run(n: Int): (Int, Int) = {
      val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
      val (_, rounds) = Dedup.clustersStarWithRounds(
        chain.select(col("id_a").as("src"), col("id_b").as("dst")),
        maxIters = 20, reliable = false)
      val before = sc.emptyRDD[Int].id
      val labels = Dedup.clusters(chain, driverEdgeLimit = 0L)
      val got = labels.as[(Long, Long)].collect().toMap
      val held = sc.getPersistentRDDs.keys.count(_ > before)
      got shouldBe (0 until n).map(_.toLong -> 0L).toMap
      labels.count() shouldBe n // labels (and so its cuts) stay live up to the count
      (rounds, held)
    }
    val (shortRounds, shortHeld) = run(8)
    val (longRounds, longHeld) = run(512)
    shortRounds should be >= 4
    longRounds should be > shortRounds
    shortHeld shouldBe 2
    longHeld shouldBe 2
  }

  test("star clustering equals driver union-find on a random multi-component graph") {
    import spark.implicits._
    // deterministic pseudo-random edges over 300 nodes: multiple
    // components, cycles, duplicate and reversed edges
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(220)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    val viaDriver = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val viaStar = Dedup.clusters(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    viaStar shouldBe viaDriver
  }

  test("star clustering: bag rounds emit exactly one label row per node (r16 no-distinct rounds)") {
    import spark.implicits._
    // heavy duplicate/reversed multiplicity + a chain deep enough that
    // convergence lands mid-stride: the no-distinct rounds must still
    // hand the label join a duplicate-free fixpoint edge set — one
    // OUTPUT ROW per node, which the toMap in the equality tests above
    // would silently forgive
    val edges = ((0 until 12).map(i => (i.toLong, i.toLong + 1)) ++
      (0 until 12).map(i => (i.toLong + 1, i.toLong)) ++ // reversed dups
      Seq.fill(5)(Seq((3L, 4L), (20L, 21L), (21L, 20L))).flatten)
      .toDF("id_a", "id_b")
    val (labels, _) = Dedup.clustersStarWithRounds(
      edges.select(col("id_a").as("src"), col("id_b").as("dst")),
      maxIters = 20, reliable = false)
    val rows = labels.as[(Long, Long)].collect()
    rows.length shouldBe rows.map(_._1).distinct.length // no dup label rows
    rows.toMap shouldBe ((0 to 12).map(_.toLong -> 0L) ++
      Seq(20L -> 20L, 21L -> 20L)).toMap
  }

  test("star clustering: self-loop-only nodes label themselves") {
    import spark.implicits._
    val pairs = Seq((1L, 1L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 2L, 3L -> 2L)
  }

  test("fuzzyPairs: blocks by sorted neighborhood (both orientations), verifies edit distance") {
    import spark.implicits._
    val names = Seq(
      "almond antique blue", // a: within 2 edits of b
      "almond antique blu",  // b
      "zzz antique blue",    // c: shares SUFFIX with a (reverse pass)
      "completely unrelated string").toDF("name")
    val got = Dedup.fuzzyPairs(names, "name", window = 2, maxDist = 4)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    got should contain(("almond antique blu", "almond antique blue"))
    got.map(p => Set(p._1, p._2)) should not contain
      Set("almond antique blue", "completely unrelated string")
    // the pair dedup holds: no (a,b) appears twice even though both
    // passes generate it
    val all = Dedup.fuzzyPairs(names, "name", window = 2, maxDist = 4)
      .select("name_a", "name_b").as[(String, String)].collect()
    all.length shouldBe all.toSet.size
  }

  test("fuzzyPairs reverse pass catches suffix-similar names the forward pass misses") {
    import spark.implicits._
    // names share a long suffix but differ in the first character, so
    // they sort far apart forward ("a..." vs "z...") with blockers
    // between; only reverse order makes them adjacent
    val names = (Seq("a same long suffix", "z same long suffix") ++
      (1 to 20).map(i => f"b$i%02d$i%02d$i%02d filler value")).toDF("name")
    val got = Dedup.fuzzyPairs(names, "name", window = 1, maxDist = 1)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    got shouldBe Set(("a same long suffix", "z same long suffix"))
  }

  test("hammingPairs reproduces the brute-force join at every k (pigeonhole completeness)") {
    import spark.implicits._
    // deterministic 64-bit keys: a splitmix-style scramble plus planted
    // near keys (flip 1..k low/high bits of key i for some i)
    def scramble(i: Long): Long = {
      var z = i * -7046029254386353131L
      z = (z ^ (z >>> 30)) * -4658895280553007687L
      (z ^ (z >>> 27)) * -7723592293110705685L
    }
    val base = (0L until 40L).map(i => i -> scramble(i))
    val planted = Seq(
      100L -> (scramble(3) ^ 1L),           // hamming 1 to key 3
      101L -> (scramble(7) ^ (3L << 62)),   // hamming 2 (top bits) to key 7
      102L -> (scramble(11) ^ 0x8421L))     // hamming 4 to key 11
    val df = (base ++ planted).toDF("id", "h")
    val all = (base ++ planted)
    for (k <- Seq(1, 3, 6)) {
      val brute = (for {
        (ia, ha) <- all; (ib, hb) <- all
        if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= k
      } yield (ia, ib)).toSet
      val got = Dedup.hammingPairs(df, "id", "h", maxHamming = k)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      got shouldBe brute // candidates are pigeonhole-complete, verify exact
      // nRef = 1 forces the scaled chunk-combination geometry (m > k+1,
      // keys = (m−k)-chunk combinations): completeness is pigeonhole at
      // ANY m, so the output must be IDENTICAL to the base plan's
      val scaled = Dedup.hammingPairs(df, "id", "h", maxHamming = k, nRef = 1L)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      scaled shouldBe brute
    }
  }

  test("hammingChunkCount: identity at test scale, log-growing keys above") {
    // at or below nRef the base m = k+1 geometry is returned — what
    // keeps the pinned q_image_neardup/q_simhash_pairs candidate sets
    // byte-identical at the driver SFs (500 assets < 4096)
    Dedup.hammingChunkCount(500L, 6) shouldBe 7
    Dedup.hammingChunkCount(4096L, 6) shouldBe 7
    // the bench corpus (5000 assets at sf0.1) sits ABOVE nRef so the
    // measured sf0.1→sf1 curve never starts from the identity plateau
    Dedup.hammingChunkCount(5000L, 6) should be > 7
    // m grows like log n, never past the 16-chunk cap
    val ms = Seq(5000L, 50000L, 5000000L, 500000000L)
      .map(Dedup.hammingChunkCount(_, 6))
    ms shouldBe ms.sorted
    ms.last should be <= 16
    // the solve holds expected candidate mass/row at or under the base
    // geometry's mass/row at nRef — candidate mass stays LINEAR in n
    def choose(m: Int, k: Int): Double =
      (1 to k).foldLeft(1.0)((a, i) => a * (m - k + i) / i)
    def massPerRow(n: Long, m: Int, k: Int): Double =
      choose(m, k) * n.toDouble / math.pow(2.0, 64.0 * (m - k) / m)
    val target = massPerRow(4096L, 7, 6)
    Seq(5000L, 50000L, 5000000L).foreach { n =>
      val m = Dedup.hammingChunkCount(n, 6)
      massPerRow(n, m, 6) should be <= target
    }
  }

  test("scaledBandGeometry: identity at test scale, mass-flat growth above") {
    // at or below nRef the base geometry is returned untouched — this is
    // what keeps every pinned rows-only hash valid at the driver SFs
    Dedup.scaledBandGeometry(2000L, 2, 16, nRef = 4096L) shouldBe ((2, 16))
    Dedup.scaledBandGeometry(1024L, 3, 16) shouldBe ((3, 16)) // default nRef
    // the default nRef sits UNDER the 2000-row sf0.1 bench corpus so the
    // measured curve never starts from the identity plateau (r9 advice)
    Dedup.scaledBandGeometry(2000L, 3, 16) should not be ((3, 16))
    Dedup.scaledBandGeometry(4096L, 3, 16, nRef = 4096L) shouldBe ((3, 16))
    // above nRef: e = ceil(log2 g) extra planes, bands = ceil(base·2^e/g)
    // — candidate mass/row n·bands/2^planes lands EXACTLY on the nRef
    // level (bands absorbs the ceil slack): n=10·nRef ⇒ e=4,
    // bands=ceil(16·16/10)=26
    Dedup.scaledBandGeometry(40960L, 2, 16, nRef = 4096L) shouldBe ((6, 26))
    val (p1, b1) = Dedup.scaledBandGeometry(100000L, 3, 16, nRef = 4096L)
    val (p2, b2) = Dedup.scaledBandGeometry(1000000L, 3, 16, nRef = 4096L)
    p2 should be > p1 // planes monotone in n
    // bands oscillate within [base, 2·base) — never below base (recall
    // floor), never the r8 bands ∝ n growth (signature-cost ceiling)
    Seq(b1, b2).foreach { b =>
      b should be >= 16
      b should be < 32
    }
    // the geometry holds candidate mass n²·bands/2^planes LINEAR in n
    // (constant per-row cost): mass/n must stay flat across a 10× step
    def massPerRow(n: Long, p: Int, b: Int): Double =
      n.toDouble * b / math.pow(2.0, p)
    val g1 = massPerRow(100000L, p1, b1)
    val g2 = massPerRow(1000000L, p2, b2)
    (g2 / g1) should (be > 0.8 and be < 1.25)
  }

  test("pooled banding: output stays an exact-verified subset with solid recall") {
    // a scaled geometry past the pooled cutoff must behave like the
    // private-plane kernel: every emitted pair exactly verified (subset
    // of brute force) and planted near-dups recovered. 200 base vectors
    // + 40 planted high-cosine perturbations, geometry (5, 32) → 160
    // plane slots > PooledBandCutoff → the pooled kernel runs.
    val rnd = new scala.util.Random(7)
    val d = 16
    val base = (0 until 200).map(i => (i.toLong, Array.fill(d)(rnd.nextGaussian())))
    val planted = (0 until 40).map { k =>
      val (srcId, v) = base(k * 5)
      (1000L + srcId, v.map(_ + rnd.nextGaussian() * 0.05))
    }
    val df = (base ++ planted).toDF("id", "v")
    (5 * 32) should be > Dedup.PooledBandCutoff
    val got = Dedup.embeddingNearDupPairs(df, "id", "v", threshold = 0.9,
        planesPerBand = 5, bands = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val all = (base ++ planted).map { case (i, v) => (i, v.map(x => x)) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exact = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.9
    } yield (ia, ib)).toSet
    got.subsetOf(exact) shouldBe true // cosine-verified: never a false pair
    val plantedPairs = exact.filter { case (a, b) => b == a + 1000L }
    plantedPairs.size should be >= 35 // the perturbation keeps cos ≥ 0.9
    // recall on the planted pairs: (5,32) at c=0.9 predicts ~1.0
    (got.intersect(plantedPairs).size.toDouble / plantedPairs.size) should be >= 0.9
  }

  test("scaledBandGeometry holds MEASURED candidate mass linear across a 2× corpus") {
    // executable witness for the linear-mass claim, independent of the
    // bench: run the real banding kernel over hash-random unit vectors
    // at two sizes ABOVE nRef (powers of two keep the ceil exact:
    // 2^planes/bands scales by exactly n/nRef) and count the candidate
    // pairs every bucket would emit — Σ_bucket C(|bucket|, 2). A fixed
    // geometry doubles mass-per-row when n doubles; the scaled geometry
    // must keep it flat within noise.
    // d must comfortably exceed the largest plane count the geometry
    // will request (7 at n=16384): nearly-dependent hyperplanes in a
    // low-dim space stop halving bucket sizes and the mass model drifts
    val rnd = new scala.util.Random(42)
    val d = 32
    def massAt(n: Int): Double = {
      val vecs = (0 until n)
        .map(i => (i.toLong, Array.fill(d)(rnd.nextGaussian())))
        .toDF("id", "v")
      val (planes, bands) = Dedup.scaledBandGeometry(n.toLong, 3, 16, nRef = 4096L)
      // same kernel selection as embeddingNearDupPairs: geometries past
      // the pooled cutoff assemble bands from the fixed projection pool
      val keys =
        if (planes * bands <= Dedup.PooledBandCutoff)
          graft.functions.VectorExpr.signLshBands(col("v"), planes, bands)
        else graft.functions.VectorExpr.signLshBandsPooled(col("v"), planes, bands, 256)
      vecs.select(explode(keys).as("bk"))
        .groupBy(col("bk")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1) / 2).cast("double"))
        .head().getDouble(0)
    }
    val m1 = massAt(8192)
    val m2 = massAt(16384)
    // linear model: mass(n) ≈ n·nRef·factor ⇒ m2/m1 ≈ 2; a quadratic
    // (fixed-geometry) curve would sit at 4. Land clearly on linear.
    val ratio = m2 / m1
    ratio should (be > 1.3 and be < 3.0)
    // and mass-per-row flat within 2× — the per-row cost a 1000-executor
    // cluster pays must not grow with the corpus
    (m2 / 16384) / (m1 / 8192) should (be > 0.5 and be < 2.0)
  }
}
