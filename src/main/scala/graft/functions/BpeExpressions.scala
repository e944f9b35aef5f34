package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding kernels: train a merge table from a word-frequency
  * table (driver-side — BPE training is inherently iterative over a
  * BOUNDED vocabulary, the same bounded-driver-state argument as the PQ
  * codebooks), and apply it distributed via a codegen'd Expression.
  *
  * Semantics are the classic Sennrich et al. (2016) word-level BPE:
  * a word starts as its character sequence plus a `</w>` end marker;
  * training repeatedly merges the most frequent adjacent symbol pair
  * (ties broken lexicographically, so training is deterministic);
  * encoding greedily applies the learned merges in rank order until no
  * learned pair remains in the word.
  */
object BpeKernels {

  /** Train `numMerges` merges from (word → frequency). Deterministic:
    * best pair = max count, ties by (left, right) string order.
    */
  def trainMerges(wordFreq: Map[String, Long], numMerges: Int): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges $numMerges")
    var words: Map[Vector[String], Long] = wordFreq.toSeq
      .map { case (w, f) => (w.map(_.toString).toVector :+ "</w>", f) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val merges = Vector.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
          j += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val merged = best._1 + best._2
        words = words.toSeq.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
              out += merged; j += 2
            } else { out += syms(j); j += 1 }
          }
          (out.result(), f)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        i += 1
      }
    }
    merges.result()
  }

  /** Encode one word (no marker) into subwords under `ranks`
    * (pair-key "a b" → merge rank): repeatedly merge the
    * present pair with the LOWEST rank — the standard greedy BPE
    * application, deterministic by construction.
    */
  def encodeWord(word: String, ranks: java.util.HashMap[String, Integer]): Seq[String] = {
    var syms = (word.map(_.toString) :+ "</w>").toVector
    var continue = syms.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r < bestRank) { bestRank = r; bestIdx = j }
        j += 1
      }
      if (bestIdx < 0) continue = false
      else {
        syms = (syms.take(bestIdx) :+ (syms(bestIdx) + syms(bestIdx + 1))) ++
          syms.drop(bestIdx + 2)
        if (syms.length < 2) continue = false
      }
    }
    syms
  }

  /** Kernel entry: tokenize-free — takes the already-tokenized words
    * array and returns the flat subword sequence.
    */
  def encode(words: ArrayData, ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val out = Vector.newBuilder[UTF8String]
    var i = 0
    val n = words.numElements()
    while (i < n) {
      if (!words.isNullAt(i)) {
        encodeWord(words.getUTF8String(i).toString, ranks)
          .foreach(s => out += UTF8String.fromString(s))
      }
      i += 1
    }
    new GenericArrayData(out.result().toArray[Any])
  }
}

object BpeExpr {
  def bpeEncode(words: Column, merges: Seq[(String, String)]): Column = {
    val ranks = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) => ranks.put(a + " " + b, Integer.valueOf(i)) }
    KernelCall.column("bpe_encode", BpeKernels, "encode", ArrayType(StringType, containsNull = false),
      Seq(words -> "array<string>"), ranks)
  }
}
