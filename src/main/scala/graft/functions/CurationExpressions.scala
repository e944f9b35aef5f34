package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** One-pass data-curation kernels (Gopher-style repetition signals and
  * marker-profile language ID). Like [[TextKernels]], each is a single
  * scan of the document inside WholeStageCodegen — the composed
  * HOF/expression forms either re-evaluate the tokenizer per reference
  * (repetition) or compile a wide folded when-chain that re-normalizes
  * the string once per marker probe (language ID).
  */
object CurationKernels {
  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Repetition statistics over whitespace tokens (tokenization identical
    * to [[TextKernels.tokenStats]]: `split("\\s+")` + drop empties).
    * Returns (n_tokens, n_distinct, top_count, n_bigrams,
    * n_distinct_bigrams) where top_count is the highest single-token
    * frequency and bigrams are adjacent token pairs joined with one
    * space (tokens cannot contain spaces, so the join is unambiguous).
    *
    * Distinct counting is exact (string hash sets) — right for
    * per-document signals where the universe is bounded by the document
    * length. Corpus-level distinct counting should use HLL/minhash
    * sketches instead, never this kernel.
    */
  def repetitionStats(s: UTF8String): InternalRow = {
    val str = s.toString
    val counts = new java.util.HashMap[String, Long]()
    val bigrams = new java.util.HashSet[String]()
    var nTokens = 0L
    var nBigrams = 0L
    var top = 0L
    var prev: String = null
    var i = 0
    val len = str.length
    while (i < len) {
      while (i < len && isSpace(str.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isSpace(str.charAt(i))) i += 1
        val tok = str.substring(start, i)
        nTokens += 1
        val c = counts.merge(tok, 1L, (a, b) => a + b)
        if (c > top) top = c
        if (prev != null) {
          nBigrams += 1
          bigrams.add(prev + " " + tok)
        }
        prev = tok
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, counts.size.toLong, top, nBigrams, bigrams.size.toLong))
  }

  /** Marker-profile language ID, value-identical to the composed
    * expression fold in [[TextAnalytics.langIdComposed]]: normalize once
    * (lower-case via UTF8String.toLowerCase — the `lower()` builtin —
    * then collapse each `\s+` run to one space, wrapped in single
    * spaces), count containment of each language's markers, strict->
    * argmax in array order (callers pass languages sorted, so ties keep
    * the lexicographically first language).
    */
  def bestLang(s: UTF8String, langs: Array[UTF8String],
               markers: Array[Array[String]]): UTF8String = {
    val str = s.toLowerCase.toString
    val len = str.length
    val sb = new java.lang.StringBuilder(len + 2)
    sb.append(' ')
    var i = 0
    while (i < len) {
      val c = str.charAt(i)
      if (isSpace(c)) {
        sb.append(' ')
        while (i < len && isSpace(str.charAt(i))) i += 1
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.append(' ')
    val norm = sb.toString
    var best = 0
    var bestScore = -1
    var l = 0
    while (l < langs.length) {
      val ms = markers(l)
      var score = 0
      var m = 0
      while (m < ms.length) {
        if (norm.contains(ms(m))) score += 1
        m += 1
      }
      if (score > bestScore) { bestScore = score; best = l }
      l += 1
    }
    langs(best)
  }

  /** Canonical curation text-normalization: Unicode NFD decomposition
    * with combining marks dropped (é→e, Ñ→n), per-char lowercase,
    * whitespace runs collapsed to one space, ends trimmed — one pass
    * post-decomposition. Matches
    * `trim(regexp_replace(lower(strip_accents(x)), '\s+', ' '))` for
    * the Latin range (asserted against DuckDB in q_normalize_text).
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val nfd = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    var lastWs = true // true at start ⇒ leading whitespace drops
    while (i < nfd.length) {
      val ch = nfd.charAt(i)
      val t = Character.getType(ch)
      if (t == Character.NON_SPACING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.ENCLOSING_MARK) {
        // combining mark from the decomposition: drop
      } else if (Character.isWhitespace(ch)) {
        if (!lastWs) { sb.append(' '); lastWs = true }
      } else {
        sb.append(Character.toLowerCase(ch)); lastWs = false
      }
      i += 1
    }
    if (sb.length > 0 && sb.charAt(sb.length - 1) == ' ')
      sb.setLength(sb.length - 1)
    UTF8String.fromString(sb.toString)
  }

  /** Membership probe against a pre-built Bloom filter (false positives
    * only; callers exact-verify survivors).
    */
  def bloomMightContain(h: Long, bloom: BloomFilter): Boolean = bloom.mightContainLong(h)
}

object CurationExpr {
  def repetitionStats(text: Column): Column =
    KernelCall.column("repetition_stats", CurationKernels, "repetitionStats",
      StructType(Seq("n_tokens", "n_distinct", "top_count", "n_bigrams", "n_distinct_bigrams")
        .map(StructField(_, LongType, nullable = false))),
      Seq(text -> "string"))

  def normalizeText(text: Column): Column =
    KernelCall.column("normalize_text", CurationKernels, "normalizeText", StringType,
      Seq(text -> "string"))

  /** The filter rides broadcast-style inside the serialized plan (compact
    * — ~10 bits/key at 1% fpp vs 64 raw), so a billion-key benchmark set
    * probes map-side without any join.
    */
  def bloomMightContain(hash: Column, bloom: BloomFilter): Column =
    KernelCall.column("bloom_might_contain", CurationKernels, "bloomMightContain",
      BooleanType, Seq(hash -> "bigint"), bloom)

  /** Profiles are sorted by language here so ties resolve to the
    * lexicographically first language (the composed fold's contract).
    */
  def bestLang(text: Column, profiles: Map[String, Seq[String]]): Column = {
    val sorted = profiles.toSeq.sortBy(_._1)
    KernelCall.column("best_lang", CurationKernels, "bestLang", StringType,
      Seq(text -> "string"), sorted.map(p => UTF8String.fromString(p._1)).toArray,
      sorted.map(_._2.toArray).toArray)
  }
}
