package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token statistics kernel: tokens, stopword hits and summed
  * token length in a single scan of the string — the composed HOF form
  * re-evaluates the interpreted `filter(split(...))` tokenizer for every
  * reference (size, filter, aggregate), i.e. 3–4 passes plus array
  * allocation per pass.
  *
  * Tokenization semantics mirror `split(text, "\\s+")` + drop-empties:
  * separators are exactly the Java regex `\s` class
  * (space, \t, \n, \x0B, \f, \r); stopword matching lowercases the
  * token (as `tokens(lower(text))` does in the HOF form).
  */
object TextKernels {
  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** @return (nTokens, nStop, sumTokenLen) over the string's tokens. */
  def tokenStats(s: UTF8String, stopwords: Array[String]): InternalRow = {
    val str = s.toString
    var n = 0L; var stop = 0L; var sumLen = 0L
    var i = 0
    val len = str.length
    while (i < len) {
      while (i < len && isSpace(str.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isSpace(str.charAt(i))) i += 1
        n += 1
        sumLen += (i - start)
        if (stopwords.length > 0) {
          val tok = str.substring(start, i).toLowerCase
          var j = 0
          var hit = false
          while (j < stopwords.length && !hit) {
            if (stopwords(j) == tok) hit = true
            j += 1
          }
          if (hit) stop += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, stop, sumLen))
  }
}

/** Jaro-Winkler string-similarity kernel (classic parameters: scaling
  * p = 0.1, prefix cap 4, boost only when jaro > 0.7; both-empty and
  * either-empty give 0.0 — the same conventions DuckDB's native
  * `jaro_winkler_similarity` uses, which is what the oracle compares
  * against). One O(|a|·window) pass with two small bitsets; no regex,
  * no allocation beyond the match flags.
  */
object SimTextKernels {
  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString; val b = ub.toString
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val amatch = new Array[Boolean](la)
    val bmatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bmatch(j) && a.charAt(i) == b.charAt(j)) {
          amatch(i) = true; bmatch(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // half-transpositions: matched chars, in order, that disagree
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (amatch(i)) {
        while (!bmatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (jaro > 0.7) {
      var l = 0
      val maxL = math.min(4, math.min(la, lb))
      while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }
}

object TextExpr {
  def tokenStats(text: Column, stopwords: Seq[String] = Nil): Column =
    KernelCall.column("token_stats", TextKernels, "tokenStats",
      StructType(Seq("n_tokens", "n_stop", "sum_token_len")
        .map(StructField(_, LongType, nullable = false))),
      Seq(text -> "string"), stopwords.map(_.toLowerCase).toArray)

  def jaroWinkler(a: Column, b: Column): Column =
    KernelCall.column("jaro_winkler", SimTextKernels, "jaroWinkler", DoubleType,
      Seq(a -> "string", b -> "string"))
}
