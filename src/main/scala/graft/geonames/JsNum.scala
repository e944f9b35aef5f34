package graft.geonames

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

import org.apache.spark.unsafe.types.UTF8String

/** ECMAScript Number→String (radix 10) rendering of a double, exactly as
  * node's `JSON.stringify` emits it — the NDJSON-sink fidelity kernel
  * (the reference serializes parseFloat results straight through
  * JSON.stringify, geonames.js:141–147): "null" for non-finite
  * (parseFloat("") is NaN and stringifies to JSON null), no ".0" on
  * integral values, "0" for negative zero, positional notation for
  * 1e-6 ≤ |v| < 1e21, exponent form elsewhere. Java 17's
  * `Double.toString` differs exactly there ("-121.0" vs "-121",
  * E-notation below 1e-3) — caught by the true-reference run
  * (REFPARITY_r13.json), invisible to the JS proxy, whose corpus had no
  * integral coordinates.
  *
  * The digit sequence is computed here as the SHORTEST round-tripping
  * decimal (nearest-to-value among candidates, ties to the even digit —
  * the ECMA-262 `Number::toString` selection), NOT taken from Java's
  * `Double.toString`: pre-JDK-19 `Double.toString` is round-trippable
  * but not always shortest-form (`Double.MIN_VALUE` renders "4.9E-324"
  * where JS says "5e-324"), so on this JDK 17 build reusing its digits
  * would silently diverge on values that aren't sourced from short
  * decimal literals. Selection per significand length p (1..17):
  * round the EXACT binary expansion of |d| down and up to p significant
  * digits; if both round-trip, HALF_EVEN on the exact value picks
  * nearest-with-even-ties; if only one round-trips, it is the unique
  * shortest choice; p=17 always round-trips, so the loop terminates.
  * Differentially fuzzed against node across the double regimes
  * (tools/jsnum_fuzz.py) and pinned on the edge classes in
  * GeoNamesSpec.
  */
object JsNum {
  private val Pow10Exact = 9.007199254740992e15 // 2^53: integral doubles below are exact

  def render(d: Double): String = {
    if (d.isNaN || d.isInfinite) return "null" // JSON.stringify(NaN) === "null"
    if (d == 0.0) return "0" // covers -0.0: JSON.stringify(-0) === "0"
    val neg = d < 0
    val abs = math.abs(d)
    // integral fast path: for |d| < 2^53 the integer's own digit string
    // IS the ECMAScript rendering (any shorter round-tripping decimal
    // only strips trailing zeros, which the positional form re-appends)
    if (abs < Pow10Exact && abs == math.floor(abs)) {
      val l = abs.toLong
      return if (neg) "-" + l.toString else l.toString
    }
    val exact = new JBigDecimal(abs) // exact binary expansion
    var chosen: JBigDecimal = null
    var p = 1
    while (chosen == null && p <= 17) {
      val down = exact.round(new MathContext(p, RoundingMode.FLOOR))
      val up = exact.round(new MathContext(p, RoundingMode.CEILING))
      val dOk = down.doubleValue == abs
      val uOk = up.doubleValue == abs
      chosen =
        if (dOk && uOk) exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
        else if (dOk) down
        else if (uOk) up
        else null
      p += 1
    }
    // p=17 always round-trips; reaching here means chosen != null
    val bd = chosen.stripTrailingZeros
    val digits = bd.unscaledValue.toString
    val k = digits.length
    val n = k - bd.scale // value = 0.<digits> × 10^n
    val body =
      if (n >= k && n <= 21) digits + "0" * (n - k)
      else if (n > 0 && n <= 21)
        digits.substring(0, n) + "." + digits.substring(n)
      else if (n > -6 && n <= 0) "0." + ("0" * -n) + digits
      else {
        val mant =
          if (k == 1) digits
          else digits.substring(0, 1) + "." + digits.substring(1)
        mant + "e" + (if (n - 1 >= 0) "+" else "-") + math.abs(n - 1)
      }
    if (neg) "-" + body else body
  }

  /** Kernel entry point of `js_number_string`: render as UTF8String
    * (null never reaches here — the kernel call is null-intolerant).
    */
  def renderUtf8(d: Double): UTF8String = UTF8String.fromString(render(d))
}
