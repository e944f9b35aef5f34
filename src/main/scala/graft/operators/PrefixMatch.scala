package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Longest-prefix classification against a bounded code→type map.
  *
  * Reference semantics (geonames.js:129–132): probe the full code, then
  * repeatedly strip the last character until the map hits or the code is
  * empty; rows that never hit are dropped (geonames.js:134, 175–177), so
  * classification doubles as an inner filter.
  *
  * Spark-first design (SURVEY.md §4): because map keys are bounded in
  * length (GeoNames featureCodes ≤ 5 chars), the while-loop collapses to a
  * constant-depth `coalesce(element_at(m, substring(code, 1, L)) for L =
  * maxKeyLen..1)` chain over a map literal — pure Catalyst expressions,
  * fully codegen'd, no UDF, no broadcast needed (the map folds into the
  * generated code). This is strictly better than a join for small maps:
  * zero shuffle, zero build side, survives any scale-up because the map is
  * a plan constant.
  */
object PrefixMatch {

  /** Column holding the mapped type for the longest matching prefix of
    * `code`, or NULL when no prefix (including the full code) matches.
    * Exactly mirrors the reference's strip-last-char loop: probing
    * substring(code, 1, L) for L = maxLen..1 visits every proper prefix,
    * longest first; L ≥ length(code) degenerates to the full code.
    */
  def classify(code: Column, types: Map[String, String]): Column = {
    require(types.nonEmpty, "prefix map must not be empty")
    val m = typedLit(types)
    val maxLen = types.keys.map(_.length).max
    val probes = (maxLen to 1 by -1).map(l => element_at(m, substring(code, 1, l)))
    coalesce(probes: _*)
  }
}
