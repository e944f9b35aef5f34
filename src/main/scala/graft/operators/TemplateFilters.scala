package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Config-driven row filters, re-expressing the reference's
  * `R.any(filterRow)` pipeline stage (geonames.js:180–182, 243–245).
  *
  * All predicates are plain Catalyst expressions so they participate in
  * predicate pushdown, partition pruning and whole-stage codegen — the
  * filter reaches the parquet scan (`PushedFilters` in explain) instead of
  * running post-scan as the reference does.
  */
object TemplateFilters {

  /** Conjunctive equality template: row passes iff row(k) == v for every
    * (k, v) in the template (Ramda `whereEq`, geonames.js:181).
    * Empty template ⇒ always true (whereEq({}) semantics).
    */
  def whereEq(template: Map[String, Any]): Column =
    template.map { case (k, v) => col(k) === lit(v) }
      .reduceOption(_ && _).getOrElse(lit(true))

  /** Disjunction of templates (`R.any` over config.filters,
    * geonames.js:243–245). Empty filter list ⇒ FALSE — the reference's
    * documented edge (SURVEY.md §1.4.3): with no templates nothing passes,
    * not even whitelisted ids, because the whitelist disjunct lives inside
    * the per-template closure.
    *
    * Single-key templates on the same column are one `IN` list, placed
    * where the first of them was: `k = a OR k = b` and `k IN (a, b)` agree
    * under three-valued logic, and Catalyst turns a list of more than 10
    * values into an `InSet` hash probe, so a config of 25 countries costs
    * one probe per row instead of 25 string comparisons. A column with only
    * one single-key template keeps its plain equality.
    */
  def anyTemplate(filters: Seq[Map[String, Any]]): Column = {
    val valuesByKey = filters.filter(_.size == 1).map(_.head).groupMap(_._1)(_._2)
    val merged = mutable.Set.empty[String]
    filters.flatMap {
      case t if t.size == 1 && valuesByKey(t.head._1).size > 1 =>
        val k = t.head._1
        if (merged.add(k)) Some(col(k).isin(valuesByKey(k): _*)) else None
      case t => Some(whereEq(t))
    }.reduceOption(_ || _).getOrElse(lit(false))
  }

  /** Full reference filter: (any template matches) OR (id ∈ whitelist) —
    * but only when at least one template exists (see [[anyTemplate]]).
    * Small whitelists become an `IN` literal (pushed down); large ones
    * should use a broadcast left-semi join instead (see SparkEntry
    * q_semi_join).
    */
  def anyTemplateOrIds(filters: Seq[Map[String, Any]], idCol: Column,
                       ids: Seq[Any]): Column =
    if (filters.isEmpty) lit(false)
    else anyTemplate(filters) || (if (ids.isEmpty) lit(false) else idCol.isin(ids: _*))
}
