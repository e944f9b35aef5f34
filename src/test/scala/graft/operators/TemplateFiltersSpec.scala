package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.In
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions.{col, lit}

/** Reference semantics under test: geonames.js:180–182, 243–245 (R.whereEq
  * templates under R.any, with the extra-URI disjunct inside the closure).
  */
class TemplateFiltersSpec extends SparkSpec {
  import spark.implicits._

  private def rows = Seq(
    ("R", "F", 1L), ("R", "O", 2L), ("A", "F", 3L), ("N", "O", 4L))
    .toDF("flag", "status", "id")

  test("whereEq is a conjunction over all template keys") {
    val got = rows.where(TemplateFilters.whereEq(Map("flag" -> "R", "status" -> "F")))
      .select("id").as[Long].collect().sorted
    got shouldBe Array(1L)
  }

  test("empty whereEq template passes everything (Ramda whereEq({}))") {
    rows.where(TemplateFilters.whereEq(Map.empty)).count() shouldBe 4
  }

  test("anyTemplate is a disjunction of templates") {
    val got = rows.where(TemplateFilters.anyTemplate(Seq(
        Map("flag" -> "R", "status" -> "F"), Map("flag" -> "A"))))
      .select("id").as[Long].collect().sorted
    got shouldBe Array(1L, 3L)
  }

  test("empty filter list passes NOTHING — reference edge (SURVEY §1.4.3)") {
    rows.where(TemplateFilters.anyTemplate(Seq.empty)).count() shouldBe 0
  }

  test("anyTemplateOrIds: whitelist only rescues rows when filters exist") {
    // with a template: whitelist id 4 passes even though no template matches
    rows.where(TemplateFilters.anyTemplateOrIds(
        Seq(Map("flag" -> "R", "status" -> "F")), col("id"), Seq(4L)))
      .select("id").as[Long].collect().sorted shouldBe Array(1L, 4L)
    // empty filters: nothing passes, not even whitelisted ids
    rows.where(TemplateFilters.anyTemplateOrIds(Seq.empty, col("id"), Seq(4L)))
      .count() shouldBe 0
  }

  /** The unmerged disjunction, one `whereEq` per template: the oracle for
    * [[TemplateFilters.anyTemplate]]'s `IN` merge.
    */
  private def plainOr(filters: Seq[Map[String, Any]]): Column =
    filters.map(TemplateFilters.whereEq).reduceOption(_ || _).getOrElse(lit(false))

  test("anyTemplate: merged single-key templates agree with the plain OR, nulls included") {
    val nullable = Seq[(String, String, Long)](
      ("R", "F", 1L), ("R", "O", 2L), ("A", "F", 3L), ("N", "O", 4L),
      (null, "F", 5L), ("A", null, 6L), (null, null, 7L), ("B", "X", 8L), ("C", null, 9L))
      .toDF("flag", "status", "id")
    // `flag` has four single-key templates (one a duplicate) around a
    // multi-key template; `status` has one, which stays an equality
    val filters = Seq[Map[String, Any]](
      Map("flag" -> "A"), Map("flag" -> "R", "status" -> "F"), Map("status" -> "O"),
      Map("flag" -> "B"), Map("flag" -> "A"), Map("flag" -> "N"))
    val merged = nullable.where(TemplateFilters.anyTemplate(filters))
      .queryExecution.analyzed.collectFirst { case f: Filter => f.condition }.get
    merged.collect { case i: In => i }.size shouldBe 1
    // three-valued: the value per row, not just the rows a filter keeps
    val cmp = nullable.select(col("id"),
      TemplateFilters.anyTemplate(filters).as("got"), plainOr(filters).as("want"))
      .as[(Long, Option[Boolean], Option[Boolean])].collect()
    cmp.length shouldBe 9
    cmp.foreach { case (id, got, want) => withClue(s"id $id: ") { got shouldBe want } }
    cmp.exists(_._2.isEmpty) shouldBe true // some rows really are null
    // whitelist: id 9 matches no template
    val ids = Seq(9L)
    rows.union(nullable).where(TemplateFilters.anyTemplateOrIds(filters, col("id"), ids))
      .select("id").as[Long].collect().sorted shouldBe
      rows.union(nullable).where(plainOr(filters) || col("id").isin(ids: _*))
        .select("id").as[Long].collect().sorted
  }

  test("anyTemplate: no column with two single-key templates gives the plain OR") {
    // q_filter_any's (and qFlagship's) template list
    val filters = Seq[Map[String, Any]](
      Map("l_returnflag" -> "R", "l_linestatus" -> "F"), Map("l_returnflag" -> "A"))
    TemplateFilters.anyTemplate(filters) shouldBe plainOr(filters)
  }
}
