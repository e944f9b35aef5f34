package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{CurationExpr, DedupExpr, KernelCall, TextExpr, VectorExpr}
import graft.geonames.GeoNames

/** Registers the engine's native expressions as SQL functions, so
  * `spark.sql("SELECT simhash64(...)")` works and the kernels are usable
  * from pure-SQL pipelines.
  *
  * Two paths:
  *   - session build time (new sessions):
  *     `SparkSession.builder().withExtensions(new GraftExtensions)` or
  *     `.config("spark.sql.extensions", "graft.GraftExtensions")`
  *   - live session: `GraftExtensions.register(spark)`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.allFunctions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def c(e: Expression): Column = ColumnBridge.column(e)

  private def int(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** (SQL name, argument list for the usage error, builder). */
  private val table: Seq[(String, String, PartialFunction[Seq[Expression], Column])] = Seq(
    ("minhash_sig", "tokens array<string>, shingleK int, numHashes int",
      { case Seq(t, k, n) => DedupExpr.minhashSig(c(t), int(k, "shingleK"), int(n, "numHashes")) }),
    ("simhash64", "tokens array<string>", { case Seq(t) => DedupExpr.simhash(c(t)) }),
    ("shingle_hashes", "tokens array<string>, shingleK int",
      { case Seq(t, k) => DedupExpr.shingleHashes(c(t), int(k, "shingleK")) }),
    ("cosine_sim", "a array<double>, b array<double>",
      { case Seq(a, b) => VectorExpr.cosineSim(c(a), c(b)) }),
    ("dot_product", "a array<double>, b array<double>",
      { case Seq(a, b) => VectorExpr.dotProduct(c(a), c(b)) }),
    ("lsh_band_keys", "sig array<long>, bands int, rowsPerBand int",
      { case Seq(s, b, r) => DedupExpr.bandKeys(c(s), int(b, "bands"), int(r, "rowsPerBand")) }),
    ("sign_lsh", "v array<float|double>, numPlanes int",
      { case Seq(v, p) => VectorExpr.signLsh(c(v), int(p, "numPlanes")) }),
    ("sign_lsh_bands", "v array<float|double>, planesPerBand int, bands int",
      { case Seq(v, p, b) =>
        VectorExpr.signLshBands(c(v), int(p, "planesPerBand"), int(b, "bands")) }),
    ("sign_lsh_bands_pooled", "v array<float|double>, planesPerBand int, bands int, pool int",
      { case Seq(v, p, b, n) => VectorExpr.signLshBandsPooled(c(v),
        int(p, "planesPerBand"), int(b, "bands"), int(n, "pool")) }),
    ("token_stats", "text string", { case Seq(t) => TextExpr.tokenStats(c(t)) }),
    ("repetition_stats", "text string", { case Seq(t) => CurationExpr.repetitionStats(c(t)) }),
    ("normalize_text", "text string", { case Seq(t) => CurationExpr.normalizeText(c(t)) }),
    ("jaro_winkler", "a string, b string",
      { case Seq(a, b) => TextExpr.jaroWinkler(c(a), c(b)) }),
    ("js_number_string", "d double", { case Seq(d) => GeoNames.jsNumberString(c(d)) }))

  /** (identifier, info, builder) triples, shared by both paths. */
  def allFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    table.map { case (name, usage, build) =>
      (new FunctionIdentifier(name), new ExpressionInfo(classOf[KernelCall].getName, name),
        (args: Seq[Expression]) => ColumnBridge.expression(build.applyOrElse(args,
          (_: Seq[Expression]) => throw new IllegalArgumentException(s"usage: $name($usage)"))))
    }

  /** Register all functions on an already-running session. */
  def register(spark: SparkSession): Unit =
    allFunctions.foreach { case (ident, info, builder) =>
      ColumnBridge.registerFunction(spark, ident, info, builder)
    }
}
