package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions for SQL use. Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.All.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  private type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, clazz: Class[_], arity: Int,
                 builder: Seq[Expression] => Expression): FunctionDescription =
    (new FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      (es: Seq[Expression]) => {
        require(es.length == arity,
          s"$name expects $arity argument(s), got ${es.length}")
        builder(es)
      })

  // generator config args must be foldable literals — validated here so a
  // column reference, a NULL, or a mistyped literal all fail with a clear
  // message at function resolution, not an internal "cannot evaluate
  // expression" / NPE / ClassCastException at runtime
  private def configArg(name: String, expected: String, e: Expression): Any = {
    require(e.foldable, s"$name: config arguments must be $expected literals")
    val v = e.eval(null)
    require(v != null, s"$name: config argument must be a non-null $expected literal")
    v
  }
  private def intArg(name: String, e: Expression): Int =
    configArg(name, "integer", e) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$name: expected an integer literal, got '$other' (${other.getClass.getSimpleName})")
    }
  private def boolArg(e: Expression): Boolean =
    configArg("char_ngrams", "boolean", e) match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"char_ngrams: expected a boolean literal, got '$other' (${other.getClass.getSimpleName})")
    }

  private[functions] val All: Seq[FunctionDescription] = Seq(
    fn("vtuple_parse", classOf[VTupleParseExpr], 1, es => VTupleParseExpr(es.head)),
    fn("dot_long", classOf[DotLongExpr], 2, es => DotLongExpr(es(0), es(1))),
    fn("damerau_levenshtein", classOf[DamerauLevenshteinExpr], 2,
      es => DamerauLevenshteinExpr(es(0), es(1))),
    fn("jaro_winkler", classOf[JaroWinklerExpr], 2,
      es => JaroWinklerExpr(es(0), es(1))),
    fn("dot_double", classOf[DotDoubleExpr], 2, es => DotDoubleExpr(es(0), es(1))),
    fn("ordered_pairs", classOf[OrderedPairsExpr], 1, es => OrderedPairsExpr(es.head)),
    fn("word_shingles", classOf[WordShinglesExpr], 2,
      es => WordShinglesExpr(es(0), intArg("word_shingles", es(1)))),
    fn("char_ngrams", classOf[CharNgramsExpr], 4,
      es => CharNgramsExpr(es(0), intArg("char_ngrams", es(1)),
        intArg("char_ngrams", es(2)), boolArg(es(3)))),
    fn("edge_ngrams", classOf[EdgeNgramsExpr], 3,
      es => EdgeNgramsExpr(es(0), intArg("edge_ngrams", es(1)),
        intArg("edge_ngrams", es(2)))),
    fn("window_hashes", classOf[WindowHashesExpr], 2,
      es => WindowHashesExpr(es(0), intArg("window_hashes", es(1)))),
    fn("porter_stem", classOf[PorterStemExpr], 1, es => PorterStemExpr(es.head)),
    fn("accent_fold", classOf[AccentFoldExpr], 1, es => AccentFoldExpr(es.head)),
    fn("nfc_normalize", classOf[NfcNormalizeExpr], 1, es => NfcNormalizeExpr(es.head)),
    fn("top_k", classOf[TopKAggExpr], 3,
      es => TopKAggExpr(es(0), es(1), intArg("top_k", es(2)))))

  /** Register the engine functions on an ALREADY-RUNNING session (extensions
    * only apply at session construction; a same-JVM getOrCreate reuses the
    * existing session and silently skips them).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    All.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
