package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Generator streaming character n-grams of a string for n in [minN, maxN],
  * plus the original when `preserveOriginal` — the row-wise form of
  * `TextIndex.charNgrams` for token-table building at scale: one substring
  * per gram instead of materializing the per-n gram arrays, concatenating,
  * and de-duplicating them (`array_union`) before an explode. Duplicate
  * grams ARE emitted (e.g. "aaaa" yields "aaa" twice); token-table
  * construction applies a global distinct anyway, so the result set is
  * identical to exploding the array form.
  */
case class CharNgramsExpr(child: Expression, minN: Int, maxN: Int, preserveOriginal: Boolean)
  extends UnaryExpression with Generator with CodegenFallback {

  require(1 <= minN && minN <= maxN, "need 1 <= minN <= maxN")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    InputCheck.require(child.dataType == StringType,
      s"char_ngrams requires a string input, got ${child.dataType.catalogString}")

  override def elementSchema: StructType =
    StructType(Seq(StructField("token", StringType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input)
    if (data == null) return Iterator.empty
    val s = data.asInstanceOf[UTF8String].toString
    // gram windows count CODE POINTS, not UTF-16 units, to match the array
    // form (Column.substr → UTF8String.substringSQL counts code points) and
    // the DuckDB oracles; indexing by char would split surrogate pairs on
    // supplementary-plane text (emoji) into invalid lone-surrogate tokens
    val starts = CodePoints.starts(s)
    val cpCount = starts.length - 1
    val grams = for {
      n <- Iterator.range(minN, maxN + 1)
      i <- Iterator.range(0, math.max(cpCount - n + 1, 0))
    } yield InternalRow(UTF8String.fromString(s.substring(starts(i), starts(i + n))))
    if (preserveOriginal) grams ++ Iterator(InternalRow(UTF8String.fromString(s)))
    else grams
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgrams {
  /** Column API: select(charNgramTokens(col)) yields rows (token): the
    * n-grams for n in [3, 4] plus the original. */
  def charNgramTokens(c: Column): Column =
    GraftColumnBridge.column(CharNgramsExpr(
      GraftColumnBridge.expression(c), 3, 4, true))
}
