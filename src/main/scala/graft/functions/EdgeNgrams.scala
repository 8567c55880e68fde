package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Generator streaming the `text_en_no_stem` analyzer's tokens: for each
  * whitespace-separated word of the LOWERCASED input, its prefixes of length
  * [minN, min(len, maxN)] (whole short word when len < minN) plus the word
  * itself — the row-wise form of `TextIndex.edgeNgramsPerWord`, one
  * substring per token instead of nested transform/flatten/array_union
  * interpreted per element. Duplicates are emitted (the per-word
  * array_union de-dup is dropped); token-table construction applies a
  * global distinct, so the result SET is identical.
  */
case class EdgeNgramsExpr(child: Expression, minN: Int, maxN: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  require(1 <= minN && minN <= maxN, "need 1 <= minN <= maxN")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    InputCheck.require(child.dataType == StringType,
      s"edge_ngrams requires a string input, got ${child.dataType.catalogString}")

  override def elementSchema: StructType =
    StructType(Seq(StructField("token", StringType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input)
    if (data == null) return Iterator.empty
    // matches Spark lower() + split(s, "\\s+") = Java split("\\s+", -1)
    val words = data.asInstanceOf[UTF8String].toLowerCase.toString.split("\\s+", -1)
    words.iterator.flatMap { w =>
      // prefix lengths count CODE POINTS to match the array form (Column
      // .substr counts code points) and the DuckDB oracles; char-indexed
      // prefixes would cut surrogate pairs on supplementary-plane text
      val starts = CodePoints.starts(w)
      val wcp = starts.length - 1
      val hi = math.max(math.min(wcp, maxN), minN)
      Iterator.range(minN, hi + 1).map(n =>
        InternalRow(UTF8String.fromString(w.substring(0, starts(math.min(n, wcp)))))) ++
        Iterator(InternalRow(UTF8String.fromString(w)))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object EdgeNgrams {
  /** Column API: select(edgeNgramTokens(col)) yields rows (token). */
  def edgeNgramTokens(c: Column): Column =
    GraftColumnBridge.column(EdgeNgramsExpr(GraftColumnBridge.expression(c), 3, 12))
}
