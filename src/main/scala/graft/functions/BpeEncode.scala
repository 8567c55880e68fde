package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen BPE encoder: applies a learned merge-rule sequence with
  * the standard min-rank loop (repeatedly merge the LOWEST-rank adjacent
  * pair until none remains) — the tokenize path every downstream token
  * count/budget/packing operator would run over the WHOLE corpus, kept
  * inside whole-stage codegen with the rank table as a codegen reference
  * object (the CellAssign precedent); the specs compare it against a UDF
  * reference implementation of the same loop.
  *
  * Per-word cost is proportional to the word, not the vocabulary: the
  * min-rank scan is O(word) per merge step with a nested hash lookup per
  * adjacent pair — a 32k-rule vocabulary never means 32k array scans.
  */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    InputCheck.require(child.dataType == StringType,
      s"bpe_encode requires a string input, got ${child.dataType.catalogString}")

  @transient private lazy val encoder = new BpeEncoder(merges.toArray)

  // null text tokenizes to an EMPTY array (the UDF reference's contract —
  // token pipelines treat null docs as token-free, never null-propagating),
  // so null input must not short-circuit: override eval, not nullSafeEval.
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    encoder.encode(if (v == null) null else v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val enc = ctx.addReferenceObj("bpeEncoder", encoder, classOf[BpeEncoder].getName)
    val childGen = child.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $enc.encode(${childGen.isNull} ? null : ${childGen.value});
        """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The merge-rule table in lookup form: left → (right → rank). Nested maps
  * instead of a concatenated string key so rule symbols containing any
  * character (including separators) stay unambiguous.
  */
final class BpeEncoder(merges: Array[(String, String)]) extends Serializable {

  private val rank = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
  merges.zipWithIndex.foreach { case ((l, r), i) =>
    val m = rank.computeIfAbsent(l, _ => new java.util.HashMap[String, Integer]())
    if (!m.containsKey(r)) m.put(r, Integer.valueOf(i)) // first (lowest) rank wins
  }
  private val mergeList = merges

  private def rankOf(l: String, r: String): Int = {
    val m = rank.get(l)
    if (m == null) Int.MaxValue
    else {
      val v = m.get(r)
      if (v == null) Int.MaxValue else v.intValue()
    }
  }

  /** Greedy left-to-right single-pass merge of (left, right) — identical to
    * graft.llm.Bpe.mergeOnce ("aaa" under (a,a) merges the FIRST pair).
    */
  private def mergeOnce(symbols: java.util.ArrayList[String], l: String, r: String): Unit = {
    var i = 0
    var w = 0
    while (i < symbols.size()) {
      if (i + 1 < symbols.size() && symbols.get(i) == l && symbols.get(i + 1) == r) {
        symbols.set(w, l + r); i += 2
      } else {
        symbols.set(w, symbols.get(i)); i += 1
      }
      w += 1
    }
    while (symbols.size() > w) symbols.remove(symbols.size() - 1)
  }

  def encode(text: UTF8String): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val words = text.toString.split(" ")
    val out = new java.util.ArrayList[Any]()
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        val symbols = new java.util.ArrayList[String](w.length)
        var ci = 0
        while (ci < w.length) {
          // code-point symbols, matching split("") on BMP text and keeping
          // surrogate pairs whole on supplementary-plane text
          val cp = w.codePointAt(ci)
          val n = Character.charCount(cp)
          symbols.add(w.substring(ci, ci + n))
          ci += n
        }
        var done = false
        while (!done && symbols.size() >= 2) {
          var best = Int.MaxValue
          var i = 0
          while (i < symbols.size() - 1) {
            val p = rankOf(symbols.get(i), symbols.get(i + 1))
            if (p < best) best = p
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            val (l, r) = mergeList(best)
            mergeOnce(symbols, l, r)
          }
        }
        var si = 0
        while (si < symbols.size()) {
          out.add(UTF8String.fromString(symbols.get(si)))
          si += 1
        }
      }
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object BpeEncode {
  /** Column API: token array of `c` under the learned `merges` sequence. */
  def encodeCol(c: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(BpeEncodeExpr(GraftColumnBridge.expression(c), merges))
}
