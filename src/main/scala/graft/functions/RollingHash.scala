package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Karp–Rabin rolling hashes (base 257, mod 2^61−1) as a native codegen
  * expression — the content-defined-chunking / winnowing primitive runs
  * over EVERY character of the corpus, which made the original UDF form
  * ([[graft.llm.TextStats.windowHashesUdf]], kept for equivalence tests)
  * the hot spot of the CDC path: a UDF pays row
  * serialization + boxing per call, while this expression stays inside
  * whole-stage codegen and calls one static fused loop per row.
  *
  * Semantics are identical to the UDF kernel by construction (this object
  * OWNS the arithmetic; TextStats delegates here): UTF-16 code units,
  * strings shorter than the window yield an EMPTY array, a NULL input
  * yields NULL (standard expression null-through, where the UDF's
  * null-in/empty-out was an accident of its wrapper — call sites coalesce).
  */
object RollingHash {

  val Mod: Long = (1L << 61) - 1
  val Base: Long = 257L

  private[functions] def mulMod(a: Long, b: Long): Long = {
    // a * b mod 2^61-1 via 128-bit product (Math.multiplyHigh, JDK 9+):
    // with value = hi*2^64 + lo and 2^61 ≡ 1 (mod M): value ≡ 8*hi + (lo & M) + (lo >>> 61)
    val lo = a * b
    val hi = Math.multiplyHigh(a, b)
    var r = (hi << 3) + (lo & Mod) + (lo >>> 61)
    while (r >= Mod) r -= Mod
    r
  }

  /** Whole-string rolling hash. */
  def rollingHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = mulMod(h, Base) + s.charAt(i).toLong
      if (h >= Mod) h -= Mod
      i += 1
    }
    h
  }

  /** All window hashes of length `w` (empty when the string is shorter). */
  def windowHashes(s: String, w: Int): Array[Long] = {
    if (s == null || s.length < w) return Array.empty
    // dropped char coefficient is Base^w: the multiply-by-Base happens before the drop
    var pow = 1L
    var k = 0
    while (k < w) { pow = mulMod(pow, Base); k += 1 }
    val out = new Array[Long](s.length - w + 1)
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = mulMod(h, Base) + s.charAt(i).toLong
      if (h >= Mod) h -= Mod
      if (i >= w) {
        val drop = mulMod(pow, s.charAt(i - w).toLong)
        h = h - drop
        if (h < 0) h += Mod
      }
      if (i >= w - 1) out(i - w + 1) = h
      i += 1
    }
    out
  }

  /** Codegen entry point: UTF8String in, Catalyst array out. Unsafe
    * primitive packing — GenericArrayData would box every hash on exactly
    * the per-character hot path this expression exists to de-box.
    */
  def windowHashesData(s: UTF8String, w: Int): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(windowHashes(s.toString, w))

  /** Column API: array<long> of all `w`-char window hashes. */
  def windowHashesCol(text: Column, w: Int): Column =
    GraftColumnBridge.column(WindowHashesExpr(GraftColumnBridge.expression(text), w))
}

case class WindowHashesExpr(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0, s"window_hashes: window must be positive, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.require(
    child.dataType == StringType,
    s"window_hashes requires a string input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.windowHashesData(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.windowHashesData($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
