package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom-filter probe over word n-gram shingles, as ONE native codegen
  * expression: for each document the kernel walks every n-word window (the
  * [[WordShinglesExpr]] substring walk — no gram array is ever
  * materialized), hashes it, and counts windows whose `numHashes` bloom
  * positions are ALL set in the bitset. The bitset rides along as a codegen
  * reference object (the [[BpeEncodeExpr]] precedent), so probing a 100 TB
  * corpus against a billion-gram eval suite is a map-side scan carrying
  * `2^mBits / 8` bytes per executor — where the exact-set probe
  * ([[graft.llm.Dedup.decontaminate]]) must broadcast every distinct eval
  * shingle.
  *
  * The hash layout is deliberately engine-portable (false positives
  * INCLUDED): position_i(gram) = (h1 + i·h2) mod 2^mBits for i < numHashes,
  * with h1 = int(md5(gram)[0:8]) and h2 = int(md5(gram)[8:16]) | 1 — the
  * registry's md5-hex-prefix convention, so a DuckDB oracle reproduces
  * membership (and every false positive) bit-for-bit. h2 is forced odd:
  * an even stride on a power-of-two table would cycle through at most
  * 2^mBits / 2 positions.
  */
case class BloomCountContaminatedExpr(child: Expression, bloom: BloomBits)
  extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bloom_count_contaminated"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    InputCheck.require(child.dataType == StringType,
      s"bloom_count_contaminated requires a string input, got ${child.dataType.catalogString}")

  // null text has no grams -> 0 contaminated (token pipelines treat null
  // docs as gram-free; the count must not null-propagate)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    bloom.countContaminated(if (v == null) null else v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("bloomBits", bloom, classOf[BloomBits].getName)
    val childGen = child.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(
      code = code"""
        ${childGen.code}
        int ${ev.value} =
          $b.countContaminated(${childGen.isNull} ? null : ${childGen.value});
        """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The bloom bitset plus its hash schedule. `mBits` ≤ 30 keeps the table an
  * ordinary long[] (2^30 bits = 128 MiB — already past any sensible
  * broadcast size); `numHashes` is the classic k.
  */
final class BloomBits(val bits: Array[Long], val n: Int, val mBits: Int,
                      val numHashes: Int) extends Serializable {

  require(n >= 1, s"shingle size must be >= 1: $n")
  require(mBits >= 3 && mBits <= 30, s"mBits must be in [3, 30]: $mBits")
  require(numHashes >= 1, s"numHashes must be positive: $numHashes")
  // (mBits - 6).max(0): a bare 1 << (mBits - 6) wraps for mBits < 6
  // (Java shifts are mod 32) and would demand a multi-GiB array
  require(bits.length == (1 << (mBits - 6).max(0)),
    s"bitset length ${bits.length} != 2^$mBits bits")

  private val mask = (1L << mBits) - 1L

  // content-based equality: BloomCountContaminatedExpr is a case class, so
  // two probes against identical bitsets must compare EQUAL for Catalyst
  // canonicalization / common-subexpression elimination to merge them —
  // reference identity here would silently defeat both (the CellAssignExpr
  // lesson; see PqLutExpr's Seq-field note)
  override def equals(other: Any): Boolean = other match {
    case b: BloomBits => n == b.n && mBits == b.mBits &&
      numHashes == b.numHashes && java.util.Arrays.equals(bits, b.bits)
    case _ => false
  }
  override def hashCode: Int =
    ((n * 31 + mBits) * 31 + numHashes) * 31 + java.util.Arrays.hashCode(bits)

  @transient private lazy val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def isSet(pos: Long): Boolean =
    (bits((pos >>> 6).toInt) & (1L << (pos & 63L))) != 0L

  /** True iff every probe position of this gram's hash pair is set. */
  def mightContain(gram: String): Boolean = {
    val d = md5.get()
    d.reset()
    val h = d.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // bytes 0-3 / 4-7 big-endian unsigned == int(md5_hex[0:8] / [8:16])
    val h1 = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    val h2 = (((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
      ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)) | 1L
    var i = 0
    while (i < numHashes) {
      if (!isSet((h1 + i * h2) & mask)) return false
      i += 1
    }
    true
  }

  /** Count of `n`-word windows of `text` that probe fully set — the
    * [[WordShinglesExpr]] window walk (split(" ", -1) fields, empties
    * kept) fused with the probe. The gram size is the one the bitset was
    * BUILT with — carrying it here (not as a probe-side argument) makes a
    * build/probe n mismatch, which would silently pass every contaminated
    * document, unrepresentable.
    */
  def countContaminated(text: UTF8String): Int = {
    if (text == null) return 0
    val s = text.toString
    val starts = WordShingles.wordStarts(s)
    val words = starts.length
    if (words < n) return 0
    var hits = 0
    var w = 0
    while (w <= words - n) {
      if (mightContain(s.substring(starts(w), WordShingles.windowEnd(s, starts, w, n))))
        hits += 1
      w += 1
    }
    hits
  }
}

object BloomProbe {

  /** Column form of the probe-position schedule: array of `numHashes`
    * positions for a gram column — the EXACT same arithmetic the kernel
    * probes with ((h1 + i·h2) mod 2^mBits on md5-hex-prefix integers), kept
    * in Spark expressions so the eval-side build stays distributed and the
    * DuckDB oracle can mirror it symbol for symbol.
    */
  def positionsCol(gram: Column, mBits: Int, numHashes: Int): Column = {
    import org.apache.spark.sql.functions._
    val hex = md5(gram)
    val h1 = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(hex, 9, 8), 16, 10).cast("long").bitwiseOR(lit(1L))
    val m = lit(1L << mBits)
    transform(sequence(lit(0), lit(numHashes - 1)), i => (h1 + i * h2) % m)
  }

  /** Column API: count of `bloom.n`-word windows of `text` whose bloom
    * probes all hit.
    */
  def countContaminatedCol(text: Column, bloom: BloomBits): Column =
    GraftColumnBridge.column(
      BloomCountContaminatedExpr(GraftColumnBridge.expression(text), bloom))
}
