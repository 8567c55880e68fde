package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the full Porter stemmer backing the
  * `text_en` analyzer (reference: ArangoDbUtilities.java:305 attaches
  * ArangoSearch's `text_en` — lowercase + English stem — as the first
  * analyzer of every view field; the previous engine subset stemmed only
  * plurals and -ing/-ed, so derivational suffixes like "classification" vs
  * "classify" missed where the reference matches).
  *
  * Rule set: the classic regex formulation of Porter's algorithm (Porter,
  * "An algorithm for suffix stripping", Program 14(3) 1980; the widely
  * validated JS/regex port) — steps 1a, 1b (+post-rules), 1c, 2, 3, 4,
  * 5a, 5b, with the measure/vowel conditions expressed through the
  * canonical character-class patterns, an initial-y-as-consonant marker,
  * and two deliberate portability choices mirrored EXACTLY by the DuckDB
  * oracle generator ([[PorterStem.sqlCtes]]):
  *   - multi-suffix steps resolve "longest suffix wins, nonempty stem"
  *     explicitly (equal-length suffixes are mutually exclusive), instead
  *     of relying on regex alternation order;
  *   - the step-1b double-consonant test uses an explicit letter list
  *     (no backreferences — RE2, DuckDB's engine, has none).
  * A matched suffix whose measure condition fails CONSUMES the step (no
  * fallback to shorter suffixes) — regex `else-if` semantics.
  *
  * Runs per word token of every indexed field: imperative with precompiled
  * patterns, called statically from whole-stage codegen (the VTupleParse
  * precedent) — a Column when-chain is impossible here because each step
  * references its predecessor many times, exploding the expression tree
  * exponentially across the eight steps.
  */
case class PorterStemExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "porter_stem"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    InputCheck.require(child.dataType == StringType,
      s"porter_stem requires a string input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    PorterStem.stemUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PorterStem.stemUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PorterStem {

  // the canonical Porter character classes: y counts as a vowel after a
  // consonant and as a consonant otherwise (the initial-y case is handled
  // by temporarily marking it 'Y', which the lowercase classes treat as a
  // consonant)
  private val C = "[^aeiou][^aeiouy]*"
  private val V = "[aeiouy][aeiou]*"
  /** m > 0 (at least one VC after an optional initial C) */
  val MGr0: String = s"^($C)?$V$C"
  /** m == 1 */
  val MEq1: String = s"^($C)?$V$C($V)?$$"
  /** m > 1 */
  val MGr1: String = s"^($C)?$V$C$V$C"
  /** stem contains a vowel */
  val HasV: String = s"^($C)?[aeiouy]"
  /** stem is exactly c+ v c with the final consonant not w/x/y (the *o
    * condition as the regex port states it: anchored to the whole stem)
    */
  val Cvc: String = s"^$C[aeiouy][^aeiouwxy]$$"
  /** step-1b double consonant, excluding l/s/z (explicit list: RE2 has no
    * backreferences, and non-letter characters must not count as doubles)
    */
  val Dbl: String = "(bb|cc|dd|ff|gg|hh|jj|kk|mm|nn|pp|qq|rr|tt|vv|ww|xx)$"

  private def pat(s: String) = java.util.regex.Pattern.compile(s)
  private val mGr0 = pat(MGr0)
  private val mEq1 = pat(MEq1)
  private val mGr1 = pat(MGr1)
  private val hasV = pat(HasV)
  private val cvc = pat(Cvc)
  private val dbl = pat(Dbl)
  private def find(p: java.util.regex.Pattern, s: String): Boolean = p.matcher(s).find()

  /** (suffix, replacement) per multi-suffix step, ordered longest-first
    * (equal lengths are mutually exclusive, so relative order within a
    * length does not matter). Shared with the SQL generator.
    */
  val Step2: Seq[(String, String)] = Seq(
    "ational" -> "ate", "ization" -> "ize", "iveness" -> "ive",
    "fulness" -> "ful", "ousness" -> "ous",
    "tional" -> "tion", "biliti" -> "ble",
    "entli" -> "ent", "ousli" -> "ous", "ation" -> "ate",
    "alism" -> "al", "aliti" -> "al", "iviti" -> "ive",
    "enci" -> "ence", "anci" -> "ance", "izer" -> "ize",
    "alli" -> "al", "ator" -> "ate", "logi" -> "log",
    "bli" -> "ble", "eli" -> "e")

  val Step3: Seq[(String, String)] = Seq(
    "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
    "ical" -> "ic", "ness" -> "", "ful" -> "")

  val Step4: Seq[String] = Seq(
    "ement",
    "ance", "ence", "able", "ible", "ment",
    "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
    "al", "er", "ic", "ou")

  /** Full Porter stem of an already-lowercased word. Null-safe; words
    * shorter than 3 characters pass through unchanged (the algorithm's
    * guard).
    */
  def stem(w0: String): String = {
    if (w0 == null) return null
    if (w0.length < 3) return w0
    val initialY = w0.charAt(0) == 'y'
    var w = if (initialY) "Y" + w0.substring(1) else w0

    // step 1a — plurals
    if (w.endsWith("sses") && w.length > 4) w = w.substring(0, w.length - 2)
    else if (w.endsWith("ies") && w.length > 3) w = w.substring(0, w.length - 2)
    else if (w.endsWith("ss")) ()
    else if (w.endsWith("s") && w.charAt(w.length - 2) != 's') w = w.substring(0, w.length - 1)

    // step 1b — -eed / -ed / -ing, with the at/bl/iz, double-consonant and
    // cvc post-rules after a successful -ed/-ing strip
    if (w.endsWith("eed") && w.length > 3) {
      if (find(mGr0, w.substring(0, w.length - 3))) w = w.substring(0, w.length - 1)
    } else {
      val stem1b =
        if (w.endsWith("ed") && w.length > 2) w.substring(0, w.length - 2)
        else if (w.endsWith("ing") && w.length > 3) w.substring(0, w.length - 3)
        else null
      if (stem1b != null && find(hasV, stem1b)) {
        w = stem1b
        if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w += "e"
        else if (find(dbl, w)) w = w.substring(0, w.length - 1)
        else if (find(cvc, w)) w += "e"
      }
    }

    // step 1c — terminal y -> i when the stem has a vowel
    if (w.endsWith("y") && w.length > 1 && find(hasV, w.substring(0, w.length - 1)))
      w = w.substring(0, w.length - 1) + "i"

    // step 2 — double suffixes (m > 0); a matched suffix consumes the step
    Step2.find { case (sfx, _) => w.endsWith(sfx) && w.length > sfx.length }.foreach {
      case (sfx, repl) =>
        val st = w.substring(0, w.length - sfx.length)
        if (find(mGr0, st)) w = st + repl
    }

    // step 3 — -icate/-ative/… (m > 0)
    Step3.find { case (sfx, _) => w.endsWith(sfx) && w.length > sfx.length }.foreach {
      case (sfx, repl) =>
        val st = w.substring(0, w.length - sfx.length)
        if (find(mGr0, st)) w = st + repl
    }

    // step 4 — bare suffixes (m > 1); -ion only after s/t
    Step4.find(sfx => w.endsWith(sfx) && w.length > sfx.length) match {
      case Some(sfx) =>
        val st = w.substring(0, w.length - sfx.length)
        if (find(mGr1, st)) w = st
      case None =>
        if ((w.endsWith("sion") || w.endsWith("tion")) && w.length > 4) {
          val st = w.substring(0, w.length - 3) // keep the s/t
          if (find(mGr1, st)) w = st
        }
    }

    // step 5a — drop terminal e when m > 1, or m == 1 and not *o
    if (w.endsWith("e") && w.length > 1) {
      val st = w.substring(0, w.length - 1)
      if (find(mGr1, st) || (find(mEq1, st) && !find(cvc, st))) w = st
    }
    // step 5b — -ll -> -l when m > 1
    if (w.endsWith("ll") && find(mGr1, w)) w = w.substring(0, w.length - 1)

    if (initialY) "y" + w.substring(1) else w
  }

  /** UTF8String form for codegen call sites. */
  def stemUtf8(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(stem(s.toString))

  /** Column API. Input must already be lowercased. */
  def stemCol(c: Column): Column =
    GraftColumnBridge.column(PorterStemExpr(GraftColumnBridge.expression(c)))

  // ---------------------------------------------------------------------
  // DuckDB oracle generator: the SAME rule chain as chained CTEs, built
  // from the same suffix tables and regex constants so engine and oracle
  // cannot drift apart rule-by-rule. Each step is one CTE with columns
  // (<keys>, w, cur [, ed1b]); words shorter than 3 chars pass through
  // every step untouched via the leading guard branch.
  // ---------------------------------------------------------------------

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"
  /** stem-of-cur substring */
  private def st(k: Int): String = s"substr(cur, 1, length(cur)-$k)"
  private def rx(target: String, pattern: String): String =
    s"regexp_matches($target, ${sqlStr(pattern)})"

  /** Multi-suffix step body: longest suffix with a nonempty stem decides;
    * its condition failing leaves the word unchanged (no shorter-suffix
    * fallback).
    */
  private def suffixStep(rules: Seq[(String, String)], cond: String): String = {
    val branches = rules.map { case (sfx, repl) =>
      val k = sfx.length
      val hit = s"cur LIKE '%$sfx' AND length(cur) > $k"
      val out = if (repl.isEmpty) st(k) else s"${st(k)} || ${sqlStr(repl)}"
      s"WHEN $hit THEN CASE WHEN ${rx(st(k), cond)} THEN $out ELSE cur END"
    }
    s"CASE WHEN length(w) < 3 THEN cur ${branches.mkString(" ")} ELSE cur END"
  }

  /** The full Porter pipeline as `, p0 AS (…), …, <outCte> AS (SELECT
    * <keys>, w, cur FROM …)` appendable after a `words` CTE exposing
    * columns `<keys>, w` (w lowercased). All CTE names carry `tag` so two
    * pipelines can coexist in one query.
    */
  def sqlCtes(keys: String, tag: String, outCte: String): String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines CTE projections into
    // their consumers, and every step references `cur` many times — inlined,
    // each reference re-expands the entire upstream CASE chain and the plan
    // explodes exponentially across the eleven steps (observed: minutes of
    // 100% CPU at sf0.001). Materializing each step keeps the plan linear —
    // the same per-step-materialization the engine side gets from being an
    // imperative kernel.
    def step(name: String, from: String, curExpr: String, extra: String = ""): String =
      s" $name AS MATERIALIZED (SELECT $keys, w, $curExpr AS cur$extra FROM $from)"
    val p0 = step(s"p0$tag", "words",
      s"CASE WHEN length(w) >= 3 AND w LIKE 'y%' THEN 'Y' || substr(w, 2) ELSE w END")
    val p1a = step(s"p1a$tag", s"p0$tag",
      s"""CASE WHEN length(w) < 3 THEN cur
         | WHEN cur LIKE '%sses' AND length(cur) > 4 THEN ${st(2)}
         | WHEN cur LIKE '%ies' AND length(cur) > 3 THEN ${st(2)}
         | WHEN cur LIKE '%ss' THEN cur
         | WHEN cur LIKE '%s' AND substr(cur, length(cur)-1, 1) <> 's' THEN ${st(1)}
         | ELSE cur END""".stripMargin)
    // 1b: strip, remembering whether -ed/-ing fired (ed1b) for the post CTE
    val ed1bCond =
      s"""(cur LIKE '%ed' AND NOT (cur LIKE '%eed' AND length(cur) > 3) AND length(cur) > 2
         |  AND ${rx(st(2), HasV)}) OR
         | (cur LIKE '%ing' AND length(cur) > 3 AND ${rx(st(3), HasV)})""".stripMargin
    val p1b = step(s"p1b$tag", s"p1a$tag",
      s"""CASE WHEN length(w) < 3 THEN cur
         | WHEN cur LIKE '%eed' AND length(cur) > 3 THEN
         |   CASE WHEN ${rx(st(3), MGr0)} THEN ${st(1)} ELSE cur END
         | WHEN cur LIKE '%ed' AND length(cur) > 2 AND ${rx(st(2), HasV)} THEN ${st(2)}
         | WHEN cur LIKE '%ing' AND length(cur) > 3 AND ${rx(st(3), HasV)} THEN ${st(3)}
         | ELSE cur END""".stripMargin,
      s", CASE WHEN length(w) >= 3 AND ($ed1bCond) THEN TRUE ELSE FALSE END AS ed1b")
    val p1bp = step(s"p1bp$tag", s"p1b$tag",
      s"""CASE WHEN NOT ed1b THEN cur
         | WHEN cur LIKE '%at' OR cur LIKE '%bl' OR cur LIKE '%iz' THEN cur || 'e'
         | WHEN ${rx("cur", Dbl)} THEN ${st(1)}
         | WHEN ${rx("cur", Cvc)} THEN cur || 'e'
         | ELSE cur END""".stripMargin)
    val p1c = step(s"p1c$tag", s"p1bp$tag",
      s"""CASE WHEN length(w) < 3 THEN cur
         | WHEN cur LIKE '%y' AND length(cur) > 1 AND ${rx(st(1), HasV)}
         |   THEN ${st(1)} || 'i'
         | ELSE cur END""".stripMargin)
    val p2 = step(s"p2$tag", s"p1c$tag", suffixStep(Step2, MGr0))
    val p3 = step(s"p3$tag", s"p2$tag", suffixStep(Step3, MGr0))
    val p4 = step(s"p4$tag", s"p3$tag",
      suffixStep(Step4.map(_ -> ""), MGr1).stripSuffix(" ELSE cur END") +
        s""" WHEN (cur LIKE '%sion' OR cur LIKE '%tion') AND length(cur) > 4 THEN
           |   CASE WHEN ${rx(st(3), MGr1)} THEN ${st(3)} ELSE cur END
           | ELSE cur END""".stripMargin)
    val p5a = step(s"p5a$tag", s"p4$tag",
      s"""CASE WHEN length(w) < 3 THEN cur
         | WHEN cur LIKE '%e' AND length(cur) > 1 AND
         |   (${rx(st(1), MGr1)} OR (${rx(st(1), MEq1)} AND NOT ${rx(st(1), Cvc)}))
         |   THEN ${st(1)}
         | ELSE cur END""".stripMargin)
    val p5b = step(s"p5b$tag", s"p5a$tag",
      s"""CASE WHEN length(w) < 3 THEN cur
         | WHEN cur LIKE '%ll' AND ${rx("cur", MGr1)} THEN ${st(1)}
         | ELSE cur END""".stripMargin)
    val fin = step(outCte, s"p5b$tag",
      "CASE WHEN w LIKE 'y%' AND length(w) >= 3 THEN 'y' || substr(cur, 2) ELSE cur END")
    Seq(p0, p1a, p1b, p1bp, p1c, p2, p3, p4, p5a, p5b, fin).mkString(",", ",", "")
  }
}
