package graft.ops

import graft.model.VTuple
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URI / string scalar functions (SURVEY.md §2.6 N1-N3, N6, N7, N9).
  *
  * Each function exists in two forms where useful:
  *  - a pure Scala form (unit-testable, used inside the file parser), and
  *  - a `Column` form built from Catalyst built-ins so the relational
  *    pipeline stays inside whole-stage codegen.
  * The one genuinely irregular parse (URI → VTuple, N2) follows
  * `java.net.URI` semantics exactly and is exposed as a deterministic UDF;
  * SURVEY §7.4 keeps the door open to promote it to a codegen Expression if
  * profiling shows it hot.
  */
object UriOps {

  /** Whitelist of ontology ids that become graph vertices
    * (reference: OntologyGraphBuilder.java:45-64).
    */
  val ValidVertices: Seq[String] = Seq("BGS", "BMC", "CHEBI", "CHEMBL", "CL", "CS", "CSD",
    "GO", "GS", "HP", "HsapDv", "MONDO", "NCBITaxon", "NCT", "Orphanet", "PATO", "PR",
    "PUB", "RS", "UBERON")
  private val validSet = ValidVertices.toSet

  // --------------------------------------------------------------- N1

  /** Provisional-cell-ontology URI rewrites, first occurrence only
    * (reference: OntologyElementParser.java:77-87). Patterns are literal, so
    * plain indexOf/replace beats per-call regex compilation on the hot path.
    */
  def rewriteUri(uri: String): String = {
    if (uri.contains("/pcl/CS")) uri.replaceFirst("/pcl/CS", "/PCLCS_")
    else if (uri.contains("/ensembl/ENSG")) uri.replaceFirst("/ensembl/ENSG", "/ENSG_")
    else uri
  }

  /** Column form of [[rewriteUri]]: two regexp_replace passes (the two
    * patterns cannot both occur in one URI, so sequential application equals
    * the reference's first-match-wins branching).
    */
  def rewriteUriCol(uri: Column): Column = {
    val pcl = regexp_replace(uri, "/pcl/CS", "/PCLCS_")
    regexp_replace(pcl, "/ensembl/ENSG", "/ENSG_")
  }

  // --------------------------------------------------------------- N2

  /** URI → (term, id, number, isValidVertex)
    * (reference: OntologyGraphBuilder.java:72-102). `uriStr` may be any node
    * rendering: blank (`_:...`) and literal (`"..."`) renderings parse to the
    * invalid tuple, mirroring `!n.isURI()`.
    */
  private val Invalid = VTuple(null, null, null, isValidVertex = false)

  def createVTuple(uriStr: String): VTuple = {
    if (uriStr == null || uriStr.startsWith("_:") || uriStr.startsWith("\"")) return Invalid
    val rewritten = rewriteUri(uriStr)
    // Fast path for the overwhelmingly common shape — plain http(s) URI with
    // no fragment/query/escapes: the path is everything after the authority,
    // and java.net.URI would neither decode nor reject anything. Anything
    // else falls back to full java.net.URI semantics (the reference's).
    val term: String = {
      val simple = rewritten.startsWith("http://") || rewritten.startsWith("https://")
      if (simple && rewritten.indexOf('#') < 0 && rewritten.indexOf('?') < 0 &&
          rewritten.indexOf('%') < 0 && rewritten.indexOf(' ') < 0) {
        val authStart = rewritten.indexOf("//") + 2
        val pathStart = rewritten.indexOf('/', authStart)
        if (pathStart < 0) return Invalid // no path
        val end = if (rewritten.endsWith("/")) rewritten.length - 1 else rewritten.length
        if (end <= pathStart) return Invalid
        rewritten.substring(rewritten.lastIndexOf('/', end - 1) + 1, end)
      } else {
        val uri =
          try java.net.URI.create(rewritten)
          catch { case _: RuntimeException => return Invalid }
        val path = uri.getPath
        if (path == null || path.isEmpty) return Invalid
        val trimmed = if (path.endsWith("/")) path.substring(0, path.length - 1) else path
        trimmed.substring(trimmed.lastIndexOf('/') + 1)
      }
    }
    if (term.isEmpty) return Invalid
    val tokens: Array[String] =
      if (term.indexOf('_') >= 0) term.split("_")
      else if (term.indexOf(':') >= 0) term.split(":")
      else null
    if (tokens == null || tokens.length != 2) Invalid
    else VTuple(term, tokens(0), tokens(1), validSet.contains(tokens(0)))
  }

  /** UDF form returning struct(term, id, number, is_valid_vertex).
    * EQUIVALENCE-SPEC ONLY (VTupleParseSpec pins it row-identical to the
    * native codegen expression) — every hot path uses
    * [[graft.functions.VTupleParse]]; this is not an API to build on.
    */
  val vtupleUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => createVTuple(s))

  // --------------------------------------------------------------- N3

  /** Raw predicate label: URI fragment if present, else last path segment
    * (reference: OntologyGraphBuilder.java:111-129 before the RO lookup, which
    * is the J2 broadcast join in GraphOps). Non-URI predicate → null (the
    * reference throws; relationally we null and let callers assert).
    */
  def rawPredicateLabel(uriStr: String): String = {
    if (uriStr == null) return null
    val uri =
      try java.net.URI.create(rewriteUri(uriStr))
      catch { case _: RuntimeException => return null }
    val frag = uri.getFragment
    if (frag != null) frag
    else {
      val path = uri.getPath
      if (path == null) null
      else path.substring(path.lastIndexOf('/') + 1)
    }
  }

  /** Column form of [[rawPredicateLabel]] for well-formed http URIs:
    * fragment after '#', else last '/' segment. Stays in codegen.
    */
  def rawPredicateLabelCol(uri: Column): Column =
    when(uri.contains("#"), substring_index(uri, "#", -1))
      .otherwise(substring_index(uri, "/", -1))

  // --------------------------------------------------------------- N7

  /** Document id "{coll}/{key}" → collection (before FIRST '/'), null when no
    * '/' (reference: OntologyGraphBuilder.java:415-436).
    */
  def docCollectionNameCol(id: Column): Column =
    when(id.contains("/"), substring_index(id, "/", 1))

  /** Document id → key (after FIRST '/'), null when no '/'. */
  def docKeyCol(id: Column): Column =
    when(id.contains("/"), id.substr(instr(id, "/") + 1, lit(Int.MaxValue)))

  // --------------------------------------------------------------- N9

  /** Filename stem before the LAST '.' (reference: OntologyDownloader.java:93-95,
    * OntologyElementParser.java:181 — map key = filename minus extension).
    */
  def fileStemCol(fname: Column): Column =
    when(fname.contains("."), regexp_replace(fname, "\\.[^.]*$", "")).otherwise(fname)

  /** Filename suffix from the LAST '.' (inclusive), '' when none. */
  def fileSuffixCol(fname: Column): Column =
    regexp_extract(fname, "(\\.[^.]*)$", 1)

  /** Driver-side form of [[fileStemCol]]. */
  def fileStem(fname: String): String = {
    val i = fname.lastIndexOf('.')
    if (i < 0) fname else fname.substring(0, i)
  }
}
