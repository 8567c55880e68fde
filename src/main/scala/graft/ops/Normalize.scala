package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Edge label/source normalization (SURVEY.md §2.6 N4, N5) as codegen-friendly
  * `when`-chains — no UDFs.
  */
object Normalize {

  /** Special-cased label normalizations
    * (reference: OntologyGraphBuilder.java:309-326). The camelCase cases need
    * explicit entries because the default rule only uppercases and replaces
    * spaces.
    */
  val LabelSpecialCases: Map[String, String] = Map(
    "subClassOf" -> "SUB_CLASS_OF",
    "disjointWith" -> "DISJOINT_WITH",
    "crossSpeciesExactMatch" -> "CROSS_SPECIES_EXACT_MATCH",
    "exactMatch" -> "EXACT_MATCH",
    "equivalentClass" -> "EQUIVALENT_CLASS",
    "seeAlso" -> "SEE_ALSO")

  /** Special-cased source normalizations
    * (reference: OntologyGraphBuilder.java:287-300).
    */
  val SourceSpecialCases: Map[String, String] = Map(
    "mondo-simple" -> "MONDO",
    "taxslim" -> "NCBITAXON",
    "go-plus" -> "GO",
    "uberon-base" -> "UBERON")

  /** N4: normalize an edge label. */
  def normalizeEdgeLabel(label: Column): Column =
    LabelSpecialCases.foldLeft(null: Column) { case (acc, (raw, norm)) =>
      if (acc == null) when(label === raw, norm) else acc.when(label === raw, norm)
    }.otherwise(upper(regexp_replace(label, " ", "_")))

  /** N5: normalize an edge source. */
  def normalizeEdgeSource(source: Column): Column =
    SourceSpecialCases.foldLeft(null: Column) { case (acc, (raw, norm)) =>
      if (acc == null) when(source === raw, norm) else acc.when(source === raw, norm)
    }.otherwise(upper(source))
}
