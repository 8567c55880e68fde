package graft

import graft.model.VTuple
import graft.ops.{Normalize, UriOps}
import org.apache.spark.sql.Column
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Prop, Test => SCTest}

/** Scalar-function matrices mirroring the reference unit tests
  * (OntologyGraphBuilderTest.java:42-298, OntologyElementParserTest.java:57-74)
  * plus scalacheck property tests.
  */
class UriOpsSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  // --- N1 createURI rewrites ---
  test("rewriteUri pcl") {
    assert(UriOps.rewriteUri("http://purl.obolibrary.org/obo/pcl/CS12345") ==
      "http://purl.obolibrary.org/obo/PCLCS_12345")
  }
  test("rewriteUri ensembl") {
    assert(UriOps.rewriteUri("http://purl.obolibrary.org/obo/ensembl/ENSG00000123456") ==
      "http://purl.obolibrary.org/obo/ENSG_00000123456")
  }
  test("rewriteUri passthrough") {
    assert(UriOps.rewriteUri("http://www.w3.org/2000/01/rdf-schema#subClassOf") ==
      "http://www.w3.org/2000/01/rdf-schema#subClassOf")
  }

  // --- N2 createVTuple (reference matrix) ---
  test("vtuple valid CL term") {
    assert(UriOps.createVTuple("http://purl.obolibrary.org/obo/CL_0000235") ==
      VTuple("CL_0000235", "CL", "0000235", isValidVertex = true))
  }
  test("vtuple valid GO term") {
    assert(UriOps.createVTuple("http://purl.obolibrary.org/obo/GO_0031268") ==
      VTuple("GO_0031268", "GO", "0031268", isValidVertex = true))
  }
  test("vtuple valid UBERON term") {
    assert(UriOps.createVTuple("http://purl.obolibrary.org/obo/UBERON_0000061") ==
      VTuple("UBERON_0000061", "UBERON", "0000061", isValidVertex = true))
  }
  test("vtuple invalid prefix parses but is not valid") {
    assert(UriOps.createVTuple("http://purl.obolibrary.org/obo/BFO_0000002") ==
      VTuple("BFO_0000002", "BFO", "0000002", isValidVertex = false))
  }
  test("vtuple non-URI node invalid") {
    assert(UriOps.createVTuple("\"not a URI\"") == VTuple(null, null, null, isValidVertex = false))
  }
  test("vtuple fragment URI without separator invalid") {
    assert(UriOps.createVTuple("http://www.w3.org/2000/01/rdf-schema#subClassOf").term == null)
  }
  test("vtuple NCBITaxon") {
    assert(UriOps.createVTuple("http://purl.obolibrary.org/obo/NCBITaxon_9606") ==
      VTuple("NCBITaxon_9606", "NCBITaxon", "9606", isValidVertex = true))
  }
  test("vtuple HP and MONDO") {
    assert(UriOps.createVTuple("http://purl.obolibrary.org/obo/HP_0000001").isValidVertex)
    assert(UriOps.createVTuple("http://purl.obolibrary.org/obo/MONDO_0000001").isValidVertex)
  }
  test("vtuple pcl rewrite end-to-end") {
    assert(UriOps.createVTuple("http://purl.obolibrary.org/obo/pcl/CS202210140") ==
      VTuple("PCLCS_202210140", "PCLCS", "202210140", isValidVertex = false))
  }
  test("vtuple colon-separated term") {
    assert(UriOps.createVTuple("http://example.org/x/CL:123") ==
      VTuple("CL:123", "CL", "123", isValidVertex = true))
  }
  test("vtuple blank node invalid") {
    assert(!UriOps.createVTuple("_:file#b1").isValidVertex)
  }
  test("vtuple three tokens invalid") {
    assert(UriOps.createVTuple("http://x.org/A_B_C").term == null)
  }

  // --- N3 raw predicate label ---
  test("raw predicate label fragment") {
    assert(UriOps.rawPredicateLabel("http://www.w3.org/2000/01/rdf-schema#subClassOf") == "subClassOf")
  }
  test("raw predicate label path segment") {
    assert(UriOps.rawPredicateLabel("http://purl.obolibrary.org/obo/RO_0002202") == "RO_0002202")
  }

  // --- N4/N5 normalization matrices ---
  // the Column forms GraphOps runs, evaluated on a one-row frame
  private def normalized(f: Column => Column)(s: String): String = {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq(s).toDF("v").select(f($"v")).head().getString(0)
  }
  private def edgeLabel(s: String): String = normalized(Normalize.normalizeEdgeLabel)(s)
  private def edgeSource(s: String): String = normalized(Normalize.normalizeEdgeSource)(s)

  test("normalizeEdgeLabel special cases") {
    assert(edgeLabel("subClassOf") == "SUB_CLASS_OF")
    assert(edgeLabel("disjointWith") == "DISJOINT_WITH")
    assert(edgeLabel("crossSpeciesExactMatch") == "CROSS_SPECIES_EXACT_MATCH")
    assert(edgeLabel("exactMatch") == "EXACT_MATCH")
    assert(edgeLabel("equivalentClass") == "EQUIVALENT_CLASS")
    assert(edgeLabel("seeAlso") == "SEE_ALSO")
  }
  test("normalizeEdgeLabel defaults") {
    assert(edgeLabel("develops from") == "DEVELOPS_FROM")
    assert(edgeLabel("capable of") == "CAPABLE_OF")
    assert(edgeLabel("part of") == "PART_OF")
    assert(edgeLabel("label") == "LABEL")
  }
  test("normalizeEdgeSource matrix") {
    assert(edgeSource("mondo-simple") == "MONDO")
    assert(edgeSource("taxslim") == "NCBITAXON")
    assert(edgeSource("go-plus") == "GO")
    assert(edgeSource("uberon-base") == "UBERON")
    assert(edgeSource("cl") == "CL")
    assert(edgeSource("hp") == "HP")
    assert(edgeSource("pato") == "PATO")
  }

  // --- N4 property: normalized labels never contain spaces ---
  test("normalizeEdgeLabel output has no spaces") {
    check(Prop.forAll { (s: String) =>
      !edgeLabel(s).contains(" ")
    })
  }

  // --- N2 property: id_number URIs round-trip through createVTuple ---
  test("vtuple id+number recompose to term") {
    val alnum = org.scalacheck.Gen.alphaNumStr.suchThat(_.nonEmpty)
    check(Prop.forAll(alnum, alnum) { (id, num) =>
      val v = UriOps.createVTuple(s"http://x.org/${id}_$num")
      v.term == s"${id}_$num" && v.id == id && v.number == num
    })
  }

  // --- N7 docId split properties match reference first-'/' semantics ---
  test("doc id split matrix") {
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq("CL/0000235", "CL-GO/0000235-0031268", "CL0000235")
      .toDF("docid")
      .select(col("docid"),
        UriOps.docCollectionNameCol(col("docid")).as("coll"),
        UriOps.docKeyCol(col("docid")).as("key"))
    val byId = df.collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(byId("CL/0000235") == ("CL", "0000235"))
    assert(byId("CL-GO/0000235-0031268") == ("CL-GO", "0000235-0031268"))
    assert(byId("CL0000235") == (null, null))
  }
}
