package graft

import graft.io.OwlReader
import graft.ops.{GraphOps, TripleOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden graph test — the macrophage vertex and its six edges
  * (reference: OntologyGraphBuilderTest.java:344-399).
  */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val fixtureFiles = Seq(TestSpark.fixture("macrophage.owl"), TestSpark.fixture("ro.owl"))

  private lazy val (vertices, deprecated, edges) = {
    val raw = OwlReader.triples(spark, fixtureFiles).toDF()
    val meta = OwlReader.meta(spark, fixtureFiles).toDF()
    val terms = OwlReader.terms(spark, fixtureFiles).toDF()
    val roTerms = terms.filter(col("srcFile") === "ro.owl").select("term", "label")
    val unique = TripleOps.uniqueTriples(TripleOps.collectTriples(raw, meta, testObject = false)).cache()
    val verts = GraphOps.vertices(unique)
    val attrs = GraphOps.vertexAttributes(unique, roTerms)
    val (kept, dep) = GraphOps.routeDeprecated(verts, attrs)
    val allEdges = GraphOps.edges(unique, roTerms)
    val e = GraphOps.edgesWithIntegrity(allEdges, kept).cache()
    (kept.cache(), dep, e)
  }

  private def attrsOf(id: String, number: String): Map[String, Seq[String]] = {
    val rows = vertices.filter(col("id") === id && col("number") === number)
      .select("attrs").collect()
    assert(rows.length == 1, s"expected exactly one vertex $id/$number")
    rows(0).getMap[String, scala.collection.Seq[String]](0)
      .map { case (k, v) => k -> v.toSeq }.toMap
  }

  test("golden macrophage vertex attributes") {
    val a = attrsOf("CL", "0000235")
    assert(a("hasDbXref") == Seq("ZFA:0009141", "CALOHA:TS-0587", "MESH:D008264", "FMA:83585", "BTO:0000801", "FMA:63261"))
    assert(a("hasExactSynonym") == Seq("histiocyte"))
    assert(a("label") == Seq("macrophage"))
    assert(a("id") == Seq("CL:0000235"))
    assert(a("definition") == Seq("A mononuclear phagocyte present in variety of tissues, typically differentiated from monocytes, capable of phagocytosing a variety of extracellular particulate material, including immune complexes, microorganisms, and dead cells."))
    assert(a("comment").head.startsWith("Morphology: Diameter 30_M-80 _M, abundant cytoplasm"))
    assert(a("comment").head.endsWith("lineage: hematopoietic, myeloid."))
  }

  test("vertex set is the valid (id, number) universe") {
    val ids = vertices.select("id", "number").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ids == Set(
      ("CL", "0000000"), ("CL", "0000113"), ("CL", "0000145"), ("CL", "0000235"),
      ("CL", "0000576"), ("CL", "0000766"), ("GO", "0031268"), ("NCBITaxon", "9606")))
  }

  test("golden macrophage edges with normalized labels") {
    val e = edges.select("from_id", "from_number", "to_id", "to_number", "label", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> ((r.getString(4), r.getString(5)))).toMap
    assert(e(("CL", "0000235", "CL", "0000113")) == ("SUB_CLASS_OF", "CL"))
    assert(e(("CL", "0000235", "CL", "0000145")) == ("SUB_CLASS_OF", "CL"))
    assert(e(("CL", "0000235", "CL", "0000766")) == ("SUB_CLASS_OF", "CL"))
    assert(e(("CL", "0000235", "CL", "0000576")) == ("DEVELOPS_FROM", "CL"))
    assert(e(("CL", "0000235", "GO", "0031268")) == ("CAPABLE_OF", "CL"))
    assert(e(("CL", "0000235", "NCBITaxon", "9606")) == ("PRESENT_IN_TAXON", "CL"))
    assert(e.size == 6)
  }

  test("edge labels list mode carries normalized labels") {
    val ll = edges.filter(col("to_id") === "GO")
      .select("labels").collect()(0).getSeq[String](0)
    assert(ll == Seq("CAPABLE_OF"))
  }

  test("edge label dictionary for the S7 sink") {
    val raw = OwlReader.triples(spark, fixtureFiles).toDF()
    val meta = OwlReader.meta(spark, fixtureFiles).toDF()
    val terms = OwlReader.terms(spark, fixtureFiles).toDF()
    val roTerms = terms.filter(col("srcFile") === "ro.owl").select("term", "label")
    val unique = TripleOps.uniqueTriples(TripleOps.collectTriples(raw, meta, testObject = false))
    val labels = GraphOps.edgeLabels(GraphOps.edges(unique, roTerms))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels("subClassOf") == "SUB_CLASS_OF")
    assert(labels("develops from") == "DEVELOPS_FROM")
    assert(labels("capable of") == "CAPABLE_OF")
    assert(labels("present in taxon") == "PRESENT_IN_TAXON")
  }

  test("no deprecated vertices in the fixture") {
    assert(deprecated.count() == 0)
  }

  test("deprecated routing and referential integrity") {
    import spark.implicits._
    // Synthetic: one deprecated vertex, one obsolete label, one kept.
    val verts = Seq(("CL", "1"), ("CL", "2"), ("CL", "3"), ("GO", "9")).toDF("id", "number")
    val attrs = Seq(
      ("CL", "1", Map("deprecated" -> Seq("true"), "label" -> Seq("x"))),
      ("CL", "2", Map("label" -> Seq("obsolete thing"))),
      ("CL", "3", Map("label" -> Seq("fine"))))
      .toDF("id", "number", "attrs")
    val (kept, dep) = GraphOps.routeDeprecated(verts, attrs)
    assert(kept.select("id", "number").collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("CL", "3"), ("GO", "9"))) // GO/9 has no attrs at all -> kept
    assert(dep.count() == 2)
    // RI: edges touching dropped vertices disappear
    val e = Seq(("CL", "3", "GO", "9", "L", "S"), ("CL", "1", "GO", "9", "L", "S"), ("CL", "3", "CL", "2", "L", "S"))
      .toDF("from_id", "from_number", "to_id", "to_number", "label", "source")
    val ri = GraphOps.edgesWithIntegrity(e, kept)
    assert(ri.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet ==
      Set(("CL", "3", "GO", "9")))
  }

  test("edge identity drops the predicate: two predicates between one pair collapse") {
    import spark.implicits._
    // reference: OntologyGraphBuilder.java:382-401 — key is (from,to) only;
    // last label wins (deterministic here via (src_file, stmt_idx))
    val tr = Seq(
      ("a.owl", 1L, "http://x/CL_1", "http://www.w3.org/2000/01/rdf-schema#subClassOf", "http://x/CL_2", true, false, false, null.asInstanceOf[String]),
      ("a.owl", 2L, "http://x/CL_1", "http://x/RO_0002202", "http://x/CL_2", true, false, false, null.asInstanceOf[String]))
      .toDF("src_file", "stmt_idx", "subject", "predicate", "object",
        "obj_is_uri", "obj_is_literal", "obj_is_blank", "obj_lexical")
    val ro = Seq(("RO_0002202", "develops from")).toDF("term", "label")
    val e = graft.ops.GraphOps.edges(tr, ro).collect()
    assert(e.length == 1)
    val row = e(0)
    assert(row.getAs[String]("label") == "DEVELOPS_FROM") // last by stmt_idx wins
    assert(row.getSeq[String](row.fieldIndex("labels")) == Seq("SUB_CLASS_OF", "DEVELOPS_FROM"))
  }

  test("attribute last-wins mode keeps the last literal per (vertex, attribute)") {
    import spark.implicits._
    val tr = Seq(
      ("a.owl", 1L, "http://x/CL_1", "http://y#label", "\"first\"", false, true, false, "first"),
      ("b.owl", 2L, "http://x/CL_1", "http://y#label", "\"second\"", false, true, false, "second"))
      .toDF("src_file", "stmt_idx", "subject", "predicate", "object",
        "obj_is_uri", "obj_is_literal", "obj_is_blank", "obj_lexical")
    val ro = Seq.empty[(String, String)].toDF("term", "label")
    val attrs = graft.ops.GraphOps.vertexAttributes(tr, ro, lastWins = true).collect()(0)
    val m = attrs.getMap[String, scala.collection.Seq[String]](attrs.fieldIndex("attrs"))
    assert(m("label").toSeq == Seq("second"))
  }

  test("phenotype pass keeps only CL-internal edges") {
    val raw = OwlReader.triples(spark, Seq(TestSpark.fixture("macrophage.owl"))).toDF()
    val meta = OwlReader.meta(spark, Seq(TestSpark.fixture("macrophage.owl"))).toDF()
    val terms = OwlReader.terms(spark, fixtureFiles).toDF()
    val roTerms = terms.filter(col("srcFile") === "ro.owl").select("term", "label")
    val unique = TripleOps.uniqueTriples(TripleOps.collectTriples(raw, meta, testObject = true))
    val e = GraphOps.edges(unique, roTerms)
    val pairs = e.select("to_id").distinct().collect().map(_.getString(0)).toSet
    assert(pairs == Set("CL"))
  }
  test("snapshotDiff: all four change states; null-safe value comparison") {
    import spark.implicits._
    val oldSnap = Seq((1L, Some("a")), (2L, None), (3L, Some("c")), (4L, Some("d")),
      (6L, None)).toDF("key", "v")
    val newSnap = Seq((1L, Some("a")), (2L, Some("x")), (3L, None), (5L, Some("e")),
      (6L, None)).toDF("key", "v")
    val got = graft.ops.GraphOps.snapshotDiff(oldSnap, newSnap, Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(
      1L -> "unchanged",
      2L -> "changed",   // null -> x is a change, not a match
      3L -> "changed",   // c -> null likewise
      4L -> "removed",
      5L -> "added",
      6L -> "unchanged"  // null <=> null matches (null-safe equality)
    ))
  }
}
