package graft

import graft.io.OwlReader
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM parser tests mirroring the reference's element/downloader suites
  * (OntologyElementParserTest.java, OntologyDownloaderTest.java) — no Spark
  * needed because parseTriples/parseElements are pure functions that Spark
  * merely distributes.
  */
class OwlReaderSpec extends AnyFunSuite {
  private def triples(name: String) = OwlReader.parseTriples(name, TestSpark.readFixture(name))
  private def elements(name: String) = OwlReader.parseElements(name, TestSpark.readFixture(name))

  test("macrophage raw parse yields rdf:type owl:Class statements") {
    val ts = triples("macrophage.owl")
    val classes = ts.filter(t => t.predicate == OwlReader.RdfType && t.objectStr == OwlReader.OwlClass)
      .map(_.subject).toSet
    assert(classes.contains("http://purl.obolibrary.org/obo/CL_0000235"))
    assert(classes.contains("http://purl.obolibrary.org/obo/CL_0000000"))
  }

  test("macrophage named subClassOf statements present") {
    val ts = triples("macrophage.owl")
    val objs = ts.filter(t => t.subject == "http://purl.obolibrary.org/obo/CL_0000235" &&
      t.predicate == OwlReader.SubClassOf && t.objIsUri).map(_.objectStr).toSet
    assert(objs == Set(
      "http://purl.obolibrary.org/obo/CL_0000113",
      "http://purl.obolibrary.org/obo/CL_0000145",
      "http://purl.obolibrary.org/obo/CL_0000766"))
  }

  test("macrophage restriction blank nodes carry onProperty and someValuesFrom") {
    val ts = triples("macrophage.owl")
    val blanks = ts.filter(t => t.subject == "http://purl.obolibrary.org/obo/CL_0000235" &&
      t.predicate == OwlReader.SubClassOf && t.objIsBlank).map(_.objectStr)
    assert(blanks.size == 3)
    val onProps = ts.filter(t => blanks.contains(t.subject) && t.predicate == OwlReader.OnProperty)
      .map(_.objectStr).toSet
    assert(onProps == Set(
      "http://purl.obolibrary.org/obo/RO_0002202",
      "http://purl.obolibrary.org/obo/RO_0002215",
      "http://purl.obolibrary.org/obo/RO_0002175"))
  }

  test("macrophage literal statements carry lexical forms in document order") {
    val ts = triples("macrophage.owl")
    val xrefs = ts.filter(t => t.subject == "http://purl.obolibrary.org/obo/CL_0000235" &&
      t.predicate == "http://www.geneontology.org/formats/oboInOwl#hasDbXref")
      .sortBy(_.stmtIdx).map(_.objLexical)
    assert(xrefs == Seq("ZFA:0009141", "CALOHA:TS-0587", "MESH:D008264", "FMA:83585", "BTO:0000801", "FMA:63261"))
  }

  // --- element harvest (reference: OntologyElementParserTest.java) ---

  test("macrophage element harvest: terms, ids, valid filtered") {
    val (terms, ids, meta) = elements("macrophage.owl")
    val byTerm = terms.map(t => t.term -> t).toMap
    assert(byTerm("CL_0000235").label == "macrophage")
    assert(byTerm("CL_0000235").purl == "http://purl.obolibrary.org/obo/CL_0000235")
    assert(byTerm("CL_0000000").label == "cell")
    assert(byTerm("CL_0000576").label == "monocyte")
    assert(ids.map(_.id).contains("CL"))
    assert(!ids.map(_.id).contains("valid"))
    assert(meta.title == null && meta.description == null)
    assert(meta.purl == "http://purl.obolibrary.org/obo/cl.owl")
    assert(meta.versionIri == "http://purl.obolibrary.org/obo/cl/releases/2024-09-26/cl.owl")
    assert(meta.root == "http://purl.obolibrary.org/obo/CL_0000000")
  }

  test("ro element harvest: RO and IAO ids, relation labels") {
    val (terms, ids, meta) = elements("ro.owl")
    val byTerm = terms.map(t => t.term -> t).toMap
    assert(ids.map(_.id).toSet.contains("RO"))
    assert(ids.map(_.id).toSet.contains("IAO"))
    assert(byTerm("RO_0002202").label == "develops from")
    assert(byTerm("RO_0002215").label == "capable of")
    assert(byTerm("IAO_0000115").label == "definition")
    assert(meta.purl == "http://purl.obolibrary.org/obo/ro.owl")
    assert(meta.versionIri == "http://purl.obolibrary.org/obo/ro/releases/2024-04-24/ro.owl")
  }

  // --- version sniffing (reference: OntologyDownloaderTest.java:19-44, N6) ---

  private def sniffVersion(name: String): String = {
    val m = elements(name)._3
    val date = "(\\d{4}-\\d{2}-\\d{2})".r
    Option(m.versionInfo).flatMap(v => date.findFirstIn(v))
      .orElse(Option(m.versionIri).flatMap(v => date.findFirstIn(v)))
      .orNull
  }

  test("version from versionInfo") { assert(sniffVersion("version-info-test.owl") == "2024-01-15") }
  test("version falls back to versionIRI") { assert(sniffVersion("macrophage.owl") == "2024-09-26") }
  test("versionInfo preferred over versionIRI") { assert(sniffVersion("ro.owl") == "2024-04-24") }
  test("no version yields null") { assert(sniffVersion("no-version-test.owl") == null) }

  // --- file listing (reference: PathUtilitiesTest.java:20-59, S1) ---

  test("listFilesMatchingPattern finds exactly the 5 fixtures") {
    val files = OwlReader.listFilesMatchingPattern(TestSpark.oboDir, ".*\\.owl")
    assert(files.size == 5)
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet == Set(
      "macrophage.owl", "ro.owl", "no-IAO_0000700-test.owl", "version-info-test.owl", "no-version-test.owl"))
  }

  test("DOCTYPE internal entity references resolve (real OBO files use &obo; etc.)") {
    val path = getClass.getClassLoader.getResource("obo-extra/entity-refs.owl").getFile
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val ts = OwlReader.parseTriples("entity-refs.owl", bytes)
    assert(ts.exists(t => t.subject == "http://purl.obolibrary.org/obo/CL_0000001" &&
      t.predicate == OwlReader.SubClassOf &&
      t.objectStr == "http://purl.obolibrary.org/obo/CL_0000000"))
    assert(ts.exists(t => t.objLexical == "entity ref class & more"))
    val (terms, _, meta) = OwlReader.parseElements("entity-refs.owl", bytes)
    assert(terms.exists(t => t.term == "CL_0000001" &&
      t.purl == "http://purl.obolibrary.org/obo/CL_0000001"))
    assert(meta.purl == "http://purl.obolibrary.org/obo/cl.owl")
    assert(meta.root == "http://purl.obolibrary.org/obo/CL_0000000")
  }

  test("permissive mode skips corrupt files; corruptFiles audits them") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(TestSpark.fixture("macrophage.owl")), dir.resolve("good.owl"))
      java.nio.file.Files.write(dir.resolve("bad.owl"), "<rdf:RDF <broken".getBytes("UTF-8"))
      val files = OwlReader.listFilesMatchingPattern(dir.toString, ".*\\.owl")
      // fail-fast default: job dies on the corrupt file
      intercept[org.apache.spark.SparkException] {
        OwlReader.triples(spark, files).count()
      }
      // permissive: good file's triples survive
      assert(OwlReader.triples(spark, files, permissive = true).count() > 0)
      val corrupt = OwlReader.corruptFiles(spark, files).collect()
      assert(corrupt.map(_._1).toSeq == Seq("bad.owl"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("fail-fast parse errors name the file, line and column") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-truncated")
    try {
      val whole = TestSpark.readFixture("macrophage.owl")
      java.nio.file.Files.write(dir.resolve("truncated-macrophage.owl"), whole.take(whole.length / 2))
      val files = OwlReader.listFilesMatchingPattern(dir.toString, ".*\\.owl")
      val e = intercept[org.apache.spark.SparkException](OwlReader.triples(spark, files).count())
      assert(e.getMessage.contains("cannot parse truncated-macrophage.owl at line "), e.getMessage)
      assert(e.getMessage.contains(", column "), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  // --- round-2 parser fidelity (ADVICE.md items) ---

  test("xml:lang inherits from ancestor elements (rdf:RDF and node element)") {
    val doc =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
        |         xmlns:owl="http://www.w3.org/2002/07/owl#" xml:lang="en">
        |  <owl:Class rdf:about="http://ex.org/A">
        |    <rdfs:label>inherited from root</rdfs:label>
        |    <rdfs:comment xml:lang="fr">explicit wins</rdfs:comment>
        |    <rdfs:seeAlso xml:lang="">reset to none</rdfs:seeAlso>
        |  </owl:Class>
        |  <owl:Class rdf:about="http://ex.org/B" xml:lang="de">
        |    <rdfs:label>inherited from node</rdfs:label>
        |  </owl:Class>
        |</rdf:RDF>""".stripMargin
    val ts = OwlReader.parseTriples("lang.owl", doc.getBytes("UTF-8"))
    def lit(subj: String, pred: String) =
      ts.find(t => t.subject == subj && t.predicate.endsWith(pred)).get
    assert(lit("http://ex.org/A", "label").lang == "en")
    assert(lit("http://ex.org/A", "label").objectStr == "\"inherited from root\"@en")
    assert(lit("http://ex.org/A", "comment").lang == "fr")
    assert(lit("http://ex.org/A", "seeAlso").lang == null)
    assert(lit("http://ex.org/B", "label").lang == "de")
  }

  test("nested owl elements each get their first descendant label (DOM semantics)") {
    // Outer owl element has no direct label of its own before the nested one:
    // getElementsByTagName in the reference still assigns it the nested
    // element's label (first descendant in document order).
    val doc =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
        |         xmlns:owl="http://www.w3.org/2002/07/owl#">
        |  <owl:Class rdf:about="http://ex.org/obo/OUTER_0000001">
        |    <rdfs:subClassOf>
        |      <owl:Restriction rdf:about="http://ex.org/obo/INNER_0000002">
        |        <rdfs:label>inner label</rdfs:label>
        |      </owl:Restriction>
        |    </rdfs:subClassOf>
        |    <rdfs:label>outer label</rdfs:label>
        |  </owl:Class>
        |</rdf:RDF>""".stripMargin
    val (terms, _, _) = OwlReader.parseElements("nested.owl", doc.getBytes("UTF-8"))
    val byTerm = terms.map(t => t.term -> t.label).toMap
    assert(byTerm("INNER_0000002") == "inner label")
    // first-descendant-wins: the outer frame takes the inner's label, which
    // precedes the outer's own label in document order
    assert(byTerm("OUTER_0000001") == "inner label")
  }

  test("external DTD subsets are blocked (no executor-side fetches)") {
    val dtd = java.nio.file.Files.createTempFile("graft-evil", ".dtd")
    try {
      java.nio.file.Files.write(dtd, "<!ENTITY ext \"EXTERNAL-CONTENT\">".getBytes("UTF-8"))
      val doc =
        s"""<?xml version="1.0"?>
           |<!DOCTYPE rdf:RDF SYSTEM "${dtd.toUri}">
           |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
           |         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
           |         xmlns:owl="http://www.w3.org/2002/07/owl#">
           |  <owl:Class rdf:about="http://ex.org/A"><rdfs:label>&ext;</rdfs:label></owl:Class>
           |</rdf:RDF>""".stripMargin
      // blocked external subset => either the undeclared entity fails the
      // parse, or it resolves empty — its content must never appear
      val leaked =
        try OwlReader.parseTriples("evil.owl", doc.getBytes("UTF-8"))
          .exists(t => t.objLexical != null && t.objLexical.contains("EXTERNAL-CONTENT"))
        catch { case _: Exception => false }
      assert(!leaked)
    } finally java.nio.file.Files.deleteIfExists(dtd)
  }

  test("an empty path list reads as an empty dataset (a directory without ro.owl)") {
    assert(OwlReader.terms(TestSpark.spark, Nil).count() == 0)
  }

  test("listFilesMatchingPattern throws on bad dir") {
    intercept[java.io.IOException] {
      OwlReader.listFilesMatchingPattern("/nonexistent/dir", ".*")
    }
  }
}
