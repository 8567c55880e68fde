package graft

import graft.io.OwlReader
import graft.ops.TripleOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden triple-collection tests mirroring OntologyTripleParserTest.java. */
class TripleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def collect(files: Seq[String], testObject: Boolean = false) = {
    val raw = OwlReader.triples(spark, files).toDF()
    val meta = OwlReader.meta(spark, files).toDF()
    TripleOps.collectTriples(raw, meta, testObject)
  }

  private lazy val macroTriples =
    collect(Seq(TestSpark.fixture("macrophage.owl"))).cache()

  private val CL235 = "http://purl.obolibrary.org/obo/CL_0000235"

  test("all collected subjects are URIs (no anonymous)") {
    assert(macroTriples.count() > 0)
    assert(macroTriples.filter(col("subject").startsWith("_:")).count() == 0)
  }

  test("macrophage subClassOf triples to CL_0000113/145/766") {
    val objs = macroTriples
      .filter(col("subject") === CL235 && col("predicate") === OwlReader.SubClassOf && col("obj_is_uri"))
      .select("object").collect().map(_.getString(0)).toSet
    assert(objs.contains("http://purl.obolibrary.org/obo/CL_0000113"))
    assert(objs.contains("http://purl.obolibrary.org/obo/CL_0000145"))
    assert(objs.contains("http://purl.obolibrary.org/obo/CL_0000766"))
  }

  test("flattened restriction: develops from monocyte") {
    assert(macroTriples.filter(col("subject") === CL235 &&
      col("predicate") === "http://purl.obolibrary.org/obo/RO_0002202" &&
      col("object") === "http://purl.obolibrary.org/obo/CL_0000576").count() == 1)
  }

  test("flattened restriction: capable of GO_0031268") {
    assert(macroTriples.filter(col("subject") === CL235 &&
      col("predicate") === "http://purl.obolibrary.org/obo/RO_0002215" &&
      col("object") === "http://purl.obolibrary.org/obo/GO_0031268").count() == 1)
  }

  test("literal triples exist for macrophage") {
    assert(macroTriples.filter(col("subject") === CL235 && col("obj_is_literal")).count() > 0)
  }

  test("rdf:type and non-whitelisted predicates are excluded") {
    assert(macroTriples.filter(col("predicate") === OwlReader.RdfType).count() == 0)
  }

  test("uniqueTriples skips ro.owl") {
    val c = collect(Seq(TestSpark.fixture("ro.owl"), TestSpark.fixture("macrophage.owl")))
    val uniq = TripleOps.uniqueTriples(c)
    assert(uniq.count() > 0)
    assert(uniq.filter(col("subject").startsWith("http://purl.obolibrary.org/obo/RO_")).count() == 0)
  }

  test("uniqueTriples deduplicates same file twice") {
    val once = TripleOps.uniqueTriples(collect(Seq(TestSpark.fixture("macrophage.owl"))))
    val raw2 = OwlReader.triples(spark, Seq(TestSpark.fixture("macrophage.owl"))).toDF()
    val meta2 = OwlReader.meta(spark, Seq(TestSpark.fixture("macrophage.owl"))).toDF()
    // Union the same collected set twice: named triples dedup to the same count.
    val c = TripleOps.collectTriples(raw2, meta2, testObject = false)
    val twice = TripleOps.uniqueTriples(c.union(c))
    assert(once.count() == twice.count())
  }

  test("root NS from IAO_0000700 for macrophage") {
    val raw = OwlReader.triples(spark, Seq(TestSpark.fixture("macrophage.owl"))).toDF()
    val meta = OwlReader.meta(spark, Seq(TestSpark.fixture("macrophage.owl"))).toDF()
    val ns = TripleOps.rootNamespaces(raw, meta).collect()
    assert(ns.length == 1 && ns(0).getString(1) == "http://purl.obolibrary.org/obo/CL")
  }

  test("root NS fallback to first class when no IAO_0000700") {
    val f = TestSpark.fixture("no-IAO_0000700-test.owl")
    val raw = OwlReader.triples(spark, Seq(f)).toDF()
    val meta = OwlReader.meta(spark, Seq(f)).toDF()
    val ns = TripleOps.rootNamespaces(raw, meta).collect()
    assert(ns.length == 1 && ns(0).getString(1) == "http://purl.obolibrary.org/obo/NCBITaxon")
  }

  test("header roots equal the element harvest's meta roots on every fixture") {
    val dirs = Seq(TestSpark.oboDir, new java.io.File(TestSpark.oboDir).getParent + "/obo-extra")
    val files = dirs.flatMap(OwlReader.listFilesMatchingPattern(_, ".*\\.owl"))
    assert(files.exists(_.endsWith("/no-IAO_0000700-test.owl")) && files.exists(_.endsWith("/entity-refs.owl")))
    def roots(df: org.apache.spark.sql.DataFrame) =
      df.select("srcFile", "root").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val fromHeader = roots(TripleOps.ontologyRoots(OwlReader.triples(spark, files).toDF()))
    val fromMeta = roots(OwlReader.meta(spark, files).toDF())
    assert(fromHeader == fromMeta)
    assert(fromHeader.size == files.size)
    assert(fromHeader("no-IAO_0000700-test.owl") == null)
    assert(fromHeader("entity-refs.owl") == "http://purl.obolibrary.org/obo/CL_0000000")
  }

  test("testObject=true drops foreign-NS URI objects but keeps literals") {
    val pheno = collect(Seq(TestSpark.fixture("macrophage.owl")), testObject = true)
    // GO/NCBITaxon objects are outside the CL root namespace -> dropped
    assert(pheno.filter(col("object") === "http://purl.obolibrary.org/obo/GO_0031268").count() == 0)
    assert(pheno.filter(col("object") === "http://purl.obolibrary.org/obo/NCBITaxon_9606").count() == 0)
    // CL-internal URI objects and literal objects survive
    assert(pheno.filter(col("object") === "http://purl.obolibrary.org/obo/CL_0000576").count() == 1)
    assert(pheno.filter(col("subject") === CL235 && col("obj_is_literal")).count() > 0)
  }

  test("empty input yields empty output") {
    import spark.implicits._
    val raw = spark.emptyDataset[graft.model.TripleRow].toDF()
    val meta = spark.emptyDataset[graft.model.OntoMeta].toDF()
    assert(TripleOps.uniqueTriples(TripleOps.collectTriples(raw, meta, testObject = false)).count() == 0)
  }
}
