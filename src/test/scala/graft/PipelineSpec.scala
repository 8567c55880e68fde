package graft

import graft.pipeline.OntologyPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two-pass pipeline end-to-end over the fixture directory (SURVEY §3.1),
  * writing the parquet graph store + text side outputs.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("two-pass run writes graph store and side outputs") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    OntologyPipeline.run(spark, TestSpark.oboDir, out, phenotypePattern = "macrophage\\.owl")

    val verts = spark.read.parquet(s"$out/ontologies/vertices")
    assert(verts.count() > 0)
    // partition pruning by collection id works
    assert(verts.filter(col("id") === "CL").count() == 6) // the six macrophage-fixture CL terms
    assert(verts.filter(col("id") === "NCBITaxon").count() == 2) // 9605, 9606 (9606 deduped across files)
    val edges = spark.read.parquet(s"$out/ontologies/edges")
    assert(edges.filter(col("from_id") === "CL" && col("to_id") === "GO").count() == 1)

    // pass 2: phenotype subgraph keeps only CL-internal edges
    val pEdges = spark.read.parquet(s"$out/phenotypes/edges")
    assert(pEdges.select("to_id").distinct().collect().map(_.getString(0)).toSet == Set("CL"))

    // text sinks exist
    val labelLines = spark.read.text(s"$out/ontologies/edge_labels.txt")
      .collect().map(_.getString(0)).toSet
    assert(labelLines.contains("subClassOf: SUB_CLASS_OF"))
    assert(labelLines.contains("develops from: DEVELOPS_FROM"))
    val depLines = spark.read.text(s"$out/ontologies/deprecated_terms.txt").collect()
    assert(depLines.isEmpty)

    // S10 catalog: register as SQL-queryable views, then drop (idempotent)
    graft.io.GraphCatalog.registerGraph(spark, s"$out/ontologies", "onto")
    val viaSql = spark.sql(
      "SELECT count(*) FROM onto_edges WHERE from_id = 'CL' AND to_id = 'GO'").collect()(0).getLong(0)
    assert(viaSql == 1)
    graft.io.GraphCatalog.dropGraph(spark, "onto")
    graft.io.GraphCatalog.dropGraph(spark, "onto") // idempotent
    assert(graft.io.GraphCatalog.edgeCollectionName("CL", "GO") == "CL-GO")

    // S11: bulk export of one collection as JSON, read back
    graft.io.GraphSink.exportCollection(spark, s"$out/ontologies", "CL", s"$out/export-cl")
    val exported = spark.read.json(s"$out/export-cl")
    assert(exported.count() == 6)
    assert(exported.columns.contains("number"))

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** A temp copy of the fixture directory, deleted after `body`. */
  private def withFixtureCopy(body: java.nio.file.Path => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-obo")
    try {
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(TestSpark.oboDir), dir.toFile)
      body(dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Bytes read from local files through Hadoop's file system, all threads. */
  private def localBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  test("source stage reads each OWL file once") {
    withFixtureCopy { obo =>
      val owlBytes = obo.toFile.listFiles().filter(_.getName.endsWith(".owl")).map(_.length).sum
      val before = localBytesRead()
      OntologyPipeline.run(spark, obo.toString, obo.resolve("out").toString,
        phenotypePattern = "macrophage\\.owl")
      assert(localBytesRead() - before == owlBytes)
    }
  }

  test("a failed run leaves nothing cached") {
    withFixtureCopy { obo =>
      val out = obo.resolve("out")
      java.nio.file.Files.createDirectories(out)
      // pass 2's first write fails after pass 1 has materialized the sources
      java.nio.file.Files.write(out.resolve("phenotypes"), Array.emptyByteArray)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      intercept[Exception] {
        OntologyPipeline.run(spark, obo.toString, out.toString, phenotypePattern = "macrophage\\.owl")
      }
      assert(java.nio.file.Files.isDirectory(out.resolve("ontologies/vertices")))
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    }
  }

  test("upsert merge: insert-if-absent, overwrite-if-present") {
    import spark.implicits._
    val current = Seq(("CL", "1", "old"), ("CL", "2", "keep")).toDF("id", "number", "label")
    val updates = Seq(("CL", "1", "new"), ("GO", "3", "ins")).toDF("id", "number", "label")
    val merged = graft.io.GraphSink.upsert(current, updates, Seq("id", "number"))
    val got = merged.collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got == Map(("CL", "1") -> "new", ("CL", "2") -> "keep", ("GO", "3") -> "ins"))
  }
}
