package graft

import graft.io.{GraphSink, OwlReader}
import graft.ops.{GraphOps, TripleOps}
import graft.pipeline.OntologyPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

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
  private def localBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).map(_.longValue).getOrElse(0L)

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
      // pass 2's first write fails after pass 1's writes have materialized
      // the shared frames
      java.nio.file.Files.write(out.resolve("phenotypes"), Array.emptyByteArray)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      intercept[Exception] {
        OntologyPipeline.run(spark, obo.toString, out.toString, phenotypePattern = "macrophage\\.owl")
      }
      assert(java.nio.file.Files.isDirectory(out.resolve("ontologies/vertices")))
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
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

  // ------------------------------------------------- fused passes vs per pass

  /** The store as two separate passes of the public single-pass calls write
    * it: each pass collects, dedups and builds its graph on its own (the
    * reference's shape, OntologyGraphBuilder.java:566-586).
    */
  private def perPassRun(oboDir: String, out: String, lastWins: Boolean, pattern: String): Unit = {
    val files = OwlReader.listFilesMatchingPattern(oboDir, ".*\\.owl")
    def name(f: String) = f.substring(f.lastIndexOf('/') + 1)
    val (dictionary, ontologies) = files.partition(name(_) == OwlReader.DictionaryFile)
    val raw = OwlReader.triples(spark, ontologies).toDF()
    val roTerms = OwlReader.terms(spark, dictionary).toDF().select("term", "label")
    val meta = TripleOps.ontologyRoots(raw)
    def pass(raw: org.apache.spark.sql.DataFrame, meta: org.apache.spark.sql.DataFrame,
             testObject: Boolean, dir: String): Unit = {
      val unique = TripleOps.uniqueTriples(TripleOps.collectTriples(raw, meta, testObject))
      val (kept, deprecated) = GraphOps.routeDeprecated(
        GraphOps.vertices(unique), GraphOps.vertexAttributes(unique, roTerms, lastWins))
      val allEdges = GraphOps.edges(unique, roTerms)
      GraphSink.writeVertices(kept, dir)
      GraphSink.writeEdges(GraphOps.edgesWithIntegrity(allEdges, kept), dir)
      GraphSink.writeDeprecatedTerms(deprecated, dir)
      GraphSink.writeEdgeLabels(GraphOps.edgeLabels(allEdges), dir)
    }
    pass(raw, meta, testObject = false, s"$out/ontologies")
    val pheno = col("srcFile").isin(files.map(name).filter(_.matches(pattern)): _*)
    if (files.map(name).exists(_.matches(pattern)))
      pass(raw.filter(pheno), meta.filter(pheno), testObject = true, s"$out/phenotypes")
  }

  private val Tables = Seq("vertices", "edges", "deprecated_terms.txt", "edge_labels.txt")

  /** Digest of every table of every pass directory under `out`: the sorted
    * rows as JSON (parquet) or lines (text), hashed.
    */
  private def storeDigests(out: String): Map[String, String] =
    (for {
      pass <- Seq("ontologies", "phenotypes") if Files.isDirectory(Path.of(out, pass))
      table <- Tables
    } yield {
      val path = s"$out/$pass/$table"
      val rows =
        if (table.endsWith(".txt")) spark.read.text(path).collect().map(_.getString(0))
        else spark.read.parquet(path).toJSON.collect()
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      s"$pass/$table" -> md.digest().map("%02x".format(_)).mkString
    }).toMap

  private def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Runs the fused pipeline and the per-pass composition over `obo`, in both
    * attribute modes, and requires equal digests for every table of both
    * passes.
    */
  private def assertFusedMatchesPerPass(obo: String, pattern: String): Unit =
    for (lastWins <- Seq(false, true)) withTempDir("graft-fused") { dir =>
      val fused = dir.resolve("fused").toString
      val perPass = dir.resolve("per-pass").toString
      OntologyPipeline.run(spark, obo, fused, lastWins = lastWins, phenotypePattern = pattern)
      perPassRun(obo, perPass, lastWins, pattern)
      val (got, want) = (storeDigests(fused), storeDigests(perPass))
      assert(want.size == 8, s"both passes, four tables each: ${want.keys}")
      assert(got == want, s"lastWins=$lastWins")
    }

  test("fused passes write the per-pass store: fixtures, both attribute modes") {
    assertFusedMatchesPerPass(TestSpark.oboDir, "macrophage\\.owl")
  }

  /** A CL class, its literals and its edges to CL_0000002 (two predicates,
    * one edge) and to GO, with the property elements in the given order.
    */
  private def corpusFile(props: Seq[String]): String = {
    val obo = "http://purl.obolibrary.org/obo/"
    s"""<?xml version="1.0"?>
       |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
       |  xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
       |  xmlns:owl="http://www.w3.org/2002/07/owl#"
       |  xmlns:obo="$obo"
       |  xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#">
       |  <owl:Ontology rdf:about="${obo}cl.owl">
       |    <obo:IAO_0000700 rdf:resource="${obo}CL_0000000"/>
       |  </owl:Ontology>
       |  <owl:Class rdf:about="${obo}CL_0000001">
       |    ${props.mkString("\n    ")}
       |  </owl:Class>
       |  <owl:Class rdf:about="${obo}CL_0000002">
       |    <rdfs:label>cell two</rdfs:label>
       |  </owl:Class>
       |</rdf:RDF>
       |""".stripMargin
  }

  private val Props = Seq(
    """<rdfs:label>cell one</rdfs:label>""",
    """<oboInOwl:hasExactSynonym>syn a</oboInOwl:hasExactSynonym>""",
    """<oboInOwl:hasExactSynonym>syn b</oboInOwl:hasExactSynonym>""",
    """<rdfs:subClassOf rdf:resource="http://purl.obolibrary.org/obo/CL_0000002"/>""",
    """<obo:RO_0002202 rdf:resource="http://purl.obolibrary.org/obo/CL_0000002"/>""",
    """<obo:RO_0002215 rdf:resource="http://purl.obolibrary.org/obo/GO_0000001"/>""")

  /** cl.owl plus `a_import.owl`, which sorts first and repeats cl.owl's
    * statements in reverse order: pass 1's earliest provenance for each
    * repeated triple is in a_import.owl, pass 2's in cl.owl.
    */
  private def withReorderedCorpus(body: Path => Unit): Unit = withTempDir("graft-obo") { dir =>
    Files.write(dir.resolve("cl.owl"), corpusFile(Props).getBytes("UTF-8"))
    Files.write(dir.resolve("a_import.owl"), corpusFile(Props.reverse).getBytes("UTF-8"))
    Files.copy(Path.of(TestSpark.fixture("ro.owl")), dir.resolve("ro.owl"))
    body(dir)
  }

  test("fused passes write the per-pass store: pass 2 keeps its own provenance") {
    withReorderedCorpus { obo =>
      assertFusedMatchesPerPass(obo.toString, "cl\\.owl")
      // the two passes do order CL_0000001's values and edge labels differently
      withTempDir("graft-fused") { out =>
        OntologyPipeline.run(spark, obo.toString, out.toString)
        def synonyms(pass: String) = spark.read.parquet(s"$out/$pass/vertices")
          .filter(col("number") === "0000001")
          .select(col("attrs")("hasExactSynonym")).head().getSeq[String](0)
        def edgeLabel(pass: String) = spark.read.parquet(s"$out/$pass/edges")
          .filter(col("from_number") === "0000001" && col("to_number") === "0000002")
          .select("label").head().getString(0)
        assert(synonyms("ontologies") == Seq("syn b", "syn a"))
        assert(synonyms("phenotypes") == Seq("syn a", "syn b"))
        assert(edgeLabel("ontologies") != edgeLabel("phenotypes"))
        assert(spark.read.parquet(s"$out/phenotypes/edges").filter(col("to_id") === "GO").isEmpty)
      }
    }
  }

  test("fused store digests do not depend on the shuffle partition count") {
    withReorderedCorpus { obo =>
      val digests = Seq(1, 3, 8).map { n =>
        withTempDir("graft-fused") { out =>
          graft.ops.SessionConf.withShufflePartitions(spark, n) {
            OntologyPipeline.run(spark, obo.toString, out.toString)
          }
          storeDigests(out.toString)
        }
      }
      assert(digests.head.size == 8)
      assert(digests.distinct.size == 1)
    }
  }

  test("the CLI rejects an unknown flag or a fourth argument before any session starts") {
    val out = Files.createTempDirectory("graft-pipeline-cli")
    try {
      val javaBin = new java.io.File(sys.props("java.home"), "bin/java").getPath
      for (bad <- Seq(Seq("--lastwins"), Seq("macrophage\\.owl", "extra"))) {
        val cmd = Seq(javaBin, "-Xmx512m", "-cp", sys.props("java.class.path"),
          "graft.pipeline.OntologyPipeline", TestSpark.oboDir, out.toString) ++ bad
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val log = new String(p.getInputStream.readAllBytes(), "UTF-8")
        assert(p.waitFor() != 0, log.takeRight(2000))
        assert(log.contains("usage: OntologyPipeline"), log.takeRight(2000))
        assert(!log.contains("Running Spark version"), log.takeRight(2000))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  test("a phenotype pattern that matches no file writes no phenotypes dir") {
    withTempDir("graft-fused") { out =>
      OntologyPipeline.run(spark, TestSpark.oboDir, out.toString, phenotypePattern = "no-such-file\\.owl")
      assert(Files.isDirectory(out.resolve("ontologies/vertices")))
      assert(!Files.exists(out.resolve("phenotypes")))
      withTempDir("graft-fused") { perPass =>
        perPassRun(TestSpark.oboDir, perPass.toString, lastWins = false, "no-such-file\\.owl")
        assert(storeDigests(out.toString) == storeDigests(perPass.toString))
      }
    }
  }
}
