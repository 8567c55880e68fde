package graft.pipeline

import graft.io.{GraphSink, OwlReader}
import graft.ops.{GraphOps, TripleOps}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The flagship two-pass ETL DAG (SURVEY.md §3.1,
  * reference: OntologyGraphBuilder.main, OntologyGraphBuilder.java:491-626):
  *
  * pass 1 ("ontologies"): all OWL files (ro.owl as label dictionary only) →
  * unique triples → vertices + attributes + edges → graph store + text sinks.
  * pass 2 ("phenotypes"): cl.owl only, testObject=true, RO dictionary
  * injected (reference :577) → CL-only subgraph.
  *
  * Source stage: every file is read once, for one role. ro.owl goes through
  * the element harvest only (`OwlReader.terms`, its relation labels); every
  * other file goes through the triple parse only (`OwlReader.triples`), and
  * its root term is read off its own parsed header statements
  * (`TripleOps.ontologyRoots`) instead of a second metadata scan.
  *
  * Both passes are one DAG. The reference rebuilds pass 2 from a fresh parse
  * of cl.owl (OntologyGraphBuilder.java:566-586); here pass 2's rows are a
  * subset of pass 1's, so triples are collected and deduplicated once, each
  * unique triple tagged with pass 2 and its pass-2 provenance. Vertices,
  * attributes, routing and edges are built once over the tagged rows; each
  * pass's sinks, RI and edge labels read its view (`TripleOps.passView`).
  *
  * Cached: `raw` and the RO dictionary; the tagged unique triples,
  * materialized at once so `raw` is released before anything else is
  * cached; the routed vertices of both passes. Edges are not cached: a
  * cached frame keeps the shuffle's partition count, so each edge
  * collection would be written as more files. All is released when the run
  * returns or throws.
  *
  * The entry point takes (oboDir, outDir) parameters, which the reference's
  * integration test implies but its main ignores (SURVEY §3.1 discrepancy
  * note, OntologyGraphBuilderTest.java:347-348).
  */
object OntologyPipeline {

  /** CLI entry point: `runMain graft.pipeline.OntologyPipeline <oboDir> <outDir>
    * [phenotypePattern] [--last-wins]` — the engine's analog of
    * OntologyGraphBuilder.main with the (dir, db) parameters its integration
    * test implies. `--last-wins` selects the reference's single-value
    * attribute semantics (HashMap put, OntologyGraphBuilder.java:224-229), so
    * the deprecated gate tests only the FINAL value of each attribute; the
    * default keeps the integration test's intended multi-value lists.
    */
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    // a mistyped flag must not silently run the default attribute mode
    require(pos.length >= 2 && pos.length <= 3 && flags.forall(_ == "--last-wins"),
      "usage: OntologyPipeline <oboDir> <outDir> [phenotypePattern] [--last-wins]; " +
        s"got: ${args.mkString(" ")}")
    val lastWins = flags.nonEmpty
    val pattern = if (pos.length == 3) pos(2) else "cl\\.owl"
    val spark = graft.ops.SessionConf.localSession()
    try run(spark, pos(0), pos(1), lastWins = lastWins, phenotypePattern = pattern)
    finally spark.stop()
  }

  /** Writes one pass's store and text sinks beneath `dir` from its view of
    * the routed vertices and the pre-RI edges.
    */
  private def writePass(routed: DataFrame, allEdges: DataFrame, dir: String): Unit = {
    val (kept, deprecated) = GraphOps.splitDeprecated(routed)
    GraphSink.writeVertices(kept, dir)
    GraphSink.writeEdges(GraphOps.edgesWithIntegrity(allEdges, kept), dir)
    GraphSink.writeDeprecatedTerms(deprecated, dir)
    GraphSink.writeEdgeLabels(GraphOps.edgeLabels(allEdges), dir)
  }

  /** Full two-pass run over a directory of OWL files, writing the graph store
    * and side outputs beneath `outDir` (`ontologies/`, `phenotypes/`).
    * `phenotypePattern` selects pass-2's file set (the reference hard-codes
    * "cl.owl", OntologyGraphBuilder.java:566; its integration test runs on a
    * fixture dir without cl.owl, so the pattern is a parameter here); when it
    * matches no file, no `phenotypes/` is written.
    * Nothing stays cached after the run, whether it returns or throws.
    */
  def run(spark: SparkSession, oboDir: String, outDir: String,
          lastWins: Boolean = false, phenotypePattern: String = "cl\\.owl"): Unit = {
    val allFiles = OwlReader.listFilesMatchingPattern(oboDir, ".*\\.owl")
    require(allFiles.nonEmpty, s"No OBO files found in $oboDir")
    val phenotypeRegex = phenotypePattern.r
    def fileName(path: String) = path.substring(path.lastIndexOf('/') + 1)
    val phenoFiles = allFiles.map(fileName).filter(n => phenotypeRegex.pattern.matcher(n).matches())

    // Source stage: one read per file (see the object doc). Parsing yields
    // one partition per FILE (RDF/XML is not splittable); when ontologies
    // are fewer than cores, spread the parsed triples before caching so every
    // downstream stage is parallel. At cluster scale (files >> cores) this
    // branch never fires and no extra shuffle is paid.
    val (dictionary, ontologies) = allFiles.partition(fileName(_) == OwlReader.DictionaryFile)
    val parallelism = spark.sparkContext.defaultParallelism
    val parsed = OwlReader.triples(spark, ontologies).toDF()
    val raw = (if (ontologies.size < parallelism) parsed.repartition(parallelism) else parsed).cache()
    val roTerms = OwlReader.terms(spark, dictionary).toDF().select("term", "label").cache()
    var cached = Seq(raw, roTerms)
    try {
      // One row per file, collected into a local relation, so the collection
      // plans against a small table of known size.
      val roots = TripleOps.ontologyRoots(raw)
      val meta = spark.createDataFrame(roots.collectAsList(), roots.schema)

      // Both passes' triples, deduplicated once and tagged with pass 2.
      val collected =
        if (phenoFiles.isEmpty) TripleOps.collectTriples(raw, meta, testObject = false)
        else TripleOps.collectPasses(raw, meta, phenoFiles)
      val unique = TripleOps.uniqueTriples(collected).cache()
      cached :+= unique
      unique.count()
      raw.unpersist() // nothing reads the parsed statements after dedup

      val routed = GraphOps.route(GraphOps.vertices(unique),
        GraphOps.vertexAttributes(unique, roTerms, lastWins)).cache()
      cached :+= routed
      val allEdges = GraphOps.edges(unique, roTerms)
      writePass(TripleOps.passView(routed, 1), TripleOps.passView(allEdges, 1), s"$outDir/ontologies")
      if (phenoFiles.nonEmpty)
        writePass(TripleOps.passView(routed, 2), TripleOps.passView(allEdges, 2), s"$outDir/phenotypes")
    } finally cached.foreach(_.unpersist())
  }
}
