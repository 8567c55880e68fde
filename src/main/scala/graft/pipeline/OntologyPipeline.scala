package graft.pipeline

import graft.io.{GraphSink, OwlReader}
import graft.ops.{GraphOps, TripleOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

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
  * (`TripleOps.ontologyRoots`) instead of a second metadata scan. Unlike the
  * reference — which re-parses cl.owl from scratch for pass 2 — the parsed
  * raw statements are cached and reused (SURVEY §3.2).
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
    val flags = args.filter(_.startsWith("--")).toSet
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.length >= 2,
      "usage: OntologyPipeline <oboDir> <outDir> [phenotypePattern] [--last-wins]")
    val lastWins = flags.contains("--last-wins")
    val pattern = if (pos.length >= 3) pos(2) else "cl\\.owl"
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-ontology-pipeline")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    try run(spark, pos(0), pos(1), lastWins = lastWins, phenotypePattern = pattern)
    finally spark.stop()
  }

  /** Result handles of one pipeline pass. `unpersist()` after the outputs
    * are written.
    */
  final case class GraphResult(
      vertices: DataFrame, // kept vertices with attrs map
      deprecated: DataFrame, // routed-out vertices
      edges: DataFrame, // RI-checked edges
      edgeLabels: DataFrame,
      cached: Seq[DataFrame]) {
    def unpersist(): Unit = cached.foreach(_.unpersist())
  }

  /** One parameterized pass (reference runs it twice with different params).
    * The deduplicated triple set and the kept-vertex set are consumed by
    * several independent sink writes — cache both so each write doesn't
    * re-run the parse/dedup DAG.
    */
  def buildGraph(
      raw: DataFrame,
      meta: DataFrame,
      roTerms: DataFrame,
      testObject: Boolean,
      lastWins: Boolean = false): GraphResult = {
    val collected = TripleOps.collectTriples(raw, meta, testObject)
    val unique = TripleOps.uniqueTriples(collected).cache()
    val verts = GraphOps.vertices(unique)
    val attrs = GraphOps.vertexAttributes(unique, roTerms, lastWins)
    val (kept0, deprecated) = GraphOps.routeDeprecated(verts, attrs)
    val kept = kept0.cache()
    val allEdges = GraphOps.edges(unique, roTerms)
    val labels = GraphOps.edgeLabels(allEdges)
    val edges = GraphOps.edgesWithIntegrity(allEdges, kept)
    GraphResult(kept, deprecated, edges, labels, Seq(unique, kept))
  }

  /** Writes one pass's store and text sinks beneath `dir`, then releases its
    * cached frames — also when a write fails.
    */
  private def writePass(g: GraphResult, dir: String): Unit =
    try {
      GraphSink.writeVertices(g.vertices, dir)
      GraphSink.writeEdges(g.edges, dir)
      GraphSink.writeDeprecatedTerms(g.deprecated, dir)
      GraphSink.writeEdgeLabels(g.edgeLabels, dir)
    } finally g.unpersist()

  /** Full two-pass run over a directory of OWL files, writing the graph store
    * and side outputs beneath `outDir` (`ontologies/`, `phenotypes/`).
    * `phenotypePattern` selects pass-2's file set (the reference hard-codes
    * "cl.owl", OntologyGraphBuilder.java:566; its integration test runs on a
    * fixture dir without cl.owl, so the pattern is a parameter here).
    * Nothing stays cached after the run, whether it returns or throws.
    */
  def run(spark: SparkSession, oboDir: String, outDir: String,
          lastWins: Boolean = false, phenotypePattern: String = "cl\\.owl"): Unit = {
    val allFiles = OwlReader.listFilesMatchingPattern(oboDir, ".*\\.owl")
    require(allFiles.nonEmpty, s"No OBO files found in $oboDir")
    val phenotypeRegex = phenotypePattern.r
    def fileName(path: String) = path.substring(path.lastIndexOf('/') + 1)

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
    try {
      // One row per file, collected into a local relation: both passes then
      // plan against a small table of known size. Re-aggregating raw inside
      // each pass cost about 40 more generated-code compiles per build.
      val roots = TripleOps.ontologyRoots(raw)
      val meta = spark.createDataFrame(roots.collectAsList(), roots.schema)

      // Pass 1: full ontology graph (testObject = false).
      writePass(buildGraph(raw, meta, roTerms, testObject = false, lastWins), s"$outDir/ontologies")

      // Pass 2: CL-only phenotype subgraph (testObject = true, RO dict injected).
      val phenoFiles = allFiles.map(fileName).filter(n => phenotypeRegex.pattern.matcher(n).matches())
      val isPheno = col("srcFile").isin(phenoFiles: _*)
      if (phenoFiles.nonEmpty)
        writePass(buildGraph(raw.filter(isPheno), meta.filter(isPheno), roTerms,
          testObject = true, lastWins), s"$outDir/phenotypes")
    } finally { raw.unpersist(); roTerms.unpersist() }
  }
}
