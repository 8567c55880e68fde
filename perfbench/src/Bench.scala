package perfbench

import graft.io.{GraphSink, OwlReader}
import graft.ops.{GraphOps, GraphTraversal, TextIndex, TripleOps, UriOps}
import graft.pipeline.OntologyPipeline
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark of the ontology build and of queries over the store it writes.
  *
  * `perfbench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * prints one JSON line: `correct`, `attempted`, `failed` and `metrics`.
  *
  * One run: set up (Spark session, seeded corpus, expected-output model);
  * then one timed build, the first in the process, as a one-shot release
  * rebuild pays it; then a closed-loop client (one request in flight) sends
  * a seeded mix of searches, vertex lookups and 2-hop neighborhoods over
  * the written store for `--seconds`. Every build and every answer is
  * checked against the model. `setup_s` is the program's part of reaching
  * the first query: process start to a ready Spark session, plus the first
  * build; generating the corpus and the model is left out.
  *
  * The build and the requests are reported as CPU time, not wall time:
  * process CPU for the build, and per request the client thread's CPU plus
  * its tasks', each divided by the CPU time of a [[Reference]] pass timed
  * before each request. On a shared host, wall times of the same run move
  * by 20-70% with the neighbours' load (a descheduled core stalls a whole
  * stage); CPU times move about half as much, but still follow the host's
  * speed, which the reference pass follows too. Wall times are in the
  * traced run's per-layer figures, and the first build's wall time is in
  * `setup_s`.
  *
  * With `--trace 1` the run instead reports per-layer figures: it builds
  * once as above, then once more calling each layer's public functions
  * stage by stage under a Spark job group per stage, and runs a short query
  * mix. The traced store must hash-equal the untraced one.
  */
object Bench {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  val Classes = 4000
  /** Workload -> ontology files the classes are spread over. */
  val Workloads: Map[String, Int] = Map("build_one_file" -> 1, "build_many_files" -> 8)
  /** Request kinds in the order the client sends them. The mix is assumed,
    * not taken from usage logs.
    */
  val Mix: Seq[String] = Seq("search", "lookup", "search", "lookup", "neighborhood")
  val WarmUpSeconds = 3.0
  /** Reference passes: untimed ones that compile it, then the timed ones
    * before each request.
    */
  val RefWarmUpPasses = 300
  val RefRequestPasses = 3
  val MaxHops = 2
  val DrainTimeoutMs = 60000L

  /** Waits until every listener has seen every event posted so far. */
  def drain(spark: SparkSession): Unit =
    if (!org.apache.spark.GraftListenerBridge.drain(spark.sparkContext, DrainTimeoutMs))
      throw new IllegalStateException(s"listener bus not drained within $DrainTimeoutMs ms")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1")
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    spark
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.deleteIfExists(q))
    finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** One build: the two-pass pipeline with all sinks, then the search token
    * table over the written pass-1 vertices, written beside the store.
    */
  def build(spark: SparkSession, corpusDir: String, out: String): Unit = {
    spark.sparkContext.setJobGroup("OntologyPipeline", "build")
    OntologyPipeline.run(spark, corpusDir, out)
    spark.sparkContext.setJobGroup("TextIndex.build", "build")
    val verts = spark.read.parquet(s"$out/ontologies/vertices")
    TextIndex.buildTokenTable(verts, Store.SearchFields)
      .write.mode(SaveMode.Overwrite).parquet(Store.tokensDir(out))
    spark.sparkContext.clearJobGroup()
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val work = Paths.get(sys.props.getOrElse("perfbench.work", ".bench_build/work"))
      .resolve(ProcessHandle.current.pid.toString).toAbsolutePath
    Files.createDirectories(work)
    val out =
      try new Runner(a, work).run()
      catch { case e: Throwable => e.printStackTrace(); deleteTree(work); sys.exit(1) }
      finally deleteTree(work)
    println(out)
  }
}

/** One request of the query mix. */
final case class Request(kind: String, arg: String)

final class Runner(a: Bench.Args, work: Path) {
  import Bench._

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private var attempted = 0L
  private var failed = 0L
  private def outcome(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) { failed += 1; log(s"MISMATCH $what: ${problems.mkString("; ")}") }
  }

  private val cfg = CorpusConfig(Classes, Workloads(a.workload))
  private var spark: SparkSession = _
  private var counters: Counters = _
  private var corpus: Corpus = _
  private var model: Model = _
  private var search: SearchModel = _
  private var plan: IndexedSeq[Request] = _
  private var corpusDir: Path = _

  /** The set-up: a Spark session, the corpus generated and written, the
    * model and the request plan derived from it. Returns the seconds from
    * process start until the session was ready.
    */
  private def setUp(): Double = {
    val start = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = session(work)
    counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val ready = (System.currentTimeMillis() - start) / 1e3
    (0 until RefWarmUpPasses).foreach(_ => Reference.passNs())
    val (c, specs) = Corpus.generate(a.seed, cfg)
    corpusDir = work.resolve("corpus")
    c.write(corpusDir)
    corpus = c
    model = Model(c)
    val rng = new java.util.Random(a.seed * 1000003L + 17)
    // search tokens: generated label words, a third cut to a 4-letter
    // n-gram/edge-gram prefix. "cell", which ends every label, is left out:
    // a hit on every vertex costs twice a typical search, and a seed-drawn
    // share of it would swing the median between runs.
    val words = specs.flatMap(_.label.split(' ')).filter(w => w != "cell" && w != "obsolete")
    val queries = (0 until 64).map { _ =>
      val word = words(rng.nextInt(words.size))
      if (rng.nextInt(3) == 0) word.take(4) else word
    }
    // fixed kind rotation, seeded arguments: every run sends the same share
    // of each kind
    plan = (0 until 4096).map { i =>
      Mix(i % Mix.size) match {
        case "search" => Request("search", queries(rng.nextInt(queries.size)))
        case "lookup" => Request("lookup", f"${rng.nextInt(Classes)}%07d")
        case k => Request(k, f"CL_${rng.nextInt(Classes)}%07d")
      }
    }
    search = SearchModel(model, queries.toSet)
    ready
  }

  private def build(out: String): Unit = Bench.build(spark, corpusDir.toString, out)

  final case class BuildStats(wall: Double, cachePeak: Long, rt: RuntimeSample, groups: Map[String, GroupStats])

  private def timedBuild(out: String, body: String => Unit): BuildStats = {
    drain(spark)
    counters.takeGroups()
    counters.resetPeak()
    val r0 = RuntimeSample.now()
    val t0 = System.nanoTime()
    body(out)
    val wall = secs(t0)
    val rt = RuntimeSample.delta(r0, RuntimeSample.now())
    drain(spark)
    val stats = BuildStats(wall, counters.peakBytes, rt, counters.takeGroups())
    outcome(s"build $out", Store.check(spark, out, model, search))
    stats
  }

  // ------------------------------------------------------------ queries

  private final class Session(out: String) {
    // tables are opened once per session, as a serving process would; each
    // request still scans the written files
    val tokens: DataFrame = spark.read.parquet(Store.tokensDir(out))
    val vertices: DataFrame = spark.read.parquet(s"$out/ontologies/vertices")
    val edges: DataFrame = spark.read.parquet(s"$out/ontologies/edges")
      .select(concat_ws("_", col("from_id"), col("from_number")).as("src"),
        concat_ws("_", col("to_id"), col("to_number")).as("dst"))
    private def byKind() = Mix.distinct.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    /** Wall milliseconds per request, by kind. */
    val lat: Map[String, mutable.ArrayBuffer[Double]] = byKind()
    /** CPU milliseconds per request, by kind: the client thread's (planning,
      * result handling) plus the tasks of the request's jobs.
      */
    val cpu: Map[String, mutable.ArrayBuffer[Double]] = byKind()
    /** CPU milliseconds of a reference pass, measured before each request. */
    val ref = mutable.ArrayBuffer.empty[Double]
    /** Jobs and task figures of the requests, by kind. */
    val groups = mutable.HashMap.empty[String, GroupStats]
    val bfsRounds = mutable.ArrayBuffer.empty[Double]
    val reached = mutable.ArrayBuffer.empty[Double]
    var done = 0

    /** Untimed, checked requests: the first requests of a kind plan and
      * compile its queries, and latency falls for a few seconds after.
      */
    def warmUp(): Unit = {
      run(WarmUpSeconds)
      Seq(lat, cpu).foreach(_.values.foreach(_.clear())); ref.clear()
      groups.clear()
      bfsRounds.clear(); reached.clear(); done = 0
    }

    private var next = 0

    /** Runs requests of the plan in order until they have taken `seconds`
      * and every kind has been sent.
      */
    def run(seconds: Double): Unit = {
      var busy = 0.0
      while (busy < seconds || done < Mix.size) { busy += one(plan(next % plan.size)); next += 1; done += 1 }
    }

    private val threads = ManagementFactory.getThreadMXBean

    /** Sends one request; returns its wall seconds. The listener bus is
      * drained before and after, outside the timing, so the request's task
      * figures are its own.
      */
    private def one(r: Request): Double = {
      ref += Reference.medianNs(RefRequestPasses) / 1e6
      drain(spark)
      counters.takeGroups()
      val c0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      val problems: Seq[String] = r.kind match {
        case "search" =>
          spark.sparkContext.setJobGroup("TextIndex.search", "query")
          val got = TextIndex.search(tokens, r.arg).select("key", "field", "analyzer").collect()
            .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet
          if (got == search.hits(r.arg)) Nil else Seq(s"search ${r.arg}: ${got.size} hits, model ${search.hits(r.arg).size}")
        case "lookup" =>
          spark.sparkContext.setJobGroup("store.lookup", "query")
          val got = vertices
            .filter(col("id") === "CL" && col("number") === r.arg)
            .select("attrs").collect().map(Store.attrsOf(_, 0)).toSeq
          val want = model.pass1.vertices.get(("CL", r.arg)).toSeq
          if (got == want) Nil else Seq(s"lookup ${r.arg}")
        case "neighborhood" =>
          spark.sparkContext.setJobGroup("GraphTraversal", "query")
          val sources = spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(r.arg)),
            org.apache.spark.sql.types.StructType.fromDDL("id string"))
          val got = GraphTraversal.bfsLevels(edges, sources, MaxHops).collect()
            .map(x => x.getString(0) -> x.getInt(1)).toMap
          val deepest = if (got.isEmpty) 0 else got.values.max
          bfsRounds += math.min(MaxHops, deepest + 1)
          reached += got.size
          val want = model.reach(r.arg, MaxHops)
          if (got == want) Nil else Seq(s"neighborhood ${r.arg}: ${got.size} reached, model ${want.size}")
      }
      val wall = secs(t0)
      val clientCpu = threads.getCurrentThreadCpuTime - c0
      spark.sparkContext.clearJobGroup()
      drain(spark)
      val g = new GroupStats
      counters.takeGroups().values.foreach(g.add)
      groups.getOrElseUpdate(r.kind, new GroupStats).add(g)
      lat(r.kind) += wall * 1e3
      cpu(r.kind) += (clientCpu + g.cpuNs) / 1e6
      outcome(s"${r.kind} ${r.arg}", problems)
      wall
    }
  }

  // ------------------------------------------------------------- traced

  private val stageSeconds = mutable.LinkedHashMap.empty[String, Double]
  private val stageRows = mutable.LinkedHashMap.empty[String, Long]

  /** Materialises `df` (cached) under job group `group`; records its wall
    * time and row count.
    */
  private def stage(group: String)(df: => DataFrame): DataFrame = {
    spark.sparkContext.setJobGroup(group, "trace")
    val t0 = System.nanoTime()
    val d = df.cache()
    val n = d.count()
    stageSeconds(group) = stageSeconds.getOrElse(group, 0.0) + secs(t0)
    stageRows(group) = stageRows.getOrElse(group, 0L) + n
    d
  }
  private def timed(group: String)(body: => Unit): Unit = {
    spark.sparkContext.setJobGroup(group, "trace")
    val t0 = System.nanoTime()
    body
    stageSeconds(group) = stageSeconds.getOrElse(group, 0.0) + secs(t0)
  }

  /** Bytes read from local files through Hadoop's file system, all threads. */
  private def localBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum
  }
  private var inputPasses = 0.0

  /** OntologyPipeline.run, one layer call at a time. */
  private def tracedBuild(out: String): Unit = {
    val allFiles = OwlReader.listFilesMatchingPattern(corpusDir.toString, ".*\\.owl")
    val parallelism = spark.sparkContext.defaultParallelism
    val read0 = localBytesRead()
    val raw = stage("OwlReader.parse") {
      val parsed = OwlReader.triples(spark, allFiles).toDF()
      if (allFiles.size < parallelism) parsed.repartition(parallelism) else parsed
    }
    val meta = stage("OwlReader.meta")(OwlReader.meta(spark, allFiles).toDF())
    val roTerms = stage("OwlReader.terms") {
      OwlReader.terms(spark, allFiles).toDF()
        .filter(UriOps.fileStemCol(col("srcFile")) === "ro").select("term", "label")
    }
    inputPasses = (localBytesRead() - read0).toDouble / corpus.inputBytes
    val t1 = System.nanoTime()
    tracedPass(raw, meta, roTerms, testObject = false, s"$out/ontologies")
    stageSeconds("OntologyPipeline.pass1") = secs(t1)
    val pheno = allFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).filter(_ == Corpus.PhenotypeFile)
    val t2 = System.nanoTime()
    tracedPass(raw.filter(col("srcFile").isin(pheno: _*)), meta.filter(col("srcFile").isin(pheno: _*)),
      roTerms, testObject = true, s"$out/phenotypes")
    stageSeconds("OntologyPipeline.pass2") = secs(t2)
    Seq(raw, meta, roTerms).foreach(_.unpersist())
    val tokens = stage("TextIndex.build") {
      TextIndex.buildTokenTable(spark.read.parquet(s"$out/ontologies/vertices"), Store.SearchFields)
    }
    timed("TextIndex.build")(tokens.write.mode(SaveMode.Overwrite).parquet(Store.tokensDir(out)))
    tokens.unpersist()
    spark.sparkContext.clearJobGroup()
  }

  private def tracedPass(raw: DataFrame, meta: DataFrame, roTerms: DataFrame, testObject: Boolean, dir: String): Unit = {
    val collected = stage("TripleOps.collect")(TripleOps.collectTriples(raw, meta, testObject))
    val unique = stage("TripleOps.dedup")(TripleOps.uniqueTriples(collected))
    val verts = stage("GraphOps.vertices")(GraphOps.vertices(unique))
    val attrs = stage("GraphOps.attrs")(GraphOps.vertexAttributes(unique, roTerms))
    val (kept0, deprecated0) = GraphOps.routeDeprecated(verts, attrs)
    val kept = stage("GraphOps.route")(kept0)
    val deprecated = stage("GraphOps.route.deprecated")(deprecated0)
    val allEdges = stage("GraphOps.edges")(GraphOps.edges(unique, roTerms))
    val labels = GraphOps.edgeLabels(allEdges)
    val edges = stage("GraphOps.ri")(GraphOps.edgesWithIntegrity(allEdges, kept))
    timed("GraphSink.write") {
      GraphSink.writeVertices(kept, dir)
      GraphSink.writeEdges(edges, dir)
      GraphSink.writeDeprecatedTerms(deprecated, dir)
      GraphSink.writeEdgeLabels(labels, dir)
    }
    Seq(collected, unique, verts, attrs, kept, deprecated, allEdges, edges).foreach(_.unpersist())
  }

  // ---------------------------------------------------------------- run

  def run(): String = {
    val ready = try setUp() catch { case e: Throwable => if (spark != null) spark.stop(); throw e }
    log(f"corpus ${corpus.rawStatements} statements, ${corpus.inputBytes / 1e6}%.2f MB, ${corpus.fileBytes.size} files; " +
      f"session ready $ready%.2f s after process start")
    val metrics = try { if (a.trace) traceRun() else plainRun(ready) } finally spark.stop()
    val body = metrics.map { case (k, (v, unit)) => s""""$k": {"value": $v, "unit": "$unit"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  private def plainRun(readyS: Double): Seq[(String, (Double, String))] = {
    val out = work.resolve("store").toString
    val b = timedBuild(out, build)
    val (_, bytes) = Store.bytesUnder(Paths.get(out))
    log(f"build ${b.wall}%.2f s, cpu ${b.rt.cpuNs / 1e9}%.1f s, cache peak ${b.cachePeak / 1e6}%.1f MB, " +
      f"jit ${b.rt.jitMs / 1e3}%.1f s, codegen ${b.rt.codegenCompiles}")
    val q = new Session(out)
    q.warmUp()
    q.run(a.seconds)
    log(s"queries ${q.done}: " + Mix.distinct.map { k =>
      f"$k n=${q.lat(k).size} wall p50 ${median(q.lat(k).toSeq)}%.1f ms, cpu p50 ${median(q.cpu(k).toSeq)}%.1f ms"
    }.mkString("; ") + f"; reference pass ${median(q.ref.toSeq)}%.2f ms")
    // one reference for the whole run: passes timed around the build read
    // a quarter apart between runs (heap and caches left by set-up or the
    // build), passes between requests only a twelfth
    val refMs = median(q.ref.toSeq)
    def cpu(kind: String) = median(q.cpu(kind).toSeq) / refMs
    Seq(
      "setup_s" -> (readyS + b.wall, "s"),
      "build_cpu_refs" -> (b.rt.cpuNs / 1e6 / refMs, "refs"),
      "cache_peak_mb" -> (b.cachePeak / 1e6, "MB"),
      "store_bytes_per_input_byte" -> (bytes.toDouble / corpus.inputBytes, "ratio"),
      "search_cpu_refs" -> (cpu("search"), "refs"),
      "lookup_cpu_refs" -> (cpu("lookup"), "refs"),
      "neighborhood_cpu_refs" -> (cpu("neighborhood"), "refs"))
  }

  private def traceRun(): Seq[(String, (Double, String))] = {
    val plainOut = work.resolve("store-plain").toString
    val cold = timedBuild(plainOut, build)
    val tracedOut = work.resolve("store-traced").toString
    val traced = timedBuild(tracedOut, tracedBuild)
    val same = Store.digest(spark, plainOut) == Store.digest(spark, tracedOut)
    outcome("traced store equals untraced store", if (same) Nil else Seq("store digests differ"))
    log(f"builds: untraced ${cold.wall}%.2f s, traced ${traced.wall}%.2f s; digests equal: $same")

    // per-layer query figures need a few requests, not a full window
    val q = new Session(plainOut)
    q.warmUp()
    q.run(math.min(a.seconds, 3))

    val g = traced.groups
    def layer(prefix: String): GroupStats = {
      val s = new GroupStats
      g.foreach { case (k, v) => if (k == prefix || k.startsWith(prefix + ".")) s.add(v) }
      s
    }
    def st(k: String) = stageSeconds.getOrElse(k, 0.0)
    def rows(k: String) = stageRows.getOrElse(k, 0L).toDouble
    val all = new GroupStats; cold.groups.values.foreach(all.add)
    val (files, bytes) = Store.bytesUnder(Paths.get(plainOut))
    val (tokenFiles, _) = Store.bytesUnder(Paths.get(Store.tokensDir(plainOut)))
    val layers = Seq("OwlReader", "TripleOps", "GraphOps", "GraphSink", "TextIndex")
    val perLayer = layers.flatMap { l =>
      val s = layer(l)
      Seq(s"$l.jobs" -> (s.jobs.toDouble, "count"), s"$l.task_cpu_s" -> (s.cpuNs / 1e9, "s"))
    }
    val gt = q.groups.getOrElse("neighborhood", new GroupStats)
    val bfsN = math.max(1, q.lat("neighborhood").size).toDouble
    val parse = g.getOrElse("OwlReader.parse", new GroupStats)
    Seq(
      "OwlReader.parse_s" -> (st("OwlReader.parse"), "s"),
      "OwlReader.parse_task_max_s" -> (parse.maxTaskMs / 1e3, "s"),
      "OwlReader.file_scans" -> (inputPasses, "count"),
      "OwlReader.stmts_out" -> (rows("OwlReader.parse"), "count"),
      "TripleOps.collect_s" -> (st("TripleOps.collect"), "s"),
      "TripleOps.dedup_s" -> (st("TripleOps.dedup"), "s"),
      "TripleOps.collected_rows" -> (rows("TripleOps.collect"), "count"),
      "TripleOps.unique_ratio" -> (rows("TripleOps.dedup") / rows("TripleOps.collect"), "ratio"),
      "TripleOps.shuffle_bytes" -> (layer("TripleOps").shuffleWrite.toDouble, "bytes"),
      "GraphOps.vertices_s" -> (st("GraphOps.vertices"), "s"),
      "GraphOps.attrs_s" -> (st("GraphOps.attrs"), "s"),
      "GraphOps.route_s" -> (st("GraphOps.route") + st("GraphOps.route.deprecated"), "s"),
      "GraphOps.edges_s" -> (st("GraphOps.edges"), "s"),
      "GraphOps.ri_s" -> (st("GraphOps.ri"), "s"),
      "GraphOps.edges_out" -> (rows("GraphOps.ri"), "count"),
      "GraphOps.ri_kept_ratio" -> (rows("GraphOps.ri") / rows("GraphOps.edges"), "ratio"),
      "OntologyPipeline.pass1_s" -> (st("OntologyPipeline.pass1"), "s"),
      "OntologyPipeline.pass2_s" -> (st("OntologyPipeline.pass2"), "s"),
      "OntologyPipeline.build_s" -> (cold.wall, "s"),
      "GraphSink.write_s" -> (st("GraphSink.write"), "s"),
      "GraphSink.files_out" -> (files.toDouble, "count"),
      "GraphSink.bytes_out" -> (bytes.toDouble, "bytes"),
      "GraphSink.lookup_s" -> (median(q.lat("lookup").toSeq) / 1e3, "s"),
      "TextIndex.build_s" -> (st("TextIndex.build"), "s"),
      "TextIndex.tokens_out" -> (rows("TextIndex.build"), "count"),
      "TextIndex.search_s" -> (median(q.lat("search").toSeq) / 1e3, "s"),
      "TextIndex.files_read" -> (tokenFiles.toDouble, "count"),
      "GraphTraversal.neighborhood_s" -> (median(q.lat("neighborhood").toSeq) / 1e3, "s"),
      "GraphTraversal.bfs_rounds" -> (median(q.bfsRounds.toSeq), "count"),
      "GraphTraversal.bfs_jobs" -> (gt.jobs.toDouble / bfsN, "count"),
      "GraphTraversal.reached_out" -> (median(q.reached.toSeq), "count"),
      "GraphTraversal.task_cpu_s" -> (gt.cpuNs / 1e9 / bfsN, "s"),
      "spark.jobs" -> (all.jobs.toDouble, "count"),
      "spark.tasks" -> (all.tasks.toDouble, "count"),
      "spark.task_cpu_s" -> (all.cpuNs / 1e9, "s"),
      "spark.shuffle_write_bytes" -> (all.shuffleWrite.toDouble, "bytes"),
      "spark.spill_bytes" -> (all.spill.toDouble, "bytes"),
      "spark.core_busy_ratio" -> (all.runMs / 1e3 / (cold.wall * Cores), "ratio"),
      "spark.codegen_compiles" -> (cold.rt.codegenCompiles.toDouble, "count"),
      "jvm.jit_s" -> (cold.rt.jitMs / 1e3, "s"),
      "jvm.gc_s" -> (cold.rt.gcMs / 1e3, "s"),
      "jvm.reference_pass_ms" -> (median(q.ref.toSeq), "ms"),
      // the traced build runs second, in a warm JVM: this understates the
      // overhead by what the first build pays for JIT and class loading
      "trace.overhead_ratio" -> (traced.wall / cold.wall, "ratio")) ++ perLayer
  }
}
