package graft

import graft.llm.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-behavior probe: multiply the documents corpus N× (half exact
  * copies — stressing duplicate-cluster fan-out — half perturbed) and time
  * the dedup pipeline on it, with and without the posting-list caps. This
  * is how the "would it survive a scale-up" claims in PLANS.md get measured
  * instead of asserted: candidate counts and runtimes should grow near-
  * linearly with the corpus, and the capped variants should hold the tail.
  *
  * Usage: runMain graft.ScaleProbe <sfDir> [multiplier] [probeSubstring...]
  * (probe-name substrings select which probes run — at high multipliers the
  * quadratic-output jaccard probes dominate wall-clock; filtering lets the
  * linear-path probes be measured on their own)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val only = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)

    def enabled(name: String): Boolean = only.isEmpty || only.exists(name.contains)
    def timed(name: String)(body: => Long): Unit =
      if (enabled(name)) {
        val t0 = System.nanoTime()
        val rows = body
        println(f"$name%-34s ${(System.nanoTime() - t0) / 1e9}%8.1f s   rows=$rows")
      }

    // group setup is gated like the probes themselves: a filtered run must
    // not pay cache+count materialization for groups with nothing selected
    val docProbes = Seq("exactGroups", "lshCandidates", "jaccardPairs",
      "removeNearDuplicates", "components", "chunkDedup", "dupSpanRemoval", "containmentPairs",
      "triangleCounts", "qualityFilter", "tokenBudgetMix", "rankDocuments",
      "dsirSelect", "bloomDecontaminate", "perplexityBuckets", "bm25Rank",
      "bm25Persisted", "cooccurrenceLift", "prefixFilterPairs",
      "proximityMatch", "phraseMatch", "prefixFilterAuto",
      "unitDedup", "linearScore", "warcParse", "dictionaryTag", "temperatureMix",
      "epochShuffle", "jsonlParse")
    if (docProbes.exists(enabled)) {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val n0 = base.count()
    // id offset derives from the actual max id: a fixed stride would make
    // copies collide (and silently corrupt the duplicate-cluster topology
    // the probe measures) on any base corpus with ids past the stride
    val docStride = base.agg(max(col("doc_id"))).head.getLong(0) + 1L
    // copies 0..mult-1: even copies byte-identical (duplicate clusters of
    // size ~mult/2 per doc), odd copies perturbed by an appended marker word
    val scaled = (0 until mult).map { k =>
      val shifted = base.withColumn("doc_id", col("doc_id") + lit(k.toLong * docStride))
      if (k % 2 == 1) shifted.withColumn("text", concat(col("text"), lit(s" copyv$k")))
      else shifted
    }.reduce(_ union _).cache()
    val n = scaled.count() // materialize once; probes then share the input
    println(s"corpus: $n0 -> $n docs (x$mult)")

    timed("exactGroups") {
      Dedup.exactGroups(scaled).count()
    }
    timed("lshCandidates (unbounded)") {
      Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.wordShingles(scaled, 3), 12), 4, 3).count()
    }
    timed(s"lshCandidates (maxBucket=64)") {
      Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.wordShingles(scaled, 3), 12), 4, 3,
        maxBucket = 64).count()
    }
    timed("jaccardPairs (maxDF=512)") {
      Dedup.jaccardPairs(Dedup.wordShingles(scaled, 3), 0.2, maxDF = 512).count()
    }
    timed("containmentPairs (maxDF=512)") {
      Dedup.containmentPairs(Dedup.wordShingles(scaled, 3), 0.5, maxDF = 512).count()
    }
    timed("removeNearDuplicates") {
      Dedup.removeNearDuplicates(scaled, minJaccard = 0.2).count()
    }
    timed("components (LSH cand graph)") {
      // cluster resolution over the candidate pair graph: the duplicate
      // clusters of size ~mult/2 exercise both star ops' hub handling and
      // the per-round convergence fingerprint at real pair volumes
      val pairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.wordShingles(scaled, 3), 12), 4, 3,
        maxBucket = 64)
      graft.ops.ConnectedComponents.components(pairs, "id_a", "id_b").count()
    }
    timed("chunkDedup (20-word chunks)") {
      Dedup.chunkDedup(scaled, chunkTokens = 20).count()
    }
    timed("dupSpanRemoval (8-word grams)") {
      // the half-exact-copy corpus makes nearly every gram duplicated —
      // worst case for the duplicated-start table (≈ corpus positions),
      // so this bounds the per-position join from above
      Dedup.removeDuplicateSpans(scaled, spanTokens = 8).count()
    }
    timed("triangleCounts (LSH cand graph)") {
      // duplicate clusters are near-cliques: the densest triangle topology
      // the dedup pipeline can produce — exercises orientation + wedge
      // closing at real pair volumes
      val pairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.wordShingles(scaled, 3), 12), 4, 3,
        maxBucket = 64)
      graft.ops.GraphTraversal.triangleCounts(pairs, "id_a", "id_b").count()
    }
    timed("prefixFilterPairs (t=0.7)") {
      // the duplicate-cluster corpus is the worst case the EXACT path must
      // survive: every 50-copy cluster yields ~cluster² true pairs, so the
      // output itself is quadratic-in-mult — the probe checks runtime
      // tracks that inherent output volume, not a hidden all-pairs join
      Dedup.prefixFilterPairs(Dedup.wordShingles(scaled, 3), 70).count()
    }
    timed("unitDedup (paragraph reassembly)") {
      // explode + hash-min aggregate + semi-join + regroup: the half-exact-
      // copy corpus makes most units duplicated — worst case for the
      // winners table; runtime must stay ~linear in corpus
      Dedup.unitDedup(scaled, " the ").count()
    }
    timed("linearScore (64 hashed buckets)") {
      graft.llm.TextStats.hashedLinearScore(scaled,
        (0 until 64).map(b => (b % 7) - 3)).count()
    }
    timed("warcParse (synthesized corpus)") {
      // WARC parse throughput at corpus scale: each partition packs its
      // documents into one in-memory WARC (HTTP-wrapped HTML records) and
      // parses it back — the per-record header/block walk is the cost
      import spark.implicits._
      scaled.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val bos = new java.io.ByteArrayOutputStream()
          it.foreach { case (id, text) =>
            val body = s"<html><body><p>$text</p></body></html>"
              .getBytes("UTF-8")
            val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
              .getBytes("UTF-8")
            val payload = http ++ body
            val hdr = s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://x/$id\r\n" +
              "Content-Type: application/http; msgtype=response\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n"
            bos.write(hdr.getBytes("UTF-8")); bos.write(payload)
            bos.write("\r\n\r\n".getBytes("UTF-8"))
          }
          Iterator(graft.io.WarcReader.parse("synth", bos.toByteArray).size.toLong)
        }.reduce(_ + _)
    }
    timed("dictionaryTag (5 phrases)") {
      // one broadcast join for the whole dictionary; cost tracks matching
      // tokens, never dictionary size x corpus
      graft.ops.TextIndex.dictionaryTag(scaled,
        Seq("slow hash batch", "vector joins", "the slow", "batch",
          "warp drive plasma")).count()
    }
    timed("temperatureMix (alpha=1/2 by source)") {
      graft.llm.Sampling.temperatureMix(scaled, "doc_id", "source",
        rate = 2.0).count()
    }
    timed("epochShuffle (64 shards)") {
      // one hash exchange on shard + per-shard sort: wall-clock must track
      // corpus volume; shard count fixes per-reducer sort size, not cost
      graft.llm.Sampling.epochShuffle(scaled, "doc_id", epoch = 1,
        nShards = 64).count()
    }
    timed("jsonlParse (write+read round-trip)") {
      // line-splittable text scan + from_json: parse throughput is the
      // probe; corrupt routing rides the same single pass
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-probe")
      try {
        scaled.select(to_json(struct(col("doc_id"), col("source"), col("text")))
          .as("value")).write.mode("overwrite").text(s"$dir/in")
        val schema = new StructType()
          .add("doc_id", LongType).add("source", StringType).add("text", StringType)
        graft.io.JsonlReader.read(spark, s"$dir/in", schema)
          .filter(col("corrupt_record").isNull).count()
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    timed("proximityMatch (NEAR/3)") {
      // the x1_near_query shape: two term-filtered posting lists equi-join
      // on the doc key — cost must track matching-doc volume (linear in
      // mult), never a corpus positional self-join
      graft.ops.TextIndex.proximityMatch(scaled, "slow", "batch", window = 3).count()
    }
    timed("phraseMatch (3-word)") {
      // the x1_phrase_match shape: per-word posting joins on (doc, pos) —
      // each join's build side is one specific word's postings
      graft.ops.TextIndex.phraseMatch(scaled, Seq("slow", "batch", "joins")).count()
    }
    timed("prefixFilterCandidates (positional)") {
      // candidate volume under the PPJoin positional bound (the plain
      // prefix join's numbers are recorded in PLANS.md)
      Dedup.prefixFilterCandidates(Dedup.wordShingles(scaled, 3), 70).count()
    }
    timed("prefixFilterAuto (gate + route)") {
      // the df-skew gate on the duplicate-cluster corpus: one bounded
      // histogram aggregate, then whichever tier the distribution warrants
      Dedup.prefixFilterPairsAuto(Dedup.wordShingles(scaled, 3), 70).count()
    }
    timed("qualityFilter") {
      graft.llm.TextStats.qualityFilter(scaled).count()
    }
    timed("cooccurrenceLift (top-100)") {
      // the df floor scales as N/50, so the vocab (and with it the per-doc
      // self-join fan-out) must stay bounded as the corpus multiplies
      graft.llm.TextStats.cooccurrenceLift(scaled, topK = 100).count()
    }
    timed("tokenBudgetMix (3 domains)") {
      graft.llm.Sampling.tokenBudgetMix(scaled, "doc_id", "source",
        size(split(col("text"), " ")),
        budgets = Map("src0" -> 100000L, "src1" -> 200000L),
        defaultBudget = 300000L).count()
    }
    timed("bloomDecontaminate (8-gram, 2^22)") {
      // eval = 1/20 of the scaled corpus: at 100x that is ~25k docs of
      // grams compressed into one 512 KiB bitset — the build side is the
      // scaling stress, the probe side stays a map-side scan
      Dedup.bloomDecontaminate(scaled,
        scaled.filter(col("doc_id") % 20 === 0), n = 8, mBits = 22).count()
    }
    timed("dsirSelect (k=1000)") {
      // target = 2 of 20 sources; both model fits collapse to <=256 rows
      // regardless of mult, so only the per-doc rollup scales with corpus
      graft.llm.Sampling.dsirSelect(scaled,
        scaled.filter(col("source").isin("src0", "src1")), scaled, k = 1000)
        .filter(col("selected")).count()
    }
    timed("perplexityBuckets (even-id ref)") {
      // the ref bigram table is the corpus-vocabulary-sized join side; the
      // tercile rank is the two-level window — no flat global sort anywhere
      graft.llm.TextStats.perplexityBuckets(scaled,
        scaled.filter(col("doc_id") % 2 === 0)).count()
    }
    timed("rankDocuments (3 terms, k=100)") {
      graft.ops.TextIndex.rankDocuments(scaled,
        Seq("joins", "vector", "the"), k = 100).count()
    }
    timed("bm25Rank (3 terms, k=100)") {
      graft.ops.TextIndex.bm25Rank(scaled,
        Seq("joins", "vector", "the"), k = 100).count()
    }
    if (enabled("bm25Persisted")) {
      // the registry x1_bm25_rank / x1_hybrid_rrf shape: ONE persisted
      // scored frame (the corpus-scale tokenize→stem→tf/df derivation),
      // two consumers. The FIRST consumer's time must scale with the
      // corpus (it materializes); the SECOND must stay near-flat — it
      // ranks the cached ≤ matching-docs frame and fuses two k-bounded
      // lists, never re-stemming the mult× corpus.
      val scores = graft.ops.TextIndex.bm25Scores(scaled,
        Seq("joins", "vector", "the")).persist()
      timed("bm25Persisted 1st consumer (rank)") {
        graft.ops.TextIndex.rankTopK(scores, k = 10, "doc_id").count()
      }
      timed("bm25Persisted 2nd consumer (hybrid)") {
        val lex = graft.ops.TextIndex.rankTopK(scores, k = 10, "doc_id")
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val den = graft.llm.Similarity.bruteForceTopK(
            e.filter(col("vec_id") === 0), e, k = 10)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        graft.llm.Retrieval.rrfFuse(
          Seq("lex" -> lex.select("doc_id", "rank"), "dense" -> den), k = 10).count()
      }
      scores.unpersist()
    }
    scaled.unpersist()
    }

    // similarity path at the same multiplier: exact copies (even k) again
    // stress bucket fan-out; odd copies get one element nudged
    val vecProbes = Seq("cosineDupPairs", "lshTopK", "ivfTopK", "semanticDedup",
      "pqTopK", "ivfPqTopK", "sqTopK", "kmeansLloyd")
    if (vecProbes.exists(enabled)) {
    val baseV = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val vecStride = baseV.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val vecs = (0 until mult).map { k =>
      val shifted = baseV.withColumn("vec_id", col("vec_id") + lit(k.toLong * vecStride))
      if (k % 2 == 1)
        shifted.withColumn("embedding",
          transform(col("embedding"), x => x + lit(k * 0.001f)))
      else shifted
    }.reduce(_ union _).cache()
    println(s"vectors: ${vecs.count()}")

    timed("cosineDupPairs (tau=0.95)") {
      graft.llm.Similarity.cosineDupPairs(vecs, tau = 0.95).count()
    }
    timed("lshTopK (k=5, 64 queries)") {
      graft.llm.Similarity.lshTopK(vecs.filter(col("vec_id") < 64), vecs, k = 5).count()
    }
    timed("ivfTopKWithQuantizedCentroids (k=5)") {
      val cents = graft.llm.Similarity.collectQuantizedCentroids(vecs, 16)
      graft.llm.Similarity.ivfTopKWithQuantizedCentroids(
        vecs.filter(col("vec_id") < 64), vecs, k = 5, cents).count()
    }
    timed("pqTopKWithCodebooks (k=5, 64 queries)") {
      // the memory-bound path: the whole corpus is scanned as codes,
      // scored by M LUT lookups per (query, row) — cost is the scan itself
      val cbs = graft.llm.Similarity.collectPqCodebooks(vecs, 16, 8)
      graft.llm.Similarity.pqTopKWithCodebooks(
        vecs.filter(col("vec_id") < 64), vecs, k = 5, cbs).count()
    }
    timed("ivfPqTopK (16 cells, nProbe=4, k=5)") {
      // pruned AND compressed: only probed cells' code rows are scored
      val coarse = graft.llm.Similarity.collectQuantizedCentroids(vecs, 16)
      val rcbs = graft.llm.Similarity.collectPqResidualCodebooks(vecs, coarse, 16, 8)
      graft.llm.Similarity.ivfPqTopK(
        vecs.filter(col("vec_id") < 64), vecs, k = 5, coarse, rcbs, nProbe = 4).count()
    }
    timed("sqTopK (k=5, 64 queries)") {
      // symmetric integer L2 over SQ codes: the corpus scan is the search,
      // same memory-bound discipline as pqTopK but per-dim codes
      val (mins, maxs) = graft.llm.Similarity.collectScalarQuantStats(vecs)
      graft.llm.Similarity.sqTopK(
        vecs.filter(col("vec_id") < 64), vecs, k = 5, mins, maxs).count()
    }
    timed("kmeansLloyd (k=16, 3 rounds)") {
      // per round: one codegen assignment scan + one k*d-row summary sum;
      // runtime must scale linearly in vectors with a flat per-round cost
      graft.llm.Similarity.kmeansLloyd(vecs, k = 16, rounds = 3).count()
    }
    timed("semanticDedup (64 cells, tau=0.95)") {
      // 64 cells over mult x 2000 vectors: cells of ~(n/64) with the exact
      // copies collapsing into the same cell — the within-cell pair join is
      // the stress, exactly SemDeDup's operating regime
      val cents = graft.llm.Similarity.collectQuantizedCentroids(vecs, 64)
      graft.llm.Similarity.semanticDedup(vecs, cents, tau = 0.95).count()
    }
    vecs.unpersist()
    }

    // graph path at the same multiplier: orders become URI-URI statements
    // (the GraphQueries model); duplicate copies stress edge last-wins
    val graphProbes = Seq("GraphOps.vertices", "GraphOps.edges", "pageRank")
    if (graphProbes.exists(enabled)) {
    val obo = "http://purl.obolibrary.org/obo/"
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val triples = (0 until mult).map { k =>
      orders.select(
        lit(s"orders$k").as("src_file"),
        (col("o_orderkey") + lit(k.toLong * 100000000L)).as("stmt_idx"),
        concat(lit(obo + "CL_"), col("o_custkey")).as("subject"),
        concat(lit("http://example.org/rel#status_"), col("o_orderstatus")).as("predicate"),
        concat(lit(obo + "GO_"), col("o_orderkey")).as("object"),
        lit(true).as("obj_is_uri"), lit(false).as("obj_is_literal"),
        lit(false).as("obj_is_blank"), lit(null).cast("string").as("obj_lexical"))
    }.reduce(_ union _).cache()
    println(s"triples: ${triples.count()}")
    val emptyRo = orders.select(col("o_orderstatus").as("term"),
      col("o_orderstatus").as("label")).limit(0)

    timed("GraphOps.vertices") {
      graft.ops.GraphOps.vertices(triples).count()
    }
    timed("GraphOps.edges (last-wins)") {
      graft.ops.GraphOps.edges(triples, emptyRo).count()
    }
    timed("pageRank (8 iters, URI graph)") {
      // string-keyed statement graph: per-round join keys are URIs, the
      // realistic shape for ranking entities in the loaded property graph
      graft.ops.GraphTraversal.pageRank(
        triples.select(col("subject").as("src"), col("object").as("dst")),
        iterations = 8).count()
    }
    triples.unpersist()
    }

    // graph algorithms on a DISTINCT mult-scaled edge set: the triples
    // above share (subject, object) across copies, so pageRank's initial
    // distinct collapses them back to the base graph — fine for measuring
    // the distinct itself, useless for round-scaling. Here every copy gets
    // its own object (orderkey offset) while subjects stay shared, giving
    // mult x |orders| REAL edges with CL hubs of degree ~mult x orders/cust.
    val bigGraphProbes = Seq("pageRankDistinct", "componentsDistinct", "trianglesDistinct",
      "kCoreDistinct", "neighborJaccard", "labelProp", "clusterCoeff")
    if (bigGraphProbes.exists(enabled)) {
    val obo = "http://purl.obolibrary.org/obo/"
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val orderStride = orders.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
    val edges = (0 until mult).map { k =>
      orders.select(
        concat(lit(obo + "CL_"), col("o_custkey")).as("src"),
        concat(lit(obo + "GO_"), col("o_orderkey") + lit(k.toLong * orderStride)).as("dst"))
    }.reduce(_ union _).cache()
    println(s"distinct-graph edges: ${edges.count()}")

    timed("pageRankDistinct (8 iters)") {
      val (ranks, iters) = graft.ops.GraphTraversal.pageRankWithStats(edges, iterations = 8)
      val rows = ranks.count()
      println(f"  rounds=$iters")
      rows
    }
    timed("componentsDistinct") {
      graft.ops.ConnectedComponents.components(edges).count()
    }
    timed("labelProp (3 rounds)") {
      // per round: one edge-scale join + two combinable aggregates; CL hubs
      // of degree ~mult x orders/cust stress the vote aggregation skew
      graft.ops.GraphTraversal.labelPropagation(edges, rounds = 3).count()
    }
    timed("kCoreDistinct (k=2)") {
      // bipartite CL->GO: every GO leaf peels in wave 1, stranding the CL
      // hubs in wave 2 — constant peel depth at any mult, so the probe
      // isolates the per-round degree aggregate + endpoint semi-joins at
      // full edge volume with hub skew
      graft.ops.GraphTraversal.kCore(edges, k = 2).count()
    }
    timed("neighborJaccard (succ graph)") {
      // successor graph over mult x |orders| fresh keys: degree is constant
      // (~6), so pair volume and runtime must scale linearly in vertices
      val vs = (0 until mult).map(k => orders.select(
        (col("o_orderkey") + lit(k.toLong * orderStride)).as("v"))).reduce(_ union _)
      val e = (1 to 3).map(dl => vs.select(col("v").as("src"),
        (col("v") + dl).as("dst"))).reduce(_ union _)
      graft.ops.GraphTraversal.neighborJaccard(e, minJaccardPct = 20,
        maxPivotDegree = 50L).count()
    }
    timed("trianglesDistinct") {
      // bipartite CL->GO graph has no triangles; the probe measures the
      // orientation + wedge machinery at full edge volume with hub skew
      // (wedges per CL hub ~ (mult x orders/cust)^2 before orientation)
      graft.ops.GraphTraversal.triangleCounts(edges).count()
    }
    timed("clusterCoeff (succ graph)") {
      // dense-triangle successor graph over mult x |orders| fresh keys:
      // constant degree (~6), so the shared triangle core plus the degree
      // join must scale linearly in vertices
      val vs = (0 until mult).map(k => orders.select(
        (col("o_orderkey") + lit(k.toLong * orderStride)).as("v"))).reduce(_ union _)
      val e = (1 to 3).map(dl => vs.select(col("v").as("src"),
        (col("v") + dl).as("dst"))).reduce(_ union _)
      graft.ops.GraphTraversal.clusteringCoefficients(e).count()
    }
    edges.unpersist()
    }

    // blocked entity resolution in BOTH scaling directions: fresh brands
    // per copy (block count x mult, pair volume x mult — the horizontal
    // 100 TB shape) vs shared brands (block depth x mult, pair volume x
    // mult^2 — the quadratic-in-block shape the maxBlockRows guard exists
    // for; measured, not asserted)
    val erProbes = Seq("blockedErWide", "blockedErDeep")
    if (erProbes.exists(enabled)) {
    val part = spark.read.parquet(s"$sfDir/part.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val partStride = part.agg(max(col("p_partkey"))).head.getLong(0) + 1L
    def scaledPart(freshBrands: Boolean) = (0 until mult).map { k =>
      val shifted = part.select(
        (col("p_partkey") + lit(k.toLong * partStride)).as("p_partkey"),
        col("p_name"),
        (if (freshBrands) concat(col("p_brand"), lit(s"_c$k")) else col("p_brand"))
          .as("p_brand"))
      shifted
    }.reduce(_ union _)
    timed("blockedErWide (fresh brands)") {
      graft.ops.EntityResolution.blockedNamePairs(scaledPart(freshBrands = true),
        Seq("p_brand"), "p_partkey", "p_name", minSim = 0.9).count()
    }
    timed("blockedErDeep (shared brands)") {
      graft.ops.EntityResolution.blockedNamePairs(scaledPart(freshBrands = false),
        Seq("p_brand"), "p_partkey", "p_name", minSim = 0.9).count()
    }
    }

    // temporal path at the same multiplier, in BOTH scaling directions the
    // one-shuffle union+window design must survive: more keys (copies get
    // fresh user ids — the horizontal 100 TB shape) and deeper keys (copies
    // share user ids, so per-user event volume grows mult× — the hottest
    // single entity bounds the window stage, the design's stated skew limit)
    // round-11 relational/graph probes: skyline prefix-max machinery,
    // integer HITS rounds, and the map-side table fingerprint at mult x
    // input volume
    val r11Probes = Seq("skyline", "hitsRounds", "tableChecksum", "pprRounds",
      "compactionPlan", "checksumHash", "lpaRounds", "sccPeel", "topkPartial",
      "countMin", "kmvSketch", "kmvSetOps", "resourceAlloc")
    if (r11Probes.exists(enabled)) {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
      val orderStride = orders.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
      timed("skyline (orders, fresh keys)") {
        // mult x rows AND mult x distinct prices (cents offset per copy):
        // the x-group aggregate, bucketed prefix max, and semi-join all
        // see mult x volume; runtime must stay ~linear
        val o = (0 until mult).map { k =>
          orders.select((col("o_orderkey") + lit(k.toLong * orderStride)).as("o_orderkey"),
            (round(col("o_totalprice") * 100).cast("long") + lit(k.toLong)).as("cents"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"))
        }.reduce(_ union _)
        graft.ops.Pareto.skyline2d(o, "cents", "day").count()
      }
      timed("hitsRounds (succ graph, 2 rounds)") {
        // constant-degree successor graph over mult x fresh keys: two
        // edge-scale joins + two combinable sums per round — linear in edges
        val vs = (0 until mult).map(k => orders.select(
          (col("o_orderkey") + lit(k.toLong * orderStride)).as("v"))).reduce(_ union _)
        val e = (1 to 3).map(dl => vs.select(col("v").as("src"),
          (col("v") + dl).as("dst"))).reduce(_ union _)
        graft.ops.GraphTraversal.hits(e, rounds = 2).count()
      }
      timed("pprRounds (succ graph, 8 iters)") {
        // the g_ppr shape at mult x vertices: sources stay every-100th, so
        // |S| scales with the graph and per-round cost tracks pageRank's
        val vs = (0 until mult).map(k => orders.select(
          (col("o_orderkey") + lit(k.toLong * orderStride)).as("v"))).reduce(_ union _)
        val e = (1 to 3).map(dl => vs.select(col("v").as("src"),
          (col("v") + dl).as("dst"))).reduce(_ union _)
        graft.ops.GraphTraversal.personalizedPageRank(e,
          vs.filter(col("v") % 100 === 0).select(col("v").as("id")),
          iterations = 8).count()
      }
      val liProbe = spark.read.parquet(s"$sfDir/lineitem.parquet")
      timed("compactionPlan (inventory x mult)") {
        // mult x distinct file ids: the two-level exclusive prefix sum must
        // stay linear — the only cross-bucket state is the ≤64-row summary
        val inv = (0 until mult).map(k =>
          liProbe.select((expr("l_orderkey div 50") + lit(k.toLong * orderStride)).as("file_id")))
          .reduce(_ union _)
          .groupBy("file_id").agg(count(lit(1)).as("size_rows"))
        graft.ops.PrefixOps.exclusivePrefixSum(inv, "file_id", "size_rows", "start_off")
          .withColumn("bin", expr("start_off div 5000"))
          .agg(max(col("bin"))).head
        1L
      }
      timed("tableChecksum (lineitem)") {
        // pure map-side fingerprint + partial-agg on a k-row group key:
        // the one shuffle moves k rows per partition regardless of mult
        val li = (0 until mult).map(k =>
          liProbe.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * orderStride)))
          .reduce(_ union _)
        val fp = org.apache.spark.sql.functions.conv(substring(md5(concat_ws("|",
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_linestatus"), col("l_quantity").cast("long"),
          unix_micros(col("l_shipdate").cast("timestamp")))), 1, 15), 16, 10).cast("long")
        li.withColumn("fp", fp)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), expr("bit_xor(fp)").as("xor_sig"))
          .count()
      }
      // md5-vs-xxhash64 fingerprint cost on IDENTICAL volume: same scan,
      // same partial-agg shuffle — the delta is pure digest kernel
      // (s20 keeps md5 for cross-engine oracle parity; s25's xxhash64 is
      // the same-engine reconciliation default)
      if (enabled("checksumHash")) {
        val li = (0 until mult).map(k =>
          liProbe.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * orderStride)))
          .reduce(_ union _)
        val fpCols = Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_linestatus"), col("l_quantity"), col("l_shipdate"))
        timed("checksumHash md5") {
          graft.llm.Governance.tableFingerprint(li,
            Seq("l_returnflag", "l_linestatus"),
            org.apache.spark.sql.functions.conv(
              substring(md5(concat_ws("|", fpCols: _*)), 1, 15), 16, 10)).count()
        }
        timed("checksumHash xxhash64") {
          graft.llm.Governance.tableFingerprint(li,
            Seq("l_returnflag", "l_linestatus"), xxhash64(fpCols: _*)).count()
        }
      }
      // count-min at mult x rows, FRESH keys per copy (suppkey offset):
      // the x4 depth explode collapses map-side into a 4x32-cell partial
      // aggregate, so the shuffle is ≤ partitions·128 pre-combined cells
      // at ANY volume — runtime must track the scan, near-linearly
      timed("countMin (lineitem x mult)") {
        val rows = (0 until mult).map(k =>
          liProbe.select((col("l_suppkey") + lit(k * 100000)).as("key"),
            year(col("l_shipdate")).as("yr")))
          .reduce(_ union _)
        val merged = graft.ops.Sketches.countMinMerge(
          graft.ops.Sketches.countMinCells(rows, "key", 4, 32, Seq("yr")))
        val probes = rows.filter(col("key") % 100000 <= 25)
          .groupBy("key").agg(count(lit(1)).as("n_exact"))
        graft.ops.Sketches.countMinLookup(merged, probes, "key", 4, 32).count()
      }
      // KMV at mult x rows with mult x distinct keys: the bottom-k buffer
      // combines every partition to ≤ k entries pre-shuffle; the explicit
      // distinct (kept for the n_exact exhibit) is the only data-sized
      // exchange — production drops it and the aggregate alone remains
      timed("kmvSketch (lineitem x mult)") {
        val rows = (0 until mult).map(k =>
          liProbe.select(col("l_returnflag").as("grp"),
            (col("l_orderkey") + lit(k.toLong * orderStride)).as("l_orderkey")))
          .reduce(_ union _)
        val perGrp = graft.ops.Sketches.kmvSketch(rows, "l_orderkey", Seq("grp"), 64)
        graft.ops.Sketches.kmvMerge(perGrp, 64)
          .select(graft.ops.Sketches.kmvEstimate("bk", 64).as("est")).count()
      }
      // KMV set algebra at mult x GROUPS (fresh grp per copy): the sketch
      // build is the only data-scale pass (linear); kmvSetOps itself runs
      // on |groups| k-sized arrays, so the (7·mult choose 2) pair table
      // grows ~mult² while staying sketch-sized — the probe proves the
      // pair stage's cost is group-bounded, not data-bounded
      timed("kmvSetOps (groups x mult)") {
        val rows = (0 until mult).map(k =>
          liProbe.select(concat(col("l_returnflag"), lit(s"_$k")).as("grp"),
            (col("l_orderkey") + lit(k.toLong * orderStride)).as("l_orderkey")))
          .reduce(_ union _)
        val perGrp = graft.ops.Sketches.kmvSketch(rows, "l_orderkey", Seq("grp"), 64)
        graft.ops.Sketches.kmvSetOps(perGrp, "grp", 64).count()
      }
      // link prediction over the constant-degree successor graph at mult x
      // vertices: wedge fan-out per pivot is constant, so pairs and
      // runtime must both track ~linearly; the anti-join is edge-keyed
      timed("resourceAlloc (succ graph x mult)") {
        val vs = (0 until mult).map(k => orders.select(
          (col("o_orderkey") + lit(k.toLong * orderStride)).as("v"))).reduce(_ union _)
        val e = (1 to 3).map(dl => vs.select(col("v").as("src"),
          (col("v") + dl).as("dst"))).reduce(_ union _)
        graft.ops.GraphTraversal.resourceAllocation(e, maxPivotDegree = 50L).count()
      }
      // the g_scc ring/block family at mult x rings: outer peel rounds are
      // a property of the block chain (2), inner propagation rounds of the
      // block diameter (~8) — both CONSTANT in ring count, so runtime must
      // track the per-round edge-scale join volume, ~linearly
      timed("sccPeel (rings x mult)") {
        val nRings = 2000L * mult
        val r = spark.range(nRings).select(col("id").as("r"))
        val e = r.select((col("r") * 3).as("src"), (col("r") * 3 + 1).as("dst"))
          .unionAll(r.select((col("r") * 3 + 1).as("src"), (col("r") * 3 + 2).as("dst")))
          .unionAll(r.select((col("r") * 3 + 2).as("src"), (col("r") * 3).as("dst")))
          .unionAll(r.filter(col("r") % 2 === 0 && col("r") < nRings - 1)
            .select((col("r") * 3 + 2).as("src"), ((col("r") + 1) * 3).as("dst")))
        graft.ops.GraphTraversal.stronglyConnectedComponents(e).count()
      }
      // grouped top-3 at mult x rows, window-sort idiom vs the native
      // k-bound-heap partial aggregate: identical answers (both exact,
      // tie-deterministic); the delta is the full per-group sort shuffle
      // the window pays and the heap does not
      if (enabled("topkPartial")) {
        val li = (0 until mult).map(k =>
          liProbe.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * orderStride)))
          .reduce(_ union _)
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"))
        timed("topkPartial window idiom") {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("l_returnflag").orderBy(col("cents").desc, col("rid"))
          li.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
            .filter(col("rn") <= 3).count()
        }
        timed("topkPartial heap aggregate") {
          li.groupBy("l_returnflag")
            .agg(graft.functions.TopKAgg.topK(col("cents"), col("rid"), 3).as("tk"))
            .select(explode(col("tk"))).count()
        }
      }
      // LPA on 40-byte URI keys at mult x edges, through the internal
      // order-preserving dictionary (the unencoded loop's numbers are
      // recorded in PLANS.md)
      if (enabled("lpaRounds")) {
        val uris = (0 until mult).map(k => orders.select(
            concat(lit("http://purl.obolibrary.org/obo/CL_"),
              lpad((col("o_orderkey") + lit(k.toLong * orderStride)).cast("string"),
                12, "0")).as("v")))
          .reduce(_ union _)
        val e = (1 to 3).map(dl => uris.select(col("v").as("src"),
            concat(lit("http://purl.obolibrary.org/obo/CL_"),
              lpad((substring(col("v"), -12, 12).cast("long") + dl).cast("string"),
                12, "0")).as("dst"))).reduce(_ union _)
        timed("lpaRounds dict-encoded") {
          graft.ops.GraphTraversal.labelPropagation(e, rounds = 3).count()
        }
      }
    }

    val eventProbes = Seq("asofJoin", "sessionize", "asofHotKey",
      "intervalJoin", "intervalHotKey", "pathNgrams", "keySkewReport",
      "gapFill", "attribution", "cdcApply", "streamIntervalJoin")
    if (eventProbes.exists(enabled)) {
    val baseE = graft.ops.TemporalOps.loadEvents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
    // ONE action for both strides: each agg is a full scan of the uncached base
    val strideRow = baseE.agg(max(col("user_id")), max(col("event_id"))).head
    val userStride = strideRow.getLong(0) + 1L
    val eventStride = strideRow.getLong(1) + 1L
    def copies(shareUsers: Boolean) = (0 until mult).map { k =>
      val fresh = baseE
        .withColumn("event_id", col("event_id") + lit(k.toLong * eventStride))
        .withColumn("ts_us", col("ts_us") + lit(k.toLong)) // break cross-copy ties
      if (shareUsers) fresh
      else fresh.withColumn("user_id", col("user_id") + lit(k.toLong * userStride))
    }.reduce(_ union _)
    // the probe must measure the exact registry operator — shared shape
    def asofCount(ev: org.apache.spark.sql.DataFrame): Long =
      graft.queries.TemporalQueries.purchaseClickAsof(ev).count()
    // each scaled union is cached only if one of ITS probes is selected
    // (the line-42 gating principle, per-input)
    if (Seq("asofJoin", "sessionize", "intervalJoin", "pathNgrams",
        "keySkewReport", "gapFill", "attribution", "cdcApply",
        "streamIntervalJoin").exists(enabled)) {
      val wide = copies(shareUsers = false).cache()
      println(s"events (fresh users): ${wide.count()}")
      timed("pathNgrams (top-20 trigrams)") {
        // the ts_path_ngrams shape: sessionize + two leads + two-level
        // top-k; output is fixed at 20 rows, so runtime must track the
        // sessionize window pass, not the path vocabulary
        graft.queries.TemporalQueries.pathNgramsTop(
          wide.select(col("user_id"), col("event_id"), col("event_type"),
            col("ts_us").as("tsn"))).count()
      }
      timed("keySkewReport (user_id)") {
        // the s15 shape: one grouped count + O(√rows) histogram window —
        // the report is 1 row at any mult
        graft.ops.SkewOps.keySkewReport(wide, "user_id").count()
      }
      timed("asofJoin (mult x users)") { asofCount(wide) }
      timed("gapFill (mult x users)") {
        // fresh users, fixed 30-day span each: spine rows and runtime
        // scale ~linearly in users; the span guard never fires
        graft.queries.TemporalQueries.purchaseGapFill(wide).count()
      }
      timed("attribution (mult x users)") {
        // ONE user-partitioned range-frame window: linear in events,
        // per-user frame density fixed
        graft.queries.TemporalQueries.attributionWindow(wide).count()
      }
      timed("cdcApply (mult x changes)") {
        // change stream x mult against the fixed customer base: window
        // collapse pre-filters map-side, final image bounded by |keys|
        val baseC = spark.read.parquet(s"$sfDir/customer.parquet")
          .select(col("c_custkey").as("key"),
            round(col("c_acctbal") * 100).cast("long").as("cents"))
        graft.queries.TemporalQueries.cdcApply(baseC, wide).count()
      }
      timed("sessionize+stats (mult x users)") {
        val e = wide.select(col("user_id"), col("event_id"), col("ts_us").as("tsn"))
        graft.ops.TemporalOps.sessionStats(
          graft.ops.TemporalOps.sessionize(e, "user_id", "tsn",
            gap = 1800000000L, tieCol = "event_id"), "user_id", "tsn").count()
      }
      // fresh users: key count scales with mult, per-key density fixed —
      // output pairs and runtime should both grow ~linearly
      timed("intervalJoin (mult x users)") {
        graft.queries.TemporalQueries.purchaseClickIntervalJoin(wide).count()
      }
      // the NATIVE stream-stream twin over the same workload: two time-split
      // micro-batches through Spark's join state store. The number that
      // matters is the printed state-row count — bounded by watermark
      // delay x stream rate (rows young enough to still find partners at
      // the final watermark), NOT by total stream volume; wall time should
      // track the batch interval join plus replay overhead
      timed("streamIntervalJoin (mult x users)") {
        val dir = java.nio.file.Files.createTempDirectory("graft-ssj-probe")
        try {
          val ev = wide.select(col("user_id"), col("event_id"),
            timestamp_micros(col("ts_us")).as("ts"), col("event_type"))
          val cutUs = ev.select(unix_micros(col("ts")).as("us"))
            .stat.approxQuantile("us", Array(0.5), 0.0)(0).toLong
          val in = dir.resolve("in"); java.nio.file.Files.createDirectories(in)
          ev.filter(unix_micros(col("ts")) <= cutUs).write.parquet(s"$in/b1")
          val schema = spark.read.parquet(s"$in/b1").schema
          val st = spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(in.toString)
          val q = graft.streaming.StreamingIngest.streamingIntervalJoin(st)
            .writeStream.outputMode("append").format("memory")
            .queryName("ssj_probe").start()
          try {
            q.processAllAvailable()
            ev.filter(unix_micros(col("ts")) > cutUs).write.parquet(s"$in/b2")
            q.processAllAvailable()
            val state = Option(q.lastProgress).toSeq
              .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
            println(s"  streamIntervalJoin final state rows: $state")
            spark.table("ssj_probe").count()
          } finally q.stop()
        } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      }
      wide.unpersist()
    }
    if (Seq("asofHotKey", "intervalHotKey").exists(enabled)) {
      val hot = copies(shareUsers = true).cache()
      println(s"events (hot keys): ${hot.count()}")
      timed("asofHotKey (mult x events/user)") { asofCount(hot) }
      // hot keys densify BOTH join sides per user, so qualifying pairs —
      // the semantic output — grow ~mult^2; the probe pins that the
      // runtime tracks the output count (inherent work), not worse
      timed("intervalHotKey (mult x events/user)") {
        graft.queries.TemporalQueries.purchaseClickIntervalJoin(hot).count()
      }
      hot.unpersist()
    }
    }

    // ---- round-10 batch-4 probes: OHLC agg-vs-window, coverage gaps,
    // bucketed-join amortization, equi-height selection ------------------
    if (Seq("ohlcBars", "coverageGaps", "bucketedJoin", "equiheight",
        "spanCorruption", "symspell", "nextEvent", "seasonalDow",
        "fofRecommend", "randomWalks", "copurchase").exists(enabled)) {
      val baseE = graft.ops.TemporalOps.loadEvents(spark, sfDir)
        .repartition(spark.sparkContext.defaultParallelism)
      if (Seq("ohlcBars", "coverageGaps").exists(enabled)) {
        val strideRow = baseE.agg(max(col("user_id")), max(col("event_id"))).head
        val userStride = strideRow.getLong(0) + 1L
        val eventStride = strideRow.getLong(1) + 1L
        val ev = (0 until mult).map { k =>
          baseE.withColumn("event_id", col("event_id") + lit(k.toLong * eventStride))
            .withColumn("user_id", col("user_id") + lit(k.toLong * userStride))
            .withColumn("ts_us", col("ts_us") + lit(k.toLong))
        }.reduce(_ union _).cache()
        println(s"events (ohlc/gaps): ${ev.count()}")
        val ticks = ev.filter(col("event_type") === "purchase")
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .withColumn("day", expr("ts_us div 86400000000"))
        // day-bucket count is FIXED (~30) while ticks grow x mult: the
        // partial-combining agg should stay near-flat per row, while the
        // window idiom must shuffle + sort every tick into day partitions
        timed("ohlcBars partial agg") {
          graft.ops.TemporalOps.ohlcBars(ticks, "day", "cents", "ts_us",
            "event_id").count()
        }
        timed("ohlcBars window idiom") {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("day").orderBy(col("ts_us"), col("event_id"))
          ticks.withColumn("rn_a", row_number().over(w))
            .withColumn("rn_d", row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy("day")
                .orderBy(col("ts_us").desc, col("event_id").desc)))
            .groupBy("day")
            .agg(max(when(col("rn_a") === 1, col("cents"))).as("open"),
              max(col("cents")).as("high"), min(col("cents")).as("low"),
              max(when(col("rn_d") === 1, col("cents"))).as("close"),
              count(lit(1)).as("n_ticks"), sum(col("cents")).as("volume"))
            .count()
        }
        timed("coverageGaps (mult x users)") {
          // fresh users: runs and gaps scale ~linearly; both windows ride
          // the same user partitioning
          val iv = ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id"), col("ts_us").as("st"),
              (col("ts_us") + 300000000L).as("en"))
          graft.ops.TemporalOps.coverageGaps(iv, "user_id", "st", "en",
            "event_id").count()
        }
        ev.unpersist()
      }
      if (enabled("bucketedJoin")) {
        // orders x mult (fresh orderkeys, custkeys kept → per-customer
        // order count grows x mult), customer fixed. The claim under test:
        // the bucketed layout pays ONE write-side shuffle, then every
        // subsequent join+agg is exchange-free; the plain-parquet path
        // re-shuffles both sides on every run.
        val baseO = spark.read.parquet(s"$sfDir/orders.parquet")
        val baseC = spark.read.parquet(s"$sfDir/customer.parquet")
        val oStride = baseO.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
        val orders = (0 until mult).map(k =>
          baseO.withColumn("o_orderkey", col("o_orderkey") + lit(k.toLong * oStride)))
          .reduce(_ union _)
        val dir = java.nio.file.Files.createTempDirectory("graft-bucket-probe").toString
        def agg(o: org.apache.spark.sql.DataFrame,
                c: org.apache.spark.sql.DataFrame) =
          o.hint("merge").join(c.hint("merge"),
              col("o_custkey") === col("c_custkey"))
            .groupBy("c_custkey")
            .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("tp"))
        timed("bucketedJoin write (once)") {
          spark.sql("DROP TABLE IF EXISTS probe_orders")
          spark.sql("DROP TABLE IF EXISTS probe_customer")
          orders.write.bucketBy(32, "o_custkey").sortBy("o_custkey")
            .option("path", s"$dir/o").saveAsTable("probe_orders")
          baseC.write.bucketBy(32, "c_custkey").sortBy("c_custkey")
            .option("path", s"$dir/c").saveAsTable("probe_customer")
          spark.table("probe_orders").count()
        }
        timed("bucketedJoin join+agg x2 (0 exch)") {
          agg(spark.table("probe_orders"), spark.table("probe_customer")).count()
          agg(spark.table("probe_orders"), spark.table("probe_customer")).count()
        }
        timed("bucketedJoin shuffle-path x2") {
          agg(orders, baseC).count()
          agg(orders, baseC).count()
        }
      }
      if (Seq("nextEvent", "seasonalDow").exists(enabled)) {
        val strideRow = baseE.agg(max(col("user_id")), max(col("event_id"))).head
        val userStride2 = strideRow.getLong(0) + 1L
        val eventStride2 = strideRow.getLong(1) + 1L
        val ev = (0 until mult).map { k =>
          baseE.withColumn("event_id", col("event_id") + lit(k.toLong * eventStride2))
            .withColumn("user_id", col("user_id") + lit(k.toLong * userStride2))
            .withColumn("ts_us", col("ts_us") + lit(k.toLong))
        }.reduce(_ union _).cache()
        println(s"events (batch6): ${ev.count()}")
        timed("nextEventExamples (mult x users)") {
          graft.queries.TemporalQueries.nextEventExamples(ev).count()
        }
        timed("seasonalDow (mult x users)") {
          graft.queries.TemporalQueries.seasonalDowResiduals(ev).count()
        }
        ev.unpersist()
      }
      if (Seq("spanCorruption", "symspell").exists(enabled)) {
        val baseD = spark.read.parquet(s"$sfDir/documents.parquet")
          .repartition(spark.sparkContext.defaultParallelism)
        val dStride = baseD.agg(max(col("doc_id"))).head.getLong(0) + 1L
        val docs = (0 until mult).map(k =>
          baseD.withColumn("doc_id", col("doc_id") + lit(k.toLong * dStride)))
          .reduce(_ union _).cache()
        println(s"docs (batch6): ${docs.count()}")
        timed("spanCorruption (docs x mult)") {
          graft.llm.TextStats.spanCorruption(docs).count()
        }
        timed("symspellCorrections (docs x mult)") {
          // the dict and its variant table are dictSize-bounded at any
          // mult; the corpus side is one linear token pass
          graft.ops.TextIndex.symspellCorrections(docs, "text", 25).count()
        }
        docs.unpersist()
      }
      if (Seq("fofRecommend", "randomWalks", "copurchase").exists(enabled)) {
        val baseC = spark.read.parquet(s"$sfDir/customer.parquet")
        val cStride = baseC.agg(max(col("c_custkey"))).head.getLong(0) + 1L
        val cust = (0 until mult).map(k =>
          baseC.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * cStride)))
          .reduce(_ union _).cache()
        println(s"customers (batch6): ${cust.count()}")
        val k6 = col("c_custkey")
        val edges = (1 to 3).map(dlt =>
          cust.select(k6.as("src"), (k6 + dlt).as("dst"))).reduce(_ union _)
        timed("fofRecommend (vertices x mult)") {
          graft.queries.GraphQueries.fofCandidates(edges, sampleMod = 50).count()
        }
        timed("randomWalks (starts x mult)") {
          val starts = cust.filter(k6 % 10 === 0)
            .select(k6.as("walk_id"), k6.as("start"))
          graft.ops.GraphTraversal.randomWalks(edges, starts, steps = 3).count()
        }
        cust.unpersist()
        timed("copurchase (lineitem x mult)") {
          val baseL = spark.read.parquet(s"$sfDir/lineitem.parquet")
          val lStride = baseL.agg(max(col("l_orderkey"))).head.getLong(0) + 1L
          val li = (0 until mult).map(k =>
            baseL.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * lStride)))
            .reduce(_ union _)
          graft.queries.RelationalQueries.copurchasePairs(li, cap = 15,
            minSupport = 2).count()
        }
      }
      if (enabled("equiheight")) {
        // value domain fixed, rows x mult: the histogram summary and the
        // driver walk are CONSTANT-sized; only the map-side histogram scan
        // and the (~1/2^12-sized) boundary-bucket rank grow
        val baseL = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
        val cents = (0 until mult).map(k =>
          baseL.withColumn("c", col("c") + lit(k.toLong))).reduce(_ union _)
        timed("equiheightDeciles (2-scan)") {
          graft.ops.Selection.valuesAtRanks(spark, cents, "c",
            n => (1 to 9).map(i => (i * n + 9) / 10)).count()
        }
      }
    }
    if (enabled("aqeSkew")) {
      // AQE skew-join vs the same join with the handler off: mult× lineitem
      // with a third of the rows remapped onto ONE hot key — the single-
      // reducer straggler every static plan ships at 100 TB. Broadcast is
      // disabled (the dim is "too big" in the scenario under test) so the
      // join MUST sort-merge, and the skew thresholds are scaled to the
      // probe's data size (the mechanism is threshold-relative; production
      // keeps the 256 MB default). The ON run must both show skew=true
      // splits in the executed plan and beat the OFF wall-clock; salting
      // (j7/SkewOps) remains the static fallback when AQE can't see the
      // skew (aggregation skew, non-shuffle-join shapes).
      val baseL = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val lStride = baseL.agg(max(col("l_orderkey"))).head.getLong(0) + 1L
      // inflation floored at 10: below ~6 M rows the hot partition's
      // COMPRESSED shuffle bytes sit under any sane threshold and the
      // split (correctly) never triggers — the probe demonstrates the
      // mechanism at the size where skew actually hurts
      val skewMult = math.max(mult, 10)
      val fact = (0 until skewMult).map(k =>
          baseL.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * lStride)))
        .reduce(_ union _)
        .select(when(col("l_orderkey") % 3 < 2, 0L)
          .otherwise(col("l_orderkey") % 100000L).as("k"), col("l_quantity"))
        .cache()
      println(s"skew fact rows: ${fact.count()} (x$skewMult, 2/3 on key 0)")
      val dim = spark.range(100000L).select(col("id").as("k"), (col("id") * 7L).as("dval"))
      def joined = fact.join(dim, Seq("k"))
        .agg(sum(col("l_quantity") * col("dval")).as("s"), count(lit(1)).as("n"))
      def withConfs(skewOn: Boolean)(body: => Unit): Unit = {
        val saved = Seq(
          "spark.sql.adaptive.skewJoin.enabled",
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.coalescePartitions.enabled")
          .map(k => k -> util.Try(spark.conf.get(k)).toOption.flatMap(Option(_)))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try body
        finally saved.foreach { case (k, v) =>
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
      withConfs(skewOn = false) {
        timed("aqeSkewJoin handler OFF") { joined.collect()(0).getLong(1) }
      }
      withConfs(skewOn = true) {
        timed("aqeSkewJoin handler ON") {
          val df = joined
          // collect() (not head, which plans a separate limit query) so the
          // adaptive plan inspected below is the one that actually ran
          val n = df.collect()(0).getLong(1)
          val splits = df.queryExecution.executedPlan.toString
            .linesIterator.count(_.contains("skew=true"))
          println(s"  skew=true operators in final plan: $splits")
          require(splits > 0, "AQE did not split the skewed partition — " +
            "thresholds no longer match the probe size")
          n
        }
      }
      fact.unpersist()
    }
    if (enabled("incrementalJoin")) {
      // the u11 claim measured: refreshing a stored join view under an
      // append costs the DELTA legs, not the full re-join. orders grow
      // ×mult (fresh orderkeys, custkeys kept); the delta is one copy
      // (= the original table size at any mult), so the delta path should
      // stay FLAT while the full recompute grows with the view
      val baseO = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val baseC = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
      val oStride = baseO.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
      val allO = (0 until mult).map(k =>
          baseO.withColumn("o_orderkey", col("o_orderkey") + lit(k.toLong * oStride)))
        .reduce(_ union _).cache()
      println(s"orders (incrementalJoin): ${allO.count()}")
      val deltaO = baseO.withColumn("o_orderkey",
        col("o_orderkey") + lit((mult - 1).toLong * oStride))
      def j(a: org.apache.spark.sql.DataFrame) =
        a.join(baseC, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_nationkey"), col("cents"))
      timed("incrementalJoin full recompute") { j(allO).count() }
      timed("incrementalJoin delta leg only") { j(deltaO).count() }
      allO.unpersist()
    }
    if (enabled("incrementalCC")) {
      // the componentsIncremental claim measured: chains ×mult (fresh
      // keys), delta = the chain bridges. Full recompute contracts the
      // whole edge set every time; the increment contracts a graph whose
      // vertices are COMPONENT ids — delta-sized work on any history
      val baseC = spark.read.parquet(s"$sfDir/customer.parquet")
      val cStride = baseC.agg(max(col("c_custkey"))).head.getLong(0) + 1L
      val cust = (0 until mult).map(k =>
          baseC.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * cStride)))
        .reduce(_ union _).cache()
      println(s"customers (incrementalCC): ${cust.count()}")
      val kc = col("c_custkey")
      val eOld = cust.filter(kc % 10 =!= 9).select(kc.as("src"), (kc + 1).as("dst"))
      val eNew = cust.filter(kc % 50 === 49).select(kc.as("src"), (kc + 1).as("dst"))
      val oldLabels = graft.ops.ConnectedComponents.components(eOld).cache()
      println(s"old labels: ${oldLabels.count()} (untimed precompute — the stored table)")
      timed("incrementalCC delta increment") {
        graft.ops.ConnectedComponents.componentsIncremental(oldLabels, eNew).count()
      }
      timed("incrementalCC full recompute") {
        graft.ops.ConnectedComponents.components(eOld.union(eNew)).count()
      }
      oldLabels.unpersist(); cust.unpersist()
    }
    if (Seq("simhashNearDupPairs", "hyperBall", "stressCentrality").exists(enabled)) {
      if (enabled("simhashNearDupPairs")) {
        // half-exact-copy corpus (the lshCandidates topology): every copy
        // pair agrees on all four bands, so candidate volume tracks the
        // duplicate-cluster mass; the maxBucket gate bounds any one
        // (band, value) bucket and the Hamming verify is map-side
        val baseD = spark.read.parquet(s"$sfDir/documents.parquet")
          .repartition(spark.sparkContext.defaultParallelism)
        val dStride = baseD.agg(max(col("doc_id"))).head.getLong(0) + 1L
        val docs = (0 until mult).map { k =>
          val shifted = baseD.withColumn("doc_id", col("doc_id") + lit(k.toLong * dStride))
          if (k % 2 == 1) shifted.withColumn("text", concat(col("text"), lit(s" copyv$k")))
          else shifted
        }.reduce(_ union _)
        timed("simhashNearDupPairs (maxBucket=64)") {
          graft.llm.Dedup.simhashNearDupPairs(docs, bits = 32, nBands = 4,
            maxHamming = 2, maxBucket = 64).count()
        }
      }
      if (enabled("hyperBall") || enabled("stressCentrality")) {
        // successor graph, fresh keys x mult: per-round join is edge-scale,
        // per-vertex state is FIXED-size registers — the whole point vs the
        // exact pair set (which grows with ball volume, not vertex count)
        val baseC = spark.read.parquet(s"$sfDir/customer.parquet")
        val cStride = baseC.agg(max(col("c_custkey"))).head.getLong(0) + 1L
        val cust = (0 until mult).map(k =>
            baseC.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * cStride)))
          .reduce(_ union _)
        val kc = col("c_custkey")
        val edges = (1 to 3).map(dlt =>
          cust.select(kc.as("src"), (kc + dlt).as("dst"))).reduce(_ union _)
        timed("hyperBall t=4 (sketch state)") {
          graft.ops.GraphTraversal.hyperBall(edges, maxT = 4, lgK = 12).count()
        }
        timed("hyperBall exact-pairs tier t=4") {
          graft.ops.GraphTraversal.neighborhoodFunction(edges, maxT = 4).count()
        }
        // stress rides the same pair-set growth law (ball volume), plus a
        // per-middle-vertex in-ball x out-ball join — the quadratic-depth
        // knob is the radius, measured here
        timed("stressCentrality t=4") {
          graft.ops.GraphTraversal.stressCentrality(edges, maxT = 4).count()
        }
      }
    }
    if (Seq("ngramNovelty", "kCenter").exists(enabled)) {
      // half-exact-copy corpus: exact copies share every shingle, so the
      // duplicate mass drives df and the novel fraction collapses — the
      // adversarial shape for the df aggregate's combine step
      if (enabled("ngramNovelty")) {
        val baseD = spark.read.parquet(s"$sfDir/documents.parquet")
          .repartition(spark.sparkContext.defaultParallelism)
        val dStride = baseD.agg(max(col("doc_id"))).head.getLong(0) + 1L
        val docs = (0 until mult).map { k =>
          val shifted = baseD.withColumn("doc_id", col("doc_id") + lit(k.toLong * dStride))
          if (k % 2 == 1) shifted.withColumn("text", concat(col("text"), lit(s" copyv$k")))
          else shifted
        }.reduce(_ union _)
        timed("ngramNovelty (df join-back)") {
          val sh = Dedup.wordShingles(docs, 3)
          val dfx = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          sh.join(dfx, Seq("shingle"))
            .groupBy("id")
            .agg(count(lit(1)).as("n_grams"),
              sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
            .count()
        }
      }
      if (enabled("kCenter")) {
        // fresh ids x mult; k driver rounds of one map-side pass each —
        // wall should track the corpus scan, never k x corpus pairs
        val baseE = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val eStride = baseE.agg(max(col("vec_id"))).head.getLong(0) + 1L
        val vecs = (0 until mult).map(k =>
            baseE.withColumn("vec_id", col("vec_id") + lit(k.toLong * eStride)))
          .reduce(_ union _)
        timed("kCenterSelect k=4") {
          graft.llm.Similarity.kCenterSelect(vecs, k = 4).count()
        }
      }
    }
    if (Seq("dyadicQuantile", "louvain").exists(enabled)) {
      if (enabled("dyadicQuantile")) {
        // rows x mult, SAME value distribution: the two-stage build's
        // first aggregate combines map-side to <= 2^(bits+1) node groups,
        // so wall should track the scan (linear), never the shuffle —
        // and the md5+depth fan-out stays constant (live nodes only)
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .repartition(spark.sparkContext.defaultParallelism)
        val rows = (0 until mult).map(_ => li).reduce(_ union _)
          .select(expr(
            "shiftright(cast(round(l_extendedprice * 100) as bigint), 12)").as("u"))
        timed("dyadicQuantile grid build") {
          graft.ops.Sketches.dyadicCells(rows, "u", 12, 4, 256).count()
        }
      }
      if (enabled("louvain")) {
        // fresh keys x mult successor graph: each round is one edge-scale
        // join + bounded aggregates, so 2 rounds should scale linearly in
        // |V| — the community count grows with the graph, the per-round
        // shape does not
        val baseC = spark.read.parquet(s"$sfDir/customer.parquet")
        val cStride = baseC.agg(max(col("c_custkey"))).head.getLong(0) + 1L
        val cust = (0 until mult).map(k =>
            baseC.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * cStride)))
          .reduce(_ union _)
        val kc = col("c_custkey")
        val edges = (1 to 3).map(dlt =>
          cust.select(kc.as("src"), (kc + dlt).as("dst"))).reduce(_ union _)
        timed("louvainLevel rounds=2") {
          graft.ops.GraphTraversal.louvainLevel(edges, rounds = 2).count()
        }
      }
    }
    if (enabled("sourceTvd")) {
      // half-exact-copy corpus (duplicate mass drives shared-word counts):
      // the word self-join's per-word fan-out is bounded by #sources², so
      // wall must track the token scan — linear in rows at fixed sources
      val baseD = spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
      val dStride = baseD.agg(max(col("doc_id"))).head.getLong(0) + 1L
      val docs = (0 until mult).map { k =>
        val shifted = baseD.withColumn("doc_id", col("doc_id") + lit(k.toLong * dStride))
        if (k % 2 == 1) shifted.withColumn("text", concat(col("text"), lit(s" copyv$k")))
        else shifted
      }.reduce(_ union _)
      timed("sourceTvd (190 pairs)") {
        graft.queries.PipelineQueries.tvdFromWordCounts(
          graft.queries.PipelineQueries.sourceWordCounts(docs)).count()
      }
    }
    if (Seq("knngBuild", "hnswWalk").exists(enabled)) {
      val baseV = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
      val vecStride = baseV.agg(max(col("vec_id"))).head.getLong(0) + 1L
      if (enabled("knngBuild")) {
        // the round-15 cut-off leg, re-runnable to completion: the capped
        // init with numPlanes scaled as log2(n / targetBucket) — the
        // production pairing the operator scaladoc prescribes. Half-exact
        // copies (even k) collapse into hot buckets — the worst case the
        // cap exists for; the observed knng_maxbucket metric carries the
        // drop count. Expect ~linear wall in |V| (rounds are k²-bounded
        // per node; the init is bucket-bounded by the cap).
        val vecs = (0 until mult).map { k =>
          val shifted = baseV.withColumn("vec_id",
            col("vec_id") + lit(k.toLong * vecStride))
          if (k % 2 == 1)
            shifted.withColumn("embedding",
              transform(col("embedding"), x => x + lit(k * 0.001f)))
          else shifted
        }.reduce(_ union _).cache()
        val n = vecs.count()
        val np = math.max(4, (math.log(n / 64.0) / math.log(2)).ceil.toInt)
        timed(s"knngBuild capped (np=$np mb=64 k=16 r=2)") {
          graft.llm.Similarity.nnDescentGraph(vecs, k = 16, rounds = 2,
            numPlanes = np, maxBucket = 64).count()
        }
        vecs.unpersist()
      }
      if (enabled("hnswWalk")) {
        // serving-walk linearity in |Q| (round-15 verdict #6): the index
        // (three layer graphs over the BASE corpus) is built once,
        // untimed — the bench's staged-store shape — and only the query
        // set scales. The walk is O(beam·k·hops) per query, so wall must
        // track |Q|.
        val lvl = graft.llm.Similarity.hnswLayerOf(col("vec_id"), 2)
        val layers = Seq(
          graft.llm.Similarity.nnDescentGraph(baseV, k = 12, rounds = 3),
          graft.llm.Similarity.nnDescentGraph(baseV.filter(lvl >= 1), k = 8, rounds = 2),
          graft.llm.Similarity.nnDescentGraph(baseV.filter(lvl >= 2), k = 8, rounds = 2))
        layers.foreach(_.count()) // stage untimed
        val qs = (0 until mult).map(k =>
            baseV.filter(col("vec_id") < 20)
              .withColumn("vec_id", col("vec_id") + lit(k.toLong * vecStride)))
          .reduce(_ union _).cache()
        val nq = qs.count()
        timed(s"hnswWalk (beam=24, $nq queries, staged index)") {
          graft.llm.Similarity.layeredSearch(qs, layers, baseV, k = 5,
            beam = 24, baseHops = 5).count()
        }
        qs.unpersist()
      }
    }
    if (enabled("kTruss")) {
      // triangle-chain successor graph over fresh keys x mult (every vertex
      // in 2 path + 1 skip triangle): constant degree, so wedge volume and
      // the per-round support aggregate must scale linearly in |V|; peel
      // depth is the graph family's (2 waves then fixpoint), never the
      // data's
      val baseC = spark.read.parquet(s"$sfDir/customer.parquet")
      val cStride = baseC.agg(max(col("c_custkey"))).head.getLong(0) + 1L
      val cust = (0 until mult).map(k =>
          baseC.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * cStride)))
        .reduce(_ union _)
      val kc = col("c_custkey")
      val edges = cust.select(kc.as("src"), (kc + 1).as("dst"))
        .unionByName(cust.select(kc.as("src"), (kc + 2).as("dst")))
      timed("kTruss k=4 (peel to empty)") {
        graft.ops.GraphTraversal.kTruss(edges, k = 4).count()
      }
    }
    spark.stop()
  }
}
