package graft.llm

import graft.ops.Checkpointer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * Exact-determinism strategy: embeddings are quantized to integers
  * (round(x*1000)) before any arithmetic, so dot products are exact integer
  * sums (all < 2^53 — exact in doubles too) and the derived cosine doubles
  * are bit-identical across engines — which is what lets the DuckDB oracle
  * hash-match floating-point similarity scores.
  *
  * Scale notes: brute-force is O(|Q|·|C|·d) — the right baseline for small
  * query sets and re-ranking; the LSH sign-bucket variant shrinks candidates
  * by ~2^bits with deterministic md5-derived hyperplanes, turning the
  * all-pairs shuffle into a bucket-key co-partitioned join.
  */
object Similarity {

  /** Globally-unique observed-metric names (observation names must be
    * unique per query; a fixed name would collide when one plan uses the
    * capped init twice) — the [[Dedup]] discipline: consumers match by
    * prefix.
    */
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong()
  private def metricName(): String =
    s"knng_maxbucket_${metricSeq.incrementAndGet()}"

  /** Quantize an array<float> to array<long> by round(x * 1000), with the
    * multiply in DOUBLE. Without the cast Spark multiplies float32×int in
    * FLOAT, and a value like 0.31949999928474426f × 1000f rounds to exactly
    * 319.5f → 320, while double arithmetic (DuckDB, most engines) gives
    * 319.4999… → 319 — a one-ulp quantization flip that surfaced as score
    * mismatches at sf0.1.
    */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 1000).cast("long"))

  /** Per-dimension affine (scalar) quantization stats: (min, max) of each
    * embedding dimension over the corpus — ONE summary aggregate on d
    * uniform keys, collected as 2·d doubles. The offline-fit half of
    * [[scalarQuantize]]; fit once, reuse across batches (the
    * [[collectQuantizedCentroids]] amortization discipline).
    */
  def collectScalarQuantStats(vectors: DataFrame): (Seq[Double], Seq[Double]) = {
    val stats = vectors
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .orderBy("i")
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    (stats.map(_._1).toSeq, stats.map(_._2).toSeq)
  }

  /** Scalar quantization of embeddings — the storage companion to PQ: each
    * dimension maps affinely onto `levels`+1 integer codes,
    * `code_i = round((x_i − min_i) · levels / (max_i − min_i))` (constant
    * dimensions code to 0), cutting a float32 corpus ~4× at one byte per
    * dimension for `levels` = 255 while keeping per-dimension resolution —
    * where PQ spends its budget on cross-dimension structure. Codes are
    * deterministic IEEE arithmetic on exact inputs, so the DuckDB oracle
    * reproduces every code.
    *
    * Scale shape: the stats fit is one d-key summary aggregate (or passed
    * in, fit offline on a sample); encoding is a pure MAP-SIDE transform
    * against the 2·d-double literal — zero shuffles, chains inline in any
    * ingest pipeline. Emits (vec_id, codes, code_sum).
    */
  def scalarQuantize(vectors: DataFrame, mins: Seq[Double], maxs: Seq[Double],
                     levels: Int = 255): DataFrame = {
    require(levels >= 1, s"levels must be positive: $levels")
    require(mins.length == maxs.length && mins.nonEmpty,
      s"mins/maxs must be non-empty and equal length: ${mins.length}/${maxs.length}")
    val mnLit = typedlit(mins)
    val spanLit = typedlit(mins.indices.map(i => maxs(i) - mins(i)))
    val codes = transform(col("embedding"), (x, i) => {
      val span = element_at(spanLit, i + 1)
      // clamp to [0, levels]: sample-fit stats (the documented offline
      // mode) can miss corpus extremes, and an out-of-range value must
      // saturate (the FAISS SQ convention), not break the one-byte contract
      when(span === 0.0, lit(0)).otherwise(
        greatest(lit(0), least(lit(levels),
          round((x.cast("double") - element_at(mnLit, i + 1)) * levels / span)
            .cast("int"))))
    })
    vectors
      // fail loudly on a stats/vector dimension mismatch (schema drift) AND
      // on null elements — element_at past the stats array or arithmetic on
      // a null element would otherwise yield silent NULL codes under
      // non-ANSI evaluation, surfacing far downstream (e.g. as an sqTopK
      // kernel error) instead of here
      .withColumn("codes",
        when(col("embedding").isNull || size(col("embedding")) =!= mins.length,
          raise_error(concat(
            lit(s"scalarQuantize: stats have ${mins.length} dims, vector has "),
            coalesce(size(col("embedding")).cast("string"), lit("null")))))
        .when(exists(col("embedding"), _.isNull),
          raise_error(lit("scalarQuantize: embedding contains a null element")))
        .otherwise(codes))
      .select(col("vec_id"), col("codes"))
      .withColumn("code_sum",
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c))
  }

  /** Exact integer dot product of two array<long> — a native codegen
    * expression (plain fused loop); the composable
    * `aggregate(zip_with(...))` form evaluates interpreted per element and
    * was the measured hot spot of candidate-pair scoring.
    */
  def dotLong(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dotLong(a, b)

  /** The per-vector norm factor of [[cosineQN]]: sqrt of the exact
    * integer self-dot. Precompute it ONCE per vector in the projection
    * BELOW a pair-scale join — recomputing both self-dots at the join
    * output costs 2 extra dot kernels for EVERY pair (the dominant
    * expression cost of the ANN tier).
    */
  def normQ(q: Column): Column = sqrt(dotLong(q, q).cast("double"))

  /** Cosine similarity from quantized vectors with the two norm factors
    * precomputed ([[normQ]]): exact int dot / sqrt-norm product. Division
    * and sqrt are IEEE-deterministic on exact inputs, and the operations
    * are the same wherever the norms evaluate (sqrt per side, one
    * multiply, one divide).
    */
  def cosineQN(qa: Column, qb: Column, na: Column, nb: Column): Column =
    dotLong(qa, qb).cast("double") / (na * nb)

  /** Per-label centroid aggregation in quantized space: one row per
    * (label, dimension) with the exact integer component sum, member count,
    * and the mean component (`sum/count` — one double division on exact
    * integers, bit-identical across engines). The standard
    * prototype-embedding / class-centroid step of an embedding pipeline,
    * and the offline producer of [[ivfTopKWithQuantizedCentroids]]'s coarse
    * quantizer.
    *
    * Scale shape: posexplode → ONE map-side-combinable hash aggregate on
    * (label, dim) — dimension-parallel, no vector materializes on a single
    * reducer, output is |labels|·d rows. This is the shape that survives a
    * billion-vector corpus; an `aggregate`-HOF fold over collected arrays
    * would put whole partitions' vectors through one reducer row.
    */
  def labelCentroids(vectors: DataFrame): DataFrame =
    vectors
      .select(col("label"), posexplode(quantize(col("embedding"))).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        col("s"), col("n"),
        (col("s").cast("double") / col("n")).as("mean_q"))

  /** Two-level per-query top-k rank: appends `rank` (1..k) over `order`
    * within each `query_id` and keeps only rank <= k — the same rows as a
    * flat `Window.partitionBy(query_id)` row_number (any query-wide top-k
    * row is top-k in its own sub-bucket), but no reducer ever sorts one
    * query's whole candidate set. The neighbor-id hash pre-splits every
    * query into 256 uniform sub-keys for the first window (the
    * [[graft.llm.Sampling.sampleExactK]] two-level discipline); the second
    * window ranks <= 256·k survivors per query. With a handful of
    * queries against a 100x corpus, the flat form funnels |corpus| rows
    * through one reducer per query — the fat-key shape this avoids.
    * `order` must totally order candidates within a query (tie-break on
    * neighbor_id) so both levels agree deterministically.
    */
  private def rankTopK(scored: DataFrame, k: Int, order: Seq[Column]): DataFrame = {
    val reserved = Seq("tk_bucket", "tk_r1", "rank")
    require(!scored.columns.exists(reserved.contains),
      s"rankTopK: input already has one of ${reserved.mkString(", ")}")
    scored
      .withColumn("tk_bucket", pmod(xxhash64(col("neighbor_id")), lit(256)))
      .withColumn("tk_r1", row_number().over(
        Window.partitionBy(col("query_id"), col("tk_bucket")).orderBy(order: _*)))
      .filter(col("tk_r1") <= k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .filter(col("rank") <= k)
      .drop("tk_bucket", "tk_r1")
  }

  /** Brute-force top-k cosine neighbors of `queries` within `corpus`.
    * Input columns: (vec_id, embedding). Output: query_id, neighbor_id, cosine,
    * rank (1..k), deterministically tie-broken by neighbor id.
    * The corpus side is broadcast when small; otherwise Spark picks a
    * shuffle-replicate-NL join — at scale, prefer
    * [[ivfTopKWithQuantizedCentroids]].
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .withColumn("__nq", normQ(col("qv")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), quantize(col("embedding")).as("cv"))
      .withColumn("__nc", normQ(col("cv")))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineQN(col("qv"), col("cv"), col("__nq"), col("__nc")))
    rankTopK(scored, k, Seq(col("cosine").desc, col("neighbor_id")))
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Maximum-inner-product top-k (MIPS) — the retrieval scoring used by
    * dot-product-trained dual encoders, where magnitude matters and cosine
    * would mis-rank (a long vector beats a perfectly-aligned short one).
    * Scores are the raw QUANTIZED integer dot products — exact BIGINTs end
    * to end, no float anywhere — so ranking and oracle agreement are
    * arithmetic identities. Same exact calibration tier as
    * [[bruteForceTopK]]; at corpus scale MIPS reduces to cosine ANN via
    * the norm-augmentation trick and routes through
    * [[ivfTopKWithQuantizedCentroids]].
    */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), quantize(col("embedding")).as("cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot_q", dotLong(col("qv"), col("cv")))
    rankTopK(scored, k, Seq(col("dot_q").desc, col("neighbor_id")))
      .select("query_id", "neighbor_id", "dot_q", "rank")
  }

  /** Hard-negative mining for contrastive training: per query, the k = 3 MOST
    * similar corpus vectors carrying a DIFFERENT label — the examples a
    * contrastive objective learns most from (easy random negatives are
    * already far away; hard ones sit near the decision boundary). Same
    * integer-quantized scoring and deterministic tie-break as
    * [[bruteForceTopK]], with the label-mismatch predicate applied BEFORE
    * ranking so the k slots are all negatives.
    *
    * This is the exact calibration tier; at corpus scale route the
    * candidate generation through [[ivfTopKWithQuantizedCentroids]]'s
    * cells (label filter is a residual predicate on the probed cells)
    * exactly as for plain ANN.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("label").as("q_label"),
      quantize(col("embedding")).as("qv"))
      .withColumn("__nq", normQ(col("qv")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"),
      quantize(col("embedding")).as("cv"))
      .withColumn("__nc", normQ(col("cv")))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id") && col("q_label") =!= col("n_label"))
      .withColumn("cosine", cosineQN(col("qv"), col("cv"), col("__nq"), col("__nc")))
    rankTopK(scored, 3, Seq(col("cosine").desc, col("neighbor_id")))
      .select("query_id", "q_label", "neighbor_id", "n_label", "cosine", "rank")
  }

  /** ANN quality measurement: per-query recall of an approximate top-k
    * result (`approx`) against the exact one (`exact`) — both in the
    * (query_id, neighbor_id, rank) shape every ranker here emits. The
    * governance row a pipeline owner tunes nProbe / planes / codebook size
    * against: recall@k = |approx ∩ exact| / |exact| per query.
    *
    * Both inputs are top-k tables — bounded at k rows per query by
    * construction — so the join and per-query aggregate run on
    * (num_queries · k) rows regardless of corpus size. Exact-integer
    * counts in, so the recall double hash-matches any engine.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    e.join(a, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .select(col("query_id"), col("n_exact"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_exact")).as("recall"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived value in [-8, 8). Computed DRIVER-SIDE (the planes are
    * constants — recomputing md5 per data row would dominate the scan) and
    * embedded as literals; the formula matches the SQL oracle's in-database
    * derivation exactly.
    */
  def planeComponent(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane$plane:$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 4)
    (java.lang.Integer.parseInt(hex, 16) - 32768).toDouble / 4096.0
  }

  /** Sign-LSH bucket key: one bit per hyperplane = sign of <v, plane>.
    * The embedding length must be 64.
    */
  def lshBucket(emb: Column, numPlanes: Int): Column =
    lshBandBucket(emb, band = 0, planesPerBand = numPlanes)

  /** Sign-LSH bucket key for ONE band: bit i = sign of <v, plane> for global
    * plane id `band * planesPerBand + i`. Band 0 with planesPerBand = n is
    * exactly [[lshBucket]](n) — the plane family is shared.
    */
  def lshBandBucket(emb: Column, band: Int, planesPerBand: Int): Column = {
    val embD = emb.cast("array<double>")
    val bits = (0 until planesPerBand).map { i =>
      val p = band * planesPerBand + i
      val plane = typedlit((0 until 64).map(d => planeComponent(p, d)))
      // native fused-loop dot (codegen); accumulation order matches the
      // previous aggregate(zip_with(...)) fold, so signs are bit-identical
      val dotted = graft.functions.ArrayMath.dotDouble(embD, plane)
      when(dotted >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Random projection to `outDims` dimensions using the same md5-derived
    * hyperplane family as [[lshBucket]] (plane p = the projection's row p) —
    * deterministic dimensionality reduction for embedding pipelines
    * (Johnson–Lindenstrauss style distance preservation without a fitted
    * model). Output: the input id plus `r0..r{outDims-1}` doubles. The dot
    * products accumulate in a fixed left-to-right order on both engines
    * (native fused-loop kernel here, list_dot_product in the oracle), so
    * the raw doubles are bit-identical — no quantization needed.
    *
    * Scale shape: map-side only — the plane matrix is a driver-side
    * literal; zero shuffles, chains inline before any bucketing/storage.
    */
  def randomProjection(vectors: DataFrame, outDims: Int): DataFrame = {
    val dims = 64
    require(outDims > 0, s"outDims must be positive: $outDims")
    val embD = col("embedding").cast("array<double>")
    // fail loudly on a dimension mismatch: the dot kernel returns NULL for
    // ragged inputs, which here would emit an all-NULL projection for the
    // whole corpus with no error (same per-row discipline as
    // graft.functions.CellAssign)
    val checked = when(size(embD) === dims, embD).otherwise(raise_error(
      concat(lit(s"randomProjection: embedding length "), size(embD).cast("string"),
        lit(s" != dims $dims"))))
    val comps = (0 until outDims).map { p =>
      val plane = typedlit((0 until dims).map(d => planeComponent(p, d)))
      graft.functions.ArrayMath.dotDouble(checked, plane).as(s"r$p")
    }
    vectors.select(col("vec_id") +: comps: _*)
  }

  /** IVF (inverted-file) approximate top-k against a PRECOMPUTED coarse
    * quantizer: corpus vectors fall into Voronoi cells around
    * `centroidsQ(i)`, each query probes only its `nProbe` nearest cells and
    * ranks exact cosine within them. This is the steady-state 100 TB path —
    * the quantizer is fit once (offline, on a sample) and amortized over
    * every query batch. Centroids are in quantized integer space (each =
    * what `quantize(embedding)` yields on its values), so cell assignment
    * and probing are exact integer argmin — fully deterministic and
    * expressible in any engine, which is what lets the registry's IVF query
    * carry a DuckDB oracle. Complements [[lshBucket]] routing: IVF adapts
    * to the data distribution, LSH is data-independent.
    */
  def ivfTopKWithQuantizedCentroids(queries: DataFrame, corpus: DataFrame, k: Int,
                                    centroidsQ: Seq[Seq[Long]], nProbe: Int = 4): DataFrame = {
    // map-side-only assignment over the codegen reference-object centroids —
    // zero shuffle, zero join, no UDF row conversion; the argmin kernel,
    // tie contract, and fail-fast validation live in
    // [[graft.functions.CellAssign]]
    probeAndRank(queries, ivfAssign(corpus, centroidsQ),
      centroidsQ, k, nProbe)
  }

  /** The IVF postings build alone: `(neighbor_id, cv, cell)` for every
    * corpus vector — a map-side argmin over the codegen reference-object
    * centroids, zero shuffle. Assignment is per-vector and STATELESS, so
    * an ingest pipeline computes postings per batch and APPENDS them to a
    * persisted store; a store grown by appends is bit-identical to a
    * fresh whole-corpus assignment under the same frozen quantizer.
    */
  def ivfAssign(corpus: DataFrame, centroidsQ: Seq[Seq[Long]]): DataFrame =
    corpus
      .select(col("vec_id").as("neighbor_id"), quantize(col("embedding")).as("cv"))
      .withColumn("cell", graft.functions.CellAssign.assignCol(col("cv"), centroidsQ))

  /** IVF search over an already-built postings table (the
    * [[ivfAssign]] output read back from its store): raw embeddings are
    * never rescanned — the steady-state serving path once the index is
    * maintained incrementally.
    */
  def ivfTopKFromPostings(queries: DataFrame, postings: DataFrame, k: Int,
                          centroidsQ: Seq[Seq[Long]], nProbe: Int = 4): DataFrame =
    probeAndRank(queries, postings, centroidsQ, k, nProbe)

  /** The `id < n` corpus prefix, quantized and collected driver-side as an
    * offline coarse quantizer — the ONE definition of the
    * "first-n-vectors" quantizer shared by the IVF/SemDeDup registry
    * queries, their oracles' `WHERE vec_id < n` CTEs, and the scale
    * probes, so centroid count and scale can never drift apart between
    * call sites.
    */
  def collectQuantizedCentroids(vectors: DataFrame, n: Int): Seq[Seq[Long]] =
    vectors.filter(col("vec_id") < n).orderBy("vec_id")
      .select(quantize(col("embedding")).as("qc"))
      .collect().map(_.getSeq[Long](0).toSeq).toSeq

  /** Distributed Lloyd's k-means over quantized embeddings, EXACT across
    * engines: assignment is integer argmin of squared L2 (ties to the
    * lowest cell — the [[graft.functions.CellAssign]] contract, as a native
    * codegen map-side kernel over broadcast-literal centroids), and the
    * centroid update is the truncating integer division sum/count per
    * dimension (Java and DuckDB `//` agree on truncation toward zero), so
    * every round is bit-reproducible and the whole loop meets an unrolled
    * SQL oracle — the property float k-means can never have.
    *
    * Initial centroids are the quantized corpus prefix (vec_id < k), the
    * deterministic offline-quantizer convention shared with IVF/PQ. A cell
    * that loses every member keeps its previous centroid.
    *
    * Scale shape per round: ONE corpus scan for assignment (no join — the
    * centroid matrix rides as a codegen reference object) + one partial-
    * combined (cell, dim) sum whose k·d result is a driver-bounded model
    * artifact (the codebook discipline); the corpus is never reshuffled
    * and never holds per-round lineage. Output: (vec_id, cell, dist2) —
    * final assignment against the round-`rounds` centroids with the exact
    * integer squared distance.
    */
  def kmeansLloyd(vectors: DataFrame, k: Int, rounds: Int): DataFrame =
    kmeansLloydWithStats(vectors, k, rounds)._1

  /** [[kmeansLloyd]] plus the number of update rounds actually executed
    * (the pageRankWithStats observability surface). The loop stops EARLY
    * at a centroid fixpoint: integer centroids can only change when some
    * assignment changed, so an unchanged centroid seq means every later
    * round is identical — `rounds` becomes a budget, not a fixed cost
    * (exactness is unaffected: the update is idempotent at the fixpoint).
    */
  def kmeansLloydWithStats(vectors: DataFrame, k: Int, rounds: Int): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val q = vectors.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    var cents: Seq[Seq[Long]] = collectQuantizedCentroids(vectors, k)
    require(cents.size == k, s"corpus needs $k prefix vectors (vec_id < $k) to seed, " +
      s"found ${cents.size}")
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val sums = q
        .withColumn("cell", graft.functions.CellAssign.assignCol(col("qv"), cents))
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect() // k·d rows — bounded model artifact, never corpus-sized
      val byCell = sums.groupBy(_.getInt(0))
      val next = (0 until k).map { c =>
        byCell.get(c) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(row => row.getLong(2) / row.getLong(3)).toSeq
          case None => cents(c) // emptied cell keeps its centroid
        }
      }
      if (next == cents) converged = true else { cents = next; r += 1 }
    }
    val centArr = array(cents.map(c => typedlit(c)): _*)
    val out = q.withColumn("cell", graft.functions.CellAssign.assignCol(col("qv"), cents))
      .withColumn("ce", element_at(centArr, col("cell") + 1))
      .select(col("vec_id"), col("cell"),
        (dotLong(col("qv"), col("qv")) - lit(2L) * dotLong(col("qv"), col("ce")) +
          dotLong(col("ce"), col("ce"))).as("dist2"))
    (out, r)
  }

  /** Greedy farthest-point selection (k-center / core-set): pick the
    * vector with the smallest id, then k−1 times the vector maximizing the
    * minimum exact-integer squared L2 distance to the chosen set (ties to
    * the smallest id) — the classical 2-approximation for the k-center
    * objective and the standard diverse-subset pass training-data curation
    * runs before expensive labeling/dedup.
    *
    * Determinism: quantized vectors ([[quantize]]), integer distances, and
    * total tie-breaks make every round — and therefore the whole selected
    * set — bit-reproducible and SQL-replayable (the kmeansLloyd
    * discipline applied to selection).
    *
    * Scale shape: the chosen set is a k-row model artifact riding the scan
    * as array literals — each round is ONE map-side min-over-centers pass
    * + a TakeOrdered(1) (never a corpus shuffle, never a pairwise join);
    * k driver rounds total, k bounded by design. Output: one row per
    * corpus vector — (`vec_id`, `min_dist2` to the FINAL set, `sel_round`
    * 0..k−1 for chosen vectors, −1 otherwise).
    */
  def kCenterSelect(vectors: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = vectors.sparkSession
    val corp = vectors.select(col("vec_id").cast("long").as("vec_id"),
      quantize(col("embedding")).as("qv"))
    val seed = corp.orderBy("vec_id").limit(1).collect()
    require(seed.nonEmpty, "kCenterSelect: empty corpus")
    val centers = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])](
      (seed(0).getLong(0), seed(0).getSeq[Long](1).toSeq))
    def minDist2: Column = centers.map { case (_, ce) =>
      val c = typedlit(ce)
      dotLong(col("qv"), col("qv")) - lit(2L) * dotLong(col("qv"), c) +
        dotLong(c, c)
    }.reduce(least(_, _))
    for (_ <- 1 until k) {
      // exclude already-chosen ids from the candidate pool: quantization
      // can collide distinct vectors (md = 0 everywhere), and without the
      // exclusion the asc-id tie-break would re-pick a chosen center —
      // duplicating its output row through the selection join
      val chosen = centers.map(_._1).toSeq
      val cand = corp.filter(!col("vec_id").isin(chosen: _*))
        .withColumn("md", minDist2)
        .orderBy(desc("md"), asc("vec_id")).limit(1)
        .select("vec_id", "qv").collect()
      require(cand.nonEmpty,
        s"kCenterSelect: k=$k exceeds the corpus size ${chosen.size}")
      centers += ((cand(0).getLong(0), cand(0).getSeq[Long](1).toSeq))
    }
    import spark.implicits._
    val sel = centers.zipWithIndex
      .map { case ((id, _), i) => (id, i.toLong) }.toSeq
      .toDF("vec_id", "sel_round")
    corp.withColumn("min_dist2", minDist2)
      .join(broadcast(sel), Seq("vec_id"), "left")
      .na.fill(-1L, Seq("sel_round"))
      .select("vec_id", "min_dist2", "sel_round")
  }

  /** Product-quantization codebooks from the corpus prefix: codebook m's
    * `numCodewords` codewords are the first vectors' m-th contiguous
    * subvector slices — the same offline-quantizer convention as
    * [[collectQuantizedCentroids]], shared with the DuckDB oracles. At
    * production scale codebooks come from a per-subspace k-means fit; the
    * prefix derivation is the deterministic stand-in that keeps every
    * engine bit-equal.
    */
  def collectPqCodebooks(vectors: DataFrame, numCodewords: Int,
                         numSubspaces: Int): Seq[Seq[Seq[Long]]] = {
    val full = collectQuantizedCentroids(vectors, numCodewords)
    require(full.nonEmpty, s"corpus has no vectors with vec_id < $numCodewords")
    sliceIntoCodebooks(full, numSubspaces)
  }

  /** The one definition of the per-subspace slicing convention shared by
    * flat-PQ and residual codebooks (and mirrored by their oracles):
    * codebook m = each row's m-th contiguous `d / numSubspaces` slice.
    */
  private def sliceIntoCodebooks(rows: Seq[Seq[Long]], numSubspaces: Int): Seq[Seq[Seq[Long]]] = {
    val d = rows.head.length
    require(numSubspaces >= 1 && d % numSubspaces == 0,
      s"embedding dimension $d must divide evenly into numSubspaces=$numSubspaces")
    val sub = d / numSubspaces
    (0 until numSubspaces).map(m => rows.map(_.slice(m * sub, (m + 1) * sub)))
  }

  /** TRAINED per-subspace PQ codebooks (round-15 verdict #8): two rounds of
    * exact-integer Lloyd's k-means (16 codewords) INSIDE each of 8 contiguous subspaces, seeded
    * by the corpus-prefix slices ([[collectPqCodebooks]] — the previous
    * codebooks are round 0 of these). Every piece is the [[kmeansLloyd]]
    * determinism kit: integer argmin assignment with ties to the lowest
    * codeword, truncating-division centroid updates, emptied codewords
    * keep their value, early stop at the fixpoint — so the trained
    * codebooks are a pure function of the vector multiset and the whole
    * training replays in SQL (the sim_kmeans_lloyd discipline per
    * subspace).
    *
    * Scale shape: ONE aggregate pass per round — each row contributes its
    * M subvectors' (subspace, cell, pos, value) cells to a map-side-
    * combinable sum over ≤ M·k·(d/M) = k·d groups, collected as a bounded
    * model artifact (the kmeansLloyd economics, M-plexed); assignment
    * rides the scan as literal codebooks, no join, no shuffle of vectors.
    */
  def trainPqCodebooks(vectors: DataFrame): Seq[Seq[Seq[Long]]] = {
    var cbs = collectPqCodebooks(vectors, 16, 8)
    val sub = cbs.head.head.length
    val q = vectors.select(quantize(col("embedding")).as("qv"))
    var r = 0
    var converged = false
    while (r < 2 && !converged) {
      val subCols = cbs.zipWithIndex.map { case (cbm, m) =>
        val v = slice(col("qv"), m * sub + 1, sub)
        struct(lit(m).as("m"),
          graft.functions.CellAssign.assignCol(v, cbm).as("cell"), v.as("v"))
      }
      val sums = q.select(explode(array(subCols: _*)).as("s"))
        .select(col("s.m"), col("s.cell"), posexplode(col("s.v")).as(Seq("pos", "x")))
        .groupBy("m", "cell", "pos")
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect() // ≤ k·d rows — bounded model artifact, never corpus-sized
      val byKey = sums.map(row => ((row.getInt(0), row.getInt(1), row.getInt(2)),
        (row.getLong(3), row.getLong(4)))).toMap
      val next = cbs.zipWithIndex.map { case (cbm, m) =>
        cbm.zipWithIndex.map { case (cw, j) =>
          if (byKey.contains((m, j, 0)))
            (0 until sub).map { p => val (sx, n) = byKey((m, j, p)); sx / n }
          else cw // emptied codeword keeps its value
        }
      }
      if (next == cbs) converged = true else { cbs = next; r += 1 }
    }
    cbs
  }

  /** PQ encode (Jégou et al., TPAMI 2011): (vec_id, codes) where codes[m] =
    * index of the nearest codeword (exact integer squared-L2 argmin, tie →
    * lowest index — the [[graft.functions.CellAssign]] contract) of the
    * m-th contiguous subvector. Map-side only, zero shuffles: at 100 TB
    * this is the compression pass that turns a d-dim float corpus into M
    * small ints per row (64 dims → 8 codes ≈ 30× smaller), the
    * representation the ADC scan reads instead of the vectors.
    */
  def pqEncode(vectors: DataFrame, codebooks: Seq[Seq[Seq[Long]]]): DataFrame = {
    graft.functions.Pq.validateCodebooks(codebooks)
    val sub = codebooks.head.head.length
    vectors.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .select(col("vec_id"),
        array(codebooks.zipWithIndex.map { case (cbm, m) =>
          graft.functions.CellAssign.assignCol(slice(col("qv"), m * sub + 1, sub), cbm)
        }: _*).as("codes"))
  }

  /** PQ top-k by asymmetric distance (ADC): the query stays an exact
    * vector; each corpus row is scored as Σ_m lut[m][codes[m]] where the
    * per-query LUT holds the squared L2 from each query subvector to every
    * codeword — M table lookups per pair instead of d multiplies, over a
    * corpus that is only codes. Output: (query_id, neighbor_id, adc,
    * rank 1..k), ranked ascending by distance, ties to the lowest id.
    *
    * Scale shape: queries (with LUTs) broadcast; the encoded corpus is
    * scanned once, map-side — the scan is the ENTIRE search, no
    * candidate-generation shuffle at all, which is the right trade when
    * the corpus fits memory only as codes. Both the LUT build and the ADC
    * sum are native codegen kernels ([[graft.functions.Pq]]); everything
    * is exact integer arithmetic, so ranks reproduce on any engine.
    * Accuracy is bounded by quantizer granularity (distances are to
    * reconstructed codewords, not true vectors) — compose with an exact
    * re-rank of the top candidates where recall matters.
    */
  def pqTopKWithCodebooks(queries: DataFrame, corpus: DataFrame, k: Int,
                          codebooks: Seq[Seq[Seq[Long]]]): DataFrame = {
    graft.functions.Pq.validateCodebooks(codebooks)
    val kw = codebooks.head.length
    val codes = pqEncode(corpus, codebooks)
      .withColumnRenamed("vec_id", "neighbor_id")
    val q = queries.select(col("vec_id").as("query_id"),
      graft.functions.Pq.lutCol(quantize(col("embedding")), codebooks).as("lut"))
    val scored = broadcast(q).crossJoin(codes)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", graft.functions.Pq.adcCol(col("lut"), col("codes"), kw))
    rankTopK(scored, k, Seq(col("adc"), col("neighbor_id")))
      .select("query_id", "neighbor_id", "adc", "rank")
  }

  /** Symmetric scalar-quantized top-k: both sides encode through the SAME
    * [[scalarQuantize]] affine map and rank by exact integer squared L2
    * over the codes — the FAISS `IndexScalarQuantizer` search mode, and
    * the search half of the SQ storage path (PQ:ADC :: SQ:this). Symmetric
    * (query also quantized) keeps the distance a pure integer — engine-
    * portable and oracle-exact — at the cost of one extra half-step of
    * query-side quantization noise vs asymmetric scoring.
    *
    * Scale shape: the [[pqTopKWithCodebooks]] memory-bound discipline —
    * query codes BROADCAST, the corpus scanned once as codes with the
    * distance in one map-side project, and the [[rankTopK]] two-level
    * window bounding every reducer's sort before the final per-query
    * rank; the corpus vectors are never shuffled. dist2 bounds:
    * levels² · d ≤ 2^20·d — long-safe for any real dimensionality.
    */
  def sqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    def longCodes(df: DataFrame, as: String) =
      scalarQuantize(df, mins, maxs)
        .select(col("vec_id").as(as),
          transform(col("codes"), _.cast("long")).as(s"${as}_c"))
    val q = longCodes(queries, "query_id")
    val c = longCodes(corpus, "neighbor_id")
    // |a−b|² = |a|² − 2a·b + |b|² via the native integer dot kernel
    val dist2 = dotLong(col("query_id_c"), col("query_id_c")) -
      lit(2L) * dotLong(col("query_id_c"), col("neighbor_id_c")) +
      dotLong(col("neighbor_id_c"), col("neighbor_id_c"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dist2", dist2)
    rankTopK(scored, k, Seq(col("dist2"), col("neighbor_id")))
      .select("query_id", "neighbor_id", "dist2", "rank")
  }

  /** Residual PQ codebooks for IVF-PQ: assign each of the first
    * `numCodewords` corpus vectors to its nearest coarse centroid, take the
    * RESIDUAL (vector − centroid), and slice the residuals into
    * per-subspace codewords — the same deterministic corpus-prefix
    * convention as [[collectPqCodebooks]], in the space IVF-PQ actually
    * quantizes (residuals cluster around the origin, so codewords spend
    * their precision on fine structure instead of cell offsets).
    */
  def collectPqResidualCodebooks(vectors: DataFrame, coarseQ: Seq[Seq[Long]],
                                 numCodewords: Int, numSubspaces: Int): Seq[Seq[Seq[Long]]] = {
    val rows = vectors.filter(col("vec_id") < numCodewords).orderBy("vec_id")
      .select(quantize(col("embedding")).as("qv"))
      .withColumn("cell", graft.functions.CellAssign.assignCol(col("qv"), coarseQ))
      .select(graft.functions.Pq.residualCol(col("qv"), col("cell"), coarseQ).as("r"))
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
    require(rows.nonEmpty, s"corpus has no vectors with vec_id < $numCodewords")
    sliceIntoCodebooks(rows, numSubspaces)
  }

  /** IVF-PQ top-k (the FAISS-style composition, Jégou et al. 2011 §IV):
    * the coarse quantizer prunes (only `nProbe` cells per query are
    * scanned) AND product quantization compresses (scanned rows are M
    * codes, not vectors). Corpus rows store (cell, residual codes); a
    * query builds one LUT per probed cell from its residual vs that cell's
    * centroid, so the ADC sum is the EXACT squared L2 between the query
    * and each row's reconstruction (centroid + codeword) — distances are
    * comparable across cells and fully deterministic.
    *
    * Scale shape: encode is map-side (coarse argmin → residual → M
    * sub-argmins, all native codegen kernels, zero shuffles); search
    * broadcasts |Q|·nProbe LUT rows and equi-joins them against the
    * code table on `cell` — the corpus shuffles ONCE on cell (or never,
    * if the code table is pre-partitioned/bucketed by cell, the steady
    * state at 100 TB), and only probed cells' rows are scored at M
    * lookups each. This is the memory-bound AND pruned operating point:
    * neither IVF's full-vector cells nor flat PQ's whole-corpus scan.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                coarseQ: Seq[Seq[Long]], codebooks: Seq[Seq[Seq[Long]]],
                nProbe: Int = 4): DataFrame = {
    graft.functions.Pq.validateCodebooks(codebooks)
    val kw = codebooks.head.length
    val sub = codebooks.head.head.length
    require(coarseQ.nonEmpty && coarseQ.head.length == codebooks.length * sub,
      s"coarse centroid dims ${coarseQ.headOption.map(_.length).getOrElse(0)} must equal " +
        s"numSubspaces ${codebooks.length} * subDim $sub")
    // corpus: (neighbor_id, cell, residual codes) — map-side only
    val assigned = corpus
      .select(col("vec_id").as("neighbor_id"), quantize(col("embedding")).as("cv"))
      .withColumn("cell", graft.functions.CellAssign.assignCol(col("cv"), coarseQ))
      .withColumn("r", graft.functions.Pq.residualCol(col("cv"), col("cell"), coarseQ))
      .select(col("neighbor_id"), col("cell"),
        array(codebooks.zipWithIndex.map { case (cbm, m) =>
          graft.functions.CellAssign.assignCol(slice(col("r"), m * sub + 1, sub), cbm)
        }: _*).as("codes"))
    // queries: nProbe nearest cells each ([[probeCells]] — the one probe
    // contract shared with IVF), one LUT per (query, cell) from the
    // query's residual vs that cell's centroid
    val luts = probeCells(queries, coarseQ, nProbe)
      .select(col("query_id"), col("cell"),
        graft.functions.Pq.lutCol(
          graft.functions.Pq.residualCol(col("qv"), col("cell"), coarseQ),
          codebooks).as("lut"))
    val scored = broadcast(luts).join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", graft.functions.Pq.adcCol(col("lut"), col("codes"), kw))
    rankTopK(scored, k, Seq(col("adc"), col("neighbor_id")))
      .select("query_id", "neighbor_id", "adc", "rank")
  }

  /** PQ shortlist + exact re-rank — the standard PQ deployment shape: ADC
    * retrieves `shortlist` candidates per query from codes alone, then the
    * shortlist (|Q|·shortlist rows, tiny) joins back to the full vectors
    * for exact quantized-cosine ranking. Recall now depends only on the
    * true neighbors LANDING in the shortlist, not on ADC's distance
    * fidelity; with shortlist = |corpus| the output equals
    * [[bruteForceTopK]] exactly (the spec pins this). Output matches
    * bruteForceTopK: (query_id, neighbor_id, cosine, rank).
    *
    * Scale shape: the ADC pass is the corpus scan ([[pqTopKWithCodebooks]]);
    * the re-rank joins the BROADCAST shortlist against the vector table on
    * id — one hash join probe per corpus row, no shuffle of the vectors.
    */
  def pqTopKReranked(queries: DataFrame, corpus: DataFrame, k: Int, shortlist: Int,
                     codebooks: Seq[Seq[Seq[Long]]]): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val short = pqTopKWithCodebooks(queries, corpus, shortlist, codebooks)
      .select("query_id", "neighbor_id")
    val qv = queries.select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .withColumn("__nq", normQ(col("qv")))
    val cv = corpus.select(col("vec_id").as("neighbor_id"), quantize(col("embedding")).as("cv"))
      .withColumn("__nc", normQ(col("cv")))
    val scored = broadcast(short.join(qv, "query_id")).join(cv, "neighbor_id")
      .withColumn("cosine", cosineQN(col("qv"), col("cv"), col("__nq"), col("__nc")))
    rankTopK(scored, k, Seq(col("cosine").desc, col("neighbor_id")))
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** SemDeDup-style semantic dedup: assign every vector to its nearest
    * coarse-quantizer cell (same offline-centroid contract as
    * [[ivfTopKWithQuantizedCentroids]] — integer-exact argmin), compare all
    * pairs WITHIN a cell by exact quantized cosine, and greedily drop the
    * higher id of every pair with cosine ≥ `tau`. Returns the kept vectors
    * as (vec_id, cell). Near-duplicate *meanings* — paraphrases, re-crawls,
    * translations embedded close together — dedup here where n-gram methods
    * see distinct texts.
    *
    * Scale shape: assignment is map-side (no fit job, no shuffle); the
    * within-cell pairing is a merge-hinted self-equi-join on `cell` — cell
    * populations are corpus/k, so k must grow with the corpus (the SemDeDup
    * operating point) to bound the O(Σ cell²) pair table; sort-merge spills
    * where a per-cell collect_list would OOM one reducer. The pair and drop
    * tables are data-dependent (dup-density-bound), hence MERGE hints
    * throughout (static size estimates for them are meaningless — the
    * mis-planned-broadcast lesson).
    */
  def semanticDedup(vectors: DataFrame, centroidsQ: Seq[Seq[Long]], tau: Double): DataFrame = {
    // assigned feeds three consumers (both self-join sides + the anti-join
    // base): materialize once — otherwise each branch re-runs the
    // nCentroids×dims assignment kernel, the CPU-dominant stage (there is
    // no upstream exchange for AQE to reuse; map-side work re-executes
    // per-branch). This pins a corpus-scale (id, qv, cell) table in block
    // storage — at true corpus scale run the assignment as its own pipeline
    // stage persisted to a table (the SemDeDup operating shape) and feed
    // that table here; the inline checkpoint serves the self-contained
    // operator form. The Checkpointer writes a reliable checkpoint once a
    // checkpoint dir is configured.
    val assigned = Checkpointer(vectors
      .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      .withColumn("cell", graft.functions.CellAssign.assignCol(col("qv"), centroidsQ))
      .withColumn("__nv", normQ(col("qv"))))
    val left = assigned.select(col("cell"), col("id").as("id_a"),
      col("qv").as("qa"), col("__nv").as("__na"))
    val right = assigned.select(col("cell"), col("id").as("id_b"),
      col("qv").as("qb"), col("__nv").as("__nb"))
    val drops = left.join(right.hint("merge"), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosineQN(col("qa"), col("qb"), col("__na"), col("__nb")) >= tau)
      .select(col("id_b").as("id")).distinct()
    assigned.join(drops.hint("merge"), Seq("id"), "left_anti")
      .select(col("id").as("vec_id"), col("cell"))
  }

  /** THE probe contract, shared by IVF and IVF-PQ (and mirrored by their
    * oracles): each query's `nProbe` nearest cells by the exact-integer
    * expansion |q|² − 2⟨q,c⟩ + |c|² over quantized vectors (native dot
    * kernel), ties to the LOWEST cell. Returns (query_id, qv, cell) —
    * one row per probed cell. Centroids broadcast; never a corpus touch.
    */
  private def probeCells(queries: DataFrame, centroidsQ: Seq[Seq[Long]], nProbe: Int): DataFrame = {
    val centDf = queries.sparkSession.createDataFrame(
      centroidsQ.zipWithIndex.map { case (c, i) => (i, c) }).toDF("cell", "qcent")
    val q = queries.select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
    val dist2 = dotLong(col("qv"), col("qv")) -
      lit(2L) * dotLong(col("qv"), col("qcent")) +
      dotLong(col("qcent"), col("qcent"))
    // flat per-query window is fine HERE (unlike the candidate rankers,
    // which go through rankTopK): the frame is |q| x nCells centroid rows,
    // bounded by the coarse quantizer's size, never by the corpus
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("cell"))
    q.crossJoin(broadcast(centDf))
      .withColumn("dist2", dist2)
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .withColumn("__nq", normQ(col("qv")))
      .select("query_id", "qv", "__nq", "cell")
  }

  /** Shared IVF tail: probe each query's `nProbe` nearest cells
    * ([[probeCells]]), equi-join the cell-assigned corpus, exact cosine
    * rank.
    */
  private def probeAndRank(queries: DataFrame, assigned: DataFrame,
                           centroidsQ: Seq[Seq[Long]], k: Int, nProbe: Int): DataFrame = {
    val probed = probeCells(queries, centroidsQ, nProbe)
    // norm below the join: `assigned` may be an external postings table
    // (ivfTopKFromPostings), so the corpus-side norm is derived here, once
    // per posting row, not per probed pair
    val scored = probed.join(assigned.withColumn("__nc", normQ(col("cv"))),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineQN(col("qv"), col("cv"), col("__nq"), col("__nc")))
    rankTopK(scored, k, Seq(col("cosine").desc, col("neighbor_id")))
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Exact integer second-moment (scatter) matrix of the quantized
    * embeddings: one row per dimension pair (dim_i ≤ dim_j) with
    * Σ q_i·q_j, the component sums, and the vector count — everything
    * needed to mean-center driver-side
    * (cov_ij = (sum_prod − sum_i·sum_j/n)/n). This is the offline
    * statistic behind PCA whitening / random-projection calibration of an
    * embedding corpus, kept in exact integer space so any engine
    * reproduces it bit-for-bit.
    *
    * Scale shape: generate→generate→filter→partial-aggregate, all inside
    * one codegen stage — the d² per-row fan-out never materializes, and
    * the only exchange carries d(d+1)/2 ≈ 2k groups (d=64). Work is
    * O(n·d²) — inherent to a scatter matrix, and embarrassingly parallel.
    */
  def secondMoments(vectors: DataFrame): DataFrame = {
    val q = vectors.select(quantize(col("embedding")).as("qv"))
    val ei = q.select(col("qv"), posexplode(col("qv")).as(Seq("i", "qi")))
    ei.select(col("i"), col("qi"), posexplode(col("qv")).as(Seq("j", "qj")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("qi") * col("qj")).as("sum_prod"),
        sum(col("qi")).as("sum_i"), sum(col("qj")).as("sum_j"),
        count(lit(1)).as("n"))
      .select(col("i").as("dim_i"), col("j").as("dim_j"),
        col("sum_prod"), col("sum_i"), col("sum_j"), col("n"))
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= tau) —
    * the "embedding near-dup" dedup mode, brute-force within BANDED sign-LSH
    * buckets (MinHash-LSH banding applied to hyperplane bits).
    *
    * Scale shape: the group key is (band, bucket) with `bands * 2^planesPerBand`
    * distinct values — at the default 4×2^16 that is ~256k fine-grained groups,
    * so no single reducer ever sees more than one bucket's vectors and
    * parallelism scales with the key space, unlike a single global
    * 2^numPlanes-way grouping. A pair is a candidate when ALL bits of ANY band
    * agree (higher recall than one wide key at equal total planes); candidates
    * found by several bands are collapsed by the final distinct. Groupby +
    * streamed pairing (OrderedPairsExpr) keeps it ONE shuffle at constant
    * memory per bucket (see Dedup.lshCandidates for why not a self-join).
    */
  // ---- deterministic k-NN graph: NN-descent (the HNSW-family member) -----
  // HNSW itself is inadmissible in this engine: its insert order IS the
  // graph (each insertion greedily wires into the graph built so far), so
  // under Spark's nondeterministic partition order two runs disagree and no
  // replaying oracle can exist. The admissible family member (round-14
  // verdict #8) is NN-DESCENT (Dong, Moses & Li, "Efficient k-nearest
  // neighbor graph construction for generic similarity measures", WWW
  // 2011): the k-NN graph is improved by a fixed number of
  // neighbors-of-neighbors rounds, and each round is a PURE SET FUNCTION
  // of the previous graph — initial candidates from the deterministic
  // md5-plane LSH buckets plus an id-ring (so every node always has ≥ k
  // candidates), candidate generation a self-join, selection a top-k
  // window with (cosine DESC, id) tie-breaks. No randomness, no order
  // dependence: the graph is a function of the vector multiset, replayable
  // row-for-row in SQL. Layering for the search tier reuses the KLL/HNSW
  // trick — level(id) from the id hash — so the hierarchy too is
  // order-free (hnswLayerOf / layeredSearch below).
  //
  // Scale shape (100 TB): init is an lshBucket equi-join (bucket size is
  // controlled by plane count and the documented multi-band
  // production path); each round's candidate volume is ≤ (2k)²·|V| rows
  // (out-degree k by construction, REVERSE degree capped to k by a
  // per-node window before expansion — the ρ-sampling of the paper made
  // deterministic), scored by the native integer-dot kernel and reduced by
  // the bucketed two-phase top-k window on (id). Rounds are a fixed small
  // constant (the paper's convergence is geometric); nothing is ever
  // all-pairs and no step needs a driver structure.

  /** One deterministic NN-descent improvement round over `edges`
    * (id, neighbor_id, cosine; ≤ k rows per id): symmetrize with the
    * reverse-degree cap, expand neighbors-of-neighbors, score the distinct
    * candidate union (old edges included — the round can only improve),
    * keep top-k per node.
    */
  private def nnDescentRound(edges: DataFrame, qvecs: DataFrame, k: Int): DataFrame = {
    val fwd = edges.select(col("id"), col("neighbor_id"))
    // reverse cap through the bucketed two-phase top-k (rankTopK with
    // neighbor_id as the partition key): out-degree is k-bounded but
    // IN-degree is not — a hub node's in-edges (up to O(|V|) rows) would
    // funnel through a single reducer under a flat
    // Window.partitionBy(neighbor_id), the exact fat-key shape rankTopK
    // was built to avoid. Same rows as the flat window (any per-key top-k
    // row is top-k in its own hash sub-bucket), so the unrolled SQL
    // oracle — which keeps the flat form for readability — is unchanged.
    val rev = rankTopK(
        edges.select(col("neighbor_id").as("query_id"),
          col("id").as("neighbor_id"), col("cosine")),
        k, Seq(col("cosine").desc, col("neighbor_id")))
      .select(col("query_id").as("id"), col("neighbor_id"))
    val sym = fwd.unionByName(rev).distinct()
    val cand = sym.as("a")
      .join(sym.select(col("id").as("mid"), col("neighbor_id").as("nb2")).as("b"),
        col("a.neighbor_id") === col("b.mid"))
      .select(col("a.id").as("id"), col("nb2").as("neighbor_id"))
      .filter(col("id") =!= col("neighbor_id"))
      .unionByName(sym)
      .distinct()
    val scored = cand
      .join(qvecs.select(col("vid").as("id"), col("qv"), col("__nq")), Seq("id"))
      .join(qvecs.select(col("vid").as("neighbor_id"), col("qv").as("cv"),
        col("__nq").as("__nc")), Seq("neighbor_id"))
      .withColumn("cosine", cosineQN(col("qv"), col("cv"), col("__nq"), col("__nc")))
      .select("id", "neighbor_id", "cosine")
    rankTopKById(scored, k)
  }

  /** Per-node top-k on an (id, neighbor_id, cosine) frame — the rankTopK
    * two-phase window keyed by `id` instead of `query_id`. */
  private def rankTopKById(scored: DataFrame, k: Int): DataFrame =
    rankTopK(scored.withColumnRenamed("id", "query_id"), k,
        Seq(col("cosine").desc, col("neighbor_id")))
      .withColumnRenamed("query_id", "id")

  /** Deterministic k-NN graph: LSH-bucket + id-ring init, `rounds`
    * NN-descent rounds. Output (id, neighbor_id, cosine, rank ≤ k).
    *
    * `maxBucket` caps the INIT's same-LSH-bucket pair generation: without
    * it the init joins ALL same-bucket pairs — quadratic in bucket size,
    * i.e. ~(n/2^4)² pairs at uniform occupancy (4 LSH planes) and far worse on a
    * near-duplicate-heavy corpus where one hot bucket holds a whole dup
    * cluster (round-15 verdict #1: the 100x probe leg had to be cut off).
    * Buckets above the cap are DROPPED from the init — their nodes keep
    * the id-ring floor and the NN-descent rounds (k²-bounded) recover
    * their neighborhoods — and the drop count is published as observed
    * metric `knng_maxbucket_<n>` (the [[Dedup.lshCandidates]] no-silent-
    * caps discipline). At scale the plane count would have to grow as
    * log₂(n / targetBucketSize) for the cap to trim only the skewed tail
    * instead of the whole init.
    */
  def nnDescentGraph(vectors: DataFrame, k: Int, rounds: Int,
                     maxBucket: Long = Long.MaxValue): DataFrame = {
    val ring = 2
    require(k >= 1 && rounds >= 0 && ring >= 1, s"bad k/rounds/ring: $k/$rounds/$ring")
    val qvecs = vectors.select(col("vec_id").as("vid"),
      quantize(col("embedding")).as("qv"),
      lshBucket(col("embedding"), 4).as("bucket"))
      .withColumn("__nq", normQ(col("qv")))
    // init candidates: same-LSH-bucket pairs (quality) ∪ id-ring (coverage
    // floor — a node in a singleton bucket still seeds candidates). The
    // ring is RAW id arithmetic (id ± 1..ring, equi-join) — map-side
    // scalable, no global ordering anywhere; it assumes the standard dense
    // contiguous row-id layout, and a sparse id space simply leans on the
    // LSH side (more planes/bands), losing only the floor, never
    // correctness
    val ringCand = (1 to ring).flatMap { dlt =>
      Seq(
        qvecs.select(col("vid").as("id"), (col("vid") + dlt).as("mid")),
        qvecs.select(col("vid").as("id"), (col("vid") - dlt).as("mid")))
    }.reduce(_ unionByName _)
      .join(qvecs.select(col("vid").as("mid"), col("vid").as("neighbor_id")),
        Seq("mid"))
      .select("id", "neighbor_id")
    // the capped projection both sides of the bucket self-join read: the
    // keep-set is ≤ 2^4 rows — broadcast semi-filter, no shuffle
    val bkt = {
      val all = qvecs.select(col("vid"), col("bucket"))
      if (maxBucket == Long.MaxValue) all
      else {
        val keep = all.groupBy("bucket").agg(count(lit(1)).as("__bn"))
          .observe(metricName(),
            coalesce(sum(when(col("__bn") > maxBucket, 1L).otherwise(0L)),
              lit(0L)).as("dropped_buckets"))
          .filter(col("__bn") <= maxBucket)
          .select("bucket")
        all.join(broadcast(keep), Seq("bucket"))
      }
    }
    val bucketCand = bkt.select(col("vid").as("id"), col("bucket"))
      .join(bkt.select(col("vid").as("neighbor_id"), col("bucket")), Seq("bucket"))
      .filter(col("id") =!= col("neighbor_id"))
      .select("id", "neighbor_id")
    val cand0 = ringCand.unionByName(bucketCand).distinct()
    val scored0 = cand0
      .join(qvecs.select(col("vid").as("id"), col("qv"), col("__nq")), Seq("id"))
      .join(qvecs.select(col("vid").as("neighbor_id"), col("qv").as("cv"),
        col("__nq").as("__nc")), Seq("neighbor_id"))
      .withColumn("cosine", cosineQN(col("qv"), col("cv"), col("__nq"), col("__nc")))
      .select("id", "neighbor_id", "cosine")
    // per-round lineage truncation (the iterative-operator discipline):
    // each round consumes the previous graph THREE times (forward, reverse,
    // and in the candidate union) — lazy reuse recomputes the whole prefix
    // per consumer, a 3^rounds blowup
    // the FINAL graph stays pinned: it is the operator's result and callers
    // (layeredSearch, the bench shared stores) read it
    val qv = qvecs.select(col("vid"), col("qv"), col("__nq"))
    val g = Checkpointer.iterate(Checkpointer(rankTopKById(scored0, k)), rounds,
        (_, _) => false)((prev, _) => nnDescentRound(prev, qv, k))
    g.select(col("id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** HNSW-style layer assignment WITHOUT insert-time randomness: level(id)
    * = Σ_{j=1..maxLevel} [h48(id) mod 4^j = 0] — P(level ≥ j) = 4^-j, the
    * geometric layer decay of HNSW drawn from the ID HASH instead of a
    * per-insert RNG (the KLL-sampler trick), so the hierarchy is a pure
    * function of the id set and replays in SQL.
    */
  def hnswLayerOf(idc: Column, maxLevel: Int): Column = {
    val h = graft.ops.Sketches.h48(idc)
    (1 to maxLevel).map(j =>
      when(h % lit(math.pow(4, j).toLong) === 0, 1).otherwise(0)).reduce(_ + _)
  }

  /** Deterministic layered graph-ANN search — the serving half of the
    * HNSW-family tier: walk from a deterministic entry point (max level,
    * then min id) down the layer graphs, greedy (width 1, 2 steps) on
    * each upper layer, then beam search (width `beam`,
    * `baseHops` steps) on the base graph, returning each query's top-k of
    * the final beam (self excluded). Every step is candidates = beam ∪
    * neighbors-of-beam, scored with exact integer-quantized cosine,
    * selected by a (cosine DESC, id) window — a pure function of the
    * graphs and the query set, so the whole search unrolls into SQL.
    *
    * Scale shape (100 TB): per query per hop the candidate set is ≤
    * width·(k+1) rows; the hop is one equi-join against the layer graph
    * (co-partitionable on node id) plus one broadcast-scored window —
    * queries are embarrassingly parallel and nothing rescans the corpus;
    * the corpus appears only through the (id → quantized vector) lookup
    * join, bucketable by id.
    */
  def layeredSearch(queries: DataFrame, layers: Seq[DataFrame],
                    corpus: DataFrame, k: Int, beam: Int, baseHops: Int = 3): DataFrame = {
    require(layers.nonEmpty && beam >= k && k >= 1,
      s"layeredSearch: need layers, beam >= k >= 1 (got ${layers.size}/$beam/$k)")
    val maxL = layers.size - 1
    val cvec = corpus.select(col("vec_id").as("node"),
      quantize(col("embedding")).as("cv"))
      .withColumn("__nc", normQ(col("cv")))
    val qs = queries.select(col("vec_id").as("query_id"),
      quantize(col("embedding")).as("qv"))
      .withColumn("__nq", normQ(col("qv")))
    val entry = corpus
      .select(col("vec_id").as("node"), hnswLayerOf(col("vec_id"), maxL).as("lvl"))
      .orderBy(col("lvl").desc, col("node")).limit(1).select("node")
    // (query_id, node, cosine): the entry scored per query
    def score(cand: DataFrame): DataFrame =
      cand.join(qs, Seq("query_id")).join(cvec, Seq("node"))
        .withColumn("cosine", cosineQN(col("qv"), col("cv"), col("__nq"), col("__nc")))
        .select("query_id", "node", "cosine")
    def hop(cur: DataFrame, graph: DataFrame, width: Int): DataFrame = {
      val cand = cur.select("query_id", "node")
        .unionByName(cur.select(col("query_id"), col("node"))
          .join(graph.select(col("id").as("node"),
            col("neighbor_id")), Seq("node"))
          .select(col("query_id"), col("neighbor_id").as("node")))
        .distinct()
      score(cand)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("node"))))
        .filter(col("rn") <= width)
        .select("query_id", "node", "cosine")
    }
    // greedy hops (width 1) down the upper layers, then the base-layer beam
    val schedule = (maxL to 1 by -1).flatMap(l => Seq.fill(2)((layers(l), 1))) ++
      Seq.fill(baseHops)((layers(0), beam))
    val cur = Checkpointer.iterate(
        Checkpointer(score(qs.select("query_id").crossJoin(broadcast(entry)))),
        schedule.size, (_, _) => false) { (cur, r) =>
      val (graph, width) = schedule(r - 1)
      hop(cur, graph, width)
    }
    cur.filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("node"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("node").as("neighbor_id"),
        col("cosine"))
  }

  /** Incremental k-NN graph maintenance — the steady-state ingest shape at
    * 100 TB, where vector corpora APPEND (round-15 verdict #4, the
    * `sim_ivf_append` sibling): new vectors find their neighbors by
    * SEARCHING the frozen graph (the [[layeredSearch]] hop kernel — a
    * deterministic beam walk from the min-old-id entry point) plus a
    * same-LSH-bucket pass WITHIN the new batch (so intra-batch near-dups
    * see each other without any old-graph path between them), and old
    * nodes absorb the reverse edges under the same (cosine DESC, id)
    * selection the fresh build uses.
    *
    * Contract (the documented bounded delta, NOT bit-identity with a fresh
    * build): every node's adjacency is the exact top-k of
    * `old edges ∪ new-node candidates ∪ their reversals` — a superset of
    * the old graph's candidate evidence, so an OLD node's neighborhood can
    * only improve (its rank-j cosine is monotonically non-decreasing, the
    * NN-descent can-only-improve argument), and a NEW node's adjacency is
    * the true top-k of O(beam·(k+1)·hops + bucket) searched candidates.
    * A fresh build re-derives candidates for all n vectors; the append
    * touches O(|new|·beam·k) graph rows and |new| bucket rows — no pass
    * over the old corpus except the id→vector lookup join. Deterministic
    * and order-free like everything in this family, so the whole
    * append unrolls into a SQL oracle (`sim_knng_append`).
    *
    * `graph` = frozen adjacency (id, neighbor_id, cosine) over `oldVectors`;
    * ids of `newVectors` must be disjoint from `oldVectors`.
    */
  def knngAppend(graph: DataFrame, oldVectors: DataFrame, newVectors: DataFrame,
                 k: Int, beam: Int, hops: Int = 3): DataFrame = {
    require(k >= 1 && beam >= k && hops >= 1, s"bad k/beam/hops: $k/$beam/$hops")
    val lookup = oldVectors.select(col("vec_id"), col("embedding"))
      .unionByName(newVectors.select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("node"), quantize(col("embedding")).as("cv"))
      .withColumn("__nc", normQ(col("cv")))
    val qs = newVectors.select(col("vec_id").as("query_id"),
      quantize(col("embedding")).as("qv"),
      lshBucket(col("embedding"), 4).as("bucket"))
      .withColumn("__nq", normQ(col("qv")))
    // deterministic entry point into the frozen graph: min old id (the
    // layeredSearch discipline without layers — the base graph IS the
    // only layer here; callers with a layered store can search per layer
    // and feed the union as extra hops)
    val entry = oldVectors.select(min(col("vec_id")).as("node"))
    def score(cand: DataFrame): DataFrame =
      cand.join(qs.select("query_id", "qv", "__nq"), Seq("query_id"))
        .join(lookup, Seq("node"))
        .withColumn("cosine", cosineQN(col("qv"), col("cv"), col("__nq"), col("__nc")))
        .select("query_id", "node", "cosine")
    val cur = Checkpointer.iterate(
        Checkpointer(score(qs.select("query_id").crossJoin(broadcast(entry)))), hops,
        (_, _) => false) { (prev, _) =>
      score(prev.select("query_id", "node")
          .unionByName(prev.select(col("query_id"), col("node"))
            .join(graph.select(col("id").as("node"), col("neighbor_id")),
              Seq("node"))
            .select(col("query_id"), col("neighbor_id").as("node")))
          .distinct())
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("node"))))
        .filter(col("rn") <= beam)
        .select("query_id", "node", "cosine")
    }
    // (per-query windows here are beam-bounded — candidates ≤
    // beam·(k+1) per query before the window, the layeredSearch shape)
    // within-batch candidates: same-bucket pairs among the NEW vectors
    // (both directions)
    val nbkt = qs.select(col("query_id").as("vid"), col("bucket"))
    val batchCand = nbkt.select(col("vid").as("query_id"), col("bucket"))
      .join(nbkt.select(col("vid").as("node"), col("bucket")), Seq("bucket"))
      .filter(col("query_id") =!= col("node"))
      .select("query_id", "node")
    val newFwd = cur.filter(col("node") =!= col("query_id"))
      .unionByName(score(batchCand))
      .select(col("query_id").as("id"), col("node").as("neighbor_id"),
        col("cosine"))
      .distinct()
    val rev = newFwd.select(col("neighbor_id").as("id"),
      col("id").as("neighbor_id"), col("cosine"))
    val all = graph.select(col("id"), col("neighbor_id"), col("cosine"))
      .unionByName(newFwd).unionByName(rev).distinct()
    rankTopKById(all, k)
      .select(col("id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  def cosineDupPairs(vectors: DataFrame, tau: Double): DataFrame = {
    val bandCols = (0 until 2).map(b =>
      struct(lit(b).as("band"), lshBandBucket(col("embedding"), b, 4).as("bucket")))
    val v = vectors
      .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("qv"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // norm rides INSIDE the collected struct (per vector-band row, not per
    // pair); `id` is unique, so sort_array's lexicographic order — and
    // therefore the emitted pair order — is unchanged by the extra field
    val buckets = v.groupBy("band", "bucket")
      .agg(sort_array(collect_list(struct(col("id"), col("qv"),
        normQ(col("qv")).as("nq")))).as("vs"))
      .filter(size(col("vs")) > 1)
    buckets
      .select(graft.functions.OrderedPairs.orderedPairs(col("vs")).as(Seq("pa", "pb")))
      .select(col("pa.id").as("id_a"), col("pb.id").as("id_b"),
        cosineQN(col("pa.qv"), col("pb.qv"), col("pa.nq"), col("pb.nq")).as("cosine"))
      .filter(col("cosine") >= tau)
      .distinct()
  }
}
