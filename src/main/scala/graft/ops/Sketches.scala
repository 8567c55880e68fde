package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency / cardinality sketches as PLAIN TABLES — the two
  * classic sketches the engine still lacked beside Misra-Gries
  * ([[graft.functions.MisraGriesAgg]]) and DataSketches HLL (a9):
  *
  *  - '''count-min''': a depth×width grid of counters. Each input row
  *    increments one cell per depth row; a point estimate is the MIN of
  *    its depth cells — never an under-estimate, over only by collision
  *    mass. The cells table is `depth·width` rows REGARDLESS of data
  *    size, and building it is one bounded-cardinality groupBy whose
  *    map side combines every partition down to ≤ depth·width rows
  *    before the shuffle. Merging sketches (across files, days, or
  *    engines) is cell-wise SUM — exactly associative/commutative, so
  *    a per-partition-grain sketch column rolls up to any coarser grain
  *    without rescanning raw data, and the rolled-up estimates are
  *    IDENTICAL to a direct whole-corpus sketch (counts are additive —
  *    unlike HLL, merge here is exact, which is why the a10 registry
  *    entry can hash-check estimates computed from merged cells against
  *    an oracle that builds the sketch directly).
  *
  *  - '''KMV (bottom-k minimum values)''': keep the k smallest distinct
  *    48-bit hashes of a column; if fewer than k exist the count is
  *    exact, else distinct ≈ (k−1)·2⁴⁸ div h₍ₖ₎. The bottom-k set rides
  *    the native [[graft.functions.TopKAggExpr]] buffer (ord = −h,
  *    id = h): the map side combines each partition to ≤ k entries
  *    before the shuffle, and EXACT (ord,id) duplicates collapse in the
  *    TreeSet — which is precisely KMV's distinct-hash semantics, so
  *    raw rows can feed the aggregate directly. Merging = union the
  *    bottom-k sets, re-take bottom-k (bottom-k of a union of
  *    bottom-ks IS the global bottom-k — exact, order-free), so
  *    per-group sketches answer the global question without rescan.
  *
  * Both hash with the engine-wide md5 idiom (12 hex chars = 48 bits) so
  * a DuckDB oracle replays every counter and every estimate EXACTLY —
  * these are the only estimators in the registry whose estimates
  * themselves hash-match cross-engine, not just guard within tolerance.
  * 48 bits keeps (k−1)·2⁴⁸ and all cell math in plain long arithmetic
  * (no decimal-division precision divergence between engines).
  */
object Sketches {

  /** Bits in the hash space: 12 md5 hex chars. */
  val HashBits = 48

  /** 48-bit md5 hash of the column's canonical string, shifted to
    * [1, 2⁴⁸] so division by a stored hash can never hit zero.
    */
  def h48(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long") + 1L

  /** Depth-`dName` cell index in [0, width): 3 hex chars sliced from ONE
    * md5 of the key (hex in column `__cms_hex`) — the hash is paid once per
    * ROW, not once per row×depth (the [[dyadicBucket]] economics applied
    * to the flat sketch; the per-(d, key) rehash was 4x the build's hash
    * cost at depth 4). Width must divide 4096 so the slice maps exactly
    * uniformly; depth·3 must fit md5's 32 hex chars.
    */
  def cmsBucket(dName: String, width: Int): Column =
    conv(expr(s"substring(__cms_hex, 1 + $dName * 3, 3)"), 16, 10)
      .cast("long") % width

  /** Build count-min cells `(grain…, d, w, cnt)` over `rows("key")`.
    * The ×depth explode happens map-side and collapses immediately into
    * the bounded-cardinality partial aggregate: the shuffle carries at
    * most `partitions · depth · width` pre-combined cells, never data-
    * sized rows. `grain` columns (e.g. a day or file id) produce one
    * independent sketch per grain value — the storage layout a 100-TB
    * table wants (sketch beside each partition, roll up on demand).
    */
  def countMinCells(rows: DataFrame, depth: Int, width: Int,
                    grain: Seq[String] = Nil): DataFrame = {
    require(depth >= 1 && depth * 3 <= 32,
      s"countMinCells: depth out of [1, 10]: $depth")
    require(width >= 1 && 4096 % width == 0,
      s"countMinCells: width must divide 4096: $width")
    rows
      .withColumn("__cms_hex", md5(col("key").cast("string")))
      .withColumn("d", explode(expr(s"sequence(0, ${depth - 1})")))
      .withColumn("w", cmsBucket("d", width))
      .groupBy((grain :+ "d" :+ "w").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge sketches across their grain columns: cell-wise sum. Exact —
    * the merged grid equals the grid a direct whole-input build yields.
    */
  def countMinMerge(cells: DataFrame): DataFrame =
    cells.groupBy("d", "w").agg(sum("cnt").as("cnt"))

  /** Point-estimate every probe row's `key` against a merged cells
    * grid: min over the depth cells the key hashes into. The grid is
    * `depth·width` rows — broadcast, so probing is map-side against the
    * probe table. All probe columns are carried through; the estimate
    * lands in `cms_est`. A key whose cell row is absent was never
    * inserted: estimate 0.
    */
  def countMinLookup(cells: DataFrame, probes: DataFrame, depth: Int, width: Int): DataFrame = {
    val probeCols = probes.columns
    probes
      .withColumn("__cms_hex", md5(col("key").cast("string")))
      .withColumn("__d", explode(expr(s"sequence(0, ${depth - 1})")))
      .withColumn("__w", cmsBucket("__d", width))
      .join(broadcast(cells.select(col("d").as("__d"), col("w").as("__w"),
        col("cnt"))), Seq("__d", "__w"), "left")
      .groupBy(probeCols.toIndexedSeq.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Per-group KMV sketch: `(groupCols…, n_exact, bk)` where `bk` is the
    * bottom-k hash set (as the native top_k array, ascending hash) over
    * DISTINCT `(group, hash)` — the input is deduplicated first so
    * `n_exact` (kept only to exhibit accuracy; production drops it,
    * it is the thing the sketch replaces) counts what the sketch
    * estimates. Raw-row callers can skip the distinct: the top_k buffer
    * collapses duplicate hashes itself.
    */
  def kmvSketch(rows: DataFrame, keyCol: String, groupCols: Seq[String],
                k: Int): DataFrame = {
    require(k >= 2, s"kmvSketch: k must be >= 2: $k")
    val dh = rows
      .select((groupCols.map(col) :+ h48(col(keyCol)).as("hv")): _*)
      .distinct()
    val g = if (groupCols.isEmpty) dh.groupBy() else dh.groupBy(groupCols.map(col): _*)
    g.agg(count(lit(1)).as("n_exact"), expr(s"top_k(-hv, hv, $k)").as("bk"))
  }

  /** Distinct-count estimate from the bottom-k array column `bk` (by NAME — the
    * division runs in exact long arithmetic via SQL `div`): exact size
    * when the sketch never filled, else (k−1)·2⁴⁸ div h₍ₖ₎.
    */
  def kmvEstimate(k: Int): Column = {
    // (k-1) << 48 must stay in Long range: k-1 < 2^15 (the shift keeps the
    // top 16 bits clear, one of them the sign) — past that the numerator
    // silently wraps negative and every estimate is garbage
    require(k >= 2 && k <= 32768, s"kmvEstimate: k out of [2, 32768]: $k")
    val num = (k - 1L) << HashBits
    expr(s"CASE WHEN size(bk) < $k THEN CAST(size(bk) AS BIGINT) " +
      s"ELSE $num div element_at(bk, $k).id END")
  }

  /** Merge per-group bottom-k arrays into one global bottom-k: explode
    * the (tiny, k-sized) arrays and re-aggregate. Exactly equals the
    * sketch a direct global pass builds.
    */
  def kmvMerge(sketches: DataFrame, k: Int): DataFrame =
    sketches.select(explode(col("bk")).as("e"))
      .select(col("e").getField("id").as("hv"))
      .groupBy()
      .agg(expr(s"top_k(-hv, hv, $k)").as("bk"))

  /** Pairwise SET-ALGEBRA estimates from per-group bottom-k sketches
    * ALONE (Beyer et al., "On synopses for distinct-value estimation
    * under multiset operations", SIGMOD'07): for every group pair
    * `s1 < s2`, estimate |A∪B|, |A∩B| and Jaccard without ever touching
    * the raw data again.
    *
    *  - union sketch `u` = bottom-k of the two id arrays' union — a
    *    valid KMV of A∪B because each input sketch is either filled
    *    (the k global minima of its set) or the complete set;
    *  - `rho` = members of `u` present in BOTH input sketches — each is
    *    a uniform sample hit of A∩B within the union's bottom-k, so
    *    |A∩B| ≈ rho·est(|A∪B|)/k and J ≈ rho/k;
    *  - when `u` never filled, both inputs were complete sets and every
    *    output column is EXACT (size, intersection count, rho/|u|).
    *
    * All arithmetic is exact long `div` on 48-bit hashes, so estimates
    * hash-match a rank-by-rank oracle replay. The pairwise join runs on
    * k-sized arrays — |groups|² sketch rows, never data rows; the scale
    * story is that sketches are built once per partition/day/source and
    * every cross-source overlap question is answered from this
    * broadcast-sized table.
    */
  def kmvSetOps(sketches: DataFrame, groupCol: String, k: Int): DataFrame = {
    // same Long-range bound as kmvEstimate: (k-1) << 48 wraps for k > 32768
    require(k >= 2 && k <= 32768, s"kmvSetOps: k out of [2, 32768]: $k")
    val num = (k - 1L) << HashBits
    val a = sketches.select(col(groupCol).as("s1"),
      expr("transform(bk, e -> e.id)").as("ids1"))
    val b = sketches.select(col(groupCol).as("s2"),
      expr("transform(bk, e -> e.id)").as("ids2"))
    a.join(broadcast(b), col("s1") < col("s2"))
      .withColumn("u", expr(s"slice(array_sort(array_union(ids1, ids2)), 1, $k)"))
      .withColumn("nu", size(col("u")))
      .withColumn("rho",
        size(expr("array_intersect(array_intersect(u, ids1), ids2)")).cast("long"))
      .withColumn("union_est", expr(
        s"CASE WHEN nu < $k THEN CAST(nu AS BIGINT) ELSE $num div element_at(u, $k) END"))
      .withColumn("inter_est", expr(
        s"CASE WHEN nu < $k THEN rho ELSE rho * union_est div $k END"))
      .withColumn("jaccard_micro", expr(
        s"CASE WHEN nu < $k THEN rho * 1000000 div nu ELSE rho * 1000000 div $k END"))
      .select(col("s1"), col("s2"), col("rho"), col("union_est"),
        col("inter_est"), col("jaccard_micro"))
  }

  /** AMS sign-sketch cells for the second frequency moment F2 = Σ_k f_k²
    * (Alon–Matias–Szegedy '96 — the self-join-size / key-skew estimator
    * that rounds out the mergeable-summaries family beside count-min, KMV,
    * HLL and Misra–Gries): sketch s holds z_s = Σ_rows sign(s, key), with
    * sign = ±1 from BIT s of one md5 of the key — a 4-wise-independence
    * stand-in both engines replay bit-for-bit, paying ONE hash per row
    * for all `reps` sketches. E[z_s²] = F2; estimate with the median of
    * z² over `reps` sketches.
    *
    * Scale shape: the ×reps explode collapses map-side into `reps`
    * partial sums — the shuffle carries ≤ partitions·reps pre-combined
    * cells, never data-sized rows. Cells are plain SUMS, so they merge
    * exactly across partitions, files, or micro-batches (the count-min
    * additivity argument verbatim). Output: (`s`, `z`), `reps` rows.
    */
  def amsCells(rows: DataFrame, reps: Int): DataFrame = {
    require(reps >= 1 && reps <= 32, s"amsCells: reps out of [1, 32]: $reps")
    // ONE md5 per row, sign s = bit s of the first 8 hex chars (32 bits):
    // slicing one strong hash into `reps` sign functions — across keys
    // each bit is an independent fair coin, across reps the positions are
    // distinct functions — replaces the reps-hashes-per-row build (16
    // md5s/row measured as the entry's whole cost at sf0.1: 8.0 s -> 2.6 s
    // for identical semantics). Project the hash first so an input column
    // named "s"/"sgn" can never be clobbered by the sketch plumbing.
    rows.select(conv(substring(md5(col("key").cast("string")), 1, 8), 16, 10)
        .cast("long").as("__ams_h"))
      .withColumn("s", explode(expr(s"sequence(0, ${reps - 1})")))
      .withColumn("sgn",
        when(expr("shiftright(__ams_h, s) % 2") === 0, lit(1L))
          .otherwise(lit(-1L)))
      .groupBy("s").agg(sum(col("sgn")).as("z"))
  }

  // ---- mergeable QUANTILES: dyadic count-min rank sketch -----------------
  // The one classic mergeable summary the family above still lacked
  // (Cormode-Muthukrishnan '05 §4, "range queries over count-min"): fix an
  // integer universe [0, 2^bits); keep a count-min grid PER DYADIC LEVEL
  // (level ℓ counts the bucket keys u >> ℓ — node n covers
  // [n·2^ℓ, (n+1)·2^ℓ)). rank([0, m)) decomposes into ≤ bits dyadic nodes
  // (one per set bit of m), each answered by its level's count-min; the
  // p-th quantile is the smallest v whose estimated rank reaches ⌈p·N/100⌉.
  // Count-min never under-counts, so every rank estimate is ≥ exact —
  // one-sided like a10's point estimates.
  //
  // Scale shape: the build is the countMinCells shape per level — the
  // ×(bits+1) level explode collapses map-side, the shuffle carries
  // ≤ partitions·(bits+1)·depth·width pre-combined cells, never data-sized
  // rows; cells are plain counts, so merge across grains (partitions,
  // days, engines) is cell-wise SUM and EXACT. Querying touches only the
  // grid and enumerated node/value frames (2^(bits+1) rows — broadcast
  // territory), never the data again. Everything is md5-replayable
  // integer arithmetic: a SQL oracle rebuilds the grid, every node
  // estimate, every prefix rank and every quantile bit-for-bit — the
  // a10-a13 discipline extended to quantiles.

  /** Cell index for depth row `d` of the dyadic grids: 3 hex chars
    * (12 bits ≥ any width ≤ 4096) sliced from ONE md5 of `"lvl:node"` —
    * the per-row md5 is paid once per LEVEL, not once per level×depth
    * (the depth explode re-hashing "d:…" like [[cmsBucket]] would triple
    * the build's hash cost for depth 4). Width must divide 4096 so the
    * slice maps exactly uniformly.
    */
  private def dyadicBucket(width: Int): Column =
    conv(expr("substring(__hx, 1 + d * 3, 3)"), 16, 10)
      .cast("long") % width

  /** Dyadic count-min cells `(grain…, lvl, d, w, cnt)` for integer
    * `u` ∈ [0, 2^bits) — the per-row bound is EXECUTABLE (a value
    * outside the declared universe fails loudly; silently hashing it
    * would corrupt every rank above it).
    *
    * TWO-STAGE build: counts aggregate per (grain, lvl, node) FIRST —
    * bounded at grains·(2^(bits+1)−1) groups regardless of data size, so
    * the map side combines data-scale rows down before any hashing —
    * and only the LIVE node rows pay the md5 + depth fan-out. Hashing
    * per input row×level instead measured 19.5 s vs 3 s at sf0.1 for
    * identical cells; at 100 TB the difference is the whole build.
    */
  def dyadicCells(rows: DataFrame, bits: Int, depth: Int,
                  width: Int, grain: Seq[String] = Nil): DataFrame = {
    require(bits >= 1 && bits <= 30, s"dyadicCells: bits out of [1,30]: $bits")
    require(depth >= 1 && depth * 3 <= 32,
      s"dyadicCells: depth out of [1,10]: $depth")
    require(width >= 1 && 4096 % width == 0,
      s"dyadicCells: width must divide 4096: $width")
    val u = col("u")
    rows
      .select((grain.map(col) :+
        Bounded.guard(u.cast("long"), u >= 0 && u < (1L << bits),
          s"dyadicCells: value outside the declared [0, 2^$bits) universe")
          .as("__u")): _*)
      .withColumn("lvl", explode(expr(s"sequence(0, $bits)")))
      .withColumn("node", expr("shiftright(__u, lvl)"))
      .groupBy((grain :+ "lvl" :+ "node").map(col): _*)
      .agg(count(lit(1)).as("__nc"))
      .withColumn("__hx", md5(concat(col("lvl").cast("string"), lit(":"),
        col("node").cast("string"))))
      .withColumn("d", explode(expr(s"sequence(0, ${depth - 1})")))
      .withColumn("w", dyadicBucket(width))
      .groupBy((grain :+ "lvl" :+ "d" :+ "w").map(col): _*)
      .agg(sum(col("__nc")).as("cnt"))
  }

  /** Merge dyadic sketches across their grain columns: cell-wise sum —
    * exact, the merged grid equals a direct whole-input build (counts are
    * additive; the countMinMerge argument per level).
    */
  def dyadicMerge(cells: DataFrame): DataFrame =
    cells.groupBy("lvl", "d", "w").agg(sum("cnt").as("cnt"))

  /** Point-estimate EVERY dyadic node against a merged grid: `(lvl, node,
    * est)` for all 2^(bits+1)−1 nodes — min over depth cells, 0 when the
    * node was never inserted. The node frame is enumerated (sketch-sized,
    * data-independent) and the grid broadcast.
    */
  def dyadicNodeEst(cells: DataFrame, bits: Int, depth: Int,
                    width: Int, grain: Seq[String] = Nil): DataFrame = {
    val lvlNodes = cells.sparkSession.range(0, bits + 1)
      .select(col("id").cast("int").as("lvl"))
      .select(col("lvl"),
        explode(expr(s"sequence(0, shiftright(${1L << bits}, lvl) - 1)")).as("node"))
    // grained serving: each grain value keeps its OWN sketch (per-tenant
    // percentiles) — the enumeration crosses the grain's distinct values
    // (bounded: grain cardinality × 2^(bits+1) rows), never the data
    val enum0 = if (grain.isEmpty) lvlNodes
      else cells.select(grain.map(col): _*).distinct().crossJoin(lvlNodes)
    enum0
      .withColumn("__hx", md5(concat(col("lvl").cast("string"), lit(":"),
        col("node").cast("string"))))
      .withColumn("d", explode(expr(s"sequence(0, ${depth - 1})")))
      .withColumn("w", dyadicBucket(width))
      .join(broadcast(cells), (grain ++ Seq("lvl", "d", "w")), "left")
      .groupBy((grain ++ Seq("lvl", "node")).map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  // ---- one-pass mergeable DOUBLE quantiles: hash-deterministic KLL sampler
  // The dyadic grid (a14) needs a fixed integer universe and its double
  // lift (a16) needs an exact-bounds PRE-PASS frozen before any per-shard
  // sketch builds — a real unbounded stream can't freeze bounds a priori
  // (round-14 verdict #2). This family member drops both requirements:
  // KLL (Karnin–Lang–Liberty, FOCS 2016) keeps quantile state in
  // compactors topped by a geometric SAMPLER; for stream length n ≫ k the
  // sampler carries the estimate, and the sampler — unlike the compactors —
  // has an ORDER-FREE formulation, which is the property this engine
  // actually needs: KLL's compaction outcome depends on arrival/merge
  // order, so under Spark's nondeterministic partition order (and for a
  // DuckDB oracle that must replay results bit-for-bit) the compactor tier
  // is inadmissible; the sampler tier realized with the engine-wide md5
  // discipline is the deterministic member of the family with the same
  // one-pass, bounded-state, exactly-mergeable contract.
  //
  //  - per row: lvl = trailing zero bits of h48(unique row key), capped at
  //    [[MaxKllLevel]] — P(lvl ≥ ℓ) = 2^-ℓ, fixed by the data, not the run;
  //  - sketch = (n, thr, sample) where thr = min ℓ with |{lvl ≥ ℓ}| ≤ k
  //    and sample = the rows with lvl ≥ thr: a deterministic 2^-thr
  //    "coin-flip" sample whose membership depends ONLY on the row multiset;
  //  - MERGE IS EXACT: for every part g, thr_g ≤ thr(union) (counts only
  //    grow), so for ℓ ≥ max_g thr_g the union of samples counts the union
  //    exactly, and re-thresholding at min{ℓ ≥ max_g thr_g : count ≤ k}
  //    reproduces thr(union) and the DIRECT whole-input sample bit-for-bit
  //    — associative and order-free, so per-type/per-batch sketches fold
  //    to the identical state a single global build yields (the a14
  //    merge-exactness discipline, now without any frozen config);
  //  - rank error is sampling error: the sample quantile's rank deviates
  //    from target by O(n·√(p(1-p)/m)) (m = sample size ∈ (k/2, k]) —
  //    surfaced as the exact-rank drift guard in the serving query, the
  //    same executable-tolerance discipline as a14/a16.
  //
  // Scale shape (100 TB): lvl is map-side arithmetic on one md5 per row;
  // the threshold pass is a bounded-cardinality aggregate (map-combines to
  // ≤ partitions·(MaxKllLevel+1) cells — the countMinCells economics); the
  // sample filter broadcasts the 1-row-per-grain summary and keeps ≤ k
  // rows per grain. Nothing data-sized ever shuffles; no pass over the
  // data depends on another pass's data-derived CONFIG (the property a16
  // lacked — per-shard builds here need no global coordination at all).
  // Everything is md5-replayable integer arithmetic except the sample
  // VALUES themselves, which are carried verbatim (no float ops), so a
  // SQL oracle rebuilds levels, thresholds, samples and every served
  // quantile bit-for-bit.

  /** Level cap: P(lvl ≥ 17) ≈ 1.5e-5 per row; levels above the cap fold
    * into it, which only ever makes thresholds conservative. Bounds the
    * enumerated level frames at 17 rows per grain.
    */
  val MaxKllLevel = 16

  /** (grain…, v, h, lvl) per input row: `h` = [[h48]] of the UNIQUE row
    * key (uniqueness is the caller's contract — duplicate keys would
    * correlate the per-row coin flips), `lvl` = trailing zeros of h capped
    * at [[MaxKllLevel]] (h % 2^ℓ = 0 ⟺ ℓ ≤ tz(h), so the indicator sum
    * below IS min(tz, cap) — branch-free, same text as the oracle).
    */
  def kllLevels(rows: DataFrame, valueCol: String, keyCol: String,
                grain: Seq[String] = Nil): DataFrame =
    rows.select((grain.map(col) :+ col(valueCol).as("v") :+
        h48(col(keyCol)).as("h")): _*)
      .withColumn("lvl", (1 to MaxKllLevel)
        .map(l => when(col("h") % lit(1L << l) === 0, 1).otherwise(0))
        .reduce(_ + _))

  /** Per-grain sketch summary `(grain…, n, thr)` from a [[kllLevels]]
    * frame: n = row count, thr = min ℓ ∈ [0, cap] with cnt(lvl ≥ ℓ) ≤ k.
    * The level axis is ENUMERATED per grain (17 rows — a level whose
    * count vanished must still be eligible as the threshold) and the
    * guard fails loudly when even the cap level holds > k rows (n beyond
    * ~k·2^cap: raise k or the cap, never silently serve garbage).
    */
  def kllSummary(levels: DataFrame, k: Int, grain: Seq[String] = Nil): DataFrame = {
    require(k >= 2, s"kllSummary: k must be >= 2: $k")
    val lvls = levels.sparkSession.range(0, MaxKllLevel + 1)
      .select(col("id").cast("int").as("l"))
    val perLvl = levels.groupBy((grain :+ "lvl").map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val base = if (grain.isEmpty) lvls
      else perLvl.select(grain.map(col): _*).distinct().crossJoin(lvls)
    val pl = grain.foldLeft(perLvl)((df, g) => df.withColumnRenamed(g, s"__p_$g"))
    // perLvl is grains×(cap+1) rows at ANY input size — broadcast, so the
    // cumulative-count theta-join never sorts (the level frames are the
    // sketch, not the data)
    val ge = base.join(broadcast(pl),
        grain.map(g => col(g) === col(s"__p_$g"))
          .foldLeft(col("lvl") >= col("l"))(_ && _), "left")
      .groupBy((grain :+ "l").map(col): _*)
      .agg(sum(coalesce(col("__c"), lit(0L))).as("cge"))
    val g0 = if (grain.isEmpty) ge.groupBy() else ge.groupBy(grain.map(col): _*)
    // guard on a COALESCEd value: a null thr would let `null + assert`
    // fold away before the assertion evaluates — the guard must ride a
    // non-null value to be un-elidable
    val thrRaw = min(when(col("cge") <= k, col("l")))
    g0.agg(
      max(when(col("l") === 0, col("cge"))).as("n"),
      Bounded.guard(coalesce(thrRaw.cast("long"), lit(-1L)), thrRaw.isNotNull,
        s"kllSummary: no level in [0, $MaxKllLevel] holds <= $k sample " +
          "rows — k too small for this input size").as("thr"))
  }

  /** The kept sample: levels rows with lvl ≥ their grain's threshold.
    * ≤ k rows per grain by construction of thr.
    */
  def kllSample(levels: DataFrame, summary: DataFrame,
                grain: Seq[String] = Nil): DataFrame = {
    val sm = broadcast(summary.select((grain :+ "thr").map(col): _*))
    val joined = if (grain.isEmpty) levels.crossJoin(sm)
      else levels.join(sm, grain)
    joined.filter(col("lvl") >= col("thr"))
      .select((grain.map(col) :+ col("v") :+ col("h") :+ col("lvl")): _*)
  }

  /** Merge per-part sketches into the global `(n, thr)` (1 row): counts
    * at ℓ ≥ max part threshold come from the UNION OF SAMPLES alone and
    * equal the whole-input counts there (see the family note), so the
    * re-threshold reproduces the direct build's thr exactly. Same loud
    * guard as [[kllSummary]].
    */
  def kllMergedSummary(summaries: DataFrame, samples: DataFrame,
                       k: Int): DataFrame = {
    require(k >= 2, s"kllMergedSummary: k must be >= 2: $k")
    val t0 = summaries.agg(max(col("thr")).as("thr0"), sum(col("n")).as("n"))
    val lvls = samples.sparkSession.range(0, MaxKllLevel + 1)
      .select(col("id").cast("int").as("l"))
    val perLvl = samples.groupBy("lvl").agg(count(lit(1)).as("__c"))
    val ge = lvls.join(broadcast(perLvl), col("lvl") >= col("l"), "left")
      .groupBy("l").agg(sum(coalesce(col("__c"), lit(0L))).as("cge"))
    val thrRaw = min(when(col("cge") <= k && col("l") >= col("thr0"), col("l")))
    ge.crossJoin(broadcast(t0))
      .groupBy()
      .agg(
        max(col("n")).as("n"),
        // coalesce before the guard — see kllSummary's null-fold note
        Bounded.guard(coalesce(thrRaw.cast("long"), lit(-1L)), thrRaw.isNotNull,
          s"kllMergedSummary: no level in [max part thr, $MaxKllLevel] " +
            s"holds <= $k sample rows — k too small for the merged input")
          .as("thr"))
  }

  /** The merged global sample: union-of-samples re-filtered at the merged
    * threshold — bit-identical to the direct whole-input sample.
    */
  def kllMergedSample(samples: DataFrame, merged: DataFrame): DataFrame =
    samples.crossJoin(broadcast(merged.select(col("thr"))))
      .filter(col("lvl") >= col("thr"))
      .select(col("v"), col("h"), col("lvl"))

  /** Estimated rank table `(vb, rank_le)` for every universe value vb:
    * rank_le = estimated #values ≤ vb = Σ over the dyadic decomposition
    * of [0, vb+1) — node 2·(m >> (b+1)) at level b for each set bit b of
    * m = vb+1. Enumerated frames only (2^bits × (bits+1) rows), node
    * estimates broadcast.
    */
  def dyadicRankLe(nodeEst: DataFrame, bits: Int,
                   grain: Seq[String] = Nil): DataFrame = {
    val vbs = nodeEst.sparkSession.range(0, 1L << bits).select(col("id").as("vb"))
    val base = if (grain.isEmpty) vbs
      else nodeEst.select(grain.map(col): _*).distinct().crossJoin(vbs)
    // rename the estimate side's grain columns so the equi-condition can
    // reference both sides unambiguously
    val ne = grain.foldLeft(nodeEst)((df, g) => df.withColumnRenamed(g, s"__ne_$g"))
    base
      .withColumn("b", explode(expr(s"sequence(0, $bits)")))
      .filter(expr("shiftright(vb + 1, b) % 2 = 1"))
      .join(broadcast(ne),
        grain.map(g => col(g) === col(s"__ne_$g"))
          .foldLeft(col("lvl") === col("b") &&
            col("node") === lit(2L) * expr("shiftright(vb + 1, b + 1)"))(_ && _))
      .groupBy((grain :+ "vb").map(col): _*)
      .agg(sum(col("est")).as("rank_le"))
  }
}
