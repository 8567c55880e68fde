package graft.llm

import graft.ops.Checkpointer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling, split assignment, and sequence packing for
  * training-data pipelines.
  *
  * All randomness is content-hash-derived (md5 of the row's id plus a salt):
  * the same row always lands in the same split/sample regardless of
  * partitioning, cluster size, or engine — reproducible train/val/test
  * membership is a correctness property for training corpora, and Spark's
  * `sample()`/`sampleBy()` (seeded per-partition RNG) cannot provide it.
  * Everything is a narrow map-side transform: zero shuffles.
  *
  * Thresholds compare 8-hex-char md5 prefixes LEXICOGRAPHICALLY — on
  * fixed-width lowercase hex that equals numeric order (the MinHash trick),
  * so no engine-specific hex→int conversion is needed and any md5-capable
  * engine reproduces membership bit-for-bit.
  */
object Sampling {

  /** Fraction → 8-hex threshold: keep iff md5-prefix < threshold. Fraction
    * 1.0 returns "g", which sorts after every hex string — keeps ALL rows
    * (a "ffffffff" cap would drop the one-in-2^32 key equal to it).
    */
  def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1]: $fraction")
    if (fraction == 1.0) "g"
    else f"${(fraction * 4294967296.0).toLong}%08x"
  }

  /** The row's deterministic 8-hex sampling key. `idCol` should be a string
    * or integral column: integral→string casts render identically across
    * engines, while float/double formatting does not — hash a stable id,
    * never a measurement.
    */
  def hashKey(idCol: Column, salt: String): Column =
    substring(md5(concat(lit(salt), lit(":"), idCol.cast("string"))), 1, 8)

  /** Train/val/test (or any K-way) split assignment: `cuts` are cumulative
    * fractions with their labels, e.g.
    * `Seq(0.8 -> "train", 0.9 -> "val", 1.0 -> "test")` (must be
    * monotonically increasing, last = 1.0). Adds `split` with the label.
    */
  def assignSplit(df: DataFrame, idCol: String, cuts: Seq[(Double, String)]): DataFrame = {
    require(cuts.nonEmpty && cuts.last._1 == 1.0, "last cut must be 1.0")
    require(cuts.map(_._1) == cuts.map(_._1).sorted, "cuts must be increasing")
    val key = hashKey(col(idCol), "split")
    val labeled = cuts.init.foldRight(lit(cuts.last._2)) { case ((frac, label), rest) =>
      when(key < lit(hexThreshold(frac)), lit(label)).otherwise(rest)
    }
    df.withColumn("split", labeled)
  }

  /** Deterministic epoch shuffle — the training-order randomization pass:
    * every row gets a `shard` and a dense 1-based `pos` within that shard,
    * both fully determined by (epoch, id). The same corpus shuffles
    * identically on any engine, cluster size, or partitioning (an exactly
    * reproducible data order is how training runs are replayed/debugged),
    * and bumping `epoch` re-shuffles from scratch without touching the
    * data — the per-epoch reshuffle large-scale training loops need.
    *
    * Scale shape: there is NO global sort. `shard` is the md5-prefix mod
    * `nShards` (uniform bits, so shards balance multinomially); `pos`
    * ranks rows WITHIN a shard by the full 32-hex digest. The only
    * exchange is the hash partition on `shard`, and each shard sorts
    * independently in parallel — at 100 TB pick `nShards` at output-file
    * granularity (tens of thousands), so per-shard sorts stay
    * executor-sized. A global `ORDER BY rand()` would range-sample and
    * fully sort the corpus instead; consumers that stream shards in
    * (shard, pos) order see the identical global permutation at a fraction
    * of the cost.
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be positive: $nShards")
    require(epoch >= 0, s"epoch must be non-negative: $epoch")
    val reserved = Seq("shuffle_key", "shard", "pos")
    require(!df.columns.exists(reserved.contains),
      s"epochShuffle: input already has one of ${reserved.mkString(", ")}")
    df.withColumn("shuffle_key",
        md5(concat(lit(s"epoch:$epoch:"), col(idCol).cast("string"))))
      .withColumn("shard",
        (conv(substring(col("shuffle_key"), 1, 8), 16, 10).cast("long")
          % nShards).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("shuffle_key"), col(idCol))).cast("long"))
      .drop("shuffle_key")
  }

  /** Stratified deterministic sample: per-stratum keep rates (e.g. a target
    * domain mix — downsample common-crawl, keep all of books). Strata absent
    * from `rates` are kept whole (rate 1.0). The rate lookup is a literal when-chain
    * (broadcast-free, codegen'd); a row is kept iff its hash key falls
    * under its stratum's rate, so membership is reproducible and
    * partitioning-independent, unlike `df.sample`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double]): DataFrame = {
    val threshold = rates.toSeq.sortBy(_._1).foldRight(lit(hexThreshold(1.0))) {
      case ((stratum, rate), rest) =>
        when(col(stratumCol) === lit(stratum), lit(hexThreshold(rate))).otherwise(rest)
    }
    df.filter(hashKey(col(idCol), "strata") < threshold)
  }

  /** Exact-k per-group deterministic sample: the first `k` rows of each
    * group in salted-content-hash order — what rate-based sampling
    * ([[stratifiedSample]]) cannot promise (a rate gives BINOMIAL counts;
    * eval-set construction and per-domain caps need exactly k). Membership
    * is content-derived: the same row is sampled on any engine, cluster
    * size, or partitioning, and adding new rows to a group only displaces
    * rows at the hash-order boundary.
    *
    * Scale shape: the naive form is one window over `partitionBy(group)` —
    * a fat-key reducer sorting a whole group at corpus scale. Instead the
    * hash key's first `bucketHexChars` chars pre-split every group into
    * 16^h ordered sub-buckets (the [[tokenBudgetMix]] two-level
    * discipline): a per-(group, bucket) window keeps each bucket's local
    * top-k (any group-wide top-k row is top-k in its own bucket), and the
    * real rank runs on ≤ 16^h·k rows per group.
    */
  def sampleExactK(df: DataFrame, idCol: String, groupCol: String, k: Int,
                   bucketHexChars: Int = 2): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(bucketHexChars >= 1 && bucketHexChars <= 7,
      s"bucketHexChars must be in [1,7]: $bucketHexChars")
    val reserved = Seq("ek_key", "ek_bucket", "ek_r1", "ek_rank")
    require(!df.columns.exists(reserved.contains),
      s"sampleExactK: input already has one of ${reserved.mkString(", ")}")
    val w = Window
    val keyed = df
      .withColumn("ek_key", hashKey(col(idCol), "exactk"))
      .withColumn("ek_bucket", substring(col("ek_key"), 1, bucketHexChars))
    keyed
      .withColumn("ek_r1", row_number().over(
        w.partitionBy(col(groupCol), col("ek_bucket"))
          .orderBy(col("ek_key"), col(idCol))))
      .filter(col("ek_r1") <= k)
      .withColumn("ek_rank", row_number().over(
        w.partitionBy(col(groupCol)).orderBy(col("ek_key"), col(idCol))))
      .filter(col("ek_rank") <= k)
      .drop("ek_key", "ek_bucket", "ek_r1", "ek_rank")
  }

  /** Weighted exact-k per-group sample without replacement — sequential
    * Poisson / order sampling (Ohlsson 1998, the PPS scheme Statistics
    * Sweden runs in production): each row draws priority `u / w` with `u`
    * its salted-md5 uniform and `w` its positive weight, and the k SMALLEST
    * priorities per group win, so inclusion odds are approximately
    * proportional to weight ("sample common-crawl PPS by document length /
    * domain trust score"). Deterministic like every sampler here: membership
    * depends only on (id, weight), never on partitioning or engine.
    *
    * Cross-engine exactness: `u` is the md5 key's first 13 hex chars as an
    * integer — 52 bits, below 2^53, so both `u` and any integral `w ≤ 2^53`
    * are exact doubles, and the single IEEE division rounds identically on
    * every engine (the same reason [[hexThreshold]] avoids float thresholds
    * elsewhere: ONE correctly-rounded op is portable, a chain is not).
    * `weightCol` must be positive — enforced per-row as an executable
    * invariant, since a zero weight would yield priority = Infinity (never
    * sampled — surprising) and a negative one would invert the ordering.
    *
    * Scale shape: the [[sampleExactK]] two-level discipline — md5-derived
    * sub-buckets cap every window at (group, bucket) grain, the real rank
    * runs on ≤ 16^h·k survivors per group; no fat-key group sort. The
    * bucket comes from md5 chars 14+, disjoint bits from the priority's
    * 1–13, so bucketing is independent of the draw.
    */
  def weightedSampleExactK(df: DataFrame, idCol: String, groupCol: String,
                           weightCol: Column, k: Int, bucketHexChars: Int = 2): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(bucketHexChars >= 1 && bucketHexChars <= 7,
      s"bucketHexChars must be in [1,7]: $bucketHexChars")
    val reserved = Seq("wk_h", "wk_pri", "wk_bucket", "wk_r1", "wk_rank")
    require(!df.columns.exists(reserved.contains),
      s"weightedSampleExactK: input already has one of ${reserved.mkString(", ")}")
    val w = Window
    val keyed = df
      .withColumn("wk_h", md5(concat(lit("wpps"), lit(":"), col(idCol).cast("string"))))
      .withColumn("wk_pri", graft.ops.Bounded.guard(
        conv(substring(col("wk_h"), 1, 13), 16, 10).cast("long").cast("double")
          / weightCol.cast("double"),
        weightCol > 0,
        "weightedSampleExactK: weights must be positive"))
      .withColumn("wk_bucket", substring(col("wk_h"), 14, bucketHexChars))
    keyed
      .withColumn("wk_r1", row_number().over(
        w.partitionBy(col(groupCol), col("wk_bucket"))
          .orderBy(col("wk_pri"), col(idCol))))
      .filter(col("wk_r1") <= k)
      .withColumn("wk_rank", row_number().over(
        w.partitionBy(col(groupCol)).orderBy(col("wk_pri"), col(idCol))))
      .filter(col("wk_rank") <= k)
      .drop("wk_h", "wk_pri", "wk_bucket", "wk_r1", "wk_rank")
  }

  /** Temperature-scaled (α = ½) mixture sampling — the multilingual /
    * domain rebalancing rule (keep ∝ n_g^α, the Conneau–Lample α-smoothing
    * that stops a head language from drowning the tail): each group keeps
    * its first floor(rate · √n_g) rows in salted-hash order, so a group
    * 4× larger contributes only 2× the rows.
    *
    * α is FIXED at ½ because √ is the one power IEEE 754 requires to be
    * correctly rounded — `sqrt(n)` then one multiply then floor replays
    * bit-for-bit in any engine, while `pow(n, α)` for general α does not
    * (libm `pow` is not correctly-rounded and differs across platforms).
    * For other temperatures, compose: α = ¼ is `sqrt(sqrt(n))`, α = ¾ is
    * `n / sqrt(sqrt(n))` — still exact-rounding chains.
    *
    * Scale shape: one group-cardinality aggregate (the budget table,
    * broadcast), then the [[sampleExactK]] two-level window discipline
    * with the per-group budget as the cut — no fat-key group sort, no
    * driver state.
    */
  def temperatureMix(df: DataFrame, idCol: String, groupCol: String,
                     rate: Double, bucketHexChars: Int = 2): DataFrame = {
    require(rate > 0, s"rate must be positive: $rate")
    require(bucketHexChars >= 1 && bucketHexChars <= 7,
      s"bucketHexChars must be in [1,7]: $bucketHexChars")
    val reserved = Seq("tm_key", "tm_bucket", "tm_r1", "tm_rank", "tm_budget")
    require(!df.columns.exists(reserved.contains),
      s"temperatureMix: input already has one of ${reserved.mkString(", ")}")
    val budgets = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("tm_n"))
      .select(col(groupCol),
        floor(lit(rate) * sqrt(col("tm_n"))).cast("long").as("tm_budget"))
    val w = Window
    df.withColumn("tm_key", hashKey(col(idCol), "tmix"))
      .withColumn("tm_bucket", substring(col("tm_key"), 1, bucketHexChars))
      .join(broadcast(budgets), Seq(groupCol))
      .withColumn("tm_r1", row_number().over(
        w.partitionBy(col(groupCol), col("tm_bucket"))
          .orderBy(col("tm_key"), col(idCol))))
      .filter(col("tm_r1") <= col("tm_budget"))
      .withColumn("tm_rank", row_number().over(
        w.partitionBy(col(groupCol)).orderBy(col("tm_key"), col(idCol))))
      .filter(col("tm_rank") <= col("tm_budget"))
      .drop("tm_key", "tm_bucket", "tm_r1", "tm_rank", "tm_budget")
  }

  /** Token-budget domain mixing: keep, per domain, a deterministic
    * pseudo-random prefix of documents whose token counts fill that domain's
    * budget (the "sample common-crawl down to N billion tokens, keep all of
    * books" step that turns a raw corpus into a training mix). Documents are
    * ordered by their salted content-hash key (reproducible on any engine /
    * partitioning, like every sampler here); a doc is kept iff it STARTS
    * before its domain's budget is exhausted, so each domain overshoots by
    * at most one document (the [[packSequences]] boundary convention).
    * Emits the kept rows plus `n_tokens` and `cum_tokens` (running domain
    * total through this doc).
    *
    * Scale shape: the naive form is one window over `partitionBy(domain)` —
    * a HANDFUL of fat keys, i.e. one reducer per domain sorting billions of
    * rows at 100 TB. Instead the hash key's first `bucketHexChars` chars
    * split every domain into 16^bucketHexChars ordered sub-buckets:
    * per-(domain, bucket) token sums are ONE map-combinable aggregate on a
    * tiny result; a window over that summary (thousands of rows) yields each
    * bucket's base offset; the per-doc running sum then runs inside
    * (domain, bucket) — fine-grained uniform keys — and adds the broadcast
    * base offset. Same answer as the flat window (bucket = key prefix, so
    * (bucket, key) order IS key order), but every shuffle is uniform.
    */
  def tokenBudgetMix(docs: DataFrame, domainCol: String,
                     tokensCol: Column, budgets: Map[String, Long],
                     defaultBudget: Long = Long.MaxValue, bucketHexChars: Int = 2): DataFrame = {
    require(bucketHexChars >= 1 && bucketHexChars <= 7,
      s"bucketHexChars must be in [1,7]: $bucketHexChars")
    val reserved = Seq("n_tokens", "cum_tokens", "mix_key", "mix_bucket", "base_tokens")
    require(!docs.columns.exists(reserved.contains),
      s"tokenBudgetMix: input already has one of ${reserved.mkString(", ")}")
    val base = docs
      .withColumn("mix_key", hashKey(col("doc_id"), "mix"))
      .withColumn("mix_bucket", substring(col("mix_key"), 1, bucketHexChars))
      .withColumn("n_tokens", tokensCol.cast("long"))
    val bucketSums = base.groupBy(col(domainCol), col("mix_bucket"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
    val offsets = bucketSums
      .withColumn("base_tokens",
        coalesce(sum(col("bucket_tokens")).over(
          Window.partitionBy(col(domainCol)).orderBy(col("mix_bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("bucket_tokens")
    val inBucket = Window.partitionBy(col(domainCol), col("mix_bucket"))
      .orderBy(col("mix_key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgetCol = budgets.toSeq.sortBy(_._1).foldRight(lit(defaultBudget)) {
      case ((domain, b), rest) => when(col(domainCol) === lit(domain), lit(b)).otherwise(rest)
    }
    base.join(broadcast(offsets), Seq(domainCol, "mix_bucket"))
      .withColumn("cum_tokens", col("base_tokens") + sum(col("n_tokens")).over(inBucket))
      .filter(col("cum_tokens") - col("n_tokens") < budgetCol)
      .drop("mix_key", "mix_bucket", "base_tokens")
  }

  /** Pack documents into fixed-capacity training sequences: docs are laid
    * out in (`shardCol`, order-by `idCol`) order and assigned
    * `pack_id = floor(preceding_tokens / capacity)` within their shard —
    * first-fit-in-order packing where a doc whose tokens straddle a boundary
    * goes to (and may overflow) the earlier pack. Overflow is bounded by one
    * doc; exact never-exceed-capacity packing needs a sequential scan per
    * shard (flatMapGroups) and loses the pure-window shape — at corpus scale
    * the bounded-overflow form is what sequence-packing pipelines use, and
    * it stays one shuffle on the shard key.
    * Emits the input plus `n_tokens` and `pack_id`.
    */
  def packSequences(docs: DataFrame, idCol: String, shardCol: String,
                    tokensCol: Column, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    require(!docs.columns.contains("n_tokens") && !docs.columns.contains("pack_id"),
      "packSequences: input already has an 'n_tokens' or 'pack_id' column")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", tokensCol)
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / capacity))
  }

  /** Hashed-n-gram importance scores (DSIR — Xie et al., NeurIPS 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * featurize every document as hashed unigram+bigram occurrences in
    * `buckets` = 256 buckets, fit bag-of-features models over the TARGET corpus
    * (what training data should look like) and the RAW corpus (what it does
    * look like), and score each doc by how much more surprising it is under
    * the raw model than the target model — high score = target-like.
    *
    * The paper's log-likelihood ratio Σ_f n_f·(log p_f − log q_f) is
    * computed in the engine's portable integer surrogate (the
    * [[TextStats.unigramSurprisal]] bit convention): per feature occurrence,
    * `floor(log2((N_model + buckets) / (cnt_model + 1)))` bits under each
    * add-one-smoothed model, summed per document, score = raw_bits −
    * target_bits. Bit-granular by design — any md5-capable engine (and the
    * DuckDB oracle) reproduces scores exactly, where a float log would
    * hash-mismatch on libm ulps. Feature buckets are
    * `int(md5(gram)[0:8]) % buckets` — the fixed feature space that makes
    * BOTH model tables ≤ `buckets` rows no matter the corpus size.
    *
    * Emits (doc_id, n_feats, raw_bits, target_bits, score) for EVERY input
    * document; feature-less docs (null/empty text) score (0,0,0,0) rather
    * than vanishing. Scale shape: the two model fits are map-combinable
    * aggregates collapsing to ≤ `buckets` rows each (broadcast by
    * construction); scoring is ONE corpus pass — streamed shingle
    * generators, broadcast model join, per-doc map-combinable rollup — so
    * the only corpus-scale shuffle is the final per-doc aggregate.
    */
  def importanceScores(docs: DataFrame, targetDocs: DataFrame, rawDocs: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val buckets = 256
    // the internal scored-side alias must not collide with the caller's id
    // column in the final rejoin (the tokenBudgetMix reserved-name rule)
    require(idCol != "dsir_id", "importanceScores: idCol 'dsir_id' is reserved")
    def features(df: DataFrame): DataFrame = {
      def grams(n: Int) = df.select(
        col(idCol).as("dsir_id"),
        graft.functions.WordShingles.wordShingles(col("text"), n).as("g"))
      grams(1).union(grams(2)).select(col("dsir_id"),
        (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % buckets).as("b"))
    }
    val model = features(targetDocs).groupBy("b").agg(count(lit(1)).as("t_cnt"))
      .join(features(rawDocs).groupBy("b").agg(count(lit(1)).as("r_cnt")),
        Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("t_cnt"), lit(0L)).as("t_cnt"),
        coalesce(col("r_cnt"), lit(0L)).as("r_cnt"))
      // ≤ buckets rows over two corpus-scale subtrees; cut the lineage so
      // the totals agg and the scoring join don't re-run the fits
      .transform(Checkpointer(_))
    val totals = model.agg(coalesce(sum(col("t_cnt")), lit(0L)).as("t_n"),
      coalesce(sum(col("r_cnt")), lit(0L)).as("r_n"))
    val scored = features(docs)
      .join(broadcast(model), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("t_c", coalesce(col("t_cnt"), lit(0L)))
      .withColumn("r_c", coalesce(col("r_cnt"), lit(0L)))
      .withColumn("s_t", length(bin(expr(s"(t_n + $buckets) div (t_c + 1)"))) - 1)
      .withColumn("s_r", length(bin(expr(s"(r_n + $buckets) div (r_c + 1)"))) - 1)
      .groupBy(col("dsir_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("s_r")).cast("long").as("raw_bits"),
        sum(col("s_t")).cast("long").as("target_bits"))
    docs.select(col(idCol)).join(scored, col(idCol) === col("dsir_id"), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("raw_bits"), lit(0L)).as("raw_bits"),
        coalesce(col("target_bits"), lit(0L)).as("target_bits"),
        (coalesce(col("raw_bits"), lit(0L)) -
          coalesce(col("target_bits"), lit(0L))).as("score"))
  }

  /** DSIR selection: [[importanceScores]] plus a `selected` flag on the
    * global top-`k` documents by (score DESC, doc_id ASC) — the paper's
    * top-k ablation of importance resampling, made deterministic (ties and
    * membership are content-derived, never partitioning-derived).
    *
    * Scale shape: a flat `ORDER BY score DESC LIMIT k` is a global sort;
    * instead docs hash into 16^`bucketHexChars` sub-buckets, a per-bucket
    * window keeps each bucket's local top-k (fine-grained uniform keys —
    * any globally-top-k row is top-k in its own bucket), and only the
    * ≤ 16^bucketHexChars·k survivors meet the single tiny global window
    * (the [[tokenBudgetMix]] two-level discipline). The k chosen ids then
    * broadcast back onto the full scored frame.
    */
  def dsirSelect(docs: DataFrame, targetDocs: DataFrame, rawDocs: DataFrame,
                 k: Int, bucketHexChars: Int = 2): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(bucketHexChars >= 1 && bucketHexChars <= 7,
      s"bucketHexChars must be in [1,7]: $bucketHexChars")
    // scoredAll feeds BOTH the top-k rank path and the output join. The
    // static plan shows the scoring subtree twice, but AQE's stage reuse
    // (canonical-plan keyed) shares the per-doc rollup shuffle at runtime;
    // an eager localCheckpoint was A/B-probed at 10x and lost as often as
    // it won (box noise dominates), so the no-pinned-storage shape wins.
    val scoredAll = importanceScores(docs, targetDocs, rawDocs)
    val wLocal = Window.partitionBy(col("sel_bucket"))
      .orderBy(col("score").desc, col("doc_id"))
    // bounded rows (16^bucketHexChars * k) — the unpartitioned window is
    // fine, and the bound is ENFORCED: gr is the window's own input row
    // count, so guarding gr ≤ bound makes a broken per-bucket pre-filter
    // fail the query instead of silently single-partitioning the corpus
    val wGlobal = Window.orderBy(col("score").desc, col("doc_id"))
    val globalBound = (1L << (4 * bucketHexChars)) * k
    val chosen = scoredAll
      .withColumn("sel_bucket", substring(hashKey(col("doc_id"), "dsir"), 1, bucketHexChars))
      .withColumn("lr", row_number().over(wLocal)).filter(col("lr") <= k)
      .withColumn("gr", row_number().over(wGlobal))
      .withColumn("gr", graft.ops.Bounded.guard(col("gr"), col("gr") <= globalBound,
        s"dsirSelect: global top-k window saw more than $globalBound rows — " +
          "the per-bucket pre-filter is broken"))
      .filter(col("gr") <= k)
      .select(col("doc_id").as("sel_id"))
    scoredAll.join(broadcast(chosen), col("doc_id") === col("sel_id"), "left")
      .withColumn("selected", col("sel_id").isNotNull)
      .drop("sel_id")
  }

  /** End-to-end training-shard export: assign splits (90% train, 10%
    * val), shard by content
    * hash, pack into fixed-capacity sequences, and materialize as
    * `outDir/split=…/shard=…/part-*.parquet` with rows sorted by
    * (pack_id, id) inside every file — a reader streams whole packs
    * contiguously. The shard key derives from the same md5 machinery as
    * every sampler here, so the layout is reproducible on any engine or
    * cluster size.
    *
    * Scale shape: ONE algorithmic shuffle (the pack window on (split,
    * shard) keys — numShards × 2 uniform groups; scale parallelism by
    * raising numShards) feeding a repartition aligned with the directory
    * layout, so every write task produces exactly one partition directory.
    */
  def writeTrainingShards(docs: DataFrame, outDir: String, idCol: String,
                          tokensCol: Column, capacity: Long,
                          numShards: Int = 8): Unit = {
    require(numShards > 0 && numShards <= 65536,
      s"numShards must be in [1, 65536] (the shard key has 16 bits): $numShards")
    require(!docs.columns.exists(Seq("split", "shard").contains),
      "writeTrainingShards: input already has a 'split' or 'shard' column")
    val sharded = assignSplit(docs, idCol, Seq(0.9 -> "train", 1.0 -> "val"))
      .withColumn("shard",
        conv(substring(hashKey(col(idCol), "shard"), 1, 4), 16, 10)
          .cast("int") % numShards)
    // pack within (split, shard) so every emitted pack lives in one file
    val packed = packSequences(
      sharded.withColumn("shard_key", concat_ws("/", col("split"), col("shard"))),
      idCol, "shard_key", tokensCol, capacity).drop("shard_key")
    packed
      .repartition(col("split"), col("shard"))
      .sortWithinPartitions(col("pack_id"), col(idCol))
      .write
      .partitionBy("split", "shard")
      .option("maxRecordsPerFile", 0L)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(outDir)
  }
}
