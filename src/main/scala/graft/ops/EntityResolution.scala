package graft.ops

import graft.functions.JaroWinkler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked entity resolution — fuzzy record linkage in the blocking-join +
  * verify shape every dedup tier here uses: an equi-join on a BLOCKING key
  * bounds the quadratic candidate space to Σ|block|² (never corpus ×
  * corpus), then a similarity kernel scores only the surviving pairs.
  *
  * Scale shape (100 TB): the blocking join is a plain shuffle equi-join on
  * the block columns — Catalyst plans it like any key join, AQE handles
  * mild block skew. The quadratic term lives INSIDE blocks, so block-key
  * choice is the whole game: profile candidate volume with the
  * s15 key-skew machinery first, and pass `maxBlockRows` to fail loudly
  * (runtime-guarded per row, the [[Bounded]] discipline) when a degenerate
  * block would detonate the pair count — the d17 prefix-filter lesson, as
  * an executable invariant instead of a documented failure mode.
  */
object EntityResolution {

  /** Within-block name-pair scoring with [[JaroWinkler]]: one output row
    * per unordered candidate pair (`key_a` < `key_b`) whose similarity
    * reaches `minSim`. Input columns are `blockCols` (equality blocking
    * key), `keyCol` (unique id), `nameCol` (the fuzzy-matched string).
    *
    * `maxBlockRows`: optional per-block size bound enforced AT RUN TIME on
    * the INPUT rows, before pairing — one input-scale count aggregate
    * joined back to the probe side, so an oversized block fails BEFORE its
    * pairs materialize. (The original guard counted over the PAIR stream
    * with a block-partitioned window: wall-neutral at bench SF — the
    * window rode the join's existing hash partitioning and JW scoring
    * dominates — but it validated a property of the linear input on the
    * quadratic pair table, and a detonating block would finish exploding
    * before tripping.)
    *
    * The guard's sizes frame (one row per distinct block key) is
    * broadcast. With the fixed-cardinality blocking keys this function is
    * documented for (brands, categories — the only regime where
    * within-block pairing is survivable), the frame is tiny, and
    * post-aggregate stats otherwise made the planner shuffle the probe
    * side a second time — a measured 1.6× wall regression at bench SF.
    * A high-cardinality key makes the frame as large as the key's value
    * count; such keys belong to [[sortedNeighborhoodPairs]].
    */
  def blockedNamePairs(df: DataFrame, blockCols: Seq[String], keyCol: String,
                       nameCol: String, minSim: Double,
                       maxBlockRows: Option[Long] = None): DataFrame = {
    require(blockCols.nonEmpty, "blockedNamePairs needs at least one blocking column")
    require(minSim >= 0.0 && minSim <= 1.0, s"minSim must be in [0,1]: $minSim")
    // The probe side is REDISTRIBUTED before pairing: the quadratic
    // within-block work happens in whatever tasks stream this side, and a
    // single-split scan (or an AQE byte-coalesced exchange — bytes are
    // small here, the EXPLOSION is downstream where AQE cannot see it)
    // would run Σ|block|² similarity kernels in one task (profiled r16:
    // j9's scoring ran as one 5.8 s task on a 32-core box). A round-robin
    // spread of the linear input is a near-no-op relative to the pair
    // work at any scale, and broadcast/SMJ strategy choice is unaffected.
    val para = df.sparkSession.sparkContext.defaultParallelism
    val a = df.select(
      blockCols.map(col) :+ col(keyCol).as("key_a") :+ col(nameCol).as("name_a"): _*)
      .repartition(para)
    val b = df.select(
      blockCols.map(col) :+ col(keyCol).as("key_b") :+ col(nameCol).as("name_b"): _*)
    val aGuarded = maxBlockRows match {
      case Some(max) =>
        val sizes = df.groupBy(blockCols.map(col): _*)
          .agg(count(lit(1)).as("__er_n"))
        a.join(broadcast(sizes), blockCols)
          .withColumn("key_a", Bounded.guard(col("key_a"), col("__er_n") <= max,
            s"blockedNamePairs: a block exceeds maxBlockRows=$max rows " +
              "— re-block or pre-split the key"))
          .drop("__er_n")
      case None => a
    }
    aGuarded.join(b, blockCols).filter(col("key_a") < col("key_b"))
      .withColumn("sim", JaroWinkler.jaroWinkler(col("name_a"), col("name_b")))
      .filter(col("sim") >= minSim)
  }

  /** SORTED-NEIGHBORHOOD entity resolution — the scalable fallback when
    * every available blocking key has FIXED cardinality (brands,
    * categories, size codes), so block sizes grow ∝N and
    * [[blockedNamePairs]]'s within-block pairing grows ∝N² no matter how
    * the keys compose. Measured at 10× bench data (round-13 headroom
    * probe, PLANS.md): brand-blocked pairing went 20 s → 1090 s — a real
    * cliff, guard-bounded but quadratic by construction.
    *
    * The classic fix (Hernández & Stolfo 1995): within each block, SORT
    * by the match field and score only pairs ≤ `window` positions apart —
    * cost Σ|block|·w (LINEAR in N at fixed w), recall = near-duplicates
    * that sort adjacently, which Jaro-Winkler's prefix-weighted
    * similarity makes the common case. Determinism: sort ties break on
    * `keyCol`; every pair emits once with `key_a` the earlier row in sort
    * order.
    *
    * Scale shape: after ranking, the pair space materializes by EXPLODING
    * each row into `window` probe ranks and equi-joining on (block, rank):
    * a plain shuffle join on bounded fan-out, never a block × block
    * product. The RANKING itself has two shapes:
    *
    *   - `scalableRank = false` (default): one `row_number` window per
    *     block. A window partition is ONE task, so with fixed-cardinality
    *     blocking keys this is ~25 single-task external sorts — fine at
    *     bench SF (the sort is a fraction of JW scoring) and CORRECT at
    *     any scale (external sort spills), but the per-block sort does not
    *     parallelize: at 100 TB each block's sort is one task's spill
    *     pipeline. This bound is the price of the simple plan.
    *
    *   - `scalableRank = true`: range-partition by the FULL sort key
    *     (block, name, key) — so each block's rows are contiguous across
    *     ordered partition chunks — rank locally within (block, chunk)
    *     with a bounded window (≤ one task's rows), then stitch chunk
    *     offsets: a (block, chunk)-grain count aggregate (≤ partitions ×
    *     blocks rows — tiny) cumulated per block and joined back. Every
    *     stage is bounded by partition size, so the sort parallelizes
    *     across the cluster; ranks are IDENTICAL to the window form
    *     because (name, key) totally orders each block (key is unique).
    */
  def sortedNeighborhoodPairs(df: DataFrame, blockCols: Seq[String],
                              keyCol: String, nameCol: String, minSim: Double,
                              window: Int,
                              scalableRank: Boolean = false): DataFrame = {
    require(blockCols.nonEmpty, "sortedNeighborhoodPairs needs a blocking column")
    require(window >= 1, s"window must be >= 1: $window")
    require(minSim >= 0.0 && minSim <= 1.0, s"minSim must be in [0,1]: $minSim")
    val slim = df.select(blockCols.map(col) :+ col(keyCol) :+ col(nameCol): _*)
    val ranked =
      if (scalableRank) blockRanks(slim, blockCols, Seq(nameCol, keyCol))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(blockCols.map(col): _*)
          .orderBy(col(nameCol), col(keyCol))
        slim.withColumn("__rn", row_number().over(w))
      }
    val probes = ranked.select(
        blockCols.map(col) :+ col(keyCol).as("key_a") :+
          col(nameCol).as("name_a") :+ col("__rn"): _*)
      .withColumn("__j", explode(lit((1 to window).toArray)))
      .withColumn("__rn", col("__rn") + col("__j"))
      .drop("__j")
    val base = ranked.select(
      blockCols.map(col) :+ col(keyCol).as("key_b") :+
        col(nameCol).as("name_b") :+ col("__rn"): _*)
    probes.join(base, blockCols :+ "__rn")
      .drop("__rn")
      .withColumn("sim", JaroWinkler.jaroWinkler(col("name_a"), col("name_b")))
      .filter(col("sim") >= minSim)
  }

  /** Scalable per-block dense ranking (`__rn`, 1-based) — the
    * multi-task replacement for `row_number() OVER (PARTITION BY block
    * ORDER BY order)` when single blocks outgrow one task.
    *
    * Requires `orderCols` to TOTALLY order rows within a block (include a
    * unique key as the last column) — with ties, rows equal on the full
    * sort key could land on either side of a range boundary and the split
    * ranking would not match the window form tie-for-tie.
    *
    * Mechanics (all bounded by partition size — no single-task block sort):
    *  1. `repartitionByRange` on (block ++ order): range partitioning on
    *     the FULL sort key makes each block's rows contiguous across
    *     ordered chunks (RangePartitioner assigns by binary search on
    *     sampled bounds; equal keys land in one chunk).
    *  2. local `row_number` within (block, chunk) — each window partition
    *     is a subset of one range chunk, so it is bounded by partition
    *     size regardless of block size.
    *  3. offsets: count rows per (block, chunk) — at most (#partitions ×
    *     #blocks-touching) rows — and cumulate per block in chunk order
    *     (a window over that TINY frame); global rank = local + offset.
    * The chunk id must be captured BEFORE step 2's hash shuffle, hence the
    * `spark_partition_id()` right after the range exchange.
    *
    * The offsets frame is broadcast: blocks are CONTIGUOUS ranges of
    * chunks, so its row count is ≤ (#blocks + #chunks − 1) incidences —
    * not blocks × chunks — and the many-small-blocks regime where that
    * bound could bite is exactly where the plain window rank is already
    * parallel (many window partitions) and this helper is the wrong tool.
    * The range exchange feeds both the local-rank branch and the offsets
    * aggregate; the subplans are identical, so Spark's ReuseExchange
    * serves both from one shuffle write. RangePartitioner's bound
    * sampling is deterministically seeded (byteswap32 of the partition
    * index), so the two logical reads agree on chunk assignment even if
    * the exchange were recomputed.
    */
  def blockRanks(df: DataFrame, blockCols: Seq[String],
                 orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "blockRanks needs at least one order column")
    val sortCols = (blockCols ++ orderCols).map(col)
    // EXPLICIT partition count: the local-rank branch and the offsets
    // branch join on (block, __chunk), so both must see the IDENTICAL
    // chunk assignment. AQE's exchange-stage reuse serves both from one
    // shuffle in practice, but a recomputed exchange with an ADVISORY
    // partition count could be coalesced differently per branch and
    // corrupt ranks silently — pinning the count (REPARTITION_BY_NUM,
    // which AQE may not change) plus RangePartitioner's deterministic
    // bound sampling makes the assignment equal BY CONTRACT, reuse or not.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // a NULL block key would never match the offsets join (SQL equality)
    // and emit a null rank with no error — fail map-side instead (the
    // removeDuplicateSpans null-id idiom; guard works on any column type)
    val guarded = blockCols.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c).isNull, raise_error(lit(
        s"blockRanks: null blocking column $c — ranks need non-null blocks")))
        .otherwise(col(c))))
    val chunked = guarded.repartitionByRange(parts, sortCols: _*)
      .withColumn("__chunk", spark_partition_id())
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy((blockCols :+ "__chunk").map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val local = chunked.withColumn("__lrn", row_number().over(wLocal))
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(blockCols.map(col): _*)
      .orderBy(col("__chunk"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = chunked.groupBy((blockCols :+ "__chunk").map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(wOff), lit(0L)))
      .select((blockCols :+ "__chunk").map(col) :+ col("__off"): _*)
    local.join(broadcast(offsets), blockCols :+ "__chunk")
      .withColumn("__rn", (col("__off") + col("__lrn")).cast("int"))
      .drop("__chunk", "__lrn", "__off")
  }
}
