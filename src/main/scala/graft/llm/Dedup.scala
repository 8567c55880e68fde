package graft.llm

import graft.ops.Checkpointer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash. All are `DataFrame` transforms
  * built from codegen'd built-ins — no UDFs — and all hashing is md5-based so
  * results are portable across engines (the DuckDB oracle computes identical
  * values).
  *
  * Scale notes (100 TB): exact dedup is one hash-aggregate shuffle on a
  * 16-byte digest; shingle/minhash stages shuffle on (shingle) or (band key)
  * — both uniformly distributed by construction (md5), so no skew; candidate
  * pair generation is a self-join on band keys whose fan-out is bounded by
  * band width, not corpus size.
  */
object Dedup {

  // observe() names must be unique within one query plan — a fixed name
  // would fail analysis when two capped operators meet in one DAG (e.g. a
  // union of jaccardPairs calls). Prefix stays stable for listeners that
  // match on startsWith.
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong()
  private def metricName(prefix: String): String =
    s"${prefix}_${metricSeq.incrementAndGet()}"

  /** Exact dedup: group by content digest, keep the smallest id as canonical
    * (deterministic), count members. One map-side-combinable aggregate.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_members"))

  /** Word n-gram shingles: (id, shingle) distinct. Shingles are
    * space-joined word windows, streamed by a native generator
    * ([[graft.functions.WordShinglesExpr]]) — one substring per window
    * instead of a split-array + slice + concat_ws chain of interpreted
    * higher-order functions per window.
    */
  def wordShingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id").as("id"),
        graft.functions.WordShingles.wordShingles(col("text"), n).as("shingle"))
      .distinct()

  /** n-gram Jaccard near-dup pairs: inverted-index self-join on shingle →
    * per-pair intersection counts → |A∩B| / (|A|+|B|-|A∩B|) ≥ `minJaccard`.
    * The division is exact-integer-in, so the double is bit-identical across
    * engines. Pairs are emitted once (id_a < id_b).
    *
    * `maxDF` bounds posting-list fan-out: a shingle contained in df documents
    * emits O(df²) pairs from ONE reducer row, so a single stop-word-ish
    * 3-gram ("one of the") is both a straggler and an OOM at corpus scale.
    * Shingles with df > maxDF are dropped BEFORE pairing — high-DF shingles
    * carry ~no Jaccard signal (they are in everything). When the cap fires,
    * per-document sizes are computed over the SAME retained (df ≤ maxDF)
    * shingle universe as the intersections, so the `jaccard` column is the
    * exact Jaccard of the capped shingle sets — self-consistent, never an
    * under-estimate against its own universe. The drop is never silent: the
    * count of dropped shingles is published as an observed metric named
    * `jaccard_maxdf_<n>` (per-call suffix — fixed names fail analysis when
    * two capped operators meet in one plan; no extra job, collected during
    * the real execution; find it by prefix in
    * QueryExecution.observedMetrics or a QueryExecutionListener).
    * Default = unbounded (exact semantics over the full shingle sets).
    */
  /** Posting lists: one row per 64-bit-hashed shingle (collisions ~2^-64)
    * with the sorted list of containing doc ids — singletons included (they
    * contribute to doc sizes under the cap). One wide shuffle.
    */
  private def groupedPostings(shingles: DataFrame): DataFrame =
    shingles
      .groupBy(xxhash64(col("shingle")).as("sh"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))

  /** Pair co-occurrence counts from a posting table: streamed ordered pairs
    * from each sorted id array (constant memory per posting row — see
    * graft.functions.OrderedPairsExpr), then a count. No self-join.
    */
  private def pairsFromPostings(postings: DataFrame): DataFrame =
    postings
      .filter(size(col("ids")) > 1)
      .select(graft.functions.OrderedPairs.orderedPairs(col("ids")).as(Seq("id_a", "id_b")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))

  /** The (posting lists, per-doc sizes) for a shingle table under `maxDF`:
    * unbounded → plain groupings (per-doc sizes are one map-side-combinable
    * aggregate on the raw shingles); capped → BOTH derive from the same
    * grouped posting table with df > maxDF rows removed, so intersections
    * and sizes describe the same retained universe. Deliberately NO join
    * against a document-frequency table: that table is vocabulary-sized,
    * and a planner that mis-estimates it as broadcastable OOMs the driver —
    * observed at a 10× corpus (PLANS.md, round-4 10× probes). Deriving
    * sizes by exploding the retained postings keeps everything a shuffle
    * of data that is already grouped (and the grouping exchange is shared
    * by both consumers). Used by both [[jaccardPairs]] and
    * [[removeNearDuplicates]] so the cap + drop metric exist exactly once.
    */
  private def cappedUniverse(shingles: DataFrame, maxDF: Long,
                             metricPrefix: String): (DataFrame, DataFrame) = {
    // both return values consume the shingle table (postings group + sizes)
    // and its upstream generator re-executes once per consumer — accepted
    // DELIBERATELY: the re-executed subtree is map-side only (scan +
    // generator; each consumer owns its shuffle either way), while an eager
    // localCheckpoint here would pin a CORPUS-scale (id, shingle) table in
    // executor block storage — non-evictable, lost with an executor — which
    // is the worse failure mode at the 100 TB design point. Materialize-once
    // is reserved for small data over big subtrees (candidate tables,
    // incoming-increment sketches).
    if (maxDF == Long.MaxValue)
      (groupedPostings(shingles),
        shingles.groupBy(col("id")).agg(count(lit(1)).as("sz")))
    else {
      val retained = groupedPostings(shingles)
        .observe(metricName(metricPrefix),
          coalesce(sum(when(size(col("ids")) > maxDF, 1L).otherwise(0L)), lit(0L))
            .as("dropped"))
        .filter(size(col("ids")) <= maxDF)
      val sizes = retained.select(explode(col("ids")).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("sz"))
      (retained, sizes)
    }
  }

  /** Shared scoring tail for set-overlap pair operators: merge-hinted size
    * joins, score column, threshold filter, canonical column order.
    * MERGE hints: the pair table is O(Σ df²) — data-dependent and unbounded
    * — but the planner's size ESTIMATE for it collapses (projections drop
    * the wide text column early), so static planning picks a broadcast
    * build side and the driver OOMs building it; observed at a 10× corpus
    * (PLANS.md, round-4 10× probes). Sort-merge is the only shape that is
    * always safe here, and AQE still handles skew within it. The ONE copy of this rationale —
    * [[jaccardPairs]], [[containmentPairs]], and [[removeNearDuplicates]]
    * all route through here.
    */
  private def scorePairs(pairs: DataFrame, sizes: DataFrame, scoreName: String,
                         score: (Column, Column, Column) => Column,
                         threshold: Double): DataFrame =
    pairs
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a")).hint("merge"),
        Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b")).hint("merge"),
        Seq("id_b"))
      .withColumn(scoreName, score(col("n_inter"), col("sz_a"), col("sz_b")))
      .filter(col(scoreName) >= threshold)
      .select("id_a", "id_b", "n_inter", "sz_a", "sz_b", scoreName)

  private def jaccardOf(n: Column, a: Column, b: Column): Column = n / (a + b - n)

  def jaccardPairs(shingles: DataFrame, minJaccard: Double,
                   maxDF: Long = Long.MaxValue): DataFrame = {
    val (postings, sizes) = cappedUniverse(shingles, maxDF, "jaccard_maxdf")
    scorePairs(pairsFromPostings(postings), sizes, "jaccard", jaccardOf, minJaccard)
  }

  /** Asymmetric containment near-dup pairs: score = |A∩B| / min(|A|,|B|) —
    * the "one document is (mostly) inside the other" measure. Jaccard
    * normalizes by the UNION, so a short document quoted verbatim inside a
    * long one scores near zero (the union is dominated by the long side)
    * and survives Jaccard dedup; containment scores it 1.0. The classic
    * complement to [[jaccardPairs]] for boilerplate quoting, article
    * aggregation, and doc-in-doc duplication.
    *
    * Same machinery and scale shape as [[jaccardPairs]] — the shared
    * capped-universe posting lists (cap metric `containment_maxdf_<n>`),
    * streamed ordered pairing, merge-hinted size joins; the score is
    * exact-integer-in so the double hash-matches any engine. Pairs emitted
    * once (id_a < id_b); the score is direction-free (max over the two
    * directional containments = the min-denominator form).
    */
  def containmentPairs(shingles: DataFrame, minContainment: Double,
                       maxDF: Long = Long.MaxValue): DataFrame = {
    val (postings, sizes) = cappedUniverse(shingles, maxDF, "containment_maxdf")
    scorePairs(pairsFromPostings(postings), sizes, "containment",
      (n, a, b) => n / least(a, b), minContainment)
  }

  /** AllPairs/PPJoin-style prefix-filtered similarity self-join: EXACT
    * Jaccard ≥ pct/100 pairs (no false negatives, unlike LSH) at a fraction
    * of the all-pairs join cost. Tokens are globally ordered by ascending
    * document frequency (ties by token — a total order, so the prefix is
    * deterministic); a pair at Jaccard ≥ t MUST share at least one token
    * within each side's first `n − ceil(t·n) + 1` tokens of that order, so
    * only PREFIX tokens — the rarest ones — enter the candidate join.
    *
    * Scale shape: the candidate join fans out per prefix token bounded by
    * that token's df, and prefix tokens are df-ascending-first, so the
    * quadratic mass a stop-word posting list would emit never forms
    * (the same hazard [[jaccardPairs]]' maxDF cap handles — here pruned
    * by construction rather than capped, and exactly). Verification joins
    * the candidate pairs (small side) against per-doc sorted token-set
    * arrays and intersects inside the row: per-pair O(|doc|) work, no
    * second corpus shuffle. The df table is vocabulary-sized and joins
    * merge-hinted (the mis-planned-broadcast lesson). All thresholds are
    * integer cross-multiplications; no float reaches the output.
    *
    * Output: (id_a < id_b, n_inter, n_a, n_b) for every pair with
    * n_inter·100 ≥ pct·(n_a + n_b − n_inter).
    */
  def prefixFilterCandidates(shingles: DataFrame, minJaccardPct: Int): DataFrame = {
    require(minJaccardPct >= 1 && minJaccardPct <= 100,
      s"minJaccardPct must be in [1,100]: $minJaccardPct")
    val dfx = shingles.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    val ranked = shingles.join(dfx.hint("merge"), Seq("shingle"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
    // prefix length n − ceil(pct·n/100) + 1, ceil as (pct·n + 99) div 100
    // (exact: the double quotient of these small integers truncates to the
    // true integer division)
    val prefix = ranked
      .filter(col("rn") <= col("n") - ((lit(minJaccardPct) * col("n") + 99) / 100)
        .cast("long") + 1)
      .select("id", "shingle", "rn", "n")
    // PPJoin POSITIONAL filter on top of the prefix filter: all documents
    // order tokens by the SAME global (df, shingle) key, so for a shared
    // token at ranks (i, j) the overlap is bounded by common-before + this
    // token + common-after ≤ (min(i,j)−1) + 1 + min(n_a−i, n_b−j). A pair
    // survives only if SOME shared prefix token's bound reaches the overlap
    // threshold α = ceil(pct·(n_a+n_b)/(100+pct)) (jaccard ≥ t ⟺ overlap ≥
    // t/(1+t)·(n_a+n_b)); a true-positive pair's bound is ≥ its real
    // overlap ≥ α at EVERY shared token, so no qualifying pair is lost —
    // the filter only cuts verification fan-out (Xiao et al., WWW'08).
    // Same double-quotient-exact ceil trick as the prefix length above.
    val alpha = ((lit(minJaccardPct) * (col("n_a") + col("n_b"))
      + lit(100 + minJaccardPct - 1)) / lit(100 + minJaccardPct)).cast("long")
    val joined = prefix.select(col("shingle"), col("id").as("id_a"),
        col("rn").as("rn_a"), col("n").as("n_a"))
      .join(prefix.select(col("shingle"), col("id").as("id_b"),
          col("rn").as("rn_b"), col("n").as("n_b")).hint("merge"),
        Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("rn_a"), col("rn_b"))
        + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")) >= alpha)
    joined.select("id_a", "id_b").distinct()
  }

  def prefixFilterPairs(shingles: DataFrame, minJaccardPct: Int): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE before the quadratic stage: on a corpus with
    // e-sized classes of identical token sets, every prefix token's df
    // multiplies by e, so the candidate join emits Σ df² ≈ e² × the
    // collapsed volume — measured as an OOM at the 100× duplicate-cluster
    // probe (1.5G candidate rows pre-distinct). Since Jaccard depends only
    // on the token SET, one representative per class carries every class
    // member's verdict: run the prefix filter on representatives, then
    // expand (a) cross-class rep pairs to member pairs and (b) within-class
    // pairs (identical sets — Jaccard 1, always ≥ the threshold) purely by
    // output-bounded joins. Output is IDENTICAL to running the algorithm
    // directly — the class signature is md5 over the sorted token set, and
    // n_inter/n_a/n_b are set-level quantities shared by the whole class.
    // sig/repShingles feed 2 and 4 downstream consumers respectively, and
    // their shared upstream is the corpus-scale shingle distinct: without
    // materialization each consumer re-executes that shuffle (measured as
    // a disk-exhausting 4-5x spill multiplier at the 100x probe). sig is
    // doc-sized; repShingles is the COLLAPSED posting table — the
    // Checkpointer trade the iterative operators already make (reliable
    // files on a cluster, local blocks in local[] mode).
    val sig = Checkpointer(shingles.groupBy("id")
      .agg(md5(concat_ws("\u0000", sort_array(collect_set(col("shingle"))))).as("sig")))
    val classes = sig.groupBy("sig").agg(min(col("id")).as("rep"))
    val members = sig.join(classes, Seq("sig")) // (id, sig, rep)
    val repShingles = Checkpointer(shingles
      .join(classes.select(col("rep").as("id")), Seq("id"), "left_semi"))

    val candidates = prefixFilterCandidates(repShingles, minJaccardPct)
    // verify by STREAMING posting joins, not per-pair token arrays: a
    // collect_set/array_intersect verify carries two fat arrays on every
    // candidate row; expanding side A's tokens and semi-matching side B on
    // (id_b, shingle) keeps rows skinny and every operator a spill-able
    // equi-join/aggregate. n_inter >= 1 by construction (candidates share
    // a prefix token), so the inner joins lose no pair.
    // length filter BEFORE the expansion join (canonical AllPairs pruning,
    // exactness-preserving: jacc >= t forces t·|B| <= |A| <= |B|/t, so a
    // length-incompatible candidate can never verify) — sizes are doc-count
    // rows, so this join is cheap relative to the token expansion it prunes
    val sizes = repShingles.groupBy("id").agg(count(lit(1)).as("n"))
    val lengthOk = candidates
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .filter(col("n_a") * 100 >= lit(minJaccardPct) * col("n_b") &&
        col("n_b") * 100 >= lit(minJaccardPct) * col("n_a"))
    val repPairs = lengthOk
      .join(repShingles.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(repShingles.select(col("id").as("id_b"), col("shingle")).hint("merge"),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b", "n_a", "n_b").agg(count(lit(1)).as("n_inter"))
      .filter(col("n_inter") * 100 >=
        lit(minJaccardPct) * (col("n_a") + col("n_b") - col("n_inter")))

    // (a) cross-class expansion: every (member of rep_a) × (member of rep_b).
    // least/greatest re-orients the ids, so the set sizes must travel WITH
    // their ids: when ma > mb the output's id_a is rep_b's member and its
    // size is n_b (and mirror) — keeping the rep orientation would attribute
    // id_a's size to id_b whenever the expansion flips the pair.
    val cross = repPairs
      .join(members.select(col("rep").as("id_a"), col("id").as("ma")), Seq("id_a"))
      .join(members.select(col("rep").as("id_b"), col("id").as("mb")), Seq("id_b"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        col("n_inter"),
        when(col("ma") <= col("mb"), col("n_a")).otherwise(col("n_b")).as("n_a"),
        when(col("ma") <= col("mb"), col("n_b")).otherwise(col("n_a")).as("n_b"))
    // (b) within-class pairs: identical sets, n_inter = n_a = n_b = |set|.
    // The self-join on sig is output-bounded (class² IS the true pair
    // count) and the size lookup joins on the class representative.
    val within = members.select(col("sig"), col("rep"), col("id").as("ma"))
      .join(members.select(col("sig"), col("id").as("mb")).hint("merge"), Seq("sig"))
      .filter(col("ma") < col("mb"))
      .join(sizes.select(col("id").as("rep"), col("n")), Seq("rep"))
      .select(col("ma").as("id_a"), col("mb").as("id_b"),
        col("n").as("n_inter"), col("n").as("n_a"), col("n").as("n_b"))
    cross.unionByName(within)
  }

  /** Unit-granular exact dedup WITH document reassembly — the C4/Dolma
    * paragraph-dedup step: documents split into units (paragraphs, lines,
    * sentences — `sep` is the literal separator), every unit that already
    * appeared earlier in the corpus is dropped, and each document is
    * reassembled from its surviving units in original order. "Earlier" is
    * the global (id, pos) order, so exactly ONE copy of every distinct
    * unit survives, in its first home.
    *
    * Differs from [[chunkDedup]] (fixed token windows) in honoring the
    * document's own unit structure, and from [[removeDuplicateSpans]] in
    * dropping whole units rather than token spans.
    *
    * Scale shape: one explode, one combinable min-aggregate on the unit
    * hash (16-byte digest, uniformly distributed — no skew), one semi-join
    * back on (id, pos), one per-document regroup. No windows, no driver
    * state.
    *
    * Output: (id, kept_text, n_units, n_kept) — emptied documents remain
    * with kept_text = '' so the caller decides their fate.
    */
  def unitDedup(docs: DataFrame, sep: String): DataFrame = {
    val units = docs.select(col("doc_id").as("id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "unit")))
      .filter(col("unit") =!= "")
    val winners = units.groupBy(md5(col("unit")).as("h"))
      .agg(min(struct(col("id"), col("pos"))).as("w"))
      .select(col("w.id").as("id"), col("w.pos").as("pos"))
    val kept = units.join(winners, Seq("id", "pos"), "left_semi")
    val total = units.groupBy("id").agg(count(lit(1)).as("n_units"))
    val keptAgg = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(array_sort(collect_list(struct(col("pos"), col("unit")))),
        x => x.getField("unit")), " | ").as("kept_text"))
    total.join(keptAgg, Seq("id"), "left")
      .select(col("id"), coalesce(col("kept_text"), lit("")).as("kept_text"),
        col("n_units"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** df-distribution statistics of a posting table, computed EXACTLY via
    * the cumulative-histogram shape (the s15_key_skew_report machinery): the
    * df histogram is bounded by #distinct df values (≤ max df, tiny at any
    * scale), so the window runs on a summary frame and the driver collects
    * four numbers — never data-sized state.
    *
    * Returned: (nTokens, nPostings, medianDf, p99Df).
    */
  def dfSkewStats(shingles: DataFrame): (Long, Long, Long, Long) = {
    val counts = shingles.groupBy("shingle").agg(count(lit(1)).as("df"))
    val hist = counts.groupBy("df").agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("df"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // the unpartitioned window is bounded BY MATH, not by luck: the sum of
    // the d distinct df values is ≤ n_postings, so d = O(√n_postings)
    // (~10⁶ rows at 100 TB — summary-sized)
    val cum = hist.withColumn("cum", sum(col("freq")).over(w))
    val totals = hist.agg(sum(col("freq")).as("n_tokens"),
      sum(col("df") * col("freq")).as("n_postings"))
    val row = cum.crossJoin(broadcast(totals))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("n_postings")).as("n_postings"),
        min(when(col("cum") * 2 >= col("n_tokens"), col("df"))).as("median_df"),
        min(when(col("cum") * 100 >= col("n_tokens") * 99, col("df"))).as("p99_df"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
  }

  /** The df-skew GATE in front of the exact prefix-filter tier.
    *
    * [[prefixFilterPairs]] is the state of the art on Zipfian text: the
    * df-ascending prefix keeps each document's rarest tokens, and rare
    * tokens have small posting lists, so the candidate join stays sparse.
    * On a NEAR-UNIFORM df distribution (tiny vocabulary, synthetic or
    * heavily normalized corpora) there are no rare tokens — every prefix
    * token's posting list is corpus-sized and the candidate set degenerates
    * toward all-pairs (measured: >76 GB spill at the 100× uniform probe,
    * PLANS.md). This entry point measures the distribution first (one
    * bounded aggregate) and routes:
    *
    *  - Zipfian (p99/median ≥ 4, or postings sparse enough that mean
    *    df ≤ 8 — uniform-but-tiny dfs cannot blow up):
    *    the EXACT tier, output tagged `route = "prefix_exact"`.
    *  - degenerate: the maxDF-capped posting join ([[jaccardPairs]] — the
    *    documented scale-safe alternative; its cap drop-count is surfaced
    *    as an observed metric), `route = "maxdf_capped"`. Scores are exact
    *    Jaccard over the capped shingle universe.
    *
    * Output on both routes: (id_a, id_b, n_inter, n_a, n_b, route).
    */
  def prefixFilterPairsAuto(shingles: DataFrame): DataFrame = {
    val minJaccardPct = 70
    val (nTokens, nPostings, medianDf, p99Df) = dfSkewStats(shingles)
    val meanDf = nPostings.toDouble / math.max(1L, nTokens)
    val skewRatio = p99Df.toDouble / math.max(1L, medianDf)
    if (skewRatio >= 4.0 || meanDf <= 8.0)
      prefixFilterPairs(shingles, minJaccardPct)
        .withColumn("route", lit("prefix_exact"))
    else
      jaccardPairs(shingles, minJaccardPct / 100.0, 1000L)
        .select(col("id_a"), col("id_b"), col("n_inter"),
          col("sz_a").as("n_a"), col("sz_b").as("n_b"),
          lit("maxdf_capped").as("route"))
  }

  /** Portable shingle hash j: 8 hex chars of md5("<j/4>:<s>") at piece j%4 —
    * one md5 yields four independent 32-bit hashes, so k hashes cost only
    * ceil(k/4) digests. Lexicographic MIN over fixed-width lowercase hex ==
    * numeric min — no integer conversion, identical in any engine with md5.
    */
  def shingleHash(j: Int, shingle: Column): Column =
    substring(md5(concat(lit((j / 4).toString), lit(":"), shingle)),
      1 + 8 * (j % 4), 8)

  /** MinHash signatures: (id, h0..h{k-1}) — k min-hashes per document.
    *
    * Hashes are computed on the DISTINCT shingle dictionary and joined back
    * before the per-document min — at any scale the dictionary is far
    * smaller than the (id, shingle) table (vocabulary vs corpus), so this
    * trades one (usually broadcast) join for a >10× cut in digest work; the
    * per-document min still combines map-side.
    */
  def minhashSignatures(shingles: DataFrame, numHashes: Int): DataFrame = {
    val dict = shingles.select("shingle").distinct()
      .select(col("shingle") +:
        (0 until numHashes).map(j => shingleHash(j, col("shingle")).as(s"h$j")): _*)
    val aggs = (0 until numHashes).map(j => min(col(s"h$j")).as(s"h$j"))
    shingles.join(dict, Seq("shingle")).groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: signature → (band, band_key) rows; documents sharing a
    * band key are candidate pairs. `rowsPerBand` hashes concatenate into one
    * key; numHashes = bands * rowsPerBand.
    */
  def lshBands(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat(parts: _*).as("band_key"))
    }
    signatures.select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Candidate near-dup pairs from LSH: distinct (id_a < id_b) sharing any
    * band key.
    *
    * Implemented as ONE shuffle — groupBy bucket, then pair generation
    * streamed from the collected (sorted) id array — rather than a bucket
    * self-join:
    * a self-join re-executes the whole signature pipeline on both sides
    * whenever exchange reuse fails (observed under AQE), and buckets are
    * near-duplicate groups, i.e. small by construction, and pair generation
    * streams (OrderedPairsExpr) so memory stays constant even on a
    * pathological bucket. Band keys are md5-uniform → no shuffle skew.
    */
  def lshCandidates(signatures: DataFrame, bands: Int, rowsPerBand: Int,
                    maxBucket: Long = Long.MaxValue): DataFrame = {
    val bandsDf = lshBands(signatures, bands, rowsPerBand)
    val allBuckets = bandsDf.groupBy("band", "band_key")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    // `maxBucket` caps pathological buckets (e.g. a massive exact-duplicate
    // cluster collapsing every copy into one band key → O(n²) pair fan-out
    // from one row). Dropped buckets are published as observed metric
    // `lsh_maxbucket_<n>` (per-call suffix, match by prefix) — no silent
    // caps. Default = unbounded.
    val buckets =
      if (maxBucket == Long.MaxValue) allBuckets
      else allBuckets
        .observe(metricName("lsh_maxbucket"),
          coalesce(sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L)), lit(0L))
            .as("dropped_buckets"))
        .filter(size(col("ids")) <= maxBucket)
    buckets
      .select(graft.functions.OrderedPairs.orderedPairs(col("ids")).as(Seq("id_a", "id_b")))
      .distinct()
  }

  /** End-to-end near-duplicate REMOVAL: MinHash/LSH candidates → exact
    * Jaccard verification ≥ `minJaccard` → greedy keep-lowest-id (for every
    * confirmed pair the higher id is dropped). Returns the deduplicated
    * corpus. This is the standard two-stage scale pattern: candidates from
    * the cheap sketch, exact similarity only on the candidate set.
    */
  def removeNearDuplicates(docs: DataFrame, minJaccard: Double = 0.8): DataFrame = {
    val numHashes = 12
    val bands = 4
    // the candidate table feeds the id set AND the pair semi-join, and its
    // upstream is the whole multi-shuffle sketch pipeline: materialize it
    // once — it is SMALL (dup-density-bound pairs), so this is the
    // small-data-over-big-subtree case where the Checkpointer is the right
    // trade. The corpus-scale shingle table is deliberately NOT
    // checkpointed (see cappedUniverse) — its re-executed subtree is a
    // map-side scan, not a shuffle.
    val shingles = wordShingles(docs, 3)
    val candidates = Checkpointer(lshCandidates(minhashSignatures(shingles, numHashes), bands,
      numHashes / bands))
    // exact jaccard on candidates only (semi-join-restricted posting lists).
    // Pairing shares [[pairCounts]]/[[cappedUniverse]] with jaccardPairs — a
    // shingle self-join here would re-execute the shingle pipeline on both
    // sides whenever exchange reuse fails, and at sf0.1 measurably did.
    // Sizes come from the candidate-restricted shingles: the semi-join
    // restricts DOCS, not their shingles, so per-doc counts are identical for
    // every doc that can appear in a confirmed pair; under maxDF they are
    // further restricted to the retained shingle universe, consistently with
    // the intersections.
    // MERGE hints throughout: candidate, pair, and drop-id tables are all
    // data-dependent (dup-density-bound) — static size estimates for them
    // are meaningless, and a mis-planned broadcast OOMs the driver (see
    // scorePairs). AQE re-promotes to broadcast nothing here; it still
    // splits skewed merge joins.
    val candIds = candidates.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candShingles = shingles.join(candIds.hint("merge"), Seq("id"), "left_semi")
    val (postings, sizes) = cappedUniverse(candShingles, Long.MaxValue, "neardup_maxdf")
    val inter = pairsFromPostings(postings)
      .join(candidates.hint("merge"), Seq("id_a", "id_b"), "left_semi")
    val confirmed = scorePairs(inter, sizes, "jaccard", jaccardOf, minJaccard)
    val dropIds = confirmed.select(col("id_b").as("doc_id")).distinct()
    docs.join(dropIds.hint("merge"), Seq("doc_id"), "left_anti")
  }

  /** MinHash Jaccard estimate for candidate pairs: the fraction of the k
    * signature components the two documents share — the classic unbiased
    * estimator (P[min-hash agrees] = true Jaccard, so E[est] = J with
    * stderr ≈ 1/√k). The cheap verify step between LSH candidacy and the
    * exact [[jaccardPairs]] intersection: signatures are already computed,
    * so scoring a pair costs k string compares instead of a shingle-set
    * join — use it to triage candidate volume before the exact pass, or in
    * place of it where a ±1/√k score suffices.
    *
    * Scale shape: two merge-hinted joins of the (data-dependent) pair table
    * against the signature table — the [[scorePairs]] discipline; the
    * component comparison is a map-side literal fold. Signatures are
    * md5-hex derived, so the estimate is engine-portable and the oracle
    * reproduces it exactly.
    */
  def estimateJaccard(signatures: DataFrame, pairs: DataFrame): DataFrame = {
    val numHashes = 12
    def side(suffix: String) = signatures.select(
      col("id").as(s"id_$suffix") +:
        (0 until numHashes).map(j => col(s"h$j").as(s"${suffix}_h$j")): _*)
    val agree = (0 until numHashes)
      .map(j => when(col(s"a_h$j") === col(s"b_h$j"), 1).otherwise(0))
      .reduce(_ + _)
    // LEFT joins: a pair whose id is missing from the signature table (a
    // stale persisted store vs newer candidates) must surface as a NULL
    // estimate, never vanish — an inner join would silently drop it and a
    // triage caller would read the absence as below-threshold
    pairs.select("id_a", "id_b")
      .join(side("a").hint("merge"), Seq("id_a"), "left")
      .join(side("b").hint("merge"), Seq("id_b"), "left")
      .withColumn("n_agree",
        when(col("a_h0").isNull || col("b_h0").isNull, lit(null).cast("long"))
          .otherwise(agree.cast("long")))
      .withColumn("est_jaccard", col("n_agree") / numHashes)
      .select("id_a", "id_b", "n_agree", "est_jaccard")
  }

  /** Incremental near-dup candidates: pairs that INVOLVE an incoming
    * document — incoming×corpus plus incoming×incoming, never
    * corpus×corpus. This is the continuous-ingestion shape at 100 TB: the
    * corpus signatures are computed once and persisted; each increment
    * re-sketches only itself, and the incoming band table (tiny) broadcasts
    * against the corpus band table, so the per-increment cost is
    * O(|incoming| · bands) with no corpus shuffle at all.
    * Emits distinct (id_a < id_b); ids must be unique across both inputs.
    */
  /** `materializeIncoming = false` skips the internal localCheckpoint —
    * for callers that already materialized the incoming signatures (the
    * streaming loop checkpoints them once for its own probe+append reuse;
    * a second copy per micro-batch would pin redundant block storage).
    */
  def incrementalCandidates(corpusSigs: DataFrame, incomingSigs: DataFrame,
                            bands: Int, rowsPerBand: Int,
                            materializeIncoming: Boolean = true): DataFrame = {
    // incoming sigs feed TWO consumers (the broadcast cross probe and the
    // within-increment candidates): materialize once — the increment is tiny
    // by contract, and without this the whole incoming shingle+minhash
    // pipeline re-executes per consumer (measured ~2 extra stages at sf0.1)
    val inSigs = if (materializeIncoming) incomingSigs.localCheckpoint(true)
                 else incomingSigs
    val bCorp = lshBands(corpusSigs, bands, rowsPerBand)
    val bIn = lshBands(inSigs, bands, rowsPerBand)
      .withColumnRenamed("id", "id_in")
    val cross = bCorp.join(broadcast(bIn), Seq("band", "band_key"))
      .select(least(col("id"), col("id_in")).as("id_a"),
        greatest(col("id"), col("id_in")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val within = lshCandidates(inSigs, bands, rowsPerBand)
    cross.union(within).distinct()
  }

  /** Benchmark decontamination: remove training documents that share ANY
    * word n-gram with an evaluation corpus (the standard 13-gram rule for
    * keeping eval benchmarks out of training data; default lowered only by
    * callers whose documents are short).
    *
    * Scale shape: the eval side is tiny relative to the corpus (benchmarks
    * are thousands of docs, the corpus is billions), so its distinct shingle
    * set is BROADCAST and the contamination probe is map-side — the corpus
    * is scanned once, streamed through the shingle generator WITHOUT the
    * per-doc distinct (duplicates are irrelevant to a semi-join), and never
    * shuffled on shingle. Only the (small) contaminated-id set reaches a
    * shuffle, in the final anti-join.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame =
    docs.join(contaminatedIds(docs, evalDocs, n), Seq("doc_id"), "left_anti")

  /** The shared contaminated-id probe behind [[decontaminate]] and
    * [[contaminationReport]]: ids of docs sharing ≥ 1 word n-gram with the
    * eval set (eval grams broadcast, corpus side map-side until the
    * id-distinct). One definition so the filter and the governance report
    * can never disagree about what "contaminated" means.
    */
  private def contaminatedIds(docs: DataFrame, evalDocs: DataFrame, n: Int): DataFrame = {
    val docShingles = docs.select(col("doc_id").as("id"),
      graft.functions.WordShingles.wordShingles(col("text"), n).as("shingle"))
    val evalShingles = evalDocs
      .select(graft.functions.WordShingles.wordShingles(col("text"), n).as("shingle"))
      .distinct()
    docShingles
      .join(broadcast(evalShingles), Seq("shingle"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
  }

  /** Decontamination GOVERNANCE row: per-group contamination counts and
    * rates instead of the filtered corpus — "which sources leak eval data,
    * and how badly" is the question a pipeline owner asks before deciding
    * what to drop. Same n-gram (n = 5)/broadcast discipline as [[decontaminate]]
    * (the eval side broadcasts, the corpus side never shuffles before the
    * group-sized aggregate).
    */
  def contaminationReport(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val contaminated = contaminatedIds(docs, evalDocs, 5)
      .withColumn("__contaminated", lit(1L))
    docs.join(contaminated, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__contaminated"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination_rate",
        col("n_contaminated").cast("double") / col("n_docs"))
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s scale path when the
    * eval suite itself is large. The exact probe must broadcast every
    * distinct eval shingle; here the eval grams compress into a `2^mBits`-bit
    * bloom bitset (fixed size NO MATTER how many eval grams), and the corpus
    * probe is one map-side native kernel
    * ([[graft.functions.BloomCountContaminatedExpr]]) that walks each
    * document's n-gram windows and drops docs with any fully-set probe —
    * ZERO corpus-side shuffles before the final filter projection.
    *
    * Bloom semantics are one-sided: every truly contaminated document is
    * dropped, plus a deterministic false-positive fringe (rate
    * ≈ (set_bits / 2^mBits)^4 with 4 hashes — size mBits for the eval-gram
    * volume). The hash schedule is the engine-portable md5-prefix
    * double-hash ([[graft.functions.BloomProbe.positionsCol]]), so the
    * DuckDB oracle reproduces survivors — false positives included —
    * bit-for-bit; survivors are always a SUBSET of [[decontaminate]]'s.
    *
    * The build side stays distributed (positions computed per eval gram in
    * expressions, OR-folded to bitset words engine-side); the driver
    * materializes only the 2^mBits/64 bitset words regardless of eval size.
    */
  def bloomDecontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 13,
                         mBits: Int = 22): DataFrame =
    applyBloomFilter(docs, buildBloom(evalDocs, n, mBits))

  /** THE bloom probe predicate — drop every document with any fully-set
    * `bloom.n`-gram probe. One copy, shared by [[bloomDecontaminate]] and
    * the streaming twin
    * [[graft.streaming.StreamingIngest.streamingDecontaminate]]; the gram
    * size travels INSIDE the bitset, so a build/probe mismatch cannot be
    * expressed.
    */
  def applyBloomFilter(docs: DataFrame, bloom: graft.functions.BloomBits): DataFrame =
    docs.filter(
      graft.functions.BloomProbe.countContaminatedCol(col("text"), bloom) === 0)

  /** Build the eval-gram bloom bitset — the reusable half of
    * [[bloomDecontaminate]] (a long-lived bitset serves every batch run AND
    * [[graft.streaming.StreamingIngest.streamingDecontaminate]] micro-batch
    * without rebuilding). Positions are computed per eval gram in
    * expressions (distributed), then OR-folded into 64-bit bitset words
    * executor-side (one map-combinable bit_or aggregate on the word index),
    * so the driver materializes at most 2^mBits/64 (word, bits) rows — the
    * footprint of the bitset itself, never a per-position Array[Long]
    * (which at mBits=30 would be up to 64x the bitset it builds).
    */
  def buildBloom(evalDocs: DataFrame, n: Int = 13, mBits: Int = 22): graft.functions.BloomBits = {
    val numHashes = 4
    val words = evalDocs
      .select(graft.functions.WordShingles.wordShingles(col("text"), n).as("gram"))
      .select(explode(graft.functions.BloomProbe.positionsCol(
        col("gram"), mBits, numHashes)).as("pos"))
      .select(shiftright(col("pos"), 6).cast("int").as("w"),
        expr("shiftleft(1L, cast(pos % 64 AS int))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))
      .collect()
    val bits = new Array[Long](1 << (mBits - 6).max(0))
    words.foreach { r =>
      val w = r.getInt(0)
      require(w >= 0 && w < bits.length,
        s"bloom word index out of range for mBits=$mBits: $w")
      bits(w) |= r.getLong(1)
    }
    new graft.functions.BloomBits(bits, n, mBits, numHashes)
  }

  /** Chunk-granular global dedup (the C4-style rule at fixed word windows):
    * split every document into non-overlapping `chunkTokens`-word chunks,
    * keep only the GLOBAL first occurrence of each distinct chunk text
    * (ordered by (doc_id, chunk_id) — deterministic on any partitioning),
    * and reassemble. Emits per document: `n_chunks`, `n_kept`, and
    * `text_kept` (surviving chunks rejoined in order; empty string when
    * every chunk was seen earlier). Boilerplate-heavy corpora (headers,
    * license blocks, navigation chrome) dedup at this granularity where
    * whole-document hashing sees distinct texts.
    *
    * Scale shape: TWO shuffles — one window partition on the 128-bit chunk
    * digest (uniform by construction; the per-digest group is the
    * duplication count of that chunk, bounded by `maxBucket`-style
    * dup-density, and row_number streams it), one per-doc rollup. No UDFs;
    * the chunker is the shared [[TextStats.chunkDocuments]] generator.
    */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 20): DataFrame = {
    val chunks = TextStats.chunkDocuments(docs, chunkTokens, overlap = 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("chunk_text")))
      .orderBy(col("doc_id"), col("chunk_id"))
    chunks
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("chunk_id"), col("chunk_text"))))),
            s => s.getField("chunk_text")),
          " ").as("text_kept"))
  }

  /** ExactSubstr-style duplicated-span removal (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 — the suffix-array
    * criterion re-expressed at k-gram granularity): any word `spanTokens`-gram
    * occurring >= 2 times ANYWHERE in the corpus (across documents or repeated
    * within one) marks its k word positions as duplicated; overlapping and
    * adjacent marks merge into maximal spans, which are dropped from the kept
    * text. Returns one row per document:
    * (doc_id, n_words, dup_words, n_dup_spans, dup_fraction, text_kept).
    *
    * Differs from [[chunkDedup]] (C4-style) in granularity and alignment:
    * chunk dedup keeps the FIRST occurrence of fixed, stride-aligned chunks,
    * while span removal drops EVERY occurrence of any duplicated window at
    * any offset — the ExactSubstr finding is that removing all copies of
    * duplicated text beats keeping one.
    *
    * Scale shape: gram frequency is one map-combinable aggregate on uniform
    * md5 keys and the gram->frequency join shuffles on the same keys; the
    * duplicated-start table is |duplicated positions| << corpus tokens when
    * duplication is rare, so the per-position join is corpus x small;
    * coverage and span merging are two chained window passes over ONE
    * (doc, pos) exchange — per-doc state is bounded by document length. Cost
    * is linear in total tokens + duplicated positions; the global sort of
    * every corpus position that a true suffix array needs never happens.
    */
  def removeDuplicateSpans(docs: DataFrame, spanTokens: Int = 10): DataFrame = {
    val flagged = coveredPositions(docs, spanTokens)
    flagged.groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("covered")).cast("long").as("dup_words"),
        sum(col("span_start")).cast("long").as("n_dup_spans"),
        (sum(col("covered")).cast("double") / count(lit(1))).as("dup_fraction"),
        array_join(
          transform(
            array_sort(collect_list(when(col("covered") === 0, struct(col("pos"), col("word"))))),
            s => s.getField("word")),
          " ").as("text_kept"))
  }

  /** Shared duplicated-position marking for the ExactSubstr family
    * ([[removeDuplicateSpans]], [[duplicateSpanExtents]]): one row per
    * (doc `id`, `pos`, `word`) with `covered` (∈ some duplicated k-gram)
    * and `span_start` (covered with an uncovered predecessor) flags.
    *
    * Null text folds to "" so the doc still yields its output rows (the
    * "one row per document" contract of removeDuplicateSpans): posexplode
    * of a null array would silently drop the document from the result. A
    * null ID, by contrast, FAILS: the (id, pos) join would silently drop
    * its duplicate marks (SQL equality never matches null) while groupBy
    * merged every null-id doc into one garbled row — wrong output with no
    * error, so reject it map-side instead (one branch per row, no extra
    * job).
    */
  private def coveredPositions(docs: DataFrame, spanTokens: Int,
                               dupGramsOverride: Option[DataFrame] = None): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2: got $spanTokens")
    val k = spanTokens
    // the error text is deliberately CALLER-INDEPENDENT: the three batch
    // span ops build this exact subtree over the same corpus frame, and an
    // op-specific literal here would defeat the CacheManager plan match
    // that lets one persisted marking pass serve all of them (the
    // d3/BM25 shared-store pattern — see PipelineQueries.coveredSpansShared)
    val id = when(col("doc_id").isNull, raise_error(lit(
      s"span dedup: null doc_id — span dedup needs non-null document ids")))
      .otherwise(col("doc_id"))
    val text = coalesce(col("text"), lit(""))
    val wp = docs.select(id.as("id"),
      posexplode(split(text, " ")).as(Seq("pos", "word")))
    val grams = docs.select(id.as("id"),
        graft.functions.WordShingles.wordShinglesWithPos(text, k).as(Seq("pos", "gram")))
      .withColumn("gram", md5(col("gram"))) // fixed-width uniform shuffle key
    // the duplicated-gram set normally derives from `docs` itself; a
    // caller maintaining gram counts INCREMENTALLY (the streaming twin —
    // occurrence counts are additive across disjoint doc batches) passes
    // its converged (gram) frame instead
    // the override's gram set is deduplicated HERE (round-14 ADVICE): the
    // internal path is distinct by construction (groupBy), but an override
    // frame carrying duplicate gram rows would multiply dupStarts (id, pos)
    // rows through the join below and silently corrupt every count downstream
    val dupGrams = dupGramsOverride.map(_.select(col("gram")).distinct()).getOrElse(
      grams.groupBy("gram").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
        .select(col("gram")))
    val dupStarts = grams.join(dupGrams, Seq("gram"))
      .select(col("id"), col("pos"), lit(1).as("dup"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("pos")
    // a position is covered iff some duplicated gram STARTS within the k-1
    // positions before it (or at it); positions are dense ints, so the range
    // frame is exact. Span starts = covered with an uncovered predecessor.
    wp.join(dupStarts, Seq("id", "pos"), "left")
      .withColumn("covered",
        coalesce(max(col("dup")).over(byDoc.rangeBetween(-(k - 1), 0)), lit(0)))
      .withColumn("span_start",
        when(col("covered") === 1 &&
          coalesce(lag(col("covered"), 1).over(byDoc), lit(0)) === 0, 1).otherwise(0))
  }

  /** The duplicated-position marking frame, exposed so a multi-tier span
    * dedup pass can persist ONE marking run for every span op:
    * [[removeDuplicateSpans]], [[duplicateSpanExtents]] and
    * [[spanSurvivorCut]] each build this IDENTICAL subtree internally, and
    * Spark's CacheManager plan match serves all of them from one persisted
    * copy (the d3/BM25 shared-store pattern). Spans are 8 tokens.
    */
  def spanCoveredPositions(docs: DataFrame): DataFrame =
    coveredPositions(docs, 8)

  /** ARBITRARY-LENGTH exact substring dedup — the suffix-array/LCP tier of
    * the dedup matrix (Lee et al. 2022's ExactSubstr criterion), realized
    * distributed: enumerate, for every document, each MAXIMAL token span
    * (length ≥ `spanTokens`, unbounded above) whose every position lies in
    * some corpus-duplicated `spanTokens`-gram. The union of corpus-repeated
    * substrings of length ≥ L equals the union of duplicated L-gram windows
    * (every length-≥L repeat contains only repeated L-windows, and every
    * position of a repeat sits inside one), so maximal runs of covered
    * positions ARE the maximal repeated-substring extents — computed with
    * sorted k-gram groups + run extension, never a driver suffix array.
    *
    * One output row per maximal span: (doc_id, span_pos_first, span_pos_last,
    * span_len, n_same_span, span_hash, span_text) where `n_same_span`
    * counts how many maximal spans corpus-wide share this exact text
    * (verbatim cross-doc repeats cluster; mosaic spans — unions of
    * different overlapping repeats — may be unique as wholes and report 1)
    * and `span_hash` = md5 of the FULL span text — the span's identity.
    *
    * `maxSpanTextTokens` bounds the CARRIED text (round-14 verdict #4): a
    * fully-duplicated book-length document is ONE maximal span, and
    * materializing its whole text as a single output string — then
    * shuffling that string through the same-text window — is the one
    * data-sized string this operator could emit. Under a cap, `span_text`
    * carries only the first `maxSpanTextTokens` tokens (display/audit
    * payload) while `span_hash` is ALWAYS the full-span md5 (computed
    * transiently inside the projection, 32 hex chars out), and
    * `n_same_span` counts on the hash — so capping changes no count, only
    * how much text rides along. Default = uncapped (the d23 registry
    * contract, where spans are fixture-sized).
    *
    * [[removeDuplicateSpans]] (d10) aggregates the same marking into
    * per-doc keep/cut stats; this operator materializes the spans
    * THEMSELVES — the "what exactly repeats, where, and how often"
    * deliverable a pretraining-dedup audit needs before cutting.
    *
    * Scale shape: identical to removeDuplicateSpans up to the marking
    * (map-combinable gram counts on md5 keys, corpus × small join against
    * duplicated grams, two window passes over ONE (doc, pos) exchange);
    * the island aggregation groups on (doc, span_id) — riding the same
    * per-doc partitioning — and emits |duplicated spans| rows ≪ corpus
    * tokens, so the final same-text window runs on the small span frame
    * keyed by fixed-width md5. The per-doc windows (and the island
    * collect_list buffer) imply ONE task per document whose state is
    * bounded by that document's length — the operator parallelizes across
    * documents, never within one; a corpus whose single longest document
    * exceeds executor memory needs a chunked pre-split upstream, which is
    * the same bound the marking passes already carry.
    */
  def duplicateSpanExtents(docs: DataFrame, spanTokens: Int = 10,
                           dupGrams: Option[DataFrame] = None,
                           maxSpanTextTokens: Int = Int.MaxValue): DataFrame = {
    require(maxSpanTextTokens >= 1,
      s"maxSpanTextTokens must be >= 1: got $maxSpanTextTokens")
    val flagged = coveredPositions(docs, spanTokens, dupGrams)
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("pos")
    val spans = flagged
      .withColumn("span_id", sum(col("span_start")).over(byDoc))
      .filter(col("covered") === 1)
      .groupBy(col("id"), col("span_id"))
      .agg(
        min(col("pos")).cast("long").as("span_pos_first"),
        max(col("pos")).cast("long").as("span_pos_last"),
        count(lit(1)).as("span_len"),
        transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word")).as("__ws"))
      // full-span hash ALWAYS; carried text capped. The full concatenation
      // exists only transiently inside this projection (md5's argument) —
      // it is never a shuffled or windowed column.
      .select(col("id"), col("span_pos_first"), col("span_pos_last"),
        col("span_len"),
        md5(array_join(col("__ws"), " ")).as("span_hash"),
        array_join(slice(col("__ws"), 1, maxSpanTextTokens), " ").as("span_text"))
    val bySpanHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("span_hash"))
    spans
      .withColumn("n_same_span", count(lit(1)).over(bySpanHash))
      .select(col("id").as("doc_id"), col("span_pos_first"), col("span_pos_last"),
        col("span_len"), col("n_same_span"), col("span_hash"), col("span_text"))
  }

  /** Span-level KEEP-ONE-SURVIVOR cut — the production ExactSubstr policy
    * (Lee et al., ACL 2022 §4.1: of each duplicated substring keep one
    * occurrence so the corpus retains the content once, rather than
    * [[removeDuplicateSpans]]' drop-every-copy): for each cluster of
    * identical maximal duplicated extents ([[duplicateSpanExtents]]'
    * span_hash), the occurrence in the LOWEST (doc id, span_pos_first)
    * holder survives and every other occurrence is cut from its document;
    * mosaic spans that are unique as wholes are their own survivor and
    * stay untouched. One row per document — cut or not:
    * (doc_id, n_words, cut_words, n_cut_spans, text_kept).
    *
    * Scale shape: ONE marking pass (shared [[coveredPositions]] chain —
    * gram counts on md5 keys, corpus × small duplicated-gram join, window
    * passes on the per-doc exchange); span extents + full-span hashes ride
    * the same per-doc grouping; survivor ranking is a window over the
    * SPAN frame (|duplicated spans| rows ≪ corpus tokens) keyed by
    * fixed-width md5; the cut is re-marked with boundary deltas (+1 at a
    * cut span's first position, −1 past its last, running sum per doc —
    * maximal spans are disjoint and non-adjacent by construction, so the
    * running sum is 0/1) joined back on (doc, pos) — never a pair join,
    * never a driver structure.
    */
  def spanSurvivorCut(docs: DataFrame, spanTokens: Int = 10): DataFrame = {
    val flagged = coveredPositions(docs, spanTokens)
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("pos")
    val spans = flagged
      .withColumn("span_id", sum(col("span_start")).over(byDoc))
      .filter(col("covered") === 1)
      .groupBy(col("id"), col("span_id"))
      .agg(
        min(col("pos")).as("first"),
        max(col("pos")).as("last"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            s => s.getField("word")),
          " ")).as("span_hash"))
    // survivor = rank 1 in (doc id, first-position) order within each
    // identical-text cluster; everything ranked below it gets cut
    val bySpanHash = org.apache.spark.sql.expressions.Window
      .partitionBy("span_hash").orderBy(col("id"), col("first"))
    val cuts = spans
      .withColumn("rk", row_number().over(bySpanHash))
      .filter(col("rk") > 1)
      .select(col("id"), col("first"), col("last"))
    val deltas = cuts.select(col("id"), col("first").as("pos"), lit(1L).as("delta"))
      .unionByName(cuts.select(col("id"), (col("last") + 1).as("pos"),
        lit(-1L).as("delta")))
      .groupBy("id", "pos").agg(sum(col("delta")).as("delta"))
    val marked = flagged.select(col("id"), col("pos"), col("word"))
      .join(deltas, Seq("id", "pos"), "left")
      .withColumn("cut",
        when(sum(coalesce(col("delta"), lit(0L))).over(byDoc) > 0, 1).otherwise(0))
      .withColumn("cut_start",
        when(col("cut") === 1 &&
          coalesce(lag(col("cut"), 1).over(byDoc), lit(0)) === 0, 1).otherwise(0))
    marked.groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("cut")).cast("long").as("cut_words"),
        sum(col("cut_start")).cast("long").as("n_cut_spans"),
        array_join(
          transform(
            array_sort(collect_list(when(col("cut") === 0,
              struct(col("pos"), col("word"))))),
            s => s.getField("word")),
          " ").as("text_kept"))
  }

  /** (gram, cnt) occurrence counts of a doc batch under the IDENTICAL gram
    * definition [[coveredPositions]] uses (md5 of positional word
    * k-shingles over null-folded text) — the additive state of the
    * streaming substring-dedup twin: occurrence counts over disjoint doc
    * batches SUM to the corpus counts, so the converged store's
    * `cnt >= 2` grams equal the batch-derived duplicated-gram set exactly.
    */
  def spanGramCounts(docs: DataFrame, spanTokens: Int): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2: got $spanTokens")
    val id = when(col("doc_id").isNull, raise_error(lit(
      s"spanGramCounts: null doc_id — span dedup needs non-null document ids")))
      .otherwise(col("doc_id"))
    val text = coalesce(col("text"), lit(""))
    docs.select(id.as("id"),
        graft.functions.WordShingles.wordShinglesWithPos(text, spanTokens)
          .as(Seq("pos", "gram")))
      .select(md5(col("gram")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
  }

  /** Edit-distance verification tier over candidate pairs: fetch both texts
    * by id and score each pair with banded Levenshtein. The third dedup
    * verification tier alongside exact Jaccard ([[jaccardPairs]]) and the
    * MinHash estimate ([[estimateJaccard]]) — character-level, so it catches
    * small in-word edits (typos, entity swaps, template fills) that word
    * n-gram Jaccard either misses or over-penalizes.
    *
    * The bound maxDist = 6 is the scale control: Spark's 3-arg `levenshtein`
    * runs the band-limited DP (O(maxDist·len) per pair, not O(len²)) and
    * returns -1 above the bound — at a 100 TB corpus unbounded edit distance
    * on a false-positive candidate pair (two unrelated 100 KB docs) is the
    * cost bomb, and a verifier only needs "≤ maxDist or not". `edit_sim`
    * (1 − dist/max(len)) is NULL on capped pairs: unknowable is not 0.
    *
    * Shape: candidate pairs are sketch-bounded (LSH band width), corpus-
    * scale only in the id columns — two equi-joins against the doc table on
    * its id (co-partitioned if the corpus is bucketed by id; AQE broadcasts
    * the pair side when it is small). The texts never pair-shuffle more than
    * the candidate set itself.
    */
  def editVerify(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    pairs.select("id_a", "id_b")
      .join(d.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(d.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b"), 6).as("edit_dist"),
        length(col("text_a")).as("len_a"), length(col("text_b")).as("len_b"))
      .withColumn("edit_sim",
        when(col("edit_dist") >= 0,
          lit(1.0) - col("edit_dist") / greatest(col("len_a"), col("len_b"), lit(1))))
      .select("id_a", "id_b", "edit_dist", "len_a", "len_b", "edit_sim")
  }

  /** Transposition-aware edit verify: the [[editVerify]] companion scoring
    * candidate pairs with BOTH plain Levenshtein and the unrestricted
    * Damerau-Levenshtein ([[graft.functions.DamerauLevenshteinExpr]],
    * native code-point DP) — `lev_dist - dl_dist` is exactly the credit the
    * pair gets for swapped-adjacent content (word-order typos, OCR swaps),
    * the class of near-duplicate plain edit distance over-penalizes. All
    * integer outputs; like every verify tier, candidate pairs ONLY — the
    * O(n·m) kernel must never meet corpus × corpus.
    */
  def damerauVerify(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    pairs.select("id_a", "id_b")
      .join(d.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(d.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.DamerauLevenshtein
          .damerauLevenshtein(col("text_a"), col("text_b")).as("dl_dist"),
        levenshtein(col("text_a"), col("text_b")).as("lev_dist"),
        length(col("text_a")).as("len_a"), length(col("text_b")).as("len_b"))
  }

  /** Sketch-quality measurement: how well a candidate pair set (e.g.
    * [[lshCandidates]]) covers a ground-truth pair set (e.g. [[jaccardPairs]]
    * at the target threshold). One governance row — n_truth, n_candidates,
    * n_hits, precision, recall — the number a pipeline owner tunes
    * bands/rows against before spending the verify tier's compute.
    *
    * Both inputs are pair tables (id_a < id_b convention), sketch-bounded —
    * tiny next to the corpus; the full outer join on the pair key and the
    * single global count run on candidate-sized data. Ratios are
    * exact-integer-in, so the doubles hash-match any engine.
    */
  def lshQuality(truthPairs: DataFrame, candidatePairs: DataFrame): DataFrame = {
    val t = truthPairs.select(col("id_a"), col("id_b"), lit(1L).as("in_truth"))
    val c = candidatePairs.select(col("id_a"), col("id_b"), lit(1L).as("in_cand"))
    t.join(c, Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum("in_truth").cast("long").as("n_truth"),
        sum("in_cand").cast("long").as("n_candidates"),
        sum(col("in_truth") * col("in_cand")).cast("long").as("n_hits"))
      .select(col("n_truth"), col("n_candidates"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_candidates")).as("precision"),
        (col("n_hits").cast("double") / col("n_truth")).as("recall"))
  }

  /** SimHash: `bits`-bit signature from word tokens (weight = term count).
    * Bit b of a token = bit (b mod 4) of hex digit (b div 4) of md5(token);
    * the signature bit is 1 iff the weighted sum of (2*bit-1) is positive.
    * Everything is integer arithmetic — portable and exact.
    *
    * ONE native mergeable aggregate over raw token occurrences
    * ([[graft.functions.SimHashAgg]] — per-occurrence ±1 sums equal the
    * weighted form by linearity), replacing the original two-aggregation
    * plan (per-(id, token) weight groupBy + `bits` interpreted hex-digit
    * SUM chains): map-side combine ships one `bits`-long vector per doc
    * per partition, and md5 runs once per occurrence.
    */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    require(bits <= 32 && bits % 4 == 0, "bits must be a multiple of 4, <= 32")
    docs
      .select(col("doc_id").as("id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("id")
      .agg(graft.functions.SimHashAgg.simhash(col("token"), bits).as("simhash"))
  }

  /** LSH-banded SimHash near-duplicate pairs — the text twin of
    * [[graft.llm.Multimodal.aHashNearDupPairs]] and the pair-GENERATOR the
    * [[simhash]] signature was built for: two documents whose simhashes
    * differ in at most `maxHamming` bits are near-duplicate candidates
    * (boilerplate edits, word swaps), and banding finds them WITHOUT the
    * quadratic all-pairs scan — a pair within Hamming distance d < nBands
    * must agree exactly on at least one of the nBands bit-bands
    * (pigeonhole), so candidates = equi-join on (band, value).
    * Completeness is guaranteed for maxHamming < nBands, never sampled.
    *
    * Scale shape (100 TB): the signature is ONE map-combinable token
    * groupBy ([[simhash]]); banding explodes ×nBands; candidates come from
    * a bucket equi-join. Buckets above `maxBucket` are DROPPED WHOLE (the
    * maxDF/maxBucket discipline — a degenerate band value, e.g. the near-
    * zero band of very short documents, fans out quadratically and carries
    * no selectivity). The exact full-hash Hamming verify on every candidate
    * means banding never inflates the result.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 2, maxBucket: Int = 64): DataFrame = {
    val bits = 32
    val nBands = 4
    require(maxHamming < nBands,
      s"completeness needs maxHamming < nBands: $maxHamming >= $nBands")
    val bandBits = bits / nBands
    val hashed = simhash(docs, bits)
    val bands = hashed.select(col("id"), col("simhash"), explode(array(
        (0 until nBands).map(b => struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1)).as("v"))): _*)).as("bv"))
      .select(col("id"), col("simhash"), col("bv.band"), col("bv.v"))
    val ok = bands.groupBy("band", "v").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket).select("band", "v")
    val gated = bands.join(ok, Seq("band", "v"))
    val pairs = gated.select(col("band"), col("v"),
        col("id").as("id_a"), col("simhash").as("ha"))
      .join(gated.select(col("band"), col("v"),
        col("id").as("id_b"), col("simhash").as("hb")), Seq("band", "v"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ha", "hb").distinct()
    pairs.select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
