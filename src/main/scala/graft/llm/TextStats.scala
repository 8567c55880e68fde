package graft.llm

import graft.ops.Checkpointer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language identification, and document fingerprinting.
  * All arithmetic is exact (integer counts, integer-ratio doubles) so the
  * DuckDB oracle matches bit-for-bit.
  */
object TextStats {

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\.,;:!\\?'\"()\\[\\]{}-]"), lit(0)))

  /** Default stopword set for quality scoring (public, engine-internal). */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  /** Stopword token count against `words` (array column). */
  def stopwordCount(words: Column): Column =
    size(filter(words, w => Stopwords.map(s => w === s).reduce(_ || _)))

  /** Split documents into fixed-size overlapping word chunks — the standard
    * context-window preparation step (long docs become multiple training
    * examples; `overlap` preserves cross-boundary context). Emits
    * (doc_id, chunk_id 0-based, chunk_text) — other input columns are
    * dropped; join them back on doc_id when needed. The final chunk may be
    * short. Narrow map-side transform: the per-doc chunk fan-out is a
    * generator over a few window starts (not per-token work), so it chains
    * after filtering/dedup without adding a shuffle.
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): got $overlap of $chunkTokens")
    val stride = chunkTokens - overlap
    val words = split(col("text"), " ")
    // chunks cover every token: ceil((n - overlap) / stride), at least one
    val nChunks = greatest(lit(1),
      ceil((size(words) - lit(overlap)).cast("double") / stride).cast("int"))
    docs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(words, i * stride + 1, lit(chunkTokens)), " "))))
      .withColumnsRenamed(Map("pos" -> "chunk_id", "col" -> "chunk_text"))
  }

  /** Per-document quality stats: exact counts + integer-ratio doubles.
    * Columns appended: n_tokens, n_chars_m, avg_word_len, punct_ratio,
    * stopword_ratio, quality_score.
    */
  def qualityStats(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs
      .withColumn("n_tokens", size(words).cast("long"))
      .withColumn("n_chars_m", length(col("text")).cast("long"))
      .withColumn("avg_word_len",
        (col("n_chars_m") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("punct_ratio", punctCount(col("text")).cast("double") / col("n_chars_m"))
      .withColumn("stopword_ratio", stopwordCount(words).cast("double") / col("n_tokens"))
      // crude composite: long-enough docs with moderate punctuation score higher
      .withColumn("quality_score",
        when(col("n_tokens") >= 5, lit(1.0)).otherwise(lit(0.0))
          + when(col("punct_ratio") <= 0.2, lit(1.0)).otherwise(lit(0.0))
          + when(col("avg_word_len") >= 3.0 && col("avg_word_len") <= 12.0, lit(1.0)).otherwise(lit(0.0)))
  }

  /** Within-document repetition signals (Gopher-style quality filters:
    * heavily self-repeating documents are low-quality training data).
    * Emits per document: `n_words`, `dup_word_fraction`
    * (1 − distinct/total words), `top_bigram_count` and
    * `top_bigram_fraction` (most frequent word bigram's share of all
    * bigram occurrences; 0.0 for docs with < 2 words). All ratios are
    * exact integer divisions.
    *
    * Scale shape: word-level signals are pure map-side array expressions;
    * the bigram mode needs per-(doc, bigram) counts — ONE fine-grained
    * uniform shuffle on (id, bigram) plus the per-doc rollup, instead of a
    * quadratic per-doc HOF fold. Chains after any filter without driver
    * state.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val base = docs.select(col("doc_id"),
      size(words).cast("long").as("n_words"),
      size(array_distinct(words)).cast("long").as("n_distinct"))
    val bigramCounts = docs.select(col("doc_id"),
        graft.functions.WordShingles.wordShingles(col("text"), 2).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
    val top = bigramCounts.groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_count"), sum(col("c")).as("n_bigrams"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_words")).as("dup_word_fraction"),
        coalesce(col("top_bigram_count"), lit(0L)).as("top_bigram_count"),
        coalesce(col("top_bigram_count").cast("double") / col("n_bigrams"), lit(0.0))
          .as("top_bigram_fraction"))
  }

  /** Thresholds for [[qualityFilter]] — the Gopher-style rule set (word
    * count bounds, mean word length bounds, alphabetic-word floor, stopword
    * evidence, repetition ceilings). Defaults are scaled-down versions of
    * the published heuristics, tuned for short synthetic docs; production
    * corpora swap in the paper values (50–100k words, etc.).
    */
  final case class QualityThresholds(
      minTokens: Long = 5, maxTokens: Long = 100000,
      minAvgWordLen: Double = 3.0, maxAvgWordLen: Double = 12.0,
      minAlphaWordFraction: Double = 0.8,
      minDistinctStopwords: Long = 2,
      maxDupWordFraction: Double = 0.3,
      maxTopBigramFraction: Double = 0.2)

  /** Composite document-quality verdict (Gopher-style filtering): evaluates
    * every rule in [[QualityThresholds]] and emits per document the signals,
    * `fail_reasons` (comma-joined rule names in fixed order, empty when
    * clean) and `keep`. Documents are never dropped here — routing the
    * verdict (like the reference's deprecated-entity split) lets a pipeline
    * quarantine rejects for audit instead of silently discarding them.
    *
    * Scale shape: every signal except the top-bigram share is a map-side
    * array expression over one text scan; the bigram share needs ONE
    * fine-grained uniform (id, bigram) shuffle plus a per-doc rollup
    * (see [[repetitionStats]]). The final signals⋈repetition join is a
    * per-doc-table join — output bounded by input, planner keeps freedom.
    */
  def qualityFilter(docs: DataFrame, t: QualityThresholds = QualityThresholds()): DataFrame = {
    // NULL text must fail, not vacuously pass: a null signal makes every
    // rule comparison NULL, when(!NULL) skips the reason, and the doc would
    // sail through as "clean". Normalize to "" up front — an empty text then
    // fails too_short/word_len like any other junk row.
    val docsNn = docs.withColumn("text", coalesce(col("text"), lit("")))
    val words = split(col("text"), " ")
    val base = docsNn.select(
      col("doc_id"),
      size(words).cast("long").as("n_tokens"),
      ((length(col("text")) - (size(words) - 1)).cast("double") / size(words))
        .as("avg_word_len"),
      (size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / size(words))
        .as("alpha_word_fraction"),
      size(array_distinct(filter(words,
        w => Stopwords.map(s => w === s).reduce(_ || _)))).cast("long")
        .as("n_distinct_stopwords"))
    val joined = base.join(repetitionStats(docsNn)
      .select(col("doc_id"), col("dup_word_fraction"), col("top_bigram_fraction")), Seq("doc_id"))
    val rules: Seq[(String, Column)] = Seq(
      "too_short" -> (col("n_tokens") >= t.minTokens),
      "too_long" -> (col("n_tokens") <= t.maxTokens),
      "word_len" -> (col("avg_word_len") >= t.minAvgWordLen &&
        col("avg_word_len") <= t.maxAvgWordLen),
      "non_alpha" -> (col("alpha_word_fraction") >= t.minAlphaWordFraction),
      "no_stopwords" -> (col("n_distinct_stopwords") >= t.minDistinctStopwords),
      "dup_words" -> (col("dup_word_fraction") <= t.maxDupWordFraction),
      "rep_bigram" -> (col("top_bigram_fraction") <= t.maxTopBigramFraction))
    val reasons = array_compact(array(rules.map { case (name, pass) =>
      when(!pass, lit(name)).otherwise(lit(null).cast("string"))
    }: _*))
    joined
      .withColumn("fail_reasons", array_join(reasons, ","))
      .withColumn("keep", col("fail_reasons") === "")
  }

  /** PII redaction patterns — deliberately restricted to a regex subset
    * with identical semantics in Java regex (Spark codegen) and RE2
    * (DuckDB, Go tooling): no backreferences, no lookaround, explicit
    * character classes. Swap in stricter patterns per deployment; the
    * operator is the mechanism.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{7,15}"

  /** Scrub PII from text: emails → `<EMAIL>`, IPv4 addresses → `<IP>`,
    * international-format phone numbers → `<PHONE>`. Pure map-side codegen'd
    * `regexp_replace` chain — no shuffle, no UDF; safe to run inline in any
    * ingest pipeline. Email replacement runs FIRST so the host part of an
    * address is never re-matched as a bare IP.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of PII matches per kind, for redaction-rate monitoring. */
  def piiCounts(text: Column): (Column, Column, Column) =
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long"),
      size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).cast("long"),
      size(regexp_extract_all(text, lit(PhoneRe), lit(0))).cast("long"))

  /** Tiny built-in stopword profiles for language ID; the mechanism
    * (marker-hit scoring) is the operator.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "la", "y", "es", "los"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language-ID by stopword-marker scoring: the first language attaining
    * the maximum marker hit count wins; zero scores fall back to "und".
    *
    * Single pass over the token array: one `aggregate` folds all profile
    * counters at once (the naive per-profile `filter` recomputes the split
    * per language — lambda expressions are excluded from Spark's
    * subexpression elimination). The final argmax binds the folded counter
    * struct ONCE as a lambda variable via the `transform(array(x), f => …)`
    * let-binding idiom, again avoiding subtree duplication.
    */
  def langId(text: Column): Column = {
    val words = split(lower(text), " ")
    val zero = struct(LangProfiles.indices.map(i => lit(0).as(s"s$i")): _*)
    val folded = aggregate(words, zero, (a, w) =>
      struct(LangProfiles.zipWithIndex.map { case ((_, markers), i) =>
        (a.getField(s"s$i") +
          when(markers.map(m => w === m).reduce(_ || _), 1).otherwise(0)).as(s"s$i")
      }: _*))
    val pick = (f: Column) => {
      val scores = LangProfiles.indices.map(i => f.getField(s"s$i"))
      val maxScore = greatest(scores: _*)
      when(maxScore <= 0, "und").otherwise(
        LangProfiles.zipWithIndex.foldRight(lit("und")) { case (((lang, _), i), acc) =>
          when(scores(i) === maxScore, lang).otherwise(acc)
        })
    }
    element_at(transform(array(folded), f => pick(f)), 1)
  }

  /** Exact per-group quantiles of an integral measure (PERCENTILE_DISC
    * semantics: the smallest value whose cumulative count reaches
    * ceil(p·n)) — corpus length-distribution monitoring without sketches,
    * so any engine reproduces the numbers bit-for-bit (`a7_approx` stays
    * the only engine-specific aggregate).
    *
    * Scale shape: ONE map-combinable (group, value) count whose output is
    * bounded by groups × distinct values — for token counts that is
    * thousands, not corpus-sized — then the cumulative window runs over
    * that SUMMARY. Never a per-row global sort (the naive
    * percentile-by-sort is a total exchange of the corpus).
    * Quantile labels: p50 for 0.5 etc.; fractions must be in (0, 1] and
    * map to distinct labels.
    */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: Column,
                     ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantile fractions must be in (0,1]: $ps")
    // decimal-faithful labels: BigDecimal renders the double's shortest
    // decimal form, so 0.29 -> p29 (never p28 by double truncation) and
    // sub-percent fractions stay distinct — 0.999 -> p99_9, 0.001 -> p0_1
    // ('.' is not column-name-friendly; '_' stands in)
    val names = ps.map(p => "p" + (BigDecimal(p) * 100).bigDecimal
      .stripTrailingZeros.toPlainString.replace(".", "_"))
    require(names.distinct == names, s"quantile labels collide: $names")
    val counts = df.groupBy(col(groupCol), valueCol.as("v"))
      .agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val cum = counts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    val aggs = ps.zip(names).map { case (p, name) =>
      // the target rank ceil(p·n) in EXACT decimal arithmetic: the binary
      // double p*n overshoots for some fractions (0.07*100 =
      // 7.000000000000001 -> ceil lands one rank high, off-spec for the
      // documented PERCENTILE_DISC semantics). BigDecimal(p) renders the
      // double's shortest decimal form, and decimal x long stays exact —
      // matching DuckDB, whose bare numeric literals are DECIMAL already.
      min(when(col("cum") >= ceil(lit(BigDecimal(p)) * col("n")), col("v"))).as(name)
    }
    cum.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact per-group top-`k` most frequent tokens (vocabulary heavy
    * hitters) — corpus drift monitoring without CMS sketches, so the
    * numbers are engine-portable.
    *
    * Scale shape: per-(group, token) counts are ONE map-combinable
    * aggregate on uniform fine keys; the top-k then runs TWO-LEVEL — first
    * within (group, token-hash-bucket) partitions (each token's count is
    * complete inside its bucket, so any global top-k token is also
    * top-k in its bucket — no candidate is lost), then over the ≤
    * k·nBuckets survivors per group. A single per-group window would put
    * the whole vocabulary of a group through one reducer; the bucket level
    * keeps every partition small. The bucket hash is engine-local
    * (never part of the result). Ties break lexicographically.
    */
  def topTokens(docs: DataFrame, k: Int, nBuckets: Int = 64): DataFrame = {
    require(k > 0 && nBuckets > 0, s"k and nBuckets must be positive: $k, $nBuckets")
    groupedTopK(tokenCounts(docs), Seq(col("n").desc, col("token")), k, nBuckets)
      .select(col("source"), col("token"), col("n"), col("rank"))
  }

  /** Corpus-wide heavy hitters via the Misra-Gries sketch + exact recount:
    * tokens with true frequency strictly above N/k, with EXACT counts.
    *
    * Pass 1 aggregates a single ≤ k-counter
    * [[graft.functions.MisraGriesAggExpr]] sketch (plus the total N) —
    * bounded state per partition, one ≤ k-row driver artifact (the BPE
    * merge-table precedent), no vocabulary-sized shuffle. The sketch
    * guarantees every token with frequency > N/(k+1) is among its
    * candidates, and N/k > N/(k+1), so no true heavy hitter can be absent.
    * Pass 2 recounts ONLY the candidate tokens exactly (an `isin` literal
    * filter pushed to the scan — the shuffle carries ≤ k distinct keys) and
    * keeps `n·k > N`. The output is therefore deterministic and equal to
    * the exact GROUP-BY-HAVING answer even though the sketch's candidate
    * set depends on merge order.
    *
    * At 100 TB this replaces the full (token, count) aggregate — whose
    * shuffle is vocabulary-sized — with one k-counter summary per
    * partition; [[topTokens]] remains the exact-everything path.
    */
  def heavyHitters(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val tokens = docs
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
      .filter(col("token") =!= "")
    val head = tokens.agg(
      graft.functions.MisraGries.sketch(col("token"), k).as("cands"),
      count(lit(1)).as("n_total")).head()
    val cands: Seq[String] =
      head.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    val nTotal = head.getLong(1)
    candidateRecount(docs, cands, nTotal, k)
  }

  /** The exact-recount second pass of [[heavyHitters]], standalone so a
    * STREAMING sketch phase can reuse it: given the (merge-order-dependent)
    * candidate set and the exact corpus total from any Misra-Gries pass —
    * batch aggregate or micro-batch state-store merge, whose guarantees are
    * identical under the mergeable-summaries theorem — recount only the
    * ≤ k candidates exactly and keep `n·k > N`. Output equals the exact
    * GROUP-BY-HAVING answer whatever candidate set the sketch produced.
    */
  def candidateRecount(docs: DataFrame, cands: Seq[String], nTotal: Long,
                       k: Int): DataFrame = {
    if (cands.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .select(lit("").as("token"), lit(0L).as("n"), lit(0L).as("n_total"))
        .limit(0)
    docs
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
      .filter(col("token") =!= "")
      .filter(col("token").isin(cands: _*))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .withColumn("n_total", lit(nTotal))
      .filter(col("n") * k > col("n_total"))
  }

  /** Per-(group, token) counts — the shared head of [[topTokens]] and
    * [[topKeywords]]. One uniform (group, token) shuffle.
    */
  private def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))

  /** Two-level per-group top-k over a scored summary: per-(group,
    * token-hash-bucket) pre-top-k bounds every window partition, then the
    * real rank runs on ≤ nBuckets·k rows per group — identical results to
    * the flat per-group window (any globally-top-k row is top-k in its own
    * bucket), but no fat-key reducer ever sorts a whole group's vocabulary.
    */
  private def groupedTopK(scored: DataFrame, order: Seq[Column], k: Int,
                          nBuckets: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    scored
      .withColumn("bkt", pmod(xxhash64(col("token")), lit(nBuckets)))
      .withColumn("r1", row_number().over(
        w.partitionBy(col("source"), col("bkt")).orderBy(order: _*)))
      .filter(col("r1") <= k)
      .withColumn("rank", row_number().over(
        w.partitionBy(col("source")).orderBy(order: _*)))
      .filter(col("rank") <= k)
  }

  /** Per-group CHARACTERISTIC terms — [[topTokens]] reweighted by the
    * cross-group odds-ratio idf `(2G − 2·gdf + 1)/(2·gdf + 1)`,
    * where gdf = how many groups contain the term and G = total group
    * count: a term every source uses ("the") scores near tf·10⁶/(2G),
    * while a term unique to one source keeps ~tf·10⁶·2G — the corpus-
    * governance view ("what is src7 actually full of?"). Same no-libm-log
    * exact-rational discipline as [[graft.ops.TextIndex.rankDocuments]]:
    * every factor an exact integer in a double, one left-associated IEEE
    * chain, round() to a long.
    *
    * Scale shape: the (group, token) count shuffle is shared with
    * [[topTokens]]; the group-frequency table derives from it (vocabulary-
    * sized, merge-hinted — the scorePairs mis-broadcast class); G is one
    * scalar; the top-k is the same two-level window.
    */
  def topKeywords(docs: DataFrame, k: Int, nBuckets: Int = 64): DataFrame = {
    require(k > 0 && nBuckets > 0, s"k and nBuckets must be positive: $k, $nBuckets")
    // vocabulary-sized result over the corpus-scale tokenize — materialize
    // once (the unigramSurprisal ref-table precedent): it feeds both the
    // group-frequency aggregate and the scored join, and AQE exchange reuse
    // across those consumers is not guaranteed. Local checkpoint blocks
    // live until the returned frame is GC'd, so a long-lived session that
    // calls this repeatedly should prefer a configured checkpoint dir
    // (reliable checkpoints: files, not blocks)
    val counts = Checkpointer(tokenCounts(docs))
    val gdf = counts.groupBy(col("token")).agg(count(lit(1)).as("gdf"))
    val g = docs.agg(count_distinct(col("source")).as("n_groups"))
    val score = round(col("n").cast("double")
      * (lit(2) * col("n_groups") - lit(2) * col("gdf") + 1).cast("double")
      * lit(1000000L).cast("double") / (lit(2) * col("gdf") + 1).cast("double")).cast("long")
    val scored = counts.join(gdf.hint("merge"), Seq("token"))
      .crossJoin(broadcast(g))
      .withColumn("score", score)
    groupedTopK(scored, Seq(col("score").desc, col("token")), k, nBuckets)
      .select(col("source"), col("token"), col("n"), col("score"), col("rank"))
  }

  /** Unigram-LM surprisal scoring (the CCNet-style "how unlike the
    * reference corpus is this document" quality signal) in EXACT integer
    * arithmetic. Each token's surprisal is the integer
    * floor(log2((N+V)/(count+1))) — add-one smoothed, so out-of-vocabulary
    * tokens get the maximum finite cost — computed as
    * `length(bin(a div b)) - 1`, which equals floor(log2(a/b)) for every
    * a ≥ b ≥ 1 (a/b ≥ 2^k ⟺ a div b ≥ 2^k, both directions by integer
    * monotonicity), so any engine with binary rendering reproduces it
    * bit-for-bit; per-document sum/count are exact longs and the mean is
    * one double division of exact integers. Bit-granular by design — the
    * portable surrogate of −log2 p (a float log would hang the oracle on
    * libm ulp luck, the [[graft.ops.TextIndex.rankDocuments]] lesson).
    *
    * Emits (doc_id, n_tokens, sum_surprisal, avg_surprisal) for EVERY input
    * document — token-less docs (null/empty/whitespace text) score
    * (0, 0, null) rather than vanishing, so quality routing can
    * distinguish "unscoreable" from "lost" (the same routed-not-dropped
    * discipline as [[qualityFilter]]). Scale shape: one reference scan →
    * (token, count) vocabulary table, materialized ONCE (it feeds both the
    * totals aggregate and the token join — a vocabulary-sized result over
    * a corpus-scale subtree); one corpus scan → fine-grained token join
    * (vocabulary side is a candidate broadcast — left to the planner, it
    * is genuinely count-estimable) → per-doc map-combinable rollup.
    */
  def unigramSurprisal(docs: DataFrame, refDocs: DataFrame): DataFrame = {
    def tok(df: DataFrame) = df
      .select(col("doc_id"), explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
      .filter(col("token") =!= "")
    val ref = Checkpointer(tok(refDocs).groupBy("token").agg(count(lit(1)).as("cnt")))
    val tot = ref.agg(sum(col("cnt")).as("n_total"), count(lit(1)).as("v_size"))
    val scored = tok(docs)
      .join(ref, Seq("token"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("s",
        length(bin(expr("(n_total + v_size) div (coalesce(cnt, 0L) + 1)"))) - 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s")).cast("long").as("sum_surprisal"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_surprisal"), lit(0L)).as("sum_surprisal"),
        (col("sum_surprisal").cast("double") / col("n_tokens")).as("avg_surprisal"))
  }

  /** Conditional bigram-LM surprisal (the CCNet-style perplexity signal one
    * model order up from [[unigramSurprisal]]): train an add-one-smoothed
    * bigram model on `refDocs` and charge each document
    * `floor(log2((ctx(w_{i-1}) + V) / (cnt(w_{i-1} w_i) + 1)))` bits per
    * transition, where ctx = how often the left token starts a reference
    * bigram, cnt = the reference bigram count, and V = the reference's
    * distinct-unigram vocabulary (the add-one denominator). Same portable
    * bin()-length floor-log2 surrogate as [[unigramSurprisal]] — exact
    * integers end to end, so the oracle reproduces every score. Only
    * transitions are charged (docs with < 2 tokens score 0 transitions —
    * emitted, never dropped).
    *
    * Scale shape: ONE reference pass builds the bigram table (the corpus-
    * vocabulary-sized join side — this is the [[unigramSurprisal]] token
    * join one order up), from which the context table is a cheap second
    * aggregate and V one scalar; ONE corpus pass streams bigrams through
    * the shingle generator, joins the model on the bigram string
    * (fine-grained uniform keys), and rolls up per document map-combinably.
    * The left token of a window is `substring_index(g, ' ', 1)` — exact,
    * because a 2-field window is left||' '||right by construction.
    */
  def bigramSurprisal(docs: DataFrame, refDocs: DataFrame): DataFrame = {
    def bigrams(df: DataFrame, id: Column) = df.select(id.as("bsid"),
      graft.functions.WordShingles.wordShingles(col("text"), 2).as("g"))
    // corpus-vocabulary-sized result over a corpus-scale subtree,
    // feeding three consumers — materialize once (surprisal precedent)
    val refBig = Checkpointer(bigrams(refDocs, lit(0L)).groupBy("g")
      .agg(count(lit(1)).as("big_cnt")))
    val refCtx = refBig
      .select(substring_index(col("g"), " ", 1).as("l"), col("big_cnt"))
      .groupBy("l").agg(sum(col("big_cnt")).as("ctx_cnt"))
    val vocab = refDocs.select(
        graft.functions.WordShingles.wordShingles(col("text"), 1).as("t"))
      .agg(count_distinct(col("t")).as("v_size"))
    val scored = bigrams(docs, col("doc_id"))
      .join(refBig, Seq("g"), "left")
      .withColumn("l", substring_index(col("g"), " ", 1))
      .join(refCtx, Seq("l"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("s", length(bin(expr(
        "(coalesce(ctx_cnt, 0L) + v_size) div (coalesce(big_cnt, 0L) + 1)"))) - 1)
      .groupBy(col("bsid"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("s")).cast("long").as("sum_surprisal"))
    docs.select(col("doc_id")).join(scored, col("doc_id") === col("bsid"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_surprisal"), lit(0L)).as("sum_surprisal"),
        (col("sum_surprisal").cast("double") / col("n_bigrams")).as("avg_surprisal"))
  }

  /** CCNet's head/middle/tail routing: label every document by which
    * perplexity tercile its [[bigramSurprisal]] average falls in (head =
    * most reference-like third, tail = least; transition-less docs route to
    * 'unscored' — the routed-not-dropped discipline). Thresholds are
    * PERCENTILE_DISC values at exact integer ranks ceil(n/3) and
    * ceil(2n/3) — no float percentile arithmetic anywhere.
    *
    * Scale shape: a flat percentile is a global sort; instead scores
    * coarse-bucket by `floor(avg · 64)` (a bounded integer domain —
    * surprisal averages live in [0, ~64] bits), per-bucket counts make a
    * TINY summary whose running sum yields each bucket's base rank, and the
    * deterministic global rank = base + a row_number inside the
    * fine-grained (bucket) window — the [[Sampling.tokenBudgetMix]]
    * two-level discipline. The two threshold rows then broadcast back.
    */
  def perplexityBuckets(docs: DataFrame, refDocs: DataFrame): DataFrame = {
    val bucketScale = 64
    import org.apache.spark.sql.expressions.Window
    // doc-count-sized result over the corpus-scale scoring subtree; it
    // feeds the rank path twice (counts + ranked rows) and the output join
    val scored = Checkpointer(bigramSurprisal(docs, refDocs))
    val sc = scored.filter(col("n_bigrams") > 0)
      .withColumn("pb", floor(col("avg_surprisal") * bucketScale).cast("long"))
    // the unpartitioned running-sum window sees one row per DISTINCT coarse
    // bucket — a bounded integer domain, never the corpus. Enforced: bn is
    // the window's own input row count; surprisal averages live in
    // [0, ~64] bits so 128·bucketScale distinct buckets means the scoring
    // upstream broke, and the guard fails the query instead of letting a
    // corpus-sized frame silently single-partition here.
    val maxBuckets = 128L * bucketScale
    val offs = sc.groupBy("pb").agg(count(lit(1)).as("bucket_n"))
      .withColumn("base",
        coalesce(sum(col("bucket_n")).over(
          Window.orderBy(col("pb")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bn", row_number().over(Window.orderBy(col("pb"))))
      .withColumn("base", graft.ops.Bounded.guard(col("base"), col("bn") <= maxBuckets,
        s"perplexityBuckets: bucket summary exceeded $maxBuckets rows — " +
          "avg_surprisal left its expected [0, ~64]-bit domain"))
      .drop("bucket_n", "bn")
    val nTotal = sc.agg(count(lit(1)).as("nn"))
    val ranked = sc.join(broadcast(offs), Seq("pb"))
      .crossJoin(broadcast(nTotal))
      .withColumn("rn", col("base") + row_number().over(
        Window.partitionBy(col("pb")).orderBy(col("avg_surprisal"), col("doc_id"))))
    val thresholds = ranked
      .filter(col("rn") === expr("(nn + 2) div 3") ||
        col("rn") === expr("(2 * nn + 2) div 3"))
      .agg(min(col("avg_surprisal")).as("t1"), max(col("avg_surprisal")).as("t2"))
    scored.crossJoin(broadcast(thresholds))
      .withColumn("bucket",
        when(col("n_bigrams") === 0, lit("unscored"))
          .when(col("avg_surprisal") <= col("t1"), lit("head"))
          .when(col("avg_surprisal") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("t1", "t2")
  }

  /** Canonical content fingerprint: md5 of the sorted distinct word set —
    * invariant to word order and duplication, portable across engines.
    */
  def wordSetFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(text, " ")))))

  /** Karp–Rabin rolling hash of the whole string (base 257, mod 2^61-1)
    * and all-window hashes — the classic content-defined-chunking
    * primitive. The arithmetic lives in the native codegen expression
    * ([[graft.functions.RollingHash]] — the CDC/winnowing paths run it
    * over every character of the corpus, so it earned the promotion its
    * original UDF scaladoc promised); these delegates and the UDF forms
    * below remain as the reference implementation the equivalence specs
    * pin the expression against.
    */
  val Mod: Long = graft.functions.RollingHash.Mod
  val Base: Long = graft.functions.RollingHash.Base

  def rollingHash(s: String): Long = graft.functions.RollingHash.rollingHash(s)

  /** Content-defined chunk boundary statistics: a position is a boundary
    * when its `w`-char Karp–Rabin window hash matches the mask
    * (hash % 2^6 == 0) — the classic CDC primitive (expected chunk
    * length 2^6) that keeps chunk boundaries stable under inserts,
    * where fixed-width chunking ([[chunkDocuments]]) shifts every boundary
    * after an edit. Emits per document: `n_boundaries`, `first_boundary`
    * (1-based window start, NULL when none), and `n_chunks`
    * (= boundaries + 1). Deterministic integer arithmetic end to end —
    * the DuckDB oracle reproduces the mod-2^61−1 fold in HUGEINT.
    *
    * Scale shape: pure map-side (native codegen hash fold + array filter
    * per row, no generator blow-up, no shuffle beyond the final per-doc
    * projection); chains inline in any ingest pipeline.
    */
  def cdcBoundaryStats(docs: DataFrame, w: Int = 16): DataFrame = {
    require(w > 0, "window must be positive")
    val modulus = 1L << 6
    val hashes = graft.functions.RollingHash.windowHashesCol(
      coalesce(col("text"), lit("")), w)
    val bPos = filter(
      transform(hashes, (h, i) => when(h % modulus === 0, i + 1)),
      p => p.isNotNull)
    docs
      .withColumn("b", bPos)
      .select(col("doc_id"),
        size(col("b")).cast("long").as("n_boundaries"),
        array_min(col("b")).cast("long").as("first_boundary"),
        (size(col("b")) + 1).cast("long").as("n_chunks"))
  }

  /** Document-level word co-occurrence with exact-integer lift — phrase /
    * collocation mining ("which word pairs appear together far more than
    * chance"). PMI's log is monotone in lift, so ranking by integer lift IS
    * ranking by PMI without a cross-engine-fragile libm call:
    * `lift_micro = (n_ab · N · 10^6) div (n_a · n_b)` on document
    * frequencies (n_ab docs containing both, n_a/n_b each, N all).
    *
    * Scale shape: the pair space is capped BEFORE the self-join by a
    * document-frequency floor (`minDf`, scaled as max(5, N/50) so the same
    * operator is meaningful at any corpus size) — the vocab is a small
    * broadcast side, and the per-doc self-join fans out only over each
    * doc's vocab words (bounded by doc length), never the raw vocabulary.
    * One shuffle on doc id for the pair join, one on the pair for the
    * count; top-k is a TakeOrdered, not a global sort.
    */
  def cooccurrenceLift(docs: DataFrame, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be positive: $topK")
    val dw = docs.select(col("doc_id").as("id"),
        explode(array_distinct(split(coalesce(col("text"), lit("")), " "))).as("w"))
      .filter(col("w") =!= "")
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val vocab = dw.groupBy("w").agg(count(lit(1)).as("n_w"))
      .crossJoin(broadcast(nDocs))
      .filter(col("n_w") >= greatest(lit(5L), expr("n_docs div 50")))
      .select("w", "n_w")
    val dv = dw.join(broadcast(vocab.select("w")), Seq("w"))
    dv.as("a").join(dv.as("b"),
        col("a.id") === col("b.id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(vocab.select(col("w").as("w1"), col("n_w").as("n_a"))), Seq("w1"))
      .join(broadcast(vocab.select(col("w").as("w2"), col("n_w").as("n_b"))), Seq("w2"))
      .crossJoin(broadcast(nDocs))
      .withColumn("lift_micro", expr("n_ab * n_docs * 1000000 div (n_a * n_b)"))
      .select("w1", "w2", "n_ab", "n_a", "n_b", "lift_micro")
      .orderBy(col("n_ab").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** All rolling window hashes of length `w` over the string. */
  def windowHashes(s: String, w: Int): Array[Long] =
    graft.functions.RollingHash.windowHashes(s, w)

  val rollingHashUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => if (s == null) null else java.lang.Long.valueOf(rollingHash(s)))

  val windowHashesUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String, w: Int) => windowHashes(s, w))

  /** Hashed-feature LINEAR quality scorer — the fasttext-/CCNet-classifier
    * shape with the weights supplied: token → hash bucket → integer weight,
    * summed per document. The trained-model analog keeps exactly this
    * serving plan (hash, broadcast weight lookup, map-side sum); only the
    * weight vector changes, so scoring a 100 TB corpus is one codegen'd
    * scan with a partial-aggregating sum — no shuffle wider than the
    * per-document rollup.
    *
    * Hashing is the portable md5 discipline: bucket = value of the first
    * two md5 hex digits (ascii arithmetic — no engine-specific hex parse)
    * mod `weights.size`, so the DuckDB oracle reproduces every bucket
    * bit-for-bit. Weights are INTEGERS (exact, order-independent sum);
    * `mean_w` divides once at the end (exact-integer-in IEEE division,
    * identical across engines).
    *
    * Output: (id, n_tokens, score, mean_w).
    */
  def hashedLinearScore(docs: DataFrame, weights: Seq[Int]): DataFrame = {
    require(weights.nonEmpty, "hashedLinearScore: weights must be non-empty")
    def hexVal(c: Column): Column = {
      val a = ascii(c)
      a - 48 - when(a >= 97, 39).otherwise(0)
    }
    val toks = docs.select(col("doc_id").as("id"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val h = md5(col("tok"))
    val bucket = pmod(hexVal(substring(h, 1, 1)) * 16 + hexVal(substring(h, 2, 1)),
      lit(weights.size))
    val w = element_at(array(weights.map(lit): _*), bucket.cast("int") + 1)
    toks.select(col("id"), w.as("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("w")).as("score"))
      .withColumn("mean_w", col("score").cast("double") / col("n_tokens"))
  }

  /** T5-style span corruption, deterministically: token positions whose
    * md5(doc:pos) first hex digit falls below `maskHexDigits` (p =
    * maskHexDigits/16) are masked, consecutive masked positions coalesce
    * into spans (the islands trick: pos − row_number is constant within a
    * run), and each span is emitted with its ordinal sentinel id and its
    * ordered text. One doc-partitioned window pass + one grouped
    * aggregation; ordered span text via sort_array-of-structs (no
    * non-deterministic collect ordering).
    *
    * Output: (doc_id, span_id, start_pos, end_pos, n_tokens, span_text);
    * positions are 0-based token indices.
    */
  def spanCorruption(docs: DataFrame, maskHexDigits: Int = 3): DataFrame = {
    require(maskHexDigits >= 1 && maskHexDigits <= 15,
      "spanCorruption: maskHexDigits must be in [1, 15]")
    val hexSet = "0123456789abcdef".take(maskHexDigits).map(_.toString)
    val toks = docs.select(col("doc_id"),
        posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
      .withColumn("pos", col("pos").cast("long"))
    val masked = toks.filter(
      substring(md5(concat_ws(":", col("doc_id"), col("pos"))), 1, 1)
        .isin(hexSet: _*))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    masked.withColumn("gid", col("pos") - row_number().over(wd))
      .groupBy("doc_id", "gid")
      .agg(min(col("pos")).as("start_pos"), max(col("pos")).as("end_pos"),
        count(lit(1)).as("n_tokens"),
        array_join(transform(sort_array(collect_list(
          struct(col("pos"), col("token")))), x => x("token")), " ")
          .as("span_text"))
      .withColumn("span_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("start_pos")))
      .select("doc_id", "span_id", "start_pos", "end_pos", "n_tokens", "span_text")
  }
}
