package graft.llm

import graft.ops.Checkpointer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training — the vocabulary-construction step
  * of a tokenizer pipeline, run where the corpus lives instead of shipping
  * text to a separate trainer. Encoding with the learned rules is
  * [[graft.functions.BpeEncodeExpr]].
  *
  * Scale shape (the part that matters at 100 TB): the corpus is scanned
  * ONCE into a (word, count) frequency table — vocabulary-sized, millions
  * of rows at web scale, not corpus-sized — and every merge iteration runs
  * on that table alone: one map-combinable pair-count aggregate over the
  * vocabulary, one driver-side argmax of a tiny (pair, total) result, one
  * map-side merge rewrite — and with `maxBatch` > 1 each round applies a
  * provably sequence-preserving BATCH of merges (see [[trainMerges]]),
  * dividing the driver round-trips that dominate a 32k-merge training run.
  * Iteration state is checkpointed per round via
  * [[graft.ops.Checkpointer]] (vocabulary-sized — cheap; the same
  * lineage-truncation discipline as [[graft.ops.ConnectedComponents]];
  * reliable checkpoints once a checkpoint dir is configured — essential
  * here, since a 32k-merge training loop on a cluster WILL see an executor
  * loss).
  *
  * Determinism: ties on pair frequency break lexicographically on
  * (left, right), so the learned merge sequence is identical on any
  * engine, partitioning, or cluster size.
  */
object Bpe {

  /** The merge-application kernel: greedy left-to-right single-pass merge
    * of adjacent (left, right) into `left+right` — the classic BPE rewrite
    * ("aaa" under (a,a) merges the FIRST pair, yielding ["aa","a"]). A UDF
    * by necessity: the scan carries sequential state (a merged symbol may
    * not re-merge with the next element in the same round), which no
    * builtin array function expresses.
    */
  private[llm] def mergeOnce(symbols: Seq[String], left: String, right: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < symbols.length) {
      if (i + 1 < symbols.length && symbols(i) == left && symbols(i + 1) == right) {
        out += left + right
        i += 2
      } else {
        out += symbols(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Learn `numMerges` BPE merge rules from the corpus. Returns the rule
    * table (rank 0-based, left, right, merged, pair_count) in learned
    * order. Training stops early when no adjacent pair occurs twice.
    *
    * `maxBatch` > 1 applies up to that many merges per Spark round while
    * learning the EXACT same rule sequence as single-merge training (the
    * per-merge driver synchronization is the scaling bottleneck: a 32k-rule
    * vocabulary at one merge per round is 32k sequential Spark jobs).
    * Naive "take the top-K symbol-disjoint pairs" batching is NOT
    * sequence-preserving — applying (a,b) can create a pair like (ab,c)
    * that outranks the next disjoint candidate (corpus "x a b c d"×n:
    * after (a,b), (ab,c) ties (c,d) at n and wins the lexicographic
    * tie-break). The safe batch is the maximal PREFIX c₁..c_K of the
    * (total desc, left, right)-sorted candidate list such that each c_j is
    * symbol-disjoint from all earlier batch members (so its count is
    * provably unchanged — merging can only destroy adjacencies of touched
    * symbols, never create one between untouched symbols) AND t_j strictly
    * exceeds an upper bound on every pair the earlier merges can CREATE:
    * a created pair contains a merged symbol, and its count is at most the
    * count of some trigram containing the merged (l,r) as an adjacent
    * sub-pair — computed per candidate in one filtered trigram aggregate
    * per round. Under those two conditions the sequential trainer's argmax
    * at step j is exactly c_j (created pairs are bounded strictly below
    * t_j; untouched pairs outside the prefix sort after c_j and never
    * gain count), so the learned sequence is identical by induction.
    */
  def trainMerges(docs: DataFrame, numMerges: Int,
                  maxBatch: Int = 1): Seq[(Int, String, String, String, Long)] =
    trainMergesWithRounds(docs, numMerges, maxBatch)._1

  /** [[trainMerges]] plus the number of Spark rounds actually executed —
    * the batching observability surface (rounds < rules proves batching).
    */
  def trainMergesWithRounds(docs: DataFrame, numMerges: Int,
                            maxBatch: Int = 1): (Seq[(Int, String, String, String, Long)], Int) = {
    require(numMerges > 0, s"numMerges must be positive: $numMerges")
    require(maxBatch > 0, s"maxBatch must be positive: $maxBatch")
    // ONE corpus pass: word frequency table with initial per-char symbols
    val vocab0 = Checkpointer(docs
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(split(col("word"), "").as("symbols"), col("n")))
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 0
    var rounds = 0
    // every round learns at least one rule, so numMerges rounds suffice; a
    // round that learns none (all rules learned, or no pair occurs twice)
    // returns the vocabulary unchanged, which ends training
    val vocab = Checkpointer.iterate(vocab0, numMerges, (_, _) => false) { (vocab, _) =>
      // adjacent pair counts over the vocabulary, weighted by word frequency
      val want = math.min(maxBatch, numMerges - rank)
      lazy val top = vocab
        .select(posexplode(slice(col("symbols"), lit(1), size(col("symbols")) - 1))
            .as(Seq("i", "left")),
          col("symbols"), col("n"))
        .select(col("left"), element_at(col("symbols"), col("i") + 2).as("right"), col("n"))
        .groupBy("left", "right").agg(sum(col("n")).as("total"))
        .filter(col("total") >= 2)
        .orderBy(col("total").desc, col("left"), col("right"))
        .limit(want)
        .collect()
      if (want == 0 || top.isEmpty) vocab
      else {
        rounds += 1
        // per-candidate created-pair bound: max count of any trigram with
        // the candidate as adjacent sub-pair. Symbols never contain spaces
        // (words come from a split on " "), so a space-joined key is
        // collision-free. Skipped entirely in single-merge mode.
        val cands = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val newPairBound: Map[(String, String), Long] =
          if (cands.length < 2) Map.empty
          else {
            val keys = cands.map(c => c._1 + " " + c._2).toSeq
            val bound = scala.collection.mutable.Map.empty[(String, String), Long]
            vocab
              .select(posexplode(slice(col("symbols"), lit(1),
                  greatest(size(col("symbols")) - 2, lit(0)))).as(Seq("i", "a")),
                col("symbols"), col("n"))
              .select(col("a"), element_at(col("symbols"), col("i") + 2).as("b"),
                element_at(col("symbols"), col("i") + 3).as("c"), col("n"))
              .groupBy("a", "b", "c").agg(sum(col("n")).as("cnt"))
              .filter(concat_ws(" ", col("a"), col("b")).isInCollection(keys) ||
                concat_ws(" ", col("b"), col("c")).isInCollection(keys))
              .collect()
              .foreach { row =>
                val (a, b, c, cnt) = (row.getString(0), row.getString(1), row.getString(2), row.getLong(3))
                Seq((a, b), (b, c)).foreach { p =>
                  if (keys.contains(p._1 + " " + p._2))
                    bound(p) = math.max(bound.getOrElse(p, 0L), cnt)
                }
              }
            bound.toMap
          }
        // maximal safe prefix (stop at the first unsafe candidate — later
        // ones cannot be reordered past it)
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        var maxNew = 0L
        var open = true
        cands.foreach { case (l, r, t) =>
          if (open) {
            val disjoint = !used(l) && !used(r) && !used(l + r)
            if (batch.isEmpty || (disjoint && t > maxNew)) {
              batch += ((l, r, t))
              used ++= Seq(l, r, l + r)
              maxNew = math.max(maxNew, newPairBound.getOrElse((l, r), 0L))
            } else open = false
          }
        }
        batch.foreach { case (l, r, t) => rules += ((rank, l, r, l + r, t)); rank += 1 }
        // ONE rewrite pass applies the whole batch in learned order
        val batchRules = batch.map(b => (b._1, b._2)).toSeq
        val applyBatch = udf((symbols: Seq[String]) =>
          batchRules.foldLeft(symbols) { case (s, (l, r)) => mergeOnce(s, l, r) })
        vocab.withColumn("symbols", applyBatch(col("symbols")))
      }
    }
    Checkpointer.release(vocab)
    (rules.toSeq, rounds)
  }

  /** Learned rules (8 merges, at most 4 per batch) as a DataFrame — the
    * registry/bench surface. */
  def trainMergesDf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(docs, 8, 4)
      .toDF("rank", "left", "right", "merged", "pair_count")
  }
}
