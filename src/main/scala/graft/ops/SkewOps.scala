package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hub-heavy joins (SURVEY §7.5: upper-ontology terms
  * like CL_0000000 appear as object in a large share of subClassOf edges).
  *
  * First line of defense is AQE's skew-join splitting (on by default, zero
  * code). This module is the documented fallback for cases AQE cannot split
  * (e.g. a build side that must broadcast partially, or pre-AQE shuffles):
  * classic key salting — replicate the small side `saltFactor` times, salt
  * the large side uniformly, join on (key, salt).
  */
object SkewOps {

  /** Equi-join `large ⋈ small` on `keys` with salting: the large side gets a
    * uniform random-free salt (hash of all columns mod factor — deterministic,
    * no RNG state), the small side is replicated once per salt value. Result
    * equals the plain inner join, but the shuffle spreads each hot key over
    * `saltFactor` = 8 reducers.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String]): DataFrame = {
    val saltFactor = 8
    val salted = large.withColumn("__salt",
      pmod(xxhash64(large.columns.map(col).toIndexedSeq: _*), lit(saltFactor)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** Bloom-pre-filtered equi-join — the shuffle-reduction companion to
    * salting: when `small` matches only a sliver of `large`, the plain
    * shuffle join still moves EVERY large row. Here the small side's keys
    * compress to a fixed 2^mBits bloom bitset (built distributed, driver
    * holds only the bitset words) probed MAP-SIDE by the native codegen
    * kernel, so non-matching large rows die before the exchange. False
    * positives pass the filter and are dropped by the join itself, so the
    * result EQUALS the plain inner join for any mBits — the bloom only
    * tunes how much shuffle is saved (Spark's own runtime bloom filter
    * does this for eligible plans; this is the explicit operator form that
    * works on any frame, e.g. post-transform keys the optimizer can't
    * see through). Keys are probed as strings; they must not contain
    * spaces (the n=1 gram walk would split them).
    */
  def bloomPrunedJoin(large: DataFrame, small: DataFrame, key: String,
                      mBits: Int = 20): DataFrame = {
    val bloom = graft.llm.Dedup.buildBloom(
      small.select(col(key).cast("string").as("text")),
      n = 1, mBits = mBits)
    large
      .filter(graft.functions.BloomProbe.countContaminatedCol(
        col(key).cast("string"), bloom) > 0)
      .join(small, Seq(key))
  }

  /** Round-robin redistribution to the default parallelism, for two jobs.
    *
    * Input spread: the testdata parquet files have a SINGLE row group, so
    * Spark cannot split them and every scan is one task. For queries whose
    * pre-shuffle stage is CPU-heavy (shingle/token explodes, hashing, the
    * vtuple parse), redistribute the (tiny) input first; the exchange also
    * becomes the shared materialization point reused by self-join
    * branches. On a real cluster the input would already arrive in
    * thousands of splits and this is a near-no-op relative to the
    * downstream work.
    *
    * Sort fence: `orderBy` plans as a range exchange, and a range exchange
    * computes its partition bounds by SAMPLING its child — a separate job
    * that executes the child subtree once, before the real output pass
    * executes it AGAIN (profiled r16: j9's 32M-pair Jaro-Winkler scoring and m_png's
    * ImageIO decode each ran twice, 2 × ~6 s jobs per entry). Under AQE
    * every exchange is a materialized query stage, so inserting a
    * round-robin exchange here makes the sampling and the output pass both
    * READ the materialized rows instead of recomputing the subtree — the
    * guide's "materialize an intermediate to truncate the plan" move
    * (optimization guide §3.3), paid with one shuffle of the RESULT rows
    * (already the small end of these plans). Results are bit-identical:
    * same rows, and the caller's orderBy still imposes the total order.
    *
    * Use when the subtree above the final orderBy is the expensive part;
    * pointless (one wasted small exchange) when the sort input is already
    * a materialized exchange/aggregate output.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** One-row key-skew report over `user_id`: exact median/p99/max of the
    * per-key row-count distribution via the cumulative-HISTOGRAM shape (the
    * s15 registry entry's machinery, shared with Dedup.dfSkewStats). The
    * only window runs on the count histogram — bounded by #distinct counts
    * = O(√rows) — never on the data-sized key table.
    */
  def keySkewReport(df: DataFrame): DataFrame = {
    val counts = df.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val summary = counts.groupBy("cnt").agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("cnt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = summary.withColumn("cum", sum(col("freq")).over(w))
    val totals = summary.agg(sum(col("freq")).as("n_keys"),
      max(col("cnt")).as("max_cnt"))
    cum.crossJoin(broadcast(totals))
      .agg(max(col("n_keys")).as("n_keys"),
        max(col("max_cnt")).as("max_cnt"),
        min(when(col("cum") * 2 >= col("n_keys"), col("cnt"))).as("median_cnt"),
        min(when(col("cum") * 100 >= col("n_keys") * 99, col("cnt"))).as("p99_cnt"))
  }
}
