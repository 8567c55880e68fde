package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact order statistics WITHOUT a global sort — the selection-at-scale
  * primitive behind t_exact_median_nosort and t_equiheight_deciles.
  *
  * Plan shape: (1) ONE map-combinable value-bucket histogram scan (the
  * only full pass; its shuffle moves ≤ one row per (partition, bucket));
  * (2) a driver-side cumulative walk over the bucket summary — bounded by
  * the value range / bucketWidth, NOT the row count — locating the
  * (bucket, in-bucket offset) of every requested rank; (3) ONE filtered
  * scan of just the boundary buckets, ranked by a bucket-partitioned
  * window (partitions are bucket-sized) and joined to the broadcast probe
  * set. A global orderBy would range-shuffle every row; this moves
  * ~|ranks|/buckets of them.
  */
object Selection {

  /** Values at 1-based ranks of column `c` (a LONG column). `ranksOf`
    * receives the exact row count (read off the histogram summary — no
    * separate count scan) and returns the wanted ranks ascending, so
    * callers can ask for quantile ranks ("ceil(i·n/10)") without a second
    * pass. Returns (rank, value) rows. The bucket width (4096) trades driver
    * summary size against boundary-bucket scan size.
    *
    * PRECONDITION (guarded, not assumed): the driver summary is bounded by
    * the number of NON-EMPTY buckets, which is value-range/4096 only
    * for clustered domains. On a sparse wide domain (hashes, epoch-micros)
    * non-empty buckets approach the distinct-value count and the collect
    * would be data-sized — the summary is therefore capped at 2^18
    * buckets and the call FAILS LOUDLY past it (pre-map the domain)
    * instead of silently pulling data to the driver.
    */
  def valuesAtRanks(spark: SparkSession, df: DataFrame, ranksOf: Long => Seq[Long]): DataFrame = {
    val bucketWidth = 4096L
    val maxBuckets = 1 << 18
    val vals = df.select(col("c").as("__v"))
    val hist = vals.groupBy(expr(s"__v div $bucketWidth").as("b"))
      .agg(count(lit(1)).as("bn"))
      .orderBy("b").limit(maxBuckets + 1).collect() // bucket-count-sized summary
    require(hist.length <= maxBuckets,
      s"valuesAtRanks: more than $maxBuckets non-empty value buckets at " +
        s"bucketWidth=$bucketWidth — sparse wide domain; raise bucketWidth " +
        "so the driver summary stays bounded")
    val n = hist.map(_.getLong(1)).sum
    val ranks = ranksOf(n)
    require(ranks.nonEmpty && ranks == ranks.sorted,
      "ranks must be non-empty and ascending")
    require(ranks.last <= n && ranks.head >= 1L,
      s"ranks must lie in [1, $n], got [${ranks.head}, ${ranks.last}]")
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var cum = 0L
    var hi = 0
    for (k <- ranks) {
      while (hi < hist.length && cum + hist(hi).getLong(1) < k) {
        cum += hist(hi).getLong(1); hi += 1
      }
      probes += ((k, hist(hi).getLong(0), k - cum)) // (rank, bucket, offset)
    }
    val probeDf = spark.createDataFrame(probes.toSeq).toDF("rank", "b", "off")
    val wanted: Seq[Long] = probes.map(_._2).distinct.toSeq
    vals.filter(expr(s"__v div $bucketWidth").isin(wanted: _*))
      .withColumn("b", expr(s"__v div $bucketWidth"))
      .withColumn("rn", row_number().over(Window.partitionBy("b").orderBy("__v")))
      .join(broadcast(probeDf), Seq("b"))
      .filter(col("rn") === col("off"))
      .select(col("rank"), col("__v").as("value"))
  }
}
