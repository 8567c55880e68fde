package graft

import graft.ops.SkewOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew handling: salted join equivalence, skew diagnostics, and AQE's
  * skew-join splitting on a hub-heavy key distribution (the CL_0000000
  * pattern from SURVEY §7.5).
  */
class SkewOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bloomPrunedJoin equals the plain join even when false positives are dense") {
    val rnd = new scala.util.Random(47)
    val large = (0 until 2000).map(i => (rnd.nextInt(500).toLong, i.toLong))
      .toDF("k", "payload")
    val small = (0 until 500).map(_.toLong).filter(_ % 13 == 0)
      .map(k => (k, s"v$k")).toDF("k", "v")
    val want = large.join(small, Seq("k")).select("k", "payload", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    // mBits=6 → 64-bit bloom for ~39 keys: false positives are guaranteed,
    // the join must drop every one of them
    for (mBits <- Seq(6, 16)) {
      val got = graft.ops.SkewOps.bloomPrunedJoin(large, small, "k", mBits = mBits)
        .select("k", "payload", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
      assert(got.toSeq == want.toSeq, s"mBits=$mBits")
    }
  }

  // hub-skewed edges: 80% of rows hit one key
  private lazy val skewed = spark.range(0, 50000)
    .select(when(col("id") % 5 =!= 0, lit(0L)).otherwise(col("id")).as("key"),
      col("id").as("payload"))
  private lazy val dim = (0L until 50000L by 5).toDF("key")
    .withColumn("label", concat(lit("k"), col("key")))

  test("salted join equals plain join") {
    val plain = skewed.join(dim, Seq("key"))
    val salted = SkewOps.saltedJoin(skewed, dim, Seq("key"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain.select(salted.columns.toIndexedSeq.map(col): _*)).isEmpty)
  }

  test("AQE splits skewed sort-merge join partitions") {
    // lower AQE thresholds so the tiny local dataset triggers the skew path
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val wide = skewed.withColumn("pad", concat(lit("x"), col("payload")))
      val j = wide.join(dim, Seq("key"))
      // NB: must execute THIS DataFrame's own QueryExecution (a write.save
      // creates a fresh one) so the AdaptiveSparkPlan string is the final plan
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected AQE skew split in plan:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }
}
