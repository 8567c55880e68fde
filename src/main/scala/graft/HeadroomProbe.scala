package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1.0-scale HEADROOM data generator (round-13): amplify the sf0.1
  * corpus N× by key-offset replication and write a full table set the
  * normal `Bench --only` battery can run against — the cheapest way to
  * catch a scale cliff the sf0.1 bench cannot see (per-query scaling
  * exponents land in PLANS.md).
  *
  * Amplification rules:
  *  - every PK/FK pair offsets by the PARENT key's stride (max+1), so
  *    referential integrity and join selectivity are preserved — copy k
  *    is a disjoint, structurally identical shard;
  *  - entity name/text columns get a per-copy suffix: real 10× data has
  *    10× DISTINCT entities; byte-identical name copies would grow every
  *    blocking key 10× and measure pair detonation instead of the
  *    operator (the dedup family's duplicate-topology scaling was probed
  *    separately, with exact-vs-perturbed copy fractions controlled on
  *    purpose: PLANS.md, round 4, "measured 10× behavior");
  *  - timestamps are left unchanged: 10× events over the same span is a
  *    10× event RATE — watermarks, windows and session gaps see denser
  *    streams, which is the honest streaming scale-up;
  *  - `nation`/`region` stay fixed (catalog dimensions do not scale with
  *    SF, matching the TPC-H convention).
  *
  * Usage: runMain graft.HeadroomProbe <srcDir> <destDir> [mult=10]
  */
object HeadroomProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = args.drop(1).headOption.getOrElse(
      sys.error("usage: HeadroomProbe <srcDir> <destDir> [mult]"))
    val mult = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    // getOrCreate RETURNS an already-active session (e.g. the shared test
    // session when invoked from a spec) — remember whether this main owns
    // the session, and only stop what it created
    val hadActive = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).exists(!_.sparkContext.isStopped)
    val spark = graft.ops.SessionConf.localSession()

    def rd(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head().getLong(0) + 1L
    val copies = spark.range(mult).select(col("id").as("__copy"))
    // each output shard keeps the source's partition grain: crossJoin with
    // the tiny copies frame broadcast — no shuffle, mult× the scan tasks
    def amp(df: DataFrame)(f: (DataFrame, org.apache.spark.sql.Column) => DataFrame): DataFrame =
      f(df.crossJoin(broadcast(copies)), col("__copy")).drop("__copy")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"HEADROOM wrote $name")
    }

    val (cust, ord, part, supp) = (rd("customer"), rd("orders"), rd("part"), rd("supplier"))
    val (sc, so, sp, ss) = (stride(cust, "c_custkey"), stride(ord, "o_orderkey"),
      stride(part, "p_partkey"), stride(supp, "s_suppkey"))
    write(amp(cust) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + k * sc)
        .withColumn("c_name", concat(col("c_name"), lit("#"), k))
    }, "customer")
    write(amp(ord) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + k * so)
        .withColumn("o_custkey", col("o_custkey") + k * sc)
    }, "orders")
    write(amp(rd("lineitem")) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + k * so)
        .withColumn("l_partkey", col("l_partkey") + k * sp)
        .withColumn("l_suppkey", col("l_suppkey") + k * ss)
    }, "lineitem")
    write(amp(part) { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + k * sp)
        .withColumn("p_name", concat(col("p_name"), lit("#"), k))
    }, "part")
    write(amp(supp) { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + k * ss)
        .withColumn("s_name", concat(col("s_name"), lit("#"), k))
    }, "supplier")
    val ev = rd("events")
    val (se, su) = (stride(ev, "event_id"), stride(ev, "user_id"))
    write(amp(ev) { (d, k) =>
      d.withColumn("event_id", col("event_id") + k * se)
        .withColumn("user_id", col("user_id") + k * su)
    }, "events")
    val docs = rd("documents")
    val sd = stride(docs, "doc_id")
    write(amp(docs) { (d, k) =>
      d.withColumn("doc_id", col("doc_id") + k * sd)
        .withColumn("text",
          when(k === 0, col("text")).otherwise(concat(col("text"), lit(" hp"), k)))
        .withColumn("n_chars",
          when(k === 0, col("n_chars"))
            .otherwise(col("n_chars") + length(concat(lit(" hp"), k))))
    }, "documents")
    val emb = rd("embeddings")
    val sv = stride(emb, "vec_id")
    write(amp(emb) { (d, k) =>
      d.withColumn("vec_id", col("vec_id") + k * sv)
    }, "embeddings")
    write(rd("nation"), "nation")
    write(rd("region"), "region")
    println(s"HEADROOM done: $src x$mult -> $dest")
    if (!hadActive) spark.stop()
  }
}
