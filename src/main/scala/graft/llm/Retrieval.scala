package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid-retrieval composition: fuse independently-produced rankings
  * (lexical BM25, dense ANN, ...) into one result list. The modern RAG /
  * training-data-curation retrieval shape: each retriever runs in its own
  * best execution plan (inverted-index lexical scan, bucketed ANN), and only
  * the top-k lists — bounded by construction — meet.
  */
object Retrieval {

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09): fused score =
    * Σ_lists 1/(c + rank) with c = 60, absent-from-list contributes 0.
    * Input rankings are (doc_id, rank) tables; `name` labels each list's rank column in the
    * output (`rank_<name>`, NULL when the doc is missing from that list).
    *
    * The per-list term is materialized in exact integer micro-units
    * (round(1e6/(c+rank))) and the fusion is an integer SUM — addition-order
    * independent and portable to any engine, unlike a float Σ whose value
    * depends on aggregation order. At RRF's scale (rank ≤ 1000, c = 60) the
    * micro-unit grid is ~10⁴ finer than adjacent-rank score gaps, so the
    * rounding never reorders distinct true scores; ties break on id.
    *
    * Scale shape: inputs are top-k lists (k rows each), so the full-outer
    * join chain and the final sort run on ≤ Σ k rows no matter the corpus.
    * The one window is unpartitioned BY DESIGN — its input is list-bounded,
    * and that bound is ENFORCED per row ([[graft.ops.Bounded.guard]] on
    * every input rank ≤ `maxListLen`): a caller that passes a corpus-sized
    * "ranking" fails loudly instead of silently single-partitioning it.
    */
  def rrfFuse(rankings: Seq[(String, DataFrame)], k: Int, maxListLen: Int = 100000): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(rankings.map(_._1).distinct.size == rankings.size,
      "rrfFuse: ranking names must be unique")
    require(maxListLen >= 1, s"rrfFuse: maxListLen must be positive: $maxListLen")
    def micro(rank: Column): Column =
      round(lit(1e6) / (lit(60) + rank)).cast("long")
    val sides = rankings.map { case (name, df) =>
      df.select(col("doc_id"), col("rank").cast("int").as(s"rank_$name"))
    }
    val joined = sides.reduce(_.join(_, Seq("doc_id"), "full_outer"))
    val score = rankings.map { case (name, _) =>
      val r = col(s"rank_$name")
      graft.ops.Bounded.guard(
        coalesce(micro(r), lit(0L)),
        r.isNull || (r >= 1 && r <= maxListLen),
        s"rrfFuse: ranking '$name' has a rank outside [1, $maxListLen] — " +
          "input must be a bounded top-k list (raise maxListLen if intended)")
    }.reduce(_ + _)
    joined
      .withColumn("rrf_micro", score)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_micro").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("doc_id") +: col("rrf_micro") +: col("rank") +:
        rankings.map { case (name, _) => col(s"rank_$name") }: _*)
  }
}
