package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage truncation for the engine's iterative operators
  * ([[ConnectedComponents.components]], [[GraphTraversal.bfsLevels]],
  * [[GraphTraversal.pageRank]], [[GraphTraversal.triangleCounts]],
  * [[graft.llm.Bpe.trainMerges]], [[graft.llm.Similarity.semanticDedup]],
  * [[graft.llm.Dedup.removeNearDuplicates]]).
  *
  * Why this exists: every iterative operator MUST truncate lineage per
  * round (otherwise the logical plan doubles each iteration and the driver,
  * not the data, becomes the bottleneck), but the two ways to truncate have
  * opposite failure modes at cluster scale:
  *
  *  - `df.localCheckpoint` writes blocks to executor-local storage — fast,
  *    no distributed FS round trip, but the blocks DIE WITH THEIR EXECUTOR.
  *    One lost executor mid-loop kills the whole CC/PageRank/BFS/BPE job
  *    unrecoverably. Right for `local[]` mode and short loops on stable
  *    clusters.
  *  - `df.checkpoint` writes the materialized rows to the fault-tolerant FS
  *    configured via `spark.sparkContext.setCheckpointDir(...)` — an
  *    executor loss recomputes only from the last checkpoint, never from
  *    the start of the loop. Right for multi-executor clusters at 100 TB,
  *    where the probability of losing at least one executor during an
  *    O(log² n)- or 32k-round loop approaches 1.
  *
  * The policy is read per frame from the session, never passed in: a
  * reliable checkpoint when the session has a checkpoint directory, a local
  * one otherwise. So `local[]` runs stay local, and a cluster job opts into
  * fault tolerance with the one line Spark users already know
  * (`sc.setCheckpointDir("hdfs://…/checkpoints")`).
  */
object Checkpointer {

  /** Materialize `df` eagerly and return a frame whose plan is the
    * materialized result (lineage truncated).
    */
  def apply(df: DataFrame): DataFrame = truncate(df, eager = true)

  /** LAZY variant: lineage still truncates at this frame, but
    * materialization happens inside the caller's NEXT action over ALL
    * partitions — one driver job per round instead of two (measured ~60 ms
    * of fixed driver latency per job on the iterative fixpoints,
    * PLANS.md round 13). ONLY safe when (a) an all-partition action on
    * the returned frame runs BEFORE any `release` of its inputs (a lazy
    * frame re-reads its inputs at materialization; releasing a
    * truncated-lineage input first would lose data unrecoverably), and
    * (b) nothing depends on the materialization's timing.
    */
  def lazily(df: DataFrame): DataFrame = truncate(df, eager = false)

  /** Release per-round state superseded by the next iteration. For a local
    * checkpoint this unpersists the executor blocks — without it up to
    * `iterations` edge/vocabulary-scale copies pin non-evictable block
    * storage for the life of the session (the cross-query contamination
    * class). A reliable checkpoint's data lives in checkpoint FILES, not
    * block storage; the files are removed by the ContextCleaner when the
    * backing RDD is garbage-collected (set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`) or by the
    * application's own checkpoint-dir lifecycle — `unpersist` still drops
    * any blocks the materialization cached, so it is the right action in
    * both modes.
    */
  def release(df: DataFrame): Unit = { df.unpersist(); () }

  /** Checkpoints PRESERVE the origin plan's statistics inside the
    * resulting LogicalRDD — useful one-shot, catastrophic in fixpoint
    * loops: every round's join SQUARES the inherited sizeInBytes, so its
    * digit count doubles per round and by round ~25 the driver spends
    * minutes inside BigInteger.multiply in the stats visitor (measured,
    * round 13 — the latent failure mode was masked by low round counts
    * until pointer-jumped SCC propagation added a second join per
    * round). Every truncation therefore drops origin stats; AQE re-plans
    * joins from runtime sizes, so compile-time accuracy is not
    * load-bearing in these loops.
    */
  private def truncate(df: DataFrame, eager: Boolean): DataFrame = {
    val cut =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
      else df.localCheckpoint(eager)
    org.apache.spark.sql.GraftStatsReset.dropOriginStats(cut)
  }
}
