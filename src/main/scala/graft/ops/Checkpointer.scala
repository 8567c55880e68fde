package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Lineage truncation and the round driver for the engine's iterative
  * operators. Every round loop runs through [[iterate]] (a declared number
  * of rounds) or [[untilStable]] (a fixpoint with a round budget), which
  * own the per-round policy: truncate the new state, materialize it, only
  * then release the state it supersedes, and stop on the operator's
  * condition. An operator supplies its round step and nothing else.
  *
  * Why truncation exists: every iterative operator MUST truncate lineage
  * per round (otherwise the logical plan doubles each iteration and the
  * driver, not the data, becomes the bottleneck), but the two ways to
  * truncate have opposite failure modes at cluster scale:
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
    * (b) nothing depends on the materialization's timing. [[untilStable]]
    * keeps (a) by construction: its fingerprint is that action.
    */
  def lazily(df: DataFrame): DataFrame = truncate(df, eager = false)

  /** Release state superseded by the next iteration. A local checkpoint's
    * blocks belong to the RDD behind the frame's `LogicalRDD`, which
    * `Dataset.unpersist` does not reach (it only drops CacheManager
    * entries), so that RDD is unpersisted directly — without it up to
    * `iterations` edge/vocabulary-scale copies pin non-evictable block
    * storage until the garbage collector happens to reclaim the RDD (the
    * cross-query contamination class). A reliable checkpoint's data lives
    * in checkpoint FILES, not block storage; the files are removed by the
    * ContextCleaner when the backing RDD is garbage-collected (set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`) or by the
    * application's own checkpoint-dir lifecycle. Any other frame is
    * unpersisted from the CacheManager. Only a checkpoint's own frame
    * frees its blocks: a frame derived from it (a `select` over it) does
    * not, so releasing a derived frame never drops state another frame
    * still reads.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => org.apache.spark.sql.GraftCheckpointBlocks.drop(r.rdd)
    case _ => df.unpersist(); ()
  }

  /** Up to `rounds` rounds from `init`: round r (1-based) replaces the
    * state by `step(state, r)`, checkpointed eagerly, and then releases the
    * state it superseded (`init` included). The loop ends early after a
    * round whose `settled(previous, next)` holds (evaluated while both are
    * live), or when a step returns its input unchanged (nothing to
    * truncate). Returns the last state, which the caller owns.
    */
  def iterate(init: DataFrame, rounds: Int, settled: (DataFrame, DataFrame) => Boolean)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    drive(init, rounds, eager = true, settled)(step)._1

  /** Runs `step` from `init` until the state stops changing — its
    * fingerprint (row count plus an order-insensitive hash sum over every
    * column) equals the previous state's — or the state is empty, and
    * throws `IllegalStateException(failure)` when `maxRounds` steps do not
    * get there (never a silently partial result). Each step's state is
    * checkpointed eagerly or lazily (`eager`); a lazy one is materialized
    * by its fingerprint, which runs before the superseded state is
    * released. `init` is fingerprinted once, before the first step.
    */
  def untilStable(init: DataFrame, maxRounds: Int, eager: Boolean, failure: => String)(
      step: DataFrame => DataFrame): DataFrame = {
    var last = fingerprint(init)
    if (last._1 == 0L) return init
    val (out, stable) = drive(init, maxRounds, eager, { (_, next) =>
      val fp = fingerprint(next)
      val same = fp == last || fp._1 == 0L
      last = fp
      same
    })((s, _) => step(s))
    if (!stable) {
      release(out)
      throw new IllegalStateException(failure)
    }
    out
  }

  /** The one round loop: (last state, whether it ended on its condition
    * rather than on the round budget).
    */
  private def drive(init: DataFrame, maxRounds: Int, eager: Boolean,
                    settled: (DataFrame, DataFrame) => Boolean)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    var cur = init
    var r = 0
    var done = false
    while (!done && r < maxRounds) {
      r += 1
      val stepped = step(cur, r)
      if (stepped eq cur) done = true
      else {
        val next = truncate(stepped, eager)
        done = settled(cur, next)
        release(cur)
        cur = next
      }
    }
    (cur, done)
  }

  /** (row count, order-insensitive hash sum) over every column — one
    * aggregate action. The fold is a decimal sum: a long sum of 64-bit
    * hashes overflows (an error under ANSI mode, the Spark 4 default), and
    * xor-folds lose the multiplicity signal.
    */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(df.columns.toSeq.map(col): _*).cast(DecimalType(38, 0))),
          lit(0)))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

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
