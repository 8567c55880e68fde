package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ⇄ Expression conversions for the
  * graft engine's native expressions — the conventional pattern for Spark
  * extension libraries (Spark 4 routes Column through ColumnNode, so the
  * pre-4.x `new Column(expr)` constructor no longer exists publicly).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Bridge rebuilding a DataFrame around its own compiled `InternalRow` RDD
  * with NO inherited statistics. `Dataset.localCheckpoint`/`checkpoint`
  * preserve the ORIGIN plan's stats inside the resulting `LogicalRDD`
  * (useful for one-shot caching, catastrophic for iterative loops): a
  * fixpoint round that joins the checkpointed frame squares its
  * `sizeInBytes` estimate, so the DIGIT COUNT of the stat doubles per
  * round — by round ~25 the driver spends minutes inside
  * `BigInteger.multiply` in `SizeInBytesOnlyStatsPlanVisitor` (measured:
  * digits 6→14→30→62→125→252 over six rounds of the SCC propagation
  * shape). Dropping the origin stats resets the estimate to
  * `defaultSizeInBytes` each round; AQE re-plans joins from RUNTIME sizes
  * anyway, so compile-time accuracy is not load-bearing inside the loops
  * that use this.
  */
object GraftStatsReset {
  def dropOriginStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.logicalPlan match {
      case rdd: execution.LogicalRDD =>
        classic.Dataset.ofRows(ds.sparkSession,
          rdd.copy()(ds.sparkSession, originStats = None, originConstraints = None))
      case _ => df
    }
  }
}

/** Bridge dropping the blocks of a truncated frame's RDD through the
  * context, as the ContextCleaner does for an unreachable RDD: the RDD
  * leaves `getPersistentRDDs` at once and its blocks are removed
  * asynchronously (waiting for the removal measured slower on g_scc's
  * hundreds of per-round releases). `RDD.unpersist` does the same but logs
  * a lineage warning for every local checkpoint, which the iterative
  * operators release once per round.
  */
object GraftCheckpointBlocks {
  def drop(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
