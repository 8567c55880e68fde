package graft.queries

import org.apache.spark.sql.SparkSession

/** Cross-entry shared stores: one artifact — a persisted frame, a set of
  * checkpoint-backed frames, a staged parquet dir — that several registry
  * entries read, built ONCE per (session, store key) by whichever caller
  * asks first. There are no warm hooks: under the sequential Bench/Verify
  * loop the first consumer in battery order pays the build inside its own
  * timed window, and [[materializers]] names that entry in the bench record
  * (`sharedStores`), so the reuse and its cost are both explicit.
  *
  * Keyed by SESSION because most stores are localCheckpoint- or
  * CacheManager-backed: a store built under a stopped session's context
  * would throw (or bind to the wrong session) if a later session in the
  * same JVM reused it. Keys of stopped sessions are evicted on every
  * access, so a dead entry never pins its session's checkpoint RDDs for
  * the JVM lifetime; a new session rebuilds.
  */
object SharedStores {

  /** The registry entry whose plan is currently being constructed — bound
    * by [[graft.SparkEntry.queries]]'s wrapper, inherited by the threads
    * (streaming executions) an entry starts.
    */
  val currentEntry = new scala.util.DynamicVariable[String]("")

  /** store name → the entry whose call built the live copy of the store
    * (bench_out.json `sharedStores`). A rebuild in a new session overwrites
    * the name, so the map always describes the stores actually in use.
    */
  val materializers = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** store name → wall seconds of the build that [[materializers]] names
    * (bench_out.json `sharedStoreSeconds`). Inclusive: a build that asks
    * for another store not yet built (minhash signatures read the
    * shingles) counts that nested build in both stores. A store that is
    * a lazily persisted frame (the shingles) records only its plan
    * construction: the frame is computed and cached by the first action
    * that reads it. A build that throws records nothing.
    */
  val buildSeconds = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** The [[currentEntry]] label of [[stageInputs]]' builds. */
  val InputStaging = "_input_staging"

  // The map holds cells, not values: a store's build may ask for another
  // store (minhash signatures read the shingles), and a ConcurrentHashMap
  // must not be updated from inside its own computeIfAbsent. The cell's
  // lazy val runs the build outside the map, once; a build that throws
  // drops its cell, so the next caller builds (and is named) afresh.
  private final class Cell(build: () => AnyRef) { lazy val value: AnyRef = build() }
  private val cells = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Cell]()

  /** The store `name` over input `d` for session `s`, built by `build` on
    * the first call and returned as-is on every later one.
    */
  def apply[T <: AnyRef](s: SparkSession, name: String, d: String)(build: => T): T = {
    cells.keySet().removeIf(_._1.sparkContext.isStopped)
    val key = (s, s"$name@$d")
    val entry = currentEntry.value
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => {
      val t0 = System.nanoTime()
      val v = build
      buildSeconds.put(name, (System.nanoTime() - t0) / 1e9)
      materializers.put(name, entry)
      v
    }))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** Stage the streaming twins' two-batch replay inputs (the events,
    * lineitem, documents, orders and embeddings splits) before the timed
    * battery when any `stream_` entry is among `selected`. This is input
    * preparation — a scan, a cut and a parquet write per source table that
    * belongs to no operator — recorded under [[InputStaging]]; every other
    * store is paid by its first consumer.
    */
  def stageInputs(s: SparkSession, d: String, selected: Iterable[String]): Unit =
    if (selected.exists(_.startsWith("stream_")))
      currentEntry.withValue(InputStaging)(StreamingQueries.stageReplayInputs(s, d))
}
