package graft.queries

import graft.ops.TemporalOps
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming operators as ORACLE-CHECKED registry entries: each query here
  * replays the driver's `events` table through a real Structured-Streaming
  * micro-batch execution (file source → stateful operator → memory sink)
  * and returns the sink contents, which the driver then hash-compares
  * against DuckDB SQL. This closes r7's gap where the streaming twins were
  * verified only by stream==batch specs — here the rows the oracle checks
  * came from actual micro-batch execution (state carried across batches,
  * watermarks advanced, sessions merged), not from the batch twin.
  *
  * All value sums go through exact integer micro-units before the stream
  * (a float SUM's value depends on aggregation order and would not
  * hash-match across engines — the ts_window_agg discipline).
  */
object StreamingQueries {

  import RelationalQueries.Entry

  /** memory-sink names must be unique per session (Bench, Verify and the
    * specs may each run every entry once in one JVM)
    */
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  // ---- shared twin harness ------------------------------------------------
  // Each twin pays fixed micro-batch machinery (staging writes, checkpoint
  // dirs, state-store init, two processAllAvailable rounds) that measured
  // 23% of the whole bench suite in r10. Three levers compress it without
  // touching any oracle: RAM-backed scratch, right-sized state partitions,
  // and staging the shared events replay once per corpus.

  /** Scratch space for replay mechanics (staging parquet, checkpoints,
    * state stores, foreachBatch stores): many-small-file IO on a disk-backed
    * tmpdir is the twins' dominant fixed cost, so prefer RAM-backed
    * /dev/shm when present, falling back to java.io.tmpdir. This is replay
    * plumbing, not the measured operator — on a real cluster checkpoints
    * live on reliable storage and their latency is amortized over real
    * batch intervals, not paid 2x per 3-second entry.
    */
  private def scratchDir(prefix: String): java.nio.file.Path =
    graft.ops.Scratch.dir(prefix)

  /** Run `body` (which starts AND stops its streaming query) with
    * spark.sql.shuffle.partitions = 8: every stateful streaming operator
    * keeps one state-store instance per shuffle partition, each writing
    * delta + snapshot files per micro-batch (a stream-stream join keeps
    * FOUR stores per partition), so at replay scale 32 partitions is pure
    * fixed file churn — 8 keeps the work parallel and cuts it 4x. The conf
    * is latched by the query AT START (StreamExecution clones the session
    * state), and is restored right after `body`, so batch plans outside the
    * window are untouched. At 100 TB this is per-query sizing — state
    * partitions should track key cardinality, exactly as done here.
    */
  private def withStreamShuffle[T](s: SparkSession, parts: Int = 8)(body: => T): T =
    // measured (interleaved fresh-JVM pairs, 10-twin battery at sf0.1, shm
    // scratch in both configs): parts=8 -> 42.3/41.3 s, parts=32 ->
    // 68.0/61.7 s. Entries whose wall is CPU-bound BATCH compute inside the
    // replay (iterative CC in foreachBatch, token-explode aggregation,
    // store-join foreachBatch sinks) pass parts=0 = keep the session's 32:
    // for them the state-store file churn is noise and the 4x parallelism
    // loss dominates (stream_incremental_cc 4.2 -> 14.4 s under parts=8).
    if (parts == 0) body
    else graft.ops.SessionConf.withShufflePartitions(s, parts)(body)

  /** The events two-batch staging (grain-normalized ts, median-ts cut,
    * b1/b2 parquet) is byte-identical across the ~8 twins that replay the
    * events table — stage it ONCE per (session, corpus dir) as a shared
    * store under a JVM-lifetime scratch root and give each twin its own
    * input dir of hardlinks (same filesystem, so links are metadata-only).
    * The two-batch protocol is preserved exactly: each twin links b1,
    * processes it to completion, then links b2 — batch boundaries are as
    * deterministic as before.
    */
  private case class StagedEvents(b1: java.nio.file.Path, b2: java.nio.file.Path)
  private lazy val stagedRoot: java.nio.file.Path = {
    val p = scratchDir("graft-stream-staged-shared")
    sys.addShutdownHook(
      try org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
      catch { case _: Throwable => () })
    p
  }

  private def stagedEvents(s: SparkSession, d: String): StagedEvents =
    SharedStores(s, "staged_events", d) {
      val base = java.nio.file.Files.createTempDirectory(stagedRoot, "events")
      val raw = TemporalOps.loadEvents(s, d)
      val evTs = raw.withColumn("ts", TemporalOps.asTimestamp(raw)).drop("ts_us")
      val cutUs = evTs.select(unix_micros(col("ts")).as("us"))
        .stat.approxQuantile("us", Array(0.5), 0.0)(0).toLong
      evTs.filter(unix_micros(col("ts")) <= cutUs).coalesce(4)
        .write.parquet(s"$base/b1")
      evTs.filter(unix_micros(col("ts")) > cutUs).coalesce(4)
        .write.parquet(s"$base/b2")
      StagedEvents(base.resolve("b1"), base.resolve("b2"))
    }

  /** Same once-per-corpus staging for OTHER shared two-batch splits (the
    * lineitem median-orderkey halves feed three sketch twins, the documents
    * median-doc_id halves feed four text twins): `key` names the split,
    * `mk` builds the two batch frames only on the first request.
    */
  private def stagedPair(s: SparkSession, d: String, key: String)
                        (mk: => (DataFrame, DataFrame)): StagedEvents =
    SharedStores(s, s"staged_$key", d) {
      val base = java.nio.file.Files.createTempDirectory(stagedRoot, key)
      val (b1, b2) = mk
      b1.coalesce(4).write.parquet(s"$base/b1")
      b2.coalesce(4).write.parquet(s"$base/b2")
      StagedEvents(base.resolve("b1"), base.resolve("b2"))
    }

  /** [[replayStaged]] over an already-staged split: hardlinks the staged
    * parquet into a fresh per-twin input dir (two-batch protocol intact),
    * never re-paying the staging write or the median-cut job. `extra`
    * frames (e.g. a watermark-advancing sentinel) become further
    * micro-batches after b2 — they are written (tiny by contract), the
    * staged bulk is still only linked.
    */
  private def replayLinked(s: SparkSession, staged: StagedEvents, mode: String,
                           parts: Int = 8, extra: Seq[DataFrame] = Nil)
                          (build: DataFrame => DataFrame): DataFrame = {
    val base = scratchDir("graft-stream-linked")
    try {
      val in = base.resolve("in")
      linkBatch(staged.b1, in.resolve("b1"))
      val schema = s.read.parquet(s"$in/b1").schema
      withStreamShuffle(s, parts) {
        val stream = s.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(in.toString)
        val nm = s"stream_oracle_${runSeq.incrementAndGet()}"
        val q = build(stream).writeStream.outputMode(mode)
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .format("memory").queryName(nm).start()
        try {
          q.processAllAvailable()
          linkBatch(staged.b2, in.resolve("b2"))
          q.processAllAvailable()
          extra.zipWithIndex.foreach { case (b, i) =>
            b.coalesce(1).write.parquet(s"$in/b${i + 3}")
            q.processAllAvailable()
          }
        } finally q.stop()
        s.table(nm)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  /** lineitem split at the median l_orderkey — shared by the count-min,
    * KMV and top-k sketch twins. */
  private def stagedLineitem(s: SparkSession, d: String): StagedEvents =
    stagedPair(s, d, "li-cut") {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val cut = li.stat.approxQuantile("l_orderkey", Array(0.5), 0.0)(0).toLong
      (li.filter(col("l_orderkey") <= cut), li.filter(col("l_orderkey") > cut))
    }

  /** documents split at the median doc_id — shared by the running-stats,
    * heavy-hitters, split-assign and quality twins. */
  private def stagedDocs(s: SparkSession, d: String): StagedEvents =
    stagedPair(s, d, "docs-cut") {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val cut = docs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0).toLong
      (docs.filter(col("doc_id") <= cut), docs.filter(col("doc_id") > cut))
    }

  /** embeddings split at the batch-entry boundary (old = vec_id >= 50
    * first, append batch = vec_id < 50 second) — sim_knng_append's twin
    * must replay the SAME old/new partition its oracle unrolls, so the
    * cut is the entry's contract, not a median.
    */
  private def stagedEmbeddings(s: SparkSession, d: String): StagedEvents =
    stagedPair(s, d, "emb-cut") {
      val e = s.read.parquet(s"$d/embeddings.parquet")
      (e.filter(col("vec_id") >= 50), e.filter(col("vec_id") < 50))
    }

  /** orders split at the median o_orderkey — the SCD twin's staging. */
  private def stagedOrders(s: SparkSession, d: String): StagedEvents =
    stagedPair(s, d, "ord-cut") {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val cut = o.stat.approxQuantile("o_orderkey", Array(0.5), 0.0)(0).toLong
      (o.filter(col("o_orderkey") <= cut), o.filter(col("o_orderkey") > cut))
    }

  /** Stage every shared two-batch split — [[SharedStores.stageInputs]]'
    * input-staging step. Measured at the 100× probe, the staging (a full
    * scan + cut + two-batch parquet write per source table) put ~75 s into
    * stream_double_quantiles when the first twin paid it, work that belongs
    * to no operator.
    */
  private[queries] def stageReplayInputs(s: SparkSession, d: String): Unit = {
    stagedEvents(s, d); stagedLineitem(s, d); stagedDocs(s, d)
    stagedOrders(s, d); stagedEmbeddings(s, d)
  }

  /** Row bound for [[pinBoundedStore]] in the foreachBatch-MERGE twin: the
    * store keys are (1-hour window × event type) — time-range-, not
    * event-count-, proportional. 2^18 is orders of magnitude above any SF's
    * window count while still far below a "the merge degraded to
    * append-only history" store.
    */
  private[queries] val MaxUpsertStoreRows: Long = 1L << 18

  /** Guarded driver-side pin of a bounded summary store: REQUIRE the row
    * count is within `cap` before localizing, so a bug that unbounds the
    * store fails loudly instead of becoming a data-sized collect (the
    * `Bounded.guard` discipline, driver-side form). Package-visible so the
    * spec can trip the guard on an oversized store.
    */
  private[queries] def pinBoundedStore(s: SparkSession, fin: DataFrame,
                                       cap: Long, what: String): DataFrame = {
    val n = fin.count()
    require(n <= cap, s"$what: store has $n rows, beyond the bounded-summary " +
      s"cap $cap — refusing the driver-side pin")
    s.createDataFrame(s.sparkContext.parallelize(fin.collect().toIndexedSeq), fin.schema)
  }

  /** Versions present in a batchId-keyed fold store (`v=<batchId>` dirs). */
  private def storeVersions(store: String): Seq[Long] = {
    val dirs = Option(new java.io.File(store).listFiles()).getOrElse(Array.empty)
    dirs.toSeq.collect {
      case f if f.isDirectory && f.getName.startsWith("v=") =>
        f.getName.drop(2).toLong
    }
  }

  /** Fold one micro-batch's ADDITIVE cells frame into a batchId-keyed
    * versioned store: the cumulative state through batch b is computed
    * from the latest stored version with id < b plus this batch's cells,
    * and written with OVERWRITE to `v=b`. Replay-idempotent by
    * construction — an at-least-once redelivery of batch b re-derives the
    * identical content from the same `< b` prior and overwrites it
    * (round-14 ADVICE: the previous @volatile driver-memory version
    * counter was NOT keyed by batchId, so a replay would have
    * double-counted the fold — or failed the default ErrorIfExists write —
    * while the comment claimed idempotence; this is the batchId-keyed
    * discipline [[graft.streaming.StreamingIngest.processSortedErBatch]]
    * already follows). The converged state is the max-version dir.
    */
  private def foldVersioned(s: SparkSession, store: String, batchId: Long,
                            cells: DataFrame, keyCols: Seq[String]): Unit =
    foldVersionedWith(s, store, batchId) {
      case None => cells
      case Some(prior) => prior.unionByName(cells)
        .groupBy(keyCols.map(col): _*).agg(sum(col("cnt")).as("cnt"))
    }

  /** General form of [[foldVersioned]] for non-additive folds (incremental
    * CC labelings, keyed upserts): `merge` receives the latest state
    * strictly BEFORE this batch (None on the first) and returns the state
    * through it; the write is OVERWRITE keyed by batchId, so redelivery
    * re-derives identical content from the same prior.
    */
  private def foldVersionedWith(s: SparkSession, store: String, batchId: Long)
                               (merge: Option[DataFrame] => DataFrame): Unit = {
    val prior = storeVersions(store).filter(_ < batchId)
    val merged = merge(
      if (prior.isEmpty) None else Some(s.read.parquet(s"$store/v=${prior.max}")))
    merged.write.mode("overwrite").parquet(s"$store/v=$batchId")
  }

  /** The converged (max-version) state of a [[foldVersioned]] store. */
  private def foldConverged(s: SparkSession, store: String): DataFrame =
    s.read.parquet(s"$store/v=${storeVersions(store).max}")

  /** Hardlink every regular file of staged parquet dir `from` into `to`
    * (created). Falls back to copy if the link fails (cross-device). */
  private def linkBatch(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(to)
    val stream = java.nio.file.Files.list(from)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val f = it.next()
        if (java.nio.file.Files.isRegularFile(f)) {
          val dst = to.resolve(f.getFileName)
          try java.nio.file.Files.createLink(dst, f)
          catch { case _: Throwable => java.nio.file.Files.copy(f, dst) }
        }
      }
    } finally stream.close()
  }

  /** Replay the events table as a DETERMINISTIC two-micro-batch file
    * stream: batch 1 = events at or before the median timestamp, batch 2 =
    * the rest, written only after batch 1 is fully processed
    * (`processAllAvailable`) so batch boundaries — and therefore
    * stateful-operator behavior — are reproducible run to run. The cut is
    * BETWEEN distinct timestamp values, so an equal-timestamp group never
    * straddles the boundary — the strictly-increasing-per-key cross-batch
    * contract [[StreamingIngest.streamingAsofEnrich]] requires. Event time
    * is grain-normalized ([[TemporalOps.asTimestamp]]) at staging, so the
    * stream sees TIMESTAMP whatever the driver's parquet writer used.
    */
  private def replayTwoBatches(s: SparkSession, d: String, mode: String,
                               parts: Int = 8)
                              (build: DataFrame => DataFrame): DataFrame = {
    val staged = stagedEvents(s, d)
    val base = scratchDir("graft-stream-oracle")
    try {
      val in = base.resolve("in")
      linkBatch(staged.b1, in.resolve("b1"))
      val schema = s.read.parquet(s"$in/b1").schema
      withStreamShuffle(s, parts) {
        val stream = s.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(in.toString)
        val nm = s"stream_oracle_${runSeq.incrementAndGet()}"
        val q = build(stream).writeStream.outputMode(mode)
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .format("memory").queryName(nm).start()
        try {
          q.processAllAvailable()
          linkBatch(staged.b2, in.resolve("b2"))
          q.processAllAvailable()
        } finally q.stop()
        s.table(nm)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  /** Replay the documents table TWICE — batch 1 = every document, batch 2 =
    * the same documents again — with a synthetic 1-second-spaced event time.
    * The adversarial shape for streaming dedup: every batch-2 row is a
    * cross-batch duplicate and must be suppressed either by the state store
    * (hash still within the watermark horizon) or as a late arrival (older
    * than the advanced watermark) — both legitimate drops; a re-emission
    * under either path would double the sink and fail the rows check.
    */
  private def replayDocsTwice(s: SparkSession, d: String)
                             (build: DataFrame => DataFrame): DataFrame = {
    // 1-day offset keeps the earliest synthetic instant strictly above
    // the initial watermark (epoch 0): Spark's pre-dedup late filter
    // drops rows AT the watermark, so a doc_id-0 row timestamped exactly
    // at epoch 0 would silently vanish from batch 1
    val docs = s.read.parquet(s"$d/documents.parquet")
      .withColumn("ts", timestamp_micros((col("doc_id") + lit(86400L)) * 1000000L))
    replayStaged(s, docs, docs)(build)
  }

  /** Stage two pre-built frames as consecutive micro-batches of a file
    * stream (the second written only after the first is fully processed),
    * run `build` over the stream, return the memory sink.
    */
  private def replayStaged(s: SparkSession, b1: DataFrame, b2: DataFrame,
                           parts: Int = 8)
                          (build: DataFrame => DataFrame): DataFrame =
    replayBatches(s, Seq(b1, b2), parts)(build)

  /** The N-batch generalization of [[replayStaged]]: each frame becomes one
    * micro-batch, written only after every earlier batch is fully processed.
    * Exists for twins whose SEMANTICS need a third batch — the outer
    * stream-stream join's NULL-padded rows only flush when a later batch
    * advances the watermark past the tail windows.
    */
  private def replayBatches(s: SparkSession, batches: Seq[DataFrame],
                            parts: Int)
                           (build: DataFrame => DataFrame): DataFrame = {
    require(batches.nonEmpty, "replayBatches: need at least one batch")
    val base = scratchDir("graft-stream-staged")
    try {
      val in = base.resolve("in")
      java.nio.file.Files.createDirectories(in)
      batches.head.coalesce(4).write.parquet(s"$in/b1")
      val schema = s.read.parquet(s"$in/b1").schema
      withStreamShuffle(s, parts) {
        val stream = s.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(in.toString)
        val nm = s"stream_oracle_${runSeq.incrementAndGet()}"
        val q = build(stream).writeStream.outputMode("append")
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .format("memory").queryName(nm).start()
        try {
          q.processAllAvailable()
          batches.zipWithIndex.drop(1).foreach { case (b, i) =>
            b.coalesce(4).write.parquet(s"$in/b${i + 1}")
            q.processAllAvailable()
          }
        } finally q.stop()
        s.table(nm)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  /** Like [[replayTwoBatches]] but the query is STOPPED after batch 1 and
    * a brand-new query starts from the SAME checkpoint before batch 2 is
    * staged — the crash/deploy-restart drill: the file source's processed-
    * file log and the aggregation state store must both recover, so the
    * restarted query reads ONLY batch-2 files yet must converge to the
    * full two-batch answer. Complete mode only: the memory sink recovers
    * from a checkpoint only in complete mode (Spark truncates and refills
    * it per trigger); in append mode it restarts empty by design.
    */
  private def replayTwoBatchesWithRestart(s: SparkSession, d: String)
                                         (build: DataFrame => DataFrame): DataFrame = {
    val staged = stagedEvents(s, d)
    val base = scratchDir("graft-stream-restart")
    try {
      val in = base.resolve("in")
      linkBatch(staged.b1, in.resolve("b1"))
      val schema = s.read.parquet(s"$in/b1").schema
      withStreamShuffle(s) {
        def start(nm: String) = build(s.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(in.toString))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .format("memory").queryName(nm).start()
        val q1 = start(s"stream_oracle_${runSeq.incrementAndGet()}")
        try q1.processAllAvailable() finally q1.stop()
        linkBatch(staged.b2, in.resolve("b2"))
        val nm2 = s"stream_oracle_${runSeq.incrementAndGet()}"
        val q2 = start(nm2)
        try q2.processAllAvailable() finally q2.stop()
        s.table(nm2)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  /** shared between the two window-agg twins (live and restart-recovered —
    * both must land the identical batch answer)
    */
  private val WindowAggSql: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us,
      |       event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro
      | FROM events GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin

  private def windowAggBuild(st: DataFrame): DataFrame =
    StreamingIngest.windowedEventCounts(
      st.withColumn("value", round(col("value") * 1000000L).cast("long")),
      "1 hour")

  private def windowAggShape(sess: DataFrame): DataFrame = sess
    .select(unix_micros(col("win_start")).as("win_start_us"),
      col("event_type"), col("n").as("n_events"),
      col("total").as("value_micro"))
    .orderBy("win_start_us", "event_type")

  val all: Seq[Entry] = Seq(

    // ---- streaming tumbling-window aggregation --------------------------
    // the micro-batch twin of ts_window_agg, against the SAME oracle: in
    // complete output mode the watermark drops nothing and state spans
    // batches, so the converged sink must equal the batch aggregation.
    ("stream_window_agg",
      (s, d) => windowAggShape(replayTwoBatches(s, d, "complete")(windowAggBuild)),
      WindowAggSql),

    // ---- streaming incremental connected components ----------------------
    // the 22nd twin: a GRAPH maintained at ingest. Edges arrive in two
    // micro-batches (the old chains, then the bridges); foreachBatch folds
    // each batch into the stored labeling with componentsIncremental —
    // contraction work per batch is collapsed-component-sized, and the
    // store after the last batch must equal the full-recompute oracle
    // (g_cc_incremental's closure SQL) bit for bit. This is the shape a
    // 100-TB identity-resolution pipeline runs: labels live in a table,
    // every ingest batch bridges a few components, nothing ever re-reads
    // the edge history.
    ("stream_incremental_cc",
      (s, d) => {
        // no finally-delete: the returned frame READS the label store
        // (vertex-sized — a driver collect would break the discipline);
        // the s28/s33/s34 temp-dir convention
        val base = scratchDir("graft-stream-cc")
        withStreamShuffle(s, parts = 0) {
          val in = base.resolve("in")
          java.nio.file.Files.createDirectories(in)
          val k = col("c_custkey")
          val cust = s.read.parquet(s"$d/customer.parquet")
          cust.filter(k % 10 =!= 9).select(k.as("src"), (k + 1).as("dst"))
            .coalesce(2).write.parquet(s"$in/b1")
          val schema = s.read.parquet(s"$in/b1").schema
          val store = base.resolve("labels").toString
          val q = s.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(in.toString)
            .writeStream.outputMode("append")
            .option("checkpointLocation", base.resolve("ckpt").toString)
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                             batchId: Long) =>
              if (!batch.isEmpty)
                foldVersionedWith(s, store, batchId) {
                  case None =>
                    graft.ops.ConnectedComponents.components(batch.toDF())
                  case Some(prior) =>
                    graft.ops.ConnectedComponents.componentsIncremental(
                      prior, batch.toDF())
                }
            }
            .start()
          try {
            q.processAllAvailable()
            cust.filter(k % 50 === 49).select(k.as("src"), (k + 1).as("dst"))
              .coalesce(1).write.parquet(s"$in/b2")
            q.processAllAvailable()
          } finally q.stop()
          foldConverged(s, base.resolve("labels").toString).orderBy("id")
        }
      },
      GraphQueries.CcIncrementalSql),

    // ---- bounded backfill (Trigger.AvailableNow + maxFilesPerTrigger) ----
    // the 21st twin and the operational answer to "replay 100 TB of
    // history without 100 TB of cluster": AvailableNow processes all
    // existing input then STOPS, and maxFilesPerTrigger=1 caps each
    // micro-batch at one file — state carries across the bounded batches,
    // so peak memory tracks ONE file while the converged result equals
    // the batch oracle. The entry requires the run actually split (>1
    // micro-batch); a silent fall-back to one giant batch would defeat
    // the resource bound it demonstrates.
    ("stream_backfill_bounded",
      (s, d) => {
        val base = scratchDir("graft-stream-backfill")
        try {
          val in = base.resolve("in")
          java.nio.file.Files.createDirectories(in)
          val raw = TemporalOps.loadEvents(s, d)
          raw.withColumn("ts", TemporalOps.asTimestamp(raw)).drop("ts_us")
            .repartition(4).write.parquet(s"$in/all")
          val schema = s.read.parquet(s"$in/all").schema
          withStreamShuffle(s) {
            val nm = s"stream_oracle_${runSeq.incrementAndGet()}"
            val q = windowAggBuild(s.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true").parquet(in.toString))
              .writeStream.outputMode("complete")
              .option("checkpointLocation", base.resolve("ckpt").toString)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .format("memory").queryName(nm).start()
            try q.awaitTermination() finally q.stop()
            val nBatches = q.recentProgress.map(_.batchId).distinct.length
            require(nBatches > 1, s"stream_backfill_bounded: expected the " +
              s"4-file backfill to split into micro-batches, got $nBatches")
            windowAggShape(s.table(nm))
          }
        } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      },
      WindowAggSql),

    // ---- foreachBatch MERGE into a keyed store ---------------------------
    // the 20th twin and the standard production SINK pattern: an
    // update-mode windowed aggregation emits only CHANGED (window, type)
    // rows per micro-batch, and foreachBatch upserts them into a versioned
    // parquet store (prev anti-join on the key ∪ batch — the MERGE shape).
    // A window straddling the batch cut is emitted twice with different
    // totals; the upsert must keep the later row, so the final store equals
    // the batch oracle only if BOTH the update-mode emission contract and
    // the merge keying are right. At 100 TB the store is a bucketed table
    // and each refresh touches batch-sized data — the merge never rescans
    // history (the same delta discipline as u11).
    ("stream_foreach_upsert",
      (s, d) => {
        val staged = stagedEvents(s, d)
        val base = scratchDir("graft-stream-feb")
        try {
          val in = base.resolve("in")
          linkBatch(staged.b1, in.resolve("b1"))
          val schema = s.read.parquet(s"$in/b1").schema
          val store = base.resolve("store").toString
          withStreamShuffle(s) {
            val q = windowAggBuild(s.readStream.schema(schema)
                .option("recursiveFileLookup", "true").parquet(in.toString))
              .writeStream.outputMode("update")
              .option("checkpointLocation", base.resolve("ckpt").toString)
              .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                               batchId: Long) =>
                if (!batch.isEmpty)
                  foldVersionedWith(s, store, batchId) {
                    case None => batch.toDF()
                    case Some(prior) => prior
                      .join(batch, Seq("win_start", "event_type"), "left_anti")
                      .unionByName(batch.toDF())
                  }
              }
              .start()
            try {
              q.processAllAvailable()
              linkBatch(staged.b2, in.resolve("b2"))
              q.processAllAvailable()
            } finally q.stop()
          }
          // the store is a bounded summary (windows × event types); pin it
          // before the temp dir vanishes. The bound is EXECUTABLE, not a
          // comment: an unbounded store (e.g. a keying bug degrading the
          // merge to append-only history) must fail loudly in the guarded
          // pin, never silently become a data-sized driver collect.
          windowAggShape(pinBoundedStore(s,
            foldConverged(s, store), MaxUpsertStoreRows,
            "stream_foreach_upsert"))
        } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      },
      WindowAggSql),

    // ---- checkpoint-restart state recovery -------------------------------
    // the 19th twin and the operational property every production stream
    // depends on: the window-agg query is KILLED after batch 1 and a NEW
    // query starts from the same checkpoint before batch 2 lands. The
    // file-source log must skip batch-1 files, the state store must
    // reload, and the converged output must STILL equal the batch oracle —
    // lost state would drop every batch-1 count and fail the hash check.
    ("stream_restart_recovery",
      (s, d) => windowAggShape(replayTwoBatchesWithRestart(s, d)(windowAggBuild)),
      WindowAggSql),

    // ---- streaming SLIDING-window aggregation ---------------------------
    // 1-hour windows sliding every 30 minutes: each event lands in exactly
    // two overlapping windows, both maintained in state across the batch
    // cut. The oracle derives the two window starts per event by integer
    // arithmetic (k ∈ {0,1}: start = (t div 30min − k)·30min).
    ("stream_sliding_window",
      (s, d) => replayTwoBatches(s, d, "complete") { st =>
        StreamingIngest.windowedEventCounts(
          st.withColumn("value", round(col("value") * 1000000L).cast("long")),
          "30 minutes")
      }
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("n").as("n_events"),
          col("total").as("value_micro"))
        .orderBy("win_start_us", "event_type"),
      """WITH k AS (SELECT unnest(generate_series(0, 1)) AS k),
        |  w AS (SELECT ((epoch_us(ts) // 1800000000) - k) * 1800000000 AS win_start_us,
        |               event_type,
        |               CAST(round(value * 1000000) AS BIGINT) AS vmicro
        |        FROM events CROSS JOIN k)
        | SELECT win_start_us, event_type, COUNT(*) AS n_events,
        |        CAST(SUM(vmicro) AS BIGINT) AS value_micro
        | FROM w GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin),

    // ---- streaming gap sessionization -----------------------------------
    // native session_window across micro-batches (sessions straddling the
    // batch cut must MERGE in the state store). session_window starts a new
    // session at gap ≥ 30 min (merge while diff < gap), so the oracle's
    // new-session flag is `diff >= gap` — one tick off ts_sessionize's
    // batch operator (diff > gap), both pinned exactly by their oracles.
    ("stream_sessionize",
      (s, d) => {
        val sess = replayTwoBatches(s, d, "complete") { st =>
          StreamingIngest.streamingSessionStats(
            st.withColumn("value", round(col("value") * 1000000L).cast("long")))
        }
        sess
          .withColumn("session_no", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id")).orderBy(col("start_ts"))))
          .select(col("user_id"), col("session_no").cast("long").as("session_no"),
            col("n_events"), unix_micros(col("start_ts")).as("start_us"),
            col("sum_value").as("sum_micro"))
          .orderBy("user_id", "session_no")
      },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn,
        |                  CAST(round(value * 1000000) AS BIGINT) AS vmicro FROM events),
        | lagd AS (SELECT *, LAG(tsn) OVER (PARTITION BY user_id
        |                                   ORDER BY tsn, event_id) AS prev FROM e),
        | flag AS (SELECT *, CASE WHEN prev IS NULL OR tsn - prev >= 1800000000
        |                         THEN 1 ELSE 0 END AS new_sess FROM lagd),
        | sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |                                        ORDER BY tsn, event_id
        |                                        ROWS UNBOUNDED PRECEDING) AS session_no
        |          FROM flag)
        | SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |        COUNT(*) AS n_events, MIN(tsn) AS start_us,
        |        CAST(SUM(vmicro) AS BIGINT) AS sum_micro
        | FROM sess GROUP BY user_id, session_no
        | ORDER BY user_id, session_no""".stripMargin),

    // ---- streaming DYNAMIC-gap sessionization (24th twin) ----------------
    // session_window's expression form: each event proposes a window
    // [ts, ts + gap(event_type)) — purchases hold sessions open 45 min,
    // everything else 15 — and overlapping proposals MERGE in the state
    // store across the batch cut. The relational equivalent is a running
    // max of per-event window ends (new session iff the event starts
    // at/after EVERY earlier end — closed sessions can't false-merge
    // because a break means all prior ends ≤ that event's ts), which the
    // oracle replays with one window function.
    ("stream_dynamic_sessions",
      (s, d) => {
        val gap = when(col("event_type") === "purchase", "45 minutes")
          .otherwise("15 minutes")
        // parts=0: the dynamic-gap merge is UpdatingSessions (sort-based
        // per batch) — CPU-bound, wants the session's full parallelism
        val sess = replayTwoBatches(s, d, "complete", parts = 0) { st =>
          StreamingIngest.streamingDynamicSessionStats(
            st.withColumn("value", round(col("value") * 1000000L).cast("long")),
            gap)
        }
        sess
          .withColumn("session_no", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id")).orderBy(col("start_ts"))))
          .select(col("user_id"), col("session_no").cast("long").as("session_no"),
            col("n_events"), unix_micros(col("start_ts")).as("start_us"),
            col("sum_value").as("sum_micro"))
          .orderBy("user_id", "session_no")
      },
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsn,
        |                  CAST(round(value * 1000000) AS BIGINT) AS vmicro FROM events),
        | g AS (SELECT *, CASE WHEN event_type = 'purchase'
        |                      THEN 2700000000 ELSE 900000000 END AS gap FROM e),
        | r AS (SELECT *, MAX(tsn + gap) OVER (PARTITION BY user_id
        |                   ORDER BY tsn, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                 AS run_end FROM g),
        | flag AS (SELECT *, CASE WHEN run_end IS NULL OR tsn >= run_end
        |                         THEN 1 ELSE 0 END AS new_sess FROM r),
        | sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |                                        ORDER BY tsn, event_id
        |                                        ROWS UNBOUNDED PRECEDING) AS session_no
        |          FROM flag)
        | SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |        COUNT(*) AS n_events, MIN(tsn) AS start_us,
        |        CAST(SUM(vmicro) AS BIGINT) AS sum_micro
        | FROM sess GROUP BY user_id, session_no
        | ORDER BY user_id, session_no""".stripMargin),

    // ---- streaming backward as-of enrichment ----------------------------
    // flatMapGroupsWithState across micro-batches (the carried (ts, value)
    // state must survive the batch cut), against ts_asof_join's oracle:
    // DuckDB's NATIVE ASOF JOIN — an independent algorithm on a third
    // execution model.
    ("stream_asof_join",
      (s, d) => replayTwoBatches(s, d, "append", parts = 0)(StreamingIngest.streamingAsofEnrich(_))
        .select("user_id", "event_id", "click_value")
        .orderBy("event_id"),
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS tsn
        |           FROM events WHERE event_type = 'purchase'),
        |      c AS (SELECT user_id, epoch_us(ts) AS tsn, MAX(value) AS click_value
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        | SELECT p.user_id, p.event_id, c.click_value
        | FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tsn >= c.tsn
        | ORDER BY p.event_id""".stripMargin),

    // ---- streaming exact dedup ------------------------------------------
    // dropDuplicatesWithinWatermark across micro-batches: the corpus is
    // replayed twice, so every batch-2 row is a cross-batch duplicate. The
    // sink must hold each distinct content hash exactly once — emitted rows
    // are hash-only because WHICH of several same-text docs arrives first
    // inside a batch is execution-order-dependent, while the hash set is
    // not (the d1_dedup_exact discipline).
    ("stream_dedup_exact",
      (s, d) => replayDocsTwice(s, d)(st =>
          StreamingIngest.streamingExactDedup(st, watermark = "10 minutes"))
        .select(col("content_hash"))
        .orderBy("content_hash"),
      """SELECT DISTINCT md5(text) AS content_hash FROM documents
        | ORDER BY content_hash""".stripMargin),

    // ---- streaming bloom decontamination --------------------------------
    // the continuous-ingestion half of d11: the eval bloom bitset is built
    // ONCE batch-side, then the corpus arrives as two micro-batches and
    // every contaminated doc (including d11's deterministic false-positive
    // fringe) must be dropped at scan speed by the same native probe
    // kernel. Meets d11's oracle verbatim — micro-batch execution, same
    // bit-for-bit survivors.
    ("stream_decontaminate",
      (s, d) => {
        val docsAll = s.read.parquet(s"$d/documents.parquet")
        val bloom = graft.llm.Dedup.buildBloom(
          docsAll.filter(col("doc_id") % 20 === 0), n = 5, mBits = 16)
        val corpus = docsAll.filter(col("doc_id") % 20 =!= 0)
        val cut = corpus.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0).toLong
        replayStaged(s,
            corpus.filter(col("doc_id") <= cut),
            corpus.filter(col("doc_id") > cut), parts = 0)(st =>
          StreamingIngest.streamingDecontaminate(st, bloom))
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      PipelineQueries.BloomDecontamSql),

    // ---- streaming cumulative per-source stats --------------------------
    // mapGroupsWithState across micro-batches: the corpus arrives in two
    // halves and the per-source (doc count, token total) state must CARRY
    // batch 1's totals into batch 2's update rows. Both stats are monotone
    // cumulative, so the per-source max over the update-mode sink is the
    // final state — which must equal the batch aggregate over the whole
    // corpus.
    ("stream_running_stats",
      (s, d) => {
        replayLinked(s, stagedDocs(s, d), "update")(st =>
          StreamingIngest.runningSourceStats(st))
          .groupBy("source")
          .agg(max(col("n_docs")).as("n_docs"),
            max(col("total_tokens")).as("total_tokens"))
          .orderBy("source")
      },
      """SELECT source, COUNT(*) AS n_docs,
        |        CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS total_tokens
        | FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // ---- streaming blocked entity resolution ----------------------------
    // continuous record linkage through the persisted reference store: the
    // even-key half of part arrives first (builds the store, zero matches),
    // the odd-key half probes it — every cross-half fuzzy pair inside a
    // brand block must surface through REAL foreachBatch execution, store
    // read-back included. The oracle is the equivalent cross-parity blocked
    // join with DuckDB's independent jaro_winkler_similarity.
    ("stream_blocked_er",
      (s, d) => {
        val part = s.read.parquet(s"$d/part.parquet")
          .select("p_partkey", "p_name", "p_brand")
        val base = scratchDir("graft-er-stream")
        try {
          val in = base.resolve("in")
          java.nio.file.Files.createDirectories(in)
          part.filter(col("p_partkey") % 2 === 0).coalesce(4).write.parquet(s"$in/b1")
          val schema = s.read.parquet(s"$in/b1").schema
          withStreamShuffle(s, parts = 0) {
            val stream = s.readStream.schema(schema)
              .option("recursiveFileLookup", "true").parquet(in.toString)
            val q = StreamingIngest.startEntityMatchStream(stream,
              s"$base/store", s"$base/matches", s"$base/ckpt",
              blockCols = Seq("p_brand"), keyCol = "p_partkey",
              nameCol = "p_name")
            try {
              q.processAllAvailable()
              part.filter(col("p_partkey") % 2 === 1).coalesce(4).write.parquet(s"$in/b2")
              q.processAllAvailable()
            } finally q.stop()
          }
          s.read.parquet(s"$base/matches")
            .select("p_brand", "key_ref", "key_in", "name_ref", "name_in", "sim")
            .orderBy("key_ref", "key_in")
            .localCheckpoint(true)
        } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      },
      """SELECT a.p_brand, a.p_partkey AS key_ref, b.p_partkey AS key_in,
        |       a.p_name AS name_ref, b.p_name AS name_in,
        |       jaro_winkler_similarity(a.p_name, b.p_name) AS sim
        | FROM part a JOIN part b ON a.p_brand = b.p_brand
        | WHERE a.p_partkey % 2 = 0 AND b.p_partkey % 2 = 1
        |   AND jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
        | ORDER BY key_ref, key_in""".stripMargin),

    // ---- streaming sorted-neighborhood ER (the 29th twin) ----------------
    // the ingest-time twin of j10 — the PRODUCTION linear ER shape —
    // against j10's whole-corpus rank-window ORACLE: inserts SHIFT ranks
    // (creating and retiring window pairs), so convergence to the batch
    // answer requires re-deriving exactly the touched blocks per
    // micro-batch from the converged row store (versioned, replay-
    // idempotent; see StreamingIngest.processSortedErBatch). The even-key
    // half of part arrives first, the odd half second — every block's
    // final pair set must equal the full-corpus SNM pairing, retired
    // batch-1 pairs included (rows whose batch-1 rank distance was ≤ w
    // but whose converged distance exceeds it must NOT surface).
    ("stream_sorted_er",
      (s, d) => {
        val part = s.read.parquet(s"$d/part.parquet")
          .select("p_partkey", "p_name", "p_brand")
        val base = scratchDir("graft-snm-stream")
        try {
          val in = base.resolve("in")
          java.nio.file.Files.createDirectories(in)
          part.filter(col("p_partkey") % 2 === 0).coalesce(4).write.parquet(s"$in/b1")
          val schema = s.read.parquet(s"$in/b1").schema
          withStreamShuffle(s, parts = 0) {
            val stream = s.readStream.schema(schema)
              .option("recursiveFileLookup", "true").parquet(in.toString)
            val q = StreamingIngest.startSortedErStream(stream,
              s"$base/rows", s"$base/pairs", s"$base/touched", s"$base/ckpt")
            try {
              q.processAllAvailable()
              part.filter(col("p_partkey") % 2 === 1).coalesce(4).write.parquet(s"$in/b2")
              q.processAllAvailable()
            } finally q.stop()
          }
          StreamingIngest.sortedErResult(s, s"$base/pairs", s"$base/touched",
              "p_brand")
            .select("p_brand", "key_a", "key_b", "name_a", "name_b", "sim")
            .orderBy("key_a", "key_b")
            .localCheckpoint(true)
        } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      },
      """WITH r AS (SELECT p_brand, p_partkey, p_name,
        |        ROW_NUMBER() OVER (PARTITION BY p_brand
        |                           ORDER BY p_name, p_partkey) AS rn
        |      FROM part)
        | SELECT a.p_brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
        |        a.p_name AS name_a, b.p_name AS name_b,
        |        jaro_winkler_similarity(a.p_name, b.p_name) AS sim
        | FROM r a JOIN r b
        |   ON a.p_brand = b.p_brand AND b.rn BETWEEN a.rn + 1 AND a.rn + 10
        | WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
        | ORDER BY key_a, key_b""".stripMargin),

    // ---- streaming first/last-touch attribution -------------------------
    // the continuous-marketing twin: events replayed in two EVENT-TIME-
    // ORDERED micro-batches (split at the median ts); batch-2 purchases
    // must find their batch-1 touches through the persisted touch store —
    // real foreachBatch execution, store read-back included — and converge
    // to the batch ts_attribution oracle exactly.
    ("stream_attribution",
      (s, d) => {
        val ev = graft.ops.TemporalOps.loadEvents(s, d)
          .select("event_id", "user_id", "event_type", "ts_us")
        val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0)(0).toLong
        val base = scratchDir("graft-attr-stream")
        try {
          val in = base.resolve("in")
          java.nio.file.Files.createDirectories(in)
          ev.filter(col("ts_us") <= cut).coalesce(4).write.parquet(s"$in/b1")
          val schema = s.read.parquet(s"$in/b1").schema
          withStreamShuffle(s, parts = 0) {
            val stream = s.readStream.schema(schema)
              .option("recursiveFileLookup", "true").parquet(in.toString)
            val q = StreamingIngest.startAttributionStream(stream,
              s"$base/touches", s"$base/attrib", s"$base/ckpt")
            try {
              q.processAllAvailable()
              ev.filter(col("ts_us") > cut).coalesce(4).write.parquet(s"$in/b2")
              q.processAllAvailable()
            } finally q.stop()
          }
          s.read.parquet(s"$base/attrib")
            .select("event_id", "user_id", "last_touch", "first_touch", "n_touches")
            .orderBy("event_id")
            .localCheckpoint(true)
        } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      },
      TemporalQueries.AttributionSql),

    // ---- streaming hashed-linear quality scoring ------------------------
    // the model-scoring twin: the IDENTICAL TextStats.hashedLinearScore
    // plan runs over a two-micro-batch replay (complete mode) and must
    // converge to t_quality_linear's oracle. Scoring is stateless per
    // token and the per-document sum is the only state, so a continuously
    // ingesting quality gate reuses the batch operator with zero
    // twin-specific code — the strongest batch/stream parity statement
    // the registry can make.
    // ---- streaming heavy hitters (Misra-Gries in the state store) -------
    // the bounded-state frequent-tokens monitor: the native MisraGries
    // TypedImperativeAggregate runs as a streaming global aggregation, so
    // the <= k-counter sketch buffer IS the state-store row carried across
    // micro-batches (batch-2 partials MERGE into batch-1's stored buffer —
    // the mergeable-summaries guarantee transfers verbatim: total error
    // <= N/(k+1), no true heavy hitter can leave the candidate set). The
    // sink's converged row yields candidates + the exact N; the same exact
    // recount pass as the batch operator then meets t_heavy_hitters'
    // GROUP-BY-HAVING oracle — sketch-set nondeterminism never reaches
    // the output.
    ("stream_heavy_hitters",
      (s, d) => {
        val k = 30
        val docs = s.read.parquet(s"$d/documents.parquet")
        val sketch = replayLinked(s, stagedDocs(s, d), "complete", parts = 0) { st =>
          st.select(explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
            .filter(col("token") =!= "")
            .agg(graft.functions.MisraGries.sketch(col("token"), k).as("cands"),
              count(lit(1)).as("n_total"))
        }.head()
        val cands = sketch.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
        graft.llm.TextStats.candidateRecount(docs, cands, sketch.getLong(1), k)
          .orderBy("token")
      },
      PipelineQueries.HeavyHittersSql),

    // ---- streaming count-min sketch (additive state) --------------------
    // the 15th twin, against a10's ORACLE: count-min cells are plain sums
    // over a bounded-cardinality key, so the streaming aggregation's
    // state store IS the sketch — ≤ depth·width rows forever, batch-2
    // partial cells merge into batch-1's stored sums by the same
    // cell-wise addition the batch merge uses, and the converged grid is
    // BIT-IDENTICAL to the direct whole-corpus build (count-min merge is
    // exact, unlike HLL). Probe lookups then run batch-side against the
    // converged cells and must hash-match the oracle's estimates.
    ("stream_countmin",
      (s, d) => {
        val li = s.read.parquet(s"$d/lineitem.parquet")
        val cells = replayLinked(s, stagedLineitem(s, d), "complete", parts = 0) { st =>
          graft.ops.Sketches.countMinCells(
            st.select(col("l_suppkey").as("key")), 4, 32)
        }
        val probes = li.filter(col("l_suppkey") <= 25)
          .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("n_exact"))
        graft.ops.Sketches.countMinLookup(cells, probes, 4, 32)
          .select(col("key").cast("long").as("key"), col("n_exact"),
            col("cms_est"), (col("cms_est") >= col("n_exact")).as("over_ok"))
          .orderBy("key")
      },
      GraphQueries.CountMinSql),

    // ---- streaming dyadic QUANTILE sketch (grid merged per batch) --------
    // the 25th twin, against a14's ORACLE: the dyadic grid's cells are
    // plain SUMS, so per-micro-batch grids merge cell-wise EXACTLY —
    // foreachBatch builds each batch's grid with the two-stage bounded
    // aggregate and folds it into a versioned store (≤ 13·4·256 rows
    // forever, regardless of stream length), and the converged grid must
    // yield the identical percentiles the direct whole-corpus build
    // yields. This is the production shape for "p99 over an unbounded
    // stream": constant state, no history rescan, quantiles readable at
    // any batch boundary. dyadicCells is TWO chained aggregations —
    // inexpressible as one streaming agg — which is exactly why the
    // sketch's mergeability (not streaming-native operators) carries it.
    ("stream_quantile",
      (s, d) => {
        // no finally-delete: the returned frame READS the grid store
        // (the stream_incremental_cc temp-dir convention)
        val staged = stagedLineitem(s, d)
        val base = scratchDir("graft-stream-quant")
        val grid = withStreamShuffle(s, parts = 0) {
          val in = base.resolve("in")
          linkBatch(staged.b1, in.resolve("b1"))
          val schema = s.read.parquet(s"$in/b1").schema
          val store = base.resolve("grid").toString
          val q = s.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(in.toString)
            .writeStream.outputMode("append")
            .option("checkpointLocation", base.resolve("ckpt").toString)
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                             batchId: Long) =>
              if (!batch.isEmpty) {
                val cells = graft.ops.Sketches.dyadicCells(
                  GraphQueries.quantileVals(batch.toDF()),
                  GraphQueries.QBits, GraphQueries.QDepth, GraphQueries.QWidth)
                foldVersioned(s, store, batchId, cells,
                  Seq("lvl", "d", "w"))
              }
            }
            .start()
          try {
            q.processAllAvailable()
            linkBatch(staged.b2, in.resolve("b2"))
            q.processAllAvailable()
          } finally q.stop()
          foldConverged(s, store)
        }
        GraphQueries.quantileFromGrid(s, d, grid)
      },
      GraphQueries.QuantileSketchSql),

    // ---- streaming GENERAL-DOMAIN quantile sketch (doubles) --------------
    // the twin of a16, against a16's ORACLE: the two-scan range mapping
    // streams under FROZEN bounds — the domain config is computed ONCE,
    // batch-side, over the corpus (in production: a profiling pass or an
    // SLA constant fixes lo/hi before the stream starts; per-batch bounds
    // would re-map already-folded cells and break cell-wise mergeability —
    // the same frozen-quantizer discipline sim_ivf_append pins for PQ
    // codebooks). Under a frozen mapping each micro-batch's grid is plain
    // sums, so the fold is exact and the converged grid must hash-match
    // the direct whole-corpus build, decoded double values included.
    ("stream_double_quantiles",
      (s, d) => {
        val staged = stagedEvents(s, d)
        val base = scratchDir("graft-stream-dquant")
        val grid = withStreamShuffle(s, parts = 0) {
          val in = base.resolve("in")
          linkBatch(staged.b1, in.resolve("b1"))
          val schema = s.read.parquet(s"$in/b1").schema
          val store = base.resolve("grid").toString
          // frozen mapping config: exact corpus bounds, one tiny frame
          val bounds = GraphQueries.doubleBounds(
            s.read.parquet(s"$d/events.parquet")).persist()
          bounds.count()
          val q = s.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(in.toString)
            .writeStream.outputMode("append")
            .option("checkpointLocation", base.resolve("ckpt").toString)
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                             batchId: Long) =>
              if (!batch.isEmpty) {
                val vals = GraphQueries.doubleQuantileVals(batch.toDF(), bounds)
                  .select(col("u"))
                val cells = graft.ops.Sketches.dyadicCells(vals,
                  GraphQueries.QBits, GraphQueries.QDepth, GraphQueries.QWidth)
                foldVersioned(s, store, batchId, cells,
                  Seq("lvl", "d", "w"))
              }
            }
            .start()
          try {
            q.processAllAvailable()
            linkBatch(staged.b2, in.resolve("b2"))
            q.processAllAvailable()
          } finally { q.stop(); bounds.unpersist() }
          foldConverged(s, store)
        }
        GraphQueries.doubleQuantileFromGrid(s, d, grid)
      },
      GraphQueries.DoubleQuantileSql),

    // ---- streaming ONE-PASS KLL quantiles (no frozen config) -------------
    // the twin a16's stream_double_quantiles could never fully be: that
    // fold is exact ONLY under bounds frozen before the stream starts —
    // drift outside the frozen domain is its untested edge. The KLL
    // sampler state needs NO pre-stream configuration: each micro-batch
    // builds its own sketch (n, thr, sample) from its rows alone, and the
    // batchId-keyed fold merges sketches with the max-threshold re-filter,
    // which is associative and order-free (Sketches' design note), so the
    // converged state is BIT-IDENTICAL to the direct whole-corpus build —
    // and must meet a17's oracle, not a weakened stream variant. State per
    // version is ≤ KllK sample rows + ONE MARKER ROW carrying the (n, thr)
    // summary (is_sum = true) — one store, one fold. The marker row (not
    // the earlier ride-along columns on sample rows) is load-bearing
    // (round-15 ADVICE): a part whose kept sample is EMPTY — level counts
    // CAN drop from > k straight to 0, making thr point at a vanished
    // level — must still contribute its n to every later merge, and with
    // the summary only aboard sample rows an empty sample silently
    // dropped it (undercounting n) instead of carrying it structurally.
    ("stream_kll_quantiles",
      (s, d) => {
        import graft.ops.Sketches
        val staged = stagedEvents(s, d)
        val base = scratchDir("graft-stream-kll")
        val (summary, sample) = withStreamShuffle(s, parts = 0) {
          val in = base.resolve("in")
          linkBatch(staged.b1, in.resolve("b1"))
          val schema = s.read.parquet(s"$in/b1").schema
          val store = base.resolve("sketch").toString
          // sample rows (is_sum=false, null summary cols) + the 1-row
          // summary marker (is_sum=true, null sample cols) in one frame
          def pack(samp: DataFrame, summ: DataFrame): DataFrame = {
            val vt = samp.schema("v").dataType
            samp
              .withColumn("n", lit(null).cast("long"))
              .withColumn("thr", lit(null).cast("long"))
              .withColumn("is_sum", lit(false))
              .unionByName(summ.select(
                lit(null).cast(vt).as("v"), lit(null).cast("long").as("h"),
                lit(null).cast("int").as("lvl"),
                col("n").cast("long"), col("thr").cast("long"),
                lit(true).as("is_sum")))
          }
          def sketchOf(rows: DataFrame): DataFrame = {
            val levels = Sketches.kllLevels(
              rows.select(col("value"), col("event_id")), "value", "event_id")
            val summ = Sketches.kllSummary(levels, GraphQueries.KllK)
            pack(Sketches.kllSample(levels, summ), summ)
          }
          val q = s.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(in.toString)
            .writeStream.outputMode("append")
            .option("checkpointLocation", base.resolve("ckpt").toString)
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                             batchId: Long) =>
              if (!batch.isEmpty) {
                val b = sketchOf(batch.toDF())
                foldVersionedWith(s, store, batchId) {
                  case None => b
                  case Some(prior) =>
                    // two-part merge: counts at lvl >= max part thr come
                    // from the sample union alone, so the re-threshold
                    // reproduces the direct build (associative — a prior
                    // that is itself a merge is just another valid part).
                    // Summaries come from the MARKER rows — present even
                    // when a part's sample is empty
                    val parts = prior.filter(col("is_sum"))
                      .select(col("n"), col("thr"))
                      .unionByName(b.filter(col("is_sum"))
                        .select(col("n"), col("thr")))
                    val samples = prior.filter(!col("is_sum"))
                      .select(col("v"), col("h"), col("lvl"))
                      .unionByName(b.filter(!col("is_sum"))
                        .select(col("v"), col("h"), col("lvl")))
                    val merged = Sketches.kllMergedSummary(parts, samples,
                      GraphQueries.KllK)
                    pack(Sketches.kllMergedSample(samples, merged),
                      merged.select(col("n"), col("thr")))
                }
              }
            }
            .start()
          try {
            q.processAllAvailable()
            linkBatch(staged.b2, in.resolve("b2"))
            q.processAllAvailable()
          } finally q.stop()
          val conv = foldConverged(s, store)
          // serving reads the marker row — a missing marker is a loud
          // empty-summary failure downstream, never a silently-empty frame
          (conv.filter(col("is_sum")).select(col("n"), col("thr")),
            conv.filter(!col("is_sum")).select(col("v"), col("h"), col("lvl")))
        }
        GraphQueries.kllQuantilesFrom(s, d, summary, sample)
      },
      GraphQueries.KllQuantileSql),

    // ---- streaming k-NN graph maintenance (the 32nd twin) ----------------
    // the twin of sim_knng_append, against its EXACT oracle: the
    // steady-state ANN ingest — vector shards land as micro-batches, the
    // first batch builds the NN-descent graph, every later batch patches
    // it via the frozen-graph beam search + reverse-edge top-k
    // ([[graft.llm.Similarity.knngAppend]]). State per version is the
    // k·|V| graph + the landed vectors (overwrite keyed by batchId beside
    // the fold — the stream_substring_dedup shape); nothing rebuilds, and
    // because build and append are pure order-free set functions with the
    // same (cosine DESC, id) selection, the converged graph after the
    // old/new staged split is BIT-IDENTICAL to the batch entry's — one
    // generated SQL oracle pins both. Replay-safe: an at-least-once
    // redelivery re-derives the same append from the same `< b` prior
    // and the same stored vector batches.
    ("stream_knng_append",
      (s, d) => {
        import graft.llm.Similarity
        val staged = stagedEmbeddings(s, d)
        val base = scratchDir("graft-stream-knng")
        val graph = withStreamShuffle(s, parts = 0) {
          val in = base.resolve("in")
          linkBatch(staged.b1, in.resolve("b1"))
          val schema = s.read.parquet(s"$in/b1").schema
          val gstore = base.resolve("graph").toString
          val vstore = base.resolve("vecs").toString
          val q = s.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(in.toString)
            .writeStream.outputMode("append")
            .option("checkpointLocation", base.resolve("ckpt").toString)
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                             batchId: Long) =>
              if (!batch.isEmpty) {
                batch.toDF().select("vec_id", "embedding")
                  .write.mode("overwrite").parquet(s"$vstore/batch=$batchId")
                foldVersionedWith(s, gstore, batchId) {
                  case None =>
                    // the first batch IS the frozen base corpus (b1 =
                    // vec_id >= 50, stagedEmbeddings) and the build params
                    // match knngAppendBaseShared exactly, so serve the
                    // IDENTICAL NN-descent graph from the session-shared
                    // base store (built by sim_knng_append, the first
                    // consumer in battery order, r15 verdict #3) instead of
                    // re-running the 2-round descent inside the
                    // micro-batch: the timed entry measures the streaming
                    // MAINTENANCE path (fold + beam-search append), not
                    // index construction. nnDescentGraph is a
                    // deterministic set function of its input rows, so the
                    // stored version is bit-identical either way (the
                    // shared oracle pins it).
                    PipelineQueries.knngAppendBaseShared(s, d)
                  case Some(prior) =>
                    val old = s.read.parquet(vstore)
                      .where(col("batch") < batchId).drop("batch")
                    Similarity.knngAppend(prior, old, batch.toDF(),
                      k = 12, beam = 24, hops = 4)
                }
              }
            }
            .start()
          try {
            q.processAllAvailable()
            linkBatch(staged.b2, in.resolve("b2"))
            q.processAllAvailable()
          } finally q.stop()
          foldConverged(s, gstore)
        }
        graph.filter(col("id") < 60).orderBy("id", "rank")
          .localCheckpoint(true)
      },
      PipelineQueries.knngAppendSql),

    // ---- streaming exact substring dedup (the 30th twin) -----------------
    // the twin of d23, against d23's ORACLE: the global knowledge exact
    // substring dedup needs is the corpus-wide GRAM OCCURRENCE COUNT, and
    // counts over disjoint doc batches are ADDITIVE — so each micro-batch
    // folds its (gram, cnt) cells into a batchId-keyed versioned store
    // (one grouped sum; replay-idempotent — see [[foldVersioned]]) while
    // the raw docs land beside it (overwrite keyed by batchId), and the
    // converged `cnt >= 2` gram set IS the batch-derived duplicated-gram
    // set exactly. The read side re-derives the maximal spans from the
    // converged state (duplicateSpanExtents with the dupGrams override) —
    // the stream_quantile discipline: state carries the expensive global
    // pass, the result is served from state + stored corpus, and the
    // whole span set must hash-match the whole-corpus oracle. This is the
    // shape an ingest-time pretraining pipeline runs: gram counts update
    // as shards land; re-cutting any shard needs no corpus rescan.
    ("stream_substring_dedup",
      (s, d) => {
        val staged = stagedDocs(s, d)
        val base = scratchDir("graft-stream-substr")
        val k = 8
        val (grams, docsDf) = withStreamShuffle(s, parts = 0) {
          val in = base.resolve("in")
          linkBatch(staged.b1, in.resolve("b1"))
          val schema = s.read.parquet(s"$in/b1").schema
          val gstore = base.resolve("grams").toString
          val dstore = base.resolve("docs").toString
          val q = s.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(in.toString)
            .writeStream.outputMode("append")
            .option("checkpointLocation", base.resolve("ckpt").toString)
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                             batchId: Long) =>
              if (!batch.isEmpty) {
                batch.toDF().select("doc_id", "text")
                  .write.mode("overwrite").parquet(s"$dstore/batch=$batchId")
                val cells = graft.llm.Dedup.spanGramCounts(batch.toDF(), k)
                foldVersioned(s, gstore, batchId, cells, Seq("gram"))
              }
            }
            .start()
          try {
            q.processAllAvailable()
            linkBatch(staged.b2, in.resolve("b2"))
            q.processAllAvailable()
          } finally q.stop()
          (foldConverged(s, gstore).filter(col("cnt") >= 2),
            s.read.parquet(dstore).drop("batch"))
        }
        graft.llm.Dedup.duplicateSpanExtents(docsDf, spanTokens = k,
            dupGrams = Some(grams))
          .orderBy("doc_id", "span_pos_first")
          .localCheckpoint(true)
      },
      PipelineQueries.SubstringDedupSql),

    // ---- streaming grouped top-k (heap buffer as state) -----------------
    // the 16th twin, against w4's window-formulation ORACLE: the native
    // top_k TypedImperativeAggregate is mergeable, so in a streaming
    // global aggregation its k-bound heap IS the per-group state row —
    // batch-2 partial heaps MERGE into batch-1's stored heap, and because
    // the global top-k over a total order is contained in the union of
    // partial top-ks, the converged sink equals the batch answer EXACTLY
    // (rank and tie-breaks included), not approximately. A live
    // leaderboard over an unbounded stream carries k rows of state per
    // group, never the group's history.
    ("stream_topk",
      (s, d) => {
        replayLinked(s, stagedLineitem(s, d), "complete") { st =>
          st.select(col("l_returnflag"),
              round(col("l_extendedprice") * 100).cast("long").as("cents"),
              (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"))
            .groupBy("l_returnflag")
            .agg(graft.functions.TopKAgg.topK(col("cents"), col("rid"), 3).as("tk"))
        }
          .select(col("l_returnflag"), posexplode(col("tk")))
          .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rn"),
            col("col.ord").as("cents"), col("col.id").as("rid"))
          .orderBy("l_returnflag", "rn")
      },
      RelationalQueries.TopKPartialSql),

    // ---- streaming KMV distinct-cardinality sketch -----------------------
    // the 18th twin, against a11's ORACLE: the bottom-k hash heap is the
    // per-group state row (the stream_topk mechanism carrying a11's
    // semantics — duplicate hashes collapse in the buffer, so the state
    // IS distinct-counting state, ≤ k entries per group forever). Batch-2
    // partial heaps merge into batch-1's stored heap exactly (bottom-k
    // over a total order), so the converged sketches — and therefore the
    // ESTIMATES, exact long div arithmetic — hash-match the direct
    // whole-corpus build. n_exact and the direct-vs-merged __ALL__ guard
    // run batch-side: they are the accuracy EXHIBIT the sketch replaces,
    // not part of the streaming state.
    ("stream_kmv_distinct",
      (s, d) => {
        val k = 64
        val li = s.read.parquet(s"$d/lineitem.parquet")
        val perGrp = replayLinked(s, stagedLineitem(s, d), "complete") { st =>
          st.select(col("l_returnflag").as("grp"),
              graft.ops.Sketches.h48(col("l_orderkey")).as("hv"))
            .groupBy("grp")
            .agg(expr(s"top_k(-hv, hv, $k)").as("bk"))
        }
        val exact = li.groupBy(col("l_returnflag").as("grp"))
          .agg(countDistinct(col("l_orderkey")).as("n_exact"))
        val flags = perGrp.join(exact, Seq("grp"))
          .select(col("grp"), col("n_exact"),
            graft.ops.Sketches.kmvEstimate(k).as("kmv_est"))
        val directAll = graft.ops.Sketches.kmvSketch(
          li.select(col("l_orderkey")), "l_orderkey", Nil, k)
          .select(col("n_exact"),
            graft.ops.Sketches.kmvEstimate(k).as("kmv_est"))
        val mergedEst = graft.ops.Sketches.kmvMerge(perGrp, k)
          .select(graft.ops.Sketches.kmvEstimate(k).as("m_est"))
        val all = directAll.crossJoin(broadcast(mergedEst))
          .select(lit("__ALL__").as("grp"), col("n_exact"),
            graft.ops.Bounded.guard(col("kmv_est"),
              col("kmv_est") === col("m_est"),
              "stream_kmv_distinct: merged streamed sketches diverged from direct build")
              .as("kmv_est"))
        flags.unionByName(all).orderBy("grp")
      },
      GraphQueries.KmvDistinctSql),

    // ---- streaming deterministic split assignment -----------------------
    // the strongest stateless batch/stream parity statement: split
    // assignment is a pure per-row md5 threshold (no state, no watermark,
    // no shuffle), so the IDENTICAL Sampling.assignSplit plan runs over an
    // append-mode two-batch replay and must meet t_split_assign's oracle
    // row for row — a training pipeline can route documents to
    // train/val/test AT INGEST and land exactly the batch answer.
    // ---- streaming CUSUM drift detection --------------------------------
    // the online twin of ts_cusum_shift, against the SAME oracle: per-type
    // state is the day-grain count map (date-range-bounded), each batch
    // re-emits the full series with an emission sequence, and the reader
    // keeps each day's LATEST verdict — a day straddling the median-ts
    // batch cut has provisional counts in batch 1 that batch 2 must
    // finalize, which is exactly the cross-batch state carry this checks.
    ("stream_cusum_shift",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type", "day").orderBy(col("emit_seq").desc)
        replayTwoBatches(s, d, "update")(st => StreamingIngest.streamingCusum(st))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("event_type", "day", "n", "cusum_micro", "shifted")
          .orderBy("event_type", "day")
      },
      """WITH byday AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                      COUNT(*) AS n FROM events GROUP BY 1, 2),
        | t AS (SELECT event_type, day, n,
        |              SUM(n * 1000000) OVER (PARTITION BY event_type) //
        |                COUNT(n) OVER (PARTITION BY event_type) AS target_micro
        |       FROM byday),
        | p AS (SELECT event_type, day, n, target_micro,
        |              SUM(n * 1000000 - target_micro) OVER
        |                (PARTITION BY event_type ORDER BY day) AS p
        |       FROM t),
        | c AS (SELECT event_type, day, n, target_micro,
        |              p - LEAST(MIN(p) OVER
        |                (PARTITION BY event_type ORDER BY day), 0) AS cusum_micro
        |       FROM p)
        | SELECT event_type, CAST(day AS BIGINT) AS day, n,
        |        CAST(cusum_micro AS BIGINT) AS cusum_micro,
        |        cusum_micro > target_micro AS shifted
        | FROM c ORDER BY event_type, day""".stripMargin),

    ("stream_split_assign",
      (s, d) => {
        replayLinked(s, stagedDocs(s, d), "append") { st =>
          graft.llm.Sampling.assignSplit(st, "doc_id",
              Seq(0.8 -> "train", 0.9 -> "val", 1.0 -> "test"))
            .select("doc_id", "split")
        }.orderBy("doc_id").localCheckpoint(true)
      },
      s"""SELECT doc_id,
         |        CASE WHEN substr(md5('split:' || doc_id), 1, 8) < '${graft.llm.Sampling.hexThreshold(0.8)}' THEN 'train'
         |             WHEN substr(md5('split:' || doc_id), 1, 8) < '${graft.llm.Sampling.hexThreshold(0.9)}' THEN 'val'
         |             ELSE 'test' END AS split
         | FROM documents ORDER BY doc_id""".stripMargin),

    ("stream_quality_linear",
      (s, d) => {
        replayLinked(s, stagedDocs(s, d), "complete")(st =>
          graft.llm.TextStats.hashedLinearScore(st,
            (0 until 64).map(b => (b % 7) - 3)))
          .orderBy("id")
      },
      PipelineQueries.QualityLinearSql),

    // ---- streaming OHLC bars (14th twin) --------------------------------
    // micro-batch twin of ts_ohlc_bars against the SAME oracle: min_by/
    // max_by keyed on the unique (ts_us, event_id) struct are declarative
    // aggregates, so streaming state per day-bucket is one candidate bar —
    // batch 2 must re-open batch-1 days (the median cut splits days) and
    // still converge to the batch answer in complete mode.
    ("stream_ohlc_bars",
      (s, d) => replayTwoBatches(s, d, "complete") { st =>
        val ev = st.filter(col("event_type") === "purchase")
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("day", expr("ts_us div 86400000000"))
        TemporalOps.ohlcBars(ev, "day", "cents", "ts_us", "event_id")
      }
        .select(col("day"), col("open").as("open_cents"),
          col("high").as("high_cents"), col("low").as("low_cents"),
          col("close").as("close_cents"), col("n_ticks"),
          col("volume").as("volume_cents"))
        .orderBy("day"),
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, event_id,
        |                  CAST(round(value * 100) AS BIGINT) AS cents,
        |                  epoch_us(ts) // 86400000000 AS day
        |           FROM events WHERE event_type = 'purchase'),
        | r AS (SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY day
        |                            ORDER BY ts_us, event_id) AS rn_a,
        |         ROW_NUMBER() OVER (PARTITION BY day
        |                            ORDER BY ts_us DESC, event_id DESC) AS rn_d
        |       FROM e)
        | SELECT day, MAX(CASE WHEN rn_a = 1 THEN cents END) AS open_cents,
        |        MAX(cents) AS high_cents, MIN(cents) AS low_cents,
        |        MAX(CASE WHEN rn_d = 1 THEN cents END) AS close_cents,
        |        COUNT(*) AS n_ticks, CAST(SUM(cents) AS BIGINT) AS volume_cents
        | FROM r GROUP BY day ORDER BY day""".stripMargin),

    // ---- stream-STATIC broadcast enrichment (23rd twin) ------------------
    // the most common production ingest shape, previously missing from the
    // twin matrix: each micro-batch of the event stream joins the STATIC
    // customer dimension (user_id = c_custkey) — stateless, the dim
    // broadcasts into every batch, no watermark, no state store. The
    // converged per-nation rollup must equal the batch join; enrichment
    // at ingest is exactly how a 100-TB pipeline attaches dimensions
    // without ever re-reading history.
    ("stream_static_enrich",
      (s, d) => {
        val dim = s.read.parquet(s"$d/customer.parquet")
          .select(col("c_custkey"), col("c_nationkey"))
        replayTwoBatches(s, d, "complete") { st =>
          st.withColumn("vmicro", round(col("value") * 1000000L).cast("long"))
            .join(broadcast(dim), col("user_id") === col("c_custkey"))
            .groupBy("c_nationkey", "event_type")
            .agg(count(lit(1)).as("n_events"), sum(col("vmicro")).as("value_micro"))
        }.orderBy("c_nationkey", "event_type")
      },
      """SELECT c_nationkey, event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro
        | FROM events JOIN customer ON user_id = c_custkey
        | GROUP BY 1, 2 ORDER BY c_nationkey, event_type""".stripMargin),

    // ---- NATIVE stream-stream interval join (17th twin) -----------------
    // the one streaming entry where Spark's own join state store does the
    // state work: two watermarked branches of the replayed event stream,
    // joined on user + ±5-minute event-time range. The 10-minute watermark
    // covers the range, so a batch-1 purchase still pairs with its batch-2
    // click — the replay meets ts_interval_join's oracle exactly, and the
    // state each side buffers is bounded by watermark delay × stream rate,
    // never by stream length (the 100-TB property the entry exists to pin).
    ("stream_interval_join",
      (s, d) => replayTwoBatches(s, d, "append")(
          StreamingIngest.streamingIntervalJoin(_))
        .orderBy("purchase_id", "click_id"),
      TemporalQueries.IntervalJoinSql),

    // ---- streaming source-drift TVD (28th twin) ---------------------------
    // t_source_divergence's INPUTS are mergeable: per-(source, word) token
    // counts are plain sums, so a streaming groupBy-count in complete mode
    // converges to the batch word-count table exactly (vocab×sources
    // state, bounded by the vocabulary — never stream length), and the
    // TVD identity computed from the converged state must hash-match the
    // direct whole-corpus oracle. The production shape for "domain drift
    // over an unbounded feed": constant state, distances readable at any
    // batch boundary.
    ("stream_source_divergence",
      (s, d) => {
        val sunk = replayLinked(s, stagedDocs(s, d), "complete", parts = 0) { st =>
          PipelineQueries.sourceWordCounts(st)
        }
        // guarded driver pin of the vocab-bounded state: (a) makes the
        // bounded-summary claim executable, (b) detaches the frame from
        // the MemoryPlan — Spark cannot dedup attributes when a memory
        // sink table self-joins (INTERNAL_ERROR "conflicting references"),
        // and the TVD tail joins wc with itself
        val wc = pinBoundedStore(s, sunk, 1L << 20,
          "stream_source_divergence: word-count state")
        PipelineQueries.tvdFromWordCounts(wc)
      },
      PipelineQueries.SourceTvdSql),

    // ---- streaming SCD2 enrichment (27th twin) ----------------------------
    // the slowly-changing-dimension read path IN the stream: each fact
    // micro-batch picks the dimension version valid AT its own version
    // clock via a stream-static RANGE join (k equi + vseq BETWEEN
    // valid_from/valid_to — tiling ranges make the match unique). Stateless
    // — no watermark, no store: the history is the broadcast static side,
    // exactly how a 100-TB pipeline serves dimensions at ingest. Meets
    // u3_scd2_pit_lookup's ASOF oracle from real micro-batch execution
    // (the range join against tiling ranges IS the backward as-of).
    ("stream_scd2_enrich",
      (s, d) => {
        val base = RelationalQueries.t(s, d, "customer")
          .select(col("c_custkey").as("hk"),
            round(col("c_acctbal") * 100).cast("long").as("cents"))
        val v0 = base.withColumn("seq", lit(0L))
        val v1 = base.filter(col("hk") % 3 === 0)
          .withColumn("cents", col("cents") +
            when(col("hk") % 6 === 0, 0L).otherwise(10000L))
          .withColumn("seq", lit(1L))
        val v2 = base.filter(col("hk") % 9 === 0)
          .withColumn("cents", col("cents") + 20000L)
          .withColumn("seq", lit(2L))
        val hist = graft.ops.ScdOps.buildHistory(
            v0.unionByName(v1).unionByName(v2), "hk", Seq("cents"))
          .select(col("hk"), col("valid_from"), col("valid_to"), col("cents"))
        val staged = stagedOrders(s, d)
        replayLinked(s, staged, "append") { stream =>
          stream.select(col("o_orderkey"), col("o_custkey").as("k"),
              (col("o_orderkey") % 3).as("vseq"))
            .join(broadcast(hist),
              col("k") === col("hk") && col("vseq") >= col("valid_from") &&
                (col("valid_to").isNull || col("vseq") <= col("valid_to")))
            .select(col("o_orderkey"), col("k"), col("vseq"),
              col("cents").as("cents_at"))
        }.orderBy("o_orderkey")
      },
      """WITH base AS (SELECT c_custkey AS k,
        |                     CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |              FROM customer),
        |  v AS (SELECT k, cents, CAST(0 AS BIGINT) AS seq FROM base
        |        UNION ALL
        |        SELECT k, cents + CASE WHEN k % 6 = 0 THEN 0 ELSE 10000 END,
        |               CAST(1 AS BIGINT) FROM base WHERE k % 3 = 0
        |        UNION ALL
        |        SELECT k, cents + 20000, CAST(2 AS BIGINT) FROM base WHERE k % 9 = 0),
        |  lagd AS (SELECT *, LAG(cents) OVER (PARTITION BY k ORDER BY seq) AS prev FROM v),
        |  hist AS (SELECT k, seq AS vseq, cents FROM lagd
        |           WHERE prev IS NULL OR cents <> prev),
        |  f AS (SELECT o_orderkey, o_custkey AS k, o_orderkey % 3 AS vseq FROM orders)
        | SELECT f.o_orderkey, f.k, f.vseq, h.cents AS cents_at
        | FROM f ASOF LEFT JOIN hist h ON f.k = h.k AND f.vseq >= h.vseq
        | ORDER BY f.o_orderkey""".stripMargin),

    // ---- stream-stream LEFT OUTER interval join (26th twin) --------------
    // the semantics stream_interval_join cannot express: purchases with NO
    // click in their ±5 min window still emit, NULL-padded — and Spark can
    // only emit them when the watermark proves the window closed, so the
    // replay appends a flush batch (one far-future sentinel per side,
    // user_id −1, filtered from the sink). The no-data batch that follows
    // the watermark advance is what evicts and emits the tail rows; state
    // stays bounded by delay × stream rate per side exactly as the inner
    // form. Oracle: the batch LEFT JOIN — every purchase appears exactly
    // once per matching click or once with NULL, proving the streaming
    // eviction path emits the complete outer set, no dupes, no drops.
    ("stream_interval_outer_join",
      (s, d) => {
        def sentinel(tpe: String) = s.range(1).select(
          lit(-1L).as("event_id"),
          lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
          lit(-1L).as("user_id"),
          lit(tpe).as("event_type"),
          lit(0.0).as("value"),
          lit("{}").as("props"))
        val flush = sentinel("purchase").union(sentinel("click"))
        // staged bulk hardlinked like every other events twin; only the
        // 2-row sentinel is written
        replayLinked(s, stagedEvents(s, d), "append", extra = Seq(flush))(
            StreamingIngest.streamingIntervalJoinOuter(_))
          .filter(col("user_id") >= 0L)
          .orderBy("purchase_id", "click_id")
      },
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
        | FROM (SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events
        |       WHERE event_type = 'purchase') p
        | LEFT JOIN (SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events
        |       WHERE event_type = 'click') c
        |   ON p.user_id = c.user_id
        |  AND c.tsn BETWEEN p.tsn - 300000000 AND p.tsn + 300000000
        | ORDER BY purchase_id, click_id""".stripMargin)
  )
}
