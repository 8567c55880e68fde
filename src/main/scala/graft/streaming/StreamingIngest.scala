package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming operators: watermarked windows, sessions and
  * dedup, stateful sketches, stream-stream joins, and `foreachBatch` loops
  * that probe a persisted, `batch=<n>`-partitioned store (near-dup
  * candidates, entity match, sorted-neighborhood ER, attribution) with
  * per-batchId overwrite, so a replayed micro-batch is idempotent
  * (SURVEY.md §2.7).
  */
object StreamingIngest {

  /** Event-time windowed aggregation with a watermark — the generalized
    * streaming surface (SURVEY §2.7): tumbling/sliding window counts + sums
    * per event type over 1-hour windows. `events` must carry a timestamp
    * column `ts`; late data beyond the 10-minute watermark is dropped,
    * bounding state.
    */
  def windowedEventCounts(events: DataFrame, slide: String): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("total"))

  /** Streaming exact dedup — the incremental analog of
    * [[graft.llm.Dedup.exactGroups]]: re-arrivals of byte-identical content
    * within the watermark horizon are dropped; the first arrival wins.
    * State is BOUNDED: `dropDuplicatesWithinWatermark` evicts a content
    * hash once the watermark passes its event time, so a continuously
    * ingesting 100 TB pipeline holds only one horizon's worth of 16-byte
    * digests per partition, not the full history. `docs` must be a streaming
    * DataFrame carrying `ts` (event time).
    */
  def streamingExactDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming gap-based sessionization — the incremental analog of
    * [[graft.ops.TemporalOps.sessionize]], via Spark's native
    * `session_window`: a session extends while consecutive events are less
    * than `gap` = 30 minutes apart; the 10-minute watermark closes sessions and EVICTS their state,
    * so a continuously ingesting pipeline holds only open sessions, not the
    * full history. Emits one row per closed/updated session:
    * (key, start_ts = first event, n_events, sum_value).
    * Boundary note vs the batch form: `session_window` merges at strictly
    * `diff < gap`, the batch operator at `diff <= gap` — identical for every
    * gap that doesn't exactly equal an inter-event delta.
    */
  def streamingSessionStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("n_events"), col("sum_value"))

  /** Session stats with a PER-EVENT dynamic gap (session_window's
    * expression form): each event proposes a window [ts, ts + gap(event))
    * and overlapping proposals merge — so e.g. purchases hold a session
    * open longer than clicks. Same state discipline as the fixed-gap form
    * (watermark-bounded session state per key); the relational equivalent
    * is a running max of per-event window ends (new session iff the event
    * starts at/after every earlier end), which is what the twin's oracle
    * replays.
    */
  def streamingDynamicSessionStats(events: DataFrame,
                                   gapExpr: org.apache.spark.sql.Column): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gapExpr), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("n_events"), col("sum_value"))

  /** Streaming near-duplicate candidate detection — the continuous-ingestion
    * dedup loop at 100 TB: each micro-batch of documents is sketched ONCE
    * (shingles → MinHash via [[graft.llm.Dedup.minhashSignatures]]), probed
    * against the PERSISTED corpus signature store with
    * [[graft.llm.Dedup.incrementalCandidates]] (incoming bands broadcast
    * against the store — the corpus is never re-sketched and never shuffled),
    * candidate pairs are appended to `pairsDir`, and the batch's signatures
    * are appended to the store so later batches dedup against everything
    * before them. The first batch (no store yet) runs within-batch LSH only.
    * Downstream, a periodic batch job verifies candidates with exact Jaccard
    * (the [[graft.llm.Dedup.removeNearDuplicates]] tail) — candidates are
    * additive, so streaming-append semantics are exactly right.
    *
    * Idempotence under at-least-once replay: foreachBatch can re-run a
    * batch after a failure/restart, and a plain append would then duplicate
    * BOTH sinks — duplicated store rows are the worse half, re-amplifying
    * candidate output for every later batch. Each batch therefore
    * OVERWRITES its own `batch=<id>` subdirectory (batchId is stable across
    * replays — Spark's foreachBatch contract), so a replay replaces the
    * same files instead of adding new ones; readers see the directories as
    * a hive partition column, which the store probe drops.
    */
  def startNearDupCandidateStream(docs: DataFrame, sigStoreDir: String,
                                  pairsDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processNearDupBatch(batch, batchId, sigStoreDir, pairsDir)
      }
      .start()

  /** One micro-batch of the near-dup loop, exposed so the replay contract
    * is testable directly: calling this twice with the SAME batchId must
    * leave both sinks exactly as a single call would (the at-least-once
    * idempotence the stream relies on).
    */
  private[graft] def processNearDupBatch(batch: DataFrame, batchId: Long,
                                             sigStoreDir: String, pairsDir: String): Unit = {
    val bands = 4
    val numHashes = 12
    val spark = batch.sparkSession
    // materialized ONCE per batch (probed for candidates AND appended
    // to the store — incrementalCandidates is told not to re-checkpoint)
    // and released when the batch is done: a streaming loop that pins a
    // copy per micro-batch leaks block storage over continuous ingestion
    val incSigs = graft.llm.Dedup.minhashSignatures(
      graft.llm.Dedup.wordShingles(batch, 3), numHashes)
      .localCheckpoint(true)
    try {
      val store = new org.apache.hadoop.fs.Path(sigStoreDir)
      val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a replayed batch must not probe its OWN previous partial write:
      // exclude this batch's subdirectory from the corpus-store read.
      // Anything in the store that is NOT a batch= subdirectory (e.g. a
      // flat-layout store written before per-batch partitioning) would be
      // silently skipped by the probe — every near-dup of a historical
      // document missed with no error — so a mixed layout fails loudly
      // with a migration path instead.
      val pastBatches = if (fs.exists(store)) {
        val entries = fs.listStatus(store).map(_.getPath.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith("."))
        val legacy = entries.filterNot(_.startsWith("batch="))
        require(legacy.isEmpty,
          s"signature store $sigStoreDir contains non-batch-partitioned entries " +
            s"(${legacy.take(3).mkString(", ")}): a flat-layout store's history " +
            "would be silently skipped by the candidate probe — move legacy " +
            "files into a batch=<n> subdirectory (e.g. batch=-1) first")
        entries.filter(n => n != s"batch=$batchId").map(n => s"$sigStoreDir/$n").toSeq
      } else Seq.empty
      val pairs =
        if (pastBatches.nonEmpty)
          graft.llm.Dedup.incrementalCandidates(
            spark.read.parquet(pastBatches: _*), incSigs,
            bands, numHashes / bands, materializeIncoming = false)
        else
          graft.llm.Dedup.lshCandidates(incSigs, bands, numHashes / bands)
      // overwrite-per-batch = idempotent under foreachBatch replay
      pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
      incSigs.write.mode("overwrite").parquet(s"$sigStoreDir/batch=$batchId")
    } finally { incSigs.unpersist(); () }
  }

  /** Continuous entity resolution: every micro-batch of incoming entities
    * (a) probes the PERSISTED reference store for fuzzy matches
    * (Jaro-Winkler ≥ 0.9) inside its blocking keys and (b) becomes part of that store for later batches —
    * the near-dup candidate loop ([[startNearDupCandidateStream]]) with
    * the LSH sketch replaced by the blocking-join + Jaro-Winkler verify
    * tier ([[graft.ops.EntityResolution]]). Same store discipline: the
    * store is batch=<n>-partitioned, a batch never probes its own partial
    * write, and per-batchId overwrite makes replay idempotent under
    * at-least-once delivery.
    *
    * Scale shape: the per-batch increment is small and BROADCAST against
    * the accumulated reference store (which is corpus-sized and only ever
    * scanned, never reshuffled); the quadratic term stays within blocks as
    * in the batch operator. Matches land in `matchesDir/batch=<n>` —
    * (block cols, key_ref, key_in, name_ref, name_in, sim).
    */
  def startEntityMatchStream(entities: DataFrame, refStoreDir: String,
                             matchesDir: String, checkpointDir: String,
                             blockCols: Seq[String], keyCol: String,
                             nameCol: String): StreamingQuery =
    entities.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processEntityMatchBatch(batch, batchId, refStoreDir, matchesDir,
          blockCols, keyCol, nameCol)
      }
      .start()

  /** One micro-batch of the entity-match loop (exposed for the replay
    * contract, like [[processNearDupBatch]]).
    */
  private[graft] def processEntityMatchBatch(batch: DataFrame, batchId: Long,
                                             refStoreDir: String, matchesDir: String,
                                             blockCols: Seq[String], keyCol: String,
                                             nameCol: String): Unit = {
    val spark = batch.sparkSession
    val inc = batch
      .select((blockCols :+ keyCol :+ nameCol).map(col): _*)
      .localCheckpoint(true)
    try {
      val store = new org.apache.hadoop.fs.Path(refStoreDir)
      val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pastBatches = if (fs.exists(store)) {
        val entries = fs.listStatus(store).map(_.getPath.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith("."))
        val legacy = entries.filterNot(_.startsWith("batch="))
        require(legacy.isEmpty,
          s"reference store $refStoreDir contains non-batch-partitioned entries " +
            s"(${legacy.take(3).mkString(", ")}): move legacy files into a " +
            "batch=<n> subdirectory (e.g. batch=-1) first")
        entries.filter(n => n != s"batch=$batchId").map(n => s"$refStoreDir/$n").toSeq
      } else Seq.empty
      val matches =
        if (pastBatches.nonEmpty) {
          val ref = spark.read.parquet(pastBatches: _*)
            .withColumnsRenamed(Map(keyCol -> "key_ref", nameCol -> "name_ref"))
          val in = broadcast(inc
            .withColumnsRenamed(Map(keyCol -> "key_in", nameCol -> "name_in")))
          ref.join(in, blockCols)
            .withColumn("sim",
              graft.functions.JaroWinkler.jaroWinkler(col("name_ref"), col("name_in")))
            .filter(col("sim") >= 0.9)
        } else {
          val empty = inc.limit(0)
          empty.select(blockCols.map(col) :+
            col(keyCol).as("key_ref") :+ col(keyCol).as("key_in") :+
            col(nameCol).as("name_ref") :+ col(nameCol).as("name_in") :+
            lit(0.0).as("sim"): _*)
        }
      matches.write.mode("overwrite").parquet(s"$matchesDir/batch=$batchId")
      inc.write.mode("overwrite").parquet(s"$refStoreDir/batch=$batchId")
    } finally { inc.unpersist(); () }
  }

  /** Streaming SORTED-NEIGHBORHOOD entity resolution — the ingest-time
    * twin of the linear ER shape. The maintenance problem is RANK SHIFT:
    * a new row in a block moves the rank of every row sorting after it,
    * which both CREATES window pairs (the new row's neighborhood) and
    * RETIRES old ones (two rows pushed beyond `window` positions apart),
    * so incremental emission alone can never converge to the batch
    * answer. The correct bounded unit is the BLOCK: each micro-batch
    * folds its rows into a per-batch row store, re-derives the pair set
    * of exactly the TOUCHED blocks from the converged rows, and versions
    * it under `batch=<id>` beside a touched-block manifest — all writes
    * idempotent per batchId (foreachBatch replay-safe). The converged
    * answer (latest version per block, [[sortedErResult]]) is identical
    * to batch [[graft.ops.EntityResolution.sortedNeighborhoodPairs]]
    * over the full corpus; per-batch work is Σ|touched block| · window —
    * bounded, because SNM exists for FIXED-CARDINALITY blocking keys
    * (each block re-pairs in linear time, and only when it changes).
    * Blocks are `p_brand`, keys `p_partkey`, names `p_name`; pairs need
    * Jaro-Winkler ≥ 0.9 within a window of 10.
    */
  def startSortedErStream(entities: DataFrame, rowStoreDir: String,
                          pairsDir: String, manifestDir: String,
                          checkpointDir: String): StreamingQuery =
    entities.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processSortedErBatch(batch, batchId, rowStoreDir, pairsDir,
          manifestDir, "p_brand", "p_partkey", "p_name", 0.9, 10)
      }
      .start()

  /** One micro-batch of the sorted-ER maintenance loop (exposed for the
    * replay contract, like [[processEntityMatchBatch]]).
    */
  private[graft] def processSortedErBatch(batch: DataFrame, batchId: Long,
      rowStoreDir: String, pairsDir: String, manifestDir: String,
      blockCol: String, keyCol: String, nameCol: String,
      minSim: Double, window: Int): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val inc = batch.select(Seq(blockCol, keyCol, nameCol).map(col): _*)
      .localCheckpoint(true)
    try {
      inc.write.mode("overwrite").parquet(s"$rowStoreDir/batch=$batchId")
      val touched = inc.select(col(blockCol)).distinct().localCheckpoint(true)
      // converged rows (this batch included) of the touched blocks only —
      // the store reads back with `batch` as an inferred partition column
      val rows = spark.read.parquet(rowStoreDir).drop("batch")
        .join(broadcast(touched), Seq(blockCol))
      val pairs = graft.ops.EntityResolution.sortedNeighborhoodPairs(
        rows, Seq(blockCol), keyCol, nameCol, minSim, window)
      pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
      touched.write.mode("overwrite").parquet(s"$manifestDir/batch=$batchId")
    } finally { inc.unpersist(); () }
  }

  /** Converged sorted-ER answer: each block's pairs from the LATEST batch
    * that touched it (older versions are superseded whole-block).
    */
  def sortedErResult(spark: org.apache.spark.sql.SparkSession,
                     pairsDir: String, manifestDir: String,
                     blockCol: String): DataFrame = {
    val latest = spark.read.parquet(manifestDir)
      .groupBy(col(blockCol)).agg(max(col("batch")).as("batch"))
    spark.read.parquet(pairsDir)
      .join(broadcast(latest), Seq(blockCol, "batch"))
      .drop("batch")
  }

  /** Streaming benchmark decontamination: the bloom probe
    * ([[graft.functions.BloomCountContaminatedExpr]]) is a stateless
    * map-side filter — no shuffle, no watermark, no state store — so the
    * SAME kernel chains into a streaming ingest unchanged: build the bitset
    * once from the (batch) eval corpus via
    * [[graft.llm.Dedup.buildBloom]], then every micro-batch drops
    * contaminated documents at scan speed. The fixed-size bitset is what
    * makes this streamable: a broadcast eval-shingle SET would need
    * re-broadcast machinery as the eval suite grows, while 2^mBits bits
    * ride in the continuous query as one codegen reference object.
    * Stream-equals-batch by construction (the spec pins it).
    */
  def streamingDecontaminate(docs: DataFrame, bloom: graft.functions.BloomBits): DataFrame =
    graft.llm.Dedup.applyBloomFilter(docs, bloom)

  /** Custom streaming state via `mapGroupsWithState`: per-source running
    * corpus statistics (doc count, total whitespace tokens), updated every
    * micro-batch — the arbitrary-stateful surface that windowed aggregation
    * can't express (state is cumulative over the whole stream, not a
    * window). Emit in `update` output mode; state is one (long, long) pair
    * per source, so memory is bounded by source cardinality.
    */
  def runningSourceStats(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.Encoders
    val pairs = docs.select(col("source").cast("string").as("source"),
      size(split(col("text"), "\\s+")).as("n_tokens"))
    implicit val inEnc = Encoders.product[(String, Int)]
    implicit val stEnc = Encoders.product[(Long, Long)]
    implicit val outEnc = Encoders.product[(String, Long, Long)]
    pairs.as[(String, Int)]
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[(Long, Long), (String, Long, Long)](GroupStateTimeout.NoTimeout) {
        case (src, rows, state) =>
          var (n, t) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { r => n += 1; t += r._2 }
          state.update((n, t))
          (src, n, t)
      }
      .toDF("source", "n_docs", "total_tokens")
  }

  /** Streaming CUSUM level-shift detection via `flatMapGroupsWithState` —
    * the online twin of the ts_cusum_shift batch entry: per event_type the
    * state is the day-grain count map (DATE-RANGE-bounded, never
    * event-count-bounded — the rollup IS the state), merged every
    * micro-batch; each batch re-emits the full CUSUM series from the
    * updated counts, stamped with an emission sequence so the reader keeps
    * only each day's LATEST verdict (earlier emissions are provisional —
    * a day straddling a batch boundary has only partial counts until the
    * next batch lands). The detection target is the running mean of the
    * observed days, so the final emission's target equals the batch
    * operator's — converged sink == batch answer, row for row.
    */
  def streamingCusum(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    val rows = events.select(col("event_type").cast("string").as("et"),
      (unix_micros(col("ts")).cast("long") / 86400000000L).cast("long").as("day"))
    implicit val inEnc = Encoders.product[(String, Long)]
    implicit val stEnc = Encoders.kryo[(Int, Map[Long, Long])]
    implicit val outEnc = Encoders.product[(String, Long, Long, Long, Boolean, Int)]
    rows.as[(String, Long)]
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[(Int, Map[Long, Long]),
          (String, Long, Long, Long, Boolean, Int)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (et, batch, state) =>
          val (seq0, counts0) = state.getOption.getOrElse((0, Map.empty[Long, Long]))
          val counts = batch.foldLeft(counts0) { case (m, (_, day)) =>
            m + (day -> (m.getOrElse(day, 0L) + 1L)) }
          val seq = seq0 + 1
          state.update((seq, counts))
          val days = counts.toSeq.sortBy(_._1)
          val target = days.map(_._2).sum * 1000000L / days.size
          var p = 0L
          var minP = 0L // min over prefix INCLUDING the virtual P_0 = 0
          days.iterator.map { case (day, n) =>
            p += n * 1000000L - target
            minP = math.min(minP, p)
            val s = p - math.min(minP, 0L)
            (et, day, n, s, s > target, seq)
          }
      }
      .toDF("event_type", "day", "n", "cusum_micro", "shifted", "emit_seq")
  }

  /** Spark's NATIVE watermarked stream-stream join — the ±5-minute
    * purchase↔click interval join ([[graft.queries.TemporalQueries.IntervalJoinSql]])
    * as two watermarked branches of the event stream joined on user +
    * event-time range. Unlike the `flatMapGroupsWithState` twins, ALL
    * state management is Spark's own stream-stream join state store:
    * each side buffers only rows young enough to still find partners,
    * and the time-range condition is what lets the watermark evict —
    * the core scale property (state is bounded by the 10-minute watermark
    * delay of stream volume per side, never by stream length).
    *
    * Convergence contract: with the delay covering the range, a
    * time-ordered micro-batch replay emits EXACTLY the batch operator's
    * pair set — a batch-1 purchase still matches a batch-2 click because
    * the watermark (max batch-1 time − delay) cannot pass any purchase
    * whose ±range window is still open. Inner join, so no emitted row is
    * ever provisional; cross-batch pairs simply surface in the later
    * batch.
    */
  def streamingIntervalJoin(events: DataFrame): DataFrame = {
    val rangeMinutes = 5
    val delayMinutes = 10
    val typed = events.select(
      col("user_id").cast("long").as("user_id"),
      col("event_id").cast("long").as("event_id"),
      graft.ops.TemporalOps.asTimestamp(events).as("ts"),
      col("event_type").cast("string").as("event_type"))
    val purchases = typed.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", s"$delayMinutes minutes")
    val clicks = typed.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", s"$delayMinutes minutes")
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $rangeMinutes MINUTES") &&
          col("c_ts") <= col("p_ts") + expr(s"INTERVAL $rangeMinutes MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
  }

  /** LEFT OUTER watermarked stream-stream join — [[streamingIntervalJoin]]
    * with the semantics every conversion pipeline eventually needs: a
    * purchase with NO click in its ±range window must still emit, with a
    * NULL click_id. Matched pairs emit as they pair (inner behavior); the
    * NULL-padded row for an unmatched purchase emits ONLY when the
    * watermark passes the end of its join window — Spark can't know "no
    * click will come" any earlier, so outer results are intrinsically
    * delayed by delay + range (15 minutes) of event time. State and
    * eviction are identical to the inner form (bounded by delay × stream
    * rate per side); the output is what differs.
    *
    * Convergence contract: the purchase-side NULL rows for the stream's
    * TAIL only flush if event time advances past their windows — a finite
    * replay must append a watermark-advancing flush batch (one far-future
    * event per side; the caller filters its sentinel ids from the sink).
    */
  def streamingIntervalJoinOuter(events: DataFrame): DataFrame = {
    val rangeMinutes = 5
    val delayMinutes = 10
    val typed = events.select(
      col("user_id").cast("long").as("user_id"),
      col("event_id").cast("long").as("event_id"),
      graft.ops.TemporalOps.asTimestamp(events).as("ts"),
      col("event_type").cast("string").as("event_type"))
    val purchases = typed.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", s"$delayMinutes minutes")
    val clicks = typed.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", s"$delayMinutes minutes")
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $rangeMinutes MINUTES") &&
          col("c_ts") <= col("p_ts") + expr(s"INTERVAL $rangeMinutes MINUTES"),
        "leftOuter")
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Streaming backward as-of enrichment via `flatMapGroupsWithState`: each
    * `purchase` event is emitted with the latest `click` value at or
    * before its timestamp for the same user — the streaming twin of
    * [[graft.ops.TemporalOps.asofJoinBackward]] (matching its at-tie and
    * click-tie semantics: right rows apply before left rows at equal ts,
    * equal-ts right rows collapse to their max value).
    *
    * State is ONE (ts, value) pair per key — bounded by key cardinality,
    * never by stream length; within a (key, micro-batch) group events are
    * sorted by event time, so memory is bounded by a key's per-batch
    * volume. Correctness contract: per-key event time must be STRICTLY
    * increasing across micro-batches — equivalently, an equal-timestamp
    * group must never straddle a batch boundary (time-split file replay
    * with cut BETWEEN distinct timestamps, a strictly-ordered log).
    * Non-decreasing is NOT enough: a right row equal-ts to an
    * earlier-batch left row would arrive after that left row was already
    * emitted, while the batch operator pre-aggregates max over ALL
    * equal-ts right rows before any left row at that instant. A right row
    * arriving in a later batch than a left row it should have matched is
    * likewise not retro-applied — use the batch operator for unordered
    * data.
    */
  def streamingAsofEnrich(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.Encoders
    // key/time/id nulls cannot be as-of matched — drop them like the batch
    // operator's window (null keys group apart, null ts sorts nowhere);
    // a null VALUE is data (row semantics: it matches as null), so value
    // stays Option through the encoder instead of crashing the query.
    // Event time goes through TemporalOps.asTimestamp, the same
    // grain-robust normalization every batch temporal operator uses: a
    // nanos-long ts is converted exactly, a TIMESTAMP_NTZ ts is refused
    // unless the session zone is UTC-equivalent — never silently shifted.
    val typed = events.select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(graft.ops.TemporalOps.asTimestamp(events)).as("ts_us"),
        col("event_type").cast("string").as("event_type"),
        col("value").cast("double").as("value"))
      .na.drop(Seq("user_id", "event_id", "ts_us"))
    implicit val inEnc = Encoders.product[(Long, Long, Long, String, Option[Double])]
    implicit val stEnc = Encoders.product[(Long, Option[Double], Boolean)]
    implicit val outEnc = Encoders.product[(Long, Long, Option[Double])]
    typed.as[(Long, Long, Long, String, Option[Double])]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Option[Double], Boolean), (Long, Long, Option[Double])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var (lastTs, lastV, has) = state.getOption.getOrElse((Long.MinValue, Option.empty[Double], false))
          // right rows sort before left rows at equal ts (the batch
          // operator's __tag ordering); event_id totalizes the order
          val sorted = rows.toArray
            .sortBy(e => (e._3, if (e._4 == "click") 0 else 1, e._2))
          val out = Vector.newBuilder[(Long, Long, Option[Double])]
          for (e <- sorted) {
            if (e._4 == "click") {
              if (has && e._3 == lastTs)
                // MAX over equal-ts rights ignores nulls, like the batch
                // pre-aggregation's max(value)
                lastV = (lastV.toSeq ++ e._5.toSeq).reduceOption(math.max(_: Double, _: Double))
              else { lastTs = e._3; lastV = e._5; has = true }
            } else if (e._4 == "purchase") {
              out += ((user, e._2, if (has) lastV else None))
            }
          }
          state.update((lastTs, lastV, has))
          out.result().iterator
      }
      .toDF("user_id", "event_id", "click_value")
  }

  /** Streaming first/last-touch attribution through a persisted touch
    * store — the continuous-marketing-pipeline twin of the batch
    * `ts_attribution` window pass (touches are click/view events within
    * 7 days before a purchase). Each micro-batch: the batch's touch
    * events land in `touchStoreDir/batch=<n>`; the batch's purchases are
    * BROADCAST against the accumulated store (plus the batch's own
    * earlier touches) and aggregated per purchase — the store is
    * corpus-sized and only ever scanned, never reshuffled; the per-batch
    * shuffle moves only matched (touch, purchase) rows.
    *
    * Cross-batch contract: batches must arrive event-time-ordered (a
    * touch belongs to the same or an earlier batch than any purchase it
    * precedes) — then the replay converges to the batch operator exactly.
    * A touch arriving AFTER a purchase it should have matched is not
    * retro-applied (use the batch operator for unordered data — the
    * streamingAsofEnrich contract). Per-batchId overwrite of both the
    * attribution output and the store partition makes replay idempotent
    * under at-least-once delivery.
    */
  def startAttributionStream(events: DataFrame, touchStoreDir: String,
                             attribDir: String, checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processAttributionBatch(batch, batchId, touchStoreDir, attribDir)
      }
      .start()

  /** One micro-batch of the attribution loop (exposed for the replay
    * contract, like [[processEntityMatchBatch]]). `batch` must carry
    * (`event_id`, `user_id`, `event_type`, `ts_us`).
    */
  private[graft] def processAttributionBatch(batch: DataFrame, batchId: Long,
                                             touchStoreDir: String, attribDir: String): Unit = {
    val spark = batch.sparkSession
    val inc = batch.select("event_id", "user_id", "event_type", "ts_us")
      .localCheckpoint(true)
    try {
      val incTouches = inc.filter(col("event_type").isin("click", "view"))
      val store = new org.apache.hadoop.fs.Path(touchStoreDir)
      val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pastBatches = if (fs.exists(store)) {
        fs.listStatus(store).map(_.getPath.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith("."))
          .filter(n => n != s"batch=$batchId")
          .map(n => s"$touchStoreDir/$n").toSeq
      } else Seq.empty
      val touches =
        if (pastBatches.nonEmpty)
          spark.read.parquet(pastBatches: _*).unionByName(incTouches)
        else incTouches
      val purchases = inc.filter(col("event_type") === "purchase")
      val p = broadcast(purchases.select(col("event_id").as("p_id"),
        col("user_id").as("p_user"), col("ts_us").as("p_ts")))
      val touchStruct = struct(col("ts_us"), col("event_id"), col("event_type"))
      val agg = touches.join(p,
          col("user_id") === col("p_user") &&
            col("ts_us") < col("p_ts") && col("ts_us") >= col("p_ts") - 604800000000L)
        .groupBy(col("p_id"))
        .agg(max(touchStruct).as("last_s"), min(touchStruct).as("first_s"),
          count(lit(1)).as("n"))
      val out = purchases.select(col("event_id"), col("user_id"))
        .join(agg, col("event_id") === col("p_id"), "left")
        .select(col("event_id"), col("user_id"),
          col("last_s.event_type").as("last_touch"),
          col("first_s.event_type").as("first_touch"),
          coalesce(col("n"), lit(0L)).as("n_touches"))
      out.write.mode("overwrite").parquet(s"$attribDir/batch=$batchId")
      incTouches.write.mode("overwrite").parquet(s"$touchStoreDir/batch=$batchId")
    } finally { inc.unpersist(); () }
  }
}
