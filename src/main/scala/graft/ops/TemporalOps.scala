package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Event-time operators Spark lacks as builtins: backward as-of join and
  * gap-based sessionization. Both are implemented as ONE shuffle on the
  * entity key — the shape that scales: no range-join explosion, no
  * driver-side state, skew bounded by the hottest single entity.
  *
  * Time inside the operators is a LONG (epoch micros); [[epochMicros]] /
  * [[asTimestamp]] normalize an event-time column from ANY physical grain a
  * parquet writer might have used — epoch-nanos long (TIMESTAMP(NANOS) under
  * `nanosAsLong`), TIMESTAMP, or TIMESTAMP_NTZ (pandas/pyarrow's default
  * µs-no-timezone output) — so an upstream regeneration of the data with a
  * different writer cannot break the operators.
  */
object TemporalOps {

  /** Backward as-of join: for every left row, the value of the LATEST right
    * row with `right.ts <= left.ts` for the same key (null when no prior
    * right row exists) — the "most recent quote for each trade" shape.
    *
    * Implemented as union + one window pass rather than a join: right rows
    * sort before left rows at equal ts (tag 0 vs 1) and
    * `last(value, ignoreNulls)` carries the latest right value forward. One
    * shuffle on the key, linear in |left|+|right|; a range join would
    * re-scan candidate windows per left row and explode on hot keys.
    * `rightTieCol` breaks ordering ties between right rows sharing a
    * timestamp (last one wins, deterministically).
    *
    * `tolerance` (same units as `tsCol`) ages out stale matches: the carried
    * value is nulled when `left.ts - right.ts > tolerance`. The latest prior
    * right row is the only candidate, so "latest within tolerance" needs no
    * extra search. Matching is ROW-based like SQL ASOF JOIN: a right row
    * whose value is null matches as null — it does not fall through to an
    * older non-null value.
    *
    * Left columns are preserved; the carried value lands in `asOfCol`.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame,
                       keyCol: String, tsCol: String,
                       valueCol: String, asOfCol: String,
                       rightTieCol: String,
                       tolerance: Option[Long] = None): DataFrame = {
    require(!left.columns.contains(asOfCol),
      s"asofJoinBackward: left already has a column named '$asOfCol' — pick another asOfCol")
    tolerance.foreach(t => require(t >= 0,
      s"asofJoinBackward: tolerance must be non-negative, got $t"))
    val leftCols = left.columns
    // the tie column keeps ITS OWN type: casting to long would null out
    // non-numeric tie keys (string event ids) and silently demote the
    // documented deterministic last-tie-wins to arbitrary order
    val tieType = right.schema(rightTieCol).dataType
    val l = left.select(
      col(keyCol), col(tsCol), lit(1).as("__tag"), lit(null).cast(tieType).as("__tie"),
      lit(null).cast(right.schema(valueCol).dataType).as("__v"),
      struct(leftCols.toIndexedSeq.map(col): _*).as("__row"))
    val r = right.select(
      col(keyCol), col(tsCol), lit(0).as("__tag"), col(rightTieCol).as("__tie"),
      col(valueCol).as("__v"), lit(null).cast(l.schema("__row").dataType).as("__row"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__tag"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry (value, its timestamp) together so a tolerance can age out the
    // match: the latest prior right row is the ONLY candidate — if it is too
    // old, no in-tolerance match exists
    val carried = l.unionByName(r)
      .withColumn("__cv",
        last(when(col("__tag") === 0, struct(col("__v"), col(tsCol).as("__vts"))),
          ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    val value = tolerance match {
      case None => col("__cv.__v")
      case Some(t) => when(col(tsCol) - col("__cv.__vts") <= t, col("__cv.__v"))
    }
    carried
      .withColumn(asOfCol, value)
      .select(leftCols.toIndexedSeq.map(c => col(s"__row.$c").as(c)) :+ col(asOfCol): _*)
  }

  /** Forward as-of join: for every left row, the value of the EARLIEST
    * right row with `right.ts >= left.ts` for the same key — the "first
    * conversion event at-or-after each exposure" shape (funnels,
    * click-to-purchase attribution). Implemented by time negation over
    * [[asofJoinBackward]]: latest-at-or-before on `-ts` IS
    * earliest-at-or-after on `ts`, so the one-shuffle union+window design
    * (and its tolerance/tie semantics, mirrored) carries over unchanged —
    * `tolerance` ages out matches further than `tolerance` AFTER the left
    * row, and ties among equal-ts right rows resolve to the LAST by
    * `rightTieCol` in the negated order, i.e. deterministically.
    * `tsn` must be a (possibly negative) epoch-µs long; Long.MinValue is
    * refused implicitly (negation would overflow) by the epoch domain.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame,
                      keyCol: String, valueCol: String, asOfCol: String,
                      rightTieCol: String,
                      tolerance: Option[Long] = None): DataFrame = {
    val neg = asofJoinBackward(
      left.withColumn("tsn", -col("tsn")),
      right.withColumn("tsn", -col("tsn")),
      keyCol, "tsn", valueCol, asOfCol, rightTieCol, tolerance)
    neg.withColumn("tsn", -col("tsn"))
  }

  /** Gap-based sessionization: within each key, a new session starts when
    * the gap to the previous event exceeds `gap` (same units as `tsn`).
    * Returns the input plus `session_no` (1-based per key, in time order).
    * One shuffle on the key; the lag + running-sum pair is the batch
    * equivalent of Structured Streaming's session_window (the streaming
    * module covers the incremental form).
    * `tieCol` makes ordering — and therefore session numbering — total and
    * deterministic when events share a timestamp.
    */
  def sessionize(events: DataFrame, keyCol: String, gap: Long, tieCol: String): DataFrame = {
    require(gap >= 0, s"sessionize: gap must be non-negative, got $gap")
    val reserved = Seq("session_no", "__prev", "__new")
    require(!events.columns.exists(reserved.contains),
      s"sessionize: input already has one of ${reserved.mkString(", ")}")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("tsn"), col(tieCol))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__prev", lag(col("tsn"), 1).over(ord))
      .withColumn("__new",
        when(col("__prev").isNull || col("tsn") - col("__prev") > gap, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("__new")).over(run))
      .drop("__prev", "__new")
  }

  /** Per-session aggregates over [[sessionize]] output: event count and
    * span bounds — the typical downstream of sessionization.
    */
  def sessionStats(sessions: DataFrame, keyCol: String): DataFrame =
    sessions.groupBy(col(keyCol), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tsn")).as("start_ts"),
        max(col("tsn")).as("end_ts"))

  /** Point-in-interval join via time-bucket replication: every point row
    * is matched with every interval row of the same key whose
    * `[startCol, endCol]` (inclusive) contains the point's `tsCol`. All
    * three time columns are epoch-µs longs ([[epochMicros]]).
    *
    * Scale shape: a direct `BETWEEN` join is a range join — Spark plans it
    * as BroadcastNestedLoop (or a per-key cross product), which re-scans
    * every interval per point and explodes on hot keys. Instead each
    * interval is replicated to the fixed-width time buckets it touches
    * (`sequence(floor(start/B), floor(end/B))`), each point maps to its ONE
    * bucket, and the join is a plain equi-join on `(key, bucket)` — shuffle
    * both sides once, AQE-skew-splittable, with the residual containment
    * predicate filtering inside the join. A point's bucket is unique, so
    * each qualifying (interval, point) pair emerges exactly once — no
    * post-join dedup. Replication factor = span/B + 1 per interval, bounded
    * by `maxBucketsPerInterval` as an executable invariant ([[Bounded.guard]]
    * — a degenerate open-ended interval fails loudly instead of OOMing an
    * executor); pick `bucketWidth` near the TYPICAL interval span so the
    * factor stays O(1).
    *
    * Inner-join semantics: points without a containing interval are
    * dropped, points in n intervals appear n times. Interval columns are
    * carried alongside the point columns; name collisions are refused.
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
                   keyCol: String, tsCol: String,
                   startCol: String, endCol: String,
                   bucketWidth: Long,
                   maxBucketsPerInterval: Int = 4096): DataFrame = {
    require(bucketWidth > 0, s"intervalJoin: bucketWidth must be positive, got $bucketWidth")
    require(maxBucketsPerInterval >= 1,
      s"intervalJoin: maxBucketsPerInterval must be >= 1, got $maxBucketsPerInterval")
    val overlap = intervals.columns.toSet.intersect(points.columns.toSet) - keyCol
    require(overlap.isEmpty,
      s"intervalJoin: column name collision between points and intervals: ${overlap.mkString(", ")}")
    val reserved = Seq("__b", "__bkts")
    require(!(points.columns ++ intervals.columns).exists(reserved.contains),
      s"intervalJoin: input already has one of ${reserved.mkString(", ")}")
    // floored division toward −∞ (div truncates toward zero, which would
    // misbucket negative timestamps): ts − pmod(ts, B) is an exact multiple
    // of B, so the div is exact 64-bit integer arithmetic
    def bucketOf(c: Column): Column = {
      val m = c - pmod(c, lit(bucketWidth))
      // decimal division keeps the full 64-bit range exact (a double
      // division would round above 2^53); m is a multiple of B, so the
      // quotient is integral and the long cast is lossless
      (m.cast("decimal(30,0)") / lit(bucketWidth)).cast("long")
    }
    val ivalGuarded = intervals.withColumn("__bkts",
      sequence(
        Bounded.guard(bucketOf(col(startCol)),
          col(endCol) >= col(startCol) &&
            bucketOf(col(endCol)) - bucketOf(col(startCol)) < lit(maxBucketsPerInterval.toLong),
          s"intervalJoin: interval spans >= $maxBucketsPerInterval buckets of width " +
            s"$bucketWidth (or end < start) — raise bucketWidth or maxBucketsPerInterval"),
        bucketOf(col(endCol))))
    val ival = ivalGuarded
      .withColumn("__b", explode(col("__bkts"))).drop("__bkts")
    val pts = points.withColumn("__b", bucketOf(col(tsCol)))
    pts.join(ival, Seq(keyCol, "__b"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__b")
  }

  /** Epoch MICROS — the cross-engine-safe grain (DuckDB and most engines
    * truncate nanosecond parquet timestamps to µs; comparing at ns on one
    * side and µs on the other silently flips at-tie as-of matches). Integer
    * `div` keeps the full 64-bit value exact — a double division of an
    * epoch-nanos long would round above 2^53.
    *
    * Grain-robust: a long column is epoch NANOS (the `nanosAsLong` read of
    * TIMESTAMP(NANOS) parquet); TIMESTAMP goes through `unix_micros`
    * directly; TIMESTAMP_NTZ — what Spark infers for `timestamp[us]`
    * parquet written without UTC adjustment (pandas/pyarrow default) — is
    * cast to TIMESTAMP first, which under the session's pinned UTC zone is
    * an exact relabeling and matches DuckDB's grain-agnostic `epoch_us(ts)`.
    */
  def epochMicros(df: DataFrame): Column =
    df.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case TimestampType => unix_micros(col("ts"))
      case TimestampNTZType =>
        requireUtcSession(df, "epochMicros")
        unix_micros(col("ts").cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"epochMicros: column 'ts' has unsupported event-time type $other " +
          "(expected epoch-nanos LONG, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  /** The NTZ→TIMESTAMP cast is an exact µs relabeling ONLY under a UTC
    * session zone; any other zone shifts every instant by its offset and
    * maps DST-ambiguous wall-clock times non-uniquely — a silently-wrong
    * answer, which is exactly what the unsupported-type branches above
    * refuse to produce. So refuse loudly here too. Equivalence is decided
    * by ZoneId RULES, not string equality: "Etc/UTC", "GMT", "Z", "+00:00"
    * all relabel exactly and are accepted; an unparseable zone is refused.
    * The check runs at plan-construction time — the relabeling cast is
    * baked into the plan then, so a session-zone change between building
    * and executing shifts what the CAST means; callers must build and run
    * under the same zone (the normal single-session shape).
    */
  private def requireUtcSession(df: DataFrame, fn: String): Unit = {
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    val isUtc =
      try java.time.ZoneId.of(tz).getRules == java.time.ZoneOffset.UTC.getRules
      catch { case _: java.time.DateTimeException => false }
    require(isUtc,
      s"$fn: TIMESTAMP_NTZ normalization requires a UTC-equivalent " +
        s"spark.sql.session.timeZone (got '$tz'); a non-UTC zone would " +
        "shift instants by the zone offset")
  }

  /** The same normalization to a TIMESTAMP column — for Structured
    * Streaming operators (`window`/`session_window`/watermarks require
    * TimestampType, not a long). Exact µs relabeling under a UTC session
    * zone, mirroring [[epochMicros]] case-for-case.
    */
  def asTimestamp(df: DataFrame): Column =
    df.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampType => col("ts")
      case TimestampNTZType =>
        requireUtcSession(df, "asTimestamp")
        col("ts").cast(TimestampType)
      case other => throw new IllegalArgumentException(
        s"asTimestamp: column 'ts' has unsupported event-time type $other " +
          "(expected epoch-nanos LONG, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  /** Calendar gap fill + forward fill — the time-series resample shape:
    * per key, a contiguous daily spine from the key's first to last
    * observed day, the day's aggregate where one exists, and the latest
    * prior day's aggregate carried forward across the gaps.
    *
    * Daily observation is `max(cents)` over `ts_us` days per (key, day) — commutative and
    * map-side combinable, so the first shuffle arrives pre-aggregated. The
    * spine is generated DISTRIBUTED, per key (`sequence` + `explode` on the
    * key's own [dmin, dmax] bounds): no driver-side calendar, no global
    * range table. The fill is `last(value, ignoreNulls)` over a window
    * partitioned by key — never an unpartitioned window.
    *
    * Scale shape: two key-partitioned shuffles (the (key, day) aggregate
    * and the spine join) + one key-partitioned window; output is
    * Σ_key span(key) rows. The one way this blows up is a single key whose
    * span is unbounded (one event in 1970, one today → 20k rows PER KEY),
    * so the span is runtime-guarded: any key spanning more than
    * `maxSpanDays` fails the query loudly (the [[Bounded.guard]]
    * discipline) instead of silently exploding the spine.
    *
    * Output: keyCol, `day` (epoch days), `filled_cents`, `observed` (1 for
    * days with a real observation, 0 for carried-forward gap days).
    * `filled_cents` is never null — each key's first spine day is by
    * construction an observed day.
    */
  def gapFillDaily(df: DataFrame, keyCol: String, maxSpanDays: Int = 3700): DataFrame = {
    require(maxSpanDays > 0, s"gapFillDaily: maxSpanDays must be positive, got $maxSpanDays")
    val obs = df
      .select(col(keyCol), expr(s"ts_us div ${86400L * 1000000L}").as("day"),
        col("cents").cast("long").as("__cents"))
      .groupBy(col(keyCol), col("day"))
      .agg(max(col("__cents")).as("day_cents"))
    val bounds = obs.groupBy(col(keyCol))
      .agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val spine = bounds.select(col(keyCol),
      explode(sequence(col("dmin"),
        Bounded.guard(col("dmax"), col("dmax") - col("dmin") <= maxSpanDays,
          s"gapFillDaily: a key spans more than $maxSpanDays days — raise " +
            "maxSpanDays explicitly if the spine is really wanted"))).as("day"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
    spine.join(obs, Seq(keyCol, "day"), "left")
      .withColumn("filled_cents", last(col("day_cents"), ignoreNulls = true).over(w))
      .withColumn("observed", col("day_cents").isNotNull.cast("int"))
      .select(col(keyCol), col("day"), col("filled_cents"), col("observed"))
  }

  /** Interval union: merge each key's overlapping-or-touching [st, en)
    * intervals into maximal runs. One key-partitioned window pass (the
    * running-max-of-en trick: a new run starts exactly when st clears every
    * earlier interval's end) + one groupBy — no self-join, no interval
    * join. Returns (key, gid, ms, me) with gid dense in run order.
    * `idCol` is the unique tie-break so the window order is total.
    */
  def mergeIntervals(iv: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val wo = Window.partitionBy(keyCol)
      .orderBy(col("st"), col("en"), col(idCol))
    val prevMax = max(col("en"))
      .over(wo.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("__new_grp",
        when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
      .withColumn("gid", sum(col("__new_grp")).over(wo))
      .groupBy(col(keyCol), col("gid"))
      .agg(min(col("st")).as("ms"), max(col("en")).as("me"))
  }

  /** Coverage gaps: the holes BETWEEN a key's merged interval runs
    * ([[mergeIntervals]] first, then one lag over the run-count-bounded
    * frame). Returns (key, n_gaps, total_gap_us, max_gap_us); keys with a
    * single run (no interior hole) are absent — the head/tail are
    * unbounded, not gaps.
    */
  def coverageGaps(iv: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val runs = mergeIntervals(iv, keyCol, idCol)
    val wg = Window.partitionBy(keyCol).orderBy(col("ms"))
    runs.withColumn("gap_us", col("ms") - lag(col("me"), 1).over(wg))
      .filter(col("gap_us").isNotNull)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("total_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
  }

  /** OHLC bar downsampling (tick stream → per-bucket bars). open/close via
    * min_by/max_by keyed on the UNIQUE (ts, id) struct — declarative
    * aggregates that partial-combine map-side, so the one shuffle carries
    * at most one candidate bar per (partition, bucket), never raw ticks
    * (the row_number-window idiom would shuffle every tick).
    */
  def ohlcBars(ticks: DataFrame, bucketCol: String, valueCol: String,
               tsCol: String, idCol: String): DataFrame = {
    val ord = struct(col(tsCol), col(idCol))
    ticks.groupBy(col(bucketCol))
      .agg(min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("n_ticks"),
        sum(col(valueCol)).as("volume"))
  }

  /** The driver's events table with `ts` normalized to a `ts_us` epoch-µs
    * LONG column — the single ingestion point for event-time queries, so a
    * testdata regeneration that changes the physical timestamp grain (it
    * happened: TIMESTAMP(NANOS) → timestamp[us] NTZ between rounds) is
    * absorbed here instead of breaking every temporal query.
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    // TIMESTAMP(NANOS) parquet is rejected by default; read nanos as long
    // (a no-op for µs/NTZ files)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.withColumn("ts_us", epochMicros(ev))
  }
}
