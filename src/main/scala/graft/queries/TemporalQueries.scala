package graft.queries

import graft.ops.TemporalOps
import org.apache.spark.sql.functions._

/** Event-time operators (as-of join, sessionization) as oracle-checked
  * queries over the driver's `events` table. Timestamps are normalized to
  * epoch MICROS on both sides via [[TemporalOps.loadEvents]] (grain-robust:
  * nanos-long, TIMESTAMP, or TIMESTAMP_NTZ parquet all land on the same µs
  * longs; DuckDB's `epoch_us(ts)` is likewise grain-agnostic), so all
  * arithmetic is exact integers at a grain both engines can represent.
  */
object TemporalQueries {

  import RelationalQueries.Entry

  /** The purchases←clicks backward as-of shape, shared by the ts_asof_*
    * registry entries (scale results: PLANS.md, "Temporal scale probes").
    * Input events must carry the `ts_us` epoch-µs column ([[TemporalOps.loadEvents]]).
    */
  /** The t_next_event_examples shape. Input carries `ts_us`.
    */
  def nextEventExamples(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    ev.withColumn("ctx1", lag(col("event_type"), 3).over(w))
      .withColumn("ctx2", lag(col("event_type"), 2).over(w))
      .withColumn("ctx3", lag(col("event_type"), 1).over(w))
      .filter(col("ctx1").isNotNull)
      .select(col("user_id"), col("event_id"), col("ctx1"), col("ctx2"),
        col("ctx3"), col("event_type").as("target"))
  }

  /** The ts_seasonal_dow shape. Daily rollup is
    * the only event-scale pass; the weekday dimension is 7·|types| rows at
    * any corpus size and broadcasts.
    */
  def seasonalDowResiduals(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val daily = ev.withColumn("day", expr("ts_us div 86400000000"))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("event_type", "day")
      .agg(sum(col("cents")).as("day_cents"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val base = daily.groupBy("event_type", "dow")
      .agg(sum(col("day_cents")).as("dow_sum"), count(lit(1)).as("dow_n"))
    daily.join(broadcast(base), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("day_cents"),
        expr("dow_sum * 1000000 div dow_n").as("baseline_micro"),
        (col("day_cents") * 1000000L - expr("dow_sum * 1000000 div dow_n"))
          .as("residual_micro"))
  }

  def purchaseClickAsof(ev: org.apache.spark.sql.DataFrame,
                        tolerance: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us").as("tsn"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_us").as("tsn"))
      .agg(max(col("value")).as("click_value"))
    TemporalOps.asofJoinBackward(purchases, clicks,
      keyCol = "user_id", tsCol = "tsn", valueCol = "click_value",
      asOfCol = "click_value", rightTieCol = "tsn", tolerance = tolerance)
  }

  /** The 7-day first/last-touch attribution window pass of the
    * ts_attribution registry entry. Input events must carry
    * `ts_us` ([[TemporalOps.loadEvents]]).
    */
  def attributionWindow(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-604800000000L, -1L)
    val touch = when(col("event_type").isin("click", "view"),
      struct(col("ts_us"), col("event_id"), col("event_type")))
    ev.withColumn("last_s", max(touch).over(w))
      .withColumn("first_s", min(touch).over(w))
      .withColumn("n_touches", count(touch).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("last_s.event_type").as("last_touch"),
        col("first_s.event_type").as("first_touch"),
        col("n_touches"))
  }

  /** The 7-day attribution oracle, shared by ts_attribution and its
    * streaming twin (stream_attribution must converge to the SAME answer
    * from a two-micro-batch replay).
    */
  val AttributionSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      | p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      | t AS (SELECT * FROM e WHERE event_type IN ('click', 'view')),
      | j AS (SELECT p.event_id, p.user_id,
      |              last(t.event_type ORDER BY t.ts_us, t.event_id) AS last_touch,
      |              first(t.event_type ORDER BY t.ts_us, t.event_id) AS first_touch,
      |              count(t.event_id) AS n_touches
      |       FROM p LEFT JOIN t ON t.user_id = p.user_id
      |         AND t.ts_us < p.ts_us AND t.ts_us >= p.ts_us - 604800000000
      |       GROUP BY 1, 2)
      | SELECT event_id, user_id, last_touch, first_touch, n_touches
      | FROM j ORDER BY event_id""".stripMargin

  /** The ±5-minute purchase↔click interval-join oracle, shared by
    * ts_interval_join and its streaming twin (stream_interval_join runs
    * Spark's NATIVE watermarked stream-stream join and must converge to
    * the SAME pair set from a two-micro-batch replay).
    */
  val IntervalJoinSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      | FROM (SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events
      |       WHERE event_type = 'purchase') p
      | JOIN (SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events
      |       WHERE event_type = 'click') c
      |   ON p.user_id = c.user_id
      |  AND c.tsn BETWEEN p.tsn - 300000000 AND p.tsn + 300000000
      | ORDER BY purchase_id, click_id""".stripMargin

  /** The CDC ordered-apply shape (u7_cdc_apply): collapse the
    * change stream derived from `ev` (events with `ts_us`) to its final
    * per-key image and apply it to `base` (`key`, `cents`) — delete
    * removes, upsert replaces-or-inserts, untouched base rows survive.
    */
  def cdcApply(base: org.apache.spark.sql.DataFrame,
               ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("ts_us").desc, col("event_id").desc)
    val lastChange = ev
      .select((col("user_id") * 13).as("key"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        round(col("value") * 100).cast("long").as("cdc_cents"),
        col("ts_us"), col("event_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("key", "op", "cdc_cents")
    base.join(lastChange, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        when(col("op").isNull, col("cents")).otherwise(col("cdc_cents")).as("cents"),
        when(col("op").isNull, lit("base")).otherwise(lit("cdc")).as("src"))
  }

  /** The purchases→daily-spine gap fill of the ts_gap_fill registry
    * entry. Input events must carry `ts_us`.
    */
  def purchaseGapFill(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    TemporalOps.gapFillDaily(
      ev.filter(col("event_type") === "purchase")
        .withColumn("cents", round(col("value") * 100).cast("long")),
      "user_id")

  /** The clicks-into-purchase-windows interval join of the
    * ts_interval_join registry entry. Input events must carry `ts_us`
    * ([[TemporalOps.loadEvents]]).
    */
  def purchaseClickIntervalJoin(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("ts_us") - 300000000L).as("win_start"),
        (col("ts_us") + 300000000L).as("win_end"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("click_ts"))
    TemporalOps.intervalJoin(clicks, purchases,
      keyCol = "user_id", tsCol = "click_ts",
      startCol = "win_start", endCol = "win_end",
      bucketWidth = 600000000L) // 10 min — replication factor ≤ 2
  }

  /** Session path trigram top-20 of the ts_path_ngrams registry entry.
    * Input: (user_id, event_id, event_type, tsn).
    */
  def pathNgramsTop(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sess = TemporalOps.sessionize(e, keyCol = "user_id",
      gap = 1800000000L, tieCol = "event_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("session_no"))
      .orderBy(col("tsn"), col("event_id"))
    val tri = sess
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .agg(count(lit(1)).as("n"))
    // two-level top-k (the TextStats.groupedTopK discipline): per-bucket
    // pre-top-20 bounds every window partition, so the global rank runs
    // on <= 64*20 rows even if the type vocabulary explodes — never an
    // unpartitioned window over a data-sized table
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("n").desc, col("path"))
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("path"))
    tri.withColumn("bkt", pmod(xxhash64(col("path")), lit(64)))
      .withColumn("r1", row_number().over(wb))
      .filter(col("r1") <= 20)
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 20)
      .select(col("path"), col("n"), col("rank"))
      .orderBy("rank")
  }

  val all: Seq[Entry] = Seq(

    // ---- backward as-of join -------------------------------------------
    // every purchase gets the most recent click value at-or-before it, per
    // user. The oracle is DuckDB's NATIVE ASOF JOIN — an independent
    // algorithm confirming the union+window implementation. Click rows are
    // pre-aggregated per (user, ts) so the at-tie winner is well-defined in
    // both engines.
    ("ts_asof_join",
      (s, d) => purchaseClickAsof(TemporalOps.loadEvents(s, d))
        .select("user_id", "event_id", "click_value")
        .orderBy("event_id"),
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS tsn
        |           FROM events WHERE event_type = 'purchase'),
        |      c AS (SELECT user_id, epoch_us(ts) AS tsn, MAX(value) AS click_value
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        | SELECT p.user_id, p.event_id, c.click_value
        | FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tsn >= c.tsn
        | ORDER BY p.event_id""".stripMargin),

    // ---- as-of join with tolerance --------------------------------------
    // same shape, but matches older than 10 minutes are aged out to null —
    // the "quote must be fresh" variant. The latest prior right row is the
    // only candidate, so the oracle is native ASOF plus a staleness CASE.
    ("ts_asof_tolerance",
      (s, d) => purchaseClickAsof(TemporalOps.loadEvents(s, d),
          tolerance = Some(600000000L)) // 10 min in µs
        .select("user_id", "event_id", "click_value")
        .orderBy("event_id"),
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS tsn
        |           FROM events WHERE event_type = 'purchase'),
        |      c AS (SELECT user_id, epoch_us(ts) AS tsn, MAX(value) AS click_value
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        | SELECT p.user_id, p.event_id,
        |        CASE WHEN p.tsn - c.tsn <= 600000000 THEN c.click_value END AS click_value
        | FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tsn >= c.tsn
        | ORDER BY p.event_id""".stripMargin),

    // ---- gap-based sessionization --------------------------------------
    // 30-minute inactivity gap per user; per-session event count and span.
    ("ts_sessionize",
      (s, d) => {
        val e = TemporalOps.loadEvents(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us").as("tsn"))
        val sess = TemporalOps.sessionize(e, keyCol = "user_id",
          gap = 1800000000L, tieCol = "event_id")
        TemporalOps.sessionStats(sess, "user_id")
          .select(col("user_id"), col("session_no"), col("n_events"),
            col("start_ts").as("start_us"), col("end_ts").as("end_us"))
          .orderBy("user_id", "session_no")
      },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events),
        | lagd AS (SELECT *, LAG(tsn) OVER (PARTITION BY user_id
        |                                   ORDER BY tsn, event_id) AS prev FROM e),
        | flag AS (SELECT *, CASE WHEN prev IS NULL OR tsn - prev > 1800000000
        |                         THEN 1 ELSE 0 END AS new_sess FROM lagd),
        | sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |                                        ORDER BY tsn, event_id
        |                                        ROWS UNBOUNDED PRECEDING) AS session_no
        |          FROM flag)
        | SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |        COUNT(*) AS n_events, MIN(tsn) AS start_us, MAX(tsn) AS end_us
        | FROM sess GROUP BY user_id, session_no
        | ORDER BY user_id, session_no""".stripMargin),

    // ---- tumbling event-time window aggregation -------------------------
    // hourly counts + value sum per event type — the batch twin of the
    // streaming windowedEventCounts (whose spec asserts stream == batch on
    // this exact shape). Uses Spark's window() on the grain-normalized
    // TIMESTAMP (asTimestamp), so the registry pins the builtin's bucket
    // arithmetic against an independent integer-division oracle. value sums
    // are micro-unit integers: a float SUM's value depends on aggregation
    // order and would not hash-match across engines.
    ("ts_window_agg",
      (s, d) => {
        val ev = TemporalOps.loadEvents(s, d)
        ev.groupBy(
            window(TemporalOps.asTimestamp(ev), "1 hour").as("win"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 1000000L).cast("long")).as("value_micro"))
          .select(unix_micros(col("win.start")).as("win_start_us"),
            col("event_type"), col("n_events"), col("value_micro"))
          .orderBy("win_start_us", "event_type")
      },
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us,
        |       event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro
        | FROM events GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin),

    // ---- point-in-interval join -----------------------------------------
    // attribution shape: every click lands in the ±5-minute window around
    // any same-user purchase. TemporalOps.intervalJoin replicates each
    // interval to the 10-minute buckets it touches and equi-joins on
    // (user, bucket) — a plain shuffle join with a residual containment
    // filter, NOT the BroadcastNestedLoop a raw BETWEEN join plans. The
    // oracle IS the raw inequality join (DuckDB's IEJoin), an independent
    // algorithm for the same semantics.
    ("ts_interval_join",
      (s, d) => purchaseClickIntervalJoin(TemporalOps.loadEvents(s, d))
        .select(col("user_id"), col("purchase_id"), col("click_id"))
        .orderBy("purchase_id", "click_id"),
      IntervalJoinSql),

    // ---- conversion funnel (signup → first click → first purchase) ------
    // two chained FORWARD as-of joins (earliest right row at-or-after each
    // left row), each the time-negation of the backward operator — same
    // one-shuffle union+window design, no inequality-join explosion. The
    // oracle computes each step as a MIN over an inequality join — an
    // independent formulation of "first at-or-after".
    ("ts_funnel",
      (s, d) => {
        val ev = TemporalOps.loadEvents(s, d)
        val signups = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts_us")).as("signup_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us").as("tsn"), col("ts_us").as("click_v"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us").as("tsn"), col("ts_us").as("purch_v"))
        val step1 = TemporalOps.asofJoinForward(
            signups.withColumn("tsn", col("signup_ts")), clicks,
            keyCol = "user_id", valueCol = "click_v",
            asOfCol = "click_ts", rightTieCol = "click_v")
          .drop("tsn")
        val converted = step1.filter(col("click_ts").isNotNull)
        val step2 = TemporalOps.asofJoinForward(
            converted.withColumn("tsn", col("click_ts")), purchases,
            keyCol = "user_id", valueCol = "purch_v",
            asOfCol = "purchase_ts", rightTieCol = "purch_v")
          .drop("tsn")
        step2.unionByName(
            step1.filter(col("click_ts").isNull)
              .withColumn("purchase_ts", lit(null).cast("long")))
          .select("user_id", "signup_ts", "click_ts", "purchase_ts")
          .orderBy("user_id")
      },
      """WITH s AS (SELECT user_id, MIN(epoch_us(ts)) AS signup_ts FROM events
        |           WHERE event_type = 'signup' GROUP BY 1),
        |     c AS (SELECT user_id, epoch_us(ts) AS tsn FROM events
        |           WHERE event_type = 'click'),
        |     p AS (SELECT user_id, epoch_us(ts) AS tsn FROM events
        |           WHERE event_type = 'purchase'),
        |    fc AS (SELECT s.user_id, s.signup_ts, MIN(c.tsn) AS click_ts
        |           FROM s LEFT JOIN c ON c.user_id = s.user_id
        |                             AND c.tsn >= s.signup_ts
        |           GROUP BY 1, 2),
        |    fp AS (SELECT fc.user_id, fc.signup_ts, fc.click_ts,
        |                  MIN(p.tsn) AS purchase_ts
        |           FROM fc LEFT JOIN p ON p.user_id = fc.user_id
        |                              AND fc.click_ts IS NOT NULL
        |                              AND p.tsn >= fc.click_ts
        |           GROUP BY 1, 2, 3)
        | SELECT user_id, signup_ts, click_ts, purchase_ts
        | FROM fp ORDER BY user_id""".stripMargin),

    // ---- peak concurrency (interval sweep) ------------------------------
    // max simultaneously-open 5-minute click windows per user — the
    // "peak concurrent sessions" gauge via the classic +1/−1 boundary
    // sweep: one window pass per user over 2·n boundary events, no
    // interval self-join. At a tie instant the +1 sorts BEFORE the −1
    // (closed-open [ts, ts+300s) intervals: an interval opening exactly
    // when another closes does overlap it for zero length — counting the
    // open first matches the half-open semantics both engines compute).
    ("ts_max_concurrency",
      (s, d) => {
        val ev = TemporalOps.loadEvents(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts_us"))
        val bounds = clicks.select(col("user_id"), col("ts_us").as("bt"),
            lit(1L).as("delta"), col("event_id"))
          .unionByName(clicks.select(col("user_id"),
            (col("ts_us") + 300000000L).as("bt"), lit(-1L).as("delta"), col("event_id")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("bt"), col("delta").desc, col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        bounds.withColumn("open", sum(col("delta")).over(w))
          .groupBy("user_id").agg(max(col("open")).as("peak_concurrent"))
          .orderBy("user_id")
      },
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events
        |           WHERE event_type = 'click'),
        |  b AS (SELECT user_id, tsn AS bt, 1 AS delta, event_id FROM c
        |        UNION ALL
        |        SELECT user_id, tsn + 300000000, -1, event_id FROM c),
        |  r AS (SELECT user_id,
        |               SUM(delta) OVER (PARTITION BY user_id
        |                                ORDER BY bt, delta DESC, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS open
        |        FROM b)
        | SELECT user_id, CAST(MAX(open) AS BIGINT) AS peak_concurrent
        | FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- event-burst collapse (jitter dedup) ----------------------------
    // duplicate-click suppression: within each (user, event_type), a CHAIN
    // of events each within 10 s of the previous one is a single burst
    // (sessionize on the composite key at a 10 s gap — a retry storm is
    // one burst however long it drags on), and only the burst's first
    // event survives.
    ("ts_event_collapse",
      (s, d) => {
        val ev = TemporalOps.loadEvents(s, d)
          .select(concat(col("user_id"), lit("#"), col("event_type")).as("k"),
            col("event_id"), col("ts_us").as("tsn"))
        TemporalOps.sessionize(ev, keyCol = "k", gap = 10000000L, tieCol = "event_id")
          .groupBy(col("k"), col("session_no"))
          .agg(min(struct(col("tsn"), col("event_id"))).as("first"))
          .select(col("k"), col("session_no"), col("first.event_id").as("kept_event_id"))
          .orderBy("k", "session_no")
      },
      """WITH e AS (SELECT user_id || '#' || event_type AS k, event_id,
        |                  epoch_us(ts) AS tsn FROM events),
        |  lagd AS (SELECT *, LAG(tsn) OVER (PARTITION BY k
        |                                    ORDER BY tsn, event_id) AS prev FROM e),
        |  flag AS (SELECT *, CASE WHEN prev IS NULL OR tsn - prev > 10000000
        |                          THEN 1 ELSE 0 END AS new_s FROM lagd),
        |  sess AS (SELECT *, SUM(new_s) OVER (PARTITION BY k
        |                                      ORDER BY tsn, event_id
        |                                      ROWS UNBOUNDED PRECEDING) AS session_no
        |           FROM flag),
        |  pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k, session_no
        |                                        ORDER BY tsn, event_id) AS rn
        |           FROM sess)
        | SELECT k, CAST(session_no AS BIGINT) AS session_no,
        |        event_id AS kept_event_id
        | FROM pick WHERE rn = 1 ORDER BY k, session_no""".stripMargin),

    // ---- trailing-window anomaly flags ----------------------------------
    // per-user online outlier detection: each event is flagged when its
    // value sits more than 3 sigma from the mean of the previous 8 events —
    // the z² > 9 test cross-multiplied into EXACT integer arithmetic over
    // cent units ((x·n − S)² > 9·(n·Q − S²), S=Σv, Q=Σv² over the trailing
    // frame), so no float ever reaches the hashed output. One window
    // shuffle on user_id computes n/S/Q in a single pass; rows without a
    // full 8-event history emit NULL (not false — "unknown", a different
    // governance answer than "normal").
    ("ts_anomaly_flags",
      (s, d) => {
        val ev = TemporalOps.loadEvents(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us").as("tsn"),
            round(col("value") * 100).cast("long").as("cents"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("tsn"), col("event_id"))
          .rowsBetween(-8, -1)
        ev.withColumn("n_win", count(lit(1)).over(w))
          .withColumn("s_win", sum(col("cents")).over(w))
          .withColumn("q_win", sum(col("cents") * col("cents")).over(w))
          .withColumn("is_anomaly",
            when(col("n_win") < 8, lit(null).cast("boolean"))
              .otherwise((col("cents") * 8 - col("s_win")) *
                  (col("cents") * 8 - col("s_win")) >
                lit(9L) * (lit(8L) * col("q_win") - col("s_win") * col("s_win"))))
          .select("user_id", "event_id", "cents", "n_win", "s_win", "is_anomaly")
          .orderBy("event_id")
      },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn,
        |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |  w AS (SELECT user_id, event_id, cents,
        |               COUNT(*) OVER win AS n_win,
        |               SUM(cents) OVER win AS s_win,
        |               SUM(cents * cents) OVER win AS q_win
        |        FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tsn, event_id
        |                              ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
        | SELECT user_id, event_id, cents, CAST(n_win AS BIGINT) AS n_win,
        |        CAST(s_win AS BIGINT) AS s_win,
        |        CASE WHEN n_win < 8 THEN NULL
        |             ELSE (cents * 8 - s_win) * (cents * 8 - s_win)
        |                  > 9 * (8 * q_win - s_win * s_win) END AS is_anomaly
        | FROM w ORDER BY event_id""".stripMargin),

    // ---- interval union (merged coverage) -------------------------------
    // "how much wall-clock was the user active, overlaps counted once":
    // each click opens a 5-minute interval; overlapping/touching intervals
    // merge, and the answer is the summed length of the MERGED set — the
    // coverage twin of ts_max_concurrency's sweep. One user-partitioned
    // window pass: an interval starts a new merged group iff its start
    // exceeds the running max of prior ends (the classic stab-forward
    // merge without a self-join); group id = prefix sum of those flags.
    ("ts_interval_union",
      (s, d) => {
        val iv = TemporalOps.loadEvents(s, d)
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts_us").as("st"),
            (col("ts_us") + 300000000L).as("en"))
        TemporalOps.mergeIntervals(iv, "user_id", "event_id")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_merged"),
            sum(col("me") - col("ms")).as("covered_us"))
          .orderBy("user_id")
      },
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS st,
        |                  epoch_us(ts) + 300000000 AS en FROM events
        |           WHERE event_type = 'click'),
        | g AS (SELECT *, CASE WHEN MAX(en) OVER (PARTITION BY user_id
        |                        ORDER BY st, en, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                      < st OR MAX(en) OVER (PARTITION BY user_id
        |                        ORDER BY st, en, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                      IS NULL
        |                 THEN 1 ELSE 0 END AS new_grp
        |       FROM c),
        | gg AS (SELECT *, SUM(new_grp) OVER (PARTITION BY user_id
        |                    ORDER BY st, en, event_id) AS gid FROM g),
        | m AS (SELECT user_id, gid, MIN(st) AS ms, MAX(en) AS me
        |       FROM gg GROUP BY 1, 2)
        | SELECT user_id, COUNT(*) AS n_merged,
        |        CAST(SUM(me - ms) AS BIGINT) AS covered_us
        | FROM m GROUP BY 1 ORDER BY user_id""".stripMargin),

    // ---- CUSUM level-shift detection (change points) --------------------
    // the sequential change-point detector (Page 1954) over per-type daily
    // event counts, expressed WITHOUT its recursive max(0, ·) form: the
    // clamped recurrence S_t = max(0, S_{t-1} + x_t − target) equals
    // P_t − min(0, min_{j≤t} P_j) for prefix sums P of (x − target), so
    // two ordered-window passes (running sum + running min) replace the
    // unexpressible recurrence — exact integer micro-units end to end.
    // Windows partition by event_type over DAY-grain rows (date-range-
    // sized after the pre-aggregation, never event-sized): the same plan
    // holds when the raw stream is 100 TB because the window input is the
    // daily rollup. A day shifts when accumulated positive drift exceeds
    // one average day's volume.
    ("ts_cusum_shift",
      (s, d) => {
        val wo = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("day")
        TemporalOps.loadEvents(s, d)
          .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
          .withColumn("target_micro",
            expr("sum(n * 1000000) over (partition by event_type) div " +
              "count(n) over (partition by event_type)"))
          .withColumn("p", sum(col("n") * 1000000L - col("target_micro")).over(wo))
          .withColumn("cusum_micro",
            col("p") - least(min(col("p")).over(wo), lit(0L)))
          .select(col("event_type"), col("day"), col("n"), col("cusum_micro"),
            (col("cusum_micro") > col("target_micro")).as("shifted"))
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

    // ---- rolling least-squares trend slope -------------------------------
    // "is this series trending, and how fast" over a 7-day ROWS frame:
    // slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with x = day number and
    // y = daily count — entirely window SUMs over the DAY-GRAIN rollup
    // (the ts_cusum discipline: window input is date-range-sized at any
    // corpus size), and the division is one exact integer div in micro
    // units, so gaps in the calendar are handled by the formula, not by
    // spine fabrication. Partial leading frames are emitted with NULL
    // slope (n < 7 is not a trend), pinned by the oracle.
    ("ts_trend_slope",
      (s, d) => {
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
        TemporalOps.loadEvents(s, d)
          .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
          .withColumn("k", count(lit(1)).over(wr))
          .withColumn("sx", sum(col("day")).over(wr))
          .withColumn("sy", sum(col("n")).over(wr))
          .withColumn("sxy", sum(col("day") * col("n")).over(wr))
          .withColumn("sxx", sum(col("day") * col("day")).over(wr))
          .select(col("event_type"), col("day"), col("n"),
            when(col("k") === 7,
              expr("(k * sxy - sx * sy) * 1000000 div (k * sxx - sx * sx)"))
              .as("slope_micro"))
          .orderBy("event_type", "day")
      },
      """WITH byday AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                      COUNT(*) AS n FROM events GROUP BY 1, 2),
        | w AS (SELECT event_type, day, n,
        |              COUNT(*) OVER fr AS k,
        |              SUM(day) OVER fr AS sx, SUM(n) OVER fr AS sy,
        |              SUM(day * n) OVER fr AS sxy,
        |              SUM(day * day) OVER fr AS sxx
        |       FROM byday
        |       WINDOW fr AS (PARTITION BY event_type ORDER BY day
        |                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        | SELECT event_type, CAST(day AS BIGINT) AS day, n,
        |        CASE WHEN k = 7
        |             THEN CAST((k * sxy - sx * sy) * 1000000
        |                    // (k * sxx - sx * sx) AS BIGINT) END AS slope_micro
        | FROM w ORDER BY event_type, day""".stripMargin),

    // ---- first-order Markov transition matrix ---------------------------
    // P(next event type | event type) over each user's time-ordered stream:
    // one LEAD window pass (single shuffle on user_id), then a groupBy whose
    // result is bounded by |event_types|² regardless of corpus size. The
    // denominator rides along as an exact integer (from_total) so the
    // probability is a rational both engines represent identically — no
    // float division in the hashed output.
    ("ts_transition_matrix",
      (s, d) => {
        val ev = TemporalOps.loadEvents(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts_us").as("tsn"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("tsn"), col("event_id"))
        val trans = ev
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        val wf = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
        trans.withColumn("from_total", sum(col("n")).over(wf))
          .orderBy("from_type", "to_type")
      },
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsn
        |           FROM events),
        |  nx AS (SELECT event_type AS from_type,
        |                LEAD(event_type) OVER (PARTITION BY user_id
        |                                       ORDER BY tsn, event_id) AS to_type
        |         FROM e),
        |  tr AS (SELECT from_type, to_type, COUNT(*) AS n
        |         FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2)
        | SELECT from_type, to_type, n,
        |        CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS from_total
        | FROM tr ORDER BY from_type, to_type""".stripMargin),

    // ---- per-session path mining (top event-type trigrams) --------------
    // behavioral sequence mining: sessionize (30-min gap), read each
    // session's time-ordered event-type stream, and count every
    // CONSECUTIVE type trigram corpus-wide — top 20 paths. Two LEAD
    // passes ride the SAME (user) window exchange as the sessionization;
    // the count output is bounded by |types|³ and the top-k is a 20-row
    // window over it. Paths never cross a session boundary (the LEADs
    // partition by (user, session)).
    ("ts_path_ngrams",
      (s, d) => pathNgramsTop(TemporalOps.loadEvents(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_us").as("tsn"))),
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsn
        |           FROM events),
        |  lagd AS (SELECT *, LAG(tsn) OVER (PARTITION BY user_id
        |                                    ORDER BY tsn, event_id) AS prev FROM e),
        |  flag AS (SELECT *, CASE WHEN prev IS NULL OR tsn - prev > 1800000000
        |                          THEN 1 ELSE 0 END AS new_s FROM lagd),
        |  sess AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |                                      ORDER BY tsn, event_id
        |                                      ROWS UNBOUNDED PRECEDING) AS session_no
        |           FROM flag),
        |  tri AS (SELECT event_type AS t1,
        |                 LEAD(event_type, 1) OVER win AS t2,
        |                 LEAD(event_type, 2) OVER win AS t3
        |          FROM sess WINDOW win AS (PARTITION BY user_id, session_no
        |                                   ORDER BY tsn, event_id)),
        |  cnt AS (SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
        |          FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1),
        |  rk AS (SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rank
        |         FROM cnt)
        | SELECT path, n, CAST(rank AS INTEGER) AS rank
        | FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin),

    // ---- retention cohorts ----------------------------------------------
    // cohort = each user's first-activity day; cell (cohort_day, day_offset)
    // counts distinct users from that cohort active that many days later —
    // the classic retention matrix, all exact integer day arithmetic. One
    // shuffle on user_id for the cohort join (broadcast when the user dim
    // is small, AQE decides), one distinct, one count.
    ("ts_retention_cohorts",
      (s, d) => {
        // integer div, not double division: a correctly-rounded double
        // quotient can land on the wrong side of a day boundary
        val ev = TemporalOps.loadEvents(s, d)
          .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
        val cohorts = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        ev.join(cohorts, "user_id")
          .select(col("user_id"), col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"))
          .distinct() // rows are now unique (user, cohort, offset) triples,
          .groupBy("cohort_day", "day_offset") // so a plain count IS the
          .agg(count(lit(1)).as("n_users")) // distinct-user count — no
          .orderBy("cohort_day", "day_offset") // second distinct aggregate
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |     ch AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1),
        |     act AS (SELECT DISTINCT e.user_id, ch.cohort_day,
        |                    e.day - ch.cohort_day AS day_offset
        |             FROM e JOIN ch ON e.user_id = ch.user_id)
        | SELECT cohort_day, day_offset, COUNT(DISTINCT user_id) AS n_users
        | FROM act GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin),

    // ---- calendar gap fill + forward fill (time-series resample) --------
    // per user, a contiguous daily spine over the user's purchase span with
    // the latest prior day's max-cents carried across gaps — the resample
    // shape every metrics/feature pipeline needs. Spine generated
    // distributed (per-key sequence+explode), fill via a KEY-partitioned
    // last(ignoreNulls) window, span runtime-guarded (TemporalOps.gapFillDaily).
    ("ts_gap_fill",
      (s, d) => purchaseGapFill(TemporalOps.loadEvents(s, d))
        .orderBy("user_id", "day"),
      """WITH obs AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |               max(CAST(round(value * 100) AS BIGINT)) AS day_cents
        |             FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        | b AS (SELECT user_id, min(day) AS dmin, max(day) AS dmax FROM obs GROUP BY 1),
        | spine AS (SELECT user_id, unnest(generate_series(dmin, dmax)) AS day FROM b),
        | f AS (SELECT s.user_id, s.day, o.day_cents,
        |              max(o.day) OVER (PARTITION BY s.user_id ORDER BY s.day) AS src_day
        |       FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day)
        | SELECT f.user_id, f.day, o2.day_cents AS filled_cents,
        |        CAST(f.day_cents IS NOT NULL AS INTEGER) AS observed
        | FROM f JOIN obs o2 ON o2.user_id = f.user_id AND o2.day = f.src_day
        | ORDER BY f.user_id, f.day""".stripMargin),

    // ---- marketing attribution (first/last touch in a lookback window) --
    // for each purchase: the first and last click/view of the same user in
    // the strict 7-day lookback, plus the touch count. ONE window pass —
    // union-free: a user-partitioned RANGE frame [-7d, -1µs] with min/max
    // over a (ts, event_id, type)-struct (null for non-touch rows, so
    // aggregate null-skipping does the event-type routing); no
    // purchases×touches range join, no per-row re-scan. Ties broken by
    // event_id identically to the oracle's packed (ts, id) key.
    ("ts_attribution",
      (s, d) => attributionWindow(TemporalOps.loadEvents(s, d))
        .orderBy("event_id"),
      AttributionSql),

    // ---- CDC ordered apply (MERGE with deletes) -------------------------
    // the change-data-capture landing shape: a base snapshot (customer
    // balances) plus an ordered change stream (events → upserts/deletes
    // keyed off user_id·13, seq = (ts, event_id)); the LAST change per key
    // decides — delete removes the row, upsert replaces-or-inserts,
    // untouched base rows survive. One key-partitioned window collapses
    // the stream to its final image, one full-outer join applies it —
    // never a per-change replay.
    ("u7_cdc_apply",
      (s, d) => cdcApply(
        RelationalQueries.t(s, d, "customer")
          .select(col("c_custkey").as("key"),
            round(col("c_acctbal") * 100).cast("long").as("cents")),
        TemporalOps.loadEvents(s, d))
        .orderBy("key"),
      """WITH base AS (SELECT c_custkey AS key,
        |                CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        | cdc AS (SELECT user_id * 13 AS key,
        |                CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |                CAST(round(value * 100) AS BIGINT) AS cents,
        |                epoch_us(ts) AS ts_us, event_id
        |         FROM events),
        | last AS (SELECT key, op, cents FROM (
        |            SELECT *, ROW_NUMBER() OVER (PARTITION BY key
        |                        ORDER BY ts_us DESC, event_id DESC) AS rn FROM cdc)
        |          WHERE rn = 1)
        | SELECT COALESCE(b.key, l.key) AS key,
        |        CASE WHEN l.key IS NULL THEN b.cents ELSE l.cents END AS cents,
        |        CASE WHEN l.key IS NULL THEN 'base' ELSE 'cdc' END AS src
        | FROM base b FULL OUTER JOIN last l ON l.key = b.key
        | WHERE l.op IS NULL OR l.op <> 'D'
        | ORDER BY key""".stripMargin),

    // ---- time-weighted average (TWAP) -----------------------------------
    // per user: each purchase's cents weighted by how long it was the
    // latest one (lead-ts minus ts) — the finance TWAP / metrics
    // "time-in-state mean" shape. One user-partitioned window (lead) + one
    // map-combinable grouped sum; exact integer µs·cents products, final
    // value one integer division. The last event per user has no duration
    // and is excluded on both sides.
    ("ts_twap",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        TemporalOps.loadEvents(s, d)
          .filter(col("event_type") === "purchase")
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .withColumn("nxt", lead(col("ts_us"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy("user_id")
          .agg(sum(col("cents") * (col("nxt") - col("ts_us"))).as("weighted_us"),
            sum(col("nxt") - col("ts_us")).as("held_us"))
          .withColumn("twap_cents", expr("weighted_us div held_us"))
          .select("user_id", "weighted_us", "held_us", "twap_cents")
          .orderBy("user_id")
      },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        | w AS (SELECT user_id, cents, ts_us,
        |              lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS nxt
        |       FROM e)
        | SELECT user_id,
        |        CAST(SUM(cents * (nxt - ts_us)) AS BIGINT) AS weighted_us,
        |        CAST(SUM(nxt - ts_us) AS BIGINT) AS held_us,
        |        CAST(SUM(cents * (nxt - ts_us)) // SUM(nxt - ts_us) AS BIGINT) AS twap_cents
        | FROM w WHERE nxt IS NOT NULL GROUP BY 1 ORDER BY user_id""".stripMargin),

    // ---- rolling 7-day distinct actives (sliding-window WAU) ------------
    // exact distinct users over a 7-day window ending at each active day.
    // Sliding distinct has no window-function form (distinct doesn't
    // decompose over frames); the scale-safe shape is CONTRIBUTION
    // REPLICATION: each (user, day) activity row contributes to exactly 7
    // window-end days (explode of a 7-element offset array — bounded ×7,
    // never a range self-join), then one grouped exact distinct. At 100 TB
    // the replication factor is the window length — fixed, predictable,
    // and partial-aggregated map-side after the first distinct.
    ("ts_sliding_distinct",
      (s, d) => {
        val act = TemporalOps.loadEvents(s, d)
          .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
          .distinct()
        val days = act.select(col("day")).distinct()
        act.withColumn("wday", explode(sequence(col("day"), col("day") + 6)))
          .join(days.withColumnRenamed("day", "wday"), Seq("wday"))
          .groupBy(col("wday").as("day"))
          .agg(countDistinct(col("user_id")).as("wau"))
          .orderBy("day")
      },
      """WITH act AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |             FROM events),
        | days AS (SELECT DISTINCT day FROM act),
        | contrib AS (SELECT user_id, day + o AS wday FROM act,
        |             LATERAL (SELECT unnest(generate_series(0, 6)) AS o) g)
        | SELECT c.wday AS day, count(DISTINCT c.user_id) AS wau
        | FROM contrib c JOIN days d ON d.day = c.wday
        | GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- Allen interval-algebra classification --------------------------
    // consecutive-interval temporal relationships per user: events become
    // minute-grid intervals of deterministic width (event_id-dependent, so
    // meets/starts/contains all occur), each consecutive pair in
    // (start, end, id) order is classified into Allen's forward relations
    // (precedes / meets / overlaps / starts / contains / equals —
    // finished-by collapsed into contains since ne = e with ns > s nests).
    // ONE user-partitioned window (two leads) + a when-chain + a 6-row
    // bounded aggregate; the schedule-conflict / coverage-analysis shape
    // without any interval self-join.
    ("ts_allen_relations",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("s"), col("e"), col("event_id"))
        TemporalOps.loadEvents(s, d)
          .select(col("user_id"), col("event_id"),
            (expr("ts_us div 60000000") * 60000000L).as("s"))
          .withColumn("e", col("s") + (col("event_id") % 4 + 1) * 60000000L)
          .withColumn("ns", lead(col("s"), 1).over(w))
          .withColumn("ne", lead(col("e"), 1).over(w))
          .withColumn("rel",
            when(col("ns").isNull, lit(null))
              .when(col("ns") > col("e"), "precedes")
              .when(col("ns") === col("e"), "meets")
              .when(col("ns") === col("s") && col("ne") === col("e"), "equals")
              .when(col("ns") === col("s"), "starts")
              .when(col("ne") <= col("e"), "contains")
              .otherwise("overlaps"))
          .filter(col("rel").isNotNull)
          .groupBy("rel").agg(count(lit(1)).as("n"))
          .orderBy("rel")
      },
      """WITH iv AS (SELECT user_id, event_id,
        |              (epoch_us(ts) // 60000000) * 60000000 AS s,
        |              (epoch_us(ts) // 60000000) * 60000000
        |                + (event_id % 4 + 1) * 60000000 AS e
        |            FROM events),
        | w AS (SELECT user_id, event_id, s, e,
        |          lead(s) OVER win AS ns, lead(e) OVER win AS ne
        |       FROM iv WINDOW win AS (PARTITION BY user_id ORDER BY s, e, event_id)),
        | c AS (SELECT CASE WHEN ns IS NULL THEN NULL
        |               WHEN ns > e THEN 'precedes'
        |               WHEN ns = e THEN 'meets'
        |               WHEN ns = s AND ne = e THEN 'equals'
        |               WHEN ns = s THEN 'starts'
        |               WHEN ne <= e THEN 'contains'
        |               ELSE 'overlaps' END AS rel
        |       FROM w)
        | SELECT rel, count(*) AS n FROM c WHERE rel IS NOT NULL
        | GROUP BY rel ORDER BY rel""".stripMargin),

    // ---- bounded-horizon exponential decay (integerized EWMA) -----------
    // half-life-one decayed sum over each user's last 8 purchases,
    // integerized ×128 so every weight 2⁻ⁱ is an exact integer factor
    // 2^(7-i) — the recency-weighted feature without float accumulation
    // drift (an unbounded recurrence would force sequential float state;
    // the 8-event horizon truncates weights below 1/128 ≈ 0.8%, and turns
    // the recurrence into one window exchange with 7 lags).
    ("ts_decay_sum",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val ev = TemporalOps.loadEvents(s, d)
          .filter(col("event_type") === "purchase")
          .withColumn("cents", round(col("value") * 100).cast("long"))
        val decay = (0 to 7).map(i =>
          coalesce(lag(col("cents"), i).over(w), lit(0L)) * lit(1L << (7 - i)))
          .reduce(_ + _)
        ev.withColumn("decay128", decay)
          .select("user_id", "event_id", "decay128")
          .orderBy("event_id")
      },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase')
        | SELECT user_id, event_id,
        |        CAST(128 * cents
        |          + 64 * COALESCE(lag(cents, 1) OVER w, 0)
        |          + 32 * COALESCE(lag(cents, 2) OVER w, 0)
        |          + 16 * COALESCE(lag(cents, 3) OVER w, 0)
        |          +  8 * COALESCE(lag(cents, 4) OVER w, 0)
        |          +  4 * COALESCE(lag(cents, 5) OVER w, 0)
        |          +  2 * COALESCE(lag(cents, 6) OVER w, 0)
        |          +  1 * COALESCE(lag(cents, 7) OVER w, 0) AS BIGINT) AS decay128
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        | ORDER BY event_id""".stripMargin),

    // ---- OHLC bar downsampling ------------------------------------------
    // the time-series resample primitive (tick stream → daily bars):
    // open/close are the first/last value in the bucket, high/low/volume
    // plain extremes/counts. Spark shape: min_by/max_by keyed on the
    // UNIQUE (ts_us, event_id) struct — declarative aggregates that
    // partial-combine map-side, so the one shuffle carries ≤ one candidate
    // bar per (partition, day), never raw ticks. The window-idiom
    // alternative (row_number per day) would shuffle every tick; the
    // oracle uses that form, pinning that both agree under the same
    // composite tie-break.
    ("ts_ohlc_bars",
      (s, d) => {
        val ev = TemporalOps.loadEvents(s, d)
          .filter(col("event_type") === "purchase")
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .withColumn("day", expr("ts_us div 86400000000"))
        TemporalOps.ohlcBars(ev, "day", "cents", "ts_us", "event_id")
          .select(col("day"), col("open").as("open_cents"),
            col("high").as("high_cents"), col("low").as("low_cents"),
            col("close").as("close_cents"), col("n_ticks"),
            col("volume").as("volume_cents"))
          .orderBy("day")
      },
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

    // ---- coverage gaps (complement of ts_interval_union) ----------------
    // "where was the user NOT covered": merge the same 5-minute click
    // intervals, then read the holes between consecutive merged runs with
    // ONE lag over the (user, merged-run) frame — per-user output is
    // run-count-bounded, so the second window rides the first's
    // partitioning. The uncovered tail/head are unbounded and excluded by
    // construction (gaps exist only BETWEEN runs).
    ("ts_coverage_gaps",
      (s, d) => {
        val iv = TemporalOps.loadEvents(s, d)
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts_us").as("st"),
            (col("ts_us") + 300000000L).as("en"))
        TemporalOps.coverageGaps(iv, "user_id", "event_id")
          .orderBy("user_id")
      },
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS st,
        |                  epoch_us(ts) + 300000000 AS en FROM events
        |           WHERE event_type = 'click'),
        | g AS (SELECT *, CASE WHEN MAX(en) OVER (PARTITION BY user_id
        |                        ORDER BY st, en, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                      < st OR MAX(en) OVER (PARTITION BY user_id
        |                        ORDER BY st, en, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                      IS NULL
        |                 THEN 1 ELSE 0 END AS new_grp
        |       FROM c),
        | gg AS (SELECT *, SUM(new_grp) OVER (PARTITION BY user_id
        |                    ORDER BY st, en, event_id) AS gid FROM g),
        | m AS (SELECT user_id, gid, MIN(st) AS ms, MAX(en) AS me
        |       FROM gg GROUP BY 1, 2),
        | lg AS (SELECT user_id,
        |               ms - LAG(me, 1) OVER (PARTITION BY user_id ORDER BY ms)
        |                 AS gap_us
        |        FROM m)
        | SELECT user_id, COUNT(*) AS n_gaps,
        |        CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
        |        CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        | FROM lg WHERE gap_us IS NOT NULL GROUP BY 1 ORDER BY user_id""".stripMargin),

    // ---- next-event training examples (sequence → (context, target)) ----
    // the sequence-model dataset builder: per user, events in (ts, id)
    // order become supervised pairs — the previous 3 event types as
    // context, the current one as target; rows without a full context are
    // dropped (no padding tokens fabricated). ONE user-partitioned window
    // pass, three lags over the same frame — per-user state at 100 TB is
    // the window partition, never driver memory. Flat ctx columns rather
    // than an array keep the oracle hashable column-by-column.
    ("t_next_event_examples",
      (s, d) => nextEventExamples(TemporalOps.loadEvents(s, d))
        .orderBy("event_id"),
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  LAG(event_type, 3) OVER w AS ctx1,
        |                  LAG(event_type, 2) OVER w AS ctx2,
        |                  LAG(event_type, 1) OVER w AS ctx3
        |           FROM events
        |           WINDOW w AS (PARTITION BY user_id
        |                        ORDER BY epoch_us(ts), event_id))
        | SELECT user_id, event_id, ctx1, ctx2, ctx3, event_type AS target
        | FROM e WHERE ctx1 IS NOT NULL ORDER BY event_id""".stripMargin),

    // ---- day-of-week seasonal baseline + residual -----------------------
    // the seasonality decomposition CUSUM/MAD don't cover: per event type,
    // daily totals vs that weekday's own mean — "is this Tuesday unusual
    // FOR A TUESDAY". Daily rollup (event-scale, map-combinable) → 7-row-
    // per-type weekday means → broadcast join back; residual in exact
    // integer micro (total·n·1e6 − Σ·1e6, cross-multiplied — no division
    // until the final exact-integer div). The weekday table is 7·|types|
    // rows at ANY corpus size.
    ("ts_seasonal_dow",
      (s, d) => seasonalDowResiduals(TemporalOps.loadEvents(s, d))
        .orderBy("event_type", "day"),
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                      CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |                        AS day_cents
        |               FROM events GROUP BY 1, 2),
        | dw AS (SELECT *, day % 7 AS dow FROM daily),
        | base AS (SELECT event_type, dow, SUM(day_cents) AS dow_sum,
        |                 COUNT(*) AS dow_n
        |          FROM dw GROUP BY 1, 2)
        | SELECT d.event_type, d.day, d.day_cents,
        |        CAST(b.dow_sum * 1000000 // b.dow_n AS BIGINT) AS baseline_micro,
        |        CAST(d.day_cents * 1000000 - b.dow_sum * 1000000 // b.dow_n
        |             AS BIGINT) AS residual_micro
        | FROM dw d JOIN base b USING (event_type, dow)
        | ORDER BY d.event_type, d.day""".stripMargin)
  )
}
