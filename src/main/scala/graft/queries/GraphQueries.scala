package graft.queries

import graft.ops.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle coverage for the graph-build operators themselves (SURVEY §2.3 J2,
  * §2.4 A2/A3, U1/U2): triples synthesized from the driver's tables flow
  * through the REAL GraphOps pipeline (native vtuple_parse expression, label
  * normalization, identity rules), and the DuckDB oracle recomputes the
  * expected graph relationally.
  *
  * Model: orders become URI-URI statements `CL_<custkey> --status--> GO_<orderkey>`
  * (both prefixes whitelisted); customers contribute literal-object
  * statements (label, nation) for the attribute pivot.
  */
object GraphQueries {

  import RelationalQueries.Entry

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    RelationalQueries.t(s, dir, name)

  /** Run an EAGER iterative loop (neighborhoodFunction / hyperBall execute
    * their rounds inside the entry fn) with right-sized shuffle
    * partitions: on the fixed 1500-vertex verification slice the ~24 tiny
    * per-round jobs are scheduler-latency-bound, and 32 partitions per
    * round is pure fixed cost. Restored immediately after; the returned
    * frame is a driver-side counts table, unaffected. At 100 TB this is
    * the same per-query sizing the streaming twins document.
    */
  private def withParts[T](s: SparkSession, n: Int)(body: => T): T =
    graft.ops.SessionConf.withShufflePartitions(s, n)(body)

  private val Obo = "http://purl.obolibrary.org/obo/"

  /** The a10 count-min oracle — shared with the streaming twin (cell-sum
    * merge is exact, so the converged streaming grid must yield the same
    * probe estimates the direct whole-corpus build yields).
    */
  val CountMinSql: String =
    """WITH src AS (SELECT CAST(l_suppkey AS VARCHAR) AS key FROM lineitem),
      | dd AS (SELECT unnest(generate_series(0, 3)) AS d),
      | cells AS (SELECT d,
      |             CAST('0x' || substr(md5(key), 1 + d * 3, 3) AS BIGINT) % 32 AS w,
      |             COUNT(*) AS cnt
      |           FROM src CROSS JOIN dd GROUP BY 1, 2),
      | probes AS (SELECT l_suppkey AS key, COUNT(*) AS n_exact FROM lineitem
      |            WHERE l_suppkey <= 25 GROUP BY 1),
      | looked AS (SELECT p.key, p.n_exact, MIN(c.cnt) AS cms_est
      |            FROM probes p CROSS JOIN dd
      |            JOIN cells c ON c.d = dd.d
      |             AND c.w = CAST('0x' || substr(md5(CAST(p.key AS VARCHAR)), 1 + dd.d * 3, 3) AS BIGINT) % 32
      |            GROUP BY 1, 2)
      | SELECT CAST(key AS BIGINT) AS key, n_exact, cms_est,
      |        cms_est >= n_exact AS over_ok
      | FROM looked ORDER BY key""".stripMargin

  /** a14's dyadic-quantile grid parameters and plumbing — shared with the
    * streaming twin (grid cells are plain sums, so per-micro-batch grids
    * merged cell-wise converge to the direct whole-corpus build and the
    * SAME oracle replays ranks and quantiles from them).
    */
  private[queries] val QBits = 12
  private[queries] val QDepth = 4
  private[queries] val QWidth = 256

  /** lineitem → the quantile universe column `u` (price cents >> 12;
    * TPC-H max extendedprice ≈ $110k → bucket ≈ 2700 < 2^12, guarded per
    * row inside dyadicCells).
    */
  private[queries] def quantileVals(li: DataFrame): DataFrame =
    li.select(
      expr("shiftright(cast(round(l_extendedprice * 100) as bigint), 12)").as("u"))

  /** The read side of the dyadic quantile sketch: given a MERGED grid,
    * derive node estimates, prefix ranks, p25/50/75/90/99, and the
    * exact-rank guard columns — one grid-only plan plus one exact-rank
    * pass over lineitem (the accuracy EXHIBIT the sketch replaces).
    */
  private[queries] def quantileFromGrid(s: SparkSession, d: String,
                                        merged: DataFrame): DataFrame = {
    import graft.ops.Sketches
    val vals = quantileVals(t(s, d, "lineitem"))
    val nodeEst = Sketches.dyadicNodeEst(merged, QBits, QDepth, QWidth)
    val rankLe = Sketches.dyadicRankLe(nodeEst, QBits)
    // N comes off the GRID, not a third fact scan: level `bits` has one
    // live node (node 0 covers the whole universe), so its count-min
    // estimate is collision-free and equals N exactly — the read path
    // touches data only for the exact-rank guard (review finding, r12)
    val n = nodeEst.filter(col("lvl") === QBits && col("node") === 0)
      .select(col("est").as("n"))
    val tg = n
      .select(explode(array(Seq(25, 50, 75, 90, 99).map(lit(_)): _*)).as("p"),
        col("n"))
      .select(col("p").cast("long").as("pct"),
        expr("(p * n + 99) div 100").as("target_rank"), col("n"))
    val qq = rankLe.join(broadcast(tg), col("rank_le") >= col("target_rank"))
      .groupBy("pct", "target_rank", "n").agg(min(col("vb")).as("q_bucket"))
    val estAtQ = qq.join(broadcast(rankLe), col("q_bucket") === col("vb"))
      .select(col("pct"), col("target_rank"), col("n"), col("q_bucket"),
        col("rank_le").as("est_rank"))
    val exact = vals.crossJoin(broadcast(qq.select(col("pct").as("pct2"),
        col("q_bucket").as("qb2"))))
      .groupBy("pct2")
      .agg(sum(when(col("u") <= col("qb2"), 1L).otherwise(0L)).as("exact_rank"))
    estAtQ.join(exact, col("pct") === col("pct2"))
      .select(col("pct"), col("target_rank"), col("q_bucket"), col("est_rank"),
        graft.ops.Bounded.guard(col("exact_rank"),
          abs(col("exact_rank") - col("target_rank")) * 10 <= col("n"),
          "quantile sketch: the quantile's exact rank drifted beyond 10% " +
            "of N — grid too coarse for this distribution")
          .as("exact_rank"),
        (col("est_rank") >= col("exact_rank")).as("over_ok"))
      .orderBy("pct")
  }

  /** The a14 dyadic-quantile oracle — builds the grid DIRECTLY (grain-
    * free), so a hash match against any merged build IS the
    * merge-exactness proof. Shared with the streaming twin.
    */
  val QuantileSketchSql: String =
    """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 4096 AS u
      |           FROM lineitem),
      | lv AS (SELECT unnest(generate_series(0, 12)) AS lvl),
      | dd AS (SELECT unnest(generate_series(0, 3)) AS d),
      | cells AS (SELECT lvl, d,
      |             CAST('0x' || substr(md5(lvl || ':' || (u >> lvl)),
      |                  1 + d * 3, 3) AS BIGINT) % 256 AS w,
      |             COUNT(*) AS cnt
      |           FROM v CROSS JOIN lv CROSS JOIN dd GROUP BY 1, 2, 3),
      | nodes AS (SELECT lvl, node FROM lv,
      |             LATERAL (SELECT unnest(generate_series(0, (4096 >> lvl) - 1))
      |                      AS node) g),
      | ne AS (SELECT n.lvl, n.node, MIN(COALESCE(c.cnt, 0)) AS est
      |        FROM nodes n CROSS JOIN dd
      |        LEFT JOIN cells c ON c.lvl = n.lvl AND c.d = dd.d
      |          AND c.w = CAST('0x' || substr(md5(n.lvl || ':' || n.node),
      |                         1 + dd.d * 3, 3) AS BIGINT) % 256
      |        GROUP BY 1, 2),
      | vv AS (SELECT unnest(generate_series(0, 4095)) AS vb),
      | bs AS (SELECT vb, b FROM vv,
      |          LATERAL (SELECT unnest(generate_series(0, 12)) AS b) g
      |        WHERE ((vb + 1) >> b) % 2 = 1),
      | rk AS (SELECT s.vb, CAST(SUM(ne.est) AS BIGINT) AS rank_le
      |        FROM bs s JOIN ne ON ne.lvl = s.b
      |          AND ne.node = 2 * ((s.vb + 1) >> (s.b + 1))
      |        GROUP BY 1),
      | nt AS (SELECT COUNT(*) AS n FROM v),
      | tg AS (SELECT CAST(p AS BIGINT) AS pct, (p * n + 99) // 100 AS target_rank, n
      |        FROM (VALUES (25), (50), (75), (90), (99)) t(p) CROSS JOIN nt),
      | qq AS (SELECT pct, target_rank, n, MIN(vb) AS q_bucket
      |        FROM tg JOIN rk ON rk.rank_le >= tg.target_rank GROUP BY 1, 2, 3),
      | er AS (SELECT q.pct AS pct,
      |               CAST(SUM(CASE WHEN v.u <= q.q_bucket THEN 1 ELSE 0 END)
      |                    AS BIGINT) AS exact_rank
      |        FROM v CROSS JOIN qq q GROUP BY 1)
      | SELECT q.pct AS pct, CAST(q.target_rank AS BIGINT) AS target_rank,
      |        CAST(q.q_bucket AS BIGINT) AS q_bucket,
      |        rk.rank_le AS est_rank, er.exact_rank AS exact_rank,
      |        rk.rank_le >= er.exact_rank AS over_ok
      | FROM qq q JOIN rk ON rk.vb = q.q_bucket JOIN er ON er.pct = q.pct
      | ORDER BY 1""".stripMargin

  // ---- a16: GENERAL-DOMAIN quantile sketch (doubles) ----------------------
  // a14/a15 pin a fixed 2^12 INTEGER universe (price cents >> 12 — the
  // domain is known at write time). Real telemetry values are doubles with
  // unknown range; a16 lifts the universe with the two-scan range mapping
  // (round-13 verdict #2): pass 1 computes exact domain bounds (lo, hi) —
  // one map-side min/max — and pass 2 maps each double onto the SAME 2^12
  // dyadic grid via u = ⌊(x−lo)/(hi−lo)·4096⌋ (clamped; degenerate lo=hi
  // domain maps to bucket 0). Ranks on the mapped domain are EXACT with
  // resolution (hi−lo)/4096, sketches built under frozen bounds stay
  // cell-wise mergeable (the a14 property, unchanged), and the decoded
  // quantile value lo + (qb+1)·(hi−lo)/4096 is the bucket's upper edge —
  // every number bit-replayable cross-engine (identical IEEE op order).

  /** Exact domain bounds of `events.value` — the frozen mapping config. */
  private[queries] def doubleBounds(ev: DataFrame): DataFrame =
    ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))

  /** events × bounds → (g = event_type, u ∈ [0, 4096)) on the mapped
    * domain. The textual expression matches the oracle's character for
    * character so the IEEE double chain is bit-identical cross-engine.
    */
  private[queries] def doubleQuantileVals(ev: DataFrame,
                                          bounds: DataFrame): DataFrame =
    ev.crossJoin(broadcast(bounds)).select(
      col("event_type").as("g"),
      expr("CASE WHEN hi = lo THEN CAST(0 AS BIGINT) ELSE " +
        "LEAST(CAST(floor((value - lo) / (hi - lo) * 4096.0) AS BIGINT), " +
        "4095) END").as("u"))

  /** Read side of the double-domain sketch: identical grid machinery to
    * [[quantileFromGrid]] plus the bucket→value decode; exact-rank guard
    * runs on the mapped domain (the two-scan contract: mapped ranks are
    * exact, the only approximation is count-min's one-sided collision
    * overshoot and the (hi−lo)/4096 value resolution).
    */
  private[queries] def doubleQuantileFromGrid(s: SparkSession, d: String,
                                              merged: DataFrame): DataFrame = {
    import graft.ops.Sketches
    val ev = t(s, d, "events")
    val bounds = doubleBounds(ev)
    val vals = doubleQuantileVals(ev, bounds)
    val nodeEst = Sketches.dyadicNodeEst(merged, QBits, QDepth, QWidth)
    val rankLe = Sketches.dyadicRankLe(nodeEst, QBits)
    val n = nodeEst.filter(col("lvl") === QBits && col("node") === 0)
      .select(col("est").as("n"))
    val tg = n
      .select(explode(array(Seq(25, 50, 75, 90, 99).map(lit(_)): _*)).as("p"),
        col("n"))
      .select(col("p").cast("long").as("pct"),
        expr("(p * n + 99) div 100").as("target_rank"), col("n"))
    val qq = rankLe.join(broadcast(tg), col("rank_le") >= col("target_rank"))
      .groupBy("pct", "target_rank", "n").agg(min(col("vb")).as("q_bucket"))
    val estAtQ = qq.join(broadcast(rankLe), col("q_bucket") === col("vb"))
      .select(col("pct"), col("target_rank"), col("n"), col("q_bucket"),
        col("rank_le").as("est_rank"))
    val exact = vals.crossJoin(broadcast(qq.select(col("pct").as("pct2"),
        col("q_bucket").as("qb2"))))
      .groupBy("pct2")
      .agg(sum(when(col("u") <= col("qb2"), 1L).otherwise(0L)).as("exact_rank"))
    estAtQ.join(exact, col("pct") === col("pct2"))
      .crossJoin(broadcast(bounds))
      .select(col("pct"), col("target_rank"), col("q_bucket"),
        expr("lo + CAST(q_bucket + 1 AS DOUBLE) * (hi - lo) / 4096.0")
          .as("q_value"),
        col("est_rank"),
        graft.ops.Bounded.guard(col("exact_rank"),
          abs(col("exact_rank") - col("target_rank")) * 10 <= col("n"),
          "double quantile sketch: the quantile's exact mapped rank " +
            "drifted beyond 10% of N — domain mapping too coarse")
          .as("exact_rank"),
        (col("est_rank") >= col("exact_rank")).as("over_ok"))
      .orderBy("pct")
  }

  /** The a16 oracle — direct grain-free build over the mapped double
    * domain; a hash match against any merged per-grain build IS the
    * merge-exactness proof (the a14 discipline on the lifted domain).
    * Shared with the streaming twin.
    */
  val DoubleQuantileSql: String =
    """WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
      | v AS (SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT) ELSE
      |          LEAST(CAST(floor((value - lo) / (hi - lo) * 4096.0) AS BIGINT),
      |          4095) END AS u
      |        FROM events, b),
      | lv AS (SELECT unnest(generate_series(0, 12)) AS lvl),
      | dd AS (SELECT unnest(generate_series(0, 3)) AS d),
      | cells AS (SELECT lvl, d,
      |             CAST('0x' || substr(md5(lvl || ':' || (u >> lvl)),
      |                  1 + d * 3, 3) AS BIGINT) % 256 AS w,
      |             COUNT(*) AS cnt
      |           FROM v CROSS JOIN lv CROSS JOIN dd GROUP BY 1, 2, 3),
      | nodes AS (SELECT lvl, node FROM lv,
      |             LATERAL (SELECT unnest(generate_series(0, (4096 >> lvl) - 1))
      |                      AS node) g),
      | ne AS (SELECT n.lvl, n.node, MIN(COALESCE(c.cnt, 0)) AS est
      |        FROM nodes n CROSS JOIN dd
      |        LEFT JOIN cells c ON c.lvl = n.lvl AND c.d = dd.d
      |          AND c.w = CAST('0x' || substr(md5(n.lvl || ':' || n.node),
      |                         1 + dd.d * 3, 3) AS BIGINT) % 256
      |        GROUP BY 1, 2),
      | vv AS (SELECT unnest(generate_series(0, 4095)) AS vb),
      | bs AS (SELECT vb, bb FROM vv,
      |          LATERAL (SELECT unnest(generate_series(0, 12)) AS bb) g
      |        WHERE ((vb + 1) >> bb) % 2 = 1),
      | rk AS (SELECT s.vb, CAST(SUM(ne.est) AS BIGINT) AS rank_le
      |        FROM bs s JOIN ne ON ne.lvl = s.bb
      |          AND ne.node = 2 * ((s.vb + 1) >> (s.bb + 1))
      |        GROUP BY 1),
      | nt AS (SELECT COUNT(*) AS n FROM v),
      | tg AS (SELECT CAST(p AS BIGINT) AS pct, (p * n + 99) // 100 AS target_rank, n
      |        FROM (VALUES (25), (50), (75), (90), (99)) t(p) CROSS JOIN nt),
      | qq AS (SELECT pct, target_rank, n, MIN(vb) AS q_bucket
      |        FROM tg JOIN rk ON rk.rank_le >= tg.target_rank GROUP BY 1, 2, 3),
      | er AS (SELECT q.pct AS pct,
      |               CAST(SUM(CASE WHEN v.u <= q.q_bucket THEN 1 ELSE 0 END)
      |                    AS BIGINT) AS exact_rank
      |        FROM v CROSS JOIN qq q GROUP BY 1)
      | SELECT q.pct AS pct, CAST(q.target_rank AS BIGINT) AS target_rank,
      |        CAST(q.q_bucket AS BIGINT) AS q_bucket,
      |        lo + CAST(q.q_bucket + 1 AS DOUBLE) * (hi - lo) / 4096.0 AS q_value,
      |        rk.rank_le AS est_rank, er.exact_rank AS exact_rank,
      |        rk.rank_le >= er.exact_rank AS over_ok
      | FROM qq q JOIN rk ON rk.vb = q.q_bucket JOIN er ON er.pct = q.pct
      | CROSS JOIN b
      | ORDER BY 1""".stripMargin

  // ---- a17: ONE-PASS mergeable double quantiles (KLL sampler tier) --------
  // a16 still needs an exact-bounds pre-pass frozen BEFORE any per-shard
  // build — inadmissible for a truly unbounded stream (round-14 verdict
  // #2). a17 serves the same question from the hash-deterministic KLL
  // sampler ([[graft.ops.Sketches.kllLevels]] family — design note there):
  // no bounds pass, no frozen config, per-part sketches merge EXACTLY and
  // order-free, and the served quantile is a verbatim input value (zero
  // float arithmetic), so every output column replays bit-for-bit in SQL.

  /** Sample budget: thresholds guarantee ≤ KllK kept rows per sketch, so
    * the serving rank window runs on a provably bounded frame. Rank error
    * is O(n·√(p(1−p)/m)), m ∈ (KllK/2, KllK] — the 10% drift guard below
    * sits > 5σ out for every served percentile.
    */
  private[queries] val KllK = 1024

  /** Serve percentiles from a merged KLL-sampler sketch `(n, thr)` +
    * sample `(v, h, lvl)`: target_rank = ⌈p·n/100⌉ on the FULL input,
    * lifted to the sample as ⌈target/2^thr⌉ (each kept row stands for
    * 2^thr input rows), picked from the (v, h)-ordered sample —
    * deterministic ties via the row hash. `q_value` is the sampled input
    * value verbatim. The exact-rank drift guard re-touches the data the
    * way a14/a16 do: serving needs only the sketch; the guard (and the
    * oracle's replay of it) is the executable error bound.
    */
  private[queries] def kllQuantilesFrom(s: SparkSession, d: String,
                                        summary: DataFrame,
                                        sample: DataFrame): DataFrame = {
    // global rank over ≤ KllK rows — bounded by the thr guard inside the
    // summary (kllSummary fails loudly before an oversized sample exists);
    // audited-benign in PlanDump --audit-windows
    val ranked = sample.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("h"))))
    val m = sample.agg(count(lit(1)).cast("long").as("m"))
    val tg = summary
      .select(explode(array(Seq(25, 50, 75, 90, 99).map(lit(_)): _*)).as("p"),
        col("n"), col("thr"))
      .select(col("p").cast("long").as("pct"),
        expr("(p * n + 99) div 100").as("target_rank"), col("n"), col("thr"))
      .crossJoin(broadcast(m))
      .withColumn("sample_rank", least(col("m"), expr(
        "(target_rank + shiftleft(CAST(1 AS BIGINT), CAST(thr AS INT)) - 1) " +
          "div shiftleft(CAST(1 AS BIGINT), CAST(thr AS INT))")))
    val qv = tg.join(broadcast(ranked), col("rn") === col("sample_rank"))
      .select(col("pct"), col("n"), col("thr"), col("m"), col("target_rank"),
        col("sample_rank"), col("v").as("q_value"),
        expr("sample_rank * shiftleft(CAST(1 AS BIGINT), CAST(thr AS INT))")
          .as("est_rank"))
    val exact = t(s, d, "events")
      .crossJoin(broadcast(qv.select(col("pct").as("pct2"),
        col("q_value").as("qv2"))))
      .groupBy("pct2")
      .agg(sum(when(col("value") <= col("qv2"), 1L).otherwise(0L))
        .as("exact_rank"))
    qv.join(broadcast(exact), col("pct") === col("pct2"))
      .select(col("pct"), col("n"), col("thr"), col("m"), col("target_rank"),
        col("sample_rank"), col("q_value"), col("est_rank"),
        graft.ops.Bounded.guard(col("exact_rank"),
          abs(col("exact_rank") - col("target_rank")) * 10 <= col("n"),
          "kll quantiles: the served quantile's exact rank drifted beyond " +
            "10% of N — sample too small for this distribution")
          .as("exact_rank"))
      .orderBy("pct")
  }

  /** Per-GRAIN serving from unmerged per-type sketches — the production
    * per-tenant shape (round-15 verdict #5): a17 serves only the GLOBAL
    * quantiles of the merged sketch; real pipelines ask "p99 per tenant".
    * [[graft.ops.Sketches.kllSummary]]/[[graft.ops.Sketches.kllSample]]
    * already carry `grain` columns; this serves each grain's percentiles
    * from its own sketch with the same exact-rank drift guard per
    * (grain, pct) row. Bounded shapes throughout: the rank window is
    * partitioned BY GRAIN over ≤ KllK rows each (never global), the
    * summary/target frames are grains×5 rows (broadcast), and the guard's
    * exact pass is one aggregate over events joined to the broadcast
    * served values.
    */
  private[queries] def kllGroupedQuantilesFrom(s: SparkSession, d: String,
                                               summary: DataFrame,
                                               sample: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = sample.withColumn("rn", row_number().over(
      Window.partitionBy(col("g")).orderBy(col("v"), col("h"))))
    val m = sample.groupBy("g").agg(count(lit(1)).cast("long").as("m"))
    val tg = summary
      .select(col("g"), explode(array(Seq(25, 50, 75, 90, 99).map(lit(_)): _*)).as("p"),
        col("n"), col("thr"))
      .select(col("g"), col("p").cast("long").as("pct"),
        expr("(p * n + 99) div 100").as("target_rank"), col("n"), col("thr"))
      .join(broadcast(m), Seq("g"))
      .withColumn("sample_rank", least(col("m"), expr(
        "(target_rank + shiftleft(CAST(1 AS BIGINT), CAST(thr AS INT)) - 1) " +
          "div shiftleft(CAST(1 AS BIGINT), CAST(thr AS INT))")))
    val qv = tg.join(broadcast(ranked),
        tg("g") === ranked("g") && col("rn") === col("sample_rank"))
      .select(tg("g"), col("pct"), col("n"), col("thr"), col("m"),
        col("target_rank"), col("sample_rank"), col("v").as("q_value"),
        expr("sample_rank * shiftleft(CAST(1 AS BIGINT), CAST(thr AS INT))")
          .as("est_rank"))
    val exact = t(s, d, "events")
      .join(broadcast(qv.select(col("g").as("g2"), col("pct").as("pct2"),
          col("q_value").as("qv2"))),
        col("event_type") === col("g2"))
      .groupBy("g2", "pct2")
      .agg(sum(when(col("value") <= col("qv2"), 1L).otherwise(0L))
        .as("exact_rank"))
    qv.join(broadcast(exact),
        col("g") === col("g2") && col("pct") === col("pct2"))
      .select(col("g"), col("pct"), col("n"), col("thr"), col("m"),
        col("target_rank"), col("sample_rank"), col("q_value"),
        col("est_rank"),
        graft.ops.Bounded.guard(col("exact_rank"),
          abs(col("exact_rank") - col("target_rank")) * 10 <= col("n"),
          "grouped kll quantiles: a grain's served quantile drifted " +
            "beyond 10% of its n — sample too small for this grain")
          .as("exact_rank"))
      .orderBy("g", "pct")
  }

  /** The a18 oracle — the a17 sampler chain WITHOUT the merge: per-type
    * thresholds and samples (identical CTEs), then per-grain rank pick and
    * per-grain exact-rank drift replayed in SQL.
    */
  val KllGroupedQuantileSql: String =
    """WITH r AS (SELECT event_type AS g, value AS v, event_id AS eid,
      |             CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12)
      |               AS BIGINT) + 1 AS h
      |           FROM events),
      | l16 AS (SELECT unnest(generate_series(1, 16)) AS lb),
      | rl AS (SELECT g, v, eid, h,
      |          CAST(SUM(CASE WHEN h % (CAST(1 AS BIGINT) << lb) = 0
      |            THEN 1 ELSE 0 END) AS INTEGER) AS lvl
      |        FROM r CROSS JOIN l16 GROUP BY g, v, eid, h),
      | l0 AS (SELECT unnest(generate_series(0, 16)) AS l),
      | gs AS (SELECT DISTINCT g FROM rl),
      | pc AS (SELECT g, lvl, COUNT(*) AS c FROM rl GROUP BY 1, 2),
      | ge AS (SELECT gs.g, l0.l,
      |          CAST(COALESCE(SUM(CASE WHEN pc.lvl >= l0.l THEN pc.c END), 0)
      |            AS BIGINT) AS cge
      |        FROM gs CROSS JOIN l0 LEFT JOIN pc ON pc.g = gs.g
      |        GROUP BY gs.g, l0.l),
      | th AS (SELECT g, CAST(MIN(CASE WHEN cge <= 1024 THEN l END) AS BIGINT) AS thr,
      |               MAX(CASE WHEN l = 0 THEN cge END) AS n
      |        FROM ge GROUP BY g),
      | sm AS (SELECT rl.g, rl.v, rl.h, rl.lvl FROM rl JOIN th USING (g)
      |        WHERE rl.lvl >= th.thr),
      | rk AS (SELECT g, v, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, h) AS rn
      |        FROM sm),
      | mm AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS m FROM sm GROUP BY g),
      | tg AS (SELECT th.g, CAST(p AS BIGINT) AS pct,
      |               (p * n + 99) // 100 AS target_rank, n, thr
      |        FROM (VALUES (25), (50), (75), (90), (99)) t(p) CROSS JOIN th),
      | qr AS (SELECT tg.g, tg.pct, tg.target_rank, tg.n, tg.thr, mm.m,
      |               LEAST(mm.m, (tg.target_rank + (CAST(1 AS BIGINT) << tg.thr) - 1)
      |                 // (CAST(1 AS BIGINT) << tg.thr)) AS sample_rank
      |        FROM tg JOIN mm USING (g)),
      | qv AS (SELECT qr.*, rk.v AS q_value,
      |               qr.sample_rank * (CAST(1 AS BIGINT) << qr.thr) AS est_rank
      |        FROM qr JOIN rk ON rk.g = qr.g AND rk.rn = qr.sample_rank),
      | er AS (SELECT qv.g AS g, qv.pct AS pct,
      |               CAST(SUM(CASE WHEN e.value <= qv.q_value THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS exact_rank
      |        FROM events e JOIN qv ON e.event_type = qv.g GROUP BY 1, 2)
      | SELECT q.g, q.pct, q.n, q.thr, q.m,
      |        CAST(q.target_rank AS BIGINT) AS target_rank,
      |        CAST(q.sample_rank AS BIGINT) AS sample_rank, q.q_value,
      |        q.est_rank, er.exact_rank
      | FROM qv q JOIN er ON er.g = q.g AND er.pct = q.pct
      | ORDER BY 1, 2""".stripMargin

  /** The a17 oracle — replays the whole sampler chain (per-row levels from
    * the 48-bit row-key hash, per-type thresholds, sample union, merged
    * re-threshold, (v, h)-ordered pick, exact-rank drift) directly in SQL;
    * a hash match against Spark's per-type-then-merge build IS the
    * merge-exactness proof (the a14 discipline without any frozen
    * config). Shared with the streaming twin, whose per-BATCH folds must
    * converge to the identical state (merge is associative and
    * order-free).
    */
  val KllQuantileSql: String =
    """WITH r AS (SELECT event_type AS g, value AS v, event_id AS eid,
      |             CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12)
      |               AS BIGINT) + 1 AS h
      |           FROM events),
      | l16 AS (SELECT unnest(generate_series(1, 16)) AS lb),
      | rl AS (SELECT g, v, eid, h,
      |          CAST(SUM(CASE WHEN h % (CAST(1 AS BIGINT) << lb) = 0
      |            THEN 1 ELSE 0 END) AS INTEGER) AS lvl
      |        FROM r CROSS JOIN l16 GROUP BY g, v, eid, h),
      | l0 AS (SELECT unnest(generate_series(0, 16)) AS l),
      | gs AS (SELECT DISTINCT g FROM rl),
      | pc AS (SELECT g, lvl, COUNT(*) AS c FROM rl GROUP BY 1, 2),
      | ge AS (SELECT gs.g, l0.l,
      |          CAST(COALESCE(SUM(CASE WHEN pc.lvl >= l0.l THEN pc.c END), 0)
      |            AS BIGINT) AS cge
      |        FROM gs CROSS JOIN l0 LEFT JOIN pc ON pc.g = gs.g
      |        GROUP BY gs.g, l0.l),
      | th AS (SELECT g, MIN(CASE WHEN cge <= 1024 THEN l END) AS thr,
      |               MAX(CASE WHEN l = 0 THEN cge END) AS n
      |        FROM ge GROUP BY g),
      | sm AS (SELECT rl.g, rl.v, rl.h, rl.lvl FROM rl JOIN th USING (g)
      |        WHERE rl.lvl >= th.thr),
      | t0 AS (SELECT MAX(thr) AS thr0, CAST(SUM(n) AS BIGINT) AS n FROM th),
      | spc AS (SELECT lvl, COUNT(*) AS c FROM sm GROUP BY 1),
      | mge AS (SELECT l0.l,
      |           CAST(COALESCE(SUM(CASE WHEN spc.lvl >= l0.l THEN spc.c END), 0)
      |             AS BIGINT) AS cge
      |         FROM l0 LEFT JOIN spc ON TRUE GROUP BY l0.l),
      | mth AS (SELECT CAST(MIN(CASE WHEN cge <= 1024 AND l >= thr0 THEN l END)
      |               AS BIGINT) AS thr, n
      |         FROM mge CROSS JOIN t0 GROUP BY n),
      | ms AS (SELECT sm.v, sm.h FROM sm CROSS JOIN mth WHERE sm.lvl >= mth.thr),
      | rk AS (SELECT v, h, ROW_NUMBER() OVER (ORDER BY v, h) AS rn FROM ms),
      | mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ms),
      | tg AS (SELECT CAST(p AS BIGINT) AS pct, (p * n + 99) // 100 AS target_rank,
      |               n, thr
      |        FROM (VALUES (25), (50), (75), (90), (99)) t(p) CROSS JOIN mth),
      | qr AS (SELECT pct, target_rank, n, thr, m,
      |               LEAST(m, (target_rank + (CAST(1 AS BIGINT) << thr) - 1)
      |                 // (CAST(1 AS BIGINT) << thr)) AS sample_rank
      |        FROM tg CROSS JOIN mm),
      | qv AS (SELECT qr.*, rk.v AS q_value,
      |               qr.sample_rank * (CAST(1 AS BIGINT) << qr.thr) AS est_rank
      |        FROM qr JOIN rk ON rk.rn = qr.sample_rank),
      | er AS (SELECT qv.pct AS pct,
      |               CAST(SUM(CASE WHEN e.value <= qv.q_value THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS exact_rank
      |        FROM events e CROSS JOIN qv GROUP BY 1)
      | SELECT q.pct, q.n, q.thr, q.m, CAST(q.target_rank AS BIGINT) AS target_rank,
      |        CAST(q.sample_rank AS BIGINT) AS sample_rank, q.q_value,
      |        q.est_rank, er.exact_rank
      | FROM qv q JOIN er ON er.pct = q.pct ORDER BY 1""".stripMargin

  // ---- g_louvain / g_louvain2 shared plumbing -----------------------------

  /** The successor graph both Louvain entries (and g_label_prop) run on. */
  private def louvainEdges(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    (1 to 3).map(delta =>
        t(s, d, "customer").select(k.as("src"), (k + delta).as("dst")))
      .reduce(_ union _)
  }

  /** Level-1 Louvain over [[louvainEdges]], a shared store: the gain
    * rounds run DRIVER-side during plan construction (checkpoint-backed
    * result), so the CacheManager plan-matching trick cannot share them —
    * the RESULT frame is what g_louvain and g_louvain2 reuse (measured: the
    * duplicated level-1 was ~40% of g_louvain2's wall).
    */
  private def louvainL1Shared(s: SparkSession, d: String): DataFrame =
    SharedStores(s, "louvain_l1", d)(
      graft.ops.GraphTraversal.louvainLevel(louvainEdges(s, d), rounds = 2))

  /** The 3-round label-propagation assignment over [[louvainEdges]] —
    * shared like [[louvainL1Shared]] (driver-eager checkpointed rounds, so
    * CacheManager plan matching cannot share them): g_label_prop EMITS it
    * and g_louvain consumes it as the quality baseline its gain moves must
    * beat, so one run serves both (r17; before this the identical LPA
    * fixpoint ran twice per battery).
    */
  private[queries] def lpaShared(s: SparkSession, d: String): DataFrame =
    SharedStores(s, "lpa_labels", d)(
      graft.ops.GraphTraversal.labelPropagation(louvainEdges(s, d), rounds = 3))

  /** The UNREFINED level-2 pyramid projection (g_louvain2's assignment),
    * shared like [[louvainL1Shared]]: g_louvain2 emits it and g_leiden
    * needs it as the quality bar its refined pyramid must match-or-beat —
    * without sharing, each entry pays the contracted weighted level's
    * driver-side gain rounds twice per battery.
    */
  private def louvainProj2Shared(s: SparkSession, d: String): DataFrame =
    SharedStores(s, "louvain_proj2", d) {
      val und = louvainUnd(louvainEdges(s, d))
      val l1 = louvainL1Shared(s, d)
      val l2 = graft.ops.GraphTraversal.louvainWeightedLevel(
        graft.ops.GraphTraversal.louvainContract(und, l1), rounds = 2)
      l1.select(col("id"), col("community").as("c1"))
        .join(l2.select(col("id").as("c1"), col("community")), Seq("c1"))
        .select(col("id"), col("community"))
    }

  /** Undirected-distinct (a ≤ b) edges of the successor graph. */
  private def louvainUnd(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Σ_c (4·m·m_intra(c) − D_c²) for an assignment over `und` — the
    * g_modularity integer numerator summed to ONE comparable Long row
    * (`q`); the in-plan judge for both Louvain guards.
    */
  private def modularityQ(und: DataFrame, lab: DataFrame): DataFrame = {
    val mRow = und.agg(count(lit(1)).as("m"))
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dv"))
    val intra = und
      .join(lab.select(col("id").as("a"), col("community").as("ca")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("community").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("mi"))
    lab.join(deg, Seq("id"))
      .groupBy(col("community").as("c")).agg(sum(col("dv")).as("ds"))
      .join(intra, Seq("c"), "left")
      .crossJoin(broadcast(mRow))
      .agg(sum(lit(4L) * col("m") * coalesce(col("mi"), lit(0L))
        - col("ds") * col("ds")).as("q"))
  }

  /** The level-1 Louvain oracle CTE chain (through `c2`) — shared prefix
    * of g_louvain's and g_louvain2's oracles.
    */
  private val LouvainCtePrefix: String =
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |     ${(1 to 3).map(dlt =>
              s"SELECT c_custkey AS src, c_custkey + $dlt AS dst FROM customer")
              .mkString(" UNION ALL ")})),
       | und AS MATERIALIZED (SELECT src AS a, dst AS b FROM e0),
       | sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
       |     UNION ALL SELECT b AS src, a AS dst FROM und),
       | m AS (SELECT COUNT(*) AS m FROM und),
       | deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS dv FROM sym GROUP BY 1),
       | c0 AS MATERIALIZED (SELECT id, id AS comm FROM deg)${(1 to 2).map(it =>
          s""",
       | tot$it AS MATERIALIZED (SELECT c.comm, SUM(d.dv) AS tot
       |     FROM c${it - 1} c JOIN deg d ON d.id = c.id GROUP BY 1),
       | kv$it AS MATERIALIZED (SELECT s.src AS v, c.comm, COUNT(*) AS k
       |     FROM sym s JOIN c${it - 1} c ON c.id = s.dst GROUP BY 1, 2),
       | cd$it AS MATERIALIZED (SELECT v, comm, MAX(k) AS k FROM (
       |     SELECT v, comm, k FROM kv$it
       |     UNION ALL SELECT id AS v, comm, 0 AS k FROM c${it - 1}) GROUP BY 1, 2),
       | g$it AS MATERIALIZED (SELECT cd.v AS v, cd.comm AS comm,
       |       2 * m.m * cd.k - d.dv * (t.tot - CASE WHEN cu.comm = cd.comm
       |           THEN d.dv ELSE 0 END) AS gain
       |     FROM cd$it cd JOIN deg d ON d.id = cd.v
       |     JOIN c${it - 1} cu ON cu.id = cd.v
       |     JOIN tot$it t ON t.comm = cd.comm CROSS JOIN m),
       | b$it AS (SELECT v, MAX(gain) AS mg FROM g$it GROUP BY 1),
       | n$it AS (SELECT g.v AS id, MIN(g.comm) AS comm
       |     FROM g$it g JOIN b$it b ON b.v = g.v AND g.gain = b.mg GROUP BY 1),
       | c$it AS MATERIALIZED (SELECT n.id,
       |       CASE WHEN n.id % 2 = ${(it - 1) % 2} THEN n.comm
       |            ELSE cu.comm END AS comm
       |     FROM n$it n JOIN c${it - 1} cu ON cu.id = n.id)""")
          .mkString}""".stripMargin

  /** The a11 KMV oracle — shared with the streaming twin (bottom-k merge
    * is exact over a total order, so the converged streaming heaps must
    * yield the same estimates the direct whole-corpus build yields).
    */
  val KmvDistinctSql: String =
    """WITH h AS (SELECT DISTINCT l_returnflag AS grp,
      |             CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 12) AS BIGINT) + 1 AS hv
      |           FROM lineitem),
      | rk AS (SELECT grp, hv, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY hv) AS rn FROM h),
      | pg AS (SELECT grp, COUNT(*) AS n_exact,
      |               MAX(CASE WHEN rn = 64 THEN hv END) AS hk
      |        FROM rk GROUP BY grp),
      | flags AS (SELECT grp, n_exact,
      |             CASE WHEN n_exact < 64 THEN n_exact
      |                  ELSE 17732923532771328 // hk END AS kmv_est
      |           FROM pg),
      | grk AS (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
      |         FROM (SELECT DISTINCT hv FROM h)),
      | ga AS (SELECT COUNT(*) AS n_exact,
      |               MAX(CASE WHEN rn = 64 THEN hv END) AS hk FROM grk),
      | allr AS (SELECT '__ALL__' AS grp, n_exact,
      |            CASE WHEN n_exact < 64 THEN n_exact
      |                 ELSE 17732923532771328 // hk END AS kmv_est
      |          FROM ga)
      | SELECT grp, CAST(n_exact AS BIGINT) AS n_exact,
      |        CAST(kmv_est AS BIGINT) AS kmv_est
      | FROM (SELECT * FROM flags UNION ALL SELECT * FROM allr)
      | ORDER BY grp""".stripMargin

  /** The g_cc_incremental oracle — the full-union closure the delta
    * maintenance must be bit-identical to. Shared with the streaming twin
    * (per-batch componentsIncremental converges to the same labeling).
    */
  val CcIncrementalSql: String =
    """WITH RECURSIVE ck AS (SELECT DISTINCT c_custkey AS k FROM customer),
      | de AS (SELECT k AS u, k + 1 AS v FROM ck WHERE k % 10 <> 9
      |        UNION ALL
      |        SELECT k, k + 1 FROM ck WHERE k % 50 = 49),
      | vv AS (SELECT DISTINCT x AS id FROM
      |         (SELECT u AS x FROM de UNION ALL SELECT v FROM de)),
      | ed AS (SELECT u, v FROM de UNION SELECT v, u FROM de),
      | reach AS (SELECT id AS u, id AS v FROM vv
      |           UNION
      |           SELECT r.u, e.v FROM reach r JOIN ed e ON r.v = e.u)
      | SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u
      | ORDER BY id""".stripMargin

  /** The a11 query body — per-flag KMV sketches + the twice-computed
    * __ALL__ row with the merge-exactness guard.
    */
  def a11KmvQuery(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val li = t(s, d, "lineitem")
    val perGrp = graft.ops.Sketches.kmvSketch(
      li.select(col("l_returnflag").as("grp"), col("l_orderkey")),
      "l_orderkey", Seq("grp"), k)
    val flags = perGrp.select(col("grp"), col("n_exact"),
      graft.ops.Sketches.kmvEstimate("bk", k).as("kmv_est"))
    val direct = graft.ops.Sketches.kmvSketch(
      li.select(col("l_orderkey")), "l_orderkey", Nil, k)
      .select(lit("__ALL__").as("grp"), col("n_exact"),
        graft.ops.Sketches.kmvEstimate("bk", k).as("kmv_est"))
    val mergedEst = graft.ops.Sketches.kmvMerge(perGrp, k)
      .select(graft.ops.Sketches.kmvEstimate("bk", k).as("m_est"))
    val all = direct.crossJoin(broadcast(mergedEst))
      .select(col("grp"), col("n_exact"),
        graft.ops.Bounded.guard(col("kmv_est"),
          col("kmv_est") === col("m_est"),
          "a11_kmv_distinct: merged sketch estimate diverged from direct")
          .as("kmv_est"))
    flags.unionByName(all).orderBy("grp")
  }

  /** The g_fof_recommend candidate core (2-hop expansion from every
    * `sampleMod`-th node, direct edges anti-joined, common-neighbor
    * support counted) — shared with ScaleProbe so the probe measures the
    * exact registry operator.
    */
  def fofCandidates(rawEdges: DataFrame, sampleMod: Int): DataFrame = {
    val edges = rawEdges.select("src", "dst").distinct()
    val u = edges.filter(col("src") % sampleMod === 0)
    val two = u.select(col("src").as("u"), col("dst").as("x"))
      .join(edges.select(col("src").as("x"), col("dst").as("v")), Seq("x"))
      .filter(col("v") =!= col("u"))
    two.join(edges.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .groupBy("u", "v").agg(count(lit(1)).as("n_common"))
  }

  /** Synthetic triple set in the engine's raw-triple shape. Inputs are
    * redistributed first: the testdata parquet is single-row-group (one task
    * otherwise) and the downstream vtuple parse is the CPU-heavy stage.
    */
  private def syntheticTriples(s: SparkSession, d: String): DataFrame = {
    def spread(df: DataFrame): DataFrame =
      df.repartition(s.sparkContext.defaultParallelism)
    val edges = spread(t(s, d, "orders")).select(
      lit("orders").as("src_file"),
      col("o_orderkey").as("stmt_idx"),
      concat(lit(Obo + "CL_"), col("o_custkey")).as("subject"),
      concat(lit("http://example.org/rel#status_"), col("o_orderstatus")).as("predicate"),
      concat(lit(Obo + "GO_"), col("o_orderkey")).as("object"),
      lit(true).as("obj_is_uri"), lit(false).as("obj_is_literal"),
      lit(false).as("obj_is_blank"), lit(null).cast("string").as("obj_lexical"))
    val cust = spread(t(s, d, "customer"))
    val labels = cust.select(
      lit("customer").as("src_file"),
      col("c_custkey").as("stmt_idx"),
      concat(lit(Obo + "CL_"), col("c_custkey")).as("subject"),
      lit("http://example.org/attr#label").as("predicate"),
      concat(lit("\""), col("c_name"), lit("\"")).as("object"),
      lit(false).as("obj_is_uri"), lit(true).as("obj_is_literal"),
      lit(false).as("obj_is_blank"), col("c_name").as("obj_lexical"))
    val nations = cust.select(
      lit("customer").as("src_file"),
      (col("c_custkey") + 10000000L).as("stmt_idx"),
      concat(lit(Obo + "CL_"), col("c_custkey")).as("subject"),
      lit("http://example.org/attr#nation").as("predicate"),
      concat(lit("\""), col("c_nationkey").cast("string"), lit("\"")).as("object"),
      lit(false).as("obj_is_uri"), lit(true).as("obj_is_literal"),
      lit(false).as("obj_is_blank"), col("c_nationkey").cast("string").as("obj_lexical"))
    edges.union(labels).union(nations)
  }

  private def emptyRoTerms(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation").select(col("n_name").as("term"), col("n_name").as("label")).limit(0)

  /** Shared triangle-counting CTE chain (successor graph over customer
    * keys, degree-ordered orientation, wedge closing) — `deg` and `pv`
    * feed both g_triangles and g_cluster_coeff's finals.
    */
  private val TriangleCtes: String =
    """WITH e0 AS (SELECT c_custkey AS src, c_custkey + d AS dst
      |            FROM customer, LATERAL (SELECT unnest(generate_series(1, 3)) AS d) g),
      | und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |         FROM e0 WHERE src <> dst),
      | deg AS (SELECT v, COUNT(*) AS deg
      |         FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
      |         GROUP BY v),
      | o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
      |                   THEN a ELSE b END AS u,
      |              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
      |                   THEN b ELSE a END AS v,
      |              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
      |                   THEN db.deg ELSE da.deg END AS deg_v
      |       FROM und JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
      | tri AS (SELECT o1.u, o1.v AS x, o2.v AS y
      |         FROM o o1 JOIN o o2 ON o1.u = o2.u
      |          AND (o1.deg_v < o2.deg_v OR (o1.deg_v = o2.deg_v AND o1.v < o2.v))
      |         JOIN o oc ON oc.u = o1.v AND oc.v = o2.v),
      | pv AS (SELECT v, COUNT(*) AS c
      |        FROM (SELECT u AS v FROM tri UNION ALL SELECT x AS v FROM tri
      |              UNION ALL SELECT y AS v FROM tri)
      |        GROUP BY v)""".stripMargin

  val all: Seq[Entry] = Seq(

    // ---- A2/U2 through GraphOps.vertices (native vtuple_parse) ----------
    ("g_vertices",
      (s, d) => GraphOps.vertices(syntheticTriples(s, d)).orderBy("id", "number"),
      """SELECT id, number FROM (
        |   SELECT DISTINCT 'CL' AS id, CAST(c_custkey AS VARCHAR) AS number FROM customer
        |   UNION
        |   SELECT DISTINCT 'CL' AS id, CAST(o_custkey AS VARCHAR) AS number FROM orders
        |   UNION
        |   SELECT DISTINCT 'GO' AS id, CAST(o_orderkey AS VARCHAR) AS number FROM orders)
        | ORDER BY id, number""".stripMargin),

    // ---- A3/J2/N4 through GraphOps.edges --------------------------------
    ("g_edges",
      (s, d) => GraphOps.edges(syntheticTriples(s, d), emptyRoTerms(s, d))
        .select("from_id", "from_number", "to_id", "to_number", "label", "source")
        .orderBy("to_number"),
      """SELECT 'CL' AS from_id, CAST(o_custkey AS VARCHAR) AS from_number,
        |        'GO' AS to_id, CAST(o_orderkey AS VARCHAR) AS to_number,
        |        'STATUS_' || o_orderstatus AS label, 'CL' AS source
        | FROM orders ORDER BY to_number""".stripMargin),

    // ---- U1 attribute pivot through GraphOps.vertexAttributes(Wide) -----
    ("g_attrs_pivot",
      (s, d) => GraphOps.vertexAttributesWideDirect(
        syntheticTriples(s, d), emptyRoTerms(s, d), Seq("label", "nation"))
        .orderBy("number"),
      """SELECT 'CL' AS id, CAST(c_custkey AS VARCHAR) AS number,
        |        c_name AS label, CAST(c_nationkey AS VARCHAR) AS nation
        | FROM customer ORDER BY number""".stripMargin),

    // ---- A7 exact counters ----------------------------------------------
    ("a7_counts",
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts")),
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
        |        COUNT(DISTINCT l_partkey) AS n_parts FROM lineitem""".stripMargin),

    // ---- bounded BFS traversal (k-hop neighborhood) ---------------------
    // binary-tree-shaped edges derived from customer keys (parent k/2 ->
    // child k): deep, deterministic, and identical on both engines. BFS
    // from node 1 within 5 hops labels each reachable key with floor(log2)
    // depth; the oracle is an independent recursive-CTE walk + MIN(level).
    ("g_bfs_levels",
      (s, d) => {
        val edges = t(s, d, "customer").select(
          floor(col("c_custkey") / 2).cast("long").as("src"),
          col("c_custkey").as("dst"))
        val sources = s.range(1, 2).toDF("id")
        graft.ops.GraphTraversal.bfsLevels(edges, sources, maxHops = 5)
          .orderBy("id")
      },
      """WITH RECURSIVE e AS (SELECT c_custkey // 2 AS src, c_custkey AS dst
        |                     FROM customer),
        | walk AS (SELECT CAST(1 AS BIGINT) AS id, 0 AS level
        |          UNION
        |          SELECT e.dst AS id, w.level + 1 AS level
        |          FROM walk w JOIN e ON e.src = w.id WHERE w.level < 5)
        | SELECT id, MIN(level) AS level FROM walk GROUP BY id ORDER BY id""".stripMargin),

    // ---- hop-bounded weighted shortest paths (Bellman-Ford) --------------
    // successor edges k -> k+d with weight d² (d in 1..3): the cheapest
    // route to a far key under a 6-hop budget must SPLIT the distance
    // across hops (all-1 steps beat one 3-step: 3·1 < 9), so min-dist
    // genuinely discriminates path choices. Exact integer weights; the
    // oracle walks all ≤6-hop paths with a recursive CTE and takes the min.
    ("g_sssp_bounded",
      (s, d) => {
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("src"), (k + delta).as("dst"),
              lit(delta.toLong * delta).as("weight")))
          .reduce(_ union _)
        val sources = t(s, d, "customer").filter(k <= 3).select(k.as("id"))
        graft.ops.GraphTraversal.shortestPaths(edges, sources, maxHops = 6)
          .orderBy("id")
      },
      """WITH RECURSIVE ck AS (SELECT DISTINCT c_custkey AS k FROM customer),
        | walk AS (SELECT k AS id, CAST(0 AS BIGINT) AS dist, 0 AS hops
        |          FROM ck WHERE k <= 3
        |          UNION ALL
        |          SELECT w.id + d AS id, w.dist + d * d AS dist, w.hops + 1 AS hops
        |          FROM walk w JOIN ck ON ck.k = w.id,
        |               LATERAL (SELECT unnest(generate_series(1, 3)) AS d) g
        |          WHERE w.hops < 6)
        | SELECT id, MIN(dist) AS dist FROM walk GROUP BY id ORDER BY id""".stripMargin),

    // ---- per-vertex triangle counts -------------------------------------
    // successor edges k -> k+d (d in 1..3) over customer keys: every interior
    // key closes triangles with its near successors, so counts are dense and
    // non-uniform at the range edges. Engine = degree-ordered orientation +
    // wedge closing (O(m^1.5) bound); oracle = direct 3-way join over the
    // canonical undirected edge set with the SAME orientation spelled out.
    ("g_triangles",
      (s, d) => {
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        graft.ops.GraphTraversal.triangleCounts(edges)
          .orderBy("id")
      },
      s"""$TriangleCtes
        | SELECT deg.v AS id, COALESCE(pv.c, 0) AS n_triangles
        | FROM deg LEFT JOIN pv ON pv.v = deg.v
        | ORDER BY id""".stripMargin),

    // ---- local clustering coefficient ------------------------------------
    // 2·T(v) / (deg·(deg−1)) over the same successor graph: exact integer
    // numerator and denominator from the shared triangle core, ONE double
    // division at the end (cross-engine deterministic), 0 for degree < 2.
    ("g_cluster_coeff",
      (s, d) => {
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        graft.ops.GraphTraversal.clusteringCoefficients(edges)
          .orderBy("id")
      },
      s"""$TriangleCtes
        | SELECT deg.v AS id, deg.deg AS degree,
        |        COALESCE(pv.c, 0) AS n_triangles,
        |        CASE WHEN deg.deg >= 2
        |             THEN CAST(COALESCE(pv.c, 0) * 2 AS DOUBLE) / (deg.deg * (deg.deg - 1))
        |             ELSE 0.0 END AS coeff
        | FROM deg LEFT JOIN pv ON pv.v = deg.v
        | ORDER BY id""".stripMargin),

    // ---- snapshot diff between two collection builds --------------------
    // the ontology-release comparison, with MODULAR membership so all four
    // change states exist at every scale factor: old = keys with
    // key%10 != 1, new = keys with key%10 != 2, every 7th value bumped —
    // added = %10==1, removed = %10==2, changed = %7==0 of the overlap.
    ("g_snapshot_diff",
      (s, d) => {
        val c = t(s, d, "customer")
        val oldSnap = c.filter(col("c_custkey") % 10 =!= 1)
          .select(col("c_custkey").as("key"), col("c_nationkey").as("nation"))
        val newSnap = c.filter(col("c_custkey") % 10 =!= 2)
          .select(col("c_custkey").as("key"),
            (col("c_nationkey") +
              when(col("c_custkey") % 7 === 0, 1).otherwise(0)).as("nation"))
        GraphOps.snapshotDiff(oldSnap, newSnap, Seq("key"), Seq("nation"))
          .orderBy("key")
      },
      """WITH o AS (SELECT c_custkey AS key, c_nationkey AS nation
        |           FROM customer WHERE c_custkey % 10 <> 1),
        | n AS (SELECT c_custkey AS key,
        |              c_nationkey + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END AS nation
        |       FROM customer WHERE c_custkey % 10 <> 2)
        | SELECT COALESCE(o.key, n.key) AS key,
        |        o.nation AS old_nation, n.nation AS new_nation,
        |        CASE WHEN o.key IS NULL THEN 'added'
        |             WHEN n.key IS NULL THEN 'removed'
        |             WHEN o.nation = n.nation THEN 'unchanged'
        |             ELSE 'changed' END AS change
        | FROM o FULL OUTER JOIN n ON o.key = n.key
        | ORDER BY key""".stripMargin),

    // ---- PageRank -------------------------------------------------------
    // same successor graph as g_triangles. Iterative float sums are not
    // bit-portable across engines (addition order differs), but they ARE
    // stable to ~1e-14 relative (dense-reference spec pins 1e-9), so ranks
    // ROUNDED to micro-units hash-match an oracle that unrolls the same 8
    // damped rounds as chained CTEs — dangling-mass redistribution and all.
    // floor(x*1e6 + 0.5) on both sides avoids engine-specific round() ties.
    ("g_pagerank",
      (s, d) => {
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        graft.ops.GraphTraversal.pageRank(edges, iterations = 8)
          .select(col("id"),
            floor(col("rank") * lit(1e6) + lit(0.5)).cast("long").as("rank_micro"))
          .orderBy("id")
      },
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |     ${(1 to 3).map(dlt =>
                s"SELECT c_custkey AS src, c_custkey + $dlt AS dst FROM customer")
                .mkString(" UNION ALL ")})),
         | v AS MATERIALIZED (SELECT DISTINCT id FROM
         |     (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         | nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v),
         | od AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg
         |     FROM e GROUP BY src),
         | r0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS rank FROM v, nn)${(1 to 8).map(it =>
            s""",
         | d$it AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0) AS dm
         |     FROM r${it - 1} r LEFT JOIN od ON od.id = r.id WHERE od.id IS NULL),
         | c$it AS MATERIALIZED (SELECT e.dst AS id, SUM(r.rank / od.outdeg) AS inbound
         |     FROM r${it - 1} r JOIN od ON od.id = r.id JOIN e ON e.src = r.id
         |     GROUP BY e.dst),
         | r$it AS MATERIALIZED (SELECT v.id,
         |       (1 - 0.85) / nn.n + 0.85 * (COALESCE(c.inbound, 0) + d.dm / nn.n) AS rank
         |     FROM v CROSS JOIN nn CROSS JOIN d$it d LEFT JOIN c$it c ON c.id = v.id)""")
            .mkString}
         | SELECT id, CAST(floor(rank * 1e6 + 0.5) AS BIGINT) AS rank_micro
         | FROM r8 ORDER BY id""".stripMargin),

    // ---- label propagation (community detection) ------------------------
    // synchronous LPA on the same successor graph: every quantity is an
    // integer (label counts, min-label tie-break), so unlike g_pagerank's
    // micro-rounding the rounds replay EXACTLY — the oracle unrolls the
    // identical 3 rounds (vote count → max per vertex → min label at max)
    // as materialized CTEs and compares full (id, label) rows.
    ("g_label_prop",
      // serves the shared 3-round LPA labeling (see lpaShared): g_louvain's
      // baseline guard runs the identical fixpoint — one run, two consumers
      (s, d) => lpaShared(s, d).orderBy("id"),
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |     ${(1 to 3).map(dlt =>
                s"SELECT c_custkey AS src, c_custkey + $dlt AS dst FROM customer")
                .mkString(" UNION ALL ")})),
         | sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |     SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)
         |     WHERE src <> dst),
         | l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM sym)${(1 to 3).map(it =>
            s""",
         | v$it AS MATERIALIZED (SELECT s.src, l.label, COUNT(*) AS cnt
         |     FROM sym s JOIN l${it - 1} l ON s.dst = l.id GROUP BY 1, 2),
         | b$it AS MATERIALIZED (SELECT src, MAX(cnt) AS m FROM v$it GROUP BY 1),
         | l$it AS MATERIALIZED (SELECT v.src AS id, MIN(v.label) AS label
         |     FROM v$it v JOIN b$it b ON v.src = b.src AND v.cnt = b.m GROUP BY 1)""")
            .mkString}
         | SELECT id, label FROM l3 ORDER BY id""".stripMargin),

    // ---- Louvain level (modularity-OPTIMIZING community detection) -------
    // the community *search* g_label_prop (vote-based) and g_modularity
    // (score-only) bracket but neither does: two parity-alternating rounds
    // of exact-integer modularity-gain moves (GraphTraversal.louvainLevel;
    // round r moves only id ≡ r mod 2 — the symmetric-swap oscillation
    // fix) over the same successor graph, unrolled in the oracle as
    // materialized CTEs (gain = 2·m·k_vc − deg·(Σtot − [stay]·deg),
    // max-gain-then-min-id — every quantity a Long, bit-replayable). The
    // guard proves the SEARCH works: total modularity numerator
    // Σ_c (4·m·m_c − D_c²) of the Louvain assignment must strictly beat
    // the 3-round LPA baseline's on the identical graph.
    ("g_louvain",
      (s, d) => {
        val edges = louvainEdges(s, d)
        val louvain = louvainL1Shared(s, d)
        val lpa = lpaShared(s, d)
          .select(col("id"), col("label").as("community"))
        val und = louvainUnd(edges)
        val beats = modularityQ(und, louvain).select(col("q").as("q_lou"))
          .crossJoin(modularityQ(und, lpa).select(col("q").as("q_lpa")))
        louvain.crossJoin(broadcast(beats))
          .select(col("id"),
            graft.ops.Bounded.guard(col("community"),
              col("q_lou") > col("q_lpa"),
              "g_louvain: modularity-gain moves failed to beat the LPA " +
                "baseline — the search regressed").as("community"),
            lit(true).as("beats_lpa"))
          .orderBy("id")
      },
      s"""$LouvainCtePrefix
         | SELECT id, comm AS community, TRUE AS beats_lpa
         | FROM c2 ORDER BY id""".stripMargin),

    // ---- Louvain SECOND level (weighted contracted graph) ----------------
    // the other half of the pyramid: g_louvain's assignment contracts to
    // supernodes (inter-community weights + intra self-loops) and the SAME
    // parity-alternating integer gains run WEIGHTED (strength for degree,
    // total weight for m — self-loops count twice in strength, once in W,
    // preserving Σs = 2W). The guard pins the pyramid's point: the
    // level-2 assignment projected back to vertices must strictly beat
    // level 1's modularity. The oracle extends the level-1 CTE chain with
    // the contraction + two weighted rounds.
    ("g_louvain2",
      (s, d) => {
        val edges = louvainEdges(s, d)
        val l1 = louvainL1Shared(s, d)
        val und = louvainUnd(edges)
        val projected = louvainProj2Shared(s, d)
        val beats = modularityQ(und, projected).select(col("q").as("q_l2"))
          .crossJoin(modularityQ(und, l1).select(col("q").as("q_l1")))
        projected.crossJoin(broadcast(beats))
          .select(col("id"),
            graft.ops.Bounded.guard(col("community"),
              col("q_l2") > col("q_l1"),
              "g_louvain2: the contracted weighted level failed to improve " +
                "on level 1 — the pyramid regressed").as("community"),
            lit(true).as("beats_l1"))
          .orderBy("id")
      },
      s"""$LouvainCtePrefix,
         | wcon AS MATERIALIZED (SELECT LEAST(la.comm, lb.comm) AS a,
         |       GREATEST(la.comm, lb.comm) AS b, COUNT(*) AS w
         |     FROM und u JOIN c2 la ON la.id = u.a
         |     JOIN c2 lb ON lb.id = u.b GROUP BY 1, 2),
         | wsym AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM wcon WHERE a <> b
         |     UNION ALL SELECT b AS src, a AS dst, w FROM wcon WHERE a <> b),
         | wm AS (SELECT SUM(w) AS m FROM wcon),
         | wstr AS MATERIALIZED (SELECT id, SUM(w) AS dv FROM (
         |     SELECT src AS id, w FROM wsym
         |     UNION ALL SELECT a AS id, 2 * w AS w FROM wcon WHERE a = b)
         |     GROUP BY 1),
         | w0 AS MATERIALIZED (SELECT id, id AS comm FROM wstr)${(1 to 2).map(it =>
            s""",
         | wt$it AS MATERIALIZED (SELECT c.comm, SUM(s.dv) AS tot
         |     FROM w${it - 1} c JOIN wstr s ON s.id = c.id GROUP BY 1),
         | wk$it AS MATERIALIZED (SELECT e.src AS v, c.comm, SUM(e.w) AS k
         |     FROM wsym e JOIN w${it - 1} c ON c.id = e.dst GROUP BY 1, 2),
         | wc$it AS MATERIALIZED (SELECT v, comm, MAX(k) AS k FROM (
         |     SELECT v, comm, k FROM wk$it
         |     UNION ALL SELECT id AS v, comm, 0 AS k FROM w${it - 1}) GROUP BY 1, 2),
         | wg$it AS MATERIALIZED (SELECT cd.v AS v, cd.comm AS comm,
         |       2 * wm.m * cd.k - s.dv * (t.tot - CASE WHEN cu.comm = cd.comm
         |           THEN s.dv ELSE 0 END) AS gain
         |     FROM wc$it cd JOIN wstr s ON s.id = cd.v
         |     JOIN w${it - 1} cu ON cu.id = cd.v
         |     JOIN wt$it t ON t.comm = cd.comm CROSS JOIN wm),
         | wb$it AS (SELECT v, MAX(gain) AS mg FROM wg$it GROUP BY 1),
         | wn$it AS (SELECT g.v AS id, MIN(g.comm) AS comm
         |     FROM wg$it g JOIN wb$it b ON b.v = g.v AND g.gain = b.mg GROUP BY 1),
         | w$it AS MATERIALIZED (SELECT n.id,
         |       CASE WHEN n.id % 2 = ${(it - 1) % 2} THEN n.comm
         |            ELSE cu.comm END AS comm
         |     FROM wn$it n JOIN w${it - 1} cu ON cu.id = n.id)""")
            .mkString}
         | SELECT l.id, w2.comm AS community, TRUE AS beats_l1
         | FROM c2 l JOIN w2 ON w2.id = l.comm ORDER BY l.id""".stripMargin),

    // ---- Leiden refinement (connectivity-GUARANTEED communities) ---------
    // Louvain's known defect: gain moves strand internally-DISCONNECTED
    // communities (a bridge vertex moves away and leaves the halves it
    // joined behind). Leiden (Traag et al. 2019) fixes it with a
    // refinement pass between levels: split every community into the
    // connected components of its induced subgraph (strictly
    // modularity-improving — zero cross edges means ΔQ·4m² = 2·D₁·D₂ > 0),
    // aggregate the REFINED partition, and refine the final assignment, so
    // every output community is internally connected by construction. The
    // pipeline here: level-1 Louvain (shared with g_louvain) → refine (CC
    // within communities, GraphTraversal.leidenRefine) → contract →
    // weighted gain rounds → project → final refine. TWO in-plan guards:
    // re-refining the final assignment must not split any community
    // (connectivity), and the final refinement must not LOSE modularity
    // vs its own input assignment — the bound refinement PROVABLY
    // dominates (splits only remove zero-cross-edge cuts: ΔQ·4m² =
    // 2·D₁·D₂ ≥ 0 per split), unlike the unrefined pyramid's q, which a
    // different greedy trajectory can legitimately exceed on some inputs
    // (round-13 ADVICE: two greedy runs on different contracted graphs
    // carry no dominance relation, so guarding q_leiden ≥ q_unref could
    // throw spuriously). The oracle replays the whole chain — refinement
    // as recursive min-label propagation scoped to intra-community edges
    // (exact: min reachable id IS the CC label), contraction + weighted
    // rounds as in g_louvain2 — all integer, bit-replayable.
    ("g_leiden",
      (s, d) => {
        val edges = louvainEdges(s, d)
        val und = louvainUnd(edges)
        val l1 = louvainL1Shared(s, d)
        val r1 = graft.ops.GraphTraversal.leidenRefine(und, l1)
        val wedges = graft.ops.GraphTraversal.louvainContract(und, r1)
        val l2 = graft.ops.GraphTraversal.louvainWeightedLevel(wedges, rounds = 2)
        val projected = r1.select(col("id"), col("community").as("c1"))
          .join(l2.select(col("id").as("c1"), col("community")), Seq("c1"))
          .select(col("id"), col("community"))
        val fin = graft.ops.GraphTraversal.leidenRefine(und, projected)
        // Connectivity certificate. Re-refining `fin` would be the literal
        // check, but it is PROVABLY idempotent — refinement never splits
        // an edge (both endpoints of an intra edge are in one component),
        // so the re-refine's input edges are identical to the pass that
        // produced `fin` and it re-runs ~6 s of CC to assert a tautology.
        // The honest in-plan witnesses are structural: (a) the CC labeling
        // contract — every final community's label IS its min member id;
        // (b) zero torn edges — no intra-community edge of `projected`
        // crosses two `fin` communities (a crossing edge would mean
        // refinement tore a connected piece). Full reachability is
        // re-derived INDEPENDENTLY by the oracle (recursive min-label
        // propagation in DuckDB) and compared bit-for-bit — that hash
        // match is the end-to-end connectivity proof.
        val minWitness = fin.groupBy(col("community").as("__c"))
          .agg(min(col("id")).as("__minid"))
          .agg(sum(when(col("__minid") === col("__c"), 0L).otherwise(1L))
            .as("bad_roots"))
        val torn = und
          .join(projected.select(col("id").as("a"), col("community").as("__pa")),
            Seq("a"))
          .join(projected.select(col("id").as("b"), col("community").as("__pb")),
            Seq("b"))
          .filter(col("__pa") === col("__pb"))
          .join(fin.select(col("id").as("a"), col("community").as("__fa")), Seq("a"))
          .join(fin.select(col("id").as("b"), col("community").as("__fb")), Seq("b"))
          .agg(coalesce(sum(when(col("__fa") =!= col("__fb"), 1L)
            .otherwise(0L)), lit(0L)).as("torn_edges"))
        // quality bar: refinement vs ITS OWN INPUT assignment — the
        // provable bound (each split removes a zero-cross-edge cut, so
        // ΔQ ≥ 0 always; the 1e-9 slack covers summation-order float
        // noise in the two independent modularity evaluations)
        val checks = modularityQ(und, fin).select(col("q").as("q_leiden"))
          .crossJoin(modularityQ(und, projected).select(col("q").as("q_proj")))
          .crossJoin(minWitness).crossJoin(torn)
        fin.crossJoin(broadcast(checks))
          .select(col("id"),
            graft.ops.Bounded.guard(col("community"),
              col("bad_roots") === 0L && col("torn_edges") === 0L &&
                col("q_leiden") >= col("q_proj") - lit(1e-9),
              "g_leiden: the refinement labeling broke its structural " +
                "contract (non-min root or torn component) or lost " +
                "modularity vs its own input assignment")
              .as("community"),
            lit(true).as("connected"), lit(true).as("refine_no_loss"))
          .orderBy("id")
      },
      s"""${LouvainCtePrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
         | intra1 AS MATERIALIZED (SELECT u.a, u.b FROM und u
         |     JOIN c2 x ON x.id = u.a JOIN c2 y ON y.id = u.b
         |     WHERE x.comm = y.comm),
         | isym1 AS MATERIALIZED (SELECT a AS src, b AS dst FROM intra1
         |     UNION ALL SELECT b AS src, a AS dst FROM intra1),
         | rw1(id, lbl) AS (SELECT id, id FROM c2
         |     UNION
         |     SELECT e.dst, w.lbl FROM rw1 w JOIN isym1 e ON e.src = w.id),
         | r1 AS MATERIALIZED (SELECT id, MIN(lbl) AS comm FROM rw1 GROUP BY 1),
         | lcon AS MATERIALIZED (SELECT LEAST(la.comm, lb.comm) AS a,
         |       GREATEST(la.comm, lb.comm) AS b, COUNT(*) AS w
         |     FROM und u JOIN r1 la ON la.id = u.a
         |     JOIN r1 lb ON lb.id = u.b GROUP BY 1, 2),
         | lsym AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM lcon WHERE a <> b
         |     UNION ALL SELECT b AS src, a AS dst, w FROM lcon WHERE a <> b),
         | lm AS (SELECT SUM(w) AS m FROM lcon),
         | lstr AS MATERIALIZED (SELECT id, SUM(w) AS dv FROM (
         |     SELECT src AS id, w FROM lsym
         |     UNION ALL SELECT a AS id, 2 * w AS w FROM lcon WHERE a = b)
         |     GROUP BY 1),
         | l0 AS MATERIALIZED (SELECT id, id AS comm FROM lstr)${(1 to 2).map(it =>
            s""",
         | lt$it AS MATERIALIZED (SELECT c.comm, SUM(s.dv) AS tot
         |     FROM l${it - 1} c JOIN lstr s ON s.id = c.id GROUP BY 1),
         | lk$it AS MATERIALIZED (SELECT e.src AS v, c.comm, SUM(e.w) AS k
         |     FROM lsym e JOIN l${it - 1} c ON c.id = e.dst GROUP BY 1, 2),
         | lc$it AS MATERIALIZED (SELECT v, comm, MAX(k) AS k FROM (
         |     SELECT v, comm, k FROM lk$it
         |     UNION ALL SELECT id AS v, comm, 0 AS k FROM l${it - 1}) GROUP BY 1, 2),
         | lg$it AS MATERIALIZED (SELECT cd.v AS v, cd.comm AS comm,
         |       2 * lm.m * cd.k - s.dv * (t.tot - CASE WHEN cu.comm = cd.comm
         |           THEN s.dv ELSE 0 END) AS gain
         |     FROM lc$it cd JOIN lstr s ON s.id = cd.v
         |     JOIN l${it - 1} cu ON cu.id = cd.v
         |     JOIN lt$it t ON t.comm = cd.comm CROSS JOIN lm),
         | lb$it AS (SELECT v, MAX(gain) AS mg FROM lg$it GROUP BY 1),
         | ln$it AS (SELECT g.v AS id, MIN(g.comm) AS comm
         |     FROM lg$it g JOIN lb$it b ON b.v = g.v AND g.gain = b.mg GROUP BY 1),
         | l$it AS MATERIALIZED (SELECT n.id,
         |       CASE WHEN n.id % 2 = ${(it - 1) % 2} THEN n.comm
         |            ELSE cu.comm END AS comm
         |     FROM ln$it n JOIN l${it - 1} cu ON cu.id = n.id)""")
            .mkString},
         | proj AS MATERIALIZED (SELECT r.id, l2.comm AS community
         |     FROM r1 r JOIN l2 ON l2.id = r.comm),
         | intra2 AS MATERIALIZED (SELECT u.a, u.b FROM und u
         |     JOIN proj x ON x.id = u.a JOIN proj y ON y.id = u.b
         |     WHERE x.community = y.community),
         | isym2 AS MATERIALIZED (SELECT a AS src, b AS dst FROM intra2
         |     UNION ALL SELECT b AS src, a AS dst FROM intra2),
         | rw2(id, lbl) AS (SELECT id, id FROM proj
         |     UNION
         |     SELECT e.dst, w.lbl FROM rw2 w JOIN isym2 e ON e.src = w.id),
         | fin AS (SELECT id, MIN(lbl) AS community FROM rw2 GROUP BY 1)
         | SELECT id, community, TRUE AS connected, TRUE AS refine_no_loss
         | FROM fin ORDER BY id""".stripMargin),

    // ---- approximate aggregates (engine-specific sketches) --------------
    // The sketch values themselves are engine-specific (HLL++ register
    // layout, KLL accuracy), so the checked contract is (a) the EXACT
    // distinct count both engines compute independently and (b) error-bound
    // assertions evaluated inside the query, which the oracle reproduces as
    // literal TRUEs. Count bound: rsd=0.01 puts the 5% tolerance at 5
    // sigma. Percentile bound: the approx median is validated by its RANK —
    // one extra map-side pass counting values <= it — not against Spark's
    // exact percentile(), whose aggregation buffer holds EVERY value of the
    // column (the 100 TB killer; measured 73 s of this query's runtime at
    // sf0.1 alone). approx_percentile's default accuracy bounds rank error
    // at 1e-4, so rank in [0.45, 0.55] is deterministic.
    //
    // Plan shape: the exact distinct count aggregates SEPARATELY from the
    // sketches and joins on as a 1-row frame. Mixing a distinct aggregate
    // with sketch aggregates in one agg() triggers the Expand rewrite
    // (every row duplicated per aggregate group, sketches pushed off the
    // hash path) — measured 35 s vs 1.2 s for the split shape on the same
    // input at sf0.1.
    ("a7_approx",
      (s, d) => {
        val li = t(s, d, "lineitem")
        // TWO lineitem scans total: (1) the sketch pass; (2) ONE fused
        // verify pass computing the exact distinct count AND the midrank
        // check together. A single distinct aggregate beside plain sums is
        // planned via planAggregateWithOneDistinct (group-by-l_orderkey
        // partial phase, sums partially combined per key) — NOT the Expand
        // rewrite that mixing the SKETCHES with a distinct would trigger
        // (every row duplicated per aggregate group; measured 35 s vs
        // 1.2 s at sf0.1), which is why the sketches stay in their own pass.
        val sketches = li.agg(
          approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
          expr("approx_percentile(l_extendedprice, 0.5)").as("p50_approx"))
        li.crossJoin(broadcast(sketches))
          .agg(
            countDistinct(col("l_orderkey")).as("exact_orders"),
            max(col("approx_orders")).as("approx_orders"),
            // MIDRANK, not plain <=-fraction: with a heavily duplicated
            // median value the <=-count alone could overshoot 0.55 on a
            // correct sketch (below + half the ties stays centered), and
            // the denominator counts only non-null prices — the rows the
            // percentile actually ranks over
            ((sum(when(col("l_extendedprice") < col("p50_approx"), 1L).otherwise(0L))
              + sum(when(col("l_extendedprice") === col("p50_approx"), 1L).otherwise(0L)) / 2.0)
              / count(col("l_extendedprice"))).as("p50_rank"))
          .select(col("exact_orders"),
            (abs(col("approx_orders") - col("exact_orders"))
              <= col("exact_orders") * 0.05).as("orders_within_5pct"),
            col("p50_rank").between(0.45, 0.55).as("p50_rank_within_5pct"))
      },
      """SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
        | TRUE AS orders_within_5pct, TRUE AS p50_rank_within_5pct
        | FROM lineitem""".stripMargin),

    // ---- mergeable HLL sketch columns (re-aggregation without rescan) ---
    // the 100-TB distinct-counting architecture a7's one-shot
    // approx_count_distinct can't express: per-fine-grain DataSketches HLL
    // sketches are MATERIALIZED as a binary column (in production: one per
    // partition/day, stored beside the data), then any coarser grain is
    // answered by hll_union_agg over the SKETCHES — raw data is never
    // rescanned, and sketch merge is associative so the re-aggregation is
    // a few KB per cell regardless of row count. The entry proves the
    // pipeline: sketch per (returnflag, linestatus) cell → union to
    // per-returnflag → estimate, with the estimate guarded within 5% of
    // the exact distinct (fails loudly, not silently wrong) and the exact
    // count oracle-checked.
    ("a9_hll_merge",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val perCell = li.groupBy("l_returnflag", "l_linestatus")
          .agg(expr("hll_sketch_agg(l_orderkey, 14)").as("sk"))
        val perFlag = perCell.groupBy("l_returnflag")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_orderkey")).as("n_exact"))
        perFlag.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"),
            graft.ops.Bounded.guard(col("n_exact"),
              abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05,
              "a9_hll_merge: sketch-merge estimate drifted beyond 5% of exact")
              .as("n_exact"),
            lit(true).as("est_within_5pct"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_exact,
        |       TRUE AS est_within_5pct
        | FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- mergeable count-min frequency sketch ---------------------------
    // the frequency complement of a9's HLL and t_heavy_hitters' Misra-
    // Gries: per-YEAR 4×32 counter grids built with one bounded-
    // cardinality partial aggregate each (the ×4 depth explode collapses
    // map-side; the shuffle carries ≤ partitions·depth·width cells, never
    // data-sized rows), merged by cell-wise SUM — count-min merge is
    // EXACT, so the estimates probed from the merged grid hash-match an
    // oracle that builds the sketch directly over the whole corpus. Probe
    // estimates are min over depth cells: ≥ exact always (over_ok), over
    // only by collision mass (width 32 forces real collisions here).
    // Unlike a9/a7 the ESTIMATE ITSELF is oracle-checked, not tolerance-
    // guarded: both engines replay identical md5 cell arithmetic.
    ("a10_countmin_merge",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val depth = 4; val width = 32
        val perYear = graft.ops.Sketches.countMinCells(
          li.select(col("l_suppkey").as("key"), year(col("l_shipdate")).as("yr")),
          "key", depth, width, Seq("yr"))
        val merged = graft.ops.Sketches.countMinMerge(perYear)
        val probes = li.filter(col("l_suppkey") <= 25)
          .groupBy(col("l_suppkey").as("key"))
          .agg(count(lit(1)).as("n_exact"))
        graft.ops.Sketches.countMinLookup(merged, probes, "key", depth, width)
          .select(col("key").cast("long").as("key"), col("n_exact"),
            col("cms_est"), (col("cms_est") >= col("n_exact")).as("over_ok"))
          .orderBy("key")
      },
      CountMinSql),

    // ---- KMV (bottom-k) distinct sketch ---------------------------------
    // the hash-checkable cardinality estimator (a9's HLL can only be
    // tolerance-guarded — DataSketches internals aren't replayable in
    // SQL; KMV is): keep the k smallest distinct 48-bit hashes, estimate
    // (k−1)·2⁴⁸ div h_k. The bottom-k set rides the native top_k
    // partial-aggregate buffer (map side combines to ≤ k entries per
    // partition; exact duplicates collapse in the TreeSet = KMV's
    // distinct semantics). The __ALL__ row is computed TWICE — directly
    // over global distinct hashes, and by merging the three per-flag
    // sketches (explode k-sized arrays, re-take bottom-k) — and the
    // in-entry guard proves merge exactness; the oracle replays the
    // direct construction rank-by-rank.
    ("a11_kmv_distinct", a11KmvQuery, KmvDistinctSql),

    // ---- KMV set algebra: cross-source overlap from sketches alone ------
    // the question a9/a11 can't answer: how much do two sources' bigram
    // vocabularies OVERLAP — |A∪B|, |A∩B|, Jaccard for all 190 source
    // pairs — computed from the 20 per-source bottom-64 sketches alone
    // (k-sized arrays; the raw corpus is scanned ONCE to build them).
    // Every estimate is exact long arithmetic on 48-bit md5 hashes, so
    // the oracle replays union-rank, rho and all three estimators and
    // the driver hash-checks the ESTIMATES, not just a tolerance guard.
    ("a12_kmv_set_ops",
      (s, d) => {
        val k = 64
        val grams = t(s, d, "documents").select(col("source"),
          graft.functions.WordShingles.wordShingles(col("text"), 2).as("gram"))
        val sk = graft.ops.Sketches.kmvSketch(grams, "gram", Seq("source"), k)
        graft.ops.Sketches.kmvSetOps(sk, "source", k).orderBy("s1", "s2")
      },
      """WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
        | sh AS (SELECT DISTINCT source, array_to_string(words[i:i+1], ' ') AS g
        |        FROM w, LATERAL (SELECT unnest(generate_series(1,
        |               greatest(len(w.words)-1, 0))) AS i) s),
        | h AS (SELECT DISTINCT source,
        |              CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) + 1 AS hv
        |       FROM sh),
        | rk AS (SELECT source, hv,
        |               ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
        |        FROM h),
        | bk AS (SELECT source, hv FROM rk WHERE rn <= 64),
        | srcs AS (SELECT DISTINCT source FROM h),
        | pairs AS (SELECT a.source AS s1, b.source AS s2
        |           FROM srcs a JOIN srcs b ON a.source < b.source),
        | ub AS (SELECT DISTINCT p.s1, p.s2, k.hv
        |        FROM pairs p JOIN bk k ON k.source = p.s1 OR k.source = p.s2),
        | ur AS (SELECT s1, s2, hv,
        |               ROW_NUMBER() OVER (PARTITION BY s1, s2 ORDER BY hv) AS rn
        |        FROM ub),
        | uk AS (SELECT s1, s2, hv, rn FROM ur WHERE rn <= 64),
        | st AS (SELECT s1, s2, COUNT(*) AS nu,
        |               MAX(CASE WHEN rn = 64 THEN hv END) AS hk
        |        FROM uk GROUP BY 1, 2),
        | rh AS (SELECT u.s1, u.s2, COUNT(*) AS rho
        |        FROM uk u JOIN bk a ON a.source = u.s1 AND a.hv = u.hv
        |                  JOIN bk b ON b.source = u.s2 AND b.hv = u.hv
        |        GROUP BY 1, 2),
        | f AS (SELECT st.s1, st.s2, coalesce(rho, 0) AS rho, nu, hk,
        |              CASE WHEN nu < 64 THEN nu
        |                   ELSE 17732923532771328 // hk END AS union_est
        |       FROM st LEFT JOIN rh ON rh.s1 = st.s1 AND rh.s2 = st.s2)
        | SELECT s1, s2, CAST(rho AS BIGINT) AS rho,
        |        CAST(union_est AS BIGINT) AS union_est,
        |        CAST(CASE WHEN nu < 64 THEN rho
        |             ELSE rho * union_est // 64 END AS BIGINT) AS inter_est,
        |        CAST(CASE WHEN nu < 64 THEN rho * 1000000 // nu
        |             ELSE rho * 1000000 // 64 END AS BIGINT) AS jaccard_micro
        | FROM f ORDER BY s1, s2""".stripMargin),

    // ---- AMS F2 sign-sketch (self-join size / key skew) -------------------
    // the mergeable-summaries family's last classic beside count-min, KMV,
    // HLL and Misra-Gries: F2 = sum over keys of f_k² is the SELF-JOIN
    // SIZE — the number a planner wants before committing to a key —
    // estimated from 16 plain-SUM sign-sketch cells (z_s = sum of ±1 from
    // BIT s of one md5 per row; E[z²] = F2, estimate = exact median of z²
    // over sketches). Cells are sums -> exact merge across partitions/files/
    // micro-batches, the count-min additivity argument verbatim. The
    // estimate AND the md5 sign replay are under the hash; a drift past
    // 4x of exact fails loudly in-entry (median-of-16 concentration).
    ("a13_ams_f2",
      (s, d) => {
        val reps = 16
        val li = t(s, d, "lineitem").select(col("l_suppkey").as("key"))
        val cells = graft.ops.Sketches.amsCells(li, "key", reps)
        // exact median over the reps-row summary: bounded unpartitioned
        // window (audited; guard makes the bound executable)
        val w = org.apache.spark.sql.expressions.Window.orderBy("z2")
        val med = cells
          .select((graft.ops.Bounded.guard(col("z"), col("s").between(0, reps - 1),
            "a13_ams_f2: sketch index outside the reps bound") *
            col("z")).as("z2"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === reps / 2 || col("rn") === reps / 2 + 1)
          .agg(expr("CAST(sum(z2) div 2 AS BIGINT)").as("ams_est"))
        val exact = li.groupBy("key").agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * col("n")).as("f2_exact"))
        exact.crossJoin(broadcast(med))
          .select(col("f2_exact"),
            graft.ops.Bounded.guard(col("ams_est"),
              col("ams_est") * 4 >= col("f2_exact") &&
                col("ams_est") <= col("f2_exact") * 4,
              "a13_ams_f2: AMS estimate drifted beyond 4x of exact F2")
              .as("ams_est"),
            lit(true).as("within_4x"))
      },
      """WITH src AS (SELECT CAST('0x' ||
        |          substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 8) AS BIGINT) AS h
        |        FROM lineitem),
        | ss AS (SELECT unnest(generate_series(0, 15)) AS s),
        | cells AS (SELECT s,
        |             SUM(CASE WHEN (h >> s) % 2 = 0 THEN 1 ELSE -1 END) AS z
        |           FROM src CROSS JOIN ss GROUP BY 1),
        | z2 AS (SELECT z * z AS z2, ROW_NUMBER() OVER (ORDER BY z * z) AS rn
        |        FROM cells),
        | med AS (SELECT CAST(SUM(z2) // 2 AS BIGINT) AS ams_est
        |         FROM z2 WHERE rn IN (8, 9)),
        | ex AS (SELECT CAST(SUM(n * n) AS BIGINT) AS f2_exact
        |        FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_suppkey))
        | SELECT ex.f2_exact, med.ams_est, TRUE AS within_4x
        | FROM ex, med""".stripMargin),

    // ---- dyadic count-min QUANTILE sketch (mergeable percentiles) --------
    // the most-used mergeable summary the family still lacked: percentiles
    // answerable from per-grain sketches ALONE (a7's approx_percentile is
    // one-shot and engine-opaque; t_equiheight_deciles is exact). Per-
    // returnflag dyadic grids over l_extendedprice in 4096-cent buckets
    // are built with one bounded-cardinality aggregate (shuffle carries
    // ≤ partitions·13·4·256 pre-combined cells), merged by cell-wise SUM —
    // EXACT, proven cross-engine (the oracle builds the grid directly,
    // grain-free; the hash matches iff merge == direct) — then
    // p25/50/75/90/99 are read
    // from the grid with enumerated node/rank frames, never rescanning
    // data. Estimated ranks are one-sided (count-min never under-counts:
    // over_ok), the chosen quantile's exact rank is guarded within 10% of
    // target, and the oracle replays grid, node estimates, prefix ranks
    // and quantiles md5-for-md5 — the a10-a13 discipline on quantiles.
    ("a14_quantile_sketch",
      (s, d) => {
        import graft.ops.Sketches
        // merge-exactness proof is CROSS-ENGINE: Spark builds the grid
        // per-returnflag and merges cell-wise, the oracle builds it
        // directly over the whole corpus with no grain — every downstream
        // number (node estimates, ranks, quantiles) flows from the grid,
        // so the driver's hash match holds iff merged == direct. (An
        // in-entry second direct build would re-pay the full 13-level
        // build for a tautology — counts are additive by construction.)
        val vals = t(s, d, "lineitem").select(col("l_returnflag").as("g"),
          expr("shiftright(cast(round(l_extendedprice * 100) as bigint), 12)")
            .as("u"))
        val perFlag = Sketches.dyadicCells(vals, "u", QBits, QDepth, QWidth, Seq("g"))
        quantileFromGrid(s, d, Sketches.dyadicMerge(perFlag))
      },
      QuantileSketchSql),

    // ---- GRAINED quantile serving (per-tenant percentiles) ---------------
    // the production shape a14's merge cannot answer: p50/p90 PER GRAIN
    // from each grain's OWN grid, no cross-grain merge — per-tenant
    // latency percentiles from sketches stored beside each partition.
    // Everything stays enumerated-frame-sized (grain cardinality ×
    // 2^(bits+1) node rows, broadcast grid); the data is touched once for
    // the build and once for the exact-rank guard. Oracle replays the
    // per-grain grid, node estimates, ranks and quantile picks.
    ("a15_grouped_quantiles",
      (s, d) => {
        import graft.ops.Sketches
        val vals = t(s, d, "lineitem").select(col("l_returnflag").as("g"),
          expr("shiftright(cast(round(l_extendedprice * 100) as bigint), 12)")
            .as("u"))
        val perFlag = Sketches.dyadicCells(vals, "u", QBits, QDepth, QWidth, Seq("g"))
        val nodeEst = Sketches.dyadicNodeEst(perFlag, QBits, QDepth, QWidth, Seq("g"))
        val rankLe = Sketches.dyadicRankLe(nodeEst, QBits, Seq("g"))
        // per-grain N off the grid's top-level node (exact — one live node
        // per grain at level bits), not a second data scan
        val tg = nodeEst.filter(col("lvl") === QBits && col("node") === 0)
          .select(col("g").as("g2"),
            explode(array(lit(50), lit(90))).as("p"), col("est").as("n"))
          .select(col("g2"), col("p").cast("long").as("pct"),
            expr("(p * n + 99) div 100").as("target_rank"), col("n"))
        val qq = rankLe.join(broadcast(tg),
            col("g") === col("g2") && col("rank_le") >= col("target_rank"))
          .groupBy("g", "pct", "target_rank", "n")
          .agg(min(col("vb")).as("q_bucket"))
        val exact = vals
          .join(broadcast(qq.select(col("g").as("g3"), col("pct").as("pct3"),
            col("q_bucket").as("qb3"))), col("g") === col("g3"))
          .groupBy("g3", "pct3")
          .agg(sum(when(col("u") <= col("qb3"), 1L).otherwise(0L)).as("exact_rank"))
        qq.join(exact, col("g") === col("g3") && col("pct") === col("pct3"))
          .select(col("g"), col("pct"), col("target_rank"), col("q_bucket"),
            graft.ops.Bounded.guard(col("exact_rank"),
              abs(col("exact_rank") - col("target_rank")) * 10 <= col("n"),
              "a15_grouped_quantiles: a grain's exact rank drifted beyond " +
                "10% of its N — grid too coarse for this grain")
              .as("exact_rank"))
          .orderBy("g", "pct")
      },
      """WITH v AS (SELECT l_returnflag AS g,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) // 4096 AS u
        |           FROM lineitem),
        | lv AS (SELECT unnest(generate_series(0, 12)) AS lvl),
        | dd AS (SELECT unnest(generate_series(0, 3)) AS d),
        | cells AS (SELECT g, lvl, d,
        |             CAST('0x' || substr(md5(lvl || ':' || (u >> lvl)),
        |                  1 + d * 3, 3) AS BIGINT) % 256 AS w,
        |             COUNT(*) AS cnt
        |           FROM v CROSS JOIN lv CROSS JOIN dd GROUP BY 1, 2, 3, 4),
        | gs AS (SELECT DISTINCT g FROM v),
        | nodes AS (SELECT gs.g, n.lvl, n.node FROM gs, lv,
        |             LATERAL (SELECT lv.lvl AS lvl,
        |                      unnest(generate_series(0, (4096 >> lv.lvl) - 1))
        |                      AS node) n),
        | ne AS (SELECT n.g, n.lvl, n.node, MIN(COALESCE(c.cnt, 0)) AS est
        |        FROM nodes n CROSS JOIN dd
        |        LEFT JOIN cells c ON c.g = n.g AND c.lvl = n.lvl AND c.d = dd.d
        |          AND c.w = CAST('0x' || substr(md5(n.lvl || ':' || n.node),
        |                         1 + dd.d * 3, 3) AS BIGINT) % 256
        |        GROUP BY 1, 2, 3),
        | vv AS (SELECT unnest(generate_series(0, 4095)) AS vb),
        | bs AS (SELECT g, vb, b FROM gs, vv,
        |          LATERAL (SELECT unnest(generate_series(0, 12)) AS b) x
        |        WHERE ((vb + 1) >> b) % 2 = 1),
        | rk AS (SELECT s.g, s.vb, CAST(SUM(ne.est) AS BIGINT) AS rank_le
        |        FROM bs s JOIN ne ON ne.g = s.g AND ne.lvl = s.b
        |          AND ne.node = 2 * ((s.vb + 1) >> (s.b + 1))
        |        GROUP BY 1, 2),
        | nt AS (SELECT g, COUNT(*) AS n FROM v GROUP BY 1),
        | tg AS (SELECT nt.g, CAST(p AS BIGINT) AS pct,
        |               (p * n + 99) // 100 AS target_rank, n
        |        FROM (VALUES (50), (90)) t(p) CROSS JOIN nt),
        | qq AS (SELECT tg.g, pct, target_rank, n, MIN(vb) AS q_bucket
        |        FROM tg JOIN rk ON rk.g = tg.g AND rk.rank_le >= tg.target_rank
        |        GROUP BY 1, 2, 3, 4),
        | er AS (SELECT q.g AS g, q.pct AS pct,
        |               CAST(SUM(CASE WHEN v.u <= q.q_bucket THEN 1 ELSE 0 END)
        |                    AS BIGINT) AS exact_rank
        |        FROM v JOIN qq q ON v.g = q.g GROUP BY 1, 2)
        | SELECT q.g, q.pct, CAST(q.target_rank AS BIGINT) AS target_rank,
        |        CAST(q.q_bucket AS BIGINT) AS q_bucket, er.exact_rank
        | FROM qq q JOIN er ON er.g = q.g AND er.pct = q.pct
        | ORDER BY 1, 2""".stripMargin),

    // ---- GENERAL-DOMAIN quantile sketch over doubles ----------------------
    // lifts a14's fixed integer universe to arbitrary doubles with the
    // two-scan range mapping (exact bounds pass → frozen 2^12 grid); the
    // merge-exactness proof is cross-engine as in a14 — Spark builds the
    // grid PER EVENT TYPE and merges cell-wise, the oracle builds it
    // directly over the whole corpus, and every downstream number (node
    // estimates, ranks, picked buckets, DECODED double values) flows from
    // the grid, so the hash match holds iff merged == direct. The decoded
    // q_value is IEEE-bit-identical cross-engine (same op order on the
    // same lo/hi/q_bucket).
    ("a16_double_quantiles",
      (s, d) => {
        import graft.ops.Sketches
        val ev = t(s, d, "events")
        val vals = doubleQuantileVals(ev, doubleBounds(ev))
        val perType = Sketches.dyadicCells(vals, "u", QBits, QDepth, QWidth, Seq("g"))
        doubleQuantileFromGrid(s, d, Sketches.dyadicMerge(perType))
      },
      DoubleQuantileSql),

    // ---- ONE-PASS mergeable double quantiles (KLL sampler tier) ----------
    // retires a16's frozen-bounds prerequisite: Spark builds one sketch
    // PER EVENT TYPE — each from its rows alone, no global coordination —
    // and merges them exactly (max-threshold re-filter, see Sketches'
    // design note); the oracle builds per-type sketches the same way and
    // merges them too, so the hash match proves both engines agree on the
    // sampler AND that the merge reproduces the direct build (thr(union)
    // ≥ every per-type thr by monotonicity of the level counts).
    ("a17_kll_quantiles",
      (s, d) => {
        import graft.ops.Sketches
        val ev = t(s, d, "events")
          .select(col("event_type").as("g"), col("value"), col("event_id"))
        val levels = Sketches.kllLevels(ev, "value", "event_id", Seq("g"))
        val summ = Sketches.kllSummary(levels, KllK, Seq("g"))
        val samp = Sketches.kllSample(levels, summ, Seq("g"))
        val merged = Sketches.kllMergedSummary(summ, samp, KllK)
        kllQuantilesFrom(s, d, merged, Sketches.kllMergedSample(samp, merged))
      },
      KllQuantileSql),

    // ---- per-grain KLL serving (the per-tenant production shape) --------
    // a17 proves merge-exactness and serves the GLOBAL quantiles; this
    // entry serves each event type's OWN percentiles from its unmerged
    // sketch — the "p99 per tenant" question — with a per-(grain, pct)
    // exact-rank drift guard (the a15 grained-serving discipline applied
    // to the no-frozen-config family member). Build is the identical
    // kllLevels/kllSummary/kllSample chain, so the state a17 merges IS
    // the state a18 serves: one sketch store answers both questions.
    ("a18_kll_grouped",
      (s, d) => {
        import graft.ops.Sketches
        val ev = t(s, d, "events")
          .select(col("event_type").as("g"), col("value"), col("event_id"))
        val levels = Sketches.kllLevels(ev, "value", "event_id", Seq("g"))
        val summ = Sketches.kllSummary(levels, KllK, Seq("g"))
        val samp = Sketches.kllSample(levels, summ, Seq("g"))
        kllGroupedQuantilesFrom(s, d, summ, samp)
      },
      KllGroupedQuantileSql),

    // ---- strongly connected components (directed) -----------------------
    // the structure undirected CC cannot see: 3-cycles ("rings") bridged
    // pairwise by ONE-WAY edges — each ring is its own SCC and the bridge
    // must not merge them, while the bridge DOES force the FB peel into a
    // second outer round (downstream ring has F ≠ B until the upstream
    // SCC is removed). Graph size tracks the data (one ring per order, up
    // to a cap that keeps the oracle's transitive closure tractable —
    // components stay ≤ 6 vertices, so closure rows stay linear). The
    // oracle is an INDEPENDENT algorithm: DuckDB recursive-CTE closure +
    // min mutually-reachable id.
    ("g_scc",
      (s, d) => {
        val n = math.min(t(s, d, "orders").count(), 2000L)
        val r = s.range(n).select(col("id").as("r"))
        // a 3-vertex acyclic CHAIN feeding ring 0 (round 14): every chain
        // vertex is a singleton SCC, and the chain is exactly the fringe
        // shape the trim pass peels — the registry entry now exercises
        // trim + FW-BW together, hash-checked against the closure oracle.
        // (3, not longer: a chain peels head-only, one vertex per trim
        // iteration, so its length prices the entry's wall in driver
        // round-trips — the 50-link worst case lives in the spec, where
        // the alternative is a maxOuter overflow, not wall.)
        val ch = s.range(2).select((col("id") + lit(3L * n)).as("src"),
          (col("id") + lit(3L * n) + 1).as("dst"))
        val chTail = s.range(1).select(lit(3L * n + 2).as("src"), lit(0L).as("dst"))
        val e = r.select((col("r") * 3).as("src"), (col("r") * 3 + 1).as("dst"))
          .unionAll(r.select((col("r") * 3 + 1).as("src"), (col("r") * 3 + 2).as("dst")))
          .unionAll(r.select((col("r") * 3 + 2).as("src"), (col("r") * 3).as("dst")))
          .unionAll(r.filter(col("r") % 2 === 0 && col("r") < n - 1)
            .select((col("r") * 3 + 2).as("src"), ((col("r") + 1) * 3).as("dst")))
          .unionAll(ch).unionAll(chTail)
        graft.ops.GraphTraversal.stronglyConnectedComponents(e).orderBy("id")
      },
      """WITH RECURSIVE nn AS (SELECT LEAST(COUNT(*), 2000) AS n FROM orders),
        | r AS (SELECT unnest(generate_series(0, (SELECT n FROM nn) - 1)) AS r),
        | e AS (SELECT r*3 AS src, r*3+1 AS dst FROM r
        |       UNION ALL SELECT r*3+1, r*3+2 FROM r
        |       UNION ALL SELECT r*3+2, r*3 FROM r
        |       UNION ALL SELECT r*3+2, (r+1)*3 FROM r
        |         WHERE r % 2 = 0 AND r < (SELECT n FROM nn) - 1
        |       UNION ALL SELECT 3*(SELECT n FROM nn) + j, 3*(SELECT n FROM nn) + j + 1
        |         FROM (SELECT unnest(generate_series(0, 1)) AS j)
        |       UNION ALL SELECT 3*(SELECT n FROM nn) + 2, 0),
        | v AS (SELECT DISTINCT src AS id FROM e UNION SELECT dst FROM e),
        | reach AS (SELECT src, dst FROM e
        |           UNION SELECT rc.src, e.dst FROM reach rc JOIN e ON rc.dst = e.src),
        | r2 AS (SELECT src, dst FROM reach UNION SELECT id, id FROM v)
        | SELECT CAST(a.src AS BIGINT) AS id, CAST(MIN(a.dst) AS BIGINT) AS scc
        | FROM r2 a JOIN r2 b ON a.dst = b.src AND b.dst = a.src
        | GROUP BY 1 ORDER BY id""".stripMargin),

    // ---- degree distribution (graph shape governance) -------------------
    // the first thing to read before running any traversal: per-vertex
    // total degree over the distinct customer→order edge set, rolled into
    // a degree histogram (hub detection, skew planning — the j7/AQE salting
    // decision input). Two map-combinable aggregates, no joins.
    ("g_degree_hist",
      (s, d) => {
        val e = t(s, d, "orders")
          .select(concat(lit("CL_"), col("o_custkey")).as("src"),
            concat(lit("GO_"), col("o_orderkey")).as("dst"))
          .distinct()
        e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
          .groupBy("v").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_vertices"))
          .orderBy("degree")
      },
      """WITH e AS (SELECT DISTINCT 'CL_' || o_custkey AS src,
        |                           'GO_' || o_orderkey AS dst FROM orders),
        |  vv AS (SELECT src AS v FROM e UNION ALL SELECT dst FROM e),
        |  dg AS (SELECT v, COUNT(*) AS degree FROM vv GROUP BY 1)
        | SELECT degree, COUNT(*) AS n_vertices FROM dg
        | GROUP BY 1 ORDER BY degree""".stripMargin),

    // ---- k-core (iterative peeling) -------------------------------------
    // dense-subgraph extraction on a hub-and-spoke + ring + chord graph
    // whose PEEL DEPTH is constant at every scale factor (lone spokes fall
    // in wave 1, the chord tail in wave 2, fixpoint by wave 3) — peeling
    // rounds must be a property of the graph family, not the data volume,
    // for the operator to be cluster-viable; the spec covers the
    // deep-peeling chain fail-fast. Oracle: the same peel unrolled 5
    // rounds as chained CTEs (idempotent once converged, like g_pagerank's
    // unrolled rounds).
    ("g_kcore",
      (s, d) => {
        val c = t(s, d, "customer")
        val spokes = c.select(col("c_custkey").as("src"),
          (lit(10000000L) + col("c_custkey") % 97).as("dst"))
        val chords = c.filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey").as("src"), (col("c_custkey") + 1).as("dst"))
        val ring = c.filter(col("c_custkey") <= 97)
          .select((lit(10000000L) + col("c_custkey") - 1).as("src"),
            (lit(10000000L) + col("c_custkey") % 97).as("dst"))
        graft.ops.GraphTraversal.kCore(
            spokes.unionByName(chords).unionByName(ring), k = 2)
          .orderBy("id")
      },
      s"""WITH raw AS (
         |   SELECT c_custkey AS s, 10000000 + (c_custkey % 97) AS t FROM customer
         |   UNION ALL
         |   SELECT c_custkey, c_custkey + 1 FROM customer WHERE c_custkey % 5 = 0
         |   UNION ALL
         |   SELECT 10000000 + (c_custkey - 1), 10000000 + (c_custkey % 97)
         |   FROM customer WHERE c_custkey <= 97),
         | e0 AS MATERIALIZED (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
         |        FROM raw WHERE s <> t)${(1 to 5).map(r =>
              s""",
         | d$r AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM
         |        (SELECT a AS v FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
         |        GROUP BY v),
         | k$r AS MATERIALIZED (SELECT v FROM d$r WHERE deg >= 2),
         | e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
         |        JOIN k$r ka ON ka.v = e.a JOIN k$r kb ON kb.v = e.b)""")
              .mkString}
         | SELECT v AS id, COUNT(*) AS core_deg FROM
         |   (SELECT a AS v FROM e5 UNION ALL SELECT b FROM e5)
         | GROUP BY v ORDER BY id""".stripMargin),

    // ---- k-truss (iterative EDGE peeling by triangle support) -----------
    // the edge-cohesion sibling of g_kcore: keep edges in >= k-2 triangles,
    // peel to fixpoint. Fixture: a triangle chain over every customer
    // ((i,i+1) + (i,i+2) — interior skip edges sit in 1 triangle, path
    // edges in 2), pendant spokes (0 triangles), and a 10-clique (every
    // edge in 8). k=4 peels in waves — skip edges and pendants die round 1,
    // the orphaned path edges round 2, the clique survives with support 8 —
    // so output is scale-invariant while the peel WORK scales with the
    // corpus (the g_kcore discipline). Oracle: 4 unrolled rounds as chained
    // CTEs, support via the symmetric-closure common-neighbor join;
    // idempotent once converged.
    ("g_ktruss",
      (s, d) => {
        val c = t(s, d, "customer")
        val k = col("c_custkey")
        val chain = c.select(k.as("src"), (k + 1).as("dst"))
          .unionByName(c.select(k.as("src"), (k + 2).as("dst")))
        val pendants = c.filter(k % 100 === 0)
          .select(k.as("src"), (k + 100000).as("dst"))
        val clique = c.filter(k < 9)
          .select(k.as("src"), explode(sequence(k + 1, lit(9L))).as("dst"))
        graft.ops.GraphTraversal.kTruss(
            chain.unionByName(pendants).unionByName(clique), k = 4)
          .orderBy("a", "b")
      },
      s"""WITH raw AS (
         |   SELECT c_custkey AS s, c_custkey + 1 AS t FROM customer
         |   UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
         |   UNION ALL SELECT c_custkey, c_custkey + 100000 FROM customer
         |     WHERE c_custkey % 100 = 0
         |   UNION ALL SELECT x.c_custkey, y.c_custkey
         |     FROM customer x JOIN customer y ON x.c_custkey < y.c_custkey
         |     WHERE x.c_custkey <= 9 AND y.c_custkey <= 9),
         | e0 AS MATERIALIZED (SELECT DISTINCT least(s, t) AS a,
         |        greatest(s, t) AS b FROM raw WHERE s <> t)${(1 to 4).map(r =>
            s""",
         | sym$r AS MATERIALIZED (SELECT a AS u, b AS w FROM e${r - 1}
         |        UNION ALL SELECT b, a FROM e${r - 1}),
         | sup$r AS MATERIALIZED (SELECT e.a, e.b, COUNT(*) AS sup
         |        FROM e${r - 1} e
         |        JOIN sym$r n1 ON n1.u = e.a
         |        JOIN sym$r n2 ON n2.u = e.b AND n2.w = n1.w
         |        GROUP BY e.a, e.b),
         | e$r AS MATERIALIZED (SELECT a, b FROM sup$r WHERE sup >= 2)""")
            .mkString}
         | SELECT e.a, e.b, s.sup AS support
         | FROM e4 e JOIN sup4 s ON e.a = s.a AND e.b = s.b
         | ORDER BY e.a, e.b""".stripMargin),

    // ---- neighborhood-overlap similarity (common-neighbor Jaccard) ------
    // link-prediction / entity-consolidation shape over the successor
    // graph PLUS a deliberate super-hub (every 10th customer links to
    // vertex 0): the hub exceeds maxPivotDegree and is excluded as a
    // WEDGE PIVOT — without that cap it alone would emit (N/10)² pairs,
    // the exact quadratic blowup that kills naive implementations at
    // scale. Jaccard ≥ 0.20 is decided by integer cross-multiplication;
    // no float reaches the hashed output.
    ("g_node_jaccard",
      (s, d) => {
        val c = t(s, d, "customer")
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            c.select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
          .unionByName(c.filter(k % 10 === 0)
            .select(k.as("src"), lit(0L).as("dst")))
        graft.ops.GraphTraversal.neighborJaccard(edges,
            minJaccardPct = 20, maxPivotDegree = 50L)
          .orderBy("a", "b")
      },
      """WITH raw AS (
        |   SELECT c_custkey AS s, c_custkey + d AS t FROM customer,
        |     LATERAL (SELECT unnest(generate_series(1, 3)) AS d) g
        |   UNION ALL
        |   SELECT c_custkey, 0 FROM customer WHERE c_custkey % 10 = 0),
        | und AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |         FROM raw WHERE s <> t),
        | nb AS (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
        | deg AS (SELECT v, COUNT(*) AS deg FROM nb GROUP BY v),
        | pok AS (SELECT v FROM deg WHERE deg <= 50),
        | bp AS (SELECT nb.v, nb.w FROM nb JOIN pok ON pok.v = nb.w),
        | pr AS (SELECT n1.v AS v1, n2.v AS v2, COUNT(*) AS n_common
        |        FROM bp n1 JOIN bp n2 ON n1.w = n2.w AND n1.v < n2.v
        |        GROUP BY 1, 2)
        | SELECT pr.v1 AS a, pr.v2 AS b, pr.n_common,
        |        da.deg AS deg_a, db.deg AS deg_b
        | FROM pr JOIN deg da ON da.v = pr.v1 JOIN deg db ON db.v = pr.v2
        | WHERE pr.n_common * 100 >= 20 * (da.deg + db.deg - pr.n_common)
        | ORDER BY a, b""".stripMargin),

    // ---- link prediction: resource-allocation index ---------------------
    // the candidate-GENERATOR twin of g_node_jaccard: same successor graph
    // + super-hub, same wedge-pivot core and degree-50 quadratic guard,
    // but (1) each pivot contributes 1e6 div deg(pivot) — rare shared
    // neighbors dominate, hubs wash out (the integerizable Adamic-Adar)
    // — and (2) an anti-join against the edge set keeps only pairs the
    // graph does NOT have: the output is the ranked list of predicted
    // links. Exact integer scores hash-match the oracle replay.
    ("g_link_predict",
      (s, d) => {
        val c = t(s, d, "customer")
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            c.select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
          .unionByName(c.filter(k % 10 === 0)
            .select(k.as("src"), lit(0L).as("dst")))
        graft.ops.GraphTraversal.resourceAllocation(edges, maxPivotDegree = 50L)
          .orderBy("a", "b")
      },
      """WITH raw AS (
        |   SELECT c_custkey AS s, c_custkey + d AS t FROM customer,
        |     LATERAL (SELECT unnest(generate_series(1, 3)) AS d) g
        |   UNION ALL
        |   SELECT c_custkey, 0 FROM customer WHERE c_custkey % 10 = 0),
        | und AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |         FROM raw WHERE s <> t),
        | nb AS (SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
        | deg AS (SELECT v, COUNT(*) AS deg FROM nb GROUP BY v),
        | pw AS (SELECT v AS w, 1000000 // deg AS w_micro
        |        FROM deg WHERE deg <= 50),
        | bp AS (SELECT nb.v, nb.w, pw.w_micro FROM nb JOIN pw ON pw.w = nb.w),
        | pr AS (SELECT n1.v AS v1, n2.v AS v2, COUNT(*) AS n_common,
        |               SUM(n1.w_micro) AS ra_micro
        |        FROM bp n1 JOIN bp n2 ON n1.w = n2.w AND n1.v < n2.v
        |        GROUP BY 1, 2)
        | SELECT v1 AS a, v2 AS b, CAST(n_common AS BIGINT) AS n_common,
        |        CAST(ra_micro AS BIGINT) AS ra_micro
        | FROM pr
        | WHERE NOT EXISTS (SELECT 1 FROM und
        |                   WHERE und.a = pr.v1 AND und.b = pr.v2)
        | ORDER BY a, b""".stripMargin),

    // ---- neighborhood function (distance distribution) ------------------
    // N(t) = ordered pairs within ≤ t directed hops over the successor
    // graph — the quantity behind effective-diameter reports. The EXACT
    // tier (frontier-disciplined pair expansion) is oracle-checked against
    // a recursive-CTE walk; the 100-TB tier is HyperBall (per-vertex HLL
    // registers, hll_union_agg per round — state is fixed-size however
    // large the balls grow), run alongside and guarded within 5% of exact
    // per t. The a9 pattern: exact values hash-match, the estimate fails
    // loudly instead of silently wrong.
    // Entry input is a FIXED 1500-vertex slice (= the whole customer graph
    // at the correctness SF, like d17's 500-doc slice): the exact tier's
    // pair set grows with ball volume (measured 7.6x at 10x, worst |V|^2),
    // so an ungated exact tier in every bench re-pays a superlinear cost
    // the entry doesn't need — correctness requires exact == oracle only
    // at the oracle SF, where the slice IS the full graph. Production
    // routing at scale is [[graft.ops.GraphTraversal.hyperBall]] alone
    // (fixed 2^lgK-register state per vertex); its register replay is
    // independently hash-checked by `g_hyperball`.
    ("g_neighborhood_func",
      (s, d) => withParts(s, 8) {
        val k = col("c_custkey")
        val cust = t(s, d, "customer").filter(k < 1500)
        val edges = (1 to 3).map(delta =>
            cust.select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        val exact = graft.ops.GraphTraversal.neighborhoodFunction(edges, maxT = 4)
        val est = graft.ops.GraphTraversal.hyperBall(edges, maxT = 4, lgK = 12)
        exact.join(est, Seq("t"))
          .select(col("t"),
            graft.ops.Bounded.guard(col("n_pairs"),
              abs(col("n_est") - col("n_pairs")) <= col("n_pairs") * 0.05,
              "g_neighborhood_func: HyperBall estimate drifted beyond 5% of exact")
              .as("n_pairs"),
            lit(true).as("est_within_5pct"))
          .orderBy("t")
      },
      """WITH RECURSIVE ck AS (SELECT DISTINCT c_custkey AS k FROM customer
        |                      WHERE c_custkey < 1500),
        | e AS (SELECT k AS src, k + d AS dst FROM ck,
        |        LATERAL (SELECT unnest(generate_series(1, 3)) AS d) g),
        | v AS (SELECT DISTINCT u FROM
        |        (SELECT src AS u FROM e UNION ALL SELECT dst FROM e)),
        | walk AS (SELECT u, u AS w, 0 AS t FROM v
        |          UNION
        |          SELECT wk.u, e.dst AS w, wk.t + 1
        |          FROM walk wk JOIN e ON e.src = wk.w WHERE wk.t < 4),
        | md AS (SELECT u, w, MIN(t) AS t FROM walk GROUP BY 1, 2)
        | SELECT CAST(t AS INTEGER) AS t,
        |        CAST(SUM(COUNT(*)) OVER (ORDER BY t) AS BIGINT) AS n_pairs,
        |        TRUE AS est_within_5pct
        | FROM md GROUP BY t ORDER BY t""".stripMargin),

    // ---- HyperBall register replay (independent sketch oracle) ----------
    // closes the "HyperBall is only guarded vs exact" gap: the explicit-
    // register HyperBall ([[graft.ops.GraphTraversal.hyperBallExplicit]],
    // the scale tier behind g_eff_diameter's distance-distribution
    // surface) evolves sparse (id, register j, rank r) state per round,
    // and the oracle REPLAYS the identical md5-derived register updates
    // relationally (the KMV/count-min pattern lifted to a graph sketch):
    // register ranks propagate dst→src along edges (+ identity
    // persistence), round state = max rank per (id, j). Output per round:
    // the full register-rank histogram — the sketch's ENTIRE state under
    // the hash, stronger than checking one derived scalar — plus the raw
    // HLL estimate in exact integer micro-units (alpha_16·1e6·m²·2^34 div
    // S·2^34; F = 34 keeps every term in Long range).
    ("g_hyperball",
      (s, d) => withParts(s, 8) {
        val k = col("c_custkey")
        val cust = t(s, d, "customer").filter(k < 1500)
        val edges = (1 to 3).map(delta =>
            cust.select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        val st = graft.ops.GraphTraversal.hyperBallExplicit(edges, maxT = 4, lgK = 4)
        val sv = st.groupBy("t", "id").agg(
          ((lit(16L) - count(lit(1))) * lit(1L << 34) +
            sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(34 - r AS INT))")))
            .as("s_scaled"))
        // alpha_16 * 1e6 * m^2 * 2^34 = 673000 * 256 * 2^34
        val nest = sv
          .withColumn("e_micro",
            expr("CAST(673000 * 256 AS BIGINT) * CAST(shiftleft(CAST(1 AS BIGINT), 34) AS BIGINT) div s_scaled"))
          .groupBy("t").agg(sum("e_micro").cast("long").as("n_est_micro"))
        st.groupBy("t", "r").agg(count(lit(1)).as("n_regs"))
          .join(nest, Seq("t"))
          .select(col("t").cast("int").as("t"), col("r").cast("long").as("r"),
            col("n_regs"), col("n_est_micro"))
          .orderBy("t", "r")
      },
      """WITH RECURSIVE ck AS (SELECT DISTINCT c_custkey AS k FROM customer
        |                      WHERE c_custkey < 1500),
        | e AS (SELECT k AS src, k + d AS dst FROM ck,
        |        LATERAL (SELECT unnest(generate_series(1, 3)) AS d) g),
        | v AS (SELECT DISTINCT u FROM
        |        (SELECT src AS u FROM e UNION ALL SELECT dst FROM e)),
        | init AS (SELECT u AS id,
        |            CAST('0x' || substr(md5('hb:' || u), 1, 12) AS BIGINT) % 16 AS j,
        |            CASE WHEN CAST('0x' || substr(md5('hb:' || u), 13, 8) AS BIGINT) = 0
        |                 THEN 33
        |                 ELSE 33 - length(bin(CAST('0x' || substr(md5('hb:' || u), 13, 8) AS BIGINT)))
        |            END AS r
        |          FROM v),
        | prop AS (SELECT src AS id, dst AS nid FROM e
        |          UNION ALL SELECT u, u FROM v),
        | walk AS (SELECT 0 AS t, id, j, r FROM init
        |          UNION
        |          SELECT w.t + 1, p.id, w.j, w.r
        |          FROM walk w JOIN prop p ON p.nid = w.id
        |          WHERE w.t < 4),
        | stt AS (SELECT t, id, j, MAX(r) AS r FROM walk GROUP BY 1, 2, 3),
        | sv AS (SELECT t, id,
        |               (16 - COUNT(*)) * (1::BIGINT << 34) +
        |                 SUM(1::BIGINT << CAST(34 - r AS INTEGER)) AS s_scaled
        |        FROM stt GROUP BY 1, 2),
        | nest AS (SELECT t,
        |            CAST(SUM((673000::BIGINT * 256 * (1::BIGINT << 34)) // s_scaled) AS BIGINT)
        |              AS n_est_micro
        |          FROM sv GROUP BY t),
        | hist AS (SELECT t, r, COUNT(*) AS n_regs FROM stt GROUP BY 1, 2)
        | SELECT CAST(h.t AS INTEGER) AS t, CAST(h.r AS BIGINT) AS r,
        |        CAST(h.n_regs AS BIGINT) AS n_regs, n.n_est_micro
        | FROM hist h JOIN nest n ON n.t = h.t
        | ORDER BY t, r""".stripMargin),

    // ---- bounded-radius stress centrality --------------------------------
    // the integer-exact member of the betweenness family (Shimbel's
    // stress: betweenness's sigma ratios are rationals and can't hash;
    // stress sums RAW shortest-path counts): for each v, the number of
    // shortest s->t paths (d(s,t) <= 4, s != v != t) passing through v —
    // v qualifies iff d(s,v) + d(v,t) = d(s,t), contributing
    // sigma(s,v)·sigma(v,t). Same 1500-vertex verification slice as
    // g_neighborhood_func. The oracle enumerates minimal-length walks
    // (a minimal walk cannot repeat a vertex, so walk counts at the min
    // length ARE path counts) and replays the middle-vertex join.
    ("g_stress_centrality",
      (s, d) => withParts(s, 8) {
        val k = col("c_custkey")
        val cust = t(s, d, "customer").filter(k < 1500)
        val edges = (1 to 3).map(delta =>
            cust.select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        graft.ops.GraphTraversal.stressCentrality(edges, maxT = 4)
          .orderBy("id")
      },
      """WITH RECURSIVE ck AS (SELECT DISTINCT c_custkey AS k FROM customer
        |                      WHERE c_custkey < 1500),
        | e AS (SELECT k AS src, k + d AS dst FROM ck,
        |        LATERAL (SELECT unnest(generate_series(1, 3)) AS d) g),
        | v AS (SELECT DISTINCT u FROM
        |        (SELECT src AS u FROM e UNION ALL SELECT dst FROM e)),
        | wk AS (SELECT u AS s, u AS w, 0 AS d FROM v
        |        UNION ALL
        |        SELECT wk.s, e.dst, wk.d + 1
        |        FROM wk JOIN e ON e.src = wk.w WHERE wk.d < 4),
        | cnt AS (SELECT s, w, d, COUNT(*) AS n FROM wk GROUP BY 1, 2, 3),
        | md AS (SELECT s, w, MIN(d) AS d FROM cnt GROUP BY 1, 2),
        | sp AS (SELECT c.s, c.w, c.d, c.n AS sigma
        |        FROM cnt c JOIN md USING (s, w, d)),
        | st AS (SELECT a.w AS id, SUM(a.sigma * b.sigma) AS stress
        |        FROM sp a JOIN sp b ON b.s = a.w
        |        JOIN sp dd ON dd.s = a.s AND dd.w = b.w AND dd.d = a.d + b.d
        |        WHERE a.w <> a.s AND b.w <> b.s
        |        GROUP BY 1)
        | SELECT v.u AS id, CAST(COALESCE(st.stress, 0) AS BIGINT) AS stress
        | FROM v LEFT JOIN st ON st.id = v.u
        | ORDER BY id""".stripMargin),

    // ---- incremental connected components (edge inserts) -----------------
    // the graph member of the delta-maintenance family (u5 agg, u11 join,
    // d6 dedup, sim_ivf_append): the old graph is 10-key successor chains
    // (edge k→k+1 except at k%10=9), already labeled; the DELTA bridges
    // every 5th chain boundary (k%50=49). The increment collapses the new
    // edges through the stored labels and re-contracts a COMPONENT-sized
    // graph — never the edge history — and the result is bit-identical to
    // a full recompute, which is exactly what the oracle computes
    // (min-reachable-id over the union closure).
    ("g_cc_incremental",
      (s, d) => {
        val k = col("c_custkey")
        val cust = t(s, d, "customer")
        val eOld = cust.filter(k % 10 =!= 9).select(k.as("src"), (k + 1).as("dst"))
        val eNew = cust.filter(k % 50 === 49).select(k.as("src"), (k + 1).as("dst"))
        val oldLabels = graft.ops.ConnectedComponents.components(eOld)
        graft.ops.ConnectedComponents.componentsIncremental(oldLabels, eNew)
          .orderBy("id")
      },
      CcIncrementalSql),

    // ---- effective diameter (90th-percentile distance) -------------------
    // the one-number report the neighborhood function exists to produce:
    // the interpolated t at which N(t) first covers 90% of all reachable
    // pairs (Boldi–Vigna's d_eff, the robust alternative to the outlier-
    // dominated true diameter). Derived from the exact N(t) table by
    // integer-exact interpolation — d_eff_micro = (t−1)·1e6 +
    // (9·N∞ − 10·N(t−1))·1e6 div (10·(N(t) − N(t−1))) — so both engines
    // land the identical long. At 100 TB the N(t) input comes from
    // [[graft.ops.GraphTraversal.hyperBall]]; the exact tier here keeps
    // the metric under the hash.
    ("g_eff_diameter",
      (s, d) => withParts(s, 8) {
        val k = col("c_custkey")
        // same fixed 1500-vertex slice as g_neighborhood_func: the exact
        // N(t) tier is the superlinear verification twin, bounded at bench
        // SFs (= the full graph at the oracle SF)
        val cust = t(s, d, "customer").filter(k < 1500)
        val edges = (1 to 3).map(delta =>
            cust.select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        val nf = graft.ops.GraphTraversal.neighborhoodFunction(edges, maxT = 4)
        val w = org.apache.spark.sql.expressions.Window.orderBy("t")
        val tot = nf.agg(max(col("n_pairs"))).head.getLong(0) // 1 driver long
        // the unpartitioned lag runs over maxT+1 = 5 rows by construction —
        // guarded row-level so a regression fails loudly (the Pareto idiom)
        nf.withColumn("prev", lag(graft.ops.Bounded.guard(col("n_pairs"),
            col("t").between(0, 4),
            "g_eff_diameter: N(t) window input exceeded the maxT bound"), 1).over(w))
          .filter(col("prev").isNotNull &&
            col("n_pairs") * 10 >= lit(tot) * 9 && col("prev") * 10 < lit(tot) * 9)
          .select(
            ((col("t") - 1).cast("long") * 1000000L +
              expr(s"(($tot * 9 - prev * 10) * 1000000) div ((n_pairs - prev) * 10)"))
              .cast("long").as("d_eff_micro"),
            col("t").cast("int").as("t_ceil"),
            lit(tot).as("n_total"))
          .orderBy("t_ceil")
      },
      """WITH RECURSIVE ck AS (SELECT DISTINCT c_custkey AS kk FROM customer
        |                      WHERE c_custkey < 1500),
        | e AS (SELECT kk AS src, kk + dd AS dst FROM ck,
        |        LATERAL (SELECT unnest(generate_series(1, 3)) AS dd) g),
        | v AS (SELECT DISTINCT u FROM
        |        (SELECT src AS u FROM e UNION ALL SELECT dst FROM e)),
        | walk AS (SELECT u, u AS w, 0 AS t FROM v
        |          UNION
        |          SELECT wk.u, e.dst AS w, wk.t + 1
        |          FROM walk wk JOIN e ON e.src = wk.w WHERE wk.t < 4),
        | md AS (SELECT u, w, MIN(t) AS t FROM walk GROUP BY 1, 2),
        | nf AS (SELECT t, SUM(COUNT(*)) OVER (ORDER BY t) AS n_pairs
        |        FROM md GROUP BY t),
        | tot AS (SELECT MAX(n_pairs) AS nt FROM nf),
        | lagged AS (SELECT t, n_pairs,
        |              LAG(n_pairs) OVER (ORDER BY t) AS prev FROM nf)
        | SELECT CAST((t - 1) * 1000000 +
        |          (nt * 9 - prev * 10) * 1000000 // ((n_pairs - prev) * 10)
        |          AS BIGINT) AS d_eff_micro,
        |        CAST(t AS INTEGER) AS t_ceil,
        |        CAST(nt AS BIGINT) AS n_total
        | FROM lagged, tot
        | WHERE prev IS NOT NULL AND n_pairs * 10 >= nt * 9 AND prev * 10 < nt * 9
        | ORDER BY t_ceil""".stripMargin),

    // ---- modularity scoring of a community assignment --------------------
    // the quality metric that judges LPA/CC output: Q = Σ_c [m_c/m −
    // (D_c/2m)²] over the undirected successor graph with block
    // communities (key div 10 — near-successor edges are mostly
    // intra-block, so Q is genuinely positive). Everything stays exact
    // integer: per-community q_num = 4·m·m_c − D_c², so Q = Σ q_num /
    // 4m² is a consumer-side division. One edge scan for m_c (an edge is
    // intra iff both endpoint blocks agree), one degree aggregate for
    // D_c, one broadcast 1-row total — no per-vertex iteration at all.
    ("g_modularity",
      (s, d) => {
        val k = col("c_custkey")
        val und = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("a"), (k + delta).as("b")))
          .reduce(_ union _).distinct()
        val m = und.agg(count(lit(1)).as("m"))
        val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("dv"))
        val intra = und.filter(floor(col("a") / 10) === floor(col("b") / 10))
          .groupBy(floor(col("a") / 10).cast("long").as("community"))
          .agg(count(lit(1)).as("m_intra"))
        val dsum = deg.groupBy(floor(col("v") / 10).cast("long").as("community"))
          .agg(sum(col("dv")).as("deg_sum"))
        dsum.join(intra, Seq("community"), "left")
          .join(broadcast(m))
          .select(col("community"),
            coalesce(col("m_intra"), lit(0L)).as("m_intra"),
            col("deg_sum"),
            (lit(4L) * col("m") * coalesce(col("m_intra"), lit(0L))
              - col("deg_sum") * col("deg_sum")).as("q_num"))
          .orderBy("community")
      },
      """WITH ck AS (SELECT DISTINCT c_custkey AS k FROM customer),
        | e AS (SELECT DISTINCT k AS a, k + d AS b FROM ck,
        |        LATERAL (SELECT unnest(generate_series(1, 3)) AS d) g),
        | m AS (SELECT COUNT(*) AS m FROM e),
        | deg AS (SELECT v, COUNT(*) AS dv FROM
        |          (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        | intra AS (SELECT a // 10 AS community, COUNT(*) AS m_intra
        |           FROM e WHERE a // 10 = b // 10 GROUP BY 1),
        | dsum AS (SELECT v // 10 AS community, CAST(SUM(dv) AS BIGINT) AS deg_sum
        |          FROM deg GROUP BY 1)
        | SELECT dsum.community, COALESCE(m_intra, 0) AS m_intra, deg_sum,
        |        4 * m.m * COALESCE(m_intra, 0) - deg_sum * deg_sum AS q_num
        | FROM dsum LEFT JOIN intra ON intra.community = dsum.community
        | CROSS JOIN m
        | ORDER BY 1""".stripMargin),

    // ---- HITS hubs & authorities (2 unrolled integer rounds) ------------
    // Kleinberg's power iteration over the successor graph, UNNORMALIZED so
    // every score is an exact order-independent integer sum (the
    // pageRank-micro discipline minus the floats — normalization is
    // rank-preserving and deferred to one global sum at the consumer).
    // Each round = two edge⋈score equi-joins + two map-combinable sums;
    // the oracle unrolls the same two rounds as chained CTEs.
    ("g_hits",
      (s, d) => {
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        graft.ops.GraphTraversal.hits(edges, rounds = 2)
          .orderBy("id")
      },
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |     ${(1 to 3).map(dlt =>
                s"SELECT c_custkey AS src, c_custkey + $dlt AS dst FROM customer")
                .mkString(" UNION ALL ")})),
         | v AS (SELECT DISTINCT id FROM
         |     (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         | a1 AS (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS s FROM e GROUP BY 1),
         | h1 AS (SELECT e.src AS id, CAST(SUM(a1.s) AS BIGINT) AS s
         |        FROM e JOIN a1 ON a1.id = e.dst GROUP BY 1),
         | a2 AS (SELECT e.dst AS id, CAST(SUM(h1.s) AS BIGINT) AS s
         |        FROM e JOIN h1 ON h1.id = e.src GROUP BY 1),
         | h2 AS (SELECT e.src AS id, CAST(SUM(a2.s) AS BIGINT) AS s
         |        FROM e JOIN a2 ON a2.id = e.dst GROUP BY 1)
         | SELECT v.id, COALESCE(h2.s, 0) AS hub, COALESCE(a2.s, 0) AS auth
         | FROM v LEFT JOIN h2 ON h2.id = v.id LEFT JOIN a2 ON a2.id = v.id
         | ORDER BY v.id""".stripMargin),

    // ---- personalized PageRank (seed-relative importance) ---------------
    // random walks restart at every-100th customer instead of uniformly:
    // the related-item / local-community scorer. Shares the g_pagerank
    // implementation via the teleport vector (initial mass, restart term,
    // and dangling redistribution all read tp = 1/|S|·[v∈S]); ranks
    // micro-rounded like g_pagerank, oracle unrolls the same 8 damped
    // rounds with the same multiply-by-tp evaluation order.
    ("g_ppr",
      (s, d) => {
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        val sources = t(s, d, "customer").filter(k % 100 === 0)
          .select(k.as("id"))
        graft.ops.GraphTraversal.personalizedPageRank(edges, sources, iterations = 8)
          .select(col("id"),
            floor(col("rank") * lit(1e6) + lit(0.5)).cast("long").as("rank_micro"))
          .orderBy("id")
      },
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |     ${(1 to 3).map(dlt =>
                s"SELECT c_custkey AS src, c_custkey + $dlt AS dst FROM customer")
                .mkString(" UNION ALL ")})),
         | v AS MATERIALIZED (SELECT DISTINCT id FROM
         |     (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         | srcset AS MATERIALIZED (SELECT DISTINCT c_custkey AS id FROM customer
         |     WHERE c_custkey % 100 = 0),
         | sn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS sn
         |     FROM srcset JOIN v USING (id)),
         | tp AS MATERIALIZED (SELECT v.id,
         |       CASE WHEN srcset.id IS NOT NULL THEN 1.0 / sn.sn ELSE 0.0 END AS tp
         |     FROM v LEFT JOIN srcset ON srcset.id = v.id CROSS JOIN sn),
         | od AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS outdeg
         |     FROM e GROUP BY src),
         | r0 AS MATERIALIZED (SELECT id, tp AS rank FROM tp)${(1 to 8).map(it =>
            s""",
         | d$it AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0) AS dm
         |     FROM r${it - 1} r LEFT JOIN od ON od.id = r.id WHERE od.id IS NULL),
         | c$it AS MATERIALIZED (SELECT e.dst AS id, SUM(r.rank / od.outdeg) AS inbound
         |     FROM r${it - 1} r JOIN od ON od.id = r.id JOIN e ON e.src = r.id
         |     GROUP BY e.dst),
         | r$it AS MATERIALIZED (SELECT tp.id,
         |       (1 - 0.85) * tp.tp + 0.85 * (COALESCE(c.inbound, 0) + d.dm * tp.tp) AS rank
         |     FROM tp CROSS JOIN d$it d LEFT JOIN c$it c ON c.id = tp.id)""")
            .mkString}
         | SELECT id, CAST(floor(rank * 1e6 + 0.5) AS BIGINT) AS rank_micro
         | FROM r8 ORDER BY id""".stripMargin),

    // ---- deterministic random walks (embedding-corpus generator) --------
    // 3-step walks over the customer successor graph from every 10th
    // vertex, transitions picked by md5(walk:step:node) mod outdegree —
    // the node2vec/DeepWalk sampling pass with NO executor RNG state, so
    // the walk corpus is reproducible across reruns, partitionings, and
    // engines (the oracle replays the identical hash arithmetic). Each
    // step is one frontier⋈neighbors shuffle join whose deg-way fan-out
    // collapses to one row per walk; sink-reaching walks drop out via the
    // inner join on both sides.
    ("g_random_walks",
      (s, d) => {
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        val starts = t(s, d, "customer").filter(k % 10 === 0)
          .select(k.as("walk_id"), k.as("start"))
        graft.ops.GraphTraversal.randomWalks(edges, starts, steps = 3)
          .orderBy("walk_id")
      },
      s"""WITH e AS (SELECT DISTINCT src, dst FROM (
         |     ${(1 to 3).map(dlt =>
                s"SELECT c_custkey AS src, c_custkey + $dlt AS dst FROM customer")
                .mkString(" UNION ALL ")})),
         | nb AS (SELECT src, dst,
         |          ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         |          COUNT(*) OVER (PARTITION BY src) AS deg FROM e),
         | w0 AS (SELECT c_custkey AS walk_id, c_custkey AS v0 FROM customer
         |        WHERE c_custkey % 10 = 0)${(1 to 3).map(st =>
            s""",
         | w$st AS (SELECT w.*, nb.dst AS v$st FROM w${st - 1} w JOIN nb
         |        ON w.v${st - 1} = nb.src
         |       AND nb.idx = ('0x' || substr(md5(w.walk_id || ':' || $st || ':'
         |                     || w.v${st - 1}), 1, 8))::BIGINT % nb.deg)""")
            .mkString}
         | SELECT walk_id, v0, v1, v2, v3 FROM w3 ORDER BY walk_id""".stripMargin),

    // ---- node2vec 2nd-order biased walks ---------------------------------
    // the walk-corpus generator behind node2vec embeddings (Grover &
    // Leskovec, KDD'16), with the return/in-out bias the 1st-order
    // g_random_walks cannot express: candidate weights 2 (return to
    // prev), 4 (adjacent to prev), 1 (far) — p=2, q=4 scaled by 4 — and
    // the draw is md5 mod total-weight against the dst-ordered cumulative
    // weights, so the ENTIRE biased distribution is deterministic and the
    // oracle replays every step (the g_random_walks discipline extended
    // to 2nd-order state).
    ("g_node2vec_walks",
      (s, d) => {
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
          .unionByName(t(s, d, "customer").filter(k % 7 === 0)
            .select((k + 2).as("src"), k.as("dst"))) // back-edges: real return candidates
        val starts = t(s, d, "customer").filter(k % 10 === 0)
          .select(k.as("walk_id"), k.as("start"))
        graft.ops.GraphTraversal.node2vecWalks(edges, starts, steps = 3,
            wReturn = 2L, wCommon = 4L, wFar = 1L)
          .orderBy("walk_id")
      },
      s"""WITH e AS (SELECT DISTINCT src, dst FROM (
         |     ${(1 to 3).map(dlt =>
                s"SELECT c_custkey AS src, c_custkey + $dlt AS dst FROM customer")
                .mkString(" UNION ALL ")}
         |     UNION ALL
         |     SELECT c_custkey + 2, c_custkey FROM customer WHERE c_custkey % 7 = 0)),
         | nb AS (SELECT src, dst,
         |          ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         |          COUNT(*) OVER (PARTITION BY src) AS deg FROM e),
         | w0 AS (SELECT c_custkey AS walk_id, c_custkey AS v0 FROM customer
         |        WHERE c_custkey % 10 = 0),
         | w1 AS (SELECT w.*, nb.dst AS v1 FROM w0 w JOIN nb
         |        ON w.v0 = nb.src
         |       AND nb.idx = ('0x' || substr(md5('n2v:' || w.walk_id || ':1:'
         |                     || w.v0), 1, 8))::BIGINT % nb.deg)${(2 to 3).map(st =>
            s""",
         | c$st AS (SELECT w.*, nb.dst,
         |          CASE WHEN nb.dst = w.v${st - 2} THEN 2
         |               WHEN pe.src IS NOT NULL THEN 4 ELSE 1 END AS wt
         |        FROM w${st - 1} w JOIN e nb ON nb.src = w.v${st - 1}
         |        LEFT JOIN e pe ON pe.src = w.v${st - 2} AND pe.dst = nb.dst),
         | s$st AS (SELECT *,
         |          SUM(wt) OVER (PARTITION BY walk_id ORDER BY dst
         |                        ROWS UNBOUNDED PRECEDING) AS cum,
         |          SUM(wt) OVER (PARTITION BY walk_id) AS tw FROM c$st),
         | w$st AS (SELECT walk_id, ${(0 until st).map(i => s"v$i").mkString(", ")},
         |                 dst AS v$st FROM s$st
         |        WHERE ('0x' || substr(md5('n2v:' || walk_id || ':' || $st || ':'
         |              || v${st - 2} || ':' || v${st - 1}), 1, 8))::BIGINT % tw
         |              BETWEEN cum - wt AND cum - 1)""")
            .mkString}
         | SELECT walk_id, v0, v1, v2, v3 FROM w3 ORDER BY walk_id""".stripMargin),

    // ---- friend-of-friend link prediction -------------------------------
    // the common-neighbors recommender: for each (sampled) node u, rank
    // 2-hop neighbors v by how many intermediates connect u→x→v, excluding
    // v already adjacent to u and v = u. Shapes: edges⋈edges on the
    // intermediate key (per-node out-degree is bounded by the successor
    // construction — the quadratic hazard is degree, same discipline as
    // the co-purchase cap), LEFT ANTI against direct edges, grouped count,
    // top-3 per node via a node-partitioned window over the
    // candidate-bounded frame.
    ("g_fof_recommend",
      (s, d) => {
        val k = col("c_custkey")
        val edges = (1 to 3).map(delta =>
            t(s, d, "customer").select(k.as("src"), (k + delta).as("dst")))
          .reduce(_ union _)
        val cand = fofCandidates(edges, sampleMod = 50)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("u").orderBy(col("n_common").desc, col("v"))
        cand.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("u"), col("v"), col("n_common"), col("rnk"))
          .orderBy("u", "rnk")
      },
      s"""WITH e AS (SELECT DISTINCT src, dst FROM (
         |     ${(1 to 3).map(dlt =>
                s"SELECT c_custkey AS src, c_custkey + $dlt AS dst FROM customer")
                .mkString(" UNION ALL ")})),
         | two AS (SELECT a.src AS u, b.dst AS v
         |         FROM e a JOIN e b ON a.dst = b.src
         |         WHERE a.src % 50 = 0 AND b.dst <> a.src),
         | cand AS (SELECT u, v, COUNT(*) AS n_common FROM two
         |          WHERE NOT EXISTS (SELECT 1 FROM e
         |                            WHERE e.src = two.u AND e.dst = two.v)
         |          GROUP BY 1, 2),
         | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY u
         |                 ORDER BY n_common DESC, v) AS rnk FROM cand)
         | SELECT u, v, n_common, CAST(rnk AS INTEGER) AS rnk
         | FROM r WHERE rnk <= 3 ORDER BY u, rnk""".stripMargin)
  )
}
