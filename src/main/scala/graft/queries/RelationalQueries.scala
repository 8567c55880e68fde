package graft.queries

import graft.io.GraphSink
import graft.ops.Normalize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2 operator inventory expressed as named queries over the
  * driver's TPC-H-ish tables, each with a DuckDB oracle (SparkEntry contract).
  *
  * Determinism rules used throughout (so the oracle hash-matches):
  *  - money sums go through DECIMAL (exact, order-independent) and are cast
  *    back to DOUBLE; pure-integral doubles (quantities, counts) sum exactly;
  *  - every query ends in a total ORDER BY on a unique key;
  *  - every computed column is aliased identically in Spark and SQL.
  */
object RelationalQueries {

  /** (name, spark fn, oracle SQL or null for rows-only checks). */
  type Entry = (String, (SparkSession, String) => DataFrame, String)

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS) which Spark rejects by default;
    // read nanos as long (none of the queries emit raw event timestamps).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** The w4 grouped-top-3 window-formulation oracle — shared with the
    * streaming twin (the top_k heap buffer is mergeable state, so the
    * converged streaming answer must equal the batch aggregate).
    */
  val TopKPartialSql: String =
    """WITH x AS (SELECT l_returnflag,
      |             CAST(round(l_extendedprice*100) AS BIGINT) AS cents,
      |             l_orderkey*10 + l_linenumber AS rid FROM lineitem),
      | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |                 ORDER BY cents DESC, rid) AS rn FROM x)
      | SELECT l_returnflag, CAST(rn AS BIGINT) AS rn, cents, rid
      | FROM r WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin

  // exact money sum: double -> decimal(18,2) -> sum -> double
  private def moneySum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Execute-and-pin a DIAMOND query — the single-fact-scan discipline
    * for aggregates consumed by two branches (a per-group aggregate
    * probed against its own global max/threshold/rollup). AQE stage reuse
    * serves only the minimal shapes (measured: the 3rd join defeats it —
    * PLANS.md), so the property is pinned the robust way: `shared` (the
    * small derived frame both branches read) is persisted, `top` executes
    * EXACTLY ONCE — as the scratch-parquet write itself (zero rows reach
    * the driver; the pin holds at ANY output size) — and the write's OWN
    * executed tree, captured via QueryExecutionListener and walked into
    * adaptive plans and query stages, must contain ZERO `factName` file
    * scans (the only fact read happened once, at cache fill, inside the
    * InMemoryRelation), ≥ 1 cache read, and no Cartesian product.
    * (Round-13 ADVICE: the previous shape proved the pin on a probe
    * `toRdd.count()` and then wrote through a SECOND, uninspected
    * QueryExecution — a differently-planned write could re-scan the fact
    * undetected, and the query executed twice. Asserting on the write's
    * own plan closes both: the proven plan IS the one that produced the
    * persisted result, and the entry pays one execution, not two.) The
    * read-back frame is returned, so downstream consumption never
    * depends on the cache. Dropped in finally.
    */
  private[queries] def pinnedDiamond(s: SparkSession, shared: DataFrame,
      top: DataFrame, what: String): DataFrame = {
    shared.persist()
    try {
      val dest = graft.ops.Scratch.dir("diamond").toString + s"/$what"
      val captured = new java.util.concurrent.CopyOnWriteArrayList[
        org.apache.spark.sql.execution.QueryExecution]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = captured.add(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      // drain BEFORE registering so a still-queued event from an earlier
      // action cannot be misattributed to this write; listener delivery
      // is async, so drain again after the write before reading captures.
      // BOTH drains must SUCCEED (round-14 ADVICE): a timed-out pre-drain
      // can leave a stale queued QueryExecution to be captured after
      // registration, and a timed-out post-drain can miss the write's own
      // event — either way the sole-capture fallback below could "prove"
      // the pin on a plan that is not the write's. An unprovable pin is a
      // failure, not a maybe.
      require(org.apache.spark.GraftListenerBridge.drain(s.sparkContext, 30000),
        s"$what: listener-bus pre-drain timed out — the diamond pin cannot " +
          "be attributed to the write's own QueryExecution")
      s.listenerManager.register(listener)
      val qe = try {
        top.write.mode("overwrite").parquet(dest)
        require(org.apache.spark.GraftListenerBridge.drain(s.sparkContext, 30000),
          s"$what: listener-bus post-drain timed out — the write's " +
            "QueryExecution may not have been captured; refusing to prove " +
            "the pin on a possibly-stale capture")
        import scala.jdk.CollectionConverters._
        // the write command's plan names its destination path; fall back
        // to a sole capture (drained-empty bus ⇒ it can only be ours)
        captured.asScala.find(_.executedPlan.toString.contains(dest))
          .getOrElse {
            require(captured.size() == 1,
              s"$what: could not identify the write's QueryExecution " +
                s"(${captured.size()} captured, none naming $dest) — " +
                "the diamond pin cannot be proven")
            captured.get(0)
          }
      } finally s.listenerManager.unregister(listener)
      def walk(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = Seq(p) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ => p.children.flatMap(walk)
      })
      val nodes = walk(qe.executedPlan)
      val factScans = nodes.count {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
        case _ => false
      }
      val cacheReads = nodes.count(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
      val cartesians = nodes.count(_.getClass.getSimpleName.contains("CartesianProduct"))
      // AQE's empty-relation propagation can collapse the WHOLE tree to
      // EmptyRelationExec when the shared frame is provably empty (tiny
      // fixtures) — nothing scanned at all is as single-scan as it gets
      val provedEmpty =
        nodes.exists(_.getClass.getSimpleName.contains("EmptyRelation"))
      require(factScans == 0 && cartesians == 0 &&
          (cacheReads >= 1 || provedEmpty),
        s"$what: a consumer bypassed the persisted diamond frame " +
          s"(lineitem scans=$factScans, cache reads=$cacheReads, " +
          s"cartesians=$cartesians) — the fact would scan twice")
      s.read.parquet(dest)
    } finally shared.unpersist()
  }

  /** The g_copurchase_pairs core (distinct basket-item pairs, basket-DEPTH
    * cap applied BEFORE pairing, support count + threshold).
    */
  def copurchasePairs(lineitem: DataFrame): DataFrame = {
    val bp = lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
      .distinct()
    val capped = bp.withColumn("bsz", count(lit(1)).over(Window.partitionBy("okey")))
      .filter(col("bsz") <= 15)
    capped.select(col("okey"), col("pkey").as("p1"))
      .join(capped.select(col("okey"), col("pkey").as("p2")), Seq("okey"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= 2L)
  }

  val all: Seq[Entry] = Seq(

    // ---- S1/F: scan with projection + pushed filter --------------------
    ("s1_scan_project",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        | WHERE l_shipdate < TIMESTAMP '1996-01-01'
        | ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- F2: namespace-prefix whitelist (OR of startsWith) -------------
    ("f2_prefix_whitelist",
      (s, d) => t(s, d, "part")
        .filter(col("p_type").startsWith("PRO") || col("p_type").startsWith("ECO"))
        .select("p_partkey", "p_type")
        .orderBy("p_partkey"),
      """SELECT p_partkey, p_type FROM part
        | WHERE p_type LIKE 'PRO%' OR p_type LIKE 'ECO%'
        | ORDER BY p_partkey""".stripMargin),

    // ---- F3: valid-triple gate (subject && (!uri || contains)) ---------
    ("f3_object_gate",
      (s, d) => t(s, d, "documents")
        .filter(col("source") === "src1" && (col("lang") === "en" || col("n_chars") < 200))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
      """SELECT doc_id, lang, n_chars FROM documents
        | WHERE source = 'src1' AND (lang = 'en' OR n_chars < 200)
        | ORDER BY doc_id""".stripMargin),

    // ---- F8: routed filter (split, not drop) ---------------------------
    ("f8_routed_split",
      (s, d) => t(s, d, "customer")
        .withColumn("route", when(col("c_acctbal") < 0, "deprecated").otherwise("kept"))
        .groupBy("route")
        .agg(count(lit(1)).as("n"), moneySum(col("c_acctbal")).as("bal"))
        .orderBy("route"),
      """SELECT CASE WHEN c_acctbal < 0 THEN 'deprecated' ELSE 'kept' END AS route,
        |        COUNT(*) AS n,
        |        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        | FROM customer GROUP BY 1 ORDER BY route""".stripMargin),

    // ---- J1: restriction flattening as double self-join ----------------
    // events modeled as triples (subject=user_id, predicate=event_type,
    // object=value): users with a 'click' statement get their max 'view'
    // and max 'purchase' objects flattened into one row.
    ("j1_restriction_flatten",
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click").select(col("user_id")).distinct()
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(max(col("value")).as("view_value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(max(col("value")).as("purchase_value"))
        clicks.join(views, Seq("user_id")).join(purchases, Seq("user_id"))
          .orderBy("user_id")
      },
      """SELECT c.user_id, v.view_value, p.purchase_value
        | FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') c
        | JOIN (SELECT user_id, MAX(value) AS view_value FROM events
        |        WHERE event_type = 'view' GROUP BY 1) v USING (user_id)
        | JOIN (SELECT user_id, MAX(value) AS purchase_value FROM events
        |        WHERE event_type = 'purchase' GROUP BY 1) p USING (user_id)
        | ORDER BY user_id""".stripMargin),

    // ---- J2: broadcast dimension joins --------------------------------
    ("j2_broadcast_dim",
      (s, d) => t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), moneySum(col("c_acctbal")).as("total_bal"))
        .orderBy("r_name"),
      """SELECT r_name, COUNT(*) AS n_customers,
        |        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        | FROM customer JOIN nation ON c_nationkey = n_nationkey
        |               JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name ORDER BY r_name""".stripMargin),

    // ---- J3: semi-join (EXISTS) — the RI-check shape -------------------
    ("j3_semijoin_exists",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        | ORDER BY c_custkey""".stripMargin),

    // ---- J4: anti-join (NOT EXISTS) ------------------------------------
    ("j4_antijoin_not_exists",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_acctbal FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        | ORDER BY c_custkey""".stripMargin),

    // ---- J6: equi + range (theta) join ---------------------------------
    ("j6_range_join",
      (s, d) => {
        val sup = t(s, d, "supplier")
        val cust = t(s, d, "customer")
        sup.join(cust,
          col("s_nationkey") === col("c_nationkey") &&
            col("c_acctbal") >= col("s_acctbal") - 100 &&
            col("c_acctbal") <= col("s_acctbal") + 100)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("s_nationkey")
      },
      """SELECT s_nationkey, COUNT(*) AS n_pairs
        | FROM supplier JOIN customer
        |   ON s_nationkey = c_nationkey
        |  AND c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
        | GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),

    // ---- salted equi-join (hub-key skew mitigation, SURVEY §7.5) --------
    // SkewOps.saltedJoin spreads each hot key over saltFactor reducers
    // (deterministic hash salt on the large side, replicated small side)
    // while producing EXACTLY the plain inner join — which is what the
    // oracle computes, so the whole salting mechanism is hash-checked, not
    // just spec'd. Post-join aggregate keeps the checked artifact small.
    ("j7_salted_join",
      (s, d) => {
        val orders = t(s, d, "orders")
          .select(col("o_custkey").as("custkey"), col("o_totalprice"))
        val cust = t(s, d, "customer")
          .select(col("c_custkey").as("custkey"), col("c_nationkey"))
        graft.ops.SkewOps.saltedJoin(orders, cust, Seq("custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
          .orderBy("c_nationkey")
      },
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // ---- J8: bloom-pre-filtered join (shuffle reduction) ----------------
    // the small side is 1-in-17 customers, so ~94% of lineitem rows can die
    // map-side before the exchange: SkewOps.bloomPrunedJoin probes the
    // small side's key bloom with the native kernel. mBits=14 is small
    // enough that false positives occur at this key count — they pass the
    // filter and the join drops them, so the result must still EQUAL the
    // plain join (that is the property under oracle here; the bloom only
    // tunes shuffle volume).
    ("j8_bloom_prune_join",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_suppkey").as("custkey"))
        val cust = t(s, d, "customer")
          .filter(col("c_custkey") % 17 === 0)
          .select(col("c_custkey").as("custkey"), col("c_nationkey"))
        graft.ops.SkewOps.bloomPrunedJoin(li, cust, "custkey", mBits = 14)
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
          .orderBy("c_nationkey")
      },
      """SELECT c_nationkey, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        | FROM lineitem JOIN (SELECT c_custkey, c_nationkey FROM customer
        |                     WHERE c_custkey % 17 = 0) c
        |   ON l_suppkey = c.c_custkey
        | GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // ---- blocked entity resolution (fuzzy record linkage) ---------------
    // blocking equi-join on p_brand bounds the quadratic space to
    // within-block pairs; the native Jaro-Winkler kernel scores only those.
    // The raw DOUBLE similarity is hash-safe: the expression evaluates the
    // textbook float chain in the same order as DuckDB's built-in (zero ULP
    // difference across all 80k sf0.01 block pairs), and it is a per-row
    // scalar — no aggregation-order hazard. maxBlockRows exercises the
    // runtime block-size guard on the real data.
    ("j9_blocked_er",
      (s, d) => graft.ops.SkewOps.spread(
          graft.ops.EntityResolution.blockedNamePairs(
            t(s, d, "part").select("p_partkey", "p_name", "p_brand"),
            blockCols = Seq("p_brand"), keyCol = "p_partkey", nameCol = "p_name",
            minSim = 0.9, maxBlockRows = Some(100000L))
          .select("p_brand", "key_a", "key_b", "name_a", "name_b", "sim"))
        .orderBy("key_a", "key_b"),
      """SELECT a.p_brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
        |       a.p_name AS name_a, b.p_name AS name_b,
        |       jaro_winkler_similarity(a.p_name, b.p_name) AS sim
        | FROM part a JOIN part b
        |   ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        | WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
        | ORDER BY key_a, key_b""".stripMargin),

    // ---- sorted-neighborhood ER (the scalable blocking fallback) --------
    // j9's brand blocking is quadratic BY CONSTRUCTION: p_brand has 25
    // values at every SF, so blocks grow ∝N and the round-13 headroom
    // probe measured the within-block pairing at 20 s → 1090 s for 10×
    // data (guard-bounded, but a real cliff). Sorted neighborhood
    // (Hernández & Stolfo 1995) is the linear-cost answer when every
    // blocking key has fixed cardinality: sort each block by name, score
    // only pairs ≤ w positions apart — Σ|block|·w work, and JW's
    // prefix-weighted similarity makes sort-adjacency the common case for
    // true matches. The oracle replays the identical rank-window pairing.
    ("j10_sorted_neighborhood_er",
      (s, d) => graft.ops.EntityResolution.sortedNeighborhoodPairs(
          t(s, d, "part").select("p_partkey", "p_name", "p_brand"),
          blockCols = Seq("p_brand"), keyCol = "p_partkey", nameCol = "p_name",
          minSim = 0.9, window = 10)
        .select("p_brand", "key_a", "key_b", "name_a", "name_b", "sim")
        .orderBy("key_a", "key_b"),
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

    // ---- sorted-neighborhood ER, scalable-rank path ----------------------
    // Same semantics as j10 with the MULTI-TASK ranking: a window
    // partitioned by a fixed-cardinality block is ONE task, so at 100 TB
    // each block's sort is a single task's spill pipeline (round-13 ADVICE).
    // blockRanks ranks via range-partition on the full sort key + local
    // row_number per (block, chunk) + stitched chunk offsets — every stage
    // bounded by partition size. The oracle is the WINDOW-rank replay:
    // the hash match is the proof that the stitched ranks are identical
    // tie-for-tie to the single-task window form ((name, key) totally
    // orders each block).
    ("j11_snm_scalable_rank",
      (s, d) => graft.ops.EntityResolution.sortedNeighborhoodPairs(
          t(s, d, "part").select("p_partkey", "p_name", "p_brand"),
          blockCols = Seq("p_brand"), keyCol = "p_partkey", nameCol = "p_name",
          minSim = 0.88, window = 6, scalableRank = true)
        .select("p_brand", "key_a", "key_b", "name_a", "name_b", "sim")
        .orderBy("key_a", "key_b"),
      """WITH r AS (SELECT p_brand, p_partkey, p_name,
        |        ROW_NUMBER() OVER (PARTITION BY p_brand
        |                           ORDER BY p_name, p_partkey) AS rn
        |      FROM part)
        | SELECT a.p_brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
        |        a.p_name AS name_a, b.p_name AS name_b,
        |        jaro_winkler_similarity(a.p_name, b.p_name) AS sim
        | FROM r a JOIN r b
        |   ON a.p_brand = b.p_brand AND b.rn BETWEEN a.rn + 1 AND a.rn + 6
        | WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88
        | ORDER BY key_a, key_b""".stripMargin),

    // ---- A1: global distinct (triple-dedup shape) ----------------------
    ("a1_distinct",
      (s, d) => t(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        | ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- A2: the flagship grouped aggregate (TPC-H Q1 shape) -----------
    ("a2_flagship_agg",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
            .cast("double").as("sum_disc"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |        SUM(l_quantity) AS sum_qty,
        |        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc,
        |        SUM(l_quantity) / COUNT(*) AS avg_qty,
        |        COUNT(*) AS n_rows
        | FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        | GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- A3: deterministic last-wins (latest order per customer) -------
    ("a3_lastwins_latest",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_orderdate")
          .orderBy("o_custkey")
      },
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |   SELECT o_custkey, o_orderkey, o_orderdate,
        |          ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |   FROM orders) WHERE rn = 1
        | ORDER BY o_custkey""".stripMargin),

    // ---- A5: first-wins dictionary build -------------------------------
    ("a5_first_dict",
      (s, d) => t(s, d, "part")
        .groupBy("p_brand")
        .agg(min(col("p_name")).as("first_name"), count(lit(1)).as("n_parts"))
        .orderBy("p_brand"),
      """SELECT p_brand, MIN(p_name) AS first_name, COUNT(*) AS n_parts
        | FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // ---- A6: distinct prefix ids (substring + distinct) ----------------
    ("a6_distinct_prefixes",
      (s, d) => t(s, d, "part")
        .select(substring_index(col("p_name"), " ", 1).as("prefix"))
        .distinct()
        .orderBy("prefix"),
      """SELECT DISTINCT split_part(p_name, ' ', 1) AS prefix FROM part
        | ORDER BY prefix""".stripMargin),

    // ---- U1: pivot (dynamic attribute columns) -------------------------
    ("u1_pivot_status",
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(moneySum(col("o_totalprice")))
        .withColumnsRenamed(Map("O" -> "sum_o", "F" -> "sum_f", "P" -> "sum_p"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |        CAST(SUM(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_o,
        |        CAST(SUM(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_f,
        |        CAST(SUM(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_p
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- S8: upsert as full-outer merge --------------------------------
    ("s8_upsert_merge",
      (s, d) => {
        val orders = t(s, d, "orders")
        val base = orders.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val updates = orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_totalprice") * 2).as("o_totalprice"))
        GraphSink.upsert(base, updates, Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      """SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        |        COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |        COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice
        | FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0) b
        | FULL OUTER JOIN (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
        |                  FROM orders WHERE o_orderkey % 2 = 0) u USING (o_orderkey)
        | ORDER BY o_orderkey""".stripMargin),

    // ---- W1: rank / top-k per group ------------------------------------
    ("w1_rank_topk",
      (s, d) => {
        val c = t(s, d, "customer").select("c_custkey", "c_mktsegment")
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .join(c, col("o_custkey") === col("c_custkey"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("c_mktsegment", "rn", "o_orderkey", "o_totalprice")
          .orderBy("c_mktsegment", "rn")
      },
      """SELECT c_mktsegment, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice FROM (
        |   SELECT c_mktsegment, o_orderkey, o_totalprice,
        |          ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |   FROM orders JOIN customer ON o_custkey = c_custkey)
        | WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin),

    // ---- W2: running sum (frame window) --------------------------------
    ("w2_running_sum",
      (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "lineitem")
          .filter(col("l_suppkey") < 10)
          .withColumn("run_qty", sum(col("l_quantity")).over(w))
          .select("l_suppkey", "l_orderkey", "l_linenumber", "run_qty")
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |        SUM(l_quantity) OVER (PARTITION BY l_suppkey
        |                              ORDER BY l_shipdate, l_orderkey, l_linenumber
        |                              ROWS UNBOUNDED PRECEDING) AS run_qty
        | FROM lineitem WHERE l_suppkey < 10
        | ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),

    // ---- W: lag/lead offsets -------------------------------------------
    ("w3_lag_lead",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, d, "orders")
          .filter(col("o_custkey") < 100)
          .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
          .withColumn("next_status", lead(col("o_orderstatus"), 1).over(w))
          .select("o_custkey", "o_orderkey", "prev_price", "next_status")
          .orderBy("o_custkey", "o_orderkey")
      },
      """SELECT o_custkey, o_orderkey,
        |        LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |                                   ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |        LEAD(o_orderstatus, 1) OVER (PARTITION BY o_custkey
        |                                     ORDER BY o_orderdate, o_orderkey) AS next_status
        | FROM orders WHERE o_custkey < 100
        | ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---- grouped top-k WITHOUT the window sort --------------------------
    // the scale-correct grouped top-k: the w1 window idiom sorts every row
    // of every group in the shuffle; the native `top_k` aggregate
    // ([[graft.functions.TopKAgg]]) keeps a k-bound heap per partial
    // buffer, so the map side combines each partition to ≤ k entries per
    // group before anything moves — exact (the global top-k is contained
    // in the union of per-partition top-ks over a total order), not a
    // sketch. The oracle is the window formulation: both must agree row
    // for row including rank and tie-breaks.
    ("w4_topk_partial",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"))
        li.groupBy("l_returnflag")
          .agg(graft.functions.TopKAgg.topK(col("cents"), col("rid"), 3).as("tk"))
          .select(col("l_returnflag"), posexplode(col("tk")))
          .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rn"),
            col("col.ord").as("cents"), col("col.id").as("rid"))
          .orderBy("l_returnflag", "rn")
      },
      TopKPartialSql),

    // ---- distribution window functions (ntile / percent_rank / cume_dist)
    // the §2.5 distribution trio on ONE deterministic total order
    // ((cents, o_orderkey) — never a bare value with ties): quartile
    // bucket, relative rank, cumulative share. The doubles hash-match
    // cross-engine because both sides compute the same (rank−1)/(n−1)
    // and peers/n IEEE divisions on identical small-integer operands.
    ("w5_ntile_dist",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("cents"), col("o_orderkey"))
        t(s, d, "orders")
          .filter(col("o_custkey") < 100)
          .select(col("o_orderstatus"), col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .withColumn("q4", ntile(4).over(w).cast("long"))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .select("o_orderstatus", "o_orderkey", "cents", "q4", "pr", "cd")
          .orderBy("o_orderstatus", "o_orderkey")
      },
      """WITH x AS (SELECT o_orderstatus, o_orderkey,
        |             CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |           FROM orders WHERE o_custkey < 100)
        | SELECT o_orderstatus, o_orderkey, cents,
        |        CAST(NTILE(4) OVER w AS BIGINT) AS q4,
        |        PERCENT_RANK() OVER w AS pr,
        |        CUME_DIST() OVER w AS cd
        | FROM x
        | WINDOW w AS (PARTITION BY o_orderstatus ORDER BY cents, o_orderkey)
        | ORDER BY o_orderstatus, o_orderkey""".stripMargin),

    // ---- UNPIVOT (wide measures -> long) -------------------------------
    // the inverse of u1's pivot: three per-line measures melt into
    // (measure, value) rows via Dataset.unpivot — one Expand node, no
    // shuffle, ×3 rows map-side. The oracle states the same melt as a
    // portable UNION ALL (no dialect UNPIVOT dependence).
    ("u10_unpivot",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          round(col("l_discount") * 100).cast("long").as("disc_pct"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("qty"), col("price_cents"), col("disc_pct")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      """SELECT l_orderkey, l_linenumber, 'qty' AS measure,
        |        CAST(l_quantity AS BIGINT) AS value
        | FROM lineitem WHERE l_orderkey < 200
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'price_cents',
        |        CAST(round(l_extendedprice*100) AS BIGINT)
        | FROM lineitem WHERE l_orderkey < 200
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'disc_pct',
        |        CAST(round(l_discount*100) AS BIGINT)
        | FROM lineitem WHERE l_orderkey < 200
        | ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),

    // ---- top-k global sort ---------------------------------------------
    ("topk_global",
      (s, d) => t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10),
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ---- set ops: intersect / except, tagged ---------------------------
    ("set_ops_tagged",
      (s, d) => {
        val withOrders = t(s, d, "orders").select(col("o_custkey").as("custkey")).distinct()
        val negative = t(s, d, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("custkey"))
        withOrders.intersect(negative).withColumn("tag", lit("both"))
          .union(withOrders.exceptAll(negative).withColumn("tag", lit("orders_only")))
          .select("tag", "custkey")
          .orderBy("tag", "custkey")
      },
      """WITH w AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
        |      n AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0)
        | SELECT 'both' AS tag, custkey FROM (SELECT custkey FROM w INTERSECT SELECT custkey FROM n)
        | UNION ALL
        | SELECT 'orders_only' AS tag, custkey FROM (SELECT custkey FROM w EXCEPT ALL SELECT custkey FROM n)
        | ORDER BY tag, custkey""".stripMargin),

    // ---- rollup (grouping sets) ----------------------------------------
    ("rollup_agg",
      (s, d) => t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls"),
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |        SUM(l_quantity) AS sum_qty, COUNT(*) AS n
        | FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        | ORDER BY rf, ls""".stripMargin),

    // ---- cube (full grouping sets) -------------------------------------
    ("cube_agg",
      (s, d) => t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
          col("n"), col("total"))
        .orderBy("st", "pr"),
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pr,
        |        COUNT(*) AS n,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        | FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        | ORDER BY st, pr""".stripMargin),

    // ---- N2: URI -> vtuple columns + N7 doc-id split -------------------
    ("n2_uri_vtuple",
      (s, d) => t(s, d, "nation")
        .withColumn("uri", concat(lit("http://purl.obolibrary.org/obo/"), col("n_name")))
        .withColumn("term", substring_index(col("uri"), "/", -1))
        .withColumn("id", element_at(split(col("term"), "_"), 1))
        .withColumn("number", element_at(split(col("term"), "_"), 2))
        .withColumn("docid", concat(col("id"), lit("/"), col("number")))
        .withColumn("coll", substring_index(col("docid"), "/", 1))
        .select("n_nationkey", "term", "id", "number", "docid", "coll")
        .orderBy("n_nationkey"),
      """SELECT n_nationkey,
        |        regexp_extract('http://purl.obolibrary.org/obo/' || n_name, '([^/]*)$', 1) AS term,
        |        split_part(n_name, '_', 1) AS id,
        |        split_part(n_name, '_', 2) AS number,
        |        split_part(n_name, '_', 1) || '/' || split_part(n_name, '_', 2) AS docid,
        |        split_part(n_name, '_', 1) AS coll
        | FROM nation ORDER BY n_nationkey""".stripMargin),

    // ---- N4/N5: normalization when-chains ------------------------------
    ("n4_case_normalize",
      (s, d) => t(s, d, "orders")
        .withColumn("norm",
          when(col("o_orderpriority") === "1-URGENT", "URGENT")
            .otherwise(upper(regexp_replace(col("o_orderpriority"), " ", "_"))))
        .groupBy("norm").agg(count(lit(1)).as("n"))
        .orderBy("norm"),
      """SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'URGENT'
        |             ELSE upper(replace(o_orderpriority, ' ', '_')) END AS norm,
        |        COUNT(*) AS n
        | FROM orders GROUP BY 1 ORDER BY norm""".stripMargin),

    // ---- N6: date extraction + lexical compare -------------------------
    ("n6_date_extract",
      (s, d) => t(s, d, "orders")
        .withColumn("ds", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .withColumn("year", substring(col("ds"), 1, 4))
        .filter(col("ds") > "1997-06-15") // lexical compare of ISO dates
        .groupBy("year").agg(count(lit(1)).as("n"))
        .orderBy("year"),
      """SELECT substr(strftime(o_orderdate, '%Y-%m-%d'), 1, 4) AS year, COUNT(*) AS n
        | FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') > '1997-06-15'
        | GROUP BY 1 ORDER BY year""".stripMargin),

    // ---- arrays: split + explode + count -------------------------------
    ("x_array_wordcount",
      (s, d) => t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20),
      """SELECT word, COUNT(*) AS n
        | FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        | GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin),

    // ---- JSON: extraction from string column ---------------------------
    ("x_json_extract",
      (s, d) => t(s, d, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type"),
      """SELECT event_type,
        |        CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |        COUNT(*) AS n
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- table statistics (ANALYZE surface) -----------------------------
    // the planner-feeding stats sweep: per-column exact NDV, null count,
    // min/max over lineitem's join/filter columns — one pass, all
    // map-combinable except the distincts, which Spark rewrites into one
    // Expand + partial aggregation (same shuffle count as a single
    // distinct at this column count).
    ("s13_table_stats",
      (s, d) => t(s, d, "lineitem")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("ndv_orderkey"),
          countDistinct(col("l_partkey")).as("ndv_partkey"),
          countDistinct(col("l_suppkey")).as("ndv_suppkey"),
          sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("nulls_returnflag"),
          min(col("l_quantity")).cast("long").as("min_qty"),
          max(col("l_quantity")).cast("long").as("max_qty")),
      """SELECT COUNT(*) AS n_rows,
        |        COUNT(DISTINCT l_orderkey) AS ndv_orderkey,
        |        COUNT(DISTINCT l_partkey) AS ndv_partkey,
        |        COUNT(DISTINCT l_suppkey) AS ndv_suppkey,
        |        CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |          AS nulls_returnflag,
        |        CAST(MIN(l_quantity) AS BIGINT) AS min_qty,
        |        CAST(MAX(l_quantity) AS BIGINT) AS max_qty
        | FROM lineitem""".stripMargin),

    // ---- per-column data-profiling sweep --------------------------------
    // the ingest-gate profiler: every column (numerics cast to string, the
    // profiler's universal domain) unpivoted via stack() into (col_name,
    // value) and profiled in ONE grouped pass — null count, exact NDV,
    // min/max/total character length. Output is bounded by the column
    // count; the only shuffle is the 5-key groupBy. At 100 TB this is the
    // pattern for schema drift detection: the stack generator is map-side
    // and the aggregate is partial-combined before exchange.
    ("s14_column_profile",
      (s, d) => t(s, d, "documents")
        .select(expr("""stack(5,
            'doc_id', cast(doc_id as string),
            'lang', lang,
            'n_chars', cast(n_chars as string),
            'source', source,
            'text', text) as (col_name, value)"""))
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col("value")).as("n_distinct"),
          min(length(col("value"))).cast("long").as("min_len"),
          max(length(col("value"))).cast("long").as("max_len"),
          sum(coalesce(length(col("value")), lit(0))).as("total_len"))
        .orderBy("col_name"),
      """WITH st AS (
        |   SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS value FROM documents
        |   UNION ALL SELECT 'lang', lang FROM documents
        |   UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
        |   UNION ALL SELECT 'source', source FROM documents
        |   UNION ALL SELECT 'text', text FROM documents)
        | SELECT col_name, COUNT(*) AS n_rows,
        |        CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |        COUNT(DISTINCT value) AS n_distinct,
        |        CAST(MIN(length(value)) AS BIGINT) AS min_len,
        |        CAST(MAX(length(value)) AS BIGINT) AS max_len,
        |        CAST(SUM(COALESCE(length(value), 0)) AS BIGINT) AS total_len
        | FROM st GROUP BY col_name ORDER BY col_name""".stripMargin),

    // ---- join-key skew report -------------------------------------------
    // the pre-join diagnostic that decides salting/AQE-skew handling: the
    // per-key count distribution of a join key (events.user_id), reduced
    // to exact n_keys / max / median / p99. Exact ranks WITHOUT a global
    // sort: the per-key counts collapse into a counts-of-counts summary
    // (bounded by distinct count VALUES, not keys — the exactQuantiles
    // discipline), the cumulative window runs over that summary only, and
    // the final row is a conditional aggregate. Feed g_degree_hist's
    // histogram when the full shape is wanted; this row is the
    // decision-sized version.
    ("s15_key_skew_report",
      (s, d) => graft.ops.SkewOps.keySkewReport(t(s, d, "events")),
      """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |  s AS (SELECT cnt, COUNT(*) AS freq FROM c GROUP BY 1),
        |  cum AS (SELECT cnt, freq,
        |          SUM(freq) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING) AS cum
        |          FROM s),
        |  t AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_keys, MAX(cnt) AS max_cnt FROM s)
        | SELECT t.n_keys, t.max_cnt,
        |        CAST(MIN(CASE WHEN cum * 2 >= t.n_keys THEN cnt END) AS BIGINT)
        |          AS median_cnt,
        |        CAST(MIN(CASE WHEN cum * 100 >= t.n_keys * 99 THEN cnt END) AS BIGINT)
        |          AS p99_cnt
        | FROM cum, t GROUP BY t.n_keys, t.max_cnt""".stripMargin),

    // ---- incremental aggregate maintenance ------------------------------
    // the never-rescan-the-corpus discipline: a pre-aggregated base
    // partition merges with a delta batch's partial aggregate by SUM/COUNT
    // algebra (counts add, sums add, averages re-derive) — the merged
    // result must equal aggregating the full table from scratch, which is
    // exactly what the oracle computes. At 100 TB this is the difference
    // between touching yesterday's corpus and touching yesterday's
    // SUMMARY.
    ("u5_incremental_agg",
      (s, d) => {
        val li = t(s, d, "lineitem")
        def partial(df: DataFrame) = df.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
        partial(li.filter(col("l_orderkey") % 5 =!= 0))    // "yesterday's summary"
          .unionByName(partial(li.filter(col("l_orderkey") % 5 === 0))) // delta
          .groupBy("l_returnflag")
          .agg(sum(col("n")).as("n"), sum(col("sum_qty")).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS n,
        |        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- incremental JOIN-view maintenance (insert-only IVM) ------------
    // u5's join sibling: a stored join view V = O ⋈ C refreshed under
    // appends to BOTH sides by the delta rule V' = V ∪ (ΔO⋈C) ∪ (O⋈ΔC) ∪
    // (ΔO⋈ΔC) — the stored pre-delta view is UNIONED IN, never re-joined,
    // so a refresh joins only delta-sized inputs against the other side.
    // At 100 TB: V and O are stored (bucketed on the join key), ΔO is a
    // day's ingest — the refresh cost tracks the DELTA, not the table.
    // The oracle is the full direct join: hash-matching it proves the
    // incremental union reconstructs the view exactly (insert-only; u7's
    // CDC apply owns updates/deletes).
    ("u11_incremental_join",
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
        val oldO = o.filter(col("o_orderkey") % 7 =!= 0)
        val dO = o.filter(col("o_orderkey") % 7 === 0)
        val oldC = c.filter(col("c_custkey") % 11 =!= 0)
        val dC = c.filter(col("c_custkey") % 11 === 0)
        def j(a: DataFrame, b: DataFrame) =
          a.join(b, col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey"), col("c_custkey"), col("c_nationkey"), col("cents"))
        j(oldO, oldC) // the stored view; unioned, not recomputed
          .unionByName(j(dO, oldC))
          .unionByName(j(oldO, dC))
          .unionByName(j(dO, dC))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, c_custkey, c_nationkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | ORDER BY o_orderkey""".stripMargin),

    // ---- rare-label collapse (top-N + __OTHER__) -------------------------
    // the cardinality-reducer that precedes target encoding / one-hot at
    // scale: labels below the support threshold collapse into __OTHER__.
    // The synthesized label column is deliberately head/tail skewed (80%
    // of rows on 40 head labels, 20% spread over a 100k-value tail) so
    // BOTH branches are live at every SF. One aggregate builds the
    // keep-set (bounded by the label vocabulary, broadcast back); the
    // rewrite is map-side — no row-level window, no second fact shuffle.
    ("t_rare_label_collapse",
      (s, d) => {
        val o = t(s, d, "orders").select(
          when(col("o_custkey") % 5 < 4,
              concat(lit("head_"), col("o_custkey") % 40))
            .otherwise(concat(lit("tail_"), col("o_custkey") % 100000))
            .as("raw_label"))
        val keep = o.groupBy("raw_label").agg(count(lit(1)).as("n"))
          .filter(col("n") >= 20).select("raw_label")
        o.join(broadcast(keep.withColumn("__keep", lit(1))), Seq("raw_label"), "left")
          .select(when(col("__keep").isNotNull, col("raw_label"))
            .otherwise(lit("__OTHER__")).as("label"))
          .groupBy("label").agg(count(lit(1)).as("n_rows"))
          .orderBy("label")
      },
      """WITH lab AS (SELECT CASE WHEN o_custkey % 5 < 4
        |                        THEN 'head_' || (o_custkey % 40)
        |                        ELSE 'tail_' || (o_custkey % 100000) END AS raw_label
        |             FROM orders),
        | keep AS (SELECT raw_label FROM lab GROUP BY 1 HAVING COUNT(*) >= 20)
        | SELECT CASE WHEN keep.raw_label IS NOT NULL THEN lab.raw_label
        |             ELSE '__OTHER__' END AS label, COUNT(*) AS n_rows
        | FROM lab LEFT JOIN keep ON keep.raw_label = lab.raw_label
        | GROUP BY 1 ORDER BY label""".stripMargin),

    // ---- SCD Type-2 history (upsert WITH history) -----------------------
    // the warehouse companion to s8's last-wins merge: three synthesized
    // version waves over the customer dimension (wave 1 contains deliberate
    // NO-OP re-statements that must collapse into the preceding range),
    // turned into effective ranges by ScdOps.buildHistory. The oracle
    // re-derives collapse + ranges with LAG/LEAD windows.
    ("u2_scd2_history",
      (s, d) => {
        val base = t(s, d, "customer").select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
        val v0 = base.withColumn("seq", lit(0L))
        val v1 = base.filter(col("k") % 3 === 0)
          .withColumn("cents", col("cents") +
            when(col("k") % 6 === 0, 0L).otherwise(10000L)) // %6 rows: no-ops
          .withColumn("seq", lit(1L))
        val v2 = base.filter(col("k") % 9 === 0)
          .withColumn("cents", col("cents") + 20000L)
          .withColumn("seq", lit(2L))
        graft.ops.ScdOps.buildHistory(
            v0.unionByName(v1).unionByName(v2), "k", Seq("cents"))
          .select(col("k"), col("cents"), col("valid_from"), col("valid_to"),
            col("is_current"))
          .orderBy("k", "valid_from")
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
        |  ch AS (SELECT * FROM lagd WHERE prev IS NULL OR cents <> prev),
        |  rng AS (SELECT k, cents, seq AS valid_from,
        |                 LEAD(seq) OVER (PARTITION BY k ORDER BY seq) - 1 AS valid_to
        |          FROM ch)
        | SELECT k, cents, valid_from, valid_to, valid_to IS NULL AS is_current
        | FROM rng ORDER BY k, valid_from""".stripMargin),

    // ---- SCD2 point-in-time lookup --------------------------------------
    // dimension lookup AS OF a fact's version clock: facts (orders, with a
    // synthetic as-of seq) pick the u2 history row whose valid_from is the
    // latest at-or-before their seq — which is exactly the backward as-of
    // join, so the one-shuffle union+window operator serves the SCD2 read
    // path too (no BETWEEN join against [valid_from, valid_to] needed: by
    // construction ranges tile the key's timeline, making "latest
    // valid_from <= seq" equivalent and cheaper).
    ("u3_scd2_pit_lookup",
      (s, d) => {
        val base = t(s, d, "customer").select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
        val v0 = base.withColumn("seq", lit(0L))
        val v1 = base.filter(col("k") % 3 === 0)
          .withColumn("cents", col("cents") +
            when(col("k") % 6 === 0, 0L).otherwise(10000L))
          .withColumn("seq", lit(1L))
        val v2 = base.filter(col("k") % 9 === 0)
          .withColumn("cents", col("cents") + 20000L)
          .withColumn("seq", lit(2L))
        val hist = graft.ops.ScdOps.buildHistory(
            v0.unionByName(v1).unionByName(v2), "k", Seq("cents"))
          .select(col("k"), col("valid_from").as("vseq"), col("cents"))
        val facts = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey").as("k"),
            (col("o_orderkey") % 3).as("vseq"))
        graft.ops.TemporalOps.asofJoinBackward(facts, hist,
            keyCol = "k", tsCol = "vseq", valueCol = "cents",
            asOfCol = "cents_at", rightTieCol = "vseq")
          .select(col("o_orderkey"), col("k"), col("vseq"), col("cents_at"))
          .orderBy("o_orderkey")
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

    // ---- exact order statistic WITHOUT a global sort --------------------
    // the selection-at-scale primitive: the exact lower median of 6 M
    // prices via (1) ONE histogram scan into 4096-cent value buckets
    // (map-combinable, bucket-count-sized result), (2) a driver-side
    // cumulative walk over the ≤64 k summary rows locating the bucket
    // holding the k-th element, (3) a sort of THAT BUCKET ONLY (~1/2¹²
    // of the data). A global orderBy would range-shuffle every row; this
    // moves one bucket. The oracle is DuckDB's ORDER BY LIMIT/OFFSET
    // selection — an independent algorithm.
    ("t_exact_median_nosort",
      (s, d) => {
        val cents = t(s, d, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
        val hist = cents.groupBy(expr("c div 4096").as("b"))
          .agg(count(lit(1)).as("bn"))
          .orderBy("b").collect() // bucket-count-sized (≤ ~64k rows)
        val n = hist.map(_.getLong(1)).sum
        val k = (n + 1) / 2
        var cum = 0L
        var bkt = 0L
        var kInB = 0L
        var i = 0
        while (i < hist.length && kInB == 0L) {
          val bn = hist(i).getLong(1)
          if (cum + bn >= k) { bkt = hist(i).getLong(0); kInB = k - cum }
          cum += bn
          i += 1
        }
        val kth = cents.filter(expr(s"c div 4096") === bkt)
          .orderBy("c").limit(kInB.toInt)
          .agg(max(col("c")).as("median_cents"))
        kth.select(lit(n).as("n"), lit(k).as("k"), col("median_cents"))
      },
      """WITH t AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS c
        |           FROM lineitem),
        | nn AS (SELECT COUNT(*) AS n, (COUNT(*) + 1) // 2 AS k FROM t)
        | SELECT nn.n, nn.k,
        |        (SELECT c FROM t ORDER BY c
        |         LIMIT 1 OFFSET (SELECT k - 1 FROM nn)) AS median_cents
        | FROM nn""".stripMargin),

    // ---- star-schema analytics (Q5 shape: one fact scan, all dims broadcast)
    // the classic 6-table local-supplier revenue query as the engine's
    // showcase star join: region→nation→customer collapse into ONE
    // broadcast dimension, orders (year-filtered) joins it and is itself
    // small enough to broadcast against the lineitem scan, supplier
    // broadcasts with the s_nationkey == c_nationkey residual — so the
    // 100-TB-side table (lineitem) is scanned ONCE with zero shuffles
    // before the 5-row aggregate. Revenue in exact integer cent²-units
    // (price_cents × (100 − discount_pct)), no float sum ordering issues.
    ("q5_star_join",
      (s, d) => {
        val dim = t(s, d, "nation")
          .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = t(s, d, "customer").join(broadcast(dim),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1995-01-01") &&
            col("o_orderdate") < lit("1996-01-01"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
        val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .as("rev"))
          .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("rev")).as("revenue_c4"), count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      """SELECT n_name,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |                (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |         AS revenue_c4,
        |       COUNT(*) AS n_items
        | FROM region
        | JOIN nation ON n_regionkey = r_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        | JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        | WHERE r_name = 'ASIA'
        |   AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
        | GROUP BY 1 ORDER BY n_name""".stripMargin),

    // ---- pushdown showcase (Q6 shape: filter-only scan, no join at all) --
    // the minimal-plan classic: three predicates and one 2-column
    // projection over the 100-TB-side table — shipdate and quantity reach
    // the parquet scan as PushedFilters and ReadSchema is exactly the
    // columns touched, so the plan IS the scan. Revenue in exact integer
    // cent²-units (price_cents × discount_pct — the Q6 semantics).
    ("q6_forecast_revenue",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          round(col("l_discount") * 100).cast("long").between(5, 7) &&
          col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
            round(col("l_discount") * 100).cast("long")).as("revenue_c4"),
          count(lit(1)).as("n_items")),
      """SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |                CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c4,
        |       COUNT(*) AS n_items
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1997-01-01'
        |   AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7
        |   AND l_quantity < 24""".stripMargin),

    // ---- shipping-priority top-k (Q3 shape: filtered 3-table join) -------
    // segment-filtered customers and date-filtered orders collapse into a
    // broadcast dimension; the lineitem scan keeps only post-cutoff
    // shipments, so the big side is filtered BEFORE the join and the
    // global top-10 runs as TakeOrderedAndProject (per-partition heaps,
    // never a full sort). Grouping by l_orderkey makes rows unique per
    // order and the (revenue desc, date, orderkey) order total — the
    // LIMIT content is deterministic, so it hashes.
    ("q3_shipping_priority",
      (s, d) => {
        val cust = t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") < lit("1998-06-01"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        t(s, d, "lineitem")
          .filter(col("l_shipdate") > lit("1998-06-01"))
          .select(col("l_orderkey"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev"))
          .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(col("rev")).as("revenue_c4"))
          .orderBy(col("revenue_c4").desc, col("o_orderdate"), col("l_orderkey"))
          .limit(10)
          .select(col("l_orderkey"),
            // parquet NTZ timestamp -> UTC-session instant, as everywhere
            unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
            col("o_orderpriority"), col("revenue_c4"))
      },
      """SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
        |       o_orderpriority,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |                (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |         AS revenue_c4
        | FROM customer JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | WHERE c_mktsegment = 'BUILDING'
        |   AND o_orderdate < TIMESTAMP '1998-06-01'
        |   AND l_shipdate > TIMESTAMP '1998-06-01'
        | GROUP BY 1, 2, 3
        | ORDER BY revenue_c4 DESC, o_orderdate_us, l_orderkey
        | LIMIT 10""".stripMargin),

    // ---- order-priority check (Q4 shape: date-windowed EXISTS) -----------
    // the correlated-EXISTS classic adapted to this schema (no
    // commit/receipt dates): an order counts iff SOME line item shipped
    // more than 60 days after the order date. The predicate is MONOTONE in
    // l_shipdate, so EXISTS rewrites exactly to max(l_shipdate) per order —
    // the lineitem side collapses map-combinably to one row per order
    // BEFORE the join (a naive left-semi here would have to broadcast the
    // fact side — wrong at 100 TB; the pre-aggregate makes both join
    // inputs orderkey-keyed and order-count-sized).
    ("q4_order_priority",
      (s, d) => {
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01") &&
            col("o_orderdate") < lit("1998-01-01"))
        val lmax = t(s, d, "lineitem")
          .groupBy("l_orderkey").agg(max(col("l_shipdate")).as("max_ship"))
        ord.join(lmax, col("l_orderkey") === col("o_orderkey"))
          .filter(col("max_ship") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        | FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |   AND o_orderdate < TIMESTAMP '1998-01-01'
        |   AND EXISTS (SELECT 1 FROM lineitem
        |               WHERE l_orderkey = o_orderkey
        |                 AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        | GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),

    // ---- promotion-revenue share (Q14 shape: conditional aggregate) ------
    // one year of shipments joined to the broadcast part dimension; the
    // PROMO share is a single conditional-sum pass. Share in ppm by
    // integer arithmetic — promo_c4 div (total_c4 div 1e6), NOT
    // promo·1e6/total, whose numerator overflows Long at bench scale
    // (total_c4 ≈ 4·10¹³ at sf0.1); both engines replay the identical
    // truncating form, so it hashes.
    ("q14_promo_revenue",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01") &&
            col("l_shipdate") < lit("1998-01-01"))
          .select(col("l_partkey"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev"))
        li.join(broadcast(t(s, d, "part").select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg(sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0L))
              .as("promo_c4"),
            sum(col("rev")).as("total_c4"))
          .select(col("promo_c4"),
            // an under-scaled fixture (total_c4 < 1e6) would zero the
            // divisor, where the two engines' div-by-zero behaviors
            // diverge (NULL vs error) — fail loudly and identically
            // instead (the Bounded.guard discipline)
            graft.ops.Bounded.guard(col("total_c4"),
              col("total_c4") >= 1000000L,
              "q14_promo_revenue: total_c4 below 1e6 — fixture too small " +
                "for the ppm integer form").as("total_c4"),
            expr("promo_c4 div (total_c4 div 1000000)").as("promo_share_ppm"))
      },
      """WITH r AS (SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN
        |                 CAST(round(l_extendedprice*100) AS BIGINT) *
        |                 (100 - CAST(round(l_discount*100) AS BIGINT))
        |                 ELSE 0 END) AS BIGINT) AS promo_c4,
        |               CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |                 (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |                 AS total_c4
        |        FROM lineitem JOIN part ON l_partkey = p_partkey
        |        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |          AND l_shipdate < TIMESTAMP '1998-01-01')
        | SELECT promo_c4, total_c4,
        |        CAST(promo_c4 // (total_c4 // 1000000) AS BIGINT) AS promo_share_ppm
        | FROM r""".stripMargin),

    // ---- corrupt-record routing (dead-letter ingestion) -----------------
    // the never-silently-drop discipline for semi-structured ingest: a
    // JSON payload per document (synthesized identically on both engines;
    // every 7th is truncated mid-object) parses into typed columns OR
    // routes whole to a dead-letter column — corrupt blobs are data, not
    // bugs, and row counts are conserved (good + bad = input). Spark's
    // from_json yields a null-fielded struct for malformed input; the
    // oracle's json_valid() must agree on every row or the hash fails.
    // Map-side only — no shuffle beyond the final presentation sort.
    ("s27_corrupt_routing",
      (s, d) => {
        val raw = concat(lit("{\"id\": "), col("doc_id"), lit(", \"w\": "),
          col("n_chars").cast("long"),
          when(col("doc_id") % 7 === 0, lit("")).otherwise(lit("}")))
        val schema = "id BIGINT, w BIGINT"
        t(s, d, "documents")
          .select(col("doc_id"), raw.as("raw"),
            from_json(raw, org.apache.spark.sql.types.StructType
              .fromDDL(schema)).as("p"))
          .select(col("doc_id"),
            col("p.id").isNotNull.as("ok"),
            col("p.id").as("id_parsed"), col("p.w").as("w_parsed"),
            when(col("p.id").isNull, col("raw")).as("dead_letter"))
          .orderBy("doc_id")
      },
      """WITH j AS (SELECT doc_id,
        |             '{"id": ' || doc_id || ', "w": ' || CAST(n_chars AS BIGINT)
        |             || CASE WHEN doc_id % 7 = 0 THEN '' ELSE '}' END AS raw
        |           FROM documents)
        | SELECT doc_id, json_valid(raw) AS ok,
        |        CASE WHEN json_valid(raw)
        |             THEN CAST(raw->>'id' AS BIGINT) END AS id_parsed,
        |        CASE WHEN json_valid(raw)
        |             THEN CAST(raw->>'w' AS BIGINT) END AS w_parsed,
        |        CASE WHEN NOT json_valid(raw) THEN raw END AS dead_letter
        | FROM j ORDER BY doc_id""".stripMargin),

    // ---- zone-map data skipping (min/max pruning, layout-sensitive) -----
    // the file-skipping arithmetic a 100-TB scan lives or dies by: per
    // "file" (simulated: arrival-order vs date-clustered groupings of the
    // same rows) a (min, max) zone map on ship-day; a range predicate
    // skips a file iff its zone is disjoint from [D1, D2]. The entry
    // quantifies WHY layout matters: arrival-order files all straddle the
    // date range (zone maps prune ~nothing), date-clustered files prune
    // all but the window (rows_scanned collapses to ~rows_matched).
    // Clustering uses value-range bucketing (day div 30 — no global
    // sort, the PrefixOps discipline). A guard asserts the pruning
    // invariant: no skipped file contains a matching row.
    ("s26_zonemap_prune",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("day"))
        val d1 = expr("unix_micros(TIMESTAMP '1995-06-01 00:00:00') div 86400000000")
        val d2 = expr("unix_micros(TIMESTAMP '1995-12-31 00:00:00') div 86400000000")
        def layout(name: String, fileId: org.apache.spark.sql.Column) = li
          .withColumn("file_id", fileId)
          .groupBy("file_id")
          .agg(count(lit(1)).as("n_rows"), min(col("day")).as("zmin"),
            max(col("day")).as("zmax"),
            sum(when(col("day").between(d1, d2), 1L).otherwise(0L)).as("n_match"))
          .withColumn("skippable", col("zmax") < d1 || col("zmin") > d2)
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("skippable"), 1L).otherwise(0L)).as("n_skipped"),
            sum(when(!col("skippable"), col("n_rows")).otherwise(0L)).as("rows_scanned"),
            sum(col("n_match")).as("rows_matched"),
            sum(when(col("skippable"), col("n_match")).otherwise(0L)).as("leaked"))
          .select(lit(name).as("layout"), col("n_files"), col("n_skipped"),
            graft.ops.Bounded.guard(col("rows_scanned"), col("leaked") === 0,
              s"s26_zonemap_prune[$name]: a skipped file contains matching rows")
              .as("rows_scanned"),
            col("rows_matched"))
        layout("arrival", expr("l_orderkey div 2000"))
          .unionByName(layout("clustered", expr("day div 30")))
          .orderBy("layout")
      },
      """WITH li AS (SELECT l_orderkey,
        |              epoch_us(l_shipdate) // 86400000000 AS day FROM lineitem),
        | dd AS (SELECT epoch_us(TIMESTAMP '1995-06-01') // 86400000000 AS d1,
        |               epoch_us(TIMESTAMP '1995-12-31') // 86400000000 AS d2),
        | f AS (SELECT CASE WHEN lay = 'arrival' THEN l_orderkey // 2000
        |                   ELSE day // 30 END AS file_id, lay, day
        |       FROM li CROSS JOIN (SELECT unnest(['arrival','clustered']) AS lay) l),
        | z AS (SELECT lay, file_id, COUNT(*) AS n_rows, MIN(day) AS zmin,
        |              MAX(day) AS zmax,
        |              SUM(CASE WHEN day BETWEEN (SELECT d1 FROM dd)
        |                        AND (SELECT d2 FROM dd) THEN 1 ELSE 0 END) AS n_match
        |       FROM f GROUP BY 1, 2),
        | s AS (SELECT lay, n_rows, n_match,
        |              zmax < (SELECT d1 FROM dd) OR zmin > (SELECT d2 FROM dd) AS sk
        |       FROM z)
        | SELECT lay AS layout, COUNT(*) AS n_files,
        |        CAST(SUM(CASE WHEN sk THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
        |        CAST(SUM(CASE WHEN NOT sk THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |        CAST(SUM(n_match) AS BIGINT) AS rows_matched
        | FROM s GROUP BY 1 ORDER BY layout""".stripMargin),

    // ---- bitemporal point-in-time (valid time × transaction time) -------
    // the two-axis read u2/u3 cannot answer: "what did we BELIEVE at
    // system time T about the value valid at V?" — the audit/backfill
    // primitive (retroactive corrections must not rewrite what past
    // reports saw). Records carry (valid_from, tx_from); the read is
    // belief-filter (tx ≤ T) → per-valid-period latest belief → backward
    // as-of on valid_from ≤ V, here as ONE window pick per (key, probe):
    // row_number over (valid_from DESC, tx_from DESC). Three probes per
    // key exercise the distinct answers: before the correction was known,
    // after it (same valid time, different belief), and current. Scale:
    // per-key record counts are version-bounded; one join on key + one
    // key-partitioned window — no interval join.
    ("u9_bitemporal_pit",
      (s, d) => {
        val base = t(s, d, "customer").select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
        val recs = base
          .select(col("k"), lit(0L).as("vf"), lit(0L).as("tx"), col("cents"))
          .unionByName(base.filter(col("k") % 3 === 0) // forward change @ tx 1
            .select(col("k"), lit(1L).as("vf"), lit(1L).as("tx"),
              (col("cents") + 10000L).as("cents")))
          .unionByName(base.filter(col("k") % 4 === 0) // retroactive fix @ tx 2
            .select(col("k"), lit(0L).as("vf"), lit(2L).as("tx"),
              (col("cents") + 55L).as("cents")))
        val probes = s.range(1).select(explode(array(
            struct(lit(1L).as("pid"), lit(1L).as("t"), lit(0L).as("v")),
            struct(lit(2L).as("pid"), lit(2L).as("t"), lit(0L).as("v")),
            struct(lit(3L).as("pid"), lit(2L).as("t"), lit(9L).as("v")))).as("p"))
          .select(col("p.pid"), col("p.t"), col("p.v"))
        val w = Window.partitionBy("k", "pid")
          .orderBy(col("vf").desc, col("tx").desc)
        recs.join(broadcast(probes),
            col("tx") <= col("t") && col("vf") <= col("v"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("k"), col("pid"), col("cents").as("cents_at"))
          .orderBy("k", "pid")
      },
      """WITH base AS (SELECT c_custkey AS k,
        |                     CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |              FROM customer),
        | recs AS (SELECT k, 0 AS vf, 0 AS tx, cents FROM base
        |          UNION ALL SELECT k, 1, 1, cents + 10000 FROM base WHERE k % 3 = 0
        |          UNION ALL SELECT k, 0, 2, cents + 55 FROM base WHERE k % 4 = 0),
        | probes AS (SELECT * FROM (VALUES (1, 1, 0), (2, 2, 0), (3, 2, 9))
        |            p(pid, t, v)),
        | j AS (SELECT r.k, p.pid, r.cents,
        |              ROW_NUMBER() OVER (PARTITION BY r.k, p.pid
        |                ORDER BY r.vf DESC, r.tx DESC) AS rn
        |       FROM recs r JOIN probes p ON r.tx <= p.t AND r.vf <= p.v)
        | SELECT k, CAST(pid AS BIGINT) AS pid, cents AS cents_at
        | FROM j WHERE rn = 1 ORDER BY k, pid""".stripMargin),

    // ---- Z-order (Morton) clustering key --------------------------------
    // bit-interleaved (l_partkey, l_suppkey) — the multi-dimensional layout
    // key under which files prune on EITHER dimension (ZOrder.layoutByZ is
    // the range-partition writer; spec'd separately since file layout is
    // not SQL-expressible). Oracle SQL is GENERATED from the same bit loop
    // as the Spark expression, so the two cannot drift. Summed per partkey
    // so the checked surface covers every row's key exactly.
    ("z_order_interleave",
      (s, d) => t(s, d, "lineitem")
        .withColumn("z_value",
          graft.ops.ZOrder.zValue(col("l_partkey"), col("l_suppkey"), bits = 21))
        .groupBy(col("l_partkey"))
        .agg(sum(col("z_value")).as("z_sum"), count(lit(1)).as("n"))
        .orderBy("l_partkey"),
      s"""SELECT l_partkey,
         |        CAST(SUM(${graft.ops.ZOrder.zValueSql}) AS BIGINT) AS z_sum,
         |        COUNT(*) AS n
         | FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin),

    // ---- A4: edge-label dictionary (distinct raw labels + normalization) --
    // the S7 sink's content derivation, run through the REAL
    // GraphOps.edgeLabels: a raw-label pool drawn from document first words
    // (free-text branch) plus the six reference special cases injected by
    // doc_id (special-case branch), so both arms of normalizeEdgeLabel
    // appear in the checked output (OntologyGraphBuilder.java:352,366,405).
    ("a4_edge_label_dict",
      (s, d) => {
        val specials = Normalize.LabelSpecialCases.keys.toSeq.sorted
        val edges = t(s, d, "documents").select(array(
            element_at(split(col("text"), " "), 1),
            element_at(array(specials.map(lit): _*),
              (col("doc_id") % specials.size).cast("int") + 1)
          ).as("raw_labels"))
        graft.ops.GraphOps.edgeLabels(edges).orderBy("raw_label")
      },
      """WITH raws AS (
        |   SELECT split_part(text, ' ', 1) AS raw_label FROM documents
        |   UNION ALL
        |   SELECT (['crossSpeciesExactMatch','disjointWith','equivalentClass',
        |            'exactMatch','seeAlso','subClassOf'])[CAST(doc_id % 6 AS INT) + 1]
        |   FROM documents),
        | dict AS (SELECT DISTINCT raw_label FROM raws)
        | SELECT raw_label,
        |        CASE raw_label
        |          WHEN 'subClassOf' THEN 'SUB_CLASS_OF'
        |          WHEN 'disjointWith' THEN 'DISJOINT_WITH'
        |          WHEN 'crossSpeciesExactMatch' THEN 'CROSS_SPECIES_EXACT_MATCH'
        |          WHEN 'exactMatch' THEN 'EXACT_MATCH'
        |          WHEN 'equivalentClass' THEN 'EQUIVALENT_CLASS'
        |          WHEN 'seeAlso' THEN 'SEE_ALSO'
        |          ELSE upper(replace(raw_label, ' ', '_')) END AS normalized
        | FROM dict ORDER BY raw_label""".stripMargin),

    // ---- A8: per-file root namespace with fallback ----------------------
    // the REAL TripleOps.rootNamespaces on synthesized per-source 'files':
    // sources whose last digit is even carry an ontology-header root (the
    // IAO_0000700 path, prefix before '_'); odd sources have no header and
    // exercise the min-class-URI fallback (OntologyTripleParser.java:130-150).
    ("a8_root_ns",
      (s, d) => {
        val docs = t(s, d, "documents")
        val raw = docs.select(
          col("source").as("srcFile"),
          lit(graft.io.OwlReader.RdfType).as("predicate"),
          lit(graft.io.OwlReader.OwlClass).as("objectStr"),
          concat(lit("http://purl.obolibrary.org/obo/"), upper(col("source")), lit("_"),
            lpad(col("doc_id").cast("string"), 7, "0")).as("subject"))
        val meta = docs.select(col("source")).distinct().select(
          col("source").as("srcFile"),
          when(substring(col("source"), -1, 1).cast("int") % 2 === 0,
            concat(lit("META"), upper(col("source")), lit("_0000001"))).as("root"))
        graft.ops.TripleOps.rootNamespaces(raw, meta).orderBy("src_file")
      },
      """WITH srcs AS (SELECT DISTINCT source FROM documents),
        | meta AS (SELECT source AS src_file,
        |          CASE WHEN CAST(substr(source, length(source), 1) AS INT) % 2 = 0
        |               THEN 'META' || upper(source) || '_0000001' END AS root
        |          FROM srcs),
        | raw AS (SELECT source AS src_file,
        |         'http://purl.obolibrary.org/obo/' || upper(source) || '_' ||
        |           lpad(CAST(doc_id AS VARCHAR), 7, '0') AS subject
        |         FROM documents),
        | fc AS (SELECT src_file, min(subject) AS first_class FROM raw GROUP BY 1)
        | SELECT m.src_file,
        |        CASE WHEN m.root IS NULL THEN split_part(fc.first_class, '_', 1)
        |             ELSE split_part(m.root, '_', 1) END AS root_ns
        | FROM meta m LEFT JOIN fc USING (src_file) ORDER BY src_file""".stripMargin),

    // ---- N9: filename stem/suffix from the LAST dot ---------------------
    // UriOps.fileStemCol/fileSuffixCol over synthesized filenames covering
    // single-extension, double-extension (last-dot semantics: 'a.tar.gz' →
    // stem 'a.tar', suffix '.gz') and no-dot ('' suffix) cases
    // (OntologyDownloader.java:93-95).
    ("n9_file_stem",
      (s, d) => t(s, d, "documents")
        .select(concat(col("source"),
          element_at(array(lit(".owl"), lit(".tar.gz"), lit("")),
            (col("doc_id") % 3).cast("int") + 1)).as("fname"))
        .distinct()
        .select(col("fname"),
          graft.ops.UriOps.fileStemCol(col("fname")).as("stem"),
          graft.ops.UriOps.fileSuffixCol(col("fname")).as("suffix"))
        .orderBy("fname"),
      """WITH f AS (SELECT DISTINCT
        |             source || (['.owl', '.tar.gz', ''])[CAST(doc_id % 3 AS INT) + 1] AS fname
        |           FROM documents)
        | SELECT fname,
        |        CASE WHEN contains(fname, '.')
        |             THEN regexp_replace(fname, '\.[^.]*$', '') ELSE fname END AS stem,
        |        regexp_extract(fname, '(\.[^.]*)$', 1) AS suffix
        | FROM f ORDER BY fname""".stripMargin),

    // ---- F4: named-object filter (blank-node exclusion) -----------------
    // every 4th statement's object is an anonymous node ('_:bN' — the
    // parser's blank-node convention); F4 keeps only named objects
    // (OntologyTripleParser.java:80 testObject branch 1).
    ("f4_named_object_filter",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, concat(lit("_:b"), col("doc_id")))
            .otherwise(concat(lit("http://purl.obolibrary.org/obo/T_"), col("doc_id")))
            .as("object"))
        .filter(!col("object").startsWith("_:"))
        .orderBy("doc_id"),
      """WITH s AS (SELECT doc_id,
        |             CASE WHEN doc_id % 4 = 0 THEN '_:b' || doc_id
        |                  ELSE 'http://purl.obolibrary.org/obo/T_' || doc_id END AS object
        |           FROM documents)
        | SELECT doc_id, object FROM s
        | WHERE substr(object, 1, 2) <> '_:' ORDER BY doc_id""".stripMargin),

    // ---- F7 + A1: file exclusion inside cross-file triple dedup ---------
    // the REAL TripleOps.uniqueTriples on a synthesized collected-triple
    // frame: every 5th statement comes from 'ro.owl' (label-dictionary-only,
    // excluded — OntologyTripleParser.java:164), the rest collide on
    // (subject, predicate, object) across files and dedup keeps the
    // earliest (src_file, stmt_idx) provenance (SURVEY §7.5).
    ("f7_file_exclusion",
      (s, d) => {
        val collected = t(s, d, "documents").select(
          when(col("doc_id") % 5 === 0, lit("ro.owl"))
            .otherwise(concat(col("source"), lit(".owl"))).as("src_file"),
          col("doc_id").as("stmt_idx"),
          concat(lit("s"), col("doc_id") % 50).as("subject"),
          lit("p").as("predicate"),
          concat(lit("o"), col("doc_id") % 20).as("object"),
          lit(true).as("obj_is_uri"), lit(false).as("obj_is_literal"),
          lit(false).as("obj_is_blank"), lit(null).cast("string").as("obj_lexical"),
          upper(col("source")).as("root_ns"))
        graft.ops.TripleOps.uniqueTriples(collected)
          .select("subject", "predicate", "object", "src_file", "stmt_idx", "root_ns")
          .orderBy("subject", "predicate", "object")
      },
      """WITH c AS (SELECT
        |             CASE WHEN doc_id % 5 = 0 THEN 'ro.owl' ELSE source || '.owl' END AS src_file,
        |             doc_id AS stmt_idx,
        |             's' || (doc_id % 50) AS subject, 'p' AS predicate,
        |             'o' || (doc_id % 20) AS object,
        |             upper(source) AS root_ns
        |           FROM documents),
        | kept AS (SELECT * FROM c WHERE src_file <> 'ro.owl'),
        | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY subject, predicate, object
        |                                    ORDER BY src_file, stmt_idx) AS rn
        |       FROM kept)
        | SELECT subject, predicate, object, src_file, stmt_idx, root_ns
        | FROM r WHERE rn = 1 ORDER BY subject, predicate, object""".stripMargin),

    // ---- 2-D skyline (Pareto frontier) ----------------------------------
    // orders that are non-dominated on (cheapest price, freshest date):
    // the quadratic NOT-EXISTS collapses to prefix maxima over distinct
    // price groups — Pareto.skyline2d's two-level bucketed discipline (one
    // x-group shuffle, a ≤64-row guarded summary window, one semi-join
    // back); the oracle states the same frontier via the window identity.
    ("u6_skyline",
      (s, d) => {
        val o = t(s, d, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
          .withColumn("day", expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
        graft.ops.Pareto.skyline2d(o, "cents", "day")
          .select("o_orderkey", "cents", "day")
          .orderBy("o_orderkey")
      },
      """WITH t AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |                  epoch_us(o_orderdate) // 86400000000 AS day FROM orders),
        | g AS (SELECT cents, max(day) AS gy FROM t GROUP BY 1),
        | m AS (SELECT cents, gy, max(gy) OVER (ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1 FROM g)
        | SELECT t.o_orderkey, t.cents, t.day FROM t
        |  JOIN m ON t.cents = m.cents AND t.day = m.gy
        | WHERE m.m1 IS NULL OR m.gy > m.m1 ORDER BY t.o_orderkey""".stripMargin),

    // ---- order-independent table fingerprint (reconciliation checksum) --
    // the "did the 100-TB copy land intact" primitive: per group a COUNT,
    // a bit_xor of 60-bit row fingerprints (md5 of the canonical row
    // string) and a mod-p fingerprint sum — all commutative/map-side
    // combinable, so the whole check is one partial-aggregated shuffle on
    // the tiny group key with NO sort and NO row movement; two tables
    // reconcile by comparing k summary rows. xor catches any single-row
    // difference; the mod-p sum catches the xor-blind case (an even count
    // of identical corrupt rows). 15 hex chars = 60 bits, so the decimal
    // mod-sum is exact in both engines.
    ("s20_table_checksum",
      (s, d) => {
        val fp = conv(substring(md5(concat_ws("|",
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_linestatus"), col("l_quantity").cast("long"),
          unix_micros(col("l_shipdate").cast("timestamp")))), 1, 15), 16, 10)
          .cast("long")
        t(s, d, "lineitem")
          .withColumn("fp", fp)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(fp)").as("xor_sig"),
            (sum((col("fp") % 1000000007L).cast("decimal(38,0)")) % 1000000007L)
              .cast("long").as("sum_sig"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      """WITH h AS (SELECT l_returnflag, l_linestatus,
        |             CAST('0x' || substr(md5(
        |               l_orderkey || '|' || l_linenumber || '|' || l_returnflag || '|' ||
        |               l_linestatus || '|' || CAST(l_quantity AS BIGINT) || '|' ||
        |               epoch_us(l_shipdate)), 1, 15) AS BIGINT) AS fp
        |           FROM lineitem)
        | SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |        CAST(bit_xor(fp) AS BIGINT) AS xor_sig,
        |        CAST(SUM(fp % 1000000007) % 1000000007 AS BIGINT) AS sum_sig
        | FROM h GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- compaction plan (small-file bin packing) -----------------------
    // the "rewrite 10M small files into target-sized bins" planner: each
    // file's bin = exclusive-prefix-sum of sizes in file order, integer-
    // divided by the bin capacity — sequential packing without a
    // data-sized global window (PrefixOps.exclusivePrefixSum: value-range
    // buckets, local prefix sums, one ≤64-row guarded summary window).
    // File inventory synthesized from lineitem (one file per 50-order
    // range); at 100 TB the inventory IS metadata-sized relative to data,
    // but still millions of rows — exactly why the prefix sum must not
    // single-partition.
    ("s21_compaction_plan",
      (s, d) => {
        val inv = t(s, d, "lineitem")
          .groupBy(expr("l_orderkey div 50").as("file_id"))
          .agg(count(lit(1)).as("size_rows"))
        graft.ops.PrefixOps.exclusivePrefixSum(inv, "file_id", "size_rows", "start_off")
          .withColumn("bin", expr("start_off div 5000"))
          .select("file_id", "size_rows", "start_off", "bin")
          .orderBy("file_id")
      },
      """WITH inv AS (SELECT l_orderkey // 50 AS file_id, count(*) AS size_rows
        |             FROM lineitem GROUP BY 1),
        | p AS (SELECT file_id, size_rows,
        |          CAST(COALESCE(SUM(size_rows) OVER (ORDER BY file_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |       FROM inv)
        | SELECT file_id, size_rows, start_off,
        |        CAST(start_off // 5000 AS BIGINT) AS bin
        | FROM p ORDER BY file_id""".stripMargin),

    // ---- compaction APPLY (execute the s21 plan, prove parity) -----------
    // closes the s21 → s20 loop: actually rewrite a small-file layout into
    // the planned bins and PROVE the rewrite moved every row exactly once.
    // A real small-file table is written (one parquet file per fid dir),
    // binned by the same distributed prefix sum s21 plans with, rewritten
    // one-task-per-bin, and the entry requires (a) the file count dropped
    // and (b) the order-invariant table fingerprint (s20's xxhash64
    // count/xor/mod-p triple) is IDENTICAL before and after — the
    // guarantee a 100-TB OPTIMIZE job must give before swapping manifests.
    // The oracle replays the bin assignment and per-bin row totals.
    ("s33_compaction_apply",
      (s, d) => {
        import org.apache.spark.sql.functions.{input_file_name => ifn}
        val base = graft.ops.Scratch.dir("graft-compact").toString
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
        // data-relative granularity (two 1-value driver scalars, replayed
        // by the oracle): ~30 small files, bins of ~5 files each
        val span = li.agg(max(col("l_orderkey"))).head().getLong(0) / 30L + 1L
        li.withColumn("fid", expr(s"l_orderkey div $span"))
          .repartition(col("fid"))
          .write.partitionBy("fid").parquet(s"$base/small")
        val small = s.read.parquet(s"$base/small")
        val nBefore = small.select(ifn()).distinct().count()
        val inv = small.groupBy("fid").agg(count(lit(1)).as("size_rows"))
        val Array(tr, nf) = inv.agg(sum(col("size_rows")), count(lit(1)))
          .head().toSeq.map(_.toString.toLong).toArray
        val cap = 5L * (tr / nf)
        val plan = graft.ops.PrefixOps
          .exclusivePrefixSum(inv, "fid", "size_rows", "start_off")
          .withColumn("bin", expr(s"start_off div $cap"))
          .select("fid", "bin")
        small.join(broadcast(plan), Seq("fid"))
          .repartition(col("bin"))
          .write.partitionBy("bin").parquet(s"$base/compacted")
        val after = s.read.parquet(s"$base/compacted")
        val nAfter = after.select(ifn()).distinct().count()
        def fp(df: DataFrame): String = graft.llm.Governance.tableFingerprint(
            df, Nil, xxhash64(col("l_orderkey"), col("qty")))
          .collect()(0).toString // one (n, xor, mod-p sum) summary row
        val pre = fp(small.select(col("l_orderkey"), col("qty")))
        val post = fp(after.select(col("l_orderkey"), col("qty")))
        require(pre == post, s"s33_compaction_apply: fingerprint drift — " +
          s"the rewrite lost or duplicated rows ($pre vs $post)")
        require(nAfter < nBefore, s"s33_compaction_apply: no file-count " +
          s"reduction ($nBefore -> $nAfter) — binning degenerated")
        // partition-dir read-back infers bin as int32 — pin the declared
        // long type so the schema matches the oracle under strict compare
        after.groupBy(col("bin").cast("long").as("bin"))
          .agg(count(lit(1)).as("n_rows"), countDistinct(col("fid")).as("n_files_src"))
          .orderBy("bin")
      },
      """WITH mx AS (SELECT MAX(l_orderkey) // 30 + 1 AS span FROM lineitem),
        | inv AS (SELECT l_orderkey // span AS fid, COUNT(*) AS size_rows
        |         FROM lineitem, mx GROUP BY 1),
        | tot AS (SELECT 5 * (SUM(size_rows) // COUNT(*)) AS cap FROM inv),
        | p AS (SELECT fid, size_rows,
        |          CAST(COALESCE(SUM(size_rows) OVER (ORDER BY fid
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |       FROM inv)
        | SELECT CAST(start_off // cap AS BIGINT) AS bin,
        |        CAST(SUM(size_rows) AS BIGINT) AS n_rows,
        |        COUNT(*) AS n_files_src
        | FROM p, tot GROUP BY 1 ORDER BY bin""".stripMargin),

    // ---- bloom-index file skipping (point lookups on unsorted columns) --
    // the third data-skipping tier (s26 = intra-file zone maps, s29 =
    // partition directories): zone maps are USELESS for equality on a
    // column uncorrelated with the file layout (custkey scatters across
    // every orderkey-ranged file), but a per-file bloom index answers
    // "can key K be in this file?" from index bits alone. Files whose
    // bloom misses any probe position are never read (the driver prunes
    // the file list — manifest-level skipping, ≤ nFiles booleans). A
    // false NEGATIVE would zero a file's matches and fail the hash; false
    // positives just read a file that contributes nothing. The oracle
    // replays fid assignment, every bloom position, the keep verdicts,
    // and the per-file match counts.
    ("s34_bloom_file_skip",
      (s, d) => {
        val probeKey = 7L
        val mBits = 1 << 18
        val base = graft.ops.Scratch.dir("graft-bloomskip").toString
        val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val span = o.agg(max(col("o_orderkey"))).head().getLong(0) / 30L + 1L
        o.withColumn("fid", expr(s"o_orderkey div $span"))
          .repartition(col("fid"))
          .write.partitionBy("fid").parquet(s"$base/files")
        val files = s.read.parquet(s"$base/files")
        def pos(i: Int, key: org.apache.spark.sql.Column) = conv(substring(md5(
            concat(lit(s"$i:"), key.cast("string"))), 1, 12), 16, 10)
          .cast("long") % mBits
        val fileBits = files.select(col("fid"), explode(array(
            (0 until 4).map(i => pos(i, col("o_custkey"))): _*)).as("pos"))
          .distinct()
        val probePos = (0 until 4).map(i => pos(i, lit(probeKey)))
        val keptFids = fileBits
          .join(broadcast(s.range(1).select(explode(array(probePos: _*)).as("pos"))), Seq("pos"))
          .groupBy("fid").agg(countDistinct(col("pos")).as("nhit"))
          .filter(col("nhit") === 4)
          .select(col("fid").cast("long")).collect().map(_.getLong(0)).sorted // ≤ nFiles ids
        val allFids = files.select(col("fid").cast("long")).distinct()
          .collect().map(_.getLong(0)).sorted
        require(keptFids.length < allFids.length,
          s"s34_bloom_file_skip: bloom kept every file " +
            s"(${keptFids.length}/${allFids.length}) — no skipping demonstrated")
        // manifest-level prune: ONLY the kept fid directories are read, and
        // the pruned scan must find every match the full scan finds — a
        // bloom false negative fails HERE, not as a silent missing row
        val matched = s.read.parquet(keptFids.toIndexedSeq.map(f => s"$base/files/fid=$f"): _*)
          .filter(col("o_custkey") === probeKey).count()
        val full = files.filter(col("o_custkey") === probeKey).count()
        require(matched == full, s"s34_bloom_file_skip: pruned scan found " +
          s"$matched of $full matches — the bloom produced a false negative")
        val perKept = files.filter(col("fid").isin(keptFids.toIndexedSeq: _*))
          .groupBy("fid")
          .agg(sum(when(col("o_custkey") === probeKey, 1L).otherwise(0L)).as("n_matches"))
        files.select("fid").distinct()
          .join(perKept, Seq("fid"), "left")
          .select(col("fid").cast("long").as("fid"),
            col("n_matches").isNotNull.as("kept"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"))
          .orderBy("fid")
      },
      s"""WITH mx AS (SELECT MAX(o_orderkey) // 30 + 1 AS span FROM orders),
        | f AS (SELECT o_orderkey // span AS fid, o_custkey FROM orders, mx),
        | hs AS (SELECT unnest(generate_series(0, 3)) AS i),
        | probe AS (SELECT i, CAST('0x' || substr(md5(i || ':' || CAST(7 AS VARCHAR)), 1, 12) AS BIGINT) % 262144 AS pos
        |           FROM hs),
        | fb AS (SELECT DISTINCT fid, i,
        |          CAST('0x' || substr(md5(i || ':' || CAST(o_custkey AS VARCHAR)), 1, 12) AS BIGINT) % 262144 AS pos
        |        FROM f, hs),
        | hit AS (SELECT fid, COUNT(DISTINCT p.i) AS nhit
        |         FROM probe p JOIN fb ON fb.i = p.i AND fb.pos = p.pos GROUP BY fid),
        | allf AS (SELECT DISTINCT fid FROM f)
        | SELECT allf.fid, COALESCE(nhit, 0) = 4 AS kept,
        |        CASE WHEN COALESCE(nhit, 0) = 4
        |             THEN (SELECT COUNT(*) FROM f WHERE f.fid = allf.fid AND o_custkey = 7)
        |             ELSE 0 END AS n_matches
        | FROM allf LEFT JOIN hit USING (fid)
        | ORDER BY fid""".stripMargin),

    // ---- data-quality expectation suite (one-pass violations report) ----
    // the Great-Expectations shape: not-null, range, domain, uniqueness,
    // and FK containment evaluated against a deterministically-corrupted
    // orders stream (nulls every 97th key, broken FK every 83rd, bad
    // status every 89th, duplicated rows every 500th) so every check has
    // real violations to count. One aggregate pass for the row-local
    // checks + count-distinct; FK is one broadcast anti-join; the report
    // is 5 rows regardless of input size.
    ("s22_expectations",
      (s, d) => {
        val o = t(s, d, "orders").select(
          col("o_orderkey"),
          when(col("o_orderkey") % 97 === 0, lit(null).cast("long"))
            .when(col("o_orderkey") % 83 === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("custkey"),
          when(col("o_orderkey") % 89 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("status"),
          col("o_totalprice"))
        val checked = o.unionByName(o.filter(col("o_orderkey") % 500 === 0))
        val agg = checked.agg(
          count(lit(1)).as("n"),
          sum(when(col("custkey").isNull, 1L).otherwise(0L)).as("v_null"),
          sum(when(col("o_totalprice") < 1000 || col("o_totalprice") > 300000, 1L)
            .otherwise(0L)).as("v_range"),
          sum(when(!col("status").isin("O", "F", "P"), 1L).otherwise(0L)).as("v_domain"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_unique"))
        val fk = checked.filter(col("custkey").isNotNull)
          .join(t(s, d, "customer").select(col("c_custkey").as("custkey")),
            Seq("custkey"), "left_anti")
          .agg(count(lit(1)).as("v_fk"))
        agg.crossJoin(fk)
          .selectExpr(
            """stack(5,
              | 'not_null_custkey', v_null,
              | 'range_totalprice', v_range,
              | 'domain_orderstatus', v_domain,
              | 'unique_orderkey', v_unique,
              | 'fk_custkey', v_fk) AS (check_name, n_violations)""".stripMargin,
            "n AS n_rows")
          .orderBy("check_name")
      },
      """WITH o AS (SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |            WHEN o_orderkey % 83 = 0 THEN o_custkey + 1000000
        |            ELSE o_custkey END AS custkey,
        |       CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS status,
        |       o_totalprice FROM orders),
        | checked AS (SELECT * FROM o
        |             UNION ALL SELECT * FROM o WHERE o_orderkey % 500 = 0),
        | a AS (SELECT count(*) AS n,
        |       SUM(CASE WHEN custkey IS NULL THEN 1 ELSE 0 END) AS v_null,
        |       SUM(CASE WHEN o_totalprice < 1000 OR o_totalprice > 300000 THEN 1 ELSE 0 END) AS v_range,
        |       SUM(CASE WHEN status NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS v_domain,
        |       count(*) - count(DISTINCT o_orderkey) AS v_unique FROM checked),
        | fk AS (SELECT count(*) AS v_fk FROM checked WHERE custkey IS NOT NULL
        |        AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = checked.custkey))
        | SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
        |        CAST(n AS BIGINT) AS n_rows FROM (
        |   SELECT 'not_null_custkey' AS check_name, v_null AS n_violations, n FROM a
        |   UNION ALL SELECT 'range_totalprice', v_range, n FROM a
        |   UNION ALL SELECT 'domain_orderstatus', v_domain, n FROM a
        |   UNION ALL SELECT 'unique_orderkey', v_unique, n FROM a
        |   UNION ALL SELECT 'fk_custkey', fk.v_fk, a.n FROM fk, a)
        | ORDER BY check_name""".stripMargin),

    // ---- GROUPING SETS with grouping_id ---------------------------------
    // the arbitrary-grouping-combination aggregate completing the
    // rollup/cube family: per-status totals, per-priority totals, and the
    // grand total in ONE pass (Spark expands to a single Expand +
    // aggregate — one shuffle, not three queries); grouping_id
    // disambiguates the NULL-keyed summary rows exactly as DuckDB's
    // GROUPING() bitmask does.
    ("u8_grouping_sets",
      (s, d) => t(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("total"))
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |       count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        | FROM orders
        | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        | ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ---- schema-evolution merge read ------------------------------------
    // the long-lived-dataset reality: files written before a column existed
    // must read alongside files written after. Two parquet generations are
    // written (v1: key+n_chars; v2 adds lang), read back through Spark's
    // mergeSchema, and the merged frame must equal the SQL union with
    // NULL-filled missing columns — column-level evolution without rewrite.
    ("s23_schema_evolution",
      (s, d) => {
        val docs = t(s, d, "documents")
        val base = graft.ops.Scratch.dir("graft-schema-evo")
        try {
          docs.filter(col("doc_id") < 250)
            .select(col("doc_id"), col("n_chars"))
            .write.parquet(s"$base/t/v1")
          docs.filter(col("doc_id") >= 250)
            .select(col("doc_id"), col("n_chars"), col("lang"))
            .write.parquet(s"$base/t/v2")
          s.read.option("mergeSchema", "true")
            .option("recursiveFileLookup", "true").parquet(s"$base/t")
            .select("doc_id", "n_chars", "lang")
            .orderBy("doc_id")
            .localCheckpoint(true)
        } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      },
      """SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS lang
        | FROM documents WHERE doc_id < 250
        | UNION ALL
        | SELECT doc_id, n_chars, lang FROM documents WHERE doc_id >= 250
        | ORDER BY doc_id""".stripMargin),

    // ---- readability scoring (Flesch-Kincaid grade, integerized) --------
    // the text-quality feature with the classic formula: words, sentences,
    // and syllable approximation (vowel-group count — per-word groups sum
    // to the whole-text count since groups never span separators) are all
    // single-pass regexp counts; the grade is exact integer micro-units
    // (390000·W div S + 11800000·Syl div W − 15590000), identical div
    // semantics both engines, no float formula drift.
    ("t_readability",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          greatest(size(expr("regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9]+', 0)")),
            lit(1)).cast("long").as("w"),
          greatest(size(expr("regexp_extract_all(coalesce(text,''), '[.!?]+', 0)")),
            lit(1)).cast("long").as("s"),
          greatest(size(expr("regexp_extract_all(lower(coalesce(text,'')), '[aeiouy]+', 0)")),
            lit(1)).cast("long").as("syl"))
        .withColumn("fk_micro",
          expr("390000 * w div s + 11800000 * syl div w - 15590000"))
        .select("doc_id", "w", "s", "syl", "fk_micro")
        .orderBy("doc_id"),
      """WITH d AS (SELECT doc_id,
        |    GREATEST(len(regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9]+')), 1) AS w,
        |    GREATEST(len(regexp_extract_all(coalesce(text,''), '[.!?]+')), 1) AS s,
        |    GREATEST(len(regexp_extract_all(lower(coalesce(text,'')), '[aeiouy]+')), 1) AS syl
        |  FROM documents)
        | SELECT doc_id, w, s, syl,
        |   CAST(390000 * w // s + 11800000 * syl // w - 15590000 AS BIGINT) AS fk_micro
        | FROM d ORDER BY doc_id""".stripMargin),

    // ---- file-provenance metadata (row-level lineage) -------------------
    // Spark's hidden `_metadata` column surfaces the physical source of
    // every row (file name + row index within the file) with ZERO extra
    // IO — the row-level lineage primitive auditing and incremental
    // re-processing build on. The report binds row_index to doc_id via an
    // order checksum, asserting physical-layout parity between engines
    // (verified: the driver's writer lays doc_id in file order at every
    // SF, so the oracle derives row_index from doc_id).
    ("s24_file_metadata",
      (s, d) => {
        val perFile = t(s, d, "documents")
          .select(col("doc_id"), col("_metadata.file_name").as("file_name"),
            col("_metadata.row_index").as("row_index"))
          .groupBy("file_name")
          .agg(count(lit(1)).as("n_rows"),
            min(col("row_index")).as("first_idx"), max(col("row_index")).as("last_idx"),
            sum(col("row_index") * (col("doc_id") + 1)).as("order_sig"),
            // layout-parity assertions: the oracle hardcodes ONE physical
            // file and derives row_index from doc_id. If the testdata
            // writer's file count or row order ever drifts, fail HERE with
            // an attributable message instead of an opaque hash mismatch.
            // The file-count side is a broadcast 1-row aggregate, not an
            // unpartitioned window — the grouped frame is file-count-sized
            // (millions of rows at 100 TB), too big to single-partition.
            max(when(col("row_index") =!= col("doc_id"), lit(1)).otherwise(lit(0)))
              .as("__idx_drift"))
        perFile
          .crossJoin(broadcast(perFile.agg(count(lit(1)).as("__n_files"))))
          .select(col("file_name"),
            graft.ops.Bounded.guard(col("n_rows"),
              col("__n_files") === 1 && col("__idx_drift") === 0,
              "s24_file_metadata: documents layout drift — oracle assumes one " +
                "physical file with row_index == doc_id; regenerate the oracle")
              .as("n_rows"),
            col("first_idx"), col("last_idx"), col("order_sig"))
          .orderBy("file_name")
      },
      """SELECT 'documents.parquet' AS file_name, count(*) AS n_rows,
        |        CAST(min(doc_id) AS BIGINT) AS first_idx,
        |        CAST(max(doc_id) AS BIGINT) AS last_idx,
        |        CAST(SUM(doc_id * (doc_id + 1)) AS BIGINT) AS order_sig
        | FROM documents""".stripMargin),

    // ---- engine-native checksum reconciliation (xxhash64 twin of s20) ---
    // s20's md5 fingerprint buys cross-engine parity (the DuckDB oracle
    // recomputes it bit-for-bit) at ~13 s/6M rows of pure digest cost;
    // real same-engine 100-TB reconciliation wants the codegen'd
    // xxhash64 kernel instead (~5x cheaper — PLANS.md round-10 probes).
    // xxhash64 values aren't reproducible outside Spark, so the entry
    // verifies the PROPERTIES a reconciliation run relies on, which ARE
    // oracle-expressible: (1) the fingerprint is order/partitioning-
    // invariant — a repartitioned+resorted copy reconciles equal on every
    // group (reorder_match all TRUE); (2) a single corrupted row is
    // detected in exactly the group(s) that contain it — corrupt_match is
    // FALSE precisely where DuckDB counts a touched row. Three fingerprint
    // passes, each one map-side partial-agg shuffle of 6 summary rows; the
    // final 3-way join is summary-sized.
    ("s25_checksum_reconcile",
      (s, d) => {
        val keys = Seq("l_returnflag", "l_linestatus")
        val fpCols: Seq[org.apache.spark.sql.Column] = Seq(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate"))
        val li = t(s, d, "lineitem")
        val a = graft.llm.Governance.tableFingerprint(li, keys, xxhash64(fpCols: _*))
        // the "other side": same rows, different physical order — must
        // reconcile equal by commutativity alone
        val b = graft.llm.Governance
          .tableFingerprint(li.repartition(7, col("l_partkey"))
            .sortWithinPartitions("l_suppkey"), keys, xxhash64(fpCols: _*))
          .withColumnsRenamed(Map("n" -> "bn", "xor_sig" -> "bx", "sum_sig" -> "bs"))
        // a copy with ONE field of the rows at (orderkey%1000==1, line 1)
        // bumped — the minimal corruption a checksum must catch
        val c = graft.llm.Governance.tableFingerprint(
            li.withColumn("l_quantity",
              when(col("l_orderkey") % 1000 === 1 && col("l_linenumber") === 1,
                col("l_quantity") + 1).otherwise(col("l_quantity"))),
            keys, xxhash64(fpCols: _*))
          .withColumnsRenamed(Map("n" -> "cn", "xor_sig" -> "cx", "sum_sig" -> "cs"))
        a.join(b, keys).join(c, keys)
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            (col("bn") === col("n") && col("bx") === col("xor_sig") &&
              col("bs") === col("sum_sig")).as("reorder_match"),
            (col("cn") === col("n") && col("cx") === col("xor_sig") &&
              col("cs") === col("sum_sig")).as("corrupt_match"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       TRUE AS reorder_match,
        |       (SUM(CASE WHEN l_orderkey % 1000 = 1 AND l_linenumber = 1
        |                 THEN 1 ELSE 0 END) = 0) AS corrupt_match
        | FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- leave-one-out target encoding ----------------------------------
    // the categorical-feature encoder that never leaks a row's own target:
    // per source, loo = (Σ n_chars − own) / (n − 1) in exact integer
    // micro-units — ONE source-partitioned window pass (sum + count over
    // the same partition, no join back); singleton categories encode NULL
    // instead of a fabricated prior.
    ("t_target_encode",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
        t(s, d, "documents")
          .withColumn("s_sum", sum(col("n_chars")).over(w))
          .withColumn("s_n", count(lit(1)).over(w))
          .withColumn("loo_micro",
            when(col("s_n") > 1,
              expr("(s_sum - n_chars) * 1000000 div (s_n - 1)")))
          .select("doc_id", "source", "loo_micro")
          .orderBy("doc_id")
      },
      """WITH s AS (SELECT doc_id, source, n_chars,
        |              SUM(n_chars) OVER (PARTITION BY source) AS s_sum,
        |              COUNT(*) OVER (PARTITION BY source) AS s_n FROM documents)
        | SELECT doc_id, source,
        |        CASE WHEN s_n > 1
        |             THEN CAST((s_sum - n_chars) * 1000000 // (s_n - 1) AS BIGINT)
        |        END AS loo_micro
        | FROM s ORDER BY doc_id""".stripMargin),

    // ---- bucketed co-located join (shuffle-free fact-fact join) ----------
    // THE 100-TB join layout: both sides written bucketed+sorted on the
    // join key (8 buckets here; thousands in production), so the sort-merge
    // join and the follow-on same-key aggregate read pre-partitioned
    // bucket files with ZERO exchanges — the shuffle is paid once at write
    // time and amortized over every subsequent join. The entry does the
    // real thing (bucketBy/sortBy external tables, merge-hint join), then
    // ASSERTS the plan property it exists to demonstrate: no
    // ShuffleExchange anywhere in the join+aggregate subplan (the only
    // exchange in the full query is the final presentation orderBy).
    ("s28_bucketed_join",
      (s, d) => {
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val base = graft.ops.Scratch.dir("graft-bucketed").toString
        def writeBucketed(df: DataFrame, table: String, key: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS $table")
          df.write.bucketBy(8, key).sortBy(key)
            .option("path", s"$base/$table").saveAsTable(table)
        }
        writeBucketed(t(s, d, "orders"), "s28_orders", "o_custkey")
        writeBucketed(t(s, d, "customer"), "s28_customer", "c_custkey")
        val agg = s.table("s28_orders").hint("merge")
          .join(s.table("s28_customer").hint("merge"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total_price"),
            max(col("c_nationkey")).as("c_nationkey"))
        val shuffles = agg.queryExecution.sparkPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        require(shuffles.isEmpty,
          s"s28_bucketed_join: expected a zero-exchange bucketed join+agg, " +
            s"found ${shuffles.size} ShuffleExchange(s) — bucket spec not picked up")
        agg.orderBy("c_custkey")
      },
      """SELECT c_custkey, COUNT(*) AS n_orders,
        |       SUM(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS total_price,
        |       MAX(c_nationkey) AS c_nationkey
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    // ---- exchange reuse (scan-once, shuffle-once for shared subplans) ---
    // the CTE-dedup property that matters at 100 TB: a subplan consumed
    // twice (here the per-(flag, status) aggregate self-joined into a
    // within-flag comparison matrix) must scan and shuffle ONCE, with the
    // second consumer reading the same exchange output. Spark's
    // ReuseExchange/AQE stage reuse does this when the subplans
    // canonicalize equal — and a refactor that breaks canonical equality
    // (e.g. divergent casts on the two legs) silently doubles the scan, so
    // the entry EXECUTES its (bounded, ≤ flag·status² rows) result and
    // asserts a ReusedExchange materialized in the final adaptive plan.
    ("s32_exchange_reuse",
      (s, d) => {
        val agg = t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast("long")).as("q"))
        val a = agg.select(col("l_returnflag").as("f"),
          col("l_linestatus").as("s1"), col("q").as("q1"))
        val b = agg.select(col("l_returnflag").as("f"),
          col("l_linestatus").as("s2"), col("q").as("q2"))
        val m = a.join(b, Seq("f")).filter(col("s1") < col("s2"))
          .select("f", "s1", "s2", "q1", "q2")
        val rows = m.collect() // bounded: pairs within the 6-cell agg
        val reused = m.queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("ReusedExchange"))
        require(reused > 0, "s32_exchange_reuse: the shared aggregate was " +
          "planned twice — exchange reuse broke (check canonical equality)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq), m.schema)
          .orderBy("f", "s1", "s2")
      },
      """WITH agg AS (SELECT l_returnflag AS f, l_linestatus AS s,
        |               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |             FROM lineitem GROUP BY 1, 2)
        | SELECT a.f AS f, a.s AS s1, b.s AS s2, a.q AS q1, b.q AS q2
        | FROM agg a JOIN agg b ON a.f = b.f AND a.s < b.s
        | ORDER BY 1, 2, 3""".stripMargin),

    // ---- keyed pseudonymization (linkage-preserving tokenization) -------
    // the privacy op t_pii_scrub can't do: replace the natural key with a
    // keyed deterministic token so tables still JOIN on the pseudonym but
    // the raw key never leaves the trust boundary. Both sides tokenize
    // map-side with the same salt; the entry joins orders to customer ON
    // THE PSEUDONYM and returns per-token order stats — hash-matching the
    // oracle (which replays salt‖key md5) proves tokens are deterministic
    // and collision-free here, i.e. the linkage survived tokenization.
    ("t_pseudonymize",
      (s, d) => {
        def pid(c: org.apache.spark.sql.Column) = substring(md5(concat(lit("graft-salt-2026:"),
          c.cast("string"))), 1, 16)
        val c = t(s, d, "customer").filter(col("c_custkey") % 10 === 0)
          .select(pid(col("c_custkey")).as("pid"), col("c_nationkey"))
        val o = t(s, d, "orders")
          .select(pid(col("o_custkey")).as("pid"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        c.join(o, Seq("pid"))
          .groupBy("pid", "c_nationkey")
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
          .orderBy("pid")
      },
      """WITH c AS (SELECT substr(md5('graft-salt-2026:' || CAST(c_custkey AS VARCHAR)), 1, 16) AS pid,
        |                  c_nationkey
        |           FROM customer WHERE c_custkey % 10 = 0),
        | o AS (SELECT substr(md5('graft-salt-2026:' || CAST(o_custkey AS VARCHAR)), 1, 16) AS pid,
        |              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |       FROM orders)
        | SELECT pid, c_nationkey, COUNT(*) AS n_orders,
        |        CAST(SUM(cents) AS BIGINT) AS total_cents
        | FROM c JOIN o USING (pid)
        | GROUP BY 1, 2 ORDER BY pid""".stripMargin),

    // ---- hive-partitioned write + partition-directory pruning -----------
    // the OTHER half of data skipping (s26 covers intra-file zone maps):
    // directory-level partition pruning, where a month predicate never
    // even LISTS the other months' files. The entry writes orders
    // partitioned by order month (one file per month via a repartition on
    // the partition column — the layout a 100-TB table would use), reads
    // back with a month filter, and asserts the two properties the scan
    // must have: the filter landed in PartitionFilters (not a post-scan
    // Filter), and the pruned listing is strictly smaller than the full
    // one with exactly the matching partition retained.
    ("s29_partition_prune",
      (s, d) => {
        import org.apache.spark.sql.execution.FileSourceScanExec
        val base = graft.ops.Scratch.dir("graft-partprune")
          .toString + "/orders_by_month"
        t(s, d, "orders")
          .withColumn("ym", date_format(col("o_orderdate"), "yyyy-MM"))
          .repartition(col("ym"))
          .write.partitionBy("ym").parquet(base)
        val rd = s.read.parquet(base).filter(col("ym") === "1995-03")
        val scan = rd.queryExecution.sparkPlan.collectFirst {
          case f: FileSourceScanExec => f
        }.getOrElse(sys.error("s29_partition_prune: no FileSourceScanExec"))
        require(scan.partitionFilters.exists(_.references.exists(_.name == "ym")),
          "s29_partition_prune: month predicate did not reach PartitionFilters")
        val pruned = scan.relation.location
          .listFiles(scan.partitionFilters, scan.dataFilters).map(_.files.size).sum
        val all = scan.relation.location.listFiles(Nil, Nil).map(_.files.size).sum
        require(pruned < all && pruned >= 1,
          s"s29_partition_prune: expected a strict prune, got $pruned of $all files")
        rd.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total_price"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |       SUM(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS total_price
        | FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
        | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- DYNAMIC partition pruning (runtime-injected star-join prune) ----
    // the 100-TB star-join win s29's STATIC prune can't deliver: the
    // selective predicate lives on the DIMENSION (quarter = 1995-Q1), not
    // on the fact's partition column — at planning time every fact
    // partition is live, and only the runtime subquery over the filtered
    // dim can narrow the ym listing to the quarter's three months. The
    // entry writes orders hive-partitioned by month, joins through a
    // month→quarter dim, EXECUTES, then asserts the two properties that
    // make it DPP and not a rescue: the scan's PartitionFilters carry a
    // DynamicPruningExpression, and the partitions actually READ (scan
    // metric) are strictly fewer than the table's — exactly the dim's
    // matching months.
    ("s35_dpp_prune",
      (s, d) => {
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
        val base = graft.ops.Scratch.dir("graft-dpp").toString + "/orders_by_month"
        t(s, d, "orders")
          .withColumn("ym", date_format(col("o_orderdate"), "yyyy-MM"))
          .repartition(col("ym"))
          .write.partitionBy("ym").parquet(base)
        val fact = s.read.parquet(base)
        val dim = t(s, d, "orders")
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym")).distinct()
          .withColumn("quarter", concat(substring(col("ym"), 1, 4), lit("-Q"),
            expr("cast((cast(substring(ym, 6, 2) as int) + 2) div 3 as string)")))
        val joined = fact
          .join(dim.filter(col("quarter") === "1995-Q1").select("ym"), Seq("ym"))
          .groupBy("ym")
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        val rows = joined.collect() // bounded: months of one quarter
        // walk INTO adaptive query stages: QueryStageExec is a leaf to
        // collect(), so a plain tree collect never sees executed scans
        def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
          (p match {
            case f: FileSourceScanExec => Seq(f)
            case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
            case _ => Seq.empty
          }) ++ p.children.flatMap(scans)
        val scan = scans(joined.queryExecution.executedPlan)
          .find(_.relation.location.rootPaths.exists(_.toString.contains("orders_by_month")))
          .getOrElse(sys.error("s35_dpp_prune: no fact FileSourceScanExec"))
        require(scan.partitionFilters.exists(
            _.exists(_.isInstanceOf[DynamicPruningExpression])),
          "s35_dpp_prune: no DynamicPruningExpression in the fact scan's " +
            "PartitionFilters — the dim filter was not runtime-injected")
        val partsAll = scan.relation.location.listFiles(Nil, Nil).size
        val partsRead = scan.metrics.get("numPartitions").map(_.value)
          .getOrElse(sys.error("s35_dpp_prune: scan has no numPartitions metric"))
        require(partsRead < partsAll && partsRead >= 1,
          s"s35_dpp_prune: expected a strict runtime prune, read $partsRead " +
            s"of $partsAll partitions")
        s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq), joined.schema)
          .orderBy("ym")
      },
      """WITH f AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        | dim AS (SELECT DISTINCT ym FROM f),
        | dq AS (SELECT ym FROM dim
        |        WHERE substr(ym, 1, 4) || '-Q' ||
        |              CAST((CAST(substr(ym, 6, 2) AS INT) + 2) // 3 AS VARCHAR)
        |              = '1995-Q1')
        | SELECT f.ym AS ym, COUNT(*) AS n_orders,
        |        CAST(SUM(cents) AS BIGINT) AS cents
        | FROM f JOIN dq ON f.ym = dq.ym
        | GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- dynamic partition overwrite (INSERT OVERWRITE one partition) ---
    // the lakehouse rewrite primitive s21/s23/s29 lead up to: a
    // partitioned table gets ONE partition's rows replaced (status F,
    // cents halved) under partitionOverwriteMode=dynamic — partitions
    // the incoming frame does not touch MUST survive untouched (static
    // mode would truncate the whole table). All money stays in integer
    // cents so the halving is exact div-2 arithmetic in both engines;
    // the read-back per-status rollup proves O/P intact + F rewritten.
    ("s30_insert_overwrite",
      (s, d) => {
        val base = graft.ops.Scratch.dir("graft-dynover")
          .toString + "/orders_by_status"
        val prep = t(s, d, "orders").select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderstatus"))
        prep.repartition(col("o_orderstatus"))
          .write.partitionBy("o_orderstatus").parquet(base)
        val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try {
          prep.filter(col("o_orderstatus") === "F")
            .withColumn("cents", expr("cents div 2"))
            .repartition(col("o_orderstatus"))
            .write.mode("overwrite").partitionBy("o_orderstatus").parquet(base)
        } finally prev match {
          case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        s.read.parquet(base)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
          .orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |                 THEN CAST(round(o_totalprice*100) AS BIGINT) // 2
        |                 ELSE CAST(round(o_totalprice*100) AS BIGINT) END) AS BIGINT)
        |         AS total_cents
        | FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- Benford first-digit audit --------------------------------------
    // the classic fabricated-data screen as a data-quality entry: first
    // significant digit of the order amount vs the Benford expectation,
    // all in exact integer micro (expected log10(1+1/d) shares are
    // PINNED literals on both sides — no cross-engine libm log10
    // last-ulp dependence). One groupBy over 9 digits + a broadcast
    // 1-row total; deviations are reported, not judged — the thresholds
    // belong to the caller (s22's expectation suite is the enforcement
    // side).
    ("s31_benford_audit",
      (s, d) => {
        val digits = t(s, d, "orders")
          .select(substring(round(col("o_totalprice") * 100).cast("long")
            .cast("string"), 1, 1).cast("int").as("digit"))
        val byd = digits.groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val tot = digits.groupBy().agg(count(lit(1)).as("n_total"))
        byd.crossJoin(broadcast(tot))
          .withColumn("share_micro", expr("n_obs * 1000000 div n_total"))
          .withColumn("expected_micro", expr(
            """CAST(element_at(map(1, 301030, 2, 176091, 3, 124939,
              |  4, 96910, 5, 79181, 6, 66947, 7, 57992, 8, 51153,
              |  9, 45757), digit) AS BIGINT)""".stripMargin))
          .select(col("digit").cast("long").as("digit"), col("n_obs"),
            col("share_micro"), col("expected_micro"),
            abs(col("share_micro") - col("expected_micro")).as("dev_micro"))
          .orderBy("digit")
      },
      """WITH c AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice*100) AS BIGINT)
        |                    AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM orders),
        | b AS (SELECT digit, COUNT(*) AS n_obs FROM c GROUP BY 1),
        | t AS (SELECT COUNT(*) AS n_total FROM c),
        | e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |         (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |         (9, 45757)) AS v(digit, expected_micro))
        | SELECT CAST(b.digit AS BIGINT) AS digit, n_obs,
        |        CAST(n_obs * 1000000 // n_total AS BIGINT) AS share_micro,
        |        CAST(expected_micro AS BIGINT) AS expected_micro,
        |        CAST(abs(n_obs * 1000000 // n_total - expected_micro) AS BIGINT) AS dev_micro
        | FROM b CROSS JOIN t JOIN e ON e.digit = b.digit
        | ORDER BY digit""".stripMargin),

    // ---- Q17-shape: below-fraction-of-group-average revenue --------------
    // the correlated-subquery classic ("parts bought in quantities below
    // 20% of that part's average"), in the shape that survives 100 TB:
    // the dim filter is a broadcast SEMI join (part never widens the fact
    // rows), and the per-part average is ONE window pass over the
    // semi-filtered fact — not a second scan + self-join, and no
    // correlated per-row subquery. The 20% comparison runs in exact
    // integer space (5·qty·cnt < Σqty — quantities are integral), so the
    // oracle agrees bit-for-bit with no double-division drift.
    ("q17_small_qty_revenue",
      (s, d) => {
        val pro = t(s, d, "part").filter(col("p_type").startsWith("PRO"))
          .select(col("p_partkey"))
        val li = t(s, d, "lineitem")
          .join(broadcast(pro), col("l_partkey") === col("p_partkey"), "left_semi")
        val w = Window.partitionBy(col("l_partkey"))
        li.withColumn("sum_qty", sum(col("l_quantity").cast("long")).over(w))
          .withColumn("cnt", count(lit(1)).over(w))
          .filter(col("l_quantity").cast("long") * 5 * col("cnt") < col("sum_qty"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
              .as("total_revenue"))
          .select(col("n_lines"), col("total_revenue"))
      },
      """WITH li AS (SELECT l.* FROM lineitem l
        |            WHERE EXISTS (SELECT 1 FROM part p
        |                          WHERE p.p_partkey = l.l_partkey
        |                            AND p.p_type LIKE 'PRO%')),
        | s AS (SELECT l_quantity, l_extendedprice,
        |              SUM(CAST(l_quantity AS BIGINT))
        |                OVER (PARTITION BY l_partkey) AS sum_qty,
        |              COUNT(*) OVER (PARTITION BY l_partkey) AS cnt
        |       FROM li)
        | SELECT COUNT(*) AS n_lines,
        |        SUM(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS total_revenue
        | FROM s WHERE CAST(l_quantity AS BIGINT) * 5 * cnt < sum_qty""".stripMargin),

    // ---- Q18-shape: large-volume orders (HAVING survivors broadcast) ----
    // groupBy-HAVING on the fact produces a TINY survivor set (orders
    // whose total quantity clears a high threshold); the scale move is to
    // broadcast the survivors into both enrichment joins instead of
    // shuffling orders and customer on their full keyspace. The lineitem
    // aggregate itself partial-aggregates map-side (orderkey grouping),
    // so the only full-width shuffle in the query carries pre-combined
    // (orderkey, sum) pairs, never raw lines.
    ("q18_large_volume_cust",
      (s, d) => {
        val heavy = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
          .filter(col("sum_qty") > 250L)
        val withOrder = t(s, d, "orders").join(broadcast(heavy),
            col("o_orderkey") === col("l_orderkey"))
        t(s, d, "customer").select(col("c_custkey"), col("c_name"))
          .join(broadcast(withOrder), col("c_custkey") === col("o_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("price_cents"),
            col("sum_qty"))
          .orderBy("o_orderkey")
      },
      """WITH heavy AS (SELECT l_orderkey,
        |                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |               FROM lineitem GROUP BY 1 HAVING sum_qty > 250)
        | SELECT c_custkey, c_name, o_orderkey,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, sum_qty
        | FROM heavy JOIN orders ON o_orderkey = l_orderkey
        |            JOIN customer ON c_custkey = o_custkey
        | ORDER BY o_orderkey""".stripMargin),

    // ---- returned-item reporting (Q10 shape: quarter star + top-k) -------
    // the classic "which customers returned the most last quarter": one
    // quarter of orders (broadcast after the date filter shrinks it) joins
    // the returnflag-filtered fact scan, enriched by the customer and
    // nation broadcast dims, top 20 by exact-integer revenue (cents ×
    // (100 − disc) — the q14 Long-safe money discipline), ties broken by
    // custkey so the limit is deterministic. Both date and returnflag
    // predicates reach the scans as pushed filters.
    ("q10_returned_items",
      (s, d) => {
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-10-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val li = t(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .as("rev_c4"))
        val cust = t(s, d, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
        val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
        li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("rev_c4")).as("revenue_c4"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("revenue_c4"),
            col("acctbal_cents"), col("n_name"))
          .orderBy(desc("revenue_c4"), col("c_custkey"))
          .limit(20)
      },
      """SELECT c_custkey, c_name,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |            (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |         AS revenue_c4,
        |       CAST(round(c_acctbal*100) AS BIGINT) AS acctbal_cents, n_name
        | FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        | WHERE o_orderdate >= TIMESTAMP '1996-10-01'
        |   AND o_orderdate < TIMESTAMP '1997-01-01'
        |   AND l_returnflag = 'R'
        | GROUP BY 1, 2, 4, 5
        | ORDER BY revenue_c4 DESC, c_custkey LIMIT 20""".stripMargin),

    // ---- nation-pair trade volume (Q7 shape) ------------------------------
    // the two-role dimension classic: nation joins the fact TWICE (as the
    // supplier's nation and as the customer's nation), with the selective
    // pair disjunction evaluated after both enrichments — each dim leg is
    // a broadcast, the fact scans once, and the pair filter cuts before
    // the year rollup. Exact-integer revenue, year from ship date.
    ("q7_nation_trade",
      (s, d) => {
        val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
        val pair = Seq("NATION_3", "NATION_8")
        val supp = t(s, d, "supplier")
          .join(broadcast(nat.filter(col("n_name").isin(pair: _*))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val cust = t(s, d, "customer")
          .join(broadcast(nat.filter(col("n_name").isin(pair: _*))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1998-01-01"))
          .select(col("l_orderkey"), col("l_suppkey"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .as("rev_c4"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy("supp_nation", "cust_nation", "l_year")
          .agg(sum(col("rev_c4")).as("revenue_c4"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |            (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |         AS revenue_c4
        | FROM supplier
        | JOIN lineitem ON s_suppkey = l_suppkey
        | JOIN orders ON o_orderkey = l_orderkey
        | JOIN customer ON c_custkey = o_custkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |     OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |   AND l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1998-01-01'
        | GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // ---- national market share (Q8 shape) ---------------------------------
    // the region-market classic: PROMO-part order revenue inside one
    // region's customer market, split into the focus nation's suppliers
    // vs everyone — share per order year in exact integer permille
    // (num·1000 div den, Long-safe: the ×1000 headroom is guarded, the
    // q14 div-1e6 trick is unnecessary at permille precision). Five
    // broadcast dims, one fact scan.
    ("q8_market_share",
      (s, d) => {
        val nat = t(s, d, "nation")
        val regionNations = nat
          .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))
        val cust = t(s, d, "customer")
          .join(broadcast(regionNations),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"))
        val supp = t(s, d, "supplier")
          .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val promo = t(s, d, "part").filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year"))
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .as("rev_c4"))
          .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .groupBy("o_year")
          .agg(sum(when(col("supp_nation") === "NATION_5", col("rev_c4"))
              .otherwise(0L)).as("nation_c4"),
            sum(col("rev_c4")).as("market_c4"))
          .select(col("o_year"),
            graft.ops.Bounded.guard(col("nation_c4"),
              col("nation_c4") < Long.MaxValue / 1000 &&
                col("market_c4") > 0L,
              "q8_market_share: numerator beyond the x1000 permille " +
                "headroom or empty market year").as("nation_c4"),
            col("market_c4"),
            expr("nation_c4 * 1000 div market_c4").as("share_permille"))
          .orderBy("o_year")
      },
      """WITH asia AS (SELECT n_nationkey FROM nation
        |              JOIN region ON n_regionkey = r_regionkey
        |              WHERE r_name = 'ASIA'),
        | mkt AS (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |                n.n_name AS supp_nation,
        |                CAST(round(l_extendedprice*100) AS BIGINT) *
        |                  (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev_c4
        |         FROM lineitem
        |         JOIN part ON l_partkey = p_partkey
        |         JOIN orders ON l_orderkey = o_orderkey
        |         JOIN customer ON o_custkey = c_custkey
        |         JOIN supplier ON l_suppkey = s_suppkey
        |         JOIN nation n ON s_nationkey = n.n_nationkey
        |         WHERE p_type = 'PROMO'
        |           AND c_nationkey IN (SELECT n_nationkey FROM asia))
        | SELECT o_year,
        |        CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev_c4
        |                 ELSE 0 END) AS BIGINT) AS nation_c4,
        |        CAST(SUM(rev_c4) AS BIGINT) AS market_c4,
        |        CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev_c4
        |                 ELSE 0 END) * 1000 // SUM(rev_c4) AS BIGINT)
        |          AS share_permille
        | FROM mkt GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- dormant high-balance customers (Q22 shape) -----------------------
    // the scalar-subquery + anti-join classic: customers whose balance
    // beats the positive-balance MEAN (one global aggregate, broadcast as
    // a 1-row threshold — never a per-row subquery) and who have NO
    // orders (LEFT ANTI on the orders key). Threshold in exact integer
    // cents via sum div count, so both engines replay the same truncating
    // mean. Grouped by nation — the untapped-market report.
    ("q22_dormant_customers",
      (s, d) => {
        val cust = t(s, d, "customer").select(col("c_custkey"),
          col("c_nationkey").cast("long").as("nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        val thr = cust.filter(col("bal_cents") > 0L)
          .agg(expr("sum(bal_cents) div count(1)").as("thr_cents"))
        cust.crossJoin(broadcast(thr))
          .filter(col("bal_cents") > col("thr_cents"))
          .join(t(s, d, "orders").select(col("o_custkey").as("c_custkey")),
            Seq("c_custkey"), "left_anti")
          .groupBy("nationkey")
          .agg(count(lit(1)).as("n_custs"), sum(col("bal_cents")).as("total_cents"))
          .orderBy("nationkey")
      },
      """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |           FROM customer),
        | thr AS (SELECT CAST(SUM(bal_cents) // COUNT(*) AS BIGINT) AS thr_cents
        |         FROM c WHERE bal_cents > 0)
        | SELECT nationkey, COUNT(*) AS n_custs,
        |        CAST(SUM(bal_cents) AS BIGINT) AS total_cents
        | FROM c CROSS JOIN thr
        | WHERE bal_cents > thr_cents
        |   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        | GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- runtime bloom-filter join pruning (row-level DPP sibling) -------
    // the second RUNTIME-injected filter Spark owns beside s35's partition
    // pruning: when the selective side of a shuffle join is too big to
    // broadcast, the optimizer builds a bloom filter over its join keys
    // (ObjectHashAggregate of bloom_filter_agg) and pushes
    // might_contain(xxhash64(key)) into the FACT scan — rows that cannot
    // match never reach the shuffle. At 100 TB this is the difference
    // between shuffling the whole fact table and shuffling the matching
    // slice. The entry scopes the thresholds down (the dim auto-broadcasts
    // at bench SF, and InjectRuntimeFilter correctly skips broadcastable
    // joins — production defaults only fire at real scale) and asserts
    // BOTH plan artifacts: the bloom build aggregate and the pushed
    // might_contain probe.
    ("s36_runtime_bloom_join",
      (s, d) => graft.ops.SessionConf.scoped(s,
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val dim = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderdate") >= lit("1998-01-01"))
          .select(col("o_orderkey"), col("o_orderpriority"))
        val fact = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
        val j = fact.hint("merge")
          .join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"), sum(col("qty")).as("sum_qty"))
        val plan = j.queryExecution.executedPlan.toString
        require(plan.contains("bloom_filter_agg") && plan.contains("might_contain"),
          "s36_runtime_bloom_join: no runtime bloom filter in the plan — " +
            "the fact side would shuffle unfiltered")
        val rows = j.collect() // bounded: one row per priority
        s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq), j.schema)
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderpriority = '1-URGENT'
        |   AND o_orderdate >= TIMESTAMP '1998-01-01'
        | GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- disjunctive-predicate revenue (Q19 shape) ------------------------
    // the OR-of-ANDs stress: three (brand, size-range, quantity-range)
    // clauses where part attributes and lineitem attributes interleave
    // inside each conjunct, so neither side's filter alone is the
    // predicate — the join must carry the residual disjunction. The
    // single-side implications (size ≤ 15, quantity ≤ 30) still push to
    // the scans as the UNION of the clauses' bounds; part stays a
    // broadcast dim. (This corpus has no l_shipmode/p_container — the
    // brand/size/quantity disjunction preserves the exact shape.)
    ("q19_disjunctive_revenue",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .as("rev_c4"))
        val p = t(s, d, "part").select(col("p_partkey"), col("p_brand"),
          col("p_size"))
        li.join(broadcast(p), col("l_partkey") === col("p_partkey") && (
            (col("p_brand") === "Brand#11" && col("p_size").between(1, 5) &&
              col("qty").between(1, 11)) ||
            (col("p_brand") === "Brand#22" && col("p_size").between(1, 10) &&
              col("qty").between(10, 20)) ||
            (col("p_brand") === "Brand#33" && col("p_size").between(1, 15) &&
              col("qty").between(20, 30))))
          .agg(sum(col("rev_c4")).as("revenue_c4"),
            count(lit(1)).as("n_items"))
      },
      """SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |            (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |         AS revenue_c4,
        |       COUNT(*) AS n_items
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
        |         AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10
        |         AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 15
        |         AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)""".stripMargin),

    // ---- suppliers who kept orders waiting (Q21 shape) -------------------
    // the classic 4-way semi/anti SELF-JOIN stress on the fact table: late
    // line items (this corpus has no commit/receipt dates, so "late" is a
    // fixed ship-date cutoff — the join topology is unchanged) of one
    // nation's suppliers, on finalized multi-supplier orders where NO
    // OTHER supplier was late. Plan shape under audit: the EXISTS leg is a
    // LEFT SEMI and the NOT-EXISTS leg a LEFT ANTI against lineitem keyed
    // on l_orderkey with the supplier inequality as residual (equi-key +
    // non-equi condition — never a Cartesian); orders-F prunes as a semi
    // join before the heavy legs; supplier⋈nation is a broadcast dim.
    // numwait counts l1 ROWS (not distinct suppliers-per-order) — exactly
    // Q21's count(*) semantics.
    ("q21_waiting_suppliers",
      (s, d) => {
        val cutoff = "2000-06-30"
        val nation = t(s, d, "nation").filter(col("n_name") === "NATION_7")
        val supp = t(s, d, "supplier")
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"))
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        val l1 = li.filter(col("l_shipdate") > lit(cutoff))
          .select(col("l_orderkey"), col("l_suppkey"))
        val ordersF = t(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("l_orderkey"))
        val l2 = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
        val l3 = l1.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
        l1
          .join(ordersF, Seq("l_orderkey"), "left_semi")
          .join(l2, col("l_orderkey") === col("ok2") &&
            col("l_suppkey") =!= col("sk2"), "left_semi")
          .join(l3, col("l_orderkey") === col("ok3") &&
            col("l_suppkey") =!= col("sk3"), "left_anti")
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(desc("numwait"), col("s_name"))
      },
      """SELECT s_name, COUNT(*) AS numwait
        | FROM supplier
        | JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        | JOIN orders ON o_orderkey = l1.l_orderkey
        | JOIN nation ON s_nationkey = n_nationkey
        | WHERE o_orderstatus = 'F' AND n_name = 'NATION_7'
        |   AND l1.l_shipdate > TIMESTAMP '2000-06-30'
        |   AND EXISTS (SELECT 1 FROM lineitem l2
        |               WHERE l2.l_orderkey = l1.l_orderkey
        |                 AND l2.l_suppkey <> l1.l_suppkey)
        |   AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                   WHERE l3.l_orderkey = l1.l_orderkey
        |                     AND l3.l_suppkey <> l1.l_suppkey
        |                     AND l3.l_shipdate > TIMESTAMP '2000-06-30')
        | GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin),

    // ---- pricing summary report (Q1 shape) --------------------------------
    // the TPC-H headline aggregate: one full fact scan, six narrow columns,
    // fully map-combinable (every output is a sum/count over a 6-group key
    // space — partial aggregation collapses each partition to ≤ 6 rows
    // before the shuffle, the ideal 100-TB aggregate shape). All money in
    // exact integer cents; the per-row charge (price·(100−d)·(100+t), ≤
    // ~1.1e11) stays in Long, its SUM runs in Decimal(38,0) with a guarded
    // cast back — overflow fails loudly at any scale instead of wrapping.
    // Averages as integer div (c2 / basis points), exact on both engines.
    ("q1_pricing_summary",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("2001-09-01"))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity").cast("long").as("qty"),
            round(col("l_extendedprice") * 100).cast("long").as("price_c2"),
            round(col("l_discount") * 100).cast("long").as("disc_c2"),
            round(col("l_tax") * 100).cast("long").as("tax_c2"))
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val longMax = lit(Long.MaxValue).cast(dec38)
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("qty")).as("sum_qty"),
            sum(col("price_c2")).as("sum_base_c2"),
            sum(col("price_c2") * (lit(100L) - col("disc_c2"))).as("sum_disc_c4"),
            sum((col("price_c2") * (lit(100L) - col("disc_c2")) *
              (lit(100L) + col("tax_c2"))).cast(dec38)).as("charge_dec"),
            count(lit(1)).as("count_order"))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("sum_qty"), col("sum_base_c2"), col("sum_disc_c4"),
            graft.ops.Bounded.guard(col("charge_dec"), col("charge_dec") <= longMax,
              "q1_pricing_summary: charge sum beyond Long range — emit " +
                "Decimal at this scale").cast("long").as("sum_charge_c6"),
            expr("sum_qty * 100 div count_order").as("avg_qty_c2"),
            expr("sum_base_c2 div count_order").as("avg_price_c2"),
            col("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |         AS sum_base_c2,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |            (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |         AS sum_disc_c4,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |            (100 - CAST(round(l_discount*100) AS BIGINT)) *
        |            (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT)
        |         AS sum_charge_c6,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) * 100 // COUNT(*) AS BIGINT)
        |         AS avg_qty_c2,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) // COUNT(*)
        |            AS BIGINT) AS avg_price_c2,
        |       COUNT(*) AS count_order
        | FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- minimum-cost supplier (Q2 shape) ---------------------------------
    // the correlated-min classic, adapted: the testdata has no partsupp
    // catalog, so one is DERIVED from lineitem (min observed list price per
    // (part, supplier) — a groupBy both engines replay identically), then
    // Q2 proper: for each qualifying part, the EUROPE supplier offering the
    // global-min cost — a per-part min aggregate joined back on (part,
    // cost), ties kept on both sides. The region/part dims broadcast; the
    // catalog groupBy is the only fact-sized shuffle.
    ("q2_min_cost_supplier",
      (s, d) => {
        val catalog = t(s, d, "lineitem")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("cost_c2"))
        val eur = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
            .join(broadcast(t(s, d, "region").filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("s_acctbal") * 100).cast("long").as("acct_c2"), col("n_name"))
        val parts = t(s, d, "part")
          .filter(col("p_size") <= 5 && col("p_type") === "LARGE")
          .select(col("p_partkey"), col("p_name"))
        // offered feeds BOTH the per-part min and the equality probe — a
        // diamond over the catalog's fact-scale groupBy (measured: planned
        // as TWO lineitem scans without the pin); offered itself is tiny
        // (qualifying parts × region suppliers)
        val offered = catalog
          .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        val minCost = offered.groupBy(col("p_partkey").as("mk"))
          .agg(min(col("cost_c2")).as("min_c2"))
        val top = offered.join(minCost,
            col("p_partkey") === col("mk") && col("cost_c2") === col("min_c2"))
          .select(col("acct_c2"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_name"), col("cost_c2"))
          .orderBy(desc("acct_c2"), col("s_name"), col("p_partkey"))
          .limit(100)
        pinnedDiamond(s, offered, top, "q2_min_cost_supplier")
          .orderBy(desc("acct_c2"), col("s_name"), col("p_partkey"))
      },
      """WITH catalog AS (SELECT l_partkey, l_suppkey,
        |          MIN(CAST(round(l_extendedprice*100) AS BIGINT)) AS cost_c2
        |        FROM lineitem GROUP BY 1, 2),
        | eur AS (SELECT s_suppkey, s_name,
        |                CAST(round(s_acctbal*100) AS BIGINT) AS acct_c2, n_name
        |         FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |         JOIN region ON n_regionkey = r_regionkey
        |         WHERE r_name = 'EUROPE'),
        | offered AS (SELECT c.l_partkey AS p_partkey, p.p_name, c.cost_c2,
        |                    e.s_name, e.acct_c2, e.n_name
        |             FROM catalog c JOIN eur e ON c.l_suppkey = e.s_suppkey
        |             JOIN part p ON c.l_partkey = p.p_partkey
        |             WHERE p.p_size <= 5 AND p.p_type = 'LARGE')
        | SELECT acct_c2, s_name, n_name, p_partkey, p_name, cost_c2
        | FROM offered o
        | WHERE cost_c2 = (SELECT MIN(cost_c2) FROM offered i
        |                  WHERE i.p_partkey = o.p_partkey)
        | ORDER BY acct_c2 DESC, s_name, p_partkey LIMIT 100""".stripMargin),

    // ---- product-type profit (Q9 shape) -----------------------------------
    // profit per supplier nation per year over a part-name class. No
    // partsupp supply cost exists, so cost is a DETERMINISTIC formula both
    // engines compute from in-row columns: 50% of the part's retail price
    // per unit (qty·retail_c2·50 lands on the same c4 scale as revenue).
    // Three broadcast dims + one orders equi-join; one fact scan.
    ("q9_product_profit",
      (s, d) => {
        val bolts = t(s, d, "part")
          .filter(col("p_name").contains("bolt"))
          .select(col("p_partkey"),
            round(col("p_retailprice") * 100).cast("long").as("retail_c2"))
        val suppNat = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        val o = t(s, d, "orders").select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .as("rev_c4"))
          .join(broadcast(bolts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"), col("o_year"))
          .agg(sum(col("rev_c4") - col("qty") * col("retail_c2") * 50L)
            .as("profit_c4"))
          .orderBy(col("nation"), desc("o_year"))
      },
      """SELECT n_name AS nation,
        |       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |              (100 - CAST(round(l_discount*100) AS BIGINT)) -
        |              CAST(l_quantity AS BIGINT) *
        |              CAST(round(p_retailprice*100) AS BIGINT) * 50) AS BIGINT)
        |         AS profit_c4
        | FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN nation ON s_nationkey = n_nationkey
        | WHERE p_name LIKE '%bolt%'
        | GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),

    // ---- important part values (Q11 shape) --------------------------------
    // group-vs-global-scalar: per-part traded value through one nation's
    // suppliers, kept only above 0.1% of that nation's total — the global
    // threshold is a 1-row aggregate broadcast back over the per-part rows
    // (the q22/q17 scalar pattern: never a second fact scan at the
    // executor, never a driver collect).
    ("q11_important_values",
      (s, d) => {
        val natSupp = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation").filter(col("n_name") === "NATION_4")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        // vals feeds BOTH the 0.1% threshold and the filter — a diamond
        // over the fact-scale groupBy (measured: TWO lineitem scans
        // without the pin); output is < 1000 rows BY CONSTRUCTION (each
        // kept part's value exceeds total/1000, and the values sum to
        // total), so the driver pin is safe at any scale
        val vals = t(s, d, "lineitem")
          .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"),
            "left_semi")
          .groupBy(col("l_partkey").as("p_partkey"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("value_c2"))
        val thr = vals.agg((sum(col("value_c2")) / 1000L).cast("long").as("thr"))
        val top = vals.join(broadcast(thr))
          .filter(col("value_c2") > col("thr"))
          .select(col("p_partkey"), col("value_c2"))
        pinnedDiamond(s, vals, top, "q11_important_values")
          .orderBy(desc("value_c2"), col("p_partkey"))
      },
      """WITH vals AS (SELECT l_partkey AS p_partkey,
        |         CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |           AS value_c2
        |       FROM lineitem
        |       WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                           JOIN nation ON s_nationkey = n_nationkey
        |                           WHERE n_name = 'NATION_4')
        |       GROUP BY 1)
        | SELECT p_partkey, value_c2 FROM vals
        | WHERE value_c2 > (SELECT CAST(SUM(value_c2) / 1000 AS BIGINT) FROM vals)
        | ORDER BY value_c2 DESC, p_partkey""".stripMargin),

    // ---- late-shipment priority split (Q12 shape) -------------------------
    // the CASE-pivot over an orders⋈lineitem equi-join, adapted: the
    // testdata has no l_shipmode/commitdate, so the "late" predicate is
    // ship > order + 90 days and the grouping key is l_returnflag. This is
    // the one fact⋈fact join of the TPC-H block — SMJ on o_orderkey with
    // both sides filtered before the shuffle.
    ("q12_priority_split",
      (s, d) => {
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1999-01-01") &&
            col("l_shipdate") < lit("2000-01-01"))
          .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .groupBy("l_returnflag")
          .agg(sum(when(col("o_orderpriority") === "1-URGENT" ||
              col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when(col("o_orderpriority") =!= "1-URGENT" &&
              col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
              .as("low_line_count"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |   AND l_shipdate < TIMESTAMP '2000-01-01'
        |   AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        | GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- customer order-count distribution (Q13 shape) --------------------
    // the double-aggregate with an outer join: orders per customer
    // (LEFT join so zero-order customers survive with c_count 0 — COUNT
    // over the nullable key skips nulls identically on both engines), then
    // the histogram of those counts. The first groupBy is the only
    // customer-scale shuffle; the second groups ≤ max-orders-per-customer
    // distinct keys.
    ("q13_custdist",
      (s, d) => {
        val o = t(s, d, "orders")
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select(col("o_custkey"))
        t(s, d, "customer").select(col("c_custkey"))
          .join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_custkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      """WITH co AS (SELECT c_custkey, COUNT(o_custkey) AS c_count
        |            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |              AND o_orderpriority <> '4-NOT SPECIFIED'
        |            GROUP BY 1)
        | SELECT c_count, COUNT(*) AS custdist
        | FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // ---- top supplier by quarter revenue (Q15 shape) ----------------------
    // the view+max classic: quarterly revenue per supplier, then the
    // supplier(s) hitting the global max. The revenue aggregate feeds BOTH
    // the max branch and the equality probe. AQE's exchange/stage reuse
    // serves this diamond only in the 2-join shape — adding the supplier
    // enrichment join defeats the stage-cache match (measured on 4.1.2;
    // see PLANS.md) — so the single-fact-scan property is pinned the
    // robust way: persist the supplier-sized aggregate and ASSERT both
    // consumers read the cache. At 100 TB the cache is |suppliers| rows,
    // the fact scans once.
    ("q15_top_supplier",
      (s, d) => {
        val rev = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01") &&
            col("l_shipdate") < lit("1997-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("total_c4"))
        val mx = rev.agg(max(col("total_c4")).as("mx"))
        val top = rev.join(broadcast(mx)).filter(col("total_c4") === col("mx"))
          .join(broadcast(t(s, d, "supplier").select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_c4"))
        // bounded: only max-revenue ties survive the equality probe
        pinnedDiamond(s, rev, top, "q15_top_supplier")
          .orderBy("s_suppkey")
      },
      """WITH rev AS (SELECT l_suppkey,
        |         CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) *
        |              (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |           AS total_c4
        |       FROM lineitem
        |       WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |         AND l_shipdate < TIMESTAMP '1997-04-01'
        |       GROUP BY 1)
        | SELECT s_suppkey, s_name, total_c4
        | FROM rev JOIN supplier ON l_suppkey = s_suppkey
        | WHERE total_c4 = (SELECT MAX(total_c4) FROM rev)
        | ORDER BY s_suppkey""".stripMargin),

    // ---- parts-supplier relationship counts (Q16 shape) -------------------
    // COUNT DISTINCT per wide group key over a derived relationship table,
    // with a NOT-IN supplier exclusion as a broadcast anti-join (the
    // "complaints" list stand-in: low-balance suppliers). The distinct
    // (part, supplier) projection is the only fact-scale shuffle.
    ("q16_supplier_counts",
      (s, d) => {
        val rel = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val excl = t(s, d, "supplier")
          .filter(col("s_acctbal") < 1000.0).select(col("s_suppkey"))
        val pr = t(s, d, "part")
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        rel.join(broadcast(pr), col("l_partkey") === col("p_partkey"))
          .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
            col("p_size"))
      },
      """SELECT p_brand, p_type, p_size,
        |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
        | FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) rel
        | JOIN part ON l_partkey = p_partkey
        | WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |   AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |   AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                         WHERE s_acctbal < 1000)
        | GROUP BY 1, 2, 3
        | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // ---- dominant-supplier detection (Q20 shape) --------------------------
    // nested aggregation + semi-join: suppliers who shipped MORE THAN HALF
    // of a part class's 1999 volume for some part (the excess-stock
    // predicate re-expressed without partsupp.availqty). The per-(part,
    // supplier) aggregate joins its own per-part rollup — key-local,
    // then one DISTINCT supplier set semi-joins the dim. No fact rescan.
    ("q20_dominant_suppliers",
      (s, d) => {
        // qty99 feeds BOTH its own per-part rollup and the share filter —
        // a diamond over the filtered fact groupBy (measured: TWO lineitem
        // scans without the pin); output ≤ one dominant supplier per
        // SMALL part (">half" is unique per part), a dim-sized set
        val qty99 = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1999-01-01") &&
            col("l_shipdate") < lit("2000-01-01"))
          .join(broadcast(t(s, d, "part").filter(col("p_type") === "SMALL")
            .select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("long")).as("sq"))
        val tot = qty99.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("sq")).as("pt"))
        val dominant = qty99.join(tot, col("l_partkey") === col("pk"))
          .filter(col("sq") * 2 > col("pt"))
          .select(col("l_suppkey")).distinct()
        val top = t(s, d, "supplier")
          .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_name"),
            round(col("s_acctbal") * 100).cast("long").as("acct_c2"))
        pinnedDiamond(s, qty99, top, "q20_dominant_suppliers")
          .orderBy("s_name")
      },
      """WITH qty99 AS (SELECT l_partkey, l_suppkey,
        |          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |        FROM lineitem
        |        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |          AND l_shipdate < TIMESTAMP '2000-01-01'
        |          AND l_partkey IN (SELECT p_partkey FROM part
        |                            WHERE p_type = 'SMALL')
        |        GROUP BY 1, 2),
        | tot AS (SELECT l_partkey AS pk, CAST(SUM(sq) AS BIGINT) AS pt
        |         FROM qty99 GROUP BY 1),
        | dom AS (SELECT DISTINCT l_suppkey FROM qty99
        |         JOIN tot ON l_partkey = pk WHERE sq * 2 > pt)
        | SELECT s_name, CAST(round(s_acctbal*100) AS BIGINT) AS acct_c2
        | FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
        | ORDER BY s_name""".stripMargin),

    // ---- exact equi-height histogram (all deciles) without a global sort
    // generalizes t_exact_median_nosort from one order statistic to all
    // nine interior deciles in the SAME two scans: (1) one map-combinable
    // value-bucket histogram, (2) a driver walk over the ≤64k bucket
    // summary locating (bucket, in-bucket offset) for every decile rank,
    // (3) ONE filtered scan of just the ≤9 boundary buckets, ranked by a
    // bucket-partitioned window (bucket-sized partitions, never global) and
    // inner-joined to the broadcast (bucket, offset, decile) probe set. A
    // global orderBy would range-shuffle all rows for 9 values; this moves
    // ~9/2¹² of them. Oracle: DuckDB ranks the full column — an
    // independent algorithm.
    ("t_equiheight_deciles",
      (s, d) => {
        val cents = t(s, d, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
        // decile i boundary = value at 1-based rank ceil(i*n/10); n comes
        // off the selection op's own histogram — no extra count scan
        var ranks: Seq[Long] = Nil
        val at = graft.ops.Selection.valuesAtRanks(s, cents,
          n => { ranks = (1 to 9).map(i => (i * n + 9) / 10); ranks })
        at.join(broadcast(s.createDataFrame(
              ranks.zipWithIndex.map { case (k, i) => (k, i + 1L) })
            .toDF("rank", "decile")), Seq("rank"))
          .select(col("decile"), col("value").as("boundary_cents"))
          .orderBy("decile")
      },
      """WITH t AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS c
        |           FROM lineitem),
        | r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM t),
        | nn AS (SELECT COUNT(*) AS n FROM t),
        | d AS (SELECT CAST(i AS BIGINT) AS decile,
        |              (i * (SELECT n FROM nn) + 9) // 10 AS k
        |       FROM generate_series(1, 9) g(i))
        | SELECT d.decile, r.c AS boundary_cents
        | FROM d JOIN r ON r.rn = d.k ORDER BY d.decile""".stripMargin),

    // ---- market-basket co-purchase projection ---------------------------
    // the bipartite (basket, item) → (item, item) projection behind
    // recommenders: distinct parts per order, a basket-keyed self-join
    // producing ordered pairs, support counted per pair. The quadratic
    // hazard is basket DEPTH, not basket count — a 10 000-item basket
    // contributes 50 M pairs — so baskets above `cap` distinct items are
    // dropped BEFORE pairing (the maxDF / maxBlockRows discipline; the
    // oracle applies the identical cap, so the semantics are pinned, not
    // hidden). Pair fan-out is then ≤ C(cap,2) per basket — linear in
    // baskets at any scale.
    ("g_copurchase_pairs",
      (s, d) => copurchasePairs(t(s, d, "lineitem"))
        .orderBy("p1", "p2"),
      """WITH bp AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
        |            FROM lineitem),
        | capped AS (SELECT * FROM (
        |              SELECT okey, pkey, COUNT(*) OVER (PARTITION BY okey) AS bsz
        |              FROM bp) WHERE bsz <= 15)
        | SELECT a.pkey AS p1, b.pkey AS p2, COUNT(*) AS n_baskets
        | FROM capped a JOIN capped b ON a.okey = b.okey AND a.pkey < b.pkey
        | GROUP BY 1, 2 HAVING COUNT(*) >= 2
        | ORDER BY p1, p2""".stripMargin)
  )
}
