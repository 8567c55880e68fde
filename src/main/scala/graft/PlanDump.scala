package graft

/** Plan-audit aid: print `.explain("formatted")` for registry queries.
  * Usage: runMain graft.PlanDump <sfDir> <queryName...>
  *        runMain graft.PlanDump <sfDir> --audit-windows
  *
  * `--audit-windows` walks EVERY registry query's optimized plan and lists
  * the ones containing an unpartitioned Window (the `WindowExec: No
  * Partition Defined` shape). The known offenders are all summary-sized and
  * carry a [[graft.ops.Bounded.guard]] runtime assertion; this audit — not
  * the log warning, which Bench silences — is what keeps a FUTURE
  * accidental corpus-sized global window visible: a query outside the
  * allowlist fails the audit (exit 1).
  */
object PlanDump {

  /** Registry queries whose unpartitioned windows are audited-benign:
    * every entry here is runtime-guarded via Bounded.guard or bounded by
    * math (see the call sites). Grow this list ONLY with a matching guard.
    */
  val AuditedUnpartitionedWindows: Set[String] = Set(
    "t_dsir_select",       // global top-k, Bounded.guard (Sampling.scala:364)
    "x1_hybrid_rrf",       // fused k-list rank, Bounded.guard (Retrieval.scala:48) + rankTopK
    "x1_search_rank",      // rankTopK: limit(k) BEFORE the rank window (≤ k rows)
    "x1_bm25_rank",        // rankTopK (same ≤ k-row window)
    "t_bigram_lm",         // bucket-summary window, Bounded.guard (TextStats.scala:558)
    "s15_key_skew_report", // count histogram: O(√rows) by math (SkewOps.keySkewReport)
    "ts_path_ngrams",      // global rank AFTER per-bucket top-20 (≤ 64·20 rows)
    "u6_skyline",          // bucket-summary cum-max: ≤ buckets rows, Bounded.guard (Pareto.scala)
    "s21_compaction_plan", // bucket-summary cum-sum: ≤ buckets rows, Bounded.guard (PrefixOps.scala)
    "d21_threshold_sweep", // agreement histogram: ≤ 13 rows, Bounded.guard (PipelineQueries)
    "t_water_fill",        // source-cardinality rows, Bounded.guard nsrc ≤ 10k (PipelineQueries)
    "g_eff_diameter",      // N(t) lag: ≤ maxT+1 = 5 rows, Bounded.guard (GraphQueries)
    "a13_ams_f2",          // z² median rank: exactly reps = 16 rows, Bounded.guard (GraphQueries)
    "a17_kll_quantiles",   // sample rank: ≤ KllK rows by the thr guard (GraphQueries.kllQuantilesFrom)
    "stream_kll_quantiles") // same serving window over the converged folded sample

  /** Statically-pinned join strategies: entry → (must-contain substrings,
    * must-NOT-contain substrings) over the physical join operator class
    * names. This is the plan-shape regression net: an accidentally
    * dropped broadcast() hint, a join key type mismatch demoting a
    * BroadcastHashJoin to BNLJ, or a new Cartesian product fails the
    * audit instead of silently shipping a 100-TB shuffle. Populated from
    * `--dump-joins`; grow alongside new join-bearing entries.
    */
  val JoinExpectations: Map[String, (Seq[String], Seq[String])] = Map(
    "j2_broadcast_dim" -> (Seq("BroadcastHashJoin"), Seq("SortMergeJoin", "CartesianProduct")),
    // NOT pinned to SortMergeJoin: at audit SF the sides fit under the
    // auto-broadcast threshold, and demoting that pick would be wrong —
    // the salting property is SF-independent, the strategy is not
    "j7_salted_join" -> (Seq("Join"), Seq("CartesianProduct")),
    "j3_semijoin_exists" -> (Seq("Join"), Seq("CartesianProduct")),
    "j4_antijoin_not_exists" -> (Seq("Join"), Seq("CartesianProduct")),
    // g_edges plans as union + two-phase aggregate (no join survives
    // optimization at this shape) — pin only the absence of a Cartesian
    "g_edges" -> (Seq(), Seq("CartesianProduct")),
    "s25_checksum_reconcile" -> (Seq("Join"), Seq("CartesianProduct", "BroadcastNestedLoop")),
    "a7_approx" -> (Seq("BroadcastNestedLoopJoin"), Seq("CartesianProduct")), // 1-row sketch side
    "u9_bitemporal_pit" -> (Seq("BroadcastNestedLoopJoin"), Seq("CartesianProduct")), // 3-row probe side, non-equi
    "j8_bloom_prune_join" -> (Seq("Join"), Seq("CartesianProduct")),
    // KLL sampler: every sketch-frame join broadcasts (summary 1-row,
    // level frames ≤ grains×17 at ANY input size); a SortMergeJoin here
    // means a bounded frame lost its hint. The BNLJ is the 17-row
    // cumulative-count theta join — sketch-sized by construction.
    "a17_kll_quantiles" -> (Seq("BroadcastHashJoin"), Seq("SortMergeJoin", "CartesianProduct")),
    "stream_kll_quantiles" -> (Seq("BroadcastHashJoin"), Seq("SortMergeJoin", "CartesianProduct")),
    // a18 grained serving: same broadcast discipline as a17 — every
    // sketch-frame join broadcasts, the BNLJ is the enumerated-level
    // cumulative-count theta join (grains×17 rows by construction)
    "a18_kll_grouped" -> (Seq("BroadcastHashJoin"), Seq("SortMergeJoin", "CartesianProduct")),
    // knng append: graph hops, vector lookups, and batch-bucket pairs are
    // all equi-joins (broadcast at audit SF, shuffled-hash on node id at
    // scale); any BNLJ/Cartesian here means a hop lost its equi-key
    "sim_knng_append" -> (Seq("BroadcastHashJoin"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // trained PQ: the one BNLJ is the broadcast query-LUT × corpus-codes
    // scan — the ADC memory-bound shape (the corpus side is never
    // shuffled); an equi-join appearing here would mean the LUT stopped
    // riding the scan
    "sim_pq_trained" -> (Seq("BroadcastNestedLoopJoin"), Seq("CartesianProduct")),
    // d24: the (doc, pos) delta-mark join is corpus-scale on both sides —
    // a shuffle join IS the right plan; pin only the absence of a Cartesian
    "d24_span_survivor_cut" -> (Seq("Join"), Seq("CartesianProduct")),
    "j6_range_join" -> (Seq("Join"), Seq("CartesianProduct")),
    // the Q5 star: EVERY join must broadcast (one fact scan, zero
    // pre-aggregate shuffles) — an SMJ here means a dim stopped fitting
    "q5_star_join" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // bucketed co-location: the merge hint must hold (a broadcast would
    // fake the zero-exchange property the entry asserts in-plan)
    "s28_bucketed_join" -> (Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin", "CartesianProduct")),
    // Q17: the dim filter must stay a broadcast SEMI join
    "q17_small_qty_revenue" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // Q3: the segment+date-filtered order dim must broadcast against the
    // shipdate-filtered fact scan (an SMJ means the filters stopped
    // shrinking the dim below the threshold)
    "q3_shipping_priority" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // Q4: EXISTS rewritten to the per-order max pre-aggregate; the join of
    // the two order-count-sized sides may broadcast or shuffle (AQE's
    // call) — only a cartesian would be wrong
    "q4_order_priority" -> (Seq.empty[String], Seq("CartesianProduct")),
    // Q14: part is a pure broadcast dimension
    "q14_promo_revenue" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // stress centrality: the middle-vertex self-join and the distance
    // check are equi-joins — a cartesian here means the sigma-pair join
    // lost its keys
    "g_stress_centrality" -> (Seq.empty[String], Seq("CartesianProduct")),
    // k-center: the only join is the broadcast k-row selection map
    "sim_kcenter_select" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // Q18: both enrichment joins ride the broadcast survivor set
    "q18_large_volume_cust" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // Q10: quarter-filtered orders + customer + nation are all broadcast
    // dims against the one returnflag-filtered fact scan
    "q10_returned_items" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // Q7: both nation-role dims broadcast; fact scans once
    "q7_nation_trade" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // Q8: five broadcast dims (region→nations, customer semi, part,
    // supplier⋈nation), one fact scan
    "q8_market_share" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")),
    // Q19: the disjunctive residual rides the broadcast part join
    "q19_disjunctive_revenue" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // Q22: the 1-row threshold is a broadcast BNLJ; the orders anti-join
    // stays keyed
    "q22_dormant_customers" -> (Seq("BroadcastNestedLoopJoin"),
      Seq("CartesianProduct")),
    "g_copurchase_pairs" -> (Seq("Join"), Seq("CartesianProduct")),
    // SymSpell: the dict-variant side must broadcast
    "x1_symspell_correct" -> (Seq("BroadcastHashJoin"), Seq("CartesianProduct")),
    "g_random_walks" -> (Seq("Join"), Seq("CartesianProduct")),
    // count-min probe: the depth·width cell grid must stay the broadcast
    // side (a sketch lookup that shuffles the probe table is wrong)
    "a10_countmin_merge" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // KMV set ops: the pairwise s1<s2 join runs on |groups| k-sized
    // sketch rows — the hinted broadcast must hold (a shuffle of sketch
    // arrays would mean the planner thinks this is data-sized)
    "a12_kmv_set_ops" -> (Seq("BroadcastNestedLoopJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // link prediction: wedge self-join + degree joins + the predicted-link
    // anti-join — all equi-keyed, never Cartesian
    "g_link_predict" -> (Seq("Join"), Seq("CartesianProduct")),
    // SimHash banding: bucket gate + candidate pairing are (band, v)
    // equi-joins — a Cartesian here means the gate join lost its keys
    "d22_simhash_neardup" -> (Seq("Join"), Seq("CartesianProduct")),
    // modularity: the 1-row edge-count total must ride a broadcast BNLJ;
    // community joins are equi-keyed
    "g_modularity" -> (Seq("BroadcastNestedLoopJoin"), Seq("CartesianProduct")),
    // incremental join view: four equi-joins (view + three delta legs),
    // never Cartesian
    "u11_incremental_join" -> (Seq("Join"), Seq("CartesianProduct")),
    // rare-label collapse: the vocabulary keep-set is hinted broadcast —
    // a shuffle here would mean the fact table moved for a dictionary
    "t_rare_label_collapse" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // pseudonymized linkage: tokens must stay an equi-join key (a
    // Cartesian would mean the md5 tokenization broke key equality)
    "t_pseudonymize" -> (Seq("Join"), Seq("CartesianProduct")),
    // Q21: semi/anti self-join legs are equi-keyed on l_orderkey with the
    // supplier inequality as residual — strategy is SF-dependent (all
    // sides broadcast at audit SF, SMJ at scale), Cartesian never
    "q21_waiting_suppliers" -> (Seq("Join"), Seq("CartesianProduct")),
    // Louvain: the 1-row edge-count total rides a broadcast BNLJ
    // (g_modularity's pin); every community/degree join is equi-keyed
    "g_louvain" -> (Seq("BroadcastNestedLoopJoin"), Seq("CartesianProduct")),
    "g_louvain2" -> (Seq("BroadcastNestedLoopJoin"), Seq("CartesianProduct")),
    // Leiden: same 1-row broadcast BNLJ discipline for the modularity
    // totals and the guard frame; refinement/contraction joins equi-keyed
    "g_leiden" -> (Seq("BroadcastNestedLoopJoin"), Seq("CartesianProduct")),
    // dyadic quantiles: the cell grid and rank frames are broadcast-sized
    // — a shuffle-side grid means the planner thinks the sketch is data
    "a14_quantile_sketch" -> (Seq("BroadcastHashJoin"), Seq("CartesianProduct")),
    // grained quantiles: grain×node enumeration rides a broadcast BNLJ
    // (bounded frames); grid joins broadcast; never a Cartesian
    "a15_grouped_quantiles" -> (Seq("BroadcastHashJoin"), Seq("CartesianProduct")),
    // sorted-neighborhood ER: the probe-rank pairing is an equi-join on
    // (block, rank) with bounded fan-out — a Cartesian would mean the
    // rank-explode collapsed back into a block × block product
    "j10_sorted_neighborhood_er" -> (Seq("Join"), Seq("CartesianProduct")),
    // scalable-rank SNM: the stitched-offsets frame carries an explicit
    // broadcast hint (bounded by blocks + chunks incidences); the pair
    // join's strategy is size-dependent and left to the planner
    "j11_snm_scalable_rank" -> (Seq("BroadcastHashJoin"), Seq("CartesianProduct")),
    // maximal-run substring dedup: all joins keyed (gram md5 / (id, pos));
    // nothing may plan cartesian at any SF
    "d23_substring_dedup" -> (Seq("Join"), Seq("CartesianProduct")),
    // double quantiles: the 1-row bounds frame rides BNLJ crossJoins (the
    // a7 discipline); grid joins broadcast; no cartesian
    "a16_double_quantiles" -> (Seq("BroadcastNestedLoopJoin", "BroadcastHashJoin"),
      Seq("CartesianProduct")),
    // Q9: three pure broadcast dims + the orders equi-join, one fact scan
    "q9_product_profit" -> (Seq("BroadcastHashJoin"), Seq("CartesianProduct")),
    // Q12/Q13: fact⋈fact equi-joins — broadcast at audit SF, SMJ at
    // scale; only a Cartesian would be a plan bug
    "q12_priority_split" -> (Seq("Join"), Seq("CartesianProduct")),
    "q13_custdist" -> (Seq("Join"), Seq("CartesianProduct")),
    // (q2/q11/q15/q20 are NOT pinned here: their single-fact-scan diamond
    // property — zero fact rescans, ≥1 cache read, no Cartesian — is
    // asserted IN the entry against the EXECUTED plan via pinnedDiamond;
    // the returned frames are bounded collected results with no joins)
    // Q16: part dim + complaints anti-join both broadcast
    "q16_supplier_counts" -> (Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // TVD: the word self-join is equi-keyed; the 190-pair spine is a
    // bounded non-equi broadcast BNLJ — never a Cartesian
    "t_source_divergence" -> (Seq("Join"), Seq("CartesianProduct")))

  private def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }.size

  /** Physical join operator class names in the (pre-AQE) executed plan —
    * the statically-planned strategies, which is what the audit pins:
    * explicit `broadcast()` hints and equi-join keys are honored here,
    * and a statically-planned Cartesian/BNLJ over two large inputs is a
    * plan bug no AQE re-plan will save at 100 TB.
    */
  private def joinNodes(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      val self = p.getClass.getSimpleName
      val here = if (self.contains("Join") || self.contains("CartesianProduct"))
        Seq(self) else Nil
      here ++ p.children.flatMap(walk) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.initialPlan)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          walk(m.relation.cachedPlan) // shared stores hide joins behind the cache
        case _ => Nil
      })
    }
    walk(df.queryExecution.executedPlan).distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.ops.SessionConf.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.drop(1).headOption.contains("--audit-windows")) {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val n = try unpartitionedWindows(fn(spark, sfDir))
                catch { case e: Throwable => println(s"$name: PLAN FAILED: $e"); 0 }
        if (n > 0) Some(name -> n) else None
      }
      offenders.foreach { case (name, n) =>
        val ok = AuditedUnpartitionedWindows.contains(name)
        println(f"$name%-28s $n unpartitioned window(s)  ${if (ok) "audited-benign" else "NEW OFFENDER"}")
      }
      val fresh = offenders.map(_._1).filterNot(AuditedUnpartitionedWindows.contains)
      if (fresh.nonEmpty) {
        println(s"AUDIT FAILED: unaudited unpartitioned windows in: ${fresh.mkString(", ")}")
        spark.stop(); sys.exit(1)
      }
      println(s"window audit clean: ${offenders.size} audited-benign, 0 new")
    } else if (args.drop(1).headOption.contains("--dump-joins")) {
      // inventory mode: print every entry's join operator classes (the
      // input for growing the --audit-joins expectation table)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val js = try joinNodes(fn(spark, sfDir))
                 catch { case e: Throwable => Seq(s"PLAN FAILED: $e") }
        if (js.nonEmpty) println(f"$name%-28s ${js.mkString(", ")}")
      }
    } else if (args.drop(1).headOption.contains("--audit-joins")) {
      val failures = JoinExpectations.toSeq.sortBy(_._1).flatMap {
        case (name, (must, mustNot)) =>
          val js = try joinNodes(SparkEntry.queries(name)(spark, sfDir))
                   catch { case e: Throwable => Seq(s"PLAN FAILED: $e") }
          val missing = must.filterNot(m => js.exists(_.contains(m)))
          val banned = mustNot.filter(m => js.exists(_.contains(m)))
          val ok = missing.isEmpty && banned.isEmpty
          println(f"$name%-28s ${js.mkString(", ")}  ${if (ok) "ok" else
            s"EXPECTED $must WITHOUT $mustNot"}")
          if (ok) None else Some(name)
      }
      if (failures.nonEmpty) {
        println(s"JOIN AUDIT FAILED: ${failures.mkString(", ")}")
        spark.stop(); sys.exit(1)
      }
      println(s"join audit clean: ${JoinExpectations.size} entries pinned")
    } else {
      // a shared store's persist() registers with the CacheManager when its
      // first consumer builds the plan, so `PlanDump <dir> <producer>
      // <consumer>` shows the substitution the consumer runs with
      args.drop(1).foreach { name =>
        println(s"===== $name =====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
