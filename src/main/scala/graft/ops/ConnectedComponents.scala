package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list, used to resolve
  * near-duplicate candidate pairs into disjoint duplicate CLUSTERS (the
  * step after [[graft.llm.Dedup.jaccardPairs]]: pairwise drops are not
  * transitive — (1,3),(2,3) greedily keeps both 1 and 2 even though all
  * three are one cluster; component resolution keeps exactly one canonical
  * document per cluster).
  *
  * Algorithm: alternating large-star / small-star contraction — the
  * standard MapReduce-era formulation (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14; same shape as the
  * GraphFrames/GraphX implementations). Converges in O(log² n) rounds on
  * any graph (practically < 10). Each round is TWO key shuffles (one
  * window aggregation per star op) over the current edge set; there is no
  * driver-side graph state — only the round driver's 2-value state
  * fingerprint ([[Checkpointer.untilStable]]) is collected per batch.
  *
  * Scale notes (100 TB): edge rows only ever shrink or re-point (both star
  * ops emit ≤ one edge per input half-edge, and large-star points
  * high-degree fringes directly at the running minimum, so hub skew decays
  * geometrically over rounds — the paper's load-balancing argument); AQE
  * skew-split covers the first-round hubs. Lineage across iterations is
  * truncated each round by [[Checkpointer]] — eager localCheckpoint in
  * local[] mode, reliable `df.checkpoint()` once
  * `spark.sparkContext.setCheckpointDir` is configured, so an executor
  * loss mid-loop on a cluster recomputes from the last round instead of
  * killing the job.
  *
  * Reference provenance: the reference has no graph algorithms (its graph
  * is stored, not traversed — `OntologyGraphBuilder.java` builds
  * collections only); this is a north-star extension for the dedup path.
  */
object ConnectedComponents {

  /** Canonical undirected edge form: (u, v) distinct, self-loops dropped.
    * Ids may be any orderable type (long in the dedup path).
    */
  private def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Large-star: every node u points its LARGER neighbors at
    * m = min(Γ(u) ∪ {u}). Operates on the symmetrized edge list; one
    * partition-key shuffle (window min over u).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy("u")
    sym.select(col("u"), col("v"), least(min(col("v")).over(w), col("u")).as("m"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: every node u points its SMALLER neighbors (and itself) at
    * m = min of those neighbors. Operates on the (hi → lo)-directed edge
    * list; one partition-key shuffle. The explode emits (v, m) and (u, m)
    * in a single pass so the window subplan executes once.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val directed = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val w = Window.partitionBy("u")
    directed.withColumn("m", min(col("v")).over(w))
      .select(explode(array(col("v"), col("u"))).as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Incremental connected components under EDGE INSERTS — the graph twin
    * of u5/u11's delta maintenance: instead of re-running star contraction
    * over the full edge set, the new edges are COLLAPSED through the old
    * labels (each endpoint replaced by its old component id, new vertices
    * by themselves) and the star loop runs on that component-sized graph —
    * at 100 TB the old labeling is a stored table and the per-increment
    * cost tracks the DELTA's component connectivity, not the edge history.
    * Sound because old components are internally connected: merging is
    * decided entirely by which component ids the new edges bridge, and the
    * final label = min over merged old labels (min of mins = global min,
    * so output is bit-identical to a full recompute).
    *
    * `oldLabels` must be a full (`id`, `component`) labeling of the old
    * graph (component = min member id, [[components]]' contract). Returns
    * the same shape over old ∪ new vertices.
    */
  def componentsIncremental(oldLabels: DataFrame, newEdges: DataFrame): DataFrame = {
    val e = newEdges.select(col("src").as("__s"), col("dst").as("__d"))
    val collapsed = e
      .join(oldLabels.select(col("id").as("__s"), col("component").as("__cs")),
        Seq("__s"), "left")
      .join(oldLabels.select(col("id").as("__d"), col("component").as("__cd")),
        Seq("__d"), "left")
      .select(coalesce(col("__cs"), col("__s")).as("src"),
        coalesce(col("__cd"), col("__d")).as("dst"))
    val merged = components(collapsed) // component-scale, not data-scale
      .select(col("id").as("component"), col("component").as("__new"))
    val relabeledOld = oldLabels
      .join(merged, Seq("component"), "left")
      .select(col("id"), coalesce(col("__new"), col("component")).as("component"))
    val newOnly = e.select(col("__s").as("id")).union(e.select(col("__d").as("id")))
      .distinct()
      .join(oldLabels.select(col("id")), Seq("id"), "left_anti")
      .join(merged.select(col("component").as("id"), col("__new")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__new"), col("id")).as("component"))
    relabeledOld.unionByName(newOnly)
  }

  /** Component assignment: one row per node reachable from an edge —
    * `(id, component)` with component = MIN node id of the component. Pass
    * `vertices` (a 1-column DataFrame named `id`) to also emit isolated
    * nodes (component = own id) — the dedup path passes the full corpus so
    * non-duplicated documents appear as their own singleton cluster.
    *
    * Throws if the contraction has not converged within `maxIter` rounds
    * (O(log² n) expected — 30 covers any realistic corpus) rather than
    * returning a partially-contracted, silently wrong labeling.
    */
  def components(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
                 vertices: Option[DataFrame] = None, maxIter: Int = 30): DataFrame = {
    // BATCHED rounds: two star alternations per checkpoint+fingerprint.
    // Every driver job costs ~60 ms of fixed latency regardless of task
    // size (measured, PLANS.md round 13), so per-round actions dominate
    // wall on small-diameter graphs; running the pair inline (plan depth
    // 2x — bounded) and materializing LAZILY inside the fingerprint's own
    // action cuts 2 jobs/round to 1 job/2 rounds. Convergence is still
    // sound: the star fixpoint is idempotent, so a batch straddling the
    // fixpoint re-emits the converged state and the batch-end fingerprint
    // stabilizes exactly one comparison later.
    val e = Checkpointer.untilStable(Checkpointer(canonical(edges, srcCol, dstCol)),
        (maxIter + 1) / 2, eager = false,
        s"connected components did not converge in $maxIter rounds " +
          "(raise maxIter; expected O(log^2 n) rounds)") { e =>
      smallStar(largeStar(smallStar(largeStar(e))))
    }
    // Converged edges form stars (child -> component min); add the roots.
    val stars = e.select(col("u").as("id"), col("v").as("component"))
    val assigned = stars
      .union(stars.select(col("component").as("id"), col("component")))
      .distinct()
    vertices match {
      case None => assigned
      case Some(vs) =>
        vs.select(col("id"))
          .join(assigned, Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    }
  }

  /** Quality-priority cluster dedup over an ALREADY-COMPUTED vertex-closed
    * labeling (`id`, `component`; callers share one CC run across several
    * consumers): the survivor of each duplicate cluster is the row with
    * the HIGHEST `priorityCol`, ties to the lowest id — the keep-longest /
    * keep-highest-quality policy production near-dedup pipelines want (the
    * canonical-id rule discards a clean original whenever a truncated copy
    * has a smaller id; a constant priority keeps the min id). Unlike the
    * pairwise greedy drop ([[graft.llm.Dedup.removeNearDuplicates]]'s last
    * stage, which drops the higher id of each confirmed PAIR), this is
    * transitive: a cluster {1,2,3} confirmed only through pairs (1,3),(2,3)
    * keeps one doc.
    *
    * Singletons (docs in no pair) survive trivially via the vertex-closed
    * labeling. The per-cluster winner is one window ranked over
    * `component` — partition width is cluster size, which the candidate
    * tier already bounds. Merge hint: the component table is
    * duplicate-density-bound — size estimates for it are meaningless, and
    * a mis-planned broadcast of a pathological cluster set OOMs the driver
    * (same taxonomy as the jaccardPairs joins).
    */
  def keepBestByComponents(docs: DataFrame, comp: DataFrame,
                           priorityCol: String): DataFrame = {
    val w = Window.partitionBy(col("component"))
      .orderBy(col(priorityCol).desc, col("doc_id"))
    docs
      .join(comp.hint("merge").withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .withColumn("cc_rank", row_number().over(w))
      .filter(col("cc_rank") === 1)
      .drop("cc_rank", "component")
  }
}
