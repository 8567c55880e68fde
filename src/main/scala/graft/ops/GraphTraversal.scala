package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded graph traversal over an edge table: BFS level propagation
  * (min-hop distance from a source set, up to `maxHops`) — the k-hop
  * neighborhood query a graph-database user runs against the stored
  * property graph (the reference loads its graph into a traversal-capable
  * store; this is that query surface expressed relationally).
  *
  * Iterative frontier expansion: each round joins the current frontier
  * against the edge table, anti-joins the already-visited set (so every
  * node is labeled with its FIRST — minimum — hop count), and stops early
  * when the frontier empties. Rounds are bounded by `maxHops`, lineage is
  * truncated per round by [[Checkpointer]] (same discipline as
  * [[ConnectedComponents]] — reliable checkpoints once the session has a
  * checkpoint dir, so a cluster executor loss recomputes from the last
  * round; local checkpoints otherwise).
  *
  * Scale notes (100 TB): the per-round work is ONE equi-join shuffle on the
  * frontier key (broadcast when the frontier is small — the common case for
  * seed sets) plus one anti-join against visited. The visited set grows
  * monotonically; at billion-node scale pre-bucket `edges` by `srcCol` so
  * every round's join reuses the bucketing instead of reshuffling the edge
  * table (the dominant cost — the edge table is the 100 TB side and arrives
  * partitioned once).
  */
object GraphTraversal {

  /** (id, level) for every node within `maxHops` directed hops of
    * `sources` (a 1-column DataFrame named `id`); level = min hop count,
    * sources at level 0. Unreached nodes are absent.
    */
  def bfsLevels(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.select(col("src").as("id"), col("dst").as("nid"))
    val (visited, frontiers) = frontierRounds(
        Checkpointer(sources.select(col("id")).distinct()
          .withColumn("level", lit(0))), maxHops, _.isEmpty) { (frontier, visited, h) =>
      e.join(frontier.select("id"), Seq("id"))
        .select(col("nid").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .withColumn("level", lit(h))
    }
    frontiers.filterNot(_ eq visited).foreach(Checkpointer.release)
    visited
  }

  /** The visited/frontier discipline of [[bfsLevels]],
    * [[neighborhoodFunction]] and [[shortestPathCounts]]: `seed`
    * (checkpointed) is round 0's frontier and visited set; round
    * t ≤ `maxRounds` checkpoints `expand(frontier, visited, t)` — the newly
    * reached rows, which become the next frontier — and stops at the first
    * round where `exhausted(next)` holds; otherwise the visited set grows
    * by them (checkpointed, one live copy: each superseded one is
    * released). Only newly reached rows join the next round. Returns the
    * final visited set and every non-empty frontier, seed first; the
    * caller releases what it does not return.
    */
  private def frontierRounds(seed: DataFrame, maxRounds: Int, exhausted: DataFrame => Boolean)(
      expand: (DataFrame, DataFrame, Int) => DataFrame): (DataFrame, Seq[DataFrame]) = {
    var visited = seed
    val frontiers = scala.collection.mutable.ArrayBuffer(seed)
    var t = 1
    var open = true
    while (open && t <= maxRounds) {
      val next = Checkpointer(expand(frontiers.last, visited, t))
      if (exhausted(next)) { Checkpointer.release(next); open = false }
      else {
        val grown = Checkpointer(visited.union(next))
        if (!(visited eq seed)) Checkpointer.release(visited)
        visited = grown
        frontiers += next
        t += 1
      }
    }
    (visited, frontiers.toSeq)
  }

  /** Hop-bounded single-source(s) shortest paths over a WEIGHTED directed
    * edge table — distributed Bellman-Ford: `maxHops` relaxation rounds,
    * each ONE dist ⋈ edges equi-join on the source endpoint plus one
    * map-combinable `min` aggregate (the same per-round shape as
    * [[bfsLevels]] with weights replacing levels). Returns (`id`, `dist`)
    * for every vertex reachable within `maxHops` hops — the minimum
    * TOTAL WEIGHT over all ≤ maxHops-hop paths, which for any hop bound ≥
    * the graph's shortest-path hop diameter is the exact SSSP answer.
    *
    * Integer weights (`weight`, cast to long): exact, order-independent
    * sums — the oracle property. Negative weights are fine under a hop
    * bound (no negative-cycle divergence: paths lengthen by at most one
    * edge per round). The round count is the declared bound, NOT a
    * data-dependent fixpoint — a chain graph relaxes one hop per round, so
    * a fixpoint loop would spin the graph's diameter; callers state their
    * horizon (the [[kCore]] maxIter discipline, but as semantics rather
    * than a fail-fast).
    *
    * Scale per round: dist is vertex-sized, edges the big side; the join
    * shuffles on the source key (pre-bucket the edge table on `src` at
    * billion-edge scale so every round reuses it). [[Checkpointer]]
    * truncates per-round lineage; one live dist copy at a time.
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.select(col("src").as("id"),
      col("dst").as("nid"), col("weight").cast("long").as("w"))
    Checkpointer.iterate(Checkpointer(sources.select(col("id")).distinct()
        .withColumn("dist", lit(0L))), maxHops, (_, _) => false) { (dist, _) =>
      val relaxed = e.join(dist, Seq("id"))
        .select(col("nid").as("id"), (col("dist") + col("w")).as("dist"))
      dist.union(relaxed).groupBy("id").agg(min("dist").as("dist"))
    }
  }

  /** PageRank over a directed edge table: `iterations` rounds of the
    * standard damped update
    * `rank = (1−d)/N + d·(Σ inbound rank/outdeg + danglingMass/N)`,
    * dangling (no-outlink) mass redistributed uniformly so total rank stays
    * 1.0 every round (asserted cheaply via the returned ranks in specs).
    *
    * Scale shape per round: one vertex-sized ranks ⋈ outdeg join, ONE
    * edge-scale equi-join shuffle (contribs ⋈ edges on src — pre-bucket the
    * edge table on `src` at billion-edge scale so every round reuses the
    * bucketing, as with [[bfsLevels]]) + one map-combinable sum on dst; the
    * dangling-mass term is a scalar aggregate broadcast back. The
    * loop-invariant out-degree table is materialized ONCE before the loop
    * (vertex-sized result over an edge-scale aggregate — the
    * small-data-over-big-subtree case; it feeds two branches every round).
    * The per-round [[Checkpointer]] truncates lineage, and
    * each round's rank table releases its predecessor so state storage
    * holds one copy, not `iterations` (rank table is vertex-sized; same
    * discipline as [[ConnectedComponents]]).
    *
    * No DuckDB oracle: iterative floating-point sums are not
    * portable-exact (addition order differs by partitioning); the spec
    * checks against a driver-side dense reference at 1e-9.
    */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
               tolerance: Option[Double] = None): DataFrame =
    pageRankWithStats(edges, iterations, damping, tolerance)._1

  /** Personalized PageRank: random walks restart at the `sources` set
    * instead of uniformly — the "importance relative to THESE seeds"
    * variant behind related-item ranking and local community scoring.
    * PPR is exactly [[pageRank]] with a non-uniform teleport vector
    * (mass 1/|S| on each source, 0 elsewhere), applied to the initial
    * ranks, the restart term, and the dangling-mass redistribution alike —
    * so it shares the full implementation (same per-round shape, same
    * dictionary encoding, same Checkpointer lineage truncation) via the
    * internal teleport hook rather than a forked loop.
    *
    * `sources` rows must be a non-empty subset of the graph's vertices
    * (ids outside the graph are ignored; an empty effective set is
    * refused loudly — a silent all-zero teleport would drain all mass).
    */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
                           iterations: Int, damping: Double = 0.85): DataFrame =
    pageRankWithStats(edges, iterations, damping,
      sources = Some(sources.select(col("id"))))._1

  /** [[pageRank]] plus the number of update rounds actually executed — the
    * early-stop observability surface. `tolerance` (when set) stops as soon
    * as the per-round L1 rank delta Σ|rank − prev| falls below it: one
    * extra scalar aggregate per round over the co-partitioned
    * (prev ⋈ next) rank tables — vertex-sized, no new edge-scale work —
    * instead of always paying a fixed `iterations` regardless of how fast
    * the graph mixes.
    */
  def pageRankWithStats(edges: DataFrame, iterations: Int, damping: Double = 0.85,
                        tolerance: Option[Double] = None,
                        sources: Option[DataFrame] = None): (DataFrame, Int) = {
    require(iterations >= 0, "iterations must be >= 0")
    require(damping >= 0.0 && damping <= 1.0, s"damping must be in [0,1]: $damping")
    require(tolerance.forall(_ > 0.0), s"tolerance must be positive: $tolerance")
    val eRaw = Checkpointer(
      edges.select(col("src"), col("dst")).distinct())
    val verticesRaw = Checkpointer(eRaw.select(col("src").as("id"))
      .union(eRaw.select(col("dst").as("id"))).distinct())
    // Dictionary-encode non-integral vertex keys (URI graphs) to dense
    // longs BEFORE the loop: every round shuffles the edge table on its
    // keys, and at 15M 60-byte URI edges the key bytes dominate exchange
    // volume (measured mildly superlinear at the 100x probe). Two
    // edge-scale joins ONCE buy 8-byte keys for every round — the GraphX
    // vertex-id discipline. monotonically_increasing_id is stable here
    // because the dictionary is materialized by the Checkpointer before
    // either consumer reads it. Integral keys skip the encode entirely.
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
    val encode = !integral.contains(eRaw.schema("src").dataType)
    val dict = if (encode)
      Some(Checkpointer(verticesRaw.withColumn("vid", monotonically_increasing_id())))
    else None
    val e = dict match {
      case Some(d) => Checkpointer(eRaw
        .join(d.select(col("id").as("src"), col("vid").as("vsrc")), Seq("src"))
        .join(d.select(col("id").as("dst"), col("vid").as("vdst")), Seq("dst"))
        .select(col("vsrc").as("src"), col("vdst").as("dst")))
      case None => eRaw
    }
    val vertices = dict match {
      case Some(d) => d.select(col("vid").as("id"))
      case None => verticesRaw
    }
    val n = verticesRaw.count()
    // teleport vector: uniform 1/n, or (personalized) 1/|S| on the source
    // set and 0 elsewhere — initial ranks, the restart term, and the
    // dangling redistribution all read the SAME per-vertex tp column, so
    // the uniform case is bit-identical to the historical formula
    val vtp = sources match {
      case None => Checkpointer(vertices.withColumn("tp", lit(1.0 / n)))
      case Some(srcSet) =>
        val keyed = dict match {
          case Some(d) => srcSet.distinct()
            .join(d.withColumnRenamed("vid", "__vid"), Seq("id"))
            .select(col("__vid").as("id"))
          case None => srcSet.distinct().join(vertices, Seq("id"), "leftsemi")
        }
        val sMembers = Checkpointer(keyed.withColumn("__src", lit(1)))
        val sCount = sMembers.count()
        require(sCount > 0,
          "personalized teleport: no source id is a vertex of the graph — " +
            "an all-zero teleport vector would silently drain all rank mass")
        val tp = Checkpointer(vertices.join(sMembers, Seq("id"), "left")
          .withColumn("tp",
            when(col("__src").isNotNull, lit(1.0 / sCount)).otherwise(lit(0.0)))
          .select(col("id"), col("tp")))
        Checkpointer.release(sMembers)
        tp
    }
    if (encode) Checkpointer.release(eRaw) // loop reads only the encoded edge table
    if (encode) Checkpointer.release(verticesRaw) // dict carries the id mapping
    val outDeg = Checkpointer(e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg")))
    // uniform path keeps the historical divide-by-n evaluation order
    // (bit-identical to the unrolled oracle SQL, which also divides);
    // the personalized path multiplies by the per-vertex tp — its oracle
    // mirrors that form
    val rankExpr =
      if (sources.isEmpty)
        lit((1.0 - damping) / n) +
          lit(damping) * (coalesce(col("inbound"), lit(0.0)) + col("dm") / n)
      else
        lit(1.0 - damping) * col("tp") +
          lit(damping) * (coalesce(col("inbound"), lit(0.0)) + col("dm") * col("tp"))
    // the tolerance stop: the round's L1 rank delta, read while the
    // superseded ranks are still live
    val settled = (prev: DataFrame, next: DataFrame) => tolerance.exists { tol =>
      next.join(prev.withColumnRenamed("rank", "prev_rank"), Seq("id"))
        .agg(coalesce(sum(abs(col("rank") - col("prev_rank"))), lit(0.0)))
        .head().getDouble(0) < tol
    }
    var rounds = 0
    val ranks = Checkpointer.iterate(
        Checkpointer(vtp.select(col("id"), col("tp").as("rank"))), iterations, settled) { (ranks, r) =>
      rounds = r
      val withDeg = ranks.join(outDeg, Seq("id"), "left")
      // dangling mass: rank held by vertices with no outlinks
      val dangling = withDeg.filter(col("outdeg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contribs = withDeg.filter(col("outdeg").isNotNull)
        .select(col("id").as("src"), (col("rank") / col("outdeg")).as("c"))
        .join(e, Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("inbound"))
      vtp
        .join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"), rankExpr.as("rank"))
    }
    (Seq(e, outDeg, vtp) ++ (if (encode) Nil else Seq(verticesRaw)))
      .foreach(Checkpointer.release)
    // decode back to the caller's vertex keys (vertex-sized join, once)
    val out = dict match {
      case Some(d) => ranks.withColumnRenamed("id", "vid")
        .join(d, Seq("vid")).select(col("id"), col("rank"))
      case None => ranks
    }
    (out, rounds)
  }

  /** Per-vertex triangle counts over an UNDIRECTED graph (edge direction and
    * duplicates are normalized away; self-loops dropped). Output: one row per
    * vertex — (`id`, `n_triangles`), including zero-triangle vertices.
    *
    * Algorithm: degree-ordered orientation + wedge closing. Every undirected
    * edge is oriented from its lower-(degree, id) endpoint to the higher one
    * (a total order, so orientation is deterministic and acyclic); each
    * triangle is then found EXACTLY once as a wedge u→v, u→w (ordered
    * v before w in the same total order) closed by the oriented edge v→w.
    *
    * Scale notes (100 TB): orientation is THE trick that survives skew — a
    * degree-d hub fans out d² wedges in a naive formulation, but oriented
    * out-degrees are bounded by O(√m) on any graph (arboricity bound), so
    * total wedge count is O(m^1.5) regardless of hubs. The wedge self-join
    * and the closing join are pair tables — data-dependent sizes whose
    * static estimates are meaningless — so both carry MERGE hints (the
    * mis-planned-broadcast lesson); all joins are equi-joins on vertex keys.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val (deg, perVertex) = triangleCore(edges)
    deg.select(col("v").as("id"))
      .join(perVertex.withColumnRenamed("v", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient per vertex: `2·T(v) / (deg(v)·(deg(v)−1))`
    * — the fraction of a vertex's neighbor pairs that are themselves
    * connected, 0 for degree < 2. Exact integer numerator/denominator from
    * the SAME oriented-wedge triangle core as [[triangleCounts]] (O(m^1.5)
    * bound), so the only float op is one final division — cross-engine
    * deterministic. Output: (`id`, `degree`, `n_triangles`, `coeff`).
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val (deg, perVertex) = triangleCore(edges)
    deg.select(col("v").as("id"), col("deg").as("degree"))
      .join(perVertex.withColumnRenamed("v", "id"), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("coeff",
        when(col("degree") >= 2,
          (col("n_triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)))
  }

  /** Shared triangle core: (per-vertex degree over the normalized
    * undirected edge set, per-vertex triangle counts). See
    * [[triangleCounts]] for the orientation/wedge plan shape notes.
    */
  private def triangleCore(edges: DataFrame): (DataFrame, DataFrame) = {
    // und feeds two consumers (degrees + orientation) and oriented feeds
    // THREE (both wedge sides + the closing-edge probe): materialize each
    // once via the Checkpointer — the formatted plan otherwise re-executes
    // the whole normalize/degree subtree per consumer whenever exchange
    // reuse fails (the lshCandidates lesson; the Checkpointer writes
    // reliable checkpoints once a checkpoint dir is configured).
    val und = Checkpointer(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient a—b from lower (deg, id) to higher; keep the head's (deg, id)
    // so wedges can order their two far endpoints by the SAME total order
    val aFirst = und
      .join(deg.withColumnsRenamed(Map("v" -> "a", "deg" -> "deg_a")), Seq("a"))
      .join(deg.withColumnsRenamed(Map("v" -> "b", "deg" -> "deg_b")), Seq("b"))
      .withColumn("fwd",
        col("deg_a") < col("deg_b") || (col("deg_a") === col("deg_b") && col("a") < col("b")))
    val oriented = Checkpointer(aFirst.select(
      when(col("fwd"), col("a")).otherwise(col("b")).as("u"),
      when(col("fwd"), col("b")).otherwise(col("a")).as("v"),
      when(col("fwd"), col("deg_b")).otherwise(col("deg_a")).as("deg_v")))
    val w1 = oriented.select(col("u"), col("v").as("x"), col("deg_v").as("deg_x"))
    val w2 = oriented.select(col("u"), col("v").as("y"), col("deg_v").as("deg_y"))
    val wedges = w1.join(w2.hint("merge"), Seq("u"))
      .filter(col("deg_x") < col("deg_y") ||
        (col("deg_x") === col("deg_y") && col("x") < col("y")))
    val triangles = wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y")).hint("merge"),
        Seq("x", "y"), "left_semi")
      .select("u", "x", "y")
    val perVertex = triangles
      .select(explode(array(col("u"), col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
    (deg, perVertex)
  }

  /** k-core of an UNDIRECTED graph (direction/duplicates normalized away,
    * self-loops dropped): the maximal subgraph in which every vertex has
    * degree ≥ k. Output: one row per surviving vertex — (`id`, `core_deg`),
    * its degree WITHIN the core.
    *
    * Algorithm: iterative peeling — each round drops every vertex whose
    * current degree is < k (and the edges touching it) until a fixpoint.
    * This is the standard distributed formulation (Quick/Wilkinson/Heath
    * style): per round ONE map-combinable degree aggregate plus two
    * semi-joins of the edge table against the (vertex-sized) survivor set.
    *
    * Scale notes (100 TB): the edge table is the big side and is filtered
    * IN PLACE each round (semi-join on its endpoint keys — no pair
    * explosion anywhere); the survivor set is vertex-sized and broadcasts
    * when small. Round count is the graph's peel depth for this k — bounded
    * by design of the feeding pipeline, NOT by the data (a chain peels one
    * layer per round, so `maxIter` fail-fasts rather than silently spinning;
    * same discipline as [[ConnectedComponents]]). Lineage is truncated per
    * round via [[Checkpointer]], one live edge-table copy at a time.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    val core = Checkpointer.untilStable(Checkpointer(edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()), maxIter, eager = true,
        s"kCore(k=$k) did not converge in $maxIter peel rounds — " +
          "deep-peeling graph (e.g. a long chain); raise maxIter") { e =>
      val keep = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("v")
      e.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
    }
    core.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("core_deg"))
  }

  /** k-truss of an UNDIRECTED graph — the EDGE-peeling sibling of [[kCore]]
    * (Cohen 2008, public algorithm): the maximal subgraph in which every
    * edge participates in ≥ k−2 triangles. Tighter than k-core (every
    * k-truss is inside the (k−1)-core) and the standard cohesion filter
    * when "dense" must mean mutually-connected, not just high-degree.
    * Output: one row per surviving edge — (`a`, `b`, `support`), its
    * triangle count WITHIN the truss.
    *
    * Algorithm: iterative peeling — each round computes per-edge triangle
    * support with the SAME degree-ordered orientation [[triangleCounts]]
    * uses (wedges bounded O(m^1.5) by the arboricity argument, hub-proof),
    * then semi-join-drops edges below k−2 until a fixpoint. Each found
    * triangle contributes support to all THREE of its canonical edges via
    * one explode — never a per-edge neighborhood intersection.
    *
    * Scale notes (100 TB): the edge table is filtered in place per round
    * (semi-join on its own (a,b) key); wedge/closing joins carry MERGE
    * hints (pair tables — static size estimates are meaningless); round
    * count is the graph family's peel depth, `maxIter` fail-fasts rather
    * than silently spinning; one live edge copy at a time via
    * [[Checkpointer]].
    */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 3, s"kTruss: k must be >= 3 (k=2 keeps every edge): $k")
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    // per-edge triangle support over a canonical (a<b) edge set
    def support(e: DataFrame): DataFrame = {
      val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val aFirst = e
        .join(deg.withColumnsRenamed(Map("v" -> "a", "deg" -> "deg_a")), Seq("a"))
        .join(deg.withColumnsRenamed(Map("v" -> "b", "deg" -> "deg_b")), Seq("b"))
        .withColumn("fwd",
          col("deg_a") < col("deg_b") ||
            (col("deg_a") === col("deg_b") && col("a") < col("b")))
      val oriented = Checkpointer(aFirst.select(
        when(col("fwd"), col("a")).otherwise(col("b")).as("u"),
        when(col("fwd"), col("b")).otherwise(col("a")).as("v"),
        when(col("fwd"), col("deg_b")).otherwise(col("deg_a")).as("deg_v")))
      val w1 = oriented.select(col("u"), col("v").as("x"), col("deg_v").as("deg_x"))
      val w2 = oriented.select(col("u"), col("v").as("y"), col("deg_v").as("deg_y"))
      val tri = w1.join(w2.hint("merge"), Seq("u"))
        .filter(col("deg_x") < col("deg_y") ||
          (col("deg_x") === col("deg_y") && col("x") < col("y")))
        .join(oriented.select(col("u").as("x"), col("v").as("y")).hint("merge"),
          Seq("x", "y"), "left_semi")
      val sup = Checkpointer(tri.select(explode(array(
          struct(least(col("u"), col("x")).as("a"), greatest(col("u"), col("x")).as("b")),
          struct(least(col("u"), col("y")).as("a"), greatest(col("u"), col("y")).as("b")),
          struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))))
          .as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("support")))
      Checkpointer.release(oriented)
      sup
    }
    // the last round's support: at the fixpoint it is the truss's own
    var sup: DataFrame = null
    val truss = Checkpointer.untilStable(Checkpointer(edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()), maxIter, eager = true,
        s"kTruss(k=$k) did not converge in $maxIter peel rounds — " +
          "deep-peeling graph; raise maxIter") { e =>
      Option(sup).foreach(Checkpointer.release)
      sup = support(e)
      e.join(sup.filter(col("support") >= k - 2).select("a", "b"), Seq("a", "b"), "left_semi")
    }
    if (sup == null) // empty input: keep the (a, b, support) schema
      return truss.select(col("a"), col("b"), lit(0L).as("support"))
    val out = Checkpointer(truss.join(sup, Seq("a", "b")))
    Seq(sup, truss).foreach(Checkpointer.release)
    out
  }

  /** Neighborhood-overlap similarity (common-neighbor Jaccard) over an
    * UNDIRECTED graph: for every vertex pair (a < b) sharing at least one
    * neighbor, `n_common` = |N(a) ∩ N(b)| and the degrees — so the Jaccard
    * |N∩| / (deg_a + deg_b − |N∩|) is available as an exact rational;
    * `minJaccardPct` keeps pairs with Jaccard ≥ pct/100 via integer
    * cross-multiplication (no float in the output).
    *
    * Algorithm: wedge counting — each pair with a common neighbor appears
    * once per shared pivot vertex, so a self-join of the neighbor table on
    * the pivot (oriented a < b to count each pair once) + a count gives
    * the intersection size without ever materializing neighbor SETS.
    *
    * Scale notes (100 TB): the wedge join is the quadratic hazard — a
    * degree-d pivot emits d(d−1)/2 pairs, so super-hub pivots (celebrity
    * nodes) are EXCLUDED via `maxPivotDegree` (the standard top-degree
    * cutoff in link-prediction pipelines: a hub shared by everyone carries
    * no similarity signal, and d² on a 10⁷-degree hub is not computable on
    * any cluster). The cutoff is part of the operator's contract — the
    * oracle applies the same cap. Both joins are equi-joins; the neighbor
    * table is edge-sized (2m rows) and the pair table is bounded by
    * Σ_pivot min(d, cap)².
    */
  def neighborJaccard(edges: DataFrame, minJaccardPct: Int,
                      maxPivotDegree: Long): DataFrame = {
    require(minJaccardPct >= 0 && minJaccardPct <= 100,
      s"minJaccardPct must be in [0,100]: $minJaccardPct")
    require(maxPivotDegree >= 1, s"maxPivotDegree must be >= 1: $maxPivotDegree")
    val und = Checkpointer(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // neighbor table, both directions: (v, w) = w is a neighbor of v
    val nb = und.select(col("a").as("v"), col("b").as("w"))
      .union(und.select(col("b").as("v"), col("a").as("w")))
    val deg = nb.groupBy("v").agg(count(lit(1)).as("deg"))
    val pivotOk = deg.filter(col("deg") <= maxPivotDegree)
      .select(col("v").as("w"))
    val byPivot = nb.select(col("v"), col("w"))
      .join(pivotOk, Seq("w"), "left_semi")
    // wedge join on the pivot w; orient v1 < v2 so each pair counts once
    // per shared neighbor. Pair-table sizes are data-dependent — merge
    // hint, never a mis-planned broadcast.
    val pairs = byPivot.select(col("w"), col("v").as("v1"))
      .join(byPivot.select(col("w"), col("v").as("v2")).hint("merge"), Seq("w"))
      .filter(col("v1") < col("v2"))
      .groupBy("v1", "v2").agg(count(lit(1)).as("n_common"))
    pairs
      .join(deg.select(col("v").as("v1"), col("deg").as("deg_a")), Seq("v1"))
      .join(deg.select(col("v").as("v2"), col("deg").as("deg_b")), Seq("v2"))
      .filter(col("n_common") * 100 >=
        lit(minJaccardPct) * (col("deg_a") + col("deg_b") - col("n_common")))
      .select(col("v1").as("a"), col("v2").as("b"),
        col("n_common"), col("deg_a"), col("deg_b"))
  }

  /** Link prediction by resource-allocation index (Zhou/Lü/Zhang 2009 —
    * the exactly-integerizable member of the Adamic-Adar family): for
    * every NON-ADJACENT vertex pair (a < b) sharing at least one
    * neighbor, `ra_micro` = Σ over common neighbors z of
    * `1 000 000 div deg(z)` — rare shared neighbors score high, hubs
    * contribute ~nothing. Unlike [[neighborJaccard]] (which profiles
    * existing structure), the anti-join against the edge set makes this
    * a candidate generator: the output IS the ranked list of links the
    * graph does not have yet.
    *
    * Same wedge-pivot algorithm and `maxPivotDegree` quadratic guard as
    * neighborJaccard; the pivot's integer weight rides the wedge row, so
    * scoring adds one broadcast-sized degree join and zero extra
    * shuffles, and the final anti-join is edge-keyed. Integer div makes
    * every score replay exactly cross-engine.
    */
  def resourceAllocation(edges: DataFrame, maxPivotDegree: Long): DataFrame = {
    require(maxPivotDegree >= 1, s"maxPivotDegree must be >= 1: $maxPivotDegree")
    val und = Checkpointer(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val nb = und.select(col("a").as("v"), col("b").as("w"))
      .union(und.select(col("b").as("v"), col("a").as("w")))
    val deg = nb.groupBy("v").agg(count(lit(1)).as("deg"))
    // pivot weight joins BEFORE the wedge join: each wedge row carries
    // its pivot's 1e6 div deg, the pair aggregate just sums
    val pivotW = deg.filter(col("deg") <= maxPivotDegree)
      .select(col("v").as("w"), expr("1000000 div deg").as("w_micro"))
    val byPivot = nb.join(pivotW, Seq("w"))
    val pairs = byPivot.select(col("w"), col("w_micro"), col("v").as("v1"))
      .join(byPivot.select(col("w"), col("v").as("v2")).hint("merge"), Seq("w"))
      .filter(col("v1") < col("v2"))
      .groupBy("v1", "v2")
      .agg(count(lit(1)).as("n_common"), sum(col("w_micro")).as("ra_micro"))
    pairs
      // predicted links only: drop pairs that are already edges
      .join(und.select(col("a").as("v1"), col("b").as("v2")), Seq("v1", "v2"),
        "left_anti")
      .filter(col("ra_micro") >= 0L)
      .select(col("v1").as("a"), col("v2").as("b"), col("n_common"),
        col("ra_micro"))
  }

  /** Synchronous label propagation (community detection): `rounds` rounds
    * of `label(v) ← most frequent label among v's neighbors`, undirected,
    * ties broken by SMALLEST label, initial label = the vertex key itself.
    * Every quantity is an integer and the tie-break is total, so —
    * unlike [[pageRank]]'s float sums — the rounds replay EXACTLY in any
    * engine and the registry entry carries a full DuckDB oracle (unrolled
    * rounds as materialized CTEs).
    *
    * Scale shape per round: ONE edge-scale equi-join (neighbor labels) +
    * two map-combinable aggregates (max count per vertex; min label at
    * that count) + one vertex-sized co-partitioned join between them — no
    * windows, no driver state beyond the loop counter. [[Checkpointer]]
    * truncates lineage and each round releases its predecessor (the
    * [[pageRank]] storage discipline).
    *
    * Non-integral vertex keys (URI graphs) are dictionary-encoded to
    * dense longs INTERNALLY, like [[pageRank]]: every round shuffles the
    * symmetric edge table on its keys, so at 15 M 60-byte-URI edges the
    * key bytes dominate exchange volume — two edge-scale joins once buy
    * 8-byte keys for every round. Unlike pageRank's, this dictionary must
    * be ORDER-PRESERVING (vid rank = key rank): label identity IS the
    * vertex key and ties break by SMALLEST label, so min over vids must
    * agree with min over the caller's keys. The rank is built with a
    * range-partitioned sort + zipWithIndex (the TeraSort shape — one
    * vertex-sized sort, never a data-sized unpartitioned window), and
    * both output columns decode back through vertex-sized joins.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val eCaller = edges.select(col("src"), col("dst"))
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
    if (integral.contains(eCaller.schema("src").dataType))
      return lpaRounds(eCaller, rounds)
    val eRaw = Checkpointer(eCaller.distinct())
    val keys = eRaw.select(col("src").as("id"))
      .union(eRaw.select(col("dst").as("id"))).distinct()
    val dict = Checkpointer(orderPreservingIds(keys))
    val e = Checkpointer(eRaw
      .join(dict.select(col("id").as("src"), col("vid").as("vsrc")), Seq("src"))
      .join(dict.select(col("id").as("dst"), col("vid").as("vdst")), Seq("dst"))
      .select(col("vsrc").as("src"), col("vdst").as("dst")))
    Checkpointer.release(eRaw) // the loop reads only the encoded edge table
    val enc = lpaRounds(e, rounds)
    Checkpointer.release(e)
    // decode BOTH columns back to caller keys (vertex-sized joins, once);
    // order preservation already guaranteed min(vid-label) = min(key-label)
    enc
      .join(dict.select(col("vid").as("id"), col("id").as("__id_key")), Seq("id"))
      .join(dict.select(col("vid").as("label"), col("id").as("__label_key")),
        Seq("label"))
      .select(col("__id_key").as("id"), col("__label_key").as("label"))
  }

  /** One SYNCHRONOUS Louvain level (Blondel et al. 2008, phase 1) in
    * EXACT integer arithmetic — the community *search* to complement the
    * engine's community *scoring* ([[labelPropagation]] assigns by vote;
    * modularity-gain moves assign by objective). Every vertex starts as
    * its own community; each round every vertex simultaneously picks,
    * among its neighbors' current communities and its own, the one
    * maximizing the modularity insertion gain with itself removed from
    * its current community:
    *
    *   G(v → c) · 4m² ∝ 2m·k_{v,c} − deg(v)·(Σtot_c − [c = cur(v)]·deg(v))
    *
    * (k_{v,c} = edges from v into c, Σtot_c = degree mass of c). The
    * scaled gain is a plain Long, the tie-break is total (max gain, then
    * SMALLEST community id), so rounds replay EXACTLY in any engine —
    * the [[labelPropagation]] determinism discipline applied to the
    * modularity objective. Classic sequential Louvain moves one vertex
    * at a time; distributed formulations compute all moves against the
    * round-start assignment and must break the symmetric-swap
    * oscillation (two adjacent vertices joining each other's community
    * forever) — here by PARITY ALTERNATION: round r applies moves only
    * to vertices with id ≡ r (mod 2), so use an EVEN `rounds` to give
    * both classes equal turns. Still exactly replayable: the parity
    * gate is pure integer arithmetic on the (encoded) id.
    *
    * Scale shape per round: ONE edge-scale equi-join (neighbor
    * communities) + three map-combinable aggregates (k per (v, c), Σtot
    * per c, max-gain per v) + vertex-sized joins — no windows, no driver
    * state beyond the loop counter; [[Checkpointer]] truncates lineage.
    * Non-integral keys dictionary-encode through the SAME
    * order-preserving ids as [[labelPropagation]] (min-community
    * tie-breaks must agree between vid and caller-key order); both
    * output columns decode back through vertex-sized joins.
    *
    * Returns (`id`, `community`) for every vertex with an edge.
    */
  def louvainLevel(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val eCaller = edges.select(col("src"), col("dst"))
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
    // the encode decision must read BOTH endpoint types: deciding from src
    // alone sent a mixed (integral src, string dst) table down the
    // no-encode path, failing rounds later with an opaque cast/join error
    // (review finding, round 12) — fail fast with the real problem instead
    val (srcInt, dstInt) = (integral.contains(eCaller.schema("src").dataType),
      integral.contains(eCaller.schema("dst").dataType))
    require(srcInt == dstInt,
      s"louvainLevel: src/dst types disagree (src: " +
        s"${eCaller.schema("src").dataType.simpleString}, dst: " +
        s"${eCaller.schema("dst").dataType.simpleString}) — both endpoints " +
        "must be integral, or both non-integral (dictionary-encoded)")
    if (srcInt)
      return louvainRounds(eCaller, rounds)
    val eRaw = Checkpointer(eCaller.distinct())
    val keys = eRaw.select(col("src").as("id"))
      .union(eRaw.select(col("dst").as("id"))).distinct()
    val dict = Checkpointer(orderPreservingIds(keys))
    val e = Checkpointer(eRaw
      .join(dict.select(col("id").as("src"), col("vid").as("vsrc")), Seq("src"))
      .join(dict.select(col("id").as("dst"), col("vid").as("vdst")), Seq("dst"))
      .select(col("vsrc").as("src"), col("vdst").as("dst")))
    Checkpointer.release(eRaw)
    val enc = louvainRounds(e, rounds)
    Checkpointer.release(e)
    enc
      .join(dict.select(col("vid").as("id"), col("id").as("__id_key")), Seq("id"))
      .join(dict.select(col("vid").as("community"), col("id").as("__comm_key")),
        Seq("community"))
      .select(col("__id_key").as("id"), col("__comm_key").as("community"))
  }

  /** The synchronous modularity-gain move loop on an already-encoded (or
    * natively integral) edge table: the weight-1, no-self-loop case of
    * [[louvainWeightedLevel]] (counts ARE unit-weight sums) — see
    * [[louvainLevel]] for semantics.
    */
  private def louvainRounds(eRaw: DataFrame, rounds: Int): DataFrame =
    louvainWeightedLevel(
      eRaw.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
        .withColumn("w", lit(1L)),
      rounds)

  /** One WEIGHTED Louvain level over a contracted graph — the second half
    * of the Louvain pyramid: after [[louvainLevel]] assigns communities,
    * the graph contracts to supernodes (edge weight = inter-community
    * edge count, self-loop = intra count) and the SAME parity-alternating
    * integer gain moves run on weights:
    *
    *   G(v → c) ∝ 2·W·k_{v,c} − s(v)·(Σtot_c − [c = cur(v)]·s(v))
    *
    * with W = total edge weight (self-loops once), s(v) = strength
    * (incident weight, self-loops twice — so Σs = 2W, the unweighted
    * degree convention), k_{v,c} = weight from v into c excluding v's
    * self-loop (constant across choices, hence ignorable). Input
    * `wedges` must be UNDIRECTED-normalized rows (`a`, `b`, `w`) with
    * a ≤ b; integral node ids (contracted graphs are — community ids are
    * vertex ids). Returns (`id`, `community`).
    */
  def louvainWeightedLevel(wedges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val we = Checkpointer(wedges.select(col("a"), col("b"), col("w").cast("long").as("w")))
    val sym = Checkpointer(we.filter(col("a") =!= col("b"))
      .select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(we.filter(col("a") =!= col("b"))
        .select(col("b").as("src"), col("a").as("dst"), col("w"))))
    val wRow = we.agg(sum(col("w")).as("m")) // 1 row — broadcast into gains
    val str = Checkpointer(sym.select(col("src").as("id"), col("w"))
      .unionByName(we.filter(col("a") === col("b"))
        .select(col("a").as("id"), (col("w") * 2).as("w")))
      .groupBy("id").agg(sum(col("w")).as("dv")))
    val labels = Checkpointer.iterate(
        Checkpointer(str.select(col("id"), col("id").as("community"))), rounds,
        (_, _) => false) { (cur, r) =>
      val tot = cur.join(str, Seq("id"))
        .groupBy("community").agg(sum(col("dv")).as("tot"))
      val kvc = sym
        .join(cur.select(col("id").as("dst"), col("community")), Seq("dst"))
        .groupBy(col("src").as("v"), col("community"))
        .agg(sum(col("w")).as("k"))
      val cand = kvc.select(col("v"), col("community"), col("k"))
        .unionByName(cur.select(col("id").as("v"), col("community"),
          lit(0L).as("k")))
        .groupBy("v", "community").agg(max(col("k")).as("k"))
      val gains = cand
        .join(str.select(col("id").as("v"), col("dv")), Seq("v"))
        .join(cur.select(col("id").as("v"), col("community").as("cur_comm")),
          Seq("v"))
        .join(tot, Seq("community"))
        .crossJoin(broadcast(wRow))
        .select(col("v"), col("community"),
          (lit(2L) * col("m") * col("k") - col("dv") *
            (col("tot") - when(col("community") === col("cur_comm"),
              col("dv")).otherwise(lit(0L)))).as("gain"))
      val best = gains.groupBy("v").agg(max(col("gain")).as("mg"))
      // PARITY-ALTERNATING application (the distributed-Louvain oscillation
      // fix): when every vertex moves simultaneously, two adjacent
      // vertices each join the OTHER's community and swap forever instead
      // of merging (measured: q barely grows round over round). Round r
      // applies moves only to vertices of id parity r % 2 — a symmetric
      // swap can't happen when only one endpoint may move — so `rounds`
      // should be even (each parity moves rounds/2 times; round r here is
      // 1-based, so parity (r − 1) % 2 moves first).
      val chosen = gains.join(best, Seq("v"))
        .filter(col("gain") === col("mg"))
        .groupBy(col("v").as("id")).agg(min(col("community")).as("new_comm"))
      cur.select(col("id"), col("community").as("old_comm"))
        .join(chosen, Seq("id"))
        .select(col("id"),
          when(pmod(col("id"), lit(2L)) === lit((r - 1) % 2), col("new_comm"))
            .otherwise(col("old_comm")).as("community"))
    }
    Seq(we, sym, str).foreach(Checkpointer.release)
    labels
  }

  /** Contract an undirected edge table through a community assignment:
    * (`a`, `b`, `w`) rows with a ≤ b, inter-community weight = edge count
    * between the communities, self-loop weight = intra count — the input
    * [[louvainWeightedLevel]] expects. `und` must be undirected-distinct
    * (`a`, `b`); `labels` is (`id`, `community`).
    */
  def louvainContract(und: DataFrame, labels: DataFrame): DataFrame =
    und
      .join(labels.select(col("id").as("a"), col("community").as("__ca")), Seq("a"))
      .join(labels.select(col("id").as("b"), col("community").as("__cb")), Seq("b"))
      .select(least(col("__ca"), col("__cb")).as("a"),
        greatest(col("__ca"), col("__cb")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))

  /** Leiden refinement of a community assignment (Traag, Waltman & van
    * Eck 2019, "From Louvain to Leiden"): split every community into the
    * CONNECTED COMPONENTS of its induced subgraph. Louvain's gain moves
    * famously leave internally-disconnected communities behind (a bridge
    * vertex moves away and strands the two halves it connected); Leiden's
    * fix is this refinement pass between levels — the contracted graph
    * then aggregates connected sub-communities only, and the final
    * assignment is guaranteed internally connected. Splitting a
    * disconnected community strictly IMPROVES modularity: with zero edges
    * between the parts, ΔQ·4m² = 2·D₁·D₂ > 0, so refinement never costs
    * quality.
    *
    * `und` is the undirected-distinct edge table (`a`, `b`); `labels` is
    * (`id`, `community`). Refined community id = min vertex id of the
    * component (the [[ConnectedComponents]] labeling), so ids stay vertex
    * ids — directly contractable by [[louvainContract]]. Vertices with no
    * intra-community edge become singletons (their own id).
    *
    * Scale shape: two vertex-sized equi-joins to scope edges to their
    * community (intra edges never cross communities, so one global CC run
    * labels all communities at once — no per-community orchestration) +
    * the CC star-contraction rounds (O(log² n), edge-scale shuffles,
    * lineage truncated by [[Checkpointer]]).
    */
  def leidenRefine(und: DataFrame, labels: DataFrame): DataFrame = {
    val intra = und
      .join(labels.select(col("id").as("a"), col("community").as("__ca")), Seq("a"))
      .join(labels.select(col("id").as("b"), col("community").as("__cb")), Seq("b"))
      .filter(col("__ca") === col("__cb"))
      .select(col("a"), col("b"))
    ConnectedComponents.components(intra, "a", "b",
        vertices = Some(labels.select(col("id"))))
      .select(col("id"), col("component").as("community"))
  }

  /** Strongly connected components of a DIRECTED graph — the structure
    * [[ConnectedComponents]] (undirected) cannot see: a citation ring, a
    * mutual-redirect cluster, a cyclic ontology import are SCCs even when
    * the surrounding graph is a DAG. Forward–backward peeling (the FW-BW
    * family, Fleischer et al. 2000, expressed relationally):
    *
    * each outer round computes F(v) = min id that REACHES v and
    * B(v) = min id v reaches (two min-propagation fixpoints, the
    * [[ConnectedComponents]] semilattice discipline with a
    * monotone-fingerprint convergence test); vertices with F(v) == B(v)
    * = c are exactly SCC(c) (c →* v and v →* c), get assigned, and are
    * REMOVED — safe, because an intra-SCC path can never route through a
    * different (removed) SCC. Each round assigns at least the SCC of the
    * minimum remaining id, so rounds are bounded by the depth of the
    * SCC condensation order, not by vertex count.
    *
    * Scale shape: per propagation round ONE edge-scale equi-join + one
    * grouped min (map-combinable) on 8-byte-encodable keys; propagation
    * rounds are bounded by graph DIAMETER and the OUTER peel by the
    * condensation min-order depth (each round certifies the
    * reachability-minimum's SCC per weak component) — either bound
    * exceeded throws loudly; outer rounds shrink the edge table by
    * semi-joins against the survivors. `maxOuter`/`maxProp` bound the
    * rounds and THROW on non-convergence (never a silently partial
    * labeling — the CC contract).
    *
    * TRIM (FW-BW-Trim, the standard companion pass): before each FW-BW
    * round, vertices with in-degree 0 OR out-degree 0 in the REMAINING
    * graph are singleton SCCs by definition (a cycle through v needs both
    * an in- and an out-edge) and peel off with ONE cheap anti-join per
    * iteration — no min-propagation fixpoint. Iterated to its own
    * fixpoint (≤ `maxTrim` iterations; 0 disables), trim consumes the
    * acyclic fringes — source/sink trees and CHAINS — that otherwise cost
    * a full outer FW-BW round EACH (a directed path assigns exactly its
    * head and tail per outer round: everything between has F ≠ B), so a
    * high-diameter chain into a cycle converges in trim iterations + ONE
    * FW-BW round instead of overflowing `maxOuter`. Trim singletons are
    * labeled with their own id — exactly the min-mutually-reachable-id
    * contract for a singleton SCC. `stats`, when supplied, records the
    * round/assignment split so the reduction is measurable.
    */
  final class SccStats {
    var outerRounds: Int = 0
    var trimIterations: Int = 0
    var trimAssigned: Long = 0L
    var fwbwAssigned: Long = 0L
  }

  def stronglyConnectedComponents(edges: DataFrame, vertices: Option[DataFrame] = None,
      maxProp: Int = 60, maxTrim: Int = 64, stats: Option[SccStats] = None): DataFrame = {
    val maxOuter = 20
    // lazy pair, materialized together by the vertex count (no truncated
    // input is released before it, so the lazy-checkpoint contract holds)
    var rem = Checkpointer.lazily(edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).distinct())
    var remV = Checkpointer.lazily(rem.select(col("src").as("id"))
      .union(rem.select(col("dst").as("id"))).distinct())
    var nRem = remV.count()
    val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    while (nRem > 0 && outer < maxOuter) {
      // trim to fixpoint: each iteration peels the current degree-0 fringe
      // (in OR out), which exposes the next — one count per iteration,
      // exits on the first empty peel. The common case (cycles-only
      // remainder, trim finds nothing) pays ONE cheap two-anti-join check
      // per outer round; a batched multi-peel variant was tried and
      // REVERTED — on the tiny remaining-graph frames these loops produce
      // the cost is join-STAGE count, not materialization count, and
      // batching doubled the empty-check's plan for zero stage savings.
      // A pure chain inherently peels one vertex per iteration (only its
      // head is degree-0), so trim cost on chains is length-proportional
      // by construction — WIDE fringes (source/sink trees, the real-world
      // shape) peel a full layer per iteration, which is where trim pays.
      var t = 0
      var peeled = true
      while (peeled && t < maxTrim && nRem > 0) {
        // LAZY checkpoints, materialized inside the two counts this
        // iteration already needs (triv size; nextE before the releases) —
        // 2 driver jobs per peel instead of 4 eager-checkpoint+count jobs (the
        // ConnectedComponents batched-round discipline; ~60 ms fixed
        // latency per job dominates these fringe-sized frames, and trim
        // iterations are the bulk of this operator's job count — profiled
        // r17: 218 jobs / 7.5 s at sf0.1)
        val triv = Checkpointer.lazily(remV
          .join(rem.select(col("dst").as("id")), Seq("id"), "left_anti")
          .union(remV.join(rem.select(col("src").as("id")), Seq("id"), "left_anti"))
          .distinct())
        val nTriv = triv.count()
        if (nTriv == 0) { Checkpointer.release(triv); peeled = false }
        else {
          done += triv.select(col("id"), col("id").as("scc"))
          val nextV = Checkpointer.lazily(remV.join(triv, Seq("id"), "left_anti"))
          val nextE = Checkpointer.lazily(rem
            .join(nextV.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(nextV.select(col("id").as("dst")), Seq("dst"), "left_semi"))
          // one all-partition action materializes nextV and nextE BEFORE
          // their truncated-lineage inputs are released (the lazy-checkpoint
          // safety contract)
          nextE.count()
          Seq(remV, rem).foreach(Checkpointer.release)
          remV = nextV; rem = nextE
          nRem -= nTriv
          stats.foreach { st => st.trimIterations += 1; st.trimAssigned += nTriv }
          t += 1
        }
      }
      if (nRem > 0) {
        // The forward and backward fixpoints are INDEPENDENT — both only
        // read the frozen (checkpointed) rem/remV frames — so they run
        // CONCURRENTLY from two driver threads (optimization guide §2.6,
        // overlap independent jobs): each propagation round is a tiny
        // shuffle plus fixed driver latency that leaves most of the
        // cluster idle, and the two fixpoints' jobs back-fill each other.
        // Spark's FIFO scheduler interleaves them; results are unchanged
        // (each fixpoint is deterministic and shares no mutable state —
        // the Checkpointer is one stateless object).
        val fwdF = scala.concurrent.Future(
          minPropagate(rem, remV, reversed = false, maxProp))(
          scala.concurrent.ExecutionContext.global)
        val bwd = minPropagate(rem, remV, reversed = true, maxProp)
        val fwd = scala.concurrent.Await.result(
          fwdF, scala.concurrent.duration.Duration.Inf)
        // same 2-action batching as the trim loop: nextE's count
        // materializes assigned → nextV → nextE before any release; the
        // remaining-vertex count then reads nextV's materialized blocks
        val assigned = Checkpointer.lazily(
          fwd.join(bwd.withColumnsRenamed(Map("lab" -> "blab")), Seq("id"))
            .filter(col("lab") === col("blab"))
            .select(col("id"), col("lab").as("scc")))
        done += assigned
        val nextV = Checkpointer.lazily(remV.join(assigned, Seq("id"), "left_anti"))
        val nextE = Checkpointer.lazily(rem
          .join(nextV.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(nextV.select(col("id").as("dst")), Seq("dst"), "left_semi"))
        nextE.count()
        Seq(fwd, bwd, remV, rem).foreach(Checkpointer.release)
        remV = nextV
        rem = nextE
        val before = nRem
        nRem = remV.count()
        stats.foreach(_.fwbwAssigned += before - nRem)
        outer += 1
      }
    }
    stats.foreach(_.outerRounds = outer)
    if (nRem > 0)
      throw new IllegalStateException(
        s"SCC peeling did not converge in $maxOuter outer rounds " +
          "(condensation deeper than maxOuter; raise it)")
    val assigned = done.reduceOption(_ union _)
      .getOrElse(rem.select(col("src").as("id"), col("src").as("scc")).limit(0))
    Checkpointer.release(remV)
    if (done.nonEmpty) Checkpointer.release(rem)
    vertices match {
      case None => assigned
      case Some(vs) =>
        vs.select(col("id"))
          .join(assigned, Seq("id"), "left")
          .select(col("id"), coalesce(col("scc"), col("id")).as("scc"))
    }
  }

  /** Min-label propagation fixpoint over directed edges (reachability
    * semilattice): lab(v) = min over {v} ∪ {lab(u) : u → v} (or the
    * reversed relation). Labels only decrease, so the state fingerprint
    * of [[Checkpointer.untilStable]] is a sound convergence test; throws
    * after `maxProp` rounds.
    */
  private def minPropagate(e: DataFrame, verts: DataFrame, reversed: Boolean,
                           maxProp: Int): DataFrame = {
    val ed = if (reversed) e.select(col("dst").as("src"), col("src").as("dst")) else e
    // (r17 note: pre-hash-partitioning `ed` on the join key once per
    // fixpoint — guide §2.4, one exchange for the fixed side — was tried
    // and REVERTED: measured 9.1 → 11.3 s on g_scc at sf0.1 over three
    // reps. The explicit repartition pins the partition count, defeating
    // AQE's per-round coalescing of these fringe-sized frames, and adds a
    // materialization per fixpoint; the broadcast-sized label side never
    // paid an edge re-exchange to begin with once AQE plans the round's
    // join as broadcast.)
    // BATCHED propagation: two one-hop min rounds per checkpoint, lazily
    // materialized inside the fingerprint's action — 1 driver job per 2
    // rounds instead of 2 jobs per round (the ~60 ms/job driver latency
    // dominates these small-state fixpoints; see ConnectedComponents).
    // Labels only decrease and the fixpoint is idempotent, so a batch
    // straddling convergence re-emits the converged labeling and the
    // batch-end fingerprint stabilizes one comparison later.
    //
    // (Round-13 note: VALUE-pointer jumping — lab(v) ← min(lab(v),
    // lab(lab(v))) — was prototyped here and REVERTED: it is sound
    // (reach-min is transitive) and collapses descending id chains
    // geometrically, but it only forms chains when ids happen to descend
    // along the propagation direction — on the ascending-id cycle the
    // FORWARD pass converged in 8 rounds while the REVERSED pass
    // degraded to exactly one hop per round, so the worst case stays
    // diameter-bounded while paying an extra join per round. True
    // log-round reach-min needs transitive-closure-sized state; the
    // honest contract remains the documented diameter bound with a loud
    // maxProp failure.)
    Checkpointer.untilStable(Checkpointer(verts.withColumn("lab", col("id"))),
        (maxProp + 1) / 2, eager = false,
        s"min propagation did not converge in $maxProp rounds " +
          "(graph diameter exceeds maxProp; raise it)") { labels =>
      (0 until 2).foldLeft(labels) { (nl, _) =>
        val msgs = ed.join(nl.withColumnsRenamed(Map("id" -> "src")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(min(col("lab")).as("mlab"))
        nl.join(msgs, Seq("id"), "left")
          .select(col("id"), least(col("lab"), coalesce(col("mlab"), col("lab"))).as("lab"))
      }
    }
  }

  /** vid = rank of `id` in ascending key order: an order-preserving dense
    * dictionary (`id`, `vid` LONG) — [[graft.ops.Ids.denseIds]] under the
    * graph loops' column conventions.
    */
  private def orderPreservingIds(keys: DataFrame): DataFrame =
    Ids.denseIds(keys, "id", "vid", assumeDistinct = true)

  /** The synchronous LPA vote loop on an already-encoded (or natively
    * integral) edge table — see [[labelPropagation]] for semantics.
    */
  private def lpaRounds(eRaw: DataFrame, rounds: Int): DataFrame = {
    val sym = Checkpointer(eRaw
      .union(eRaw.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct())
    val labels = Checkpointer.iterate(Checkpointer(sym.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))), rounds, (_, _) => false) { (labels, _) =>
      val votes = sym
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val best = votes.groupBy("src").agg(max(col("cnt")).as("m"))
      votes.join(best, Seq("src"))
        .filter(col("cnt") === col("m"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("label"))
    }
    Checkpointer.release(sym)
    labels
  }

  /** HITS hubs-and-authorities power iteration (Kleinberg), UNNORMALIZED
    * integer form: h₀ ≡ 1; each round r computes
    * aᵣ(v) = Σ_{(u,v)∈E} hᵣ₋₁(u)  then  hᵣ(v) = Σ_{(v,w)∈E} aᵣ(w).
    * Returns (`id`, `hub`, `auth`) after `rounds` full rounds, 0 for
    * vertices with no in/out edges respectively.
    *
    * Dropping the per-round L2 normalization keeps every score an EXACT
    * integer — order-independent sums that an external engine replays
    * bit-for-bit (the pageRank-micro discipline, minus the floats
    * entirely). Rankings are what HITS is consumed for and normalization
    * is rank-preserving (a positive global scalar per round); a consumer
    * needing unit scores divides by one combinable global sum at the end.
    * Scores grow by at most a factor of max-degree² per round, so the
    * declared-horizon discipline of [[shortestPaths]] applies: callers
    * bound `rounds` such that n·degree^(2·rounds) fits 63 bits (e.g. two
    * rounds on a degree-1000 graph peaks near 10¹⁵); under ANSI mode an
    * overflow fails the sum loudly rather than wrapping, and HITS
    * converges in a handful of iterations in practice.
    *
    * Scale per round: two equi-joins of the edge table against a
    * vertex-sized score frame plus two map-combinable sums — shuffles on
    * dst then src (bucket the edge table BOTH ways at billion-edge scale
    * to make every round exchange-free). [[Checkpointer]] truncates the
    * per-round lineage; one live (a, h) pair at a time.
    */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    // checkpoint the deduped edge table so its distinct() shuffle runs once, not
    // twice per round under the two per-round joins (pageRank discipline)
    val e = Checkpointer(edges.select(col("src"), col("dst")).distinct())
    val vertices = Checkpointer(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    // one round is two checkpoints — authorities from hubs, then hubs from
    // those authorities: the driver carries h, the round's a lives here
    var a: DataFrame = null
    val h = Checkpointer.iterate(vertices.withColumn("s", lit(1L)), rounds,
        (_, _) => false) { (h, _) =>
      Option(a).foreach(Checkpointer.release)
      a = Checkpointer(e.join(h.select(col("id").as("src"), col("s")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("s")).as("s")))
      e.join(a.select(col("id").as("dst"), col("s")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("s")).as("s"))
    }
    // the returned plan reads only vertices and the (checkpointed) final
    // a/h, which stay live; the edge table is no longer referenced
    Checkpointer.release(e)
    vertices
      .join(h.select(col("id"), col("s").as("hub")), Seq("id"), "left")
      .join(a.select(col("id"), col("s").as("auth")), Seq("id"), "left")
      .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
  }

  /** Deterministic random walks (the node2vec/DeepWalk corpus generator):
    * from each start, 3 transitions where step t out of node u picks
    * neighbor index md5(walk:t:u) mod outdegree — a cross-engine-
    * reproducible "random" choice, so walk corpora are stable across
    * reruns and engines (no RNG state on executors). Per step: ONE
    * shuffle join of the walk frontier against the ranked-neighbor table
    * (per-src rank + degree from a src-partitioned window); the `deg`-way
    * join fan-out collapses to exactly one row per walk by the index
    * filter. Walks reaching a sink (no out-edges) are dropped by the
    * inner join — only complete walks are emitted.
    *
    * Output: (walk_id, v0 .. v3), wide format.
    */
  def randomWalks(edges: DataFrame, starts: DataFrame): DataFrame = {
    val wN = org.apache.spark.sql.expressions.Window
      .partitionBy("__s").orderBy("__d")
    val nbrs = edges.select(col("src").as("__s"), col("dst").as("__d")).distinct()
      .withColumn("idx", row_number().over(wN) - 1)
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__s")))
    var cur = starts.select(col("walk_id"), col("start").as("v0"))
    for (t <- 1 to 3) {
      val prev = s"v${t - 1}"
      val pick = conv(substring(md5(concat_ws(":",
          col("walk_id"), lit(t), col(prev))), 1, 8), 16, 10)
        .cast("long") % col("deg")
      cur = cur.join(nbrs, col(prev) === col("__s"))
        .filter(col("idx") === pick)
        .drop("__s", "idx", "deg")
        .withColumnRenamed("__d", s"v$t")
    }
    cur
  }

  /** EXACT neighborhood function: for each t in 0..`maxT`, the number of
    * ordered vertex pairs (u, w) with a directed path u→w of length ≤ t
    * (every vertex reaches itself at t = 0). This is the graph's distance
    * distribution — the quantity behind effective-diameter and
    * average-distance reports. Output: (`t`, `n_pairs`), maxT+1 rows.
    *
    * Per round ONE pairs ⋈ edges equi-join on the frontier's endpoint +
    * distinct, with the [[bfsLevels]] frontier discipline (only NEWLY
    * reached pairs join next round; one visited copy + one frontier copy
    * live at a time, [[Checkpointer]]-truncated). The driver holds maxT+1
    * counters — never pair data.
    *
    * This exact tier materializes the reachable-pair set, which on dense
    * graphs approaches |V|² — the VERIFICATION twin. At 100-TB scale use
    * [[hyperBall]]: same per-round join shape, but per-vertex state is a
    * fixed-size HLL register set instead of the pair set.
    */
  def neighborhoodFunction(edges: DataFrame, maxT: Int): DataFrame = {
    require(maxT >= 0, "neighborhoodFunction: maxT must be >= 0")
    val spark = edges.sparkSession
    val e = edges.select(col("src").as("w"), col("dst").as("nw")).distinct()
    val verts = e.select(col("w").as("u")).union(e.select(col("nw").as("u"))).distinct()
    val seed = Checkpointer(verts.select(col("u"), col("u").as("w")))
    // newly reached pairs per round; the first round that reaches none
    // ends the loop, and every later N(t) equals N(t-1)
    val reached = scala.collection.mutable.ArrayBuffer(seed.count())
    val (visited, frontiers) = frontierRounds(seed, maxT, { next =>
      val n = next.count()
      if (n > 0L) reached += n
      n == 0L
    }) { (frontier, visited, _) =>
      frontier.join(e, Seq("w"))
        .select(col("u"), col("nw").as("w")).distinct()
        .join(visited, Seq("u", "w"), "left_anti")
    }
    (visited +: frontiers).distinct.foreach(Checkpointer.release)
    val cumulative = reached.scanLeft(0L)(_ + _).tail
    import spark.implicits._
    (0 to maxT).map(t => (t, cumulative(math.min(t, cumulative.length - 1)))).toSeq
      .toDF("t", "n_pairs")
  }

  /** HyperBall (Boldi & Vigna, 2013 — public algorithm): the neighborhood
    * function estimated with per-vertex HLL sketches. State is ONE fixed-
    * size register set per vertex (a binary column) instead of the
    * reachable-pair set: round t unions each vertex's sketch with its
    * out-neighbors' sketches — `contributions = edges ⋈ counters` on the
    * neighbor endpoint, then `hll_union_agg` per vertex (map-combinable,
    * partial sketches merge associatively) — and N(t) is the sum of
    * per-vertex estimates. Per-round cost is edge-scale with O(2^lgK)
    * bytes per vertex (lgK = 12) regardless of reachable-set size, which is what
    * makes distance distributions computable on billion-vertex graphs
    * where [[neighborhoodFunction]]'s exact pair set cannot exist.
    *
    * Output: (`t`, `n_est` LONG — `hll_sketch_estimate` rounds to long),
    * maxT+1 rows; the driver collects one long per round. Estimates are
    * exact while per-vertex reachable sets are small (DataSketches HLL
    * stores small sets losslessly), so specs can pin equality on small
    * graphs and entries guard a tolerance.
    */
  def hyperBall(edges: DataFrame, maxT: Int): DataFrame = {
    require(maxT >= 0, "hyperBall: maxT must be >= 0")
    val spark = edges.sparkSession
    val e = edges.select(col("src").as("id"), col("dst").as("nid")).distinct()
    val verts = e.select(col("id")).union(e.select(col("nid").as("id"))).distinct()
    def estSum(c: DataFrame): Long = c
      .agg(sum(expr("hll_sketch_estimate(sk)"))).head().getLong(0)
    val ests = Array.ofDim[Long](maxT + 1)
    // round t estimates N(t − 1) from its input before extending it, so
    // the estimates run in round order: N(0), round 1, N(1), round 2, …
    val counters = Checkpointer.iterate(Checkpointer(verts.groupBy("id")
        .agg(expr("hll_sketch_agg(id, 12)").as("sk"))), maxT, (_, _) => false) { (counters, t) =>
      ests(t - 1) = estSum(counters)
      val contrib = e.join(counters.select(col("id").as("nid"), col("sk")), Seq("nid"))
        .select(col("id"), col("sk"))
      counters.select(col("id"), col("sk")).union(contrib)
        .groupBy("id").agg(expr("hll_union_agg(sk)").as("sk"))
    }
    ests(maxT) = estSum(counters)
    Checkpointer.release(counters)
    import spark.implicits._
    ests.zipWithIndex.map { case (n, i) => (i, n) }.toSeq
      .toDF("t", "n_est")
  }

  /** node2vec-style SECOND-ORDER biased random walks (Grover & Leskovec,
    * KDD'16 — public algorithm): the next hop from `cur` given `prev` is
    * drawn with weight `wReturn` for the return candidate (cand = prev),
    * `wCommon` for candidates ADJACENT to prev (a directed edge
    * prev→cand exists), and 1 otherwise — integer weights standing
    * in for node2vec's 1/p, 1, 1/q (e.g. p=2, q=4 scaled by 4 →
    * 2/4/1). Step 1 has no prev and is uniform (the [[randomWalks]]
    * rule).
    *
    * Determinism: the "random" draw is r = md5(n2v:walk:t:prev:cur) mod
    * Σweights against the candidates' cumulative weights in dst order —
    * the same cross-engine-reproducible choice [[randomWalks]] uses,
    * extended to a weighted distribution, so walk corpora are stable
    * across reruns AND the full 2nd-order bias is SQL-replayable.
    *
    * Per step: ONE frontier ⋈ edges equi-join on cur (the candidate
    * fan-out is the out-degree), one LEFT join against the edge set on
    * (prev, cand) for the adjacency flag, and a walk-partitioned window
    * over the ≤ out-degree candidate rows; the range filter collapses
    * the fan-out to exactly one row per live walk. Walks reaching a sink
    * are dropped by the inner join — only complete walks are emitted.
    * Output: (walk_id, v0 .. v3), wide format.
    */
  def node2vecWalks(edges: DataFrame, starts: DataFrame,
                    wReturn: Long, wCommon: Long): DataFrame = {
    require(wReturn > 0 && wCommon > 0,
      "node2vecWalks: weights must be positive integers")
    val e = edges.select(col("src").as("__s"), col("dst").as("__d")).distinct()
    val wN = org.apache.spark.sql.expressions.Window
      .partitionBy("__s").orderBy("__d")
    val nbrs = e
      .withColumn("idx", row_number().over(wN) - 1)
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__s")))
    var cur = starts.select(col("walk_id"), col("start").as("v0"))
    // step 1: uniform over N(v0)
    val pick1 = conv(substring(md5(concat_ws(":",
        lit("n2v"), col("walk_id"), lit(1), col("v0"))), 1, 8), 16, 10)
      .cast("long") % col("deg")
    cur = cur.join(nbrs, col("v0") === col("__s"))
      .filter(col("idx") === pick1)
      .drop("__s", "idx", "deg")
      .withColumnRenamed("__d", "v1")
    for (t <- 2 to 3) {
      val prev = s"v${t - 2}"
      val c = s"v${t - 1}"
      val adj = e.select(col("__s").as("__ps"), col("__d").as("__pd"),
        lit(1).as("__adj"))
      val wWalk = org.apache.spark.sql.expressions.Window
        .partitionBy("walk_id")
      val wCum = wWalk.orderBy("__d")
      cur = cur
        .join(e, col(c) === col("__s"))
        .join(adj, col(prev) === col("__ps") && col("__d") === col("__pd"), "left")
        .withColumn("__w",
          when(col("__d") === col(prev), lit(wReturn))
            .when(col("__adj").isNotNull, lit(wCommon))
            .otherwise(lit(1L)))
        .withColumn("__cum", sum(col("__w")).over(wCum))
        .withColumn("__tot", sum(col("__w")).over(wWalk))
        .withColumn("__r", conv(substring(md5(concat_ws(":",
            lit("n2v"), col("walk_id"), lit(t), col(prev), col(c))), 1, 8), 16, 10)
          .cast("long") % col("__tot"))
        .filter(col("__cum") - col("__w") <= col("__r") && col("__r") < col("__cum"))
        .drop("__s", "__ps", "__pd", "__adj", "__w", "__cum", "__tot", "__r")
        .withColumnRenamed("__d", s"v$t")
    }
    cur
  }

  /** All-pairs shortest-path DISTANCES AND COUNTS within `maxT` directed
    * hops: one row per reachable ordered pair — (`src`, `w`, `dist`,
    * `sigma` = number of distinct shortest src→w paths), including
    * (u, u, 0, 1). Level-synchronous BFS from every source at once: the
    * round-t frontier holds exactly the pairs at distance t−1, so the
    * per-round join + σ-sum visits each shortest-path EDGE once —
    * σ(s, w, t) = Σ over frontier predecessors of σ(s, v), kept only for
    * (s, w) not yet visited (the [[bfsLevels]] discipline with a count
    * column). A minimal-length walk cannot repeat a vertex, so σ counts
    * paths exactly.
    *
    * Scale shape: output is Σ_v |ball(v, maxT)| rows — ball-volume-, not
    * |V|²-, bounded for small maxT; the same growth law as
    * [[neighborhoodFunction]]'s exact tier, so the same rule applies: keep
    * maxT small and slice the input for verification tiers, use sketches
    * for global reports.
    */
  def shortestPathCounts(edges: DataFrame, maxT: Int): DataFrame = {
    require(maxT >= 0, "shortestPathCounts: maxT must be >= 0")
    val e = edges.select(col("src").as("w"), col("dst").as("nw")).distinct()
    val verts = e.select(col("w").as("u")).union(e.select(col("nw").as("u"))).distinct()
    val (visited, frontiers) = frontierRounds(
        Checkpointer(verts.select(col("u").as("src"), col("u").as("w"),
          lit(0).as("dist"), lit(1L).as("sigma"))), maxT, _.isEmpty) { (frontier, visited, t) =>
      frontier.join(e, Seq("w"))
        .groupBy(col("src"), col("nw").as("w"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited.select("src", "w"), Seq("src", "w"), "left_anti")
        .select(col("src"), col("w"), lit(t).as("dist"), col("sigma"))
    }
    // every frontier is a slice of the output: pin one copy of it, THEN
    // release the per-round frames (the hyperBallExplicit lifecycle)
    val out = Checkpointer(frontiers.reduce(_ unionByName _))
    (visited +: frontiers).distinct.foreach(Checkpointer.release)
    out
  }

  /** Bounded-radius STRESS centrality (Shimbel 1953): for each vertex v,
    * the number of shortest s→t paths (over ordered pairs with
    * d(s, t) ≤ `maxT`, s ≠ v ≠ t) passing THROUGH v — the integer-exact
    * member of the betweenness family (betweenness's σ_st(v)/σ_st ratios
    * are rationals; stress sums raw counts, so it hash-checks
    * cross-engine). v lies on a shortest s→t path iff
    * d(s, v) + d(v, t) = d(s, t), contributing σ(s, v)·σ(v, t).
    *
    * Plan: [[shortestPathCounts]] once, then ONE self-join on the middle
    * vertex + ONE equi-join against the (s, t) distance row — per-v cost
    * is |in-ball| × |out-ball|, so the radius bound is the quadratic
    * guard. Output: (`id`, `stress`) for EVERY vertex (0 when on no path).
    */
  def stressCentrality(edges: DataFrame, maxT: Int): DataFrame = {
    val sp = shortestPathCounts(edges, maxT)
    val a = sp.select(col("src").as("s"), col("w").as("v"),
      col("dist").as("d1"), col("sigma").as("sig1"))
      .filter(col("s") =!= col("v"))
    val b = sp.select(col("src").as("v"), col("w").as("t"),
      col("dist").as("d2"), col("sigma").as("sig2"))
      .filter(col("v") =!= col("t"))
    // σ grows combinatorially with radius: a larger maxT than the
    // verification slice would silently wrap sig1·sig2 (and the group sum)
    // past Long range instead of failing loudly. Guard each factor to
    // < 2^31 (product < 2^62) and run the sum in Decimal(38,0), asserting
    // the total itself fits Long before casting back — the Bounded.guard
    // discipline, overflow-proof end to end.
    val longMax = lit(Long.MaxValue).cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val sigCap = 1L << 31
    val st = a.join(b, Seq("v"))
      .join(sp.select(col("src").as("s"), col("w").as("t"), col("dist")),
        Seq("s", "t"))
      .filter(col("d1") + col("d2") === col("dist"))
      .groupBy(col("v").as("id"))
      .agg(sum((Bounded.guard(col("sig1"), col("sig1") < sigCap &&
          col("sig2") < sigCap,
          "stressCentrality: shortest-path count beyond 2^31 — radius too " +
            "large for Long-exact stress; reduce maxT") * col("sig2"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("stress_dec"))
      .select(col("id"),
        Bounded.guard(col("stress_dec"), col("stress_dec") <= longMax,
          "stressCentrality: stress total beyond Long range; reduce maxT")
          .cast("long").as("stress"))
    // the vertex set is sp's dist=0 seed rows — already materialized, no
    // second edge scan + distinct needed
    val verts = sp.filter(col("dist") === 0).select(col("src").as("id"))
    // pin the (vertex-sized) result BEFORE releasing sp — releasing a
    // local-checkpointed frame a lazy consumer still reads would drop its
    // only copy
    val out = Checkpointer(verts.join(st, Seq("id"), "left")
      .na.fill(0L, Seq("stress")))
    Checkpointer.release(sp)
    out
  }

  /** HyperBall with EXPLICIT HLL registers — the independently-checkable
    * twin of [[hyperBall]]: instead of an opaque DataSketches binary, each
    * vertex's counter is a sparse `(id, j, r)` register table (j = register
    * index from the md5 low bits, r = rank = leading-zero count + 1 of a
    * 32-bit md5 window), and a round is `max(r)` per `(id, j)` over the
    * vertex's own registers ∪ its out-neighbors' registers — the same
    * edge-scale join + map-combinable aggregate shape as [[hyperBall]],
    * with O(2^lgK) register rows per vertex (lgK = 4). Every step is integer md5
    * arithmetic, so a SQL engine can replay the full state evolution and
    * hash-match it — the KMV/count-min oracle pattern extended to the
    * graph sketch (closes the "HyperBall guarded only vs exact" gap).
    *
    * Output: one row per round per live register — (`t`, `id`, `j`, `r`),
    * rounds 0..maxT. Derive N-hat(t) per vertex with the raw HLL
    * estimator in exact integer micro-units: with m = 2^lgK registers and
    * S·2^F = (m − live)·2^F + Σ 2^(F−r), N-hat_micro = α_m·1e6 · m² · 2^F
    * div S·2^F (F = 34 keeps every term in Long range for lgK ≤ 4).
    */
  def hyperBallExplicit(edges: DataFrame, maxT: Int): DataFrame = {
    require(maxT >= 0, "hyperBallExplicit: maxT must be >= 0")
    val m = 1 << 4
    val e = edges.select(col("src").as("id"), col("dst").as("nid")).distinct()
    val verts = e.select(col("id")).union(e.select(col("nid").as("id"))).distinct()
    // j from the first 48 md5 bits (the h48 convention), rank from the next
    // 32: r = 33 - significant-bit-count (bin() drops leading zeros in both
    // Spark and DuckDB), 33 when the window is all zeros
    val hx = md5(concat(lit("hb:"), col("id").cast("string")))
    val v32 = conv(substring(hx, 13, 8), 16, 10).cast("long")
    var state = Checkpointer(verts.select(col("id"),
      (conv(substring(hx, 1, 12), 16, 10).cast("long") % m).as("j"),
      when(v32 === 0L, lit(33L))
        .otherwise(lit(33L) - length(bin(v32))).cast("long").as("r")))
    val states = Seq.newBuilder[DataFrame]
    states += state
    val rounds = Seq.newBuilder[DataFrame]
    rounds += state.withColumn("t", lit(0))
    for (t <- 1 to maxT) {
      val contrib = e.join(state.select(col("id").as("nid"), col("j"), col("r")),
          Seq("nid"))
        .select(col("id"), col("j"), col("r"))
      state = Checkpointer(state.union(contrib).groupBy("id", "j").agg(max("r").as("r"))
        .select("id", "j", "r"))
      states += state
      rounds += state.withColumn("t", lit(t))
    }
    // pin ONE copy of the full output (total register rows, bounded by
    // Σ_t live registers), then release every per-round frame — without
    // this the maxT+1 intermediate block sets stay pinned for the life of
    // the session (the cross-query contamination class). Callers may
    // unpersist the returned frame when done.
    val out = Checkpointer(rounds.result().reduce(_ union _).select("t", "id", "j", "r"))
    states.result().foreach(Checkpointer.release)
    out
  }
}
