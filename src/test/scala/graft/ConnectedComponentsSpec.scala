package graft

import graft.ops.ConnectedComponents
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Large-star/small-star connected components vs a driver-side union-find
  * reference, plus convergence and cluster-dedup semantics.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Naive union-find over the same edges. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("random graphs match union-find (components = min reachable id)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 60
      val edges = Seq.fill(50 + trial * 20)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expect = unionFind(n, edges)
      val got = ConnectedComponents.components(
          edges.toDF("src", "dst"),
          vertices = Some((0 until n).map(_.toLong).toDF("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == n)
      assert(got == expect, s"trial $trial")
    }
  }

  test("path graph (worst-case diameter) converges and collapses to node 0") {
    val n = 200
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val got = ConnectedComponents.components(edges).collect()
    assert(got.length == n)
    assert(got.forall(_.getLong(1) == 0L))
  }

  test("isolated vertices label as their own singleton component") {
    val edges = Seq((10L, 11L)).toDF("src", "dst")
    val verts = Seq(10L, 11L, 99L).toDF("id")
    val got = ConnectedComponents.components(edges, vertices = Some(verts))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("dedupByComponents is transitive where pairwise greedy is not") {
    // cluster {1,2,3} confirmed only through pairs (1,3),(2,3): greedy
    // pairwise drop removes only 3; component resolution keeps only root 1.
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "z"), (7L, "w")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val comp = ConnectedComponents.components(pairs, "id_a", "id_b",
      vertices = Some(docs.select($"doc_id".as("id"))))
    val kept = ConnectedComponents.keepBestByComponents(docs.withColumn("p", lit(0)), comp, "p")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 7L))
  }

  test("dedupByComponentsKeepBest keeps the highest-priority member, not the min id") {
    // cluster {1,2,3}: doc 2 is the longest and must survive even though 1
    // is the canonical root; singleton 7 survives untouched; tie in
    // cluster {8,9} breaks to the lower id
    val docs = Seq((1L, "x", 5L), (2L, "y", 9L), (3L, "z", 7L),
      (7L, "w", 1L), (8L, "p", 4L), (9L, "q", 4L)).toDF("doc_id", "text", "len")
    val pairs = Seq((1L, 3L), (2L, 3L), (8L, 9L)).toDF("id_a", "id_b")
    val comp = ConnectedComponents.components(pairs, "id_a", "id_b",
      vertices = Some(docs.select($"doc_id".as("id"))))
    val kept = ConnectedComponents.keepBestByComponents(docs, comp, "len")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 7L, 8L))
  }

  test("bfsLevels: min-hop levels under cycles; hop bound; unreachable absent") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 5L), (9L, 10L))
      .toDF("src", "dst")
    val got = graft.ops.GraphTraversal.bfsLevels(edges, Seq(1L).toDF("id"), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // node 5 is 3 hops away (beyond bound); 9/10 unreachable; the 3->1
    // cycle must not relabel node 1
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 2))
    val full = graft.ops.GraphTraversal.bfsLevels(edges, Seq(1L).toDF("id"), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3))
  }

  test("non-convergence within maxIter fails fast instead of mislabeling") {
    val edges = (0 until 64).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    intercept[IllegalStateException] {
      ConnectedComponents.components(edges, maxIter = 1)
    }
  }

  test("pageRank matches a driver-side dense reference; mass conserves") {
    // directed graph with a dangling node (4) and a cycle
    val edgeList = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
    val iters = 12; val d = 0.85
    val got = graft.ops.GraphTraversal.pageRank(edgeList.toDF("src", "dst"), iters, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // dense reference
    val vs = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = vs.length
    val out = edgeList.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var rank = vs.map(_ -> 1.0 / n).toMap
    (0 until iters).foreach { _ =>
      val dm = vs.filterNot(out.contains).map(rank).sum
      val inbound = vs.map(v => v -> 0.0).toMap ++
        out.toSeq.flatMap { case (s, ds) => ds.map(_ -> rank(s) / ds.length) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      rank = vs.map(v => v -> ((1.0 - d) / n + d * (inbound(v) + dm / n))).toMap
    }
    vs.foreach(v => assert(math.abs(got(v) - rank(v)) < 1e-9, s"vertex $v"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9) // mass conservation
    // the cycle hub (3: two inbound links) outranks the dangling leaf's source
    assert(got(3L) > got(2L))
  }

  test("personalizedPageRank matches a driver-side dense reference; restarts at sources") {
    // same graph as the pageRank reference test; restart set {1}
    val edgeList = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
    val iters = 12; val d = 0.85
    val got = graft.ops.GraphTraversal.personalizedPageRank(
        edgeList.toDF("src", "dst"), Seq(1L).toDF("id"), iters, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vs = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edgeList.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val tp = vs.map(v => v -> (if (v == 1L) 1.0 else 0.0)).toMap
    var rank = tp
    (0 until iters).foreach { _ =>
      val dm = vs.filterNot(out.contains).map(rank).sum
      val inbound = vs.map(v => v -> 0.0).toMap ++
        out.toSeq.flatMap { case (s, ds) => ds.map(_ -> rank(s) / ds.length) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      rank = vs.map(v => v -> ((1.0 - d) * tp(v) + d * (inbound(v) + dm * tp(v)))).toMap
    }
    vs.foreach(v => assert(math.abs(got(v) - rank(v)) < 1e-9, s"vertex $v"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9) // mass conserves for PPR too
    // the source outranks everything; its direct successors outrank the leaf
    assert(got(1L) > got(3L) && got(3L) > got(4L))
    // a source id that is not a graph vertex contributes nothing...
    val got2 = graft.ops.GraphTraversal.personalizedPageRank(
        edgeList.toDF("src", "dst"), Seq(1L, 99L).toDF("id"), iters, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vs.foreach(v => assert(math.abs(got2(v) - rank(v)) < 1e-9, s"vertex $v (ignored src)"))
    // ...and an entirely-disjoint source set is refused loudly
    intercept[IllegalArgumentException](graft.ops.GraphTraversal.personalizedPageRank(
      edgeList.toDF("src", "dst"), Seq(99L).toDF("id"), iters, d))
  }

  test("pageRank on string (URI) keys matches the long-keyed ranks exactly") {
    // the URI path dictionary-encodes keys to longs for the loop and
    // decodes at the end — ranks must be identical to the structurally
    // equal long-keyed graph (same topology, bijective key mapping)
    val edgeList = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
    val longRanks = graft.ops.GraphTraversal
      .pageRank(edgeList.toDF("src", "dst"), iterations = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uri = (v: Long) => s"http://purl.obolibrary.org/obo/CL_$v"
    val strRanks = graft.ops.GraphTraversal
      .pageRank(edgeList.map { case (a, b) => (uri(a), uri(b)) }.toDF("src", "dst"),
        iterations = 12)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(strRanks.keySet == longRanks.keySet.map(uri))
    longRanks.foreach { case (v, r) =>
      assert(math.abs(strRanks(uri(v)) - r) < 1e-12, s"vertex $v") }
  }

  test("pageRank tolerance stops early on a mixed graph with identical ranks") {
    // a graph that converges quickly: tolerance triggers well before the
    // iteration cap, and the early-stopped ranks match the fixed-iteration
    // run at the convergence scale
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val (full, fullIters) = graft.ops.GraphTraversal
      .pageRankWithStats(edges, iterations = 60)
    assert(fullIters == 60)
    val (early, earlyIters) = graft.ops.GraphTraversal
      .pageRankWithStats(edges, iterations = 60, tolerance = Some(1e-12))
    assert(earlyIters < 60, s"tolerance did not stop early: $earlyIters rounds")
    val f = full.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val e = early.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(f.keySet == e.keySet)
    f.foreach { case (id, r) => assert(math.abs(e(id) - r) < 1e-9, s"vertex $id") }
    assert(math.abs(e.values.sum - 1.0) < 1e-9) // mass still conserves
  }

  test("triangleCounts: K4 normalizes direction/dups/self-loops; 4 triangles") {
    // K4 given messily: mixed directions, a duplicate edge, a self-loop
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 1L), (2L, 3L), (4L, 2L),
      (3L, 4L), (3L, 4L), (2L, 2L)).toDF("src", "dst")
    val got = graft.ops.GraphTraversal.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each K4 vertex is in C(3,2)=3 of the 4 triangles
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("shortestPaths: weighted relaxation beats greedy hops, respects the bound") {
    // 1 -> 2 -> 3 cost 1+1=2 beats direct 1 -> 3 cost 9; at maxHops=3 the
    // cheap route to 9 (4 hops) is out of budget, so the expensive direct
    // first leg wins: 9 + 2 + 1 = 12 — the hop bound genuinely changes the
    // optimum, not just reachability
    val edges = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 9L),
      (3L, 5L, 2L), (5L, 9L, 1L)).toDF("src", "dst", "weight")
    val got = graft.ops.GraphTraversal.shortestPaths(
        edges, Seq(1L).toDF("id"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 4L, 9L -> 12L))
    // a larger bound reaches 9 at total cost 5
    val far = graft.ops.GraphTraversal.shortestPaths(
        edges, Seq(1L).toDF("id"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(far(9L) == 5L)
    // multi-source takes the cheaper origin per vertex
    val multi = graft.ops.GraphTraversal.shortestPaths(
        edges, Seq(1L, 3L).toDF("id"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi(5L) == 2L && multi(3L) == 0L)
  }

  test("clusteringCoefficients: K4 is all-1.0; paw graph mixes 1.0, partial, 0") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val cc4 = graft.ops.GraphTraversal.clusteringCoefficients(k4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(cc4.values.forall { case (deg, tri, c) => deg == 3L && tri == 3L && c == 1.0 })
    // paw: triangle 1-2-3 plus pendant 4 off vertex 3
    val paw = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val ccp = graft.ops.GraphTraversal.clusteringCoefficients(paw)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(ccp(1L) == ((2L, 1L, 1.0)) && ccp(2L) == ((2L, 1L, 1.0)))
    assert(ccp(3L) == ((3L, 1L, 2.0 / 6.0))) // 1 closed of 3 neighbor pairs
    assert(ccp(4L) == ((1L, 0L, 0.0)))       // degree < 2: coefficient 0
  }

  test("triangleCounts: triangle-free path graph counts zero everywhere") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.ops.GraphTraversal.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("degenerate graphs: empty edge tables yield empty results, not errors") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.ops.GraphTraversal.triangleCounts(empty).count() == 0)
    assert(graft.ops.GraphTraversal.pageRank(empty, iterations = 3).count() == 0)
    assert(graft.ops.GraphTraversal
      .bfsLevels(empty, Seq(1L).toDF("id"), maxHops = 3).count() == 1) // source itself
    // self-loops only: no undirected edges survive normalization
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    assert(graft.ops.GraphTraversal.triangleCounts(loops).count() == 0)
  }

  test("triangleCounts matches a brute-force count on a pseudo-random graph") {
    val raw = (0 until 120).map(i => ((i * 7 % 24).toLong, (i * 13 % 24).toLong))
    val und = raw.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty[Long])
    val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- und
      c <- adj(b) if adj(a).contains(c) // a<b<c with edges ab, bc, ac
    } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
    val vertices = und.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = vertices.map(v => v -> naive(v)).toMap
    val got = graft.ops.GraphTraversal.triangleCounts(raw.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("kCore: triangle with a tail — 2-core is exactly the triangle") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = graft.ops.GraphTraversal.kCore(edges, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: K4 3-core is K4 itself; 4-core is empty") {
    val edges = (for (a <- 1 to 4; b <- (a + 1) to 4) yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val core3 = graft.ops.GraphTraversal.kCore(edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(graft.ops.GraphTraversal.kCore(edges, k = 4).count() == 0)
  }

  test("kTruss: shared-edge triangles — 3-truss keeps both, 4-truss peels to empty") {
    // triangles (1,2,3) and (2,3,4) share edge (2,3): its support is 2,
    // every other triangle edge's is 1, the pendant (5,6) has 0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (3L, 4L), (5L, 6L))
      .toDF("src", "dst")
    val t3 = graft.ops.GraphTraversal.kTruss(edges, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t3 == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L))
    // k=4 wants support >= 2: round 1 keeps only (2,3), whose support then
    // drops to 0 — the cascade must run to the empty fixpoint
    assert(graft.ops.GraphTraversal.kTruss(edges, k = 4).count() == 0)
  }

  test("kTruss: fails fast at maxIter instead of silently spinning") {
    // the shared-edge fixture needs 2 peel waves for k=4; maxIter=1 must
    // throw with the remedy in the message (the kCore discipline)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (3L, 4L), (5L, 6L))
      .toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      graft.ops.GraphTraversal.kTruss(edges, k = 4, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("maxIter"))
  }

  test("kTruss: K5 survives 5-truss intact with support 3 per edge") {
    val edges = (for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val got = graft.ops.GraphTraversal.kTruss(edges, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 10 && got.values.forall(_ == 3L))
  }

  test("kCore: a chain peels to empty; deep chains fail fast at maxIter") {
    val chain6 = (1 until 6).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    assert(graft.ops.GraphTraversal.kCore(chain6, k = 2).count() == 0)
    // a 120-node chain needs ~60 peel waves — the loop must refuse, not spin
    val chain120 = (1 until 120).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      graft.ops.GraphTraversal.kCore(chain120, k = 2, maxIter = 10).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("kCore matches a driver-side peel on a pseudo-random graph") {
    val raw = (0 until 150).map(i => ((i * 7 % 30).toLong, (i * 11 % 30).toLong))
    def naivePeel(k: Int): Map[Long, Long] = {
      var und = raw.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
      var changed = true
      while (changed) {
        val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val keep = deg.filter(_._2 >= k).keySet
        val next = und.filter(e => keep(e._1) && keep(e._2))
        changed = next.size != und.size
        und = next
      }
      und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
    }
    for (k <- Seq(2, 3, 4)) {
      val got = graft.ops.GraphTraversal.kCore(raw.toDF("src", "dst"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naivePeel(k), s"k=$k")
    }
  }

  test("neighborJaccard: square graph — opposite corners have identical neighborhoods") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = graft.ops.GraphTraversal
      .neighborJaccard(edges, minJaccardPct = 50, maxPivotDegree = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // (1,3) and (2,4) share BOTH neighbors (Jaccard 1); adjacent corners share none
    assert(got == Set((1L, 3L, 2L), (2L, 4L, 2L)))
  }

  test("neighborJaccard: maxPivotDegree excludes the super-hub pivot") {
    val star = (1 to 10).map(i => (0L, i.toLong)).toDF("src", "dst")
    // through the center every leaf pair is similar (45 pairs)...
    assert(graft.ops.GraphTraversal
      .neighborJaccard(star, minJaccardPct = 0, maxPivotDegree = 100L).count() == 45)
    // ...but a capped pivot degree refuses the d² hub blowup entirely
    assert(graft.ops.GraphTraversal
      .neighborJaccard(star, minJaccardPct = 0, maxPivotDegree = 5L).count() == 0)
  }

  test("neighborJaccard matches a driver-side set computation on a pseudo-random graph") {
    val raw = (0 until 150).map(i => ((i * 7 % 25).toLong, (i * 13 % 25).toLong))
    val und = raw.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
    val nbr = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap.withDefaultValue(Set.empty[Long])
    val vs = nbr.keys.toSeq.sorted
    val expected = (for {
      a <- vs; b <- vs if a < b
      common = (nbr(a) & nbr(b)).size.toLong if common > 0
      if common * 100 >= 25 * (nbr(a).size + nbr(b).size - common)
    } yield (a, b, common, nbr(a).size.toLong, nbr(b).size.toLong)).toSet
    val got = graft.ops.GraphTraversal
      .neighborJaccard(raw.toDF("src", "dst"), minJaccardPct = 25,
        maxPivotDegree = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected)
  }

  test("resourceAllocation: path graph — hand-computed scores, adjacent pairs excluded") {
    // path 1-2-3-4-5: every 2-hop pair scores 1e6/deg(middle) = 500000;
    // pairs without a common neighbor are absent
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = graft.ops.GraphTraversal.resourceAllocation(edges, maxPivotDegree = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 3L, 1L, 500000L), (2L, 4L, 1L, 500000L),
      (3L, 5L, 1L, 500000L)))
    // triangle: the only wedge pair (1,3) is itself an edge — predicted-link
    // anti-join leaves nothing
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(graft.ops.GraphTraversal.resourceAllocation(tri, maxPivotDegree = 100L)
      .count() == 0)
    // hub guard: the degree-10 star pivot is refused entirely under the cap
    val star = (1 to 10).map(i => (0L, i.toLong)).toDF("src", "dst")
    assert(graft.ops.GraphTraversal.resourceAllocation(star, maxPivotDegree = 5L)
      .count() == 0)
    // and with the cap open, leaves pair through the center at 1e6/10
    val open = graft.ops.GraphTraversal.resourceAllocation(star, maxPivotDegree = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(open.length == 45 && open.forall(t => t._3 == 1L && t._4 == 100000L))
  }

  test("labelPropagation: two triangles + bridge — hand-replayed sync rounds") {
    import spark.implicits._
    // triangle {1,2,3}, triangle {10,11,12}, bridge 3-10; DIRECTED input —
    // the op must symmetrize. Hand replay (min tie-break, synchronous):
    // after 3 rounds the triangles carry labels 1 and 3 respectively.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val got3 = graft.ops.GraphTraversal.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L))
    // round 1 alone reproduces the first synchronous vote exactly
    val got1 = graft.ops.GraphTraversal.labelPropagation(edges, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 10L, 12L -> 10L))
    // rounds = 0 is the identity labeling
    val got0 = graft.ops.GraphTraversal.labelPropagation(edges, rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got0 == Seq(1L, 2L, 3L, 10L, 11L, 12L).map(v => v -> v).toMap)
  }

  test("louvainLevel: two triangles + bridge — hand-replayed parity rounds") {
    import spark.implicits._
    // same graph as the LPA spec. Hand replay (gain = 2·m·k − deg·(tot −
    // [stay]·deg), max-gain-then-min-comm, round r moves id parity r%2):
    // r0 (even movers): 2→c1 (gain 10), 10→c11 (tie 8, min), 12→c11 (10)
    // r1 (odd movers): 1 stays c1 (own 10 > 8), 3→c1 (16), 11 stays c11
    // — the triangles MERGE (a fully synchronous variant would swap)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val got2 = graft.ops.GraphTraversal.louvainLevel(edges, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 11L, 11L -> 11L, 12L -> 11L))
    // rounds = 0 is the identity labeling
    val got0 = graft.ops.GraphTraversal.louvainLevel(edges, rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got0 == Seq(1L, 2L, 3L, 10L, 11L, 12L).map(v => v -> v).toMap)
  }

  test("louvainLevel: string keys — encoded parity replay, decoded labels") {
    import spark.implicits._
    // dict-encode maps n1..x12 → vids 0..5, and the parity gate runs on
    // the VID (documented): hand replay on vids — r0 movers {0,2,4}:
    // 0→c1, 2→c0 (tie 8, min), 4→c5; r1 movers {1,3,5}: 1 stays c1,
    // 3→c5 (16), 5 stays c5. Decoded communities: c0→"n1", c1→"n2",
    // c5→"x12".
    val edges = Seq(("n1", "n2"), ("n2", "n3"), ("n1", "n3"),
      ("x10", "x11"), ("x11", "x12"), ("x10", "x12"), ("n3", "x10"))
      .toDF("src", "dst")
    val got2 = graft.ops.GraphTraversal.louvainLevel(edges, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got2 == Map("n1" -> "n2", "n2" -> "n2", "n3" -> "n1",
      "x10" -> "x12", "x11" -> "x12", "x12" -> "x12"))
  }

  test("louvainWeightedLevel + louvainContract: merge iff the weighted gain says so") {
    import spark.implicits._
    // the two-triangles+bridge graph contracts to supernodes 1 and 11
    // (self-loops w=3, bridge w=1) — verify the contraction itself…
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("a", "b")
    val l1 = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 11L), (11L, 11L), (12L, 11L)).toDF("id", "community")
    val con = graft.ops.GraphTraversal.louvainContract(und, l1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(con == Map((1L, 1L) -> 3L, (1L, 11L) -> 1L, (11L, 11L) -> 3L))
    // …then the weighted level must NOT merge them: W=7, s=7 each,
    // G(move) = 2·7·1 − 7·7 = −35 < 0 = G(stay) — merging two triangles
    // over one bridge lowers modularity and the gain says so
    val keep = graft.ops.GraphTraversal.louvainWeightedLevel(
        Seq((1L, 1L, 3L), (1L, 11L, 1L), (11L, 11L, 3L)).toDF("a", "b", "w"),
        rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep == Map(1L -> 1L, 11L -> 11L))
    // heavy bridge: W=12, s=12 each, G(2→c1) = 2·12·10 − 12·12 = 96 > 0 —
    // round 0 (even mover 2) merges, round 1 (odd mover 1) stays
    val merge = graft.ops.GraphTraversal.louvainWeightedLevel(
        Seq((1L, 1L, 1L), (1L, 2L, 10L), (2L, 2L, 1L)).toDF("a", "b", "w"),
        rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merge == Map(1L -> 1L, 2L -> 1L))
  }

  test("leidenRefine: splits a disconnected community into its components") {
    import spark.implicits._
    // community 1 = {1,2} ∪ {5,6} ∪ {20} — internally DISCONNECTED (the
    // classic Louvain stranding): {1,2} and {5,6} have intra edges but no
    // path between them, and 20's only edge leaves the community.
    // Refinement must emit the components as separate communities labeled
    // by their min member ids, and leave the connected community {10,11}
    // alone.
    val und = Seq((1L, 2L), (5L, 6L), (10L, 11L), (11L, 20L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (20L, 1L),
      (10L, 10L), (11L, 10L)).toDF("id", "community")
    val got = graft.ops.GraphTraversal.leidenRefine(und, labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 20L -> 20L,
      10L -> 10L, 11L -> 10L))
    // splitting the disconnected community strictly improves modularity:
    // ΔQ·4m² = 2·D₁·D₂ > 0 per split — verified on the numerator
    // Σ_c (4·m·m_c − D_c²): before = (4·4·2 − 5²) + (4·4·1 − 3²) = 14,
    // after = (16 − 4) + (16 − 4) + (0 − 1) + (16 − 9) = 30
    def q(lab: org.apache.spark.sql.DataFrame): Long = {
      val m = und.count()
      val deg = und.select($"a".as("id")).union(und.select($"b".as("id")))
        .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val l = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val intra = und.collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => l(a) == l(b) }
        .groupBy { case (a, _) => l(a) }.view.mapValues(_.length.toLong).toMap
      l.groupBy(_._2).map { case (c, vs) =>
        // keysIterator, NOT keys.map: Set#map dedups equal degrees
        val ds = vs.keysIterator.map(v => deg.getOrElse(v, 0L)).sum
        4L * m * intra.getOrElse(c, 0L) - ds * ds
      }.sum
    }
    assert(q(labels) == 14L)
    val refined = graft.ops.GraphTraversal.leidenRefine(und, labels)
    assert(q(refined) == 30L)
  }

  test("louvainLevel: mixed src/dst types fail fast with an explicit message") {
    import spark.implicits._
    val mixed = Seq((1L, "a"), (2L, "b")).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.GraphTraversal.louvainLevel(mixed, rounds = 2)
    }
    assert(ex.getMessage.contains("src/dst types disagree"))
  }

  test("labelPropagation: string keys — internal dict-encode preserves key-order ties") {
    import spark.implicits._
    // the SAME graph under an order-preserving long→string rename
    // ("n1"<"n2"<"n3"<"x10"<"x11"<"x12"): the internally-encoded run must
    // reproduce the long-key replay exactly, including every min-label
    // tie-break, and return the CALLER's string keys in both columns
    val edges = Seq(("n1", "n2"), ("n2", "n3"), ("n1", "n3"),
      ("x10", "x11"), ("x11", "x12"), ("x10", "x12"), ("n3", "x10"))
      .toDF("src", "dst")
    val got3 = graft.ops.GraphTraversal.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got3 == Map("n1" -> "n1", "n2" -> "n1", "n3" -> "n1",
      "x10" -> "n3", "x11" -> "n3", "x12" -> "n3"))
    val got1 = graft.ops.GraphTraversal.labelPropagation(edges, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got1 == Map("n1" -> "n2", "n2" -> "n1", "n3" -> "n1",
      "x10" -> "n3", "x11" -> "x10", "x12" -> "x10"))
    val got0 = graft.ops.GraphTraversal.labelPropagation(edges, rounds = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got0 == Seq("n1", "n2", "n3", "x10", "x11", "x12").map(v => v -> v).toMap)
  }

  test("scc: a 40-diameter cycle converges within the documented bounds") {
    import spark.implicits._
    // one 40-cycle: a single SCC whose diameter (40) stays
    // under maxProp = 60 (batched one-hop propagation needs ~diameter rounds —
    // the documented bound; a diameter beyond maxProp throws loudly, by
    // contract). Condensation depth is 1, so the outer peel is one round.
    val n = 40
    val cycle = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    val got = graft.ops.GraphTraversal.stronglyConnectedComponents(cycle)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 until n).map(v => v.toLong -> 0L).toMap)
    // beyond the bound: a 300-diameter cycle must FAIL FAST with the
    // explicit maxProp message, never mislabel (the CC contract)
    val big = (0 until 300).map(i => (i.toLong, ((i + 1) % 300).toLong))
      .toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      graft.ops.GraphTraversal.stronglyConnectedComponents(big).collect()
    }
    assert(ex.getMessage.contains("maxProp"))
    // and raising maxProp makes the same graph converge correctly
    val got2 = graft.ops.GraphTraversal.stronglyConnectedComponents(big,
        maxProp = 400)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == (0 until 300).map(v => v.toLong -> 0L).toMap)
  }

  test("scc: cycles collapse, DAG edges do not, peeling handles chained SCCs") {
    import spark.implicits._
    // two 3-cycles bridged by a ONE-WAY edge: each cycle is an SCC, the
    // bridge must not merge them (the mistake undirected CC would make)
    val g1 = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L,
      10L -> 11L, 11L -> 12L, 12L -> 10L, 3L -> 10L).toDF("src", "dst")
    val got1 = graft.ops.GraphTraversal.stronglyConnectedComponents(g1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // a pure DAG: every vertex is its own singleton SCC
    val dag = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L).toDF("src", "dst")
    val got2 = graft.ops.GraphTraversal.stronglyConnectedComponents(dag)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // chained 2-cycles: round 1 can only certify the upstream SCC
    // (downstream has F = 1 ≠ B = 5), so this exercises the PEEL
    val chain = Seq(1L -> 2L, 2L -> 1L, 5L -> 6L, 6L -> 5L, 2L -> 5L)
      .toDF("src", "dst")
    val got3 = graft.ops.GraphTraversal.stronglyConnectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    // vertices option emits isolated nodes as their own SCC
    val got4 = graft.ops.GraphTraversal.stronglyConnectedComponents(chain,
        vertices = Some(Seq(1L, 2L, 5L, 6L, 99L).toDF("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got4(99L) == 99L && got4(6L) == 5L)
    // string keys: min is lexicographic, same structure
    val gs = Seq("a" -> "b", "b" -> "a", "x" -> "y").toDF("src", "dst")
    val got5 = graft.ops.GraphTraversal.stronglyConnectedComponents(gs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got5 == Map("a" -> "a", "b" -> "a", "x" -> "x", "y" -> "y"))
  }

  test("scc: trim peels a high-diameter chain that would overflow the outer bound") {
    import spark.implicits._
    // a 50-link directed PATH feeding a 3-cycle: every path vertex is a
    // singleton SCC, but FW-BW alone certifies only the path's HEAD per
    // outer round (interior vertices have F = path-min ≠ B = own id), so
    // maxOuter = 20 overflows without trim — the round-13 verdict's
    // high-diameter failure shape. Trim peels the whole path as
    // degree-0 fringe iterations and leaves ONE FW-BW round for the cycle.
    val path = (0L until 50L).map(i => (i, i + 1))
    val cycle = Seq((50L, 51L), (51L, 52L), (52L, 50L))
    val g = (path ++ cycle).toDF("src", "dst")
    val noTrim = intercept[IllegalStateException] {
      graft.ops.GraphTraversal.stronglyConnectedComponents(g, maxTrim = 0)
        .collect()
    }
    assert(noTrim.getMessage.contains("maxOuter"))
    val st = new graft.ops.GraphTraversal.SccStats
    val got = graft.ops.GraphTraversal.stronglyConnectedComponents(g,
        stats = Some(st))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ((0L until 50L).map(v => v -> v) ++
      Seq(50L -> 50L, 51L -> 50L, 52L -> 50L)).toMap)
    // the reduction, measured: all 50 path vertices trimmed (a chain
    // peels head-only, one per iteration), the cycle is the only FW-BW
    // work, ONE outer round instead of > 20
    assert(st.trimAssigned == 50L && st.fwbwAssigned == 3L)
    assert(st.outerRounds == 1 && st.trimIterations == 50)
    // trim must also peel source/sink TREES hanging off a core (in-deg-0
    // and out-deg-0 fringes in the same iteration), and a pure DAG
    // resolves with ZERO FW-BW rounds
    val st2 = new graft.ops.GraphTraversal.SccStats
    val dag = Seq(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L).toDF("src", "dst")
    val got2 = graft.ops.GraphTraversal.stronglyConnectedComponents(dag,
        stats = Some(st2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    assert(st2.fwbwAssigned == 0L && st2.outerRounds == 0)
  }

  test("hits: hand-replayed integer rounds on a 3-cycle with a chord") {
    import spark.implicits._
    // a→b, a→c, b→c, c→a.  h0 ≡ 1.
    // round 1: a1 = in-sums of h0: a:1 b:1 c:2; h1 = out-sums of a1:
    //          a = a1(b)+a1(c) = 3, b = a1(c) = 2, c = a1(a) = 1
    // round 2: a2 = in-sums of h1: a = h1(c) = 1, b = h1(a) = 3,
    //          c = h1(a)+h1(b) = 5; h2 = out-sums of a2:
    //          a = a2(b)+a2(c) = 8, b = a2(c) = 5, c = a2(a) = 1
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val r2 = graft.ops.GraphTraversal.hits(edges, rounds = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(r2 == Map("a" -> ((8L, 1L)), "b" -> ((5L, 3L)), "c" -> ((1L, 5L))))
    val r1 = graft.ops.GraphTraversal.hits(edges, rounds = 1)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(r1 == Map("a" -> ((3L, 1L)), "b" -> ((2L, 1L)), "c" -> ((1L, 2L))))
  }

  test("hits: sink/source vertices score 0 on the missing side; dup edges collapse") {
    import spark.implicits._
    // source s (no in-edges) → auth 0; sink t (no out-edges) → hub 0;
    // the duplicated s→t edge must not double anything (edge set semantics)
    val edges = Seq(("s", "t"), ("s", "t")).toDF("src", "dst")
    val got = graft.ops.GraphTraversal.hits(edges, rounds = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("s" -> ((1L, 0L)), "t" -> ((0L, 1L))))
  }

  test("randomWalks: valid transitions, sink walks dropped, partition-invariant") {
    // ring 0→1→2→3→0 plus chords, and a sink node 9 reachable from 2:
    // every emitted step must be a real edge; any walk that lands on 9
    // cannot take a further step and must be dropped entirely.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L),
      (1L, 3L), (2L, 9L)).toDF("src", "dst")
    val starts = Seq(0L, 1L, 2L, 3L).map(i => (i, i)).toDF("walk_id", "start")
    val adj = Map(0L -> Set(1L, 2L), 1L -> Set(2L, 3L), 2L -> Set(3L, 9L),
      3L -> Set(0L))
    val got = graft.ops.GraphTraversal.randomWalks(edges, starts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.length <= 4) // at most one row per start
    got.foreach { case (_, v0, v1, v2, v3) =>
      assert(adj(v0).contains(v1) && adj(v1).contains(v2) && adj(v2).contains(v3))
      assert(v3 != 9L || adj.contains(v3) || true) // v3 may be the sink; v0..v2 cannot
      assert(adj.contains(v1) && adj.contains(v2), "walked through a sink")
    }
    // determinism: a different physical layout yields byte-identical walks
    val re = graft.ops.GraphTraversal.randomWalks(
        edges.repartition(7, col("dst")), starts.repartition(3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(re.sorted.toSeq == got.sorted.toSeq)
  }

  test("componentsIncremental == full recompute on random old/delta splits") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 50
      val all = Seq.fill(60 + trial * 15)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      // delta includes edges touching BRAND-NEW vertices (ids >= n)
      val extra = Seq((rnd.nextInt(n).toLong, (n + trial).toLong),
        ((n + trial).toLong, (n + 10 + trial).toLong))
      val (oldE, newE0) = all.splitAt(all.length * 2 / 3)
      val newE = newE0 ++ extra
      val oldLabels = ConnectedComponents.components(oldE.toDF("src", "dst"))
      val inc = ConnectedComponents
        .componentsIncremental(oldLabels, newE.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = ConnectedComponents.components((oldE ++ newE).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == full, s"trial $trial")
    }
  }

  test("neighborhoodFunction: path and cycle hand-counts; hyperBall exact on small graphs") {
    // directed path 0->1->2->3: cumulative pairs 4, 7, 9, 10, saturated at 10
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val nf = graft.ops.GraphTraversal.neighborhoodFunction(path, maxT = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(nf == Map(0 -> 4L, 1 -> 7L, 2 -> 9L, 3 -> 10L, 4 -> 10L))
    // directed 3-cycle: every vertex reaches all three within 2 hops
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val nc = graft.ops.GraphTraversal.neighborhoodFunction(cyc, maxT = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(nc == Map(0 -> 3L, 1 -> 6L, 2 -> 9L, 3 -> 9L))
    // DataSketches HLL stores small sets losslessly: HyperBall is exact here
    val hb = graft.ops.GraphTraversal.hyperBall(path, maxT = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert((0 to 4).forall(t => hb(t) == nf(t)), hb.toString)
  }

  test("shortestPathCounts + stressCentrality: path and diamond hand-counts") {
    // directed path 0->1->2->3: every sigma is 1; pairs through 1 =
    // {(0,2),(0,3)}, through 2 = {(0,3),(1,3)} -> stress 2/2, endpoints 0
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val sp = graft.ops.GraphTraversal.shortestPathCounts(path, maxT = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getLong(3))).toMap
    assert(sp((0L, 3L)) == (3, 1L) && sp((1L, 3L)) == (2, 1L) && sp((2L, 2L)) == (0, 1L))
    assert(sp.size == 10) // 4 self + 3+2+1 forward pairs
    val st = graft.ops.GraphTraversal.stressCentrality(path, maxT = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st == Map(0L -> 0L, 1L -> 2L, 2L -> 2L, 3L -> 0L), st.toString)
    // diamond 0->{1,2}->3: sigma(0,3) = 2; each middle vertex carries ONE
    // of the two shortest 0->3 paths -> stress 1/1
    val dia = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val spD = graft.ops.GraphTraversal.shortestPathCounts(dia, maxT = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getLong(3))).toMap
    assert(spD((0L, 3L)) == (2, 2L), spD.toString)
    val stD = graft.ops.GraphTraversal.stressCentrality(dia, maxT = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stD == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 0L), stD.toString)
    // radius bound: maxT = 1 sees no 2-hop pairs -> all stress 0
    val st1 = graft.ops.GraphTraversal.stressCentrality(path, maxT = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st1.values.forall(_ == 0L), st1.toString)
  }

  test("node2vecWalks equals a JVM-side md5 replay; return weight dominates when huge") {
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    // diamond with back-edges: 0->{1,2}, 1->{0,3}, 2->{0,3}, 3->{0}
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 0L), (1L, 3L), (2L, 0L), (2L, 3L), (3L, 0L))
    val succ = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    def replay(walkId: Long, steps: Int,
               wr: Long, wc: Long, wf: Long): Option[Seq[Long]] = {
      var path = Seq(walkId)
      // step 1: uniform
      val n0 = succ.getOrElse(path.head, Nil)
      if (n0.isEmpty) return None
      path = path :+ n0((h32(s"n2v:$walkId:1:${path.head}") % n0.size).toInt)
      for (t <- 2 to steps) {
        val prev = path(t - 2); val cur = path(t - 1)
        val cands = succ.getOrElse(cur, Nil)
        if (cands.isEmpty) return None
        val ws = cands.map(cd =>
          if (cd == prev) wr
          else if (succ.getOrElse(prev, Nil).contains(cd)) wc else wf)
        val r = h32(s"n2v:$walkId:$t:$prev:$cur") % ws.sum
        var cum = 0L; var pick = -1
        for ((w, i) <- ws.zipWithIndex if pick < 0) {
          cum += w; if (r < cum) pick = i
        }
        path = path :+ cands(pick)
      }
      Some(path)
    }
    val starts = Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L)).toDF("walk_id", "start")
    val got = graft.ops.GraphTraversal.node2vecWalks(
        edges.toDF("src", "dst"), starts, wReturn = 2L, wCommon = 4L)
      .collect().map(r => r.getLong(0) -> (0 to 3).map(i => r.getLong(i + 1))).toMap
    val want = Seq(0L, 1L, 2L, 3L)
      .flatMap(id => replay(id, 3, 2L, 4L, 1L).map(id -> _)).toMap
    assert(got == want, s"got=$got want=$want")
    // 2nd-order dependence: an overwhelming return weight forces every
    // step >= 2 back to prev (no candidate set here exceeds the 10^9
    // return weight at r < wReturn for all md5 draws under tot < 2^32)
    val ret = graft.ops.GraphTraversal.node2vecWalks(
        edges.toDF("src", "dst"), Seq((0L, 0L)).toDF("walk_id", "start"),
        wReturn = 1000000000L, wCommon = 1L)
      .collect()(0)
    // columns: (walk_id, v0, v1, v2, v3) — v2 must return to v0's value 0,
    // v3 back to v1
    assert(ret.getLong(2) != 0L && ret.getLong(3) == 0L && ret.getLong(4) == ret.getLong(2),
      s"return bias did not dominate: ${(0 to 4).map(ret.getLong).mkString(",")}")
  }

  test("hyperBallExplicit registers equal a JVM-side md5 replay of the ball sets") {
    // independent replay: compute each vertex's (j, r) with
    // java.security.MessageDigest and take max r per register over the
    // exact reachable set — the engine's Spark-md5 register evolution must
    // match bit for bit at every round (the same property the g_hyperball
    // DuckDB oracle checks cross-engine)
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map(b => f"${b & 0xff}%02x").mkString
    }
    def jr(id: Long): (Long, Long) = {
      val hx = md5hex(s"hb:$id")
      val j = java.lang.Long.parseLong(hx.substring(0, 12), 16) % 16
      val v32 = java.lang.Long.parseLong(hx.substring(12, 20), 16)
      val r = if (v32 == 0L) 33L else 33L - (64 - java.lang.Long.numberOfLeadingZeros(v32))
      (j, r)
    }
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (1L, 3L))
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val succ = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def ball(v: Long, t: Int): Set[Long] = {
      var b = Set(v)
      for (_ <- 1 to t) b = b ++ b.flatMap(w => succ.getOrElse(w, Set.empty[Long]))
      b
    }
    val maxT = 3
    val expected = (for {
      t <- 0 to maxT
      v <- verts
      (j, rs) <- ball(v, t).toSeq.map(w => jr(w)).groupBy(_._1)
        .map { case (j, xs) => (j, xs.map(_._2).max) }
    } yield (t, v, j, rs)).toSet
    val got = graft.ops.GraphTraversal.hyperBallExplicit(
        edges.toDF("src", "dst"), maxT = maxT)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected, s"got=${got.size} expected=${expected.size}")
  }
}
