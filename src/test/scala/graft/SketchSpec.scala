package graft

import graft.ops.Sketches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Count-min and KMV sketches vs brute-force references: the never-
  * under-estimate property, exactness without collisions, and EXACT
  * merge (grain-wise cells summed / per-group bottom-ks re-merged must
  * equal the direct whole-input sketch) independent of partitioning.
  */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def keyed(n: Int): Seq[(String, Int)] =
    // key "k<i%7>" appears with multiplicity ~n/7; grain alternates 0/1
    (0 until n).map(i => (s"k${i % 7}", i % 2))

  test("count-min never under-estimates and is exact at generous width") {
    graft.functions.GraftExtensions.register(spark)
    val rows = keyed(210).toDF("key", "g").repartition(5)
    val exact = keyed(210).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    // width 512, depth 4: 7 keys cannot collide often enough to matter,
    // but the property we assert is only >=; exactness asserted where
    // the min cell holds exactly one key's mass
    val cells = Sketches.countMinMerge(
      Sketches.countMinCells(rows, 4, 512, Seq("g")))
    val probes = rows.select("key").distinct()
    val est = Sketches.countMinLookup(cells, probes, 4, 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, n) => assert(est(k) >= n, s"under-estimate for $k") }
    // with 7 keys in 4x512 cells, at least one depth row is collision-free
    // for every key with overwhelming certainty; accept equality or over
    assert(est.values.sum >= exact.values.sum)
  }

  test("count-min merged-by-grain cells equal the direct whole-input cells") {
    val rows = keyed(140).toDF("key", "g").repartition(3)
    val merged = Sketches.countMinMerge(
        Sketches.countMinCells(rows, 3, 16, Seq("g")))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Sketches.countMinCells(rows, 3, 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct)
  }

  test("count-min estimate of an absent key is zero") {
    val rows = keyed(20).toDF("key", "g")
    val cells = Sketches.countMinCells(rows, 4, 64)
    val est = Sketches.countMinLookup(cells, Seq("nope").toDF("key"), 4, 64)
      .collect()
    // an absent key can collide into occupied cells; the estimate is
    // >= 0 and both engines agree — here width 64 with 7 live keys
    // leaves at least one of the 4 depth cells empty almost surely
    assert(est.length == 1 && est.head.getLong(1) >= 0L)
  }

  test("KMV is exact below k and merge equals direct above k") {
    graft.functions.GraftExtensions.register(spark)
    // 3 groups x 40 distinct ids each, ids shared across groups
    val rows = (for (g <- 0 until 3; i <- 0 until 40)
      yield (s"g$g", (g * 17 + i) % 90)).toDF("grp", "id").repartition(4)
    val k = 16
    val perGrp = Sketches.kmvSketch(rows, "id", Seq("grp"), k)
    // n_exact matches the true distinct count per group
    val nEx = perGrp.select("grp", "n_exact").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nEx == Map("g0" -> 40L, "g1" -> 40L, "g2" -> 40L))
    // exact below k
    val small = Sketches.kmvSketch(rows.filter(col("id") < 9), "id", Seq("grp"), k)
      .select(col("grp"), Sketches.kmvEstimate(k).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    small.foreach { case (g, est) =>
      val truth = rows.filter(col("grp") === g && col("id") < 9)
        .select("id").distinct().count()
      assert(est == truth, s"below-k KMV must be exact for $g")
    }
    // merged bottom-k == direct global bottom-k, hence equal estimates
    val direct = Sketches.kmvSketch(rows, "id", Nil, k)
      .select(Sketches.kmvEstimate(k).as("est")).head().getLong(0)
    val merged = Sketches.kmvMerge(perGrp, k)
      .select(Sketches.kmvEstimate(k).as("est")).head().getLong(0)
    assert(merged == direct)
    // the estimate is in a sane band around the truth (90 distinct)
    assert(direct > 30 && direct < 270, s"estimate far off: $direct")
  }

  test("KMV estimate is independent of input partitioning") {
    graft.functions.GraftExtensions.register(spark)
    val base = (0 until 500).map(i => ("x", i * 31 % 400))
    val ests = Seq(1, 3, 8).map { p =>
      Sketches.kmvSketch(base.toDF("grp", "id").repartition(p), "id", Seq("grp"), 32)
        .select(Sketches.kmvEstimate(32).as("est")).head().getLong(0)
    }
    assert(ests.distinct.size == 1, s"partitioning changed the estimate: $ests")
  }

  /** The engine's h48: first 12 md5 hex chars + 1 — driver-side twin
    * for independent set-ops derivation.
    */
  private def refH48(x: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString,
      16) + 1L

  test("KMV set ops match an independent rank-by-rank derivation (filled branch)") {
    graft.functions.GraftExtensions.register(spark)
    val k = 16
    // overlapping integer sets, both well above k distinct
    val a = (0 until 120).map(i => ("A", i))
    val b = (60 until 200).map(i => ("B", i))
    val rows = (a ++ b).toDF("grp", "id").repartition(4)
    val got = Sketches.kmvSetOps(
        Sketches.kmvSketch(rows, "id", Seq("grp"), k), "grp", k)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.length == 1)
    // independent reference: sort hashes, take bottom-k, replay algebra
    val hA = a.map(t => refH48(t._2.toString)).distinct.sorted
    val hB = b.map(t => refH48(t._2.toString)).distinct.sorted
    val bkA = hA.take(k).toSet
    val bkB = hB.take(k).toSet
    val u = (bkA ++ bkB).toSeq.sorted.take(k)
    val rho = u.count(h => bkA(h) && bkB(h)).toLong
    val unionEst = ((k - 1L) << 48) / u(k - 1)
    val expect = ("A", "B", rho, unionEst, rho * unionEst / k,
      rho * 1000000L / k)
    assert(got.head == expect, s"got ${got.head}, expected $expect")
    // and the estimators are in a sane band around the truth
    assert(unionEst > 50 && unionEst < 800, s"union estimate far off: $unionEst")
  }

  test("KMV set ops are exact when the union sketch never fills") {
    graft.functions.GraftExtensions.register(spark)
    val k = 64
    val rows = ((0 until 10).map(i => ("A", i)) ++ (6 until 15).map(i => ("B", i)))
      .toDF("grp", "id")
    val got = Sketches.kmvSetOps(
        Sketches.kmvSketch(rows, "id", Seq("grp"), k), "grp", k)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // |A|=10, |B|=9, |A∩B|=4 (6..9), |A∪B|=15 — all exact, J = 4/15
    assert(got == Seq(("A", "B", 4L, 15L, 4L, 4L * 1000000L / 15L)))
  }

  test("AMS F2 cells equal a JVM-side md5 sign replay; merge = partition invariance") {
    def sign(sk: Int, key: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key".getBytes("UTF-8"))
      // bit sk of the first 8 hex chars (= first 4 digest bytes, big-endian)
      // — exactly the engine's shiftright(conv(substr(md5,1,8),16,10), s) % 2
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      if (((h >> sk) & 1L) == 0L) 1L else -1L
    }
    val keys = Seq(1L, 1L, 2L, 3L, 3L, 3L, 7L)
    val reps = 8
    val expected = (0 until reps).map(sk => sk -> keys.map(sign(sk, _)).sum).toMap
    for (parts <- Seq(1, 4)) {
      val cells = Sketches.amsCells(
          keys.toDF("key").repartition(parts), reps)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(cells == expected, s"parts=$parts: $cells")
    }
    // E[z^2] = F2 exactly in expectation; here just pin the exact-F2 target
    // the estimator chases: sum f_k^2 = 4 + 1 + 9 + 1 = 15
    assert(keys.groupBy(identity).values.map(g => g.size.toLong * g.size).sum == 15L)
  }

  test("dyadic quantile sketch: one-sided monotone ranks, exact merge, loud bound") {
    val bits = 10; val depth = 4; val width = 256
    val vals = (0 until 300).map(i => ((i * 37) % 1000).toLong)
    val rows = vals.map(v => (v, (v % 3).toInt)).toDF("u", "g").repartition(4)
    // merge exactness: grain-summed grid == direct whole-input grid
    def cellMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    val merged = Sketches.dyadicMerge(
      Sketches.dyadicCells(rows, bits, depth, width, Seq("g")))
    assert(cellMap(merged) ==
      cellMap(Sketches.dyadicCells(rows.select("u"), bits, depth, width)))
    // ranks: never below exact (count-min one-sidedness — NOT monotone in
    // v: adjacent prefixes decompose through different levels whose
    // collision mass differs, a documented property of dyadic CM ranges),
    // and the full-universe rank equals N exactly (level-`bits` node 0
    // holds every row and collides with nothing)
    val ranks = Sketches.dyadicRankLe(
        Sketches.dyadicNodeEst(merged, bits, depth, width), bits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.size == (1 << bits))
    (0 until (1 << bits)).foreach { v =>
      assert(ranks(v.toLong) >= vals.count(_ <= v),
        s"rank under-estimate at v=$v")
    }
    assert(ranks((1L << bits) - 1) == vals.size.toLong)
    // a value outside the declared universe fails loudly, never hashes
    val oob = intercept[Exception] {
      Sketches.dyadicCells(Seq(5000L).toDF("u"), bits, depth, width).collect()
    }
    assert(oob.getMessage.contains("universe") ||
      Option(oob.getCause).exists(_.getMessage.contains("universe")))
  }

  test("KLL sampler: levels are hash-trailing-zeros, sample is bounded, small inputs exact") {
    val rows = (1L to 300L).map(i => (i.toDouble, i)).toDF("x", "rid")
    val levels = Sketches.kllLevels(rows, "x", "rid")
    // lvl = min(trailing zeros of h, cap) — re-derive per row and compare
    val bad = levels.filter(not(col("lvl") ===
      (1 to Sketches.MaxKllLevel)
        .map(l => when(col("h") % (1L << l) === 0, 1).otherwise(0))
        .reduce(_ + _))).count()
    assert(bad == 0L)
    // n <= k: threshold 0, sample = everything -> served quantiles EXACT
    val summ = Sketches.kllSummary(levels, k = 512)
    val Array(sr) = summ.collect()
    assert(sr.getLong(0) == 300L && sr.getLong(1) == 0L)
    assert(Sketches.kllSample(levels, summ).count() == 300L)
    // n > k: sample bounded by k, threshold minimal (level thr-1 held > k)
    val big = (1L to 20000L).map(i => (i.toDouble, i)).toDF("x", "rid")
    val bl = Sketches.kllLevels(big, "x", "rid")
    val bs = Sketches.kllSummary(bl, k = 256)
    val Array(br) = bs.collect()
    val thr = br.getLong(1)
    val m = Sketches.kllSample(bl, bs).count()
    assert(m <= 256L, s"sample $m exceeds k")
    assert(thr > 0 && bl.filter(col("lvl") >= thr - 1).count() > 256L,
      "threshold not minimal")
  }

  test("KLL sampler merge is exact: per-part sketches re-threshold to the direct build") {
    // 3 parts of very different sizes (thresholds differ), merged two ways:
    // all-at-once and left-fold — both must equal the direct whole-input
    // sketch BIT-FOR-BIT (same thr, same sample membership), the property
    // the a17 oracle hash-proves cross-engine and the streaming twin's
    // fold relies on (associativity)
    val k = 128
    val data = (1L to 9000L).map(i =>
      (if (i <= 6000) 0 else if (i <= 8500) 1 else 2, i.toDouble * 0.5, i))
    val rows = data.toDF("part", "x", "rid").repartition(7)
    val direct = {
      val l = Sketches.kllLevels(rows, "x", "rid")
      val su = Sketches.kllSummary(l, k)
      (su, Sketches.kllSample(l, su))
    }
    val perPart = {
      val l = Sketches.kllLevels(rows, "x", "rid", Seq("part"))
      val su = Sketches.kllSummary(l, k, Seq("part"))
      (su, Sketches.kllSample(l, su, Seq("part")))
    }
    val merged = Sketches.kllMergedSummary(perPart._1, perPart._2, k)
    val dRow = direct._1.collect()(0)
    val mRow = merged.collect()(0)
    assert(mRow.getLong(0) == dRow.getLong(0) && mRow.getLong(1) == dRow.getLong(1),
      s"merged (n, thr) ${mRow.toSeq} != direct ${dRow.toSeq}")
    val ms = Sketches.kllMergedSample(perPart._2, merged).select("v", "h")
    val ds = direct._2.select("v", "h")
    assert(ms.except(ds).count() == 0 && ds.except(ms).count() == 0)
    // left-fold (the streaming shape): ((p0 + p1) + p2) — same result
    val parts = (0 to 2).map { p =>
      val one = rows.filter(col("part") === p)
      val l = Sketches.kllLevels(one, "x", "rid")
      val su = Sketches.kllSummary(l, k)
      (su, Sketches.kllSample(l, su))
    }
    val folded = parts.reduce { (a, b) =>
      val parts2 = a._1.select("n", "thr").unionByName(b._1.select("n", "thr"))
      val samples = a._2.unionByName(b._2)
      val mg = Sketches.kllMergedSummary(parts2, samples, k)
      (mg, Sketches.kllMergedSample(samples, mg))
    }
    val fRow = folded._1.collect()(0)
    assert(fRow.getLong(0) == dRow.getLong(0) && fRow.getLong(1) == dRow.getLong(1))
    assert(folded._2.select("v", "h").except(ds).count() == 0 &&
      ds.except(folded._2.select("v", "h")).count() == 0)
  }

  test("KLL summary guard fails loudly when k cannot hold the input") {
    // the guard trips iff even the cap level holds > k rows; adversarial
    // hash inputs for that are not constructible deterministically, so
    // build a synthetic levels frame pinned at the cap (the guard is on
    // the summary arithmetic, not the hash)
    val fake = (1L to 50L).map(i => (i.toDouble, i, Sketches.MaxKllLevel))
      .toDF("v", "h", "lvl")
    val ex = intercept[Exception] {
      Sketches.kllSummary(fake, k = 2).collect()
    }
    assert(ex.toString.contains("k too small") ||
      Option(ex.getCause).exists(_.toString.contains("k too small")))
  }
}
