package graft

import graft.ops.Pareto
import org.scalatest.funsuite.AnyFunSuite

/** 2-D skyline vs a brute-force dominance reference: the bucketed
  * prefix-max formulation must equal the quadratic NOT-EXISTS definition
  * on hand fixtures and random inputs, independent of bucket count and
  * input partitioning.
  */
class ParetoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Quadratic reference: p survives iff no q dominates it. */
  private def brute(points: Seq[(Long, Long, Long)]): Set[Long] =
    points.filter { case (id, x, y) =>
      !points.exists { case (_, qx, qy) =>
        qx <= x && qy >= y && (qx < x || qy > y)
      }
    }.map(_._1).toSet

  test("skyline2d: hand fixture — same-x ties, co-duplicated frontier points") {
    // min x, max y. (1,3) frontier; (2,5) frontier TWICE (co-duplicates
    // both survive); (3,4) dominated by (2,5); (1,2) dominated by (1,3).
    val pts = Seq((10L, 1L, 3L), (20L, 2L, 5L), (21L, 2L, 5L),
      (30L, 3L, 4L), (40L, 1L, 2L))
    val df = pts.toDF("id", "x", "y")
    val got = Pareto.skyline2d(df, "x", "y").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 20L, 21L))
    assert(got == brute(pts))
  }

  test("skyline2d: random inputs equal brute force for every bucket count") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val pts = (0 until 200).map(i =>
        (i.toLong, rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val df = pts.toDF("id", "x", "y").repartition(7)
      val expect = brute(pts)
      for (b <- Seq(1, 2, 64)) {
        val got = Pareto.skyline2d(df, "x", "y", buckets = b).select("id")
          .collect().map(_.getLong(0)).toSet
        assert(got == expect, s"trial=$trial buckets=$b")
      }
    }
  }

  test("exclusivePrefixSum equals the naive global window for every bucket count") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map(i => (i.toLong * 3 + 7, rnd.nextInt(100).toLong))
    // driver-side reference: running EXCLUSIVE sum in order
    var acc = 0L
    val ref = rows.sortBy(_._1).map { case (o, v) => val p = o -> acc; acc += v; p }.toMap
    val df = rows.toDF("o", "v").repartition(5)
    for (b <- Seq(1, 3, 64)) {
      val got = graft.ops.PrefixOps.exclusivePrefixSum(df, "o", "v", "pfx", buckets = b)
        .select("o", "pfx").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref, s"buckets=$b")
    }
  }

  test("exclusivePrefixSum: duplicate order keys fail loudly, not ambiguously") {
    val df = Seq((1L, 5L), (1L, 7L), (2L, 1L)).toDF("o", "v")
    // the guard rides INSIDE the prefix column (Bounded.guard semantics),
    // so the consumer must read it — count() alone would prune it away
    val e = intercept[Exception](
      graft.ops.PrefixOps.exclusivePrefixSum(df, "o", "v", "pfx")
        .select("pfx").collect())
    assert(e != null)
  }

  test("skyline2d: single point, identical points, empty input") {
    val one = Seq((1L, 5L, 5L)).toDF("id", "x", "y")
    assert(Pareto.skyline2d(one, "x", "y").count() == 1)
    val same = Seq((1L, 5L, 5L), (2L, 5L, 5L), (3L, 5L, 5L)).toDF("id", "x", "y")
    assert(Pareto.skyline2d(same, "x", "y").count() == 3)
    val empty = spark.emptyDataset[(Long, Long, Long)].toDF("id", "x", "y")
    assert(Pareto.skyline2d(empty, "x", "y").count() == 0)
  }
}
