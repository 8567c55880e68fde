package graft

import graft.ops.ScdOps
import org.scalatest.funsuite.AnyFunSuite

/** SCD Type-2 history: no-op collapse, null-safe attribute transitions,
  * effective ranges and currency flags.
  */
class ScdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("buildHistory collapses no-ops and emits effective ranges") {
    // key 1: value changes A -> A (no-op, collapses) -> B; key 2: single
    // version stays current; seq values deliberately non-contiguous
    val vs = Seq(
      (1L, 0L, "A"), (1L, 5L, "A"), (1L, 9L, "B"),
      (2L, 3L, "X"))
      .toDF("k", "seq", "v")
    val got = ScdOps.buildHistory(vs, "k", Seq("v"))
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) null else r.getLong(3), r.getBoolean(4)))
      .sortBy(r => (r._1, r._3))
    assert(got.toSeq == Seq(
      (1L, "A", 0L, 8L, false), // no-op at seq 5 folded in; range runs to 9-1
      (1L, "B", 9L, null, true),
      (2L, "X", 3L, null, true)))
  }

  test("buildHistory treats null attributes null-safely") {
    // null -> null is a no-op; null -> value and value -> null are changes
    val vs = Seq(
      (1L, 0L, null.asInstanceOf[String]), (1L, 1L, null.asInstanceOf[String]),
      (1L, 2L, "A"), (1L, 3L, null.asInstanceOf[String]))
      .toDF("k", "seq", "v")
    val got = ScdOps.buildHistory(vs, "k", Seq("v"))
      .select("valid_from", "valid_to").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((0L, 1L), (2L, 2L), (3L, null)))
  }

  test("buildHistory tracks multi-column attribute tuples") {
    // change in EITHER attribute starts a new range; both-same collapses
    val vs = Seq(
      (1L, 0L, "A", 10L), (1L, 1L, "A", 10L), (1L, 2L, "A", 20L), (1L, 3L, "B", 20L))
      .toDF("k", "seq", "a", "b")
    val got = ScdOps.buildHistory(vs, "k", Seq("a", "b"))
      .select("valid_from").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(0L, 2L, 3L))
  }
}
