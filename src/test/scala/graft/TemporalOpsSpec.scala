package graft

import graft.llm.Sampling
import graft.ops.TemporalOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** As-of join, sessionization, and deterministic sampling/packing. */
class TemporalOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("asof join carries the latest right value at-or-before each left row") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 50L, "d"))
      .toDF("k", "tsn", "tag")
    val right = Seq((1L, 10L, 1.0), (1L, 15L, 2.0), (2L, 60L, 9.0))
      .toDF("k", "tsn", "v")
    val got = TemporalOps.asofJoinBackward(left, right, "k", "tsn", "v", "asof_v", "tsn")
      .select("tag", "asof_v").collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got("a") == 1.0) // equal ts: right row at 10 is included (<=)
    assert(got("b") == 2.0) // latest prior (15), not first (10)
    assert(got("c") == null) // no right row at or before 5
    assert(got("d") == null) // other key's rows invisible; 60 > 50
  }

  test("asof join breaks right-side timestamp ties deterministically (last tie wins)") {
    val left = Seq((1L, 10L, 100L)).toDF("k", "tsn", "event_id")
    val right = Seq((1L, 10L, 1L, 5.0), (1L, 10L, 2L, 7.0)).toDF("k", "tsn", "rid", "v")
    val got = TemporalOps.asofJoinBackward(left, right, "k", "tsn", "v", "asof_v", "rid")
      .select("asof_v").collect()(0).getDouble(0)
    assert(got == 7.0)
  }

  test("asof join tie column keeps its own type: string event ids stay deterministic") {
    // a long-cast of a string tie id would be NULL for every row and the
    // documented last-tie-wins would silently become arbitrary
    val left = Seq((1L, 10L, 100L)).toDF("k", "tsn", "event_id")
    val right = Seq((1L, 10L, "ev-a", 5.0), (1L, 10L, "ev-b", 7.0))
      .toDF("k", "tsn", "rid", "v")
    val got = TemporalOps.asofJoinBackward(left, right, "k", "tsn", "v", "asof_v", "rid")
      .select("asof_v").collect()(0).getDouble(0)
    assert(got == 7.0) // "ev-b" sorts last lexically -> its value carries
  }

  test("asof join tolerance ages out stale matches; null right values match as null") {
    val left = Seq((1L, 100L, "fresh"), (1L, 500L, "stale")).toDF("k", "tsn", "tag")
    val right = Seq((1L, 90L, 10L, Some(1.5)), (1L, 80L, 11L, Some(9.9)))
      .toDF("k", "tsn", "rid", "v")
    val got = TemporalOps.asofJoinBackward(left, right, "k", "tsn", "v", "av", "rid",
        tolerance = Some(50L))
      .select("tag", "av").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got("fresh") == 1.5)  // 100-90=10 <= 50
    assert(got("stale") == null) // 500-90=410 > 50: latest match too old
    // a null-VALUED right row matches as null (row semantics, like SQL ASOF),
    // not falling through to the older non-null value
    val rightNull = Seq((1L, 90L, 10L, None), (1L, 80L, 11L, Some(9.9)))
      .toDF("k", "tsn", "rid", "v")
    val gotNull = TemporalOps.asofJoinBackward(left, rightNull, "k", "tsn", "v", "av", "rid")
      .select("tag", "av").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(gotNull("fresh") == null)
  }

  test("sessionize splits on gap and numbers sessions 1..n per key") {
    // key 1: events at 0, 10, 1000, 1005 with gap 100 -> sessions 1,1,2,2
    val e = Seq((1L, 0L, 1L), (1L, 10L, 2L), (1L, 1000L, 3L), (1L, 1005L, 4L),
      (2L, 0L, 5L)).toDF("k", "tsn", "eid")
    val sess = TemporalOps.sessionize(e, "k", gap = 100L, tieCol = "eid")
    val got = sess.select("eid", "session_no").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
    val stats = TemporalOps.sessionStats(sess, "k")
      .filter($"k" === 1 && $"session_no" === 2).collect()(0)
    assert(stats.getAs[Long]("n_events") == 2L)
    assert(stats.getAs[Long]("start_ts") == 1000L && stats.getAs[Long]("end_ts") == 1005L)
  }

  test("asof join matches a naive per-row reference on random data") {
    val rnd = new scala.util.Random(23)
    val left = (0 until 300).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong, i.toLong)).toDF("k", "tsn", "lid")
    val rightRows = (0 until 300).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong, i.toLong, rnd.nextDouble()))
    val right = rightRows.toDF("k", "tsn", "rid", "v")
    val got = TemporalOps.asofJoinBackward(left, right, "k", "tsn", "v", "asof_v", "rid")
      .select("lid", "asof_v").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // reference: for each left row, the right row with max (tsn, rid) among
    // those at-or-before — mirrors the operator's last-tie-wins contract
    val byKey = rightRows.groupBy(_._1)
    left.collect().foreach { lr =>
      val (k, tsn, lid) = (lr.getLong(0), lr.getLong(1), lr.getLong(2))
      val want = byKey.getOrElse(k, Nil).filter(_._2 <= tsn)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._4)
      assert(got(lid) == want, s"lid=$lid k=$k tsn=$tsn")
    }
  }

  test("sessionize matches a naive sequential reference on random data") {
    val rnd = new scala.util.Random(29)
    val rows = (0 until 400).map(i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(5000).toLong, i.toLong))
    val got = TemporalOps.sessionize(rows.toDF("k", "tsn", "eid"), "k", gap = 50L, tieCol = "eid")
      .select("eid", "session_no").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (_, evs) =>
      var prev = Long.MinValue; var sess = 0L
      evs.sortBy(e => (e._2, e._3)).foreach { case (_, tsn, eid) =>
        if (prev == Long.MinValue || tsn - prev > 50L) sess += 1
        prev = tsn
        assert(got(eid) == sess, s"eid=$eid")
      }
    }
  }

  test("asofJoinForward carries the earliest right value at-or-after each left row") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 50L, "c"), (2L, 5L, "d"))
      .toDF("k", "tsn", "tag")
    val right = Seq((1L, 10L, 1.0), (1L, 15L, 2.0), (1L, 40L, 3.0), (2L, 60L, 9.0))
      .toDF("k", "tsn", "v")
    val got = TemporalOps.asofJoinForward(left, right, "k", "v", "asof_v", "tsn")
      .select("tag", "asof_v", "tsn").collect()
      .map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) null else r.getDouble(1)), r.getLong(2))).toMap
    assert(got("a") == ((1.0, 10L))) // equal ts included (>=), earliest wins
    assert(got("b") == ((3.0, 20L))) // earliest AFTER 20 is 40, not latest
    assert(got("c") == ((null, 50L))) // nothing at or after 50
    assert(got("d") == ((9.0, 5L))) // other key invisible; ts restored unnegated
  }

  test("asofJoinForward tolerance ages out matches too far in the future") {
    val left = Seq((1L, 10L, 100L)).toDF("k", "tsn", "id")
    val right = Seq((1L, 25L, 7.0)).toDF("k", "tsn", "v")
    val near = TemporalOps.asofJoinForward(left, right, "k", "v", "av", "tsn",
      tolerance = Some(15L)).select("av").collect()(0)
    assert(near.getDouble(0) == 7.0)
    val far = TemporalOps.asofJoinForward(left, right, "k", "v", "av", "tsn",
      tolerance = Some(14L)).select("av").collect()(0)
    assert(far.isNullAt(0))
  }

  test("asofJoinForward matches a naive per-row reference on random data") {
    val rnd = new scala.util.Random(43)
    val left = (0 until 200).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val right = (0 until 150).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toDouble))
    // pre-aggregate right per (k, ts) like the registry queries do, so the
    // at-tie winner is well-defined
    val rightAgg = right.groupBy(r => (r._1, r._2)).map { case ((k, t), rs) =>
      (k, t, rs.map(_._3).max) }.toSeq
    val got = TemporalOps.asofJoinForward(
        left.toDF("k", "tsn", "id"), rightAgg.toDF("k", "tsn", "v"),
        "k", "v", "av", "tsn")
      .select("id", "av").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    left.foreach { case (k, t, id) =>
      val cand = rightAgg.filter(r => r._1 == k && r._2 >= t)
      val want = if (cand.isEmpty) null else cand.minBy(_._2)._3
      assert(got(id) == want, s"id=$id")
    }
  }

  test("intervalJoin: inclusive bounds, per-key isolation, exactly-once pairs") {
    // interval [10, 30] for key 1; points at the bounds, inside, outside,
    // and on another key. bucketWidth 7 makes the interval straddle
    // several buckets — pairs must still emerge exactly once.
    val ivals = Seq((1L, 10L, 30L, "i1"), (1L, 100L, 100L, "i2"), (2L, 0L, 50L, "i3"))
      .toDF("k", "lo", "hi", "ival")
    val pts = Seq((1L, 10L, "a"), (1L, 30L, "b"), (1L, 20L, "c"), (1L, 31L, "d"),
      (1L, 9L, "e"), (1L, 100L, "f"), (2L, 20L, "g"), (3L, 20L, "h"))
      .toDF("k", "tsn", "pt")
    val got = TemporalOps.intervalJoin(pts, ivals, "k", "tsn", "lo", "hi",
        bucketWidth = 7L)
      .select("pt", "ival").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.sorted.toSeq == Seq("a" -> "i1", "b" -> "i1", "c" -> "i1",
      "f" -> "i2", "g" -> "i3").sorted.toSeq)
  }

  test("intervalJoin: overlapping intervals yield one row per containing interval") {
    val ivals = Seq((1L, 0L, 100L, "wide"), (1L, 40L, 60L, "narrow"))
      .toDF("k", "lo", "hi", "ival")
    val pts = Seq((1L, 50L, "in-both"), (1L, 20L, "in-wide")).toDF("k", "tsn", "pt")
    val got = TemporalOps.intervalJoin(pts, ivals, "k", "tsn", "lo", "hi", 32L)
      .select("pt", "ival").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(got.toSeq == Seq("in-both" -> "narrow", "in-both" -> "wide",
      "in-wide" -> "wide").sorted.toSeq)
  }

  test("intervalJoin matches a naive BETWEEN join on random data, incl. negative ts") {
    val rnd = new scala.util.Random(31)
    val ivals = (0 until 60).map { i =>
      val lo = rnd.nextInt(2000).toLong - 1000L
      (rnd.nextInt(5).toLong, lo, lo + rnd.nextInt(300).toLong, i.toLong)
    }
    val pts = (0 until 300).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(2400).toLong - 1200L, i.toLong))
    val got = TemporalOps.intervalJoin(
        pts.toDF("k", "tsn", "pid"), ivals.toDF("k", "lo", "hi", "iid"),
        "k", "tsn", "lo", "hi", bucketWidth = 100L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = (for {
      (pk, tsn, pid) <- pts
      (ik, lo, hi, iid) <- ivals
      if pk == ik && tsn >= lo && tsn <= hi
    } yield (pid, iid)).sorted
    assert(got.toSeq == want)
  }

  test("intervalJoin refuses degenerate intervals via the bounded-replication guard") {
    val ivals = Seq((1L, 0L, Long.MaxValue / 2, "open")).toDF("k", "lo", "hi", "ival")
    val pts = Seq((1L, 5L, "p")).toDF("k", "tsn", "pt")
    val e = intercept[Exception] {
      TemporalOps.intervalJoin(pts, ivals, "k", "tsn", "lo", "hi",
        bucketWidth = 10L, maxBucketsPerInterval = 8).collect()
    }
    assert(e.getMessage != null)
  }

  test("split assignment is deterministic, complete, and roughly proportional") {
    val df = spark.range(2000).toDF("id")
    val cuts = Seq(0.8 -> "train", 0.9 -> "val", 1.0 -> "test")
    val a = Sampling.assignSplit(df, "id", cuts).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Sampling.assignSplit(df, "id", cuts).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b) // deterministic
    assert(a.values.sum == 2000) // complete: every row labeled
    assert(a("train") > 1400 && a("train") < 1800) // ~80%
    assert(a("val") > 100 && a("test") > 100)
    intercept[IllegalArgumentException] {
      Sampling.assignSplit(df, "id", Seq(0.5 -> "a", 0.9 -> "b"))
    }
  }

  test("epoch shuffle: deterministic permutation, dense per-shard positions, epoch-sensitive") {
    val df = spark.range(1000).toDF("id")
    val a = Sampling.epochShuffle(df, "id", epoch = 1, nShards = 4)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val b = Sampling.epochShuffle(df, "id", epoch = 1, nShards = 4)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b)) // deterministic across runs
    assert(a.map(_._1).distinct.length == 1000) // a permutation: every id once
    // positions are dense 1..n within each shard
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length))
    }
    // shards are roughly balanced (multinomial around 250)
    assert(a.groupBy(_._2).values.map(_.length).forall(n => n > 150 && n < 350))
    // a different epoch yields a different permutation
    val c = Sampling.epochShuffle(df, "id", epoch = 2, nShards = 4)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(!a.sameElements(c))
    intercept[IllegalArgumentException] {
      Sampling.epochShuffle(df.withColumn("shard", lit(0)), "id", 1, 4)
    }
  }

  test("stratified sample: rate 1.0 keeps every row, rate 0.0 drops the stratum") {
    val df = (0L until 500L).map(i => (i, if (i % 2 == 0) "keep" else "drop"))
      .toDF("id", "stratum")
    val kept = Sampling.stratifiedSample(df, "id", "stratum",
      Map("keep" -> 1.0, "drop" -> 0.0))
      .select("stratum").collect().map(_.getString(0))
    assert(kept.length == 250 && kept.forall(_ == "keep"))
    assert(Sampling.hexThreshold(1.0) == "g") // sorts after all hex keys
  }

  test("sequence packing assigns first-fit bins with bounded overflow") {
    // one shard, capacity 10, tokens 4,4,4,4 -> preceding cums 0,4,8,12 ->
    // packs 0,0,0,1 (third doc overflows pack 0 by 2 — bounded by one doc)
    val docs = Seq((1L, "a a a a"), (2L, "b b b b"), (3L, "c c c c"), (4L, "d d d d"))
      .toDF("doc_id", "text").withColumn("shard", lit(0))
    val packed = Sampling.packSequences(docs, "doc_id", "shard",
        size(split(col("text"), " ")).cast("long"), capacity = 10L)
      .select("doc_id", "pack_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
    // packs never start past capacity: every pack's first doc begins within it
  }

  test("writeTrainingShards: layout, conservation, bounded overflow, determinism") {
    val base = java.nio.file.Files.createTempDirectory("graft-shards")
    try {
      val docs = (0L until 400L).map(i => (i, ("w " * (i.toInt % 13 + 1)).trim))
        .toDF("doc_id", "text")
      val tokens = size(split(col("text"), " ")).cast("long")
      Sampling.writeTrainingShards(docs, s"$base/out1", "doc_id", tokens,
        capacity = 64L, numShards = 4)
      val back = spark.read.parquet(s"$base/out1")
      assert(back.count() == 400) // conservation: every doc lands exactly once
      assert(back.select("split").distinct().collect().map(_.getString(0)).toSet
        == Set("train", "val"))
      assert(back.select("shard").distinct().collect().map(_.getInt(0)).forall(s => s >= 0 && s < 4))
      // bounded overflow: any pack minus its largest member fits capacity
      val viol = back.groupBy("split", "shard", "pack_id")
        .agg(sum("n_tokens").as("s"), max("n_tokens").as("m"))
        .filter(col("s") - col("m") >= 64).count()
      assert(viol == 0)
      // reproducible layout: a second write yields identical assignments
      Sampling.writeTrainingShards(docs, s"$base/out2", "doc_id", tokens,
        capacity = 64L, numShards = 4)
      val key = (d: String) => spark.read.parquet(d)
        .select("doc_id", "split", "shard", "pack_id").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
      assert(key(s"$base/out1") == key(s"$base/out2"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("tokenBudgetMix equals the flat per-domain window at any bucket width") {
    val docs = (0L until 300L)
      .map(i => (i, s"dom${i % 3}", "w " * (i.toInt % 17 + 1)))
      .toDF("doc_id", "domain", "text")
    val budgets = Map("dom0" -> 200L, "dom1" -> 450L)
    // independent naive formulation: one flat window per domain over the
    // same hash order, evaluated driver-side
    val keyed = docs.select(col("doc_id"), col("domain"),
        size(split(col("text"), " ")).cast("long").as("n"),
        Sampling.hashKey(col("doc_id"), "mix").as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val expected = keyed.groupBy(_._2).toSeq.flatMap { case (dom, rows) =>
      val budget = budgets.getOrElse(dom, 100L)
      var cum = 0L
      rows.sortBy(r => (r._4, r._1)).toSeq.flatMap { case (id, _, n, _) =>
        val start = cum; cum += n
        if (start < budget) Some(id -> (cum: java.lang.Long)) else None
      }
    }.toMap
    for (width <- Seq(1, 2)) {
      val got = Sampling.tokenBudgetMix(docs, "domain",
          size(split(col("text"), " ")), budgets, defaultBudget = 100L,
          bucketHexChars = width)
        .select("doc_id", "cum_tokens").collect()
        .map(r => r.getLong(0) -> (r.getLong(1): java.lang.Long)).toMap
      assert(got == expected, s"bucketHexChars=$width")
    }
  }

  test("tokenBudgetMix degenerate inputs: zero budget drops all; absent domain uses default") {
    val docs = Seq((1L, "a", "w w"), (2L, "b", "w w w")).toDF("doc_id", "domain", "text")
    val tokens = size(split(col("text"), " "))
    // zero budget: no doc STARTS inside it
    val none = Sampling.tokenBudgetMix(docs, "domain", tokens, Map("a" -> 0L, "b" -> 0L))
    assert(none.count() == 0)
    // domain absent from the map: defaultBudget applies (MaxValue keeps all)
    val all = Sampling.tokenBudgetMix(docs, "domain", tokens, Map("a" -> 100L))
    assert(all.count() == 2)
    // empty input frame round-trips
    val empty = Sampling.tokenBudgetMix(docs.limit(0), "domain", tokens, Map.empty)
    assert(empty.count() == 0)
  }

  test("tokenBudgetMix: overshoot is bounded by one document per domain") {
    val docs = (0L until 200L).map(i => (i, "d", "t " * 10)).toDF("doc_id", "domain", "text")
    val kept = Sampling.tokenBudgetMix(docs, "domain",
        size(split(col("text"), " ")), Map("d" -> 101L))
      .select("n_tokens").collect().map(_.getLong(0))
    // 11-token docs; budget 101: docs starting at 0,11,...,99 kept -> 10 docs
    assert(kept.length == 10 && kept.sum == 110L) // overshoot 9 < one doc
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetMix(docs.withColumn("n_tokens", lit(1L)),
        "domain", lit(1L), Map("d" -> 10L))
    }
  }

  test("sampleExactK: exact per-group counts, stable membership, two-level == flat") {
    val df = (0L until 500L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val got = Sampling.sampleExactK(df, "id", "grp", k = 10)
    val counts = got.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("g0" -> 10L, "g1" -> 10L, "g2" -> 10L))
    // partitioning-independent membership; wider buckets change nothing
    val ids = got.select("id").collect().map(_.getLong(0)).toSet
    val re = Sampling.sampleExactK(df.repartition(7), "id", "grp", k = 10, bucketHexChars = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(re == ids)
    // groups smaller than k keep every row
    val tiny = Sampling.sampleExactK(df.filter(col("id") < 4), "id", "grp", k = 10)
    assert(tiny.count() == 4)
    // adding rows only displaces at the hash-order boundary: the new sample
    // is NOT forced to contain the old one, but stays exactly k per group
    // and k-stable for untouched groups
    val grown = Sampling.sampleExactK(
      df.union(Seq((900L, "g0")).toDF("id", "grp")), "id", "grp", k = 10)
    assert(grown.filter(col("grp") === "g0").count() == 10)
    assert(grown.filter(col("grp") === "g1").select("id").collect().map(_.getLong(0)).toSet ==
      got.filter(col("grp") === "g1").select("id").collect().map(_.getLong(0)).toSet)
  }

  test("temperatureMix: per-group floor(rate*sqrt(n)) budgets, tail over-represented") {
    // skewed groups: big 400, small 25 — alpha = 1/2 keeps sqrt-proportional
    // counts, so the small group's KEEP RATE is 4x the big one's
    val df = ((0L until 400L).map(i => (i, "big")) ++
      (1000L until 1025L).map(i => (i, "small"))).toDF("id", "grp")
    val got = Sampling.temperatureMix(df, "id", "grp", rate = 1.0)
    val counts = got.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big" -> 20L, "small" -> 5L)) // floor(sqrt(400)), floor(sqrt(25))
    // rate scales budgets; membership is partitioning-independent
    val half = Sampling.temperatureMix(df, "id", "grp", rate = 0.5)
    assert(half.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("big" -> 10L, "small" -> 2L))
    val ids = got.select("id").collect().map(_.getLong(0)).toSet
    val re = Sampling.temperatureMix(df.repartition(7), "id", "grp", rate = 1.0,
      bucketHexChars = 4).select("id").collect().map(_.getLong(0)).toSet
    assert(re == ids)
    // the half-rate sample is the hash-order PREFIX of the full-rate one
    assert(half.select("id").collect().map(_.getLong(0)).toSet.subsetOf(ids))
  }

  test("weightedSampleExactK matches a naive driver-side priority reference, two-level == flat") {
    // independent reference: md5 via MessageDigest, priority = u/w, take k
    // smallest per group
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(37)
    val rows = (0L until 400L).map(i => (i, s"g${i % 4}", rnd.nextInt(5000).toLong + 1L))
    val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.map { case (id, g, w) =>
        val u = java.lang.Long.parseLong(md5hex(s"wpps:$id").take(13), 16)
        (u.toDouble / w.toDouble, id, g)
      }.sortBy(p => (p._1, p._2)).take(6).map(_._2)
    }.toSet
    for (width <- Seq(1, 3)) {
      val got = Sampling.weightedSampleExactK(
          rows.toDF("id", "grp", "w").repartition(5), "id", "grp", col("w"), k = 6,
          bucketHexChars = width)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"bucketHexChars=$width")
    }
  }

  test("weightedSampleExactK: heavy weights dominate; non-positive weights refuse") {
    // one group, k=1: items are (id 0, weight 1) .. (id 9, weight 1) plus
    // (id 99, weight 10^9). Priority u/w makes the heavy item ~10^9 times
    // cheaper — it must win against any realistic uniform draw.
    val df = ((0L until 10L).map(i => (i, "g", 1L)) :+ ((99L, "g", 1000000000L)))
      .toDF("id", "grp", "w")
    val got = Sampling.weightedSampleExactK(df, "id", "grp", col("w"), k = 1)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(99L))
    // zero weight fails loudly (executable invariant), not Infinity-silently
    val bad = Seq((1L, "g", 0L)).toDF("id", "grp", "w")
    intercept[Exception] {
      Sampling.weightedSampleExactK(bad, "id", "grp", col("w"), k = 1).collect()
    }
    // groups smaller than k keep every (positively weighted) row
    val tiny = Sampling.weightedSampleExactK(
      df.filter(col("id") < 3), "id", "grp", col("w"), k = 10)
    assert(tiny.count() == 3)
  }

  test("importanceScores ranks target-like docs above background docs") {
    // target speaks only of cats; raw corpus is cats + dogs. A cat doc's
    // features are cheap under the target model and ordinary under the raw
    // model; a dog doc's features are impossible under the target model.
    val docs = Seq(
      (1L, "cat cat likes cat"), (2L, "dog dog likes dog"),
      (3L, "cat likes dog"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val target = Seq((10L, "cat likes cat"), (11L, "cat cat cat")).toDF("doc_id", "text")
    val got = Sampling.importanceScores(docs, target, docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L)._4 > got(3L)._4, "all-cat doc must outscore the mixed doc")
    assert(got(3L)._4 > got(2L)._4, "mixed doc must outscore the all-dog doc")
    assert(got(4L) == ((0L, 0L, 0L, 0L)), "null-text doc scores zeros, not dropped")
    // n_feats = unigrams + bigrams = 4 + 3 for a 4-word doc
    assert(got(1L)._1 == 7L)
    // the model join is a broadcast — scoring never shuffles on feature keys
    val plan = Sampling.importanceScores(docs, target, docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast model join:\n$plan")
    // an id column literally named "id" must not collide with internals
    val renamed = docs.withColumnRenamed("doc_id", "id")
    val viaId = Sampling.importanceScores(renamed,
        target.withColumnRenamed("doc_id", "id"), renamed, idCol = "id")
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(viaId(1L) == got(1L)._4 && viaId(2L) == got(2L)._4)
    intercept[IllegalArgumentException] {
      Sampling.importanceScores(docs, target, docs, idCol = "dsir_id")
    }
  }

  test("dsirSelect two-level top-k equals the flat global window at any bucket width") {
    val rnd = new scala.util.Random(41)
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (0L until 300L).map { i =>
      (i, Seq.fill(5 + rnd.nextInt(10))(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") % 7 === 0)
    val flat = Sampling.importanceScores(docs, target, docs)
      .orderBy(col("score").desc, col("doc_id")).limit(25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (hex <- Seq(1, 2, 3)) {
      val sel = Sampling.dsirSelect(docs, target, docs, k = 25, bucketHexChars = hex)
        .filter(col("selected")).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sel == flat, s"bucketHexChars=$hex")
    }
    // selection is partitioning-independent
    val sel7 = Sampling.dsirSelect(docs.repartition(7), target, docs, k = 25)
      .filter(col("selected")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sel7 == flat)
  }

  test("event-time grain matrix: nanos-long, TIMESTAMP, TIMESTAMP_NTZ parquet all normalize identically") {
    // the exact environment drift that broke round 6: the testdata writer
    // switched from TIMESTAMP(NANOS) to timestamp[us]-without-UTC (NTZ).
    // Write the SAME instants in all three physical grains and require
    // epochMicros / asTimestamp / sessionize to be byte-identical across
    // them, so no future writer change can break the temporal family.
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val micros = Seq(
      (1L, 1L, 1700000000000000L), (1L, 2L, 1700000000250000L),
      (1L, 3L, 1700003600000000L), (2L, 4L, 1700000000250000L))
    val base = java.nio.file.Files.createTempDirectory("graft-grain")
    try {
      val src = micros.toDF("user_id", "event_id", "us")
      src.select(col("user_id"), col("event_id"),
          (col("us") * 1000L).as("ts")) // epoch nanos as plain long
        .write.parquet(s"$base/long")
      src.select(col("user_id"), col("event_id"),
          timestamp_micros(col("us")).as("ts"))
        .write.parquet(s"$base/ts")
      src.select(col("user_id"), col("event_id"),
          timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
        .write.parquet(s"$base/ntz")

      val expectType = Map("long" -> LongType, "ts" -> TimestampType, "ntz" -> TimestampNTZType)
      val expected = micros.map { case (u, e, us) => (u, e, us) }.toSet
      for (variant <- Seq("long", "ts", "ntz")) {
        val df = spark.read.parquet(s"$base/$variant")
        assert(df.schema("ts").dataType == expectType(variant), variant)
        val got = df.select(col("user_id"), col("event_id"),
            TemporalOps.epochMicros(df).as("us"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == expected, s"epochMicros($variant)")
        val gotTs = df.select(col("user_id"), col("event_id"),
            unix_micros(TemporalOps.asTimestamp(df)).as("us"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(gotTs == expected, s"asTimestamp($variant)")
        // end-to-end through an operator: identical sessionization
        val e = df.select(col("user_id"), col("event_id"),
          TemporalOps.epochMicros(df).as("tsn"))
        val sess = TemporalOps.sessionize(e, "user_id", gap = 1800000000L, tieCol = "event_id")
          .select("user_id", "event_id", "session_no")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(sess == Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L)),
          s"sessionize($variant)")
      }
      // unsupported grain fails loudly, not with a wrong answer
      val bad = micros.toDF("user_id", "event_id", "us")
        .select(col("user_id"), col("us").cast("string").as("ts"))
      intercept[IllegalArgumentException](TemporalOps.epochMicros(bad))
      intercept[IllegalArgumentException](TemporalOps.asTimestamp(bad))
      // NTZ normalization under a non-UTC session zone would shift every
      // instant by the zone offset — must refuse, not relabel wrongly
      val ntz = spark.read.parquet(s"$base/ntz")
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      try {
        intercept[IllegalArgumentException](TemporalOps.epochMicros(ntz))
        intercept[IllegalArgumentException](TemporalOps.asTimestamp(ntz))
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
      // and the real testdata loads through the single ingestion point
      val ev = TemporalOps.loadEvents(spark, "/root/testdata/sf0.001")
      assert(ev.schema("ts_us").dataType == LongType && ev.count() > 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("gapFillDaily: contiguous spine, forward fill, day-max aggregate, observed flag") {
    val us = 86400L * 1000000L
    // key A: observed days 10 (max of two events: 5, 9 → 9) and 13 (7);
    // key B: single day 20 (4). Expect A spine 10..13 with 9 carried
    // through the gap, B a one-day spine.
    val ev = Seq(
      ("A", 10 * us + 111L, 5L), ("A", 10 * us + 222L, 9L),
      ("A", 13 * us + 1L, 7L), ("B", 20 * us, 4L)
    ).toDF("k", "ts_us", "cents")
    val got = TemporalOps.gapFillDaily(ev, "k")
      .orderBy("k", "day")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq(
      ("A", 10L, 9L, 1), ("A", 11L, 9L, 0), ("A", 12L, 9L, 0), ("A", 13L, 7L, 1),
      ("B", 20L, 4L, 1)))
  }

  test("gapFillDaily: a key spanning more than maxSpanDays fails loudly") {
    val us = 86400L * 1000000L
    val ev = Seq(("A", 0L, 1L), ("A", 50 * us, 2L)).toDF("k", "ts_us", "cents")
    val e = intercept[Exception](
      TemporalOps.gapFillDaily(ev, "k", maxSpanDays = 10).count())
    assert(e.getMessage != null || e.getCause != null) // raised, not silent
    // and the same span passes when the caller raises the guard explicitly
    assert(TemporalOps.gapFillDaily(ev, "k", maxSpanDays = 50)
      .count() == 51)
  }

  test("mergeIntervals: overlap, touch, and containment collapse; disjoint split") {
    // key A: [0,10) ∪ [5,20) overlap → run; [20,30) touches (st == prevMax,
    // NOT >) → same run; [2,4) contained → absorbed; [40,50) disjoint.
    val iv = Seq(("A", 0L, 10L, 1L), ("A", 5L, 20L, 2L), ("A", 20L, 30L, 3L),
      ("A", 2L, 4L, 4L), ("A", 40L, 50L, 5L), ("B", 0L, 1L, 6L))
      .toDF("k", "st", "en", "id")
    val got = TemporalOps.mergeIntervals(iv, "k", "id")
      .select("k", "ms", "me").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq(("A", 0L, 30L), ("A", 40L, 50L), ("B", 0L, 1L)))
  }

  test("coverageGaps: only interior holes count; single-run keys absent") {
    val iv = Seq(("A", 0L, 10L, 1L), ("A", 15L, 20L, 2L), ("A", 100L, 110L, 3L),
      ("B", 0L, 5L, 4L), ("B", 3L, 9L, 5L)) // B merges to one run → no gaps
      .toDF("k", "st", "en", "id")
    val got = TemporalOps.coverageGaps(iv, "k", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("A", 2L, 85L, 80L))) // gaps 10→15 (5) and 20→100 (80)
  }

  test("ohlcBars: open/close tie-break on (ts, id); extremes and volume exact") {
    // bucket 1: two ticks share the earliest ts — smaller id wins open;
    // two share the latest ts — larger id wins close. high/low from the
    // middle, volume = exact sum.
    val ticks = Seq((1L, 100L, 1L, 7L), (1L, 100L, 2L, 9L), (1L, 150L, 3L, 1L),
      (1L, 150L, 4L, 99L), (1L, 120L, 5L, 50L), (2L, 0L, 6L, 3L))
      .toDF("b", "ts", "id", "v")
    val got = TemporalOps.ohlcBars(ticks, "b", "v", "ts", "id")
      .orderBy("b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq((1L, 7L, 99L, 1L, 99L, 5L, 166L),
      (2L, 3L, 3L, 3L, 3L, 1L, 3L)))
    // partitioning-independence: the map-side-combinable aggregates give
    // the same bars under any physical layout
    val re = TemporalOps.ohlcBars(ticks.repartition(7, col("id")), "b", "v", "ts", "id")
      .orderBy("b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(re.toSeq == got.toSeq)
  }
}
