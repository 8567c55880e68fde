package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Structured-Streaming operators: each matches its batch twin, and the
  * store-probing `foreachBatch` loops replay idempotently (SURVEY.md §2.7).
  */
class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming exact dedup drops re-arrived content within the watermark") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sdedup")
    val in = base.resolve("in"); Files.createDirectories(in)
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
      // batch 1: two distinct docs
      Seq((1L, "alpha beta", ts(0)), (2L, "gamma delta", ts(1)))
        .toDF("doc_id", "text", "ts").write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val dedup = StreamingIngest.streamingExactDedup(stream, "30 minutes")
      val q = dedup.writeStream.outputMode("append").format("memory")
        .queryName("sdedup").start()
      try {
        q.processAllAvailable()
        // batch 2: one exact duplicate (dropped), one fresh doc (kept)
        Seq((3L, "alpha beta", ts(2)), (4L, "epsilon", ts(3)))
          .toDF("doc_id", "text", "ts").write.parquet(s"$in/b2")
        q.processAllAvailable()
        val got = spark.table("sdedup").select("doc_id")
          .collect().map(_.getLong(0)).toSet
        assert(got == Set(1L, 2L, 4L)) // 3 was a within-watermark duplicate
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("streaming near-dup candidates probe the persisted signature store") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sneardup")
    val in = base.resolve("in"); Files.createDirectories(in)
    val sigs = s"$base/sigs"; val pairs = s"$base/pairs"; val ckpt = s"$base/ckpt"
    try {
      // batch 1: two distinct docs -> no pairs, 2 signatures persisted
      Seq((1L, "a b c d e f"), (2L, "u v w x y z"))
        .toDF("doc_id", "text").write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val q = StreamingIngest.startNearDupCandidateStream(stream, sigs, pairs, ckpt)
      try {
        q.processAllAvailable()
        assert(spark.read.parquet(sigs).count() == 2)
        // batch 2: a duplicate of doc 1 plus a fresh doc -> cross-batch pair
        // (1,3) found WITHOUT re-sketching the corpus; fresh doc pairs with
        // nothing
        Seq((3L, "a b c d e f"), (4L, "m n o p q r"))
          .toDF("doc_id", "text").write.parquet(s"$in/b2")
        q.processAllAvailable()
        val got = spark.read.parquet(pairs)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == Set((1L, 3L)))
        assert(spark.read.parquet(sigs).count() == 4) // store grew with batch 2
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("sorted-ER batches retire rank-shifted pairs and replay idempotently") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-snm-batch")
    val rows = s"$base/rows"; val pairs = s"$base/pairs"; val man = s"$base/man"
    def result() = StreamingIngest.sortedErResult(spark, pairs, man, "blk")
      .collect().map(r => (r.getAs[Long]("key_a"), r.getAs[Long]("key_b"))).toSet
    try {
      // batch 0: names aa/ab sort adjacent; window=1 pairs them
      val b0 = Seq(("US", 1L, "aa acme"), ("US", 2L, "ab acme")).toDF("blk", "id", "nm")
      StreamingIngest.processSortedErBatch(b0, 0L, rows, pairs, man,
        "blk", "id", "nm", minSim = 0.0, window = 1)
      assert(result() == Set((1L, 2L)))
      // batch 1 inserts "aab ..." BETWEEN them: ranks shift, (1,2) is now
      // 2 apart and must RETIRE — incremental emission could never undo it
      val b1 = Seq(("US", 3L, "aab acme")).toDF("blk", "id", "nm")
      StreamingIngest.processSortedErBatch(b1, 1L, rows, pairs, man,
        "blk", "id", "nm", minSim = 0.0, window = 1)
      assert(result() == Set((1L, 3L), (3L, 2L)))
      // REPLAY batch 1 (at-least-once delivery): overwrite-per-batchId
      // keeps every store idempotent — result and row store unchanged
      StreamingIngest.processSortedErBatch(b1, 1L, rows, pairs, man,
        "blk", "id", "nm", minSim = 0.0, window = 1)
      assert(result() == Set((1L, 3L), (3L, 2L)))
      assert(spark.read.parquet(rows).count() == 3)
      // an untouched block keeps its prior version: batch 2 touches DE
      // only, US pairs must survive the latest-version-per-block assembly
      val b2 = Seq(("DE", 7L, "aa acme"), ("DE", 8L, "ab acme")).toDF("blk", "id", "nm")
      StreamingIngest.processSortedErBatch(b2, 2L, rows, pairs, man,
        "blk", "id", "nm", minSim = 0.0, window = 1)
      assert(result() == Set((1L, 3L), (3L, 2L), (7L, 8L)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("near-dup store rejects a legacy flat layout instead of skipping its history") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-legacy")
    val sigs = s"$base/sigs"; val pairs = s"$base/pairs"
    try {
      // a flat-layout store (pre-batch-partitioning): parquet directly in root
      Seq((1L, "a b c d e f")).toDF("doc_id", "text").write.parquet(sigs)
      val b = Seq((2L, "a b c d e f")).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        StreamingIngest.processNearDupBatch(b, 0L, sigs, pairs)
      }
      // silently probing nothing would miss every historical near-dup
      assert(e.getMessage.contains("batch="))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("near-dup batch replay is idempotent: same batchId overwrites, never duplicates") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-replay")
    val sigs = s"$base/sigs"; val pairs = s"$base/pairs"
    try {
      val b0 = Seq((1L, "a b c d e f"), (2L, "u v w x y z")).toDF("doc_id", "text")
      StreamingIngest.processNearDupBatch(b0, 0L, sigs, pairs)
      assert(spark.read.parquet(sigs).count() == 2)
      // batch 1 with a near-dup of doc 1
      val b1 = Seq((3L, "a b c d e f")).toDF("doc_id", "text")
      StreamingIngest.processNearDupBatch(b1, 1L, sigs, pairs)
      val once = spark.read.parquet(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(once == Set((1L, 3L)))
      assert(spark.read.parquet(sigs).count() == 3)
      // REPLAY batch 1 (at-least-once): both sinks must be unchanged —
      // before the overwrite-per-batch fix this doubled store rows and
      // re-amplified candidates for every later batch
      StreamingIngest.processNearDupBatch(b1, 1L, sigs, pairs)
      assert(spark.read.parquet(sigs).count() == 3, "store rows duplicated on replay")
      val replayed = spark.read.parquet(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(replayed == once, "pair rows changed on replay")
      // and the replayed batch did not probe its own partial store write
      val b2 = Seq((4L, "u v w x y z")).toDF("doc_id", "text")
      StreamingIngest.processNearDupBatch(b2, 2L, sigs, pairs)
      val after = spark.read.parquet(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == Set((1L, 3L), (2L, 4L)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("mapGroupsWithState running stats accumulate across micro-batches") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-state")
    val in = base.resolve("in"); Files.createDirectories(in)
    try {
      Seq((1L, "a b c", "web"), (2L, "d e", "web"), (3L, "f", "book"))
        .toDF("doc_id", "text", "source").write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val stats = StreamingIngest.runningSourceStats(stream)
      val q = stats.writeStream.outputMode("update").format("memory")
        .queryName("src_stats").start()
      try {
        q.processAllAvailable()
        // second batch arrives: state must CARRY OVER, not reset
        Seq((4L, "g h i j", "web")).toDF("doc_id", "text", "source")
          .write.parquet(s"$in/b2")
        q.processAllAvailable()
        // update mode appends one row per touched source per batch — the
        // row with the highest running count per source is the latest state
        val last = spark.table("src_stats")
          .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
        assert(last("web") == (3L, 9L))  // 3 docs, 3+2+4 tokens
        assert(last("book") == (1L, 1L))
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("streaming entity match probes the persisted reference store; replay is idempotent") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-er-state")
    val in = base.resolve("in"); Files.createDirectories(in)
    try {
      Seq((1L, "acme corp", "US"), (2L, "unrelated thing", "US"))
        .toDF("id", "name", "country").write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val q = StreamingIngest.startEntityMatchStream(stream,
        s"$base/store", s"$base/matches", s"$base/ckpt",
        blockCols = Seq("country"), keyCol = "id", nameCol = "name")
      try {
        q.processAllAvailable()
        // batch 2: the US twin must match doc 1 through the STORE; the DE
        // twin has no same-block reference and must not
        val b2 = Seq((10L, "acme corp.", "US"), (11L, "acme corp", "DE"))
          .toDF("id", "name", "country")
        b2.write.parquet(s"$in/b2")
        q.processAllAvailable()
        val got = spark.read.parquet(s"$base/matches")
          .select("key_ref", "key_in").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == Set((1L, 10L)))
        // replay idempotence: re-running the SAME batchId overwrites, never
        // duplicates — matches and store are unchanged
        StreamingIngest.processEntityMatchBatch(b2, 1L,
          s"$base/store", s"$base/matches", Seq("country"), "id", "name")
        val again = spark.read.parquet(s"$base/matches")
          .select("key_ref", "key_in").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(again == Set((1L, 10L)))
        assert(spark.read.parquet(s"$base/store").count() == 4)
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("streaming attribution finds cross-batch touches through the store; lookback and order hold") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-attr-state")
    val in = base.resolve("in"); Files.createDirectories(in)
    try {
      val hour = 3600000000L
      // batch 1: user 1 clicks at t=1h and views at t=2h, then purchases at
      // t=3h (within-batch attribution: first=click, last=view, n=2);
      // user 2 clicks at 1h only.
      Seq((101L, 1L, "click", 1 * hour), (102L, 1L, "view", 2 * hour),
          (103L, 1L, "purchase", 3 * hour), (104L, 2L, "click", 1 * hour))
        .toDF("event_id", "user_id", "event_type", "ts_us")
        .write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val q = StreamingIngest.startAttributionStream(stream,
        s"$base/touches", s"$base/attrib", s"$base/ckpt")
      try {
        q.processAllAvailable()
        // batch 2: user 2's purchase at 5h must find its batch-1 click
        // through the STORE; user 3's purchase has touches only OUTSIDE
        // the 7-day lookback (8 days earlier) and attributes to nothing.
        // one file, so the running stream sees batch 2 whole: a multi-file
        // write lands file by file, and a micro-batch that lists between
        // two renames splits it (seen as 5 attribution rows instead of 3)
        Seq((201L, 2L, "purchase", 5 * hour), (202L, 3L, "purchase", 200 * hour),
            (203L, 3L, "click", 7 * hour))
          .toDF("event_id", "user_id", "event_type", "ts_us")
          .coalesce(1).write.parquet(s"$in/b2")
        q.processAllAvailable()
        val got = spark.read.parquet(s"$base/attrib")
          .collect().map(r => r.getLong(0) ->
            ((Option(r.getString(2)), Option(r.getString(3)), r.getLong(4)))).toMap
        assert(got(103L) == ((Some("view"), Some("click"), 2L)))  // within-batch
        assert(got(201L) == ((Some("click"), Some("click"), 1L))) // via store
        assert(got(202L) == ((None, None, 0L)))                   // outside lookback
        // replay idempotence: same batchId overwrites, never duplicates
        val b2 = Seq((201L, 2L, "purchase", 5 * hour), (202L, 3L, "purchase", 200 * hour),
            (203L, 3L, "click", 7 * hour))
          .toDF("event_id", "user_id", "event_type", "ts_us")
        StreamingIngest.processAttributionBatch(b2, 1L, s"$base/touches",
          s"$base/attrib")
        assert(spark.read.parquet(s"$base/attrib").count() == 3)
        // 3 batch-1 touches + 1 batch-2 touch — replay did not duplicate
        assert(spark.read.parquet(s"$base/touches").count() == 4)
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("streaming Misra-Gries sketch in the state store converges to the exact heavy hitters") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-mg-stream")
    val in = base.resolve("in"); Files.createDirectories(in)
    try {
      // "hot" dominates split ACROSS the batch cut: 4 occurrences in each
      // batch, so only the merged (carried-over) sketch can see all 8 of 14
      // tokens; per-batch sketches alone would undercount. k=2 forces
      // eviction waves in both batches.
      val b1 = Seq((1L, "hot hot hot hot a b c"))
      val b2 = Seq((2L, "hot hot hot hot d e f"))
      b1.toDF("doc_id", "text").write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val k = 2
      val sketched = stream
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .agg(graft.functions.MisraGries.sketch(col("token"), k).as("cands"),
          count(lit(1)).as("n_total"))
      val q = sketched.writeStream.outputMode("complete").format("memory")
        .queryName("mg_stream").start()
      try {
        q.processAllAvailable()
        b2.toDF("doc_id", "text").write.parquet(s"$in/b2")
        q.processAllAvailable()
        val row = spark.table("mg_stream").head()
        val cands = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
        val nTotal = row.getLong(1)
        assert(nTotal == 14L)
        assert(cands.contains("hot")) // freq 8 > 14/(k+1): cannot be evicted
        assert(cands.length <= k)     // bounded state
        val docs = (b1 ++ b2).toDF("doc_id", "text")
        val got = graft.llm.TextStats.candidateRecount(docs, cands, nTotal, k)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        assert(got.toSeq == Seq(("hot", 8L, 14L))) // exact answer: 8*2 > 14
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("streaming count-min: state stays <= depth*width cells and the converged grid equals the batch build") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-cms-stream")
    val in = base.resolve("in"); Files.createDirectories(in)
    try {
      // 9 keys into a 3x8 grid (collisions certain); key "k0" split across
      // the cut so only carried cell sums can total it
      val b1 = (0 until 30).map(i => s"k${i % 5}")
      val b2 = (0 until 30).map(i => s"k${i % 9}")
      b1.toDF("key").write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val q = graft.ops.Sketches.countMinCells(stream, 3, 8)
        .writeStream.outputMode("complete").format("memory")
        .queryName("cms_stream").start()
      try {
        q.processAllAvailable()
        b2.toDF("key").write.parquet(s"$in/b2")
        q.processAllAvailable()
        val streamed = spark.table("cms_stream")
          .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
        val direct = graft.ops.Sketches.countMinCells(
            (b1 ++ b2).toDF("key"), 3, 8)
          .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(streamed == direct) // cell-sum merge across batches is exact
        // the state store is the grid itself: bounded by depth*width
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows <= 3 * 8, s"state rows $stateRows exceed the grid")
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("streaming CUSUM: a day split across the batch cut is finalized by the later emission") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-cusum-stream")
    val in = base.resolve("in"); Files.createDirectories(in)
    try {
      // day 0: 2 events; day 1: 6 events SPLIT 3/3 across the cut; day 2: 1.
      // batch 1 sees day 1 at n=3 (provisional); only the batch-2 emission
      // has the true counts — the emit_seq filter must pick it.
      def ev(day: Long, i: Long) = (day * 10 + i,
        new java.sql.Timestamp(day * 86400000L + i * 1000))
      val b1 = (Seq(ev(0, 1), ev(0, 2)) ++ (1L to 3L).map(ev(1, _))).map {
        case (id, ts) => (id, ts, "click") }
      val b2 = ((4L to 6L).map(ev(1, _)) :+ ev(2, 1)).map {
        case (id, ts) => (id, ts, "click") }
      b1.toDF("event_id", "ts", "event_type").write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val q = graft.streaming.StreamingIngest.streamingCusum(stream)
        .writeStream.outputMode("update").format("memory")
        .queryName("cusum_stream").start()
      try {
        q.processAllAvailable()
        b2.toDF("event_id", "ts", "event_type").write.parquet(s"$in/b2")
        q.processAllAvailable()
      } finally q.stop()
      val sink = spark.table("cusum_stream")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "day").orderBy(col("emit_seq").desc)
      val fin = sink.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("day", "n", "cusum_micro", "shifted")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .sortBy(_._1)
      // final counts 2/6/1, target = 9_000_000/3 = 3_000_000;
      // P = -1M, 2M, 0M; minP(≤0) = -1M; S = 0, 3M, 1M
      assert(fin.toSeq == Seq((0L, 2L, 0L, false), (1L, 6L, 3000000L, false),
        (2L, 1L, 1000000L, false)))
      // the provisional batch-1 emission for day 1 must exist AND differ
      val prov = sink.filter(col("day") === 1 && col("emit_seq") === 1)
        .select("n").collect().map(_.getLong(0))
      assert(prov.toSeq == Seq(3L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("streaming bloom decontamination equals the batch filter across micro-batches") {
    import spark.implicits._
    import graft.llm.Dedup
    val base = Files.createTempDirectory("graft-bloom-stream")
    val in = base.resolve("in"); Files.createDirectories(in)
    try {
      val evalDocs = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
      val b1 = Seq(
        (1L, "something quick brown fox other words"), // contaminated
        (2L, "entirely different content here now"))
      val b2 = Seq(
        (3L, "quick brown wolf not a match"),
        (4L, "the quick brown fox jumps again"))       // contaminated
      val bloom = Dedup.buildBloom(evalDocs, n = 3, mBits = 20)
      b1.toDF("doc_id", "text").write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val q = StreamingIngest.streamingDecontaminate(stream, bloom)
        .writeStream.outputMode("append").format("memory")
        .queryName("bloom_clean").start()
      try {
        q.processAllAvailable()
        b2.toDF("doc_id", "text").write.parquet(s"$in/b2")
        q.processAllAvailable()
        val streamed = spark.table("bloom_clean")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val batch = Dedup.bloomDecontaminate(
            (b1 ++ b2).toDF("doc_id", "text"), evalDocs, n = 3, mBits = 20)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(streamed == batch && batch == Set(2L, 3L))
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("dynamic-gap sessions: the long-gap event type holds a session open") {
    import org.apache.spark.sql.functions._
    // hand-built timeline for user 1 (minutes): click@0, purchase@20,
    // click@55, click@80. Fixed 15-min gap would break after every event;
    // the purchase's 45-min window [20, 65) reaches the click@55, whose
    // own 15-min window [55, 70) does NOT reach 80 -> sessions
    // {0?}, ... expected: click@0's [0,15) misses 20 -> session A = {0};
    // session B = {20, 55} (purchase holds it open); session C = {80}.
    import spark.implicits._
    val base = Files.createTempDirectory("graft-dynsess")
    try {
      val rows = Seq((1L, 1L, "click", 0L), (1L, 2L, "purchase", 20L),
        (1L, 3L, "click", 55L), (1L, 4L, "click", 80L))
        .toDF("user_id", "event_id", "event_type", "min")
        .select(col("user_id"), col("event_id"), col("event_type"),
          timestamp_micros(col("min") * 60000000L).as("ts"),
          lit(1L).as("value"))
      rows.write.parquet(s"$base/in")
      val schema = spark.read.parquet(s"$base/in").schema
      val gap = when(col("event_type") === "purchase", "45 minutes")
        .otherwise("15 minutes")
      val q = StreamingIngest.streamingDynamicSessionStats(
          spark.readStream.schema(schema).parquet(s"$base/in"),
          gap)
        .writeStream.outputMode("complete").format("memory")
        .queryName("dyn_sess").start()
      try {
        q.processAllAvailable()
        val got = spark.table("dyn_sess")
          .select(col("start_ts").cast("long"), col("n_events"))
          .collect().map(r => r.getLong(0) / 60 -> r.getLong(1)).toMap
        // sessions by start minute: 0 -> 1 event, 20 -> 2 (purchase kept
        // the click@55 in), 80 -> 1
        assert(got == Map(0L -> 1L, 20L -> 2L, 80L -> 1L), got.toString)
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("streaming session windows match batch sessionization on real events") {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = Files.createTempDirectory("graft-sess")
    try {
      Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
        base.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val schema = spark.read.parquet(base.toString).schema
      def asTs(df: org.apache.spark.sql.DataFrame) = // any grain -> µs timestamp
        df.withColumn("ts", graft.ops.TemporalOps.asTimestamp(df))

      val stream = asTs(spark.readStream.schema(schema).parquet(base.toString))
      val sess = StreamingIngest.streamingSessionStats(stream)
      val q = sess.writeStream.outputMode("complete").format("memory")
        .queryName("sess_stats").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("sess_stats")
          .select("user_id", "start_ts", "n_events")
          .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime) -> r.getLong(2)).toMap

        // batch equivalent on µs longs; session_window merges at diff < gap,
        // the batch operator at diff <= gap — gap-1 aligns them exactly on
        // integer µs
        val ev = spark.read.parquet(base.toString)
        val e = ev.select(col("user_id"), col("event_id"),
          graft.ops.TemporalOps.epochMicros(ev).as("tsn"))
        val batch = graft.ops.TemporalOps.sessionStats(
            graft.ops.TemporalOps.sessionize(e, "user_id",
              gap = 1800000000L - 1, tieCol = "event_id"),
            "user_id")
          .select("user_id", "start_ts", "n_events") // start µs -> epoch ms
          .collect().map(r => (r.getLong(0), r.getLong(1) / 1000) -> r.getLong(2)).toMap
        assert(streamed == batch && streamed.nonEmpty)
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("streaming as-of enrichment matches batch asof join on time-split replay") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-sasof")
    try {
      // same grain safeguard as every other events consumer: a regeneration
      // back to TIMESTAMP(NANOS) parquet must read as long, not throw
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      val evTs = raw.withColumn("ts", graft.ops.TemporalOps.asTimestamp(raw))
      // split at the median event time: every right row a batch-1 left row
      // could match is itself in batch 1, so replay order respects the
      // operator's cross-batch event-time contract
      val cutUs = evTs.select(unix_micros(col("ts")).as("us"))
        .stat.approxQuantile("us", Array(0.5), 0.0)(0).toLong
      val in = base.resolve("in"); Files.createDirectories(in)
      evTs.filter(unix_micros(col("ts")) <= cutUs).write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val q = StreamingIngest.streamingAsofEnrich(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("asof_enrich").start()
      try {
        q.processAllAvailable()
        val afterB1 = spark.table("asof_enrich").count()
        evTs.filter(unix_micros(col("ts")) > cutUs).write.parquet(s"$in/b2")
        q.processAllAvailable()
        val streamed = spark.table("asof_enrich")
          .select("event_id", "click_value")
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
        val batch = graft.queries.TemporalQueries.purchaseClickAsof(
            graft.ops.TemporalOps.loadEvents(spark, "/root/testdata/sf0.001"))
          .select("event_id", "click_value")
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
        assert(streamed == batch, "stream != batch asof enrichment")
        assert(afterB1 > 0 && streamed.size > afterB1,
          "expected purchases in BOTH micro-batches (state carried across)")
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("event-time windowed aggregation with watermark matches batch result") {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = Files.createTempDirectory("graft-win")
    try {
      // stage the driver's events table as a streaming file source
      Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
        base.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val schema = spark.read.parquet(base.toString).schema
      def asTs(df: org.apache.spark.sql.DataFrame) = // any grain -> timestamp
        df.withColumn("ts", graft.ops.TemporalOps.asTimestamp(df))

      val stream = asTs(spark.readStream.schema(schema).parquet(base.toString))
      val agg = StreamingIngest.windowedEventCounts(stream, "1 hour")
      val q = agg.writeStream.outputMode("complete").format("memory")
        .queryName("win_counts").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("win_counts")
          .select("win_start", "event_type", "n")
          .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
        val batch = asTs(spark.read.parquet(base.toString))
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getStruct(0).getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(streamed == batch && streamed.nonEmpty)
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("native stream-stream interval join pairs across the batch cut under the watermark") {
    val base = Files.createTempDirectory("graft-ssjoin")
    try {
      // minute-grain fixture, offset a day above the epoch-0 initial
      // watermark; batch cut at t=100min
      def mk(rows: Seq[(Long, Long, Long, String)]) = {
        import spark.implicits._
        rows.toDF("event_id", "user_id", "mins", "event_type")
          .select(col("event_id"), col("user_id"),
            timestamp_micros((lit(86400L) + col("mins") * 60L) * 1000000L).as("ts"),
            col("event_type"))
      }
      val b1 = mk(Seq((1L, 1L, 100L, "purchase"), (2L, 1L, 97L, "click"),
        (3L, 2L, 99L, "click"), (4L, 3L, 50L, "purchase"), (5L, 3L, 56L, "click")))
      // batch 2: in-range click AFTER the cut (6), out-of-range control (7),
      // purchase pairing back to a batch-1 click (8), exact +5min bound (9)
      val b2 = mk(Seq((6L, 1L, 103L, "click"), (7L, 1L, 110L, "click"),
        (8L, 2L, 102L, "purchase"), (9L, 1L, 105L, "click")))
      val in = base.resolve("in"); Files.createDirectories(in)
      b1.write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val q = StreamingIngest.streamingIntervalJoin(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("ss_interval").start()
      try {
        q.processAllAvailable()
        val afterB1 = spark.table("ss_interval").count()
        b2.write.parquet(s"$in/b2")
        q.processAllAvailable()
        val got = spark.table("ss_interval")
          .select("user_id", "purchase_id", "click_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        // P1(u1@100) ↔ C@97 (in-batch), C@103 (cross-batch), C@105 (inclusive
        // bound); P@102(u2, batch 2) reaches BACK to the batch-1 click@99 —
        // both directions cross the cut; click@110 and user-3's 6-min gap drop
        assert(got == Set((1L, 1L, 2L), (1L, 1L, 6L), (1L, 1L, 9L), (2L, 8L, 3L)))
        assert(afterB1 == 1L,
          s"batch 1 must emit exactly its one in-batch pair, got $afterB1")
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("outer interval join NULL-pads unmatched purchases on BOTH eviction paths") {
    val base = Files.createTempDirectory("graft-ssojoin")
    try {
      def mk(rows: Seq[(Long, Long, Long, String)]) = {
        import spark.implicits._
        rows.toDF("event_id", "user_id", "mins", "event_type")
          .select(col("event_id"), col("user_id"),
            timestamp_micros((lit(86400L) + col("mins") * 60L) * 1000000L).as("ts"),
            col("event_type"))
      }
      // same topology as the inner spec, plus: P4(u3@50) is unmatched (its
      // only click is 6 min away) and closes MID-STREAM (window end 55 <
      // the post-b2 watermark 100); P10(u4@108) is unmatched at the TAIL
      // (108+5 > 100) and can only flush via the sentinel batch
      val b1 = mk(Seq((1L, 1L, 100L, "purchase"), (2L, 1L, 97L, "click"),
        (3L, 2L, 99L, "click"), (4L, 3L, 50L, "purchase"), (5L, 3L, 56L, "click")))
      val b2 = mk(Seq((6L, 1L, 103L, "click"), (7L, 1L, 110L, "click"),
        (8L, 2L, 102L, "purchase"), (9L, 1L, 105L, "click"),
        (10L, 4L, 108L, "purchase")))
      val flush = mk(Seq((-1L, -1L, 100000L, "purchase"),
        (-2L, -1L, 100000L, "click")))
      val in = base.resolve("in"); Files.createDirectories(in)
      b1.write.parquet(s"$in/b1")
      val schema = spark.read.parquet(s"$in/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(in.toString)
      val q = StreamingIngest.streamingIntervalJoinOuter(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("ss_ointerval").start()
      try {
        q.processAllAvailable()
        b2.write.parquet(s"$in/b2")
        q.processAllAvailable()
        def snap() = spark.table("ss_ointerval")
          .filter(col("user_id") >= 0L)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
        val afterB2 = snap()
        val inner: Set[(Long, Long, Option[Long])] =
          Set((1L, 1L, Some(2L)), (1L, 1L, Some(6L)),
            (1L, 1L, Some(9L)), (2L, 8L, Some(3L)))
        // mid-stream eviction: P4's closed window emits its NULL row from
        // the watermark advance alone; the tail P10 must NOT be there yet
        // (Spark cannot know click 10+epsilon won't arrive)
        assert(afterB2 == inner + ((3L, 4L, None)),
          s"post-b2 outer set wrong: $afterB2")
        flush.write.parquet(s"$in/b3")
        q.processAllAvailable()
        assert(snap() == inner + ((3L, 4L, None)) + ((4L, 10L, None)),
          s"post-flush outer set wrong: ${snap()}")
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }
}
