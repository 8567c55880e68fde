package graft

import org.apache.spark.GraftListenerBridge
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The per-job-group collector behind Bench's `entryStats`: jobs, tasks and
  * shuffle attributed to the group they ran under, threads and streaming
  * queries started inside a group counted in it, ungrouped jobs in none;
  * and Bench's record carrying the figures (child JVM).
  */
class JobGroupStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext

  /** Figures per group of the jobs `body` runs, from a listener that is
    * registered for `body` only.
    */
  private def groupsOf(body: => Unit): Map[String, GroupStats] = {
    val stats = new JobGroupStats
    sc.addSparkListener(stats)
    try {
      body
      assert(GraftListenerBridge.drain(sc, 30000L))
      stats.snapshot()
    } finally sc.removeSparkListener(stats)
  }

  test("two job groups are attributed separately") {
    val g = groupsOf {
      JobGroupStats.within(sc, "spec-a")(sc.parallelize(1 to 100, 4).count())
      JobGroupStats.within(sc, "spec-b") {
        sc.parallelize(1 to 100, 2).count()
        sc.parallelize(1 to 100, 3).count()
      }
    }
    assert(g.keySet == Set("spec-a", "spec-b"))
    assert(g("spec-a").jobs == 1 && g("spec-a").tasks == 4)
    assert(g("spec-b").jobs == 2 && g("spec-b").tasks == 5)
  }

  test("a groupBy's shuffle bytes land in its own group only") {
    val g = groupsOf {
      JobGroupStats.within(sc, "spec-shuffle")(
        spark.range(0, 10000, 1, 4).groupBy(col("id") % 10).count().collect())
      JobGroupStats.within(sc, "spec-plain")(sc.parallelize(1 to 100, 2).count())
    }
    assert(g("spec-shuffle").shuffleWrite > 0)
    assert(g("spec-shuffle").shuffleRead > 0)
    assert(g("spec-plain").shuffleWrite == 0 && g("spec-plain").shuffleRead == 0)
  }

  test("a thread started inside a group is counted in that group") {
    val go = new java.util.concurrent.CountDownLatch(1)
    var t: Thread = null
    val g = groupsOf {
      JobGroupStats.within(sc, "spec-thread") {
        t = new Thread(() => { go.await(); sc.parallelize(1 to 10, 2).count() })
        t.start()
      }
      // the group is cleared on this thread before the started one runs
      go.countDown()
      t.join()
    }
    assert(g.keySet == Set("spec-thread"))
    assert(g("spec-thread").jobs == 1 && g("spec-thread").tasks == 2)
  }

  test("a streaming query started inside a group is counted in that group") {
    // a query's execution thread sets a job group of its own (its run id)
    val dir = graft.ops.Scratch.dir("job-group-stats-spec")
    try {
      spark.range(10).write.parquet(s"$dir/in/b1")
      val g = groupsOf {
        JobGroupStats.within(sc, "spec-stream") {
          val q = spark.readStream.schema(spark.read.parquet(s"$dir/in/b1").schema)
            .option("recursiveFileLookup", "true").parquet(s"$dir/in")
            .groupBy("id").count()
            .writeStream.outputMode("complete").format("memory")
            .queryName("job_group_stats_spec")
            .option("checkpointLocation", s"$dir/ckpt").start()
          try q.processAllAvailable() finally q.stop()
        }
      }
      assert(g.keySet == Set("spec-stream"))
      assert(g("spec-stream").shuffleWrite > 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("jobs outside any group are not counted") {
    val g = groupsOf {
      sc.parallelize(1 to 100, 4).count()
      JobGroupStats.within(sc, "spec-after")(())
      sc.parallelize(1 to 100, 4).count()
    }
    assert(g.isEmpty)
  }

  test("Bench records entryStats and sharedStoreSeconds") {
    val out = java.nio.file.Files.createTempFile("graft-bench-out", ".json")
    try {
      val javaBin = new java.io.File(sys.props("java.home"), "bin/java").getPath
      val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
        .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
      val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", sys.props("java.class.path"),
        "graft.Bench", "q9_product_profit", "d12_containment_pairs")
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.environment().put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      val p = pb.start()
      val log = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, log.takeRight(2000))
      val rec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out.toFile)
      assert(rec.get("entryStatsComplete").asBoolean(), log.takeRight(2000))
      val stats = rec.get("entryStats")
      for (e <- Seq("q9_product_profit", "d12_containment_pairs"))
        assert(stats.get(e).get("exec_jobs").asLong() > 0, stats.toString)
      assert(stats.get("q9_product_profit").get("shuffle_write_bytes").asLong() > 0, stats.toString)
      assert(rec.get("sharedStoreSeconds").has("shingles"), rec.get("sharedStoreSeconds").toString)
      // the --only run prints each entry's figures on stderr
      assert(log.linesIterator.exists(_.startsWith("bench: q9_product_profit prep_jobs=")),
        log.takeRight(2000))
    } finally java.nio.file.Files.deleteIfExists(out)
  }
}
