package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Committed profiling main, outside the driver contract: run one
  * or more registry entries in a fresh session and print every Spark job's
  * wall time + description, plus the entry's prep/exec split — the
  * job-level attribution the Bench totals can't show.
  *
  * Usage: ProfileEntry <sfDir> <entry> [entry...]   (env: SPARK_GRAFT_CPUS)
  * Repeat an entry name to measure warm re-execution.
  */
object ProfileEntry {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("PROFILE_SHUFFLE", cpus))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("PROFILE_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(js.jobId, (js.time, desc, js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc, tasks) =>
          done.add((je.jobId, (je.time - t0) / 1e3, desc, tasks))
        }
      }
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    // the bench's one untimed pre-battery step; shared stores are paid by
    // their first consumer among `names`, as in the bench's battery
    try graft.queries.SharedStores.stageInputs(spark, sfDir, names)
    catch { case e: Throwable => println(s"input staging failed: $e") }
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      done.clear()
      spark.sparkContext.setJobDescription(s"[$name] prep")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPrep = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(s"[$name] exec")
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val tExec = (System.nanoTime() - t1) / 1e9
      spark.sparkContext.setJobDescription(null)
      // every job event must reach `done` before it is read: the next
      // entry's clear() would otherwise drop this entry's late events
      val drained = org.apache.spark.GraftListenerBridge.drain(spark.sparkContext, 30000L)
      println(f"===== $name prep=$tPrep%.2f exec=$tExec%.2f =====")
      if (!drained)
        println("  (listener bus did not drain in 30 s: the job table below is partial)")
      val rows = done.toArray(Array.empty[(Int, Double, String, Int)]).sortBy(_._1)
      val byDesc = rows.groupBy(_._3).view.mapValues(r => (r.map(_._2).sum, r.length)).toSeq
        .sortBy(-_._2._1)
      for ((desc, (sum, n)) <- byDesc.take(12))
        println(f"  $sum%7.2f s over $n%3d job(s)  $desc%.120s")
      if (sys.env.get("PROFILE_JOBS").contains("1"))
        for ((id, w, desc, tasks) <- rows)
          println(f"    job $id%4d $w%7.2f s $tasks%5d tasks  $desc%.80s")
      val njobs = rows.length
      val jsum = rows.map(_._2).sum
      println(f"  TOTAL jobs=$njobs sumJobWall=$jsum%.2f (prep+exec=${tPrep + tExec}%.2f; gap = driver/plan time)")
      if (sys.env.get("PROFILE_OPS").contains("1")) {
        // operator-level time metrics from the executed plan (post-AQE)
        def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[(String, Long)] = {
          val interesting = p.metrics.collect {
            case (k, m) if (k.contains("time") || k.contains("Time") || k == "duration") && m.value > 0 =>
              (s"${p.nodeName}.$k", m.value)
          }.toSeq
          interesting ++ p.children.flatMap(walk) ++ (p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
            case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Nil
            case _ => Nil
          })
        }
        val ops = walk(df.queryExecution.executedPlan)
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(-_._2)
        for ((k, v) <- ops.take(20)) println(f"    OP $v%10d  $k")
      }
    }
    spark.stop()
  }
}
