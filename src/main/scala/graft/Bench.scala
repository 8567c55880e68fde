package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver-run benchmark: every registry query on SPARK_GRAFT_SF_DIR, one
  * COMPACT JSON line on stdout (the driver tails a bounded window of stdout;
  * an 80-query map overflows it, so per-query timings and observed metrics
  * go to the bench_out.json file — SPARK_GRAFT_BENCH_OUT — instead).
  * Queries are forced through the noop sink so the full plan executes (a
  * bare count() would let Catalyst skip projected work).
  */
object Bench {

  /** JSON string escape for names/messages — backslash, quote, and ALL
    * control chars (< 0x20): an embedded newline/tab in an error message or
    * string metric would otherwise break the line-oriented JSON parser.
    */
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON-safe rendering of an observed-metric value: numbers bare (but
    * NaN/Infinity quoted — bare they are invalid JSON), everything else as
    * an escaped string. All current metrics are longs; this guards the day
    * one isn't.
    */
  private def jval(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double if java.lang.Double.isFinite(d) => d.toString
    case f: Float if java.lang.Float.isFinite(f) => f.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case bd: java.math.BigDecimal => bd.toString
    case bd: BigDecimal => bd.toString
    case other => jstr(String.valueOf(other))
  }


  /** Locale-proof fixed-point rendering (Locale.ROOT): "%.3f".format uses
    * the default locale, whose decimal comma would break the JSON line.
    */
  private def jnum(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** Box-speed calibration: a FIXED synthetic shuffle+agg whose definition
    * never changes across rounds, timed with the same clock as the battery.
    * This box's absolute bench totals swing ~2x between sessions with
    * byte-identical code (round-5 forensics), so cross-round comparisons
    * must normalize by a workload that cannot have regressed — the ratio
    * total/calibration is comparable across rounds; raw totals are not.
    * Two runs, second reported (the first absorbs codegen/JIT for this
    * shape; the session is already warm for Spark init).
    */
  private def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, 32)
        .selectExpr("id % 1000000 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
        .selectExpr("sum(s)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once(); once()
  }

  private def exec(cmd: Seq[String], cwd: java.io.File, env: Map[String, String],
                   timeoutSec: Long): Either[String, String] = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(cwd)
    pb.redirectErrorStream(false)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    // drain stdout on this thread (bounded output); discard stderr async
    val errDrain = new Thread(() => {
      val buf = new Array[Byte](8192)
      while (p.getErrorStream.read(buf) >= 0) ()
    })
    errDrain.setDaemon(true); errDrain.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    if (!p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
      p.destroyForcibly()
      Left(s"timeout after ${timeoutSec}s: ${cmd.mkString(" ")}")
    } else if (p.exitValue() != 0)
      Left(s"exit ${p.exitValue()}: ${cmd.mkString(" ")}: ${out.takeRight(200)}")
    else Right(out)
  }

  /** JDK-17 module opens Spark needs outside spark-submit — mirrors
    * build.sbt's jdk17AddOpens (child java processes don't go through sbt).
    */
  private val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Run graft.Bench from `classpath` in a FRESH child java process (A/B
    * legs must be symmetric: both pay identical JVM/codegen warm-up; running
    * one leg in the already-hot session made it look 2-4x faster than an
    * identical cold leg). Returns the per-query seconds map from the child's
    * bench-out file.
    */
  /** One child leg's numbers: `total` per query (the harness's headline
    * timing) and, when the child's harness records it (this round's and
    * later), `execOnly` per query — execution without plan construction.
    */
  private final case class LegTimes(total: Map[String, Double],
                                    execOnly: Option[Map[String, Double]],
                                    warmup: Option[Double],
                                    calibration: Option[Double] = None)

  private def runChildBench(classpath: String, cwd: java.io.File, abSf: String,
                            cpus: String,
                            onlyQueries: Seq[String] = Nil,
                            extraEnv: Map[String, String] = Map.empty,
                            timeoutSec: Long = 900): Either[String, LegTimes] = {
    val benchOut = java.io.File.createTempFile("bench_ab_", ".json")
    benchOut.deleteOnExit()
    val javaBin = new java.io.File(new java.io.File(sys.props("java.home"), "bin"), "java").getPath
    val cmd = Seq(javaBin) ++ AddOpens ++ Seq(
      s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", classpath, "graft.Bench") ++ onlyQueries
    exec(cmd, cwd, Map(
      "SPARK_GRAFT_SF_DIR" -> abSf,
      "SPARK_GRAFT_BENCH_OUT" -> benchOut.getPath,
      "SPARK_GRAFT_CPUS" -> cpus,
      "SPARK_GRAFT_AB" -> "0",
      // child batteries never adjudicate their own flags — the parent's
      // A/B legs and isolated reruns must stay leaf processes — and never
      // write round-stamped history records (the parent's record is the run)
      "SPARK_GRAFT_FLAG_RERUN" -> "0",
      "SPARK_GRAFT_HISTORY" -> "0") ++ extraEnv, timeoutSec).flatMap { _ =>
      if (!benchOut.isFile || benchOut.length() == 0) Left("child bench wrote no output")
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(java.nio.file.Files.readAllBytes(benchOut.toPath))
        def asMap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, Double] = {
          val it = node.fields()
          val m = scala.collection.mutable.Map.empty[String, Double]
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asDouble() }
          m.toMap
        }
        val qs = root.get("queries")
        if (qs == null) Left("child bench output has no queries map")
        else Right(LegTimes(asMap(qs), Option(root.get("execSeconds")).map(asMap),
          Option(root.get("warmupSeconds")).map(_.asDouble()),
          Option(root.get("calibration")).map(_.asDouble())))
      }
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Multi-pair A/B summary: `pairRatios` is one current/prior ratio per
    * leg-pair; the headline ratio is their MEDIAN (a single pair is
    * uninterpretable under the box's documented ±45% drift — r7's lone
    * 1.601 reading vs the builder's 0.71/0.72/1.06 triple). `perQuery`
    * carries (median current, median prior) seconds per common query so a
    * real regression names its query instead of hiding in a total.
    */
  private final case class AbResult(sha: String, pairRatios: Seq[Double],
      perQuery: Seq[(String, Double, Double)], mode: String)

  /** Same-session A/B against the previous round's commit: check out that
    * commit into a scratch worktree (reused across runs — compile cache),
    * `sbt compile` it once, then run BOTH its Bench and the current build's
    * Bench as fresh child JVMs on `abSf` — `nPairs` (default 3) times each,
    * interleaved. The legs of a pair run minutes apart with symmetric cold
    * starts, and the pair ORDER alternates (prior-first, then
    * current-first) so a slow monotone box drift cancels across pairs
    * instead of biasing every ratio the same way. Recursion is cut by
    * SPARK_GRAFT_AB=0 in the child env; failures degrade to Left(msg) —
    * the official bench numbers never depend on the A/B succeeding.
    */
  /** `remainingSec` is the run's wall-clock budget accessor (round-16
    * forensics: both driver bench runs were killed on timeout mid-A/B, so
    * the one-line JSON never printed). Each phase checks it BEFORE starting:
    * the prior-worktree compile needs >= 720 s headroom, each child leg
    * >= 300 s, and leg timeouts are clamped to the remaining budget. Pairs
    * that never ran are reported in `pairs_skipped_budget` by the caller —
    * a partial A/B (1-2 pairs) beats a killed run with no numbers at all.
    */
  private def runAb(abSf: String, cpus: String,
                    remainingSec: () => Double): Either[String, AbResult] =
    try {
      val repo = new java.io.File(".").getCanonicalFile
      val nPairs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_AB_PAIRS", "3").toInt)
      // search from HEAD~1, NOT HEAD: the driver benches right after
      // committing this round's snapshot, so a lookup from HEAD finds the
      // current round and the A/B compares identical code with itself
      // (round-6 forensics: self-"ratio" 1.146 = pure box noise). From
      // HEAD~1 the latest round-tagged ancestor is the PREVIOUS round.
      val ref = sys.env.get("SPARK_GRAFT_AB_REF").map(Right(_)).getOrElse(
        exec(Seq("git", "log", "--grep=^round [0-9]*:", "-1", "--format=%H", "HEAD~1"),
          repo, Map.empty, 30).map(_.trim))
      ref.flatMap { sha =>
        if (sha.isEmpty) Left("no prior round commit found")
        else {
          val wt = new java.io.File(s"/tmp/graft-ab-${sha.take(12)}")
          val added =
            if (wt.isDirectory) Right("")
            else exec(Seq("git", "worktree", "add", "--detach", wt.getPath, sha),
              repo, Map.empty, 60)
          added.flatMap { _ =>
            if (remainingSec() < 720)
              Left(f"budget: ${remainingSec()}%.0f s left before prior compile (need 720)")
            else
              exec(Seq("sbt", "-batch", "compile"), wt, Map.empty,
                math.min(600L, math.max(60L, remainingSec().toLong - 120)))
          }.flatMap { _ =>
            val priorCp = s"${wt.getPath}/target/scala-2.13/classes:/opt/spark/jars/*"
            // NOT sys.props("java.class.path"): under `sbt runMain` that is
            // the sbt launcher jar (sbt runs user code in a layered
            // classloader), and a child launched from it cannot see
            // graft.*. The compiled classes dir + spark jars is the real
            // runtime classpath, and keeps the legs symmetric.
            val curCp = s"${repo.getPath}/target/scala-2.13/classes:/opt/spark/jars/*"
            val priorRuns = Seq.newBuilder[LegTimes]
            val curRuns = Seq.newBuilder[LegTimes]
            var failed: Option[String] = None
            var pairsRun = 0
            // a COMPLETE pair needs both legs; start one only when the
            // budget plausibly covers two legs (each leg's floor estimate:
            // the slowest completed leg so far, else 300 s)
            var slowestLeg = 300.0
            for (i <- 0 until nPairs if failed.isEmpty
                 && remainingSec() > 2 * slowestLeg + 60) {
              val legs =
                if (i % 2 == 0) Seq(("prior", priorCp, wt), ("cur", curCp, repo))
                else Seq(("cur", curCp, repo), ("prior", priorCp, wt))
              var pairOk = true
              for ((side, cp, cwd) <- legs if failed.isEmpty) {
                val legT0 = System.nanoTime()
                val legTimeout = math.min(900L, math.max(120L, remainingSec().toLong - 60))
                runChildBench(cp, cwd, abSf, cpus, timeoutSec = legTimeout) match {
                  case Left(msg) =>
                    failed = Some(s"pair ${i + 1} $side leg: $msg"); pairOk = false
                  case Right(m) =>
                    slowestLeg = math.max(slowestLeg, (System.nanoTime() - legT0) / 1e9)
                    if (side == "prior") priorRuns += m else curRuns += m
                }
              }
              if (pairOk) pairsRun += 1
            }
            // legs from a half-failed or budget-stopped pair are kept only
            // in matched counts (zip below pairs them positionally)
            if (pairsRun == 0)
              Left(failed.getOrElse("budget: no complete A/B pair ran"))
            else Right(()).map { _ =>
              val priorLegs = priorRuns.result(); val curLegs = curRuns.result()
              // Methodology bridge: a prior harness WITHOUT execSeconds
              // timed execution only (plan construction — where iterative
              // operators do driver-visible work — leaked untimed), so
              // comparing its totals against this harness's
              // construction-inclusive totals reads as a phantom
              // regression (r8 forensics: g_pagerank 0.11 s → 3.62 s on
              // identical plans). Against such a prior, compare this
              // side's EXECUTION-ONLY seconds — like for like. Once both
              // sides record execSeconds, totals compare totals.
              val symmetric = priorLegs.forall(_.execOnly.isDefined)
              val mode = if (symmetric) "total" else "exec-only-bridge"
              def pick(side: LegTimes, isPrior: Boolean): Map[String, Double] =
                if (symmetric || isPrior) side.total
                else side.execOnly.getOrElse(side.total)
              val prior = priorLegs.map(pick(_, isPrior = true))
              val cur = curLegs.map(pick(_, isPrior = false))
              // pair ratio over queries valid in BOTH legs of THAT pair.
              // Each leg's sum is its common entries PLUS its own untimed
              // warmupSeconds: a harness that pre-pays shared stores untimed
              // and one that charges them to their first consumer then
              // account the same work, whichever side is which.
              val ratios = priorLegs.zip(curLegs).map { case (pl, cl) =>
                val p = pick(pl, isPrior = true); val c = pick(cl, isPrior = false)
                val common = p.keySet.intersect(c.keySet)
                  .filter(k => p(k) >= 0 && c(k) >= 0).toSeq
                val ps = common.map(p).sum + pl.warmup.getOrElse(0.0)
                val cs = common.map(c).sum + cl.warmup.getOrElse(0.0)
                if (ps > 0) cs / ps else Double.NaN
              }.filter(java.lang.Double.isFinite)
              // per-query medians over queries valid in EVERY run of a side
              def medians(runs: Seq[Map[String, Double]]): Map[String, Double] =
                runs.flatMap(_.keySet).distinct
                  .filter(q => runs.forall(r => r.get(q).exists(_ >= 0)))
                  .map(q => q -> median(runs.map(_(q)))).toMap
              val pm = medians(prior); val cm = medians(cur)
              val perQuery = pm.keySet.intersect(cm.keySet).toSeq.sorted
                .map(q => (q, cm(q), pm(q)))
              AbResult(sha, ratios, perQuery, mode)
            }
          }
        }
      }
    } catch { case e: Throwable => Left(e.toString.takeWhile(_ != '\n').take(200)) }

  def main(args: Array[String]): Unit = {
    // ---- wall-clock budget (round-16 forensics) -------------------------
    // Both r16 driver runs were rc=124: the battery finished but the
    // UNBOUNDED post-battery phases (calibration-gate wait on a loud box,
    // prior-worktree compile, up to 6 full A/B legs, flag rerun) pushed the
    // process past the driver's kill, and the one-line JSON — printed last —
    // never appeared. Every phase after the battery now checks this budget,
    // and the compact line prints BEFORE the A/B instead of after it.
    // SPARK_GRAFT_TIME_BUDGET: seconds from main() start ("0" = unlimited).
    val tMain0 = System.nanoTime()
    val timeBudget: Double = sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET", "2400") match {
      case "0" => Double.MaxValue
      case s => s.toDouble
    }
    def remainingSec: Double = timeBudget - (System.nanoTime() - tMain0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The deliberately-unpartitioned summary windows would spam hundreds of
    // audited-benign `No Partition Defined` WARNs into the bench tail,
    // hiding a future REAL offender. Detection now lives in
    // `PlanDump --audit-windows` (allowlist + exit-1 on new offenders), so
    // the logger carries no signal here and is silenced — in this main
    // only, never for library consumers.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    graft.functions.GraftExtensions.register(spark)

    // Observed metrics (the silent-cap audit trail: jaccard_maxdf_*,
    // lsh_maxbucket_*, neardup_maxdf_* drop counts) are delivered via the
    // async ExecutionListener bus; collect them into one map keyed by their
    // globally-unique names and attribute to queries by key-set diffing.
    // The bus is DRAINED between queries (GraftListenerBridge) so the diff
    // is exact — a bounded poll alone raced: a metric arriving after the
    // poll deadline landed in the NEXT query's diff.
    val observed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          val fields = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
            jstr(f) + ":" + jval(row.get(i))
          }
          observed.put(name, fields.mkString("{", ",", "}"))
        }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    })

    // session warm-up so the first timed query doesn't absorb JVM/codegen init
    spark.range(1000).selectExpr("sum(id)").collect()
    // optional args: query names to run (default all) — isolation/profiling aid
    val selected = if (args.nonEmpty) SparkEntry.queries.filter(q => args.contains(q._1))
                   else SparkEntry.queries
    // Input staging is the only untimed pre-battery work (warmupSeconds);
    // every shared store is built by its first consumer in battery order,
    // inside that entry's timed window (attribution: sharedStores).
    val tWarm0 = System.nanoTime()
    try graft.queries.SharedStores.stageInputs(spark, sfDir, selected.keys)
    catch { case e: Throwable => System.err.println(s"bench: input staging failed: $e") }
    val warmupSec = (System.nanoTime() - tWarm0) / 1e9
    // Attribution contract: only queries whose plans carry CollectMetrics
    // can contribute to `observed`, so only THOSE pay a bus drain — once
    // before their snapshot (flushes any straggler event from earlier
    // queries out of the diff window) and once after execution (their own
    // events land before the diff). Draining after EVERY query would
    // serialize the bench against the appStatus queue, which lags seconds
    // behind task-heavy queries — measured as a ~2x whole-suite slowdown.
    // SPARK_GRAFT_ROWS_OUT=1 (probe legs): record each query's OUTPUT
    // cardinality via an untimed count() after the timed noop write, so a
    // probe's super-linear wall ratio is adjudicable against its output
    // growth in the record itself (round-14 verdict #7: the >10x dedup
    // ratios were a measured ~979x output explosion — the next reader
    // shouldn't have to re-derive that). Off by default: the count is a
    // second execution and must never ride inside official timings.
    val recordRowsOut = sys.env.getOrElse("SPARK_GRAFT_ROWS_OUT", "0") == "1"
    def runBattery(dir: String): Seq[(String, Double, Double, Option[String], Seq[String], Option[Long])] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // plan construction is TIMED (its own clock, added to the execution
      // time below): for ordinary queries it is milliseconds of analysis,
      // but streaming registry entries execute their micro-batch replay
      // inside fn — leaving prep untimed would let that work vanish from
      // the totals. The pre-drain stays UNtimed: it can absorb a
      // multi-second appStatus backlog from an earlier task-heavy query,
      // and that wait is bus bookkeeping, not this query's work.
      var drainedOk = true
      val tPrep0 = System.nanoTime()
      val prep: Either[String, (org.apache.spark.sql.DataFrame, Boolean)] = try {
        val df = fn(spark, dir)
        val hm = df.queryExecution.analyzed.collect {
          case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => c
        }.nonEmpty
        Right((df, hm))
      } catch { case e: Throwable => Left(e.toString.takeWhile(_ != '\n').take(200)) }
      val prepSec = (System.nanoTime() - tPrep0) / 1e9
      if (prep.fold(_ => false, _._2))
        drainedOk &= org.apache.spark.GraftListenerBridge.drain(spark.sparkContext, 10000L)
      val before = new java.util.HashSet(observed.keySet())
      val t0 = System.nanoTime()
      val err = prep match {
        case Left(m) => Some(m)
        case Right((df, _)) =>
          try { df.write.mode("overwrite").format("noop").save(); None }
          catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200)) }
      }
      val execSec = (System.nanoTime() - t0) / 1e9
      val elapsed = prepSec + execSec
      val hasMetrics = prep.fold(_ => false, _._2)
      if (hasMetrics)
        drainedOk &= org.apache.spark.GraftListenerBridge.drain(spark.sparkContext, 10000L)
      val newKeys = new java.util.HashSet(observed.keySet())
      newKeys.removeAll(before)
      // a drain timeout means the diff window is no longer exact — say so
      // in the output instead of reporting exact-looking attribution
      val degraded = if (hasMetrics && !drainedOk)
        Seq(jstr("_attribution_degraded") + ":true") else Seq.empty
      val metrics = newKeys.toArray(Array.empty[String]).sorted
        .map(k => jstr(k) + ":" + observed.get(k)) ++ degraded
      val rowsOut =
        if (!recordRowsOut || err.isDefined) None
        else prep.toOption.map { case (df, _) =>
          try df.count() catch { case _: Throwable => -1L } }
      (name, elapsed, execSec, err, metrics, rowsOut)
    }
    // Untimed warm pass (env-gated; set by the parent's isolated
    // flag-rerun): execute every selected entry once before the timed
    // battery, so the timed numbers measure the same warm shape the
    // full-battery history medians did — see the flag-rerun call site.
    if (sys.env.getOrElse("SPARK_GRAFT_WARM_PASS", "0") == "1")
      for ((_, fn) <- selected.toSeq.sortBy(_._1))
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () } // the timed battery reports it
    // ---- calibration gate (round-14 verdict #1) -------------------------
    // Three consecutive official closes landed on a loaded box (r14: cal
    // 1.59-2.35) and no record said whether anyone waited for quiet. The
    // gate polls the SAME fixed calibration workload the record reports
    // and starts the timed battery only once it reads <= threshold — or
    // the bounded wait expires, in which case the battery runs anyway and
    // the record STATES the box never quieted (quiet:false + every
    // attempt), turning "was this close contended?" into a recorded fact.
    // Disabled for child legs (SPARK_GRAFT_AB=0 — their defense is
    // symmetry, not quiet) and --only profiling runs; SPARK_GRAFT_CAL_GATE
    // sets the max wait in seconds ("0" disables, default 600), threshold
    // via SPARK_GRAFT_CAL_GATE_THR (default 1.35).
    // START-of-battery calibration (round-15 verdict #2): the r15 close
    // recorded calibration 11.99 AFTER a gate that went quiet at <= 1.35 —
    // one number cannot say whether the battery itself ran on a loaded
    // box. The record now carries the gate's LAST pre-battery attempt as
    // calibration_start and the post-battery read as calibration (the
    // legacy key, still what history normalization scales by), and is
    // MARKED CONTAMINATED when either side breaches the gate threshold —
    // a contaminated record's normalized_total is null (raw + per-query
    // values remain, flagged), it is excluded from history medians, and
    // tools/bench_compare.py refuses normalized cross-record comparisons
    // involving it.
    var calStart: Option[Double] = None
    val calGateThr = sys.env.get("SPARK_GRAFT_CAL_GATE_THR").map(_.toDouble)
      .getOrElse(1.35)
    val calGateJson: String = {
      val conf = sys.env.getOrElse("SPARK_GRAFT_CAL_GATE", "")
      val disabled = conf == "0" ||
        sys.env.getOrElse("SPARK_GRAFT_AB", "1") == "0" || args.nonEmpty
      if (disabled) "null"
      else {
        val thr = calGateThr
        // default wait 600 -> 240 s (r16: the gate burned its full wait on a
        // box that never quieted, starving the phases after it); an explicit
        // SPARK_GRAFT_CAL_GATE still sets any wait
        val maxWaitSec = if (conf.nonEmpty) conf.toLong else 240L
        val attempts = scala.collection.mutable.ListBuffer.empty[Double]
        val t0 = System.nanoTime()
        var c = calibrate(spark)
        attempts += c
        // fast exit at > 2x threshold: a box reading cal 2-4 against a 1.35
        // gate never quiets inside any reasonable wait (r16 measured 2-4 for
        // the whole session) — record the attempt and move on instead of
        // sleeping the full window
        while (c > thr && c <= 2 * thr && (System.nanoTime() - t0) / 1e9 < maxWaitSec) {
          Thread.sleep(30000)
          c = calibrate(spark)
          attempts += c
        }
        calStart = Some(c)
        System.err.println(s"bench: calibration gate ${if (c <= thr) "quiet"
          else "NEVER QUIET"} after ${attempts.size} attempt(s): " +
          attempts.map(jnum).mkString(", "))
        s"""{"threshold":${jnum(thr)},"maxWaitSec":$maxWaitSec,""" +
          s""""attempts":[${attempts.map(jnum).mkString(",")}],""" +
          s""""quiet":${c <= thr},"waited":${jnum((System.nanoTime() - t0) / 1e9)}}"""
      }
    }
    val results = runBattery(sfDir)
    // box-speed constant + same-session prior-commit A/B (see scaladocs):
    // the calibration always runs; the A/B runs unless disabled
    // (SPARK_GRAFT_AB=0) or a query-name filter was passed (profiling mode).
    val calibration = calibrate(spark)
    // contamination verdict: only adjudicable when the gate ran (official
    // records); start-quiet + end-quiet is the comparable regime
    val calContaminated: Option[Boolean] =
      calStart.map(cs => cs > calGateThr || calibration > calGateThr)
    val abEnabled = sys.env.getOrElse("SPARK_GRAFT_AB", "1") != "0" && args.isEmpty
    var abPerQueryJson: String = "{}"
    // DEFERRED past the compact-line print (round-16 verdict #1): the A/B is
    // adjudication detail, not the headline — it now runs after stdout has
    // its line, under the wall-clock budget, and is amended into the
    // bench-out file and the history record when it completes.
    def computeAb(): String = if (!abEnabled) "null" else {
      // A/B at a smaller SF than the official number: both sides pay one
      // full-battery pass there (bounded minutes), and the ratio carries
      // the regression signal — sibling sf0.01 when the official dir is
      // sf0.1, else the official dir itself.
      val abSf = sys.env.getOrElse("SPARK_GRAFT_AB_SF", {
        val sib = sfDir.replaceAll("sf0\\.1/?$", "sf0.01")
        if (sib != sfDir && new java.io.File(sib).isDirectory) sib else sfDir
      })
      runAb(abSf, cpus, () => remainingSec) match {
        case Left(msg) => s"""{"error":${jstr(msg)}}"""
        case Right(ab) =>
          val c = ab.perQuery.map(_._2).sum
          val p = ab.perQuery.map(_._3).sum
          def j(d: Double) = if (java.lang.Double.isFinite(d)) jnum(d) else "null"
          abPerQueryJson = ab.perQuery.map { case (q, cm, pm) =>
            jstr(q) + s":[${jnum(cm)},${jnum(pm)}]"
          }.mkString("{", ",", "}")
          // HEADLINE = median of PER-QUERY ratios (median-over-legs current
          // / median-over-legs prior, per common query above a jitter
          // floor), not the median of whole-battery pair-sum ratios: a
          // pair-sum ratio is one sample of the box's battery-scale drift
          // (r12 close: 3 pairs spread [1.008, 1.363] — a ±35% band that
          // can hide a 1.7x single-query regression AND a real 0.92x win),
          // while ~300 per-query ratios give the median an order-statistic
          // 95% CI of ±~1.7 rank percentiles. `ratio_spread` is that
          // binomial CI (ranks n/2 ± 1.96·√n/2) — the spread now BOUNDS
          // the headline instead of describing noise around it. Pair-sum
          // ratios stay in `pairs` for continuity with earlier rounds.
          val qRatios = ab.perQuery.collect {
            case (_, cmv, pmv) if pmv > 0.3 && cmv >= 0 => cmv / pmv
          }.sorted
          val n = qRatios.size
          val qMed = median(qRatios)
          val (qLo, qHi) =
            if (n >= 8) {
              val half = 1.96 * math.sqrt(n.toDouble) / 2
              (qRatios(math.max(0, ((n - 1) / 2.0 - half).floor.toInt)),
               qRatios(math.min(n - 1, ((n - 1) / 2.0 + half).ceil.toInt)))
            } else (if (n > 0) qRatios.head else Double.NaN,
                    if (n > 0) qRatios.last else Double.NaN)
          val pairMed = median(ab.pairRatios)
          // KEY DISCIPLINE (round-13 ADVICE): r13 silently re-used the
          // legacy keys with changed semantics ("spread" went from
          // min/max-of-pair-ratios to a binomial CI; "ratio" from
          // median-of-pair-sums to median-of-per-query-ratios), so tooling
          // reading old and new records compared different quantities.
          // Now: "ab_schema":2 marks the format; the CI lives under its
          // own key "ratio_spread"; "spread" carries its ORIGINAL
          // min/max-of-pair-ratios meaning again; "ratio" stays the
          // headline (per-query median — the r13 semantics, which
          // ab_schema>=2 disambiguates) with the legacy pair-sum median
          // under "pair_ratio".
          val pairSpread =
            if (ab.pairRatios.nonEmpty) (ab.pairRatios.min, ab.pairRatios.max)
            else (Double.NaN, Double.NaN)
          s"""{"ab_schema":2,"sf":${jstr(abSf)},"prior_ref":${jstr(ab.sha)},"common":${ab.perQuery.size},""" +
            s""""mode":${jstr(ab.mode)},""" +
            s""""ratio_mode":"median-of-per-query-ratios","ratio_n":$n,""" +
            s""""pairs":[${ab.pairRatios.map(jnum).mkString(",")}],""" +
            s""""pair_ratio":${j(pairMed)},""" +
            s""""spread":[${j(pairSpread._1)},${j(pairSpread._2)}],""" +
            s""""ratio_spread":[${j(qLo)},${j(qHi)}],""" +
            s""""current":${jnum(c)},"prior_commit":${jnum(p)},"ratio":${j(qMed)}}"""
      }
    }
    // failed queries are reported with negative elapsed time AND in an errors
    // map, so a crash can never masquerade as a fast success in bench totals
    val qs = results.map { case (k, v, _, err, _, _) =>
      jstr(k) + ":" + (if (err.isDefined) -v else v)
    }.mkString("{", ",", "}")
    // execution-only seconds (total minus plan construction): the
    // like-for-like channel when comparing against a pre-r8 harness whose
    // "queries" map excluded construction (see runAb's methodology bridge)
    val execQs = results.map { case (k, _, v, err, _, _) =>
      jstr(k) + ":" + (if (err.isDefined) -v else v)
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e), _, _) =>
      jstr(k) + ":" + jstr(e)
    }.mkString("{", ",", "}")
    val om = results.collect { case (k, _, _, _, ms, _) if ms.nonEmpty =>
      jstr(k) + ":" + ms.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    // probe-leg output cardinalities (SPARK_GRAFT_ROWS_OUT=1) — empty map
    // in official runs
    val rowsOutJson = results.collect { case (k, _, _, _, _, Some(r)) =>
      jstr(k) + ":" + r
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val nErr = results.count(_._4.isDefined)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")

    // ---- per-query regression budget against round-stamped history ------
    // bench_history/ keeps one full per-query file per (commit, sf); a
    // query regresses when it exceeds 2x its history median under BOTH
    // normalizations — calibration-scaled (raw seconds alone would
    // false-flag on the box's documented ~2x session drift) AND raw
    // (calibration scaling alone false-flags every WALL-CLOCK-bound query,
    // e.g. the micro-batch streaming replays whose trigger-bound ~5 s is
    // invariant to CPU speed, whenever the box speeds up between rounds —
    // observed as 9 phantom streaming flags at cal 1.6 vs a cal ~3
    // history). A real regression trips both; either drift mode alone
    // trips only one. Sub-second queries are never flagged —
    // codegen-compile jitter dominates there. Both the flags and the
    // history write are best-effort: they can never fail the bench.
    //
    // SENTINEL normalization (r9 forensics): the synthetic CPU calibration
    // under-corrects when the slowdown is contention (scheduler/IO), not
    // clock speed — the r9 end-of-round run inflated EVERY stable query by
    // the same ~2-3x (s1_scan_project 0.4→2.3 s vs 9 flat history runs) at
    // cal 1.62, firing 14 phantom flags. The run's own stable entries are
    // the honest probe: sentinel = median over all non-errored >0.5 s
    // entries of current/hist_median_raw. A uniform environmental shift
    // moves the sentinel itself (→ no flags); a real regression moves one
    // query against a ~1.0 sentinel (→ flagged). Clamped to >= 1 so a
    // faster-than-history box never loosens the raw bar, and guarded to
    // need >= 5 contributing entries so a tiny --only subset can't
    // self-normalize its own regression away.
    // BURST ADJUDICATION (r11 forensics): the dual criterion models UNIFORM
    // session drift (calibration) and uniform contention (sentinel), but a
    // bursty box — scheduler/IO contention hitting a few entries mid-battery
    // — defeats both and fired 16 phantom flags in the r11 driver record,
    // every one refuted by a fresh-JVM rerun. So a flag is now only
    // RECORDED if it REPRODUCES in an isolated re-run: all preliminarily
    // flagged entries re-run once in a fresh child JVM (quiet: no battery
    // around them), and the flag survives only if the isolated timing still
    // exceeds both thresholds under the child's own calibration. Refuted
    // flags land in `phantom_flags` with their isolated numbers — the
    // record stays auditable without crying wolf. Rerun failures keep the
    // original flags (conservative: an unverifiable flag is still a flag).
    val histDir = new java.io.File("bench_history")
    var sentinel: Double = 1.0
    var phantomFlags: String = "{}"
    val regressions: String = try {
      if (!histDir.isDirectory) "{}" else {
        val omap = new com.fasterxml.jackson.databind.ObjectMapper()
        val hist = scala.collection.mutable.Map.empty[String, List[Double]]
        val histRaw = scala.collection.mutable.Map.empty[String, List[Double]]
        val histCals = scala.collection.mutable.ListBuffer.empty[Double]
        for (f <- histDir.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName)) {
          try {
            val root = omap.readTree(java.nio.file.Files.readAllBytes(f.toPath))
            val cal = Option(root.get("calibration")).map(_.asDouble()).getOrElse(0.0)
            val sfOk = Option(root.get("sf")).exists(_.asText() == sfDir)
            // contaminated records (end-cal breached the gate) never feed
            // history medians — their walls measure the box, not the code
            val contam = Option(root.get("cal_contaminated")).exists(_.asBoolean())
            val q = root.get("queries")
            if (sfOk && cal > 0 && q != null && !contam) {
              histCals += cal
              val it = q.fields()
              while (it.hasNext) {
                val e = it.next(); val v = e.getValue.asDouble()
                if (v >= 0) {
                  hist(e.getKey) = (v / cal) :: hist.getOrElse(e.getKey, Nil)
                  histRaw(e.getKey) = v :: histRaw.getOrElse(e.getKey, Nil)
                }
              }
            }
          } catch { case _: Throwable => () }
        }
        val ratios = results.collect {
          case (name, sec, _, None, _, _) if sec > 0.5 && histRaw.contains(name) &&
              median(histRaw(name)) > 0.1 => sec / median(histRaw(name))
        }
        if (ratios.length >= 5) sentinel = math.max(1.0, median(ratios.toList))
        // (name, current sec, hist median scaled-by-cal, hist median raw)
        val prelim = results.collect {
          case (name, sec, _, None, _, _) if sec > 1.0 && hist.contains(name) &&
              sec / calibration > 2 * median(hist(name)) &&
              sec / sentinel > 2 * median(histRaw(name)) =>
            (name, sec, median(hist(name)), median(histRaw(name)))
        }
        def flagJson(f: (String, Double, Double, Double),
                     extra: Seq[String]): String = {
          val (name, sec, hs, hr) = f
          jstr(name) + (Seq(
            s""""current":${jnum(sec)}""",
            s""""hist_median_scaled":${jnum(hs * calibration)}""",
            s""""hist_median_raw":${jnum(hr)}""",
            s""""sentinel":${jnum(sentinel)}""") ++ extra)
            .mkString(":{", ",", "}")
        }
        if (prelim.isEmpty) "{}"
        // child legs (SPARK_GRAFT_FLAG_RERUN=0 from runChildBench) and
        // --only profiling runs never adjudicate — both recursion cuts
        else if (args.nonEmpty ||
            sys.env.getOrElse("SPARK_GRAFT_FLAG_RERUN", "1") == "0")
          prelim.map(flagJson(_, Seq(""""isolated":"skipped"""")))
            .mkString("{", ",", "}")
        // budget cut: an unadjudicated flag on the record beats a timed-out
        // run with no record (the rerun is a fresh-JVM child battery)
        else if (remainingSec < 420)
          prelim.map(flagJson(_, Seq(""""isolated":"skipped_budget"""")))
            .mkString("{", ",", "}")
        else {
          val repoDir = new java.io.File(".").getCanonicalFile
          // sbt-layout classes dir when present; java.class.path as the
          // fallback so a changed build layout degrades to a best-effort
          // rerun instead of every flag silently carrying isolated_error
          // (under `sbt runMain` the fallback is the launcher jar and the
          // child will fail visibly — still recorded, never silent)
          val clsDir = new java.io.File(repoDir, "target/scala-2.13/classes")
          val cp = if (clsDir.isDirectory) s"${clsDir.getPath}:/opt/spark/jars/*"
                   else sys.props("java.class.path")
          // SPARK_GRAFT_WARM_PASS: the child executes the flagged entries
          // once UNTIMED before its timed battery — in a full battery all
          // but the first consumer of a shared store read it warm, so
          // their history medians are warm numbers; without the warm pass an --only rerun pays the build
          // inside the flagged entry's own window and is biased toward
          // CONFIRMING flags that are actually phantom. A store's first
          // consumer pays the build in the battery but not in this rerun,
          // so its flags lean the other way.
          runChildBench(cp, repoDir, sfDir, cpus, prelim.map(_._1).toSeq,
              extraEnv = Map("SPARK_GRAFT_WARM_PASS" -> "1"),
              timeoutSec = math.min(900L, math.max(120L, remainingSec.toLong - 60))) match {
            case Left(msg) => // unverifiable: keep every flag, say why
              prelim.map(flagJson(_,
                  Seq(s""""isolated_error":${jstr(msg.take(200))}""")))
                .mkString("{", ",", "}")
            case Right(leg) =>
              val isoCal = leg.calibration.getOrElse(calibration)
              def isoOf(n: String): Option[Double] =
                leg.total.get(n).filter(_ >= 0)
              val (kept, refuted) = prelim.partition { case (n, _, hs, hr) =>
                isoOf(n) match {
                  case Some(is) => is > 1.0 && is / isoCal > 2 * hs && is > 2 * hr
                  case None => true // child errored on it: keep (conservative)
                }
              }
              // SUSTAINED-contention marker (r12 close forensics): the
              // isolated rerun refutes bursty contention, but contention
              // spanning the rerun itself defeats it — a kept flag whose
              // isolated calibration sits far above the quietest recorded
              // run's means the box was loaded end-to-end, and an idle-box
              // rerun measured such a "reproduced" flag at historical
              // level. The flag stays (never silently dropped) but carries
              // the marker so readers adjudicate with a later idle rerun.
              val contended = histCals.nonEmpty && isoCal > 1.5 * histCals.min
              def withIso(f: (String, Double, Double, Double),
                          mark: Boolean): String =
                flagJson(f, isoOf(f._1).toSeq.map(is =>
                  s""""isolated":${jnum(is)},"isolated_calibration":${jnum(isoCal)}""") ++
                  (if (mark && contended) Seq(""""contended":true""") else Nil))
              phantomFlags = refuted.map(withIso(_, mark = false))
                .mkString("{", ",", "}")
              kept.map(withIso(_, mark = true)).mkString("{", ",", "}")
          }
        }
      }
    } catch { case _: Throwable => "{}" }

    // which registry entry built each cross-entry shared store this run
    // (r7 ADVICE: makes sharing entries' timings interpretable under
    // registry reordering / --only subsets)
    val shared = {
      import scala.jdk.CollectionConverters._
      graft.queries.SharedStores.materializers.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    }

    // calibration-NORMALIZED per-query walls (sec / box-speed constant):
    // the directly-cross-round-comparable channel. Round 13's records ran
    // at cal 1.28-2.1 on a loaded box, making raw per-query walls unusable
    // for round-over-round comparison without manual normalization
    // (round-13 verdict #1); persisting the normalized values — the same
    // scaling the regression flagger already applies internally — makes
    // BENCH_rN self-comparable. Failed queries keep the negative marker.
    val normQs = results.map { case (k, v, _, err, _, _) =>
      jstr(k) + ":" + jnum(if (err.isDefined) -v / calibration else v / calibration)
    }.mkString("{", ",", "}")
    // contamination fields (see calStart above): normalized_total is NULL
    // on a contaminated record — the number the r15 close published at
    // end-cal 11.99 flattered by ~6x and was meaningless; raw seconds and
    // per-query walls stay, explicitly flagged
    val contamJson = calContaminated.map(_.toString).getOrElse("null")
    val calStartJson = calStart.map(jnum).getOrElse("null")
    val normTotalJson =
      if (calContaminated.contains(true)) "null" else jnum(total / calibration)
    val contamFields =
      s""""calibration_start":$calStartJson,"cal_contaminated":$contamJson,""" +
        (if (calContaminated.contains(true))
          s""""normalized_total_suspect":${jnum(total / calibration)},""" else "")
    // stdout gets the COMPACT line (fits any tail window: totals + errors +
    // regressions + a pointer); the file gets the full per-query detail.
    // The line prints BEFORE the A/B (round-16 verdict #1: both driver runs
    // were killed mid-A/B and the line — previously printed last — never
    // appeared); the A/B result is amended into the bench-out file and the
    // history record afterwards, so the stdout line carries "deferred".
    val abPlaceholder = if (abEnabled) """{"deferred":true}""" else "null"
    // "queries" stays INLINE in the stdout line — the driver contract names
    // it explicitly ({"metric",...,"queries":{name:sec},...}); ~10 KB for
    // 337 entries, still one line. Everything else heavy (normalized,
    // execSeconds, plans pointers) lives only in the file.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"nQueries":${results.size},"errors":$errs,"nErrors":$nErr,"regressions":$regressions,"phantom_flags":$phantomFlags,"sf":${jstr(sfDir)},"calibration":${jnum(calibration)},$contamFields"normalized_total":$normTotalJson,"sentinel":${jnum(sentinel)},"ab":$abPlaceholder,"perQuery":${jstr(outPath)}}"""
    def fullJson(ab: String): String = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"normalized":$normQs,"normalized_total":$normTotalJson,"execSeconds":$execQs,"warmupSeconds":${jnum(warmupSec)},"rowsOut":$rowsOutJson,"errors":$errs,"regressions":$regressions,"phantom_flags":$phantomFlags,"observedMetrics":$om,"sharedStores":$shared,"sf":${jstr(sfDir)},"calibration":${jnum(calibration)},$contamFields"sentinel":${jnum(sentinel)},"calGate":$calGateJson,"ab":$ab,"abPerQuery":$abPerQueryJson}"""
    // ONE bare line on the process's real stdout: java.io.FileDescriptor.out
    // bypasses sbt's System.out capture (whose "[info] " prefix breaks
    // line-oriented JSON parsing downstream) and IS System.out everywhere
    // else — never a duplicate.
    val fd = new java.io.PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    fd.println(compact)
    // round-stamped history copy so next round's judge can diff per-query
    // numbers. Decoupled from SPARK_GRAFT_AB (round-16 verdict: measurement
    // batteries run with AB=0 left NO per-query record anywhere); child legs
    // opt out via SPARK_GRAFT_HISTORY=0 set by runChildBench, and --only
    // profiling runs never write history.
    val historyEnabled = args.isEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_HISTORY", "1") != "0"
    def writeOutputs(ab: String): Unit = {
      val full = fullJson(ab)
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"bench: could not write $outPath: $e") }
      if (historyEnabled) try {
        val sha = exec(Seq("git", "rev-parse", "--short=12", "HEAD"),
          new java.io.File(".").getCanonicalFile, Map.empty, 30)
          .fold(_ => "unknown", _.trim)
        val sfBase = new java.io.File(sfDir).getName
        histDir.mkdirs()
        // filename carries the calibration regime (round-15 verdict #7) so
        // a directory listing alone shows which records are comparable:
        // cal to 2 decimals + the gate verdict (quiet / dirty = gate never
        // quieted or no gate / contam = end-cal breached the gate)
        val verdict =
          if (calContaminated.contains(true)) "contam"
          else if (calStart.exists(_ <= calGateThr) && calibration <= calGateThr) "quiet"
          else "dirty"
        val calTag = String.format(java.util.Locale.ROOT, "cal%.2f", Double.box(calibration))
        // near-one record per (commit, sf): the cal/verdict suffix varies
        // run to run, so sweep this commit's older records — but only those
        // whose verdict is EQUAL-OR-WORSE than the new one (a quiet record
        // must never be displaced by a contaminated rerun; legacy
        // unsuffixed names rank as dirty). A better old record coexisting
        // with the new one is fine: medians exclude contam, and the
        // filenames say which is which.
        def rankOf(n: String): Int =
          if (n.contains("_quiet")) 0 else if (n.contains("_contam")) 2 else 1
        val newRank = rankOf(s"_$verdict")
        histDir.listFiles()
          .filter(f => f.getName.startsWith(s"bench_${sha}_$sfBase") &&
            rankOf(f.getName) >= newRank)
          .foreach(_.delete())
        java.nio.file.Files.write(
          new java.io.File(histDir, s"bench_${sha}_${sfBase}_${calTag}_$verdict.json").toPath,
          (full + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable => System.err.println(s"bench: history write failed: $e") }
    }
    writeOutputs(abPlaceholder)
    if (abEnabled) writeOutputs(computeAb())
    spark.stop()
  }
}
