package graft

import graft.llm.{Bpe, Similarity}
import graft.ops.{Checkpointer, ConnectedComponents, GraphTraversal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one lineage-truncation policy: the session's checkpoint dir alone
  * selects reliable (`df.checkpoint`) over local (`df.localCheckpoint`)
  * truncation, and reliable mode must produce the same results as local
  * mode (it only changes WHERE materialized rounds live, never what they
  * contain) while actually writing checkpoint files to the dir.
  */
class CheckpointerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withCheckpointDir[A](body: java.io.File => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    sc.setCheckpointDir(dir.getAbsolutePath)
    try body(dir)
    finally {
      // restore "no checkpoint dir" for the other suites (their operators
      // must keep truncating locally); SparkContext has no unset API, so
      // clear the underlying field it reads through.
      prev match {
        case Some(p) => sc.setCheckpointDir(p)
        case None =>
          val f = sc.getClass.getDeclaredMethod("checkpointDir_$eq", classOf[Option[String]])
          f.invoke(sc, None)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  /** Number of reliable-checkpoint `rdd-*` dirs under `f`. */
  private def rddDirs(f: java.io.File): Int =
    Option(f.listFiles()).toSeq.flatten
      .map(c => (if (c.getName.startsWith("rdd-")) 1 else 0) + rddDirs(c)).sum

  /** The RDD a truncated frame reads (its checkpoint). */
  private def checkpointRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => fail(s"expected a checkpoint-backed plan, got:\n$p")
    }

  /** The reliable checkpoint file behind a truncated frame, if any. */
  private def checkpointFile(df: DataFrame): Option[String] = checkpointRdd(df).getCheckpointFile

  private val edges = {
    val rnd = new scala.util.Random(7)
    Seq.fill(150)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
  }

  test("connected components: Reliable == Local, and checkpoint files are written") {
    val df = edges.toDF("src", "dst")
    val local = ConnectedComponents.components(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withCheckpointDir { dir =>
      val reliable = ConnectedComponents.components(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(reliable == local)
      // the rounds actually hit the fault-tolerant dir (rdd-* subdirs)
      assert(rddDirs(dir) > 0, "no reliable checkpoint files written")
    }
  }

  test("pageRank: Reliable ranks are identical to Local (same plan, same order)") {
    val df = edges.toDF("src", "dst")
    val local = GraphTraversal.pageRank(df, iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    withCheckpointDir { _ =>
      val reliable = GraphTraversal.pageRank(df, iterations = 6)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(reliable.keySet == local.keySet)
      local.foreach { case (id, r) =>
        assert(math.abs(reliable(id) - r) < 1e-12, s"vertex $id") }
    }
  }

  test("bfsLevels + BPE training: Reliable == Local") {
    val df = edges.toDF("src", "dst")
    val srcs = Seq(0L).toDF("id")
    val localBfs = GraphTraversal.bfsLevels(df, srcs, maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val docs = Seq("low lower lowest", "new newer newest", "low low new")
      .toDF("text")
    val localBpe = graft.llm.Bpe.trainMerges(docs, numMerges = 6)
    withCheckpointDir { _ =>
      val relBfs = GraphTraversal.bfsLevels(df, srcs, maxHops = 5)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(relBfs == localBfs)
      val relBpe = graft.llm.Bpe.trainMerges(docs, numMerges = 6)
      assert(relBpe == localBpe)
    }
  }

  test("lazily: same data, lineage truncated") {
    val df = edges.toDF("src", "dst")
    // value identity with the eager variant
    val eager = Checkpointer(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lzy = Checkpointer.lazily(df)
    assert(lzy.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == eager)
    // after the action, the plan is checkpoint-backed (lineage truncated):
    // no file scan / local relation remains in the physical plan
    val plan = lzy.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD") || plan.contains("RDDScan"),
      s"expected an RDD-backed plan after lazy checkpoint, got:\n$plan")
    // with a dir, the lazy frame writes its reliable checkpoint inside the
    // caller's next action, not before it
    withCheckpointDir { _ =>
      val relLzy = Checkpointer.lazily(df)
      assert(checkpointFile(relLzy).isEmpty, "lazy checkpoint materialized eagerly")
      assert(relLzy.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == eager)
      assert(checkpointFile(relLzy).isDefined, "lazy reliable checkpoint never written")
    }
  }

  test("checkpoints drop origin stats — joins cannot compound sizeInBytes") {
    // Dataset.localCheckpoint preserves the origin plan's statistics, and
    // a fixpoint round that JOINS the checkpointed frame squares the
    // inherited sizeInBytes — its DIGIT COUNT then doubles per round
    // (measured 6→14→30→62→125→252 over six rounds pre-fix) until the
    // driver spends minutes in BigInteger.multiply inside the stats
    // visitor. The Checkpointer must reset stats at every truncation so
    // the estimate stays CONSTANT across rounds.
    // UNIQUE ids with lab == id: the self-join below then stays 1:1 per
    // round (non-unique keys would fan out exponentially instead)
    var labels = Checkpointer(
      spark.range(0, 50).selectExpr("id", "id AS lab"))
    val digits0 = labels.queryExecution.optimizedPlan.stats.sizeInBytes
      .toString.length
    for (_ <- 1 to 5) {
      val joined = labels
        .join(labels.select(col("id").as("lab"), col("lab").as("j")), Seq("lab"))
        .select(col("id"), least(col("lab"), col("j")).as("lab"))
      labels = Checkpointer.lazily(joined)
      labels.count()
    }
    val digitsN = labels.queryExecution.optimizedPlan.stats.sizeInBytes
      .toString.length
    assert(digitsN <= digits0 + 2,
      s"sizeInBytes digits grew $digits0 -> $digitsN across 5 join rounds " +
        "— origin stats are compounding through the checkpoint again")
  }

  test("Checkpointer dispatches on checkpoint-dir presence") {
    val df = edges.toDF("src", "dst")
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: suite ordering must leave no checkpoint dir configured")
    // without a dir: a local checkpoint, no reliable file behind it
    val local = Checkpointer(df)
    assert(checkpointFile(local).isEmpty)
    withCheckpointDir { dir =>
      // with a dir: a reliable checkpoint, its file under that dir
      val reliable = Checkpointer(df)
      val file = checkpointFile(reliable)
      assert(file.exists(_.contains(dir.getName)), s"checkpoint file $file not under $dir")
      assert(reliable.collect().toSet == local.collect().toSet)
    }
  }

  // ---- the round driver ------------------------------------------------

  /** Ids of the RDDs a frame's plan reads, with their lineage. */
  private def rddsBehind(df: DataFrame): Set[Int] = {
    def lineage(r: org.apache.spark.rdd.RDD[_]): Set[Int] =
      r.dependencies.map(d => lineage(d.rdd)).foldLeft(Set(r.id))(_ ++ _)
    df.queryExecution.logical.collect { case r: LogicalRDD => lineage(r.rdd) }
      .foldLeft(Set.empty[Int])(_ ++ _)
  }

  /** Runs `op` and fails if it leaves a persisted RDD behind that its
    * returned frame does not read (superseded round state, a loop-invariant
    * table); then reads the frame back, which fails if the operator
    * released state its result still needs.
    */
  private def leavesOnlyItsResult(name: String)(op: => DataFrame): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = op
    val left = sc.getPersistentRDDs.keySet.toSet -- before -- rddsBehind(out)
    assert(left.isEmpty, s"$name left ${left.size} persisted RDDs its result does not read: $left")
    out.collect()
  }

  test("release drops a local checkpoint's blocks") {
    val sc = spark.sparkContext
    val cp = Checkpointer(edges.toDF("src", "dst"))
    val id = checkpointRdd(cp).id
    assert(sc.getPersistentRDDs.contains(id))
    Checkpointer.release(cp)
    assert(!sc.getPersistentRDDs.contains(id))
  }

  test("untilStable: lazy steps are materialized before their input is released") {
    // a chain's min-label fixpoint takes several lazy steps; each step's
    // rows pass a filter that, while the step's state is materialized,
    // asks whether the state it reads is still persisted (local mode: the
    // tasks run in this JVM) — so a release that came first drops rows
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val init = Checkpointer(chain.select(col("src").as("id")).union(chain.select(col("dst")))
      .distinct().withColumn("lab", col("id")))
    var inputs = List.empty[DataFrame]
    val out = Checkpointer.untilStable(init, 20, eager = false, "no fixpoint") { s =>
      inputs ::= s
      val input = checkpointRdd(s).id
      val inputLive = udf(() =>
        org.apache.spark.SparkContext.getOrCreate().getPersistentRDDs.contains(input))
        .asNondeterministic()
      val msgs = chain.join(s.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min("lab").as("m"))
      s.join(msgs, Seq("id"), "left")
        .select(col("id"), least(col("lab"), coalesce(col("m"), col("lab"))).as("lab"))
        .filter(inputLive())
    }
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L to 12L).map(_ -> 0L).toMap)
    // every superseded state (init included) has been released
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(inputs.size > 2 && inputs.forall(s => (rddsBehind(s) & live).isEmpty))
  }

  test("untilStable: an unconverged run throws the operator's message and keeps no state") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val ex = intercept[IllegalStateException] {
      Checkpointer.untilStable(Checkpointer(spark.range(0, 5).toDF("id")), 3, eager = true,
        "counter did not settle in 3 rounds") { s => s.select((col("id") + 1).as("id")) }
    }
    assert(ex.getMessage == "counter did not settle in 3 rounds")
    assert(sc.getPersistentRDDs.keySet.toSet -- before == Set.empty)
  }

  test("iterate: fixed rounds, early end on a settled round or an unchanged step") {
    val init = Checkpointer(spark.range(0, 3).toDF("id"))
    def bump(s: DataFrame) = s.select((col("id") + 1).as("id"))
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
    var seen = 0
    assert(ids(Checkpointer.iterate(init, 4, (_, _) => false) { (s, r) => seen = r; bump(s) }) ==
      Set(4L, 5L, 6L))
    assert(seen == 4)
    val settled = Checkpointer.iterate(Checkpointer(spark.range(0, 3).toDF("id")), 9,
      (_, next) => next.agg(max("id")).head().getLong(0) >= 4)((s, _) => bump(s))
    assert(ids(settled) == Set(2L, 3L, 4L))
    val unchanged = Checkpointer.iterate(Checkpointer(spark.range(0, 3).toDF("id")), 9,
      (_, _) => false)((s, r) => if (r > 2) s else bump(s))
    assert(ids(unchanged) == Set(2L, 3L, 4L))
  }

  test("round operators leave only the state behind their result") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L), (1L, 3L), (7L, 8L)).toDF("src", "dst")
    val uri = g.select(concat(lit("u"), col("src")).as("src"),
      concat(lit("u"), col("dst")).as("dst"))
    val src = Seq(1L).toDF("id")
    leavesOnlyItsResult("bfsLevels")(GraphTraversal.bfsLevels(g, src, maxHops = 4))
    leavesOnlyItsResult("shortestPaths")(GraphTraversal.shortestPaths(
      g.withColumn("weight", lit(2L)), src, maxHops = 3))
    leavesOnlyItsResult("pageRank")(GraphTraversal.pageRank(g, iterations = 4))
    leavesOnlyItsResult("pageRank, encoded keys, tolerance")(
      GraphTraversal.pageRank(uri, iterations = 30, tolerance = Some(1e-6)))
    leavesOnlyItsResult("personalizedPageRank")(
      GraphTraversal.personalizedPageRank(g, src, iterations = 4))
    leavesOnlyItsResult("kCore")(GraphTraversal.kCore(g, k = 2))
    leavesOnlyItsResult("kTruss")(GraphTraversal.kTruss(g, k = 3))
    leavesOnlyItsResult("labelPropagation")(GraphTraversal.labelPropagation(g, rounds = 3))
    leavesOnlyItsResult("labelPropagation, encoded keys")(
      GraphTraversal.labelPropagation(uri, rounds = 3))
    leavesOnlyItsResult("louvainLevel, encoded keys")(GraphTraversal.louvainLevel(uri, rounds = 2))
    leavesOnlyItsResult("leidenRefine")(GraphTraversal.leidenRefine(
      g.select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b")),
      g.select(col("src").as("id")).union(g.select(col("dst"))).distinct()
        .withColumn("community", lit(1L))))
    leavesOnlyItsResult("stronglyConnectedComponents")(
      GraphTraversal.stronglyConnectedComponents(g))
    leavesOnlyItsResult("hits")(GraphTraversal.hits(g, rounds = 3))
    leavesOnlyItsResult("neighborhoodFunction")(GraphTraversal.neighborhoodFunction(g, maxT = 6))
    leavesOnlyItsResult("hyperBall")(GraphTraversal.hyperBall(g, maxT = 3))
    leavesOnlyItsResult("hyperBallExplicit")(GraphTraversal.hyperBallExplicit(g, maxT = 3))
    leavesOnlyItsResult("stressCentrality")(GraphTraversal.stressCentrality(g, maxT = 3))
    leavesOnlyItsResult("components")(ConnectedComponents.components(g))
    leavesOnlyItsResult("trainMerges") {
      Bpe.trainMerges(Seq("low lower lowest", "new newer newest").toDF("text"), numMerges = 5)
      spark.emptyDataFrame
    }
  }

  test("vector round operators leave only the state behind their result") {
    val e = (0L until 60L).map(i => (i, Seq.tabulate(64)(d => math.sin(i * 0.37 + d).toFloat)))
      .toDF("vec_id", "embedding")
    leavesOnlyItsResult("nnDescentGraph")(Similarity.nnDescentGraph(e, k = 4, rounds = 2))
    val lvl = Similarity.hnswLayerOf(col("vec_id"), 1)
    val layers = Seq(Similarity.nnDescentGraph(e, k = 4, rounds = 1),
      Similarity.nnDescentGraph(e.filter(lvl >= 1), k = 4, rounds = 1))
    leavesOnlyItsResult("layeredSearch")(Similarity.layeredSearch(
      e.filter(col("vec_id") < 5), layers, e, k = 3, beam = 6, baseHops = 2))
    val old = e.filter(col("vec_id") >= 10)
    val base = Similarity.nnDescentGraph(old, k = 4, rounds = 1)
    leavesOnlyItsResult("knngAppend")(Similarity.knngAppend(base, old,
      e.filter(col("vec_id") < 10), k = 4, beam = 6, hops = 2))
  }
}
