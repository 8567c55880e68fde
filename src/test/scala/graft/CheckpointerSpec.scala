package graft

import graft.ops.{Checkpointer, ConnectedComponents, GraphTraversal}
import org.apache.spark.sql.DataFrame
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

  /** The reliable checkpoint file behind a truncated frame, if any. */
  private def checkpointFile(df: DataFrame): Option[String] =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getCheckpointFile
      case p => fail(s"expected a checkpoint-backed plan, got:\n$p")
    }

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
    import org.apache.spark.sql.functions._
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
}
