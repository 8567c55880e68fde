package graft

import graft.queries.SharedStores
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

/** The shared-store contract: one build per (session, store) whatever the
  * number of consumers, attribution to the first consumer (there is no
  * warmup label any more), rebuild after the session stops, and the
  * CacheManager stores' 8 KiB `documents` persist gate.
  */
class SharedStoresSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A session of its own (own stores), with the registry's functions. */
  private def fresh() = {
    val s = spark.newSession()
    graft.functions.GraftExtensions.register(s)
    s
  }

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])

  test("two consumers in one session build once") {
    val s = fresh()
    var builds = 0
    def store() = SharedStores(s, "spec_build_once", sf) { builds += 1; new Object }
    val a = SharedStores.currentEntry.withValue("consumer_a")(store())
    val b = SharedStores.currentEntry.withValue("consumer_b")(store())
    assert(builds == 1)
    assert(a eq b)
    assert(SharedStores.materializers.get("spec_build_once") == "consumer_a")
    // another session is another store
    SharedStores(fresh(), "spec_build_once", sf) { builds += 1; new Object }
    assert(builds == 2)
  }

  test("a build that throws leaves no store behind") {
    val s = fresh()
    intercept[IllegalStateException] {
      SharedStores(s, "spec_failing", sf)(throw new IllegalStateException("boom"))
    }
    assert(!SharedStores.materializers.containsKey("spec_failing"))
    val v = SharedStores.currentEntry.withValue("retry")(
      SharedStores(s, "spec_failing", sf)("built"))
    assert(v == "built")
    assert(SharedStores.materializers.get("spec_failing") == "retry")
  }

  test("attribution names the first consumer in battery order, never _warmup") {
    val s = fresh()
    val qs = SparkEntry.queries
    // d16 sorts before d8: in a battery it is cc_labels' first consumer
    val d16 = qs("d16_cluster_sizes")(s, sf).collect()
    val d8 = qs("d8_cc_components")(s, sf).collect()
    assert(d16.nonEmpty && d8.nonEmpty)
    assert(SharedStores.materializers.get("cc_labels") == "d16_cluster_sizes")
    // the shingles store cc_labels reads was built inside the same call
    assert(SharedStores.materializers.get("shingles") == "d16_cluster_sizes")
    assert(!SharedStores.materializers.containsValue("_warmup"))
  }

  test("below 8 KiB of documents nothing is persisted, but the frame is returned") {
    val dir = graft.ops.Scratch.dir("shared-stores-spec")
    try {
      spark.read.parquet(s"$sf/documents.parquet").orderBy("doc_id").limit(5)
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      def bytes(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(bytes).sum else f.length()
      assert(bytes(dir.resolve("documents.parquet").toFile) < (8L << 10))
      val small = SparkEntry.queries("d2_jaccard_pairs")(fresh(), dir.toString)
      assert(!cached(small))
      assert(small.count() >= 0)
      // the same store over sf0.001's documents (64 KiB) is persisted
      val large = SparkEntry.queries("d2_jaccard_pairs")(fresh(), sf)
      assert(cached(large))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a stopped session's store is evicted and rebuilt in a new session") {
    // stopping a session stops the JVM's one SparkContext, which the other
    // suites share, so this runs in a child JVM
    val javaBin = new java.io.File(sys.props("java.home"), "bin/java").getPath
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx1g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), "graft.SharedStoresEvictionCheck")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out.takeRight(2000))
    assert(out.linesIterator.contains("builds=2 evicted=true"), out.takeRight(2000))
  }
}

/** Child-JVM half of the eviction test: build a store, stop the session,
  * ask again from a new session, and report the build count and whether
  * the stopped session's value became unreachable.
  */
object SharedStoresEvictionCheck {
  def main(args: Array[String]): Unit = {
    def session() = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    var builds = 0
    val s1 = session()
    val first = new java.lang.ref.WeakReference(
      SharedStores(s1, "probe", "d") { builds += 1; new Array[Byte](1 << 20) })
    s1.stop()
    val s2 = session()
    assert(!(s2 eq s1))
    SharedStores(s2, "probe", "d") { builds += 1; new Array[Byte](1) }
    var tries = 0
    while (first.get != null && tries < 20) { System.gc(); Thread.sleep(50); tries += 1 }
    println(s"builds=$builds evicted=${first.get == null}")
    s2.stop()
  }
}
