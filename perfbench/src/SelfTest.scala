package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

/** Checks of the benchmark itself: `python3 perfbench/run.py --selftest`.
  * Exits non-zero when one fails.
  */
object SelfTest {
  private var failures = 0
  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  private def sha(c: Corpus): Seq[(String, String)] = c.fileBytes.map { case (n, b) =>
    n -> MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
  }

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(sys.props.getOrElse("perfbench.work", ".bench_build/work"))
      .resolve("selftest-" + ProcessHandle.current.pid).toAbsolutePath
    Files.createDirectories(work)
    try run(work) finally Bench.deleteTree(work)
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def run(work: Path): Unit = {
    val cfg = CorpusConfig(classes = 600, files = 3)
    val (a, _) = Corpus.generate(7, cfg)
    val (b, _) = Corpus.generate(7, cfg)
    val (c, _) = Corpus.generate(8, cfg)
    expect("one seed gives the same bytes", sha(a) == sha(b))
    expect("another seed gives other bytes", sha(a) != sha(c))
    val model = Model(a)
    expect("import stubs repeat triples across files", model.pass1.unique < model.pass1.collected,
      s"${model.pass1.unique} unique of ${model.pass1.collected}")
    val (one, _) = Corpus.generate(7, cfg.copy(files = 1))
    val oneModel = Model(one)
    expect("a single file repeats no triple", oneModel.pass1.unique == oneModel.pass1.collected)
    expect("some classes are obsolete", model.pass1.deprecated.nonEmpty)

    val spark = Bench.session(work)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    try {
      val corpusDir = work.resolve("corpus")
      a.write(corpusDir)
      val search = SearchModel(model, Set("cell"))
      val peaks = (0 until 2).map { k =>
        Bench.drain(spark)
        counters.resetPeak()
        Bench.build(spark, corpusDir.toString, work.resolve(s"store$k").toString)
        Bench.drain(spark)
        (counters.peakBytes, counters.cachedBytes)
      }
      expect("back-to-back builds report the same cache peak", peaks(0)._1 == peaks(1)._1 && peaks(0)._1 > 0,
        s"peaks ${peaks.map(_._1)}")
      expect("unpersisted blocks leave the cached total", peaks(0)._2 == peaks(1)._2, s"cached ${peaks.map(_._2)}")

      val store = work.resolve("store0")
      val clean = Store.check(spark, store.toString, model, search)
      expect("the built store matches the model", clean.isEmpty, clean.mkString("; "))
      expect("search for 'cell' hits every kept CL label",
        search.hits("cell").count(_._3 == "text_en_no_stem") == model.pass1.vertices.keys.count(_._1 == "CL"))

      // corruption 1: one edge partition file removed
      val edgeFile = firstFile(store.resolve("ontologies/edges"), ".parquet")
      Files.delete(edgeFile)
      val lost = Store.check(spark, store.toString, model, search)
      expect("a store missing an edge file is caught", lost.exists(_.startsWith("ontologies/edges")), lost.mkString("; "))

      // corruption 2: a deprecated term that the model does not expect
      val dep = firstFile(store.resolve("phenotypes/deprecated_terms.txt"), ".txt")
      Files.writeString(dep, Files.readString(dep) + "CL_9999999\n")
      Files.deleteIfExists(dep.resolveSibling("." + dep.getFileName + ".crc")) // else the read fails on its checksum
      val extra = Store.check(spark, store.toString, model, search)
      expect("an extra deprecated term is caught", extra.exists(_.startsWith("phenotypes/deprecated_terms")),
        extra.mkString("; "))

      // corruption 3: the other store's vertices under another seed's model
      val other = Store.check(spark, work.resolve("store1").toString, Model(c), SearchModel(Model(c), Set("cell")))
      expect("another corpus's model rejects the store", other.nonEmpty)
    } finally spark.stop()
  }

  private def firstFile(dir: Path, suffix: String): Path = {
    val s = Files.walk(dir)
    try s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") &&
      p.getFileName.toString.endsWith(suffix)).sorted().findFirst().get()
    finally s.close()
  }
}
