package graft

import graft.ops.{SessionConf, TextIndex}
import graft.pipeline.OntologyPipeline
import org.scalatest.funsuite.AnyFunSuite
import perfbench.{Corpus, CorpusConfig, Model, SearchModel, Store}

import java.nio.file.Files

/** Differential check of the two-pass pipeline on generated corpora: the
  * store `OntologyPipeline.run` writes, plus the search token table built
  * over it, must equal what an independent plain-Scala model of the
  * reference's HashSet/HashMap semantics predicts from the generator's own
  * statements. Generator, model and store reader are perfbench's
  * `Corpus.scala`, `Model.scala` and `Store.scala`, compiled into the test
  * classpath by build.sbt (one copy, shared with the benchmark).
  */
class PipelineDifferentialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The pipeline's store plus the search token table, under `out`. */
  private def buildStore(in: String, out: String): Unit = {
    OntologyPipeline.run(spark, in, out)
    TextIndex.buildTokenTable(spark.read.parquet(s"$out/ontologies/vertices"), Store.SearchFields)
      .write.parquet(Store.tokensDir(out))
  }

  for (seed <- Seq(1L, 2L); files <- Seq(1, 8)) {
    test(s"both passes and the token table match the model: seed $seed, $files file(s)") {
      val (corpus, _) = Corpus.generate(seed, CorpusConfig(classes = 300, files = files))
      val work = Files.createTempDirectory("graft-differential")
      try {
        val in = work.resolve("corpus")
        corpus.write(in)
        val out = work.resolve("store").toString
        buildStore(in.toString, out)
        val model = Model(corpus)
        assert(Store.check(spark, out, model, SearchModel(model, Set.empty[String])) == Seq.empty)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
  }

  test("the store does not depend on the shuffle partition count: seed 1, 8 files") {
    val (corpus, _) = Corpus.generate(1L, CorpusConfig(classes = 300, files = 8))
    val model = Model(corpus)
    val work = Files.createTempDirectory("graft-differential")
    try {
      val in = work.resolve("corpus")
      corpus.write(in)
      val digests = Seq(1, 3, 8).map { n =>
        val out = work.resolve(s"store-$n").toString
        SessionConf.withShufflePartitions(spark, n)(buildStore(in.toString, out))
        assert(Store.check(spark, out, model, SearchModel(model, Set.empty[String])).isEmpty,
          s"shuffle partitions = $n")
        Store.digest(spark, out)
      }
      assert(digests.distinct.size == 1, digests)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }
}
