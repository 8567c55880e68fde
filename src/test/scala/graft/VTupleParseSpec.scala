package graft

import graft.functions.VTupleParse
import graft.ops.UriOps
import org.scalatest.funsuite.AnyFunSuite

/** Native vtuple_parse Expression: equivalence with the UDF, codegen path,
  * and SQL registration via SparkSessionExtensions.
  */
class VTupleParseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val uris = Seq(
    "http://purl.obolibrary.org/obo/CL_0000235",
    "http://purl.obolibrary.org/obo/BFO_0000002",
    "http://www.w3.org/2000/01/rdf-schema#subClassOf",
    "http://purl.obolibrary.org/obo/pcl/CS12345",
    "_:file#b1",
    "\"a literal\"",
    null)

  test("expression matches the UDF on the full matrix") {
    val df = uris.toDF("uri")
    val both = df.select(
      VTupleParse.vtuple($"uri").as("e"),
      UriOps.vtupleUdf($"uri").as("u"))
    both.collect().foreach { r =>
      val e = r.getStruct(0); val u = r.getStruct(1)
      assert(e.getString(0) == u.getString(0) && e.getString(1) == u.getString(1) &&
        e.getString(2) == u.getString(2) && e.getBoolean(3) == u.getBoolean(3))
    }
  }

  test("null and invalid input yield the invalid struct, not null") {
    val rows = Seq(null.asInstanceOf[String]).toDF("uri")
      .select(VTupleParse.vtuple($"uri").as("v")).collect()
    assert(!rows(0).isNullAt(0) && !rows(0).getStruct(0).getBoolean(3))
  }

  test("expression participates in whole-stage codegen (no ScalaUDF in plan)") {
    val df = uris.toDF("uri").select(VTupleParse.vtuple($"uri").as("v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
    // force execution through the codegen path
    assert(df.collect().length == uris.length)
  }

  test("registered for SQL via GraftExtensions.register") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT vtuple_parse('http://purl.obolibrary.org/obo/GO_0031268') AS v")
      .select("v.id", "v.number", "v.isValidVertex").collect()(0)
    assert(r.getString(0) == "GO" && r.getString(1) == "0031268" && r.getBoolean(2))
  }

  test("all engine kernels are callable from SQL") {
    graft.functions.GraftExtensions.register(spark)
    assert(spark.sql("SELECT dot_long(array(1L,2L), array(3L,4L))").collect()(0).getLong(0) == 11L)
    assert(spark.sql("SELECT dot_double(array(0.5d,2.0d), array(2.0d,1.5d))")
      .collect()(0).getDouble(0) == 4.0)
    val pairs = spark.sql("SELECT ordered_pairs(array(1L,2L,3L))")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val shingles = spark.sql("SELECT word_shingles('a b c d', 3)")
      .collect().map(_.getString(0)).toSet
    assert(shingles == Set("a b c", "b c d"))
    val grams = spark.sql("SELECT char_ngrams('abcd', 3, 4, true)")
      .collect().map(_.getString(0)).toSet
    assert(grams == Set("abc", "bcd", "abcd"))
    val edges = spark.sql("SELECT DISTINCT token FROM (SELECT edge_ngrams('Hello', 3, 12) AS token)")
      .collect().map(_.getString(0)).toSet
    assert(edges == Set("hel", "hell", "hello"))
  }

  test("mistyped or null SQL config args fail with a clear message, not a raw NPE/CCE") {
    graft.functions.GraftExtensions.register(spark)
    def messageOf(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      // analysis may wrap the builder's exception — search the cause chain
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    }
    // string literal where an int is expected
    val m1 = messageOf("SELECT word_shingles('a b c', '3')")
    assert(m1.contains("word_shingles") && m1.contains("integer"), m1)
    // null literal
    val m2 = messageOf("SELECT char_ngrams('abc', NULL, 4, true)")
    assert(m2.contains("char_ngrams") && m2.contains("non-null"), m2)
    // non-literal (column reference)
    val m3 = messageOf(
      "SELECT edge_ngrams(s, 3, n) FROM (SELECT 'a' AS s, 5 AS n)")
    assert(m3.contains("edge_ngrams") && m3.contains("literal"), m3)
    // string where a boolean is expected
    val m4 = messageOf("SELECT char_ngrams('abc', 3, 4, 'yes')")
    assert(m4.contains("char_ngrams") && m4.contains("boolean"), m4)
  }
}
