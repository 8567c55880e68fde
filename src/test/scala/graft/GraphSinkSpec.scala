package graft

import graft.io.GraphSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed graph tables: co-located joins and upserts plan without shuffle
  * exchanges on the bucket keys — the scale path documented in PLANS.md.
  */
class GraphSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed vertex tables join and upsert without exchanges") {
    val current = (1 to 1000).map(i => ("CL", i.toString, s"label$i")).toDF("id", "number", "label")
    val updates = (500 to 1500).map(i => ("CL", i.toString, s"new$i")).toDF("id", "number", "label")
    GraphSink.writeVerticesBucketed(current, "verts_cur", 8)
    GraphSink.writeVerticesBucketed(updates, "verts_upd", 8)
    try {
      val cur = spark.table("verts_cur")
      val upd = spark.table("verts_upd")

      // co-located equi-join: no shuffle exchange on either side
      val joined = cur.join(upd, Seq("id", "number"))
      val joinPlan = joined.queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$joinPlan")
      assert(joined.count() == 501)

      // bucketed upsert merge: exchange-free full-outer merge
      val merged = GraphSink.upsert(cur, upd, Seq("id", "number"))
      val mergePlan = merged.queryExecution.executedPlan.toString
      assert(!mergePlan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$mergePlan")
      assert(merged.count() == 1500)
      val m = merged.filter(col("number") === "700").collect()(0).getAs[String]("label")
      assert(m == "new700")
    } finally {
      spark.sql("DROP TABLE IF EXISTS verts_cur")
      spark.sql("DROP TABLE IF EXISTS verts_upd")
    }
  }

  test("exportCollection round-trips one collection as JSON (S11)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-export").toString
    try {
      val verts = Seq(
        ("CL", "0000235", "macrophage"),
        ("CL", "0000236", "B cell"),
        ("GO", "0031268", "pseudopodium organization")).toDF("id", "number", "label")
      GraphSink.writeVertices(verts, dir)
      GraphSink.exportCollection(spark, dir, "CL", s"$dir/export_cl")
      val back = spark.read.json(s"$dir/export_cl")
      assert(back.count() == 2)
      assert(back.columns.toSet == Set("id", "number", "label"))
      val labels = back.select("number", "label").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(labels == Map("0000235" -> "macrophage", "0000236" -> "B cell"))
      // only the requested collection is exported
      assert(back.filter(col("id") =!= "CL").count() == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("collection-granular DDL: delete one collection, others untouched (S10)") {
    import graft.io.GraphCatalog
    val dir = java.nio.file.Files.createTempDirectory("graft-ddl").toString
    try {
      val verts = Seq(
        ("CL", "1", "a"), ("GO", "2", "b"), ("UBERON", "3", "c")).toDF("id", "number", "label")
      val edges = Seq(
        ("CL", "CL", "1", "2"), ("CL", "GO", "1", "3")).toDF("from_id", "to_id", "from_number", "to_number")
      GraphSink.writeVertices(verts, dir)
      GraphSink.writeEdges(edges, dir)
      assert(GraphCatalog.listVertexCollections(dir) == Seq("CL", "GO", "UBERON"))
      assert(GraphCatalog.listEdgeCollections(dir) == Seq("CL-CL", "CL-GO"))

      // drop ONE vertex collection: its partition dir only
      GraphCatalog.deleteVertexCollection(dir, "GO")
      assert(GraphCatalog.listVertexCollections(dir) == Seq("CL", "UBERON"))
      val remaining = spark.read.parquet(s"$dir/vertices")
      assert(remaining.select("id").distinct().collect().map(_.getString(0)).toSet == Set("CL", "UBERON"))

      // drop one edge collection; the other pair survives intact
      GraphCatalog.deleteEdgeCollection(dir, "CL", "GO")
      assert(GraphCatalog.listEdgeCollections(dir) == Seq("CL-CL"))
      assert(spark.read.parquet(s"$dir/edges").count() == 1)

      // create-or-get is idempotent and registers an empty partition
      val p1 = GraphCatalog.createOrGetVertexCollection(dir, "NCBITaxon")
      val p2 = GraphCatalog.createOrGetVertexCollection(dir, "NCBITaxon")
      assert(p1 == p2)
      assert(GraphCatalog.listVertexCollections(dir).contains("NCBITaxon"))

      // names with path-hostile characters agree with Spark's partition
      // escaping: write via partitionBy, then delete/list by the RAW name
      val odd = Seq(("NCBITaxon:9606", "1", "human")).toDF("id", "number", "label")
      odd.write.mode("append").partitionBy("id").parquet(s"$dir/vertices")
      assert(GraphCatalog.listVertexCollections(dir).contains("NCBITaxon:9606"))
      GraphCatalog.deleteVertexCollection(dir, "NCBITaxon:9606")
      assert(!GraphCatalog.listVertexCollections(dir).contains("NCBITaxon:9606"))

      // a collection name with path separators or '..' segments must never
      // resolve outside the store via the raw-name fallback
      val outside = new java.io.File(s"$dir/../graft-ddl-outside")
      outside.mkdirs()
      val marker = new java.io.File(outside, "keep.txt")
      java.nio.file.Files.writeString(marker.toPath, "keep")
      try {
        // raw path would normalize to <parent-of-store>/graft-ddl-outside
        GraphCatalog.deleteVertexCollection(dir, "x/../../../graft-ddl-outside")
        GraphCatalog.deleteEdgeCollection(dir, "x/../../..", "../../graft-ddl-outside")
        assert(marker.exists(), "path-traversal name escaped the graph store")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(outside)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
