package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query names (local iteration only;
    // the driver always runs the full registry)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = graft.ops.SessionConf.localSession()
    // audited-benign unpartitioned-window WARNs silenced here as in Bench;
    // PlanDump --audit-windows owns detection of new offenders
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    // a failing query must surface as a RED row, not silently shrink the
    // correctness file: record name -> first exception line for _errors.json
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
          .takeWhile(_ != '\n').take(300)
        errors(name) = s"${e.getClass.getSimpleName}: $msg"
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    // Bench.jstr escapes ALL control chars (<0x20): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load fail
    // and silently zero the round's correctness.
    import Bench.jstr
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // always written (empty {} when green) so the driver can distinguish
    // "no failures" from "errors file not produced"
    val errJson = errors
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
  }
}
