package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
    // the forked test JVM's exit is the session's end: remove the dir then
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(wh.toFile))
    System.setProperty("derby.system.home", wh.toString)
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // registered HERE, not left to whichever suite happens to run first:
    // SparkEntrySpec runs every registry entry, several of which resolve
    // native functions by name (top_k, jaro_winkler, x2's SQL surface) —
    // suite-order-dependent registration made that spec flaky
    graft.functions.GraftExtensions.register(s)
    s
  }

  /** Absolute path of the OWL fixture directory on the test classpath. */
  lazy val oboDir: String =
    new java.io.File(getClass.getClassLoader.getResource("obo/macrophage.owl").getFile)
      .getParentFile.getAbsolutePath

  def fixture(name: String): String = s"$oboDir/$name"

  def readFixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixture(name)))
}
