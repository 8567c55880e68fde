package graft
import graft.queries.{FlagshipQueries, GraphQueries, PipelineQueries, RelationalQueries, SharedStores, StreamingQueries, TemporalQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every operator family in SURVEY §2 (scans, filters, joins,
  * aggregates, windows, set ops, pivot, scalar fns, n-gram analyzers) plus
  * the training-data-pipeline operators (dedup, similarity, text stats,
  * multimodal plumbing) to named queries over the driver's testdata tables;
  * `oracleSql` carries the DuckDB-equivalent SQL for each (null → rows-only).
  */
object SparkEntry {

  private val entries: Seq[RelationalQueries.Entry] =
    RelationalQueries.all ++ PipelineQueries.all ++ GraphQueries.all ++
      TemporalQueries.all ++ StreamingQueries.all ++ FlagshipQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("a2_flagship_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each fn runs
    * with [[SharedStores.currentEntry]] bound to its name so cross-entry
    * shared stores can attribute their materialization cost (bench_out's
    * `sharedStores` map).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (name, fn, _) =>
      name -> ((s: SparkSession, d: String) =>
        SharedStores.currentEntry.withValue(name)(fn(s, d)))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    entries.collect { case (name, _, sql) if sql != null => name -> sql }.toMap
}
