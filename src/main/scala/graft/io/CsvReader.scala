package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Delimited-text (CSV) corpus reader with the same corrupt-record ROUTING
  * contract as [[JsonlReader]]: a text scan + `from_csv` in one columnar
  * pass, schema enforced, malformed lines preserved on the quarantine
  * channel. Headerless by design — training-shard CSVs carry their schema
  * in the catalog, and a per-file header row is the one thing a
  * line-splittable text scan cannot see (only the task holding a file's
  * first split could drop it); `spark.read.csv` exists for header-ful
  * interactive use, but its corrupt column carries the same
  * cache-before-filter caveat the JSONL reader avoids.
  *
  * Corruption semantics (the parser's, pinned by spec): a type-mismatched
  * field or ANY arity deviation — more fields than the schema or fewer —
  * quarantines the line. Positional formats have no field names, so a
  * short row is indistinguishable from a mis-delimited one; strict arity
  * is the only safe contract (sparse records belong in JSONL, where
  * absence is explicit).
  */
object CsvReader {

  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains("corrupt_record"),
      "schema may not contain the reserved column name corrupt_record")
    val withCorrupt = schema.add("corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .withColumn("cs", from_csv(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "corrupt_record",
          "delimiter" -> ",")))
      .select(schema.fieldNames.toIndexedSeq.map(f => col(s"cs.`$f`").as(f)) :+
        when(col("cs").isNull, col("value"))
          .otherwise(col("cs.corrupt_record")).as("corrupt_record"): _*)
  }

  /** The parsed rows: schema columns only, corrupt lines dropped. */
  def good(parsed: DataFrame): DataFrame =
    parsed.filter(col("corrupt_record").isNull).drop("corrupt_record")

  /** The quarantine channel: one row per malformed raw line. */
  def corrupt(parsed: DataFrame): DataFrame =
    parsed.filter(col("corrupt_record").isNotNull).select("corrupt_record")
}
