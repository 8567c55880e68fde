package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSON-Lines corpus reader with corrupt-record ROUTING — the other format
  * training pipelines actually ingest (alongside parquet and WARC): one
  * JSON object per line, schema enforced, malformed lines preserved on a
  * side channel instead of crashing the job or silently becoming all-null
  * rows.
  *
  * Formulation: a `text` scan + `from_json(value, schema)`. Deliberately
  * NOT `spark.read.json` with `columnNameOfCorruptRecord` — that reader's
  * internal corrupt column cannot be referenced without caching the whole
  * relation first (a documented Spark limitation), which at corpus scale
  * means an extra materialization. Here the corrupt line is an ordinary
  * column derived in the same single pass: `from_json` returns a NULL
  * struct for an unparseable line, so routing is one null check, fully
  * columnar, no second read, no cache.
  *
  * Scale shape (100 TB): newline-delimited JSON is SPLITTABLE — the text
  * source carves multi-GB files at line boundaries into ordinary splits
  * (multiline JSON arrays are not splittable and serialize the file
  * through one task). Schema is enforced at parse: fields missing from a
  * valid line are null, extra fields are dropped, type mismatches null the
  * field — while a structurally broken line lands whole in
  * `corrupt_record` for quarantine/repair, never lost.
  */
object JsonlReader {

  /** Read `path` as JSONL against `schema`. Output columns = the schema's
    * fields (possibly partially filled when the line is corrupt) plus
    * `corrupt_record` (the raw line when parsing failed, null otherwise).
    * Corruption is detected by the JSON parser itself (the
    * `columnNameOfCorruptRecord` channel threaded through `from_json`),
    * not by a null-struct check — PERMISSIVE parsing returns PARTIAL
    * results for a line that breaks midway, so "struct is null" misses
    * real corruption. Structural breakage AND schema-type mismatches both
    * land in quarantine; fields merely absent from a valid line are null,
    * extra fields are dropped. Blank lines are skipped per JSONL
    * convention; a line holding the bare JSON literal `null` carries no
    * object and is quarantined.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains("corrupt_record"),
      "schema may not contain the reserved column name corrupt_record")
    val withCorrupt = schema.add("corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .withColumn("js", from_json(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "corrupt_record")))
      .select(schema.fieldNames.toIndexedSeq.map(f => col(s"js.`$f`").as(f)) :+
        // a null struct cannot carry its corrupt field: fall back to the raw line
        when(col("js").isNull, col("value"))
          .otherwise(col("js.corrupt_record")).as("corrupt_record"): _*)
  }

  /** The parsed rows: schema columns only, corrupt lines dropped. */
  def good(parsed: DataFrame): DataFrame =
    parsed.filter(col("corrupt_record").isNull).drop("corrupt_record")

  /** The quarantine channel: one row per malformed raw line. */
  def corrupt(parsed: DataFrame): DataFrame =
    parsed.filter(col("corrupt_record").isNotNull).select("corrupt_record")
}
