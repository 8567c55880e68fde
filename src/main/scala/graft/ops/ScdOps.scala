package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (Type 2) history building: turn a stream of
  * versioned rows into effective-range records — the warehouse "upsert with
  * history" the vertex/edge sinks' last-wins merge (S8/S9) deliberately
  * discards. One shuffle on the key; everything else is two window passes.
  */
object ScdOps {

  /** Collapse consecutive no-op versions and emit effective ranges.
    *
    * Input: one row per (key, version seq) — `seq` must be unique per
    * key (a change sequence number, an event time) and totally orders the
    * key's versions. Output: the input's columns minus collapsed no-ops,
    * plus `valid_from` (the version's seq), `valid_to` (next retained
    * version's seq − 1, null while current) and `is_current`. A version
    * whose `attrCols` equal the previous retained version's is a NO-OP and
    * folds into the preceding range — re-stating an unchanged attribute
    * must not split history (the SCD2 contract; null attr values compare
    * null-safely, so null→null is a no-op while null→value is a change).
    *
    * Scale shape: windows partition by the dimension key — fine-grained,
    * millions of keys, version counts per key small; no global sort, no
    * driver state. The no-op filter runs BEFORE the range window, so the
    * second pass only touches retained versions.
    */
  def buildHistory(df: DataFrame, keyCol: String, attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "buildHistory: attrCols must be non-empty")
    val reserved = Seq("valid_from", "valid_to", "is_current", "__attrs", "__prev")
    require(!df.columns.exists(reserved.contains),
      s"buildHistory: input already has one of ${reserved.mkString(", ")}")
    val attrs: Column = struct(attrCols.map(col): _*)
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("seq"))
    val retained = df
      .withColumn("__prev", lag(attrs, 1).over(ord))
      // null-safe struct compare: first version (prev null) is always
      // retained; identical attr structs (incl. null fields) collapse
      .filter(!(col("__prev") <=> attrs))
      .drop("__prev")
    retained
      .withColumn("valid_from", col("seq"))
      .withColumn("valid_to", lead(col("seq"), 1).over(ord) - 1)
      .withColumn("is_current", col("valid_to").isNull)
  }
}
