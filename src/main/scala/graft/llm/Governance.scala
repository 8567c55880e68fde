package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy-governance audits for training corpora — the release-gate
  * counterpart to [[TextStats]]' PII scrubbing: before a dataset with
  * demographic/provenance columns ships, every combination of
  * quasi-identifiers must be shared by enough rows that no individual is
  * re-identifiable (k-anonymity, Sweeney '02), and each such equivalence
  * class must carry enough distinct sensitive values that membership does
  * not leak the attribute (l-diversity, Machanavajjhala '07).
  *
  * Scale shape (100 TB): the report is ONE hash aggregate on the QI
  * columns (map-side combinable; `count_distinct` of the sensitive column
  * shuffles (QI, sensitive) pairs — still key-sized, never row-pair-sized).
  * Suppression joins the class verdict back on the same QI key — the same
  * shuffle partitioning reused, and the verdict side is class-count-sized,
  * so AQE broadcasts it when classes are few.
  */
object Governance {

  /** One row per quasi-identifier equivalence class: its size `n`, the
    * distinct sensitive-value count `n_sensitive` (0 columns → omitted),
    * and the `k_anonymous` / `l_diverse` verdicts.
    */
  def kAnonymityReport(df: DataFrame, qiCols: Seq[String], k: Int,
                       sensitiveCol: Option[String] = None, l: Int = 2): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymityReport needs at least one quasi-identifier column")
    require(k >= 1, s"k must be positive: $k")
    require(l >= 1, s"l must be positive: $l")
    val base = df.groupBy(qiCols.map(col): _*)
    sensitiveCol match {
      case Some(sc) =>
        base.agg(count(lit(1)).as("n"),
            countDistinct(col(sc)).as("n_sensitive"))
          .withColumn("k_anonymous", col("n") >= k)
          .withColumn("l_diverse", col("n_sensitive") >= l)
      case None =>
        base.agg(count(lit(1)).as("n"))
          .withColumn("k_anonymous", col("n") >= k)
    }
  }

  /** Order-independent table fingerprint: per `groupCols` class a COUNT, a
    * `bit_xor` of the per-row 64-bit fingerprint `fp`, and a mod-p
    * fingerprint sum. All three aggregates are commutative and map-side
    * combinable, so the whole check is ONE partial-aggregated shuffle on
    * the (tiny) group key — no sort, no row movement; two tables reconcile
    * by comparing k summary rows. xor catches any single-row difference;
    * the mod-p sum catches the xor-blind case (an even count of identical
    * corrupt rows).
    *
    * `fp` is caller-chosen so the cost/parity trade is explicit: the
    * engine-native `xxhash64(cols…)` is the 100-TB reconciliation default
    * (one codegen'd hash kernel, ~5x cheaper than md5 — PLANS.md round-10
    * probes, `checksumHash`), while an md5-derived fp buys bit-identical
    * fingerprints on any engine that has md5 (the s20 oracle-parity shape).
    */
  def tableFingerprint(df: DataFrame, groupCols: Seq[String], fp: Column): DataFrame =
    df.withColumn("__fp", fp.cast("long"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(__fp)").as("xor_sig"),
        (sum(pmod(col("__fp"), lit(1000000007L)).cast("decimal(38,0)")) % 1000000007L)
          .cast("long").as("sum_sig"))

  /** The minimal suppression release: keep only rows whose QI class has at
    * least `k` members. (Generalization — coarsening QI values until
    * classes merge — is the caller's domain knowledge; suppression is the
    * mechanical floor every release needs.)
    */
  def kAnonymize(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymize needs at least one quasi-identifier column")
    require(k >= 1, s"k must be positive: $k")
    val classes = df.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("ka_n"))
      .filter(col("ka_n") >= k).drop("ka_n")
    df.join(classes, qiCols, "left_semi")
  }
}
