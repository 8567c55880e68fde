package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization — the key-normalization step in front of URL-level
  * dedup (crawl pipelines dedup by canonical URL before any content pass:
  * it is free compared to shingling, and crawl frontiers revisit the same
  * page under dozens of surface forms).
  *
  * Whole chain is codegen'd built-ins (split/filter/sort on arrays, regexp
  * on scheme/host), no UDF, and every rule is replayable in ANSI-ish SQL —
  * the DuckDB oracle runs the identical normalization.
  *
  * Rules (deterministic, order-independent input → one canonical form):
  *  - scheme and host lowercased; path/query case preserved
  *  - fragment dropped
  *  - leading `www.` and default ports `:80`/`:443` dropped from the host
  *  - tracking params dropped (`utm_*`, `gclid`, `fbclid`, `ref`)
  *  - remaining query params SORTED (param order never distinguishes pages)
  *  - trailing slashes trimmed from the path
  */
object Urls {

  private val TrackingParam = "^(utm_[^=]*|gclid|fbclid|ref)(=.*)?$"

  def canonicalizeUrl(url: Column): Column = {
    val noFrag = substring_index(url, "#", 1)
    val scheme = lower(substring_index(noFrag, "://", 1))
    val hostPath = substring_index(noFrag, "://", -1)
    val hostPort = lower(substring_index(hostPath, "/", 1))
    val host = regexp_replace(regexp_replace(hostPort, "^www\\.", ""), ":(80|443)$", "")
    // everything after the first '/' ('' when the URL has no path)
    val pathQ = when(hostPath.contains("/"),
      hostPath.substr(instr(hostPath, "/") + 1, lit(Int.MaxValue))).otherwise("")
    val path = regexp_replace(substring_index(pathQ, "?", 1), "/+$", "")
    val query = when(pathQ.contains("?"),
      pathQ.substr(instr(pathQ, "?") + 1, lit(Int.MaxValue))).otherwise("")
    val params = array_sort(filter(split(query, "&"),
      p => !(p.rlike(TrackingParam) || p === "")))
    concat(scheme, lit("://"), host,
      when(path === "", "").otherwise(concat(lit("/"), path)),
      when(size(params) === 0, "")
        .otherwise(concat(lit("?"), array_join(params, "&"))))
  }

  /** Lowercased host (no scheme, port kept) of an absolute URL. */
  def hostOf(url: Column): Column =
    lower(substring_index(substring_index(substring_index(url, "#", 1), "://", -1), "/", 1))

  /** Path of an absolute URL including the leading '/', query/fragment
    * dropped; '/' when the URL has no path.
    */
  def pathOf(url: Column): Column = {
    val hostPath = substring_index(substring_index(url, "#", 1), "://", -1)
    val pathQ = when(hostPath.contains("/"),
      hostPath.substr(instr(hostPath, "/"), lit(Int.MaxValue))).otherwise("/")
    substring_index(pathQ, "?", 1)
  }

  /** Parse robots.txt bodies into wildcard-agent disallow rules — the
    * crawl-compliance half that [[graft.ops.Html.metaNoindex]]'s page-level
    * gate doesn't cover. Input: one row per (host, robots.txt text).
    * Output: (host, prefix) for every `Disallow:` under a `User-agent: *`
    * group (comments stripped, empty Disallow = allow-all and emits no
    * rule, other agents' groups ignored).
    *
    * The group-state scan ("which User-agent heading governs this line")
    * is columnar: lines explode with positions and a per-host
    * last-non-null window carries the current agent — robots files are KB,
    * so every window partition is file-sized, never corpus-sized.
    */
  def robotsDisallowRules(
      robots: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val lines = robots.select(lower(col("host")).as("host"),
        posexplode(split(coalesce(col("text"), lit("")), "\n")).as(Seq("ln", "raw")))
      .select(col("host"), col("ln"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("ln"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    lines
      .withColumn("agent",
        when(lower(col("line")).startsWith("user-agent:"),
          trim(regexp_extract(col("line"), "(?i)^user-agent:(.*)$", 1))))
      .withColumn("cur_agent", last(col("agent"), ignoreNulls = true).over(w))
      .filter(col("cur_agent") === "*" && lower(col("line")).startsWith("disallow:"))
      .select(col("host"),
        trim(regexp_extract(col("line"), "(?i)^disallow:(.*)$", 1)).as("prefix"))
      .filter(col("prefix") =!= "")
      .distinct()
  }

  /** Per-URL robots verdict: `allowed = no wildcard-agent disallow prefix
    * of the URL's host matches its path` (plain prefix match — the
    * original robots exclusion standard; `*`-pattern extensions are out of
    * scope). One equi-join on host (rules tables are host-cardinality —
    * broadcast at any corpus scale) + a per-URL aggregate.
    */
  def robotsVerdict(urls: org.apache.spark.sql.DataFrame,
                    rules: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val withParts = urls
      .withColumn("__host", hostOf(col("url")))
      .withColumn("__path", pathOf(col("url")))
    withParts
      .join(broadcast(rules.select(col("host").as("__host"), col("prefix"))),
        Seq("__host"), "left")
      .groupBy(withParts.columns.map(col).toIndexedSeq: _*)
      .agg(coalesce(max(when(col("__path").startsWith(col("prefix")), true)
          .otherwise(false)), lit(false)).as("disallowed"))
      .withColumn("allowed", !col("disallowed"))
      .drop("__host", "__path", "disallowed")
  }
}
