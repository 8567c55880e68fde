package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Property-graph construction from the unique triple set (SURVEY.md §2.3 J2,
  * J3; §2.4 A2-A4; §2.2 F5, F6, F8; §1.3 identity model).
  *
  * The reference builds the graph in driver-side HashMaps
  * (OntologyGraphBuilder.java:141-484); here vertices and edges are DataFrames
  * whose identity rules are enforced by groupBy/distinct (shuffle on the
  * graph keys) and whose dictionary lookups are broadcast joins. At 100 TB
  * the shuffles partition by (id, number) / (from, to) keys — uniform except
  * for upper-ontology hub terms, which AQE skew-join handles (SURVEY §7.5).
  */
object GraphOps {

  /** J2: predicate URI → human label. Fragment if present (never dictionary-
    * resolved); otherwise last path segment, resolved through the RO term
    * dictionary when present (reference: OntologyGraphBuilder.java:111-129).
    * `roTerms` columns: term, label — a tiny dimension, always broadcast.
    * Adds `raw_label` and `label` to `df` based on `predCol`.
    */
  def resolvePredicateLabels(df: DataFrame, roTerms: DataFrame, predCol: String = "predicate"): DataFrame = {
    val pred = UriOps.rewriteUriCol(col(predCol))
    val hasFrag = pred.contains("#")
    val withRaw = df
      .withColumn("raw_label", UriOps.rawPredicateLabelCol(pred))
      .withColumn("__has_frag", hasFrag)
    val dict = roTerms.select(col("term").as("__ro_term"), col("label").as("__ro_label"))
    withRaw
      .join(broadcast(dict), withRaw("raw_label") === col("__ro_term"), "left")
      .withColumn("label",
        when(!col("__has_frag") && col("__ro_label").isNotNull, col("__ro_label"))
          .otherwise(col("raw_label")))
      .drop("__ro_term", "__ro_label", "__has_frag")
  }

  /** A2/U2: vertex identities — every valid (id, number) appearing as subject
    * or object of any triple (reference: OntologyGraphBuilder.java:141-185).
    * Output: (id, number), distinct.
    */
  def vertices(triples: DataFrame): DataFrame = {
    val nodes = triples.select(explode(array(col("subject"), col("object"))).as("node"))
    val vt = graft.functions.VTupleParse.vtuple(col("node"))
    nodes
      .select(vt.getField("id").as("id"), vt.getField("number").as("number"),
        vt.getField("isValidVertex").as("valid"))
      .filter(col("valid"))
      .select("id", "number")
      .distinct()
  }

  /** U1/F5/F6: vertex attributes from literal-object triples
    * (reference: OntologyGraphBuilder.java:194-233). Returns the scalable
    * map-typed representation — one row per vertex:
    * (id, number, attrs: map<string, array<string>>) with each attribute's
    * values ordered by (src_file, stmt_idx).
    *
    * `lastWins=true` reproduces the reference's single-value semantics
    * (deterministically: LAST by (src_file, stmt_idx) — the reference's
    * HashSet order is nondeterministic, SURVEY §7.5); `lastWins=false` keeps
    * the full value list (the integration test's intended semantics,
    * OntologyGraphBuilderTest.java:364).
    */
  def vertexAttributes(triples: DataFrame, roTerms: DataFrame, lastWins: Boolean = false): DataFrame = {
    val lits = triples.filter(col("obj_is_literal"))
    val vt = graft.functions.VTupleParse.vtuple(col("subject"))
    val subj = lits
      .withColumn("id", vt.getField("id"))
      .withColumn("number", vt.getField("number"))
      .withColumn("__valid", vt.getField("isValidVertex"))
      .filter(col("__valid"))
    val labeled = resolvePredicateLabels(subj, roTerms)
      .select(col("id"), col("number"), col("label").as("attribute"),
        col("obj_lexical").as("value"), col("src_file"), col("stmt_idx"))
    val perAttr = labeled
      .groupBy("id", "number", "attribute")
      .agg(sort_array(collect_list(struct(col("src_file"), col("stmt_idx"), col("value")))).as("ord"))
      .withColumn("values",
        if (lastWins) slice(transform(col("ord"), _.getField("value")), -1, 1)
        else transform(col("ord"), _.getField("value")))
      .drop("ord")
    perAttr
      .groupBy("id", "number")
      .agg(map_from_entries(sort_array(collect_list(struct(col("attribute"), col("values"))))).as("attrs"))
  }

  /** Single-shuffle wide pivot with an EXPLICIT attribute list — the at-scale
    * variant (SURVEY §7.5): no second pass to discover attribute names, no
    * intermediate map, deterministic last-wins via max_by on provenance.
    * Unlisted attributes are dropped; use [[vertexAttributes]] for the
    * unbounded map representation.
    */
  def vertexAttributesWideDirect(triples: DataFrame, roTerms: DataFrame,
                                 attrNames: Seq[String]): DataFrame = {
    val lits = triples.filter(col("obj_is_literal"))
    val vt = graft.functions.VTupleParse.vtuple(col("subject"))
    val subj = lits
      .withColumn("id", vt.getField("id"))
      .withColumn("number", vt.getField("number"))
      .withColumn("__valid", vt.getField("isValidVertex"))
      .filter(col("__valid"))
    resolvePredicateLabels(subj, roTerms)
      .select(col("id"), col("number"), col("label").as("attribute"),
        col("obj_lexical").as("value"), col("src_file"), col("stmt_idx"))
      .groupBy("id", "number")
      .pivot("attribute", attrNames)
      .agg(max_by(col("value"), struct(col("src_file"), col("stmt_idx"))))
  }

  /** F8: deprecated-vertex predicate over the attrs map
    * (reference: OntologyGraphBuilder.java:254-261): any `deprecated` value
    * containing "true" or any `label` value containing "obsolete".
    */
  def isDeprecated: org.apache.spark.sql.Column = {
    val dep = exists(coalesce(col("attrs")("deprecated"), array()), _.contains("true"))
    val obs = exists(coalesce(col("attrs")("label"), array()), _.contains("obsolete"))
    dep || obs
  }

  /** Vertices with attributes, split into (kept, deprecated) — the routed
    * filter F8 feeding the S6 text sink and the S8 graph sink.
    */
  def routeDeprecated(verts: DataFrame, attrs: DataFrame): (DataFrame, DataFrame) = {
    val joined = verts.join(attrs, Seq("id", "number"), "left")
      .withColumn("attrs", coalesce(col("attrs"), map()))
    val kept = joined.filter(!isDeprecated)
    val deprecated = joined.filter(isDeprecated)
    (kept, deprecated)
  }

  /** A3/A4/F6/J2: edges between valid vertices
    * (reference: OntologyGraphBuilder.java:338-407). Edge identity is
    * (from_id, from_number, to_id, to_number) — the predicate is NOT part of
    * the identity, so multiple predicates between one vertex pair collapse
    * (SURVEY §7.5). Output:
    * (from_id, from_number, to_id, to_number, labels array, label, source)
    * where `labels` is the ordered-distinct normalized label list (intended
    * semantics, OntologyGraphBuilderTest.java:378) and `label`/`source` are
    * the deterministic last-wins scalars (reference semantics).
    */
  def edges(triples: DataFrame, roTerms: DataFrame): DataFrame = {
    val sv = graft.functions.VTupleParse.vtuple(col("subject"))
    val ov = graft.functions.VTupleParse.vtuple(col("object"))
    val both = triples
      .withColumn("from_id", sv.getField("id"))
      .withColumn("from_number", sv.getField("number"))
      .withColumn("__fv", sv.getField("isValidVertex"))
      .withColumn("to_id", ov.getField("id"))
      .withColumn("to_number", ov.getField("number"))
      .withColumn("__tv", ov.getField("isValidVertex"))
      .filter(col("__fv") && col("__tv"))
    val labeled = resolvePredicateLabels(both, roTerms)
      .withColumn("norm_label", Normalize.normalizeEdgeLabel(col("label")))
      .withColumn("norm_source", Normalize.normalizeEdgeSource(col("from_id")))
    labeled
      .groupBy("from_id", "from_number", "to_id", "to_number")
      .agg(
        sort_array(collect_list(struct(col("src_file"), col("stmt_idx"), col("norm_label"), col("norm_source")))).as("ord"),
        // A4 collects the RESOLVED label (post-RO-lookup, pre-normalization),
        // matching the reference's edgeLabels.add(parsePredicate(...))
        // (OntologyGraphBuilder.java:365-366).
        sort_array(collect_set(col("label"))).as("raw_labels"))
      .withColumn("labels", array_distinct(transform(col("ord"), _.getField("norm_label"))))
      .withColumn("label", element_at(col("ord"), -1).getField("norm_label"))
      .withColumn("source", element_at(col("ord"), -1).getField("norm_source"))
      .drop("ord")
  }

  /** A4: distinct raw edge labels with normalization, for the S7 sink
    * (reference: OntologyGraphBuilder.java:556-562).
    */
  def edgeLabels(edges: DataFrame): DataFrame =
    edges.select(explode(col("raw_labels")).as("raw_label"))
      .distinct()
      .withColumn("normalized", Normalize.normalizeEdgeLabel(col("raw_label")))

  /** Snapshot diff between two builds of a collection — the
    * ontology-release comparison a graph-store user runs after the
    * download/rebuild cycle ("what changed between CL 2024-01 and
    * 2024-04"): one row per key present in either snapshot with
    * `change` ∈ added | removed | changed | unchanged and both value
    * tuples. Keys are `keyCols`; `valueCols` define equality (null-safe:
    * a null-to-value transition is `changed`, not a match).
    *
    * Scale shape: ONE full-outer co-partitioned equi-join on the key —
    * snapshots are same-generation tables so neither side broadcasts at
    * scale and AQE handles skewed keys; everything else is a map-side
    * projection. Filter `change != 'unchanged'` upstream of any sink to
    * ship only the delta.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff: keyCols must be non-empty")
    val o = oldSnap.select((keyCols ++ valueCols).map(col): _*)
      .withColumn("__in_old", lit(true))
      .withColumnsRenamed(valueCols.map(c => c -> s"old_$c").toMap)
    val n = newSnap.select((keyCols ++ valueCols).map(col): _*)
      .withColumn("__in_new", lit(true))
      .withColumnsRenamed(valueCols.map(c => c -> s"new_$c").toMap)
    // foldLeft, not reduce: an empty valueCols is a valid presence-only
    // diff (added/removed/unchanged; 'changed' unreachable by construction)
    val same = valueCols.map(c => col(s"old_$c") <=> col(s"new_$c"))
      .foldLeft(lit(true))(_ && _)
    o.join(n, keyCols, "full_outer")
      .withColumn("change",
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(same, "unchanged")
          .otherwise("changed"))
      .drop("__in_old", "__in_new")
  }

  /** J3: referential-integrity check — keep edges whose BOTH endpoints exist
    * in the kept vertex set (reference: OntologyGraphBuilder.java:463-466).
    * Two semi-joins; the vertex side is broadcast when small enough,
    * otherwise a co-partitioned shuffle join chosen by AQE.
    */
  def edgesWithIntegrity(edges: DataFrame, keptVertices: DataFrame): DataFrame = {
    val verts = keptVertices.select(col("id"), col("number"))
    edges
      .join(verts.withColumnsRenamed(Map("id" -> "from_id", "number" -> "from_number")),
        Seq("from_id", "from_number"), "left_semi")
      .join(verts.withColumnsRenamed(Map("id" -> "to_id", "number" -> "to_number")),
        Seq("to_id", "to_number"), "left_semi")
      .select(edges.columns.map(col).toIndexedSeq: _*) // using-joins reorder keys first; restore
  }
}
