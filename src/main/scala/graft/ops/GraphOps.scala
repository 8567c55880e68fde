package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
    * Output: (id, number), distinct; tagged triples (TripleOps.InPass2) add
    * `in_p2`: the vertex appears in a pass-2 triple.
    */
  def vertices(triples: DataFrame): DataFrame = {
    val tagged = TripleOps.isTagged(triples)
    val flag = if (tagged) Seq(col(TripleOps.InPass2)) else Nil
    val nodes = triples.select(explode(array(col("subject"), col("object"))).as("node") +: flag: _*)
    val vt = graft.functions.VTupleParse.vtuple(col("node"))
    val valid = nodes
      .select(Seq(vt.getField("id").as("id"), vt.getField("number").as("number"),
        vt.getField("isValidVertex").as("valid")) ++ flag: _*)
      .filter(col("valid"))
    if (tagged) valid.groupBy("id", "number").agg(max(col(TripleOps.InPass2)).as(TripleOps.InPass2))
    else valid.select("id", "number").distinct()
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
    *
    * Tagged triples (TripleOps.InPass2) add `attrs_p2`: the map built from
    * pass-2 triples in pass-2 provenance order, null where it equals `attrs`.
    */
  def vertexAttributes(triples: DataFrame, roTerms: DataFrame, lastWins: Boolean = false): DataFrame = {
    val passes = TripleOps.passes(triples)
    // each pass's values of one attribute, in that pass's provenance order
    val values = passes.map { p =>
      val vs = transform(sort_array(collect_list(p.only(struct(p.file, p.idx, col("value"))))), _.getField("value"))
      (if (lastWins) slice(vs, -1, 1) else vs).as("values" + p.suffix)
    }
    val entries = passes.map { p =>
      val vs = col("values" + p.suffix)
      sort_array(collect_list(when(size(vs) > 0, struct(col("attribute"), vs.as("values"))))).as("e" + p.suffix)
    }
    vertexLiterals(triples, roTerms).groupBy("id", "number", "attribute").agg(values.head, values.tail: _*)
      .groupBy("id", "number").agg(entries.head, entries.tail: _*)
      .select(col("id") +: col("number") +: map_from_entries(col("e")).as("attrs") +: passes.tail.map(p =>
        map_from_entries(TripleOps.pass2Delta(col("e"), col("e" + p.suffix))).as("attrs" + p.suffix)): _*)
  }

  /** Single-shuffle wide pivot with an EXPLICIT attribute list — the at-scale
    * variant (SURVEY §7.5): no second pass to discover attribute names, no
    * intermediate map, deterministic last-wins via max_by on provenance.
    * Unlisted attributes are dropped; use [[vertexAttributes]] for the
    * unbounded map representation.
    */
  def vertexAttributesWideDirect(triples: DataFrame, roTerms: DataFrame,
                                 attrNames: Seq[String]): DataFrame =
    vertexLiterals(triples, roTerms)
      .groupBy("id", "number")
      .pivot("attribute", attrNames)
      .agg(max_by(col("value"), struct(col("src_file"), col("stmt_idx"))))

  /** Literal triples of valid vertices, with the vertex's (id, number), the
    * resolved predicate label as `attribute` and the lexical form as `value`.
    */
  private def vertexLiterals(triples: DataFrame, roTerms: DataFrame): DataFrame = {
    val vt = graft.functions.VTupleParse.vtuple(col("subject"))
    val subj = triples.filter(col("obj_is_literal"))
      .withColumns(Map("id" -> vt.getField("id"), "number" -> vt.getField("number"),
        "__valid" -> vt.getField("isValidVertex")))
      .filter(col("__valid"))
    resolvePredicateLabels(subj, roTerms).withColumnsRenamed(Map("label" -> "attribute", "obj_lexical" -> "value"))
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

  /** Vertices with their attributes (an empty map where there are none):
    * the frame F8 routes. Tagged vertices keep `in_p2` and `attrs_p2`.
    */
  def route(verts: DataFrame, attrs: DataFrame): DataFrame =
    verts.join(attrs, Seq("id", "number"), "left")
      .withColumn("attrs", coalesce(col("attrs"), map()))

  /** One pass's routed frame as (kept, deprecated): F8 feeding S6 and S8. */
  def splitDeprecated(routed: DataFrame): (DataFrame, DataFrame) =
    (routed.filter(!isDeprecated), routed.filter(isDeprecated))

  /** [[route]] then [[splitDeprecated]]: one pass's (kept, deprecated). */
  def routeDeprecated(verts: DataFrame, attrs: DataFrame): (DataFrame, DataFrame) =
    splitDeprecated(route(verts, attrs))

  /** A3/A4/F6/J2: edges between valid vertices
    * (reference: OntologyGraphBuilder.java:338-407). Edge identity is
    * (from_id, from_number, to_id, to_number) — the predicate is NOT part of
    * the identity, so multiple predicates between one vertex pair collapse
    * (SURVEY §7.5). Output:
    * (from_id, from_number, to_id, to_number, labels array, label, source)
    * where `labels` is the ordered-distinct normalized label list (intended
    * semantics, OntologyGraphBuilderTest.java:378) and `label`/`source` are
    * the deterministic last-wins scalars (reference semantics).
    *
    * Tagged triples (TripleOps.InPass2) add `in_p2` and the four value
    * columns of pass 2's triples in pass-2 provenance order, as `_p2`.
    */
  def edges(triples: DataFrame, roTerms: DataFrame): DataFrame = {
    val tagged = TripleOps.isTagged(triples)
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
    val aggs = TripleOps.passes(triples).flatMap { p => Seq(
      sort_array(collect_list(p.only(struct(p.file.as("src_file"), p.idx.as("stmt_idx"),
        col("norm_label"), col("norm_source"))))).as("ord" + p.suffix),
      // A4 collects the RESOLVED label (post-RO-lookup, pre-normalization),
      // matching the reference's edgeLabels.add(parsePredicate(...))
      // (OntologyGraphBuilder.java:365-366).
      sort_array(collect_set(p.only(col("label")))).as("raw_labels" + p.suffix))
    }
    def passCols(suffix: String): Seq[(String, Column)] = {
      val ord = col("ord" + suffix)
      Seq("raw_labels" -> col("raw_labels" + suffix),
        "labels" -> array_distinct(transform(ord, _.getField("norm_label"))),
        "label" -> element_at(ord, -1).getField("norm_label"),
        "source" -> element_at(ord, -1).getField("norm_source"))
    }
    // element_at fails on an empty list: pass 2's columns are read only for its members
    val member = size(col("ord_p2")) > 0
    val pass2 = if (!tagged) Nil
      else member.as(TripleOps.InPass2) +: passCols("_p2").map { case (n, c) => when(member, c).as(n + "_p2") }
    val keys = Seq("from_id", "from_number", "to_id", "to_number").map(col)
    labeled.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      .select(keys ++ passCols("").map { case (n, c) => c.as(n) } ++ pass2: _*)
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
