package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.OwlReader

/** Triple-level relational pipeline (SURVEY.md §2.2 F1-F7, §2.3 J1, §2.4 A1,
  * §2.4 A8): raw parsed statements → the deduplicated, filtered triple set the
  * graph build consumes.
  *
  * The reference does all of this imperatively while iterating a Jena model
  * (OntologyTripleParser.java:62-171); here each step is a declarative
  * DataFrame transform so Catalyst pushes filters to the scan and AQE picks
  * join strategies. Narrow filters run before every join to shrink shuffle
  * input — the same ordering the reference hand-codes, but optimizer-visible.
  */
object TripleOps {

  /** Predicate-namespace whitelist (reference: OntologyTripleParser.java:37-40). */
  val PredicateNamespaces: Seq[String] = Seq(
    "http://www.w3.org/2000/01/rdf-schema#",
    "http://purl.obolibrary.org/obo/",
    "http://purl.org/dc/",
    "http://www.geneontology.org/formats/oboInOwl#")

  /** F2: predicate in one of the four whitelisted namespaces. */
  def predicateWhitelisted(predicate: Column): Column =
    PredicateNamespaces.map(ns => predicate.startsWith(ns)).reduce(_ || _)

  /** F3's phenotype-subgraph check (`testObject`, reference:
    * OntologyTripleParser.java:42-49) on collected rows: named objects must
    * also contain the root namespace; literal/blank objects always pass.
    */
  private def objectInRoot: Column = !col("obj_is_uri") || col("object").contains(col("root_ns"))

  /** Pass tagging. The phenotype pass (pass 2) sees a subset of the ontology
    * pass's (pass 1) rows, so both ride on one frame: pass 1's columns, the
    * flag [[InPass2]] and, for each column `c` whose pass-2 value can differ,
    * `c_p2` holding pass 2's value, or null where pass 1's value serves.
    * An untagged frame is the one-pass case.
    */
  val InPass2 = "in_p2"
  def isTagged(df: DataFrame): Boolean = df.columns.contains(InPass2)
  private[ops] def pass2Value(c: String): Column = coalesce(col(s"${c}_p2"), col(c))
  private[ops] def pass2Delta(pass1: Column, value: Column): Column = when(!(value <=> pass1), value)

  /** A pass of a tagged triple frame as aggregations see it: its column
    * suffix, a wrapper that nulls values outside its rows, its provenance.
    */
  private[ops] final case class Pass(suffix: String, only: Column => Column, file: Column, idx: Column)
  private[ops] def passes(unique: DataFrame): Seq[Pass] =
    Pass("", identity, col("src_file"), col("stmt_idx")) +: (if (!isTagged(unique)) Nil
      else Seq(Pass("_p2", when(col(InPass2), _), pass2Value("src_file"), pass2Value("stmt_idx"))))

  /** Pass 1 or 2 of a tagged frame, in the single-pass shape. */
  def passView(df: DataFrame, pass: Int): DataFrame = {
    val cols = df.columns.filterNot(c => c == InPass2 || c.endsWith("_p2")).toIndexedSeq
    if (pass == 1) df.select(cols.map(col): _*)
    else df.filter(col(InPass2)).select(cols.map(c =>
      if (df.columns.contains(s"${c}_p2")) pass2Value(c).as(c) else col(c)): _*)
  }

  /** A8 header: each file's root term, read off the parsed ontology header
    * (reference: OntologyTripleParser.java:130-150) — the first
    * `obo:IAO_0000700` URI object by `stmtIdx`, which the parser emits from
    * the `owl:Ontology` element; null when the file has none. One row per
    * file of `raw`, as (srcFile, root): the `meta` that [[rootNamespaces]]
    * and [[collectTriples]] read, without a second scan of the files.
    */
  def ontologyRoots(raw: DataFrame): DataFrame =
    raw.groupBy(col("srcFile"))
      .agg(min(when(col("predicate") === OwlReader.OntologyRoot && col("objIsUri"),
        struct(col("stmtIdx"), col("objectStr")))).as("first"))
      .select(col("srcFile"), col("first.objectStr").as("root"))

  /** A8: per-file root namespace (reference: OntologyTripleParser.java:130-150).
    * Primary: the ontology header's IAO_0000700 root term before '_'.
    * Fallback (taxslim has no IAO_0000700): derived from a class URI of the
    * file — the reference takes Jena's "first" class (iteration-order
    * dependent); we take the MIN class URI for determinism, which is
    * equivalent whenever all classes share one prefix (the only case the
    * fallback serves). Returns (src_file, root_ns).
    */
  def rootNamespaces(raw: DataFrame, meta: DataFrame): DataFrame = {
    val fromMeta = meta.select(
      col("srcFile").as("src_file"),
      when(col("root").isNotNull, substring_index(col("root"), "_", 1)).as("meta_root_ns"))
    val fromClasses = raw
      .filter(col("predicate") === OwlReader.RdfType && col("objectStr") === OwlReader.OwlClass)
      .filter(!col("subject").startsWith("_:"))
      .groupBy(col("srcFile").as("src_file"))
      .agg(min(col("subject")).as("first_class_uri"))
      .select(col("src_file"), substring_index(col("first_class_uri"), "_", 1).as("class_root_ns"))
    fromMeta
      .join(fromClasses, Seq("src_file"), "left")
      .select(col("src_file"), coalesce(col("meta_root_ns"), col("class_root_ns")).as("root_ns"))
  }

  /** F1 + F2 + F3 + F4 + J1: one file-set's statements → collected triples
    * (reference: OntologyTripleParser.java:62-121), before cross-file dedup.
    * `testObject` keeps only rows that pass [[objectInRoot]].
    *
    * Output schema: src_file, stmt_idx, subject, predicate, object,
    * obj_is_uri, obj_is_literal, obj_is_blank, obj_lexical, root_ns.
    */
  def collectTriples(raw: DataFrame, meta: DataFrame, testObject: Boolean): DataFrame = {
    val all = collectAll(raw, meta)
    if (testObject) all.filter(objectInRoot) else all
  }

  /** Pass 1's rows (`testObject = false`), tagged [[InPass2]] where the file
    * is one of `pass2Files` and the row passes [[objectInRoot]]: root
    * namespaces are per file, so those are pass 2's rows.
    */
  def collectPasses(raw: DataFrame, meta: DataFrame, pass2Files: Seq[String]): DataFrame =
    collectAll(raw, meta).withColumn(InPass2, col("src_file").isin(pass2Files: _*) && objectInRoot)

  private def collectAll(raw: DataFrame, meta: DataFrame): DataFrame = {
    val rootNs = rootNamespaces(raw, meta)

    // Statements with their file's root namespace attached (broadcast: one
    // row per file).
    val stmts = raw.join(broadcast(rootNs), raw("srcFile") === rootNs("src_file"))
      .drop("src_file")

    // F1: classes of each file in its root namespace — distinct named
    // subjects with an rdf:type owl:Class statement.
    val classes = stmts
      .filter(col("predicate") === OwlReader.RdfType && col("objectStr") === OwlReader.OwlClass)
      .filter(!col("subject").startsWith("_:") && col("subject").startsWith(col("root_ns")))
      .select(col("srcFile").as("c_file"), col("subject").as("c_subject"))
      .distinct()

    // Statements whose subject is such a class. Cheap narrow filters run
    // first; the semi-join shuffles only the survivors.
    def aboutClasses(df: DataFrame): DataFrame =
      df.join(classes,
        df("srcFile") === classes("c_file") && df("subject") === classes("c_subject"),
        "left_semi")

    // Branch 1 (F2+F4): named-object statements with whitelisted predicates.
    val named = aboutClasses(
      stmts.filter(!col("objIsBlank") && predicateWhitelisted(col("predicate"))))
      .filter(col("subject").contains(col("root_ns")))

    // Branch 2 (J1): anonymous-object rdfs:subClassOf statements flattened
    // through their owl:Restriction blank node. The reference requires BOTH
    // onProperty and someValuesFrom (inner joins), last-wins if repeated
    // (OntologyTripleParser.java:90-115).
    val restr = aboutClasses(
      stmts.filter(col("objIsBlank") && col("predicate") === OwlReader.SubClassOf))
      .select(col("srcFile").as("r_file"), col("subject").as("r_subject"),
        col("objectStr").as("r_blank"), col("root_ns").as("r_root_ns"))

    def lastStmtAbout(pred: String, prefix: String): DataFrame =
      raw.filter(col("predicate") === pred && col("subject").startsWith("_:"))
        .groupBy(col("srcFile").as(s"${prefix}_file"), col("subject").as(s"${prefix}_blank"))
        .agg(max(struct(col("stmtIdx"), col("objectStr"), col("objIsUri"), col("objIsLiteral"),
          col("objIsBlank"), col("objLexical"))).as(s"${prefix}_last"))

    val onProp = lastStmtAbout(OwlReader.OnProperty, "p")
    val someVal = lastStmtAbout(OwlReader.SomeValuesFrom, "v")

    val flattened = restr
      .join(onProp, col("r_file") === col("p_file") && col("r_blank") === col("p_blank"))
      .join(someVal, col("r_file") === col("v_file") && col("r_blank") === col("v_blank"))
      .select(
        col("r_file").as("srcFile"),
        // flattened statements order after all named ones in their file;
        // exact interleaving is unobservable (HashSet in the reference)
        (col("v_last.stmtIdx") + lit(1000000000L)).as("stmtIdx"),
        col("r_subject").as("subject"),
        col("p_last.objectStr").as("predicate"),
        col("v_last.objectStr").as("objectStr"),
        col("v_last.objIsUri").as("objIsUri"),
        col("v_last.objIsLiteral").as("objIsLiteral"),
        col("v_last.objIsBlank").as("objIsBlank"),
        col("v_last.objLexical").as("objLexical"),
        col("r_root_ns").as("root_ns"))
      .filter(col("subject").contains(col("root_ns")))

    val cols = Seq("srcFile", "stmtIdx", "subject", "predicate", "objectStr",
      "objIsUri", "objIsLiteral", "objIsBlank", "objLexical", "root_ns")
    named.select(cols.map(col): _*).union(flattened.select(cols.map(col): _*))
      .withColumnsRenamed(Map(
        "srcFile" -> "src_file", "stmtIdx" -> "stmt_idx", "objectStr" -> "object",
        "objIsUri" -> "obj_is_uri", "objIsLiteral" -> "obj_is_literal",
        "objIsBlank" -> "obj_is_blank", "objLexical" -> "obj_lexical"))
  }

  /** A1 + F7: cross-file dedup on (subject, predicate, object) — the
    * `HashSet<Triple>` of the reference (OntologyTripleParser.java:159-171),
    * keeping the earliest (src_file, stmt_idx) provenance so downstream
    * "last-wins" semantics are deterministic (SURVEY.md §7.5). `ro.owl` is
    * excluded as a label-dictionary-only file (F7), for callers that parse it
    * with the ontologies. Tagged rows also keep pass 2's earliest provenance;
    * the other winner columns are functions of the triple (or, as `root_ns`,
    * unread after dedup), so pass 1's serve both passes.
    */
  def uniqueTriples(collected: DataFrame): DataFrame = {
    val pass2 = if (!isTagged(collected)) Nil
      else Seq(min(when(col(InPass2), struct(col("src_file"), col("stmt_idx")))).as("w2"))
    val w2 = pass2Delta(struct(col("w.src_file"), col("w.stmt_idx")), col("w2"))
    collected
      .filter(col("src_file") =!= OwlReader.DictionaryFile)
      .groupBy(col("subject"), col("predicate"), col("object"))
      .agg(min(struct(
        col("src_file"), col("stmt_idx"), col("obj_is_uri"), col("obj_is_literal"),
        col("obj_is_blank"), col("obj_lexical"), col("root_ns"))).as("w"), pass2: _*)
      .select(Seq(col("subject"), col("predicate"), col("object"), col("w.*")) ++ (if (pass2.isEmpty) Nil
        else Seq(col("w2").isNotNull.as(InPass2), w2("src_file").as("src_file_p2"), w2("stmt_idx").as("stmt_idx_p2"))): _*)
  }
}
