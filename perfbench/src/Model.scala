package perfbench

import scala.collection.mutable

/** Expected output of one pipeline pass, derived from the generator's
  * statements with plain collections — the reference's HashSet/HashMap
  * semantics, written independently of the Spark code under test.
  */
final case class PassModel(
    /** Kept vertices: (id, number) -> attribute -> values in provenance order. */
    vertices: Map[(String, String), Map[String, Seq[String]]],
    /** Edges after the integrity check: (fromId, fromNum, toId, toNum) -> last label. */
    edges: Map[(String, String, String, String), String],
    deprecated: Set[String],
    edgeLabels: Set[String],
    collected: Long,
    unique: Long)

final case class Model(pass1: PassModel, pass2: PassModel) {
  /** Directed 2-hop reach from `source` ("CL_0000123") over pass-1 edges:
    * vertex -> hop level.
    */
  def reach(source: String, maxHops: Int): Map[String, Int] = {
    val levels = mutable.LinkedHashMap(source -> 0)
    var frontier = Set(source)
    var h = 0
    while (h < maxHops && frontier.nonEmpty) {
      h += 1
      frontier = frontier.flatMap(v => adjacency.getOrElse(v, Nil)).filterNot(levels.contains)
      frontier.foreach(v => levels(v) = h)
    }
    levels.toMap
  }

  lazy val adjacency: Map[String, Seq[String]] =
    pass1.edges.keys.toSeq.groupBy(e => e._1 + "_" + e._2).map { case (k, es) => k -> es.map(e => e._3 + "_" + e._4) }
}

object Model {
  val ValidIds: Set[String] = Set("BGS", "BMC", "CHEBI", "CHEMBL", "CL", "CS", "CSD",
    "GO", "GS", "HP", "HsapDv", "MONDO", "NCBITaxon", "NCT", "Orphanet", "PATO", "PR",
    "PUB", "RS", "UBERON")
  private val Whitelist = Seq("http://www.w3.org/2000/01/rdf-schema#", "http://purl.obolibrary.org/obo/",
    "http://purl.org/dc/", "http://www.geneontology.org/formats/oboInOwl#")
  val RootNs: String = Corpus.Obo + "CL"
  private val LabelCases = Map("subClassOf" -> "SUB_CLASS_OF")

  /** (id, number) of a graph-vertex URI; None for literals, blanks and
    * URIs outside the vertex whitelist.
    */
  def vertexOf(uri: String): Option[(String, String)] = {
    if (uri.startsWith("_:") || uri.startsWith("\"")) return None
    val term = uri.substring(uri.lastIndexOf('/') + 1)
    val parts = term.split("_", -1)
    if (parts.length == 2 && ValidIds.contains(parts(0))) Some((parts(0), parts(1))) else None
  }

  def predicateLabel(pred: String, ro: Map[String, String]): String = {
    val h = pred.indexOf('#')
    if (h >= 0) pred.substring(h + 1)
    else { val raw = pred.substring(pred.lastIndexOf('/') + 1); ro.getOrElse(raw, raw) }
  }

  def normLabel(l: String): String = LabelCases.getOrElse(l, l.toUpperCase.replace(" ", "_"))

  private final case class Triple(s: String, p: String, o: String, kind: Int, lex: String)

  def apply(corpus: Corpus): Model = {
    val byFile = corpus.stmts.groupBy(_.file)
    val ro = byFile.getOrElse("ro.owl", Nil)
      .filter(s => s.p == Corpus.Label).map(s => s.s.substring(s.s.lastIndexOf('/') + 1) -> s.lex).toMap
    val data = byFile.keys.filter(_ != "ro.owl").toSeq.sorted
    Model(pass(data, byFile, ro, testObject = false),
      pass(data.filter(_ == Corpus.PhenotypeFile), byFile, ro, testObject = true))
  }

  private def pass(files: Seq[String], byFile: Map[String, Seq[Stmt]], ro: Map[String, String],
                   testObject: Boolean): PassModel = {
    // provenance (file, idx) per unique triple: the minimum wins
    val unique = mutable.HashMap.empty[(String, String, String), (String, Long, Triple)]
    var collected = 0L
    def add(file: String, idx: Long, t: Triple): Unit = {
      collected += 1
      val k = (t.s, t.p, t.o)
      unique.get(k) match {
        case Some((f, i, _)) if f < file || (f == file && i <= idx) =>
        case _ => unique(k) = (file, idx, t)
      }
    }
    def objectOk(t: Triple): Boolean = !testObject || t.kind != 0 || t.o.contains(RootNs)
    files.foreach { file =>
      val stmts = byFile(file)
      val classes = stmts.filter(s => s.p == Corpus.RdfType && s.o == Corpus.Owl + "Class" &&
        !s.s.startsWith("_:") && s.s.startsWith(RootNs)).map(_.s).toSet
      val lastAbout = mutable.HashMap.empty[(String, String), Stmt]
      stmts.foreach(s => if (s.s.startsWith("_:")) lastAbout((s.s, s.p)) = s) // idx ascends
      stmts.foreach { s =>
        if (classes.contains(s.s) && s.s.contains(RootNs)) {
          if (s.kind != 2 && Whitelist.exists(s.p.startsWith)) {
            val t = Triple(s.s, s.p, s.o, s.kind, s.lex)
            if (objectOk(t)) add(file, s.idx, t)
          } else if (s.kind == 2 && s.p == Corpus.SubClassOf) {
            for (p <- lastAbout.get((s.o, Corpus.Owl + "onProperty"));
                 v <- lastAbout.get((s.o, Corpus.Owl + "someValuesFrom"))) {
              val t = Triple(s.s, p.o, v.o, v.kind, v.lex)
              if (objectOk(t)) add(file, v.idx + 1000000000L, t)
            }
          }
        }
      }
    }

    val ordered = unique.values.toSeq.sortBy { case (f, i, _) => (f, i) }
    val verts = mutable.LinkedHashSet.empty[(String, String)]
    ordered.foreach { case (_, _, t) => vertexOf(t.s).foreach(verts += _); vertexOf(t.o).foreach(verts += _) }
    val attrs = mutable.HashMap.empty[(String, String), mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]]
    ordered.foreach { case (_, _, t) =>
      if (t.kind == 1) vertexOf(t.s).foreach { v =>
        attrs.getOrElseUpdate(v, mutable.LinkedHashMap.empty)
          .getOrElseUpdate(predicateLabel(t.p, ro), mutable.ArrayBuffer.empty) += t.lex
      }
    }
    def isDeprecated(v: (String, String)): Boolean = attrs.get(v).exists { a =>
      a.get("deprecated").exists(_.exists(_.contains("true"))) || a.get("label").exists(_.exists(_.contains("obsolete")))
    }
    val (dep, kept) = verts.toSeq.partition(isDeprecated)
    val keptSet = kept.toSet
    val edges = mutable.HashMap.empty[(String, String, String, String), String]
    val rawLabels = mutable.HashSet.empty[String]
    ordered.foreach { case (_, _, t) => // ascending provenance: the last write is the last-wins label
      for (f <- vertexOf(t.s); o <- vertexOf(t.o)) {
        val l = predicateLabel(t.p, ro)
        rawLabels += l
        edges((f._1, f._2, o._1, o._2)) = normLabel(l)
      }
    }
    PassModel(
      kept.map(v => v -> attrs.get(v).map(_.map { case (k, vs) => k -> vs.toSeq }.toMap).getOrElse(Map.empty)).toMap,
      edges.filter { case (k, _) => keptSet.contains((k._1, k._2)) && keptSet.contains((k._3, k._4)) }.toMap,
      dep.map { case (i, n) => s"${i}_$n" }.toSet,
      rawLabels.map(l => s"$l: ${normLabel(l)}").toSet,
      collected, unique.size.toLong)
  }
}
