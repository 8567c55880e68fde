package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded generator of a CL-shaped RDF/XML corpus.
  *
  * The corpus is `classes` CL classes spread round-robin over `files`
  * ontology files (`cl.owl`, `cl_p2.owl`, ...) plus an `ro.owl` label
  * dictionary. Alongside the bytes it records every statement the RDF/XML
  * parser must emit, in document order, so [[Model]] can derive the expected
  * store without reading the program's output.
  *
  * The workloads vary only `classes` and `files`; the shape of each class
  * is fixed by the constants in [[Corpus]].
  */
final case class CorpusConfig(classes: Int, files: Int) {
  require(classes >= 2 && files >= 1)
}

/** One raw statement as the RDF/XML parser emits it. `kind`: 0 URI object,
  * 1 literal object, 2 blank-node object.
  */
final case class Stmt(file: String, idx: Long, s: String, p: String, o: String, kind: Int, lex: String)

final case class Corpus(fileBytes: Seq[(String, Array[Byte])], stmts: Seq[Stmt]) {
  def inputBytes: Long = fileBytes.map(_._2.length.toLong).sum
  def rawStatements: Int = stmts.size
  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    fileBytes.foreach { case (name, bytes) => Files.write(dir.resolve(name), bytes) }
  }
}

object Corpus {
  val Obo = "http://purl.obolibrary.org/obo/"
  val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val Rdfs = "http://www.w3.org/2000/01/rdf-schema#"
  val Owl = "http://www.w3.org/2002/07/owl#"
  val OboInOwl = "http://www.geneontology.org/formats/oboInOwl#"
  val RdfType = Rdf + "type"
  val SubClassOf = Rdfs + "subClassOf"
  val Label = Rdfs + "label"
  val Synonym = OboInOwl + "hasExactSynonym"

  /** Relations used in restrictions, with their RO labels. */
  val Relations: Seq[(String, String)] = Seq(
    "RO_0002202" -> "develops from",
    "RO_0002215" -> "capable of",
    "RO_0002175" -> "present in taxon",
    "BFO_0000050" -> "part of",
    "RO_0002292" -> "expresses")

  val PhenotypeFile = "cl.owl"

  // Shape of the corpus. These values are assumed, not measured: no CL
  // release statistics are at hand (the one CL excerpt in the test
  // resources has 7 classes), so they are chosen to exercise each code
  // path, not to match a real release.
  /** Share of classes that get an import stub (label, id and first parent
    * repeated verbatim) in one other file, so that share of triples repeats
    * across files and cross-file dedup has work.
    */
  val StubShare = 0.30
  /** Share of classes with `owl:someValuesFrom` restrictions (the
    * blank-node flattening join).
    */
  val RestrictionShare = 0.45
  /** Share of classes whose label starts with "obsolete" (routed to the
    * deprecated sink, their edges dropped by RI).
    */
  val ObsoleteShare = 0.03
  /** Share of labels and synonyms carrying `xml:lang`. */
  val LangShare = 0.6
  /** Exponent of the parent choice: parents of class i are drawn as
    * floor(i * u^HubSkew), so low-numbered classes become hubs.
    */
  val HubSkew = 3.0

  def fileNames(files: Int): Seq[String] =
    PhenotypeFile +: (2 to files).map(k => s"cl_p$k.owl")

  def classUri(i: Int): String = f"${Obo}CL_$i%07d"

  private val Header =
    """<?xml version="1.0"?>
      |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      |         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
      |         xmlns:owl="http://www.w3.org/2002/07/owl#"
      |         xmlns:obo="http://purl.obolibrary.org/obo/"
      |         xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#"
      |         xmlns:dc="http://purl.org/dc/elements/1.1/">
      |""".stripMargin

  /** Writes one RDF/XML file and records the statements its parse yields. */
  private final class FileOut(val name: String) {
    val sb = new java.lang.StringBuilder(1 << 16)
    val stmts = mutable.ArrayBuffer.empty[Stmt]
    private var idx = 0L
    private var blanks = 0
    sb.append(Header)

    private def emit(s: String, p: String, o: String, kind: Int, lex: String): Unit = {
      stmts += Stmt(name, idx, s, p, o, kind, lex); idx += 1
    }
    def node(tag: String, tagUri: String, about: String): Unit = {
      sb.append("  <").append(tag).append(" rdf:about=\"").append(about).append("\">\n")
      emit(about, RdfType, tagUri, 0, null)
    }
    def end(tag: String): Unit = sb.append("  </").append(tag).append(">\n")
    def resource(s: String, qname: String, pred: String, obj: String): Unit = {
      sb.append("    <").append(qname).append(" rdf:resource=\"").append(obj).append("\"/>\n")
      emit(s, pred, obj, 0, null)
    }
    def literal(s: String, qname: String, pred: String, lex: String, lang: String): Unit = {
      sb.append("    <").append(qname)
      if (lang != null) sb.append(" xml:lang=\"").append(lang).append('"')
      sb.append('>').append(lex).append("</").append(qname).append(">\n")
      val rendered = if (lang != null) "\"" + lex + "\"@" + lang else "\"" + lex + "\""
      emit(s, pred, rendered, 1, lex)
    }
    /** `rdfs:subClassOf [ owl:Restriction; onProperty p; someValuesFrom t ]`:
      * the parser emits the restriction's own statements before the edge
      * that points at it.
      */
    def restriction(s: String, prop: String, target: String): Unit = {
      blanks += 1
      val b = s"_:$name#b$blanks"
      sb.append("    <rdfs:subClassOf>\n      <owl:Restriction>\n")
        .append("        <owl:onProperty rdf:resource=\"").append(prop).append("\"/>\n")
        .append("        <owl:someValuesFrom rdf:resource=\"").append(target).append("\"/>\n")
        .append("      </owl:Restriction>\n    </rdfs:subClassOf>\n")
      emit(b, RdfType, Owl + "Restriction", 0, null)
      emit(b, Owl + "onProperty", prop, 0, null)
      emit(b, Owl + "someValuesFrom", target, 0, null)
      emit(s, SubClassOf, b, 2, null)
    }
    def bytes: Array[Byte] = { sb.append("</rdf:RDF>\n"); sb.toString.getBytes(UTF_8) }
  }

  /** Pseudo-words of 2–4 consonant-vowel syllables; none can spell
    * "obsolete" (every word starts with a consonant).
    */
  def vocabulary(rng: java.util.Random, size: Int): IndexedSeq[String] = {
    val cons = "bdfgklmnprstvz"; val vows = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val syl = 2 + rng.nextInt(3)
      val w = new StringBuilder
      (0 until syl).foreach { _ =>
        w.append(cons.charAt(rng.nextInt(cons.length))).append(vows.charAt(rng.nextInt(vows.length)))
      }
      seen += w.toString
    }
    seen.toIndexedSeq
  }

  /** Class definition, shared by the generator and the search-query pool. */
  final case class ClassSpec(i: Int, home: Int, label: String, labelLang: String,
                             parents: Seq[Int], restrictions: Seq[(String, String)],
                             definition: String, xrefs: Seq[String],
                             synonyms: Seq[(String, String)], stubIn: Int)

  /** The per-class counts drawn here (parents, restrictions, xrefs,
    * synonyms, definition length) are assumed like the shares above.
    */
  def generate(seed: Long, cfg: CorpusConfig): (Corpus, IndexedSeq[ClassSpec]) = {
    val rng = new java.util.Random(seed)
    val vocab = vocabulary(rng, 4000)
    // squared draw: a few words are frequent, most are rare
    def word(): String = vocab((vocab.size * math.pow(rng.nextDouble(), 2.0)).toInt)
    def words(n: Int): String = (0 until n).map(_ => word()).mkString(" ")
    def lang(): String = if (rng.nextDouble() < LangShare) "en" else null
    val names = fileNames(cfg.files)

    val specs = (0 until cfg.classes).map { i =>
      val home = i % cfg.files
      val obsolete = i > 0 && rng.nextDouble() < ObsoleteShare
      val base = if (i == 0) "cell" else words(2 + rng.nextInt(2)) + " cell"
      val label = if (obsolete) "obsolete " + base else base
      val nParents = if (i == 0) 0 else 1 + (if (rng.nextDouble() < 0.4) 1 else 0) + (if (rng.nextDouble() < 0.1) 1 else 0)
      val parents = mutable.LinkedHashSet.empty[Int]
      while (parents.size < math.min(nParents, i))
        parents += (i * math.pow(rng.nextDouble(), HubSkew)).toInt
      val restrictions =
        if (i > 0 && rng.nextDouble() < RestrictionShare)
          (0 until 1 + rng.nextInt(2)).map { _ =>
            val (rel, _) = Relations(rng.nextInt(Relations.size))
            val target = rng.nextInt(4) match {
              case 0 => classUri(rng.nextInt(i))
              case 1 => f"${Obo}GO_${rng.nextInt(50000)}%07d"
              case 2 => f"${Obo}UBERON_${rng.nextInt(20000)}%07d"
              case _ => Obo + "NCBITaxon_9606"
            }
            (Obo + rel, target)
          }.distinct
        else Nil
      val definition = "A " + words(6 + rng.nextInt(10)) + "."
      val xrefs = (0 until rng.nextInt(4)).map(_ => s"FMA:${rng.nextInt(100000)}").distinct
      val synonyms = (0 until rng.nextInt(3)).map { _ =>
        val l = if (rng.nextDouble() < LangShare) (if (rng.nextInt(4) == 0) "fr" else "en") else null
        (words(1 + rng.nextInt(3)), l)
      }.distinct
      val stubIn =
        if (cfg.files > 1 && rng.nextDouble() < StubShare) (home + 1 + rng.nextInt(cfg.files - 1)) % cfg.files
        else -1
      ClassSpec(i, home, label, lang(), parents.toSeq, restrictions, definition, xrefs, synonyms, stubIn)
    }

    val outs = names.map(n => new FileOut(n))
    outs.foreach { f =>
      val onto = Obo + f.name
      f.node("owl:Ontology", Owl + "Ontology", onto)
      f.resource(onto, "obo:IAO_0000700", Obo + "IAO_0000700", classUri(0))
      f.end("owl:Ontology")
    }
    specs.foreach { c =>
      val f = outs(c.home); val u = classUri(c.i)
      f.node("owl:Class", Owl + "Class", u)
      c.parents.foreach(p => f.resource(u, "rdfs:subClassOf", SubClassOf, classUri(p)))
      c.restrictions.foreach { case (rel, t) => f.restriction(u, rel, t) }
      f.literal(u, "obo:IAO_0000115", Obo + "IAO_0000115", c.definition, "en")
      c.xrefs.foreach(x => f.literal(u, "oboInOwl:hasDbXref", OboInOwl + "hasDbXref", x, null))
      c.synonyms.foreach { case (s, l) => f.literal(u, "oboInOwl:hasExactSynonym", Synonym, s, l) }
      f.literal(u, "oboInOwl:id", OboInOwl + "id", f"CL:${c.i}%07d", null)
      f.literal(u, "rdfs:label", Label, c.label, c.labelLang)
      f.end("owl:Class")
      if (c.stubIn >= 0) {
        // import stub: the same label, id and first parent, verbatim
        val g = outs(c.stubIn)
        g.node("owl:Class", Owl + "Class", u)
        c.parents.headOption.foreach(p => g.resource(u, "rdfs:subClassOf", SubClassOf, classUri(p)))
        g.literal(u, "oboInOwl:id", OboInOwl + "id", f"CL:${c.i}%07d", null)
        g.literal(u, "rdfs:label", Label, c.label, c.labelLang)
        g.end("owl:Class")
      }
    }

    val ro = new FileOut("ro.owl")
    ro.node("owl:Ontology", Owl + "Ontology", Obo + "ro.owl")
    ro.end("owl:Ontology")
    (Relations :+ ("IAO_0000115" -> "definition")).foreach { case (t, l) =>
      val tag = if (t.startsWith("IAO")) "owl:AnnotationProperty" else "owl:ObjectProperty"
      ro.node(tag, Owl + tag.stripPrefix("owl:"), Obo + t)
      ro.literal(Obo + t, "rdfs:label", Label, l, null)
      ro.end(tag)
    }

    val all = outs :+ ro
    val corpus = Corpus(all.map(f => f.name -> f.bytes), all.flatMap(_.stmts))
    (corpus, specs)
  }
}
