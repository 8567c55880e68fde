package graft.io

import graft.model._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.io.ByteArrayInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable

/** OWL (RDF/XML) sources → relational DataFrames.
  *
  * Replaces the reference's two in-memory parses — Jena model load
  * (reference: OntologyTripleParser.java:68-69) and DOM element harvest
  * (reference: OntologyElementParser.java:52-68,97-127) — with a single-pass
  * StAX extraction that runs ON EXECUTORS: files are distributed via the
  * `binaryFile` source and each file is parsed inside a `flatMap`, so a
  * 1000-executor cluster parses 1000 ontologies concurrently. The parser is
  * deliberately dumb: it emits RAW triples (including rdf:type statements and
  * blank-node statements); all semantics (class filter, namespace whitelists,
  * restriction flattening) are applied relationally downstream
  * (graft.ops.TripleOps) where Catalyst can optimize them.
  *
  * Blank-node ids are file-scoped (`_:<file>#b<n>`) so the restriction
  * flattening self-join can never match across files (SURVEY.md §7.5).
  */
object OwlReader {

  val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val RdfType: String = RdfNs + "type"
  val OwlClass = "http://www.w3.org/2002/07/owl#Class"
  val SubClassOf = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
  val OnProperty = "http://www.w3.org/2002/07/owl#onProperty"
  val SomeValuesFrom = "http://www.w3.org/2002/07/owl#someValuesFrom"
  /** The ontology header's root-term annotation (SURVEY A8). */
  val OntologyRoot = "http://purl.obolibrary.org/obo/IAO_0000700"

  /** The relation-label dictionary: read for its term labels only, never a
    * triple source (reference: OntologyTripleParser.java:164, FIXTURES.md §2).
    */
  val DictionaryFile = "ro.owl"

  // ---------------------------------------------------------------- sources

  /** All raw triples from the OWL files in `dir` matching `pattern`
    * (reference directory scan: PathUtilities.java:24-30). Distributed:
    * one task per file via the binaryFile source.
    *
    * `permissive=true` routes unparseable files to a skip (logged on the
    * executor) instead of failing the job — at corpus scale one corrupt file
    * must not kill the run; pair with [[corruptFiles]] to audit what was
    * dropped. Default is fail-fast, matching the reference, and the failure
    * names the file (and, for an XML error, its line and column).
    */
  def triples(spark: SparkSession, paths: Seq[String], permissive: Boolean = false): Dataset[TripleRow] = {
    import spark.implicits._
    binaryFiles(spark, paths).flatMap { case (name, bytes) =>
      try parseTriples(name, bytes)
      catch {
        case e: Exception if permissive =>
          System.err.println(s"[OwlReader] skipping corrupt file $name: ${e.getMessage}")
          Seq.empty[TripleRow]
        case e: javax.xml.stream.XMLStreamException if e.getLocation != null =>
          val at = e.getLocation
          throw new java.io.IOException(
            s"cannot parse $name at line ${at.getLineNumber}, column ${at.getColumnNumber}: ${e.getMessage}", e)
        case e: Exception => throw new java.io.IOException(s"cannot parse $name: ${e.getMessage}", e)
      }
    }
  }

  /** Audit of unparseable files: (src_file, error). Empty when all parse. */
  def corruptFiles(spark: SparkSession, paths: Seq[String]): Dataset[(String, String)] = {
    import spark.implicits._
    binaryFiles(spark, paths).flatMap { case (name, bytes) =>
      try { parseTriples(name, bytes); None }
      catch { case e: Exception => Some((name, String.valueOf(e.getMessage))) }
    }
  }

  /** Harvested term dictionary rows (reference: OntologyElementParser.java:121-126). */
  def terms(spark: SparkSession, paths: Seq[String]): Dataset[TermRow] = {
    import spark.implicits._
    binaryFiles(spark, paths).flatMap { case (name, bytes) => parseElements(name, bytes)._1 }
  }

  /** One metadata row per file (reference: OntologyElementParser.java:146-184). */
  def meta(spark: SparkSession, paths: Seq[String]): Dataset[OntoMeta] = {
    import spark.implicits._
    binaryFiles(spark, paths).map { case (name, bytes) => parseElements(name, bytes)._3 }
  }

  /** StAX factory hardened for untrusted corpora: internal DTD entities keep
    * working (real OBO files declare `&obo;` etc.), but external entity and
    * external-DTD resolution are blocked — a DOCTYPE with a SYSTEM subset must
    * not trigger network fetches from executors — and entity expansion is
    * explicitly bounded rather than relying on JDK defaults.
    */
  private def secureInputFactory(): XMLInputFactory = {
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    factory.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.TRUE)
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    // property names vary across StAX implementations — best-effort set
    def trySet(name: String, value: AnyRef): Unit =
      try factory.setProperty(name, value) catch { case _: IllegalArgumentException => }
    trySet(javax.xml.XMLConstants.ACCESS_EXTERNAL_DTD, "")
    trySet("http://www.oracle.com/xml/jaxp/properties/entityExpansionLimit", Integer.valueOf(1000000))
    trySet("jdk.xml.entityExpansionLimit", Integer.valueOf(1000000))
    // belt-and-braces: some StAX implementations ignore ACCESS_EXTERNAL_DTD —
    // a resolver that returns an empty stream blocks every external fetch
    // (DOCTYPE SYSTEM subsets included) while internal entities keep working
    factory.setXMLResolver(new javax.xml.stream.XMLResolver {
      override def resolveEntity(publicID: String, systemID: String,
                                 baseURI: String, namespace: String): AnyRef =
        new ByteArrayInputStream(Array.emptyByteArray)
    })
    factory
  }

  private val XmlNs = "http://www.w3.org/XML/1998/namespace"

  /** xml:lang scoping: an explicit attribute overrides the inherited value;
    * the empty string resets to "no language" (XML 1.0 §2.12).
    */
  private def effLang(own: String, inherited: String): String =
    if (own == null) inherited else if (own.isEmpty) null else own

  private def binaryFiles(spark: SparkSession, paths: Seq[String]): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    spark.read
      .format("binaryFile")
      .load(paths: _*)
      .select(
        element_at(split(col("path"), "/"), -1).as("name"),
        col("content"))
      .as[(String, Array[Byte])]
  }

  /** List files in a directory matching a regex, like the reference's
    * `listFilesMatchingPattern` (PathUtilities.java:24-30). Driver-side
    * filesystem listing (an IO utility, not a relational op).
    */
  def listFilesMatchingPattern(dir: String, pattern: String): Seq[String] = {
    val p = java.util.regex.Pattern.compile(pattern)
    val d = new java.io.File(dir)
    if (!d.isDirectory) throw new java.io.IOException(s"Not a directory: $dir")
    d.listFiles().toSeq
      .filter(f => f.isFile && p.matcher(f.getName).matches())
      .map(_.getAbsolutePath)
      .sorted
  }

  // ------------------------------------------------------------- triple parse

  /** Parse one RDF/XML document into raw triples. Pure function, runs on
    * executors. Handles the RDF/XML constructs OBO ontologies use:
    * rdf:about / rdf:resource / rdf:nodeID / rdf:ID, typed node elements,
    * nested node elements (blank nodes, e.g. owl:Restriction), property
    * attributes, parseType=Resource/Collection/Literal, xml:lang and
    * rdf:datatype literals.
    */
  def parseTriples(fileName: String, bytes: Array[Byte]): Seq[TripleRow] = {
    val out = mutable.ArrayBuffer.empty[TripleRow]
    var stmtIdx = 0L
    var blankCtr = 0
    def freshBlank(): String = { blankCtr += 1; s"_:$fileName#b$blankCtr" }
    def emit(s: String, p: String, o: String, isUri: Boolean, isLit: Boolean, isBlank: Boolean,
             lex: String, lang: String, dt: String): Unit = {
      out += TripleRow(fileName, stmtIdx, s, p, o, isUri, isLit, isBlank, lex, lang, dt)
      stmtIdx += 1
    }
    def emitUri(s: String, p: String, o: String): Unit =
      emit(s, p, o, isUri = true, isLit = false, isBlank = false, null, null, null)
    def emitBlank(s: String, p: String, o: String): Unit =
      emit(s, p, o, isUri = false, isLit = false, isBlank = true, null, null, null)
    def emitLit(s: String, p: String, lex: String, lang: String, dt: String): Unit = {
      // objectStr mirrors Jena Node_Literal identity: lexical + lang + datatype
      val rendered =
        if (lang != null) "\"" + lex + "\"@" + lang
        else if (dt != null) "\"" + lex + "\"^^" + dt
        else "\"" + lex + "\""
      emit(s, p, rendered, isUri = false, isLit = true, isBlank = false, lex, lang, dt)
    }

    val r = secureInputFactory().createXMLStreamReader(new ByteArrayInputStream(bytes))

    def qnameUri(nsUri: String, local: String): String =
      if (nsUri == null) local else nsUri + local

    def rdfAttr(local: String): String = {
      var i = 0
      while (i < r.getAttributeCount) {
        if (r.getAttributeNamespace(i) == RdfNs && r.getAttributeLocalName(i) == local)
          return r.getAttributeValue(i)
        i += 1
      }
      null
    }
    def plainAttr(nsUri: String, local: String): String = r.getAttributeValue(nsUri, local)

    /** Parse a node element (subject position). Reader is ON its START_ELEMENT;
      * consumes through its END_ELEMENT. Returns the node's id (URI or blank).
      * `inheritedLang` is the in-scope xml:lang from ancestor elements
      * (RDF/XML inherits xml:lang; Jena applies the nearest ancestor value).
      */
    def parseNodeElement(inheritedLang: String): (String, Boolean) = { // (id, isBlank)
      val tagUri = qnameUri(r.getNamespaceURI, r.getLocalName)
      val nodeLang = effLang(plainAttr(XmlNs, "lang"), inheritedLang)
      val about = rdfAttr("about")
      val nodeId = rdfAttr("nodeID")
      val rdfId = rdfAttr("ID")
      val (subj, subjBlank) =
        if (about != null) (about, false)
        else if (rdfId != null) ("#" + rdfId, false)
        else if (nodeId != null) (s"_:$fileName#$nodeId", true)
        else (freshBlank(), true)
      if (tagUri != RdfNs + "Description") {
        // typed node element => rdf:type triple
        emitUri(subj, RdfType, tagUri)
      }
      // property attributes (non-rdf, non-xml namespace attrs) => literal stmts
      var i = 0
      while (i < r.getAttributeCount) {
        val ns = r.getAttributeNamespace(i)
        val ln = r.getAttributeLocalName(i)
        val isSyntax = ns == RdfNs && (ln == "about" || ln == "nodeID" || ln == "ID" || ln == "parseType" || ln == "resource" || ln == "datatype")
        val isXml = ns != null && ns.startsWith("http://www.w3.org/XML/1998/namespace")
        if (!isSyntax && !isXml) {
          // property attributes yield plain literals with the in-scope language
          emitLit(subj, qnameUri(ns, ln), r.getAttributeValue(i), nodeLang, null)
        }
        i += 1
      }
      // children: property elements
      var depth = 1
      while (depth > 0 && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            parsePropertyElement(subj, nodeLang)
          case XMLStreamConstants.END_ELEMENT =>
            depth -= 1
          case _ =>
        }
      }
      (subj, subjBlank)
    }

    /** Parse a property element of `subj`. Reader ON its START_ELEMENT;
      * consumes through its END_ELEMENT.
      */
    def parsePropertyElement(subj: String, inheritedLang: String): Unit = {
      val pred = qnameUri(r.getNamespaceURI, r.getLocalName)
      val resource = rdfAttr("resource")
      val nodeId = rdfAttr("nodeID")
      val parseType = rdfAttr("parseType")
      val datatype = rdfAttr("datatype")
      val lang = effLang(plainAttr(XmlNs, "lang"), inheritedLang)

      if (resource != null) {
        emitUri(subj, pred, resource)
        skipToEnd()
      } else if (nodeId != null) {
        emitBlank(subj, pred, s"_:$fileName#$nodeId")
        skipToEnd()
      } else if (parseType == "Resource") {
        val b = freshBlank()
        emitBlank(subj, pred, b)
        var depth = 1
        while (depth > 0 && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT => parsePropertyElement(b, lang)
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ =>
          }
        }
      } else if (parseType == "Collection") {
        // rdf list: chain of blank cons cells with rdf:first / rdf:rest
        var head: String = null
        var prev: String = null
        var depth = 1
        while (depth > 0 && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              val cell = freshBlank()
              if (head == null) { head = cell; emitBlank(subj, pred, cell) }
              else emitBlank(prev, RdfNs + "rest", cell)
              val (member, memberBlank) = parseNodeElement(lang)
              if (memberBlank) emitBlank(cell, RdfNs + "first", member)
              else emitUri(cell, RdfNs + "first", member)
              prev = cell
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ =>
          }
        }
        if (head == null) emitUri(subj, pred, RdfNs + "nil")
        else emitUri(prev, RdfNs + "rest", RdfNs + "nil")
      } else if (parseType == "Literal") {
        val lex = collectXmlLiteral()
        emitLit(subj, pred, lex, null, RdfNs + "XMLLiteral")
      } else {
        // either a nested node element (object) or a text literal
        val text = new StringBuilder
        var done = false
        var emitted = false
        while (!done && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              val (obj, objBlank) = parseNodeElement(lang)
              if (objBlank) emitBlank(subj, pred, obj) else emitUri(subj, pred, obj)
              emitted = true
            case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
              text.append(r.getText)
            case XMLStreamConstants.END_ELEMENT =>
              done = true
            case _ =>
          }
        }
        if (!emitted) emitLit(subj, pred, text.toString, lang, datatype)
      }
    }

    def skipToEnd(): Unit = {
      var depth = 1
      while (depth > 0 && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => depth += 1
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
      }
    }

    def collectXmlLiteral(): String = {
      val sb = new StringBuilder
      var depth = 1
      while (depth > 0 && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            depth += 1; sb.append('<').append(r.getLocalName).append('>')
          case XMLStreamConstants.END_ELEMENT =>
            depth -= 1; if (depth > 0) sb.append("</").append(r.getLocalName).append('>')
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA => sb.append(r.getText)
          case _ =>
        }
      }
      sb.toString
    }

    try {
      // advance to the root element (rdf:RDF), then parse its node children;
      // xml:lang on the root (or any ancestor) is inherited by descendants
      while (r.hasNext && r.getEventType != XMLStreamConstants.START_ELEMENT) r.next()
      if (r.getEventType == XMLStreamConstants.START_ELEMENT) {
        val rootLang = effLang(plainAttr(XmlNs, "lang"), null)
        var depth = 1
        while (depth > 0 && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT => parseNodeElement(rootLang)
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ =>
          }
        }
      }
    } finally r.close()
    out.toSeq
  }

  // ------------------------------------------------------------ element parse

  /** Harvest terms / prefix ids / metadata from one OWL document, matching the
    * reference's DOM pass (OntologyElementParser.java:97-184):
    * elements whose qualified tag starts with "owl:" and carry a non-empty
    * rdf:about contribute a prefix id (term before '_', excluding "valid") and
    * — when they have at least one rdfs:label descendant — a term->(purl,label)
    * entry where the LAST such element in document order wins (HashMap put) and
    * the FIRST label descendant of that element is used.
    */
  def parseElements(fileName: String, bytes: Array[Byte]): (Seq[TermRow], Seq[IdRow], OntoMeta) = {
    val termMap = mutable.LinkedHashMap.empty[String, TermRow]
    val idSet = mutable.LinkedHashSet.empty[String]
    var title: String = null
    var description: String = null
    var purl: String = null
    var versionIri: String = null
    var versionInfo: String = null
    var root: String = null
    var ontologyDepth = -1 // depth of the FIRST owl:Ontology element while open

    val r = secureInputFactory().createXMLStreamReader(new ByteArrayInputStream(bytes))

    def rdfAttr(local: String): String = {
      var i = 0
      while (i < r.getAttributeCount) {
        if (r.getAttributeNamespace(i) == RdfNs && r.getAttributeLocalName(i) == local)
          return r.getAttributeValue(i)
        i += 1
      }
      null
    }
    def qname: String = {
      val p = r.getPrefix
      if (p == null || p.isEmpty) r.getLocalName else p + ":" + r.getLocalName
    }
    def textOfElement(): String = {
      // reader on START_ELEMENT; returns full text content, consumes END
      val sb = new StringBuilder
      var depth = 1
      while (depth > 0 && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => depth += 1
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA => sb.append(r.getText)
          case _ =>
        }
      }
      sb.toString
    }

    def skipElem(): Unit = {
      var d = 1
      while (d > 0 && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => d += 1
          case XMLStreamConstants.END_ELEMENT => d -= 1
          case _ =>
        }
      }
    }

    // Stack of "pending owl element with about" frames awaiting their first
    // rdfs:label descendant.
    final case class OwlFrame(term: String, purlUri: String, var label: String, startDepth: Int)
    val owlStack = mutable.Stack.empty[OwlFrame]
    var depth = 0

    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            depth += 1
            val qn = qname
            if (qn == "dc:title" && title == null) { title = textOfElement(); depth -= 1 }
            else if (qn == "dc:description" && description == null) { description = textOfElement(); depth -= 1 }
            else if (qn == "owl:versionInfo" && versionInfo == null) { versionInfo = textOfElement(); depth -= 1 }
            else if (qn == "obo:IAO_0000700" && root == null) {
              root = rdfAttr("resource"); skipElem(); depth -= 1
            }
            else if (qn == "owl:versionIRI" && versionIri == null && ontologyDepth >= 0) {
              versionIri = rdfAttr("resource"); skipElem(); depth -= 1
            }
            else {
              if (qn == "owl:Ontology" && ontologyDepth == -1) {
                if (purl == null) purl = rdfAttr("about")
                ontologyDepth = depth
              }
              if (qn.startsWith("owl:")) {
                val about = rdfAttr("about")
                if (about != null && about.nonEmpty) {
                  val uri = graft.ops.UriOps.rewriteUri(about)
                  val term = lastPathSegment(uri)
                  if (term != null) {
                    if (term.contains("_")) {
                      val id = term.split("_")(0)
                      if (id != "valid") idSet += id
                    }
                    owlStack.push(OwlFrame(term, uri, null, depth))
                  }
                }
              }
              if (qn == "rdfs:label" && owlStack.exists(_.label == null)) {
                // DOM descendant semantics (reference getElementsByTagName,
                // OntologyElementParser.java:121-126): this label is the
                // first-in-document-order descendant of EVERY open owl frame
                // that has not yet seen one — fill them all, not just the top.
                val lbl = textOfElement(); depth -= 1
                owlStack.foreach(f => if (f.label == null) f.label = lbl)
              }
            }
          case XMLStreamConstants.END_ELEMENT =>
            if (owlStack.nonEmpty && owlStack.top.startDepth == depth) {
              val f = owlStack.pop()
              if (f.label != null) termMap.put(f.term, TermRow(fileName, f.term, f.purlUri, f.label))
            }
            if (depth == ontologyDepth) ontologyDepth = -2
            depth -= 1
          case _ =>
        }
      }
    } finally r.close()

    val metaRow = OntoMeta(fileName, title, description, purl, versionIri, versionInfo, root)
    (termMap.values.toSeq, idSet.toSeq.map(IdRow(fileName, _)), metaRow)
  }

  /** Last path segment of a URI, as `Paths.get(uri.getPath).getFileName`
    * behaves in the reference (OntologyGraphBuilder.java:85-88): null when the
    * URI has no path.
    */
  def lastPathSegment(uriStr: String): String = {
    try {
      val uri = java.net.URI.create(uriStr)
      val path = uri.getPath
      if (path == null || path.isEmpty || path == "/") null
      else {
        val trimmed = if (path.endsWith("/")) path.substring(0, path.length - 1) else path
        val i = trimmed.lastIndexOf('/')
        val seg = trimmed.substring(i + 1)
        if (seg.isEmpty) null else seg
      }
    } catch { case _: RuntimeException => null }
  }
}
