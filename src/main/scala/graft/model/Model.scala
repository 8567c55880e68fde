package graft.model

/** Core row types of the engine (SURVEY.md §1.1, FIXTURES.md §6).
  *
  * All scalar values are strings, mirroring the reference's all-string data
  * model (reference: OntologyGraphBuilder.java:218 renders literals to String;
  * OntologyDownloader.java:38 compares dates lexically).
  */

/** One RDF statement extracted from an OWL file.
  *
  * Mirrors the information content of a Jena `Triple`
  * (reference: OntologyTripleParser.java:62-121) plus provenance columns
  * (`srcFile`, `stmtIdx`) that restore determinism where the reference
  * iterates a `HashSet` (SURVEY.md §7.5).
  *
  * Blank-node identifiers are file-scoped and carried in `subject`/`objectStr`
  * with a `_:b<n>` prefix unique per file, so the J1 self-join never matches
  * across files.
  */
final case class TripleRow(
    srcFile: String,
    stmtIdx: Long,
    subject: String,
    predicate: String,
    objectStr: String,
    objIsUri: Boolean,
    objIsLiteral: Boolean,
    objIsBlank: Boolean,
    objLexical: String, // literal lexical form; null for URI/blank objects
    lang: String, // xml:lang if present, else null
    datatype: String // rdf:datatype URI if present, else null
)

/** One harvested ontology element: term -> (purl, label)
  * (reference: OntologyElementParser.java:97-127).
  */
final case class TermRow(srcFile: String, term: String, purl: String, label: String)

/** Per-ontology file metadata
  * (reference: OntologyElementParser.java:146-184, OntologyElementMap.java).
  */
final case class OntoMeta(
    srcFile: String,
    title: String,
    description: String,
    purl: String,
    versionIri: String,
    versionInfo: String,
    root: String
)

/** Parsed URI identity: last path segment split on '_' else ':'
  * (reference: OntologyGraphBuilder.java:72-102, record VTuple :629-631).
  */
final case class VTuple(term: String, id: String, number: String, isValidVertex: Boolean)
