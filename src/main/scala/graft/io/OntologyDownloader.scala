package graft.io

import java.nio.file.{Files, Path}

/** S4/S5: ontology acquisition with a version gate and archive rotation
  * (reference: OntologyDownloader.java:25-133). Driver-side IO, not a
  * relational op (SURVEY.md §2.1 S4). The HTTP transport is injectable so the
  * logic is testable offline; production passes a `java.net.http` fetcher.
  */
object OntologyDownloader {

  /** OBO Foundry PURLs (reference: OntologyDownloader.java:25-33). */
  val OboPurls: Seq[String] = Seq(
    "http://purl.obolibrary.org/obo/cl.owl",
    "http://purl.obolibrary.org/obo/ro.owl",
    "http://purl.obolibrary.org/obo/go.owl",
    "http://purl.obolibrary.org/obo/uberon/uberon-base.owl",
    "http://purl.obolibrary.org/obo/ncbitaxon/subsets/taxslim.owl",
    "http://purl.obolibrary.org/obo/mondo/mondo-simple.owl",
    "http://purl.obolibrary.org/obo/hp.owl",
    "http://purl.obolibrary.org/obo/pato.owl",
    "http://purl.obolibrary.org/obo/hsapdv.owl")

  private val DatePattern = "(\\d{4}-\\d{2}-\\d{2})".r

  /** S5: YYYY-MM-DD version of an OWL file — owl:versionInfo first, falling
    * back to owl:versionIRI; null when neither carries a date
    * (reference: OntologyDownloader.java:48-74).
    */
  def findOboVersion(owlFile: Path): String = {
    val meta = OwlReader.parseElements(owlFile.getFileName.toString, Files.readAllBytes(owlFile))._2
    Option(meta.versionInfo).flatMap(v => DatePattern.findFirstIn(v))
      .orElse(Option(meta.versionIri).flatMap(v => DatePattern.findFirstIn(v)))
      .orNull
  }

  /** S4: download each URL to `<stem>-new.owl`, compare versions lexically
    * (valid for ISO dates), rotate the old file into `.archive/` when the new
    * one is strictly newer, otherwise discard the download
    * (reference: OntologyDownloader.java:86-133).
    */
  def updateDownloads(urls: Seq[String], downloadDir: Path,
                      fetch: String => Array[Byte]): Unit = {
    Files.createDirectories(downloadDir)
    for (url <- urls) {
      val path = java.net.URI.create(url).getPath
      val fileName = path.substring(path.lastIndexOf('/') + 1)
      val stem = graft.ops.UriOps.fileStem(fileName)
      val suffix = fileName.substring(fileName.lastIndexOf('.'))

      val newFile = downloadDir.resolve(s"$stem-new$suffix")
      Files.write(newFile, fetch(url))
      val versionNew = findOboVersion(newFile)

      val curFile = downloadDir.resolve(fileName)
      if (Files.exists(curFile)) {
        val versionCur = findOboVersion(curFile)
        if (versionNew != null && versionCur != null && versionNew > versionCur) {
          val archiveDir = downloadDir.resolve(".archive")
          Files.createDirectories(archiveDir)
          Files.move(curFile, archiveDir.resolve(s"$stem-$versionCur$suffix"))
          Files.move(newFile, curFile)
        } else {
          Files.delete(newFile)
        }
      } else {
        Files.move(newFile, curFile)
      }
    }
  }

  /** Default production fetcher (requires network egress). */
  def httpFetch(url: String): Array[Byte] = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray()).body()
  }
}
