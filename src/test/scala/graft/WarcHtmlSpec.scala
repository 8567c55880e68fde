package graft

import graft.io.WarcReader
import graft.ops.Html
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WARC ingest + HTML text extraction (the web source tier). Fixtures are
  * committed deterministic bytes: sample.warc.gz uses the Common Crawl
  * layout (one gzip member per record), plain.warc the uncompressed path.
  */
class WarcHtmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val warcDir = "src/test/resources/warc"
  private def gzBytes = java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(s"$warcDir/sample.warc.gz"))
  private def plainBytes = java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(s"$warcDir/plain.warc"))

  test("parse: gzip-member and plain fixtures yield identical records") {
    val gz = WarcReader.parse("sample.warc.gz", gzBytes)
    val pl = WarcReader.parse("plain.warc", plainBytes)
    assert(gz.size == 5 && pl.size == 5)
    assert(gz.map(_.warc_type) == Seq("warcinfo", "request", "response", "response", "response"))
    def key(r: WarcReader.WarcRecord) =
      (r.rec_idx, r.warc_type, r.url, r.warc_date, r.content_type,
        r.http_status, r.http_content_type, r.payload_len, r.payload.toSeq)
    assert(gz.map(key) == pl.map(key))
  }

  test("parse: HTTP split — status, content type, body; non-HTTP raw") {
    val rs = WarcReader.parse("f", gzBytes)
    val info = rs(0)
    assert(info.http_status == 0 && info.http_content_type == null)
    assert(new String(info.payload, "ISO-8859-1") == "software: graft-fixture 1.0\r\n")
    val a = rs(2)
    assert(a.url == "http://example.com/a" && a.http_status == 200)
    assert(a.http_content_type == "text/html; charset=utf-8")
    assert(new String(a.payload, "ISO-8859-1").startsWith("<html><head><title>Spark joins</title>"))
    val img = rs(4)
    assert(img.http_status == 404 && img.payload.toSeq == (0 until 16).map(_.toByte).toSeq)
  }

  test("parse: payload truncation caps bytes, keeps full length, stays record-aligned") {
    val rs = WarcReader.parse("f", gzBytes, maxPayloadBytes = 40)
    assert(rs.size == 5, "truncation must not desynchronize the record stream")
    val a = rs(2)
    assert(a.payload.length <= 40 && a.payload_len > 40,
      s"expected truncated payload with preserved length, got ${a.payload.length}/${a.payload_len}")
    // later records still parse correctly after a truncated block skip
    assert(rs(4).http_status == 404)
  }

  test("records: distributed read over the fixture dir") {
    val df = WarcReader.records(spark, warcDir).cache()
    assert(df.count() == 10) // 5 records x 2 files
    val htmlPages = df.filter(col("warc_type") === "response" &&
        col("http_content_type").startsWith("text/html"))
      .withColumn("text", Html.htmlToText(decode(col("payload"), "UTF-8")))
      .select("src_file", "url", "text")
      .collect()
    assert(htmlPages.length == 4)
    val byUrl = htmlPages.map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(byUrl(("sample.warc.gz", "http://example.com/a")) ==
      "Spark joins Broadcast & shuffle joins, a <guide>. docs")
    assert(byUrl(("plain.warc", "http://example.com/b")) == "Private Internal page")
    df.unpersist()
  }

  test("parse: malformed record surfaces as _malformed, scanner resynchronizes") {
    def rec(len: String, payload: String) =
      (s"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: http://x/\r\n" +
        s"Content-Length: $len\r\n\r\n$payload\r\n\r\n").getBytes("ISO-8859-1")
    val good1 = rec("5", "aaaaa")
    val bad = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "Content-Length: NOT_A_NUMBER\r\n\r\n").getBytes("ISO-8859-1")
    val good2 = rec("3", "bbb")
    val rs = WarcReader.parse("f", good1 ++ bad ++ good2)
    assert(rs.map(_.warc_type) == Seq("resource", "_malformed", "resource"))
    assert(new String(rs(0).payload, "ISO-8859-1") == "aaaaa")
    assert(new String(rs(2).payload, "ISO-8859-1") == "bbb",
      "scanner must resynchronize on the record after a malformed one")
    // missing Content-Length entirely is also malformed, not a crash
    val noLen = ("WARC/1.0\r\nWARC-Type: resource\r\n\r\n").getBytes("ISO-8859-1")
    assert(WarcReader.parse("f", noLen ++ good2).map(_.warc_type) ==
      Seq("_malformed", "resource"))
  }

  test("parse: chunked transfer-encoding is decoded to a clean body") {
    val chunkedBody = "7\r\n<html><\r\n12\r\nbody>hello</body><\r\n6\r\n/html>\r\n0\r\n\r\n"
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" + chunkedBody).getBytes("ISO-8859-1")
    val warc = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: http://x/c\r\nContent-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes("ISO-8859-1") ++
      http ++ "\r\n\r\n".getBytes("ISO-8859-1")
    val rs = WarcReader.parse("f", warc)
    assert(rs.size == 1 && rs(0).http_status == 200)
    assert(new String(rs(0).payload, "ISO-8859-1") == "<html><body>hello</body></html>")
    // malformed size line: best effort, never throws or loops
    val broken = WarcReader.dechunk("ZZZ\r\nwhatever".getBytes("ISO-8859-1"))
    assert(broken.isEmpty)
    // hex sizes with chunk extensions decode too
    val ext = WarcReader.dechunk("4;name=v\r\nabcd\r\n0\r\n\r\n".getBytes("ISO-8859-1"))
    assert(new String(ext, "ISO-8859-1") == "abcd")
  }

  test("canonicalizeUrl: every surface-variant rule, one canonical form") {
    val cases = Seq(
      // scheme/host case, www, default port, fragment
      "HTTP://WWW.Example.COM:80/Path/a#frag" -> "http://example.com/Path/a",
      "https://example.com:443/Path/a" -> "https://example.com/Path/a",
      // tracking params dropped, remainder sorted; trailing slash trimmed
      "https://example.com/p/?utm_source=x&b=2&a=1&fbclid=z" -> "https://example.com/p?a=1&b=2",
      "https://example.com/p?a=1&b=2" -> "https://example.com/p?a=1&b=2",
      "https://example.com/p?b=2&ref=tw&a=1" -> "https://example.com/p?a=1&b=2",
      // no path, no query; only-tracking query vanishes entirely
      "https://Example.com" -> "https://example.com",
      "https://example.com/?utm_campaign=only" -> "https://example.com",
      // path case preserved; non-default port preserved
      "https://example.com:8080/CaseSensitive" -> "https://example.com:8080/CaseSensitive")
    val got = cases.map(_._1).toDF("url")
      .select(graft.ops.Urls.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), got.zip(cases).filter { case (g, (_, e)) => g != e }.toString)
  }

  test("unitDedup: global first occurrence survives, docs reassemble in order") {
    val d = Seq(
      (1L, "alpha beta SEP gamma delta SEP alpha beta"), // internal dup unit
      (2L, "gamma delta SEP unique two"),                // cross-doc dup of doc 1's unit
      (3L, "alpha beta")                                 // fully duplicated -> emptied
    ).toDF("doc_id", "text")
    val got = graft.llm.Dedup.unitDedup(d, " SEP ")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("alpha beta | gamma delta", 3L, 2L)))
    assert(got(2L) == (("unique two", 2L, 1L)))
    assert(got(3L) == (("", 1L, 0L)))
  }

  test("hashedLinearScore: buckets/weights reproduce the independent md5 derivation") {
    val weights = (0 until 64).map(b => (b % 7) - 3)
    def expected(text: String): (Long, Long) = {
      val toks = text.split(" ").filter(_.nonEmpty)
      val md = java.security.MessageDigest.getInstance("MD5")
      def hx(c: Char) = if (c >= 'a') c - 'a' + 10 else c - '0'
      val score = toks.map { t =>
        val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        weights((hx(hex(0)) * 16 + hx(hex(1))) % 64)
      }.sum
      (toks.length.toLong, score.toLong)
    }
    val texts = Seq(1L -> "the quick brown fox", 2L -> "vector joins batch batch", 3L -> "one")
    val got = graft.llm.TextStats.hashedLinearScore(texts.toDF("doc_id", "text"), weights)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    texts.foreach { case (id, t) => assert(got(id) == expected(t), s"doc $id") }
  }

  test("robots: wildcard-agent rules only, comments/empties handled, prefix verdict") {
    val robots = Seq(
      ("A.example.org", // mixed-case host; specialbot group must not leak
        "User-agent: specialbot\nDisallow: /\n" +
        "User-agent: *\nDisallow: /secret # inline comment\nDisallow:\n\nDisallow: /tmp"),
      ("b.example.org", "User-agent: *\n# nothing disallowed\nDisallow:"),
      ("c.example.org", "User-agent: onlybot\nDisallow: /x") // no wildcard group
    ).toDF("host", "text")
    val rules = graft.ops.Urls.robotsDisallowRules(robots)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rules == Set(("a.example.org", "/secret"), ("a.example.org", "/tmp")))

    val urls = Seq(
      (1L, "https://a.example.org/secret/f"),   // prefix-disallowed
      (2L, "https://A.example.org/tmpfile"),    // host case-folds; /tmp prefix
      (3L, "https://a.example.org/public"),     // allowed
      (4L, "https://b.example.org/secret/f"),   // other host: no rule there
      (5L, "https://c.example.org/x"),          // onlybot's rule ignored
      (6L, "https://a.example.org")             // no path -> '/', allowed
    ).toDF("doc_id", "url")
    val got = graft.ops.Urls.robotsVerdict(urls, graft.ops.Urls.robotsDisallowRules(robots))
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("allowed")).toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> true,
      4L -> true, 5L -> true, 6L -> true))
  }

  test("Html ops: title, noindex gate, hrefs, entity order") {
    val page = ("<html><head><title>T &amp; U</title>" +
      "<meta name='robots' content='all,noindex'></head>" +
      "<body><a href=\"/x\">x</a><a href='/y'>y</a>" +
      "<p>&amp;lt; stays one decode</p></body></html>")
    val df = Seq(page).toDF("html").select(
      Html.htmlTitle(col("html")).as("t"),
      Html.metaNoindex(col("html")).as("n"),
      Html.hrefs(col("html")).as("h"),
      Html.htmlToText(col("html")).as("c"))
    val r = df.collect()(0)
    assert(r.getString(0) == "T &amp; U") // title is RAW extract; decode is htmlToText's job
    assert(r.getBoolean(1))
    assert(r.getSeq[String](2) == Seq("/x", "/y"))
    // one-pass entity decode: "&amp;lt;" -> "&lt;", never "<"
    assert(r.getString(3).contains("&lt; stays one decode"))
    val clean = Seq("<p>no robots here</p>").toDF("html")
      .select(Html.metaNoindex(col("html"))).collect()(0).getBoolean(0)
    assert(!clean)
  }

  test("JSONL reader: schema enforcement, corrupt routing, blank-line skip") {
    import graft.io.JsonlReader
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val base = java.nio.file.Files.createTempDirectory("graft-jsonl-spec")
    try {
      val lines = Seq(
        """{"id": 1, "text": "ok", "extra": "dropped"}""", // extra field dropped
        """{"id": 2}""",                                   // missing field -> null
        """{"id": "not a number", "text": "t"}""",         // type mismatch -> quarantined
        """{"id": 4, "text": "unterminated""",             // structurally broken -> quarantined
        "",                                                // blank -> skipped
        "null",                                            // no object -> quarantined
        """{"id": 7, "text": "fine"}""")
      java.nio.file.Files.write(base.resolve("corpus.jsonl"),
        String.join("\n", lines: _*).getBytes("UTF-8"))
      val schema = new StructType().add("id", LongType).add("text", StringType)
      val parsed = JsonlReader.read(spark, base.toString, schema)
      val good = JsonlReader.good(parsed).collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1))).toSet
      assert(good == Set((1L, "ok"), (2L, null), (7L, "fine")))
      val corrupt = JsonlReader.corrupt(parsed).collect().map(_.getString(0)).toSet
      assert(corrupt == Set(
        """{"id": "not a number", "text": "t"}""",
        """{"id": 4, "text": "unterminated""",
        "null"))
      intercept[IllegalArgumentException] {
        JsonlReader.read(spark, base.toString,
          new StructType().add("corrupt_record", StringType))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("CSV reader: positional null-fill, arity/type quarantine, delimiter") {
    import graft.io.CsvReader
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val base = java.nio.file.Files.createTempDirectory("graft-csv-spec")
    try {
      val lines = Seq(
        "1,alpha,10",     // clean
        "2,beta",         // arity underflow -> quarantined (strict positional)
        "3,gamma,ten",    // type mismatch on n -> quarantined
        "4,delta,7,EXTRA",// arity overflow -> quarantined
        "",               // blank -> skipped
        "5,eps,12")
      java.nio.file.Files.write(base.resolve("corpus.csv"),
        String.join("\n", lines: _*).getBytes("UTF-8"))
      val schema = new StructType()
        .add("id", LongType).add("name", StringType).add("n", LongType)
      val parsed = CsvReader.read(spark, base.toString, schema)
      val good = CsvReader.good(parsed).collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(good == Set((1L, "alpha", 10L), (5L, "eps", 12L)))
      val corrupt = CsvReader.corrupt(parsed).collect().map(_.getString(0)).toSet
      assert(corrupt == Set("2,beta", "3,gamma,ten", "4,delta,7,EXTRA"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }
}
