package graft

import graft.ops.TextIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** X1 analyzer semantics (reference: ArangoDbUtilities.java:219-312). */
class TextIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("char n-grams 3..4 with preserveOriginal") {
    val got = Seq("abcde").toDF("s")
      .select(TextIndex.charNgrams($"s").as("g"))
      .collect()(0).getSeq[String](0).toSet
    assert(got == Set("abc", "bcd", "cde", "abcd", "bcde", "abcde"))
  }

  test("char n-grams on short string yields only original when preserved") {
    val got = Seq("ab").toDF("s")
      .select(TextIndex.charNgrams($"s").as("g"))
      .collect()(0).getSeq[String](0).toSet
    assert(got == Set("ab"))
  }

  test("edge n-grams lowercase each word with 3..12 prefixes plus the word") {
    val got = Seq("Hello hi").toDF("s")
      .select(TextIndex.edgeNgramsPerWord($"s").as("g"))
      .collect()(0).getSeq[String](0).toSet
    assert(got == Set("hel", "hell", "hello", "hi"))
  }

  test("char-ngram generator yields the same token set as the array form") {
    val rnd = new scala.util.Random(11)
    val texts = (0 until 200).map(i =>
      (i.toLong, (0 until rnd.nextInt(12)).map(_ => "abc ".charAt(rnd.nextInt(4))).mkString))
    val df = texts.toDF("id", "s")
    val gen = df.select($"id", graft.functions.CharNgrams.charNgramTokens($"s").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val arr = df.select($"id", explode(TextIndex.charNgrams($"s")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gen == arr)
  }

  test("edge-ngram generator yields the same token set as the array form") {
    val rnd = new scala.util.Random(13)
    val texts = (0 until 200).map(i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => "aBcDefghijklm  ".charAt(rnd.nextInt(15))).mkString))
    val df = texts.toDF("id", "s")
    val gen = df.select($"id", graft.functions.EdgeNgrams.edgeNgramTokens($"s").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val arr = df.select($"id", explode(TextIndex.edgeNgramsPerWord($"s")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gen == arr)
  }

  test("char-ngram generator matches the array form on supplementary-plane text") {
    // alphabet of STRINGS so the random texts contain whole surrogate pairs
    val alpha = Vector("a", "b", "c", "😀" /* 😀 */, "𝄞" /* 𝄞 */, " ")
    val rnd = new scala.util.Random(17)
    val texts = (0 until 100).map(i =>
      (i.toLong, (0 until rnd.nextInt(10)).map(_ => alpha(rnd.nextInt(alpha.size))).mkString))
    val df = texts.toDF("id", "s")
    val gen = df.select($"id", graft.functions.CharNgrams.charNgramTokens($"s").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val arr = df.select($"id", explode(TextIndex.charNgrams($"s")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gen == arr)
    // no emitted token may contain a lone surrogate (a split pair)
    gen.foreach { case (_, t) =>
      assert(t.codePoints().noneMatch(cp => cp >= 0xD800 && cp <= 0xDFFF), s"lone surrogate in '$t'")
    }
  }

  test("edge-ngram generator matches the array form on supplementary-plane words") {
    val alpha = Vector("a", "B", "c", "😀", "𝄞", " ", " ")
    val rnd = new scala.util.Random(19)
    val texts = (0 until 100).map(i =>
      (i.toLong, (0 until rnd.nextInt(20)).map(_ => alpha(rnd.nextInt(alpha.size))).mkString))
    val df = texts.toDF("id", "s")
    val gen = df.select($"id", graft.functions.EdgeNgrams.edgeNgramTokens($"s").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val arr = df.select($"id", explode(TextIndex.edgeNgramsPerWord($"s")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gen == arr)
    gen.foreach { case (_, t) =>
      assert(t.codePoints().noneMatch(cp => cp >= 0xD800 && cp <= 0xDFFF), s"lone surrogate in '$t'")
    }
  }

  test("text_en stemmer matrix: plural and -ing/-ed collapse, guards hold") {
    val cases = Seq(
      "develops" -> "develop",     // 1a: -s
      "developing" -> "develop",   // 1b: -ing
      "developed" -> "develop",    // 1b: -ed
      "classes" -> "class",        // 1a: -sses -> -ss
      "bodies" -> "bodi",          // 1a: -ies -> -i
      "process" -> "process",      // 1a: -ss kept
      "sing" -> "sing",            // 1b guard: stem has no vowel
      "red" -> "red",              // 1b guard: stem has no vowel
      "cell" -> "cell",            // 5b guard: m(cell) == 1
      // derivational suffixes (the full-Porter upgrade; the subset left
      // these distinct where the reference's text_en analyzer collides).
      // Expectations are END-TO-END stems (later steps keep stripping:
      // -ational -> -ate in step 2, then step 5a drops the e), verified
      // against an independent measure-counting implementation.
      "relational" -> "relat",     // 2: -ational -> -ate, 5a: -e
      "vietnamization" -> "vietnam", // 2: -ization -> -ize, 4: -ize
      "goodness" -> "good",        // 3: -ness -> ∅
      "hopeful" -> "hope",         // 3: -ful -> ∅ (5a blocked: cvc)
      "classification" -> "classif", // 2: -ation->-ate, 3: -icate->-ic, 4: -ic
      "classify" -> "classifi",    // 1c: y -> i
      "adjustment" -> "adjust",    // 4: -ment
      "electriciti" -> "electr",   // 3: -iciti -> -ic, 4: -ic
      "probabilistic" -> "probabilist") // 4: -ic
    val got = cases.map(_._1).toDF("w")
      .select($"w", TextIndex.stemEn($"w").as("stem"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (w, want) => assert(got(w) == want, s"stem($w)") }
  }

  test("Porter stemmer reproduces the canonical vocabulary pairs") {
    // END-TO-END stems of the example words from Porter's paper (Program
    // 14(3) 1980), at least one per rule family. The paper lists per-STEP
    // illustrations (relational -> relate is step 2 alone); full runs keep
    // stripping (5a then drops the e -> "relat"). Expected values verified
    // against an independent per-character measure-counting implementation
    // (zero diffs over 5k+ generated words incl. the corpus vocabulary) —
    // a drift in any step or measure condition breaks these.
    val pairs = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
      "bled" -> "bled", "motoring" -> "motor", "sing" -> "sing",
      "conflated" -> "conflat", "troubled" -> "troubl", "sized" -> "size",
      "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
      "hissing" -> "hiss", "fizzed" -> "fizz", "failing" -> "fail",
      "filing" -> "file", "happy" -> "happi", "sky" -> "sky",
      "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "valenci" -> "valenc",
      "hesitanci" -> "hesit", "digitizer" -> "digit",
      "radicalli" -> "radic", "differentli" -> "differ",
      "vileli" -> "vile", "analogousli" -> "analog",
      "vietnamization" -> "vietnam", "predication" -> "predic",
      "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "callousness" -> "callous", "formaliti" -> "formal",
      "sensitiviti" -> "sensit", "sensibiliti" -> "sensibl",
      "triplicate" -> "triplic", "formative" -> "form",
      "formalize" -> "formal", "electriciti" -> "electr",
      "electrical" -> "electr", "hopeful" -> "hope", "goodness" -> "good",
      "revival" -> "reviv", "allowance" -> "allow", "inference" -> "infer",
      "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "irritant" -> "irrit", "replacement" -> "replac",
      "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "homologou" -> "homolog",
      "communism" -> "commun", "activate" -> "activ",
      "angulariti" -> "angular", "homologous" -> "homolog",
      "effective" -> "effect", "bowdlerize" -> "bowdler",
      "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controll" -> "control", "roll" -> "roll",
      // inflection families sharing one stem (the search-recall upgrade)
      "happiness" -> "happi", "abilities" -> "abil",
      "realization" -> "realiz", "dying" -> "dy",
      "agreement" -> "agreement", "argument" -> "argument")
    val bad = pairs.filter { case (in, want) => graft.functions.PorterStem.stem(in) != want }
    assert(bad.isEmpty, bad.map { case (in, want) =>
      s"$in -> ${graft.functions.PorterStem.stem(in)} (want $want)" }.mkString("; "))
    // the codegen'd Column path agrees with the driver-side function
    val viaCol = pairs.map(_._1).toDF("w")
      .select($"w", graft.functions.PorterStem.stemCol($"w").as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    pairs.foreach { case (in, want) => assert(viaCol(in) == want, s"column stem($in)") }
  }

  test("accent folding: NFD + mark stripping, ASCII fast path, stem composes") {
    val cases = Seq(
      "café" -> "cafe", "naïve" -> "naive", "müller" -> "muller",
      "résumé" -> "resume", "señor" -> "senor",
      "ø" -> "ø",          // non-decomposable: kept (same as strip_accents)
      "plain" -> "plain",
      // ALL THREE mark categories strip, matching utf8proc STRIPMARK
      // (= DuckDB strip_accents, verified empirically): Mn alone missed
      // spacing-combining (Mc, Devanagari vowel signs) and enclosing (Me)
      "का" -> "क", // KA + vowel sign AA (Mc)
      "a⃝b" -> "ab")         // combining enclosing circle (Me)
    cases.foreach { case (in, want) =>
      assert(graft.functions.AccentFold.fold(in) == want, s"fold($in)") }
    // ASCII fast path returns the same instance (no allocation)
    val s = "ascii-only"
    assert(graft.functions.AccentFold.fold(s) eq s)
    // the analyzer folds BEFORE stemming: développé -> developpe -> developp
    val toks = Seq("Café Développé").toDF("s")
      .select(explode(TextIndex.textEnTokens($"s")).as("token"))
      .collect().map(_.getString(0)).toSet
    assert(toks == Set("cafe", "developp"))
    // accented query matches unaccented document through rankDocuments
    val docs = Seq((1L, "cafe menu"), (2L, "tea list")).toDF("doc_id", "text")
    val hits = TextIndex.rankDocuments(docs, Seq("Café"), k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(hits == Seq(1L))
  }

  test("NFC normalization: canonical composition, ASCII identity, SQL-registered") {
    // decomposed e + U+0301 composes to precomposed é; NBSP is untouched
    // (canonical, not compatibility, normalization); already-NFC strings
    // return the same instance (no allocation)
    val dec = "Cafe\u0301 No\u0308el"
    val comp = "Caf\u00e9 N\u00f6el"
    assert(graft.functions.NfcNormalize.nfc(dec) == comp)
    assert(dec.length == comp.length + 2)
    val ascii = "plain ascii"
    assert(graft.functions.NfcNormalize.nfc(ascii) eq ascii)
    // non-decomposable singleton: U+212B ANGSTROM SIGN canonically maps to
    // U+00C5 — NFC rewrites singletons too, the detail a "compose pairs
    // only" shortcut would miss
    assert(graft.functions.NfcNormalize.nfc("\u212b") == "\u00c5")
    // UTF8String adapter + codegen path through the Column form and SQL
    import org.apache.spark.sql.functions.lit
    val got = Seq(1).toDF("i")
      .select(graft.functions.NfcNormalize.nfcCol(lit(dec)).as("n"))
      .collect()(0).getString(0)
    assert(got == comp)
    graft.functions.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      s"SELECT nfc_normalize('$dec') = 'Caf\u00e9 N\u00f6el'").collect()(0)
    assert(viaSql.getBoolean(0))
  }

  test("text_en analyzer joins inflected query and document forms") {
    val toks = Seq("The cell develops rapidly").toDF("s")
      .select(explode(TextIndex.textEnTokens($"s")).as("token"))
      .collect().map(_.getString(0)).toSet
    // "developing" stems to the same token a doc containing "develops" produced
    assert(toks.contains("develop"))
    val q = Seq("developing").toDF("s")
      .select(explode(TextIndex.textEnTokens($"s")).as("token"))
      .collect().map(_.getString(0)).toSet
    assert((toks & q) == Set("develop"))
  }

  test("linksFromJson parses the reference maps shape and applies skip rules") {
    val json =
      """{"maps": [
        |  ["CL", {"individual_fields": [{"field_to_display": "label"},
        |                                {"field_to_display": "definition"}]}],
        |  ["edges", {"individual_fields": [{"field_to_display": "label"}]}],
        |  ["TEST_DOCUMENT_COLLECTION", {"individual_fields": [{"field_to_display": "x"}]}],
        |  ["TEST_EDGE_COLLECTION", {"individual_fields": [{"field_to_display": "x"}]}],
        |  ["GO", {"individual_fields": [{"field_to_display": "label"}]}]
        |]}""".stripMargin
    val links = TextIndex.linksFromJson(json)
    assert(links == Map("CL" -> Seq("label", "definition"), "GO" -> Seq("label")))
    assert(links.keys.toSeq == Seq("CL", "GO")) // order preserved
  }

  test("token table builds per configured collection/field links and search hits") {
    val verts = Seq(
      ("CL", "0000235", Map("label" -> Seq("macrophage"), "definition" -> Seq("a phagocyte"))),
      ("GO", "0031268", Map("label" -> Seq("pseudopodium organization"))))
      .toDF("id", "number", "attrs")
    val tokens = TextIndex.buildTokenTable(verts, Map(
      "CL" -> Seq("label"), "GO" -> Seq("label"), "edges" -> Seq("ignored")))
    // identity analyzer keeps the raw value
    val identity = tokens.filter($"analyzer" === "identity").select("token")
      .collect().map(_.getString(0)).toSet
    assert(identity == Set("macrophage", "pseudopodium organization"))
    // definition field not configured for CL -> absent
    assert(tokens.filter($"field" === "definition").count() == 0)
    // n-gram search: "pha" hits the CL label only
    val hits = TextIndex.search(tokens, "pha").select("collection").distinct()
      .collect().map(_.getString(0)).toSet
    assert(hits == Set("CL"))
    // edge-ngram search: word prefix "pseudo" hits GO
    val hits2 = TextIndex.search(tokens, "pseudo").select("collection").distinct()
      .collect().map(_.getString(0)).toSet
    assert(hits2 == Set("GO"))
    // text_en analyzer: stemmed token present so inflected queries match
    val verts2 = Seq(("CL", "1", Map("label" -> Seq("developing phagocytes"))))
      .toDF("id", "number", "attrs")
    val tokens2 = TextIndex.buildTokenTable(verts2, Map("CL" -> Seq("label")))
    val stemmed = tokens2.filter($"analyzer" === "text_en").select("token")
      .collect().map(_.getString(0)).toSet
    // full Porter: "phagocytes" -> 1a -> "phagocyte" -> 5a drops the e
    assert(stemmed == Set("develop", "phagocyt"))
  }

  test("bucketed token table prunes point lookups to one bucket") {
    val verts = (1 to 200).map(i => ("CL", i.toString, Map("label" -> Seq(s"term$i word$i"))))
      .toDF("id", "number", "attrs")
    val tokens = TextIndex.buildTokenTable(verts, Map("CL" -> Seq("label")))
    TextIndex.writeTokenTableBucketed(tokens, "tok_idx", 8)
    // Spark's autoBucketedScan heuristic turns bucketed reading OFF for
    // scan-only queries (it only auto-enables around joins/aggregates);
    // point-lookup bucket pruning needs it forced on.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val idx = spark.table("tok_idx")
      val hit = TextIndex.search(idx, "term42")
      assert(hit.collect().map(_.getString(1)).toSet == Set("42"))
      // the scan reads ONE bucket, not the whole table
      val plan = hit.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), s"no bucket pruning:\n$plan")
      // token-key self-join plans without a shuffle exchange on either side
      val joined = idx.join(idx.select(col("token"), col("key").as("k2")), Seq("token"))
      val jplan = joined.queryExecution.executedPlan.toString
      assert(!jplan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$jplan")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS tok_idx")
    }
  }

  test("rankDocuments: exact integer tf-idf scores, stemmed query match, top-k") {
    val docs = Seq(
      (1L, "join join vector"),
      (2L, "joins the the"),
      (3L, "scan merge")
    ).toDF("doc_id", "text")
    // query "joins" stems to "join" engine-side; N=3
    // join: df=2 -> odds (2*3-4+1)/5 = 3/5; the: df=1 -> odds 5/3
    // doc1: round(2*3e6/5) = 1200000
    // doc2: round(1*3e6/5) + round(2*5e6/3) = 600000 + 3333333 = 3933333
    val got = TextIndex.rankDocuments(docs, Seq("joins", "the"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((2L, 3933333L, 1), (1L, 1200000L, 2)))
    // k bounds the result deterministically (ties break by id)
    val top1 = TextIndex.rankDocuments(docs, Seq("joins", "the"), k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top1 == Seq(2L))
  }

  test("bm25Rank: saturation, length normalization, and b=0 degeneracy") {
    // one query term; docs differ only in tf and length
    val base = Seq(
      (1L, "cat " + ("pad " * 8).trim),                    // tf=1, dl=9
      (2L, "cat cat " + ("pad " * 7).trim),                // tf=2, dl=9
      (3L, "cat cat cat cat " + ("pad " * 5).trim),        // tf=4, dl=9
      (4L, "cat " + ("pad " * 98).trim))                   // tf=1, dl=99
      .toDF("doc_id", "text")
    val got = TextIndex.rankTopK(TextIndex.bm25Scores(base, Seq("cat")), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // saturation: tf 1->2 gains less than linear, tf 2->4 still less
    assert(got(2L) > got(1L) && got(3L) > got(2L))
    assert(got(2L) - got(1L) < got(1L), "tf doubling must not double the score")
    assert(got(3L) - got(2L) < got(2L) - got(1L), "marginal tf gain must shrink")
    // length normalization: same tf, much longer doc scores lower
    assert(got(4L) < got(1L))
    // b=0 switches length normalization off: docs 1 and 4 tie exactly
    val noB = TextIndex.rankTopK(TextIndex.bm25Scores(base, Seq("cat"), bHundredths = 0), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noB(4L) == noB(1L))
    // stemmed match + rank order and ties-by-id survive in the full path
    val ranks = TextIndex.rankTopK(TextIndex.bm25Scores(base, Seq("cats")), k = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(ranks == Map(3L -> 1, 2L -> 2))
  }

  test("buildTokenTable accepts the maps-JSON config end to end") {
    val verts = Seq(("CL", "7", Map("label" -> Seq("macrophage"))))
      .toDF("id", "number", "attrs")
    val links = TextIndex.linksFromJson(
      """{"maps": [["CL", {"individual_fields": [{"field_to_display": "label"}]}],
        |          ["edges", {"individual_fields": [{"field_to_display": "label"}]}]]}""".stripMargin)
    val tokens = TextIndex.buildTokenTable(verts, links)
    assert(tokens.filter($"analyzer" === "identity").count() == 1)
    // n-gram (preserveOriginal), edge-ngram (whole word) and identity hold
    // the surface form; text_en holds the Porter stem ("macrophag", 5a)
    assert(TextIndex.search(tokens, "macrophage").count() == 3)
    // the stem is also a 9-char edge-ngram prefix -> text_en + no_stem hit
    assert(TextIndex.search(tokens, "macrophag").count() == 2)
  }

  test("phraseMatch: consecutive-position semantics, overlaps, case, bag-vs-phrase") {
    val docs = Seq(
      (1L, "the Slow hash batch runs"),       // one occurrence (case-folded)
      (2L, "batch hash slow"),                // bag match only -> NOT a phrase hit
      (3L, "slow hash batch slow hash batch"),// two occurrences
      (4L, "slow hash"),                      // incomplete phrase
      (5L, "a a a a")                         // overlap probe for the 2-gram below
    ).toDF("doc_id", "text")
    val got = TextIndex.phraseMatch(docs, Seq("slow", "hash", "batch"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 2L))
    // overlapping occurrences each count: "a a" occurs at positions 0,1,2
    val overlaps = TextIndex.phraseMatch(docs, Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(overlaps == Map(5L -> 3L))
    // single-word phrase degenerates to term lookup with counts
    val single = TextIndex.phraseMatch(docs, Seq("slow"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(single == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("proximityMatch: either order, window boundary, pair counts and min gap") {
    val docs = Seq(
      (1L, "slow x batch"),          // gap 2, in window
      (2L, "batch y y slow"),        // reversed, gap 3 == window boundary
      (3L, "slow a b c batch"),      // gap 4 > window
      (4L, "slow batch z slow"),     // pairs: (0,1) gap1, (3,1) gap2
      (5L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val got = TextIndex.proximityMatch(docs, "slow", "batch", window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 2L), (2L, 1L, 3L), (4L, 2L, 1L)))
  }

  test("dictionaryTag: whole dictionary in one pass — overlaps, repeats, case, absence") {
    val docs = Seq(
      (1L, "Slow hash batch runs a slow hash batch job"), // trigram x2, case-folded
      (2L, "a b a then a b a b a"),                       // repeated-word phrase overlaps
      (3L, "batch only here"),
      (4L, "nothing relevant at all")
    ).toDF("doc_id", "text")
    val got = TextIndex.dictionaryTag(docs,
        Seq("slow hash batch", "a b a", "batch", "warp drive"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got((1L, "slow hash batch")) == ((2L, 0L)))
    // "a b a" in "a b a then a b a b a": starts 0, 4, 6 (overlapping matches count)
    assert(got((2L, "a b a")) == ((3L, 0L)))
    assert(got((1L, "batch")) == ((2L, 2L)))
    assert(got((3L, "batch")) == ((1L, 0L)))
    assert(!got.keySet.exists(_._2 == "warp drive"), "absent phrase must emit nothing")
    assert(!got.contains((4L, "batch")))
  }

  test("proximityMatch: equal terms count unordered occurrence pairs, no self-pairs") {
    val docs = Seq(
      (1L, "slow x slow"),        // one pair, gap 2
      (2L, "slow slow z slow"),   // pairs (0,1) g1, (1,3) g2, (0,3) g3
      (3L, "slow only once"),     // a single occurrence is NOT near itself
      (4L, "slow a b c d slow")   // gap 5 > window
    ).toDF("doc_id", "text")
    val got = TextIndex.proximityMatch(docs, "slow", "SLOW", window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 2L), (2L, 3L, 1L)))
  }

  test("suffixMatch: reversed-prefix equality equals the trailing wildcard") {
    val docs = Seq(
      (1L, "Customer ORDER filter"), // three *er tokens (case-folded)
      (2L, "er e broker broker"),    // exact 'er' matches; shorter token doesn't; dup counts
      (3L, "nothing here matches"),  // 'here'? no — ends 're'; none end 'er'
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextIndex.suffixMatch(docs, "er")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, "customer") -> 1L, (1L, "order") -> 1L, (1L, "filter") -> 1L,
      (2L, "er") -> 1L, (2L, "broker") -> 2L))
  }
}
