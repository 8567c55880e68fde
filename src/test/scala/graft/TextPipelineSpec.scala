package graft

import graft.llm.{Dedup, LlmFixtures, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 text-pipeline additions: repetition signals, PII scrubbing, and
  * chunk-granular global dedup.
  */
class TextPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("repetitionStats: exact fractions on hand-computed docs") {
    val docs = Seq(
      (1L, "a b a b a"),    // 5 words, 2 distinct; bigrams: "a b"x2,"b a"x2 -> top 2 of 4
      (2L, "x y z w"),      // all distinct; 3 bigrams each once
      (3L, "solo")          // 1 word, no bigrams
    ).toDF("doc_id", "text")
    val got = TextStats.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got(1L) == ((5L, 1.0 - 2.0 / 5, 2L, 2.0 / 4)))
    assert(got(2L) == ((4L, 0.0, 1L, 1.0 / 3)))
    assert(got(3L) == ((1L, 0.0, 0L, 0.0)))
  }

  test("scrubPii redacts emails, IPv4s, and phones; counts agree") {
    val df = Seq(
      (1L, "mail bob.smith+x@sub.example.org and 192.168.0.1 call +4915512345678 done"),
      (2L, "no pii here 1234 dots. end"),
      (3L, "two ips 10.0.0.1 8.8.8.8 and a@b.co")
    ).toDF("id", "text")
    val (ne, ni, np) = TextStats.piiCounts(col("text"))
    val got = df.select(col("id"), TextStats.scrubPii(col("text")).as("clean"),
        ne.as("e"), ni.as("i"), np.as("p"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(1L)._1 == "mail <EMAIL> and <IP> call <PHONE> done")
    assert((got(1L)._2, got(1L)._3, got(1L)._4) == ((1L, 1L, 1L)))
    assert(got(2L)._1 == "no pii here 1234 dots. end") // untouched
    assert(got(3L)._1 == "two ips <IP> <IP> and <EMAIL>")
    // email host is consumed by the email pass, never re-matched as an IP
    assert((got(3L)._3, got(3L)._2) == ((2L, 1L)))
  }

  test("removeDuplicateSpans drops every copy of a cross-doc duplicated gram") {
    // k=4: "a b c d" occurs in both docs -> BOTH occurrences removed
    // (ExactSubstr semantics), unlike chunkDedup's first-occurrence keep.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d q")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, spanTokens = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5))))
      .toMap
    assert(got(1L) == ((6L, 4L, 1L, 4.0 / 6, "e f")))
    assert(got(2L) == ((7L, 4L, 1L, 4.0 / 7, "x y q")))
  }

  test("removeDuplicateSpans marks within-doc repeats and keeps disjoint spans separate") {
    // "p q r s" repeats at pos 0 and 5 -> covered [0,3] and [5,8];
    // pos 4 't' and pos 9 'u' survive between/after the two spans.
    val docs = Seq((3L, "p q r s t p q r s u")).toDF("doc_id", "text")
    val r = Dedup.removeDuplicateSpans(docs, spanTokens = 4).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(5)) == ((10L, 8L, 2L, "t u")))
  }

  test("removeDuplicateSpans merges overlapping marks into one maximal span") {
    val docs = Seq(
      (4L, "m n o p q r"),
      (5L, "m n o p q z"),
      (6L, "n o p q r w")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, spanTokens = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getString(5)))).toMap
    assert(got(4L) == ((6L, 1L, "")))  // fully covered: ONE merged span, empty text
    assert(got(5L) == ((5L, 1L, "z")))
    assert(got(6L) == ((5L, 1L, "w")))
  }

  test("removeDuplicateSpans leaves short and unique docs untouched") {
    val docs = Seq(
      (7L, "s t"), // shorter than the gram: no grams, nothing marked
      (8L, "unique words only here truly nothing shared"),
      (9L, null.asInstanceOf[String]) // null text must still yield its row
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, spanTokens = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(5)))).toMap
    assert(got(7L) == ((0L, "s t")))
    assert(got(8L) == ((0L, "unique words only here truly nothing shared")))
    assert(got(9L) == ((0L, ""))) // one row per document, even null text
    intercept[IllegalArgumentException](Dedup.removeDuplicateSpans(docs, spanTokens = 1))
    // a null ID would silently lose its duplicate marks (the (id, pos)
    // join never matches null) and merge with other null-id docs — reject
    val badIds = Seq((java.lang.Long.valueOf(10L), "a b c d"),
      (null.asInstanceOf[java.lang.Long], "a b c d")).toDF("doc_id", "text")
    val ex = intercept[Exception](
      Dedup.removeDuplicateSpans(badIds, spanTokens = 4).collect())
    assert(ex.toString.contains("null doc_id") ||
      Option(ex.getCause).exists(_.toString.contains("null doc_id")))
  }

  test("duplicateSpanExtents enumerates maximal spans with extents, length, recurrence") {
    // "a b c d e" repeats verbatim across docs 1/2 (and doc 1 carries a
    // second, within-doc copy): three identical maximal spans cluster via
    // n_same_span=3. Doc 3's two overlapping 4-gram repeats (vs 4 and 5)
    // merge into ONE maximal 6-token mosaic span that is unique as a whole.
    val docs = Seq(
      (1L, "a b c d e x a b c d e"),
      (2L, "q a b c d e r"),
      (3L, "m n o p q r"),
      (4L, "m n o p q z"),
      (5L, "n o p q r w")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpanExtents(docs, spanTokens = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(6))).toSet
    assert(got == Set(
      (1L, 0L, 4L, 5L, 3L, "a b c d e"),
      (1L, 6L, 10L, 5L, 3L, "a b c d e"),
      (2L, 1L, 5L, 5L, 3L, "a b c d e"),
      (3L, 0L, 5L, 6L, 1L, "m n o p q r"),  // mosaic: maximal run of two repeats
      (4L, 0L, 4L, 5L, 1L, "m n o p q"),
      (5L, 0L, 4L, 5L, 1L, "n o p q r")))
    // arbitrary length: a 9-token verbatim repeat yields ONE 9-token span
    // (not fixed-k windows), proving the "unbounded above" contract
    val long = Seq(
      (6L, "t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (7L, "z0 t1 t2 t3 t4 t5 t6 t7 t8 t9 z1")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpanExtents(long, spanTokens = 4).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    assert(spans == Set((6L, 9L, 2L), (7L, 9L, 2L)))
    // no duplicated grams -> zero rows (spans only, never per-doc padding)
    val uniq = Seq((8L, "only unique words appear in this document body")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpanExtents(uniq, spanTokens = 4).count() == 0L)
  }

  test("duplicateSpanExtents caps carried span_text but counts on the full-span hash") {
    // the oversized-span shape (round-14 verdict #4): a long verbatim
    // repeat is ONE maximal span; under maxSpanTextTokens the carried text
    // truncates at the cap while span_hash stays the FULL-span md5 — so
    // n_same_span still clusters the two occurrences, and two spans whose
    // first cap tokens agree but whose tails differ do NOT cluster
    val tail1 = (1 to 20).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, tail1),                       // 20-token span, copy 1
      (2L, s"z0 $tail1 z1"),             // copy 2 (offset — same text)
      (3L, "t1 t2 t3 t4 t5 u6 u7 u8 u9 u10"), // shares the first 5 tokens only
      (4L, "x1 t1 t2 t3 t4 t5 u6 u7 u8 u9 u10")
    ).toDF("doc_id", "text")
    val capped = Dedup.duplicateSpanExtents(docs, spanTokens = 4,
      maxSpanTextTokens = 5).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getString(5),
        r.getString(6)))
    // every carried text is capped at 5 tokens
    assert(capped.forall(_._5.split(" ").length <= 5))
    // the two 20-token copies cluster (n_same_span=2) on the FULL hash...
    val big = capped.filter(_._2 == 20L)
    assert(big.map(_._1).toSet == Set(1L, 2L) && big.forall(_._3 == 2L))
    assert(big.map(_._4).distinct.length == 1)
    // ...and their truncated text equals the 10-token spans' prefix, yet
    // the hashes differ — counting on truncated text would have merged
    // all four spans into one bogus n_same_span=4 cluster
    val small = capped.filter(_._2 == 10L)
    assert(small.length == 2 && small.forall(_._3 == 2L))
    assert(small.map(_._5).toSet == big.map(_._5).toSet) // same capped prefix
    assert(small.map(_._4).toSet != big.map(_._4).toSet) // different identity
    // uncapped output: span_hash IS md5(span_text) — the identity the
    // d23 oracle replays
    val un = Dedup.duplicateSpanExtents(docs, spanTokens = 4).collect()
    for (r <- un)
      assert(r.getString(5) == org.apache.commons.codec.digest.DigestUtils
        .md5Hex(r.getString(6)))
  }

  test("duplicateSpanExtents agrees with removeDuplicateSpans on coverage totals") {
    // both operators derive from the same marking: per doc, the sum of
    // span lengths must equal d10's dup_words and the span count its
    // n_dup_spans — a cross-operator consistency contract on random text
    val rnd = new scala.util.Random(14)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docs = (1L to 30L).map { i =>
      (i, Vector.fill(5 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val stats = Dedup.removeDuplicateSpans(docs, spanTokens = 3)
      .select("doc_id", "dup_words", "n_dup_spans").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val spans = Dedup.duplicateSpanExtents(docs, spanTokens = 3)
      .groupBy("doc_id").agg(sum("span_len").as("w"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for ((id, (w, n)) <- stats if w > 0) assert(spans(id) == ((w, n)), s"doc $id")
    assert(spans.keySet == stats.filter(_._2._1 > 0).keySet)
  }

  test("spanSurvivorCut keeps the lowest-(doc, pos) occurrence and cuts the rest") {
    // "a b c d e" occurs three times (doc 1 twice, doc 2 once): the policy
    // keeps ONLY doc 1's first occurrence; doc 1's second copy and doc 2's
    // copy are cut. Doc 3's mosaic span is unique as a whole -> survivor
    // of its own cluster -> untouched. Docs 4/5 share "m n o p q"-family
    // spans but as DIFFERENT maximal texts -> each its own survivor.
    val docs = Seq(
      (1L, "a b c d e x a b c d e"),
      (2L, "q a b c d e r"),
      (3L, "m n o p q r"),
      (4L, "m n o p q z"),
      (5L, "n o p q r w")
    ).toDF("doc_id", "text")
    val got = Dedup.spanSurvivorCut(docs, spanTokens = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(got == Set(
      (1L, 11L, 5L, 1L, "a b c d e x"),   // second in-doc copy cut
      (2L, 7L, 5L, 1L, "q r"),            // cross-doc copy cut
      (3L, 6L, 0L, 0L, "m n o p q r"),    // unique mosaic: survivor, kept
      (4L, 6L, 0L, 0L, "m n o p q z"),
      (5L, 6L, 0L, 0L, "n o p q r w")))
    // conservation: total cut words = total span_len of non-survivor spans
    val spans = Dedup.duplicateSpanExtents(docs, spanTokens = 4)
    val nonSurvivor = spans.withColumn("rk",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("span_hash")
            .orderBy(col("doc_id"), col("span_pos_first"))))
      .filter(col("rk") > 1)
      .agg(sum("span_len")).collect()(0).getLong(0)
    assert(got.toSeq.map(_._3).sum == nonSurvivor)
  }

  test("spanGramCounts state is additive and definition-identical to the internal marking") {
    // the streaming twin's contract: gram counts over disjoint batches SUM
    // to the corpus counts, and spans derived from the folded cnt>=2 set
    // (the dupGrams override) equal the internal single-pass derivation —
    // any drift between spanGramCounts' and coveredPositions' gram
    // definitions would break the twin silently, so pin it on random text
    val rnd = new scala.util.Random(41)
    val vocab = Vector("qa", "qb", "qc", "qd", "qe")
    val docs = (1L to 24L).map { i =>
      (i, Vector.fill(4 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val b1 = docs.filter(col("doc_id") <= 12L)
    val b2 = docs.filter(col("doc_id") > 12L)
    val folded = Dedup.spanGramCounts(b1, 3).unionByName(Dedup.spanGramCounts(b2, 3))
      .groupBy("gram").agg(sum("cnt").as("cnt"))
    val whole = Dedup.spanGramCounts(docs, 3)
    assert(folded.except(whole).count() == 0 && whole.except(folded).count() == 0)
    val viaState = Dedup.duplicateSpanExtents(docs, 3,
      dupGrams = Some(folded.filter(col("cnt") >= 2)))
    val direct = Dedup.duplicateSpanExtents(docs, 3)
    assert(direct.count() > 0)
    assert(viaState.except(direct).count() == 0 && direct.except(viaState).count() == 0)
  }

  test("removeDuplicateSpans matches a naive driver-side reference on random corpora") {
    // independent re-implementation: brute-force gram counting + interval
    // merge over plain Scala collections, compared field-by-field
    val rnd = new scala.util.Random(20260813)
    val vocab = Array("a", "b", "c", "d", "e")
    for (trial <- 1 to 5) {
      val k = 2 + rnd.nextInt(3) // 2..4
      val corpus = (1L to 12L).map { id =>
        id -> (0 until (1 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      val grams = corpus.flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        (0 to w.length - k).map(p => (id, p, w.slice(p, p + k).mkString(" ")))
      }
      val dupGrams = grams.groupBy(_._3).filter(_._2.size >= 2).keySet
      val expect = corpus.map { case (id, text) =>
        val w = text.split(" ", -1)
        val starts = (0 to w.length - k).filter(p => dupGrams(w.slice(p, p + k).mkString(" ")))
        val covered = w.indices.map(p => starts.exists(s => s <= p && p <= s + k - 1))
        val spans = w.indices.count(p => covered(p) && (p == 0 || !covered(p - 1)))
        (id, (w.length.toLong, covered.count(identity).toLong, spans.toLong,
          w.indices.filterNot(covered).map(w).mkString(" ")))
      }.toMap
      val got = Dedup.removeDuplicateSpans(corpus.toDF("doc_id", "text"), spanTokens = k)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(5))))
        .toMap
      assert(got == expect, s"trial $trial (k=$k)")
    }
  }

  test("wordShinglesWithPos positions align with the shingle windows") {
    val df = Seq((1L, "a b c d"), (2L, "x")).toDF("id", "text")
    val rows = df.select($"id",
        graft.functions.WordShingles.wordShinglesWithPos($"text", 2).as(Seq("pos", "shingle")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(rows == Set((1L, 0, "a b"), (1L, 1, "b c"), (1L, 2, "c d")))
  }

  test("chunkDedup keeps only the global first occurrence of each chunk") {
    // 2-word chunks. doc 1: [a b][c d]; doc 2: [c d][e f] -> [c d] dropped;
    // doc 3 duplicates doc 1 entirely -> nothing kept.
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "c d e f"),
      (3L, "a b c d")
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, chunkTokens = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((2L, 2L, "a b c d")))
    assert(got(2L) == ((2L, 1L, "e f")))
    assert(got(3L) == ((2L, 0L, "")))
  }

  test("chunkDedup short-final-chunk and single-chunk docs round-trip") {
    val docs = Seq((1L, "p q r"), (2L, "z")).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, chunkTokens = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((2L, 2L, "p q r"))) // [p q][r] both kept, rejoined in order
    assert(got(2L) == ((1L, 1L, "z")))
  }

  test("qualityFilter: clean doc keeps; failed rules named in fixed order") {
    val docs = Seq(
      // 12 tokens, avg_word_len 51/12=4.25, all alphabetic, stopwords
      // {the, that}, dup 1/12, 11 once-each bigrams -> clean
      (1L, "the quick brown foxes jumped over the lazy dogs near that barn"),
      // 2 tokens: too_short; no stopwords; single bigram has share 1.0
      (2L, "tiny doc"),
      // numeric: avg_word_len 17/6 < 3, zero alpha words, zero stopwords
      (3L, "12 34 5678 999 000 111"),
      // "the"x5 + "is": avg 17/6 < 3, dup 1-2/6 > 0.3, top bigram 4/5 > 0.2
      (4L, "the the the the the is")
    ).toDF("doc_id", "text")
    val got = TextStats.qualityFilter(docs).select("doc_id", "fail_reasons", "keep")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(got(1L) == (("", true)))
    assert(got(2L) == (("too_short,no_stopwords,rep_bigram", false)))
    assert(got(3L) == (("word_len,non_alpha,no_stopwords", false)))
    assert(got(4L) == (("word_len,dup_words,rep_bigram", false)))
  }

  test("the full training-data pipeline composes: quality -> dedup -> decontaminate -> mix -> shards") {
    import graft.llm.Sampling
    val base = java.nio.file.Files.createTempDirectory("graft-e2e")
    try {
      val good = (1L to 20L).map(i => (i, f"the quick item d$i%02d of set with that tag$i%02d"))
      val dups = Seq(101L, 102L, 103L).map(i => (i, good.head._2)) // copies of doc 1
      val junk = Seq((201L, "12 34"), (202L, "the the the the the is"))
      val contaminated = Seq((301L, "the worst of copies alpha beta gamma delta epsilon here"))
      val docs = (good ++ dups ++ junk ++ contaminated).toDF("doc_id", "text")
      val evalDocs = Seq((9001L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")

      // 1. route on quality, keep the clean side
      val kept = docs.join(
        TextStats.qualityFilter(docs).filter(col("keep")).select("doc_id"), Seq("doc_id"))
      // 2. near-duplicate removal (keeps the lowest id of each cluster)
      val deduped = Dedup.removeNearDuplicates(kept, minJaccard = 0.8)
      // 3. benchmark decontamination (5-gram overlap with the eval set)
      val clean = Dedup.decontaminate(deduped, evalDocs, n = 5)
      // 4. token-budget mix + split + pack + shard export
      val tokens = size(split(col("text"), " "))
      val mixed = Sampling.tokenBudgetMix(clean.withColumn("domain", lit("web")),
        "domain", tokens, Map.empty, defaultBudget = Long.MaxValue)
      Sampling.writeTrainingShards(mixed.drop("n_tokens", "cum_tokens"),
        s"$base/shards", "doc_id", tokens.cast("long"),
        capacity = 32L, numShards = 2)

      val back = spark.read.parquet(s"$base/shards")
      val ids = back.select("doc_id").collect().map(_.getLong(0)).toSet
      // every good doc exactly once; dup copies, junk, and the
      // contaminated doc are gone; nothing else invented
      assert(ids == (1L to 20L).toSet)
      assert(back.count() == 20)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("unigramSurprisal: exact integer floor-log2 with add-one smoothing") {
    val ref = Seq((0L, "a a b")).toDF("doc_id", "text")
    // N=3 occurrences, V=2 types -> numerator 5
    // a: floor(log2(5/3)) via 5 div 3 = 1 -> 0 bits
    // b: 5 div 2 = 2 -> 1 bit; OOV c: 5 div 1 = 5 -> 2 bits
    val scored = Seq((1L, "a b c"), (2L, "a a"), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextStats.unigramSurprisal(scored, ref).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got(1L) == ((3L, 3L, Some(1.0))))
    assert(got(2L) == ((2L, 0L, Some(0.0))))
    // token-less docs are emitted as unscoreable, never silently dropped
    assert(got(3L) == ((0L, 0L, None)))
    assert(got(4L) == ((0L, 0L, None)))
  }

  test("bigramSurprisal: exact conditional bits with add-one smoothing") {
    // ref "a b a": bigrams {a b: 1, b a: 1}; contexts {a: 1, b: 1}; V = 2
    val ref = Seq((0L, "a b a")).toDF("doc_id", "text")
    val scored = Seq(
      (1L, "a b a c"), // "a b": (1+2)div2=1 -> 0 bits; "b a": 0; "a c": (1+2)div1=3 -> 1
      (2L, "z z"),     // OOV context: (0+2)div1=2 -> 1 bit
      (3L, "a"),       // no transitions
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextStats.bigramSurprisal(scored, ref).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got(1L) == ((3L, 1L, Some(1.0 / 3.0))))
    assert(got(2L) == ((1L, 1L, Some(1.0))))
    assert(got(3L) == ((0L, 0L, None)))
    assert(got(4L) == ((0L, 0L, None)))
  }

  test("perplexityBuckets: two-level terciles equal the flat ranking; unscored routed") {
    val rnd = new scala.util.Random(71)
    val words = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii", "jj")
    val docs = ((0L until 200L).map { i =>
      (i, Seq.fill(4 + rnd.nextInt(20))(words(rnd.nextInt(words.length))).mkString(" "))
    } :+ (999L, "solo")).toDF("doc_id", "text") // 1-token doc -> unscored
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val got = TextStats.perplexityBuckets(docs, ref).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3), r.getString(4)))
    // flat reference: sort scoreable averages, thresholds at exact ranks
    val avgs = got.filter(_._1 != 999L).sortBy(x => (x._2, x._1)).map(_._2)
    val n = avgs.length
    val (t1, t2) = (avgs((n + 2) / 3 - 1), avgs((2 * n + 2) / 3 - 1))
    got.foreach { case (id, avg, bucket) =>
      val want = if (id == 999L) "unscored"
        else if (avg <= t1) "head" else if (avg <= t2) "middle" else "tail"
      assert(bucket == want, s"doc $id avg=$avg")
    }
    val sizes = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes("head") + sizes("middle") + sizes("tail") == n && sizes("unscored") == 1)
    // head holds at least a third (count(<= t1) >= ceil(n/3) by the
    // PERCENTILE_DISC rank; ties can only grow it, never shrink it)
    assert(sizes("head") >= n / 3)
    // partitioning-independent
    val re = TextStats.perplexityBuckets(docs.repartition(7), ref).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    got.foreach { case (id, _, b) => assert(re(id) == b) }
  }

  test("BPE trainMerges learns the hand-computed sequence; tokenize replays it") {
    import graft.llm.Bpe
    val docs = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val rules = Bpe.trainMerges(docs, numMerges = 5)
    // round 1 pairs: (l,o)=3 (o,w)=3 (w,e)=1 (e,r)=1 -> tie breaks
    // lexicographically to (l,o); round 2: (lo,w)=3; round 3: every pair
    // occurs once -> early stop at 2 rules despite numMerges=5
    assert(rules.map(r => (r._2, r._3, r._5)) == Seq(("l", "o", 3L), ("lo", "w", 3L)))
    val toks = docs.select(LlmFixtures.tokenize(rules.map(r => (r._2, r._3)))(col("text")).as("t"))
      .collect()(0).getSeq[String](0)
    assert(toks == Seq("low", "low", "low", "e", "r"))
    // greedy left-to-right: "aaa" under (a,a) merges the FIRST pair only
    val aaa = Seq((1L, "aaa")).toDF("doc_id", "text")
      .select(LlmFixtures.tokenize(Seq(("a", "a")))(col("text")).as("t"))
      .collect()(0).getSeq[String](0)
    assert(aaa == Seq("aa", "a"))
  }

  test("batched BPE training learns the exact single-merge sequence") {
    import graft.llm.Bpe
    // adversarial corpus: naive "top-K disjoint" batching diverges here —
    // after merging (a,b), the created pair (ab,c) ties (c,d) at count n
    // and wins the lexicographic tie-break, so rule 2 is (ab,c), NOT the
    // disjoint candidate (c,d). The safe-prefix walk must stop the batch.
    val tricky = Seq.tabulate(5)(i => (i.toLong, "xabcd")).toDF("doc_id", "text")
    val single = Bpe.trainMerges(tricky, numMerges = 6, maxBatch = 1)
    val batched = Bpe.trainMerges(tricky, numMerges = 6, maxBatch = 4)
    assert(single.map(r => (r._2, r._3)).take(2) == Seq(("a", "b"), ("ab", "c")))
    assert(batched == single)

    // pseudo-random corpora: batched == single for several batch widths
    val rnd = new scala.util.Random(11)
    val alphabet = "abcde"
    for (trial <- 0 until 3) {
      val docs = Seq.tabulate(30) { i =>
        val words = Seq.fill(3 + rnd.nextInt(4))(
          Seq.fill(2 + rnd.nextInt(5))(alphabet(rnd.nextInt(alphabet.length))).mkString)
        (i.toLong, words.mkString(" "))
      }.toDF("doc_id", "text")
      val base = Bpe.trainMerges(docs, numMerges = 10, maxBatch = 1)
      for (k <- Seq(2, 4, 8)) {
        assert(Bpe.trainMerges(docs, numMerges = 10, maxBatch = k) == base,
          s"trial $trial maxBatch $k")
      }
    }

    // batching actually batches: a corpus of independent frequent pairs
    // trains in fewer rounds than rules
    val flat = Seq.tabulate(8)(i => (i.toLong, "ab cd ef gh ab cd ef gh"))
      .toDF("doc_id", "text")
    // pairs live WITHIN words: four independent 2-char words give four
    // equal-count disjoint candidates with no trigrams -> one round
    val (rules, rounds) = Bpe.trainMergesWithRounds(flat, numMerges = 4, maxBatch = 4)
    assert(rules.length == 4)
    assert(rounds < rules.length, s"rounds=$rounds not < rules=${rules.length}")
    assert(rules == Bpe.trainMerges(flat, numMerges = 4, maxBatch = 1))
  }

  test("native BPE encoder matches the UDF reference implementation") {
    import graft.llm.Bpe
    val docs = Seq((1L, "low low lower lowest"), (2L, "new newer newest"),
      (3L, ""), (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val rules = Bpe.trainMerges(docs, numMerges = 6).map(r => (r._2, r._3))
    val viaKernel = docs
      .select(col("doc_id"), graft.functions.BpeEncode.encodeCol(col("text"), rules).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaUdf = docs
      .select(col("doc_id"), LlmFixtures.tokenize(rules)(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaKernel == viaUdf)
    assert(viaKernel(3L) == Seq.empty && viaKernel(4L) == Seq.empty)
    // greedy min-rank semantics survive the kernel: "aaa" under (a,a)
    val aaa = Seq("aaa").toDF("s")
      .select(graft.functions.BpeEncode.encodeCol(col("s"), Seq(("a", "a"))).as("t"))
      .collect()(0).getSeq[String](0)
    assert(aaa == Seq("aa", "a"))
    // a duplicated (left,right) rule resolves to its FIRST rank in BOTH
    // implementations — .toMap in the UDF kept the LAST and diverged from
    // the kernel on caller-supplied tables with repeats
    val dupRules = Seq(("a", "b"), ("b", "c"), ("a", "b"))
    val dupKernel = Seq("abc").toDF("s")
      .select(graft.functions.BpeEncode.encodeCol(col("s"), dupRules).as("t"))
      .collect()(0).getSeq[String](0)
    val dupUdf = Seq("abc").toDF("s")
      .select(LlmFixtures.tokenize(dupRules)(col("s")).as("t"))
      .collect()(0).getSeq[String](0)
    assert(dupKernel == Seq("ab", "c") && dupUdf == dupKernel)
    // the kernel symbols by CODE POINT: an astral-plane char stays one
    // symbol (never split into lone surrogates)
    val emoji = Seq("a😀b").toDF("s")
      .select(graft.functions.BpeEncode.encodeCol(col("s"), Seq(("x", "y"))).as("t"))
      .collect()(0).getSeq[String](0)
    assert(emoji == Seq("a", "😀", "b"))
    // real corpus: kernel == UDF over every document
    val corpus = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpusRules = Bpe.trainMerges(corpus, numMerges = 8, maxBatch = 4)
      .map(r => (r._2, r._3))
    val mismatch = corpus
      .select(col("doc_id"),
        graft.functions.BpeEncode.encodeCol(col("text"), corpusRules).as("k"),
        LlmFixtures.tokenize(corpusRules)(col("text")).as("u"))
      .filter(col("k") =!= col("u"))
      .count()
    assert(mismatch == 0L)
  }

  test("cdcBoundaryStats matches the model and boundaries survive inserts") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again and again"),
      (2L, "short"), // shorter than the window: no hashes at all
      (3L, "a" * 100))
    val w = 16; val mod = 64L
    def model(s: String): Seq[Int] =
      TextStats.windowHashes(s, w).toSeq.zipWithIndex
        .collect { case (h, i) if h % mod == 0 => i + 1 }
    val got = TextStats.cdcBoundaryStats(texts.toDF("doc_id", "text"), w)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))).toMap
    texts.foreach { case (id, s) =>
      val b = model(s)
      assert(got(id) == ((b.length.toLong, b.headOption.map(_.toLong), b.length + 1L)), s"doc $id")
    }
    // content-defined stability: an insert shifts LATER boundaries by its
    // length but does not move them relative to content (fixed-width
    // chunking would re-cut everything after the edit)
    val base = ("abcdefgh" * 40).zipWithIndex.map { case (c, i) => (c + i % 7).toChar }.mkString
    val ins = 100
    val edited = base.substring(0, ins) + "XYZ" + base.substring(ins)
    val after = model(base).filter(_ > ins + w).map(_ + 3)
    assert(model(edited).filter(_ > ins + w + 3) == after)
  }

  test("cooccurrenceLift: hand-computed document frequencies, floor, lift") {
    // 10 docs. Word df: x in 8 docs, y in 7, z in 2 (z falls under the
    // max(5, 10/50)=5 floor and must never appear in a pair). x&y co-occur
    // in 5 docs; within-doc repeats of a word must NOT inflate df or n_ab
    // (document-level distinct). Expected lift for (x, y):
    // (5 * 10 * 1_000_000) div (8 * 7) = 892_857.
    val docs = (
      (1 to 5).map(i => (i.toLong, "x y filler x")) ++   // x & y (x repeated)
      (6 to 8).map(i => (i.toLong, "x alone here")) ++   // x only
      Seq((9L, "y z mix"), (10L, "y z mix"))             // y & z
    ).toDF("doc_id", "text")
    val got = graft.llm.TextStats.cooccurrenceLift(docs, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.forall(p => p._1 != "z" && p._2 != "z"))
    val xy = got.find(p => p._1 == "x" && p._2 == "y")
    assert(xy.contains(("x", "y", 5L, 8L, 7L, 892857L)))
  }

  test("topTokens: exact heavy hitters; two-level equals flat top-k") {
    val docs = Seq(
      ("a", "x x x y y z"), ("a", "y w"), ("b", "q q r")
    ).toDF("source", "text")
    val got = TextStats.topTokens(docs, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(got.toSet == Set(("a", "x", 3L, 1), ("a", "y", 3L, 2), ("b", "q", 2L, 1), ("b", "r", 1L, 2)))
    // bucketing never changes the answer, only the partition sizes
    val many = (0 until 200).map(i => (s"s${i % 2}", s"t${i % 17} t${i % 5} t${i % 17}"))
      .toDF("source", "text")
    val flat = TextStats.topTokens(many, k = 4, nBuckets = 1).collect().toSet
    val bucketed = TextStats.topTokens(many, k = 4, nBuckets = 64).collect().toSet
    assert(flat == bucketed)
  }

  test("topKeywords: idf sinks universal terms, surfaces group-specific ones") {
    // "the" appears in BOTH sources with high tf; "quark"/"gluon" are
    // unique to source a, "tort"/"lien" to source b, each at tf=2
    val docs = Seq(
      ("a", "the the the quark gluon quark gluon"),
      ("b", "the the the tort lien tort lien")
    ).toDF("source", "text")
    val kw = TextStats.topKeywords(docs, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(kw == Set(("a", "gluon"), ("a", "quark"), ("b", "lien"), ("b", "tort")),
      s"universal 'the' must not outrank group-specific terms: $kw")
    // raw topTokens on the same corpus puts "the" first in both groups
    val tt = TextStats.topTokens(docs, k = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tt == Map("a" -> "the", "b" -> "the"))
    // two-level equals flat under heavier vocabulary
    val many = (0 until 200).map(i => (s"s${i % 3}", s"t${i % 23} shared t${i % 7}"))
      .toDF("source", "text")
    val flat = TextStats.topKeywords(many, k = 4, nBuckets = 1).collect().toSet
    assert(flat == TextStats.topKeywords(many, k = 4, nBuckets = 64).collect().toSet)
  }

  test("exactQuantiles: PERCENTILE_DISC semantics per group, duplicates included") {
    val df = ((1 to 10).map(v => ("a", v.toLong)) ++
      Seq(("b", 2L), ("b", 2L), ("b", 2L), ("b", 4L))).toDF("g", "v")
    val got = TextStats.exactQuantiles(df, "g", col("v"), Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got("a") == ((5L, 9L, 10L))) // ceil(.5*10)=5th, ceil(.9*10)=9th, ceil(.99*10)=10th
    assert(got("b") == ((2L, 4L, 4L))) // cum(2)=3>=2; cum(2)=3<ceil(3.6)=4 -> 4
    intercept[IllegalArgumentException] {
      TextStats.exactQuantiles(df, "g", col("v"), Seq(0.0))
    }
    // decimal-exact rank: binary-double 0.07*100 = 7.000000000000001 would
    // ceil one rank too high (value 8); PERCENTILE_DISC says rank 7
    val hundred = (1 to 100).map(v => ("c", v.toLong)).toDF("g", "v")
    val p07 = TextStats.exactQuantiles(hundred, "g", col("v"), Seq(0.07))
      .collect()(0).getLong(1)
    assert(p07 == 7L, s"ceil(0.07*100) must be exact-decimal 7, got rank value $p07")
  }

  test("qualityFilter: null text fails like junk, never vacuously passes") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""))
      .toDF("doc_id", "text")
    val got = TextStats.qualityFilter(docs).select("doc_id", "keep")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> false, 2L -> false))
  }

  test("qualityFilter: thresholds are configurable per rule") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    // 6 tokens, no stopwords: default rejects; relaxed stopword floor keeps
    val strict = TextStats.qualityFilter(docs).select("keep").collect().head.getBoolean(0)
    val relaxed = TextStats.qualityFilter(docs,
        TextStats.QualityThresholds(minDistinctStopwords = 0))
      .select("keep").collect().head.getBoolean(0)
    assert(!strict && relaxed)
  }

  test("top_k aggregate: exact, tie-deterministic, independent of partitioning") {
    // 200 rows, many ties: ord = i % 10 (values 0..9 each x20), id = i
    val rows = (0L until 200L).map(i => (i % 10, i)).toDF("ord", "id")
    def run(parts: Int) = rows.repartition(parts)
      .agg(graft.functions.TopKAgg.topK(col("ord"), col("id"), 5).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.ord"), col("e.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // expected under (ord DESC, id ASC): ord 9 appears at ids 9,19,29,...;
    // top 5 = (9,9),(9,19),(9,29),(9,39),(9,49) — strongest first
    val want = Seq((9L, 9L), (9L, 19L), (9L, 29L), (9L, 39L), (9L, 49L))
    assert(run(1) == want)
    assert(run(7) == want)   // multi-partition: partial heaps + merges
    assert(run(64) == want)  // more partials than k survivors
    // fewer rows than k: all rows, still strongest-first
    val small = Seq((5L, 1L), (3L, 2L)).toDF("ord", "id")
      .agg(graft.functions.TopKAgg.topK(col("ord"), col("id"), 5).as("tk"))
      .select(explode(col("tk")).as("e")).select(col("e.ord"), col("e.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(small == Seq((5L, 1L), (3L, 2L)))
    // SQL registration
    graft.functions.GraftExtensions.register(spark)
    rows.createOrReplaceTempView("tk_in")
    val viaSql = spark.sql(
      "SELECT top_k(ord, id, 2) FROM tk_in").collect().head
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql.toSeq == Seq((9L, 9L), (9L, 19L)))
  }

  test("top_k collapses exact (ord,id) duplicates without shrinking the buffer") {
    // 3 distinct pairs, each duplicated x40, k = 3: every arrival order
    // (incl. duplicate-arrives-while-full, which once evicted the weakest
    // and then no-opped the add) must retain all 3 distinct pairs
    val rows = (0 until 120).map(i => ((i % 3).toLong, (i % 3).toLong))
      .toDF("ord", "id")
    for (parts <- Seq(1, 5, 40)) {
      val got = rows.repartition(parts)
        .agg(graft.functions.TopKAgg.topK(col("ord"), col("id"), 3).as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.ord"), col("e.id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((2L, 2L), (1L, 1L), (0L, 0L)), s"parts=$parts: $got")
    }
  }

  test("MisraGries sketch: <= k counters, contains every item above N/(k+1), lower-bounds") {
    // 100-word vocabulary, zipf-ish: token i repeated (101-i) times
    val words = (1 to 100).flatMap(i => Seq.fill(101 - i)(f"w$i%03d"))
    val n = words.size // 5050
    val docs = words.grouped(50).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val tokens = docs.select(explode(split(col("text"), " ")).as("token"))
      .repartition(7) // force multi-partition partial sketches + merges
    val sketch = tokens
      .agg(graft.functions.MisraGries.sketch(col("token"), 10).as("s"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.size <= 10)
    val trueCounts = (1 to 100).map(i => f"w$i%03d" -> (101 - i).toLong).toMap
    // guarantee: every token with freq > N/(k+1) is a candidate
    trueCounts.filter(_._2 > n / 11).keys.foreach(t =>
      assert(sketch.contains(t), s"missing guaranteed heavy hitter $t"))
    // counters are lower bounds within N/(k+1) of truth
    sketch.foreach { case (t, c) =>
      assert(c <= trueCounts(t), s"$t overcounted")
      assert(c >= trueCounts(t) - n / 11 - 1, s"$t undercounted beyond the bound")
    }
  }

  test("MisraGries sketch survives shuffle serialization of >64KiB tokens") {
    // writeUTF caps at 65535 encoded bytes; a pathological corpus token past
    // that must round-trip through the partial-sketch shuffle, not crash it
    val fat = "é" * 40000 // 80000 UTF-8 bytes
    val tokens = (Seq.fill(6)(fat) ++ Seq.fill(2)("tiny"))
      .toDF("token").repartition(4) // force serialize/deserialize merges
    val sketch = tokens
      .agg(graft.functions.MisraGries.sketch(col("token"), 4).as("s"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.contains(fat), "fat token lost in serialization")
    assert(sketch(fat) >= 5L && sketch(fat) <= 6L) // lower bound within N/(k+1)
  }

  test("heavyHitters == exact GROUP-BY-HAVING answer, independent of partitioning") {
    val words = (1 to 40).flatMap(i => Seq.fill(if (i <= 3) 60 else 4)(s"t$i"))
    val n = words.size // 3*60 + 37*4 = 328
    val base = words.grouped(20).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    // exact heavy hitters at k=8: freq > 328/8 = 41 -> exactly t1,t2,t3
    val expected = Set(("t1", 60L, 328L), ("t2", 60L, 328L), ("t3", 60L, 328L))
    for (parts <- Seq(1, 5, 11)) {
      val got = TextStats.heavyHitters(base.repartition(parts), k = 8)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"parts=$parts")
    }
    assert(n == 328)
  }

  test("spanCorruption matches a naive driver-side reference (islands + order)") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three"), (3L, "solo")).toDF("doc_id", "text")
    val got = graft.llm.TextStats.spanCorruption(docs, maskHexDigits = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).sorted.toSeq
    // naive reference: same md5 mask, spans = runs of consecutive positions
    val md = java.security.MessageDigest.getInstance("MD5")
    def firstHex(s: String): Char = {
      val h = md.digest(s.getBytes("UTF-8"))
      "0123456789abcdef".charAt((h(0) >> 4) & 0xf)
    }
    val want = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three", 3L -> "solo").flatMap { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").zipWithIndex
        .filter { case (w, p) => w.nonEmpty && firstHex(s"$id:$p") < '6' }
      // group consecutive positions into spans
      val grouped = toks.foldLeft(Vector.empty[Vector[(String, Int)]]) {
        (acc, t) =>
          if (acc.nonEmpty && acc.last.last._2 == t._2 - 1) acc.init :+ (acc.last :+ t)
          else acc :+ Vector(t)
      }
      grouped.zipWithIndex.map { case (g, i) =>
        (id, i + 1, g.head._2.toLong, g.last._2.toLong, g.length.toLong,
          g.map(_._1).mkString(" "))
      }
    }.sorted
    assert(got == want)
  }

  test("Ids.denseIds: rank order, duplicate collapse, partition invariance, name clash") {
    val words = Seq("delta", "alpha", "charlie", "alpha", "bravo").toDF("w")
    val want = Map("alpha" -> 0L, "bravo" -> 1L, "charlie" -> 2L, "delta" -> 3L)
    val got = graft.ops.Ids.denseIds(words, "w", "wid")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    // a different physical layout yields the identical dictionary
    val re = graft.ops.Ids.denseIds(words.repartition(7), "w", "wid")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(re == want)
    assertThrows[IllegalArgumentException](
      graft.ops.Ids.denseIds(words, "w", "w"))
  }
}
