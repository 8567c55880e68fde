package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X1: full-text search analyzers and the search-view token table
  * (reference: ArangoDbUtilities.java:219-312). The reference delegates to
  * ArangoSearch's `n-gram` (min=3, max=4, preserveOriginal) and
  * `text_en_no_stem` (lowercase, no stem, edge-ngram 3..12, preserveOriginal)
  * analyzers plus a view mapping (collection, field) pairs; here the same
  * surface is a derived token DataFrame — scalable, incremental-friendly, and
  * joinable for search.
  */
object TextIndex {

  /** Character n-grams of `s` for n in [3, 4], plus the original — the
    * reference's "n-gram" analyzer semantics (preserveOriginal).
    * Implemented with sequence+transform: stays in whole-stage codegen.
    * Emits one array column; explode downstream.
    */
  def charNgrams(s: Column): Column = {
    val grams = (3 to 4).map { n =>
      // guard: Spark's sequence(1, 0) descends instead of returning empty
      val hi = length(s) - (n - 1)
      val idxs = when(hi >= 1, sequence(lit(1), hi)).otherwise(array().cast("array<int>"))
      transform(idxs, i => s.substr(i, lit(n)))
    }
    val all = grams.reduce(concat(_, _))
    array_union(all, array(s))
  }

  /** Edge n-grams (prefixes) of each lowercased word, lengths [3, 12],
    * plus the whole word — the reference's `text_en_no_stem` analyzer
    * (locale en, lowercase, no accent folding beyond lowercase, no stemming,
    * edge-ngram 3..12, preserveOriginal).
    */
  def edgeNgramsPerWord(s: Column): Column = {
    // \s+ split: reference text analyzers tokenize on ANY whitespace (tabs,
    // newlines in OWL definition literals); oracles mirror this with
    // DuckDB's regexp_split_to_array, which has identical empty-field
    // semantics to Java split("\\s+", -1)
    val (minN, maxN) = (3, 12)
    val words = split(lower(s), "\\s+")
    flatten(transform(words, w =>
      array_union(
        transform(sequence(lit(minN), greatest(least(length(w), lit(maxN)), lit(minN))),
          n => w.substr(lit(1), n)),
        array(w))))
  }

  /** Full-strength English stemmer for the reference's `text_en` analyzer
    * (ArangoDbUtilities.java:305 attaches "text_en" — lowercase + stem — as
    * the first analyzer of every view field). Delegates to the native
    * Porter kernel ([[graft.functions.PorterStem]]): all eight Porter
    * steps, so derivational suffixes collide as the reference's
    * ArangoSearch analyzer does — "classification"/"classify" → "classifi",
    * "relational"→"relate", "hopefulness"→"hope" — where the previous
    * plural/-ing/-ed subset left them distinct. Input must already be
    * lowercased; the DuckDB oracles mirror the full rule chain via
    * [[graft.functions.PorterStem.sqlCtes]].
    */
  def stemEn(w: Column): Column = graft.functions.PorterStem.stemCol(w)

  /** Accent folding (NFD + strip combining marks): "café" and "cafe" index
    * to the same token, mirrored in oracles by DuckDB's `strip_accents`
    * (same NFD semantics — both leave non-decomposable "ø" alone).
    */
  def foldAccents(w: Column): Column = graft.functions.AccentFold.foldCol(w)

  /** `text_en` analyzer: lowercase words, accent-folded, stemmed — one
    * token per word (the reference's full text_en behavior:
    * lowercase + accent fold + English stem). Splits on `\s+` like the
    * reference's text analyzers (leading/trailing whitespace still yields
    * empty fields, which [[buildTokenTable]] filters out of the index;
    * oracles mirror via regexp_split_to_array).
    */
  def textEnTokens(s: Column): Column =
    transform(split(lower(s), "\\s+"), w => stemEn(foldAccents(w)))

  /** Build the search token table for a set of (collection, field) links —
    * the engine's ArangoSearch view. `fieldsByCollection` mirrors the
    * collection-maps JSON consumed by createView
    * (ArangoDbUtilities.java:289-308; FIXTURES.md §5).
    *
    * Input `vertices`: (id, number, attrs map<string,array<string>>).
    * Output: (collection, key, field, analyzer, token) — partitioned/search-
    * able by token; at scale, write bucketed by token for point lookups.
    */
  def buildTokenTable(vertices: DataFrame, fieldsByCollection: Map[String, Seq[String]]): DataFrame = {
    val links = fieldsByCollection.toSeq
      .filterNot { case (c, _) => c == "edges" } // reference skips non-vertex entries
      .flatMap { case (c, fs) => fs.map(f => (c, f)) }
    val linkRows = links.map { case (c, f) => struct(lit(c).as("collection"), lit(f).as("field")) }
    if (linkRows.isEmpty) return vertices.sparkSession.emptyDataFrame

    val exploded = vertices
      .select(col("id").as("collection"), col("number").as("key"),
        explode(array(linkRows: _*)).as("link"), col("attrs"))
      .filter(col("collection") === col("link.collection"))
      .select(col("collection"), col("key"), col("link.field").as("field"),
        explode_outer(coalesce(col("attrs")(col("link.field")), array())).as("value"))
      .filter(col("value").isNotNull)

    // streamed gram generation (vs materialize-array-then-explode): the
    // trailing distinct gives the same token set — see CharNgramsExpr
    val ngram = exploded.select(col("collection"), col("key"), col("field"),
      lit("n-gram").as("analyzer"),
      graft.functions.CharNgrams.charNgramTokens(col("value")).as("token"))
    val edge = exploded.select(col("collection"), col("key"), col("field"),
      lit("text_en_no_stem").as("analyzer"),
      graft.functions.EdgeNgrams.edgeNgramTokens(col("value")).as("token"))
    val identity = exploded.select(col("collection"), col("key"), col("field"),
      lit("identity").as("analyzer"), col("value").as("token"))
    // explode-then-stem (not explode(textEnTokens(...))): a stem inside a
    // transform() lambda runs on ArrayTransform's interpreted path, while a
    // stem over the exploded column stays a codegen'd kernel call per token
    val textEn = exploded
      .select(col("collection"), col("key"), col("field"),
        explode(split(lower(col("value")), "\\s+")).as("word"))
      .select(col("collection"), col("key"), col("field"),
        lit("text_en").as("analyzer"), stemEn(foldAccents(col("word"))).as("token"))

    // doubled/leading spaces in values produce empty word tokens in the
    // word-based analyzers — noise in an index, and search("") must not hit
    ngram.union(edge).union(identity).union(textEn)
      .filter(col("token") =!= "")
      .distinct()
  }

  /** Parse the reference's collection-maps JSON into the
    * `fieldsByCollection` argument of [[buildTokenTable]]. Shape
    * (ArangoDbUtilities.java:282-308):
    * {{{
    * {"maps": [["CL", {"individual_fields": [{"field_to_display": "label"}, …]}], …]}
    * }}}
    * Reference skip rules reproduced exactly: entries named "edges",
    * "TEST_DOCUMENT_COLLECTION" or "TEST_EDGE_COLLECTION" are not linked.
    * Driver-side only (config parsing), order-preserving.
    */
  def linksFromJson(json: String): Map[String, Seq[String]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val skip = Set("edges", "TEST_DOCUMENT_COLLECTION", "TEST_EDGE_COLLECTION")
    val maps = JsonMethods.parse(json) \ "maps" match {
      case JArray(ms) => ms
      case _ => Nil
    }
    val pairs = maps.collect {
      case JArray(JString(name) :: spec :: _) if !skip.contains(name) =>
        val fields = spec \ "individual_fields" match {
          case JArray(fs) => fs.collect {
            case f if (f \ "field_to_display").isInstanceOf[JString] =>
              (f \ "field_to_display").asInstanceOf[JString].s
          }
          case _ => Nil
        }
        name -> fields
    }
    scala.collection.immutable.ListMap(pairs: _*)
  }

  /** Search: exact token lookup against the token table (any analyzer). */
  def search(tokens: DataFrame, query: String): DataFrame =
    tokens.filter(col("token") === lower(lit(query)) || col("token") === lit(query))
      .select("collection", "key", "field", "analyzer").distinct()

  /** Exact phrase search over whitespace tokens: documents containing the
    * words of `phrase` at CONSECUTIVE positions (lowercased match), with
    * the occurrence count. The positional-index query a term-only inverted
    * index cannot answer — "slow hash batch" as a phrase, not a bag.
    *
    * Plan shape: the corpus tokenizes once into a positional posting table;
    * each phrase word filters that table to ITS postings (term equality
    * pushes into the scan/generate stage — non-matching tokens never reach
    * a shuffle) and chains one equi-join on (doc, pos − offset). Join input
    * sizes are per-term posting lists — the classic intersect-by-position
    * merge, every row skinny, no arrays; a w-word phrase costs w−1
    * posting-list equi-joins regardless of corpus size.
    */
  def phraseMatch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseMatch: phrase must be non-empty")
    val toks = docs.select(col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), lower(col("w")).as("w"))
    def postings(word: String) = toks.filter(col("w") === word.toLowerCase)
    val first = postings(phrase.head).select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1).foldLeft(first) { case (acc, (word, i)) =>
      acc.join(postings(word).select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    }
      .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
  }

  /** Whole-DICTIONARY phrase tagging (the FlashText/Aho-Corasick use case
    * at corpus scale): find every occurrence of every dictionary phrase in
    * one pass. [[phraseMatch]] chains w−1 joins PER phrase — fine for one
    * query, wrong for a 10⁵-phrase taxonomy. Here the dictionary explodes
    * once into (phrase, offset, word) rows and BROADCASTS (dictionaries
    * are KB–MB; the corpus is the big side), the token table joins it
    * once, and a phrase occurrence is a (doc, phrase, start = pos − offset)
    * group that matched all `len` offsets — `(doc, phrase, start, offset)`
    * determines the token position, so the group count IS the distinct
    * offset count. One corpus-side shuffle on the group key, total work
    * proportional to matching tokens, independent of dictionary size in
    * join count.
    *
    * Matching is lowercase, whitespace-tokenized — the same token law as
    * the rest of the positional family.
    *
    * Output: (id, phrase, n_matches, first_pos) per document × matched
    * phrase.
    */
  def dictionaryTag(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "dictionaryTag: dictionary must be non-empty")
    require(phrases.forall(_.trim.nonEmpty), "dictionaryTag: blank phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = phrases.distinct.flatMap { p =>
      val ws = p.toLowerCase.split("\\s+").filter(_.nonEmpty)
      ws.zipWithIndex.map { case (w, off) => (p, off, w, ws.length) }
    }.toDF("phrase", "offset", "w", "len")
    val toks = docs.select(col("doc_id").as("id"),
        posexplode(split(lower(coalesce(col("text"), lit(""))), " "))
          .as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    toks.join(broadcast(dict), Seq("w"))
      .groupBy(col("id"), col("phrase"), col("len"),
        (col("pos").cast("long") - col("offset")).as("start"))
      .agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === col("len") && col("start") >= 0)
      .groupBy(col("id"), col("phrase"))
      .agg(count(lit(1)).as("n_matches"), min(col("start")).as("first_pos"))
  }

  /** Suffix-wildcard term search (`*er`): matching tokens per document with
    * occurrence counts. The wildcard becomes an EQUALITY on the first
    * |suffix| characters of the REVERSED token — the classic
    * reversed-field index trick: a trailing wildcard is un-indexable (no
    * shared prefix), but reversing turns it into a prefix key, so at
    * 100 TB the posting table is bucketed/sorted on the reversed-edge key
    * and the query is a point lookup + merge instead of a full-scan LIKE.
    * Here the key comparison is a codegen'd literal equality the scan
    * pushes down past the explode.
    */
  def suffixMatch(docs: DataFrame, suffix: String): DataFrame = {
    require(suffix.nonEmpty, "suffixMatch: suffix must be non-empty")
    docs.select(col("doc_id"),
        explode(split(lower(coalesce(col("text"), lit(""))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .filter(substring(reverse(col("token")), 1, suffix.length) === lit(suffix.reverse))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("n"))
  }

  /** Proximity search: documents where `termA` and `termB` occur within
    * `window` positions of each other (either order), with the qualifying
    * pair count and the closest gap. The "near" operator completing the
    * positional family ([[phraseMatch]] is the adjacent-ordered special
    * case).
    *
    * Plan shape: two term-filtered posting lists equi-join on the doc key
    * with a residual |Δpos| ≤ window filter — per-doc fan-out is
    * occ_A × occ_B of two SPECIFIC terms, never a corpus range join.
    */
  def proximityMatch(docs: DataFrame, termA: String, termB: String, window: Int): DataFrame = {
    require(window >= 1, s"proximityMatch: window must be >= 1: $window")
    val toks = docs.select(col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), lower(col("w")).as("w"))
    val a = toks.filter(col("w") === termA.toLowerCase)
      .select(col("doc_id"), col("pos").as("pos_a"))
    val b = toks.filter(col("w") === termB.toLowerCase)
      .select(col("doc_id"), col("pos").as("pos_b"))
    // equal-term NEAR would otherwise pair every occurrence with itself
    // (gap 0, n_near >= occ) and double-count each mirrored pair; counting
    // each unordered occurrence pair once keeps the semantics meaningful
    val gapOk =
      if (termA.equalsIgnoreCase(termB))
        col("pos_a") < col("pos_b") && col("pos_b") - col("pos_a") <= window
      else abs(col("pos_a") - col("pos_b")) <= window
    a.join(b, Seq("doc_id"))
      .filter(gapOk)
      .groupBy("doc_id").agg(count(lit(1)).as("n_near"),
        min(abs(col("pos_a") - col("pos_b"))).cast("long").as("min_gap"))
  }

  /** Ranked multi-term retrieval over the `text_en` analyzer: top-`k`
    * documents by a deterministic integer tf-idf. Query terms are stemmed
    * ENGINE-side with the same [[stemEn]] the index uses (so "develops"
    * matches "developing"); per (doc, term) tf is the stemmed-occurrence
    * count, and each term contributes
    * `round(tf · (2N − 2·df + 1) · 10⁶ / (2·df + 1))` — the BM25 odds
    * ratio `(N − df + ½)/(df + ½)`, scaled and rounded to a LONG. Why no
    * log: libm `ln` is not bit-identical across engines. Each FACTOR is an
    * exact integer held in a double (tf, 2N−2df+1, 10⁶ — every one
    * < 2^53 at any real corpus count), the product and division are
    * left-associated IEEE double ops identical on any engine, round() on
    * the same double decides the same way everywhere, and the LONG sum is
    * order-independent — so scores and ranks reproduce bit-for-bit. The
    * arithmetic runs in DOUBLE, not LONG: a long product
    * tf·(2N−2df+1)·10⁶ overflows 2^63 at web-corpus N with spammy tf,
    * which under ANSI mode (the Spark 4 default) kills the query.
    * Rank ties break by id.
    *
    * Scale shape: the query-stem table is a handful of rows, BROADCAST and
    * semi-joined BEFORE the tf shuffle — only rows containing a query term
    * ever reach an exchange; df derives from the tf table (tiny: matching
    * docs × |query|); top-k is sort+limit (TakeOrderedAndProject — each
    * partition keeps k, no global sort), and the rank window runs on k rows.
    */
  def rankDocuments(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "rankDocuments: query terms must be non-empty")
    require(k > 0, s"rankDocuments: k must be positive: $k")
    val tf = stemmedQueryTf(docs, queryTerms, withDl = false)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val termScore = round(col("tf").cast("double")
      * (lit(2) * col("n_docs") - lit(2) * col("df") + 1).cast("double")
      * lit(1000000L).cast("double") / (lit(2) * col("df") + 1).cast("double")).cast("long")
    rankTopK(tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id")).agg(sum(termScore).as("score")), k)
  }

  /** The shared retrieval head: broadcast stemmed query-term table,
    * explode-then-stem tokenization (keeps the Porter kernel in whole-stage
    * codegen on the corpus-scale path — inside textEnTokens' transform()
    * lambda it would run interpreted per token, see buildTokenTable),
    * semi-join BEFORE the tf shuffle. With `withDl` the per-document token
    * count rides the same projection and aggregate (max of a per-id
    * constant), so BM25's length statistic costs no extra join or shuffle.
    */
  private def stemmedQueryTf(docs: DataFrame, queryTerms: Seq[String],
                             withDl: Boolean): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queryTerms.toDF("raw")
      .select(stemEn(foldAccents(lower(col("raw")))).as("term")).distinct()
    val words = split(lower(coalesce(col("text"), lit(""))), "\\s+")
    val base =
      if (withDl)
        docs.select(col("doc_id"),
          size(filter(words, w => w =!= "")).cast("long").as("dl"),
          explode(words).as("word"))
      else docs.select(col("doc_id"), explode(words).as("word"))
    val tok = base.filter(col("word") =!= "")
      .withColumn("term", stemEn(foldAccents(col("word")))).drop("word")
    val grouped = tok.join(broadcast(qt), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
    if (withDl) grouped.agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    else grouped.agg(count(lit(1)).as("tf"))
  }

  /** Shared ranking tail: per-partition top-k (TakeOrderedAndProject — no
    * global sort), then the rank window on ≤ k rows. Public so callers that
    * persist a scored frame (e.g. one BM25 scoring shared by a lexical and
    * a hybrid-fusion consumer) can rank it without re-deriving scores.
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))))

  /** BM25 scoring for ranked retrieval (Robertson–Spärck Jones):
    * [[rankDocuments]]' odds-ratio idf extended with tf SATURATION and
    * document-LENGTH normalization —
    * `idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` — so a term's 50th
    * occurrence adds ~nothing and long documents stop winning on bulk.
    * k1/b arrive as integer tenths/hundredths (default 12/75 = the classic
    * 1.2/0.75) and avgdl is folded as dl·N/totalLen, making every factor an
    * exact integer held in a double: the whole score is one left-associated
    * IEEE chain both engines reproduce bit-for-bit (the [[rankDocuments]]
    * no-libm-log discipline; k1 and b as floats would poison it).
    *
    * Scale shape: identical to [[rankDocuments]] (shared retrieval head and
    * ranking tail — [[stemmedQueryTf]]/[[rankTopK]]) plus BM25's corpus
    * statistics: dl rides the tokenization projection and the tf aggregate
    * (no join against a corpus-sized length table — a mis-estimated
    * broadcast there is the scorePairs OOM class), and (totalLen, N) is one
    * scalar aggregate — no new corpus-scale shuffle or join.
    *
    * Scoring only: (doc_id, score) for every document matching ≥ 1 query
    * term; [[rankTopK]] ranks it. Split so a caller with several ranked
    * consumers (plain BM25 list + hybrid RRF fusion) can persist ONE
    * scored frame — the corpus-scale tokenize/stem/df/length work — and
    * rank it per consumer over ≤ matching-docs rows.
    */
  def bm25Scores(docs: DataFrame, queryTerms: Seq[String],
                 bHundredths: Int = 75): DataFrame = {
    val k1Tenths = 12
    require(queryTerms.nonEmpty, "bm25Scores: query terms must be non-empty")
    require(bHundredths >= 0 && bHundredths <= 100,
      s"bm25Scores: bHundredths must be in [0,100]: $bHundredths")
    val tf = stemmedQueryTf(docs, queryTerms, withDl = true)
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = docs.select(
        size(filter(split(lower(coalesce(col("text"), lit(""))), "\\s+"),
          w => w =!= "")).cast("long").as("dl"))
      .agg(sum(col("dl")).as("total_len"), count(lit(1)).as("n_docs"))
    // exact-rational fold (num/den both integers in doubles):
    //   num = scale · (2N−2df+1) · 100(10+k1T) · tf · totalLen
    //   den = (2df+1) · (1000·totalLen·tf + k1T(100−bH)·totalLen + k1T·bH·dl·N)
    val termScore = round(
      lit(1000000L).cast("double")
        * (lit(2) * col("n_docs") - lit(2) * col("df") + 1).cast("double")
        * lit(100L * (10 + k1Tenths)).cast("double")
        * col("tf").cast("double") * col("total_len").cast("double")
      / ((lit(2) * col("df") + 1).cast("double")
        * (lit(1000L).cast("double") * col("total_len").cast("double") * col("tf").cast("double")
          + lit(k1Tenths.toLong * (100 - bHundredths)).cast("double") * col("total_len").cast("double")
          + lit(k1Tenths.toLong * bHundredths).cast("double") * col("dl").cast("double") * col("n_docs").cast("double")))
    ).cast("long")
    tf.join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id")).agg(sum(termScore).as("score"))
  }

  /** Persist the token table bucketed by token — the scale path for point
    * lookups: a search for one token prunes to `1/numBuckets` of the files
    * (bucket pruning shows as `SelectedBucketsCount: 1 out of N` in the scan)
    * and repeated token-key joins plan without a shuffle exchange. Mirrors
    * GraphSink.writeVerticesBucketed; requires a catalog table. NB for
    * scan-only lookups set
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` — Spark's
    * heuristic only auto-enables bucketed reading around joins/aggregates.
    */
  def writeTokenTableBucketed(tokens: DataFrame, table: String, numBuckets: Int): Unit =
    tokens.write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, "token")
      .sortBy("token")
      .saveAsTable(table)

  /** SymSpell-style spelling-correction join: out-of-dictionary words
    * matched to dictionary words at Levenshtein distance EXACTLY 1, via the
    * deletion-neighborhood candidate join — each side expands to itself +
    * its single-character deletions (len+1 variants, words of 4..20 letters),
    * candidates are variant-key equi-matches, and a final `levenshtein`
    * check discards the false candidates the neighborhood over-generates
    * (e.g. transpositions). The naive alternative is a words × dict cross
    * join with a distance kernel per pair; the neighborhood join is linear
    * in tokens and the dict side (dictSize·(len+1) keys) BROADCASTS.
    *
    * The dictionary is the dictSize = 25 most frequent `text` words
    * (count desc, word asc — total order, so cross-engine deterministic),
    * taken with orderBy+limit, which Spark executes as TakeOrdered (per-
    * partition top-k + driver merge), never a full vocabulary sort.
    */
  def symspellCorrections(docs: DataFrame): DataFrame = {
    val words = docs.select(explode(
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val dict = words.orderBy(col("n").desc, col("w").asc).limit(25)
      .select(col("w").as("dw"))
    val queries = words
      .join(dict, col("w") === col("dw"), "left_anti")
      .filter(length(col("w")).between(4, 20))
      .select("w")
    // identity + single deletions: lev(a,b) <= 1 implies the variant sets
    // intersect; the reverse over-generates and is filtered below
    def withVariants(df: DataFrame, c: String) = df.withColumn("v", explode(
      expr(s"array_union(array($c), transform(sequence(1, length($c)), " +
        s"i -> concat(substr($c, 1, i-1), substr($c, i+1, length($c)))))")))
    withVariants(queries, "w")
      .join(broadcast(withVariants(dict, "dw")), Seq("v"))
      .select(col("w").as("word"), col("dw").as("suggestion"))
      .distinct()
      .filter(levenshtein(col("word"), col("suggestion")) === 1)
  }
}
