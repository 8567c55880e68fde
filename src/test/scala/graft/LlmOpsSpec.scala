package graft

import graft.llm.{Dedup, Multimodal, Retrieval, Similarity, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the training-data-pipeline operators. */
class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  // ------------------------------------------------------------- dedup

  test("exact dedup groups identical texts") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val g = Dedup.exactGroups(d).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(g.length == 2)
    val dup = g.find(_._2 == 1L).get
    assert(dup._3 == 2L) // two members, canonical id 1
  }

  test("word shingles of size 3") {
    val sh = Dedup.wordShingles(docs(1L -> "a b c d"), 3)
      .collect().map(_.getString(1)).toSet
    assert(sh == Set("a b c", "b c d"))
  }

  test("word shingles shorter than n yield none") {
    assert(Dedup.wordShingles(docs(1L -> "a b"), 3).count() == 0)
  }

  test("jaccard pairs exact value") {
    // shingles: doc1 {a b c, b c d}, doc2 {b c d, c d e} -> inter=1, union=3
    val d = docs(1L -> "a b c d", 2L -> "b c d e")
    val p = Dedup.jaccardPairs(Dedup.wordShingles(d, 3), 0.0).collect()
    assert(p.length == 1)
    val r = p(0)
    assert(r.getAs[Long]("n_inter") == 1 && r.getAs[Double]("jaccard") == 1.0 / 3.0)
  }

  test("minhash: identical docs share signatures and become LSH candidates") {
    val d = docs(1L -> "a b c d e f g h", 2L -> "a b c d e f g h", 3L -> "q r s t u v w x")
    val sig = Dedup.minhashSignatures(Dedup.wordShingles(d, 3), 12)
    val rows = sig.collect().map(r => r.getLong(0) -> (1 to 12).map(i => r.getString(i)))
    val m = rows.toMap
    assert(m(1L) == m(2L) && m(1L) != m(3L))
    val cands = Dedup.lshCandidates(sig, 4, 3).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.toSet == Set((1L, 2L)))
  }

  test("removeNearDuplicates drops confirmed near-dups, keeps lowest id") {
    val d = docs(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i j", // exact dup of 1 -> dropped
      3L -> "a b c d e f g h i x", // near dup of 1 (jaccard 7/9 < 0.8? shingles differ)
      4L -> "q r s t u v w x y z")
    val kept = Dedup.removeNearDuplicates(d, minJaccard = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(2L) && kept.contains(4L))
  }

  test("chunkDocuments covers every token with overlap; final chunk may be short") {
    val d = docs(1L -> (1 to 10).map(i => s"w$i").mkString(" "))
    val chunks = TextStats.chunkDocuments(d, chunkTokens = 4, overlap = 1)
      .orderBy("chunk_id").collect().map(r => (r.getInt(1), r.getString(2)))
    assert(chunks.toSeq == Seq(
      0 -> "w1 w2 w3 w4", 1 -> "w4 w5 w6 w7", 2 -> "w7 w8 w9 w10"))
    // doc shorter than one chunk -> single short chunk
    val one = TextStats.chunkDocuments(docs(2L -> "a b"), 4, 1).collect()
    assert(one.length == 1 && one(0).getString(2) == "a b")
    intercept[IllegalArgumentException](TextStats.chunkDocuments(d, 4, 4))
  }

  test("decontaminate drops docs sharing an n-gram with the eval set, map-side") {
    val eval = docs(100L -> "the quick brown fox jumps")
    val train = docs(
      1L -> "something quick brown fox other words", // shares "quick brown fox"
      2L -> "entirely different content here now",
      3L -> "quick brown wolf not a match")          // no shared 3-gram
    val kept = Dedup.decontaminate(train, eval, n = 3)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // the contamination probe broadcasts the eval shingles — no corpus shuffle
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast probe:\n$plan")
  }

  test("estimateJaccard: exact extremes and estimator accuracy on random corpora") {
    val d = docs(
      1L -> "a b c d e f", 2L -> "a b c d e f", // identical -> est 1.0
      3L -> "q r s t u v")                      // disjoint from 1 -> est 0.0
    val sigs = Dedup.minhashSignatures(Dedup.wordShingles(d, 3), 12)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val est = Dedup.estimateJaccard(sigs, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(est((1L, 2L)) == 1.0)
    assert(est((1L, 3L)) == 0.0)
    // random corpus: the estimator tracks exact jaccard within ~2 stderr
    val rnd = new scala.util.Random(83)
    val words = Array("aa", "bb", "cc", "dd", "ee")
    val many = (0L until 60L).map { i =>
      (i, Seq.fill(10)(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val sh = Dedup.wordShingles(many, 3)
    val exact = Dedup.jaccardPairs(sh, 0.0).select("id_a", "id_b", "jaccard")
    val sigs2 = Dedup.minhashSignatures(sh, 12)
    val joined = Dedup.estimateJaccard(sigs2, exact.select("id_a", "id_b"))
      .join(exact, Seq("id_a", "id_b"))
      .select(avg(abs(col("est_jaccard") - col("jaccard"))))
      .head().getDouble(0)
    assert(joined < 2.0 / math.sqrt(12), s"mean |est - exact| too high: $joined")
    // a pair referencing an id with no signature surfaces as NULL, not a drop
    val withGhost = Seq((1L, 2L), (1L, 999L)).toDF("id_a", "id_b")
    val ghost = Dedup.estimateJaccard(sigs, withGhost).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.isNullAt(3)).toMap
    assert(ghost.size == 2 && !ghost((1L, 2L)) && ghost((1L, 999L)))
  }

  test("containment catches doc-in-doc duplication that jaccard misses") {
    // doc 2's text is verbatim inside doc 1, which is much longer.
    // shingles(3): doc 2 has 2, both shared; doc 1 has 10.
    val d = docs(
      1L -> "x1 x2 x3 x4 x5 a b c d x6 x7 x8",
      2L -> "a b c d")
    val sh = Dedup.wordShingles(d, 3)
    val jac = Dedup.jaccardPairs(sh, 0.0).collect()
    assert(jac.length == 1 && jac(0).getAs[Double]("jaccard") == 2.0 / 10.0)
    val con = Dedup.containmentPairs(sh, 0.0).collect()
    assert(con.length == 1)
    val r = con(0)
    assert(r.getAs[Long]("n_inter") == 2 && r.getAs[Double]("containment") == 1.0)
    // threshold routes on the containment, not the jaccard
    assert(Dedup.containmentPairs(sh, 0.9).count() == 1)
    assert(Dedup.jaccardPairs(sh, 0.9).count() == 0)
    // capped universe: dropping the shared shingles (df=2 > maxDF=1)
    // removes the pair entirely rather than mis-scoring it
    assert(Dedup.containmentPairs(sh, 0.0, maxDF = 1).count() == 0)
  }

  test("bloomDecontaminate drops every truly contaminated doc, map-side") {
    val eval = docs(100L -> "the quick brown fox jumps")
    val train = docs(
      1L -> "something quick brown fox other words", // shares "quick brown fox"
      2L -> "entirely different content here now",
      3L -> "quick brown wolf not a match",          // no shared 3-gram
      4L -> null.asInstanceOf[String],               // gram-free, must survive
      5L -> "ab")                                    // < n words, must survive
    val kept = Dedup.bloomDecontaminate(train, eval, n = 3, mBits = 20)
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // one-sided: doc 1 ALWAYS dropped; 2/3/4/5 survive unless a false
    // positive fires (deterministic given the data — at 2^20 bits over 3
    // eval grams it does not)
    assert(ids == Set(2L, 3L, 4L, 5L))
    // the probe is a pure map-side filter: no shuffle anywhere in the plan
    // (planned over a range-derived frame — a LocalRelation would be
    // constant-folded away and show neither the kernel nor an Exchange)
    val ranged = spark.range(100).select(col("id").as("doc_id"),
      concat_ws(" ", lit("quick brown fox idx"), col("id").cast("string")).as("text"))
    val plan = Dedup.bloomDecontaminate(ranged, eval, n = 3, mBits = 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bloom probe shuffled:\n$plan")
    assert(plan.contains("bloom_count_contaminated"), plan)
  }

  test("bloom survivors are a subset of exact decontaminate survivors") {
    val rnd = new scala.util.Random(53)
    val words = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    def corpus(ids: Range) = ids.map { i =>
      (i.toLong, Seq.fill(12)(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val train = corpus(0 until 300)
    val eval = corpus(1000 until 1020)
    val exact = Dedup.decontaminate(train, eval, n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // mBits=10 (1024 bits) forces a real false-positive fringe on this
    // dense gram space; the fringe must only ever SHRINK the survivor set
    val bloom = Dedup.bloomDecontaminate(train, eval, n = 4, mBits = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom.subsetOf(exact), s"bloom kept a contaminated doc: ${bloom -- exact}")
    assert(bloom.size < exact.size, "expected false positives at 1024 bits; got none")
    // and at a generous bitset the fringe vanishes: bloom == exact
    val wide = Dedup.bloomDecontaminate(train, eval, n = 4, mBits = 24)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wide == exact)
    // sub-word-size tables (mBits < 6) allocate ONE long, not a wrapped
    // 2^(mBits-6 mod 32) array; everything collides into 8 bits -> most
    // docs probe positive, but the call must not blow up
    val tiny = Dedup.bloomDecontaminate(train, eval, n = 4, mBits = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tiny.subsetOf(exact))
  }

  test("bloom kernel byte arithmetic matches the expression-side hash schedule") {
    // BloomBits parses md5 BYTES; positionsCol parses md5 HEX via conv —
    // two independent routes to the same schedule. Build a bloom from half
    // the grams, then check the kernel's membership verdict for every gram
    // against positions computed by the expression side.
    val rnd = new scala.util.Random(67)
    val grams = (0 until 200).map(_ => Seq.fill(3)(rnd.alphanumeric.take(4).mkString).mkString(" "))
    val mBits = 12
    val gdf = grams.toDF("gram")
    val posOf = gdf.select(col("gram"),
        graft.functions.BloomProbe.positionsCol(col("gram"), mBits, 4).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    val setBits = grams.take(100).flatMap(posOf).toSet
    val bloom = Dedup.buildBloom(grams.take(100).toDF("text"), n = 3, mBits = mBits)
    grams.foreach { g =>
      val expected = posOf(g).subsetOf(setBits)
      assert(bloom.mightContain(g) == expected, s"gram '$g'")
    }
  }

  test("scalarQuantize: round-trip error bounded by half a step; edges exact") {
    val vecs = Seq(
      (0L, Array(0.0f, 5.0f, 7.0f)),
      (1L, Array(1.0f, 5.0f, 3.0f)),
      (2L, Array(0.5f, 5.0f, -2.0f)))
      .toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.collectScalarQuantStats(vecs)
    assert(mins == Seq(0.0, 5.0, -2.0) && maxs == Seq(1.0, 5.0, 7.0))
    val got = Similarity.scalarQuantize(vecs, mins, maxs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // range edges hit the code extremes exactly; constant dim codes to 0
    assert(got(0L) == Seq(0, 0, 255))
    assert(got(1L) == Seq(255, 0, math.round((3.0 - -2.0) / 9.0 * 255.0).toInt))
    assert(got(2L)(0) == 128) // 0.5 of the span -> round(127.5) = 128
    // round-trip: dequantized value within half a quantization step
    val dims = mins.indices
    for ((id, codes) <- got; i <- dims if maxs(i) > mins(i)) {
      val span = maxs(i) - mins(i)
      val deq = mins(i) + codes(i) * span / 255.0
      val orig = vecs.collect().find(_.getLong(0) == id).get
        .getSeq[Float](1)(i).toDouble
      assert(math.abs(deq - orig) <= span / 510.0 + 1e-9, s"vec $id dim $i")
    }
    // finer levels shrink the step: levels=1023 quantizes strictly tighter
    val fine = Similarity.scalarQuantize(vecs, mins, maxs, levels = 1023)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(fine(2L)(0) == 512)
    // sample-fit stats: out-of-range values CLAMP to [0, levels] (the
    // one-byte storage contract), never overflow or go negative
    val wild = Seq((9L, Array(3.0f, 5.0f, 20.0f)), (10L, Array(-4.0f, 5.0f, -9.0f)))
      .toDF("vec_id", "embedding")
    val clamped = Similarity.scalarQuantize(wild, mins, maxs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(clamped(9L) == Seq(255, 0, 255))
    assert(clamped(10L) == Seq(0, 0, 0))
    // dimension drift fails loudly, never silent-NULL codes
    val bad = Seq((11L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.scalarQuantize(bad, mins, maxs).collect()
    }
    assert(e.getMessage.contains("scalarQuantize") ||
      Option(e.getCause).exists(_.getMessage.contains("scalarQuantize")), e.getMessage)
    // a NULL ELEMENT (right size) must also fail loudly — under non-ANSI
    // eval it would otherwise yield NULL codes that surface as a distant
    // downstream kernel error instead of an actionable message here
    val withNull = Seq((12L, Array[java.lang.Float](1.0f, null, 3.0f)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      Similarity.scalarQuantize(withNull, mins, maxs).collect()
    }
    assert(e2.getMessage.contains("null element") ||
      Option(e2.getCause).exists(_.getMessage.contains("null element")), e2.getMessage)
  }

  test("sqTopK: duplicate vectors at distance zero; top-1 tracks exact L2") {
    val rnd = new scala.util.Random(91)
    val dim = 16
    val base = (0L until 100L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    // vec 100 duplicates vec 7 exactly
    val vecs = (base :+ (100L, base(7)._2.clone)).toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.collectScalarQuantStats(vecs)
    val got = Similarity.sqTopK(vecs.filter(col("vec_id") === 100L), vecs, k = 1, mins, maxs)
      .collect()
    assert(got.length == 1 && got(0).getLong(1) == 7L && got(0).getLong(2) == 0L)
    // top-1 agreement with exact double L2 on the raw vectors
    val exact = base.map { case (qid, qv) =>
      qid -> base.filter(_._1 != qid).minBy { case (nid, nv) =>
        (qv.zip(nv).map { case (a, b) => (a - b).toDouble * (a - b) }.sum, nid)
      }._1
    }.toMap
    val sq1 = Similarity.sqTopK(vecs.filter(col("vec_id") < 100L), vecs.filter(col("vec_id") < 100L),
        k = 1, mins, maxs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = exact.count { case (q, n) => sq1(q) == n }
    assert(agree >= 80, s"top-1 agreement too low: $agree/100")
  }

  test("two-level rankTopK equals an independent flat top-k (every rank, every query)") {
    // the rankers pre-split each query's candidates into hash sub-buckets
    // before the per-query rank; this pins the result to a from-scratch
    // flat sort — k deliberately NOT a multiple of the bucket fill so
    // boundary ranks cross buckets
    val rnd = new scala.util.Random(17)
    val dim = 8
    val base = (0L until 200L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq))
    val v = base.toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(v.filter(col("vec_id") < 5), v, k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val qa = a.map(x => math.round(x.toDouble * 1000.0))
      val qb = b.map(x => math.round(x.toDouble * 1000.0))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum.toDouble
      dot / (math.sqrt(qa.map(x => x * x).sum.toDouble) *
        math.sqrt(qb.map(x => x * x).sum.toDouble))
    }
    val byId = base.toMap
    val expect = (0L until 5L).flatMap { q =>
      base.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(byId(q), nv)) }
        .sortBy { case (n, c) => (-c, n) }
        .take(7).zipWithIndex.map { case ((n, _), i) => (q, n, i + 1) }
    }.toSet
    assert(got == expect)
  }

  test("simhash: identical texts equal, disjoint texts differ") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta", 3L -> "zz yy xx ww vv uu")
    val m = Dedup.simhash(d, 16).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
    assert(m.values.forall(v => v >= 0 && v < (1 << 16)))
  }

  test("simhashNearDupPairs: banding is complete vs brute-force Hamming, gate and bounds hold") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "alpha beta gamma delta epsilon zeta eta iota",
      4L -> "zz yy xx ww vv uu tt ss")
    val got = Dedup.simhashNearDupPairs(d, maxHamming = 3, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // identical texts share the full 32-bit signature
    assert(got.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    assert(got.forall(_._3 <= 3))
    // pigeonhole completeness: banding + verify == brute-force Hamming <= 3
    val sh = Dedup.simhash(d, 32).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = for {
      a <- sh.keys.toSeq; b <- sh.keys.toSeq if a < b
      h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= 3
    } yield (a, b, h)
    assert(got.toSet == brute.toSet)
    // maxBucket = 0 drops every bucket whole: nothing survives the gate
    assert(Dedup.simhashNearDupPairs(d, maxBucket = 0).isEmpty)
    // completeness precondition is enforced, not silently violated
    assertThrows[IllegalArgumentException](
      Dedup.simhashNearDupPairs(d, maxHamming = 4))
  }

  // --------------------------------------------------------- similarity

  private def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")

  test("quantize multiplies in double: float-boundary values round like other engines") {
    // 0.31949999928474426f * 1000f is EXACTLY 319.5f in float arithmetic
    // (rounds to 320); double arithmetic gives 319.4999… -> 319, which is
    // what md5/SQL engines compute — regression for a real sf0.1 mismatch
    val v = vecs(1L -> Seq(0.31949999928474426f))
    val q = v.select(Similarity.quantize(col("embedding")).as("q"))
      .collect()(0).getSeq[Long](0)
    assert(q == Seq(319L))
  }

  test("labelCentroids: exact per-(label, dim) sums, counts, and means") {
    val v = Seq(
      (0, Seq(1.0f, 2.0f)),
      (0, Seq(3.0f, 4.0f)),
      (1, Seq(-1.0f, 0.5f))
    ).toDF("label", "embedding")
    val got = Similarity.labelCentroids(v).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got((0, 0)) == ((4000L, 2L, 2000.0)))
    assert(got((0, 1)) == ((6000L, 2L, 3000.0)))
    assert(got((1, 0)) == ((-1000L, 1L, -1000.0)))
    assert(got((1, 1)) == ((500L, 1L, 500.0)))
  }

  test("cosine top-k finds the aligned vector first") {
    val v = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(-1f, 0f, 0f, 0f))
    val top = Similarity.bruteForceTopK(v.filter($"vec_id" === 0), v, k = 2)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(top(0).getAs[Double]("cosine") > 0.99)
    assert(top(1).getAs[Long]("neighbor_id") == 2L) // orthogonal beats opposite
  }

  test("decimateAudio keeps exactly every 2nd sample through a full re-encode cycle") {
    import spark.implicits._
    val media = graft.llm.Multimodal.syntheticWavs(
      Seq(3L, 7L).toDF("doc_id"))
    val got = graft.llm.Multimodal.extractAudioFeatures(
        graft.llm.Multimodal.decimateAudio(media))
      .collect().map(a => a.media_id -> ((a.sample_rate, a.n_frames, a.sample_sum)))
      .toMap
    // reference: sample i of doc d is ((d*31 + i*7) % 65536) - 32768,
    // n = 40 + d%25; decimation keeps even i at rate 4000
    for (d <- Seq(3L, 7L)) {
      val n = (40 + d % 25).toInt
      val kept = (0 until n by 2).map(i => ((d * 31 + i * 7) % 65536) - 32768)
      assert(got(d) == ((4000, kept.length.toLong, kept.sum)))
    }
  }

  test("MIPS ranks by magnitude where cosine ranks by angle (divergent pair)") {
    // neighbor 1 is perfectly aligned but short; neighbor 2 is slightly
    // off-axis but long: cosine must prefer 1, MIPS must prefer 2. Scores
    // are exact integer dots of the 1000-scaled quantization.
    val v = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0.1f, 0f, 0f, 0f),
      2L -> Seq(2f, 2f, 0f, 0f))
    val q = v.filter($"vec_id" === 0)
    val cos = Similarity.bruteForceTopK(q, v, k = 2).orderBy("rank").collect()
    val mips = Similarity.mipsTopK(q, v, k = 2).orderBy("rank").collect()
    assert(cos(0).getAs[Long]("neighbor_id") == 1L)  // aligned wins on angle
    assert(mips(0).getAs[Long]("neighbor_id") == 2L) // long wins on product
    assert(mips(0).getAs[Long]("dot_q") == 2000L * 1000L) // 1000·2000 exact
    assert(mips(1).getAs[Long]("dot_q") == 1000L * 100L)
  }

  test("lsh bucket: identical vectors collide, opposite vectors do not") {
    val v = vecs(
      0L -> Seq.fill(64)(0.5f),
      1L -> Seq.fill(64)(0.5f),
      2L -> Seq.fill(64)(-0.5f))
    val b = v.select($"vec_id", Similarity.lshBucket($"embedding", 8).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L)) // every plane's sign flips
  }

  test("ivf top-k recovers most brute-force neighbors on real embeddings") {
    val e = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(queries, e, k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopKWithQuantizedCentroids(queries, e, k = 5,
        Similarity.collectQuantizedCentroids(e, 8), nProbe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("NN-descent graph converges to high recall and is partition-invariant") {
    val e = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(e, e, k = 5)
    val g = Similarity.nnDescentGraph(e, k = 16, rounds = 4)
    val recall = Similarity.recallAtK(exact,
        g.select($"id".as("query_id"), $"neighbor_id"))
      .agg(org.apache.spark.sql.functions.avg("recall"))
      .collect()(0).getDouble(0)
    assert(recall >= 0.9, s"NN-descent recall@5 too low: $recall")
    // order-freedom: a different input partitioning yields the IDENTICAL
    // graph (the property HNSW lacks and the oracle replay depends on)
    val g2 = Similarity.nnDescentGraph(e.repartition(7), k = 16, rounds = 4)
    assert(g.except(g2).count() == 0 && g2.except(g).count() == 0)
    // every round can only improve (old edges stay in the candidate set):
    // round-4 recall >= round-1 recall
    val g1r = Similarity.nnDescentGraph(e, k = 16, rounds = 1)
    val r1 = Similarity.recallAtK(exact,
        g1r.select($"id".as("query_id"), $"neighbor_id"))
      .agg(org.apache.spark.sql.functions.avg("recall"))
      .collect()(0).getDouble(0)
    assert(recall >= r1 - 1e-9, s"round 4 ($recall) worse than round 1 ($r1)")
  }

  test("layered graph search: deterministic walk, high recall, bounded candidates") {
    val e = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val lvl = Similarity.hnswLayerOf($"vec_id", 2)
    val g0 = Similarity.nnDescentGraph(e, k = 12, rounds = 3)
    val g1 = Similarity.nnDescentGraph(e.filter(lvl >= 1), k = 8, rounds = 2)
    val g2 = Similarity.nnDescentGraph(e.filter(lvl >= 2), k = 8, rounds = 2)
    val q = e.filter($"vec_id" < 10)
    val res = Similarity.layeredSearch(q, Seq(g0, g1, g2), e, k = 5,
      beam = 24, baseHops = 5)
    // exactly k results per query, ranks 1..k, deterministic across runs
    val n = res.groupBy("query_id").count().collect()
    assert(n.length == 10 && n.forall(_.getLong(1) == 5L))
    val res2 = Similarity.layeredSearch(q, Seq(g0, g1, g2), e, k = 5,
      beam = 24, baseHops = 5)
    assert(res.except(res2).count() == 0 && res2.except(res).count() == 0)
    val exact = Similarity.bruteForceTopK(q, e, k = 5)
    val recall = Similarity.recallAtK(exact, res)
      .agg(org.apache.spark.sql.functions.avg("recall"))
      .collect()(0).getDouble(0)
    assert(recall >= 0.8, s"layered search recall@5 too low: $recall")
  }

  test("ordered-pairs generator: empty, singleton, and struct elements") {
    import graft.functions.OrderedPairs.orderedPairs
    val df = Seq(
      (1L, Seq.empty[Long]), (2L, Seq(7L)), (3L, Seq(1L, 2L, 3L)))
      .toDF("k", "ids")
    val got = df.select($"k", orderedPairs($"ids").as(Seq("a", "b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((3L, 1L, 2L), (3L, 1L, 3L), (3L, 2L, 3L)))
  }

  test("word-shingle generator matches split/slice/concat_ws semantics exactly") {
    import graft.functions.WordShingles.wordShingles
    // includes doubled + trailing spaces: split(" ", -1) keeps empty fields
    val texts = Seq("a b c d", "a  b c", "ab", "", "x y z ", " lead")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val native = df.select($"id", wordShingles($"text", 3).as("shingle"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val words = split($"text", " ")
    val nSh = size(words) - 2
    val idxs = when(nSh >= 1, sequence(lit(1), nSh)).otherwise(array().cast("array<int>"))
    val hof = df.select($"id",
        explode(transform(idxs, i => concat_ws(" ", slice(words, i, lit(3))))).as("shingle"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(native == hof)
    assert(native.contains((1L, "a  b"))) // empty middle field preserved
    assert(native.contains((4L, "y z "))) // trailing empty field preserved
  }

  test("generators match built-in formulas on 300 random texts/arrays (seeded)") {
    val rnd = new scala.util.Random(7)
    // texts over a tiny alphabet with frequent/leading/trailing/doubled spaces
    val chars = "ab é"
    val texts = (0 until 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => chars(rnd.nextInt(chars.length))).mkString)
    }
    val df = texts.toDF("id", "text")
    for (n <- Seq(1, 2, 3)) {
      val native = df.select($"id", graft.functions.WordShingles.wordShingles($"text", n).as("s"))
        .collect().map(r => (r.getLong(0), r.getString(1))).groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val words = split($"text", " ")
      val nSh = size(words) - (n - 1)
      val idxs = when(nSh >= 1, sequence(lit(1), nSh)).otherwise(array().cast("array<int>"))
      val hof = df.select($"id",
          explode(transform(idxs, i => concat_ws(" ", slice(words, i, lit(n))))).as("s"))
        .collect().map(r => (r.getLong(0), r.getString(1))).groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(native == hof, s"shingle mismatch at n=$n")
    }
    // ordered pairs over random-length arrays vs the nested-transform formula
    val arrs = (0 until 300).map(i => (i.toLong, Seq.fill(rnd.nextInt(8))(rnd.nextLong())))
    val adf = arrs.toDF("id", "ids")
    val np = adf.select($"id", graft.functions.OrderedPairs.orderedPairs($"ids").as(Seq("a", "b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val hp = adf.select($"id", explode(flatten(transform($"ids", (x, i) =>
        transform(slice($"ids", i + 2, size($"ids")), y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select($"id", $"p.a", $"p.b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(np == hp)
  }

  test("native dot kernels match the higher-order-function formulas bit-for-bit") {
    val e = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
      .select($"vec_id", Similarity.quantize($"embedding").as("qv"),
        $"embedding".cast("array<double>").as("dv"))
    val cmp = e.select(
      graft.functions.ArrayMath.dotLong($"qv", $"qv").as("native_l"),
      aggregate(zip_with($"qv", $"qv", _ * _), lit(0L), _ + _).as("hof_l"),
      graft.functions.ArrayMath.dotDouble($"dv", $"dv").as("native_d"),
      aggregate(zip_with($"dv", $"dv", _ * _), lit(0.0d), _ + _).as("hof_d"))
      .collect()
    cmp.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3))) // same IEEE order
    }
    // null array, null ELEMENT, and length mismatch -> null (HOF fidelity)
    val n = docs(1L -> "x").select(
      graft.functions.ArrayMath.dotLong(lit(null).cast("array<bigint>"), array(lit(1L))).as("a"),
      graft.functions.ArrayMath.dotLong(
        array(lit(1L), lit(null).cast("bigint")), array(lit(2L), lit(3L))).as("b"),
      graft.functions.ArrayMath.dotLong(array(lit(1L)), array(lit(2L), lit(3L))).as("c"),
      graft.functions.ArrayMath.dotDouble(
        array(lit(1.0d)), array(lit(2.0d), lit(3.0d))).as("d"))
      .collect()(0)
    assert(n.isNullAt(0) && n.isNullAt(1) && n.isNullAt(2) && n.isNullAt(3))
    // and the HOF form agrees on the mismatch cases
    val h = docs(1L -> "x").select(
      aggregate(zip_with(array(lit(1L)), array(lit(2L), lit(3L)), _ * _), lit(0L), _ + _).as("a"))
      .collect()(0)
    assert(h.isNullAt(0))
  }

  test("ivfTopKWithCentroids: offline quantizer reproduces in-cluster neighbors") {
    // two tight clusters, centroids supplied (no KMeans fit job at all)
    val mk = (base: Float, id: Long) =>
      (id, Seq.tabulate(64)(d => base + 0.001f * ((id + d) % 7)))
    val v = vecs(((0L until 8L).map(i => mk(0.5f, i)) ++ (8L until 16L).map(i => mk(-0.5f, i))): _*)
    val cents = Seq(Seq.fill(64)(500L), Seq.fill(64)(-500L))
    val got = Similarity.ivfTopKWithQuantizedCentroids(v, v, k = 3, cents, nProbe = 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(v, v, k = 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact) // nProbe=1 suffices: neighbors never cross clusters
  }

  test("ivf postings appended per batch answer identically to a fresh whole-corpus build") {
    val mk = (base: Float, id: Long) =>
      (id, Seq.tabulate(64)(d => base + 0.001f * ((id + d) % 7)))
    val v = vecs(((0L until 8L).map(i => mk(0.5f, i)) ++ (8L until 16L).map(i => mk(-0.5f, i))): _*)
    val cents = Seq(Seq.fill(64)(500L), Seq.fill(64)(-500L))
    val store = java.nio.file.Files.createTempDirectory("graft-ivf-spec")
      .toString + "/postings"
    try {
      // two ingest batches under the frozen quantizer, appended
      Similarity.ivfAssign(v.filter(col("vec_id") % 2 === 0), cents).write.parquet(store)
      Similarity.ivfAssign(v.filter(col("vec_id") % 2 === 1), cents)
        .write.mode("append").parquet(store)
      val q = v.filter(col("vec_id") < 4)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val appended = rows(Similarity.ivfTopKFromPostings(
        q, spark.read.parquet(store), k = 3, cents, nProbe = 1))
      val direct = rows(Similarity.ivfTopKWithQuantizedCentroids(
        q, v, k = 3, cents, nProbe = 1))
      assert(appended == direct && appended.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(store).getParentFile)
  }

  test("ivf validates centroids and embeddings, failing fast with clear messages") {
    def causeMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val v = vecs(1L -> Seq.fill(64)(0.1f), 2L -> Seq.fill(64)(0.2f))
    // ragged centroid list rejected driver-side, before any job
    val ragged = intercept[IllegalArgumentException] {
      Similarity.ivfTopKWithQuantizedCentroids(v, v, k = 1,
        Seq(Seq.fill(64)(0L), Seq.fill(32)(0L)))
    }
    assert(ragged.getMessage.contains("same dimension"))
    val empty = intercept[IllegalArgumentException] {
      Similarity.ivfTopKWithQuantizedCentroids(v, v, k = 1, Nil)
    }
    assert(empty.getMessage.contains("non-empty"))
    // embedding shorter than the centroid dims -> clear message, not AIOOBE
    val short = vecs(1L -> Seq.fill(32)(0.1f), 2L -> Seq.fill(32)(0.2f))
    val mismatch = intercept[Exception] {
      Similarity.ivfTopKWithQuantizedCentroids(short, short, k = 1, Seq(Seq.fill(64)(0L))).collect()
    }
    assert(causeMessages(mismatch).contains("centroid dimension"))
    // null embedding -> clear message, not an NPE
    val withNull = Seq((1L, Seq.fill(64)(0.1f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val nul = intercept[Exception] {
      Similarity.ivfTopKWithQuantizedCentroids(withNull, withNull, k = 1, Seq(Seq.fill(64)(0L))).collect()
    }
    assert(causeMessages(nul).contains("null embedding"))
  }

  test("cosineDupPairs finds exact duplicates") {
    val v = vecs(
      0L -> Seq.fill(64)(0.25f),
      1L -> Seq.fill(64)(0.25f),
      2L -> (Seq.fill(32)(1f) ++ Seq.fill(32)(-1f)))
    val pairs = Similarity.cosineDupPairs(v, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L)))
  }

  test("cosineDupPairs bands agree: any-band candidates include all-plane bucket pairs") {
    // near-identical cluster + distinct vectors; pairs surfaced via banded
    // keys must contain every pair the single wide key (8 planes) finds,
    // since agreeing on all 8 bits implies agreeing on both 4-bit bands.
    val mk = (base: Float, id: Long) =>
      (id, Seq.tabulate(64)(d => base + 0.0001f * ((id + d) % 5)))
    val v = vecs(((0L until 6L).map(i => mk(0.4f, i)) ++ (6L until 12L).map(i => mk(-0.4f, i))): _*)
    val banded = Similarity.cosineDupPairs(v, tau = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // within-cluster pairs are near-duplicates and must all be found
    val expected = (for (a <- 0L until 6L; b <- a + 1 until 6L) yield (a, b)).toSet ++
      (for (a <- 6L until 12L; b <- a + 1 until 12L) yield (a, b)).toSet
    assert(banded == expected)
  }

  test("randomProjection matches a driver-side fold bit-for-bit") {
    val emb = Seq.tabulate(64)(d => (0.01f * ((d * 7) % 13)) - 0.05f)
    val v = vecs(1L -> emb)
    val got = Similarity.randomProjection(v, outDims = 3).collect()(0)
    (0 until 3).foreach { p =>
      var acc = 0.0
      (0 until 64).foreach(d => acc += emb(d).toDouble * Similarity.planeComponent(p, d))
      assert(got.getDouble(p + 1) == acc, s"component $p")
    }
  }

  test("secondMoments: exact scatter matrix on hand-computed vectors") {
    val v = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, -1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.secondMoments(v).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // q = [1000,2000], [3000,-1000]
    assert(got((0, 0)) == ((10000000L, 4000L, 4000L, 2L)))
    assert(got((0, 1)) == ((-1000000L, 4000L, 1000L, 2L)))
    assert(got((1, 1)) == ((5000000L, 1000L, 1000L, 2L)))
    assert(got.size == 3) // upper triangle only
  }

  test("semanticDedup drops within-cell near-duplicates, keeps lowest id") {
    val e1 = (d: Int) => if (d == 0) 1f else 0f
    val e2 = (d: Int) => if (d == 1) 1f else 0f
    val v = vecs(
      1L -> Seq.tabulate(8)(e1),
      2L -> Seq.tabulate(8)(d => 0.9f * e1(d) + 0.1f * e2(d)), // cos≈0.994 to id 1
      3L -> Seq.tabulate(8)(e2),
      4L -> Seq.tabulate(8)(d => 0.05f * e1(d) + 0.95f * e2(d)), // cos≈0.999 to id 3
      // boundary straddlers: nearly identical but argmin puts them in
      // different cells, so SemDeDup never compares them (the method's
      // documented blind spot — recall is bounded by quantizer granularity)
      6L -> Seq.tabulate(8)(d => 0.51f * e1(d) + 0.49f * e2(d)),
      7L -> Seq.tabulate(8)(d => 0.49f * e1(d) + 0.51f * e2(d)))
    val cents = Seq(Seq(1000L, 0L, 0L, 0L, 0L, 0L, 0L, 0L),
      Seq(0L, 1000L, 0L, 0L, 0L, 0L, 0L, 0L))
    val kept = Similarity.semanticDedup(v, cents, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kept == Map(1L -> 0, 3L -> 1, 6L -> 0, 7L -> 1))
    // tau above every attainable cosine: nothing drops
    val all = Similarity.semanticDedup(v, cents, tau = 1.01)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 3L, 4L, 6L, 7L))
  }

  test("jaccardPairs maxDF drops hot shingles, bounds fan-out, and reports the drop") {
    // 6 docs share the hot shingle "x y z" (df=6 -> 15 pairs from one row);
    // docs 0 and 1 additionally share 3 rare shingles.
    val hot = "x y z"
    val d = docs(
      (0L, s"a b c d e $hot"), (1L, s"a b c d e $hot"),
      (2L, s"p q r $hot"), (3L, s"s t u $hot"),
      (4L, s"v w j $hot"), (5L, s"k l m $hot"))
    val sh = Dedup.wordShingles(d, 3)
    val capped = Dedup.jaccardPairs(sh, minJaccard = 0.0, maxDF = 5)
    val rows = capped.collect()
    // only the (0,1) pair survives: every cross-pair co-occurred ONLY via the
    // hot shingle, which the cap removed before pairing
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
    // the drop is observed, not silent (name carries a per-call suffix so
    // two capped operators can meet in one plan)
    val metrics = capped.queryExecution.observedMetrics
    val key = metrics.keys.find(_.startsWith("jaccard_maxdf")).get
    assert(metrics(key).getLong(0) == 1L)
    // the reported jaccard is SELF-CONSISTENT: sizes come from the same
    // retained (df<=maxDF) universe as the intersections, so docs 0 and 1 —
    // identical up to the dropped hot shingle — score exactly 1.0
    val r01 = rows.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L).get
    assert(r01.getAs[Long]("sz_a") == 5L && r01.getAs[Long]("sz_b") == 5L)
    assert(r01.getAs[Long]("n_inter") == 5L && r01.getAs[Double]("jaccard") == 1.0)
    // and uncapped finds all 15 pairs
    assert(Dedup.jaccardPairs(sh, 0.0).count() == 15L)
  }

  test("kmeansLloyd: hand-computed round, truncating-mean centroids, partition-invariant") {
    val vecs = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(1f, 1f)), (2L, Seq(0.1f, 0f)),
      (3L, Seq(0.9f, 1f)), (4L, Seq(0f, 0.2f)), (5L, Seq(1f, 0.8f)))
      .toDF("vec_id", "embedding")
    // seeds (0,0) and (1000,1000); round 1 assigns {0,2,4} / {1,3,5};
    // truncated means -> c0=(33,66), c1=(966,933); v0 dist2 = 33²+66² = 5445
    for (parts <- Seq(1, 4)) {
      val got = Similarity.kmeansLloyd(vecs.repartition(parts), k = 2, rounds = 1)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
      assert(got.view.mapValues(_._1).toMap ==
        Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 1, 4L -> 0, 5L -> 1), s"parts=$parts")
      assert(got(0L)._2 == 33L * 33 + 66L * 66, s"parts=$parts")
    }
  }

  test("kCenterSelect: hand-computed greedy rounds, tie to smallest id, partition-invariant") {
    // quantized (x1000): v0=(0,0) v1=(10,0) v2=(0,1) v3=(9,0).
    // seed = v0; round 1 argmax min-dist2 = v1 (100 > 81 > 1);
    // round 2: v2 -> min(1, 101) = 1, v3 -> min(81, 1) = 1 — TIE, smallest
    // id wins -> v2. Final set {v0, v1, v2}; v3's min_dist2 = 1 (to v1).
    val vecs = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(0.01f, 0f)),
      (2L, Seq(0f, 0.001f)), (3L, Seq(0.009f, 0f)))
      .toDF("vec_id", "embedding")
    for (parts <- Seq(1, 3)) {
      val got = Similarity.kCenterSelect(vecs.repartition(parts), k = 3)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == Map(
        0L -> (0L, 0L), 1L -> (0L, 1L), 2L -> (0L, 2L), 3L -> (1L, -1L)),
        s"parts=$parts: $got")
    }
    // quantization collisions (all md = 0): chosen ids must stay DISTINCT
    // — a re-picked center would duplicate its row through the selection
    // join — and k beyond the corpus fails loudly
    val dup = Seq((0L, Seq(0f, 0f)), (1L, Seq(0f, 0f)), (2L, Seq(0f, 0f)))
      .toDF("vec_id", "embedding")
    val gotDup = Similarity.kCenterSelect(dup, k = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotDup == Map(0L -> (0L, 0L), 1L -> (0L, 1L), 2L -> (0L, -1L)), gotDup.toString)
    intercept[IllegalArgumentException] { Similarity.kCenterSelect(dup, k = 4).collect() }
  }

  test("kmeansLloyd: an emptied cell keeps its centroid (and can win it back)") {
    // duplicate seeds: every point ties to cell 0 in round 1, cell 1 keeps
    // (0,0); after the update moves c0 to the truncated mean, the origin
    // points re-assign to the UNMOVED cell-1 centroid at distance 0
    val vecs = Seq((0L, Seq(0f, 0f)), (1L, Seq(0f, 0f)), (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansLloyd(vecs, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got(0L) == ((1, 0L)) && got(1L) == ((1, 0L)))
    assert(got(2L)._1 == 0)
  }

  test("kmeansLloyd stops at the centroid fixpoint; budget rounds are not a fixed cost") {
    // two tight, well-separated clusters converge in a couple of rounds
    val vecs = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)), (2L, Seq(0.1f, 0.1f)),
      (3L, Seq(9.9f, 9.9f)), (4L, Seq(0.2f, 0f)), (5L, Seq(10f, 9.8f)))
      .toDF("vec_id", "embedding")
    val (out50, rounds) = Similarity.kmeansLloydWithStats(vecs, k = 2, rounds = 50)
    assert(rounds < 50, s"expected early fixpoint, ran $rounds rounds")
    val a = out50.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Similarity.kmeansLloyd(vecs, k = 2, rounds = rounds)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b) // the fixpoint output IS the budgeted output
  }

  test("kmeansLloyd rounds=0 assigns against the raw prefix seeds") {
    val vecs = Seq((0L, Seq(0f, 0f)), (1L, Seq(1f, 1f)), (2L, Seq(0.9f, 0.9f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansLloyd(vecs, k = 2, rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 1))
  }

  test("damerau_levenshtein: unrestricted DL (Lowrance-Wagner), not OSA") {
    import graft.functions.DamerauLevenshtein.distance
    // the discriminator: OSA answers 3 for CA->ABC, true DL answers 2
    assert(distance("CA", "ABC") == 2)
    assert(distance("ab", "ba") == 1)
    assert(distance("abcdef", "abdcfe") == 2)
    assert(distance("kitten", "sitting") == 3) // no transpositions: == levenshtein
    assert(distance("", "abc") == 3 && distance("abc", "") == 3)
    assert(distance("same", "same") == 0)
    // code-point semantics: transposing an astral symbol is ONE edit, not
    // two surrogate-char edits
    assert(distance("𝄞a", "a𝄞") == 1)
  }

  test("damerauVerify scores candidate pairs; SQL registration matches the Scala path") {
    graft.functions.GraftExtensions.register(spark)
    assert(spark.sql("SELECT damerau_levenshtein('CA', 'ABC')").head().getInt(0) == 2)
    // "ratain" -> "retian": one substitution + one DRIFTED transposition —
    // DL 2 vs levenshtein 3 (DuckDB-verified values)
    val d = docs(1L -> "they will ratain it", 2L -> "they will retian it",
      3L -> "totally different words here")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.damerauVerify(d, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getInt(3))).toMap
    assert(got((1L, 2L)) == ((2, 3)))
    val (dl13, lev13) = got((1L, 3L))
    assert(dl13 <= lev13 && dl13 > 10)
  }

  test("k-anonymity report and suppression: class sizes, l-diversity, semi-join release") {
    import graft.llm.Governance
    val df = Seq(
      ("a", 30, "x"), ("a", 30, "y"), ("a", 30, "x"), // class (a,30): n=3, 2 sensitive
      ("b", 40, "x"), ("b", 40, "x"),                 // class (b,40): n=2, 1 sensitive
      ("c", 50, "z")                                  // class (c,50): n=1
    ).toDF("seg", "age", "diag")
    val rep = Governance.kAnonymityReport(df, Seq("seg", "age"), k = 2,
        sensitiveCol = Some("diag"), l = 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(rep(("a", 30)) == ((3L, 2L, true, true)))
    assert(rep(("b", 40)) == ((2L, 1L, true, false))) // k-anonymous but not l-diverse
    assert(rep(("c", 50)) == ((1L, 1L, false, false)))
    val kept = Governance.kAnonymize(df, Seq("seg", "age"), k = 2)
      .select("seg").collect().map(_.getString(0))
    assert(kept.sorted.toSeq == Seq("a", "a", "a", "b", "b")) // the n=1 class suppressed
    // no sensitive column: report still carries sizes + k verdict
    val noSens = Governance.kAnonymityReport(df, Seq("seg"), k = 3)
    assert(noSens.columns.toSeq == Seq("seg", "n", "k_anonymous"))
    intercept[IllegalArgumentException] {
      Governance.kAnonymityReport(df, Seq.empty, k = 2)
    }
  }

  test("jaro_winkler: textbook values, prefix cap, edges; SQL registration") {
    import graft.functions.JaroWinkler.similarity
    // canonical published examples (Winkler '90)
    assert(math.abs(similarity("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(similarity("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(math.abs(similarity("DWAYNE", "DUANE") - 0.84) < 1e-12)
    assert(similarity("same", "same") == 1.0)
    assert(similarity("", "") == 1.0)
    assert(similarity("", "abc") == 0.0 && similarity("abc", "") == 0.0)
    assert(similarity("abc", "xyz") == 0.0) // no matches at all
    // prefix bonus caps at 4 shared chars even when more match
    val five = similarity("prefixesA", "prefixesB")
    val four = similarity("prefXesA", "prefXesB")
    assert(five > 0.9 && four > 0.9)
    // bonus only above the 0.7 boost threshold: a weak pair with a shared
    // first char must NOT receive it
    val weak = similarity("ab", "axyzqrstuv")
    assert(weak <= 0.7)
    graft.functions.GraftExtensions.register(spark)
    assert(spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA')")
      .head().getDouble(0) == similarity("MARTHA", "MARHTA"))
  }

  test("blockedNamePairs: within-block candidates only, threshold, block-size guard") {
    import graft.ops.EntityResolution
    val df = Seq(
      (1L, "acme corp", "US"), (2L, "acme corp.", "US"), (3L, "zzz unrelated", "US"),
      (4L, "acme corp", "DE") // same name, different block: must NOT pair with 1/2
    ).toDF("id", "name", "country")
    val got = EntityResolution.blockedNamePairs(df, Seq("country"), "id", "name",
        minSim = 0.9)
      .select("key_a", "key_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L))) // cross-block twin excluded by blocking
    // sim matches the scalar kernel on the surviving pair
    val sim = EntityResolution.blockedNamePairs(df, Seq("country"), "id", "name", 0.9)
      .select("sim").head().getDouble(0)
    assert(sim == graft.functions.JaroWinkler.similarity("acme corp", "acme corp."))
    // guard: a 3-row block exceeds maxBlockRows=2 (3 pairs > 1 allowed)
    val e = intercept[Exception] {
      EntityResolution.blockedNamePairs(df, Seq("country"), "id", "name",
        minSim = 0.0, maxBlockRows = Some(2L)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("maxBlockRows")))
  }

  test("sortedNeighborhoodPairs: rank-window pairing, linear fan-out, sim kernel") {
    import graft.ops.EntityResolution
    // one block; name sort order: a1 < a2 < a3 < m9 < z5 (ties impossible)
    val df = Seq(
      (1L, "acme corp", "US"), (2L, "acme corp.", "US"), (3L, "acme corpse", "US"),
      (9L, "middle co", "US"), (5L, "zzz unrelated", "US"),
      (7L, "acme corp", "DE") // other block: never pairs across
    ).toDF("id", "name", "country")
    // window=1: only sort-adjacent pairs scored; (1,2),(2,3) pass 0.9,
    // (3,9),(9,5) fail the threshold, (1,3) is 2 apart — not a candidate
    val w1 = EntityResolution.sortedNeighborhoodPairs(df, Seq("country"), "id",
        "name", minSim = 0.9, window = 1)
      .select("key_a", "key_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w1 == Set((1L, 2L), (2L, 3L)))
    // window=2 adds the rank-distance-2 candidate (1,3) — and it passes
    val w2 = EntityResolution.sortedNeighborhoodPairs(df, Seq("country"), "id",
        "name", minSim = 0.9, window = 2)
      .select("key_a", "key_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w2 == Set((1L, 2L), (2L, 3L), (1L, 3L)))
    // sim matches the scalar kernel
    val sim = EntityResolution.sortedNeighborhoodPairs(df, Seq("country"), "id",
        "name", minSim = 0.9, window = 1)
      .filter(col("key_a") === 1L).select("sim").head().getDouble(0)
    assert(sim == graft.functions.JaroWinkler.similarity("acme corp", "acme corp."))
    // candidate volume is LINEAR: at minSim=0, exactly Σ max(0, |block|−j)
    // pairs for j in 1..w — the 5-row block at w=2 yields 4+3=7, plus 0
    // from the singleton block
    val all = EntityResolution.sortedNeighborhoodPairs(df, Seq("country"), "id",
        "name", minSim = 0.0, window = 2).count()
    assert(all == 7L)
  }

  test("blockRanks: stitched multi-task ranks identical to the window form") {
    import graft.ops.EntityResolution
    // 600 rows over 3 blocks, names deliberately NOT aligned with ids so
    // range chunks cut through every block's sort order; 11 input
    // partitions so repartitionByRange produces several chunks per block
    val rows = (1 to 600).map(i => (s"b${i % 3}", i.toLong, f"n${(i * 131) % 997}%04d"))
    val df = rows.toDF("blk", "id", "name").repartition(11)
    val got = EntityResolution.blockRanks(df, Seq("blk"), Seq("name", "id"))
      .select("blk", "id", "__rn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("blk").orderBy("name", "id")
    val want = df.withColumn("__rn", row_number().over(w))
      .select("blk", "id", "__rn")
    assert(got.count() == 600L)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    // a null block key would silently miss the offsets join -> must FAIL
    val withNull = rows.toDF("blk", "id", "name")
      .withColumn("blk", when(col("id") === 7L, lit(null)).otherwise(col("blk")))
    val ex = intercept[Exception](
      EntityResolution.blockRanks(withNull, Seq("blk"), Seq("name", "id")).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("null blocking column")))
  }

  test("sortedNeighborhoodPairs: scalableRank path emits identical pairs") {
    import graft.ops.EntityResolution
    val rows = (1 to 300).map(i => (i.toLong, f"name${(i * 37) % 311}%03d x$i", s"c${i % 2}"))
    val df = rows.toDF("id", "name", "country").repartition(9)
    def pairs(scalable: Boolean) =
      EntityResolution.sortedNeighborhoodPairs(df, Seq("country"), "id", "name",
          minSim = 0.8, window = 4, scalableRank = scalable)
        .select("key_a", "key_b", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val win = pairs(scalable = false)
    val scl = pairs(scalable = true)
    assert(win.nonEmpty && win == scl)
  }

  test("prefixFilterPairs: exact completeness — equals all-pairs Jaccard at the threshold") {
    val d = docs(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with no overlap at all whatsoever"),
      (4L, "another unrelated document body mentioning nothing shared here"),
      (5L, "the quick brown fox jumps over the lazy dog today"))
    val sh = Dedup.wordShingles(d, 3)
    // FULL rows, n_a/n_b included: the duplicate class {0,5} crossing the
    // singleton {2} exercises the least/greatest re-orientation (rep pair
    // (0,2) expands to member pair (2,5)), where a size column that fails
    // to travel with its id would attribute |set(5)| to id 2
    val got = Dedup.prefixFilterPairs(sh, 70)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_inter"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))).toSet
    // no false negatives AND no extras: identical to the full posting join
    // thresholded at the same 0.7
    val truth = Dedup.jaccardPairs(sh, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_inter"),
        r.getAs[Long]("sz_a"), r.getAs[Long]("sz_b"))).toSet
    assert(got == truth && got.nonEmpty)
    assert(got.exists { case (a2, b2, _, na, nb) => (a2, b2) == ((2L, 5L)) && na != nb },
      "fixture must include a flipped cross-class pair with asymmetric sizes")
  }

  test("prefixFilterCandidates prunes stop-shingle pairs that share no rare token") {
    // every doc shares one hot shingle; only 0/1 share rare content
    val hot = "x y z"
    val d = docs(
      (0L, s"a b c d e $hot"), (1L, s"a b c d e $hot"),
      (2L, s"p q r $hot"), (3L, s"s t u $hot"),
      (4L, s"v w j $hot"), (5L, s"k l m $hot"))
    val sh = Dedup.wordShingles(d, 3)
    val cands = Dedup.prefixFilterCandidates(sh, 70)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the raw posting join would emit all 15 pairs (every doc co-occurs via
    // the hot shingle); the df-ascending prefix keeps rare shingles first,
    // so the hot shingle enters NO prefix and cross-cluster pairs never form
    assert(cands == Set((0L, 1L)))
    // pruning never sacrifices completeness: the surviving candidate is
    // exactly the one true >=0.7 pair
    val verified = Dedup.prefixFilterPairs(sh, 70)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified == Set((0L, 1L)))
  }

  test("PPJoin positional filter prunes a prefix-sharing pair the threshold can't reach") {
    // doc 1 holds 'zz' at prefix rank 4, doc 2 at rank 1: the positional
    // bound min(4,1) + min(10-4, 10-1) = 7 < alpha = ceil(70*20/170) = 9,
    // so (1,2) is cut BEFORE verification even though both prefixes share
    // 'zz' (the plain prefix join would emit it). True near-dup pairs
    // (identical docs, the 9-of-10 overlap pair) all survive.
    val d = docs(
      (1L, "aa1 aa2 aa3 zz f1 f2 f3 f4 f5 f6"),
      (2L, "zz g1 g2 g3 g4 g5 g6 g7 g8 g9"),
      (3L, "aa1 aa2 aa3 c1 c2 c3 c4 c5 c6 c7"),
      (4L, "pad g1 g2 g3 g4 g5 g6 g7 g8 g9"),
      (5L, "pad g1 g2 g3 g4 g5 g6 g7 g8 g9"),
      (6L, "qad f1 f2 f3 f4 f5 f6 e1 e2 e3"),
      (7L, "qad f1 f2 f3 f4 f5 f6 e1 e2 e3"))
    val sh = Dedup.wordShingles(d, 1)
    // structural precondition, derived from first principles so the test
    // fails loudly if the fixture drifts: 'zz' is inside BOTH prefixes
    // (df-ascending, length 4 at n=10, pct=70)
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    val df = texts.values.flatten.toSeq.groupBy(identity).map { case (w, ws) => w -> ws.size }
    def prefix(id: Long): Set[String] =
      texts(id).toSeq.sortBy(w => (df(w), w)).take(4).toSet
    assert(prefix(1L).contains("zz") && prefix(2L).contains("zz"))
    val cands = Dedup.prefixFilterCandidates(sh, 70)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cands.contains((1L, 2L)), "positional filter must cut the (1,2) candidate")
    // completeness: the gated candidates still cover every true pair, and
    // the full pipeline equals the all-pairs truth
    val truth = Dedup.jaccardPairs(sh, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth == Set((2L, 4L), (2L, 5L), (4L, 5L), (6L, 7L)))
    assert(truth.subsetOf(cands))
    val got = Dedup.prefixFilterPairs(sh, 70)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth)
  }

  test("df-skew gate: Zipfian routes to the exact prefix tier, uniform to the capped tier") {
    // Zipfian-ish: per-doc unique words (df 1, the median) + a shared hot
    // phrase whose shingles exceed 1% of the vocabulary (p99 = 30 >> median)
    val zipf = docs((0L to 30L).map { i =>
      val k = i % 30 // doc 30 duplicates doc 0 so the exact tier has a pair
      i -> s"u${k}a u${k}b u${k}c alpha beta gamma delta"
    }: _*)
    val zsh = Dedup.wordShingles(zipf, 3)
    val (zv, zp, zmed, zp99) = Dedup.dfSkewStats(zsh)
    assert(zmed == 1L && zp99 == 31L, s"fixture drifted: median=$zmed p99=$zp99")
    val zr = Dedup.prefixFilterPairsAuto(zsh)
    assert(zr.select("route").distinct().collect().map(_.getString(0)).toSeq == Seq("prefix_exact"))
    // the gated output matches the direct exact tier, route column aside
    val zdirect = Dedup.prefixFilterPairs(zsh, 70)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_inter"))).toSet
    val zgot = zr.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_inter"))).toSet
    assert(zgot == zdirect)

    // degenerate: 100 docs over a 4-word cyclic vocabulary — every shingle's
    // df is corpus-scale (median == p99, mean df >> 8): the gate must refuse
    // the exact tier and route to the maxDF-capped posting join
    val uni = docs((0L until 100L).map(i =>
      i -> (0 until 8).map(j => s"w${(i + j) % 4}").mkString(" ")): _*)
    val ush = Dedup.wordShingles(uni, 3)
    val (uv, up, umed, up99) = Dedup.dfSkewStats(ush)
    assert(up99.toDouble / umed < 4.0 && up.toDouble / uv > 8.0,
      s"fixture drifted: v=$uv p=$up med=$umed p99=$up99")
    val ur = Dedup.prefixFilterPairsAuto(ush)
    assert(ur.select("route").distinct().collect().map(_.getString(0)).toSeq == Seq("maxdf_capped"))
    // with maxDF above every df the capped route IS exact jaccard — check
    // against the all-pairs truth on the same frame
    val utruth = Dedup.jaccardPairs(ush, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ugot = ur.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ugot == utruth && ugot.nonEmpty)
  }

  test("incrementalCandidates: only pairs touching the increment, corpus side broadcast") {
    // corpus: two identical docs (1,2) + distinct doc 3; incoming: dup of
    // corpus doc 1 (id 10) + fresh doc 11
    val corpus = docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "one two three four"))
    val incoming = docs((10L, "alpha beta gamma delta"), (11L, "five six seven eight"))
    val sc = Dedup.minhashSignatures(Dedup.wordShingles(corpus, 3), 12)
    val si = Dedup.minhashSignatures(Dedup.wordShingles(incoming, 3), 12)
    val cand = Dedup.incrementalCandidates(sc, si, bands = 4, rowsPerBand = 3)
    val got = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,2) is corpus-internal -> MUST be absent; incoming dup pairs present
    assert(got == Set((1L, 10L), (2L, 10L)))
    // the incoming band table broadcasts against the corpus side
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("lshCandidates maxBucket caps pathological duplicate clusters") {
    // 8 identical docs -> identical signatures -> one bucket of 8 per band
    val d = docs((0L until 8L).map(i => (i, "all the same words here okay")): _*)
    val sig = Dedup.minhashSignatures(Dedup.wordShingles(d, 3), 12)
    val capped = Dedup.lshCandidates(sig, 4, 3, maxBucket = 4)
    assert(capped.count() == 0L)
    val full = Dedup.lshCandidates(sig, 4, 3)
    assert(full.count() == 28L) // C(8,2)
  }

  // ---------------------------------------------------------- text stats

  test("rolling hash matches BigInt reference model") {
    val mod = BigInt(2).pow(61) - 1
    def ref(s: String): Long =
      s.foldLeft(BigInt(0))((h, c) => (h * 257 + c.toInt) % mod).toLong
    for (s <- Seq("", "a", "hello world", "The quick brown fox", "é世界" * 7))
      assert(TextStats.rollingHash(s) == ref(s), s"mismatch for '$s'")
  }

  test("window hashes: full-length window equals rolling hash; sliding is consistent") {
    val s = "abcdefghij"
    assert(TextStats.windowHashes(s, s.length).toSeq == Seq(TextStats.rollingHash(s)))
    val w4 = TextStats.windowHashes(s, 4)
    assert(w4.length == 7)
    assert(w4(0) == TextStats.rollingHash("abcd"))
    assert(w4(6) == TextStats.rollingHash("ghij"))
  }

  test("native window_hashes expression equals the UDF reference; SQL-registered") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "short"), (3L, ""), (4L, "exactly16chars!!")).toDF("id", "text")
    val both = df.select(col("id"),
        graft.functions.RollingHash.windowHashesCol(col("text"), 16).as("native"),
        TextStats.windowHashesUdf(col("text"), lit(16)).as("viaUdf"))
      .collect()
    both.foreach(r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.getLong(0)}"))
    // null input: expression yields NULL (standard null-through)
    val nul = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(graft.functions.RollingHash.windowHashesCol(col("text"), 4)).collect()(0)
    assert(nul.isNullAt(0))
    // registered for SQL use through GraftExtensions
    graft.functions.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT window_hashes('abcdefghij', 4) AS h").collect()(0).getSeq[Long](0)
    assert(viaSql == TextStats.windowHashes("abcdefghij", 4).toSeq)
  }

  test("native kernels compile under CODEGEN_ONLY (no silent interpreter fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val wh = Seq((1L, "abcdefghij")).toDF("id", "text")
        .select(graft.functions.RollingHash.windowHashesCol(col("text"), 4).as("h"))
        .collect()(0).getSeq[Long](0)
      assert(wh == TextStats.windowHashes("abcdefghij", 4).toSeq)
      val cells = Seq((1L, Array(900L, 100L)), (2L, Array(0L, 1000L))).toDF("id", "qv")
        .select(col("id"), graft.functions.CellAssign.assignCol(col("qv"),
          Seq(Seq(1000L, 0L), Seq(0L, 1000L))).as("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(cells == Map(1L -> 0, 2L -> 1))
      // PQ: LUT build + ADC scoring both stay in codegen
      val cb = Seq(Seq(Seq(0L, 0L), Seq(10L, 10L)), Seq(Seq(5L, 5L), Seq(0L, 0L)))
      val adc = Seq((1L, Array(1L, 1L, 5L, 5L))).toDF("id", "qv")
        .select(graft.functions.Pq.lutCol(col("qv"), cb).as("lut"))
        .select(graft.functions.Pq.adcCol(col("lut"),
          typedLit(Seq(0, 0)), numCodewords = 2).as("adc"))
        .collect()(0).getLong(0)
      // lut[0][0] = 1+1 = 2; lut[1][0] = 0+0 = 0 -> adc 2
      assert(adc == 2L)
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("pqEncode/pqTopK: hand-computed codes and exact ADC distances") {
    import graft.llm.Similarity
    // 4-dim vectors, 2 subspaces of 2 dims; codebooks = first-2-vector slices
    val vecs = Seq(
      (0L, Seq(0.001f, 0.0f, 0.01f, 0.01f)),   // quantized [1,0,10,10]
      (1L, Seq(0.01f, 0.01f, 0.0f, 0.001f)),   // quantized [10,10,0,1]
      (2L, Seq(0.002f, 0.0f, 0.001f, 0.002f)), // quantized [2,0,1,2]
      (3L, Seq(0.009f, 0.011f, 0.0f, 0.0f))    // quantized [9,11,0,0]
    ).toDF("vec_id", "embedding")
    val cbs = Similarity.collectPqCodebooks(vecs, numCodewords = 2, numSubspaces = 2)
    assert(cbs == Seq(Seq(Seq(1L, 0L), Seq(10L, 10L)), Seq(Seq(10L, 10L), Seq(0L, 1L))))
    val codes = Similarity.pqEncode(vecs, cbs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // vec 2 [2,0|1,2]: sub0 d²(=[1,0])=1 < d²(=[10,10])=164 -> 0;
    //                  sub1 d²(=[10,10])=145 > d²(=[0,1])=2 -> 1
    assert(codes(0L) == Seq(0, 0) && codes(1L) == Seq(1, 1))
    assert(codes(2L) == Seq(0, 1) && codes(3L) == Seq(1, 1))
    // ADC from query 2: vs 0 (codes 0,0 -> [1,0],[10,10]): 1 + 145 = 146;
    // vs 1 and 3 (codes 1,1 -> [10,10],[0,1]): 164 + 2 = 166 — the tie
    // breaks to the lower neighbor id
    val top = Similarity.pqTopKWithCodebooks(vecs.filter($"vec_id" === 2), vecs, k = 3, cbs)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getLong(2))).toList
    assert(top == List((0L, 146L), (1L, 166L), (3L, 166L)))
    // dimension must divide evenly into subspaces
    intercept[IllegalArgumentException](Similarity.collectPqCodebooks(vecs, 2, 3))
  }

  test("pqTopKReranked with a full shortlist equals bruteForceTopK exactly") {
    import graft.llm.Similarity
    val vecs = Seq(
      (0L, Seq(0.001f, 0.0f, 0.01f, 0.01f)),
      (1L, Seq(0.01f, 0.01f, 0.0f, 0.001f)),
      (2L, Seq(0.002f, 0.0f, 0.001f, 0.002f)),
      (3L, Seq(0.009f, 0.011f, 0.0f, 0.0f)),
      (4L, Seq(0.003f, 0.001f, 0.002f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cbs = Similarity.collectPqCodebooks(vecs, numCodewords = 2, numSubspaces = 2)
    val q = vecs.filter($"vec_id" < 2)
    // shortlist = whole corpus -> the ADC stage cannot lose a neighbor, so
    // the exact re-rank must reproduce brute force bit-for-bit
    val rr = Similarity.pqTopKReranked(q, vecs, k = 3, shortlist = 5, cbs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val bf = Similarity.bruteForceTopK(q, vecs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rr == bf)
    intercept[IllegalArgumentException](
      Similarity.pqTopKReranked(q, vecs, k = 5, shortlist = 3, cbs))
  }

  test("PQ and IVF-PQ ADC equal driver-computed reconstruction distances on random vectors") {
    import graft.llm.Similarity
    val rnd = new scala.util.Random(42)
    val dims = 8
    val vecs = (0L until 24L).map { id =>
      id -> Seq.fill(dims)((rnd.nextInt(21) - 10) / 1000.0f)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qv = vecs.toMap.view.mapValues(_.map(x => math.round(x.toDouble * 1000))).toMap
    def sq(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

    // flat PQ: reference codes by per-subspace argmin, ADC = distance to reconstruction
    val m = 4; val sub = dims / m; val nCw = 8
    val cbs = Similarity.collectPqCodebooks(df, nCw, m)
    def codesOf(v: Seq[Long], books: Seq[Seq[Seq[Long]]]): Seq[Int] =
      books.zipWithIndex.map { case (cb, mi) =>
        val s = v.slice(mi * sub, (mi + 1) * sub)
        cb.zipWithIndex.minBy { case (w, j) => (sq(s, w), j) }._2
      }
    val gotFlat = Similarity.pqTopKWithCodebooks(df.filter($"vec_id" < 3), df, k = 24, cbs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (q <- 0L until 3L; n <- 0L until 24L if q != n) {
      val recon = codesOf(qv(n), cbs).zipWithIndex.flatMap { case (c, mi) => cbs(mi)(c) }
      assert(gotFlat((q, n)) == sq(qv(q), recon), s"flat adc ($q,$n)")
    }

    // IVF-PQ with enough probes to cover every cell: ADC = distance to
    // (centroid + residual codeword) reconstruction
    val coarse = Similarity.collectQuantizedCentroids(df, 4)
    val rcbs = Similarity.collectPqResidualCodebooks(df, coarse, nCw, m)
    def cellOf(v: Seq[Long]): Int =
      coarse.zipWithIndex.minBy { case (c, j) => (sq(v, c), j) }._2
    val gotIvf = Similarity.ivfPqTopK(df.filter($"vec_id" < 3), df, k = 24, coarse, rcbs,
        nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (q <- 0L until 3L; n <- 0L until 24L if q != n) {
      val cell = cellOf(qv(n))
      val resid = qv(n).zip(coarse(cell)).map { case (x, c) => x - c }
      val recon = codesOf(resid, rcbs).zipWithIndex.flatMap { case (c, mi) =>
        rcbs(mi)(c).zip(coarse(cell).slice(mi * sub, (mi + 1) * sub)).map { case (w, cc) => w + cc }
      }
      assert(gotIvf((q, n)) == sq(qv(q), recon), s"ivfpq adc ($q,$n)")
    }
  }

  test("ivfPqTopK with one zero centroid degenerates to flat PQ exactly") {
    import graft.llm.Similarity
    // a single origin centroid makes every residual the vector itself, so
    // residual codebooks == flat codebooks and IVF-PQ == flat PQ ADC
    val vecs = Seq(
      (0L, Seq(0.001f, 0.0f, 0.01f, 0.01f)),
      (1L, Seq(0.01f, 0.01f, 0.0f, 0.001f)),
      (2L, Seq(0.002f, 0.0f, 0.001f, 0.002f)),
      (3L, Seq(0.009f, 0.011f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val origin = Seq(Seq(0L, 0L, 0L, 0L))
    val rcbs = Similarity.collectPqResidualCodebooks(vecs, origin, 2, 2)
    val fcbs = Similarity.collectPqCodebooks(vecs, 2, 2)
    assert(rcbs == fcbs)
    val q = vecs.filter($"vec_id" === 2)
    val ivfpq = Similarity.ivfPqTopK(q, vecs, k = 3, origin, rcbs, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val flat = Similarity.pqTopKWithCodebooks(q, vecs, k = 3, fcbs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(ivfpq == flat)
  }

  test("ivfPqTopK prunes to probed cells and ranks by exact reconstruction distance") {
    import graft.llm.Similarity
    // two well-separated clusters; coarse centroids = one per cluster
    // (first 2 vectors). nProbe=1 scans ONLY the query's cluster: the
    // cross-cluster vector 4 must not appear even though k allows it.
    val vecs = Seq(
      (0L, Seq(0.0f, 0.0f, 0.001f, 0.0f)),     // cluster A anchor
      (1L, Seq(0.1f, 0.1f, 0.1f, 0.1f)),       // cluster B anchor
      (2L, Seq(0.001f, 0.0f, 0.0f, 0.0f)),     // A
      (3L, Seq(0.0f, 0.001f, 0.0f, 0.001f)),   // A
      (4L, Seq(0.1f, 0.101f, 0.1f, 0.099f))    // B
    ).toDF("vec_id", "embedding")
    val coarse = Similarity.collectQuantizedCentroids(vecs, 2)
    val cbs = Similarity.collectPqResidualCodebooks(vecs, coarse, 4, 2)
    val got = Similarity.ivfPqTopK(vecs.filter($"vec_id" === 2), vecs, k = 4,
        coarse, cbs, nProbe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(got.subsetOf(Set(0L, 3L))) // only cluster A, never 1L or 4L
    // coarse/codebook dimension mismatch fails loudly
    intercept[IllegalArgumentException](
      Similarity.ivfPqTopK(vecs, vecs, 1, Seq(Seq(0L, 0L)), cbs))
  }

  test("pqTopK: a corpus twin of the query wins with the minimal ADC") {
    import graft.llm.Similarity
    // twin shares every code with the query, so its ADC equals the query's
    // own quantization residual — the minimum any corpus row can achieve
    val vecs = Seq(
      (0L, Seq(0.0f, 0.0f, 0.01f, 0.01f)),
      (1L, Seq(0.01f, 0.01f, 0.0f, 0.0f)),
      (2L, Seq(0.0041f, 0.0f, 0.0f, 0.0f)),  // the query
      (3L, Seq(0.0041f, 0.0f, 0.0f, 0.0f)),  // its exact twin
      (4L, Seq(0.01f, 0.009f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cbs = Similarity.collectPqCodebooks(vecs, numCodewords = 2, numSubspaces = 2)
    val top = Similarity.pqTopKWithCodebooks(vecs.filter($"vec_id" === 2), vecs, k = 1, cbs)
      .collect()(0)
    assert(top.getLong(1) == 3L)
  }

  test("quality stats exact counts") {
    val r = TextStats.qualityStats(docs(1L -> "the cat sat on a mat.")).collect()(0)
    assert(r.getAs[Long]("n_tokens") == 6)
    assert(r.getAs[Long]("n_chars_m") == 21)
    assert(r.getAs[Double]("stopword_ratio") == 2.0 / 6.0) // the, a
    assert(r.getAs[Double]("punct_ratio") == 1.0 / 21.0) // the period
  }

  test("langId picks English for an English sentence, und for no markers") {
    val d = docs(1L -> "the cat and the dog of the house", 2L -> "qwerty asdf zxcv")
    val m = d.select($"doc_id", TextStats.langId($"text").as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "en" && m(2L) == "und")
  }

  test("word-set fingerprint invariant to order and duplication") {
    val d = docs(1L -> "b a c a", 2L -> "c b a", 3L -> "c b a d")
    val m = d.select($"doc_id", TextStats.wordSetFingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == m(2L) && m(1L) != m(3L))
  }

  // ---------------------------------------------------------- multimodal

  test("media features: md5 and byte length match reference impls") {
    val media = Multimodal.documentsAsMedia(docs(7L -> "hello"))
    val f = Multimodal.extractFeatures(media).collect()(0)
    assert(f.media_id == 7L)
    assert(f.byte_len == 5L)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest("hello".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(f.content_hash == expect)
    assert(f.feature.length == 8 && math.abs(f.feature.sum - 1.0f) < 1e-5)
  }

  test("resizeImages: real NN resample, position-exact pixels, BMP roundtrip") {
    val id = 9L // source 8x3 (w=4+9%5=8, h=3+9%3=3)
    val rows = Multimodal.syntheticBmps(docs(id -> "x"))
    val out = Multimodal.resizeImages(rows, 3).collect()(0)
    assert(out.width == 3 && out.height == 2 && out.mime == "image/bmp")
    // decode the re-encoded BMP through the real path and check EVERY
    // pixel equals the named source pixel of the formula image
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out.bytes))
    assert(img.getWidth == 3 && img.getHeight == 2)
    val (sw, sh) = (8, 3)
    def v(i: Int, c: Int): Int = (((id * 31 + i * 7 + c * 13) % 256) + 256).toInt % 256
    for (y <- 0 until 2; x <- 0 until 3) {
      val i = (y * sh / 2) * sw + (x * sw / 3)
      val want = (v(i, 0) << 16) | (v(i, 1) << 8) | v(i, 2)
      assert((img.getRGB(x, y) & 0xffffff) == want, s"pixel ($x,$y)")
    }
    // non-decodable payload: deterministic byte-truncate fallback, no throw
    val junk = rows.map(r => r.copy(bytes = Array[Byte](1, 2, 3, 4, 5)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val fb = Multimodal.resizeImages(junk, 2).collect()(0)
    assert(fb.bytes.toSeq == Seq[Byte](1, 2, 3, 4) && fb.width == 2)
  }

  test("decodeImage parses a PNG written by an independent encoder exactly") {
    // fixture produced by ImageIO.WRITE (an independent encode path, not
    // our BMP assembler): 3x2 with known channel values per pixel
    val img = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Array(
      (10, 20, 30), (200, 100, 50), (0, 0, 0),
      (255, 255, 255), (1, 2, 3), (128, 64, 32))
    for (y <- 0 until 2; x <- 0 until 3) {
      val (r, g, b) = px(y * 3 + x)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val Some((w, h, pxSum, hist)) = Multimodal.decodeImage(bos.toByteArray)
    assert(w == 3 && h == 2)
    assert(pxSum == px.map { case (r, g, b) => r + g + b }.sum.toLong)
    val lum = px.map { case (r, g, b) => (r * 299 + g * 587 + b * 114) / 1000 >> 5 }
    val expectHist = (0 until 8).map(bin => lum.count(_ == bin) / 6.0f).toArray
    assert(hist.toSeq == expectHist.toSeq)
  }

  test("syntheticBmp decodes to the formula pixels, orientation included") {
    val id = 42L
    val bytes = Multimodal.syntheticBmp(id)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "JDK BMP reader rejected the hand-assembled payload")
    val w = (4 + id % 5).toInt
    val h = (3 + id % 3).toInt
    assert(img.getWidth == w && img.getHeight == h)
    def v(i: Int, c: Int): Int = ((id * 31 + i * 7 + c * 13) % 256).toInt
    // every pixel position-exact — a bottom-up/BGR mixup cannot pass this
    for (y <- 0 until h; x <- 0 until w) {
      val i = y * w + x
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff) == ((v(i, 0), v(i, 1), v(i, 2))),
        s"pixel ($x,$y)")
    }
    // and the aggregate surface matches extractFeatures' real-decode branch
    val feats = Multimodal.extractFeatures(Multimodal.syntheticBmps(
      docs(id -> "ignored"))).collect()(0)
    assert(feats.decoded && feats.img_w == w && feats.img_h == h)
    val expSum = (0 until w * h).flatMap(i => Seq(v(i, 0), v(i, 1), v(i, 2))).map(_.toLong).sum
    assert(feats.px_sum == expSum)
  }

  test("imageAHash: identical payloads collide, bits match a driver reference") {
    val id = 42L
    val w = (4 + id % 5).toInt
    val h = (3 + id % 3).toInt
    def v(i: Int, c: Int): Int = ((id * 31 + i * 7 + c * 13) % 256).toInt
    val grays = (0 until w * h).map(i => (v(i, 0) + v(i, 1) + v(i, 2)) / 3L)
    val tot = grays.sum
    val n = grays.length
    val expHash = grays.zipWithIndex.collect {
      case (g, i) if g * n >= tot => 1L << i }.foldLeft(0L)(_ | _)
    // two rows with the SAME payload must collide (the dedup property);
    // the hash itself must equal the pixel-formula reference
    val rows = Multimodal.syntheticBmps(docs(id -> "x"))
    val twice = rows.union(rows.map(r => r.copy(media_id = r.media_id + 1000)))
    val got = Multimodal.imageAHash(twice).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getBoolean(3))).toMap
    assert(got(id) == got(id + 1000))
    assert(got(id) == ((expHash, java.lang.Long.bitCount(expHash), true)))
  }

  test("imageAHash: large images hash the deterministic 8x8 sample grid") {
    // 16x16 PNG (lossless), pixel (x, y) = gray (x * 16 + y) * 3 % 256;
    // the sampled grid index arithmetic is k*w div 8 = k*2
    val im = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) {
      val g = (x * 16 + y) * 3 % 256
      im.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    val row = Seq(Multimodal.MediaRow(1L, "image", "image/png", bos.toByteArray,
      -1, -1, 0L)).toDS()
    val got = Multimodal.imageAHash(row).collect()(0)
    val grays = for (j <- 0 until 8; k <- 0 until 8)
      yield ((k * 2) * 16 + (j * 2)) * 3 % 256L
    val tot = grays.sum
    val expHash = grays.zipWithIndex.collect {
      case (g, i) if g * 64 >= tot => 1L << i }.foldLeft(0L)(_ | _)
    assert(got.getBoolean(3))
    assert(got.getLong(1) == expHash)
    // corrupt payload: sentinel row, never a throw
    val bad = Multimodal.imageAHash(row.map(r => r.copy(bytes = r.bytes.take(8))))
      .collect()(0)
    assert(!bad.getBoolean(3) && bad.getLong(1) == -1L)
  }

  test("non-image and undecodable payloads fall back to the stub, flagged") {
    val f = Multimodal.extractFeatures(
      Multimodal.documentsAsMedia(docs(9L -> "plain text, not an image")))
      .collect()(0)
    assert(!f.decoded && f.img_w == -1 && f.img_h == -1 && f.px_sum == -1L)
    assert(f.feature.length == 8) // the stub histogram, still well-formed
  }

  test("syntheticWav decodes to the formula samples via the JDK audio parser") {
    val id = 42L
    val au = Multimodal.decodeAudio(Multimodal.syntheticWav(id))
    assert(au.isDefined, "JDK WAV reader rejected the hand-assembled payload")
    val Some((rate, channels, frames, sum)) = au
    val n = (40 + id % 25).toInt
    val expSum = (0 until n).map(i => ((id * 31 + i * 7) % 65536) - 32768).sum
    assert(rate == 8000 && channels == 1 && frames == n && sum == expSum)
    // corrupt payload: decoded=false with -1 fields, never a throw
    val bad = Multimodal.extractAudioFeatures(
      Multimodal.syntheticWavs(docs(7L -> "x")).map(r =>
        r.copy(bytes = r.bytes.take(10)))).collect()(0)
    assert(!bad.decoded && bad.sample_rate == -1 && bad.n_frames == -1L)
    // non-audio rows skip the parser entirely
    val img = Multimodal.extractAudioFeatures(
      Multimodal.syntheticBmps(docs(7L -> "x"))).collect()(0)
    assert(!img.decoded && img.sample_sum == -1L)
  }

  test("audioEnergyWindows: formula-exact energy/peak, ragged tail, corrupt drop") {
    val id = 42L
    val n = (40 + id % 25).toInt // 57 samples -> windows of 16,16,16,9
    def sample(i: Int): Long = ((id * 31 + i * 7) % 65536) - 32768
    val got = Multimodal.audioEnergyWindows(
        Multimodal.syntheticWavs(docs(id -> "x")))
      .collect().map(w => (w.win_idx, w.n_samples, w.energy, w.peak)).sortBy(_._1)
    val want = (0 until n).map(i => (i / 16, sample(i)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (w, ss) => (w, ss.size.toLong,
        ss.map(s => s._2 * s._2).sum, ss.map(s => math.abs(s._2)).max) }
    assert(got.toSeq == want)
    assert(got.last._2 == n % 16) // the ragged tail window is emitted, not padded
    // corrupt payloads emit nothing (sentinels are extractAudioFeatures' job)
    assert(Multimodal.audioEnergyWindows(
      Multimodal.syntheticWavs(docs(7L -> "x")).map(r =>
        r.copy(bytes = r.bytes.take(10)))).isEmpty)
  }

  test("MP4 box walk parses the hand-assembled container to the formula dims") {
    val id = 42L // even → MP4 in syntheticVideos
    val (w, h, durMs) = Multimodal.videoDims(id)
    assert(Multimodal.parseMp4Meta(Multimodal.syntheticMp4(id)).contains((w, h, durMs)))
    assert(Multimodal.parseVideoMeta(Multimodal.syntheticMp4(id))
      .contains(("mp4", w, h, durMs)))
    // 64-bit largesize moov header (size==1 → largesize follows) also walks
    val b = Multimodal.syntheticMp4(id)
    val moovOff = 20 // after ftyp
    val big = new Array[Byte](b.length + 8)
    System.arraycopy(b, 0, big, 0, moovOff)
    val bb = java.nio.ByteBuffer.wrap(big).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(moovOff, 1) // size==1 marker
    System.arraycopy(b, moovOff + 4, big, moovOff + 4, 4) // "moov"
    bb.putLong(moovOff + 8, (b.length - moovOff + 8).toLong) // largesize
    System.arraycopy(b, moovOff + 8, big, moovOff + 16, b.length - moovOff - 8)
    assert(Multimodal.parseMp4Meta(big).contains((w, h, durMs)))
  }

  test("Matroska EBML walk parses the hand-assembled container to the formula dims") {
    val id = 43L // odd → MKV in syntheticVideos
    val (w, h, durMs) = Multimodal.videoDims(id)
    assert(Multimodal.parseMkvMeta(Multimodal.syntheticMkv(id)).contains((w, h, durMs)))
    assert(Multimodal.parseVideoMeta(Multimodal.syntheticMkv(id))
      .contains(("mkv", w, h, durMs)))
  }

  test("video rows carry parsed container metadata through the feature paths") {
    val metas = Multimodal.extractVideoMeta(
        Multimodal.syntheticVideos(docs(6L -> "a", 7L -> "b")))
      .collect().map(m => m.media_id -> m).toMap
    for (id <- Seq(6L, 7L)) {
      val (w, h, durMs) = Multimodal.videoDims(id)
      val m = metas(id)
      assert(m.decoded && m.width == w && m.height == h && m.duration_ms == durMs)
      assert(m.container == (if (id % 2 == 0) "mp4" else "mkv"))
    }
    // extractFeatures: dims land in img_w/img_h, frame_count derives from
    // the PARSED duration (row metadata left unknown by syntheticVideos)
    val f = Multimodal.extractFeatures(
      Multimodal.syntheticVideos(docs(6L -> "a"))).collect()(0)
    val (w6, h6, dur6) = Multimodal.videoDims(6L)
    assert(f.decoded && f.img_w == w6 && f.img_h == h6)
    assert(f.frame_count == math.max(1, (dur6 / 40).toInt))
    // corrupt payload: decoded=false with -1 fields, never a throw
    val bad = Multimodal.extractVideoMeta(
      Multimodal.syntheticVideos(docs(6L -> "a")).map(r =>
        r.copy(bytes = r.bytes.take(10)))(
        org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])).collect()(0)
    assert(!bad.decoded && bad.container == "none" && bad.width == -1 &&
      bad.duration_ms == -1L)
  }

  test("aHashNearDupPairs: banding finds identical images, gates giant buckets") {
    import org.apache.spark.sql.Encoders
    val enc = Encoders.product[Multimodal.MediaRow]
    def bmpRows(ids: Seq[(Long, Long)]): org.apache.spark.sql.Dataset[Multimodal.MediaRow] =
      spark.createDataset(ids.map { case (mid, src) =>
        Multimodal.MediaRow(mid, "image", "image/bmp",
          Multimodal.syntheticBmp(src), -1, -1, 0L) })(enc)
    // 10,20 share source image 3; 30,40 share source 7; 50 is unique:
    // the two identical pairs MUST surface at hamming 0, and 50 must
    // never be reported as an EXACT dup (hamming 0) of anything — these
    // tiny test hashes sit close enough that 1–2-bit chance neighbors of
    // 50 are legitimate near-dup candidates, not false positives
    val got = Multimodal.aHashNearDupPairs(bmpRows(Seq(
        10L -> 3L, 20L -> 3L, 30L -> 7L, 40L -> 7L, 50L -> 11L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(got.contains((10L, 20L, 0)) && got.contains((30L, 40L, 0)))
    assert(!got.exists(p => (p._1 == 50L || p._2 == 50L) && p._3 == 0))
    assert(got.forall(p => p._3 >= 0 && p._3 <= 2))
    // maxBucket gate: 5 copies of one image with maxBucket=4 drops every
    // band bucket whole -> no candidates survive, by design not by luck
    val gated = Multimodal.aHashNearDupPairs(
      bmpRows((1L to 5L).map(i => i -> 3L)), maxBucket = 4).collect()
    assert(gated.isEmpty)
    // the pigeonhole precondition is enforced, not assumed
    intercept[IllegalArgumentException] {
      Multimodal.aHashNearDupPairs(bmpRows(Seq(1L -> 1L)), nBands = 2)
    }
  }

  test("AVI walk + DIB frame decode reproduce the formula pixels exactly") {
    for (id <- Seq(0L, 1L, 7L, 123L)) {
      val (ew, eh, en) = Multimodal.aviDims(id)
      val Some((handler, w, h, frames)) = Multimodal.parseAvi(Multimodal.syntheticAviDib(id))
      assert(handler == "DIB " && w == ew && h == eh && frames.length == en)
      frames.zipWithIndex.foreach { case (f, fi) =>
        val Some((fw, fh, sum)) = Multimodal.decodeAviFrame("DIB ", w, h, f)
        val expect = (0 until ew * eh).map(i =>
          (0 to 2).map(c => Multimodal.aviPx(id, fi, i, c).toLong).sum).sum
        assert(fw == ew && fh == eh && sum == expect, s"id=$id frame=$fi")
      }
    }
    // end-to-end through the Dataset path: one row per frame, all decoded
    val rows = Multimodal.decodeVideoFrames(
        Multimodal.syntheticAvis(docs(3L -> "a", 8L -> "b")))
      .collect().sortBy(r => (r.media_id, r.frame_idx))
    assert(rows.map(_.media_id).distinct.toSeq == Seq(3L, 8L))
    for (id <- Seq(3L, 8L)) {
      val (ew, eh, en) = Multimodal.aviDims(id)
      val mine = rows.filter(_.media_id == id)
      assert(mine.length == en && mine.forall(r => r.decoded &&
        r.img_w == ew && r.img_h == eh))
    }
    // corrupt payload: ONE sentinel row, never a throw or a vanished id
    val bad = Multimodal.decodeVideoFrames(
      Multimodal.syntheticAvis(docs(3L -> "a")).map(r => r.copy(bytes = r.bytes.take(16)))(
        org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])).collect()
    assert(bad.length == 1 && !bad(0).decoded && bad(0).frame_idx == -1)
  }

  test("PNG decode round-trips the formula pixels exactly and agrees with BMP") {
    for (id <- Seq(0L, 2L, 9L, 77L)) {
      val Some((wp, hp, sp, _)) = Multimodal.decodeImage(Multimodal.syntheticPng(id))
      val Some((wb, hb, sb, _)) = Multimodal.decodeImage(Multimodal.syntheticBmp(id))
      // lossless codec: decoded dims AND the exact pixel sum must match the
      // hand-assembled raw container carrying the same logical pixels
      assert((wp, hp, sp) == (wb, hb, sb), s"id=$id png=($wp,$hp,$sp) bmp=($wb,$hb,$sb)")
      val expect = (0 until wp * hp).map(i =>
        (0 to 2).map(c => (((id * 31 + i * 7 + c * 13) % 256) + 256) % 256).sum).sum
      assert(sp == expect, s"id=$id")
    }
  }

  test("Y4M walk + frame sums are position-exact and agree with the DIB-AVI container") {
    for (id <- Seq(0L, 1L, 7L, 123L)) {
      val (ew, eh, en) = Multimodal.aviDims(id)
      val Some((w, h, frames)) = Multimodal.parseY4m(Multimodal.syntheticY4m(id))
      assert(w == ew && h == eh && frames.length == en, s"id=$id header/frames")
      val wph = ew * eh
      frames.zipWithIndex.foreach { case (f, fi) =>
        // position-exact: plane c, pixel i is the aviPx formula value
        for (c <- 0 to 2; i <- Seq(0, wph / 2, wph - 1))
          assert((f(c * wph + i) & 0xff) == Multimodal.aviPx(id, fi, i, c),
            s"id=$id frame=$fi plane=$c px=$i")
        val expect = (0 until wph).map(i =>
          (0 to 2).map(c => Multimodal.aviPx(id, fi, i, c).toLong).sum).sum
        assert(f.map(b => (b & 0xff).toLong).sum == expect, s"id=$id frame=$fi sum")
      }
    }
    // cross-container agreement: the same logical frames packed as Y4M and
    // as DIB-AVI must land identical (media, frame) -> (w, h, px_sum) rows
    val in = docs(3L -> "a", 8L -> "b")
    def key(rows: Array[Multimodal.VideoFrame]) =
      rows.map(r => (r.media_id, r.frame_idx) -> (r.img_w, r.img_h, r.px_sum)).toMap
    val y = key(Multimodal.decodeY4mFrames(Multimodal.syntheticY4ms(in)).collect())
    val a = key(Multimodal.decodeVideoFrames(Multimodal.syntheticAvis(in)).collect())
    assert(y == a && y.nonEmpty)
    // corrupt payload (truncated mid-frame) and unsupported chroma both
    // emit ONE sentinel row — never a throw, never a vanished id
    val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
    val bad = Multimodal.decodeY4mFrames(
      Multimodal.syntheticY4ms(docs(3L -> "a")).map(r => r.copy(bytes = r.bytes.take(20)))(enc))
      .collect()
    assert(bad.length == 1 && !bad(0).decoded && bad(0).frame_idx == -1)
    val c420 = Multimodal.decodeY4mFrames(
      Multimodal.syntheticY4ms(docs(3L -> "a")).map(r => r.copy(bytes =
        new String(r.bytes, "ISO-8859-1").replace("C444", "C420").getBytes("ISO-8859-1")))(enc))
      .collect()
    assert(c420.length == 1 && !c420(0).decoded)
  }

  test("animated GIF: lossless palette round-trip agrees with DIB-AVI frames") {
    // palette-exact encode (≤ 40 colors per frame) through the real JDK
    // GIF writer (interlace disabled — the default progressive mode
    // miswrites tiny heights) must reproduce the formula pixels exactly
    for (id <- Seq(0L, 1L, 7L, 123L)) {
      val (ew, eh, en) = Multimodal.aviDims(id)
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(Multimodal.syntheticGif(id)))
      val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
      reader.setInput(iis)
      assert(reader.getNumImages(true) == en, s"id=$id frame count")
      for (f <- 0 until en) {
        val img = reader.read(f)
        assert(img.getWidth == ew && img.getHeight == eh)
        for (i <- Seq(0, ew * eh / 2, ew * eh - 1)) {
          val c = img.getRGB(i % ew, i / ew) & 0xffffff
          val exp = (Multimodal.aviPx(id, f, i, 0) << 16) |
            (Multimodal.aviPx(id, f, i, 1) << 8) | Multimodal.aviPx(id, f, i, 2)
          assert(c == exp, s"id=$id frame=$f px=$i")
        }
      }
      reader.dispose()
    }
    // cross-container agreement: GIF rows == DIB-AVI rows, same formula
    val in = docs(3L -> "a", 8L -> "b")
    def key(rows: Array[Multimodal.VideoFrame]) =
      rows.map(r => (r.media_id, r.frame_idx) -> (r.img_w, r.img_h, r.px_sum)).toMap
    val g = key(Multimodal.decodeGifFrames(Multimodal.syntheticGifs(in)).collect())
    val a = key(Multimodal.decodeVideoFrames(Multimodal.syntheticAvis(in)).collect())
    assert(g == a && g.nonEmpty)
    // corrupt payload: ONE sentinel row, never a throw, never a vanished id
    val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
    val bad = Multimodal.decodeGifFrames(
      Multimodal.syntheticGifs(docs(3L -> "a")).map(r => r.copy(bytes =
        Array[Byte](1, 2, 3)))(enc)).collect()
    assert(bad.length == 1 && !bad(0).decoded && bad(0).frame_idx == -1)
  }

  test("MJPEG fixtures: real JPEG-in-AVI frames decode to position-exact pixels") {
    // goldens recorded from the committed fixture bytes at authoring time;
    // javax.imageio JPEG decode is deterministic for fixed bytes, so any
    // drift here means the fixture or the decoder changed — both reportable
    val goldens = Map( // (id, frame) -> (w, h, px_sum, rgb@(0,0), rgb@(w-1,h-1))
      (1L, 0) -> (5, 4, 6595L, 2108987, 10398905),
      (1L, 1) -> (5, 4, 9779L, 9470869, 660736),
      (1L, 2) -> (5, 4, 4811L, 14998434, 7699069),
      (4L, 0) -> (8, 4, 12409L, 9796702, 5202287),
      (4L, 1) -> (8, 4, 10990L, 16249814, 13028570),
      (4L, 2) -> (8, 4, 13079L, 5061700, 2046208))
    val dir = Seq("src/test/resources/avi", "/root/repo/src/test/resources/avi")
      .find(p => new java.io.File(p).isDirectory).get
    for (id <- Seq(1L, 4L)) {
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/mjpeg_$id.avi"))
      val Some((handler, w, h, frames)) = Multimodal.parseAvi(bytes)
      assert(handler == "MJPG" && frames.length == 3)
      frames.zipWithIndex.foreach { case (f, fi) =>
        val (gw, gh, gsum, g00, gLast) = goldens((id, fi))
        assert(Multimodal.decodeAviFrame("MJPG", w, h, f).contains((gw, gh, gsum)))
        // position-exact pixels through the real imageio decode
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
        assert((img.getRGB(0, 0) & 0xffffff) == g00, s"id=$id f=$fi px(0,0)")
        assert((img.getRGB(gw - 1, gh - 1) & 0xffffff) == gLast, s"id=$id f=$fi px(last)")
      }
    }
    // the MJPEG generator itself roundtrips: frames are REAL JPEGs whose
    // decode approximates the DIB formula (lossy, so compare loosely)
    val Some((_, w42, h42, f42)) = Multimodal.parseAvi(graft.llm.LlmFixtures.syntheticAviMjpeg(42L))
    val Some((dw, dh, sum)) = Multimodal.decodeAviFrame("MJPG", w42, h42, f42(0))
    val exact = (0 until dw * dh).map(i =>
      (0 to 2).map(c => Multimodal.aviPx(42L, 0, i, c).toLong).sum).sum
    assert(dw == w42 && dh == h42)
    assert(math.abs(sum - exact) < exact, "JPEG decode wildly off the source pixels")
  }

  test("Bounded.guard: in-bound rows pass unchanged, violations fail loudly") {
    val fused = Retrieval.rrfFuse(
      Seq("a" -> docs(1L -> "x", 2L -> "y").select($"doc_id", ($"doc_id" + 10).as("rank"))),
      k = 5)
    assert(fused.count() == 2) // ranks 11,12 within default maxListLen
    val e = intercept[Exception] {
      Retrieval.rrfFuse(
        Seq("a" -> docs(1L -> "x").select($"doc_id", lit(999).as("rank"))),
        k = 5, maxListLen = 100).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("bounded top-k list")),
      s"expected the rrfFuse bound message, got: ${msgs(e).mkString(" | ")}")
  }

  test("trained PQ codebooks: deterministic, partition-invariant, no recall loss vs prefix") {
    val e = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(q, e, k = 5)
    def recallOf(cbs: Seq[Seq[Seq[Long]]]): Double =
      Similarity.recallAtK(exact,
          Similarity.pqTopKWithCodebooks(q, e, k = 5, cbs)
            .select("query_id", "neighbor_id"))
        .agg(org.apache.spark.sql.functions.avg("recall"))
        .collect()(0).getDouble(0)
    val prefix = Similarity.collectPqCodebooks(e, 16, 8)
    val trained = Similarity.trainPqCodebooks(e)
    assert(trained != prefix, "training did not move the codebooks at all")
    // order-freedom: sums are associative, argmin/truncation exact — the
    // trained books are a pure function of the vector multiset
    val trained2 = Similarity.trainPqCodebooks(e.repartition(7))
    assert(trained == trained2)
    val rp = recallOf(prefix)
    val rt = recallOf(trained)
    info(s"PQ recall@5: prefix=$rp trained=$rt")
    assert(rt >= rp - 0.02, s"trained codebooks LOST recall: $rt vs prefix $rp")
  }

  test("nnDescentGraph maxBucket cap: routing drops hot buckets, ring floor keeps coverage") {
    val e = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // cap 32 at this corpus genuinely drops buckets (measured: 16 buckets
    // of size 23-42 at numPlanes=4) — both code paths execute
    val capped = Similarity.nnDescentGraph(e, k = 16, rounds = 4, maxBucket = 32)
    // coverage floor: EVERY node still has k neighbors (ring + rounds
    // recover nodes whose bucket was dropped)
    val n = e.count()
    val perNode = capped.groupBy("id").count().collect()
    assert(perNode.length == n && perNode.forall(_.getLong(1) == 16L),
      s"capped graph lost coverage: ${perNode.length} nodes of $n")
    // the cap is a candidate-routing change, not a semantics change: an
    // unreachable cap reproduces the uncapped build bit-for-bit
    val uncapped = Similarity.nnDescentGraph(e, k = 16, rounds = 2)
    val hiCap = Similarity.nnDescentGraph(e, k = 16, rounds = 2, maxBucket = Long.MaxValue - 1)
    assert(hiCap.except(uncapped).count() == 0 && uncapped.except(hiCap).count() == 0)
    // recall survives the cap (rounds recover the dropped init
    // candidates): measured 0.9608 capped vs 0.9660 uncapped at rounds=4
    val exact = Similarity.bruteForceTopK(e, e, k = 5)
    val recall = Similarity.recallAtK(exact,
        capped.select($"id".as("query_id"), $"neighbor_id"))
      .agg(org.apache.spark.sql.functions.avg("recall"))
      .collect()(0).getDouble(0)
    assert(recall >= 0.9, s"capped NN-descent recall@5 too low: $recall")
  }

  test("knngAppend: deterministic, bounded delta — old nodes only improve, new nodes recall") {
    val e = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val old = e.filter($"vec_id" >= 50)
    val nw = e.filter($"vec_id" < 50)
    val g = Similarity.nnDescentGraph(old, k = 12, rounds = 2)
    val app = Similarity.knngAppend(g, old, nw, k = 12, beam = 24, hops = 4)
    // order-freedom: repartitioned inputs yield the identical result (the
    // property the SQL oracle replay depends on)
    val app2 = Similarity.knngAppend(g, old.repartition(7), nw.repartition(5),
      k = 12, beam = 24, hops = 4)
    assert(app.except(app2).count() == 0 && app2.except(app).count() == 0)
    // every node (old and new) has exactly k neighbors
    val n = e.count()
    val perNode = app.groupBy("id").count().collect()
    assert(perNode.length == n && perNode.forall(_.getLong(1) == 12L))
    // monotonicity half of the bounded-delta contract: an OLD node's
    // rank-j cosine can only improve (the append adds candidate evidence,
    // never removes any)
    val worse = g.select($"id", $"rank", $"cosine".as("c_old"))
      .join(app.select($"id", $"rank", $"cosine".as("c_new")), Seq("id", "rank"))
      .filter($"c_new" < $"c_old" - 1e-12)
      .count()
    assert(worse == 0, s"$worse old (id, rank) slots got WORSE after append")
    // recall half: a new node's appended adjacency finds its true
    // neighbors (within the full corpus) at useful rates
    val exact = Similarity.bruteForceTopK(nw, e, k = 5)
    val recall = Similarity.recallAtK(exact,
        app.filter($"id" < 50).select($"id".as("query_id"), $"neighbor_id"))
      .agg(org.apache.spark.sql.functions.avg("recall"))
      .collect()(0).getDouble(0)
    assert(recall >= 0.7, s"appended-node recall@5 too low: $recall")
  }
}
