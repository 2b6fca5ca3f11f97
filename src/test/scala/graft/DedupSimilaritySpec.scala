package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away"), // near-dup of 1
    (3L, "completely different words about spark catalyst optimizer plans here now"),
    (4L, "completely different words about spark catalyst optimizer plans here"), // near-dup of 3
    (5L, "unrelated text mentioning databases and storage engines with columns")
  ).toDF("doc_id", "text")

  test("minhash LSH finds near-dup pairs and not unrelated ones") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", k = 8)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bands = 4, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.contains((1L, 5L)) && !pairs.contains((2L, 5L)))
  }

  test("cross-corpus LSH: only across-side pairs, probe side broadcast") {
    val probe = docs.where(col("doc_id").isin(1L, 3L)) // "benchmark" side
    val corpus = docs.where(!col("doc_id").isin(1L, 3L))
    val sp = Dedup.minhashSignatures(probe, "doc_id", "text", k = 8)
    val sc = Dedup.minhashSignatures(corpus, "doc_id", "text", k = 8)
    val cand = Dedup.lshCandidatePairsAcross(sp, sc, "doc_id",
      bands = 4, rowsPerBand = 2)

    val pairs = cand.as[(Long, Long)].collect().toSet
    // each benchmark doc finds its corpus near-dup; never a
    // within-side pair (1,3 are both probe; 2,4,5 all corpus)
    assert(pairs.contains((1L, 2L)) && pairs.contains((3L, 4L)), pairs.toString)
    assert(pairs.forall { case (a, b) => Set(1L, 3L)(a) && !Set(1L, 3L)(b) })

    // equals the within-corpus pair set restricted to across-side
    // pairs (no bucket cap on this path — volume is probe-bounded)
    val all = Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(docs, "doc_id", "text", k = 8),
        "doc_id", bands = 4, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    val wantAcross = all.collect {
      case (a, b) if Set(1L, 3L)(a) != Set(1L, 3L)(b) =>
        if (Set(1L, 3L)(a)) (a, b) else (b, a)
    }
    assert(pairs == wantAcross, s"$pairs vs $wantAcross")

    // plan: the probe (benchmark) side must broadcast
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("star candidate edges yield identical components to full pairs") {
    // 3-way duplicate clusters: base + two copy generations
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).limit(60)
    val corpus = base
      .unionAll(base.select(col("doc_id") + 1000, col("text")))
      .unionAll(base.select(col("doc_id") + 2000, col("text")))
    val sig = Dedup.minhashSignatures(corpus, "doc_id", "text", k = 8)
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val full = comps(Dedup.lshCandidatePairs(sig, "doc_id", 4, 2))
    val star = comps(Dedup.lshCandidateEdges(sig, "doc_id", 4, 2))
    assert(full.nonEmpty && full == star)
  }

  test("weighted minhash is multiset-sensitive; plain minhash is not") {
    val docs = Seq(
      (1L, "spark spark spark catalyst optimizer"),   // heavy repetition
      (2L, "spark catalyst optimizer"),               // same token SET
      (3L, "spark spark spark catalyst optimizer"))   // identical multiset of 1
      .toDF("doc_id", "text")
    val w = Dedup.weightedMinhashSignatures(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    // identical multisets agree on every hash; set-equal multisets differ
    assert(w(0).toSeq.drop(1) == w(2).toSeq.drop(1))
    assert(w(0).toSeq.drop(1) != w(1).toSeq.drop(1))
  }

  test("connected components: transitive min-id labels over pair evidence") {
    // a 4-chain (needs multi-round propagation), a 2-pair, a triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    // driver union-find path (default) and distributed propagation
    // path (forced) must produce the identical unique labeling
    val viaDriver = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val viaLoop = Dedup.connectedComponents(pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == expected)
    assert(viaLoop == expected)
  }

  test("simhash: identical docs equal, near-dups within small hamming distance") {
    val two = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val h = Dedup.simhash32(two, "doc_id", "text").as[(Long, Long)]
      .collect().toMap
    assert(h(1L) == h(2L))

    val hh = Dedup.simhash32(docs, "doc_id", "text").as[(Long, Long)]
      .collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hh(1L), hh(2L)) < hamming(hh(1L), hh(3L)))
  }

  test("exact dedup keeps min id per duplicate group") {
    val d = Seq((10L, "same text"), (3L, "same text"), (7L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(d, "doc_id", Seq("text"))
      .orderBy("keeper_id").as[(String, Long, Long)].collect()
    assert(out.map(r => (r._2, r._3)).toSeq == Seq((3L, 2L), (7L, 1L)))
  }

  test("ngram jaccard scores near-dups far above unrelated pairs") {
    val blocked = docs.withColumn("blk", lit("all"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", "blk",
      shingleWidth = 2, minJaccardMilli = 0)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 2L)) > 700)
    assert(pairs((3L, 4L)) > 700)
    assert(pairs.getOrElse((1L, 3L), 0L) < 200)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(2.0f, 0.0f, 0.0f))    // same direction as 0 (scaled)
  ).toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine with exact integer math") {
    val out = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), "vec_id", k = 4)
      .orderBy("rnk").as[(Long, Long, Long, Long)].collect()
    // rank 1: the scaled copy (cos=1), then the near vector, then
    // orthogonal (0), then opposite (-1)
    assert(out.map(_._3).toSeq == Seq(4L, 1L, 2L, 3L))
    assert(out.head._4 == 1000000L)          // cos = 1.0 exactly
    assert(out(2)._4 == 0L)                  // orthogonal
    assert(out(3)._4 == -1000000L)           // opposite
  }

  test("simhash banded near-dup: exact copies at Hamming 0, small edits close, disjoint apart") {
    import org.apache.spark.sql.functions.col
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq(
      (1L, base),
      (2L, base),                                  // exact copy
      (3L, base.replace("kappa", "KAPPAX")),       // one token changed
      (4L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val got = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", maxHamming = 8)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 0L)                    // identical -> Hamming 0
    assert(got.contains((1L, 3L)) && got((1L, 3L)) <= 8L)
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("generalized banding: recall guaranteed under bands, degenerate configs refused") {
    import org.apache.spark.sql.functions.col
    // hand-built 64-bit fingerprints: b differs from a in 2 bits
    // (< 4 bands -> guaranteed found), c differs in ~32 bits
    val a = 0x0F0F0F0F0F0F0F0FL
    val hashes = Seq((1L, a), (2L, a ^ 0x11L), (3L, a ^ 0x00FF00FF00FF00FFL))
      .toDF("id", "h")
    val got = Dedup.hashNearDupPairs(hashes, "id", "h", bands = 4,
        bandBits = 16, maxHamming = 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 2L)
    assert(!got.keySet.exists { case (x, y) => x == 3L || y == 3L })
    // 1L << 64 wraps to 1 in the JVM: a 64-bit "band" would mask to
    // zero and funnel everything through one bucket — refused loudly
    intercept[IllegalArgumentException] {
      Dedup.hashNearDupPairs(hashes, "id", "h", bands = 1, bandBits = 64,
        maxHamming = 3)
    }
    intercept[IllegalArgumentException] {
      Dedup.hashNearDupPairs(hashes, "id", "h", bands = 5, bandBits = 16,
        maxHamming = 3)
    }
  }

  test("verification join: exact Jaccard on candidates only, known values") {
    import org.apache.spark.sql.functions.col
    // doc 1 vs doc 2: shingle sets {a b c, b c d, c d e} vs
    // {a b c, b c d, c d x} -> |inter|=2, |union|=4, J=500
    // doc 3 shares nothing with either
    val corpus = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d x"),
      (3L, "p q r s t")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.verifyCandidatePairs(corpus, "doc_id", "text", pairs,
        shingleWidth = 3, minJaccardMilli = 0L)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L, 500L), (1L, 3L, 0L, 0L)))

    // verified set is a subset of the candidate set, and thresholding
    // only removes rows
    val thresholded = Dedup.verifyCandidatePairs(corpus, "doc_id", "text",
      pairs, shingleWidth = 3, minJaccardMilli = 300L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    assert(thresholded == Seq((1L, 2L)))
  }

  test("verifiedQuarantine: band collisions below the Jaccard threshold are NOT quarantined") {
    // every doc shares an 8-token boilerplate header but is otherwise
    // unique: true Jaccard ~ 6/22 = 272 milli — well under 500. With
    // 1-row bands the shared header makes band collisions near-certain
    // (any of the 8 min-hashes landing in the shared shingles collides).
    val header = "terms of service apply to this document copyright"
    def doc(i: Long) = (i, s"$header u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h")
    // plus one REAL near-dup of doc 1 (header + doc 1's filler minus
    // the last token -> Jaccard ~ 12/14)
    val realDup = (100L, s"$header u1a u1b u1c u1d u1e u1f u1g")
    val corpus = ((1L to 20L).map(doc) :+ realDup).toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 3)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bands = 8, rowsPerBand = 1)

    // boilerplate band-collides somewhere, and those candidates fail
    // exact verification with their measured similarity
    val scored = Dedup.verifyCandidatePairs(corpus, "doc_id", "text", pairs,
        shingleWidth = 3, minJaccardMilli = 0L)
      .select("doc_a", "doc_b", "jaccard_milli").as[(Long, Long, Long)]
      .collect().toSeq
    val rejected = scored.filter(_._3 < 500L)
    assert(rejected.nonEmpty, "boilerplate must band-collide somewhere")
    assert(!rejected.exists(r => r._1 == 1L && r._2 == 100L),
      "the real dup pair must verify, not reject")

    // the real near-dup is quarantined; NO boilerplate-only doc is, and
    // the evidence names the keeper and the verified strength
    val verdicts = Dedup.verifiedQuarantine(corpus, "doc_id", "text", pairs,
        shingleWidth = 3, minJaccardMilli = 500L)
      .select("doc_id", "n_collisions", "first_corpus_id", "best_jaccard_milli")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(verdicts.map(_._1) == Seq(100L), s"quarantined $verdicts")
    val (_, n, keeper, best) = verdicts.head
    assert(n == 1L && keeper == 1L && best >= 500L)
  }

  test("verifiedQuarantine: a bucket flood keeps its keeper and quarantines every other member") {
    // 20 identical docs: each band holds one 20-member bucket. Both the
    // full pair expansion and the linear star edges (min id -> member)
    // verify every member against the keeper at Jaccard 1000
    val flood = (1L to 20L)
      .map(i => (i, "identical boilerplate flood text repeated verbatim everywhere"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(flood, "doc_id", "text", 8, 3)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", 4, 2)
    val stars = Dedup.lshCandidateEdges(sig, "doc_id", 4, 2)
    assert(stars.count() == 19L, "star edges are linear in the bucket")
    for (cands <- Seq(pairs, stars)) {
      val verdicts = Dedup.verifiedQuarantine(flood, "doc_id", "text", cands,
          shingleWidth = 3, minJaccardMilli = 500L)
        .select("doc_id", "first_corpus_id", "best_jaccard_milli")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(verdicts == (2L to 20L).map(i => (i, 1L, 1000L)))
    }
    // past maxBucketSize the pair expansion drops the flood entirely —
    // a caller quarantining on candidates must size the cap to its
    // batch, or the flood passes unverified
    assert(Dedup.lshCandidatePairs(sig, "doc_id", 4, 2, maxBucketSize = 5)
      .count() == 0L)
  }

  test("LSH buckets: identical-direction vectors share a bucket") {
    val planes = Similarity.planeWeights(6, 3)
    assert(planes.length == 6 && planes.forall(_.length == 3))
    // deterministic: same derivation twice gives same weights
    assert(planes == Similarity.planeWeights(6, 3))

    val c = Similarity.withQuantized(vecs, "embedding")
      .withColumn("bucket", Similarity.lshBucket(col("ei"), planes))
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(c(0L) == c(4L)) // scaled copy -> identical signs -> same bucket
    assert(c(0L) != c(3L)) // opposite vector -> complementary bucket
  }
}
