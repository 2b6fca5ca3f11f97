package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication operators for training-data pipelines:
  *  - exact (hash-groupBy)
  *  - MinHash + LSH banding (shingle -> k min-hashes -> band buckets -> bucket join)
  *  - SimHash (bitwise majority of token hashes)
  *  - n-gram Jaccard (exact set similarity over a blocked self-join)
  *
  * Hashes are md5-based so every step is reproducible in any engine
  * (the DuckDB oracle re-derives identical signatures). At 100 TB the
  * shapes matter more than the hash: MinHash banding turns O(n²)
  * pairwise comparison into a shuffle on (band, signature) — each
  * bucket is tiny, AQE's skew-join splitting handles hot buckets; the
  * Jaccard join is blocked so the quadratic term is bounded per block.
  */
object Dedup {

  /** n-word shingles of a token-array column named `tk`.
    * (expression string so it stays a codegen'd HOF chain)
    */
  def shingleExpr(n: Int): String =
    s"transform(sequence(1, size(tk) - ${n - 1}), i -> concat_ws(' ', slice(tk, i, $n)))"

  /** Exact dedup: fingerprint rows by md5 over `cols`, keep the
    * minimum `idCol` per fingerprint. Deterministic (unlike
    * dropDuplicates, which keeps an arbitrary row) — required both for
    * the oracle and for reproducible pipeline runs at scale.
    * One shuffle on the fingerprint.
    */
  def exactDedup(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame =
    df.withColumn("_fp", Audit.rowHashExpr(cols))
      .groupBy(col("_fp").as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures: k min-hashes over `n`-word shingles of
    * `textCol`, via Kirsch-Mitzenmacher double hashing: ONE md5 per
    * shingle yields h1/h2 (two 32-bit halves) and hash_j = (h1 + j*h2)
    * mod 2^32 — k independent-enough hash families for 1/k-th of the
    * hashing cost.
    *
    * Entirely NARROW: a document's shingles are positional, so its
    * md5s and all k minima are HOFs over the token array — no shingle
    * explode, no aggregation, zero shuffles (the historical
    * explode+groupBy formulation shuffled the whole shingle volume;
    * in-row minima made it ~9x faster at 500k docs).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, shingleWidth: Int = 3): DataFrame = {
    val toks = df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= shingleWidth)
    // nested transform: md5 array first, h1/h2 split over it — each
    // shingle hashed exactly once
    val hs = toks.withColumn("hs", expr(
      s"""transform(
         |  transform(sequence(1, size(tk) - ${shingleWidth - 1}),
         |    i -> md5(concat_ws(' ', slice(tk, i, $shingleWidth)))),
         |  m -> named_struct(
         |    'h1', cast(conv(substring(m, 1, 8), 16, 10) as bigint),
         |    'h2', cast(conv(substring(m, 9, 8), 16, 10) as bigint)))""".stripMargin))
    hs.select(col(idCol) +: (0 until k).map(j =>
      expr(s"array_min(transform(hs, s -> (s.h1 + $j * s.h2) % 4294967296))")
        .as(s"h$j")): _*)
  }

  /** LSH banding over a signature frame from [[minhashSignatures]]:
    * split k hashes into `bands` bands of `rowsPerBand`, bucket on the
    * concatenated band signature, emit candidate pairs (a < b) within
    * each bucket.
    *
    * Pairs are generated bucket-locally (groupBy band-signature ->
    * sorted id list -> HOF pair expansion), NOT via a self-join: a
    * self-join would recompute the entire shingle+signature lineage
    * for both sides — double the scan and double the shuffle at any
    * scale. One upstream pass, one shuffle on (band, bandsig).
    *
    * `maxBucketSize` bounds the per-bucket quadratic blowup: a
    * degenerate hot bucket (e.g. boilerplate documents all sharing a
    * band) is dropped rather than emitting |bucket|^2 pairs.
    */
  /** (id, band, bandsig) band keys of a signature frame — the LSH
    * bucket addresses. Narrow (explode only); shared by the pair/edge
    * expansions and the persisted index.
    */
  def bandKeys(sig: DataFrame, idCol: String,
               bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(j => col(s"h${b * rowsPerBand + j}")): _*)
          .as("bandsig"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.bandsig").as("bandsig"))
  }

  def lshCandidatePairs(sig: DataFrame, idCol: String,
                        bands: Int, rowsPerBand: Int,
                        maxBucketSize: Int = 1000): DataFrame = {
    val exploded = bandKeys(sig, idCol, bands, rowsPerBand)
    exploded.groupBy("band", "bandsig")
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")).between(2, maxBucketSize))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(slice(ids, i + 1, size(ids) - i),
          |    y -> struct(element_at(ids, i) AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** CROSS-corpus LSH candidates — the fuzzy-decontamination / A-vs-B
    * near-dup shape: probe-side documents (a benchmark set, a
    * blocklist — the SMALL side, broadcast by contract) against
    * corpus-side documents sharing any band bucket. No within-side
    * pairs are generated, so corpus-side bucket density never
    * quadratically explodes the candidate set: volume is
    * Σ_buckets |probe∩bucket| · |corpus∩bucket| — linear in corpus
    * postings for a bounded probe set, which is why this variant
    * needs no `maxBucketSize` guard. Verify every candidate exactly
    * afterwards ([[verifyCandidatePairs]] over the union corpus),
    * same contract as the within-corpus path.
    */
  def lshCandidatePairsAcross(sigProbe: DataFrame, sigCorpus: DataFrame,
                              idCol: String, bands: Int,
                              rowsPerBand: Int): DataFrame = {
    val p = bandKeys(sigProbe, idCol, bands, rowsPerBand)
      .select(col(idCol).as("doc_a"), col("band"), col("bandsig"))
    val c = bandKeys(sigCorpus, idCol, bands, rowsPerBand)
      .select(col(idCol).as("doc_b"), col("band"), col("bandsig"))
    broadcast(p).join(c, Seq("band", "bandsig"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Connectivity-preserving variant of [[lshCandidatePairs]] for the
    * components/dedup path: per bucket emit STAR edges (min id ->
    * every other id), n-1 edges instead of C(n,2) pairs. Within a
    * bucket the star spans exactly the same connected component, so
    * [[connectedComponents]] over these edges produces identical
    * clusters — at a fraction of the edge volume (a degenerate
    * 100-way duplicate bucket emits 99 edges, not 4950). Use the full
    * pair set only when every candidate pair gets similarity-verified
    * downstream.
    */
  def lshCandidateEdges(sig: DataFrame, idCol: String,
                        bands: Int, rowsPerBand: Int,
                        maxBucketSize: Int = 1000): DataFrame = {
    val exploded = bandKeys(sig, idCol, bands, rowsPerBand)
    exploded.groupBy("band", "bandsig")
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")).between(2, maxBucketSize))
      .select(explode(expr(
        "transform(slice(ids, 2, size(ids) - 1), y -> struct(element_at(ids, 1) AS a, y AS b))"))
        .as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** WEIGHTED MinHash: Jaccard over token MULTISETS (tf-weighted),
    * via exact repetition expansion — token t with frequency w
    * contributes elements t#1..t#w, and MinHash over that expanded
    * set estimates the weighted Jaccard
    * sum(min(tf_a, tf_b)) / sum(max(tf_a, tf_b)) exactly in
    * expectation. Boilerplate-heavy documents that repeat the same
    * phrases stop looking identical to their deduplicated token sets.
    *
    * Deterministic md5/KM family (cross-engine replicable, q80's
    * oracle re-derives it); expansion cost is bounded by total token
    * count — the same cost class as the shingle explode. Output shape
    * is h0..h{k-1}, so [[lshCandidatePairs]] consumes it unchanged.
    */
  def weightedMinhashSignatures(df: DataFrame, idCol: String, textCol: String,
                                k: Int): DataFrame = {
    val tf = df.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
    // the repetition expansion stays INSIDE the (id, token) row: the
    // md5s of tok#1..tok#tf and the k per-family minima are HOFs over
    // sequence(1, tf) — identical element set (and therefore identical
    // signatures) to the previous row-level explode, without a second
    // explode and with only distinct-token rows flowing into the
    // final aggregation. The nested transform hashes each element
    // exactly once (md5 array first, h1/h2 split over it).
    val withMins = tf
      .withColumn("hs", expr(
        """transform(
          |  transform(sequence(1, tf), r -> md5(concat(tok, '#', cast(r as string)))),
          |  m -> named_struct(
          |    'h1', cast(conv(substring(m, 1, 8), 16, 10) as bigint),
          |    'h2', cast(conv(substring(m, 9, 8), 16, 10) as bigint)))""".stripMargin))
    val minCols = (0 until k).map(j =>
      expr(s"array_min(transform(hs, s -> (s.h1 + $j * s.h2) % 4294967296))")
        .as(s"m$j"))
    withMins.select(col(idCol) +: minCols: _*)
      .groupBy(idCol).agg(
        min(col("m0")).as("h0"),
        (1 until k).map(j => min(col(s"m$j")).as(s"h$j")): _*)
  }

  /** Verification join for LSH candidates: exact shingle-set Jaccard
    * computed ONLY for the candidate pairs — the precision half of
    * the LSH recipe (banding recalls candidates cheaply; this
    * confirms them exactly before any destructive dedup decision).
    *
    * Scale shape: the pair set is tiny relative to the corpus (LSH
    * banding + bucket caps bound it), so both joins BROADCAST the
    * pair side — hinted explicitly, not left to size estimation,
    * because the pair frame's post-LSH statistics are opaque to the
    * estimator and a silent fallback to a shuffle join would move
    * every corpus shingle array at 100 TB. The corpus's
    * distinct-shingle arrays move only for docs that actually appear
    * in a pair. Per-pair cost is one in-row array_intersect — no
    * shuffle of shingle rows, no quadratic stage anywhere. The hinted
    * shape is pinned by PlanAuditSpec (red if the hints go).
    */
  def verifyCandidatePairs(corpus: DataFrame, idCol: String, textCol: String,
                           pairs: DataFrame, shingleWidth: Int,
                           minJaccardMilli: Long): DataFrame = {
    val sh = shingleSets(corpus, idCol, textCol, shingleWidth)
    broadcast(broadcast(pairs)
      .join(sh.select(col(idCol).as("doc_a"), col("shs").as("sa")), "doc_a"))
      .join(sh.select(col(idCol).as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard_milli",
        expr("n_common * 1000 DIV (size(sa) + size(sb) - n_common)"))
      .where(col("jaccard_milli") >= minJaccardMilli)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard_milli"))
  }

  /** Distinct shingle sets per doc. */
  private def shingleSets(corpus: DataFrame, idCol: String, textCol: String,
                          shingleWidth: Int): DataFrame =
    corpus
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= shingleWidth)
      .select(col(idCol),
        expr(s"array_distinct(${shingleExpr(shingleWidth)})").as("shs"))

  /** Per-document quarantine verdict over verified candidates — the
    * destructive decision of near-dup curation, taken only on exact
    * evidence (q106). A candidate doc (`doc_b` side — bucket pairs
    * come ordered a < b, so the lower id is the keeper) is
    * quarantined iff at least one of its candidate pairs passes
    * exact-Jaccard verification at `minJaccardMilli`. Evidence per
    * verdict: how many verified collisions, the smallest colliding id
    * (the keeper it lost to), and the strongest Jaccard.
    */
  def verifiedQuarantine(corpus: DataFrame, idCol: String, textCol: String,
                         candidates: DataFrame, shingleWidth: Int,
                         minJaccardMilli: Long): DataFrame =
    verifyCandidatePairs(corpus, idCol, textCol, candidates,
      shingleWidth, minJaccardMilli)
      .groupBy(col("doc_b").as(idCol))
      .agg(count(lit(1)).as("n_collisions"),
        min("doc_a").as("first_corpus_id"),
        max("jaccard_milli").as("best_jaccard_milli"))

  /** Resolve near-dup candidate pairs into duplicate CLUSTERS:
    * connected components over the pair graph, each node labeled with
    * the minimum doc id of its component (the deterministic keeper).
    * LSH emits pairwise evidence; dedup policy needs transitive
    * closure — A~B and B~C must retire both B and C, even though
    * (A,C) never surfaced as a pair.
    *
    * Algorithm: min-label propagation to a fixpoint. Each round is
    * one join edges⋈labels + one min-aggregation — all map-side
    * combinable; `localCheckpoint` truncates the growing lineage per
    * round. Rounds needed = component diameter, and near-dup clusters
    * are short chains in practice (`maxIter` caps pathology). At
    * 100 TB the same loop runs with the edge frame persisted across
    * rounds (done here); if diameters ever get deep, the
    * alternating-star variant halves the round count at the cost of
    * two shuffles per round.
    *
    * The fixpoint is unique (min over a connected component), so the
    * result is deterministic regardless of join/shuffle order.
    *
    * Size-adaptive: the pair graph after LSH banding is tiny relative
    * to the corpus (it holds only suspected duplicates), so up to
    * `driverMaxEdges` the component resolution is one collect + exact
    * union-find on the driver — no per-round jobs at all. Beyond
    * that, the distributed propagation loop takes over. Both paths
    * produce the identical (unique) labeling.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          driverMaxEdges: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel

    // materialize the (usually expensive) pair lineage exactly ONCE;
    // both the size probe and either resolution path read the cache
    val edges = pairs
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .unionAll(pairs
        .select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges.count() / 2

    if (nEdges <= driverMaxEdges) {
      val sample = edges.where(col("src") < col("dst"))
        .as[(Long, Long)].collect()
      edges.unpersist()
      // union-find with path compression; unions keep the smaller
      // root, so find() IS the component min
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      sample.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = sample.flatMap { case (a, b) => Seq(a, b) }.distinct
      return nodes.sorted.map(n => (n, find(n))).toSeq
        .toDF("id", "component")
    }

    // round 1: every node (both directions present) takes min(self, neighbors)
    var labels = edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("component"))
      .localCheckpoint()
    var converged = false
    var round = 1
    while (!converged && round < maxIter) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("component"))
      val next = labels.unionAll(prop)
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint()
      converged = next.join(labels.withColumnRenamed("component", "old"), "id")
        .where(col("component") < col("old")).isEmpty
      labels = next
      round += 1
    }
    edges.unpersist()
    labels
  }

  /** 32-bit SimHash over token multiset: bit j of the hash is the
    * majority vote of bit j across md5-derived 32-bit token hashes.
    * Computed as 32 aggregate expressions in one groupBy pass — no
    * per-bit row explosion.
    */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    val h = tok.withColumn("hv",
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast(LongType))
    val sums = (0 until 32).map(j =>
      sum(shiftright(col("hv"), j).bitwiseAND(1)).as(s"s$j"))
    val agged = h.groupBy(idCol).agg(count(lit(1)).as("n"), sums: _*)
    val hash = (0 until 32).map(j =>
      when(col(s"s$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agged.select(col(idCol), hash.as("simhash"))
  }

  /** 60-bit SimHash (md5-derived per-token hashes, bit-majority
    * aggregation — same construction as [[simhash32]], wider so the
    * banded near-dup join below gets discriminative 15-bit bands).
    * 60 bits = 15 md5 hex chars, exactly replicable in any engine
    * with 64-bit signed integers.
    */
  def simhash60(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    val h = tok.withColumn("hv",
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType))
    val sums = (0 until 60).map(j =>
      sum(shiftright(col("hv"), j).bitwiseAND(1)).as(s"s$j"))
    val agged = h.groupBy(idCol).agg(count(lit(1)).as("n"), sums: _*)
    val hash = (0 until 60).map(j =>
      when(col(s"s$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agged.select(col(idCol), hash.as("simhash"))
  }

  /** SimHash near-dup pairs, banded (the Manku/Google shape): 4
    * 15-bit bands as bucket keys, exact Hamming distance verified per
    * candidate (`bit_count(xor)` — one codegen'd instruction pair).
    *
    * Recall contract: a pair within Hamming `maxHamming` <= 3 shares
    * at least one band by pigeonhole — GUARANTEED candidate; above 3
    * the band match is probabilistic (~each band survives with
    * p=(1-h/60)^15). Expected bucket size is n/2^15 per band, so the
    * candidate volume is ~4n²/32768 against the corpus's n² — for
    * deeper recall at higher Hamming radii, add permuted band tables
    * rather than widening buckets.
    *
    * Pairs are generated bucket-locally, same as
    * [[lshCandidatePairs]]: groupBy (band, bandval) -> sorted
    * (id, simhash) list -> in-row HOF pair expansion. A self-join on
    * the band key would re-derive the 61-aggregate simhash lineage for
    * both sides and pay two band-key shuffles; here the signature
    * frame is computed once and shuffled once. `maxBucketSize` bounds
    * the per-bucket quadratic blowup, mirroring the MinHash cap.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 8,
                          maxBucketSize: Int = 1000): DataFrame =
    hashNearDupPairs(simhash60(df, idCol, textCol), idCol, "simhash",
      bands = 4, bandBits = 15, maxHamming = maxHamming,
      maxBucketSize = maxBucketSize)

  /** Banded Hamming near-dup pairs over ANY precomputed bitwise
    * fingerprint column (SimHash, pHash, …): `bands` buckets of
    * `bandBits` bits each, candidate pairs only within a (band,
    * bandval) bucket, exact bit_count(xor) Hamming verify. Recall is
    * guaranteed at Hamming < `bands` (a pair differing in fewer bits
    * than there are bands leaves at least one band untouched),
    * probabilistic above. Emits (doc_a, doc_b, hamming), doc_a <
    * doc_b. Same scale shape as the text-specific banding this
    * generalizes: one shuffle on the band keys, bucket-local pair
    * expansion bounded by `maxBucketSize`.
    */
  def hashNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                       bands: Int, bandBits: Int, maxHamming: Int,
                       maxBucketSize: Int = 1000): DataFrame = {
    require(bands >= 1 && bandBits >= 1 && bands * bandBits <= 64,
      s"bands x bandBits must fit 64 bits (got $bands x $bandBits)")
    // bandBits = 64 would wrap (1L << 64 == 1L) into a zero mask that
    // funnels every hash through one bucket; a single 64-bit band is
    // exact-dup grouping, not banding — use groupBy on the hash itself
    require(bandBits <= 63, s"bandBits <= 63 (got $bandBits)")
    val mask = (1L << bandBits) - 1
    val bandExprs = (0 until bands).map(b => struct(lit(b).as("band"),
      shiftright(col(hashCol), b * bandBits).bitwiseAND(mask).as("bandval")))
    val keys = hashes
      .select(col(idCol), col(hashCol), explode(array(bandExprs: _*)).as("bs"))
      .select(col(idCol).as("id"), col(hashCol).as("h"),
        col("bs.band").as("band"), col("bs.bandval").as("bandval"))
    // array_sort over (id, h) structs orders by id (unique), so pair
    // expansion emits doc_a < doc_b with both signatures in-row
    keys.groupBy("band", "bandval")
      .agg(array_sort(collect_list(struct(col("id"), col("h")))).as("xs"))
      .where(size(col("xs")).between(2, maxBucketSize))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(xs) - 1),
          |  i -> transform(slice(xs, i + 1, size(xs) - i),
          |    y -> struct(element_at(xs, i).id AS a, y.id AS b,
          |                element_at(xs, i).h AS ha, y.h AS hb))))""".stripMargin)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        col("p.ha").as("ha"), col("p.hb").as("hb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast(LongType))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact n-gram Jaccard near-dup pairs within blocks: distinct
    * `shingleWidth`-word shingles per doc, self-join on (block,
    * shingle) to count the intersection, Jaccard = |A∩B|/|A|+|B|-|A∩B|
    * as an exact milli-ratio. Quadratic only within a block.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, shingleWidth: Int,
                        minJaccardMilli: Int): DataFrame = {
    val sh = docs
      .select(col(idCol), col(blockCol).as("blk"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= shingleWidth)
      .select(col(idCol), col("blk"), explode(expr(shingleExpr(shingleWidth))).as("sh"))
      .distinct()
    val sizes = sh.groupBy(col(idCol).as("sid")).agg(count(lit(1)).as("nsh"))
    val a = sh.select(col(idCol).as("id_a"), col("blk"), col("sh"))
    val b = sh.select(col(idCol).as("id_b"), col("blk").as("blk_b"), col("sh").as("sh_b"))
    val common = a
      .join(b, col("blk") === col("blk_b") && col("sh") === col("sh_b") &&
        col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("sid", "id_a").withColumnRenamed("nsh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("sid", "id_b").withColumnRenamed("nsh", "n_b"), "id_b")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        // integer DIV, not '/': Column./ is double division, which
        // would break exact cross-engine parity
        expr("n_common * 1000 DIV (n_a + n_b - n_common)").as("jaccard_milli"))
      .where(col("jaccard_milli") >= minJaccardMilli)
  }
}
