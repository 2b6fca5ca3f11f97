package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join via prefix filtering (the
  * AllPairs/SSJoin/PPJoin family — Bayardo et al. WWW'07, Chaudhuri
  * et al. ICDE'06): every document pair whose distinct-shingle
  * Jaccard meets the threshold, with NO recall loss — the lossless
  * complement to the MinHash/LSH path ([[Dedup.lshCandidatePairs]]),
  * for pipelines where a banding miss is not acceptable
  * (deduplication audits, legal/compliance matching).
  *
  * Filter theorem: order every document's distinct shingles by one
  * global total order (document frequency ascending, shingle
  * ascending on ties) and keep only the first
  * `|S| - ceil(t * |S|) + 1` as the document's PREFIX. For any pair
  * with `J >= t`, the first common shingle in the global order sits
  * inside BOTH prefixes: at most `|S| - i` non-common shingles can
  * precede it on either side and `i >= ceil(t * |S|)` (from
  * `J <= i / |S|`), so its position is at most
  * `|S| - ceil(t*|S|) + 1`. Joining on prefix shingles only is
  * therefore lossless for the verify predicate.
  *
  * == Candidate-volume control ==
  * The prefix theorem bounds WHICH shingles generate candidates; two
  * further filters run INSIDE the generating join's condition so
  * pruned rows never cross the candidate-pair shuffle (running them
  * after the pair groupBy — the round-8 shape — paid the full
  * sum-over-prefix-entries-of-df shuffle first):
  *
  *  - LENGTH filter: `J >= t` forces `t*max(|Sa|,|Sb|) <= min(|Sa|,
  *    |Sb|)` (the overlap is at most the smaller set and `J` is at
  *    most min/max). Containment `|Sa∩Sb| >= ceil(t*|Sa|)` forces
  *    `|Sb| >= ceil(t*|Sa|)`. Pure per-row arithmetic on the join's
  *    own columns.
  *  - POSITIONAL filter per generating row (PPJoin): a row joining
  *    a's prefix entry at rank i with b's entry at rank j bounds the
  *    overlap achievable THROUGH THAT ROW by
  *    `min(|Sa| - i, |Sb| - j) + 1`; rows whose bound misses the
  *    minimum qualifying overlap are dropped. Lossless: for a truly
  *    qualifying pair the FIRST common shingle w* has no common
  *    shingle before it on either side, so its row's bound is >= the
  *    true overlap >= the minimum — the w*-row always survives, and
  *    the (kept) aggregate re-check over surviving rows' min ranks
  *    only loosens. High-df shingles sit LATE in every doc's
  *    (df asc) order, so their posting rows carry small `|Sb| - j`
  *    bounds and die here — exactly the boilerplate-shingle blow-up
  *    this filter caps on web-like corpora.
  *
  * == One tokenization ==
  * The per-doc distinct shingle sets are computed ONCE and persisted
  * (`localCheckpoint`) before the join machinery fans out: the df
  * aggregation, the rank join, the prefix/index explodes, and the
  * exact verify are five separate shuffle consumers, and without the
  * checkpoint each one re-tokenizes and re-shingles the corpus from
  * source (measured at the 20x gram corpus: the recompute WAS the
  * runtime — ~5 corpus passes of regex tokenization). The
  * checkpointed frame is O(corpus shingle sets) executor storage,
  * spilling to disk like any persist; at 100 TB this is the standard
  * materialize-the-reused-intermediate discipline, not a driver-side
  * structure.
  *
  * Scale shape: df-ascending ordering puts the RAREST shingles in
  * the prefixes, so the inverted index the join probes has short
  * posting lists exactly where it is probed. Cost is one
  * tokenization pass, one df aggregation, one rank join + per-doc
  * sort, the prefix-token equi-join with the in-join filters above,
  * and exact verification on candidates only — no quadratic stage
  * anywhere. Residual candidate volume is output-class: pairs
  * sharing a rare shingle at compatible lengths/ranks.
  *
  * All arithmetic is exact-integer (milli thresholds, floor-division
  * Jaccard) so results replay bit-for-bit in any engine.
  */
object PrefixJoin {

  /** Per-doc distinct shingle sets with sizes: (idCol, shs, sz) —
    * MATERIALIZED (localCheckpoint) because every downstream stage
    * re-reads it (see "One tokenization" above).
    */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                          shingleWidth: Int): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= shingleWidth)
      .select(col(idCol),
        expr(s"array_distinct(${Dedup.shingleExpr(shingleWidth)})").as("shs"))
      .withColumn("sz", size(col("shs")).cast("long"))
      .localCheckpoint()

  /** Shingles of each doc ranked by the global (df asc, shingle asc)
    * order: (idCol, sz, ordered = array<struct<df,sh>>). NOT
    * checkpointed: its two consumers share the groupBy exchange
    * (ReuseExchange), so only the cheap post-shuffle aggregation
    * repeats — an eager checkpoint here measured slower than the
    * recompute at both tested scales.
    */
  private def orderedShingles(sh: DataFrame, idCol: String): DataFrame = {
    val posts = sh.select(col(idCol), col("sz"), explode(col("shs")).as("sh"))
    val dfT = posts.groupBy("sh").agg(count(lit(1)).as("df"))
    posts.join(dfT, "sh")
      .groupBy(col(idCol), col("sz"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ordered"))
  }

  /** Prefix entries (first `sz - ceil(t*sz) + 1` ordered shingles)
    * with their 1-based rank: (outId, outSz, ppos, psh).
    */
  private def prefixEntries(ordered: DataFrame, idCol: String,
                            minMilli: Long, outId: String,
                            outSz: String): DataFrame =
    ordered
      .withColumn("plen",
        (col("sz") - expr(s"(sz * $minMilli + 999) DIV 1000") + 1)
          .cast("int"))
      .select(col(idCol).as(outId), col("sz").as(outSz),
        posexplode(expr("slice(ordered, 1, plen)")).as(Seq("p0", "pe")))
      .select(col(outId), col(outSz), (col("p0") + 1).as("ppos"),
        col("pe.sh").as("psh"))

  private def jaccardCandidatesFrom(sh: DataFrame, idCol: String,
                                    minJaccardMilli: Long): DataFrame = {
    val prefixes = prefixEntries(orderedShingles(sh, idCol), idCol,
      minJaccardMilli, idCol, "sz")
    // alpha = ceil(t*(sz_a+sz_b)/(1000+t)): the smallest overlap any
    // J >= t pair of these sizes can have. Length + per-row positional
    // filters live IN the join condition (object scaladoc) so pruned
    // rows never reach the pair shuffle.
    prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.psh") === col("b.psh") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          col("a.sz") * 1000 >= col("b.sz") * minJaccardMilli &&
          col("b.sz") * 1000 >= col("a.sz") * minJaccardMilli &&
          expr(s"least(a.sz - a.ppos, b.sz - b.ppos) + 1 >= " +
            s"($minJaccardMilli * (a.sz + b.sz) + ${minJaccardMilli + 999})" +
            s" DIV ${1000 + minJaccardMilli}"))
      // PPJoin aggregate re-check: min ranks over the surviving
      // generating rows land on (or before) the first common shingle,
      // so the joint bound must still reach alpha
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(min(col("a.ppos")).as("ia"), min(col("b.ppos")).as("jb"))
      .where(expr(
        s"least(sz_a - ia, sz_b - jb) + 1 >= " +
          s"($minJaccardMilli * (sz_a + sz_b) + ${minJaccardMilli + 999})" +
          s" DIV ${1000 + minJaccardMilli}"))
      .select("doc_a", "doc_b")
  }

  private def containCandidatesFrom(sh: DataFrame, idCol: String,
                                    minContainMilli: Long): DataFrame = {
    val orderedDocs = orderedShingles(sh, idCol)
    val prefixes = prefixEntries(orderedDocs, idCol, minContainMilli,
      "doc_a", "sz_a")
    // the indexed side carries ALL its shingles (containment puts no
    // lower bound on where the shared shingle falls in b's order),
    // but with their rank in the same global (df, sh) order — the
    // in-join positional filter is what keeps its high-df postings
    // from flooding the pair shuffle: a high-df shingle sits late in
    // b's order, so sz_b - jpos + 1 < ceil(t*sz_a) kills the row at
    // the join
    val full = orderedDocs
      .select(col(idCol).as("doc_b"), col("sz").as("sz_b"),
        posexplode(col("ordered")).as(Seq("q0", "qe")))
      .select(col("doc_b"), col("sz_b"), (col("q0") + 1).as("jpos"),
        col("qe.sh").as("sh"))
    prefixes
      .join(full,
        col("psh") === col("sh") && col("doc_a") =!= col("doc_b") &&
          // length filter: the overlap needs ceil(t*sz_a) shingles and
          // b must hold all of them
          expr(s"sz_b >= (sz_a * $minContainMilli + 999) DIV 1000") &&
          // per-row positional filter, containment form
          expr(s"least(sz_a - ppos, sz_b - jpos) + 1 >= " +
            s"(sz_a * $minContainMilli + 999) DIV 1000"))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(min(col("ppos")).as("ia"), min(col("jpos")).as("jb"))
      .where(expr(
        s"least(sz_a - ia, sz_b - jb) + 1 >= (sz_a * $minContainMilli + 999) DIV 1000"))
      .select("doc_a", "doc_b")
  }

  /** Exact-Jaccard verify over the candidate pairs, shuffled on the
    * doc-id keys (candidates carry no smallness contract — a
    * broadcast-hinted verify would OOM the driver past a few million
    * pairs; same semantics as [[Dedup.verifyCandidatePairs]], here
    * reading the already-checkpointed shingle sets).
    */
  private def verifyJaccardFrom(sh: DataFrame, idCol: String,
                                cand: DataFrame,
                                minJaccardMilli: Long): DataFrame =
    cand
      .join(sh.select(col(idCol).as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("n_common",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard_milli",
        expr("n_common * 1000 DIV (size(sa) + size(sb) - n_common)"))
      .where(col("jaccard_milli") >= minJaccardMilli)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard_milli"))

  private def verifyContainFrom(sh: DataFrame, idCol: String,
                                cand: DataFrame,
                                minContainMilli: Long): DataFrame =
    cand
      .join(sh.select(col(idCol).as("doc_a"), col("shs").as("sa"),
        col("sz").as("sz_a")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("n_common",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("contain_milli", expr("n_common * 1000 DIV sz_a"))
      .where(col("contain_milli") >= minContainMilli)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("contain_milli"))

  /** All pairs (doc_a < doc_b) with distinct-`shingleWidth`-gram
    * Jaccard >= `minJaccardMilli`/1000, exactly. Output columns:
    * doc_a, doc_b, n_common, jaccard_milli.
    */
  def selfJoin(docs: DataFrame, idCol: String, textCol: String,
               shingleWidth: Int, minJaccardMilli: Long): DataFrame = {
    require(minJaccardMilli >= 1 && minJaccardMilli <= 1000,
      s"minJaccardMilli must be in [1, 1000] (got $minJaccardMilli)")
    val sh = shingleSets(docs, idCol, textCol, shingleWidth)
    verifyJaccardFrom(sh, idCol,
      jaccardCandidatesFrom(sh, idCol, minJaccardMilli), minJaccardMilli)
  }

  /** Exact CONTAINMENT self-join: every DIRECTED pair (doc_a, doc_b)
    * with `|S_a ∩ S_b| / |S_a| >= t` — "a's shingles are mostly
    * inside b". The asymmetric complement to [[selfJoin]]: Jaccard
    * misses a short document swallowed by a long one (the union is
    * dominated by the long side), but containment is exactly the
    * partial-duplicate signal a curation pipeline needs for quote
    * extraction, boilerplate wrappers, and subset-article detection.
    *
    * Filter theorem (containment form): with the same global
    * (df asc, shingle) order, if `|S_a ∩ S_b| >= ceil(t*|S_a|)` then
    * at most `|S_a| - ceil(t*|S_a|)` of a's ordered shingles precede
    * the first shared one, so it sits inside a's prefix of length
    * `|S_a| - ceil(t*|S_a|) + 1`. Only the PROBE side (a) is
    * prefix-truncated; the indexed side (b) must carry all its
    * shingles. Lossless; candidate volume is capped by the in-join
    * length + positional filters (object scaladoc).
    */
  def containmentSelfJoin(docs: DataFrame, idCol: String, textCol: String,
                          shingleWidth: Int, minContainMilli: Long): DataFrame = {
    require(minContainMilli >= 1 && minContainMilli <= 1000,
      s"minContainMilli must be in [1, 1000] (got $minContainMilli)")
    val sh = shingleSets(docs, idCol, textCol, shingleWidth)
    verifyContainFrom(sh, idCol,
      containCandidatesFrom(sh, idCol, minContainMilli), minContainMilli)
  }
}
