package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed BPE (byte-pair-encoding) vocabulary training — the
  * tokenizer-fitting pass of an LLM data pipeline (cf. the
  * reference's row-level text handling at
  * `utils/dataframe_operations.py`, which has no tokenizer story at
  * all; the BPE-ish token COUNTER here is `TextAnalysis` — this is
  * the op that LEARNS the merges that counter presumes).
  *
  * Scale shape, and why this survives 100 TB:
  *
  *  1. The ONLY corpus-scale pass is [[wordVocab]] — one map-side-
  *     combined `groupBy(word)` shuffle. Everything after runs on the
  *     distinct-word vocabulary, which is heavy-hitter compact
  *     (~1e5–1e7 rows on web corpora, independent of corpus bytes):
  *     classic Sennrich-style word-level BPE rather than a
  *     corpus-positional variant, exactly so the iterative part
  *     never touches the 100 TB again.
  *  2. Each merge round is: adjacent-pair extraction as a NARROW
  *     in-row `transform` over the symbol array (no posexplode of
  *     corpus positions), one vocab-scale `groupBy(pair)` with
  *     map-side partials, and a 1-ROW driver read (the argmax pair —
  *     KB-scale, the documented contract; same discipline as
  *     [[LabelPropagation]]'s per-round fixpoint check).
  *  3. Merge application is an in-row left-to-right greedy fold
  *     (`aggregate` HOF) — narrow, no shuffle. Per-round plan depth
  *     is held O(1) with persist + localCheckpoint (the LPA/
  *     [[GraphAnn]] iteration discipline), so 30k-merge production
  *     runs don't build 30k-deep lineage.
  *
  * Greedy-fold semantics (and why they equal the relational parity
  * rule the oracle uses): scanning left to right, a pair occurrence
  * merges iff its left symbol was not consumed by the previous
  * merge. Occurrences of (a,b) with a != b are never adjacent, so
  * all merge; for a == b, a run of L copies merges at chain offsets
  * 0,2,4,… — floor(L/2) merges. The fold re-checks `last == a`
  * against the WHOLE symbol, and a merged symbol a||b never equals a
  * (b nonempty), so the fold cannot re-merge a freshly-merged head —
  * it is exactly the textbook single-pass greedy. [[trainSqlCtes]]
  * renders the identical recurrence as unrolled DuckDB CTEs
  * (row_number parity over candidate chains), so the whole training
  * loop is differentially oracle-checkable, the [[GraphAnn]] way.
  *
  * Determinism: the per-round winner is argmax by (count DESC,
  * sym_a ASC, sym_b ASC) — binary string order, identical in Spark
  * and DuckDB — so ties never make the trained vocab run-dependent.
  */
object Bpe {

  /** Corpus → (word, cnt): the one corpus-scale shuffle. */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** (word, cnt) → (word, cnt, syms): character-level start state.
    * Empty words are dropped defensively ([[wordVocab]] never emits
    * them, but `train` accepts any (word, cnt) frame — and
    * `sequence(1, 0)` DESCENDS, which would fabricate two
    * empty-string symbols and a phantom ("","") pair carrying the
    * word's full weight into the argmax).
    */
  def charSymbols(vocab: DataFrame): DataFrame =
    vocab
      .where(length(col("word")) > 0)
      .withColumn(
        "syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** One greedy merge pass of (s1, s2) over a symbol-array column —
    * in-row, narrow, codegen'd comparisons inside the HOF.
    */
  def applyMerge(syms: Column, s1: String, s2: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, s) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(s1) && s === lit(s2),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(s1 + s2))))
          .otherwise(concat(acc, array(s))))

  /** One trained merge. */
  final case class Merge(round: Int, s1: String, s2: String, cnt: Long)

  /** Explicitly drop a SUPERSEDED localCheckpoint's blocks. A
    * checkpointed Dataset's `.unpersist()` is a no-op (the blocks
    * live on the underlying RDD, not in the CacheManager), so the
    * training loops free each round's frame through the plan's
    * LogicalRDD leaf once the next round has eagerly materialized.
    *
    * CONTRACT: a freed frame must NEVER be acted on again. Local
    * checkpoints truncate lineage, so the dropped blocks were the
    * frame's ONLY data copy — a later action fails with
    * missing-block errors rather than recomputing (a job error, not
    * a leak). Every call site frees a frame only after its successor
    * has eagerly materialized and the reference is dropped. The
    * "best effort" below covers only the LOOKUP (if Spark's plan
    * shape ever hides the LogicalRDD leaf, the blocks leak to GC —
    * the old behavior); it does not soften the never-reuse contract.
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    } catch { case _: Throwable => () }

  /** Train `rounds` merges over a (word, cnt) vocabulary. Returns the
    * merge table and the final segmented vocabulary
    * (word, cnt, syms). Driver reads: exactly one argmax ROW per
    * round (KB-scale contract). Stops early if no adjacent pair
    * remains (fully merged vocab).
    */
  def train(spark: SparkSession, vocab: DataFrame,
            rounds: Int): (Seq[Merge], DataFrame) = {
    var cur = charSymbols(vocab)
      .select("word", "cnt", "syms")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // prev: the frame cur's LAZY checkpoint still reads from — freed
    // only once cur has materialized (see below)
    var prev: DataFrame = null
    def freePrev(r: Int): Unit = if (prev != null) {
      if (r == 2) prev.unpersist() else freeCheckpoint(prev)
      prev = null
    }
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      // adjacent pairs, weighted by word count — narrow transform,
      // then one vocab-scale aggregation. This ONE action also
      // materializes cur's lazy checkpoint (r16: the per-round eager
      // checkpoint was a second full-vocab job per round — the argmax
      // pass now writes the round's cache blocks as it reads them)
      val winner = cur
        .select(
          col("cnt"),
          explode(expr(
            "transform(slice(syms, 1, size(syms) - 1)," +
              " (s, i) -> struct(s AS s1, syms[i + 1] AS s2))")).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("s1"), col("s2"))
        .limit(1)
        .collect() // 1 row: the round's argmax — documented driver read
      // cur is materialized: the superseded predecessor's blocks are
      // now safe to free (lineage: cur's checkpoint read prev's
      // blocks while materializing; plan depth stays O(1) and the
      // live working set exactly one vocab copy, as before)
      freePrev(r)
      if (winner.isEmpty) done = true
      else {
        val w = winner.head
        val (s1, s2, c) =
          (w.getString(0), w.getString(1), w.getLong(2))
        merges += Merge(r, s1, s2, c)
        val next = cur
          .withColumn("syms", applyMerge(col("syms"), s1, s2))
          .localCheckpoint(false)
        prev = cur
        cur = next
        r += 1
      }
    }
    if (prev != null) {
      // completed all rounds: cur's lazy checkpoint has not run yet —
      // materialize it so the returned frame owns its blocks and the
      // last superseded copy can be freed deterministically (one job,
      // replacing what used to be one eager-checkpoint job per round)
      cur.count()
      freePrev(r)
    }
    (merges.result(), cur)
  }

  /** Per-doc BPE token counts: join each doc's words to the final
    * segmentation's per-word segment count. Big-big hash join on
    * `word` (both sides shuffle-partitioned by the key; AQE may
    * broadcast a small trained vocab on its own evidence).
    */
  def encodeCounts(docs: DataFrame, segmented: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val nseg = segmented.select(col("word"), size(col("syms")).cast("long").as("nseg"))
    docs
      .select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .join(nseg, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("nseg")).as("n_bpe_tokens"))
  }

  // ---------------------------------------------------------------
  // Persisted tokenizer artifact — the [[Generations]] lifecycle for
  // the trained model, so encode reads a STORED artifact instead of
  // retraining per pipeline run, and corpus growth folds in as one
  // vocab-scale delta instead of a retrain.
  //
  // Layout under one model path:
  //   path/merges/  (ord, round, s1, s2, cnt)   ord = application order
  //   path/vocab/   (word, cnt, syms)           segmented vocabulary
  //
  // `vocab` is the encode-side artifact (per-word segment counts via
  // one join — [[encodeCounts]]); `merges` is the cold path for words
  // the vocabulary has never seen ([[segmentWords]]).
  // ---------------------------------------------------------------

  /** Persist a trained model at `path` (see layout above). `ord` is
    * the position in `merges` — the exact application order, which
    * [[segmentWords]] must replay.
    */
  def writeModel(spark: SparkSession, merges: Seq[Merge],
                 segmented: DataFrame, path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case (m, i) => (i.toLong, m.round, m.s1, m.s2, m.cnt) }
      .toDF("ord", "round", "s1", "s2", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    segmented.select("word", "cnt", "syms")
      .write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** [[writeModel]] into the next [[Generations]] slot + pointer
    * flip. Encode against `Generations.livePath(spark, root)`.
    */
  def writeModelVersioned(spark: SparkSession, merges: Seq[Merge],
                          segmented: DataFrame, root: String): String = {
    val gen = Generations.nextPath(spark, root)
    writeModel(spark, merges, segmented, gen)
    Generations.publish(spark, root, gen)
    gen
  }

  /** The stored merge table in application order — `rounds`-scale
    * (thousands of rows at production vocab sizes), a documented
    * driver read.
    */
  def readMerges(spark: SparkSession, path: String): Seq[Merge] =
    spark.read.parquet(s"$path/merges").orderBy("ord").collect().toSeq
      .map(r => Merge(r.getInt(1), r.getString(2), r.getString(3),
        r.getLong(4)))

  /** Segment a (word, cnt) frame by replaying a merge list over its
    * characters — one in-row greedy fold per merge, zero shuffles.
    * The replay is CHUNKED: every `chunk` merges the frame is eagerly
    * localCheckpointed (superseded blocks freed), so plan depth stays
    * O(chunk) and a production 30k-merge model replays in ~30k/chunk
    * bounded projections instead of one 30k-deep expression tree that
    * no analyzer survives. Still the OOV/refresh cold path for the
    * handful of new words a batch brings — the bulk encode joins the
    * stored vocab ([[encodeCounts]]).
    */
  def segmentWords(vocab: DataFrame, merges: Seq[Merge],
                   chunk: Int = 16): DataFrame = {
    require(chunk >= 1, s"chunk must be >= 1 (got $chunk)")
    var cur = charSymbols(vocab).select("word", "cnt", "syms")
    var first = true
    merges.grouped(chunk).foreach { g =>
      val next = g.foldLeft(cur) { (df, m) =>
        df.withColumn("syms", applyMerge(col("syms"), m.s1, m.s2))
      }.localCheckpoint(true)
      if (!first) freeCheckpoint(cur)
      first = false
      cur = next
    }
    cur
  }

  /** Per-doc BPE token counts from the STORED artifact — [[
    * encodeCounts]] against the model's segmented vocabulary; no
    * training, no merge replay. Words absent from the stored vocab
    * are dropped (inner join) — refresh the model ([[refresh]]) to
    * absorb new corpus batches before encoding them.
    */
  def encodeCountsStored(spark: SparkSession, docs: DataFrame, path: String,
                         idCol: String, textCol: String): DataFrame =
    encodeCounts(docs, spark.read.parquet(s"$path/vocab"), idCol, textCol)

  /** Fold a new corpus batch into the live model as a NEW generation:
    * one batch-scale [[wordVocab]] aggregation, one vocab-scale
    * outer-join count fold, and an in-row merge replay for the
    * batch's genuinely new words ([[segmentWords]] — existing words
    * keep their stored segmentation, which depends only on the merge
    * table and is therefore already correct). The merges carry over
    * unchanged — a refresh updates counts, never the tokenizer itself,
    * so encode stays bit-stable across refreshes.
    */
  def refresh(spark: SparkSession, root: String, newDocs: DataFrame,
              textCol: String): String = {
    val live = Generations.livePath(spark, root)
    val merges = readMerges(spark, live)
    val delta = wordVocab(newDocs, textCol)
      .select(col("word"), col("cnt").as("nc"))
    val stored = spark.read.parquet(s"$live/vocab")
      .select(col("word"), col("cnt").as("oc"), col("syms"))
    // LAZY snapshot: the first action over the fold — segmentWords'
    // eager chunk checkpoint (or the vocab write when nothing is
    // fresh) — materializes it, so the outer join is computed once
    // and shared without paying a separate materialization job (r16)
    val folded = stored.join(delta, Seq("word"), "full_outer")
      .select(col("word"),
        (coalesce(col("oc"), lit(0L)) + coalesce(col("nc"), lit(0L))).as("cnt"),
        col("syms"))
      .localCheckpoint(false)
    val known = folded.where(col("syms").isNotNull)
    val fresh = segmentWords(
      folded.where(col("syms").isNull).select("word", "cnt"), merges)
    val gen = Generations.nextPath(spark, root)
    known.unionByName(fresh)
      .write.mode("overwrite").parquet(s"$gen/vocab")
    // the merges carry over UNCHANGED by contract (a refresh updates
    // counts, never the tokenizer) — byte-identical file copy instead
    // of a read→rewrite Spark job (r16; the copied parquet is the same
    // artifact)
    val hconf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$live/merges")
    val dst = new org.apache.hadoop.fs.Path(s"$gen/merges")
    val fs = src.getFileSystem(hconf)
    fs.mkdirs(dst)
    fs.listStatus(src).filter(_.isFile).foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new org.apache.hadoop.fs.Path(dst, st.getPath.getName),
        false, true, hconf)
      ()
    }
    Generations.publish(spark, root, gen)
    freeCheckpoint(folded)
    freeCheckpoint(fresh) // segmentWords' final chunk checkpoint
    gen
  }

  // ---------------------------------------------------------------
  // Oracle rendering: the same recurrence as unrolled DuckDB CTEs
  // (relational parity-rule merge — provably equal to the greedy
  // fold, see object scaladoc). `docsRel` must expose (text) and,
  // for the encode tail, (doc_id, text).
  // ---------------------------------------------------------------

  /** CTE chain `toks, vocab, s0, p1..w1..m1..s1, …, s<rounds>`.
    * `w<r>` holds round r's winning pair; `s<rounds>` the final
    * segmentation as (word, cnt, pos, sym) rows.
    *
    * Contract: `rounds` must not exceed the merges the corpus can
    * yield — the Spark side early-stops, the relational unroll cannot.
    * The contract is ENFORCED loudly: each round carries a one-row
    * guard CTE (wchk<r>) that raises a DuckDB `error(...)` naming the
    * exhausted round if w<r> came up empty, so a degenerate vocabulary
    * fails the oracle run with a message instead of surfacing as an
    * opaque hash mismatch on silently-emptied CTEs. Real corpora yield
    * thousands of merges; the guard only fires on degenerate
    * vocabularies (single fully-merged word).
    */
  def trainSqlCtes(docsRel: String, rounds: Int): String = {
    val init =
      s"""toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
            FROM $docsRel),
          vocab AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM toks WHERE length(word) > 0 GROUP BY 1),
          s0 AS (SELECT word, cnt, CAST(p AS BIGINT) AS pos,
              substring(word, CAST(p AS INTEGER), 1) AS sym
            FROM (SELECT word, cnt,
                    unnest(range(1, length(word) + 1)) AS p FROM vocab) u)"""
    val roundCtes = (1 to rounds).map { r =>
      val pv = s"s${r - 1}"
      s"""p$r AS (SELECT a.sym AS s1, b.sym AS s2, CAST(SUM(a.cnt) AS BIGINT) AS c
            FROM $pv a JOIN $pv b ON b.word = a.word AND b.pos = a.pos + 1
            GROUP BY 1, 2),
          w$r AS (SELECT s1, s2, c FROM p$r ORDER BY c DESC, s1, s2 LIMIT 1),
          wchk$r AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM w$r) THEN 1
              ELSE CAST(error('BPE oracle: vocabulary exhausted before round $r — lower rounds') AS INT) END AS ok),
          c$r AS (SELECT a.word, a.pos
            FROM $pv a JOIN $pv b ON b.word = a.word AND b.pos = a.pos + 1
            JOIN w$r w ON a.sym = w.s1 AND b.sym = w.s2),
          g$r AS (SELECT word, pos,
              pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
            FROM c$r),
          m$r AS (SELECT word, pos FROM (
              SELECT word, pos,
                row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS k
              FROM g$r) t WHERE k % 2 = 1),
          s$r AS (SELECT word, cnt,
              CAST(row_number() OVER (PARTITION BY word ORDER BY opos) AS BIGINT) AS pos,
              sym
            FROM (
              SELECT s.word, s.cnt, s.pos AS opos,
                CASE WHEN ma.pos IS NOT NULL THEN w.s1 || w.s2 ELSE s.sym END AS sym
              FROM $pv s
              CROSS JOIN w$r w
              CROSS JOIN wchk$r
              LEFT JOIN m$r ma ON ma.word = s.word AND ma.pos = s.pos
              LEFT JOIN m$r mb ON mb.word = s.word AND mb.pos = s.pos - 1
              WHERE mb.pos IS NULL) u)"""
    }
    (init +: roundCtes).mkString(",\n")
  }

  /** One greedy-merge application round rendered relationally: apply
    * the (already-defined) winner CTE `w` to symbol rows `pv`,
    * emitting `$out` — the parity-rule merge identical to
    * [[trainSqlCtes]]'s per-round application block, factored so the
    * REFRESH oracle can replay stored merges over a different word
    * set (the new-word chain) without recounting pairs.
    */
  private def applyRoundSql(pfx: String, pv: String, w: String,
                            out: String): String =
    s"""${pfx}c AS (SELECT a.word, a.pos
          FROM $pv a JOIN $pv b ON b.word = a.word AND b.pos = a.pos + 1
          JOIN $w w ON a.sym = w.s1 AND b.sym = w.s2),
        ${pfx}g AS (SELECT word, pos,
            pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
          FROM ${pfx}c),
        ${pfx}m AS (SELECT word, pos FROM (
            SELECT word, pos,
              row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS k
            FROM ${pfx}g) t WHERE k % 2 = 1),
        $out AS (SELECT word, cnt,
            CAST(row_number() OVER (PARTITION BY word ORDER BY opos) AS BIGINT) AS pos,
            sym
          FROM (
            SELECT s.word, s.cnt, s.pos AS opos,
              CASE WHEN ma.pos IS NOT NULL THEN w.s1 || w.s2 ELSE s.sym END AS sym
            FROM $pv s
            CROSS JOIN $w w
            LEFT JOIN ${pfx}m ma ON ma.word = s.word AND ma.pos = s.pos
            LEFT JOIN ${pfx}m mb ON mb.word = s.word AND mb.pos = s.pos - 1
            WHERE mb.pos IS NULL) u)"""

  /** Full oracle for [[refresh]]: train `rounds` merges on `oldRel`,
    * fold `newRel`'s word counts in, keep the OLD segmentation for
    * known words (it depends only on the merges, which a refresh
    * never changes) and segment genuinely NEW words by replaying the
    * stored merges over their characters — exactly the Spark path's
    * contract. Emits the refreshed segmented vocabulary as
    * (word, cnt, pos, sym) rows ordered by (word, pos).
    */
  def refreshSql(oldRel: String, newRel: String, rounds: Int): String = {
    val newChain = (1 to rounds).map { r =>
      applyRoundSql(s"n${r}_", s"n${r - 1}", s"w$r", s"n$r")
    }.mkString(",\n")
    GraphAnn.materializeCtes(
      s"""WITH ${trainSqlCtes(oldRel, rounds)},
          ntoks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
            FROM $newRel),
          nvocab AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ntoks WHERE length(word) > 0 GROUP BY 1),
          uvocab AS (SELECT COALESCE(a.word, b.word) AS word,
              COALESCE(a.cnt, 0) + COALESCE(b.cnt, 0) AS cnt
            FROM vocab a FULL OUTER JOIN nvocab b ON a.word = b.word),
          oldseg AS (SELECT s.word, u.cnt, s.pos, s.sym
            FROM s$rounds s JOIN uvocab u ON u.word = s.word),
          nw AS (SELECT u.word, u.cnt FROM uvocab u
            LEFT JOIN vocab v ON v.word = u.word WHERE v.word IS NULL),
          n0 AS (SELECT word, cnt, CAST(p AS BIGINT) AS pos,
              substring(word, CAST(p AS INTEGER), 1) AS sym
            FROM (SELECT word, cnt,
                    unnest(range(1, length(word) + 1)) AS p FROM nw) u),
          $newChain
          SELECT word, cnt, pos, sym FROM oldseg
          UNION ALL SELECT word, cnt, pos, sym FROM n$rounds
          ORDER BY word, pos""")
  }

  /** Full oracle for the merge table: (round, sym_a, sym_b, merged,
    * pair_cnt) ordered by round.
    */
  def mergesSql(docsRel: String, rounds: Int): String = {
    val sel = (1 to rounds)
      .map(r =>
        s"""SELECT CAST($r AS BIGINT) AS round, s1 AS sym_a, s2 AS sym_b,
              s1 || s2 AS merged, c AS pair_cnt FROM w$r""")
      .mkString("\nUNION ALL\n")
    // MATERIALIZED: each round's s{r} is referenced by three CTEs of
    // round r+1 — inlined, the 6-round chain re-evaluates
    // exponentially (the GraphAnn.materializeCtes lesson)
    GraphAnn.materializeCtes(
      s"WITH ${trainSqlCtes(docsRel, rounds)}\n$sel\nORDER BY round")
  }

  /** Full oracle for per-doc encode counts after `rounds` merges. */
  def encodeSql(docsRel: String, rounds: Int): String = GraphAnn.materializeCtes(
    s"""WITH ${trainSqlCtes(docsRel, rounds)},
        nseg AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS nseg
          FROM s$rounds GROUP BY 1),
        dt AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
          FROM $docsRel)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(nseg) AS BIGINT) AS n_bpe_tokens
        FROM dt JOIN nseg USING (word)
        WHERE length(word) > 0
        GROUP BY doc_id ORDER BY doc_id""")
}
