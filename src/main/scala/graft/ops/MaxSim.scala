package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Late-interaction (MaxSim / ColBERT-style) multi-vector retrieval:
  * a document is a BAG of token vectors, a query likewise, and
  * score(q, d) = Σ_{t ∈ q} max_{u ∈ d} cos(t, u). The retrieval
  * shape RAG pipelines use when single-vector recall saturates —
  * and an op the reference (single-process pandas ETL, no vector
  * story at all) has no analogue for.
  *
  * Scale shape:
  *  - [[scoreExact]] broadcasts the QUERY token table (queries ×
  *    tokens — KBs to MBs) against one scan of the corpus token
  *    table: no corpus-side shuffle until the per-(query-token, doc)
  *    max, which is map-side combinable. This is the ground-truth
  *    path and the re-ranker.
  *  - [[scoreLshPruned]] is the production path: deterministic
  *    hyperplane buckets (md5-derived, [[Similarity.planeWeights]] —
  *    no RNG state) shortlist candidate DOCS whose any-token bucket
  *    collides with any query-token bucket; the exact MaxSim then
  *    runs only over the shortlist's token vectors. Both stages are
  *    relational, so the whole pruned pipeline replays in DuckDB —
  *    the same differential-oracle discipline as [[GraphAnn]].
  *
  * Exactness: integer micro-cosines ([[Similarity.cosineMicro]] over
  * quantized vectors) make max and sum associativity-proof — the
  * score is a BIGINT, bit-identical in any engine.
  */
object MaxSim {

  /** Multi-vector view of a single-vector table: vec_id DIV m is the
    * document, vec_id % m the token slot. (The fixture ships one
    * vector per id; a real corpus lands here already shaped
    * (doc_id, tok, vec) by the embedder.)
    */
  def multiVector(emb: DataFrame, idCol: String, m: Int): DataFrame =
    emb.select(
      expr(s"$idCol DIV $m").as("doc_id"),
      (col(idCol) % m).as("tok"),
      col(idCol).as("vec_id"),
      col("embedding"))

  private def quantized(toks: DataFrame): DataFrame =
    Similarity.withQuantized(toks, "embedding")
      .select(col("doc_id"), col("tok"), col("vec_id"), col("ei"), col("nn"))

  /** Quantize a (doc_id, tok, vec_id, embedding) token table into the
    * index row shape (doc_id, tok, vec_id, ei, nn) — the frame
    * [[searchIndexQuantized]] and [[appendIndexBufferedQuantized]]
    * consume. A streaming intake quantizes each batch ONCE here (and
    * `localCheckpoint`s it) instead of paying the same quantization
    * inside the probe AND again inside the append — half of the
    * per-batch fixed bill the r13 chain measured at ~5.3 s
    * (`maxsim_probe_after_12appends`) was repeated work of exactly
    * this kind.
    */
  def quantizeBag(toks: DataFrame): DataFrame = quantized(toks)

  /** Exact MaxSim top-k: query token table broadcast, one corpus
    * token scan, two map-side-combinable aggregations (max per
    * (query-token, doc), sum per (query, doc)), window top-k.
    * Deterministic rank: (score_micro desc, doc_id).
    */
  def scoreExact(docToks: DataFrame, queryToks: DataFrame, k: Int): DataFrame =
    rerank(quantized(docToks), quantized(queryToks), k)

  /** Exact MaxSim over ALREADY-quantized corpus and query token
    * tables — shared tail of the exact and pruned paths, so the two
    * can never drift in scoring (and each side is quantized exactly
    * once per pipeline).
    */
  private def rerank(corpusQ: DataFrame, queryQ: DataFrame, k: Int): DataFrame = {
    val q = queryQ
      .select(col("doc_id").as("q_doc"), col("vec_id").as("q_vec"),
        col("ei").as("qe"), col("nn").as("qn"))
    val tokSim = corpusQ
      .crossJoin(broadcast(q))
      .where(col("doc_id") =!= col("q_doc"))
      .withColumn("sim_micro",
        Similarity.cosineMicro(
          Similarity.dotLong(col("ei"), col("qe")), col("nn"), col("qn")))
    val perQueryTok = tokSim
      .groupBy(col("q_doc"), col("q_vec"), col("doc_id"))
      .agg(max(col("sim_micro")).as("mx"))
    // ONE exchange (on q_doc) serves both the per-doc score sum and
    // the top-k window (r15): hash(q_doc) satisfies the aggregate's
    // (q_doc, doc_id) clustering AND the window's partitioning, where
    // the default plan exchanged twice — once per operator. The rows
    // crossing are per-(query-token, doc) maxes, already reduced by
    // the map-side-combined aggregation above; the heavy frame
    // (tokSim) still combines before ITS exchange, unchanged.
    val scored = perQueryTok
      .repartition(col("q_doc"))
      .groupBy(col("q_doc"), col("doc_id"))
      .agg(sum(col("mx")).as("score_micro"))
    val w = Window.partitionBy("q_doc")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select(col("q_doc"), col("rnk"), col("doc_id"), col("score_micro"))
  }

  /** Per-token LSH bucket id — [[Similarity.lshBucket]] verbatim, so
    * the shortlist can never drift from the LSH index family's (or
    * the shared DuckDB replay's) bucket convention.
    */
  private def bucketCol(nPlanes: Int, dims: Int): Column =
    Similarity.lshBucket(col("ei"), Similarity.planeWeights(nPlanes, dims))

  /** Query-side MULTI-PROBE bucket expansion: the token's primary
    * bucket plus `multiProbe` neighbors obtained by flipping the
    * least-confident plane bits — the planes whose |dot| with the
    * token is smallest, i.e. the boundaries the token sits closest
    * to (classic multi-probe LSH). Only the QUERY side expands; the
    * corpus keeps one bucket per token, so the index layout and the
    * candidate-join shape are unchanged and the extra cost is
    * exactly `multiProbe` more probe buckets per query token.
    * Deterministic: integer dots, (|dot|, plane) tiebreak.
    */
  private def probeBucketsCol(nPlanes: Int, dims: Int,
                              multiProbe: Int): Column = {
    val primary = bucketCol(nPlanes, dims)
    if (multiProbe <= 0) array(primary)
    else {
      val conf = Similarity.planeWeights(nPlanes, dims).zipWithIndex.map {
        case (w, p) =>
          struct(abs(Similarity.dotLong(col("ei"), typedLit(w))).as("a"),
            lit(p).as("p"), lit(1L << p).as("m"))
      }
      val flips = slice(sort_array(array(conf: _*)), 1, multiProbe)
      concat(array(primary),
        transform(flips, f => primary.bitwiseXOR(f.getField("m"))))
    }
  }

  /** Production path: hyperplane buckets shortlist candidate docs
    * (any query token's bucket == any doc token's bucket), then the
    * exact MaxSim re-ranks ONLY the shortlist. The candidate set is
    * doc-level — a doc whose one token collides is re-ranked with
    * ALL its tokens, so surviving scores equal the exact path's
    * bit-for-bit (pruning can only drop docs, never distort scores).
    *
    * `multiProbe` > 0 additionally probes, per query token, that many
    * nearest-boundary neighbor buckets ([[probeBucketsCol]]) —
    * recall's rescue lever when the shortlist starves. MEASURED
    * (r12 x20 run, `maxsim_recall_milli_*` rows, recall@10 vs
    * [[scoreExact]] ground truth on [[AnnEval.plantedTokenBags]] —
    * planted neighbors at controlled ANGULAR distance, nominal
    * cos θ 0.848 → 0.606, over 2.56M independent corpus tokens; the
    * r11 jittered-replica fixture read 1.000 everywhere and could
    * not discriminate): dense bags (m=8 tokens/doc, 320k docs)
    * single-probe recall is **0.850 / 0.300 / 0.100 at nPlanes
    * 8/12/16**, and multi-probe measurably recovers what extra
    * planes forfeit — p12+mp2 → 0.625, p16+mp2 → 0.200,
    * p16+mp4 → 0.375. The recall rows are bit-identical across
    * independent runs (deterministic hash-grid fixture). DEFAULT
    * (dense bags, m ≳ 8) nPlanes = 8: the only measured point with
    * recall ≥ 0.85 on dense bags, at a ~2.5x-cheaper probe than
    * exact (`maxsim_lsh_2m_toks` 7.4 s vs `maxsim_exact_2m_toks`
    * 18.5 s in the r12 artifact); past p8, add multi-probe rather
    * than planes if the bucket fan-in (not recall) is the
    * bottleneck.
    *
    * SPARSE bags (short docs, m ≈ 2; 1.28M docs measured) starve the
    * doc-level OR — only 2 collision chances per doc: single-probe
    * p8 reads 0.375 and p16 collapses to 0.031. The r13 sweep
    * adjudicates the sparse operating point: **keep nPlanes = 8 and
    * turn on multi-probe — p8+mp2 → 0.763, p8+mp4 → 0.875**
    * (`maxsim_recall_milli_m2_p8_mp*`; p16-based rescue is a dead
    * end, mp4 only reaches 0.125). p4 single-probe reads 0.975 but
    * only because 16 buckets shortlist nearly the whole corpus —
    * near-exact recall at near-exact cost
    * (`maxsim_lsh_m2_probe_p4` vs the `maxsim_exact_gt_m2_topk10`
    * wall); route there only when exactness matters more than cost.
    * SPARSE DEFAULT: (nPlanes = 8, multiProbe = 4). Scaling trend
    * (r14, the same fixture at DOUBLE corpus — 2.56M docs, two clean
    * back-to-back full runs): recall HOLDS at 0.875 at both scales,
    * and the saving vs exact is a MODEST CONSTANT factor, not
    * asymptotic — run-dependent 10-35% at 1.28M (probe 12.98-15.56 s
    * vs exact 17.35-20.09 s) and a steadier 24-28% at 2.56M (28.58-
    * 32.37 vs 37.76-45.21 s); the mp4 shortlist on m=2 bags covers a
    * large corpus fraction, so probe cost tracks the corpus nearly
    * linearly. Route m=2 bags here for the equal-recall saving, not
    * in the expectation that the gap widens with growth
    * (`maxsim_*_m2_x2_*`, r14 x20 run). Re-measure via the recall
    * rows after changing either knob — the planted-angular fixture
    * fails loudly on regressions (the r11 fixture could not).
    */
  def scoreLshPruned(docToks: DataFrame, queryToks: DataFrame, k: Int,
                     nPlanes: Int, dims: Int,
                     multiProbe: Int = 0): DataFrame = {
    val corpusQ = quantized(docToks)
    val qQ = quantized(queryToks)
    val cBuckets = corpusQ.select(col("doc_id"), bucketCol(nPlanes, dims).as("b"))
    val qBuckets = qQ.select(
      explode(probeBucketsCol(nPlanes, dims, multiProbe)).as("b"))
    val candDocs = cBuckets
      .join(broadcast(qBuckets.distinct()), "b")
      .select("doc_id").distinct()
    rerank(corpusQ.join(candDocs, "doc_id"), qQ, k)
  }

  // ---------------------------------------------------------------
  // Persisted token-bucket index — the [[IvfPq]] storage discipline
  // (a cell-partitioned index) applied to late interaction:
  // quantization and bucket assignment happen ONCE at build (q176's
  // in-memory path recomputes both per query batch), probes read only
  // the query tokens'
  // bucket partitions for the shortlist and only the candidate docs'
  // doc-hash partitions for the re-rank, and appends land as one
  // staged file each. The retrieval shape RAG deploys:
  // stored shortlist index + exact re-rank.
  //
  // Layout under one index path:
  //   path/postings/ bucket=B/  -> (doc_id)        distinct per bucket
  //   path/toks/     dbucket=D/ -> (doc_id, tok, vec_id, ei, nn)
  //
  // `postings` answers "which docs have ANY token in these buckets"
  // from exactly the query buckets' partitions (static pruning — the
  // bucket list is a bounded driver value, <= distinct query-token
  // buckets). `toks` holds the pre-quantized token vectors keyed by
  // a doc-id hash so the re-rank reads only candidate docs' buckets
  // (the candidate DBUCKET set, <= dBuckets values, is the second
  // bounded driver read). Scores are bit-identical to [[scoreExact]]
  // on the shortlist — pruning can drop docs, never distort scores —
  // so a stored-index probe hash-equals [[scoreLshPruned]] with the
  // same (nPlanes, dims).
  // ---------------------------------------------------------------

  /** Doc-hash partition key for the re-rank table: first 8 md5 hex
    * chars of doc_id mod `dBuckets` (the [[GraphAnn]] hash8 idiom).
    */
  private def dbucketCol(docId: Column, dBuckets: Int): Column =
    (conv(substring(md5(docId.cast("string")), 1, 8), 16, 10)
      .cast(LongType) % dBuckets).cast("int")

  /** Build (overwrite) the token-bucket index at `path` from a doc
    * token table (doc_id, tok, embedding). One quantization pass; two
    * partitioned writes (postings by LSH bucket, token vectors by doc
    * hash).
    */
  def writeIndex(docToks: DataFrame, path: String, nPlanes: Int, dims: Int,
                 dBuckets: Int = 64): Unit = {
    require(nPlanes >= 1 && nPlanes <= 31,
      s"nPlanes in [1,31] for int partition keys (got $nPlanes)")
    val q = quantized(docToks)
      .withColumn("bucket", bucketCol(nPlanes, dims).cast("int"))
      .withColumn("dbucket", dbucketCol(col("doc_id"), dBuckets))
      .persist()
    // repartition on the write key (the compactVersioned discipline,
    // extended to the build in r15): without it every
    // task holding rows for a partition value opens a file there, so
    // the build scatters up to tasks x partitions small files that
    // every later probe pays to list and open
    q.select("bucket", "doc_id").distinct()
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
    q.select("dbucket", "doc_id", "tok", "vec_id", "ei", "nn")
      .repartition(col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket")
      .parquet(s"$path/toks")
    q.unpersist()
    ()
  }

  // ---------------------------------------------------------------
  // Buffered staging — cutting the append FLOOR. The r12 scale bench
  // priced the O(batch) append at ~5 s and ~320 files PER APPEND
  // regardless of batch size (maxsim_append_files_01pct = 319,
  // maxsim_index_append_{01,1,10}pct = 4.9/5.7/5.8 s): two
  // partitioned writes touch nearly every bucket/dbucket partition
  // even for a 0.1% batch, so at streaming cadence the fixed
  // per-partition file cost IS the bill (12 appends = 60 s). A
  // sub-threshold append therefore lands as ONE coalesced file in a
  // staging area instead; probes union the (bounded) staging rows
  // with the partitioned layout; and once staging passes a byte
  // threshold it folds into the bucket partitions in one shot —
  // paying the ~320-file bill once per FOLD, not once per append.
  //
  // Staging is itself a [[Generations]] root (`path/staging/`): the
  // fold appends the live staging generation's rows to the
  // partitioned layout and then pointer-flips to a FRESH EMPTY
  // staging generation — never deleting files a concurrent probe may
  // have planned against (superseded staged files get one fold cycle
  // of reader grace via the prune keep-window). A probe that catches
  // the fold mid-flight reads a doc's tokens from BOTH staging and
  // the partitions; that is score-identical, not just benign: the
  // re-rank's per-(query-token, doc) MAX is idempotent under
  // duplicate token rows and the candidate set is distinct'd, so
  // duplicated inputs change no output bit (the same argument that
  // makes a crash between fold-append and flip safe — the next fold
  // re-appends, and [[compactVersioned]] dedups toks on token
  // identity). Readers never see a torn index at any point.
  // ---------------------------------------------------------------

  private def stagingRoot(path: String): String = s"$path/staging"

  /** The live staging generation's rows, if staging exists and holds
    * any — pre-quantized token rows carrying their bucket/dbucket
    * keys, so probes and folds never re-quantize.
    */
  private def stagedRows(spark: org.apache.spark.sql.SparkSession,
                         path: String): Option[DataFrame] = {
    val root = stagingRoot(path)
    Generations.current(spark, root)
      .map(_ => Generations.livePath(spark, root))
      .filter(Generations.hasData(spark, _))
      .map(spark.read.parquet(_))
  }

  /** Buffered O(1)-file append of an ALREADY-quantized batch (the
    * [[quantizeBag]] frame, so a streaming intake that just probed
    * with the same bag via [[searchIndexQuantized]] does not pay the
    * quantization twice): the batch lands as one coalesced file in
    * the live staging generation (created on first use), then
    * staging folds into the bucket partitions iff its on-disk size
    * passed `foldBytes`. Probes see staged docs immediately
    * ([[searchIndex]] unions staging), so the index contract is
    * unchanged — only the file bill moves from per-append to
    * per-fold. Returns true iff this append triggered a fold. The
    * caller owns doc-id uniqueness (re-ingesting a doc_id would
    * double its tokens, like any append-only store).
    *
    * The size probe is one driver-side directory listing (no job);
    * staging is bounded by `foldBytes` + one batch, so the probe-side
    * union stays small by construction.
    *
    * WRITER CONTRACT — one owner per index path: appends and folds
    * (this method's threshold fold, an explicit [[foldStaging]], and
    * [[compactVersioned]]/[[maintain]]) must all be serialized
    * through whatever owns the ingest cadence — the
    * [[Generations]] single-cadence-owner assumption, which
    * [[graft.streaming.MaxSimStream]] satisfies by construction (one
    * foreachBatch thread does both). Readers are unlimited. The fold
    * does carry a belt-and-braces re-check (a staged file that lands
    * between the fold's snapshot and its pointer flip is copied into
    * the fresh staging generation, never stranded — see
    * [[foldStaging]]), but that covers the append-during-fold window
    * only; two concurrent FOLDS still race the same next-generation
    * directory and are out of contract.
    */
  def appendIndexBufferedQuantized(qRows: DataFrame, path: String,
                                   nPlanes: Int, dims: Int,
                                   dBuckets: Int = 64,
                                   foldBytes: Long = 64L << 20): Boolean = {
    require(nPlanes >= 1 && nPlanes <= 31,
      s"nPlanes in [1,31] for int partition keys (got $nPlanes)")
    val spark = qRows.sparkSession
    val root = stagingRoot(path)
    val live = Generations.current(spark, root) match {
      case Some(_) => Generations.livePath(spark, root)
      case None =>
        val gen = Generations.nextPath(spark, root)
        val p = new org.apache.hadoop.fs.Path(gen)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
        Generations.publish(spark, root, gen)
        gen
    }
    // aid identifies THIS append: maintain's duplicate-postings probe
    // distincts (bucket, doc_id) within an append (two tokens of one
    // doc sharing a bucket is legit — writeIndex distincts it too)
    // while replays of the same doc under a different aid still count
    // as the duplicates they are
    val aid = java.util.UUID.randomUUID().toString
    qRows
      .select(col("doc_id"), col("tok"), col("vec_id"), col("ei"), col("nn"))
      .withColumn("bucket", bucketCol(nPlanes, dims).cast("int"))
      .withColumn("dbucket", dbucketCol(col("doc_id"), dBuckets))
      .withColumn("aid", lit(aid))
      .coalesce(1)
      .write.mode("append").parquet(live)
    val liveP = new org.apache.hadoop.fs.Path(live)
    val fs = liveP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(liveP)
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .map(_.getLen).sum
    if (bytes >= foldBytes) { foldStaging(spark, path); true } else false
  }

  /** Non-hidden data files of one directory — the fold's snapshot
    * unit (a staging generation is a flat dir of coalesced parquet
    * files, never nested).
    */
  private def dataFiles(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .map(_.getPath)
  }

  /** Fold the live staging generation into the bucket partitions and
    * flip to a fresh empty staging generation. Crash anywhere in the
    * sequence is benign: a crash after either append re-folds the
    * same rows next time (duplicates are score-identical, see above,
    * and [[compactVersioned]] removes them); the flip itself is the
    * [[Generations]] pointer commit. No-op if staging is absent or
    * empty.
    *
    * WRITER CONTRACT: one owner per index path serializes appends and
    * folds (see [[appendIndexBufferedQuantized]]). Belt and braces for the
    * append-during-fold window anyway: the fold reads an explicit
    * FILE SNAPSHOT of the live staging generation, and any staged
    * file that landed after the snapshot is COPIED into the fresh
    * staging generation before the pointer flip — an out-of-contract
    * racing append is carried forward, never silently stranded behind
    * the flip and pruned. Copy, not rename: the superseded generation
    * keeps its full file set, so a probe that planned against it
    * mid-fold never hits FileNotFound (the prune grace window's
    * guarantee). A crash between the copy and the flip re-folds the
    * old generation — including the already-copied file, whose rows
    * then sit in both the partitions and the fresh staging — which is
    * score-identical (MAX-idempotent re-rank, distinct'd candidates)
    * and compacted away by [[compactVersioned]].
    */
  def foldStaging(spark: org.apache.spark.sql.SparkSession,
                  path: String, keep: Int = 2): Unit = {
    val root = stagingRoot(path)
    if (Generations.current(spark, root).isEmpty) return
    val live = Generations.livePath(spark, root)
    foldStagingSnapshot(spark, path, live, dataFiles(spark, live), keep)
  }

  /** The fold body over an explicit staging-file snapshot — split out
    * so the snapshot-vs-flip race window is testable (the spec hands
    * in a deliberately stale snapshot).
    */
  private[graft] def foldStagingSnapshot(
      spark: org.apache.spark.sql.SparkSession, path: String, live: String,
      snapshot: Seq[org.apache.hadoop.fs.Path], keep: Int = 2): Unit = {
    val root = stagingRoot(path)
    if (snapshot.nonEmpty) {
      val s = spark.read.parquet(snapshot.map(_.toString): _*).persist()
      s.select("bucket", "doc_id").distinct()
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$path/postings")
      // FULL-ROW dedup: a replayed buffered append (or the re-fold
      // after a crash mid-fold) staged bit-identical rows twice —
      // collapse those (pure bloat). Deduping on token identity alone
      // would instead pick an ARBITRARY row when an out-of-contract
      // caller staged conflicting payloads for one (doc, tok, vec) —
      // making post-fold scores depend on scan order; full-row keeps
      // both conflicting rows, so the MAX-idempotent re-rank resolves
      // them the same way before and after the fold (q192's
      // fold-timing-never-moves-a-bit invariant, under errors too)
      s.select("dbucket", "doc_id", "tok", "vec_id", "ei", "nn")
        .dropDuplicates()
        .repartition(col("dbucket"))
        .write.mode("append").partitionBy("dbucket").parquet(s"$path/toks")
      s.unpersist()
      ()
    }
    val next = Generations.nextPath(spark, root)
    val nextP = new org.apache.hadoop.fs.Path(next)
    val fs = nextP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(nextP)
    // carry any post-snapshot racing append into the fresh generation
    // BEFORE the flip (see scaladoc); overwrite=true makes the copy
    // idempotent under a crash-refold
    val snapNames = snapshot.map(_.getName).toSet
    dataFiles(spark, live).filterNot(f => snapNames(f.getName)).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
        new org.apache.hadoop.fs.Path(nextP, f.getName),
        false, true, spark.sparkContext.hadoopConfiguration)
      ()
    }
    Generations.publish(spark, root, next)
    Generations.prune(spark, root, keep)
  }

  /** Probe a stored index: (1) the query tokens' distinct buckets
    * (bounded driver read #1, <= distinct query-token buckets) prune
    * the postings read to exactly those partitions -> candidate docs;
    * (2) the candidates' distinct doc-hash buckets (bounded driver
    * read #2, <= dBuckets values) prune the token read; (3) the
    * shared exact re-rank tail scores the shortlist bit-identically
    * to [[scoreLshPruned]]. No corpus-side quantization at probe
    * time — `ei`/`nn` come off the index. `multiProbe` expands the
    * query bucket list exactly as [[scoreLshPruned]]'s does (the
    * stored postings layout is untouched — multi-probe only reads
    * more partitions). Staged-but-unfolded rows
    * ([[appendIndexBufferedQuantized]]) join both the shortlist and the
    * re-rank — a buffered doc is retrievable the moment its append
    * returns, and a doc visible in BOTH staging and the partitions
    * (the fold's grace window) scores identically (MAX-idempotent
    * re-rank over a distinct'd candidate set).
    */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  queryToks: DataFrame, k: Int, nPlanes: Int, dims: Int,
                  dBuckets: Int = 64, multiProbe: Int = 0): DataFrame =
    searchIndexQuantized(spark, path,
      quantized(queryToks).localCheckpoint(true), k, nPlanes, dims,
      dBuckets, multiProbe)

  /** [[searchIndex]] over an ALREADY-quantized query bag — the
    * [[quantizeBag]] frame, which the caller should `localCheckpoint`
    * (it is read three times: bucket collect, re-rank broadcast, and
    * whatever action the caller runs on the result). The streaming
    * intake quantizes each batch once and feeds the same frame here
    * and to [[appendIndexBufferedQuantized]].
    *
    * Probe cost discipline (the r13 chain was PROBE-bound at ~5.3 s
    * per batch): the postings layer is scanned exactly ONCE — the
    * candidate-doc shortlist materializes eagerly via
    * `localCheckpoint` with its doc-hash bucket attached, so the
    * second bounded driver read (the dbucket list) and the re-rank's
    * candidate joins all reuse the materialized shortlist instead of
    * re-running the postings scan (the previous shape paid it up to
    * three times: dbucket collect, toks join, and the caller's
    * action). The checkpoint is O(shortlist doc ids) — the frame
    * every later stage filters by, never corpus-sized unless the
    * query's buckets genuinely cover the corpus.
    */
  /** Bounded driver read: the distinct (multi-)probe buckets of a
    * quantized query bag — empty iff the bag is empty, so a streaming
    * attach point can read batch emptiness off the same job that
    * prunes the postings scan ([[graft.streaming.MaxSimStream]]).
    */
  private[graft] def queryBuckets(qQ: DataFrame, nPlanes: Int, dims: Int,
                                  multiProbe: Int = 0): Array[Int] =
    qQ.select(explode(probeBucketsCol(nPlanes, dims, multiProbe)).as("bl"))
      .select(col("bl").cast("int").as("b"))
      .distinct().collect().map(_.getInt(0))

  def searchIndexQuantized(spark: org.apache.spark.sql.SparkSession,
                           path: String, qQ: DataFrame, k: Int,
                           nPlanes: Int, dims: Int, dBuckets: Int = 64,
                           multiProbe: Int = 0): DataFrame =
    searchIndexQuantizedPre(spark, path, qQ,
      queryBuckets(qQ, nPlanes, dims, multiProbe), k, dBuckets)

  /** [[searchIndexQuantized]] with the probe buckets ALREADY collected
    * ([[queryBuckets]]) — the streaming intake reads them once for the
    * emptiness check and the probe shares the same values instead of
    * paying a second bounded driver job per micro-batch.
    */
  private[graft] def searchIndexQuantizedPre(
      spark: org.apache.spark.sql.SparkSession, path: String,
      qQ: DataFrame, qBuckets: Array[Int], k: Int,
      dBuckets: Int = 64): DataFrame = {
    // staging is byte-bounded (foldBytes + one batch), so a
    // checkpoint here is small and saves re-reading the staging file
    // in each of the three places it joins below. LAZY: the shortlist
    // materialization below is its first action and caches it in the
    // same job (r16 — one fewer job per probe)
    val staged = stagedRows(spark, path).map(_.localCheckpoint(false))
    // a staging-only index is legal: a buffered append on a path
    // never written by writeIndex creates no partitioned dirs until
    // the first fold, and "retrievable the moment the append returns"
    // must hold there too — so the partitioned reads are data-probed
    // like every incrementally-written store in this engine
    val mainExists = Generations.hasData(spark, s"$path/postings")
    require(mainExists || staged.isDefined,
      s"no index at $path: neither partitions nor staged appends")
    val candMain =
      if (mainExists) Some(spark.read.parquet(s"$path/postings")
        .where(col("bucket").isin(qBuckets.map(Integer.valueOf): _*))
        .select("doc_id"))
      else None
    val candStaged = staged.map(
      _.where(col("bucket").isin(qBuckets.map(Integer.valueOf): _*))
        .select("doc_id"))
    // LAZY checkpoint: the bounded driver read right below is the
    // shortlist's first action and materializes it (and the staged
    // snapshot above) in the same job — the re-rank joins then reuse
    // the cached blocks, still never re-running the postings scan
    val candDocs = (candMain.toSeq ++ candStaged.toSeq)
      .reduce(_ unionByName _).distinct()
      .withColumn("__db", dbucketCol(col("doc_id"), dBuckets))
      .localCheckpoint(false)
    // bounded driver read #2: <= dBuckets values, off the checkpointed
    // shortlist — no second postings scan
    val candDb = candDocs.select("__db")
      .distinct().collect().map(_.getInt(0))
    val candIds = candDocs.select("doc_id")
    // probed separately from postings: a crash between the fold's two
    // partitioned writes can leave postings without toks — those
    // docs' vectors are still in staging (the flip hasn't happened)
    val corpusMain =
      if (Generations.hasData(spark, s"$path/toks"))
        Some(spark.read.parquet(s"$path/toks")
          .where(col("dbucket").isin(candDb.map(Integer.valueOf): _*))
          .join(candIds, "doc_id")
          .select("doc_id", "tok", "vec_id", "ei", "nn"))
      else None
    val corpusStaged = staged.map(
      _.join(candIds, "doc_id")
        .select("doc_id", "tok", "vec_id", "ei", "nn"))
    val corpusParts = corpusMain.toSeq ++ corpusStaged.toSeq
    require(corpusParts.nonEmpty,
      s"$path/toks missing with no staging: torn unversioned writeIndex" +
        " — rebuild the index (Generations roots cannot reach this state)")
    val corpusQ = corpusParts.reduce(_ unionByName _)
    rerank(corpusQ, qQ, k)
  }

  /** [[writeIndex]] into the next [[Generations]] slot under `root`,
    * pointer-flipped — rebuilds never disturb an in-flight probe.
    * Probe via `searchIndex(spark, Generations.livePath(spark, root),
    * ...)`.
    */
  def writeIndexVersioned(docToks: DataFrame, root: String, nPlanes: Int,
                          dims: Int, dBuckets: Int = 64): String = {
    val spark = docToks.sparkSession
    val gen = Generations.nextPath(spark, root)
    writeIndex(docToks, gen, nPlanes, dims, dBuckets)
    Generations.publish(spark, root, gen)
    gen
  }

  /** Maintenance compaction into a new generation: postings are
    * re-distincted (appends can re-add a (bucket, doc_id) pair) and
    * buckets holding more than `maxBucketDocs` docs are DROPPED —
    * the bucket-cap discipline of [[Dedup.lshCandidatePairs]]. A
    * flooded bucket is boilerplate (at 2^nPlanes buckets over a
    * healthy corpus each holds ~n/2^nPlanes docs; one holding a large
    * corpus fraction means a degenerate token direction), and every
    * query colliding with it would drag the whole cluster through the
    * exact re-rank.
    * Capping drops only that bucket's POSTINGS: a capped doc stays
    * findable through its other tokens' buckets, and its token
    * vectors stay in `toks` for re-ranks it still qualifies for.
    * The cap is maintenance-only (OFF in [[writeIndex]]) because the
    * capped shortlist deliberately diverges from [[scoreLshPruned]]'s
    * uncapped contract — production recall/cost tradeoff, not the
    * oracle path. `toks` is full-row deduped and rewritten (file
    * compaction after many O(batch) appends; the dedup also clears
    * the bit-identical duplicate rows a crashed [[foldStaging]] left
    * — score-identical until then, pure bloat after — while
    * conflicting same-token payloads from out-of-contract callers
    * keep BOTH rows, resolving under MAX exactly as they did
    * pre-compact). The live generation's STAGED rows fold into the new
    * generation too — a compact must never lose buffered docs — and
    * the new generation starts with empty staging. Returns the new
    * live generation.
    */
  def compactVersioned(spark: org.apache.spark.sql.SparkSession,
                       root: String, maxBucketDocs: Long = 100000L,
                       keep: Int = 2): String = {
    val live = Generations.livePath(spark, root)
    val gen = Generations.nextPath(spark, root)
    val staged = stagedRows(spark, live)
    val w = Window.partitionBy("bucket")
    val postingsAll = staged
      .map(st => spark.read.parquet(s"$live/postings")
        .select("bucket", "doc_id")
        .unionByName(st.select(col("bucket").cast("int"), col("doc_id"))))
      .getOrElse(spark.read.parquet(s"$live/postings")
        .select("bucket", "doc_id"))
    val kept = postingsAll.distinct()
      .withColumn("_n", count(lit(1)).over(w))
      .where(col("_n") <= maxBucketDocs)
      .drop("_n")
      .persist()
    // an all-boilerplate index (every bucket over the cap) must fail
    // LOUDLY here, not publish a generation whose empty postings dir
    // cannot even be schema-inferred by a later probe
    require(kept.limit(1).count() > 0,
      s"bucket cap $maxBucketDocs drops every posting under $live — " +
        "cap too low or the index is all boilerplate")
    // repartition on the write key: each partition directory lands as
    // ONE file, undoing the O(batch)-append file accumulation — that
    // file-count reset, not the posting dedup, is most of the probe
    // recovery (r11 measured: streaming toks as-is left the
    // post-compact probe ~3x the fresh-build probe)
    kept.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$gen/postings")
    kept.unpersist()
    val toksCols = Seq("dbucket", "doc_id", "tok", "vec_id", "ei", "nn")
    val toksAll = staged
      .map(st => spark.read.parquet(s"$live/toks")
        .select(toksCols.map(col): _*)
        .unionByName(st.select(toksCols.map(col): _*)))
      .getOrElse(spark.read.parquet(s"$live/toks").select(toksCols.map(col): _*))
    toksAll
      .dropDuplicates() // full-row: see foldStaging on why not identity
      .repartition(col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket")
      .parquet(s"$gen/toks")
    Generations.publish(spark, root, gen)
    Generations.prune(spark, root, keep)
    gen
  }

  /** Outcome of one [[maintain]] tick. */
  final case class MaintenanceReport(maxBucketDocs: Long, dupPostings: Long,
                                     compacted: Boolean)

  /** The compaction cadence: probe the live
    * generation's postings health in ONE aggregation — the largest
    * bucket's doc count (boilerplate flooding) and the duplicate
    * (bucket, doc_id) volume appends accrued — and run
    * [[compactVersioned]] only when either passes its trip point. A
    * healthy tick costs one postings scan and touches nothing.
    * Staged-but-unfolded postings count toward BOTH signals: a
    * replayed unguarded ingest that landed in staging is the same
    * residue the cadence owns, it just hasn't paid its fold yet
    * (staging is byte-bounded, so the extra scan is too).
    */
  def maintain(spark: org.apache.spark.sql.SparkSession, root: String,
               maxBucketDocs: Long = 100000L, maxDupPostings: Long = 0L,
               keep: Int = 2): MaintenanceReport = {
    val live = Generations.livePath(spark, root)
    val main = spark.read.parquet(s"$live/postings")
      .select(col("bucket").cast("int").as("bucket"), col("doc_id"))
    val all = stagedRows(spark, live)
      .map(st => main.unionByName(
        st.select(col("bucket").cast("int").as("bucket"), col("doc_id"),
            col("aid")).distinct()
          .select("bucket", "doc_id")))
      .getOrElse(main)
    val h = all
      .groupBy("bucket", "doc_id").agg(count(lit(1)).as("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("docs"), sum(col("n") - 1).as("dups"))
      .agg(max("docs"), sum("dups")).head()
    val (mx, dups) =
      (if (h.isNullAt(0)) 0L else h.getLong(0),
        if (h.isNullAt(1)) 0L else h.getLong(1))
    if (mx <= maxBucketDocs && dups <= maxDupPostings)
      MaintenanceReport(mx, dups, compacted = false)
    else {
      compactVersioned(spark, root, maxBucketDocs, keep)
      MaintenanceReport(mx, dups, compacted = true)
    }
  }

  // ---------------------------------------------------------------
  // DuckDB oracle rendering. `quantCtePrefix` must define flat
  // (vec_id, i, v) and norms (vec_id, nn) — VectorQueries' shared
  // quantCte. Scores replay the integer micro-cosine convention.
  // ---------------------------------------------------------------

  /** CTEs computing exact MaxSim top-k. `qPred` renders the
    * query-side membership predicate given a vec_id expression
    * (e.g. `v => s"$v // 4 < 3"`). Emits (q_doc, rnk, doc_id,
    * score_micro).
    */
  def exactSql(m: Int, k: Int, qPred: String => String): String =
    s"""qdots AS (SELECT q.vec_id AS qv, c.vec_id AS cv, SUM(q.v * c.v) AS dot
          FROM flat q JOIN flat c ON c.i = q.i
            AND (${qPred("q.vec_id")}) AND c.vec_id // $m <> q.vec_id // $m
          GROUP BY 1, 2),
        qsims AS (SELECT qv, cv,
            CAST(round(CAST(dot AS DOUBLE) /
              (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
              * 1000000) AS BIGINT) AS sim_micro
          FROM qdots d JOIN norms nq ON nq.vec_id = d.qv
            JOIN norms nc ON nc.vec_id = d.cv),
        tokmax AS (SELECT qv, cv // $m AS doc_id, MAX(sim_micro) AS mx
          FROM qsims GROUP BY 1, 2),
        score AS (SELECT qv // $m AS q_doc, doc_id,
            CAST(SUM(mx) AS BIGINT) AS score_micro
          FROM tokmax GROUP BY 1, 2),
        ranked AS (SELECT q_doc, doc_id, score_micro,
            CAST(ROW_NUMBER() OVER (PARTITION BY q_doc
              ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk
          FROM score)
        SELECT q_doc, rnk, doc_id, score_micro FROM ranked
        WHERE rnk <= $k ORDER BY q_doc, rnk"""

  /** CTEs for the LSH-pruned path: plane weights from md5 (the q49
    * convention), doc-level candidate shortlist, exact re-rank on
    * shortlisted docs only. `multiProbe` > 0 replays
    * [[probeBucketsCol]]'s query-side expansion: per query token,
    * also probe the buckets reached by flipping its `multiProbe`
    * least-confident plane bits (|dot| asc, plane asc). `cPred`
    * restricts the CORPUS side (shortlist and re-rank alike) — the
    * streaming twin's "index as of the previous batch" replay
    * (q187); the default TRUE is the whole-table corpus the batch
    * queries use.
    */
  def lshPrunedSql(m: Int, k: Int, qPred: String => String, nPlanes: Int,
                   dims: Int, multiProbe: Int = 0,
                   cPred: String => String = _ => "TRUE"): String = {
    val qbCte =
      if (multiProbe <= 0)
        s"""qb AS (SELECT DISTINCT b FROM bucket WHERE
          (${qPred("vec_id")}))"""
      else
        s"""qflips AS (SELECT vec_id, p,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY abs(dp), p) AS r
          FROM pdots WHERE (${qPred("vec_id")})),
        qb AS (SELECT DISTINCT b FROM (
          SELECT b FROM bucket WHERE (${qPred("vec_id")})
          UNION ALL
          SELECT xor(bk.b, (1::BIGINT << f.p)) AS b
          FROM bucket bk JOIN qflips f
            ON f.vec_id = bk.vec_id AND f.r <= $multiProbe))"""
    s"""planes AS (SELECT p, d,
            ('0x' || substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 4))::BIGINT
              - 32768 AS wt
          FROM (SELECT unnest(range(0, $nPlanes)) AS p),
               (SELECT unnest(range(0, $dims)) AS d)),
        pdots AS (SELECT f.vec_id, pl.p, SUM(f.v * pl.wt) AS dp
          FROM flat f JOIN planes pl ON pl.d = f.i - 1
          GROUP BY 1, 2),
        bucket AS (SELECT vec_id,
            CAST(SUM(CASE WHEN dp > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS b
          FROM pdots GROUP BY 1),
        $qbCte,
        cand AS (SELECT DISTINCT c.vec_id // $m AS doc_id
          FROM bucket c JOIN qb ON qb.b = c.b
          WHERE (${cPred("c.vec_id")})),
        qdots AS (SELECT q.vec_id AS qv, c.vec_id AS cv, SUM(q.v * c.v) AS dot
          FROM flat q JOIN flat c ON c.i = q.i
            AND (${qPred("q.vec_id")}) AND c.vec_id // $m <> q.vec_id // $m
            AND (${cPred("c.vec_id")})
          JOIN cand ON cand.doc_id = c.vec_id // $m
          GROUP BY 1, 2),
        qsims AS (SELECT qv, cv,
            CAST(round(CAST(dot AS DOUBLE) /
              (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
              * 1000000) AS BIGINT) AS sim_micro
          FROM qdots d JOIN norms nq ON nq.vec_id = d.qv
            JOIN norms nc ON nc.vec_id = d.cv),
        tokmax AS (SELECT qv, cv // $m AS doc_id, MAX(sim_micro) AS mx
          FROM qsims GROUP BY 1, 2),
        score AS (SELECT qv // $m AS q_doc, doc_id,
            CAST(SUM(mx) AS BIGINT) AS score_micro
          FROM tokmax GROUP BY 1, 2),
        ranked AS (SELECT q_doc, doc_id, score_micro,
            CAST(ROW_NUMBER() OVER (PARTITION BY q_doc
              ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk
          FROM score)
        SELECT q_doc, rnk, doc_id, score_micro FROM ranked
        WHERE rnk <= $k ORDER BY q_doc, rnk"""
  }
}
