package graft.queries

import graft.ops.{ChangeCapture, Contamination, Packing, QualitySignals, SegmentDedup, TextAnalysis, UrlOps}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, SparkBridge}
import org.apache.spark.sql.types.LongType

/** Training-data pipeline surface, round 3: repetition quality
  * signals, benchmark decontamination, URL/domain provenance
  * filtering, sequence packing, and snapshot differencing (batch
  * CDC). Each query is oracle-checked against DuckDB on the same
  * fixtures; the URL fixture column is derived deterministically from
  * (lang, doc_id) since the corpus has no natural URL column.
  */
object PipelineQueries {

  /** SQL token-array expression shared by Spark `expr` fragments. */
  private val tkSql = "split(lower(trim(text)), '\\\\s+')"

  val queries: Map[String, Q] = Map(
    // Gopher-style repetition signals over 2-grams: repeated-gram
    // fraction + most-dominant-gram share, computed narrowly per row
    "q85_repetition_metrics" -> ((s, dir) => {
      QualitySignals.repetitionMetrics(t(s, dir, "documents"),
          "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),

    // decontamination: corpus docs sharing any verbatim 5-gram with
    // the benchmark set (every 50th doc); planted truncated copies of
    // the benchmark docs guarantee real hits. Benchmark side broadcast.
    "q86_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.where(col("doc_id") % 50 === 0).select("doc_id", "text")
      val corpus = d.where(col("doc_id") % 50 =!= 0).select("doc_id", "text")
        .unionAll(bench.select((col("doc_id") + 1000000L).as("doc_id"),
          expr(s"concat_ws(' ', slice($tkSql, 1, greatest((size($tkSql) * 4) div 5, 1)))")
            .as("text")))
      Contamination.check(corpus, bench, "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    // URL provenance filter over a deterministic synthetic URL:
    // host + apex-domain extraction, apex blocklist drop
    "q87_url_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("lang"), lit(".site-"),
          (col("doc_id") % 20).cast("string"), lit(".com/p/"),
          col("doc_id").cast("string")))
      UrlOps.filterBlocked(d, "url", Seq("site-3.com", "site-7.com", "site-13.com"))
        .select("doc_id", "url", "host", "apex")
        .orderBy("doc_id")
    }),

    // sequence packing: concat-then-chunk the per-language token
    // stream into 2048-token training blocks (start block + offset)
    "q88_sequence_packing" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Packing.packTokenStream(d, "lang", "doc_id", "n_tokens", blockTokens = 2048L)
        .select("doc_id", "lang", "n_tokens", "start_block", "block_offset")
        .orderBy("lang", "doc_id")
    }),

    // snapshot diff (batch CDC): old = corpus; new drops every 13th
    // doc, revises every 11th, appends copies of every 17th (+3M ids)
    "q89_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val oldSnap = d.select("doc_id", "text")
      val newSnap = d.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionAll(d.where(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" [new]")).as("text")))
      ChangeCapture.snapshotDiff(oldSnap, newSnap, Seq("doc_id"), Seq("text"))
        .orderBy("doc_id")
    }),

    // sub-document dedup: 10-token segments, global first-occurrence
    // keeper, docs reassembled from surviving segments. The trunc
    // copies (+1M ids) share their leading segments with the
    // originals, so the plant is detected segment-by-segment.
    "q90_segment_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.select("doc_id", "text")
        .unionAll(d.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            expr(s"concat_ws(' ', slice($tkSql, 1, greatest((size($tkSql) * 4) div 5, 1)))")
              .as("text")))
      SegmentDedup.dedupSegments(corpus, "doc_id", "text", segTokens = 10)
        .orderBy("doc_id")
    }),

    // model-based quality filter: unigram-LM negative log-likelihood
    // per document (the KenLM-perplexity-filter shape, unigram order).
    // Vocabulary counts broadcast; exact integer micro-units rounded
    // per (doc, term) exactly like q78's tf-idf convention.
    "q91_unigram_nll" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val toks = d.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val vocab = tf.groupBy("tok").agg(sum("tf").as("cnt"))
      val nTot = toks.agg(count(lit(1)).as("n_total"))
      tf.join(broadcast(vocab), "tok").crossJoin(nTot)
        .withColumn("nll_micro",
          round(col("tf") * log(col("n_total").cast("double") / col("cnt").cast("double"))
            * lit(1000000.0)).cast(LongType))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_tokens"), sum("nll_micro").as("nll_micro"))
        .withColumn("nll_per_tok_micro", expr("nll_micro DIV n_tokens"))
        .orderBy("doc_id")
    }),

    // bigram-LM quality score — the KenLM-perplexity-filter shape one
    // order up from q91: interpolated p(w|w') = 0.75·c2/cp + 0.25·c1/N
    // (no OOV: scoring the counting corpus), per-doc NLL in exact
    // micro-nats with q91's per-(doc, gram) rounding convention. All
    // joins key on the gram/term; counts partial-aggregate map-side.
    "q158_bigram_nll" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), expr(tkSql).as("tk"))
        .where(expr("size(tk) >= 2"))
      val bg = d.select(col("doc_id"), explode(expr(
          "transform(sequence(2, size(tk))," +
            " i -> struct(tk[i-2] AS w1, tk[i-1] AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val toks = d.select(col("doc_id"), explode(col("tk")).as("w"))
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val cp = bg.groupBy("w1").agg(count(lit(1)).as("cp"))
      val c1 = toks.groupBy("w").agg(count(lit(1)).as("c1"))
      val nTot = toks.agg(count(lit(1)).as("n_total"))
      val tf2 = bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
      tf2.join(c2, Seq("w1", "w2")).join(cp, Seq("w1"))
        .join(c1, col("w2") === col("w")).crossJoin(nTot)
        .withColumn("nm", expr(
          "CAST(round(tf * -ln(0.75 * (CAST(c2 AS DOUBLE) / CAST(cp AS DOUBLE))" +
            " + 0.25 * (CAST(c1 AS DOUBLE) / CAST(n_total AS DOUBLE)))" +
            " * 1000000) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_bigrams"), sum("nm").as("nll_micro"))
        .withColumn("nll_per_bigram_micro", expr("nll_micro DIV n_bigrams"))
        .orderBy("doc_id")
    }),

    // lexical entropy quality signal: per-doc unigram Shannon entropy
    // in micro-nats/token + type-token ratio — low-entropy docs are
    // machine-generated/keyword-stuffed. NARROW like q85: one in-row
    // run-length scan over sorted tokens, zero shuffles (q91's
    // corpus-wide NLL needs the global vocab; this is the per-doc
    // complement that runs inside the scan).
    "q128_lexical_entropy" -> ((s, dir) => {
      QualitySignals.lexicalEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // corpus shape report: document token-count histogram in
    // 8-token buckets (one tiny aggregation over the corpus)
    "q92_token_histogram" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("bucket", expr("n_tokens DIV 8"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))
        .select(col("bucket"), (col("bucket") * 8).as("lo"),
          (col("bucket") * 8 + 7).as("hi"), col("n_docs"),
          col("sum_tokens"), col("min_tokens"), col("max_tokens"))
        .orderBy("bucket")
    }),

    // quantile sketch with the q35 accuracy-contract pattern: exact
    // percentiles (true differential check) + a boolean asserting the
    // GK sketch landed within tolerance — the oracle expects TRUE, so
    // a broken sketch integration fails the hash compare
    "q94_approx_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("p50_exact"),
          expr("percentile(l_quantity, 0.9)").as("p90_exact"),
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("a50"),
          expr("approx_percentile(l_quantity, 0.9, 10000)").as("a90"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("p50_exact"), col("p90_exact"),
          col("n"),
          (abs(col("a50") - col("p50_exact")) <= lit(1.0) &&
            abs(col("a90") - col("p90_exact")) <= lit(1.0)).as("sketch_within_1"))
        .orderBy("l_returnflag")
    }),

    // per-doc n-gram novelty: the fraction of a document's distinct
    // 3-grams that are corpus SINGLETONS (df = 1) — high novelty =
    // fresh content, low = boilerplate/template/near-dup residue; the
    // inverse lens on q100's df statistics, as a per-doc signal. One
    // gram explode + one df aggregation + one join back; exact milli.
    "q149_gram_novelty" -> ((s, dir) => {
      val g = t(s, dir, "documents")
        .select(col("doc_id"), expr(tkSql).as("tk"))
        .where(expr("size(tk) >= 3"))
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, size(tk) - 2)," +
            " i -> concat_ws(' ', slice(tk, i, 3))))")).as("sh"))
      val df = g.groupBy("sh").agg(count(lit(1)).as("df"))
      g.join(df, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_singleton"))
        .withColumn("novelty_milli",
          expr("n_singleton * 1000 DIV n_grams"))
        .orderBy("doc_id")
    }),

    // per-group quantile winsorization: clamp a heavy-tailed metric
    // to its group's exact [p05, p95] — the outlier-capping step of a
    // feature-cleaning pipeline. Exact interpolated percentiles
    // (q94's percentile ≡ quantile_cont parity), broadcast bounds,
    // exact long sums of the clamped values; n_low/n_high audit how
    // much each tail was cut. At 100 TB swap the exact percentile for
    // the KLL sketch (q119) at equal plan shape.
    "q148_winsorize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      val bounds = li.groupBy("l_returnflag")
        .agg(expr("percentile(cents, 0.05)").as("p05"),
          expr("percentile(cents, 0.95)").as("p95"))
      li.join(broadcast(bounds), "l_returnflag")
        .withColumn("clamped", expr(
          "CAST(round(least(greatest(CAST(cents AS DOUBLE), p05), p95)) AS BIGINT)"))
        .groupBy("l_returnflag")
        .agg(expr("CAST(round(MAX(p05)) AS BIGINT)").as("p05_r"),
          expr("CAST(round(MAX(p95)) AS BIGINT)").as("p95_r"),
          expr("CAST(SUM(CASE WHEN CAST(cents AS DOUBLE) < p05 THEN 1 ELSE 0 END) AS BIGINT)").as("n_low"),
          expr("CAST(SUM(CASE WHEN CAST(cents AS DOUBLE) > p95 THEN 1 ELSE 0 END) AS BIGINT)").as("n_high"),
          sum("clamped").as("sum_clamped"))
        .orderBy("l_returnflag")
    }),

    // deterministic priority sampling: uniform k-per-group without
    // replacement via content-addressed md5 priorities (reproducible
    // on any engine/partitioning — the distributed replacement for a
    // seeded RNG reservoir). One shuffle on the group key; for huge
    // groups, pre-filter with an approximate priority threshold
    // before the exact rank.
    "q95_priority_sample" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy(col("pri"), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("pri",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast(LongType))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .where(col("rn") <= 20)
        .select("lang", "rn", "doc_id")
        .orderBy("lang", "rn")
    }),

    // KLL quantile sketch (functions/Kll — native
    // TypedImperativeAggregate over Datasketches KLL): the mergeable
    // quantile path beside q94's GK approx_percentile. Exact
    // `percentile` values are the differential check (q94 pattern);
    // the sketch's contract is a boolean — its q-quantile estimate
    // must land between the EXACT quantiles at q∓0.03, i.e. within
    // the sketch's ~1.65% normalized rank error with margin. Prices
    // go through cent-exact longs first (dec idiom).
    "q119_kll_quantiles" -> ((s, dir) => {
      import graft.functions.Kll
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          (dec(col("l_extendedprice")) * 100).cast(LongType).as("cents"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          expr("percentile(cents, 0.5)").as("p50_exact"),
          expr("percentile(cents, 0.95)").as("p95_exact"),
          expr("percentile(cents, 0.47)").as("p50_lo"),
          expr("percentile(cents, 0.53)").as("p50_hi"),
          expr("percentile(cents, 0.92)").as("p95_lo"),
          expr("percentile(cents, 0.98)").as("p95_hi"),
          Kll.sketchAgg(col("cents")).as("sk"))
        .select(col("l_returnflag"), col("n"), col("p50_exact"),
          col("p95_exact"),
          (Kll.quantileUdf(col("sk"), lit(0.5))
              .between(col("p50_lo"), col("p50_hi")) &&
            Kll.quantileUdf(col("sk"), lit(0.95))
              .between(col("p95_lo"), col("p95_hi")))
            .as("kll_within_rank_eps"))
        .orderBy("l_returnflag")
    }),

    // the FineWeb-style composite gate: length + repetition + LM
    // signals joined per doc, each with its own verdict column so the
    // gate is auditable (which filter fired), `keep` = all pass.
    // Thresholds are corpus-relative constants; the oracle replays
    // the identical computation, so the comparison is exact at any SF.
    // declarative data-quality constraint suite (the Deequ shape):
    // five single-table rules lowered into ONE aggregation pass over
    // orders + referential integrity vs customer as one left join —
    // a verdict row per rule, exact-integer milli fractions, one rule
    // (the price range) deliberately violated so the fail path is
    // exercised end to end
    "q132_expectations" -> ((s, dir) => {
      import graft.ops.Expectations._
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      evaluate(o, Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 300000.0),
        InSet("o_orderstatus", Seq("O", "F", "P")),
        RowCount(1L, 100000000L)))
        .unionByName(foreignKey(o, "o_custkey", c, "c_custkey"))
        .orderBy("rule", "col_name")
    }),

    // sliding-window chunking: overlapping 32-token windows at stride
    // 24 (8 tokens of context overlap) per document — the retrieval/
    // embedding indexing shape; all in-row (inline over transform/
    // slice), zero shuffles. Every chunk carries provenance
    // (chunk_idx, start_tok, n_tok_chunk) for lossless reassembly.
    "q143_sliding_chunks" -> ((s, dir) => {
      Packing.chunkTokens(t(s, dir, "documents"), "doc_id", tkSql,
          size = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    }),

    // incremental rollup maintenance: the per-(day, event_type)
    // aggregate table maintained by folding THREE disjoint ingest
    // batches (split by user_id % 3, so every batch touches every
    // day and the merge path genuinely runs) — never a rescan of
    // prior batches. The oracle recomputes the same rollup as one
    // GROUP BY over all events: the maintained table must equal the
    // from-scratch aggregation exactly (mergeable-measure algebra).
    "q141_incremental_rollup" -> ((s, dir) => {
      import graft.ops.IncrementalAgg
      val e = events(s, dir).select(
        to_date(col("ts")).cast("string").as("day"),
        col("event_type"), col("user_id"),
        expr("CAST(round(value * 1000.0) AS BIGINT)").as("v_milli"))
      val path = SparkBridge.tempDir("graft_q141")
        .resolve("rollup").toString
      val keys = Seq("day", "event_type")
      val ms = Seq(IncrementalAgg.count("n_events"),
        IncrementalAgg.sum("v_milli", "sum_v_milli"),
        IncrementalAgg.min("v_milli", "min_v_milli"),
        IncrementalAgg.max("v_milli", "max_v_milli"))
      (0 to 2).foreach { i =>
        IncrementalAgg.updateTable(s, path,
          e.where(col("user_id") % 3 === i), keys, ms, "day")
      }
      s.read.parquet(path)
        .withColumn("avg_v_milli", expr(
          "CAST(round(CAST(sum_v_milli AS DOUBLE)" +
            " / CAST(n_events AS DOUBLE)) AS BIGINT)"))
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("n_events"), col("sum_v_milli"), col("min_v_milli"),
          col("max_v_milli"), col("avg_v_milli"))
        .orderBy("day", "event_type")
    }),

    // STREAMING rollup maintenance, oracle-gated (round 12, the q187
    // pattern): a REAL MemoryStream -> foreachBatch loop drives
    // RollupStream over three micro-batches (q141's user_id % 3
    // split) of the event_id % 17 slice, maintaining the
    // per-(day, event_type) aggregate table; after the stream stops,
    // batch 1 is deliberately RE-DELIVERED through the BatchMarkers
    // guard. Unlike q187's score partitions (which a replay merely
    // rewrites), a COUNT/SUM fold is NOT idempotent — a broken guard
    // double-counts batch 1 and the oracle's one-shot GROUP BY
    // rejects the table outright, so this gate discriminates the
    // transactional-sink discipline itself.
    "q189_rollup_stream_intake" -> ((s, dir) => {
      import graft.ops.IncrementalAgg
      val e = events(s, dir)
        .where(col("event_id") % 17 === 0)
        .select(to_date(col("ts")).cast("string").as("day"),
          col("event_type"), col("user_id"),
          expr("CAST(round(value * 1000.0) AS BIGINT)").as("v_milli"))
      val path = SparkBridge.tempDir("graft_q189")
        .resolve("rollup").toString
      val ckpt = SparkBridge.tempDir("graft_q189_ck")
        .toString
      val keys = Seq("day", "event_type")
      val ms = Seq(IncrementalAgg.count("n_events"),
        IncrementalAgg.sum("v_milli", "sum_v_milli"),
        IncrementalAgg.min("v_milli", "min_v_milli"),
        IncrementalAgg.max("v_milli", "max_v_milli"))
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, String, Long)]
      val rows = mem.toDS().toDF("day", "event_type", "v_milli")
      val q = graft.streaming.RollupStream.start(rows, path, keys, ms,
        "day", ckpt)
      // ONE bounded driver read feeds the whole gate (r16): the % 17
      // slice (~200 rows/batch at sf0.01, ~2k at sf0.1) is collected
      // once with its user_id % 3 batch key and cut driver-side —
      // the three per-batch collects were three scans of the same
      // events slice. In-batch order is immaterial (the fold is one
      // partial aggregation), so slicing the single scan is
      // delivery-identical.
      val feed = e.withColumn("g", col("user_id") % 3)
        .select("g", "day", "event_type", "v_milli").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
      def batch(i: Int): Seq[(String, String, Long)] =
        feed.filter(_._1 == i.toLong).map(t => (t._2, t._3, t._4))
      try {
        (0 to 2).foreach { i => mem.addData(batch(i)); q.processAllAvailable() }
      } finally q.stop()
      // crash-after-commit redelivery of micro-batch 1: the marker
      // must skip it — double-counted sums fail the oracle hash
      val replayApplied = graft.streaming.RollupStream.applyBatch(
        e.where(col("user_id") % 3 === 1)
          .select("day", "event_type", "v_milli"),
        1L, path, keys, ms, "day")
      require(!replayApplied, "replay guard must skip an applied batch")
      s.read.parquet(path)
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("n_events"), col("sum_v_milli"), col("min_v_milli"),
          col("max_v_milli"))
        .orderBy("day", "event_type")
    }),

    // STREAMING SCD2, oracle-gated (round 12): the q155 dimension-
    // history build maintained over a real MemoryStream change
    // stream. The fold's cross-batch contract is per-key TIME
    // monotonicity, so the slice splits into three time terciles
    // (cutpoints from one bounded min/max read — equal timestamps
    // land on one side of a strict threshold, so no key's history
    // straddles a boundary out of order). After the stream stops,
    // batch 1 is re-delivered through the BatchMarkers guard: without
    // the marker skip the replay trips the fold's own late-data
    // require (the open intervals it folded have advanced), wedging
    // the query; with it the cumulative store equals the ONE-SHOT
    // scd2 over the whole slice, which the oracle recomputes.
    "q190_scd2_stream_intake" -> ((s, dir) => {
      val ev = events(s, dir).where(col("event_id") % 13 === 0)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      // ONE bounded driver read feeds the whole gate (r16): the % 13
      // slice (~250 rows/tercile at sf0.01, ~2.5k at sf0.1) is
      // collected once and cut driver-side — the min/max cut probe
      // and the three per-tercile collects were FOUR scans of the
      // same events slice. Guarded: the gate needs data in every
      // tercile to be exercising the fold at all.
      val feed = ev.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
      require(feed.nonEmpty, "q190: the event_id % 13 slice is empty")
      val (lo, hi) = (feed.map(_._2).min, feed.map(_._2).max)
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      val store = SparkBridge.tempDir("graft_q190")
        .resolve("scd2").toString
      val ckpt = SparkBridge.tempDir("graft_q190_ck")
        .toString
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String)]
      val rows = mem.toDS().toDF("user_id", "us", "event_id", "event_type")
      val q = graft.streaming.Scd2Stream.start(rows, store, "user_id",
        "us", "event_id", Seq("event_type"), ckpt, nBuckets = 16)
      // driver-side tercile cut of the one collected feed (within a
      // batch, event order is immaterial — the fold's documented
      // contract — so slicing the single scan is delivery-identical)
      def batch(a: Long, b: Long): Seq[(Long, Long, Long, String)] =
        feed.filter(t => t._2 >= a && t._2 < b)
      try {
        Seq((lo, c1), (c1, c2), (c2, hi + 1L)).foreach { case (a, b) =>
          val rows = batch(a, b)
          // non-empty terciles keep the replayed batch id meaningful
          // (empty batches ARE marked uniformly since round 13, but a
          // gate replaying an empty batch would be asserting nothing)
          require(rows.nonEmpty, s"q190: empty tercile [$a,$b)")
          mem.addData(rows); q.processAllAvailable()
        }
      } finally q.stop()
      val replayApplied = graft.streaming.BatchMarkers.applyOnce(s, store, 1L) {
        graft.streaming.Scd2Stream.applyBatch(s, store,
          ev.where(col("us") >= c1 && col("us") < c2), "user_id", "us",
          "event_id", Seq("event_type"), nBuckets = 16)
      }
      require(!replayApplied, "replay guard must skip an applied batch")
      // the feed is time-monotone by construction, so the round-13
      // late-data quarantine must have dead-lettered nothing
      val lateP = new org.apache.hadoop.fs.Path(s"$store/_latedata")
      require(!lateP.getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(lateP), "q190: monotone feed must not quarantine rows")
      s.read.parquet(store)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // STREAMING sub-document dedup, oracle-gated (round 12): the q90
    // build maintained over a MemoryStream document stream — three
    // ascending-doc_id batches (the monotone-ingest contract), with
    // q90's truncated plants (+1M ids) arriving in the LAST batch so
    // cross-batch suppression genuinely fires against the store.
    // Batch 1 is then re-delivered through the BatchMarkers guard:
    // the segment STORE tolerates a replay, but reassemble emits a
    // per-doc totals row regardless of survivors, so an unguarded
    // replay appends a spurious (doc_id, n_segs, 0, null) row per
    // batch-1 document — duplicate doc_ids the one-shot oracle
    // rejects (the gap this gate caught; the guard landed with it).
    "q191_segment_dedup_stream" -> ((s, dir) => {
      val d = t(s, dir, "documents").where(col("doc_id") % 3 === 0)
        .select("doc_id", "text")
      val plants = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr(s"concat_ws(' ', slice($tkSql, 1, greatest((size($tkSql) * 4) div 5, 1)))")
            .as("text"))
      // bounded driver read: one max-id row for the range cuts
      val m = d.agg(max("doc_id")).head().getLong(0)
      val store = SparkBridge.tempDir("graft_q191")
        .resolve("store").toString
      val out = SparkBridge.tempDir("graft_q191_out")
        .resolve("clean").toString
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val rows = mem.toDS().toDF("doc_id", "text")
      val q = graft.streaming.SegmentDedupStream.start(rows, "doc_id",
        "text", 10, store, out, SparkBridge.tempDir("graft_q191_ck").toString)
      // bounded driver read: the % 3 slice is ~170 docs/batch at the
      // sf0.01 gate, ~1.7k at sf0.1 — fixture feed
      def batch(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
        df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      try {
        Seq(d.where(col("doc_id") <= m / 3),
            d.where(col("doc_id") > m / 3 && col("doc_id") <= 2 * m / 3),
            d.where(col("doc_id") > 2 * m / 3).unionAll(plants))
          .foreach { b => mem.addData(batch(b)); q.processAllAvailable() }
      } finally q.stop()
      val replayApplied = graft.streaming.BatchMarkers.applyOnce(s, out, 1L) {
        graft.streaming.SegmentDedupStream.applyBatch(
          d.where(col("doc_id") > m / 3 && col("doc_id") <= 2 * m / 3),
          "doc_id", "text", 10, store, out)
      }
      require(!replayApplied, "replay guard must skip an applied batch")
      s.read.parquet(out)
        .select("doc_id", "n_segs", "n_kept", "clean_fp")
        .orderBy("doc_id")
    }),

    // SCD2 LATE-DATA path, oracle-gated (round 13): q190's stream fed
    // OUT OF ORDER — terciles 1, 3, then 2, so every tercile-2 row
    // whose key already has a tercile-3 open interval QUARANTINES to
    // the _latedata dead-letter (stream stays alive; rows for
    // tercile-1-only keys fold on time). backfillQuarantine then
    // recomputes the affected keys' history from the full event log
    // and swaps exactly their buckets. The oracle is the ONE-SHOT
    // scd2 over the whole slice — a quarantine that lost a row, a
    // backfill that missed a collapsed re-assertion, or a drain that
    // touched the wrong buckets all fail the hash.
    "q194_scd2_backfill" -> ((s, dir) => {
      val ev = events(s, dir).where(col("event_id") % 19 === 0)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      // ONE bounded driver read feeds the whole gate (r16): slice
      // collected once, cut driver-side — was four scans (min/max
      // probe + three tercile collects) of the same events slice
      val feed = ev.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
      require(feed.nonEmpty, "q194: the event_id % 19 slice is empty")
      val (lo, hi) = (feed.map(_._2).min, feed.map(_._2).max)
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      val store = SparkBridge.tempDir("graft_q194")
        .resolve("scd2").toString
      val ckpt = SparkBridge.tempDir("graft_q194_ck")
        .toString
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String)]
      val rows = mem.toDS().toDF("user_id", "us", "event_id", "event_type")
      val q = graft.streaming.Scd2Stream.start(rows, store, "user_id",
        "us", "event_id", Seq("event_type"), ckpt, nBuckets = 16)
      // driver-side tercile cut of the one collected feed (in-batch
      // order immaterial — the fold's documented contract)
      def batch(a: Long, b: Long): Seq[(Long, Long, Long, String)] =
        feed.filter(t => t._2 >= a && t._2 < b)
      try {
        // tercile 2 delivered LAST — late for every key tercile 3 saw
        Seq((lo, c1), (c2, hi + 1L), (c1, c2)).foreach { case (a, b) =>
          val rs = batch(a, b)
          require(rs.nonEmpty, s"q194: empty tercile [$a,$b)")
          mem.addData(rs); q.processAllAvailable()
        }
      } finally q.stop()
      val lateP = new org.apache.hadoop.fs.Path(s"$store/_latedata")
      require(lateP.getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(lateP), "q194: the out-of-order feed must quarantine rows")
      val drained = graft.streaming.Scd2Stream.backfillQuarantine(s, store,
        ev, "user_id", "us", "event_id", Seq("event_type"), nBuckets = 16)
      require(drained > 0, "q194: backfill must drain the quarantine")
      s.read.parquet(store)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // SCD2 SELF-REPAIRING stream, oracle-gated (round 14): q194's
    // out-of-order feed again (terciles 1, 3, 2), but the stream owns
    // its whole repair loop — the attach point TEES each batch's raw
    // events to <store>/_eventlog (the backfill capture contract: a
    // deployment that only ran the stream has no other log) and runs
    // the quarantine drain INSIDE its own foreachBatch tick every 2nd
    // batch (the serialization backfillQuarantine's contract demands;
    // a drain racing a live fold would silently lose the fold). No
    // manual backfill call anywhere: the batch-id-2 tick quarantines
    // tercile 2 AND drains it from the tee in the same guard. The
    // oracle is the one-shot scd2 over the slice.
    "q195_scd2_stream_drain" -> ((s, dir) => {
      val ev = events(s, dir).where(col("event_id") % 23 === 0)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      // ONE bounded driver read feeds the whole gate (r16): slice
      // collected once, cut driver-side — was four scans (min/max
      // probe + three tercile collects) of the same events slice
      val feed = ev.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
      require(feed.nonEmpty, "q195: the event_id % 23 slice is empty")
      val (lo, hi) = (feed.map(_._2).min, feed.map(_._2).max)
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      val store = SparkBridge.tempDir("graft_q195")
        .resolve("scd2").toString
      val ckpt = SparkBridge.tempDir("graft_q195_ck")
        .toString
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String)]
      val rows = mem.toDS().toDF("user_id", "us", "event_id", "event_type")
      val q = graft.streaming.Scd2Stream.start(rows, store, "user_id",
        "us", "event_id", Seq("event_type"), ckpt, nBuckets = 16,
        teeEventLog = true, drainEvery = 2)
      // driver-side tercile cut of the one collected feed (in-batch
      // order immaterial — the fold's documented contract)
      def batch(a: Long, b: Long): Seq[(Long, Long, Long, String)] =
        feed.filter(t => t._2 >= a && t._2 < b)
      try {
        // tercile 2 delivered LAST (batch id 2) — quarantined and
        // drained by the same tick
        Seq((lo, c1), (c2, hi + 1L), (c1, c2)).foreach { case (a, b) =>
          val rs = batch(a, b)
          require(rs.nonEmpty, s"q195: empty tercile [$a,$b)")
          mem.addData(rs); q.processAllAvailable()
        }
      } finally q.stop()
      // the in-stream drain left nothing behind: quarantine holds no
      // data files and the store needs no manual repair
      require(!graft.streaming.BatchMarkers.hasData(s, s"$store/_latedata"),
        "q195: the in-stream drain must leave the quarantine empty")
      s.read.parquet(store)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // SCD2 event-log COMPACTION, oracle-gated (round 14): the tee's
    // one-partition-per-micro-batch layout is right for replay
    // idempotence and wrong for a permanent archive (a minute-cadence
    // stream accrues ~500k directories a year). q194's out-of-order
    // feed again, tee on, NO in-stream drain: after the stream stops,
    // compactEventLog coalesces the marked batch partitions into one
    // segment (O(new bytes); crash window leaves only duplicate rows,
    // which scd2 is idempotent to — spec-pinned), and the backfill
    // drains the quarantine FROM THE COMPACTED LOG. A compaction that
    // lost, doubled-with-effect, or re-ordered any event fails the
    // one-shot oracle hash.
    "q196_scd2_log_compact" -> ((s, dir) => {
      val ev = events(s, dir).where(col("event_id") % 29 === 0)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      // ONE bounded driver read feeds the whole gate (r16): slice
      // collected once, cut driver-side — was four scans (min/max
      // probe + three tercile collects) of the same events slice
      val feed = ev.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
      require(feed.nonEmpty, "q196: the event_id % 29 slice is empty")
      val (lo, hi) = (feed.map(_._2).min, feed.map(_._2).max)
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      val store = SparkBridge.tempDir("graft_q196")
        .resolve("scd2").toString
      val ckpt = SparkBridge.tempDir("graft_q196_ck")
        .toString
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String)]
      val rows = mem.toDS().toDF("user_id", "us", "event_id", "event_type")
      val q = graft.streaming.Scd2Stream.start(rows, store, "user_id",
        "us", "event_id", Seq("event_type"), ckpt, nBuckets = 16,
        teeEventLog = true)
      // driver-side tercile cut of the one collected feed (in-batch
      // order immaterial — the fold's documented contract)
      def batch(a: Long, b: Long): Seq[(Long, Long, Long, String)] =
        feed.filter(t => t._2 >= a && t._2 < b)
      try {
        Seq((lo, c1), (c2, hi + 1L), (c1, c2)).foreach { case (a, b) =>
          val rs = batch(a, b)
          require(rs.nonEmpty, s"q196: empty tercile [$a,$b)")
          mem.addData(rs); q.processAllAvailable()
        }
      } finally q.stop()
      require(graft.streaming.Scd2Stream.compactEventLog(s, store,
          keepRecentBatches = 1) >= 1L,
        "q196: compaction must fold at least one marked batch partition")
      val drained = graft.streaming.Scd2Stream.backfillQuarantine(s, store,
        s.read.parquet(s"$store/_eventlog"), "user_id", "us", "event_id",
        Seq("event_type"), nBuckets = 16)
      require(drained > 0, "q196: backfill must drain the quarantine")
      s.read.parquet(store)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    "q96_quality_gate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val rep = QualitySignals.repetitionMetrics(d, "doc_id", "text", n = 2)
        .select(col("doc_id"), col("dup_gram_milli"))
      val toks = d.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val vocab = tf.groupBy("tok").agg(sum("tf").as("cnt"))
      val nTot = toks.agg(count(lit(1)).as("n_total"))
      val nll = tf.join(broadcast(vocab), "tok").crossJoin(nTot)
        .withColumn("nm",
          round(col("tf") * log(col("n_total").cast("double") / col("cnt").cast("double"))
            * lit(1000000.0)).cast(LongType))
        .groupBy("doc_id").agg(sum("tf").as("n_tokens"), sum("nm").as("nllm"))
        .withColumn("nll_per_tok_micro", expr("nllm DIV n_tokens"))
        .select("doc_id", "n_tokens", "nll_per_tok_micro")
      nll.join(rep, "doc_id")
        .withColumn("pass_length", col("n_tokens") >= 20)
        .withColumn("pass_repetition", col("dup_gram_milli") <= 50)
        .withColumn("pass_lm",
          col("nll_per_tok_micro").between(3390000L, 3415000L))
        .withColumn("keep",
          col("pass_length") && col("pass_repetition") && col("pass_lm"))
        .select("doc_id", "n_tokens", "dup_gram_milli", "nll_per_tok_micro",
          "pass_length", "pass_repetition", "pass_lm", "keep")
        .orderBy("doc_id")
    }),

    // cross-doc duplicated-span accounting (exact-substring dedup's
    // measurement half): a position is masked if any 5-gram covering
    // it occurs verbatim in >= 2 distinct documents — catches shared
    // boilerplate that doc-level near-dup misses because the host
    // documents differ; within-doc repetition alone never masks
    "q154_dup_span_scrub" -> ((s, dir) => {
      graft.ops.SpanScrub.dupSpanStats(t(s, dir, "documents"),
          "doc_id", tkSql, n = 5)
        .orderBy("doc_id")
    }),

    // the materialized-rollup REWRITE end-to-end: a raw event table
    // and its IncrementalAgg-maintained rollup land in scratch, the
    // source registers with the RollupRewrite optimizer rule, and the
    // plain GROUP BY over the RAW table is answered from the rollup —
    // require()-proved from the executed plan, value-proved by the
    // oracle recomputing the aggregate directly from `events`
    "q156_rollup_rewrite" -> ((s, dir) => {
      import graft.ops.IncrementalAgg
      import graft.plans.RollupRewrite
      val scratch = SparkBridge.tempDir("graft_q156")
      val srcPath = scratch.resolve("raw_events_src.parquet").toString
      val rollupPath = scratch.resolve("rollup_mv_store").toString
      events(s, dir).select(
          to_date(col("ts")).cast("string").as("day"),
          col("event_type"),
          col("user_id"),
          expr("CAST(round(value * 1000.0) AS BIGINT)").as("v_milli"))
        .write.mode("overwrite").parquet(srcPath)
      val src = s.read.parquet(srcPath)
      val keys = Seq("day", "event_type")
      val ms = Seq(IncrementalAgg.count("n_"),
        IncrementalAgg.sum("v_milli", "sv_"))
      (0 to 1).foreach { i =>
        IncrementalAgg.updateTable(s, rollupPath,
          src.where(col("user_id") % 2 === i), keys, ms, "day")
      }
      // registered only while this frame's plan is optimized: the
      // `require` forces it, and the frame returned wraps that
      // optimized plan, so a frame derived from it (a write, a
      // coalesce) still reads the rollup while later plans (and
      // `Tables.query`'s keys) see no new target
      val target = RollupRewrite.Target(srcPath, rollupPath, keys, ms)
      RollupRewrite.register(target)
      try {
        val q = s.read.parquet(srcPath)
          .groupBy("day", "event_type")
          .agg(count(lit(1)).as("n_events"), sum("v_milli").as("sum_v_milli"))
          .orderBy("day", "event_type")
        // the scans' root paths, not the plan text: Spark cuts a file
        // location short in a plan string
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation
        }.collect {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.getName)
        }.flatten
        require(scanned.contains("rollup_mv_store") &&
            !scanned.contains("raw_events_src.parquet"),
          s"rollup rewrite did not fire, scans $scanned:\n${q.queryExecution.optimizedPlan}")
        ColumnBridge.ofRows(s, q.queryExecution.optimizedPlan)
      } finally RollupRewrite.unregister(target)
    }),

    // SCD2 dimension history from the event log: per-user validity
    // intervals over event_type with consecutive duplicates collapsed
    // — the slowly-changing-dimension build every warehouse load runs;
    // one Exchange serves both window passes
    "q155_scd2_intervals" -> ((s, dir) => {
      ChangeCapture.scd2(events(s, dir), "user_id", "ts", "event_id",
          Seq("event_type"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // deterministic epoch shuffle into fixed shards — the training
    // dataloader contract: (shard, pos) is a pure md5 function of
    // (doc_id, epoch), reproducible on any engine/cluster/rerun
    "q177_epoch_shuffle" -> ((s, dir) => {
      graft.ops.Export.epochShards(t(s, dir, "documents"), "doc_id",
          epoch = 1, nShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    }),

    // curriculum export: within a shard, ascending quality stage
    // (size-bucket proxy), shuffled within each stage by the epoch key
    "q178_curriculum_shards" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("stage", expr("n_chars DIV 256"))
      graft.ops.Export.curriculumShards(d, "doc_id", "stage",
          epoch = 2, nShards = 4)
        .select("doc_id", "stage", "shard", "pos")
        .orderBy("shard", "pos")
    }),

    // BPE tokenizer training: 6 merge rounds over the word vocabulary
    // (the corpus is shuffled ONCE into word counts; the loop runs on
    // the compact vocab, one argmax row to the driver per round). The
    // oracle replays the whole recurrence as unrolled relational CTEs
    // — greedy fold ≡ row_number-parity merge, see Bpe scaladoc.
    "q173_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val vocab = graft.ops.Bpe.wordVocab(t(s, dir, "documents"), "text")
      val (merges, seg) = graft.ops.Bpe.train(s, vocab, 6)
      seg.unpersist()
      merges.toDF()
        .select(col("round").cast(LongType).as("round"),
          col("s1").as("sym_a"), col("s2").as("sym_b"),
          concat(col("s1"), col("s2")).as("merged"),
          col("cnt").as("pair_cnt"))
        .orderBy("round")
    }),

    // BPE encode: per-doc token counts under the 6 trained merges —
    // the corpus-side apply path (words join the segmented vocab's
    // per-word segment count; big-big hash join on the word key).
    // `seg` is localCheckpointed and the returned plan references it,
    // so its blocks live exactly as long as the result frame does —
    // ContextCleaner reclaims them when the caller drops the result
    "q174_bpe_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val vocab = graft.ops.Bpe.wordVocab(d, "text")
      val (_, seg) = graft.ops.Bpe.train(s, vocab, 6)
      graft.ops.Bpe.encodeCounts(d, seg, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // BPE encode from the PERSISTED tokenizer artifact: train once,
    // store merges + segmented vocab + meta under a Generations root,
    // then encode by reading the stored vocabulary — no retraining in
    // the encode path. Oracle = q174's full training+encode replay,
    // so the storage round-trip must be segmentation-invisible
    "q181_bpe_stored_encode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (merges, seg) = graft.ops.Bpe.train(s,
        graft.ops.Bpe.wordVocab(d, "text"), 6)
      val root = SparkBridge.tempDir("graft_q181").toString
      graft.ops.Bpe.writeModelVersioned(s, merges, seg, root)
      seg.unpersist()
      graft.ops.Bpe.encodeCountsStored(s, d,
          graft.ops.Generations.livePath(s, root), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // the tokenizer REFRESH path end-to-end: train 6 merges on 90% of
    // the corpus, persist, fold the held-out 10% in as an ingest
    // batch, and emit the refreshed segmented vocabulary. The oracle
    // replays the whole contract relationally: union counts, OLD
    // segmentation kept for known words (merges never change on
    // refresh), stored merges replayed over new words' characters
    "q183_bpe_refresh" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val oldD = d.where(col("doc_id") % 10 =!= 0)
      val newD = d.where(col("doc_id") % 10 === 0)
      val (merges, seg) = graft.ops.Bpe.train(s,
        graft.ops.Bpe.wordVocab(oldD, "text"), 6)
      val root = SparkBridge.tempDir("graft_q183").toString
      graft.ops.Bpe.writeModelVersioned(s, merges, seg, root)
      seg.unpersist()
      graft.ops.Bpe.refresh(s, root, newD, "text")
      s.read.parquet(
          s"${graft.ops.Generations.livePath(s, root)}/vocab")
        .select(col("word"), col("cnt"), posexplode(col("syms")))
        .select(col("word"), col("cnt"),
          (col("pos") + 1).cast(LongType).as("pos"), col("col").as("sym"))
        .orderBy("word", "pos")
    }),

    // OLS quality probe: fit n_chars ~ b0 + b1*tokens + b2*count('e')
    // by exact-integer normal equations (ONE aggregation) + in-plan
    // Cramer solve, score every doc off the broadcast 1-row
    // coefficient frame, surface the top-20 residual outliers — model
    // fitting as aggregation, zero driver math. Every output value a
    // micro-rounded BIGINT (double math = identical formula tree both
    // engines, the q152 parity discipline)
    "q182_ols_quality_probe" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.LinearProbe.residualOutliers(d, "doc_id",
          x1 = TextAnalysis.tokenCount(col("text")),
          x2 = expr("length(text) - length(replace(text, 'e', ''))"),
          y = col("n_chars"), k = 20)
        .orderBy("rnk")
    }),

    // segmented calibration: one OLS model PER LANGUAGE in the same
    // two scans (sums aggregate gains the group key; the #langs-row
    // coefficient frame broadcasts onto one corpus scan), top-5
    // residual outliers within each language — per-domain quality
    // models at corpus scale with zero driver math
    "q184_grouped_ols" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.LinearProbe.residualOutliersGrouped(d, "doc_id", "lang",
          x1 = TextAnalysis.tokenCount(col("text")),
          x2 = expr("length(text) - length(replace(text, 'e', ''))"),
          y = col("n_chars"), kPerGroup = 5)
        .orderBy("lang", "rnk")
    }))

  val oracles: Map[String, String] = Map(
    // the ENTIRE 6-round training recurrence unrolled as relational
    // CTEs (argmax + parity-rule merge per round) — any drift in pair
    // counting, tie-breaking, or greedy application breaks the hash
    "q173_bpe_merges" -> graft.ops.Bpe.mergesSql("documents", 6),
    "q174_bpe_tokens" -> graft.ops.Bpe.encodeSql("documents", 6),
    "q181_bpe_stored_encode" -> graft.ops.Bpe.encodeSql("documents", 6),
    "q183_bpe_refresh" -> graft.ops.Bpe.refreshSql(
      "(SELECT text FROM documents WHERE doc_id % 10 <> 0)",
      "(SELECT text FROM documents WHERE doc_id % 10 = 0)", 6),
    // identical sums + Cramer formula tree + micro rounding — see
    // LinearProbe's determinism contract
    "q182_ols_quality_probe" -> graft.ops.LinearProbe.residualOutliersSql(
      "documents", "doc_id",
      x1 = "len(string_split_regex(lower(trim(text)), '\\s+'))",
      x2 = "length(text) - length(replace(text, 'e', ''))",
      y = "n_chars", k = 20),
    "q184_grouped_ols" -> graft.ops.LinearProbe.residualOutliersGroupedSql(
      "documents", "doc_id", "lang",
      x1 = "len(string_split_regex(lower(trim(text)), '\\s+'))",
      x2 = "length(text) - length(replace(text, 'e', ''))",
      y = "n_chars", kPerGroup = 5),
    "q177_epoch_shuffle" ->
      (graft.ops.Export.epochShardsSql("documents", "doc_id", 1, 8) +
        "\nORDER BY shard, pos"),
    "q178_curriculum_shards" ->
      """WITH d AS (SELECT doc_id, n_chars // 256 AS stage FROM documents),
         h AS (SELECT doc_id, stage,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#e2'), 1, 13))::BIGINT AS hk
           FROM d)
         SELECT doc_id, stage, CAST(hk % 4 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY hk % 4
             ORDER BY stage, hk, doc_id) AS BIGINT) AS pos
         FROM h ORDER BY shard, pos""",
    // the rewrite must be INVISIBLE in values: the oracle recomputes
    // the aggregate straight from the raw events — if answering from
    // the maintained rollup changed any number, the hash breaks
    "q156_rollup_rewrite" ->
      """WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           event_type, CAST(round(value * 1000.0) AS BIGINT) AS v_milli
           FROM events)
         SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v_milli) AS BIGINT) AS sum_v_milli
         FROM e GROUP BY day, event_type
         ORDER BY day, event_type""",
    // identical count algebra and the SAME textual scoring expression
    // as the Spark side (IEEE ops are order-deterministic; ln's last
    // ulp is separated by the q91 argument)
    "q158_bigram_nll" ->
      """WITH tk0 AS (SELECT doc_id,
           string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
         d AS (SELECT doc_id, tk FROM tk0 WHERE len(tk) >= 2),
         bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
                FROM d, LATERAL (SELECT unnest(range(1, len(tk))) AS i) r),
         toks AS (SELECT doc_id, unnest(tk) AS w FROM d),
         c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
         cp AS (SELECT w1, COUNT(*) AS cp FROM bg GROUP BY 1),
         c1 AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_total FROM toks),
         sc AS (SELECT t.doc_id, t.tf,
                 CAST(round(t.tf * -ln(0.75 * (CAST(c2.c2 AS DOUBLE) / CAST(cp.cp AS DOUBLE))
                   + 0.25 * (CAST(c1.c1 AS DOUBLE) / CAST(n.n_total AS DOUBLE)))
                   * 1000000) AS BIGINT) AS nm
                FROM (SELECT doc_id, w1, w2, COUNT(*) AS tf
                      FROM bg GROUP BY 1, 2, 3) t
                JOIN c2 ON c2.w1 = t.w1 AND c2.w2 = t.w2
                JOIN cp ON cp.w1 = t.w1
                JOIN c1 ON c1.w = t.w2, n)
         SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(nm) AS BIGINT) AS nll_micro,
           CAST(SUM(nm) // SUM(tf) AS BIGINT) AS nll_per_bigram_micro
         FROM sc GROUP BY 1 ORDER BY doc_id""",
    // replays ChangeCapture.scd2: first-occurrence-or-state-change
    // filter (IS DISTINCT FROM == Spark's null-safe <=> negation),
    // then lead() over the survivors for the interval close
    "q155_scd2_intervals" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
         c AS (SELECT user_id, ts, event_id, event_type,
                 (event_type IS DISTINCT FROM lag(event_type) OVER w)
                   OR (lag(ts) OVER w IS NULL) AS chg
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         f AS (SELECT user_id, event_id, event_type, ts AS valid_from,
                 lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
               FROM c WHERE chg)
         SELECT user_id, event_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
         FROM f ORDER BY user_id, valid_from, event_id""",
    "q154_dup_span_scrub" ->
      """WITH tk AS (SELECT doc_id,
           string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
         base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tk),
         occ AS (SELECT doc_id, i AS pos, array_to_string(tk[i:i+4], ' ') AS gram
                 FROM tk, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS i) r
                 WHERE len(tk) >= 5),
         d AS (SELECT gram FROM occ GROUP BY gram
               HAVING COUNT(DISTINCT doc_id) >= 2),
         mp AS (SELECT DISTINCT o.doc_id, r.mp
                FROM occ o JOIN d ON d.gram = o.gram,
                  LATERAL (SELECT unnest(range(o.pos, o.pos + 5)) AS mp) r),
         m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_masked
               FROM mp GROUP BY 1)
         SELECT b.doc_id, b.n_tokens,
           COALESCE(m.n_masked, 0) AS n_masked,
           b.n_tokens - COALESCE(m.n_masked, 0) AS n_kept,
           CAST(COALESCE(m.n_masked, 0) * 1000 // b.n_tokens AS BIGINT)
             AS masked_milli
         FROM base b LEFT JOIN m ON m.doc_id = b.doc_id
         ORDER BY b.doc_id""",
    "q85_repetition_metrics" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                     FROM documents),
         g AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g
               FROM tk, LATERAL (SELECT unnest(range(1, len(tk))) AS i) r
               WHERE len(tk) >= 2),
         c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2),
         m AS (SELECT doc_id, g, c, MAX(c) OVER (PARTITION BY doc_id) AS mx FROM c),
         a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
               FROM c GROUP BY doc_id),
         top AS (SELECT doc_id, MIN(g) AS top_gram FROM m WHERE c = mx GROUP BY doc_id)
         SELECT a.doc_id, n_grams, n_distinct, top_gram, top_c,
           CAST((n_grams - n_distinct) * 1000 // n_grams AS BIGINT) AS dup_gram_milli,
           CAST(top_c * 1000 // n_grams AS BIGINT) AS top_gram_milli
         FROM a JOIN top ON top.doc_id = a.doc_id ORDER BY a.doc_id""",
    "q86_contamination" ->
      """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
                    UNION ALL
                    SELECT doc_id + 1000000 AS doc_id,
                      array_to_string(tk[1:greatest((len(tk)*4)//5, 1)], ' ') AS text
                    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                          FROM documents WHERE doc_id % 50 = 0)),
         csh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS sh
                 FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                       FROM corpus) tkc,
                      LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS i) r
                 WHERE len(tk) >= 5),
         bsh AS (SELECT DISTINCT doc_id AS bench_id, array_to_string(tk[i:i+4], ' ') AS sh
                 FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                       FROM bench) tkb,
                      LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS i) r
                 WHERE len(tk) >= 5)
         SELECT c.doc_id, CAST(COUNT(DISTINCT c.sh) AS BIGINT) AS n_hit_grams,
           CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
           MIN(b.bench_id) AS first_bench_id
         FROM csh c JOIN bsh b ON b.sh = c.sh
         GROUP BY c.doc_id ORDER BY c.doc_id""",
    "q87_url_filter" ->
      """WITH u AS (SELECT doc_id,
           'https://' || lang || '.site-' || CAST(doc_id % 20 AS VARCHAR)
             || '.com/p/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         h AS (SELECT doc_id, url,
                 regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host
               FROM u),
         a AS (SELECT doc_id, url, host,
                 regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS apex FROM h)
         SELECT doc_id, url, host, apex FROM a
         WHERE apex NOT IN ('site-3.com', 'site-7.com', 'site-13.com')
         ORDER BY doc_id""",
    "q88_sequence_packing" ->
      """WITH d AS (SELECT doc_id, lang,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM d)
         SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS start_block,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS block_offset
         FROM c ORDER BY lang, doc_id""",
    "q89_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, text FROM documents),
         neu AS (SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END AS text
                 FROM documents WHERE doc_id % 13 <> 0
                 UNION ALL
                 SELECT doc_id + 3000000 AS doc_id, text || ' [new]' AS text
                 FROM documents WHERE doc_id % 17 = 0),
         j AS (SELECT o.doc_id AS o_id, n.doc_id AS n_id, o.text AS ot, n.text AS nt
               FROM old o FULL OUTER JOIN neu n ON n.doc_id = o.doc_id)
         SELECT coalesce(o_id, n_id) AS doc_id,
           CASE WHEN n_id IS NULL THEN 'delete'
                WHEN o_id IS NULL THEN 'insert'
                WHEN ot IS DISTINCT FROM nt THEN 'update' END AS change_type
         FROM j
         WHERE n_id IS NULL OR o_id IS NULL OR ot IS DISTINCT FROM nt
         ORDER BY doc_id""",
    "q90_segment_dedup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
             array_to_string(tk[1:greatest((len(tk)*4)//5, 1)], ' ') AS text
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                 FROM documents WHERE doc_id % 5 = 0)),
         tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                FROM corpus),
         segs AS (SELECT doc_id, s AS seg_idx,
                    array_to_string(tk[s*10+1:s*10+10], ' ') AS seg
                  FROM tk, LATERAL (SELECT unnest(range(0, (len(tk)-1)//10 + 1)) AS s) r),
         tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs FROM segs GROUP BY 1),
         kept AS (SELECT doc_id, seg_idx, seg FROM (
                    SELECT doc_id, seg_idx, seg,
                      ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
                    FROM segs) WHERE rn = 1),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_fp
                 FROM kept GROUP BY doc_id)
         SELECT t.doc_id, t.n_segs, coalesce(a.n_kept, 0) AS n_kept, a.clean_fp
         FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
         ORDER BY t.doc_id""",
    "q91_unigram_nll" ->
      """WITH toks AS (SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         vocab AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_total FROM toks),
         scored AS (SELECT doc_id, t.tf,
             CAST(round(t.tf * ln(CAST(n_total AS DOUBLE) / CAST(cnt AS DOUBLE))
               * 1000000) AS BIGINT) AS nll_micro
           FROM tf t JOIN vocab v ON v.tok = t.tok, n)
         SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(nll_micro) AS BIGINT) AS nll_micro,
           CAST(CAST(SUM(nll_micro) AS BIGINT) // CAST(SUM(tf) AS BIGINT) AS BIGINT)
             AS nll_per_tok_micro
         FROM scored GROUP BY doc_id ORDER BY doc_id""",
    "q128_lexical_entropy" ->
      """WITH tok AS (SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents),
         c AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct
               FROM c GROUP BY 1),
         e AS (SELECT c.doc_id,
                 CAST(SUM(CAST(round(c * ln(CAST(n_tokens AS DOUBLE)
                   / CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS se
               FROM c JOIN n ON n.doc_id = c.doc_id GROUP BY 1)
         SELECT n.doc_id, n_tokens, n_distinct,
           CAST(n_distinct * 1000 // n_tokens AS BIGINT) AS ttr_milli,
           CAST(se // n_tokens AS BIGINT) AS entropy_micro_per_tok
         FROM n JOIN e ON e.doc_id = n.doc_id ORDER BY n.doc_id""",
    "q92_token_histogram" ->
      """WITH d AS (SELECT CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
                      AS n_tokens FROM documents)
         SELECT n_tokens // 8 AS bucket, (n_tokens // 8) * 8 AS lo,
           (n_tokens // 8) * 8 + 7 AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
         FROM d GROUP BY 1 ORDER BY bucket""",
    "q94_approx_percentiles" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50_exact,
         quantile_cont(l_quantity, 0.9) AS p90_exact,
         COUNT(*) AS n, TRUE AS sketch_within_1
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q149_gram_novelty" ->
      """WITH tk AS (SELECT doc_id,
           string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
         g AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
               FROM tk, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) r
               WHERE len(tk) >= 3),
         d AS (SELECT sh, COUNT(*) AS df FROM g GROUP BY 1),
         s AS (SELECT g.doc_id, COUNT(*) AS n_grams,
                 SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_singleton
               FROM g JOIN d ON d.sh = g.sh GROUP BY 1)
         SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_singleton AS BIGINT) AS n_singleton,
           CAST(n_singleton * 1000 // n_grams AS BIGINT) AS novelty_milli
         FROM s ORDER BY doc_id""",
    "q148_winsorize" ->
      """WITH c AS (SELECT l_returnflag,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM lineitem),
         b AS (SELECT l_returnflag,
                 quantile_cont(cents, 0.05) AS p05,
                 quantile_cont(cents, 0.95) AS p95
               FROM c GROUP BY 1),
         j AS (SELECT c.l_returnflag, cents, p05, p95,
                 CAST(round(least(greatest(CAST(cents AS DOUBLE), p05), p95))
                   AS BIGINT) AS clamped
               FROM c JOIN b ON b.l_returnflag = c.l_returnflag)
         SELECT l_returnflag,
           CAST(round(MAX(p05)) AS BIGINT) AS p05_r,
           CAST(round(MAX(p95)) AS BIGINT) AS p95_r,
           CAST(SUM(CASE WHEN CAST(cents AS DOUBLE) < p05 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN CAST(cents AS DOUBLE) > p95 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_high,
           CAST(SUM(clamped) AS BIGINT) AS sum_clamped
         FROM j GROUP BY 1 ORDER BY 1""",
    "q95_priority_sample" ->
      """WITH p AS (SELECT doc_id, lang,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS pri
           FROM documents),
         r AS (SELECT lang, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS BIGINT) AS rn
               FROM p)
         SELECT lang, rn, doc_id FROM r WHERE rn <= 20 ORDER BY lang, rn""",
    "q132_expectations" ->
      """WITH s AS (SELECT COUNT(*) AS n,
           COUNT(*) - COUNT(o_custkey) AS v_notnull,
           COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_unique,
           SUM(CASE WHEN o_totalprice IS NOT NULL
                 AND (o_totalprice < 0 OR o_totalprice > 300000)
               THEN 1 ELSE 0 END) AS v_range,
           SUM(CASE WHEN o_orderstatus IS NOT NULL
                 AND o_orderstatus NOT IN ('O', 'F', 'P')
               THEN 1 ELSE 0 END) AS v_set,
           CASE WHEN COUNT(*) BETWEEN 1 AND 100000000 THEN 0 ELSE 1 END AS v_rows
           FROM orders),
         fk AS (SELECT COUNT(*) AS n,
                  SUM(CASE WHEN o.o_custkey IS NOT NULL AND c.pk IS NULL
                      THEN 1 ELSE 0 END) AS v
                FROM orders o LEFT JOIN
                  (SELECT DISTINCT c_custkey AS pk FROM customer) c
                  ON c.pk = o.o_custkey),
         rows_ AS (
           SELECT 'not_null' AS rule, 'o_custkey' AS col_name,
             v_notnull AS n_violations, n, 0 AS threshold_milli FROM s
           UNION ALL SELECT 'unique', 'o_orderkey', v_unique, n, 0 FROM s
           UNION ALL SELECT 'in_range', 'o_totalprice', v_range, n, 0 FROM s
           UNION ALL SELECT 'in_set', 'o_orderstatus', v_set, n, 0 FROM s
           UNION ALL SELECT 'row_count', '*', v_rows, n, 0 FROM s
           UNION ALL SELECT 'foreign_key', 'o_custkey', v, n, 0 FROM fk)
         SELECT rule, col_name, CAST(n_violations AS BIGINT) AS n_violations,
           CAST(CASE WHEN n = 0 THEN n_violations * 1000
                ELSE n_violations * 1000 // n END AS BIGINT) AS metric_milli,
           CAST(threshold_milli AS BIGINT) AS threshold_milli,
           (CASE WHEN n = 0 THEN n_violations * 1000
            ELSE n_violations * 1000 // n END) <= threshold_milli AS pass
         FROM rows_ ORDER BY rule, col_name""",

    "q96_quality_gate" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                     FROM documents),
         g AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g
               FROM tk, LATERAL (SELECT unnest(range(1, len(tk))) AS i) r
               WHERE len(tk) >= 2),
         c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2),
         rep AS (SELECT doc_id,
                   CAST((SUM(c) - COUNT(*)) * 1000 // SUM(c) AS BIGINT) AS dup_gram_milli
                 FROM c GROUP BY 1),
         toks AS (SELECT doc_id,
                    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                  FROM documents),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         vocab AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_total FROM toks),
         sc AS (SELECT doc_id, t.tf,
                  CAST(round(t.tf * ln(CAST(n_total AS DOUBLE) / CAST(cnt AS DOUBLE))
                    * 1000000) AS BIGINT) AS nm
                FROM tf t JOIN vocab v ON v.tok = t.tok, n),
         nll AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   CAST(CAST(SUM(nm) AS BIGINT) // CAST(SUM(tf) AS BIGINT) AS BIGINT)
                     AS nll_per_tok_micro
                 FROM sc GROUP BY 1)
         SELECT nll.doc_id, n_tokens, dup_gram_milli, nll_per_tok_micro,
           n_tokens >= 20 AS pass_length,
           dup_gram_milli <= 50 AS pass_repetition,
           nll_per_tok_micro BETWEEN 3390000 AND 3415000 AS pass_lm,
           (n_tokens >= 20 AND dup_gram_milli <= 50
             AND nll_per_tok_micro BETWEEN 3390000 AND 3415000) AS keep
         FROM nll JOIN rep ON rep.doc_id = nll.doc_id
         ORDER BY nll.doc_id""",

    "q143_sliding_chunks" ->
      """WITH tk AS (SELECT doc_id,
           string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
         p AS (SELECT doc_id, tk, len(tk) AS n FROM tk),
         c AS (SELECT doc_id, tk, n,
                 CASE WHEN n <= 32 THEN 1
                      ELSE 1 + (n - 32 + 23) // 24 END AS nchunks FROM p),
         x AS (SELECT doc_id, tk, n, CAST(k AS INTEGER) AS chunk_idx
               FROM c, LATERAL (SELECT unnest(range(0, nchunks)) AS k) r)
         SELECT doc_id, chunk_idx,
           CAST(chunk_idx * 24 AS INTEGER) AS start_tok,
           CAST(least(32, n - chunk_idx * 24) AS INTEGER) AS n_tok_chunk,
           array_to_string(tk[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
             AS chunk_text
         FROM x ORDER BY doc_id, chunk_idx""",

    "q141_incremental_rollup" ->
      """WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           event_type, CAST(round(value * 1000.0) AS BIGINT) AS v_milli
           FROM events)
         SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v_milli) AS BIGINT) AS sum_v_milli,
           CAST(MIN(v_milli) AS BIGINT) AS min_v_milli,
           CAST(MAX(v_milli) AS BIGINT) AS max_v_milli,
           CAST(round(CAST(SUM(v_milli) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_v_milli
         FROM e GROUP BY day, event_type
         ORDER BY day, event_type""",

    "q189_rollup_stream_intake" ->
      """WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           event_type, CAST(round(value * 1000.0) AS BIGINT) AS v_milli
           FROM events WHERE event_id % 17 = 0)
         SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v_milli) AS BIGINT) AS sum_v_milli,
           CAST(MIN(v_milli) AS BIGINT) AS min_v_milli,
           CAST(MAX(v_milli) AS BIGINT) AS max_v_milli
         FROM e GROUP BY day, event_type
         ORDER BY day, event_type""",

    // q155's replay over the slice, with micros as the interval
    // domain — the cumulative streamed store must equal the one-shot
    // scd2 over everything ever folded
    // the late-data path restores the one-shot history exactly: the
    // same scd2 replay over the % 19 slice, regardless of the
    // out-of-order delivery, the quarantine, and the backfill
    "q194_scd2_backfill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
               FROM events WHERE event_id % 19 = 0),
         c AS (SELECT user_id, us, event_id, event_type,
                 (event_type IS DISTINCT FROM lag(event_type) OVER w)
                   OR (lag(us) OVER w IS NULL) AS chg
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         f AS (SELECT user_id, event_id, event_type, us AS valid_from,
                 lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   AS valid_to
               FROM c WHERE chg)
         SELECT user_id, event_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
         FROM f ORDER BY user_id, valid_from, event_id""",

    // the compacted tee is still the full log: the same scd2 replay,
    // over the % 29 slice
    "q196_scd2_log_compact" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
               FROM events WHERE event_id % 29 = 0),
         c AS (SELECT user_id, us, event_id, event_type,
                 (event_type IS DISTINCT FROM lag(event_type) OVER w)
                   OR (lag(us) OVER w IS NULL) AS chg
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         f AS (SELECT user_id, event_id, event_type, us AS valid_from,
                 lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   AS valid_to
               FROM c WHERE chg)
         SELECT user_id, event_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
         FROM f ORDER BY user_id, valid_from, event_id""",

    // the self-repairing stream restores the one-shot history with no
    // manual backfill: the same scd2 replay, over the % 23 slice
    "q195_scd2_stream_drain" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
               FROM events WHERE event_id % 23 = 0),
         c AS (SELECT user_id, us, event_id, event_type,
                 (event_type IS DISTINCT FROM lag(event_type) OVER w)
                   OR (lag(us) OVER w IS NULL) AS chg
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         f AS (SELECT user_id, event_id, event_type, us AS valid_from,
                 lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   AS valid_to
               FROM c WHERE chg)
         SELECT user_id, event_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
         FROM f ORDER BY user_id, valid_from, event_id""",

    "q190_scd2_stream_intake" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
               FROM events WHERE event_id % 13 = 0),
         c AS (SELECT user_id, us, event_id, event_type,
                 (event_type IS DISTINCT FROM lag(event_type) OVER w)
                   OR (lag(us) OVER w IS NULL) AS chg
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         f AS (SELECT user_id, event_id, event_type, us AS valid_from,
                 lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   AS valid_to
               FROM c WHERE chg)
         SELECT user_id, event_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
         FROM f ORDER BY user_id, valid_from, event_id""",

    // q90's replay over the slice: the cumulative streamed output
    // must equal the one-shot segment dedup — duplicate doc_ids from
    // an unguarded replay fail the hash immediately
    "q191_segment_dedup_stream" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
             array_to_string(tk[1:greatest((len(tk)*4)//5, 1)], ' ') AS text
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                 FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 = 0)),
         tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                FROM corpus),
         segs AS (SELECT doc_id, s AS seg_idx,
                    array_to_string(tk[s*10+1:s*10+10], ' ') AS seg
                  FROM tk, LATERAL (SELECT unnest(range(0, (len(tk)-1)//10 + 1)) AS s) r),
         tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs FROM segs GROUP BY 1),
         kept AS (SELECT doc_id, seg_idx, seg FROM (
                    SELECT doc_id, seg_idx, seg,
                      ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
                    FROM segs) WHERE rn = 1),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_fp
                 FROM kept GROUP BY doc_id)
         SELECT t.doc_id, t.n_segs, coalesce(a.n_kept, 0) AS n_kept, a.clean_fp
         FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
         ORDER BY t.doc_id""",

    "q119_kll_quantiles" ->
      """WITH c AS (SELECT l_returnflag,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM lineitem)
         SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(cents, 0.5) AS p50_exact,
           quantile_cont(cents, 0.95) AS p95_exact,
           TRUE AS kll_within_rank_eps
         FROM c GROUP BY l_returnflag ORDER BY l_returnflag""")
}
