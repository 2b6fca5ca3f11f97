package graft.queries

import graft.ops.{Dedup, Html, Mp4, Multimodal, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge
import org.apache.spark.sql.types.LongType

/** Extension surface: text analysis, dedup family, multimodal
  * plumbing, event sessionization (SURVEY.md §2.4 + north star).
  *
  * The fixtures contain no natural near-duplicates (texts are unique
  * random word salads), so the near-dup queries operate on a DERIVED
  * corpus: documents unioned with deterministically truncated copies
  * (doc_id + 1,000,000, first 80% of tokens, every 5th doc). The
  * DuckDB oracle derives the identical corpus, so the queries verify
  * that the dedup operators actually find the planted near-dups and
  * nothing else.
  */
object TextQueries {

  /** SQL token-array expression shared by Spark `expr` fragments. */
  private val tkSql = "split(lower(trim(text)), '\\\\s+')"

  /** Derived near-dup corpus: all docs + truncated copies. */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val base = d.select(col("doc_id"), col("lang"), col("text"))
    val trunc = d.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        expr(s"concat_ws(' ', slice($tkSql, 1, greatest((size($tkSql) * 4) div 5, 1)))")
          .as("text"))
    base.unionAll(trunc)
  }

  /** Same corpus with EXACT copies (for exact-dedup). */
  private def exactDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .unionAll(d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** Sampled corpus for the quadratic (per-block) Jaccard query. */
  private def sampledDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val base = d.where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val trunc = d.where(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        expr(s"concat_ws(' ', slice($tkSql, 1, greatest((size($tkSql) * 4) div 5, 1)))")
          .as("text"))
    base.unionAll(trunc)
  }

  val queries: Map[String, Q] = Map(
    "q40_token_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast(LongType).as("n_chars_m"),
        expr(s"length(regexp_replace(text, '\\\\s', '')) * 1000 DIV size($tkSql)")
          .cast(LongType).as("avg_tok_len_milli"))
        .orderBy("doc_id")
    }),

    "q41_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    "q42_quality_score" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("tk"))
      d.select(col("doc_id"),
        size(col("tk")).cast(LongType).as("n_tokens"),
        TextAnalysis.punctCount(col("text")).as("punct_cnt"),
        TextAnalysis.stopwordCount(col("tk")).as("stop_cnt"))
        .withColumn("stop_ratio_milli", expr("stop_cnt * 1000 DIV n_tokens"))
        .withColumn("quality_band",
          when(col("n_tokens") >= 50 && col("stop_ratio_milli") >= 50, "good")
            .when(col("n_tokens") >= 20, "ok")
            .otherwise("short"))
        .orderBy("doc_id")
    }),

    "q43_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    "q44_dedup_exact" -> ((s, dir) => {
      Dedup.exactDedup(exactDupCorpus(s, dir), "doc_id", Seq("text"))
        .orderBy("fingerprint")
    }),

    "q45_minhash_pairs" -> ((s, dir) => {
      val sig = Dedup.minhashSignatures(dupCorpus(s, dir), "doc_id", "text",
        k = 8, shingleWidth = 3)
      Dedup.lshCandidatePairs(sig, "doc_id", bands = 4, rowsPerBand = 2)
        .orderBy("doc_a", "doc_b")
    }),

    // PII scrub over a corpus with planted emails/URLs/numbers —
    // fingerprint proves the redacted text matches exactly
    "q83_pii_scrub" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val planted = d.select(col("doc_id"),
        concat_ws(" ", col("text"),
          concat(lit("contact_"), col("doc_id")), lit("user@example.com"),
          lit("https://example.org/x?y=1"), lit("call 555 123 4567 now"))
          .as("text"))
      planted.select(col("doc_id"),
          TextAnalysis.scrubPii(col("text")).as("clean"))
        .withColumn("fp", md5(col("clean")))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    }),

    // stratified deterministic sampling: rebalance languages with
    // content-addressed membership (reproducible on any engine /
    // partitioning / rerun — RNG samplers are not)
    "q82_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"),
          "doc_id", "lang",
          Map("en" -> 300, "de" -> 800, "zh" -> 800), defaultMilli = 100)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // tf-weighted MinHash/LSH near-dup pairs over the dup corpus —
    // multiset Jaccard (repeated phrases count). STRICTER banding than
    // the shingle queries (2 bands x 4 rows, candidate threshold
    // ~0.5^(1/4)=0.84): token-multiset signatures are far less
    // discriminative than 3-token shingles, and 2-row bands degenerate
    // into thousand-member buckets (2.2M candidate pairs from 6k docs
    // at sf0.1) — exactly the bucket blowup maxBucketSize guards
    // against at 100 TB, fixed here at the config level instead
    "q80_weighted_minhash_pairs" -> ((s, dir) => {
      val sig = Dedup.weightedMinhashSignatures(dupCorpus(s, dir), "doc_id",
        "text", k = 8)
      Dedup.lshCandidatePairs(sig, "doc_id", bands = 2, rowsPerBand = 4)
        .orderBy("doc_a", "doc_b")
    }),

    // the LSH precision half: q45's candidate pairs confirmed by
    // EXACT shingle-set Jaccard, computed only for the candidates —
    // recall from banding, precision from verification, quadratic
    // nowhere
    "q103_verified_neardup_pairs" -> ((s, dir) => {
      val corpus = dupCorpus(s, dir)
      val sig = Dedup.minhashSignatures(corpus, "doc_id", "text",
        k = 8, shingleWidth = 3)
      val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bands = 4, rowsPerBand = 2)
      Dedup.verifyCandidatePairs(corpus, "doc_id", "text", pairs,
          shingleWidth = 3, minJaccardMilli = 300L)
        .orderBy("doc_a", "doc_b")
    }),

    // the destructive curation decision, oracle-checked: per-doc
    // quarantine verdicts over VERIFIED candidates
    // (Dedup.verifiedQuarantine), so the oracle pins that band
    // collisions below the Jaccard threshold are NOT quarantined
    "q106_neardup_quarantine" -> ((s, dir) => {
      val corpus = dupCorpus(s, dir)
      val sig = Dedup.minhashSignatures(corpus, "doc_id", "text",
        k = 8, shingleWidth = 3)
      val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bands = 4, rowsPerBand = 2)
      Dedup.verifiedQuarantine(corpus, "doc_id", "text", pairs,
          shingleWidth = 3, minJaccardMilli = 500L)
        .orderBy("doc_id")
    }),

    // LSH pairs -> transitive duplicate clusters: connected components
    // with min-id labels (the deterministic keeper per cluster)
    "q77_neardup_clusters" -> ((s, dir) => {
      val sig = Dedup.minhashSignatures(dupCorpus(s, dir), "doc_id", "text",
        k = 8, shingleWidth = 3)
      val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bands = 4, rowsPerBand = 2)
      Dedup.connectedComponents(pairs).orderBy("id")
    }),

    // SURVIVORSHIP: q77's clusters resolved into a per-cluster keep
    // decision — keep the LONGEST member (most-complete-version
    // heuristic), ties to the smallest id. Argmax as the two-step
    // hash aggregation (max, filter-to-max, min — the LabelPropagation
    // idiom): never a window over member lists, never a struct-max
    // (SortAggregate demotion). The curation step that turns "these
    // are dups" into "retire these, keep that".
    "q136_cluster_survivorship" -> ((s, dir) => {
      val corpus = dupCorpus(s, dir)
      val sig = Dedup.minhashSignatures(corpus, "doc_id", "text",
        k = 8, shingleWidth = 3)
      val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bands = 4, rowsPerBand = 2)
      val comps = Dedup.connectedComponents(pairs)
      val qual = corpus.select(col("doc_id").as("id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val members = comps.join(qual, "id")
      val tops = members.groupBy("component")
        .agg(count(lit(1)).as("n_members"), max("n_tokens").as("keeper_tokens"))
      members.join(tops, "component")
        .where(col("n_tokens") === col("keeper_tokens"))
        .groupBy("component", "n_members", "keeper_tokens")
        .agg(min("id").as("keeper_id"))
        .select("component", "n_members", "keeper_tokens", "keeper_id")
        .orderBy("component")
    }),

    // Unicode canonicalization end-to-end: deterministic byte-level
    // noise over the clean fixture (every 'a' gains a decomposed
    // combining acute, every space doubles), then the native NFC
    // expression recomposes, accent-strip + whitespace-collapse
    // restore the canonical key — `restored` proves the round trip
    // per document, and the length columns pin exactly how many code
    // points each normalization stage removes
    "q140_text_normalize" -> ((s, dir) => {
      import graft.ops.TextNormalize._
      val d = t(s, dir, "documents")
      val noisy = regexp_replace(
        regexp_replace(col("text"), "a", "a\u0301"), " ", "  ")
      d.select(col("doc_id"),
          length(noisy).as("len_noisy"),
          length(nfc(noisy)).as("len_nfc"),
          length(stripAccents(nfc(noisy))).as("len_stripped"),
          (canonical(nfc(noisy)) === lower(collapseWhitespace(col("text"))))
            .as("restored"))
        .orderBy("doc_id")
    }),

    // LEAKAGE-SAFE train/val/test split: the split unit is the
    // near-dup CLUSTER (singletons split alone), so a document can
    // never land in train while its near-duplicate sits in test —
    // the eval-contamination failure mode a per-doc content split
    // (q105) cannot prevent. The result carries the invariant
    // in-band: leaked_pairs counts candidate near-dup pairs
    // straddling splits, provably 0 under unit assignment, and the
    // oracle recomputes it independently.
    "q139_leakage_safe_split" -> ((s, dir) => {
      val corpus = dupCorpus(s, dir)
      val sig = Dedup.minhashSignatures(corpus, "doc_id", "text",
        k = 8, shingleWidth = 3)
      val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bands = 4, rowsPerBand = 2)
      val comps = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
      val units = corpus.select("doc_id")
        .join(comps, Seq("doc_id"), "left")
        .withColumn("unit", coalesce(col("component"), col("doc_id")))
      val assigned = graft.ops.Sampling.assignSplit(units, "unit").persist()
      val leaks = pairs
        .join(assigned.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
        .join(assigned.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
        .agg(count_if(col("sa") =!= col("sb")).as("leaked_pairs"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"), countDistinct("unit").as("n_units"))
        .crossJoin(broadcast(leaks))
        .orderBy("split")
    }),

    // FUZZY decontamination: benchmark docs vs corpus near-dups at
    // >= 0.3 distinct-shingle Jaccard — catches paraphrased/truncated
    // leakage q86's verbatim n-gram overlap misses. Cross-corpus LSH
    // (probe side broadcast, no within-side pairs -> no bucket
    // quadratics), exact verification on candidates only.
    "q137_fuzzy_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.where(col("doc_id") % 50 === 0).select("doc_id", "text")
      val tkSql = "split(lower(trim(text)), '\\\\s+')"
      val corpus = d.where(col("doc_id") % 50 =!= 0).select("doc_id", "text")
        .unionAll(bench.select((col("doc_id") + 1000000L).as("doc_id"),
          expr(s"concat_ws(' ', slice($tkSql, 1, greatest((size($tkSql) * 4) div 5, 1)))")
            .as("text")))
      val sb = Dedup.minhashSignatures(bench, "doc_id", "text", k = 8, shingleWidth = 3)
      val sc = Dedup.minhashSignatures(corpus, "doc_id", "text", k = 8, shingleWidth = 3)
      val cand = Dedup.lshCandidatePairsAcross(sb, sc, "doc_id",
        bands = 4, rowsPerBand = 2)
      Dedup.verifyCandidatePairs(bench.unionAll(corpus), "doc_id", "text",
          cand, shingleWidth = 3, minJaccardMilli = 300)
        .orderBy("doc_a", "doc_b")
    }),

    "q46_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(sampledDupCorpus(s, dir), "doc_id", "text",
        blockCol = "lang", shingleWidth = 2, minJaccardMilli = 300)
        .orderBy("doc_a", "doc_b")
    }),

    "q47_simhash" -> ((s, dir) => {
      Dedup.simhash32(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // SimHash banded near-dup pairs (Manku shape): 60-bit simhash, 4
    // 15-bit band buckets, exact bit_count(xor) Hamming verify —
    // guaranteed recall at Hamming <= 3, probabilistic above;
    // threshold 8 separates the planted 80%-overlap near-dups
    // (Hamming 1-15, median ~7) from unrelated docs (median ~19)
    "q104_simhash_neardup" -> ((s, dir) => {
      Dedup.simhashNearDupPairs(dupCorpus(s, dir), "doc_id", "text",
          maxHamming = 8)
        .orderBy("doc_a", "doc_b")
    }),

    "q51_multimodal_features" -> ((s, dir) => {
      val ds = Multimodal.fromBinaryFrame(s, t(s, dir, "documents"),
        "doc_id", "text", "doc")
      Multimodal.extractFeatures(ds).toDF().orderBy("id")
    }),

    // MP4 demux end-to-end: mux a deterministic single-track MP4 per
    // document (dims/duration/sample table derived from text length),
    // then demux it back with [[Mp4.parse]] — header facts via
    // extractFeatures, per-keyframe byte ranges via sampleKeyframes.
    // The oracle predicts every field arithmetically from the muxer's
    // documented layout (chunk base = 436 + 4n + 4k with the uniform
    // one-run stts), so a demuxer that misreads any sample table —
    // including the stts time map — hash-mismatches.
    "q107_mp4_keyframes" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
      val media = docs.map { case (id, txt) =>
        val L = txt.length
        val n = L % 6 + 2
        val base = L % 50 + 10
        Multimodal.MediaRecord(id, "video",
          Mp4.build(L % 640 + 16, L % 480 + 16, 1000L, L.toLong * 10,
            "avc1", Array.tabulate(n)(base + _), Array.range(1, n + 1, 2)))
      }
      val feats = Multimodal.extractFeatures(media).toDF()
        .select(col("id"), col("codec"), col("width"), col("height"),
          col("n_frames"), col("duration_ms"))
      val kf = Multimodal.sampleKeyframes(media, k = 8).toDF()
        .select(col("id"), col("n_keyframes"),
          element_at(col("offsets"), 1).as("first_kf_off"),
          expr("aggregate(sizes, 0L, (a, x) -> a + x)").as("kf_bytes"),
          expr("aggregate(times_ms, 0L, (a, x) -> a + x)").as("kf_time_ms_sum"))
      feats.join(kf, "id").orderBy("id")
    }),

    // audio feature extraction end-to-end: mux a deterministic mono
    // 16-bit WAV per document (pseudo-sawtooth PCM from (doc_id, i)
    // arithmetic), then DECODE THE BYTES back and compute per-window
    // integer features — energy (sum of squares), strict-sign zero
    // crossings within the window, peak amplitude, rounded RMS. The
    // oracle regenerates the identical sample stream arithmetically
    // (q107 pattern), so a decoder that misreads the RIFF layout or a
    // window rule that drifts by one sample hash-mismatches.
    "q142_audio_features" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
      val media = docs.map { case (id, txt) =>
        val n = txt.length % 40 + 24
        val samples = Array.tabulate(n)(i =>
          ((id * 31 + i.toLong * 997) % 2001 - 1000).toShort)
        graft.ops.Multimodal.MediaRecord(id, "audio",
          graft.ops.Multimodal.buildWav(samples, 8000))
      }
      graft.ops.Multimodal.audioWindows(media, windowFrames = 16).toDF()
        .withColumn("rms", expr(
          "CAST(round(sqrt(CAST(sum_sq AS DOUBLE)" +
            " / CAST(n_samp AS DOUBLE))) AS BIGINT)"))
        .orderBy("id", "win")
    }),

    // image near-dup end-to-end: mux a deterministic 32x32 grayscale
    // BMP per document (scene from doc_id DIV 4 arithmetic over a
    // 29x23x19 parameter family, so distinct groups get distinct
    // scenes at gate scale — 4 docs share a scene; member shifts are uniform brightness, which
    // pHash is EXACTLY invariant to, and member 3 adds a diagonal
    // perturbation for a nonzero-Hamming pair), DECODE THE BYTES
    // back, pHash (integer DCT, q185's reason the basis is exact
    // Longs), then the generalized banded-Hamming machinery (q104
    // shape, 4x16-bit bands). The oracle regenerates the raster
    // arithmetically and replays the identical integer pipeline
    "q185_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id")).as[Long]
      val media = docs.map { d =>
        val g = d / 4
        val gray = Array.tabulate(32 * 32) { i =>
          val y = i / 32; val x = i % 32
          40 + ((x * (3 + (g % 29).toInt) + y * (7 + (g % 23).toInt) +
            ((x * y) % 11) * (1 + (g % 19).toInt)) % 150) +
            (d % 4).toInt * 9 +
            (if (d % 4 == 3 && x == y) 15 else 0)
        }
        graft.ops.Multimodal.MediaRecord(d, "image",
          graft.ops.Multimodal.buildBmp(32, 32, gray))
      }
      val ph = graft.ops.Multimodal.perceptualHashes(media).toDF()
        .select(col("id"), col("phash"))
      graft.ops.Dedup.hashNearDupPairs(ph, "id", "phash", bands = 4,
          bandBits = 16, maxHamming = 8)
        .orderBy("doc_a", "doc_b")
    }),

    // aHash contract (round 12): the average-hash path — decode the
    // SAME q185 BMP scene through the real byte path (buildBmp ->
    // grayRaster -> 8x8 nearest-neighbor thumbnail -> mean
    // threshold) and pin (id, codec, thumb_hash) against an
    // arithmetic replay. The near-dup KEY stays pHash (q185);
    // imageHashes' scaladoc says so — this query gates that the
    // cheaper scan-time hash computes what it claims
    "q188_ahash_contract" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id")).as[Long]
      val media = docs.map { d =>
        val g = d / 4
        val gray = Array.tabulate(32 * 32) { i =>
          val y = i / 32; val x = i % 32
          40 + ((x * (3 + (g % 29).toInt) + y * (7 + (g % 23).toInt) +
            ((x * y) % 11) * (1 + (g % 19).toInt)) % 150) +
            (d % 4).toInt * 9 +
            (if (d % 4 == 3 && x == y) 15 else 0)
        }
        graft.ops.Multimodal.MediaRecord(d, "image",
          graft.ops.Multimodal.buildBmp(32, 32, gray))
      }
      graft.ops.Multimodal.imageHashes(media).toDF()
        .select(col("id"), col("codec"), col("thumb_hash"))
        .orderBy("id")
    }),

    // HTML -> text extraction end-to-end: wrap each document in a
    // deterministic page (title, style/script blocks, comment,
    // entities, two links), then extract visible text, title, links,
    // and the boilerplate-dominance ratio — every regex stays in the
    // RE2-compatible subset so the oracle replays extraction exactly
    "q109_html_extract" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val raw = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<style>p{color:#000}</style>"),
        lit("<script type=\"text/javascript\">var id="), id, lit(";</script>"),
        lit("</head><body><!-- id "), id, lit(" --><h1>Doc &amp; "), id,
        lit("</h1><p>"), col("text"),
        lit("</p><a href=\"https://example.com/"), id,
        lit("\">x</a><a href=\"/rel/"), id, lit("\">y</a></body></html>"))
      t(s, dir, "documents").select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          Html.title(col("raw")).as("title"),
          Html.stripHtml(col("raw")).as("text_clean"),
          size(Html.links(col("raw"))).cast(LongType).as("n_links"),
          element_at(Html.links(col("raw")), 1).as("first_link"),
          Html.visibleRatioMilli(col("raw"),
            Html.stripHtml(col("raw"))).as("visible_milli"))
        .orderBy("doc_id")
    }),

    // Main-content extraction: wrap each document in a deterministic
    // page carrying the chrome a real crawl carries — nav bar, cookie
    // banner, related-links list, footer — plus an entity-laden body
    // paragraph (named + decimal/hex numeric refs + double-escaped
    // &amp;lt;). The keep rule must drop every chrome block (nav/list
    // by length, cookie banner and footer by link density) and keep
    // both body paragraphs. The oracle replays segment -> score ->
    // filter -> rejoin with DuckDB list lambdas and per-entity
    // replaces (&amp; last), so a wrong keep threshold, a wrong
    // density division, or a wrong decode order all hash-mismatch.
    "q111_html_main_content" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val raw = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<style>nav{display:none}</style>"),
        lit("<script>var n="), id, lit(";</script></head><body>"),
        lit("<nav><a href=\"/\">Home</a> <a href=\"/docs\">Docs</a> " +
          "<a href=\"/about\">About</a></nav>"),
        lit("<div>This site uses tracking cookies for analytics purposes " +
          "<a href=\"/accept\">Accept all cookies</a> " +
          "<a href=\"/decline\">Decline optional cookies</a></div>"),
        lit("<h1>Doc "), id, lit("</h1><p>"), col("text"), lit("</p>"),
        lit("<p>Copyright &#169; 2024 Tom &amp; Jerry&apos;s &quot;Caf&#233; " +
          "&#xA9; Guide&quot; &amp;lt;draft&amp;gt; "), id, lit("</p>"),
        lit("<ul><li><a href=\"/a/"), id, lit("\">Related one</a></li>" +
          "<li><a href=\"/b/"), id, lit("\">Related two</a></li></ul>"),
        lit("<footer><a href=\"/privacy\">Privacy policy</a> | " +
          "<a href=\"/terms\">Terms of service</a> | contact "), id,
        lit("</footer><!-- end "), id, lit(" --></body></html>"))
      t(s, dir, "documents").select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          Html.mainContent(col("raw")).as("main_text"),
          length(Html.mainContent(col("raw"))).cast(LongType).as("main_len"))
        .orderBy("doc_id")
    }),

    // TF-IDF top-5 terms per document: exact integer tf/df, one
    // deterministic ln + round at the end (micro units)
    "q78_tfidf_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val toks = d.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = d.select(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(nDocs)
        .withColumn("score_micro",
          round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double"))
            * lit(1000000.0)).cast(LongType))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_micro").desc, col("term").asc)
      scored.withColumn("rnk", row_number().over(w).cast(LongType))
        .where(col("rnk") <= 5)
        .select("doc_id", "rnk", "term", "tf", "score_micro")
        .orderBy("doc_id", "rnk")
    }),

    "q52_term_search" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      d.select(col("doc_id"), TextAnalysis.termCount(col("tk"), "join").as("tf"))
        .where(col("tf") > 0)
        .orderBy(col("tf").desc, col("doc_id")).limit(100)
    }),

    "q53_sessionize" -> ((s, dir) => {
      val ev = events(s, dir)
      val w = Window.partitionBy("user_id").orderBy("ts")
      val flagged = ev.withColumn("us", expr("unix_micros(ts)"))
        .withColumn("prev", lag("us", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
      flagged
        .withColumn("sess", sum("new_s").over(
          Window.partitionBy("user_id").orderBy("us")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"), (max("us") - min("us")).as("dur_us"))
        .orderBy("user_id", "sess")
    }),

    // top session paths: q53's sessionization, then the ordered
    // event-type sequence per session, then path frequencies — the
    // "common user journeys" report. Path assembly is the q55/q90
    // sorted-struct idiom (deterministic under any shuffle order);
    // the final top-20 lowers to TakeOrderedAndProject.
    "q101_session_paths" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("us", expr("unix_micros(ts)"))
      val wOrd = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val flagged = ev
        .withColumn("prev", lag("us", 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sess", sum("new_s").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged.groupBy("user_id", "sess")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("us"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ">").as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), asc("path"))
        .limit(20)
    }),

    // retention cohorts: users bucketed by first-seen day, activity
    // counted per day-offset — two partial-aggregating shuffles on
    // user_id (the second reuses the first's partitioning) and a tiny
    // (cohort, offset) rollup
    "q102_retention_cohorts" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = e.groupBy("user_id").agg(min("day").as("cohort"))
      e.join(first, "user_id")
        .select(col("user_id"), col("cohort"),
          datediff(col("day"), col("cohort")).cast(LongType).as("offset_days"))
        .distinct()
        .groupBy("cohort", "offset_days")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "offset_days")
    }),

    "q55_array_agg" -> ((s, dir) => {
      // deterministic list aggregation: sorted array, string-joined
      // (string form keeps the comparator engine-agnostic)
      t(s, dir, "orders").groupBy("o_custkey")
        .agg(array_join(sort_array(collect_list(col("o_orderkey"))), ",")
            .as("order_ids"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_custkey")
    }),

    // q56's semantics through the NATIVE operator (AsOfJoin logical
    // node → AsOfJoinStrategy → AsOfJoinExec sorted merge): each
    // purchase joined to the user's latest prior-or-equal CLICK — the
    // custom physical path, oracle-checked against DuckDB's own ASOF
    // join on an event pair q56 doesn't use
    "q159_asof_native" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.where(col("event_type") === "click")
        .select("user_id", "ts")
      graft.ops.AsOf.joinAsOfNative(purchases, clicks, "user_id", "ts", "ts",
          Seq("ts"), "_click")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts_click)").as("click_us"))
        .orderBy("event_id")
    }),

    // the native as-of with BOUNDED STALENESS (kdb wj shape): the
    // q159 join where a click older than 1h no longer attributes —
    // the match collapses to null exactly when no click falls inside
    // the window, since the as-of match is already the latest one
    "q165_asof_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.where(col("event_type") === "click")
        .select("user_id", "ts")
      graft.ops.AsOf.joinAsOfNative(purchases, clicks, "user_id", "ts", "ts",
          Seq("ts"), "_click", tolerance = Some(3600000000L))
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts_click)").as("click_us"))
        .orderBy("event_id")
    }),

    "q56_asof_join" -> ((s, dir) => {
      // point-in-time: each purchase joined to the user's latest
      // prior-or-equal signup (AsOf op: one shuffle + window, no
      // range-join blowup)
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = ev.where(col("event_type") === "signup")
        .select("user_id", "ts")
      graft.ops.AsOf.joinAsOf(purchases, signups, "user_id", "ts", "ts",
          Seq("ts"), "_signup")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts_signup)").as("signup_us"))
        .orderBy("event_id")
    }),

    "q57_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("q50"),
          expr("percentile(l_quantity, 0.9)").as("q90"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "q58_exact_moments" -> ((s, dir) => {
      // variance/stddev from exact decimal power sums -> one final
      // deterministic double step (builtin stddev accumulates doubles
      // in partition order: not reproducible, not oracle-comparable)
      val q = dec(col("l_quantity"))
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(q).cast("double").as("s1"),
          sum(q * q).cast("double").as("s2"))
        .select(col("l_returnflag"), col("n"),
          ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
            .as("var_qty"))
        .orderBy("l_returnflag")
    }),

    "q60_corpus_clean" -> ((s, dir) => {
      // end-to-end cleaning over a corpus with planted exact (+2M ids)
      // and near (+1M ids, truncated) duplicates
      val d = t(s, dir, "documents")
      val exact = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      val trunc = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr(s"concat_ws(' ', slice($tkSql, 1, greatest((size($tkSql) * 4) div 5, 1)))")
            .as("text"))
      val corpus = d.select("doc_id", "text").unionAll(exact).unionAll(trunc)
      graft.pipeline.CorpusClean.clean(corpus)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    "q66_bpe_token_count" -> ((s, dir) => {
      // BPE-ish subword counting: letter runs, digit runs, punct runs
      // (whitespace token count rides along for comparison)
      t(s, dir, "documents").select(col("doc_id"),
        expr("regexp_count(text, '(?:[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]+)')")
          .cast(LongType).as("bpe_tokens"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"))
        .orderBy("doc_id")
    }),

    "q67_winnow_fingerprint" -> ((s, dir) => {
      // rolling-hash fingerprint: hash every 8-char gram, keep hashes
      // ≡ 0 (mod 16) (mod-p sampling — the scalable cousin of
      // winnowing), md5 the sorted selection
      t(s, dir, "documents").select(col("doc_id"),
        expr("""md5(concat_ws(',', array_sort(filter(
          transform(sequence(1, greatest(length(text) - 7, 1)),
            i -> cast(conv(substring(md5(substring(text, i, 8)), 1, 8), 16, 10) as bigint)),
          h -> h % 16 = 0))))""").as("winnow_fp"))
        .orderBy("doc_id")
    }),

    "q54_word_freq" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(50)
    }),

    // approximate heavy hitters with the q35/q94 accuracy-contract
    // pattern: exact top-20 term counts (true differential check) + a
    // boolean asserting the Count-Min estimate landed within its
    // eps * N overcount bound. The sketch is the 100 TB shape for
    // "how hot is key X": one pass, fixed ~224 KB mergeable state per
    // partition regardless of cardinality, no per-key shuffle — the
    // exact groupBy here exists to JUDGE the sketch (and feed the
    // differential oracle), not as the production path. Seeded, so
    // the estimates — and the booleans — are deterministic. The
    // corpus is tokenized ONCE: the exploded frame is cached, and the
    // sketch + total ride a single aggregation (the SQL
    // count_min_sketch agg builds the identical sketch to
    // stat.countMinSketch — same eps/confidence/seed, same hashes).
    "q112_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .persist()
      try {
        val eps = 0.0005
        val row = toks.agg(
          expr(s"count_min_sketch(term, ${eps}d, 0.99d, 42)").as("cms"),
          count(lit(1)).as("total")).head()
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("cms")))
        val total = row.getLong(1)
        val bound = math.ceil(eps * total).toLong
        val top = toks.groupBy("term").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("term")).limit(20)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        top.toSeq.map { case (term, n) =>
          val est = cms.estimateCount(term)
          (term, n, est >= n && est <= n + bound)
        }.toDF("term", "n_exact", "cms_within_eps")
          .orderBy(col("n_exact").desc, col("term"))
      } finally { toks.unpersist(); () }
    }),

    // heavy-hitter ENUMERATION — the production half q112's sketch
    // lacks (Count-Min estimates a named key but cannot LIST the hot
    // keys). A k=29 Misra-Gries summary (mergeable; SpaceSaving's
    // deterministic twin) enumerates candidates in one shuffle-free
    // pass; the exact top-20 groupBy is the judge. Booleans assert
    // the summary's two theorems per top term: no false negative
    // above the ceil(N/(k+1)) threshold, and undercount-only
    // estimates within that bound. k=29 sits deliberately BELOW the
    // fixture's 31-word vocabulary so eviction and the merge's
    // subtract step genuinely run, while the ~3.4%-of-N top terms
    // still clear the ~3.3% bound — the guarantee is exercised, not
    // vacuous. Both theorems hold for ANY input, so the booleans are
    // deterministic at every scale factor.
    "q113_frequent_terms" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .persist()
      try {
        val k = 29
        val mg = graft.ops.FrequentKeys.summarize(toks, "term", k)
        val est = mg.estimates
        val bound = mg.bound
        val top = toks.groupBy("term").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("term")).limit(20)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        top.toSeq.map { case (term, n) =>
          val e = est.get(term)
          val enumerated = n <= bound || e.isDefined
          val inBound = e.forall(v => v <= n && n - v <= bound)
          (term, n, enumerated && inBound)
        }.toDF("term", "n_exact", "mg_contract")
          .orderBy(col("n_exact").desc, col("term"))
      } finally { toks.unpersist(); () }
    }),

    // passage-level BM25: the q143 sliding chunks feeding the q115
    // retrieval machinery — rank 32-token passages (stride 24), not
    // whole documents, for the fixed query; the RAG indexing shape
    // end-to-end (chunk -> score -> provenance back to (doc, chunk)).
    // Scoring tail SHARED with q115/q135 (bm25Score), so passage and
    // document retrieval cannot drift; passage unit id is the
    // synthetic doc_id*1000+chunk_idx the oracle replays verbatim.
    "q151_passage_bm25" -> ((s, dir) => {
      val qts = Seq("join", "data", "spark")
      val chunks = graft.ops.Packing.chunkTokens(t(s, dir, "documents"),
          "doc_id", "split(lower(trim(text)), '\\\\s+')",
          size = 32, stride = 24)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("doc_id"),
          col("chunk_text"))
      val toks = chunks.select(col("doc_id"),
        explode(split(col("chunk_text"), " ")).as("term"))
      val tf = toks.where(col("term").isin(qts: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val dl = chunks.select(col("doc_id"),
        expr("CAST(size(split(chunk_text, ' ')) AS BIGINT)").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        sum("dl").as("total_len"))
      graft.ops.InvertedIndex.bm25Score(tf, dfreq, dl, stats, k = 10)
        .select(expr("doc_id DIV 1000").as("src_doc"),
          expr("CAST(doc_id % 1000 AS INT)").as("chunk_idx"),
          col("score_micro"), col("n_terms_hit"))
        .orderBy(desc("score_micro"), col("src_doc"), col("chunk_idx"))
    }),

    // TWO-PASS EXACT heavy hitters — the production path that makes
    // q112/q113's judge-only full groupBy unnecessary: pass 1 is the
    // O(k)-state Misra-Gries summary (its no-false-negative theorem
    // guarantees every key with count > ceil(N/(k+1)) survives as a
    // candidate); pass 2 exact-counts ONLY the <= k candidate keys
    // (the isin filter pushes to the scan, so the shuffle carries
    // candidate rows, never the full key space). The result is the
    // provably exact top-10 in two scans with O(k) driver state. The
    // soundness condition is CHECKED, not assumed: if the 10th
    // candidate count did not clear the MG bound the query fails
    // loudly instead of returning a silently-wrong top-k.
    "q150_exact_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .persist()
      try {
        val k = 29
        val mg = graft.ops.FrequentKeys.summarize(toks, "term", k)
        val cands = mg.estimates.keys.toSeq
        val top = toks.where(col("term").isin(cands: _*))
          .groupBy("term").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("term")).limit(10)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        require(top.length == 10 && top.last._2 > mg.bound,
          s"top-10 exactness not provable: 10th candidate count" +
            s" ${top.lastOption.map(_._2)} must exceed MG bound ${mg.bound}" +
            s" (raise k)")
        top.toSeq.toDF("term", "n_exact")
          .orderBy(col("n_exact").desc, col("term"))
      } finally { toks.unpersist(); () }
    }),

    // fuzzy vocabulary self-join: every term pair within edit
    // distance 2 over the combined document + part-name vocabulary —
    // the spelling-variant / typo-cluster detector. Candidates come
    // from q-gram count-filter blocking (never all pairs); exact
    // levenshtein verifies candidates only. See ops/FuzzyJoin.
    "q114_fuzzy_vocab" -> ((s, dir) => {
      val docTerms = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      val partTerms = t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("term"))
      val vocab = docTerms.unionAll(partTerms)
        .where(length(col("term")) >= 3 && col("term").rlike("^[a-z]+$"))
      graft.ops.FuzzyJoin.selfJoin(vocab, "term", maxDist = 2)
        .orderBy("a", "b")
    }),

    // BM25 ranked retrieval (Okapi, k1=1.2, b=0.75, Lucene-style
    // idf = ln(1 + (N-df+0.5)/(df+0.5))) for a fixed 3-term query.
    // Per-term contributions are rounded to micro-units BEFORE the
    // per-doc sum, so the score is an exact integer — deterministic
    // under any aggregation order and bit-identical to the oracle
    // (the repo's dec/micro idiom). df is a tiny per-term frame
    // (broadcast join); doc lengths and tf are one tokenization scan.
    "q115_bm25" -> ((s, dir) => {
      val qts = Seq("join", "data", "spark")
      val d = t(s, dir, "documents")
      val toks = d.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      val dl = d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("dl"))
      val stats = d.agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("total_len"))
      val tf = toks.where(col("term").isin(qts: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      graft.ops.InvertedIndex.bm25Score(tf, dfreq, dl, stats, k = 20)
    }),

    // the same BM25 contract answered from the MATERIALIZED inverted
    // index instead of a corpus re-scan: probe touches only the query
    // terms' postings (bucket prune + pushed term filter) plus the
    // |docs|-row _doclen sidecar — the production retrieval path the
    // index exists for (shared scoring tail with q115, so the two
    // paths cannot drift)
    "q135_bm25_index" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = SparkBridge.tempDir("graft_q135")
        .resolve("idx").toString
      graft.ops.InvertedIndex.writeIndex(d, "doc_id", "text", idx)
      graft.ops.InvertedIndex.bm25SearchIndex(s, idx,
        Seq("merge", "stream", "vector"), k = 15)
    }),

    // EXACT Jaccard-threshold near-dup self-join via prefix filtering
    // (the AllPairs/PPJoin shape): every pair at >= 0.4 Jaccard over
    // distinct 3-gram shingles, with NO recall loss — the lossless
    // complement to the banded-LSH path (q45/q103). Candidates come
    // only from shared LOW-df prefix shingles; exact verification on
    // candidates only. The oracle is the quadratic ground truth, so a
    // single missed pair (a broken filter theorem) fails the hash.
    "q126_setjoin_prefix" -> ((s, dir) => {
      graft.ops.PrefixJoin.selfJoin(t(s, dir, "documents"),
          "doc_id", "text", shingleWidth = 3, minJaccardMilli = 400)
        .orderBy("doc_a", "doc_b")
    }),

    // EXACT directed containment at >= 0.6 over distinct 3-gram
    // shingles — the asymmetric partial-duplicate signal (short doc
    // swallowed by long doc) Jaccard structurally misses; prefix
    // filter on the contained side only, lossless (quadratic oracle)
    "q131_containment_join" -> ((s, dir) => {
      graft.ops.PrefixJoin.containmentSelfJoin(t(s, dir, "documents"),
          "doc_id", "text", shingleWidth = 3, minContainMilli = 600)
        .orderBy("doc_a", "doc_b")
    }),

    // exact positional phrase search end-to-end over a MATERIALIZED
    // inverted index: postings (term, doc, tf, positions) written
    // hive-partitioned by term-hash bucket, probe reads ONLY the
    // phrase terms' buckets (static prune) with the term set pushed
    // into the scan, then the n-way positional equi-join on
    // (doc, anchor) counts adjacent-ordered occurrences — no regex,
    // no corpus re-scan. Oracle recomputes occurrences positionally
    // from the raw text.
    "q134_phrase_search" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = SparkBridge.tempDir("graft_q134")
        .resolve("idx").toString
      graft.ops.InvertedIndex.writeIndex(d, "doc_id", "text", idx)
      graft.ops.InvertedIndex.phraseSearchIndex(s, idx, Seq("table", "hash"))
        .orderBy("doc")
    }),

    // token co-occurrence PMI with a-priori support pruning: frequent
    // tokens (df >= minDf — a tiny broadcast frame) generate in-row
    // ordered pairs per doc; pair counts + document frequencies give
    // pointwise mutual information in exact micro-nats (q91 rounding
    // convention). The support prune is the scale lever: pair volume
    // is bounded by (frequent types per doc)², never (vocab)².
    "q129_pmi_pairs" -> ((s, dir) => {
      val minDf = 25L
      val minPair = 10L
      val d = t(s, dir, "documents")
      val types = d.select(col("doc_id"),
        array_sort(array_distinct(TextAnalysis.tokens(col("text")))).as("ts"))
      val dfT = types.select(explode(col("ts")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val freq = dfT.where(col("df") >= minDf)
      val ft = types.select(col("doc_id"), explode(col("ts")).as("tok"))
        .join(broadcast(freq.select("tok")), "tok")
        .groupBy("doc_id").agg(sort_array(collect_list(col("tok"))).as("fs"))
      val pairs = ft.select(explode(expr(
          "flatten(transform(fs, (x, i) -> " +
            "transform(slice(fs, i + 2, size(fs)), y -> struct(x, y))))"))
          .as("p"))
        .select(col("p.x").as("a"), col("p.y").as("b"))
      val cab = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        .where(col("c_ab") >= minPair)
      cab
        .join(broadcast(freq.select(col("tok").as("a"), col("df").as("c_a"))), "a")
        .join(broadcast(freq.select(col("tok").as("b"), col("df").as("c_b"))), "b")
        .crossJoin(broadcast(d.agg(count(lit(1)).as("n_docs"))))
        .withColumn("pmi_micro",
          round(log(col("c_ab").cast("double") * col("n_docs").cast("double")
            / (col("c_a").cast("double") * col("c_b").cast("double")))
            * lit(1000000.0)).cast(LongType))
        .select("a", "b", "c_ab", "c_a", "c_b", "pmi_micro")
        .orderBy(col("pmi_micro").desc, col("a"), col("b")).limit(30)
    }))

  // ---- oracle SQL -------------------------------------------------

  private val corpusCte =
    """corpus AS (
         SELECT doc_id, lang, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, lang,
           array_to_string(tk[1:greatest((len(tk)*4)//5, 1)], ' ') AS text
         FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS tk
               FROM documents WHERE doc_id % 5 = 0))"""

  private val sampledCorpusCte =
    """corpus AS (
         SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 = 0
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, lang,
           array_to_string(tk[1:greatest((len(tk)*4)//5, 1)], ' ') AS text
         FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS tk
               FROM documents WHERE doc_id % 20 = 0))"""

  private val simhashSums =
    (0 until 32).map(j => s"SUM((hv >> $j) & 1) AS s$j").mkString(", ")
  private val simhashBits =
    (0 until 32).map(j => s"(CASE WHEN 2*s$j > n THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")

  val oracles: Map[String, String] = Map(
    "q40_token_stats" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_m,
         CAST(length(regexp_replace(text, '\s', '', 'g')) * 1000
              // len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS avg_tok_len_milli
         FROM documents ORDER BY doc_id""",
    "q41_lang_id" ->
      """WITH s AS (SELECT doc_id, lang,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t = 'the')) AS s_en,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t = 'und')) AS s_de,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t = 'el')) AS s_es,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t = 'le')) AS s_fr,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t = '的')) AS s_zh
           FROM documents)
         SELECT doc_id, lang,
           CASE WHEN s_en + s_de + s_es + s_fr + s_zh = 0 THEN 'unknown'
                WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS pred_lang
         FROM s ORDER BY doc_id""",
    "q42_quality_score" ->
      """WITH s AS (SELECT doc_id,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_cnt,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and' OR t = 'to')) AS BIGINT) AS stop_cnt
           FROM documents)
         SELECT doc_id, n_tokens, punct_cnt, stop_cnt,
           CAST(stop_cnt * 1000 // n_tokens AS BIGINT) AS stop_ratio_milli,
           CASE WHEN n_tokens >= 50 AND stop_cnt * 1000 // n_tokens >= 50 THEN 'good'
                WHEN n_tokens >= 20 THEN 'ok' ELSE 'short' END AS quality_band
         FROM s ORDER BY doc_id""",
    "q43_fingerprint" ->
      """SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
           ' +', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id""",
    "q44_dedup_exact" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)
         SELECT md5('(' || coalesce(text, '') || ')') AS fingerprint,
           MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
         FROM corpus GROUP BY 1 ORDER BY fingerprint""",
    "q83_pii_scrub" ->
      """WITH planted AS (SELECT doc_id,
           concat_ws(' ', text, 'contact_' || CAST(doc_id AS VARCHAR),
             'user@example.com', 'https://example.org/x?y=1',
             'call 555 123 4567 now') AS text
           FROM documents)
         SELECT doc_id, md5(
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
             '[0-9][0-9 ()+.-]{6,}[0-9]', '<NUMBER>', 'g')) AS fp
         FROM planted ORDER BY doc_id""",
    "q82_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
           < CASE lang WHEN 'en' THEN 300 WHEN 'de' THEN 800
                       WHEN 'zh' THEN 800 ELSE 100 END
         ORDER BY doc_id""",
    "q80_weighted_minhash_pairs" ->
      s"""WITH $corpusCte,
         toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
                  FROM corpus),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         reps AS (SELECT doc_id, tok || '#' || CAST(rep AS VARCHAR) AS elem
                  FROM tf, LATERAL (SELECT unnest(range(1, tf + 1)) AS rep) r),
         hx AS (SELECT doc_id,
                  ('0x' || substr(md5(elem), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(elem), 9, 8))::BIGINT AS h2
                FROM reps),
         mh AS (SELECT doc_id, s.seed, min((h1 + s.seed * h2) % 4294967296) AS h
                FROM hx, (SELECT unnest(range(0, 8)) AS seed) s GROUP BY 1, 2),
         sig AS (SELECT doc_id, seed // 4 AS band,
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bandsig
                 FROM mh GROUP BY 1, 2),
         ok_buckets AS (SELECT band, bandsig FROM sig GROUP BY 1, 2
                        HAVING COUNT(*) BETWEEN 2 AND 1000)
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sig a JOIN sig b ON a.band = b.band AND a.bandsig = b.bandsig
           AND a.doc_id < b.doc_id
         JOIN ok_buckets ob ON ob.band = a.band AND ob.bandsig = a.bandsig
         ORDER BY doc_a, doc_b""",
    // q45's pair chain + transitive closure (recursive CTE, UNION
    // dedups so it terminates on cycles); component = min reachable id
    "q77_neardup_clusters" ->
      s"""WITH RECURSIVE $corpusCte,
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM corpus),
         sh AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk)-1, 1))) AS i) r),
         hx AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
                FROM sh),
         mh AS (SELECT doc_id, s.seed, min((h1 + s.seed * h2) % 4294967296) AS h
                FROM hx, (SELECT unnest(range(0, 8)) AS seed) s GROUP BY 1, 2),
         sig AS (SELECT doc_id, seed // 2 AS band,
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bandsig
                 FROM mh GROUP BY 1, 2),
         ok_buckets AS (SELECT band, bandsig FROM sig GROUP BY 1, 2
                        HAVING COUNT(*) BETWEEN 2 AND 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sig a JOIN sig b ON a.band = b.band AND a.bandsig = b.bandsig
                     AND a.doc_id < b.doc_id
                   JOIN ok_buckets ob ON ob.band = a.band AND ob.bandsig = a.bandsig),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (SELECT src, dst FROM edges
                   UNION
                   SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
         comp AS (SELECT src AS id, least(src, MIN(dst)) AS component
                  FROM reach GROUP BY src)
         SELECT id, component FROM comp ORDER BY id""",

    // q77's closure + per-cluster keep-longest argmax (ties -> min id)
    "q136_cluster_survivorship" ->
      s"""WITH RECURSIVE $corpusCte,
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM corpus),
         sh AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk)-1, 1))) AS i) r),
         hx AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
                FROM sh),
         mh AS (SELECT doc_id, s.seed, min((h1 + s.seed * h2) % 4294967296) AS h
                FROM hx, (SELECT unnest(range(0, 8)) AS seed) s GROUP BY 1, 2),
         sig AS (SELECT doc_id, seed // 2 AS band,
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bandsig
                 FROM mh GROUP BY 1, 2),
         ok_buckets AS (SELECT band, bandsig FROM sig GROUP BY 1, 2
                        HAVING COUNT(*) BETWEEN 2 AND 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sig a JOIN sig b ON a.band = b.band AND a.bandsig = b.bandsig
                     AND a.doc_id < b.doc_id
                   JOIN ok_buckets ob ON ob.band = a.band AND ob.bandsig = a.bandsig),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (SELECT src, dst FROM edges
                   UNION
                   SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
         comp AS (SELECT src AS id, least(src, MIN(dst)) AS component
                  FROM reach GROUP BY src),
         qual AS (SELECT doc_id,
                    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
                      AS n_tokens FROM corpus),
         ranked AS (SELECT c.component, q.doc_id, q.n_tokens,
                      ROW_NUMBER() OVER (PARTITION BY c.component
                        ORDER BY q.n_tokens DESC, q.doc_id) AS rn,
                      COUNT(*) OVER (PARTITION BY c.component) AS n_members
                    FROM comp c JOIN qual q ON q.doc_id = c.id)
         SELECT component, CAST(n_members AS BIGINT) AS n_members,
           n_tokens AS keeper_tokens, doc_id AS keeper_id
         FROM ranked WHERE rn = 1 ORDER BY component""",

    "q140_text_normalize" ->
      """WITH noisy AS (SELECT doc_id, text,
           replace(replace(text, 'a', 'a' || chr(769)), ' ', '  ') AS noisy
           FROM documents)
         SELECT doc_id,
           CAST(length(noisy) AS BIGINT) AS len_noisy,
           CAST(length(nfc_normalize(noisy)) AS BIGINT) AS len_nfc,
           CAST(length(strip_accents(nfc_normalize(noisy))) AS BIGINT) AS len_stripped,
           lower(trim(regexp_replace(strip_accents(nfc_normalize(noisy)), '[\p{Z}\s]+', ' ', 'g')))
             = lower(trim(regexp_replace(text, '[\p{Z}\s]+', ' ', 'g'))) AS restored
         FROM noisy ORDER BY doc_id""",

    // q77's chain to components, unit = COALESCE(component, doc_id),
    // q105's md5 split keyed by unit, leak count replayed from the
    // same pair evidence
    "q139_leakage_safe_split" ->
      s"""WITH RECURSIVE $corpusCte,
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM corpus),
         sh AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk)-1, 1))) AS i) r),
         hx AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
                FROM sh),
         mh AS (SELECT doc_id, s.seed, min((h1 + s.seed * h2) % 4294967296) AS h
                FROM hx, (SELECT unnest(range(0, 8)) AS seed) s GROUP BY 1, 2),
         sig AS (SELECT doc_id, seed // 2 AS band,
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bandsig
                 FROM mh GROUP BY 1, 2),
         ok_buckets AS (SELECT band, bandsig FROM sig GROUP BY 1, 2
                        HAVING COUNT(*) BETWEEN 2 AND 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sig a JOIN sig b ON a.band = b.band AND a.bandsig = b.bandsig
                     AND a.doc_id < b.doc_id
                   JOIN ok_buckets ob ON ob.band = a.band AND ob.bandsig = a.bandsig),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (SELECT src, dst FROM edges
                   UNION
                   SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
         comp AS (SELECT src AS id, least(src, MIN(dst)) AS component
                  FROM reach GROUP BY src),
         units AS (SELECT c2.doc_id, COALESCE(cp.component, c2.doc_id) AS unit
                   FROM corpus c2 LEFT JOIN comp cp ON cp.id = c2.doc_id),
         asg AS (SELECT doc_id, unit,
                   CASE WHEN ('0x' || substr(md5(CAST(unit AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900
                          THEN 'train'
                        WHEN ('0x' || substr(md5(CAST(unit AS VARCHAR)), 1, 8))::BIGINT % 1000 < 950
                          THEN 'val'
                        ELSE 'test' END AS split
                 FROM units)
         SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT unit) AS BIGINT) AS n_units,
           (SELECT CAST(COALESCE(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT)
            FROM pairs p JOIN asg a ON a.doc_id = p.doc_a
              JOIN asg b ON b.doc_id = p.doc_b) AS leaked_pairs
         FROM asg GROUP BY split ORDER BY split""",

    // one signature chain over bench ∪ corpus, bucket-joined ACROSS
    // sides only (no within-side pairs — mirroring
    // lshCandidatePairsAcross), exact Jaccard on candidates
    "q137_fuzzy_contamination" ->
      """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
                    UNION ALL
                    SELECT doc_id + 1000000 AS doc_id,
                      array_to_string(tk[1:greatest((len(tk)*4)//5, 1)], ' ') AS text
                    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                          FROM documents WHERE doc_id % 50 = 0)),
         all_ AS (SELECT * FROM bench UNION ALL SELECT * FROM corpus),
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM all_),
         sh AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk)-1, 1))) AS i) r
                WHERE len(tk) >= 3),
         hx AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
                FROM sh),
         mh AS (SELECT doc_id, s.seed, min((h1 + s.seed * h2) % 4294967296) AS h
                FROM hx, (SELECT unnest(range(0, 8)) AS seed) s GROUP BY 1, 2),
         sig AS (SELECT doc_id, seed // 2 AS band,
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bandsig
                 FROM mh GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM sig a JOIN sig b ON a.band = b.band AND a.bandsig = b.bandsig
                  WHERE a.doc_id % 50 = 0 AND a.doc_id < 1000000
                    AND NOT (b.doc_id % 50 = 0 AND b.doc_id < 1000000)),
         shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM shd GROUP BY 1),
         ov AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
                FROM cand c JOIN shd a ON a.doc_id = c.doc_a
                  JOIN shd b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
                GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000 // (sa.sz + sb.sz - n_common) AS BIGINT)
             AS jaccard_milli
         FROM ov JOIN sz sa ON sa.doc_id = ov.doc_a
                 JOIN sz sb ON sb.doc_id = ov.doc_b
         WHERE n_common * 1000 // (sa.sz + sb.sz - n_common) >= 300
         ORDER BY doc_a, doc_b""",
    "q45_minhash_pairs" ->
      s"""WITH $corpusCte,
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM corpus),
         sh AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk)-1, 1))) AS i) r),
         hx AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
                FROM sh),
         mh AS (SELECT doc_id, s.seed, min((h1 + s.seed * h2) % 4294967296) AS h
                FROM hx, (SELECT unnest(range(0, 8)) AS seed) s GROUP BY 1, 2),
         sig AS (SELECT doc_id, seed // 2 AS band,
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bandsig
                 FROM mh GROUP BY 1, 2),
         ok_buckets AS (SELECT band, bandsig FROM sig GROUP BY 1, 2
                        HAVING COUNT(*) BETWEEN 2 AND 1000)
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sig a JOIN sig b ON a.band = b.band AND a.bandsig = b.bandsig
           AND a.doc_id < b.doc_id
         JOIN ok_buckets ob ON ob.band = a.band AND ob.bandsig = a.bandsig
         ORDER BY doc_a, doc_b""",
    // q45's chain to candidate pairs, then exact distinct-shingle
    // Jaccard via a shared-shingle join (set sizes precomputed)
    "q103_verified_neardup_pairs" ->
      s"""WITH $corpusCte,
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM corpus),
         sh AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk)-1, 1))) AS i) r),
         hx AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
                FROM sh),
         mh AS (SELECT doc_id, s.seed, min((h1 + s.seed * h2) % 4294967296) AS h
                FROM hx, (SELECT unnest(range(0, 8)) AS seed) s GROUP BY 1, 2),
         sig AS (SELECT doc_id, seed // 2 AS band,
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bandsig
                 FROM mh GROUP BY 1, 2),
         ok_buckets AS (SELECT band, bandsig FROM sig GROUP BY 1, 2
                        HAVING COUNT(*) BETWEEN 2 AND 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sig a JOIN sig b ON a.band = b.band AND a.bandsig = b.bandsig
                     AND a.doc_id < b.doc_id
                   JOIN ok_buckets ob ON ob.band = a.band AND ob.bandsig = a.bandsig),
         dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nsh FROM dsh GROUP BY 1),
         inter AS (SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
                   FROM pairs p
                   JOIN dsh a ON a.doc_id = p.doc_a
                   JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
                   GROUP BY 1, 2),
         j AS (SELECT i.doc_a, i.doc_b, n_common,
                 n_common * 1000 // (sa.nsh + sb.nsh - n_common) AS jaccard_milli
               FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                 JOIN sizes sb ON sb.doc_id = i.doc_b)
         SELECT doc_a, doc_b, n_common, CAST(jaccard_milli AS BIGINT) AS jaccard_milli
         FROM j WHERE jaccard_milli >= 300 ORDER BY doc_a, doc_b""",
    // q103's chain at threshold 500, folded to the per-doc quarantine
    // verdict (doc_b side): the streaming decision, batch-checked
    "q106_neardup_quarantine" ->
      s"""WITH $corpusCte,
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM corpus),
         sh AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk)-1, 1))) AS i) r),
         hx AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
                FROM sh),
         mh AS (SELECT doc_id, s.seed, min((h1 + s.seed * h2) % 4294967296) AS h
                FROM hx, (SELECT unnest(range(0, 8)) AS seed) s GROUP BY 1, 2),
         sig AS (SELECT doc_id, seed // 2 AS band,
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bandsig
                 FROM mh GROUP BY 1, 2),
         ok_buckets AS (SELECT band, bandsig FROM sig GROUP BY 1, 2
                        HAVING COUNT(*) BETWEEN 2 AND 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sig a JOIN sig b ON a.band = b.band AND a.bandsig = b.bandsig
                     AND a.doc_id < b.doc_id
                   JOIN ok_buckets ob ON ob.band = a.band AND ob.bandsig = a.bandsig),
         dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nsh FROM dsh GROUP BY 1),
         inter AS (SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
                   FROM pairs p
                   JOIN dsh a ON a.doc_id = p.doc_a
                   JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
                   GROUP BY 1, 2),
         j AS (SELECT i.doc_a, i.doc_b, n_common,
                 n_common * 1000 // (sa.nsh + sb.nsh - n_common) AS jaccard_milli
               FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                 JOIN sizes sb ON sb.doc_id = i.doc_b)
         SELECT doc_b AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_collisions,
           MIN(doc_a) AS first_corpus_id,
           CAST(MAX(jaccard_milli) AS BIGINT) AS best_jaccard_milli
         FROM j WHERE jaccard_milli >= 500 GROUP BY doc_b ORDER BY doc_id""",
    "q46_ngram_jaccard" ->
      s"""WITH $sampledCorpusCte,
         toks AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS tk
                  FROM corpus WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2),
         sh AS (SELECT DISTINCT doc_id, lang, array_to_string(tk[i:i+1], ' ') AS shingle
                FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk), 1))) AS i) r),
         sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
         common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
                    FROM sh a JOIN sh b ON a.lang = b.lang AND a.shingle = b.shingle
                      AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT id_a AS doc_a, id_b AS doc_b,
           CAST(n_common * 1000 // (sa.nsh + sb.nsh - n_common) AS BIGINT) AS jaccard_milli
         FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         WHERE n_common * 1000 // (sa.nsh + sb.nsh - n_common) >= 300
         ORDER BY doc_a, doc_b""",
    "q47_simhash" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
                FROM documents),
         h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM tk),
         b AS (SELECT doc_id, COUNT(*) AS n, $simhashSums FROM h GROUP BY 1)
         SELECT doc_id, CAST($simhashBits AS BIGINT) AS simhash
         FROM b ORDER BY doc_id""",
    // 60-bit simhash via a bit-position lateral range (no 60-term
    // macro), banded join, exact bit_count(xor) verify
    "q104_simhash_neardup" ->
      s"""WITH $corpusCte,
         toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
                  FROM corpus),
         hv AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
         bs AS (SELECT doc_id, j, SUM((hv >> j) & 1) AS s, COUNT(*) AS n
                FROM hv, (SELECT unnest(range(0, 60)) AS j) jj GROUP BY 1, 2),
         sh AS (SELECT doc_id,
                  SUM(CASE WHEN 2 * s > n THEN (1::BIGINT << j) ELSE 0 END) AS simhash
                FROM bs GROUP BY 1),
         keys AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bandval
                  FROM sh, (SELECT unnest(range(0, 4)) AS b) bb),
         bkt AS (SELECT b, bandval FROM keys GROUP BY 1, 2
                 HAVING COUNT(*) BETWEEN 2 AND 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS ha, b.simhash AS hb
                  FROM keys a JOIN keys b ON a.b = b.b AND a.bandval = b.bandval
                    AND a.doc_id < b.doc_id
                  JOIN bkt ON bkt.b = a.b AND bkt.bandval = a.bandval)
         SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(ha, hb)) <= 8
         ORDER BY doc_a, doc_b""",
    // the raster regenerated arithmetically (q142 pattern), then the
    // full integer pHash + banding pipeline rendered by the op itself
    // (basis table ships as literals — no cross-engine cos())
    "q185_phash_neardup" ->
      s"""WITH pixels AS (SELECT d.doc_id AS id, xx.x, yy.y,
             40 + ((xx.x * (3 + (d.doc_id // 4) % 29)
                  + yy.y * (7 + (d.doc_id // 4) % 23)
                  + ((xx.x * yy.y) % 11) * (1 + (d.doc_id // 4) % 19)) % 150)
               + (d.doc_id % 4) * 9
               + CASE WHEN d.doc_id % 4 = 3 AND xx.x = yy.y THEN 15 ELSE 0 END
               AS px
           FROM documents d,
                (SELECT unnest(range(0, 32)) AS x) xx,
                (SELECT unnest(range(0, 32)) AS y) yy),
         ${graft.ops.Multimodal.phashNearDupSql(maxHamming = 8,
            maxBucketSize = 1000)}""",
    // aHash replay: the 8x8 nearest-neighbor thumbnail of a 32x32
    // raster reads exactly the pixels at multiples of 4; mean is the
    // same floor division both engines perform on positive ints; bit
    // 63 ships as min-long (the q185 two's-complement idiom)
    "q188_ahash_contract" ->
      s"""WITH pixels AS (SELECT d.doc_id AS id, xx.x, yy.y,
             40 + ((xx.x * (3 + (d.doc_id // 4) % 29)
                  + yy.y * (7 + (d.doc_id // 4) % 23)
                  + ((xx.x * yy.y) % 11) * (1 + (d.doc_id // 4) % 19)) % 150)
               + (d.doc_id % 4) * 9
               + CASE WHEN d.doc_id % 4 = 3 AND xx.x = yy.y THEN 15 ELSE 0 END
               AS px
           FROM documents d,
                (SELECT unnest(range(0, 32)) AS x) xx,
                (SELECT unnest(range(0, 32)) AS y) yy),
         th AS (SELECT id, (y // 4) * 8 + (x // 4) AS i, px
                FROM pixels WHERE x % 4 = 0 AND y % 4 = 0),
         mn AS (SELECT id, SUM(px) // 64 AS mean FROM th GROUP BY 1),
         ah AS (SELECT t.id,
                  CAST(SUM(CASE WHEN t.px > m.mean THEN
                        CASE WHEN t.i = 63 THEN -9223372036854775807 - 1
                             ELSE (1::BIGINT << t.i) END
                      ELSE 0 END) AS BIGINT) AS thumb_hash
                FROM th t JOIN mn m ON m.id = t.id GROUP BY 1)
         SELECT id, 'bmp' AS codec, thumb_hash FROM ah ORDER BY id""",

    "q109_html_extract" ->
      """WITH raw AS (SELECT doc_id,
           '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
           || '<style>p{color:#000}</style>'
           || '<script type="text/javascript">var id='
           || CAST(doc_id AS VARCHAR) || ';</script>'
           || '</head><body><!-- id ' || CAST(doc_id AS VARCHAR)
           || ' --><h1>Doc &amp; ' || CAST(doc_id AS VARCHAR)
           || '</h1><p>' || text
           || '</p><a href="https://example.com/' || CAST(doc_id AS VARCHAR)
           || '">x</a><a href="/rel/' || CAST(doc_id AS VARCHAR)
           || '">y</a></body></html>' AS raw
           FROM documents),
         c AS (SELECT doc_id, raw,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(raw,
                       '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                 '<[^>]*>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
             '\s+', ' ', 'g')) AS text_clean
           FROM raw)
         SELECT doc_id,
           regexp_extract(raw, '(?is)<title[^>]*>([^<]*)</title>', 1) AS title,
           text_clean,
           CAST(len(regexp_extract_all(raw, 'href="([^"]*)"', 1)) AS BIGINT)
             AS n_links,
           regexp_extract_all(raw, 'href="([^"]*)"', 1)[1] AS first_link,
           CASE WHEN strlen(raw) = 0 THEN 0
                ELSE CAST(strlen(text_clean) AS BIGINT) * 1000 // strlen(raw)
           END AS visible_milli
         FROM c ORDER BY doc_id""",
    "q111_html_main_content" ->
      """WITH raw AS (SELECT doc_id,
           '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
           || '<style>nav{display:none}</style>'
           || '<script>var n=' || CAST(doc_id AS VARCHAR) || ';</script></head><body>'
           || '<nav><a href="/">Home</a> <a href="/docs">Docs</a> <a href="/about">About</a></nav>'
           || '<div>This site uses tracking cookies for analytics purposes <a href="/accept">Accept all cookies</a> <a href="/decline">Decline optional cookies</a></div>'
           || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>'
           || '<p>Copyright &#169; 2024 Tom &amp; Jerry&apos;s &quot;Caf&#233; &#xA9; Guide&quot; &amp;lt;draft&amp;gt; ' || CAST(doc_id AS VARCHAR) || '</p>'
           || '<ul><li><a href="/a/' || CAST(doc_id AS VARCHAR) || '">Related one</a></li><li><a href="/b/' || CAST(doc_id AS VARCHAR) || '">Related two</a></li></ul>'
           || '<footer><a href="/privacy">Privacy policy</a> | <a href="/terms">Terms of service</a> | contact ' || CAST(doc_id AS VARCHAR)
           || '</footer><!-- end ' || CAST(doc_id AS VARCHAR) || ' --></body></html>' AS raw
           FROM documents),
         blk AS (SELECT doc_id, regexp_split_to_array(
             regexp_replace(regexp_replace(regexp_replace(raw,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
             '(?i)</?(p|div|h[1-6]|li|ul|ol|dl|dt|dd|td|th|tr|table|thead|tbody|nav|header|footer|aside|section|article|main|form|blockquote|pre|br|hr)\b[^>]*>') AS blocks
           FROM raw),
         kept AS (SELECT doc_id, list_filter(blocks, b ->
             length(trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '&#169;', '©'), '&#xA9;', '©'), '&#233;', 'é'), '&apos;', ''''), '&quot;', '"'), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'), '\s+', ' ', 'g'))) >= 25 AND
             (coalesce(list_sum(list_transform(regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1), a -> length(trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), '&#169;', '©'), '&#xA9;', '©'), '&#233;', 'é'), '&apos;', ''''), '&quot;', '"'), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'), '\s+', ' ', 'g'))))), 0) * 1000) // greatest(length(trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '&#169;', '©'), '&#xA9;', '©'), '&#233;', 'é'), '&apos;', ''''), '&quot;', '"'), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'), '\s+', ' ', 'g'))), 1) <= 330) AS kb
           FROM blk),
         m AS (SELECT doc_id, array_to_string(list_transform(kb, b -> trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '&#169;', '©'), '&#xA9;', '©'), '&#233;', 'é'), '&apos;', ''''), '&quot;', '"'), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'), '\s+', ' ', 'g'))), ' ') AS main_text FROM kept)
         SELECT doc_id, main_text, CAST(length(main_text) AS BIGINT) AS main_len
         FROM m ORDER BY doc_id""",
    "q107_mp4_keyframes" ->
      """WITH p AS (SELECT doc_id, strlen(text) AS L FROM documents),
         q AS (SELECT doc_id, L, L % 6 + 2 AS n, (L % 6 + 3) // 2 AS nk,
                 L % 50 + 10 AS base FROM p)
         SELECT doc_id AS id, 'mp4/avc1' AS codec,
           CAST(L % 640 + 16 AS INTEGER) AS width,
           CAST(L % 480 + 16 AS INTEGER) AS height,
           CAST(n AS INTEGER) AS n_frames,
           CAST(L * 10 AS BIGINT) AS duration_ms,
           CAST(nk AS INTEGER) AS n_keyframes,
           CAST(436 + 4 * n + 4 * nk AS BIGINT) AS first_kf_off,
           CAST(nk * base + nk * (nk - 1) AS BIGINT) AS kf_bytes,
           CAST((L * 10 // n) * nk * (nk - 1) AS BIGINT) AS kf_time_ms_sum
         FROM q ORDER BY id""",
    "q142_audio_features" ->
      """WITH p AS (SELECT doc_id, strlen(text) % 40 + 24 AS n FROM documents),
         s AS (SELECT doc_id, n, CAST(i AS BIGINT) AS i,
                 (doc_id * 31 + i * 997) % 2001 - 1000 AS v
               FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) r),
         w AS (SELECT doc_id, CAST(i // 16 AS INTEGER) AS win, v,
                 CASE WHEN i % 16 = 0 THEN NULL
                      ELSE lag(v) OVER (PARTITION BY doc_id ORDER BY i) END AS pv
               FROM s)
         SELECT doc_id AS id, win, CAST(COUNT(*) AS INTEGER) AS n_samp,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(COALESCE(SUM(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END), 0)
             AS INTEGER) AS zero_crossings,
           CAST(MAX(abs(v)) AS INTEGER) AS peak,
           CAST(round(sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*))) AS BIGINT) AS rms
         FROM w GROUP BY doc_id, win ORDER BY id, win""",
    "q51_multimodal_features" ->
      """SELECT doc_id AS id, 'doc' AS kind, 'opaque' AS codec,
         CAST(strlen(text) AS BIGINT) AS size_bytes,
         CAST(strlen(text) % 640 AS INTEGER) AS width,
         CAST((strlen(text) * 7) % 480 AS INTEGER) AS height,
         CAST(strlen(text) // 100 AS INTEGER) AS n_frames,
         CAST(0 AS INTEGER) AS sample_rate, CAST(0 AS INTEGER) AS channels,
         CAST(0 AS BIGINT) AS duration_ms, CAST(0 AS BIGINT) AS level_milli,
         md5(text) AS fingerprint
         FROM documents ORDER BY id""",
    "q78_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (SELECT doc_id, t.term, t.tf,
             CAST(round(t.tf * ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
               * 1000000) AS BIGINT) AS score_micro
           FROM tf t JOIN df ON df.term = t.term, n)
         SELECT doc_id, rnk, term, tf, score_micro FROM (
           SELECT doc_id, term, tf, score_micro,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score_micro DESC, term) AS BIGINT) AS rnk
           FROM scored)
         WHERE rnk <= 5 ORDER BY doc_id, rnk""",
    "q52_term_search" ->
      """SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           t -> t = 'join')) AS BIGINT) AS tf
         FROM documents
         WHERE len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           t -> t = 'join')) > 0
         ORDER BY tf DESC, doc_id LIMIT 100""",
    "q53_sessionize" ->
      """WITH e AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
         f AS (SELECT user_id, us,
                 CASE WHEN LAG(us) OVER w IS NULL
                        OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         g AS (SELECT user_id, us,
                 CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us) AS BIGINT) AS sess
               FROM f)
         SELECT user_id, sess, COUNT(*) AS n_events,
           MAX(us) - MIN(us) AS dur_us
         FROM g GROUP BY 1, 2 ORDER BY 1, 2""",
    "q101_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
         f AS (SELECT user_id, event_id, event_type, us,
                 CASE WHEN LAG(us) OVER w IS NULL
                        OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         g AS (SELECT user_id, event_id, event_type, us,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
               FROM f),
         p AS (SELECT user_id, sess,
                 string_agg(event_type, '>' ORDER BY us, event_id) AS path
               FROM g GROUP BY 1, 2)
         SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
         FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""",
    "q102_retention_cohorts" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1),
         a AS (SELECT DISTINCT e.user_id, cohort,
                 CAST(day - cohort AS BIGINT) AS offset_days
               FROM e JOIN f USING (user_id))
         SELECT cohort, offset_days, CAST(COUNT(*) AS BIGINT) AS n_users
         FROM a GROUP BY 1, 2 ORDER BY 1, 2""",
    "q55_array_agg" ->
      """SELECT o_custkey,
         array_to_string(list_sort(list(o_orderkey)), ',') AS order_ids,
         COUNT(*) AS n_orders
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    // DuckDB's ASOF finds the same latest-<= match; the tolerance is
    // then a post-condition on that single match
    "q165_asof_tolerance" ->
      """SELECT l.event_id, l.user_id,
         CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
           THEN epoch_us(r.ts) END AS click_us
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q159_asof_native" ->
      """SELECT l.event_id, l.user_id, epoch_us(r.ts) AS click_us
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q56_asof_join" ->
      """SELECT l.event_id, l.user_id, epoch_us(r.ts) AS signup_us
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q57_percentiles" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS q50,
         quantile_cont(l_quantity, 0.9) AS q90,
         COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q58_exact_moments" ->
      """WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s2
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           (s2 - s1 * s1 / n) / (n - 1) AS var_qty
         FROM s ORDER BY l_returnflag""",
    "q60_corpus_clean" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
           UNION ALL SELECT doc_id + 1000000 AS doc_id,
             array_to_string(tk[1:greatest((len(tk)*4)//5, 1)], ' ') AS text
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                 FROM documents WHERE doc_id % 5 = 0)),
         quality AS (SELECT * FROM corpus
           WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 20),
         keepers AS (SELECT min(doc_id) AS doc_id FROM quality
           GROUP BY md5('(' || coalesce(text, '') || ')')),
         unique_docs AS (SELECT q.* FROM quality q JOIN keepers k ON q.doc_id = k.doc_id),
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM unique_docs),
         sh AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk)-1, 1))) AS i) r),
         hx AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
                FROM sh),
         mh AS (SELECT doc_id, s.seed, min((h1 + s.seed * h2) % 4294967296) AS h
                FROM hx, (SELECT unnest(range(0, 8)) AS seed) s GROUP BY 1, 2),
         sig AS (SELECT doc_id, seed // 2 AS band,
                   string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bandsig
                 FROM mh GROUP BY 1, 2),
         okb AS (SELECT band, bandsig FROM sig GROUP BY 1, 2
                 HAVING COUNT(*) BETWEEN 2 AND 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sig a JOIN sig b ON a.band = b.band AND a.bandsig = b.bandsig
                     AND a.doc_id < b.doc_id
                   JOIN okb ON okb.band = a.band AND okb.bandsig = a.bandsig),
         dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
         survivors AS (SELECT u.* FROM unique_docs u
                       LEFT JOIN dropped dr ON u.doc_id = dr.doc_id
                       WHERE dr.doc_id IS NULL)
         SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             ' +', ' ', 'g'))) AS fp
         FROM survivors ORDER BY doc_id""",
    "q66_bpe_token_count" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '(?:[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+)')) AS BIGINT) AS bpe_tokens,
         CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens
         FROM documents ORDER BY doc_id""",
    "q67_winnow_fingerprint" ->
      """WITH g AS (SELECT doc_id,
             ('0x' || substr(md5(substr(text, i, 8)), 1, 8))::BIGINT AS h
           FROM documents,
             LATERAL (SELECT unnest(range(1, greatest(length(text) - 6, 2))) AS i) r)
         SELECT doc_id,
           md5(coalesce(string_agg(CASE WHEN h % 16 = 0 THEN CAST(h AS VARCHAR) END,
             ',' ORDER BY h), '')) AS winnow_fp
         FROM g GROUP BY doc_id ORDER BY doc_id""",
    "q54_word_freq" ->
      """SELECT word, COUNT(*) AS n FROM (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
           FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 50""",

    "q112_heavy_hitters" ->
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS cms_within_eps
         FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
               FROM documents)
         GROUP BY term ORDER BY n_exact DESC, term LIMIT 20""",

    "q113_frequent_terms" ->
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS mg_contract
         FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
               FROM documents)
         GROUP BY term ORDER BY n_exact DESC, term LIMIT 20""",

    "q151_passage_bm25" ->
      """WITH tk AS (SELECT doc_id,
           string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
         p AS (SELECT doc_id, tk,
                 CASE WHEN len(tk) <= 32 THEN 1
                      ELSE 1 + (len(tk) - 32 + 23) // 24 END AS nchunks
               FROM tk),
         ch AS (SELECT doc_id * 1000 + k AS pid,
                  tk[k * 24 + 1 : k * 24 + 32] AS ctk
                FROM p, LATERAL (SELECT unnest(range(0, nchunks)) AS k) r),
         toks AS (SELECT pid, unnest(ctk) AS term FROM ch),
         dl AS (SELECT pid, CAST(len(ctk) AS BIGINT) AS dl FROM ch),
         stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(len(ctk)) AS BIGINT) AS total_len FROM ch),
         tf AS (SELECT pid, term, COUNT(*) AS tf FROM toks
                WHERE term IN ('join', 'data', 'spark') GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         scored AS (SELECT t.pid, CAST(round(
               ln(1.0 + (CAST(s.n_docs AS DOUBLE) - f.df + 0.5)
                      / (CAST(f.df AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
                           / (CAST(s.total_len AS DOUBLE)
                              / CAST(s.n_docs AS DOUBLE))))
               * 1000000.0) AS BIGINT) AS contrib_micro
           FROM tf t JOIN df f ON f.term = t.term
             JOIN dl d ON d.pid = t.pid, stats s),
         agg AS (SELECT pid, CAST(SUM(contrib_micro) AS BIGINT) AS score_micro,
                   CAST(COUNT(*) AS BIGINT) AS n_terms_hit
                 FROM scored GROUP BY pid
                 ORDER BY score_micro DESC, pid LIMIT 10)
         SELECT pid // 1000 AS src_doc, CAST(pid % 1000 AS INTEGER) AS chunk_idx,
           score_micro, n_terms_hit
         FROM agg ORDER BY score_micro DESC, src_doc, chunk_idx""",

    "q150_exact_heavy_hitters" ->
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact
         FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
               FROM documents)
         GROUP BY term ORDER BY n_exact DESC, term LIMIT 10""",

    "q114_fuzzy_vocab" ->
      """WITH v AS (
           SELECT DISTINCT term FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
             FROM documents
             UNION ALL
             SELECT unnest(string_split(p_name, ' ')) AS term FROM part)
           WHERE len(term) >= 3 AND regexp_matches(term, '^[a-z]+$'))
         SELECT a.term AS a, b.term AS b,
           CAST(levenshtein(a.term, b.term) AS BIGINT) AS dist
         FROM v a JOIN v b ON a.term < b.term
         WHERE levenshtein(a.term, b.term) <= 2
         ORDER BY a, b""",

    "q115_bm25" ->
      """WITH toks AS (SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         dl AS (SELECT doc_id,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS dl
           FROM documents),
         stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
             AS total_len FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN ('join', 'data', 'spark') GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         scored AS (SELECT t.doc_id,
             CAST(round(
               ln(1.0 + (CAST(s.n_docs AS DOUBLE) - f.df + 0.5)
                      / (CAST(f.df AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
                           / (CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
               * 1000000.0) AS BIGINT) AS contrib_micro
           FROM tf t JOIN df f ON f.term = t.term
             JOIN dl d ON d.doc_id = t.doc_id, stats s)
         SELECT doc_id, CAST(SUM(contrib_micro) AS BIGINT) AS score_micro,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
         FROM scored GROUP BY doc_id
         ORDER BY score_micro DESC, doc_id LIMIT 20""",

    // identical recurrence to q115 with the q135 term set and k; the
    // index is an access-path optimization, not a semantics change —
    // which is exactly what sharing this oracle shape proves
    "q135_bm25_index" ->
      """WITH toks AS (SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         dl AS (SELECT doc_id,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS dl
           FROM documents),
         stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
             AS total_len FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN ('merge', 'stream', 'vector') GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         scored AS (SELECT t.doc_id,
             CAST(round(
               ln(1.0 + (CAST(s.n_docs AS DOUBLE) - f.df + 0.5)
                      / (CAST(f.df AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
                           / (CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
               * 1000000.0) AS BIGINT) AS contrib_micro
           FROM tf t JOIN df f ON f.term = t.term
             JOIN dl d ON d.doc_id = t.doc_id, stats s)
         SELECT doc_id, CAST(SUM(contrib_micro) AS BIGINT) AS score_micro,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
         FROM scored GROUP BY doc_id
         ORDER BY score_micro DESC, doc_id LIMIT 15""",

    // ground truth for the prefix-filtered exact similarity join is
    // the QUADRATIC join itself: every pair sharing >= 1 shingle,
    // exact floor-division Jaccard, threshold filter. Losslessness of
    // the prefix filter is exactly what the hash compare proves.
    "q126_setjoin_prefix" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                     FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
                FROM tk, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) r
                WHERE len(tk) >= 3),
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
         ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
                FROM sh a JOIN sh b ON b.sh = a.sh AND b.doc_id > a.doc_id
                GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000 // (sa.sz + sb.sz - n_common) AS BIGINT)
             AS jaccard_milli
         FROM ov JOIN sz sa ON sa.doc_id = ov.doc_a
                 JOIN sz sb ON sb.doc_id = ov.doc_b
         WHERE n_common * 1000 // (sa.sz + sb.sz - n_common) >= 400
         ORDER BY doc_a, doc_b""",

    "q131_containment_join" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                     FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
                FROM tk, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) r
                WHERE len(tk) >= 3),
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
         ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
                FROM sh a JOIN sh b ON b.sh = a.sh AND b.doc_id <> a.doc_id
                GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000 // sa.sz AS BIGINT) AS contain_milli
         FROM ov JOIN sz sa ON sa.doc_id = ov.doc_a
         WHERE n_common * 1000 // sa.sz >= 600
         ORDER BY doc_a, doc_b""",

    "q134_phrase_search" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                     FROM documents),
         occ AS (SELECT doc_id,
                   len(list_filter(range(1, len(tk)),
                     i -> tk[i] = 'table' AND tk[i+1] = 'hash')) AS n
                 FROM tk WHERE len(tk) >= 2)
         SELECT doc_id AS doc, CAST(n AS BIGINT) AS n_occurrences
         FROM occ WHERE n > 0 ORDER BY doc""",

    "q129_pmi_pairs" ->
      """WITH ts AS (SELECT doc_id,
           unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS tok
           FROM documents),
         df AS (SELECT tok, COUNT(*) AS df FROM ts GROUP BY 1),
         freq AS (SELECT tok, df FROM df WHERE df >= 25),
         ft AS (SELECT t.doc_id, t.tok FROM ts t JOIN freq f ON f.tok = t.tok),
         pairs AS (SELECT x.tok AS a, y.tok AS b
                   FROM ft x JOIN ft y
                     ON y.doc_id = x.doc_id AND y.tok > x.tok),
         cab AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs
                 GROUP BY 1, 2 HAVING COUNT(*) >= 10),
         n AS (SELECT COUNT(*) AS n_docs FROM documents)
         SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
           CAST(fa.df AS BIGINT) AS c_a, CAST(fb.df AS BIGINT) AS c_b,
           CAST(round(ln(CAST(c_ab AS DOUBLE) * CAST(n_docs AS DOUBLE)
             / (CAST(fa.df AS DOUBLE) * CAST(fb.df AS DOUBLE))) * 1000000.0)
             AS BIGINT) AS pmi_micro
         FROM cab JOIN freq fa ON fa.tok = cab.a
                  JOIN freq fb ON fb.tok = cab.b, n
         ORDER BY pmi_micro DESC, a, b LIMIT 30""")
}
