package graft.queries

import graft.ops.{Contamination, IncrementalDedup, Sampling}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

/** Corpus-curation surface, round 3 (cont.): incremental-ingest dedup
  * against a historical fingerprint store, domain-mixture
  * reweighting, and corpus-wide n-gram document-frequency statistics.
  * Fixtures: the 500-doc `documents` table (fixed across SFs), with
  * synthetic plants built from modular id arithmetic exactly like
  * q86/q89/q90.
  */
object CurationQueries {

  /** Mixture targets (per-mill) for q98: thin over-represented `en`,
    * keep the small languages intact or lightly thinned. Constants so
    * the oracle replays them verbatim.
    */
  private val mixTargets = Map(
    "en" -> 200, "de" -> 100, "es" -> 100, "fr" -> 50, "zh" -> 140)

  val queries: Map[String, Q] = Map(
    // incremental-ingest dedup: history = every 3rd doc's fingerprint;
    // batch = the rest + planted re-crawls of history docs (+2M ids).
    // Bloom prefilter routes rows, the anti-join decides — output is
    // exactly "batch minus history" (the plants all drop).
    "q97_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val hist = d.where(col("doc_id") % 3 === 0)
        .select(IncrementalDedup.fp60(col("text")).as("fp"))
      val batch = d.where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionAll(d.where(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .withColumn("fp", IncrementalDedup.fp60(col("text")))
        .select("doc_id", "fp")
      IncrementalDedup.dedupAgainst(batch, hist, "fp", expectedItems = 10000L)
        .select("doc_id", "fp")
        .orderBy("doc_id")
    }),

    // domain-mixture reweighting: per-language keep-rates that steer
    // the corpus toward the target mix, applied as deterministic
    // content-addressed downsampling; output is the audit table
    // (domain, size, rate, kept)
    "q98_mixture_resample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val rates = Sampling.mixtureRatesMilli(d, "lang", mixTargets)
      val kept = Sampling.mixtureResample(d, "doc_id", "lang", mixTargets)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_domain").as("n_docs"), col("rate_milli"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    }),

    // deterministic train/val/test split: content-addressed per-doc
    // assignment (stable under re-ingest/growth — no test leakage) +
    // the per-split audit counts
    "q105_split_assign" -> ((s, dir) => {
      Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
          trainMilli = 900, valMilli = 50)
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
        .orderBy("lang", "split")
    }),

    // per-file bloom sidecar end-to-end: documents written to a
    // scratch table in random 8-file layout (no ordering the min/max
    // stats could use), sidecar built on doc_id, then a 5-key point
    // lookup THROUGH the index. The oracle recomputes the same rows
    // from the raw table — the sidecar is an access path, never a
    // semantics change (one lost or phantom row hash-mismatches).
    "q147_bloom_sidecar_lookup" -> ((s, dir) => {
      val scratch = SparkBridge.tempDir("graft_q147")
      val data = scratch.resolve("t").toString
      val side = scratch.resolve("idx").toString
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(8)
        .write.parquet(data)
      graft.ops.FileBloomIndex.build(s, data, "doc_id", side,
        expectedPerFile = 1000L, fpp = 0.001)
      val keys = Seq(3L, 77L, 150L, 288L, 442L)
      graft.ops.FileBloomIndex.pointLookup(s, data, side, "doc_id", keys)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // pre-flight join profile: distinct-key overlap of the
    // orders->customer join answered from two theta sketches + driver
    // set algebra (one scan per side, no join executed). lgK=15 keeps
    // every sketch in exact mode at all driver SFs, so the counts are
    // exact integers and the oracle replays them as plain SQL.
    "q146_join_profile" -> ((s, dir) => {
      graft.ops.JoinProfile.keyOverlap(
        t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey", lgK = 15)
    }),

    // TOKEN-budget mixture reweighting: q98's closed form with the
    // target mix accounted in token mass (the unit an LM mixture is
    // specified in) — a domain of few huge docs no longer skews the
    // trained mixture; keep decisions stay whole-document and
    // content-addressed. Audit: per-domain token mass, rate, kept
    // docs and kept token mass.
    "q145_token_mixture" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("w",
        expr("size(split(lower(trim(text)), '\\\\s+'))").cast("long"))
      val rates = Sampling.mixtureRatesMilliWeighted(d, "lang", "w", mixTargets)
      val kept = Sampling.mixtureResampleWeighted(d, "doc_id", "lang", "w",
          mixTargets)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"), sum("w").as("w_kept"))
      rates.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("w_domain"), col("rate_milli"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("w_kept"), lit(0L)).as("w_kept"))
        .orderBy("lang")
    }),

    // weighted sampling without replacement: 20 docs per language with
    // inclusion odds proportional to token count (Efraimidis-Spirakis
    // priorities over content-addressed uniforms) — "sample documents
    // proportional to quality/weight", deterministic on any engine
    "q144_weighted_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens",
          expr("size(split(lower(trim(text)), '\\\\s+'))").cast("long"))
      Sampling.weightedSamplePerGroup(d, "lang", "doc_id", "n_tokens", k = 20)
        .select(col("lang"), col("rnk"), col("doc_id"), col("n_tokens"))
        .orderBy("lang", "rnk")
    }),

    // corpus n-gram doc-frequency: the 50 most document-frequent
    // 3-grams (boilerplate/template detector); deterministic top-k on
    // (df desc, gram)
    "q100_gram_docfreq" -> ((s, dir) => {
      Contamination.gramDocFrequency(t(s, dir, "documents"),
          "doc_id", "text", n = 3, minDf = 2L)
        .orderBy(desc("df"), asc("sh"))
        .limit(50)
        .select("sh", "df", "first_doc")
    }))

  val oracles: Map[String, String] = Map(
    "q97_incremental_dedup" ->
      """WITH hist AS (SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
                       FROM documents WHERE doc_id % 3 = 0),
         batch AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
                   FROM documents WHERE doc_id % 3 <> 0
                   UNION ALL
                   SELECT doc_id + 2000000 AS doc_id,
                     ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
                   FROM documents WHERE doc_id % 6 = 0)
         SELECT doc_id, fp FROM batch b
         WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
         ORDER BY doc_id""",
    "q98_mixture_resample" ->
      """WITH t AS (SELECT * FROM (VALUES ('en', 200), ('de', 100), ('es', 100),
                     ('fr', 50), ('zh', 140)) AS t(lang, tgt)),
         c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_total FROM documents),
         r AS (SELECT c.lang, n_docs,
                 least(1000, (tgt * n_total) // n_docs) AS rate_milli
               FROM c JOIN t ON t.lang = c.lang, n),
         k AS (SELECT d.lang, COUNT(*) AS n_kept
               FROM documents d JOIN r ON r.lang = d.lang
               WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 1000 < rate_milli
               GROUP BY 1)
         SELECT r.lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(rate_milli AS BIGINT) AS rate_milli,
           CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
         FROM r LEFT JOIN k ON k.lang = r.lang ORDER BY r.lang""",
    "q105_split_assign" ->
      """WITH s AS (SELECT lang, doc_id,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900
                  THEN 'train'
                WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 950
                  THEN 'val'
                ELSE 'test' END AS split
           FROM documents)
         SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc
         FROM s GROUP BY 1, 2 ORDER BY lang, split""",
    "q147_bloom_sidecar_lookup" ->
      """SELECT doc_id, md5(text) AS text_md5 FROM documents
         WHERE doc_id IN (3, 77, 150, 288, 442)
         ORDER BY doc_id""",
    "q146_join_profile" ->
      """WITH a AS (SELECT COUNT(DISTINCT o_custkey) AS n_a FROM orders),
         b AS (SELECT COUNT(DISTINCT c_custkey) AS n_b FROM customer),
         i AS (SELECT COUNT(*) AS n_i FROM
                 (SELECT DISTINCT o_custkey FROM orders
                  JOIN customer ON c_custkey = o_custkey) t),
         u AS (SELECT COUNT(*) AS n_u FROM
                 (SELECT o_custkey AS k FROM orders
                  UNION SELECT c_custkey FROM customer) t)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_i AS BIGINT) AS n_intersect,
           CAST(n_u AS BIGINT) AS n_union,
           CAST(n_i * 1000 // least(n_a, n_b) AS BIGINT) AS containment_milli,
           TRUE AS exact
         FROM a, b, i, u""",
    "q145_token_mixture" ->
      """WITH t AS (SELECT * FROM (VALUES ('en', 200), ('de', 100), ('es', 100),
                     ('fr', 50), ('zh', 140)) AS t(lang, tgt)),
         d AS (SELECT lang, doc_id,
                 len(string_split_regex(lower(trim(text)), '\s+')) AS w
               FROM documents),
         c AS (SELECT lang, SUM(w) AS w_domain FROM d GROUP BY 1),
         n AS (SELECT SUM(w) AS w_total FROM d),
         r AS (SELECT c.lang, w_domain,
                 least(1000, (tgt * w_total) // w_domain) AS rate_milli
               FROM c JOIN t ON t.lang = c.lang, n),
         k AS (SELECT d.lang, COUNT(*) AS n_kept, SUM(d.w) AS w_kept
               FROM d JOIN r ON r.lang = d.lang
               WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 1000 < rate_milli
               GROUP BY 1)
         SELECT r.lang, CAST(w_domain AS BIGINT) AS w_domain,
           CAST(rate_milli AS BIGINT) AS rate_milli,
           CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(w_kept, 0) AS BIGINT) AS w_kept
         FROM r LEFT JOIN k ON k.lang = r.lang ORDER BY r.lang""",
    "q144_weighted_sample" ->
      """WITH d AS (SELECT lang, doc_id,
           len(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         p AS (SELECT lang, doc_id, w,
                 ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                     + 0.5) / 4503599627370496.0) / CAST(w AS DOUBLE) AS es
               FROM d WHERE w > 0),
         r AS (SELECT lang, doc_id, w,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY es DESC, doc_id) AS rnk
               FROM p)
         SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id,
           CAST(w AS BIGINT) AS n_tokens
         FROM r WHERE rnk <= 20 ORDER BY lang, rnk""",
    "q100_gram_docfreq" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                     FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
                FROM tk, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) r
                WHERE len(tk) >= 3),
         dfq AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df, MIN(doc_id) AS first_doc
                 FROM sh GROUP BY 1 HAVING COUNT(*) >= 2)
         SELECT sh, df, first_doc FROM dfq ORDER BY df DESC, sh LIMIT 50""")
}
