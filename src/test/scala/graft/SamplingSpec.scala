package graft

import graft.ops.Sampling
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables(spark, "/root/testdata/sf0.001", "documents")

  /** A uniform 200‰ content-addressed sample: no stratum listed, so
    * every row gets the default rate.
    */
  private def sample200(df: org.apache.spark.sql.DataFrame) =
    Sampling.stratifiedSample(df, "doc_id", "lang", Map.empty, defaultMilli = 200)

  test("membership is content-addressed: stable under repartitioning and reruns") {
    val a = sample200(docs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = sample200(docs.repartition(7))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
    assert(a.nonEmpty && a.length < 500)

    // consistency across tables sharing the key: sample-then-join ==
    // join-then-sample (the property RNG samplers lack)
    val other = docs.select(col("doc_id"), col("lang"))
    val joinThenSample = sample200(docs.join(other, "doc_id")).count()
    val sampleThenJoin = sample200(docs)
      .join(sample200(other), "doc_id").count()
    assert(joinThenSample == sampleThenJoin)
  }

  test("mixture reweighting: integer rates match the closed form; kept set is content-addressed") {
    val targets = Map("en" -> 200, "de" -> 100, "es" -> 100, "fr" -> 50, "zh" -> 140)
    val rates = Sampling.mixtureRatesMilli(docs, "lang", targets)
      .select("lang", "n_domain", "n_total", "rate_milli")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val counts = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val total = counts.values.sum
    targets.foreach { case (lang, tgt) =>
      val expect = math.min(1000L, tgt.toLong * total / counts(lang))
      assert(rates(lang)._4 == expect, s"$lang rate")
    }
    // applying the rates: kept == rows whose hash clears the domain rate
    val kept = Sampling.mixtureResample(docs, "doc_id", "lang", targets)
    val keptRep = Sampling.mixtureResample(docs.repartition(11), "doc_id", "lang", targets)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ==
      keptRep.select("doc_id").as[Long].collect().sorted.toSeq)
    // a domain at rate 1000 survives intact
    val keptByLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    rates.foreach { case (lang, (_, n, _, rate)) =>
      if (rate == 1000L) assert(keptByLang(lang) == n, s"$lang should be whole")
      else assert(keptByLang.getOrElse(lang, 0L) < n, s"$lang should be thinned")
    }
  }

  test("split assignment: exhaustive, disjoint, and immune to corpus growth") {
    val full = Sampling.assignSplit(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(full.values.toSet == Set("train", "val", "test"))
    // a row's split is a function of its key alone: assigning over
    // HALF the corpus gives every shared doc the same split (new data
    // can never migrate old rows between splits)
    val half = Sampling.assignSplit(docs.where(col("doc_id") % 2 === 0), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    half.foreach { case (id, s) => assert(full(id) == s) }
    // proportions roughly honor the 900/50/50 milli budget
    val counts = full.values.groupBy(identity).view.mapValues(_.size)
    assert(counts("train") > 400 && counts("test") < 60 && counts("val") < 60)
  }

  test("split assignment: null keys get a null split, never 'test'") {
    // hashMilli's null-key exclusion contract: a row without a content
    // address has no stable split; silently landing in 'test' would
    // pollute the held-out set with every keyless row
    val withNulls = docs.withColumn("k",
      when(col("doc_id") % 5 === 0, lit(null).cast("long"))
        .otherwise(col("doc_id")))
    val split = Sampling.assignSplit(withNulls, "k")
      .select("doc_id", "k", "split").as[(Long, Option[Long], Option[String])]
      .collect()
    split.foreach { case (id, k, s) =>
      if (k.isEmpty) assert(s.isEmpty, s"doc $id: null key must get null split")
      else assert(s.exists(Set("train", "val", "test")), s"doc $id")
    }
    assert(split.count(_._2.isEmpty) > 0)
  }

  test("capPerGroup: at most k per group, small groups whole, stable under repartition") {
    val capped = Sampling.capPerGroup(docs.select("doc_id", "lang"), "lang", "doc_id", 20)
    val byLang = capped.groupBy("lang").count().as[(String, Long)].collect().toMap
    val total = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    byLang.foreach { case (lang, n) =>
      assert(n == math.min(20L, total(lang)), s"$lang cap")
    }
    val a = capped.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.capPerGroup(docs.repartition(13).select("doc_id", "lang"),
      "lang", "doc_id", 20).select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("deterministic sampling is stream-safe: same membership through readStream") {
    // content-addressed membership is a stateless narrow filter, so
    // the SAME operator runs unchanged on a stream — and selects the
    // SAME rows (an RNG sampler cannot promise either)
    val dir = SparkBridge.tempDir("graft_sample_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("documents.parquet"))
    val src = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val q = sample200(src)
      .select("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("sample_stream_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sample_stream_out")
        .as[Long].collect().sorted.toSeq
      val batch = sample200(docs)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("token-budget mixture: rates follow token mass and shift when mass shifts") {
    import org.apache.spark.sql.functions._
    val targets = Map("en" -> 200, "de" -> 100, "es" -> 100, "fr" -> 50, "zh" -> 140)
    val d = docs.withColumn("w",
      expr("size(split(lower(trim(text)), '\\\\s+'))").cast("long"))
    val rates = Sampling.mixtureRatesMilliWeighted(d, "lang", "w", targets)
      .select("lang", "w_domain", "rate_milli").as[(String, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val sums = d.groupBy("lang").agg(sum("w").as("s"))
      .select("lang", "s").as[(String, Long)].collect().toMap
    val total = sums.values.sum
    targets.foreach { case (l, t) =>
      assert(rates(l)._3 == math.min(1000L, t.toLong * total / sums(l)), l)
    }
    // the doc-count blind spot: multiply en's token mass 10x with doc
    // count unchanged — the token rate for en must DROP (same target
    // share of a mass it now dominates); a doc-count rate would not move
    val boosted = d.withColumn("w",
      when(col("lang") === "en", col("w") * 10).otherwise(col("w")))
    val r2 = Sampling.mixtureRatesMilliWeighted(boosted, "lang", "w", targets)
      .where(col("lang") === "en").select("rate_milli").as[Long].head()
    assert(r2 < rates("en")._3, s"en rate should drop: $r2 vs ${rates("en")._3}")
    // the kept set is exactly the hash-gated subset at the domain rate
    val kept = Sampling.mixtureResampleWeighted(d, "doc_id", "lang", "w", targets)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val manual = d.withColumn("m", Sampling.hashMilli(col("doc_id")))
      .join(Sampling.mixtureRatesMilliWeighted(d, "lang", "w", targets)
        .select(col("lang"), col("rate_milli")), "lang")
      .where(col("m") < col("rate_milli"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == manual)
  }

  test("weighted sample: k cap, repartition stability, weight dominance, w<=0 excluded") {
    import org.apache.spark.sql.functions._
    val d = docs.withColumn("w",
      expr("size(split(lower(trim(text)), '\\\\s+'))").cast("long"))
    val a = Sampling.weightedSamplePerGroup(d, "lang", "doc_id", "w", 5)
      .select("lang", "rnk", "doc_id").as[(String, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // exactly k per group (every fixture language has >= 5 docs)
    assert(a.groupBy(_._1).forall(_._2.size == 5))
    // content-addressed: identical under repartitioning
    val b = Sampling.weightedSamplePerGroup(d.repartition(7), "lang",
        "doc_id", "w", 5)
      .select("lang", "rnk", "doc_id").as[(String, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(a == b)
    // an overwhelming weight always ranks first: ln(u)/w -> 0- as w
    // grows, beating every finite-weight priority
    val boosted = d.withColumn("w",
      when(col("doc_id") === 7L, lit(1000000000000L)).otherwise(col("w")))
    val top = Sampling.weightedSamplePerGroup(boosted, "lang", "doc_id", "w", 5)
      .where(col("rnk") === 1)
      .select("doc_id").as[Long].collect().toSet
    val lang7 = docs.where(col("doc_id") === 7L)
      .select("lang").as[String].head()
    val top7 = Sampling.weightedSamplePerGroup(boosted, "lang", "doc_id", "w", 5)
      .where(col("lang") === lang7 && col("rnk") === 1)
      .select("doc_id").as[Long].head()
    assert(top7 == 7L, s"boosted doc must rank first in its group (got $top7, top set $top)")
    // zero/negative weights are unsampleable
    val none = Sampling.weightedSamplePerGroup(
      d.withColumn("w", lit(0L)), "lang", "doc_id", "w", 5).count()
    assert(none == 0L)
  }

  test("stratified rates are honored per stratum") {
    val s = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 300, "de" -> 1000), defaultMilli = 0)
    val byLang = s.groupBy("lang").count().as[(String, Long)].collect().toMap
    val total = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("de") == total("de"))          // rate 1000 = keep all
    assert(!byLang.contains("fr"))               // default 0 = drop all
    val enRate = byLang("en").toDouble / total("en")
    assert(enRate > 0.15 && enRate < 0.45, s"en rate $enRate")  // ~0.3
  }
}
