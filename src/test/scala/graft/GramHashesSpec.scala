package graft

import graft.functions.{GramHashes, SurvivingGrams}
import org.apache.spark.sql.functions._

class GramHashesSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("tk"))

  /** Straight-line reference of the shingle hash: FNV-1a per token,
    * polynomial window combine, splitmix64 finalizer.
    */
  private def reference(tokens: Seq[String], width: Int): Seq[Long] = {
    def fnv(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0xcbf29ce484222325L)((h, b) =>
        (h ^ (b & 0xffL)) * 0x100000001b3L)
    val th = tokens.map(fnv)
    (0 to tokens.length - width).map { s =>
      var hh = (0 until width).foldLeft(0L)((h, w) => h * 0x9e3779b97f4a7c15L + th(s + w))
      hh ^= (hh >>> 30); hh *= 0xbf58476d1ce4e5b9L
      hh ^= (hh >>> 27); hh *= 0x94d049bb133111ebL
      hh ^ (hh >>> 31)
    }
  }

  test("GramHashes matches the reference hash (codegen and interpreted)") {
    val rows = docs.where(size(col("tk")) >= 3)
      .select(col("tk"), GramHashes.gramHashArray(col("tk"), 3).as("ghs"))
      .as[(Seq[String], Seq[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (tk, ghs) =>
      assert(ghs == reference(tk, 3))
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        tk.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
      assert(GramHashes.compute(arr, 3).toLongArray().toSeq == ghs)
    }
  }

  test("GramHashes: window count and sub-width nulls") {
    val r = Seq((1L, "a b c d e"), (2L, "a b")).toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("tk"))
      .withColumn("ghs", GramHashes.gramHashArray(col("tk"), 3))
      .select(col("id"), col("ghs"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(r(1L).get.length == 3) // 5 tokens, width 3 -> 3 windows
    assert(r(2L).isEmpty)         // too short to shingle -> null
  }

  test("SurvivingGrams: all-pass bloom gives distinct grams, empty bloom gives none") {
    val sc = spark.sparkContext
    val d = Seq((1L, "x y z x y z x y w")).toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("tk"))
    // a bloom holding every true window hash: no false negatives means
    // the surviving set must be EXACTLY the distinct grams
    val full = org.apache.spark.util.sketch.BloomFilter.create(100L, 0.01)
    d.select(explode(GramHashes.gramHashArray(col("tk"), 3)).as("h"))
      .as[Long].collect().foreach(full.putLong)
    val empty = org.apache.spark.util.sketch.BloomFilter.create(1000L, 0.001)
    val (bFull, bEmpty) = (sc.broadcast(full), sc.broadcast(empty))
    val viaSurviving = d
      .select(explode(SurvivingGrams.survivingGrams(col("tk"), 3, bFull)).as("sh"))
      .as[String].collect().sorted.toSeq
    val viaStrings = d
      .select(explode(array_distinct(expr(graft.ops.Dedup.shingleExpr(3)))).as("sh"))
      .as[String].collect().sorted.toSeq
    assert(viaSurviving == viaStrings && viaStrings.size == 4)

    assert(d.select(explode(SurvivingGrams.survivingGrams(col("tk"), 3, bEmpty)))
      .count() == 0L)
  }

  test("bloom probe expression agrees with the filter it wraps") {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100L, 0.01)
    Seq(3L, 7L, 42L).foreach(bloom.putLong)
    val bc = spark.sparkContext.broadcast(bloom)
    val got = spark.range(50)
      .where(graft.functions.BloomMightContainLong.mightContain(col("id"), bc))
      .as[Long].collect().toSet
    val expect = (0L until 50L).filter(bloom.mightContainLong).toSet
    assert(got == expect && Set(3L, 7L, 42L).subsetOf(got))
  }
}
