package graft

import graft.ops.Export
import org.apache.spark.sql.functions._

/** Epoch-shard export: content-addressed determinism, epoch
  * variation, balance, curriculum ordering, and the on-disk layout.
  */
class ExportSpec extends SparkSpec {

  private def docs(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
  }

  test("assignment is a pure function of (id, epoch): repartition-stable") {
    val d = docs(500)
    val a = Export.epochShards(d, "doc_id", 1, 8)
      .select("doc_id", "shard", "pos").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val b = Export.epochShards(d.repartition(13), "doc_id", 1, 8)
      .select("doc_id", "shard", "pos").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("epochs permute: epoch 1 and 2 orders differ, both complete") {
    val d = docs(400)
    def posMap(e: Int) = Export.epochShards(d, "doc_id", e, 4)
      .select("doc_id", "shard", "pos").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (p1, p2) = (posMap(1), posMap(2))
    assert(p1.keySet == (0L until 400L).toSet && p2.keySet == p1.keySet)
    assert(p1.count { case (k, v) => p2(k) == v } < 40) // ~1/4 coincide by chance at 4 shards
  }

  test("md5-uniform balance: no shard holds > 2x the mean") {
    val counts = Export.epochShards(docs(4000), "doc_id", 3, 8)
      .groupBy("shard").count().collect().map(_.getLong(1))
    assert(counts.length == 8)
    assert(counts.max < 2 * 4000 / 8)
  }

  test("pos is a dense 1..n permutation within every shard") {
    val a = Export.epochShards(docs(300), "doc_id", 1, 5)
      .select("shard", "pos").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sorted)
    a.foreach { case (_, ps) => assert(ps.toSeq == (1L to ps.length).toSeq) }
  }

  test("curriculum: stages ascend within each shard, shuffled inside") {
    import spark.implicits._
    val d = docs(600).withColumn("stage", col("doc_id") % 3)
    val rows = Export.curriculumShards(d, "doc_id", "stage", 1, 4)
      .select("shard", "pos", "stage").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val stages = rs.sortBy(_._2).map(_._3)
      assert(stages.toSeq == stages.sorted.toSeq) // non-decreasing stage
    }
  }

  test("plan: the whole epoch assignment is ONE hash shuffle") {
    val plan = Export.epochShards(docs(100), "doc_id", 1, 8)
      .queryExecution.executedPlan.toString
    val exchanges = "(?i)Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$plan")
  }
}
