package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.ops.IncrementalAgg
import graft.plans.RollupRewrite

/** `Tables.query` behind `SparkEntry.queries`: a repeated named query
  * returns the frame built before, and re-runs only its final stage;
  * a conf change, a new rollup target or another dir builds a new
  * frame; a plan that holds an `InMemoryRelation` is never kept.
  *
  * Earlier suites in this JVM may have built any query under the
  * default confs, so each case first sets a conf of its own, which
  * makes its first call a miss.
  */
class PlanCacheSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val deck = Seq("q92_token_histogram", "q01_pricing_summary",
    "q159_asof_native", "q146_join_profile", "q79_label_centroids",
    "q28_normalize_names")

  private val round = new AtomicLong()

  /** `body` under a conf value no earlier call used: every named
    * query misses on its first call in it. */
  private def fresh[T](body: => T): T =
    withConf("graft.spec.planCache.round" -> round.incrementAndGet().toString)(body)

  private def q(name: String, at: String = dir): DataFrame = SparkEntry.queries(name)(spark, at)

  test("a repeated shuffle query starts only its final job") {
    fresh {
      val first = jobsOf { q("q01_pricing_summary").collect(); () }
      val again = jobsOf { q("q01_pricing_summary").collect(); () }
      assert(first == 2, "q01: shuffle map stage + final stage")
      assert(again == 1, "the repeat re-runs only the final stage")
    }
  }

  test("a conf change, a rollup target and another dir each build a new frame") {
    fresh {
      val a = q("q92_token_histogram")
      val (hits, misses) = (Tables.planHits, Tables.planMisses)
      assert(q("q92_token_histogram") eq a)
      assert(Tables.planHits == hits + 1 && Tables.planMisses == misses)

      // a value other than the session's, whatever the host's core count
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt + 1
      withConf("spark.sql.shuffle.partitions" -> partitions.toString) {
        assert(q("q92_token_histogram") ne a)
      }
      assert(q("q92_token_histogram") eq a, "the restored confs find the kept frame")

      val b = q("q92_token_histogram", "/root/testdata/sf0.01")
      assert(b ne a)
      assert(q("q92_token_histogram", "/root/testdata/sf0.01") eq b)

      RollupRewrite.register(RollupRewrite.Target(
        s"$dir/no_such_source.parquet", s"$dir/no_such_rollup",
        Seq("k"), Seq(IncrementalAgg.count("n"))))
      try assert(q("q92_token_histogram") ne a)
      finally RollupRewrite.clear()
      assert(q("q92_token_histogram") eq a)
    }
  }

  test("q156 leaves the rollup targets as it found them, so kept plans stay hits") {
    fresh {
      val targets = RollupRewrite.targetSet
      val kept = q("q92_token_histogram")
      val first = q("q156_rollup_rewrite")
      val rows = first.collect().toSeq
      assert(RollupRewrite.targetSet == targets)
      val hits = Tables.planHits
      val second = q("q156_rollup_rewrite")
      assert(second eq first, "the second q156 call is a plan hit")
      assert(Tables.planHits == hits + 1)
      assert(RollupRewrite.targetSet == targets)
      assert(second.collect().toSeq == rows && rows.nonEmpty)
      assert(q("q92_token_histogram") eq kept, "a plan kept before q156 is still a hit")
    }
  }

  test("a frame derived from q156 still reads the rollup, not the raw table") {
    fresh {
      val base = q("q156_rollup_rewrite")
      val derived = base.coalesce(1)
      val scanned = derived.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation
      }.collect {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.getName)
      }.flatten
      assert(scanned.contains("rollup_mv_store") &&
        !scanned.contains("raw_events_src.parquet"), s"derived frame scans $scanned")
      assert(derived.collect().toSeq == base.collect().toSeq)
    }
  }

  test("a plan holding an InMemoryRelation is rebuilt on every call") {
    fresh {
      // q60's corpus clean persists its stages
      val misses = Tables.planMisses
      val a = q("q60_corpus_clean")
      val rows = a.collect().toSeq
      spark.catalog.clearCache()
      val b = q("q60_corpus_clean")
      assert(b ne a)
      assert(Tables.planMisses == misses + 2)
      assert(b.collect().toSeq == rows)
      spark.catalog.clearCache()
      // a plan over files and local rows only is kept
      assert(q("q146_join_profile") eq q("q146_join_profile"))
    }
  }

  test("two threads collecting each deck query's kept frame match a fresh build") {
    val expected: Map[String, Seq[Row]] =
      fresh(deck.map(n => n -> q(n).collect().toSeq).toMap)
    fresh {
      deck.foreach { n =>
        val df = q(n)
        val bad = new AtomicLong()
        val threads = (1 to 2).map { _ =>
          new Thread(() => (1 to 50).foreach { _ =>
            val same = try df.collect().toSeq == expected(n)
              catch { case _: Throwable => false }
            if (!same) bad.incrementAndGet()
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        assert(q(n) eq df)
        assert(bad.get == 0, s"$n: ${bad.get} of 100 collects differ from a fresh build")
      }
    }
  }
}
