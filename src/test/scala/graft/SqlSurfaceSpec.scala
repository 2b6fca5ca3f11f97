package graft

import org.apache.spark.sql.functions._

/** The SQL surface reaches the engine's native functions/aggregates
  * (GraftFunctions bindings injected by GraftSession): q119/q121-
  * shaped sketch rollups, top-k and unicode normalization,
  * all via pure `spark.sql`, equal to (or within the sketch accuracy
  * contract of) the Column-API path.
  */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private def view(name: String, table: String): Unit =
    spark.read.parquet(s"/root/testdata/sf0.001/$table.parquet")
      .createOrReplaceTempView(name)

  test("q121-shaped: kll_sketch_agg + kll_quantile via pure SQL") {
    view("li", "lineitem")
    val med = spark.sql(
      "SELECT kll_quantile(kll_sketch_agg(l_quantity, 200), 0.5d) AS med" +
        " FROM li").as[Double].head()
    // exact rank window (the KllSpec contract): eps ~1.65% at k=200
    val xs = spark.table("li").select(col("l_quantity").cast("double"))
      .as[Double].collect().sorted
    def exactQ(q: Double) =
      xs(math.min(xs.length - 1, math.max(0, math.ceil(q * xs.length).toInt - 1)))
    assert(med >= exactQ(0.45) && med <= exactQ(0.55), s"median $med")
    // and the SQL aggregate plans the same partial/final shape as the
    // Column API (ObjectHashAggregate with a partial stage)
    val plan = spark.sql(
      "SELECT kll_sketch_agg(l_quantity) FROM li GROUP BY l_returnflag")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") &&
      plan.toLowerCase.contains("partial_kll_doubles_agg"), plan)
  }

  test("q119-shaped: per-group theta sketches union-roll-up via pure SQL") {
    view("li", "lineitem")
    val est = spark.sql(
      """SELECT theta_estimate(graft_theta_union_agg(sk)) AS nd FROM (
        |  SELECT l_returnflag, graft_theta_sketch_agg(l_partkey) AS sk
        |  FROM li GROUP BY l_returnflag)""".stripMargin)
      .as[Double].head()
    val exact = spark.table("li").select(countDistinct("l_partkey"))
      .as[Long].head()
    // below 2^12 nominal entries the sketch is exact
    assert(est.round == exact, s"theta $est vs exact $exact")
    // cross-compat: the engine's sketch bytes are DataSketches-compact,
    // so Spark 4's own builtin theta family reads them too (the reason
    // the graft_ prefix is a naming courtesy, not a format fork)
    val viaBuiltin = spark.sql(
      """SELECT theta_sketch_estimate(theta_union_agg(sk)) FROM (
        |  SELECT l_returnflag, graft_theta_sketch_agg(l_partkey) AS sk
        |  FROM li GROUP BY l_returnflag)""".stripMargin)
      .as[Double].head()
    assert(viaBuiltin.round == exact, s"builtin read $viaBuiltin vs $exact")
  }

  test("topk_agg(key, id, k) == the window row_number form") {
    view("li", "lineitem")
    val viaAgg = spark.sql(
      """SELECT l_suppkey, e.key AS qty, e.id AS okey
        |FROM (SELECT l_suppkey,
        |        topk_agg(l_quantity, l_orderkey, 3) AS top
        |      FROM li GROUP BY l_suppkey)
        |LATERAL VIEW explode(top) t AS e
        |ORDER BY l_suppkey, qty DESC, okey""".stripMargin)
      .as[(Long, Long, Long)].collect().toSeq
    val viaWindow = spark.sql(
      """SELECT l_suppkey, qty, okey FROM (
        |  SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS qty,
        |         l_orderkey AS okey,
        |         row_number() OVER (PARTITION BY l_suppkey
        |           ORDER BY CAST(l_quantity AS BIGINT) DESC, l_orderkey) rn
        |  FROM li) WHERE rn <= 3
        |ORDER BY l_suppkey, qty DESC, okey""".stripMargin)
      .as[(Long, Long, Long)].collect().toSeq
    assert(viaAgg == viaWindow && viaAgg.nonEmpty)
  }

  test("unicode_normalize in SQL: NFC default, explicit forms, literal-only form") {
    val got = spark.sql(
      "SELECT unicode_normalize('é'), " +
        "unicode_normalize('é', 'NFD'), " +
        "unicode_normalize('ﬁ', 'NFKC')")
      .as[(String, String, String)].head()
    assert(got == (("é", "é", "fi")))
    val err = intercept[Exception] {
      spark.sql("SELECT unicode_normalize('x', lower('NFC'))").collect()
    }
    assert(err.getMessage.contains("string literal"))
  }

  test("tuning args must be literals; arity errors name the function") {
    view("li", "lineitem")
    val e1 = intercept[Exception] {
      spark.sql("SELECT kll_sketch_agg(l_quantity, l_linenumber) FROM li")
        .collect()
    }
    assert(e1.getMessage.contains("integer literal"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT theta_estimate()").collect()
    }
    assert(e2.getMessage.contains("theta_estimate"))
  }
}
