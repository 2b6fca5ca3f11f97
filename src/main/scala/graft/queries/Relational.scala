package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The declared relational surface (SURVEY.md §2.3): joins,
  * aggregations, windows, set ops, sorts/top-k, scalar functions —
  * each as a Catalyst-planned DataFrame query with a DuckDB oracle.
  *
  * Scale notes (verified via .explain on sf0.1):
  *  - dimension joins (nation/region/bands) broadcast — no shuffle of
  *    the fact side beyond the aggregation's own exchange;
  *  - aggregations are partial (map-side combine) before the exchange;
  *  - top-k lowers to TakeOrderedAndProject (no global sort);
  *  - filters/projections push into the parquet scan.
  */
object Relational {

  val queries: Map[String, Q] = Map(
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_filter_predicates" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_quantity") >= 30 &&
          col("l_shipdate") < lit("1999-01-01 00:00:00").cast(TimestampType) &&
          col("l_discount").between(0.02, 0.08))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        // (l_orderkey, l_linenumber) is NOT unique in the fixture —
        // total order over all output columns for determinism
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    }),

    "q03_join_dims" -> ((s, dir) => {
      // fact->dim joins: nation and region are broadcast by Catalyst
      t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .orderBy("r_name", "n_name")
    }),

    "q04_topk_orders" -> ((s, dir) => {
      // lowers to TakeOrderedAndProject: no global sort at scale
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)
    }),

    "q05_join_semi" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "q06_join_anti" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "q07_join_left_agg" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_spend"))
        .orderBy("c_custkey")
    }),

    "q08_join_full_nations" -> ((s, dir) => {
      val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, col("nk") === col("nk2"), "full")
        .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
          col("n_cust"), col("n_supp"))
        .orderBy("nationkey")
    }),

    "q09_join_nonequi_bands" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(("low", -100000.0, 3000.0), ("mid", 3000.0, 7000.0),
        ("high", 7000.0, 100000.0)).toDF("band", "lo", "hi")
      // 3-row band table: broadcast-nested-loop, the only sane plan
      // for a non-equi join against a tiny build side
      t(s, dir, "supplier")
        .join(broadcast(bands), col("s_acctbal") >= col("lo") && col("s_acctbal") < col("hi"))
        .select("s_suppkey", "s_name", "band")
        .orderBy("s_suppkey", "band")
    }),

    "q10_agg_global" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
    }),

    "q11_agg_group_year" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), year(col("l_shipdate")).cast(LongType).as("ship_year"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
        .orderBy("l_returnflag", "ship_year")
    }),

    "q12_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    }),

    "q13_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("n"))
        .orderBy("st", "pri")
    }),

    "q14_window_rownum" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 3)
        .select("l_suppkey", "rn", "l_orderkey", "l_linenumber")
        .orderBy("l_suppkey", "rn")
    }),

    "q15_window_rank_lag" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(w).cast(LongType).as("rk"),
          dense_rank().over(w).cast(LongType).as("drk"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q16_window_running" -> ((s, dir) => {
      // running frame over orders: o_orderkey is unique, so the frame
      // order — and therefore every prefix sum — is deterministic
      // (lineitem has no unique key; a running sum over a non-unique
      // ordering is not a well-defined query)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("run_spend"),
          count(lit(1)).over(w).cast(LongType).as("run_n"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q17_sort_multi" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice")
        .orderBy(col("o_orderpriority").desc, col("o_orderdate").asc, col("o_orderkey").asc)
        .limit(100)
    }),

    "q18_union_all" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast(LongType).as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").cast(LongType).as("nationkey"))
      c.unionAll(su).groupBy("nationkey").agg(count(lit(1)).as("n")).orderBy("nationkey")
    }),

    "q19_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast(LongType).as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").cast(LongType).as("nationkey"))
      c.intersect(su).orderBy("nationkey")
    }),

    "q20_except" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast(LongType).as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").cast(LongType).as("nationkey"))
      c.except(su).orderBy("nationkey")
    }),

    "q21_scalar_string" -> ((s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
        lower(col("p_name")).as("lname"),
        expr("replace(p_type, 'E', 'e')").as("ltype"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        trim(concat(lit("  "), col("p_brand"), lit(" "))).as("trimmed_brand"),
        regexp_extract(col("p_brand"), "(\\d+)", 1).as("brand_num"),
        length(col("p_name")).cast(LongType).as("name_len"),
        substring(col("p_name"), 1, 5).as("name5"))
        .orderBy("p_partkey")
    }),

    "q22_scalar_date" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("yr"),
        month(col("o_orderdate")).cast(LongType).as("mo"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso_date"),
        col("o_orderdate").cast(TimestampType).cast(LongType).as("epoch_s"),
        from_unixtime(col("o_orderdate").cast(TimestampType).cast(LongType))
          .as("from_epoch"),
        datediff(lit("2002-01-01").cast(DateType), col("o_orderdate").cast(DateType))
          .cast(LongType).as("days_to_2002"))
        .orderBy("o_orderkey")
    }),

    "q23_scalar_math" -> ((s, dir) => {
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") + col("l_tax")).as("qty_plus_tax"),
        abs(col("l_discount") - lit(0.05)).as("abs_disc"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        (col("l_orderkey") % 7).as("mod7"),
        pow(lit(2), col("l_linenumber")).as("pow2"),
        round(dec(col("l_extendedprice")) * dec(col("l_discount")), 2)
          .cast("double").as("disc_amt"))
        .orderBy("l_orderkey", "l_linenumber", "qty_plus_tax", "abs_disc",
          "ceil_price", "floor_price", "mod7", "pow2", "disc_amt")
    }),

    "q24_scalar_cond" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("band"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg"),
        (col("c_nationkey") % 2 === 0).as("even_nation"))
        .orderBy("c_custkey")
    }),

    "q34_join_right" -> ((s, dir) => {
      // right join: all suppliers kept even without a nation match
      t(s, dir, "nation")
        .join(t(s, dir, "supplier"), col("n_nationkey") === col("s_nationkey"), "right")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey")
    }),

    "q35_approx_distinct" -> ((s, dir) => {
      // HLL estimates are engine-specific, so the sketch VALUE can't
      // be differentially compared — but its accuracy contract can:
      // emit the exact count (true differential check) plus a boolean
      // asserting the sketch landed within 5x its configured 1% rsd.
      // The oracle expects TRUE; a broken sketch integration fails
      // the hash compare.
      t(s, dir, "lineitem").agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("exact_orders"),
          (abs(col("approx") - col("exact_orders"))
            <= col("exact_orders") * lit(0.05)).as("sketch_within_5pct"))
    }),

    "q37_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec(col("o_totalprice"))).cast("double"))
        .orderBy("o_orderpriority")
    }),

    "q38_nullsafe_eq" -> ((s, dir) => {
      // null-safe equality over genuinely nullable operands
      t(s, dir, "customer").select(col("c_custkey"),
        (nullif(col("c_mktsegment"), lit("BUILDING")) <=>
          nullif(col("c_mktsegment"), lit("AUTOMOBILE"))).as("seg_nullsafe_eq"),
        nullif(col("c_mktsegment"), lit("BUILDING")).isNull.as("is_building"))
        .orderBy("c_custkey")
    }),

    "q39_grouping_sets" -> ((s, dir) => {
      // SQL API entry: GROUPING SETS beyond rollup/cube
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                      coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n
               FROM lineitem_v
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
               ORDER BY rf, ls""")
    }),

    "q62_scalar_string2" -> ((s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
        lpad(col("p_partkey").cast(StringType), 8, "0").as("padded"),
        rpad(col("p_brand"), 12, ".").as("rpadded"),
        translate(col("p_type"), "AEIOU", "aeiou").as("translated"),
        levenshtein(col("p_brand"), col("p_type")).cast(LongType).as("lev"),
        reverse(col("p_name")).as("rev"),
        repeat(col("p_brand"), 2).as("rep"))
        .orderBy("p_partkey")
    }),

    "q63_window_range_frame" -> ((s, dir) => {
      // RANGE frame over a numeric day offset: trailing-7-day spend.
      // RANGE (not ROWS) so same-day ties aggregate identically
      // regardless of intra-day order — deterministic by construction
      val w = Window.partitionBy("o_custkey").orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("day", datediff(col("o_orderdate").cast(DateType),
          lit("1995-01-01").cast(DateType)).cast(LongType))
        .select(col("o_custkey"), col("o_orderkey"), col("day"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("wk_spend"),
          count(lit(1)).over(w).cast(LongType).as("wk_n"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q64_date_math" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
        add_months(col("o_orderdate"), 3).as("plus3m"),
        last_day(col("o_orderdate")).as("eom"),
        quarter(col("o_orderdate")).cast(LongType).as("qtr"),
        date_add(col("o_orderdate").cast(DateType), 45).as("plus45d"))
        .orderBy("o_orderkey")
    }),

    "q65_array_funcs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("tk"))
      d.select(col("doc_id"),
        array_contains(col("tk"), "join").as("has_join"),
        size(array_distinct(col("tk"))).cast(LongType).as("n_distinct"),
        concat_ws(" ", slice(col("tk"), 2, 3)).as("mid3"),
        element_at(col("tk"), -1).as("last_tok"))
        .orderBy("doc_id")
    }),

    "q68_scalar_subquery" -> ((s, dir) => {
      // correlated + scalar subqueries via the SQL API (Catalyst
      // decorrelates into joins — no per-row re-execution)
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_custkey, c_acctbal,
                 (SELECT COUNT(*) FROM orders_v o
                  WHERE o.o_custkey = c.c_custkey) AS n_orders
               FROM customer_v c
               WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM customer_v)
               ORDER BY c_custkey""")
    }),

    "q69_lateral_topn" -> ((s, dir) => {
      // LATERAL top-n per group (the join-form alternative to window
      // row_number; Catalyst rewrites to a ranked join)
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_custkey, o_orderkey, o_totalprice
               FROM customer_v c,
               LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v o
                        WHERE o.o_custkey = c.c_custkey
                        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
               ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
    }),

    "q70_set_ops_all" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast(LongType).as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").cast(LongType).as("nationkey"))
      c.exceptAll(su).groupBy("nationkey").agg(count(lit(1)).as("n"))
        .unionAll(c.intersectAll(su).groupBy("nationkey")
          .agg((count(lit(1)) * -1).as("n")))
        .groupBy("nationkey").agg(sum(col("n")).as("net"))
        .orderBy("nationkey")
    }),

    "q71_posexplode" -> ((s, dir) => {
      // generator/UDTF row: position-aware explode of token arrays
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("tok"))
        .orderBy("doc_id", "pos")
    }),

    "q72_unpivot" -> ((s, dir) => {
      // wide->long reshape via stack (UNPIVOT)
      t(s, dir, "orders").selectExpr("o_orderkey",
        """stack(2, 'totalprice', o_totalprice,
                    'custkey_as_val', cast(o_custkey as double)) AS (metric, value)""")
        .orderBy("o_orderkey", "metric")
    }),

    "q73_exotic_aggs" -> ((s, dir) => {
      // max_by/min_by (argmax on a unique composite), bool_and/bool_or,
      // bit_or - all order-independent exact aggregates
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          expr("""max_by(o_orderkey,
            cast(round(o_totalprice * 100) as bigint) * 1000000 + o_orderkey)""")
            .as("best_order"),
          expr("""min_by(o_orderkey,
            cast(round(o_totalprice * 100) as bigint) * 1000000 + o_orderkey)""")
            .as("worst_order"),
          expr("bool_and(o_totalprice > 2000)").as("all_over_2k"),
          expr("bool_or(o_orderstatus = 'P')").as("any_pending"),
          expr("bit_or(cast(o_orderkey % 64 as bigint))").as("key_bits"))
        .orderBy("o_custkey")
    }),

    "q74_window_navigation" -> ((s, dir) => {
      val wBase = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = wBase.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(wBase).as("first_ok"),
        last(col("o_orderkey")).over(wFull).as("last_ok"),
        nth_value(col("o_orderkey"), 2).over(wFull).as("second_ok"),
        ntile(3).over(wBase).cast(LongType).as("tercile"),
        percent_rank().over(wBase).as("pr"),
        cume_dist().over(wBase).as("cd"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q75_recursive_cte" -> ((s, dir) => {
      // WITH RECURSIVE (Spark 4): calendar spine left-joined to
      // per-month order counts — the gaps-filling idiom
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""WITH RECURSIVE months(n) AS (
                 SELECT 0 UNION ALL SELECT n + 1 FROM months WHERE n < 83),
               spine AS (
                 SELECT add_months(DATE '1995-01-01', n) AS month_start FROM months),
               per_month AS (
                 SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                        COUNT(*) AS n_orders
                 FROM orders_v GROUP BY 1)
               SELECT spine.month_start, coalesce(per_month.n_orders, 0) AS n_orders
               FROM spine LEFT JOIN per_month ON per_month.m = spine.month_start
               ORDER BY spine.month_start""")
    }),

    "q30_dedup_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus")
    }),

    "q31_dedup_subset" -> ((s, dir) => {
      // deterministic dropDuplicates(subset): keep the min-key row per
      // group (dropDuplicates itself keeps an arbitrary row — not
      // oracle-comparable, and not reproducible at scale either)
      val w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy("o_orderkey")
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderstatus", "o_orderkey")
        .orderBy("o_custkey", "o_orderstatus")
    }),

    "q32_json_extract" -> ((s, dir) => {
      events(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .orderBy("event_id")
    }),

    "q33_events_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy("hour", "event_type")
    }),

    // one-pass exact data profiling over lineitem's numeric columns
    "q84_profile" -> ((s, dir) => {
      graft.ops.Profile.profileNumeric(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("column")
    }),

    // the salted-join fallback for dominant keys, oracle-gated: the
    // lineitem⋈part join fanned saltFactor ways (deterministic salt
    // from the line number — reproducible under retries, unlike
    // rand()) must aggregate to exactly the plain join's answer
    "q167_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_partkey", "l_linenumber",
        "l_quantity")
      val p = t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
        col("p_size"))
      graft.ops.Skew.saltedJoin(li, p, "l_partkey",
          col("l_linenumber"), saltFactor = 8)
        .groupBy("p_size")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("p_size")
    }),

    // late-data profile: per user, how often events arrive out of
    // order (ts below the running per-user maximum seen so far, in
    // event_id arrival order) and how late the worst one is — the
    // measurement that SIZES a streaming watermark before anyone
    // picks `withWatermark("10 minutes")` on folklore
    "q166_late_data_profile" -> ((s, dir) => {
      // arrival = event time + deterministic transit jitter (pure
      // integer arithmetic, engine-replayable) — the fixture stream
      // is perfectly ordered, so lateness must be INDUCED to measure
      val w = Window.partitionBy("user_id").orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("arrival_us",
          expr("us + (event_id * 2654435761) % 3600000000"))
        .withColumn("hwm", max("us").over(w))
        .withColumn("late_us", col("hwm") - col("us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
          max("late_us").as("max_late_us"))
        .withColumn("late_milli", expr("n_late * 1000 DIV n_events"))
        .orderBy("user_id")
    }),

    // telemetry debounce: within each (user, event_type) stream, keep
    // an event only if it starts a burst — no same-kind event in the
    // preceding 60s. One window pass; the dedup-with-grace-period
    // every clickstream ingest applies before counting anything
    "q162_event_debounce" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .where(col("prev_us").isNull || col("us") - col("prev_us") > 60000000L)
        .select("user_id", "event_type", "event_id", "us")
        .orderBy("user_id", "event_type", "us", "event_id")
    }),

    // time-weighted average (TWAP shape): each observation weighted by
    // its holding interval to the next one, exact integer µs × milli
    // arithmetic end to end; the metric aggregation monitoring and
    // finance pipelines need where plain AVG is wrong under uneven
    // sampling
    "q163_time_weighted_avg" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val obs = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          expr("CAST(round(value * 1000.0) AS BIGINT)").as("v_milli"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .where(col("next_us").isNotNull)
        // ms holding intervals: overflow headroom for the weighted sum
        .withColumn("dur_ms", expr("(next_us - us) DIV 1000"))
      obs.groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum("dur_ms").as("span_ms"),
          sum(expr("v_milli * dur_ms")).as("vw"))
        .where(col("span_ms") > 0)
        // floor division regardless of sign: (a - pmod(a, b)) is an
        // exact multiple of b, so the truncating DIV equals floor —
        // matching the oracle's // on possibly-negative numerators
        .withColumn("twap_milli", expr("(vw - pmod(vw, span_ms)) DIV span_ms"))
        .select("user_id", "n_intervals", "span_ms", "twap_milli")
        .orderBy("user_id")
    }),

    // robust outlier detection: per-group median absolute deviation
    // (exact interpolated medians, the q94/q148 percentile≡
    // quantile_cont parity), outliers = |x - med| > 3 · MAD; immune to
    // the outliers themselves, unlike stddev-based z-scores
    "q164_mad_outliers" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      val med = li.groupBy("l_returnflag")
        .agg(expr("percentile(cents, 0.5)").as("med"))
      val mad = li.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("cents").cast("double") - col("med")))
        .groupBy("l_returnflag")
        .agg(expr("percentile(adev, 0.5)").as("mad"), first("med").as("med"))
      li.join(broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          expr("CAST(round(MAX(med)) AS BIGINT)").as("med_r"),
          expr("CAST(round(MAX(mad)) AS BIGINT)").as("mad_r"),
          sum(when(abs(col("cents").cast("double") - col("med"))
            > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("l_returnflag")
    }),

    // ordered 3-step funnel, FIRST-completion semantics: first view,
    // first click strictly after it, first purchase strictly after
    // that — three keyed min-aggregations chained by broadcast-sized
    // joins, no window over the full event stream and no self-join
    // explosion (q81 covers the pairwise-within-window variant)
    "q160_funnel_steps" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("v_us"))
      val c = ev.where(col("event_type") === "click")
        .join(v, "user_id").where(col("us") > col("v_us"))
        .groupBy("user_id").agg(min("us").as("c_us"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("us") > col("c_us"))
        .groupBy("user_id").agg(min("us").as("p_us"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .withColumn("stage",
          when(col("p_us").isNotNull, 3L)
            .when(col("c_us").isNotNull, 2L).otherwise(1L))
        .select("user_id", "v_us", "c_us", "p_us", "stage")
        .orderBy("user_id")
    }),

    // privacy audit: k-anonymity + l-diversity over quasi-identifier
    // classes (nation × coarse balance band), sensitive attribute =
    // market segment — the release-gate check a dataset publisher
    // runs; one aggregation pass
    "q161_k_anonymity" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nation"),
          expr("CAST(floor(CAST(c_acctbal AS DOUBLE) / 2000) AS BIGINT)")
            .as("bal_band"),
          col("c_mktsegment"))
        .groupBy("nation", "bal_band")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_mktsegment")).as("n_sensitive"))
        .withColumn("k5_ok", col("n") >= 5)
        .withColumn("l3_ok", col("n_sensitive") >= 3)
        .orderBy("nation", "bal_band")
    }),

    // funnel interval self-join: click -> purchase by the same user
    // within one hour. Time math in exact integer microseconds (the
    // epoch_us/unix_micros parity convention); executes as one
    // SortMergeJoin on user_id with the range as a join filter — no
    // quadratic stage.
    "q81_funnel_pairs" -> ((s, dir) => {
      val ev = events(s, dir)
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"))
      c.join(p, col("user_id") === col("p_user")
          && col("p_us") > col("c_us")
          && col("p_us") <= col("c_us") + lit(3600000000L))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (col("p_us") - col("c_us")).as("delta_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),

    // grouped top-k via the bounded mergeable aggregator
    // (functions/TopK.scala): per nation, the 3 customers with the
    // highest account balance (ties by custkey). Equivalent to the
    // row_number window form the oracle uses, but shuffles only <= k
    // candidates per group per map partition instead of every row —
    // the partial-aggregation shape that survives a 100x scale-up.
    // the SQL-surface twin of q116, end-to-end through the
    // FunctionRegistry binding (GraftFunctions.topk_agg — a
    // TypedImperativeAggregate delegating to the same TopKAgg logic):
    // the registered name must produce bit-identical grouped top-k
    // from pure spark.sql, under the same DuckDB window-form oracle
    "q170_sql_topk" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("graft_q170_customer")
      s.sql(
        """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
          |       CAST(pos + 1 AS BIGINT) AS rnk,
          |       e.id AS c_custkey, e.key AS bal_cents
          |FROM (SELECT c_nationkey,
          |        topk_agg(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
          |                      AS BIGINT), c_custkey, 3) AS top
          |      FROM graft_q170_customer GROUP BY c_nationkey)
          |LATERAL VIEW posexplode(top) t AS pos, e
          |ORDER BY c_nationkey, rnk""".stripMargin)
    }),

    "q116_grouped_topk" -> ((s, dir) => {
      val topk = udaf(graft.functions.TopKAgg(3))
      t(s, dir, "customer")
        .select(col("c_nationkey").cast(LongType).as("c_nationkey"),
          (dec(col("c_acctbal")) * 100).cast(LongType).as("bal_cents"),
          col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(topk(col("bal_cents"), col("c_custkey")).as("top"))
        .select(col("c_nationkey"),
          posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("c_nationkey"), (col("pos") + 1).cast(LongType).as("rnk"),
          col("e._2").as("c_custkey"), col("e._1").as("bal_cents"))
        .orderBy("c_nationkey", "rnk")
    }),

    // sketch ROLLUP: per-day Datasketches-HLL sketches of distinct
    // users, then a cross-day distinct via hll_union_agg over the
    // (tiny) sketch column — the pattern that makes distinct-count
    // rollups cheap at 100 TB: sketch each partition/day once at
    // ingest, answer any later union (week, month, all-time) by
    // merging kilobyte summaries instead of rescanning raw events.
    // Oracle shape follows q35: exact counts are the differential
    // check; the sketch's accuracy contract is a boolean (lgK=14
    // => 0.8% rsd; bound 5% + 1 absolute for tiny groups).
    "q117_hll_rollup" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy("day").agg(
        hll_sketch_agg(col("user_id"), 14).as("sk"),
        countDistinct(col("user_id")).as("exact_users"))
      val dayRows = daily.select(
        col("day").cast("string").as("scope"), col("exact_users"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_users"))
          <= col("exact_users") * lit(0.05) + lit(1)).as("sketch_within_5pct"))
      val allRow = daily.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"), true)).as("approx"))
        .crossJoin(ev.agg(countDistinct(col("user_id")).as("exact_users")))
        .select(lit("ALL").as("scope"), col("exact_users"),
          (abs(col("approx") - col("exact_users"))
            <= col("exact_users") * lit(0.05) + lit(1)).as("sketch_within_5pct"))
      dayRows.unionByName(allRow).orderBy("scope")
    }),

    // z-order layout analytics: Morton-interleave (l_partkey,
    // l_suppkey), group by the level-3 quadtree bucket (top 6 z bits
    // — a pure projection, NO global sort), and emit each bucket's
    // min-max box plus whether a fixed 2-D box predicate could skip
    // it entirely: the data-skipping math of a z-ordered layout, tight
    // min-max on BOTH dims at once.
    "q118_zorder_skipping" -> ((s, dir) => {
      val bits = 16
      val z = graft.ops.ZOrder.zValue2(col("l_partkey"), col("l_suppkey"), bits)
      t(s, dir, "lineitem")
        .select(graft.ops.ZOrder.zBucket(z, bits, 3).as("bucket"),
          col("l_partkey"), col("l_suppkey"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").as("min_x"), max("l_partkey").as("max_x"),
          min("l_suppkey").as("min_y"), max("l_suppkey").as("max_y"))
        .withColumn("prunable",
          col("max_x") < 100 || col("min_x") > 300 ||
            col("max_y") < 10 || col("min_y") > 30)
        .orderBy("bucket")
    }),

    // weighted PageRank over the event-type transition graph (edge
    // u->v = "v follows u in a user's stream", weight = frequency):
    // 8 damped power iterations in exact integer micro-arithmetic —
    // the oracle replays the identical recurrence as unrolled CTEs,
    // so the iterative distributed computation hash-matches SQL.
    "q120_pagerank_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val pairs = events(s, dir)
        .withColumn("us", expr("unix_micros(ts)"))
        .withColumn("dst", lead("event_type", 1).over(w))
        .where(col("dst").isNotNull)
        .select(col("event_type").as("src"), col("dst"))
      val edges = pairs.groupBy("src", "dst").agg(count(lit(1)).as("w"))
      graft.ops.PageRank.run(edges, 8)
        .select(col("node").as("event_type"), col("pr").as("pr_micro"))
        .orderBy("event_type")
    }),

    // triangle counting over the part co-purchase graph (edge = two
    // parts appearing in the same order): per-part triangle counts
    // via degree-ordered edge orientation — exact, no sampling, and
    // the wedge join is bounded by m^1.5 regardless of degree skew
    // (see ops/Triangles). Top 20 parts by triangle participation,
    // the "densely co-bought" cohesion signal.
    "q127_triangle_parts" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      graft.ops.Triangles.perNode(e, "src", "dst")
        .orderBy(desc("n_triangles"), asc("node"))
        .limit(20)
        .select(col("node").as("part"), col("n_triangles"))
    }),

    // community detection over the part co-purchase graph: 4 rounds
    // of deterministic synchronous label propagation (most-frequent
    // neighbor label, ties -> smallest) — the densely-knit-cluster
    // signal between connected components (q77, too coarse) and
    // triangle counts (q127, per-node only). Oracle replays the
    // unrolled recurrence CTE-for-CTE.
    "q133_lpa_communities" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      graft.ops.LabelPropagation.run(e, iters = 4)
        .select(col("node").as("part"), col("community"))
        .orderBy("part")
    }),

    // theta-sketch SET ALGEBRA over user segments: heavy clickers (A)
    // vs heavy purchasers (B) as per-segment sketches, then
    // |A∩B| / |A\B| / |A∪B| answered from the KB summaries alone —
    // the q117 rollup pattern extended to intersections, which HLL
    // cannot express. Exact counts are the differential; each theta
    // estimate must land within 5%+2 of exact (below k entries the
    // sketch is literally exact). q113-style driver composition: the
    // sketches and the exact counts each come from ONE aggregation
    // over the same persisted per-user frame.
    "q121_theta_segments" -> ((s, dir) => {
      import graft.functions.Theta
      def within(est: Double, exact: Long): Boolean =
        math.abs(est - exact) <= exact * 0.05 + 2
      val cc = events(s, dir).groupBy("user_id").agg(
        count(when(col("event_type") === "click", 1)).as("nc"),
        count(when(col("event_type") === "purchase", 1)).as("np"))
        .persist()
      try {
        val sk = cc.agg(
          Theta.sketchAgg(when(col("nc") >= 16, col("user_id"))).as("ska"),
          Theta.sketchAgg(when(col("np") >= 16, col("user_id"))).as("skb"))
          .head()
        val (ska, skb) =
          (sk.getAs[Array[Byte]]("ska"), sk.getAs[Array[Byte]]("skb"))
        val ex = cc.agg(
          count(when(col("nc") >= 16, 1)).as("a"),
          count(when(col("np") >= 16, 1)).as("b"),
          count(when(col("nc") >= 16 && col("np") >= 16, 1)).as("ab"))
          .head()
        val (a, b, ab) = (ex.getLong(0), ex.getLong(1), ex.getLong(2))
        import s.implicits._
        Seq(
          ("a_heavy_clickers", a, within(Theta.estimate(ska), a)),
          ("b_heavy_purchasers", b, within(Theta.estimate(skb), b)),
          ("a_intersect_b", ab,
            within(Theta.estimate(Theta.intersect(ska, skb)), ab)),
          ("a_minus_b", a - ab,
            within(Theta.estimate(Theta.aNotB(ska, skb)), a - ab)),
          ("a_union_b", a + b - ab,
            within(Theta.estimate(Theta.union(ska, skb)), a + b - ab)))
          .toDF("set_op", "exact_users", "theta_within")
          .orderBy("set_op")
      } finally { cc.unpersist(); () }
    }),

    // interval-overlap join via time-bin bucketing (ops/IntervalJoin):
    // cross-user session pairs that overlap in wall-clock time. The
    // non-equi overlap predicate becomes a bin equi-join (lossless:
    // overlapping intervals share a bin) with algebraic first-shared-
    // bin dedup — no CartesianProduct, no post-join distinct. The
    // oracle is the quadratic form, exact at fixture scale.
    "q122_session_overlaps" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us")
      val run = Window.partitionBy("user_id").orderBy("us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = events(s, dir)
        .withColumn("us", expr("unix_micros(ts)"))
        .withColumn("prev", lag("us", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L,
            1L).otherwise(0L))
        .withColumn("sess", sum("new_s").over(run))
        .groupBy("user_id", "sess")
        .agg(min("us").as("st"), max("us").as("en"))
        .where(col("en") > col("st"))
      graft.ops.IntervalJoin
        .overlapJoin(sess, sess, "st", "en", 1800000000L,
          col("a_user_id") < col("b_user_id"))
        .select(col("a_user_id"), col("a_sess"), col("b_user_id"),
          col("b_sess"), col("overlap_us"))
        .orderBy("a_user_id", "a_sess", "b_user_id", "b_sess")
    }),

    // SLIDING windows (1h window, 15min slide): each event lands in
    // exactly 4 overlapping windows via Spark's native window()
    // generator — the same plan fragment Structured Streaming
    // executes incrementally (q33's tumbling shape, generalized).
    // The oracle replays the window arithmetic explicitly: start =
    // floor15(ts) - o*15min for o in 0..3.
    "q123_sliding_windows" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(expr("unix_micros(w.start)").as("wstart_us"),
          col("n_events"), col("n_users"))
        .orderBy("wstart_us")
    }),

    // ingest-volume anomaly detection: per-day event counts scored by
    // z-score against the corpus mean/std — the pipeline-monitoring
    // primitive ("did yesterday's crawl drop?"). Moments accumulate
    // as exact long sums (order-independent); the mean/std/z are a
    // FIXED sequence of double ops + one sqrt (IEEE correctly-rounded
    // in both engines), micro-rounded — so the score hash-matches SQL
    // bit for bit. Degenerate corpora (one day, zero variance) pin z
    // to 0 identically on both sides.
    "q124_volume_anomaly" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      val stats = daily.agg(count(lit(1)).as("d"),
        sum("n_events").as("s"),
        sum(col("n_events") * col("n_events")).as("ss"))
      daily.crossJoin(broadcast(stats))
        .withColumn("mean", expr("CAST(s AS DOUBLE) / CAST(d AS DOUBLE)"))
        .withColumn("variance", expr(
          "(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)" +
            " / CAST(d AS DOUBLE)) / CAST(d - 1 AS DOUBLE)"))
        .withColumn("z_micro", expr(
          "CASE WHEN d <= 1 OR variance <= 0 THEN CAST(0 AS BIGINT)" +
            " ELSE CAST(round((CAST(n_events AS DOUBLE) - mean)" +
            " / sqrt(variance) * 1000000.0) AS BIGINT) END"))
        .select(col("day").cast("string").as("day"), col("n_events"),
          col("z_micro"), (abs(col("z_micro")) >= 2000000L).as("anomaly"))
        .orderBy("day")
    }),

    // grouped OLS trend via SUFFICIENT STATISTICS: per event type,
    // regress event value on day index in ONE aggregation — n, Σx,
    // Σy, Σx², Σxy accumulate as exact longs (micro-scaled y, small
    // day ints), so the normal-equation numerator/denominator are
    // exact integers and the slope/intercept are single fixed-order
    // double divisions, micro-rounded. Distributed regression with
    // no iteration and no data movement beyond one partial agg —
    // the moments pattern (q58/q124) extended to model fitting.
    "q125_trend_ols" -> ((s, dir) => {
      // centered normal-equation form: num/den computed in DOUBLE
      // from the exact long sums (all < 2^53, so the conversions are
      // exact and no long product can overflow at any fixture SF),
      // fixed op order => bit-identical to the SQL replay
      val base = events(s, dir).select(col("event_type"),
        datediff(to_date(col("ts")), lit("2026-01-01")).cast(LongType).as("x"),
        expr("CAST(round(value * 1000.0) AS BIGINT)").as("y"))
      base.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("num", expr(
          "CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)" +
            " / CAST(n AS DOUBLE)"))
        .withColumn("den", expr(
          "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)" +
            " / CAST(n AS DOUBLE)"))
        .withColumn("slope_milli", expr(
          "CASE WHEN den <= 0 THEN CAST(0 AS BIGINT)" +
            " ELSE CAST(round(num / den) AS BIGINT) END"))
        .withColumn("intercept_milli", expr(
          "CASE WHEN den <= 0 THEN CAST(0 AS BIGINT)" +
            " ELSE CAST(round((CAST(sy AS DOUBLE) - num / den" +
            " * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT) END"))
        .select("event_type", "n", "slope_milli", "intercept_milli")
        .orderBy("event_type")
    }))

  private val decQty = "CAST(l_quantity AS DECIMAL(18,2))"
  private val decPrice = "CAST(l_extendedprice AS DECIMAL(18,2))"
  private val decDisc = "CAST(l_discount AS DECIMAL(18,2))"

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         CAST(SUM($decQty) AS DOUBLE) AS sum_qty,
         CAST(SUM($decPrice) AS DOUBLE) AS sum_base_price,
         CAST(SUM($decPrice * (CAST(1 AS DECIMAL(18,2)) - $decDisc)) AS DOUBLE) AS sum_disc_price,
         CAST(SUM($decQty) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_predicates" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
         WHERE l_returnflag IN ('A','R') AND l_quantity >= 30
           AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
           AND l_discount BETWEEN 0.02 AND 0.08
         ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""",
    "q03_join_dims" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q04_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""",
    "q05_join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "q06_join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "q07_join_left_agg" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_spend
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q08_join_full_nations" ->
      """SELECT coalesce(c.nk, s.nk2) AS nationkey, c.n_cust, s.n_supp
         FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
         FULL JOIN (SELECT s_nationkey AS nk2, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
         ON c.nk = s.nk2 ORDER BY nationkey""",
    "q09_join_nonequi_bands" ->
      """SELECT s_suppkey, s_name, band FROM supplier s
         JOIN (VALUES ('low', -100000.0, 3000.0), ('mid', 3000.0, 7000.0),
               ('high', 7000.0, 100000.0)) AS b(band, lo, hi)
         ON s.s_acctbal >= b.lo AND s.s_acctbal < b.hi
         ORDER BY s_suppkey, band""",
    "q10_agg_global" ->
      s"""SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
         MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
         CAST(SUM($decQty) AS DOUBLE) AS sum_qty FROM lineitem""",
    "q11_agg_group_year" ->
      s"""SELECT l_returnflag, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         COUNT(*) AS n, CAST(SUM($decPrice) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q12_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         COUNT(*) AS n, CAST(SUM($decQty) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls""",
    "q13_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st, coalesce(o_orderpriority, 'ALL') AS pri,
         COUNT(*) AS n FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY st, pri""",
    "q14_window_rownum" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
           FROM lineitem) WHERE rn <= 3 ORDER BY l_suppkey, rn""",
    "q15_window_rank_lag" ->
      """SELECT o_custkey, o_orderkey,
         CAST(RANK() OVER w AS BIGINT) AS rk,
         CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
         LAG(o_totalprice, 1) OVER w AS prev_price,
         LEAD(o_totalprice, 1) OVER w AS next_price
         FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q16_window_running" ->
      """SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_spend,
         CAST(COUNT(*) OVER w AS BIGINT) AS run_n
         FROM orders WINDOW w AS (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey""",
    "q17_sort_multi" ->
      """SELECT o_orderkey, o_orderpriority, o_orderdate, o_totalprice FROM orders
         ORDER BY o_orderpriority DESC, o_orderdate ASC, o_orderkey ASC LIMIT 100""",
    "q18_union_all" ->
      """SELECT nationkey, COUNT(*) AS n FROM (
           SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
           UNION ALL SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
         GROUP BY nationkey ORDER BY nationkey""",
    "q19_intersect" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
         INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier
         ORDER BY nationkey""",
    "q20_except" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
         EXCEPT SELECT CAST(s_nationkey AS BIGINT) FROM supplier
         ORDER BY nationkey""",
    "q21_scalar_string" ->
      """SELECT p_partkey, lower(p_name) AS lname, replace(p_type, 'E', 'e') AS ltype,
         concat_ws('|', p_brand, p_type) AS brand_type,
         string_split(p_name, ' ')[1] AS first_word,
         trim('  ' || p_brand || ' ') AS trimmed_brand,
         regexp_extract(p_brand, '(\d+)', 1) AS brand_num,
         CAST(length(p_name) AS BIGINT) AS name_len,
         substring(p_name, 1, 5) AS name5
         FROM part ORDER BY p_partkey""",
    "q22_scalar_date" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(day(o_orderdate) AS BIGINT) AS dom,
         date_trunc('month', o_orderdate) AS month_start,
         strftime(o_orderdate, '%Y-%m-%d') AS iso_date,
         CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
         strftime(to_timestamp(CAST(epoch(o_orderdate) AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS from_epoch,
         datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
         FROM orders ORDER BY o_orderkey""",
    "q23_scalar_math" ->
      s"""SELECT l_orderkey, l_linenumber,
         l_quantity + l_tax AS qty_plus_tax,
         abs(l_discount - 0.05) AS abs_disc,
         CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
         CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
         l_orderkey % 7 AS mod7,
         power(2, l_linenumber) AS pow2,
         CAST(round($decPrice * $decDisc, 2) AS DOUBLE) AS disc_amt
         FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_plus_tax,
           abs_disc, ceil_price, floor_price, mod7, pow2, disc_amt""",
    "q24_scalar_cond" ->
      """SELECT c_custkey,
         CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END AS band,
         coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
         (c_nationkey % 2 = 0) AS even_nation
         FROM customer ORDER BY c_custkey""",
    "q34_join_right" ->
      """SELECT s_suppkey, s_name, n_name
         FROM nation RIGHT JOIN supplier ON n_nationkey = s_nationkey
         ORDER BY s_suppkey""",
    "q35_approx_distinct" ->
      """SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
         TRUE AS sketch_within_5pct FROM lineitem""",
    "q37_pivot" ->
      """SELECT o_orderpriority,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
         CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
         CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q38_nullsafe_eq" ->
      """SELECT c_custkey,
         (nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM
          nullif(c_mktsegment, 'AUTOMOBILE')) AS seg_nullsafe_eq,
         (nullif(c_mktsegment, 'BUILDING') IS NULL) AS is_building
         FROM customer ORDER BY c_custkey""",
    "q39_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
                coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY rf, ls""",
    "q74_window_navigation" ->
      """SELECT o_custkey, o_orderkey,
         first_value(o_orderkey) OVER w AS first_ok,
         last_value(o_orderkey) OVER wf AS last_ok,
         nth_value(o_orderkey, 2) OVER wf AS second_ok,
         CAST(ntile(3) OVER w AS BIGINT) AS tercile,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey""",
    "q75_recursive_cte" ->
      """WITH RECURSIVE months(n) AS (
           SELECT 0 UNION ALL SELECT n + 1 FROM months WHERE n < 83),
         spine AS (
           SELECT CAST(DATE '1995-01-01' + INTERVAL (n) MONTH AS DATE) AS month_start
           FROM months),
         per_month AS (
           SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                  COUNT(*) AS n_orders
           FROM orders GROUP BY 1)
         SELECT spine.month_start, coalesce(per_month.n_orders, 0) AS n_orders
         FROM spine LEFT JOIN per_month ON per_month.m = spine.month_start
         ORDER BY spine.month_start""",
    "q71_posexplode" ->
      """SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS tok
         FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
               FROM documents WHERE doc_id < 50),
           LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) r
         ORDER BY doc_id, pos""",
    "q72_unpivot" ->
      """SELECT o_orderkey, metric, value FROM (
           SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS value FROM orders
           UNION ALL
           SELECT o_orderkey, 'custkey_as_val', CAST(o_custkey AS DOUBLE) FROM orders)
         ORDER BY o_orderkey, metric""",
    "q73_exotic_aggs" ->
      """SELECT o_custkey,
         max_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 1000000 + o_orderkey) AS best_order,
         min_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 1000000 + o_orderkey) AS worst_order,
         bool_and(o_totalprice > 2000) AS all_over_2k,
         bool_or(o_orderstatus = 'P') AS any_pending,
         bit_or(CAST(o_orderkey % 64 AS BIGINT)) AS key_bits
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q68_scalar_subquery" ->
      """SELECT c_custkey, c_acctbal,
         (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c
         WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM customer)
         ORDER BY c_custkey""",
    "q69_lateral_topn" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""",
    "q70_set_ops_all" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
         su AS (SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier),
         ex AS (SELECT nationkey, COUNT(*) AS n FROM (
                  SELECT nationkey FROM c EXCEPT ALL SELECT nationkey FROM su)
                GROUP BY nationkey),
         ia AS (SELECT nationkey, COUNT(*) * -1 AS n FROM (
                  SELECT nationkey FROM c INTERSECT ALL SELECT nationkey FROM su)
                GROUP BY nationkey)
         SELECT nationkey, CAST(SUM(n) AS BIGINT) AS net
         FROM (SELECT * FROM ex UNION ALL SELECT * FROM ia)
         GROUP BY nationkey ORDER BY nationkey""",
    "q62_scalar_string2" ->
      """SELECT p_partkey,
         lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
         rpad(p_brand, 12, '.') AS rpadded,
         translate(p_type, 'AEIOU', 'aeiou') AS translated,
         CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev,
         reverse(p_name) AS rev,
         repeat(p_brand, 2) AS rep
         FROM part ORDER BY p_partkey""",
    "q63_window_range_frame" ->
      """SELECT o_custkey, o_orderkey,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS wk_spend,
         CAST(COUNT(*) OVER w AS BIGINT) AS wk_n
         FROM orders WINDOW w AS (PARTITION BY o_custkey
           ORDER BY datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey""",
    "q64_date_math" ->
      """SELECT o_orderkey,
         CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
         CAST(last_day(o_orderdate) AS DATE) AS eom,
         CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
         CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus45d
         FROM orders ORDER BY o_orderkey""",
    "q65_array_funcs" ->
      """SELECT doc_id,
         list_contains(tk, 'join') AS has_join,
         CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         array_to_string(tk[2:4], ' ') AS mid3,
         tk[-1] AS last_tok
         FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
               FROM documents)
         ORDER BY doc_id""",
    "q30_dedup_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q31_dedup_subset" ->
      """SELECT o_custkey, o_orderstatus, o_orderkey FROM (
           SELECT o_custkey, o_orderstatus, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
               ORDER BY o_orderkey) AS rn
           FROM orders) WHERE rn = 1 ORDER BY o_custkey, o_orderstatus""",
    "q32_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""",
    "q33_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q84_profile" ->
      """WITH p AS (
           SELECT 'l_orderkey' AS "column", COUNT(l_orderkey) AS n,
             COUNT(*) - COUNT(l_orderkey) AS n_nulls,
             COUNT(DISTINCT l_orderkey) AS n_distinct,
             CAST(MIN(l_orderkey) AS DOUBLE) AS min_d,
             CAST(MAX(l_orderkey) AS DOUBLE) AS max_d FROM lineitem
           UNION ALL
           SELECT 'l_quantity', COUNT(l_quantity),
             COUNT(*) - COUNT(l_quantity), COUNT(DISTINCT l_quantity),
             CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE)
           FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice', COUNT(l_extendedprice),
             COUNT(*) - COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice),
             CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
           FROM lineitem
           UNION ALL
           SELECT 'l_discount', COUNT(l_discount),
             COUNT(*) - COUNT(l_discount), COUNT(DISTINCT l_discount),
             CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
           FROM lineitem)
         SELECT * FROM p ORDER BY "column"""",
    "q167_salted_join" ->
      """SELECT p.p_size,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         GROUP BY 1 ORDER BY p.p_size""",

    "q166_late_data_profile" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             epoch_us(ts) + (event_id * 2654435761) % 3600000000 AS arrival_us
           FROM events),
         h AS (SELECT user_id, us,
                 MAX(us) OVER (PARTITION BY user_id ORDER BY arrival_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
               FROM e)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN hwm - us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(MAX(hwm - us) AS BIGINT) AS max_late_us,
           CAST(SUM(CASE WHEN hwm - us > 0 THEN 1 ELSE 0 END) * 1000
             // COUNT(*) AS BIGINT) AS late_milli
         FROM h GROUP BY 1 ORDER BY user_id""",

    "q162_event_debounce" ->
      """SELECT user_id, event_type, event_id, us FROM (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS prev_us
           FROM events)
         WHERE prev_us IS NULL OR us - prev_us > 60000000
         ORDER BY user_id, event_type, us, event_id""",

    "q163_time_weighted_avg" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round(value * 1000.0) AS BIGINT) AS v_milli FROM events),
         w AS (SELECT user_id, us, v_milli,
                 lead(us) OVER (PARTITION BY user_id
                   ORDER BY us, event_id) AS next_us
               FROM o),
         d AS (SELECT user_id, v_milli, (next_us - us) // 1000 AS dur_ms
               FROM w WHERE next_us IS NOT NULL)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_ms) AS BIGINT) AS span_ms,
           CAST(SUM(v_milli * dur_ms) // SUM(dur_ms) AS BIGINT) AS twap_milli
         FROM d GROUP BY 1 HAVING SUM(dur_ms) > 0 ORDER BY user_id""",

    "q164_mad_outliers" ->
      """WITH c AS (SELECT l_returnflag,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM lineitem),
         m AS (SELECT l_returnflag, quantile_cont(cents, 0.5) AS med
               FROM c GROUP BY 1),
         a AS (SELECT c.l_returnflag, cents, med,
                 abs(CAST(cents AS DOUBLE) - med) AS adev
               FROM c JOIN m ON m.l_returnflag = c.l_returnflag),
         d AS (SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad,
                 MAX(med) AS med FROM a GROUP BY 1)
         SELECT c.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(round(MAX(d.med)) AS BIGINT) AS med_r,
           CAST(round(MAX(d.mad)) AS BIGINT) AS mad_r,
           CAST(SUM(CASE WHEN abs(CAST(cents AS DOUBLE) - d.med) > 3.0 * d.mad
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM c JOIN d ON d.l_returnflag = c.l_returnflag
         GROUP BY 1 ORDER BY 1""",

    "q160_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         v AS (SELECT user_id, MIN(us) AS v_us FROM e
               WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, MIN(us) AS c_us FROM e
               JOIN v ON v.user_id = e.user_id
               WHERE event_type = 'click' AND us > v_us GROUP BY 1),
         p AS (SELECT e.user_id, MIN(us) AS p_us FROM e
               JOIN c ON c.user_id = e.user_id
               WHERE event_type = 'purchase' AND us > c_us GROUP BY 1)
         SELECT v.user_id, v_us, c_us, p_us,
           CAST(CASE WHEN p_us IS NOT NULL THEN 3
                     WHEN c_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS stage
         FROM v LEFT JOIN c ON c.user_id = v.user_id
         LEFT JOIN p ON p.user_id = v.user_id
         ORDER BY v.user_id""",

    "q161_k_anonymity" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
         CAST(floor(CAST(c_acctbal AS DOUBLE) / 2000) AS BIGINT) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
         COUNT(*) >= 5 AS k5_ok,
         COUNT(DISTINCT c_mktsegment) >= 3 AS l3_ok
         FROM customer GROUP BY 1, 2 ORDER BY nation, bal_band""",

    "q81_funnel_pairs" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
         epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
         FROM events c JOIN events p ON p.user_id = c.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND epoch_us(p.ts) > epoch_us(c.ts)
           AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
         ORDER BY c.user_id, click_id, purchase_id""",

    "q170_sql_topk" ->
      """SELECT c_nationkey, rnk, c_custkey, bal_cents FROM (
           SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
               ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
                 c_custkey) AS BIGINT) AS rnk
           FROM customer)
         WHERE rnk <= 3 ORDER BY c_nationkey, rnk""",

    "q116_grouped_topk" ->
      """SELECT c_nationkey, rnk, c_custkey, bal_cents FROM (
           SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
               ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
                 c_custkey) AS BIGINT) AS rnk
           FROM customer)
         WHERE rnk <= 3 ORDER BY c_nationkey, rnk""",

    "q117_hll_rollup" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
         d AS (SELECT CAST(day AS VARCHAR) AS scope,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
           FROM e GROUP BY day),
         a AS (SELECT 'ALL' AS scope,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users FROM e)
         SELECT scope, exact_users, TRUE AS sketch_within_5pct
         FROM (SELECT * FROM d UNION ALL SELECT * FROM a)
         ORDER BY scope""",

    "q118_zorder_skipping" -> {
      val zSql = graft.ops.ZOrder.zValueSql("l_partkey", "l_suppkey", 16)
      s"""WITH z AS (SELECT l_partkey, l_suppkey,
           ($zSql) >> 26 AS bucket FROM lineitem)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_partkey) AS min_x, MAX(l_partkey) AS max_x,
           MIN(l_suppkey) AS min_y, MAX(l_suppkey) AS max_y,
           (MAX(l_partkey) < 100 OR MIN(l_partkey) > 300
             OR MAX(l_suppkey) < 10 OR MIN(l_suppkey) > 30) AS prunable
         FROM z GROUP BY bucket ORDER BY bucket"""
    },

    "q120_pagerank_transitions" ->
      s"""WITH pairs AS (SELECT event_type AS src,
           LEAD(event_type) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS dst
           FROM events),
         edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
           FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2),
         nodes AS (SELECT src AS node FROM edges
           UNION SELECT dst FROM edges),
         outw AS (SELECT src AS node, SUM(w) AS outw FROM edges GROUP BY 1),
         ${graft.ops.PageRank.recurrenceSql(8)}
         SELECT node AS event_type, pr AS pr_micro FROM r8
         ORDER BY event_type""",

    // ground truth enumerates each triangle once as a < b < c over
    // the canonical (u < v) edge set, then fans each out to its
    // three corners — orientation-free, so it cross-checks the
    // degree-ordered orientation in ops/Triangles
    "q133_lpa_communities" ->
      s"""WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                    FROM lineitem a JOIN lineitem b
                      ON b.l_orderkey = a.l_orderkey
                     AND b.l_partkey > a.l_partkey),
         adj AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         ${graft.ops.LabelPropagation.recurrenceSql(4)}
         SELECT node AS part, CAST(lbl AS BIGINT) AS community
         FROM l4 ORDER BY part""",

    "q127_triangle_parts" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                    FROM lineitem a JOIN lineitem b
                      ON b.l_orderkey = a.l_orderkey
                     AND b.l_partkey > a.l_partkey),
         tri AS (SELECT e1.u AS a, e1.v AS b, e3.v AS c
                 FROM e e1
                 JOIN e e3 ON e3.u = e1.u AND e3.v > e1.v
                 JOIN e e2 ON e2.u = e1.v AND e2.v = e3.v),
         pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
                FROM (SELECT a AS node FROM tri
                      UNION ALL SELECT b FROM tri
                      UNION ALL SELECT c FROM tri)
                GROUP BY 1)
         SELECT node AS part, n_triangles FROM pn
         ORDER BY n_triangles DESC, part LIMIT 20""",

    "q121_theta_segments" ->
      """WITH cc AS (SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS nc,
           count(*) FILTER (WHERE event_type = 'purchase') AS np
         FROM events GROUP BY 1),
         agg AS (SELECT
           CAST(count(*) FILTER (WHERE nc >= 16) AS BIGINT) AS a,
           CAST(count(*) FILTER (WHERE np >= 16) AS BIGINT) AS b,
           CAST(count(*) FILTER (WHERE nc >= 16 AND np >= 16) AS BIGINT) AS ab
         FROM cc)
         SELECT set_op, exact_users, TRUE AS theta_within FROM (
           SELECT 'a_heavy_clickers' AS set_op, a AS exact_users FROM agg
           UNION ALL SELECT 'b_heavy_purchasers', b FROM agg
           UNION ALL SELECT 'a_intersect_b', ab FROM agg
           UNION ALL SELECT 'a_minus_b', a - ab FROM agg
           UNION ALL SELECT 'a_union_b', a + b - ab FROM agg)
         ORDER BY set_op""",

    "q122_session_overlaps" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         f AS (SELECT user_id, us,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
         g AS (SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us) AS sess
           FROM f),
         sess AS (SELECT user_id, CAST(sess AS BIGINT) AS sess,
             MIN(us) AS st, MAX(us) AS en
           FROM g GROUP BY 1, 2 HAVING MAX(us) > MIN(us))
         SELECT a.user_id AS a_user_id, a.sess AS a_sess,
           b.user_id AS b_user_id, b.sess AS b_sess,
           least(a.en, b.en) - greatest(a.st, b.st) AS overlap_us
         FROM sess a JOIN sess b
           ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
         ORDER BY a_user_id, a_sess, b_user_id, b_sess""",

    "q123_sliding_windows" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, user_id FROM events),
         w AS (SELECT us, user_id,
             (us // 900000000) * 900000000 - o * CAST(900000000 AS BIGINT) AS wstart_us
           FROM e, (SELECT unnest([0, 1, 2, 3]) AS o))
         SELECT wstart_us, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM w GROUP BY wstart_us ORDER BY wstart_us""",

    "q124_volume_anomaly" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1),
         st AS (SELECT CAST(COUNT(*) AS BIGINT) AS d,
           CAST(SUM(n_events) AS BIGINT) AS s,
           CAST(SUM(n_events * n_events) AS BIGINT) AS ss FROM daily),
         z AS (SELECT day, n_events,
           CASE WHEN d <= 1
                  OR (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(d AS DOUBLE)) / CAST(d - 1 AS DOUBLE) <= 0
             THEN CAST(0 AS BIGINT)
             ELSE CAST(round((CAST(n_events AS DOUBLE)
               - CAST(s AS DOUBLE) / CAST(d AS DOUBLE))
               / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(d AS DOUBLE)) / CAST(d - 1 AS DOUBLE))
               * 1000000.0) AS BIGINT) END AS z_micro
           FROM daily, st)
         SELECT CAST(day AS VARCHAR) AS day, n_events, z_micro,
           abs(z_micro) >= 2000000 AS anomaly
         FROM z ORDER BY day""",

    "q125_trend_ols" ->
      """WITH b AS (SELECT event_type,
           CAST(date_diff('day', DATE '2026-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
           CAST(round(value * 1000.0) AS BIGINT) AS y
         FROM events),
         m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
           FROM b GROUP BY 1),
         d AS (SELECT *,
             CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
               / CAST(n AS DOUBLE) AS num,
             CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
               / CAST(n AS DOUBLE) AS den
           FROM m)
         SELECT event_type, n,
           CASE WHEN den <= 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(round(num / den) AS BIGINT) END AS slope_milli,
           CASE WHEN den <= 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(round((CAST(sy AS DOUBLE) - num / den
               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT) END
             AS intercept_milli
         FROM d ORDER BY event_type""")
}
