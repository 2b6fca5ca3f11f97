package graft

import java.sql.DriverManager

import graft.pipeline.{HistoryLoad, PipelineConfig}
import graft.sources.JdbcSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

/** Live end-to-end coverage for the JDBC scan (O-1, reference
  * utils/rdbms_operations.py:197-248) and the TRUNCATE+COPY-style
  * bulk load (O-11, utils/redshift_operations.py:121-167), against an
  * embedded in-memory Derby database (ships with Spark, no network).
  *
  * Flow mirrors the reference pipeline: partitioned scan -> transform
  * (audit + normalize + row hash) -> truncate-overwrite -> re-scan ->
  * count + row-hash reconciliation.
  */
class JdbcE2eSpec extends SparkSpec {

  // keep derby.log out of the repo root
  System.setProperty("derby.system.home",
    SparkBridge.tempDir("graft_derby").toString)

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def scanCfg(table: String, partitioned: Boolean) = JdbcSource.ScanConfig(
    url = url, schema = "APP", table = table, user = "app", password = "app",
    partitionColumn = if (partitioned) Some("n_nationkey") else None,
    lowerBound = Some(0L), upperBound = Some(25L), numPartitions = 4)

  test("O-1/O-11: partitioned scan -> transform -> truncate overwrite -> reconcile") {
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")

    // seed the "RDBMS" source table (creates DDL via the Derby dialect)
    nation.write.format("jdbc")
      .option("url", url).option("dbtable", "APP.nation_src")
      .mode("overwrite").save()

    // O-1: the reference's 1M-row chunk loop as partition parallelism
    val scanned = JdbcSource.read(spark, scanCfg("nation_src", partitioned = true))
    assert(scanned.rdd.getNumPartitions == 4, "range-partitioned scan")
    assert(scanned.count() == 25)

    val hl = new HistoryLoad(spark,
      PipelineConfig("/unused", "/unused", runId = 7L, updatedBy = "tester",
        tables = Seq.empty))
    val transformed = hl.transform(scanned)

    // first load creates the target DDL; O-11 truncate-overwrite must
    // then replace rows while KEEPING that DDL (idempotent re-run)
    transformed.write.format("jdbc")
      .option("url", url).option("dbtable", "APP.nation_tgt")
      .mode("overwrite").save()
    JdbcSource.overwrite(transformed, url, "APP", "nation_tgt", "app", "app")

    // DDL survived the truncate path: Derby still knows the table and
    // a third overwrite through the sink API works too
    JdbcSource.overwrite(transformed, url, "APP", "nation_tgt", "app", "app")

    // reconcile: count + per-row hash (audit timestamp excluded — the
    // row hash is computed over data columns only)
    val back = JdbcSource.read(spark, scanCfg("nation_tgt", partitioned = false))
    assert(back.count() == 25)
    val expect = transformed.select(col("n_nationkey").cast("long"), col("row_hash_code"))
      .orderBy("n_nationkey").collect().toSeq
    val got = back.select(col("n_nationkey").cast("long"), col("row_hash_code"))
      .orderBy("n_nationkey").collect().toSeq
    assert(got == expect, "row hashes after JDBC round-trip")
  }

  test("O-1 predicate pushdown reaches the JDBC scan") {
    val scanned = JdbcSource.read(spark, scanCfg("nation_src", partitioned = true))
      .where(col("n_regionkey") === 0)
    // JDBCRelation reports pushed filters in the physical plan
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
      s"expected pushed JDBC filter:\n$plan")
    assert(scanned.count() == 5)
  }

  test("O-11 COPY statement: warehouse-native parquet bulk load") {
    val got = JdbcSource.copyStatement("analytics", "fact_orders",
      "s3://bucket/prefix/part-", "arn:aws:iam::0:role/loader")
    assert(got == "COPY analytics.fact_orders FROM 's3://bucket/prefix/part-'" +
      " IAM_ROLE 'arn:aws:iam::0:role/loader' FORMAT AS PARQUET")
    assert(JdbcSource.copyStatement("s", "t", "s3://b/m.manifest", "r",
      manifest = true).endsWith("FORMAT AS PARQUET MANIFEST"))
    // quotes in VALUES are escaped; hostile IDENTIFIERS are refused
    assert(JdbcSource.copyStatement("s", "t", "s3://it's", "r")
      .contains("'s3://it''s'"))
    assertThrows[IllegalArgumentException](
      JdbcSource.copyStatement("s; DROP TABLE x", "t", "l", "r"))
    assertThrows[IllegalArgumentException](
      JdbcSource.copyStatement("s", "t\"", "l", "r"))
  }

  test("O-11 bulkLoadParquet orchestration: TRUNCATE then COPY then reconcile") {
    val issued = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = JdbcSource.bulkLoadParquet("analytics", "fact_orders",
      "s3://b/manifest.json", "role", manifest = true,
      exec = issued += _,
      count = { q => issued += q; 42L })
    assert(n == 42L)
    assert(issued.toList == List(
      "TRUNCATE analytics.fact_orders",
      "COPY analytics.fact_orders FROM 's3://b/manifest.json'" +
        " IAM_ROLE 'role' FORMAT AS PARQUET MANIFEST",
      "SELECT COUNT(*) FROM analytics.fact_orders"))
  }

  test("O-11 LIVE native bulk load: Derby SYSCS_IMPORT_TABLE round-trips values, replaces on re-run") {
    import spark.implicits._
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(
        "CREATE TABLE APP.bulk_tgt (id BIGINT, name VARCHAR(64), val DOUBLE)")
      finally st.close()
    } finally conn.close()

    // hostile values: embedded comma, embedded quote, empty string,
    // NULLs in both string and numeric columns
    val df = Seq(
      (1L, Some("""plain"""), Some(1.5)),
      (2L, Some("""with, comma"""), Some(-2.25)),
      (3L, Some("""with "quote" inside"""), None),
      (4L, Some(""), Some(0.0)),
      (5L, None, None)
    ).toDF("id", "name", "val").repartition(3) // multiple part files
    val n = JdbcSource.bulkLoadCsvNative(df, url, "APP", "bulk_tgt")
    assert(n == 5L)
    val back = JdbcSource.read(spark,
        scanCfg("bulk_tgt", partitioned = false))
      .as[(Long, Option[String], Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(back == Seq(
      (1L, Some("plain"), Some(1.5)),
      (2L, Some("with, comma"), Some(-2.25)),
      (3L, Some("""with "quote" inside"""), None),
      (4L, Some(""), Some(0.0)),
      (5L, None, None)))

    // REPLACE semantics: a second load of a different frame must not append
    val df2 = Seq((9L, Some("only"), Some(9.0))).toDF("id", "name", "val")
    assert(JdbcSource.bulkLoadCsvNative(df2, url, "APP", "bulk_tgt") == 1L)
  }

  test("dialect quoting LIVE: hostile identifiers scan + truncate-overwrite through Derby") {
    import graft.sources.DerbyDialect
    import graft.types.TypeMapper
    import org.apache.spark.sql.types._
    // identifiers a validated-plain path must REFUSE and a quoting
    // path must carry: space, embedded double quote, mixed case
    val hostileTable = """hostile "src" tbl"""
    val idCol = """n key"x"""
    val valCol = "val col"
    val cols = Seq((idCol, LongType), (valCol, StringType),
      ("plain_ts", TimestampType))
    // DDL rendered ENTIRELY by the dialect (quote + ddlFor — including
    // the Derby-legal plain `timestamp`), executed against the live
    // catalog: string equality can't prove Derby accepts it, this does
    val ddl = cols.map { case (n, t) =>
      s"${DerbyDialect.quote(n)} ${DerbyDialect.ddlFor(t)}"
    }.mkString(
      s"CREATE TABLE ${DerbyDialect.qualified("APP", hostileTable)} (",
      ", ", ")")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        st.execute(ddl)
        st.execute(
          s"INSERT INTO ${DerbyDialect.qualified("APP", hostileTable)} VALUES" +
            " (1, 'alpha', TIMESTAMP('2024-01-02 03:04:05'))," +
            " (2, 'beta', TIMESTAMP('2024-06-07 08:09:10'))")
      } finally st.close()
      // live catalog -> TypeMapper: the types Derby REPORTS for the
      // hostile table resolve to exactly the Spark types we declared
      val md = conn.getMetaData.getColumns(null, "APP", hostileTable, null)
      val reported = Iterator.continually(md)
        .takeWhile(_.next())
        .map(r => r.getString("COLUMN_NAME") -> r.getString("TYPE_NAME"))
        .toMap
      // the catalog's own evidence of the plain-vs-escaped split:
      // quoted identifiers persist VERBATIM (case, spaces, quotes);
      // the validated-plain one is folded to the SQL-standard upper
      // case — exactly why quote() may pass plain names through
      cols.foreach { case (n, t) =>
        val catalogName = if (n == "plain_ts") "PLAIN_TS" else n
        assert(TypeMapper.toSparkType(
            reported(catalogName).toLowerCase, DerbyDialect) == t,
          s"catalog type for '$catalogName' must map back to $t")
      }
    } finally conn.close()

    // scan through the dialect-quoted qualified name
    def scanHostile() = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", DerbyDialect.qualified("APP", hostileTable))
      .load()
    val scanned = scanHostile()
    assert(scanned.columns.toSeq == Seq(idCol, valCol, "PLAIN_TS"),
      "hostile column names must survive the scan verbatim")
    assert(scanned.count() == 2)

    // truncate-overwrite back through the same quoted identifier (the
    // O-11 DDL-preserving path), then reconcile. Materialize FIRST:
    // overwriting the table a lazy JDBC frame reads from would
    // truncate before the scan runs
    import org.apache.spark.sql.functions.{col => c, upper}
    scanned.withColumn(valCol, upper(c(s"`$valCol`")))
      .localCheckpoint(true)
      .write.format("jdbc")
      .option("url", url)
      .option("dbtable", DerbyDialect.qualified("APP", hostileTable))
      .option("truncate", "true")
      .mode("overwrite").save()
    val back = scanHostile().orderBy(s"`$idCol`").collect()
    assert(back.map(_.getString(1)).toSeq == Seq("ALPHA", "BETA"))

    // the validated-plain path must refuse these identifiers outright
    // (no silent splicing), while the quoting path carries them
    assertThrows[IllegalArgumentException](
      JdbcSource.copyStatement("APP", hostileTable, "loc", "role"))
    assert(DerbyDialect.quote("plain_name") == "plain_name")
    assert(DerbyDialect.quote(hostileTable) == "\"hostile \"\"src\"\" tbl\"")
  }
}
