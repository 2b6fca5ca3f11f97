package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SparkBridge

/** JDBC scan (reference O-1) and bulk-load sink (reference O-11) as
  * option-driven wrappers over Spark's JDBC source.
  *
  * The reference streams `SELECT * FROM schema.table` in 1M-row
  * chunks on one thread (utils/rdbms_operations.py:197-248). On Spark
  * the chunking becomes partition parallelism: `partitionColumn` +
  * `numPartitions` split the scan into concurrent range queries, and
  * `fetchsize` bounds per-round-trip memory — config, not code.
  * Schema comes from JDBC metadata at plan time (the engine's
  * replacement for the reference's DDL-introspection string-eval,
  * O-2/O-3).
  */
object JdbcSource {

  final case class ScanConfig(
      url: String,
      schema: String,
      table: String,
      user: String,
      password: String,
      partitionColumn: Option[String] = None,
      lowerBound: Option[Long] = None,
      upperBound: Option[Long] = None,
      numPartitions: Int = 8,
      fetchSize: Int = 100000)

  object ScanConfig {
    /** Build a scan config with credentials resolved through a
      * [[SecretProvider]] chain (reference config_gen.py:60-123's
      * env-then-config fallback, without values in code): keys are
      * `<name>.url`, `<name>.user`, `<name>.password`.
      */
    def fromSecrets(secrets: SecretProvider, name: String,
                    schema: String, table: String,
                    partitionColumn: Option[String] = None,
                    lowerBound: Option[Long] = None,
                    upperBound: Option[Long] = None,
                    numPartitions: Int = 8): ScanConfig =
      ScanConfig(
        url = secrets.require(s"$name.url"),
        schema = schema, table = table,
        user = secrets.require(s"$name.user"),
        password = secrets.require(s"$name.password"),
        partitionColumn = partitionColumn,
        lowerBound = lowerBound, upperBound = upperBound,
        numPartitions = numPartitions)
  }

  /** Pure option-map construction (unit-testable without a DB). */
  def options(c: ScanConfig): Map[String, String] = {
    val base = Map(
      "url" -> c.url,
      "dbtable" -> s"${c.schema}.${c.table}",
      "user" -> c.user,
      "password" -> c.password,
      "fetchsize" -> c.fetchSize.toString)
    c.partitionColumn match {
      case Some(pc) =>
        base ++ Map(
          "partitionColumn" -> pc,
          "lowerBound" -> c.lowerBound.getOrElse(0L).toString,
          "upperBound" -> c.upperBound.getOrElse(Long.MaxValue).toString,
          "numPartitions" -> c.numPartitions.toString)
      case None => base
    }
  }

  def read(spark: SparkSession, c: ScanConfig): DataFrame =
    spark.read.format("jdbc").options(options(c)).load()

  /** Bulk-load sink ≈ the reference's TRUNCATE + COPY
    * (utils/redshift_operations.py:121-167): overwrite with
    * truncate=true preserves the target's DDL while replacing rows —
    * idempotent across re-runs (SURVEY.md §7.3).
    */
  def overwrite(df: DataFrame, url: String, schema: String, table: String,
                user: String, password: String): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", s"$schema.$table")
      .option("user", user)
      .option("password", password)
      .option("truncate", "true")
      .mode("overwrite")
      .save()

  // ---- warehouse bulk load via COPY ... FORMAT AS PARQUET ----------

  private val IdentRe = "[A-Za-z_][A-Za-z0-9_]*".r

  private def ident(kind: String, v: String): String = {
    require(IdentRe.matches(v),
      s"$kind '$v' is not a plain SQL identifier — refusing to splice" +
        " it into a statement")
    v
  }

  private def sqlString(v: String): String =
    "'" + v.replace("'", "''") + "'"

  /** The warehouse-native bulk-load statement the reference issues
    * (utils/redshift_operations.py:144-149): parquet files are loaded
    * by the warehouse's own COPY, not row-by-row JDBC inserts — the
    * only shape that scales past a few million rows. `manifest=true`
    * names an explicit file manifest (the atomic-set idiom) rather
    * than a prefix. Identifiers are validated, values quoted —
    * nothing caller-supplied is spliced raw.
    */
  def copyStatement(schema: String, table: String, location: String,
                    iamRole: String, manifest: Boolean = false): String = {
    val m = if (manifest) " MANIFEST" else ""
    s"COPY ${ident("schema", schema)}.${ident("table", table)}" +
      s" FROM ${sqlString(location)}" +
      s" IAM_ROLE ${sqlString(iamRole)}" +
      s" FORMAT AS PARQUET$m"
  }

  /** TRUNCATE + COPY + count reconcile, expressed over an abstract
    * statement executor so the orchestration is testable without a
    * warehouse: `exec` runs a DDL/COPY statement, `count` evaluates a
    * scalar COUNT query. Returns the post-load row count. The same
    * idempotency contract as [[overwrite]] (SURVEY.md §7.3): re-runs
    * replace, never append.
    */
  def bulkLoadParquet(schema: String, table: String, location: String,
                      iamRole: String, manifest: Boolean,
                      exec: String => Unit, count: String => Long): Long = {
    val target = s"${ident("schema", schema)}.${ident("table", table)}"
    exec(s"TRUNCATE ${target}")
    exec(copyStatement(schema, table, location, iamRole, manifest))
    count(s"SELECT COUNT(*) FROM ${target}")
  }

  /** Live-connection wiring of [[bulkLoadParquet]]. */
  def bulkLoadParquet(conn: java.sql.Connection, schema: String, table: String,
                      location: String, iamRole: String,
                      manifest: Boolean): Long =
    bulkLoadParquet(schema, table, location, iamRole, manifest,
      sql => { val st = conn.createStatement()
        try { st.execute(sql); () } finally st.close() },
      sql => { val st = conn.createStatement()
        try { val rs = st.executeQuery(sql)
          try { rs.next(); rs.getLong(1) } finally rs.close()
        } finally st.close() })

  /** COPY executed LIVE against a store's own bulk-ingest entry point
    * — the Redshift-COPY orchestration on the one warehouse this
    * environment ships (embedded Derby, whose
    * `SYSCS_UTIL.SYSCS_IMPORT_TABLE` is a native bulk path, not JDBC
    * row inserts): Spark writes the frame as RFC-4180 CSV part files
    * (doubled-quote escaping, quoted empty strings so NULL and ''
    * survive the round trip), then each part file is handed to the
    * store's importer — REPLACE on the first (the TRUNCATE half),
    * append for the rest — and the post-load count is reconciled
    * against the frame. Column order must match the target DDL
    * (the COPY contract).
    *
    * At warehouse scale the exact same orchestration swaps the import
    * call for `COPY … FORMAT AS PARQUET` ([[copyStatement]]) and the
    * local part files for the manifest; the pieces are shared.
    */
  def bulkLoadCsvNative(df: DataFrame, url: String, schema: String,
                        table: String): Long = {
    val dir = SparkBridge.tempDir("graft_bulkload")
      .resolve("csv").toString
    df.write.option("escape", "\"").option("emptyValue", "\"\"").csv(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".csv")).sortBy(_.getName)
    require(files.nonEmpty, "bulk load produced no CSV part files")
    val expected = df.count()
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      files.zipWithIndex.foreach { case (f, i) =>
        val cs = conn.prepareCall(
          "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(?, ?, ?, ?, ?, ?, ?)")
        try {
          cs.setString(1, ident("schema", schema).toUpperCase)
          cs.setString(2, ident("table", table).toUpperCase)
          cs.setString(3, f.getAbsolutePath)
          cs.setString(4, ",")
          cs.setString(5, "\"")
          cs.setString(6, "UTF-8")
          cs.setShort(7, if (i == 0) 1 else 0) // REPLACE, then append
          cs.execute()
        } finally cs.close()
      }
      val st = conn.createStatement()
      val loaded = try {
        val rs = st.executeQuery(
          s"SELECT COUNT(*) FROM ${ident("schema", schema)}.${ident("table", table)}")
        try { rs.next(); rs.getLong(1) } finally rs.close()
      } finally st.close()
      require(loaded == expected,
        s"bulk-load reconcile failed: loaded $loaded, expected $expected")
      loaded
    } finally conn.close()
  }
}
