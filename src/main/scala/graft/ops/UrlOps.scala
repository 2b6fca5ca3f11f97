package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL analysis for corpus provenance filtering: host extraction,
  * apex-domain (registrable-domain) reduction, and domain blocklist
  * filtering — the first provenance gate of a web-scale pretraining
  * pipeline (drop known-spam / low-quality / opted-out domains).
  *
  * Pure regexp built-ins using only constructs shared by Java regex
  * and RE2, so the same patterns run in any engine (the oracle
  * replays them in DuckDB). Entirely codegen'd narrow maps; the
  * blocklist is an `isin` literal for small lists — for a large
  * blocklist join the apex column against a broadcast blocklist
  * table instead (same shape as [[Contamination.check]]).
  */
object UrlOps {

  /** Host (authority) of a URL, empty string when not a URL. */
  def host(url: Column): Column =
    regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)

  /** Apex domain: final two dot-labels of the host (a pragmatic
    * registrable-domain cut; a public-suffix-list lookup slots in as
    * a broadcast map join where precision matters).
    */
  def apexDomain(hostCol: Column): Column =
    regexp_extract(hostCol, "([^.]+\\.[^.]+)$", 1)

  /** Annotate `urlCol` with host + apex and drop rows whose apex is
    * on the blocklist.
    */
  def filterBlocked(df: DataFrame, urlCol: String,
                    blockedApex: Seq[String]): DataFrame = {
    val withCols = df
      .withColumn("host", host(col(urlCol)))
      .withColumn("apex", apexDomain(col("host")))
    withCols.where(!col("apex").isin(blockedApex.map(lit): _*))
  }
}
