package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import scala.jdk.CollectionConverters._

/** Typed pipeline configuration (reference O-13).
  *
  * The reference loads YAML from S3 (falling back to a local file) into
  * an untyped dict and resolves credentials per environment
  * (utils/config_gen.py:37-174, utils/s3_operations.py:22-46). Here the
  * config is parsed into case classes — unknown keys and wrong shapes
  * fail at load time, not at mid-pipeline access time. Secrets stay an
  * interface (env lookup) — no hardcoded fallback credentials (the
  * reference embeds creds in code; deliberately not reproduced).
  */
final case class TableConfig(name: String, activeFlag: String)

final case class PipelineConfig(
    sourceDir: String,
    targetDir: String,
    runId: Long,
    updatedBy: String,
    tables: Seq[TableConfig])

object Config {

  /** Parse the YAML subset the pipeline uses:
    * {{{
    * source_dir: /data/in
    * target_dir: /data/out
    * run_id: 7
    * updated_by: redshiftadmin
    * tables:
    *   lineitem: {active_flag: "T"}
    *   orders:   {active_flag: "F"}
    * }}}
    * `active_flag` is "T" or "F" (missing means "F"); `run_id` is an
    * integer (missing means -1). An unknown key, at the top level or in
    * a table's entry, an `active_flag` other than "T" or "F", a
    * `run_id` that is not an integer, or a value of the wrong shape
    * fails the load, naming the key (and table) and the value.
    */
  def fromYaml(yaml: String): PipelineConfig = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val root = mapper.readTree(yaml)
    require(root != null && root.isObject, s"config: expected a mapping of settings, got '$root'")
    val unknown = root.fieldNames().asScala.filterNot(TopLevelKeys.contains).toSeq
    require(unknown.isEmpty, s"config: unknown key(s) ${unknown.map(k => s"'$k'").mkString(", ")}; " +
      s"expected ${TopLevelKeys.mkString(", ")}")
    def scalar(field: String): Option[String] = Option(root.get(field)).map { n =>
      require(n.isValueNode && !n.isNull, s"config: '$field' must be a single value, got '$n'")
      n.asText()
    }
    def req(field: String): String =
      scalar(field).getOrElse(throw new IllegalArgumentException(
        s"config: missing required field '$field'"))
    val tablesNode = root.get("tables")
    require(tablesNode != null, "config: missing required field 'tables'")
    require(tablesNode.isObject, s"config: 'tables' must map table names to settings, got '$tablesNode'")
    val tables = tablesNode.properties().asScala.toSeq.map { e =>
      val (table, entry) = (e.getKey, e.getValue)
      require(entry.isObject,
        s"config: table '$table' must map to settings like {active_flag: \"T\"}, got '$entry'")
      val keys = entry.fieldNames().asScala.filterNot(_ == "active_flag").toSeq
      require(keys.isEmpty, s"config: table '$table' has unknown key(s) " +
        s"${keys.map(k => s"'$k'").mkString(", ")}; expected 'active_flag'")
      val flag = Option(entry.get("active_flag")).map(_.asText()).getOrElse("F")
      require(flag == "T" || flag == "F",
        s"config: table '$table' has active_flag '$flag'; expected \"T\" or \"F\"")
      TableConfig(table, flag)
    }
    PipelineConfig(
      sourceDir = req("source_dir"),
      targetDir = req("target_dir"),
      runId = scalar("run_id").map(v => v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"config: run_id '$v' is not an integer"))).getOrElse(-1L),
      updatedBy = scalar("updated_by").getOrElse("redshiftadmin"),
      tables = tables)
  }

  private val TopLevelKeys =
    Seq("source_dir", "target_dir", "run_id", "updated_by", "tables")

  /** Load config through the Hadoop filesystem layer, so any
    * registered scheme works — bare local paths, `file://`, HDFS, or
    * an object store — mirroring the reference's S3-or-local config
    * read (utils/s3_operations.py:22-46, utils/config_gen.py:37-58).
    */
  def fromYamlFile(path: String,
                   hadoopConf: org.apache.hadoop.conf.Configuration =
                     new org.apache.hadoop.conf.Configuration()): PipelineConfig = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(hadoopConf).open(p)
    try fromYaml(new String(in.readAllBytes(), "UTF-8"))
    finally in.close()
  }
}
