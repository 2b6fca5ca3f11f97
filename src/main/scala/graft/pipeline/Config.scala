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
    * `active_flag` is "T" or "F" (missing means "F"); any other value
    * fails the load, naming the table and the value.
    */
  def fromYaml(yaml: String): PipelineConfig = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val root = mapper.readTree(yaml)
    def req(field: String): String = {
      val n = root.get(field)
      require(n != null, s"config: missing required field '$field'")
      n.asText()
    }
    val tablesNode = root.get("tables")
    require(tablesNode != null, "config: missing required field 'tables'")
    val tables = tablesNode.properties().asScala.toSeq.map { e =>
      val flag = Option(e.getValue.get("active_flag")).map(_.asText()).getOrElse("F")
      require(flag == "T" || flag == "F",
        s"config: table '${e.getKey}' has active_flag '$flag'; expected \"T\" or \"F\"")
      TableConfig(e.getKey, flag)
    }
    PipelineConfig(
      sourceDir = req("source_dir"),
      targetDir = req("target_dir"),
      runId = Option(root.get("run_id")).map(_.asLong()).getOrElse(-1L),
      updatedBy = Option(root.get("updated_by")).map(_.asText())
        .getOrElse("redshiftadmin"),
      tables = tables)
  }

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
