package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.SparkBridge
import org.apache.spark.sql.types.StructType

/** The schema of a Parquet table from one footer read on the driver.
  *
  * `spark.read.parquet` infers a schema with a one-task Spark job per
  * table (its footer reads run on executors), which on a small table
  * costs several times the read itself. With `spark.read.schema` fed
  * from here, a load runs no job until its own action.
  */
object ParquetFooter {

  /** The schema Spark would infer for the Parquet file or flat
    * directory of part files at `path` (with `mergeSchema` off): the
    * footer of its first data file in name order, converted under the
    * session's Parquet settings, all fields nullable. Files whose names
    * start with `_` or `.` (`_SUCCESS`, checksums) are not data.
    *
    * None when `path` does not exist; Some(None) when it holds no data
    * file or has subdirectories (a partitioned layout, whose partition
    * columns only the reader's own discovery can supply). The same one
    * listing tells a missing source from a partitioned or empty one,
    * so a caller can fail on the driver before Spark plans a read.
    */
  def ifExists(spark: SparkSession, path: String): Option[Option[StructType]] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    def data(s: FileStatus) = !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
    val (dirs, files) = fs.listStatus(root).filter(data).partition(_.isDirectory)
    if (dirs.nonEmpty || files.isEmpty) return Some(None)
    val first = files.map(_.getPath).minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
    val footer = try reader.getFooter finally reader.close()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    Some(Some(SparkBridge.asNullable(
      ParquetFileFormat.readSchemaFromFooter(new Footer(first, footer), converter))))
  }

  /** The reader for the Parquet table at `path`: one with
    * [[ifExists]]'s footer schema when there is one, Spark's own
    * (inferring) reader for a partitioned or empty layout. None when
    * `path` does not exist, so a caller chooses how a missing table
    * fails.
    */
  def reader(spark: SparkSession, path: String): Option[DataFrameReader] =
    ifExists(spark, path).map(_.fold(spark.read)(spark.read.schema))
}
