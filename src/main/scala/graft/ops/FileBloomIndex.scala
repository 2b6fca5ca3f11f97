package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom data-skipping sidecar: a tiny parquet table mapping
  * each data file to a bloom filter of its key column, so a point
  * lookup (or small IN-list) on a HIGH-CARDINALITY key reads only the
  * files that might contain it — the skipping regime min/max file
  * stats cannot enter. Range clustering (a sorted or z-ordered
  * layout) prunes when values are ordered; a bloom sidecar prunes
  * equality probes on keys with no usable order at all (fingerprints,
  * ids, hashes) — the Delta/Iceberg bloom-index shape on plain
  * parquet.
  *
  * At 100 TB: the sidecar holds one row (file, serialized bloom) per
  * data file; it is built distributed (per-partition partial blooms,
  * merged per file — a file split across input partitions or packed
  * with others into one partition both resolve in the same
  * reduceByKey) and NEVER collected to the driver. A probe scans the
  * sidecar (KB-per-file, thousands of times smaller than the data),
  * collects only the surviving file NAMES, and issues a pruned read
  * of those files. A needle-in-haystack lookup over a 100 TB table
  * becomes a sidecar scan + ~(1 + fpp·nFiles) file reads.
  *
  * Safety: pruning is only sound for files the sidecar covers. Files
  * present in the data but absent from the sidecar (appended since
  * the last build) are ALWAYS candidates — a stale sidecar costs
  * reads, never correctness; [[build]] again to cover them.
  *
  * Keys are longs; hash strings through `xxhash64` at the mouth.
  */
object FileBloomIndex {

  private val sidecarSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bloom", BinaryType, nullable = false)))

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  private def deserialize(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))

  /** One (file, bloom) row per distinct file in `data` (which must
    * still carry `input_file_name()` provenance, i.e. be a raw scan —
    * no joins/aggregations between the read and here). Distributed:
    * per-partition partials, per-file merge, no driver materialization.
    */
  private def bloomRows(data: DataFrame, keyCol: String,
                        expectedPerFile: Long, fpp: Double) = {
    val pairs = data
      .select(input_file_name().as("file"), col(keyCol).cast(LongType).as("k"))
      .na.drop()
    val partials = pairs.queryExecution.toRdd.mapPartitions { rows =>
      val local = new java.util.HashMap[String, BloomFilter]()
      while (rows.hasNext) {
        val r = rows.next()
        val f = r.getUTF8String(0).toString
        var b = local.get(f)
        if (b == null) {
          b = BloomFilter.create(expectedPerFile, fpp); local.put(f, b)
        }
        b.putLong(r.getLong(1))
        ()
      }
      scala.jdk.CollectionConverters.MapHasAsScala(local).asScala.iterator
    }
    partials.reduceByKey(_ mergeInPlace _)
      .map { case (f, bf) => Row(f, serialize(bf)) }
  }

  /** Build the sidecar for every file of the parquet table at
    * `dataPath`. `expectedPerFile` sizes each bloom (overshooting
    * costs bits, undershooting inflates realized fpp — size for the
    * table's rows-per-file).
    */
  def build(spark: SparkSession, dataPath: String, keyCol: String,
            sidecarPath: String, expectedPerFile: Long = 1L << 20,
            fpp: Double = 0.01): Unit = {
    val rows = bloomRows(spark.read.parquet(dataPath), keyCol,
      expectedPerFile, fpp)
    spark.createDataFrame(rows, sidecarSchema).write
      .mode("overwrite").parquet(sidecarPath)
  }

  /** Files that might contain ANY of `values`: sidecar-pruned covered
    * files plus every uncovered file. ONE distributed pass over the
    * sidecar yields both the probe survivors and the coverage set
    * (only NAMES reach the driver — survivors flagged, the blooms
    * stay in the executors).
    */
  def candidateFiles(spark: SparkSession, dataPath: String,
                     sidecarPath: String, values: Seq[Long]): Seq[String] = {
    val vs = values.toArray
    val probed = spark.read.parquet(sidecarPath)
      .select("file", "bloom").rdd.mapPartitions { it =>
        it.map { r =>
          val bf = deserialize(r.getAs[Array[Byte]](1))
          (r.getString(0), vs.exists(bf.mightContainLong))
        }
      }.collect()
    val covered = probed.map(_._1).toSet
    val uncovered = spark.read.parquet(dataPath).inputFiles.filterNot(covered)
    (probed.collect { case (f, true) => f } ++ uncovered).toIndexedSeq
  }

  /** The rows of `dataPath` whose `keyCol` is in `values`, reading
    * only candidate files. Row-identical to the full-scan filter (no
    * false negatives by bloom contract + the uncovered-file rule);
    * hive partition columns survive via basePath.
    */
  def pointLookup(spark: SparkSession, dataPath: String, sidecarPath: String,
                  keyCol: String, values: Seq[Long]): DataFrame = {
    val files = candidateFiles(spark, dataPath, sidecarPath, values)
    val full = spark.read.parquet(dataPath)
    if (files.isEmpty)
      full.where(lit(false))
    else
      spark.read.option("basePath", dataPath).schema(full.schema)
        .parquet(files: _*)
        .where(col(keyCol).cast(LongType).isin(values: _*))
  }
}
