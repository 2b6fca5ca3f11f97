package graft.sources

import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Partitioned Parquet sink (reference O-10): the reference PUTs one
  * in-memory Parquet object per 1M-row chunk under
  * `prefix/table/yyyy/MM/dd/HH/table_N.parquet` (utils/s3_operations
  * .py:49-61, key built main.py:51-57). On Spark the layout survives
  * but each partition writes its own part-file in parallel — no
  * driver-side buffering, no per-chunk object PUTs.
  */
object PartitionedSink {

  /** The reference's run-scoped date path for a table. */
  def datePath(baseDir: String, table: String, ts: LocalDateTime): String =
    f"$baseDir/$table/${ts.getYear}%04d/${ts.getMonthValue}%02d/" +
      f"${ts.getDayOfMonth}%02d/${ts.getHour}%02d"

  /** Append the frame under the run's date path; returns rows written
    * (the engine's analogue of the reference's PG_LAST_COPY_COUNT
    * reconciliation, utils/redshift_operations.py:154-159).
    *
    * The count rides the write itself via `observe` — O(this write),
    * measured on the rows that actually flowed into the sink. The
    * previous re-read-and-count was O(every run ever written to that
    * hour's path) and raced with concurrent writers.
    */
  def writeDatePartitioned(df: DataFrame, baseDir: String, table: String,
                           ts: LocalDateTime): Long = {
    val path = datePath(baseDir, table, ts)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows_written"))
      .write.mode("append").parquet(path)
    obs.get("rows_written").asInstanceOf[Long]
  }

  /** Hive-style partitioned write (`partitionBy`) — the layout the
    * date path implies but the reference never exploits; this one
    * gives Catalyst partition pruning on read.
    */
  def writePartitionedBy(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Small-file compaction for one parquet directory: rewrite the
    * part files into ~`targetFileBytes`-sized files. Chronic small
    * files are the classic failure mode of append-per-run layouts
    * like the hourly date path above — at 100 TB a scan's task count
    * (and the namenode/object-store listing cost) is governed by file
    * count, not data size. Uses `coalesce` (narrow, no shuffle) and a
    * write-to-temp + rename swap; returns (filesBefore, filesAfter).
    *
    * For hive-partitioned tables, compact leaf directories
    * individually (partition pruning must keep working).
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L << 20): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "_compact_tmp")
    spark.read.parquet(path).coalesce(n)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    require(fs.rename(tmp, p), s"compaction swap failed for $path")
    (parts.length, n)
  }

  /** Clustered write: range-partition on `sortCols` and sort within
    * each file, so every file covers a disjoint, tight key range.
    * Parquet row-group min/max statistics then let a filtered scan
    * skip whole files — the poor man's clustering/Z-order, and the
    * single highest-leverage layout decision for a table that is
    * mostly read through selective filters on its cluster key. At
    * 100 TB a scan for one key range touches `1/nFiles` of the data
    * instead of every file (an unsorted layout spreads every key
    * range across every file, making stats useless).
    *
    * Cost: one range shuffle at write time (sampling pass + exchange)
    * — paid once per write, amortized over every subsequent read.
    */
  def clusteredWrite(df: DataFrame, path: String, sortCols: Seq[String],
                     nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(nFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Z-order (Morton) clustered write: interleave the bits of TWO
    * quantized numeric columns into one sort key, so row-group
    * min/max stats become selective on BOTH dimensions at once — the
    * multi-column generalization of [[clusteredWrite]] (which makes
    * the first sort column selective and leaves the second useless).
    * The Delta/Iceberg OPTIMIZE ZORDER shape, on plain parquet.
    *
    * Quantization is equi-width over the observed min/max (ONE tiny
    * aggregate, four numbers to the driver — same stance as Ivf's
    * broadcast centroids); skewed columns deserve equi-depth
    * boundaries (approx_percentile) — same interleave, different
    * bucketing. The z-value is a pure per-row expression: the write
    * costs one range shuffle, identical to any clustered write.
    *
    * File boundaries are TILE-aligned: the range shuffle keys on a
    * coarse z-tile id (the top bits of the z-value, a 2^g x 2^g
    * grid slightly finer than nFiles), not on the raw z-value.
    * Range partitioning never splits rows with an equal key, so
    * every output file is a union of whole grid tiles no matter
    * where the partitioner's SAMPLED bounds land — without this,
    * sample noise (seeded by RDD id, i.e. by whatever ran earlier
    * in the session) can put a file boundary mid-tile and quietly
    * halve the box-filter skip rate. Within a file rows still sort
    * by the full-resolution z-value, so row-group stats stay tight.
    */
  def zOrderedWrite(df: DataFrame, path: String, colA: String, colB: String,
                    nFiles: Int, bits: Int = 10): Unit = {
    import org.apache.spark.sql.functions._
    val bounds = df
      .agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
        min(col(colB)).cast("double"), max(col(colB)).cast("double"))
      .head()
    if (bounds.anyNull) {
      // empty frame or an all-null z-order column: no quantization range
      // exists, so fall back to a plain clustered write (nulls sort first)
      clusteredWrite(df, path, Seq(colA, colB), nFiles)
      return
    }
    val Array(loA, hiA, loB, hiB) =
      bounds.toSeq.map(_.asInstanceOf[Double]).toArray
    val buckets = (1 << bits) - 1
    def q(c: String, lo: Double, hi: Double): org.apache.spark.sql.Column =
      if (hi > lo)
        least(lit(buckets.toLong),
          floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * buckets))
          .cast("long")
      else lit(0L)
    // quantized into [0, 2^bits - 1], so zValue2's mask keeps every bit
    val z = graft.ops.ZOrder.zValue2(q(colA, loA, hiA), q(colB, loB, hiB), bits)
    // g: per-dimension tile bits — one notch finer than the 4^k >=
    // nFiles grid, so files pack a few whole tiles (equi-depth-ish)
    // while boundaries stay on tile edges.
    val g = {
      var k = 0
      while ((1L << (2 * k)) < nFiles) k += 1
      math.min(k + 1, bits)
    }
    df.withColumn("_z", z)
      .withColumn("_zt", shiftright(col("_z"), 2 * (bits - g)))
      .repartitionByRange(nFiles, col("_zt"))
      .sortWithinPartitions("_z")
      .drop("_zt", "_z")
      .write.mode("overwrite").parquet(path)
  }
}
