package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit}

/** Incremental maintenance of a materialized aggregate table —
  * rollup-on-ingest. Each arriving batch is folded into a persisted
  * per-key aggregate with ONE partial aggregation over the batch and
  * a key-scoped merge against only the partitions the batch touches;
  * the raw history is never rescanned.
  *
  * The 100 TB shape: a per-(day, dimension) rollup over an append-
  * mostly event stream. Refreshing it by re-running `GROUP BY` over
  * the raw table is an O(history) scan per refresh; maintaining it
  * incrementally is O(batch) — the batch collapses to its partial
  * aggregate (map-side combine, |keys-in-batch| rows), and the merge
  * re-aggregates that partial against the CURRENT rows of only the
  * touched partitions (a few days' worth of key rows, not the
  * table). This is exactly the mergeable-summaries discipline the
  * sketch family (q35/q112/q117/q119/q121) uses, specialized to the
  * algebraic aggregates: partials combine associatively, so any
  * merge tree — per-batch, per-partition, per-epoch — yields the
  * same table as one global aggregation over the union of all
  * batches ever ingested. `IncrementalAggSpec` pins that identity;
  * q141 replays it against the DuckDB oracle.
  *
  * Measure algebra: COUNT and SUM merge by addition, MIN/MAX by
  * comparison. AVG is intentionally absent as a stored measure — it
  * is not mergeable; derive it on read from (sum, count). COUNT
  * DISTINCT is not mergeable from scalars either; the sketch family
  * (q117/q121) carries it.
  *
  * Sums accumulate in exact integer domains: callers scale doubles
  * to micro/milli longs at the mouth (the q125 convention) so
  * partial-aggregation order can never change a stored value and
  * the DuckDB oracle replays bit-for-bit.
  *
  * Streaming twin: [[graft.streaming.RollupStream]] folds each
  * micro-batch through [[updateTable]] with batch-id replay markers
  * (the fold is additive, so redelivery idempotence must be imposed,
  * not assumed).
  */
object IncrementalAgg {

  /** A mergeable measure, stored in column `out`: the row count, or
    * the sum, min or max of column `src`.
    */
  sealed trait Measure

  object Measure {
    final case class Count(out: String) extends Measure
    final case class Sum(src: String, out: String) extends Measure
    final case class Min(src: String, out: String) extends Measure
    final case class Max(src: String, out: String) extends Measure

    /** The measure named `agg` ∈ count | sum | min | max. `src` is
      * ignored for count. */
    def apply(agg: String, src: String, out: String): Measure = agg match {
      case "count" => Count(out)
      case "sum" => Sum(src, out)
      case "min" => Min(src, out)
      case "max" => Max(src, out)
      case _ => throw new IllegalArgumentException(
        s"measure '$agg' is not algebraically mergeable" +
          " (avg: derive from sum+count on read)")
    }
  }

  def count(out: String): Measure = Measure.Count(out)
  def sum(src: String, out: String): Measure = Measure.Sum(src, out)
  def min(src: String, out: String): Measure = Measure.Min(src, out)
  def max(src: String, out: String): Measure = Measure.Max(src, out)

  /** The batch's partial aggregate: one map-side-combining
    * aggregation, |keys-in-batch| output rows.
    */
  def aggregateBatch(batch: DataFrame, keys: Seq[String],
                     measures: Seq[Measure]): DataFrame = {
    require(measures.nonEmpty && keys.nonEmpty)
    val aggs = measures.map {
      case Measure.Count(out) => F.count(lit(1)).as(out)
      case Measure.Sum(src, out) => F.sum(col(src)).as(out)
      case Measure.Min(src, out) => F.min(col(src)).as(out)
      case Measure.Max(src, out) => F.max(col(src)).as(out)
    }
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Re-aggregation of already-aggregated rows: count partials SUM
    * (each partial row carries the count of many source rows);
    * sum/min/max fold with their own operator. Associative, so any
    * merge tree equals one global aggregation.
    */
  private def mergeAggs(measures: Seq[Measure]): Seq[Column] =
    measures.map {
      case Measure.Count(out) => F.sum(col(out)).as(out)
      case Measure.Sum(_, out) => F.sum(col(out)).as(out)
      case Measure.Min(_, out) => F.min(col(out)).as(out)
      case Measure.Max(_, out) => F.max(col(out)).as(out)
    }

  /** Merge two partial-aggregate frames (same schema) into one. */
  def mergePartials(a: DataFrame, b: DataFrame, keys: Seq[String],
                    measures: Seq[Measure]): DataFrame = {
    val m = mergeAggs(measures)
    a.unionByName(b).groupBy(keys.map(col): _*).agg(m.head, m.tail: _*)
  }

  /** Touched-partition predicate. `isin` alone never matches NULL, so
    * a batch carrying a null partition key would skip reading the
    * `__HIVE_DEFAULT_PARTITION__` rows while the dynamic overwrite
    * still replaces that partition — silently dropping prior rows. An
    * explicit isNull branch keeps null-keyed batches merge-correct.
    */
  private def touchedPredicate(partitionCol: String,
                               touched: Seq[Any]): Column = {
    val nonNull = touched.filter(_ != null)
    val base =
      if (nonNull.isEmpty) lit(false)
      else col(partitionCol).isin(nonNull: _*)
    if (nonNull.length != touched.length) base || col(partitionCol).isNull
    else base
  }

  /** Fold `batch` (raw rows) into the aggregate table at `path`,
    * hive-partitioned by `partitionCol` (must be one of `keys` —
    * typically the day). Cost: one partial aggregation of the batch
    * + a re-aggregation of (touched-partition current rows ∪ batch
    * partial) + a dynamic-partition overwrite of ONLY the touched
    * partitions (dynamic partition overwrite).
    * Returns the number of partitions rewritten (0 for an empty
    * batch, which touches nothing — the touched-partition collect is
    * the emptiness check, so callers need no separate probe action).
    */
  def updateTable(spark: SparkSession, path: String, batch: DataFrame,
                  keys: Seq[String], measures: Seq[Measure],
                  partitionCol: String): Int = {
    require(keys.contains(partitionCol),
      s"partition column $partitionCol must be an aggregation key")
    // AQE off for the fold's bounded plans (one O(batch) partial +
    // a touched-partition merge): with AQE every Exchange is its own
    // job + scheduler round-trip — fixed bill per fold, dominant at
    // streaming cadence (see graft.ops.MicroBatch); file counts come
    // from the explicit write-key repartitions below instead
    MicroBatch.noAqe(spark) {
    // persisted: touched-partition discovery AND the merge both read
    // the partial (|keys-in-batch| rows) — without the persist each
    // would rescan the raw batch (the x20 run's rollup_incremental_
    // mrows_read measured the fold at 2x batch before this)
    val partial = aggregateBatch(batch, keys, measures).persist()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "table exists" = has at least one data entry; metadata-only dirs
    // (_applied markers, _SUCCESS) don't count — a stream whose first
    // micro-batch was empty leaves exactly that shape behind. The
    // canonical probe (one listing contract across every store).
    val hasData = Generations.hasData(spark, path)
    // touched partitions FIRST, whichever branch runs: the collect
    // materializes the persisted partial, doubles as the emptiness
    // check (an empty batch folds to zero partials — attach points
    // need no separate `isEmpty` action, r16), and on first write
    // replaces what used to be a second distinct-count job
    val touched = partial.select(partitionCol).distinct().collect()
      .map(_.get(0))
    try if (touched.isEmpty) 0
    else if (!hasData) {
      // append, not create: the dir may already hold metadata-only
      // entries (stream batch markers) that an overwrite would
      // destroy. Repartitioned on the write key: one file per
      // partition dir (the writeIndex discipline)
      partial.repartition(col(partitionCol))
        .write.mode("append").partitionBy(partitionCol).parquet(path)
      touched.length
    } else {
      // touchedPredicate, not bare isin: a null partition key in the
      // batch must pull the __HIVE_DEFAULT_PARTITION__ rows into the
      // merge (isin never matches NULL — the dynamic overwrite would
      // replace that partition with batch-only partials)
      val current = spark.read.parquet(path)
        .where(touchedPredicate(partitionCol, touched.toIndexedSeq))
      // align to the partial's schema: hive partition-type inference
      // reads a string day partition back as DATE, which unionByName
      // would reject — cast key columns back to their ingest types
      val aligned = current.select(partial.schema.fields.toIndexedSeq
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      // localCheckpoint cuts lineage: the overwrite would otherwise
      // read the very files it replaces. Write-key repartition first:
      // one file per rewritten partition dir
      val merged = mergePartials(aligned, partial, keys, measures)
        .repartition(col(partitionCol))
        .localCheckpoint()
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(path)
      // fold committed: free the merge checkpoint now — RollupStream
      // runs this once per micro-batch (graft.ops.Blocks hygiene)
      graft.ops.Blocks.release(merged)
      touched.length
    } finally { partial.unpersist(); () }
    }
  }
}
