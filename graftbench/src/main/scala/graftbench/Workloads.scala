package graftbench

import java.io.File
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{SparkEntry, Tables}
import graft.pipeline.{Config, CorpusClean, HistoryLoad}
import graft.sources.PartitionedSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A workload: inputs it registers, an untimed warm-up, the timed op
  * loop, and the correctness check of every op (between ops, or in
  * `finish` after the window; never inside an op's timed region).
  */
trait Workload {
  def clients: Int
  def register(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def run(ctx: RunCtx): Unit
  def finish(spark: SparkSession): Unit = ()
}

object Workload {
  val json = new ObjectMapper()

  def apply(name: String, data: String, work: String, seed: Long, clients: Int): Workload =
    name match {
      case "history_load" => new HistoryLoadWorkload(data, work)
      case "interactive" => new InteractiveWorkload(data, seed, clients)
      case "corpus_dedup" => new CorpusDedupWorkload(data, clients)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  /** (file count, bytes) of the Parquet files under `dir`. */
  def parquetBytes(dir: File): (Int, Long) = {
    val files = Option(dir.listFiles).toSeq.flatten
    val nested = files.filter(_.isDirectory).map(parquetBytes)
    val own = files.filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (own.size + nested.map(_._1).sum, own.map(_.length).sum + nested.map(_._2).sum)
  }

  def elements(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}

// ------------------------------------------------------------ history_load

/** The reference job: `HistoryLoad.process()` over a config with active
  * and inactive tables. Each processed table is one op. Every batch
  * writes to a fresh target; targets are checked and removed after the
  * window.
  *
  * Check: the written row count matches the source; no inactive table
  * is written; the audit columns hold the configured values, and on a
  * deterministic eighth of the rows the reference's md5 row hash,
  * recomputed here from its definition, of the written row. The
  * harness then compares the order-independent column sums of each
  * written table with the ones the generator recorded for its source
  * (`gen.checksum`), and removes the targets.
  */
final class HistoryLoadWorkload(data: String, work: String) extends Workload {
  val clients = 1
  private val specs = Workload.elements(Workload.json.readTree(new File(s"$data/tables.json")))
  private def name(s: JsonNode) = s.get("name").asText
  private val rows = specs.map(s => name(s) -> s.get("rows").asLong).toMap
  private val inactive = specs.filter(_.get("active").asText == "F").map(name)
  private val src = s"$data/src"
  private val srcBytes = specs.map(s =>
    name(s) -> Workload.parquetBytes(new File(s"$src/${name(s)}.parquet"))._2).toMap
  /** (batch, target, run time, table, op) of every op in the window */
  private val written = mutable.ArrayBuffer.empty[(Int, String, LocalDateTime, String, Sample)]

  /** The config as a user writes it, read by the program's own parser. */
  private def config(target: String, runId: Int) = Config.fromYaml(
    s"source_dir: $src\ntarget_dir: $target\nrun_id: $runId\nupdated_by: graftbench\n" +
      "tables:\n" + specs.map(s =>
        s"""  ${name(s)}: {active_flag: "${s.get("active").asText}"}""").mkString("\n"))

  def register(spark: SparkSession): Unit = { config(s"$work/none", 0); () }

  /** Untimed: the active tables of the smallest size, five times over,
    * each pass into a fresh target removed after. Every table runs the
    * same code (one type matrix) and most of an op's time is per op,
    * not per row, so small tables warm the JIT with the most ops for
    * the time. */
  def warmup(spark: SparkSession): Unit = {
    val small = specs.map(name).filter(t => rows(t) == rows.values.min && !inactive.contains(t))
    (1 to 5).foreach { pass =>
      val target = s"$work/warmup-$pass"
      val load = new HistoryLoad(spark, config(target, 0))
      small.foreach(load.processTable)
      Workload.rm(new File(target))
    }
  }

  /** Whole rounds, started while the window is open. The generator
    * orders the active tables in rounds of one table per size, so
    * every window holds each size equally often, and its median and
    * throughput do not depend on where the window closes. Once closed,
    * the batch's remaining tables fail before any work, untimed, and
    * `process()` tallies them as failures. */
  def run(ctx: RunCtx): Unit = {
    val round = rows.values.toSet.size
    var batch = 0
    var closed = false
    while (!closed) {
      batch += 1
      val (b, target, now) = (batch, s"$work/target-$batch", LocalDateTime.now())
      var started = 0
      new HistoryLoad(ctx.spark, config(target, b), now) {
        override def processTable(table: String): Long = {
          if (started % round == 0 && !ctx.open) closed = true
          if (closed) throw new IllegalStateException("window closed")
          started += 1
          val s = ctx.timed(0, table, "history", srcBytes(table)) {
            ctx.rec.span("pipeline.table")(super.processTable(table))
          }
          written += ((b, target, now, table, s))
          s.error.foreach(e => throw new RuntimeException(e))
          s.items
        }
      }.process()
    }
  }

  override def finish(spark: SparkSession): Unit = {
    val done = written.filter(_._5.ok).toSeq
    if (done.isEmpty) return
    val width = spark.read.parquet(s"$src/${done.head._4}.parquet").columns.length
    val paths = done.map { case (_, target, now, t, _) => PartitionedSink.datePath(target, t, now) }
    // one read, one job: per op, rows written and rows failing the audit
    val out = spark.read.parquet(paths: _*)
    val cols = out.columns.toSeq.take(width)
    val file = input_file_name()
    val md5Ref = md5(concat(lit("("), concat_ws(",",
      cols.map(c => coalesce(col(c).cast(StringType), lit(""))): _*), lit(")")))
    val valid = col("updatedby") === "graftbench" &&
      col("runid") === regexp_extract(file, "/target-(\\d+)/", 1).cast(LongType) &&
      col("updated_utc_ts").isNotNull &&
      when(pmod(xxhash64(col(cols.head)), lit(8L)) === 0, col("row_hash_code") === md5Ref)
        .otherwise(true)
    val audited = out
      .select(regexp_extract(file, "/(target-\\d+/[^/]+)/", 1).as("_k"),
        when(valid, 0L).otherwise(1L).as("bad"))
      .groupBy("_k").agg(count(lit(1)), sum(col("bad")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    val audit = Seq("updatedby", "updated_utc_ts", "runid", "row_hash_code")
    done.zip(paths).foreach { case ((b, target, _, t, s), path) =>
      val (n, bad) = audited.getOrElse(s"target-$b/$t", (0L, 0L))
      val wrote = inactive.filter(i => new File(s"$target/$i").exists)
      s.output = path
      val (files, bytes) = Workload.parquetBytes(new File(path))
      s.outFiles = files
      s.outBytes = bytes
      s.mismatch =
        if (out.columns.toSeq.drop(width) != audit) Some(s"columns ${out.columns.mkString(",")}")
        else if (wrote.nonEmpty) Some(s"inactive tables written: ${wrote.mkString(",")}")
        else if (s.items != rows(t) || n != rows(t))
          Some(s"$t: ${s.items} rows reported, $n written, of ${rows(t)}")
        else if (bad != 0) Some(s"$t: $bad rows fail the audit check")
        else None
    }
  }
}

// ------------------------------------------------------------- interactive

/** Read-only serving: clients share one session and run queries from a
  * fixed deck of `SparkEntry.queries` with Zipf-skewed popularity, each
  * client from a seeded point of the popularity cycle.
  * Each op consumes the full result; it must reproduce the result the
  * warm-up recorded, which the harness checks against the DuckDB oracle.
  */
final class InteractiveWorkload(data: String, seed: Long, val clients: Int)
    extends Workload {
  import InteractiveWorkload._

  private var reference = Map.empty[String, (Digest, Array[Row], StructType)]
  private var srcBytes = Map.empty[String, Long]

  def register(spark: SparkSession): Unit = registerTables(spark, data)

  /** Every deck query once, split over the clients; the results become
    * the reference every op must match. */
  def warmup(spark: SparkSession): Unit = {
    val results = new java.util.concurrent.ConcurrentHashMap[String, (Long, Digest, Array[Row], StructType)]()
    RunCtx.parallel(clients) { c =>
      deck.indices.filter(_ % clients == c).map(deck(_)._1).foreach { q =>
        val df = SparkEntry.queries(q)(spark, data)
        val bytes = df.inputFiles.map(f => new File(new java.net.URI(f)).length).sum
        val rows = df.collect()
        results.put(q, (bytes, ResultHash.of(rows), rows, df.schema))
      }
    }
    srcBytes = results.asScala.map { case (q, r) => q -> r._1 }.toMap
    reference = results.asScala.map { case (q, r) => q -> (r._2, r._3, r._4) }.toMap
    // then one popularity cycle per client, as the window runs them,
    // so the JIT has compiled the ops' code before the window opens
    RunCtx.parallel(clients) { _ =>
      popularity.foreach { r =>
        ResultHash.of(SparkEntry.queries(deck(r)._1)(spark, data).collect())
      }
    }
  }

  def run(ctx: RunCtx): Unit = RunCtx.parallel(clients) { c =>
    // each client walks the popularity cycle from a seeded offset, so
    // any window sees nearly the same mix whatever the seed
    var i = new scala.util.Random(seed * 1000003L + c).nextInt(popularity.size)
    while (ctx.open) {
      val (q, family) = deck(popularity(i % popularity.size))
      i += 1
      var got: Digest = null
      val s = ctx.timed(c, q, family, srcBytes(q)) {
        ctx.rec.span(s"queries.$family") {
          got = ResultHash.of(SparkEntry.queries(q)(ctx.spark, data).collect())
          1L
        }
      }
      s.mismatch =
        if (got == reference(q)._1) None
        else Some(s"$q: result $got, warm-up gave ${reference(q)._1}")
    }
  }

  /** The warm-up results and their oracle SQL, for the DuckDB check. */
  def dumpReference(spark: SparkSession, dir: String): Unit = {
    reference.foreach { case (q, (_, rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$q")
    }
    val oracles = Workload.json.createObjectNode()
    deck.foreach { case (q, _) => oracles.put(q, SparkEntry.oracleSql(q)) }
    Workload.json.writeValue(new File(s"$dir/oracle_sql.json"), oracles)
  }
}

object InteractiveWorkload {
  /** One query per family, most popular first. None writes files,
    * starts a stream, or registers session-global state (views, rollup
    * targets). The most popular query is one of middle latency, with
    * about as many ops of faster queries (q159, q146, q28: 15 of 49) as
    * of slower ones (q01, q79: 14 of 49), so the median op lies inside
    * its latency cluster, not on the edge between two clusters, where
    * a small shift of speed or mix would move it by a whole gap. */
  val deck: Seq[(String, String)] = Seq(
    "q92_token_histogram" -> "pipeline",
    "q01_pricing_summary" -> "relational",
    "q159_asof_native" -> "text",
    "q146_join_profile" -> "curation",
    "q79_label_centroids" -> "vector",
    "q28_normalize_names" -> "reference")

  /** One popularity cycle of deck ranks: Zipf(1) weights 20:10:7:5:4:3,
    * spread by smooth weighted round-robin so that every stretch of the
    * cycle holds each query in proportion. */
  val popularity: IndexedSeq[Int] = {
    val weights = deck.indices.map(r => math.round(20.0 / (r + 1)).toInt)
    val current = Array.fill(deck.size)(0)
    (1 to weights.sum).map { _ =>
      deck.indices.foreach(r => current(r) += weights(r))
      val pick = deck.indices.maxBy(current(_))
      current(pick) -= weights.sum
      pick
    }
  }

  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Input registration: the catalog's scan plans, built once. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    tables.foreach(Tables(spark, dir, _))
}

// ------------------------------------------------------------ corpus_dedup

/** Batch corpus cleaning: each op is `CorpusClean.clean` on one
  * fixed-size shard, survivors collected and checked against the
  * planted truth. The two DISK_ONLY frames `clean` persists are freed
  * after every op, outside its timed region.
  */
final class CorpusDedupWorkload(data: String, val clients: Int) extends Workload {
  private val truths = Workload.elements(Workload.json.readTree(new File(s"$data/truth.json")))
    .toIndexedSeq
  private def path(i: Int) = s"$data/shards/${truths(i).get("shard").asText}.parquet"
  private val srcBytes = truths.indices.map(i => Workload.parquetBytes(new File(path(i)))._2)

  def register(spark: SparkSession): Unit = ()

  def warmup(spark: SparkSession): Unit = RunCtx.parallel(clients) { c =>
    val res = CorpusClean.clean(spark.read.parquet(path(c)))
    res.collect()
    CorpusDedupWorkload.free(spark, res)
  }

  def run(ctx: RunCtx): Unit = RunCtx.parallel(clients) { c =>
    // shards are split between clients, so no two ops share a shard
    var i = c
    while (ctx.open) {
      val k = i % truths.size
      var res: DataFrame = null
      var survivors = Array.empty[Long]
      val s = ctx.timed(c, f"shard_$k%03d", "corpus", srcBytes(k)) {
        ctx.rec.span("pipeline.clean") {
          res = CorpusClean.clean(ctx.spark.read.parquet(path(k)))
          survivors = res.select("doc_id").collect().map(_.getLong(0))
        }
        survivors.length.toLong
      }
      if (res != null) CorpusDedupWorkload.free(ctx.spark, res)
      if (s.ok) s.mismatch = CorpusDedupWorkload.mismatch(survivors, truths(k))
      i += clients
    }
  }
}

object CorpusDedupWorkload {
  /** Unpersist every cached frame the result's plan reads. */
  def free(spark: SparkSession, res: DataFrame): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cm = classic.sharedState.cacheManager
    val cached = mutable.LinkedHashSet.empty[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    res.queryExecution.analyzed.foreach { p =>
      cm.lookupCachedData(classic, p).foreach(cached += _.plan)
    }
    cached.foreach(p => cm.uncacheQuery(classic, p, false, true))
  }

  /** Planted truth: no exact copy and no short document survives; at
    * least 99% of the base documents do and at least 90% of the
    * one-word edits do not. LSH candidate pairs are not verified, so a
    * base document that shares a band with an unrelated lower id is
    * dropped: the program's contract, not an error, within that 1%.
    * Both rates are deterministic per seed.
    */
  def mismatch(survivors: Array[Long], truth: JsonNode): Option[String] = {
    val got = survivors.toSet
    def ids(f: String) = Workload.elements(truth.get(f)).map(_.asLong)
    val near = Workload.elements(truth.get("near")).map(_.get(0).asLong)
    val missed = near.count(got.contains)
    val shard = truth.get("shard").asText
    if (survivors.length != got.size) Some(s"$shard: duplicate survivor ids")
    else if (ids("base").count(!got.contains(_)) > 0.01 * ids("base").size)
      Some(s"$shard: ${ids("base").count(!got.contains(_))} base documents dropped")
    else if (ids("exact").exists(got.contains))
      Some(s"$shard: ${ids("exact").count(got.contains)} exact copies survive")
    else if (ids("short").exists(got.contains))
      Some(s"$shard: ${ids("short").count(got.contains)} short documents survive")
    else if (missed > 0.1 * near.size) Some(s"$shard: $missed of ${near.size} near copies survive")
    else None
  }
}
