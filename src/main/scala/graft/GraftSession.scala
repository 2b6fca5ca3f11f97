package graft

import org.apache.spark.sql.SparkSession

/** Single place that builds a correctly-configured SparkSession.
  *
  * Scale stance: these configs are what we'd ship on a 1000-executor
  * cluster, modulo `master`: AQE on as Spark's default (runtime
  * re-plan, skew-join splitting, dynamic coalescing of shuffle
  * partitions — none of them set here), UTC session
  * time zone (oracle parity + cross-cluster determinism), shuffle
  * partitions sized to the local core count rather than the 200
  * default (on a real cluster this is set to ~2-3x total cores or
  * left to AQE's coalescing).
  */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // engine extensions: native rewrites for idiomatic HOF patterns,
      // aggregate-to-materialized-rollup answering (no-op until a
      // rollup target is registered), the native as-of join, one-task
      // global sorts for inputs no larger than
      // spark.sql.autoBroadcastJoinThreshold (SmallSortStrategy: no
      // range-sampling job, no sort shuffle), and the SQL bindings for
      // the engine's expressions/aggregates (KLL, theta, top-k,
      // unicode_normalize) so spark.sql reaches the same
      // operators as the Column API
      .withExtensions { e =>
        e.injectOptimizerRule(_ => graft.plans.NativeDotRewrite)
        e.injectOptimizerRule(_ => graft.plans.RollupRewrite)
        e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
        e.injectPlannerStrategy(_ => graft.plans.SmallSortStrategy)
        graft.functions.GraftFunctions.register(e)
      }
      .config("spark.sql.shuffle.partitions", cores.toString)
      // r16 §9 config pass — MEASURED AND REJECTED, numbers in
      // OPTIMIZATION_r16.md: (1) preferSortMergeJoin=false + the AQE
      // maxShuffledHashJoinLocalMapThreshold rewrite read geomean
      // 0.85x over the full 194-query bench in two independent 2-pass
      // runs — the fold/iterative families lose more than the big
      // self-joins gain; where shuffled-hash provably wins (the
      // triangles wedge join, -1.7 s) it is a targeted SHUFFLE_HASH
      // hint in the operator instead. (2) coalescePartitions
      // .parallelismFirst=false read q127 25.6 s (4x), q133 15.3 s
      // (3x), q131 10.0 s (3x) in a targeted A/B — size-first
      // coalescing starves the CPU-bound stages of cores.
      //
      // Runtime bloom-filter join pruning is on by Spark's default: a
      // selective dim filter is pushed to the FACT side's scan as a
      // bloom probe, so the big side sheds rows before the shuffle — at
      // 100 TB this is a first-order scan/exchange reduction. The 10 GB
      // application-side threshold means local fixtures never trigger
      // it (correct: the filter costs a pass over the dim side),
      // RuntimeFilterSpec pins the injection with thresholds lowered.
      .config("spark.sql.session.timeZone", "UTC")
      // events fixture has TIMESTAMP(NANOS); read as long, convert in-plan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fixture timestamps carry no UTC-adjusted annotation; read them
      // as TIMESTAMP (session tz = UTC), not TIMESTAMP_NTZ — same
      // instants, keeps unix_micros/date math valid AND keeps filters
      // on these columns pushable at the scan (a per-column NTZ->LTZ
      // cast would block parquet pushdown)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // local files through Hadoop's LocalFileSystem, checksums and all,
      // but with a setPermission that does not fork `chmod` per file and
      // directory written (graft.sources.NioLocalFileSystem). The FS
      // cache is keyed by scheme, not by configuration: with it on, a
      // plain LocalFileSystem cached by earlier code (any
      // `new Configuration()` touching a local path) would be returned
      // instead, so Spark's own configurations bypass it for `file`.
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      // managed (bucketed) tables land in tmp, never in the repo
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-warehouse")

  /** Local session for tests; respects SPARK_GRAFT_CPUS like the driver. */
  def local(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(Runtime.getRuntime.availableProcessors(), 4).toString).toInt
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
