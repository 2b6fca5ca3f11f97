package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the driver fixture directory: name -> DataFrame.
  *
  * Mirrors the reference's config-driven `{tablename: {...}}` catalog
  * (reference main.py:42) as a map from table name to a lazily-planned
  * parquet scan. Scans are declarative so Catalyst pushes filters and
  * prunes columns down to the parquet reader.
  */
object Tables {

  // Scan-plan cache: building a parquet scan costs a file listing and
  // a footer schema read EVERY call — pure fixed overhead when 100+
  // bench/verify queries each re-derive the same handful of tables.
  // A DataFrame is an immutable logical plan, so reuse is free.
  //
  // CONTRACT: a cached path's file listing is captured at first read —
  // the fixture dirs this catalog serves are immutable for a session's
  // lifetime (the driver writes them once, before any query runs). A
  // caller that rewrites a parquet dir mid-session (a sink round-trip)
  // must NOT read it through this catalog: the stale listing yields
  // old rows or FileNotFoundException on deleted files. Read rewritten
  // output with `spark.read.parquet` directly.
  //
  // Sessions are weak keys, but a weak key alone cannot collect here:
  // every cached DataFrame strongly references its SparkSession, so a
  // map value holding DataFrames directly would keep its own key
  // strongly reachable forever (the classic WeakHashMap value->key
  // pitfall). The per-session map therefore sits behind a
  // SoftReference: the plans are only SOFTLY reachable through the
  // cache, so under memory pressure the GC clears the indirection,
  // the stopped session loses its last strong path, and the weak
  // entry goes with it. Cost of a cleared soft ref is one re-listing
  // per table — the cache is an optimization, never a correctness
  // dependency.
  private val cache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.lang.ref.SoftReference[
          java.util.concurrent.ConcurrentHashMap[String, DataFrame]]]())

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = cache.synchronized {
      val ref = cache.get(spark)
      val live = if (ref != null) ref.get else null
      if (live != null) live
      else {
        val fresh = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        cache.put(spark, new java.lang.ref.SoftReference(fresh))
        fresh
      }
    }
    perSession.computeIfAbsent(s"$dir/$name.parquet", p => spark.read.parquet(p))
  }
}
