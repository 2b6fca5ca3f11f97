package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter

/** Minimal membership interface shared by the monolithic
  * [[org.apache.spark.util.sketch.BloomFilter]] (via [[BloomMembership]])
  * and the sharded family, so probe expressions hold one resolved
  * handle and dispatch a single bimorphic call per row.
  */
abstract class LongMembership extends Serializable {
  def mightContainLong(v: Long): Boolean
}

/** Adapter: a monolithic bloom as a [[LongMembership]]. Allocated once
  * per task (expression mutable state), never per row.
  */
final class BloomMembership(val bloom: BloomFilter) extends LongMembership {
  override def mightContainLong(v: Long): Boolean = bloom.mightContainLong(v)
}

object BloomMembership {
  /** Codegen entry (a `new` in generated Java needs an exact class). */
  def wrap(bloom: BloomFilter): BloomMembership = new BloomMembership(bloom)
}

/** A Bloom filter partitioned by fingerprint into `numShards`
  * independent filters: shard `floorMod(fp, numShards)` owns `fp`.
  *
  * Why sharding, when N shards of m/N bits have exactly the fpp of one
  * m-bit filter? Because every cost that scales with the BITSET —
  * not the fpp math — stops being monolithic:
  *
  *   - '''build''': `stat.bloomFilter` allocates a FULL-size bitset per
  *     partition and merges them on the driver — at 10^10 fps that is a
  *     ~12 GB allocation in every task and a ~12 GB driver merge.
  *     [[ShardedBloom.build]] shuffles fingerprints to their shard
  *     first, so each task allocates only its shard's bitset (1/N),
  *     and each shard is built by exactly one task;
  *   - '''probe''': the family broadcasts as N independent bitsets,
  *     and a probe touches only the one shard its fingerprint routes
  *     to ([[graft.functions.SurvivingGramsSharded]], the survivor
  *     filter of [[Contamination.gramDocFrequency]]).
  *
  * Correctness is unchanged from the monolithic filter: same
  * no-false-negative guarantee (a fingerprint is always probed against
  * the shard [[ShardedBloom.build]] routed it to), same fpp per probe, and
  * the exact-resolution contract of [[IncrementalDedup]] never depended
  * on the filter anyway.
  *
  * All shards are built via `BloomFilter.create(perShardItems, fpp)`,
  * so same-family merges are compatible by construction (Spark 4's
  * `stat.bloomFilter` builds differently-sized bitsets that
  * `mergeInPlace` rejects — this family never mixes implementations).
  */
final class ShardedBloom(val perShardItems: Long,
                         val shards: Array[BloomFilter]) extends LongMembership {

  def numShards: Int = shards.length

  @inline def shardOf(fp: Long): Int =
    java.lang.Math.floorMod(fp, numShards.toLong).toInt

  override def mightContainLong(fp: Long): Boolean =
    shards(shardOf(fp)).mightContainLong(fp)
}

object ShardedBloom {

  def perShard(expectedItems: Long, numShards: Int): Long =
    math.max(expectedItems / numShards, 1L)

  /** Empty family sized for `expectedItems` total across `numShards`. */
  def create(expectedItems: Long, fpp: Double = 0.01,
             numShards: Int = 8): ShardedBloom = {
    require(numShards > 0, "numShards must be positive")
    val per = perShard(expectedItems, numShards)
    new ShardedBloom(per, Array.fill(numShards)(BloomFilter.create(per, fpp)))
  }

  /** Distributed shard-local build: fingerprints shuffle to their
    * shard's partition, each task builds only the (1/N-size) bitsets of
    * the shards it owns, and the driver merges per-shard — it never
    * allocates more than the family itself. Fingerprint columns are
    * hashes (uniform), so `floorMod(fp, N)` balances shards.
    */
  def build(history: DataFrame, fpCol: String, expectedItems: Long,
            fpp: Double = 0.01, numShards: Int = 8): ShardedBloom = {
    val family = create(expectedItems, fpp, numShards)
    shardPairs(history, fpCol, family.perShardItems, fpp, numShards)
      .collect()
      .foreach { case (s, b) => family.shards(s).mergeInPlace(b) }
    family
  }

  /** (shard, shard-local bloom) pairs, one pair per shard per task; a
    * shard's rows all land in one task (shuffle by shard id), so each
    * shard yields exactly one pair and `mergeInPlace` per shard is a
    * no-op union with an empty peer.
    */
  private def shardPairs(history: DataFrame, fpCol: String, per: Long,
                         fpp: Double, numShards: Int) = {
    val fps = history.select(col(fpCol).cast(LongType).as("fp")).na.drop()
      .repartition(numShards, pmod(col("fp"), lit(numShards.toLong)))
    fps.queryExecution.toRdd.mapPartitions { rows =>
      val local = new java.util.HashMap[Integer, BloomFilter]()
      while (rows.hasNext) {
        val fp = rows.next().getLong(0)
        val s = java.lang.Math.floorMod(fp, numShards.toLong).toInt
        var b = local.get(s)
        if (b == null) { b = BloomFilter.create(per, fpp); local.put(s, b) }
        b.putLong(fp)
        ()
      }
      scala.jdk.CollectionConverters.MapHasAsScala(local).asScala
        .iterator.map { case (k, v) => (k.intValue, v) }
    }
  }
}
