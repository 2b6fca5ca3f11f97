package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Training-data EXPORT: the deterministic, epoch-varying global
  * shuffle into fixed shards that a training dataloader contracts on
  * (cf. the reference's partitioned parquet sink at
  * `utils/s3_operations.py`, which shards by wall-clock load hour —
  * no shuffle, no epoch story). Every assignment is content-addressed
  * from 52 md5 bits of (id, epoch) — the [[Sampling]] uniform idiom —
  * so a row's (shard, position) is a pure function of its key:
  * reproducible across reruns, engines, cluster sizes, and partition
  * counts, and a different-but-equally-uniform permutation each
  * epoch with no RNG state to checkpoint.
  *
  * Scale shape: ONE shuffle (the per-shard window). A shard is the
  * window partition, so shard count must be sized to executor memory
  * — the [[Packing]] contract: pick nShards so corpus/nShards fits a
  * partition (at 100 TB that is just thousands of shards, which is
  * also what the dataloader wants). Balance is md5-uniform by
  * construction; no salting needed because the key space is already
  * hashed.
  */
object Export {

  /** 52-bit content-addressed shuffle key for (id, epoch). */
  def shuffleKey(idCol: Column, epoch: Int): Column =
    conv(substring(md5(concat(idCol.cast("string"), lit(s"#e$epoch"))),
      1, 13), 16, 10).cast(LongType)

  /** Shared assignment body: shard = key % nShards, pos = dense
    * 1-based rank within the shard by `orderCols` (the hash key plus
    * tie-breaking id, optionally prefixed — ties on the 52-bit key
    * are 2^-52 events, broken by id for total determinism).
    */
  private def assign(df: DataFrame, idCol: String, epoch: Int, nShards: Int,
                     orderPrefix: Seq[Column]): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    val w = Window.partitionBy(col("shard"))
      .orderBy(orderPrefix ++ Seq(col("hk"), col(idCol)): _*)
    df.withColumn("hk", shuffleKey(col(idCol), epoch))
      .withColumn("shard", pmod(col("hk"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .drop("hk")
  }

  /** Assign (shard, pos): the plain epoch shuffle. */
  def epochShards(df: DataFrame, idCol: String, epoch: Int,
                  nShards: Int): DataFrame =
    assign(df, idCol, epoch, nShards, Seq.empty)

  /** Curriculum variant: within a shard, rows stream in ascending
    * `stageCol` order (e.g. a quality bucket — easy first), shuffled
    * WITHIN each stage by the epoch key. Same single-shuffle shape.
    */
  def curriculumShards(df: DataFrame, idCol: String, stageCol: String,
                       epoch: Int, nShards: Int): DataFrame =
    assign(df, idCol, epoch, nShards, Seq(col(stageCol)))

  /** DuckDB replay of [[epochShards]] over `rel` with key `idCol`. */
  def epochShardsSql(rel: String, idCol: String, epoch: Int,
                     nShards: Int): String =
    s"""WITH h AS (SELECT *,
          ('0x' || substr(md5(CAST($idCol AS VARCHAR) || '#e$epoch'), 1, 13))::BIGINT AS hk
          FROM $rel)
        SELECT $idCol, CAST(hk % $nShards AS BIGINT) AS shard,
          CAST(row_number() OVER (PARTITION BY hk % $nShards
            ORDER BY hk, $idCol) AS BIGINT) AS pos
        FROM h"""
}
