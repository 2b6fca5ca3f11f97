package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema enforcement (reference O-7) and column-name normalization
  * (reference O-9), as pure `DataFrame => DataFrame` transforms.
  */
object SchemaOps {

  /** Coerce a frame to a declared target schema: project the target's
    * columns in the target's order, casting each to its declared type.
    *
    * Replaces the reference's `pa.Table.from_pandas(df, schema=...)`
    * enforcement point (reference utils/dataframe_operations.py:103).
    * Catalyst-native: the casts fold into the projection, stay inside
    * whole-stage codegen, and column pruning reaches the scan — on a
    * 100 TB read only the target's columns come off disk.
    *
    * Fail-fast on a column missing from the input (the reference
    * raises at encode time; we raise at plan time).
    */
  def enforce(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    val missing = target.fields.map(_.name).filterNot(have)
    require(missing.isEmpty,
      s"enforce: input is missing target columns ${missing.mkString(", ")}")
    df.select(target.fields.toIndexedSeq.map { f =>
      col(f.name).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Reference name normalization (utils/rdbms_operations.py:240-243):
    * lowercase, spaces -> '_', strip '-', collapse '__' -> '_'.
    *
    * Deviation (documented, cf. SURVEY.md §7.3): the reference's
    * single-pass `replace("__", "_")` is not idempotent ("____" ->
    * "__"); we collapse underscore RUNS so normalization is a true
    * canonical form — identical output on every realistic name, stable
    * under re-application.
    */
  def normalizeName(name: String): String =
    name.toLowerCase.replace(" ", "_").replace("-", "").replaceAll("_+", "_")

  /** Rename every column via [[normalizeName]]. The reference silently
    * overwrites on collision ("a-b" and "ab" both -> "ab"); we detect
    * and fail fast (SURVEY.md §7.3).
    */
  def normalizeNames(df: DataFrame): DataFrame =
    df.toDF(normalizedNames(df.columns.toIndexedSeq): _*)

  /** [[normalizeName]] of every name, failing fast when two collide. */
  def normalizedNames(names: Seq[String]): Seq[String] = {
    val normalized = names.map(normalizeName)
    val dupes = normalized.groupBy(identity).collect {
      case (n, hits) if hits.length > 1 => n
    }
    require(dupes.isEmpty,
      s"normalizeNames: collision after normalization: ${dupes.mkString(", ")}")
    normalized
  }
}
