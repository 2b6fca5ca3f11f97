package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
  ExpressionInfo, Literal}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FunctionRegistry bindings for the engine's native expressions and
  * aggregates, so the SQL surface matches the DataFrame surface —
  * `spark.sql("SELECT theta_estimate(theta_sketch_agg(uid)) …")`
  * reaches exactly the same Catalyst nodes as the Column API (same
  * codegen, same partial/final aggregation planning; nothing is
  * duplicated, these are bindings, not implementations). Injected by
  * [[graft.GraftSession]] next to the optimizer rules.
  *
  * Tuning arguments (k, lgK, form) must be LITERALS — they
  * parameterize the operator itself (buffer sizes, codegen constants)
  * and cannot vary per row; a non-literal fails analysis with a
  * message naming the argument.
  *
  * Naming: functions whose natural name is free keep it; the two that
  * would CLOBBER a Spark 4 builtin (`theta_sketch_agg`,
  * `theta_union_agg` — Spark ships its own theta family) register as
  * `graft_theta_sketch_agg` / `graft_theta_union_agg` instead —
  * silently replacing a builtin would change semantics (lgK
  * parameterization) under every existing query in the session.
  * Sketch BYTES are DataSketches-compact on both sides, so the
  * engine's sketches remain readable by either family.
  */
object GraftFunctions {

  private def intLit(fn: String, arg: String)(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal (got $other)")
  }

  private def strLit(fn: String, arg: String)(e: Expression): String =
    e match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a string literal (got $other)")
    }

  private def arity(fn: String, got: Int, want: String): Nothing =
    throw new IllegalArgumentException(
      s"$fn: expected $want arguments, got $got")

  private def fd(name: String, clazz: Class[_])(
      builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, name), builder)

  /** All engine functions, by name. Aggregate builders return the raw
    * AggregateFunction — the analyzer wraps it (preserving DISTINCT /
    * FILTER handling) exactly as for built-ins.
    */
  def register(e: SparkSessionExtensions): Unit = {
    e.injectFunction(fd("kll_sketch_agg", classOf[KllDoublesAgg]) {
      case Seq(x) => KllDoublesAgg(Cast(x, DoubleType), 200)
      case Seq(x, k) =>
        KllDoublesAgg(Cast(x, DoubleType), intLit("kll_sketch_agg", "k")(k))
      case args => arity("kll_sketch_agg", args.length, "1 or 2")
    })
    e.injectFunction(fd("kll_quantile", classOf[KllQuantile]) {
      case Seq(sk, r) => KllQuantile(sk, Cast(r, DoubleType))
      case args => arity("kll_quantile", args.length, "2")
    })
    e.injectFunction(fd("graft_theta_sketch_agg", classOf[ThetaSketchAgg]) {
      case Seq(x) => ThetaSketchAgg(Cast(x, LongType), 12)
      case Seq(x, lgk) =>
        ThetaSketchAgg(Cast(x, LongType),
          intLit("graft_theta_sketch_agg", "lgK")(lgk))
      case args => arity("graft_theta_sketch_agg", args.length, "1 or 2")
    })
    e.injectFunction(fd("graft_theta_union_agg", classOf[ThetaUnionAgg]) {
      case Seq(x) => ThetaUnionAgg(x, 12)
      case Seq(x, lgk) =>
        ThetaUnionAgg(x, intLit("graft_theta_union_agg", "lgK")(lgk))
      case args => arity("graft_theta_union_agg", args.length, "1 or 2")
    })
    e.injectFunction(fd("theta_estimate", classOf[ThetaEstimate]) {
      case Seq(sk) => ThetaEstimate(sk)
      case args => arity("theta_estimate", args.length, "1")
    })
    e.injectFunction(fd("unicode_normalize", classOf[UnicodeNormalize]) {
      case Seq(s) => UnicodeNormalize(s, "NFC")
      case Seq(s, form) =>
        UnicodeNormalize(s, strLit("unicode_normalize", "form")(form))
      case args => arity("unicode_normalize", args.length, "1 or 2")
    })
    e.injectFunction(fd("topk_agg", classOf[TopKPairsAgg]) {
      case Seq(key, id, k) =>
        TopKPairsAgg(Cast(key, LongType), Cast(id, LongType),
          intLit("topk_agg", "k")(k))
      case args => arity("topk_agg", args.length, "3")
    })
  }
}
