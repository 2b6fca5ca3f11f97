package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Rademacher JL projection: k signed sums over an
  * array<long>, the codegen'd twin of the HOF formulation in
  * [[graft.ops.Projection]] — same integer sign formula
  * `(i*2654435761 + j*40503) % 97 % 2` on 1-based indices, so the SQL
  * oracle replays it unchanged. The HOF form pays an interpreted
  * lambda per array element (~26 s for 3.3M x 64→8 at local[32]);
  * this is one static JIT'd loop per row inside whole-stage codegen.
  */
case class RademacherProject(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(v: Any): Any =
    RademacherProject.compute(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RademacherProject.compute($c, $k);")

  override protected def withNewChildInternal(
      newChild: Expression): RademacherProject = copy(child = newChild)
}

object RademacherProject {

  /** Static entry shared by interpreted eval and codegen. */
  def compute(ei: ArrayData, k: Int): ArrayData = {
    val n = ei.numElements()
    val out = new Array[Long](k)
    var j = 1
    while (j <= k) {
      var acc = 0L
      var i = 1
      while (i <= n) {
        val v = ei.getLong(i - 1)
        if ((i.toLong * 2654435761L + j.toLong * 40503L) % 97 % 2 == 0) acc += v
        else acc -= v
        i += 1
      }
      out(j - 1) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Column API over an array<long> (the quantized embedding). */
  def project(ei: Column, k: Int): Column =
    ColumnBridge.column(RademacherProject(ColumnBridge.expression(ei), k))
}
