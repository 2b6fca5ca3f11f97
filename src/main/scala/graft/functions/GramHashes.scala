package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** All `width`-token shingle hashes of a document in ONE codegen'd
  * pass over its token array: per token one FNV-1a hash, per shingle
  * a rolling polynomial combine + splitmix finalizer.
  *
  * Why it exists: corpus-wide gram statistics (doc frequency,
  * contamination blocklists) only need gram IDENTITY for their
  * heavy counting pass, yet the composable formulation materializes
  * every shingle as a concat_ws STRING through an interpreted HOF —
  * measured as the dominant cost of the whole operator at 500k docs
  * (the aggregation itself is long-keyed and cheap). This expression
  * keeps the counting pass in primitive longs end to end; strings are
  * derived only for the (minDf-pruned) survivors.
  */
case class GramHashes(child: Expression, width: Int)
    extends UnaryExpression {

  require(width > 0, "width must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // null when the document has fewer than `width` tokens (no shingle)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    GramHashes.compute(input.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val result = ctx.freshName("gh")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $result =
         |  graft.functions.GramHashes.compute($c, $width);
         |if ($result == null) { ${ev.isNull} = true; } else { ${ev.value} = $result; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

object GramHashes {

  /** Static entry shared by interpreted eval and codegen. Returns null
    * when fewer than `width` tokens exist.
    */
  def compute(tokens: ArrayData, width: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < width) return null

    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val u = tokens.getUTF8String(i)
      var h = 0xcbf29ce484222325L
      var b = 0
      val nb = u.numBytes()
      while (b < nb) {
        h = (h ^ (u.getByte(b) & 0xffL)) * 0x100000001b3L
        b += 1
      }
      th(i) = h
      i += 1
    }

    val out = new Array[Long](n - width + 1)
    var s = 0
    val last = n - width
    while (s <= last) {
      var hh = 0L
      var w = 0
      while (w < width) {
        hh = hh * 0x9e3779b97f4a7c15L + th(s + w)
        w += 1
      }
      hh ^= (hh >>> 30); hh *= 0xbf58476d1ce4e5b9L
      hh ^= (hh >>> 27); hh *= 0x94d049bb133111ebL
      hh ^= (hh >>> 31)
      out(s) = hh
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Column API: array of all `width`-token shingle hashes. */
  def gramHashArray(tokens: Column, width: Int): Column =
    ColumnBridge.column(GramHashes(ColumnBridge.expression(tokens), width))
}

/** The distinct `width`-token shingle STRINGS of a document whose
  * hash passes a Bloom filter — gram strings are BUILT only for
  * survivors, in the same single pass that hashes the windows.
  *
  * This is [[GramHashes]]' second half: pass 1 of
  * [[graft.ops.Contamination.gramDocFrequency]] counts the hashes and
  * blooms the minDf survivors; this expression then materializes
  * exactly the surviving grams per document (plus an fpp sliver of
  * stragglers the exact final count discards). The composable
  * formulation paid an interpreted concat_ws for EVERY window of the
  * corpus before any pruning could happen; here a pruned window costs
  * one 64-bit probe and nothing else.
  */
case class SurvivingGrams(child: Expression, width: Int,
                          bloom: Broadcast[BloomFilter])
    extends UnaryExpression {

  require(width > 0, "width must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // null when the document has fewer than `width` tokens (no shingle)
  override def nullable: Boolean = true

  @transient private lazy val filter: BloomFilter = bloom.value

  override def nullSafeEval(input: Any): Any =
    SurvivingGrams.compute(input.asInstanceOf[ArrayData], width, filter)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfClass = classOf[BloomFilter].getName
    val ref = ctx.addReferenceObj("survBloomBc", bloom, classOf[Broadcast[_]].getName)
    // resolved ONCE per task, not per row
    val local = ctx.addMutableState(bfClass, "survBloom",
      v => s"$v = ($bfClass) $ref.value();")
    val result = ctx.freshName("sg")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $result =
         |  graft.functions.SurvivingGrams.compute($c, $width, $local);
         |if ($result == null) { ${ev.isNull} = true; } else { ${ev.value} = $result; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SurvivingGrams =
    copy(child = newChild)
}

/** The (position, gram string) pairs of a document's windows whose
  * hash passes a Bloom filter — [[SurvivingGrams]]' POSITIONAL twin
  * for span-level operators ([[graft.ops.SpanScrub]]): span masking
  * needs WHERE the surviving windows sit, not just which grams
  * survived, so this keeps every surviving window (no dedup) tagged
  * with its 1-based start position. Same single pass, same hash
  * family; a pruned window costs one 64-bit probe and nothing else.
  */
case class SurvivingGramPositions(child: Expression, width: Int,
                                  bloom: Broadcast[BloomFilter])
    extends UnaryExpression {

  require(width > 0, "width must be positive")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sh", StringType, nullable = false))),
    containsNull = false)

  // null when the document has fewer than `width` tokens (no shingle)
  override def nullable: Boolean = true

  @transient private lazy val filter: BloomFilter = bloom.value

  override def nullSafeEval(input: Any): Any =
    SurvivingGrams.computePositions(input.asInstanceOf[ArrayData], width, filter)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfClass = classOf[BloomFilter].getName
    val ref = ctx.addReferenceObj("survPosBloomBc", bloom,
      classOf[Broadcast[_]].getName)
    val local = ctx.addMutableState(bfClass, "survPosBloom",
      v => s"$v = ($bfClass) $ref.value();")
    val result = ctx.freshName("sgp")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $result =
         |  graft.functions.SurvivingGrams.computePositions($c, $width, $local);
         |if ($result == null) { ${ev.isNull} = true; } else { ${ev.value} = $result; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): SurvivingGramPositions =
    copy(child = newChild)
}

object SurvivingGrams {

  /** Same hashing as [[GramHashes.compute]]; a window that passes the
    * bloom probe gets its gram string built (UTF8String concat, no JVM
    * String round-trip) and deduplicated in encounter order.
    */
  def compute(tokens: ArrayData, width: Int,
              bloom: BloomFilter): ArrayData = {
    val n = tokens.numElements()
    if (n < width) return null

    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val u = tokens.getUTF8String(i)
      var h = 0xcbf29ce484222325L
      var b = 0
      val nb = u.numBytes()
      while (b < nb) {
        h = (h ^ (u.getByte(b) & 0xffL)) * 0x100000001b3L
        b += 1
      }
      th(i) = h
      i += 1
    }

    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var s = 0
    val last = n - width
    while (s <= last) {
      var hh = 0L
      var w = 0
      while (w < width) {
        hh = hh * 0x9e3779b97f4a7c15L + th(s + w)
        w += 1
      }
      hh ^= (hh >>> 30); hh *= 0xbf58476d1ce4e5b9L
      hh ^= (hh >>> 27); hh *= 0x94d049bb133111ebL
      hh ^= (hh >>> 31)
      if (bloom.mightContainLong(hh)) {
        val parts = new Array[org.apache.spark.unsafe.types.UTF8String](width)
        var j = 0
        while (j < width) { parts(j) = tokens.getUTF8String(s + j); j += 1 }
        seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*))
        ()
      }
      s += 1
    }
    new GenericArrayData(seen.toArray(
      new Array[org.apache.spark.unsafe.types.UTF8String](seen.size)))
  }

  /** [[SurvivingGramPositions]]' kernel: every surviving window as a
    * (1-based pos, gram string) struct, in window order, duplicates
    * kept (positions are the payload).
    */
  def computePositions(tokens: ArrayData, width: Int,
                       bloom: BloomFilter): ArrayData = {
    val n = tokens.numElements()
    if (n < width) return null

    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val u = tokens.getUTF8String(i)
      var h = 0xcbf29ce484222325L
      var b = 0
      val nb = u.numBytes()
      while (b < nb) {
        h = (h ^ (u.getByte(b) & 0xffL)) * 0x100000001b3L
        b += 1
      }
      th(i) = h
      i += 1
    }

    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new java.util.ArrayList[org.apache.spark.sql.catalyst.InternalRow]()
    var s = 0
    val last = n - width
    while (s <= last) {
      var hh = 0L
      var w = 0
      while (w < width) {
        hh = hh * 0x9e3779b97f4a7c15L + th(s + w)
        w += 1
      }
      hh ^= (hh >>> 30); hh *= 0xbf58476d1ce4e5b9L
      hh ^= (hh >>> 27); hh *= 0x94d049bb133111ebL
      hh ^= (hh >>> 31)
      if (bloom.mightContainLong(hh)) {
        val parts = new Array[org.apache.spark.unsafe.types.UTF8String](width)
        var j = 0
        while (j < width) { parts(j) = tokens.getUTF8String(s + j); j += 1 }
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any]((s + 1).toLong,
            org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*))))
        ()
      }
      s += 1
    }
    new GenericArrayData(out.toArray(
      new Array[org.apache.spark.sql.catalyst.InternalRow](out.size)))
  }

  /** Column API: distinct surviving gram strings per document. */
  def survivingGrams(tokens: Column, width: Int,
                     bloom: Broadcast[BloomFilter]): Column =
    ColumnBridge.column(SurvivingGrams(ColumnBridge.expression(tokens), width, bloom))

  /** Column API: (pos, gram) structs of surviving windows per doc. */
  def survivingGramPositions(tokens: Column, width: Int,
                             bloom: Broadcast[BloomFilter]): Column =
    ColumnBridge.column(
      SurvivingGramPositions(ColumnBridge.expression(tokens), width, bloom))

}
