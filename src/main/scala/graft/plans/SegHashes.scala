package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ExpressionColumns.{column => toColumn, expression => toExpr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Disjoint-window token-segment hashes over a document string, in one
  * compiled pass: `graft_seghash(text, segLen)` returns
  * `array<long>` where element i is
  * `xxhash64(concat_ws(" ", slice(tokens, i*segLen+1, segLen)))` —
  * BIT-IDENTICAL to the declarative chain (tokens = split on U+0020
  * with empties dropped), which the boilerplate detector uses as its
  * segment key (reference scope: repeated-chrome detection over the
  * `documents` table; the reference's pipeline has no native engine to
  * compare — this is the Spark-first shape).
  *
  * Why a custom Expression (same §4.3 rationale as [[DotProduct]] and
  * [[GopherStats]]): the declarative form materializes the full token
  * array per row, then PER SEGMENT a sliced array, a joined string,
  * and a hash — four allocations per 5-token window across the corpus,
  * and q_boilerplate's measured wall is exactly this map phase
  * (~0.3-0.65 s over 125k segments at sf0.1). Here token
  * boundaries are byte offsets into the original UTF8String (a space
  * is the single byte 0x20 in UTF-8, never part of a multibyte
  * sequence, so byte scanning is exact); each segment's joined bytes
  * land in one reusable buffer and hash through Spark's own XXH64 with
  * the xxhash64 seed (42), so the value equals the built-in chain's
  * bit-for-bit (SegHashesSpec pins it).
  *
  * NULL text yields NULL; docs with fewer than segLen tokens yield an
  * empty array (the declarative guard's `size(toks) >= segLen`).
  */
case class SegHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_seghash expects (string, int), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_seghash"

  override protected def nullSafeEval(text: Any, segLen: Any): Any =
    SegHashes.compute(text.asInstanceOf[UTF8String], segLen.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"graft.plans.SegHashes.compute($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SegHashes =
    copy(left = newLeft, right = newRight)
}

object SegHashes {

  /** `graft_seghash(text, segLen)` as a Column, resolved without any function registry. */
  def column(text: Column, segLen: Column): Column =
    toColumn(SegHashes(toExpr(text), toExpr(segLen)))

  private val emptyResult = new GenericArrayData(Array.empty[Long])

  /** The kernel — called from both eval and generated code. One byte
    * scan finds token spans; each complete segLen-window's tokens are
    * joined with single spaces into a reusable buffer and hashed with
    * the xxhash64 seed. Only the hash array is allocated per row.
    */
  def compute(text: UTF8String, segLen: Int): ArrayData = {
    if (segLen <= 0) return emptyResult
    // one flat byte view of the string (getBytes hands back the
    // underlying array when it is exactly aligned, else copies once)
    val all = text.getBytes
    val nBytes = all.length
    // token spans (byte offsets), found in one scan
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < nBytes) {
      // skip spaces (empties dropped, as filter(split) does)
      while (i < nBytes && all(i) == 0x20) i += 1
      if (i < nBytes) {
        val s = i
        while (i < nBytes && all(i) != 0x20) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s; ends(nTok) = i; nTok += 1
      }
    }
    val nSegs = nTok / segLen
    if (nSegs == 0) return emptyResult
    val hashes = new Array[Long](nSegs)
    // reusable join buffer, sized to the largest segment
    var buf = new Array[Byte](64)
    var seg = 0
    while (seg < nSegs) {
      val t0 = seg * segLen
      var need = segLen - 1 // the joining spaces
      var t = t0
      while (t < t0 + segLen) { need += ends(t) - starts(t); t += 1 }
      if (buf.length < need)
        buf = new Array[Byte](java.lang.Integer.highestOneBit(need) * 2)
      var pos = 0
      t = t0
      while (t < t0 + segLen) {
        if (t > t0) { buf(pos) = 0x20; pos += 1 }
        val len = ends(t) - starts(t)
        System.arraycopy(all, starts(t), buf, pos, len)
        pos += len
        t += 1
      }
      hashes(seg) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, need, 42L)
      seg += 1
    }
    new GenericArrayData(hashes)
  }
}
