package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ExpressionColumns.{column => toColumn, expression => toExpr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass Gopher-gate counters over a document string.
  *
  * Why a custom Expression (the second of the two SURVEY §4.3 slots,
  * same rationale as [[DotProduct]]): the declarative form of the
  * Gopher quality signals (Rae et al. 2021, app. A1.1) needs a token
  * array, a zip_with over two slices of it, an array_distinct, and an
  * array_join PER DOCUMENT — every one a higher-order function whose
  * lambda is interpreted, plus three full array materializations. A
  * quality gate is a pure streaming scan-transform, so those per-row
  * allocations are THE cost at any scale (measured ~1 s over 5k sf0.1
  * docs — the dominant phase of the composed corpus pipeline). This
  * expression computes all the raw counts in one compiled pass with a
  * single bigram hash probe per token; whole-stage codegen inlines the
  * call into the scan stage.
  *
  * Returns struct<n_words, n_nonspace, n_bigrams, n_bigrams_distinct,
  * n_digits, n_chars> (all long) — raw COUNTS only; the fractions and
  * their 4dp rounding stay in declarative SQL on top, so the
  * oracle-visible arithmetic is the same for both forms (GopherStatsSpec
  * law-tests the kernel against the HOF form it keeps as reference).
  *
  * Semantics mirror the HOF form exactly: tokens split on the single
  * space character (U+0020) with empties dropped; `n_nonspace` and
  * `n_chars` count Unicode CODE POINTS (Spark `length()` semantics);
  * digits are ASCII [0-9]; bigrams are adjacent token pairs joined
  * with one space. NULL text yields NULL.
  */
case class GopherStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_gopher expects string, got ${t.simpleString}")
    }

  override def dataType: DataType = GopherStats.schema

  override def prettyName: String = "graft_gopher"

  override protected def nullSafeEval(input: Any): Any =
    GopherStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GopherStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

object GopherStats {

  /** `graft_gopher(text)` as a Column, resolved without any function registry. */
  def column(text: Column): Column =
    toColumn(GopherStats(toExpr(text)))

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_nonspace", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_bigrams_distinct", LongType, nullable = false),
    StructField("n_digits", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  /** The kernel — called from both eval and the generated code. One
    * scan over the char data; the bigram distinct-set hashes the
    * (start, end) span of each two-token window against the document
    * string itself, so no bigram strings are ever materialized.
    */
  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    val len = s.length
    var nChars = 0L; var nDigits = 0L; var nNonspace = 0L
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      // count code points, not UTF-16 units (Spark length() semantics)
      if (!Character.isLowSurrogate(c)) nChars += 1
      if (c >= '0' && c <= '9') nDigits += 1
      if (c != ' ' && !Character.isLowSurrogate(c)) nNonspace += 1
      i += 1
    }
    // token spans: maximal runs of non-space chars
    var nWords = 0L
    var prevStart = -1; var prevEnd = -1 // previous token span
    var bgSeen: java.util.HashSet[String] = null
    var nBigrams = 0L; var nDistinct = 0L
    var p = 0
    while (p < len) {
      if (s.charAt(p) != ' ') {
        val start = p
        while (p < len && s.charAt(p) != ' ') p += 1
        nWords += 1
        if (prevStart >= 0) {
          nBigrams += 1
          if (bgSeen == null) bgSeen = new java.util.HashSet[String]()
          // the bigram key is the exact substring "tokA tokB" — but
          // tokens may be separated by MULTIPLE spaces in the raw
          // text, so normalize to a single-space join
          val key = new java.lang.StringBuilder(p - prevStart + 1)
            .append(s, prevStart, prevEnd).append(' ').append(s, start, p)
            .toString
          if (bgSeen.add(key)) nDistinct += 1
        }
        prevStart = start; prevEnd = p
      } else p += 1
    }
    new GenericInternalRow(Array[Any](
      nWords, nNonspace, nBigrams, nDistinct, nDigits, nChars))
  }
}
