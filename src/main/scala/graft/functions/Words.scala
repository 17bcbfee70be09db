package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The corpus-wide tokenizer: `words(s)` returns the maximal `[a-z]` runs
  * of an already-lowercased string, in order (null for null input).
  *
  * It is the native form of `filter(split(s, "[^a-z]+"), x -> x != '')`
  * and of the DuckDB oracle's `string_split_regex(lower(text), '[^a-z]+')`
  * minus its empty tokens. The scan reads UTF-8 bytes: every byte of a
  * multi-byte character is ≥ 0x80, so no byte outside an ASCII letter can
  * fall in `a`–`z`, and non-ASCII letters (é, ß, ı) act as delimiters
  * exactly as they do for the regex. Each word is a copy, never a view of
  * the input buffer.
  */
case class Words(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "words"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(Words.scan(input.asInstanceOf[UTF8String], Int.MaxValue))

  override protected def withNewChildInternal(newChild: Expression): Words =
    copy(child = newChild)
}

object Words {
  /** The first `limit` maximal `[a-z]` runs of `s`; the scan stops there. */
  def scan(s: UTF8String, limit: Int): Array[AnyRef] = {
    val out = new java.util.ArrayList[AnyRef]()
    val n = s.numBytes
    var i = 0
    while (i < n && out.size < limit) {
      while (i < n && !isLetter(s.getByte(i))) i += 1
      val start = i
      while (i < n && isLetter(s.getByte(i))) i += 1
      if (i > start) out.add(s.copyUTF8String(start, i - 1))
    }
    out.toArray
  }

  private def isLetter(b: Byte): Boolean = b >= 'a' && b <= 'z'
}

/** `word_ngrams(ws, n)`: every run of `n` consecutive elements of the
  * string array `ws`, joined by one space, in order — `[]` when
  * `size(ws) < n`, null for a null array. The native form of
  * `transform(sequence(0, size(ws) - n), i -> concat_ws(' ', ws[i], …))`,
  * without the descending-sequence trap that form has for short arrays.
  * Null elements are skipped inside a gram, as `concat_ws` skips them.
  */
case class WordNgrams(ws: Expression, n: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = ws
  override def right: Expression = n

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "word_ngrams"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val k = b.asInstanceOf[Int]
    require(k >= 1, s"word_ngrams: n must be ≥ 1, got $k")
    val m = arr.numElements()
    val elems = Array.tabulate(m)(i => if (arr.isNullAt(i)) null else arr.getUTF8String(i))
    // m < k leaves no window: tabulate of a non-positive count is empty
    new GenericArrayData(Array.tabulate[AnyRef](m - k + 1)(i =>
      UTF8String.concatWs(WordNgrams.space, elems.slice(i, i + k): _*)))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNgrams =
    copy(ws = newLeft, n = newRight)
}

object WordNgrams {
  private val space = UTF8String.fromString(" ")
}

/** `max_multiplicity(xs)`: how many times the most frequent element of a
  * string array occurs (0 for `[]`, null for a null array; null elements
  * are not counted). The native form of the sort + run-length `aggregate`
  * fold that scores a document's most repeated n-gram.
  */
case class MaxMultiplicity(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def prettyName: String = "max_multiplicity"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var best = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val c = counts.merge(arr.getUTF8String(i), 1, Integer.sum(_, _))
        if (c > best) best = c
      }
      i += 1
    }
    best.toLong
  }

  override protected def withNewChildInternal(newChild: Expression): MaxMultiplicity =
    copy(child = newChild)
}

object TextFunctions {

  /** `words(s)` as a Column: the maximal `[a-z]` runs of a lowercased
    * string. Tokenize a document with `words(lower(col("text")))`. */
  def words(s: Column): Column =
    GraftColumnBridge.column(Words(GraftColumnBridge.expression(s)))

  /** `word_ngrams(ws, n)` as a Column: the `n`-word windows of a string
    * array, each joined by one space. */
  def wordNgrams(ws: Column, n: Int): Column =
    GraftColumnBridge.column(WordNgrams(GraftColumnBridge.expression(ws), Literal(n)))

  /** `max_multiplicity(xs)` as a Column: the count of the most frequent
    * element of a string array. */
  def maxMultiplicity(xs: Column): Column =
    GraftColumnBridge.column(MaxMultiplicity(GraftColumnBridge.expression(xs)))
}
