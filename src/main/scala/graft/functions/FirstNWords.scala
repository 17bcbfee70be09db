package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, Literal, Lower}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Table-generating Catalyst expression (SURVEY.md §7.4, the generator rung
  * of the extension ladder): `first_n_words(text, n)` explodes a document
  * into its first `n` lowercase words as (word, position) rows, positions
  * 1-based.
  *
  * This is the whole-operator-semantics alternative to k3's typed
  * `flatMap`: a native `Generator` plugs into the analyzer's
  * ExtractGenerator rule and executes inside `GenerateExec` — no encoder
  * round-trip (the flatMap deserializes every row to a case class and
  * re-encodes every output), and upstream column pruning still works
  * because the generator declares exactly one required child column.
  *
  * `child` is the LOWERCASED text: the builders wrap the caller's column in
  * Spark's `lower`, so case folding never depends on the JVM's default
  * locale, and the words are the corpus-wide [[Words]] scan — the same
  * rule as `words(lower(text))` and the DuckDB oracle's
  * `string_split_regex`. The scan stops after `n` words.
  */
case class FirstNWords(child: Expression, n: Expression)
    extends Generator with CodegenFallback {

  require(n.foldable, "first_n_words: n must be a foldable integer literal")

  override def children: Seq[Expression] = Seq(child, n)

  override def elementSchema: StructType = new StructType()
    .add("word", StringType, nullable = false)
    .add("position", LongType, nullable = false)

  private lazy val limit: Int = n.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"first_n_words: n must be integral, got $other")
  }

  override def prettyName: String = "first_n_words"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) Nil
    else Words.scan(raw.asInstanceOf[UTF8String], limit).iterator.zipWithIndex
      .map { case (w, i) => InternalRow(w, (i + 1).toLong) }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FirstNWords =
    copy(child = newChildren(0), n = newChildren(1))
}

object FirstNWords {
  /** SQL-registration builder (GraftExtensions / FunctionRegistry). */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"first_n_words expects exactly 2 arguments (text, n), got ${exprs.length}")
    FirstNWords(Lower(exprs.head), exprs(1))
  }

  /** `first_n_words(text, n)` as a Column — use in a select like
    * `explode`; alias the two outputs with `.as(Seq("word", "position"))`. */
  def firstNWords(text: Column, n: Int): Column =
    GraftColumnBridge.column(
      FirstNWords(Lower(GraftColumnBridge.expression(text)), Literal(n)))
}
