package graft

import graft.functions.TextFunctions.{maxMultiplicity, wordNgrams, words}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the native text kernels: `words`, `word_ngrams`
  * and `max_multiplicity` must return exactly what the interpreted
  * higher-order-function formulations they replaced return. Those
  * formulations live on only here, as the reference. */
class WordsSpec extends AnyFunSuite {
  import TestSpark._

  private val longDoc = Iterator.continually(
    Seq("Alpha", "beta", "gamma42", "délta", "x", "beta", "gamma"))
    .flatten.take(16000).mkString(" ,; ")

  private val texts: Seq[String] = Seq(
    null, "", "  ,,; 123 !! --- ", " leading and trailing ",
    "Digits 42 and punct!!! runs---here 7up", "UPPER Case MiXeD",
    "café straße ıstanbul naïve ÉCOLE", "the cat the cat the cat the cat",
    "a b", "one two three", "one two three four five six seven eight", longDoc)

  private def refWords(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), x => x =!= "")

  /** The inputs read back from parquet (so the kernels see unsafe rows),
    * with both word arrays materialized: a lambda re-evaluates a
    * non-column array argument for every element it visits. */
  private lazy val docs = {
    import spark.implicits._
    val dir = tmpDir("words_spec")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").write.parquet(s"$dir/docs.parquet")
    spark.read.parquet(s"$dir/docs.parquet")
      .select(col("id"), words(lower(col("text"))).as("ws"),
        refWords(col("text")).as("ref_ws"))
      .localCheckpoint()
  }

  private def refGrams(ws: Column, n: Int): Column =
    when(size(ws) >= n, transform(sequence(lit(0), size(ws) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  private def refMaxMultiplicity(xs: Column): Column =
    aggregate(array_sort(xs),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))

  private def assertSame(got: Column, want: Column, what: String): Unit = {
    val rows = docs.select(col("id"), got.as("got"), want.as("want")).collect()
    assert(rows.length == texts.size)
    rows.foreach { r =>
      assert(r.get(1) == r.get(2), s"$what differs on doc ${r.getLong(0)}")
    }
  }

  test("words(lower(x)) matches filter(split(lower(x), '[^a-z]+'), x != '')") {
    assertSame(col("ws"), col("ref_ws"), "words")
    val got = docs.select(col("id"), col("ws")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(got(0L).isEmpty, "null text must give a null array")
    assert(got(1L).contains(Seq.empty) && got(2L).contains(Seq.empty))
    assert(got(6L).contains(Seq("caf", "stra", "e", "stanbul", "na", "ve", "cole")))
    assert(got(11L).get.size > 16000 && longDoc.length > 64 * 1024)
  }

  test("word_ngrams(ws, n) matches the transform(sequence(...)) formulation") {
    val ws = col("ws")
    for (n <- Seq(2, 3, 8))
      assertSame(when(ws.isNotNull, wordNgrams(ws, n)),
        when(ws.isNotNull, refGrams(col("ref_ws"), n)), s"word_ngrams n=$n")
    val got = docs.select(col("id"), wordNgrams(ws, 3)).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(got(0L).isEmpty, "null array must give null")
    assert(got(8L).contains(Seq.empty), "size < n must give []")
    assert(got(9L).contains(Seq("one two three")))
    assert(got(7L).get.count(_ == "the cat the") == 3, "repeats stay in order")
  }

  test("max_multiplicity matches the sort + run-length aggregate fold") {
    val ws = col("ws")
    for (n <- Seq(1, 2, 3)) {
      val grams = if (n == 1) ws else wordNgrams(ws, n)
      assertSame(when(ws.isNotNull, maxMultiplicity(grams)),
        when(ws.isNotNull, refMaxMultiplicity(grams)), s"max_multiplicity n=$n")
    }
  }
}
