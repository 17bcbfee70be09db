package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** k2's Aggregator must be partial-merge correct: the result cannot depend
  * on how rows are split across shuffle partitions (exact decimal sums
  * make the merge associative and order-independent). */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("k2: weighted mean is invariant to input partitioning") {
    val wm = udaf(graft.operators.Extensions.WeightedMean)
    val li = graft.Tables.t(spark, sfTiny, "lineitem")
      .select("l_returnflag", "l_extendedprice", "l_quantity")
    def run(parts: Int) = li.repartition(parts)
      .groupBy("l_returnflag")
      .agg(wm(col("l_extendedprice"), col("l_quantity")).as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(run(1) == run(7))
  }

  test("k1/k3/k4 smoke on sf0.001") {
    Seq("k1_udf_scalar", "k3_udtf_generator", "k4_typed_dataset").foreach { k =>
      assert(SparkEntry.queries(k)(spark, sfTiny).count() > 0, k)
    }
  }

  test("k3: native Generator matches the typed flatMap it replaced, row for row") {
    import spark.implicits._
    // the r6 formulation k3 shipped with before the FirstNWords rewrite —
    // kept HERE as the differential baseline: same tokenizer, same limit,
    // same 1-based positions, via the encoder round-trip the Generator
    // avoids
    val flat = graft.Tables.t(spark, sfTiny, "documents")
      .select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        text.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").iterator
          .filter(_.nonEmpty).take(5).zipWithIndex
          .map { case (w, i) => (id, w, (i + 1).toLong) }
      }
      .toDF("doc_id", "word", "position")
      .orderBy("doc_id", "position")
      .collect().map(_.toSeq).toSeq
    val gen = SparkEntry.queries("k3_udtf_generator")(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(gen == flat,
      s"Generator diverges from flatMap baseline: ${gen.size} vs ${flat.size} rows")
  }

  test("k3: tokenization does not depend on the JVM's default locale") {
    import spark.implicits._
    // under tr_TR, String.toLowerCase maps 'I' to dotless 'ı', which the
    // [a-z] rule treats as a delimiter; Spark's lower and the DuckDB
    // oracle both give plain 'i'
    val dir = tmpDir("k3_locale")
    Seq((1L, "TITLE INDIGO Is Here", "en", "src0", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      val got = SparkEntry.queries("k3_udtf_generator")(spark, dir)
        .collect().map(r => r.getString(1)).toSeq
      assert(got == Seq("title", "indigo", "is", "here"), s"k3 under tr_TR: $got")
    } finally java.util.Locale.setDefault(saved)
  }

  test("k3: plans through GenerateExec and prunes the scan to doc_id/text") {
    // string pin (the PlanShapeSpec idiom): the AQE wrapper hides the
    // subtree from SparkPlan.collect, but the rendered plan shows it.
    // "Generate first_n_words(" is GenerateExec running our expression.
    val exec = SparkEntry.queries("k3_udtf_generator")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(exec.contains("Generate first_n_words("),
      s"no GenerateExec running first_n_words:\n$exec")
    // the generator declares one required child column, so upstream
    // pruning must reach the parquet scan: doc_id + text, nothing else
    assert(exec.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"documents scan not pruned to doc_id/text:\n$exec")
  }

  test("l37 kernel: jaro_winkler matches DuckDB's pinned values bit-for-bit") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def jw(a: String, b: String) = graft.functions.JaroWinkler.similarity(u(a), u(b))
    // every case probed against DuckDB 1.0's jaro_winkler_similarity
    // (full 16-digit reprs); they pin the classic-JW corner semantics:
    // prefix boost + cap, 0.7 boost threshold, integer-halved
    // transpositions, zero-match and empty-input behavior
    val pinned = Seq(
      ("martha", "marhta") -> 0.9611111111111111, // boost, prefix 3
      ("dixon", "dicksonx") -> 0.8133333333333332, // boost, prefix 2
      ("jellyfish", "smellyfish") -> 0.8962962962962964, // >0.7, prefix 0
      ("crate", "trace") -> 0.7333333333333334, // >0.7 but prefix 0
      ("ab", "ac") -> 0.6666666666666666, // ≤0.7: no boost
      ("aaaaaab", "aaaaaac") -> 0.9428571428571428, // prefix capped at 4
      ("abcdefgh", "abcdefgx") -> 0.95, // prefix cap again
      ("abcdef", "bcadef") -> 0.9444444444444445, // t = 3 mismatches / 2 = 1
      ("aabbcc", "bbaacc") -> 0.8888888888888888, // t = 2
      ("dwayne", "duane") -> 0.8400000000000001,
      ("abc", "abc") -> 1.0,
      ("a", "a") -> 1.0,
      ("ab", "ba") -> 0.0, // window 0 → no matches
      ("", "abc") -> 0.0,
      ("", "") -> 0.0) // DuckDB: empty-empty is 0, not 1
    pinned.foreach { case ((a, b), want) =>
      assert(jw(a, b) == want, s"jw($a, $b) = ${jw(a, b)}, want $want")
      assert(jw(b, a) == want, s"symmetry broken for ($a, $b)")
    }
  }

  test("k10: the V2 scalar function dispatches through its magic method inside codegen") {
    // the POINT of the magic method over produceResult: the engine
    // plans an Invoke of the primitive-typed method (no per-row
    // InternalRow boxing) and it stays inside whole-stage codegen —
    // pin it from the executed plan so a silent fallback to the
    // interpreted ApplyFunctionExpression path is caught
    Tables.catalog(spark, "graft_fn", classOf[graft.functions.GraftFunctionCatalog])
    import spark.implicits._
    val df = Seq((54L, 24L), (7L, 0L), (0L, 0L), (-8L, 12L)).toDF("a", "b")
    df.createOrReplaceTempView("k10_probe")
    // corner semantics (a literal frame constant-folds — values only)
    val q = spark.sql("SELECT a, b, graft_fn.math.gcd(a, b) AS g FROM k10_probe")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((54L, 24L, 6L), (7L, 0L, 7L), (0L, 0L, 0L), (-8L, 12L, 4L)),
      "gcd corner semantics (identity, zero, negatives) broke")
    // plan pin on a non-foldable source: range() keeps the projection live
    val live = spark.sql(
      "SELECT id, graft_fn.math.gcd(id * 6L + 54L, 24L) AS g FROM range(4)")
    val plan = live.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("invoke"),
      s"gcd did not plan as a magic-method Invoke:\n$plan")
    // the compact rendering marks codegen'd nodes with a "*(n)" prefix
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.startsWith("*(")),
      s"gcd's projection fell out of whole-stage codegen:\n$plan")
    assert(live.orderBy("id").collect().map(_.getLong(1)).toSeq
      == Seq(6L, 12L, 6L, 24L))
    // the V2 aggregate merges partials across a real shuffle
    val agg = spark.sql(
      "SELECT graft_fn.math.gcd_agg(a * 30L) AS g FROM k10_probe")
      .head().getLong(0)
    assert(agg == 30L, s"gcd_agg over {1620, 210, 0, -240} must be 30, got $agg")
  }
}
