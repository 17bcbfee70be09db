package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.J's promised validation for j2_dedup_near_minhash: the
  * LSH-clustered output must recover ≥90% of the EXACT word-3-gram-shingle
  * Jaccard ≥ 0.8 pairs (computed brute-force here at sf0.001 — 500 docs),
  * and must not merge unrelated docs. */
class LshSpec extends AnyFunSuite {
  import TestSpark._

  private def shingles(text: String): Set[Seq[String]] = {
    val ws = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").filter(_.nonEmpty).toSeq
    ws.sliding(3).filter(_.size == 3).map(_.toSeq).toSet
  }

  test("j2: LSH cluster recall >= 0.9 vs exact shingle-Jaccard pairs") {
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
    val ids = docs.keys.toSeq.sorted
    val exactPairs = for {
      i <- ids.indices
      j <- (i + 1) until ids.size
      a = docs(ids(i)); b = docs(ids(j))
      if a.nonEmpty && b.nonEmpty &&
        (a & b).size.toDouble / (a | b).size >= 0.8
    } yield (ids(i), ids(j))
    assert(exactPairs.nonEmpty, "fixture should contain planted near-dups")

    val cluster = SparkEntry.queries("j2_dedup_near_minhash")(spark, sfTiny)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recalled = exactPairs.count { case (a, b) => cluster(a) == cluster(b) }
    val recall = recalled.toDouble / exactPairs.size
    assert(recall >= 0.9, s"recall $recall over ${exactPairs.size} exact pairs")

    // precision sanity: clusters are transitive closures over exact
    // Jaccard >= 0.8 edges, so every doc in a non-trivial cluster must
    // have at least one TRUE near-dup partner inside its cluster (no
    // all-pairs degeneration as in the unigram bug)
    val merged = cluster.toSeq.filter { case (d, c) => d != c }
    val pairSet = exactPairs.toSet
    merged.foreach { case (d, c) =>
      val partner = cluster.exists { case (e, ce) =>
        e != d && ce == c &&
          (pairSet((d min e, d max e)) || {
            val a = docs(d); val b = docs(e)
            a.nonEmpty && b.nonEmpty && (a & b).size.toDouble / (a | b).size >= 0.8
          })
      }
      assert(partner, s"doc $d in cluster $c has no true near-dup in the cluster")
    }
    assert(merged.size < docs.size / 2,
      s"${merged.size} of ${docs.size} docs marked near-dup — degenerate LSH")
  }

  test("l9: prefix-filtered exact Jaccard join == brute-force all-pairs (lossless)") {
    // the AllPairs prefix filter must lose NOTHING: l9's output pair set
    // must equal the brute-force exact >= 0.8 pair set, with the exact
    // Jaccard value, at sf0.001 (500 docs, planted near-dups)
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
    val ids = docs.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices
      j <- (i + 1) until ids.size
      a = docs(ids(i)); b = docs(ids(j))
      common = (a & b).size
      uni = (a | b).size
      if a.nonEmpty && b.nonEmpty && 5L * common >= 4L * uni
    } yield (ids(i), ids(j)) ->
        math.floor(common.toDouble / uni * 1e4 + 0.5) / 1e4).toMap
    assert(brute.nonEmpty, "fixture should contain planted near-dups")
    val l9 = SparkEntry.queries("l9_dedup_ngram_jaccard")(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(l9 == brute,
      s"missing=${(brute.keySet -- l9.keySet).take(5)} " +
        s"extra=${(l9.keySet -- brute.keySet).take(5)}")
  }

  test("j2: chain-shaped clusters close transitively (A~B~C, A≁C)") {
    import spark.implicits._
    // planted chain: 50-token docs shifted by 5 — J(A,B)=J(B,C)=43/53≈0.81
    // (>= 0.8), J(A,C)=38/58≈0.66 (< 0.8); D shares nothing. Tokens must be
    // PURELY alphabetic — the tokenizer splits on [^a-z]+
    def tok(i: Int): String =
      "" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
    def text(from: Int): String = (from until from + 50).map(tok).mkString(" ")
    val dir = Tables.scratch(spark, "lsh_chain_fixture", "docs")
    val texts = Seq((0L, text(0)), (1L, text(5)), (2L, text(10)),
      (99L, (100 until 150).map(tok).mkString(" ")))
    texts.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("j2_dedup_near_minhash")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(0) == (0L, 1L), s"A: ${rows(0)}")     // A~B only
    assert(rows(1) == (0L, 2L), s"B: ${rows(1)}")     // B~A, B~C
    assert(rows(2) == (0L, 1L), s"C: ${rows(2)}")     // C~B, but cluster id = A
    assert(rows(99L) == (99L, 0L), s"D: ${rows(99L)}") // unrelated stays alone
    // n_dups = brute-force count of J >= 0.8 neighbours; A and B share
    // several bands, so the pair must still count once per end
    val sh = texts.map { case (id, txt) => id -> shingles(txt) }
    sh.foreach { case (d, a) =>
      val want = sh.count { case (e, b) =>
        e != d && (a & b).size.toDouble / (a | b).size >= 0.8 }
      assert(rows(d)._2 == want.toLong, s"doc $d: n_dups ${rows(d)._2} != $want")
    }
    val bands = operators.LlmOps.minhashBanded(operators.LlmOps.minhashSigs(spark, dir))
      .collect().groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert((bands(0L) & bands(1L)).size > 1, "A and B should collide in more than one band")
  }
}
