package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** SURVEY §5 layer-2 property tests (seeded-random, no framework bridge in
  * the offline cache): the custom kernels must agree with straightforward
  * reference implementations on arbitrary inputs. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  test("FloatDotProduct == sequential double dot product on random vectors") {
    val rnd = new Random(42)
    (1 to 25).foreach { _ =>
      val n = 1 + rnd.nextInt(16)
      val a = List.fill(n)(rnd.nextFloat() * 20f - 10f)
      val b = List.fill(n)(rnd.nextFloat() * 20f - 10f)
      val expected = a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
        s + x.toDouble * y.toDouble
      }
      val df = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(a, b)),
        StructType(Seq(
          StructField("a", ArrayType(FloatType)),
          StructField("b", ArrayType(FloatType)))))
      val got = df.select(
        graft.functions.VectorFunctions.floatDot(col("a"), col("b")).as("d"))
        .head().getDouble(0)
      assert(got == expected, s"a=$a b=$b")
    }
  }

  test("Md5Low64 == the SQL conv(substr(md5)) chain and an independent MessageDigest fold") {
    import spark.implicits._
    val rnd = new Random(42)
    // random strings incl. empty, unicode, and long — the l1 token domain
    // plus its edges
    val samples = Seq("", "a", "zz", "Ünïcode-ø", "x" * 300) ++
      List.fill(200)(rnd.alphanumeric.take(1 + rnd.nextInt(20)).mkString)
    val df = samples.toDF("s")
    val rows = df.select(col("s"),
        graft.functions.Md5Low64.md5Low64(col("s")).as("native"),
        expr("CAST(conv(substr(md5(s), 17, 16), 16, -10) AS BIGINT)").as("chain"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"'${r.getString(0)}': native=${r.getLong(1)} chain=${r.getLong(2)}")
      // independent reference: bytes 8..15 of a fresh digest, big-endian
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getString(0).getBytes("UTF-8"))
      val ref = (8 until 16).foldLeft(0L)((v, i) => (v << 8) | (dig(i) & 0xFFL))
      assert(r.getLong(1) == ref, s"'${r.getString(0)}' vs MessageDigest")
    }
  }

  test("JaroWinkler kernel == an independent reference implementation on random strings") {
    // reference written the slow, obvious way (full boolean matrices,
    // collection ops) — a genuinely different code path from the
    // array-walking production kernel
    def ref(a: String, b: String): Double = {
      val (s1, s2) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      if (s1.isEmpty || s2.isEmpty) return 0.0
      val w = math.max(math.max(s1.length, s2.length) / 2 - 1, 0)
      val used = scala.collection.mutable.Set.empty[Int]
      val pairs = s1.indices.flatMap { i =>
        ((i - w) to (i + w)).find(j =>
          j >= 0 && j < s2.length && !used(j) && s1(i) == s2(j))
          .map { j => used += j; (i, j) }
      }
      if (pairs.isEmpty) return 0.0
      val m = pairs.size.toDouble
      // transpositions: compare matched byte sequences in each side's
      // positional order; half the mismatch count, integer-floored
      val seq1 = pairs.map(p => s1(p._1))
      val seq2 = pairs.sortBy(_._2).map(p => s2(p._2))
      val mism = seq1.zip(seq2).count { case (x, y) => x != y }
      val jaro = (m / s1.length + m / s2.length + (m - mism / 2) / m) / 3.0
      if (jaro <= 0.7) jaro
      else {
        val l = s1.zip(s2).take(4).takeWhile { case (x, y) => x == y }.size
        jaro + l * 0.1 * (1.0 - jaro)
      }
    }
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val rnd = new Random(1337)
    val alphabet = "abcde" // small alphabet → dense matches/transpositions
    (1 to 500).foreach { _ =>
      val a = List.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(5))).mkString
      val b = List.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(5))).mkString
      val got = graft.functions.JaroWinkler.similarity(u(a), u(b))
      val want = ref(a, b)
      assert(got == want, s"jw($a, $b): kernel=$got ref=$want")
    }
  }

  /** Labels `connectedComponents` gives the graph on ids 0 until n with
    * `edges`, checked against driver-side union-find with min-root merging
    * (which labels every component by its min member, as the kernel must).
    * Returns the kernel's round count. */
  private def componentsMatchUnionFind(n: Int, edges: Seq[(Long, Long)]): Int = {
    import spark.implicits._
    val parent = scala.collection.mutable.ArrayBuffer.range(0L, n.toLong)
    def find(x: Long): Long = {
      var r = x
      while (parent(r.toInt) != r) r = parent(r.toInt)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent((ra max rb).toInt) = ra min rb
    }
    val expected = (0L until n).map(i => i -> find(i)).toMap
    val (labels, rounds) = operators.LlmOps.connectedComponents(
      (0L until n).toDF("doc_id"), edges.toDF("a_id", "b_id"))
    val rows = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == n && rows.toMap == expected, s"n=$n edges=${edges.take(40)}")
    rounds
  }

  /** A seeded family of five sparse random graphs with the occasional
    * chain, each fed as generated (either orientation, self-pairs,
    * duplicates) and as the symmetric list j2/l1/l12 pass. */
  private def randomGraphsMatchUnionFind(seed: Int): Unit = {
    val rnd = new Random(seed)
    (1 to 5).foreach { _ =>
      val n = 5 + rnd.nextInt(30)
      val edges = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        (0 until rnd.nextInt(4)).map(i => (i.toLong, (i + 1).toLong))
      componentsMatchUnionFind(n, edges)
      componentsMatchUnionFind(n, (edges ++ edges.map(_.swap)).distinct)
    }
  }

  test("connectedComponents == union-find connected components on random graphs") {
    randomGraphsMatchUnionFind(13)
  }

  test("connectedComponents == union-find on a second seed and every 5-node path order") {
    randomGraphsMatchUnionFind(29)
    // every id order of a 5-node path, one per reversal pair: on some of
    // them large-star reaches its fixpoint a round before small-star does,
    // so the convergence test must count small-star's rewiring too
    (0L until 5).permutations.filter(p => p.head < p.last).foreach { p =>
      componentsMatchUnionFind(5, p.zip(p.tail))
    }
  }

  test("connectedComponents: paths and clique chains converge in ≤ 2·⌈log₂ n⌉ rounds") {
    // Shapes whose component diameter grows with n. Min-label propagation
    // needs a round per hop; pointer doubling halves the hops only when
    // ids increase along the path, so shuffled ids defeat it. Large-star /
    // small-star stays within the bound whatever the id order.
    def shuffled(n: Int, edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val perm = new Random(2).shuffle((0L until n).toVector)
      edges.map { case (a, b) => (perm(a.toInt), perm(b.toInt)) }
    }
    def path(n: Int) = (0L until n - 1).map(i => (i, i + 1))
    // 32 five-node cliques, clique c's last node linked to clique c+1's first
    val cliqueChain = (0 until 32).flatMap { c =>
      val b = c * 5L
      (for (i <- 0 until 5; j <- i + 1 until 5) yield (b + i, b + j)) ++
        (if (c < 31) Seq((b + 4, b + 5)) else Nil)
    }
    Seq(
      ("ordered 256-node path", 256, path(256)),
      ("shuffled 1024-node path", 1024, shuffled(1024, path(1024))),
      ("shuffled chain of 32 five-cliques", 160, shuffled(160, cliqueChain))
    ).foreach { case (name, n, edges) =>
      val rounds = componentsMatchUnionFind(n, edges)
      val bound = 2 * (32 - Integer.numberOfLeadingZeros(n - 1)) // 2·⌈log₂ n⌉
      assert(rounds <= bound, s"$name: $rounds rounds > $bound")
    }
  }

  test("l13 packing == sequential reference packer on random corpora") {
    val rnd = new Random(99)
    import spark.implicits._
    (1 to 4).foreach { iter =>
      val n = 20 + rnd.nextInt(80)
      val docs = (0 until n).map { i =>
        val words = 1 + rnd.nextInt(40)
        val text = List.fill(words)("w" + rnd.nextInt(50)).mkString(" ")
        (i.toLong, s"src${rnd.nextInt(4)}", text, "en", text.length.toLong)
      }
      // driver-side reference: running offset per source in doc_id order
      val expected = docs.groupBy(_._2).flatMap { case (_, ds) =>
        var off = 0L
        ds.sortBy(_._1).map { case (id, src, text, _, _) =>
          val nt = text.split("\\s+").count(_.nonEmpty).toLong
          val seq = off / 512
          val nSeqs = (off + math.max(nt, 1L) - 1) / 512 - seq + 1
          val row = (src, id, nt, off, seq, nSeqs)
          off += nt
          row
        }
      }.toSet
      val dir = Tables.scratch(spark, iter.toString, "packtest")
      docs.toDF("doc_id", "source", "text", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("l13_pack_sequences")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .toSet
      assert(got == expected, s"n=$n iter=$iter")
    }
  }

  test("e7's closed-form ntile/percent_rank/cume_dist == Spark's window fns") {
    val rnd = new Random(7)
    (1 to 6).foreach { _ =>
      val n = 4 + rnd.nextInt(40)
      import spark.implicits._
      val df = (1 to n).map(i => (i.toLong, rnd.nextInt(n).toDouble))
        .toDF("c_custkey", "c_acctbal")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val builtin = df.select(col("c_custkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 4).as("pr"),
          round(cume_dist().over(w), 4).as("cd"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      // drive the e7 operator over the same data via a scratch table dir
      val dir = Tables.scratch(spark, n.toString, "proptest")
      df.write.mode("overwrite").parquet(s"$dir/customer.parquet")
      val ours = SparkEntry.queries("e7_win_distribution")(spark, dir)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      assert(ours == builtin, s"n=$n")
    }
  }

  test("l19: chunks tile every doc — dense ids, stride starts, full bodies, covered tail") {
    // invariants the DuckDB oracle CANNOT check (both engines share the
    // chunk-count formula, so a shared off-by-one would hash-match):
    // chunk ids dense from 0; starts at exact stride multiples; every
    // non-final chunk is a FULL 64 tokens (so consecutive chunks overlap
    // by exactly 8 and no token is skipped); the final chunk ends exactly
    // at the doc's token count (tail covered, no overhang)
    val rows = SparkEntry.queries("l19_chunk_overlap")(spark, sfTiny).collect()
    val nToks = graft.Tables.t(spark, sfTiny, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = rows.groupBy(_.getLong(0)).map { case (id, cs) =>
      val sorted = cs.sortBy(_.getLong(1))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i, s"doc $id: chunk ids not dense")
        assert(r.getLong(2) == i * 56L, s"doc $id: start not at stride multiple")
      }
      sorted.init.foreach(r =>
        assert(r.getLong(3) == 64L, s"doc $id: non-final chunk not full"))
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) == nToks(id),
        s"doc $id: tail not covered exactly (${last.getLong(2)}+${last.getLong(3)} != ${nToks(id)})")
      sorted.length
    }
    assert(multi.exists(_ >= 2), "fixture never split a doc — invariants vacuous")
  }

  test("l29 CDC dedup invariants on random corpora: exact copy ⇒ all-dup, disjoint vocab ⇒ no-dup") {
    // Random-input invariants of the content-defined chunker that the
    // fixed fixtures can't sweep: (1) a byte-identical copy of a doc has
    // EVERY chunk flagged dup (boundaries are content-defined, so the
    // copy chunks identically and the original owns every canonical);
    // (2) docs built of DISTINCT tokens from pairwise-DISJOINT alphabets
    // can never repeat a chunk — within a doc (distinct tokens ⇒ chunks
    // hold disjoint token sets) or across docs (disjoint alphabets) —
    // so their n_dup is 0; (3) accounting: 1 ≤ n_chunks and
    // 0 ≤ n_dup ≤ n_chunks. (Sampling WITH replacement is deliberately
    // avoided: an intra-doc chunk repeat is a REAL duplicate — the first
    // draft of this test generated one and correctly failed.) Doc ids
    // 0–3 all sit outside the md5 boilerplate-plant gate (first hex of
    // md5("0".."3") ≥ '8'), so the texts compared are exactly the texts
    // written.
    val s = spark
    import s.implicits._
    val rnd = new Random(7)
    // 3 disjoint 40-token alphabets: prefix × two-letter suffix (letters
    // only — digits would vanish in the [a-z]+ tokenizer)
    val alphabets = Seq("k", "m", "z").map { p =>
      (for (a <- 'a' to 'h'; b <- 'a' to 'e') yield s"$p$a$b").toSeq
    }
    (1 to 3).foreach { iter =>
      def doc(ab: Seq[String], n: Int): String =
        rnd.shuffle(ab).take(n).mkString(" ") // distinct tokens
      val d0 = doc(alphabets(0), 20 + rnd.nextInt(20))
      val fixture = Seq(
        (0L, d0, "en"), (1L, d0, "en"), // byte-identical copy
        (2L, doc(alphabets(1), 20 + rnd.nextInt(20)), "en"),
        (3L, doc(alphabets(2), 20 + rnd.nextInt(20)), "en"))
      val dir = TestSpark.tmpDir(s"graft_l29_prop_$iter")
      fixture.toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = SparkEntry.queries("l29_dedup_cdc_chunks")(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      out.foreach { case (id, (nc, nd)) =>
        assert(nc >= 1 && nd >= 0 && nd <= nc, s"iter $iter doc $id: $nc/$nd")
      }
      assert(out(1L)._2 == out(1L)._1,
        s"iter $iter: the byte-identical copy must be ALL dup chunks: ${out(1L)}")
      assert(out(0L)._2 == 0, s"iter $iter: the original owns every canonical")
      assert(out(2L)._2 == 0 && out(3L)._2 == 0,
        s"iter $iter: disjoint-alphabet docs cannot share a chunk: $out")
    }
  }

  test("MergeSql == driver-side reference merge on random target/source pairs") {
    // the lowered MERGE (parse → full-outer join + CASE trees) must agree
    // with a straightforward per-key Scala model on arbitrary inputs:
    // conditional update, conditional delete, insert, and keep-by-default
    // paths all exercised by the random value mix
    val rnd = new Random(2024)
    import spark.implicits._
    (1 to 8).foreach { iter =>
      val tgtKeys = rnd.shuffle((0L until 20L).toList).take(5 + rnd.nextInt(10))
      val srcKeys = rnd.shuffle((0L until 20L).toList).take(5 + rnd.nextInt(10))
      val tgt = tgtKeys.map(k => k -> (rnd.nextInt(100).toLong - 50L)).toMap
      val src = srcKeys.map(k => k -> (rnd.nextInt(100).toLong - 50L)).toMap
      tgt.toSeq.toDF("k", "v").createOrReplaceTempView("ms_prop_t")
      src.toSeq.toDF("k", "v").createOrReplaceTempView("ms_prop_s")
      val got = plans.MergeSql.mergeResult(spark,
        """MERGE INTO ms_prop_t AS t USING ms_prop_s AS s ON t.k = s.k
           WHEN MATCHED AND s.v < 0 THEN DELETE
           WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
           WHEN NOT MATCHED AND s.v >= 0 THEN INSERT (k, v) VALUES (s.k, s.v)""")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected =
        tgt.flatMap { case (k, tv) =>
          src.get(k) match {
            case Some(sv) if sv < 0 => None // DELETE
            case Some(sv) if sv > tv => Some(k -> sv) // conditional UPDATE
            case _ => Some(k -> tv) // matched-no-action or unmatched: keep
          }
        } ++ src.collect {
          case (k, sv) if !tgt.contains(k) && sv >= 0 => k -> sv // INSERT
        }
      assert(got == expected, s"iter $iter: tgt=$tgt src=$src")
    }
  }

  test("l43 bpeMerges == naive reference BPE on random corpora") {
    // the trainer (collected word histogram → in-memory rounds) must
    // agree with a straightforward sequential BPE — same
    // (freq DESC, pair lex) tie-break, same greedy left-to-right merge
    // application — on arbitrary word mixes, including corpora that
    // EXHAUST (fully merge) before the round budget
    def applyMerge(v: Vector[String], l: String, r: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var i = 0
      while (i < v.length) {
        if (i + 1 < v.length && v(i) == l && v(i + 1) == r) { b += (l + r); i += 2 }
        else { b += v(i); i += 1 }
      }
      b.result()
    }
    def refBpe(words: Seq[(String, Int)], rounds: Int): Seq[(Int, String, String, Long)] = {
      var syms = words.map { case (w, c) => (w.split("").toVector :+ "#", c.toLong) }
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var r = 1
      var done = false
      while (r <= rounds && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((s, c) <- syms; i <- 0 until s.length - 1)
          counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + c
        if (counts.isEmpty) done = true
        else {
          val ((l, rt), f) = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
          out += ((r, l, rt, f))
          syms = syms.map { case (s, c) => (applyMerge(s, l, rt), c) }
          r += 1
        }
      }
      out.result()
    }
    val rnd = new Random(4242)
    import spark.implicits._
    (1 to 10).foreach { iter =>
      val alphabet = "abc"
      val nWords = 3 + rnd.nextInt(4)
      val words = (1 to nWords).map { _ =>
        val len = 1 + rnd.nextInt(5)
        (1 to len).map(_ => alphabet(rnd.nextInt(3))).mkString
      }.distinct.map(w => w -> (1 + rnd.nextInt(9)))
      val toks = words.flatMap { case (w, c) => Seq.fill(c)(w) }.toDF("term")
      val got = graft.operators.TrainOps.bpeMerges(spark, toks, 6)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val want = refBpe(words, 6)
      assert(got == want, s"iter $iter: words=$words got=$got want=$want")
    }
  }

  test("l42 pageRankInt == naive sequential power iteration on random graphs") {
    // the distributed kernel (join + groupBy per round) and a plain
    // Scala loop must produce BIT-identical integer ranks — the whole
    // point of the micro-unit quantization: no float order-dependence,
    // same rounding leak, same dangling-mass behaviour
    val rnd = new Random(77)
    import spark.implicits._
    (1 to 6).foreach { iter =>
      val n = 6 + rnd.nextInt(7)
      val edges = (for {
        s0 <- 0L until n
        _ <- 1 to (1 + rnd.nextInt(3))
      } yield (s0, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val nodesDf = (0L until n).toDF("doc_id")
      val edgesDf = edges.toDF("src", "dst")
      val got = graft.operators.TrainOps.pageRankInt(nodesDf, edgesDf, rounds = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference
      val mass = 1000000000L
      val od = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      var ranks = (0L until n).map(_ -> mass / n).toMap
      for (_ <- 1 to 5) {
        val inflow = scala.collection.mutable.Map.empty[Long, Long]
        for ((s0, d0) <- edges)
          inflow(d0) = inflow.getOrElse(d0, 0L) + ranks(s0) / od(s0)
        ranks = (0L until n).map { v =>
          v -> (mass * 15 / 100 / n + inflow.getOrElse(v, 0L) * 85 / 100)
        }.toMap
      }
      assert(got == ranks, s"iter $iter n=$n edges=$edges")
    }
  }

  test("e12 interpolation == sequential reference on random gappy series") {
    // the window formulation (last/first IGNORE NULLS over trailing/
    // leading frames) must agree with a straightforward scan-and-bridge
    // reference: interior gaps bridged linearly by event time, edge gaps
    // (no neighbor on one side) NULL, observed points passed through
    val rnd = new Random(99)
    import spark.implicits._
    (1 to 6).foreach { iter =>
      val n = 8 + rnd.nextInt(10)
      // strictly increasing event-times with irregular spacing
      var tAcc = 0L
      val rows = (0 until n).map { i =>
        tAcc += 1L + rnd.nextInt(100)
        val v = if (rnd.nextInt(3) == 0) None else Some(rnd.nextInt(1000) / 10.0)
        (i.toLong, tAcc, v)
      }
      val got = rows.toDF("id", "ts_us", "gappy")
        .withColumn("pv", last(col("gappy"), ignoreNulls = true).over(
          org.apache.spark.sql.expressions.Window.orderBy("ts_us")
            .rowsBetween(Long.MinValue, -1)))
        .withColumn("pt", last(when(col("gappy").isNotNull, col("ts_us")),
          ignoreNulls = true).over(
          org.apache.spark.sql.expressions.Window.orderBy("ts_us")
            .rowsBetween(Long.MinValue, -1)))
        .withColumn("nv", first(col("gappy"), ignoreNulls = true).over(
          org.apache.spark.sql.expressions.Window.orderBy("ts_us")
            .rowsBetween(1, Long.MaxValue)))
        .withColumn("nt", first(when(col("gappy").isNotNull, col("ts_us")),
          ignoreNulls = true).over(
          org.apache.spark.sql.expressions.Window.orderBy("ts_us")
            .rowsBetween(1, Long.MaxValue)))
        .select(col("id"),
          when(col("gappy").isNotNull, col("gappy"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (col("ts_us") - col("pt")) / (col("nt") - col("pt"))).as("filled"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      // sequential reference
      val want = rows.zipWithIndex.map { case ((id, ts, v), i) =>
        id -> (v match {
          case Some(x) => Some(x)
          case None =>
            val prev = rows.take(i).reverse.find(_._3.isDefined)
            val next = rows.drop(i + 1).find(_._3.isDefined)
            (prev, next) match {
              case (Some((_, pt, Some(pv))), Some((_, nt, Some(nv)))) =>
                Some(pv + (nv - pv) * (ts - pt) / (nt - pt))
              case _ => None
            }
        })
      }.toMap
      assert(got == want, s"iter $iter rows=$rows")
    }
  }

  test("l46 dup-span fraction == sequential 8-gram reference on planted-duplicate corpora") {
    val rnd = new Random(46)
    import spark.implicits._
    (1 to 3).foreach { iter =>
      // planted structure: some docs verbatim-duplicated (dup_frac must be
      // 1.0 when ≥8 tokens), some built from globally-unique tokens
      // (dup_frac 0.0), the rest random over a small shared vocab
      val base = (0 until 30).map { i =>
        val words = 3 + rnd.nextInt(30)
        (i.toLong, List.fill(words)("w" + rnd.nextInt(40)).mkString(" "))
      }
      val dups = base.take(6).zipWithIndex.map { case ((_, t), k) => (100L + k, t) }
      // letters-only tokens (the tokenizer splits on [^a-z]+ — digits
      // would collapse all "unique" tokens to the same stem, the exact
      // trap perfbench/corpus.py's clone_suffix comment records)
      val uniq = (0 until 4).map { k =>
        (200L + k, (0 until 12).map(j =>
          s"zq${('a' + iter).toChar}${('a' + k).toChar}${('a' + j).toChar}qz")
          .mkString(" "))
      }
      val docs = (base ++ dups ++ uniq).map { case (id, t) =>
        (id, "src0", t, "en", t.length.toLong)
      }
      val dir = Tables.scratch(spark, iter.toString, "l46test")
      docs.toDF("doc_id", "source", "text", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // sequential reference
      val toks = docs.map { case (id, _, t, _, _) =>
        id -> t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq
      }
      val gramsOf = toks.map { case (id, w) =>
        id -> (if (w.size >= 8) w.sliding(8).map(_.mkString(" ")).toSeq else Seq.empty)
      }.toMap
      val docCount = gramsOf.toSeq.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
      val expected = gramsOf.collect { case (id, gs) if gs.nonEmpty =>
        val nDup = gs.count(g => docCount(g) >= 2).toLong
        val frac = math.floor(nDup.toDouble / gs.size * 1e4 + 0.5) / 1e4
        (id, gs.size.toLong, nDup, frac, frac >= 0.30)
      }.toSet
      val got = SparkEntry.queries("l46_dup_span_fraction")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getBoolean(4))).toSet
      assert(got == expected, s"iter=$iter")
      // the planted invariants, stated directly
      dups.foreach { case (id, t) =>
        if (t.toLowerCase.split("[^a-z]+").count(_.nonEmpty) >= 8)
          assert(got.exists(r => r._1 == id && r._4 == 1.0),
            s"verbatim duplicate $id must score 1.0")
      }
      uniq.foreach { case (id, _) =>
        assert(got.exists(r => r._1 == id && r._4 == 0.0),
          s"globally-unique doc $id must score 0.0")
      }
    }
  }

  test("l45 interpolated bigram xent == sequential reference on random corpora") {
    val rnd = new Random(45)
    import spark.implicits._
    (1 to 3).foreach { iter =>
      val docs = (0 until 25).map { i =>
        val words = 2 + rnd.nextInt(25)
        (i.toLong, "src0",
          List.fill(words)("w" + rnd.nextInt(12)).mkString(" "), "en", 0L)
      }
      val dir = Tables.scratch(spark, iter.toString, "l45test")
      docs.toDF("doc_id", "source", "text", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // sequential reference with the same quantization arithmetic
      val pairs = docs.flatMap { case (id, _, t, _, _) =>
        val w = t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
        w.zip(w.drop(1)).map { case (a, b) => (id, a, b) }
      }
      val cb = pairs.groupBy(p => (p._2, p._3)).view.mapValues(_.size.toLong).toMap
      val ch = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val cu = pairs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      val tot = pairs.size.toLong
      val expected = pairs.groupBy(_._1).map { case (id, ps) =>
        val sq = ps.map { case (_, a, b) =>
          val p = 0.7 * (cb((a, b)).toDouble / ch(a)) + 0.3 * (cu(b).toDouble / tot)
          math.floor(-math.log(p) * 1e6 + 0.5).toLong
        }.sum
        val xent = math.floor(sq.toDouble / ps.size / 1e6 * 1e4 + 0.5) / 1e4
        (id, ps.size.toLong, xent, xent <= 3.42)
      }.toSet
      val got = SparkEntry.queries("l45_bigram_logprob")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
        .toSet
      assert(got == expected, s"iter=$iter")
    }
  }

  test("l29 canonical-chunk struct-min == the min(doc)/rejoin/min(chunk) chain") {
    // r22: l29's canonical occurrence per content hash collapsed from a
    // two-aggregation rejoin chain to ONE min(struct(doc_id, chunk_id)).
    // The semantic claim — lexicographic struct-min ≡ (min doc, then min
    // chunk within that doc) on rows unique per (h, doc, chunk) — is
    // pinned here on random frames (the key itself is hash-oracled at
    // every SF, which pins the end-to-end output but not the claim in
    // isolation).
    val rnd = new Random(4177)
    import spark.implicits._
    (1 to 5).foreach { iter =>
      val occ = Seq.fill(60 + rnd.nextInt(120))(
          (s"h${rnd.nextInt(12)}", rnd.nextInt(8).toLong, rnd.nextInt(6).toLong))
        .distinct.toDF("h", "doc_id", "chunk_id")
      val oldChain = {
        val cd = occ.groupBy("h").agg(min(col("doc_id")).as("cd"))
        occ.join(cd, "h").filter(col("doc_id") === col("cd"))
          .groupBy("h", "cd").agg(min(col("chunk_id")).as("co"))
          .select("h", "cd", "co")
      }.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val structMin = occ.groupBy("h")
        .agg(min(struct(col("doc_id"), col("chunk_id"))).as("m"))
        .select(col("h"), col("m.doc_id").as("cd"), col("m.chunk_id").as("co"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(structMin == oldChain, s"iter=$iter")
    }
  }
}
