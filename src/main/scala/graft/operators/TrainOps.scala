package graft.operators

import graft.Tables._
import graft.functions.JaroWinkler.jaroWinkler
import graft.functions.TextFunctions.{maxMultiplicity, wordNgrams, words}
import graft.functions.VectorFunctions.floatDot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.L — the rest of the large-scale training-data pipeline:
  * SimHash near-dedup, embedding-space near-dup + IVF ANN, language ID,
  * quality scoring, document fingerprinting, and multimodal binary-column
  * plumbing.
  *
  * Scale design notes (the 100 TB story, per operator):
  *  - SimHash (l1) reduces each doc to ONE 64-bit signature; candidate
  *    pairs come from equi-joins on 16-bit bands (4 bands ⇒ any pair with
  *    Hamming distance ≤ 3 shares an intact band by pigeonhole), so the
  *    dedup join shuffles 8-byte signatures, never text;
  *  - the embedding ops split correctness baseline (l2, exact all-pairs
  *    argmax — only for dims that fit a broadcast) from the scale path
  *    (l3, IVF: one pass to assign vectors to coarse centroids, query
  *    probes a few cells — the shuffle is per-cell, not all-pairs);
  *  - langid/fingerprint (l4/l6) are single-scan explode → groupBy(doc_id)
  *    pipelines, map-side combinable, one shuffle each; quality (l5) and
  *    decontamination (l16) score each document in its own row;
  *  - multimodal (l7) treats media as an opaque binary column with a
  *    fixed-layout header and DECODES it with expression-level byte math
  *    (binary substring + hex/conv field reads — codegen'd, no UDF): a
  *    map fused into the scan at any corpus size;
  *  - exact n-gram Jaccard join (l9) is prefix-filtered (AllPairs/PPJoin):
  *    the inverted index holds only each doc's rarest n−⌈0.8n⌉+1 shingles
  *    — provably lossless for J ≥ 0.8 — so hub shingles never fan out and
  *    full shingle sets materialize for candidate docs only;
  *  - embedding-cosine near-dup (l12) is the vector-space analogue of the
  *    MinHash pipeline: signed-random-projection LSH [Charikar, STOC'02]
  *    reduces each vector to 128 sign bits, candidates come from
  *    equi-joins on 16-bit bands, the exact cosine check runs on
  *    candidates only — the join shuffles 16-byte signatures, never
  *    embeddings, and bucket sizes are ~n/2^16 per band;
  *  - sequence packing (l13) is the GPT-style concat-and-chunk layout:
  *    one window cumsum per source partition — packing is inherently
  *    order-dependent, so the per-source stream IS the parallel unit.
  */
object TrainOps {

  /** Stable-id membership for l10/l11/l18 (and l3's trainer sample):
    * first hex byte of md5(id) below `thresholdHex` (lowercase 2-char
    * hex, e.g. "cd" ≈ 80%, "80" = 50%). ONE definition so the split,
    * the samples, and the delta-shard cut can never desynchronize;
    * portable — DuckDB's md5 emits identical lowercase hex. */
  private def idBelow(id: Column, thresholdHex: String): Column =
    substring(md5(id.cast(StringType).cast(BinaryType)), 1, 2) < thresholdHex

  /** BPE merge-rule induction (Sennrich et al., ACL 2016) over a token
    * stream (column `term`): the first `nRounds` merges as `(rank int,
    * left string, right string, freq long)`, ordered by rank.
    *
    * The corpus reduces on the cluster to its word histogram
    * ([[bpeHistogram]], one aggregation, collected once); the rounds then
    * run in memory ([[bpeTrain]]) and launch no Spark job. The histogram
    * has one row per distinct word — vocabulary-sized, sub-linear in the
    * corpus by Heaps' law — which is the table every BPE trainer holds in
    * memory, so no corpus-sized data leaves the cluster. */
  private[graft] def bpeMerges(s: SparkSession, toks: DataFrame,
      nRounds: Int): DataFrame = {
    import s.implicits._
    bpeTrain(bpeHistogram(toks), nRounds)
      .toDF("rank", "left", "right", "freq").orderBy("rank")
  }

  /** `(term, count)` over a token stream, collected. */
  private def bpeHistogram(toks: DataFrame): Seq[(String, Long)] =
    toks.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq

  /** The merge loop over a word histogram. Each word starts as its chars
    * plus the end-of-word marker `#`. Each round sums adjacent-pair counts
    * weighted by word count — with `Math.addExact`, so an overflowing
    * count throws as ANSI `sum` does — picks the winner by (freq DESC,
    * left, right) and applies it to every word with [[bpeMergeOnce]].
    * `String` order is UTF-16 code-unit order, which on the `[a-z#]`
    * alphabet of [[LlmOps.tokens]] equals the binary UTF-8 order a Spark
    * `orderBy` uses, so ties break as they would in SQL. The loop stops
    * early once every word is one symbol (no pair left), returning fewer
    * than `nRounds` merges. */
  private def bpeTrain(hist: Seq[(String, Long)],
      nRounds: Int): Seq[(Int, String, String, Long)] = {
    @annotation.tailrec
    def round(r: Int, words: Seq[(Vector[String], Long)],
        done: Vector[(Int, String, String, Long)]): Seq[(Int, String, String, Long)] =
      if (r > nRounds) done
      else {
        val pairs = words.flatMap { case (syms, n) => syms.zip(syms.tail).map(_ -> n) }
          .groupMapReduce(_._1)(_._2)(Math.addExact(_, _))
        if (pairs.isEmpty) done
        else {
          val ((l, rt), f) = pairs.minBy { case ((a, b), f) => (-f, a, b) }
          round(r + 1, words.map { case (syms, n) => (bpeMergeOnce(syms, l, rt), n) },
            done :+ ((r, l, rt, f)))
        }
      }
    round(1, hist.map { case (t, n) => (bpeSymbols(t), n) }, Vector.empty)
  }

  /** Each term's symbols after `merges` are applied in rank order — the
    * l48 encoder. On the trainer's own histogram this is the trainer's
    * final state: round r applies merge r to every word. */
  private[graft] def bpeEncode(terms: Seq[String],
      merges: Seq[(String, String)]): Map[String, Vector[String]] =
    terms.map(t => t -> merges.foldLeft(bpeSymbols(t)) {
      case (syms, (l, r)) => bpeMergeOnce(syms, l, r)
    }).toMap

  private def bpeSymbols(term: String): Vector[String] =
    term.map(_.toString).toVector :+ "#"

  /** One greedy left-to-right application of the merge [l, r] → lr, the
    * fold shared by the trainer and the encoder. One pass is exhaustive:
    * the merged symbol is longer than both l and r, so it never re-forms
    * the pair with a neighbour the pass has already passed. */
  private def bpeMergeOnce(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += l + r; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def idBelow(thresholdHex: String): Column =
    idBelow(col("doc_id"), thresholdHex)

  /** l5's pinned quality formula over a document's words `ws`, computed in
    * the row: 0.4·stop_ratio + 0.3·min(1, n/100) + 0.3·min(1, avg_len/8),
    * with n = size(ws), the stop-word count n minus the size of `ws`
    * without the four stop words, and the summed word length the length
    * of the words joined. Each term is the same IEEE expression as the
    * oracle's explode → groupBy form, so both score a document alike.
    * Pass `ws` as a column reference: each member reads it several times. */
  private[graft] final case class Quality(ws: Column) {
    val n: Column = size(ws)
    val stopRatio: Column =
      (n - size(Seq("the", "a", "of", "and").foldLeft(ws)(array_remove(_, _))))
        .cast(DoubleType) / n
    /** Null for a document without words, whose ratios are undefined. */
    val score: Column = when(n > 0, lit(0.4) * stopRatio
      + lit(0.3) * least(lit(1.0), n / 100.0)
      + lit(0.3) * least(lit(1.0), length(array_join(ws, "")).cast(DoubleType) / n / 8.0))
  }

  /** `(doc_id, ws)`: each document with its words, the tokenizer rule of
    * [[LlmOps.shingleRows]]. */
  private def docWords(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), words(lower(col("text"))).as("ws"))

  /** The pinned eval set of l16/l17/l24's decontamination: 4 word-3-grams
    * that occur in this corpus and 1 that cannot. */
  private[graft] val evalShingles: Seq[String] = Seq("row column sort",
    "stream table hash", "window fast query", "data merge group", "held out benchmark")

  /** How many of [[evalShingles]] a document's words `ws` contain, each
    * counted once; 0 below 3 words. */
  private[graft] def evalHits(ws: Column): Column =
    when(size(ws) >= 3, size(array_intersect(wordNgrams(ws, 3), typedLit(evalShingles))))
      .otherwise(0).cast(LongType)

  /** l4's per-language function-word marker lexicon (alphabetical by lang
    * code — the argmax tie-break order). Pairwise DISJOINT string sets, so
    * a token never votes for two languages; zh is romanized (pinyin)
    * because the shared tokenizer keeps [a-z]+ runs only. */
  private[graft] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "von", "den", "auf"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "it", "on", "was"),
    "es" -> Seq("el", "los", "las", "que", "por", "con", "para", "una", "esta", "como"),
    "fr" -> Seq("le", "la", "les", "est", "dans", "pour", "vous", "avec", "ce", "qui"),
    "zh" -> Seq("wo", "ni", "shi", "bu", "zai", "zhe", "ge", "men", "hao", "ma"))

  /** exact-dup + planted-near-dup signature: 64-bit SimHash over unigram
    * token hashes. The token hash is the LOW 64 BITS OF md5 (digest bytes
    * 8..15 big-endian as a signed long ≡ DuckDB's
    * `conv(substr(md5(s),17,16),16,-10)`) rather than xxhash64: md5 is
    * computable bit-identically by DuckDB, so the whole signature — and
    * with it the entire l1 output — is oracle-checkable. Computed by the
    * codegen'd [[graft.functions.Md5Low64]] (digest-bytes → long, no
    * hex-string round-trip — ~6.5× the SQL chain, measured at its
    * Scaladoc), so the oracle-motivated family costs ~nothing in the
    * scan. Public, so a shell session can explain this signature
    * subtree, which l1's own plan hides behind a checkpoint scan. */
  def simhashed(s: SparkSession, d: String): DataFrame =
    simhashVotes(LlmOps.tokens(s, d).select(col("doc_id"),
      graft.functions.Md5Low64.md5Low64(col("term")).as("h")))

  /** The packed per-bit majority vote over `(doc_id, h)` token-hash rows
    * — split from [[simhashed]] so the spec can drive it with a synthetic
    * doc of more than 2^16 tokens. */
  private[graft] def simhashVotes(toks: DataFrame): DataFrame = {
    // branch-free vote, PACKED 2-to-an-accumulator: count the ONES per
    // bit and test majority as 2·ones > n — identical signatures to the
    // ±1-vote form (a tie is a 0 bit either way; verified bit-for-bit at
    // sf0.1). Packing: lane j of packed sum p_j accumulates bits j and
    // j+32 of h at field offsets 0/32 — one shift + one mask places
    // both, so the aggregation runs 32 packed sums instead of 64 scalar
    // ones. Envelope: each token adds ≤ 1 per 32-bit field, so fields
    // are exact while n < 2^32, and the SIGNED packed sum (worst case
    // n·(2^32+1)) stays below 2^63 — no ANSI overflow — while
    // n ≤ (2^63−1) div (2^32+1) = 2^31−2. That bound is UNREACHABLE for
    // a real document: n_tokens ≤ length(text), and a Spark string is
    // < 2^31 chars — unlike a 4×16-bit packing's 2^16 envelope, which a
    // long web page or concatenated code file genuinely exceeds. It
    // stays FAIL-LOUD anyway: an impossible-by-construction doc raises
    // instead of silently corrupting lanes.
    val fieldMask = lit(0x0000000100000001L)
    val packedOnes = (0 until 32).map { j =>
      sum(shiftrightunsigned(col("h"), j).bitwiseAND(fieldMask)).as(s"p$j")
    }
    def ones(i: Int): Column = // vote count for bit i: field i/32 of p_(i%32)
      shiftrightunsigned(col(s"p${i % 32}"), 32 * (i / 32)).bitwiseAND(lit(0xFFFFFFFFL))
    val sig = (0 until 64).map { i =>
      when(ones(i) * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)): Column
    }.reduce(_ + _) // bits are disjoint, so the sum assembles the signature
    val overflowGuard = when(col("n") < lit(2147483646L), lit(0L))
      .otherwise(raise_error(concat(
        lit("l1 simhash: packed vote lanes overflow — doc "),
        col("doc_id"), lit(" has >= 2^31-2 tokens"))).cast(LongType))
    toks.groupBy("doc_id").agg(count(lit(1)).as("n"), packedOnes: _*)
      .select(col("doc_id"), (sig + overflowGuard).as("simhash"))
  }

  /** l1's banding: 4 × 16-bit signature slices, band key = slice·4 +
    * position, so equal slice values in different positions never
    * collide. The simhash rides along through [[LlmOps.bandPairs]] to the
    * Hamming gate. Lossless for Hamming ≤ 3 by pigeonhole: 3 differing
    * bits touch at most 3 of the 4 bands.
    *
    * The gate runs after the band join's distinct, as MEASURED (SURVEY
    * §7.5): distinct-then-gate beat gate-then-distinct by ~8–13% at sf0.1
    * (3.90/3.95 s vs 4.14/4.51 s, same-interval alternation) — a pair
    * surfaces in up to 4 bands, so gating before the distinct evaluates
    * bit_count per COLLISION rather than once per PAIR, and on this
    * tiny-vocab corpus the gate is not selective enough to pay that back.
    * (A token-LENGTH pre-filter — l9's idiom — is rejected on semantics,
    * not cost: it is not lossless for Hamming-over-simhash.) */
  private[graft] def simhashBanded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(k =>
        shiftright(col("simhash"), k * 16).bitwiseAND(lit(0xFFFFL))
          * 4 + k): _*)).as("band"))

  /** 128 fixed signed-random-projection hyperplanes for l12 (seeded —
    * signatures are reproducible across runs and engines running this
    * code; the seed is part of the operator definition). */
  private lazy val srpPlanes: Array[Seq[Float]] = {
    val rnd = new scala.util.Random(0x5eedL)
    Array.fill(128)(Seq.fill(64)(rnd.nextGaussian().toFloat))
  }

  /** l12's signature frame over a `(vec_id, embedding)` table:
    * `(doc_id, embedding, norm, s0, s1)`, where `s0`/`s1` are the two
    * 64-bit words of the 128-bit SRP signature (128 dot products per
    * row). */
  private[graft] def srpSigs(raw: DataFrame): DataFrame = {
    // one 64-bit signature word: disjoint bits, so the sum assembles it
    def sigWord(w: Int): Column =
      (0 until 64).map { p =>
        when(floatDot(col("embedding"), typedlit(srpPlanes(w * 64 + p))) > 0d,
          lit(1L << p)).otherwise(lit(0L)): Column
      }.reduce(_ + _)
    raw.select(col("vec_id").as("doc_id"), col("embedding"),
      sqrt(floatDot(col("embedding"), col("embedding"))).as("norm"),
      sigWord(0).as("s0"), sigWord(1).as("s1"))
  }

  /** l12's banding: 8 × 16-bit slices of the SRP signature, band key =
    * slice·8 + position. */
  private[graft] def srpBanded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(array((0 until 8).map { k =>
        val word = if (k < 4) col("s0") else col("s1")
        // arithmetic >> then mask: the 16-bit band value, namespaced by k
        shiftright(word, (k % 4) * 16).bitwiseAND(lit(0xFFFFL)) * 8 + k
      }: _*)).as("band"))

  /** Embedding-cosine near-duplicate clustering over a `(vec_id,
    * embedding)` table — the vector-space member of the dedup family
    * (exact j1, MinHash j2, SimHash l1, n-gram Jaccard l9, cosine l12).
    *
    * SRP-LSH [Charikar, STOC'02]: `sign(v · r_p)` over 128 fixed Gaussian
    * hyperplanes gives a 128-bit signature whose per-bit collision
    * probability for a pair at angle θ is 1 − θ/π. Banded into 8 × 16-bit
    * bands, a pair at cosine ≥ 0.98 (θ ≤ 0.2 rad) collides in ≥ 1 band
    * with p ≈ 0.97, while a random pair (cos ≈ 0) collides with
    * p ≈ 8/2^16 — candidate fan-out is ~n²/2^16 per band, NOT n².
    * Candidates then pass an EXACT cosine ≥ threshold check, and the dup
    * ledger clusters the verified pairs. Banding is approximate by design
    * (it can miss a pair near the threshold), but the exact-verify layer
    * kills false positives, so the key is ORACLED against the
    * brute-forced all-pairs ground truth (matches whenever recall is 1.0
    * on the corpus — see the l12 oracle's comment); TrainOpsSpec keeps
    * the recall ≥ 0.9 pin against brute force on planted clusters plus
    * A~B~C chain closure. */
  private[graft] def embeddingNearDups(raw: DataFrame, threshold: Double): DataFrame = {
    // materialized ONCE: read by the band join, the exact check (twice)
    // and the ledger's ids
    val sigs = srpSigs(raw).localCheckpoint(eager = false)
    val pairs = LlmOps.bandPairs(srpBanded(sigs))
      .join(sigs.select(col("doc_id").as("a_id"),
        col("embedding").as("ea"), col("norm").as("na")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"),
        col("embedding").as("eb"), col("norm").as("nb")), "b_id")
      .filter(floatDot(col("ea"), col("eb")) / (col("na") * col("nb")) >= threshold)
    LlmOps.dupLedger(sigs.select("doc_id"), pairs)
      .withColumnRenamed("doc_id", "vec_id")
      .orderBy("vec_id")
  }

  /** Lossless prefix index for the exact shingle-overlap joins
    * (AllPairs/PPJoin [Bayardo et al., WWW'07]) — ONE kernel for l9
    * (Jaccard self-join), l18 (bipartite), and l22 (containment): order
    * every doc's shingle set by ONE global canonical order (document
    * frequency asc, shingle asc) and index only the first
    * n − ⌈t·n⌉ + 1 shingles, t = tNum/tDen. ceil is the exact integer
    * form (tNum·n + tDen − 1) div tDen — float ceil(n*0.8) can land on
    * 4.000000001 and silently shrink the prefix (lost pairs). Any pair
    * sharing ≥ ceil(t·n) shingles has its smallest common shingle inside
    * the prefix, so it still collides — for Jaccard both sides are
    * prefix-indexed; for containment (l22) only the PROBE side may be
    * prefixed (the containing side must stay fully indexed, since
    * C = |A∩B|/|A| ignores |B|). */
  private def prefixIndex(shing: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val dfreq = shing.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id")
    shing.join(dfreq, "shingle")
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("rk", row_number().over(wDoc.orderBy(col("df"), col("shingle"))))
      .filter(col("rk") <=
        col("n") - expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1)
      .select("doc_id", "shingle")
  }

  /** The l22 containment pipeline over a (materialized) shingle frame:
    * the probe side's prefixes join the full shingle index, and the
    * candidates' sets come from the shared [[LlmOps.candidateSets]]. */
  private def containmentNgram(shing: DataFrame): DataFrame = {
    val cand = prefixIndex(shing, 9, 10).as("a")
      .join(shing.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      .localCheckpoint(eager = false) // feeds the doc-id semi-join AND the output
    val sets = LlmOps.candidateSets(cand, shing)
    // one-sided containment length filter (the verifyJaccard AllPairs
    // idea, asymmetric form): C(A→B) = |A∩B|/|A| ≥ 9/10 and
    // |A∩B| ≤ |B| force 10·|B| ≥ 9·|A| — size-incompatible candidates
    // die losslessly on two integer joins before the sets attach
    val sizes = sets.select(col("doc_id"), size(col("sset")).as("n"))
    val lenOk = cand
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .filter(col("nb") * 10 >= col("na") * 9)
      .select("a_id", "b_id")
    lenOk
      .join(sets.select(col("doc_id").as("a_id"), col("sset").as("sa")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sset").as("sb")), "b_id")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast(LongType))
      .filter(col("common") * 10 >= size(col("sa")).cast(LongType) * 9)
      .select(col("a_id"), col("b_id"),
        (floor(col("common").cast(DoubleType) / size(col("sa")) * 1e4 + 0.5) / 1e4)
          .as("containment"))
      .orderBy("a_id", "b_id")
  }

  /** l18's incremental-probe pipeline. The shingle frame here is NOT
    * checkpointed: unlike l22/l9, where it feeds prefixes AND
    * verification, in this key the prefixes come from the session-shared
    * pref45 index and the shingle frame has a single consumer (the
    * candidate sets) — a checkpoint would materialize the full exploded
    * frame (O(corpus shingles) of storage memory, guide §5) for one
    * read, and streaming measured 9% faster (2.017 s vs 2.214 s,
    * min-of-6 pass-interleaved at sf0.1). */
  private def l18Impl(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val corpusIds = docs.filter(idBelow("e0")).select("doc_id")
    val delta = docs.filter(!idBelow("e0"))
    // the digest is the 32-byte binary sha256, as in l17 and j1: Spark
    // plans no fast hash map for a binary grouping key, so each task
    // holds one 64 MB page, not two
    def dig = unhex(sha2(col("text"), 256)).as("dig")
    val exact = delta.select(col("doc_id"), dig)
      .join(docs.filter(idBelow("e0"))
          .select(dig, col("doc_id").as("c_id"))
          .groupBy("dig").agg(min("c_id").as("exact_of")),
        Seq("dig"), "left")
      .select("doc_id", "exact_of")
    val shing = LlmOps.shingleRows(s, d)
    // the persistent corpus artifact, built once per session — this key
    // times the incremental PROBE against it, not the index build
    val pref = sharedPrefix45(s, d)
    // bipartite candidates: delta prefixes (a) vs corpus prefixes (b)
    val cand = pref.join(delta.select("doc_id"), Seq("doc_id"), "left_semi").as("a")
      .join(pref.join(corpusIds, Seq("doc_id"), "left_semi").as("b"),
        col("a.shingle") === col("b.shingle"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      .localCheckpoint(eager = false)
    val best = LlmOps.verifyJaccard(cand, LlmOps.candidateSets(cand, shing))
      // argmax via map-side max_by on (jaccard, -b_id), the l2/l3 idiom —
      // lexicographic max == (jaccard desc, b_id asc), the oracle's ordering
      .groupBy("a_id")
      .agg(max_by(struct(col("b_id"), col("jaccard")),
        struct(col("jaccard"), (-col("b_id")).as("neg"))).as("m"))
      .select(col("a_id").as("doc_id"), col("m.b_id").as("near_of"),
        col("m.jaccard").as("jaccard"))
    exact.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_of"), lit(-1L)).as("exact_of"),
        coalesce(col("near_of"), lit(-1L)).as("near_of"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
      .orderBy("doc_id")
  }

  /** The J ≥ 4/5 word-3-gram prefix index over the whole documents table
    * — THE persistent artifact of the incremental-dedup story (l18's own
    * comment: "a stored corpus index" is what a nightly pipeline keeps,
    * the delta probe joins against it). Computed ONCE per (session,
    * corpus) via [[Tables.sharedFrame]], so l18's bench entry times the
    * incremental probe, not an index rebuild. The l9/l32 pair production
    * keeps its own inline build inside the `l9pairs` memo (also once per
    * session): PlanShapeSpec pins that subtree's candidate-join shape,
    * which a checkpoint scan would hide. */
  private def sharedPrefix45(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "pref45")(
      prefixIndex(LlmOps.shingleRows(s, d).localCheckpoint(eager = false), 4, 5))

  /** Verified exact-Jaccard pairs over word-3-gram shingles — the l9
    * PPJoin kernel's output `(a_id, b_id, jaccard)` at J >= 4/5,
    * computed ONCE per (session, corpus) via [[Tables.sharedFrame]] and
    * shared by its consumers: l9 REPORTS the pairs, l32 and l50 CLUSTER
    * them. A production dedup pipeline materializes this frame exactly
    * once and fans it out the same way. */
  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "l9pairs")(verifiedPairsRaw(s, d))

  /** The un-memoized pair production — split out so PlanShapeSpec can pin
    * the candidate-join shape (the memoized frame's own plan is a
    * checkpoint scan, which hides the producing subtree). A prefix
    * shingle is a band: the candidates are [[LlmOps.bandPairs]] over the
    * prefix index. */
  private[graft] def verifiedPairsRaw(s: SparkSession, d: String): DataFrame = {
    val shing = LlmOps.shingleRows(s, d)
      .localCheckpoint(eager = false) // consumed by df, prefixes, verification
    val cand = LlmOps.bandPairs(prefixIndex(shing, 4, 5).withColumnRenamed("shingle", "band"))
      .localCheckpoint(eager = false) // feeds the doc-id semi-join AND the output
    LlmOps.verifyJaccard(cand, LlmOps.candidateSets(cand, shing))
  }

  /** Per-doc quality FEATURE frame `(doc_id, xq, xbi, xtri, xent)` —
    * l5's composite (xq), l14's top-bigram / duplicate-trigram fractions
    * (xbi, xtri), l21's unigram-LM cross-entropy (xent) — LEFT-joined
    * onto the full doc list (token-less docs carry null features; docs
    * under 3 tokens carry null xbi/xtri), computed ONCE per (session,
    * corpus) via [[Tables.sharedFrame]] and shared by its two consumers:
    * l27's classifier (which drops null-feature docs exactly as its
    * former inner joins did) and l24's funnel (whose coalesce-gates
    * drop them). One token scan + one doc scan, per-doc map-side-
    * combinable aggs, a broadcast vocab join — the other r11 VERDICT
    * trim lever (a trained filter and its funnel report score the SAME
    * engineered features; a real pipeline computes them once). */
  /** l26's Okapi BM25 scorer over the pinned query terms, shared with
    * l51's hybrid fusion: per-doc (n_hit, score_u) with every (doc,
    * term) contribution quantized to integer micro-units so ordering
    * is an exact integer comparison on both engines. Constants and
    * plan shape documented at the l26 key.
    *
    * r21: computed ONCE per (session, corpus) via [[Tables.sharedFrame]]
    * — the verified-pairs/qualityFeatures production pattern applied to
    * the retrieval stack: a real pipeline scores its corpus against the
    * query once and derives the lexical top-k (l26), the fused ranking
    * (l51) and the evaluation metrics (l52) from that one artifact. The
    * frame is expensive-tiny (one row per hit doc), exactly the
    * share-don't-recompute side of the r13 rule. PlanShapeSpec pins the
    * RAW producer's shape (broadcast idf/stats, no pairwise stage). */
  private def bm25ScoreU(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "bm25u")(bm25ScoreURaw(s, d))

  // (negative A/B, kept form: a variant checkpointing the (doc_id, term,
  // tf) AGGREGATE instead of this raw token stream — smaller checkpoint,
  // no df-distinct Exchange — was measured SLOWER both at sf0.1 (0.787 vs
  // 0.655 s min-of-6 same-interval twin keys) and on a 32× near-duplicate
  // clone of the corpus (7.77 vs 5.60 s, same run): the extra
  // string-keyed hash aggregation over the full token stream costs more
  // than four scans of the cached checkpoint save, at every measured
  // scale. Twins removed after the measurement; see OPTIMIZATION_r22.md.)
  private[graft] def bm25ScoreURaw(s: SparkSession, d: String): DataFrame = {
    val qterms = Seq("dup", "vector", "query")
    val ftoks = LlmOps.tokens(s, d).select("doc_id", "term")
      .localCheckpoint(eager = false) // feeds dl, stats, df, tf
    val stats = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      .crossJoin(ftoks.agg(count(lit(1)).as("tot"))) // one row: N, Σdl
    val dl = ftoks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val qt = ftoks.filter(col("term").isin(qterms: _*))
    val idf = qt.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)).as("idf"))
    val contrib = col("idf") * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
        (col("dl").cast(DoubleType) /
          (col("tot").cast(DoubleType) / col("n_docs")))))
    qt.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .join(broadcast(idf), "term")
      .crossJoin(broadcast(stats))
      .withColumn("q_s", floor(contrib * lit(1e6) + lit(0.5)).cast(LongType))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), sum(col("q_s")).as("score_u"))
  }

  /** l51's fused top-10 (doc_id, r_lex, r_dense, rrf_u) — shared with
    * l52's metric computation. Determinism and plan shape documented
    * at the l51 key. r21: memoized like [[bm25ScoreU]] (a 10-row frame —
    * the extreme of expensive-tiny); l51 reports it, l52 scores it, and
    * the dense leg + fusion run once per (session, corpus). */
  private def hybridFused(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "hybridfused")(hybridFusedRaw(s, d))

  private[graft] def hybridFusedRaw(s: SparkSession, d: String): DataFrame = {
    val wLex = Window.orderBy(col("score_u").desc, col("doc_id"))
    val lex = bm25ScoreU(s, d)
      .orderBy(col("score_u").desc, col("doc_id")).limit(20)
      .withColumn("r_lex", row_number().over(wLex).cast(LongType))
      .select("doc_id", "r_lex")
    val e = LlmOps.embs(s, d)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("norm").as("qn"))
    val wDen = Window.orderBy(col("sim").desc, col("doc_id"))
    val dense = e.filter(col("vec_id") > 0)
      .join(t(s, d, "documents").select(col("doc_id")),
        col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        rnd4(floatDot(col("embedding"), col("qe")) /
          (col("norm") * col("qn"))).as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(20)
      .withColumn("r_dense", row_number().over(wDen).cast(LongType))
      .select("doc_id", "r_dense")
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_dense"),
        (coalesce(expr("1000000L DIV (r_lex + 60L)"), lit(0L)) +
          coalesce(expr("1000000L DIV (r_dense + 60L)"), lit(0L)))
          .as("rrf_u"))
      .orderBy(col("rrf_u").desc, col("doc_id"))
      .limit(10)
  }

  /** Bench hook (r21, the `_shared_stream_prime` accounting convention):
    * force the shared retrieval frames cold — materializing the fused
    * ranking materializes the bm25 score frame in its lineage — so the
    * bench times the shared build as its own record entry exactly once
    * and l26/l51/l52 time their distinct claims warm by construction. */
  private[graft] def primeSharedRetrieval(s: SparkSession, d: String): Unit = {
    hybridFused(s, d).queryExecution.toRdd.count(); ()
  }

  private def qualityFeatures(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "qfeat")(qualityFeaturesRaw(s, d))

  /** The un-memoized feature build — split out so PlanShapeSpec can pin
    * the broadcast-vocab / no-pairwise shape (see [[verifiedPairsRaw]]). */
  private[graft] def qualityFeaturesRaw(s: SparkSession, d: String): DataFrame = {
      val toks = LlmOps.tokens(s, d).select("doc_id", "term")
        .localCheckpoint(eager = false) // feeds vocab, lm
      val rep = docWords(s, d)
        .filter(size(col("ws")) >= 3) // trigram feature needs ≥ 3 tokens
        .withColumn("bgs", wordNgrams(col("ws"), 2))
        .withColumn("tgs", wordNgrams(col("ws"), 3))
        .withColumn("top_bi", maxMultiplicity(col("bgs")))
        .select(col("doc_id"),
          (col("top_bi").cast(DoubleType) / size(col("bgs"))).as("xbi"),
          (lit(1.0) - size(array_distinct(col("tgs"))).cast(DoubleType)
            / size(col("tgs"))).as("xtri"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
        .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
        .select(col("term"),
          floor(-log(col("cnt").cast(DoubleType) / col("total")) * 1e6 + 0.5)
            .cast(LongType).as("q_nll"))
      val lm = toks.join(broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("q_nll")).as("sq"))
        .select(col("doc_id"), (floor(
          col("sq").cast(DoubleType) / col("n_toks") / 1e6 * 1e4 + 0.5) / 1e4)
          .as("xent"))
      docWords(s, d).select(col("doc_id"), Quality(col("ws")).score.as("xq"))
        .join(rep, Seq("doc_id"), "left")
        .join(lm, Seq("doc_id"), "left")
    }

  /** argmax-cosine cell assignment for the IVF quantizer (l3): `max_by`
    * on `(rnd4 sim, -cid)` — the lexicographic max equals (sim desc, cid
    * asc), exactly the oracle's `row_number` ordering — and partial-
    * aggregates map-side, so the n×16 candidate rows combine inside the
    * scan stage instead of shuffling through a window sort. The centroid
    * table is ≤ 16 rows by construction: broadcast-safe at any corpus
    * size without a row-cap guard. */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame = {
    val cn = cents.select(col("cid"), col("c_emb"),
      sqrt(floatDot(col("c_emb"), col("c_emb"))).as("c_norm"))
    e.crossJoin(broadcast(cn))
      .select(col("vec_id"), col("embedding"), col("norm"), col("cid"),
        rnd4(floatDot(col("embedding"), col("c_emb")) /
          (col("norm") * col("c_norm"))).as("csim"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cid"), col("embedding"), col("norm")),
        struct(col("csim"), (-col("cid")).as("neg"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.norm").as("norm"), col("best.cid").as("cid"))
  }

  /** Deterministic fixed-iteration Lloyd k-means for the IVF coarse
    * quantizer. Init = the first 16 vectors (stable ids, not a random
    * seed). Each round assigns every training vector to its argmax-cosine
    * centroid and recomputes each cell's centroid as the element-wise
    * mean, with components pinned at 6 dp by the portable floor-round
    * (`floor(x·1e6 + 0.5)/1e6` — identical semantics in Spark and DuckDB,
    * unlike HALF_UP `round` at negative halves) so both engines carry
    * bit-identical centroids into the next round. The pin assumes the
    * double `avg` agrees across engines to well under 1e-6 — summation
    * order can differ by ~1 ULP, so a mean landing within 1 ULP of a
    * floor boundary could diverge and (unlike the single-step rnd4 pins)
    * cascade through the next assignment; the same measure-zero boundary
    * exposure every §7.2 rounding pin carries, just noted here because
    * iteration amplifies it (exposure grows with iters × corpus size —
    * if either grows materially, snap the means through a coarser guard,
    * e.g. floor-round at 5 dp after the 6-dp pin, or export one engine's
    * trained centroids as the oracle's input instead of re-deriving
    * them). Cells that capture no
    * vectors drop out on both sides. The update is a posexplode →
    * groupBy(cid, pos) avg — map-side combinable, shuffling 16×dim
    * partial sums per executor, never vectors. */
  private[graft] def ivfCentroids(train: DataFrame, iters: Int): DataFrame = {
    var cents = train.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("c_emb"))
    for (_ <- 0 until iters) {
      cents = assignCells(train, cents)
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("col").cast(DoubleType)).as("m"))
        .withColumn("m", floor(col("m") * 1e6 + 0.5) / 1e6)
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("c_emb"))
        // per-round lineage cut: without it each iteration NESTS the
        // previous round's assign/avg/collect_list subtree, so planning
        // cost grows superlinearly in iters (fine at 2, pathological by
        // ~8) — the checkpoint keeps the trainer flat at any iters
        .localCheckpoint(eager = false)
    }
    cents
  }

  /** SemDeDup kernel shared by the shipped l31 query and TrainOpsSpec's
    * planted same-cell/cross-cell fixture: train the l3 coarse quantizer
    * on `train`, assign the FULL table, exact pairwise cosine WITHIN
    * cells only, drop a vector when a smaller-id same-cell neighbor sits
    * at/above `thresh`. The quadratic stage is bounded per cell (at
    * corpus scale ncells grows with n so per-cell lists stay ~constant,
    * and the cid equi-join shuffles each vector once); cross-cell pairs
    * are never formed — the SemDeDup recall trade-off the spec measures. */
  private[graft] def semDedupCells(e: DataFrame, train: DataFrame,
      iters: Int, thresh: Double): DataFrame = {
    val cents = ivfCentroids(train, iters)
    // consumed twice (pair a-side and b-side) + once for the output
    // spine: cut lineage so the trainer+assignment runs once
    val assigned = assignCells(e, cents).localCheckpoint(eager = false)
    val pairs = assigned.select(col("cid"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("norm").as("a_norm"))
      .join(assigned.select(col("cid"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("norm").as("b_norm")), Seq("cid"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        rnd4(floatDot(col("a_emb"), col("b_emb")) /
          (col("a_norm") * col("b_norm"))).as("sim"))
      .filter(col("sim") >= thresh)
    // canonical survivor = smallest id among near-dup neighbors; both
    // aggs partial-combine map-side, so hot cells never window-sort
    val dups = pairs.groupBy(col("b_id").as("vec_id"))
      .agg(min(col("a_id")).as("dup_of"), max(col("sim")).as("max_sim"))
    assigned.select("vec_id", "cid")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"), col("max_sim"),
        col("dup_of").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** IVF top-k kernel shared by the shipped l3 query and TrainOpsSpec's
    * clustered-recall probe: train centroids on `train`, assign the FULL
    * table once, probe the query's `nprobe` nearest cells, exact top-k
    * within probed cells only. `train` ⊆ `e` lets the caller bound
    * trainer cost with a deterministic sample. */
  private[graft] def ivfTopK(e: DataFrame, train: DataFrame, qId: Long,
      iters: Int, nprobe: Int, k: Int): DataFrame = {
    // the trained quantizer is consumed twice (full assignment + query
    // probe); checkpoint so the training job runs once, not per consumer
    val cents = ivfCentroids(train, iters).localCheckpoint(eager = false)
    val cn = cents.select(col("cid"), col("c_emb"),
      sqrt(floatDot(col("c_emb"), col("c_emb"))).as("c_norm"))
    val assigned = assignCells(e, cents)
    val q = e.filter(col("vec_id") === qId)
      .select(col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val probed = cn.crossJoin(broadcast(q))
      .select(col("cid"),
        rnd4(floatDot(col("c_emb"), col("q_emb")) /
          (col("c_norm") * col("q_norm"))).as("qsim"))
      .orderBy(col("qsim").desc, col("cid")).limit(nprobe)
      .select("cid")
    assigned.join(broadcast(probed), "cid")
      .filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cid"),
        rnd4(floatDot(col("embedding"), col("q_emb")) /
          (col("norm") * col("q_norm"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
  }

  val queries: Map[String, Q] = Map(
    // l1: SimHash near-dedup — banded candidate join + Hamming <= 3 filter,
    // transitive cluster rep like j2. ORACLED: the token hash is
    // md5-low-64 (see simhashed), which DuckDB computes bit-identically,
    // and the 4 × 16-bit banding is LOSSLESS for Hamming <= 3 (see
    // simhashBanded) — the banded join is a pure optimization of
    // all-pairs, and the oracle brute-forces it exactly. TrainOpsSpec
    // additionally pins exact duplicates, n_dups and the merge rate.
    "l1_dedup_simhash" -> ((s, d) => {
      // materialized once: read by the band join, the ledger's ids and the
      // output — the 64-bit vote over every token must not re-run per
      // consumer
      val sigs = simhashed(s, d).localCheckpoint(eager = false)
      val pairs = LlmOps.bandPairs(simhashBanded(sigs))
        .filter(expr("bit_count(a_simhash ^ b_simhash) <= 3"))
      sigs.join(LlmOps.dupLedger(sigs.select("doc_id"), pairs), "doc_id")
        .select("doc_id", "simhash", "cluster_id", "n_dups")
        .orderBy("doc_id")
    }),

    // l2: embedding-space near-dup — per-vector nearest neighbour by
    // cosine + dup flag at 0.95. Exact all-pairs argmax is the correctness
    // baseline (broadcast one side); l3 is the scale path. The baseline
    // DEMO runs on a deterministic ~50% md5 id-sample (the l10 idiom —
    // membership reproducible from ids alone, mirrored in the oracle):
    // an O(n²) baseline needs only enough n to be a meaningful exact
    // reference, and the sample quarters its bench cost (r9 VERDICT
    // task 5); the fail-loud broadcast guard is unchanged, and l3/j4
    // remain the full-table paths.
    "l2_sim_embedding_nn" -> ((s, d) => {
      val e = LlmOps.requireBroadcastable(
        LlmOps.embs(s, d).filter(idBelow(col("vec_id"), "80")),
        "l2's embedding table", "l3_ann_ivf_topk (IVF cells) for ANN at scale")
      // argmax via max_by on (sim, -nn_id) — partial-aggregates map-side,
      // so the all-pairs sims never shuffle (vs sorting them in a window);
      // lexicographic max == (sim desc, nn_id asc), the oracle's tie-break
      e.as("a").join(broadcast(e.as("b")), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nn_id"),
          rnd4(floatDot(col("a.embedding"), col("b.embedding")) /
            (col("a.norm") * col("b.norm"))).as("sim"))
        .groupBy("vec_id")
        .agg(max_by(struct(col("nn_id"), col("sim")),
          struct(col("sim"), (-col("nn_id")).as("neg"))).as("nn"))
        .select(col("vec_id"), col("nn.nn_id").as("nn_id"), col("nn.sim").as("sim"),
          (col("nn.sim") >= 0.95).as("is_dup"))
        .orderBy("vec_id")
    }),

    // l3: IVF ANN with a TRAINED coarse quantizer — deterministic
    // fixed-iteration k-means (init = first 16 vectors, 2 Lloyd rounds on
    // a deterministic ~50% md5 id-sample), query probes its 4 nearest
    // cells, brute-force only within probed cells. At scale the per-cell
    // inverted lists are the partitioning: a query touches nprobe/ncells
    // of the data; training cost is bounded by the sample, not the corpus.
    // Every trainer step is argmax/avg, so the DuckDB oracle expresses the
    // whole thing as a CTE chain and l3 stays hash-oracled.
    "l3_ann_ivf_topk" -> ((s, d) => {
      val e = LlmOps.embs(s, d)
      // seeded sample = stable-id md5 trick (same idiom as l10/l11): the
      // training set is reproducible from ids alone and ~halves trainer
      // cost; the init seeds are always in (cells can't start empty).
      val train = e.filter(col("vec_id") < 16 || idBelow(col("vec_id"), "80"))
      ivfTopK(e, train, qId = 0L, iters = 2, nprobe = 4, k = 10)
    }),

    // l4: marker-word language ID — genuinely 5-WAY: one function-word
    // marker set per corpus language (de/en/es/fr/zh — zh romanized,
    // since the tokenizer is [a-z]+), score = marker hits per set, argmax
    // with ALPHABETICAL tie-break (the when-chain checks de first with >=
    // against every later set), 'und' (ISO 639 undetermined) when no set
    // hits. The sets are pairwise disjoint, so no token votes twice.
    // One explode→groupBy pipeline, map-side combinable, one shuffle.
    // Honesty note (measured, SURVEY §2.L): the synthetic corpus text is
    // a 31-token vocabulary shared uniformly across all 5 lang labels —
    // only 'the'/'a' of the 50 markers occur at all, so on THIS corpus
    // the argmax resolves to en/und and matches_label reflects the en
    // share. The operator itself is non-degenerate: TrainOpsSpec runs it
    // over a real multilingual fixture and asserts per-lang accuracy 1.0
    // for every language.
    "l4_text_langid" -> ((s, d) => {
      val aggs = langMarkers.map { case (l, ws) =>
        sum(when(col("term").isin(ws: _*), 1).otherwise(0)).as(s"${l}_hits")
      } :+ count(lit(1)).as("n_toks")
      val scored = LlmOps.tokens(s, d)
        .groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
      def hits(l: String) = col(s"${l}_hits")
      val langs = langMarkers.map(_._1) // alphabetical: de en es fr zh
      val best = greatest(langs.map(hits): _*)
      val pred = langs.init.zipWithIndex
        .foldLeft(when(best === 0, lit("und"))) { case (acc, (l, i)) =>
          acc.when(langs.drop(i + 1).map(o => hits(l) >= hits(o)).reduce(_ && _),
            lit(l))
        }
        .otherwise(lit(langs.last))
      t(s, d, "documents").select("doc_id", "lang")
        .join(scored, "doc_id")
        .select(col("doc_id"), pred.as("pred_lang"),
          rnd4(best.cast(DoubleType) / col("n_toks")).as("confidence"),
          (pred === col("lang")).as("matches_label"))
        .orderBy("doc_id")
    }),

    // l5: document quality scoring — token count, stopword ratio, mean
    // token length, composited into a pinned formula ([[Quality]]), per
    // row in the scan; documents without words have no score
    "l5_text_quality" -> ((s, d) => {
      val q = Quality(col("ws"))
      docWords(s, d).filter(q.n > 0)
        // floor(x*1e4+0.5)/1e4 instead of round(): the composite lands on
        // .xxxx5 boundaries where Spark (shortest-repr HALF_UP) and DuckDB
        // disagree; this formula is pure IEEE ops, identical on both
        .select(col("doc_id"), q.n.cast(LongType).as("n_tokens"),
          rnd4(q.stopRatio).as("stop_ratio"),
          (floor(q.score * 1e4 + 0.5) / 1e4).as("quality"))
        .orderBy("doc_id")
    }),

    // l6: document fingerprint — min-sampled rolling 4-gram digest
    // (winnowing-lite): md5 of each consecutive 4-token window, keep the
    // lexicographic min per doc. md5 hex is identical on both engines, so
    // this content-defined fingerprint is fully oracled.
    "l6_fingerprint_minhash" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(lower(col("text")), "[^a-z]+")))
        .withColumnRenamed("col", "term")
        .filter(col("term") =!= "")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      toks
        .withColumn("t1", lead(col("term"), 1).over(w))
        .withColumn("t2", lead(col("term"), 2).over(w))
        .withColumn("t3", lead(col("term"), 3).over(w))
        .filter(col("t3").isNotNull)
        .withColumn("gram",
          concat_ws(" ", col("term"), col("t1"), col("t2"), col("t3")))
        .groupBy("doc_id")
        .agg(min(md5(col("gram"))).as("fingerprint"),
          count(lit(1)).as("n_grams"))
        .orderBy("doc_id")
    }),

    // l8: token counting — whitespace tokens vs a BPE-ish regex tokenizer
    // (letter runs / digit runs / single punctuation, the GPT-2-style
    // pre-tokenization shape) vs raw chars. Single scan, per-row exprs.
    "l8_text_token_count" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast(LongType).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast(LongType).as("re_tokens"),
        length(col("text")).cast(LongType).as("n_chars_out"))
        .orderBy("doc_id")),

    // l7: multimodal binary-column DECODE — media payload as an opaque
    // binary column with a fixed-layout 16-byte header (magic 'GRFT' |
    // width | height | channels, 4-byte big-endian each) ahead of the
    // body, the shape of any real container format. The payload is
    // SYNTHESIZED here (header fields derived from doc_id, body = the
    // UTF-8 text — this container has no image libs, SURVEY §2.L), but
    // the DECODE is real: expression-level byte math only — binary
    // `substring` slices the header fields, `hex`→`conv` reassembles the
    // big-endian ints, the magic slice casts straight to UTF-8 — all
    // codegen'd per-row exprs, no UDF, no driver round-trip. At 100 TB
    // this is a map fused into the scan; a real decoder swaps the field
    // offsets, not the plumbing.
    "l7_multimodal_features" -> ((s, d) => {
      val width = lit(16L) + col("doc_id") % 1017L
      val height = lit(16L) + (col("doc_id") * 3L) % 737L
      val chans = lit(1L) + col("doc_id") % 4L
      def be32(c: Column): Column = lpad(hex(c), 8, "0") // 4-byte big-endian hex
      val media = t(s, d, "documents").select(col("doc_id"),
        concat(
          unhex(concat(lit("47524654"), be32(width), be32(height), be32(chans))),
          col("text").cast(BinaryType)).as("payload"))
      // parse the header back OUT of the bytes (both engines slice the
      // same blob: Spark via binary substring, DuckDB via hex-string math)
      def field(off: Int): Column =
        conv(hex(substring(col("payload"), off + 1, 4)), 16, 10).cast(LongType)
      media.select(col("doc_id"),
          substring(col("payload"), 1, 4).cast(StringType).as("magic"),
          field(4).as("width"), field(8).as("height"), field(12).as("channels"),
          (length(col("payload")) - 16).cast(LongType).as("body_bytes"))
        .orderBy("doc_id")
    }),

    // l9: EXACT n-gram Jaccard similarity join — the deterministic
    // complement of j2's MinHash LSH: every doc pair with word-3-gram-
    // shingle Jaccard >= 0.8, exactly, via AllPairs/PPJoin-style prefix
    // filtering [Bayardo et al., WWW'07] instead of an all-pairs scan.
    //
    // Prefix principle: order every doc's shingle set by ONE global
    // canonical order (document frequency asc, shingle asc). A pair with
    // J >= 0.8 shares >= ceil(0.8·n) shingles, so its smallest common
    // shingle cannot sit past position n - ceil(0.8·n) + 1 in either doc —
    // index ONLY those prefix shingles (the rarest ones) and every
    // qualifying pair still collides. That kills the hub-shingle fan-out
    // AND shrinks the inverted index ~5x; the exact Jaccard check then
    // materializes full shingle sets for candidate docs only (near-dups
    // are rare at corpus scale). Threshold compares as integers
    // (5·common >= 4·union) so no float boundary can flip membership.
    // Kernel shared with l18 (prefixIndex, LlmOps.candidateSets and
    // verifyJaccard — change THERE only); here the candidate join is
    // LlmOps.bandPairs over one prefix index.
    "l9_dedup_ngram_jaccard" -> ((s, d) =>
      verifiedPairs(s, d).orderBy("a_id", "b_id")),

    // l10: deterministic train/eval split — assignment is a pure function
    // of the stable doc id's md5 (first hex byte < 0xcd ≈ 80.1% train),
    // NOT of a random number or row position: reruns, engine changes, and
    // corpus growth never reshuffle existing assignments, and the split
    // is reproducible from the id alone. Per-row expression, zero
    // shuffle; the hex-string comparison is portable (Spark and DuckDB
    // emit identical lowercase-hex md5).
    "l10_split_train_eval" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          when(idBelow("cd"), lit("train")).otherwise(lit("eval")).as("split"))
        .orderBy("doc_id")),

    // l11: stratified deterministic sampling — a ~50% sample per language
    // stratum (corpus balancing), selected by the same stable-id md5
    // trick as l10 (first hex byte < 0x80): membership is reproducible
    // from the id alone and independent per stratum, and the per-stratum
    // counts verify the rate. Single scan, map-side combinable.
    "l11_sample_stratified" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), idBelow("80").as("in_sample"))
        .groupBy("lang")
        .agg(count(lit(1)).as("total"),
          sum(when(col("in_sample"), 1L).otherwise(0L)).as("sampled"))
        .withColumn("ratio",
          floor(col("sampled").cast(DoubleType) / col("total") * 1e4 + 0.5) / 1e4)
        .orderBy("lang"))
,
    // l47: DETERMINISTIC PER-SOURCE CAP — domain capping, the mix-
    // curation op next to l15's weights and l11's strata: no single
    // source may contribute more than K documents (the boilerplate-farm
    // guard — a handful of over-crawled domains otherwise dominate any
    // web corpus). Which K survive must be (a) UNIFORM over the
    // source's docs, not "first K by id" (ingestion order correlates
    // with time and quality), and (b) DETERMINISTIC across reruns and
    // engines — so the selection order is md5(doc_id) (the l10/l11
    // membership idiom lifted to an ORDERING: a pseudorandom but
    // reproducible permutation), with doc_id tie-breaking an
    // astronomically-unlikely digest collision to keep rank total.
    // K = 20: this corpus is UNIFORM per source (25 docs/source at
    // sf0.01, 250 at sf0.1 — measured), so any K under the per-source
    // count binds on EVERY source; the oracled contract is therefore
    // WHICH K survive (the md5-permutation selection, hash-verified),
    // not whether some sources dodge the cap. 400 of 500 survive at
    // sf0.01, 400 of 5000 at sf0.1.
    //
    // Scale shape: e1's partial top-k machinery verbatim — the rank
    // window is per-source, so InsertWindowGroupLimit caps each
    // partition at K rows per source BELOW the shuffle and the exchange
    // carries at most K·sources·partitions rows, never the corpus.
    "l47_cap_per_source" -> ((s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast(StringType).cast(BinaryType)), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy("doc_id")
    }),

    // l49: CHARACTER-ENTROPY FILTER — the gibberish/degeneracy signal
    // the word-level quality ladder (l5 ratios, l14 repetition, l21/l45
    // LM scores) cannot see: base64 blobs and minified payloads score
    // HIGH char entropy, stuck-key runs and template spam score LOW —
    // both tails are non-language. Shannon entropy over the per-doc
    // char histogram as explode → two-level hash agg: the partial agg
    // on (doc, char) collapses each doc's char stream to its ~30-row
    // histogram BEFORE the exchange (a doc's chars all sit in one input
    // row, so map-side combine is total) — the shuffle carries
    // histograms, never characters, and every operator stays inside
    // whole-stage codegen. MEASURED A/B (8×/32× clone probe) against
    // two "clever" in-row forms, both of which LOSE because Spark's
    // array HOFs are interpreted, not codegen'd: sort + (prev,run,acc)
    // fold 21.4/81.1 s (struct churn per char), distinct+filter counts
    // 76 s @8× (split() re-evaluated per lambda element — no CSE inside
    // HOFs); this form 3.4/10.9 s — 6–7× over the best in-row variant.
    // The zero-shuffle instinct was wrong here and the probe caught it:
    // interpreted per-element expression trees cost more than a
    // histogram-sized exchange. Per-(char,count) terms quantized to
    // integer micro-nats, so the sum is order-free and engine-exact
    // (l21's rule). flag = ent < 2.77 ≈ p10 (50/500 @sf0.01, 534/5000
    // @sf0.1; 4dp-quantized, so the cut is deterministic).
    // l50: QUALITY-AWARE SURVIVOR SELECTION — the last step every
    // near-dedup pass (j2/l1/l9/l31) leaves implicit: WHICH copy of a
    // duplicate cluster ships. min-doc-id (l32's `is_canonical`) is the
    // bookkeeping answer; production pipelines (FineWeb, SemDeDup) keep
    // the BEST copy — the cluster member maximizing the l5 quality
    // composite (quantized to an integer 1e-4 grid so the argmax can
    // never ride a float boundary), ties broken by min doc_id. Reuses
    // l32's exact clusters (the shared verifiedPairs frame through
    // LlmOps.connectedComponents) and l5's exact scoring;
    // emits the full per-doc ledger (cluster, quality, survivor, kept)
    // — the auditable artifact, not just the survivor list. Scale: the
    // quality score is computed in each doc's row of a scan; the survivor
    // window partitions by cluster_id over (id, cluster, q) triples —
    // partition size = dup-cluster size, text never shuffles.
    "l50_dedup_survivor_select" -> ((s, d) => {
      val clusters = LlmOps.connectedComponents(
        t(s, d, "documents").select("doc_id"), verifiedPairs(s, d))._1
      val quality = Quality(col("ws"))
      val q = docWords(s, d).filter(quality.n > 0)
        .select(col("doc_id"), floor(quality.score * 1e4 + 0.5).cast(LongType).as("q1e4"))
      val scored = clusters.join(q, "doc_id")
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("q1e4").desc, col("doc_id"))
      val surv = scored
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("survivor_id"))
      scored.join(surv, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("q1e4"),
          col("survivor_id"), (col("doc_id") === col("survivor_id")).as("kept"))
        .orderBy("doc_id")
    }),

    "l49_char_entropy" -> ((s, d) => {
      t(s, d, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), length(col("text")).cast(LongType).as("n"),
          explode(split(col("text"), "")).as("ch"))
        .groupBy("doc_id", "n", "ch")
        .agg(count(lit(1)).as("k"))
        .select(col("doc_id"), col("n"),
          floor(-(col("k").cast(DoubleType) / col("n")) *
            log(col("k").cast(DoubleType) / col("n")) * 1e6 + 0.5)
            .cast(LongType).as("t"))
        .groupBy("doc_id", "n")
        .agg(sum(col("t")).as("sq"))
        .select(col("doc_id"), col("n"),
          (floor(col("sq").cast(DoubleType) / 1e6 * 1e4 + 0.5) / 1e4).as("entropy"))
        .withColumn("low_entropy", col("entropy") < 2.77)
        .orderBy("doc_id")
    }),

    // l12: embedding-cosine near-dup — SRP-LSH banded candidates, exact
    // cosine >= 0.98, transitive cluster closure. Oracled against the brute-forced all-pairs ground truth (the j2/l1
    // construction: the exact-verify layer makes false positives
    // impossible, and recall is 1.0 on this corpus — max pairwise cosine
    // 0.51, so every vector is its own cluster, the honest output);
    // TrainOpsSpec pins the NON-trivial claims: recall >= 0.9 on planted
    // clusters, A~B~C chain closure, stranger precision. The benchmark's
    // corpus_scaled clones (perfbench/corpus.py) exercise real clusters.
    "l12_dedup_embedding" -> ((s, d) =>
      embeddingNearDups(t(s, d, "embeddings").select("vec_id", "embedding"), 0.98)),

    // l13: GPT-style sequence packing — concatenate docs per source in
    // stable doc_id order and chunk the token stream into 512-token
    // training sequences; each doc reports its stream offset, first
    // sequence id, and how many sequences it straddles. Packing is
    // order-dependent, so the per-source stream is the parallel unit:
    // ONE shuffle on source, one window cumsum within — at corpus scale
    // sources (or shards thereof) give the 1000-way parallelism.
    "l13_pack_sequences" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("source"), col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast(LongType).as("n_tokens"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs
        .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("seq_id", expr("start_off div 512"))
        // empty docs (n_tokens = 0) occupy their start sequence
        .withColumn("n_seqs", expr(
          "((start_off + greatest(n_tokens, 1) - 1) div 512) - (start_off div 512) + 1"))
        .select("source", "doc_id", "n_tokens", "start_off", "seq_id", "n_seqs")
        .orderBy("source", "doc_id")
    }),

    // l14: Gopher-style repetition filter [Rae et al. 2021, §A1.1]: drop
    // docs dominated by repeated n-grams. Per doc — fraction of bigram
    // slots taken by the single most frequent bigram, fraction of
    // repeated trigrams, symbol-to-char ratio; keep = top-bigram ≤ 0.08
    // AND dup-trigram ≤ 0.05 (thresholds pinned to this corpus's p90).
    // ZERO-shuffle shape (same lesson as j2/l9's in-row shingling): the
    // n-gram stream never leaves its row — bigrams/trigrams come from
    // the native `word_ngrams`, top-bigram multiplicity from the native
    // `max_multiplicity`, dup-trigram is 1 − distinct/total on the array.
    // Embarrassingly parallel map + the contract's final sort; nothing
    // to skew, nothing to spill. An explode→window→groupBy formulation
    // would ship every (doc_id, gram) pair through TWO window/agg
    // shuffles (~20× row amplification).
    "l14_repetition_filter" -> ((s, d) => {
      val ws = words(lower(col("text")))
      val perDoc = t(s, d, "documents")
        .select(col("doc_id"), col("text"), ws.as("ws"))
        .filter(size(col("ws")) >= 3) // need a trigram, like the oracle's inner join
        .withColumn("bgs", wordNgrams(col("ws"), 2))
        .withColumn("tgs", wordNgrams(col("ws"), 3))
        .withColumn("top_bi", maxMultiplicity(col("bgs")))
        .withColumn("sym_ratio",
          (length(col("text")) -
            length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")))
            .cast(DoubleType) / length(col("text")))
      val topBiFrac = col("top_bi").cast(DoubleType) / size(col("bgs"))
      val dupTriFrac = lit(1.0) -
        size(array_distinct(col("tgs"))).cast(DoubleType) / size(col("tgs"))
      perDoc.select(col("doc_id"),
          (floor(topBiFrac * 1e4 + 0.5) / 1e4).as("top_bigram_frac"),
          (floor(dupTriFrac * 1e4 + 0.5) / 1e4).as("dup_trigram_frac"),
          (floor(col("sym_ratio") * 1e4 + 0.5) / 1e4).as("symbol_ratio"),
          (topBiFrac <= 0.08 && dupTriFrac <= 0.05).as("keep"))
        .orderBy("doc_id")
    }),

    // l15: source mixing weights — the "data mixing" step of corpus
    // assembly: per-source token mass and the per-doc sampling weight
    // that would rebalance the corpus to a UNIFORM share per source
    // (weight = target_share / actual_share). One agg + one 20-row
    // window; at corpus scale the per-source agg is the only shuffle.
    // (Spark's single-partition-window warning fires on the GLOBAL
    // window, but its input is the per-source aggregate — ≤ #sources
    // rows at any corpus size, never the corpus itself.)
    "l15_source_mix_weights" -> ((s, d) => {
      val perSrc = t(s, d, "documents")
        .select(col("source"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast(LongType).as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok"))
      val nSrc = Window.partitionBy()
      perSrc
        .withColumn("total", sum(col("tok")).over(nSrc))
        .withColumn("srcs", count(lit(1)).over(nSrc))
        .withColumn("share", col("tok").cast(DoubleType) / col("total"))
        .select(col("source"), col("n_docs"), col("tok").as("n_tokens"),
          (floor(col("share") * 1e4 + 0.5) / 1e4).as("share"),
          (floor(lit(1.0) / col("srcs") / col("share") * 1e4 + 0.5) / 1e4)
            .as("weight"))
        .orderBy("source")
    }),

    // l16: benchmark decontamination — flag training docs sharing any
    // word-3-gram with a (pinned) eval set, the standard n-gram-overlap
    // decontamination step of corpus assembly. A per-document map stage:
    // each doc's distinct shingles meet the eval set in the row
    // ([[evalHits]], the tokenizer j2/l9 share), so nothing shuffles but
    // the contract sort.
    "l16_decontaminate" -> ((s, d) =>
      docWords(s, d).select(col("doc_id"), evalHits(col("ws")).as("n_hits"))
        .select(col("doc_id"), col("n_hits"), (col("n_hits") > 0L).as("contaminated"))
        .orderBy("doc_id")),

    // l17: the END-TO-END corpus-prep pipeline — the individual stages
    // (quality l5, exact dedup j1, decontamination l16, split l10,
    // packing l13) COMPOSED as one declarative plan: keep min-doc_id per
    // sha256(text) over ALL docs, and of those the docs with quality
    // ≥ 0.5, no eval-set overlap and the md5 train split → pack them into
    // 512-token sequences per source. One documents scan: the per-doc
    // stages (quality, contamination, split, token count, digest) run in
    // its projection and fold into one keep flag, so text and tokens never
    // cross a shuffle; the digest window and the survivors' range exchange
    // by source are the only exchanges. Fully oracled, because every stage
    // was built deterministic.
    "l17_pipeline_corpus_prep" -> ((s, d) => {
      // the 32-byte binary digest groups exactly as its hex string does,
      // in half the bytes per exchanged row
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          unhex(sha2(col("text"), 256)).as("dig"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast(LongType).as("n_tokens"),
          words(lower(col("text"))).as("ws"))
        .select(col("doc_id"), col("source"), col("dig"), col("n_tokens"),
          (Quality(col("ws")).score >= 0.5 && evalHits(col("ws")) === 0L &&
            idBelow("cd")).as("keep"))
      // one range exchange by source serves both the packing window's
      // clustering and the contract sort's order
      val survivors = docs
        .withColumn("first_id", min(col("doc_id")).over(Window.partitionBy("dig")))
        .filter(col("doc_id") === col("first_id") && col("keep"))
        .repartitionByRange(col("source"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      survivors
        .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("seq_id", expr("start_off div 512"))
        .select("source", "doc_id", "n_tokens", "start_off", "seq_id")
        .orderBy("source", "doc_id")
    }),

    // l18: INCREMENTAL dedup — the shape a 100-TB corpus actually runs
    // nightly: dedup a new delta shard against the existing corpus WITHOUT
    // any corpus×corpus work (you never re-dedup 100 TB to ingest 1 TB).
    // Delta = the ~12.5% of docs whose stable-id md5 first byte >= 0xe0
    // (the l10 idiom — membership reproducible from ids alone). Per delta
    // doc: the lowest corpus doc with an identical sha256 (exact
    // containment — the digest equi-join shuffles 32-byte digests, never
    // text), and the best exact-Jaccard >= 0.8 corpus match (ties to the
    // lowest corpus id) via a BIPARTITE PPJoin: the corpus side
    // contributes only its prefix index, the delta side joins its own
    // prefixes against it, and full shingle sets materialize for
    // candidate docs only. The canonical prefix order is global document
    // frequency, identical for both sides, which is all the prefix
    // principle needs. Persistence caveat (at scale): HERE the dfs are
    // computed over corpus+delta together, so ingesting a shard shifts
    // the canonical order — a stored corpus index built this way is NOT
    // append-only. The production artifact freezes the df order on
    // corpus-only counts (refreshed on a slow cadence) and appends delta
    // prefixes under that frozen order; any one consistent order
    // preserves the prefix theorem, so results are identical either way.
    "l18_dedup_incremental" -> ((s, d) => l18Impl(s, d)),

    // l20: apply l15's source-mix weights — the MATERIALIZATION step of
    // data mixing: each doc is replicated floor(w) times plus one more
    // with probability frac(w), where w is the source's uniform-share
    // rebalancing weight (upsampling rare sources, downsampling dominant
    // ones). The Bernoulli draw is DETERMINISTIC: u = first 6 md5 hex
    // chars of the stable doc id as an integer / 16^6 — a uniform [0,1)
    // that is a pure function of the id (the l10 idiom), so reruns and
    // engines agree row-for-row and resampling is reproducible from ids
    // alone. Per-row expr + a ≤#sources-row broadcast: zero data-sized
    // shuffle beyond the contract sort; at corpus scale this is a map.
    "l20_sample_by_weight" -> ((s, d) => {
      val perSrc = t(s, d, "documents")
        .select(col("source"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast(LongType).as("n_tokens"))
        .groupBy("source").agg(sum(col("n_tokens")).as("tok"))
      val nSrc = Window.partitionBy()
      val weights = perSrc
        .withColumn("total", sum(col("tok")).over(nSrc))
        .withColumn("srcs", count(lit(1)).over(nSrc))
        .select(col("source"), (lit(1.0) / col("srcs") /
          (col("tok").cast(DoubleType) / col("total"))).as("wt"))
      val u = conv(substring(md5(col("doc_id").cast(StringType)
          .cast(BinaryType)), 1, 6), 16, 10)
        .cast(LongType).cast(DoubleType) / lit(16777216.0)
      t(s, d, "documents").select("doc_id", "source")
        .join(broadcast(weights), "source")
        .withColumn("n_copies", (floor(col("wt")) +
          when(u < col("wt") - floor(col("wt")), 1L).otherwise(0L))
          .cast(LongType))
        .select(col("doc_id"), col("source"),
          (floor(col("wt") * 1e4 + 0.5) / 1e4).as("weight"),
          explode(when(col("n_copies") >= 1L,
            sequence(lit(1L), col("n_copies")))
            .otherwise(array().cast("array<bigint>"))).as("copy_id"))
        .orderBy("doc_id", "copy_id")
    }),

    // l21: unigram-LM cross-entropy scoring — the CCNet-style perplexity
    // quality filter [Wenzek et al., LREC'20]: score each doc by the mean
    // negative log-probability of its tokens under the corpus's own
    // unigram MLE; high cross-entropy = improbable token mix. Portability:
    // each token's −ln p is quantized to integer MICRO-NATS before
    // aggregation (floor(x·1e6+0.5) as BIGINT), so the per-doc sum is
    // exact integer arithmetic — double summation ORDER can never flip a
    // rounding boundary (the l5 lesson, applied to logs; ln itself has
    // the j6 idf precedent). keep = xent ≤ 3.41 nats, pinned ≈ p90 of
    // this corpus like l14's thresholds. Two map-side-combinable
    // shuffles (vocab agg — output bounded by VOCABULARY, not corpus —
    // and the per-doc agg) + a broadcast vocab join: linear, no pairwise
    // stage, the same shape at any corpus size.
    "l21_unigram_logprob" -> ((s, d) => {
      val toks = LlmOps.tokens(s, d).select("doc_id", "term")
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
        .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
        .select(col("term"),
          floor(-log(col("cnt").cast(DoubleType) / col("total")) * 1e6 + 0.5)
            .cast(LongType).as("q_nll"))
      toks.join(broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("q_nll")).as("sq"))
        .withColumn("xent", floor(
          col("sq").cast(DoubleType) / col("n_toks") / 1e6 * 1e4 + 0.5) / 1e4)
        .select(col("doc_id"), col("n_toks"), col("xent"),
          (col("xent") <= 3.41).as("keep"))
        .orderBy("doc_id")
    }),

    // l45: INTERPOLATED BIGRAM-LM cross-entropy — the next rung of the
    // l21 ladder (CCNet scores with a 5-gram KenLM; the structural step
    // from unigram to any higher order is the SAME everywhere: condition
    // on history, then smooth, because most bigrams are unseen in any
    // corpus sample). p(w2|w1) = λ·c(w1,w2)/c(w1·) + (1−λ)·c(·w2)/T with
    // λ = 0.7 (Jelinek-Mercer interpolation — the mixture keeps every
    // probability strictly positive WITHOUT discounting arithmetic, so
    // it is exactly reproducible in portable SQL, unlike backoff schemes
    // whose normalization constants compound float error). Counts live
    // on the PAIR event space (history = occurrences as pair-left,
    // target = as pair-right) so each conditional sums to 1 exactly.
    // A doc's score = mean −ln p over its transitions, micro-nat
    // quantized before summation (the l21 portability rule: integer
    // sums are order-independent; ln cross-engine parity has the
    // j6/l21 precedent). keep ≤ 3.42 nats ≈ p92 of this corpus
    // (probed non-vacuous at sf0.01: 458/500 keep, and sf0.1: 4719/5000;
    // the word-salad corpus concentrates bigram xent tightly around the
    // corpus entropy ≈ 3.40, so the quantized-4dp score — identical on
    // both engines by construction — is what makes ANY cut deterministic;
    // an unquantized double here would flip boundary docs per engine).
    //
    // Scale shape: three map-side-combinable aggregates over the pair
    // stream (bigram model — output bounded by DISTINCT BIGRAMS, not
    // corpus; history and target marginals — vocab-bounded), then joins
    // back to the pair stream keyed by (w1,w2)/w1 — linear, no pairwise
    // stage. The vocab-sized marginals broadcast (l21's rule); the
    // bigram model itself shuffle-joins on its natural composite key —
    // at web scale a bigram table outgrows any broadcast threshold but
    // its join stays key-partitioned with the pair stream.
    "l45_bigram_logprob" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(lower(col("text")), "[^a-z]+")))
        .withColumnRenamed("col", "term")
        .filter(col("term") =!= "")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val pairs = toks
        .withColumn("nxt", lead(col("term"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id"), col("term").as("w1"), col("nxt").as("w2"))
        .localCheckpoint(eager = false) // feeds the model aggs AND the scoring join
      val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val hist = pairs.groupBy("w1").agg(count(lit(1)).as("ch"))
      val uni = pairs.groupBy("w2").agg(count(lit(1)).as("cu"))
        .withColumn("tot", sum(col("cu")).over(Window.partitionBy()))
      pairs
        .join(big, Seq("w1", "w2"))
        .join(broadcast(hist), Seq("w1"))
        .join(broadcast(uni), Seq("w2"))
        .withColumn("q_nll", floor(-log(
            lit(0.7) * (col("cb").cast(DoubleType) / col("ch")) +
            lit(0.3) * (col("cu").cast(DoubleType) / col("tot"))) * 1e6 + 0.5)
          .cast(LongType))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pairs"), sum(col("q_nll")).as("sq"))
        .withColumn("xent", floor(
          col("sq").cast(DoubleType) / col("n_pairs") / 1e6 * 1e4 + 0.5) / 1e4)
        .select(col("doc_id"), col("n_pairs"), col("xent"),
          (col("xent") <= 3.42).as("keep"))
        .orderBy("doc_id")
    }),

    // l46: CROSS-DOC DUPLICATED-SPAN FRACTION — the corpus-level text-
    // duplication metric (C4/Gopher-family: "fraction of a document that
    // also appears elsewhere"), the per-doc complement of the pairwise
    // dedup family: j1/j2/l9/l22 find WHICH pairs overlap, this scores
    // HOW MUCH of each doc is corpus-duplicated text, the signal used to
    // downweight or drop boilerplate-heavy documents before training.
    // A position is "duplicated" when its word-8-gram occurs in ≥ 2
    // DISTINCT documents; dup_frac = duplicated positions / positions.
    // 8-gram positional shingles are built IN-ROW (the shingleRows
    // lesson: the token stream never leaves its doc, zero shuffle to
    // shingle); docs under 8 words have no 8-gram (`word_ngrams` returns
    // `[]`) and drop from the output on both engines identically.
    //
    // Scale shape: one gram-keyed agg whose output is bounded by
    // DISTINCT GRAMS (map-side combinable; the partial-agg dedups
    // within partition), one gram-keyed join back — text never leaves
    // its doc row, and the shuffles carry xxhash64 SIGNATURES of the
    // grams, never the ~50-byte gram strings (the j2/l9 rule; the 32×
    // probe measured the string-keyed form at 46 s where the hashed
    // form runs the same shape on 8-byte keys). 64-bit collisions are
    // the documented trade (P ≈ n²/2⁶⁵ — vanishing at any corpus that
    // fits a cluster, and the string-keyed DuckDB oracle verifies
    // collision-freedom on every oracled run by construction). The
    // 0.30 flag cut is honest-to-quantization (4dp floor identical on
    // both engines) and probed non-vacuous at sf0.01 AND sf0.1.
    "l46_dup_span_fraction" -> ((s, d) => {
      val grams = t(s, d, "documents")
        .select(col("doc_id"),
          words(lower(col("text"))).as("w"))
        .select(col("doc_id"), explode(wordNgrams(col("w"), 8)).as("gram"))
        .select(col("doc_id"), xxhash64(col("gram")).as("g"))
      val df = grams.groupBy("g")
        .agg(countDistinct(col("doc_id")).as("nd"))
      grams.join(df, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac", floor(
          col("n_dup").cast(DoubleType) / col("n_grams") * 1e4 + 0.5) / 1e4)
        .select(col("doc_id"), col("n_grams"), col("n_dup"), col("dup_frac"),
          (col("dup_frac") >= 0.30).as("flagged"))
        .orderBy("doc_id")
    }),

    // l22: directional shingle CONTAINMENT — the asymmetric member of the
    // dedup family (j1 exact, j2/l9 symmetric Jaccard, l18 incremental):
    // find (A, B) where ≥ 90% of A's word-3-gram shingles also appear in
    // B — the "short doc copied into a long doc" shape that symmetric
    // Jaccard structurally misses (J = |∩|/|∪| dilutes as |B| grows,
    // containment C = |∩|/|A| does not). Prefix principle, asymmetric
    // variant: only the PROBE side A can be prefix-indexed (its rarest
    // n − ⌈0.9n⌉ + 1 shingles — lossless for C ≥ 0.9); the containing
    // side must stay fully indexed since C ignores |B|. Fan-out stays
    // bounded because prefixes hold only globally-RARE shingles (df-asc
    // canonical order) — hub shingles never enter a prefix, so the
    // candidate join is df(rare)-bounded, never corpus². Threshold as
    // integers (10·common ≥ 9·|A|); exact verification on candidates.
    // The shingle frame is a per-run checkpoint, not a session-shared one:
    // l22 is its only consumer, and a shared copy measured slower in
    // total at sf0.1 (2.14 s recompute vs 1.72 s warm + 1.31 s one-time
    // build, min-of-6 pass-interleaved). At scale it is also the wrong
    // trade: the full shingle materialization is O(corpus tokens) of
    // storage memory, while the per-run build streams (guide §5).
    "l22_containment_ngram" -> ((s, d) =>
      containmentNgram(LlmOps.shingleRows(s, d)
        .localCheckpoint(eager = false))), // feeds df, prefixes, verification

    // l19: sliding-window chunking — the long-document complement of
    // l13's packing: split each doc's token stream into fixed-size
    // chunks with a stride overlap that keeps boundary context for
    // pretraining / retrieval indexing. Chunk count = 1 for n ≤ CHUNK,
    // else ceil((n−CHUNK)/STRIDE)+1 in exact integer form, so the final
    // chunk always covers the tail and every start is a fixed multiple
    // of the stride (deterministic, resumable chunk ids). CHUNK=64 /
    // STRIDE=56 (8-token overlap) are scaled to this corpus's ≤100-token
    // docs — 194/500 docs at sf0.01 split into ≥2 chunks, so the oracle
    // genuinely exercises the stride and tail math (a production 512/448
    // would never split here and the oracle would be vacuous). Pure
    // per-row array math (sequence → explode): ZERO shuffle besides the
    // contract's final sort — at corpus scale this is a map fused into
    // the scan.
    "l19_chunk_overlap" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast(LongType).as("n_tokens"))
        .withColumn("n_chunks",
          when(col("n_tokens") <= 64L, lit(1L))
            .otherwise(expr("(n_tokens - 64 + 55) div 56") + 1L))
        .select(col("doc_id"), col("n_tokens"),
          explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * 56L).as("tok_start"),
          least(lit(64L), col("n_tokens") - col("chunk_id") * 56L).as("n_toks"))
        .orderBy("doc_id", "chunk_id")),

    // l23: PII / sensitive-pattern redaction — the scrub pass every
    // production corpus runs before training: per-class regex redaction
    // (email, phone, SSN-shaped id) with per-class match counts for the
    // compliance audit trail. The corpus text has no PII (synthetic,
    // lowercase words only — verified), so PII is PLANTED first, as a
    // deterministic pure function of the stable doc id (the l10/l20 md5
    // idiom: three independent hex digits of md5(doc_id) gate three ~50%
    // plants whose digits derive from doc_id) — both engines splice
    // byte-identical text, so the redaction itself is fully oracled.
    // Patterns stay in the literal-safe subset Java regex and RE2 parse
    // identically (classes, \d, \b, {m,n} — the h2 lesson); counts are
    // taken BEFORE replacement; replacement is global on both engines
    // (Spark regexp_replace default; DuckDB 'g' flag). Single scan,
    // per-row exprs, zero shuffle beyond the contract sort — at corpus
    // scale this is a map fused into the scan.
    "l23_pii_redact" -> ((s, d) => {
      val h = md5(col("doc_id").cast(StringType).cast(BinaryType))
      val idS = col("doc_id").cast(StringType)
      val email = when(substring(h, 1, 1) < "8",
        concat(lit(" contact user"), idS, lit("@example.com"))).otherwise(lit(""))
      val phone = when(substring(h, 2, 1) < "8",
        concat(lit(" call 555-"),
          lpad(((col("doc_id") * 7) % 1000).cast(StringType), 3, "0"), lit("-"),
          lpad(((col("doc_id") * 13) % 10000).cast(StringType), 4, "0")))
        .otherwise(lit(""))
      val ssn = when(substring(h, 3, 1) < "8",
        concat(lit(" ssn "),
          lpad(((col("doc_id") * 3) % 1000).cast(StringType), 3, "0"), lit("-"),
          lpad((col("doc_id") % 100).cast(StringType), 2, "0"), lit("-"),
          lpad(((col("doc_id") * 11) % 10000).cast(StringType), 4, "0")))
        .otherwise(lit(""))
      val emailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
      val phoneRe = """\b\d{3}-\d{3}-\d{4}\b""" // disjoint from ssnRe by group widths
      val ssnRe = """\b\d{3}-\d{2}-\d{4}\b"""
      t(s, d, "documents")
        .select(col("doc_id"), concat(col("text"), email, phone, ssn).as("pii_text"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("pii_text"), lit(emailRe), lit(0)))
            .cast(LongType).as("n_emails"),
          size(regexp_extract_all(col("pii_text"), lit(phoneRe), lit(0)))
            .cast(LongType).as("n_phones"),
          size(regexp_extract_all(col("pii_text"), lit(ssnRe), lit(0)))
            .cast(LongType).as("n_ids"),
          regexp_replace(regexp_replace(regexp_replace(col("pii_text"),
            emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ssnRe, "<ID>").as("redacted"))
        .orderBy("doc_id")
    }),

    // l25: token-distribution DRIFT monitor — the monitoring twin of
    // incremental ingestion (l18): KL(delta ‖ corpus) over unigram
    // distributions, per-term, so a drifting delta shard is caught (and
    // attributed to the tokens driving it) before it trains. Delta/corpus
    // split = the l18 md5-id cut; corpus side is Laplace-smoothed over
    // the UNION vocabulary (so delta-only tokens contribute finitely —
    // they are exactly the strongest drift signal). Portability: each
    // term's contribution p_d·ln(p_d/p_c) is quantized to integer
    // MICRO-NATS (the l21 trick), so the headline KL is an exact integer
    // sum — summation order can never flip a boundary. One token scan →
    // one vocabulary-bounded agg (map-side combinable) → a ≤|V|-row
    // window: linear at any corpus size, output bounded by vocabulary.
    "l25_token_drift" -> ((s, d) => {
      val w = Window.partitionBy()
      LlmOps.tokens(s, d)
        .select(col("term"), (!idBelow("e0")).as("is_delta")) // l18's delta cut
        .groupBy("term")
        .agg(sum(when(col("is_delta"), 1L).otherwise(0L)).as("d_cnt"),
          sum(when(!col("is_delta"), 1L).otherwise(0L)).as("c_cnt"))
        .withColumn("d_tot", sum(col("d_cnt")).over(w))
        .withColumn("c_tot", sum(col("c_cnt")).over(w))
        .withColumn("v", count(lit(1)).over(w)) // union vocab, pre-filter
        .filter(col("d_cnt") > 0) // KL runs over the delta's support
        .withColumn("pd", col("d_cnt").cast(DoubleType) / col("d_tot"))
        .withColumn("pc",
          (col("c_cnt") + lit(1L)).cast(DoubleType) / (col("c_tot") + col("v")))
        .withColumn("q_contrib",
          floor(col("pd") * log(col("pd") / col("pc")) * 1e6 + 0.5).cast(LongType))
        .withColumn("kl_unats", sum(col("q_contrib")).over(w))
        .select(col("term"), col("d_cnt"), col("c_cnt"),
          col("q_contrib"), col("kl_unats"))
        .orderBy("term")
    }),

    // l24: the filter FUNNEL report — the attrition table every corpus
    // pipeline owner watches: how many docs survive each cleaning stage,
    // and which stage drops what. Five keep-flags, each computed GLOBALLY
    // with a stage formula this suite has already verified key-by-key
    // (l5 quality, l14 repetition thresholds, l21 unigram-LM
    // xent ≤ 3.41, j1/l17 exact-dedup min-id rule, l16 eval-shingle
    // decontamination), conjoined in pipeline order. The quality cut is
    // pinned at ≥ 0.26 (≈ this corpus's p10) rather than l17's 0.5: at
    // 0.5 the first stage drops 497/500 and every later stage is vacuous
    // — the l19 lesson (scale thresholds so the oracle genuinely
    // exercises each stage: here 500→437→430→390→390→367 at sf0.01,
    // every stage but dedup visibly contributing, dedup honestly 0
    // because sf0.01 has no exact dups) — so the funnel is
    // the REPORT twin of l17's output pipeline (l17 materializes the
    // survivors; l24 accounts for the drops). Flags join on doc_id
    // (hash shuffles of ids, never text), the conjunction counts are one
    // map-side-combinable global agg, and the 6-row stack is driver-side
    // array math: linear at any corpus size.
    "l24_filter_funnel" -> ((s, d) => {
      val uniq = t(s, d, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("dig"),
          words(lower(col("text"))).as("ws"))
        .select(col("doc_id"), col("dig"), (evalHits(col("ws")) > 0L).as("dirty"))
        .withColumn("m", min(col("doc_id")).over(Window.partitionBy("dig")))
        .select(col("doc_id"), (col("doc_id") === col("m")).as("uniq"), col("dirty"))
      // features come from the SHARED qualityFeatures frame (already
      // LEFT-joined onto the full doc list; token-less docs carry nulls,
      // which every coalesce-gate below drops) — the same frame l27
      // classifies, materialized once per session
      val flags = qualityFeatures(s, d)
        .join(uniq, Seq("doc_id"), "left")
        .select( // token-less docs: null features → every coalesce drops them
          coalesce(col("xq") >= 0.26, lit(false)).as("q"),
          coalesce(col("xbi") <= 0.08 && col("xtri") <= 0.05, lit(false)).as("rep"),
          coalesce(col("xent") <= 3.41, lit(false)).as("lm"),
          col("uniq"),
          (!coalesce(col("dirty"), lit(false))).as("clean"),
          // stage 6: l27's pinned-weight classifier on the SAME features
          // the gate stages already computed — marginal-on-every-axis docs
          // that slipped through the per-feature gates die here
          coalesce(floor(
            (lit(10.0) * col("xq") - lit(20.0) * col("xbi")
              - lit(30.0) * col("xtri") - lit(40.0) * col("xent") + lit(136.0))
              * lit(1e6) + lit(0.5)).cast(LongType) >= 1500000L,
            lit(false)).as("clf"))
      def surv(cs: Column*): Column =
        sum(when(cs.reduce(_ && _), 1L).otherwise(0L))
      val aggRow = flags.agg(
        count(lit(1)).as("s0"),
        surv(col("q")).as("s1"),
        surv(col("q"), col("rep")).as("s2"),
        surv(col("q"), col("rep"), col("lm")).as("s3"),
        surv(col("q"), col("rep"), col("lm"), col("uniq")).as("s4"),
        surv(col("q"), col("rep"), col("lm"), col("uniq"), col("clean")).as("s5"),
        surv(col("q"), col("rep"), col("lm"), col("uniq"), col("clean"),
          col("clf")).as("s6"))
      def row(i: Int, name: String, cur: Column, prevS: Column): Column =
        struct(lit(i.toLong).as("stage_id"), lit(name).as("stage"),
          cur.as("survivors"), (prevS - cur).as("dropped"))
      aggRow.select(explode(array(
          row(0, "all", col("s0"), col("s0")),
          row(1, "quality", col("s1"), col("s0")),
          row(2, "repetition", col("s2"), col("s1")),
          row(3, "unigram_lm", col("s3"), col("s2")),
          row(4, "exact_dedup", col("s4"), col("s3")),
          row(5, "decontaminate", col("s5"), col("s4")),
          row(6, "classifier", col("s6"), col("s5")))).as("r"))
        .select(col("r.stage_id").as("stage_id"), col("r.stage").as("stage"),
          col("r.survivors").as("survivors"), col("r.dropped").as("dropped"))
        .orderBy("stage_id")
    }),

    // l26: BM25 ranked lexical retrieval — the one similarity-search
    // modality the suite lacked: vectors are covered (j3/j4/l3/l12) and
    // set overlap is covered (l9/l22), but "rank the corpus against this
    // query" over an inverted index is the op a corpus curator runs
    // daily (mining topic slices, building eval sets, spot-checking
    // dedup clusters). Okapi BM25 [Robertson et al., TREC-3 '94] with
    // the standard pinned constants k1=1.2, b=0.75 and the +1-smoothed
    // idf ln((N − df + 0.5)/(df + 0.5) + 1) (always positive, so a
    // term can never subtract relevance). The query term set is pinned
    // (dup / vector / query — df 25/382/385 at sf0.01: one rare
    // high-idf term so the ranking visibly discriminates, two common
    // terms so candidates score on several axes). Portability: each
    // (doc, term) contribution is quantized to integer MICRO-units (the
    // l21/l25 trick) so the per-doc score is an exact integer sum and
    // the DESC-score / ASC-id top-10 cut is order-proof. Plan shape:
    // ONE token scan (localCheckpoint — feeds lengths, df, tf), every
    // agg map-side combinable and bounded by docs or vocab; df and the
    // one-row (N, total-tokens) stats frame broadcast; top-k is a
    // TakeOrderedAndProject. The posting lists materialized are the
    // pinned query's terms only (the isin filter runs before the tf
    // agg), so hub terms outside the query never fan out — linear in
    // corpus size, the bucketed-index shape at 100 TB.
    "l26_bm25_topk" -> ((s, d) =>
      bm25ScoreU(s, d)
        .orderBy(col("score_u").desc, col("doc_id"))
        .limit(10)),

    // l51: HYBRID RETRIEVAL via reciprocal-rank fusion — the modern
    // retrieval stack's standard combiner [Cormack & Clarke, SIGIR'09]:
    // the lexical ranking (l26's BM25 over the pinned query terms) and
    // the dense ranking (j4's cosine kNN against the pinned query
    // vector, restricted to doc-aligned embeddings by j10's
    // doc_id = vec_id convention) each contribute 1/(60 + rank), and
    // the fused top-10 surfaces docs NEITHER list ranks first — the
    // reason every production RAG/eval-mining pipeline fuses instead
    // of picking one modality. Determinism engineering: ranks are
    // row_number over (exact-integer BM25 micro-score | 4-dp-quantized
    // cosine, both tie-broken by doc_id), and the RRF contribution is
    // INTEGER division 1000000 DIV (60 + r) — no floating point
    // anywhere in the fusion, so the final cut hashes identically on
    // both engines. Plan shape: each leg is the already-linear
    // machinery (query-term posting lists only; one broadcast query
    // vector over a linear scan — l3's IVF replaces it at scale) cut
    // to top-20 by TakeOrderedAndProject; ranking + fusion then touch
    // exactly 20+20 rows (the bounded single-partition window is on a
    // 20-row frame by construction), and the full-outer fuse join is
    // trivially broadcast-sized. At 100 TB the legs dominate and stay
    // linear; fusion cost is O(k).
    "l51_hybrid_rrf" -> ((s, d) => hybridFused(s, d)),

    // l52: RETRIEVAL QUALITY METRICS — the evaluation half every
    // retrieval stack needs next to l51's ranker (mining eval sets,
    // regression-gating index/ranker changes): recall@10, MRR, and
    // nDCG@10 of the fused ranking against a relevance set (docs
    // containing the rare pinned term 'dup' — l26's highest-idf query
    // term, so relevance is derived from the corpus itself, not
    // labels). Integer-exactness throughout (the l21/l26 discipline):
    // each DCG term floor-quantizes 1e6/log2(r+1) BEFORE summing (the
    // per-term doubles sit far from .5 boundaries for r ≤ 10; an FP
    // sum of the raw terms would be partition-order-sensitive), MRR is
    // integer division by the first relevant rank, and IDCG folds the
    // ideal prefix min(10, |relevant|) from an in-plan range — so the
    // single metrics row hashes identically on both engines. Plan:
    // l51's legs + a broadcast semi-join of 10 ranked rows against the
    // relevance set + three 1-row frames combined by broadcast cross —
    // metric cost is O(k) on top of the ranker, the 100 TB shape
    // (evaluation never rescans the corpus).
    "l52_retrieval_metrics" -> ((s, d) => {
      val rel = LlmOps.tokens(s, d).filter(col("term") === "dup")
        .select("doc_id").distinct()
      val wF = Window.orderBy(col("rrf_u").desc, col("doc_id"))
      val ranked = hybridFused(s, d)
        .withColumn("r", row_number().over(wF).cast(LongType))
      val dcgTerm =
        floor(lit(1e6) / log2(col("r") + lit(1)) + lit(0.5)).cast(LongType)
      val hitAgg = ranked.join(rel, "doc_id")
        .agg(count(lit(1)).as("hits_at_10"),
          min(col("r")).as("first_rel_rank"),
          sum(dcgTerm).as("dcg_u"))
      val nrel = rel.agg(count(lit(1)).as("n_rel"))
      val idcg = s.range(1, 11).select(col("id").as("r"))
        .crossJoin(broadcast(nrel))
        .filter(col("r") <= least(lit(10L), col("n_rel")))
        .agg(sum(dcgTerm).as("idcg_u"))
      nrel.crossJoin(broadcast(hitAgg)).crossJoin(broadcast(idcg))
        .select(col("n_rel"), col("hits_at_10"), col("first_rel_rank"),
          expr("1000000L DIV first_rel_rank").as("mrr_u"),
          col("dcg_u"), col("idcg_u"))
    }),

    // l27: learned quality filter — the classifier stage of the funnel
    // (the one production cleaning stage l24 didn't have): a logistic
    // model over the suite's already-verified quality FEATURES — l5's
    // composite (xq), l14's top-bigram fraction (xbi) and duplicate-
    // trigram fraction (xtri), l21's unigram-LM cross-entropy (xent) —
    // with the WEIGHTS PINNED as literals (z = 10·xq − 20·xbi − 30·xtri
    // − 40·xent + 136; a trained model ships exactly like this: frozen
    // coefficients over engineered features). Unlike the per-feature
    // threshold gates, the classifier AGGREGATES evidence: a doc that is
    // marginal on every axis passes each gate individually but scores
    // below the keep line (17/500 such flips at sf0.01 — proven on a
    // fixture in TrainOpsSpec). Portability: z is quantized to integer
    // MICRO-units BEFORE the sigmoid (the l21 trick), so keep is an
    // exact integer comparison and both engines take exp() of the same
    // double. keep = z_u ≥ 1_500_000 (z ≥ 1.5 ≈ this corpus's p20 —
    // the l24 non-vacuous-threshold lesson). Docs need ≥ 3 tokens for
    // the trigram feature (all sf docs qualify; shorter docs are
    // upstream length-filter territory). Plan: one token scan + one
    // doc scan, per-doc map-side-combinable aggs, a broadcast vocab
    // join — linear at any corpus size, zero pairwise stage.
    "l27_quality_classifier" -> ((s, d) => {
      // the SHARED feature frame (qualityFeatures) left-joins docs, so
      // classifier eligibility = all features present — the same doc set
      // the former inner qual ⋈ rep ⋈ lm chain produced (xq/xent null iff
      // the doc has no tokens; xbi/xtri null iff it has < 3)
      qualityFeatures(s, d)
        .filter(col("xq").isNotNull && col("xbi").isNotNull
          && col("xent").isNotNull)
        .withColumn("z_u", floor(
          (lit(10.0) * col("xq") - lit(20.0) * col("xbi")
            - lit(30.0) * col("xtri") - lit(40.0) * col("xent") + lit(136.0))
            * lit(1e6) + lit(0.5)).cast(LongType))
        .select(col("doc_id"), col("z_u"),
          // residual-risk note (ADVICE r11): both engines feed exp() the
          // identical double (z_u is quantized first), but Math.exp vs
          // DuckDB's std::exp may differ by 1 ulp, which at an exact
          // .00005 boundary could flip this cosmetic 4-dp rounding and
          // the hash. z_u is the authoritative integer value (emitted
          // alongside) and keep cuts on z_u exactly — a flip here would
          // be display-only. Accepted, same class as the j6/l21 ln pins.
          (floor(lit(1.0) / (lit(1.0) + exp(-(col("z_u").cast(DoubleType) / lit(1e6))))
            * 1e4 + 0.5) / 1e4).as("score"),
          (col("z_u") >= 1500000L).as("keep"))
        .orderBy("doc_id")
    }),

    // l28: PARTITION-PRUNED lake read — the #1 100-TB lever as a
    // first-class oracled key: documents laid out PARTITIONED BY lang
    // (the hive-style lake layout a production corpus ships in — one
    // directory per language), and a lang-scoped job whose scan must
    // touch ONE partition's files. Pruning is asserted FAIL-LOUD from
    // the executed plan — a `PartitionFilters` entry on the scan, not a
    // post-scan row filter — and pinned again in PlanShapeSpec together
    // with column pruning (the scan reads only source/n_chars: at
    // 100 TB this query reads lang=en's two thin columns, nothing
    // else). The layout is a cached fixture (one partitionBy write per
    // machine per source-data signature); results are layout-invariant,
    // so the oracle reads the FLAT table with a WHERE — the key proves
    // the partitioned path returns byte-identical answers while
    // provably skipping the other partitions' files.
    "l28_partition_pruned_scan" -> ((s, d) => {
      val dir = cachedFixture(s, d, "langpart_docs") { tmp =>
        s.read.parquet(s"$d/documents.parquet")
          .write.partitionBy("lang").parquet(s"$tmp/documents_by_lang")
      }
      val scan = s.read.parquet(s"$dir/documents_by_lang")
        .filter(col("lang") === "en")
        .select("source", "n_chars")
      // fail-loud pruning gate on the PLAN TREE (not the formatted string,
      // which a Spark version bump may reformat): the lang predicate must
      // surface as a partitionFilter on the file scan node
      val pruned = scan.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.partitionFilters.exists(_.references.exists(_.name == "lang"))
      }
      require(pruned.nonEmpty && pruned.forall(identity),
        "lang filter did not prune the partitioned layout:\n" +
          scan.queryExecution.executedPlan.toString)
      scan.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .orderBy("source")
    }),

    // l29: SUB-DOCUMENT dedup on CONTENT-DEFINED chunks — the C4-style
    // "repeated boilerplate paragraph" pass (drop the newsletter footer,
    // keep the article) that whole-doc dedup (j1) structurally misses.
    // Fixed-grid segmentation can't do this: a shared passage at
    // different offsets lands on different grid cells and never matches.
    // Content-defined chunking (the LBFS/winnowing idea) cuts AFTER
    // token i iff md5(token_i ∥ ' ' ∥ token_i+1) < '1' (≈ 1/16 rate,
    // mean chunk ~16 tokens): boundaries depend only on LOCAL content,
    // so a shared passage chunks identically at any offset in any doc.
    // The corpus has no cross-doc passages, so one is PLANTED (the l23
    // idiom): a 51-token boilerplate footer appended to the md5(doc_id)
    // < '8' half — its interior chunks (5 at sf0.01) repeat across all
    // 250 planted docs while its junction chunk stays doc-unique; the
    // 31-token vocab also repeats short chunks naturally (103 repeated
    // hashes), so the op is non-vacuous beyond the plant. Canonical
    // occurrence = lexicographic-min (doc_id, chunk_id) per hash,
    // computed as two map-side-combinable aggs (min doc, then min chunk
    // within it) — NOT a per-hash window, so a hot boilerplate hash
    // partial-aggregates instead of single-partition sorting. keep =
    // dup_frac ≤ 0.4 as the exact integer comparison 5·n_dup ≤
    // 2·n_chunks (≈ corpus median — the l24 non-vacuous rule: 227/500
    // drop at sf0.01). Chunking is the POSITIONAL window formulation
    // (posexplode → lead/cumsum per doc → group to chunks — the l6/l13
    // shape: one hash-shuffle by doc_id, in-partition sort): a first
    // draft built chunks per-row with an `aggregate` HOF over a
    // struct(array,string) accumulator, and an 8× near-duplicate clone
    // of the corpus caught it at 443 s — the interpreted array-accumulator
    // copy per element is pathologically slow; the window form runs the
    // same clone in seconds. The aggs/joins shuffle 32-hex hashes and ids,
    // never text. Linear at any corpus size.
    "l29_dedup_cdc_chunks" -> ((s, d) => {
      val boiler = "subscribe now for weekly updates and exclusive offers " +
        "delivered straight to your inbox unsubscribe anytime with one click " +
        "terms and conditions apply see our privacy policy for details about " +
        "how we handle your data and cookies follow us on social media for " +
        "breaking news and special announcements thank you for reading"
      val gate = substring(md5(col("doc_id").cast(StringType)
        .cast(BinaryType)), 1, 1) < "8"
      val ws = words(lower(
        when(gate, concat(col("text"), lit(" " + boiler)))
          .otherwise(col("text"))))
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(ws).as(Seq("pos", "term")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val nxt = lead(col("term"), 1).over(w)
      val occ = toks
        .withColumn("b", when(nxt.isNotNull &&
          md5(concat(col("term"), lit(" "), nxt).cast(BinaryType)) < "1", 1L)
          .otherwise(0L))
        .withColumn("chunk_id", coalesce(
          sum(col("b")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .groupBy("doc_id", "chunk_id")
        .agg(collect_list(struct(col("pos"), col("term"))).as("ts"))
        .select(col("doc_id"), col("chunk_id"),
          md5(concat_ws(" ",
            transform(array_sort(col("ts")), x => x.getField("term")))
            .cast(BinaryType)).as("h"))
        .localCheckpoint(eager = false) // feeds both canonical aggs + the mark join
      // canonical occurrence per content hash = lexicographic min of
      // (doc_id, chunk_id): ONE struct-min aggregation (r22 — the d20
      // max_by idiom; guide §2 fewer shuffles) instead of the former
      // min(doc)→rejoin→filter→min(chunk) chain, which cost an extra
      // hash join + Exchange over the chunk-hash frame. min(struct) is
      // a DeclarativeAggregate — map-side combinable, codegen'd; its
      // lexicographic order ≡ (min doc, then min chunk within that doc)
      // because chunk rows are unique per (h, doc_id, chunk_id).
      val cs = occ.groupBy("h")
        .agg(min(struct(col("doc_id"), col("chunk_id"))).as("m"))
        .select(col("h"), col("m.doc_id").as("cd"), col("m.chunk_id").as("co"))
      occ.join(cs, "h")
        .select(col("doc_id"),
          (!(col("doc_id") === col("cd") && col("chunk_id") === col("co"))).as("dup"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
          (floor(col("n_dup").cast(DoubleType) / col("n_chunks") * 1e4 + 0.5) / 1e4)
            .as("dup_frac"),
          (col("n_dup") * 5L <= col("n_chunks") * 2L).as("keep"))
        .orderBy("doc_id")
    }),

    // (l29 canonical-selection A/B, r22: temporary x_l29_old/x_l29_new
    // twins sharing the occ build, min-of-6 pass-interleaved
    // same-interval at sf0.1 — old chain 1.139 s vs struct-min 1.141 s,
    // a tie; the win is plan-structural (12→8 Exchange, 4→2 joins) and
    // scales with the chunk-hash frame. Twins removed after the
    // measurement; plans/r22/l29_ab_r22.json.)

    // l30: multimodal FRAME SAMPLING — the remaining plumbing op of the
    // brief's multimodal family (decode = l7, join = j10): pull every
    // 4th frame (capped at 8) out of an opaque media blob by pure byte
    // math, the Spark-side shape of "sample video frames for the vision
    // encoder". Frames here are the fake-but-typed layout l7 decodes:
    // after the 16-byte header the body is channels·4-byte frames. The
    // sampler is entirely expression-level (explode over an index
    // sequence + binary substring per frame + md5 content digest): a
    // map fused into the scan — no UDF, no shuffle beyond the contract
    // sort, the same plan at any corpus size. Hex images are lowercased
    // on BOTH engines before slicing/hashing (Spark and DuckDB both
    // emit uppercase hex; md5 of the hex STRING is case-sensitive).
    "l30_multimodal_frame_sample" -> ((s, d) => {
      val width = lit(16L) + col("doc_id") % 1017L
      val height = lit(16L) + (col("doc_id") * 3L) % 737L
      val chans = lit(1L) + col("doc_id") % 4L
      def be32(c: Column): Column = lpad(hex(c), 8, "0") // l7's blob, verbatim
      t(s, d, "documents").select(col("doc_id"),
          concat(
            unhex(concat(lit("47524654"), be32(width), be32(height), be32(chans))),
            col("text").cast(BinaryType)).as("payload"),
          (chans * 4L).as("fb"))
        .withColumn("n_frames", expr("(length(payload) - 16) div fb"))
        .filter(col("n_frames") >= 1L)
        .withColumn("n_samp", least(lit(8L), expr("(n_frames - 1) div 4") + 1L))
        .select(col("doc_id"), col("payload"), col("fb"),
          explode(sequence(lit(0L), col("n_samp") - 1L)).as("i"))
        .withColumn("frame_idx", col("i") * 4L)
        .withColumn("off_bytes", lit(16L) + col("frame_idx") * col("fb"))
        .withColumn("frame_hex",
          lower(hex(expr("substring(payload, off_bytes + 1, fb)"))))
        .select(col("doc_id"), col("frame_idx"), col("off_bytes"),
          col("frame_hex"), md5(col("frame_hex").cast(BinaryType)).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    }),

    // l31: SemDeDup — cluster-then-dedup embedding pass, the OTHER
    // production embedding-dedup shape next to l12's SRP-LSH banding:
    // assign every vector to a Lloyd-trained cell (l3's trainer, reused
    // verbatim — the coarse quantizer is a shared component), then exact
    // pairwise cosine WITHIN cells only; a vector is dropped when a
    // smaller-id same-cell neighbor sits at/above the threshold. The
    // quadratic stage is bounded per cell: at corpus scale ncells grows
    // with n (so per-cell lists stay ~constant and the cid equi-join
    // shuffles vectors once), while cross-cell pairs are never formed —
    // the SemDeDup recall trade-off, measured in TrainOpsSpec's planted
    // same-cell/cross-cell fixture. Threshold pinned at a corpus quantile
    // (0.40 → 17 same-cell pairs at sf0.01) so the dedup stage visibly
    // contributes (the l19 lesson); the synthetic corpus has no planted
    // embedding near-dups (max pairwise cosine 0.51), so a production
    // 0.98 cut would be vacuous here — semantics are threshold-invariant.
    "l31_semdedup_cells" -> ((s, d) => {
      val e = LlmOps.embs(s, d)
      val train = e.filter(col("vec_id") < 16 || idBelow(col("vec_id"), "80"))
      semDedupCells(e, train, iters = 2, thresh = 0.40)
    }),

    // l32: connected-component dedup CLUSTERING — the canonical post-pass
    // of every near-dup pipeline: verified pairs → transitive closure →
    // per-doc (cluster_id, cluster size, canonical flag), i.e. the actual
    // keep/drop list a 100-TB dedup job ships. Pairs ARE the shared
    // verifiedPairs frame — the l9 key's exact output (the ORACLED
    // exact-Jaccard producer), materialized once per session; the
    // clusters are LlmOps.connectedComponents of those pairs, the kernel
    // j2/l1/l12/l50 use too, here as a DuckDB-oracled key of its own
    // (recursive-CTE min-reachability). The sf0.01 dup graph is 22 pairs
    // + one TRIANGLE (similarity is bimodal there), so the hash pins
    // end-to-end pair production + labels/sizes/flags but NOT
    // transitivity; the chain case a one-hop formulation gets wrong is
    // pinned by TrainOpsSpec's planted 3-doc chain run through this whole
    // query, and by PropertySpec's union-find property on the kernel.
    "l32_dedup_cluster_cc" -> ((s, d) => {
      val clusters = LlmOps.connectedComponents(
        t(s, d, "documents").select("doc_id"), verifiedPairs(s, d))._1
      val csize = clusters.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      clusters.join(csize, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("csize"),
          (col("doc_id") === col("cluster_id")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    // l33: DSIR-style importance weighting [Xie et al., NeurIPS'23] — the
    // data-SELECTION op of the brief's training-data family: score every
    // doc by how much more likely its hashed n-gram features are under a
    // TARGET domain sample than under the raw pool, keep docs whose
    // log-likelihood ratio is positive ("more target-like than not" — the
    // hard-threshold variant of DSIR's importance resampling). Features =
    // unigrams + word bigrams hashed into 64 buckets (md5 first-6-hex mod
    // 64 — the l10/l20 determinism idiom, engine-portable); target = the
    // src0–src4 curated slice (125/500 docs at sf0.01); both bucket
    // distributions Laplace-smoothed over the 64 buckets; per-bucket
    // log-ratio quantized to integer MICRO-NATS (l21's trick) so each
    // doc's sum is exact integer arithmetic and summation order can never
    // flip the keep. keep = llr_munats >= 0 is non-vacuous by
    // construction at this corpus (213/500 keep; min |llr| = 104 munats,
    // comfortably off the boundary — the residual 1-ulp ln risk is the
    // same accepted class as l21/j6/l27). Scale: the gram stream is a
    // flat map fused into the scan; the histogram agg's OUTPUT is
    // 64 rows regardless of corpus size (map-side combinable), joined
    // back as a BROADCAST — so the whole op is two linear passes with
    // zero data-sized shuffle beyond the contract sort. At 100 TB the
    // importance model trains on the same bounded histogram a laptop
    // would produce.
    "l33_select_dsir" -> ((s, d) => {
      val tgtSrcs = Seq("src0", "src1", "src2", "src3", "src4")
      val ws = words(lower(col("text")))
      val grams = t(s, d, "documents")
        .select(col("doc_id"), col("source"), ws.as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(col("doc_id"), col("source"),
          explode(concat(col("ws"), wordNgrams(col("ws"), 2))).as("gram"))
        .select(col("doc_id"), col("source"),
          (conv(substring(md5(col("gram").cast(BinaryType)), 1, 6), 16, 10)
            .cast(LongType) % 64).as("bkt"))
        .localCheckpoint(eager = false) // feeds the histogram AND the per-doc sum
      val w = Window.partitionBy()
      val hist = grams.groupBy("bkt")
        .agg(sum(when(col("source").isin(tgtSrcs: _*), 1L).otherwise(0L)).as("t_cnt"),
          count(lit(1)).as("r_cnt"))
        .withColumn("t_tot", sum(col("t_cnt")).over(w))
        .withColumn("r_tot", sum(col("r_cnt")).over(w))
        .select(col("bkt"),
          floor((log((col("t_cnt") + 1L).cast(DoubleType) / (col("t_tot") + 64L))
            - log((col("r_cnt") + 1L).cast(DoubleType) / (col("r_tot") + 64L)))
            * 1e6 + 0.5).cast(LongType).as("q_llr"))
      grams.join(broadcast(hist), "bkt")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum(col("q_llr")).as("llr_munats"))
        .select(col("doc_id"), col("n_grams"), col("llr_munats"),
          (floor(col("llr_munats").cast(DoubleType) / col("n_grams") / 1e6 * 1e4
            + 0.5) / 1e4).as("mean_llr"),
          (col("llr_munats") >= 0L).as("keep"))
        .orderBy("doc_id")
    }),

    // l34: DYNAMIC partition pruning — the RUNTIME half of l28's scan
    // lever. l28 prunes on a LITERAL partition predicate; the other
    // production shape is "scan the lake for whatever partitions a dim
    // query selects", where the partition set is only known at run time
    // (here: langs whose md5 bucket ≡ 0 mod 4 — {de, fr}, 2 of 5
    // partitions, derived from a SCANNED frame so Catalyst cannot fold
    // it to literals and static pruning is impossible). Spark's
    // DynamicPartitionPruning rule plants an IN-subquery partition
    // filter on the lake scan fed by the join's reused dim BROADCAST:
    // the fact side lists and reads 2 of 5 partition directories at any
    // corpus size — the lever a star-schema fact scan lives on at
    // 100 TB, where the dim predicate (not a literal) decides which
    // day/tenant/language slices of the lake exist to the job. Pruning
    // asserted FAIL-LOUD from the plan tree (a DynamicPruning partition
    // filter on the lake scan, looked up through the AQE wrapper);
    // results are layout-invariant, so the oracle is the same join on
    // the FLAT table.
    "l34_join_dpp_prune" -> ((s, d) => {
      val dir = cachedFixture(s, d, "langpart_docs") { tmp =>
        s.read.parquet(s"$d/documents.parquet")
          .write.partitionBy("lang").parquet(s"$tmp/documents_by_lang")
      }
      val dim = t(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("lang_docs"))
        .filter(conv(substring(md5(col("lang").cast(BinaryType)), 1, 6), 16, 10)
          .cast(LongType) % 4 === 0)
      val joined = s.read.parquet(s"$dir/documents_by_lang")
        .join(broadcast(dim), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          max(col("lang_docs")).as("lang_docs"))
        .orderBy("lang")
      val phys = joined.queryExecution.executedPlan
      val root = phys match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      val lakeScans = root.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths
              .exists(_.toString.contains("documents_by_lang")) => f
      }
      require(lakeScans.nonEmpty && lakeScans.forall(_.partitionFilters.exists(
          _.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.DynamicPruning]))),
        "runtime DPP filter missing on the lake scan:\n" + root.toString)
      joined
    }),

    // l35: SMALL-FILE COMPACTION — the lake-maintenance operator (OPTIMIZE
    // in lakehouse dialects) every partitioned sink eventually needs:
    // streaming/incremental writers fragment each partition into many tiny
    // files, and scan parallelism + footer overhead degrade until a
    // maintenance job rewrites each partition into size-targeted files.
    // Fixture = the realistic degraded state: the lang-partitioned lake
    // written from a 64-way shuffle, so every lang directory holds ~64
    // shard files. Compaction = ONE hash exchange on the partition key
    // (repartition by lang puts each lang's rows in a single task) + a
    // partitionBy write capped at maxRecordsPerFile=100 — which makes the
    // per-lang output file count EXACTLY ceil(rows/100), a deterministic,
    // batch-expressible quantity. The query fail-louds on the physical
    // outcome (read-back per-lang distinct-file counts must equal the
    // formula; fragmented counts must strictly shrink; row counts must
    // round-trip) and emits the (lang, n_docs, n_files_after) maintenance
    // report. Scale: the rewrite is partition-parallel with no wide
    // shuffle beyond the one partition-key exchange; maxRecordsPerFile is
    // the knob that sizes downstream scan splits — at 100 TB this job IS
    // how a lake keeps its file-size SLO.
    "l35_compact_small_files" -> ((s, d) => {
      val rowsPerFile = 100
      val frag = cachedFixture(s, d, "fragmented_lake") { tmp =>
        // the degraded state must scale WITH the corpus: real tiny-file
        // pathology has constant (tiny) file size, so file count grows
        // with the data — a fixed shard count would be OVERTAKEN by the
        // ceil(rows/100) compaction target at larger corpora (an 8×
        // clone of the corpus caught exactly that). ~25 rows per
        // fragment, capped so the fixture write stays bounded.
        val docs = s.read.parquet(s"$d/documents.parquet")
        val nFrag = math.max(16L, math.min(2048L,
          (docs.count() + 24) / 25)).toInt
        docs.repartition(nFrag)
          .write.partitionBy("lang").parquet(s"$tmp/docs_frag")
      }
      val fragLake = s.read.parquet(s"$frag/docs_frag")
      // input_file_name is nondeterministic — project it in a Filter/
      // Project scope BEFORE the aggregate, where the analyzer allows it
      val before = fragLake
        .withColumn("f", input_file_name())
        .groupBy("lang")
        .agg(countDistinct(col("f")).as("files_before"),
          count(lit(1)).as("rows_before"))
      val out = scratch(s, d, "l35_compacted")
      fragLake.repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang")
        .option("maxRecordsPerFile", rowsPerFile)
        .parquet(out)
      val after = s.read.parquet(out)
        .withColumn("f", input_file_name())
        .groupBy("lang")
        .agg(countDistinct(col("f")).as("files_after_actual"),
          count(lit(1)).as("n_docs"))
      val report = after.join(before, "lang")
        .select(col("lang"), col("n_docs"),
          ceil(col("n_docs") / lit(100.0)).as("n_files"),
          col("files_after_actual"), col("files_before"), col("rows_before"))
        .orderBy("lang")
        .localCheckpoint() // one materialization feeds both the gate and the result
      val rows = report.collect()
      rows.foreach { r =>
        require(r.getLong(3) == r.getLong(2),
          s"lang ${r.getString(0)}: compaction wrote ${r.getLong(3)} files, " +
            s"expected ceil(${r.getLong(1)}/$rowsPerFile) = ${r.getLong(2)}")
        require(r.getLong(4) > r.getLong(2),
          s"lang ${r.getString(0)}: fixture not fragmented " +
            s"(${r.getLong(4)} files before vs ${r.getLong(2)} after) — " +
            "the compaction claim is vacuous")
        require(r.getLong(5) == r.getLong(1),
          s"lang ${r.getString(0)}: row count changed across the rewrite")
      }
      report.select("lang", "n_docs", "n_files")
    }),

    // l36: TERM CO-OCCURRENCE PMI — corpus-level pointwise mutual
    // information over in-document term pairs, the classic collocation /
    // topic-signal statistic (phrase mining, association features for
    // quality classifiers). Shape dictated by the 100-TB contract:
    //  1. (doc, term) PRESENCE rows (distinct — PMI here is document-level
    //     co-occurrence, term multiplicity is deliberately ignored);
    //  2. a DF-WINDOWED vocabulary (df/N within [2%, 95%]) — the upper
    //     cut drops stopword-class hubs whose pair fan-out is quadratic
    //     and whose PMI ≈ 0 carries no signal, the lower cut drops typo
    //     singletons; the windowed vocab is corpus-bounded, so it
    //     BROADCASTS back onto the presence rows;
    //  3. pairs via a doc_id-equijoined self-join of the vocab-filtered
    //     presence rows (a < b dedup) — ONE hash-partitioned shuffle on
    //     doc_id, per-doc fan-out bounded by the windowed vocab size,
    //     never by raw document length;
    //  4. unary doc frequencies ride the broadcast vocab; N rides a
    //     one-row broadcast stat frame (no driver-side collect).
    // pmi = ln(c_ab·N / (c_a·c_b)) rounded at 4dp; minsup 5 prunes
    // noise pairs (c_ab here runs ~hundreds — the cut is not
    // boundary-tight).
    "l36_pmi_cooccur" -> ((s, d) => {
      val dt = LlmOps.tokens(s, d).select("doc_id", "term").distinct()
      val nF = dt.agg(countDistinct(col("doc_id")).as("n_docs"))
      val df = dt.groupBy("term").agg(count(lit(1)).as("df"))
      val vocab = df.crossJoin(broadcast(nF))
        .filter(col("df") >= col("n_docs") * 0.02 &&
          col("df") <= col("n_docs") * 0.95)
        .select("term", "df")
      val dv = dt.join(broadcast(vocab), "term")
      val a = dv.select(col("doc_id"), col("term").as("ta"), col("df").as("dfa"))
      val b = dv.select(col("doc_id"), col("term").as("tb"), col("df").as("dfb"))
      a.join(b, Seq("doc_id"))
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb", "dfa", "dfb")
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
        .crossJoin(broadcast(nF))
        .select(col("ta"), col("tb"), col("cab"), col("dfa"), col("dfb"),
          rnd4(log(col("cab").cast("double") * col("n_docs") /
            (col("dfa").cast("double") * col("dfb")))).as("pmi"))
        .orderBy("ta", "tb")
    }),

    // l37: FUZZY RECORD LINKAGE — blocked entity resolution over names:
    // candidate pairs come from a cheap BLOCKING-KEY equi-join
    // ((p_brand, p_size) — the standard linkage idiom: at 100 TB the
    // all-pairs cross product is impossible, so candidates are
    // hash-partitioned by block and the expensive scorer runs only
    // within blocks), scored by the native codegen'd Jaro-Winkler
    // expression [[graft.functions.JaroWinklerSim]] — Spark has
    // levenshtein but no JW; a Scala UDF here would box every pair and
    // break whole-stage codegen exactly where the work is. The kernel
    // is pinned to DuckDB's jaro_winkler_similarity semantics (classic
    // JW: window max/2-1, integer-halved transpositions, 0.7 boost
    // threshold, prefix cap 4, bytewise) — the oracle compares all
    // 1639 blocked pairs value-for-value at 4dp. The match filter runs
    // on the ROUNDED score so the boundary set is engine-identical.
    "l37_fuzzy_blocked_match" -> ((s, d) => {
      val p = t(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_name"))
      val a = p.select(col("p_partkey").as("a_key"), col("p_brand"),
        col("p_size"), col("p_name").as("a_name"))
      val b = p.select(col("p_partkey").as("b_key"), col("p_brand"),
        col("p_size"), col("p_name").as("b_name"))
      a.join(b, Seq("p_brand", "p_size"))
        .filter(col("a_key") < col("b_key"))
        .withColumn("sim", round(jaroWinkler(col("a_name"), col("b_name")), 4))
        .filter(col("sim") >= 0.85)
        .select("a_key", "b_key", "a_name", "b_name", "sim")
        .orderBy("a_key", "b_key")
    }),

    // l38: TOKEN-BUDGET CORPUS SELECTION — greedy fill of a fixed token
    // budget with the best-quality documents (the "assemble a 10B-token
    // training mix from the top of the quality ranking" operator; the
    // selection twin of l33's importance sampling). Quality = l5's xq
    // formula quantized to integer MICRO-UNITS (the l27 rule: both
    // engines compare exact integers, never raw doubles); budget = half
    // the corpus's total tokens, derived in-query (1-row broadcast).
    // The naive spelling is ONE GLOBAL window (ORDER BY q DESC with a
    // running token sum) — a single-partition sort, the classic scale
    // antipattern. Implemented instead as the two-phase bucketed cut:
    //  1. per-doc (q_u, n_tokens) → ~100 fixed-width quality buckets →
    //     per-bucket token totals (a bounded aggregate);
    //  2. ONE window over the ≤101-row bucket table finds the boundary
    //     bucket; buckets above it are selected wholesale (a broadcast
    //     semi-join — no sort at all), and ONLY the boundary bucket's
    //     docs pay a window, partitioned by bucket — fan-in bounded by
    //     bucket width, never corpus size.
    // Equivalent to the global greedy because bucket id is monotone in
    // q_u, so bucket-desc-then-(q_u desc, doc_id) IS the global order.
    "l38_budget_select" -> ((s, d) => {
      val q = Quality(col("ws"))
      val feat = docWords(s, d).filter(q.n > 0)
        .select(col("doc_id"), q.n.cast(LongType).as("n_tokens"),
          floor(q.score * 1e6 + 0.5).cast(LongType).as("q_u"))
      val budget = feat.agg(
        floor(sum(col("n_tokens")) / 2).cast(LongType).as("budget"))
      val bucketed = feat.withColumn("bkt", expr("q_u div 10000"))
      val wB = Window.orderBy(col("bkt").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = bucketed.groupBy("bkt").agg(sum("n_tokens").as("btok"))
        .withColumn("cum_incl", sum(col("btok")).over(wB))
        .withColumn("cum_before", col("cum_incl") - col("btok"))
        .crossJoin(broadcast(budget))
      val fullB = cum.filter(col("cum_incl") <= col("budget")).select("bkt")
      val partB = cum.filter(col("cum_incl") > col("budget") &&
          col("cum_before") < col("budget"))
        .select(col("bkt"), col("cum_before"), col("budget"))
      val selFull = bucketed.join(broadcast(fullB), "bkt")
        .select("doc_id", "q_u", "n_tokens")
      val wIn = Window.partitionBy("bkt")
        .orderBy(col("q_u").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val selPart = bucketed.join(broadcast(partB), "bkt")
        .withColumn("cum_in", sum(col("n_tokens")).over(wIn))
        .filter(col("cum_before") + col("cum_in") <= col("budget"))
        .select("doc_id", "q_u", "n_tokens")
      selFull.unionByName(selPart).orderBy("doc_id")
    }),

    // l39: RUNTIME BLOOM-FILTER JOIN — the third scan lever, completing
    // the pruning ladder: l28 prunes partitions on a LITERAL predicate,
    // l34 prunes partitions on a RUNTIME dim set (DPP), and this key
    // prunes ROWS inside surviving files: Spark's InjectRuntimeFilter
    // plants a `might_contain(bloom, xxhash64(key))` predicate on the
    // fact scan, with the bloom built from the SELECTIVE dim side of the
    // join at run time — fact rows whose key cannot join are dropped AT
    // THE SCAN, before the shuffle, which at 100 TB is the difference
    // between shuffling the whole fact table and shuffling the ~1/35
    // that survives. Thresholds are sized for real lakes (app side >
    // 10 GB), so the demo pins them to the corpus for this key.
    // Injection targets genuine SHUFFLE joins — a dim under the
    // broadcast threshold plans as a broadcast join and Spark (rightly)
    // skips the bloom, so the demo also disables auto-broadcast to
    // recreate the both-sides-large regime the lever exists for (at
    // 100 TB the dim passes the threshold on its own and neither conf is
    // touched). Injection asserted FAIL-LOUD from the plan (the l28/l34
    // gate idiom). The filter is a pure overlay: false positives only
    // cost work, never rows — result join-invariant, so the oracle is
    // the plain join SQL.
    "l39_join_runtime_bloom" -> ((s, d) => {
      withConf(s)(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val dim = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            year(col("o_orderdate")) === 2001)
          .select(col("o_orderkey"), col("o_orderpriority"))
        val j = t(s, d, "lineitem")
          .join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("item_cnt"),
            dbl(sum(dec(col("l_extendedprice"), 18, 2))).as("sum_price"))
          .orderBy("o_orderpriority")
        val p = j.queryExecution.executedPlan.toString
        require(p.contains("might_contain"),
          "runtime bloom filter was not injected on the fact scan:\n" + p)
        // materialize UNDER the pinned confs (eager localCheckpoint, the
        // l35 idiom): the caller's later write/count must not re-plan the
        // join after the scope restores broadcast — the gated plan is
        // the executed plan
        j.localCheckpoint()
      }
    }),

    // l40: DETERMINISTIC CORPUS SHUFFLE + SHARDING — the step between
    // corpus prep and the data loader: training wants the corpus in a
    // SEED-STABLE pseudorandom global order, cut into shards whose
    // within-shard order is also pinned (so any epoch, any restart, any
    // worker re-reads byte-identical batches). No RNG state: the
    // permutation key is a Knuth multiplicative hash of doc_id
    // (h = doc_id·2654435761 mod 2³²) — order by h IS the shuffle,
    // h mod nshards IS the shard assignment, and a per-shard
    // row_number() pins the loader position. This is exactly
    // repartition-by-shard + sortWithinPartitions at cluster scale: the
    // one shuffle moves each doc once to its shard, the per-shard sort
    // is partition-local, and nothing is quadratic or driver-side.
    // Balance is hash-uniform (no hot shard); determinism is the whole
    // point — same inputs → same shards → reproducible training runs.
    "l40_shuffle_shards" -> ((s, d) => {
      val nShards = 8
      t(s, d, "documents")
        .withColumn("h", pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)))
        .withColumn("shard", (col("h") % nShards).cast(IntegerType))
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("shard").orderBy("h", "doc_id")))
        .select(col("shard"), col("pos"), col("doc_id"), col("n_chars"))
        .orderBy("shard", "pos")
    }),

    // l41: FEATURE HASHING (the hashing trick) — the fixed-dimension
    // text-feature map classifiers at corpus scale actually use (l27's
    // explicit features don't survive an open vocabulary): term →
    // bucket = md5 prefix, so the feature dimension is FIXED regardless
    // of vocab growth, no dictionary to build/broadcast/version, and
    // collisions are an accepted, MEASURED quantization (the collision
    // table this key emits per bucket: occupancy + distinct terms — the
    // n_terms > 1 rows are the quantization loss made visible).
    // Demo dimension is 16 (one hex char) so the 31-term vocab
    // provably collides (pigeonhole); production uses 2^18+, same
    // mechanics. Engine shape: the bucket agg partial-combines
    // map-side, the distinct-term count shuffles (bucket, term) pairs —
    // bounded by VOCABULARY, never corpus size; no dictionary join
    // anywhere, which is the whole point of hashing features at 100 TB.
    "l41_feature_hashing" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(words(lower(col("text")))).as("term"))
        .withColumn("bucket", substring(md5(col("term").cast(BinaryType)), 1, 1))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("term")).as("n_terms"))
        .orderBy("bucket")),

    // l44: TRIPLET MINING for contrastive training — per anchor, the
    // HARD positive (most-similar same-label vector — the one whose
    // margin is tightest) and the HARD negative (most-similar
    // DIFFERENT-label vector — the impostor the loss must push away):
    // the (anchor, positive, negative) triplets metric-learning /
    // embedding-finetune batches are built from, where hard mining is
    // what makes the gradient informative. Anchor set is a bounded
    // sample (vec_id < 64 — the l2 exact-baseline idiom: candidates
    // broadcast once under the guard, anchors stream); similarity is
    // the codegen'd FloatDotProduct kernel, argmaxes are ONE
    // partial+final aggregate over struct ordering ((sim, −cand): max
    // sim wins, smallest cand breaks ties) — no per-anchor sort, no
    // window over the pair table. At 100 TB the scale path swaps the
    // broadcast for l3's IVF cells (mine within the anchor's probed
    // cells); the exact form here is the correctness baseline, same
    // contract as j3/l2.
    "l44_triplet_mining" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
        .withColumn("norm", sqrt(floatDot(col("embedding"), col("embedding"))))
      val cands = broadcast(LlmOps.requireBroadcastable(e,
        "l44 candidate set", "the l3 IVF-cell mining path"))
      val anchors = e.filter(col("vec_id") < 64)
      anchors.as("a").join(cands.as("c"), col("a.vec_id") =!= col("c.vec_id"))
        .select(col("a.vec_id").as("anchor"),
          (col("a.label") === col("c.label")).as("same"),
          col("c.vec_id").as("cand"),
          (floatDot(col("a.embedding"), col("c.embedding")) /
            (col("a.norm") * col("c.norm"))).as("sim"))
        .groupBy("anchor")
        .agg(
          max(when(col("same"), struct(col("sim"), (-col("cand")).as("nid"))))
            .as("pos"),
          max(when(!col("same"), struct(col("sim"), (-col("cand")).as("nid"))))
            .as("neg"))
        .select(col("anchor"),
          (-col("pos.nid")).as("pos_id"), rnd4(col("pos.sim")).as("pos_sim"),
          (-col("neg.nid")).as("neg_id"), rnd4(col("neg.sim")).as("neg_sim"))
        .orderBy("anchor")
    }),

    // l43: BPE VOCABULARY INDUCTION — tokenizer TRAINING, the step the
    // l8/l13 token-consuming ops presuppose: learn the first 5 merge
    // rules of a byte-pair encoding from the corpus. Classic Sennrich
    // BPE trains on the WORD-FREQUENCY table, not the raw stream: the
    // corpus reduces on the cluster to (word, count) in one aggregation
    // (31 words here; millions at web scale, still vocabulary-sized),
    // collected once, and the rounds run over it in memory
    // ([[bpeMerges]]). Invariants: winner by (freq DESC, left, right);
    // each merge applies greedily leftmost to every word; the loop stops
    // early when every word is one symbol; an overflowing pair count
    // throws. Unoracled BY DESIGN: the round-by-round merge application
    // is a stateful fold SQL can't express non-recursively — TrainOpsSpec
    // pins the textbook fixture (low/lower/newest/widest) whose first
    // five merges are hand-derivable, tie-breaks included.
    "l43_bpe_vocab" -> ((s, d) => bpeMerges(s, LlmOps.tokens(s, d), 5)),

    // l48: BPE ENCODE — tokenizer APPLICATION, closing the loop l43's
    // training opens (train the merges → encode the corpus → the token
    // counts every downstream op budgets with): apply the learned merge
    // rules in rank order to every word and report each document's true
    // post-BPE token count next to its character baseline. Training and
    // encoding share ONE collected word histogram and ONE greedy-leftmost
    // merge fold ([[bpeEncode]]): encoding each distinct word in rank
    // order replays the trainer's rounds, so the (term → n_syms) table
    // is vocabulary-sized (sub-linear in corpus by Heaps' law) and the
    // corpus-sized work is ONE broadcast join of per-doc term counts
    // against it (at web scale the vocab outgrows broadcast and the join
    // re-keys on term — same plan, bigger exchange). Unoracled for l43's
    // reason; TrainOpsSpec pins the textbook fixture's hand-derivable
    // encodings AND fuzzes the encoder against a sequential reference
    // on random corpora.
    "l48_bpe_encode" -> ((s, d) => {
      import s.implicits._
      val toks = LlmOps.tokens(s, d).select("doc_id", "term")
      val hist = bpeHistogram(toks)
      val merges = bpeTrain(hist, 5).map { case (_, l, r, _) => (l, r) }
      val vocab = bpeEncode(hist.map(_._1), merges).toSeq
        .map { case (term, syms) => (term, syms.length) }.toDF("term", "n_syms")
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
        .join(broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(sum(col("n")).as("n_tokens"),
          sum(col("n") * (length(col("term")) + 1)).as("n_chars_eow"),
          sum(col("n") * col("n_syms")).as("n_bpe_syms"))
        .withColumn("compression", floor(
          col("n_bpe_syms").cast(DoubleType) / col("n_chars_eow") * 1e4 + 0.5) / 1e4)
        .orderBy("doc_id")
    }),

    // l42: PAGERANK — the iterative-graph-compute representative (the
    // same dataflow shape as label propagation, HITS, or embedding
    // smoothing over a doc graph): 10 synchronous power-iteration
    // rounds, each ONE equi-join (edges ⋈ ranks, hash-partitioned on
    // src) + ONE groupBy(dst) shuffle — nothing quadratic, nothing
    // driver-side except the node count. The graph is deterministic
    // from the data: every doc links to its source-group hub and its
    // lang-group hub (min doc_id per group, self-loops dropped) — a
    // hub-and-spoke topology where rank provably concentrates. TWO
    // determinism devices make an ITERATIVE float algorithm oracle-able
    // across engines: (1) rank lives in integer micro-units of a 1e9
    // total mass (the l21 micro-nat idiom — integer div per hop, sums
    // order-proof; the rounding leak is deterministic and identical on
    // both sides), and (2) each round ends in an EAGER localCheckpoint,
    // which is also the 100-TB lesson of iterative Spark: without
    // lineage truncation the plan doubles per round and round 10
    // replans rounds 1–9 (GraphX's Pregel checkpoints for exactly this
    // reason). Dangling hubs leak their mass by design (deterministic,
    // documented) — PageRank variants differ here; the oracle pins OUR
    // variant exactly.
    // (round-checkpoint A/B, r22: temporary x_l42_eager/x_l42_lazy
    // twins, min-of-6 pass-interleaved same-interval at sf0.1 — eager
    // 2.716 s vs lazy 2.476 s (−8.8%), jobs 66 → 56 (one dispatched
    // job per round removed). Twins deleted after the measurement;
    // plans/r22/l42_ab_r22.json.)
    "l42_pagerank_hubs" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "source", "lang")
      val srcHub = docs.groupBy("source").agg(min("doc_id").as("dst"))
      val langHub = docs.groupBy("lang").agg(min("doc_id").as("dst"))
      val edges = docs.join(srcHub, "source").select(col("doc_id").as("src"), col("dst"))
        .union(docs.join(langHub, "lang").select(col("doc_id").as("src"), col("dst")))
        .filter(col("src") =!= col("dst")).distinct()
        .localCheckpoint(true)
      val nodes = docs.select("doc_id").localCheckpoint(true)
      pageRankInt(nodes, edges, rounds = 10).orderBy("doc_id")
    })
  )

  /** The l42 power-iteration kernel over `nodes(doc_id)` / symmetric-free
    * `edges(src, dst)`: integer micro-unit ranks (mass 1e9, damping
    * 0.85), per-hop integer division, eager localCheckpoint per round
    * (lineage truncation — the iterative-Spark rule). Extracted so
    * PropertySpec can fuzz it against a naive sequential reference on
    * random graphs; dangling nodes leak their mass by design, and the
    * deterministic rounding leak is part of the pinned contract. */
  private[graft] def pageRankInt(nodes: DataFrame, edges: DataFrame,
      rounds: Int, mass: Long = 1000000000L, damp: Long = 85L,
      eagerRounds: Boolean = false): DataFrame = {
    // out-degree attached to the edge list ONCE, outside the loop (r21):
    // od is loop-invariant, so the per-round edges⋈od join was pure
    // re-planning/shuffle machinery × rounds — the hoisted frame is
    // checkpointed and each round joins only ranks against it
    val outEdges = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("od")), "src")
      .localCheckpoint(true)
    val n = nodes.count() // one scalar — the only driver-side value
    var ranks = nodes.withColumn("r", lit(mass / n))
    for (_ <- 1 to rounds) {
      val inflow = outEdges
        .join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst"), expr("r div od").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("inflow"))
      // per-round checkpoint = lineage truncation (the iterative-Spark
      // rule), LAZY since r22 (the wave-1 BPE lever): the plan stays one
      // round deep either way (a lazy localCheckpoint is already a
      // LogicalRDD node), but eager ran one extra dispatched job PER
      // ROUND while nothing reads a round before the next — lazy lets
      // the consumer's action materialize each round's RDD inside the
      // normal stage flow (l42 jobs 66 → 56, key −8.8% min-of-6
      // same-interval; A/B in OPTIMIZATION_r22.md).
      ranks = nodes.join(inflow, nodes("doc_id") === inflow("dst"), "left")
        .select(nodes("doc_id"),
          (lit(mass * (100 - damp) / 100 / n) +
            expr(s"coalesce(inflow, 0L) * $damp div 100")).as("r"))
        .localCheckpoint(eager = eagerRounds)
    }
    ranks
  }

  val oracle: Map[String, String] = Map(
    // l1's full pipeline, brute-forced: rebuild the 64-bit SimHash from
    // md5-low-64 token hashes (bit i of the hash = bit (i%4) of hex nibble
    // 32 - i//4 — same bits `conv(_,16,-10)` yields as a signed long on
    // the Spark side), vote with ±1 per token OCCURRENCE, assemble the
    // signed two's-complement signature (bit 63 = long-min), then take ALL
    // pairs at bit_count(xor) <= 3 — lossless-equivalent to the engine's
    // 4×16-bit band join (pigeonhole; see the query comment) — and close
    // components with a recursive CTE. Spine = docs with >= 1 token,
    // exactly the engine's groupBy support.
    "l1_dedup_simhash" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, md5(term) AS h
           FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
                 FROM documents)
           WHERE term <> ''),
         v AS (
           SELECT doc_id, b,
             sum(CASE WHEN ((strpos('0123456789abcdef',
                     substr(h, 32 - b // 4, 1)) - 1) >> (b % 4)) & 1 = 1
                 THEN 1 ELSE -1 END) AS vote
           FROM toks
           CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
           GROUP BY 1, 2),
         sig AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN
                 CASE WHEN b = 63 THEN -9223372036854775807 - 1
                      ELSE CAST(1 AS BIGINT) << b END
               ELSE 0 END) AS BIGINT) AS simhash
           FROM v GROUP BY 1),
         p AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         sym AS (SELECT a_id, b_id FROM p
                 UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM p),
         deg AS (SELECT a_id AS doc_id, CAST(count(*) AS BIGINT) AS n_dups
                 FROM sym GROUP BY 1),
         reach AS (SELECT doc_id, doc_id AS r FROM sig
                   UNION
                   SELECT sym.a_id AS doc_id, reach.r
                   FROM sym JOIN reach ON sym.b_id = reach.doc_id),
         cl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
         SELECT sig.doc_id, sig.simhash, cl.cluster_id,
                coalesce(n_dups, CAST(0 AS BIGINT)) AS n_dups
         FROM sig JOIN cl USING (doc_id) LEFT JOIN deg USING (doc_id)
         ORDER BY doc_id""",

    // the maintenance report is fully determined by per-lang row counts:
    // compaction targets exactly ceil(rows/100) files per partition (the
    // physical file counts are require-gated inside the query itself)
    "l35_compact_small_files" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(ceil(count(*) / 100.0) AS BIGINT) AS n_files
         FROM documents GROUP BY 1 ORDER BY 1""",

    // composition of the already-verified stage formulas (l5/j1/l16/l10/
    // l13); scientific literals force DOUBLE and the add/divide order
    // matches the Spark expression exactly, so the q >= 0.5 cut is the
    // same IEEE comparison on both engines
    "l17_pipeline_corpus_prep" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         q AS (
           SELECT doc_id FROM (
             SELECT doc_id, count(*) AS n_tokens,
                    sum(CASE WHEN term IN ('the','a','of','and') THEN 1 ELSE 0 END)
                      AS stop_cnt,
                    sum(length(term)) AS len_sum
             FROM toks WHERE term <> '' GROUP BY 1)
           WHERE 4e-1 * (CAST(stop_cnt AS DOUBLE) / n_tokens)
               + 3e-1 * least(1e0, n_tokens / 1e2)
               + 3e-1 * least(1e0, CAST(len_sum AS DOUBLE) / n_tokens / 8e0)
               >= 5e-1),
         dedup AS (
           SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         ptoks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         ftoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM ptoks WHERE term <> ''),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
                    term || ' ' || lead(term, 1) OVER w || ' ' ||
                      lead(term, 2) OVER w AS shingle,
                    lead(term, 2) OVER w AS t2
             FROM ftoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord))
           WHERE t2 IS NOT NULL),
         ev(g) AS (VALUES ('row column sort'), ('stream table hash'),
                          ('window fast query'), ('data merge group'),
                          ('held out benchmark')),
         dirty AS (SELECT DISTINCT doc_id FROM sh JOIN ev ON shingle = g),
         surv AS (
           SELECT d.source, d.doc_id,
                  CAST(len(regexp_extract_all(d.text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents d
           JOIN q USING (doc_id) JOIN dedup USING (doc_id)
           WHERE d.doc_id NOT IN (SELECT doc_id FROM dirty)
             AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'cd'),
         offs AS (
           SELECT source, doc_id, n_tokens,
                  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS start_off
           FROM surv)
         SELECT source, doc_id, n_tokens, start_off, start_off // 512 AS seq_id
         FROM offs ORDER BY source, doc_id""",

    "l16_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         ftoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM toks WHERE term <> ''),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
                    term || ' ' || lead(term, 1) OVER w || ' ' ||
                      lead(term, 2) OVER w AS shingle,
                    lead(term, 2) OVER w AS t2
             FROM ftoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord))
           WHERE t2 IS NOT NULL),
         ev(g) AS (VALUES ('row column sort'), ('stream table hash'),
                          ('window fast query'), ('data merge group'),
                          ('held out benchmark')),
         hits AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
           FROM sh JOIN ev ON shingle = g GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
                coalesce(n_hits, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits USING (doc_id)
         ORDER BY d.doc_id""",

    "l14_repetition_filter" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         ftoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM toks WHERE term <> ''),
         seq AS (
           SELECT doc_id, term, lead(term, 1) OVER w AS t1, lead(term, 2) OVER w AS t2
           FROM ftoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)),
         bistats AS (
           SELECT doc_id, max(c) AS top_bi, sum(c) AS n_bi FROM (
             SELECT doc_id, term || ' ' || t1 AS bg, count(*) AS c
             FROM seq WHERE t1 IS NOT NULL GROUP BY 1, 2)
           GROUP BY 1),
         tristats AS (
           SELECT doc_id, count(*) AS n_tri,
                  count(DISTINCT term || ' ' || t1 || ' ' || t2) AS d_tri
           FROM seq WHERE t2 IS NOT NULL GROUP BY 1),
         sym AS (
           SELECT doc_id,
                  CAST(length(text) - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                    AS DOUBLE) / length(text) AS sym_ratio
           FROM documents)
         SELECT doc_id,
                floor(CAST(top_bi AS DOUBLE) / n_bi * 1e4 + 5e-1) / 1e4 AS top_bigram_frac,
                floor((1e0 - CAST(d_tri AS DOUBLE) / n_tri) * 1e4 + 5e-1) / 1e4 AS dup_trigram_frac,
                floor(sym_ratio * 1e4 + 5e-1) / 1e4 AS symbol_ratio,
                (CAST(top_bi AS DOUBLE) / n_bi <= 8e-2
                 AND 1e0 - CAST(d_tri AS DOUBLE) / n_tri <= 5e-2) AS keep
         FROM bistats JOIN tristats USING (doc_id) JOIN sym USING (doc_id)
         ORDER BY doc_id""",

    "l15_source_mix_weights" ->
      """WITH per_src AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS tok
           FROM documents GROUP BY 1),
         tot AS (
           SELECT source, n_docs, tok,
                  CAST(sum(tok) OVER () AS BIGINT) AS total,
                  CAST(count(*) OVER () AS BIGINT) AS srcs
           FROM per_src)
         SELECT source, n_docs, tok AS n_tokens,
                floor(CAST(tok AS DOUBLE) / total * 1e4 + 5e-1) / 1e4 AS share,
                floor(1e0 / srcs / (CAST(tok AS DOUBLE) / total) * 1e4 + 5e-1) / 1e4
                  AS weight
         FROM tot ORDER BY source""",

    "l13_pack_sequences" ->
      """WITH sized AS (
           SELECT source, doc_id,
                  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         offs AS (
           SELECT source, doc_id, n_tokens,
                  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS start_off
           FROM sized)
         SELECT source, doc_id, n_tokens, start_off,
                start_off // 512 AS seq_id,
                ((start_off + greatest(n_tokens, 1) - 1) // 512)
                  - (start_off // 512) + 1 AS n_seqs
         FROM offs ORDER BY source, doc_id""",

    "l10_split_train_eval" ->
      """SELECT doc_id, lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                THEN 'train' ELSE 'eval' END AS split
         FROM documents ORDER BY doc_id""",

    // group-by arithmetic instead of the in-row fold; the quantized
    // per-(char,count) terms are identical integers on both paths
    "l49_char_entropy" ->
      """WITH chars AS (
           SELECT doc_id, unnest(string_split(text, '')) AS ch,
                  len(text) AS n
           FROM documents WHERE len(text) > 0),
         counts AS (SELECT doc_id, ch, count(*) AS k, any_value(n) AS n
                    FROM chars GROUP BY 1, 2),
         terms AS (SELECT doc_id, any_value(n) AS n_any,
                     CAST(sum(CAST(floor(-(CAST(k AS DOUBLE) / n) *
                       ln(CAST(k AS DOUBLE) / n) * 1e6 + 5e-1) AS BIGINT))
                       AS BIGINT) AS sq
                   FROM counts GROUP BY doc_id)
         SELECT doc_id, CAST(n_any AS BIGINT) AS n,
                floor(CAST(sq AS DOUBLE) / 1e6 * 1e4 + 5e-1) / 1e4 AS entropy,
                floor(CAST(sq AS DOUBLE) / 1e6 * 1e4 + 5e-1) / 1e4 < 2.77
                  AS low_entropy
         FROM terms ORDER BY doc_id""",

    "l47_cap_per_source" ->
      """SELECT doc_id, source, rk FROM (
           SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
           FROM documents)
         WHERE rk <= 20 ORDER BY doc_id""",

    "l11_sample_stratified" ->
      """SELECT lang, total, sampled,
           floor(CAST(sampled AS DOUBLE) / total * 1e4 + 5e-1) / 1e4 AS ratio
         FROM (
           SELECT lang, CAST(count(*) AS BIGINT) AS total,
                  CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
                           THEN 1 ELSE 0 END) AS BIGINT) AS sampled
           FROM documents GROUP BY lang)
         ORDER BY lang""",

    // the oracle needs no prefix filter: the full inverted-index join is
    // provably the same pair set (prefix filtering is lossless), and the
    // t2 tier is small enough to brute-force. Thresholding is the same
    // exact-integer 5·common >= 4·union on both sides.
    "l9_dedup_ngram_jaccard" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         ftoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM toks WHERE term <> ''),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
                    term || ' ' || lead(term, 1) OVER w || ' ' ||
                      lead(term, 2) OVER w AS shingle,
                    lead(term, 2) OVER w AS t2
             FROM ftoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord))
           WHERE t2 IS NOT NULL),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS c
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id,
                floor(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 1e4 + 5e-1) / 1e4
                  AS jaccard
         FROM common
         JOIN sz sa ON sa.doc_id = a_id
         JOIN sz sb ON sb.doc_id = b_id
         WHERE 5 * c >= 4 * (sa.n + sb.n - c)
         ORDER BY a_id, b_id""",

    // l12's ground truth, brute-forced: the engine's SRP banding is
    // candidate GENERATION only — the exact-cosine layer keeps exactly
    // the >= 0.98 pairs among candidates, so false positives are
    // impossible and equality with the all-pairs oracle asserts full
    // recall on this corpus (trivially so: the fixture's max pairwise
    // cosine is 0.51, measured — every vector is its own cluster; the
    // NON-trivial recall claim stays spec-pinned on planted clusters in
    // TrainOpsSpec, where banding must actually find them). Output has
    // no float columns (ids/labels/degrees only), so cross-engine float
    // precision cannot perturb the hash.
    "l12_dedup_embedding" ->
      """WITH RECURSIVE e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         p AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.98),
         sym AS (SELECT a_id, b_id FROM p
                 UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM p),
         deg AS (SELECT a_id AS vec_id, CAST(count(*) AS BIGINT) AS n_dups
                 FROM sym GROUP BY 1),
         reach AS (SELECT vec_id, vec_id AS r FROM embeddings
                   UNION
                   SELECT sym.a_id AS vec_id, reach.r
                   FROM sym JOIN reach ON sym.b_id = reach.vec_id),
         cl AS (SELECT vec_id, min(r) AS cluster_id FROM reach GROUP BY 1)
         SELECT vec_id, cluster_id,
                coalesce(n_dups, CAST(0 AS BIGINT)) AS n_dups
         FROM cl LEFT JOIN deg USING (vec_id)
         ORDER BY vec_id""",

    // same deterministic ~50% md5 id-sample as the Spark side
    "l2_sim_embedding_nn" ->
      """WITH e AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             FROM embeddings
             WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '80'),
           sims AS (
             SELECT a.vec_id, b.vec_id AS nn_id,
                    round(list_cosine_similarity(a.emb, b.emb), 4) AS sim
             FROM e a JOIN e b ON a.vec_id <> b.vec_id)
         SELECT vec_id, nn_id, sim, sim >= 0.95 AS is_dup FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY sim DESC, nn_id) AS rn FROM sims)
         WHERE rn = 1 ORDER BY vec_id""",

    // mirrors the 2-round Lloyd trainer: c0 = init (first 16), a{i} =
    // argmax-cosine assignment of the md5 id-sample, c{i} = per-cell
    // element-wise mean floor-rounded at 6 dp (bit-identical to the Spark
    // side's centroid pin), then one full-table assignment + probe + top-k
    "l3_ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             FROM embeddings),
           tr AS (SELECT vec_id, emb FROM e
                  WHERE vec_id < 16
                     OR substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '80'),
           c0 AS (SELECT vec_id AS cid, emb AS c_emb FROM e WHERE vec_id < 16),
           a1 AS (SELECT vec_id, emb, cid FROM (
               SELECT t.vec_id, t.emb, c.cid,
                      row_number() OVER (PARTITION BY t.vec_id
                        ORDER BY round(list_cosine_similarity(t.emb, c.c_emb), 4) DESC,
                                 c.cid) AS rn
               FROM tr t CROSS JOIN c0 c) WHERE rn = 1),
           c1 AS (SELECT cid, list(m ORDER BY pos) AS c_emb FROM (
               SELECT cid, pos, floor(avg(v) * 1e6 + 5e-1) / 1e6 AS m
               FROM (SELECT cid, generate_subscripts(emb, 1) AS pos,
                            unnest(emb) AS v FROM a1)
               GROUP BY cid, pos) GROUP BY cid),
           a2 AS (SELECT vec_id, emb, cid FROM (
               SELECT t.vec_id, t.emb, c.cid,
                      row_number() OVER (PARTITION BY t.vec_id
                        ORDER BY round(list_cosine_similarity(t.emb, c.c_emb), 4) DESC,
                                 c.cid) AS rn
               FROM tr t CROSS JOIN c1 c) WHERE rn = 1),
           c2 AS (SELECT cid, list(m ORDER BY pos) AS c_emb FROM (
               SELECT cid, pos, floor(avg(v) * 1e6 + 5e-1) / 1e6 AS m
               FROM (SELECT cid, generate_subscripts(emb, 1) AS pos,
                            unnest(emb) AS v FROM a2)
               GROUP BY cid, pos) GROUP BY cid),
           assigned AS (SELECT vec_id, emb, cid FROM (
               SELECT e.vec_id, e.emb, c.cid,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY round(list_cosine_similarity(e.emb, c.c_emb), 4) DESC,
                                 c.cid) AS rn
               FROM e CROSS JOIN c2 c) WHERE rn = 1),
           q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
           probed AS (
             SELECT cid FROM c2 CROSS JOIN q
             ORDER BY round(list_cosine_similarity(c2.c_emb, q.q_emb), 4) DESC, cid
             LIMIT 4)
         SELECT a.vec_id, a.cid,
                round(list_cosine_similarity(a.emb, q.q_emb), 4) AS sim
         FROM assigned a JOIN probed USING (cid) CROSS JOIN q
         WHERE a.vec_id <> 0
         ORDER BY sim DESC, a.vec_id LIMIT 10""",

    // l3's trainer CTE chain verbatim through `assigned`, then exact
    // cosine within cells only — the SemDeDup shape
    "l31_semdedup_cells" ->
      """WITH e AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             FROM embeddings),
           tr AS (SELECT vec_id, emb FROM e
                  WHERE vec_id < 16
                     OR substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '80'),
           c0 AS (SELECT vec_id AS cid, emb AS c_emb FROM e WHERE vec_id < 16),
           a1 AS (SELECT vec_id, emb, cid FROM (
               SELECT t.vec_id, t.emb, c.cid,
                      row_number() OVER (PARTITION BY t.vec_id
                        ORDER BY round(list_cosine_similarity(t.emb, c.c_emb), 4) DESC,
                                 c.cid) AS rn
               FROM tr t CROSS JOIN c0 c) WHERE rn = 1),
           c1 AS (SELECT cid, list(m ORDER BY pos) AS c_emb FROM (
               SELECT cid, pos, floor(avg(v) * 1e6 + 5e-1) / 1e6 AS m
               FROM (SELECT cid, generate_subscripts(emb, 1) AS pos,
                            unnest(emb) AS v FROM a1)
               GROUP BY cid, pos) GROUP BY cid),
           a2 AS (SELECT vec_id, emb, cid FROM (
               SELECT t.vec_id, t.emb, c.cid,
                      row_number() OVER (PARTITION BY t.vec_id
                        ORDER BY round(list_cosine_similarity(t.emb, c.c_emb), 4) DESC,
                                 c.cid) AS rn
               FROM tr t CROSS JOIN c1 c) WHERE rn = 1),
           c2 AS (SELECT cid, list(m ORDER BY pos) AS c_emb FROM (
               SELECT cid, pos, floor(avg(v) * 1e6 + 5e-1) / 1e6 AS m
               FROM (SELECT cid, generate_subscripts(emb, 1) AS pos,
                            unnest(emb) AS v FROM a2)
               GROUP BY cid, pos) GROUP BY cid),
           assigned AS (SELECT vec_id, emb, cid FROM (
               SELECT e.vec_id, e.emb, c.cid,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY round(list_cosine_similarity(e.emb, c.c_emb), 4) DESC,
                                 c.cid) AS rn
               FROM e CROSS JOIN c2 c) WHERE rn = 1),
           pairs AS (
             SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                    round(list_cosine_similarity(a.emb, b.emb), 4) AS sim
             FROM assigned a JOIN assigned b
               ON a.cid = b.cid AND a.vec_id < b.vec_id),
           dups AS (
             SELECT b_id AS vec_id, min(a_id) AS dup_of, max(sim) AS max_sim
             FROM pairs WHERE sim >= 0.40 GROUP BY 1)
         SELECT s.vec_id, s.cid, d.dup_of, d.max_sim,
                d.dup_of IS NULL AS keep
         FROM assigned s LEFT JOIN dups d USING (vec_id)
         ORDER BY s.vec_id""",

    // l9's pair CTEs verbatim (prefix filtering is lossless, so the full
    // inverted-index join is the same pair set), then min-reachability by
    // recursive CTE: r holds every (src, reachable node); min(dst) per src
    // IS the component minimum, the label LlmOps.connectedComponents
    // gives. UNION (distinct) bounds the recursion.
    // l32's closure + l5's quality (both verbatim), argmax per cluster
    // on the integer 1e-4 grid, ties to min doc_id
    "l50_dedup_survivor_select" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         ftoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM toks WHERE term <> ''),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
                    term || ' ' || lead(term, 1) OVER w || ' ' ||
                      lead(term, 2) OVER w AS shingle,
                    lead(term, 2) OVER w AS t2
             FROM ftoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord))
           WHERE t2 IS NOT NULL),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS c
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         prs AS (
           SELECT a_id, b_id FROM common
           JOIN sz sa ON sa.doc_id = a_id
           JOIN sz sb ON sb.doc_id = b_id
           WHERE 5 * c >= 4 * (sa.n + sb.n - c)),
         edges AS (SELECT a_id, b_id FROM prs
                   UNION ALL SELECT b_id, a_id FROM prs),
         reach AS (
           WITH RECURSIVE r(src, dst) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT r.src, e.b_id FROM r JOIN edges e ON e.a_id = r.dst)
           SELECT src AS doc_id, min(dst) AS cluster_id FROM r GROUP BY src),
         per_doc AS (
           SELECT doc_id, count(*) AS n_tokens,
                  sum(CASE WHEN term IN ('the','a','of','and') THEN 1 ELSE 0 END)
                    AS stop_cnt,
                  CAST(sum(length(term)) AS DOUBLE) / count(*) AS avg_len
           FROM ftoks GROUP BY 1),
         q AS (
           SELECT doc_id,
                  CAST(floor((4e-1 * (CAST(stop_cnt AS DOUBLE) / n_tokens)
                       + 3e-1 * least(1e0, n_tokens / 1e2)
                       + 3e-1 * least(1e0, avg_len / 8e0)) * 1e4 + 5e-1)
                    AS BIGINT) AS q1e4
           FROM per_doc),
         scored AS (
           SELECT r.doc_id, r.cluster_id, q.q1e4
           FROM reach r JOIN q USING (doc_id)),
         surv AS (
           SELECT cluster_id, doc_id AS survivor_id FROM (
             SELECT cluster_id, doc_id,
                    row_number() OVER (PARTITION BY cluster_id
                                       ORDER BY q1e4 DESC, doc_id) AS rk
             FROM scored) WHERE rk = 1)
         SELECT s.doc_id, s.cluster_id, s.q1e4, v.survivor_id,
                s.doc_id = v.survivor_id AS kept
         FROM scored s JOIN surv v USING (cluster_id)
         ORDER BY s.doc_id""",

    "l32_dedup_cluster_cc" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         ftoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM toks WHERE term <> ''),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
                    term || ' ' || lead(term, 1) OVER w || ' ' ||
                      lead(term, 2) OVER w AS shingle,
                    lead(term, 2) OVER w AS t2
             FROM ftoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord))
           WHERE t2 IS NOT NULL),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS c
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id, b_id FROM common
           JOIN sz sa ON sa.doc_id = a_id
           JOIN sz sb ON sb.doc_id = b_id
           WHERE 5 * c >= 4 * (sa.n + sb.n - c)),
         edges AS (SELECT a_id, b_id FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         reach AS (
           WITH RECURSIVE r(src, dst) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT r.src, e.b_id FROM r JOIN edges e ON e.a_id = r.dst)
           SELECT src AS doc_id, min(dst) AS cluster_id FROM r GROUP BY src),
         cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize
                FROM reach GROUP BY 1)
         SELECT doc_id, cluster_id, csize, doc_id = cluster_id AS is_canonical
         FROM reach JOIN cs USING (cluster_id)
         ORDER BY doc_id""",

    // same tokenizer as l32's toks/ftoks CTEs; bigrams via lead() over the
    // token order; bucket/smoothing/quantization mirror the Spark exprs
    // term-for-term (ln on identical rationals, floor(x*1e6+0.5) munats)
    "l33_select_dsir" ->
      """WITH toks AS (
           SELECT doc_id, source, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, source,
                        string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         ftoks AS (
           SELECT doc_id, source, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM toks WHERE term <> ''),
         grams AS (
           SELECT doc_id, source, term AS gram FROM ftoks
           UNION ALL
           SELECT doc_id, source, gram FROM (
             SELECT doc_id, source,
                    term || ' ' || lead(term) OVER w AS gram,
                    lead(term) OVER w AS nxt
             FROM ftoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord))
           WHERE nxt IS NOT NULL),
         bk AS (
           SELECT doc_id, source,
                  CAST('0x' || substr(md5(gram), 1, 6) AS BIGINT) % 64 AS bkt
           FROM grams),
         hist AS (
           SELECT bkt,
                  CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4')
                                THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
                  CAST(count(*) AS BIGINT) AS r_cnt
           FROM bk GROUP BY 1),
         q AS (
           SELECT bkt,
                  CAST(floor((ln((t_cnt + 1)::DOUBLE / (sum(t_cnt) OVER () + 64)) -
                              ln((r_cnt + 1)::DOUBLE / (sum(r_cnt) OVER () + 64)))
                             * 1e6 + 0.5) AS BIGINT) AS q_llr
           FROM hist),
         per AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                  CAST(sum(q_llr) AS BIGINT) AS llr_munats
           FROM bk JOIN q USING (bkt) GROUP BY 1)
         SELECT doc_id, n_grams, llr_munats,
                floor(llr_munats::DOUBLE / n_grams / 1e6 * 1e4 + 0.5) / 1e4 AS mean_llr,
                llr_munats >= 0 AS keep
         FROM per ORDER BY doc_id""",

    // same dim derivation (md5-of-lang bucket mod 4) and join on the FLAT
    // table — the key's claim is that the partitioned lake path returns
    // the identical answer while provably reading 2 of 5 partitions
    "l34_join_dpp_prune" ->
      """WITH dim AS (
           SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs
           FROM documents GROUP BY lang
           HAVING (CAST('0x' || substr(md5(lang), 1, 6) AS BIGINT) % 4) = 0)
         SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(d.n_chars) AS BIGINT) AS chars,
                CAST(max(dim.lang_docs) AS BIGINT) AS lang_docs
         FROM documents d JOIN dim USING (lang)
         GROUP BY d.lang ORDER BY d.lang""",

    // same 5-way argmax as the Spark side: the CASE chain checks langs in
    // alphabetical order with >= against every LATER set = argmax with
    // alphabetical tie-break; marker lists mirror langMarkers verbatim
    "l4_text_langid" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         scored AS (
           SELECT doc_id,
                  sum(CASE WHEN term IN ('der','die','das','und','ist','nicht','mit','von','den','auf') THEN 1 ELSE 0 END) AS de_hits,
                  sum(CASE WHEN term IN ('the','a','of','and','is','to','in','it','on','was') THEN 1 ELSE 0 END) AS en_hits,
                  sum(CASE WHEN term IN ('el','los','las','que','por','con','para','una','esta','como') THEN 1 ELSE 0 END) AS es_hits,
                  sum(CASE WHEN term IN ('le','la','les','est','dans','pour','vous','avec','ce','qui') THEN 1 ELSE 0 END) AS fr_hits,
                  sum(CASE WHEN term IN ('wo','ni','shi','bu','zai','zhe','ge','men','hao','ma') THEN 1 ELSE 0 END) AS zh_hits,
                  count(*) AS n_toks
           FROM toks WHERE term <> '' GROUP BY 1),
         pred AS (
           SELECT doc_id, n_toks,
                  greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) AS best,
                  CASE WHEN greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) = 0 THEN 'und'
                       WHEN de_hits >= en_hits AND de_hits >= es_hits
                        AND de_hits >= fr_hits AND de_hits >= zh_hits THEN 'de'
                       WHEN en_hits >= es_hits AND en_hits >= fr_hits
                        AND en_hits >= zh_hits THEN 'en'
                       WHEN es_hits >= fr_hits AND es_hits >= zh_hits THEN 'es'
                       WHEN fr_hits >= zh_hits THEN 'fr'
                       ELSE 'zh' END AS pred_lang
           FROM scored)
         SELECT d.doc_id, p.pred_lang,
                round(CAST(p.best AS DOUBLE) / p.n_toks, 4) AS confidence,
                p.pred_lang = d.lang AS matches_label
         FROM documents d JOIN pred p USING (doc_id)
         ORDER BY d.doc_id""",

    "l5_text_quality" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         per_doc AS (
           SELECT doc_id, count(*) AS n_tokens,
                  sum(CASE WHEN term IN ('the','a','of','and') THEN 1 ELSE 0 END) AS stop_cnt,
                  CAST(sum(length(term)) AS DOUBLE) / count(*) AS avg_len
           FROM toks WHERE term <> '' GROUP BY 1)
         SELECT doc_id, n_tokens,
                round(CAST(stop_cnt AS DOUBLE) / n_tokens, 4) AS stop_ratio,
                -- scientific literals force DOUBLE (plain 0.4 is DECIMAL);
                -- floor(x*1e4+5e-1)/1e4 is the portable boundary-safe round
                floor((4e-1 * (CAST(stop_cnt AS DOUBLE) / n_tokens)
                     + 3e-1 * least(1e0, n_tokens / 1e2)
                     + 3e-1 * least(1e0, avg_len / 8e0)) * 1e4 + 5e-1) / 1e4 AS quality
         FROM per_doc ORDER BY doc_id""",

    "l6_fingerprint_minhash" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         seq AS (
           SELECT doc_id, pos, term,
                  lead(term, 1) OVER w AS t1, lead(term, 2) OVER w AS t2,
                  lead(term, 3) OVER w AS t3
           FROM toks WHERE term <> ''
           WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
         SELECT doc_id,
                min(md5(term || ' ' || t1 || ' ' || t2 || ' ' || t3)) AS fingerprint,
                count(*) AS n_grams
         FROM seq WHERE t3 IS NOT NULL
         GROUP BY doc_id ORDER BY doc_id""",

    "l8_text_token_count" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS re_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_out
         FROM documents ORDER BY doc_id""",

    // same lossless-prefix-filter argument as l9: the oracle brute-forces
    // the bipartite shingle join; the engine's prefix index yields the
    // identical pair set. Ranking is on the ROUNDED jaccard (both sides),
    // ties to the lowest corpus id.
    "l18_dedup_incremental" ->
      """WITH delta AS (SELECT doc_id, text FROM documents
             WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e0'),
         corpus AS (SELECT doc_id, text FROM documents
             WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e0'),
         ex AS (
           SELECT d.doc_id, min(c.doc_id) AS exact_of
           FROM delta d JOIN corpus c ON sha256(d.text) = sha256(c.text)
           GROUP BY 1),
         toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         ftoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM toks WHERE term <> ''),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
                    term || ' ' || lead(term, 1) OVER w || ' ' ||
                      lead(term, 2) OVER w AS shingle,
                    lead(term, 2) OVER w AS t2
             FROM ftoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord))
           WHERE t2 IS NOT NULL),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS d_id, b.doc_id AS c_id, CAST(count(*) AS BIGINT) AS c
           FROM sh a JOIN sh b ON a.shingle = b.shingle
           WHERE a.doc_id IN (SELECT doc_id FROM delta)
             AND b.doc_id IN (SELECT doc_id FROM corpus)
           GROUP BY 1, 2),
         jac AS (
           SELECT d_id, c_id,
                  floor(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 1e4 + 5e-1) / 1e4 AS j
           FROM common
           JOIN sz sa ON sa.doc_id = d_id
           JOIN sz sb ON sb.doc_id = c_id
           WHERE 5 * c >= 4 * (sa.n + sb.n - c)),
         best AS (
           SELECT d_id, c_id, j FROM (
             SELECT d_id, c_id, j,
                    row_number() OVER (PARTITION BY d_id ORDER BY j DESC, c_id) AS rn
             FROM jac) WHERE rn = 1)
         SELECT d.doc_id,
                CAST(coalesce(ex.exact_of, -1) AS BIGINT) AS exact_of,
                CAST(coalesce(best.c_id, -1) AS BIGINT) AS near_of,
                coalesce(best.j, 0e0) AS jaccard
         FROM delta d
         LEFT JOIN ex ON ex.doc_id = d.doc_id
         LEFT JOIN best ON best.d_id = d.doc_id
         ORDER BY d.doc_id""",

    // same op order as the Spark expr throughout: wt = 1e0/srcs/(tok/total)
    // and u = hex6(md5(id))/16^6 are pure IEEE ops over integer inputs, so
    // the floor(wt)/frac(wt) split and the Bernoulli compare agree exactly
    "l20_sample_by_weight" ->
      """WITH sized AS (
           SELECT doc_id, source,
                  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         per_src AS (SELECT source, sum(n_tokens) AS tok FROM sized GROUP BY 1),
         tot AS (
           SELECT source, tok, sum(tok) OVER () AS total, count(*) OVER () AS srcs
           FROM per_src),
         w AS (
           SELECT source, 1e0 / srcs / (CAST(tok AS DOUBLE) / total) AS wt
           FROM tot),
         d AS (
           SELECT doc_id, d.source, wt,
                  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                    AS BIGINT) AS DOUBLE) / 16777216e0 AS u
           FROM documents d JOIN w USING (source)),
         c AS (
           SELECT doc_id, source, wt,
                  CAST(floor(wt) + (CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_copies
           FROM d)
         SELECT doc_id, source,
                floor(wt * 1e4 + 5e-1) / 1e4 AS weight,
                unnest(generate_series(1, n_copies)) AS copy_id
         FROM c ORDER BY doc_id, copy_id""",

    // per-token quantization to integer micro-nats BEFORE the per-doc sum
    // (exact integer aggregation — summation order can't flip a boundary);
    // ln over the same integer ratio on both engines, the j6 idf precedent
    "l21_unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         ftoks AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         vocab AS (
           SELECT term,
                  CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1e6 + 5e-1)
                    AS BIGINT) AS q_nll
           FROM (SELECT term, count(*) AS cnt, sum(count(*)) OVER () AS total
                 FROM ftoks GROUP BY 1)),
         per_doc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                  CAST(sum(q_nll) AS BIGINT) AS sq
           FROM ftoks JOIN vocab USING (term) GROUP BY 1)
         SELECT doc_id, n_toks,
                floor(CAST(sq AS DOUBLE) / n_toks / 1e6 * 1e4 + 5e-1) / 1e4 AS xent,
                floor(CAST(sq AS DOUBLE) / n_toks / 1e6 * 1e4 + 5e-1) / 1e4 <= 3.41
                  AS keep
         FROM per_doc ORDER BY doc_id""",
    "l45_bigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         seq AS (SELECT doc_id, pos, term,
                   lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
                 FROM toks WHERE term <> ''),
         pairs AS (SELECT doc_id, term AS w1, nxt AS w2
                   FROM seq WHERE nxt IS NOT NULL),
         big AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
         hist AS (SELECT w1, count(*) AS ch FROM pairs GROUP BY 1),
         uni AS (SELECT w2, count(*) AS cu,
                   sum(count(*)) OVER () AS tot
                 FROM pairs GROUP BY 1),
         scored AS (
           SELECT p.doc_id,
             CAST(floor(-ln(0.7 * (CAST(b.cb AS DOUBLE) / h.ch) +
                            0.3 * (CAST(u.cu AS DOUBLE) / u.tot)) * 1e6 + 5e-1)
               AS BIGINT) AS q_nll
           FROM pairs p
           JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
           JOIN hist h ON p.w1 = h.w1
           JOIN uni u ON p.w2 = u.w2),
         per_doc AS (
           SELECT doc_id, count(*) AS n_pairs, CAST(sum(q_nll) AS BIGINT) AS sq
           FROM scored GROUP BY 1)
         SELECT doc_id, n_pairs,
                floor(CAST(sq AS DOUBLE) / n_pairs / 1e6 * 1e4 + 5e-1) / 1e4 AS xent,
                floor(CAST(sq AS DOUBLE) / n_pairs / 1e6 * 1e4 + 5e-1) / 1e4 <= 3.42
                  AS keep
         FROM per_doc ORDER BY doc_id""",
    "l46_dup_span_fraction" ->
      """WITH fw AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z]+'),
                              x -> x <> '') AS w
           FROM documents),
         pos AS (
           SELECT doc_id, w,
                  unnest(range(0, CASE WHEN len(w) >= 8 THEN len(w) - 7
                                       ELSE 0 END)) AS i
           FROM fw),
         grams AS (
           SELECT doc_id, array_to_string(w[i + 1 : i + 8], ' ') AS gram
           FROM pos),
         df AS (SELECT gram, count(DISTINCT doc_id) AS nd
                FROM grams GROUP BY 1),
         per_doc AS (
           SELECT doc_id, count(*) AS n_grams,
                  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_dup
           FROM grams JOIN df USING (gram) GROUP BY 1)
         SELECT doc_id, n_grams, n_dup,
                floor(CAST(n_dup AS DOUBLE) / n_grams * 1e4 + 5e-1) / 1e4
                  AS dup_frac,
                floor(CAST(n_dup AS DOUBLE) / n_grams * 1e4 + 5e-1) / 1e4 >= 0.30
                  AS flagged
         FROM per_doc ORDER BY doc_id""",

    // the oracle brute-forces the directional shingle join (the asymmetric
    // prefix filter is lossless, same argument as l9/l18); threshold and
    // rounding identical integer/IEEE forms on both engines
    "l22_containment_ngram" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         ftoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM toks WHERE term <> ''),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
                    term || ' ' || lead(term, 1) OVER w || ' ' ||
                      lead(term, 2) OVER w AS shingle,
                    lead(term, 2) OVER w AS t2
             FROM ftoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord))
           WHERE t2 IS NOT NULL),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS c
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id,
                floor(CAST(c AS DOUBLE) / sa.n * 1e4 + 5e-1) / 1e4 AS containment
         FROM common JOIN sz sa ON sa.doc_id = a_id
         WHERE 10 * c >= 9 * sa.n
         ORDER BY a_id, b_id""",

    "l19_chunk_overlap" ->
      """WITH sized AS (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         chunks AS (
           SELECT doc_id, n_tokens,
                  CASE WHEN n_tokens <= 64 THEN 1
                       ELSE (n_tokens - 64 + 55) // 56 + 1 END AS n_chunks
           FROM sized)
         SELECT doc_id,
                unnest(generate_series(0, n_chunks - 1)) AS chunk_id,
                unnest(generate_series(0, n_chunks - 1)) * 56 AS tok_start,
                least(64, n_tokens - unnest(generate_series(0, n_chunks - 1)) * 56)
                  AS n_toks
         FROM chunks ORDER BY doc_id, chunk_id""",

    // builds the SAME blob (from_hex header + encode(text) body), then
    // parses it back by slicing the blob's hex image — DuckDB can't
    // substring a BLOB directly, but hex-string math over the same bytes
    // is the identical big-endian field read ('0x'-cast = Spark's conv)
    "l7_multimodal_features" ->
      """WITH media AS (
           SELECT doc_id,
                  from_hex('47524654'
                    || lpad(hex(16 + doc_id % 1017), 8, '0')
                    || lpad(hex(16 + (doc_id * 3) % 737), 8, '0')
                    || lpad(hex(1 + doc_id % 4), 8, '0')) || encode(text)
                    AS payload
           FROM documents),
         parsed AS (SELECT doc_id, payload, hex(payload) AS hx FROM media)
         SELECT doc_id,
                decode(from_hex(substr(hx, 1, 8))) AS magic,
                CAST('0x' || substr(hx, 9, 8) AS BIGINT) AS width,
                CAST('0x' || substr(hx, 17, 8) AS BIGINT) AS height,
                CAST('0x' || substr(hx, 25, 8) AS BIGINT) AS channels,
                CAST(octet_length(payload) - 16 AS BIGINT) AS body_bytes
         FROM parsed ORDER BY doc_id""",

    // identical planted splice (pure function of doc_id's md5 + integer
    // mods), identical regexes (the Java-regex ∩ RE2 literal-safe
    // subset), counts before replacement, global replacement ('g')
    "l23_pii_redact" ->
      """WITH spliced AS (
           SELECT doc_id, text
             || CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
                  THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                  ELSE '' END
             || CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) < '8'
                  THEN ' call 555-' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END
             || CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) < '8'
                  THEN ' ssn ' || lpad(CAST((doc_id * 3) % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                    || '-' || lpad(CAST((doc_id * 11) % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS pii_text
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(pii_text,
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(pii_text,
                  '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
                CAST(len(regexp_extract_all(pii_text,
                  '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ids,
                regexp_replace(regexp_replace(regexp_replace(pii_text,
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
                  '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g') AS redacted
         FROM spliced ORDER BY doc_id""",

    // same delta cut as l18, same op order as the Spark exprs: pd, pc,
    // then floor(pd·ln(pd/pc)·1e6 + 5e-1) per term — the integer
    // micro-nat sum makes the headline KL summation-order-proof
    "l25_token_drift" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         lab AS (
           SELECT term,
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e0' AS is_delta
           FROM toks WHERE term <> ''),
         per_term AS (
           SELECT term,
                  CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS d_cnt,
                  CAST(sum(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT) AS c_cnt
           FROM lab GROUP BY 1),
         tot AS (
           SELECT term, d_cnt, c_cnt,
                  CAST(sum(d_cnt) OVER () AS BIGINT) AS d_tot,
                  CAST(sum(c_cnt) OVER () AS BIGINT) AS c_tot,
                  CAST(count(*) OVER () AS BIGINT) AS v
           FROM per_term),
         contrib AS (
           SELECT term, d_cnt, c_cnt,
                  CAST(floor(
                    (CAST(d_cnt AS DOUBLE) / d_tot)
                      * ln((CAST(d_cnt AS DOUBLE) / d_tot)
                           / (CAST(c_cnt + 1 AS DOUBLE) / (c_tot + v))) * 1e6 + 5e-1)
                    AS BIGINT) AS q_contrib
           FROM tot WHERE d_cnt > 0)
         SELECT term, d_cnt, c_cnt, q_contrib,
                CAST(sum(q_contrib) OVER () AS BIGINT) AS kl_unats
         FROM contrib ORDER BY term""",

    // every stage formula below is lifted VERBATIM from an already-
    // hash-verified oracle (l5/l17 quality, l14 repetition, l21 LM,
    // l17 dedup, l16 decontamination) — only the conjunction counts and
    // the 6-row stack are new
    "l24_filter_funnel" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         ftoks AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         qual AS (
           SELECT doc_id,
                  4e-1 * (CAST(stop_cnt AS DOUBLE) / n_tokens)
                    + 3e-1 * least(1e0, n_tokens / 1e2)
                    + 3e-1 * least(1e0, CAST(len_sum AS DOUBLE) / n_tokens / 8e0)
                    AS xq
           FROM (SELECT doc_id, count(*) AS n_tokens,
                        sum(CASE WHEN term IN ('the','a','of','and') THEN 1 ELSE 0 END)
                          AS stop_cnt,
                        sum(length(term)) AS len_sum
                 FROM ftoks GROUP BY 1)),
         ptoks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         otoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM ptoks WHERE term <> ''),
         seq AS (
           SELECT doc_id, term, lead(term, 1) OVER w AS t1, lead(term, 2) OVER w AS t2
           FROM otoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)),
         bistats AS (
           SELECT doc_id, max(c) AS top_bi, sum(c) AS n_bi FROM (
             SELECT doc_id, term || ' ' || t1 AS bg, count(*) AS c
             FROM seq WHERE t1 IS NOT NULL GROUP BY 1, 2)
           GROUP BY 1),
         tristats AS (
           SELECT doc_id, count(*) AS n_tri,
                  count(DISTINCT term || ' ' || t1 || ' ' || t2) AS d_tri
           FROM seq WHERE t2 IS NOT NULL GROUP BY 1),
         rep AS (
           SELECT doc_id, CAST(top_bi AS DOUBLE) / n_bi AS xbi,
                  1e0 - CAST(d_tri AS DOUBLE) / n_tri AS xtri
           FROM bistats JOIN tristats USING (doc_id)),
         vocab AS (
           SELECT term,
                  CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1e6 + 5e-1)
                    AS BIGINT) AS q_nll
           FROM (SELECT term, count(*) AS cnt, sum(count(*)) OVER () AS total
                 FROM ftoks GROUP BY 1)),
         lm AS (
           SELECT doc_id,
                  floor(CAST(sum(q_nll) AS DOUBLE) / count(*) / 1e6 * 1e4 + 5e-1) / 1e4
                    AS xent
           FROM ftoks JOIN vocab USING (term) GROUP BY 1),
         uq AS (
           SELECT doc_id,
                  doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS uniq
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
                    term || ' ' || lead(term, 1) OVER w || ' ' ||
                      lead(term, 2) OVER w AS shingle,
                    lead(term, 2) OVER w AS t2
             FROM otoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord))
           WHERE t2 IS NOT NULL),
         ev(g) AS (VALUES ('row column sort'), ('stream table hash'),
                          ('window fast query'), ('data merge group'),
                          ('held out benchmark')),
         dirty AS (SELECT DISTINCT doc_id FROM sh JOIN ev ON shingle = g),
         flags AS (
           SELECT coalesce(xq >= 26e-2, false) AS q,
                  coalesce(xbi <= 8e-2 AND xtri <= 5e-2, false) AS rep,
                  coalesce(xent <= 3.41, false) AS lm, uniq,
                  d.doc_id NOT IN (SELECT doc_id FROM dirty) AS clean,
                  coalesce(CAST(floor(
                      (1e1 * xq - 2e1 * xbi - 3e1 * xtri - 4e1 * xent + 136e0)
                      * 1e6 + 5e-1) AS BIGINT) >= 1500000, false) AS clf
           FROM documents d
           LEFT JOIN qual USING (doc_id) LEFT JOIN rep USING (doc_id)
           LEFT JOIN lm USING (doc_id) JOIN uq USING (doc_id)),
         c AS (
           SELECT CAST(count(*) AS BIGINT) AS s0,
                  CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS s1,
                  CAST(sum(CASE WHEN q AND rep THEN 1 ELSE 0 END) AS BIGINT) AS s2,
                  CAST(sum(CASE WHEN q AND rep AND lm THEN 1 ELSE 0 END) AS BIGINT) AS s3,
                  CAST(sum(CASE WHEN q AND rep AND lm AND uniq THEN 1 ELSE 0 END)
                    AS BIGINT) AS s4,
                  CAST(sum(CASE WHEN q AND rep AND lm AND uniq AND clean THEN 1 ELSE 0 END)
                    AS BIGINT) AS s5,
                  CAST(sum(CASE WHEN q AND rep AND lm AND uniq AND clean AND clf
                    THEN 1 ELSE 0 END) AS BIGINT) AS s6
           FROM flags)
         SELECT CAST(0 AS BIGINT) AS stage_id, 'all' AS stage, s0 AS survivors,
                CAST(0 AS BIGINT) AS dropped FROM c
         UNION ALL SELECT 1, 'quality', s1, s0 - s1 FROM c
         UNION ALL SELECT 2, 'repetition', s2, s1 - s2 FROM c
         UNION ALL SELECT 3, 'unigram_lm', s3, s2 - s3 FROM c
         UNION ALL SELECT 4, 'exact_dedup', s4, s3 - s4 FROM c
         UNION ALL SELECT 5, 'decontaminate', s5, s4 - s5 FROM c
         UNION ALL SELECT 6, 'classifier', s6, s5 - s6 FROM c
         ORDER BY stage_id""",

    // same pinned constants (k1=1.2, b=0.75, +1-smoothed idf), same op
    // order as the Spark exprs, and the same micro-unit quantization per
    // (doc, term) — the top-10 cut is an exact integer comparison with
    // the doc_id tie-break on both engines
    "l26_bm25_topk" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         ftoks AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         stats AS (
           SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                  CAST(count(*) AS BIGINT) AS tot
           FROM ftoks),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM ftoks GROUP BY 1),
         q(term) AS (VALUES ('dup'), ('vector'), ('query')),
         idf AS (
           SELECT term, ln((n_docs - df + 5e-1) / (df + 5e-1) + 1e0) AS idf
           FROM (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                 FROM ftoks JOIN q USING (term) GROUP BY 1), stats),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM ftoks JOIN q USING (term) GROUP BY 1, 2),
         scored AS (
           SELECT doc_id,
                  CAST(floor(idf * (tf * 22e-1)
                    / (tf + 12e-1 * (25e-2 + 75e-2
                       * (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / n_docs))))
                    * 1e6 + 5e-1) AS BIGINT) AS q_s
           FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
                CAST(sum(q_s) AS BIGINT) AS score_u
         FROM scored GROUP BY 1
         ORDER BY score_u DESC, doc_id LIMIT 10""",

    // both legs' ranks reconstructed (integer BM25 micro-score / 4-dp
    // cosine, doc_id tie-break), then the same integer-division RRF —
    // no floating point in the fusion on either engine
    "l51_hybrid_rrf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         ftoks AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         stats AS (
           SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                  CAST(count(*) AS BIGINT) AS tot
           FROM ftoks),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM ftoks GROUP BY 1),
         q(term) AS (VALUES ('dup'), ('vector'), ('query')),
         idf AS (
           SELECT term, ln((n_docs - df + 5e-1) / (df + 5e-1) + 1e0) AS idf
           FROM (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                 FROM ftoks JOIN q USING (term) GROUP BY 1), stats),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM ftoks JOIN q USING (term) GROUP BY 1, 2),
         bm AS (
           SELECT doc_id, sum(CAST(floor(idf * (tf * 22e-1)
                    / (tf + 12e-1 * (25e-2 + 75e-2
                       * (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / n_docs))))
                    * 1e6 + 5e-1) AS BIGINT)) AS score_u
           FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats
           GROUP BY 1),
         lex AS (
           SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score_u DESC, doc_id)
                    AS BIGINT) AS r_lex
           FROM bm ORDER BY score_u DESC, doc_id LIMIT 20),
         qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                FROM embeddings WHERE vec_id = 0),
         dsim AS (
           SELECT vec_id AS doc_id,
             round(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qe)
               / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(embedding, x -> CAST(x AS DOUBLE))))
                * sqrt(list_dot_product(qe, qe))), 4) AS sim
           FROM embeddings JOIN documents ON vec_id = doc_id
           CROSS JOIN qv WHERE vec_id > 0),
         dense AS (
           SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
                    AS BIGINT) AS r_dense
           FROM dsim ORDER BY sim DESC, doc_id LIMIT 20),
         fused AS (
           SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id, r_lex, r_dense,
                  COALESCE(1000000 // (r_lex + 60), 0)
                    + COALESCE(1000000 // (r_dense + 60), 0) AS rrf_u
           FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
         SELECT doc_id, r_lex, r_dense, CAST(rrf_u AS BIGINT) AS rrf_u
         FROM fused ORDER BY rrf_u DESC, doc_id LIMIT 10""",

    // l51's ranking CTEs verbatim, then the same integer-quantized
    // metric folds (per-term floor BEFORE the sum, integer MRR)
    "l52_retrieval_metrics" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         ftoks AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         stats AS (
           SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                  CAST(count(*) AS BIGINT) AS tot
           FROM ftoks),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM ftoks GROUP BY 1),
         q(term) AS (VALUES ('dup'), ('vector'), ('query')),
         idf AS (
           SELECT term, ln((n_docs - df + 5e-1) / (df + 5e-1) + 1e0) AS idf
           FROM (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                 FROM ftoks JOIN q USING (term) GROUP BY 1), stats),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM ftoks JOIN q USING (term) GROUP BY 1, 2),
         bm AS (
           SELECT doc_id, sum(CAST(floor(idf * (tf * 22e-1)
                    / (tf + 12e-1 * (25e-2 + 75e-2
                       * (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / n_docs))))
                    * 1e6 + 5e-1) AS BIGINT)) AS score_u
           FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats
           GROUP BY 1),
         lex AS (
           SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score_u DESC, doc_id)
                    AS BIGINT) AS r_lex
           FROM bm ORDER BY score_u DESC, doc_id LIMIT 20),
         qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                FROM embeddings WHERE vec_id = 0),
         dsim AS (
           SELECT vec_id AS doc_id,
             round(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qe)
               / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(embedding, x -> CAST(x AS DOUBLE))))
                * sqrt(list_dot_product(qe, qe))), 4) AS sim
           FROM embeddings JOIN documents ON vec_id = doc_id
           CROSS JOIN qv WHERE vec_id > 0),
         dense AS (
           SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
                    AS BIGINT) AS r_dense
           FROM dsim ORDER BY sim DESC, doc_id LIMIT 20),
         fused AS (
           SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
                  COALESCE(1000000 // (r_lex + 60), 0)
                    + COALESCE(1000000 // (r_dense + 60), 0) AS rrf_u
           FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id),
         ranked AS (
           SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY rrf_u DESC, doc_id)
                    AS BIGINT) AS r
           FROM fused ORDER BY rrf_u DESC, doc_id LIMIT 10),
         rel AS (SELECT DISTINCT doc_id FROM ftoks WHERE term = 'dup'),
         nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM rel),
         hm AS (
           SELECT CAST(count(*) AS BIGINT) AS hits_at_10,
                  min(r) AS first_rel_rank,
                  CAST(sum(CAST(floor(1e6 / log2(r + 1) + 5e-1) AS BIGINT))
                    AS BIGINT) AS dcg_u
           FROM ranked JOIN rel USING (doc_id)),
         im AS (
           SELECT CAST(sum(CAST(floor(1e6 / log2(r + 1) + 5e-1) AS BIGINT))
                    AS BIGINT) AS idcg_u
           FROM (SELECT unnest(range(1, 11)) AS r), nrel
           WHERE r <= least(10, n_rel))
         SELECT n_rel, hits_at_10, first_rel_rank,
                CAST(1000000 // first_rel_rank AS BIGINT) AS mrr_u,
                dcg_u, idcg_u
         FROM nrel, hm, im""",

    // feature CTEs lifted verbatim from the hash-verified l5/l14/l21
    // oracles; the linear form and the micro-unit quantization of z match
    // the Spark exprs op-for-op, so keep is the same integer comparison
    // and both engines feed exp() the identical double
    "l27_quality_classifier" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         ftoks AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         qual AS (
           SELECT doc_id,
                  4e-1 * (CAST(stop_cnt AS DOUBLE) / n_tokens)
                    + 3e-1 * least(1e0, n_tokens / 1e2)
                    + 3e-1 * least(1e0, CAST(len_sum AS DOUBLE) / n_tokens / 8e0)
                    AS xq
           FROM (SELECT doc_id, count(*) AS n_tokens,
                        sum(CASE WHEN term IN ('the','a','of','and') THEN 1 ELSE 0 END)
                          AS stop_cnt,
                        sum(length(term)) AS len_sum
                 FROM ftoks GROUP BY 1)),
         ptoks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         otoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM ptoks WHERE term <> ''),
         seq AS (
           SELECT doc_id, term, lead(term, 1) OVER w AS t1, lead(term, 2) OVER w AS t2
           FROM otoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)),
         bistats AS (
           SELECT doc_id, max(c) AS top_bi, sum(c) AS n_bi FROM (
             SELECT doc_id, term || ' ' || t1 AS bg, count(*) AS c
             FROM seq WHERE t1 IS NOT NULL GROUP BY 1, 2)
           GROUP BY 1),
         tristats AS (
           SELECT doc_id, count(*) AS n_tri,
                  count(DISTINCT term || ' ' || t1 || ' ' || t2) AS d_tri
           FROM seq WHERE t2 IS NOT NULL GROUP BY 1),
         rep AS (
           SELECT doc_id, CAST(top_bi AS DOUBLE) / n_bi AS xbi,
                  1e0 - CAST(d_tri AS DOUBLE) / n_tri AS xtri
           FROM bistats JOIN tristats USING (doc_id)),
         vocab AS (
           SELECT term,
                  CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1e6 + 5e-1)
                    AS BIGINT) AS q_nll
           FROM (SELECT term, count(*) AS cnt, sum(count(*)) OVER () AS total
                 FROM ftoks GROUP BY 1)),
         lm AS (
           SELECT doc_id,
                  floor(CAST(sum(q_nll) AS DOUBLE) / count(*) / 1e6 * 1e4 + 5e-1) / 1e4
                    AS xent
           FROM ftoks JOIN vocab USING (term) GROUP BY 1),
         z AS (
           SELECT doc_id,
                  CAST(floor((1e1 * xq - 2e1 * xbi - 3e1 * xtri - 4e1 * xent + 136e0)
                    * 1e6 + 5e-1) AS BIGINT) AS z_u
           FROM qual JOIN rep USING (doc_id) JOIN lm USING (doc_id))
         SELECT doc_id, z_u,
                floor(1e0 / (1e0 + exp(-(CAST(z_u AS DOUBLE) / 1e6))) * 1e4 + 5e-1)
                  / 1e4 AS score,
                z_u >= 1500000 AS keep
         FROM z ORDER BY doc_id""",

    // the oracle reads the FLAT table — the partitioned layout must be
    // answer-invariant; the pruning itself is pinned by the query's own
    // fail-loud require + PlanShapeSpec
    "l28_partition_pruned_scan" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents WHERE lang = 'en'
         GROUP BY 1 ORDER BY 1""",

    // same planted footer (md5 gate), same content-defined cut rule
    // (md5 of the adjacent-token bigram < '1'), chunk text assembled
    // with the same ' ' separator, and the same two-level canonical
    // min — the keep line is the identical integer comparison
    "l29_dedup_cdc_chunks" ->
      ("""WITH docs AS (
           SELECT doc_id,
                  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
                       THEN text || ' subscribe now for weekly updates and """ +
      """exclusive offers delivered straight to your inbox unsubscribe """ +
      """anytime with one click terms and conditions apply see our privacy """ +
      """policy for details about how we handle your data and cookies """ +
      """follow us on social media for breaking news and special """ +
      """announcements thank you for reading'
                       ELSE text END AS text2
           FROM documents),
         ptoks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text2), '[^a-z]+') AS w
                 FROM docs)),
         otoks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ord,
                  term
           FROM ptoks WHERE term <> ''),
         brk AS (
           SELECT doc_id, ord, term,
                  CASE WHEN lead(term) OVER w IS NOT NULL
                         AND md5(term || ' ' || lead(term) OVER w) < '1'
                       THEN 1 ELSE 0 END AS b
           FROM otoks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)),
         cid AS (
           SELECT doc_id, ord, term,
                  CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY ord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS chunk_id
           FROM brk),
         chunks AS (
           SELECT doc_id, chunk_id, md5(string_agg(term, ' ' ORDER BY ord)) AS h
           FROM cid GROUP BY 1, 2),
         cd AS (SELECT h, min(doc_id) AS cd FROM chunks GROUP BY 1),
         cs AS (SELECT h, cd, min(chunk_id) AS co
                FROM chunks JOIN cd USING (h) WHERE doc_id = cd GROUP BY 1, 2),
         marked AS (
           SELECT c.doc_id,
                  NOT (c.doc_id = cs.cd AND c.chunk_id = cs.co) AS dup
           FROM chunks c JOIN cs USING (h)),
         per_doc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
           FROM marked GROUP BY 1)
         SELECT doc_id, n_chunks, n_dup,
                floor(CAST(n_dup AS DOUBLE) / n_chunks * 1e4 + 5e-1) / 1e4 AS dup_frac,
                n_dup * 5 <= n_chunks * 2 AS keep
         FROM per_doc ORDER BY doc_id"""),

    // l7's blob construction verbatim; frames sliced out of the SAME
    // lowercased hex image on both engines, digests over the hex string
    "l30_multimodal_frame_sample" ->
      """WITH media AS (
           SELECT doc_id,
                  from_hex('47524654'
                    || lpad(hex(16 + doc_id % 1017), 8, '0')
                    || lpad(hex(16 + (doc_id * 3) % 737), 8, '0')
                    || lpad(hex(1 + doc_id % 4), 8, '0')) || encode(text)
                    AS payload,
                  (1 + doc_id % 4) * 4 AS fb
           FROM documents),
         sized AS (
           SELECT doc_id, lower(hex(payload)) AS hx, fb,
                  (octet_length(payload) - 16) // fb AS n_frames
           FROM media),
         samp AS (
           SELECT doc_id, hx, fb,
                  least(8, (n_frames - 1) // 4 + 1) AS n_samp
           FROM sized WHERE n_frames >= 1),
         idx AS (
           SELECT doc_id, hx, fb,
                  unnest(generate_series(0, n_samp - 1)) * 4 AS frame_idx
           FROM samp)
         SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                CAST(16 + frame_idx * fb AS BIGINT) AS off_bytes,
                substr(hx, (16 + frame_idx * fb) * 2 + 1, fb * 2) AS frame_hex,
                md5(substr(hx, (16 + frame_idx * fb) * 2 + 1, fb * 2)) AS frame_md5
         FROM idx ORDER BY doc_id, frame_idx""",

    // document-level PMI: distinct presence rows, df-windowed vocab,
    // a<b self-join pairs — ln computed in double on both engines
    "l36_pmi_cooccur" ->
      """WITH dt AS (
           SELECT DISTINCT doc_id, term FROM (
             SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
             FROM documents)
           WHERE term <> ''),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
         df AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
         vocab AS (
           SELECT term, df FROM df, n
           WHERE df >= n_docs * 0.02 AND df <= n_docs * 0.95),
         pairs AS (
           SELECT a.term AS ta, b.term AS tb, va.df AS dfa, vb.df AS dfb,
                  count(*) AS cab
           FROM dt a
           JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
           JOIN vocab va ON va.term = a.term
           JOIN vocab vb ON vb.term = b.term
           GROUP BY 1, 2, 3, 4)
         SELECT ta, tb, cab, dfa, dfb,
                round(ln(CAST(cab AS DOUBLE) * n_docs
                  / (CAST(dfa AS DOUBLE) * dfb)), 4) AS pmi
         FROM pairs, n WHERE cab >= 5 ORDER BY ta, tb""",

    // the custom codegen'd kernel must agree with DuckDB's native
    // jaro_winkler_similarity on every blocked pair — value-for-value
    // at 4dp, filter applied to the rounded score on both engines
    "l37_fuzzy_blocked_match" ->
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
                a.p_name AS a_name, b.p_name AS b_name,
                round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS sim
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_size = b.p_size
          AND a.p_partkey < b.p_partkey
         WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 4) >= 0.85
         ORDER BY a_key, b_key""",

    // the oracle is the NAIVE global-window greedy — equivalence with the
    // bucketed two-phase cut is exactly what this key claims; xq CTE
    // lifted from l24's verified oracle, quantized per the l27 rule
    "l38_budget_select" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         feat AS (
           SELECT doc_id, n_tokens,
                  CAST(floor((4e-1 * (CAST(stop_cnt AS DOUBLE) / n_tokens)
                    + 3e-1 * least(1e0, n_tokens / 1e2)
                    + 3e-1 * least(1e0, CAST(len_sum AS DOUBLE) / n_tokens / 8e0))
                    * 1e6 + 5e-1) AS BIGINT) AS q_u
           FROM (SELECT doc_id, count(*) AS n_tokens,
                        sum(CASE WHEN term IN ('the','a','of','and') THEN 1 ELSE 0 END)
                          AS stop_cnt,
                        sum(length(term)) AS len_sum
                 FROM toks WHERE term <> '' GROUP BY 1)),
         tot AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM feat),
         ranked AS (
           SELECT doc_id, q_u, n_tokens,
                  sum(n_tokens) OVER (ORDER BY q_u DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM feat)
         SELECT doc_id, q_u, CAST(n_tokens AS BIGINT) AS n_tokens
         FROM ranked, tot WHERE cum <= budget ORDER BY doc_id""",

    // the bloom overlay drops only never-joining rows — the plain join
    // is the invariant result (injection itself is require-gated in-plan)
    "l39_join_runtime_bloom" ->
      """SELECT o_orderpriority, count(*) AS item_cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 2001
         GROUP BY 1 ORDER BY 1""",

    // pure integer arithmetic — both engines compute the identical
    // multiplicative-hash permutation, so shard AND position match
    "l40_shuffle_shards" ->
      """SELECT CAST(h % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
             AS INTEGER) AS pos,
           doc_id, n_chars
         FROM (SELECT doc_id, n_chars,
                 (doc_id * 2654435761) % 4294967296 AS h
               FROM documents)
         ORDER BY shard, pos""",

    // both engines' md5 hex agrees, so bucket assignment — and therefore
    // the collision table — is engine-independent
    "l41_feature_hashing" ->
      """SELECT substr(md5(term), 1, 1) AS bucket, count(*) AS n_tokens,
           count(DISTINCT term) AS n_terms
         FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
               FROM documents)
         WHERE term <> '' GROUP BY 1 ORDER BY 1""",

    // the same double-cast dot product as j3's oracle (bit-identical to
    // the FloatDotProduct kernel); rn=1 per (anchor, same-label?) with
    // (sim DESC, cand) reproduces the struct-ordering argmax exactly
    "l44_triplet_mining" ->
      """WITH n AS (
           SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                   list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
           FROM embeddings),
         p AS (
           SELECT a.vec_id AS anchor, c.vec_id AS cand,
             a.label = c.label AS same,
             list_dot_product(a.v, c.v) / (a.nrm * c.nrm) AS sim
           FROM n a JOIN n c ON a.vec_id < 64 AND a.vec_id <> c.vec_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY anchor, same
             ORDER BY sim DESC, cand) AS rn
           FROM p)
         SELECT anchor,
           max(CASE WHEN same AND rn = 1 THEN cand END) AS pos_id,
           round(max(CASE WHEN same AND rn = 1 THEN sim END), 4) AS pos_sim,
           max(CASE WHEN NOT same AND rn = 1 THEN cand END) AS neg_id,
           round(max(CASE WHEN NOT same AND rn = 1 THEN sim END), 4) AS neg_sim
         FROM ranked GROUP BY anchor ORDER BY anchor""",

    // ten unrolled power-iteration CTEs (DuckDB disallows aggregates in
    // a recursive term); all-integer micro-unit arithmetic makes every
    // hop bit-identical to the Spark loop
    "l42_pagerank_hubs" -> {
      val iters = (1 to 10).map { i =>
        s"""pr$i AS (
           SELECT n.doc_id,
             (150000000 // (SELECT count(*) FROM documents)) +
             coalesce(f.inflow, 0) * 85 // 100 AS r
           FROM n LEFT JOIN (
             SELECT e.dst, CAST(sum(p.r // o.od) AS BIGINT) AS inflow
             FROM edges e JOIN pr${i - 1} p ON e.src = p.doc_id
             JOIN od o ON o.src = e.src
             GROUP BY e.dst) f ON f.dst = n.doc_id)"""
      }.mkString(",\n")
      s"""WITH n AS (SELECT doc_id FROM documents),
         srch AS (SELECT source, min(doc_id) AS dst FROM documents GROUP BY 1),
         langh AS (SELECT lang, min(doc_id) AS dst FROM documents GROUP BY 1),
         edges AS (
           SELECT DISTINCT src, dst FROM (
             SELECT d.doc_id AS src, s.dst FROM documents d JOIN srch s USING (source)
             UNION ALL
             SELECT d.doc_id, l.dst FROM documents d JOIN langh l USING (lang))
           WHERE src <> dst),
         od AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
         pr0 AS (SELECT doc_id,
           CAST(1000000000 // (SELECT count(*) FROM documents) AS BIGINT) AS r
           FROM n),
         $iters
         SELECT doc_id, r FROM pr10 ORDER BY doc_id"""
    }
  )
}
