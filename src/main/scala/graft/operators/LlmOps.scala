package graft.operators

import graft.Tables._
import graft.functions.TextFunctions.{wordNgrams, words}
import graft.functions.VectorFunctions.floatDot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.J — LLM-training-data pipeline operators over the
  * `documents` / `embeddings` corpus tables.
  *
  * Scale design notes (the 100 TB story, per operator):
  *  - exact dedup (j1) hash-partitions on the content digest — the groupBy
  *    shuffles digests, never the full text twice;
  *  - near-dedup (j2) is MinHash+LSH: candidate pairs come from equi-joins
  *    on band buckets (shuffle on bucket id), never a quadratic scan;
  *  - similarity (j3/j4) keeps the exact quadratic kernel only as the
  *    correctness baseline; the scale path is the LSH/banding variant and
  *    broadcast of the query side for kNN;
  *  - tokenize/tf-idf/ngrams (j5-j7) are explode→groupBy pipelines: one
  *    shuffle per aggregation grain, all map-side combinable;
  *  - incremental/SCD compaction (j11/j12) partitions by the upsert key so
  *    the window dedup is a single shuffle, the classic merge-on-read
  *    compaction kernel.
  */
object LlmOps {

  /** lower + split on non-letter runs; drops empty tokens. */
  private[operators] def tokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "")

  /** embeddings with a precomputed L2 norm. The dot/norm kernel is the
    * codegen'd [[graft.functions.FloatDotProduct]] expression — a primitive
    * loop inside WholeStageCodegen (bit-identical to widening each float to
    * double and summing left-to-right, which is what the DuckDB oracle
    * does), replacing the interpreted HOF kernel that was ~160× slower. */
  private[operators] def embs(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("norm", sqrt(floatDot(col("embedding"), col("embedding"))))

  private def cosine(a: String, b: String) =
    floatDot(col(s"$a.embedding"), col(s"$b.embedding")) /
      (col(s"$a.norm") * col(s"$b.norm"))

  /** j2's LSH geometry: 12 bands × 2 minhashes, P(candidate) =
    * 1 − (1 − J²)¹² — ~0.92 at J = 0.5, ~0.06 per-band noise floor on
    * unrelated docs. Named so the oracle comment, the key, and the plan
    * pin all reference one definition. */
  private[graft] object MinHashBands { val nBands = 12; val nRows = 2 }

  /** The j2 candidate production over the minhash signature frame — split
    * out (r19, VERDICT r18 task 2) so PlanShapeSpec can pin the band
    * equi-join's physical shape (inside the key the verified pair frame
    * is localCheckpointed, hiding this subtree from the key's plan).
    * The band join shuffles only (doc_id, band, bval) — 24 bytes/row;
    * shingle sets attach to the (few) candidates afterwards. The band
    * value folds the band's r minhashes into one 64-bit key. */
  private[graft] def minhashBandCandidatesRaw(sigs: DataFrame): DataFrame = {
    import MinHashBands.{nBands, nRows}
    val banded = sigs.select(col("doc_id"),
      posexplode(array((0 until nBands).map { b =>
        xxhash64((0 until nRows).map(r => col(s"m${b * nRows + r}")): _*)
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** DISTINCT word-3-gram shingles per document as `(doc_id, shingle)`
    * rows, in first-seen order within each document. Invariants shared by
    * every consumer (j2, l9, l16, l17, l18, l22, l24, l32, l50):
    *  - one tokenizer rule, `words(lower(text))` — the maximal `[a-z]`
    *    runs (SURVEY §2.J); `LshSpec.shingles` mirrors it;
    *  - 3-word shingles joined by one space; documents under 3 words
    *    have none;
    *  - shingling stays inside the row (`word_ngrams` over the doc's own
    *    array), so the token stream never crosses a shuffle.
    *
    * It stays a LAZY PLAN, not a [[graft.Tables.sharedFrame]]: the stream
    * is cheap to recompute (a native per-row scan fused into each
    * consumer's documents scan, with that consumer's pruning intact) and
    * fat to store (hundreds of thousands of exploded string rows that
    * every consumer would have to deserialize). */
  private[graft] def shingleRows(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents")
      .select(col("doc_id"), words(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(wordNgrams(col("ws"), 3))).as("shingle"))
  }

  /** Row cap for the exact all-pairs baselines that `broadcast()` a whole
    * embedding table (j3, l2). ~200k × ≈300 B/row (64-float vector + norm)
    * ≈ 60 MB — the most a hinted broadcast should pin per executor. Beyond
    * it the exact baseline would OOM executors SILENTLY at scale-up, so we
    * fail loudly and point at the bucketed/IVF scale paths instead. The
    * check early-stops at cap+1 rows (limit-then-count), not a full count. */
  private[graft] val MaxBroadcastRows = 200000L
  private[graft] def requireBroadcastable(df: DataFrame, what: String,
      scalePath: String): DataFrame = {
    val n = df.limit(MaxBroadcastRows.toInt + 1).count()
    require(n <= MaxBroadcastRows,
      s"$what exceeds $MaxBroadcastRows rows — the exact broadcast baseline " +
        s"would OOM at this scale; use $scalePath")
    df
  }

  /** Connected components over a SYMMETRIC edge list `(a_id, b_id)` by
    * iterated min-label propagation: every node starts labelled with its own
    * id; each round every node adopts the min label among itself and its
    * neighbours; fixpoint = each component labelled by its min member.
    *
    * One-hop min-neighbour (the previous formulation) is wrong for
    * chain-shaped clusters: A~B~C with A≁C left C labelled B while B was
    * labelled A. Propagation closes the chain in O(component diameter)
    * rounds — near-dup components are cliques or short chains, so 1–2
    * rounds in practice; each round is ONE shuffle (join + min-agg on id).
    * Labels are localCheckpoint'd per round: iterative lineage would
    * otherwise grow exponentially, and the blocks release on GC. The
    * per-round convergence test is an aggregate action (a count), never a
    * driver-side collect of the labels themselves. At 100 TB you would
    * checkpoint rounds to durable storage and switch to large-star/
    * small-star [CC in MapReduce, Kiveris et al.] past ~10 rounds; the
    * capped loop + fail-loud guard keeps that boundary explicit. */
  private[graft] def minLabelClosure(ids: DataFrame, edges: DataFrame): DataFrame = {
    // the CALLER owns edge materialization (j2/l1 pass an already-
    // localCheckpoint'd pair list); checkpointing again here would cache a
    // second copy of the same blocks and run a redundant materialization
    val e = edges
    // loop state is restricted to nodes that HAVE an edge (a_id covers all
    // of them — the edge list is symmetric): at corpus scale the duplicate
    // subgraph is orders of magnitude smaller than the corpus, so each
    // round shuffles O(dup docs), not O(corpus); everything else is a
    // singleton component handled by the final left join.
    //
    // ROUND 1 SPECIALIZED (r22, VERDICT r21 task 3): with every node
    // initially labelled by its own id, round 1's neighbour-min is just
    // min(b_id) per a_id — ONE groupBy straight off the edge list, no
    // init-distinct frame, no label join. And round 1 is PROVABLY never
    // the fixpoint on a nonempty symmetric edge list: any edge appears
    // in both directions, and the direction (a, b) with b < a lowers
    // a's label — so its convergence count is a job that can only say
    // "continue" and is skipped. (Empty edge list: labels is empty, the
    // loop's first iteration counts 0 changes over an empty frame and
    // exits — same fixpoint, one trivially-empty round.) Net per call:
    // one fewer Spark job and two fewer exchanges than the generic
    // round-1 the r21 form ran.
    var labels = e.groupBy(col("a_id").as("doc_id"))
      .agg(min(col("b_id")).as("nbr_min"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nbr_min")).as("cluster_id"))
      .localCheckpoint(eager = false)
    var changed = 1L
    var rounds = 1
    val maxRounds = 30 // 30 rounds of chain diameter — unreachable in practice
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = e.join(labels, e("b_id") === labels("doc_id"))
        .groupBy(e("a_id").as("doc_id")).agg(min(col("cluster_id")).as("nbr_min"))
      // carry both old and new label through ONE checkpoint; the
      // convergence count doubles as the materializing action (one Spark
      // job per round), and later rounds read the cached blocks
      val step = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint(eager = false)
      changed = step.filter(col("cluster_id") < col("old_id")).count()
      labels = step.select("doc_id", "cluster_id")
      rounds += 1
    }
    require(changed == 0, s"label propagation did not converge in $maxRounds rounds")
    ids.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** [[minLabelClosure]] with POINTER DOUBLING: each round hooks (adopt the
    * min label among self + neighbours — one shuffle, same as the plain
    * closure) and then SHORTCUTS L(u) ← min(L(u), L(L(u))) via a self-join
    * of the label table on the label value. Hook alone moves a label one
    * hop per round (rounds = component diameter); the shortcut jumps to
    * wherever the label's own node has already reached, so the covered
    * distance ~doubles per round and convergence is O(log diameter) — the
    * per-round doubling that makes large-star/small-star [CC in MapReduce,
    * Kiveris et al.] viable on path-shaped components. PropertySpec pins
    * equality with union-find on random graphs AND ≤15 rounds on a planted
    * 256-node path — the graph the plain closure's 30-round cap fail-louds
    * on (also pinned). Trade-off: the shortcut costs a SECOND shuffle per
    * round, which buys nothing on clique/hub components (1–2 rounds either
    * way); it pays off when component diameter is unknown or grows with
    * scale. Consumers: l32 (user-facing clustering — ARBITRARY verified-
    * pair graph) and, since r22, l1 (the Hamming-≤3 simhash graph was
    * MEASURED chain-shaped: 13/15/26 plain rounds at sf0.1/8×/32× — one
    * clone step from the 30-round cap — vs 8/12/10 pointer-doubling; see
    * OPTIMIZATION_r22.md); l50 (arbitrary verified-pair graph, like
    * l32). j2/l12 keep the plain closure: their graphs are gated on
    * EXACT similarity (Jaccard/cosine), whose bimodal scores yield
    * cliquey components (j2's whole key runs 22 jobs vs l1's 98 under
    * the same kernel — JobCount r22), so the second shuffle would be
    * pure overhead there.
    *
    * Label values are always ids of nodes inside the label table (own ids
    * initially, mins of those afterwards), so the shortcut join always
    * finds its target; the left join + coalesce keeps the frame total
    * anyway. Returns (labels over `ids`, rounds ran) — the round count is
    * the observable the log-convergence spec pins. */
  private[graft] def minLabelClosureLog(ids: DataFrame, edges: DataFrame): (DataFrame, Int) = {
    val e = edges
    // round 1 specialized like [[minLabelClosure]] (r22): the hook over
    // self-labels is min(b_id) per a_id straight off the edge list, the
    // shortcut then jumps through that hooked table as usual, and the
    // convergence count is skipped — round 1 always changes a label on a
    // nonempty symmetric edge list (see the plain closure's proof).
    val hooked1 = e.groupBy(col("a_id").as("doc_id"))
      .agg(min(col("b_id")).as("nbr_min"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nbr_min")).as("cluster_id"))
    val ptr1 = hooked1
      .select(col("doc_id").as("p_id"), col("cluster_id").as("p_lab"))
    var labels = hooked1.join(ptr1, hooked1("cluster_id") === ptr1("p_id"), "left")
      .select(col("doc_id"),
        least(col("cluster_id"), coalesce(col("p_lab"), col("cluster_id")))
          .as("cluster_id"))
      .localCheckpoint(eager = false)
    var changed = 1L
    var rounds = 1
    val maxRounds = 20 // log2(diameter) + slack; 2^20-hop paths don't happen
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = e.join(labels, e("b_id") === labels("doc_id"))
        .groupBy(e("a_id").as("doc_id")).agg(min(col("cluster_id")).as("nbr_min"))
      val hooked = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
      val ptr = hooked
        .select(col("doc_id").as("p_id"), col("cluster_id").as("p_lab"))
      val step = hooked.join(ptr, hooked("cluster_id") === ptr("p_id"), "left")
        .select(col("doc_id"), col("old_id"),
          least(col("cluster_id"), coalesce(col("p_lab"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint(eager = false)
      changed = step.filter(col("cluster_id") < col("old_id")).count()
      labels = step.select("doc_id", "cluster_id")
      rounds += 1
    }
    require(changed == 0,
      s"pointer-doubling closure did not converge in $maxRounds rounds")
    (ids.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id")), rounds)
  }

  val queries: Map[String, Q] = Map(
    // exact dedup: keep min doc_id per sha256(text)
    "j1_dedup_exact" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(sha2(col("text"), 256).as("digest"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "digest")
        .orderBy("doc_id")),

    // near-duplicate clustering: the explicit shingle → minhash → band →
    // bucket-join pipeline, Jaccard >= 0.8 (SURVEY §2.J), per-doc cluster
    // assignment. The minhash family (xxhash64) is engine-internal, but it
    // only GENERATES CANDIDATES — every emitted pair passes the exact
    // Jaccard >= 4/5 check on the shingle sets, and hashing the shingles
    // preserves set sizes w.h.p. (64-bit, no in-doc collisions observed at
    // any tested SF). So the OUTPUT is SQL-expressible: the DuckDB oracle
    // recomputes exact all-pairs string-shingle Jaccard (l9's lossless-
    // oracle construction) + a recursive-CTE connected-component closure.
    // The oracle matching also witnesses 100% LSH recall on this corpus;
    // LshSpec additionally pins recall >= 0.9 at sf0.001 structurally.
    //
    // Banding is b=12 bands × r=2 minhash rows (24 minhashes/doc): a band
    // collides with p = J^2, so a true pair (J >= 0.8) is caught with
    // p = 1-(1-J²)^12 >= 1 - 4.7e-6, while the low-J noise that dominates
    // candidate volume is crushed quadratically. The r=1 first cut
    // (8 bands × 1 minhash) was MEASURED at sf0.1: the argmin of a single
    // minhash is a globally COMMON shingle for many docs, so buckets go
    // quadratic — 165,058 candidates for 512 true pairs, 164,544 of them
    // at J < 0.1, and the exact-Jaccard gate (1.9 s) dominated the key.
    // r=2 makes a bucket key the CO-OCCURRENCE of two independent argmin
    // shingles — at 100 TB this is the difference between near-linear
    // banding and stop-word-bucket blowup. (Probe record in SURVEY §7.5.)
    //
    // Built entirely from codegen'd columnar primitives (no ML-pipeline
    // per-row UDFs): 24 minhashes per doc in ONE aggregation pass, band
    // equi-join for candidates, then an EXACT Jaccard filter via
    // array_intersect on the hashed shingle sets of candidates only.
    // Scale story: candidates come from the equi-join on (band, value) —
    // hash-partitioned, never an all-pairs scan; full shingle sets are
    // only materialized for the few candidate docs, and the output is one
    // row per doc, not the raw pair list.
    "j2_dedup_near_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      // shared shingler (see shingleRows), hashed to 8-byte tokens so sets
      // and minhashes never carry text
      val shingles = shingleRows(s, d)
        .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      import MinHashBands.{nBands, nRows}
      // materialized once, consumed 4× below (both sides of the band
      // self-join + the two candidate set lookups) — without it the whole
      // shingle pipeline re-executes per consumer. localCheckpoint, NOT
      // persist: persist registers the plan in the session CacheManager,
      // which pins the blocks in executor memory for the life of the
      // session (BASELINE.md's "each query must stand alone" rule);
      // localCheckpoint blocks are released by the ContextCleaner as soon
      // as the query's RDD is unreachable. At cluster scale this is the
      // signature table you'd write once per corpus snapshot.
      val sigs = shingles.groupBy("doc_id")
        .agg(collect_set(col("sh")).as("set"),
          (0 until nBands * nRows)
            .map(h => min(xxhash64(lit(h), col("sh"))).as(s"m$h")): _*)
        .localCheckpoint(eager = false)
      val cand = minhashBandCandidatesRaw(sigs)
      val pairs = cand
        .join(sigs.select(col("doc_id").as("a_id"), col("set").as("sa")), "a_id")
        .join(sigs.select(col("doc_id").as("b_id"), col("set").as("sb")), "b_id")
        // exact Jaccard on the hashed shingle sets, candidates only —
        // the same exact-integer 5·common >= 4·union thresholding as l9's
        // kernel (no floating-point compare to disagree across engines)
        .filter(size(array_intersect(col("sa"), col("sb"))) * 5 >=
          size(array_union(col("sa"), col("sb"))) * 4)
        .select("a_id", "b_id")
        .localCheckpoint(eager = false) // consumed by n_dups AND the closure loop
      val nDups = pairs.groupBy(col("a_id").as("doc_id"))
        .agg(count(lit(1)).as("n_dups"))
      // transitive cluster id: min doc_id of the CONNECTED COMPONENT, so
      // chain-shaped clusters (A~B~C with A≁C) get one consistent id
      val clusters = minLabelClosure(docs.select("doc_id"), pairs)
      clusters.join(nDups, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"))
        .orderBy("doc_id")
    }),

    // exact top-20 cosine pairs (correctness baseline for ANN)
    "j3_sim_cosine_pairs" -> ((s, d) => {
      val e = requireBroadcastable(embs(s, d), "j3's embedding table",
        "l3_ann_ivf_topk (IVF cells) for the approximate scale path")
      e.as("a").join(broadcast(e.as("b")),
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
          rnd4(cosine("a", "b")).as("sim"))
        .orderBy(col("sim").desc, col("a_id"), col("b_id"))
        .limit(20)
    }),

    // top-10 nearest neighbours of vec_id=0 (broadcast query side — a
    // single row by construction of the vec_id filter, so no row-cap
    // guard is needed; the linear scan side is never broadcast)
    "j4_sim_knn_query" -> ((s, d) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"), col("norm").as("q_norm"))
      e.filter(col("vec_id") > 0).crossJoin(broadcast(q))
        .select(col("vec_id"),
          rnd4(floatDot(col("embedding"), col("q_embedding")) /
            (col("norm") * col("q_norm"))).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // top-50 words
    "j5_text_wordcount" -> ((s, d) =>
      tokens(s, d)
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .limit(50)),

    // per-doc top term by tf-idf; idf = ln((N+1)/(df+1)) + 1 (pinned §2.J)
    "j6_text_tfidf" -> ((s, d) => {
      val tf = tokens(s, d).groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") *
          (log((col("n_docs") + 1).cast(DoubleType) / (col("df") + 1)) + 1), 4))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("doc_id", "term", "score")
        .orderBy("doc_id")
    }),

    // top-20 word bigrams
    "j7_text_ngrams" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(lower(col("text")), "[^a-z]+")))
        .withColumnRenamed("col", "term")
        .filter(col("term") =!= "")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      toks.withColumn("next", lead(col("term"), 1).over(w))
        .filter(col("next").isNotNull)
        .select(concat_ws(" ", col("term"), col("next")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)
    }),

    // corpus profile per (lang, source)
    "j8_text_lang_stats" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("docs"),
          rnd4(avg(col("n_chars"))).as("avg_chars"),
          // distinct-count the 32-byte digest, not the document body: at
          // scale the distinct key is what gets shuffled, and SHA-256
          // collisions are beyond negligible, so the count is identical
          countDistinct(sha2(col("text"), 256)).as("distinct_docs"))
        .orderBy("lang", "source")),

    // lexicon sentiment: fixed word -> {-1,+1} map, sum per doc, histogram per lang
    "j9_sentiment_lexicon" -> ((s, d) => {
      val lex = s.createDataFrame(Seq(
        ("fast", 1), ("small", 1), ("slow", -1), ("batch", -1)))
        .toDF("term", "sc")
      val perDoc = tokens(s, d).join(broadcast(lex), "term")
        .groupBy("doc_id").agg(sum(col("sc")).as("sc"))
      t(s, d, "documents").select("doc_id", "lang")
        .join(perDoc, Seq("doc_id"), "left")
        .withColumn("score", coalesce(col("sc"), lit(0L)))
        .groupBy("lang", "score").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "score")
    }),

    // multimodal join: text table x vector table
    "j10_multimodal_join" -> ((s, d) =>
      t(s, d, "documents")
        .join(t(s, d, "embeddings"), col("doc_id") === col("vec_id"))
        .groupBy("lang", "label")
        .agg(count(lit(1)).as("docs"), rnd4(avg(col("n_chars"))).as("avg_chars"))
        .orderBy("lang", "label")),

    // incremental window: rows after a pinned checkpoint, idempotent-upsert
    // (dedup on event_id, last-write-wins by ts)
    "j11_etl_incremental_window" -> ((s, d) => {
      val w = Window.partitionBy("event_id")
        .orderBy(col("ts").desc, col("value").desc)
      t(s, d, "events")
        .filter(col("ts") > lit("2024-01-15 00:00:00").cast(TimestampType))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          epochUs(col("ts")).as("ts_us"), col("value"))
        .orderBy("event_id")
    }),

    // SCD-style compaction: latest event per (user_id, event_type)
    "j12_scd_last_wins" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          epochUs(col("ts")).as("ts_us"), col("value"))
        .orderBy("user_id", "event_type")
    }),

    // per-column data-quality profile of orders. Two scalable passes:
    //  (1) min/max/null counts in ONE agg (no distinct -> no Expand);
    //  (2) exact distinct counts via melt -> two-stage aggregation:
    //      explode to (col, value) pairs, partial-agg collapses duplicates
    //      map-side BEFORE the shuffle, then count per column.
    // The previous single-pass form put six exact countDistinct in one agg,
    // which Catalyst plans as an Expand that multiplies every shuffled row
    // 6x — the thing that does not survive a 100-TB fact table. Melt keys
    // the shuffle on (col, distinct value) with map-side combine instead.
    "j13_data_quality_profile" -> ((s, d) => {
      val o = t(s, d, "orders")
      val colNames = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      // pass 1: null counts + typed min/max, stringified AFTER the agg so
      // numeric/timestamp min-max stay typed (lexicographic would be wrong)
      def mm(c: String): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = c match {
        case "o_orderdate" =>
          (unix_millis(min(col(c)).cast(TimestampType)).cast(StringType),
            unix_millis(max(col(c)).cast(TimestampType)).cast(StringType))
        case _ => (min(col(c)).cast(StringType), max(col(c)).cast(StringType))
      }
      val aggs = colNames.flatMap { c =>
        val (mn, mx) = mm(c)
        Seq((count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
          mn.as(s"${c}_min"), mx.as(s"${c}_max"))
      }
      val one = o.agg(aggs.head, aggs.tail: _*)
      val stackExpr = colNames
        .map(c => s"'$c', ${c}_nulls, ${c}_min, ${c}_max")
        .mkString(s"stack(${colNames.size}, ", ", ",
          ") as (col_name, null_cnt, min_s, max_s)")
      val minmax = one.selectExpr(stackExpr)
      // pass 2: melt to (col_name, value-as-string) — injective for these
      // types, so string-distinct == typed-distinct — then 2-stage agg
      val kvs = colNames.map(c =>
        struct(lit(c).as("c"), col(c).cast(StringType).as("v")))
      val distincts = o
        .select(explode(array(kvs: _*)).as("kv"))
        .groupBy(col("kv.c").as("col_name"), col("kv.v").as("v"))
        .agg(count(lit(1)).as("_n"))
        .groupBy("col_name")
        .agg(count(col("v")).as("distinct_cnt")) // count() skips null values
      minmax.join(distincts, Seq("col_name"))
        .select("col_name", "null_cnt", "distinct_cnt", "min_s", "max_s")
        .orderBy("col_name")
    }),

    // j14: constraint validation gate — the ETL "reject the load" check
    // that complements j13's profile: key uniqueness, referential
    // integrity, value range, null rate, one row per constraint. Each
    // check is a single aggregate (the referential one an anti-join
    // keyed on the join column — the same shuffle the load itself needs),
    // so the gate costs one pass per table at any scale.
    "j14_dq_constraints" -> ((s, d) => {
      val o = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      def check(name: String, violations: DataFrame): DataFrame =
        violations.agg(count(lit(1)).as("violations"))
          .select(lit(name).as("check_name"), col("violations"))
      check("orders.o_orderkey unique",
          o.groupBy("o_orderkey").agg(count(lit(1)).as("n")).filter(col("n") > 1))
        .union(check("lineitem.l_orderkey in orders",
          li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")))
        .union(check("orders.o_totalprice positive",
          o.filter(col("o_totalprice") <= 0)))
        .union(check("orders.o_custkey not null",
          o.filter(col("o_custkey").isNull)))
        .withColumn("pass", col("violations") === 0)
        .orderBy("check_name")
    }),

    // j15: SCD Type-2 validity-interval history — the other classic
    // warehouse-load shape next to j12's last-write-wins compaction.
    // Each event opens a version of its (user_id, event_type) dimension
    // key; the version closes when the next event for the same key
    // arrives (effective_to = lead(ts), NULL = current). version /
    // effective_to / is_current all derive from the SAME sort, so
    // Catalyst plans ONE Window over ONE hash exchange on the dimension
    // key — at 100 TB the history build costs exactly the shuffle the
    // dimension load needs anyway.
    "j15_scd2_history" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("version", row_number().over(w))
        .withColumn("effective_to_us", lead(epochUs(col("ts")), 1).over(w))
        .select(col("user_id"), col("event_type"), col("event_id"),
          epochUs(col("ts")).as("effective_from_us"),
          col("effective_to_us"),
          col("effective_to_us").isNull.as("is_current"),
          col("version"), col("value"))
        .orderBy("user_id", "event_type", "version")
    }),

    // j16: MERGE-style upsert — the third classic warehouse-load shape
    // next to j12 (SCD1 compaction) and j15 (SCD2 history): a compacted
    // BASE dimension (state as of the j11 cutoff) merged with a DELTA
    // (events after the cutoff, compacted the same way). Matched key →
    // the delta row wholesale ('update'); delta-only key → 'insert';
    // base-only key → 'keep'. The delta row is picked by a null-check on
    // the delta KEY (not per-column coalesce — MERGE takes the source row
    // even where its payload is NULL). Both sides window-compact on the
    // SAME (user_id, event_type) key the full-outer join then uses, so
    // Catalyst reuses one hash exchange per side and the merge costs
    // exactly the dimension key's shuffle — the plan a 100-TB MERGE INTO
    // compiles to under any lakehouse engine.
    "j16_merge_upsert" -> ((s, d) => {
      val cutoff = lit("2024-01-15 00:00:00").cast(TimestampType)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      def lastWins(df: DataFrame): DataFrame = df
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          epochUs(col("ts")).as("ts_us"), col("value"))
      val ev = t(s, d, "events")
      val base = lastWins(ev.filter(col("ts") <= cutoff))
      val delta = lastWins(ev.filter(col("ts") > cutoff))
      val matched = col("d.user_id").isNotNull
      def pick(c: String) =
        when(matched, col(s"d.$c")).otherwise(col(s"b.$c")).as(c)
      base.as("b").join(delta.as("d"),
          col("b.user_id") === col("d.user_id") &&
            col("b.event_type") === col("d.event_type"), "full_outer")
        .select(
          coalesce(col("b.user_id"), col("d.user_id")).as("user_id"),
          coalesce(col("b.event_type"), col("d.event_type")).as("event_type"),
          pick("event_id"), pick("ts_us"), pick("value"),
          when(!matched, lit("keep"))
            .when(col("b.user_id").isNull, lit("insert"))
            .otherwise(lit("update")).as("action"))
        .orderBy("user_id", "event_type")
    }),

    // j17: INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view
    // refresh shape: a per-key aggregate table built from events ≤ the
    // j11 cutoff (BASE) is brought current by MERGING a delta aggregate
    // (events after the cutoff) using partial-aggregate algebra — counts
    // add, quantized sums add, min/max combine — NEVER by rescanning
    // the base data. This is the associative-merge property every
    // distributed agg relies on within a job, promoted to the job
    // BOUNDARY: at 100 TB the nightly refresh aggregates only the day's
    // delta and merges, and this key IS that merge. value is quantized
    // to integer MICRO-UNITS before summing (the l5/l21 rule) so
    // base+delta addition is exact integer math — the merged sum cannot
    // drift from a one-shot aggregate by summation order (equality with
    // the one-shot aggregate over all events is pinned by
    // StreamingSpec's refresh-equivalence test). min/max merge via the
    // least/greatest-of-coalesce forms (null-safe identically in both
    // engines, avoiding engine-specific NULL-skipping rules). action
    // tags each key 'unchanged' / 'updated' / 'new' — the refresh audit
    // column. The view grain is the classic daily rollup (user_id,
    // event_type, day): a MID-DAY cutoff (2024-01-15 12:00) makes the
    // cutoff day's keys 'updated', earlier days 'unchanged', later days
    // 'new' — all three states occur naturally (397/393/2 at sf0.001;
    // a whole-key grain would be all-'updated' on this corpus, since
    // every (user, type) is active on both sides of any cutoff). Scale:
    // two partial aggregates (each map-side combinable, output bounded
    // by key cardinality) + one full-outer join on the SAME grouping
    // key — the aggs' hash partitioning feeds the join, so the merge
    // costs no extra data shuffle.
    "j17_incremental_agg" -> ((s, d) => {
      val cutoff = lit("2024-01-15 12:00:00").cast(TimestampType)
      val ev = t(s, d, "events")
      def gAgg(df: DataFrame): DataFrame = df
        .groupBy(col("user_id"), col("event_type"),
          epochUs(date_trunc("day", col("ts"))).as("day_us"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 1e6 + 0.5).cast(LongType)).as("sum_uval"),
          min(epochUs(col("ts"))).as("min_ts_us"),
          max(epochUs(col("ts"))).as("max_ts_us"))
      val base = gAgg(ev.filter(col("ts") <= cutoff))
      val delta = gAgg(ev.filter(col("ts") > cutoff))
      base.as("b").join(delta.as("d"),
          col("b.user_id") === col("d.user_id") &&
            col("b.event_type") === col("d.event_type") &&
            col("b.day_us") === col("d.day_us"), "full_outer")
        .select(
          coalesce(col("b.user_id"), col("d.user_id")).as("user_id"),
          coalesce(col("b.event_type"), col("d.event_type")).as("event_type"),
          coalesce(col("b.day_us"), col("d.day_us")).as("day_us"),
          (coalesce(col("b.cnt"), lit(0L)) + coalesce(col("d.cnt"), lit(0L)))
            .as("cnt"),
          (coalesce(col("b.sum_uval"), lit(0L)) + coalesce(col("d.sum_uval"), lit(0L)))
            .as("sum_uval"),
          least(coalesce(col("b.min_ts_us"), col("d.min_ts_us")),
            coalesce(col("d.min_ts_us"), col("b.min_ts_us"))).as("min_ts_us"),
          greatest(coalesce(col("b.max_ts_us"), col("d.max_ts_us")),
            coalesce(col("d.max_ts_us"), col("b.max_ts_us"))).as("max_ts_us"),
          when(col("d.user_id").isNull, lit("unchanged"))
            .when(col("b.user_id").isNull, lit("new"))
            .otherwise(lit("updated")).as("action"))
        .orderBy("user_id", "event_type", "day_us")
    }),

    // j18: MERGE INTO as SQL TEXT — j16's upsert driven by a real `MERGE
    // INTO` statement instead of hand-built DataFrame ops: the statement
    // is parsed by Spark's OWN parser and the parsed MergeIntoTable plan
    // is lowered by [[graft.plans.MergeSql]] to the same full-outer-join
    // + CASE compilation every lakehouse engine emits (Spark only
    // *executes* MERGE against a row-level-ops DSv2 table, so over
    // parquet relations the lowering IS the execution). Base/delta are
    // j16's exact compacted frames; the result is the POST-MERGE TABLE
    // STATE (no action audit column — MERGE's contract is the table, not
    // the log), so agreement with j16's join is pinned by the shared
    // oracle arithmetic and DqSpec's equivalence test. The lowering's
    // cardinality guard (a target row matching >1 source row must error)
    // and DELETE / conditional / star / BY SOURCE actions are covered in
    // DqSpec on planted fixtures. Scale: identical plan to j16 — the
    // window-compacts and the full-outer join share one hash exchange
    // per side on the merge key.
    "j18_merge_into_sql" -> ((s, d) => {
      val cutoff = lit("2024-01-15 00:00:00").cast(TimestampType)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      def lastWins(df: DataFrame): DataFrame = df
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          epochUs(col("ts")).as("ts_us"), col("value"))
      val ev = t(s, d, "events")
      val n = mergeSeq.incrementAndGet()
      val bv = s"graft_j18_base_$n"; val dv = s"graft_j18_delta_$n"
      lastWins(ev.filter(col("ts") <= cutoff)).createOrReplaceTempView(bv)
      lastWins(ev.filter(col("ts") > cutoff)).createOrReplaceTempView(dv)
      graft.plans.MergeSql.mergeResult(s,
        s"""MERGE INTO $bv AS b USING $dv AS d
            ON b.user_id = d.user_id AND b.event_type = d.event_type
            WHEN MATCHED THEN UPDATE SET
              event_id = d.event_id, ts_us = d.ts_us, value = d.value
            WHEN NOT MATCHED THEN INSERT (user_id, event_type, event_id, ts_us, value)
              VALUES (d.user_id, d.event_type, d.event_id, d.ts_us, d.value)""")
        .orderBy("user_id", "event_type")
    }),

    // j19: SESSIONIZED CONVERSION FUNNEL — the product-analytics
    // composite the e9 sessionize kernel exists to feed: per (user,
    // 30-min-gap session) compute which funnel stages fired (view →
    // click → purchase as PRESENCE flags, the d20 conditional-agg idiom
    // applied per session), then roll the sessions up into one funnel
    // row: stage reach counts, the click∧purchase conversion, and mean
    // session depth. Engine shape: ONE hash shuffle by user_id feeds
    // both the sessionize window and the per-session aggregate (same
    // partitioning, no second shuffle); the final rollup is a global
    // partial+final aggregate over session-count-sized input. At 100 TB
    // sessions ≪ events, so everything after the first window is cheap;
    // the user_id shuffle is the same one every per-user op pays.
    "j19_session_funnel" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = t(s, d, "events")
        .withColumn("ts_us", epochUs(col("ts")))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            col("ts_us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val perSession = sess.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          max(when(col("event_type") === "view", 1).otherwise(0)).as("has_view"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("has_click"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("has_purchase"))
      perSession.agg(
        count(lit(1)).as("n_sessions"),
        sum(col("has_view")).as("with_view"),
        sum(col("has_click")).as("with_click"),
        sum(col("has_purchase")).as("with_purchase"),
        sum(when(col("has_click") === 1 && col("has_purchase") === 1, 1)
          .otherwise(0)).as("converted"),
        rnd4(avg(col("n_events"))).as("avg_session_events"))
    }),

    // j22: RIGHT-TO-ERASURE PROPAGATION — the compliance op every lake
    // with personal data runs on a schedule (GDPR art. 17 / CCPA
    // deletion): given a set of erasure requests keyed by customer, the
    // delete must CASCADE through the star — the customer rows, their
    // orders, and the lineitems of those orders — and the job must emit
    // an AUDIT of exactly what it would remove (rows_before/erased/
    // after per table), because deletion jobs are the one ETL class
    // where "trust me" is not a valid completion report. Request set =
    // the md5-derived ~1/16 of customers (the i22/l10 membership idiom
    // — deterministic, oracle-reproducible). The counting legs compute
    // erased rows with LEFT joins + non-null counts in ONE scan per
    // table (no second "count the survivors" pass: after = before −
    // erased by construction, and the left joins are fan-out-free since
    // the request/order key sides are distinct by construction).
    //
    // Scale shape: the request set broadcasts (requests are human-scale,
    // orders of magnitude under any fact table); the lineitem cascade
    // keys on l_orderkey↔o_orderkey — at 100 TB the erased-orders side
    // outgrows broadcast but the leg stays an equi-join on the fact
    // table's natural key, and the actual DELETE this audit fronts is
    // j16's MERGE / a12's dynamic-partition-overwrite rewrite shape.
    "j22_erasure_propagation" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val orders = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      val isReq = substring(md5(col("c_custkey").cast(StringType)
        .cast(BinaryType)), 1, 1) === "f"
      val req = cust.filter(isReq).select(col("c_custkey"))
      val custAudit = cust.agg(
        count(lit(1)).as("rows_before"),
        sum(when(isReq, 1L).otherwise(0L)).as("rows_erased"))
      val ordersAudit = orders
        .join(broadcast(req), col("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("rows_before"),
          count(col("c_custkey")).as("rows_erased"))
      val erasedOrders = orders
        .join(broadcast(req), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"))
      val liAudit = li
        .join(erasedOrders, col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("rows_before"),
          count(col("o_orderkey")).as("rows_erased"))
      def tag(name: String, a: org.apache.spark.sql.DataFrame) =
        a.select(lit(name).as("tbl"), col("rows_before"), col("rows_erased"),
          (col("rows_before") - col("rows_erased")).as("rows_after"))
      tag("customer", custAudit)
        .unionAll(tag("orders", ordersAudit))
        .unionAll(tag("lineitem", liAudit))
        .orderBy("tbl")
    }),

    // j24: UPDATE/DELETE AS SQL TEXT — the row-level-DML siblings of
    // j18's MERGE, completing the SQL DML trio: both statements are
    // parsed with Spark's OWN parser and lowered by plans/DmlSql to the
    // canonical copy-on-write compilation (UPDATE → CASE-projected
    // columns; DELETE → keep `condition IS NOT TRUE`). The statements
    // run SEQUENTIALLY against one logical table name — apply UPDATE,
    // re-bind the view to its result, apply DELETE — the realistic
    // maintenance-job shape. Both predicates are deliberately NULLABLE
    // (nullif arithmetic): an UPDATE must NOT touch and a DELETE must
    // NOT remove a NULL-predicate row (b3's three-valued logic applied
    // to DML — `NOT p` instead of `p IS NOT TRUE` in a hand-rolled
    // rewrite is the classic silent over-delete). Money updated in
    // DECIMAL, emitted as double (§7.2).
    "j24_update_delete_sql" -> ((s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .createOrReplaceTempView("j24_orders")
      val updated = graft.plans.DmlSql.updateResult(s,
        """UPDATE j24_orders
           SET o_totalprice = CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1.10 AS DOUBLE)
           WHERE nullif(o_custkey % 7, 0) >= 3""")
      updated.createOrReplaceTempView("j24_orders")
      graft.plans.DmlSql.deleteResult(s,
        "DELETE FROM j24_orders WHERE nullif(o_custkey % 5, 0) >= 4")
        .orderBy("o_orderkey")
    }),

    // j25: POINT-IN-TIME (PIT) DIMENSION JOIN — the query-side half of
    // j15: j15 BUILDS the SCD2 validity intervals; this key USES them
    // the way every warehouse fact load must — each fact row joins the
    // dimension version that was valid AT THE FACT'S OWN TIMESTAMP, not
    // the current one (joining current is the classic "time-travel
    // leak": a 2023 purchase credited to the user's 2024 tier). The
    // signup stream is the per-user profile history (value = the
    // versioned attribute), purchases are the facts. Three semantics
    // pinned: (1) at-most-one match per fact — validity intervals are
    // disjoint by construction, and a zero-width version (two updates at
    // the same ts) can never match (from <= t AND t < to is vacuous when
    // from = to); (2) half-open intervals — a fact AT a version's
    // effective ts belongs to that version; (3) facts BEFORE the user's
    // first version keep NULL dimension columns via the left join
    // (no_dim_yet) — dropping them silently is the PIT bug auditors
    // actually find. Engine shape: the history build is j15's single
    // window over one user_id exchange; the join is an EQUI join on
    // user_id with the interval test as a codegen'd residual — per-user
    // fanout is bounded by that user's version count (the SCD2 update
    // rate), so the residual filter sees versions-per-user rows, never a
    // cross product. At 100 TB the dimension history shuffles once on
    // its natural key and is reusable across every fact table that
    // needs PIT correctness — the reason warehouses store SCD2 instead
    // of re-deriving as-of pairs per fact (c10/c13 solve the nearest-
    // match problem for two STREAMS; this is the interval-keyed lookup
    // against a MAINTAINED dimension).
    "j25_pit_scd2_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val dim = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("value").as("dim_value"),
          col("ts"), col("event_id"))
        .withColumn("version", row_number().over(w))
        .withColumn("from_us", epochUs(col("ts")))
        .withColumn("to_us", lead(epochUs(col("ts")), 1).over(w))
        .select("user_id", "dim_value", "version", "from_us", "to_us")
      val fact = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          epochUs(col("ts")).as("ts_us"), col("value").as("fact_value"))
      fact.as("f").join(dim.as("d"),
          col("f.user_id") === col("d.user_id") &&
            col("d.from_us") <= col("f.ts_us") &&
            (col("d.to_us").isNull || col("f.ts_us") < col("d.to_us")),
          "left")
        .select(col("f.event_id"), col("f.user_id"), col("f.ts_us"),
          col("fact_value"), col("d.version"), col("dim_value"),
          col("d.from_us").as("dim_from_us"),
          col("d.version").isNull.as("no_dim_yet"))
        .orderBy("event_id")
    }),

    // j27: LATE-ARRIVING DIMENSION with retro-correction — the failure
    // mode j25's PIT join meets in production: the dimension FEED lags
    // the fact feed, so a fact resolved at load time may bind a STALE
    // version (a newer one valid at the fact's ts exists but hasn't
    // arrived) or no version at all (the user's first signup is still
    // in flight). The op resolves every fact TWICE — round 1 against
    // the dimension as delivered by the lag cutoff, round 2 against
    // the full history — and ledgers each fact: STABLE (same version
    // both rounds — the early resolution was already right),
    // CORRECTED (round 1 bound a stale version — the Kimball retro-
    // correction case, the rows a naive load silently mis-attributes
    // forever), LATE_MATCHED (unresolvable in round 1, parked and
    // matched on retry), NEVER (no version at any time). The cutoff
    // (2024-01-03) is probed non-vacuous: all four classes populate at
    // both sf tiers (sf0.01: 945/714/190/132). Version identity = its
    // effective ts (the argmax key), so the class test is exact
    // integer comparison. Scale: each resolve is j25's equi-join on
    // user_id + a map-side-combinable per-fact argmax; the two rounds
    // then join on the fact key and the ledger is a 4-row
    // map-side-combined agg — at 100 TB, round 1 is the load itself
    // and round 2 is the churn-sized retry pass.
    "j27_late_arriving_dim" -> ((s, d) => {
      val cutoff = lit("2024-01-03 00:00:00").cast(TimestampType)
      val ev = t(s, d, "events")
      val dim = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), epochUs(col("ts")).as("from_us"), col("ts"))
      val fact = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), epochUs(col("ts")).as("ts_us"))
      def resolve(dd: org.apache.spark.sql.DataFrame, tag: String) =
        fact.as("f").join(dd.as("d"),
            col("f.user_id") === col("d.user_id") &&
              col("d.from_us") <= col("f.ts_us"), "left")
          .groupBy(col("f.event_id").as("event_id"),
            col("f.user_id").as("user_id"))
          .agg(max(col("d.from_us")).as(tag))
      val r1 = resolve(dim.filter(col("ts") <= cutoff), "m1")
      val r2 = resolve(dim, "m2")
      r1.join(r2, Seq("event_id", "user_id"))
        .select(col("event_id"), col("user_id"),
          when(col("m1").isNull && col("m2").isNull, "NEVER")
            .when(col("m1").isNull, "LATE_MATCHED")
            .when(col("m1") === col("m2"), "STABLE")
            .otherwise("CORRECTED").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_facts"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_event"),
          max(col("event_id")).as("max_event"))
        .orderBy("status")
    }),

    // j26: INCREMENTAL VIEW MAINTENANCE from CDC before/after images —
    // the op a streaming materialized view actually runs: a changelog in
    // the Debezium shape (op I/U/D, BEFORE image, AFTER image — planted
    // from orders via md5 classes, the j23 idiom, so both engines derive
    // it bit-for-bit) maintains a per-status aggregate WITHOUT touching
    // the base table: Δn = ΣI − ΣD, Δsum = Σ(after − before) with the
    // missing image as 0 — count and sum are SELF-MAINTAINABLE, the
    // whole point of IVM (the maintenance pass aggregates ONLY the
    // changelog; at 100 TB that's delta-sized work against a base-sized
    // view). The NON-maintainable half is pinned in the same key: max
    // under retraction cannot be patched from the delta (deleting the
    // current max forces a re-scan), so max_total comes from the direct
    // recompute — the honest asymmetry every IVM engine documents. The
    // emitted `ivm_consistent` flag equates the maintained n/sum with a
    // full direct recompute IN DECIMAL (the U delta is +2.25 exactly, no
    // rounding-mode hazard) — the oracle pins it true, so any drift in
    // the maintenance algebra hash-fails the key.
    "j26_cdc_ivm_apply" -> ((s, d) => {
      val src = t(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          col("o_totalprice").as("total"),
          substring(md5(col("o_orderkey").cast(StringType)
            .cast(BinaryType)), 1, 1).as("h"))
      val p = dec(col("total"), 18, 2)
      val d225 = dec(lit(2.25), 3, 2)
      val dnull = lit(null).cast("decimal(18,2)")
      // the changelog: D drops h∈{0,1}, U bumps h∈{2,3,4} by +2.25,
      // I adds fresh keys (h=5, shifted) — before/after images inline
      val changelog =
        src.filter(col("h").isin("0", "1"))
          .select(lit("D").as("op"), col("st"), p.as("before_p"),
            dnull.as("after_p"))
        .unionAll(src.filter(col("h").isin("2", "3", "4"))
          .select(lit("U").as("op"), col("st"), p.as("before_p"),
            (p + d225).as("after_p")))
        .unionAll(src.filter(col("h") === "5")
          .select(lit("I").as("op"), col("st"), dnull.as("before_p"),
            p.as("after_p")))
      val baseAgg = src.groupBy("st")
        .agg(count(lit(1)).as("n0"), sum(p).as("sum0"))
      val deltaAgg = changelog.groupBy("st")
        .agg(sum(when(col("op") === "I", 1L).when(col("op") === "D", -1L)
            .otherwise(0L)).as("dn"),
          sum(coalesce(col("after_p"), dec(lit(0), 3, 2)) -
            coalesce(col("before_p"), dec(lit(0), 3, 2))).as("dsum"))
      // direct recompute: the post-changelog table (survivors with the U
      // bump applied, plus inserts) — max's only correct source
      val finalRows =
        src.filter(!col("h").isin("0", "1"))
          .select(col("st"),
            (p + when(col("h").isin("2", "3", "4"), d225)
              .otherwise(dec(lit(0), 3, 2))).as("pf"))
        .unionAll(src.filter(col("h") === "5").select(col("st"), p.as("pf")))
      val direct = finalRows.groupBy("st")
        .agg(count(lit(1)).as("n_direct"), sum(col("pf")).as("sum_direct"),
          max(col("pf")).as("max_direct"))
      baseAgg.join(deltaAgg, Seq("st"), "left").join(direct, Seq("st"))
        .select(col("st"),
          (col("n0") + coalesce(col("dn"), lit(0L))).as("n_rows"),
          dbl(col("sum0") + coalesce(col("dsum"), dec(lit(0), 3, 2)))
            .as("sum_total"),
          dbl(col("max_direct")).as("max_total"),
          ((col("n0") + coalesce(col("dn"), lit(0L))) === col("n_direct") &&
            (col("sum0") + coalesce(col("dsum"), dec(lit(0), 3, 2)))
              === col("sum_direct")).as("ivm_consistent"))
        .orderBy("st")
    }),

    // j23: TWO-SOURCE RECONCILIATION — the migration/dual-write
    // validation op (the other compliance-grade ETL report next to
    // j22's erasure audit): given the system-of-record and a replica
    // (new warehouse, vendor extract, dual-written table), produce the
    // keyed diff ledger — MATCH / MISSING_IN_TARGET / EXTRA_IN_TARGET /
    // FIELD_DRIFT with the drifted money totalled — that decides
    // whether the cutover ships. The replica is DERIVED with planted
    // divergence (the j14/l29 planted-violation idiom, md5-membership
    // classes so both engines reproduce it bit-for-bit): ~1/16 of rows
    // dropped, ~1/16 duplicated under shifted keys, ~1/16 with price
    // drift; the reconciliation must find EXACTLY those classes.
    //
    // Scale shape: one FULL OUTER join on the natural key — each side
    // shuffles once on o_orderkey, the classification is a codegen'd
    // projection over the joined row, and the ledger agg map-side
    // combines to 4 rows. No broadcast assumption anywhere: both sides
    // are fact-sized by definition of the op.
    "j23_reconcile_diff" -> ((s, d) => {
      val src = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val h = substring(md5(col("o_orderkey").cast(StringType)
        .cast(BinaryType)), 1, 1)
      val tgt = src.filter(h =!= "0")
        .select(col("o_orderkey"),
          // decimal-exact drift: +1.50 applied in DECIMAL then emitted
          // as double — identical nearest-double on both engines (a
          // double round(x+1.5, 2) could half-round differently)
          when(h === "2", dbl(dec(col("o_totalprice"), 18, 2) + dec(lit(1.5), 3, 2)))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
        .unionAll(src.filter(h === "1")
          .select(col("o_orderkey") + lit(100000000L), col("o_totalprice"),
            col("o_orderstatus")))
      val joined = src.as("s").join(tgt.as("t"),
        col("s.o_orderkey") === col("t.o_orderkey"), "full_outer")
      joined.select(
          when(col("s.o_orderkey").isNull, "EXTRA_IN_TARGET")
            .when(col("t.o_orderkey").isNull, "MISSING_IN_TARGET")
            .when(col("s.o_totalprice") =!= col("t.o_totalprice") ||
              col("s.o_orderstatus") =!= col("t.o_orderstatus"), "FIELD_DRIFT")
            .otherwise("MATCH").as("status"),
          when(col("s.o_orderkey").isNotNull && col("t.o_orderkey").isNotNull,
            dec(col("t.o_totalprice"), 18, 2) - dec(col("s.o_totalprice"), 18, 2))
            .otherwise(dec(lit(0), 18, 2)).as("delta"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_rows"),
          dbl(sum(abs(col("delta")))).as("abs_drift_total"))
        .orderBy("status")
    }),

    // j21: COHORT RETENTION — the third member of the product-analytics
    // trio (j19 funnel, j20 volume anomalies, now retention): users are
    // cohorted by FIRST-ACTIVE day, then each later active day counts
    // toward (cohort, day-offset) — the retention triangle every growth
    // dashboard plots. Engine shape: one distinct-shuffle to active
    // (user, day) pairs, the cohort min-agg rides the SAME user_id
    // partitioning, the user⋈cohort join is co-partitioned, and the
    // final aggregate's output is days²-bounded — at 100 TB everything
    // after the first dedup is calendar-sized, not event-sized.
    "j21_retention_cohorts" -> ((s, d) => {
      val act = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val cohorts = act.groupBy("user_id").agg(min("day").as("cohort"))
      act.join(cohorts, "user_id")
        .groupBy(col("cohort"),
          datediff(col("day"), col("cohort")).as("offset_days"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(epochUs(col("cohort").cast(TimestampType)).as("cohort_us"),
          col("offset_days"), col("n_users"))
        .orderBy("cohort_us", "offset_days")
    }),

    // j20: STATISTICAL ANOMALY SCAN — the control-chart pass every
    // ingestion pipeline runs over its own volume metrics: daily counts
    // per event_type, z-scored against that type's own day distribution
    // (population σ over the window — the SPC convention), |z| ≥ 2
    // flagged. Every (type, day) row is EMITTED with its score, not just
    // the anomalies — the monitor's output is the full scored series
    // (dashboards plot it; alerts filter it), and it keeps the key
    // non-vacuous whatever the data's tail does. The real anomaly in
    // this corpus: the span's final partial day, whose volume sits far
    // below each type's mean — the scan must find it. Engine shape:
    // one groupBy to days (map-side combinable), then a per-type window
    // over ~30-row partitions — the window input is DAYS, not events,
    // so the second pass is trivially small at any event scale.
    "j20_anomaly_zscore" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
      t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("mu", avg(col("cnt")).over(w))
        .withColumn("sd", stddev_pop(col("cnt")).over(w))
        .select(col("event_type"),
          epochUs(col("day").cast(TimestampType)).as("day_us"), col("cnt"),
          rnd4((col("cnt") - col("mu")) / col("sd")).as("z"),
          (abs(col("cnt") - col("mu")) >= col("sd") * 2).as("is_anomaly"))
        .orderBy("event_type", "day_us")
    })
  )

  private val mergeSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private val toksSql =
    """SELECT doc_id, lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
       FROM documents"""

  val oracle: Map[String, String] = Map(
    "j1_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, sha256(text) AS digest
         FROM documents GROUP BY sha256(text) ORDER BY doc_id""",

    // j2's LSH banding is candidate generation only — the emitted pairs are
    // exactly the Jaccard >= 4/5 pairs (banding recall is 1.0 on this
    // corpus; see the query comment), so the oracle brute-forces the exact
    // string-shingle pair set (l9's construction) and closes components
    // with a recursive CTE (min reachable doc_id == the engine's min-label
    // propagation fixpoint). n_dups = symmetric-neighbour degree.
    "j2_dedup_near_minhash" ->
      """WITH RECURSIVE toks AS (
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
         p AS (
           SELECT a_id, b_id FROM common
           JOIN sz sa ON sa.doc_id = a_id
           JOIN sz sb ON sb.doc_id = b_id
           WHERE 5 * c >= 4 * (sa.n + sb.n - c)),
         sym AS (SELECT a_id, b_id FROM p UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM p),
         deg AS (SELECT a_id AS doc_id, CAST(count(*) AS BIGINT) AS n_dups
                 FROM sym GROUP BY 1),
         reach AS (SELECT doc_id, doc_id AS r FROM documents
                   UNION
                   SELECT sym.a_id AS doc_id, reach.r
                   FROM sym JOIN reach ON sym.b_id = reach.doc_id),
         cl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
         SELECT doc_id, cluster_id,
                coalesce(n_dups, CAST(0 AS BIGINT)) AS n_dups
         FROM cl LEFT JOIN deg USING (doc_id)
         ORDER BY doc_id""",

    "j3_sim_cosine_pairs" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                  list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
             / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                      list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
              * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                      list_transform(b.embedding, x -> CAST(x AS DOUBLE))))), 4) AS sim
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         ORDER BY sim DESC, a_id, b_id LIMIT 20""",

    "j4_sim_knn_query" ->
      """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                    FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           round(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qe)
             / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                      list_transform(embedding, x -> CAST(x AS DOUBLE))))
              * sqrt(list_dot_product(qe, qe))), 4) AS sim
         FROM embeddings, q WHERE vec_id > 0
         ORDER BY sim DESC, vec_id LIMIT 10""",

    "j5_text_wordcount" ->
      s"""SELECT term, count(*) AS cnt FROM ($toksSql) WHERE term <> ''
          GROUP BY term ORDER BY cnt DESC, term LIMIT 50""",

    "j6_text_tfidf" ->
      s"""WITH toks AS (SELECT * FROM ($toksSql) WHERE term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term,
                     round(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1), 4) AS score
              FROM tf JOIN df USING (term) CROSS JOIN n)
          SELECT doc_id, term, score FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS rn FROM scored)
          WHERE rn = 1 ORDER BY doc_id""",

    "j7_text_ngrams" ->
      """WITH toks AS (
           SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
           FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS w
                 FROM documents)),
         seq AS (SELECT doc_id, pos, term,
                   lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS next
                 FROM toks WHERE term <> '')
         SELECT term || ' ' || next AS bigram, count(*) AS cnt
         FROM seq WHERE next IS NOT NULL
         GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20""",

    "j8_text_lang_stats" ->
      """SELECT lang, source, count(*) AS docs,
           round(avg(n_chars), 4) AS avg_chars,
           count(DISTINCT text) AS distinct_docs
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",

    "j9_sentiment_lexicon" ->
      s"""WITH toks AS (SELECT * FROM ($toksSql) WHERE term <> ''),
            lex(term, sc) AS (VALUES ('fast', 1), ('small', 1), ('slow', -1), ('batch', -1)),
            per_doc AS (
              SELECT t.doc_id, CAST(sum(sc) AS BIGINT) AS sc
              FROM toks t JOIN lex USING (term) GROUP BY 1)
          SELECT d.lang, coalesce(p.sc, 0) AS score, count(*) AS n_docs
          FROM documents d LEFT JOIN per_doc p USING (doc_id)
          GROUP BY 1, 2 ORDER BY 1, 2""",

    "j10_multimodal_join" ->
      """SELECT lang, label, count(*) AS docs, round(avg(n_chars), 4) AS avg_chars
         FROM documents JOIN embeddings ON doc_id = vec_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "j11_etl_incremental_window" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
         FROM (SELECT *, row_number() OVER (PARTITION BY event_id
                 ORDER BY ts DESC, value DESC) AS rn
               FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00')
         WHERE rn = 1 ORDER BY event_id""",

    "j12_scd_last_wins" ->
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id, event_type""",

    "j13_data_quality_profile" ->
      """SELECT col_name, null_cnt, distinct_cnt, min_s, max_s FROM (
           SELECT 'o_orderkey' AS col_name,
                  count(*) - count(o_orderkey) AS null_cnt,
                  count(DISTINCT o_orderkey) AS distinct_cnt,
                  CAST(min(o_orderkey) AS VARCHAR) AS min_s,
                  CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*) - count(o_custkey),
                  count(DISTINCT o_custkey),
                  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
                  count(DISTINCT o_orderstatus),
                  min(o_orderstatus), max(o_orderstatus) FROM orders
           UNION ALL
           SELECT 'o_totalprice', count(*) - count(o_totalprice),
                  count(DISTINCT o_totalprice),
                  CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderdate', count(*) - count(o_orderdate),
                  count(DISTINCT o_orderdate),
                  CAST(epoch_ms(min(o_orderdate)) AS VARCHAR),
                  CAST(epoch_ms(max(o_orderdate)) AS VARCHAR) FROM orders
           UNION ALL
           SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
                  count(DISTINCT o_orderpriority),
                  min(o_orderpriority), max(o_orderpriority) FROM orders)
         ORDER BY col_name""",

    "j14_dq_constraints" ->
      """SELECT check_name, violations, violations = 0 AS pass FROM (
           SELECT 'orders.o_orderkey unique' AS check_name,
                  CAST(count(*) AS BIGINT) AS violations
           FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
           UNION ALL
           -- NOT EXISTS, not NOT IN: NOT IN goes UNKNOWN on NULL keys
           -- (one NULL o_orderkey would report 0 violations), while
           -- NOT EXISTS counts NULL probe keys as orphans — exactly the
           -- left_anti join's semantics on the Spark side
           SELECT 'lineitem.l_orderkey in orders', CAST(count(*) AS BIGINT)
           FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
           UNION ALL
           SELECT 'orders.o_totalprice positive', CAST(count(*) AS BIGINT)
           FROM orders WHERE o_totalprice <= 0
           UNION ALL
           SELECT 'orders.o_custkey not null', CAST(count(*) AS BIGINT)
           FROM orders WHERE o_custkey IS NULL)
         ORDER BY check_name""",

    "j15_scd2_history" ->
      """SELECT user_id, event_type, event_id,
           epoch_us(ts) AS effective_from_us,
           lead(epoch_us(ts)) OVER w AS effective_to_us,
           lead(epoch_us(ts)) OVER w IS NULL AS is_current,
           CAST(row_number() OVER w AS INTEGER) AS version,
           value
         FROM events
         WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
         ORDER BY user_id, event_type, version""",

    // the CASE picks the delta row by a null-check on its KEY, mirroring
    // the Spark side's `matched` guard (per-column coalesce would differ
    // wherever a delta payload column is NULL)
    "j16_merge_upsert" ->
      """WITH base AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
           WHERE rn = 1),
         delta AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00')
           WHERE rn = 1)
         SELECT coalesce(b.user_id, d.user_id) AS user_id,
                coalesce(b.event_type, d.event_type) AS event_type,
                CASE WHEN d.user_id IS NOT NULL THEN d.event_id ELSE b.event_id END AS event_id,
                CASE WHEN d.user_id IS NOT NULL THEN d.ts_us ELSE b.ts_us END AS ts_us,
                CASE WHEN d.user_id IS NOT NULL THEN d.value ELSE b.value END AS value,
                CASE WHEN d.user_id IS NULL THEN 'keep'
                     WHEN b.user_id IS NULL THEN 'insert'
                     ELSE 'update' END AS action
         FROM base b FULL OUTER JOIN delta d
           ON b.user_id = d.user_id AND b.event_type = d.event_type
         ORDER BY user_id, event_type""",

    // j18 = j16's merge arithmetic without the action audit column: the
    // MERGE statement's contract is the post-merge table state
    "j18_merge_into_sql" ->
      """WITH base AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
           WHERE rn = 1),
         delta AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00')
           WHERE rn = 1)
         SELECT coalesce(b.user_id, d.user_id) AS user_id,
                coalesce(b.event_type, d.event_type) AS event_type,
                CASE WHEN d.user_id IS NOT NULL THEN d.event_id ELSE b.event_id END AS event_id,
                CASE WHEN d.user_id IS NOT NULL THEN d.ts_us ELSE b.ts_us END AS ts_us,
                CASE WHEN d.user_id IS NOT NULL THEN d.value ELSE b.value END AS value
         FROM base b FULL OUTER JOIN delta d
           ON b.user_id = d.user_id AND b.event_type = d.event_type
         ORDER BY user_id, event_type""",

    // same partial-aggregate merge algebra: quantize-then-sum micro-unit
    // values, least/greatest-of-coalesce min/max (null-safe identically
    // on both engines), key-null CASE for the action tag
    "j17_incremental_agg" ->
      """WITH base AS (
           SELECT user_id, event_type,
                  epoch_us(date_trunc('day', ts)) AS day_us,
                  CAST(count(*) AS BIGINT) AS cnt,
                  CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_uval,
                  min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us
           FROM events WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
           GROUP BY 1, 2, 3),
         delta AS (
           SELECT user_id, event_type,
                  epoch_us(date_trunc('day', ts)) AS day_us,
                  CAST(count(*) AS BIGINT) AS cnt,
                  CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_uval,
                  min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us
           FROM events WHERE ts > TIMESTAMP '2024-01-15 12:00:00'
           GROUP BY 1, 2, 3)
         SELECT coalesce(b.user_id, d.user_id) AS user_id,
                coalesce(b.event_type, d.event_type) AS event_type,
                coalesce(b.day_us, d.day_us) AS day_us,
                coalesce(b.cnt, 0) + coalesce(d.cnt, 0) AS cnt,
                coalesce(b.sum_uval, 0) + coalesce(d.sum_uval, 0) AS sum_uval,
                least(coalesce(b.min_ts_us, d.min_ts_us),
                      coalesce(d.min_ts_us, b.min_ts_us)) AS min_ts_us,
                greatest(coalesce(b.max_ts_us, d.max_ts_us),
                         coalesce(d.max_ts_us, b.max_ts_us)) AS max_ts_us,
                CASE WHEN d.user_id IS NULL THEN 'unchanged'
                     WHEN b.user_id IS NULL THEN 'new'
                     ELSE 'updated' END AS action
         FROM base b FULL OUTER JOIN delta d
           ON b.user_id = d.user_id AND b.event_type = d.event_type
          AND b.day_us = d.day_us
         ORDER BY user_id, event_type, day_us""",

    // e9's sessionization CTE + per-session presence flags; DuckDB sums
    // of INTs are hugeint → CAST pins BIGINT parity
    "j19_session_funnel" ->
      """WITH flagged AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                  CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sessioned AS (
           SELECT user_id, event_type,
                  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged
         ), per_session AS (
           SELECT user_id, session_id, count(*) AS n_events,
                  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
           FROM sessioned GROUP BY user_id, session_id
         )
         SELECT count(*) AS n_sessions,
                CAST(sum(has_view) AS BIGINT) AS with_view,
                CAST(sum(has_click) AS BIGINT) AS with_click,
                CAST(sum(has_purchase) AS BIGINT) AS with_purchase,
                CAST(sum(CASE WHEN has_click = 1 AND has_purchase = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS converted,
                round(avg(n_events), 4) AS avg_session_events
         FROM per_session""",

    // the same two statements expressed as one SELECT: CASE for the
    // UPDATE, `IS NOT TRUE` survivors for the DELETE
    "j24_update_delete_sql" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN nullif(o_custkey % 7, 0) >= 3
                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1.10 AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice
         FROM orders
         WHERE (nullif(o_custkey % 5, 0) >= 4) IS NOT TRUE
         ORDER BY o_orderkey""",

    // same SCD2 history + half-open interval lookup; the left join keeps
    // pre-first-version facts with NULL dimension columns
    "j25_pit_scd2_join" ->
      """WITH dim AS (
           SELECT user_id, value AS dim_value,
                  CAST(row_number() OVER w AS INTEGER) AS version,
                  epoch_us(ts) AS from_us,
                  lead(epoch_us(ts)) OVER w AS to_us
           FROM events WHERE event_type = 'signup'
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         fact AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                  value AS fact_value
           FROM events WHERE event_type = 'purchase')
         SELECT f.event_id, f.user_id, f.ts_us, f.fact_value,
                d.version, d.dim_value, d.from_us AS dim_from_us,
                d.version IS NULL AS no_dim_yet
         FROM fact f LEFT JOIN dim d
           ON f.user_id = d.user_id AND d.from_us <= f.ts_us
          AND (d.to_us IS NULL OR f.ts_us < d.to_us)
         ORDER BY f.event_id""",

    // same two-round resolution; version identity = its effective ts
    "j27_late_arriving_dim" ->
      """WITH dim AS (
           SELECT user_id, epoch_us(ts) AS from_us, ts
           FROM events WHERE event_type = 'signup'),
         fact AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'purchase'),
         v1 AS (
           SELECT f.event_id, f.user_id, max(d.from_us) AS m1
           FROM fact f LEFT JOIN dim d
             ON f.user_id = d.user_id AND d.from_us <= f.ts_us
            AND d.ts <= TIMESTAMP '2024-01-03 00:00:00'
           GROUP BY 1, 2),
         v2 AS (
           SELECT f.event_id, f.user_id, max(d.from_us) AS m2
           FROM fact f LEFT JOIN dim d
             ON f.user_id = d.user_id AND d.from_us <= f.ts_us
           GROUP BY 1, 2),
         cls AS (
           SELECT v1.event_id, v1.user_id,
                  CASE WHEN m1 IS NULL AND m2 IS NULL THEN 'NEVER'
                       WHEN m1 IS NULL THEN 'LATE_MATCHED'
                       WHEN m1 = m2 THEN 'STABLE'
                       ELSE 'CORRECTED' END AS status
           FROM v1 JOIN v2 USING (event_id, user_id))
         SELECT status, count(*) AS n_facts,
                count(DISTINCT user_id) AS n_users,
                min(event_id) AS min_event, max(event_id) AS max_event
         FROM cls GROUP BY 1 ORDER BY 1""",

    // the maintained view must equal the direct recompute over the
    // post-changelog table — the oracle IS that recompute, flag pinned true
    "j26_cdc_ivm_apply" ->
      """WITH src AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p,
                  substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS h
           FROM orders),
         final AS (
           SELECT st,
                  p + CASE WHEN h IN ('2','3','4')
                           THEN CAST(2.25 AS DECIMAL(3,2))
                           ELSE CAST(0 AS DECIMAL(3,2)) END AS pf
           FROM src WHERE h NOT IN ('0','1')
           UNION ALL
           SELECT st, p FROM src WHERE h = '5')
         SELECT st, count(*) AS n_rows,
                CAST(sum(pf) AS DOUBLE) AS sum_total,
                CAST(max(pf) AS DOUBLE) AS max_total,
                true AS ivm_consistent
         FROM final GROUP BY st ORDER BY st""",

    // the same planted-divergence construction, reconciled with a full
    // outer join and classified identically
    "j23_reconcile_diff" ->
      """WITH src AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS h
           FROM orders),
         tgt AS (
           SELECT o_orderkey,
                  CASE WHEN h = '2'
                       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1.50 AS DOUBLE)
                       ELSE o_totalprice END AS o_totalprice,
                  o_orderstatus
           FROM src WHERE h <> '0'
           UNION ALL
           SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
           FROM src WHERE h = '1'),
         joined AS (
           SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
                  s.o_totalprice AS sp, t.o_totalprice AS tp,
                  s.o_orderstatus AS ss, t.o_orderstatus AS ts
           FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey),
         ledger AS (
           SELECT CASE WHEN sk IS NULL THEN 'EXTRA_IN_TARGET'
                       WHEN tk IS NULL THEN 'MISSING_IN_TARGET'
                       WHEN sp <> tp OR ss <> ts THEN 'FIELD_DRIFT'
                       ELSE 'MATCH' END AS status,
                  CASE WHEN sk IS NOT NULL AND tk IS NOT NULL
                       THEN CAST(tp AS DECIMAL(18,2)) - CAST(sp AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END AS delta
           FROM joined)
         SELECT status, count(*) AS n_rows,
                CAST(sum(abs(delta)) AS DOUBLE) AS abs_drift_total
         FROM ledger GROUP BY 1 ORDER BY 1""",

    // the cascade counted from the request set down the star's keys;
    // after = before − erased on both engines by construction
    "j22_erasure_propagation" ->
      """WITH req AS (
           SELECT c_custkey FROM customer
           WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = 'f'),
         eo AS (SELECT o_orderkey FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM req)),
         audit AS (
           SELECT 'customer' AS tbl,
             (SELECT count(*) FROM customer) AS rows_before,
             (SELECT count(*) FROM req) AS rows_erased
           UNION ALL
           SELECT 'orders',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM eo)
           UNION ALL
           SELECT 'lineitem',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM eo)))
         SELECT tbl, rows_before, rows_erased,
                rows_before - rows_erased AS rows_after
         FROM audit ORDER BY tbl""",

    // identical cohorting arithmetic on calendar days
    "j21_retention_cohorts" ->
      """WITH act AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         coh AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1)
         SELECT epoch_us(CAST(cohort AS TIMESTAMP)) AS cohort_us,
           CAST(date_diff('day', cohort, day) AS INTEGER) AS offset_days,
           count(DISTINCT a.user_id) AS n_users
         FROM act a JOIN coh USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // population σ (stddev_pop) matches Spark; integer day-counts keep
    // the float noise far below the round(…,4) pin and the 2σ flag
    "j20_anomaly_zscore" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day, count(*) AS cnt
           FROM events GROUP BY 1, 2),
         scored AS (
           SELECT event_type, day, cnt,
             avg(cnt) OVER (PARTITION BY event_type) AS mu,
             stddev_pop(cnt) OVER (PARTITION BY event_type) AS sd
           FROM daily)
         SELECT event_type, epoch_us(CAST(day AS TIMESTAMP)) AS day_us, cnt,
           round((cnt - mu) / sd, 4) AS z,
           abs(cnt - mu) >= sd * 2 AS is_anomaly
         FROM scored ORDER BY event_type, day_us"""
  )
}
