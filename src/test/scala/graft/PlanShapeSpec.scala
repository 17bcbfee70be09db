package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5 layer-4 plan-shape guards: pin the physical-plan properties
  * the 100-TB story depends on, so a future edit can't silently lose
  * pushdown, broadcast, or top-k pushdown. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, sfTiny).queryExecution.executedPlan.toString

  test("a3: shipdate filter is pushed into the parquet scan") {
    val p = plan("a3_scan_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
  }

  test("a2: projection prunes the scan to the 3 selected columns") {
    val p = plan("a2_scan_projection")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"scan not pruned:\n$p")
  }

  test("c1: dim join is a broadcast hash join") {
    assert(plan("c1_join_broadcast_equi").contains("BroadcastHashJoin"))
  }

  test("e1: partial per-group top-k runs BEFORE the shuffle (WindowGroupLimit)") {
    // the §7.5 "partial top-k" item: Spark's InsertWindowGroupLimit rule
    // caps each partition at k rows per group below the Exchange, so the
    // shuffle carries at most k·groups·partitions rows instead of the
    // whole table — pin both the node and its Partial (pre-shuffle) mode
    val p = plan("e1_win_topk_per_group")
    assert(p.contains("WindowGroupLimit"), s"group-limit not planned:\n$p")
    assert(p.contains("row_number(), 3, Partial"),
      s"no PARTIAL group limit before the shuffle:\n$p")
  }

  test("a5's partitioned layout prunes partitions under a partition filter") {
    // the partition-pruned-layout story of §7.5: a filter on the partition
    // column must become a PartitionFilter on the scan (pruned directory
    // listing), not a post-scan Filter over every file
    val dir = Tables.scratch(spark, sfTiny, "prune_guard")
    Tables.t(spark, sfTiny, "orders")
      .withColumn("o_year", org.apache.spark.sql.functions.year(
        org.apache.spark.sql.functions.col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("o_year") === 1995)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_year"),
      s"partition filter not pushed to the scan:\n$p")
    // robust to codegen markers (*(1) Filter) and branch prefixes (: +-):
    // any Filter NODE line mentioning the partition column is residual;
    // PartitionFilters/PushedFilters attribute lines are the scan's own
    val residual = p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("o_year") &&
        !l.contains("PartitionFilters") && !l.contains("PushedFilters"))
    assert(!residual, s"residual row-level filter on the partition col:\n$p")
  }

  test("lang-partitioned documents layout prunes partitions under a lang filter") {
    // the §7.5 corpus layout (ScaleSmoke SPARK_GRAFT_LAYOUT=lang): docs
    // partitioned by lang; a lang-scoped pipeline must list only that
    // partition's directory, same contract as the a5 pin above
    val dir = Tables.scratch(spark, sfTiny, "lang_prune_guard")
    Tables.t(spark, sfTiny, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      s"lang partition filter not pushed to the scan:\n$p")
    val residual = p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("lang") &&
        !l.contains("PartitionFilters") && !l.contains("PushedFilters"))
    assert(!residual, s"residual row-level filter on lang:\n$p")
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // §7.5's runtime-filter story: a selective filter on the build side
    // of a shuffle join should inject a bloom filter onto the probe-side
    // scan, pruning fact rows BEFORE the shuffle (thresholds scaled down
    // to test size; application-side threshold is 10GB by default)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
    import org.apache.spark.sql.functions.col
    val li = s2.read.parquet(s"$sfTiny/lineitem.parquet")
    val part = s2.read.parquet(s"$sfTiny/part.parquet")
      .filter(col("p_size") === 10)
    val q = li.join(part, li("l_partkey") === part("p_partkey"))
    val p = q.queryExecution.executedPlan.toString
    // renders as might_contain(subquery over bloom_filter_agg) guarding
    // the fact-side scan, upstream of the join's Exchange
    assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
      s"no runtime bloom filter injected:\n$p")
  }

  test("AQE splits a skewed join partition (SURVEY §7.5's skew story)") {
    // one hot key holding ~90% of the fact side: with AQE skew handling on
    // (and thresholds scaled down to test size), the final adaptive plan
    // must mark the sort-merge join skew-handled instead of leaving one
    // straggler task with the whole hot partition
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions._
    val fact = s2.range(0, 300000).select(
      when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 1000).as("k"),
      col("id").as("v"))
    val dim = s2.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    val joined = fact.join(dim, "k")
    joined.queryExecution.toRdd.count() // finalize the adaptive plan
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), s"AQE did not split the skewed partition:\n$p")
  }

  test("c2: fact-fact join is a shuffle sort-merge join") {
    assert(plan("c2_join_shuffle_equi").contains("SortMergeJoin"))
  }

  test("f3: global top-k is TakeOrderedAndProject (no full sort)") {
    assert(plan("f3_topk_global").contains("TakeOrderedAndProject"))
  }

  test("j3: cosine kernel is the native codegen float_dot expression") {
    assert(plan("j3_sim_cosine_pairs").contains("float_dot"))
  }

  test("a8: DSv2 connector prunes columns and plans the requested splits") {
    val df = spark.read.format("graft.sources.RangeSource")
      .option("start", 0).option("end", 1000).option("slices", 8).load()
      .select("sq")
    val scanOutput = df.queryExecution.executedPlan.collectLeaves().head.output.map(_.name)
    assert(scanOutput == Seq("sq"), s"column pruning not pushed: $scanOutput")
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 1000)
  }

  test("a8: DSv2 connector pushes id-range filters into partition planning") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.RangeSource")
      .option("start", 0).option("end", 100000).option("slices", 8).load()
      .filter(col("id") >= 99000 && col("id") < 99500)
    // bounds reach the source BEFORE partition planning: the scan is
    // built over [99000, 99500), and the (re-split) partitions cover only
    // that range — split pruning, not per-row evaluation
    val scan = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec].scan
    assert(scan.description == "graft_range(99000,99500,8)",
      s"pushed bounds did not reach the scan: ${scan.description}")
    assert(df.count() == 500)
    // no residual Filter NODE: the source answered the predicate exactly
    // ("RuntimeFilters:" is a BatchScan attribute label, not a node)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Filter ("), s"residual filter left above the scan:\n$p")
  }

  test("a8: pushFilters is idempotent on a reused ScanBuilder") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    // Spark may re-invoke pushFilters during re-planning; a builder that
    // compounds bounds across calls silently drops rows (accepted filters
    // leave no residual Filter node to catch the error)
    val b = new graft.sources.RangeScanBuilder(0, 1000, 4)
    val fs: Array[org.apache.spark.sql.sources.Filter] =
      Array(GreaterThanOrEqual("id", 100L), LessThan("id", 900L))
    b.pushFilters(fs)
    b.pushFilters(fs) // second call must reset, not tighten further
    val scan = b.build().asInstanceOf[graft.sources.RangeScan]
    assert(scan.description == "graft_range(100,900,4)",
      s"bounds compounded across pushFilters calls: ${scan.description}")
  }

  test("c12: bucketed join shuffles strictly less than the shuffle join c2") {
    def exchanges(key: String): Int =
      "(?<!Broadcast)Exchange".r.findAllIn(plan(key)).length
    val bucketed = exchanges("c12_join_bucketed")
    val shuffled = exchanges("c2_join_shuffle_equi")
    assert(bucketed < shuffled,
      s"bucketed=$bucketed vs shuffled=$shuffled — bucket co-location lost")
    assert(plan("c12_join_bucketed").contains("SortMergeJoin"))
  }

  test("j2/l1/l9/l12/l18/l22/l32: near-dedup candidate joins are equi-joins, never all-pairs") {
    Seq("j2_dedup_near_minhash", "l1_dedup_simhash",
      "l12_dedup_embedding", "l18_dedup_incremental", "l22_containment_ngram")
      .foreach { k =>
        val p = plan(k)
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$k degenerated to an all-pairs join:\n$p")
      }
    // l9 and l32 both consume the SHARED verifiedPairs frame, whose
    // memoized plan is a checkpoint scan — pin the PRODUCING subtree
    // (the un-memoized builder) instead, once for both keys
    val pp = operators.TrainOps.verifiedPairsRaw(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"),
      s"l9/l32 shared pair production degenerated to an all-pairs join:\n$pp")
  }

  test("j25: PIT join is an equi join on user_id riding the history window's exchange") {
    // SURVEY §2-J's scale claim: the lookup is an EQUI join on user_id
    // with the interval test as residual. Catalyst picks between the
    // two correct physical forms by dimension size: BROADCAST the
    // compacted history (what it does here — the fact side then
    // shuffles ZERO times beyond the window's own exchange), or a
    // shuffled join whose dim side rides the history window's
    // hashpartitioning (≤ 2 hash Exchanges total). A 3rd hash Exchange
    // or a nested-loop/cartesian means the interval test displaced the
    // equi key or the join stopped inheriting the window's partitioning.
    val p = plan("j25_pit_scd2_join")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles <= 2, s"expected <= 2 hash Exchanges, found $hashShuffles:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"PIT lookup lost its equi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PIT lookup degenerated to an all-pairs join:\n$p")
  }

  test("e13: TWAP's window and groupBy share one user_id exchange") {
    // lead(1) window and the interval aggregate both key on user_id —
    // a 2nd hash Exchange means the aggregate stopped riding the
    // window's partitioning
    val p = plan("e13_win_time_weighted_avg")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles == 1, s"expected 1 hash Exchange, found $hashShuffles:\n$p")
  }

  test("c9: band join is a bucketed equi-join on (brand, floor(price))") {
    val p = plan("c9_join_theta_band")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band join degenerated to all-pairs:\n$p")
    // the join's equi keys must include the price bucket, not brand alone —
    // brand-only keys explode every within-brand pair before the filter
    val joinLine = p.linesIterator
      .find(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
      .getOrElse(fail(s"no equi join planned:\n$p"))
    assert(joinLine.contains("bkt"), s"bucket column not a join key: $joinLine")
  }

  test("c11: interval self-join is bucketed on (user, 10-min bucket)") {
    val p = plan("c11_join_interval_self")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to all-pairs:\n$p")
    val joinLine = p.linesIterator
      .find(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
      .getOrElse(fail(s"no equi join planned:\n$p"))
    assert(joinLine.contains("bkt"), s"time bucket not a join key: $joinLine")
  }

  test("c13: native as-of join plans AsOfJoinExec and matches composed c10") {
    val p = plan("c13_join_asof_native")
    assert(p.contains("AsOfJoin"), s"custom exec not planned:\n$p")
    val native = SparkEntry.queries("c13_join_asof_native")(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    val composed = SparkEntry.queries("c10_join_asof")(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(native == composed)
  }

  test("l17: the composed corpus-prep plan shuffles exactly 5 times, stages fused") {
    // The end-to-end pipeline's scale contract (SURVEY §7.5): one Catalyst
    // optimization over the whole 5-stage chain, with per-row stages fused
    // into scans and exactly these shuffle Exchanges —
    //   1. quality groupBy(doc_id)        (data-sized: token stream)
    //   2. exact-dedup groupBy(sha256)    (data-sized: one digest row/doc)
    //   3. contamination distinct(doc_id) (eval-HIT rows only — rare)
    //   4. packing window partitionBy(source) (data-sized: survivors)
    //   5. the contract's final total sort
    // A 6th Exchange means a stage stopped fusing (e.g. a lost broadcast
    // or an extra repartition) — the regression this pin exists to catch.
    val p = plan("l17_pipeline_corpus_prep")
    // exclude ReusedExchange too (r9 ADVICE): a reused shuffle is the
    // OPPOSITE of a new one — counting it would trip the ==5 pin on a
    // plan that introduced zero additional shuffles
    val shuffles = "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(p).length
    assert(shuffles == 5, s"expected 5 shuffle Exchanges, found $shuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"corpus-prep degenerated to an all-pairs join:\n$p")
  }

  test("c14: the salted join stays sort-merge — a broadcast would bypass the skew demo") {
    // the key exists to demonstrate reducer-spreading on the SHUFFLE
    // path; Catalyst folding the 24k-row exploded dim into a broadcast
    // would silently turn the demo into a no-op (and at the real scale
    // the dim may not fit an executor)
    val p = plan("c14_join_salted_skew")
    assert(p.contains("SortMergeJoin"), s"salted join lost its merge hint:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"salted join broadcast anyway:\n$p")
  }

  test("j16: merge costs one hash exchange per side — the windows' partitioning feeds the join") {
    // SURVEY §2-J's scale claim for the MERGE shape: base and delta each
    // window-compact on (user_id, event_type), and the full-outer join
    // runs on the SAME key, so its distribution requirement is satisfied
    // by the windows' hashpartitioning — 2 data shuffles total, plus the
    // contract's final range sort. A 3rd hash Exchange means the join
    // stopped inheriting the windows' partitioning (e.g. a key-expression
    // drift between the compaction and the join).
    val p = plan("j16_merge_upsert")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles == 2, s"expected 2 hash Exchanges, found $hashShuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"merge degenerated to an all-pairs join:\n$p")
  }

  test("l20/l21/l33: the weights/vocab/histogram join broadcasts — the corpus side never shuffles for it") {
    // all three join the full corpus against a tiny derived table (≤#sources
    // mix weights; vocabulary-bounded log-probs; the 64-bucket importance
    // histogram); losing the broadcast would shuffle the corpus on the
    // join key — the regression to catch
    Seq("l20_sample_by_weight", "l21_unigram_logprob", "l33_select_dsir").foreach { k =>
      val p = plan(k)
      assert(p.contains("BroadcastHashJoin"), s"$k lost its broadcast join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$k shuffles the corpus to join:\n$p")
    }
  }

  test("l7/l23: the per-row map ops shuffle ONLY for the contract sort") {
    // header decode (l7) and PII redaction (l23) are pure per-row
    // expression pipelines — everything fuses into the scan projection;
    // a second Exchange means a stage stopped fusing (an accidental
    // groupBy/join/repartition crept in), the scale regression to catch
    Seq("l7_multimodal_features", "l23_pii_redact").foreach { k =>
      val p = plan(k)
      val shuffles = "(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(p).length
      assert(shuffles == 1, s"$k should shuffle once (contract sort), " +
        s"found $shuffles:\n$p")
    }
  }

  test("l25: drift vocab agg partials map-side before its one data shuffle") {
    // the token scan must combine per-partition before the per-term
    // shuffle (partial HashAggregate below the Exchange): losing the
    // partial ships the full token stream — corpus-sized — to the reduce
    val p = plan("l25_token_drift")
    val i = p.indexOf("Exchange hashpartitioning(term")
    assert(i >= 0, s"l25 lost its per-term hash shuffle:\n$p")
    assert(p.indexOf("HashAggregate", i) >= 0 && p.take(i).contains("HashAggregate"),
      s"l25's vocab agg is not map-side partial:\n$p")
  }

  test("l24: funnel eval-set join broadcasts; flag joins are never all-pairs") {
    val p = plan("l24_filter_funnel")
    assert(p.contains("BroadcastHashJoin"), s"l24 lost the eval/vocab broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"l24 degenerated to an all-pairs join:\n$p")
  }

  test("l37: blocked linkage is an equi join with a pruned scan; JW is codegen'd") {
    val df = SparkEntry.queries("l37_fuzzy_blocked_match")(spark, sfTiny)
    // the blocking key must plan as a real equi join — an all-pairs
    // fallback would mean the (brand,size) keys fell out of the condition
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"l37's blocking join is not an equi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"l37 degenerated to all-pairs:\n$p")
    assert(p.contains("jaro_winkler"), s"jaro_winkler not in the plan:\n$p")
    // part scan reads only the four needed columns
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string," +
      "p_brand:string,p_size:int>"),
      s"part scan not pruned to partkey/name/brand/size:\n$p")
    // the scorer must run inside whole-stage codegen — the contract
    // JaroWinklerSim.doGenCode exists for. AQE only renders codegen
    // spans on the FINAL plan, so execute first, then re-read the plan
    // and pin jaro_winkler inside the codegen'd join/project stage (a
    // CodegenFallback expression would sit outside every span).
    // codegen pin on a shuffle-free frame (the l37 query itself folds to
    // EmptyRelation under AQE at sfTiny — no pair clears 0.85 there):
    // a range→project plan is non-adaptive, so executedPlan IS the
    // WholeStageCodegen tree and the star prefix proves the expression
    // compiled into the span rather than falling back to interpreted
    import org.apache.spark.sql.functions.{concat, lit, col => c, min => mn}
    val demo = spark.range(100)
      .select(concat(lit("name"), c("id")).as("a"),
        concat(lit("nam"), c("id")).as("b"))
      .select(graft.functions.JaroWinkler.jaroWinkler(c("a"), c("b")).as("s"))
    val dp = demo.queryExecution.executedPlan.toString
    assert(dp.contains("*(1) Project") && dp.contains("jaro_winkler"),
      s"jaro_winkler not inside a WholeStageCodegen span:\n$dp")
    assert(demo.agg(mn("s")).head().getDouble(0) > 0.8,
      "codegen'd evaluation produced nonsense")
    // belt and braces: a CodegenFallback mixin would silently drop the
    // expression out of every codegen span while value tests keep passing
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[graft.functions.JaroWinklerSim]),
      "JaroWinklerSim must not be CodegenFallback")
  }

  test("whole inventory: no unexpected cartesian/nested-loop joins") {
    // BNLJ/cartesian is legitimate ONLY for the deliberate cross-join
    // demo (c8), scalar/1-row (or 16-centroid) broadcast joins (e7, j4,
    // j6, l3), and the row-cap-guarded exact all-pairs baselines (j3,
    // l2). Every other key degenerating to an all-pairs join is a scale
    // regression — this sweep catches it for FUTURE keys automatically.
    val allowed = Set("c8_join_cross", "e7_win_distribution",
      "e10_resample_gapfill", // 1-row broadcast bounds frame × 5-row types spine
      "j3_sim_cosine_pairs", "j4_sim_knn_query", "j6_text_tfidf",
      "l2_sim_embedding_nn", "l3_ann_ivf_topk",
      "l44_triplet_mining", // guarded exact-mining baseline (the j3/l2 class)
      "l26_bm25_topk", // 1-row broadcast (N, Σdl) stats frame, twice
      "l51_hybrid_rrf", // l26's stats frame + j4's 1-row query vector
      "l52_retrieval_metrics", // l51's legs + 1-row metric frames crossed
      "j18_merge_into_sql", // 1-row broadcast cardinality-guard frame
      "l36_pmi_cooccur", // 1-row broadcast N frame (df window + final pmi)
      "l38_budget_select", // 1-row broadcast budget frame × ≤101-row buckets
      "c21_join_bnl_rate_table") // BNL IS the point: 5-row rate table, gated FOR it
    // (d27 left the allowance in r15: its n_days side moved from a 1-row
    // cross join into the grouping-sets artifact — one linear plan)
    // the dedup pipelines run real jobs during DataFrame CONSTRUCTION
    // (checkpointed closure rounds) and have their own dedicated
    // no-cartesian test above — skip them here to avoid re-executing them
    val coveredElsewhere =
      Set("j2_dedup_near_minhash", "l1_dedup_simhash", "l9_dedup_ngram_jaccard",
        "l12_dedup_embedding", "l18_dedup_incremental", "l22_containment_ngram",
        "l32_dedup_cluster_cc")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("i")) // streaming fns run a real stream; covered by their own specs
      .filterNot(allowed)
      .filterNot(coveredElsewhere)
      .filter { k =>
        val p = SparkEntry.queries(k)(spark, sfTiny)
          .queryExecution.executedPlan.toString
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      }
    assert(offenders.isEmpty, s"unexpected all-pairs joins in: $offenders")
  }

  test("k8: the SQL-language UDF body is inlined — no opaque udf node in the plan") {
    val p = plan("k8_sql_lang_udf")
    assert(!p.toLowerCase.contains("udf"),
      s"k8's SQL function body failed to inline (udf node present):\n$p")
    // the body must appear as a plain expression in the Project — the
    // pre-AQE plan string doesn't render codegen spans, so the inlined
    // arithmetic itself is the codegen-eligibility proof
    assert(p.contains("1.0 - l_discount"),
      s"k8's inlined body not visible in the projection:\n$p")
  }

  test("l47: the per-source cap reuses e1's partial pre-shuffle group limit") {
    val p = plan("l47_cap_per_source")
    assert(p.contains("WindowGroupLimit"), s"group-limit not planned:\n$p")
    assert(p.contains("row_number(), 20, Partial"),
      s"no PARTIAL group limit before the shuffle:\n$p")
  }

  test("k9: the lateral TVF call decorrelates to one equi-join — no per-row re-execution") {
    val p = plan("k9_sql_table_function")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"k9's lateral TVF did not decorrelate to an equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"k9's lateral TVF degenerated to a nested-loop join:\n$p")
  }

  test("d18: unpivot compiles to an in-task Expand — no exchange beyond agg and sort") {
    val p = plan("d18_unpivot")
    assert(p.contains("Expand"), s"d18 lost its Expand compilation:\n$p")
    val ex = "Exchange".r.findAllIn(p).size
    assert(ex <= 2, s"d18 expects at most the agg + contract-sort exchanges, found $ex:\n$p")
  }

  test("j18: the lowered MERGE is a key join; the only all-pairs node is the 1-row guard") {
    val p = plan("j18_merge_into_sql")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"j18's merge lost its equi-join compilation:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1,
      s"j18 expects exactly the one-row cardinality-guard BNLJ, found $bnlj:\n$p")
  }

  test("l26: top-10 is a pushed TakeOrdered, and df/idf reach the docs via broadcast") {
    val p = plan("l26_bm25_topk")
    // the top-k must NOT be a global sort + limit — TakeOrderedAndProject
    // keeps it a per-partition heap + driver merge at any corpus size
    assert(p.contains("TakeOrderedAndProject"), s"l26 lost the top-k pushdown:\n$p")
    // r21: l26/l51/l52 consume the SHARED bm25 score frame, whose memoized
    // plan is a checkpoint scan — pin the PRODUCING subtree's broadcast
    // shape on the raw builder (the qualityFeaturesRaw idiom): the
    // ≤|query|-row idf side and one-row stats frame broadcast — the
    // corpus-sized tf/dl side never reshuffles for them
    val raw = operators.TrainOps.bm25ScoreURaw(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(raw.contains("BroadcastHashJoin"), s"l26 lost the idf broadcast:\n$raw")
    assert(!raw.contains("CartesianProduct") && !raw.contains("SortMergeJoin"),
      s"bm25 scorer degenerated from its broadcast shape:\n$raw")
  }

  test("l51/l52: the shared retrieval frames equal their raw producers") {
    // the r21 memoization must be a pure warm-read: the memoized frames
    // (first consumer pays the build) and a fresh raw build agree row-
    // for-row — the cache can reorder nothing and stale nothing
    val fused = SparkEntry.queries("l51_hybrid_rrf")(spark, sfTiny)
      .orderBy("doc_id").collect().toSeq
    val raw = operators.TrainOps.hybridFusedRaw(spark, sfTiny)
      .orderBy("doc_id").collect().toSeq
    assert(fused == raw, "memoized hybridFused diverged from its raw producer")
  }

  test("l27: the vocab join broadcasts — the token scan never shuffles for it") {
    // l27 (and l24) consume the SHARED qualityFeatures frame, whose
    // memoized plan is a checkpoint scan — pin the PRODUCING subtree
    val p = operators.TrainOps.qualityFeaturesRaw(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"l27 lost the vocab broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"l27 degenerated to an all-pairs join:\n$p")
  }

  test("l28: the lake read prunes partitions AND columns at the scan") {
    val p = plan("l28_partition_pruned_scan")
    // partition pruning: a PartitionFilters entry on the scan — lang is a
    // directory, not data, so non-en partitions' files are never opened
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter is not a partition filter:\n$p")
    // column pruning: the scan reads exactly the two projected columns
    assert(p.contains("ReadSchema: struct<source:string,n_chars:bigint>"),
      s"scan not pruned to source/n_chars:\n$p")
    // and the lang predicate must NOT survive as a post-scan row filter
    assert(!p.contains("Filter (isnotnull(lang"),
      s"lang re-filtered after the scan:\n$p")
  }

  test("l34: runtime DPP prunes the lake to the dim-selected partitions") {
    // the in-query require() already fail-louds when the DynamicPruning
    // partition filter is missing from the lake scan's plan tree, so
    // BUILDING the query is itself the pruning assertion; pin here the
    // rest of the shape and the semantics: the dim rides a broadcast
    // hash join (the exchange DPP's subquery reuses), and the
    // runtime-selected partition set is exactly the md5-bucket langs
    val df = SparkEntry.queries("l34_join_dpp_prune")(spark, sfTiny)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$p")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("de", "fr"),
      "runtime-pruned partition set drifted from {de, fr}")
  }

  test("c20 negative control: without CBO the worst-first order survives") {
    // the key's in-query gate proves CBO DOES reorder; this pins that the
    // reorder is CAUSED by the stats + conf, not an accident of the
    // default optimizer — otherwise the gate could pass vacuously forever
    import org.apache.spark.sql.functions._
    // building the key registers + ANALYZEs its external tables and runs
    // the gated query once under CBO
    SparkEntry.queries("c20_join_cbo_reorder")(spark, sfTiny).collect()
    val tag = spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_") +
      "_" + Integer.toHexString(sfTiny.hashCode)
    assert(spark.conf.get("spark.sql.cbo.enabled") == "false",
      "key leaked its CBO conf override")
    val q = spark.sql(s"""
      SELECT o_orderpriority, count(*) AS item_cnt
      FROM graft_cbo_li_$tag
      JOIN graft_cbo_ord_$tag ON l_orderkey = o_orderkey
      JOIN graft_cbo_cust_$tag ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY o_orderpriority""")
    val bottom = q.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if !j.children.exists(_.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])) =>
        j.collectLeaves().flatMap(_.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.map(_.getName)
        }.flatten).toSet
    }
    assert(bottom.exists(_.contains("lineitem")),
      s"default optimizer unexpectedly reordered the chain: $bottom — " +
        "the c20 gate may now be vacuous, re-derive it")
  }

  test("l42: every hub outranks every leaf after 10 rounds") {
    // structural meaning behind the oracled numbers: rank must CONCENTRATE
    // on the hub-and-spoke topology's hubs; also total mass stays under
    // the initial 1e9 budget (integer division only ever leaks DOWN)
    import org.apache.spark.sql.functions._
    val ranks = SparkEntry.queries("l42_pagerank_hubs")(spark, sfTiny)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.t(spark, sfTiny, "documents")
    val hubs = (docs.groupBy("source").agg(min("doc_id").as("h"))
      .select("h").collect() ++
      docs.groupBy("lang").agg(min("doc_id").as("h")).select("h").collect())
      .map(_.getLong(0)).toSet
    val (hubRanks, leafRanks) = ranks.partition { case (id, _) => hubs(id) }
    assert(hubRanks.values.min > leafRanks.values.max,
      s"a leaf outranks a hub: hubs min ${hubRanks.values.min} vs " +
        s"leaves max ${leafRanks.values.max}")
    assert(ranks.values.sum <= 1000000000L, "rank mass exceeded the budget")
  }

  // ---- r19 pins (VERDICT r18 task 2): the expensive tail's hand-audited
  // plan properties, promoted from verdict prose to regression tests ----

  test("l22: the one-sided containment length gate survives into the plan") {
    // C(A→B) >= 9/10 forces 10·|B| >= 9·|A| — the lossless size gate that
    // kills incompatible candidates on two integer joins BEFORE the
    // shingle sets attach. Catalyst may keep it as a Filter node or fold
    // it into the second size-join's condition; both render the
    // (nb * 10) >= (na * 9) comparison — its absence means the gate was
    // dropped and every candidate pair carries its full sets.
    val p = plan("l22_containment_ngram")
    assert(p.linesIterator.exists(l => l.contains("* 10) >= ") && l.contains("* 9)")),
      s"the 10*nb >= 9*na length gate is gone from the plan:\n$p")
  }

  test("l42: per-round lineage truncation — the final plan is a checkpoint scan, not 10 stacked joins") {
    // pageRankInt localCheckpoints every round; losing that stacks 10
    // rounds of join/agg into one plan (analysis blowup + a lineage the
    // scheduler re-executes on task retry). The key's executed plan must
    // be sort-over-checkpoint-scan with ZERO join nodes.
    val p = plan("l42_pagerank_hubs")
    assert(p.contains("ExistingRDD"),
      s"l42's result is not checkpoint-backed:\n$p")
    assert(!p.contains("Join"),
      s"a join survived into l42's final plan — per-round truncation lost:\n$p")
  }

  test("l1: banded self-join keys on the 16-bit band; only signatures cross the shuffle") {
    // the key's pair frame is checkpointed (it feeds n_dups and the
    // closure loop), which hides the producing subtree from the key's
    // plan — pin the extracted producer directly, composed exactly as
    // the key composes it (signature frame checkpointed first)
    val sigs = operators.TrainOps.simhashed(spark, sfTiny)
      .localCheckpoint(eager = false)
    val p = operators.TrainOps.simhashBandPairsRaw(sigs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"l1's band join degenerated to all-pairs:\n$p")
    val joinLine = p.linesIterator
      .find(l => l.contains("SortMergeJoin") || l.contains("HashJoin"))
      .getOrElse(fail(s"no equi join planned in l1's pair production:\n$p"))
    assert(joinLine.contains("band"), s"band is not a join key: $joinLine")
    // the shuffle carries (doc_id, simhash, band) — 24 bytes — never text
    assert(!p.contains("text#"), s"document text crossed into the pair shuffle:\n$p")
  }

  test("j2: the minhash band join keys on (band, bval) — folded 64-bit band values") {
    // the key's verified pair frame is checkpointed (it feeds n_dups and
    // the closure loop), hiding the candidate subtree from the key's
    // plan — pin the extracted producer over a signature-shaped frame
    import org.apache.spark.sql.functions.col
    val sigs = spark.range(50).select(col("id").as("doc_id") +:
      (0 until 24).map(h => (col("id") * (h + 1)).as(s"m$h")): _*)
    val p = operators.LlmOps.minhashBandCandidatesRaw(sigs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"j2's band join degenerated to all-pairs:\n$p")
    val joinLine = p.linesIterator
      .find(l => (l.contains("SortMergeJoin") || l.contains("HashJoin")) &&
        l.contains("bval"))
      .getOrElse(fail(s"no equi join on the folded band value:\n$p"))
    assert(joinLine.contains("band"), s"band position is not a join key: $joinLine")
  }

  test("sharedFrame builds once per (session, dir, tag) — l18 times the probe, not the index build") {
    // l18's claim is the INCREMENTAL probe against a persistent corpus
    // prefix index; the index (sharedPrefix45) must build once per
    // session. Pin the memo machinery: a second lookup must return the
    // SAME frame without re-invoking its builder.
    var builds = 0
    val a = Tables.sharedFrame(spark, sfTiny, "r19_memo_pin") {
      builds += 1; spark.range(5).toDF("doc_id")
    }
    val b = Tables.sharedFrame(spark, sfTiny, "r19_memo_pin") {
      fail("sharedFrame re-invoked its builder — the once-per-session memo is broken")
    }
    assert(a eq b, "sharedFrame returned a different frame on the second lookup")
    assert(builds == 1)
  }

  test("l35: the maintenance report materializes once — consumers read the checkpoint, not the lakes") {
    // the report is lang-count-sized and feeds BOTH the in-key require
    // gates and the returned result; without the checkpoint each consumer
    // re-scans the fragmented and compacted lakes (two full file listings
    // + reads per consumer at production file counts)
    val p = plan("l35_compact_small_files")
    assert(p.contains("ExistingRDD"),
      s"l35's report is not checkpoint-backed:\n$p")
    assert(!p.contains("FileScan") && !p.contains("BatchScan"),
      s"l35's returned report re-scans the lake:\n$p")
  }

  test("e7: global rank is range-partitioned, not a single-task window") {
    val p = plan("e7_win_distribution").toLowerCase
    assert(p.contains("rangepartitioning"), s"no range partitioning:\n$p")
    // the only acceptable unpartitioned window input is the tiny
    // per-partition count table, never the customer scan directly
    assert(!p.contains("window [ntile"), s"ntile window crept back:\n$p")
  }

  test("h14: try_* derived columns are projected AFTER the contract sort (h4 idiom)") {
    // r20 (VERDICT r19 task 1): the range exchange must carry the four
    // narrow base columns, never the five derived try_* payloads — the
    // reorder measured 3.24 s → 1.54 s min-of-3 at sf0.1. Pin (a) the
    // expression-adding Project sits ABOVE the Sort and (b) the scan is
    // pruned to exactly the base columns, so nothing wide exists below
    // the exchange to begin with.
    val p = plan("h14_try_funcs")
    val lines = p.linesIterator.toVector
    val proj = lines.indexWhere(l => l.contains("Project") && l.contains("per_extra_unit"))
    val sort = lines.indexWhere(l => l.contains("Sort [l_orderkey"))
    assert(proj >= 0 && sort >= 0, s"expected a derived Project and the contract Sort:\n$p")
    assert(proj < sort,
      s"derived try_* projection sits below the sort — the range exchange carries wide payloads:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double>"),
      s"scan not pruned to the 4 base columns:\n$p")
  }

  test("tokenizer sites plan no interpreted higher-order function") {
    // words / word_ngrams / max_multiplicity are native expressions; a
    // lambda (filter, transform, aggregate, array_sort) in these plans
    // means the per-element interpreted path came back
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    val frames = Seq(
      "shingleRows" -> graft.operators.LlmOps.shingleRows(spark, sfTiny)) ++
      Seq("l14_repetition_filter", "l17_pipeline_corpus_prep", "l46_dup_span_fraction")
        .map(k => k -> SparkEntry.queries(k)(spark, sfTiny))
    frames.foreach { case (name, df) =>
      val hofs = df.queryExecution.analyzed.collectWithSubqueries { case p => p }
        .flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h.prettyName }))
      assert(hofs.isEmpty, s"$name plans interpreted higher-order functions: $hofs")
    }
  }
}
