package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5 layer-3: multi-batch watermark semantics with MemoryStream
  * (controlled batch boundaries — the part AvailableNow over one file
  * can't exercise), plus streaming-vs-batch equivalence for the stateful
  * operators. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermark drops late rows across micro-batches (append mode)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Timestamp]
    val windowed = input.toDF().withColumnRenamed("value", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
    val q = windowed.writeStream.format("memory").queryName("wm_spec")
      .outputMode("append").start()
    try {
      // batch 1: three rows, two windows; nothing finalized yet
      input.addData(ts("2024-01-01 10:05:00"), ts("2024-01-01 10:20:00"),
        ts("2024-01-01 11:10:00"))
      q.processAllAvailable()
      assert(spark.table("wm_spec").count() == 0)
      // batch 2: event at 13:00 -> watermark 12:00 -> 10:00/11:00 finalize
      input.addData(ts("2024-01-01 13:00:00"))
      q.processAllAvailable()
      // batch 3: 10:30 is older than the 12:00 watermark -> dropped
      input.addData(ts("2024-01-01 10:30:00"))
      q.processAllAvailable()
      val out = spark.table("wm_spec")
        .select(col("window.start").cast("string"), col("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == Map(
        "2024-01-01 10:00:00" -> 2L, // late 10:30 NOT counted
        "2024-01-01 11:00:00" -> 1L)) // 13:00 window not finalized yet
    } finally q.stop()
  }

  test("i7 boundary: the EXACT late-row set of a 2-batch split is dropped") {
    // ids are powers of two and the aggregate is sum(id): each window's
    // sum is a bitset naming exactly which rows survived — this pins the
    // late SET, not merely that "some rows dropped", including the
    // boundary semantics (a row with ts < watermark drops; ts == watermark
    // survives is not probed here; a window emits once watermark >= end).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val agg = input.toDF().toDF("id", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(sum(col("id")).as("ids"))
    val q = agg.writeStream.format("memory").queryName("late_set_spec")
      .outputMode("append").start()
    try {
      // batch 1: max ts 14:00 -> watermark for batch 2 = 13:00
      input.addData((1L, ts("2024-01-01 10:05:00")),
        (2L, ts("2024-01-01 11:10:00")), (4L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      // batch 2 vs watermark 13:00 — exactly {8, 16, 64} are late:
      //   8 @10:30 and 16 @11:20 (both < 13:00)  -> dropped
      //  64 @12:10 (< 13:00)                     -> dropped
      //  32 @13:30 (>= 13:00)                    -> survives
      input.addData((8L, ts("2024-01-01 10:30:00")),
        (16L, ts("2024-01-01 11:20:00")), (64L, ts("2024-01-01 12:10:00")),
        (32L, ts("2024-01-01 13:30:00")))
      q.processAllAvailable()
      // batch 3: 16:00 -> watermark 15:00 -> windows through 14:00 emit
      input.addData((128L, ts("2024-01-01 16:00:00")))
      q.processAllAvailable()
      val out = spark.table("late_set_spec")
        .select(col("window.start").cast("string"), col("ids"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == Map(
        "2024-01-01 10:00:00" -> 1L,   // 8 dropped, NOT counted
        "2024-01-01 11:00:00" -> 2L,   // 16 dropped
        // no 12:00 window at all: its only row (64) was late
        "2024-01-01 13:00:00" -> 32L,  // the surviving batch-2 row
        "2024-01-01 14:00:00" -> 4L),  // batch 1's watermark-setting row
        s"late-set mismatch: $out")
      // 128's own 16:00 window must still be open (wm 15:00 < end 17:00)
      assert(!out.contains("2024-01-01 16:00:00"))
    } finally q.stop()
  }

  test("i8 stream-stream join: cross-batch matches emit; watermark-late rows drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long, Timestamp)]
    val buysIn = MemoryStream[(Long, Long, Timestamp)]
    val clicks = clicksIn.toDF().toDF("click_id", "user_id", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val buys = buysIn.toDF().toDF("purchase_id", "p_user", "purchase_ts")
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(buys,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("i8_spec")
      .outputMode("append").start()
    def got: Set[(Long, Long)] = spark.table("i8_spec")
      .select("click_id", "purchase_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    try {
      // batch 1: click alone — buffered in join state, nothing emitted
      clicksIn.addData((1L, 7L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(got.isEmpty)
      // batch 2: in-window purchase arrives LATER -> the buffered click matches
      buysIn.addData((100L, 7L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      assert(got == Set(1L -> 100L))
      // batch 3: advance both watermarks past the click's join horizon
      clicksIn.addData((2L, 8L, ts("2024-01-01 15:00:00")))
      buysIn.addData((200L, 8L, ts("2024-01-01 15:10:00")))
      q.processAllAvailable()
      assert(got == Set(1L -> 100L, 2L -> 200L))
      // batch 4: a purchase in click 1's window but far older than the
      // watermark — the evicted state can't match it; nothing new emits
      buysIn.addData((300L, 7L, ts("2024-01-01 10:25:00")))
      q.processAllAvailable()
      assert(got == Set(1L -> 100L, 2L -> 200L),
        "watermark-expired click state must not produce new matches")
    } finally q.stop()
  }

  test("i15 boundary: a click EXACTLY at watermark − 30 min does not null-extend") {
    // Pins the oracle's eviction-cut comparator (STRICT <): over
    // AvailableNow the final watermark is max(ts) − 1 h (ms-truncated),
    // and an unmatched click emits its null-extended row only when
    // click_ts + 30 min < wm — a click sitting EXACTLY on the boundary
    // stays in state (eviction requires the watermark to PASS the
    // deadline, not merely reach it). Fixture through the FULL i15 query
    // (file source, raw-ns longs, AvailableNow — the exact path the
    // oracle models): wm = 09:00:00; planted clicks at 08:29:59 (below
    // boundary → null row), 08:30:00 (exactly at → held), 08:31:00
    // (above → held), plus a matched pair (always emits) and the
    // max-ts click that sets the watermark (held — its own deadline is
    // far past wm).
    import spark.implicits._
    def ns(s: String): Long = Timestamp.valueOf(s).getTime * 1000000L
    val rows = Seq(
      (1L, ns("2024-01-01 07:00:00"), 7L, "click", 1.0, "{}"),
      (100L, ns("2024-01-01 07:10:00"), 7L, "purchase", 1.0, "{}"),
      (2L, ns("2024-01-01 08:29:59"), 1L, "click", 1.0, "{}"),
      (3L, ns("2024-01-01 08:30:00"), 2L, "click", 1.0, "{}"),
      (4L, ns("2024-01-01 08:31:00"), 3L, "click", 1.0, "{}"),
      (5L, ns("2024-01-01 10:00:00"), 9L, "click", 1.0, "{}"))
    val dir = TestSpark.tmpDir("graft_i15_fixture")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("i15_stream_stream_left_join")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(got == Set(1L -> 100L, 2L -> -1L),
      s"expected the matched pair and ONLY the below-boundary null row, got $got")
  }

  test("i16 dropDuplicatesWithinWatermark: dups suppressed in-state, re-admitted after eviction") {
    // The contract that distinguishes i16 from i4: dedup key is event_id
    // ALONE (no event time), state is bounded by the watermark delay, and
    // the guarantee is correspondingly weaker — a duplicate arriving
    // while the key is in state is dropped; once the watermark ages the
    // key out, the SAME id is re-admitted and re-emitted. Controlled
    // batches via MemoryStream (AvailableNow over one file cannot show
    // eviction-then-readmission).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val deduped = in.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("i16_spec")
      .outputMode("append").start()
    def emitted: Seq[Long] = spark.table("i16_spec")
      .select("event_id").collect().map(_.getLong(0)).toSeq
    try {
      // batch 1: id 1 twice in one batch — one emission
      in.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      assert(emitted.sorted == Seq(1L), s"in-batch dup must collapse: $emitted")
      // batch 2: id 1 again while its state is alive (wm = 09:05) — dropped
      in.addData((1L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      assert(emitted.sorted == Seq(1L), s"in-state dup must drop: $emitted")
      // batch 3: advance the watermark far past id 1's expiry (10:00 + 1 h)
      in.addData((9L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      // batch 4: id 1 returns AFTER eviction — the weaker guarantee
      // re-admits it (this is exactly what i4's key-plus-time state
      // would also emit, but with state for every key ever seen)
      in.addData((1L, ts("2024-01-01 14:30:00")))
      q.processAllAvailable()
      assert(emitted.sorted == Seq(1L, 1L, 9L),
        s"evicted key must re-admit: $emitted")
    } finally q.stop()
  }

  test("i1 Append variant: watermark evicts finalized windows from the state store") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = operators.Streaming.tumblingAgg(
      input.toDF().toDF("ts", "event_type"))
    val q = agg.writeStream.format("memory").queryName("i1_append")
      .outputMode("append").start()
    try {
      input.addData(ts("2024-01-01 10:05:00") -> "click",
        ts("2024-01-01 10:20:00") -> "click",
        ts("2024-01-01 10:40:00") -> "view")
      q.processAllAvailable()
      assert(spark.table("i1_append").count() == 0, "no window finalized yet")
      // 13:00 -> watermark 12:00 -> the 10:00 windows finalize AND evict
      input.addData(ts("2024-01-01 13:00:00") -> "click")
      q.processAllAvailable()
      val out = spark.table("i1_append")
        .select(col("window.start").cast("string"), col("event_type"), col("cnt"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(out == Map(
        ("2024-01-01 10:00:00", "click") -> 2L,
        ("2024-01-01 10:00:00", "view") -> 1L))
      // eviction is observable in the operator metrics: the finalized
      // windows were REMOVED from the state store (Complete mode never
      // reports removals — that's exactly the unbounded-state hazard)
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st.map(_.numRowsRemoved).sum >= 2,
        s"expected state eviction, got ${st.map(_.numRowsRemoved).mkString(",")}")
      val remaining = st.map(_.numRowsTotal).sum
      assert(remaining <= 1, s"only the live 13:00 window may remain, got $remaining")
    } finally q.stop()
  }

  test("Append state is bounded by the watermark horizon, not by stream length") {
    // The same 3-hour event slice is replayed N and then 2N times, slice k
    // shifted by k·8 h (further apart than any watermark delay), one
    // micro-batch per slice, so the watermark advances and evicts between
    // batches as on an unbounded stream. Eviction lags one batch, so the
    // state after a batch is one slice plus the previous slice's tail:
    // peak state must not move when the stream doubles.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val types = Seq("click", "purchase", "view")
    // 60 events 3 min apart; each user's click, purchase and view sit
    // 3 min apart (a matched i15 pair), users recur every 45 min
    val slice = (0 until 60).map(i => (i.toLong, 3L * i, (i / 3 % 5).toLong, types(i % 3)))
    val t0 = ts("2024-01-01 00:00:00").getTime
    def run(label: String, stage: DataFrame => DataFrame, slices: Int): (Long, Long) = {
      val in = MemoryStream[(Long, Timestamp, Long, String)]
      val q = stage(in.toDF().toDF("event_id", "ts", "user_id", "event_type"))
        .writeStream.format("memory").queryName(s"bounded_${label}_$slices")
        .outputMode("append").start()
      try {
        for (k <- 0 until slices) {
          in.addData(slice.map { case (id, min, user, tpe) =>
            (k * 1000L + id, new Timestamp(t0 + (k * 480L + min) * 60000L), user, tpe)
          })
          q.processAllAvailable()
        }
        val ops = q.recentProgress.toSeq.map(_.stateOperators)
        (ops.map(_.map(_.numRowsTotal).sum).max, ops.flatten.map(_.numRowsRemoved).sum)
      } finally q.stop()
    }
    val stages = Seq[(String, DataFrame => DataFrame)](
      "tumbling" -> operators.Streaming.tumblingAgg, // i9/i12/i14
      "session" -> operators.Streaming.sessionAgg, // i11
      "chained" -> operators.Streaming.chainedAgg, // i20
      "dedup" -> operators.Streaming.dedupWithinWatermark, // i16
      "left_join" -> operators.Streaming.clickPurchaseLeftJoin) // i15
    val n = 2
    for ((label, stage) <- stages) {
      val (peakN, removedN) = run(label, stage, n)
      val (peak2N, removed2N) = run(label, stage, 2 * n)
      assert(removedN > 0 && removed2N > 0,
        s"$label: the watermark never evicted state ($removedN, $removed2N)")
      assert(peak2N <= peakN,
        s"$label: peak state grew with stream length: $peakN rows at $n slices, " +
          s"$peak2N at ${2 * n}")
    }
  }

  test("i3 session agg runs Append on the RocksDB state store provider") {
    // fresh session: the provider class is read from the session conf at
    // query start, and we must not leak it into the shared TestSpark conf
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = operators.Streaming.sessionAgg(input.toDF().toDF("ts", "user_id"))
    val q = agg.writeStream.format("memory").queryName("i3_rocksdb")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart = one session; user 2: one event
      input.addData(ts("2024-01-01 10:00:00") -> 1L,
        ts("2024-01-01 10:10:00") -> 1L, ts("2024-01-01 10:00:00") -> 2L)
      q.processAllAvailable()
      // advance watermark past the session gaps so sessions finalize
      input.addData(ts("2024-01-01 12:00:00") -> 9L)
      q.processAllAvailable()
      val out = s2.table("i3_rocksdb")
        .select(col("user_id"), col("n_events"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(1L -> 2L, 2L -> 1L), s"got $out")
      // prove the query really ran on RocksDB, not the default HDFS-backed
      // in-memory provider: RocksDB-specific custom metrics are reported
      val custom = q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet.toArray.map(_.toString))
      assert(custom.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb metrics in ${custom.mkString(",")}")
    } finally { q.stop(); s2.streams.resetTerminated() }
  }

  test("i11 Append sessions == i3 Complete sessions restricted to the watermark horizon") {
    val all = SparkEntry.queries("i3_stream_session_window")(spark, sfTiny)
      .collect().map(_.toSeq)
    val appended = SparkEntry.queries("i11_stream_session_append")(spark, sfTiny)
      .collect().map(_.toSeq).toSet
    // final watermark = (floor(max_us/1000) − 30 min) ms; a session's
    // window end is its last event + the 30-min gap (i11's oracle cut)
    val maxUs = all.map(_(3).asInstanceOf[Long]).max
    val horizonUs = (maxUs / 1000L - 1800000L) * 1000L
    val expected = all.filter(r =>
      r(3).asInstanceOf[Long] + 1800000000L <= horizonUs).toSet
    assert(appended == expected,
      s"Append emitted ${appended.size} sessions, horizon cut expects ${expected.size}")
    assert(expected.size < all.length,
      "fixture degenerate: every session finalized — the cut pins nothing")
  }

  test("i3 streaming session windows == e9 batch sessionization") {
    val stream = SparkEntry.queries("i3_stream_session_window")(spark, sfTiny)
      .select("user_id", "n_events", "sess_start_us", "sess_end_us")
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("e9_win_sessionize")(spark, sfTiny)
      .select("user_id", "n_events", "sess_start_us", "sess_end_us")
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("i5 final flatMapGroupsWithState state == batch groupBy") {
    val stream = SparkEntry.queries("i5_stream_stateful_running")(spark, sfTiny)
      .collect().map(_.toSeq).toSet
    val batch = graft.Tables.t(spark, sfTiny, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"), max(col("value")).as("max_value"))
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("i7 late-data demo runs and emits only finalized windows") {
    val out = SparkEntry.queries("i7_stream_late_data")(spark, sfTiny)
    assert(out.count() > 0)
  }

  test("i9/i12 share ONE tumbling-Append run; the memo rebinds on file change") {
    // pin the r17 shared-run memo contract: (1) both consumers' plans scan
    // the SAME memory-sink table (one streaming session, two keys), and
    // (2) the memo key binds the events file's length+mtime signature, so
    // an in-place regeneration (the r12 µs/ns hazard) starts a FRESH run
    // instead of serving the stale table (the r16 ADVICE fix)
    val dir = graft.Tables.scratch(spark, sfTiny, "i9_memo_spec")
    cleaning(dir) {
      new java.io.File(dir).mkdirs()
      val src = java.nio.file.Paths.get(s"$sfTiny/events.parquet")
      val dst = java.nio.file.Paths.get(s"$dir/events.parquet")
      java.nio.file.Files.copy(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      def memTable(key: String): String = {
        val plan = SparkEntry.queries(key)(spark, dir)
          .queryExecution.analyzed.toString
        "graft_stream_\\d+".r.findFirstIn(plan).getOrElse(
          fail(s"$key: no memory-sink table in the analyzed plan:\n$plan"))
      }
      val n9 = memTable("i9_stream_tumbling_append")
      val n12 = memTable("i12_stream_drift")
      assert(n9 == n12,
        s"i9 ($n9) and i12 ($n12) must consume the same shared streaming run")
      // simulate an in-place regeneration: same bytes, different mtime ⇒
      // different file signature ⇒ the memo must NOT serve the old table
      assert(dst.toFile.setLastModified(dst.toFile.lastModified + 10000L))
      val n9b = memTable("i9_stream_tumbling_append")
      assert(n9b != n9,
        "the shared-run memo served a stale table after the events file changed")
      // r19 eviction cleanup (r18 ADVICE): the superseded run's checkpoint
      // scratch dir must be DELETED (tmpfs is RAM) and its memory-sink temp
      // view dropped, not left to accumulate within the session
      val oldCkpt = new java.io.File(Tables.scratch(spark, n9, "ckpt"))
      assert(!oldCkpt.exists(),
        s"superseded shared-run checkpoint dir leaked: $oldCkpt")
      assert(!spark.catalog.tableExists(n9),
        s"superseded memory-sink table leaked: $n9")
    }
  }

  test("i17 transformWithState: state continues across batches on RocksDB") {
    // fresh session — transformWithState REQUIRES the RocksDB provider
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val input = MemoryStream[(Long, Long, Long)] // (user, uval, ts_us)
    val out = input.toDS().groupByKey(_._1)
      .transformWithState(new operators.Streaming.RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "cnt", "sum_uval", "max_ts_us")
    val q = out.writeStream.format("memory").queryName("i17_continuity")
      .outputMode("update").start()
    try {
      input.addData((1L, 10L, 100L), (1L, -4L, 50L), (2L, 7L, 30L))
      q.processAllAvailable()
      input.addData((1L, 5L, 200L)) // batch 2: state must CONTINUE, not reset
      q.processAllAvailable()
      val last = s2.table("i17_continuity")
        .groupBy("user_id")
        .agg(max(struct(col("cnt"), col("sum_uval"), col("max_ts_us"))).as("x"))
        .collect().map(r => r.getLong(0) -> r.getStruct(1).toSeq).toMap
      assert(last(1L) == Seq(3L, 11L, 200L), s"user 1 got ${last(1L)}")
      assert(last(2L) == Seq(1L, 7L, 30L), s"user 2 got ${last(2L)}")
      val custom = q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet.toArray.map(_.toString))
      assert(custom.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb metrics in ${custom.mkString(",")}")
    } finally { q.stop(); s2.streams.resetTerminated() }
  }

  test("i29 initial state: the seeded snapshot resumes, unseeded keys start fresh") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    // snapshot: user 1 has folded (cnt=2, sum=10, max_ts=90) "history";
    // user 3 is seeded but never streams (must stay silent in Update mode)
    val snapshot = Seq((1L, (2L, 10L, 90L)), (3L, (5L, 50L, 70L)))
      .toDS().groupByKey(_._1).mapValues(_._2)
    val input = MemoryStream[(Long, Long, Long)] // (user, uval, ts_us)
    val out = input.toDS().groupByKey(_._1)
      .transformWithState(new operators.Streaming.InitRunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(), snapshot)
      .toDF("user_id", "cnt", "sum_uval", "max_ts_us")
    val q = out.writeStream.format("memory").queryName("i29_init")
      .option("checkpointLocation", Tables.scratch(s2, "i29init", "ckpt"))
      .outputMode("update").start()
    try {
      input.addData((1L, 5L, 200L), (2L, 7L, 30L))
      q.processAllAvailable()
      input.addData((1L, 1L, 150L)) // batch 2: seeded state continues further
      q.processAllAvailable()
      val last = s2.table("i29_init")
        .groupBy("user_id")
        .agg(max(struct(col("cnt"), col("sum_uval"), col("max_ts_us"))).as("x"))
        .collect().map(r => r.getLong(0) -> r.getStruct(1).toSeq).toMap
      // user 1: snapshot (2,10,90) + stream rows → (4, 16, 200)
      assert(last(1L) == Seq(4L, 16L, 200L), s"user 1 got ${last(1L)}")
      // user 2: no snapshot → fresh fold
      assert(last(2L) == Seq(1L, 7L, 30L), s"user 2 got ${last(2L)}")
      // user 3: seeded, never streamed → no emission in Update mode
      assert(!last.contains(3L), s"snapshot-only user 3 emitted: ${last.get(3L)}")
    } finally { q.stop(); s2.streams.resetTerminated() }
  }

  test("i18 timers: sessions emit exactly when the watermark passes end+gap") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z, µs
    def ts(min: Long) = new Timestamp((t0 + min * 60000000L) / 1000L)
    def us(min: Long) = t0 + min * 60000000L
    val input = MemoryStream[(Long, Timestamp)]
    val out = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new operators.Streaming.SessionTimerProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "n_events", "sess_start_us", "sess_end_us")
    val q = out.writeStream.format("memory").queryName("i18_timers")
      .option("checkpointLocation", Tables.scratch(s2, "i18t", "ckpt"))
      .outputMode("append").start()
    try {
      def emitted() = s2.table("i18_timers").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      input.addData((1L, ts(0)), (1L, ts(5)), (2L, ts(0)))
      q.processAllAvailable()
      // watermark after batch 1 is 5min − 30min → nothing can be final
      assert(emitted().isEmpty, s"premature emission: ${emitted()}")
      input.addData((1L, ts(120)))
      q.processAllAvailable()
      input.addData((2L, ts(200)))
      q.processAllAvailable()
      // the 200-min event set the watermark to 170 min: both 0-min
      // sessions (end+gap 35/30 min) and u1's 120-min singleton (150 min)
      // are now final; u2's 200-min singleton (230 min) must still pend
      assert(emitted() == Set((1L, 2L, us(0), us(5)), (2L, 1L, us(0), us(0)),
        (1L, 1L, us(120), us(120))),
        s"wrong finalized set: ${emitted()}")
      // pending state emits once a later event pushes the watermark past
      // its end+gap — and the new tail pends in its place
      input.addData((2L, ts(1000)))
      q.processAllAvailable()
      assert(emitted().contains((2L, 1L, us(200), us(200))),
        s"u2's 200-min session never emitted: ${emitted()}")
      assert(!emitted().exists(_._3 == us(1000)),
        s"the open tail must not emit: ${emitted()}")
    } finally { q.stop(); s2.streams.resetTerminated() }
  }

  test("i19 upsert: a 2-batch split folds to the same store as one batch") {
    val s2 = spark.newSession()
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val store = Tables.scratch(s2, "i19spec", "store")
    val input = MemoryStream[(Long, Long, Long, Double)] // user, event, ts_us, value
    val q = input.toDF().toDF("user_id", "event_id", "ts_us", "value")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        operators.Streaming.upsertBatch(s2, store, b, id)
      }
      .option("checkpointLocation", Tables.scratch(s2, "i19spec", "ckpt"))
      .start()
    try {
      // batch 0: user 1 has an early event, user 2 its only event
      input.addData((1L, 10L, 100L, 1.5), (2L, 11L, 50L, 2.5))
      q.processAllAvailable()
      // batch 1: user 1's later event must WIN; user 3 is new; an
      // out-of-order OLDER event for user 2 must LOSE to the stored row
      input.addData((1L, 12L, 200L, 9.5), (3L, 13L, 10L, 4.5), (2L, 9L, 40L, 0.5))
      q.processAllAvailable()
      val vs = new java.io.File(store).list().filter(_.startsWith("v")).sorted
      assert(vs.sameElements(Array("v0", "v1")), s"versions: ${vs.mkString(",")}")
      val fin = s2.read.parquet(s"$store/v1")
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(fin == Map(1L -> (12L, 9.5), 2L -> (11L, 2.5), 3L -> (13L, 4.5)),
        s"store after 2-batch fold: $fin")
    } finally { q.stop(); s2.streams.resetTerminated() }
  }

  test("i24 dual sink: replay and crash-between-writes both heal to a consistent pair") {
    import spark.implicits._
    val log = Tables.scratch(spark, "i24spec", "log")
    val agg = Tables.scratch(spark, "i24spec", "agg")
    def apply(id: Long, rows: (Long, String, Long)*): Unit =
      operators.Streaming.dualSinkBatch(spark, log, agg,
        rows.toDF("event_id", "event_type", "user_id"), id)
    def state(): (Map[String, Long], Map[String, Long]) = {
      val l = spark.read.parquet(s"$log/v*").groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val vs = new java.io.File(agg).list().filter(_.startsWith("v"))
        .map(_.drop(1).toLong)
      val a = spark.read.parquet(s"$agg/v${vs.max}")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (l, a)
    }
    apply(0L, (1L, "a", 1L), (2L, "a", 2L))
    apply(1L, (3L, "a", 1L), (4L, "b", 2L))
    val healthy = state()
    assert(healthy == (Map("a" -> 3L, "b" -> 1L), Map("a" -> 3L, "b" -> 1L)),
      s"2-batch fold wrong: $healthy")
    // REPLAY batch 1 verbatim (at-least-once delivery): both stores must
    // re-land the same versions — nothing double-counts
    apply(1L, (3L, "a", 1L), (4L, "b", 2L))
    assert(state() == healthy, "replay changed the pair")
    // CRASH between the two writes: simulate by deleting the aggregate's
    // v1 (the log's v1 landed, the agg write "crashed") — the recovery
    // replay of batch 1 must rebuild the aggregate from v0 + the batch
    Tables.deleteRec(new java.io.File(s"$agg/v1"))
    apply(1L, (3L, "a", 1L), (4L, "b", 2L))
    assert(state() == healthy, "crash-between-writes replay did not heal")
  }

  test("stateful rescale contract: a restart keeps the checkpoint's state partition count, ignoring a changed conf") {
    // the ops contract behind every stateful key's partition sizing
    // (SURVEY §7.5 / the r10 stateParts rule): the state store's
    // partition count is fixed by spark.sql.shuffle.partitions at the
    // query's FIRST run and recorded in the checkpoint's offset log —
    // a restart under a DIFFERENT conf silently keeps the original
    // count (it does not fail and does not rescale). Rescaling state
    // means an offline state rebuild, not a conf change; this pin makes
    // the engine's behavior visible instead of folklore.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "3")
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val input = MemoryStream[Long]
    val ckpt = TestSpark.tmpDir("graft_rescale_ckpt")
    // foreachBatch sink: the memory sink refuses checkpoint recovery
    // (the i23 finding), and this test exists to RESTART from the
    // checkpoint
    def start() = input.toDF().toDF("v").groupBy("v").count()
      .writeStream.foreachBatch(
        // must CONSUME every partition: Spark 4 validates all state
        // stores committed per batch (a foreachBatch that skips
        // partitions fails STATE_STORE_COMMIT_VALIDATION)
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
          df.count(): Unit
        })
      .option("checkpointLocation", ckpt).outputMode("update").start()
    val q1 = start()
    val parts1 = try {
      input.addData(1L, 2L, 3L)
      q1.processAllAvailable()
      q1.lastProgress.stateOperators.head.numShufflePartitions
    } finally q1.stop()
    assert(parts1 == 3L, s"first run must create 3 state partitions, got $parts1")
    // restart under a different conf — the checkpoint must win
    s2.conf.set("spark.sql.shuffle.partitions", "7")
    val q2 = start()
    val parts2 = try {
      input.addData(4L, 5L)
      q2.processAllAvailable()
      q2.lastProgress.stateOperators.head.numShufflePartitions
    } finally { q2.stop(); s2.streams.resetTerminated() }
    assert(parts2 == 3L,
      s"restart rescaled state partitions to $parts2 — the checkpoint's 3 must win")
  }

  test("transformWithState state-schema evolution: an avro-encoded restart adds an optional state field") {
    // the r15-starter question answered by measurement: with
    // spark.sql.streaming.stateStore.encodingFormat=avro, a restarted
    // StatefulProcessor whose state type gained an Option field decodes
    // v1-written state with the new field defaulted — the upgrade path
    // that ships a new feature without an offline state rebuild (the
    // default unsaferow encoding refuses this with a schema-compat
    // error; the rescale-contract test above pins the sibling
    // partition-count invariant).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set("spark.sql.streaming.stateStore.encodingFormat", "avro")
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val ckpt = TestSpark.tmpDir("graft_evo_ckpt")
    val input = MemoryStream[(Long, Long)]
    val q1 = input.toDS().groupByKey(_._1)
      .transformWithState(new EvoV1Processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("k", "cnt", "sum")
      .writeStream.foreachBatch(
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
          df.count(): Unit
        })
      .option("checkpointLocation", ckpt).outputMode("update").start()
    try {
      input.addData((1L, 5L), (1L, 7L), (2L, 3L))
      q1.processAllAvailable()
    } finally q1.stop()
    val got = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q2 = input.toDS().groupByKey(_._1)
      .transformWithState(new EvoV2Processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("k", "cnt", "sum", "maxv")
      .writeStream.foreachBatch(
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
          got.synchronized {
            got ++= df.collect().map(_.toSeq.map(_.asInstanceOf[Long]))
          }: Unit
        })
      .option("checkpointLocation", ckpt).outputMode("update").start()
    try {
      input.addData((1L, 10L))
      q2.processAllAvailable()
    } finally { q2.stop(); s2.streams.resetTerminated() }
    // cnt/sum carried over from the v1 state; maxv defaulted then updated
    assert(got.contains(Seq(1L, 3L, 22L, 10L)),
      s"evolved state did not carry v1 values with the new field defaulted: $got")
  }

  test("i25 CDF resume: a restarted feed emits only versions committed after the checkpoint") {
    val root = TestSpark.tmpDir("graft_cdf")
    val tbl = new java.io.File(root, "t"); tbl.mkdirs()
    java.nio.file.Files.write(new java.io.File(tbl, "part-0-1-2.csv").toPath,
      java.util.Arrays.asList("1,a,1.5", "2,b,2.5"))
    val cat = Tables.catalog(spark, "cdf_spec", classOf[graft.sources.CowDeleteCatalog], root)
    graft.sources.CowVersions.enable(tbl) // v0
    spark.sql(s"DELETE FROM $cat.t WHERE k = 1") // v1
    spark.sql(s"INSERT INTO $cat.t VALUES (5, 'x', 1.0)") // v2
    val ckpt = TestSpark.tmpDir("graft_cdf_ckpt")
    def drain(): Seq[(String, Long, Long)] = {
      val got = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      val q = spark.readStream.format("graft.sources.CowChangeFeed")
        .option("table", tbl.getAbsolutePath).load()
        .writeStream.foreachBatch(
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
            got.synchronized {
              got ++= df.collect().map(r =>
                (r.getString(0), r.getLong(1), r.getLong(2)))
            }: Unit
          })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSeq.sorted
    }
    assert(drain() == Seq(("D", 1L, 1L), ("I", 2L, 5L)),
      "first drain must emit exactly the v1 delete and the v2 insert")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 2") // v3, after the checkpoint
    assert(drain() == Seq(("D", 3L, 2L)),
      "resumed drain must emit ONLY the post-checkpoint version")
  }

  test("i28 MoR CDF resume: a restarted feed emits only post-checkpoint versions; a checkpoint below the compaction floor refuses") {
    val root = TestSpark.tmpDir("graft_mcdf")
    val tbl = new java.io.File(root, "t"); tbl.mkdirs()
    java.nio.file.Files.write(new java.io.File(tbl, "part-0-1-2.csv").toPath,
      java.util.Arrays.asList("1,a,1.5", "2,b,2.5"))
    val cat = Tables.catalog(spark, "mcdf_spec", classOf[graft.sources.MorDeltaCatalog], root)
    spark.sql(s"DELETE FROM $cat.t WHERE k = 1")                 // v1
    spark.sql(s"UPDATE $cat.t SET total = 9.0 WHERE k = 2")     // v2
    val ckpt = TestSpark.tmpDir("graft_mcdf_ck")
    def drain(): Seq[(String, Long, Long)] = {
      val got = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      val q = spark.readStream.format("graft.sources.MorChangeFeed")
        .option("table", tbl.getAbsolutePath).load()
        .writeStream.foreachBatch(
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
            got.synchronized {
              got ++= df.collect().map(r =>
                (r.getString(0), r.getLong(1), r.getLong(2)))
            }: Unit
          })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSeq.sorted
    }
    assert(drain() == Seq(("D", 1L, 1L), ("U", 2L, 2L)),
      "first drain must emit exactly the delta-log ops, in version order")
    spark.sql(s"INSERT INTO $cat.t VALUES (7, 'z', 3.0)")       // v3
    assert(drain() == Seq(("I", 3L, 7L)),
      "resumed drain must emit ONLY the post-checkpoint version")
    // compact past the checkpoint: v4 commits, then everything folds —
    // the consumer's next drain must fail loudly, not skip silently
    spark.sql(s"DELETE FROM $cat.t WHERE k = 7")                // v4
    graft.sources.MorCompaction.compact(tbl)
    assert(graft.sources.MorDeltas.compactedSeq(tbl) == 4L)
    assert(scala.util.Try(drain()).isFailure,
      "a checkpoint below the compaction floor must refuse, not skip")
  }

  test("i26 IVM apply: a replayed CDC batch re-lands its own version without double-applying") {
    import spark.implicits._
    val store = Tables.scratch(spark, "i26spec", "view")
    def batch(rows: (String, Long, Long, String, Double)*) =
      rows.toDF("op", "version", "k", "st", "total")
    // bootstrap (v-1) + batch 0
    Seq(("x", 2L, 300L)).toDF("st", "n_rows", "sum_cents")
      .write.mode("overwrite").parquet(s"$store/v-1")
    val b0 = batch(("D", 1L, 1L, "x", 1.0), ("I", 2L, 5L, "y", 2.0))
    operators.Streaming.cdfApplyBatch(spark, store, b0, 0L)
    def state(): Map[String, (Long, Long)] =
      spark.read.parquet(s"$store/v0").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val healthy = state()
    assert(healthy == Map("x" -> (1L, 200L), "y" -> (1L, 200L)), s"got $healthy")
    // at-least-once replay: identical batch, identical store version
    operators.Streaming.cdfApplyBatch(spark, store, b0, 0L)
    assert(state() == healthy, "replayed batch double-applied")
  }

  test("i17 TTL: a short-TTL ValueState expires between emissions") {
    // state TTL is a PROCESSING-TIME contract — the engine requires
    // TimeMode.ProcessingTime for any non-NONE TTLConfig. In that mode a
    // TWS query fires micro-batches CONTINUOUSLY (processing time must
    // advance for TTL/timers), so neither processAllAvailable nor
    // AvailableNow ever quiesces — the test instead POLLS the memory
    // sink for each emission and stops the query explicitly.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val input = MemoryStream[Long]
    val out = input.toDS().groupByKey(identity)
      .transformWithState(new TtlCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("key", "cnt")
    val q = out.writeStream.format("memory").queryName("i17_ttl")
      .option("checkpointLocation", Tables.scratch(s2, "i17ttl", "ckpt"))
      .outputMode("update").start()
    try {
      def rowsWithin(n: Int, ms: Long): Seq[Long] = {
        val deadline = System.currentTimeMillis + ms
        var rows = Seq.empty[Long]
        while (rows.size < n && System.currentTimeMillis < deadline) {
          Thread.sleep(50)
          rows = s2.table("i17_ttl").collect().map(_.getLong(1)).toSeq
        }
        rows
      }
      input.addData(1L)
      assert(rowsWithin(1, 60000) == Seq(1L))
      Thread.sleep(500) // 1 ms TTL: the batch-1 state is long expired
      input.addData(1L)
      // a non-TTL state would resume at cnt = 2 (exactly what the
      // continuity test above pins); the expired state restarts at 1
      val rows = rowsWithin(2, 60000)
      assert(rows == Seq(1L, 1L), s"TTL state must have expired: got $rows")
    } finally { q.stop(); s2.streams.resetTerminated() }
  }

  test("i17 final transformWithState state == batch groupBy") {
    val stream = SparkEntry.queries("i17_stream_transform_state")(spark, sfTiny)
      .collect().map(_.toSeq).toSet
    val batch = graft.Tables.t(spark, sfTiny, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1e6 + 0.5).cast("long")).as("sum_uval"),
        max(unix_micros(col("ts"))).as("max_ts_us"))
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("foreachBatch upsert sink keeps last-wins compaction across batches") {
    // the reference's warehouse MERGE loop in streaming form: each micro
    // batch is merged into a parquet target with last-write-wins per key
    // (j12's kernel applied incrementally). Without a lakehouse format the
    // merge is read-merge-overwrite; the existing snapshot is eagerly
    // localCheckpoint'd so overwriting the directory being read is safe.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val target = s"${Tables.scratch(spark, "upsert_fixture", "sink")}/t"
    val input = MemoryStream[(Long, Long, String)]
    val q = input.toDF().toDF("k", "ts", "v").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val existing =
          // ONLY path-not-found means "first batch"; any other read error
          // (corrupt snapshot, schema mismatch) must surface, not silently
          // reset the target to empty
          try spark.read.parquet(target)
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getCondition == "PATH_NOT_FOUND" => batch.limit(0)
          }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy(col("ts").desc)
        val merged = existing.union(batch)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .localCheckpoint(true) // materialize BEFORE overwriting the source dir
        merged.write.mode("overwrite").parquet(target)
      }
      .start()
    try {
      input.addData((1L, 10L, "a"), (2L, 10L, "b"))
      q.processAllAvailable()
      input.addData((1L, 20L, "a2"), (3L, 5L, "c")) // k=1 updated, k=3 new
      q.processAllAvailable()
      val got = spark.read.parquet(target)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got == Map(1L -> "a2", 2L -> "b", 3L -> "c"), s"got $got")
    } finally q.stop()
  }

  test("a11 source: checkpoint resume re-emits nothing (exactly-once)") {
    // the offset contract's other half (the in-query require pins rate
    // limiting): a NEW query on the SAME checkpoint deserializes the
    // committed offset, finds latestOffset == committed, and must emit
    // zero new rows — the restart shape of every production streaming
    // read. File sink, not memory: the memory sink refuses checkpoint
    // recovery by design, so the restart leg must ride a durable sink.
    val base = Tables.scratch(spark, "a11_resume", "dirs")
    def run(): Long = {
      val q = spark.readStream.format("graft.sources.RangeSource")
        .option("start", 0).option("end", 1000).option("slices", 2)
        .option("maxRowsPerTrigger", 300).load()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$base/out").count()
    }
    assert(run() == 1000L)
    assert(run() == 1000L,
      "restart from a committed checkpoint re-emitted rows")
  }

  test("foreachBatch + MergeSql: streaming MERGE INTO with a staleness guard") {
    // the production Delta-style loop, driven by REAL MERGE SQL text: each
    // micro-batch is compacted last-wins within itself, then merged into
    // the snapshot through plans.MergeSql — the conditional matched action
    // (s.ts >= t.ts) is the staleness guard that read-merge-overwrite
    // loops hand-roll; a stale late row must leave the target unchanged.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val target = s"${Tables.scratch(spark, "merge_stream_fixture", "sink")}/t"
    val input = MemoryStream[(Long, Long, String)]
    val q = input.toDF().toDF("k", "ts", "v").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // everything rides the BATCH's session: foreachBatch hands the
        // frame to a micro-batch session clone with its own temp-view
        // catalog, so views + MergeSql + reads must agree on one session
        val bs = batch.sparkSession
        val existing =
          try bs.read.parquet(target)
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getCondition == "PATH_NOT_FOUND" => batch.limit(0)
          }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy(col("ts").desc)
        batch.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .createOrReplaceTempView("ms_stream_delta")
        existing.createOrReplaceTempView("ms_stream_target")
        val merged = graft.plans.MergeSql.mergeResult(bs,
          """MERGE INTO ms_stream_target AS t USING ms_stream_delta AS s
             ON t.k = s.k
             WHEN MATCHED AND s.ts >= t.ts THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")
          .localCheckpoint(true) // materialize BEFORE overwriting the source dir
        merged.write.mode("overwrite").parquet(target)
      }
      .start()
    try {
      input.addData((1L, 10L, "a"), (2L, 10L, "b"))
      q.processAllAvailable()
      // k=1 fresh update wins; k=3 inserts; k=2's STALE row (ts 5 < 10)
      // must not fire the guarded action — target row survives unchanged
      input.addData((1L, 20L, "a2"), (3L, 5L, "c"), (2L, 5L, "stale"))
      q.processAllAvailable()
      val got = spark.read.parquet(target)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == Set((1L, 20L, "a2"), (2L, 10L, "b"), (3L, 5L, "c")), s"got $got")
    } finally q.stop()
  }

  test("checkpointed incremental ETL: file sink resumes exactly-once after restart") {
    // the reference's core loop (SURVEY §0.1): extract new rows, dedup,
    // load, persist the checkpoint, repeat — in Spark-native form this is
    // readStream -> dropDuplicates -> parquet sink + checkpointLocation.
    // Restarting the query against the SAME checkpoint must not re-emit
    // rows already committed to the sink, even though the input directory
    // still contains every file.
    import spark.implicits._
    val base = Tables.scratch(spark, "etl_restart_fixture", "ckpt_etl")
    val (in, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    def addBatch(ids: Range): Unit =
      ids.map(i => (i.toLong, ts(s"2024-01-01 10:${"%02d".format(i % 60)}:00")))
        .toDF("event_id", "ts")
        .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("event_id", org.apache.spark.sql.types.LongType)
          .add("ts", org.apache.spark.sql.types.TimestampType))
        .parquet(in)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("event_id")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addBatch(0 until 10)
    runOnce() // run 1 commits ids 0-9 and records progress in the checkpoint
    assert(spark.read.parquet(outDir).count() == 10)
    addBatch(10 until 15)
    runOnce() // run 2 must process ONLY the new file
    val out = spark.read.parquet(outDir).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == (0L until 15L),
      s"restart re-emitted or dropped rows: ${out.mkString(",")}")
  }

  test("i20 chained aggs: both levels finalize in one commit once the watermark passes") {
    // the multiple-stateful-operators contract AvailableNow over one file
    // cannot show: the hourly window must NOT emit while its 10-min slots
    // are still open, and when the watermark passes the hour's end the
    // slot finalization and the hourly emission cascade in the SAME
    // batch (per-operator watermark propagation), not one batch apart.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = operators.Streaming.chainedAgg(
      input.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("i20_chain")
      .outputMode("append").start()
    try {
      input.addData(
        ts("2024-01-01 10:05:00") -> "click", // slot 10:00
        ts("2024-01-01 10:07:00") -> "click", // slot 10:00
        ts("2024-01-01 10:25:00") -> "click", // slot 10:20
        ts("2024-01-01 10:45:00") -> "view")  // slot 10:40
      q.processAllAvailable()
      assert(spark.table("i20_chain").count() == 0,
        "hour 10:00 emitted before its watermark passed")
      // 12:00 → watermark 11:00 → hour 10:00 finalizes: its slots emit
      // from level 1 and the hourly rollup emits from level 2, same batch
      input.addData(ts("2024-01-01 12:00:00") -> "click")
      q.processAllAvailable()
      val out = spark.table("i20_chain")
        .select(col("window.start").cast("string"), col("event_type"),
          col("total"), col("n_slots"), col("max_slot"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(out == Map(
        ("2024-01-01 10:00:00", "click") -> ((3L, 2L, 2L)),
        ("2024-01-01 10:00:00", "view") -> ((1L, 1L, 1L))),
        s"unexpected hourly rollup: $out")
      // both levels evicted their finalized state in that commit
      val st = q.lastProgress.stateOperators
      assert(st.length == 2, s"expected 2 stateful operators, got ${st.length}")
      assert(st.map(_.numRowsRemoved).sum >= 4,
        s"expected slot+hour eviction, got ${st.map(_.numRowsRemoved).mkString(",")}")
    } finally q.stop()
  }
}

/** State-schema-evolution probe (the r15-starter question, answered):
  * v1 keeps (cnt, sum); v2 adds an OPTIONAL maxv field. Under the avro
  * state encoding the restart must decode v1-written state with the new
  * field defaulted — the upgrade path a stateful job needs to ship a new
  * feature without an offline state rebuild. */
case class EvoStateV1(cnt: Long, sum: Long)
case class EvoStateV2(cnt: Long, sum: Long, maxv: Option[Long])

class EvoV1Processor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
  @transient private var st: ValueState[EvoStateV1] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[EvoStateV1]("agg",
      org.apache.spark.sql.Encoders.product[EvoStateV1], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    val vs = rows.map(_._2).toSeq
    val prev = if (st.exists()) st.get() else EvoStateV1(0L, 0L)
    val next = EvoStateV1(prev.cnt + vs.size, prev.sum + vs.sum)
    st.update(next)
    Iterator((key, next.cnt, next.sum))
  }
}

class EvoV2Processor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
  @transient private var st: ValueState[EvoStateV2] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[EvoStateV2]("agg",
      org.apache.spark.sql.Encoders.product[EvoStateV2], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    val vs = rows.map(_._2).toSeq
    val prev = if (st.exists()) st.get() else EvoStateV2(0L, 0L, None)
    val next = EvoStateV2(prev.cnt + vs.size, prev.sum + vs.sum,
      Some(math.max(prev.maxv.getOrElse(Long.MinValue), vs.max)))
    st.update(next)
    Iterator((key, next.cnt, next.sum, next.maxv.get))
  }
}

/** i17 TTL-contract probe: a per-key counter whose ValueState carries a
  * 1 ms TTL — any state read in a later batch (the spec sleeps 500 ms)
  * must see the value expired and restart from zero. */
class TtlCountProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, Long, (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
  @transient private var st: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[Long]("cnt",
      org.apache.spark.sql.Encoders.scalaLong,
      TTLConfig(java.time.Duration.ofMillis(1)))
  override def handleInputRows(key: Long, rows: Iterator[Long],
      timers: TimerValues): Iterator[(Long, Long)] = {
    val cnt = (if (st.exists()) st.get() else 0L) + rows.size
    st.update(cnt)
    Iterator((key, cnt))
  }
}
