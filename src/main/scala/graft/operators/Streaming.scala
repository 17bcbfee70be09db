package graft.operators

import graft.Tables._
import graft.functions.TextFunctions.words
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, OutputMode, StatefulProcessor,
  StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues,
  Trigger, ValueState}
import org.apache.spark.sql.types._
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** SURVEY.md §2.I — Structured Streaming over the `events` stream table.
  *
  * Execution pattern (§2.I preamble): `readStream.schema(...).parquet(dir)`
  * → transform → `writeStream.format("memory")` with
  * `Trigger.AvailableNow()` → `awaitTermination()` → return the memory
  * table. This runs the REAL micro-batch engine (stateful operators, state
  * store, watermarks) yet yields a deterministic batch-comparable result,
  * so i1–i6 and i8–i10 are oracled with plain batch SQL. Multi-batch / late-data
  * semantics are additionally unit-tested with `MemoryStream` (§5), since
  * AvailableNow over a single parquet file is one data batch (plus the
  * no-data batch that advances the watermark).
  *
  * Output-mode choices: windowed aggregations (i1/i2/i3/i6) run in
  * Complete mode — Append would hold back every window newer than
  * `max(ts) - watermark`, which can never match a batch oracle over the
  * full table. Complete keeps all windows in the state store, fine for
  * aggregate-sized state; the Append/watermark eviction path is oracled
  * first-class by i9 (the watermark-horizon cut IS batch-expressible) and
  * further exercised by i7 (micro-batch-boundary semantics, unoracled by
  * design) and the MemoryStream specs.
  *
  * Scale notes: streaming aggregation state is hash-partitioned by the
  * grouping key across `spark.sql.shuffle.partitions` state stores —
  * the same shuffle layout the batch groupBy uses. The stream-static join
  * (i6) broadcasts the dim side, so the stream never shuffles. i5's
  * per-user state is a 16-byte struct per key — the flatMapGroupsWithState
  * pattern that replaces the reference's imperative incremental loaders.
  */
object Streaming {

  /** memory-sink table names must be unique per started query within a
    * session (Verify and Bench both invoke each op in one session). */
  private val runSeq = new AtomicLong(0)

  /** Streaming STATE partition count for every streaming key, sized to
    * the data (8 ≈ 12.5 k events each at sf0.1), not the host's cores.
    * Measured: 4 partitions run ~6% slower than 8 on the aggregation
    * keys and 16 ties 8 — the per-query fixed cost is source listing,
    * the no-data watermark batch and the sink commit, not the
    * per-partition store open/commit. Results are partition-count-
    * invariant. */
  private[graft] val stateParts = 8
  private val stateConf = "spark.sql.shuffle.partitions" -> stateParts.toString
  private val rocksConf = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** SCHEMA-ADAPTIVE streaming source (mirrors [[graft.Tables.events]]):
    * streaming sources require an explicit schema, so probe the actual
    * file footer with a one-off batch read (footer-only IO) and declare
    * exactly what it reports. Under that schema ts arrives either as a
    * real `TimestampType` (µs files — pass through) or as a raw ns
    * `LongType` (legacy TIMESTAMP(NANOS) files read under the
    * `nanosAsLong` session conf — floor-truncate to µs). Hard-coding
    * either encoding is the r12 failure mode: the µs regeneration read
    * through a declared ns-long schema silently collapsed every
    * timestamp ~1000× toward the epoch and broke all 10 streaming keys. */
  /** Footer-probe memo: the physical schema of `$d/events.parquet` is a
    * pure function of the file, and every i-key's every bench run was
    * re-listing + re-reading the footer just to learn it (≈20 i-keys ×
    * N passes of pure fixed cost). The entry binds the file's
    * [[graft.Tables.contentSig]] signature (one stat + an 8 KiB boundary
    * read per call — r19: content-strengthened with the other source-
    * bound caches, since a same-length same-millisecond regeneration
    * that flips the ts ENCODING is precisely the drift this probe
    * guards) INSIDE the value, keyed by dir — the value-embedded-
    * signature idiom shared with tumblingAppendCache/frameCache (r19
    * ADVICE: a signature-in-the-key memo grows an entry per in-place
    * regeneration and never evicts the stale ones) — so an in-place
    * regeneration of events.parquet during a live session (the r12
    * µs/ns hazard this footer probe exists to catch) REPLACES the memo
    * instead of serving the stale encoding silently. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, StructType)]()

  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val f = new java.io.File(s"$d/events.parquet")
    val sig = contentSig(f)
    val fileSchema = schemaCache.compute((s, d), { (_, old) =>
      if (old != null && old._1 == sig) old
      else (sig, s.read.parquet(s"$d/events.parquet").schema)
    })._2
    val raw = s.readStream.schema(fileSchema)
      // events.parquet is a single FILE: a non-glob path makes
      // FileStreamSource force basePath to the file itself (then reject it
      // as "must be a directory"), so address it via a glob and anchor
      // basePath at the table dir
      .option("basePath", d)
      .parquet(s"$d/events.parquet*")
    fileSchema("ts").dataType match {
      case _: TimestampType => raw
      // un-annotated timestamp[us] infers as TIMESTAMP_NTZ; cast to
      // TimestampType (µs-exact under the pinned UTC session tz) so every
      // downstream watermark/window sees the one canonical type
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => sys.error(
        s"events.ts: unsupported physical encoding $other — expected " +
          "TimestampType/TimestampNTZType (µs) or LongType (legacy ns-as-long)")
    }
  }

  private def streamName(): String = s"graft_stream_${runSeq.incrementAndGet()}"

  /** Run a streaming DataFrame to completion through the memory sink
    * `name` and return the result table. The checkpoint (offset/commit
    * logs + state store files) is pinned to the app-keyed tmpfs scratch
    * tree: the default temp checkpoint lands under /tmp on a throttled
    * disk, whose stalls dominate the stateful ops' timings (worst for
    * the stream-stream join, which checkpoints both sides' rows).
    *
    * The query starts with [[stateParts]] state partitions, so the plan
    * and its state stores are sized at START (fresh checkpoint each
    * run). With `rocksDb` it runs on the RocksDB state store provider,
    * asserted fail-loud from the query's own progress metrics. */
  private def runToTable(s: SparkSession, df: DataFrame, mode: String,
      rocksDb: Boolean = false, name: String = streamName()): DataFrame = {
    withConf(s)(stateConf +: (if (rocksDb) Seq(rocksConf) else Nil): _*) {
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", scratch(s, name, "ckpt"))
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      require(!rocksDb || q.recentProgress.exists(_.stateOperators.exists(
          _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))),
        s"streaming run $name must execute on the RocksDB state store " +
          "provider (no rocksdb* metrics in the query progress)")
    }
    s.table(name)
  }

  /** Shared tumbling-Append streaming run (r17, VERDICT r16 task 1 —
    * "fold demo variants that share a transform into fewer streaming
    * sessions"): i9 and i12 consume the SAME production query —
    * [[tumblingAgg]] in Append mode — i9 pinning the eviction semantics
    * of its output, i12 the drift enrichment over its finalized rows. A
    * real pipeline runs that query ONCE and fans the finalized output to
    * every consumer, so the suite models it with one session-memoized
    * run: the first consuming key's first run pays the streaming session
    * and every later run — including the other consumer's — reads the
    * memory-sink table warm (the [[graft.Tables.sharedFrame]] semantics,
    * disclosed in BASELINE.md's bench-methodology paragraph). The run
    * executes on the RocksDB provider (i12's declared production
    * provider, asserted fail-loud from the query's own progress
    * metrics); provider choice is result-invariant, so i9's oracle is
    * untouched. Key carries the events file's length+mtime signature
    * (the schemaCache idiom) so an in-place regeneration invalidates. */
  private case class SharedRun(sig: String, table: String, df: DataFrame)
  private val tumblingAppendCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), SharedRun]()

  // CONTENT-strengthened source signature (r19, VERDICT r18 task 4): the
  // r18 caches here keyed on length+ms-mtime alone, so a same-length
  // same-millisecond in-place regeneration was indistinguishable and
  // served stale results. The shared [[graft.Tables.contentSig]] (in scope
  // via the Tables wildcard import) folds in an md5 over the file's first
  // and last 4 KiB — a parquet footer carries row-group offsets and
  // per-column min/max stats, so any content change perturbs the tail
  // bytes — and a collision now requires identical size, timestamp AND
  // boundary content. The same helper strengthens cachedFixture's
  // per-file signature.

  private def tumblingAppendShared(s: SparkSession, d: String): DataFrame = {
    val f = new java.io.File(s"$d/events.parquet")
    val sig = contentSig(f)
    // keyed by DIR with the signature INSIDE the value (r17 ADVICE): an
    // in-place regeneration evicts the prior entry, drops its memory-sink
    // table AND deletes its checkpoint scratch dir (r18 ADVICE — tmpfs is
    // RAM; superseded artifacts must not accumulate within a session)
    tumblingAppendCache.compute((s, d), { (_, old) =>
      if (old != null && old.sig == sig) old
      else {
        if (old != null) {
          s.catalog.dropTempView(old.table)
          deleteRec(new java.io.File(scratch(s, old.table, "ckpt")))
        }
        val name = streamName()
        SharedRun(sig, name, runToTable(s, tumblingAgg(eventsStream(s, d)),
          "append", rocksDb = true, name = name))
      }
    }).df
  }

  /** Session-memoized PARQUET materialization of the shared tumbling-
    * Append run's finalized rows (r18, VERDICT r17 task 2): the DSv2
    * sink keys (i10 CSV, i14 partitioned lake) claim the SINK's
    * streaming publish protocol, not the aggregation run — in
    * production the aggregate runs once and each sink leg consumes its
    * finalized output. A memory-sink table is not a streaming source,
    * so the fan-out point is this one-file parquet artifact: each sink
    * key re-streams it STATELESSLY (no state store, no watermark
    * no-data batch) through its own sink, exercising the full epoch
    * stage/commit/publish path on exactly the rows the shared run
    * finalized. Same dir+signature eviction as [[tumblingAppendShared]];
    * disclosed in BASELINE.md's bench-methodology paragraph. */
  private val finalizedDirCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()
  private[graft] val tumblingFinalizedSchema = new StructType()
    .add("w_start_us", LongType).add("event_type", StringType)
    .add("cnt", LongType)
  private def tumblingFinalizedDir(s: SparkSession, d: String): String = {
    val f = new java.io.File(s"$d/events.parquet")
    val sig = contentSig(f)
    finalizedDirCache.compute((s, d), { (_, old) =>
      if (old != null && old._1 == sig) old
      else {
        // delete the superseded materialization on eviction (r18 ADVICE):
        // the scratch tree is app-keyed tmpfs, so within-session leaks
        // are RAM leaks until the shutdown hook fires
        if (old != null) deleteRec(new java.io.File(old._2))
        val dir = scratch(s, s"tumbling_final_${runSeq.incrementAndGet()}", "rows")
        tumblingAppendShared(s, d)
          .select(epochUs(col("window.start")).as("w_start_us"),
            col("event_type"), col("cnt"))
          .coalesce(1).write.mode("overwrite").parquet(dir)
        (sig, dir)
      }
    })._2
  }

  /** Bench hook (r19, r18 ADVICE): force the shared tumbling-Append run
    * AND its parquet materialization cold, so the bench can time the
    * shared pipeline work as its own record entry. Session-memoized like
    * its consumers — i9/i12 (the streaming run) and i10/i14 (the
    * finalized-rows fan-out) then time their own distinct claims warm,
    * and the shared aggregation's cost appears in the suite total exactly
    * once instead of in no key's min-of-N minimum. */
  private[graft] def primeSharedTumbling(s: SparkSession, d: String): Unit = {
    tumblingFinalizedDir(s, d); ()
  }

  /** The i1 tumbling aggregation as a pure stream transform: 1-hour
    * watermark + 1-hour tumbling windows per event_type. The oracled i1
    * runs it in Complete mode (the only output mode whose result matches a
    * batch oracle over the whole table); the PRODUCTION path for an
    * unbounded stream is the same transform in **Append** mode, where each
    * window is emitted once when the watermark passes its end and then
    * EVICTED from the state store — state stays bounded by the watermark
    * horizon regardless of stream length, and the RocksDB state store
    * provider (`spark.sql.streaming.stateStore.providerClass` →
    * `...state.RocksDBStateStoreProvider`) keeps it off-heap. Both the
    * Append eviction behaviour and the RocksDB provider are pinned by
    * StreamingSpec with MemoryStream-controlled batches. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  /** The i3 session aggregation as a pure stream transform (30-minute gap
    * + 30-minute watermark). Same Complete-for-oracle / Append-for-
    * production split as [[tumblingAgg]]. */
  def sessionAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(epochUs(col("ts"))).as("sess_start_us"),
        max(epochUs(col("ts"))).as("sess_end_us"))

  /** The i20 two-level rollup cascade as a pure stream transform
    * (10-minute tumbling counts → hourly re-aggregation on
    * `window_time`). Chained stateful operators require Append mode;
    * multi-batch finalization semantics are pinned in StreamingSpec. */
  def chainedAgg(events: DataFrame): DataFrame = {
    val slots = events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    slots
      .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
      .agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_slots"),
        max(col("cnt")).as("max_slot"))
  }

  /** The i15 stream-stream LEFT OUTER join as a pure stream transform:
    * each click with the same user's purchases in the 30 minutes after
    * it, under a 1-hour watermark; an unmatched click emits null-extended
    * once the watermark passes click_ts + 30 min. */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val ev = events.withWatermark("ts", "1 hour")
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
  }

  /** The i16 event_id dedup within a 1-hour watermark, as a pure stream
    * transform. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  val queries: Map[String, Q] = Map(
    // i1: 1-hour tumbling windows per event_type
    "i1_stream_tumbling" -> ((s, d) => {
      runToTable(s, tumblingAgg(eventsStream(s, d)), "complete")
        .select(epochUs(col("window.start")).as("w_start_us"),
          col("event_type"), col("cnt"))
        .orderBy("w_start_us", "event_type")
    }),

    // (r21 machinery A/Bs, both NEGATIVE — measured via temporary twin
    // keys, same-interval alternation, min-of-6 at sf0.1, then removed:
    // disabling no-data micro-batches on the Complete-mode keys moved
    // nothing (i1 1.343 vs 1.446, i3 1.947 vs 1.995 — the finalization
    // batch is not where Complete-mode cost lives), and RocksDB changelog
    // checkpointing on i11 was a wash (2.526 vs 2.590) — at 8 partitions
    // × ~12.5 k events the snapshot upload a changelog would avoid is
    // already tmpfs-cheap. Details in OPTIMIZATION_r21.md.)

    // i2: 1-hour windows sliding every 30 minutes (each event in 2 windows)
    "i2_stream_sliding" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("cnt"))
      runToTable(s, agg, "complete")
        .select(epochUs(col("window.start")).as("w_start_us"), col("cnt"))
        .orderBy("w_start_us")
    }),

    // i3: per-user session windows with a 30-minute gap — the native
    // streaming successor of the batch sessionization idiom (e9)
    "i3_stream_session_window" -> ((s, d) => {
      runToTable(s, sessionAgg(eventsStream(s, d)), "complete")
        .select("user_id", "n_events", "sess_start_us", "sess_end_us")
        .orderBy("user_id", "sess_start_us")
    }),

    // i4: streaming dedup on (event_id, ts) with watermarked state eviction
    "i4_stream_dedup" -> ((s, d) => {
      val deduped = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("event_id", "ts")
        .select(col("event_id"), col("user_id"), col("event_type"),
          epochUs(col("ts")).as("ts_us"), col("value"))
      runToTable(s, deduped, "append")
        .orderBy("event_id")
    }),

    // i5: arbitrary stateful processing — final per-user (count, max value)
    // via the explicit GroupState API
    "i5_stream_stateful_running" -> ((s, d) => {
      import s.implicits._
      val updated = eventsStream(s, d)
        .select(col("user_id"), col("value")).as[(Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
            var (cnt, mx) = state.getOption.getOrElse((0L, Double.MinValue))
            it.foreach { case (_, v) => cnt += 1; if (v > mx) mx = v }
            state.update((cnt, mx))
            Iterator((uid, cnt, mx))
        }
        .toDF("user_id", "cnt", "max_value")
      // one update row per key per batch; cnt/max are monotone, so the
      // final state is the per-user max of each (robust to multi-batch runs)
      runToTable(s, updated, "update")
        .groupBy("user_id")
        .agg(max(col("cnt")).as("cnt"), max(col("max_value")).as("max_value"))
        .orderBy("user_id")
    }),

    // i6: stream-static enrichment join (broadcast dim), per-segment counts
    "i6_stream_static_join" -> ((s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val agg = eventsStream(s, d)
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
      runToTable(s, agg, "complete")
        .orderBy("c_mktsegment")
    }),

    // i22: STREAM-STATIC ANTI JOIN — the BLOCKLIST shape of ingestion
    // (i6 is the enrichment shape): every event from a blocked user is
    // dropped AT THE STREAM, stateless, before anything downstream
    // pays for it — the left_anti against a broadcast static table is
    // re-read per micro-batch, so blocklist updates take effect at the
    // next trigger without restarting the query (the operational
    // property this join mode exists for). Blocklist = the md5-derived
    // ~25% of customers (the l10 membership idiom: deterministic,
    // oracle-reproducible). No state store anywhere: the anti join is
    // a per-batch broadcast probe; the downstream count aggregates in
    // Complete mode for the batch-equal oracle.
    "i22_stream_static_anti" -> ((s, d) => {
      val blocked = t(s, d, "customer")
        .filter(substring(md5(col("c_custkey").cast(StringType)
          .cast(BinaryType)), 1, 1) < "4") // ~25%, both engines agree
        .select(col("c_custkey"))
      val agg = eventsStream(s, d)
        .join(broadcast(blocked), col("user_id") === col("c_custkey"),
          "left_anti")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt")) // (distinct aggs are unsupported
        // on streams — the d3 exact-distinct shape stays batch-side)
      runToTable(s, agg, "complete")
        .orderBy("event_type")
    }),

    // i8: STREAM-STREAM inner join — click→purchase attribution: each
    // click joined to same-user purchases within the following 30 min.
    // Both sides carry watermarks and the join condition bounds event
    // time on both sides, so the state store evicts rows once the
    // watermark passes click_ts + 30 min — state stays bounded by the
    // watermark horizon on an unbounded stream (the core scale property
    // of stream-stream joins). Inner join in Append mode emits each
    // match exactly once; over AvailableNow the result equals the batch
    // join, so the query is fully oracled. Timestamps compare in µs
    // space on both engines (events.ts is ns-in-parquet, truncated).
    // Bench note: the wall cost here is the stateful-join MACHINERY, not
    // the data — per micro-batch (data + watermark-advance), every state
    // partition opens/commits 4 join state stores; measured identical
    // with single- vs dual-source scans and with checkpoints on tmpfs.
    // That fixed cost is ∝ state partitions, which runToTable sizes to
    // the data ([[stateParts]]).
    "i8_stream_stream_join" -> ((s, d) => {
      // ONE source, self-joined: both sides derive from the same
      // watermarked scan, so each micro-batch reads the file once
      val ev = eventsStream(s, d).withWatermark("ts", "1 hour")
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      runToTable(s, joined, "append")
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          epochUs(col("click_ts")).as("click_ts_us"),
          epochUs(col("purchase_ts")).as("purchase_ts_us"))
        .orderBy("click_id", "purchase_id")
    }),

    // i15: stream-stream LEFT OUTER join — the OTHER half of the i8
    // attribution shape, and semantics no batch rewrite gets for free:
    // matched (click, purchase) pairs emit like i8's inner join, but an
    // UNMATCHED click emits (with null purchase columns) only when the
    // watermark proves no matching purchase can arrive any more — i.e.
    // when it passes click_ts + 30 min, the upper bound of the join's
    // event-time window. That is the state-EVICTION moment: outer-join
    // null emission and state cleanup are the same commit, so join state
    // stays bounded by the watermark horizon on an unbounded stream
    // exactly as in i8. Over AvailableNow the final watermark is
    // max(ts) − 1 h (ms-truncated, the i9 rule) and the trailing no-data
    // batch performs the eviction — so the result is a batch-expressible
    // cut: all matched pairs + unmatched clicks with click_ts + 30 min
    // STRICTLY below the final watermark (boundary pinned empirically by
    // StreamingSpec's planted boundary-click fixture: a click sitting
    // exactly at wm − 30 min does NOT emit). Output order sorts on
    // coalesce(purchase_id, −1): Spark sorts NULLS FIRST ascending,
    // DuckDB NULLS LAST — the coalesce removes the engine disagreement
    // instead of papering over it per engine.
    "i15_stream_stream_left_join" -> ((s, d) => {
      runToTable(s, clickPurchaseLeftJoin(eventsStream(s, d)), "append")
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          epochUs(col("click_ts")).as("click_ts_us"),
          epochUs(col("purchase_ts")).as("purchase_ts_us"))
        .orderBy(col("click_id"), coalesce(col("purchase_id"), lit(-1L)))
    }),

    // i16: dedup WITHIN the watermark — `dropDuplicatesWithinWatermark`,
    // the production-bounded-state cousin of i4. i4 keeps event time in
    // the dedup key, so its state evicts only because (id, ts) pairs age
    // out with the watermark; THIS operator dedups on event_id ALONE
    // while still promising bounded state, by weakening the guarantee to
    // "duplicates arriving within the watermark delay of each other are
    // dropped" — a key re-ADMITS after its state ages out (pinned by
    // StreamingSpec's planted cross-batch dup fixture: suppressed while
    // in state, re-emitted after eviction). That weaker-but-bounded
    // contract is exactly what at-least-once ingest needs at 100 TB:
    // transport retries land within seconds of the original, so a
    // watermark-sized dedup window catches them with state that never
    // grows past the horizon — i4's key-plus-time state would instead
    // hold EVERY key of an unbounded stream's horizon. Over AvailableNow
    // the corpus's event_ids are unique, so append emits every row and
    // the oracle is the same full-table SELECT as i4's.
    "i16_stream_dedup_within_wm" -> ((s, d) => {
      val deduped = dedupWithinWatermark(eventsStream(s, d))
        .select(col("event_id"), col("user_id"), col("event_type"),
          epochUs(col("ts")).as("ts_us"), col("value"))
      runToTable(s, deduped, "append")
        .orderBy("event_id")
    }),

    // i9: the PRODUCTION output mode of the i1 tumbling aggregation —
    // Append: a window is emitted exactly once, when the watermark passes
    // its end, and its state-store entry is EVICTED in the same commit;
    // state stays bounded by the watermark horizon on an unbounded
    // stream. Over AvailableNow this is deterministic: the single data
    // batch sets the final watermark to max(ts) − 1 h (truncated to ms by
    // the engine's EventTimeStats), and the trailing no-data batch emits
    // every window whose end is ≤ that watermark — a pure batch-
    // expressible cut, so this Append query is fully oracled. i1
    // (Complete) and i9 (Append) share the same transform [[tumblingAgg]];
    // together they pin that the two output modes agree on the
    // watermark-finalized prefix. The Append run itself is SHARED with
    // i12 ([[tumblingAppendShared]] — one production query, two
    // consumers).
    "i9_stream_tumbling_append" -> ((s, d) => {
      tumblingAppendShared(s, d)
        .select(epochUs(col("window.start")).as("w_start_us"),
          col("event_type"), col("cnt"))
        .orderBy("w_start_us", "event_type")
    }),

    // i10: the SAME Append aggregate as i9, but published through the
    // custom DSv2 sink's STREAMING leg (graft.sources.CsvDirSink — a10's
    // twin): epoch-keyed staged files, driver-side idempotent epoch
    // commit, read back from the published part-<epoch>-<p>.tsv shards.
    // Oracled with i9's watermark-horizon cut — the sink roundtrip must
    // be value-exact (shortest-repr serialization), and the epoch marker
    // must exist before anything is read (the sink's publish contract).
    // The aggregate itself is the SHARED [[tumblingAppendShared]] run
    // (r18 — this key's distinct claim is the SINK): the sink leg is a
    // stateless streaming pass over the shared run's finalized rows
    // ([[tumblingFinalizedDir]]), the production fan-out shape.
    "i10_stream_custom_sink" -> ((s, d) => {
      val dir = scratch(s, s"i10_${runSeq.incrementAndGet()}", "sink")
      val out = s.readStream.schema(tumblingFinalizedSchema)
        .parquet(tumblingFinalizedDir(s, d))
      val q = out.writeStream.format("graft.sources.CsvDirSink")
        .option("path", dir)
        .option("checkpointLocation", scratch(s, dir, "ckpt"))
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val published = new java.io.File(dir).list()
      require(published != null && published.exists(_.startsWith("_graft_epoch_")),
        "CsvDirSink epoch marker missing — streaming write did not publish")
      s.read.option("sep", "\t")
        .option("pathGlobFilter", "part-*.tsv")
        .schema(StructType(Seq(
          StructField("w_start_us", LongType),
          StructField("event_type", StringType),
          StructField("cnt", LongType))))
        .csv(dir)
        .orderBy("w_start_us", "event_type")
    }),

    // i11: the PRODUCTION twin of the i3 session aggregation — the same
    // [[sessionAgg]] transform in **Append** mode on the **RocksDB** state
    // store provider (SURVEY §7.5's declared production provider; merging
    // session state lives off-heap, so executor heap stays flat however
    // long the gap horizon). A session window's end is its last event's
    // ts + the 30-min gap; Append emits a session exactly once, when the
    // watermark passes that end, and evicts its state in the same commit —
    // bounded state on an unbounded stream. Over AvailableNow the cut is
    // deterministic (same watermark arithmetic as i9), so unlike most
    // session-window demos this one is fully ORACLED: batch sessionization
    // + the watermark-horizon filter. The RocksDB provider is asserted
    // fail-loud from the query's own progress metrics, and pinned again in
    // StreamingSpec.
    "i11_stream_session_append" -> ((s, d) => {
      runToTable(s, sessionAgg(eventsStream(s, d)), "append", rocksDb = true)
        .select("user_id", "n_events", "sess_start_us", "sess_end_us")
        .orderBy("user_id", "sess_start_us")
    }),

    // i7: watermark / late-data semantics — the events table split into
    // THREE files processed as ORDERED micro-batches (maxFilesPerTrigger
    // =1): b0 is the bulk, b1 a mid-stream 5% slice, b2 a 5% "straggler"
    // slice whose timestamps span the whole range — genuinely late data.
    // Three batches because Spark ≥3.4 filters late events with the
    // PREVIOUS batch's watermark (SPARK-24634: late-events wm lags
    // eviction wm by one batch — measured this round: in a two-batch run
    // the straggler batch is filtered at wm=0 and NOTHING drops): batch
    // b2 is late-filtered at the watermark batch b1 ran under, which is
    // the one established by b0 = max(b0.ts) ms-floored − 1 h. ORACLED
    // (r17): the build pins the global max-ts row into b0, so that
    // late-filter watermark EQUALS the final emission watermark (max of
    // all ts — EventTimeStats collects before the late filter, so even
    // dropped rows advance it; here max rides b0 anyway). With the two
    // cuts equal, a b2 row is either dropped late (window end ≤ wm) or
    // accepted into a window the final no-data batch can never emit
    // (end > wm) — the straggler slice contributes ZERO emitted rows by
    // construction, independent of the engine's exact acceptance
    // boundary, and the result is the b0∪b1 histogram under i9's
    // horizon cut: plain batch SQL on both engines (the probe run's
    // numRowsDroppedByWatermark=495/500 pins that the drop is real).
    "i7_stream_late_data" -> ((s, d) => {
      // plain subdir names (no '=': keep partition inference out of play);
      // coalesce(1) so each slice is exactly one file = one micro-batch.
      // The split is a pure function of the source data → cachedFixture
      // (the a4/a5 idiom): re-runs pay the streaming query, not three
      // events-table scans + writes per run. The b0→b1→b2 ORDER the key
      // depends on is FileStreamSource's mtime sort, which has ms
      // granularity and unspecified tie order — so the build makes the
      // ordering STRUCTURAL: b1/b2's files are stamped to max(b0 mtime)
      // + 5 s/+ 10 s (r16 ADVICE — same-millisecond tiny sequential
      // writes would otherwise persist a nondeterministic batch order
      // for the fixture's whole cache life).
      val base = cachedFixture(s, d, "i7_batches3") { p =>
        val ev = t(s, d, "events")
        // 1-row collect: fixture-build only (the a16 idiom) — the max-ts
        // row is pinned into b0 so the late-filter and emission
        // watermarks coincide (see the key comment)
        val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
        val m20 = col("event_id") % 20
        ev.filter((m20 =!= 0 && m20 =!= 10) || col("ts") === lit(maxTs))
          .coalesce(1).write.mode("overwrite").parquet(s"$p/in/b0")
        ev.filter(m20 === 10 && col("ts") =!= lit(maxTs))
          .coalesce(1).write.mode("overwrite").parquet(s"$p/in/b1")
        ev.filter(m20 === 0 && col("ts") =!= lit(maxTs))
          .coalesce(1).write.mode("overwrite").parquet(s"$p/in/b2")
        val parts = (dir: String) => Option(new java.io.File(s"$p/in/$dir")
          .listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
        val b0Max = parts("b0").map(_.lastModified).max
        // a silently-failed stamp would persist a nondeterministic batch
        // order for the fixture's whole cache life — fail the build loudly
        // instead (r17 ADVICE)
        parts("b1").foreach(f => require(f.setLastModified(b0Max + 5000L),
          s"i7 fixture: setLastModified failed for $f — batch order would be nondeterministic"))
        parts("b2").foreach(f => require(f.setLastModified(b0Max + 10000L),
          s"i7 fixture: setLastModified failed for $f — batch order would be nondeterministic"))
      }
      val stream = s.readStream
        .schema(new StructType()
          .add("event_id", LongType).add("ts", TimestampType)
          .add("user_id", LongType).add("event_type", StringType)
          .add("value", DoubleType).add("props", StringType))
        .option("maxFilesPerTrigger", 1)
        .option("basePath", s"$base/in")
        .parquet(s"$base/in/*")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("cnt"))
      runToTable(s, stream, "append")
        .select(epochUs(col("window.start")).as("w_start_us"), col("cnt"))
        .orderBy("w_start_us")
    }),

    // i12: streaming DRIFT monitor — the streaming twin of the batch l25:
    // watch the live stream's per-window distribution drift away from the
    // corpus baseline, attributed per token, BEFORE the data trains. The
    // stream's categorical token axis is event_type; the streaming stage
    // is exactly [[tumblingAgg]] (1-hour windows × type) in Append mode
    // on the RocksDB provider — each window's histogram is emitted once
    // when the watermark passes its end and its state is evicted in the
    // same commit, so state stays bounded by the watermark horizon on an
    // unbounded stream (StreamingSpec's bounded-state case pins this stage).
    // Drift scoring is a STATELESS enrichment over the finalized rows —
    // per type, pd·ln(pd/pc) against a broadcast global baseline from
    // the static table, quantized to integer MICRO-NATS (l25's trick) so
    // each window's KL is an exact integer sum; in production this
    // enrichment rides foreachBatch on the same finalized output. The
    // baseline side is Laplace-smoothed over the static type vocabulary
    // (l25's union-vocab rule; the stream's types are a subset of the
    // static table's by construction here). The streaming stage is the
    // SHARED [[tumblingAppendShared]] run (one production query, two
    // consumers — i9 pins its semantics, i12 enriches its output; the
    // RocksDB contract is asserted inside the shared run). Fully
    // oracled: i9's watermark-horizon cut + the same drift arithmetic
    // in batch SQL.
    "i12_stream_drift" -> ((s, d) => {
      val hist = tumblingAppendShared(s, d)
        .select(epochUs(col("window.start")).as("w_start_us"),
          col("event_type"), col("cnt"))
      val g = Window.partitionBy() // ≤ #types rows — never the stream
      val base = t(s, d, "events")
        .groupBy("event_type").agg(count(lit(1)).as("b_cnt"))
        .withColumn("b_tot", sum(col("b_cnt")).over(g))
        .withColumn("v", count(lit(1)).over(g))
      val w = Window.partitionBy("w_start_us")
      hist.join(broadcast(base), "event_type")
        .withColumn("w_tot", sum(col("cnt")).over(w))
        .withColumn("pd", col("cnt").cast(DoubleType) / col("w_tot"))
        .withColumn("pc",
          (col("b_cnt") + lit(1L)).cast(DoubleType) / (col("b_tot") + col("v")))
        .withColumn("q_contrib",
          floor(col("pd") * log(col("pd") / col("pc")) * 1e6 + 0.5).cast(LongType))
        .withColumn("w_kl_unats", sum(col("q_contrib")).over(w))
        .select(col("w_start_us"), col("event_type"), col("cnt"),
          col("q_contrib"), col("w_kl_unats"))
        .orderBy("w_start_us", "event_type")
    }),

    // i13: STATELESS streaming ingest gate — the live corpus-ingest
    // shape the rest of the I-family doesn't cover: documents arrive as
    // files and the l5/l24 quality cut runs INLINE as per-row
    // expressions — no state store, no watermark, no shuffle; rows emit
    // in their own micro-batch and the plan is a map over the stream.
    // Production LLM ingest is mostly THIS (gate at the edge), with the
    // stateful monitors (i12) downstream of it. The score is l5's own
    // per-row [[TrainOps.Quality]] (identical VALUES to the batch explode
    // path), the 0.26 keep line l24's. Fully oracled: stateless append
    // over AvailableNow emits every row, so the batch l5-style SQL is
    // the exact result.
    "i13_stream_ingest_gate" -> ((s, d) => {
      val docsSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = s.readStream.schema(docsSchema)
        .option("basePath", d).parquet(s"$d/documents.parquet*")
      val q = TrainOps.Quality(col("ws"))
      val gated = stream
        .select(col("doc_id"), words(lower(col("text"))).as("ws"))
        .filter(q.n > 0)
        .select(col("doc_id"), q.n.cast(LongType).as("n_tokens"), q.score.as("raw_q"))
        .select(col("doc_id"), col("n_tokens"),
          (floor(col("raw_q") * 1e4 + 0.5) / 1e4).as("quality"),
          (col("raw_q") >= 0.26).as("keep"))
      runToTable(s, gated, "append")
        .orderBy("doc_id")
    }),

    // i14: the STREAMING LAKE SINK — i10's epoch-idempotent DSv2 publish
    // protocol composed with l28's hive-partitioned parquet layout
    // (graft.sources.ParquetDirSink): the i9 Append aggregate lands as
    // `event_type=<v>/part-<epoch>-<p>-<n>.parquet`, the production shape
    // of "a stream keeps a partitioned lake current". The read-back uses
    // Spark partition DISCOVERY (event_type reconstructed from the path —
    // it is not in the data files), so downstream scans partition-prune
    // exactly like l28. Oracled with i9's watermark-horizon cut: parquet
    // INT64/BINARY carry the values bit-exactly, so the lake roundtrip
    // must not change a single row. Epoch replay / crash-orphan sweep
    // pinned in SinkSpec's parquet cases. Like i10, the aggregate is the
    // SHARED run (r18 — this key's claim is the partitioned lake SINK):
    // a stateless streaming pass over [[tumblingFinalizedDir]] drives
    // the sink's full stage/commit/publish + hive-layout path.
    "i14_stream_lake_sink" -> ((s, d) => {
      val dir = scratch(s, s"i14_${runSeq.incrementAndGet()}", "lake")
      val out = s.readStream.schema(tumblingFinalizedSchema)
        .parquet(tumblingFinalizedDir(s, d))
      val q = out.writeStream.format("graft.sources.ParquetDirSink")
        .option("path", dir).option("partitionBy", "event_type")
        .option("checkpointLocation", scratch(s, dir, "ckpt"))
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val published = new java.io.File(dir).list()
      require(published != null && published.exists(_.startsWith("_graft_epoch_")),
        "ParquetDirSink epoch marker missing — streaming write did not publish")
      s.read.parquet(dir)
        .select(col("w_start_us"), col("event_type").cast(StringType), col("cnt"))
        .orderBy("w_start_us", "event_type")
    }),

    // i17: `transformWithState` — Spark 4's successor API to
    // flatMapGroupsWithState (i5's GroupState shape re-expressed on the
    // StatefulProcessor runtime): typed named state objects (ValueState /
    // ListState / MapState) with per-state TTL and timers, each backed by
    // its own RocksDB COLUMN FAMILY — the engine requires the RocksDB
    // provider for this operator, so unlike i11 (where RocksDB is the
    // declared production choice) here it is part of the operator
    // contract, asserted fail-loud from the query's own progress metrics.
    // The processor keeps one (cnt, sum_uval, max_ts_us) ValueState per
    // user; value is quantized to integer MICRO-UNITS before the shuffle
    // (the l5/l21/j17 rule) so the running sum is exact integer math and
    // batch boundaries cannot drift the result. Update mode emits each
    // key's running triple once per batch it appears in; cnt is strictly
    // monotone per key, so max(struct(cnt, …)) collapses a multi-batch
    // run to the final state — the i5 idiom struct-ified, because
    // sum_uval alone need not be monotone (value can be negative).
    // Cross-batch state continuity and the per-state TTL contract are
    // pinned by StreamingSpec with MemoryStream-controlled batches.
    // Scale: state is hash-partitioned by user exactly like the batch
    // groupBy's shuffle; per-key state is a 24-byte triple held off-heap
    // in RocksDB, so executor heap stays flat at any key cardinality.
    "i17_stream_transform_state" -> ((s, d) => {
      import s.implicits._
      val rows = eventsStream(s, d)
        .select(col("user_id"),
          floor(col("value") * 1e6 + 0.5).cast(LongType).as("uval"),
          epochUs(col("ts")).as("ts_us"))
        .as[(Long, Long, Long)]
      val updated = rows.groupByKey(_._1)
        .transformWithState(new RunningStatsProcessor,
          TimeMode.None(), OutputMode.Update())
      runToTable(s, updated.toDF("user_id", "cnt", "sum_uval", "max_ts_us"),
          "update", rocksDb = true)
        .groupBy("user_id")
        .agg(max(struct(col("cnt"), col("sum_uval"), col("max_ts_us"))).as("x"))
        .select(col("user_id"), col("x.cnt").as("cnt"),
          col("x.sum_uval").as("sum_uval"), col("x.max_ts_us").as("max_ts_us"))
        .orderBy("user_id")
    }),

    // i18: EVENT-TIME TIMERS on transformWithState — the second half of
    // the modern stateful API (i17 covers keyed state; this covers the
    // TIMER surface): per-user sessionization re-built from raw
    // primitives (a ListState event buffer + watermark-driven timers)
    // instead of the engine's session_window operator. A timer fires
    // when the watermark passes a session's end+gap; the processor then
    // sessionizes its buffer, EMITS the watermark-final sessions, and
    // re-arms for the earliest still-pending session — emission timing
    // and the final emitted set are exactly i11's Append-mode semantics,
    // so the ORACLE IS i11's (batch sessionization + the ms-floor
    // watermark cut). Finality is a PREFIX property (session ends are
    // strictly increasing per user), which is what makes retain-the-
    // suffix correct. State = only the non-final tail of each user's
    // events — bounded by the watermark horizon, the same contract
    // session_window's eviction provides, here enforced by hand.
    "i18_stream_session_timers" -> ((s, d) => {
      import s.implicits._
      val rows = eventsStream(s, d)
        .withWatermark("ts", "30 minutes")
        .select(col("user_id"), epochUs(col("ts")).as("ts_us"))
        .as[(Long, Long)]
      val sessions = rows.groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      runToTable(s, sessions.toDF("user_id", "n_events", "sess_start_us",
          "sess_end_us"), "append", rocksDb = true)
        .select("user_id", "n_events", "sess_start_us", "sess_end_us")
        .orderBy("user_id", "sess_start_us")
    }),

    // i29: INITIAL STATE on transformWithState — the third corner of the
    // modern stateful API (i17 keyed state, i18 timers; this is the
    // BOOTSTRAP handle): a restarted/migrated stateful job does not
    // replay history, it seeds per-key state from a LAKE SNAPSHOT via
    // StatefulProcessorWithInitialState.handleInitialState, then
    // continues folding only the live stream. Demo split is by event_id
    // parity: even ids are the "already-compacted history" (batch-
    // aggregated to per-user running triples — the artifact a real
    // pipeline checkpoints to the lake), odd ids arrive on the stream.
    // Correctness IS the bootstrap: the oracle aggregates ALL events per
    // user (restricted to users with stream activity — only they emit in
    // Update mode), so a dropped/ignored initial state under-counts every
    // seeded user and hash-mismatches. Same micro-unit quantization and
    // monotone-cnt collapse as i17; RocksDB required by the runtime,
    // asserted from progress metrics. TTL stays NONE on this oracled path
    // (the full corpus must fold); the TTL-expiry contract is pinned in
    // StreamingSpec, and the snapshot-resume continuity is additionally
    // pinned there with a MemoryStream 2-batch split.
    // Scale: the snapshot is hash-partitioned by key into the state
    // stores ONCE at query start (no history replay); thereafter state
    // and stream shuffle identically to i17.
    "i29_stream_initial_state" -> ((s, d) => {
      import s.implicits._
      val snapshot = t(s, d, "events")
        .filter(col("event_id") % 2 === 0)
        .select(col("user_id"),
          floor(col("value") * 1e6 + 0.5).cast(LongType).as("uval"),
          epochUs(col("ts")).as("ts_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"), sum(col("uval")).as("sum_uval"),
          max(col("ts_us")).as("max_ts_us"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .mapValues { case (_, c, sm, mx) => (c, sm, mx) }
      val rows = eventsStream(s, d)
        .filter(col("event_id") % 2 === 1)
        .select(col("user_id"),
          floor(col("value") * 1e6 + 0.5).cast(LongType).as("uval"),
          epochUs(col("ts")).as("ts_us"))
        .as[(Long, Long, Long)]
      val updated = rows.groupByKey(_._1)
        .transformWithState(new InitRunningStatsProcessor,
          TimeMode.None(), OutputMode.Update(), snapshot)
      runToTable(s, updated.toDF("user_id", "cnt", "sum_uval", "max_ts_us"),
          "update", rocksDb = true)
        .groupBy("user_id")
        .agg(max(struct(col("cnt"), col("sum_uval"), col("max_ts_us"))).as("x"))
        .select(col("user_id"), col("x.cnt").as("cnt"),
          col("x.sum_uval").as("sum_uval"), col("x.max_ts_us").as("max_ts_us"))
        .orderBy("user_id")
    }),

    // i19: STREAMING UPSERT via foreachBatch — the "stream MERGEs into a
    // keyed serving table" production shape (i10/i14 cover append sinks;
    // this is the UPDATE-in-place sink): each micro-batch folds its
    // per-user argmax into a keyed store with last-wins semantics (the
    // j12/j16 merge per batch). The store is a VERSIONED parquet dir
    // keyed by batchId — batch b reads the highest version < b and
    // OVERWRITES version b, so a replayed batch rewrites its own version
    // instead of double-applying (the i14 idempotence contract, at the
    // table level). The per-batch fold is max(struct(ts, id, value)) —
    // associative, so ANY batch split yields the identical final store,
    // which is exactly why the single-batch oracle is valid for the
    // multi-batch production run (StreamingSpec pins the 2-batch split).
    // Scale: each batch shuffles only its OWN rows by user; the
    // store-merge joins batch-keys against the store hash-partitioned —
    // at 100 TB the store is bucketed by key and the join is co-located.
    "i19_stream_foreachbatch_upsert" -> ((s, d) => {
      val store = scratch(s, s"i19_${runSeq.incrementAndGet()}", "store")
      withConf(s)(stateConf) {
        eventsStream(s, d)
          .select(col("user_id"), col("event_id"),
            epochUs(col("ts")).as("ts_us"), col("value"))
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            Streaming.upsertBatch(s, store, batch, batchId)
          }
          .option("checkpointLocation", scratch(s, store, "ckpt"))
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
      }
      val fin = latestVersion(store).getOrElse(
        sys.error("i19: no store version published"))
      s.read.parquet(s"$store/v$fin")
        .select(col("user_id"), col("last_event_id"),
          rnd4(col("last_value")).as("last_value"))
        .orderBy("user_id")
    }),

    // i26: STREAMING MATERIALIZED VIEW from the change feed — the full
    // CDC pipeline closed end-to-end: i25's catalog CDF stream drives
    // j26's IVM algebra inside foreachBatch, maintaining a per-status
    // aggregate store that only ever does DELTA-sized work (Δn = I−D,
    // Δsum from the change rows — count/sum self-maintainability,
    // j26's theorem, now exercised by the ENGINE's own micro-batches).
    // The store is versioned by batchId (i19's idempotent-overwrite
    // idiom): a replayed batch re-lands its own version, so the view
    // can never double-apply. Money folds in exact integer CENTS
    // (dec(total)·100 → long) so batch boundaries cannot drift the
    // sum. The final maintained view must equal a direct aggregate of
    // the table's final state — which is exactly what the oracle
    // computes from orders, so the whole stream→apply→merge path is
    // hash-pinned.
    "i26_stream_cdf_materialize" -> ((s, d) => {
      val cat = Relational.ttFixture(s, d)
      val dir = new java.io.File(
        s.conf.get(s"spark.sql.catalog.$cat.root"), "orders_tt")
      val tag = runSeq.incrementAndGet()
      val store = scratch(s, s"i26_$tag", "view")
      // initial-snapshot load: the feed starts AFTER v0 (the seed is
      // table state, not a change), so the view bootstraps from the v0
      // snapshot at version −1 — the standard snapshot-then-CDC pattern
      s.sql(s"SELECT * FROM $cat.orders_tt VERSION AS OF 0")
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n_rows"),
          sum((dec(col("total"), 18, 2) * 100).cast(LongType)).as("sum_cents"))
        .write.mode("overwrite").parquet(s"$store/v-1")
      val q = s.readStream.format("graft.sources.CowChangeFeed")
        .option("table", dir.getAbsolutePath).load()
        .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          cdfApplyBatch(s, store, batch, batchId)
        }
        .option("checkpointLocation", scratch(s, s"i26_$tag", "ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val versions = new java.io.File(store).list()
        .filter(_.startsWith("v")).map(_.drop(1).toLong)
      require(versions.nonEmpty, "i26: the feed produced no batches")
      s.read.parquet(s"$store/v${versions.max}")
        .select(col("st"), col("n_rows"),
          dbl(dec(col("sum_cents"), 20, 0) / 100).as("sum_total"))
        .orderBy("st")
    }),

    // i24: TRANSACTIONAL DUAL SINK — the "outbox problem" of streaming
    // ETL (i19 upserts ONE store; production batches usually must land
    // in TWO: the raw audit LOG and the serving AGGREGATE — the classic
    // "write the DB row AND publish the event" consistency trap): both
    // stores are versioned by the SAME batchId, each write is an
    // idempotent overwrite of its own version, so a replayed batch —
    // including one that crashed BETWEEN the two writes — re-lands both
    // halves and the pair can never diverge durably (the at-least-once
    // replay + idempotent-commit route to exactly-once, applied to a
    // MULTI-sink transaction; StreamingSpec pins the replay and the
    // crash-between-writes recovery on hand-fed batches). The result
    // joins the log's counts against the aggregate store — `consistent`
    // must be uniformly true, and is derivable by the oracle since the
    // two stores must agree with the SOURCE.
    // i25: STREAMING CHANGE DATA FEED from the versioned catalog — the
    // lakehouse CDC consumer (Delta's table-as-a-stream): snapshot
    // VERSIONS are the offsets, each micro-batch emits the row-level
    // diff of the versions it covers, tagged (op, version). The source
    // (sources/CowChangeFeed) derives every batch from a28's MANIFEST
    // diff — files shared by adjacent snapshots are never opened, a
    // rewritten file's survivors cancel in the multiset difference —
    // so a batch costs the CHURN of its versions, never a table scan.
    // Offsets are committed version numbers: recovery replays
    // byte-identical batches (StreamingSpec pins that a resumed feed
    // emits ONLY versions committed after the checkpoint). Run over
    // a27's mutation history, the feed must contain exactly two change
    // sets: v1 = the keyed DELETE, v2 = the INSERT batch — which makes
    // the whole streaming path oracle-derivable from orders.
    "i25_stream_catalog_cdf" -> ((s, d) => {
      val cat = Relational.ttFixture(s, d)
      val dir = new java.io.File(
        s.conf.get(s"spark.sql.catalog.$cat.root"), "orders_tt")
      val name = s"graft_stream_${runSeq.incrementAndGet()}"
      val q = s.readStream.format("graft.sources.CowChangeFeed")
        .option("table", dir.getAbsolutePath).load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", scratch(s, name, "ckpt"))
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .groupBy("version", "op")
        .agg(count(lit(1)).as("n_rows"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
        .orderBy("version", "op")
    }),

    "i24_stream_dual_sink" -> ((s, d) => {
      val tag = runSeq.incrementAndGet()
      val log = scratch(s, s"i24_$tag", "log")
      val agg = scratch(s, s"i24_$tag", "agg")
      withConf(s)(stateConf) {
        eventsStream(s, d)
          .select(col("event_id"), col("event_type"), col("user_id"))
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            Streaming.dualSinkBatch(s, log, agg, batch, batchId)
          }
          .option("checkpointLocation", scratch(s, s"i24_$tag", "ckpt"))
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
      }
      val fin = latestVersion(agg).getOrElse(
        sys.error("i24: no aggregate version published"))
      s.read.parquet(s"$log/v*")
        .groupBy("event_type").agg(count(lit(1)).as("n_log"))
        .join(s.read.parquet(s"$agg/v$fin"), "event_type")
        .withColumn("consistent", col("n_log") === col("cnt"))
        .orderBy("event_type")
    }),

    // i27: STREAMING CDC APPLY into the MERGE-ON-READ table — the
    // composition a31's connector exists FOR: a changelog stream
    // (upserts + delete markers + inserts, the Debezium/CDC row shape)
    // lands on the lakehouse table via one MERGE per micro-batch
    // (foreachBatch — the engine's documented streaming-DML route),
    // and because the table is MoR/SupportsDelta, EVERY batch costs
    // O(changed rows): one appended delta file, ZERO base-file bytes
    // rewritten (require-gated on mtime+length — with a CoW table the
    // same pipeline would rewrite affected groups every few seconds,
    // which is why streaming ingest wants MoR). Upserts are ABSOLUTE
    // (SET st=s.st, total=s.total), so a replayed batch re-merges to
    // the same state — at-least-once replay + idempotent apply = the
    // exactly-once route, here for row-level DML instead of i19/i24's
    // versioned stores. The changelog's three slices are KEY-DISJOINT
    // (updates [0,600), deletes [600,900), inserts +400000), so
    // micro-batch boundaries (maxFilesPerTrigger=1 → one slice per
    // batch → exactly 3 delta files, gated) cannot affect the final
    // state — which makes the whole pipeline batch-oracle-derivable.
    "i27_stream_mor_upsert" -> ((s, d) => {
      val root = cachedFixture(s, d, "i27_mor") { p =>
        seedOrdersCsv(s, d, s"$p/orders_cdc", Some(1200))
        // the changelog: one parquet FILE per slice so maxFilesPerTrigger=1
        // yields one micro-batch per slice
        val ord = graft.Tables.t(s, d, "orders")
        val slices = Seq(
          ("chg-0-upd", ord.filter(col("o_orderkey") < 600)
            .select(lit("U").as("op"), col("o_orderkey").as("k"),
              col("o_orderstatus").as("st"),
              expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) " +
                "+ CAST(5.00 AS DECIMAL(3,2)) AS DOUBLE)").as("total"))),
          ("chg-1-del", ord.filter(col("o_orderkey") >= 600 &&
              col("o_orderkey") < 900)
            .select(lit("D").as("op"), col("o_orderkey").as("k"),
              col("o_orderstatus").as("st"), col("o_totalprice").as("total"))),
          ("chg-2-ins", ord.filter(col("o_orderkey") < 300)
            .select(lit("I").as("op"),
              (col("o_orderkey") + 400000L).as("k"),
              col("o_orderstatus").as("st"), col("o_totalprice").as("total"))))
        val chg = new java.io.File(p, "changelog"); chg.mkdirs()
        slices.foreach { case (name, df) =>
          val tmp = s"$p/.chg_build_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath,
            new java.io.File(chg, s"$name.parquet").toPath)
          graft.Tables.deleteRec(new java.io.File(tmp))
        }
      }
      val cat = catalog(s, "graft_cdc", classOf[graft.sources.MorDeltaCatalog], root)
      val dir = new java.io.File(root, "orders_cdc")
      // idempotence guard = the delta log (cached-fixture re-runs skip)
      if (graft.sources.MorDeltas.deltaFiles(dir).isEmpty) {
        val stamps = graft.sources.CowTable.manifest(dir)
          .map { case (f, _, _) => (f.getName, f.length, f.lastModified) }
        val tag = runSeq.incrementAndGet()
        val schema = s.read.parquet(s"$root/changelog").schema
        withConf(s)(stateConf) {
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(s"$root/changelog")
            .writeStream
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              val view = s"i27_chg_$tag"
              batch.createOrReplaceTempView(view)
              batch.sparkSession.sql(
                s"""MERGE INTO $cat.orders_cdc t USING $view s ON t.k = s.k
                  WHEN MATCHED AND s.op = 'D' THEN DELETE
                  WHEN MATCHED THEN UPDATE SET st = s.st, total = s.total
                  WHEN NOT MATCHED AND s.op <> 'D' THEN
                    INSERT (k, st, total) VALUES (s.k, s.st, s.total)""")
              ()
            }
            .option("checkpointLocation", scratch(s, s"i27_$tag", "ckpt"))
            .trigger(Trigger.AvailableNow()).start()
            .awaitTermination()
        }
        require(graft.sources.MorDeltas.deltaFiles(dir).size == 3,
          "i27: one delta file per micro-batch (3 key-disjoint slices)")
        require(graft.sources.CowTable.manifest(dir)
          .map { case (f, _, _) => (f.getName, f.length, f.lastModified) }
          == stamps,
          "i27: streaming CDC apply must leave every base file byte-identical")
      }
      s.table(s"$cat.orders_cdc")
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n_rows"),
          dbl(sum(dec(col("total"), 18, 2))).as("chk"))
        .orderBy("st")
    }),

    // i28: STREAMING CHANGE DATA FEED from the MoR table — the i25
    // counterpart on a31's storage, and the read-side payoff of the
    // delta-log design: where the CoW feed must DIFF manifests and
    // re-read changed files to reconstruct row-level changes, here the
    // change set of version v IS the committed delta file — the log
    // doubles as the feed, zero reconstruction (sources/MorChangeFeed;
    // Hudi incremental read / Paimon changelog shape). Offsets are
    // statement sequences; `D` ops carry the row identity only (the
    // log stores no delete pre-images — equality-delete semantics,
    // surfaced as NULL st/total and oracled as such), `U` ops the
    // post-image. A consumer whose checkpoint lags a compaction floor
    // fails LOUDLY at plan time (a33's refuse-don't-fake rule, pinned
    // at the source). The mutation history (DELETE → 3VL UPDATE over
    // orders) makes both change sets closed-form oracle-derivable. At
    // 100 TB the feed costs exactly the churn bytes the DML already
    // wrote — no table scan, no manifest diff, no file re-read.
    "i28_stream_mor_cdf" -> ((s, d) => {
      val root = cachedFixture(s, d, "i28_mcdf") { p =>
        seedOrdersCsv(s, d, s"$p/orders_mc", Some(1200))
      }
      val cat = catalog(s, "graft_mc", classOf[graft.sources.MorDeltaCatalog], root)
      val dir = new java.io.File(root, "orders_mc")
      if (graft.sources.MorDeltas.deltaFiles(dir).isEmpty) {
        s.sql(s"DELETE FROM $cat.orders_mc WHERE k % 10 = 7") // -> v1
        s.sql(s"""UPDATE $cat.orders_mc
          SET total = CAST(CAST(total AS DECIMAL(18,2))
                           + CAST(1.25 AS DECIMAL(3,2)) AS DOUBLE)
          WHERE nullif(k % 7, 0) >= 3""") // -> v2
      }
      val name = s"graft_stream_${runSeq.incrementAndGet()}"
      val q = s.readStream.format("graft.sources.MorChangeFeed")
        .option("table", dir.getAbsolutePath).load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", scratch(s, name, "ckpt"))
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .groupBy("version", "op")
        .agg(count(lit(1)).as("n_rows"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
        .orderBy("version", "op")
    }),

    // i20: CHAINED STATEFUL AGGREGATIONS — two windowed aggregations in
    // ONE streaming query (Spark ≥3.5's multiple-stateful-operators
    // support): a fine 10-minute tumbling count per event_type feeds an
    // hourly re-aggregation keyed on `window_time(window)` (the window's
    // event-time representative, end − 1 µs — which is why a slot lands
    // in the hour of its START). This is the streaming rollup-cascade
    // every metrics pipeline wants (raw → 10-min → hourly) WITHOUT an
    // intermediate sink + second query: one checkpoint, one lineage,
    // per-operator watermark propagation finalizing both levels in the
    // same commit. Append-only (required for chained stateful ops);
    // over AvailableNow the final watermark (max(ts) − 1 h, ms-floored)
    // finalizes every hourly window whose end ≤ watermark — and since a
    // slot's end never exceeds its hour's end, each emitted hour has
    // ALL its slots: a pure batch-expressible cut, fully oracled.
    // State story at scale: level-1 state is bounded by the watermark
    // horizon × slot count, level-2 by horizon × hours; both evict on
    // emission like i9 — bounded on an unbounded stream.
    "i20_stream_chained_agg" -> ((s, d) => {
      runToTable(s, chainedAgg(eventsStream(s, d)), "append")
        .select(epochUs(col("window.start")).as("h_start_us"),
          col("event_type"), col("total"), col("n_slots"), col("max_slot"))
        .orderBy("h_start_us", "event_type")
    }),

    // i21: MULTI-SOURCE UNION INGESTION — one streaming query over TWO
    // independent sources (the "several topics, one pipeline" shape every
    // real ingest has: interaction events and transaction events land in
    // different directories/topics but feed one metrics aggregation).
    // `unionByName` aligns the sources by COLUMN NAME at plan time —
    // positional union is the classic silent-corruption bug when two
    // upstream teams order columns differently — and the engine tracks
    // per-source offsets in ONE checkpoint, computing the query watermark
    // as the MIN across sources so a lagging topic holds back finalization
    // instead of dropping its late rows. Fixture: events split by type
    // into two real directories (fixture-cached); the union of the two
    // topics is the whole table, so the i1 tumbling oracle applies
    // verbatim. At 100 TB each source scales its own file listing/offsets
    // independently; the union itself is a zero-shuffle plan node.
    "i21_stream_union_sources" -> ((s, d) => {
      val path = cachedFixture(s, d, "i21_topics") { p =>
        val ev = graft.Tables.t(s, d, "events")
        ev.filter(col("event_type").isin("click", "view"))
          .write.mode("overwrite").parquet(s"$p/topic_interact")
        ev.filter(!col("event_type").isin("click", "view"))
          .write.mode("overwrite").parquet(s"$p/topic_txn")
      }
      val schema = s.read.parquet(s"$path/topic_interact").schema
      val a = s.readStream.schema(schema).parquet(s"$path/topic_interact")
      // deliberately re-projected in a DIFFERENT column order: unionByName
      // must reconcile it (a positional union would scramble the rows)
      val b = s.readStream.schema(schema).parquet(s"$path/topic_txn")
        .select(schema.fieldNames.reverse.map(col).toIndexedSeq: _*)
      runToTable(s, tumblingAgg(a.unionByName(b)), "complete")
        .select(epochUs(col("window.start")).as("w_start_us"),
          col("event_type"), col("cnt"))
        .orderBy("w_start_us", "event_type")
    }),

    // i23: DETERMINISTIC RATE SOURCE + EXACTLY-ONCE FILE-SINK RESUME —
    // `rate-micro-batch` is the engine's deterministic load generator
    // (batch b = values [b·R, (b+1)·R) at timestamp start + b·advance,
    // REGARDLESS of wall clock — unlike `rate`, which scales with real
    // time and can never be oracled), and the streaming-throughput
    // harness shape every pipeline gets benchmarked with. The key drives
    // it through THREE separate AvailableNow runs sharing ONE checkpoint
    // + file sink: each run picks up at the next batch id (offsets from
    // the checkpoint), writes its batch, and commits it to the sink's
    // metadata log — the exactly-once resume contract of the file sink,
    // proven by the values forming exactly [0, 3R) with one timestamp
    // per batch (a re-delivered or dropped batch breaks the closed
    // forms). The memory sink CANNOT recover a checkpoint (measured this
    // round — "This query does not support recovering from checkpoint
    // location"), which is why the lake-sink path carries this key.
    // The sink's _spark_metadata log records ABSOLUTE file paths, so the
    // fixture build (atomic rename — paths change) drops the log after
    // the final run and the read is a plain directory listing; the log
    // had already done its job: batch-level dedup across the 3 runs.
    "i23_stream_rate_source" -> ((s, d) => {
      val path = cachedFixture(s, d, "i23_rate") { p =>
        val out = s"$p/out"; val ckpt = s"$p/ckpt"
        for (_ <- 1 to 3) {
          val q = s.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 1000)
            .option("numPartitions", stateParts)
            .option("startTimestamp", 0L)
            .option("advanceMillisPerBatch", 60000)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        graft.Tables.deleteRec(new java.io.File(s"$out/_spark_metadata"))
        graft.Tables.deleteRec(new java.io.File(ckpt))
      }
      s.read.parquet(s"$path/out")
        .groupBy(unix_millis(col("timestamp")).as("batch_ms"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("value")).as("min_v"),
          max(col("value")).as("max_v"),
          sum(col("value")).as("sum_v"))
        .orderBy("batch_ms")
    })
  )

  /** i19's per-batch MERGE body: fold the batch's per-user argmax into
    * the highest store version below `batchId`, publish as version
    * `batchId` (overwrite — a replayed batch rewrites its own version,
    * never double-applies). */
  private[graft] def upsertBatch(s: SparkSession, store: String,
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit = {
    val upd = batch.groupBy("user_id")
      .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("x"))
      .select(col("user_id"), col("x.ts_us").as("ts_us"),
        col("x.event_id").as("last_event_id"), col("x.value").as("last_value"))
    val merged = latestVersion(store, below = Some(batchId)) match {
      case None => upd
      case Some(v) =>
        val cur = s.read.parquet(s"$store/v$v")
        cur.unionByName(upd)
          .groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("last_event_id").as("event_id"),
            col("last_value").as("value"))).as("x"))
          .select(col("user_id"), col("x.ts_us").as("ts_us"),
            col("x.event_id").as("last_event_id"),
            col("x.value").as("last_value"))
    }
    merged.write.mode("overwrite").parquet(s"$store/v$batchId")
  }

  /** i24's per-batch dual commit: the raw LOG slice and the merged
    * AGGREGATE are each written as an idempotent overwrite of version
    * `batchId` — log first, aggregate second; a crash between the two
    * leaves the pair one version apart for exactly as long as it takes
    * the replayed batch to overwrite both (pinned in StreamingSpec). */
  private[graft] def dualSinkBatch(s: SparkSession, log: String, agg: String,
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit = {
    batch.write.mode("overwrite").parquet(s"$log/v$batchId")
    val upd = batch.groupBy("event_type").agg(count(lit(1)).as("cnt"))
    val merged = latestVersion(agg, below = Some(batchId)) match {
      case None => upd
      case Some(v) =>
        s.read.parquet(s"$agg/v$v").unionByName(upd)
          .groupBy("event_type").agg(sum(col("cnt")).as("cnt"))
    }
    merged.write.mode("overwrite").parquet(s"$agg/v$batchId")
  }

  /** i26's per-batch IVM apply: fold the batch's change rows into
    * per-status (Δn, Δcents) and merge with the prior view version —
    * delta-sized work regardless of view size (j26's algebra), written
    * as an idempotent overwrite of version `batchId` (i19's idiom). The
    * view is bootstrapped by the key with the v0 snapshot at version
    * −1 — the standard "initial snapshot, then CDC" load. */
  private[graft] def cdfApplyBatch(s: SparkSession, store: String,
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit = {
    val cents = (dec(col("total"), 18, 2) * 100).cast(LongType)
    val delta = batch.groupBy(col("st"))
      .agg(sum(when(col("op") === "I", 1L).otherwise(-1L)).as("n_rows"),
        sum(when(col("op") === "I", cents).otherwise(-cents)).as("sum_cents"))
    val merged = latestVersion(store, below = Some(batchId)) match {
      case None => delta
      case Some(v) =>
        s.read.parquet(s"$store/v$v").unionByName(delta)
          .groupBy("st").agg(sum(col("n_rows")).as("n_rows"),
            sum(col("sum_cents")).as("sum_cents"))
    }
    merged.filter(col("n_rows") > 0L)
      .write.mode("overwrite").parquet(s"$store/v$batchId")
  }

  private def latestVersion(store: String, below: Option[Long] = None): Option[Long] = {
    val vs = Option(new java.io.File(store).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("v")).flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
      .filter(v => below.forall(v < _))
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** i17's processor: one named ValueState per user holding the running
    * (cnt, sum_uval, max_ts_us) triple — the minimal arbitrary-stateful
    * shape on the transformWithState runtime. No TTL on the oracled path
    * (the full corpus must aggregate); the TTL-expiry contract is pinned
    * separately in StreamingSpec with a short-TTL processor variant. */
  private[graft] class RunningStatsProcessor
      extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long, Long)] {
    @transient private var state: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long, Long)]("running",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var (cnt, sum, mx) =
        if (state.exists()) state.get() else (0L, 0L, Long.MinValue)
      rows.foreach { case (_, uval, tsUs) =>
        cnt += 1; sum += uval; if (tsUs > mx) mx = tsUs
      }
      state.update((cnt, sum, mx))
      Iterator((key, cnt, sum, mx))
    }
  }

  /** i29's processor: RunningStatsProcessor's fold with the BOOTSTRAP
    * handle — handleInitialState seeds each key's ValueState from the
    * lake-snapshot row before any stream batch runs; handleInputRows then
    * resumes the fold exactly as i17 does. TTL NONE on the oracled path
    * (see the i29 key comment). */
  private[graft] class InitRunningStatsProcessor
      extends StatefulProcessorWithInitialState[
        Long, (Long, Long, Long), (Long, Long, Long, Long), (Long, Long, Long)] {
    @transient private var state: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long, Long)]("running",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInitialState(key: Long, initial: (Long, Long, Long),
        timers: TimerValues): Unit = state.update(initial)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var (cnt, sum, mx) =
        if (state.exists()) state.get() else (0L, 0L, Long.MinValue)
      rows.foreach { case (_, uval, tsUs) =>
        cnt += 1; sum += uval; if (tsUs > mx) mx = tsUs
      }
      state.update((cnt, sum, mx))
      Iterator((key, cnt, sum, mx))
    }
  }

  /** i18's processor: hand-built sessionization on the timer API.
    *
    * Buffer = a ListState of the user's not-yet-final event times (µs).
    * On input: append, then arm ONE timer at the earliest possible
    * finality (ceil-ms of min buffered ts + gap — a LOWER bound on the
    * first session's end+gap, so the timer can fire early but never
    * late). On expiry: sessionize the sorted buffer (gap 30 min), emit
    * every session whose end+gap ≤ watermark (the exact i11 Append cut —
    * watermark is ms-floored by the engine, hence the ms·1000 compare),
    * retain the suffix (ends increase per user, so finality is a prefix
    * property), and re-arm for the first retained session's true
    * end+gap. An early fire emits nothing and simply re-arms tighter —
    * the loop converges because re-arms always target a real boundary. */
  private[graft] class SessionTimerProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long)] {
    private val GapUs = 1800000000L
    private val GapMs = 1800000L
    @transient private var buf: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Long]("buf", Encoders.scalaLong, TTLConfig.NONE)
    private def ceilMs(us: Long): Long = (us + 999L) / 1000L
    /** Keep exactly one live timer at `atMs`. `firedMs` is the timer the
      * engine just expired (it still shows in listTimers but is already
      * gone — deleting it again only logs a warning), so skip it. */
    private def rearm(atMs: Long, firedMs: Long = Long.MinValue): Unit = {
      val existing = getHandle.listTimers().map(_.asInstanceOf[Long])
        .filter(_ != firedMs).toSeq
      if (!existing.contains(atMs)) {
        existing.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(atMs)
      }
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      rows.foreach { case (_, tsUs) => buf.appendValue(tsUs) }
      val all = buf.get().toArray
      if (all.nonEmpty) rearm(ceilMs(all.min) + GapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      val wmUs = timers.getCurrentWatermarkInMs() * 1000L
      val ts = buf.get().toArray.sorted
      if (ts.isEmpty) return Iterator.empty
      // split into sessions at >30-min gaps
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = ts(0); var end = ts(0); var n = 1L
      var i = 1
      while (i < ts.length) {
        if (ts(i) - end > GapUs) {
          sessions += ((start, end, n)); start = ts(i); end = ts(i); n = 1L
        } else { end = ts(i); n += 1L }
        i += 1
      }
      sessions += ((start, end, n))
      val (fin, pend) = sessions.partition { case (_, e, _) => e + GapUs <= wmUs }
      if (pend.isEmpty) buf.clear()
      else {
        buf.put(ts.dropWhile(_ < pend.head._1))
        rearm(ceilMs(pend.head._2 + GapUs), info.getExpiryTimeInMs())
      }
      fin.iterator.map { case (st, e, cnt) => (key, cnt, st, e) }
    }
  }

  val oracle: Map[String, String] = Map(
    "i1_stream_tumbling" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us,
           event_type, count(*) AS cnt
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // every event belongs to exactly two sliding windows: the one starting
    // at its :00 hour boundary and the one starting at the :30 boundary
    "i2_stream_sliding" ->
      """SELECT w_start_us, count(*) AS cnt FROM (
           SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us FROM events
           UNION ALL
           SELECT epoch_us(date_trunc('hour', ts - INTERVAL 30 MINUTE)
                           + INTERVAL 30 MINUTE) FROM events)
         GROUP BY 1 ORDER BY 1""",

    // batch-equivalent sessionization (same idiom as e9's oracle),
    // aggregated to (user, session bounds, count)
    "i3_stream_session_window" ->
      """WITH flagged AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sessioned AS (
           SELECT user_id, ts_us,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM flagged
         )
         SELECT user_id, count(*) AS n_events,
                min(ts_us) AS sess_start_us, max(ts_us) AS sess_end_us
         FROM sessioned GROUP BY user_id, session_id
         ORDER BY user_id, sess_start_us""",

    // i11 = i3 restricted to the watermark-finalized sessions: a session
    // window ends at last-event ts + the 30-min gap, and Append emits the
    // sessions whose end is ≤ the final watermark — (floor(max_us/1000) −
    // 1800000) ms, i9's arithmetic with the 30-min delay. Same batch
    // sessionization as i3's oracle, plus that cut.
    "i11_stream_session_append" ->
      """WITH flagged AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sessioned AS (
           SELECT user_id, ts_us,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM flagged
         )
         SELECT user_id, count(*) AS n_events,
                min(ts_us) AS sess_start_us, max(ts_us) AS sess_end_us
         FROM sessioned GROUP BY user_id, session_id
         HAVING max(ts_us) + 1800000000
                <= (SELECT ((epoch_us(max(ts)) // 1000) - 1800000) * 1000 FROM events)
         ORDER BY user_id, sess_start_us""",

    // i18 re-implements i11's operator on the timer API — the emitted set
    // must be the identical watermark-final session set, so the oracle is
    // i11's verbatim
    "i18_stream_session_timers" ->
      """WITH flagged AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sessioned AS (
           SELECT user_id, ts_us,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM flagged
         )
         SELECT user_id, count(*) AS n_events,
                min(ts_us) AS sess_start_us, max(ts_us) AS sess_end_us
         FROM sessioned GROUP BY user_id, session_id
         HAVING max(ts_us) + 1800000000
                <= (SELECT ((epoch_us(max(ts)) // 1000) - 1800000) * 1000 FROM events)
         ORDER BY user_id, sess_start_us""",

    // last-wins is associative over any batch split — the final store
    // equals the batch argmax per user
    "i19_stream_foreachbatch_upsert" ->
      """SELECT user_id, event_id AS last_event_id,
           round(CAST(value AS DOUBLE), 4) AS last_value
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id""",

    // i9 = i1 restricted to the watermark-finalized windows. The engine
    // tracks event-time stats in MILLISECONDS (µs floor-divided by 1000),
    // so the final watermark is (floor(max_us/1000) − 3600000) ms; Append
    // emits the windows whose end (µs) is ≤ that watermark — the same cut,
    // exactly, in batch SQL.
    "i9_stream_tumbling_append" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us,
           event_type, count(*) AS cnt
         FROM events
         WHERE epoch_us(date_trunc('hour', ts)) + 3600000000
               <= (SELECT ((epoch_us(max(ts)) // 1000) - 3600000) * 1000 FROM events)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // identical horizon cut to i9: the sink roundtrip must not change a
    // single value (exact long/string serialization in CsvDirSink)
    "i10_stream_custom_sink" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us,
           event_type, count(*) AS cnt
         FROM events
         WHERE epoch_us(date_trunc('hour', ts)) + 3600000000
               <= (SELECT ((epoch_us(max(ts)) // 1000) - 3600000) * 1000 FROM events)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // identical horizon cut again: the partitioned parquet lake roundtrip
    // (event_type reconstructed from the hive path) must be value-exact
    "i14_stream_lake_sink" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us,
           event_type, count(*) AS cnt
         FROM events
         WHERE epoch_us(date_trunc('hour', ts)) + 3600000000
               <= (SELECT ((epoch_us(max(ts)) // 1000) - 3600000) * 1000 FROM events)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "i4_stream_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
         FROM events ORDER BY event_id""",

    // event_ids are unique in the corpus, so the single-batch result is
    // the full table (like i4); the within-watermark re-admission
    // semantics are pinned by StreamingSpec's cross-batch dup fixture
    "i16_stream_dedup_within_wm" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
         FROM events ORDER BY event_id""",

    "i5_stream_stateful_running" ->
      """SELECT user_id, count(*) AS cnt, max(value) AS max_value
         FROM events GROUP BY 1 ORDER BY 1""",

    // i17's final state = the plain per-user batch aggregate (AvailableNow
    // replays the whole corpus through the processor); value quantized to
    // integer micro-units per row BEFORE summing on both engines
    "i17_stream_transform_state" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_uval,
           max(epoch_us(ts)) AS max_ts_us
         FROM events GROUP BY 1 ORDER BY 1""",

    // ALL events fold into the per-user triple (even ids via the seeded
    // initial state, odd via the stream); Update mode only emits users
    // with stream activity, hence the odd-id restriction
    "i29_stream_initial_state" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_uval,
           max(epoch_us(ts)) AS max_ts_us
         FROM events
         WHERE user_id IN (SELECT user_id FROM events WHERE event_id % 2 = 1)
         GROUP BY 1 ORDER BY 1""",

    "i6_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS cnt
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1 ORDER BY 1""",

    // i12 = i9's watermark-horizon histogram cut + l25's drift arithmetic
    // in batch SQL: same op order (pd, pc, then floor(pd·ln(pd/pc)·1e6 +
    // 5e-1) per type), baseline Laplace-smoothed over the static type
    // vocabulary, per-window KL as the exact integer micro-nat sum
    "i12_stream_drift" ->
      """WITH hist AS (
           SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us, event_type,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events
           WHERE epoch_us(date_trunc('hour', ts)) + 3600000000
                 <= (SELECT ((epoch_us(max(ts)) // 1000) - 3600000) * 1000 FROM events)
           GROUP BY 1, 2),
         base AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS b_cnt,
                  CAST(sum(count(*)) OVER () AS BIGINT) AS b_tot,
                  CAST(count(*) OVER () AS BIGINT) AS v
           FROM events GROUP BY 1),
         tot AS (
           SELECT w_start_us, event_type, cnt,
                  CAST(sum(cnt) OVER (PARTITION BY w_start_us) AS BIGINT) AS w_tot,
                  b_cnt, b_tot, v
           FROM hist JOIN base USING (event_type)),
         contrib AS (
           SELECT w_start_us, event_type, cnt,
                  CAST(floor((CAST(cnt AS DOUBLE) / w_tot)
                    * ln((CAST(cnt AS DOUBLE) / w_tot)
                         / (CAST(b_cnt + 1 AS DOUBLE) / (b_tot + v))) * 1e6 + 5e-1)
                    AS BIGINT) AS q_contrib
           FROM tot)
         SELECT w_start_us, event_type, cnt, q_contrib,
                CAST(sum(q_contrib) OVER (PARTITION BY w_start_us) AS BIGINT)
                  AS w_kl_unats
         FROM contrib ORDER BY w_start_us, event_type""",

    // stateless append emits every row over AvailableNow, so the oracle
    // is plain batch SQL: token stats from the unnest path (identical
    // values to the stream's array-side computation), l5/l24's quality
    // formula and raw-value 0.26 keep line verbatim
    "i13_stream_ingest_gate" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
           FROM documents),
         ftoks AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         stats AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  CAST(sum(CASE WHEN term IN ('the','a','of','and') THEN 1 ELSE 0 END)
                    AS BIGINT) AS stop_cnt,
                  CAST(sum(length(term)) AS BIGINT) AS len_sum
           FROM ftoks GROUP BY 1),
         scored AS (
           SELECT doc_id, n_tokens,
                  4e-1 * (CAST(stop_cnt AS DOUBLE) / n_tokens)
                    + 3e-1 * least(1e0, n_tokens / 1e2)
                    + 3e-1 * least(1e0, CAST(len_sum AS DOUBLE) / n_tokens / 8e0)
                    AS raw_q
           FROM stats WHERE n_tokens >= 1)
         SELECT doc_id, n_tokens,
                floor(raw_q * 1e4 + 5e-1) / 1e4 AS quality,
                raw_q >= 26e-2 AS keep
         FROM scored ORDER BY doc_id""",

    // i7 = the three-batch watermark construction in closed form (the
    // key's Scaladoc): the straggler slice b2 (event_id%20 = 0, minus
    // the pinned max-ts row) contributes ZERO emitted rows — its rows
    // are either dropped by the late filter (window end ≤ wm) or
    // accepted into never-emitted windows (end > wm), because the build
    // pins the max-ts row into b0 so both watermarks coincide at
    // max(all ts) ms-floored − 1 h. Result = the b0∪b1 histogram under
    // i9's horizon cut.
    "i7_stream_late_data" ->
      """WITH wm AS (SELECT ((epoch_us(max(ts)) // 1000) - 3600000) * 1000 AS v
                     FROM events),
         kept AS (
           SELECT ts FROM events
           WHERE event_id % 20 <> 0
              OR epoch_us(ts) = (SELECT max(epoch_us(ts)) FROM events))
         SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us,
                count(*) AS cnt
         FROM kept
         GROUP BY 1
         HAVING w_start_us + 3600000000 <= (SELECT v FROM wm)
         ORDER BY 1""",

    // µs-space comparisons on both engines: DuckDB's epoch_us truncates
    // the ns-resolution parquet timestamps exactly like the Spark loader
    "i8_stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
                epoch_us(c.ts) AS click_ts_us, epoch_us(p.ts) AS purchase_ts_us
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND epoch_us(p.ts) >= epoch_us(c.ts)
          AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         ORDER BY click_id, purchase_id""",

    // i8's join + the outer leg: an unmatched click survives the final
    // eviction cut only when click_ts + 30 min sits STRICTLY below the
    // i9-rule watermark (max(ts) − 1 h, ms-truncated) — the boundary
    // pinned by StreamingSpec's planted boundary-click case. The sort
    // key coalesces null purchase_id to −1 (Spark NULLS FIRST vs DuckDB
    // NULLS LAST would otherwise order the same rows differently).
    "i15_stream_stream_left_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
                           epoch_us(ts) AS click_ts_us
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id,
                      epoch_us(ts) AS purchase_ts_us
               FROM events WHERE event_type = 'purchase'),
         j AS (SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts_us,
                      p.purchase_ts_us
               FROM c LEFT JOIN p
                 ON c.user_id = p.user_id
                AND p.purchase_ts_us >= c.click_ts_us
                AND p.purchase_ts_us - c.click_ts_us <= 1800000000)
         SELECT click_id, purchase_id, user_id, click_ts_us, purchase_ts_us
         FROM j
         WHERE purchase_id IS NOT NULL
            OR click_ts_us + 1800000000 <
               (SELECT ((epoch_us(max(ts)) // 1000) - 3600000) * 1000 FROM events)
         ORDER BY click_id, coalesce(purchase_id, -1)""",

    // i20 = the two-level rollup under i9's watermark cut: an hourly
    // window is emitted iff its end ≤ the final watermark, and every
    // 10-min slot of an emitted hour is necessarily finalized too (slot
    // end ≤ hour end) — so batch two-level GROUP BY + the horizon filter
    // reproduces the chained-operator emission exactly
    "i20_stream_chained_agg" ->
      """WITH slots AS (
           SELECT time_bucket(INTERVAL '10 minutes', ts) AS slot,
                  event_type, count(*) AS cnt
           FROM events GROUP BY 1, 2)
         SELECT epoch_us(date_trunc('hour', slot)) AS h_start_us, event_type,
           CAST(sum(cnt) AS BIGINT) AS total,
           count(*) AS n_slots,
           max(cnt) AS max_slot
         FROM slots
         WHERE epoch_us(date_trunc('hour', slot)) + 3600000000
               <= (SELECT ((epoch_us(max(ts)) // 1000) - 3600000) * 1000 FROM events)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // blocked set reproduced with the same md5 membership; NOT IN over
    // the never-NULL key is the anti join
    "i22_stream_static_anti" ->
      """SELECT event_type, count(*) AS cnt
         FROM events
         WHERE user_id NOT IN (
           SELECT c_custkey FROM customer
           WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '4')
         GROUP BY 1 ORDER BY 1""",

    // the two topics partition the table by type, so their union is the
    // whole table and the i1 tumbling oracle applies verbatim
    "i21_stream_union_sources" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us,
           event_type, count(*) AS cnt
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // the maintained view must equal a direct aggregate of the table's
    // FINAL state: v1 survivors (k >= 400) plus the v2 insert batch
    "i26_stream_cdf_materialize" ->
      """WITH fin AS (
           SELECT o_orderstatus AS st, CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey >= 400 AND o_orderkey < 1200
           UNION ALL
           SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2))
           FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 1200)
         SELECT st, count(*) AS n_rows, CAST(sum(p) AS DOUBLE) AS sum_total
         FROM fin GROUP BY st ORDER BY st""",

    // the streamed feed must be exactly a27's mutation history:
    // version 1 = the keyed DELETE, version 2 = the INSERT batch
    "i25_stream_catalog_cdf" ->
      """WITH del AS (
           SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 400),
         ins AS (
           SELECT o_orderkey + 100000 AS k,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 1200)
         SELECT CAST(1 AS BIGINT) AS version, 'D' AS op, count(*) AS n_rows,
                min(k) AS min_k, max(k) AS max_k,
                CAST(sum(p) AS DOUBLE) AS sum_total FROM del
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'I', count(*), min(k), max(k),
                CAST(sum(p) AS DOUBLE) FROM ins
         ORDER BY version, op""",

    // v1 = the delete's identities (no pre-images: NULL sum), v2 = the
    // update's post-images over the survivors
    "i28_stream_mor_cdf" ->
      """WITH seed AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 1200),
         del AS (SELECT k FROM seed WHERE k % 10 = 7),
         upd AS (
           SELECT k, p + CAST(1.25 AS DECIMAL(3,2)) AS p
           FROM seed WHERE k % 10 <> 7 AND nullif(k % 7, 0) >= 3)
         SELECT CAST(1 AS BIGINT) AS version, 'D' AS op,
                count(*) AS n_rows, min(k) AS min_k, max(k) AS max_k,
                CAST(NULL AS DOUBLE) AS sum_total
         FROM del
         UNION ALL
         SELECT 2, 'U', count(*), min(k), max(k), CAST(sum(p) AS DOUBLE)
         FROM upd
         ORDER BY version, op""",

    // the changelog's three key-disjoint slices folded in any order:
    // [0,600) re-priced absolutely, [600,900) deleted, +400000 inserted
    "i27_stream_mor_upsert" ->
      """WITH seed AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 1200),
         fin AS (
           SELECT k, st,
                  CASE WHEN k < 600 THEN p + CAST(5.00 AS DECIMAL(3,2))
                       ELSE p END AS p
           FROM seed WHERE k < 600 OR k >= 900
           UNION ALL
           SELECT o_orderkey + 400000, o_orderstatus,
                  CAST(o_totalprice AS DECIMAL(18,2))
           FROM orders WHERE o_orderkey < 300)
         SELECT st, count(*) AS n_rows, CAST(sum(p) AS DOUBLE) AS chk
         FROM fin GROUP BY st ORDER BY st""",

    // both stores must agree with the SOURCE, so the dual-sink pair's
    // consistency flag is oracle-derivable
    "i24_stream_dual_sink" ->
      """SELECT event_type, count(*) AS n_log, count(*) AS cnt,
           true AS consistent
         FROM events GROUP BY 1 ORDER BY 1""",

    // the source's closed form: 3 resumed AvailableNow runs × 1000 rows,
    // batch b = values [1000b, 1000b+999] at timestamp 60000·b ms — any
    // re-delivered or dropped batch breaks count/min/max/sum at once
    "i23_stream_rate_source" ->
      """SELECT (v // 1000) * 60000 AS batch_ms, count(*) AS n_rows,
           min(v) AS min_v, max(v) AS max_v, CAST(sum(v) AS BIGINT) AS sum_v
         FROM (SELECT unnest(range(0, 3000)) AS v)
         GROUP BY 1 ORDER BY 1"""
  )
}
