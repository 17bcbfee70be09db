package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Table loaders + shared determinism helpers (SURVEY.md §1, §7.2).
  *
  * Conventions enforced across every oracled query:
  *  - money doubles are cast to DECIMAL before any aggregation (exact,
  *    order-independent arithmetic; the data is 2dp-exact, verified);
  *  - aggregate money outputs are pinned DECIMAL(38,s) on BOTH engines;
  *  - ratio/avg/stat outputs are `round(cast(x as double), 4)`;
  *  - timestamp-valued outputs are emitted as epoch microseconds BIGINT
  *    (sidesteps parquet/arrow timestamp-tz schema drift entirely);
  *  - every query ends in a total ORDER BY reaching a unique key. The
  *    generated lineitem repeats (l_orderkey, l_linenumber), so a
  *    row-level lineitem output also orders by every column its values
  *    depend on: its order must not follow the scan's split layout.
  */
object Tables {
  type Q = (SparkSession, String) => DataFrame

  /** The sf dir's tables, in the order the data profile prints them. */
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(readPath(spark, dir, name))

  /** The path table `name` of `dir` is read from. Spark plans a parquet
    * file no larger than `spark.sql.files.maxPartitionBytes` as one split
    * when it is small, and a one-row-group file cannot split at all, so
    * such a table would scan in one task however many cores the session
    * has. It is read instead from a copy that holds the same rows in
    * `defaultParallelism` files, built once per data signature by
    * [[cachedFixture]] and reused by every later read. A directory table
    * (every real lake) or a larger file already splits by its own layout
    * and is read from its source, unchanged.
    *
    * Deciding costs a `stat`; building reads the row count from the
    * footer and writes the copy in one job. The source read is one task,
    * so `maxRecordsPerFile = ceil(rows / cores)` cuts it into contiguous
    * runs of the source rows, in order. The copy keeps the source's rows
    * per row group: a vectorized batch never spans a row group, so a
    * copy written as one group per file would read a many-group source
    * in batches several times larger, and a wide text column's batch
    * buffer would then outgrow half a G1 region and be allocated as a
    * humongous object in every scan task. The one-task write stays: an
    * order-keeping parallel write (`_metadata.row_index` range-partitioned
    * over the cores, sorted within each) measured slower on 4 cores, cold
    * and warm, for every table tried. */
  private[graft] def readPath(spark: SparkSession, dir: String, name: String): String = {
    val src = new java.io.File(s"$dir/$name.parquet")
    val cores = spark.sparkContext.defaultParallelism
    if (cores < 2 || !src.isFile ||
        src.length > spark.sessionState.conf.filesMaxPartitionBytes) src.getPath
    else cachedFixture(spark, dir, s"split${cores}_$name") { tmp =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(src.toURI), new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val (rows, groupRows) = try
        (reader.getRecordCount, reader.getRowGroups.asScala.map(_.getRowCount).maxOption)
      finally reader.close()
      spark.read.parquet(src.getPath).write.mode("overwrite")
        .option("maxRecordsPerFile", math.max(1L, (rows + cores - 1) / cores))
        .option("parquet.block.row.count.limit", math.max(1L, groupRows.getOrElse(1L)))
        .parquet(tmp)
    }
  }

  /** Builds every [[readPath]] copy of `dir` now, so a benchmark can time
    * the one-time re-layout as its own entry instead of inside a key. */
  def relayInputs(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(readPath(spark, dir, _))

  /** SCHEMA-ADAPTIVE events loader: branch on what the parquet footer
    * declares instead of assuming one encoding. A real lake's files drift
    * physical encodings (ns→µs, int32→int64) without notice; one testdata
    * regeneration did exactly that (TIMESTAMP(NANOS) → TIMESTAMP(MICROS))
    * and a hard-coded ns-as-long assumption broke 36 keys at once. The
    * re-laid copy of [[readPath]] keeps the column type it read, so the
    * branch below sees the same type on either path.
    *
    *  - ts arrives as `TimestampType` (µs/ms encodings, or ns when Spark
    *    truncates natively): pass through unchanged.
    *  - ts arrives as `LongType` (a TIMESTAMP(NANOS) file read under the
    *    legacy `spark.sql.legacy.parquet.nanosAsLong=true` session conf,
    *    which `graft.Session` pins — the Spark 4 vectorized reader
    *    otherwise rejects NANOS outright): floor-truncate ns→µs,
    *    bit-identical to DuckDB's own read-time truncation.
    *
    * Anything else fails loud with the observed type — never silently
    * misinterpret a timestamp encoding (the µs-read-as-ns failure mode
    * collapses every timestamp ~1000× toward the epoch with no error). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read.parquet(readPath(spark, dir, "events"))
    df.schema("ts").dataType match {
      case _: TimestampType => df
      // un-annotated timestamp[us]: Spark 4 infers TIMESTAMP_NTZ. Cast to
      // TimestampType — with the UTC session tz every entry point pins,
      // the cast maps each naive instant to the identical epoch-µs value,
      // the same read-time interpretation DuckDB applies to the file.
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => sys.error(
        s"events.ts: unsupported physical encoding $other — expected " +
          "TimestampType/TimestampNTZType (µs) or LongType (legacy ns-as-long)")
    }
  }

  /** One-line-per-table data profile, printed at Verify/Bench startup so
    * the NEXT silent testdata regeneration is visible in the driver log
    * instead of surfacing as dozens of opaque per-query errors. Reads only
    * the sources' parquet footers (no data IO). Branch-don't-assert: the
    * events ts encoding is named explicitly since it is the column that
    * drifted. */
  def profileData(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { name =>
      val p = s"$dir/$name.parquet"
      val line =
        try {
          val sch = spark.read.parquet(p).schema
          val cols = sch.map(f => s"${f.name}:${f.dataType.simpleString}")
          s"[profile] $name(${cols.mkString(", ")})"
        } catch { case e: Exception =>
          s"[profile] $name: UNREADABLE (${e.getMessage})"
        }
      println(line)
    }

  /** Per-run scratch dir for sink round-trips and streaming inputs: keyed
    * on the applicationId (unique per session) + the data-dir hash, so
    * concurrent runs never clobber each other. Lives on tmpfs (the VM's
    * /tmp sits on a throttled virtio disk whose stalls would dominate
    * sink timings) — and tmpfs is RAM, so the whole app-keyed tree is
    * deleted by a JVM shutdown hook instead of accumulating until reboot. */
  def scratch(spark: SparkSession, dir: String, tag: String): String = {
    val base = s"/dev/shm/graft_tmp/${spark.sparkContext.applicationId}"
    if (cleanupHooked.add(base)) {
      val root = new java.io.File(base)
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(root)))
    }
    s"$base/${tag}_${Integer.toHexString(dir.hashCode)}"
  }

  /** Content-strengthened file signature, shared by every fixture/run
    * cache that must invalidate on an in-place source regeneration:
    * length + mtime + an md5 over the file's first and last 4 KiB. A
    * parquet footer carries row-group offsets and per-column min/max
    * stats, so any content change perturbs the tail bytes — a collision
    * requires identical size, timestamp AND boundary content, which
    * closes the same-length same-millisecond regeneration hazard that a
    * length+mtime key carries. A change confined strictly to the interior
    * window with byte-identical boundaries is the residual blind spot; no
    * parquet writer produces one, because the footer encodes the
    * interior's statistics and offsets.
    *
    * `-Dgraft.contentSig.full=true` closes that blind spot on demand: it
    * digests every byte of every signed file instead of the 8 KiB window
    * (for sources whose writers might rewrite interiors with identical
    * boundaries). Its signatures differ from the default mode's, so a mode
    * flip invalidates every derived cache once.
    *
    * A DIRECTORY (Spark writes parquet tables as directories) signs as
    * the md5 over its sorted children's names + recursive contentSigs, so
    * a change to any part file, or an added/removed/renamed child,
    * perturbs the signature. Each (name, sig) pair is fed to the digest
    * as NUL-terminated fields (NUL cannot occur in a file name), never as
    * a delimiter-joined string, so two distinct listings cannot collide
    * by a delimiter character inside a name. A missing path fails loud
    * and names the signing context, rather than surfacing as a bare
    * stream-open error from this helper's RandomAccessFile. */
  private def fullSigMode: Boolean =
    sys.props.get("graft.contentSig.full").exists(v =>
      v.equalsIgnoreCase("true") || v == "1")
  private[graft] def contentSig(f: java.io.File): String = {
    if (!f.exists()) sys.error(
      s"cache-signature source missing: $f — a fixture/run cache tried to " +
        "sign this path before reading it; if the source was regenerated " +
        "in place, the regeneration is incomplete or removed the file")
    if (f.isDirectory) {
      val kids = Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      val md = java.security.MessageDigest.getInstance("MD5")
      kids.foreach { k =>
        md.update(k.getName.getBytes("UTF-8")); md.update(0.toByte)
        md.update(contentSig(k).getBytes("UTF-8")); md.update(0.toByte)
      }
      val hex = md.digest().take(8).map(b => f"$b%02x").mkString
      return s"dir:${kids.length}:$hex"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      if (fullSigMode) {
        val buf = new Array[Byte](1 << 20)
        var read = raf.read(buf)
        while (read > 0) { md.update(buf, 0, read); read = raf.read(buf) }
      } else {
        val n = raf.length()
        val head = new Array[Byte](math.min(4096L, n).toInt)
        raf.readFully(head)
        md.update(head)
        if (n > 4096L) {
          val tail = new Array[Byte](math.min(4096L, n - 4096L).toInt)
          raf.seek(n - tail.length)
          raf.readFully(tail)
          md.update(tail)
        }
      }
    } finally raf.close()
    val hex = md.digest().take(8).map(b => f"$b%02x").mkString
    val mode = if (fullSigMode) "F" else ""
    s"$mode${f.length}:${f.lastModified}:$hex"
  }

  /** Directory-level [[contentSig]]: one (name, sig) entry per child —
    * regular files AND directory-shaped tables — sorted by name and
    * NUL-framed into one fixed-width md5 digest, so an in-place
    * regeneration of ANY source table invalidates what [[cachedFixture]]
    * and [[sharedFrame]] derived from the dir, and no name can forge a
    * concatenation. About 8 KiB of boundary IO per file per call. */
  private[graft] def dirSig(d: String): String = {
    val kids = Option(new java.io.File(d).listFiles())
      .getOrElse(Array.empty).sortBy(_.getName)
    val md = java.security.MessageDigest.getInstance("MD5")
    kids.foreach { f =>
      md.update(f.getName.getBytes("UTF-8")); md.update(0.toByte)
      md.update(contentSig(f).getBytes("UTF-8")); md.update(0.toByte)
    }
    s"dir:${kids.length}:${md.digest().map(b => f"$b%02x").mkString}"
  }

  /** In-session memo for DataFrames SHARED ACROSS query keys: a real
    * pipeline materializes its verified-pair graph or feature frame ONCE
    * and feeds every downstream consumer, so all consumers get the same
    * lazily localCheckpointed frame instead of replanning the producing
    * subtree per key. Keyed by (session, data dir, tag): a different
    * corpus or a fresh session never sees a stale frame, and checkpointed
    * RDDs die with their session. Within a min-of-N bench the first run
    * of the first consuming key pays the materialization and later runs
    * time a warm read (disclosed in BASELINE.md).
    *
    * The entry binds [[dirSig]] in its value, not its key, so an in-place
    * regeneration of the source dir mid-session rebuilds the frame instead
    * of serving the stale checkpoint, and the map holds one entry per
    * frame. The entry also keeps the checkpointed RDD (the `LogicalRDD`
    * the lazy localCheckpoint wraps) and unpersists it eagerly when
    * superseded, so a regeneration never holds two checkpointed copies in
    * storage memory longer than the swap. */
  private case class SharedEntry(sig: String, df: DataFrame,
      rdd: Option[org.apache.spark.rdd.RDD[_]])
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), SharedEntry]()
  // One monitor per frame key, and the build runs outside any
  // ConcurrentHashMap.compute: a build may itself call sharedFrame (the
  // fused-ranking build memoizes bm25ScoreU), and a nested compute on the
  // same map throws IllegalStateException("Recursive update") or corrupts
  // the bin when both keys land in one bin. Nested calls take a DIFFERENT
  // key's monitor, and frames depend on each other acyclically, so the
  // lock order is consistent and deadlock-free.
  private val frameMonitors =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Object]()
  def sharedFrame(spark: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame = {
    val sig = dirSig(dir)
    val key = (spark, s"$dir#$tag")
    val monitor = frameMonitors.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      val old = frameCache.get(key)
      if (old != null && old.sig == sig) old.df
      else {
        // build the REPLACEMENT first, then drop the superseded
        // checkpoint's blocks: unpersisting first would leave a throwing
        // build (e.g. a half-regenerated dir) with the old mapping and its
        // blocks gone, and a later call whose dirSig reverts would serve a
        // dead checkpoint — a locally-checkpointed RDD cannot recompute
        // after unpersist. On throw the OLD mapping stays (no put has
        // happened), and the new lazy checkpoint has materialized nothing.
        val ckpt = build.localCheckpoint(eager = false)
        val rdd = ckpt.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }
        // async — the old blocks are dead; nothing re-reads a
        // dereferenced entry (the documented sharedFrame caller contract)
        if (old != null) old.rdd.foreach(_.unpersist(blocking = false))
        frameCache.put(key, SharedEntry(sig, ckpt, rdd))
        ckpt
      }
    }
  }

  /** Cross-run fixture cache. Side-effect fixtures (sink roundtrips,
    * bucketed tables, the re-laid inputs of [[readPath]]) are
    * DETERMINISTIC functions of (source data, tag, FixtureVersion), so
    * they are built once per machine, not once per JVM: back-to-back
    * Verify/Bench runs skip the rebuild.
    *
    * The cache key binds the SOURCE DATA, not just its path: the dir name
    * carries a signature over the sf dir's [[dirSig]], so regenerating a
    * dataset in place (even same-length, same-millisecond) invalidates
    * every fixture derived from the old files instead of serving them
    * stale. Stale trees (older FixtureVersion, or same sf path with an
    * outdated signature) are evicted on sight — tmpfs is RAM; they must
    * not outlive a bump.
    *
    * `build` runs only when the `_fixture_ready` marker is absent
    * (underscore-prefixed, so Spark's file listing hides it from reads).
    * Publication is MULTI-PROCESS-SAFE: the build runs in a uniquely-named
    * temp sibling (marker written inside, last) and is ATOMICALLY renamed
    * into place — a concurrent JVM (sbt test vs a Verify/Bench run on the
    * same sf dir) sees either the complete published tree or none of it.
    * EVERY mutation of the final path (crash-remnant cleanup AND the
    * publish rename) runs under one advisory file lock (+ a JVM-internal
    * monitor, since OS file locks are per-process): with publishes
    * serialized, a markerless tree seen under the lock is PROVABLY a
    * crash remnant, so a freshly published tree can never become the
    * delete target. Lock losers re-check the marker and accept the
    * winner's tree. Bump FixtureVersion whenever a cached fixture's
    * layout or contents change.
    */
  // v2: fragmented_lake shard count scales with rows; v3: fixtures written
  // from a re-laid input have one file per input split; v4: a re-laid
  // copy keeps its source's rows per row group
  val FixtureVersion = 4
  def cachedFixture(spark: SparkSession, d: String, tag: String)
      (build: String => Unit): String = {
    val sig = java.util.UUID.nameUUIDFromBytes(
      (d + dirSig(d)).getBytes("UTF-8")).toString.take(8)
    val pathHash = Integer.toHexString(d.hashCode)
    val cur = s"fixcache_v${FixtureVersion}_${pathHash}_$sig"
    val root = new java.io.File("/dev/shm/graft_tmp")
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        n.startsWith("fixcache_") && n != cur &&
          (n.contains(s"_${pathHash}_") || // same sf path, outdated signature
            !n.startsWith(s"fixcache_v${FixtureVersion}_")) // older version
      }
      .foreach(deleteRec)
    val dir = new java.io.File(s"${root.getPath}/$cur/$tag")
    val marker = new java.io.File(dir, "_fixture_ready")
    // sweep crashed-build leaks: a build that died after tmp.mkdirs()
    // leaves a '<tag>.build-*' tree that no signature bump would ever
    // evict (it sits INSIDE the current-signature root). Age-gated so a
    // concurrent in-flight build (seconds old) is never swept.
    Option(dir.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(s"$tag.build-") &&
        System.currentTimeMillis - f.lastModified > 30 * 60 * 1000L)
      .foreach(deleteRec)
    if (!marker.exists()) {
      val tmp = new java.io.File(
        s"$dir.build-${java.util.UUID.randomUUID.toString.take(8)}")
      tmp.mkdirs()
      build(tmp.getPath) // outside the lock: only the publish serializes
      if (!new java.io.File(tmp, marker.getName).createNewFile())
        sys.error(s"fixture marker create failed in $tmp")
      dir.getParentFile.mkdirs()
      // one monitor per final path (file locks are per-PROCESS: a second
      // thread of this JVM must queue here, not hit Overlapping…Exception)
      val monitor = fixtureMonitors.computeIfAbsent(dir.getPath, _ => new Object)
      monitor.synchronized {
        val ch = java.nio.channels.FileChannel.open(
          new java.io.File(s"$dir.lock").toPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val fl = ch.lock() // blocks until any concurrent publisher exits
          try {
            if (!marker.exists()) {
              // under the publish lock a markerless occupant is PROVABLY a
              // crash remnant — no publish can be in flight — so this
              // delete can never target a freshly published valid tree
              if (dir.exists()) deleteRec(dir)
              java.nio.file.Files.move(tmp.toPath, dir.toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            } else deleteRec(tmp) // a locked-out builder won — use theirs
          } finally fl.release()
        } finally ch.close()
      }
    }
    dir.getPath
  }

  private val fixtureMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val cleanupHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }

  /** Seed table for the catalog fixtures: the orders rows (only keys
    * below `below`, if given) as `k,st,total` lines in key order, cut
    * into `parts` CSV files named `part-<i>-<first k>-<last k>.csv` —
    * the k-range stats the catalog connectors prune on. Fixture builds
    * only: it collects every row into this JVM. */
  def seedOrdersCsv(s: SparkSession, d: String, dir: String,
      below: Option[Long], parts: Int = 4): Unit = {
    val out = new java.io.File(dir); out.mkdirs()
    val orders = t(s, d, "orders")
    val rows = below.fold(orders)(k => orders.filter(col("o_orderkey") < k))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey").collect()
    val per = math.max(1, math.ceil(rows.length / parts.toDouble).toInt)
    rows.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val lines = chunk.map(r =>
        s"${r.getLong(0)},${r.getString(1)},${r.getDouble(2)}")
      java.nio.file.Files.write(
        new java.io.File(out,
          s"part-$i-${chunk.head.getLong(0)}-${chunk.last.getLong(0)}.csv").toPath,
        java.util.Arrays.asList(lines: _*))
    }
  }

  /** Run `body` with the SQL conf `kvs` set on `s`, then put every key
    * back exactly as it was found: a key that had an explicitly set value
    * gets that value again, a key that had none is unset (so it reads
    * Spark's default again, not a guessed one). A plain try/finally: it
    * does not force the body's plan, so a body whose result must run
    * under these settings materialises it inside the scope.
    *
    * SEQUENTIAL-EXECUTION ASSUMPTION: the conf is session-global, so the
    * scope is only safe because the Verify/Bench/test harnesses run one
    * query at a time on the shared session. Two queries interleaving on
    * one session could capture each other's values and strand the
    * session there. If concurrent execution is ever introduced, scope
    * the override per query instead (a cloned `spark.newSession` sharing
    * the state, or a query-level option). */
  def withConf[T](s: SparkSession)(kvs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Register the V2 catalog `cls` as `<prefix>_<hash of root>` with its
    * `.root` option, and return the name. Idempotent: an entry already
    * present is kept (Spark caches a catalog by name once loaded, so a
    * re-set would not take effect anyway) and must agree with this call.
    * Registrations live for the session, because `s.table(cat…)` plans
    * lazily. */
  def catalog(s: SparkSession, prefix: String, cls: Class[_], root: String): String = {
    val name = catalog(s, s"${prefix}_${Integer.toHexString(root.hashCode)}", cls)
    setOnce(s, s"spark.sql.catalog.$name.root", root)
    name
  }

  /** Register `cls` under the fixed catalog `name` (no options). */
  def catalog(s: SparkSession, name: String, cls: Class[_]): String = {
    setOnce(s, s"spark.sql.catalog.$name", cls.getName)
    name
  }

  private def setOnce(s: SparkSession, k: String, v: String): Unit =
    s.conf.getOption(k) match {
      case None => s.conf.set(k, v)
      case Some(old) => require(old == v, s"$k is already $old, not $v")
    }

  /** Cast to decimal for exact money math (internal only — see dbl). */
  def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))

  /** Final-output cast for money expressions: compute exactly in DECIMAL,
    * emit as DOUBLE. DECIMAL output columns are banned from oracled results:
    * the driver's hash stringifies values, and a fixed-scale Decimal
    * ('152936.00') vs a float ('152936.0') hash-differ despite being equal.
    * decimal→double is a single correctly-rounded IEEE conversion, identical
    * on Spark and DuckDB, so determinism is preserved. */
  def dbl(c: Column): Column = c.cast(DoubleType)

  /** round(cast(x as double), 4) — the §7.2.3 avg/stat output form. */
  def rnd4(c: Column): Column = round(c.cast(DoubleType), 4)

  /** Timestamp column -> epoch microseconds (BIGINT on both engines). */
  def epochUs(c: Column): Column = unix_micros(c)

  val bigint: DataType = LongType
}
